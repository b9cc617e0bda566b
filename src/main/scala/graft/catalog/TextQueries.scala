package graft
package catalog

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.TextFunctions
import graft.operators.{Decontaminate, Dedup, HeavyHitters, Similarity}
import Shared._

/** The text family: statistics, tokenizers, quality scoring, search,
  * PII redaction, n-grams, language models and fingerprints. */
object TextQueries extends Family {

  query("corpus_report") { (s, dir) =>
    // The per-source corpus health report a curation pipeline ends
    // with: volume, token mass, exact-dup rate, benchmark
    // contamination — one row per source, every input column computed
    // by the operators declared above (exact dedup window, broadcast
    // decontamination) and joined back by key. All counts are exact
    // integers; the whole report is three key-partitioned shuffles.
    import graft.operators.{Decontaminate, Dedup}
    val d = t(s, dir, "documents")
    val dups = Dedup.exact(d).filter(!col("keep"))
      .select(col("doc_id"), lit(1L).as("is_dup"))
    // the same scale-invariant fixed benchmark set as the rest of the
    // decontam family (< 100000 is a no-op at every driver scale)
    val contam = Decontaminate.overlap(
        d.filter(col("doc_id") % 17 =!= 0),
        d.filter(col("doc_id") % 17 === 0 && col("doc_id") < 100000),
        n = 5)
      .filter(col("contaminated"))
      .select(col("doc_id"), lit(1L).as("is_contam"))
    d.select(col("doc_id"), col("source"),
        graft.functions.TextFunctions.tokenCount(col("text"))
          .cast("long").as("nt"))
      .join(dups, Seq("doc_id"), "left")
      .join(contam, Seq("doc_id"), "left")
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum(col("nt")).as("total_tokens"),
        sum(coalesce(col("is_dup"), lit(0L))).as("n_dups"),
        sum(coalesce(col("is_contam"), lit(0L))).as("n_contaminated"))
      .orderBy("source")
  }.oracle(
    // Corpus health report: exact-dup fingerprints and the
    // decontamination hit set re-derived (same CTEs as dedup_exact /
    // decontam_ngram), aggregated per source.
    """WITH nrm AS (
      |  SELECT doc_id, source,
      |    trim(regexp_replace(lower(text), '\s+', ' ', 'g')) AS t
      |  FROM documents),
      |base AS (
      |  SELECT doc_id, source, md5(t) AS fp,
      |    CASE WHEN t = '' THEN 0
      |      ELSE CAST(len(string_split(t, ' ')) AS BIGINT) END AS nt
      |  FROM nrm),
      |g AS (SELECT doc_id, min(doc_id) OVER (PARTITION BY fp) AS rep
      |      FROM base),
      |dups AS (SELECT doc_id FROM g WHERE doc_id <> rep),
      |toks AS (SELECT doc_id, string_split(t, ' ') AS w FROM nrm),
      |sh AS (
      |  SELECT DISTINCT doc_id, gg FROM (
      |    SELECT doc_id, unnest(CASE WHEN len(w) >= 5
      |      THEN list_transform(generate_series(1, len(w) - 4),
      |        i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2] || ' '
      |             || w[i+3] || ' ' || w[i+4])
      |      ELSE [array_to_string(w, ' ')] END) AS gg
      |    FROM toks) u),
      |ev AS (SELECT DISTINCT gg FROM sh
      |       WHERE doc_id % 17 = 0 AND doc_id < 100000),
      |contam AS (
      |  SELECT DISTINCT doc_id FROM sh JOIN ev USING (gg)
      |  WHERE doc_id % 17 <> 0)
      |SELECT b.source,
      |  count(*) AS n_docs,
      |  CAST(sum(b.nt) AS BIGINT) AS total_tokens,
      |  CAST(sum(CASE WHEN d2.doc_id IS NOT NULL THEN 1 ELSE 0 END)
      |    AS BIGINT) AS n_dups,
      |  CAST(sum(CASE WHEN c.doc_id IS NOT NULL THEN 1 ELSE 0 END)
      |    AS BIGINT) AS n_contaminated
      |FROM base b
      |LEFT JOIN dups d2 ON b.doc_id = d2.doc_id
      |LEFT JOIN contam c ON b.doc_id = c.doc_id
      |GROUP BY b.source ORDER BY b.source""".stripMargin)

  query("text_fingerprints") { (s, dir) =>
    // Winnowing document fingerprints (rolling-hash k-grams + window
    // minima — the MOSS local fingerprint). Scan-stage only: both the
    // positional FNV-1a 8-gram hashes and the O(m) deque winnowing are
    // custom expressions; nothing shuffles but the final presentation
    // sort. The oracle re-derives the FNV-1a rolling hashes themselves
    // in HUGEINT SQL and recomputes every window's leftmost minimum.
    import graft.functions.VectorFunctions.{char_ngram_hashes, normalize_text, winnowed_fingerprints}
    t(s, dir, "documents")
      .select(col("doc_id"), explode(winnowed_fingerprints(
        char_ngram_hashes(normalize_text(col("text")), 8), 8)).as("f"))
      .select(col("doc_id"), col("f.pos").as("pos"), col("f.fp").as("fp"))
      .orderBy("doc_id", "pos")
  }.oracle(winnowingOracleSql)

  query("text_stats") { (s, dir) =>
    // Token counting + document fingerprinting over builtins only —
    // runs entirely inside the scan stage (no shuffle but the sort).
    t(s, dir, "documents").select(
      col("doc_id"),
      TextFunctions.tokenCount(col("text")).as("n_tokens"),
      TextFunctions.avgWordLen(col("text")).as("avg_word_len"),
      TextFunctions.punctRatio(col("text")).as("punct_ratio"),
      TextFunctions.fingerprint(col("text")).as("fp"))
      .orderBy("doc_id")
  }.oracle(
    """SELECT doc_id,
      |  CASE WHEN trim(text) = '' THEN 0 ELSE
      |    CAST(len(string_split(trim(regexp_replace(lower(text),
      |      '\s+', ' ', 'g')), ' ')) AS INTEGER) END AS n_tokens,
      |  CASE WHEN trim(text) = '' THEN 0.0 ELSE
      |    CAST(length(replace(trim(regexp_replace(lower(text), '\s+',
      |      ' ', 'g')), ' ', '')) AS DOUBLE)
      |      / len(string_split(trim(regexp_replace(lower(text), '\s+',
      |        ' ', 'g')), ' ')) END AS avg_word_len,
      |  CASE WHEN length(text) = 0 THEN 0.0 ELSE
      |    CAST(length(regexp_replace(lower(text), '[a-z0-9\s]', '', 'g'))
      |      AS DOUBLE) / length(text) END AS punct_ratio,
      |  md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS fp
      |FROM documents ORDER BY doc_id""".stripMargin)

  query("text_tokens_bpe") { (s, dir) =>
    // BPE-style pre-tokenization (GPT-2 pattern shape): the
    // segmentation every byte-pair tokenizer runs before merges —
    // contraction suffixes / space-prefixed letter runs / digit runs /
    // punctuation runs / whitespace runs, ordered alternation. The
    // pattern is lookahead-free so the DuckDB oracle evaluates the
    // IDENTICAL pattern string under RE2 (TextFunctionsSpec pins the
    // per-alternative behavior on crafted fixtures the corpus lacks:
    // contractions, digits, punctuation, newlines). Entirely
    // scan-stage; only (doc_id, 4 ints) ever shuffle for the sort.
    val toks = TextFunctions.bpePretokens(col("text"))
    val content =
      filter(toks, tk => length(translate(tk, " \t\n\r", "")) > 0)
    t(s, dir, "documents").select(
      col("doc_id"),
      size(toks).as("n_pretok"),
      size(content).as("n_content"),
      size(array_distinct(content)).as("n_distinct"),
      aggregate(content, lit(0L),
        (acc, tk) => acc + length(tk).cast("long")).as("content_chars"))
      .orderBy("doc_id")
  }.oracle(
    // The IDENTICAL pattern string the engine compiles under Java
    // regex (TextFunctions.BpePretokenPattern), evaluated by RE2:
    // lookahead-free, explicit whitespace classes, ordered
    // alternation — both engines segment byte-for-byte identically.
    """WITH tk AS (
      |  SELECT doc_id, regexp_extract_all(text,
      |    '''(?:s|t|re|ve|m|ll|d)| ?[A-Za-z]+| ?[0-9]+| ?[^A-Za-z0-9 \t\n\r]+|[ \t\n\r]+'
      |  ) AS toks FROM documents),
      |ct AS (
      |  SELECT doc_id, toks,
      |    list_filter(toks,
      |      x -> length(translate(x, E' \t\n\r', '')) > 0) AS content
      |  FROM tk)
      |SELECT doc_id,
      |  CAST(len(toks) AS INTEGER) AS n_pretok,
      |  CAST(len(content) AS INTEGER) AS n_content,
      |  CAST(len(list_distinct(content)) AS INTEGER) AS n_distinct,
      |  CAST(coalesce(list_sum(list_transform(content,
      |    x -> length(x))), 0) AS BIGINT) AS content_chars
      |FROM ct ORDER BY doc_id""".stripMargin)

  query("text_quality") { (s, dir) =>
    // Language-ID heuristic + composite quality score (not SQL-
    // expressible in the oracle dialect → rows-only check).
    t(s, dir, "documents").select(
      col("doc_id"), col("lang").as("lang_label"),
      TextFunctions.langId(col("text")).as("lang_pred"),
      TextFunctions.stopwordRatio(col("text")).as("stopword_ratio"),
      TextFunctions.subwordCount(col("text")).as("n_subwords"),
      TextFunctions.qualityScore(col("text")).as("quality"))
      .orderBy("doc_id")
  }.oracle(
    s"""WITH base AS (
      |  SELECT doc_id, lang, text,
      |    trim(regexp_replace(lower(text), '\\s+', ' ', 'g')) AS nt
      |  FROM documents),
      |tk AS (
      |  SELECT doc_id, lang, text,
      |    list_filter(string_split(nt, ' '), x -> len(x) > 0) AS toks
      |  FROM base),
      |tk2 AS (
      |  SELECT *, list_distinct(toks) AS toksd,
      |    length(text) AS n_chars,
      |    length(regexp_replace(lower(text), '[^a-z0-9]', '', 'g'))
      |      AS n_alnum,
      |    length(regexp_replace(lower(text), '[^0-9]', '', 'g'))
      |      AS n_digit,
      |    length(text) - length(regexp_replace(text, '\\s', '', 'g'))
      |      AS n_ws
      |  FROM tk),
      |scored AS (
      |  SELECT doc_id, lang, toks,
      |    $langHitsSql,
      |    CASE WHEN len(toks) > 0 THEN
      |      CAST(len(list_filter(toks, t -> list_contains($stopwordsSql, t)))
      |        AS DOUBLE) / CAST(len(toks) AS DOUBLE)
      |      ELSE 0.0 END AS stopword_ratio,
      |    CAST(len(regexp_extract_all(lower(text),
      |      '[a-z0-9]+|[^a-z0-9\\s]+')) AS INTEGER) AS n_subwords,
      |    CASE WHEN n_chars > 0 THEN CAST(n_chars - n_alnum - n_ws
      |      AS DOUBLE) / CAST(n_chars AS DOUBLE) ELSE 0.0 END
      |      AS punct_ratio,
      |    CASE WHEN n_chars > 0 THEN CAST(n_digit AS DOUBLE)
      |      / CAST(n_chars AS DOUBLE) ELSE 0.0 END AS digit_ratio
      |  FROM tk2)
      |SELECT doc_id, lang AS lang_label,
      |  $langPredSql AS lang_pred,
      |  stopword_ratio, n_subwords,
      |  least(CAST(len(toks) AS DOUBLE) / 100.0, 1.0) * 0.3
      |    + greatest(0.0, 1.0 - punct_ratio * 5) * 0.3
      |    + greatest(0.0, 1.0 - digit_ratio * 5) * 0.2
      |    + least(stopword_ratio * 3, 1.0) * 0.2 AS quality
      |FROM scored ORDER BY doc_id""".stripMargin)

  captured("quality_model_lr") { (s, dir, capture) =>
    // Model-based quality filtering (the fastText-classifier move):
    // ONE bounded MLlib training job → 5 doubles, then the whole
    // corpus scored by a codegen'd projection (no UDF, no shuffle).
    // Seed label: the hand-written composite rule `quality_score >=
    // 0.72` — the distillation pattern (replace a heuristic with a
    // calibrated linear scorer you can threshold and rank by). The
    // corpus's lang column is assigned independently of its text, so
    // a language label would be noise by construction; the rule label
    // is learnable and keeps the oracle fully re-derivable.
    // Capture-then-export: the oracle replays scoring from the exact
    // captured coefficients.
    val d = t(s, dir, "documents")
    val seed = TextFunctions.qualityScore(col("text")) >= 0.72
    val model = graft.operators.QualityModel.train(d, col("text"), seed,
      col("doc_id"))
    capture(qmLrOracleSql(model))
    graft.operators.QualityModel.scoreAll(d, col("text"), model)
      .select(col("doc_id"), seed.as("label"),
        col("score_micros"), col("pred"))
      .orderBy("doc_id")
  }

  query("text_chunks") { (s, dir) =>
    // RAG/embedding windowing: 16-token chunks advancing by 12 (4
    // overlap), last chunk clamped. posexplode numbers chunks; the
    // whole thing is scan-stage — only (doc_id, id, text, len) rows
    // ever shuffle, for the sort.
    t(s, dir, "documents")
      .select(col("doc_id"),
        posexplode(TextFunctions.tokenChunks(col("text"), 16, 4))
          .as(Seq("chunk_id", "chunk")))
      .select(col("doc_id"), col("chunk_id"), col("chunk"),
        size(split(col("chunk"), " ")).as("n_chunk_tokens"))
      .orderBy("doc_id", "chunk_id")
  }.oracle(
    // Chunking: the same window arithmetic in exact integers; list
    // slices are end-clamped in both engines.
    """WITH nt AS (
      |  SELECT doc_id, trim(regexp_replace(lower(text), '\s+', ' ',
      |    'g')) AS t FROM documents),
      |w AS (SELECT doc_id, string_split(t, ' ') AS w,
      |        len(string_split(t, ' ')) AS n
      |      FROM nt WHERE t <> ''),
      |c AS (SELECT doc_id, w,
      |    CASE WHEN n <= 16 THEN 1
      |      ELSE (n - 16 + 12 - 1) // 12 + 1 END AS nc FROM w),
      |x AS (SELECT doc_id, w,
      |    unnest(generate_series(0, nc - 1)) AS chunk_id FROM c)
      |SELECT doc_id, CAST(chunk_id AS INTEGER) AS chunk_id,
      |  array_to_string(w[chunk_id*12+1 : chunk_id*12+16], ' ')
      |    AS chunk,
      |  CAST(len(w[chunk_id*12+1 : chunk_id*12+16]) AS INTEGER)
      |    AS n_chunk_tokens
      |FROM x ORDER BY doc_id, chunk_id""".stripMargin)

  query("text_collocations") { (s, dir) =>
    // Phrase mining: top-20 bigram collocations by lift (PMI's
    // rank-equivalent without the non-portable log), min count 5.
    graft.operators.Collocations.topBigramsByLift(
      t(s, dir, "documents"))
  }.oracle(
    // Collocations: unigram/bigram instance counts re-derived from the
    // normalized token stream, lift evaluated with the identical
    // parenthesization over exact-integer counts.
    """WITH nt AS (
      |  SELECT trim(regexp_replace(lower(text), '\s+', ' ', 'g'))
      |    AS t FROM documents),
      |tok AS (SELECT unnest(string_split(t, ' ')) AS tok
      |        FROM nt WHERE t <> ''),
      |uni AS (SELECT tok, count(*) AS c FROM tok GROUP BY tok),
      |tot AS (SELECT CAST(sum(c) AS BIGINT) AS n_tokens FROM uni),
      |big AS (
      |  SELECT unnest(CASE WHEN len(string_split(t, ' ')) < 2
      |    THEN []::VARCHAR[]
      |    ELSE list_transform(
      |      generate_series(1, len(string_split(t, ' ')) - 1),
      |      i -> string_split(t, ' ')[i] || ' '
      |        || string_split(t, ' ')[i+1]) END) AS bigram
      |  FROM nt WHERE t <> ''),
      |bc AS (SELECT bigram, count(*) AS c_ab FROM big
      |       GROUP BY bigram HAVING count(*) >= 5),
      |mt AS (SELECT CAST(count(*) AS BIGINT) AS m_bigrams FROM big),
      |j AS (SELECT b.bigram, b.c_ab,
      |    CAST(round(((CAST(b.c_ab AS DOUBLE)
      |        * CAST(n_tokens AS DOUBLE) * CAST(n_tokens AS DOUBLE))
      |      / (CAST(m_bigrams AS DOUBLE) * CAST(ua.c AS DOUBLE)
      |        * CAST(ub.c AS DOUBLE))) * 1000000.0) AS BIGINT)
      |      AS lift_micros
      |  FROM bc b
      |  JOIN uni ua ON ua.tok = string_split(b.bigram, ' ')[1]
      |  JOIN uni ub ON ub.tok = string_split(b.bigram, ' ')[2]
      |  CROSS JOIN tot CROSS JOIN mt)
      |SELECT bigram, CAST(c_ab AS BIGINT) AS c_ab, lift_micros
      |FROM j ORDER BY lift_micros DESC, bigram
      |LIMIT 20""".stripMargin)

  query("search_bm25") { (s, dir) =>
    // Inverted-index BM25 top-20 for a three-term query (terms from
    // the corpus vocabulary). Scores in exact micros — see
    // Search.bm25TopK for the rational-idf determinism contract.
    graft.operators.Search.bm25TopK(
      t(s, dir, "documents"), Seq("spark", "query", "merge"), k = 20)
  }.oracle(
    // BM25 (rational idf): the oracle rebuilds tf/df/dl/avgdl from the
    // same normalized token stream and evaluates the IDENTICALLY
    // parenthesized double expression — constants are printed from the
    // engine's own doubles (Double.toString round-trips), per-term
    // scores round to micros BEFORE the cross-term sum, so shuffle
    // order can't perturb a single bit.
    bm25OracleSql)

  query("search_bm25_indexed") { (s, dir) =>
    // The PERSISTED inverted index: postings bucketed by term, query
    // reads only its terms' buckets (bucket pruning pinned in
    // PlanQualitySpec). Same scoring expression, same ranking tail,
    // same oracle as the live-scan search_bm25 — the index must be
    // invisible to results, which is the whole contract.
    graft.operators.Search.writeBm25Index(
      t(s, dir, "documents"), "bm25idx")
    graft.operators.Search.bm25IndexedTopK(
      s, "bm25idx", Seq("spark", "query", "merge"), k = 20)
  }.oracle(
    // the persisted-index path must be result-invisible: same oracle
    bm25OracleSql)

  query("search_bm25_index_append") { (s, dir) =>
    // The ingest loop: index built from 80% of the corpus, the rest
    // appended as an epoch increment (only the increment tokenizes
    // and shuffles), then the SAME query — df and corpus stats derive
    // from the tables at query time, so the appended index must be
    // indistinguishable from a fresh full build: same oracle again.
    val d = t(s, dir, "documents")
    graft.operators.Search.writeBm25Index(
      d.filter(col("doc_id") % 5 =!= 0), "bm25inc")
    graft.operators.Search.appendToBm25Index(
      d.filter(col("doc_id") % 5 === 0), "bm25inc")
    graft.operators.Search.bm25IndexedTopK(
      s, "bm25inc", Seq("spark", "query", "merge"), k = 20)
  }.oracle(
    // build + epoch append must equal a fresh full build: same oracle
    bm25OracleSql)

  query("search_hybrid_rrf") { (s, dir) =>
    // Hybrid retrieval: reciprocal-rank fusion of the lexical BM25
    // top-20 and the vector (cosine, doc 0's embedding) top-20 — the
    // RAG-era retrieval stack in one plan. Both candidate lists are
    // produced by the already-oracled retrievers; fusion itself is
    // integer-exact (Search.rrfFuse) and runs on ≤ 40 rows however
    // large the corpus. The oracle re-derives both lists AND the
    // fusion arithmetic from scratch in SQL.
    val lex = graft.operators.Search.bm25TopK(
      t(s, dir, "documents"), Seq("spark", "query", "merge"), k = 20)
      .select(col("doc_id"), col("rank"))
    val vec = Similarity.bruteForceTopK(
      t(s, dir, "embeddings"),
      t(s, dir, "embeddings").filter(col("vec_id") === 0), k = 20)
      .select(col("neighbor_id").as("doc_id"), col("rank"))
    graft.operators.Search.rrfFuse(
      Seq("lex" -> lex, "vec" -> vec), k0 = 60, k = 10)
  }.oracle(
    // Hybrid RRF: both lists re-derived (bm25 chain + cosine ranking)
    // and the integer fusion recomputed — see hybridRrfOracleSql.
    hybridRrfOracleSql)

  query("text_repetition") { (s, dir) =>
    // Gopher-style repetition filters: duplicate-bigram fraction,
    // top-token fraction, type/token ratio — all per-row higher-order
    // builtins, scan-stage, shuffle-free but the output sort.
    t(s, dir, "documents").select(
      col("doc_id"),
      TextFunctions.tokenCount(col("text")).as("n_tokens"),
      TextFunctions.distinctTokenFrac(col("text")).as("distinct_frac"),
      TextFunctions.dupBigramFrac(col("text")).as("dup_bigram_frac"),
      TextFunctions.topTokenFrac(col("text")).as("top_token_frac"))
      .orderBy("doc_id")
  }.oracle(
    // Repetition filters: token/bigram multiset statistics re-derived
    // from the same normalized token stream; every fraction is one
    // exact-integer division (IEEE-identical across engines).
    """WITH nt AS (
      |  SELECT doc_id, trim(regexp_replace(lower(text), '\s+', ' ',
      |    'g')) AS t FROM documents),
      |tok AS (SELECT doc_id, unnest(string_split(t, ' ')) AS tok
      |        FROM nt WHERE t <> ''),
      |cnt AS (SELECT doc_id, tok, count(*) AS c FROM tok GROUP BY 1, 2),
      |agg AS (SELECT doc_id, CAST(sum(c) AS INTEGER) AS n_tokens,
      |        CAST(count(*) AS INTEGER) AS n_distinct,
      |        max(c) AS topc FROM cnt GROUP BY doc_id),
      |bi AS (SELECT doc_id,
      |    CASE WHEN t = '' OR len(string_split(t, ' ')) < 2 THEN 0
      |      ELSE len(string_split(t, ' ')) - 1 END AS n_bi,
      |    CASE WHEN t = '' OR len(string_split(t, ' ')) < 2 THEN 0
      |      ELSE len(list_distinct(list_transform(
      |        generate_series(1, len(string_split(t, ' ')) - 1),
      |        i -> string_split(t, ' ')[i] || ' '
      |          || string_split(t, ' ')[i+1]))) END AS n_bid
      |  FROM nt)
      |SELECT d.doc_id,
      |  coalesce(a.n_tokens, 0) AS n_tokens,
      |  CASE WHEN coalesce(a.n_tokens, 0) > 0
      |    THEN CAST(a.n_distinct AS DOUBLE) / a.n_tokens
      |    ELSE 0.0 END AS distinct_frac,
      |  CASE WHEN b.n_bi > 0
      |    THEN CAST(b.n_bi - b.n_bid AS DOUBLE) / b.n_bi
      |    ELSE 0.0 END AS dup_bigram_frac,
      |  CASE WHEN coalesce(a.n_tokens, 0) > 0
      |    THEN CAST(a.topc AS DOUBLE) / a.n_tokens
      |    ELSE 0.0 END AS top_token_frac
      |FROM documents d
      |LEFT JOIN agg a ON d.doc_id = a.doc_id
      |LEFT JOIN bi b ON d.doc_id = b.doc_id
      |ORDER BY d.doc_id""".stripMargin)

  query("text_html_extract") { (s, dir) =>
    // Boilerplate extraction — the C4/trafilatura stage every web
    // corpus passes through before anything else: each document is
    // wrapped in a deterministic page shell (head/nav/footer chrome +
    // per-doc link noise), then the extractor must strip element
    // boilerplate and tags and recover EXACTLY the original text.
    // The recovered-equals-original boolean and the md5 make the
    // round trip hash-checkable; link_count is the link-density
    // signal the quality filters consume. Scan-stage regex only (the
    // corpus carries no markup of its own — planted chrome is the
    // fixture, like `pii_redact`'s planted PII).
    val page = concat(
      lit("<html><head><title>t</title><style>p{}</style></head>" +
        "<body><nav><a href=\"/home\">home</a>" +
        "<a href=\"/about\">about</a></nav><p>"),
      col("text"),
      lit("</p><footer>(c) corp <a href=\"/tos\">tos</a>" +
        "</footer></body></html>"))
    // explicit alternation, no backreference — the oracle's RE2
    // dialect has no \1, and the pattern string must be IDENTICAL in
    // both engines
    val noBoiler = regexp_replace(page,
      "(?s)<nav>.*?</nav>|<footer>.*?</footer>" +
        "|<style>.*?</style>|<head>.*?</head>", " ")
    val stripped = regexp_replace(noBoiler, "<[^>]+>", " ")
    t(s, dir, "documents")
      .select(col("doc_id"), col("text"),
        TextFunctions.normalize(stripped).as("extracted"),
        page.as("page"))
      .select(col("doc_id"),
        md5(col("extracted")).as("extracted_md5"),
        (col("extracted") <=> TextFunctions.normalize(col("text")))
          .as("clean_roundtrip"),
        expr("CAST((length(page) - length(replace(page, '<a ', ''))) " +
          "DIV 3 AS INT)").as("link_count"))
      .orderBy("doc_id")
  }.oracle(
    // HTML extraction: the identical page shell, the identical
    // alternation + tag-strip regexes (RE2-safe, no backreferences),
    // the shared normalize equivalence — so extracted text, round-trip
    // flag and link count all re-derive exactly.
    """WITH w AS (
      |  SELECT doc_id, text,
      |    '<html><head><title>t</title><style>p{}</style></head>'
      |    || '<body><nav><a href="/home">home</a>'
      |    || '<a href="/about">about</a></nav><p>' || text
      |    || '</p><footer>(c) corp <a href="/tos">tos</a>'
      |    || '</footer></body></html>' AS page
      |  FROM documents),
      |b AS (
      |  SELECT doc_id, text, page,
      |    regexp_replace(page,
      |      '(?s)<nav>.*?</nav>|<footer>.*?</footer>'
      |      || '|<style>.*?</style>|<head>.*?</head>', ' ', 'g')
      |      AS nb
      |  FROM w),
      |e AS (
      |  SELECT doc_id, text, page,
      |    trim(regexp_replace(lower(
      |      regexp_replace(nb, '<[^>]+>', ' ', 'g')),
      |      '\s+', ' ', 'g')) AS extracted
      |  FROM b)
      |SELECT doc_id, md5(extracted) AS extracted_md5,
      |  extracted IS NOT DISTINCT FROM
      |    trim(regexp_replace(lower(text), '\s+', ' ', 'g'))
      |    AS clean_roundtrip,
      |  CAST((length(page) - length(replace(page, '<a ', ''))) // 3
      |    AS INTEGER) AS link_count
      |FROM e ORDER BY doc_id""".stripMargin)

  query("text_lm_score") { (s, dir) =>
    // Bigram-LM fluency scoring (the KenLM-filter shape): model
    // trained on the corpus in two map-side aggregates, every doc
    // scored by its mean add-one-smoothed conditional in exact floor
    // micros. See LangModel.bigramScore for the determinism contract
    // and the LM-table join scale shape.
    graft.operators.LangModel.bigramScore(t(s, dir, "documents"))
  }.oracle(
    // Bigram LM: counts, prefix sums, vocabulary and the add-one
    // smoothed per-bigram floor-micros all re-derived from the same
    // normalized token stream; integer `//` everywhere, so the hash
    // matches bit-for-bit including the per-doc mean.
    """WITH nt AS (
      |  SELECT doc_id, trim(regexp_replace(lower(text), '\s+', ' ',
      |    'g')) AS t FROM documents),
      |big AS (
      |  SELECT doc_id, unnest(CASE WHEN len(string_split(t, ' ')) < 2
      |    THEN []::VARCHAR[]
      |    ELSE list_transform(
      |      generate_series(1, len(string_split(t, ' ')) - 1),
      |      i -> string_split(t, ' ')[i] || ' '
      |        || string_split(t, ' ')[i+1]) END) AS bigram
      |  FROM nt WHERE t <> ''),
      |bc AS (SELECT bigram, count(*) AS c_ab FROM big GROUP BY bigram),
      |pf AS (SELECT string_split(bigram, ' ')[1] AS w1,
      |         sum(c_ab) AS c_a FROM bc GROUP BY 1),
      |vv AS (SELECT count(DISTINCT tok) AS v FROM
      |        (SELECT unnest(string_split(t, ' ')) AS tok
      |         FROM nt WHERE t <> '')),
      |sc AS (SELECT b.doc_id,
      |         (1000000 * (c.c_ab + 1)) // (p.c_a + vv.v) AS micros
      |       FROM big b JOIN bc c USING (bigram)
      |       JOIN pf p ON p.w1 = string_split(b.bigram, ' ')[1]
      |       CROSS JOIN vv),
      |pd AS (SELECT doc_id, CAST(sum(micros) AS BIGINT) AS sum_micros,
      |         CAST(count(*) AS BIGINT) AS n_bigrams
      |       FROM sc GROUP BY doc_id)
      |SELECT d.doc_id,
      |  CAST(coalesce(p.n_bigrams, 0) AS BIGINT) AS n_bigrams,
      |  CAST(coalesce(p.sum_micros, 0) AS BIGINT) AS sum_micros,
      |  CAST(coalesce(p.sum_micros // p.n_bigrams, 0) AS BIGINT)
      |    AS avg_micros
      |FROM documents d LEFT JOIN pd p USING (doc_id)
      |ORDER BY d.doc_id""".stripMargin)

  query("text_common_ngrams") { (s, dir) =>
    // C4-style corpus-level boilerplate signal: per-doc coverage by
    // grams common across >= 4 documents (three partial-agg shuffles,
    // no driver state — see Decontaminate.commonGramCoverage).
    Decontaminate.commonGramCoverage(t(s, dir, "documents"))
  }.oracle(
    // Corpus-level common-gram coverage: same 3-gram shingle CTE as
    // the dedup family, df >= 4 commonality, exact-integer coverage
    // fraction.
    """WITH toks AS (
      |  SELECT doc_id, string_split(trim(regexp_replace(lower(text),
      |    '\s+', ' ', 'g')), ' ') AS w FROM documents),
      |sh AS (
      |  SELECT DISTINCT doc_id, g FROM (
      |    SELECT doc_id, unnest(CASE WHEN len(w) >= 3
      |      THEN list_transform(generate_series(1, len(w) - 2),
      |                          i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])
      |      ELSE [array_to_string(w, ' ')] END) AS g
      |    FROM toks) u),
      |common AS (SELECT g FROM sh GROUP BY g HAVING count(*) >= 4),
      |hits AS (SELECT doc_id, count(*) AS n_common
      |         FROM sh JOIN common USING (g) GROUP BY doc_id),
      |per AS (SELECT doc_id, CAST(count(*) AS INTEGER) AS n_grams
      |        FROM sh GROUP BY doc_id)
      |SELECT p.doc_id, p.n_grams,
      |  CAST(coalesce(h.n_common, 0) AS BIGINT) AS n_common,
      |  CAST(coalesce(h.n_common, 0) AS DOUBLE) / p.n_grams
      |    AS common_frac,
      |  CAST(coalesce(h.n_common, 0) AS DOUBLE) / p.n_grams >= 0.5
      |    AS boilerplate
      |FROM per p LEFT JOIN hits h ON p.doc_id = h.doc_id
      |ORDER BY p.doc_id""".stripMargin)

  query("pii_redact") { (s, dir) =>
    // PII scrub: the synthetic corpus carries no PII, so the query
    // plants a deterministic email/IP/phone per doc (pure function of
    // doc_id, recomputed identically by the oracle), then detects and
    // masks all three classes with the portable patterns. Entirely
    // scan-stage — the only shuffle is the output sort.
    import graft.functions.PiiFunctions
    val injected = concat(
      col("text"),
      lit(" contact user"), col("doc_id"), lit("@example.com ip 10."),
      pmod(col("doc_id"), lit(256)), lit(".0."),
      pmod(col("doc_id"), lit(100)), lit(" call "),
      (pmod(col("doc_id"), lit(900)) + 100), lit("-555-"),
      lpad(pmod(col("doc_id"), lit(10000)).cast("string"), 4, "0"))
    t(s, dir, "documents")
      .withColumn("injected", injected)
      .select(col("doc_id"),
        PiiFunctions.emailCount(col("injected")).as("n_email"),
        PiiFunctions.ipv4Count(col("injected")).as("n_ip"),
        PiiFunctions.phoneCount(col("injected")).as("n_phone"),
        PiiFunctions.redact(col("injected")).as("redacted"))
      .orderBy("doc_id")
  }.oracle(
    // PII scrub: the oracle re-plants the same deterministic PII
    // (pure integer functions of doc_id) and applies the IDENTICAL
    // lookaround-free patterns under RE2, in the same email → IP →
    // phone order.
    """WITH inj AS (
      |  SELECT doc_id, text || ' contact user' || doc_id
      |    || '@example.com ip 10.' || (doc_id % 256) || '.0.'
      |    || (doc_id % 100) || ' call ' || (doc_id % 900 + 100)
      |    || '-555-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
      |    AS t FROM documents),
      |pat AS (
      |  SELECT doc_id, t,
      |    '[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z][a-z]+' AS pe,
      |    '([0-9]{1,3}\.){3}[0-9]{1,3}' AS pi,
      |    '[0-9]{3}-[0-9]{3}-[0-9]{4}' AS pp
      |  FROM inj)
      |SELECT doc_id,
      |  CAST(len(regexp_extract_all(t, pe)) AS INTEGER) AS n_email,
      |  CAST(len(regexp_extract_all(t, pi)) AS INTEGER) AS n_ip,
      |  CAST(len(regexp_extract_all(t, pp)) AS INTEGER) AS n_phone,
      |  regexp_replace(regexp_replace(regexp_replace(t,
      |    pe, '<EMAIL>', 'g'), pi, '<IP>', 'g'), pp, '<PHONE>', 'g')
      |    AS redacted
      |FROM pat ORDER BY doc_id""".stripMargin)

  query("text_heavy_hitters") { (s, dir) =>
    // Two bounded passes (Misra–Gries sketch → exact rescore of ≤ 64
    // candidates); the oracle is the naive full groupBy top-20, which
    // the sketch pipeline must reproduce EXACTLY whenever the k-th
    // frequency clears the N/(capacity+1) undercount bound.
    HeavyHitters.topTokens(t(s, dir, "documents"), k = 20, capacity = 64)
  }.oracle(
    // Heavy hitters: the oracle is the NAIVE full group-count top-k —
    // the sketch pipeline must reproduce it exactly.
    """WITH t AS (
      |  SELECT unnest(string_split(trim(regexp_replace(lower(text),
      |    '\s+', ' ', 'g')), ' ')) AS tok FROM documents)
      |SELECT tok, count(*) AS n FROM t
      |GROUP BY tok ORDER BY n DESC, tok LIMIT 20""".stripMargin)

  query("search_phrase") { (s, dir) =>
    // Exact phrase search ("table scan") via positional-alignment
    // voting: one corpus scan, phrase table broadcast, one map-side-
    // combined (doc, start) vote shuffle — never an n-way positional
    // self-join. Emits every occurrence (overlaps included).
    graft.operators.Search
      .phrase(t(s, dir, "documents"), Seq("table", "scan"))
      .orderBy("doc_id", "match_pos")
  }.oracle(
    // Positions re-derived 0-based over the same token list; slot
    // votes via one UNION ALL branch per phrase word; a start with
    // all distinct slots voting is a match.
    """WITH tk AS (
      |  SELECT doc_id, list_filter(string_split(
      |      trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' '),
      |      x -> len(x) > 0) AS toks
      |  FROM documents),
      |pos AS (
      |  SELECT doc_id, i AS pos, toks[i + 1] AS tok
      |  FROM tk, unnest(generate_series(0, len(toks) - 1)) AS t(i)),
      |cand AS (
      |  SELECT doc_id, pos - 0 AS match_pos, 0 AS idx
      |  FROM pos WHERE tok = 'table'
      |  UNION ALL
      |  SELECT doc_id, pos - 1, 1 FROM pos WHERE tok = 'scan')
      |SELECT doc_id, CAST(match_pos AS BIGINT) AS match_pos
      |FROM cand WHERE match_pos >= 0
      |GROUP BY doc_id, match_pos
      |HAVING count(DISTINCT idx) = 2
      |ORDER BY doc_id, match_pos""".stripMargin)

  query("text_tfidf") { (s, dir) =>
    // Per-document salient terms: exact rational tf/df weight in
    // floor micros (the reproducible stand-in for tf·idf — see
    // Search.tfidfTopTerms for the trade), top-3 per doc with a
    // pinned term tie-break. df derives from tf's output, so the
    // corpus scans once.
    graft.operators.Search.tfidfTopTerms(t(s, dir, "documents"), 3)
      .orderBy("doc_id", "rk")
  }.oracle(
    // tf/df/score/top-k replayed over the same tokens; // is DuckDB's
    // integer floor division, matching Spark's DIV.
    """WITH tk AS (
      |  SELECT doc_id, list_filter(string_split(
      |      trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' '),
      |      x -> len(x) > 0) AS toks
      |  FROM documents),
      |tf AS (
      |  SELECT doc_id, tok AS term, count(*) AS tf
      |  FROM (SELECT doc_id, unnest(toks) AS tok FROM tk)
      |  GROUP BY doc_id, tok),
      |df AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
      |s AS (
      |  SELECT t.doc_id, t.term, t.tf, d.df,
      |    CAST((t.tf * 1000000) // d.df AS BIGINT) AS score_micros
      |  FROM tf t JOIN df d USING (term)),
      |r AS (
      |  SELECT *, row_number() OVER (PARTITION BY doc_id
      |      ORDER BY score_micros DESC, term) AS rk
      |  FROM s)
      |SELECT doc_id, term, tf, df, score_micros,
      |  CAST(rk AS BIGINT) AS rk
      |FROM r WHERE rk <= 3
      |ORDER BY doc_id, rk""".stripMargin)

  query("join_edit_distance") { (s, dir) =>
    // The FOURTH similarity family as a join predicate (next to
    // jaccard / cosine / hamming): exact Levenshtein distance over
    // blocked candidates — blocking bounds the quadratic verify, the
    // codegen'd levenshtein builtin is the verify (unit-cost edits,
    // identical in DuckDB, proven by the hash match). Re-listed parts
    // (table_diff's perturbation family) re-identified by name shape.
    // blocking key includes a 6-char NAME PREFIX (6 < the corpus-wide
    // minimum name length 7, so a suffix-only perturbation can never
    // reach into the blocked prefix): the coarse
    // (brand, size) key has a FIXED block count, so block occupancy —
    // and the blocked join's pair mass — grew quadratically with the
    // corpus, and at the sf1 gate the per-block cap dropped EVERY
    // block (documented degrade, but a diverged answer: 4k rows vs
    // the oracle's 11M). The re-listing perturbation this query hunts
    // is suffix-only, so prefix blocking loses no true pair BY
    // CONSTRUCTION and block cardinality now scales with the corpus —
    // the key choice a real 100 TB linkage job makes. Where a
    // replicated corpus STILL overflows the budget (sf10), the blocks
    // truncate per side instead of dropping whole. The oracle replays
    // the same key and the same truncation.
    val p0 = t(s, dir, "part")
      .select(col("p_partkey"), col("p_name"), col("p_brand"),
        col("p_size"), substring(col("p_name"), 1, 6).as("p_pfx"))
    val p1 = t(s, dir, "part").select(
      (col("p_partkey") + 5000000L).as("p_partkey"),
      when(col("p_partkey") % 3 === 0,
        concat(col("p_name"), lit(" deluxe")))
        .otherwise(col("p_name")).as("p_name"),
      col("p_brand"), col("p_size"))
      .withColumn("p_pfx", substring(col("p_name"), 1, 6))
    graft.operators.Linkage
      .candidates(p0, p1, Seq("p_brand", "p_size", "p_pfx"),
        maxPairs = 4096L)
      .withColumn("edit_dist",
        levenshtein(col("a_p_name"), col("b_p_name")).cast("long"))
      .filter(col("edit_dist") <= 7L)
      .select(col("a_p_partkey").as("a_key"),
        col("b_p_partkey").as("b_key"), col("edit_dist"))
      .orderBy("a_key", "b_key")
  }.oracle(
    // Same blocks, same builtin (unit-cost Levenshtein is defined
    // identically in both engines — the hash match is the proof).
    // Replays Linkage.candidates' declared budget degrade: blocks
    // whose na*nb exceeds 4096 are TRUNCATED to their first
    // 64 = floor(sqrt(4096)) rows per side in (p_partkey, p_name)
    // order — never dropped whole (the zero-output cliff the sf10
    // rehearsal exposed). Within-budget blocks pass untouched, so the
    // cnt join + rn filter is a no-op at gate scales.
    """WITH v0 AS (
      |  SELECT p_partkey, p_name, p_brand, p_size,
      |    substr(p_name, 1, 6) AS p_pfx FROM part),
      |v1 AS (
      |  SELECT p_partkey + 5000000 AS p_partkey,
      |    CASE WHEN p_partkey % 3 = 0 THEN p_name || ' deluxe'
      |         ELSE p_name END AS p_name,
      |    p_brand, p_size, substr(p_name, 1, 6) AS p_pfx
      |  FROM part),
      |cnt AS (
      |  SELECT a.p_brand, a.p_size, a.p_pfx, a.na * b.nb AS n_pairs
      |  FROM (SELECT p_brand, p_size, p_pfx, count(*) AS na
      |        FROM v0 GROUP BY 1, 2, 3) a
      |  JOIN (SELECT p_brand, p_size, p_pfx, count(*) AS nb
      |        FROM v1 GROUP BY 1, 2, 3) b
      |    ON a.p_brand = b.p_brand AND a.p_size = b.p_size
      |    AND a.p_pfx = b.p_pfx),
      |f0 AS (
      |  SELECT * FROM (
      |    SELECT v.*, c.n_pairs, row_number() OVER (
      |        PARTITION BY v.p_brand, v.p_size, v.p_pfx
      |        ORDER BY v.p_partkey, v.p_name) AS rn
      |    FROM v0 v JOIN cnt c ON c.p_brand = v.p_brand
      |      AND c.p_size = v.p_size AND c.p_pfx = v.p_pfx)
      |  WHERE n_pairs <= 4096 OR rn <= 64),
      |f1 AS (
      |  SELECT * FROM (
      |    SELECT v.*, c.n_pairs, row_number() OVER (
      |        PARTITION BY v.p_brand, v.p_size, v.p_pfx
      |        ORDER BY v.p_partkey, v.p_name) AS rn
      |    FROM v1 v JOIN cnt c ON c.p_brand = v.p_brand
      |      AND c.p_size = v.p_size AND c.p_pfx = v.p_pfx)
      |  WHERE n_pairs <= 4096 OR rn <= 64)
      |SELECT a.p_partkey AS a_key, b.p_partkey AS b_key,
      |  CAST(levenshtein(a.p_name, b.p_name) AS BIGINT) AS edit_dist
      |FROM f0 a JOIN f1 b
      |  ON a.p_brand = b.p_brand AND a.p_size = b.p_size
      |  AND a.p_pfx = b.p_pfx
      |WHERE levenshtein(a.p_name, b.p_name) <= 7
      |ORDER BY a_key, b_key""".stripMargin)

  query("bpe_train") { (s, dir) =>
    // Distributed BPE merge training, 3 rounds: weighted pair counts
    // over the word vocab (corpus scanned ONCE to build it), pinned
    // argmax, exact list-fold merge application with the winning pair
    // captured per round. The oracle re-derives every round FROM
    // SCRATCH — pair counts, argmax and the fold itself as recursive
    // CTEs — so the merge table is proven, not exported.
    graft.operators.Bpe.train(t(s, dir, "documents"), rounds = 3)
      .orderBy("round")
  }.oracle(bpeOracleSql(3))

  query("bpe_segment") { (s, dir) =>
    // The apply half of the BPE family: segment every document with
    // the 3 learned merges — per doc, whitespace-token count vs
    // post-merge subword count. Segmentation is a broadcast-size join
    // of the corpus tokens against the (vocab-sized) trained symbol
    // state; the corpus rescans once to tokenize, never to train.
    val docs = t(s, dir, "documents")
    val seg = graft.operators.Bpe.symbolState(docs, rounds = 3)
      .select(col("tok"), size(split(col("segmented"), " "))
        .cast("long").as("n_sub"))
    docs.select(col("doc_id"),
        explode(graft.functions.TextFunctions.tokens(col("text")))
          .as("tok"))
      .join(seg, "tok")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_tokens"), sum(col("n_sub")).as("n_subwords"))
      .orderBy("doc_id")
  }.oracle(bpeSegmentOracleSql(3))

  /** The bpe_train oracle: `rounds` unrolled training rounds, each a
    * (pair-count, argmax-with-pinned-tie-break, recursive-CTE fold)
    * triple over the previous round's symbol state. The fold CTE is
    * the exact left-to-right non-overlapping merge — a string
    * replace() would under-merge consecutive occurrences. */
  private def bpeOracleSql(rounds: Int): String =
    bpeOracleCtes(rounds) + (1 to rounds)
      .map(r => s"SELECT CAST($r AS BIGINT) AS round, p AS pair, cnt FROM b$r")
      .mkString("\n", "\nUNION ALL\n", "\nORDER BY round")

  /** Segment oracle: the same trained state, applied — per-doc token
    * counts joined to the final fold's symbol lengths. */
  private def bpeSegmentOracleSql(rounds: Int): String =
    bpeOracleCtes(rounds) +
      s"""
        |SELECT d.doc_id, count(*) AS n_tokens,
        |  CAST(sum(len(w.s)) AS BIGINT) AS n_subwords
        |FROM (
        |  SELECT doc_id, unnest(list_filter(string_split(
        |    trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' '),
        |    x -> len(x) > 0)) AS tok
        |  FROM documents) d
        |JOIN w$rounds w ON d.tok = w.tok
        |GROUP BY d.doc_id
        |ORDER BY d.doc_id""".stripMargin

  private def bpeOracleCtes(rounds: Int): String = {
    val head =
      """WITH RECURSIVE
        |vocab AS (
        |  SELECT tok, count(*) AS freq FROM (
        |    SELECT unnest(list_filter(string_split(
        |      trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' '),
        |      x -> len(x) > 0)) AS tok
        |    FROM documents)
        |  GROUP BY tok),
        |w0 AS (
        |  SELECT tok, freq, list_transform(
        |    generate_series(1, strlen(tok)),
        |    i -> substring(tok, i, 1)) AS s
        |  FROM vocab)""".stripMargin
    val roundsSql = (1 to rounds).map { r =>
      val prev = s"w${r - 1}"
      val fold =
        s""",
          |f$r AS (
          |  SELECT tok, freq, s, a, b,
          |    CAST([] AS VARCHAR[]) AS out, 1 AS i
          |  FROM $prev, (SELECT string_split(p, ' ')[1] AS a,
          |                      string_split(p, ' ')[2] AS b FROM b$r)
          |  UNION ALL
          |  SELECT tok, freq, s, a, b,
          |    CASE WHEN i < len(s) AND s[i] = a AND s[i+1] = b
          |      THEN list_append(out, a || b)
          |      ELSE list_append(out, s[i]) END,
          |    CASE WHEN i < len(s) AND s[i] = a AND s[i+1] = b
          |      THEN i + 2 ELSE i + 1 END
          |  FROM f$r WHERE i <= len(s)),
          |w$r AS (SELECT tok, freq, out AS s FROM f$r
          |        WHERE i > len(s))""".stripMargin
      s""",
        |p$r AS (
        |  SELECT p, CAST(sum(freq) AS BIGINT) AS cnt FROM (
        |    SELECT freq, unnest(list_transform(
        |      generate_series(1, len(s) - 1),
        |      i -> s[i] || ' ' || s[i+1])) AS p
        |    FROM $prev WHERE len(s) >= 2)
        |  GROUP BY p),
        |b$r AS (SELECT p, cnt FROM p$r
        |        ORDER BY cnt DESC, p DESC LIMIT 1)""".stripMargin + fold
    }.mkString
    head + roundsSql
  }

  /** DuckDB re-derivation of the winnowing fingerprint pipeline: the
    * FNV-1a 8-gram rolling hashes themselves (xor-then-multiply per
    * char, CASE-guarded for texts shorter than the gram width), then
    * every window's LEFTMOST minimum via a single lexicographic
    * `min(biased(h)·2^32 + pos)` key — biased by 2^63 because the
    * engine compares hashes as SIGNED longs — then DISTINCT
    * selections. Windows and
    * edge cases (one window for texts with fewer grams than the
    * window) mirror WinnowedFingerprints exactly; validated against a
    * reference implementation on tie-heavy and short inputs. */
  private def winnowingOracleSql: String = {
    val M = xxhM
    val fnvOff = BigInt("14695981039346656037") // 0xcbf29ce484222325
    val fnvP = BigInt("1099511628211") // 0x100000001b3
    val stages = (0 until 8).map { j =>
      val step = xxhMulmod(
        s"xor(h, ascii(substr(t, p + $j, 1))::HUGEINT)", fnvP)
      s"f${j + 1} AS (SELECT doc_id, t, width, p, m,\n" +
        s"  CASE WHEN $j < width THEN $step ELSE h END AS h FROM f$j)"
    }.mkString(",\n")
    s"""WITH nt AS (
       |  SELECT doc_id,
       |    trim(regexp_replace(lower(text), '\\s+', ' ', 'g')) AS t
       |  FROM documents),
       |base AS (SELECT doc_id, t, least(8, strlen(t)) AS width,
       |    CASE WHEN strlen(t) >= 8 THEN strlen(t) - 7 ELSE 1 END AS m
       |  FROM nt WHERE strlen(t) > 0),
       |f0 AS (SELECT doc_id, t, width, p, m, $fnvOff::HUGEINT AS h
       |       FROM base, unnest(generate_series(1, m)) AS u(p)),
       |$stages,
       |gr AS (SELECT doc_id, p, m, h FROM f8),
       |wn AS (SELECT DISTINCT doc_id, i FROM (
       |    SELECT doc_id, unnest(generate_series(least(8, m), m)) AS i
       |    FROM base)),
       |sel AS (SELECT w.doc_id, w.i,
       |    min((CASE WHEN g.h >= 9223372036854775808
       |         THEN g.h - 9223372036854775808
       |         ELSE g.h + 9223372036854775808 END)
       |        * $xxhB::HUGEINT + g.p) AS key
       |  FROM wn w JOIN gr g ON g.doc_id = w.doc_id
       |    AND g.p BETWEEN greatest(1, w.i - 7) AND w.i
       |  GROUP BY w.doc_id, w.i),
       |fps AS (SELECT DISTINCT doc_id, CAST(key % $xxhB AS BIGINT) AS p
       |        FROM sel)
       |SELECT f.doc_id, CAST(f.p - 1 AS INTEGER) AS pos,
       |  CAST(CASE WHEN g.h >= 9223372036854775808 THEN g.h - $M ELSE g.h
       |    END AS BIGINT) AS fp
       |FROM fps f JOIN gr g ON g.doc_id = f.doc_id AND g.p = f.p
       |ORDER BY f.doc_id, pos""".stripMargin
  }

  /** BM25 oracle: tf/df/dl re-derivation plus the exact double
    * formula. Constants come from the same Scala doubles the engine's
    * Column expression embeds (k1, k1+1, 1-b, b), printed with
    * Double.toString — the shortest decimal that parses back to the
    * identical bit pattern in both engines. */
  private def bm25OracleSql: String =
    s"""WITH $bm25Ctes
       |SELECT doc_id, score_micros, rank FROM r
       |WHERE rank <= 20 ORDER BY rank""".stripMargin

  /** The bm25 derivation as a reusable WITH-body (rank ≤ 20 lives in
    * the consumer): shared by `search_bm25` and the hybrid-RRF oracle. */
  private def bm25Ctes: String = {
    val (k1, b) = (1.2, 0.75)
    val terms = Seq("spark", "query", "merge")
      .map(t => s"'$t'").mkString(", ")
    val (cK1, cK11, c1b, cB) =
      (dlit(k1), dlit(k1 + 1), dlit(1 - b), dlit(b))
    s"""nt AS (
       |  SELECT doc_id, trim(regexp_replace(lower(text), '\\s+', ' ',
       |    'g')) AS t FROM documents),
       |dls AS (SELECT doc_id, CASE WHEN t = '' THEN 0
       |    ELSE CAST(len(string_split(t, ' ')) AS BIGINT) END AS dl
       |  FROM nt),
       |stats AS (SELECT count(*) AS n_docs, sum(dl) AS total_dl,
       |    CAST(sum(dl) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS avgdl
       |  FROM dls),
       |tok AS (SELECT doc_id, unnest(string_split(t, ' ')) AS tok
       |        FROM nt WHERE t <> ''),
       |tf AS (SELECT doc_id, tok, count(*) AS tf FROM tok
       |       WHERE tok IN ($terms) GROUP BY 1, 2),
       |dfs AS (SELECT tok, count(*) AS df FROM tf GROUP BY tok),
       |per AS (SELECT tf.doc_id,
       |    CAST(round((((CAST(n_docs AS DOUBLE) - CAST(df AS DOUBLE)
       |        + 0.5) / (CAST(df AS DOUBLE) + 0.5))
       |      * ((CAST(tf AS DOUBLE) * $cK11)
       |         / (CAST(tf AS DOUBLE) + $cK1
       |            * ($c1b + ($cB * CAST(dl AS DOUBLE)) / avgdl))))
       |      * 1000000.0) AS BIGINT) AS term_micros
       |  FROM tf JOIN dls USING (doc_id) CROSS JOIN stats
       |  JOIN dfs USING (tok)),
       |sc AS (SELECT doc_id, CAST(sum(term_micros) AS BIGINT)
       |         AS score_micros FROM per GROUP BY doc_id),
       |r AS (SELECT doc_id, score_micros,
       |    CAST(row_number() OVER (ORDER BY score_micros DESC, doc_id)
       |      AS INTEGER) AS rank FROM sc)""".stripMargin
  }

  /** Hybrid-RRF oracle: both candidate lists re-derived from scratch
    * (the bm25 CTE chain verbatim; the cosine ranking for doc 0's
    * embedding), then the fusion arithmetic — integer `//` floor
    * division, absent-list contribution 0 — recomputed exactly. */
  private def hybridRrfOracleSql: String =
    s"""WITH $bm25Ctes,
       |lexr AS (SELECT doc_id, rank FROM r WHERE rank <= 20),
       |qv AS (SELECT CAST(embedding AS DOUBLE[]) AS qe
       |       FROM embeddings WHERE vec_id = 0),
       |cs AS (SELECT c.vec_id AS doc_id,
       |         ${cosineSql("qe", "ce")} AS cosine
       |       FROM (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS ce
       |             FROM embeddings) c
       |       CROSS JOIN qv WHERE c.vec_id <> 0),
       |vr AS (SELECT doc_id,
       |         CAST(row_number() OVER (ORDER BY cosine DESC, doc_id)
       |           AS INTEGER) AS rank FROM cs),
       |vecr AS (SELECT doc_id, rank FROM vr WHERE rank <= 20),
       |f AS (SELECT coalesce(l.doc_id, v.doc_id) AS doc_id,
       |        l.rank AS lex_rank, v.rank AS vec_rank,
       |        CAST(coalesce(1000000 // (60 + l.rank), 0)
       |           + coalesce(1000000 // (60 + v.rank), 0)
       |          AS BIGINT) AS rrf_micros
       |      FROM lexr l FULL JOIN vecr v ON l.doc_id = v.doc_id),
       |fr AS (SELECT doc_id, lex_rank, vec_rank, rrf_micros,
       |         CAST(row_number() OVER (ORDER BY rrf_micros DESC, doc_id)
       |           AS INTEGER) AS rank FROM f)
       |SELECT doc_id, lex_rank, vec_rank, rrf_micros, rank FROM fr
       |WHERE rank <= 10 ORDER BY rank""".stripMargin
}
