package graft
package catalog

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.functions.TextFunctions
import graft.operators.{Decontaminate, Dedup, Multimodal}
import Shared._

/** The dedup-and-curation family: exact, MinHash, SimHash, n-gram and
  * perceptual-hash dedup with their keep/dup_of decisions,
  * decontamination, and the sampling, mixing, capping and packing steps
  * of a curation pipeline. */
object DedupQueries extends Family {

  query("dedup_chunks") { (s, dir) =>
    // Cross-document repeated-window detection — the window-granular
    // approximation of exact-substring dedup (a chunk appearing in
    // several documents is copied boilerplate/quotation): chunks from
    // the same 16/4 windowing as text_chunks, keyed by content,
    // surviving rows = chunks seen in >= 2 DISTINCT docs, with the
    // occurrence count and the canonical (minimum) owner. One
    // chunk-keyed shuffle with map-side partial aggregation.
    t(s, dir, "documents")
      .select(col("doc_id"),
        explode(TextFunctions.tokenChunks(col("text"), 16, 4))
          .as("chunk"))
      .groupBy("chunk")
      .agg(count_distinct(col("doc_id")).as("n_docs"),
        count(lit(1)).as("n_occurrences"),
        min(col("doc_id")).as("first_doc"))
      .filter(col("n_docs") >= 2)
      .orderBy("chunk")
  }.oracle(
    // Chunk dedup: same chunk CTE, grouped by content, >= 2 distinct
    // docs.
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
      |    unnest(generate_series(0, nc - 1)) AS chunk_id FROM c),
      |ch AS (SELECT doc_id,
      |    array_to_string(w[chunk_id*12+1 : chunk_id*12+16], ' ')
      |      AS chunk FROM x)
      |SELECT chunk,
      |  CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
      |  CAST(count(*) AS BIGINT) AS n_occurrences,
      |  min(doc_id) AS first_doc
      |FROM ch GROUP BY chunk HAVING count(DISTINCT doc_id) >= 2
      |ORDER BY chunk""".stripMargin)

  query("dedup_exact") { (s, dir) =>
    Dedup.exact(t(s, dir, "documents")).orderBy("doc_id")
  }.oracle(
    """WITH f AS (
      |  SELECT doc_id,
      |    md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS fp
      |  FROM documents),
      |g AS (
      |  SELECT doc_id, fp, min(doc_id) OVER (PARTITION BY fp) AS rep
      |  FROM f)
      |SELECT doc_id, fp, doc_id = rep AS keep,
      |  CASE WHEN doc_id <> rep THEN rep END AS dup_of
      |FROM g ORDER BY doc_id""".stripMargin)

  query("dedup_quality_rep") { (s, dir) =>
    // Quality-weighted representative election: the kept copy of each
    // exact-duplicate class is the BEST-scoring member (composite
    // quality score, ties to the smallest doc_id), not the first-seen
    // id — the curation pipeline's actual rule when mirrors/AMP/print
    // variants share a normalized fingerprint (see Dedup.bestRep).
    // Oracle replays score, class key and argmax from scratch.
    Dedup.bestRep(t(s, dir, "documents"),
        TextFunctions.qualityScore(col("text")))
      .orderBy("doc_id")
  }.oracle(
    // Quality-weighted election: same classes as dedup_exact, but the
    // representative is first_value by (quality DESC, doc_id ASC) —
    // the oracle re-derives the score (shared replica), the class key
    // and the argmax from scratch.
    s"""WITH q AS (
       |  $qualityScoredSql),
       |f AS (
       |  SELECT doc_id, quality,
       |    md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')))
       |      AS fp
       |  FROM q),
       |r AS (
       |  SELECT doc_id, fp, quality,
       |    first_value(doc_id) OVER (PARTITION BY fp
       |      ORDER BY quality DESC, doc_id ASC) AS rep
       |  FROM f)
       |SELECT doc_id, fp, quality, doc_id = rep AS keep,
       |  CASE WHEN doc_id <> rep THEN rep END AS dup_of
       |FROM r ORDER BY doc_id""".stripMargin)

  query("sample_topk_stratum") { (s, dir) =>
    // Exact per-language eval slice: the 20 docs per lang with the
    // smallest md5(doc_id) — sample_stratified's fixed-COUNT sibling
    // (fractions give proportional sizes; eval slices need exactly k),
    // deterministic, uniform within stratum, identical in any engine.
    // rank<=k plans as WindowGroupLimit: per-partition k-row heaps
    // before the one stratum exchange, never a full stratum sort.
    graft.operators.Sampling.topKPerStratum(
        t(s, dir, "documents").select("doc_id", "lang", "source"),
        "lang", "doc_id", 20)
      .orderBy("lang", "doc_id")
  }.oracle(
    """SELECT doc_id, lang, source FROM (
      |  SELECT doc_id, lang, source,
      |    row_number() OVER (PARTITION BY lang
      |      ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rn
      |  FROM documents) x
      |WHERE rn <= 20 ORDER BY lang, doc_id""".stripMargin)

  query("curation_quality_rebalance") { (s, dir) =>
    // Quality-band mixture rebalance: fixed score cutoffs band the
    // corpus, each band keeps a deterministic hash-bucket fraction
    // (10% of the worst band up to 100% of the best) — the "keep the
    // pristine mass, thin the junk" downsample, exact and replayable
    // shard-by-shard; band and verdict are scan-stage expressions.
    graft.operators.Sampling.qualityRebalance(
        t(s, dir, "documents").select(col("doc_id"), col("text")),
        TextFunctions.qualityScore(col("text")), col("doc_id"),
        Seq(0.5, 0.65, 0.8), Seq(0.1, 0.3, 0.6, 1.0))
      .select("doc_id", "band", "quality")
      .orderBy("doc_id")
  }.oracle(
    // Rebalance: the shared quality replica bands the corpus, the
    // shared XXH64-bucket replica decides keeps — thresholds are the
    // engine's exact frac·10000 bucket bounds (band 3 keeps all).
    s"""WITH ${xxhash64BucketSql("doc_id", "documents")},
       |q AS (
       |  $qualityScoredSql),
       |b AS (
       |  SELECT q.doc_id, q.quality, bk.bucket,
       |    (CASE WHEN quality >= 0.5 THEN 1 ELSE 0 END
       |     + CASE WHEN quality >= 0.65 THEN 1 ELSE 0 END
       |     + CASE WHEN quality >= 0.8 THEN 1 ELSE 0 END) AS band
       |  FROM q JOIN bk ON bk.k = q.doc_id)
       |SELECT doc_id, band, quality FROM b
       |WHERE quality IS NOT NULL
       |  AND ((band = 0 AND bucket < 1000)
       |   OR (band = 1 AND bucket < 3000)
       |   OR (band = 2 AND bucket < 6000)
       |   OR band = 3)
       |ORDER BY doc_id""".stripMargin)

  query("dedup_forget") { (s, dir) =>
    // Right-to-be-forgotten propagation: docs with doc_id % 11 = 0 are
    // deleted; classes whose KEPT representative died re-elect the
    // next-smallest survivor — computed from the decision table alone
    // (no text rescan; see Dedup.forget). The oracle re-derives
    // decisions from the surviving corpus from scratch, so equality
    // proves the decision-only maintenance equals a full re-run.
    Dedup.forget(Dedup.exact(t(s, dir, "documents")),
        col("doc_id") % 11 === 0)
      .orderBy("doc_id")
  }.oracle(
    // Forget propagation: the oracle re-runs dedup from scratch on
    // the SURVIVING corpus — equality proves the decision-table-only
    // maintenance (no text rescan) re-elects identically.
    """WITH f AS (
      |  SELECT doc_id,
      |    md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS fp
      |  FROM documents WHERE doc_id % 11 <> 0),
      |g AS (
      |  SELECT doc_id, min(doc_id) OVER (PARTITION BY fp) AS rep
      |  FROM f)
      |SELECT doc_id, doc_id = rep AS keep,
      |  CASE WHEN doc_id <> rep THEN rep END AS dup_of
      |FROM g ORDER BY doc_id""".stripMargin)

  query("dedup_minhash_lsh") { (s, dir) =>
    Dedup.minhashLsh(t(s, dir, "documents"))
  }.oracle(minhashPairsOracle)

  query("dedup_minhash_decisions") { (s, dir) =>
    val docs = t(s, dir, "documents")
    Dedup.decisionsFromPairs(docs, Dedup.minhashLsh(docs))
      .orderBy("doc_id")
  }.oracle(
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
      |sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
      |common AS (
      |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_common
      |  FROM sh a JOIN sh b ON a.g = b.g AND a.doc_id < b.doc_id
      |  GROUP BY 1, 2),
      |p AS (
      |  SELECT id_a, id_b FROM common
      |  JOIN sizes na ON na.doc_id = id_a
      |  JOIN sizes nb ON nb.doc_id = id_b
      |  WHERE CAST(n_common AS DOUBLE)
      |    / CAST(na.n + nb.n - n_common AS DOUBLE) >= 0.8),
      |edges AS (SELECT id_a AS doc_id, id_b AS nb FROM p
      |          UNION ALL SELECT id_b, id_a FROM p),
      |rep0 AS (SELECT doc_id, min(nb) AS min_nb FROM edges GROUP BY doc_id),
      |r AS (SELECT d.doc_id,
      |        least(d.doc_id, coalesce(rep0.min_nb, d.doc_id)) AS rep_id
      |      FROM documents d LEFT JOIN rep0 ON d.doc_id = rep0.doc_id)
      |SELECT doc_id, doc_id = rep_id AS keep,
      |  CASE WHEN doc_id <> rep_id THEN rep_id END AS dup_of
      |FROM r ORDER BY doc_id""".stripMargin)

  query("dedup_simhash") { (s, dir) =>
    // 8 bands ⇒ guaranteed recall for Hamming ≤ 5 (planted near-dups in
    // the testdata span Hamming 0–5, BASELINE.md r1 SimHash banding)
    Dedup.simhashPairs(t(s, dir, "documents"), maxHamming = 5, bands = 8)
  }.oracle(
    s"""WITH toks AS (
       |  SELECT doc_id, unnest(list_filter(
       |    string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')),
       |      ' '),
       |    t -> strlen(t) > 0)) AS w
       |  FROM documents),
       |$simhashSigSql,
       |bands AS (SELECT * FROM (VALUES
       |    (0, 1::HUGEINT), (1, 256::HUGEINT), (2, 65536::HUGEINT),
       |    (3, 16777216::HUGEINT), (4, 4294967296::HUGEINT),
       |    (5, 1099511627776::HUGEINT), (6, 281474976710656::HUGEINT),
       |    (7, 72057594037927936::HUGEINT)) t(band, dv)),
       |sigu AS (SELECT doc_id, sim_sig,
       |    CASE WHEN sim_sig < 0 THEN sim_sig::HUGEINT + $xxhM
       |         ELSE sim_sig::HUGEINT END AS s FROM sig),
       |banded AS (SELECT doc_id, sim_sig, band, (s // dv) % 256 AS bkey
       |    FROM sigu, bands),
       |capped AS (SELECT * FROM (
       |    SELECT doc_id, sim_sig, band, bkey, row_number() OVER (
       |      PARTITION BY band, bkey ORDER BY doc_id) AS rn FROM banded)
       |    WHERE rn <= 500),
       |pairs AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
       |    CAST(bit_count(xor(a.sim_sig, b.sim_sig)) AS INTEGER)
       |      AS hamming
       |  FROM capped a JOIN capped b
       |    ON a.band = b.band AND a.bkey = b.bkey
       |      AND a.doc_id < b.doc_id)
       |SELECT id_a, id_b, hamming FROM pairs
       |WHERE hamming <= 5 ORDER BY id_a, id_b""".stripMargin)

  query("dedup_ngram_jaccard") { (s, dir) =>
    Dedup.ngramJaccard(t(s, dir, "documents"))
  }.oracle(ngramPairsOracle)

  query("dedup_ngram_decisions") { (s, dir) =>
    val docs = t(s, dir, "documents")
    Dedup.decisionsFromPairs(docs, Dedup.ngramJaccard(docs))
      .orderBy("doc_id")
  }.oracle(
    """WITH nt AS (
      |  SELECT doc_id, trim(regexp_replace(lower(text), '\s+', ' ', 'g'))
      |    AS t FROM documents),
      |gr AS (
      |  SELECT DISTINCT doc_id, g FROM (
      |    SELECT doc_id, unnest(CASE WHEN length(t) >= 8
      |      THEN list_transform(generate_series(1, length(t) - 7),
      |                          i -> substr(t, i, 8))
      |      ELSE [t] END) AS g
      |    FROM nt) u),
      |sizes AS (SELECT doc_id, count(*) AS n FROM gr GROUP BY doc_id),
      |common AS (
      |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_common
      |  FROM gr a JOIN gr b ON a.g = b.g AND a.doc_id < b.doc_id
      |  GROUP BY 1, 2),
      |p AS (
      |  SELECT id_a, id_b FROM common
      |  JOIN sizes na ON na.doc_id = id_a
      |  JOIN sizes nb ON nb.doc_id = id_b
      |  WHERE CAST(n_common AS DOUBLE)
      |    / CAST(na.n + nb.n - n_common AS DOUBLE) >= 0.7),
      |edges AS (SELECT id_a AS doc_id, id_b AS nb FROM p
      |          UNION ALL SELECT id_b, id_a FROM p),
      |rep0 AS (SELECT doc_id, min(nb) AS min_nb FROM edges GROUP BY doc_id),
      |r AS (SELECT d.doc_id,
      |        least(d.doc_id, coalesce(rep0.min_nb, d.doc_id)) AS rep_id
      |      FROM documents d LEFT JOIN rep0 ON d.doc_id = rep0.doc_id)
      |SELECT doc_id, doc_id = rep_id AS keep,
      |  CASE WHEN doc_id <> rep_id THEN rep_id END AS dup_of
      |FROM r ORDER BY doc_id""".stripMargin)

  query("dedup_minhash_increment") { (s, dir) =>
    // Epoch merge: docs with doc_id % 5 = 0 are "today's increment";
    // emitted pairs must be exactly the threshold-Jaccard pairs
    // touching the increment (old×old pairs belong to the previous
    // epoch's run and are not re-verified).
    Dedup.minhashLshIncrement(
      t(s, dir, "documents"), col("doc_id") % 5 === 0)
  }.oracle(
    // Epoch merge: the same exact pair set restricted to pairs with at
    // least one increment member.
    (minhashPairsOracle.replace("WHERE jaccard >= 0.8",
      "WHERE jaccard >= 0.8 AND (id_a % 5 = 0 OR id_b % 5 = 0)")))

  query("dedup_minhash_index_merge") { (s, dir) =>
    // The PERSISTED-index epoch merge: build the previous epoch's
    // index (docs with doc_id % 5 != 0) as two bucketed tables, then
    // merge today's increment (doc_id % 5 = 0) against it. Must emit
    // exactly the increment-touching threshold pairs — the same
    // oracle as dedup_minhash_increment — while the index side plans
    // with ZERO shuffle exchanges (asserted here and in LayoutSpec):
    // the bucketed layout IS the exchange, paid once at write time.
    val docs = t(s, dir, "documents")
    Dedup.writeMinhashIndex(
      docs.filter(col("doc_id") % 5 =!= 0), "mhidx")
    // the index-side candidate aggregation must cluster on the
    // bucketed scan's own partitioning — no exchange
    val idxAgg = s.table("mhidx_postings").groupBy("bk")
      .agg(count(lit(1)).as("n"))
    require(!graft.sources.Layout.hasShuffle(idxAgg),
      "index-side bucket aggregation unexpectedly shuffled")
    Dedup.minhashIndexMerge(
      docs.filter(col("doc_id") % 5 === 0), "mhidx")
  }.oracle(
    // the persisted-index merge must converge to the SAME pair set as
    // the re-derive-everything increment — identical oracle
    (minhashPairsOracle.replace("WHERE jaccard >= 0.8",
      "WHERE jaccard >= 0.8 AND (id_a % 5 = 0 OR id_b % 5 = 0)")))

  query("dedup_minhash_epoch_append") { (s, dir) =>
    // The FULL ingest loop across two epochs: build the index for the
    // base corpus (doc_id % 5 ∉ {0,1}), APPEND epoch 1's increment
    // (% 5 = 1) into the bucketed index — no rebuild — then merge
    // epoch 2 (% 5 = 0) against the appended index. Pairs touching
    // epoch 2 must equal the re-derive-everything increment (same
    // oracle as dedup_minhash_index_merge), which proves the appended
    // index is indistinguishable from a fresh full one.
    val docs = t(s, dir, "documents")
    Dedup.writeMinhashIndex(
      docs.filter(col("doc_id") % 5 =!= 0 && col("doc_id") % 5 =!= 1),
      "mhidx2")
    Dedup.appendToMinhashIndex(
      docs.filter(col("doc_id") % 5 === 1), "mhidx2")
    Dedup.minhashIndexMerge(
      docs.filter(col("doc_id") % 5 === 0), "mhidx2")
  }.oracle(
    // two-epoch loop (build → append → merge): epoch-2-touching pairs
    // must still equal the from-scratch set — the appended index is
    // indistinguishable from a fresh full one
    (minhashPairsOracle.replace("WHERE jaccard >= 0.8",
      "WHERE jaccard >= 0.8 AND (id_a % 5 = 0 OR id_b % 5 = 0)")))

  query("dedup_cc_decisions") { (s, dir) =>
    // Transitive closure over the minhash near-dup pair graph: chains
    // A~B~C collapse to min(A,B,C) (decisionsFromPairs is the
    // one-round approximation; this is the fixpoint). The oracle
    // recomputes the closure with a recursive CTE over the exact
    // Jaccard pair set.
    val docs = t(s, dir, "documents")
    Dedup.connectedComponents(docs, Dedup.minhashLsh(docs))
      .orderBy("doc_id")
  }.oracle(
    // Transitive closure (connected components): the recursive CTE
    // computes full reachability over the exact-Jaccard pair graph, so
    // every doc maps to the MINIMUM id in its component — what the
    // iterated min-label propagation must converge to.
    """WITH RECURSIVE toks AS (
      |  SELECT doc_id, string_split(trim(regexp_replace(lower(text),
      |    '\s+', ' ', 'g')), ' ') AS w FROM documents),
      |sh AS (
      |  SELECT DISTINCT doc_id, g FROM (
      |    SELECT doc_id, unnest(CASE WHEN len(w) >= 3
      |      THEN list_transform(generate_series(1, len(w) - 2),
      |                          i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])
      |      ELSE [array_to_string(w, ' ')] END) AS g
      |    FROM toks) u),
      |sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
      |common AS (
      |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_common
      |  FROM sh a JOIN sh b ON a.g = b.g AND a.doc_id < b.doc_id
      |  GROUP BY 1, 2),
      |p AS (
      |  SELECT id_a, id_b FROM common
      |  JOIN sizes na ON na.doc_id = id_a
      |  JOIN sizes nb ON nb.doc_id = id_b
      |  WHERE CAST(n_common AS DOUBLE)
      |    / CAST(na.n + nb.n - n_common AS DOUBLE) >= 0.8),
      |edges AS (SELECT id_a AS src, id_b AS dst FROM p
      |          UNION SELECT id_b, id_a FROM p),
      |reach AS (
      |  SELECT src, dst FROM edges
      |  UNION
      |  SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src),
      |comp AS (SELECT d.doc_id,
      |    least(d.doc_id, coalesce(min(r.dst), d.doc_id)) AS rep
      |  FROM documents d LEFT JOIN reach r ON r.src = d.doc_id
      |  GROUP BY d.doc_id)
      |SELECT doc_id, doc_id = rep AS keep,
      |  CASE WHEN doc_id <> rep THEN rep END AS dup_of
      |FROM comp ORDER BY doc_id""".stripMargin)

  query("decontam_ngram") { (s, dir) =>
    // Benchmark decontamination: docs with doc_id % 17 = 0 stand in for
    // the (tiny, broadcast) eval set; every remaining training doc gets
    // a shared-5-gram hit count and a contaminated flag. n = 5 because
    // the synthetic corpus draws from a ~30-word vocabulary: 3-grams
    // collide by chance across most docs, while 5-gram hits isolate the
    // planted near-dup pairs — the signal a decontamination pass is for.
    // The eval set is SCALE-INVARIANT (doc_id < 100000 — a no-op at
    // every driver scale, where all ids are < 5000): benchmark sets
    // are fixed-size in reality, so growing the eval side with the
    // training corpus would model a regime that doesn't exist and
    // made this family superlinear per decade BY CONSTRUCTION at the
    // scale rehearsal (the same bound discipline as the ANN query
    // batch). Only the TRAINING side grows with the corpus.
    val d = t(s, dir, "documents")
    Decontaminate.overlap(
      d.filter(col("doc_id") % 17 =!= 0),
      d.filter(col("doc_id") % 17 === 0 && col("doc_id") < 100000), n = 5)
  }.oracle(
    // Decontamination: the oracle re-derives the 5-gram sets exactly
    // (same shingle CTE shape as the minhash oracles), intersects with
    // the eval side's distinct grams, and left-joins counts back to the
    // training corpus.
    decontamOracle)

  query("decontam_ngram_bc") { (s, dir) =>
    // The zero-shuffle regime of the same operator: eval grams
    // collected once and shipped as an executor broadcast, hit counts
    // computed inside the training scan — the only exchange is the
    // output sort. Same semantics and oracle as decontam_ngram.
    val d = t(s, dir, "documents")
    Decontaminate.overlapBroadcast(
      d.filter(col("doc_id") % 17 =!= 0),
      d.filter(col("doc_id") % 17 === 0 && col("doc_id") < 100000), n = 5)
  }.oracle(
    // The zero-shuffle broadcast-expression regime and the stateless
    // streaming twin must both equal the join-based operator
    // row-for-row — one oracle for all three.
    decontamOracle)

  query("decontam_multi") { (s, dir) =>
    // Three benchmark sets screened in one corpus pass (mod-17/19/23
    // doc families — overlapping memberships on purpose); the corpus
    // never rescans per set, and only contaminated (doc, set) pairs
    // come back. See Decontaminate.overlapMulti.
    val d = t(s, dir, "documents")
    val train = d.filter(col("doc_id") % 17 =!= 0 &&
      col("doc_id") % 19 =!= 0 && col("doc_id") % 23 =!= 0)
    graft.operators.Decontaminate.overlapMulti(train, Seq(
      "eval_a" -> d.filter(col("doc_id") % 17 === 0 &&
        col("doc_id") < 100000),
      "eval_b" -> d.filter(col("doc_id") % 19 === 0 &&
        col("doc_id") < 100000),
      "eval_c" -> d.filter(col("doc_id") % 23 === 0 &&
        col("doc_id") < 100000)), n = 5)
  }.oracle(
    // Multi-set screening: the SHARED gram CTE (decontamGramCtes),
    // three tagged eval sides unioned, one join, per-(doc, set)
    // counts — delta rows only.
    s"""WITH $decontamGramCtes,
      |ev AS (
      |  SELECT DISTINCT 'eval_a' AS eval_set, g FROM sh
      |  WHERE doc_id % 17 = 0 AND doc_id < 100000
      |  UNION
      |  SELECT DISTINCT 'eval_b', g FROM sh
      |  WHERE doc_id % 19 = 0 AND doc_id < 100000
      |  UNION
      |  SELECT DISTINCT 'eval_c', g FROM sh
      |  WHERE doc_id % 23 = 0 AND doc_id < 100000)
      |SELECT sh.doc_id, ev.eval_set,
      |  CAST(count(*) AS BIGINT) AS n_hits
      |FROM sh JOIN ev USING (g)
      |WHERE sh.doc_id % 17 <> 0 AND sh.doc_id % 19 <> 0
      |  AND sh.doc_id % 23 <> 0
      |GROUP BY sh.doc_id, ev.eval_set
      |ORDER BY sh.doc_id, ev.eval_set""".stripMargin)

  query("dedup_sorted_nbr") { (s, dir) =>
    // Blocked sorted-neighborhood dedup — the sort-based blocking
    // strategy next to the hash-based families: one block-keyed
    // window, candidates are the next 3 docs in normalized-text sort
    // order, verification is exact 8-gram Jaccard in the scan stage.
    // The oracle replays the same window (lead 1..3 per block) and
    // verifies candidates with the string-gram Jaccard formula.
    graft.operators.Dedup.sortedNeighborhoodPairs(
      t(s, dir, "documents"))
  }.oracle(
    // LLM-pipeline oracles (DuckDB dialect). The set-similarity dedup ops
    // are oracle-checked by re-deriving the MATH (exact shingle/ngram
    // Jaccard over raw strings) rather than the algorithm: the LSH band
    // structure is a candidate pruner whose planted-pair recall is ~1 on
    // this data, so the emitted pair set must equal the full
    // threshold-Jaccard pair set (verified bit-exact at sf0.001/0.01/0.1).
    // Ops whose output depends on engine-side HASHING are oracled by
    // re-deriving the hash itself: hyperplane plane components and IVF
    // centroids are exported as double literals (data-independent
    // constants / captured model) and the banding + probe + top-k math
    // recomputed in SQL. Only HLL sketch internals stay rows-only.
    // SimHash oracles: XXH64.hashUnsafeBytes(token, 42) is re-derived
    // byte-for-byte in HUGEINT SQL (xxh64TokenChainSql), the 64 bit
    // votes and signature re-packed, then banding / capping / Hamming
    // recomputed — the complete simhash pipeline independently in
    // DuckDB.
    // Sorted-neighborhood: identical block key, identical per-block
    // lead window, candidates verified with the string-gram Jaccard.
    """WITH nt AS (
      |  SELECT doc_id, text,
      |    trim(regexp_replace(lower(text), '\s+', ' ', 'g')) AS k
      |  FROM documents),
      |bl AS (SELECT doc_id, text, k, substr(k, 1, 4) AS block FROM nt),
      |nbr AS (
      |  SELECT doc_id,
      |    lead(doc_id, 1) OVER w AS n1,
      |    lead(doc_id, 2) OVER w AS n2,
      |    lead(doc_id, 3) OVER w AS n3
      |  FROM bl
      |  WINDOW w AS (PARTITION BY block ORDER BY k, doc_id)),
      |cand AS (
      |  SELECT DISTINCT least(doc_id, nb) AS id_a,
      |    greatest(doc_id, nb) AS id_b
      |  FROM (SELECT doc_id, unnest([n1, n2, n3]) AS nb FROM nbr)
      |  WHERE nb IS NOT NULL),
      |gr AS (
      |  SELECT DISTINCT doc_id, g FROM (
      |    SELECT doc_id, unnest(CASE WHEN length(k) >= 8
      |      THEN list_transform(generate_series(1, length(k) - 7),
      |                          i -> substr(k, i, 8))
      |      ELSE [k] END) AS g
      |    FROM nt) u),
      |sizes AS (SELECT doc_id, count(*) AS n FROM gr GROUP BY doc_id),
      |common AS (
      |  SELECT c.id_a, c.id_b, count(*) AS n_common
      |  FROM cand c
      |  JOIN gr ga ON ga.doc_id = c.id_a
      |  JOIN gr gb ON gb.doc_id = c.id_b AND gb.g = ga.g
      |  GROUP BY 1, 2)
      |SELECT id_a, id_b FROM common
      |JOIN sizes na ON na.doc_id = id_a
      |JOIN sizes nb ON nb.doc_id = id_b
      |WHERE CAST(n_common AS DOUBLE)
      |  / CAST(na.n + nb.n - n_common AS DOUBLE) >= 0.7
      |ORDER BY id_a, id_b""".stripMargin)

  query("dedup_phash") { (s, dir) =>
    // Perceptual image dedup — the multimodal/dedup crossover: every
    // document becomes a real PNG, the FULL decode recovers pixels,
    // dHash reduces them to a 64-bit gradient signature, and the
    // signature-generic banded-Hamming join (the simhash machinery)
    // finds near-duplicate images. One posting shuffle, O(cap)
    // buckets; the oracle replays the 9×8 sampling grid position for
    // position from the text bytes, assembles the same 64 bits, and
    // re-runs the banding + popcount verification in HUGEINT SQL.
    graft.operators.Dedup.hammingPairsFromSigs(
      Multimodal.dHash(s,
        Multimodal.asPngMedia(t(s, dir, "documents"))).toDF(),
      maxHamming = 5, bands = 8, maxBucket = 500)
      .orderBy("id_a", "id_b")
  }.oracle {
    // Perceptual-hash dedup: the 9×8 dHash grid is replayed position
    // for position from the text bytes (pixels are the bytes cycled,
    // per the PNG encode — the resize-oracle discipline), the 64 bits
    // are assembled in two 32-bit halves (BIGINT shifts stay in
    // range), wrapped to the signed two's-complement value, then the
    // simhash banding + popcount verification runs unchanged.
    def bAt(pos: String): String =
      s"(strpos('123456789ABCDEF', substring(hx, 2*(($pos) % n) + 1, 1))" +
        s" * 16 + strpos('123456789ABCDEF'," +
        s" substring(hx, 2*(($pos) % n) + 2, 1)))"
    val px = "(((gi // 9) * h // 8) * w + ((gi % 9) * w // 9)) * 3"
    val bit = "gr[(k // 8) * 9 + (k % 8) + 1] < gr[(k // 8) * 9 + (k % 8) + 2]"
    s"""WITH d AS (
       |  SELECT doc_id, hex(encode(text)) AS hx, strlen(text) AS n,
       |    CAST(1 + strlen(text) % 60 AS BIGINT) AS w,
       |    CAST(1 + (strlen(text) * 11) % 47 AS BIGINT) AS h
       |  FROM documents),
       |g AS (
       |  SELECT doc_id, list_transform(generate_series(0, 71), gi ->
       |    CASE WHEN n = 0 THEN 0 ELSE
       |      (${bAt(px + " + 0")}
       |       + ${bAt(px + " + 1")}
       |       + ${bAt(px + " + 2")}) // 3 END) AS gr
       |  FROM d),
       |halves AS (
       |  SELECT doc_id,
       |    list_aggregate(list_transform(generate_series(0, 31), k ->
       |      CASE WHEN $bit THEN 1::BIGINT << k ELSE 0 END), 'sum') AS lo,
       |    list_aggregate(list_transform(generate_series(32, 63), k ->
       |      CASE WHEN $bit THEN 1::BIGINT << (k - 32) ELSE 0 END),
       |      'sum') AS hi
       |  FROM g),
       |sigs AS (
       |  SELECT doc_id,
       |    hi::HUGEINT * 4294967296 + lo::HUGEINT AS s
       |  FROM halves),
       |bands AS (SELECT * FROM (VALUES
       |    (0, 1::HUGEINT), (1, 256::HUGEINT), (2, 65536::HUGEINT),
       |    (3, 16777216::HUGEINT), (4, 4294967296::HUGEINT),
       |    (5, 1099511627776::HUGEINT), (6, 281474976710656::HUGEINT),
       |    (7, 72057594037927936::HUGEINT)) t(band, dv)),
       |banded AS (SELECT doc_id, s, band, (s // dv) % 256 AS bkey
       |    FROM sigs, bands),
       |capped AS (SELECT * FROM (
       |    SELECT doc_id, s, band, bkey, row_number() OVER (
       |      PARTITION BY band, bkey ORDER BY doc_id) AS rn FROM banded)
       |    WHERE rn <= 500),
       |pairs AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
       |    CAST(bit_count(xor(
       |      CAST(CASE WHEN a.s >= 9223372036854775808::HUGEINT
       |           THEN a.s - $xxhM ELSE a.s END AS BIGINT),
       |      CAST(CASE WHEN b.s >= 9223372036854775808::HUGEINT
       |           THEN b.s - $xxhM ELSE b.s END AS BIGINT)))
       |      AS INTEGER) AS hamming
       |  FROM capped a JOIN capped b
       |    ON a.band = b.band AND a.bkey = b.bkey
       |      AND a.doc_id < b.doc_id)
       |SELECT id_a, id_b, hamming FROM pairs
       |WHERE hamming <= 5 ORDER BY id_a, id_b""".stripMargin
  }

  query("pipeline_clean_corpus") { (s, dir) =>
    // End-to-end LLM-data-prep composition: fingerprint-dedup → quality
    // gate → language ID → per-language clean-corpus stats. ONE wide
    // shuffle (the fp window carries the text once) + the final tiny
    // agg — the shape of a real 100 TB pre-training cleanup job. The
    // former skinny-dedup-then-join-back plan shuffled the wide rows
    // TWICE once the keep-id side outgrew the broadcast threshold (the
    // sf1→sf10 rehearsal hit exactly that cliff: 1.4 s → 29 s); a
    // keep-marking min-window over the fingerprint is the same
    // decision [[Dedup.exact]] makes, computed where the text already
    // is.
    val docs = t(s, dir, "documents")
    val w = Window.partitionBy("fp")
    docs
      .withColumn("fp", TextFunctions.fingerprint(col("text")))
      .withColumn("keep", col("doc_id") === min("doc_id").over(w))
      .filter(col("keep"))
      .withColumn("quality", TextFunctions.qualityScore(col("text")))
      .withColumn("lang_pred", TextFunctions.langId(col("text")))
      .filter(col("quality") > 0.2)
      .groupBy("lang_pred")
      .agg(
        count(lit(1)).as("n_docs"),
        sum(TextFunctions.tokenCount(col("text")).cast("long"))
          .as("total_tokens"))
      .orderBy("lang_pred")
  }.oracle(
    s"""WITH fp AS (
      |  SELECT doc_id,
      |    md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS f
      |  FROM documents),
      |keep AS (
      |  SELECT doc_id FROM (
      |    SELECT doc_id, min(doc_id) OVER (PARTITION BY f) AS rep
      |    FROM fp) x
      |  WHERE doc_id = rep),
      |base AS (
      |  SELECT d.doc_id, d.text,
      |    trim(regexp_replace(lower(d.text), '\\s+', ' ', 'g')) AS nt
      |  FROM documents d JOIN keep k ON d.doc_id = k.doc_id),
      |tk AS (
      |  SELECT doc_id, text,
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
      |  SELECT doc_id, toks,
      |    $langHitsSql,
      |    CASE WHEN len(toks) > 0 THEN
      |      CAST(len(list_filter(toks, t -> list_contains($stopwordsSql, t)))
      |        AS DOUBLE) / CAST(len(toks) AS DOUBLE)
      |      ELSE 0.0 END AS stopword_ratio,
      |    CASE WHEN n_chars > 0 THEN CAST(n_chars - n_alnum - n_ws
      |      AS DOUBLE) / CAST(n_chars AS DOUBLE) ELSE 0.0 END
      |      AS punct_ratio,
      |    CASE WHEN n_chars > 0 THEN CAST(n_digit AS DOUBLE)
      |      / CAST(n_chars AS DOUBLE) ELSE 0.0 END AS digit_ratio
      |  FROM tk2),
      |final AS (
      |  SELECT doc_id, $langPredSql AS lang_pred, len(toks) AS n_tokens,
      |    least(CAST(len(toks) AS DOUBLE) / 100.0, 1.0) * 0.3
      |      + greatest(0.0, 1.0 - punct_ratio * 5) * 0.3
      |      + greatest(0.0, 1.0 - digit_ratio * 5) * 0.2
      |      + least(stopword_ratio * 3, 1.0) * 0.2 AS quality
      |  FROM scored)
      |SELECT lang_pred, count(*) AS n_docs,
      |  CAST(sum(n_tokens) AS BIGINT) AS total_tokens
      |FROM final WHERE quality > 0.2
      |GROUP BY lang_pred ORDER BY lang_pred""".stripMargin)

  private val splitFractions =
    Seq("train" -> 0.9, "val" -> 0.05, "test" -> 0.05)

  // ListMap: sampleStratified folds the map in iteration order and a
  // LATER entry wins on (impossible here) stratum overlap — pin the
  // order so the Spark plan and the oracle CASE agree structurally.
  private val stratifiedFractions = scala.collection.immutable.ListMap(
    "en" -> 0.25, "zh" -> 0.8, "es" -> 1.0, "de" -> 0.5)

  query("agg_sample_estimate") { (s, dir) =>
    // Sample-based aggregate estimation — the "answer from a tenth of
    // the scan" move a 100 TB dashboard runs. Membership is a pure
    // function of the row's key (XXH64 bucket < 1000 of 10000 — the
    // same deterministic-sampling contract as sample_splits; rows
    // sharing a key travel together, so the sample is stable under
    // rerun/reshuffle/append). The gate query computes estimate AND
    // exact in one conditional aggregate to REPORT the true error in
    // exact ppm integers; the production path scans only the sample.
    val li = t(s, dir, "lineitem")
    val key = (col("l_orderkey") * 10 + col("l_linenumber")).cast("long")
    val inSample = pmod(xxhash64(key), lit(10000)) < 1000
    li.groupBy("l_returnflag")
      .agg(
        count(lit(1)).as("exact_rows"),
        sum(col("l_quantity").cast("long")).as("exact_qty"),
        (sum(when(inSample, 1L).otherwise(0L)) * 10).as("est_rows"),
        (sum(when(inSample, col("l_quantity").cast("long"))
          .otherwise(0L)) * 10).as("est_qty"))
      .select(col("l_returnflag"),
        col("exact_rows"), col("est_rows"),
        expr("abs(est_rows - exact_rows) * 1000000L DIV exact_rows")
          .as("err_rows_ppm"),
        col("exact_qty"), col("est_qty"),
        expr("abs(est_qty - exact_qty) * 1000000L DIV exact_qty")
          .as("err_qty_ppm"))
      .orderBy("l_returnflag")
  }.oracle(
    // Sample estimate: XXH64 membership re-derived in HUGEINT SQL on
    // the same composite key, then the identical conditional sums and
    // exact-ppm error arithmetic. Duplicate keys hash once here
    // (bucket is a pure function of k), so joining membership back by
    // key reproduces Spark's per-row evaluation exactly.
    s"""WITH ${xxhash64BucketSql(
           "(l_orderkey * 10 + l_linenumber)", "lineitem")},
       |mem AS (SELECT DISTINCT k, bucket < 1000 AS in_sample FROM bk),
       |j AS (SELECT l.l_returnflag,
       |        CAST(l.l_quantity AS BIGINT) AS qty, m.in_sample
       |      FROM lineitem l
       |      JOIN mem m ON m.k = l.l_orderkey * 10 + l.l_linenumber),
       |g AS (SELECT l_returnflag,
       |        count(*) AS exact_rows,
       |        CAST(sum(qty) AS BIGINT) AS exact_qty,
       |        CAST(10 * sum(CASE WHEN in_sample THEN 1 ELSE 0 END)
       |          AS BIGINT) AS est_rows,
       |        CAST(10 * sum(CASE WHEN in_sample THEN qty ELSE 0 END)
       |          AS BIGINT) AS est_qty
       |      FROM j GROUP BY l_returnflag)
       |SELECT l_returnflag, exact_rows, est_rows,
       |  CAST(abs(est_rows - exact_rows) * 1000000 // exact_rows
       |    AS BIGINT) AS err_rows_ppm,
       |  exact_qty, est_qty,
       |  CAST(abs(est_qty - exact_qty) * 1000000 // exact_qty
       |    AS BIGINT) AS err_qty_ppm
       |FROM g ORDER BY l_returnflag""".stripMargin)

  query("sample_splits") { (s, dir) =>
    // Reproducible train/val/test assignment: pure function of the row
    // key (xxhash64 bucket), so membership survives reruns, reshuffles
    // and incremental appends. Oracle-checked: the oracle re-derives
    // XXH64(long) itself in DuckDB SQL (see xxhash64BucketSql — 128-bit
    // HUGEINT arithmetic mod 2^64), bit-exact against Spark's hash.
    graft.operators.Sampling.splitByHash(
      t(s, dir, "documents"), col("doc_id"), splitFractions)
      .select("doc_id", "split")
      .orderBy("doc_id")
  }.oracle(
    s"""WITH ${xxhash64BucketSql("doc_id", "documents")}
       |SELECT k AS doc_id, $splitCaseSql AS split
       |FROM bk ORDER BY doc_id""".stripMargin)

  query("sample_stratified") { (s, dir) =>
    // Per-stratum deterministic downsampling — the rebalancing move of
    // every training-data pipeline (downsample the dominant language,
    // keep the rare ones whole). Same pure-function-of-key contract as
    // sample_splits: a row's keep decision never changes across runs,
    // layouts, or incremental appends. Strata absent from the map
    // ('fr') are dropped entirely. Oracle re-derives XXH64(doc_id) in
    // HUGEINT SQL and applies the same bucket thresholds.
    graft.operators.Sampling.sampleStratified(
      t(s, dir, "documents"), col("doc_id"), col("lang"),
      stratifiedFractions)
      .select("doc_id", "lang")
      .orderBy("doc_id")
  }.oracle(
    s"""WITH ${xxhash64BucketSql("doc_id", "documents")}
       |SELECT d.doc_id, d.lang
       |FROM documents d JOIN bk ON bk.k = d.doc_id
       |WHERE $stratifiedKeepSql
       |ORDER BY d.doc_id""".stripMargin)

  // ListMap for the same reason as stratifiedFractions: the fold order
  // is the CASE order on both sides.
  private val mixWeights = scala.collection.immutable.ListMap(
    "src0" -> 2.2, "src1" -> 0.5, "src2" -> 1.0, "src3" -> 3.0)

  query("sample_weighted_mix") { (s, dir) =>
    // Epoch composition: deterministic weighted source mixing with
    // REPETITION (2.2 epochs of src0: every row twice, plus a stable
    // hash-chosen 20% a third time). Pure function of the key — the
    // same corpus mixes identically on every run; sources outside the
    // recipe are dropped. Copies materialize as a scan-stage explode.
    graft.operators.Sampling.weightedMix(
      t(s, dir, "documents"), col("doc_id"), col("source"), mixWeights)
      .select("doc_id", "source", "copy_id")
      .orderBy("doc_id", "copy_id")
  }.oracle(
    // Weighted mix: the same XXH64 bucket, floor + fractional-bucket
    // multiplicity per source, copies via generate_series.
    s"""WITH ${xxhash64BucketSql("doc_id", "documents")},
       |m AS (
       |  SELECT d.doc_id, d.source, $mixCopiesSql AS n
       |  FROM documents d JOIN bk ON bk.k = d.doc_id)
       |SELECT doc_id, source,
       |  CAST(unnest(generate_series(0, n - 1)) AS BIGINT) AS copy_id
       |FROM m WHERE n > 0 ORDER BY doc_id, copy_id""".stripMargin)

  query("curation_domain_cap") { (s, dir) =>
    // Per-domain diversity cap: at most 3 docs per host, chosen by
    // quality. The corpus has no URL column, so one is derived
    // deterministically from (source, doc_id) — the multimodal
    // pattern: synthesize the container, exercise the REAL parsing
    // path (builtin parse_url host extraction) and let the oracle
    // re-derive the expected host string and the capped ranking.
    val d = t(s, dir, "documents")
    val url = concat(lit("https://"), col("source"), lit("-"),
      pmod(col("doc_id"), lit(7L)), lit(".example.com/docs/"),
      col("doc_id"))
    graft.operators.Sampling.domainCap(
        d, url, TextFunctions.qualityScore(col("text")), cap = 3)
      .select(col("doc_id"), col("host"), col("rank"), col("kept"))
      .orderBy("doc_id")
  }.oracle(
    // Domain cap: the oracle re-derives the synthesized host string
    // directly and replays the micro-rounded quality ranking (quality
    // doubles are bit-identical per the text_quality oracle; the
    // micro-rounding before ORDER BY is what makes the rank itself
    // engine-portable).
    s"""WITH base AS (
       |  SELECT doc_id, source, text,
       |    trim(regexp_replace(lower(text), '\\s+', ' ', 'g')) AS nt
       |  FROM documents),
       |tk AS (
       |  SELECT doc_id, source, text,
       |    list_filter(string_split(nt, ' '), x -> len(x) > 0) AS toks
       |  FROM base),
       |tk2 AS (
       |  SELECT *, length(text) AS n_chars,
       |    length(regexp_replace(lower(text), '[^a-z0-9]', '', 'g'))
       |      AS n_alnum,
       |    length(regexp_replace(lower(text), '[^0-9]', '', 'g'))
       |      AS n_digit,
       |    length(text) - length(regexp_replace(text, '\\s', '', 'g'))
       |      AS n_ws
       |  FROM tk),
       |scored AS (
       |  SELECT doc_id, source,
       |    CASE WHEN len(toks) > 0 THEN
       |      CAST(len(list_filter(toks, t -> list_contains($stopwordsSql, t)))
       |        AS DOUBLE) / CAST(len(toks) AS DOUBLE)
       |      ELSE 0.0 END AS stopword_ratio,
       |    CASE WHEN n_chars > 0 THEN CAST(n_chars - n_alnum - n_ws
       |      AS DOUBLE) / CAST(n_chars AS DOUBLE) ELSE 0.0 END
       |      AS punct_ratio,
       |    CASE WHEN n_chars > 0 THEN CAST(n_digit AS DOUBLE)
       |      / CAST(n_chars AS DOUBLE) ELSE 0.0 END AS digit_ratio,
       |    len(toks) AS n_toks
       |  FROM tk2),
       |q AS (
       |  SELECT doc_id,
       |    source || '-' || CAST(doc_id % 7 AS VARCHAR)
       |      || '.example.com' AS host,
       |    CAST(round((least(CAST(n_toks AS DOUBLE) / 100.0, 1.0) * 0.3
       |      + greatest(0.0, 1.0 - punct_ratio * 5) * 0.3
       |      + greatest(0.0, 1.0 - digit_ratio * 5) * 0.2
       |      + least(stopword_ratio * 3, 1.0) * 0.2) * 1e6) AS BIGINT)
       |      AS q_micros
       |  FROM scored),
       |r AS (
       |  SELECT doc_id, host,
       |    CAST(row_number() OVER (PARTITION BY host
       |      ORDER BY q_micros DESC, doc_id) AS INTEGER) AS rank
       |  FROM q)
       |SELECT doc_id, host, rank, rank <= 3 AS kept
       |FROM r ORDER BY doc_id""".stripMargin)

  query("curation_url_dedup") { (s, dir) =>
    // URL canonicalization dedup — the curation step upstream of any
    // text-level dedup in a crawl pipeline: the same resource crawled
    // under scheme/case/port/tracking-param/fragment noise collapses
    // onto one canonical key and only the smallest doc_id survives.
    // Like domain_cap, the corpus has no URL column, so one is
    // synthesized deterministically: the RESOURCE identity is a pure
    // function of k = doc_id % 250 (host shard, path, real query
    // param), while the NOISE varies with doc_id (scheme spelling,
    // www., host case, :443, trailing slash, utm_*, fragment) — so
    // every duplicate group exercises the canonicalizer, and the
    // oracle re-derives both the synthesis and the canonical pipeline.
    // One canonical-key-partitioned window — the exact-dedup shape.
    val d = t(s, dir, "documents")
    val k = pmod(col("doc_id"), lit(250L))
    val hostBase = concat(lit("ex"), pmod(k, lit(10L)),
      lit(".example.org"))
    val url = concat(
      element_at(array(lit("https://"), lit("http://"), lit("HTTPS://"),
        lit("Http://")), (pmod(col("doc_id"), lit(4L)) + 1).cast("int")),
      when(pmod(col("doc_id"), lit(3L)) === 0, lit("www."))
        .otherwise(lit("")),
      when(pmod(col("doc_id"), lit(5L)) === 0, upper(hostBase))
        .otherwise(hostBase),
      when(pmod(col("doc_id"), lit(7L)) === 0, lit(":443"))
        .otherwise(lit("")),
      lit("/a/"), k,
      when(pmod(col("doc_id"), lit(2L)) === 0, lit("/")).otherwise(lit("")),
      when(pmod(k, lit(3L)) < 2, concat(lit("?id="), pmod(k, lit(5L))))
        .otherwise(lit("")),
      when(pmod(col("doc_id"), lit(3L)) === 1,
        when(pmod(k, lit(3L)) < 2, lit("&utm_source=feed"))
          .otherwise(lit("?utm_source=feed"))).otherwise(lit("")),
      when(pmod(col("doc_id"), lit(6L)) === 2,
        concat(lit("#sec-"), col("doc_id"))).otherwise(lit("")))
    val w = Window.partitionBy("canonical")
    d.select(col("doc_id"), url.as("url"),
        TextFunctions.canonicalUrl(url).as("canonical"))
      .withColumn("rep", min("doc_id").over(w))
      .select(col("doc_id"), col("url"), col("canonical"),
        (col("doc_id") === col("rep")).as("keep"),
        when(col("doc_id") =!= col("rep"), col("rep")).as("dup_of"))
      .orderBy("doc_id")
  }.oracle(
    // URL dedup: the oracle re-synthesizes the noisy URL with the same
    // doc_id arithmetic, then replays the canonicalization pipeline
    // step for step. DuckDB's regexp_replace is first-match by
    // default, so the two replace-ALL steps (utm strip, /? collapse)
    // pass 'g' — Spark's regexp_replace is always global.
    """WITH u AS (
      |  SELECT doc_id, doc_id % 250 AS k,
      |    CASE doc_id % 4 WHEN 0 THEN 'https://' WHEN 1 THEN 'http://'
      |         WHEN 2 THEN 'HTTPS://' ELSE 'Http://' END
      |    || CASE WHEN doc_id % 3 = 0 THEN 'www.' ELSE '' END
      |    || CASE WHEN doc_id % 5 = 0
      |         THEN upper('ex' || ((doc_id % 250) % 10) || '.example.org')
      |         ELSE 'ex' || ((doc_id % 250) % 10) || '.example.org' END
      |    || CASE WHEN doc_id % 7 = 0 THEN ':443' ELSE '' END
      |    || '/a/' || (doc_id % 250)
      |    || CASE WHEN doc_id % 2 = 0 THEN '/' ELSE '' END
      |    || CASE WHEN (doc_id % 250) % 3 < 2
      |         THEN '?id=' || ((doc_id % 250) % 5) ELSE '' END
      |    || CASE WHEN doc_id % 3 = 1 THEN
      |         CASE WHEN (doc_id % 250) % 3 < 2 THEN '&utm_source=feed'
      |              ELSE '?utm_source=feed' END ELSE '' END
      |    || CASE WHEN doc_id % 6 = 2 THEN '#sec-' || doc_id
      |         ELSE '' END AS url
      |  FROM documents),
      |s1 AS (
      |  SELECT doc_id, url,
      |    regexp_replace(regexp_replace(url,
      |      '^[A-Za-z][A-Za-z0-9+.-]*://', ''), '#.*$', '') AS nf
      |  FROM u),
      |s2 AS (
      |  SELECT doc_id, url,
      |    regexp_replace(regexp_replace(
      |      lower(regexp_extract(nf, '^[^/?]+')),
      |      '^www\.', ''), ':(80|443)$', '') AS h,
      |    regexp_replace(regexp_replace(regexp_replace(
      |      regexp_replace(regexp_replace(
      |        regexp_replace(nf, '^[^/?]+', ''),
      |        '[?&]utm_[A-Za-z0-9_]*=[^&#]*', '', 'g'),
      |      '^([^?&]*)&', '\1?'), '/\?', '?', 'g'),
      |      '\?$', ''), '/$', '') AS r
      |  FROM s1),
      |c AS (SELECT doc_id, url, h || r AS canonical FROM s2)
      |SELECT doc_id, url, canonical,
      |  doc_id = min(doc_id) OVER (PARTITION BY canonical) AS keep,
      |  CASE WHEN doc_id <> min(doc_id) OVER (PARTITION BY canonical)
      |       THEN min(doc_id) OVER (PARTITION BY canonical) END AS dup_of
      |FROM c ORDER BY doc_id""".stripMargin)

  query("pack_sequences") { (s, dir) =>
    // Sequence packing manifest (concat-then-chunk): the corpus cut
    // into 128-token training sequences across 8 independent
    // hash-sharded streams — one hash-partition shuffle, per-shard
    // local sort, token counting in the scan stage. The oracle
    // re-derives XXH64(doc_id) in HUGEINT SQL (shard + stream order
    // are both functions of it) and replays the running-offset window
    // arithmetic exactly.
    graft.operators.Packing.packManifest(
      t(s, dir, "documents"), seqLen = 128, nShards = 8)
      .orderBy("doc_id")
  }.oracle(
    // Sequence packing: shard + stream order are functions of
    // XXH64(doc_id) (re-derived in HUGEINT SQL); the running token
    // offset is a per-shard window sum; sums over BIGINT come back
    // HUGEINT in this dialect, so end_off is cast down before the
    // sequence-number division.
    s"""WITH tok AS (
       |  SELECT doc_id, CASE WHEN trim(text) = '' THEN 0 ELSE
       |    CAST(len(string_split(trim(regexp_replace(lower(text),
       |      '\\s+', ' ', 'g')), ' ')) AS BIGINT) END AS n_tokens
       |  FROM documents),
       |${xxhash64BucketSql("doc_id", "tok")},
       |ord AS (
       |  SELECT t.doc_id, t.n_tokens, sg.s AS h,
       |    CAST(((sg.s % 8) + 8) % 8 AS INTEGER) AS shard
       |  FROM tok t JOIN sg ON sg.k = t.doc_id
       |  WHERE t.n_tokens > 0),
       |off AS (
       |  SELECT doc_id, shard, n_tokens,
       |    CAST(sum(n_tokens) OVER (PARTITION BY shard
       |      ORDER BY h, doc_id ROWS UNBOUNDED PRECEDING) AS BIGINT)
       |      AS end_off
       |  FROM ord)
       |SELECT doc_id, shard, n_tokens,
       |  (end_off - n_tokens) // 128 AS start_seq,
       |  (end_off - 1) // 128 AS end_seq,
       |  (end_off - n_tokens) % 128 AS offset_in_seq
       |FROM off ORDER BY doc_id""".stripMargin)

  query("pack_sequence_index") { (s, dir) =>
    // Loader-side expansion of the packing manifest: per (shard, seq),
    // how many documents fill the sequence and their id range. The
    // explode fan-out is bounded by token mass / seqLen, not doc count.
    graft.operators.Packing.sequenceIndex(
      graft.operators.Packing.packManifest(
        t(s, dir, "documents"), seqLen = 128, nShards = 8))
      .orderBy("shard", "seq")
  }.oracle(
    s"""WITH tok AS (
       |  SELECT doc_id, CASE WHEN trim(text) = '' THEN 0 ELSE
       |    CAST(len(string_split(trim(regexp_replace(lower(text),
       |      '\\s+', ' ', 'g')), ' ')) AS BIGINT) END AS n_tokens
       |  FROM documents),
       |${xxhash64BucketSql("doc_id", "tok")},
       |ord AS (
       |  SELECT t.doc_id, t.n_tokens, sg.s AS h,
       |    CAST(((sg.s % 8) + 8) % 8 AS INTEGER) AS shard
       |  FROM tok t JOIN sg ON sg.k = t.doc_id
       |  WHERE t.n_tokens > 0),
       |off AS (
       |  SELECT doc_id, shard, n_tokens,
       |    CAST(sum(n_tokens) OVER (PARTITION BY shard
       |      ORDER BY h, doc_id ROWS UNBOUNDED PRECEDING) AS BIGINT)
       |      AS end_off
       |  FROM ord),
       |manifest AS (
       |  SELECT doc_id, shard,
       |    (end_off - n_tokens) // 128 AS start_seq,
       |    (end_off - 1) // 128 AS end_seq
       |  FROM off),
       |expanded AS (
       |  SELECT doc_id, shard,
       |    CAST(unnest(generate_series(start_seq, end_seq)) AS BIGINT)
       |      AS seq
       |  FROM manifest)
       |SELECT shard, seq, count(*) AS n_docs,
       |  min(doc_id) AS first_doc_id, max(doc_id) AS last_doc_id
       |FROM expanded GROUP BY shard, seq
       |ORDER BY shard, seq""".stripMargin)

  /** Self-contained oracle-dialect relation `(doc_id, text, quality)`
    * over `documents` — the composite quality score (the exact
    * expression text_quality pins bit-for-bit), shared by every
    * oracle that consumes the score downstream so the replicas cannot
    * drift. */
  private val qualityScoredSql: String =
    s"""SELECT doc_id, text,
       |    least(CAST(len(toks) AS DOUBLE) / 100.0, 1.0) * 0.3
       |      + greatest(0.0, 1.0 - punct_ratio * 5) * 0.3
       |      + greatest(0.0, 1.0 - digit_ratio * 5) * 0.2
       |      + least(stopword_ratio * 3, 1.0) * 0.2 AS quality
       |  FROM (
       |    SELECT doc_id, text,
       |      CASE WHEN len(toks) > 0 THEN
       |        CAST(len(list_filter(toks, t ->
       |          list_contains($stopwordsSql, t)))
       |          AS DOUBLE) / CAST(len(toks) AS DOUBLE)
       |        ELSE 0.0 END AS stopword_ratio,
       |      CASE WHEN n_chars > 0 THEN CAST(n_chars - n_alnum - n_ws
       |        AS DOUBLE) / CAST(n_chars AS DOUBLE) ELSE 0.0 END
       |        AS punct_ratio,
       |      CASE WHEN n_chars > 0 THEN CAST(n_digit AS DOUBLE)
       |        / CAST(n_chars AS DOUBLE) ELSE 0.0 END AS digit_ratio,
       |      toks
       |    FROM (
       |      SELECT doc_id, text,
       |        list_filter(string_split(trim(regexp_replace(lower(text),
       |          '\\s+', ' ', 'g')), ' '), x -> len(x) > 0) AS toks,
       |        length(text) AS n_chars,
       |        length(regexp_replace(lower(text), '[^a-z0-9]', '', 'g'))
       |          AS n_alnum,
       |        length(regexp_replace(lower(text), '[^0-9]', '', 'g'))
       |          AS n_digit,
       |        length(text) - length(regexp_replace(text, '\\s', '', 'g'))
       |          AS n_ws
       |      FROM documents))""".stripMargin

  /** DuckDB SQL re-derivation of Spark's `pmod(xxhash64(key), 10000)`
    * for a non-negative BIGINT key: XXH64.hashLong(v, seed=42) in
    * HUGEINT arithmetic mod 2^64. DuckDB BIGINT errors on overflow
    * rather than wrapping, and HUGEINT (128-bit) overflows on a full
    * 64×64 multiply — so multiplication by the (constant) primes is
    * split into 32-bit halves: ab mod 2^64 =
    * ((a_hi·b_lo + a_lo·b_hi) mod 2^32)·2^32 + a_lo·b_lo, every term
    * < 2^66. Rotations become disjoint shift-sums; >>> is `// 2^n`.
    * Verified bit-exact against the Catalyst XxHash64 expression. */
  private def xxhash64BucketSql(keyCol: String, table: String): String = {
    val M = xxhM
    val (p1, p2, p3, p4, p5) = (xxhP1, xxhP2, xxhP3, xxhP4, xxhP5)
    def mulmod(a: String, b: BigInt): String = xxhMulmod(a, b)
    def rotl(x: String, r: Int): String = xxhRotl(x, r)
    def shrx(x: String, n: Int): String = xxhShrx(x, n)
    s"""s0 AS (SELECT $keyCol AS k, (42::HUGEINT + $p5 + 8) % $M AS h,
       |         $keyCol::HUGEINT AS v FROM $table),
       |s1 AS (SELECT k, h, ${mulmod("v", p2)} AS k1 FROM s0),
       |s2 AS (SELECT k, h, ${rotl("k1", 31)} AS k1 FROM s1),
       |s3 AS (SELECT k, h, ${mulmod("k1", p1)} AS k1 FROM s2),
       |s4 AS (SELECT k, xor(h, k1) AS h FROM s3),
       |s5 AS (SELECT k, (${mulmod(rotl("h", 27), p1)} + $p4) % $M AS h
       |       FROM s4),
       |s6 AS (SELECT k, ${shrx("h", 33)} AS h FROM s5),
       |s7 AS (SELECT k, ${mulmod("h", p2)} AS h FROM s6),
       |s8 AS (SELECT k, ${shrx("h", 29)} AS h FROM s7),
       |s9 AS (SELECT k, ${mulmod("h", p3)} AS h FROM s8),
       |sa AS (SELECT k, ${shrx("h", 32)} AS h FROM s9),
       |sg AS (SELECT k,
       |         CASE WHEN h >= 9223372036854775808 THEN h - $M ELSE h END
       |           AS s FROM sa),
       |bk AS (SELECT k,
       |         CAST(((s % 10000) + 10000) % 10000 AS BIGINT) AS bucket
       |       FROM sg)""".stripMargin
  }

  /** CASE expression assigning splits from the cumulative bucket
    * bounds — generated from the SAME fractions the query uses. */
  private def splitCaseSql: String = {
    val bounds = splitFractions.scanLeft(0L) { case (acc, (_, f)) =>
      acc + math.round(f * 10000)
    }.tail
    val whens = splitFractions.map(_._1).zip(bounds).dropRight(1)
      .map { case (name, b) => s"WHEN bucket < $b THEN '$name'" }
      .mkString(" ")
    s"CASE $whens ELSE '${splitFractions.last._1}' END"
  }

  /** CASE arm per stratum with the SAME `(f * 10000).toLong` threshold
    * the Spark-side Sampling.sampleStratified computes — generated from
    * the shared map so the two sides cannot drift. */
  private def stratifiedKeepSql: String = {
    val arms = stratifiedFractions.map { case (lang, f) =>
      s"WHEN '$lang' THEN bucket < ${(f * 10000L).toLong}"
    }.mkString("\n    ")
    s"CASE lang $arms ELSE FALSE END"
  }

  /** CASE arm per source with the SAME floor/round thresholds
    * Sampling.weightedMix computes — generated from the shared map so
    * the two sides cannot drift. */
  private def mixCopiesSql: String = {
    val arms = mixWeights.map { case (src, w) =>
      val base = math.floor(w).toLong
      val fb = math.round((w - base) * 10000)
      s"WHEN '$src' THEN $base + CASE WHEN bucket < $fb THEN 1 ELSE 0 END"
    }.mkString("\n    ")
    s"CASE source $arms ELSE 0 END"
  }
}
