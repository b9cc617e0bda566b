package graft
package catalog

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.sources.Tables
import graft.functions.TextFunctions

/** The builders and DuckDB oracle fragments that more than one family
  * uses: the table and sum helpers, the XXH64 and SimHash re-derivations,
  * the text-quality lexicons, and the oracles a streaming query shares
  * with its batch twin. It names no family, so the families, which all
  * import it, never wait on each other while they initialize. */
object Shared {

  private[catalog] def t(s: SparkSession, dir: String, name: String)
      : DataFrame = {
    Tables.register(s, dir)
    s.table(name)
  }

  /** Exact integer-cents sum of a 2-decimal double column / expression,
    * emitted as a double — deterministic across engines. */
  private[catalog] def centsSum(c: org.apache.spark.sql.Column) =
    sum(round(c * 100).cast("long")) / 100.0
  private[catalog] def microsSum(c: org.apache.spark.sql.Column) =
    sum(round(c * 1e6).cast("long")) / 1e6

  // --- SQL fragments for the text-quality oracles, generated from the
  // SAME lexicons the implementation uses (TextFunctions) so the oracle
  // and the engine cannot drift apart.
  private[catalog] def sqlList(words: Seq[String]): String =
    words.map(w => s"'$w'").mkString("[", ",", "]")
  private[catalog] val stopwordsSql: String =
    sqlList(TextFunctions.englishStopwords)
  private[catalog] val langHitsSql: String =
    TextFunctions.langMarkers.map { case (lang, words) =>
      s"len(list_filter(${sqlList(words)}, m -> list_contains(toksd, m)))" +
        s" AS h_$lang"
    }.mkString(",\n    ")

  /** Argmax over marker-hit counts, replicating Spark's
    * greatest-over-structs tie-break: among equal hit counts the
    * lexicographically LARGEST language code wins. */
  private[catalog] val langPredSql: String = {
    val langs = TextFunctions.langMarkers.map(_._1)
    val best = langs.map(l => s"h_$l").mkString("greatest(", ", ", ")")
    val desc = langs.sorted.reverse
    val whens = desc.init.map(l => s"WHEN h_$l = $best THEN '$l'")
      .mkString(" ")
    s"CASE WHEN $best = 0 THEN 'und' $whens ELSE '${desc.last}' END"
  }

  // --- XXH64-in-DuckDB building blocks (shared by the bucket-split,
  // simhash and custom-function oracles). DuckDB BIGINT errors on
  // overflow and HUGEINT (128-bit) overflows on a full 64×64 multiply,
  // so multiplication by the constant primes splits into 32-bit halves
  // (every term < 2^66); rotations are disjoint shift-sums; >>> is
  // `// 2^n`. Verified bit-exact against the Catalyst XXH64 class.
  private[catalog] val xxhM = "18446744073709551616" // 2^64
  private[catalog] val xxhB = "4294967296" // 2^32
  private[catalog] val (xxhP1, xxhP2, xxhP3, xxhP4, xxhP5) = (
    BigInt("11400714785074694791"), BigInt("14029467366897019727"),
    BigInt("1609587929392839161"), BigInt("9650029242287828579"),
    BigInt("2870177450012600261"))
  private[catalog] def xxhMulmod(a: String, b: BigInt): String = {
    val b0 = b % BigInt(2).pow(32); val b1 = b >> 32
    val hi = s"((($a) // $xxhB) * $b0 + (($a) % $xxhB) * $b1)"
    s"((($hi) % $xxhB * $xxhB + (($a) % $xxhB) * $b0) % $xxhM)"
  }
  private[catalog] def xxhRotl(x: String, r: Int): String =
    s"((($x) * ${BigInt(2).pow(r)} % $xxhM) + (($x) // ${BigInt(2).pow(64 - r)}))"
  private[catalog] def xxhShrx(x: String, n: Int): String =
    s"xor($x, ($x) // ${BigInt(2).pow(n)})"

  /** Shortest decimal representation that round-trips to exactly the
    * same double — DuckDB parses it back bit-identical. */
  private[catalog] def dlit(x: Double): String = java.lang.Double.toString(x)

  /** Exact-double cosine between two DOUBLE[] columns — the same
    * formula the `sim_topk_bruteforce` oracle established as
    * bit-identical to the fused Catalyst CosineSimilarity loop. */
  private[catalog] def cosineSql(a: String, b: String): String =
    s"""list_dot_product($a, $b) /
       |  (sqrt(list_dot_product($a, $a)) *
       |   sqrt(list_dot_product($b, $b)))""".stripMargin

  /** DuckDB re-derivation of `XXH64.hashUnsafeBytes(token, seed 42)` —
    * Spark's `xxhash64` over strings and the hash inside SimHash64 —
    * for ASCII tokens of 0..8 bytes (the testdata tokenizer caps words
    * at 8 chars; `strlen` guards every stage so longer input would
    * surface as a hash mismatch, not silent corruption). Expects a CTE
    * `toks(…carry…, w)`; produces stages `x0..x8, xh` where `xh` has
    * the carry columns + `h` (HUGEINT, the unsigned 64-bit hash).
    * Short-input XXH64: optional one 8-byte word round, optional one
    * 4-byte round, up to three 1-byte rounds (unrolled, CASE-guarded),
    * then the avalanche — byte order little-endian like the JVM reads.
    * Verified bit-exact against XXH64.hashUnsafeBytes for lengths
    * 1..8. */
  private[catalog] def xxh64TokenChainSql(first: String, rest: String)
      : String = {
    val M = xxhM
    val (p1, p2, p3, p4, p5) = (xxhP1, xxhP2, xxhP3, xxhP4, xxhP5)
    def pw(n: Int) = BigInt(2).pow(n)
    s"""x0 AS (SELECT $first, strlen(w) AS len,
       |        ascii(substr(w,1,1))::HUGEINT AS b1,
       |        ascii(substr(w,2,1))::HUGEINT AS b2,
       |        ascii(substr(w,3,1))::HUGEINT AS b3,
       |        ascii(substr(w,4,1))::HUGEINT AS b4,
       |        ascii(substr(w,5,1))::HUGEINT AS b5,
       |        ascii(substr(w,6,1))::HUGEINT AS b6,
       |        ascii(substr(w,7,1))::HUGEINT AS b7,
       |        ascii(substr(w,8,1))::HUGEINT AS b8
       |       FROM toks),
       |x1 AS (SELECT $rest, len, b1, b2, b3, b4, b5, b6, b7,
       |        (42::HUGEINT + $p5 + len) % $M AS h,
       |        b1 + b2*256 + b3*65536 + b4*16777216 + b5*${pw(32)}
       |          + b6*${pw(40)} + b7*${pw(48)} + b8*${pw(56)} AS k8,
       |        b1 + b2*256 + b3*65536 + b4*16777216 AS k4
       |       FROM x0),
       |x2 AS (SELECT $rest, len, b1, b2, b3, b4, b5, b6, b7, k4,
       |        CASE WHEN len = 8
       |          THEN (${xxhMulmod(xxhRotl(
               s"xor(h, ${xxhMulmod(xxhRotl(xxhMulmod("k8", p2), 31), p1)})",
               27), p1)} + $p4) % $M
       |          ELSE h END AS h
       |       FROM x1),
       |x3 AS (SELECT $rest, len, b1, b2, b3, b5, b6, b7,
       |        CASE WHEN len >= 4 AND len < 8
       |          THEN (${xxhMulmod(xxhRotl(
               s"xor(h, ${xxhMulmod("k4", p1)})", 23), p2)} + $p3) % $M
       |          ELSE h END AS h
       |       FROM x2),
       |x4 AS (SELECT $rest, len, b2, b3, b6, b7,
       |        CASE WHEN len < 8 AND (CASE WHEN len >= 4 THEN 5 ELSE 1 END) <= len
       |          THEN ${xxhMulmod(xxhRotl(
               s"xor(h, (CASE WHEN len >= 4 THEN b5 ELSE b1 END) * $p5 % $M)",
               11), p1)}
       |          ELSE h END AS h
       |       FROM x3),
       |x5 AS (SELECT $rest, len, b3, b7,
       |        CASE WHEN len < 8 AND (CASE WHEN len >= 4 THEN 6 ELSE 2 END) <= len
       |          THEN ${xxhMulmod(xxhRotl(
               s"xor(h, (CASE WHEN len >= 4 THEN b6 ELSE b2 END) * $p5 % $M)",
               11), p1)}
       |          ELSE h END AS h
       |       FROM x4),
       |x6 AS (SELECT $rest, len,
       |        CASE WHEN len < 8 AND (CASE WHEN len >= 4 THEN 7 ELSE 3 END) <= len
       |          THEN ${xxhMulmod(xxhRotl(
               s"xor(h, (CASE WHEN len >= 4 THEN b7 ELSE b3 END) * $p5 % $M)",
               11), p1)}
       |          ELSE h END AS h
       |       FROM x5),
       |x7 AS (SELECT $rest, ${xxhMulmod(xxhShrx("h", 33), p2)} AS h FROM x6),
       |x8 AS (SELECT $rest, ${xxhMulmod(xxhShrx("h", 29), p3)} AS h FROM x7),
       |xh AS (SELECT $rest, ${xxhShrx("h", 32)} AS h FROM x8)""".stripMargin
  }

  /** 64-bit SimHash over per-doc token hashes in SQL: the token-hash
    * chain above feeds 64 per-bit vote sums (+1 if bit set, -1
    * otherwise, exactly SimHash64's loop) and the signature re-packs
    * the positive votes. Produces CTEs through `sig(doc_id, sim_sig)`
    * with sim_sig as signed BIGINT (two's complement of the unsigned
    * sum, matching the Catalyst expression's long). Expects
    * `toks(doc_id, w)`. */
  private[catalog] def simhashSigSql: String = {
    def pw(n: Int) = BigInt(2).pow(n)
    val votes = (0 until 64)
      .map(j => s"sum(CASE WHEN (h // ${pw(j)}) % 2 = 1 " +
        s"THEN 1 ELSE -1 END) AS v$j")
      .mkString(",\n        ")
    val sigSum = (0 until 64)
      .map(j => s"CASE WHEN v$j > 0 THEN ${pw(j)}::HUGEINT " +
        "ELSE 0::HUGEINT END")
      .mkString("(", "\n         + ", ")")
    s"""${xxh64TokenChainSql("doc_id", "doc_id")},
       |votes AS (SELECT doc_id,
       |        $votes
       |       FROM xh GROUP BY doc_id),
       |sg AS (SELECT doc_id, $sigSum AS s FROM votes),
       |sig AS (SELECT doc_id,
       |        CAST(CASE WHEN s >= ${pw(63)} THEN s - $xxhM ELSE s END
       |          AS BIGINT) AS sim_sig
       |       FROM sg)""".stripMargin
  }

  /** Shared by assoc_rules (batch) and stream_assoc (streaming twin):
    * the stream's incremental pair state provably emits each distinct
    * within-basket pair once, so both derivations rebuild the same
    * counts and the SAME SQL is the oracle for both. */
  private[catalog] val assocOracleSql: String =
      """WITH b AS (
        |  SELECT DISTINCT l_orderkey AS bk, l_partkey AS item
        |  FROM lineitem),
        |i AS (
        |  SELECT item, CAST(count(*) AS BIGINT) AS item_n
        |  FROM b GROUP BY 1 HAVING count(*) >= 5),
        |f AS (SELECT b.bk, b.item, i.item_n FROM b JOIN i USING (item)),
        |p AS (
        |  SELECT a.item AS a_item, c.item AS b_item,
        |         a.item_n AS a_n, c.item_n AS b_n,
        |         CAST(count(*) AS BIGINT) AS pair_n
        |  FROM f a JOIN f c ON a.bk = c.bk AND a.item < c.item
        |  GROUP BY 1, 2, 3, 4 HAVING count(*) >= 2),
        |n AS (SELECT CAST(count(DISTINCT bk) AS BIGINT) AS nb FROM b),
        |r AS (
        |  SELECT a_item AS antecedent, b_item AS consequent, pair_n,
        |         a_n AS ant_n, b_n AS cons_n FROM p
        |  UNION ALL
        |  SELECT b_item, a_item, pair_n, b_n, a_n FROM p)
        |SELECT r.antecedent, r.consequent, r.pair_n, r.ant_n, r.cons_n,
        |  CAST((r.pair_n * 1000000) // r.ant_n AS BIGINT) AS conf_micros,
        |  CAST((r.pair_n * n.nb * 1000000) // (r.ant_n * r.cons_n)
        |    AS BIGINT) AS lift_micros
        |FROM r, n
        |ORDER BY r.antecedent, r.consequent""".stripMargin

  private[catalog] val transitionsOracleSql: String =
      """WITH seq AS (
        |  SELECT user_id, event_type,
        |    lag(event_type) OVER (PARTITION BY user_id
        |      ORDER BY ts, event_id) AS prev_type
        |  FROM events),
        |tr AS (
        |  SELECT prev_type, event_type AS next_type, count(*) AS n
        |  FROM seq WHERE prev_type IS NOT NULL GROUP BY 1, 2),
        |tot AS (
        |  SELECT prev_type, CAST(sum(n) AS BIGINT) AS row_total
        |  FROM tr GROUP BY 1)
        |SELECT t.prev_type, t.next_type, t.n,
        |  CAST((t.n * 1000000) // x.row_total AS BIGINT) AS p_micros
        |FROM tr t JOIN tot x USING (prev_type)
        |ORDER BY t.prev_type, t.next_type""".stripMargin

  /** DuckDB re-derivation of the captured logistic quality filter:
    * the four features exactly as the text_quality oracle derives them
    * (bit-identical doubles), then `z = intercept + Σ wᵢ·fᵢ` in the
    * same left-to-right accumulation order the Column fold uses;
    * score_micros/pred re-round and re-threshold the identical z. */
  private[catalog] def qmLrOracleSql(m: graft.operators.QualityModel.Model)
      : String = {
    val Seq(w1, w2, w3, w4) = m.weights.map(dlit)
    s"""WITH base AS (
       |  SELECT doc_id, lang, text,
       |    trim(regexp_replace(lower(text), '\\s+', ' ', 'g')) AS nt
       |  FROM documents),
       |tk AS (
       |  SELECT doc_id, lang, text,
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
       |f AS (
       |  SELECT doc_id, toks,
       |    CASE WHEN len(toks) > 0 THEN
       |      CAST(len(list_filter(toks, t -> list_contains($stopwordsSql, t)))
       |        AS DOUBLE) / CAST(len(toks) AS DOUBLE)
       |      ELSE 0.0 END AS stopword_ratio,
       |    CASE WHEN n_chars > 0 THEN CAST(n_chars - n_alnum - n_ws
       |      AS DOUBLE) / CAST(n_chars AS DOUBLE) ELSE 0.0 END
       |      AS punct_ratio,
       |    CASE WHEN n_chars > 0 THEN CAST(n_digit AS DOUBLE)
       |      / CAST(n_chars AS DOUBLE) ELSE 0.0 END AS digit_ratio,
       |    least(CAST(len(toks) AS DOUBLE) / 100.0, 1.0) AS token_frac
       |  FROM tk2),
       |z AS (
       |  SELECT doc_id,
       |    least(CAST(len(toks) AS DOUBLE) / 100.0, 1.0) * 0.3
       |      + greatest(0.0, 1.0 - punct_ratio * 5) * 0.3
       |      + greatest(0.0, 1.0 - digit_ratio * 5) * 0.2
       |      + least(stopword_ratio * 3, 1.0) * 0.2 AS quality,
       |    ${dlit(m.intercept)} + $w1 * stopword_ratio
       |      + $w2 * punct_ratio + $w3 * digit_ratio
       |      + $w4 * token_frac AS z
       |  FROM f)
       |SELECT doc_id, quality >= 0.72 AS label,
       |  CAST(round(z * 1e6) AS BIGINT) AS score_micros,
       |  z > 0.0 AS pred
       |FROM z ORDER BY doc_id""".stripMargin
  }

  /** Exact 8-gram-Jaccard pair set (threshold 0.7) re-derived from the
    * raw strings — shared by the ngram dedup pipeline and the
    * declarative `text_jaccard` threshold join (the prefix-filter
    * rewrite is exact, so both must produce this set verbatim). */
  private[catalog] def ngramPairsOracle: String =
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
      |j AS (
      |  SELECT id_a, id_b,
      |    CAST(n_common AS DOUBLE)
      |      / CAST(na.n + nb.n - n_common AS DOUBLE) AS jaccard
      |  FROM common
      |  JOIN sizes na ON na.doc_id = id_a
      |  JOIN sizes nb ON nb.doc_id = id_b)
      |SELECT id_a, id_b, jaccard FROM j
      |WHERE jaccard >= 0.7 ORDER BY id_a, id_b""".stripMargin

  /** Exact shingle-Jaccard pair set (threshold 0.8) re-derived from the
    * raw strings — the oracle for BOTH the batch minhash-LSH pair op
    * and its streaming twin (the LSH band structure is a candidate
    * pruner with planted-pair recall ~1 on this data, so the emitted
    * set must equal the full threshold-Jaccard set). */
  private[catalog] def minhashPairsOracle: String =
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
      |j AS (
      |  SELECT id_a, id_b,
      |    CAST(n_common AS DOUBLE)
      |      / CAST(na.n + nb.n - n_common AS DOUBLE) AS jaccard
      |  FROM common
      |  JOIN sizes na ON na.doc_id = id_a
      |  JOIN sizes nb ON nb.doc_id = id_b)
      |SELECT id_a, id_b, jaccard FROM j
      |WHERE jaccard >= 0.8 ORDER BY id_a, id_b""".stripMargin

  /** Shared by the batch and streaming decontamination queries: exact
    * 5-gram re-derivation, eval-set intersection, counts joined back
    * to the training side. */
  /** The per-doc distinct 5-gram CTE chain (toks → sh), shared by the
    * whole decontamination oracle family so the shingle definition
    * cannot drift between single- and multi-set variants. */
  private[catalog] val decontamGramCtes: String =
    // no line may BEGIN with '||': consumers interpolate this body
    // into their own stripMargin literals, which would eat one pipe
    """toks AS (
      |  SELECT doc_id, string_split(trim(regexp_replace(lower(text),
      |    '\s+', ' ', 'g')), ' ') AS w FROM documents),
      |sh AS (
      |  SELECT DISTINCT doc_id, g FROM (
      |    SELECT doc_id, unnest(CASE WHEN len(w) >= 5
      |      THEN list_transform(generate_series(1, len(w) - 4),
      |        i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2] || ' ' ||
      |          w[i+3] || ' ' || w[i+4])
      |      ELSE [array_to_string(w, ' ')] END) AS g
      |    FROM toks) u)""".stripMargin

  private[catalog] val decontamOracle: String =
    s"""WITH $decontamGramCtes,
      |ev AS (SELECT DISTINCT g FROM sh
      |       WHERE doc_id % 17 = 0 AND doc_id < 100000),
      |hits AS (
      |  SELECT doc_id, count(*) AS n_hits
      |  FROM sh JOIN ev USING (g) WHERE doc_id % 17 <> 0
      |  GROUP BY doc_id)
      |SELECT d.doc_id, CAST(coalesce(h.n_hits, 0) AS BIGINT) AS n_hits,
      |  coalesce(h.n_hits, 0) >= 1 AS contaminated
      |FROM documents d LEFT JOIN hits h ON d.doc_id = h.doc_id
      |WHERE d.doc_id % 17 <> 0
      |ORDER BY d.doc_id""".stripMargin

  /** One 8-bit band key of the 8×8 embedding-LSH banding, computed
    * directly from its own 8 plane literals: bit i of band b is plane
    * b*8+i. Equivalent to `(sig >> b*8) & 255` over the engine's
    * 64-bit [[graft.functions.VectorFunctions.HyperplaneSignature]],
    * but bit 63 of a full-signature sum would need the BIGINT literal
    * 1<<63, which overflows DuckDB's checked addition — per-band sums
    * stay in [0, 255]. */
  private[catalog] def embBandKeySql(edCol: String, band: Int): String = {
    val terms = (0 until 8).map { i =>
      val p = band * 8 + i
      val plane = (0 until 64)
        .map(d => dlit(graft.functions.VectorFunctions.hyperplaneComponent(p, d)))
        .mkString("CAST([", ",", "] AS DOUBLE[])")
      s"(CASE WHEN list_dot_product($edCol, $plane) >= 0 " +
        s"THEN ${1 << i} ELSE 0 END)"
    }
    terms.mkString("(", "\n + ", ")")
  }

  /** Shared by dedup_embedding (batch) and stream_embedding_dedup
    * (streaming twin): the stream's epoch-close per-vector max equals
    * the batch per-bucket-best + cross-band max — same report, same
    * SQL. The `capped` CTE replays the operators' keep-smallest
    * `maxBucket = 4096` bucket cap over the FULL banded set, so the
    * declared semantics stay exact at ANY corpus scale — the round-9
    * sf10 one-sided check caught the former oracle silently omitting
    * the cap, which the 16-key-per-band geometry engaged at 100×
    * (dropping 60 % of vectors from the engine report while the
    * oracle kept them). With the 8×8 banding the cap is dormant two
    * decades up (occupancy ≈ N/256 per band), but it is now DECLARED
    * rather than latent. */
  private[catalog] def embDedupOracleSql: String = {
    val keys = (0 until 8).map(b => embBandKeySql("ed", b))
      .mkString("[", ",\n ", "]")
    s"""WITH base AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS ed
       |              FROM embeddings),
       |sg AS (SELECT vec_id, ed, $keys AS ks FROM base),
       |bands AS (SELECT unnest(generate_series(0, 7)) AS band),
       |bb AS (SELECT vec_id, ed, band, ks[band + 1] AS bkey
       |       FROM sg, bands),
       |capped AS (SELECT vec_id, ed, band, bkey, row_number() OVER (
       |        PARTITION BY band, bkey ORDER BY vec_id) AS rn
       |      FROM bb QUALIFY rn <= 4096),
       |s AS (SELECT DISTINCT a.vec_id AS vec_id, b.vec_id AS nn_id,
       |        ${cosineSql("a.ed", "b.ed")} AS cosine
       |      FROM capped a JOIN capped b ON a.band = b.band
       |        AND a.bkey = b.bkey AND a.vec_id <> b.vec_id),
       |r AS (SELECT vec_id, nn_id, cosine,
       |        row_number() OVER (PARTITION BY vec_id
       |          ORDER BY cosine DESC, nn_id) AS rk
       |      FROM s)
       |SELECT vec_id, nn_id, cosine, cosine >= 0.95 AS is_dup
       |FROM r WHERE rk = 1 ORDER BY vec_id""".stripMargin
  }
}
