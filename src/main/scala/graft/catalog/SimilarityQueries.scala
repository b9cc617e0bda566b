package graft
package catalog

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.operators.Iterate
import graft.operators.Iterate.MaterializeOps
import graft.functions.TextFunctions
import graft.operators.{Dedup, Similarity}
import Shared._

/** The similarity family: top-k vector search (brute force, LSH, IVF,
  * PQ, IVF-PQ), the cosine, Jaccard and Hamming threshold joins,
  * k-means, semantic and embedding dedup, quantization and reranking.
  * The IVF, PQ and k-means rows capture the model their run trained. */
object SimilarityQueries extends Family {

  query("dedup_embedding") { (s, dir) =>
    Dedup.embeddingNearDup(t(s, dir, "embeddings"))
  }.oracle(
    // Embedding near-dup: same plane re-derivation, 8-band × 8-bit
    // banding with the keep-smallest bucket cap replayed, nearest
    // neighbor by (cosine DESC, nn_id) within buckets.
    embDedupOracleSql)

  captured("cluster_kmeans") { (s, dir, capture) =>
    // Distributed k-means assignment over the embedding column: the
    // model is ONE bounded driver sample (Similarity.trainCentroids),
    // the assignment a shuffle-free map over a broadcast centroid
    // array. Captured like the IVF model so the oracle replays the
    // argmax with the exact centroid literals this run used.
    val e = t(s, dir, "embeddings")
    val cents = Similarity.trainCentroids(e, nCentroids = 8)
    capture(kmeansOracleSql(cents))
    graft.operators.Clustering.assign(e, cents)
  }

  captured("dedup_semantic") { (s, dir, capture) =>
    // SemDeDup-style semantic near-dup pairs: cluster first (k-means),
    // compare pairwise only INSIDE a cluster (capped per cluster, see
    // Clustering.semanticPairs). Threshold 0.4 on this deliberately
    // unclustered corpus (max pairwise cosine ~0.5) — production
    // embedding spaces cluster far more tightly.
    val e = t(s, dir, "embeddings")
    val cents = Similarity.trainCentroids(e, nCentroids = 8)
    capture(semanticPairsOracleSql(cents))
    graft.operators.Clustering.semanticPairs(e, cents, threshold = 0.4)
  }

  captured("dedup_semantic_decisions") { (s, dir, capture) =>
    // The keep/dup_of contract over the semantic pair graph — one
    // star-contraction round, min-id representative, every vector
    // emitted exactly once (same decision algebra as the text dedup
    // family).
    val e = t(s, dir, "embeddings")
    val cents = Similarity.trainCentroids(e, nCentroids = 8)
    capture(semanticDecisionsOracleSql(cents))
    graft.operators.Clustering.semanticDecisions(
      e, cents, threshold = 0.4)
  }

  private def annQueries(s: SparkSession, dir: String): DataFrame =
    // FIXED query batch: the bound keeps the batch at the sf0.1
    // corpus's 40 query vectors at ANY scale (scaled-corpus copies sit
    // at +1e9 offsets) — the realistic serving shape is a bounded
    // query batch against a growing corpus, and without the bound the
    // batch grew with the corpus and every ANN bench query was
    // quadratic per decade by construction. At the gate scale factors
    // (ids <= 1999) the bound is a no-op, so oracles are unchanged in
    // effect, but every oracle mirrors it for definitional identity.
    t(s, dir, "embeddings")
      .filter(col("vec_id") % 50 === 0 && col("vec_id") < 2000)

  query("sim_topk_bruteforce") { (s, dir) =>
    Similarity.bruteForceTopK(
      t(s, dir, "embeddings"), annQueries(s, dir), k = 10)
  }.oracle(
    s"""$bruteForceScoreCtes
      |$top10Sql""".stripMargin)

  query("sim_topk_lsh") { (s, dir) =>
    Similarity.lshTopK(
      t(s, dir, "embeddings"), annQueries(s, dir), k = 10)
  }.oracle {
    // LSH ANN: the 16-bit hyperplane signature is re-derived bit-exactly
    // (plane literals from VectorFunctions.hyperplaneComponent), then the
    // 8-band × 2-bit banding, bucket join, cosine and top-k recomputed.
    val sig = hyperplaneSigSql("ed", 16, 64)
    s"""WITH base AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS ed
       |              FROM embeddings),
       |sg AS (SELECT vec_id, ed, $sig AS sig FROM base),
       |bands AS (SELECT unnest(generate_series(0, 7)) AS band),
       |cb AS (SELECT vec_id AS neighbor_id, ed AS ce, band,
       |         (sig >> (band * 2)) & 3 AS bkey FROM sg, bands),
       |qb AS (SELECT vec_id AS query_id, ed AS qe, band,
       |         (sig >> (band * 2)) & 3 AS bkey FROM sg, bands
       |       WHERE vec_id % 50 = 0 AND vec_id < 2000),
       |s AS (SELECT DISTINCT query_id, neighbor_id,
       |        ${cosineSql("qe", "ce")} AS cosine
       |      FROM cb JOIN qb ON cb.band = qb.band AND cb.bkey = qb.bkey
       |        AND neighbor_id <> query_id),
       |$top10Sql""".stripMargin
  }

  captured("sim_topk_ivf") { (s, dir, capture) =>
    // capture the trained model so oracleSql can embed the exact
    // centroids this assignment used (Verify dumps oracles after
    // running every query). nProbe=12/16 is tuned to the recall ≥ 0.9
    // CI gate on THIS corpus — near-random 64-d vectors (max pairwise
    // cosine ~0.51), the worst case for IVF pruning; a clustered
    // production embedding space sustains the same recall at a far
    // smaller probe fraction.
    val cents = Similarity.trainCentroids(
      t(s, dir, "embeddings"), nCentroids = 16)
    capture(ivfOracleSql(cents))
    Similarity.ivfTopK(
      t(s, dir, "embeddings"), annQueries(s, dir), k = 10,
      nCentroids = 16, nProbe = 12, model = Some(cents))
  }

  captured("sim_topk_ivf_indexed") { (s, dir, capture) =>
    // The PERSISTED inverted-file index: corpus written once,
    // directory-partitioned by cluster (each inverted list = one
    // partition dir), probes join the index with dynamic partition
    // pruning restricting the scan to probed lists. Same model,
    // probes and semantics as sim_topk_ivf — same oracle — different
    // I/O: at 10⁴ clusters / nProbe 32, the probe reads 0.3% of the
    // corpus instead of all of it.
    val e = t(s, dir, "embeddings")
    val cents = Similarity.trainCentroids(e, nCentroids = 16)
    capture(ivfOracleSql(cents))
    Similarity.writeIvfIndex(e, cents, "ivfidx")
    Similarity.ivfTopKFromIndex(
      s, "ivfidx", annQueries(s, dir), cents, k = 10, nProbe = 12)
  }

  captured("sim_topk_pq") { (s, dir, capture) =>
    // Product quantization + exact rerank: candidates ranked on the
    // COMPRESSED code table (8 codes per vector), exact cosine only on
    // the top-128 per query. Model captured like the IVF centroids so
    // the oracle embeds the exact codebooks this encode used.
    // cb=32/rerank=128 is tuned to the recall ≥ 0.9 CI gate on this
    // deliberately unclustered corpus (recall 0.94 measured) — finer
    // codebooks buy a smaller rerank set than cb=16 needed.
    val pq = Similarity.trainPq(
      t(s, dir, "embeddings"), codebookSize = 32).get
    capture(pqOracleSql(pq))
    Similarity.pqTopK(t(s, dir, "embeddings"), annQueries(s, dir),
      k = 10, codebookSize = 32, rerank = 128, model = Some(pq))
  }

  captured("sim_topk_ivfpq") { (s, dir, capture) =>
    // The composed index: IVF restricts the scan to the probed
    // clusters, PQ codes are the only per-row payload the candidate
    // scan reads, exact cosine reranks the top-192. Both models
    // captured so the oracle replays cluster assignment, probing,
    // encode and ADC with the exact literals this run used.
    // nProbe=12 / cb=32 / rerank=192 clear the recall ≥ 0.9 CI gate
    // with margin (0.94) on the unclustered worst-case corpus.
    val e = t(s, dir, "embeddings")
    val cents = Similarity.trainCentroids(e, nCentroids = 16)
    val pq = Similarity.trainPq(e, codebookSize = 32).get
    capture(ivfPqOracleSql(cents, pq))
    Similarity.ivfPqTopK(e, annQueries(s, dir), k = 10,
      nCentroids = 16, nProbe = 12, rerank = 192,
      ivfModel = Some(cents), pqModel = Some(pq))
  }

  query("join_cosine_threshold") { (s, dir) =>
    // The DECLARATIVE similarity join: the user writes the O(n²)
    // cosine-threshold predicate; the opt-in RewriteCosineThresholdJoin
    // optimizer rule plans the banded-LSH hash join (plan shape pinned
    // by GraftExtensionsSpec). The oracle re-derives the banded
    // semantics — signature, band collision, canonical first band,
    // residual cosine filter — independently in DuckDB. The flag is
    // scoped (Iterate.scoped) and the join executes inside the scope.
    Iterate.scoped(s, "spark.graft.cosineRewrite.enabled" -> "true") { iso =>
      val e = t(s, dir, "embeddings").on(iso)
      val a = e.select(col("vec_id").as("id_a"), col("embedding").as("emb_a"))
      val b = e.select(col("vec_id").as("id_b"), col("embedding").as("emb_b"))
      import graft.functions.VectorFunctions.cosine_sim
      val df = a.join(b,
          cosine_sim(col("emb_a"), col("emb_b")) >= 0.4 &&
            col("id_a") < col("id_b"))
        .select(col("id_a"), col("id_b"),
          cosine_sim(col("emb_a"), col("emb_b")).as("cosine"))
        .orderBy("id_a", "id_b")
      df.materialized()
    }
  }.oracle {
    // Declarative cosine-threshold join: the oracle re-derives the
    // BANDED semantics the opt-in optimizer rewrite plans — signature,
    // 8 × 2-bit band collision, canonical (smallest) shared band for
    // exactly-once emission, residual cosine ≥ t filter.
    val sig = hyperplaneSigSql("ed", 16, 64)
    s"""WITH base AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS ed
       |              FROM embeddings),
       |sg AS (SELECT vec_id, ed, $sig AS sig FROM base),
       |bands AS (SELECT unnest(generate_series(0, 7)) AS band),
       |bb AS (SELECT vec_id, ed, sig, band,
       |         (sig >> (band * 2)) & 3 AS bkey FROM sg, bands),
       |p AS (SELECT a.vec_id AS id_a, b.vec_id AS id_b,
       |        ${cosineSql("a.ed", "b.ed")} AS cosine
       |      FROM bb a JOIN bb b ON a.band = b.band AND a.bkey = b.bkey
       |        AND a.vec_id < b.vec_id
       |        AND (a.band = 0 OR len(list_filter(range(0, a.band),
       |          x -> ((a.sig >> (x * 2)) & 3)
       |             = ((b.sig >> (x * 2)) & 3))) = 0))
       |SELECT id_a, id_b, cosine FROM p
       |WHERE cosine >= 0.4 ORDER BY id_a, id_b""".stripMargin
  }

  query("join_jaccard_threshold") { (s, dir) =>
    // The declarative TEXT similarity join: the user writes the O(n²)
    // text_jaccard predicate; the opt-in RewriteJaccardThresholdJoin
    // rule replans it through dedup_ngram_jaccard's prefix-filter
    // candidate generation (PrefixFilter) — a STRICT equivalence
    // (exact recall), unlike the LSH cosine rewrite. Same flag-scoping
    // discipline as `join_cosine_threshold`: execute eagerly while the
    // flag is on.
    import graft.functions.VectorFunctions.text_jaccard
    Iterate.scoped(s, "spark.graft.jaccardRewrite.enabled" -> "true") { iso =>
      val d = t(s, dir, "documents").on(iso)
      val a = d.select(col("doc_id").as("id_a"), col("text").as("text_a"))
      val b = d.select(col("doc_id").as("id_b"), col("text").as("text_b"))
      val df = a.join(b,
          text_jaccard(col("text_a"), col("text_b"), 8) >= 0.7 &&
            col("id_a") < col("id_b"))
        .select(col("id_a"), col("id_b"),
          text_jaccard(col("text_a"), col("text_b"), 8).as("jaccard"))
        .orderBy("id_a", "id_b")
      df.materialized()
    }
  }.oracle(
    // The declarative text_jaccard(a,b,8) >= 0.7 join — replanned by
    // RewriteJaccardThresholdJoin into the prefix-filtered equi-join —
    // must return EXACTLY the pipeline's pair set (the rewrite is a
    // strict equivalence, so they share one oracle).
    ngramPairsOracle)

  query("join_hamming_threshold") { (s, dir) =>
    // The third declarative similarity join, and the only one whose
    // predicate is PURE BUILTINS: the user writes
    // bit_count(sig_a ^ sig_b) <= 3 over 64-bit SimHash signatures;
    // the opt-in RewriteHammingThresholdJoin replans it as the 8×8-bit
    // banded equi-join with exactly-once canonical-band emission — a
    // STRICT equivalence by pigeonhole (3 < 8 bands), so the oracle is
    // the naive full pairwise Hamming join.
    import graft.functions.VectorFunctions.simhash64
    Iterate.scoped(s, "spark.graft.hammingRewrite.enabled" -> "true") { iso =>
      val d = t(s, dir, "documents").on(iso).select(col("doc_id"),
        simhash64(TextFunctions.tokens(col("text"))).as("sig"))
      val a = d.select(col("doc_id").as("id_a"), col("sig").as("sig_a"))
      val b = d.select(col("doc_id").as("id_b"), col("sig").as("sig_b"))
      val df = a.join(b,
          bit_count(col("sig_a").bitwiseXOR(col("sig_b"))) <= 3 &&
            col("id_a") < col("id_b"))
        .select(col("id_a"), col("id_b"),
          bit_count(col("sig_a").bitwiseXOR(col("sig_b"))).as("hamming"))
        .orderBy("id_a", "id_b")
      df.materialized()
    }
  }.oracle(
    // Strict-equivalence oracle for the Hamming rewrite: the NAIVE
    // full pairwise join — the banded replan must return exactly it.
    s"""WITH toks AS (
       |  SELECT doc_id, unnest(list_filter(
       |    string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')),
       |      ' '),
       |    t -> strlen(t) > 0)) AS w
       |  FROM documents),
       |$simhashSigSql
       |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       |  CAST(bit_count(xor(a.sim_sig, b.sim_sig)) AS INTEGER)
       |    AS hamming
       |FROM sig a JOIN sig b ON a.doc_id < b.doc_id
       |WHERE bit_count(xor(a.sim_sig, b.sim_sig)) <= 3
       |ORDER BY id_a, id_b""".stripMargin)

  query("embed_quantize") { (s, dir) =>
    // Scalar int8 embedding quantization (the faiss-SQ8 shape) as a
    // pure scan-stage transform: per-vector symmetric scale
    // max|v|/127, q = round(v/scale), plus the reconstruction-error
    // audit the compression decision needs. Error sums are exact
    // integer picos (round(e²·1e12) summed as longs — order-
    // independent, unlike a float sum), so the whole report
    // hash-matches. No shuffle at all but the presentation sort.
    t(s, dir, "embeddings")
      .select(col("vec_id"),
        expr("CAST(embedding AS ARRAY<DOUBLE>)").as("ed"))
      .withColumn("max_abs",
        expr("array_max(transform(ed, x -> abs(x)))"))
      .filter(col("max_abs") > 0.0)
      .withColumn("q", expr(
        "transform(ed, x -> CAST(round(x * 127.0 / max_abs) AS BIGINT))"))
      .select(col("vec_id"), col("max_abs"),
        expr("aggregate(q, 0L, (a, x) -> a + abs(x))").as("sum_abs_q"),
        expr("aggregate(zip_with(ed, q, (v, qq) -> " +
          "v - qq * (max_abs / 127.0)), 0L, " +
          "(a, e) -> a + CAST(round(e * e * 1e12) AS BIGINT))")
          .as("err_sum_e12"))
      .orderBy("vec_id")
  }.oracle(
    // Same per-element doubles (identical operands → identical IEEE
    // results), index-addressed instead of zip_with; integer sums.
    """WITH e AS (
      |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS ed
      |  FROM embeddings),
      |m AS (
      |  SELECT vec_id, ed,
      |    list_max(list_transform(ed, x -> abs(x))) AS max_abs
      |  FROM e),
      |q AS (
      |  SELECT vec_id, ed, max_abs,
      |    list_transform(ed,
      |      x -> CAST(round(x * 127.0 / max_abs) AS BIGINT)) AS qv
      |  FROM m WHERE max_abs > 0.0)
      |SELECT vec_id, max_abs,
      |  CAST(list_aggregate(list_transform(qv, x -> abs(x)), 'sum')
      |    AS BIGINT) AS sum_abs_q,
      |  CAST(list_aggregate(list_transform(
      |      generate_series(1, len(ed)),
      |      i -> CAST(round((ed[i] - qv[i] * (max_abs / 127.0))
      |        * (ed[i] - qv[i] * (max_abs / 127.0)) * 1e12)
      |        AS BIGINT)), 'sum') AS BIGINT) AS err_sum_e12
      |FROM q ORDER BY vec_id""".stripMargin)

  query("sim_hard_negatives") { (s, dir) =>
    // Contrastive-pair mining — the retrieval-training data op: per
    // query, one ranking pass yields the positives (top-4), the
    // near-duplicate EXCLUSION band (cosine ≥ 0.95 below the positive
    // cut — treating a near-dup as a negative would teach the model
    // to push apart copies, the classic false-negative poison), and
    // the hard negatives (the next-closest non-dup candidates, ranks
    // 5–12 — close enough to be informative, far enough to be
    // genuinely negative). Everything rides the already-oracled
    // brute-force ranking; the labeling is one scan-stage CASE.
    Similarity.bruteForceTopK(
        t(s, dir, "embeddings"), annQueries(s, dir), k = 12)
      .select(col("query_id"), col("neighbor_id"), col("cosine"),
        col("rank"),
        when(col("rank") <= 4, lit("positive"))
          .when(col("cosine") >= 0.95, lit("dup_skip"))
          .otherwise(lit("hard_negative")).as("role"))
      .orderBy("query_id", "rank")
  }.oracle(
    // Hard-negative mining: the same ranking CTE to rank 12, the
    // identical CASE labeling (positive cut, dup exclusion, negative
    // band) — roles are a pure function of already-bit-equal scores.
    s"""$bruteForceScoreCtes
      |$rankCte
      |SELECT query_id, neighbor_id, cosine, rank,
      |  CASE WHEN rank <= 4 THEN 'positive'
      |       WHEN cosine >= 0.95 THEN 'dup_skip'
      |       ELSE 'hard_negative' END AS role
      |FROM r WHERE rank <= 12 ORDER BY query_id, rank""".stripMargin)

  query("sim_mmr_rerank") { (s, dir) =>
    // Diversified retrieval: MMR re-rank (λ=0.7) of the query vector's
    // top-16 brute-force candidates, 5 selections. Candidate scoring
    // and the pairwise matrix run distributed with the same codegen'd
    // cosine as sim_topk_bruteforce; the greedy argmax replays on
    // already-final doubles, so the oracle unrolls the identical 5
    // rounds (see Similarity.mmrRerank).
    val emb = t(s, dir, "embeddings")
    val query = emb.filter(col("vec_id") === 1)
    val cands = graft.operators.Similarity
      .bruteForceTopK(emb, query, k = 16)
      .select(col("neighbor_id").as("vec_id"), col("cosine").as("rel"))
      .join(emb.select(col("vec_id"), col("embedding")), Seq("vec_id"))
    graft.operators.Similarity.mmrRerank(cands, k = 5)
      .orderBy("rank")
  }.oracle(
    // the 5 greedy rounds unrolled; every float step (cosine folds,
    // 7e-1/3e-1 mixing) shares its shape with the engine, so scores
    // are bit-equal and the argmax tie-break (score desc, id asc)
    // picks identical rows
    """WITH q AS (
      |  SELECT CAST(embedding AS DOUBLE[]) AS qe
      |  FROM embeddings WHERE vec_id = 1),
      |c0 AS (
      |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS ce
      |  FROM embeddings WHERE vec_id <> 1),
      |scored AS (
      |  SELECT vec_id,
      |    list_dot_product(qe, ce) /
      |      (sqrt(list_dot_product(qe, qe)) *
      |       sqrt(list_dot_product(ce, ce))) AS rel, ce
      |  FROM c0, q),
      |cand AS (
      |  SELECT vec_id, rel, ce FROM scored
      |  ORDER BY rel DESC, vec_id LIMIT 16),
      |p AS (
      |  SELECT x.vec_id AS ai, y.vec_id AS bi,
      |    list_dot_product(x.ce, y.ce) /
      |      (sqrt(list_dot_product(x.ce, x.ce)) *
      |       sqrt(list_dot_product(y.ce, y.ce))) AS sim
      |  FROM cand x JOIN cand y ON x.vec_id <> y.vec_id),
      |r1 AS (
      |  SELECT vec_id, rel, 7e-1 * rel - 3e-1 * 0e0 AS score
      |  FROM cand ORDER BY score DESC, vec_id LIMIT 1),
      |sel1 AS (SELECT vec_id FROM r1),
      |r2 AS (
      |  SELECT c.vec_id, c.rel, 7e-1 * c.rel - 3e-1 * (
      |      SELECT max(p.sim) FROM p JOIN sel1 s ON p.bi = s.vec_id
      |      WHERE p.ai = c.vec_id) AS score
      |  FROM cand c WHERE c.vec_id NOT IN (SELECT vec_id FROM sel1)
      |  ORDER BY score DESC, c.vec_id LIMIT 1),
      |sel2 AS (SELECT vec_id FROM sel1 UNION ALL SELECT vec_id FROM r2),
      |r3 AS (
      |  SELECT c.vec_id, c.rel, 7e-1 * c.rel - 3e-1 * (
      |      SELECT max(p.sim) FROM p JOIN sel2 s ON p.bi = s.vec_id
      |      WHERE p.ai = c.vec_id) AS score
      |  FROM cand c WHERE c.vec_id NOT IN (SELECT vec_id FROM sel2)
      |  ORDER BY score DESC, c.vec_id LIMIT 1),
      |sel3 AS (SELECT vec_id FROM sel2 UNION ALL SELECT vec_id FROM r3),
      |r4 AS (
      |  SELECT c.vec_id, c.rel, 7e-1 * c.rel - 3e-1 * (
      |      SELECT max(p.sim) FROM p JOIN sel3 s ON p.bi = s.vec_id
      |      WHERE p.ai = c.vec_id) AS score
      |  FROM cand c WHERE c.vec_id NOT IN (SELECT vec_id FROM sel3)
      |  ORDER BY score DESC, c.vec_id LIMIT 1),
      |sel4 AS (SELECT vec_id FROM sel3 UNION ALL SELECT vec_id FROM r4),
      |r5 AS (
      |  SELECT c.vec_id, c.rel, 7e-1 * c.rel - 3e-1 * (
      |      SELECT max(p.sim) FROM p JOIN sel4 s ON p.bi = s.vec_id
      |      WHERE p.ai = c.vec_id) AS score
      |  FROM cand c WHERE c.vec_id NOT IN (SELECT vec_id FROM sel4)
      |  ORDER BY score DESC, c.vec_id LIMIT 1)
      |SELECT * FROM (
      |  SELECT 1 AS rank, vec_id, rel, score FROM r1
      |  UNION ALL SELECT 2, vec_id, rel, score FROM r2
      |  UNION ALL SELECT 3, vec_id, rel, score FROM r3
      |  UNION ALL SELECT 4, vec_id, rel, score FROM r4
      |  UNION ALL SELECT 5, vec_id, rel, score FROM r5)
      |ORDER BY rank""".stripMargin)

  /** DuckDB re-derivation of `HyperplaneSignature(embedding, bits)` for
    * an embedding column already cast to DOUBLE[] as `ed`. The plane
    * components are pure functions of (plane, dim) — data-independent
    * constants — so they are exported as double literals generated from
    * the SAME `VectorFunctions.hyperplaneComponent` the Catalyst
    * expression uses (the lexicon-fragment pattern from the text
    * oracles). Bit p = sign of the sequential double dot product, which
    * DuckDB's `list_dot_product` evaluates in the same order as the
    * expression's loop → bit-identical signs. `dim` is the (fixed)
    * testdata embedding dimension. */
  private def hyperplaneSigSql(edCol: String, bits: Int, dim: Int): String = {
    val terms = (0 until bits).map { p =>
      val plane = (0 until dim)
        .map(d => dlit(graft.functions.VectorFunctions.hyperplaneComponent(p, d)))
        .mkString("CAST([", ",", "] AS DOUBLE[])")
      s"(CASE WHEN list_dot_product($edCol, $plane) >= 0 " +
        s"THEN ${1L << p} ELSE 0 END)"
    }
    terms.mkString("(", "\n + ", ")")
  }

  /** IVF-PQ oracle: the IVF assignment/probe CTEs and the PQ
    * encode/ADC expressions composed — candidates are (probed cluster)
    * ∩ (ADC top-64), final ranking exact cosine. */
  private def ivfPqOracleSql(
      cents: Seq[Seq[Float]], pq: Similarity.PqModel): String =
    s"""WITH ${ivfAssignCtes(cents)},
       |enc AS (SELECT vec_id,
       |    ${pqCodesExpr(pq)} AS codes
       |  FROM base),
       |probes AS (SELECT vec_id AS query_id, ed AS qe, cid AS cluster_id
       |      FROM ranked WHERE vec_id % 50 = 0 AND vec_id < 2000 AND rn <= 12),
       |cand AS (SELECT p.query_id, a.neighbor_id, a.ce2, p.qe,
       |    ${pqAdcSql(pq, "p.qe", "e.codes")} AS adc
       |  FROM assign a
       |  JOIN enc e ON e.vec_id = a.neighbor_id
       |  JOIN probes p ON a.cluster_id = p.cluster_id
       |    AND a.neighbor_id <> p.query_id),
       |${adcRerankSql("ce2", 192)}""".stripMargin

  /** The PQ oracles' shared tail over `cand(query_id, neighbor_id,
    * <ce>, qe, adc)`: the top-`rerank` ADC prelim, the exact-cosine
    * rerank and the top 10 (Similarity.adcRerankTopK). */
  private def adcRerankSql(ce: String, rerank: Int): String =
    s"""pre AS (SELECT query_id, neighbor_id, $ce, qe, row_number() OVER (
       |    PARTITION BY query_id ORDER BY adc DESC, neighbor_id)
       |    AS prelim FROM cand),
       |s AS (SELECT query_id, neighbor_id,
       |    ${cosineSql("qe", ce)} AS cosine
       |  FROM pre WHERE prelim <= $rerank),
       |r AS (SELECT query_id, neighbor_id, cosine,
       |    CAST(row_number() OVER (PARTITION BY query_id
       |      ORDER BY cosine DESC, neighbor_id) AS INTEGER) AS rank
       |  FROM s)
       |SELECT query_id, neighbor_id, cosine, rank FROM r
       |WHERE rank <= 10 ORDER BY query_id, rank""".stripMargin

  /** PQ oracle: codebooks and their half-norms exported as double
    * literals, then the whole pipeline — per-subspace argmax encode,
    * left-nested ADC sum, top-`rerank` prelim rank, exact-cosine
    * rerank, top-k — recomputed in SQL. Every float expression is the
    * same sequence of IEEE ops the Catalyst expressions run, so codes,
    * ADC scores and the final ranking agree bit-for-bit. */
  private def pqCbLit(pq: Similarity.PqModel, mm: Int): String =
    pq.codebooks(mm)
      .map(c => c.map(dlit).mkString("[", ",", "]"))
      .mkString("CAST([", ",\n        ", "] AS DOUBLE[][])")
  private def pqHnLit(pq: Similarity.PqModel, mm: Int): String =
    pq.halfNorms(mm).map(dlit).mkString("CAST([", ",", "] AS DOUBLE[])")

  /** The per-subspace argmax code list for a DOUBLE[] column `ed`. */
  private def pqCodesExpr(pq: Similarity.PqModel): String =
    (0 until pq.numSubspaces).map { mm =>
      val a = mm * pq.subDim + 1; val b = (mm + 1) * pq.subDim
      val kMax = pq.codebooks(mm).size - 1
      s"""list_sort(list_transform(generate_series(0, $kMax), k ->
         |      {'negs': -(list_dot_product(ed[$a:$b], (${pqCbLit(pq, mm)})[k+1])
         |                 - (${pqHnLit(pq, mm)})[k+1]), 'k': k}))[1].k""".stripMargin
    }.mkString("[", ",\n    ", "]")

  /** Left-nested ADC sum over a query column `qe` and a code-list
    * column `codes` — pins the same accumulation order as PqAdc. */
  private def pqAdcSql(pq: Similarity.PqModel, qe: String,
      codes: String): String = {
    val terms = (0 until pq.numSubspaces).map { mm =>
      val a = mm * pq.subDim + 1; val b = (mm + 1) * pq.subDim
      s"list_dot_product($qe[$a:$b], " +
        s"(${pqCbLit(pq, mm)})[$codes[${mm + 1}] + 1])"
    }
    terms.tail.foldLeft(s"(${terms.head})")((acc, t) => s"($acc + $t)")
  }

  private def pqOracleSql(pq: Similarity.PqModel): String = {
    val codeExprs = pqCodesExpr(pq)
    val adc = pqAdcSql(pq, "qe", "codes")
    s"""WITH base AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS ed
       |              FROM embeddings),
       |enc AS (SELECT vec_id, ed,
       |    $codeExprs AS codes
       |  FROM base),
       |q AS (SELECT vec_id AS query_id, ed AS qe FROM base
       |      WHERE vec_id % 50 = 0 AND vec_id < 2000),
       |cand AS (SELECT q.query_id, e.vec_id AS neighbor_id,
       |    e.ed AS ce, q.qe,
       |    $adc AS adc
       |  FROM enc e, q WHERE e.vec_id <> q.query_id),
       |${adcRerankSql("ce", 128)}""".stripMargin
  }

  /** IVF oracle: centroid model exported as double literals (exact
    * float→double widening), then the assignment argmax, nProbe=12 probe
    * ranking, probed-cluster scan and top-k all recomputed in SQL. */
  private def ivfOracleSql(cents: Seq[Seq[Float]]): String =
    s"""WITH ${ivfAssignCtes(cents)},
       |probes AS (SELECT vec_id AS query_id, ed AS qe, cid AS cluster_id
       |      FROM ranked WHERE vec_id % 50 = 0 AND vec_id < 2000 AND rn <= 12),
       |s AS (SELECT DISTINCT query_id, neighbor_id,
       |        ${cosineSql("qe", "ce2")} AS cosine
       |      FROM assign a JOIN probes p ON a.cluster_id = p.cluster_id
       |        AND a.neighbor_id <> p.query_id),
       |$top10Sql""".stripMargin

  /** The brute-force oracles' CTEs: every (query, corpus) pair of the
    * fixed query batch scored by exact cosine (`s`). Shared by
    * sim_topk_bruteforce and sim_hard_negatives, which rank the same
    * pairs. */
  private def bruteForceScoreCtes: String =
    s"""WITH q AS (SELECT vec_id AS query_id,
       |             CAST(embedding AS DOUBLE[]) AS qe
       |           FROM embeddings WHERE vec_id % 50 = 0 AND vec_id < 2000),
       |c AS (SELECT vec_id AS neighbor_id,
       |        CAST(embedding AS DOUBLE[]) AS ce FROM embeddings),
       |s AS (SELECT query_id, neighbor_id,
       |        list_dot_product(qe, ce) /
       |          (sqrt(list_dot_product(qe, qe)) *
       |           sqrt(list_dot_product(ce, ce))) AS cosine
       |      FROM c JOIN q ON neighbor_id <> query_id),""".stripMargin

  /** The oracle twin of Similarity.rankTopK over `s(query_id,
    * neighbor_id, cosine)`: each query's neighbors ranked by (cosine
    * DESC, neighbor_id) as `r`. */
  private def rankCte: String =
    """r AS (SELECT query_id, neighbor_id, cosine,
      |        CAST(row_number() OVER (PARTITION BY query_id
      |          ORDER BY cosine DESC, neighbor_id) AS INTEGER) AS rank
      |      FROM s)""".stripMargin

  /** [[rankCte]] cut to the top 10 — the exact-cosine top-k oracles'
    * common tail. */
  private def top10Sql: String =
    s"""$rankCte
       |SELECT query_id, neighbor_id, cosine, rank FROM r
       |WHERE rank <= 10 ORDER BY query_id, rank""".stripMargin

  /** The IVF oracles' corpus assignment: [[centroidScoreCtes]], then
    * each vector's argmax cluster (`assign`, rn = 1) over the per-vector
    * centroid ranking (`ranked`, which the probe lists reuse). */
  private def ivfAssignCtes(cents: Seq[Seq[Float]]): String =
    s"""${centroidScoreCtes(cents)},
       |ranked AS (SELECT vec_id, ed, cid, row_number() OVER (
       |        PARTITION BY vec_id ORDER BY score DESC, cid) AS rn
       |      FROM scores),
       |assign AS (SELECT vec_id AS neighbor_id, ed AS ce2,
       |        cid AS cluster_id
       |      FROM ranked WHERE rn = 1)""".stripMargin

  /** The oracle twin of Similarity.centroidScores: the centroid model
    * as exact float→double literals (`cents`) and every vector's
    * cosine to every centroid, zero-norm floored to −2 (`scores`). */
  private def centroidScoreCtes(cents: Seq[Seq[Float]]): String = {
    val rows = cents.zipWithIndex.map { case (c, i) =>
      c.map(f => dlit(f.toDouble))
        .mkString(s"($i, CAST([", ",", "] AS DOUBLE[]))")
    }.mkString(",\n    ")
    s"""base AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS ed
       |              FROM embeddings),
       |cents AS (SELECT * FROM (VALUES
       |    $rows) t(cid, ce)),
       |scores AS (SELECT vec_id, ed, cid,
       |        coalesce(${cosineSql("ed", "ce")}, -2.0) AS score
       |      FROM base, cents)""".stripMargin
  }

  /** The shared assignment CTE prefix for the k-means family: exact
    * centroid literals → per-vector scores → argmax row (rn = 1, ties
    * on the lowest cluster id — exactly Similarity.withCluster's
    * array_position argmax). */
  private def kmeansAssignCtes(cents: Seq[Seq[Float]]): String =
    s"""${centroidScoreCtes(cents)},
       |ranked AS (SELECT vec_id, ed, cid, score, row_number() OVER (
       |        PARTITION BY vec_id ORDER BY score DESC, cid) AS rn
       |      FROM scores),
       |assign AS (SELECT vec_id, ed, cid AS cluster_id, score
       |      FROM ranked WHERE rn = 1)""".stripMargin

  private def kmeansOracleSql(cents: Seq[Seq[Float]]): String =
    s"""WITH ${kmeansAssignCtes(cents)}
       |SELECT vec_id, CAST(cluster_id AS INTEGER) AS cluster_id,
       |  CAST(round(score * 1e6) AS BIGINT) AS score_micros
       |FROM assign ORDER BY vec_id""".stripMargin

  /** Within-cluster pair CTEs shared by the semantic pair and decision
    * oracles: the per-cluster affinity cap (a no-op at this SF, but
    * replicated so the oracle pins the capped semantics), then the
    * capped self-join with the threshold-0.4 cosine filter. */
  private def semanticPairCtes(cents: Seq[Seq[Float]]): String =
    s"""${kmeansAssignCtes(cents)},
       |capped AS (SELECT vec_id, ed, cluster_id, row_number() OVER (
       |        PARTITION BY cluster_id ORDER BY score DESC, vec_id)
       |        AS r FROM assign QUALIFY r <= 4096),
       |p AS (SELECT * FROM (
       |      SELECT a.cluster_id, a.vec_id AS id_a, b.vec_id AS id_b,
       |        ${cosineSql("a.ed", "b.ed")} AS cosine
       |      FROM capped a JOIN capped b
       |        ON a.cluster_id = b.cluster_id AND a.vec_id < b.vec_id)
       |      WHERE cosine >= 0.4)""".stripMargin

  private def semanticPairsOracleSql(cents: Seq[Seq[Float]]): String =
    s"""WITH ${semanticPairCtes(cents)}
       |SELECT CAST(cluster_id AS INTEGER) AS cluster_id, id_a, id_b,
       |  cosine
       |FROM p ORDER BY id_a, id_b""".stripMargin

  private def semanticDecisionsOracleSql(cents: Seq[Seq[Float]]): String =
    s"""WITH ${semanticPairCtes(cents)},
       |edges AS (SELECT id_a AS vec_id, id_b AS nb FROM p
       |          UNION ALL SELECT id_b, id_a FROM p),
       |rep0 AS (SELECT vec_id, min(nb) AS min_nb FROM edges
       |         GROUP BY vec_id),
       |r AS (SELECT e.vec_id,
       |        least(e.vec_id, coalesce(rep0.min_nb, e.vec_id)) AS rep
       |      FROM embeddings e LEFT JOIN rep0 ON e.vec_id = rep0.vec_id)
       |SELECT vec_id, vec_id = rep AS keep,
       |  CASE WHEN vec_id <> rep THEN rep END AS dup_of
       |FROM r ORDER BY vec_id""".stripMargin
}
