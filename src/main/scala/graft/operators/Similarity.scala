package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.VectorFunctions._

/** Similarity search over an embedding column (`array<float>`), part of
  * the LLM-data-pipeline surface (BASELINE.json north star).
  *
  * Every path is one pipeline — build a model on a sample, then probe
  * and rank per query — and each step has one implementation:
  *  - [[trainingSample]]: the deterministic sample every model trains
  *    on ([[Sampling.smallestByHash]]), one Spark job;
  *  - [[lloyd]]: the driver-side Lloyd core behind the IVF / k-means
  *    centroids (cosine) and the PQ codebooks (L2 per subspace);
  *  - [[centroidScores]]: the one place a centroid model enters a plan
  *    (IVF assignment and probes, k-means assignment);
  *  - [[Banding.embeddingBands]]: the banded frame LSH probes;
  *  - [[rankTopK]]: the exact-cosine top-k every path ends in.
  * [[bruteForceTopK]] ranks every pair (one corpus scan, queries
  * broadcast) — the baseline and the verifier; [[lshTopK]], the IVF
  * paths and the PQ paths first cut the candidates to shared band
  * buckets, probed clusters or the ADC prelim.
  *
  * CONTRACT — `vec_id` is unique per corpus row (it is the embeddings
  * table's key; the driver testdata generates it as one). Every top-k
  * operator here ranks CORPUS ROWS: a duplicated vec_id would occupy
  * one rank slot per copy, consistently across the exact and all
  * approximate paths (brute force has always scored per row; lshTopK's
  * canonical smallest-shared-band emission is once per (query, corpus
  * ROW) — its former `.distinct()` on (ids, cosine) collapsed such
  * copies, a behavior no other path had). Callers with a multiset
  * corpus must key it first — deduping inside each operator would
  * re-add the candidate-sized exchange the canonical band removed.
  */
object Similarity {

  /** Exact top-k neighbors for each query vector. `queries` must be
    * small enough to broadcast (the typical online / eval case);
    * the corpus side never shuffles — cost is one corpus scan. */
  def bruteForceTopK(
      corpus: DataFrame, queries: DataFrame, k: Int = 10): DataFrame = {
    val q = queries.select(col("vec_id").as("query_id"),
      col("embedding").as("q_emb"))
    rankTopK(corpus.join(broadcast(q), col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        col("q_emb"), col("embedding").as("c_emb")), k)
  }

  /** The one exact-cosine ranker behind every top-k path: scores the
    * (query_id, neighbor_id, q_emb, c_emb) candidate pairs, ranks each
    * query's neighbors by (cosine desc, neighbor_id) and keeps rank ≤
    * k, ordered by (query_id, rank). An unscorable pair (zero-norm /
    * malformed embedding → null cosine) is NOT a neighbor: without the
    * filter a query with fewer than k scorable neighbors padded its
    * result with cosine=null rows, which downstream rerankers then
    * consumed. */
  private def rankTopK(pairs: DataFrame, k: Int): DataFrame = {
    val w = Window.partitionBy("query_id")
      .orderBy(col("cosine").desc, col("neighbor_id"))
    pairs.select(col("query_id"), col("neighbor_id"),
        cosine_sim(col("q_emb"), col("c_emb")).as("cosine"))
      .filter(col("cosine").isNotNull)
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .orderBy("query_id", "rank")
  }

  /** Approximate top-k via hyperplane LSH: `bits`-bit signatures split
    * into `bands`; query and corpus vectors sharing any band bucket are
    * scored. Recall is tunable via bits/bands (fewer bits per band →
    * more candidates → higher recall, higher cost). The defaults were
    * tuned on the test corpus (BASELINE.md, r1 and the round-14 ANN
    * anchors): 2-bit × 8-band signatures give recall@10 ≈ 0.97 vs brute
    * force even on near-random embeddings; clustered real embeddings
    * prune far better at the same setting. */
  def lshTopK(
      corpus: DataFrame,
      queries: DataFrame,
      k: Int = 10,
      bits: Int = 16,
      bands: Int = 8): DataFrame = {
    require(bands >= 1, s"bands must be >= 1, got $bands")
    require(bits % bands == 0,
      s"bits must split into equal bands: $bits bits into $bands bands")
    val bandBits = bits / bands
    val c = Banding.embeddingBands(corpus, bands, bandBits)
      .withColumnsRenamed(Map("vec_id" -> "neighbor_id",
        "embedding" -> "c_emb", "sig" -> "c_sig"))
    val q = Banding.embeddingBands(queries, bands, bandBits)
      .withColumnsRenamed(Map("vec_id" -> "query_id",
        "embedding" -> "q_emb", "sig" -> "q_sig"))

    // A pair sharing several bands is scored EXACTLY ONCE, at its
    // smallest shared band (the canonical-band conjunct: no earlier
    // band of the sig XOR is all-zero) — the same dedup-free emission
    // the cosine-threshold rewrite plans. The former shape scored
    // every shared band and deduplicated afterwards: one cosine per
    // collision (measured 165 k scorings for 80 k query×corpus pairs
    // at sf0.1 — 2-bit bands barely discriminate near-random
    // embeddings) plus a full exchange of the scored stream for the
    // distinct. At 100 TB the distinct is a candidate-sized shuffle;
    // the canonical band is a scan-stage predicate.
    rankTopK(c.join(broadcast(q), Seq("band", "bkey"))
      .filter(col("neighbor_id") =!= col("query_id"))
      .filter(Banding.noSharedBandBelow(col("c_sig"), col("q_sig"),
        col("band"), bands, bandBits)), k)
  }

  /** The deterministic training sample every vector model here trains
    * on: the embeddings of the `n` rows with the smallest
    * (xxhash64(vec_id), vec_id) ([[Sampling.smallestByHash]] — a
    * seeded, order-independent sample), collected as doubles in that
    * order by ONE Spark job. Null embeddings are excluded at the
    * source; rows whose dimension disagrees with the sample head are
    * dropped after collect — one malformed row among ~1024 must not
    * kill a model build when every distributed scorer maps the same
    * inputs to null. */
  private def trainingSample(corpus: DataFrame,
      n: Int): Array[Array[Double]] = {
    val raw = Sampling.smallestByHash(
        corpus.filter(col("embedding").isNotNull), col("vec_id"), n)
      .select("embedding")
      .collect()
      .map(_.getSeq[Float](0).toArray.map(_.toDouble))
    if (raw.isEmpty) raw else raw.filter(_.length == raw.head.length)
  }

  /** Nearest-centroid score for [[lloyd]]: higher is nearer. */
  private[graft] sealed trait Metric {
    def score(v: Array[Double], c: Array[Double]): Double
  }

  /** Cosine; −2, below every real cosine, when either side has zero
    * norm, so a zero vector still joins a cluster. */
  private[graft] case object CosineMetric extends Metric {
    def score(a: Array[Double], b: Array[Double]): Double = {
      var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < a.length) {
        dot += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1
      }
      if (na == 0.0 || nb == 0.0) -2.0
      else dot / (math.sqrt(na) * math.sqrt(nb))
    }
  }

  /** Negated squared L2 distance. */
  private[graft] case object L2Metric extends Metric {
    def score(a: Array[Double], c: Array[Double]): Double = {
      var s = 0.0; var i = 0
      while (i < c.length) {
        val d = a(i) - c(i); s += d * d; i += 1
      }
      -s
    }
  }

  /** The one driver-side Lloyd core behind [[trainCentroids]] and
    * [[trainPq]]: seeds are the first `k` sample rows (all of them when
    * the sample is smaller — degenerate corpora clamp the model size),
    * then each of `iters` rounds assigns every row to its best-scoring
    * centroid (strict `>`, so the lowest centroid index wins a tie) and
    * moves each centroid to its members' mean; an empty cluster keeps
    * its old centroid. */
  private[graft] def lloyd(sample: Array[Array[Double]], k: Int,
      iters: Int, metric: Metric): Array[Array[Double]] = {
    var model = sample.take(k)
    val kEff = model.length
    val dim = if (sample.isEmpty) 0 else sample(0).length
    (0 until iters).foreach { _ =>
      val sums = Array.fill(kEff, dim)(0.0)
      val counts = new Array[Long](kEff)
      sample.foreach { v =>
        var best = 0; var bestScore = Double.NegativeInfinity; var c = 0
        while (c < kEff) {
          val s = metric.score(v, model(c))
          if (s > bestScore) { bestScore = s; best = c }
          c += 1
        }
        counts(best) += 1
        var d = 0
        while (d < dim) { sums(best)(d) += v(d); d += 1 }
      }
      model = model.indices.map { c =>
        if (counts(c) == 0) model(c) // empty cluster: keep the old seed
        else sums(c).map(_ / counts(c))
      }.toArray
    }
    model
  }

  /** Train the tiny deterministic IVF centroid model: `refineIters`
    * cosine [[lloyd]] steps over the [[trainingSample]] — standard
    * practice for an IVF index build (train on a sample, assign
    * distributed) and exactly ONE Spark job for the whole model.
    * Returned separately so callers (and correctness oracles) can
    * capture the model the assignment actually used. Fewer vectors than
    * `nCentroids` clamp the model to the sample size; an empty corpus
    * yields an empty model (the caller falls back to brute force). */
  def trainCentroids(
      corpus: DataFrame,
      nCentroids: Int = 16,
      refineIters: Int = 5,
      sampleN: Int = 1024): Seq[Seq[Float]] =
    lloyd(trainingSample(corpus, math.max(sampleN, nCentroids)),
      nCentroids, refineIters, CosineMetric)
      .map(_.map(_.toFloat).toSeq).toSeq

  /** Product-quantization model: `codebooks(m)(k)` is centroid k of
    * subspace m; `halfNorms(m)(k) = ‖c‖²/2` precomputed once so the
    * encode argmax (`dot − halfNorm`) uses exactly the doubles the
    * SQL oracle re-derivation embeds as literals. */
  case class PqModel(codebooks: Seq[Seq[Seq[Double]]]) {
    val numSubspaces: Int = codebooks.size
    val subDim: Int = codebooks.head.head.size
    val halfNorms: Seq[Seq[Double]] = codebooks.map(_.map { c =>
      var s = 0.0; var i = 0
      while (i < c.size) { s += c(i) * c(i); i += 1 }
      0.5 * s
    })
  }

  /** Train PQ codebooks on the [[trainingSample]]: an L2 [[lloyd]] run
    * per subspace slice, the standard PQ construction. ONE Spark job
    * for the whole model; empty corpus → None. */
  def trainPq(
      corpus: DataFrame,
      numSubspaces: Int = 8,
      codebookSize: Int = 16,
      refineIters: Int = 10,
      sampleN: Int = 1024): Option[PqModel] = {
    val sample = trainingSample(corpus, math.max(sampleN, codebookSize))
    if (sample.isEmpty) return None
    val dim = sample(0).length
    require(dim % numSubspaces == 0,
      s"dim $dim must split into $numSubspaces equal subspaces")
    val subDim = dim / numSubspaces
    Some(PqModel((0 until numSubspaces).map { m =>
      val off = m * subDim
      lloyd(sample.map(java.util.Arrays.copyOfRange(_, off, off + subDim)),
        codebookSize, refineIters, L2Metric).map(_.toSeq).toSeq
    }))
  }

  /** Shared ADC-then-exact rerank tail for the PQ paths: candidates
    * rank by ADC on SKINNY rows — (query_id, neighbor_id, adc) only,
    * so the full embeddings never enter the ranking exchange and PQ's
    * codes-only candidate-scan advantage survives the plan (carrying
    * c_emb/q_emb through this window moved every full vector anyway,
    * nullifying the ~64× compression the operator exists for) — then
    * the ≤`rerank` survivors join back to the corpus embeddings, the
    * queries broadcast, and [[rankTopK]] picks the final top-k by
    * exact cosine. `cand` holds (query_id, neighbor_id, q_emb, codes)
    * pairs. ONE implementation for pqTopK and ivfPqTopK so the ADC
    * score, the prelim bound and both tie-breaks cannot drift. */
  private def adcRerankTopK(cand: DataFrame, pq: PqModel,
      corpus: DataFrame, queries: DataFrame, rerank: Int,
      k: Int): DataFrame = {
    val wAdc = Window.partitionBy("query_id")
      .orderBy(col("adc").desc, col("neighbor_id"))
    val survivors = cand
      .select(col("query_id"), col("neighbor_id"),
        pq_adc(col("q_emb"), col("codes"), pq.codebooks).as("adc"))
      .withColumn("prelim", row_number().over(wAdc))
      .filter(col("prelim") <= rerank)
      .select("query_id", "neighbor_id")
    rankTopK(survivors
      .join(corpus.select(col("vec_id").as("neighbor_id"),
        col("embedding").as("c_emb")), Seq("neighbor_id"))
      .join(broadcast(queries.select(col("vec_id").as("query_id"),
        col("embedding").as("q_emb"))), Seq("query_id")), k)
  }

  /** PQ approximate top-k with exact rerank: the candidate scan reads
    * only the compressed code table (M small ints per vector instead
    * of the full embedding — the memory/IO axis LSH and IVF don't
    * touch), ranks by the ADC approximate dot product, keeps
    * `rerank` candidates per query, and reranks those with exact
    * cosine. At 100 TB the code table is ~64× smaller than the
    * vectors and combines with the IVF cluster column for a classic
    * IVF-PQ index; here the two stages are separate operators.
    * Output schema matches the other ANN paths. */
  def pqTopK(
      corpus: DataFrame,
      queries: DataFrame,
      k: Int = 10,
      numSubspaces: Int = 8,
      codebookSize: Int = 16,
      rerank: Int = 64,
      model: Option[PqModel] = None): DataFrame = {
    val pq = model.orElse(trainPq(corpus, numSubspaces, codebookSize))
      .getOrElse(return bruteForceTopK(corpus, queries, k))

    // codes-only candidate frame: the scan carries the code table and
    // the broadcast query vectors, never the corpus embeddings
    val indexed = corpus.select(col("vec_id").as("neighbor_id"),
      pq_encode(col("embedding"), pq.codebooks, pq.halfNorms).as("codes"))
    val q = queries.select(col("vec_id").as("query_id"),
      col("embedding").as("q_emb"))
    adcRerankTopK(
      indexed.join(broadcast(q), col("neighbor_id") =!= col("query_id")),
      pq, corpus, queries, rerank, k)
  }

  /** Each row's cosine to every centroid, as an array indexed by
    * centroid id; a zero-norm row (null cosine) scores −2, below any
    * real cosine, so it still lands in a cluster instead of a null one.
    * The one place a centroid model enters a plan: the corpus-side
    * [[withCluster]] and the query-side [[probesFor]] both score
    * through it. */
  private def centroidScores(emb: Column, cents: Seq[Seq[Float]]): Column =
    transform(typedLit(cents),
      c => coalesce(cosine_sim(emb, c), lit(-2.0)))

  /** Corpus-side IVF cluster assignment (argmax of [[centroidScores]]).
    * The ONE argmax implementation — k-means assignment
    * ([[Clustering]]) reuses it with `keepScore = true`, so tie-breaks
    * and the zero-norm floor cannot drift between the IVF index and the
    * clustering family. */
  private[graft] def withCluster(df: DataFrame, cents: Seq[Seq[Float]],
      keepScore: Boolean = false): DataFrame = {
    val base = df
      .withColumn("_scores", centroidScores(col("embedding"), cents))
      .withColumn("cluster_id",
        expr("array_position(_scores, array_max(_scores)) - 1")
          .cast("int"))
    (if (keepScore) base.withColumn("score", array_max(col("_scores")))
     else base).drop("_scores")
  }

  /** Query-side probe list: each query exploded to its `nProbe`
    * closest clusters, as (query_id, q_emb, cluster_id). */
  private def probesFor(queries: DataFrame, cents: Seq[Seq[Float]],
      nProbe: Int): DataFrame =
    queries
      .select(col("vec_id").as("query_id"),
        col("embedding").as("q_emb"))
      .withColumn("_scores", centroidScores(col("q_emb"), cents))
      .withColumn("_ranked",
        expr(
          s"""slice(array_sort(
             |  zip_with(_scores, sequence(0, ${cents.size - 1}),
             |           (s, i) -> struct(-s AS negs, i AS cid))),
             |  1, $nProbe)""".stripMargin))
      .withColumn("cluster_id",
        explode(expr("transform(_ranked, r -> r.cid)")))
      .drop("_ranked", "_scores")

  /** IVF-PQ: the composed index — each inverted list stores PQ codes,
    * so a probe reads `nProbe/nCentroids` of the corpus AND touches
    * only compressed codes; exact vectors are read for the top-`rerank`
    * candidates per query. This is the classic web-scale ANN layout
    * (cluster column = partition/bucket key, code column = the scan
    * payload). Candidate set = IVF probe ∩ ADC ranking; final ranking
    * exact. */
  def ivfPqTopK(
      corpus: DataFrame,
      queries: DataFrame,
      k: Int = 10,
      nCentroids: Int = 16,
      nProbe: Int = 8,
      rerank: Int = 64,
      ivfModel: Option[Seq[Seq[Float]]] = None,
      pqModel: Option[PqModel] = None): DataFrame = {
    val cents = ivfModel.getOrElse(trainCentroids(corpus, nCentroids))
    val pq = pqModel.orElse(trainPq(corpus))
      .getOrElse(return bruteForceTopK(corpus, queries, k))
    if (cents.isEmpty) return bruteForceTopK(corpus, queries, k)

    val indexed = withCluster(corpus, cents)
      .select(col("vec_id").as("neighbor_id"), col("cluster_id"),
        pq_encode(col("embedding"), pq.codebooks, pq.halfNorms)
          .as("codes"))
    val probes = probesFor(queries, cents, nProbe)
    // each neighbor lives in exactly one cluster → no duplicate pairs
    adcRerankTopK(indexed.join(broadcast(probes), Seq("cluster_id"))
      .filter(col("neighbor_id") =!= col("query_id")),
      pq, corpus, queries, rerank, k)
  }

  /** Persist the IVF index: the corpus with its cluster assignment,
    * directory-partitioned BY CLUSTER — each inverted list is its own
    * partition directory. This is the on-disk web-scale ANN layout:
    * a probe with nProbe≪k touches nProbe directories and never
    * lists, let alone reads, the rest. Pair with
    * [[ivfTopKFromIndex]]; write once, probe per query batch. */
  def writeIvfIndex(corpus: DataFrame, cents: Seq[Seq[Float]],
      table: String = "ivfidx"): Unit =
    graft.sources.Layout.writePartitioned(
      withCluster(corpus, cents)
        .select(col("vec_id"), col("embedding"), col("cluster_id")),
      table, "cluster_id")

  /** IVF top-k over a PERSISTED [[writeIvfIndex]] table. Identical
    * semantics (and oracle) to [[ivfTopK]] with the same model; the
    * difference is I/O: the probe set joins the partitioned index on
    * `cluster_id`, so Spark's dynamic partition pruning (broadcast
    * reuse) restricts the scan to the probed inverted lists — the
    * plan carries `dynamicpruningexpression` on the partition column
    * (pinned in LayoutSpec/PlanQualitySpec). */
  def ivfTopKFromIndex(
      spark: org.apache.spark.sql.SparkSession,
      table: String,
      queries: DataFrame,
      cents: Seq[Seq[Float]],
      k: Int = 10,
      nProbe: Int = 4): DataFrame = {
    if (cents.isEmpty)
      return bruteForceTopK(
        spark.table(table).drop("cluster_id"), queries, k)
    probeTopK(spark.table(table), queries, cents, k, nProbe)
  }

  /** The shared IVF probe tail — probe explosion, cluster-restricted
    * candidate join, [[rankTopK]] — over any (vec_id, embedding,
    * cluster_id) index frame (in-memory assignment or the persisted
    * partitioned table). ONE implementation so the in-memory and
    * persisted paths cannot drift. */
  private def probeTopK(index: DataFrame, queries: DataFrame,
      cents: Seq[Seq[Float]], k: Int, nProbe: Int): DataFrame = {
    val indexed = index.select(col("vec_id").as("neighbor_id"),
      col("embedding").as("c_emb"), col("cluster_id"))
    val probes = probesFor(queries, cents, nProbe)
    // no .distinct(): each neighbor lives in exactly ONE cluster and a
    // probe list holds distinct cluster ids, so (query, neighbor)
    // pairs are unique by construction — the dedup exchange the LSH
    // path genuinely needs (multi-band collisions) was pure copy-paste
    // cost here.
    rankTopK(indexed.join(broadcast(probes), Seq("cluster_id"))
      .filter(col("neighbor_id") =!= col("query_id")), k)
  }

  /** IVF (inverted-file) approximate top-k: the corpus is clustered into
    * `nCentroids` lists; a query scans only its `nProbe` closest lists,
    * so scan cost drops to ~nProbe/nCentroids of the corpus. The model
    * is [[trainCentroids]]' (one sample job, not one full-corpus
    * assignment + recenter shuffle per iteration). At 100 TB the
    * distributed assignment pass is one scan and the cluster id becomes
    * a partition/bucket column for the written index. */
  def ivfTopK(
      corpus: DataFrame,
      queries: DataFrame,
      k: Int = 10,
      nCentroids: Int = 16,
      nProbe: Int = 4,
      refineIters: Int = 5,
      sampleN: Int = 1024,
      model: Option[Seq[Seq[Float]]] = None): DataFrame = {
    val centroids: Seq[Seq[Float]] = model.getOrElse(
      trainCentroids(corpus, nCentroids, refineIters, sampleN))
    if (centroids.isEmpty) return bruteForceTopK(corpus, queries, k)

    // index: corpus with cluster ids (at scale: persisted, bucketed)
    probeTopK(withCluster(corpus, centroids), queries, centroids, k,
      nProbe)
  }

  /** Maximal-marginal-relevance re-rank (Carbonell & Goldstein 1998):
    * greedily pick k of the candidates maximizing
    * `λ·rel − (1−λ)·max_{s∈selected} sim(cand, s)` — the diversified
    * retrieval step a RAG / training-data-selection pipeline runs on
    * top of ANN output.
    *
    * Scale shape: candidate GENERATION is the distributed heavy part
    * (brute force or ANN over the full corpus); this re-rank operates
    * on the BOUNDED candidate set those produce (≤ a few hundred rows
    * — the bounded-model discipline kmeans/BPE training use). That
    * bound is ENFORCED, not trusted: the frame is pre-truncated to the
    * top `maxCandidates` (default 512) by relevance — rel desc,
    * vec_id asc, a total order, so the truncation is deterministic —
    * before any pairwise work, so a caller passing 100k candidates
    * degrades to MMR-over-top-512 instead of
    * collecting |C|² doubles into the driver. The truncation plans as
    * a TakeOrderedAndProject (distributed top-k, no global sort). The
    * pairwise sim matrix is computed distributed with the same
    * codegen'd cosine as candidate scoring, then the |C|² doubles are
    * collected and the inherently-sequential greedy runs driver-side
    * comparing ALREADY-FINAL doubles — nothing is recomputed, so the
    * selection is bit-reproducible and an oracle can replay it by
    * unrolling the same argmax rounds (tie-break: score desc, id asc).
    *
    * @param candidates bounded frame of (vec_id, rel, embedding)
    * @param maxCandidates the candidate bound, applied before any
    *   pairwise work
    * @return one row per selection: rank, vec_id, rel, score
    */
  def mmrRerank(candidates: DataFrame, k: Int,
      maxCandidates: Int = 512): DataFrame = {
    val spark = candidates.sparkSession
    import spark.implicits._
    // a candidate with no relevance score cannot be ranked — drop it
    // here instead of NPE-ing the driver collect; unscorable pairwise
    // cosines (zero-norm/malformed embeddings) floor to -2.0, below
    // any real cosine, so they never dominate the diversity penalty
    // (the withCluster convention)
    require(maxCandidates > 0,
      s"maxCandidates must be > 0, got $maxCandidates")
    val c = candidates.select(col("vec_id").cast("long"),
      col("rel").cast("double"), col("embedding"))
      .filter(col("rel").isNotNull)
      .orderBy(col("rel").desc, col("vec_id").asc).limit(maxCandidates)
    val rels = c.select("vec_id", "rel").collect()
      .map(r => r.getLong(0) -> r.getDouble(1))
    val a = c.select(col("vec_id").as("ai"), col("embedding").as("ae"))
    val b = c.select(col("vec_id").as("bi"), col("embedding").as("be"))
    val sims = a.join(b, col("ai") =!= col("bi"))
      .select(col("ai"), col("bi"),
        coalesce(cosine_sim(col("ae"), col("be")), lit(-2.0)).as("sim"))
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2))
      .toMap
    var selected = Vector.empty[Long]
    val out = scala.collection.mutable.ArrayBuffer.empty[(Int, Long,
      Double, Double)]
    var remaining = rels.toMap
    var rank = 1
    while (rank <= k && remaining.nonEmpty) {
      val scored = remaining.toSeq.map { case (id, rel) =>
        val pen = if (selected.isEmpty) 0e0
          else selected.map(s => sims.getOrElse((id, s), -2.0)).max
        (7e-1 * rel - 3e-1 * pen, id, rel)
      }
      // argmax, tie-break score desc then id asc
      val (score, id, rel) = scored.minBy { case (sc, i, _) => (-sc, i) }
      out += ((rank, id, rel, score))
      selected :+= id
      remaining -= id
      rank += 1
    }
    out.toSeq.toDF("rank", "vec_id", "rel", "score")
  }
}
