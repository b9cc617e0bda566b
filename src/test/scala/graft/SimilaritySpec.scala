package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.Similarity

class SimilaritySpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  // 3 clusters around orthogonal axes with slight jitter
  private lazy val corpus = (0 until 30).map { i =>
    val axis = i % 3
    val v = new Array[Float](8)
    v(axis) = 1f
    v((axis + 3) % 8) = (i % 5) * 0.01f
    (i.toLong, v)
  }.toDF("vec_id", "embedding")

  test("recall gates at sf0.01: LSH / IVF / PQ / IVF-PQ all hold " +
      "recall@10 >= 0.9 vs brute-force ground truth") {
    // CI pin for the production parameters the declared sim_topk_*
    // queries use — a future retune cannot silently trade recall for
    // speed without failing here.
    val corpus = spark.read
      .parquet("/root/testdata/sf0.01/embeddings.parquet")
    val queries = corpus.filter(col("vec_id") % 50 === 0)
    def pairs(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
      df.select("query_id", "neighbor_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    val bf = pairs(Similarity.bruteForceTopK(corpus, queries, k = 10))
    def recall(s: Set[(Long, Long)]): Double =
      (bf & s).size.toDouble / bf.size
    val lsh = recall(pairs(Similarity.lshTopK(corpus, queries, k = 10)))
    assert(lsh >= 0.9, f"LSH recall $lsh%.2f < 0.9")
    val cents = Similarity.trainCentroids(corpus, nCentroids = 16)
    val ivf = recall(pairs(Similarity.ivfTopK(corpus, queries, k = 10,
      nCentroids = 16, nProbe = 12, model = Some(cents))))
    assert(ivf >= 0.9, f"IVF recall $ivf%.2f < 0.9")
    val pqm = Similarity.trainPq(corpus, codebookSize = 32).get
    val pq = recall(pairs(Similarity.pqTopK(corpus, queries, k = 10,
      codebookSize = 32, rerank = 128, model = Some(pqm))))
    assert(pq >= 0.9, f"PQ recall $pq%.2f < 0.9")
    val ivfpq = recall(pairs(Similarity.ivfPqTopK(corpus, queries,
      k = 10, nCentroids = 16, nProbe = 12, rerank = 192,
      ivfModel = Some(cents), pqModel = Some(pqm))))
    assert(ivfpq >= 0.9, f"IVF-PQ recall $ivfpq%.2f < 0.9")
  }

  test("brute-force top-k returns k neighbors in descending cosine") {
    val q = corpus.filter(col("vec_id") === 0)
    val r = Similarity.bruteForceTopK(corpus, q, k = 5).collect()
    assert(r.length === 5)
    val cosines = r.map(_.getDouble(2)).toSeq
    assert(cosines === cosines.sorted.reverse)
    // all top-5 of a cluster-0 query are cluster-0 members
    assert(r.forall(_.getLong(1) % 3 === 0))
  }

  test("brute-force: every query gets rows, self excluded") {
    val q = corpus.filter(col("vec_id") < 3)
    val r = Similarity.bruteForceTopK(corpus, q, k = 3).collect()
    assert(r.map(_.getLong(0)).distinct.length === 3)
    assert(!r.exists(x => x.getLong(0) === x.getLong(1)))
  }

  test("LSH top-k finds the same top-1 as brute force on clustered data") {
    val q = corpus.filter(col("vec_id") === 0)
    val bf = Similarity.bruteForceTopK(corpus, q, k = 1).collect()
    val lsh = Similarity.lshTopK(corpus, q, k = 1, bits = 8, bands = 4)
      .collect()
    assert(lsh.nonEmpty)
    // clustered vectors share buckets → top-1 must match exactly
    assert(lsh(0).getLong(1) === bf(0).getLong(1))
  }

  test("IVF top-1 matches brute force on clustered data") {
    val q = corpus.filter(col("vec_id") < 3)
    val bf = Similarity.bruteForceTopK(corpus, q, k = 1).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val ivf = Similarity.ivfTopK(corpus, q, k = 1,
      nCentroids = 6, nProbe = 2).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(ivf.nonEmpty)
    ivf.foreach { case (qid, nn) => assert(nn === bf(qid), s"query $qid") }
  }

  test("IVF results are deterministic across runs") {
    val q = corpus.filter(col("vec_id") === 0)
    val a = Similarity.ivfTopK(corpus, q, k = 3, nCentroids = 6, nProbe = 2)
      .collect().map(_.toString).toSeq
    val b = Similarity.ivfTopK(corpus, q, k = 3, nCentroids = 6, nProbe = 2)
      .collect().map(_.toString).toSeq
    assert(a === b)
  }

  test("IVF centroid training is exactly ONE Spark job (sample collect)") {
    // the 100 TB contract: the model build must not scale with the
    // corpus — one TakeOrdered sample job, Lloyd runs driver-side on
    // the collected sample, zero further collects
    // parquet-backed corpus: a LocalRelation fixture plans differently
    // (AQE materializes local stages as extra jobs) and would not
    // exercise the real scan path
    val dir = java.nio.file.Files
      .createTempDirectory("ivf-train-spec").toString
    corpus.write.mode("overwrite").parquet(dir)
    val pq = spark.read.parquet(dir)
    val sc = spark.sparkContext
    val group = "ivf-train-spec"
    sc.setJobGroup(group, "ivf train job count")
    try Similarity.trainCentroids(pq, nCentroids = 6)
    finally sc.clearJobGroup()
    def ids = sc.statusTracker.getJobIdsForGroup(group).toSeq
    val deadline = System.currentTimeMillis + 10000
    while (System.currentTimeMillis < deadline && ids.isEmpty)
      Thread.sleep(50)
    Thread.sleep(300) // listener bus is async; confirm the count settled
    assert(ids.size === 1, s"expected 1 training job, saw ${ids.size}")
  }

  test("IVF survives a corpus smaller than nCentroids and an empty one") {
    val tiny = corpus.filter(col("vec_id") < 4)
    val q = tiny.filter(col("vec_id") === 0)
    val r = Similarity.ivfTopK(tiny, q, k = 3, nCentroids = 16, nProbe = 4)
      .collect()
    assert(r.length === 3) // 3 non-self neighbors exist
    val empty = corpus.filter(col("vec_id") < 0)
    assert(Similarity.ivfTopK(empty, q, k = 3).collect().isEmpty)
    assert(Similarity.trainCentroids(empty).isEmpty)
  }

  test("LSH candidates are a subset of the corpus scored correctly") {
    val q = corpus.filter(col("vec_id") === 1)
    val r = Similarity.lshTopK(corpus, q, k = 30, bits = 8, bands = 2)
      .collect()
    assert(r.nonEmpty && r.forall(_.getDouble(2) <= 1.0 + 1e-9))
  }

  test("LSH with 3-bit bands (bits=24, bands=8) ranks exactly the pairs " +
      "sharing a band, each once") {
    // random 8-dim vectors: 24 x 8 is a width no declared query uses,
    // so only this pin covers a band width that does not divide 8
    val rnd = new scala.util.Random(5)
    val vecs = (0 until 40).map(i =>
      (i.toLong, Array.fill(8)(rnd.nextGaussian().toFloat)))
      .toDF("vec_id", "embedding")
    val q = vecs.filter(col("vec_id") % 5 === 0)
    import graft.functions.VectorFunctions.{cosine_sim, hyperplane_sig}
    // every (query, corpus) pair with both signatures, scored
    val all = q.select(col("vec_id").as("qid"), col("embedding").as("qe"),
        hyperplane_sig(col("embedding"), 24).as("qs"))
      .crossJoin(vecs.select(col("vec_id").as("cid"),
        col("embedding").as("ce"),
        hyperplane_sig(col("embedding"), 24).as("cs")))
      .select(col("qid"), col("cid"), col("qs"), col("cs"),
        cosine_sim(col("qe"), col("ce")).as("cosine"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getDouble(4)))
    def shareBand(a: Long, b: Long) =
      (0 until 8).exists(band => ((a ^ b) >>> (3 * band) & 7L) == 0)
    val k = 5
    val want = all.filter { case (qid, cid, qs, cs, _) =>
        qid != cid && shareBand(qs, cs) }
      .groupBy(_._1).toSeq.flatMap { case (qid, ps) =>
        ps.sortBy(p => (-p._5, p._2)).take(k).zipWithIndex
          .map { case (p, i) => (qid, p._2, p._5, i + 1) }
      }.sortBy(r => (r._1, r._4))
    val got = Similarity.lshTopK(vecs, q, k = k, bits = 24, bands = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2),
        r.getInt(3))).toSeq
    assert(want.nonEmpty)
    assert(got === want)
  }

  test("LSH rejects bits that do not split into equal bands, naming " +
      "both values") {
    val e = intercept[IllegalArgumentException](
      Similarity.lshTopK(corpus, corpus, bits = 16, bands = 3))
    assert(e.getMessage.contains("16 bits") &&
      e.getMessage.contains("3 bands"), e.getMessage)
  }

  test("PQ with rerank covering the corpus equals brute force exactly") {
    // the ADC prelim stage cannot drop anything when rerank >= corpus,
    // so the exact-cosine rerank must reproduce brute force verbatim
    val q = corpus.filter(col("vec_id") % 10 === 0)
    val got = Similarity.pqTopK(corpus, q, k = 5,
        numSubspaces = 4, codebookSize = 8, rerank = 1000)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .toSeq
    val want = Similarity.bruteForceTopK(corpus, q, k = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .toSeq
    assert(got === want)
    assert(got.nonEmpty)
  }

  test("PQ codes are bounded and the model is deterministic") {
    import graft.functions.VectorFunctions.pq_encode
    val Some(pq) = Similarity.trainPq(corpus, numSubspaces = 4,
      codebookSize = 8)
    val Some(pq2) = Similarity.trainPq(corpus, numSubspaces = 4,
      codebookSize = 8)
    assert(pq.codebooks === pq2.codebooks)
    val codes = corpus.select(
        pq_encode(col("embedding"), pq.codebooks, pq.halfNorms).as("c"))
      .collect().map(_.getSeq[Int](0))
    assert(codes.forall(c => c.length === 4 &&
      c.forall(k => k >= 0 && k < 8)))
  }

  test("PQ top-1 matches brute force on clustered data at tight rerank") {
    val q = corpus.filter(col("vec_id") % 10 === 0)
    val got = Similarity.pqTopK(corpus, q, k = 1,
        numSubspaces = 4, codebookSize = 8, rerank = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val want = Similarity.bruteForceTopK(corpus, q, k = 1)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got === want)
  }

  test("IVF-PQ with full probes and full rerank equals brute force") {
    val q = corpus.filter(col("vec_id") % 10 === 0)
    val got = Similarity.ivfPqTopK(corpus, q, k = 5,
        nCentroids = 4, nProbe = 4, rerank = 1000,
        pqModel = Similarity.trainPq(corpus, numSubspaces = 4,
          codebookSize = 8))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .toSeq
    val want = Similarity.bruteForceTopK(corpus, q, k = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .toSeq
    assert(got === want)
    assert(got.nonEmpty)
  }

  test("IVF-PQ probes restrict the candidate clusters") {
    val q = corpus.filter(col("vec_id") % 10 === 0)
    val r = Similarity.ivfPqTopK(corpus, q, k = 3,
      nCentroids = 4, nProbe = 1, rerank = 8,
      pqModel = Similarity.trainPq(corpus, numSubspaces = 4,
        codebookSize = 8))
    val rows = r.collect()
    assert(rows.nonEmpty)
    // clustered fixture: with 1 probe the top-1 still matches brute
    // force (the nearest neighbor shares the query's cluster)
    val top1 = rows.filter(_.getInt(3) == 1)
      .map(x => (x.getLong(0), x.getLong(1))).toSet
    val want = Similarity.bruteForceTopK(corpus, q, k = 1)
      .collect().map(x => (x.getLong(0), x.getLong(1))).toSet
    assert(top1 === want)
  }

  test("persisted IVF index: identical results to the in-memory probe, " +
      "scan dynamically pruned to the probed partitions") {
    val q = corpus.filter(col("vec_id") % 10 === 0)
    val cents = Similarity.trainCentroids(corpus, nCentroids = 4)
    Similarity.writeIvfIndex(corpus, cents, "spec_ivfidx")
    val fromIdx = Similarity.ivfTopKFromIndex(
      spark, "spec_ivfidx", q, cents, k = 3, nProbe = 2)
    val inMem = Similarity.ivfTopK(corpus, q, k = 3,
      nCentroids = 4, nProbe = 2, model = Some(cents))
    val key = (df: org.apache.spark.sql.DataFrame) => df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(3))).toSet
    // the persisted layout changes I/O, not semantics (the dynamic-
    // partition-pruning plan shape is pinned on the declared query in
    // PlanQualitySpec — DPP's benefit heuristic skips 30-row fixtures)
    assert(key(fromIdx) === key(inMem) && key(fromIdx).nonEmpty)
  }

  test("MMR re-rank: first pick is max relevance, near-duplicates are " +
      "deferred in favor of diverse candidates") {
    import spark.implicits._
    // candidate 10: most relevant. candidate 11: near-duplicate of 10
    // (same direction). candidate 12: orthogonal, lower relevance.
    // pure-relevance order would be 10, 11, 12; MMR must pick 10, 12,
    // then 11.
    val cands = Seq(
      (10L, 0.99, Seq(1.0f, 0.0f, 0.0f)),
      (11L, 0.98, Seq(0.999f, 0.01f, 0.0f)),
      (12L, 0.60, Seq(0.0f, 1.0f, 0.0f)))
      .toDF("vec_id", "rel", "embedding")
    val got = Similarity.mmrRerank(cands, k = 3)
      .orderBy("rank").collect()
      .map(r => (r.getInt(0), r.getLong(1)))
    assert(got.toSeq == Seq((1, 10L), (2, 12L), (3, 11L)))
    // k larger than the candidate set: returns all, no crash
    val all = Similarity.mmrRerank(cands, k = 10).collect()
    assert(all.length == 3)
  }

  test("MMR re-rank enforces its candidate bound: an oversized frame " +
      "degrades deterministically to MMR over the top-cap by relevance " +
      "instead of collecting |C|² pairwise doubles") {
    import spark.implicits._
    // 1200 candidates, rel strictly decreasing with id — the top-16
    // by (rel desc, vec_id asc) are exactly ids 0..15
    val big = spark.range(1200).select(col("id").as("vec_id"),
      (lit(1.0) - col("id") * 0.0001).as("rel"),
      array(cos(col("id")).cast("float"), sin(col("id")).cast("float"),
        lit(0.5f)).as("embedding"))
    val top16 = big.orderBy(col("rel").desc, col("vec_id").asc).limit(16)
    val capped = Similarity.mmrRerank(big, k = 5, maxCandidates = 16)
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getDouble(3)))
    val exact = Similarity.mmrRerank(top16, k = 5).collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getDouble(3)))
    assert(capped.toSeq === exact.toSeq && capped.length == 5)
    // every selection came from the enforced top-16 window
    assert(capped.forall(_._2 < 16))
  }
}
