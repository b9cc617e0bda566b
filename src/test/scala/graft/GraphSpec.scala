package graft

import java.util.concurrent.{CountDownLatch, TimeUnit}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.functions.{col, lit}
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.{Graph, Iterate}
import graft.operators.Iterate.MaterializeOps

/** Exact-integer PageRank: the distributed rank flow must agree
  * value-for-value with a sequential reference that applies the same
  * floor-division update rule, on graphs with cycles, sinks, isolated
  * nodes and asymmetric degree. */
class GraphSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  /** Sequential replay of the documented update rule. */
  private def reference(nodes: Seq[Long], edges: Seq[(Long, Long)],
      iters: Int, scale: Long = 1000000000000L): Map[Long, Long] = {
    val n = nodes.size
    val base = 15L * scale / (100L * n)
    val outdeg = edges.groupBy(_._1).view.mapValues(_.size.toLong).toMap
    var ranks = nodes.map(_ -> scale / n).toMap
    for (_ <- 1 to iters) {
      val inflow = edges
        .map { case (s, d) => d -> ranks(s) / outdeg(s) }
        .groupBy(_._1).view.mapValues(_.map(_._2).sum).toMap
      ranks = nodes.map(v =>
        v -> (base + 85L * inflow.getOrElse(v, 0L) / 100L)).toMap
    }
    ranks
  }

  private def run(nodes: Seq[Long], edges: Seq[(Long, Long)],
      iters: Int): Map[Long, Long] =
    Graph.pageRank(
        nodes.toDF("id"),
        edges.toDF("src", "dst"), iters)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

  test("matches the sequential reference on a cycle with a chord") {
    val nodes = Seq(1L, 2L, 3L, 4L)
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 1L), (1L, 3L))
    assert(run(nodes, edges, 5) === reference(nodes, edges, 5))
  }

  test("dangling and isolated nodes: sinks leak, isolates settle at base") {
    // 3 is a sink (no out-edges), 9 is fully isolated
    val nodes = Seq(1L, 2L, 3L, 9L)
    val edges = Seq((1L, 2L), (2L, 3L), (1L, 3L))
    val got = run(nodes, edges, 4)
    val want = reference(nodes, edges, 4)
    assert(got === want)
    val base = 15L * 1000000000000L / (100L * 4)
    assert(got(9L) === base) // nothing flows into an isolate
  }

  test("rank concentrates where links point (star hub wins)") {
    val nodes = (1L to 6L).toSeq
    val edges = (2L to 6L).map(i => (i, 1L)) ++ Seq((1L, 2L))
    val got = run(nodes, edges, 5)
    assert(got(1L) === got.values.max) // hub of the in-star
    assert(got === reference(nodes, edges, 5))
  }

  test("result is layout-invariant (exact integers, any partitioning)") {
    val nodes = (1L to 20L).toSeq
    val edges = nodes.flatMap(i => Seq((i, i % 20 + 1), (i, (i * 7) % 20 + 1)))
    val once = run(nodes, edges, 5)
    val again = Graph.pageRank(
        nodes.toDF("id").repartition(7),
        edges.toDF("src", "dst").repartition(13), 5)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(once === again)
  }

  test("edge targets outside the node universe never leak phantom " +
      "rows into the rank output") {
    val got = Graph.pageRank(
        Seq(1L, 2L).toDF("id"),
        Seq((1L, 99L), (1L, 2L), (2L, 1L)).toDF("src", "dst"), 3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got.keySet === Set(1L, 2L), s"phantom nodes: ${got.keySet}")
  }

  test("constant-size lineage: the returned plan is a checkpoint scan, " +
      "not 5 iterations of accumulated joins") {
    val nodes = (1L to 10L).toSeq
    val edges = nodes.map(i => (i, i % 10 + 1))
    val df = Graph.pageRank(nodes.toDF("id"), edges.toDF("src", "dst"), 5)
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("ExistingRDD"),
      s"expected a localCheckpoint scan as the plan root:\n$p")
    assert(!p.contains("Exchange"),
      s"iteration work must be materialized, not re-planned:\n$p")
  }

  /** Naive reference: count triangles per node by brute force. */
  private def naiveTriangles(edges: Seq[(Long, Long)])
      : Map[Long, (Long, Long)] = {
    val und = edges.map { case (a, b) => (math.min(a, b), math.max(a, b)) }
      .distinct
    val adj = (und ++ und.map(_.swap)).groupBy(_._1).view
      .mapValues(_.map(_._2).toSet).toMap
    val nodes = adj.keySet
    val tris = nodes.toSeq.map { v =>
      val nb = adj(v).toSeq
      val t = (for {
        i <- nb.indices; j <- i + 1 until nb.size
        if adj(nb(i)).contains(nb(j))
      } yield 1).size
      v -> t.toLong
    }.toMap
    nodes.map(v => v -> (adj(v).size.toLong, tris(v))).toMap
  }

  test("triangleCounts matches brute force on a mixed random graph") {
    val rnd = new scala.util.Random(7)
    val edges = (1 to 60).map(_ =>
      (rnd.nextInt(12).toLong, rnd.nextInt(12).toLong))
      .filter { case (a, b) => a != b }
      .map { case (a, b) => (math.min(a, b), math.max(a, b)) }
      .distinct
    val got = Graph.triangleCounts(edges.toDF("a", "b"))
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2)))
      .toMap
    assert(got === naiveTriangles(edges))
  }

  test("star graph has zero triangles and zero oriented wedge blowup") {
    val edges = (2L to 30L).map(h => (1L, h))
    val got = Graph.triangleCounts(edges.toDF("a", "b"))
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(got.values.forall(_ === 0L))
    assert(got(1L) === 0L)
  }

  test("complete K5: every node sits in C(4,2)=6 triangles") {
    val nodes = 1L to 5L
    val edges = for (a <- nodes; b <- nodes if a < b) yield (a, b)
    val got = Graph.triangleCounts(edges.toDF("a", "b"))
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2)))
      .toMap
    nodes.foreach(v => assert(got(v) === ((4L, 6L))))
  }

  /** Sequential replay of the synchronous LPA update rule. */
  private def referenceLpa(nodes: Seq[Long], edges: Seq[(Long, Long)],
      iters: Int): Map[Long, Long] = {
    var labels = nodes.map(v => v -> v).toMap
    for (_ <- 1 to iters) {
      val next = nodes.map { v =>
        val nbrLabels = edges.collect { case (s, d) if s == v => labels(d) }
        if (nbrLabels.isEmpty) v -> labels(v)
        else {
          val counts = nbrLabels.groupBy(identity).view
            .mapValues(_.size.toLong).toMap
          v -> counts.toSeq.minBy { case (l, c) => (-c, l) }._1
        }
      }.toMap
      labels = next
    }
    labels
  }

  test("labelPropagation matches the sequential reference, and two " +
      "cliques with one bridge settle into two communities") {
    val cliqueA = for (a <- 1L to 5L; b <- 1L to 5L if a != b) yield (a, b)
    val cliqueB = for (a <- 11L to 15L; b <- 11L to 15L if a != b) yield (a, b)
    val bridge = Seq((5L, 11L), (11L, 5L))
    val nodes = ((1L to 5L) ++ (11L to 15L)).toSeq
    val edges = (cliqueA ++ cliqueB ++ bridge).toSeq
    val got = Graph.labelPropagation(
        nodes.toDF("id"), edges.toDF("src", "dst"), 4)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got === referenceLpa(nodes, edges, 4))
    // each clique converges onto one label, and they differ
    assert((1L to 5L).map(got).toSet.size === 1)
    assert((11L to 15L).map(got).toSet.size === 1)
    assert(got(1L) !== got(15L))
  }

  test("labelPropagation is layout-invariant and respects iters=1 " +
      "(one round = most frequent neighbor label)") {
    val nodes = (1L to 12L).toSeq
    val edges = nodes.flatMap(i =>
      Seq((i, i % 12 + 1), (i % 12 + 1, i), (i, (i * 5) % 12 + 1)))
    val once = Graph.labelPropagation(
        nodes.toDF("id"), edges.toDF("src", "dst"), 3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val again = Graph.labelPropagation(
        nodes.toDF("id").repartition(5),
        edges.toDF("src", "dst").repartition(3), 3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(once === again)
    assert(once === referenceLpa(nodes, edges, 3))
    val one = Graph.labelPropagation(
        nodes.toDF("id"), edges.toDF("src", "dst"), 1)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(one === referenceLpa(nodes, edges, 1))
  }

  test("guards: empty node set and out-of-range iteration count throw") {
    intercept[IllegalArgumentException] {
      Graph.pageRank(Seq.empty[Long].toDF("id"),
        Seq((1L, 2L)).toDF("src", "dst"))
    }
    intercept[IllegalArgumentException] {
      Graph.pageRank(Seq(1L).toDF("id"),
        Seq((1L, 1L)).toDF("src", "dst"), iters = 0)
    }
  }

  private def referenceBfs(nodes: Seq[Long], edges: Seq[(Long, Long)],
      seeds: Seq[Long], maxHops: Int): Map[Long, Option[Long]] = {
    val adj = edges.groupBy(_._1).view.mapValues(_.map(_._2)).toMap
    var dist = seeds.filter(nodes.contains).map(_ -> 0L).toMap
    var frontier = dist.keySet
    for (h <- 1 to maxHops) {
      frontier = frontier.flatMap(adj.getOrElse(_, Nil))
        .filter(v => !dist.contains(v))
      dist = dist ++ frontier.map(_ -> h.toLong)
    }
    nodes.map(v => v -> dist.get(v)).toMap
  }

  test("bfsHops matches sequential BFS: chains, cycles, disconnected " +
      "nodes, hop budget, multi-seed min") {
    // chain 1-2-3-4-5 (directed both ways), cycle 6-7-8, isolated 9
    val nodes = (1L to 9L)
    val base = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L),
      (6L, 7L), (7L, 8L), (8L, 6L))
    val edges = base ++ base.map(_.swap)
    def run(seeds: Seq[Long], k: Int): Map[Long, Option[Long]] =
      Graph.bfsHops(nodes.toDF("id"), edges.toDF("src", "dst"),
          seeds.toDF("id"), k)
        .collect()
        .map(r => r.getLong(0) ->
          (if (r.isNullAt(1)) None else Some(r.getLong(1)))).toMap
    for ((seeds, k) <- Seq((Seq(1L), 4), (Seq(1L), 2), (Seq(1L, 5L), 4),
        (Seq(6L), 3))) {
      assert(run(seeds, k) === referenceBfs(nodes, edges, seeds, k),
        s"seeds=$seeds k=$k")
    }
    // multi-seed: node 3 is 2 hops from both ends, not 4
    assert(run(Seq(1L, 5L), 4)(3L) === Some(2L))
    // isolated node and other component stay null
    assert(run(Seq(1L), 4)(9L) === None)
    assert(run(Seq(1L), 4)(6L) === None)
    // hop budget: node 5 unreached within 2 hops of node 1
    assert(run(Seq(1L), 2)(5L) === None)
  }

  test("pinned-layout regime (rank frame too big to broadcast) is " +
      "result-identical to the broadcast regime") {
    // forcing autoBroadcastJoinThreshold=-1 sends pageRank and bfsHops
    // down the billion-node co-partitioned path; results must match
    // the broadcast-regime plans bit for bit
    val nodes = (1L to 60L).toSeq
    val rnd = new scala.util.Random(5)
    val edges = (1 to 200).map(_ =>
      (rnd.nextInt(60).toLong + 1, rnd.nextInt(60).toLong + 1))
      .filter(e => e._1 != e._2)
    def both[T](body: => T): (T, T) = {
      val fast = body
      val saved = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val pinned = try body
        finally spark.conf
          .set("spark.sql.autoBroadcastJoinThreshold", saved)
      (fast, pinned)
    }
    val (prFast, prPinned) = both {
      Graph.pageRank(nodes.toDF("id"), edges.toDF("src", "dst"), 4)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    }
    assert(prFast === prPinned)
    val (bfsFast, bfsPinned) = both {
      Graph.bfsHops(nodes.toDF("id"), edges.toDF("src", "dst"),
          Seq(1L, 7L).toDF("id"), 4)
        .collect()
        .map(r => (r.getLong(0), if (r.isNullAt(1)) -1L else r.getLong(1)))
        .toSet
    }
    assert(bfsFast === bfsPinned)
    // the dense-frontier bitmap regime (reached-dst state shipped as
    // bounded bucket bitmaps, visited anti-join as an AND-NOT mask)
    // must be value-identical too: denseFactor=0 forces every pinned
    // round down the bitmap path
    val (bfsFast2, bfsBitmap) = both {
      Graph.bfsHops(nodes.toDF("id"), edges.toDF("src", "dst"),
          Seq(1L, 7L).toDF("id"), 4, denseFactor = 0)
        .collect()
        .map(r => (r.getLong(0), if (r.isNullAt(1)) -1L else r.getLong(1)))
        .toSet
    }
    assert(bfsFast2 === bfsBitmap,
      "dense bitmap-frontier rounds must reproduce the row-path hops")
  }

  test("reliable-checkpoint mode: identical results to localCheckpoint " +
      "across pageRank, LPA, BFS and connectedComponents") {
    // cluster mode opt-in (Iterate.materialize): a checkpoint dir +
    // spark.graft.reliableCheckpoint=true routes every interval-th
    // round through a reliable checkpoint. Results must be
    // bit-identical either way — only fault-tolerance differs.
    val nodes = (1L to 40L).toSeq
    val rnd = new scala.util.Random(11)
    val edges = (1 to 120).map(_ =>
      (rnd.nextInt(40).toLong + 1, rnd.nextInt(40).toLong + 1))
      .filter(e => e._1 != e._2)
    val docs = nodes.map(i => (i, s"doc $i")).toDF("doc_id", "text")
    val prs = (1L to 12L).map(i => (i, i + 12L)).toDF("id_a", "id_b")
    def runAll(): Seq[Set[(Long, Long)]] = Seq(
      Graph.pageRank(nodes.toDF("id"), edges.toDF("src", "dst"), 4)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet,
      Graph.labelPropagation(
          nodes.toDF("id"), edges.toDF("src", "dst"), 3)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet,
      Graph.bfsHops(nodes.toDF("id"), edges.toDF("src", "dst"),
          Seq(1L).toDF("id"), 3)
        .collect()
        .map(r => (r.getLong(0), if (r.isNullAt(1)) -1L else r.getLong(1)))
        .toSet,
      graft.operators.Dedup.connectedComponents(docs, prs)
        .collect()
        .map(r => (r.getLong(0), if (r.isNullAt(2)) -1L else r.getLong(2)))
        .toSet)
    val local = runAll()
    val dir = java.nio.file.Files
      .createTempDirectory("graft-ckpt").toString
    spark.sparkContext.setCheckpointDir(dir)
    spark.conf.set(graft.operators.Iterate.ReliableKey, "true")
    spark.conf.set(graft.operators.Iterate.IntervalKey, "2")
    try {
      assert(runAll() === local)
    } finally {
      spark.conf.set(graft.operators.Iterate.ReliableKey, "false")
    }
  }

  test("reliable-checkpoint mode reaches finalizePairs: a dedup pair " +
      "frame checkpoints RELIABLY (files on the checkpoint dir), " +
      "results identical") {
    // the pair frame is the expensive artifact of every dedup job —
    // under the cluster opt-in it must survive executor loss, so
    // Dedup.finalizePairs routes through Iterate.materialize too
    val docs = (1L to 30L).map(i =>
        (i, if (i % 3 == 0) s"shared near duplicate text body ${i % 2}"
        else s"unique document body number $i with extra words"))
      .toDF("doc_id", "text")
    def pairSet() = graft.operators.Dedup
      .minhashLsh(docs, threshold = 0.5)
      .select("id_a", "id_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val local = pairSet()
    val dir = java.nio.file.Files
      .createTempDirectory("graft-ckpt-pairs").toString
    spark.sparkContext.setCheckpointDir(dir)
    spark.conf.set(graft.operators.Iterate.ReliableKey, "true")
    try {
      assert(pairSet() === local)
      val written = java.nio.file.Files.walk(java.nio.file.Paths.get(dir))
        .filter(p => java.nio.file.Files.isRegularFile(p)).count()
      assert(written > 0,
        "reliable mode must write the pair frame to the checkpoint dir")
    } finally {
      spark.conf.set(graft.operators.Iterate.ReliableKey, "false")
    }
  }

  /** Widths of the shuffle exchanges in `plan`; fails on a plan that
    * AQE wraps. */
  private def staticWidths(
      plan: org.apache.spark.sql.execution.SparkPlan): Seq[Int] = {
    assert(plan.collect { case a: AdaptiveSparkPlanExec => a }.isEmpty,
      s"expected a static plan:\n$plan")
    plan.collect { case x: ShuffleExchangeExec =>
      x.outputPartitioning.numPartitions }
  }

  /** A one-exchange query bound to `s`. */
  private def groupedOn(s: org.apache.spark.sql.SparkSession) =
    spark.range(100).toDF().on(s).groupBy(col("id") % 7).count()

  /** Run `a` and `b` on two threads, joining both; rethrows a failure. */
  private def onTwoThreads(a: => Unit, b: => Unit): Unit = {
    val failures = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]
    val threads = Seq(() => a, () => b).map { f =>
      new Thread(() => try f() catch { case t: Throwable => failures.add(t) })
    }
    threads.foreach(_.start())
    threads.foreach(_.join(60000))
    Option(failures.peek).foreach(t => throw t)
  }

  private def await(l: CountDownLatch): Unit =
    assert(l.await(30, TimeUnit.SECONDS), "latch timed out")

  test("staticBoundedLoop: body runs with AQE off at the state-derived " +
      "shuffle width; both confs restore afterward, including the " +
      "unset-stays-unset case") {
    val aqeKey = "spark.sql.adaptive.enabled"
    val spKey = "spark.sql.shuffle.partitions"
    val savedAqe = spark.conf.getOption(aqeKey)
    val savedSp = spark.conf.get(spKey)
    val advisory = spark.sessionState.conf.getConf(
      org.apache.spark.sql.internal.SQLConf.ADVISORY_PARTITION_SIZE_IN_BYTES)
    spark.conf.unset(aqeKey)
    try {
      // the plan the body builds: tiny state → width 1; state wider
      // than advisory×2 → 3; never wider than the session setting
      def widths(stateBytes: BigInt): Seq[Int] =
        Iterate.staticBoundedLoop(spark, stateBytes) { sc =>
          val q = groupedOn(sc)
          assert(q.count() == 7)
          staticWidths(q.queryExecution.executedPlan)
        }
      assert(widths(BigInt(1)) === Seq(1))
      assert(widths(BigInt(advisory) * 2 + 1) === Seq(3))
      assert(widths(BigInt(advisory) * 10000) === Seq(savedSp.toInt))
      assert(spark.conf.get(spKey) === savedSp)
      assert(!spark.conf.getAll.contains(aqeKey),
        "an unset conf must stay unset after the loop (never convert a " +
          "default into an explicit setting)")
      // a throwing body leaves the session as it was too
      intercept[RuntimeException] {
        Iterate.staticBoundedLoop(spark, BigInt(1)) { _ =>
          throw new RuntimeException("boom")
        }
      }
      assert(spark.conf.get(spKey) === savedSp)
      assert(!spark.conf.getAll.contains(aqeKey))
    } finally savedAqe.foreach(spark.conf.set(aqeKey, _))
  }

  test("overlapping static scopes on two threads (A enters, B enters, " +
      "A exits, B exits) leave AQE unset and the partition count as it " +
      "was") {
    val aqeKey = "spark.sql.adaptive.enabled"
    val spKey = "spark.sql.shuffle.partitions"
    val savedAqe = spark.conf.getOption(aqeKey)
    val savedSp = spark.conf.get(spKey)
    spark.conf.unset(aqeKey)
    try {
      val aIn, bIn, aOut = new CountDownLatch(1)
      onTwoThreads(
        { Iterate.staticWidth(spark, 1) { _ => aIn.countDown(); await(bIn) }
          aOut.countDown() },
        { await(aIn)
          Iterate.staticWidth(spark, 2) { _ => bIn.countDown(); await(aOut) } })
      assert(!spark.conf.getAll.contains(aqeKey))
      assert(spark.conf.get(spKey) === savedSp)
    } finally savedAqe.foreach(spark.conf.set(aqeKey, _))
  }

  test("a query planned on another thread while a static scope is open " +
      "keeps AQE at the session width") {
    val inScope, planned = new CountDownLatch(1)
    var plan: org.apache.spark.sql.execution.SparkPlan = null
    onTwoThreads(
      Iterate.staticWidth(spark, 1) { _ =>
        inScope.countDown(); await(planned) },
      { await(inScope)
        plan = groupedOn(spark).queryExecution.executedPlan
        planned.countDown() })
    plan match {
      case a: AdaptiveSparkPlanExec =>
        assert(staticWidths(a.executedPlan) ===
          Seq(spark.sessionState.conf.numShufflePartitions))
      case other => fail(s"expected an adaptive plan:\n$other")
    }
  }

  test("a new scope reuses the code its session already compiled") {
    import org.apache.spark.metrics.source.CodegenMetrics
    def compilations = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    Iterate.scoped(spark)(sc => groupedOn(sc).collect())
    val before = compilations
    Iterate.scoped(spark)(sc => groupedOn(sc).collect())
    assert(compilations == before)
  }

  test("BFS bitmap regime past 128 buckets per task: the scoped " +
      "fallback-threshold raise keeps every bitmap aggregate hashed") {
    // one node per 2^18-id bucket → 300 buckets, > 128 per map task
    // once the frontier is dense
    val ids = (0L until 300L).map(_ * (1L << 18) + 1)
    val rnd = new scala.util.Random(3)
    val edges = (1 to 3000)
      .map(_ => (ids(rnd.nextInt(300)), ids(rnd.nextInt(300))))
      .filter(e => e._1 != e._2)
    val aggs = new java.util.concurrent.ConcurrentLinkedQueue[
      org.apache.spark.sql.execution.aggregate.ObjectHashAggregateExec]
    val marker = new CountDownLatch(1)
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          durationNs: Long): Unit = {
        qe.executedPlan.foreach {
          case a: org.apache.spark.sql.execution.aggregate
              .ObjectHashAggregateExec => aggs.add(a)
          case _ =>
        }
        if (funcName == "collect" &&
            qe.analyzed.toString.contains("bfs-marker")) marker.countDown()
      }
      override def onFailure(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          exception: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      // no broadcast → pinned regime; denseFactor 0 → every round dense
      Iterate.scoped(spark, "spark.sql.autoBroadcastJoinThreshold" -> "-1") {
        sc =>
          Graph.bfsHops(ids.toDF("id").on(sc),
            edges.toDF("src", "dst").on(sc), Seq(ids.head).toDF("id").on(sc),
            4, denseFactor = 0).collect()
      }
      // listener events arrive in order: once this query's end is seen,
      // every BFS execution's has been too
      spark.range(1).select(lit("bfs-marker")).collect()
      await(marker)
    } finally spark.listenerManager.unregister(listener)
    val bitmapAggs = aggs.toArray(Array.empty[
      org.apache.spark.sql.execution.aggregate.ObjectHashAggregateExec])
      .filter(_.aggregateExpressions.exists(
        _.aggregateFunction.isInstanceOf[graft.functions.BitmapAgg]))
    assert(bitmapAggs.nonEmpty, "the dense rounds never ran")
    assert(bitmapAggs.map(_.metrics("numTasksFallBacked").value).toSeq
      .forall(_ == 0L), "a bitmap aggregate fell back to sort")
  }

  test("labelPropagation sizes its static loop from the edge estimate " +
      "when a dense graph's edges outweigh its nodes") {
    val nodes = (1L to 40L).toDF("id")
    val edges = (for (a <- 1L to 40L; b <- 1L to 40L if a != b)
      yield (a, b)).toDF("src", "dst")
    def bytes(df: org.apache.spark.sql.DataFrame) =
      df.queryExecution.optimizedPlan.stats.sizeInBytes
    // an advisory size that fits the node frame once and the edge
    // frame three times
    val advisory = (bytes(edges) + 2) / 3
    assert(bytes(nodes) <= advisory)
    def run(s: org.apache.spark.sql.SparkSession) =
      Graph.labelPropagation(nodes.on(s), edges.on(s), 3)
    val labels = Iterate.scoped(spark,
        "spark.sql.adaptive.advisoryPartitionSizeInBytes" ->
          advisory.toString)(run)
    assert(labels.rdd.getNumPartitions == 3)
    assert(labels.collect().toSet === run(spark).collect().toSet)
  }
}
