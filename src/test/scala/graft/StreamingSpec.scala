package graft

import java.sql.Timestamp
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.streaming.EventsStream

class StreamingSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  test("windowed agg: streaming file source matches batch (closed windows)") {
    val sink = EventsStream.runWindowedStream(
      spark, TestSpark.sfDir, "spec_windowed")
    val streamed = spark.table(sink)
    graft.sources.Tables.register(spark, TestSpark.sfDir)
    val batch = EventsStream.windowedAgg(spark.table("events"))
    // append mode holds back windows the watermark hasn't passed;
    // everything emitted must match the batch result exactly
    val diff = streamed.exceptAll(batch)
    assert(diff.isEmpty, s"streamed rows not in batch: ${diff.count()}")
    assert(streamed.count() >= batch.count() - 2)
  }

  test("batch sessionization splits on the inactivity gap") {
    import spark.implicits._
    def ts(min: Long) = new Timestamp(min * 60000L)
    val events = Seq(
      (1L, ts(0), 7L, "click", 1.0, ""),
      (2L, ts(10), 7L, "click", 1.0, ""),
      (3L, ts(70), 7L, "click", 1.0, ""), // 60-min gap → new session
      (4L, ts(75), 8L, "click", 1.0, ""))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val r = EventsStream.sessionizeBatch(events, gapMin = 30)
      .orderBy("user_id", "session_idx").collect()
    assert(r.length === 3)
    assert(r(0).getLong(0) === 7L && r(0).getLong(2) === 2L) // 2 events
    assert(r(1).getLong(0) === 7L && r(1).getLong(2) === 1L)
    assert(r(2).getLong(0) === 8L && r(2).getLong(2) === 1L)
  }

  test("sliding windows: each event lands in windowSize/slide windows") {
    graft.sources.Tables.register(spark, TestSpark.sfDir)
    val events = spark.table("events")
    val slid = EventsStream.slidingRates(events)
    val total = slid.agg(sum("n_events")).collect()(0).getLong(0)
    // 1h window / 15min slide → every event is counted exactly 4 times
    assert(total === events.count() * 4)
  }

  test("stream-stream join runs with watermarks on both sides") {
    val stream = EventsStream.readEventsStream(spark, TestSpark.sfDir)
    val joined = EventsStream.purchaseAfterSignup(stream)
    val q = joined.writeStream.outputMode("append")
      .format("memory").queryName("spec_funnel")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    assert(q.awaitTermination(120000))
    val streamed = spark.table("spec_funnel").count()
    // batch ground truth over the same data & predicate
    graft.sources.Tables.register(spark, TestSpark.sfDir)
    val batch = EventsStream.purchaseAfterSignup(spark.table("events"))
      .count()
    assert(streamed === batch)
    assert(batch > 0)
  }

  test("stateful sessionization runs as a streaming query") {
    // file source → flatMapGroupsWithState → memory sink, AvailableNow:
    // process everything queued, then terminate (with
    // ProcessingTimeTimeout an untriggered query keeps scheduling batches
    // to evaluate timeouts and processAllAvailable never quiesces)
    val stream = EventsStream.readEventsStream(spark, TestSpark.sfDir)
    val updates = EventsStream.sessionizeStateful(spark, stream)
    val q = updates.writeStream.outputMode("append")
      .format("memory").queryName("spec_sessions")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    assert(q.awaitTermination(120000), "streaming query did not terminate")
    val out = spark.table("spec_sessions").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2)))
    assert(out.nonEmpty)
    // per-user max running count must match the batch ground truth
    graft.sources.Tables.register(spark, TestSpark.sfDir)
    val truth = spark.table("events").groupBy("user_id").count()
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    out.groupBy(_._1).foreach { case (u, rows) =>
      assert(rows.map(_._2).max === truth(u), s"user $u") }
  }

  test("streaming user profile converges to the batch aggregate") {
    // mapGroupsWithState upsert stream: the FINAL state per user must
    // equal the batch groupBy — exact integer-micros sums make the
    // merge associative, so batch boundaries can't change the result
    val stream = EventsStream.readEventsStream(spark, TestSpark.sfDir)
    val updates = EventsStream.userProfileStream(spark, stream)
    val q = updates.writeStream.outputMode("update")
      .format("memory").queryName("spec_profiles")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    assert(q.awaitTermination(120000), "streaming query did not terminate")
    // last update per user (n_events grows monotonically) = final state
    val finalState = spark.table("spec_profiles").collect()
      .map(r => (r.getLong(0), (r.getLong(1), r.getLong(2))))
      .groupBy(_._1)
      .map { case (u, rows) => u -> rows.map(_._2).maxBy(_._1) }
    graft.sources.Tables.register(spark, TestSpark.sfDir)
    val truth = EventsStream.userProfileBatch(spark.table("events"))
      .collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(finalState.size === truth.size)
    finalState.foreach { case (u, st) =>
      assert(st === truth(u), s"user $u") }
  }

  test("streaming OHLC bars: every emitted (closed) window matches " +
      "the batch bar exactly") {
    val sink = EventsStream.runOhlcStream(
      spark, TestSpark.sfDir, "spec_ohlc_stream")
    val streamed = spark.table(sink)
    graft.sources.Tables.register(spark, TestSpark.sfDir)
    val batch = EventsStream.ohlcAgg(spark.table("events"))
    // append mode holds back windows the watermark hasn't closed; all
    // emitted bars must equal their batch twins bar for bar
    val diff = streamed.exceptAll(batch)
    assert(diff.isEmpty, s"streamed bars not in batch: ${diff.count()}")
    val nTypes = spark.table("events")
      .select("event_type").distinct().count()
    // up to TWO hourly windows per type can stay open: [H, H+1h) is
    // withheld iff H+1h > maxTs − 10min, which covers the current
    // hour AND the previous one whenever maxTs falls < 10 minutes
    // past its hour — the bound must not depend on where the
    // fixture's max timestamp happens to land
    assert(streamed.count() >= batch.count() - 2 * nTypes,
      "more than the final two open hours per type were held back")
    assert(streamed.count() > 0)
  }

  test("watermark drops late data: an event older than the watermark " +
      "never lands in an already-finalized window") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    def ts(min: Long) = new Timestamp(min * 60000L)
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val in = MemoryStream[(Long, Timestamp, Long, String, Double, String)]
    val agg = EventsStream.windowedAgg(in.toDF()
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props"))
    val q = agg.writeStream.outputMode("append")
      .format("memory").queryName("spec_late_drop").start()
    // window [0h, 1h): two events; then advance event time far past
    // the 10-minute watermark so that window finalizes and emits
    in.addData((1L, ts(5), 7L, "click", 1.0, ""),
      (2L, ts(20), 7L, "click", 1.0, ""))
    q.processAllAvailable()
    in.addData((3L, ts(200), 7L, "click", 1.0, ""))
    q.processAllAvailable()
    val afterClose = spark.table("spec_late_drop")
      .filter(col("window_start") === ts(0)).collect()
    assert(afterClose.length === 1 && afterClose(0).getLong(2) === 2L,
      "the [0,1h) window must finalize with exactly its 2 events")
    // a LATE arrival into the closed window: watermark semantics must
    // drop it — the emitted row for that window never updates or
    // duplicates (append mode emits a window at most once)
    in.addData((4L, ts(10), 7L, "click", 1.0, ""))
    q.processAllAvailable()
    q.stop()
    val finalRows = spark.table("spec_late_drop")
      .filter(col("window_start") === ts(0)).collect()
    assert(finalRows.length === 1 && finalRows(0).getLong(2) === 2L,
      "late event leaked into a finalized window")
  }

  test("streaming dedup bucket cap keeps the smallest ids under any arrival order") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    // identical texts → every doc lands in the same buckets; arrive
    // LARGEST ids first with cap 2 — keep-smallest eviction must
    // converge state to the smallest ids, matching the batch cap
    val text = "the same exact text for every single document here"
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val in = MemoryStream[(Long, String)]
    val pairs = graft.streaming.DocsStream.minhashPairsStream(
      spark, in.toDF().toDF("doc_id", "text"), maxBucket = 2)
    val q = pairs.writeStream.outputMode("append")
      .format("memory").queryName("spec_cap_evict").start()
    in.addData((5L, text), (4L, text))
    q.processAllAvailable()
    in.addData((3L, text), (2L, text), (1L, text))
    q.processAllAvailable()
    // probe: doc 0 pairs against whatever state survived — if eviction
    // converged to {1, 2}, it sees exactly those; stale {4, 5} state
    // would answer (0,4)/(0,5)
    in.addData((0L, text))
    q.processAllAvailable()
    q.stop()
    val withProbe = spark.table("spec_cap_evict")
      .filter(col("id_a") === 0L).select("id_b").distinct().collect()
      .map(_.getLong(0)).toSet
    assert(withProbe === Set(1L, 2L))
  }

  test("streaming minhash dedup emits exactly the batch pair set") {
    val sink = graft.streaming.DocsStream.runMinhashStream(
      spark, TestSpark.sfDir, "spec_minhash_pairs")
    val streamed = spark.table(sink).distinct().collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).sorted.toSeq
    graft.sources.Tables.register(spark, TestSpark.sfDir)
    val batch = graft.operators.Dedup.minhashLsh(spark.table("documents"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).sorted.toSeq
    // same banding, same exact-Jaccard math, same threshold → the
    // incremental index must converge to the batch pair set, doubles
    // included
    assert(streamed === batch)
    assert(streamed.nonEmpty)
  }

  test("streaming exact dedup emits exactly the batch decisions") {
    val sink = graft.streaming.DocsStream.runExactDedupStream(
      spark, TestSpark.sfDir, "spec_exact_decisions")
    val streamed = spark.table(sink).collect()
      .map(r => (r.getLong(0), r.getBoolean(1),
        if (r.isNullAt(2)) -1L else r.getLong(2))).sorted.toSeq
    graft.sources.Tables.register(spark, TestSpark.sfDir)
    val batch = graft.operators.Dedup.exact(spark.table("documents"))
      .select("doc_id", "keep", "dup_of").collect()
      .map(r => (r.getLong(0), r.getBoolean(1),
        if (r.isNullAt(2)) -1L else r.getLong(2))).sorted.toSeq
    // same canonical fingerprint, same min-id representative → the
    // per-fingerprint state must reproduce every batch decision
    assert(streamed === batch)
    assert(streamed.nonEmpty)
  }

  test("a stateful stream run again compiles no generated class anew: " +
      "its tasks share the starting session's classloader") {
    import org.apache.spark.metrics.source.CodegenMetrics
    // Spark keys its codegen cache by classloader; a stream session with
    // a job-artifact state of its own gets a new executor classloader on
    // every run and recompiles what the previous run compiled
    def compiles(sink: String): Long = {
      val c0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      graft.streaming.DocsStream.runExactDedupStream(
        spark, TestSpark.sfDir, sink)
      CodegenMetrics.METRIC_COMPILATION_TIME.getCount - c0
    }
    val cold = compiles("spec_warm_exact_1")
    val warm = compiles("spec_warm_exact_2")
    assert(warm <= 1, s"the second run compiled $warm classes (first: $cold)")
  }

  test("the embedding stream run again compiles no generated class " +
      "anew: its state encoder is built once") {
    import org.apache.spark.metrics.source.CodegenMetrics
    // a state encoder derived per run numbers its List serializer's
    // lambda variable afresh, and the state projection's Java with it
    def compiles(sink: String): Long = {
      val c0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      graft.streaming.DocsStream.runEmbeddingDedupStream(
        spark, TestSpark.sfDir, sink)
      CodegenMetrics.METRIC_COMPILATION_TIME.getCount - c0
    }
    val runs = (1 to 3).map(i => compiles(s"spec_warm_emb_$i"))
    assert(runs.last === 0, s"compiles per run: ${runs.mkString(", ")}")
  }

  test("streaming decontamination equals the batch operator row-for-row") {
    import org.apache.spark.sql.functions.col
    val sink = graft.streaming.DocsStream.runDecontamStream(
      spark, TestSpark.sfDir, "spec_decontam")
    val streamed = spark.table(sink).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2)))
      .sorted.toSeq
    graft.sources.Tables.register(spark, TestSpark.sfDir)
    val d = spark.table("documents")
    val batch = graft.operators.Decontaminate.overlap(
        d.filter(col("doc_id") % 17 =!= 0),
        // the stream twin's exact eval filter (the scale-invariant
        // benchmark bound) — the comparison is only meaningful when
        // both sides screen against the same set
        d.filter(col("doc_id") % 17 === 0 && col("doc_id") < 100000),
        n = 5)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2)))
      .sorted.toSeq
    // same gram function, same eval set → the stateless stream twin
    // must reproduce every batch report
    assert(streamed === batch)
    assert(streamed.nonEmpty)
  }

  test("builtin session_window streams with a watermark, equal to batch") {
    import org.apache.spark.sql.functions._
    val stream = graft.streaming.EventsStream
      .readEventsStream(spark, TestSpark.sfDir)
      .withWatermark("ts", "1 hour")
      .groupBy(session_window(col("ts"), "30 minutes"), col("user_id"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("user_id"),
        col("session_window.start").as("session_start"),
        col("n_events"))
    val q = stream.writeStream.outputMode("append")
      .format("memory").queryName("spec_session_window").start()
    q.processAllAvailable()
    q.stop()
    val streamed = spark.table("spec_session_window").collect()
      .map(r => (r.getLong(0), r.getTimestamp(1), r.getLong(2)))
      .toSet
    val events = graft.sources.Tables.load(spark, TestSpark.sfDir, "events")
    val batchRows = events
      .groupBy(session_window(col("ts"), "30 minutes"), col("user_id"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("user_id"),
        col("session_window.start").as("session_start"),
        col("session_window.end").as("session_end"),
        col("n_events"))
      .collect()
    val batch = batchRows
      .map(r => (r.getLong(0), r.getTimestamp(1), r.getLong(3))).toSet
    // append mode only emits sessions whose END the watermark has
    // passed: wm = max(ts) − 1h. Sessions ending in the final hour of
    // event time stay in state forever, so stream is a SUBSET of batch;
    // every session strictly older than the watermark must have flushed.
    val maxTs = events.agg(max(col("ts"))).collect()(0).getTimestamp(0)
    val cutoff = new java.sql.Timestamp(maxTs.getTime - 3600_000L)
    val closed = batchRows
      .filter(_.getTimestamp(2).before(cutoff))
      .map(r => (r.getLong(0), r.getTimestamp(1), r.getLong(3))).toSet
    assert(streamed.subsetOf(batch))
    assert(closed.subsetOf(streamed))
    assert(streamed.nonEmpty)
  }

  test("streaming exact dedup state carries representatives across batches") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val in = MemoryStream[(Long, String)]
    val decisions = graft.streaming.DocsStream.exactDecisionsStream(
      spark, in.toDF().toDF("doc_id", "text"))
    val q = decisions.writeStream.outputMode("append")
      .format("memory").queryName("spec_exact_state").start()
    in.addData((1L, "same text"), (7L, "other text"))
    q.processAllAvailable()
    in.addData((9L, "same  TEXT")) // normalizes to doc 1's fingerprint
    q.processAllAvailable()
    q.stop()
    val got = spark.table("spec_exact_state").collect()
      .map(r => (r.getLong(0), r.getBoolean(1),
        if (r.isNullAt(2)) -1L else r.getLong(2))).sorted.toSeq
    assert(got === Seq((1L, true, -1L), (7L, true, -1L), (9L, false, 1L)))
  }

  test("streaming exact dedup: doc_id == Long.MaxValue is a real " +
      "document, not a missing-state sentinel") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val in = MemoryStream[(Long, String)]
    val decisions = graft.streaming.DocsStream.exactDecisionsStream(
      spark, in.toDF().toDF("doc_id", "text"))
    val q = decisions.writeStream.outputMode("append")
      .format("memory").queryName("spec_exact_maxid").start()
    in.addData((Long.MaxValue, "edge text"))
    q.processAllAvailable()
    q.stop()
    val got = spark.table("spec_exact_maxid").collect()
      .map(r => (r.getLong(0), r.getBoolean(1))).toSeq
    // a sentinel-based implementation silently drops this decision
    assert(got === Seq((Long.MaxValue, true)))
  }

  test("streaming heavy hitters: MG state + rescore is exact across batches") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    // Skewed vocabulary larger than capacity·shards, split across
    // micro-batches so summaries must merge through state. With
    // capacity 4 / 2 shards the sketch can hold ≤ 8 of the 30 distinct
    // tokens — yet the rescored top-5 must be exact: the true heavy
    // tokens clear the per-shard N/(capacity+1) bound.
    val heavy = Seq("alpha" -> 40, "beta" -> 30, "gamma" -> 25,
      "delta" -> 20, "epsi" -> 15)
    val noise = (0 until 25).map(i => s"n$i" -> 1)
    val toks = scala.util.Random.shuffle(
      scala.collection.immutable.List((heavy ++ noise).flatMap {
        case (t, n) => Seq.fill(n)(t) }: _*))
    val (b1, b2) = toks.splitAt(toks.size / 2)
    val in = MemoryStream[(Long, String)]
    val cands = graft.streaming.DocsStream.heavyHitterCandidatesStream(
      spark, in.toDF().toDF("doc_id", "text"), shards = 2, capacity = 4)
    val q = cands.writeStream.outputMode("append")
      .format("memory").queryName("spec_hh_cands").start()
    in.addData((1L, b1.mkString(" ")))
    q.processAllAvailable()
    in.addData((2L, b2.mkString(" ")))
    q.processAllAvailable()
    q.stop()
    val candSet = spark.table("spec_hh_cands").select("tok").distinct()
      .collect().map(_.getString(0)).toSet
    // every true heavy hitter survived the bounded sketch
    heavy.foreach { case (t, _) => assert(candSet.contains(t), t) }
    // exact rescore over the closed epoch reproduces the naive top-5
    val counts = toks.groupBy(identity).view.mapValues(_.size).toMap
    val want = counts.toSeq.sortBy { case (t, n) => (-n, t) }.take(5)
    val got = toks.filter(candSet.contains)
      .groupBy(identity).view.mapValues(_.size).toMap
      .toSeq.sortBy { case (t, n) => (-n, t) }.take(5)
    assert(got === want)
  }

  test("streaming Markov transitions equal the batch lag() matrix") {
    val spark = TestSpark.spark
    val streamed = SparkEntry.queries("stream_transitions")(
      spark, TestSpark.sfDir).collect()
      .map(x => (x.getString(0), x.getString(1), x.getLong(2),
        x.getLong(3)))
    val batch = SparkEntry.queries("events_transitions")(
      spark, TestSpark.sfDir).collect()
      .map(x => (x.getString(0), x.getString(1), x.getLong(2),
        x.getLong(3)))
    assert(streamed.nonEmpty)
    assert(streamed.toSeq === batch.toSeq)
  }

  test("checkpoint recovery: the exact-dedup stream restarted over a " +
      "grown input emits each decision exactly once and equals batch") {
    val spark = TestSpark.spark
    import org.apache.spark.sql.functions._
    val base = java.nio.file.Files
      .createTempDirectory("graft-restart").toString
    val (inDir, ckpt, outDir) = (s"$base/in", s"$base/ckpt", s"$base/out")
    val docs = graft.sources.Tables.load(spark, TestSpark.sfDir,
      "documents")
    def runEpoch(): Unit = {
      // a REAL durable sink + checkpoint: progress (file offsets,
      // per-fingerprint state) survives the stop, so run 2 resumes
      // instead of reprocessing — exactly-once across restarts
      val q = graft.streaming.DocsStream.exactDecisionsStream(spark,
          spark.readStream.schema(docs.schema).parquet(inDir))
        .writeStream
        .outputMode("append")
        .format("parquet")
        .option("checkpointLocation", ckpt)
        .option("path", outDir)
        .start()
      q.processAllAvailable()
      q.stop()
    }
    // epoch 1: the id-low half; epoch 2 appends the rest — id-ordered
    // phases mean each fingerprint's minimum id arrives first, so the
    // append-mode stream must agree with batch EXACTLY (no retraction
    // caveat on this split)
    docs.filter(col("doc_id") < 250).write.mode("append").parquet(inDir)
    runEpoch()
    val afterEpoch1 = spark.read.parquet(outDir).count()
    docs.filter(col("doc_id") >= 250).write.mode("append").parquet(inDir)
    runEpoch()
    val out = spark.read.parquet(outDir)
    assert(afterEpoch1 > 0 && afterEpoch1 < out.count())
    // exactly once: one decision per doc, no replays across restarts
    assert(out.count() === docs.count())
    assert(out.select("doc_id").distinct().count() === docs.count())
    val streamed = out
      .select(col("doc_id"), col("keep"), col("dup_of"))
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getBoolean(1),
        if (r.isNullAt(2)) -1L else r.getLong(2)))
    val batch = graft.operators.Dedup.exact(docs)
      .select(col("doc_id"), col("keep"), col("dup_of"))
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getBoolean(1),
        if (r.isNullAt(2)) -1L else r.getLong(2)))
    assert(streamed.toSeq === batch.toSeq)
  }

  test("streaming embedding near-dup equals the batch best-neighbor " +
      "report row for row") {
    val spark = TestSpark.spark
    val streamed = SparkEntry.queries("stream_embedding_dedup")(
      spark, TestSpark.sfDir).collect()
      .map(x => (x.getLong(0), x.getLong(1), x.getDouble(2),
        x.getBoolean(3)))
    val batch = SparkEntry.queries("dedup_embedding")(
      spark, TestSpark.sfDir).collect()
      .map(x => (x.getLong(0), x.getLong(1), x.getDouble(2),
        x.getBoolean(3)))
    assert(streamed.nonEmpty)
    assert(streamed.toSeq === batch.toSeq)
  }

  test("streaming association maintenance equals the batch A-Priori " +
      "derivation row for row") {
    val spark = TestSpark.spark
    def rows(name: String) = SparkEntry.queries(name)(
      spark, TestSpark.sfDir).collect()
      .map(x => (x.getLong(0), x.getLong(1), x.getLong(2), x.getLong(3),
        x.getLong(4), x.getLong(5), x.getLong(6)))
    val streamed = rows("stream_assoc")
    val batch = rows("assoc_rules")
    assert(streamed.nonEmpty)
    assert(streamed.toSeq === batch.toSeq)
  }
}
