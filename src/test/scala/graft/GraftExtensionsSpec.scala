package graft

import org.apache.spark.SparkConf
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.graft.bridge
import org.apache.spark.sql.internal.StaticSQLConf
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.plans.AsOfJoin
import graft.plans.AsOfJoin.AsOfJoinPlan

/** The cluster-integration path: a session created with
  * `spark.sql.extensions=graft.GraftExtensions` (the reflective config
  * every cluster deployment uses) must expose the SQL functions, plan
  * as-of joins without manual strategy registration, and push left-side
  * filters through the custom join node. */
class GraftExtensionsSpec extends AnyFunSuite {

  // A dedicated session: extensions apply at session construction, so
  // the shared TestSpark session can't be reused. The SparkContext IS
  // reused (same JVM); active/default session are restored after.
  private def withExtSession[T](f: SparkSession => T): T = {
    val prevActive = SparkSession.getActiveSession
    val prevDefault = SparkSession.getDefaultSession
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    val s = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.sql.shuffle.partitions", 4)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    try f(s)
    finally {
      SparkSession.clearActiveSession()
      SparkSession.clearDefaultSession()
      prevActive.foreach(SparkSession.setActiveSession)
      prevDefault.foreach(SparkSession.setDefaultSession)
    }
  }

  test("injected SQL functions are callable with no setup code") {
    withExtSession { s =>
      val r = s.sql(
        """SELECT
          |  cosine_sim(CAST(array(1.0, 0.0) AS ARRAY<FLOAT>),
          |             CAST(array(1.0, 0.0) AS ARRAY<FLOAT>)) AS c,
          |  normalize_text('  A   b ') AS n,
          |  size(shingle_hashes('one two three four', 3)) AS ns
          |""".stripMargin).head()
      assert(r.getDouble(0) === 1.0)
      assert(r.getString(1) === "a b")
      assert(r.getInt(2) === 2)
    }
  }

  test("composed text pipelines and bucket generators from SQL") {
    withExtSession { s =>
      val r = s.sql(
        """SELECT
          |  lang_id('the quick brown fox and the lazy dog') AS lang,
          |  quality_score('A decent length sentence, with words.') AS q,
          |  size(tokens('alpha beta gamma')) AS nt,
          |  size(winnowed_fingerprints(
          |    char_ngram_hashes('abcdefghijklmnop', 8), 4)) AS nw,
          |  size(capped_pairs(CAST(array(1, 2, 3) AS ARRAY<BIGINT>),
          |    10)) AS np
          |""".stripMargin).head()
      assert(r.getString(0).nonEmpty)
      assert(r.getDouble(1) > 0.0 && r.getDouble(1) <= 1.0)
      assert(r.getInt(2) === 3)
      assert(r.getInt(3) > 0)
      assert(r.getInt(4) === 3) // C(3,2) pairs
    }
  }

  test("curation functions from SQL: chunks, bigrams, pii, repetition") {
    withExtSession { s =>
      val r = s.sql(
        """SELECT
          |  token_chunks('a b c d e f g h i j', 4, 2) AS chunks,
          |  size(word_bigrams('x y z')) AS nb,
          |  pii_redact('mail me at bob@example.com now') AS red,
          |  dup_bigram_frac('spam spam spam spam') AS dbf,
          |  top_token_frac('spam spam spam spam') AS ttf
          |""".stripMargin).head()
      assert(r.getSeq[String](0) ===
        Seq("a b c d", "c d e f", "e f g h", "g h i j"))
      assert(r.getInt(1) === 2)
      assert(r.getString(2) === "mail me at <EMAIL> now")
      assert(math.abs(r.getDouble(3) - 2.0 / 3) < 1e-15)
      assert(r.getDouble(4) === 1.0)
    }
  }

  test("injected SQL aggregates: bounded_min_collect and misra_gries") {
    withExtSession { s =>
      import s.implicits._
      Seq(5L, 3L, 9L, 1L, 7L).toDF("k").createOrReplaceTempView("ks")
      val kept = s.sql("SELECT bounded_min_collect(k, 3) FROM ks")
        .head().getSeq[Long](0)
      assert(kept === Seq(1L, 3L, 5L))
      Seq("a", "b", "a", "c", "a", "b").toDF("t")
        .createOrReplaceTempView("ts")
      val mg = s.sql(
        "SELECT misra_gries(t, 2) FROM ts").head()
        .getSeq[org.apache.spark.sql.Row](0)
      // capacity 2 on a 3-item stream: the majority item survives with
      // a positive estimate
      assert(mg.nonEmpty && mg.head.getString(0) === "a")
      assert(s.sql("SELECT text_jaccard('same text', 'same  TEXT', 4)")
        .head().getDouble(0) === 1.0)
    }
  }

  test("as-of join plans through the injected strategy alone") {
    withExtSession { s =>
      import s.implicits._
      assert(!s.experimental.extraStrategies.contains(AsOfJoin.AsOfStrategy))
      val trades = Seq((1L, 100L, "t1"), (1L, 200L, "t2"))
        .toDF("key", "ts", "trade")
      val quotes = Seq((1L, 50L, 9.0), (1L, 150L, 11.0))
        .toDF("qkey", "qts", "px")
      val joined = org.apache.spark.sql.graft.bridge.ofRows(s,
        AsOfJoinPlan(
          org.apache.spark.sql.graft.bridge.planOf(trades),
          org.apache.spark.sql.graft.bridge.planOf(quotes),
          org.apache.spark.sql.graft.bridge.toExpression(trades("key")),
          org.apache.spark.sql.graft.bridge.toExpression(quotes("qkey")),
          org.apache.spark.sql.graft.bridge.toExpression(trades("ts")),
          org.apache.spark.sql.graft.bridge.toExpression(quotes("qts")),
          0L, false))
      val rows = joined.orderBy("ts").collect()
      assert(rows.map(r => (r.getString(2), r.getDouble(5))).toSeq ===
        Seq(("t1", 9.0), ("t2", 11.0)))
    }
  }

  test("narrow projection prunes as-of join inputs down to the scan") {
    withExtSession { s =>
      val e = graft.sources.Tables.load(s, TestSpark.sfDir, "events")
      val p = e.filter(col("event_type") === "purchase")
      val su = e.filter(col("event_type") === "signup")
        .select(col("user_id").as("s_user"), col("ts").as("s_ts"),
          col("value").as("s_value"), col("props").as("s_props"))
      // project only 2 of the left side's 6 columns, none of the
      // right's payload columns
      val joined = AsOfJoin.join(p, su, p("user_id"), su("s_user"),
        p("ts"), su("s_ts"))
        .select("event_id", "user_id")

      val joinNodes = joined.queryExecution.optimizedPlan.collect {
        case j: AsOfJoinPlan => j
      }
      assert(joinNodes.size === 1)
      // both children must now emit only needed cols (+ key/ts)
      assert(joinNodes.head.left.output.map(_.name).toSet ===
        Set("event_id", "user_id", "ts"))
      assert(joinNodes.head.right.output.map(_.name).toSet ===
        Set("s_user", "s_ts"))
      // ...and the pruning must reach the parquet reader (walk through
      // AQE wrappers — scans hide inside adaptive/query-stage nodes)
      import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
      import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
      def allScans(p: SparkPlan): Seq[FileSourceScanExec] = p match {
        case a: AdaptiveSparkPlanExec => allScans(a.executedPlan)
        case q: QueryStageExec => allScans(q.plan)
        case f: FileSourceScanExec => Seq(f)
        case other => other.children.flatMap(allScans)
      }
      val scans = allScans(joined.queryExecution.executedPlan)
      assert(scans.nonEmpty)
      scans.foreach { sc =>
        val read = sc.requiredSchema.fieldNames.toSet
        assert(!read.contains("props"),
          s"payload column not pruned from scan: $read")
      }
      assert(joined.count() > 0)
    }
  }

  /** The cosine rewrite's fixture: 12 one-hot vectors over 3 axes,
    * self-joined on `cosine_sim >= 0.9` into (id_a, id_b) pairs. */
  private def cosineJoin(s: SparkSession): DataFrame = {
    import s.implicits._
    def vec(axis: Int): Array[Float] = {
      val v = new Array[Float](8); v(axis) = 1f; v
    }
    val rows = (0 until 12).map(i => (i.toLong, vec(i % 3)))
    val a = rows.toDF("id_a", "emb_a")
    val b = rows.toDF("id_b", "emb_b")
    import graft.functions.VectorFunctions.cosine_sim
    a.join(b,
        cosine_sim(col("emb_a"), col("emb_b")) >= 0.9 &&
          col("id_a") < col("id_b"))
      .select("id_a", "id_b")
  }

  /** The Hamming rewrite's fixture: four literal signatures — the rule
    * matches ANY long sides, no coupling to how the signature was
    * produced — self-joined on `bit_count(sig_a ^ sig_b) <= k`. */
  private def hammingJoin(s: SparkSession, k: Int): DataFrame = {
    import s.implicits._
    val sigs = Seq(
      (1L, 0L),
      (2L, 7L),                  // hamming 3 from id 1
      (3L, 0L),                  // exact dup of id 1
      (4L, 0x0f0f0f0f0f0f0f0fL)) // far from everything
      .toDF("id", "sig")
    val a = sigs.select(col("id").as("id_a"), col("sig").as("sig_a"))
    val b = sigs.select(col("id").as("id_b"), col("sig").as("sig_b"))
    a.join(b,
        bit_count(col("sig_a").bitwiseXOR(col("sig_b"))) <= k &&
          col("id_a") < col("id_b"))
      .select("id_a", "id_b")
  }

  private def pairs(df: DataFrame): Seq[(Long, Long)] =
    df.collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq

  test("cosine-threshold join rewrites to a banded hash join (opt-in)") {
    withExtSession { s =>
      def q = cosineJoin(s)

      s.conf.set("spark.graft.cosineRewrite.enabled", "false")
      val exact = q.collect().map(r => (r.getLong(0), r.getLong(1)))
        .sorted.toSeq
      // without the rule the O(n²) predicate plans as a nested loop
      assert(q.queryExecution.executedPlan.toString
        .contains("BroadcastNestedLoopJoin"))

      s.conf.set("spark.graft.cosineRewrite.enabled", "true")
      val rewritten = q.collect().map(r => (r.getLong(0), r.getLong(1)))
        .sorted.toSeq
      val plan = q.queryExecution.executedPlan.toString
      assert(!plan.contains("BroadcastNestedLoopJoin"),
        s"rewrite did not fire:\n$plan")
      assert(plan.contains("HashJoin") || plan.contains("SortMergeJoin"),
        s"expected an equi join on band keys:\n$plan")
      // identical in-cluster vectors share every band → recall 1, and
      // the canonical-band conjunct emits each pair exactly once:
      // 3 clusters × C(4,2) = 18, equal to the exact nested-loop result
      assert(rewritten === exact)
      assert(exact.size === 18)
      s.conf.unset("spark.graft.cosineRewrite.enabled")
    }
  }

  test("jaccard-threshold join rewrites to a prefix equi-join, exactly") {
    withExtSession { s =>
      import s.implicits._
      val base = "the quick brown fox jumps over the lazy dog near " +
        "the old red barn while birds sing in the tall trees"
      val docs = Seq(
        (1L, base),
        (2L, base.replace("lazy", "sleepy")),
        (3L, base.toUpperCase), // normalization → exact dup of 1
        (4L, "completely different text about catalyst optimizer " +
          "rules and distributed shuffle execution with partitions"))
        .toDF("id", "text")
      val a = docs.select(col("id").as("id_a"), col("text").as("text_a"))
      val b = docs.select(col("id").as("id_b"), col("text").as("text_b"))
      import graft.functions.VectorFunctions.text_jaccard
      def q = a.join(b,
          text_jaccard(col("text_a"), col("text_b"), 8) >= 0.5 &&
            col("id_a") < col("id_b"))
        .select("id_a", "id_b")

      s.conf.set("spark.graft.jaccardRewrite.enabled", "false")
      val exact = q.collect().map(r => (r.getLong(0), r.getLong(1)))
        .sorted.toSeq
      assert(q.queryExecution.executedPlan.toString
        .contains("BroadcastNestedLoopJoin"))

      s.conf.set("spark.graft.jaccardRewrite.enabled", "true")
      val rewritten = q.collect().map(r => (r.getLong(0), r.getLong(1)))
        .sorted.toSeq
      val plan = q.queryExecution.executedPlan.toString
      assert(!plan.contains("BroadcastNestedLoopJoin"),
        s"rewrite did not fire:\n$plan")
      assert(plan.contains("HashJoin") || plan.contains("SortMergeJoin"),
        s"expected a prefix-gram equi join:\n$plan")
      // STRICT equivalence (prefix-filtering theorem): same pairs, and
      // each emitted exactly once via the canonical-gram conjunct
      assert(rewritten === exact)
      assert(exact === Seq((1L, 2L), (1L, 3L), (2L, 3L)))
      s.conf.unset("spark.graft.jaccardRewrite.enabled")
    }
  }

  test("jaccard rewrite: sparse and dense candidate regimes emit " +
      "identical pairs (both exact; only shipped mass differs)") {
    withExtSession { s =>
      import s.implicits._
      // mixed corpus: one near-dup class, one exact-dup class (post
      // normalization), singletons, plus short docs — enough that the
      // pruned-candidate set and the true pair set differ, so the
      // sparse regime's deferred verification actually has rows to
      // reject (a corpus where candidates == true pairs would pass
      // vacuously)
      val base = "the quick brown fox jumps over the lazy dog while " +
        "the cat watches from the fence with great interest today"
      val docs = (Seq(
        (1L, base),
        (2L, base.replace("lazy", "sleepy")),
        (3L, base.toUpperCase),
        (4L, base.replace("today", "tonight")),
        (5L, "completely different text about catalyst optimizer " +
          "rules and distributed shuffle execution with partitions"),
        (6L, "another unrelated document mentioning brown fox once " +
          "inside a much longer passage of filler words and phrases")) ++
        (7L to 24L).map(i => (i, s"filler document number $i with " +
          s"some shared vocabulary about foxes and dogs and fences")))
        .toDF("id", "text")
      val a = docs.select(col("id").as("id_a"), col("text").as("text_a"))
      val b = docs.select(col("id").as("id_b"), col("text").as("text_b"))
      import graft.functions.VectorFunctions.text_jaccard
      def q = a.join(b,
          text_jaccard(col("text_a"), col("text_b"), 8) >= 0.6 &&
            col("id_a") < col("id_b"))
        .select("id_a", "id_b")
      s.conf.set("spark.graft.jaccardRewrite.enabled", "true")
      // estFactor=0 forces the dense (inline-verified) shape;
      // a huge factor forces sparse (prune-only + deferred verify)
      s.conf.set("spark.graft.jaccardRewrite.estFactor", "0")
      val dense = q.collect().map(r => (r.getLong(0), r.getLong(1)))
        .sorted.toSeq
      // dense with the exact-df order pinned OFF (model order) and
      // forced ON (df join + window rank): the global gram order is a
      // candidate-volume heuristic, so the verified output must be
      // invariant to it in BOTH physical shapes
      s.conf.set("spark.graft.jaccard.exactDfOrder", "off")
      val denseModelOrder = q.collect()
        .map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
      s.conf.set("spark.graft.jaccard.exactDfOrder", "on")
      val denseExactOrder = q.collect()
        .map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
      s.conf.unset("spark.graft.jaccard.exactDfOrder")
      s.conf.set("spark.graft.jaccardRewrite.estFactor", "1e18")
      val sparse = q.collect().map(r => (r.getLong(0), r.getLong(1)))
        .sorted.toSeq
      // sparse + forced exact order (ranked skinny postings + the
      // exact-order bucket cap)
      s.conf.set("spark.graft.jaccard.exactDfOrder", "on")
      val sparseExactOrder = q.collect()
        .map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
      s.conf.unset("spark.graft.jaccard.exactDfOrder")
      // AUTO density-crossover gate (sparse branch): saturate the
      // model with a tiny test-only capacity and zero the crossover
      // ratio so auto itself (no forced mode) must pick the exact
      // order — pinned by the Window rank in the physical plan — and
      // the output must still be invariant. Control: a huge ratio
      // keeps the model order (no Window) on the same session.
      s.conf.set("spark.graft.jaccardRewrite.modelSize", "4")
      s.conf.set("spark.graft.jaccardRewrite.sparseExactRatio", "0")
      val autoExact = q
      val autoExactRows = autoExact.collect()
        .map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
      assert(autoExact.queryExecution.executedPlan.toString
        .contains("Window"))
      s.conf.set("spark.graft.jaccardRewrite.sparseExactRatio", "1e18")
      val autoModel = q
      val autoModelRows = autoModel.collect()
        .map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
      assert(!autoModel.queryExecution.executedPlan.toString
        .contains("Window"))
      s.conf.unset("spark.graft.jaccardRewrite.sparseExactRatio")
      s.conf.unset("spark.graft.jaccardRewrite.modelSize")
      s.conf.unset("spark.graft.jaccardRewrite.estFactor")
      s.conf.set("spark.graft.jaccardRewrite.enabled", "false")
      val exact = q.collect().map(r => (r.getLong(0), r.getLong(1)))
        .sorted.toSeq
      s.conf.unset("spark.graft.jaccardRewrite.enabled")
      assert(dense === exact)
      assert(denseModelOrder === exact)
      assert(denseExactOrder === exact)
      assert(sparse === exact)
      assert(sparseExactOrder === exact)
      assert(autoExactRows === exact)
      assert(autoModelRows === exact)
      assert(exact.nonEmpty)
    }
  }

  test("Dedup.ngramJaccard and the text_jaccard rewrite emit the same " +
      "(id_a, id_b, jaccard) set under both gram orders") {
    withExtSession { s =>
      import s.implicits._
      import graft.functions.VectorFunctions.text_jaccard
      import graft.operators.{Dedup, PrefixFilter}
      // the sparse/dense spec's corpus: candidates outnumber true pairs
      val base = "the quick brown fox jumps over the lazy dog while " +
        "the cat watches from the fence with great interest today"
      val docs = (Seq(
        (1L, base),
        (2L, base.replace("lazy", "sleepy")),
        (3L, base.toUpperCase),
        (4L, base.replace("today", "tonight")),
        (5L, "completely different text about catalyst optimizer " +
          "rules and distributed shuffle execution with partitions"),
        (6L, "another unrelated document mentioning brown fox once " +
          "inside a much longer passage of filler words and phrases")) ++
        (7L to 24L).map(i => (i, s"filler document number $i with " +
          s"some shared vocabulary about foxes and dogs and fences")))
        .toDF("doc_id", "text")
      val t = 0.6
      val a = docs.select(col("doc_id").as("id_a"), col("text").as("text_a"))
      val b = docs.select(col("doc_id").as("id_b"), col("text").as("text_b"))
      def rows(df: org.apache.spark.sql.DataFrame) =
        df.select("id_a", "id_b", "jaccard").collect()
          .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
          .toSeq.sorted
      def rewritten = a.join(b,
          text_jaccard(col("text_a"), col("text_b"), 8) >= t &&
            col("id_a") < col("id_b"))
        .select(col("id_a"), col("id_b"),
          text_jaccard(col("text_a"), col("text_b"), 8).as("jaccard"))
      var pairs = 0
      s.conf.set("spark.graft.jaccardRewrite.enabled", "true")
      try {
        for (mode <- Seq("off", "on", "auto")) {
          s.conf.set("spark.graft.jaccard.exactDfOrder", mode)
          val op = rows(Dedup.ngramJaccard(docs, n = 8, threshold = t,
            pairBudget = Long.MaxValue))
          val q = rewritten
          val rw = rows(q)
          assert(!q.queryExecution.executedPlan.toString
            .contains("BroadcastNestedLoopJoin"), s"rewrite off ($mode)")
          assert(rw === op, s"exactDfOrder=$mode")
          assert(op.nonEmpty)
          pairs = op.size
        }
        // non-vacuous: the prefix candidates include non-pairs
        val keyed = docs.select(col("doc_id").as("__graft_id"),
          graft.functions.VectorFunctions.char_ngram_set(
            graft.functions.VectorFunctions.normalize_text(col("text")),
            8).as("__graft_gs"))
        val cands = PrefixFilter.bucketPairs(
          PrefixFilter.modelPostings(keyed, Map.empty, t), 1 << 20, t)
          .distinct().count()
        assert(cands > pairs, s"candidates $cands vs pairs $pairs")
      } finally {
        s.conf.unset("spark.graft.jaccard.exactDfOrder")
        s.conf.unset("spark.graft.jaccardRewrite.enabled")
      }
    }
  }

  test("jaccard rewrite stays exact after its data is overwritten " +
      "and refreshed") {
    withExtSession { s =>
      import s.implicits._
      // One reused Dataset whose files are overwritten and refreshed
      // plans a canonically identical join over new data. The bucket
      // cap (bounded_min_collect keeps that many postings per bucket)
      // must come from the new corpus: corpus A's cap of 2 would
      // truncate corpus B's depth-6 buckets and drop pairs.
      val dir = java.nio.file.Files
        .createTempDirectory("graft_jaccard_refresh").toString + "/docs"
      val base = "the quick brown fox jumps over the lazy dog while " +
        "the cat watches from the fence with great interest"
      // corpus A: two unrelated docs — every gram df=1, so the bucket
      // cap lands on its floor of 2
      Seq(
        (1L, base),
        (2L, "completely different text about catalyst optimizer " +
          "rules and distributed shuffle execution with partitions"))
        .toDF("id", "text").write.parquet(dir)
      val docs = s.read.parquet(dir) // ONE reused Dataset
      val a = docs.select(col("id").as("id_a"), col("text").as("text_a"))
      val b = docs.select(col("id").as("id_b"), col("text").as("text_b"))
      import graft.functions.VectorFunctions.text_jaccard
      def q = a.join(b,
          text_jaccard(col("text_a"), col("text_b"), 8) >= 0.6 &&
            col("id_a") < col("id_b"))
        .select("id_a", "id_b")
      s.conf.set("spark.graft.jaccardRewrite.enabled", "true")
      assert(q.collect().isEmpty)
      // corpus B at the SAME path: six near-dup variants — every
      // shared gram's posting list is 6 deep, far past corpus A's cap
      (1L to 6L).map(i => (i, base + s" variant number $i"))
        .toDF("id", "text").write.mode("overwrite").parquet(dir)
      docs.queryExecution.analyzed.refresh() // re-list the FileIndex
      val rewritten = q.collect().map(r => (r.getLong(0), r.getLong(1)))
        .sorted.toSeq
      s.conf.set("spark.graft.jaccardRewrite.enabled", "false")
      val exact = q.collect().map(r => (r.getLong(0), r.getLong(1)))
        .sorted.toSeq
      s.conf.unset("spark.graft.jaccardRewrite.enabled")
      assert(exact.size === 15, s"corpus B should be all-pairs: $exact")
      assert(rewritten === exact)
    }
  }

  test("degenerate jaccard thresholds are left unrewritten, not crashed") {
    withExtSession { s =>
      import s.implicits._
      val docs = Seq((1L, "alpha beta gamma"), (2L, "alpha beta delta"))
        .toDF("id", "text")
      val a = docs.select(col("id").as("id_a"), col("text").as("text_a"))
      val b = docs.select(col("id").as("id_b"), col("text").as("text_b"))
      import graft.functions.VectorFunctions.text_jaccard
      s.conf.set("spark.graft.jaccardRewrite.enabled", "true")
      // t <= 0 selects every pair and t > 1 none — both outside
      // PrefixGrams' (0, 1] domain; the rule must skip them so the
      // query still executes (unrewritten) instead of throwing in
      // the optimizer
      val every = a.join(b,
        text_jaccard(col("text_a"), col("text_b"), 3) >= 0.0 &&
          col("id_a") < col("id_b")).count()
      assert(every === 1L)
      val none = a.join(b,
        text_jaccard(col("text_a"), col("text_b"), 3) > 1.0).count()
      assert(none === 0L)
      s.conf.unset("spark.graft.jaccardRewrite.enabled")
    }
  }

  /** A `text_jaccard >= 0.6` self-join of `docs` (id, text) into
    * (id_a, id_b) pairs. */
  private def jaccardJoin(docs: DataFrame): DataFrame = {
    import graft.functions.VectorFunctions.text_jaccard
    val a = docs.select(col("id").as("id_a"), col("text").as("text_a"))
    val b = docs.select(col("id").as("id_b"), col("text").as("text_b"))
    a.join(b,
        text_jaccard(col("text_a"), col("text_b"), 8) >= 0.6 &&
          col("id_a") < col("id_b"))
      .select("id_a", "id_b")
  }

  /** 24 docs no earlier query has read: twelve near-dup variants of one
    * sentence and twelve fillers, every text tagged with `tag` and a
    * fresh salt. */
  private def freshCorpus(s: SparkSession, tag: String): DataFrame = {
    import s.implicits._
    val salt = s"$tag ${System.nanoTime()}"
    val base = "the quick brown fox jumps over the lazy dog while " +
      "the cat watches from the fence with great interest today"
    ((1L to 12L).map(i => (i, s"$base variant $i $salt")) ++
      (13L to 24L).map(i => (i, s"filler document number $i with some " +
        s"shared vocabulary about foxes and dogs $salt")))
      .toDF("id", "text")
  }

  /** The Spark jobs started while `body` runs. */
  private def jobsDuring(s: SparkSession)(body: => Unit): Int = {
    val jobs = new java.util.concurrent.atomic.AtomicInteger()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    bridge.drainListeners(s.sparkContext)
    s.sparkContext.addSparkListener(listener)
    try {
      body
      bridge.drainListeners(s.sparkContext)
    } finally s.sparkContext.removeSparkListener(listener)
    jobs.get
  }

  /** The ids of the RDDs persisted now, leaving out local checkpoints
    * (materialized outputs, released with the plans that read them). */
  private def cachedRdds(s: SparkSession): Set[Int] =
    s.sparkContext.getPersistentRDDs.collect {
      case (id, rdd) if !rdd.isCheckpointed => id
    }.toSet

  test("no graft optimizer rule starts a Spark job") {
    withExtSession { s =>
      import s.implicits._
      def ciJoin() = Seq((1L, "Alice"), (2L, "BOB")).toDF("id", "name")
        .join(Seq(("alice", 10)).toDF("rname", "v"),
          col("name") === col("rname"))
      val fixtures = Seq[(String, String, () => DataFrame)](
        ("spark.graft.cosineRewrite.enabled", "true", () => cosineJoin(s)),
        ("spark.graft.hammingRewrite.enabled", "true",
          () => hammingJoin(s, 3)),
        ("spark.graft.jaccardRewrite.enabled", "true",
          () => jaccardJoin(freshCorpus(s, "plan-time jobs"))),
        ("spark.graft.mysqlCollation", "ci", () => ciJoin()))
      for ((key, value, q) <- fixtures) {
        s.conf.set(key, value)
        try {
          var plan = ""
          val jobs = jobsDuring(s) {
            val df = q()
            df.queryExecution.optimizedPlan
            plan = df.queryExecution.executedPlan.toString
            df.explain()
          }
          assert(!plan.contains("NestedLoopJoin"), s"$key did not fire:\n$plan")
          assert(jobs === 0, s"$key=$value: $jobs jobs before execution")
        } finally s.conf.unset(key)
      }
      s.conf.set("spark.graft.mysqlCollation", "ci")
      try assert(ciJoin().count() === 1L)
      finally s.conf.unset("spark.graft.mysqlCollation")
    }
  }

  test("an executed jaccard rewrite trains its model and collects its " +
      "histogram once per execution") {
    withExtSession { s =>
      val seen = new java.util.concurrent.ConcurrentLinkedQueue[String]
      val listener = new org.apache.spark.scheduler.SparkListener {
        override def onOtherEvent(
            e: org.apache.spark.scheduler.SparkListenerEvent): Unit = e match {
          case st: org.apache.spark.sql.execution.ui
              .SparkListenerSQLExecutionStart => seen.add(st.details)
          case _ =>
        }
      }
      // the SQL executions one run of `df` starts, by the stage step
      // that started them
      def stepsOf(df: DataFrame): Map[String, Int] = {
        seen.clear()
        bridge.drainListeners(s.sparkContext)
        s.sparkContext.addSparkListener(listener)
        try {
          pairs(df)
          bridge.drainListeners(s.sparkContext)
        } finally s.sparkContext.removeSparkListener(listener)
        val details = seen.toArray(Array.empty[String]).toSeq
        Seq("stopGramModel", "collectBands").map(step =>
          step -> details.count(_.contains(s"PrefixFilter$$.$step"))).toMap
      }
      val docs = freshCorpus(s, "execution-time stage")
      s.conf.set("spark.graft.jaccardRewrite.enabled", "false")
      val exact = pairs(jaccardJoin(docs))
      s.conf.set("spark.graft.jaccardRewrite.enabled", "true")
      try {
        for (run <- 1 to 2) {
          val df = jaccardJoin(docs)
          assert(stepsOf(df) ===
            Map("stopGramModel" -> 1, "collectBands" -> 1), s"run $run")
          assert(pairs(df) === exact)
        }
        assert(exact.nonEmpty)
      } finally s.conf.unset("spark.graft.jaccardRewrite.enabled")
    }
  }

  test("explaining a jaccard rewrite under the exact order leaves no " +
      "cached frame") {
    withExtSession { s =>
      val before = cachedRdds(s)
      s.conf.set("spark.graft.jaccardRewrite.enabled", "true")
      s.conf.set("spark.graft.jaccardRewrite.estFactor", "1e18") // sparse
      s.conf.set("spark.graft.jaccard.exactDfOrder", "on")
      try {
        jaccardJoin(freshCorpus(s, "explain only")).explain()
        bridge.drainListeners(s.sparkContext)
        assert(cachedRdds(s) -- before === Set.empty)
      } finally {
        s.conf.unset("spark.graft.jaccardRewrite.enabled")
        s.conf.unset("spark.graft.jaccardRewrite.estFactor")
        s.conf.unset("spark.graft.jaccard.exactDfOrder")
      }
    }
  }

  test("two jaccard rewrites running at once on one session each return " +
      "their nested-loop rows and leave no cached frame") {
    withExtSession { s =>
      val corpora = Seq("thread one", "thread two").map(freshCorpus(s, _))
      val exact = corpora.map(d => pairs(jaccardJoin(d)))
      val before = cachedRdds(s)
      val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
      s.conf.set("spark.graft.jaccardRewrite.enabled", "true")
      try {
        // the default order, then the cached exact-order postings
        for (order <- Seq("auto", "on")) {
          s.conf.set("spark.graft.jaccard.exactDfOrder", order)
          val runs = corpora.map(d => pool.submit(
            new java.util.concurrent.Callable[Seq[(Long, Long)]] {
              def call() = pairs(jaccardJoin(d))
            }))
          assert(runs.map(_.get(5, java.util.concurrent.TimeUnit.MINUTES)) ===
            exact, s"exactDfOrder=$order")
          assert(cachedRdds(s) -- before === Set.empty, s"exactDfOrder=$order")
        }
        assert(exact.forall(_.nonEmpty))
      } finally {
        pool.shutdown()
        s.conf.unset("spark.graft.jaccardRewrite.enabled")
        s.conf.unset("spark.graft.jaccard.exactDfOrder")
      }
    }
  }

  test("hamming-threshold join rewrites to a banded equi-join, exactly") {
    withExtSession { s =>
      def q = hammingJoin(s, 3)

      s.conf.set("spark.graft.hammingRewrite.enabled", "false")
      val exact = q.collect().map(r => (r.getLong(0), r.getLong(1)))
        .sorted.toSeq
      assert(q.queryExecution.executedPlan.toString
        .contains("BroadcastNestedLoopJoin"))

      s.conf.set("spark.graft.hammingRewrite.enabled", "true")
      val rewritten = q.collect().map(r => (r.getLong(0), r.getLong(1)))
        .sorted.toSeq
      val plan = q.queryExecution.executedPlan.toString
      assert(!plan.contains("BroadcastNestedLoopJoin"),
        s"rewrite did not fire:\n$plan")
      assert(plan.contains("HashJoin") || plan.contains("SortMergeJoin"),
        s"expected a banded equi join:\n$plan")
      // STRICT equivalence (pigeonhole, 3 < 8 bands): same pairs,
      // each exactly once via the canonical-band conjunct
      assert(rewritten === exact)
      assert(exact === Seq((1L, 2L), (1L, 3L), (2L, 3L)))

      // k >= bands would lose recall — must be left unrewritten
      def wide = hammingJoin(s, 9)
      assert(wide.queryExecution.executedPlan.toString
        .contains("BroadcastNestedLoopJoin"))
      assert(wide.count() === 3L)
      s.conf.unset("spark.graft.hammingRewrite.enabled")
    }
  }

  test("Dedup.hammingPairsFromSigs and the hamming rewrite emit the " +
      "same pairs") {
    withExtSession { s =>
      import s.implicits._
      val rnd = new scala.util.Random(11)
      // 30 random signatures, each with a copy 0–4 bit flips away
      // (4 flips is past k = 3 unless two flips hit one bit)
      val sigs = (0 until 30).flatMap { i =>
        val sig = rnd.nextLong()
        val near = (0 until i % 5)
          .foldLeft(sig)((acc, _) => acc ^ (1L << rnd.nextInt(64)))
        Seq((2L * i, sig), (2L * i + 1, near))
      }.toDF("doc_id", "sig")
      val operator = pairs(graft.operators.Dedup.hammingPairsFromSigs(
        sigs, maxHamming = 3, bands = 8).select("id_a", "id_b"))
      s.conf.set("spark.graft.hammingRewrite.enabled", "true")
      val a = sigs.select(col("doc_id").as("id_a"), col("sig").as("sig_a"))
      val b = sigs.select(col("doc_id").as("id_b"), col("sig").as("sig_b"))
      val q = a.join(b,
          bit_count(col("sig_a").bitwiseXOR(col("sig_b"))) <= 3 &&
            col("id_a") < col("id_b"))
        .select("id_a", "id_b")
      assert(!q.queryExecution.executedPlan.toString
        .contains("NestedLoopJoin"))
      assert(operator.nonEmpty)
      assert(pairs(q) === operator)
      s.conf.unset("spark.graft.hammingRewrite.enabled")
    }
  }

  /** (nested-loop rows, rewritten rows, the rewritten query's executed
    * plan) of `q` under `flag`, with the session's other confs. */
  private def rewriteVsNestedLoop(s: SparkSession, flag: String,
      q: () => DataFrame): (Seq[(Long, Long)], Seq[(Long, Long)], String) = {
    s.conf.set(flag, "false")
    val exact = pairs(q())
    s.conf.set(flag, "true")
    val df = q()
    val rewritten = pairs(df)
    s.conf.unset(flag)
    (exact, rewritten, df.queryExecution.executedPlan.toString)
  }

  private def bandedFixtures(s: SparkSession) = Seq(
    ("spark.graft.cosineRewrite.enabled", () => cosineJoin(s)),
    ("spark.graft.hammingRewrite.enabled", () => hammingJoin(s, 3)))

  test("with broadcast disabled the banded rewrites repartition their " +
      "band exchange, so AQE cannot coalesce it") {
    withExtSession { s =>
      s.conf.set("spark.sql.adaptive.enabled", "true")
      s.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      for ((flag, q) <- bandedFixtures(s)) {
        val (exact, rewritten, plan) = rewriteVsNestedLoop(s, flag, q)
        assert(!plan.contains("NestedLoopJoin") &&
          !plan.contains("CartesianProduct"), s"$flag did not fire:\n$plan")
        assert(rewritten === exact, flag)
        assert(plan.contains("REPARTITION_BY_NUM"), s"$flag:\n$plan")
        assert(!plan.contains("coalesced"), s"$flag:\n$plan")
      }
    }
  }

  test("above the broadcast threshold the banded rewrites shuffle on " +
      "band keys, salted for cosine only, with the nested-loop rows") {
    withExtSession { s =>
      s.conf.set("spark.sql.autoBroadcastJoinThreshold", "1")
      for ((flag, q) <- bandedFixtures(s)) {
        val (exact, rewritten, plan) = rewriteVsNestedLoop(s, flag, q)
        assert(rewritten === exact, flag)
        assert(plan.contains("REPARTITION_BY_NUM"), s"$flag:\n$plan")
        // 8 x 2-bit bands are 32 key groups, salted 8 ways to 256;
        // 8 x 8-bit bands are 2048 groups already
        assert(plan.contains("__graft_salt") ===
          flag.contains("cosine"), s"$flag:\n$plan")
      }
    }
  }

  test("left-side filter is pushed below the as-of join node") {
    withExtSession { s =>
      // parquet-backed inputs: a pushed filter stays visible as a Filter
      // over the relation in the optimized plan (LocalRelation inputs
      // would get constant-folded by ConvertToLocalRelation)
      val e = graft.sources.Tables.load(s, TestSpark.sfDir, "events")
      val p = e.filter(col("event_type") === "purchase")
        .select("event_id", "user_id", "ts", "value")
      val su = e.filter(col("event_type") === "signup")
        .select(col("user_id").as("s_user"), col("ts").as("s_ts"))
      val joined = AsOfJoin.join(p, su, p("user_id"), su("s_user"),
        p("ts"), su("s_ts"))
        .filter(col("value") > 30)

      val optimized = joined.queryExecution.optimizedPlan
      val joinNodes = optimized.collect { case j: AsOfJoinPlan => j }
      assert(joinNodes.size === 1)
      // the value predicate must now live in the join's LEFT subtree…
      val leftFilters = joinNodes.head.left.collect {
        case f: org.apache.spark.sql.catalyst.plans.logical.Filter
          if f.condition.references.exists(_.name == "value") => f
      }
      assert(leftFilters.nonEmpty,
        s"expected pushed filter under the join's left side:\n$optimized")
      // …and no longer sit above the join
      optimized match {
        case org.apache.spark.sql.catalyst.plans.logical
          .Filter(cond, _: AsOfJoinPlan)
          if cond.references.exists(_.name == "value") =>
          fail(s"filter not pushed:\n$optimized")
        case _ =>
      }
      // semantics unchanged: pushing the filter equals filtering first
      val expected = AsOfJoin.join(
        p.filter(col("value") > 30), su, p("user_id"), su("s_user"),
        p("ts"), su("s_ts")).count()
      assert(joined.count() === expected && expected > 0)
    }
  }

  test("a warm query reuses its generated code after more than Spark's " +
      "default 100 other classes compiled since its last run") {
    import org.apache.spark.metrics.source.CodegenMetrics
    def compiles = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    withExtSession { s =>
      import s.implicits._
      assert(s.conf.get(StaticSQLConf.CODEGEN_CACHE_MAX_ENTRIES.key) ===
        bridge.CodegenCacheEntries.toString)
      def queryA() = s.range(0, 2000, 1, 2)
        .groupBy(($"id" % 7).as("k")).agg(sum($"id")).collect()
      queryA()
      // an arithmetic operand's literal stays inlined in the generated
      // Java (StableCodegen binds only comparison operands), so every
      // variant compiles classes of its own
      val beforeVariants = compiles
      (1 to 150).foreach(k =>
        s.range(0, 100, 1, 1).where(($"id" + k) % 1000 === 0).collect())
      val variantCompiles = compiles - beforeVariants
      assert(variantCompiles > 100,
        s"only $variantCompiles compiles: the default cache is not overrun")
      val beforeRerun = compiles
      queryA()
      assert(compiles - beforeRerun === 0,
        "query A recompiled classes evicted from the codegen cache")
    }
  }

  test("the codegen cache capacity is set only where the conf leaves " +
      "it unset") {
    val key = StaticSQLConf.CODEGEN_CACHE_MAX_ENTRIES.key
    val unset = new SparkConf(false)
    bridge.sizeCodegenCache(unset)
    assert(unset.get(key) === "1000")
    val userSet = new SparkConf(false).set(key, "64")
    bridge.sizeCodegenCache(userSet)
    assert(userSet.get(key) === "64")
  }
}
