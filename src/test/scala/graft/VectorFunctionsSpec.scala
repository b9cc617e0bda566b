package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.functions.VectorFunctions._

class VectorFunctionsSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  test("cosine_sim matches a hand computation") {
    val df = Seq((Array(1f, 0f, 1f), Array(1f, 1f, 0f))).toDF("a", "b")
    val got = df.select(cosine_sim(col("a"), col("b"))).collect()(0)
      .getDouble(0)
    assert(math.abs(got - 0.5) < 1e-12) // dot=1, |a|=|b|=sqrt2
  }

  test("cosine_sim: identical → 1, orthogonal → 0, mismatch/zero → null") {
    val df = Seq(
      (Array(1f, 2f), Array(1f, 2f)),
      (Array(1f, 0f), Array(0f, 1f))).toDF("a", "b")
    val r = df.select(cosine_sim(col("a"), col("b"))).collect()
    assert(math.abs(r(0).getDouble(0) - 1.0) < 1e-12)
    assert(math.abs(r(1).getDouble(0)) < 1e-12)
    val bad = Seq((Array(1f, 2f), Array(1f, 2f, 3f)),
      (Array(0f, 0f), Array(1f, 1f))).toDF("a", "b")
      .select(cosine_sim(col("a"), col("b"))).collect()
    assert(bad(0).isNullAt(0) && bad(1).isNullAt(0))
  }

  test("codegen and interpreted paths agree") {
    val data = (0 until 100).map { i =>
      (Array.tabulate(16)(j => (i * 31 + j).toFloat % 7 - 3),
        Array.tabulate(16)(j => (i * 17 + j).toFloat % 5 - 2))
    }
    val df = data.toDF("a", "b")
    // Beside cosine_sim (hand-written codegen), one bridged expression
    // per result cast of the codegen bridge: ArrayData, InternalRow,
    // UTF8String, byte[], long and double. Row 3 makes each nullable
    // one return null; the coalesce children are non-nullable, so
    // those expressions take the bridge's non-nullable branch.
    val bridged = Seq[(Int, Array[Long], String, String, Array[Byte],
        Array[Float])](
      (0, Array(9L, 2L, 5L), "  The Quick\tfox ", "the quick fox jumps",
        Array[Byte](7, 1), Array(0.5f, -1f, 2f)),
      (1, Array(4L, 1L), "A1 b2  c3", "a1 b2 c4", Array[Byte](-1),
        Array(1f, 1f, 1f)),
      (2, Array.empty[Long], "", "x", Array.empty[Byte], Array(0f, 0f, 1f)),
      (3, null, null, null, null, Array.empty[Float]))
      .toDF("k", "ids", "t", "u", "bm", "v")
      .repartition(2) // keep the projection out of a LocalRelation fold
    val noText = coalesce(col("t"), lit(""))
    val noBm = coalesce(col("bm"), lit(Array[Byte](3)))
    val exprs = Seq(col("k"),
      capped_pairs(col("ids"), 2),
      capped_pairs(when(col("k") === 3, array(lit(1L), lit(null)))
        .otherwise(col("ids")), 3),
      text_stats(col("t")), text_stats(noText),
      normalize_text(col("t")), normalize_text(noText),
      bitmap_andnot(col("bm"), lit(Array[Byte](3))),
      bitmap_andnot(noBm, lit(Array[Byte](1))),
      hyperplane_sig(col("v"), 8),
      text_jaccard(col("t"), col("u"), 3))
    def plain(v: Any): Any = v match {
      case b: Array[Byte] => b.toSeq
      case r: org.apache.spark.sql.Row => r.toSeq.map(plain)
      case s: scala.collection.Seq[_] => s.map(plain)
      case other => other
    }
    def bridgedRows() = bridged.select(exprs: _*).collect()
      .map(r => r.toSeq.map(plain)).sortBy(_.head.asInstanceOf[Int]).toSeq
    spark.conf.set("spark.sql.codegen.fallback", "false")
    spark.conf.set("spark.sql.codegen.factoryMode", "CODEGEN_ONLY")
    val (codegen, bridgedCodegen) =
      try {
        (df.select(cosine_sim(col("a"), col("b"))).collect()
          .map(r => if (r.isNullAt(0)) Double.NaN else r.getDouble(0)),
          bridgedRows())
      } finally {
        spark.conf.set("spark.sql.codegen.fallback", "true")
        spark.conf.set("spark.sql.codegen.factoryMode", "FALLBACK")
      }
    spark.conf.set("spark.sql.codegen.wholeStage", "false")
    spark.conf.set("spark.sql.codegen.factoryMode", "NO_CODEGEN")
    try {
      val interp = df.select(cosine_sim(col("a"), col("b"))).collect()
        .map(r => if (r.isNullAt(0)) Double.NaN else r.getDouble(0))
      codegen.zip(interp).foreach { case (x, y) =>
        assert(x == y || (x.isNaN && y.isNaN))
      }
      assert(bridgedCodegen === bridgedRows())
    } finally {
      spark.conf.set("spark.sql.codegen.wholeStage", "true")
      spark.conf.set("spark.sql.codegen.factoryMode", "FALLBACK")
    }
    // the null row really is null where the expression is nullable,
    // and never null through the non-nullable branch
    val nullRow = bridgedCodegen.find(_.head == 3).get
    Seq(1, 2, 3, 5, 7, 9, 10).foreach(c =>
      assert(nullRow(c) == null, s"column $c of $nullRow"))
    Seq(4, 6, 8).foreach(c =>
      assert(nullRow(c) != null, s"column $c of $nullRow"))
  }

  test("simhash64 is order-insensitive and content-sensitive") {
    val df = Seq(
      Seq("alpha", "beta", "gamma", "delta"),
      Seq("delta", "gamma", "beta", "alpha"),
      Seq("alpha", "beta", "gamma", "epsilon")).toDF("toks")
    val r = df.select(simhash64(col("toks"))).collect().map(_.getLong(0))
    assert(r(0) === r(1))
    assert(r(0) !== r(2))
    // near-identical token sets → small hamming distance
    val h = java.lang.Long.bitCount(r(0) ^ r(2))
    assert(h <= 16, s"hamming $h unexpectedly large")
  }

  test("simhash64 of empty array is null") {
    val r = Seq(Seq.empty[String]).toDF("toks")
      .select(simhash64(col("toks"))).collect()
    assert(r(0).isNullAt(0))
  }

  test("minhash signature: order/multiplicity-invariant, k mins, null on empty") {
    val df = Seq(
      Seq(5L, 9L, 2L, 7L),
      Seq(7L, 2L, 9L, 5L, 5L, 2L), // same SET, different order + dups
      Seq(5L, 9L, 2L),             // subset
      Seq.empty[Long]).toDF("es")
    val r = df.select(minhash_sig(col("es"), 8)).collect()
    val s0 = r(0).getSeq[Long](0)
    assert(s0.length === 8)
    assert(s0 === r(1).getSeq[Long](0)) // MinHash is a set signature
    // each subset min-hash is >= the superset's (fewer candidates)
    val s2 = r(2).getSeq[Long](0)
    assert(s0.zip(s2).forall { case (a, b) => b >= a })
    assert(r(3).isNullAt(0))
  }

  test("hyperplane signature: deterministic, similar vectors collide more") {
    val base = Array.tabulate(32)(i => math.sin(i.toDouble).toFloat)
    val near = base.clone(); near(0) = near(0) + 0.01f
    val far = Array.tabulate(32)(i => math.cos(i * 3.0).toFloat)
    val df = Seq(base, base, near, far).toDF("v")
    val sigs = df.select(hyperplane_sig(col("v"), 16)).collect()
      .map(_.getLong(0))
    assert(sigs(0) === sigs(1)) // deterministic
    val hNear = java.lang.Long.bitCount(sigs(0) ^ sigs(2))
    val hFar = java.lang.Long.bitCount(sigs(0) ^ sigs(3))
    assert(hNear < hFar, s"near=$hNear far=$hFar")
  }

  test("pq_adc: out-of-range code yields null like other malformed " +
      "input, not a task failure") {
    // m = 1 subspace, k = 2 centroids, subDim = 2
    val cb = Seq(Seq(Seq(1.0, 0.0), Seq(0.0, 1.0)))
    val df = Seq(
      (Array(1f, 2f), Array(1)),  // valid: dot with centroid (0,1) = 2
      (Array(1f, 2f), Array(5)),  // foreign code, past the codebook
      (Array(1f, 2f), Array(-1))) // corrupt code
      .toDF("q", "codes")
    val r = df.select(pq_adc(col("q"), col("codes"), cb)).collect()
    assert(r(0).getDouble(0) === 2.0)
    assert(r(1).isNullAt(0), "code 5 of a 2-entry codebook must be null")
    assert(r(2).isNullAt(0), "negative code must be null")
  }

  test("broadcast_member_count counts membership against the " +
      "broadcast set, null elements skipped") {
    val bc = broadcastStringSet(spark, Seq("a b", "c d"))
    val df = Seq(
      Seq("a b", "x y", "c d"),
      Seq("nope"),
      Seq.empty[String]).toDF("grams")
    val r = df.select(broadcast_member_count(col("grams"), bc))
      .collect().map(_.getLong(0)).toSeq
    assert(r === Seq(2L, 0L, 0L))
  }

  test("bitmap_positions round-trips the builtin bitmap_construct_agg " +
      "layout: (bucket-1)*32768 + position + 1 recovers every value") {
    // values spanning three buckets, including the edges of each
    val vals = Seq(1L, 2L, 7L, 8L, 9L, 255L, 256L, 32767L, 32768L,
      32769L, 65536L, 65537L, 99999L)
    val decoded = vals.toDF("v")
      .select(expr("bitmap_bucket_number(v)").as("bk"),
        expr("bitmap_bit_position(v)").as("pos"))
      .groupBy("bk")
      .agg(expr("bitmap_construct_agg(pos)").as("bm"))
      .select(col("bk"), explode(bitmap_positions(col("bm"))).as("p"))
      .select(((col("bk") - 1) * 32768 + col("p") + 1).as("v"))
      .collect().map(_.getLong(0)).toSet
    assert(decoded === vals.toSet)
  }

  test("bitmap_agg (typed, hash-aggregable) matches the builtin's " +
      "layout, ORs binary inputs, trims trailing zeros, and plans " +
      "WITHOUT a sort") {
    import graft.functions.BitmapAgg.bitmap_agg
    val vals = Seq(0L, 3L, 8L, 255L, 300L, 32767L)
    // position mode: same bytes as the builtin construct (up to the
    // trailing-zero trim), decoded by the same bitmap_positions
    val mine = vals.toDF("p")
      .agg(bitmap_agg(col("p"), 32768).as("bm"))
      .select(explode(bitmap_positions(col("bm"))).as("p"))
      .collect().map(_.getInt(0).toLong).toSet
    assert(mine === vals.toSet)
    // binary mode ORs partial bitmaps (differing trimmed lengths OK)
    val orWay = vals.toDF("p")
      .withColumn("g", pmod(col("p"), lit(3)))
      .groupBy("g").agg(bitmap_agg(col("p"), 32768).as("bm"))
      .agg(bitmap_agg(col("bm"), 32768).as("bm"))
      .select(explode(bitmap_positions(col("bm"))).as("p"))
      .collect().map(_.getInt(0).toLong).toSet
    assert(orWay === vals.toSet)
    // the whole point: the aggregate hash-aggregates (ObjectHashAgg),
    // never sort-aggregates like the builtin bitmap_construct_agg
    val plan = vals.toDF("p")
      .groupBy(expr("p % 5")).agg(bitmap_agg(col("p"), 32768))
      .queryExecution.executedPlan.toString
    assert(plan.contains("ObjectHashAggregate"),
      s"bitmap_agg should plan as ObjectHashAggregate:\n$plan")
    assert(!plan.contains("SortAggregate"),
      s"bitmap_agg must not fall to SortAggregate:\n$plan")
  }

  test("mergeIntersectAtLeast: exact count whenever the threshold is " +
      "reachable, -1 only when the true count provably falls short — " +
      "the early-abandon bound never drops a passing pair") {
    val rnd = new scala.util.Random(20260815L)
    for (_ <- 1 to 500) {
      val universe = 1 + rnd.nextInt(200)
      def arr() = (0 until (1 + rnd.nextInt(80)))
        .map(_ => rnd.nextInt(universe).toLong)
        .distinct.sorted.toArray
      val (x, y) = (arr(), arr())
      val c0 = graft.functions.VectorFunctions.mergeIntersectCount(x, y)
      for (minOv <- Seq(0, 1, c0 - 1, c0, c0 + 1,
          math.min(x.length, y.length)) if minOv >= 0) {
        val r = graft.functions.VectorFunctions
          .mergeIntersectAtLeast(x, y, minOv)
        if (c0 >= minOv) assert(r === c0,
          s"reachable threshold must return the exact count " +
            s"(c0=$c0, minOv=$minOv)")
        else assert(r === -1 || r === c0,
          s"below-threshold may abandon (-1) or finish exactly " +
            s"(c0=$c0, minOv=$minOv, got $r)")
        if (r == -1) assert(c0 < minOv,
          "-1 must imply the true count falls short")
      }
    }
  }

  test("bitmap_andnot is exact set difference on bitmap buckets") {
    def bm(vals: Seq[Long]) = vals.toDF("v")
      .agg(expr("bitmap_construct_agg(bitmap_bit_position(v))").as("bm"))
    val a = bm(Seq(1L, 5L, 100L, 32768L)) // all in bucket 1
    val b = bm(Seq(5L, 7L, 100L))
    val diff = a.crossJoin(b.withColumnRenamed("bm", "vb"))
      .select(explode(bitmap_positions(
        bitmap_andnot(col("bm"), col("vb")))).as("p"))
      .select((col("p") + 1).cast("long").as("v")) // bucket 1 ⇒ v = pos+1
      .collect().map(_.getLong(0)).toSet
    assert(diff === Set(1L, 32768L))
  }
}
