package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import graft.sources.Tables

/** Property tests (SURVEY.md §5.3): fragmentation transparency and
  * optimization invariance over random reference-shaped predicates.
  * (scalatest+scalacheck bridge isn't in the offline cache, so cases are
  * drawn directly from Gen with a fixed seed.) */
class PropertySpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private def init(): Unit = Tables.register(spark, TestSpark.sfDir)

  private def samples(g: Gen[Double], n: Int): Seq[Double] =
    (0 until n).flatMap(i => g.apply(Gen.Parameters.default, Seed(42L + i)))

  test("fragmentation transparency: orders_f ≡ orders under any filter") {
    init()
    samples(Gen.choose(0.0, 500000.0), 8).foreach { t =>
      val a = spark.table("orders").filter(col("o_totalprice") > t).count()
      val b = spark.table("orders_f").filter(col("o_totalprice") > t).count()
      assert(a === b, s"threshold $t")
    }
  }

  test("vertical transparency: customer_f ≡ customer under any filter") {
    init()
    samples(Gen.choose(-1000.0, 10000.0), 8).foreach { t =>
      val a = spark.table("customer").filter(col("c_acctbal") > t).count()
      val b = spark.table("customer_f").filter(col("c_acctbal") > t).count()
      assert(a === b, s"threshold $t")
    }
  }

  test("optimizer invariance: pushdown does not change join results") {
    init()
    samples(Gen.choose(0.0, 500000.0), 5).foreach { t =>
      val q =
        s"""SELECT c.c_custkey, o.o_orderkey FROM customer_f c
           |JOIN orders_f o ON c.c_custkey = o.o_custkey
           |WHERE o.o_totalprice > $t""".stripMargin
      val fragmented = spark.sql(q).count()
      val base = spark.sql(q.replace("customer_f", "customer")
        .replace("orders_f", "orders")).count()
      assert(fragmented === base, s"threshold $t")
    }
  }

  // --- bucket-pair generator expressions vs naive models ----------------
  // The fused candidate generators (cap + prunes inside one expression)
  // must agree with straightforward reference implementations on random
  // buckets — catches sort/cap/indexing bugs independently of any
  // corpus.

  import org.apache.spark.sql.catalyst.InternalRow
  import org.apache.spark.sql.catalyst.expressions.Literal
  import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
  import org.apache.spark.sql.types._
  import graft.functions.VectorFunctions.{BucketPairs, CappedPairs, HammingPairs}

  private def structArray(rows: Seq[InternalRow],
      fields: Seq[StructField]): Literal =
    Literal(new GenericArrayData(rows.toArray[Any]),
      ArrayType(StructType(fields)))

  test("BucketPairs equals the naive capped + size/positional filter") {
    val EPS = 1e-9
    val genPosting = for {
      id <- Gen.choose(0L, 40L)
      sz <- Gen.choose(1, 50)
      rn <- Gen.choose(1, sz)
    } yield (id, rn, sz)
    (0 until 40).foreach { i =>
      // even cases exercise the small-bucket id-order loop, odd cases
      // cross the m>16 banding threshold (size-sorted break loop)
      val nDraw = if (i % 2 == 0) 14 else 45
      val raw = (0 until nDraw).flatMap(k => genPosting(
        Gen.Parameters.default, Seed(100L * i + k)))
      val ps = raw.groupBy(_._1).map(_._2.head).toSeq // unique doc ids
      val t = 0.7
      val cap = if (i % 2 == 0) 6 else 24
      val expr = BucketPairs(structArray(
        ps.map { case (id, rn, sz) => InternalRow(id, rn, sz) },
        Seq(StructField("doc_id", LongType), StructField("rn", IntegerType),
          StructField("sz", IntegerType))), cap, t)
      val got = {
        val r = expr.eval(InternalRow.empty).asInstanceOf[ArrayData]
        (0 until r.numElements())
          .map(k => (r.getStruct(k, 2).getLong(0), r.getStruct(k, 2).getLong(1)))
          .sorted
      }
      val sorted = ps.sortBy(_._1).take(cap)
      val want = (for {
        a <- sorted.indices; b <- a + 1 until sorted.size
        (ia, ra, sa) = sorted(a); (ib, rb, sb) = sorted(b)
        if sb >= t * sa - EPS && sa >= t * sb - EPS &&
          math.min(sa - ra, sb - rb) + 1 >=
            t / (1 + t) * (sa + sb) - EPS
      } yield (ia, ib)).sorted
      assert(got === want, s"case $i postings=$ps")
    }
  }

  test("VerifiedBucketPairs equals the naive filters + exact jaccard") {
    // Direct model check for the EXACT-rewrite loop (the size-band
    // re-sort and break must not change which index pairs are
    // considered): naive reference = doc_id-capped postings, every
    // unordered pair, the same length/positional prefilters, then a
    // full set-intersection jaccard — emitted as (min id, max id).
    // rn is drawn RANDOMLY in [1, |gs|], so the positional filter
    // fires on pairs whose true jaccard passes — the reference
    // replicates the filter, not the recall claim (which needs real
    // df-order rn and is proven end-to-end in GraftExtensionsSpec).
    import graft.functions.VectorFunctions.VerifiedBucketPairs
    val EPS = 1e-9
    val genPosting = for {
      id <- Gen.choose(0L, 25L)
      sz <- Gen.choose(1, 40)
      gs <- Gen.listOfN(sz, Gen.choose(0L, 120L))
      rn <- Gen.choose(1, math.max(1, gs.distinct.size))
    } yield (id, rn, gs.distinct.sorted.toArray)
    (0 until 40).foreach { i =>
      // even cases stay under the m>16 banding threshold (id-order
      // loop), odd cases exceed it (size-sorted band loop) — both
      // paths must match the same naive model
      val nPost = if (i % 2 == 0) 12 else 30
      val ps = (0 until nPost).flatMap(k => genPosting(
        Gen.Parameters.default, Seed(7777L * i + k)))
      val t = if (i % 2 == 0) 0.5 else 0.75
      val cap = if (i % 2 == 0) 8 else 24
      val expr = VerifiedBucketPairs(structArray(
        ps.map { case (id, rn, gs) => InternalRow(id, rn,
          new GenericArrayData(gs.asInstanceOf[Array[Long]])) },
        Seq(StructField("id", LongType), StructField("rn", IntegerType),
          StructField("gs", ArrayType(LongType)))), cap, t)
      val got = {
        val r = expr.eval(InternalRow.empty).asInstanceOf[ArrayData]
        (0 until r.numElements())
          .map(k => (r.getStruct(k, 2).getLong(0), r.getStruct(k, 2).getLong(1)))
          .sorted
      }
      val sorted = ps.sortBy(_._1).take(cap)
      val tc = t / (1 + t)
      val want = (for {
        a <- sorted.indices; b <- a + 1 until sorted.size
        (ia, ra, ga) = sorted(a); (ib, rb, gb) = sorted(b)
        if ia != ib
        sa = ga.length; sb = gb.length
        if sb >= t * sa - EPS && sa >= t * sb - EPS
        if math.min(sa - ra, sb - rb) + 1 >= tc * (sa + sb) - EPS
        c = ga.toSet.intersect(gb.toSet).size
        if c.toDouble / (sa + sb - c) >= t - EPS
      } yield (math.min(ia, ib), math.max(ia, ib))).sorted
      assert(got === want, s"case $i t=$t postings=${ps.map(p =>
        (p._1, p._2, p._3.toSeq)).mkString(";")}")
    }
  }

  test("CappedPairs equals the naive sorted-cap all-pairs") {
    (0 until 40).foreach { i =>
      val ids = (0 until 10).flatMap(k => Gen.choose(0L, 25L)
        .apply(Gen.Parameters.default, Seed(999L * i + k))).distinct
      val cap = 5
      val expr = CappedPairs(
        Literal(new GenericArrayData(ids.toArray), ArrayType(LongType)),
        cap)
      val got = {
        val r = expr.eval(InternalRow.empty).asInstanceOf[ArrayData]
        (0 until r.numElements())
          .map(k => (r.getStruct(k, 2).getLong(0), r.getStruct(k, 2).getLong(1)))
          .sorted
      }
      val sorted = ids.sorted.take(cap)
      val want = (for {
        a <- sorted.indices; b <- a + 1 until sorted.size
      } yield (sorted(a), sorted(b))).sorted
      assert(got === want, s"case $i ids=$ids")
    }
  }

  test("CosineBucketBest equals the naive per-member best neighbor") {
    import graft.functions.VectorFunctions.CosineBucketBest
    import org.apache.spark.sql.types.{FloatType, StructField, StructType}
    def cos(a: Array[Float], b: Array[Float]): Double = {
      var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < a.length) {
        dot += a(i).toDouble * b(i).toDouble
        na += a(i).toDouble * a(i); nb += b(i).toDouble * b(i); i += 1
      }
      if (na == 0.0 || nb == 0.0) Double.NaN
      else dot / (math.sqrt(na) * math.sqrt(nb))
    }
    (0 until 25).foreach { i =>
      val n = 3 + i % 6
      val members: Seq[(Long, Array[Float])] = (0 until n).map { j =>
        // ids span NEGATIVE values on purpose: hash-derived ids are
        // negative half the time, and a found-sentinel of -1 silently
        // dropped members whose best neighbor had a negative id
        val id = Gen.choose(-30L, 30L)
          .apply(Gen.Parameters.default, Seed(7L * i + j)).get
        val v = (0 until 4).map(d => Gen.choose(-1.0f, 1.0f)
          .apply(Gen.Parameters.default, Seed(100L * i + 10L * j + d))
          .get).toArray
        (id, v)
      }.distinctBy(_._1)
      val cap = 4
      val rowType = StructType(Seq(
        StructField("vec_id", LongType),
        StructField("embedding", ArrayType(FloatType))))
      val postings = new GenericArrayData(members.map { case (id, v) =>
        InternalRow(id, new GenericArrayData(v.map(x => x: Any)))
      }.toArray[Any])
      val expr = CosineBucketBest(
        Literal(postings, ArrayType(rowType)), cap)
      val r = expr.eval(InternalRow.empty).asInstanceOf[ArrayData]
      val got = (0 until r.numElements()).map { k =>
        val s = r.getStruct(k, 3)
        (s.getLong(0), s.getLong(1), s.getDouble(2))
      }.sortBy(_._1)
      // naive model: cap = keep the `cap` smallest ids, then per
      // member argmax cosine with (cosine DESC, id ASC) tie-break
      val capped = members.sortBy(_._1).take(cap)
      val want = capped.flatMap { case (id, v) =>
        val cands = capped.filter(_._1 != id)
          .map { case (oid, ov) => (oid, cos(v, ov)) }
          .filterNot(_._2.isNaN)
        if (cands.isEmpty) None
        else Some {
          val best = cands.minBy { case (oid, c) => (-c, oid) }
          (id, best._1, best._2)
        }
      }.sortBy(_._1)
      assert(got === want, s"case $i members=${members.map(_._1)}")
    }
  }

  test("WinnowedFingerprints equals the naive per-window leftmost-min") {
    import graft.functions.VectorFunctions.WinnowedFingerprints
    (0 until 40).foreach { i =>
      // alternate small ranges (plenty of ties — the hard case for the
      // leftmost-min deque invariant) with full-range longs (negative
      // hashes — pins the SIGNED comparison semantics)
      val m = 1 + i % 19
      val hs =
        if (i % 2 == 0)
          (0 until m).flatMap(k => Gen.choose(0L, 9L)
            .apply(Gen.Parameters.default, Seed(31L * i + k)))
        else
          (0 until m).flatMap(k => Gen.choose(Long.MinValue, Long.MaxValue)
            .apply(Gen.Parameters.default, Seed(31L * i + k)))
      val w = 4
      val expr = WinnowedFingerprints(
        Literal(new GenericArrayData(hs.toArray), ArrayType(LongType)), w)
      val got = {
        val r = expr.eval(InternalRow.empty).asInstanceOf[ArrayData]
        (0 until r.numElements())
          .map(k => (r.getStruct(k, 2).getInt(0), r.getStruct(k, 2).getLong(1)))
      }
      val want = {
        val sels = (math.min(w, hs.size) - 1 until hs.size).map { end =>
          val lo = math.max(0, end - w + 1)
          val window = hs.slice(lo, end + 1)
          lo + window.indexOf(window.min) // leftmost minimum
        }
        sels.distinct.map(p => (p, hs(p)))
      }
      assert(got === want, s"case $i hs=$hs")
      // the winnowing guarantee: selected positions at most w apart
      got.map(_._1).sliding(2).foreach {
        case Seq(a, b) => assert(b - a <= w)
        case _ =>
      }
    }
  }

  test("HammingPairs equals the naive popcount filter") {
    (0 until 40).foreach { i =>
      val raw = (0 until 9).flatMap { k =>
        for {
          id <- Gen.choose(0L, 30L)
            .apply(Gen.Parameters.default, Seed(5L * i + k))
          sig <- Gen.choose(Long.MinValue, Long.MaxValue)
            .apply(Gen.Parameters.default, Seed(77L * i + k))
        } yield (id, sig)
      }
      val ps = raw.groupBy(_._1).map(_._2.head).toSeq
      val cap = 6
      val maxHamming = 34 // ~half the bits: random sigs yield both sides
      val expr = HammingPairs(structArray(
        ps.map { case (id, sig) => InternalRow(id, sig) },
        Seq(StructField("doc_id", LongType), StructField("sig", LongType))),
        cap, maxHamming)
      val got = {
        val r = expr.eval(InternalRow.empty).asInstanceOf[ArrayData]
        (0 until r.numElements()).map { k =>
          val s = r.getStruct(k, 3)
          (s.getLong(0), s.getLong(1), s.getInt(2))
        }.sorted
      }
      val sorted = ps.sortBy(_._1).take(cap)
      val want = (for {
        a <- sorted.indices; b <- a + 1 until sorted.size
        h = java.lang.Long.bitCount(sorted(a)._2 ^ sorted(b)._2)
        if h <= maxHamming
      } yield (sorted(a)._1, sorted(b)._1, h)).sorted
      assert(got === want, s"case $i")
    }
  }

  test("FlaggedCappedPairs equals the naive capped pairs with a new member") {
    // the dedup_minhash_increment kernel: pairs among the maxBucket
    // smallest ids that touch at least one new posting. Ids repeat on
    // purpose — equal ids keep their input order (stable sort), so
    // which duplicate survives the cap, and its flag, is pinned too.
    import graft.functions.VectorFunctions.FlaggedCappedPairs
    (0 until 40).foreach { i =>
      val ps = (0 until 3 + i % 12).flatMap(k => (for {
        id <- Gen.choose(0L, 12L)
        isNew <- Gen.oneOf(true, false)
      } yield (id, isNew)).apply(Gen.Parameters.default, Seed(313L * i + k)))
      val cap = 2 + i % 7
      val expr = FlaggedCappedPairs(structArray(
        ps.map { case (id, isNew) => InternalRow(id, isNew) },
        Seq(StructField("doc_id", LongType),
          StructField("is_new", BooleanType))), cap)
      val got = {
        val r = expr.eval(InternalRow.empty).asInstanceOf[ArrayData]
        (0 until r.numElements())
          .map(k => (r.getStruct(k, 2).getLong(0), r.getStruct(k, 2).getLong(1)))
          .sorted
      }
      val capped = ps.sortBy(_._1).take(cap)
      val want = (for {
        a <- capped.indices; b <- a + 1 until capped.size
        if capped(a)._2 || capped(b)._2
      } yield (capped(a)._1, capped(b)._1)).sorted
      assert(got === want, s"case $i cap=$cap postings=$ps")
    }
  }

  test("every bucket generator keeps the capped-bucket contract") {
    // One table row per generator: its postings for a list of ids, the
    // posting struct width, and the id fields of an output row. The
    // payloads make every in-bucket pair pass the generator's filter,
    // so the ids that appear are exactly the ids the cap keeps.
    import graft.functions.VectorFunctions._
    import org.apache.spark.sql.catalyst.expressions.Expression
    val t = 0.5
    def rows(ids: Seq[Long], f: Long => InternalRow, fields: Seq[StructField])
        : Literal = structArray(ids.map(f), fields)
    val table: Seq[(String, (Seq[Long], Int) => Expression, Int)] = Seq(
      ("CappedPairs", (ids, cap) => CappedPairs(Literal(
        new GenericArrayData(ids.toArray[Any]), ArrayType(LongType)), cap), 2),
      ("FlaggedCappedPairs", (ids, cap) => FlaggedCappedPairs(rows(ids,
        InternalRow(_, true), Seq(StructField("doc_id", LongType),
          StructField("is_new", BooleanType))), cap), 2),
      ("HammingPairs", (ids, cap) => HammingPairs(rows(ids,
        InternalRow(_, 0L), Seq(StructField("doc_id", LongType),
          StructField("sig", LongType))), cap, 0), 2),
      ("BucketPairs", (ids, cap) => BucketPairs(rows(ids,
        InternalRow(_, 1, 1), Seq(StructField("doc_id", LongType),
          StructField("rn", IntegerType), StructField("sz", IntegerType))),
        cap, t), 2),
      ("VerifiedBucketPairs", (ids, cap) => VerifiedBucketPairs(rows(ids,
        InternalRow(_, 1, new GenericArrayData(Array[Any](1L, 2L))),
        Seq(StructField("id", LongType), StructField("rn", IntegerType),
          StructField("gs", ArrayType(LongType)))), cap, t), 2),
      ("CosineBucketBest", (ids, cap) => CosineBucketBest(rows(ids,
        InternalRow(_, new GenericArrayData(Array[Any](1f, 0f))),
        Seq(StructField("vec_id", LongType),
          StructField("embedding", ArrayType(FloatType)))), cap), 2))
    def eval(e: Expression): ArrayData =
      e.eval(InternalRow.empty).asInstanceOf[ArrayData]
    table.foreach { case (name, gen, idFields) =>
      // fewer than 2 postings: an empty array, never null
      Seq(Seq.empty[Long], Seq(7L)).foreach { ids =>
        val r = eval(gen(ids, 4))
        assert(r != null && r.numElements() === 0, s"$name on $ids")
      }
      // a null posting anywhere (here past the cap) makes the bucket null
      val withNull = gen(Seq(3L, 1L, 2L), 2).transformUp {
        case Literal(a: GenericArrayData, dt) =>
          Literal(new GenericArrayData(a.array :+ null), dt)
      }
      assert(eval(withNull) === null, name)
      // more than maxBucket postings: only the smallest ids appear, and
      // every pair is emitted as id_a < id_b
      val ids = Seq(40L, -5L, 12L, 7L, 99L, 3L, -20L, 64L)
      val cap = 5
      val r = eval(gen(ids, cap))
      val out = (0 until r.numElements()).map { k =>
        val s = r.getStruct(k, 3)
        (0 until idFields).map(s.getLong)
      }
      assert(out.flatten.toSet === ids.sorted.take(cap).toSet, name)
      if (name != "CosineBucketBest")
        assert(out.forall(p => p(0) < p(1)), s"$name: $out")
    }
  }

  test("persisted index merge ≡ re-derive increment on random corpora " +
      "and random old/new splits") {
    import spark.implicits._
    import graft.operators.Dedup
    val words = ("alpha beta gamma delta epsilon zeta eta theta iota " +
      "kappa lambda mu nu xi omicron pi rho sigma tau").split(" ")
    (0 until 3).foreach { it =>
      val rnd = new scala.util.Random(42 + it)
      // even docs random; each odd doc is a one-word mutation of its
      // predecessor → planted near-dup pairs that may cross the split
      val base = (0 until 12).map { i =>
        (i.toLong, Seq.fill(25)(words(rnd.nextInt(words.length)))
          .mkString(" "))
      }
      val docs = base.map { case (id, text) =>
        if (id % 2 == 1) {
          val prev = base((id - 1).toInt)._2.split(" ")
          prev(rnd.nextInt(prev.length)) = "zulu"
          (id, prev.mkString(" "))
        } else (id, text)
      }.toDF("doc_id", "text")
      val isNew = col("doc_id") % (2 + it) === 0 // varying split shapes
      def pairsOf(df: org.apache.spark.sql.DataFrame) =
        df.select("id_a", "id_b").collect()
          .map(r => (r.getLong(0), r.getLong(1))).toSet
      Dedup.writeMinhashIndex(docs.filter(!isNew), s"prop_mhidx_$it")
      val merged = pairsOf(
        Dedup.minhashIndexMerge(docs.filter(isNew), s"prop_mhidx_$it"))
      val expect = pairsOf(Dedup.minhashLshIncrement(docs, isNew))
      assert(merged === expect, s"iteration $it")
    }
  }

  test("minhashLsh ≡ an increment whose every row is new, under a " +
      "binding bucket cap") {
    import spark.implicits._
    import graft.operators.Dedup
    val words = ("alpha beta gamma delta epsilon zeta eta theta iota " +
      "kappa lambda mu nu xi omicron pi rho sigma tau").split(" ")
    (0 until 3).foreach { it =>
      val rnd = new scala.util.Random(17 + it)
      def text(): Seq[String] =
        Seq.fill(25)(words(rnd.nextInt(words.length)))
      // 4 planted clusters of 4 identical copies and one one-word
      // mutation, plus 8 random docs, under shuffled ids: every band
      // bucket of a cluster holds at least 4 postings, over the cap of 3
      val texts = (0 until 4).flatMap { _ =>
        val t = text()
        Seq.fill(4)(t.mkString(" ")) :+
          t.updated(rnd.nextInt(t.length), "zulu").mkString(" ")
      } ++ Seq.fill(8)(text().mkString(" "))
      val docs = rnd.shuffle(texts.indices.map(_.toLong)).zip(texts)
        .toDF("doc_id", "text")
      def rowsOf(df: org.apache.spark.sql.DataFrame) =
        df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
          .toSet
      val batch = rowsOf(Dedup.minhashLsh(docs, threshold = 0.5,
        maxBucket = 3))
      val allNew = rowsOf(Dedup.minhashLshIncrement(docs, lit(true),
        threshold = 0.5, maxBucket = 3))
      assert(batch === allNew, s"iteration $it")
      val uncapped = rowsOf(Dedup.minhashLsh(docs, threshold = 0.5))
      assert(batch.nonEmpty && batch.subsetOf(uncapped) &&
        batch.size < uncapped.size, s"the cap did not bind: iteration $it")
    }
  }

  test("decontamination ≡ naive distinct-gram intersection on random " +
      "corpora and random eval splits") {
    import spark.implicits._
    val words = ("alpha beta gamma delta epsilon zeta eta theta iota " +
      "kappa").split(" ")
    (0 until 3).foreach { it =>
      val rnd = new scala.util.Random(7 + it)
      val docs = (0 until 20).map { i =>
        (i.toLong,
          Seq.fill(4 + rnd.nextInt(12))(words(rnd.nextInt(words.length)))
            .mkString(" "))
      }
      val isEval = (id: Long) => id % (3 + it) == 0
      val n = 3
      def gramsOf(text: String): Set[String] = {
        val t = text.toLowerCase.trim.split("\\s+").filter(_.nonEmpty)
        if (t.length >= n) t.sliding(n).map(_.mkString(" ")).toSet
        else Set(t.mkString(" "))
      }
      val evalGrams = docs.filter(d => isEval(d._1))
        .flatMap(d => gramsOf(d._2)).toSet
      val want = docs.filterNot(d => isEval(d._1)).map { case (id, tx) =>
        id -> (gramsOf(tx) & evalGrams).size.toLong
      }.toMap
      val df = docs.toDF("doc_id", "text")
      val got = graft.operators.Decontaminate.overlap(
          df.filter(!col("doc_id").isin(
            docs.map(_._1).filter(isEval): _*)),
          df.filter(col("doc_id").isin(
            docs.map(_._1).filter(isEval): _*)), n = n)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got === want, s"iteration $it")
    }
  }

  test("token chunks cover every token exactly once outside overlaps, " +
      "adjacent chunks share exactly `overlap` tokens") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val vocab = "a1 b2 c3 d4 e5 f6 g7".split(" ")
    (0 until 3).foreach { it =>
      val rnd = new scala.util.Random(17 + it)
      val (c, o) = (4 + rnd.nextInt(4), rnd.nextInt(3)) // c in 4..7
      val texts = (0 until 8).map { i =>
        (i.toLong, Seq.fill(1 + rnd.nextInt(25))(
          vocab(rnd.nextInt(vocab.length))).mkString(" "))
      }
      val rows = texts.toDF("doc_id", "text")
        .select(col("doc_id"),
          graft.functions.TextFunctions
            .tokenChunks(col("text"), c, o).as("ch"))
        .collect().map(r => r.getLong(0) ->
          r.getSeq[String](1).map(_.split(" ").toSeq)).toMap
      texts.foreach { case (id, tx) =>
        val toks = tx.split(" ").toSeq
        val chunks = rows(id)
        val step = c - o
        // stitched back together (dropping each successor's first
        // `overlap` tokens) the chunks ARE the token stream
        val stitched = chunks.head ++
          chunks.tail.flatMap(_.drop(o))
        assert(stitched === toks, s"iter $it doc $id c=$c o=$o")
        // every adjacent pair overlaps by exactly `overlap` tokens
        // (except a clamped tail shorter than the overlap itself)
        chunks.sliding(2).foreach {
          case Seq(x, y) =>
            assert(y.take(o) === x.drop(step).take(o),
              s"iter $it doc $id overlap mismatch")
          case _ => ()
        }
      }
    }
  }

  test("bm25 ranking ≡ naive in-memory model on random corpora") {
    import spark.implicits._
    val vocab = "red green blue cyan teal gold onyx jade".split(" ")
    (0 until 3).foreach { it =>
      val rnd = new scala.util.Random(11 + it)
      val docs = (0 until 15).map { i =>
        (i.toLong,
          Seq.fill(3 + rnd.nextInt(10))(vocab(rnd.nextInt(vocab.length)))
            .mkString(" "))
      }
      val terms = Seq(vocab(rnd.nextInt(vocab.length)),
        vocab(rnd.nextInt(vocab.length))).distinct
      val (k1, b) = (1.2, 0.75)
      val dls = docs.map { case (id, tx) =>
        id -> tx.split(" ").count(_.nonEmpty).toLong }.toMap
      val nDocs = docs.size.toDouble
      val avgdl = dls.values.sum.toDouble / nDocs
      val tf = docs.flatMap { case (id, tx) =>
        tx.split(" ").filter(terms.contains).map(t => (id, t)) }
        .groupBy(identity).view.mapValues(_.size.toLong).toMap
      val dfc = tf.keys.groupBy(_._2).view.mapValues(_.size.toLong).toMap
      val want = docs.flatMap { case (id, _) =>
        val s = terms.flatMap { t =>
          tf.get((id, t)).map { f =>
            val idf = (nDocs - dfc(t) + 0.5) / (dfc(t) + 0.5)
            val tfn = (f.toDouble * (k1 + 1)) /
              (f.toDouble + k1 * (1 - b + b * dls(id).toDouble / avgdl))
            math.round(idf * tfn * 1e6)
          }
        }
        if (s.isEmpty) None else Some(id -> s.sum)
      }.sortBy { case (id, sc) => (-sc, id) }.take(5)
      val got = graft.operators.Search.bm25TopK(
          docs.toDF("doc_id", "text"), terms, k = 5)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
      assert(got === want, s"iteration $it terms=$terms")
    }
  }

  test("semantic pairs ≡ naive within-cluster cosine on random vectors") {
    import spark.implicits._
    val cents: Seq[Seq[Float]] =
      Seq(Seq(1f, 0f, 0f), Seq(0f, 1f, 0f), Seq(0f, 0f, 1f))
    (0 until 3).foreach { it =>
      val rnd = new scala.util.Random(13 + it)
      val vecs = (0 until 24).map { i =>
        (i.toLong, Seq.fill(3)(rnd.nextFloat() * 2 - 1))
      }
      def cos(a: Seq[Float], b: Seq[Float]): Double = {
        var d = 0.0; var na = 0.0; var nb = 0.0
        a.indices.foreach { i =>
          val x = a(i).toDouble; val y = b(i).toDouble
          d += x * y; na += x * x; nb += y * y
        }
        if (na == 0 || nb == 0) -2.0 else d / (math.sqrt(na) * math.sqrt(nb))
      }
      // argmax with the engine's tie-break (first/lowest cluster wins)
      val assign = vecs.map { case (id, v) =>
        id -> cents.indices.maxBy(c => (cos(v, cents(c)), -c))
      }.toMap
      val want = (for {
        (ia, va) <- vecs; (ib, vb) <- vecs
        if ia < ib && assign(ia) == assign(ib) && cos(va, vb) >= 0.5
      } yield (ia, ib)).toSet
      val got = graft.operators.Clustering.semanticPairs(
          vecs.toDF("vec_id", "embedding"), cents, threshold = 0.5)
        .collect().map(r => (r.getLong(1), r.getLong(2))).toSet
      assert(got === want, s"iteration $it")
    }
  }

  test("packing manifest ≡ naive in-memory concat-then-chunk on " +
      "random corpora and parameters") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val vocab = "w1 w2 w3 w4 w5".split(" ")
    (0 until 3).foreach { it =>
      val rnd = new scala.util.Random(23 + it)
      val (seqLen, nShards) = (4 + rnd.nextInt(60), 1 + rnd.nextInt(7))
      val docs = (0 until 40).map { i =>
        (i.toLong, Seq.fill(rnd.nextInt(30))( // includes empty docs
          vocab(rnd.nextInt(vocab.length))).mkString(" "))
      }
      val got = graft.operators.Packing
        .packManifest(docs.toDF("doc_id", "text"), seqLen, nShards)
        .collect()
        .map(r => r.getLong(0) -> (r.getInt(1), r.getLong(2),
          r.getLong(3), r.getLong(4), r.getLong(5))).toMap
      // naive model: hash every doc with the same XXH64, group by
      // shard, sort by (hash, id), walk the running offset
      def xxh(id: Long) = org.apache.spark.sql.catalyst.expressions
        .XxHash64Function.hash(id,
          org.apache.spark.sql.types.LongType, 42L)
      val want = docs
        .map { case (id, tx) =>
          (id, tx.split(" ").count(_.nonEmpty).toLong, xxh(id)) }
        .filter(_._2 > 0)
        .groupBy { case (id, _, h) =>
          (h % nShards + nShards) % nShards }
        .flatMap { case (shard, ds) =>
          var off = 0L
          ds.sortBy { case (id, _, h) => (h, id) }.map {
            case (id, nt, _) =>
              val start = off; off += nt
              id -> (shard.toInt, nt, start / seqLen,
                (off - 1) / seqLen, start % seqLen)
          }
        }
      assert(got === want.toMap,
        s"iteration $it seqLen=$seqLen nShards=$nShards")
    }
  }

  test("pageRank ≡ the sequential floor-division reference on random " +
      "graphs") {
    import spark.implicits._
    val rnd = new scala.util.Random(19)
    (1 to 3).foreach { it =>
      val n = 8 + rnd.nextInt(12)
      val nodes = (1L to n.toLong).toSeq
      val edges = (0 until n * 3).map(_ =>
          (1L + rnd.nextInt(n), 1L + rnd.nextInt(n)))
        .filter { case (a, b) => a != b }.distinct
      val iters = 1 + rnd.nextInt(4)
      val got = graft.operators.Graph.pageRank(
          nodes.toDF("id"), edges.toDF("src", "dst"), iters)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      // sequential replay of the documented rule
      val scale = 1000000000000L
      val base = 15L * scale / (100L * n)
      val outdeg = edges.groupBy(_._1).view.mapValues(_.size.toLong).toMap
      var ranks = nodes.map(_ -> scale / n).toMap
      for (_ <- 1 to iters) {
        val inflow = edges.map { case (s, d) => d -> ranks(s) / outdeg(s) }
          .groupBy(_._1).view.mapValues(_.map(_._2).sum).toMap
        ranks = nodes.map(v =>
          v -> (base + 85L * inflow.getOrElse(v, 0L) / 100L)).toMap
      }
      assert(got === ranks, s"iteration $it n=$n iters=$iters")
    }
  }

  test("histogram quantile state: merge ≡ cold and the envelope holds " +
      "on random corpora and bin widths") {
    import spark.implicits._
    import graft.operators.IncrementalAgg
    val rnd = new scala.util.Random(23)
    (1 to 3).foreach { it =>
      val n = 40 + rnd.nextInt(60)
      val docs = (0L until n.toLong).map { i =>
        val toks = rnd.nextInt(200) // < binWidth·nBins for any draw below
        (i, Seq.fill(toks)("w").mkString(" "),
          s"src${rnd.nextInt(3)}")
      }.toDF("doc_id", "text", "source")
      val binWidth = 4 + rnd.nextInt(28)
      val nBins = 64
      val dir = s"/tmp/graft-prop-hist-${java.util.UUID.randomUUID()}"
      val cut = rnd.nextInt(3) + 2
      IncrementalAgg.writeHistState(
        docs.filter(col("doc_id") % cut =!= 0), dir, binWidth, nBins)
      val merged = IncrementalAgg.mergeHistIncrement(spark, dir,
        docs.filter(col("doc_id") % cut === 0), binWidth, nBins)
      val cold = IncrementalAgg.histState(docs, binWidth, nBins)
      assert(merged.exceptAll(cold).count() === 0L &&
        cold.exceptAll(merged).count() === 0L, s"iteration $it")
      val pbp = Seq(2500, 5000, 9000)(rnd.nextInt(3))
      val est = IncrementalAgg.histQuantiles(merged, binWidth, Seq(pbp))
        .collect().map(r => r.getString(0) -> r.getLong(2)).toMap
      val vals = docs
        .select(col("source"),
          graft.functions.TextFunctions.tokenCount(col("text"))
            .cast("long").as("v"))
        .collect().map(r => r.getString(0) -> r.getLong(1))
        .groupBy(_._1).view.mapValues(_.map(_._2).sorted).toMap
      vals.foreach { case (src, vs) =>
        val exact = vs(((pbp.toLong * vs.size + 9999) / 10000 - 1).toInt)
        val upper = est(src)
        assert(exact >= upper - binWidth && exact < upper,
          s"iteration $it src=$src pbp=$pbp width=$binWidth")
      }
    }
  }

  test("imperative text walks equal their declarative HOF ancestors " +
      "on random whitespace/unicode soup") {
    import spark.implicits._
    import graft.functions.TextFunctions._
    // generator: random mixtures of words, repeated words, whitespace
    // runs (space/tab/newline/unicode NBSP), casing, punctuation,
    // accented + CJK glyphs, empty and blank strings
    val rnd = new scala.util.Random(97)
    val atoms = Seq("word", "Word", "WORD", "a", "bb", "répété", "漢字",
      "x9", "p.q", "", " ", "\t", "\n", " ", "  ")
    val docs = ((0 until 60).map { _ =>
      (0 until rnd.nextInt(14)).map(_ =>
        atoms(rnd.nextInt(atoms.length))).mkString(
        Seq(" ", "", "\t", "\n")(rnd.nextInt(4)))
    } ++ Seq("", " ", null)).toDF("text")
    def oldShingles(text: org.apache.spark.sql.Column, k: Int) = {
      val toks = tokens(text)
      array_distinct(
        when(size(toks) >= k,
          transform(sequence(lit(0), size(toks) - k),
            i => concat_ws(" ", slice(toks, i + 1, lit(k)))))
          .otherwise(array(concat_ws(" ", toks))))
    }
    def oldBigrams(text: org.apache.spark.sql.Column) = {
      val toks = tokens(text)
      when(size(toks) >= 2,
        transform(sequence(lit(0), size(toks) - 2),
          i => concat_ws(" ", element_at(toks, i + 1),
            element_at(toks, i + 2))))
        .otherwise(array().cast("array<string>"))
    }
    def oldTopFrac(text: org.apache.spark.sql.Column) = {
      val toks = tokens(text)
      val top = aggregate(array_distinct(toks), lit(0),
        (acc, tk) => greatest(acc, size(filter(toks, x => x === tk))))
      when(size(toks) > 0,
        top.cast("double") / size(toks).cast("double")).otherwise(0.0)
    }
    for (k <- Seq(2, 3)) {
      val rows = docs.select(
        wordShingles(col("text"), k).as("sNew"),
        oldShingles(col("text"), k).as("sOld"),
        wordBigrams(col("text")).as("bNew"),
        oldBigrams(col("text")).as("bOld"),
        topTokenFrac(col("text")).as("fNew"),
        oldTopFrac(col("text")).as("fOld")).collect()
      rows.zipWithIndex.foreach { case (r, i) =>
        assert(r.getSeq[String](0) === r.getSeq[String](1), s"sh $i k=$k")
        assert(r.getSeq[String](2) === r.getSeq[String](3), s"bg $i")
        assert(r.getDouble(4) === r.getDouble(5), s"frac $i")
      }
    }
  }

  test("canonicalUrl collapses every random noise rendering of one " +
      "resource to one key") {
    import spark.implicits._
    val rnd = new scala.util.Random(31)
    (1 to 3).foreach { it =>
      val host = s"ex${rnd.nextInt(10)}.example.org"
      val path = s"/a/${rnd.nextInt(100)}"
      val realQ = if (rnd.nextBoolean()) s"?id=${rnd.nextInt(9)}" else ""
      val variants = (0 until 12).map { _ =>
        val scheme = Seq("https://", "http://", "HTTPS://", "Http://")(
          rnd.nextInt(4))
        val www = if (rnd.nextBoolean()) "www." else ""
        val hostCase = if (rnd.nextBoolean()) host.toUpperCase else host
        val port = if (rnd.nextBoolean()) ":443" else ""
        val slash = if (rnd.nextBoolean()) "/" else "" // "/?": collapsed
        val utm =
          if (!rnd.nextBoolean()) ""
          else if (realQ.nonEmpty) "&utm_src=x"
          else "?utm_src=x"
        val frag = if (rnd.nextBoolean()) s"#s${rnd.nextInt(99)}" else ""
        s"$scheme$www$hostCase$port$path$slash$realQ$utm$frag"
      }
      val keys = variants.toDF("u")
        .select(graft.functions.TextFunctions
          .canonicalUrl(col("u")).as("c"))
        .collect().map(_.getString(0)).toSet
      assert(keys === Set(host + path + realQ), s"iteration $it: $keys")
    }
  }
}
