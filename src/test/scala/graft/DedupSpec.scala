package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.Dedup

class DedupSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private val base = "the quick brown fox jumps over the lazy dog " +
    "while the cat naps under the warm sun near the old barn " +
    "and birds sing in the tall green trees beside the river"
  private val nearDup = base.replace("lazy", "sleepy")
  private val exactDup = base.toUpperCase
  private val other = "completely different content about spark " +
    "catalyst optimizer rules and distributed shuffle execution " +
    "with partitions exchanges codegen stages and adaptive plans"

  // doc 5: same content as doc 1 but with tab / newline / multi-space
  // whitespace runs — normalization must canonicalize it to an exact dup
  // (the round-2 oracle-regex defect was masked by single-spaced corpora;
  // this fixture keeps whitespace handling exercised)
  private val messyWhitespace = base
    .replaceFirst(" ", "\t\t").replaceFirst("the lazy", "the\n lazy")
    .replace("green trees", "green   trees") + "  "

  private lazy val docs = Seq(
    (1L, base), (2L, exactDup), (3L, nearDup), (4L, other),
    (5L, messyWhitespace))
    .toDF("doc_id", "text")

  test("exact dedup keeps min doc_id per canonical fingerprint") {
    val r = Dedup.exact(docs).orderBy("doc_id").collect()
    assert(r.map(_.getBoolean(2)).toSeq ===
      Seq(true, false, true, true, false))
    assert(r(1).getLong(3) === 1L) // doc 2 is a dup of doc 1
    assert(r(4).getLong(3) === 1L) // whitespace-mangled doc 5 too
  }

  test("minhash LSH finds the near-dup pair and nothing else") {
    val pairs = Dedup.minhashLsh(docs, threshold = 0.5)
      .select("id_a", "id_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((1L, 3L)) && pairs.contains((1L, 2L)))
    assert(!pairs.exists { case (a, b) => b == 4L || a == 4L })
  }

  test("minhash signature has one row and numHashes columns per doc") {
    val sig = Dedup.minhashSignatures(docs, 3, 16)
    assert(sig.count() === 5)
    assert(sig.columns.length === 17)
  }

  test("simhash pairs finds token-level near-dups") {
    val pairs = Dedup.simhashPairs(docs, maxHamming = 8, bands = 16)
      .select("id_a", "id_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((1L, 2L))) // same tokens after normalize
    assert(pairs.contains((1L, 3L)))
    assert(!pairs.exists { case (a, b) => b == 4L || a == 4L })
  }

  test("ngram jaccard scores the planted pair above threshold") {
    val r = Dedup.ngramJaccard(docs, threshold = 0.5)
      .collect().map(x => ((x.getLong(0), x.getLong(1)), x.getDouble(2)))
      .toMap
    assert(r.keySet.contains((1L, 2L)) && r((1L, 2L)) === 1.0)
    assert(r.keySet.contains((1L, 3L)) && r((1L, 3L)) > 0.5)
    assert(!r.keySet.exists { case (a, b) => b == 4L || a == 4L })
  }

  test("ngram jaccard candidate-volume guard: a low-entropy corpus " +
      "over budget shrinks the bucket cap — completes, yields a " +
      "subset; a generous budget changes nothing") {
    // 400 near-identical docs: a bounded gram universe shared by every
    // doc, so even the RAREST prefix grams post ~400 deep — the
    // degenerate regime that filled the disk at the sf10 rehearsal
    val lowEntropy = (1L to 400L).map(i =>
      (i, s"the quick brown fox jumps over the lazy dog near the " +
        s"old barn by the river variant $i")).toDF("doc_id", "text")
    def pairSet(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
      df.select("id_a", "id_b").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    val unguarded = pairSet(Dedup.ngramJaccard(lowEntropy,
      threshold = 0.5))
    // est mass here is ≫ 10⁴ even at the cap floor, so both degrade
    // stages run (cap → 64, then the df-ceiling drops the hottest
    // gram bands); the guarded output completes, is a SUBSET of the
    // unguarded run's, and is layout-independent (the histogram and
    // ceiling are exact, so the same dMax falls out of any input
    // partitioning)
    val guarded = pairSet(Dedup.ngramJaccard(lowEntropy,
      threshold = 0.5, pairBudget = 10000L))
    assert(guarded.nonEmpty) // degrade, never total recall loss
    assert(guarded.subsetOf(unguarded))
    assert(guarded.size < unguarded.size) // the guard actually bit
    val guardedOther = pairSet(Dedup.ngramJaccard(
      lowEntropy.repartition(7), threshold = 0.5, pairBudget = 10000L))
    assert(guardedOther === guarded)
    // a budget the estimate cannot exceed leaves the output identical
    val generous = pairSet(Dedup.ngramJaccard(lowEntropy,
      threshold = 0.5, pairBudget = Long.MaxValue))
    assert(generous === unguarded)
  }

  test("ngram jaccard df-ceiling: an overflowing RAREST band admits " +
      "partially — never the dMax=1 total-recall cliff") {
    // 600 exact twin pairs of mutually-distinct text: every shared
    // gram posts exactly 2 deep, so the ENTIRE pair mass sits in the
    // m=2 band — cap-halving is a no-op and whole-band admission
    // would overflow any budget below the band's mass. The
    // deterministic per-gram draw must admit a fraction of the band:
    // some twin pairs survive (each twin shares ~dozens of grams, so
    // a per-gram ppm admission catches nearly every pair), none are
    // invented, and the output stays layout-independent.
    val twins = (1L to 600L).flatMap { i =>
      val txt = s"unique document number $i carries its own " +
        s"distinct words alpha$i beta$i gamma$i delta$i epsilon$i " +
        s"zeta$i eta$i theta$i iota$i kappa$i"
      Seq((i * 2, txt), (i * 2 + 1, txt))
    }.toDF("doc_id", "text")
    val r = Dedup.ngramJaccard(twins, threshold = 0.9,
      pairBudget = 3000L)
      .select("id_a", "id_b").collect()
      .map(x => (x.getLong(0), x.getLong(1))).toSet
    assert(r.nonEmpty) // the cliff would make this empty
    // only true twins appear
    assert(r.forall { case (a, b) => b == a + 1 && a % 2 == 0 })
    val r2 = Dedup.ngramJaccard(twins.repartition(7), threshold = 0.9,
      pairBudget = 3000L)
      .select("id_a", "id_b").collect()
      .map(x => (x.getLong(0), x.getLong(1))).toSet
    assert(r2 === r)
  }

  test("ngram jaccard exact-df order: output invariant to the order " +
      "when the budget fits; engaged degrade stays a valid bounded " +
      "subset and the auto gate matches forced-on") {
    // The operator twin of GraftExtensionsSpec's rewrite-order pin:
    // Dedup.ngramJaccard's exactDfOrder branch re-ranks prefixes under
    // the true global df order and recomputes effCap/dMax from the
    // re-ranked histogram — the interaction most likely to drift.
    def pairs(df: org.apache.spark.sql.DataFrame): Seq[(Long, Long, Double)] =
      df.select("id_a", "id_b", "jaccard").collect()
        .map(x => (x.getLong(0), x.getLong(1), x.getDouble(2)))
        .toSeq.sorted
    def withOrder[A](mode: String)(f: => A): A = {
      spark.conf.set("spark.graft.jaccard.exactDfOrder", mode)
      try f finally spark.conf.unset("spark.graft.jaccard.exactDfOrder")
    }
    // 1) No degrade: forced exact order must emit the model order's
    //    exact output, pairs AND values (the order is a candidate-
    //    volume heuristic; the verified output may not move).
    val modelOut = pairs(Dedup.ngramJaccard(docs, threshold = 0.5))
    val exactOut = withOrder("on") {
      pairs(Dedup.ngramJaccard(docs, threshold = 0.5))
    }
    assert(exactOut === modelOut)
    assert(modelOut.nonEmpty)

    // 2) Degrade engaged (tiny budget on a low-entropy corpus): the
    //    exact-order branch recomputes the histogram and degrade
    //    stages, so its subset may differ from the model order's —
    //    but it must stay a NONEMPTY subset of the unbudgeted output
    //    and be layout-independent (exact histogram → same degrade
    //    decisions under any partitioning).
    val lowEntropy = (1L to 400L).map(i =>
      (i, s"the quick brown fox jumps over the lazy dog near the " +
        s"old barn by the river variant $i")).toDF("doc_id", "text")
    def ids(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
      df.select("id_a", "id_b").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    val unbudgeted = ids(Dedup.ngramJaccard(lowEntropy, threshold = 0.5))
    val exactDegraded = withOrder("on") {
      ids(Dedup.ngramJaccard(lowEntropy, threshold = 0.5,
        pairBudget = 10000L))
    }
    assert(exactDegraded.nonEmpty)
    assert(exactDegraded.subsetOf(unbudgeted))
    val exactDegradedOther = withOrder("on") {
      ids(Dedup.ngramJaccard(lowEntropy.repartition(7), threshold = 0.5,
        pairBudget = 10000L))
    }
    assert(exactDegradedOther === exactDegraded)

    // 3) The auto gate: a saturated hot-gram model (stopGramModelSize
    //    far below the vocabulary) + a model-order estimate over
    //    budget must take the SAME path as forced-on — identical
    //    output under identical parameters.
    val autoOut = ids(Dedup.ngramJaccard(lowEntropy, threshold = 0.5,
      stopGramModelSize = 4, pairBudget = 10000L))
    val forcedOut = withOrder("on") {
      ids(Dedup.ngramJaccard(lowEntropy, threshold = 0.5,
        stopGramModelSize = 4, pairBudget = 10000L))
    }
    assert(autoOut === forcedOut)
  }

  test("ngram jaccard rejects a threshold outside (0, 1] before it " +
      "caches or trains anything") {
    // the operator's own gram-set frame: cached, it would be found by
    // the cache manager under this equivalent plan
    val gramSets = docs.select(col("doc_id"),
      graft.functions.VectorFunctions.char_ngram_set(
        graft.functions.VectorFunctions.normalize_text(col("text")), 8)
        .as("gs"))
      .filter(col("gs").isNotNull)
    for (t <- Seq(0.0, 1.5, Double.NaN)) {
      val before = spark.sparkContext.getPersistentRDDs.keySet
      val e = intercept[IllegalArgumentException] {
        Dedup.ngramJaccard(docs, n = 8, threshold = t)
      }
      assert(spark.sparkContext.getPersistentRDDs.keySet === before,
        s"threshold $t left an RDD persisted")
      assert(gramSets.storageLevel ===
        org.apache.spark.storage.StorageLevel.NONE,
        s"threshold $t left the gram-set frame in the cache manager")
      assert(e.getMessage.contains("threshold"), e.getMessage)
    }
  }

  test("df-cap residual classification (the round-14 df-cap " +
      "refutation's load-bearing lemma): under the df-asc order a " +
      "doc's prefix posts a >D gram iff the doc is >=t-fraction hot, " +
      "and every true pair is cold-covered or residual x residual") {
    // Pure-math property over random synthetic corpora — pins the
    // theorem in Dedup.ngramJaccard's DF-CAP NOTE against drift.
    val rnd = new scala.util.Random(42)
    val t = 0.7
    for (_ <- 1 to 50) {
      val universe = 1 to 60
      val df: Map[Int, Int] =
        universe.map(g => g -> (1 + rnd.nextInt(40))).toMap
      val order = Ordering.by[Int, (Int, Int)](g => (df(g), g))
      val docs = (1 to 30).map { _ =>
        rnd.shuffle(universe.toList).take(4 + rnd.nextInt(12))
          .sorted(order).toVector
      }
      val d0 = 1 + rnd.nextInt(40)
      def pfxLen(sz: Int) =
        math.max(1, math.min(sz - math.ceil(t * sz).toInt + 1, sz))
      def prefix(doc: Vector[Int]) = doc.take(pfxLen(doc.size)).toSet
      def residual(doc: Vector[Int]) =
        doc.count(g => df(g) > d0) >= math.ceil(t * doc.size).toInt
      // (2) classification: prefix posts a hot gram IFF residual
      for (doc <- docs) {
        val postsHot = prefix(doc).exists(g => df(g) > d0)
        assert(postsHot === residual(doc),
          s"classification failed: doc=$doc d0=$d0 " +
            s"dfs=${doc.map(df)} pfx=${prefix(doc)}")
      }
      // (3) coverage: every pair with J >= t shares a COLD gram in
      // both prefixes, or both members are residual
      for {
        i <- docs.indices; j <- (i + 1) until docs.size
        a = docs(i); b = docs(j)
        inter = a.toSet.intersect(b.toSet).size
        if inter.toDouble / (a.size + b.size - inter) >= t
      } {
        val sharedCold = prefix(a).intersect(prefix(b))
          .exists(g => df(g) <= d0)
        assert(sharedCold || (residual(a) && residual(b)),
          s"coverage failed: a=$a b=$b d0=$d0")
      }
    }
  }

  test("forced shuffle-verify path emits the exact broadcast-path " +
      "output (pairs AND jaccard values) for ngram and minhash") {
    def rows(df: org.apache.spark.sql.DataFrame): Seq[(Long, Long, Double)] =
      df.collect().map(x => (x.getLong(0), x.getLong(1), x.getDouble(2)))
        .toSeq.sorted
    val ngramBc = rows(Dedup.ngramJaccard(docs, threshold = 0.5)
      .select("id_a", "id_b", "jaccard"))
    val mhBc = rows(Dedup.minhashLsh(docs, threshold = 0.5)
      .select("id_a", "id_b", "jaccard"))
    spark.conf.set("spark.graft.forceShuffleVerify", "true")
    try {
      // text-carrying verify join (ngram) and gram-array verify join
      // (minhash) — both must be value-identical to the broadcast path
      assert(rows(Dedup.ngramJaccard(docs, threshold = 0.5)
        .select("id_a", "id_b", "jaccard")) === ngramBc)
      assert(rows(Dedup.minhashLsh(docs, threshold = 0.5)
        .select("id_a", "id_b", "jaccard")) === mhBc)
    } finally spark.conf.set("spark.graft.forceShuffleVerify", "false")
    assert(ngramBc.nonEmpty && mhBc.nonEmpty)
  }

  test("ngram jaccard df-ceiling: when cap-halving cannot fit the " +
      "budget, hot gram bands drop but rare-gram pairs survive") {
    // 300 degenerate docs (every gram ~300 deep — cap-halving alone
    // cannot fit a 2000-pair budget) plus one planted pair of docs
    // made of DISTINCT rare text whose shared grams post exactly 2
    // deep: the rarest-first df-ceiling must keep the rare band (and
    // with it the true pair) while dropping the hot bands that carry
    // the degenerate mass
    val degenerate = (1L to 300L).map(i =>
      (i, s"the quick brown fox jumps over the lazy dog near the " +
        s"old barn by the river variant $i"))
    val planted = Seq(
      (901L, "zyxwvu tsrqpo nmlkji hgfedc xylophone quartz jigsaw"),
      (902L, "zyxwvu tsrqpo nmlkji hgfedc xylophone quartz jigsaw"))
    val corpus = (degenerate ++ planted).toDF("doc_id", "text")
    val r = Dedup.ngramJaccard(corpus, threshold = 0.5,
      pairBudget = 2000L)
      .select("id_a", "id_b").collect()
      .map(x => (x.getLong(0), x.getLong(1))).toSet
    assert(r.contains((901L, 902L)))
    // the degenerate mass was actually dropped: the 300 degenerate
    // docs are pairwise ≥0.5-similar (a ~300·299/2 ≈ 45k-pair clique
    // unguarded), and the ceiling must cut that by an order of
    // magnitude to honor the 2000-candidate budget
    assert(r.size < 5000)
  }

  test("incremental epoch merge emits exactly the increment's pairs") {
    // treat doc 5 as "today's increment": the merge must find 5's
    // pairs against the old corpus and emit NO old×old pair
    val full = Dedup.minhashLsh(docs, threshold = 0.5)
      .select("id_a", "id_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val inc = Dedup.minhashLshIncrement(docs, col("doc_id") === 5L,
        threshold = 0.5)
      .select("id_a", "id_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(inc === full.filter { case (a, b) => a == 5L || b == 5L })
    assert(inc.nonEmpty)
    // an increment of nothing emits nothing
    assert(Dedup.minhashLshIncrement(docs, lit(false), threshold = 0.5)
      .count() === 0L)
  }

  test("increment hot-bucket cap never evicts the increment: new " +
      "members survive even when their ids are the bucket's largest") {
    // 12 identical old docs (ids 1..12) + 1 identical NEW doc with the
    // LARGEST id — every posting lands in the same buckets. With
    // maxBucket=10 a min-id cap would keep only old ids and emit no
    // pair for the increment; the asymmetric cap keeps the new
    // posting (pri 0) plus the smallest old ids.
    val same = "alpha beta gamma delta epsilon zeta eta theta"
    val hot = ((1L to 12L).map(i => (i, same)) :+ (100L, same))
      .toDF("doc_id", "text")
    val pairs = Dedup.minhashLshIncrement(hot, col("doc_id") === 100L,
        threshold = 0.8, maxBucket = 10)
      .select("id_a", "id_b").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(pairs.nonEmpty, "increment's near-dups were cap-evicted")
    assert(pairs.forall { case (a, b) => a == 100L || b == 100L })
    assert(pairs.length == 9, s"expected 9 kept-old partners: $pairs")
  }

  test("verifyJaccard: one row per candidate pair — shingle-less and " +
      "absent docs score as empty sets, never vanish") {
    val d = Seq(
      (1L, "the quick brown fox jumps over it"),
      (2L, "the quick brown fox jumps over it"),
      (3L, ""),                       // no shingles
      (4L, "")).toDF("doc_id", "text")
    val cand = Seq((1L, 2L), (1L, 3L), (3L, 4L), (1L, 99L))
      .toDF("id_a", "id_b")           // 99 absent from docs entirely
    val r = Dedup.verifyJaccard(d, cand, shingleK = 3)
      .collect().map(x => (x.getLong(0), x.getLong(1)) -> x.getDouble(2))
      .toMap
    assert(r.size == 4, s"row parity broken: $r")
    assert(r((1L, 2L)) == 1.0)
    assert(r((1L, 3L)) == 0.0)   // empty vs non-empty
    assert(r((3L, 4L)) == 1.0)   // two empty docs are identical
    assert(r((1L, 99L)) == 0.0)  // absent doc = empty set
  }

  test("persisted index merge ≡ re-derive-everything increment; " +
      "index side is shuffle-free") {
    val isNew = col("doc_id") % 2 === 1 // new {1,3,5} / old {2,4}
    Dedup.writeMinhashIndex(docs.filter(!isNew), "spec_mhidx")
    val merged = Dedup.minhashIndexMerge(docs.filter(isNew), "spec_mhidx")
      .select("id_a", "id_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val expect = Dedup.minhashLshIncrement(docs, isNew)
      .select("id_a", "id_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(merged === expect)
    assert(merged.nonEmpty) // near-dup pairs cross the old/new split
    // the bucketed postings layout satisfies the bucket aggregation's
    // clustering by itself — the exchange was paid at write time
    val idxAgg = spark.table("spec_mhidx_postings")
      .groupBy("bk").agg(count(lit(1)).as("n"))
    assert(!graft.sources.Layout.hasShuffle(idxAgg),
      "index-side aggregation should not shuffle")
  }

  test("appended index across epochs ≡ fresh full index") {
    // epoch 0: {2, 4} indexed; epoch 1: {1} appended; epoch 2: {3, 5}
    // merged — the merge must see 1's signatures through the APPEND
    val e0 = col("doc_id").isin(2L, 4L)
    val e1 = col("doc_id") === 1L
    val e2 = col("doc_id").isin(3L, 5L)
    Dedup.writeMinhashIndex(docs.filter(e0), "spec_mhidx_ep")
    Dedup.appendToMinhashIndex(docs.filter(e1), "spec_mhidx_ep")
    val merged = Dedup.minhashIndexMerge(docs.filter(e2), "spec_mhidx_ep")
      .select("id_a", "id_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val expect = Dedup.minhashLshIncrement(docs, e2)
      .select("id_a", "id_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(merged === expect)
    // 1↔3 and 1↔5 cross the appended epoch: only visible if the
    // append really landed in the index
    assert(merged.contains((1L, 3L)) && merged.contains((1L, 5L)))
  }

  test("connected components collapse chains to the component minimum") {
    val chainDocs = (1L to 6L).map(i => (i, s"doc $i")).toDF("doc_id", "text")
    // path 1-2-3-4 plus isolated 5, 6: one-round star contraction maps
    // 4 → 3, the closure must map the whole path to 1
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L)).toDF("id_a", "id_b")
    val cc = Dedup.connectedComponents(chainDocs, pairs)
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getBoolean(1),
        if (r.isNullAt(2)) -1L else r.getLong(2))).toSeq
    assert(cc === Seq((1L, true, -1L), (2L, false, 1L), (3L, false, 1L),
      (4L, false, 1L), (5L, true, -1L), (6L, true, -1L)))
    // the one-round approximation demonstrably differs on the chain end
    val oneRound = Dedup.decisionsFromPairs(chainDocs, pairs)
      .filter(col("doc_id") === 4L).collect()(0).getLong(2)
    assert(oneRound === 3L)
  }

  test("connected components: non-convergence throws, never returns " +
      "partial labels") {
    val chainDocs = (1L to 6L).map(i => (i, s"doc $i")).toDF("doc_id", "text")
    // a 6-path needs several propagation rounds; maxIter = 1 cannot
    // reach the fixpoint and must signal, not silently hand back
    // labels that violate the min-id-in-component contract
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (5L, 6L))
      .toDF("id_a", "id_b")
    val e = intercept[IllegalStateException] {
      Dedup.connectedComponents(chainDocs, pairs, maxIter = 1)
    }
    assert(e.getMessage.contains("did not converge"))
  }

  test("connected components: a chain whose diameter EQUALS maxIter " +
      "converges (the confirming round is not charged to the budget)") {
    val chainDocs = (1L to 6L).map(i => (i, s"doc $i")).toDF("doc_id", "text")
    // 6-node path: label 1 reaches node 6 after exactly 5 changing
    // rounds... but min-label flows BOTH ways each round, so the true
    // requirement is diameter/2-ish; pin the boundary empirically:
    // maxIter = 5 must succeed and produce the full collapse
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (5L, 6L))
      .toDF("id_a", "id_b")
    val cc = Dedup.connectedComponents(chainDocs, pairs, maxIter = 5)
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getBoolean(1)))
    assert(cc === (1L to 6L).map(i => (i, i == 1L)))
  }

  test("pair list → per-doc keep/drop decisions") {
    import spark.implicits._
    val pairs = Seq((1L, 2L), (1L, 3L)).toDF("id_a", "id_b")
    val r = Dedup.decisionsFromPairs(docs, pairs)
      .orderBy("doc_id").collect()
    assert(r.map(_.getBoolean(1)).toSeq ===
      Seq(true, false, false, true, true)) // 2,3 dup of 1; 4,5 kept
    assert(r(1).getLong(2) === 1L && r(2).getLong(2) === 1L)
  }

  test("embedding near-dup flags only above-threshold neighbors") {
    val vecs = Seq(
      (1L, Array(1f, 0f, 0f, 0f)),
      (2L, Array(0.999f, 0.04f, 0f, 0f)), // near-dup of 1
      (3L, Array(0f, 1f, 0f, 0f)))
      .toDF("vec_id", "embedding")
    val r = Dedup.embeddingNearDup(vecs, threshold = 0.95)
      .collect().map(x => x.getLong(0) ->
        (x.getLong(1), x.getBoolean(3))).toMap
    assert(r(1L)._1 === 2L && r(1L)._2)
    assert(r(2L)._1 === 1L && r(2L)._2)
    if (r.contains(3L)) assert(!r(3L)._2)
  }

  test("sorted-neighborhood: sort-adjacent near-dups pair, far texts " +
      "and out-of-window neighbors don't") {
    import spark.implicits._
    val base = "shared long prefix about distributed query engines " +
      "and catalyst optimizer rules in production pipelines"
    val docs = Seq(
      (1L, base + " alpha"),
      (2L, base + " alpha"),            // exact dup of 1 — adjacent
      (3L, base + " beta variant"),     // near-dup, 2 steps away at most
      (4L, "completely unrelated short text about gardens"),
      // same 4-char block as 1-3 ("shar") but far jaccard
      (5L, "shared nothing architecture discussion of other matters " +
        "entirely different content body"))
      .toDF("doc_id", "text")
    val pairs = Dedup.sortedNeighborhoodPairs(docs,
        n = 8, threshold = 0.7, windowSize = 4, blockChars = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((1L, 2L)))
    assert(pairs.contains((1L, 3L)) || pairs.contains((2L, 3L)))
    assert(!pairs.exists(p => p._1 == 4L || p._2 == 4L))
    assert(!pairs.exists(p => p._1 == 5L || p._2 == 5L))
    // finalizePairs materializes eagerly — the returned frame is a
    // constant-size checkpoint scan like the other pair operators
    val plan = Dedup.sortedNeighborhoodPairs(docs)
      .queryExecution.executedPlan.toString
    assert(plan.contains("ExistingRDD"), plan)
  }

  test("forget re-elects representatives: kept-rep deletion, whole-" +
      "class deletion, null verdicts — against a from-scratch re-run") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    // class A = {1,2,3} (dup text), class B = {4,5}, singleton {6};
    // the GATE corpus has no exact duplicates, so this spec is the
    // real exercise of the re-election path
    val docs = Seq(
      (1L, "same text one"), (2L, "same text one"), (3L, "same text one"),
      (4L, "same text two"), (5L, "same text two"),
      (6L, "unique text")).toDF("doc_id", "text")
    val decisions = Dedup.exact(docs)
    def run(deleted: org.apache.spark.sql.Column) =
      Dedup.forget(decisions, deleted).orderBy("doc_id").collect()
        .map(r => (r.getLong(0), r.getBoolean(1),
          if (r.isNullAt(2)) -1L else r.getLong(2))).toSeq
    def rerun(deleted: org.apache.spark.sql.Column) =
      Dedup.exact(docs.filter(!deleted)).orderBy("doc_id").collect()
        .map(r => (r.getLong(0), r.getBoolean(2),
          if (r.isNullAt(3)) -1L else r.getLong(3))).toSeq
    // 1) delete class A's kept rep (1): 2 must be re-elected, 3 -> 2
    val d1 = col("doc_id") === 1L
    assert(run(d1) === rerun(d1))
    assert(run(d1).contains((2L, true, -1L)) &&
      run(d1).contains((3L, false, 2L)))
    // 2) delete ALL of class B: it vanishes entirely
    val d2 = col("doc_id").isin(4L, 5L)
    assert(run(d2) === rerun(d2))
    assert(!run(d2).exists(r => r._1 == 4L || r._1 == 5L))
    // 3) null verdict = not deleted (predicate over a nullable value)
    val d3 = when(col("doc_id") === 1L, lit(true))
      .otherwise(lit(null).cast("boolean"))
    assert(run(d3).map(_._1) === Seq(2L, 3L, 4L, 5L, 6L))
  }

  test("pairCheckWidth: a candidate mass past 2^51 pair checks runs at " +
      "the session width, not 1") {
    val cap = spark.sessionState.conf.numShufflePartitions
    for (est <- Seq(2.26e15, 1e18, Double.MaxValue)) {
      val w = graft.operators.Iterate.staticWidth(spark,
          Dedup.pairCheckWidth(est)) { sc =>
        sc.sessionState.conf.numShufflePartitions
      }
      assert(w === cap, s"estPairs=$est")
    }
    assert(Dedup.pairCheckWidth(0) === 1)
    assert(Dedup.pairCheckWidth(3.0 * (1 << 20)) === 4)
  }
}
