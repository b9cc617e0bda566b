package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.operators.Association

/** Association mining: the distributed frequent-pair/rule derivation
  * must agree with a brute-force sequential reference, honor the
  * A-Priori support thresholds, and count presence (not multiplicity). */
class AssociationSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def referenceRules(baskets: Seq[(Long, Long)], itemMin: Long,
      pairMin: Long): Set[(Long, Long, Long, Long, Long, Long, Long)] = {
    val b = baskets.distinct
    val n = b.map(_._1).distinct.size.toLong
    val itemN = b.groupBy(_._2).view.mapValues(_.size.toLong).toMap
    val byBasket = b.groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val pairN = byBasket.values.toSeq
      .flatMap(items => items.toSeq.sorted.combinations(2))
      .groupBy(identity).view.mapValues(_.size.toLong).toMap
    (for {
      (Seq(a, c), pn) <- pairN.toSeq
      if pn >= pairMin && itemN(a) >= itemMin && itemN(c) >= itemMin
      (ant, cons) <- Seq((a, c), (c, a))
    } yield (ant, cons, pn, itemN(ant), itemN(cons),
      pn * 1000000L / itemN(ant),
      pn * n * 1000000L / (itemN(ant) * itemN(cons)))).toSet
  }

  private def run(baskets: Seq[(Long, Long)], itemMin: Long, pairMin: Long)
      : Set[(Long, Long, Long, Long, Long, Long, Long)] = {
    val df = baskets.toDF("bk", "item")
    val pairs = Association.frequentPairs(df, "bk", "item", itemMin, pairMin)
    val nb = df.select("bk").distinct().agg(count(lit(1)).as("n_baskets"))
    Association.rules(pairs, nb)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getLong(6)))
      .toSet
  }

  test("rules match the brute-force reference on a mixed corpus") {
    // 6 baskets over 5 items with a strong {1,2} pair, a weaker {1,3},
    // and a singleton item 5 that must be pruned at item stage
    val baskets = Seq[(Long, Long)](
      (10, 1), (10, 2), (10, 3),
      (11, 1), (11, 2),
      (12, 1), (12, 2), (12, 4),
      (13, 1), (13, 3),
      (14, 2), (14, 4),
      (15, 5))
    val got = run(baskets, itemMin = 2, pairMin = 2)
    val want = referenceRules(baskets, 2, 2)
    assert(got == want)
    // sanity: the strong pair is present in both orientations
    assert(got.exists(r => r._1 == 1 && r._2 == 2 && r._3 == 3))
    assert(got.exists(r => r._1 == 2 && r._2 == 1 && r._3 == 3))
  }

  test("duplicate (basket, item) rows count presence, not multiplicity") {
    val dup = Seq[(Long, Long)]((1, 7), (1, 7), (1, 8), (2, 7), (2, 8))
    val got = run(dup, itemMin = 1, pairMin = 1)
    assert(got == referenceRules(dup, 1, 1))
    // pair {7,8} occurs in both baskets exactly once each
    assert(got.exists(r => r._1 == 7 && r._2 == 8 && r._3 == 2))
  }

  test("downward closure: no rule involves an infrequent item") {
    val baskets = (1L to 20L).flatMap(bk => Seq((bk, 1L), (bk, 2L))) ++
      Seq((1L, 99L), (2L, 99L)) // 99 co-occurs but is under itemMin=5
    val got = run(baskets, itemMin = 5, pairMin = 2)
    assert(got.nonEmpty)
    assert(!got.exists(r => r._1 == 99L || r._2 == 99L))
  }

  test("fused pipeline (basket fold + broadcast prune + generator) " +
      "equals the classic self-join path on every threshold combo") {
    val baskets: Seq[(Long, Long)] =
      Seq[(Long, Long)]((1, 1), (1, 2), (1, 3), (2, 1), (2, 2), (3, 1),
        (3, 3), (4, 4), (4, 4), (5, 1), (5, 2), (5, 3), (6, 9)) ++
        (10L to 30L).map(bk => (bk, bk % 4))
    val df = baskets.toDF("bk", "item")
    for ((im, pm) <- Seq((1L, 1L), (2L, 2L), (5L, 2L))) {
      val classic = Association.frequentPairs(df, "bk", "item", im, pm)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
          r.getLong(3), r.getLong(4))).toSet
      val fused = Association.frequentPairsFused(
        Association.basketSets(df, "bk", "item"), im, pm)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
          r.getLong(3), r.getLong(4))).toSet
      assert(fused === classic, s"itemMin=$im pairMin=$pm")
    }
  }

  test("keyspace-bounded pair aggregate (sparse pair space + mass " +
      "past the budget → repartition by pair key first) is " +
      "value-identical and actually re-plans") {
    // wide catalog, each item supported >= 2, pairs mostly unique —
    // the SPARSE regime where map-side combine is waste
    val baskets: Seq[(Long, Long)] =
      (1L to 100L).flatMap(bk =>
        Seq((bk, bk % 100), (bk, (bk + 1) % 100), (bk, (2 * bk) % 100)))
    val df = baskets.toDF("bk", "item")
    val sets = Association.basketSets(df, "bk", "item")
    val default = Association.frequentPairsFused(sets, 2L, 1L)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4))).toSet
    // any real mass exceeds 1 row/task
    val bounded = Association.frequentPairsFused(sets, 2L, 1L,
      pairAggTargetRows = 1)
    val plan = bounded.queryExecution.executedPlan.toString
    // the engaged path shuffles RAW pair rows into hash(a_item,
    // b_item) partitions BEFORE any aggregate runs on them
    assert(plan.contains("hashpartitioning(a_item"),
      s"expected an explicit pair-key repartition:\n$plan")
    val got = bounded.collect().map(r => (r.getLong(0), r.getLong(1),
      r.getLong(2), r.getLong(3), r.getLong(4))).toSet
    assert(got === default,
      "bounded-keyspace plan must not change the pair counts")
  }

  test("reliable-checkpoint mode: both association regimes emit " +
      "identical results (the one-shot materializations honor the seam)") {
    // the basketRelation / basketSets / frequentPairsFrom`f` / itemN
    // materializations route through Iterate.materialize — under the
    // cluster opt-in they become reliable checkpoints; values must not
    // move
    val baskets: Seq[(Long, Long)] =
      Seq[(Long, Long)]((1, 1), (1, 2), (1, 3), (2, 1), (2, 2), (3, 1),
        (3, 3), (5, 1), (5, 2), (5, 3)) ++
        (10L to 30L).map(bk => (bk, bk % 4))
    val df = baskets.toDF("bk", "item")
    def both(): (Set[Any], Set[Any]) = (
      Association.frequentPairs(df, "bk", "item", 2, 2)
        .collect().map(r => r.toSeq: Any).toSet,
      Association.frequentPairsFused(
        Association.basketSets(df, "bk", "item"), 2, 2)
        .collect().map(r => r.toSeq: Any).toSet)
    val local = both()
    val dir = java.nio.file.Files
      .createTempDirectory("graft-ckpt-assoc").toString
    spark.sparkContext.setCheckpointDir(dir)
    spark.conf.set(graft.operators.Iterate.ReliableKey, "true")
    try {
      assert(both() === local)
    } finally {
      spark.conf.set(graft.operators.Iterate.ReliableKey, "false")
    }
    assert(local._1.nonEmpty && local._1 === local._2)
  }

  test("lift is symmetric, confidence is not") {
    val baskets = Seq[(Long, Long)](
      (1, 1), (1, 2), (2, 1), (2, 2), (3, 1), (4, 1), (5, 3))
    val got = run(baskets, itemMin = 1, pairMin = 1)
    val fwd = got.find(r => r._1 == 1 && r._2 == 2).get
    val bwd = got.find(r => r._1 == 2 && r._2 == 1).get
    assert(fwd._7 == bwd._7)      // lift
    assert(fwd._6 != bwd._6)      // conf: 2/4 vs 2/2
    assert(fwd._6 == 500000L && bwd._6 == 1000000L)
  }
}
