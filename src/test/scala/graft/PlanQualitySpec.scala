package graft

import org.scalatest.funsuite.AnyFunSuite

/** Physical-plan shape assertions for the headline queries — the scale
  * contract, pinned: filters reach the parquet reader, projections
  * prune the read schema, partial aggregation runs map-side, fixed-size
  * dims broadcast, top-k avoids a global sort. A refactor that silently
  * regresses any of these still passes row-level correctness; this spec
  * is what catches it. */
class PlanQualitySpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val sfDir = TestSpark.sfDir

  private def plan(name: String): String =
    SparkEntry.queries(name)(spark, sfDir)
      .queryExecution.executedPlan.toString

  test("scan_leaf: predicate and projection reach the parquet scan") {
    val p = plan("scan_leaf")
    assert(p.contains("PushedFilters: ["),
      "no pushed filters in scan")
    assert(p.contains("GreaterThan(l_quantity"),
      s"quantity filter not pushed:\n$p")
    // projection pruning: unreferenced wide columns never read
    assert(!p.contains("l_comment") && !p.contains("l_shipinstruct"),
      "scan reads pruned columns")
  }

  test("q6: every filter pushed, aggregate runs partial then final") {
    val p = plan("q6_forecast_revenue")
    assert(p.contains("PushedFilters"))
    assert(p.contains("GreaterThanOrEqual(l_shipdate") ||
      p.contains("IsNotNull(l_shipdate)"), s"shipdate not pushed:\n$p")
    assert(p.contains("partial_"), "no map-side partial aggregation")
  }

  test("agg_q1: map-side partial aggregation before the exchange") {
    val p = plan("agg_q1")
    assert(p.contains("partial_sum") || p.contains("partial_"),
      s"no partial agg:\n$p")
  }

  test("join_multiway: fixed-size dimension broadcasts") {
    assert(plan("join_multiway").contains("BroadcastHashJoin"))
  }

  test("sort_limit_topk: per-partition heaps, no global sort") {
    val p = plan("sort_limit_topk")
    assert(p.contains("TakeOrderedAndProject"), s"top-k plan:\n$p")
  }

  test("q14: join with part keeps only the 2 needed part columns") {
    val p = plan("q14_promo_revenue")
    assert(p.contains("ReadSchema"))
    assert(!p.contains("p_comment") && !p.contains("p_retailprice"),
      "part scan reads pruned columns")
  }

  test("q8: selective predicates pushed, dims broadcast, no loop join") {
    val p = plan("q8_market_share")
    assert(p.contains("EqualTo(p_type,ECONOMY)"),
      s"p_type filter not pushed:\n$p")
    assert(p.contains("BroadcastHashJoin"), "dims do not broadcast")
    assert(!p.contains("BroadcastNestedLoopJoin") &&
      !p.contains("CartesianProduct"), "degenerate join in Q8")
  }

  test("bloom_prefilter_join: bloom predicate filters the fact scan " +
      "stage before any exchange") {
    val p = plan("bloom_prefilter_join")
    // the custom predicate must appear as a Filter over the lineitem
    // scan (same stage — no exchange between them), not after a join
    val iFilter = p.indexOf("bloommightcontain(l_suppkey")
    assert(iFilter >= 0, s"no bloom predicate on the fact side:\n$p")
    val iExchange = p.indexOf("Exchange")
    assert(iExchange < 0 || iFilter > iExchange,
      "bloom filter should sit below every exchange in the plan tree " +
        s"(tree prints top-down):\n$p")
    val scanAfter = p.indexOf("Scan parquet", iFilter)
    assert(scanAfter >= 0 && p.substring(iFilter, scanAfter)
      .linesIterator.size <= 6,
      s"bloom filter not adjacent to the fact scan:\n$p")
  }

  test("q9: part LIKE filter pushed into the parquet scan, dimension " +
      "sides broadcast over a single fact scan") {
    val p = plan("q9_product_profit")
    assert(p.contains("StringContains(p_name,red)"),
      s"p_name LIKE should reach PushedFilters:\n$p")
    assert(p.sliding("BroadcastHashJoin".length)
      .count(_ == "BroadcastHashJoin") >= 4,
      s"dimensions should broadcast:\n$p")
  }

  test("q2: correlated min-subquery decorrelates to ONE grouped " +
      "aggregate — no nested loop, no per-outer-row re-execution") {
    val p = plan("q2_min_cost_supplier")
    assert(!p.contains("BroadcastNestedLoopJoin") &&
      !p.contains("CartesianProduct"),
      s"correlated subquery fell back to a loop join:\n$p")
    assert(p.contains("partial_min(cast(round"),
      s"regional min should plan as a grouped aggregate:\n$p")
  }

  test("q20: nested IN chain plans as semi joins, no nested loop") {
    val p = plan("q20_promotion_suppliers")
    assert(p.sliding("LeftSemi".length).count(_ == "LeftSemi") >= 2,
      s"IN subqueries should plan as semi joins:\n$p")
    assert(!p.contains("BroadcastNestedLoopJoin") &&
      !p.contains("CartesianProduct"), s"nested loop in Q20:\n$p")
  }

  test("decontam_ngram: eval gram set broadcasts — the training scan " +
      "never shuffles to discover hits") {
    val p = plan("decontam_ngram")
    assert(p.contains("BroadcastHashJoin"),
      s"eval gram set should broadcast:\n$p")
    assert(!p.contains("BroadcastNestedLoopJoin") &&
      !p.contains("CartesianProduct"), s"degenerate join:\n$p")
  }

  test("decontam_ngram_bc: the broadcast-expression regime has no " +
      "join and no exchange but the output sort") {
    val p = plan("decontam_ngram_bc")
    assert(!p.contains("Join"), s"broadcast regime should not join:\n$p")
    val exchanges = p.sliding("Exchange".length).count(_ == "Exchange")
    assert(exchanges <= 1, s"only the sort may exchange:\n$p")
  }

  test("cluster_kmeans: assignment is shuffle-free — the only " +
      "exchange is the output sort") {
    val p = plan("cluster_kmeans")
    val exchanges = p.sliding("Exchange".length)
      .count(_ == "Exchange")
    assert(exchanges <= 1, s"assignment should not shuffle:\n$p")
    assert(!p.contains("Join"), s"assignment should not join:\n$p")
  }

  test("search_bm25: corpus stats and df broadcast, top-k avoids a " +
      "global sort") {
    val p = plan("search_bm25")
    assert(p.contains("TakeOrderedAndProject"),
      s"top-k should plan per-partition heaps:\n$p")
    assert(p.contains("BroadcastHashJoin") ||
      p.contains("BroadcastNestedLoopJoin"),
      s"1-row stats / tiny df should broadcast:\n$p")
  }

  test("sim_topk_ivf_indexed: probe scan is dynamically pruned to " +
      "the probed inverted-list partitions") {
    val p = plan("sim_topk_ivf_indexed")
    assert(p.contains("dynamicpruning"),
      s"index scan not partition-pruned:\n$p")
  }

  test("stream_heavy_hitters: epoch-close rescore is a broadcast " +
      "semi-join against the candidate table, not an N-literal In") {
    val p = plan("stream_heavy_hitters")
    assert(p.contains("BroadcastHashJoin") && p.contains("LeftSemi"),
      s"rescore should broadcast-semi-join the candidates:\n$p")
    // a literal-list filter would print as `tok#… IN (…)` / INSET —
    // its expression tree grows with the candidate count
    assert(!p.contains(" IN (") && !p.toLowerCase.contains("inset"),
      s"rescore still filters by literal candidate list:\n$p")
  }

  test("pack_sequences: one shard hash exchange feeds the window; " +
      "token counting stays in the scan stage") {
    val p = plan("pack_sequences")
    // exactly two exchanges: hashpartitioning(shard) for the window
    // and the rangepartitioning presentation sort — a global-sort
    // formulation would hash nothing and range-exchange the corpus
    assert("hashpartitioning\\(shard".r.findAllIn(p).size === 1,
      s"expected exactly one shard hash exchange:\n$p")
    assert("Exchange".r.findAllIn(p).size === 2,
      s"expected shard exchange + presentation sort only:\n$p")
    // only the manifest columns shuffle — text dies at the scan stage
    assert(exchangeInputs("pack_sequences").forall(!_.contains("text#")),
      s"text column crossed an exchange:\n$p")
  }

  /** The `Input [n]: [...]` column lists of every Exchange node in the
    * formatted plan — exactly the rows that cross each shuffle. */
  private def exchangeInputs(name: String): Seq[String] = {
    val fmt = SparkEntry.queries(name)(spark, sfDir)
      .queryExecution.explainString(
        org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    val lines = fmt.linesIterator.toSeq
    lines.zipWithIndex.collect {
      case (l, i) if l.matches("""\(\d+\) Exchange.*""") =>
        lines.drop(i + 1).find(_.startsWith("Input")).getOrElse("")
    }
  }

  test("scd2_event_runs: the whole dimension build reuses ONE " +
      "user-partitioned exchange") {
    val p = plan("scd2_event_runs")
    assert("hashpartitioning\\(user_id".r.findAllIn(p).size === 1,
      s"expected one user_id hash exchange (windows + groupBy + " +
        s"chaining must share it):\n$p")
  }

  test("curation_domain_cap: host + quality derived in the scan " +
      "stage, one host-partitioned window exchange") {
    val p = plan("curation_domain_cap")
    assert("hashpartitioning\\(host".r.findAllIn(p).size === 1,
      s"expected one host window exchange:\n$p")
    assert(exchangeInputs("curation_domain_cap")
      .forall(!_.contains("text#")),
      s"text column crossed an exchange:\n$p")
  }

  test("curation_url_dedup: url synthesis + canonicalization in the " +
      "scan stage, one canonical-key window exchange, text never read") {
    val p = plan("curation_url_dedup")
    assert("hashpartitioning\\(canonical".r.findAllIn(p).size === 1,
      s"expected one canonical window exchange:\n$p")
    // the documents scan must prune everything but doc_id — the wide
    // text column is not referenced anywhere in this query
    assert(!p.contains("text#"), s"text column read by the scan:\n$p")
  }

  test("multimodal_audio: decode + feature extraction shuffle-free — " +
      "the only exchange is the presentation sort") {
    val p = plan("multimodal_audio")
    assert("Exchange".r.findAllIn(p).size === 1,
      s"expected exactly one exchange (order-by range partition):\n$p")
    assert(p.contains("rangepartitioning"),
      s"the single exchange should be the presentation sort:\n$p")
  }

  test("window_rank: rank<=k filter becomes a WindowGroupLimit " +
      "(per-partition top-k heaps BEFORE the window exchange — the " +
      "group-limit optimization, not a full sort-then-filter)") {
    val p = plan("window_rank")
    assert(p.contains("WindowGroupLimit"),
      s"rank filter not planned as a group limit:\n$p")
    // both the partial (pre-shuffle) and final sides should appear
    assert(p.indexOf("WindowGroupLimit") != p.lastIndexOf("WindowGroupLimit"),
      s"expected partial+final group limits:\n$p")
  }

  test("geo_radius_join: candidate generation is a hash equi-join on " +
      "cell keys — no nested-loop join anywhere in the plan") {
    val p = plan("geo_radius_join")
    assert(!p.contains("NestedLoop") && !p.contains("CartesianProduct"),
      s"spatial join fell back to a nested loop:\n$p")
    assert(p.contains("HashJoin"), s"no hash join in spatial plan:\n$p")
  }

  test("pareto_skyline: the skew-gated decomposed plan keeps every " +
      "candidate window bucket-partitioned") {
    // The skew gate picks the plan shape from the MEASURED candidate
    // bound: small frontier → classic single-order sweep (safe because
    // the one-partition set is proven ≤ singleSweepMax); large →
    // decomposed. Pin the DECOMPOSED shape — the plan that must hold
    // when an adversarial all-frontier corpus pushes the bound high —
    // by forcing the gate with singleSweepMax=0 on the same input the
    // headline query uses.
    import org.apache.spark.sql.functions.{col, round}
    val part = graft.sources.Tables.load(spark, sfDir, "part")
      .select(col("p_partkey"),
        round(col("p_retailprice") * 100).cast("long").as("price_cents"),
        col("p_size").cast("long").as("size"))
    val p = graft.operators.Skyline
      .skyline2d(part, "price_cents", "size", singleSweepMax = 0)
      .queryExecution.executedPlan.toString
    // the prefix frame is broadcast, never shuffled wide
    assert(p.contains("BroadcastExchange"),
      s"prefix frame should broadcast:\n$p")
    // every window over candidate rows must be PARTITIONED (by bucket).
    // An all-frontier adversarial corpus otherwise lands every row in
    // one partition.
    val unpartitioned = p.split("\n")
      .filter(_.contains("windowspecdefinition"))
      .filterNot(_.contains("], [_bkt"))
    assert(unpartitioned.isEmpty,
      s"unpartitioned window over candidate rows:\n" +
        unpartitioned.mkString("\n"))
    // and the strict-sweep window itself exists, bucket-partitioned
    // (no contains() fallback — a disjunct on 'AS _lpfx' alone would
    // let an unpartitioned sweep pass this half of the pin)
    assert("AS _lpfx\\S*\\], \\[_bkt".r.findFirstIn(p).isDefined,
      s"missing bucket-partitioned sweep window:\n$p")
    // the headline query itself (default gate) still broadcasts its
    // prefix frame; its sweep shape is data-dependent by design
    val ph = plan("pareto_skyline")
    assert(ph.contains("BroadcastExchange"),
      s"headline prefix frame should broadcast:\n$ph")
  }

  test("frag_transparency_agg: fragments are separate directories — " +
      "one pruned scan per site, never 4 re-reads of one orders file") {
    val p = plan("frag_transparency_agg")
    // every horizontal-fragment scan reads its own site directory...
    val siteScans = "__graft_site=(\\d)".r.findAllMatchIn(p)
      .map(_.group(1)).toSet
    assert(siteScans == Set("0", "1", "2", "3"),
      s"expected 4 distinct fragment-directory scans, got $siteScans:\n$p")
    // ...and the shared base file is NOT scanned once per fragment —
    // the old filter-view layout paid 4x the orders I/O per query
    assert(!p.contains("orders.parquet"),
      s"fragment view still re-reads the base orders file:\n$p")
  }

  test("layout_partitioned: the year predicate is a PLANNING-TIME " +
      "partition filter — non-matching directories are never listed") {
    val p = plan("layout_partitioned")
    // o_year must appear INSIDE the PartitionFilters bracket — the
    // scan prints 'PartitionFilters: []' even when nothing pruned, so
    // substring presence alone cannot fail
    assert("PartitionFilters: \\[[^\\]]*o_year".r
      .findFirstIn(p).isDefined,
      s"year predicate did not become a partition filter:\n$p")
  }

  test("search_bm25_indexed: the term filter prunes the bucketed " +
      "postings scan to the query terms' buckets") {
    val p = plan("search_bm25_indexed")
    assert(p.contains("SelectedBucketsCount"),
      s"postings scan not bucket-pruned:\n$p")
    val m = "SelectedBucketsCount: (\\d+) out of (\\d+)".r
      .findFirstMatchIn(p)
    assert(m.exists(g => g.group(1).toInt < g.group(2).toInt),
      s"bucket pruning selected everything:\n$p")
  }

  test("search_hybrid_rrf: fusion never shuffles corpus-sized data — " +
      "the retrievers end in bounded top-k, the fused window is " +
      "single-partition by construction") {
    val p = plan("search_hybrid_rrf")
    // both retriever top-k shapes present: BM25's TakeOrdered and the
    // vector side's per-query rank filter
    assert(p.contains("TakeOrderedAndProject"),
      s"lexical top-k lost its heap plan:\n$p")
    assert(!p.contains("CartesianProduct"),
      s"fusion produced a cartesian:\n$p")
  }

  test("text_lm_score: counts are map-side partial aggregates, joins " +
      "are size-chosen hash joins (at this SF everything broadcasts; " +
      "at scale the bigram join flips to shuffle by the same " +
      "size-based rule), nothing loops") {
    val p = plan("text_lm_score")
    assert(p.contains("BroadcastHashJoin"),
      s"prefix side should broadcast:\n$p")
    assert(!p.contains("CartesianProduct"),
      s"LM scoring must not cartesian:\n$p")
    // the ONE BroadcastNestedLoopJoin is the 1-row vocabulary frame
    // crossed in — the accepted 1-row-bounds pattern, not a loop over
    // corpus data
    assert(p.sliding("BroadcastNestedLoopJoin".length)
      .count(_ == "BroadcastNestedLoopJoin") <= 1,
      s"unexpected nested loop beyond the 1-row vocab cross:\n$p")
  }

  test("assoc_rules (fused): no self-join — pair generation is a " +
      "generator over the folded basket arrays (inspected before the " +
      "rules() checkpoint barrier), support attaches are broadcast " +
      "joins") {
    val li = graft.sources.Tables.load(spark, sfDir, "lineitem")
      .select(org.apache.spark.sql.functions.col("l_orderkey"),
        org.apache.spark.sql.functions.col("l_partkey"))
    val pairs = graft.operators.Association.frequentPairsFused(
      graft.operators.Association.basketSets(
        li, "l_orderkey", "l_partkey"), 5L, 2L)
    val p = pairs.queryExecution.executedPlan.toString
    assert(p.contains("Generate"),
      s"pair generation should be a Generate over CappedPairs:\n$p")
    assert(p.contains("BroadcastHashJoin"),
      s"support attaches should broadcast:\n$p")
    assert(!p.contains("SortMergeJoin"),
      s"fused path should not contain a corpus self-join:\n$p")
  }

  test("agg_sample_estimate: estimate and exact come from ONE " +
      "conditional aggregate pass — a single scan, partial before " +
      "the exchange") {
    val p = plan("agg_sample_estimate")
    assert(p.contains("partial_"), s"no map-side partials:\n$p")
    // one scan of lineitem only
    assert(p.sliding("lineitem.parquet".length)
      .count(_ == "lineitem.parquet") <= 2,
      s"sample estimate should not rescan:\n$p")
  }

  test("pageRank loop body: the rank join is co-partitioned — the " +
      "pre-bucketed edge frame never re-shuffles, one exchange per " +
      "round (the inflow aggregate)") {
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    // force the at-scale regime: at 100 TB the rank frame is NOT
    // broadcastable, so pin the shuffle-join plan shape
    val saved = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val nodes = (1L to 2000L).toDF("id")
      val edges = (1L to 6000L)
        .map(i => (i % 2000 + 1, (i * 7) % 2000 + 1))
        .toDF("src", "dst")
      val (eDeg, r0) = graft.operators.Graph.prepareRank(
        nodes, edges, 1000L)
      val p = graft.operators.Graph.rankStep(eDeg, r0, 1L)
        .queryExecution.executedPlan.toString
      // prepareRank pins hash(src)/hash(id) layouts with equal
      // partition counts on both join inputs (preserved through the
      // checkpoint), so EnsureRequirements must add NO exchange at
      // the join: the round's single exchange is the skinny
      // (id, contrib) inflow aggregate over the union
      val exchanges = p.split("\n")
        .filter(_.contains("Exchange hashpartitioning"))
      assert(exchanges.length == 1,
        s"expected exactly 1 exchange (inflow aggregate), got " +
          s"${exchanges.length}:\n$p")
      assert(exchanges.head.contains("id"),
        s"the one exchange should partition by id:\n$p")
      // and the big side arrives pre-sorted: no Sort node directly
      // over the edge-frame scan (ordering survives the checkpoint)
      assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin"),
        s"expected a shuffle join in the no-broadcast regime:\n$p")
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", saved)
    }
  }

  test("pageRank broadcast regime: dst confinement is hoisted to prep " +
      "— the round body has NO semi-join, and the rank frame is " +
      "broadcast exactly once per round (the probe)") {
    import spark.implicits._
    val nodes = (1L to 100L).toDF("id")
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 1L), (5L, 99L), (1L, 200L))
      .toDF("src", "dst")
    val (e, r0) = graft.operators.Graph.prepareRankBroadcast(
      nodes, edges, 1000000L)
    // prep confined dst once: the phantom edge (1, 200) is gone from
    // the cached frame, but its out-edge still counted toward node 1's
    // outdeg (the oracle's semantics)
    assert(e.count() == 4, "dst-confined edge frame should drop (1,200)")
    assert(r0.filter(org.apache.spark.sql.functions.col("id") === 1L)
      .select("outdeg")
      .head.getLong(0) == 2L,
      "outdeg must count ALL out-edges incl. phantom-dst targets")
    val p = graft.operators.Graph.rankStepBroadcast(e, r0, 1L)
      .queryExecution.executedPlan.toString
    assert(!p.contains("LeftSemi"),
      s"the per-round dst semi-join should be gone (hoisted to prep):\n$p")
    // the rank frame (3-col scan) broadcasts once — the fold-back may
    // broadcast the skinny inflow aggregate, a different frame
    val rankBuilds = p.split("\n").sliding(2).count(w =>
      w.head.contains("BroadcastExchange") &&
        w.last.contains("outdeg") && w.last.contains("rank"))
    assert(rankBuilds <= 1,
      s"the N-row rank frame must ship at most once per round:\n$p")
  }

  /** Executed plans of the label rounds `body` runs, captured by a
    * listener: a round is a localCheckpoint over a Union (the neighbor
    * rows and the per-node skeleton or current labels); prep
    * materializations have no Union. */
  private def roundPlans(body: => Unit)
      : Seq[org.apache.spark.sql.execution.SparkPlan] = {
    import org.apache.spark.sql.execution.{QueryExecution, SparkPlan,
      UnionExec}
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[SparkPlan]()
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution,
          durationNs: Long): Unit =
        if (funcName == "localCheckpoint" &&
            qe.executedPlan.exists(_.isInstanceOf[UnionExec]))
          plans.add(qe.executedPlan)
      override def onFailure(funcName: String, qe: QueryExecution,
          exception: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      body
      org.apache.spark.sql.graft.bridge.drainListeners(spark.sparkContext)
    } finally spark.listenerManager.unregister(listener)
    plans.toArray(Array.empty[SparkPlan]).toSeq
  }

  /** One broadcast-regime label round: static (no AQE), `exchanges`
    * hash exchanges all `width` wide, and one broadcast hash join whose
    * build side is the label frame (column `label`). */
  private def assertLabelRound(p: org.apache.spark.sql.execution.SparkPlan,
      exchanges: Int, width: Int, label: String): Unit = {
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.execution.exchange.{BroadcastExchangeExec,
      ShuffleExchangeExec}
    import org.apache.spark.sql.execution.joins.BroadcastHashJoinExec
    assert(!p.exists(_.isInstanceOf[AdaptiveSparkPlanExec]),
      s"rounds plan statically:\n$p")
    val shuffles = p.collect { case e: ShuffleExchangeExec => e }
    assert(shuffles.length == exchanges, s"hash exchanges:\n$p")
    assert(shuffles.forall(_.outputPartitioning.numPartitions == width),
      s"static width $width:\n$p")
    val joins = p.collect { case j: BroadcastHashJoinExec => j }
    assert(joins.length == 1, s"one label join per round:\n$p")
    val builds = p.collect { case b: BroadcastExchangeExec => b }
    assert(builds.length == 1 && builds.head.output.exists(_.name == label),
      s"the label frame is the one broadcast build:\n$p")
  }

  test("labelPropagation rounds: static at the edge-derived width, two " +
      "hash exchanges, the label join broadcast") {
    import graft.operators.{Graph, Iterate}
    import Iterate.MaterializeOps
    import spark.implicits._
    val nodes = (1L to 40L).toDF("id")
    val edges = (for (a <- 1L to 40L; b <- 1L to 40L if a != b)
      yield (a, b)).toDF("src", "dst")
    // an advisory size that the edge estimate fills three times
    val advisory = (edges.queryExecution.optimizedPlan.stats.sizeInBytes +
      2) / 3
    val plans = roundPlans {
      Iterate.scoped(spark, "spark.sql.adaptive.advisoryPartitionSizeInBytes"
          -> advisory.toString) { sc =>
        Graph.labelPropagation(nodes.on(sc), edges.on(sc), 3).collect()
      }
    }
    assert(plans.length == 3, s"one plan per round: ${plans.length}")
    // the (node, label) count and the argmax aggregate
    plans.foreach(assertLabelRound(_, exchanges = 2, width = 3, "lbl"))
  }

  test("connectedComponents rounds: static at the doc-derived width, " +
      "one hash exchange after round 0, the label join broadcast") {
    import graft.operators.{Dedup, Iterate}
    import Iterate.MaterializeOps
    import spark.implicits._
    val docs = (1L to 60L).toDF("doc_id")
    val pairs = (1L to 59L).filter(_ % 10 != 0).map(i => (i, i + 1))
      .toDF("id_a", "id_b")
    val advisory = (docs.queryExecution.optimizedPlan.stats.sizeInBytes +
      1) / 2
    val plans = roundPlans {
      Iterate.scoped(spark, "spark.sql.adaptive.advisoryPartitionSizeInBytes"
          -> advisory.toString) { sc =>
        Dedup.connectedComponents(docs.on(sc), pairs.on(sc)).collect()
      }
    }
    // chains of 10: 9 label-changing rounds and one confirming round
    assert(plans.length == 10, s"one plan per round: ${plans.length}")
    // round 0 shuffles for the neighbor min and the fold aggregate;
    // later rounds fold into the previous labels' hash(doc_id) layout,
    // which the checkpoint keeps, so only the neighbor min shuffles
    plans.zipWithIndex.foreach { case (p, r) =>
      assertLabelRound(p, exchanges = if (r == 0) 2 else 1, width = 2,
        "comp")
    }
  }

  test("PlanAudit allowlist: a deliberately degenerate plan flags as " +
      "UNADJUDICATED; adjudicated (query, tag) pairs pass; the same " +
      "query with a tag outside its class fails") {
    import org.apache.spark.sql.functions.lit
    import spark.implicits._
    // A real degenerate plan — a genuine cross join between two
    // non-broadcast-disabled frames plans as BroadcastNestedLoopJoin
    // (or CartesianProduct with broadcast off); either way flagsOf
    // must see it.
    val a = (1 to 50).toDF("x")
    val b = (1 to 50).toDF("y")
    val p = a.crossJoin(b).queryExecution.executedPlan.toString
    val tags = PlanAudit.flagsOf(p).map(_._1)
    assert(tags.exists(t => t == "cartesian" || t == "bnl_join"),
      s"degenerate cross join not flagged:\n$p")
    // ...and a hypothetical NEW query producing that plan fails the
    // sweep (this is the wall-of-benign-flags regression the
    // allowlist exists to prevent)
    assert(PlanAudit.unadjudicated("some_new_query", tags).nonEmpty)
    // a clean plan yields no flags at all
    val clean = a.filter($"x" > lit(3)).groupBy($"x").count()
      .queryExecution.executedPlan.toString
    assert(PlanAudit.flagsOf(clean).isEmpty, s"clean plan flagged:\n$clean")
    // adjudicated pairs pass...
    assert(PlanAudit.unadjudicated("q6_forecast_revenue",
      Seq("single_part_exchange")).isEmpty)
    assert(PlanAudit.unadjudicated("sim_topk_bruteforce",
      Seq("bnl_join")).isEmpty)
    assert(PlanAudit.unadjudicated("bpe_train",
      Seq("sort_agg", "single_part_exchange")).isEmpty)
    // ...but a tag OUTSIDE the query's reviewed class still fails:
    // adjudication is per-shape, not a per-query blanket waiver
    assert(PlanAudit.unadjudicated("q6_forecast_revenue",
      Seq("cartesian")).nonEmpty)
    assert(PlanAudit.unadjudicated("sim_topk_bruteforce",
      Seq("sort_agg")).nonEmpty)
  }
}
