package graft

/** Fleet-wide physical-plan audit: build every declared query against
  * a corpus and grep its executed plan for the degenerate shapes that
  * kill 100 TB runs — Cartesian products, broadcast nested-loop joins,
  * single-partition exchanges (a global sort/window funneling all data
  * through one task), and sort-based aggregation where hash aggregation
  * was expected. PlanQualitySpec pins ~20 high-value queries in CI;
  * this sweeps ALL of them.
  *
  * A flag is benign ONLY if it is ADJUDICATED: the reviewed flag
  * classes (rounds 11–13, re-verified each sweep) are encoded in
  * [[adjudicated]] as an explicit (query → allowed tags) allowlist,
  * so the sweep's output is a DIFF against the reviewed state instead
  * of a wall of known-benign lines a new degenerate plan could hide
  * in. Any flag outside the allowlist prints as UNADJUDICATED and
  * fails the sweep (nonzero exit) — it is either a real scale bug or
  * a new shape that must be reviewed and, if benign, added here WITH
  * its justification.
  *
  * Usage: PlanAudit <sfDir> [namePrefixFilter] */
object PlanAudit {

  private val patterns: Seq[(String, String)] = Seq(
    "cartesian" -> "CartesianProduct",
    "bnl_join" -> "BroadcastNestedLoopJoin",
    "single_part_exchange" -> "Exchange SinglePartition",
    "sort_agg" -> "SortAggregate")

  /** The adjudicated benign-flag classes. Four reviewed shapes:
    *
    *  A. Scalar-broadcast cross join — a ONE-ROW global aggregate
    *     (support floor / corpus stats / bin edges / grid bounds)
    *     cross-joined onto the stream. The BNL build side is a single
    *     row by construction and the SinglePartition exchange feeds
    *     that one-row aggregate; both are bounded at any corpus size.
    *  B. Global single-row aggregate — partials then a one-row final
    *     (TPC-H scalar results, profile summaries, scalar subqueries).
    *     The SinglePartition exchange carries |partials| rows, not
    *     data.
    *  C. Declared bounded-broadcast baseline — the operator's CONTRACT
    *     is a bounded broadcast side scored against the corpus
    *     (brute-force ANN over the ≤k-row query batch, plain PQ's ADC
    *     scan, the cross-join operator itself). The scaled paths are
    *     the LSH/IVF variants; these exist as exact baselines.
    *  D. Argmax max(struct(...)) — struct aggregation buffers are
    *     hash-ineligible in Spark, so the aggregate plans as
    *     SortAggregate; per-group payloads are bounded (bpe_train
    *     additionally funnels its ≤vocab-size merge ranking through a
    *     one-row exchange).
    */
  private[graft] val adjudicated: Map[String, Set[String]] = {
    val both = Set("bnl_join", "single_part_exchange")
    val scalarBroadcastCross = Seq( // class A
      "agg_bitmap_overlap", "agg_contingency", "assoc_rules",
      "checks_constraints", "events_interpolate_1h",
      "events_resample_1h", "feat_binning", "graph_triangles",
      "layout_zorder", "q22_idle_customers", "search_bm25",
      "search_bm25_index_append", "search_bm25_indexed",
      "search_hybrid_rrf", "stream_assoc", "text_collocations",
      "text_lm_score").map(_ -> both)
    val globalSingleRowAgg = Seq( // class B
      "profile_keys", "profile_numeric", "q11_important_stock",
      "q14_promo_revenue", "q15_top_supplier", "q17_small_qty_revenue",
      "q19_disjunctive_revenue", "q6_forecast_revenue",
      "scalar_subquery", "source_csv_corrupt")
      .map(_ -> Set("single_part_exchange"))
    val boundedBroadcastBaseline = Seq( // class C
      "join_cross", "sim_hard_negatives", "sim_topk_bruteforce",
      "sim_topk_pq").map(_ -> Set("bnl_join"))
    val argmaxStructSortAgg = Seq( // class D
      "agg_mode" -> Set("sort_agg"),
      "events_ohlc" -> Set("sort_agg"),
      "bpe_train" -> Set("sort_agg", "single_part_exchange"),
      "stream_embedding_dedup" -> Set("sort_agg"))
    (scalarBroadcastCross ++ globalSingleRowAgg ++
      boundedBroadcastBaseline ++ argmaxStructSortAgg).toMap
  }

  /** (tag, first matching plan line) for every degenerate pattern the
    * plan text contains. */
  private[graft] def flagsOf(plan: String): Seq[(String, String)] =
    patterns.flatMap { case (tag, pat) =>
      if (plan.contains(pat))
        Some(tag -> plan.linesIterator.find(_.contains(pat))
          .getOrElse("").trim.take(100))
      else None
    }

  /** The tags NOT covered by the query's adjudicated allowlist entry —
    * nonempty means the sweep fails. */
  private[graft] def unadjudicated(
      name: String, tags: Seq[String]): Seq[String] =
    tags.filterNot(adjudicated.getOrElse(name, Set.empty))

  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val prefix = if (args.length > 1) args(1) else ""
    val spark = Engine.session()
    graft.sources.Tables.register(spark, sfDir)

    var flagged = 0
    var failed = 0
    var unreviewed = 0
    val names = SparkEntry.queries.keys.toSeq.sorted
      .filter(_.startsWith(prefix))
    for (name <- names) {
      try {
        val df = SparkEntry.queries(name)(spark, sfDir)
        val plan = df.queryExecution.executedPlan.toString
        val hits = flagsOf(plan)
        if (hits.nonEmpty) {
          flagged += 1
          val bad = unadjudicated(name, hits.map(_._1)).toSet
          val lines = hits.map { case (tag, l) => s"$tag[$l]" }
          if (bad.nonEmpty) {
            unreviewed += 1
            println(s"[plan-audit] $name UNADJUDICATED " +
              s"(${bad.mkString(",")}): ${lines.mkString(" ")}")
          } else println(s"[plan-audit] $name: ${lines.mkString(" ")}")
        }
      } catch {
        case e: Throwable =>
          failed += 1
          println(s"[plan-audit] $name BUILD FAILED: " +
            s"${Option(e.getMessage).getOrElse(e.getClass.getName).take(120)}")
      }
    }
    println(s"[plan-audit] done: ${names.length} queries, " +
      s"$flagged flagged ($unreviewed unadjudicated), $failed failed")
    spark.stop()
    sys.exit(if (failed > 0 || unreviewed > 0) 1 else 0)
  }
}
