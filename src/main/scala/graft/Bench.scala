package graft

/** Benchmark main (driver contract): runs the headline queries on
  * `SPARK_GRAFT_SF_DIR` and prints ONE JSON line with per-query seconds.
  *
  * Execution is forced through the `noop` sink — `count()` would let
  * Catalyst prune columns/operators (e.g. drop a sort) and understate
  * real work. One untimed warm-up query absorbs JIT + codegen + catalog
  * setup so timings measure the engine, not JVM warm-up.
  */
object Bench {

  /** Headline subset: one representative per operator family — scan+agg,
    * shuffled join tree over fragment views, window, top-k, minhash LSH
    * dedup, simhash dedup, ANN, text stats, windowed events + sessions. */
  val headline: Seq[String] = Seq(
    "agg_q1",
    "q3_shipping_priority",
    "q5_supplier_volume",
    "q8_market_share",
    "q10_returned_items",
    "q18_large_orders",
    "join_multiway",
    "bloom_prefilter_join",
    "frag_transparency_agg",
    "window_rank",
    "sort_limit_topk",
    "q9_product_profit",
    "dedup_exact",
    "dedup_minhash_lsh",
    "dedup_minhash_index_merge",
    "dedup_simhash",
    "dedup_phash",
    "dedup_ngram_jaccard",
    "pipeline_clean_corpus",
    "sim_topk_bruteforce",
    "sim_topk_lsh",
    "sim_topk_ivf",
    "sim_topk_pq",
    "sim_topk_ivfpq",
    "sim_topk_ivf_indexed",
    "text_stats",
    "decontam_ngram",
    "decontam_ngram_bc",
    "cluster_kmeans",
    "dedup_semantic",
    "search_bm25",
    "pack_sequences",
    "quality_model_lr",
    "curation_domain_cap",
    "curation_url_dedup",
    "graph_pagerank",
    "multimodal_audio",
    "scd2_event_runs",
    "asof_join",
    "stream_window_agg",
    "events_sessionize",
    "feat_hashing",
    "cdc_apply",
    "record_linkage",
    "checks_constraints",
    "assoc_rules",
    "pareto_skyline",
    "geo_radius_join",
    "graph_bfs",
    "agg_bitmap_distinct",
    "sim_mmr_rerank",
    "search_hybrid_rrf",
    "text_lm_score",
    "multimodal_video",
    "decontam_multi",
    "agg_sample_estimate",
    "dedup_forget",
    "agg_weighted_median",
    "asof_join_nearest",
    "text_html_extract",
    "dedup_quality_rep",
    "sample_topk_stratum",
    "curation_quality_rebalance",
    // the heavy fixpoint-iteration family (round-13 verdict): every
    // iterative loop the engine runs is now benched round-over-round,
    // not just pagerank/bfs — these are the shapes where a regression
    // multiplies by the round count
    "graph_triangles",
    "graph_label_prop",
    "dedup_cc_decisions")

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = Engine.session(s"local[$cpus]", cpus.toInt)

    /** Deterministically release the state a query leaves behind:
      * dataset caches and persisted / localCheckpointed RDD blocks
      * (dedup's `finalizePairs` localCheckpoints its result — without
      * an explicit unpersist those blocks sit in the block manager
      * until ContextCleaner happens to GC them, and the accumulated
      * memory pressure slowed every query that ran after the dedup
      * family by 4-8x in the round-2 driver bench). Runs OUTSIDE the
      * timed window so each query is measured against a clean state. */
    def release(): Unit = {
      spark.catalog.clearCache()
      spark.sparkContext.getPersistentRDDs.values
        .foreach(_.unpersist(blocking = true))
      System.gc()
    }

    def run(name: String): Double = {
      // label every job this query spawns (guide §1.5) so event logs
      // and the UI attribute work to queries — the description is
      // thread-local and cleared before the untimed release()
      spark.sparkContext.setJobDescription(s"bench:$name")
      val t0 = System.nanoTime()
      try SparkEntry.queries(name)(spark, sfDir)
        .write.mode("overwrite").format("noop").save()
      catch {
        case e: Throwable =>
          System.err.println(s"[bench] $name failed: ${e.getMessage}")
          spark.sparkContext.setJobDescription(null)
          release()
          return -1.0
      }
      val sec = (System.nanoTime() - t0) / 1e9
      spark.sparkContext.setJobDescription(null)
      release()
      sec
    }

    // optional arg (dev only): comma-separated subset of headline names
    val subset: Seq[String] =
      if (args.nonEmpty) args(0).split(",").toSeq
      else headline
    // fail fast on a typo instead of dying mid-run after the warm-up
    subset.foreach(n => require(SparkEntry.queries.contains(n),
      s"unknown bench query: $n"))

    run("agg_q1") // warm-up (untimed): JIT, codegen, catalog, file listing
    val results = subset.map(n => n -> run(n))
    val qs = results
      .map { case (k, v) => "\"" + k + "\":" + f"$v%.3f" }
      .mkString("{", ",", "}")
    val total = results.map(_._2).filter(_ >= 0).sum
    println(f"""{"metric":"total","value":$total%.3f,"unit":"sec","queries":$qs,"sf":"$sfDir"}""")
    spark.stop()
  }
}
