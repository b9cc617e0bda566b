package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.functions.TextFunctions._

/** Benchmark decontamination: flag training documents that share word
  * n-grams with an evaluation/benchmark set (the standard pre-training
  * hygiene step — a training doc containing an eval n-gram leaks the
  * benchmark into the model). Not in the reference engine (its surface
  * is SPJU only, SURVEY.md §2); this is part of the LLM-pipeline
  * extension surface.
  *
  * Scale design (100 TB training corpus, benchmark sets of at most a
  * few hundred MB by construction):
  *  - the EVAL side is the small side: its distinct gram set is
  *    broadcast, so the training corpus is scanned once and never
  *    shuffles to discover hits — the only shuffle is the per-doc hit
  *    count over rows that actually matched (normally a tiny fraction
  *    of the corpus);
  *  - grams travel as strings here so an external SQL oracle can
  *    re-derive the counts exactly; when the broadcast budget is tight,
  *    key by xxhash64(gram) instead (8 bytes per gram, ~2⁻⁶⁴ false-hit
  *    probability — an acceptable trade for a contamination FILTER,
  *    not for an exactness-gated report);
  *  - emitting every training doc (clean ones with n_hits = 0) is a
  *    LEFT join from the corpus keys to the aggregated hits — no second
  *    scan of the text.
  */
object Decontaminate {

  /** Distinct word n-grams per doc: (doc_id, g). Documents shorter than
    * n tokens contribute their whole text as one gram (same fallback as
    * [[TextFunctions.wordShingles]]), so short eval entries still
    * decontaminate. */
  private def grams(docs: DataFrame, n: Int): DataFrame =
    docs.select(col("doc_id"),
      explode(wordShingles(col("text"), n)).as("g"))

  /** Per-training-doc contamination report against `eval`:
    * (doc_id, n_hits = distinct shared n-grams, contaminated =
    * n_hits >= minHits). Every training doc appears exactly once. */
  def overlap(train: DataFrame, eval: DataFrame, n: Int = 5,
      minHits: Int = 1): DataFrame = {
    require(n >= 1, s"gram width must be >= 1, got $n")
    require(minHits >= 1, s"minHits must be >= 1, got $minHits")
    val evalGrams = grams(eval, n).select("g").distinct()
    val hits = grams(train, n)
      // inner hash join against the broadcast eval gram set: non-matching
      // training grams die in the scan stage, before any shuffle
      .join(broadcast(evalGrams), "g")
      // wordShingles is array_distinct per doc, so count(*) IS the
      // distinct shared-gram count
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_hits"))
    train.select("doc_id")
      .join(hits, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_hits"), lit(0L)).as("n_hits"),
        (coalesce(col("n_hits"), lit(0L)) >= minHits).as("contaminated"))
      .orderBy("doc_id")
  }

  /** Multi-benchmark decontamination in ONE pass: real pipelines
    * screen against MANY eval sets at once (each additional set must
    * not cost another corpus scan). Eval grams are tagged with their
    * set name and distinct-ed per (set, gram); the training corpus is
    * scanned once, its gram stream hash-joined against the tagged
    * side (broadcast under normal budgets — benchmark sets are small
    * by construction), and hits aggregate per (doc, set). Output is
    * the DELTA — only (doc_id, eval_set) pairs with ≥1 shared gram —
    * because at 100 TB the interesting rows are the contaminated
    * ones, not a clean-doc × set cross product. */
  def overlapMulti(train: DataFrame, evals: Seq[(String, DataFrame)],
      n: Int = 5): DataFrame = {
    require(n >= 1 && evals.nonEmpty)
    val tagged = evals.map { case (name, df) =>
      grams(df, n).select(lit(name).as("eval_set"), col("g"))
    }.reduce(_ unionByName _).distinct()
    grams(train, n)
      .join(broadcast(tagged), "g")
      .groupBy("doc_id", "eval_set")
      .agg(count(lit(1)).as("n_hits"))
      .orderBy("doc_id", "eval_set")
  }

  /** Broadcast-set variant of [[overlap]]: the eval gram set is
    * collected once (bounded — it's a benchmark) and shipped as a real
    * executor broadcast; each training doc counts its own grams via
    * [[graft.functions.VectorFunctions.BroadcastMemberCount]] INSIDE
    * the scan stage. ZERO data shuffles — rows leave the scan already
    * reduced to (doc_id, n_hits), so the only exchange in the plan is
    * the presentation sort. This is the faster regime whenever the
    * eval set fits executor memory (benchmarks always do); [[overlap]]
    * remains the no-driver-collect path for pathological eval sizes.
    * Same semantics, same oracle. */
  def overlapBroadcast(train: DataFrame, eval: DataFrame, n: Int = 5,
      minHits: Long = 1): DataFrame =
    broadcastHits(train, eval, n, minHits).orderBy("doc_id")

  /** [[overlapBroadcast]] unordered, and the kernel of its streaming
    * twin ([[graft.streaming.DocsStream.runDecontamStream]]): `eval` is
    * a batch frame collected once, so `train` may be a stream. */
  private[graft] def broadcastHits(train: DataFrame, eval: DataFrame,
      n: Int, minHits: Long): DataFrame = {
    require(n >= 1, s"gram width must be >= 1, got $n")
    require(minHits >= 1, s"minHits must be >= 1, got $minHits")
    val evalGrams = grams(eval, n).select("g").distinct()
      .collect().map(_.getString(0)).toSeq
    val bc = graft.functions.VectorFunctions.broadcastStringSet(
      train.sparkSession, evalGrams)
    val hits = graft.functions.VectorFunctions.broadcast_member_count(
      wordShingles(col("text"), n), bc)
    // hits computed ONCE, the flag derived from the materialized
    // column in a second projection — naming `hits` twice in one
    // select builds two independent expression trees, and the
    // shingle+membership chain is the scan's whole cost (the producer
    // is non-cheap, so CollapseProject keeps the boundary)
    train.select(col("doc_id"), hits.as("n_hits"))
      .select(col("doc_id"), col("n_hits"),
        (col("n_hits") >= minHits).as("contaminated"))
  }

  /** Corpus-wide common-n-gram coverage (the C4-style boilerplate
    * signal): a gram is "common" when it appears in >= `minDf` distinct
    * documents; each doc reports how much of its own gram set is
    * common, and docs past `boilerplateFrac` get flagged. Three
    * key-partitioned shuffles, all with map-side partial aggregation:
    * gram document-frequency, the hit join back, and the per-doc count
    * — no driver-side state at any size (the common-gram set never
    * leaves the cluster). */
  def commonGramCoverage(docs: DataFrame, n: Int = 3, minDf: Int = 4,
      boilerplateFrac: Double = 0.5): DataFrame = {
    require(n >= 1, s"gram width must be >= 1, got $n")
    require(minDf >= 1, s"minDf must be >= 1, got $minDf")
    val g = grams(docs, n)
    val perDoc = docs.select(col("doc_id"),
      size(wordShingles(col("text"), n)).as("n_grams"))
    val common = g.groupBy("g")
      .agg(count(lit(1)).as("df"))
      .filter(col("df") >= minDf)
      .select("g")
    val hits = g.join(common, "g")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_common"))
    val frac = coalesce(col("n_common"), lit(0L)).cast("double") /
      col("n_grams").cast("double")
    perDoc.join(hits, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_grams"),
        coalesce(col("n_common"), lit(0L)).as("n_common"),
        frac.as("common_frac"),
        (frac >= boilerplateFrac).as("boilerplate"))
      .orderBy("doc_id")
  }
}
