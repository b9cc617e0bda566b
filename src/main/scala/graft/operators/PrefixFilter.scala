package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.bridge
import graft.functions.BoundedMinCollect.bounded_min_collect
import graft.functions.VectorFunctions.{bucket_pairs, prefix_grams,
  verified_bucket_pairs}

/** AllPairs/PPJoin prefix-filter candidate generation for a Jaccard
  * threshold t (Bayardo et al., WWW'07), the one implementation behind
  * [[Dedup.ngramJaccard]] and the `text_jaccard` join rewrite
  * ([[graft.RewriteJaccardThresholdJoin]]).
  *
  * Exact-recall contract: every doc's distinct gram set is sorted by
  * one global total order, and only its first `|d| − ⌈t·|d|⌉ + 1` grams
  * are posted. A pair with Jaccard ≥ t shares a gram inside BOTH
  * prefixes (pigeonhole: its smallest shared gram has at most
  * |d| − |a∩b| ≤ |d| − t·|d| grams before it in either doc), so pairing
  * the docs of each posted gram's bucket covers every true pair, under
  * ANY consistent order. The order used — document frequency asc, gram
  * asc, rarest first — only shapes candidate volume: the model order
  * ranks the sampled hottest grams and every other gram as df=1, the
  * exact order ranks every gram by its true df. Recall can be lost in
  * one place only, the bucket cap of [[bucketPairs]]: a cap at or above
  * the histogram's [[maxOccupancy]] loses nothing.
  *
  * Frames: `base` has `__graft_id` (long) and `__graft_gs` (sorted
  * distinct gram hashes, non-null); postings have `__graft_id`,
  * `__graft_rn` (1-based rank inside the prefix), `__graft_sz` (|d|)
  * and `__graft_g`. The `__graft_` names keep the join rewrite from
  * re-firing on its own output, and let `pinShuffleJoin` find the df
  * join both inside the optimizer and outside it. */
private[graft] object PrefixFilter extends graft.ShuffleJoinPin {

  /** Stop-gram model: df of the `modelSize` hottest grams (df ≥ 2),
    * counted on a deterministic 1-in-4 sample of `docs`
    * (`pmod(xxhash64(key), 4) = 0`) — one skinny aggregate and one
    * bounded driver collect at any corpus size. Hot grams, the only
    * ranks that matter, are the ones a uniform sample cannot miss. */
  def stopGramModel(docs: DataFrame, key: Column, gs: Column,
      modelSize: Int): Map[Long, Long] =
    docs.filter(pmod(xxhash64(key), lit(4)) === 0)
      .select(explode(gs).as("g"))
      .groupBy("g").agg(count(lit(1)).as("df"))
      .filter(col("df") >= 2)
      .orderBy(col("df").desc, col("g"))
      .limit(modelSize)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

  /** Prefix postings under the model order, cut per row inside the
    * scan stage (no shuffle). The `carry` columns of `base` ride
    * along. */
  def modelPostings(base: DataFrame, hotDf: Map[Long, Long], t: Double,
      carry: String*): DataFrame =
    base.select(Seq(col("__graft_id"),
        size(col("__graft_gs")).as("__graft_sz")) ++ carry.map(col) :+
        posexplode(prefix_grams(col("__graft_gs"), hotDf, t)): _*)
      .select(Seq(col("__graft_id"), (col("pos") + 1).as("__graft_rn"),
        col("__graft_sz"), col("col").as("__graft_g")) ++
        carry.map(col): _*)

  /** Prefix postings under the exact global order: a df groupBy over
    * every gram, joined back and ranked per doc — two skinny
    * corpus-wide shuffles the model order avoids. The bound is
    * PrefixGrams' own, relaxed by 1e-9 in the admit direction
    * (ceil(0.7 · 60) is 43 in doubles where the true bound is 42). The
    * df join is shuffle-pinned: the df table is a corpus-sized
    * aggregate, and a plan-time broadcast guess once shipped 1.6 GB of
    * build side through the driver. */
  def exactPostings(base: DataFrame, t: Double): DataFrame = {
    val dfExact = base.select(explode(col("__graft_gs")).as("__graft_g"))
      .groupBy("__graft_g").agg(count(lit(1)).as("__graft_df"))
    val sz = col("__graft_sz")
    val rn = col("__graft_rn")
    val ranked = base.select(col("__graft_id"),
        size(col("__graft_gs")).as("__graft_sz"),
        explode(col("__graft_gs")).as("__graft_g"))
      .join(dfExact, Seq("__graft_g"))
      .withColumn("__graft_rn", row_number().over(
        Window.partitionBy("__graft_id")
          .orderBy(col("__graft_df").asc, col("__graft_g").asc))
        .cast("int"))
      .filter(rn <= greatest(least(sz - ceil(lit(t) * sz - 1e-9) + 1, sz),
        lit(1)))
      .select(col("__graft_id"), rn, sz, col("__graft_g"))
    bridge.ofRows(base.sparkSession, pinShuffleJoin(bridge.planOf(ranked)))
  }

  /** Whether to rank prefixes under the exact order, read from
    * `spark.graft.jaccard.exactDfOrder`: `on` / `off` pin it (specs,
    * A/Bs); `auto` (default) takes it only when the model is
    * `saturated` — below its size limit it ranks every df ≥ 2 gram, and
    * both orders gave identical mass at sf0.1 — and the caller's own
    * gate `overBudget` holds. Measured at sf10-he: 2.15e8 estimated
    * pairs under the model order, 3.69e7 under the exact one, for the
    * same posting count. */
  def exactOrder(s: SparkSession, saturated: Boolean,
      overBudget: => Boolean): Boolean =
    s.conf.get("spark.graft.jaccard.exactDfOrder", "auto") match {
      case "on" => true
      case "off" => false
      case _ => saturated && overBudget
    }

  /** One row of the candidate-mass histogram: the grams whose bucket
    * holds m postings with ⌊log2 m⌋ = `b` — their count, Σm², Σm and
    * max m. */
  final case class MassBand(b: Int, grams: Long, sm2: Double, sm1: Double,
      maxM: Long)

  /** The candidate-mass histogram of `postings`: one skinny
    * map-side-combined aggregate folded to ≤ 64 rows. m is cast to
    * double before the square: a long m·m overflows past m ≈ 3e9. */
  def massHistogram(postings: DataFrame): DataFrame =
    postings.groupBy("__graft_g").agg(count(lit(1)).as("m"))
      .groupBy(floor(log2(col("m"))).cast("int").as("b"))
      .agg(count(lit(1)), sum(col("m").cast("double") * col("m")),
        sum(col("m").cast("double")), max(col("m")))

  def collectBands(hist: DataFrame): Array[MassBand] =
    hist.collect().map(r => MassBand(r.getInt(0), r.getLong(1),
      r.getDouble(2), r.getDouble(3), r.getLong(4))).sortBy(_.b)

  /** Candidate pairs `band` generates under bucket cap `c`: a gram with
    * m postings yields min(m, c)·(min(m, c) − 1)/2, so single-posting
    * grams add nothing. A band straddling the cap takes the min of both
    * bounds, still an upper bound. */
  def bandMass(c: Long)(band: MassBand): Double =
    if ((2L << band.b) - 1 <= c) (band.sm2 - band.sm1) / 2.0
    else
      math.min(band.sm2 - band.sm1, band.grams.toDouble * c * (c - 1)) / 2.0

  def estPairs(hist: Array[MassBand], c: Long): Double =
    hist.map(bandMass(c)).sum

  /** The largest bucket, floored at 2: the loss-free bucket cap. */
  def maxOccupancy(hist: Array[MassBand]): Int =
    math.min(hist.map(_.maxM).foldLeft(2L)(math.max), Int.MaxValue.toLong)
      .toInt

  /** The bucket loop: ONE shuffle (groupBy gram) builds each bucket from
    * its `cap` smallest ids, and BucketPairs emits the bucket's
    * (id_a < id_b) pairs with the size and positional prunes fused in.
    * `admit` filters buckets first and may read `__graft_g` and the
    * bucket's posting count `__graft_m`. Output: `__graft_id_a`,
    * `__graft_id_b`, once per shared bucket — callers dedup. */
  def bucketPairs(postings: DataFrame, cap: Int, t: Double,
      admit: Column = lit(true)): DataFrame =
    postings.groupBy("__graft_g")
      .agg(bounded_min_collect(struct(col("__graft_id"), col("__graft_rn"),
        col("__graft_sz")), cap).as("__graft_ps"),
        count(lit(1)).as("__graft_m"))
      .filter(admit)
      .select(explode(bucket_pairs(col("__graft_ps"), cap, t))
        .as("__graft_p"))
      .select(col("__graft_p.id_a").as("__graft_id_a"),
        col("__graft_p.id_b").as("__graft_id_b"))

  /** The candidate stage of the `text_jaccard` join rewrite, run when
    * the join executes ([[graft.plans.JaccardCandidates]]): the
    * distinct `(__graft_id_a < __graft_id_b)` candidate pairs of
    * `base`, and the executed plan that produced them (shown by the
    * join's explain once it has run). `leftGrams` (`__graft_text`,
    * `__graft_gs`) is the join's left input, which trains the
    * stop-gram model; under an empty model the sf1 corpus ground for
    * 25+ minutes on corpus-hot grams, with the model it took seconds.
    *
    * The candidate-mass histogram of the model-order postings picks
    * which of two exact-recall shapes ships less data:
    *  - SPARSE (realistic gram entropy, estimated pairs ≤ `estFactor` ×
    *    postings): skinny postings, buckets emit length- and
    *    position-pruned pairs, and the rewrite's verification above
    *    this stage rejects the false ones. An always-dense shape was
    *    measured unshippable on realistic entropy at the 100×
    *    rehearsal (~105 GB of gram arrays into one shuffle).
    *  - DENSE (degenerate corpora, candidate mass ≫ corpus): every
    *    posting carries its doc's gram array, so
    *    `verified_bucket_pairs` rejects in the bucket and only true
    *    pairs leave it (152 M survivors at sf1 would otherwise make the
    *    verification the ~400 GB stage).
    * `estFactor` (`spark.graft.jaccardRewrite.estFactor`, default 16;
    * 0 forces dense) balances the estimate's measured 10–30×
    * over-count against the sparse path's two text widths per pair.
    *
    * The exact order ([[exactOrder]]) engages in the sparse regime past
    * `spark.graft.jaccardRewrite.sparseExactRatio` (default 6) ×
    * postings: the geometric midpoint of the measured bracket, 4.9 at
    * sf10-he (a wash: the ranking shuffles cost what the smaller mass
    * saves) and 7.9 at sf30-he (total CPU halved, bucket-loop spill
    * 23.8 → 8.5 GiB). Its postings are cached for the cap histogram and
    * the bucket loop, and the candidates are materialized before the
    * cache is released. In the dense regime the skinny ranks come
    * first and the gram array joins once, after ranking.
    * `spark.graft.jaccardRewrite.modelSize` (default 64k) lets specs
    * saturate the model. */
  def joinCandidates(base: DataFrame, leftGrams: DataFrame, t: Double)
      : (DataFrame, org.apache.spark.sql.execution.SparkPlan) = {
    val s = base.sparkSession
    def conf(key: String, default: String) = s.conf.get(key, default).toDouble
    val modelSize =
      conf("spark.graft.jaccardRewrite.modelSize", (1 << 16).toString).toInt
    val hotDf = stopGramModel(leftGrams, col("__graft_text"),
      col("__graft_gs"), modelSize)
    val skinny = modelPostings(base, hotDf, t)
    val hist = collectBands(massHistogram(skinny))
    val nPostings = hist.map(_.sm1).sum
    val est = estPairs(hist, Long.MaxValue)
    def wantExactDf(overBudget: Boolean) = exactOrder(s,
      saturated = hotDf.size >= modelSize, overBudget = overBudget)
    def produced(pairs: DataFrame) = (pairs, pairs.queryExecution.executedPlan)
    if (est > conf("spark.graft.jaccardRewrite.estFactor", "16") * nPostings) {
      val posts =
        if (wantExactDf(overBudget = true))
          exactPostings(base, t).join(base, Seq("__graft_id"))
        else modelPostings(base, hotDf, t, "__graft_gs")
      produced(posts.groupBy("__graft_g")
        .agg(collect_list(struct(col("__graft_id").as("id"),
          col("__graft_rn").as("rn"),
          col("__graft_gs").as("gs"))).as("__graft_ps"))
        .select(explode(verified_bucket_pairs(col("__graft_ps"), 1 << 30, t))
          .as("__graft_p"))
        .select(col("__graft_p.id_a").as("__graft_id_a"),
          col("__graft_p.id_b").as("__graft_id_b"))
        .distinct())
    } else if (wantExactDf(est >
        conf("spark.graft.jaccardRewrite.sparseExactRatio", "6") * nPostings))
      Iterate.cached(exactPostings(base, t)) { ranked =>
        val pairs = bucketPairs(ranked,
          maxOccupancy(collectBands(massHistogram(ranked))), t).distinct()
        (Iterate.materialize(pairs), pairs.queryExecution.executedPlan)
      }
    else produced(bucketPairs(skinny, maxOccupancy(hist), t).distinct())
  }
}
