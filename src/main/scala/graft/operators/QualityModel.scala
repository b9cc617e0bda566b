package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.TextFunctions

/** Model-based quality filtering — the fastText-classifier move of
  * modern web-corpus curation (label a small seed set, train a linear
  * model over cheap text features, score the whole corpus and filter
  * on the score): here as train-once / score-everywhere over features
  * that are already scan-stage codegen'd builtins.
  *
  * Two-phase split mirrors the other trained models in this repo (IVF
  * centroids, PQ codebooks): `train` is ONE bounded MLlib job whose
  * output is a handful of doubles (the model — the only thing that
  * ever reaches the driver); `score` is pure `Column` arithmetic
  * (`intercept + Σ wᵢ·fᵢ` folded left-to-right), so corpus scoring
  * lives inside whole-stage codegen with no UDF, no vector
  * materialization, no shuffle — at 100 TB the classifier costs one
  * projection.
  *
  * Determinism: feature math is the same expression tree the
  * text-quality oracles already pin bit-for-bit against the oracle
  * dialect, and scoring accumulates in fixed left-to-right order — so
  * a captured model replays exactly (the capture-then-export contract:
  * whatever LBFGS converged to IS the model under test; the oracle
  * re-derives scores from the exported coefficients, not from its own
  * training run). */
object QualityModel {

  /** The fixed feature order — training, scoring and the exported
    * oracle all index this list; reordering it is a breaking change. */
  def features(text: Column): Seq[(String, Column)] = Seq(
    "stopword_ratio" -> TextFunctions.stopwordRatio(text),
    "punct_ratio" -> TextFunctions.punctRatio(text),
    "digit_ratio" -> TextFunctions.digitRatio(text),
    "token_frac" ->
      least(TextFunctions.tokenCount(text).cast("double") / 100.0,
        lit(1.0)))

  /** A trained linear filter: `z = intercept + weights · features`,
    * keep iff `z > 0`. */
  final case class Model(intercept: Double, weights: Seq[Double]) {
    require(weights.size == 4, s"expected 4 weights, got ${weights.size}")
  }

  /** One bounded training job: binomial logistic regression over the
    * feature projection. Small L2 keeps the weights finite on linearly
    * separable seeds (unregularized LR diverges there — the margin
    * grows without bound). The returned model is 5 doubles; nothing
    * else leaves the cluster.
    *
    * Scale contract: the corpus is touched by exactly ONE bounded
    * Spark job, [[Sampling.smallestByHash]] over the caller's UNIQUE
    * row key (the sample the vector models train on too). LBFGS then
    * iterates over the driver-local sample, so training cost is
    * independent of corpus size — previously every iteration was a
    * full corpus pass, the classic scale-killer for a filter that
    * should cost one projection. A 4096-row sample is far past the
    * statistical needs of a 4-feature linear model. */
  def train(docs: DataFrame, text: Column, label: Column, key: Column,
      sampleN: Int = 4096): Model = {
    import org.apache.spark.ml.classification.LogisticRegression
    import org.apache.spark.ml.functions.array_to_vector
    val spark = docs.sparkSession
    // sort/limit FIRST (the rank needs only the key hash), THEN
    // project features: the four text expressions (tokenize + three
    // regex scans) run on sampleN rows, not the whole corpus. Rows
    // with a NULL label or NULL feature (null text) carry no training
    // signal and would NPE the Row getters — dropped after selection
    // so the sample stays key-deterministic.
    val sample: Array[(Double, Seq[Double], String)] = Sampling
      .smallestByHash(docs, key, sampleN)
      .select(label.cast("double").as("label"),
        array(features(text).map(_._2.cast("double")): _*).as("f"),
        key.cast("string").as("k"))
      .filter(col("label").isNotNull &&
        !expr("exists(f, x -> x IS NULL)"))
      .collect()
      .map(r => (r.getDouble(0), r.getSeq[Double](1), r.getString(2)))
    require(sample.nonEmpty,
      "QualityModel.train: no usable training rows (empty corpus, or " +
        "every sampled row had a null label/feature)")
    // the whole fix rests on key uniqueness (a duplicated key makes
    // the limit boundary layout-dependent again) — cheap to enforce
    // on the already-driver-local sample
    require(sample.iterator.map(_._3).toSet.size == sample.length,
      "QualityModel.train: key column must be unique per row")
    import spark.implicits._
    // ONE partition: every LBFGS iteration is a treeAggregate job over
    // this frame, and at 4096 rows the job's cost is pure task-launch
    // overhead — 32 tasks × ~100 iterations was most of the training
    // wall time
    val assembled = sample.toSeq.map(s => (s._1, s._2))
      .toDF("label", "f").coalesce(1).select(
        col("label"), array_to_vector(col("f")).as("features"))
    val lr = new LogisticRegression()
      .setMaxIter(100)
      // 1e-4, not the 1e-6 default: a distillation FILTER needs a
      // stable decision boundary, not 6th-decimal coefficient
      // convergence — the looser tolerance halves the LBFGS iteration
      // count with no measurable accuracy change (spec gate unchanged)
      .setTol(1e-4)
      .setRegParam(0.01)
      .setElasticNetParam(0.0)
      .setStandardization(true)
      .setFitIntercept(true)
    val m = lr.fit(assembled)
    Model(m.intercept, m.coefficients.toArray.toSeq)
  }

  /** Scan-stage score: fixed left-to-right accumulation so the fold is
    * reproducible in any engine that parses `a + b*c + d*e` left-
    * associatively (all of them). */
  def score(text: Column, model: Model): Column =
    model.weights.zip(features(text)).foldLeft(lit(model.intercept)) {
      case (acc, (w, (_, f))) => acc + lit(w) * f
    }

  /** Corpus scoring projection: `(…, score_micros, pred)` — the score
    * micro-rounded for engine-portable downstream ranking, the keep
    * decision on the raw double. */
  def scoreAll(docs: DataFrame, text: Column, model: Model): DataFrame = {
    val z = score(text, model)
    docs
      .withColumn("score_micros", round(z * 1e6).cast("long"))
      .withColumn("pred", z > 0.0)
  }
}
