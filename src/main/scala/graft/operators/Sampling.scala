package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deterministic, reproducible sampling/splitting for training-data
  * pipelines. Everything here is a pure function of the row KEY — no
  * RNG state, no partition dependence — so:
  *  - the same row lands in the same split on every run, every cluster
  *    size, every data layout (reshuffles/compaction can't move it);
  *  - splits are disjoint and exhaustive by construction;
  *  - downstream incremental runs (new data arriving) keep every old
  *    row's assignment stable.
  * That reproducibility is the difference between "sample()" and a
  * train/val/test contract you can audit at 100 TB. Buckets come from
  * xxhash64(key) spread over [0, 10000).
  */
object Sampling {

  private val Buckets = 10000L

  /** Stable bucket in [0, 10000) for a key column. */
  def hashBucket(key: Column): Column = pmod(xxhash64(key), lit(Buckets))

  /** The one deterministic fixed-size training sample: the `n` rows
    * with the smallest (xxhash64(key), key). Hashing a UNIQUE key, not
    * the row, keeps duplicate-heavy data from collapsing the sample
    * onto a few duplicate groups, and the key tie-break makes the
    * selection total, so it is the same on every layout. Plans as ONE
    * bounded TakeOrderedAndProject job; [[Similarity.trainCentroids]],
    * [[Similarity.trainPq]] and [[QualityModel.train]] train on it. */
  def smallestByHash(df: DataFrame, key: Column, n: Int): DataFrame =
    df.orderBy(xxhash64(key), key).limit(n)

  /** Deterministic sample: keep a row iff its key's bucket falls below
    * fraction*10000. Same key ⇒ same decision, forever. */
  def sampleByHash(df: DataFrame, key: Column, fraction: Double): DataFrame = {
    require(fraction >= 0 && fraction <= 1)
    df.filter(hashBucket(key) < (fraction * Buckets).toLong)
  }

  /** Disjoint + exhaustive named splits (e.g. train/val/test) by
    * cumulative bucket ranges. `fractions` must sum to 1 (±1e-9); the
    * last split absorbs the rounding remainder. Adds a `split` column. */
  def splitByHash(df: DataFrame, key: Column,
      fractions: Seq[(String, Double)]): DataFrame = {
    require(fractions.nonEmpty && fractions.forall(_._2 >= 0))
    require(math.abs(fractions.map(_._2).sum - 1.0) < 1e-9,
      "split fractions must sum to 1")
    val bounds = fractions.scanLeft(0L) { case (acc, (_, f)) =>
      acc + math.round(f * Buckets)
    }.tail
    val b = hashBucket(key)
    val expr = fractions.map(_._1).zip(bounds).dropRight(1)
      .foldRight(lit(fractions.last._1): Column) {
        case ((name, bound), rest) => when(b < bound, name).otherwise(rest)
      }
    df.withColumn("split", expr)
  }

  /** Deterministic weighted source MIXING — the epoch-composition step
    * of a training pipeline ("2.2 epochs of wiki, 0.5 of crawl"):
    * every row of source s appears ⌊w_s⌋ times, plus once more iff its
    * key's hash bucket falls below frac(w_s)·10000 — so the expected
    * multiplicity is exactly w_s and, like everything here, the
    * decision is a pure function of the key (the same row gets the
    * same copies on every run and layout). Copies are numbered
    * (`copy_id`) so downstream sharding can address them; sources
    * absent from `weights` are dropped. Upsampling is an explode in
    * the scan stage — no shuffle, no driver state. */
  def weightedMix(df: DataFrame, key: Column, source: Column,
      weights: Map[String, Double]): DataFrame = {
    require(weights.nonEmpty && weights.values.forall(_ >= 0))
    val b = hashBucket(key)
    val copies = weights.foldLeft(lit(0L)) { case (acc, (v, w)) =>
      val base = math.floor(w).toLong
      val fracBuckets = math.round((w - base) * Buckets)
      when(source === v,
        lit(base) + when(b < fracBuckets, 1L).otherwise(0L))
        .otherwise(acc)
    }
    df.withColumn("n_copies", copies)
      .filter(col("n_copies") > 0)
      .withColumn("copy_id",
        explode(sequence(lit(0L), col("n_copies") - 1)))
      .drop("n_copies")
  }

  /** Per-stratum sampling fractions (e.g. downsample the dominant
    * language, keep the rare ones whole): `fractions` maps stratum
    * value → keep fraction; strata not in the map are dropped. */
  def sampleStratified(df: DataFrame, key: Column, stratum: Column,
      fractions: Map[String, Double]): DataFrame = {
    require(fractions.values.forall(f => f >= 0 && f <= 1))
    val b = hashBucket(key)
    val keep = fractions.foldLeft(lit(false)) {
      case (acc, (value, f)) =>
        when(stratum === value, b < (f * Buckets).toLong).otherwise(acc)
    }
    df.filter(keep)
  }

  /** Per-domain diversity cap — the anti-SEO-farm move of web-corpus
    * curation: a single host may contribute at most `cap` documents,
    * and which ones survive is decided by quality, not arrival order.
    * `url` is parsed with the builtin `parse_url` (codegen'd, scan
    * stage); ranking is `row_number` over `(host)` ordered by
    * micro-rounded quality descending with the unique doc id as
    * tiebreak — micro-rounding makes the rank reproducible across
    * engines (a raw-double ORDER BY is ULP-fragile ground to stand
    * on), the id makes it total. One host-partitioned shuffle; no
    * per-host state beyond the window counter. Emits every input row
    * with `host`, `rank`, `kept` so the drop set is auditable (filter
    * `kept` for the survivors). */
  def domainCap(df: DataFrame, url: Column, quality: Column,
      cap: Int): DataFrame = {
    require(cap > 0, s"cap must be positive, got $cap")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("host"))
      .orderBy(col("q_micros").desc, col("doc_id"))
    df.withColumn("host", parse_url(url, lit("HOST")))
      .withColumn("q_micros", round(quality * 1e6).cast("long"))
      .withColumn("rank", row_number().over(w))
      .withColumn("kept", col("rank") <= cap)
  }

  /** Exact COUNT-k stratified sample — [[sampleStratified]]'s
    * fixed-size sibling: the `k` rows per stratum with the
    * lexicographically smallest `md5(key)` (key stringified; md5 ties
    * break on the key itself). Fraction sampling gives proportional
    * sizes; eval slices and per-class debug sets need exactly
    * min(k, |stratum|) rows, uniform within the stratum and stable
    * across runs, layouts and engines (md5 hex orders identically
    * everywhere — the oracle-expressible rank the xxhash bucket
    * cannot give a top-k).
    *
    * Scale shape: ONE hash exchange on the stratum key; the rank<=k
    * filter plans as WindowGroupLimit (per-partition k-row heaps
    * BEFORE the exchange — the window_rank discipline), so a stratum
    * is never fully sorted and a 100 TB stratum costs a k-row heap
    * per input partition. */
  def topKPerStratum(df: DataFrame, stratum: String, key: String,
      k: Int): DataFrame = {
    require(k > 0, s"k must be positive, got $k")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(stratum)
      .orderBy(md5(col(key).cast("string")), col(key))
    df.withColumn("_rn", row_number().over(w))
      .filter(col("_rn") <= k)
      .drop("_rn")
  }

  /** Quality-band mixture rebalance: rows band by fixed score cutoffs
    * (band = number of cutoffs at or below the score) and each band
    * keeps `keepFrac(band)` of its rows by the standard hash-bucket
    * rule — the "thin the junk, keep the pristine mass" downsample of
    * corpus curation, composed from this object's primitives so it
    * inherits every determinism guarantee: the band is a scan-stage
    * expression over the score, the verdict a pure function of the
    * key, and re-running per-shard admits exactly the same rows. No
    * global sort, no ntile, no RNG — at 100 TB the rebalance costs
    * one projection.
    *
    * Rows whose score is NULL (unscorable: null text, failed feature
    * extraction) are DROPPED before banding, matching the repo-wide
    * treat-malformed-as-unscorable discipline (cf. the ANN paths
    * filtering null cosines) — without the filter a null comparison
    * would silently band them as worst-quality and keep keepFrac(0)
    * of them. Callers that want to keep unscorable rows should score
    * them explicitly (e.g. `coalesce(score, lit(0.0))`). */
  def qualityRebalance(df: DataFrame, quality: Column, key: Column,
      cutoffs: Seq[Double], keepFrac: Seq[Double]): DataFrame = {
    require(keepFrac.size == cutoffs.size + 1,
      s"need ${cutoffs.size + 1} keep fractions, got ${keepFrac.size}")
    require(keepFrac.forall(f => f >= 0 && f <= 1))
    require(cutoffs == cutoffs.sorted, "cutoffs must ascend")
    val band = cutoffs
      .map(c => when(quality >= c, 1).otherwise(0))
      .reduce(_ + _)
    val b = hashBucket(key)
    val kept = keepFrac.zipWithIndex
      .foldLeft(lit(false)) { case (acc, (f, i)) =>
        when(band === i, b < (f * Buckets).toLong).otherwise(acc)
      }
    df.filter(quality.isNotNull)
      .withColumn("quality", quality)
      .withColumn("band", band)
      .filter(kept)
  }
}
