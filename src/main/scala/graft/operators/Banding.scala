package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{Expression, Literal, ShiftLeft}
import org.apache.spark.sql.catalyst.plans.logical.{Join, LogicalPlan}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.bridge
import graft.functions.VectorFunctions.hyperplane_sig

/** Signature banding, the one implementation behind every operator
  * that splits a long signature into `bands` slices of `bandBits` bits
  * and pairs rows sharing a slice: [[Similarity.lshTopK]] and the
  * embedding dedup, batch and streaming ([[Dedup.embeddingBands]]),
  * through the banded frame [[embeddingBands]];
  * [[Dedup.hammingPairsFromSigs]]; and the Hamming and cosine join
  * rewrites ([[graft.RewriteHammingThresholdJoin]],
  * [[graft.RewriteCosineThresholdJoin]]) through [[thresholdJoin]].
  *
  * A pair sharing several bands meets in each of them; joining callers
  * emit it exactly once, at its smallest shared band, with
  * [[noSharedBandBelow]], a scan-stage predicate, instead of a
  * candidate-sized distinct. MinHash banding hashes signature slices
  * and is a different construction ([[Dedup.bandPostings]]). */
private[graft] object Banding {

  /** All `bandBits` bits set. Scala masks shift counts mod 64, so
    * `(1L << 64) - 1` would be 0: a 64-bit band must mask to every bit
    * (bits=64, bands=1 otherwise collapsed every vector into one
    * bucket, a full cross product wearing an LSH label). */
  private def bandMask(bandBits: Int): Long =
    if (bandBits >= 64) -1L else (1L << bandBits) - 1

  /** The `array<struct<band: int, bkey: long>>` of a signature's
    * `bands` slices, band b being bits [b·bandBits, (b+1)·bandBits). */
  def keys(sig: Column, bands: Int, bandBits: Int): Column = {
    require(bands >= 1 && bandBits >= 1 && bands * bandBits <= 64,
      s"need bands >= 1, bandBits >= 1 and bands * bandBits <= 64, " +
        s"got $bands x $bandBits")
    val mask = bandMask(bandBits)
    array((0 until bands).map(b =>
      struct(lit(b).as("band"),
        shiftright(sig, b * bandBits).bitwiseAND(mask).as("bkey"))): _*)
  }

  /** The one banded-vector frame, `(vec_id, embedding, sig, band,
    * bkey)`: each row of `embeddings` once per band of its
    * `bands · bandBits`-bit hyperplane signature `sig` ([[keys]]). */
  def embeddingBands(embeddings: DataFrame, bands: Int,
      bandBits: Int): DataFrame =
    embeddings
      .select(col("vec_id"), col("embedding"),
        hyperplane_sig(col("embedding"), bands * bandBits).as("sig"))
      .select(col("vec_id"), col("embedding"), col("sig"),
        explode(keys(col("sig"), bands, bandBits)).as("bk"))
      .select(col("vec_id"), col("embedding"), col("sig"),
        col("bk.band").as("band"), col("bk.bkey").as("bkey"))

  /** True when no band below `band` holds equal bits in `sigA` and
    * `sigB`: joined on band `band`'s key, the pair is emitted there and
    * nowhere else. Pure integer arithmetic, so whole-stage codegen
    * compiles it; a higher-order `exists()` has no codegen and drags
    * the whole join condition, residual included, onto the interpreted
    * row-at-a-time path (at the sf10 rehearsal's ~4e9 candidate
    * evaluations, the difference between an unfinishable join and a
    * minute-long one).
    *
    * With x = sigA ^ sigB, L = each band's low bandBits−1 bits and H =
    * each band's top bit, `((x & L) + L) | x` sets a band's top bit
    * exactly when that band of x is non-zero: the add carries into the
    * top bit iff the low bits are non-zero, and never out of the band.
    * L and H cover bands 0 … bands−2 only (band bands−1 is never
    * below another), which keeps every intermediate inside bit 62:
    * nothing overflows, under ANSI arithmetic included. */
  def noSharedBandBelow(sigA: Column, sigB: Column, band: Column,
      bands: Int, bandBits: Int): Column = {
    val below = 0 until bands - 1
    val low = below.map(b => (bandMask(bandBits) >>> 1) << (b * bandBits))
      .foldLeft(0L)(_ | _)
    val top = below.map(b => 1L << (b * bandBits + bandBits - 1))
      .foldLeft(0L)(_ | _)
    val x = sigA.bitwiseXOR(sigB)
    val differs = x.bitwiseAND(low).plus(low).bitwiseOR(x)
    // ~(-1 << band·bandBits): the bits of the bands below `band`
    val lower = bitwise_not(bridge.toColumn(ShiftLeft(Literal(-1L),
      bridge.toExpression(band * bandBits))))
    val need = lower.bitwiseAND(top)
    differs.bitwiseAND(need) === need
  }

  /** Rewrite the inner join `j` into its banded equi-join: each side
    * computes `sig` of its operand (`a` from the left input, `b` from
    * the right), explodes into [[keys]], and joins on (band, key) with
    * [[noSharedBandBelow]] and the original condition as residual, so
    * the output rows are those of `j` whose signatures share a band,
    * each once.
    *
    * Physical shape. While one side can broadcast by size the planner
    * builds it (bands × signature rows, small) and the probe side keeps
    * its partitioning. When neither can (both above
    * `autoBroadcastJoinThreshold`, or the threshold disabled) the join
    * shuffles on the band keys, and AQE would coalesce that exchange by
    * BYTES: the rows are skinny but each carries a share of the join's
    * quadratic in-bucket candidate mass, which AQE cannot see (sf10
    * rehearsal: 32 partitions coalesced to 4, the whole join on 4
    * cores). An explicit repartition by the join keys is respected by
    * AQE and satisfies the join's distribution, so that branch adds it.
    * A key space below 256 groups also gets salted, `256 / (bands ·
    * 2^bandBits)` ways (8 for 8 × 2-bit bands, none for 8 × 8-bit): the
    * left side by a hash of its operand, the right side replicated
    * across every salt, so the pair set is unchanged while the
    * schedulable groups reach 256 (sf10 rehearsal: 32 unsalted groups
    * ran on ~4 of 32 cores). Only the shuffle branch salts: the band
    * explode already inflates a broadcast side past Catalyst's
    * estimate, and a salt explode on top would multiply that. No
    * shuffle pin either: below the threshold the broadcast plan ran
    * 25x+ faster than a pinned shuffle at the sf1 rehearsal, and the
    * band factor skews the size estimate by a bounded `bands`. */
  def thresholdJoin(spark: SparkSession, j: Join, a: Expression,
      b: Expression, sig: Expression => Expression, bands: Int,
      bandBits: Int): LogicalPlan = {
    def banded(plan: LogicalPlan, operand: Expression, side: String) =
      bridge.ofRows(spark, plan)
        .withColumn(s"__graft_sig_$side", bridge.toColumn(sig(operand)))
        .withColumn(s"__graft_bk_$side",
          explode(keys(col(s"__graft_sig_$side"), bands, bandBits)))
        .withColumn(s"__graft_band_$side", col(s"__graft_bk_$side.band"))
        .withColumn(s"__graft_key_$side", col(s"__graft_bk_$side.bkey"))
    val lb = banded(j.left, a, "l")
    val rb = banded(j.right, b, "r")
    val conf = spark.sessionState.conf
    val thr = conf.autoBroadcastJoinThreshold
    val shuffled = thr < 0 ||
      (j.left.stats.sizeInBytes > thr && j.right.stats.sizeInBytes > thr)
    val salts = math.max(1, (256 / (bands * math.pow(2, bandBits))).toInt)
    def keyed(df: DataFrame, side: String, salt: String*) =
      df.repartition(conf.numShufflePartitions,
        (Seq(s"__graft_band_$side", s"__graft_key_$side") ++ salt)
          .map(col): _*)
    val (lbp, rbp, saltMatch) =
      if (!shuffled) (lb, rb, lit(true))
      else if (salts == 1) (keyed(lb, "l"), keyed(rb, "r"), lit(true))
      else (
        keyed(lb.withColumn("__graft_salt_l",
          pmod(xxhash64(bridge.toColumn(a)), lit(salts.toLong))),
          "l", "__graft_salt_l"),
        keyed(rb.withColumn("__graft_salt_r",
          explode(array((0 until salts).map(s => lit(s.toLong)): _*))),
          "r", "__graft_salt_r"),
        col("__graft_salt_l") === col("__graft_salt_r"))
    val joined = lbp.join(rbp,
        col("__graft_band_l") === col("__graft_band_r") &&
          col("__graft_key_l") === col("__graft_key_r") &&
          saltMatch &&
          noSharedBandBelow(col("__graft_sig_l"), col("__graft_sig_r"),
            col("__graft_band_l"), bands, bandBits) &&
          bridge.toColumn(j.condition.get),
        "inner")
      .select((j.left.output ++ j.right.output)
        .map(attr => bridge.toColumn(attr)): _*)
    bridge.planOf(joined)
  }
}
