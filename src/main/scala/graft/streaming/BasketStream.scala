package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Encoder, SparkSession}
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Streaming market-basket maintenance: incremental within-basket pair
  * generation as keyed state.
  *
  * The batch operator (operators/Association.scala) self-joins each
  * basket against itself; the streaming twin instead keeps ONE state
  * per basket — the set of distinct items seen so far (bounded by
  * basket size, a domain constant, not stream volume) — and each
  * arriving item emits exactly the pairs it completes: (new item ×
  * every previously-seen item). Replayed rows (same item again) touch
  * nothing — presence semantics, like the batch `.distinct()`. Summed
  * over the stream, every distinct within-basket pair is emitted
  * EXACTLY ONCE, so the epoch-close aggregate over the sink rebuilds
  * the identical support counts under any micro-batch slicing.
  *
  * Output rows double as the item-membership log: an item's first
  * arrival in a basket emits a row with `other = null` (the basket
  * membership event), plus one row per completed pair. Item supports,
  * pair supports, and the rule derivation all read from the one sink.
  */
object BasketStream {

  case class ItemArrival(bk: Long, item: Long)
  /** other == None → first sighting of `item` in basket `bk`;
    * Some(o)      → the (item, o) pair just got completed. */
  case class BasketUpdate(bk: Long, item: Long, other: Option[Long])

  /** Streaming read of the lineitem table (file source), basket key +
    * item only. */
  def readBasketsStream(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(
      StructField("l_orderkey", LongType),
      StructField("l_partkey", LongType)))
    StreamSource.table(spark, sfDir, "lineitem", schema)
  }

  /** [[pairsStream]]'s state encoder, built once: a `spark.implicits`
    * encoder for a collection state is converted anew on each run, and
    * its state projection compiles anew on every warm run (see
    * `DocsStream.bucketStateEncoder`). */
  private lazy val seenStateEncoder = ExpressionEncoder[Set[Long]]()

  def pairsStream(spark: SparkSession, items: DataFrame)
      : Dataset[BasketUpdate] = {
    import spark.implicits._
    items.selectExpr("l_orderkey AS bk", "l_partkey AS item")
      .as[ItemArrival]
      .groupByKey(_.bk)
      .flatMapGroupsWithState[Set[Long], BasketUpdate](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (bk: Long, batch: Iterator[ItemArrival],
         state: GroupState[Set[Long]]) =>
          var seen = state.getOption.getOrElse(Set.empty[Long])
          val out = Seq.newBuilder[BasketUpdate]
          batch.foreach { a =>
            if (!seen.contains(a.item)) {
              out += BasketUpdate(bk, a.item, None)
              seen.foreach(o => out += BasketUpdate(bk, a.item, Some(o)))
              seen += a.item
            }
          }
          state.update(seen)
          out.result().iterator
      }(seenStateEncoder, implicitly[Encoder[BasketUpdate]])
  }

  /** Drive [[pairsStream]] to completion; returns the sink name. */
  def runPairsStream(spark: SparkSession, sfDir: String,
      sinkName: String = "basket_pairs_stream"): String = {
    StreamSource.runToFileSink(spark,
      pairsStream(spark, readBasketsStream(spark, sfDir)), sinkName)
  }
}
