package graft

import org.apache.spark.SparkConf
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.graft.bridge
import graft.plans.PlanJson
import graft.sources.Tables

/** The reference's full result envelope: both plan snapshots, the rows
  * (which the reference computed then discarded,
  * `QueryService.asmx.cs:85-88`), and real per-query statistics in place
  * of the reference's hardcoded `"Ha Ha Ha"` placeholder. */
final case class QueryResult(
    originalPlan: String,
    optimizedPlan: String,
    df: DataFrame,
    statistics: String) {
  /** Full materialization — kept for parity with the reference (which
    * always materialized everything, `QueryService.asmx.cs:85-88`), but
    * NOT the scale path: prefer [[rowsLimited]] or [[rowsIterator]],
    * which never pull an unbounded result onto the driver. */
  def rows: Array[Row] = df.collect()

  /** At most `limit` rows, taken from `df`'s own plan by a bounded
    * take that scans partitions incrementally (`bridge.takeRows`), so
    * the driver never holds more than `limit` rows regardless of
    * result size and nothing is planned again. (Named `rowsLimited`,
    * not an overload of `rows` — `rows(n)` would be ambiguous with
    * indexing into the parity array.) */
  def rowsLimited(limit: Int): Array[Row] = bridge.takeRows(df, limit)

  /** Stream the result one partition at a time — driver memory is
    * bounded by the largest partition, not the result. */
  def rowsIterator: Iterator[Row] = {
    import scala.jdk.CollectionConverters._
    df.toLocalIterator.asScala
  }

  /** Graphviz DOT renderings of the two plan trees — the engine-side
    * analog of the reference's JointJS plan picture
    * (`DistributedQueryService/index.js:86-120`); pipe through
    * `dot -Tsvg`. The JSON fields remain the machine contract. */
  def originalDot: String = PlanJson.originalDot(df)
  def optimizedDot: String = PlanJson.optimizedDot(df)

  /** Execute and return (rows, per-node runtime statistics). The stats
    * JSON carries each physical node's actual output row count — the
    * reference recorded this per node as `TmpSize` but never surfaced it
    * (`RPC/RPC/RPC.cs:113,189`, placeholder response
    * `QueryService.asmx.cs:88`); here it comes from
    * `executedPlan.metrics` after the run. */
  def executeWithStats(): (Array[Row], String) =
    executeWithStats(Int.MaxValue)

  /** Bounded variant: collects at most `limit` rows with the bounded
    * take of [[rowsLimited]], so the stats walk reports the plan `df`
    * planned and ran. */
  def executeWithStats(limit: Int): (Array[Row], String) = {
    val out = if (limit == Int.MaxValue) df.collect() else rowsLimited(limit)
    def esc(s: String) = PlanJson.jsonEscape(s)
    // AQE wraps subtrees in QueryStageExec / AdaptiveSparkPlanExec whose
    // real subplan hangs off a dedicated field, not `children` — unwrap
    // so the walk sees the operators that actually ran.
    def walk(p: org.apache.spark.sql.execution.SparkPlan): String =
      p match {
        case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
          walk(a.executedPlan)
        case q: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
          walk(q.plan)
        case _ =>
          val rowsMetric = p.metrics.get("numOutputRows")
            .map(_.value).getOrElse(-1L)
          val kids = p.children.map(walk).mkString("[", ",", "]")
          s"""{"node":"${esc(p.nodeName)}","rows":$rowsMetric,""" +
            s""""children":$kids}"""
      }
    (out, walk(df.queryExecution.executedPlan))
  }
}

/** Service facade — the Spark-native equivalent of the reference's two web
  * methods (`Sql2AlgTree` at `QueryService.asmx.cs:51-89`, `GetData` at
  * `:90-100`). Lifecycle: SQL in → parse/analyze (Catalyst replaces the
  * gsqlparser + hand-built Node tree) → localize (fragment views,
  * `Tables.register`) → optimize (Catalyst rules replace
  * `SelOptimize`/`ProjOptimize`) → execute (Spark jobs + shuffle replace
  * .NET-Remoting whole-table shipping) → plans + rows + stats out.
  */
final class Engine(val spark: SparkSession, val sfDir: String) {
  Tables.register(spark, sfDir)

  /** `Sql2AlgTree` equivalent: returns original plan, optimized plan, and
    * (unlike the reference) the actual result. */
  def query(sql: String): QueryResult = {
    val df = spark.sql(sql)
    QueryResult(
      PlanJson.originalJson(df),
      PlanJson.optimizedJson(df),
      df,
      statistics(df))
  }

  /** `GetData` equivalent: raw SQL passthrough returning rows only. */
  def getData(sql: String): DataFrame = spark.sql(sql)

  /** Real statistics: estimated row/size stats per optimized-plan node —
    * the job `TmpSize` was meant for (recorded but never read,
    * `RPC/RPC/RPC.cs:113,189`). */
  private def statistics(df: DataFrame): String = {
    val p = df.queryExecution.optimizedPlan
    val stats = p.stats
    s"""{"sizeInBytes":${stats.sizeInBytes},""" +
      s""""rowCount":${stats.rowCount.getOrElse(-1)},""" +
      s""""numNodes":${p.collect { case n => n }.size}}"""
  }
}

object Engine {
  /** The engine's one session policy, as a conf: every main and the
    * test suite start from it. The defaults suit one 32-core JVM
    * (local[32]) but are expressed the way a 1000-executor cluster
    * would want them: AQE on (runtime join strategy + skew handling +
    * partition coalescing), explicit shuffle parallelism, UTC. A master
    * other than `local[n]` starts executor JVMs, which get the compiled
    * graft classes and a memory size. */
  def sessionConf(master: String, shufflePartitions: Int): SparkConf = {
    val conf = new SparkConf(false)
      .setMaster(master)
      .setAppName("graft")
      // library sessions carry the full extension surface (SQL
      // functions, as-of strategy, as-of filter pushdown) by default —
      // same wiring a cluster gets from spark.sql.extensions
      .set("spark.sql.extensions", classOf[GraftExtensions].getName)
      .set("spark.sql.shuffle.partitions", shufflePartitions.toString)
      // Spark's 10 MB default broadcast threshold predates 100+ GB
      // executors; 64 MB lets AQE turn e.g. the dedup verification
      // joins into broadcasts when the build side is genuinely small,
      // while at corpus scale those sides exceed the threshold and the
      // planner correctly keeps shuffle joins.
      .set("spark.sql.autoBroadcastJoinThreshold", (64 << 20).toString)
      // serialized storage blocks (the pinned-regime graph frames)
      // compress with lz4: uncompressed, the edge frame of a 1.17 B-row
      // graph filled a box's transient disk. Deserialized levels (the
      // default localCheckpoint storage) are unaffected.
      .set("spark.rdd.compress", "true")
      .set("spark.sql.adaptive.enabled", "true")
      .set("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .set("spark.sql.adaptive.skewJoin.enabled", "true")
      .set("spark.sql.session.timeZone", "UTC")
      .set("spark.sql.warehouse.dir", "/tmp/graft-warehouse")
      .set("spark.ui.enabled", "false")
    // executor JVMs deserialize graft expressions and encoders, so they
    // need the compiled classes on their classpath
    if (!master.startsWith("local[")) {
      conf.set("spark.executor.extraClassPath",
        new java.io.File("target/scala-2.13/classes").getAbsolutePath)
      conf.set("spark.executor.memory", "6g")
    }
    conf
  }

  def session(master: String = "local[32]", shufflePartitions: Int = 32)
      : SparkSession = {
    val spark = SparkSession.builder()
      .config(sessionConf(master, shufflePartitions))
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
