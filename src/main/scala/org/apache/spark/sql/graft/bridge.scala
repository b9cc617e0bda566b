package org.apache.spark.sql.graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Spark 4 removed the public `new Column(expr)` / `col.expr` bridge (the
  * unified Column API is ColumnNode-based). This shim lives under
  * `org.apache.spark.sql` solely to re-expose the two package-private
  * converters for graft's custom Catalyst expressions — the supported
  * classic-API conversion, not a fork of any Spark internals. */
object bridge {
  def toColumn(e: Expression): Column = ExpressionUtils.column(e)
  def toExpression(c: Column): Expression = ExpressionUtils.expression(c)

  /** Eagerly convert a COMPOSED Column (functions-API tree) to a real
    * analyzable expression. `toExpression` defers via a
    * `ColumnNodeExpression` wrapper that only unwraps on the Dataset
    * analysis path — a function-registry builder needs the converted
    * tree up front or codegen meets an Unevaluable node. */
  def toAnalyzableExpression(c: Column): Expression =
    org.apache.spark.sql.classic.ColumnNodeToExpressionConverter(c.node)

  /** Resolved logical plan of a DataFrame (attribute references in
    * Columns taken from the frame line up with this plan's output). */
  def planOf(df: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.catalyst.plans.logical.LogicalPlan =
    df.queryExecution.analyzed

  /** Build a DataFrame from a custom logical plan (package-private
    * `Dataset.ofRows`). */
  def ofRows(spark: org.apache.spark.sql.SparkSession,
      plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan)
      : org.apache.spark.sql.DataFrame =
    org.apache.spark.sql.classic.Dataset.ofRows(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession], plan)

  /** A new session over `spark`'s SparkContext and shared state with
    * a copy of its conf, temp views, functions and listeners
    * (package-private `cloneSession`), whose jobs run under `spark`'s
    * job-artifact state. Spark 4 runs each isolated session's tasks in
    * an executor classloader of its own and keys the codegen cache by
    * classloader, so a clone with a state of its own recompiles and
    * re-JITs every generated class the parent already has (measured
    * on 4 vCPUs at `local[32]`: warm graph_label_prop at sf0.1 took
    * 3.9 s instead of 2.3 s). The clone's artifacts are a copy of the
    * parent's, so the parent's classloader serves both. This is the
    * same classloader-keyed cache that [[sizeCodegenCache]] sizes. */
  def cloneSession(spark: org.apache.spark.sql.SparkSession)
      : org.apache.spark.sql.SparkSession = {
    val clone = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .cloneSession()
    shareArtifacts(spark, clone)
    clone
  }

  /** Run `clone`'s jobs under `parent`'s job-artifact state (see
    * [[cloneSession]]). The clone's lazy state is read first, so no
    * later first read can rebuild it. */
  def shareArtifacts(parent: org.apache.spark.sql.SparkSession,
      clone: org.apache.spark.sql.SparkSession): Unit = {
    val Seq(p, c) = Seq(parent, clone).map(_.asInstanceOf[
      org.apache.spark.sql.classic.SparkSession].sessionState.artifactManager)
    val state = classOf[org.apache.spark.sql.artifact.ArtifactManager]
      .getDeclaredField("state")
    state.setAccessible(true)
    c.state
    state.set(c, p.state)
  }

  /** The clone of the starting session a streaming query runs in. */
  def streamSession(q: org.apache.spark.sql.streaming.StreamingQuery)
      : org.apache.spark.sql.SparkSession =
    q.asInstanceOf[org.apache.spark.sql.execution.streaming.runtime
      .StreamingQueryWrapper].streamingQuery.sparkSessionForStream

  /** Capacity the engine gives Spark's compiled-class cache,
    * `spark.sql.codegen.cache.maxEntries` (Spark's default: 100).
    *
    * The cache is one LRU per JVM keyed by (context classloader,
    * source), so each whole-stage class is held twice: once under the
    * driver's loader (`WholeStageCodegenExec.doExecute` compiles it to
    * check it) and once under the session's executor loader (the
    * tasks). The five queries of the benchmark's batch need about 135
    * entries per pass, so at 100 every class was evicted before its
    * next use and each warm pass recompiled (and re-JITted) 3–43
    * classes per query. At 1000 warm passes compile nothing. The
    * Service mix, while its int/long literals still compiled classes
    * per key (before [[graft.plans.StableCodegen]]), compiled 424
    * classes in its timed phase at 1000, 424 at 4000 and 603 at 300.
    * Entries are small: generated source averages 4.6 K chars (p95
    * 15.5 K, max 40.6 K) and bytecode 2.1 KB (p95 7.1 KB). */
  val CodegenCacheEntries = 1000

  /** Size the codegen cache of the JVM the active SparkContext runs
    * in: set [[CodegenCacheEntries]] on the context's own conf unless
    * `spark.sql.codegen.cache.maxEntries` is already set there, so a
    * value given at launch wins. `GraftExtensions` calls this before
    * the session's `SharedState` copies the context conf; Spark's
    * `CodeGenerator` reads the static key once per JVM, through
    * `SQLConf.get`, when it first generates code. A JVM that generated
    * code before its first graft session keeps the capacity it read
    * then (Spark's 100 unless set). */
  def sizeCodegenCache(): Unit =
    org.apache.spark.SparkContext.getActive.foreach(sc =>
      sizeCodegenCache(sc.conf))

  def sizeCodegenCache(conf: org.apache.spark.SparkConf): Unit =
    conf.setIfMissing(
      org.apache.spark.sql.internal.StaticSQLConf.CODEGEN_CACHE_MAX_ENTRIES.key,
      CodegenCacheEntries.toString)

  /** At most `n` rows of `df`, run from the physical plan of `df`'s own
    * `QueryExecution`: no second Dataset is built, so nothing is
    * analyzed, optimized or planned again, and the plan that ran is the
    * plan `df` shows. `executeTake` scans partitions incrementally, as
    * `CollectLimit` does (under AQE, `AdaptiveSparkPlanExec.executeTake`
    * runs the final plan's). The run is one SQL execution carrying
    * `df`'s `QueryExecution`, so `QueryExecutionListener`s see it as a
    * `collect`. A negative `n` fails with Spark's own analysis error
    * for `df.limit(n)`. */
  private def take(df: org.apache.spark.sql.DataFrame, n: Int)
      : Array[org.apache.spark.sql.catalyst.InternalRow] = {
    if (n < 0) df.limit(n) // throws Spark's error for a negative limit
    val qe = df.queryExecution
    org.apache.spark.sql.execution.SQLExecution.withNewExecutionId(
        qe, Some("collect")) {
      qe.executedPlan.resetMetrics()
      qe.executedPlan.executeTake(n)
    }
  }

  /** [[take]], decoded with the frame's own row encoder, as
    * `df.limit(n).collect()` decodes. */
  def takeRows(df: org.apache.spark.sql.DataFrame, n: Int)
      : Array[org.apache.spark.sql.Row] = {
    val fromRow = df.asInstanceOf[org.apache.spark.sql.classic.DataFrame]
      .exprEnc.resolveAndBind(df.queryExecution.analyzed.output)
      .createDeserializer()
    take(df, n).map(fromRow)
  }

  /** [[take]], one JSON object per row, written by the generator and
    * options `Dataset.toJSON` uses, so the strings are those of
    * `df.limit(n).toJSON.collect()`: null fields omitted, dates,
    * timestamps and escaping alike. */
  def takeJson(df: org.apache.spark.sql.DataFrame, n: Int): Array[String] = {
    val rows = take(df, n)
    val writer = new java.io.CharArrayWriter()
    val gen = new org.apache.spark.sql.catalyst.json.JacksonGenerator(
      df.schema, writer,
      new org.apache.spark.sql.catalyst.json.JSONOptions(
        Map.empty[String, String],
        df.queryExecution.sparkSession.sessionState.conf.sessionLocalTimeZone))
    try rows.map { row =>
      writer.reset()
      gen.write(row)
      gen.flush()
      writer.toString
    } finally gen.close()
  }

  /** Block until every event posted so far has reached the context's
    * listeners (package-private `LiveListenerBus.waitUntilEmpty`), so a
    * job count read next includes the jobs already run. */
  def drainListeners(sc: org.apache.spark.SparkContext): Unit =
    sc.listenerBus.waitUntilEmpty()

  /** True iff a string type still compares binary (UTF8_BINARY) —
    * `StringType.supportsBinaryEquality` is private[sql]; graft's
    * ci-collation rule needs it to wrap each comparison exactly once. */
  def comparesBinary(t: org.apache.spark.sql.types.DataType): Boolean =
    t match {
      case s: org.apache.spark.sql.types.StringType =>
        s.supportsBinaryEquality
      case _ => false
    }
}
