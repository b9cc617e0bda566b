package graft

import org.apache.spark.metrics.source.CodegenMetrics

/** Minimal same-day A/B timer: run declared queries N times against
  * a corpus and print per-rep wall seconds (first rep includes scan
  * warm-up; compare min-of-reps across code variants). Execution is
  * forced through the noop sink exactly like Bench — count() would
  * let Catalyst prune columns/operators (drop a sort, skip a
  * projection) and time a DIFFERENT plan than the one Bench
  * certifies, making an A/B of a change to the pruned path a false
  * wash. Each rep also prints `compiles=<n>`, the classes Spark's
  * codegen compiled for it: a warm rep above 0 recompiled code an
  * earlier rep already had. A comma-separated list runs the queries
  * in that order on every rep, so a rep is one pass over them. Dev
  * tooling only.
  *
  * Usage: TimeQuery <sfDir> <queryName>[,<queryName>…] [reps] */
object TimeQuery {
  def main(args: Array[String]): Unit = {
    val (sfDir, names) = (args(0), args(1).split(",").toSeq)
    val reps = if (args.length > 2) args(2).toInt else 3
    val spark = Engine.session()
    graft.sources.Tables.register(spark, sfDir)
    for (r <- 1 to reps; name <- names) {
      val c0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      val t0 = System.nanoTime()
      SparkEntry.queries(name)(spark, sfDir)
        .write.format("noop").mode("overwrite").save()
      val sec = (System.nanoTime() - t0) / 1e9
      val compiles = CodegenMetrics.METRIC_COMPILATION_TIME.getCount - c0
      println(f"[time-query] $name rep=$r sec=$sec%.2f compiles=$compiles")
    }
    spark.stop()
    sys.exit(0)
  }
}
