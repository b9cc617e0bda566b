package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.graft.bridge
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.streaming.StreamingQueryListener.{
  QueryProgressEvent, QueryStartedEvent, QueryTerminatedEvent}
import org.apache.spark.sql.types.StructType

/** File-stream source over one table of a testdata/rehearsal dir,
  * robust to BOTH physical layouts a table arrives in:
  *
  *  - the driver's testdata writes each table as a SINGLE FILE
  *    `<dir>/<table>.parquet` — a file-stream source must then watch
  *    `<dir>` with a `pathGlobFilter` on the file name (a file path is
  *    not a watchable directory);
  *  - Spark-written corpora (any real pipeline)
  *    make `<table>.parquet` a DIRECTORY of part files — the glob
  *    filter on the table name then matches NOTHING (it tests file
  *    names, and the files are `part-*.parquet`), which silently
  *    streamed ZERO rows: every docs-based streaming twin produced an
  *    empty sink at the sf1 rehearsal while the batch side read the
  *    same tables fine (`Tables.load` handles both layouts).
  *
  * One existence probe through the Hadoop FS API (works on any
  * supported filesystem, not just local disk) picks the branch; the
  * probe is driver-side and once per stream construction. */
object StreamSource {

  def table(spark: SparkSession, sfDir: String, name: String,
      schema: StructType): DataFrame = {
    val path = s"$sfDir/$name.parquet"
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    val isDir =
      try fs.getFileStatus(p).isDirectory
      catch { case _: java.io.FileNotFoundException => false }
    val rd = spark.readStream.schema(schema)
    if (isDir) rd.parquet(path)
    else rd.option("pathGlobFilter", s"$name.parquet").parquet(sfDir)
  }

  /** Drive an append-mode stream synchronously to completion through a
    * FILE sink and expose the result as a temp view named `sinkName`
    * (same consumption surface as the former memory sinks).
    *
    * The memory sink keeps every emitted row in DRIVER memory — fine
    * for a bounded aggregate, but an output that scales with the
    * corpus crosses `spark.driver.maxResultSize` long before state
    * does: at the sf1 rehearsal the embedding pair stream shipped
    * 1.2 GiB of in-bucket pair rows to the driver and died. A file
    * sink keeps unbounded output distributed on executors/storage —
    * the shape a production pipeline sinks to anyway — and the
    * downstream epoch-close aggregation reads it back as an ordinary
    * parquet table. The explicit read schema covers the zero-row
    * stream (no part files to infer from).
    *
    * The query runs in a clone of the starting session. With an
    * artifact state of its own, each run's tasks got a new classloader
    * and recompiled every generated class (the codegen cache is keyed
    * by classloader), so the clone takes the starting session's state:
    * `onQueryStarted` runs on the stream thread before the first batch. */
  def runToFileSink(spark: SparkSession, ds: org.apache.spark.sql.Dataset[_],
      sinkName: String): String = {
    val df = ds.toDF()
    val dir = java.nio.file.Files
      .createTempDirectory(s"graft_sink_$sinkName").toString
    val s = df.sparkSession
    val share = new StreamingQueryListener {
      override def onQueryStarted(e: QueryStartedEvent): Unit =
        Option(s.streams.get(e.id)).foreach(q =>
          bridge.shareArtifacts(s, bridge.streamSession(q)))
      override def onQueryProgress(e: QueryProgressEvent): Unit = ()
      override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
    }
    s.streams.addListener(share)
    val q = try df.writeStream
      .outputMode("append")
      .format("parquet")
      .option("path", s"$dir/data")
      .option("checkpointLocation", s"$dir/chk")
      .start()
    finally s.streams.removeListener(share)
    q.processAllAvailable()
    q.stop()
    spark.read.schema(df.schema).parquet(s"$dir/data")
      .createOrReplaceTempView(sinkName)
    sinkName
  }
}
