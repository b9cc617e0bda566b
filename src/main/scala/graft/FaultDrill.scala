package graft

/** Fault-injection rehearsal (dev tooling, not part of the engine):
  * run one gate query on `local-cluster[4,8,8192]` — four REAL
  * executor JVMs — with the reliable-checkpoint seam on, SIGKILL one
  * executor mid-job, and require the query to COMPLETE with output
  * that matches a fault-free replay.
  *
  * What this exercises, that no single-JVM run can: the documented
  * weakness of `localCheckpoint` (blocks are not recomputable — losing
  * an executor mid-iteration fails the job) and the claim that the
  * opt-in reliable mode (`spark.graft.reliableCheckpoint=true` + a
  * checkpoint dir, Iterate.materialize) survives exactly that loss:
  * reliable checkpoint files live in the checkpoint dir, so the stage
  * retry after the executor's shuffle/
  * storage loss RECOMPUTES from those files instead of dying on a
  * missing local block. Interval=1 makes every loop round reliable —
  * the max-survivability end of the cadence trade, the right setting
  * for a drill whose point is the kill landing between rounds.
  *
  * Usage: FaultDrill <sfDir> <queryName> <outDir> <killAfterSec>
  * Emits one line: `[fault-drill] <name> rows=N killed=<pid>` on
  * success; a thrown job failure IS the drill failing.
  */
object FaultDrill {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val name = args(1)
    val outDir = args(2)
    val killAfterSec = if (args.length > 3) args(3).toInt else 10
    val spark = Engine.session("local-cluster[4,8,8192]", 32)
    spark.conf.set(graft.operators.Iterate.ReliableKey, "true")
    spark.conf.set(graft.operators.Iterate.IntervalKey, "1")
    spark.sparkContext.setCheckpointDir("/tmp/graft_fault_ckpt")
    graft.sources.Tables.register(spark, sfDir)

    @volatile var killed: String = "none"
    // Scope the kill to THIS application's executors: every
    // CoarseGrainedExecutorBackend is launched with `--app-id <appId>`
    // on its command line, so matching both tokens can never hit an
    // executor belonging to an unrelated Spark app sharing the box
    // (nor the driver JVM, whose cmdline carries neither). The `[d]`
    // character class keeps the pattern from matching the bash
    // wrapper process whose own cmdline carries this regex.
    val appId = spark.sparkContext.applicationId
    val killer = new Thread(() => {
      Thread.sleep(killAfterSec * 1000L)
      val out = new java.io.ByteArrayOutputStream()
      val p = new ProcessBuilder("bash", "-c",
        s"pgrep -f 'CoarseGrainedExecutorBackend.*--app-i[d] $appId' " +
          "| head -1").start()
      p.getInputStream.transferTo(out)
      p.waitFor()
      val pid = out.toString.trim
      if (pid.nonEmpty) {
        new ProcessBuilder("kill", "-9", pid).start().waitFor()
        killed = pid
        System.err.println(s"[fault-drill] SIGKILLed executor pid $pid " +
          s"at t=+${killAfterSec}s")
      } else System.err.println("[fault-drill] no executor pid found")
    })
    killer.setDaemon(true)
    killer.start()

    SparkEntry.queries(name)(spark, sfDir)
      .coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name")
    val rows = spark.read.parquet(s"$outDir/$name").count()
    println(s"[fault-drill] $name rows=$rows killed=$killed")
    spark.stop()
  }
}
