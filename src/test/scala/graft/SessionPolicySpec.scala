package graft

import org.scalatest.funsuite.AnyFunSuite

/** `Engine.sessionConf` is the one session policy every main and the
  * test suite start from. These checks read the conf only; no session
  * or cluster is started. */
class SessionPolicySpec extends AnyFunSuite {

  private val shared = Map(
    "spark.sql.extensions" -> classOf[GraftExtensions].getName,
    "spark.sql.autoBroadcastJoinThreshold" -> (64L << 20).toString,
    "spark.rdd.compress" -> "true",
    "spark.sql.adaptive.enabled" -> "true",
    "spark.sql.adaptive.coalescePartitions.enabled" -> "true",
    "spark.sql.adaptive.skewJoin.enabled" -> "true",
    "spark.sql.session.timeZone" -> "UTC",
    "spark.sql.warehouse.dir" -> "/tmp/graft-warehouse",
    "spark.ui.enabled" -> "false")

  test("a local[n] master gets the shared policy and no executor " +
      "settings") {
    val conf = Engine.sessionConf("local[4]", 4)
    assert(conf.get("spark.master") === "local[4]")
    assert(conf.get("spark.sql.shuffle.partitions") === "4")
    shared.foreach { case (k, v) => assert(conf.get(k) === v, k) }
    assert(!conf.contains("spark.executor.extraClassPath"))
    assert(!conf.contains("spark.executor.memory"))
  }

  test("a local-cluster master also gets the graft classes and 6g per " +
      "executor") {
    val conf = Engine.sessionConf("local-cluster[4,8,8192]", 32)
    assert(conf.get("spark.master") === "local-cluster[4,8,8192]")
    assert(conf.get("spark.sql.shuffle.partitions") === "32")
    shared.foreach { case (k, v) => assert(conf.get(k) === v, k) }
    val classes = new java.io.File(conf.get("spark.executor.extraClassPath"))
    assert(classes.isAbsolute)
    assert(classes.toPath.endsWith("target/scala-2.13/classes"))
    assert(conf.get("spark.executor.memory") === "6g")
  }
}
