package graft

import org.scalatest.funsuite.AnyFunSuite

/** [[DumpPlans.mask]]: the run-specific text of a plan becomes the same
  * on every run, and what tells two things apart stays apart. */
class DumpPlansSpec extends AnyFunSuite {

  test("expression ids are renumbered by first appearance") {
    assert(DumpPlans.mask(
      "Output [3]: [l_quantity#230L, l_tax#231, l_quantity#230L]") ===
      "Output [3]: [l_quantity#0L, l_tax#1, l_quantity#0L]")
  }

  test("plan ids are renumbered") {
    assert(DumpPlans.mask(
      "Arguments: hashpartitioning(k#41L, 4), ENSURE_REQUIREMENTS, " +
        "[plan_id=73]; ReusedExchange [plan_id=76], [plan_id=73]") ===
      "Arguments: hashpartitioning(k#0L, 4), ENSURE_REQUIREMENTS, " +
        "[plan_id=0]; ReusedExchange [plan_id=1], [plan_id=0]")
  }

  test("RDD ids are renumbered") {
    assert(DumpPlans.mask(
      "Scan ExistingRDD: MapPartitionsRDD[69] at localCheckpoint at " +
        "Iterate.scala:72, MapPartitionsRDD[121] at localCheckpoint") ===
      "Scan ExistingRDD: MapPartitionsRDD[0] at localCheckpoint at " +
        "Iterate.scala:72, MapPartitionsRDD[1] at localCheckpoint")
  }

  test("broadcast ids are renumbered") {
    assert(DumpPlans.mask(
      "Condition : bloommightcontain(l_suppkey#28L, Broadcast(68)) AND " +
        "wordshingles(text#46, 5), Broadcast(81)") ===
      "Condition : bloommightcontain(l_suppkey#0L, Broadcast(0)) AND " +
        "wordshingles(text#1, 5), Broadcast(1)")
  }

  test("temp-path UUIDs are masked") {
    assert(DumpPlans.mask("Location: InMemoryFileIndex [file:/tmp/" +
      "graft-aggstate-f0a3b224-ff58-40b6-b3a2-e380833c21c2]") ===
      "Location: InMemoryFileIndex [file:/tmp/graft-aggstate-<uuid>]")
  }

  test("lambda class suffixes and identity hashes are cut") {
    assert(DumpPlans.mask("Arguments: graft.operators.Multimodal$$$" +
      "Lambda$6973/0x00007fedd5983180@5e385492, obj#2839: x") ===
      "Arguments: graft.operators.Multimodal$$$Lambda, obj#0: x")
  }

  test("a line with nothing run-specific is unchanged") {
    val line = "(3) HashAggregate [codegen id : 1]"
    assert(DumpPlans.mask(line) === line)
  }
}
