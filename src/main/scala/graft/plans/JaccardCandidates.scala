package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Attribute
import org.apache.spark.sql.catalyst.plans.QueryPlan
import org.apache.spark.sql.catalyst.plans.logical.{LeafNode, LogicalPlan,
  Statistics}
import org.apache.spark.sql.execution.{LeafExecNode, SparkPlan, SparkStrategy}
import org.apache.spark.sql.graft.bridge

import graft.operators.PrefixFilter

/** The candidate stage of the `text_jaccard` join rewrite
  * ([[graft.RewriteJaccardThresholdJoin]]) as a plan node, so that the
  * stage measures the corpus when the join executes, not when it is
  * optimized: optimizing, planning and explaining the join start no
  * Spark job, and every execution measures the data it reads.
  *
  * The node holds two analyzed frames, not children: `base`
  * (`__graft_id`, `__graft_gs`), the content-id docs of both join
  * sides, and `leftGrams` (`__graft_text`, `__graft_gs`), the left
  * input that trains the stop-gram model. Its output is the distinct
  * candidate pairs `(__graft_id_a, __graft_id_b)` of
  * [[PrefixFilter.joinCandidates]]. */
object JaccardCandidates {

  case class JaccardCandidatesPlan(output: Seq[Attribute], base: LogicalPlan,
      leftGrams: LogicalPlan, t: Double)(val spark: SparkSession)
      extends LeafNode {
    override protected def otherCopyArgs: Seq[AnyRef] = spark :: Nil
    override def computeStats(): Statistics = Statistics(base.stats.sizeInBytes)
    override def simpleString(maxFields: Int): String =
      s"JaccardCandidates ${output.mkString(", ")}, t=$t"
  }

  /** Planner strategy, injected into every session by
    * [[graft.GraftExtensions]]. */
  object JaccardStrategy extends SparkStrategy {
    override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
      case p: JaccardCandidatesPlan => JaccardCandidatesExec(p.output, p) :: Nil
      case _ => Nil
    }
  }

  /** Runs `node`'s candidate stage once, on the first `execute()`, and
    * serves its rows. Once it has run, the plan that produced the
    * candidates prints under the node, so an executed plan shows the
    * regime the stage chose. */
  case class JaccardCandidatesExec(output: Seq[Attribute],
      @transient node: JaccardCandidatesPlan) extends LeafExecNode {

    @transient @volatile private var producedBy: Seq[SparkPlan] = Nil

    @transient private lazy val pairs: RDD[InternalRow] = {
      val (df, plan) = PrefixFilter.joinCandidates(
        bridge.ofRows(node.spark, node.base),
        bridge.ofRows(node.spark, node.leftGrams), node.t)
      val rdd = df.queryExecution.toRdd
      producedBy = Seq(plan)
      rdd
    }

    override def innerChildren: Seq[QueryPlan[_]] = producedBy

    override def simpleString(maxFields: Int): String =
      node.simpleString(maxFields)

    override protected def doExecute(): RDD[InternalRow] = pairs
  }
}
