package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.execution.SparkStrategy
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Ascending, Attribute, Expression, GenericInternalRow, JoinedRow, SortOrder, UnsafeProjection}
import org.apache.spark.sql.catalyst.plans.logical.{BinaryNode, LogicalPlan}
import org.apache.spark.sql.catalyst.plans.physical.{ClusteredDistribution, Distribution}
import org.apache.spark.sql.execution.{BinaryExecNode, SparkPlan}
import org.apache.spark.sql.graft.bridge

/** AS-OF JOIN — a whole-operator extension (SURVEY.md §7.1 path (c):
  * custom `LogicalPlan` + `Strategy` + `SparkPlan`), for the one join
  * shape Spark SQL cannot express as a single operator: match each left
  * row to the LATEST right row with the same key whose timestamp is ≤
  * the left timestamp (optionally within a tolerance).
  *
  * Physical algorithm: both sides are hash-distributed by key and sorted
  * (key, ts) — EnsureRequirements inserts the exchanges/sorts — then a
  * single forward merge pass per partition emits each left row with the
  * last right row seen for its key. O(n log n) in the shuffle, O(n)
  * merge, no row buffering beyond one candidate per key: survives 100 TB
  * where the window-function rewrite (union + last() over unbounded
  * window) would carry the whole right side through every frame.
  */
object AsOfJoin {

  /** Logical node: output = left ++ right (right side nullable iff left
    * outer). */
  case class AsOfJoinPlan(
      left: LogicalPlan,
      right: LogicalPlan,
      leftKey: Expression,
      rightKey: Expression,
      leftTs: Expression,
      rightTs: Expression,
      toleranceMicros: Long,
      isLeftOuter: Boolean)
      extends BinaryNode {
    override def output: Seq[Attribute] =
      if (isLeftOuter) left.output ++ right.output.map(_.withNullability(true))
      else left.output ++ right.output
    override protected def withNewChildrenInternal(
        newLeft: LogicalPlan, newRight: LogicalPlan): LogicalPlan =
      copy(left = newLeft, right = newRight)
  }

  /** Planner strategy, injected into every session by
    * [[graft.GraftExtensions]] through
    * `SparkSessionExtensions.injectPlannerStrategy`. */
  object AsOfStrategy extends SparkStrategy {
    override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
      case AsOfJoinPlan(l, r, lk, rk, lt, rt, tol, outer) =>
        AsOfJoinExec(planLater(l), planLater(r), lk, rk, lt, rt, tol,
          outer) :: Nil
      case _ => Nil
    }
  }

  case class AsOfJoinExec(
      left: SparkPlan,
      right: SparkPlan,
      leftKey: Expression,
      rightKey: Expression,
      leftTs: Expression,
      rightTs: Expression,
      toleranceMicros: Long,
      isLeftOuter: Boolean)
      extends BinaryExecNode {

    override def output: Seq[Attribute] =
      if (isLeftOuter) left.output ++ right.output.map(_.withNullability(true))
      else left.output ++ right.output

    // co-partition by key on both sides …
    override def requiredChildDistribution: Seq[Distribution] =
      Seq(ClusteredDistribution(Seq(leftKey)),
        ClusteredDistribution(Seq(rightKey)))

    // … and sort each partition by (key, ts)
    override def requiredChildOrdering: Seq[Seq[SortOrder]] = Seq(
      Seq(SortOrder(leftKey, Ascending), SortOrder(leftTs, Ascending)),
      Seq(SortOrder(rightKey, Ascending), SortOrder(rightTs, Ascending)))

    override def outputOrdering: Seq[SortOrder] =
      Seq(SortOrder(leftKey, Ascending), SortOrder(leftTs, Ascending))

    override protected def doExecute(): RDD[InternalRow] = {
      // capture only serializable expression/attribute state; generated
      // projections must be instantiated per partition on the executor
      val lOut = left.output
      val rOut = right.output
      val lk0 = leftKey
      val rk0 = rightKey
      val lt0 = leftTs
      val rt0 = rightTs
      val keyDt = leftKey.dataType
      val nRight = right.output.size
      val tol = toleranceMicros
      val outer = isLeftOuter

      val allOut = lOut ++ rOut
      // project through the nullability-ADJUSTED output attributes: for
      // left-outer, null-padded right fields must go through writers that
      // honor nulls (a non-nullable getLong on a null slot silently
      // reads 0)
      val outAttrs = output

      left.execute().zipPartitions(right.execute()) { (lIter, rIter) =>
        val lKeyProj = UnsafeProjection.create(Seq(lk0), lOut)
        val rKeyProj = UnsafeProjection.create(Seq(rk0), rOut)
        val lTsProj = UnsafeProjection.create(Seq(lt0), lOut)
        val rTsProj = UnsafeProjection.create(Seq(rt0), rOut)
        // downstream operators require UnsafeRow output — flatten the
        // JoinedRow wrapper through a projection (SortMergeJoin pattern)
        val outProj = UnsafeProjection.create(outAttrs, allOut)
        val keyOrdering = org.apache.spark.sql.catalyst.expressions
          .RowOrdering.createNaturalAscendingOrdering(Seq(keyDt))
        new Iterator[InternalRow] {
          private val joined = new JoinedRow
          private val nullRight = new GenericInternalRow(nRight)
          private val rBuf = rIter.buffered
          // latest right row (copied — child iterators reuse their row
          // buffers) + its key/ts, valid for the current key run
          private var candidate: InternalRow = _
          private var candKey: InternalRow = _
          private var candTs: Long = 0L
          private var pending: InternalRow = _
          private var done = false

          // lazy advance: `pending` (a JoinedRow over the live left row
          // and our stable candidate copy) is produced here and consumed
          // by next() BEFORE the next advance, so nothing is clobbered
          private def ensure(): Unit = {
            if (pending != null || done) return
            while (pending == null && lIter.hasNext) {
              val l = lIter.next()
              val lkRow = lKeyProj(l)
              val ltRow = lTsProj(l)
              // SQL join semantics: a null key or ts never matches
              if (lkRow.isNullAt(0) || ltRow.isNullAt(0)) {
                if (outer) pending = joined(l, nullRight)
              } else {
                val lk = lkRow.copy()
                val lts = ltRow.getLong(0)
                // advance right through rows with (key, ts) ≤ (lk, lts);
                // null-keyed/null-ts right rows are never candidates
                var advancing = true
                while (advancing && rBuf.hasNext) {
                  val rk = rKeyProj(rBuf.head)
                  if (rk.isNullAt(0) || rTsProj(rBuf.head).isNullAt(0)) {
                    rBuf.next()
                  } else {
                    val kc = keyOrdering.compare(rk, lk)
                    if (kc < 0) rBuf.next()
                    else if (kc == 0 &&
                        rTsProj(rBuf.head).getLong(0) <= lts) {
                      val r = rBuf.next().copy()
                      candidate = r
                      candKey = rKeyProj(r).copy()
                      candTs = rTsProj(r).getLong(0)
                    } else advancing = false
                  }
                }
                val matched = candidate != null &&
                  keyOrdering.compare(candKey, lk) == 0 &&
                  candTs <= lts &&
                  (tol <= 0 || lts - candTs <= tol)
                if (matched) pending = joined(l, candidate)
                else if (outer) pending = joined(l, nullRight)
                // inner + no match: skip this left row, keep scanning
              }
            }
            if (pending == null) done = true
          }

          override def hasNext: Boolean = { ensure(); pending != null }
          override def next(): InternalRow = {
            ensure()
            val out = outProj(pending)
            pending = null
            out
          }
        }
      }
    }

    override protected def withNewChildrenInternal(
        newLeft: SparkPlan, newRight: SparkPlan): SparkPlan =
      copy(left = newLeft, right = newRight)
  }

  /** Public API: as-of join two DataFrames. `tolerance` ≤ 0 = unbounded
    * look-back. The session must carry [[graft.GraftExtensions]] (every
    * `Engine.session` does), which plans the node. */
  def join(
      left: DataFrame,
      right: DataFrame,
      leftKey: Column,
      rightKey: Column,
      leftTs: Column,
      rightTs: Column,
      toleranceMicros: Long = 0L,
      leftOuter: Boolean = false): DataFrame = {
    val spark = left.sparkSession
    val plan = AsOfJoinPlan(
      bridge.planOf(left), bridge.planOf(right),
      bridge.toExpression(leftKey), bridge.toExpression(rightKey),
      bridge.toExpression(leftTs), bridge.toExpression(rightTs),
      toleranceMicros, leftOuter)
    bridge.ofRows(spark, plan)
  }
}
