package graft.plans

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BinaryComparison, Expression, In, InSet, LeafExpression, Literal, Predicate}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, CodeGenerator, ExprCode, JavaCode}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.{BaseLimitExec, FilterExec, GlobalLimitExec, LocalLimitExec, SparkPlan}
import org.apache.spark.sql.types.{ByteType, DataType, DateType, DoubleType, FloatType, IntegerType, LongType, ShortType, TimestampType}

import graft.functions.VectorFunctions.UnaryEvalBridge

/** Physical-plan rule that makes the Java Spark generates for a query
  * depend on the query's shape only, so that requests of one shape
  * with different keys share compiled classes. Spark's codegen cache
  * is keyed by generated source; two things put per-request values
  * into that source:
  *
  *  - numeric, date and timestamp literals, which `Literal.doGenCode`
  *    writes into the Java text (string and decimal literals already
  *    go through the `references` array). Each comparison literal in a
  *    `FilterExec` condition becomes a [[BoundLiteral]];
  *  - `InSet` over an int, short, byte or date column (Catalyst's
  *    `OptimizeIn` form of an `IN` list of more than 10 values), whose
  *    codegen writes the values as the case labels of a `switch`. Each
  *    such `InSet` in a `FilterExec` condition becomes a [[BoundInSet]],
  *    whose code reads the set through the `references` array, as
  *    `InSet` already does for bigint and string columns;
  *  - limit counters, which `BaseLimitExec` names `_limit_counter_<n>`
  *    from a JVM-wide sequence, so even a repeated limited query
  *    compiles anew. Each limit node becomes an
  *    [[OrdinalLocalLimitExec]] or [[OrdinalGlobalLimitExec]], whose
  *    counter is named by its ordinal in the plan.
  *
  * Plan text, results, canonical plans (so exchange reuse decides as
  * before) and scan pushdown are unchanged: `FileSourceScanExec` keeps
  * its `Literal` filters. Injected before `CollapseCodegenStages` via
  * `preColumnarTransitions`, which runs both in the non-adaptive
  * preparations and in AQE's per-stage rules. */
object StableCodegen extends Rule[SparkPlan] {

  override def apply(plan: SparkPlan): SparkPlan = {
    // every limit of the tree is numbered, so ordinals are unique in
    // each codegen stage built from it
    var ordinal = -1
    plan.transformUp {
      case f: FilterExec => f.copy(condition = bindLiterals(f.condition))
      case l: LocalLimitExec =>
        ordinal += 1
        new OrdinalLocalLimitExec(l.limit, l.child, ordinal)
      case g: GlobalLimitExec =>
        ordinal += 1
        new OrdinalGlobalLimitExec(g.limit, g.child, g.offset, ordinal)
    }
  }

  private def bindLiterals(condition: Expression): Expression =
    condition.transformUp {
      case c: BinaryComparison => c.withNewChildren(c.children.map(bind))
      case in: In => in.copy(list = in.list.map(bind))
      case s: InSet if s.hset.nonEmpty && switchable(s.child.dataType) =>
        BoundInSet(s.child, s.hset)
    }

  private def bind(e: Expression): Expression = e match {
    case Literal(v, t) if v != null && bindable(t) => BoundLiteral(v, t)
    case other => other
  }

  /** The types whose `InSet` Spark can generate as a `switch`. */
  private def switchable(t: DataType): Boolean = t match {
    case IntegerType | ShortType | ByteType | DateType => true
    case _ => false
  }

  private def bindable(t: DataType): Boolean = t match {
    case IntegerType | LongType | ShortType | ByteType | DateType |
        TimestampType | FloatType | DoubleType => true
    case _ => false
  }
}

/** A non-null literal whose value the generated code reads from the
  * `references` array into a field, so the source does not depend on
  * it. Evaluates, prints, renders as SQL and canonicalizes exactly as
  * the `Literal` it replaces. */
case class BoundLiteral(value: Any, dataType: DataType)
    extends LeafExpression {
  private lazy val literal = Literal(value, dataType)

  override def nullable: Boolean = false
  override def foldable: Boolean = true
  override def eval(input: InternalRow): Any = value
  override def toString: String = literal.toString
  override def sql: String = literal.sql
  override lazy val canonicalized: Expression = literal

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode)
      : ExprCode = {
    val javaType = CodeGenerator.javaType(dataType)
    val ref = ctx.addReferenceObj("boundLiteral", value,
      CodeGenerator.boxedType(dataType))
    val field = ctx.addMutableState(javaType, "boundLiteral",
      f => s"$f = $ref.${javaType}Value();", forceInline = true)
    ExprCode.forNonNullValue(JavaCode.global(field, dataType))
  }
}

/** An `InSet` whose generated code tests membership in the value set
  * through the codegen bridge (the expression itself, held in the
  * `references` array) instead of a `switch` over the values, so the
  * source does not depend on them. Evaluates, prints, renders as SQL
  * and canonicalizes exactly as the (non-empty) `InSet` it replaces. */
case class BoundInSet(child: Expression, hset: Set[Any])
    extends UnaryEvalBridge with Predicate {
  private lazy val inSet = InSet(child, hset)
  private lazy val hasNull = hset.contains(null)

  override def nullable: Boolean = inSet.nullable
  override def nullSafeEval(value: Any): Any =
    if (hset.contains(value)) true else if (hasNull) null else false
  override def toString: String = inSet.toString
  override def simpleString(maxFields: Int): String =
    inSet.simpleString(maxFields)
  override def sql: String = inSet.sql
  override lazy val canonicalized: Expression = inSet.canonicalized
  override protected def withNewChildInternal(c: Expression): BoundInSet =
    copy(child = c)
}

/** Spark's limit nodes with the codegen counter named by `ordinal`, the
  * node's position among the limits of the plan it was prepared in.
  * Each prints, executes and canonicalizes as the Spark node it
  * extends; equality includes the ordinal, so a transform that
  * renumbers a node keeps the new number. */
sealed trait OrdinalLimit extends BaseLimitExec {
  def ordinal: Int
  override lazy val countTerm: String = s"_plan_limit_counter_$ordinal"
  override protected def otherCopyArgs: Seq[AnyRef] = Seq(Int.box(ordinal))
  override def canEqual(o: Any): Boolean = o.getClass == getClass
  override def equals(o: Any): Boolean = o match {
    case l: OrdinalLimit => l.ordinal == ordinal && super.equals(l)
    case _ => false
  }
}

final class OrdinalLocalLimitExec(n: Int, c: SparkPlan, val ordinal: Int)
    extends LocalLimitExec(n, c) with OrdinalLimit {
  override def nodeName: String = "LocalLimit"
  override protected def withNewChildInternal(newChild: SparkPlan)
      : SparkPlan = new OrdinalLocalLimitExec(limit, newChild, ordinal)
  override protected def doCanonicalize(): SparkPlan =
    LocalLimitExec(limit, child.canonicalized)
}

final class OrdinalGlobalLimitExec(n: Int, c: SparkPlan, o: Int,
    val ordinal: Int) extends GlobalLimitExec(n, c, o) with OrdinalLimit {
  override def nodeName: String = "GlobalLimit"
  override protected def withNewChildInternal(newChild: SparkPlan)
      : SparkPlan = new OrdinalGlobalLimitExec(limit, newChild, offset, ordinal)
  override protected def doCanonicalize(): SparkPlan =
    GlobalLimitExec(limit, child.canonicalized, offset)
}
