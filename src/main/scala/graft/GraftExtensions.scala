package graft

import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{And, AttributeReference, AttributeSet, BitwiseCount, BitwiseXor, Expression, ExpressionInfo, GreaterThan, GreaterThanOrEqual, LessThan, LessThanOrEqual, Literal, PredicateHelper}
import org.apache.spark.sql.catalyst.plans.logical.{Filter, Join, LogicalPlan, Project}
import org.apache.spark.sql.catalyst.plans.Inner
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.{ColumnarRule, SparkPlan}
import org.apache.spark.sql.types.{DoubleType, IntegerType, LongType}

import graft.functions.VectorFunctions
import graft.functions.VectorFunctions.{CosineSimilarity, JaccardSim}
import graft.operators.Banding
import graft.plans.AsOfJoin.{AsOfJoinPlan, AsOfStrategy}
import graft.plans.JaccardCandidates.{JaccardCandidatesPlan, JaccardStrategy}
import graft.plans.StableCodegen

/** The library's cluster-wide integration point: set
  *
  * {{{ spark.sql.extensions=graft.GraftExtensions }}}
  *
  * (or `SparkSession.builder().withExtensions(new GraftExtensions)`)
  * and every session gets, with no per-session setup code:
  *
  *  - the custom Catalyst expressions as SQL functions (`cosine_sim`,
  *    `simhash64`, `shingle_hashes`, …), one entry each in
  *    `VectorFunctions.sqlFunctionBuilders`;
  *  - the as-of-join and Jaccard-candidate planner strategies, the
  *    only way [[graft.plans.AsOfJoin]] and
  *    [[graft.plans.JaccardCandidates]] plans become executable;
  *  - [[PushFilterThroughAsOfJoin]], the optimizer rule that restores
  *    predicate pushdown across the custom join operator (Catalyst's
  *    own pushdown rules don't know the node, so without this a filter
  *    above an as-of join would scan both sides in full);
  *  - a codegen cache sized for the engine's working set
  *    ([[org.apache.spark.sql.graft.bridge.sizeCodegenCache]]), unless
  *    `spark.sql.codegen.cache.maxEntries` is set;
  *  - [[graft.plans.StableCodegen]], the physical rule that keeps
  *    filter comparison literals and limit counters out of the
  *    generated Java, so requests of one shape with different keys
  *    share compiled classes (plan text and pushdown unchanged).
  *  - the opt-in similarity-join rewrites: Hamming and cosine
  *    threshold joins plan as banded equi-joins through
  *    [[graft.operators.Banding]], Jaccard threshold joins through
  *    [[graft.operators.PrefixFilter]].
  *
  * This is the (reference-free) Spark-idiomatic packaging of what the
  * reference wires by hand at site boot
  * (`QueryService.asmx.cs:34-49`): capabilities arrive with the
  * session, not with imperative registration calls.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    org.apache.spark.sql.graft.bridge.sizeCodegenCache()
    VectorFunctions.sqlFunctionBuilders.foreach { case (name, builder) =>
      ext.injectFunction((FunctionIdentifier(name),
        new ExpressionInfo("graft", name), builder))
    }
    ext.injectPlannerStrategy(_ => AsOfStrategy)
    ext.injectPlannerStrategy(_ => JaccardStrategy)
    ext.injectColumnar(_ => new ColumnarRule {
      override def preColumnarTransitions: Rule[SparkPlan] = StableCodegen
    })
    ext.injectOptimizerRule(_ => PushFilterThroughAsOfJoin)
    ext.injectOptimizerRule(_ => PruneColumnsThroughAsOfJoin)
    ext.injectOptimizerRule(sp => RewriteCosineThresholdJoin(sp))
    ext.injectOptimizerRule(sp => RewriteJaccardThresholdJoin(sp))
    ext.injectOptimizerRule(sp => RewriteHammingThresholdJoin(sp))
    // analysis-time (post-hoc resolution), NOT an optimizer rule:
    // collation is a semantic property of the comparison, and optimizer
    // batches like ConvertToLocalRelation may evaluate filters before a
    // late rewrite could reach them
    ext.injectPostHocResolutionRule(sp => MySqlCiCollation(sp))
  }
}

/** OPT-IN MySQL case-insensitive comparison semantics
  * (`spark.graft.mysqlCollation=ci`).
  *
  * The reference's MySQL sites compare strings under a ci collation
  * (utf8mb4's `_ci` defaults), so its `WHERE name = 'ALICE'` matches
  * `'Alice'`; Spark compares binary. This was the ONE input-surface
  * divergence that returned silently different rows instead of failing
  * loudly (README §SQL dialect). Under the flag, every string
  * comparison — `=`, `<=>`, `<`, `<=`, `>`, `>=`, `IN` — over
  * binary-collation operands is rewritten to compare under Spark's
  * own `UTF8_LCASE` collation (proper Unicode case folding, not an
  * ASCII `lower()` wrap) — MySQL's ci contract for the reference's
  * ASCII data. CAVEAT (documented, README §SQL dialect): MySQL's
  * utf8mb4 default `_ci` collations are accent-INsensitive too
  * (`'café' = 'cafe'` under `utf8mb4_0900_ai_ci`) and order by
  * collation weights; `UTF8_LCASE` folds case only, so accented data
  * still returns different membership under the flag than a
  * default-collated MySQL — accent-dependent workloads need explicit
  * normalization.
  *
  * Spark-first mechanics: the rewrite wraps operands in the native
  * [[Collate]] expression, so comparisons stay whole-stage-codegen'd,
  * equi-joins on rewritten keys hash with [[CollationKey]] awareness,
  * and collated equality still reaches data sources as
  * `CollatedEqualTo` pushdown filters. Idempotent by construction:
  * a wrapped operand's type is no longer binary-collation, so the
  * fixed-point optimizer batch matches it once. Scope is comparisons
  * (the silent-divergence hole); ci GROUP BY / ORDER BY / LIKE remain
  * documented divergences — they change representative-row selection,
  * not membership, and stay loud in the README. */
case class MySqlCiCollation(spark: SparkSession) extends Rule[LogicalPlan] {
  import org.apache.spark.sql.catalyst.expressions.{BinaryComparison, Collate, In, ResolvedCollation}

  private def enabled: Boolean = spark.conf
    .getOption("spark.graft.mysqlCollation").exists(_.equalsIgnoreCase("ci"))

  // only operands still comparing binary get wrapped (an explicit
  // user COLLATE, or this rule's own output on a later fixed-point
  // pass, already compares collated)
  private def binaryString(e: Expression): Boolean =
    org.apache.spark.sql.graft.bridge.comparesBinary(e.dataType)

  private def ci(e: Expression): Expression =
    Collate(e, ResolvedCollation("UTF8_LCASE"))

  override def apply(plan: LogicalPlan): LogicalPlan =
    if (!enabled) plan
    else plan.transformAllExpressions {
      case bc: BinaryComparison
          if binaryString(bc.left) && binaryString(bc.right) =>
        bc.withNewChildren(Seq(ci(bc.left), ci(bc.right)))
      case in @ In(v, list)
          if binaryString(v) && list.forall(binaryString) =>
        In(ci(v), list.map(ci))
    }
}

/** Shared by the Jaccard join rewrite and
  * [[graft.operators.PrefixFilter]]: pin SHUFFLE_MERGE on
  * the gram equi-join the rewrite introduced (identified by its
  * __graft_ key columns), directly on the Join node's JoinHint — these
  * rules run AFTER EliminateResolvedHint, so a DataFrame-level .hint()
  * would survive as an unprocessed ResolvedHint and fail planning. The
  * pin exists because the prefix explode multiplies the real row count
  * by the prefix factor while Catalyst keeps the
  * pre-explode sizeInBytes, so an autoBroadcastJoinThreshold decision
  * is made on stats wrong by that factor (measured: a "64 MB" build
  * side that was actually GBs OOMed the broadcast build at the sf1
  * rehearsal). */
private[graft] trait ShuffleJoinPin {
  import org.apache.spark.sql.catalyst.plans.logical.{HintInfo, JoinHint, SHUFFLE_MERGE}
  protected def pinShuffleJoin(plan: LogicalPlan): LogicalPlan =
    plan.transformUp {
      case jn: Join if jn.hint == JoinHint.NONE &&
          jn.condition.exists(_.references.exists(
            _.name.startsWith("__graft_"))) =>
        val hi = Some(HintInfo(strategy = Some(SHUFFLE_MERGE)))
        jn.copy(hint = JoinHint(hi, hi))
    }
}

/** The Hamming and cosine join rewrites: each matches one predicate
  * shape in an inner join's condition, and [[Banding.thresholdJoin]]
  * plans the banded equi-join for both. A rule keeps its opt-in flag,
  * its matcher and its band geometry; the `__graft_` guard keeps it
  * from re-matching its own output on the optimizer's next fixed-point
  * iteration. */
private[graft] abstract class BandedThresholdJoin
    extends Rule[LogicalPlan] with PredicateHelper {
  protected def spark: SparkSession
  protected def flag: String
  protected def bands: Int
  protected def bandBits: Int
  protected def signature(operand: Expression): Expression
  /** (left operand, right operand) of the first conjunct the rule
    * rewrites, or None. */
  protected def operands(cond: Expression, left: LogicalPlan,
      right: LogicalPlan): Option[(Expression, Expression)]

  override def apply(plan: LogicalPlan): LogicalPlan =
    if (!spark.conf.get(flag, "false").toBoolean) plan
    else plan.transformUp {
      case j @ Join(left, right, Inner, Some(cond), _)
          if !cond.references.exists(_.name.startsWith("__graft_")) =>
        operands(cond, left, right)
          .map { case (a, b) => Banding.thresholdJoin(spark, j, a, b,
            signature, bands, bandBits) }
          .getOrElse(j)
    }

  /** (x, y) ordered as (left, right) when they split cleanly across
    * the join inputs. */
  protected def oriented(x: Expression, y: Expression, left: LogicalPlan,
      right: LogicalPlan): Option[(Expression, Expression)] =
    if (x.references.subsetOf(left.outputSet) &&
        y.references.subsetOf(right.outputSet)) Some((x, y))
    else if (y.references.subsetOf(left.outputSet) &&
        x.references.subsetOf(right.outputSet)) Some((y, x))
    else None
}

/** OPT-IN rewrite of a declarative Hamming-distance join into its
  * banded physical shape, the only similarity-join rewrite whose
  * predicate is PURE BUILTINS: an inner join whose condition contains
  * `bit_count(a ^ b) <= k` (one 64-bit signature per side — SimHash,
  * dHash, any locality-sensitive long) becomes a hash equi-join on
  * 8 × 8-bit band keys, the original condition kept as the residual
  * filter, each pair emitted once at its smallest shared band.
  *
  * STRICT equivalence by the pigeonhole principle whenever the
  * effective threshold is < 8 (a pair within Hamming k < bands must
  * agree on some whole band); joins with k ≥ 8 are left alone rather
  * than silently losing recall. Opt-in:
  * `spark.graft.hammingRewrite.enabled=true`. */
case class RewriteHammingThresholdJoin(spark: SparkSession)
    extends BandedThresholdJoin {
  protected val flag = "spark.graft.hammingRewrite.enabled"
  protected val bands = 8
  protected val bandBits = 8
  protected def signature(sig: Expression): Expression = sig

  /** `bit_count(x ^ y) <= k` / `< k` with long signatures and an
    * effective threshold the banding covers exactly (k_eff in
    * [0, bands)). */
  protected def operands(cond: Expression, left: LogicalPlan,
      right: LogicalPlan): Option[(Expression, Expression)] = {
    def sides(x: Expression, y: Expression, kEff: Int) =
      if (kEff < 0 || kEff >= bands ||
          x.dataType != LongType || y.dataType != LongType) None
      else oriented(x, y, left, right)
    splitConjunctivePredicates(cond).iterator.flatMap {
      case LessThanOrEqual(BitwiseCount(BitwiseXor(x, y)),
          Literal(k, IntegerType)) =>
        sides(x, y, k.asInstanceOf[Int])
      case LessThan(BitwiseCount(BitwiseXor(x, y)),
          Literal(k, IntegerType)) =>
        sides(x, y, k.asInstanceOf[Int] - 1)
      case _ => None
    }.nextOption()
  }
}

/** OPT-IN rewrite of a declarative similarity join into its banded-LSH
  * physical shape: an inner join whose condition contains
  * `cosine_sim(a, b) >= t` (a from the left, b from the right) becomes
  * a hash equi-join on hyperplane-LSH band keys — each side computes a
  * 16-bit signature at scan time and explodes into 8 × 2-bit band
  * keys, so only rows colliding in some band are ever paired; the
  * original condition (cosine threshold included) remains as the
  * residual filter, and each pair is emitted once, at its smallest
  * shared band, with no global dedup shuffle.
  *
  * This completes the reference's declarative identity — SQL in,
  * optimized plan out (`DistributedQueryService/QueryService.asmx.cs:
  * 497-506`) — for the similarity-join extension surface: users write
  * the O(n²) predicate; the engine plans the banded join that survives
  * 100 TB (the nested-loop alternative broadcasts a full side and
  * compares every pair).
  *
  * Enabled per session with `spark.graft.cosineRewrite.enabled=true`
  * and deliberately OFF by default: banding is a recall tradeoff
  * (a qualifying pair sharing no band is lost — the standard LSH
  * contract, tunable via the band structure), not a strict
  * equivalence, so the user must ask for it. */
case class RewriteCosineThresholdJoin(spark: SparkSession)
    extends BandedThresholdJoin {
  private val bits = 16
  protected val flag = "spark.graft.cosineRewrite.enabled"
  protected val bands = 8
  protected val bandBits = bits / bands
  protected def signature(vec: Expression): Expression =
    VectorFunctions.HyperplaneSignature(vec, bits)

  /** `cosine_sim(x, y) >= t` / `> t`. */
  protected def operands(cond: Expression, left: LogicalPlan,
      right: LogicalPlan): Option[(Expression, Expression)] =
    splitConjunctivePredicates(cond).iterator.flatMap {
      case GreaterThanOrEqual(c: CosineSimilarity, Literal(_, DoubleType)) =>
        oriented(c.left, c.right, left, right)
      case GreaterThan(c: CosineSimilarity, Literal(_, DoubleType)) =>
        oriented(c.left, c.right, left, right)
      case _ => None
    }.nextOption()
}

/** OPT-IN rewrite of a declarative text-similarity join into its
  * prefix-filtered physical shape: an inner join whose condition
  * contains `text_jaccard(a, b, n) >= t` (a from the left, b from the
  * right) becomes [[graft.operators.PrefixFilter]]'s candidate
  * generation over the distinct texts of both sides, with the original
  * condition re-evaluated on the back-joined rows.
  *
  * Unlike the LSH cosine rewrite this is a STRICT equivalence: the
  * prefix-filter contract (see [[graft.operators.PrefixFilter]]) loses
  * no pair at a loss-free bucket cap, so the rewritten join returns
  * exactly the rows of the nested-loop original. Opt-in
  * (`spark.graft.jaccardRewrite.enabled=true`) because replanning a
  * user's predicate should still be a visible choice, not magic.
  *
  * The rule is a pure tree rewrite and reads no data: the candidate
  * stage, whose regime depends on the corpus, is a
  * [[graft.plans.JaccardCandidates]] node that measures the corpus
  * when the join executes. */
case class RewriteJaccardThresholdJoin(spark: SparkSession)
    extends Rule[LogicalPlan] with PredicateHelper with ShuffleJoinPin {

  override def apply(plan: LogicalPlan): LogicalPlan = {
    if (!spark.conf
        .get("spark.graft.jaccardRewrite.enabled", "false").toBoolean) plan
    else plan.transformUp {
      case j @ Join(left, right, Inner, Some(cond), _)
          if !cond.references.exists(_.name.startsWith("__graft_")) =>
        jaccardParts(cond, left, right)
          .map { case (a, b, n, t) => rewrite(j, a, b, n, t) }
          .getOrElse(j)
    }
  }

  /** (leftText, rightText, n, threshold) of the first conjunct shaped
    * `text_jaccard(x, y, n) >= t` / `> t` splitting cleanly across the
    * join inputs. */
  private def jaccardParts(cond: Expression, left: LogicalPlan,
      right: LogicalPlan): Option[(Expression, Expression, Int, Double)] = {
    def sides(js: JaccardSim, t: Double)
        : Option[(Expression, Expression, Int, Double)] =
      // PrefixGrams requires 0 < t <= 1; a degenerate threshold
      // (t <= 0 selects everything, t > 1 nothing) would throw inside
      // the candidate stage for a query that executes fine unrewritten
      // — leave those joins alone.
      if (t <= 0.0 || t > 1.0) None
      else if (js.left.references.subsetOf(left.outputSet) &&
          js.right.references.subsetOf(right.outputSet))
        Some((js.left, js.right, js.n, t))
      else if (js.right.references.subsetOf(left.outputSet) &&
          js.left.references.subsetOf(right.outputSet))
        Some((js.right, js.left, js.n, t))
      else None
    splitConjunctivePredicates(cond).iterator.flatMap {
      case GreaterThanOrEqual(js: JaccardSim, Literal(t, DoubleType)) =>
        sides(js, t.asInstanceOf[Double])
      case GreaterThan(js: JaccardSim, Literal(t, DoubleType)) =>
        sides(js, t.asInstanceOf[Double])
      case _ => None
    }.nextOption()
  }

  /** The rewritten shape is the operator family's fused-bucket
    * pipeline, generalized to arbitrary join inputs through CONTENT
    * identity. A posting-level equi-join enumerates Σ_g df(g)² row
    * pairs (5.6e9 at the sf1 gate) and ground for 25+ minutes; the
    * bucket loop covers the same candidate checks in under 30 s.
    *  1. id := xxhash64(join text) per side, so the candidate stage
    *     runs once per distinct text, and the back-join restores the
    *     full row multiplicity. A 64-bit collision between different
    *     texts could only drop pairs of one of them (~n²/2⁶⁵ for n
    *     distinct texts).
    *  2. the distinct texts of BOTH sides → the [[JaccardCandidatesPlan]]
    *     candidate stage, which picks its regime when it runs.
    *  3. the candidates verify once per distinct text pair, in one
    *     orientation, then explode to both orientations plus the
    *     identity pairs id→id (equal-text rows, which the id_a < id_b
    *     stage never emits), back-join to the original rows, and the
    *     ORIGINAL condition re-evaluates on every surviving row pair,
    *     so the final filter stays authoritative (>= vs >, extra
    *     conjuncts, exact float semantics). */
  private def rewrite(j: Join, aText: Expression, bText: Expression,
      n: Int, t: Double): LogicalPlan = {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.graft.bridge
    def grams(text: Expression) =
      bridge.toColumn(VectorFunctions.CharNgramHashes(
        VectorFunctions.NormalizeText(text), n, distinctSorted = true))
    // .distinct() would inject a Deduplicate node, which only the
    // "Replace Operators" batch (already past) lowers to an Aggregate —
    // surviving to planning it is an internal error. Build the
    // Aggregate directly.
    def distinctAll(df: org.apache.spark.sql.DataFrame)
        : org.apache.spark.sql.DataFrame = {
      val plan = bridge.planOf(df)
      bridge.ofRows(spark,
        org.apache.spark.sql.catalyst.plans.logical.Aggregate(
          plan.output, plan.output, plan))
    }
    def textsOf(plan: LogicalPlan, textE: Expression) =
      bridge.ofRows(spark, plan)
        .select(bridge.toColumn(textE).as("__graft_text"))
    val docs = distinctAll(textsOf(j.left, aText)
      .union(textsOf(j.right, bText)))
      .select(xxhash64(col("__graft_text")).as("__graft_id"),
        col("__graft_text"))
    val base = docs.select(col("__graft_id"),
        grams(bridge.toExpression(col("__graft_text"))).as("__graft_gs"))
      .filter(col("__graft_gs").isNotNull)
    val leftGrams = bridge.ofRows(spark, j.left).select(
      bridge.toColumn(aText).as("__graft_text"), grams(aText).as("__graft_gs"))
    val candD = bridge.ofRows(spark, JaccardCandidatesPlan(
      Seq("__graft_id_a", "__graft_id_b").map(AttributeReference(_, LongType,
        nullable = false)()),
      bridge.planOf(base), bridge.planOf(leftGrams), t)(spark))
    // CONTENT-level verification, ONE orientation: the profiled
    // sf10-he run spent ~90 % of its wall time shipping candidate
    // pairs WITH text payload through the row-level back-join and
    // evaluating the residual once per orientation. Jaccard is
    // symmetric and the ids are content hashes, so the threshold is
    // decided here per distinct text pair, and the back-join below
    // joins only the verified pairs. `>= t` admits a superset of a
    // strict `>` original; the original condition still decides
    // every output row.
    val txtCols = docs.select(col("__graft_id"), col("__graft_text"))
    val vPairs = candD
      .join(txtCols.select(col("__graft_id").as("__graft_id_a"),
        col("__graft_text").as("__graft_ta")), Seq("__graft_id_a"))
      .join(txtCols.select(col("__graft_id").as("__graft_id_b"),
        col("__graft_text").as("__graft_tb")), Seq("__graft_id_b"))
      .filter(bridge.toColumn(GreaterThanOrEqual(
        VectorFunctions.JaccardSim(
          bridge.toExpression(col("__graft_ta")),
          bridge.toExpression(col("__graft_tb")), n),
        Literal(t))))
      .select(col("__graft_id_a"), col("__graft_id_b"))
    // Both orientations explode out of one pass over the verified
    // set (a union of the set with its own swap would plan the
    // subtree once per branch — ReuseExchange dedups only the
    // exchange below an aggregate, not the aggregate itself).
    val pairs = vPairs
      .select(explode(array(
        struct(col("__graft_id_a").as("a"), col("__graft_id_b").as("b")),
        struct(col("__graft_id_b").as("a"), col("__graft_id_a").as("b"))))
        .as("__graft_p2"))
      .select(col("__graft_p2.a").as("__graft_id_a"),
        col("__graft_p2.b").as("__graft_id_b"))
      .union(base.select(col("__graft_id").as("__graft_id_a"),
        col("__graft_id").as("__graft_id_b")))
    // The back-join is built from RAW Catalyst nodes on j.left/j.right
    // so the original condition's attribute references stay valid —
    // routing it through the Dataset join API re-runs
    // DeduplicateRelations, which re-aliases the right side's exprIds
    // on a self-join and orphans the captured condition.
    import org.apache.spark.sql.catalyst.expressions.{Alias, EqualTo, XxHash64}
    import org.apache.spark.sql.catalyst.plans.logical.{Filter => LFilter, Project => LProject, Join => LJoin}
    import org.apache.spark.sql.catalyst.plans.logical.JoinHint
    val pairsPlan = bridge.planOf(pairs)
    val Seq(idA, idB) = pairsPlan.output
    val idLAlias = Alias(XxHash64(Seq(aText), 42L), "__graft_id_l")()
    val idRAlias = Alias(XxHash64(Seq(bText), 42L), "__graft_id_r")()
    val lPlan = LProject(j.left.output :+ idLAlias, j.left)
    val rPlan = LProject(j.right.output :+ idRAlias, j.right)
    val join1 = LJoin(lPlan, pairsPlan, Inner,
      Some(EqualTo(idLAlias.toAttribute, idA)), JoinHint.NONE)
    val join2 = LJoin(join1, rPlan, Inner,
      Some(EqualTo(idB, idRAlias.toAttribute)), JoinHint.NONE)
    val filtered = LFilter(j.condition.get, join2)
    pinShuffleJoin(
      LProject((j.left.output ++ j.right.output).map(a => a), filtered))
  }
}

/** Push the LEFT-side conjuncts of a Filter below an [[AsOfJoinPlan]].
  *
  * Only left-side predicates are sound to push: each left row's match is
  * independent of other left rows, so dropping left rows early never
  * changes surviving rows' matches. A right-side predicate is NOT
  * pushable — filtering the right side before the join would let an
  * older right row become "the latest ≤ ts" where the unfiltered join
  * would have matched (then discarded) a newer one.
  *
  * At scale this is the difference between scanning the full left side
  * and scanning a pruned one: the pushed Filter reaches the parquet
  * reader via the normal Catalyst pushdown rules once it sits directly
  * on the scan side of the join.
  */
object PushFilterThroughAsOfJoin extends Rule[LogicalPlan]
    with PredicateHelper {
  override def apply(plan: LogicalPlan): LogicalPlan = plan.transform {
    case f @ Filter(cond, j: AsOfJoinPlan) =>
      val (pushable, rest) = splitConjunctivePredicates(cond)
        .partition(p =>
          p.deterministic && p.references.subsetOf(j.left.outputSet))
      if (pushable.isEmpty) f
      else {
        val pushed = j.copy(left = Filter(pushable.reduce(And), j.left))
        if (rest.isEmpty) pushed else Filter(rest.reduce(And), pushed)
      }
  }
}

/** Column pruning through an [[AsOfJoinPlan]]: Catalyst's own
  * ColumnPruning rule treats unknown nodes conservatively, so without
  * this a narrow Project above an as-of join still scans EVERY column
  * of both inputs. Keep only the attributes the projection and the
  * join's key/timestamp expressions reference; the inserted child
  * Projects then flow into the normal pruning rules and reach the
  * parquet readers' ReadSchema. Exactness is trivial — dropped columns
  * are referenced by nothing above. */
object PruneColumnsThroughAsOfJoin extends Rule[LogicalPlan] {
  override def apply(plan: LogicalPlan): LogicalPlan = plan.transform {
    case p @ Project(projList, j: AsOfJoinPlan) =>
      val needed = AttributeSet(projList.flatMap(_.references)) ++
        AttributeSet(Seq(j.leftKey, j.rightKey, j.leftTs, j.rightTs)
          .flatMap(_.references))
      def prune(child: LogicalPlan): LogicalPlan = {
        val kept = child.output.filter(needed.contains)
        if (kept.size == child.output.size) child else Project(kept, child)
      }
      val (newLeft, newRight) = (prune(j.left), prune(j.right))
      if (newLeft.eq(j.left) && newRight.eq(j.right)) p
      else Project(projList, j.copy(left = newLeft, right = newRight))
  }
}
