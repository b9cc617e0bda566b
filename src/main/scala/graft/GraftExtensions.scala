package graft

import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{And, AttributeSet, BitwiseCount, BitwiseXor, Expression, ExpressionInfo, GreaterThan, GreaterThanOrEqual, LessThan, LessThanOrEqual, Literal, PredicateHelper}
import org.apache.spark.sql.catalyst.plans.logical.{Filter, Join, LogicalPlan, Project}
import org.apache.spark.sql.catalyst.plans.Inner
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.{ColumnarRule, SparkPlan}
import org.apache.spark.sql.types.{DoubleType, IntegerType, LongType}

import graft.functions.VectorFunctions
import graft.functions.VectorFunctions.{CosineSimilarity, JaccardSim}
import graft.operators.{Banding, PrefixFilter}
import graft.plans.AsOfJoin.{AsOfJoinPlan, AsOfStrategy}
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
  *  - the as-of-join planner strategy, the only way
  *    [[graft.plans.AsOfJoin]] plans become executable;
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
  * user's predicate should still be a visible choice, not magic. */
case class RewriteJaccardThresholdJoin(spark: SparkSession)
    extends Rule[LogicalPlan] with PredicateHelper with ShuffleJoinPin {

  // Memos for the rule's two bounded driver jobs (the stop-gram df
  // model and the candidate-mass histogram): the optimizer re-runs
  // this rule on EVERY re-optimization of a plan containing the
  // predicate — each derived Dataset, explain() call, stats access,
  // and twice per single optimize (the operator-optimization rule set
  // runs both before and after filter inference) — and without the
  // memo each firing would re-pay both corpus-scale jobs. The maps
  // live on the COMPANION OBJECT, not the instance: injected rule
  // builders are re-invoked on every optimizer execution (Optimizer
  // .batches is a def), so an instance field would silently scope the
  // memo to one optimize pass. Companion storage is weak-keyed BY
  // SESSION (see the object) so a stopped session's plans/FileIndex
  // don't outlive it; within a session the values are pure functions
  // of (resolved plan, data): keyed by the
  // CANONICALIZED inputs (structural plan equality normalizes
  // exprIds, so the same Dataset re-derived re-uses its entry) PLUS a
  // data fingerprint over the leaf relations (file listing signature
  // for file scans, instance identity for in-memory/other leaves —
  // see [[dataFingerprint]]): maxOcc is a CORRECTNESS bound
  // (bounded_min_collect / bucket_pairs truncate buckets past it), so
  // a canonically-equal plan whose underlying data changed mid-session
  // (overwrite + catalog refresh) must MISS rather than silently drop
  // candidates from a stale too-small maxOcc. Crude overflow guard:
  // clear past 32 entries — a JVM juggling 32+ distinct jaccard-join
  // inputs re-trains, it never grows unboundedly.
  private def modelCache = RewriteJaccardThresholdJoin.forSession(spark)._1
  private def statsCache = RewriteJaccardThresholdJoin.forSession(spark)._2

  /** Cheap driver-side data signature for the memo keys above.
    * InMemoryFileIndex-backed scans fingerprint the index's CACHED
    * listing (path/len/modtime per file — the exact file set the scan
    * will read, at zero listing cost); other FileIndex types use
    * index-instance identity (see inline note — their listFiles
    * re-lists, and refresh/re-plan rebuilds the instance anyway);
    * `spark.catalog.refreshTable`/`refreshByPath` swap in a
    * re-listed index and thus a new fingerprint either way. Non-file leaves
    * (InMemoryRelation's immutable cache, JDBC, LocalRelation) fall
    * back to relation-instance identity: a re-read builds a new
    * instance, while the one genuinely unfingerprintable case — an
    * external writer mutating bytes in place under an UNREFRESHED
    * index — is stale for the scan itself, not just the memo. */
  private def dataFingerprint(plans: LogicalPlan*): Seq[Any] =
    plans.flatMap(_.collectLeaves().map {
      case lr: org.apache.spark.sql.execution.datasources.LogicalRelation =>
        lr.relation match {
          case fs: org.apache.spark.sql.execution.datasources
              .HadoopFsRelation =>
            fs.location match {
              // listing-signature ONLY where listFiles returns the
              // already-cached listing (the gate's spark.read path).
              // Other FileIndex types — CatalogFileIndex above all —
              // build a FRESH full listing (metastore + filesystem)
              // on EVERY listFiles call, and the fingerprint runs per
              // rule firing including cache hits: that would re-add a
              // per-explain driver stall the memo exists to remove.
              // Their index INSTANCE is rebuilt by refresh/re-plan,
              // so identity is a safe (miss-more, never stale)
              // fingerprint there.
              case im: org.apache.spark.sql.execution.datasources
                  .InMemoryFileIndex =>
                // order-mixing FNV-style fold over the PATH-SORTED
                // listing (listFiles order is not guaranteed stable).
                // An XOR fold here was cancellable — two offsetting
                // file changes (swapped equal-length contents with
                // touched mtimes, A.len+=k / B.len-=k) could collide,
                // and this key guards maxOcc, a CORRECTNESS bound
                // whose stale hit silently drops join candidates.
                val files = im.listFiles(Nil, Nil).flatMap(_.files)
                  .sortBy(_.getPath.toString)
                (files.length, files.foldLeft(-3750763034362895579L) {
                  (acc, f) =>
                    var h = acc
                    h = (h ^ f.getPath.toString.hashCode) * 1099511628211L
                    h = (h ^ f.getLen) * 1099511628211L
                    h = (h ^ f.getModificationTime) * 1099511628211L
                    h
                })
              case other => System.identityHashCode(other)
            }
          case rel => System.identityHashCode(rel)
        }
      case leaf => System.identityHashCode(leaf)
    })

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
      // the optimizer for a query that executes fine unrewritten —
      // leave those joins alone.
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

  private def rewrite(j: Join, aText: Expression, bText: Expression,
      n: Int, t: Double): LogicalPlan = {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.graft.bridge
    def grams(text: Expression) =
      bridge.toColumn(VectorFunctions.CharNgramHashes(
        VectorFunctions.NormalizeText(text), n, distinctSorted = true))
    // Stop-gram model, trained HERE with one bounded job before the
    // rewritten plan is returned, on the left input's rows. Measured
    // at the sf1 gate: under an EMPTY model the 50k-doc corpus ground
    // for 25+ minutes (a corpus-hot gram whose hash lands low sits in
    // nearly every prefix and contributes |docs(g)|² candidates); with
    // the trained model the same query answers in seconds.
    // Model capacity: fixed 64k in production; conf-overridable so
    // unit-scale specs can SATURATE the model (a handful of docs
    // never reaches 64k grams) and drive the auto crossover gate.
    val modelSize = spark.conf
      .get("spark.graft.jaccardRewrite.modelSize", (1 << 16).toString)
      .toInt
    val hotDf: Map[Long, Long] = {
      if (modelCache.size > 32) modelCache.clear()
      modelCache.getOrElseUpdate(
        (j.left.canonicalized, aText.canonicalized, n, modelSize,
          dataFingerprint(j.left)),
        PrefixFilter.stopGramModel(bridge.ofRows(spark, j.left),
          bridge.toColumn(aText), grams(aText), modelSize))
    }
    // The rewritten shape is the operator family's fused-bucket
    // pipeline, generalized to arbitrary join inputs through CONTENT
    // identity — because the naive alternative measurably dies: a
    // posting-level equi-join enumerates Σ_g df(g)² row pairs
    // (5.6e9 at the sf1 gate even with the trained model), and a join
    // operator cannot iterate pairs anywhere near the ~1e8/s/core an
    // in-memory bucket loop gets — the former join shape ground for
    // 25+ minutes at sf1 while the bucket loop covers the same 2.8e9
    // candidate checks in under 30 s measured. Shape:
    //   1. id := xxhash64(join text) per side — CONTENT identity, so
    //      the candidate stage runs once per distinct text while the
    //      back-join restores full row multiplicity exactly (every
    //      left row with text-hash a × every right row with text-hash
    //      b, precisely the original join's output for that text
    //      pair). A 64-bit hash collision between different texts
    //      could only DROP pairs of one of the colliding texts
    //      (~n²/2⁶⁵ for n distinct texts — negligible below billions
    //      of distinct texts; the operator API is the knob past that).
    //   2. distinct (text) docs from BOTH sides → [[PrefixFilter]]
    //      prefix postings → the bucket loop, in one of two measured
    //      regimes (chosen by the candidate-mass histogram — see
    //      below): SPARSE buckets collect skinny postings and defer
    //      verification to step 3; DENSE buckets carry the gram arrays
    //      so VerifiedBucketPairs rejects inline and only true pairs
    //      reach step 3.
    //   3. verified id pairs (+ both orientations + the identity
    //      pairs id→id, which cover equal-text row pairs the
    //      id_a < id_b generator never emits) back-join to the
    //      original rows, and the ORIGINAL join condition re-evaluates
    //      on every surviving row pair — output-sized work that makes
    //      the final filter authoritative (>= vs >, extra conjuncts,
    //      exact float semantics) rather than trusting the
    //      generator's relaxed-EPS admission.
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
    val skinny = PrefixFilter.modelPostings(base, hotDf, t)
    // Candidate-mass stats, collected from the shared histogram (one
    // bounded driver job, memoized). Decides which of two exact-recall
    // candidate shapes ships less data:
    //
    //  - SPARSE (realistic gram entropy): postings shuffle skinny,
    //    buckets emit length+position-PRUNED candidate pairs with no
    //    verification payload, and the back-join below — which
    //    re-evaluates the ORIGINAL predicate on every row pair
    //    anyway — is the verifier. Shipped mass ≈ estPairs · 2 row
    //    widths.
    //  - DENSE (degenerate corpora: bounded gram universe, candidate
    //    mass ≫ corpus): every posting carries its doc's full gram
    //    array so VerifiedBucketPairs rejects in-bucket and only
    //    TRUE pairs ever reach the back-join. Shipped mass ≈
    //    postings · gram-array width (8·|d| bytes).
    //
    // The former always-dense shape was measured unshippable at the
    // 100× rehearsal on REALISTIC entropy: 500 k docs × ~0.3·|d|
    // prefix postings × ~2.4 KB arrays ≈ 105 GB into one groupBy
    // shuffle — quadratic in doc length, dead at 100 TB — while the
    // same corpus's pruned-candidate mass is a few GB. The degenerate
    // regime is the mirror image (152 M survivors at sf1 would make
    // the back-join the ~400 GB stage), so neither shape dominates:
    // measure, then choose. estPairs over-counts the post-distinct
    // realized candidates ~10–30× (measured, BASELINE round 8) and
    // the sparse back-join pays ~2 text widths per candidate vs the
    // dense shuffle's 8 bytes/gram per posting — risk-balanced at
    // estPairs ≤ 16·postings, overridable for rehearsals/specs via
    // spark.graft.jaccardRewrite.estFactor (0 forces dense).
    def statsOf(hist: Array[PrefixFilter.MassBand]) =
      (hist.map(_.sm1).sum.toLong,
        PrefixFilter.estPairs(hist, Long.MaxValue),
        PrefixFilter.maxOccupancy(hist))
    val (nPostings, estPairs, maxOcc) = {
      if (statsCache.size > 32) statsCache.clear()
      // modelSize is part of the key: skinny postings are built from
      // the hot-gram model, so stats measured under one model —
      // including maxOcc, a CORRECTNESS bound on the sparse bucket
      // cap — must not be reused after a model-capacity change.
      statsCache.getOrElseUpdate(
        (j.left.canonicalized, j.right.canonicalized,
          aText.canonicalized, bText.canonicalized, n, t, modelSize,
          dataFingerprint(j.left, j.right)),
        statsOf(PrefixFilter.collectBands(
          PrefixFilter.massHistogram(skinny))))
    }
    val estFactor = spark.conf
      .get("spark.graft.jaccardRewrite.estFactor", "16").toDouble
    def wantExactDf(quadratic: Boolean): Boolean = PrefixFilter.exactOrder(
      spark, saturated = hotDf.size >= modelSize, overBudget = quadratic)
    // The sparse branch's bucket cap is a CORRECTNESS bound (it must
    // be ≥ the true max bucket occupancy or the collect truncates and
    // drops candidates) — the memoized maxOcc was measured on the
    // MODEL-order postings, so the exact-order postings need their own
    // (memoized under a marked key; same bounded driver job shape).
    // When the memo is COLD the ranked postings would otherwise run
    // TWICE — once for this plan-time cap job and again by the query
    // itself — paying the corpus-wide df groupBy + join + per-doc
    // window shuffles both times. So the cold path persists the frame
    // across both consumers and releases it after the triggering
    // query's execution (the rule itself has no post-execution hook; a
    // one-shot listener is the release point — see
    // [[RewriteJaccardThresholdJoin.unpersistAfterNextExecution]]).
    def exactPostsAndCap(): (org.apache.spark.sql.DataFrame, Int) = {
      val key = ("__graft_exactDf", j.left.canonicalized,
        j.right.canonicalized, aText.canonicalized, bText.canonicalized,
        n, t, dataFingerprint(j.left, j.right))
      statsCache.get(key) match {
        case Some(hit) => (PrefixFilter.exactPostings(base, t), hit._3)
        case None =>
          val rx = PrefixFilter.exactPostings(base, t).persist(
            org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
          val capDf = PrefixFilter.massHistogram(rx)
          val stats = statsOf(PrefixFilter.collectBands(capDf))
          statsCache.putIfAbsent(key, stats)
          // The trigger's QueryExecution is resolved from the
          // EXECUTION_ID_KEY local property, which the action that
          // invoked this rule set around its planning; the cap job's
          // collect above restored it on exit.
          val triggerId = Option(spark.sparkContext.getLocalProperty(
              org.apache.spark.sql.execution.SQLExecution.EXECUTION_ID_KEY))
            .flatMap(s => Option(org.apache.spark.sql.execution
              .SQLExecution.getQueryExecution(s.toLong)))
            .map(_.id)
          RewriteJaccardThresholdJoin.unpersistAfterNextExecution(
            spark, rx, capDf.queryExecution.id, triggerId)
          (rx, stats._3)
      }
    }

    val verified =
      if (estPairs <= estFactor * nPostings) {
        // SPARSE regime: skinny postings, deferred verification. The
        // exact order pays here only past a measured DENSITY CROSSOVER
        // (two same-day alternated event-logged A/Bs, CPU-attributed):
        //  - sf10-he (est/postings = 2.15e8/4.35e7 ≈ 4.9): wash-to-
        //    loss — total CPU {3107,4101} s exact vs {3050,2926} model.
        //    The bucket loop drops 2080→~870 CPU-s with the 5.8× mass
        //    cut, but the two ranking shuffles cost ~1.9k CPU-s, and
        //    the loop's fused prunes (early abandon + size bands)
        //    reject leaked candidates at near-zero per-pair cost.
        //  - sf30-he (est/postings = 1.03e9/1.30e8 ≈ 7.9, true-order
        //    mass 1.06e8 = 9.7× cut): exact order WINS — total CPU
        //    {6695,7376} s vs {14588,8985}, wall {259,288} s vs
        //    {547,367}, bucket-loop spill 23.8→8.5 GiB. Past this
        //    density the loop's per-candidate cost is no longer
        //    near-zero (its buffers spill), so cutting 0.9e9 of
        //    candidate mass buys far more than the ~2.6k CPU-s of
        //    ranking. At 100 TB this crossover is the difference
        //    between a bounded stage and a spill storm.
        // Auto engages the exact order when the model is saturated
        // AND the model-order estimate crosses sparseExactRatio ×
        // postings — default 6, the geometric midpoint of the measured
        // bracket (4.9 no-pay, 7.9 pay); overridable per session.
        val sparseExactRatio = spark.conf
          .get("spark.graft.jaccardRewrite.sparseExactRatio", "6")
          .toDouble
        val (posts, cap) =
          if (wantExactDf(estPairs > sparseExactRatio * nPostings))
            exactPostsAndCap()
          else (skinny, maxOcc)
        PrefixFilter.bucketPairs(posts, cap, t)
      } else {
        // DENSE regime (mass ≫ postings by construction — wantExactDf
        // needs no extra mass condition): every posting carries its
        // doc's gram array for inline verification. Under the exact
        // order the skinny ranks are computed first and the wide gs
        // array still ships exactly once, attached AFTER ranking by
        // content id — the round-9 quadratic-mass cliff stays closed.
        val densePosts =
          if (wantExactDf(quadratic = true))
            PrefixFilter.exactPostings(base, t)
              .join(base, Seq("__graft_id"))
          else PrefixFilter.modelPostings(base, hotDf, t, "__graft_gs")
        densePosts
          .groupBy("__graft_g")
          .agg(collect_list(struct(col("__graft_id").as("id"),
            col("__graft_rn").as("rn"),
            col("__graft_gs").as("gs"))).as("__graft_ps"))
          .select(explode(VectorFunctions.verified_bucket_pairs(
            col("__graft_ps"), 1 << 30, t)).as("__graft_p"))
          .select(col("__graft_p.id_a").as("__graft_id_a"),
            col("__graft_p.id_b").as("__graft_id_b"))
      }
    val candD = distinctAll(verified)
    // CONTENT-level verification, ONE orientation. The profiled
    // sf10-he run spent ~90 % of its wall time (two ~130 s stages in
    // the event log) shipping 440 M candidate-pair rows WITH text
    // payload through the row-level back-join and evaluating the
    // jaccard residual once per orientation — everything else
    // (postings, bucket loops, dedup aggregate) totalled ~30 s.
    // Jaccard is symmetric and the candidate ids ARE content hashes,
    // so the threshold conjunct is decidable here, per DISTINCT text
    // pair, in a single orientation: half the shipped pair-text mass,
    // half the predicate evaluations, and the row-level back-join
    // below then joins only the VERIFIED (output-sized) pair set —
    // its formerly-dominant exchanges become no-ops. `>= t` admits a
    // superset of a strict `>` original (never drops a qualifying
    // pair); the untouched original condition still re-evaluates on
    // every output row pair, so admission stays authoritative at the
    // row level exactly as before. Dense-mode candidates arrive
    // already verified and just pass through (output-sized cost).
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

object RewriteJaccardThresholdJoin {
  // see the scaladoc at the instance accessors: memos for the rule's
  // two bounded driver jobs, keyed by canonicalized plans + data
  // fingerprint. The OUTER map is weak-keyed by SparkSession: the
  // canonicalized plan keys retain LogicalRelations, which retain
  // their FileIndex (a listing of potentially millions of FileStatus)
  // and owning session — a JVM-global map would keep every STOPPED
  // session's state reachable until 33 distinct joins forced a
  // clear(). Weak keying gives exactly the intended lifetime: the
  // memo survives rule-instance churn (builders re-run per optimize)
  // for as long as the session itself is alive, and becomes
  // collectable with it.
  private val memosBySession = new java.util.WeakHashMap[
    org.apache.spark.sql.SparkSession,
    (scala.collection.concurrent.TrieMap[Any, Map[Long, Long]],
      scala.collection.concurrent.TrieMap[Any, (Long, Double, Int)],
      java.util.concurrent.atomic.AtomicLong)]()

  /** Release `df`'s persisted blocks on the TRIGGERING query's own
    * completion (`triggerId` — the execution whose optimization ran
    * the rewrite rule, i.e. the persist's intended consumer) or any
    * execution NEWER than the cap job's (`afterId`). The id guards
    * exist because the listener bus is ASYNCHRONOUS and FIFO: at
    * registration time the queue can still hold end events from
    * executions OLDER than the cap job — the rule's own plan-time
    * driver jobs (model train, stats collect) and whatever query ran
    * before — and a loose guard (the r15 `!=`) let any such STALE
    * event fire the one-shot and unpersist the ranked postings
    * BEFORE the triggering query consumed them, silently re-paying
    * the corpus-wide df groupBy + join + window shuffles the persist
    * exists to avoid (GiB at rehearsal scale). Correctness was never
    * at stake — only 2× the ranking work on an unlucky dispatch.
    * `triggerId` is resolved by the CALLER from the
    * `SQLExecution.EXECUTION_ID_KEY` local property (set for the
    * action whose planning invoked the rule); when the plan is built
    * outside an action (explain-only), there is no trigger execution
    * and the `> afterId` arm alone releases — worst case the one
    * bounded frame stays cached until a later execution or session
    * end; accepted. */
  private[graft] def unpersistAfterNextExecution(
      spark: org.apache.spark.sql.SparkSession,
      df: org.apache.spark.sql.DataFrame,
      afterId: Long,
      triggerId: Option[Long]): Unit = {
    val lm = spark.listenerManager
    val l = new org.apache.spark.sql.util.QueryExecutionListener {
      private val done = new java.util.concurrent.atomic.AtomicBoolean()
      private def fire(qe: org.apache.spark.sql.execution.QueryExecution)
          : Unit =
        if ((triggerId.contains(qe.id) || qe.id > afterId) &&
            done.compareAndSet(false, true)) {
          try df.unpersist(false) catch { case scala.util.control.NonFatal(_) => }
          lm.unregister(this)
        }
      override def onSuccess(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          durationNs: Long): Unit = fire(qe)
      override def onFailure(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          exception: Exception): Unit = fire(qe)
    }
    lm.register(l)
  }

  // Monotonic access clock for the LRU bound below (WeakHashMap has no
  // access order of its own).
  private val accessTick = new java.util.concurrent.atomic.AtomicLong()

  private[graft] def forSession(s: org.apache.spark.sql.SparkSession) =
    memosBySession.synchronized {
      // Weak keying alone is DEFEATED here: the values' TrieMap keys
      // hold canonicalized plans that retain LogicalRelation →
      // HadoopFsRelation, whose sparkSession field strongly references
      // the map's key — a value→key path that pins every entry
      // (including FileIndex listings of potentially millions of
      // FileStatus) forever. So evict explicitly: purge entries whose
      // context has stopped on every access from a live session. A
      // JVM churning sessions (test suites, notebook servers) then
      // retains at most the stopped sessions since the last lookup.
      val it = memosBySession.entrySet().iterator()
      while (it.hasNext) {
        val k = it.next().getKey
        if (k != null && k.sparkContext.isStopped) it.remove()
      }
      // The stopped-context purge cannot see CHILD sessions of a live
      // context — and the query surface mints one per similarity-join
      // call (an `Iterate.scoped` session carries the rewrite flag), so a
      // long-lived service would still accumulate an entry (plan keys
      // + trained models) per call. The memo is a cache, eviction
      // costs only a recompute: bound the map at 64 sessions and evict
      // LEAST-RECENTLY-USED first (each entry carries an access tick).
      // Under the child-session-per-call pattern the short-lived
      // children are exactly the cold tail, so the hot parent's memo
      // survives the bound instead of being dropped at hash-order whim.
      if (memosBySession.size() > 64) {
        val victims = new java.util.ArrayList[
          (Long, org.apache.spark.sql.SparkSession)]()
        val it2 = memosBySession.entrySet().iterator()
        while (it2.hasNext) {
          val e = it2.next()
          if ((e.getKey ne s) && e.getKey != null)
            victims.add((e.getValue._3.get(), e.getKey))
        }
        victims.sort((a, b) => java.lang.Long.compare(a._1, b._1))
        var vi = 0
        while (memosBySession.size() > 64 && vi < victims.size()) {
          memosBySession.remove(victims.get(vi)._2)
          vi += 1
        }
      }
      var v = memosBySession.get(s)
      if (v == null) {
        v = (scala.collection.concurrent.TrieMap.empty,
          scala.collection.concurrent.TrieMap.empty,
          new java.util.concurrent.atomic.AtomicLong())
        memosBySession.put(s, v)
      }
      v._3.set(accessTick.incrementAndGet())
      v
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
