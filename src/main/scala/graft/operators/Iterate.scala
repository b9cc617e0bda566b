package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.graft.bridge
import org.apache.spark.sql.internal.SQLConf

/** Materialization policy for iterative operators (pageRank, label
  * propagation, BFS, connected components): every round's state frame
  * must be eagerly materialized so the logical plan stays constant-size
  * instead of doubling per iteration.
  *
  * Default: eager `localCheckpoint` — blocks live in executor storage,
  * zero extra I/O, the right local/single-job trade. Its documented
  * weakness at cluster scale: blocks are NOT recomputable (lineage is
  * truncated), so losing an executor mid-iteration fails the job.
  *
  * Opt-in reliable mode for long iterative jobs on real clusters: set
  * a checkpoint dir (`spark.sparkContext.setCheckpointDir(...)`) and
  * `spark.graft.reliableCheckpoint=true`; every
  * `spark.graft.reliableCheckpoint.interval`-th round (default 5) is
  * then a RELIABLE checkpoint (written to the checkpoint dir, survives
  * executor loss), with `localCheckpoint` still covering the rounds in
  * between — the classic cadence trade: bounded recomputation window
  * at a bounded I/O tax, instead of per-round HDFS writes.
  *
  * Both variants go through `Dataset.checkpoint`'s plan replacement,
  * which preserves the child plan's output partitioning and ordering —
  * the loop-body joins keep their zero-exchange shape either way
  * (results are bit-identical; only fault-tolerance differs).
  */
object Iterate {

  private[graft] val ReliableKey = "spark.graft.reliableCheckpoint"
  private[graft] val IntervalKey = "spark.graft.reliableCheckpoint.interval"
  private val AqeKey = "spark.sql.adaptive.enabled"

  /** Eagerly materialize round `round`'s state frame under the
    * session's checkpoint policy. `round` counts from 0; pass 0 for
    * one-shot (non-loop) materializations, which makes them reliable
    * whenever the mode is on.
    *
    * `big` picks the local block storage level, and the hint comes
    * from the SAME driver-known bound that picks an operator's
    * regime (e.g. pageRank/BFS choose their pinned layout when the
    * state frame crossed the broadcast threshold — that bound says
    * "big" here too):
    *
    *  - `big = false` (default): localCheckpoint's own
    *    MEMORY_AND_DISK — DESERIALIZED row objects, zero-copy
    *    re-reads, the fastest level while the frame fits storage
    *    (measured: serialized storage cost sf0.1 graph_pagerank
    *    4.0 → 6.5 s, re-paying deserialization on every loop round).
    *  - `big = true`: MEMORY_AND_DISK_SER — compact binary rows.
    *    Deserialized storage re-wraps each UnsafeRow as a JVM object
    *    (~3–4× the raw bytes); at the sf30 rehearsal the 352 M-row
    *    pinned edge frame (~8.4 GB of row bytes) OOM'd the
    *    MemoryStore unroll (DeserializedValuesHolder.storeValue)
    *    at a 64 GB heap, while serialized blocks store ~1× and
    *    spill compactly (pinned pageRank 283 → 241 s, BFS
    *    264 → 183 s at sf30). The deserialize-per-read tax is the
    *    right trade exactly when fitting is the risk. */
  def materialize(df: DataFrame, round: Int = 0,
      big: Boolean = false): DataFrame = {
    val s = df.sparkSession
    val reliable =
      s.conf.get(ReliableKey, "false").toBoolean &&
        s.sparkContext.getCheckpointDir.isDefined &&
        round % math.max(1, s.conf.get(IntervalKey, "5").toInt) == 0
    if (reliable) df.checkpoint(true)
    else if (big) df.localCheckpoint(true,
      org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK_SER)
    else df.localCheckpoint(true)
  }

  /** Run `body` over `df` persisted MEMORY_AND_DISK, and release the
    * cache when `body` exits, also when it throws. The one cache policy
    * of the operators: a frame that feeds several consumers lives
    * exactly as long as the call. `body` must not hand back a lazy plan
    * that still reads the cache — return a [[materialize]]d frame, or
    * `Unit`. */
  def cached[T](df: DataFrame)(body: DataFrame => T): T = {
    val c = df.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try body(c) finally c.unpersist(false)
  }

  /** Chained-style [[materialize]]: `df.materialized()` reads like the
    * raw `.localCheckpoint(true)` it replaces at the one-shot
    * materialization sites (round-invariant loop preps, verified-pair
    * outputs, shared sub-frames feeding multiple consumers), so every
    * such site honors the opt-in reliable-checkpoint policy instead of
    * hard-coding the non-recomputable local variant — on preemptible
    * executors a lost local block fails the job; the reliable mode
    * survives it at the documented I/O tax. */
  implicit class MaterializeOps(private val df: DataFrame) {
    def materialized(round: Int = 0, big: Boolean = false): DataFrame =
      materialize(df, round, big)

    /** The same frame bound to session `s`: plans built on it read
      * `s`'s conf (see [[scoped]]). */
    def on(s: SparkSession): DataFrame = bridge.ofRows(s, bridge.planOf(df))
  }

  /** Run `body` in a query scope whose conf is `s`'s conf plus
    * `overrides`. `body` receives the scope: a clone of `s` with the
    * same SparkContext, cached data and executor classloader, a copy of
    * its temp views, functions and listeners, and a conf of its own
    * (see [[bridge.cloneSession]]). The overrides reach exactly the frames
    * bound to the scope — re-bind inputs with `df.on(scope)`; frames
    * derived from them stay in it — and `s` is never written. So
    * queries on `s` from any other thread (the Service's handler pool,
    * Verify's thread pool) keep the session's conf while a scope is
    * open, overlapping scopes on different threads cannot leave an
    * override behind, and scopes nest (`scoped(scope, …)`). Hand a
    * frame back with `df.on(s)` when later plans built on it must
    * leave the scope.
    *
    * Each scope plans, executes and reads its conf through its own
    * session, so keys read at execution time also take effect: on
    * broadcast threads, on executors (SQL execution propagates the
    * executing session's conf), and in `SparkPlan.conf` reads such as
    * the object-hash-aggregate fallback threshold, which a thread-local
    * `SQLConf.withExistingConf` override never reaches.
    *
    * Keys: runtime SQL confs (`spark.sql.*` settable on a live
    * session) and the `spark.graft.*` rule and operator flags. Static
    * and core confs are shared with `s` and cannot be overridden. */
  def scoped[T](s: SparkSession, overrides: (String, String)*)(
      body: SparkSession => T): T = {
    val scope = bridge.cloneSession(s)
    overrides.foreach { case (k, v) => scope.conf.set(k, v) }
    body(scope)
  }

  /** Plan a BROADCAST-REGIME loop statically: AQE off and
    * `spark.sql.shuffle.partitions` at the partition count AQE's
    * coalescing would have chosen anyway — ⌈stateBytes / advisory
    * partition size⌉, clamped to [1, session setting] — in the scope
    * `body` receives (see [[scoped]]).
    *
    * Motivation (measured, r15/r16): with every loop join explicitly
    * broadcast-hinted, AQE's only contribution inside a bounded-state
    * loop is per-exchange stage-materialization barriers — one extra
    * job + driver round-trip per round exchange (~0.3 s/round at
    * sf0.1, ~⅓ of the iterative family's wall). Planning the loop
    * statically at the SESSION'S shuffle partition count was measured
    * 2× WORSE (r15: every N-row exchange ran all 32 reduce tasks and
    * their 32×32 block fetches); the fix is to derive the static
    * count from the SAME driver-known state bound that picked the
    * broadcast regime, which is exactly the number AQE's advisory
    * coalescing computes at runtime — scale-adaptive (grows with the
    * state, never with the box), identical result, no per-round
    * re-planning jobs.
    *
    * Broadcast regime only: the pinned regime needs [[pinnedLayout]]
    * (AQE off for layout capture, partition count = the layout's own),
    * and an UNBOUNDED state frame must keep AQE's runtime sizing. */
  def staticBoundedLoop[T](s: SparkSession, stateBytes: BigInt)(
      body: SparkSession => T): T = {
    val advisory = BigInt(
      s.sessionState.conf.getConf(SQLConf.ADVISORY_PARTITION_SIZE_IN_BYTES))
    val k = (stateBytes.max(BigInt(1)) + advisory - 1) / advisory
    staticWidth(s, k.min(BigInt(Int.MaxValue)).toInt)(body)
  }

  /** [[staticBoundedLoop]]'s core: AQE off and
    * `spark.sql.shuffle.partitions` = `width` clamped to [1, session
    * setting], for callers whose driver-known bound is NOT a byte size
    * (e.g. a candidate-pair mass bounding a CPU-dense exchange, where
    * byte-based coalescing under-parallelizes by the CPU-per-byte
    * ratio). */
  private[graft] def staticWidth[T](s: SparkSession, width: Int)(
      body: SparkSession => T): T = {
    val k = math.max(1, math.min(width,
      s.sessionState.conf.numShufflePartitions))
    scoped(s, AqeKey -> "false",
      "spark.sql.shuffle.partitions" -> k.toString)(body)
  }

  /** Run `body` in a scope with AQE disabled (see [[scoped]]).
    *
    * The iterative operators pin their physical layouts deliberately:
    * the big round-invariant frame is hash-partitioned + sorted on the
    * loop-join key ONCE, and every round's state frame comes out of an
    * aggregate already partitioned on it — checkpointing preserves
    * both, so the per-round joins need zero exchanges. AQE breaks
    * exactly this: `AdaptiveSparkPlanExec` reports
    * `UnknownPartitioning` at checkpoint-capture time (and its
    * coalescing varies partition counts round to round), so every
    * checkpointed frame would re-shuffle every round. Static planning
    * inside a fixed-layout loop is the standard iterative-graph trade
    * (AQE's wins — skew joins, dynamic coalescing — target one-shot
    * queries, not a loop whose layout is already chosen). */
  def pinnedLayout[T](s: SparkSession)(body: SparkSession => T): T =
    scoped(s, AqeKey -> "false")(body)
}
