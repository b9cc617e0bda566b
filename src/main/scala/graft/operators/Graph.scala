package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import Iterate.MaterializeOps

/** Distributed graph analytics on edge tables.
  *
  * Sibling of [[Dedup.connectedComponents]]: pageRank, label
  * propagation and connected components share one iteration skeleton
  * in [[Iterate]] (the regime gate [[Iterate.broadcastRegime]], the
  * round driver [[Iterate.rounds]]); each keeps its own round body.
  * Everything is EXACT scaled-integer arithmetic — float PageRank is accumulation-order-dependent, so two
  * engines (or two shuffle layouts of the same engine) would never
  * hash-agree on the result; with ranks as scaled longs and floor
  * division pinned at every step, the fixed-iteration ranks are a pure
  * function of the graph, reproducible at any parallelism and
  * re-derivable by an external SQL oracle that unrolls the same
  * iterations.
  */
object Graph {

  /** Exact-integer PageRank, fixed iteration count.
    *
    * `edges` must have `src`/`dst` long columns (directed; pass both
    * directions for an undirected walk). `nodes` must have `id` — the
    * rank universe, including isolated nodes. Update rule, all in
    * floor-division long arithmetic on ranks scaled to `scale` total
    * mass:
    *
    *   contrib(u)  = r(u) / outdeg(u)
    *   r'(v)       = (15*scale)/(100*N)  +  (85 * Σ_{u→v} contrib(u))/100
    *
    * Dangling nodes (no out-edges) leak their mass instead of
    * redistributing it — the common sparse-graph simplification; it
    * keeps every step a pure per-edge/per-node integer expression, and
    * the leak is identical in any compliant replay.
    *
    * Two measured regimes (the skyline-gate discipline: plan shape
    * follows a measured bound, not a guess — we already hold N on the
    * driver):
    *  - **Broadcast regime** ([[Iterate.broadcastRegime]] at N·24
    *    bytes): the RAW edge frame is checkpointed once with no
    *    shuffle and no sort — out-degree rides on the BROADCAST rank
    *    frame (id, outdeg, rank), so every round is one map-side probe
    *    of the cached edges plus the skinny inflow aggregate, which a
    *    single N-row join folds back onto the node frame (reattaching
    *    outdeg, confining the key set to the node universe, and
    *    backfilling zero inflow in one step). The former shape here
    *    joined out-degree onto all 2|E| edge rows via a
    *    count-over-window, whose hash-partition + full sort of the
    *    edge frame was the single most expensive job of the operator
    *    at the sf10 rehearsal (50 s of 127 s) — for a frame whose
    *    layout the broadcast join never even looks at. The right plan
    *    for graphs up to millions of nodes.
    *  - **Pinned-layout regime** (billion-node graphs, rank frame not
    *    broadcastable): the edge⋈degree frame is PRE-BUCKETED by `src`
    *    (repartition + in-partition sort, one materialization —
    *    checkpointing preserves partitioning and ordering; AQE is
    *    scoped OFF because [[Iterate.pinnedLayout]] explains it breaks
    *    capture) and per-round ranks come out of the inflow aggregate
    *    hash-partitioned by id, so the rank join is co-partitioned
    *    with ZERO exchange on either side — the edge table, the
    *    100 TB frame, never moves after its one setup shuffle; each
    *    round's only exchange is the skinny (id, contrib) aggregate
    *    (pinned by PlanQualitySpec). On a persisted graph the same
    *    effect comes from storing the edge table bucketed by `src`
    *    ([[graft.sources.Layout.writeBucketed]]).
    *
    * The driver sees only `N = nodes.count()` — one O(1)-row job to pin
    * the base-rank constant; ranks and edges never leave the cluster.
    */
  def pageRank(nodes: DataFrame, edges: DataFrame, iters: Int = 5,
      scale: Long = 1000000000000L): DataFrame = {
    require(iters >= 1 && iters <= 50, "iters must be in [1, 50]")
    val n = nodes.select("id").count()
    require(n > 0, "pageRank: empty node set")
    val base = 15L * scale / (100L * n)
    val s = nodes.sparkSession
    if (Iterate.broadcastRegime(s, BigInt(n) * 24)) {
      // prep keeps AQE (the caller's edge construction can be any join
      // tree); the rounds plan statically at the N-derived width (see
      // Iterate.staticBoundedLoop)
      val (e, ranks0) = prepareRankBroadcast(nodes, edges, scale / n)
      Iterate.rounds(s, e, ranks0, iters,
          staticBytes = Some(BigInt(n) * 24))(rankStepBroadcast(_, _, base))
        .select(col("id"), col("rank"))
    } else {
      // pinned regime ⇒ the rank frame crossed the broadcast
      // threshold ⇒ the frames this loop materializes are big: store
      // their blocks serialized (see Iterate.materialize's big doc).
      // prepareRank's frames come bound to its AQE-off scope, so the
      // rounds built on them plan there too.
      val (eDeg, ranks0) = prepareRank(nodes, edges, scale / n)
      Iterate.rounds(s, eDeg, ranks0, iters, big = true)(
        rankStep(_, _, base))
    }
  }

  /** Broadcast-regime inputs: the RAW (src, dst) edge frame and the
    * (id, outdeg, rank) node frame, materialized once under normal
    * (AQE-on) planning.
    *
    * The edge checkpoint involves NO shuffle and NO sort — it only
    * runs the caller's edge construction once and caches the rows as
    * scanned, because in this regime the per-round join broadcasts the
    * rank side and never cares about the edge frame's layout. Out-
    * degree is a map-side-combined skinny aggregate over the cached
    * frame, computed BEFORE any dst confinement (outdeg counts ALL
    * out-edges, including targets outside `nodes` — the oracle unrolls
    * that exact semantics) and carried on the N-row broadcast frame,
    * where `contrib = rank div outdeg` can read it for free. Nodes
    * with no out-edges carry a null outdeg that no join row ever
    * evaluates (they match no edge).
    *
    * dst confinement is ROUND-INVARIANT (the node universe never
    * changes), so it happens HERE, once: after outdeg is counted over
    * the unconfined frame (phantom-dst out-edges still count — the
    * oracle unrolls that exact semantics), edges whose dst lies
    * outside `nodes` drop via one semi-join against the N-row id set
    * (broadcastable by this regime's own decision) and the confined
    * frame is what the loop caches. Every round then runs ONE
    * broadcast build (the rank probe) instead of the former two
    * (probe + a per-round dst semi-join that re-shipped the same id
    * set every iteration), and probes only edges whose contrib can
    * land. The raw frame checkpoints first so the caller's edge
    * construction (often a join) runs once, not twice. */
  private[graft] def prepareRankBroadcast(nodes: DataFrame, edges: DataFrame,
      initRank: Long): (DataFrame, DataFrame) = {
    val nodeIds = nodes.select(col("id").cast("long"))
    val raw = edges
      .select(col("src").cast("long"), col("dst").cast("long"))
      .materialized()
    val deg = raw.groupBy("src").agg(count(lit(1)).as("outdeg"))
    val e = raw
      .join(broadcast(nodeIds.select(col("id").as("dst"))),
        Seq("dst"), "left_semi")
      .select(col("src"), col("dst"))
      // NOT respread (tried r16): repartitioning the confined frame to
      // defaultParallelism before the checkpoint — so each round's
      // broadcast probe runs core-wide instead of at the construction's
      // ~10 AQE-coalesced partitions — measured +1.1 s at sf0.1 on both
      // clean alternated rounds (7.72 vs 8.81/8.90): the extra exchange
      // plus 32-task-per-round overhead outweighs the parallelism on a
      // ~100 MB cached frame, the same economics as r15's rejected scan
      // respread.
      .materialized()
    val ranks0 = nodeIds
      // explicit hint: deg is ≤ N rows (this regime's gate proved the
      // N-row frame broadcastable) and the loop may plan statically
      .join(broadcast(deg.withColumnRenamed("src", "id")), Seq("id"), "left")
      .withColumn("rank", lit(initRank))
      .materialized()
    (e, ranks0)
  }

  /** One broadcast-regime pageRank round: probe the cached edge frame
    * against the broadcast (id, outdeg, rank) node frame, then fold
    * contribs AND the N-row node skeleton through ONE aggregate —
    * the skeleton row re-attaches outdeg for the next round (max over
    * exactly one non-null), confines the key set to the node universe
    * (contrib dst ⊆ universe because `e` is dst-confined at prep, and
    * every universe id has its skeleton row), and backfills null
    * inflow for nodes nobody links to. The former shape aggregated
    * inflow and then LEFT-JOINED it back onto the node frame — a
    * second N-row exchange-or-broadcast (and its build job) every
    * round for what a union into the same aggregate does for free.
    * The 2|E|-row frame crosses no exchange; the round's one exchange
    * carries N-bounded partial aggregates, and its one broadcast
    * build is the rank probe itself. */
  private[graft] def rankStepBroadcast(e: DataFrame, ranks0: DataFrame,
      base: Long): DataFrame = {
    // `e` arrives dst-confined from [[prepareRankBroadcast]] (the
    // universe never changes, so the phantom-dst drop happened ONCE at
    // prep instead of a per-round semi-join that re-shipped the same
    // N-row id set every iteration): the aggregate's key set is
    // exactly the node universe, and the round's single broadcast
    // build is the rank probe itself
    val contribs = e.join(broadcast(ranks0), e("src") === ranks0("id"))
      .select(col("dst").as("id"),
        expr("rank div outdeg").as("contrib"),
        lit(null).cast("long").as("deg"))
    val skeleton = ranks0.select(col("id"),
      lit(null).cast("long").as("contrib"), col("outdeg").as("deg"))
    contribs.unionByName(skeleton)
      .groupBy("id")
      .agg(sum(col("contrib")).as("inflow"), max(col("deg")).as("outdeg"))
      .select(col("id"), col("outdeg"),
        (lit(base) + expr("(85 * coalesce(inflow, CAST(0 AS BIGINT))) div 100"))
          .as("rank"))
  }

  /** Pinned-regime inputs: the src-bucketed edge⋈degree frame and the
    * uniform initial ranks, both materialized once with the loop
    * join's exact layout (edge side hash-partitioned AND sorted by
    * `src`, rank side hash-partitioned by `id`, equal partition
    * counts) so no iteration re-shuffles them. Both come back bound
    * to an [[Iterate.pinnedLayout]] scope, so the loop rounds (and the
    * plan pin) built on them plan with AQE off. */
  private[graft] def prepareRank(nodes: DataFrame, edges: DataFrame,
      initRank: Long): (DataFrame, DataFrame) =
    Iterate.pinnedLayout(nodes.sparkSession) { sc =>
    val parts = sc.sessionState.conf.numShufflePartitions
    // Edge ⋈ out-degree is ROUND-INVARIANT: built once, outside the
    // loop, in ONE edge pass — the edge frame crosses exactly one
    // exchange (the layout repartition by `src`), and the out-degree
    // decoration rides it for free: after `repartition(parts, src)`
    // every src's rows share a partition, so the count-over-window's
    // required distribution is already satisfied (EnsureRequirements
    // adds NO exchange) and the window's partition-key sort IS the
    // pinned layout's sort. The former shape here ran the window on
    // the unpartitioned frame (own exchange + sort), then a dst
    // semi-join (second full-width exchange), then the layout
    // repartition (third) — 3 edge exchanges + 2 sorts, measured as a
    // >54 GB transient fill-then-abort at the sf100 rehearsal
    // (1.17 B edge rows). This shape is 1 exchange + 1 sort + the
    // serialized materialization: ≤ ~2× raw edge bytes transient.
    // outdeg counts ALL out-edges, including targets outside `nodes`
    // (the oracle's semantics) — nothing is dropped before the count.
    // dst confinement moved to the per-round fold-back join in
    // [[rankStep]] (an N-row co-partitioned join the round needs
    // anyway): a phantom-dst edge costs one combined row in the
    // per-round inflow exchange instead of a full-width prep shuffle.
    val eDeg = edges.on(sc)
      .select(col("src").cast("long"), col("dst").cast("long"))
      .repartition(parts, col("src"))
      .withColumn("outdeg", count(lit(1)).over(
        org.apache.spark.sql.expressions.Window.partitionBy("src")))
      .materialized(big = true) // pinned regime ⇒ 2|E|-row frame
    val nodeIds = nodes.on(sc).select(col("id").cast("long"))
    val ranks0 = nodeIds
      .withColumn("rank", lit(initRank))
      .repartition(parts, col("id"))
      .materialized(big = true)
    (eDeg, ranks0)
    }

  /** One pinned-regime pageRank round — the loop body, exposed for the
    * plan pin. With [[prepareRank]]'s layout the probe join is
    * exchange-free; the round's single exchange is the (id, contrib)
    * inflow aggregate, and the fold-back left join onto the rank frame
    * is co-partitioned (aggregate output and ranks0 are both
    * hash(id, parts)) so it adds NO exchange. The fold-back is also
    * where dst confinement and dangling backfill happen: an inflow key
    * outside the node universe (a phantom-dst edge target — prep no
    * longer ships a full-width semi-join to drop it) finds no rank row
    * to land on, and a node nobody links to backfills zero — the same
    * one-join discipline as [[rankStepBroadcast]]. Output keeps
    * ranks0's hash(id) partitioning, so the next round stays
    * exchange-free too. */
  private[graft] def rankStep(eDeg: DataFrame, ranks0: DataFrame,
      base: Long): DataFrame = {
    val ranks = ranks0
    // `div` (integral division), NOT `/`: the `/` operator on longs
    // promotes to double, and a quotient one ulp below an integer
    // would round up and truncate differently from the oracle's
    // exact floor division
    val inflow = eDeg
      .join(ranks, eDeg("src") === ranks0("id"))
      .select(col("dst").as("id"),
        expr("rank div outdeg").as("contrib"))
      .groupBy("id").agg(sum(col("contrib")).as("inflow"))
    ranks0.select(col("id"))
      .join(inflow, Seq("id"), "left")
      .select(col("id"),
        (lit(base) +
          expr("(85 * coalesce(inflow, CAST(0 AS BIGINT))) div 100"))
          .as("rank"))
  }

  /** Per-node triangle counts + degree over an UNDIRECTED edge set
    * (`a`/`b` long columns, one row per unordered pair, a ≠ b).
    *
    * The classic scalable shape: orient every edge from its
    * lower-(degree, id) endpoint to the higher one — the oriented
    * out-degree of ANY graph is O(√m), so the wedge self-join that
    * dominates triangle counting fans out per-node by at most √m
    * instead of by the max raw degree (a star graph produces ZERO
    * wedges once oriented). Wedges then semi-join the oriented edge
    * set to confirm the closing edge, and each confirmed triangle
    * credits its three corners. Three key-partitioned shuffles total
    * (wedge join, closing join, per-node count); no driver state. */
  def triangleCounts(edges: DataFrame): DataFrame = {
    // One row per unordered pair, MATERIALIZED once: the edge set
    // feeds the degree count AND the orientation join, and the
    // caller's edge construction is often a multi-branch union or
    // join — without the barrier every downstream branch re-inlines
    // it (the former shape here re-inlined it ~74×: the 3-way corner
    // union × the 2-way closing union × two degree attaches over the
    // 2|E| symmetrized frame compounded to a ~700 KB physical plan
    // with 1184 parquet scans at sf0.1).
    val und = edges.select(col("a").cast("long"), col("b").cast("long"))
      .materialized()
    // degree = endpoint appearances over the |E|-row frame (und holds
    // each undirected edge once, so a-side + b-side count every
    // incident edge exactly once per endpoint — same result as
    // counting over the symmetrized frame at half the aggregated
    // rows). Materialized: it feeds both orientation attaches and the
    // final left join.
    val deg = und.select(col("a").as("node"))
      .unionByName(und.select(col("b").as("node")))
      .groupBy("node").agg(count(lit(1)).as("degree"))
      .materialized()
    // orient by (degree, id): strict total order, so each undirected
    // edge appears exactly once. The swap runs on the |E|-row frame
    // directly — the former symmetrize-then-filter paid both degree
    // joins on 2|E| rows to keep half of them. Materialized: three
    // consumers (both wedge sides + the closing side).
    val lower = col("da") < col("db") ||
      (col("da") === col("db") && col("a") < col("b"))
    val oriented = und
      .join(deg.select(col("node").as("a"), col("degree").as("da")), "a")
      .join(deg.select(col("node").as("b"), col("degree").as("db")), "b")
      .select(when(lower, col("a")).otherwise(col("b")).as("src"),
        when(lower, col("b")).otherwise(col("a")).as("dst"))
      .materialized()
    // wedges u→{v,w}: two out-edges of the same src, deduplicated by
    // id order (v < w), so each candidate pair appears once. The
    // closing edge is oriented by (degree, id) — which may run v→w OR
    // w→v in id terms — but the wedge key is id-NORMALIZED (v < w),
    // so normalizing the closing side the same way (least/greatest)
    // matches both orientations with ONE |E|-row frame instead of the
    // former 2|E| two-orientation union; exactly one orientation can
    // exist, and the wedge's src is the triangle's unique ≺-minimum
    // corner, so every triangle is counted exactly once.
    val e1 = oriented.select(col("src"), col("dst").as("v"))
    val e2 = oriented.select(col("src"), col("dst").as("w"))
    val wedges = e1.join(e2, "src").filter(col("v") < col("w"))
    val closing = oriented.select(
      least(col("src"), col("dst")).as("v"),
      greatest(col("src"), col("dst")).as("w"))
    val tri = wedges.join(closing, Seq("v", "w"))
    // credit all three corners in ONE pass: explode replaces the
    // former 3-branch union that re-ran the wedge+closing joins once
    // per corner (ReuseExchange dedupes the exchanges, not the join
    // probe work above them)
    val corners = tri
      .select(explode(array(col("src"), col("v"), col("w"))).as("node"))
      .groupBy("node").agg(count(lit(1)).as("triangles"))
    deg.join(corners, Seq("node"), "left")
      .select(col("node"), col("degree"),
        coalesce(col("triangles"), lit(0L)).as("triangles"))
  }

  /** Synchronous label propagation (community detection), fixed
    * iteration count, DETERMINISTIC tie-break: each round every node
    * adopts the most frequent label among its in-neighbors, ties
    * broken by the smallest label; isolated nodes keep their own.
    * Classic async LPA is run-order-dependent and can never
    * hash-match a replay — synchronous rounds with a pinned tie-break
    * make the result a pure function of (graph, iters), so an
    * external oracle unrolls the identical rounds. Per round: one
    * label join + one (node, label) count + one argmax — all
    * key-partitioned on the node id, localCheckpointed like
    * [[pageRank]] so lineage stays constant. `edges` is directed
    * (src ← adopts from → dst); pass both directions for the usual
    * undirected semantics. */
  def labelPropagation(nodes: DataFrame, edges: DataFrame,
      iters: Int = 4): DataFrame = {
    require(iters >= 1 && iters <= 50, "iters must be in [1, 50]")
    // the node frame's plan estimate picks the regime (see
    // Iterate.broadcastRegime): in the broadcast regime every label
    // join is hinted broadcast
    val s = nodes.sparkSession
    val nodesSizeEst = nodes.queryExecution.optimizedPlan.stats.sizeInBytes
    val small = Iterate.broadcastRegime(s, nodesSizeEst)
    val hint: DataFrame => DataFrame = if (small) broadcast(_) else identity
    val (e, labels0, edgesSizeEst) = initLabels(
      nodes.select(col("id").cast("long")),
      edges.select(col("src").cast("long"), col("dst").cast("long")),
      "lbl", hint)
    // in the broadcast regime the rounds' exchanges are the (node,
    // label) count and the argmax aggregates. The count's keys grow
    // with the EDGES (a node with d in-neighbors can carry d distinct
    // labels), so the static width follows the larger of the node and
    // edge estimates (see Iterate.staticBoundedLoop)
    Iterate.rounds(s, e, labels0, iters,
        staticBytes = Option.when(small)(nodesSizeEst.max(edgesSizeEst))) {
      (e, labels) =>
        val counts = e
          .join(hint(labels.select(col("id"), col("lbl"))),
            e("dst") === col("id"))
          .groupBy(e("src").as("nid"), col("lbl"))
          .agg(count(lit(1)).as("cnt"))
        // argmax by (count desc, label asc) via lexicographic struct
        // min. The keep-own-label fallback rides the SAME aggregate as
        // zero-count skeleton rows (one per node, its current label):
        // any real neighbor entry (cnt ≥ 1 ⇒ -cnt < 0) outranks the
        // skeleton, and an isolated node's only entry IS its skeleton —
        // the former per-round N-row fold-back left join (and its
        // broadcast build) did exactly this, one whole join later.
        counts.select(col("nid"), col("lbl"), col("cnt"))
          .unionByName(labels.select(col("id").as("nid"), col("lbl"),
            lit(0L).as("cnt")))
          .groupBy("nid")
          .agg(min(struct((-col("cnt")).as("nc"), col("lbl").as("l")))
            .as("b"))
          .select(col("nid").as("id"), col("b.l").as("lbl"))
    }
  }

  /** The prep label propagation and [[Dedup.connectedComponents]]
    * share: `edges` (`src`, `dst`) with `src` confined to the id
    * universe, and the initial labels (id, `label` = id), both
    * materialized. `universe` is the one-column id frame. The src
    * confinement happens once, round-invariantly: each round folds a
    * zero-count or current-label skeleton row per node into the same
    * aggregate as the neighbor rows, so a src outside the universe
    * must never mint a group. dst stays implicitly confined by the
    * per-round inner label join. Also returns the confined edges' plan
    * estimate, read before the checkpoint (a checkpointed frame can
    * report Spark's huge default size). */
  private[graft] def initLabels(universe: DataFrame, edges: DataFrame,
      label: String, hint: DataFrame => DataFrame)
      : (DataFrame, DataFrame, BigInt) = {
    val id = universe.columns.head
    val e = edges.join(hint(universe.select(col(id).as("src"))), Seq("src"),
      "left_semi")
    val edgesSizeEst = e.queryExecution.optimizedPlan.stats.sizeInBytes
    (e.materialized(), universe.withColumn(label, col(id)).materialized(),
      edgesSizeEst)
  }

  /** Both directions of each (`a`, `b`) row as (`src`, `dst`), from ONE
    * explode over `df`. A self-union would read `df` twice, and with no
    * exchange reuse across its two differently-projected branches an
    * unmaterialized `df` (a join, a distinct) runs twice (measured r16:
    * ~1 s of graph_pagerank's prep at sf0.1). Same multiset of rows. */
  def bothDirections(df: DataFrame, a: String, b: String): DataFrame =
    df.select(explode(array(
        struct(col(a).as("src"), col(b).as("dst")),
        struct(col(b).as("src"), col(a).as("dst")))).as("e"))
      .select(col("e.src").as("src"), col("e.dst").as("dst"))

  /** Multi-source BFS: minimum hop count from a seed set, bounded by
    * `maxHops` rounds. Frontier expansion only — each round joins the
    * PREVIOUS round's frontier (nodes first reached there) against the
    * edge list, so per-round work is the frontier's out-degree sum,
    * not |visited|·|E| — the textbook distributed BFS. A node's first
    * reach round IS its shortest distance, so no min-merge is needed.
    * `localCheckpoint` per round truncates the growing lineage (the
    * same iteration discipline as [[pageRank]]/[[labelPropagation]]).
    * Nodes unreached within the budget keep a null distance; seeds not
    * present in `nodes` are ignored.
    *
    * `denseFactor` sets where a pinned-regime round switches to the
    * dense-frontier bitmap path (see below); `0` sends every pinned
    * round down it, a negative value disables it.
    */
  def bfsHops(nodes: DataFrame, edges: DataFrame, seeds: DataFrame,
      maxHops: Int, denseFactor: Long = 1365): DataFrame = {
    require(maxHops >= 1 && maxHops <= 50, "maxHops must be in [1, 50]")
    import graft.functions.VectorFunctions
    // two measured regimes, like [[pageRank]]: a node universe whose
    // (id, hops) frame passes Iterate.broadcastRegime means every
    // frontier does too (frontier ⊆ nodes) — rounds are map-side
    // joins under normal AQE planning. Past it, the pinned-layout
    // regime pre-buckets the edge frame by the loop join key (src) so
    // only the frontier ever shuffles, and a per-round count (an O(1)
    // job on the already-materialized frontier) still broadcasts the
    // early, small frontiers.
    val s = nodes.sparkSession
    // one bounded (1-row) driver job: N picks the regime; min(id)
    // gates the dense-frontier bitmap path (bucket math needs positive
    // ids) and max(id) sizes its bucket count
    val nStats = nodes
      .agg(count(lit(1)).as("n"), min(col("id").cast("long")).as("m"),
        max(col("id").cast("long")).as("mx"))
      .head
    val n = nStats.getLong(0)
    val minId = if (nStats.isNullAt(1)) 1L else nStats.getLong(1)
    val maxId = if (nStats.isNullAt(2)) 1L else nStats.getLong(2)
    val nodesSmall = Iterate.broadcastRegime(s, BigInt(n) * 16)
    // Dense-frontier regime (pinned only): once the frontier's
    // expected expansion (|frontier|·avgdeg) dwarfs the whole
    // bitmap universe, the per-round reached-set `distinct` is the
    // measured scale-killer — each map task sees most of the dst
    // universe, so partial aggregation barely reduces and the
    // exchange ships ~(tasks × |V|) rows (sf30: 5.5× for 3× data,
    // heap-insensitive). Instead, reached-dst state is folded
    // map-side into bounded 2^18-bit bucket bitmaps via the
    // hash-aggregable [[graft.functions.BitmapAgg]] (NOT the builtin
    // bitmap_construct_agg, whose binary-buffer ImperativeAggregate
    // can only plan as SortAggregateExec — sorting the whole
    // expansion per round cost almost everything the bitmap shape
    // saves; see BitmapAgg's scaladoc for the measured delta), so
    // the exchange ships at most tasks × ⌈maxId/2^18⌉ bitmap rows —
    // O(maxId/8) bytes per task, not O(|V|) rows — and the
    // visited-set anti-join collapses to an AND-NOT against a
    // ⌈maxId/2^18⌉-row visited mask. Ids decode back out of the
    // reduced bitmaps ([[VectorFunctions.BitmapPositions]]). Sparse
    // rounds (early small frontiers) keep the row path: a
    // mostly-empty 32 KB bucket bitmap per touched bucket per task
    // would ship ~1365× MORE bytes than the rows it replaces — the
    // crossover below is exactly that byte ratio (32768-byte bucket
    // over a ~24 B id row), the `denseFactor` default, which
    // rehearsals (and the spec) override to measure both sides of the
    // boundary; negative disables the bitmap machinery entirely (no
    // edge count, no visited mask).
    val bShift = 18
    val bBits = 1 << bShift
    val bitmapRows = (maxId - 1) / bBits + 1
    def run(nodes: DataFrame, edges: DataFrame, seeds: DataFrame,
        pinned: Boolean): DataFrame = {
      val parts = edges.sparkSession.sessionState.conf.numShufflePartitions
      // dst confined to the node universe once, round-invariantly —
      // an edge target outside `nodes` must not seed phantom traversal
      // (same discipline as pageRank's eDeg)
      // nodesSmall ⇒ hint every N-bounded side explicitly — the
      // regime gate just proved anything ≤ N rows broadcastable, so
      // the hint removes size mis-estimates on RDD-backed loop state
      // (AQE stays on; see pageRank's broadcast-regime note)
      val nHint: DataFrame => DataFrame =
        if (nodesSmall) broadcast(_) else identity
      val e0 = edges.select(col("src").cast("long"), col("dst").cast("long"))
        .join(nHint(nodes.select(col("id").cast("long").as("dst"))),
          Seq("dst"), "left_semi")
      // pinned ⇒ the node frame crossed the broadcast threshold ⇒
      // the 2|E|-row edge frame (and the N-bound visited states
      // below) store serialized (see Iterate.materialize's big doc)
      val e = (if (pinned)
          e0.repartition(parts, col("src")).sortWithinPartitions("src")
        else e0)
        .materialized(big = pinned)
      val useBitmaps = pinned && minId >= 1L && denseFactor >= 0L
      val eCount = if (useBitmaps) e.count() else 0L
      val avgDeg =
        if (useBitmaps) math.max(1L, eCount / math.max(1L, n)) else 1L
      // bk = (id-1) >> 18, pos = (id-1) & (2^18 - 1), both codegen'd;
      // decode is id = bk·2^18 + pos + 1
      def bkOf(c: org.apache.spark.sql.Column) =
        shiftright(c - 1, bShift).as("bk")
      def posOf(c: org.apache.spark.sql.Column) =
        (c - 1).bitwiseAND(lit((bBits - 1).toLong)).as("pos")
      def toMask(ids: DataFrame): DataFrame = ids
        .select(bkOf(col("id")), posOf(col("id")))
        .groupBy("bk")
        .agg(graft.functions.BitmapAgg.bitmap_agg(col("pos"), bBits)
          .as("vbm"))
      // per-round state is the VISITED set (id, hops) — frontier-sized
      // work stays frontier-sized: each round anti-joins new arrivals
      // against visited instead of left-joining the whole node universe
      // (first arrival = min hop, because rounds only increase); the
      // node frame enters exactly once, at the end, to backfill
      // never-reached nodes with null
      var visited = seeds.select(col("id").cast("long")).distinct()
        .join(nodes.select(col("id").cast("long")), Seq("id"), "left_semi")
        .withColumn("hops", lit(0L))
        .materialized(big = pinned)
      // the visited-set bitmap mask — ⌈maxId/2^18⌉ rows of ≤32 KB,
      // kept in sync every round (cheap at any frontier size) so a
      // dense round can engage regardless of what earlier rounds did
      var visitedBm =
        if (useBitmaps) toMask(visited).materialized() else null
      // NOTE (measured, r16): static-planning this loop via
      // Iterate.staticBoundedLoop — as pageRank/labelProp/cc do —
      // was tried and LOST on alternated A/B at sf0.1 (min-of-3
      // 4.68 s AQE vs 5.22 s static; 6 alternated rounds across two
      // measurement sessions, static +0.5 s in 5 of 6). Unlike the
      // other loops, BFS's per-round broadcast builds (the visited
      // union grows by one frame per round) measured ~0.5 s slower
      // without AQE's runtime re-planning, eating the barrier
      // savings. AQE stays on here.
      var frontier = visited
      var round = 1
      while (round <= maxHops) {
        val f = frontier.select(col("id").as("_fid"))
        val fCount =
          if (nodesSmall) 0L else frontier.count()
        val fSmall =
          nodesSmall || Iterate.broadcastRegime(s, BigInt(fCount) * 16)
        val dense = useBitmaps &&
          fCount * avgDeg > parts.toLong * bitmapRows * denseFactor
        val reached = Iterate.materialize(
          if (dense) {
            e.join(f, e("src") === col("_fid"))
              .select(bkOf(col("dst")), posOf(col("dst")))
              .groupBy("bk")
              .agg(graft.functions.BitmapAgg
                .bitmap_agg(col("pos"), bBits).as("bm"))
              .join(visitedBm, Seq("bk"), "left")
              .select(col("bk"),
                when(col("vbm").isNull, col("bm"))
                  .otherwise(VectorFunctions.bitmap_andnot(
                    col("bm"), col("vbm"))).as("bm"))
              .filter(expr("bitmap_count(bm) > 0"))
              .select(col("bk"), explode(
                VectorFunctions.bitmap_positions(col("bm"))).as("pos"))
              .select((col("bk") * bBits + col("pos") + 1)
                .cast("long").as("id"))
              .withColumn("hops", lit(round.toLong))
          } else {
            val expanded = e.join(if (fSmall) broadcast(f) else f,
                e("src") === col("_fid"))
              .select(e("dst").as("id"))
            // anti(distinct(X)) ≡ distinct(anti(X)) — the anti-join
            // filters by the distinct key. In the broadcast regime
            // the anti side is hinted broadcast (exchange-free), so
            // running it BELOW the distinct shuffles only unvisited
            // dsts — late-round expansions mostly re-hit visited
            // nodes, the rows this drops before the exchange. The
            // pinned row path keeps distinct-first: there the anti
            // join is a shuffle join, and feeding it the raw
            // expansion would shuffle MORE bytes, not fewer.
            (if (nodesSmall)
              expanded.join(nHint(visited), Seq("id"), "left_anti")
                .distinct()
            else
              expanded.distinct()
                .join(visited, Seq("id"), "left_anti"))
              .withColumn("hops", lit(round.toLong))
          }, round, big = pinned)
        // broadcast regime: the visited set is a union of frames that
        // are EACH already materialized (seeds + every round's
        // reached), so re-materializing the union copied O(N·rounds)
        // rows across the loop for no layout gain — the anti-join and
        // the final backfill read the cached pieces through the union
        // for free. The pinned regime keeps the copy: its big-frame
        // serialized storage level is the point there.
        visited =
          if (pinned) Iterate.materialize(visited.unionByName(reached),
            round, big = true)
          else visited.unionByName(reached)
        if (useBitmaps)
          visitedBm = Iterate.materialize(
            visitedBm.unionByName(
              reached.select(bkOf(col("id")), posOf(col("id")))
                .groupBy("bk")
                .agg(graft.functions.BitmapAgg
                  .bitmap_agg(col("pos"), bBits).as("vbm")))
              .groupBy("bk")
              .agg(graft.functions.BitmapAgg
                .bitmap_agg(col("vbm"), bBits).as("vbm")), round)
        frontier = reached
        round += 1
      }
      nodes.select(col("id").cast("long"))
        .join(nHint(visited), Seq("id"), "left")
        .select(col("id"), col("hops"))
    }
    if (nodesSmall) run(nodes, edges, seeds, pinned = false)
    else {
      // ObjectHashAggregateExec falls back to sort-based aggregation
      // past spark.sql.objectHashAggregate.sortBased.fallbackThreshold
      // DISTINCT KEYS per task (default 128) — a partial bitmap
      // aggregate sees every bucket, so a graph with maxId past
      // 128·2^18 ≈ 33 M would silently re-pay the input sort the
      // typed aggregate exists to avoid. The pinned scope raises the
      // threshold past the bucket count (the buffers are bounded:
      // bitmapRows × 32 KB per task).
      val fbKey = "spark.sql.objectHashAggregate.sortBased.fallbackThreshold"
      val raise =
        if (minId >= 1L && denseFactor >= 0L && bitmapRows * 2 >
            s.conf.get(fbKey, "128").toLong)
          Seq(fbKey -> (bitmapRows * 2).toString)
        else Nil
      Iterate.pinnedLayout(s) { pl =>
        Iterate.scoped(pl, raise: _*) { sc =>
          run(nodes.on(sc), edges.on(sc), seeds.on(sc), pinned = true)
        }
      }.on(s)
    }
  }
}
