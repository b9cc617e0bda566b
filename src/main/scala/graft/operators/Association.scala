package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import Iterate.MaterializeOps

/** Market-basket association mining: frequent item pairs + rules.
  *
  * The reference engine's analytics surface stops at SPJU aggregates;
  * this is part of the extended pipeline family (SURVEY.md §2.7):
  * co-occurrence mining over a basket/item relation, the classic
  * retail / co-view / co-citation analysis.
  *
  * Scale design (the A-Priori discipline, 100 TB honest):
  *  - **Frequent items FIRST.** Pair candidates are generated only from
  *    items that individually clear `itemMinSupport` — the downward-
  *    closure prune that keeps the pair space from exploding. The prune
  *    runs as one map-side-combined groupBy over the deduplicated
  *    basket relation; the surviving item list joins back on item id
  *    (hash join, AQE broadcasts it when small).
  *  - **Pair generation is a within-basket self-join** on the basket
  *    key with `a.item < b.item`: work is Σ f_b·(f_b−1)/2 over
  *    *filtered* basket sizes f_b — quadratic only inside one basket,
  *    never across baskets. Baskets are natural units (an order, a
  *    session); their size is bounded by the domain, not the corpus, so
  *    the join is shuffle-partitioned by basket key and skew-free.
  *  - **Counts, not lists.** Nothing materializes per-basket pair
  *    arrays; `groupBy(pair).count` is map-side combined so the shuffle
  *    carries one row per distinct surviving pair per partition.
  *  - **Exact integer metrics.** Confidence and lift are emitted in
  *    floor micros (`x DIV y` over BIGINT products) so the report
  *    hash-matches any engine that replays the same arithmetic — the
  *    repo-wide determinism contract.
  */
object Association {

  /** Distinct (basket, item) pairs → frequent-pair counts.
    *
    * @param baskets  two columns: basket key, item id (duplicates OK —
    *                 deduplicated here; presence, not multiplicity, is
    *                 what association semantics count)
    * @return one row per unordered frequent pair (a_item < b_item) with
    *         both item supports and the pair support
    */
  def frequentPairs(baskets: DataFrame, basketCol: String, itemCol: String,
      itemMinSupport: Long, pairMinSupport: Long): DataFrame =
    frequentPairsFrom(
      basketRelation(baskets, basketCol, itemCol),
      itemMinSupport, pairMinSupport)

  /** The deduplicated `(bk, item)` relation, MATERIALIZED (eager
    * localCheckpoint). Every downstream consumer — both sides of the
    * pair self-join, the item-support aggregate under each, the
    * caller's basket count — re-reads these blocks instead of
    * re-running scan + distinct per dataflow branch (a plain DAG
    * recomputes the distinct once per branch: 5 full scans for the
    * rules query). Same discipline as the dedup family's
    * finalizePairs; the bench's release() reclaims the blocks. */
  def basketRelation(baskets: DataFrame, basketCol: String,
      itemCol: String): DataFrame =
    baskets.select(col(basketCol).as("bk"), col(itemCol).as("item"))
      .distinct()
      .materialized()

  /** [[frequentPairs]] over an already-materialized
    * [[basketRelation]]. The filtered relation `f` is checkpointed
    * too: it feeds BOTH self-join sides, and without the barrier each
    * side re-runs the support aggregate and the prune join. */
  def frequentPairsFrom(b: DataFrame, itemMinSupport: Long,
      pairMinSupport: Long): DataFrame = {
    val freqItems = b.groupBy("item")
      .agg(count(lit(1)).as("item_n"))
      .filter(col("item_n") >= itemMinSupport)
    val f = b.join(freqItems, "item").materialized()
    val lhs = f.select(col("bk"), col("item").as("a_item"),
      col("item_n").as("a_n"))
    val rhs = f.select(col("bk"), col("item").as("b_item"),
      col("item_n").as("b_n"))
    lhs.join(rhs, "bk")
      .filter(col("a_item") < col("b_item"))
      .groupBy("a_item", "b_item", "a_n", "b_n")
      .agg(count(lit(1)).as("pair_n"))
      .filter(col("pair_n") >= pairMinSupport)
  }

  /** One items-array row per basket, MATERIALIZED: `collect_set`
    * folds the RAW (bk, item) stream in a single partial-aggregated
    * shuffle — within-basket dedup happens in the aggregation
    * buffers, so the separate corpus-wide `distinct` pass (and its
    * checkpoint) disappears entirely. Buffers are bounded by basket
    * size, a domain constant. Item supports, the basket count and
    * pair generation all derive from this one frame. */
  def basketSets(baskets: DataFrame, basketCol: String,
      itemCol: String): DataFrame =
    baskets.select(col(basketCol).as("bk"), col(itemCol).as("item"))
      .groupBy("bk").agg(collect_set(col("item")).as("items"))
      .materialized()

  /** [[frequentPairsFrom]] in its FUSED regime: identical output,
    * half the shuffles. Input is [[basketSets]]' folded frame; item
    * supports come from a narrow explode of the materialized arrays
    * (distinct (bk, item) by construction — the corpus is never
    * rescanned); the A-Priori prune cuts each array to frequent items
    * INSIDE the scan via a broadcast long-set filter (one
    * catalog-bounded collect, the same bounded-model discipline as
    * the decontamination eval set and the IVF training sample); pair
    * generation is the codegen'd [[graft.functions.VectorFunctions
    * .CappedPairs]] generator on the pruned array. The whole
    * pipeline: basket fold, support aggregate, pair aggregate — three
    * key-partitioned shuffles, no self-join, and the support attaches
    * run broadcast against the frequent-pair table.
    * [[frequentPairsFrom]] remains the zero-collect path for
    * unbounded item catalogs. `pairAggTargetRows` is the pair
    * aggregate's per-task keyspace budget (see the sizing note below). */
  def frequentPairsFused(sets: DataFrame, itemMinSupport: Long,
      pairMinSupport: Long, pairAggTargetRows: Long = 4000000L)
      : DataFrame = {
    import graft.functions.VectorFunctions
    val spark = sets.sparkSession
    val itemN = sets.select(explode(col("items")).as("item"))
      .groupBy("item").agg(count(lit(1)).as("item_n"))
      .filter(col("item_n") >= itemMinSupport)
      .materialized() // feeds the broadcast set + both attaches
    val freq = VectorFunctions.broadcastLongSet(spark,
      itemN.select("item").collect().map(_.getLong(0)).toSeq)
    val pruned = VectorFunctions.long_set_filter(col("items"), freq)
    // MEASURED pair mass Σ k·(k−1)/2 over the pruned arrays — one
    // bounded (1-row) aggregate over the already-materialized basket
    // frame — plus the frequent-item count already on the driver.
    // Together they bound the pair aggregate's PER-TASK PARTIAL
    // KEYSPACE on fixed hardware. Measured shape of this corpus
    // (sf10): 120 M pair instances, 99.7 % singleton pairs, max
    // repeat 3 — map-side combine can barely reduce, but it is also
    // HARMLESS while each task's hash table fits memory (same-day
    // sf100 A/B: classic groupBy 357.5 s vs unconditional
    // repartition-first 401.6 s — shuffling raw pairs first just
    // re-pays the hash build post-exchange, so the classic plan
    // stays the default). What DOES degrade is the partial hash
    // table outgrowing its task's memory share — per-task keyspace
    // is ~mass/partitions, which grows without bound on a fixed-
    // width box. ONLY then (sparse pair space AND measured per-task
    // keyspace past `pairAggTargetRows`) the raw pair rows shuffle
    // FIRST into enough hash(a_item, b_item) partitions that each
    // task's keyspace is ≤ the budget: one linear 16-byte-row
    // exchange buys a bounded, spill-free aggregate. In the DENSE
    // regime (small catalog, every pair repeating — classic retail)
    // map-side combine reduces mass → ~C(catalog, 2) and the classic
    // plan is the win at ANY size, so the bypass never engages.
    val mass = sets.select(size(pruned).cast("long").as("k"))
      .agg(coalesce(sum(expr("(k * (k - 1)) div 2")), lit(0L)).as("m"))
      .head.getLong(0)
    val freqCount = freq.value.size.toLong
    val parts = spark.sessionState.conf.numShufflePartitions
    // sparse ⇔ the mean pair can repeat < 2×: BigInt — C(2M, 2)
    // overflows nothing but caution is free
    val sparse =
      BigInt(freqCount) * (freqCount - 1) / 2 > BigInt(mass) / 2
    // CappedPairs sorts ids and emits i<j — exactly the a_item<b_item
    // orientation; the cap is inert (baskets are domain-bounded)
    val exploded = sets
      .select(explode(VectorFunctions.capped_pairs(
        pruned, Int.MaxValue)).as("p"))
      .select(col("p.id_a").as("a_item"), col("p.id_b").as("b_item"))
    val pairSrc =
      if (sparse && mass / math.max(1, parts) > pairAggTargetRows) {
        // partitions scale with the measured mass (what AQE/a real
        // cluster does), capped so task count stays schedulable
        val p = math.max(parts.toLong,
          math.min(mass / pairAggTargetRows + 1, 4096L)).toInt
        exploded.repartition(p, col("a_item"), col("b_item"))
      } else exploded
    val pairs = pairSrc
      .groupBy("a_item", "b_item")
      .agg(count(lit(1)).as("pair_n"))
      .filter(col("pair_n") >= pairMinSupport)
    pairs
      .join(broadcast(itemN.select(col("item").as("a_item"),
        col("item_n").as("a_n"))), "a_item")
      .join(broadcast(itemN.select(col("item").as("b_item"),
        col("item_n").as("b_n"))), "b_item")
      .select("a_item", "b_item", "a_n", "b_n", "pair_n")
  }

  /** Frequent pairs → directed association rules with exact-integer
    * confidence and lift.
    *
    * Each unordered pair yields both orientations. With N = total
    * basket count:
    *   conf(A→B) = pair_n / ant_n          (floor micros)
    *   lift(A→B) = conf(A→B) / (cons_n/N) = pair_n·N / (ant_n·cons_n)
    * Lift is symmetric; confidence is not — both emitted per direction.
    * `nBaskets` is a ONE-ROW frame (the basket count aggregated by the
    * caller from the same relation) crossJoined in — a 1-row-bounded
    * broadcast, never a driver action inside the operator.
    */
  def rules(pairs: DataFrame, nBaskets: DataFrame): DataFrame =
    // both orientations come out of ONE explode per pair row instead
    // of the former two-projection self-union — half the reads of the
    // pair relation. The relation STAYS materialized even though the
    // explode is its only consumer: callers sort the rule report, and
    // a range exchange SAMPLES its child before shuffling it — on an
    // unmaterialized frame that re-runs the mining joins a second
    // time (measured: dropping the barrier cost +50% at sf1).
    pairs.materialized()
      .select(explode(array(
        struct(col("a_item").as("antecedent"),
          col("b_item").as("consequent"), col("pair_n"),
          col("a_n").as("ant_n"), col("b_n").as("cons_n")),
        struct(col("b_item").as("antecedent"),
          col("a_item").as("consequent"), col("pair_n"),
          col("b_n").as("ant_n"), col("a_n").as("cons_n")))).as("r"))
      .select(col("r.*"))
      .crossJoin(broadcast(nBaskets)) // 1 row by construction
      .withColumn("conf_micros",
        expr("(pair_n * 1000000L) DIV ant_n"))
      .withColumn("lift_micros",
        expr("(pair_n * n_baskets * 1000000L) DIV (ant_n * cons_n)"))
      .drop("n_baskets")
}
