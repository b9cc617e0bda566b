package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.BoundedMinCollect.bounded_min_collect
import graft.functions.TextFunctions._
import graft.functions.VectorFunctions._
import Iterate.MaterializeOps

/** Deduplication operators for the LLM-data-pipeline surface
  * (BASELINE.json north star — the reference engine has no dedup at all;
  * its only set op is fragment-reassembly UNION, SURVEY.md §2.5).
  *
  * Scale design notes (target: ~100 TB of documents on a large cluster):
  *  - every operator is a fixed number of key-partitioned shuffles — no
  *    driver-side collection, no per-row Scala closures in hot paths;
  *  - candidate generation is always blocked (LSH bands / band buckets),
  *    never all-pairs; oversized buckets (degenerate content, e.g. empty
  *    strings) are capped with a per-bucket row_number guard so one hot
  *    key cannot quadratically explode a task;
  *  - exact verification joins run only over candidate pairs.
  */
object Dedup {

  /** Finalize a pair-list result: materialize the UNSORTED pairs first
    * (the total-order sort's range partitioner samples its child — on an
    * unmaterialized plan that re-runs the whole verification DAG), then
    * sort + eager checkpoint under the session's [[Iterate]] policy
    * (default localCheckpoint — executor-storage blocks, reference-
    * tracked and GC-cleaned, NOT recomputable on executor loss; with
    * `spark.graft.reliableCheckpoint=true` + a checkpoint dir, a
    * RELIABLE checkpoint that survives losing an executor — the seam a
    * long dedup job on a real cluster wants, because the pair frame is
    * the expensive artifact everything downstream reads), then drop the
    * temp cache. */
  private def finalizePairs(df: DataFrame, sortCols: String*): DataFrame =
    Iterate.cached(df)(unsorted =>
      Iterate.materialize(unsorted.orderBy(sortCols.map(col): _*)))

  /** Driver-collect guard for the broadcast verification path, shared
    * by every caller so the two load-bearing constants cannot drift:
    * source plan stats × a conservative 8× expansion margin (the
    * shingle multiset carries one 8-byte hash per word, bounding its
    * bytes at ~8× the compressed text bytes) under a 256 MB ceiling.
    * Overshooting only flips to the shuffle path early — never to an
    * oversized driver collect. */
  private def setsFitOnDriver(sources: DataFrame*): Boolean =
    !forceShuffleVerify(sources.head.sparkSession) &&
      sources.map(_.queryExecution.optimizedPlan.stats.sizeInBytes).sum *
        8 < (256L << 20)

  /** Dev/test seam: `spark.graft.forceShuffleVerify=true` makes every
    * size guard take the shuffle-verify path regardless of stats, so
    * specs (and small-scale rehearsals) can pin the distributed path's
    * values against the broadcast path's on the same corpus. */
  private def forceShuffleVerify(s: SparkSession): Boolean =
    s.conf.getOption("spark.graft.forceShuffleVerify").contains("true")

  /** Exact-Jaccard verification of distinct candidate pairs against a
    * per-doc sorted-distinct gram-set table, with the execution shape
    * picked by an estimated size guard (shared by minhashLsh and
    * ngramJaccard so the two paths cannot diverge):
    *  - `setsSmall`: the gram sets ship as a Spark Broadcast map and
    *    each candidate costs one [[graft.functions.VectorFunctions
    *    .BroadcastJaccard]] lookup — the ~KB arrays never enter a row.
    *    The verified pairs are eagerly materialized (localCheckpoint in
    *    [[finalizePairs]]) and the broadcast destroyed before
    *    returning, so no block-manager state outlives the call;
    *  - otherwise: two joins against the gram-set table — shuffles
    *    proportional to the candidate count, no driver/broadcast
    *    limits. The honest 100 TB route.
    *
    * `textVerify = Some((docs, n))` swaps the shuffle path's payload:
    * candidates join back to the RAW ~1 KB text and the codegen'd
    * [[graft.functions.VectorFunctions.JaccardSim]] re-grams both
    * sides inline — by construction the same normalize + char-n-gram +
    * merge-intersect pipeline that built `sets`, so the value is
    * bit-identical. The win is shuffle BYTES: a gram-set array is ~8×
    * the text it came from (one 8-byte hash per character position),
    * and the verify join ships its payload once per CANDIDATE — at the
    * sf10 high-entropy rehearsal the array-carrying join spilled >58 GB
    * (unfinishable on one box) where the text-carrying join moves
    * ~1/8th of that for a few µs/pair of re-gram CPU. Char-ngram
    * callers only — the minhash family's sets are word shingles, which
    * JaccardSim does not compute. */
  private def verifiedJaccardPairs(
      sets: DataFrame,
      candidates: DataFrame,
      threshold: Double,
      setsSmall: Boolean,
      textVerify: Option[(DataFrame, Int)] = None): DataFrame = {
    if (setsSmall) {
      val gsets: scala.collection.Map[Long, Array[Long]] = sets
        .collect()
        .map(r => r.getLong(0) -> r.getSeq[Long](1).toArray)
        .toMap
      val bc = sets.sparkSession.sparkContext.broadcast(gsets)
      val pairs = finalizePairs(candidates
        .withColumn("jaccard",
          broadcast_jaccard(col("id_a"), col("id_b"), bc))
        .filter(col("jaccard") >= threshold),
        "id_a", "id_b")
      // unpersist (not destroy): frees the executor-side blocks now
      // that the pairs are checkpointed. NOTE a lost checkpointed
      // block is NOT recomputable (localCheckpoint truncates lineage —
      // executor loss fails the job either way); unpersist-vs-destroy
      // here is only about not racing an in-flight fetch, not a
      // recovery path.
      bc.unpersist(blocking = false)
      pairs
    } else if (textVerify.isDefined) {
      val (docs, n) = textVerify.get
      val txt = docs.select(col("doc_id"), col("text"))
      finalizePairs(candidates
        .join(txt.select(col("doc_id").as("id_a"), col("text").as("t_a")),
          Seq("id_a"))
        .join(txt.select(col("doc_id").as("id_b"), col("text").as("t_b")),
          Seq("id_b"))
        .withColumn("jaccard", text_jaccard(col("t_a"), col("t_b"), n))
        .filter(col("jaccard") >= threshold)
        .select(col("id_a"), col("id_b"), col("jaccard")),
        "id_a", "id_b")
    } else {
      val nsets = sets.withColumn("n", size(col("gs")).cast("long"))
      finalizePairs(candidates
        .join(nsets.select(col("doc_id").as("id_a"), col("gs").as("gs_a"),
          col("n").as("n_a")), Seq("id_a"))
        .join(nsets.select(col("doc_id").as("id_b"), col("gs").as("gs_b"),
          col("n").as("n_b")), Seq("id_b"))
        .withColumn("n_common",
          sorted_intersect_count(col("gs_a"), col("gs_b")).cast("long"))
        .select(col("id_a"), col("id_b"),
          (col("n_common").cast("double") /
            (col("n_a") + col("n_b") - col("n_common")).cast("double"))
            .as("jaccard"))
        .filter(col("jaccard") >= threshold),
        "id_a", "id_b")
    }
  }

  /** Exact dedup by canonical-content fingerprint: every doc keeps its
    * group's min doc_id as `dup_of` (null for the kept representative).
    * One hash-partitioned window — the exact-group analog of a
    * groupBy-min, but emitting a decision per row so downstream filters
    * can either drop dups (`keep`) or audit them. */
  def exact(docs: DataFrame): DataFrame = {
    val w = Window.partitionBy("fp")
    docs
      .select(col("doc_id"), fingerprint(col("text")).as("fp"))
      .withColumn("rep_id", min("doc_id").over(w))
      .select(
        col("doc_id"), col("fp"),
        (col("doc_id") === col("rep_id")).as("keep"),
        when(col("doc_id") =!= col("rep_id"), col("rep_id")).as("dup_of"))
  }

  /** Quality-weighted representative election — [[exact]]'s curation
    * twin: each duplicate class keeps its BEST member by a caller-
    * supplied quality expression (ties to the smallest doc_id)
    * instead of the first-seen id. Real pipelines prefer the cleanest
    * copy of a duplicated page (mirror/AMP/print variants share a
    * normalized fingerprint but differ in raw boilerplate), so
    * election is an argmax, not a min. Same single hash-partitioned
    * window as [[exact]]; the argmax is the repo's order-insensitive
    * max-struct discipline (negated id so one max covers both the
    * score and the tie-break). */
  def bestRep(docs: DataFrame,
      quality: org.apache.spark.sql.Column): DataFrame = {
    val w = Window.partitionBy("fp")
    docs
      .select(col("doc_id"), fingerprint(col("text")).as("fp"),
        quality.as("quality"))
      .withColumn("m",
        max(struct(col("quality"), (-col("doc_id")).as("nid"))).over(w))
      .select(col("doc_id"), col("fp"), col("quality"),
        (col("doc_id") === -col("m.nid")).as("keep"),
        when(col("doc_id") =!= -col("m.nid"), -col("m.nid"))
          .as("dup_of"))
  }

  /** Deletion propagation through an existing decision table — the
    * right-to-be-forgotten maintenance step: when a KEPT document is
    * deleted, its duplicate class must re-elect a representative, and
    * the update must run off the DECISIONS (doc_id, keep, dup_of)
    * alone — no text rescan, no re-fingerprinting (at 100 TB the
    * decision table is orders of magnitude cheaper than the corpus).
    * Class key = coalesce(dup_of, doc_id) — exactly the equivalence
    * class the original run assigned; survivors re-elect min(doc_id)
    * per class, the same tie-free rule as [[exact]], so the output is
    * byte-identical to re-running dedup on the surviving corpus. One
    * class-keyed window over decision rows.
    *
    * PRECONDITION: `decisions` must be an EQUIVALENCE-CLASS table —
    * every dup_of points at its class representative ([[exact]]'s
    * output, or [[connectedComponents]]' closure). The near-dup
    * decision tables (minhash/simhash) share the schema but their
    * dup_of is a nearest NEIGHBOR, which chains — run the transitive
    * closure first or classes will silently split. Election is
    * MIN-ID: a [[bestRep]] (quality-elected) table satisfies the
    * class-shape precondition but gets its representatives re-elected
    * by id here — even with zero deletions — so quality-elected
    * state needs a quality-aware forget, not this one. A null `deleted`
    * verdict means NOT deleted (a row is only dropped on an explicit
    * true). */
  def forget(decisions: DataFrame,
      deleted: org.apache.spark.sql.Column): DataFrame = {
    val w = Window.partitionBy("cls")
    decisions
      .filter(!coalesce(deleted, lit(false)))
      .withColumn("cls", coalesce(col("dup_of"), col("doc_id")))
      .withColumn("rep_id", min("doc_id").over(w))
      .select(col("doc_id"),
        (col("doc_id") === col("rep_id")).as("keep"),
        when(col("doc_id") =!= col("rep_id"), col("rep_id"))
          .as("dup_of"))
  }

  /** Rows per LSH band, `numHashes / bands`: the one divisibility
    * check of every MinHash operator, batch, index and stream. */
  private[graft] def rowsPerBand(numHashes: Int, bands: Int): Int = {
    require(numHashes % bands == 0,
      s"numHashes ($numHashes) must be divisible by bands ($bands) — " +
        "a remainder would silently drop hash functions and invalidate " +
        "the 1-(1-J^r)^b recall math")
    numHashes / bands
  }

  /** The one MinHash signature frame: (doc_id, `carried`…, sh, mh), the
    * k-word shingle multiset `sh` and its `numHashes` min-hashes `mh`,
    * both custom expressions inside the scan stage (no explode, no
    * shuffle). Docs without a shingle drop out. Every MinHash operator
    * (batch, increment, persisted index, audit and stream) builds from
    * it, so changing shingling or signing changes them together. Not
    * persisted: the batch callers read it twice and cache it with
    * [[Iterate.cached]]; the stream cannot. */
  private[graft] def signatureFrame(docs: DataFrame, shingleK: Int,
      numHashes: Int, carried: Column*): DataFrame =
    docs.select((col("doc_id") +: carried) :+
        shingle_hashes(col("text"), shingleK).as("sh"): _*)
      .withColumn("mh", minhash_sig(col("sh"), numHashes))
      .filter(col("mh").isNotNull)

  /** The sorted distinct shingle set of a signature frame's `sh`, the
    * form the exact-Jaccard verifiers intersect. */
  private[graft] def shingleSet(sh: Column): Column =
    array_sort(array_distinct(sh))

  /** The exact-Jaccard side table (doc_id, gs) of a signature frame. */
  private def indexSets(sigs: DataFrame): DataFrame =
    sigs.select(col("doc_id"), shingleSet(col("sh")).as("gs"))

  /** The one MinHash LSH band key: `cols` plus one row per band of a
    * signature frame, keyed `bk = hash(b, slice…)` over band b's
    * `rows`-wide signature slice. Folding the band id INTO the key
    * gives one int column: the batch operators group on it, the
    * persisted index buckets, groups and joins on it (a bucketed
    * scan's HashPartitioning then satisfies the aggregate and join
    * clustering exactly, with no re-shuffle), and the stream keys its
    * state by it. A cross-band hash collision merely merges two
    * buckets: candidates become a superset and the exact Jaccard
    * verification removes the impostors, so recall is unaffected (the
    * bucket cap binding marginally earlier on a merged bucket is the
    * usual hot-bucket trade). */
  private[graft] def bandPostings(sigs: DataFrame, bands: Int, rows: Int,
      cols: Column*): DataFrame =
    sigs.select(cols :+ explode(array((0 until bands).map { b =>
      hash(lit(b) +: (b * rows until (b + 1) * rows)
        .map(i => element_at(col("mh"), i + 1)): _*)
    }: _*)).as("bk"): _*)

  /** The one capped candidate stage over (doc_id, bk) postings: ONE
    * shuffle (groupBy `bk`) builds each bucket from its `maxBucket`
    * smallest ids, CappedPairs emits its (id_a < id_b) pairs with the
    * hot-bucket cap applied inside the generator, and a pair meeting
    * in several bands is kept once. */
  private def cappedCandidates(postings: DataFrame,
      maxBucket: Int): DataFrame =
    postings.groupBy("bk")
      .agg(bounded_min_collect(col("doc_id"), maxBucket).as("ids"))
      .select(explode(capped_pairs(col("ids"), maxBucket)).as("p"))
      .select(col("p.id_a").as("id_a"), col("p.id_b").as("id_b"))
      .distinct()

  /** Per-doc MinHash signature: `numHashes` independent min-hashes over
    * k-word shingle hashes, one column per hash function. */
  def minhashSignatures(
      docs: DataFrame, shingleK: Int, numHashes: Int): DataFrame =
    signatureFrame(docs, shingleK, numHashes).select(col("doc_id") +:
      (0 until numHashes).map(i =>
        element_at(col("mh"), i + 1).as(s"h$i")): _*)

  /** MinHash + LSH near-dup pairs with exact-Jaccard verification.
    *
    * numHashes=32 split into 8 bands × 4 rows ⇒ candidate-recall ~1 for
    * J ≥ 0.8 (P(candidate) = 1-(1-J^4)^8 = 0.9996 at J=0.8). Stages:
    *  1. shingles + signatures fused into the scan stage (custom
    *     expressions — ZERO shuffle);
    *  2. band keys → explode → one groupBy per band bucket with a
    *     bucket-size cap (bounded fan-out, [[cappedCandidates]]);
    *  3. exact Jaccard on candidates via shingle-set array intersection
    *     (two narrow joins, shuffles proportional to candidate count).
    */
  def minhashLsh(
      docs: DataFrame,
      shingleK: Int = 3,
      numHashes: Int = 32,
      bands: Int = 8,
      threshold: Double = 0.8,
      maxBucket: Int = 1000): DataFrame = {
    val rows = rowsPerBand(numHashes, bands)
    // cached: the signature frame feeds both the banding and the
    // exact-Jaccard verification. At 100 TB this is the table you'd
    // WRITE once (bucketed by band key, [[writeMinhashIndex]]) and
    // reuse across incremental dedup runs.
    Iterate.cached(signatureFrame(docs, shingleK, numHashes)) { sigs =>
      // The size guard must hold BEFORE anything has materialized
      // `sigs`, so it derives from the accurately-known parquet source
      // size with a conservative expansion margin (see setsFitOnDriver)
      // — overshooting only flips to the shuffle path early, never to
      // an oversized driver collect.
      verifiedJaccardPairs(indexSets(sigs),
        cappedCandidates(bandPostings(sigs, bands, rows, col("doc_id")),
          maxBucket),
        threshold, setsFitOnDriver(docs))
    }
  }

  /** INCREMENTAL MinHash-LSH epoch merge: near-dup pairs between a NEW
    * document increment and the full corpus (old ∪ new), WITHOUT
    * re-emitting or re-verifying old×old pairs — the previous epoch's
    * dedup already produced those. This is the batch form of the real
    * ingest loop (the streaming twin keeps the index as keyed state;
    * this one re-reads it): at 100 TB the old side's signatures are
    * the persisted dedup index (written bucketed by band key), the new
    * increment is a day's crawl, and the work is proportional to
    * buckets the increment actually touches — a bucket of only old
    * members generates nothing.
    *
    * `isNew` marks increment rows (any deterministic predicate of the
    * row). Emitted pairs: exactly the threshold-Jaccard pairs with at
    * least one new member, same banding/cap/verification as
    * [[minhashLsh]]. */
  def minhashLshIncrement(
      docs: DataFrame,
      isNew: Column,
      shingleK: Int = 3,
      numHashes: Int = 32,
      bands: Int = 8,
      threshold: Double = 0.8,
      maxBucket: Int = 1000): DataFrame = {
    val rows = rowsPerBand(numHashes, bands)
    Iterate.cached(signatureFrame(docs, shingleK, numHashes,
        isNew.as("is_new"))) { sigs =>
      // ASYMMETRIC hot-bucket cap: new members sort first (pri 0), so a
      // capped bucket keeps EVERY increment posting (up to the cap) plus
      // the smallest old ids — the same old-side-only cap the persisted
      // index merge applies. A plain min-doc_id cap under append-only
      // monotone ids systematically evicted exactly the new rows this
      // operator exists to match (new ids are always the largest).
      // bounded_min_collect orders lexicographically over the leading
      // LONG fields, so (pri, doc_id) ties break by doc_id — which old
      // (and, past the cap, which new) ids survive is deterministic,
      // not partition-arrival-order-dependent.
      val candidates =
        bandPostings(sigs, bands, rows, col("doc_id"), col("is_new"))
          .groupBy("bk")
          .agg(bounded_min_collect(
            struct(when(col("is_new"), 0L).otherwise(1L).as("pri"),
              col("doc_id"), col("is_new")), maxBucket).as("ps0"))
          .select(explode(flagged_capped_pairs(expr(
            "transform(ps0, x -> struct(x.doc_id AS doc_id, " +
              "x.is_new AS is_new))"), maxBucket)).as("p"))
          .select(col("p.id_a").as("id_a"), col("p.id_b").as("id_b"))
          .distinct()
      verifiedJaccardPairs(indexSets(sigs), candidates, threshold,
        setsFitOnDriver(docs))
    }
  }

  /** Write the PERSISTED minhash-LSH dedup index for a corpus — the
    * table a 100 TB ingest pipeline builds once and then merges every
    * epoch's increment against ([[minhashIndexMerge]]), instead of
    * re-deriving the full corpus's signatures per run (what
    * [[minhashLshIncrement]] does). Two bucketed tables:
    *  - `<prefix>_postings` (doc_id, bk), bucketed AND sorted by `bk`
    *    (the band key, [[bandPostings]]) — candidate generation reads
    *    it pre-clustered, zero index-side shuffle;
    *  - `<prefix>_sets` (doc_id, gs), bucketed by `doc_id` — the exact
    *    Jaccard verifier's side table.
    * Signatures are computed in the scan stage (custom expressions);
    * the only shuffles are the two bucketed writes themselves — the
    * exchange you pay ONCE so every later epoch doesn't. */
  def writeMinhashIndex(docs: DataFrame, prefix: String,
      shingleK: Int = 3, numHashes: Int = 32, bands: Int = 8,
      buckets: Int = 32): Unit =
    writeIndex(docs, prefix, shingleK, numHashes, bands, buckets,
      graft.sources.Layout.writeBucketed)

  /** APPEND an increment's signatures into an existing persisted index
    * (same bucket spec — Spark validates it), closing the ingest loop:
    * write the corpus index once, then per epoch
    * [[minhashIndexMerge]] the increment and append it, so epoch N+1
    * merges against old ∪ epochs 1..N with no rebuild. The append
    * shuffles ONLY the increment (into the index's bucketing). */
  def appendToMinhashIndex(newDocs: DataFrame, prefix: String,
      shingleK: Int = 3, numHashes: Int = 32, bands: Int = 8,
      buckets: Int = 32): Unit =
    writeIndex(newDocs, prefix, shingleK, numHashes, bands, buckets,
      graft.sources.Layout.appendBucketed)

  /** The index-writing body of [[writeMinhashIndex]] (`write` =
    * `Layout.writeBucketed`) and [[appendToMinhashIndex]]
    * (`Layout.appendBucketed`): the postings and set tables from one
    * cached signature frame. The two table writes overlap
    * (Layout.inParallel) instead of serializing, and the shared cache
    * needs no pre-materialization job: the block manager serializes
    * concurrent computes of the same cached partition (the second
    * writer blocks on the block lock and then reads the built block),
    * so the first writer to reach a partition builds it exactly once.
    * The r15 standalone count() paid a whole extra driver job per build
    * for a race that cannot duplicate work — alternated 4-round A/B on
    * this query (fresh JVM each run): no-count/parallel
    * 5.12/5.18/5.72/5.72 vs count/parallel 5.16/5.75/6.19/5.91 vs
    * serial (the r14 shape) 5.71/6.09/7.42/8.20 — the no-count overlap
    * wins every round. */
  private def writeIndex(docs: DataFrame, prefix: String, shingleK: Int,
      numHashes: Int, bands: Int, buckets: Int,
      write: (DataFrame, String, String, Int) => Unit): Unit = {
    val rows = rowsPerBand(numHashes, bands)
    Iterate.cached(signatureFrame(docs, shingleK, numHashes)) { sigs =>
      graft.sources.Layout.inParallel(
        () => write(bandPostings(sigs, bands, rows, col("doc_id")),
          s"${prefix}_postings", "bk", buckets),
        () => write(indexSets(sigs), s"${prefix}_sets", "doc_id",
          buckets))
    }
  }

  /** Epoch merge against the PERSISTED index: near-dup pairs between a
    * new (disjoint) document increment and the indexed corpus, plus
    * pairs inside the increment itself — without re-deriving a single
    * old-side signature. The index side runs SHUFFLE-FREE end to end:
    * `<prefix>_postings` is bucketed by `bk`, so the per-bucket
    * bounded collect clusters on the bucketed scan's own partitioning,
    * and the increment (a day's crawl — small by construction) either
    * broadcasts or shuffles itself to the index's partitioning; no
    * exchange ever sits above the index scan (pinned by the declared
    * query and `LayoutSpec`). Old-side bucket membership is capped at
    * `maxBucket` via the same O(cap) collect the batch operator uses.
    * Work is proportional to the buckets the increment touches — a
    * bucket with only old members never leaves the scan. */
  def minhashIndexMerge(newDocs: DataFrame, prefix: String,
      shingleK: Int = 3, numHashes: Int = 32, bands: Int = 8,
      threshold: Double = 0.8, maxBucket: Int = 1000): DataFrame = {
    val rows = rowsPerBand(numHashes, bands)
    val spark = newDocs.sparkSession
    Iterate.cached(signatureFrame(newDocs, shingleK, numHashes)) { sigs =>
      val np = bandPostings(sigs, bands, rows, col("doc_id"))
      // old buckets pre-aggregated ON the bucketed layout (no exchange)
      val oldBuckets = spark.table(s"${prefix}_postings")
        .groupBy("bk")
        .agg(bounded_min_collect(col("doc_id"), maxBucket).as("old_ids"))
      // new×old candidates: one join per touched bucket, fan-out ≤ cap
      val newOld = np.join(oldBuckets, Seq("bk"))
        .select(col("doc_id").as("nid"), explode(col("old_ids")).as("oid"))
        .filter(col("nid") =!= col("oid"))
        .select(least(col("nid"), col("oid")).as("id_a"),
          greatest(col("nid"), col("oid")).as("id_b"))
      // new×new candidates: the increment against itself, capped as in
      // the batch operator (old×old pairs belong to the previous epoch)
      val candidates =
        newOld.unionByName(cappedCandidates(np, maxBucket)).distinct()
      // verification: persisted set table ∪ the increment's sets; BOTH
      // sides of the size guard carry the conservative 8× expansion
      // margin — the written table's parquet stats are real on-disk
      // bytes, but snappy-compressed sorted longs expand several-fold
      // into JVM map entries when collected, same as any source
      val oldSets = spark.table(s"${prefix}_sets")
      verifiedJaccardPairs(oldSets.unionByName(indexSets(sigs)),
        candidates, threshold, setsFitOnDriver(oldSets, newDocs))
    }
  }

  /** Exact Jaccard for EVERY given (id_a, id_b) candidate pair — the
    * audit form: one output row per input pair, no threshold, cost
    * proportional to candidates. A doc with no shingles (empty/null
    * text, or absent from `docs` entirely) counts as the EMPTY
    * shingle set — overlap 0 against anything non-empty and 1.0
    * against another empty set (two empty docs are identical). Pairs
    * NEVER silently vanish: the previous inner-join formulation
    * dropped any pair with a shingle-less side, breaking row-parity
    * audits. Scoring shares [[graft.functions.VectorFunctions
    * .SortedIntersectCount]] with the threshold verifier so the edge
    * semantics cannot drift. */
  def verifyJaccard(
      docs: DataFrame, candidates: DataFrame, shingleK: Int): DataFrame = {
    // the signature frame's shingle sets (a shingle-less doc has no row
    // there and joins as the empty set below); the signature width is
    // irrelevant, one hash keeps it cheap
    val sets = indexSets(signatureFrame(docs, shingleK, 1))
    val emptyArr = array().cast("array<bigint>")
    candidates
      .join(sets.select(col("doc_id").as("id_a"), col("gs").as("gs_a")),
        Seq("id_a"), "left")
      .join(sets.select(col("doc_id").as("id_b"), col("gs").as("gs_b")),
        Seq("id_b"), "left")
      .withColumn("gs_a", coalesce(col("gs_a"), emptyArr))
      .withColumn("gs_b", coalesce(col("gs_b"), emptyArr))
      .withColumn("n_a", size(col("gs_a")).cast("long"))
      .withColumn("n_b", size(col("gs_b")).cast("long"))
      .withColumn("n_common",
        sorted_intersect_count(col("gs_a"), col("gs_b")).cast("long"))
      .select(col("id_a"), col("id_b"),
        when(col("n_a") + col("n_b") === 0, lit(1.0))
          .otherwise(col("n_common").cast("double") /
            (col("n_a") + col("n_b") - col("n_common")).cast("double"))
          .as("jaccard"))
  }

  /** Turn a near-dup pair list into per-doc keep/drop decisions: every
    * doc maps to the smallest doc_id among its direct neighbors
    * (including itself) — one shuffle over the pair list. This is
    * single-round star contraction: chains longer than one hop keep
    * their sub-representatives (full transitive closure would iterate
    * to a fixpoint; near-dup clusters are overwhelmingly stars in
    * practice, so one round is the standard scale/quality tradeoff). */
  // PRECONDITION (shared with connectedComponents): every id in
  // `pairs` must appear in `docs` — a pair id outside the corpus
  // yields a dup_of pointing at a representative that has no row
  // (and, in the closure, severs propagation through the missing
  // node, splitting components). Pairs are produced by the operators
  // above from the same corpus, which guarantees this by
  // construction; callers filtering `docs` AFTER pair generation
  // must re-filter the pairs too.
  def decisionsFromPairs(docs: DataFrame, pairs: DataFrame): DataFrame = {
    val edges = pairs.select(col("id_a").as("doc_id"), col("id_b").as("nb"))
      .unionByName(
        pairs.select(col("id_b").as("doc_id"), col("id_a").as("nb")))
    val rep = edges.groupBy("doc_id")
      .agg(min(col("nb")).as("min_nb"))
    docs.select(col("doc_id"))
      .join(rep, Seq("doc_id"), "left")
      .select(col("doc_id"),
        least(col("doc_id"), coalesce(col("min_nb"), col("doc_id")))
          .as("rep_id"))
      .select(col("doc_id"),
        (col("doc_id") === col("rep_id")).as("keep"),
        when(col("doc_id") =!= col("rep_id"), col("rep_id")).as("dup_of"))
  }

  /** Full transitive-closure dedup decisions: every doc's
    * representative is the MINIMUM doc_id in its connected component
    * of the near-dup pair graph. [[decisionsFromPairs]] is one
    * star-contraction round (chains longer than one hop keep
    * sub-representatives); this iterates min-label propagation to the
    * fixpoint, so A~B~C all map to min(A,B,C) no matter the chain
    * length. Each round costs two key-partitioned shuffles (neighbor
    * min + label join) and one O(1)-row convergence aggregate; labels
    * only ever decrease, so the component-sum fixpoint test is exact.
    * Rounds needed = the pair graph's path diameter — near-dup
    * clusters are stars/short chains in practice, so 2–3 rounds;
    * `maxIter` bounds adversarial chains. Every round's frame is
    * localCheckpointed (eager) so the plan stays constant-size instead
    * of doubling per iteration. Throws `IllegalStateException` if the
    * fixpoint is not reached within `maxIter` rounds — silently
    * returning partial labels would violate the documented
    * minimum-id-in-component contract with no signal. */
  def connectedComponents(docs: DataFrame, pairs: DataFrame,
      maxIter: Int = 20): DataFrame = {
    // two regimes, the pageRank/BFS/LPA discipline: a doc frame whose
    // PLAN ESTIMATE fits the broadcast threshold lets every round
    // hint its label join broadcast explicitly. Statistics-based —
    // zero driver jobs (a count() gate was measurable against the
    // whole loop at small scale); an unknown estimate (huge default)
    // leaves the hint off and the unhinted AQE shape is unchanged.
    val bcastThreshold =
      docs.sparkSession.sessionState.conf.autoBroadcastJoinThreshold
    val docsSizeEst = docs.queryExecution.optimizedPlan.stats.sizeInBytes
    val small = bcastThreshold > 0 && docsSizeEst <= BigInt(bcastThreshold)
    def run(): DataFrame = {
    val hint: DataFrame => DataFrame =
      if (small) org.apache.spark.sql.functions.broadcast(_) else identity
    // src confined to the doc universe ONCE (pairs from this module
    // always satisfy it; the hoist makes the operator safe for any
    // caller): the per-round fold below merges neighbor minima and
    // current labels through one aggregate keyed on doc_id, so a src
    // outside `docs` must never mint a group. dst stays implicitly
    // confined by the per-round inner label join.
    // both directions via ONE explode over the pair relation instead
    // of a self-union: the union form read `pairs` twice — cheap when
    // the caller passes a materialized frame, but a full double
    // derivation for an arbitrary unmaterialized pair plan (no
    // exchange reuse across the two differently-projected branches;
    // the r15 assoc_rules finding, applied here r16). Same multiset.
    val edges = pairs
      .select(explode(array(
        struct(col("id_a").as("src"), col("id_b").as("dst")),
        struct(col("id_b").as("src"), col("id_a").as("dst")))).as("e"))
      .select(col("e.src").as("src"), col("e.dst").as("dst"))
      .join(hint(docs.select(col("doc_id").as("src"))), Seq("src"),
        "left_semi")
      .materialized() // re-read every round
    val labels0 = docs.select(col("doc_id"), col("doc_id").as("comp"))
      .materialized()
    // decimal sum: overflow-proof fixpoint metric at any corpus size
    // (empty input sums to null → normalize to 0 so an empty docs
    // table converges on the first round instead of NPEing)
    def labelSum(df: DataFrame): java.math.BigDecimal = {
      val d = df.agg(sum(col("comp").cast("decimal(38,0)")))
        .collect()(0).getDecimal(0)
      if (d == null) java.math.BigDecimal.ZERO else d
    }
    var prevSum = labelSum(labels0)
    var iter = 0
    var converged = false
    // loop-only static scope: prep above (pair union, semi-join,
    // initial labels) keeps AQE; with `small` the per-round label join
    // is hinted broadcast, so each round's exchanges are the two
    // N-bounded min aggregates — plan them once at the state-derived
    // width (see Iterate.staticBoundedLoop)
    def loop(edges: DataFrame, labels0: DataFrame): DataFrame = {
    var labels = labels0
    // maxIter label-CHANGING rounds plus one confirming round: a graph
    // whose path diameter is exactly maxIter changes the sum in every
    // budgeted round and needs round maxIter+1 to observe no change —
    // correct labels must not be rejected at the budget boundary
    while (!converged && iter < maxIter + 1) {
      val nbr = edges.join(hint(labels), edges("dst") === labels("doc_id"))
        .groupBy("src").agg(min(col("comp")).as("nbr_comp"))
      // fold neighbor minima and current labels through ONE aggregate:
      // min over {comp} ∪ {nbr_comp if any} ≡ the former N-row
      // fold-back left join + least/coalesce, minus the per-round join
      // (src ⊆ doc universe by the prep confinement, and every doc
      // contributes its current label, so the key set is exactly the
      // universe)
      val next = Iterate.materialize(
        nbr.select(col("src").as("doc_id"), col("nbr_comp").as("comp"))
          .unionByName(labels)
          .groupBy("doc_id").agg(min(col("comp")).as("comp")), iter)
      val nextSum = labelSum(next)
      converged = nextSum.compareTo(prevSum) == 0
      prevSum = nextSum
      labels = next
      iter += 1
    }
    labels
    }
    val labels =
      if (small)
        Iterate.staticBoundedLoop(docs.sparkSession, docsSizeEst) { sc =>
          loop(edges.on(sc), labels0.on(sc))
        }.on(docs.sparkSession)
      else loop(edges, labels0)
    if (!converged)
      throw new IllegalStateException(
        s"connectedComponents: min-label propagation did not converge " +
          s"within $maxIter rounds (pair-graph path diameter exceeds " +
          s"maxIter); raise maxIter — partial labels would break the " +
          s"min-id-in-component contract")
    labels.select(col("doc_id"),
      (col("doc_id") === col("comp")).as("keep"),
      when(col("doc_id") =!= col("comp"), col("comp")).as("dup_of"))
    }
    run()
  }

  /** SimHash near-dup pairs: 64-bit token-level SimHash (custom codegen'd
    * Catalyst expression), candidates from band equality, final filter on
    * Hamming distance. By the pigeonhole principle any pair with
    * Hamming < `bands` shares at least one band ⇒ exact recall whenever
    * maxHamming < bands. More bands = higher guaranteed recall but
    * coarser (64/bands-bit) bucket keys — at web scale use bands=4,
    * maxHamming=3 (the Manku et al. setting); smaller corpora afford
    * bands=8 for a ≤7 guarantee. */
  def simhashPairs(docs: DataFrame, maxHamming: Int = 3,
      bands: Int = 4, maxBucket: Int = 500): DataFrame =
    hammingPairsFromSigs(
      docs.select(col("doc_id"), simhash64(tokens(col("text"))).as("sig")),
      maxHamming, bands, maxBucket)

  /** The signature-generic banded-Hamming join behind [[simhashPairs]]:
    * `sigs` is any (doc_id, sig: long) frame — token SimHash, an image
    * perceptual hash, any 64-bit locality-sensitive signature. Same
    * pigeonhole recall guarantee (Hamming < bands ⇒ a shared band),
    * same ONE-shuffle bucket build with O(maxBucket) buffers and the
    * fused generate-and-verify pair loop. */
  def hammingPairsFromSigs(sigs: DataFrame, maxHamming: Int = 3,
      bands: Int = 4, maxBucket: Int = 500): DataFrame = {
    require(64 % bands == 0 && maxHamming < bands,
      "need maxHamming < bands (pigeonhole) and bands | 64")
    val banded = sigs.select(col("doc_id"), col("sig"),
      explode(Banding.keys(col("sig"), bands, 64 / bands)).as("bk"))
      .select(col("doc_id"), col("sig"),
        col("bk.band").as("band"), col("bk.bkey").as("bkey"))
    // ONE shuffle (groupBy band key) builds each bucket; HammingPairs
    // fuses candidate generation AND verification — the hot-bucket cap
    // (narrow bands on shared-vocabulary corpora collide thousands of
    // docs; vocabulary-level similarity, not near-dup evidence, and
    // quadratic in bucket size) plus the popcount(xor) Hamming filter
    // run inside the generator, since verification needs nothing but
    // the two 8-byte signatures already in the posting. No self-join,
    // no persist, no cap window: the former three posting shuffles are
    // now one.
    val pairs = finalizePairs(banded
      .groupBy("band", "bkey")
      .agg(bounded_min_collect(struct(col("doc_id"), col("sig")), maxBucket)
        .as("ps"))
      .select(explode(
        hamming_pairs(col("ps"), maxBucket, maxHamming)).as("p"))
      .select(col("p.id_a").as("id_a"), col("p.id_b").as("id_b"),
        col("p.hamming").as("hamming"))
      .distinct(),
      "id_a", "id_b")
    pairs
  }

  /** Blocked sorted-neighborhood near-dup pairs — the classic entity-
    * resolution blocking strategy, complementing the hash-based
    * families: sort the corpus by its normalized text, compare each
    * document only against the next `windowSize − 1` documents in sort
    * order, verify candidates with exact n-gram Jaccard. Duplicates
    * with long shared prefixes land adjacent after sorting, so the
    * candidate volume is O(n · windowSize) regardless of corpus size —
    * no signature computation at all.
    *
    * Distribution: a GLOBAL sorted window would serialize the corpus
    * through one partition, so the sort is keyed by a `blockChars`
    * prefix of the normalized text — the window runs per block
    * (hash-partitioned, ordered within), which is the standard
    * blocked-SN hybrid: pairs whose keys diverge within the first
    * `blockChars` characters are out of reach anyway (they can't be
    * sort-adjacent at any realistic corpus size), so blocking costs
    * recall only at block boundaries, and the block key is the
    * shuffle key. One exchange; verification is a scan-stage
    * expression over the windowed candidates. */
  def sortedNeighborhoodPairs(docs: DataFrame, n: Int = 8,
      threshold: Double = 0.7, windowSize: Int = 4,
      blockChars: Int = 4): DataFrame = {
    require(windowSize >= 2 && windowSize <= 64 && blockChars >= 1,
      "need windowSize in [2, 64] and blockChars >= 1")
    val keyed = docs
      .select(col("doc_id"), normalize(col("text")).as("k"), col("text"))
      .withColumn("block", substring(col("k"), 1, blockChars))
    val w = Window.partitionBy("block").orderBy("k", "doc_id")
    val cands = keyed
      .withColumn("nbrs", array((1 until windowSize).map(i =>
        lead(struct(col("doc_id").as("id"), col("text").as("t")), i)
          .over(w)): _*))
      .select(col("doc_id"), col("text"), explode(col("nbrs")).as("nb"))
      .filter(col("nb").isNotNull)
    finalizePairs(cands
      .filter(text_jaccard(col("text"), col("nb.t"), n) >= threshold)
      .select(least(col("doc_id"), col("nb.id")).as("id_a"),
        greatest(col("doc_id"), col("nb.id")).as("id_b"))
      .distinct(),
      "id_a", "id_b")
  }

  /** Character-n-gram Jaccard near-dup pairs with EXACT-recall candidate
    * generation by prefix filtering (see [[PrefixFilter]] for the
    * recall contract). Prefix filtering replaced the old absolute
    * df-cutoff (df ≤ 50), which silently lost recall on short docs made
    * of common grams once the corpus outgrew the constant.
    *
    * `pairBudget` bounds the TOTAL candidate mass the job may emit
    * (not just per-task): a degenerate low-entropy corpus — bounded
    * gram universe, millions of docs — makes even the rarest prefix
    * grams hot, and the per-bucket cap alone then admits
    * ~(#buckets)·cap²/2 candidates (measured ~10¹¹ at the sf10
    * rehearsal: an 80 GB disk filled with shuffle spill). The guard
    * estimates the mass exactly from a ≤64-row posting-count histogram
    * and halves the effective bucket cap until the bound fits. When
    * halving bottoms out still over budget (mass spread over MANY
    * medium-hot grams — the high-entropy rehearsal regime), a second
    * degrade stage drops whole gram-frequency bands HOTTEST-FIRST
    * (df-ceiling) until the bound fits, bounding candidate mass within
    * a small constant of the budget at any corpus degeneracy (the
    * first overflowing band is admitted partially by a deterministic
    * per-mille hash draw sized by EXPECTED mass; per-gram mass varies
    * ≤4× inside one log2 band, so realized mass can exceed the
    * remainder by that constant — and the estimate itself over-counts
    * the post-distinct actual ~10–30×); true near-dup pairs co-occur
    * in rare grams, so the dropped bands carry the least recall.
    * Healthy corpora never engage either stage (estimate ≪ budget ⇒
    * output unchanged). Size the budget from per-executor disk: the
    * verify join materializes ~(2·|gram set|·8 B) per candidate. */
  def ngramJaccard(
      docs: DataFrame,
      n: Int = 8,
      threshold: Double = 0.7,
      maxPrefixBucket: Int = 5000,
      stopGramModelSize: Int = 1 << 16,
      pairBudget: Long = 100000000L): DataFrame = {
    require(threshold > 0 && threshold <= 1,
      s"threshold must be in (0, 1], got $threshold")
    // Per-doc DISTINCT gram array built inside the scan stage
    // (array_distinct hashes 64-bit elements — no corpus-wide distinct
    // shuffle). Cached because it feeds the stop-gram model, prefix
    // selection, and the gram-set verification; released when the
    // verified pairs are materialized.
    Iterate.cached(docs.select(col("doc_id"),
        char_ngram_set(normalize_text(col("text")), n).as("gs"))
        .filter(col("gs").isNotNull)) { base =>
      val hotDf = PrefixFilter.stopGramModel(base, col("doc_id"), col("gs"),
        stopGramModelSize)
      val keyed = base.select(col("doc_id").as("__graft_id"),
        col("gs").as("__graft_gs"))

      // NOT persisted (tried r16, reverted): the histogram job and the
      // candidates job both consume these postings, but caching them
      // only converts a shuffle-free scan-stage recompute (explode +
      // per-row sort over the already-cached `base`) into a cache
      // write + read — measured a wash at sf0.1 AND sf1 (mins 7.25 vs
      // 7.18 / 15.3 vs 14.5, inside the box's wave band), and at corpus
      // scale a TB-wide postings spill costs more than the CPU pass it
      // saves. The exact-order postings below are different in kind:
      // THEIR recompute re-pays corpus-wide shuffles, so they stay cached.
      val prefixModel = PrefixFilter.modelPostings(keyed, hotDf, threshold)
      // Candidate-volume guard: the per-bucket cap alone bounds a TASK,
      // not the JOB (see pairBudget above), so the TOTAL candidate mass
      // is estimated FIRST from the exact candidate-mass histogram, and
      // the effective cap halves until the bound
      // Σ_g min(m_g, cap)(min(m_g, cap) − 1)/2 fits `pairBudget`, with a
      // rarest-first df-ceiling as the second degrade stage when halving
      // alone cannot fit (see dMax below). On healthy corpora the
      // estimate is far under budget and the cap (and therefore the
      // output) is untouched; on pathological ones the operator degrades
      // the way the cap already documents — keep-smallest-ids per bucket,
      // a recall/volume trade — instead of failing the job. The histogram
      // is exact and deterministic, so the chosen cap (and the output)
      // is layout-independent.
      // The histogram is a bounded plan-time driver query (≤64 rows out)
      // whose input size is driver-known (the postings derive from the
      // already-cached `base`), so it runs statically at the
      // stats-derived width — AQE would contribute one extra stage job +
      // driver barrier per exchange (measured r16: the hist cascade was
      // 4 jobs and ~0.5 s of gaps at sf0.1) and its runtime coalescing
      // would pick the same width this derivation does.
      def histOf(p: DataFrame): Array[PrefixFilter.MassBand] =
        Iterate.staticBoundedLoop(p.sparkSession,
            p.queryExecution.optimizedPlan.stats.sizeInBytes) { sc =>
          PrefixFilter.collectBands(PrefixFilter.massHistogram(p.on(sc)))
        }
      val histModel = histOf(prefixModel)

      // The exact order, when the model order's estimate would engage the
      // degrade machinery: its smaller true mass often needs NO degrade
      // where the model order would have dropped bands. Gated on a
      // SATURATED model as well — the fixed-vocabulary sf1 corpus has
      // real mass, the degrade is the correct answer there, and
      // re-ranking cannot shrink it.
      //
      // DF-CAP NOTE (round 14 — the "grams above a df cap generate no
      // candidates, pairs route to a residual tier" hypothesis,
      // examined and REFUTED for this generator; DedupSpec pins the
      // classification; the measured masses are in BASELINE.md's
      // round-14 df-cap decomposition, the diagnostic that took them in
      // git history, commit 350458e):
      //  1. OCCUPANCY IDENTITY — a bucket's occupancy occ(g) = #docs
      //     whose prefix contains g is a pure function of the global
      //     order and the threshold. A df cap only decides whether a
      //     bucket EMITS; Σ_g C(occ(g),2) is cap-invariant given the
      //     order, so capping re-routes mass, it cannot remove any.
      //  2. RESIDUAL CLASSIFICATION — under the df-ASC order every
      //     ≤D-df gram ranks before every >D-df gram, so doc d's
      //     prefix (length p_d = sz_d − ceil(t·sz_d) + 1) contains a
      //     >D gram iff its ≤D-gram count < p_d, i.e. iff its >D-gram
      //     count ≥ ceil(t·sz_d): the doc is ≥t-fraction hot
      //     ("residual", boilerplate-dominated). Hot buckets therefore
      //     hold ONLY residual docs — there is no cap to protect
      //     ordinary docs with, because ordinary docs never post hot.
      //  3. COVERAGE — a true pair's smallest shared prefix gram lies
      //     in both prefixes (prefix lemma); if it is hot, BOTH members
      //     are residual by (2). So the exact split a cap could buy is
      //     cold-buckets + a residual×residual tier — whose bucket mass
      //     by (1)+(2) IS the hot-bucket mass. Savings would require a
      //     structurally different algorithm for R, and the measured
      //     corpora give it nothing to do: under the exact order at
      //     sf10-he/sf30-he the >D mass is ~zero at every D and
      //     residualDocs ≈ 0 — the real mass sits in MEDIUM-df buckets,
      //     the intrinsic Σ C(df,2) that pairBudget bounds. Under the
      //     MODEL order the hot mass is mis-RANKING (unknown grams at
      //     df=1-by-hash), which the exact-order switch already
      //     removes. The constructive lever this math leaves: the
      //     sparse-branch order crossover at high density (bucket mass
      //     grows superlinearly, ranking cost linearly in postings) —
      //     see the rewrite's gate and BASELINE round-14.
      // The prefix postings and their histogram. The exact-order
      // postings are cached: they feed both the histogram job and the
      // candidates job.
      def withPostings(body: (DataFrame, Array[PrefixFilter.MassBand]) =>
          DataFrame): DataFrame =
        if (PrefixFilter.exactOrder(docs.sparkSession,
            saturated = hotDf.size >= stopGramModelSize,
            overBudget = PrefixFilter.estPairs(histModel, maxPrefixBucket) >
              pairBudget))
          Iterate.cached(PrefixFilter.exactPostings(keyed, threshold))(p =>
            body(p, histOf(p)))
        else body(prefixModel, histModel)
      withPostings { (prefix, hist) =>
        def estPairs(c: Long): Double = PrefixFilter.estPairs(hist, c)
        // Measured decision curve on the rehearsal corpora — the binding
        // cost is the VERIFY join, whose rows carry both docs' full gram
        // arrays (~KB each), so the budget must bound candidates tightly
        // enough that candidate_count × array_bytes fits executor disks
        // (est over-counts the post-distinct actual ~10-30×, measured at
        // sf1 and sf10): sf0.1 est(5000)=2.8e7 → untouched, output
        // identical; sf1 est(5000)=2.8e9 → cap 128; sf10 est(5000)=3.9e10
        // (35M candidates at cap 156 spilled ~85 GB of verify sort and
        // filled the disk) → cap 128, ~1e7 candidates, bounded verify.
        var effCap = maxPrefixBucket
        while (effCap > 64 && estPairs(effCap) > pairBudget)
          effCap = math.max(64, effCap / 2)
        // Cap-halving bottoms out at 64 without fitting the budget when the
        // mass lives in MANY medium-hot grams rather than a few monsters
        // (measured at the high-entropy sf10 rehearsal: est(64) = 2.1e8 on
        // a 1e8 budget — the budget was SOFT exactly when it mattered, and
        // the verify join's ~KB-wide rows turned the overrun into a full
        // disk). The second degrade stage bounds the mass within a small
        // constant of the budget at any corpus degeneracy (strict for the
        // fully-admitted bands; the partial band is sized by expected
        // mass — see below): a df-ceiling from the same histogram — admit
        // whole log2 buckets RAREST-GRAMS-FIRST while their cumulative
        // capped mass fits, then drop every gram bucket past the first
        // overflow. Rare-first is the AllPairs-optimal order: true near-dup
        // pairs co-occur in RARE grams (a 0.7-Jaccard pair shares its
        // rarest prefix grams), so the hottest buckets — the ones a
        // degenerate corpus inflates — carry the least recall per
        // candidate. Deterministic (exact histogram → same dMax on any
        // layout); Long.MaxValue = disabled on every corpus whose floor
        // mass fits, which includes every healthy one.
        // The first band that overflows is admitted PARTIALLY — a
        // deterministic xxhash64(g) per-mille draw sized so the admitted
        // fraction's expected mass fills the remaining budget (per-gram
        // mass inside one log2 band varies ≤4×, so the realized mass is
        // within a small constant of the target; the estimate itself
        // over-counts the post-distinct actual ~10-30×). Without partial
        // admission the ceiling has a cliff: a corpus whose RAREST
        // non-singleton band alone exceeds the budget (millions of
        // 2-posting twin grams, say) would get dMax=1 and silently emit
        // ZERO pairs where the budget could have funded thousands of true
        // ones. Layout-independent: the draw keys on the gram value.
        val (dMax: Long, bandHi: Long, bandPpm: Long) =
          if (estPairs(effCap) <= pairBudget) (Long.MaxValue, 0L, 0L)
          else {
            var cum = 0.0
            var d = 1L
            var hi = 0L
            var ppm = 0L
            var stop = false
            for (h <- hist if !stop) {
              val mass = PrefixFilter.bandMass(effCap)(h)
              if (cum + mass <= pairBudget) { cum += mass; d = (2L << h.b) - 1 }
              else {
                if (mass > 0) {
                  hi = (2L << h.b) - 1
                  // floor at 1 ppm: when the overflowing band's mass exceeds
                  // 1e6× the remaining budget the truncation would admit
                  // NOTHING, re-creating (at extreme degeneracy) the
                  // zero-output cliff partial admission exists to remove —
                  // any nonzero remaining budget admits a nonzero fraction
                  ppm =
                    if (pairBudget > cum)
                      math.max(1L,
                        ((pairBudget - cum) / mass * 1000000L).toLong)
                    else 0L
                }
                stop = true
              }
            }
            (d, hi, ppm)
          }

        // Candidate generation: the shared bucket loop (observed max
        // prefix bucket on the driver testdata at sf0.1: 263 vs the 5000
        // cap), with the df-ceiling as its bucket admission — it reads the
        // posting count out of the SAME aggregate that builds the bucket,
        // zero extra jobs or shuffles.
        //
        // Verification via the shared size-guarded verifier; the guard can
        // use the REAL materialized cache stats here, because the hotDf
        // model job above has already materialized `base`.
        val m = col("__graft_m")
        val candidates = PrefixFilter.bucketPairs(prefix, effCap, threshold,
            admit = m <= dMax || (m <= bandHi &&
              pmod(xxhash64(col("__graft_g")), lit(1000000L)) < bandPpm))
          .select(col("__graft_id_a").as("id_a"),
            col("__graft_id_b").as("id_b"))
          .distinct()
        val setsSmall = !forceShuffleVerify(docs.sparkSession) &&
          base.queryExecution.optimizedPlan.stats.sizeInBytes < (256L << 20)
        // Broadcast-verify regime only: the candidate pipeline's reduce —
        // the bucket-pair loop — is CPU-DENSE (each skinny posting byte
        // fans out into up to effCap pair checks), so byte-based
        // post-shuffle coalescing under-parallelizes it by exactly that
        // CPU-per-byte ratio (measured r16 at sf0.1: AQE coalesced the
        // ~5 MB posting shuffle to 5 tasks of 0.37 s on a 32-core box).
        // The driver already holds the exact work bound — the histogram's
        // capped candidate-mass estimate — so the exchange width comes
        // from it: ~2²⁰ estimated pair checks per task (bucket loops
        // cover ~1e8 checks/s/core measured; the estimate over-counts the
        // realized candidates 10–30×, so a task lands at ~10–50 ms of
        // loop plus its share of distinct+verify). Scale-adaptive: the
        // mass grows with the corpus, the width clamps at the session
        // setting. Confined to setsSmall, where the verifier is a
        // broadcast map lookup — the shuffle-verify path joins the
        // corpus-wide gram-set table and must keep AQE's runtime sizing.
        if (setsSmall) {
          Iterate.staticWidth(docs.sparkSession,
              pairCheckWidth(estPairs(effCap))) { sc =>
            verifiedJaccardPairs(base.on(sc), candidates.on(sc), threshold,
              setsSmall, textVerify = Some((docs.on(sc), n)))
          }.on(docs.sparkSession)
        } else verifiedJaccardPairs(base, candidates, threshold, setsSmall,
          textVerify = Some((docs, n)))
      }
    }
  }

  /** [[ngramJaccard]]'s candidate-exchange width for `estPairs`
    * estimated pair checks: ~2²⁰ per task, at least 1 (staticWidth
    * clamps to the session setting). Double arithmetic, clamped after
    * the `+ 1`: an Int sum wrapped to Int.MinValue at ≥ 2.25e15 pairs,
    * which ran the most CPU-dense exchange at width 1. */
  private[graft] def pairCheckWidth(estPairs: Double): Int =
    math.min(math.floor(estPairs / (1 << 20)) + 1, Int.MaxValue.toDouble)
      .toInt

  /** The embedding-LSH band keys ([[Banding.keys]]) for a 64-bit
    * hyperplane signature column: 8 bands × 8 bits. Shared between the
    * batch operator and the streaming twin so the two bandings cannot
    * drift apart (same discipline as [[bandPostings]]).
    *
    * Geometry is the scale axis of this operator: key space per band
    * is 2^bits, so expected bucket occupancy is N/2^bits per band and
    * the in-bucket pairwise work is (N/2^bits)² per bucket. The former
    * 4×4-bit banding had 16 keys per band — occupancy grew LINEARLY
    * with the corpus (12.5 k members per bucket at the 100× rehearsal)
    * until the `maxBucket` cap silently evicted 60 % of all vectors
    * from the report. 8×8 keeps the collision probability for true
    * near-dups essentially unchanged (p^8 per band ≈ 0.43 at
    * cosine 0.95, 1-(1-p^8)^8 ≈ 0.99 over 8 bands, vs ≈ 0.985 for
    * 4×4) while dividing occupancy by 16 — the cap stays dormant two
    * decades above the driver gate. */
  private[graft] def embeddingBandKeys(sig: Column): Column =
    Banding.keys(sig, bands = 8, bandBits = 8)

  /** Embedding near-dup: each vector's nearest neighbor by cosine, via
    * hyperplane-LSH blocking (64-bit signature, [[embeddingBandKeys]]);
    * emits (vec_id, nn_id, cosine, is_dup = cosine ≥ threshold), one
    * row per vector that shares ≥1 band — callers wanting hard dedup
    * filter on is_dup.
    *
    * Same fused shape as the other candidate generators: ONE shuffle
    * (groupBy band key) builds each bucket with a bounded collect,
    * [[graft.functions.VectorFunctions.CosineBucketBest]] scores the
    * bucket and emits only each member's best in-bucket neighbor
    * (O(m) rows from O(m²) comparisons), and a skinny per-vector
    * max-struct reduce picks the winner across bands. Replaces the
    * former persist + banded self-join + distinct + full window — two
    * large shuffles and a cache — with one posting shuffle and one
    * ≤ 4-rows-per-vector reduce. Degenerate vectors (null/zero-norm)
    * cannot be scored and are skipped; `maxBucket` caps pathological
    * buckets (keep-smallest ids, the shared cap semantics). */
  def embeddingNearDup(
      embeddings: DataFrame, threshold: Double = 0.95,
      maxBucket: Int = 4096): DataFrame = {
    val banded = embeddings
      .select(col("vec_id"), col("embedding"),
        hyperplane_sig(col("embedding"), 64).as("sig"))
      .select(col("vec_id"), col("embedding"),
        explode(embeddingBandKeys(col("sig"))).as("bk"))
      .select(col("vec_id"), col("embedding"),
        col("bk.band").as("band"), col("bk.bkey").as("bkey"))
    val best = banded
      .groupBy("band", "bkey")
      .agg(bounded_min_collect(
        struct(col("vec_id"), col("embedding")), maxBucket).as("ps"))
      .select(explode(cosine_bucket_best(col("ps"), maxBucket)).as("p"))
      .select(col("p.vec_id").as("vec_id"), col("p.nn_id").as("nn_id"),
        col("p.cosine").as("cosine"))
    // winner across bands: max over (cosine, -nn_id) is exactly
    // (cosine DESC, nn_id ASC) — deterministic without a window
    finalizePairs(
      best.groupBy("vec_id")
        .agg(max(struct(col("cosine"), (-col("nn_id")).as("negid")))
          .as("m"))
        .select(col("vec_id"), (-col("m.negid")).as("nn_id"),
          col("m.cosine").as("cosine"),
          (col("m.cosine") >= threshold).as("is_dup")),
      "vec_id")
  }
}
