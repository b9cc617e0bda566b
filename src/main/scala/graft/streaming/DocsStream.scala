package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

import graft.functions.VectorFunctions

/** Streaming deduplication over a documents stream: the incremental
  * twin of [[graft.operators.Dedup.minhashLsh]].
  *
  * Each arriving document is shingled and MinHash-signed in the scan
  * stage (the batch operators' signature frame), exploded into its LSH
  * band keys (the one folded `bk` that batch and the persisted index
  * use too), and routed to per-`bk` state via
  * `flatMapGroupsWithState` — the same shape a 100 TB incremental
  * pipeline needs: the dedup index lives as keyed streaming state
  * (RocksDB-backed on a real cluster), new documents only ever compare
  * against the members of their own buckets, and emitted pairs are
  * verified with the exact same merge-intersection Jaccard as batch.
  *
  * Every function of the data is identical to the batch operator, so
  * stream output ≡ batch `minhashLsh` pairs on the same corpus (proved
  * in StreamingSpec; the driver oracle checks the stream against the
  * batch pair SQL directly). State is unbounded by design — an
  * incremental dedup index must remember everything it has admitted;
  * production deployments bound it by partitioning the corpus epoch
  * (or watermark-expiring stale buckets), not by forgetting members
  * mid-epoch.
  */
object DocsStream {

  case class BandedDoc(bk: Int, doc_id: Long, gs: Array[Long])
  case class PairOut(id_a: Long, id_b: Long, jaccard: Double)
  case class Member(id: Long, gs: Array[Long])
  case class BucketState(members: List[Member])
  case class FpDoc(doc_id: Long, fp: String)
  case class DecisionOut(doc_id: Long, keep: Boolean, dup_of: Option[Long])

  /** Streaming read of the documents table (file source). */
  def readDocsStream(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(
      StructField("doc_id", LongType),
      StructField("text", StringType),
      StructField("lang", StringType),
      StructField("source", StringType),
      StructField("n_chars", LongType)))
    StreamSource.table(spark, sfDir, "documents", schema)
  }

  /** Incremental MinHash-LSH near-dup pairs. Emits each (id_a < id_b,
    * exact Jaccard ≥ threshold) pair as soon as the later member of the
    * pair arrives; a pair colliding in several bands is emitted once
    * per band (downstream `distinct` dedups, exactly like the batch
    * candidate pipeline). Within a micro-batch, members are admitted in
    * doc_id order, so in-batch pairs are found too; the `maxBucket` cap
    * keeps the smallest doc_ids (evicting the largest member), so the
    * retained set converges to the batch cap's choice under any arrival
    * order — see the in-body note for the append-mode caveat when the
    * cap actually binds. */
  def minhashPairsStream(
      spark: SparkSession,
      docs: DataFrame,
      shingleK: Int = 3,
      numHashes: Int = 32,
      bands: Int = 8,
      threshold: Double = 0.8,
      maxBucket: Int = 1000): Dataset[PairOut] = {
    import spark.implicits._
    import graft.operators.Dedup
    // signature frame and band key SHARED with the batch operators —
    // the stream ≡ batch guarantee depends on byte-identical band keys
    val rows = Dedup.rowsPerBand(numHashes, bands)
    Dedup.bandPostings(Dedup.signatureFrame(docs, shingleK, numHashes),
        bands, rows, col("doc_id"), Dedup.shingleSet(col("sh")).as("gs"))
      .as[BandedDoc]
      .groupByKey(_.bk)
      .flatMapGroupsWithState[BucketState, PairOut](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (_: Int, batch: Iterator[BandedDoc],
         state: GroupState[BucketState]) =>
          var members = state.getOption.map(_.members).getOrElse(Nil)
          val out = scala.collection.mutable.ArrayBuffer.empty[PairOut]
          batch.toSeq.sortBy(_.doc_id).foreach { d =>
            if (!members.exists(_.id == d.doc_id)) {
              members.foreach { m =>
                val c = VectorFunctions.mergeIntersectCount(m.gs, d.gs)
                val j = c.toDouble /
                  (m.gs.length + d.gs.length - c).toDouble
                if (j >= threshold)
                  out += PairOut(math.min(m.id, d.doc_id),
                    math.max(m.id, d.doc_id), j)
              }
              // keep-smallest eviction: the retained member set
              // CONVERGES to the batch cap's "smallest maxBucket ids"
              // regardless of arrival order. (Exact pair parity under
              // cap pressure is impossible in append mode — a pair
              // already emitted against a later-evicted member cannot
              // be retracted — so under a binding cap the stream emits
              // a SUPERSET of the batch pairs. The driver-gated query
              // therefore runs UNCAPPED — see runMinhashStream — and
              // this eviction path exists for state-bounded
              // deployments that accept the superset.)
              if (members.size < maxBucket)
                members = Member(d.doc_id, d.gs) :: members
              else {
                val worst = members.maxBy(_.id)
                if (d.doc_id < worst.id)
                  members = Member(d.doc_id, d.gs) ::
                    members.filterNot(_.id == worst.id)
              }
            }
          }
          state.update(BucketState(members))
          out.iterator
      }
  }

  /** Incremental EXACT dedup: the streaming twin of
    * [[graft.operators.Dedup.exact]]. Documents are fingerprinted in
    * the scan stage (same canonical md5-of-normalized-text as batch),
    * routed to per-fingerprint state via `flatMapGroupsWithState`, and
    * each doc is decided against the smallest doc_id its fingerprint
    * group has seen — O(8 bytes) of state per distinct fingerprint,
    * the exact-dedup index an incremental 100 TB ingest pipeline keeps
    * (RocksDB-backed on a real cluster). Within a micro-batch, docs
    * are admitted in doc_id order, so stream decisions ≡ batch
    * decisions whenever each fingerprint's smallest doc_id arrives in
    * the group's first batch (trivially true in a single-batch run;
    * append mode cannot retract a keep once a smaller id arrives
    * later — the same epoch caveat as every append-mode dedup). */
  def exactDecisionsStream(
      spark: SparkSession, docs: DataFrame): Dataset[DecisionOut] = {
    import spark.implicits._
    docs
      .select(col("doc_id"),
        graft.functions.TextFunctions.fingerprint(col("text")).as("fp"))
      .as[FpDoc]
      .groupByKey(_.fp)
      .flatMapGroupsWithState[Long, DecisionOut](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (_: String, batch: Iterator[FpDoc], state: GroupState[Long]) =>
          // presence tracked with Option, not a sentinel value — a
          // legitimate doc_id == Long.MaxValue must still get a keep
          // decision, not be mistaken for a replayed row
          var rep: Option[Long] = state.getOption
          val out = scala.collection.mutable.ArrayBuffer.empty[DecisionOut]
          batch.toSeq.sortBy(_.doc_id).foreach { d =>
            rep match {
              case Some(r) if d.doc_id == r =>
                () // replayed row, already decided
              case Some(r) if d.doc_id > r =>
                out += DecisionOut(d.doc_id, keep = false, Some(r))
              case _ => // first doc for this fingerprint, or a new min
                rep = Some(d.doc_id)
                out += DecisionOut(d.doc_id, keep = true, None)
            }
          }
          rep.foreach(state.update)
          out.iterator
      }
  }

  /** Drive [[exactDecisionsStream]] synchronously to completion over
    * the parquet documents dir (memory sink); returns the sink name. */
  def runExactDedupStream(spark: SparkSession, sfDir: String,
      sinkName: String = "docs_exact_decisions"): String = {
    StreamSource.runToFileSink(spark,
      exactDecisionsStream(spark, readDocsStream(spark, sfDir)), sinkName)
  }

  /** Drive [[minhashPairsStream]] synchronously to completion over the
    * parquet documents dir (memory sink); returns the sink name.
    * Runs UNCAPPED by default: with no bucket cap the append-mode
    * eviction caveat vanishes and stream ≡ batch pair set holds
    * unconditionally (which is what the driver oracle asserts) — pass a
    * finite `maxBucket` only when bounding state matters more than
    * exact batch parity. */
  def runMinhashStream(spark: SparkSession, sfDir: String,
      sinkName: String = "docs_minhash_pairs",
      maxBucket: Int = Int.MaxValue): String = {
    StreamSource.runToFileSink(spark,
      minhashPairsStream(spark, readDocsStream(spark, sfDir),
      maxBucket = maxBucket), sinkName)
  }

  case class TokShard(shard: Int, tok: String)
  case class HHCand(shard: Int, tok: String, est: Long)

  /** Streaming heavy-hitter CANDIDATE tracking: per-shard Misra–Gries
    * summaries held as keyed streaming state. Tokens are sharded by
    * `xxhash64(tok) mod shards`, so every occurrence of a token lands
    * in one shard and the classic MG invariant gives a PER-SHARD
    * undercount bound of N_shard/(capacity+1) ≤ the global bound — a
    * corpus-level heavy hitter is always present in its shard's final
    * summary, under ANY arrival order. State is O(capacity) per shard
    * regardless of stream length (the whole point vs a streaming
    * groupBy-count whose state is the unbounded vocabulary). After
    * each micro-batch the shard emits its current summary, so the
    * sink's distinct tokens are a superset of the final summaries —
    * candidates for the exact epoch-close rescore, never the answer
    * itself (MG estimates undercount; only the rescore is exact). */
  def heavyHitterCandidatesStream(
      spark: SparkSession,
      docs: DataFrame,
      shards: Int = 8,
      capacity: Int = 64): Dataset[HHCand] = {
    import spark.implicits._
    docs
      .select(explode(
        graft.functions.TextFunctions.tokens(col("text"))).as("tok"))
      .select(pmod(xxhash64(col("tok")), lit(shards)).cast("int")
        .as("shard"), col("tok"))
      .as[TokShard]
      .groupByKey(_.shard)
      .flatMapGroupsWithState[Map[String, Long], HHCand](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (shard: Int, batch: Iterator[TokShard],
            state: GroupState[Map[String, Long]]) =>
          val m = scala.collection.mutable.HashMap.empty[String, Long]
          m ++= state.getOption.getOrElse(Map.empty)
          batch.foreach { t =>
            m.get(t.tok) match {
              case Some(c) => m(t.tok) = c + 1
              case None if m.size < capacity => m(t.tok) = 1L
              case None =>
                // decrement-all: the O(capacity) MG eviction step
                val dead = scala.collection.mutable.ArrayBuffer.empty[String]
                m.foreach { case (k, c) =>
                  if (c == 1L) dead += k else m(k) = c - 1
                }
                dead.foreach(m.remove)
            }
          }
          state.update(m.toMap)
          m.iterator.map { case (tok, est) => HHCand(shard, tok, est) }
      }
  }

  /** Drive [[heavyHitterCandidatesStream]] synchronously to completion
    * over the parquet documents dir (memory sink); returns the sink
    * name. The caller runs the exact rescore over the closed epoch —
    * see SparkEntry's stream_heavy_hitters. */
  def runHeavyHitterStream(spark: SparkSession, sfDir: String,
      sinkName: String = "docs_heavy_hitters",
      shards: Int = 8, capacity: Int = 64): String = {
    StreamSource.runToFileSink(spark,
      heavyHitterCandidatesStream(spark,
      readDocsStream(spark, sfDir), shards, capacity), sinkName)
  }

  /** Stateless streaming twin of the model-based quality filter: the
    * captured linear model (5 doubles, epoch-static — retraining is a
    * batch job, scoring is not) rides the plan as literals, so each
    * arriving document is scored and thresholded INSIDE the scan
    * stage — no state, no watermark, no aggregation; per-doc verdicts
    * emit the moment the doc arrives. The label column (the hand rule
    * being distilled) is itself a stateless per-row expression, so the
    * stream emits the exact batch schema and shares the batch
    * oracle. */
  def qualityFilterStream(docs: DataFrame,
      model: graft.operators.QualityModel.Model,
      label: org.apache.spark.sql.Column): DataFrame = {
    val z = graft.operators.QualityModel.score(col("text"), model)
    docs.select(col("doc_id"), label.as("label"),
      round(z * 1e6).cast("long").as("score_micros"),
      (z > 0.0).as("pred"))
  }

  /** Drive [[qualityFilterStream]] to completion: train on the batch
    * corpus (one bounded MLlib job), stream-score every document.
    * Returns (sink name, captured model) so the caller can export the
    * exact coefficients to the oracle. */
  def runQualityFilterStream(spark: SparkSession, sfDir: String,
      sinkName: String = "docs_quality")
      : (String, graft.operators.QualityModel.Model) = {
    val batch = spark.read.parquet(s"$sfDir/documents.parquet")
    val seed = graft.functions.TextFunctions
      .qualityScore(col("text")) >= 0.72
    val model = graft.operators.QualityModel.train(
      batch, col("text"), seed, col("doc_id"))
    StreamSource.runToFileSink(spark,
      qualityFilterStream(readDocsStream(spark, sfDir), model,
        graft.functions.TextFunctions.qualityScore(col("text")) >= 0.72),
      sinkName)
    (sinkName, model)
  }

  /** Streaming decontamination, the incremental twin of
    * [[graft.operators.Decontaminate.overlapBroadcast]], driven
    * synchronously to completion. The eval/benchmark gram set is
    * STATIC and tiny by construction (it's a benchmark), so the stream
    * side stays STATELESS: each arriving doc counts its own (distinct)
    * grams against a real broadcast set in the scan stage
    * ([[graft.operators.Decontaminate.broadcastHits]], the batch
    * kernel) — no streaming aggregation, no keyed state, no watermark,
    * and per-doc results are emittable the moment the doc arrives.
    * Eval side = docs with doc_id % 17 = 0 and doc_id < 100000 (read
    * once, batch — the scale-invariant fixed benchmark set, matching
    * the batch decontam queries and their shared oracle), stream side =
    * every doc outside the % 17 family. Returns the sink name. */
  def runDecontamStream(spark: SparkSession, sfDir: String,
      sinkName: String = "docs_decontam"): String = {
    val eval = spark.read.parquet(s"$sfDir/documents.parquet")
      .filter(col("doc_id") % 17 === 0 && col("doc_id") < 100000)
    val stream = readDocsStream(spark, sfDir)
      .filter(col("doc_id") % 17 =!= 0)
    StreamSource.runToFileSink(spark,
      graft.operators.Decontaminate.broadcastHits(stream, eval, n = 5,
        minHits = 1), sinkName)
  }

  /** Streaming twin of the declarative data-quality gate: the
    * row-level subset of `operators/Checks.scala` IS a global
    * conditional-sum aggregate, which Structured Streaming maintains
    * incrementally — violation counters update as documents arrive
    * (complete mode, |checks|+1 longs of state, no watermark needed
    * for an all-time gate). Uniqueness/FK checks stay batch-side by
    * design: they would need unbounded distinct state. Emits the
    * batch report shape, so it shares the batch oracle. */
  def runChecksStream(spark: SparkSession, sfDir: String,
      sinkName: String = "docs_checks"): String = {
    import graft.operators.Checks._
    val report = graft.operators.Checks.rowLevelReport(
      readDocsStream(spark, sfDir), Seq(
        NotNull("text"),
        InRange("n_chars", 1.0, 500.0),
        Satisfies("n_chars_consistent",
          length(col("text")) === col("n_chars")),
        Satisfies("lang_known",
          col("lang").isin("en", "fr", "es", "de", "zh"))))
    // complete-mode memory sink stays: the report is |checks|+1 longs
    // in ONE row by construction — bounded at any corpus size (the
    // file sink is append-only and unnecessary here)
    val q = report.writeStream
      .outputMode("complete")
      .format("memory")
      .queryName(sinkName)
      .start()
    q.processAllAvailable()
    q.stop()
    sinkName
  }

  case class EmbDoc(band: Int, bkey: Long, vec_id: Long,
      embedding: Array[Float])
  case class EmbMember(id: Long, emb: Array[Float],
      bestC: Double, bestId: Long)
  case class EmbBucketState(members: List[EmbMember])
  case class EmbPairOut(vec_id: Long, nn_id: Long, cosine: Double)

  /** [[embeddingPairsStream]]'s state encoder, built once. The
    * `spark.implicits` encoder is agnostic, and each run converted it
    * to an expression encoder whose `List` serializer numbered its
    * lambda variable afresh; the state projection's Java then differed
    * in that id, and compiled anew on every warm run. */
  private lazy val embStateEncoder = org.apache.spark.sql.catalyst.encoders
    .ExpressionEncoder[EmbBucketState]()

  /** Streaming read of the embeddings table (file source). */
  def readEmbeddingsStream(spark: SparkSession, sfDir: String)
      : DataFrame = {
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(
      StructField("vec_id", LongType),
      StructField("embedding", ArrayType(FloatType))))
    StreamSource.table(spark, sfDir, "embeddings", schema)
  }

  /** Incremental embedding near-dup: the streaming twin of
    * [[graft.operators.Dedup.embeddingNearDup]]. Vectors are
    * hyperplane-signed in the scan stage (same custom expression as
    * batch), exploded onto the SAME 8×8-bit band keys
    * (`Dedup.embeddingBands` — shared so the bandings cannot
    * drift), and routed to per-(band, bucket) state. Each arriving
    * vector scores against its bucket's members with the scalar
    * replica of the codegen'd cosine
    * ([[VectorFunctions.cosineOfFloats]]), and the stream emits
    * IMPROVEMENTS ONLY: one row for the arriving vector's best
    * current neighbor, plus one row per existing member whose
    * best-so-far this arrival beats — both under the consumer's
    * exact (cosine DESC, nn_id ASC) order, with each member's
    * best-so-far carried in state. While the `maxBucket` cap is
    * dormant (every bucket below the cap — the case at every tested
    * scale here), the epoch-close per-vector max over the sink
    * rebuilds the batch operator's best-neighbor report EXACTLY
    * (every member's emission sequence is increasing and ends at its
    * true bucket best), while output volume drops from O(occupancy²)
    * pairs to arrivals + improvement events (expected O(m log m) per
    * bucket). Once the cap ENGAGES, the append sink still retains
    * improvement rows naming members the keep-smallest set later
    * evicted (or never admitted), so the epoch-close max can exceed
    * the capped batch replay for those vectors — the same
    * emission-superset caveat as [[minhashPairsStream]], here applying
    * to the scores as well as the pair set. The former
    * every-pair-both-ways emission was measured fatal two decades up:
    * at sf10 a 12.5k-member bucket implies ~10¹⁰ buffered pair rows
    * and the per-batch output buffer OOMed the executor before the
    * sink ever saw a row. Keep-smallest eviction under `maxBucket`
    * with the same superset caveat as [[minhashPairsStream]]; the
    * declared query caps at 4096 like the batch operator (dormant at
    * every tested scale under the 8×8 banding — occupancy ≈ N/256). Degenerate vectors (null /
    * zero-norm / length-mismatched) score null and emit nothing,
    * like the batch generator. */
  def embeddingPairsStream(spark: SparkSession, embeddings: DataFrame,
      maxBucket: Int = Int.MaxValue): Dataset[EmbPairOut] = {
    import spark.implicits._
    val banded = graft.operators.Dedup.embeddingBands(embeddings)
      .select("band", "bkey", "vec_id", "embedding")
      .as[EmbDoc]
    banded
      .groupByKey(d => (d.band, d.bkey))
      .flatMapGroupsWithState[EmbBucketState, EmbPairOut](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (_: (Int, Long), batch: Iterator[EmbDoc],
         state: GroupState[EmbBucketState]) =>
          var members = state.getOption.map(_.members).getOrElse(Nil)
          val seen = scala.collection.mutable.HashSet.empty[Long]
          members.foreach(m => seen += m.id)
          val out = scala.collection.mutable.ArrayBuffer.empty[EmbPairOut]
          // (cosine DESC, nn_id ASC) — the consumer's max-struct order
          def beats(c: Double, id: Long, bc: Double, bid: Long): Boolean =
            c > bc || (c == bc && id < bid)
          batch.toSeq.sortBy(_.vec_id).foreach { d =>
            if (!seen.contains(d.vec_id)) {
              seen += d.vec_id
              var bestC = Double.NegativeInfinity
              var bestId = Long.MaxValue
              members = members.map { m =>
                val c = VectorFunctions.cosineOfFloats(m.emb, d.embedding)
                if (c == null) m
                else {
                  val cv = c.doubleValue()
                  if (beats(cv, m.id, bestC, bestId)) {
                    bestC = cv; bestId = m.id
                  }
                  if (beats(cv, d.vec_id, m.bestC, m.bestId)) {
                    out += EmbPairOut(m.id, d.vec_id, cv)
                    m.copy(bestC = cv, bestId = d.vec_id)
                  } else m
                }
              }
              if (bestId != Long.MaxValue)
                out += EmbPairOut(d.vec_id, bestId, bestC)
              val dm = EmbMember(d.vec_id, d.embedding, bestC, bestId)
              if (members.size < maxBucket)
                members = dm :: members
              else {
                val worst = members.maxBy(_.id)
                if (d.vec_id < worst.id)
                  members = dm :: members.filterNot(_.id == worst.id)
              }
            }
          }
          state.update(EmbBucketState(members))
          out.iterator
      }(embStateEncoder, implicitly[org.apache.spark.sql.Encoder[EmbPairOut]])
  }

  /** Drive [[embeddingPairsStream]] synchronously to completion over
    * the parquet embeddings dir; returns the sink name. FILE sink kept
    * from the every-pair era (whose quadratic output blew
    * spark.driver.maxResultSize through the old memory sink at the sf1
    * rehearsal) — improvement events are near-linear but still
    * corpus-sized, which a memory sink would buffer on the driver. */
  def runEmbeddingDedupStream(spark: SparkSession, sfDir: String,
      sinkName: String = "docs_embedding_pairs",
      maxBucket: Int = Int.MaxValue): String = {
    StreamSource.runToFileSink(spark,
      embeddingPairsStream(spark,
        readEmbeddingsStream(spark, sfDir), maxBucket), sinkName)
  }
}
