package graft
package catalog

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.TextFunctions
import graft.operators.Dedup
import graft.streaming.EventsStream
import Shared._

/** The streaming family: each row runs a bounded stream to completion
  * and is checked against the same oracle as its batch twin. */
object StreamQueries extends Family {

  query("stream_embedding_dedup") { (s, dir) =>
    // A REAL streaming run of embedding near-dup: per-(band, bucket)
    // member state scores each arriving vector against its bucket
    // (DocsStream.embeddingPairsStream, banding and cosine shared
    // with batch), emitting best-neighbor IMPROVEMENTS only; the
    // epoch-close per-vector max over the sink rebuilds the batch
    // best-neighbor report exactly and shares its oracle VERBATIM.
    val sink = graft.streaming.DocsStream.runEmbeddingDedupStream(
      s, dir, "stream_embdedup_sink", maxBucket = 4096)
    val sinkDf = s.table(sink)
    val base = s.createDataFrame(sinkDf.rdd, sinkDf.schema)
    // the batch operator's own reduce, so the tie-break is its exact one
    Dedup.bestNeighbor(base, threshold = 0.95).orderBy("vec_id")
  }.oracle(
    // The streaming twin converges to the same best-neighbor report —
    // the oracle IS the batch SQL (see the builder above).
    embDedupOracleSql)

  query("stream_minhash_pairs") { (s, dir) =>
    // A REAL streaming run through the driver gate: the documents table
    // streams through the stateful band-bucket dedup and the emitted
    // pair set must equal the batch minhash pair SQL (same oracle as
    // dedup_minhash_lsh).
    val sink = graft.streaming.DocsStream.runMinhashStream(
      s, dir, "stream_minhash_pairs_sink")
    s.table(sink).distinct().orderBy("id_a", "id_b")
  }.oracle(
    // The incremental (streaming) twin must converge to the same pair
    // set as the batch operator — the oracle IS the batch pair SQL.
    minhashPairsOracle)

  query("stream_dedup_exact") { (s, dir) =>
    // A REAL streaming run through the driver gate: documents stream
    // through the stateful per-fingerprint dedup and the emitted
    // keep/dup_of decisions must equal batch Dedup.exact (same oracle
    // minus the fp column).
    val sink = graft.streaming.DocsStream.runExactDedupStream(
      s, dir, "stream_dedup_exact_sink")
    s.table(sink).orderBy("doc_id")
  }.oracle(
    // The incremental exact-dedup twin must emit the batch decisions —
    // the oracle is the batch exact-dedup SQL without the fp column.
    """WITH f AS (
      |  SELECT doc_id,
      |    md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS fp
      |  FROM documents),
      |g AS (
      |  SELECT doc_id, min(doc_id) OVER (PARTITION BY fp) AS rep
      |  FROM f)
      |SELECT doc_id, doc_id = rep AS keep,
      |  CASE WHEN doc_id <> rep THEN rep END AS dup_of
      |FROM g ORDER BY doc_id""".stripMargin)

  query("stream_decontam") { (s, dir) =>
    // A REAL streaming run through the driver gate: the training docs
    // STREAM through the stateless gram-intersection decontaminator
    // (static broadcast eval set, no keyed state, no watermark) and the
    // emitted reports must equal the batch operator row-for-row.
    val sink = graft.streaming.DocsStream.runDecontamStream(
      s, dir, "stream_decontam_sink")
    s.table(sink).orderBy("doc_id")
  }.oracle(decontamOracle)

  captured("stream_quality_filter") { (s, dir, capture) =>
    // A REAL streaming run of the model-based quality filter: batch
    // training (epoch-static model), stateless stream scoring — the
    // captured coefficients export to the same oracle shape as the
    // batch twin, and stream output ≡ batch row-for-row.
    val (sink, model) = graft.streaming.DocsStream
      .runQualityFilterStream(s, dir, "stream_quality_sink")
    capture(qmLrOracleSql(model))
    s.table(sink).orderBy("doc_id")
  }

  query("stream_heavy_hitters") { (s, dir) =>
    // Streaming vocabulary statistics: per-shard Misra–Gries summaries
    // as flatMapGroupsWithState state (O(shards·capacity) total, vs an
    // unbounded-vocabulary streaming groupBy-count), then the exact
    // epoch-close rescore of the candidate union — which must equal
    // the naive batch top-k EXACTLY (same oracle as
    // text_heavy_hitters). The rescore is a BROADCAST SEMI-JOIN
    // against the (shards·capacity·batches)-bounded candidate table —
    // not an N-literal `In` filter, whose expression tree would grow
    // with the candidate count; nothing is collected to the driver.
    val sink = graft.streaming.DocsStream.runHeavyHitterStream(
      s, dir, "stream_hh_sink")
    val cands = s.table(sink).select("tok").distinct()
    t(s, dir, "documents")
      .select(explode(TextFunctions.tokens(col("text"))).as("tok"))
      .join(broadcast(cands), Seq("tok"), "left_semi")
      .groupBy("tok")
      .agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("tok"))
      .limit(20)
  }.oracle(
    // The streaming MG-candidates + exact-rescore pipeline must land on
    // the identical exact top-k — same naive oracle as the batch twin.
    """WITH t AS (
      |  SELECT unnest(string_split(trim(regexp_replace(lower(text),
      |    '\s+', ' ', 'g')), ' ')) AS tok FROM documents)
      |SELECT tok, count(*) AS n FROM t
      |GROUP BY tok ORDER BY n DESC, tok LIMIT 20""".stripMargin)

  query("stream_funnel_join") { (s, dir) =>
    // Batch run of the shared batch/stream funnel join (stream-stream
    // inner join with watermarks in streaming mode; plain range-
    // predicate join here). Sorting by EVERY output column gives a
    // deterministic total order even if two matches tie on a prefix.
    EventsStream.purchaseAfterSignup(t(s, dir, "events"))
      .select("p_user", "purchase_ts", "signup_ts", "value")
      .orderBy("p_user", "purchase_ts", "signup_ts", "value")
  }.oracle(
    """SELECT p.user_id AS p_user, p.ts AS purchase_ts,
      |  s.ts AS signup_ts, p.value
      |FROM (SELECT user_id, ts, value FROM events
      |      WHERE event_type = 'purchase') p
      |JOIN (SELECT user_id, ts FROM events
      |      WHERE event_type = 'signup') s
      |  ON p.user_id = s.user_id
      | AND p.ts >= s.ts AND p.ts <= s.ts + INTERVAL 2 HOUR
      |ORDER BY p_user, purchase_ts, signup_ts, value""".stripMargin)

  query("stream_window_agg") { (s, dir) =>
    // Batch run of the shared batch/streaming transform (the streaming
    // spec drives the same code through readStream + memory sink).
    EventsStream.windowedAgg(t(s, dir, "events"))
      .orderBy("window_start", "event_type")
  }.oracle(
    """SELECT date_trunc('hour', ts) AS window_start, event_type,
      |  count(*) AS n_events,
      |  CAST(sum(CAST(round(value * 1e6) AS BIGINT)) AS BIGINT) / 1e6
      |    AS sum_value
      |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)

  query("stream_checks") { (s, dir) =>
    // A REAL streaming run of the data-quality gate: the row-level
    // check subset is a global conditional-sum aggregate Structured
    // Streaming maintains incrementally (complete mode); the final
    // counters must equal the batch gate exactly, so the oracle is
    // the same per-branch recompute over the documents table.
    val sink = graft.streaming.DocsStream.runChecksStream(
      s, dir, "stream_checks_sink")
    s.table(sink)
      .select(col("check").as("check_name"), col("n_rows"),
        col("violations"), col("passed"))
      .orderBy("check_name")
  }.oracle(
    // The streaming gate's final counters re-derived branch for
    // branch over the same documents table (stream ≡ batch).
    """SELECT check_name, n_rows, violations,
      |  violations = 0 AS passed
      |FROM (
      |  SELECT 'not_null(text)' AS check_name, count(*) AS n_rows,
      |    CAST(coalesce(sum(CASE WHEN text IS NULL
      |      THEN 1 ELSE 0 END), 0) AS BIGINT) AS violations
      |  FROM documents
      |  UNION ALL
      |  SELECT 'in_range(n_chars,1.0,500.0)', count(*),
      |    CAST(coalesce(sum(CASE WHEN n_chars IS NULL
      |      OR n_chars < 1.0 OR n_chars > 500.0
      |      THEN 1 ELSE 0 END), 0) AS BIGINT)
      |  FROM documents
      |  UNION ALL
      |  SELECT 'satisfies(n_chars_consistent)', count(*),
      |    CAST(coalesce(sum(CASE WHEN coalesce(
      |      length(text) = n_chars, FALSE)
      |      THEN 0 ELSE 1 END), 0) AS BIGINT)
      |  FROM documents
      |  UNION ALL
      |  SELECT 'satisfies(lang_known)', count(*),
      |    CAST(coalesce(sum(CASE WHEN coalesce(
      |      lang IN ('en', 'fr', 'es', 'de', 'zh'), FALSE)
      |      THEN 0 ELSE 1 END), 0) AS BIGINT)
      |  FROM documents
      |)
      |ORDER BY check_name""".stripMargin)

  query("stream_assoc") { (s, dir) =>
    // A REAL streaming run of association maintenance: per-basket
    // item-set state emits each completed within-basket pair exactly
    // once as items arrive (BasketStream); the epoch-close derivation
    // over the sink rebuilds supports and rules with the batch
    // operator's math and shares the assoc_rules oracle VERBATIM.
    val sink = graft.streaming.BasketStream.runPairsStream(
      s, dir, "stream_assoc_sink")
    // LogicalRDD rewrap: the stream_transitions memory-sink discipline
    val sinkDf = s.table(sink)
    val base = s.createDataFrame(sinkDf.rdd, sinkDf.schema)
    val arrivals = base.filter(col("other").isNull)
      .select(col("bk"), col("item"))
    val itemN = arrivals.groupBy("item")
      .agg(count(lit(1)).as("item_n"))
      .filter(col("item_n") >= 5)
    // the stream emits (new, old) in arrival order; normalize to the
    // batch join's a_item < b_item orientation
    val rawPairs = base.filter(col("other").isNotNull)
      .select(least(col("item"), col("other")).as("a_item"),
        greatest(col("item"), col("other")).as("b_item"))
      .groupBy("a_item", "b_item")
      .agg(count(lit(1)).as("pair_n"))
      .filter(col("pair_n") >= 2)
    val pairs = rawPairs
      .join(itemN.select(col("item").as("a_item"),
        col("item_n").as("a_n")), "a_item")
      .join(itemN.select(col("item").as("b_item"),
        col("item_n").as("b_n")), "b_item")
      .select("a_item", "b_item", "a_n", "b_n", "pair_n")
    val nBaskets = arrivals.select("bk").distinct()
      .agg(count(lit(1)).as("n_baskets"))
    graft.operators.Association.rules(pairs, nBaskets)
      .orderBy("antecedent", "consequent")
  }.oracle(assocOracleSql)

  query("stream_transitions") { (s, dir) =>
    // A REAL streaming run of the Markov transition derivation:
    // per-user last-event-type state emits each (prev → next) edge as
    // it arrives; the epoch-close aggregate over the sink builds the
    // same matrix as the batch lag() twin and shares its oracle.
    val sink = graft.streaming.EventsStream.runTransitionsStream(
      s, dir, "stream_transitions_sink")
    // rewrap the memory sink as a LogicalRDD: MemoryPlan self-joins
    // trip conflicting-reference resolution (DeduplicateRelations
    // clones file/RDD relations, not memory sinks)
    val sinkDf = s.table(sink)
    val base = s.createDataFrame(sinkDf.rdd, sinkDf.schema)
    val trans = base
      .groupBy("prev_type", "next_type")
      .agg(count(lit(1)).as("n"))
    val totals = trans.groupBy("prev_type")
      .agg(sum(col("n")).as("row_total"))
    trans.join(totals, "prev_type")
      .withColumn("p_micros", expr("(n * 1000000L) DIV row_total"))
      .select("prev_type", "next_type", "n", "p_micros")
      .orderBy("prev_type", "next_type")
  }.oracle(
    // Same lag/count/total derivation; // mirrors DIV exactly. The
    // streaming twin must land on the identical matrix (stream ≡
    // batch), so it shares this oracle verbatim.
    transitionsOracleSql)
}
