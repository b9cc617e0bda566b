package graft
package catalog

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.operators.Iterate.MaterializeOps
import graft.functions.TextFunctions
import graft.streaming.EventsStream
import Shared._

/** The analytics family: event sessions, funnels and time series,
  * profiles and constraint checks, features, CDC, diff, record linkage,
  * k-anonymity, association rules and the statistical aggregates. */
object AnalyticsQueries extends Family {

  query("agg_weighted_median") { (s, dir) =>
    // Exact weighted median — price weighted by quantity, the
    // "median unit price actually paid" statistic no built-in
    // covers. All-integer: cents values, long weights, and the
    // textbook rule (smallest v whose cumulative weight reaches half
    // the total) evaluated over DISTINCT values, so intra-tie row
    // order cannot matter.
    //
    // Shape note (r15, measured): a two-level value-range-bucket
    // prefix sum (3 bounded exchanges, no per-group sort — the
    // "ideal" 100 TB shape on paper) was built, oracle-verified and
    // REJECTED on alternated A/Bs: it lost at BOTH sf0.1 and sf1
    // (sf1 min-of-3: 5.9 s vs 4.5 s here) because extra scan passes
    // over the 3-column projection cost more than this shape's
    // single scan + one |distinct (g,v)| exchange — and the
    // per-group sort is bounded by the price DOMAIN (distinct cents
    // values), not the corpus, so it does not grow 100 TB-unbounded.
    // Two map-side-combined aggregates + one per-group window over
    // |distinct prices| rows; both windows share one sort.
    val li = t(s, dir, "lineitem")
      .select(col("l_returnflag").as("g"),
        expr("CAST(round(l_extendedprice * 100) AS BIGINT)").as("v"),
        col("l_quantity").cast("long").as("wt"))
    val byVal = li.groupBy("g", "v").agg(sum(col("wt")).as("w"))
    val cumW = Window.partitionBy("g").orderBy("v")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val totW = Window.partitionBy("g")
    byVal
      .withColumn("cum", sum(col("w")).over(cumW))
      .withColumn("total", sum(col("w")).over(totW))
      .filter(col("cum") * 2 >= col("total"))
      .groupBy("g")
      .agg(min(col("v")).as("weighted_median_cents"),
        max(col("total")).as("total_weight"))
      .orderBy("g")
  }.oracle(
    // Weighted median: the same distinct-value cumulative-weight rule
    // in exact integers — window cumsum, half-total crossing, min v.
    """WITH b AS (
      |  SELECT l_returnflag AS g,
      |    CAST(round(l_extendedprice * 100) AS BIGINT) AS v,
      |    CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS w
      |  FROM lineitem GROUP BY 1, 2),
      |c AS (
      |  SELECT g, v, w,
      |    sum(w) OVER (PARTITION BY g ORDER BY v
      |      ROWS UNBOUNDED PRECEDING) AS cum,
      |    sum(w) OVER (PARTITION BY g) AS total
      |  FROM b)
      |SELECT g, CAST(min(v) AS BIGINT) AS weighted_median_cents,
      |  CAST(max(total) AS BIGINT) AS total_weight
      |FROM c WHERE cum * 2 >= total GROUP BY g ORDER BY g""".stripMargin)

  query("agg_incremental") { (s, dir) =>
    // Incremental aggregate maintenance: the corpus minus every 17th
    // doc is the "historical" epoch whose partial state is persisted;
    // the 17th-docs are the arriving increment, folded in WITHOUT
    // rescanning history. The oracle recomputes from scratch over the
    // full corpus — merged state must equal a cold recompute exactly
    // (the state is all exact integers, so this is bit-equality, not
    // tolerance). Same epoch split the decontamination queries use.
    val d = t(s, dir, "documents")
    val hist = d.filter(col("doc_id") % 17 =!= 0)
    val inc = d.filter(col("doc_id") % 17 === 0)
    val state = s"/tmp/graft-aggstate-${java.util.UUID.randomUUID()}"
    graft.operators.IncrementalAgg.writeState(hist, state)
    graft.operators.IncrementalAgg.mergeIncrement(s, state, inc)
      .orderBy("source")
  }.oracle(
    // Incremental state merge ≡ cold full recompute (exact integers).
    """SELECT source, count(*) AS n_docs,
      |  CAST(sum(CASE WHEN trim(text) = '' THEN 0 ELSE
      |    len(string_split(trim(regexp_replace(lower(text),
      |      '\s+', ' ', 'g')), ' ')) END) AS BIGINT) AS total_tokens,
      |  CAST(sum(length(text)) AS BIGINT) AS total_chars
      |FROM documents GROUP BY source ORDER BY source""".stripMargin)

  query("agg_incremental_distinct") { (s, dir) =>
    // The maintenance loop for a NON-algebraic aggregate: per-source
    // distinct documents carried as mergeable HLL sketch state —
    // union of sketches = sketch of the union, so epochs fold in
    // without rereading history AND cross-epoch duplicates don't
    // double-count (a count-based state could never absorb them).
    // Oracle-facing columns follow the agg_approx_distinct envelope
    // pattern: the exact count plus within_bound the oracle pins TRUE.
    val d = t(s, dir, "documents")
    val hist = d.filter(col("doc_id") % 17 =!= 0)
    val inc = d.filter(col("doc_id") % 17 === 0)
    val state = s"/tmp/graft-aggstate-${java.util.UUID.randomUUID()}"
    graft.operators.IncrementalAgg.writeDistinctState(hist, state)
    val merged = graft.operators.IncrementalAgg
      .mergeDistinctIncrement(s, state, inc)
    val exact = d
      .select(col("source"),
        TextFunctions.fingerprint64(col("text")).as("fp"))
      .groupBy("source")
      .agg(countDistinct(col("fp")).as("exact_distinct"))
    merged.join(exact, Seq("source"))
      .select(col("source"), col("exact_distinct"),
        (abs(hll_sketch_estimate(col("fp_sketch"))
          - col("exact_distinct")) <= col("exact_distinct") * 0.15)
          .as("within_bound"))
      .orderBy("source")
  }.oracle(
    // Sketch-state distinct maintenance: exact distinct normalized
    // texts per source (fingerprint collisions are absent at these
    // corpus sizes, so distinct fingerprints = distinct normalized
    // texts) + the error envelope pinned TRUE.
    """SELECT source,
      |  count(DISTINCT trim(regexp_replace(lower(text),
      |    '\s+', ' ', 'g'))) AS exact_distinct,
      |  TRUE AS within_bound
      |FROM documents GROUP BY source ORDER BY source""".stripMargin)

  query("agg_incremental_quantile") { (s, dir) =>
    // The maintenance loop for an ORDER STATISTIC: per-source token-
    // count quantiles carried as mergeable fixed-bin histogram state
    // (bins sum across epochs; the estimate — upper edge of the bin
    // holding the rank-threshold value — is a deterministic integer
    // function of merged bins). Same epoch split as agg_incremental;
    // exact rank quantiles ride along with the |est − exact| < width
    // envelope the oracle pins TRUE, the approx-sketch pattern.
    val d = t(s, dir, "documents")
    val hist = d.filter(col("doc_id") % 17 =!= 0)
    val inc = d.filter(col("doc_id") % 17 === 0)
    val state = s"/tmp/graft-aggstate-${java.util.UUID.randomUUID()}"
    graft.operators.IncrementalAgg.writeHistState(hist, state)
    val merged = graft.operators.IncrementalAgg
      .mergeHistIncrement(s, state, inc)
    val est = graft.operators.IncrementalAgg
      .histQuantiles(merged, 16, Seq(5000, 9500))
    val vals = d.select(col("source"),
      TextFunctions.tokenCount(col("text")).cast("long").as("v"))
    val ranked = vals
      .withColumn("rn",
        row_number().over(Window.partitionBy("source").orderBy("v")))
      .withColumn("nv",
        count(lit(1)).over(Window.partitionBy("source")))
    def exactAt(pbp: Int, name: String) = ranked
      .filter(col("rn") >= expr(s"($pbp * nv + 9999) div 10000"))
      .groupBy("source").agg(min(col("v")).as(name))
    est
      .join(exactAt(5000, "exact_p50"), "source")
      .join(exactAt(9500, "exact_p95"), "source")
      .select(col("source"), col("n_values"),
        col("p5000_upper").as("p50_upper"),
        col("p9500_upper").as("p95_upper"),
        col("exact_p50"), col("exact_p95"),
        (col("exact_p50") >= col("p5000_upper") - 16 &&
          col("exact_p50") < col("p5000_upper")).as("within_p50"),
        (col("exact_p95") >= col("p9500_upper") - 16 &&
          col("exact_p95") < col("p9500_upper")).as("within_p95"))
      .orderBy("source")
  }.oracle(
    // Histogram-quantile maintenance: bins, running counts, the
    // integer rank threshold and the bin-upper-edge estimate are all
    // exact integer replays; exact rank quantiles come from the same
    // row_number discipline; the error envelope is computed, not
    // assumed.
    """WITH tok AS (
      |  SELECT doc_id, source, CASE WHEN trim(text) = '' THEN 0 ELSE
      |    CAST(len(string_split(trim(regexp_replace(lower(text),
      |      '\s+', ' ', 'g')), ' ')) AS BIGINT) END AS v
      |  FROM documents),
      |h AS (
      |  SELECT source, least(v // 16, 63) AS bin, count(*) AS cnt
      |  FROM tok GROUP BY 1, 2),
      |cum AS (
      |  SELECT source, bin, cnt,
      |    sum(cnt) OVER (PARTITION BY source ORDER BY bin
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
      |    sum(cnt) OVER (PARTITION BY source) AS total
      |  FROM h),
      |est AS (
      |  SELECT p50.source, p50.n_values, p50.p50_upper, p95.p95_upper
      |  FROM (SELECT source, CAST(min(total) AS BIGINT) AS n_values,
      |          CAST((min(bin) + 1) * 16 AS BIGINT) AS p50_upper
      |        FROM cum WHERE cum >= (5000 * total + 9999) // 10000
      |        GROUP BY source) p50
      |  JOIN (SELECT source,
      |          CAST((min(bin) + 1) * 16 AS BIGINT) AS p95_upper
      |        FROM cum WHERE cum >= (9500 * total + 9999) // 10000
      |        GROUP BY source) p95 ON p95.source = p50.source),
      |ranked AS (
      |  SELECT source, v,
      |    row_number() OVER (PARTITION BY source ORDER BY v) AS rn,
      |    count(*) OVER (PARTITION BY source) AS nv
      |  FROM tok),
      |ex AS (
      |  SELECT e50.source, e50.exact_p50, e95.exact_p95
      |  FROM (SELECT source, min(v) AS exact_p50 FROM ranked
      |        WHERE rn >= (5000 * nv + 9999) // 10000
      |        GROUP BY source) e50
      |  JOIN (SELECT source, min(v) AS exact_p95 FROM ranked
      |        WHERE rn >= (9500 * nv + 9999) // 10000
      |        GROUP BY source) e95 ON e95.source = e50.source)
      |SELECT est.source, est.n_values, est.p50_upper, est.p95_upper,
      |  ex.exact_p50, ex.exact_p95,
      |  ex.exact_p50 >= est.p50_upper - 16
      |    AND ex.exact_p50 < est.p50_upper AS within_p50,
      |  ex.exact_p95 >= est.p95_upper - 16
      |    AND ex.exact_p95 < est.p95_upper AS within_p95
      |FROM est JOIN ex ON ex.source = est.source
      |ORDER BY est.source""".stripMargin)

  query("events_retention") { (s, dir) =>
    // Cohort retention matrix — the longitudinal product-analytics
    // view: users keyed by first-activity date, activity counted per
    // (cohort, day offset). Day arithmetic is exact integers.
    graft.operators.TimeSeries.retentionCohorts(t(s, dir, "events"))
      .orderBy("cohort_day", "day_offset")
  }.oracle(
    // Retention: day arithmetic in exact integer days, the (user,
    // day) de-dup before the join exactly as the engine does it.
    """WITH fd AS (
      |  SELECT user_id, min(date_trunc('day', ts)) AS cohort_day
      |  FROM events GROUP BY user_id),
      |ad AS (SELECT DISTINCT user_id, date_trunc('day', ts) AS day
      |       FROM events)
      |SELECT f.cohort_day,
      |  CAST(date_diff('day', f.cohort_day, a.day) AS INTEGER)
      |    AS day_offset,
      |  count(*) AS n_users
      |FROM ad a JOIN fd f ON f.user_id = a.user_id
      |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)

  query("events_funnel_steps") { (s, dir) =>
    // Ordered funnel attribution: signup → first view ≥ signup →
    // first purchase ≥ that view; each stage one per-user row, nulls
    // where the funnel stalls.
    graft.operators.TimeSeries.funnelSteps(t(s, dir, "events"))
      .orderBy("user_id")
  }.oracle(
    // Funnel attribution: each stage's min-timestamp conditioning on
    // the previous stage replayed as correlated aggregations.
    """WITH s AS (
      |  SELECT user_id, min(ts) AS signup_ts FROM events
      |  WHERE event_type = 'signup' GROUP BY 1),
      |v AS (
      |  SELECT e.user_id, min(e.ts) AS first_view_ts
      |  FROM events e JOIN s ON s.user_id = e.user_id
      |  WHERE e.event_type = 'view' AND e.ts >= s.signup_ts
      |  GROUP BY 1),
      |p AS (
      |  SELECT e.user_id, min(e.ts) AS first_purchase_ts
      |  FROM events e JOIN v ON v.user_id = e.user_id
      |  WHERE e.event_type = 'purchase' AND e.ts >= v.first_view_ts
      |  GROUP BY 1)
      |SELECT s.user_id, s.signup_ts, v.first_view_ts,
      |  p.first_purchase_ts
      |FROM s LEFT JOIN v ON v.user_id = s.user_id
      |LEFT JOIN p ON p.user_id = s.user_id
      |ORDER BY s.user_id""".stripMargin)

  query("events_sessionize") { (s, dir) =>
    EventsStream.sessionizeBatch(t(s, dir, "events"))
  }.oracle(
    """WITH x AS (
      |  SELECT user_id, ts, event_id,
      |    CASE WHEN epoch_us(ts) - epoch_us(lag(ts) OVER
      |      (PARTITION BY user_id ORDER BY ts, event_id)) > 1800000000
      |      THEN 1 ELSE 0 END AS new_s
      |  FROM events),
      |y AS (
      |  SELECT user_id, ts,
      |    CAST(sum(new_s) OVER (PARTITION BY user_id
      |      ORDER BY ts, event_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
      |      AS BIGINT) AS session_idx
      |  FROM x)
      |SELECT user_id, session_idx, count(*) AS n_events,
      |  min(ts) AS session_start, max(ts) AS session_end
      |FROM y GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)

  query("user_profiles") { (s, dir) =>
    // Batch twin of the mapGroupsWithState streaming upsert — the spec
    // proves the stream's final state equals this aggregate.
    EventsStream.userProfileBatch(t(s, dir, "events"))
  }.oracle(
    """SELECT user_id, count(*) AS n_events,
      |  CAST(sum(CAST(round(value * 1e6) AS BIGINT)) AS BIGINT)
      |    AS spend_micros,
      |  max(ts) AS last_seen
      |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin)

  query("profile_numeric") { (s, dir) =>
    // One-scan per-column profile (row/null/distinct counts + ranges);
    // the multi-COUNT(DISTINCT) plans as a single Expand aggregate.
    graft.operators.Profile.numeric(t(s, dir, "lineitem"),
      Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax"))
  }.oracle {
    // One UNION ALL branch per profiled column — the naive per-column
    // formulation the one-scan Expand aggregate must reproduce.
    val branch = (c: String) =>
      s"""SELECT '$c' AS col_name, count(*) AS n_rows,
         |  CAST(sum(CASE WHEN $c IS NULL THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_nulls,
         |  count(DISTINCT $c) AS n_distinct,
         |  CAST(min($c) AS DOUBLE) AS min_val,
         |  CAST(max($c) AS DOUBLE) AS max_val
         |FROM lineitem""".stripMargin
    Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax")
      .map(branch).mkString("SELECT * FROM (\n", "\nUNION ALL\n",
        "\n) ORDER BY col_name")
  }

  query("profile_keys") { (s, dir) =>
    // Candidate-key discovery on orders: per column (+ one composite)
    // exact distinct vs non-null rows, uniqueness in exact ppm, is_key
    // verdict. One Expand aggregate — the profile_numeric plan shape.
    graft.operators.Profile.candidateKeys(t(s, dir, "orders"),
      Seq("o_orderkey", "o_custkey", "o_orderstatus", "o_orderdate"),
      pairs = Seq(("o_custkey", "o_orderdate")))
  }.oracle {
    // Candidate keys: the same union-branch derivation, plus the
    // row-syntax composite distinct and the identical ppm/is_key
    // integer arithmetic.
    val branch = (name: String, distinctExpr: String,
        nullPred: String) =>
      s"""SELECT '$name' AS col_name, count(*) AS n_rows,
         |  CAST(sum(CASE WHEN $nullPred THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_nulls,
         |  count(DISTINCT $distinctExpr) AS n_distinct
         |FROM orders""".stripMargin
    val branches = Seq(
      branch("o_orderkey", "o_orderkey", "o_orderkey IS NULL"),
      branch("o_custkey", "o_custkey", "o_custkey IS NULL"),
      branch("o_orderstatus", "o_orderstatus",
        "o_orderstatus IS NULL"),
      branch("o_orderdate", "o_orderdate", "o_orderdate IS NULL"),
      branch("o_custkey,o_orderdate", "(o_custkey, o_orderdate)",
        "o_custkey IS NULL OR o_orderdate IS NULL"))
    s"""SELECT col_name, n_rows, n_nulls, n_distinct,
       |  CAST(n_distinct * 1000000 // (n_rows - n_nulls) AS BIGINT)
       |    AS uniqueness_ppm,
       |  n_distinct = n_rows - n_nulls AND n_nulls = 0 AS is_key
       |FROM (
       |${branches.mkString("\nUNION ALL\n")}
       |) ORDER BY col_name""".stripMargin
  }

  query("events_session_window") { (s, dir) =>
    // Spark's BUILTIN gap sessionization (session_window merges
    // overlapping [ts, ts+gap) windows — streaming-capable as-is). The
    // oracle re-derives the same sessions with the lag/cumsum
    // formulation, so this pins builtin ≡ hand-rolled ≡ DuckDB:
    // window.start = first event, window.end = last event + gap.
    t(s, dir, "events")
      .groupBy(session_window(col("ts"), "30 minutes"), col("user_id"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("user_id"),
        col("session_window.start").as("session_start"),
        col("session_window.end").as("session_end_gap"),
        col("n_events"))
      .orderBy("user_id", "session_start")
  }.oracle(
    // The builtin session_window must produce the SAME sessions as the
    // lag/cumsum derivation: start = first event, end = last + gap.
    // boundary: session_window is HALF-OPEN [start, last+gap) — an
    // event exactly gap after its predecessor starts a NEW session, so
    // the re-derivation splits on >= gap (the custom events_sessionize
    // operator uses > gap; both are valid gap conventions, pinned
    // explicitly per query)
    """WITH x AS (
      |  SELECT user_id, ts, event_id,
      |    CASE WHEN epoch_us(ts) - epoch_us(lag(ts) OVER
      |      (PARTITION BY user_id ORDER BY ts, event_id)) >= 1800000000
      |      THEN 1 ELSE 0 END AS new_s
      |  FROM events),
      |y AS (
      |  SELECT user_id, ts,
      |    CAST(sum(new_s) OVER (PARTITION BY user_id
      |      ORDER BY ts, event_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
      |      AS BIGINT) AS session_idx
      |  FROM x)
      |SELECT user_id, min(ts) AS session_start,
      |  max(ts) + INTERVAL 30 MINUTE AS session_end_gap,
      |  count(*) AS n_events
      |FROM y GROUP BY user_id, session_idx
      |ORDER BY user_id, session_start""".stripMargin)

  query("scd2_event_runs") { (s, dir) =>
    // SCD2 history build: per-user runs of consecutive event_type
    // collapsed to validity intervals (valid_from/valid_to/is_current)
    // via gaps-and-islands — both row_numbers and the groupBy share
    // one user-partitioned exchange. The unique event id is the chain
    // tiebreak (same-timestamp events interleaving types make
    // valid_from alone ambiguous).
    graft.operators.TimeSeries.scd2EventRuns(t(s, dir, "events"))
      .orderBy("user_id", "first_event_id")
  }.oracle(
    // SCD2 intervals: the same two-row_number island detection, run
    // aggregation, and lead() interval chaining with the identical
    // (valid_from, first_event_id) tiebreak.
    """WITH r AS (
      |  SELECT user_id, event_id, ts, event_type,
      |    row_number() OVER (PARTITION BY user_id
      |      ORDER BY ts, event_id)
      |    - row_number() OVER (PARTITION BY user_id, event_type
      |        ORDER BY ts, event_id) AS island
      |  FROM events),
      |g AS (
      |  SELECT user_id, event_type, island,
      |    min(ts) AS valid_from, count(*) AS n_events,
      |    min(event_id) AS first_event_id
      |  FROM r GROUP BY user_id, event_type, island),
      |s AS (
      |  SELECT user_id, event_type, valid_from, n_events,
      |    first_event_id,
      |    lead(valid_from) OVER (PARTITION BY user_id
      |      ORDER BY valid_from, first_event_id) AS valid_to
      |  FROM g)
      |SELECT user_id, event_type, valid_from, valid_to,
      |  valid_to IS NULL AS is_current, n_events, first_event_id
      |FROM s ORDER BY user_id, first_event_id""".stripMargin)

  query("agg_corr_exact") { (s, dir) =>
    // Pearson correlation + OLS slope (value-micros vs hour-of-day per
    // event type) with EXACT integer moment sums — the only float
    // steps are one nearest-double cast per exact integer and the
    // identically shaped final division/sqrt, so the doubles are
    // bit-equal across engines and parallelism (native corr()/
    // regr_slope() accumulate doubles in partition order and can
    // never hash-match).
    graft.operators.Profile.corrRegrExact(
      t(s, dir, "events"), "event_type",
      hour(col("ts")), round(col("value") * 1e6))
      .orderBy("event_type")
  }.oracle(
    // Exact-moment correlation/regression: identical HUGEINT sums,
    // identical cast/division/sqrt shape → bit-equal doubles.
    """WITH b AS (
      |  SELECT event_type, CAST(hour(ts) AS BIGINT) AS x,
      |    CAST(round(value * 1e6) AS BIGINT) AS y
      |  FROM events),
      |a AS (
      |  SELECT event_type, count(*) AS n,
      |    CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
      |    sum(CAST(x AS HUGEINT) * CAST(x AS HUGEINT)) AS sxx,
      |    sum(CAST(y AS HUGEINT) * CAST(y AS HUGEINT)) AS syy,
      |    sum(CAST(x AS HUGEINT) * CAST(y AS HUGEINT)) AS sxy
      |  FROM b GROUP BY event_type),
      |t AS (
      |  SELECT event_type, n,
      |    CAST(n AS HUGEINT) * sxy
      |      - CAST(sx AS HUGEINT) * CAST(sy AS HUGEINT) AS num,
      |    CAST(n AS HUGEINT) * sxx
      |      - CAST(sx AS HUGEINT) * CAST(sx AS HUGEINT) AS denx,
      |    CAST(n AS HUGEINT) * syy
      |      - CAST(sy AS HUGEINT) * CAST(sy AS HUGEINT) AS deny
      |  FROM a)
      |SELECT event_type, n,
      |  CASE WHEN denx > 0 AND deny > 0 THEN
      |    CAST(num AS DOUBLE)
      |      / sqrt(CAST(denx AS DOUBLE) * CAST(deny AS DOUBLE))
      |    END AS corr,
      |  CASE WHEN denx > 0 THEN
      |    CAST(num AS DOUBLE) / CAST(denx AS DOUBLE) END AS slope
      |FROM t ORDER BY event_type""".stripMargin)

  query("events_anomaly") { (s, dir) =>
    // 3-sigma hourly anomaly flags with the z-test cross-multiplied
    // into exact integers (see TimeSeries.anomaly3Sigma) — the flag is
    // bit-reproducible in any engine, no float variance involved.
    graft.operators.TimeSeries.anomaly3Sigma(t(s, dir, "events"))
      .orderBy("event_type", "hour")
  }.oracle(
    // Anomaly flags: the identical integer cross-multiplication in
    // HUGEINT — no float variance on either side.
    """WITH hourly AS (
      |  SELECT date_trunc('hour', ts) AS hour, event_type,
      |    CAST(sum(CAST(round(value * 1e6) AS BIGINT)) AS BIGINT)
      |      AS s_micros
      |  FROM events GROUP BY 1, 2),
      |stats AS (
      |  SELECT event_type, count(*) AS n,
      |    CAST(sum(s_micros) AS BIGINT) AS s1,
      |    sum(CAST(s_micros AS HUGEINT) * CAST(s_micros AS HUGEINT))
      |      AS s2
      |  FROM hourly GROUP BY event_type)
      |SELECT h.hour, h.event_type, h.s_micros,
      |  (CAST(s.n AS HUGEINT) * h.s_micros - s.s1)
      |    * (CAST(s.n AS HUGEINT) * h.s_micros - s.s1)
      |    * (CAST(s.n AS HUGEINT) - 1)
      |  > 9 * CAST(s.n AS HUGEINT)
      |    * (CAST(s.n AS HUGEINT) * s.s2
      |       - CAST(s.s1 AS HUGEINT) * CAST(s.s1 AS HUGEINT))
      |    AS is_anomaly
      |FROM hourly h JOIN stats s ON h.event_type = s.event_type
      |ORDER BY h.event_type, h.hour""".stripMargin)

  query("events_resample_1h") { (s, dir) =>
    // Fixed-grid resample with explicit gap semantics: every (hour,
    // event_type) cell present, zero-filled counts/sums and a
    // forward-filled last observation (IGNORE NULLS running window).
    graft.operators.TimeSeries.resampleHourly(t(s, dir, "events"))
  }.oracle(
    // Fixed hourly grid with explicit gaps: spine × keys left-joined
    // against the real hourly aggregate; zero-fill for count/sum,
    // IGNORE NULLS running last for the forward fill.
    """WITH b AS (SELECT date_trunc('hour', min(ts)) AS t0,
      |            date_trunc('hour', max(ts)) AS t1 FROM events),
      |spine AS (SELECT unnest(generate_series(t0, t1,
      |            INTERVAL 1 HOUR)) AS hour FROM b),
      |types AS (SELECT DISTINCT event_type FROM events),
      |hourly AS (
      |  SELECT date_trunc('hour', ts) AS hour, event_type,
      |    count(*) AS n,
      |    CAST(sum(CAST(round(value * 1e6) AS BIGINT)) AS BIGINT) AS sm
      |  FROM events GROUP BY 1, 2)
      |SELECT g.hour, g.event_type,
      |  coalesce(h.n, 0) AS n_events,
      |  coalesce(h.sm, 0) AS sum_micros,
      |  last_value(h.sm IGNORE NULLS) OVER (
      |    PARTITION BY g.event_type ORDER BY g.hour
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
      |    AS ffill_micros
      |FROM (SELECT hour, event_type FROM spine, types) g
      |LEFT JOIN hourly h
      |  ON h.hour = g.hour AND h.event_type = g.event_type
      |ORDER BY g.hour, g.event_type""".stripMargin)

  query("events_interpolate_1h") { (s, dir) =>
    // Linear gap interpolation on the same grid: empty hours between
    // two observations take the proportional value in exact micros;
    // leading/trailing gaps stay null (no extrapolation).
    graft.operators.TimeSeries.interpolateHourly(t(s, dir, "events"))
  }.oracle(
    // Linear interpolation: identical grid; the gap value is
    // pv + round((nv − pv)·Δt/T) with the engine's exact
    // parenthesization and SECONDS as the time unit on both sides.
    """WITH b AS (SELECT date_trunc('hour', min(ts)) AS t0,
      |            date_trunc('hour', max(ts)) AS t1 FROM events),
      |spine AS (SELECT unnest(generate_series(t0, t1,
      |            INTERVAL 1 HOUR)) AS hour FROM b),
      |types AS (SELECT DISTINCT event_type FROM events),
      |hourly AS (
      |  SELECT date_trunc('hour', ts) AS hour, event_type,
      |    count(*) AS n,
      |    CAST(sum(CAST(round(value * 1e6) AS BIGINT)) AS BIGINT) AS sm
      |  FROM events GROUP BY 1, 2),
      |g AS (
      |  SELECT g.hour, g.event_type,
      |    coalesce(h.n, 0) AS n_events,
      |    coalesce(h.sm, 0) AS sum_micros,
      |    CASE WHEN h.n > 0 THEN h.sm END AS obs,
      |    CASE WHEN h.n > 0
      |      THEN epoch_us(g.hour) // 1000000 END AS obs_h
      |  FROM (SELECT hour, event_type FROM spine, types) g
      |  LEFT JOIN hourly h
      |    ON h.hour = g.hour AND h.event_type = g.event_type),
      |wnd AS (
      |  SELECT hour, event_type, n_events, sum_micros,
      |    epoch_us(hour) // 1000000 AS h,
      |    last_value(obs IGNORE NULLS) OVER (
      |      PARTITION BY event_type ORDER BY hour
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pv,
      |    last_value(obs_h IGNORE NULLS) OVER (
      |      PARTITION BY event_type ORDER BY hour
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS ph,
      |    first_value(obs IGNORE NULLS) OVER (
      |      PARTITION BY event_type ORDER BY hour
      |      ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nv,
      |    first_value(obs_h IGNORE NULLS) OVER (
      |      PARTITION BY event_type ORDER BY hour
      |      ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nh
      |  FROM g)
      |SELECT hour, event_type,
      |  CAST(n_events AS BIGINT) AS n_events,
      |  CAST(sum_micros AS BIGINT) AS sum_micros,
      |  CAST(CASE WHEN n_events > 0 THEN sum_micros
      |    WHEN pv IS NOT NULL AND nv IS NOT NULL
      |    THEN pv + CAST(round(CAST(nv - pv AS DOUBLE)
      |      * (h - ph) / (nh - ph)) AS BIGINT)
      |    END AS BIGINT) AS interp_micros
      |FROM wnd ORDER BY hour, event_type""".stripMargin)

  query("feat_hashing") { (s, dir) =>
    // Hashing-trick text features (Weinberger et al. 2009): feat_idx =
    // FNV-1a(token UTF-8 bytes) mod dim, sign = the hash's top bit, so
    // no vocabulary pass and no driver state. Scan-stage hashing; the
    // one shuffle is the map-side-combined (doc, idx) aggregate. The
    // oracle folds the SAME bytes through the SAME multiply-xor in
    // HUGEINT SQL — every weight is re-derived bit-for-bit.
    graft.operators.Features
      .hashedTokenFeatures(t(s, dir, "documents"), dim = 256)
      .orderBy("doc_id", "feat_idx")
  }.oracle(
    // The hashing-trick features, re-derived from scratch: the SAME
    // UTF-8 bytes folded through the SAME FNV-1a multiply-xor in
    // HUGEINT arithmetic (list_reduce seeded with the offset basis),
    // then signed index/sign extraction and the sparse aggregation.
    """WITH tk AS (
      |  SELECT doc_id, unnest(list_filter(string_split(
      |      trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' '),
      |      x -> len(x) > 0)) AS tok
      |  FROM documents),
      |hb AS (
      |  SELECT doc_id, list_reduce(
      |    list_prepend(14695981039346656037::HUGEINT,
      |      list_transform(generate_series(1, strlen(tok)),
      |        i -> (strpos('123456789ABCDEF',
      |                substring(hex(encode(tok)), 2*i-1, 1)) * 16
      |            + strpos('123456789ABCDEF',
      |                substring(hex(encode(tok)), 2*i, 1)))::HUGEINT)),
      |    (acc, b) -> (xor(acc, b) * 1099511628211)
      |                  % 18446744073709551616) AS h
      |  FROM tk),
      |sg AS (SELECT doc_id,
      |    CASE WHEN h >= 9223372036854775808
      |      THEN h - 18446744073709551616 ELSE h END AS s
      |  FROM hb)
      |SELECT doc_id,
      |  CAST(((s % 256) + 256) % 256 AS BIGINT) AS feat_idx,
      |  CAST(sum(CASE WHEN s < 0 THEN -1 ELSE 1 END) AS BIGINT)
      |    AS weight
      |FROM sg GROUP BY doc_id, feat_idx
      |HAVING sum(CASE WHEN s < 0 THEN -1 ELSE 1 END) <> 0
      |ORDER BY doc_id, feat_idx""".stripMargin)

  query("feat_binning") { (s, dir) =>
    // Equal-frequency discretization + min-max scaling WITHOUT a
    // global sort: cutpoints are one bounded exact-percentile
    // aggregate broadcast back (the agg_percentiles-proven portable
    // percentile), bucket assignment is scan-stage arithmetic —
    // deliberately not ntile(), which would demand a single-partition
    // window. Boundary ties never split buckets.
    graft.operators.Features
      .quantileBins(t(s, dir, "orders"), "o_totalprice", buckets = 10)
      .orderBy("bucket")
  }.oracle {
    // Cutpoints re-derived with quantile_cont (bit-compatible with
    // Spark's exact percentile — established by agg_percentiles),
    // bucket arithmetic and scaled ranges recomputed per branch.
    val cuts = (1 to 9).map(i =>
      s"quantile_cont(v, 0.$i) AS c$i").mkString(", ")
    val bucket = (1 to 9).map(i =>
      s"(CASE WHEN v > c$i THEN 1 ELSE 0 END)").mkString(" + ")
    s"""WITH vals AS (
       |  SELECT o_totalprice AS v FROM orders
       |  WHERE o_totalprice IS NOT NULL),
       |c AS (SELECT min(v) AS gmin, max(v) AS gmax, $cuts FROM vals),
       |b AS (SELECT v, gmin, gmax,
       |    CAST(1 + $bucket AS BIGINT) AS bucket
       |  FROM vals, c)
       |SELECT bucket, count(*) AS n, min(v) AS lo, max(v) AS hi,
       |  min((v - gmin) / (gmax - gmin)) AS lo_scaled,
       |  max((v - gmin) / (gmax - gmin)) AS hi_scaled
       |FROM b GROUP BY bucket ORDER BY bucket""".stripMargin
  }

  query("cdc_apply") { (s, dir) =>
    // Batch CDC fold: a deterministic I/U/D changelog derived from
    // orders (op from o_orderkey mod 10, seq = o_orderkey, inserts
    // target fresh keys above 3M) applied onto the customer snapshot.
    // Last-writer-wins per key with a D>U>I tie-break; one changelog
    // window + one key-partitioned full-outer join — the snapshot is
    // scanned once and nothing reaches the driver.
    val base = t(s, dir, "customer")
      .select("c_custkey", "c_name", "c_acctbal")
    val o = t(s, dir, "orders")
    val op = when(col("o_orderkey") % 10 === 0, "D")
      .when(col("o_orderkey") % 10 <= 5, "U").otherwise("I")
    val log = o.select(
      when(col("o_orderkey") % 10 > 5, col("o_orderkey") + 3000000L)
        .otherwise(col("o_custkey")).as("c_custkey"),
      col("o_orderkey").as("seq"), op.as("op"),
      concat(lit("cdc#"), col("o_orderkey")).as("c_name"),
      col("o_totalprice").as("c_acctbal"))
    graft.operators.Cdc
      .applyChangelog(base, log, "c_custkey", "seq", "op")
      .orderBy("c_custkey")
  }.oracle(
    // The CDC fold re-derived: same deterministic changelog, a
    // row_number window for last-writer-wins (same D>U>I tie-break),
    // full-outer merge with delete filtering.
    """WITH base AS (
      |  SELECT c_custkey, c_name, c_acctbal FROM customer),
      |log AS (
      |  SELECT CASE WHEN o_orderkey % 10 > 5
      |           THEN 3000000 + o_orderkey ELSE o_custkey END
      |      AS c_custkey,
      |    o_orderkey AS seq,
      |    CASE WHEN o_orderkey % 10 = 0 THEN 'D'
      |         WHEN o_orderkey % 10 <= 5 THEN 'U'
      |         ELSE 'I' END AS op,
      |    'cdc#' || o_orderkey AS c_name,
      |    o_totalprice AS c_acctbal
      |  FROM orders),
      |latest AS (
      |  SELECT * FROM (
      |    SELECT *, row_number() OVER (PARTITION BY c_custkey
      |        ORDER BY seq DESC,
      |          CASE op WHEN 'D' THEN 3 WHEN 'U' THEN 2
      |            ELSE 1 END DESC) AS rn
      |    FROM log)
      |  WHERE rn = 1)
      |SELECT coalesce(l.c_custkey, b.c_custkey) AS c_custkey,
      |  CASE WHEN l.op IS NOT NULL THEN l.c_name ELSE b.c_name END
      |    AS c_name,
      |  CASE WHEN l.op IS NOT NULL THEN l.c_acctbal
      |       ELSE b.c_acctbal END AS c_acctbal,
      |  CASE WHEN l.op IS NOT NULL THEN 'cdc' ELSE 'base' END AS src
      |FROM base b FULL OUTER JOIN latest l
      |  ON b.c_custkey = l.c_custkey
      |WHERE l.op IS NULL OR l.op <> 'D'
      |ORDER BY c_custkey""".stripMargin)

  query("table_diff") { (s, dir) =>
    // Snapshot diff audit: v1 is a deterministic perturbation of the
    // customer snapshot (drop keys %97, bump acctbal on keys %13, add
    // fresh keys above 3M for keys %89) so the oracle can rebuild both
    // versions; Diff.byKey classifies via ONE full-outer join with a
    // null-safe payload comparison — unchanged keys never leave the
    // join. Output flattened for the hash compare.
    val v0 = t(s, dir, "customer")
      .select("c_custkey", "c_name", "c_acctbal")
    val v1 = v0.filter(col("c_custkey") % 97 =!= 0)
      .select(col("c_custkey"), col("c_name"),
        when(col("c_custkey") % 13 === 0, col("c_acctbal") + 100.0)
          .otherwise(col("c_acctbal")).as("c_acctbal"))
      .unionByName(v0.filter(col("c_custkey") % 89 === 0)
        .select((col("c_custkey") + 3000000L).as("c_custkey"),
          concat(lit("new#"), col("c_custkey") + 3000000L).as("c_name"),
          col("c_acctbal")))
    graft.operators.Diff.byKey(v0, v1, "c_custkey")
      .select(col("c_custkey"), col("status"),
        col("before.c_name").as("name_before"),
        col("before.c_acctbal").as("bal_before"),
        col("after.c_name").as("name_after"),
        col("after.c_acctbal").as("bal_after"))
      .orderBy("c_custkey")
  }.oracle(
    // Both versions rebuilt from the same perturbation rules, then
    // the naive full-outer classification the one-join engine diff
    // must reproduce (IS NOT DISTINCT FROM = the null-safe compare).
    """WITH v0 AS (
      |  SELECT c_custkey, c_name, c_acctbal FROM customer),
      |v1 AS (
      |  SELECT c_custkey, c_name,
      |    CASE WHEN c_custkey % 13 = 0 THEN c_acctbal + 100.0
      |         ELSE c_acctbal END AS c_acctbal
      |  FROM v0 WHERE c_custkey % 97 <> 0
      |  UNION ALL
      |  SELECT c_custkey + 3000000,
      |    'new#' || (c_custkey + 3000000), c_acctbal
      |  FROM v0 WHERE c_custkey % 89 = 0),
      |d AS (
      |  SELECT coalesce(a.c_custkey, b.c_custkey) AS c_custkey,
      |    CASE WHEN a.c_custkey IS NULL THEN 'added'
      |         WHEN b.c_custkey IS NULL THEN 'removed'
      |         WHEN NOT (a.c_name IS NOT DISTINCT FROM b.c_name
      |           AND a.c_acctbal IS NOT DISTINCT FROM b.c_acctbal)
      |           THEN 'changed' END AS status,
      |    a.c_name AS name_before, a.c_acctbal AS bal_before,
      |    b.c_name AS name_after, b.c_acctbal AS bal_after
      |  FROM v0 a FULL OUTER JOIN v1 b
      |    ON a.c_custkey = b.c_custkey)
      |SELECT * FROM d WHERE status IS NOT NULL
      |ORDER BY c_custkey""".stripMargin)

  query("record_linkage") { (s, dir) =>
    // Record linkage WITHOUT a shared key: v1 is the parts list after
    // a deterministic re-listing (keys rebased to 5M+, a third of the
    // names grow a ' deluxe' suffix, a fifth of the prices shift
    // +0.5), and the pipeline must re-identify the same part from its
    // FIELDS alone. Blocking on (brand, size) bounds candidates to an
    // equi-join (never all-pairs; hot blocks truncate deterministically
    // under the declared pair budget), then integer Fellegi–Sunter-style
    // weights: 2·|name-word overlap| + 3·price-closeness, match at
    // score >= 6 — exact arithmetic the oracle replays in full.
    // blocking includes the 6-char name prefix (same reasoning as
    // join_edit_distance: a FIXED (brand, size) block count means
    // occupancy — and pair mass — grows quadratically with the
    // corpus, and at sf1 the per-block pair budget degraded every
    // block; the re-listing perturbation is suffix-only, so prefix
    // blocking keeps every true match while block cardinality scales
    // with the corpus — and when a REPLICATED corpus still overflows
    // the budget (sf10: every copy shares each prefix block), the
    // budget truncates per side instead of zeroing the answer)
    val p0 = t(s, dir, "part")
      .select(col("p_partkey"), col("p_name"), col("p_brand"),
        col("p_size"), col("p_retailprice"),
        substring(col("p_name"), 1, 6).as("p_pfx"))
    val p1 = t(s, dir, "part").select(
      (col("p_partkey") + 5000000L).as("p_partkey"),
      when(col("p_partkey") % 3 === 0,
        concat(col("p_name"), lit(" deluxe")))
        .otherwise(col("p_name")).as("p_name"),
      col("p_brand"), col("p_size"),
      when(col("p_partkey") % 5 === 0, col("p_retailprice") + 0.5)
        .otherwise(col("p_retailprice")).as("p_retailprice"))
      .withColumn("p_pfx", substring(col("p_name"), 1, 6))
    val overlap = size(array_intersect(
      array_distinct(split(col("a_p_name"), " ")),
      array_distinct(split(col("b_p_name"), " ")))).cast("long")
    val priceClose =
      abs(col("a_p_retailprice") - col("b_p_retailprice")) <= 0.75
    graft.operators.Linkage
      .candidates(p0, p1, Seq("p_brand", "p_size", "p_pfx"),
        maxPairs = 4096L)
      .select(col("a_p_partkey").as("a_key"),
        col("b_p_partkey").as("b_key"), overlap.as("overlap"),
        priceClose.as("price_close"),
        (overlap * 2L + when(priceClose, 3L).otherwise(0L)).as("score"))
      .filter(col("score") >= 6L)
      .orderBy("a_key", "b_key")
  }.oracle(
    // Same re-listing rules, plain block join, every weight replayed:
    // word overlap via list_intersect on distinct name words, the
    // same integer score arithmetic and threshold.
    // Replays Linkage.candidates' declared budget degrade (see
    // join_edit_distance): overflowing blocks truncate to their first
    // 64 rows per side in p_partkey order instead of dropping whole.
    """WITH v0 AS (
      |  SELECT p_partkey, p_name, p_brand, p_size, p_retailprice,
      |    substr(p_name, 1, 6) AS p_pfx
      |  FROM part),
      |v1 AS (
      |  SELECT p_partkey + 5000000 AS p_partkey,
      |    CASE WHEN p_partkey % 3 = 0 THEN p_name || ' deluxe'
      |         ELSE p_name END AS p_name,
      |    p_brand, p_size,
      |    CASE WHEN p_partkey % 5 = 0 THEN p_retailprice + 0.5
      |         ELSE p_retailprice END AS p_retailprice,
      |    substr(p_name, 1, 6) AS p_pfx
      |  FROM part),
      |cnt AS (
      |  SELECT a.p_brand, a.p_size, a.p_pfx, a.na * b.nb AS n_pairs
      |  FROM (SELECT p_brand, p_size, p_pfx, count(*) AS na
      |        FROM v0 GROUP BY 1, 2, 3) a
      |  JOIN (SELECT p_brand, p_size, p_pfx, count(*) AS nb
      |        FROM v1 GROUP BY 1, 2, 3) b
      |    ON a.p_brand = b.p_brand AND a.p_size = b.p_size
      |    AND a.p_pfx = b.p_pfx),
      |f0 AS (
      |  SELECT * FROM (
      |    SELECT v.*, c.n_pairs, row_number() OVER (
      |        PARTITION BY v.p_brand, v.p_size, v.p_pfx
      |        ORDER BY v.p_partkey, v.p_name, v.p_retailprice) AS rn
      |    FROM v0 v JOIN cnt c ON c.p_brand = v.p_brand
      |      AND c.p_size = v.p_size AND c.p_pfx = v.p_pfx)
      |  WHERE n_pairs <= 4096 OR rn <= 64),
      |f1 AS (
      |  SELECT * FROM (
      |    SELECT v.*, c.n_pairs, row_number() OVER (
      |        PARTITION BY v.p_brand, v.p_size, v.p_pfx
      |        ORDER BY v.p_partkey, v.p_name, v.p_retailprice) AS rn
      |    FROM v1 v JOIN cnt c ON c.p_brand = v.p_brand
      |      AND c.p_size = v.p_size AND c.p_pfx = v.p_pfx)
      |  WHERE n_pairs <= 4096 OR rn <= 64),
      |pr AS (
      |  SELECT a.p_partkey AS a_key, b.p_partkey AS b_key,
      |    CAST(len(list_intersect(
      |      list_distinct(string_split(a.p_name, ' ')),
      |      list_distinct(string_split(b.p_name, ' ')))) AS BIGINT)
      |      AS overlap,
      |    abs(a.p_retailprice - b.p_retailprice) <= 0.75
      |      AS price_close
      |  FROM f0 a JOIN f1 b
      |    ON a.p_brand = b.p_brand AND a.p_size = b.p_size
      |    AND a.p_pfx = b.p_pfx)
      |SELECT a_key, b_key, overlap, price_close,
      |  CAST(2 * overlap + CASE WHEN price_close THEN 3 ELSE 0 END
      |    AS BIGINT) AS score
      |FROM pr
      |WHERE 2 * overlap + CASE WHEN price_close THEN 3 ELSE 0 END >= 6
      |ORDER BY a_key, b_key""".stripMargin)

  query("privacy_kanon") { (s, dir) =>
    // Release-side privacy audit: k-anonymity/l-diversity over the
    // (nation, segment) quasi-identifier with the acctbal thousand-
    // bucket as the sensitive attribute. One groupBy shuffle carrying
    // only (class, counts); exact integers end to end.
    graft.operators.Privacy.kAnonymityReport(
      t(s, dir, "customer"), Seq("c_nationkey", "c_mktsegment"),
      floor(col("c_acctbal") / 1000.0), k = 10L, l = 3L)
      .orderBy("c_nationkey", "c_mktsegment")
  }.oracle(
    // The audit recomputed as the naive groupBy it compiles to.
    """SELECT c_nationkey, c_mktsegment, count(*) AS n,
      |  count(DISTINCT floor(c_acctbal / 1000.0)) AS n_sensitive,
      |  count(*) >= 10 AS k_ok,
      |  count(DISTINCT floor(c_acctbal / 1000.0)) >= 3 AS l_ok
      |FROM customer
      |GROUP BY c_nationkey, c_mktsegment
      |ORDER BY c_nationkey, c_mktsegment""".stripMargin)

  query("agg_mode") { (s, dir) =>
    // Exact per-group MODE (Spark has no mode() builtin): count the
    // (group, value) pairs, then one struct-max argmax per group with
    // a value-asc tie-break — two map-side-combined shuffles, no
    // window over raw rows. DuckDB's native mode() has an unspecified
    // tie-break, so the oracle replays THIS argmax instead.
    val counts = t(s, dir, "customer")
      .groupBy("c_nationkey", "c_mktsegment")
      .agg(count(lit(1)).as("n"))
    counts.groupBy("c_nationkey")
      // ties on n: lexicographically LARGEST segment wins (pinned —
      // the same greatest-over-structs discipline as lang_id)
      .agg(max(struct(col("n"), col("c_mktsegment"))).as("m"))
      .select(col("c_nationkey"), col("m.c_mktsegment").as("mode_seg"),
        col("m.n").as("n"))
      .orderBy("c_nationkey")
  }.oracle(
    // The argmax replayed with a window (NOT DuckDB's mode(), whose
    // tie-break is unspecified): count desc, segment desc, first row.
    """WITH c AS (
      |  SELECT c_nationkey, c_mktsegment, count(*) AS n
      |  FROM customer GROUP BY 1, 2),
      |r AS (
      |  SELECT *, row_number() OVER (PARTITION BY c_nationkey
      |      ORDER BY n DESC, c_mktsegment DESC) AS rk
      |  FROM c)
      |SELECT c_nationkey, c_mktsegment AS mode_seg, n
      |FROM r WHERE rk = 1 ORDER BY c_nationkey""".stripMargin)

  query("agg_mad") { (s, dir) =>
    // Robust dispersion: per-status median absolute deviation of the
    // order total. Two exact-percentile aggregate passes (median,
    // then median of |x − median|) joined on the group key — the
    // portable percentile (agg_percentiles-proven) instead of any
    // engine-specific mad() builtin; no window over raw rows.
    val o = t(s, dir, "orders")
    val med = o.groupBy("o_orderstatus")
      .agg(expr("percentile(o_totalprice, 0.5)").as("med"))
    o.join(med, "o_orderstatus")
      .groupBy("o_orderstatus")
      .agg(expr("percentile(abs(o_totalprice - med), 0.5)").as("mad"),
        count(lit(1)).as("n"))
      .orderBy("o_orderstatus")
  }.oracle(
    // Median and MAD re-derived with quantile_cont (the proven
    // percentile-compatible pair), same two-pass shape.
    """WITH med AS (
      |  SELECT o_orderstatus,
      |    quantile_cont(o_totalprice, 0.5) AS med
      |  FROM orders GROUP BY 1)
      |SELECT o.o_orderstatus,
      |  quantile_cont(abs(o.o_totalprice - m.med), 0.5) AS mad,
      |  count(*) AS n
      |FROM orders o JOIN med m USING (o_orderstatus)
      |GROUP BY o.o_orderstatus
      |ORDER BY o.o_orderstatus""".stripMargin)

  query("events_transitions") { (s, dir) =>
    // First-order Markov transition matrix over per-user event
    // sequences: lag() on ONE user-partitioned exchange (unique
    // event_id tiebreak for same-timestamp events), transition counts
    // map-side combined, probabilities as exact floor micros (n·1e6
    // DIV row_total) so the matrix hash-matches across engines.
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("user_id").orderBy("ts", "event_id")
    val trans = t(s, dir, "events")
      .withColumn("prev_type", lag("event_type", 1).over(w))
      .filter(col("prev_type").isNotNull)
      .groupBy(col("prev_type"), col("event_type").as("next_type"))
      .agg(count(lit(1)).as("n"))
    val totals = trans.groupBy("prev_type")
      .agg(sum(col("n")).as("row_total"))
    trans.join(totals, "prev_type")
      .withColumn("p_micros", expr("(n * 1000000L) DIV row_total"))
      .select("prev_type", "next_type", "n", "p_micros")
      .orderBy("prev_type", "next_type")
  }.oracle(transitionsOracleSql)

  query("agg_contingency") { (s, dir) =>
    // Contingency-table independence audit (nation × segment):
    // Pearson residual outlier cells flagged by the cross-multiplied
    // inequality (o·N − r·c)² > 4·r·c·N — i.e. |standardized
    // residual| > 2 — in DECIMAL(38) integer arithmetic, no division
    // and no sqrt, so the flag is engine-reproducible (the
    // events_anomaly discipline applied to independence testing).
    // One cell aggregate + two marginal aggregates of the CELL frame
    // (the corpus scans once), marginals broadcast back.
    val d38 = "decimal(38,0)"
    def d(c: org.apache.spark.sql.Column) = c.cast(d38)
    val cells = t(s, dir, "customer")
      .groupBy("c_nationkey", "c_mktsegment")
      .agg(count(lit(1)).as("o"))
    val rows = cells.groupBy("c_nationkey")
      .agg(sum(col("o")).as("row_total"))
    val cols = cells.groupBy("c_mktsegment")
      .agg(sum(col("o")).as("col_total"))
    val n = cells.agg(sum(col("o")).as("n"))
    val dev = d(col("o")) * d(col("n")) -
      d(col("row_total")) * d(col("col_total"))
    cells.join(broadcast(rows), "c_nationkey")
      .join(broadcast(cols), "c_mktsegment")
      .crossJoin(broadcast(n)) // 1-row grand total
      .withColumn("residual_2sigma", dev * dev >
        lit(4).cast(d38) * d(col("row_total")) * d(col("col_total")) *
          d(col("n")))
      .select(col("c_nationkey"), col("c_mktsegment"), col("o"),
        col("row_total"), col("col_total"), col("n"),
        col("residual_2sigma"))
      .orderBy("c_nationkey", "c_mktsegment")
  }.oracle(
    // The identical HUGEINT inequality — observed×N vs marginal
    // product, squared deviation vs 4·r·c·N.
    """WITH cells AS (
      |  SELECT c_nationkey, c_mktsegment, count(*) AS o
      |  FROM customer GROUP BY 1, 2),
      |r AS (SELECT c_nationkey, CAST(sum(o) AS BIGINT) AS row_total
      |      FROM cells GROUP BY 1),
      |c AS (SELECT c_mktsegment, CAST(sum(o) AS BIGINT) AS col_total
      |      FROM cells GROUP BY 1),
      |g AS (SELECT CAST(sum(o) AS BIGINT) AS n FROM cells)
      |SELECT x.c_nationkey, x.c_mktsegment, x.o,
      |  r.row_total, c.col_total, g.n,
      |  (x.o::HUGEINT * g.n - r.row_total::HUGEINT * c.col_total)
      |    * (x.o::HUGEINT * g.n - r.row_total::HUGEINT * c.col_total)
      |    > 4::HUGEINT * r.row_total * c.col_total * g.n
      |    AS residual_2sigma
      |FROM cells x
      |JOIN r USING (c_nationkey)
      |JOIN c USING (c_mktsegment)
      |CROSS JOIN g
      |ORDER BY x.c_nationkey, x.c_mktsegment""".stripMargin)

  query("agg_robust_outliers") { (s, dir) =>
    // Robust outlier counts on top of the MAD pair: per status, how
    // many orders sit beyond 3·MAD from the median. Median/MAD are
    // the portable exact percentiles; the flag compares identical
    // IEEE operands in both engines, and only counts cross the wire.
    val o = t(s, dir, "orders")
    val med = o.groupBy("o_orderstatus")
      .agg(expr("percentile(o_totalprice, 0.5)").as("med"))
    val mad = o.join(med, "o_orderstatus")
      .groupBy("o_orderstatus")
      .agg(expr("percentile(abs(o_totalprice - med), 0.5)").as("mad"))
    o.join(med, "o_orderstatus").join(mad, "o_orderstatus")
      .groupBy("o_orderstatus")
      .agg(count(lit(1)).as("n"),
        sum(when(abs(col("o_totalprice") - col("med")) >
          col("mad") * 3.0, 1L).otherwise(0L)).as("n_outliers"))
      .orderBy("o_orderstatus")
  }.oracle(
    // Median/MAD via quantile_cont, identical flag comparison.
    """WITH med AS (
      |  SELECT o_orderstatus,
      |    quantile_cont(o_totalprice, 0.5) AS med
      |  FROM orders GROUP BY 1),
      |mad AS (
      |  SELECT o.o_orderstatus,
      |    quantile_cont(abs(o.o_totalprice - m.med), 0.5) AS mad
      |  FROM orders o JOIN med m USING (o_orderstatus)
      |  GROUP BY o.o_orderstatus)
      |SELECT o.o_orderstatus, count(*) AS n,
      |  CAST(coalesce(sum(CASE WHEN abs(o.o_totalprice - m.med)
      |    > d.mad * 3.0 THEN 1 ELSE 0 END), 0) AS BIGINT)
      |    AS n_outliers
      |FROM orders o
      |JOIN med m USING (o_orderstatus)
      |JOIN mad d USING (o_orderstatus)
      |GROUP BY o.o_orderstatus
      |ORDER BY o.o_orderstatus""".stripMargin)

  query("events_ewma") { (s, dir) =>
    // Exponential smoothing (α = 1/2) of each event type's hourly
    // micro-total — the trend signal a monitoring/curation pipeline
    // keeps per stream. Bit-reproducible WITHOUT rounding the result:
    // hourly totals are exact longs (per-row micro-round, the events
    // contract), and the fold s_t = (x_t + s_{t−1})/2 runs
    // left-to-right over the hour-sorted array — halving is EXACT in
    // binary floating point and addition is correctly rounded, so two
    // engines replaying the same sequence produce the same bits (the
    // agg_entropy order-pinning discipline, minus the libm caveat —
    // there is no transcendental here). Two map-side-combined
    // aggregates; the array is hours-long, bounded by the window.
    t(s, dir, "events")
      .groupBy(col("event_type"),
        date_trunc("hour", col("ts")).as("hour"))
      .agg(sum(expr("CAST(round(value * 1e6) AS BIGINT)")).as("x"))
      .groupBy("event_type")
      .agg(expr("sort_array(collect_list(struct(hour, x)))").as("arr"))
      .selectExpr("event_type", "CAST(size(arr) AS INT) AS n_hours",
        "aggregate(slice(arr, 2, size(arr) - 1), " +
          "CAST(element_at(arr, 1).x AS DOUBLE), " +
          "(acc, e) -> (acc + CAST(e.x AS DOUBLE)) / 2D) AS ewma")
      .orderBy("event_type")
  }.oracle(
    // EWMA: the same pinned left-to-right fold over the hour-sorted
    // exact micro-totals; 2-arg list_reduce seeds the accumulator with
    // the first element — exactly the engine's slice+init form. No
    // rounding needed: halving is exact, addition correctly rounded,
    // so the doubles are bit-equal.
    """WITH h AS (
      |  SELECT event_type, date_trunc('hour', ts) AS hour,
      |    CAST(sum(CAST(round(value * 1e6) AS BIGINT)) AS BIGINT) AS x
      |  FROM events GROUP BY 1, 2),
      |a AS (SELECT event_type,
      |        list(CAST(x AS DOUBLE) ORDER BY hour) AS arr
      |      FROM h GROUP BY 1)
      |SELECT event_type, CAST(len(arr) AS INTEGER) AS n_hours,
      |  list_reduce(arr, (acc, x) -> (acc + x) / 2.0) AS ewma
      |FROM a ORDER BY event_type""".stripMargin)

  query("agg_entropy") { (s, dir) =>
    // Shannon entropy of each nation's segment mix. Float logs are
    // unavoidable, so determinism comes from pinning the ACCUMULATION
    // ORDER: per-category counts are exact, the Σc·ln(c) fold runs
    // left-to-right over the segment-name-sorted array (not partition
    // order), and the result is micro-rounded — libm's ln differs
    // across engines only in the last ulp, far below micros. The
    // whole thing is two map-side-combined aggregates; the array is
    // |segments| long (bounded by the category domain).
    t(s, dir, "customer")
      .groupBy("c_nationkey", "c_mktsegment")
      .agg(count(lit(1)).as("cnt"))
      .groupBy("c_nationkey")
      .agg(expr("transform(sort_array(collect_list(struct(" +
        "c_mktsegment AS seg, cnt AS cnt))), x -> CAST(x.cnt AS DOUBLE))")
        .as("arr"),
        sum("cnt").as("n"))
      .selectExpr("c_nationkey", "n",
        "CAST(round((ln(CAST(n AS DOUBLE)) - aggregate(arr, " +
          "CAST(0 AS DOUBLE), (acc, x) -> acc + x * ln(x)) " +
          "/ CAST(n AS DOUBLE)) * 1e6) AS BIGINT) AS entropy_micros")
      .orderBy("c_nationkey")
  }.oracle(
    // same pinned fold: counts sorted by segment name, acc seeded by
    // list_prepend (this DuckDB's 2-arg list_reduce takes the first
    // element as the accumulator), ln only on identical doubles,
    // micro-rounded at the end
    """WITH c AS (
      |  SELECT c_nationkey, c_mktsegment, CAST(count(*) AS BIGINT) AS cnt
      |  FROM customer GROUP BY 1, 2),
      |a AS (
      |  SELECT c_nationkey,
      |         list(CAST(cnt AS DOUBLE) ORDER BY c_mktsegment) AS arr,
      |         CAST(sum(cnt) AS BIGINT) AS n
      |  FROM c GROUP BY 1)
      |SELECT c_nationkey, n,
      |  CAST(round((ln(CAST(n AS DOUBLE))
      |    - list_reduce(list_prepend(CAST(0 AS DOUBLE), arr),
      |        (acc, x) -> acc + x * ln(x)) / CAST(n AS DOUBLE))
      |    * 1e6) AS BIGINT) AS entropy_micros
      |FROM a ORDER BY c_nationkey""".stripMargin)

  query("agg_bitmap_distinct") { (s, dir) =>
    // Exact COUNT(DISTINCT) via two-level bitmap aggregation — the
    // engine-internals pattern for pushing exact distinct into
    // MERGEABLE partial state: ids bucket into 32k-bit bitmaps
    // (bitmap_bucket_number / bitmap_bit_position), each (group,
    // bucket) cell ORs map-side into one 4 KB bitmap, and the final
    // count is a sum of per-bucket popcounts — the shuffle carries
    // bounded bitmaps, never raw id values, and re-aggregation
    // (epochs, retries, AQE re-splits) is idempotent where a raw
    // distinct list would not be. Buckets partition the id space, so
    // the popcount sum is exactly count(DISTINCT). Construction uses
    // graft's typed BitmapAgg, not the builtin bitmap_construct_agg:
    // the builtin is hash-aggregation-INELIGIBLE and plans as
    // SortAggregate — it sorts the entire fact stream by group key,
    // re-paying exactly the cost the bitmap shape exists to avoid
    // (same finding as the BFS dense frontier; BitmapAgg scaladoc).
    // Output layout matches the builtin, so bitmap_count reads it.
    t(s, dir, "orders")
      .groupBy(col("o_orderpriority"),
        expr("bitmap_bucket_number(o_custkey)").as("_bucket"))
      .agg(graft.functions.BitmapAgg
        .bitmap_agg(expr("bitmap_bit_position(o_custkey)"), 32768)
        .as("_bm"))
      .groupBy("o_orderpriority")
      .agg(sum(expr("bitmap_count(_bm)")).as("n_cust"))
      .orderBy("o_orderpriority")
  }.oracle(
    // the oracle is the definitional distinct — a green row proves
    // the bitmap decomposition loses and double-counts nothing
    """SELECT o_orderpriority,
      |       CAST(count(DISTINCT o_custkey) AS BIGINT) AS n_cust
      |FROM orders
      |GROUP BY o_orderpriority
      |ORDER BY o_orderpriority""".stripMargin)

  query("agg_bitmap_overlap") { (s, dir) =>
    // Exact audience overlap — |A ∩ B| for customers ordering in
    // 1995 vs 1996 — via inclusion–exclusion over MERGEABLE bitmaps:
    // per-cohort popcounts plus |A ∪ B| from bitmap_or_agg over the
    // per-(cohort, bucket) cells, then n_a + n_b − n_union. Every
    // stage carries bounded 4 KB bitmaps, never id lists, and the
    // union is re-aggregation-idempotent — the audience-overlap
    // question a segment store answers at 100 TB without ever
    // materializing either id set. The oracle is the definitional
    // three COUNT(DISTINCT)s.
    val base = t(s, dir, "orders")
      .filter(year(col("o_orderdate")).isin(1995, 1996))
      .select(year(col("o_orderdate")).as("yr"), col("o_custkey"))
    // typed BitmapAgg for both construct (LONG positions) and union
    // (BINARY bitmaps): the builtins plan as SortAggregate (see
    // `agg_bitmap_distinct` / BitmapAgg scaladoc)
    val cells = base
      .groupBy(col("yr"),
        expr("bitmap_bucket_number(o_custkey)").as("_bucket"))
      .agg(graft.functions.BitmapAgg
        .bitmap_agg(expr("bitmap_bit_position(o_custkey)"), 32768)
        .as("_bm"))
      .materialized() // feeds per-cohort counts AND the union
    val perYear = cells.groupBy("yr")
      .agg(sum(expr("bitmap_count(_bm)")).as("n"))
    val union = cells.groupBy("_bucket")
      .agg(graft.functions.BitmapAgg.bitmap_agg(col("_bm"), 32768)
        .as("_u"))
      .agg(sum(expr("bitmap_count(_u)")).as("n_union"))
    // conditional sums, not filters: an EMPTY cohort must yield a
    // zeros row (the oracle's scalar COUNT(DISTINCT)s always produce
    // one row), never an empty cross join
    val ab = perYear.agg(
      coalesce(sum(when(col("yr") === 1995, col("n"))), lit(0L))
        .as("n_a"),
      coalesce(sum(when(col("yr") === 1996, col("n"))), lit(0L))
        .as("n_b"))
    ab.crossJoin(union) // two 1-row frames
      .select(col("n_a"), col("n_b"),
        coalesce(col("n_union"), lit(0L)).as("n_union"),
        (col("n_a") + col("n_b") -
          coalesce(col("n_union"), lit(0L))).as("n_overlap"))
  }.oracle(
    // definitional: three COUNT(DISTINCT)s and the same
    // inclusion–exclusion — a green row proves the bitmap union
    // neither loses nor double-counts across cohorts
    """WITH a AS (SELECT count(DISTINCT o_custkey) AS n_a FROM orders
      |           WHERE year(o_orderdate) = 1995),
      |b AS (SELECT count(DISTINCT o_custkey) AS n_b FROM orders
      |      WHERE year(o_orderdate) = 1996),
      |u AS (SELECT count(DISTINCT o_custkey) AS n_union FROM orders
      |      WHERE year(o_orderdate) IN (1995, 1996))
      |SELECT CAST(n_a AS BIGINT) AS n_a, CAST(n_b AS BIGINT) AS n_b,
      |  CAST(n_union AS BIGINT) AS n_union,
      |  CAST(n_a + n_b - n_union AS BIGINT) AS n_overlap
      |FROM a, b, u""".stripMargin)

  query("agg_skew_kurtosis") { (s, dir) =>
    // Population skewness + excess kurtosis per nation over acctbal
    // cents — exact integer power sums (S3/S4 in DECIMAL(38)/HUGEINT),
    // one identically-shaped float polynomial at the end, so the
    // doubles hash-match across engines (see Profile.skewKurtExact;
    // native skewness()/kurtosis() can't — DuckDB ships the sample-
    // corrected versions and both accumulate floats in scan order).
    graft.operators.Profile.skewKurtExact(
      t(s, dir, "customer"), "c_nationkey",
      round(col("c_acctbal") * 100))
      .orderBy("c_nationkey")
  }.oracle(
    // the float staging is textually identical to the Spark side
    // (Profile.skewKurtExact): same association, same literals —
    // that's what makes the output doubles bit-equal
    """WITH b AS (
      |  SELECT c_nationkey AS g,
      |         CAST(round(c_acctbal * 100) AS BIGINT) AS v
      |  FROM customer),
      |a AS (
      |  SELECT g, CAST(count(*) AS BIGINT) AS n,
      |         CAST(sum(v) AS BIGINT) AS s1,
      |         CAST(sum(v * v) AS BIGINT) AS s2,
      |         sum(CAST(v AS HUGEINT) * v * v) AS s3,
      |         sum((CAST(v AS HUGEINT) * v) * (CAST(v AS HUGEINT) * v))
      |           AS s4
      |  FROM b GROUP BY g),
      |c AS (
      |  SELECT *, CAST(n AS DOUBLE) AS nd, CAST(s1 AS DOUBLE) AS d1,
      |         CAST(s2 AS DOUBLE) AS d2, CAST(s3 AS DOUBLE) AS d3,
      |         CAST(s4 AS DOUBLE) AS d4
      |  FROM a),
      |d AS (
      |  SELECT *, d1 / nd AS mean, d2 / nd AS a2, d3 / nd AS a3,
      |         d4 / nd AS a4
      |  FROM c),
      |e AS (
      |  SELECT *, a2 - mean * mean AS m2,
      |         a3 - 3e0 * mean * a2 + 2e0 * mean * mean * mean AS m3,
      |         a4 - 4e0 * mean * a3 + 6e0 * mean * mean * a2
      |           - 3e0 * mean * mean * mean * mean AS m4
      |  FROM d)
      |SELECT g AS c_nationkey, n,
      |  CASE WHEN m2 > 0 THEN m3 / (m2 * sqrt(m2)) END AS skew,
      |  CASE WHEN m2 > 0 THEN m4 / (m2 * m2) - 3e0 END AS kurt
      |FROM e ORDER BY c_nationkey""".stripMargin)

  query("events_ohlc") { (s, dir) =>
    // Hourly OHLC bars per event type — the time-series rollup shape
    // (open/close pinned to the earliest/latest (ts, event_id), so ties
    // are impossible: event_id is unique). ONE map-side-combined
    // aggregate: open/close are struct-min/max argmax over the group,
    // not a window sort — no per-row window exchange, the shuffle
    // carries one row per (hour, type) group.
    t(s, dir, "events")
      .select(date_trunc("hour", col("ts")).as("hour"), col("event_type"),
        col("ts"), col("event_id"),
        round(col("value") * 1e6).cast("long").as("v"))
      .groupBy("hour", "event_type")
      .agg(count(lit(1)).as("n_events"),
        min(struct(col("ts"), col("event_id"), col("v")))
          .getField("v").as("open_micros"),
        max(struct(col("ts"), col("event_id"), col("v")))
          .getField("v").as("close_micros"),
        min(col("v")).as("low_micros"),
        max(col("v")).as("high_micros"))
      .orderBy("hour", "event_type")
  }.oracle(
    """WITH e AS (
      |  SELECT date_trunc('hour', ts) AS hour, event_type, ts,
      |         event_id, CAST(round(value * 1e6) AS BIGINT) AS v
      |  FROM events),
      |r AS (
      |  SELECT *,
      |    row_number() OVER (PARTITION BY hour, event_type
      |      ORDER BY ts, event_id) AS rk_a,
      |    row_number() OVER (PARTITION BY hour, event_type
      |      ORDER BY ts DESC, event_id DESC) AS rk_d
      |  FROM e),
      |a AS (
      |  SELECT hour, event_type, CAST(count(*) AS BIGINT) AS n_events,
      |         CAST(min(v) AS BIGINT) AS low_micros,
      |         CAST(max(v) AS BIGINT) AS high_micros
      |  FROM e GROUP BY 1, 2)
      |SELECT a.hour, a.event_type, a.n_events,
      |       o.v AS open_micros, c.v AS close_micros,
      |       a.low_micros, a.high_micros
      |FROM a
      |JOIN r o ON o.hour = a.hour AND o.event_type = a.event_type
      |        AND o.rk_a = 1
      |JOIN r c ON c.hour = a.hour AND c.event_type = a.event_type
      |        AND c.rk_d = 1
      |ORDER BY a.hour, a.event_type""".stripMargin)

  query("assoc_rules") { (s, dir) =>
    // Market-basket association rules: orders are baskets, parts are
    // items. A-Priori downward-closure prune (frequent items BEFORE
    // pair generation), within-basket self-join pair counts, both rule
    // orientations with exact floor-micro confidence/lift. See
    // operators/Association.scala for the 100 TB design notes.
    val li = t(s, dir, "lineitem")
      .select(col("l_orderkey"), col("l_partkey"))
    // one materialized basket-sets fold feeds pair mining AND the
    // basket count — without it the 600k-row scan re-runs once per
    // dataflow branch (5x at sf0.1)
    val sets = graft.operators.Association.basketSets(
      li, "l_orderkey", "l_partkey")
    val pairs = graft.operators.Association.frequentPairsFused(
      sets, itemMinSupport = 5L, pairMinSupport = 2L)
    val nBaskets = sets.agg(count(lit(1)).as("n_baskets"))
    graft.operators.Association.rules(pairs, nBaskets)
      .orderBy("antecedent", "consequent")
  }.oracle(assocOracleSql)

  query("checks_constraints") { (s, dir) =>
    // Declarative data-quality gate (the Deequ / Great-Expectations
    // shape): the check list is DATA, compiled into as few passes as
    // the mix allows — every row-level check shares ONE conditional-sum
    // aggregate over one scan, uniqueness adds a distinct-count,
    // referential integrity an anti-join. All metrics are exact BIGINT
    // violation counts, so the report is oracle-reproducible.
    import graft.operators.Checks._
    val orders = t(s, dir, "orders")
    run(orders, Seq(
      NotNull("o_orderdate"),
      InRange("o_totalprice", 0.0, 400000.0),
      Satisfies("status_known",
        col("o_orderstatus").isin("O", "F", "P")),
      Unique(Seq("o_orderkey")),
      ForeignKey("o_custkey", t(s, dir, "customer"), "c_custkey")))
      .select(col("check").as("check_name"), col("n_rows"),
        col("violations"), col("passed"))
      .orderBy("check_name")
  }.oracle(
    // One branch per declared check — the naive per-check formulation
    // the engine's one-scan shared aggregate must reproduce exactly.
    """SELECT check_name, n_rows, violations,
      |  violations = 0 AS passed
      |FROM (
      |  SELECT 'not_null(o_orderdate)' AS check_name,
      |    count(*) AS n_rows,
      |    CAST(coalesce(sum(CASE WHEN o_orderdate IS NULL
      |      THEN 1 ELSE 0 END), 0) AS BIGINT) AS violations
      |  FROM orders
      |  UNION ALL
      |  SELECT 'in_range(o_totalprice,0.0,400000.0)', count(*),
      |    CAST(coalesce(sum(CASE WHEN o_totalprice IS NULL
      |      OR o_totalprice < 0.0 OR o_totalprice > 400000.0
      |      THEN 1 ELSE 0 END), 0) AS BIGINT)
      |  FROM orders
      |  UNION ALL
      |  SELECT 'satisfies(status_known)', count(*),
      |    CAST(coalesce(sum(CASE WHEN coalesce(
      |      o_orderstatus IN ('O', 'F', 'P'), FALSE)
      |      THEN 0 ELSE 1 END), 0) AS BIGINT)
      |  FROM orders
      |  UNION ALL
      |  SELECT 'unique(o_orderkey)', count(*),
      |    count(*) - count(DISTINCT o_orderkey)
      |  FROM orders
      |  UNION ALL
      |  SELECT 'foreign_key(o_custkey)',
      |    (SELECT count(*) FROM orders),
      |    (SELECT count(*) FROM orders
      |     WHERE o_custkey IS NOT NULL
      |       AND o_custkey NOT IN (SELECT c_custkey FROM customer))
      |)
      |ORDER BY check_name""".stripMargin)
}
