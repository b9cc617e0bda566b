package graft
package catalog

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.sources.Tables
import graft.operators.BloomJoin
import Shared._

/** The SQL-breadth family: aggregates, windows, set operations, join
  * kinds and scalar, string, JSON and collection functions the
  * reference lacks, plus the custom operators planned as joins (as-of,
  * interval, Bloom prefilter, salted skew, geo radius, skyline). */
object SqlQueries extends Family {

  query("agg_q1") { (s, dir) =>
    // TPC-H Q1 shape: map-side partial agg → exchange on the group keys →
    // final agg; integer-cents sums keep it deterministic vs the oracle.
    t(s, dir, "lineitem")
      .filter(col("l_shipdate") <= lit("1998-09-02"))
      .groupBy("l_returnflag", "l_linestatus")
      .agg(
        sum("l_quantity").as("sum_qty"),
        centsSum(col("l_extendedprice")).as("sum_base_price"),
        microsSum(col("l_extendedprice") * (lit(1) - col("l_discount")))
          .as("sum_disc_price"),
        count(lit(1)).as("count_order"))
      .orderBy("l_returnflag", "l_linestatus")
  }.oracle(
    """SELECT l_returnflag, l_linestatus,
      |  sum(l_quantity) AS sum_qty,
      |  CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT))
      |       AS BIGINT) / 100.0 AS sum_base_price,
      |  CAST(sum(CAST(round(l_extendedprice * (1 - l_discount) * 1e6)
      |                AS BIGINT)) AS BIGINT) / 1e6 AS sum_disc_price,
      |  count(*) AS count_order
      |FROM lineitem
      |WHERE l_shipdate <= TIMESTAMP '1998-09-02'
      |GROUP BY l_returnflag, l_linestatus
      |ORDER BY l_returnflag, l_linestatus""".stripMargin)

  query("agg_distinct") { (s, dir) =>
    t(s, dir, "orders")
      .groupBy("o_orderpriority")
      .agg(
        countDistinct("o_custkey").as("n_customers"),
        count(lit(1)).as("n_orders"))
      .orderBy("o_orderpriority")
  }.oracle(
    """SELECT o_orderpriority,
      |  CAST(count(DISTINCT o_custkey) AS BIGINT) AS n_customers,
      |  count(*) AS n_orders
      |FROM orders GROUP BY o_orderpriority
      |ORDER BY o_orderpriority""".stripMargin)

  query("agg_having") { (s, dir) =>
    t(s, dir, "orders")
      .groupBy("o_custkey")
      .agg(count(lit(1)).as("n_orders"),
        centsSum(col("o_totalprice")).as("spend"))
      .filter(col("n_orders") >= 3)
      .orderBy("o_custkey")
  }.oracle(
    """SELECT o_custkey, count(*) AS n_orders,
      |  CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
      |    / 100.0 AS spend
      |FROM orders GROUP BY o_custkey
      |HAVING count(*) >= 3
      |ORDER BY o_custkey""".stripMargin)

  query("agg_rollup") { (s, dir) =>
    Tables.register(s, dir)
    s.sql(
      """SELECT /*+ BROADCAST(n) */ n_name, c_mktsegment,
        |  count(*) AS n_cust,
        |  sum(CAST(round(c_acctbal * 100) AS BIGINT)) / 100.0D AS balance
        |FROM customer c JOIN nation n ON c_nationkey = n_nationkey
        |GROUP BY ROLLUP(n_name, c_mktsegment)
        |ORDER BY n_name ASC NULLS FIRST, c_mktsegment ASC NULLS FIRST
        |""".stripMargin)
  }.oracle(
    """SELECT n.n_name, c.c_mktsegment, count(*) AS n_cust,
      |  CAST(sum(CAST(round(c.c_acctbal * 100) AS BIGINT)) AS BIGINT)
      |    / 100.0 AS balance
      |FROM customer c JOIN nation n ON c.c_nationkey = n.n_nationkey
      |GROUP BY ROLLUP(n.n_name, c.c_mktsegment)
      |ORDER BY n.n_name NULLS FIRST, c.c_mktsegment NULLS FIRST""".stripMargin)

  query("window_rank") { (s, dir) =>
    // Ranking window: top-3 orders per customer by price; rank ties are
    // impossible to break nondeterministically because the full ORDER BY
    // key (o_totalprice desc, o_orderkey) is unique.
    val w = Window.partitionBy("o_custkey")
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
    t(s, dir, "orders")
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= 3)
      .select("o_custkey", "o_orderkey", "o_totalprice", "rk")
      .orderBy("o_custkey", "rk")
  }.oracle(
    """SELECT o_custkey, o_orderkey, o_totalprice, rk FROM (
      |  SELECT o_custkey, o_orderkey, o_totalprice,
      |    CAST(row_number() OVER (PARTITION BY o_custkey
      |      ORDER BY o_totalprice DESC, o_orderkey) AS INTEGER) AS rk
      |  FROM orders) x
      |WHERE rk <= 3
      |ORDER BY o_custkey, rk""".stripMargin)

  query("window_running") { (s, dir) =>
    // Running aggregate over an ordered frame (rows-based so ties can't
    // change the sum; cents-exact).
    val w = Window.partitionBy("o_custkey")
      .orderBy(col("o_orderdate"), col("o_orderkey"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    t(s, dir, "orders")
      .withColumn("running_spend",
        sum(round(col("o_totalprice") * 100).cast("long")).over(w) / 100.0)
      .select("o_custkey", "o_orderkey", "o_orderdate", "running_spend")
      .orderBy("o_custkey", "o_orderkey")
  }.oracle(
    """SELECT o_custkey, o_orderkey, o_orderdate,
      |  CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT))
      |    OVER (PARTITION BY o_custkey
      |          ORDER BY o_orderdate, o_orderkey
      |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
      |    AS BIGINT) / 100.0 AS running_spend
      |FROM orders
      |ORDER BY o_custkey, o_orderkey""".stripMargin)

  query("sort_limit_topk") { (s, dir) =>
    // ORDER BY + LIMIT → TakeOrderedAndProject: the scalable top-k (per-
    // partition heaps, no global sort).
    t(s, dir, "orders")
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      .select("o_orderkey", "o_custkey", "o_totalprice")
      .limit(100)
  }.oracle(
    """SELECT o_orderkey, o_custkey, o_totalprice FROM orders
      |ORDER BY o_totalprice DESC, o_orderkey LIMIT 100""".stripMargin)

  query("setop_intersect") { (s, dir) =>
    val o = t(s, dir, "orders")
    o.filter(col("o_orderstatus") === "F").select("o_custkey")
      .intersect(
        o.filter(col("o_totalprice") > 300000).select("o_custkey"))
      .orderBy("o_custkey")
  }.oracle(
    """SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'
      |INTERSECT
      |SELECT o_custkey FROM orders WHERE o_totalprice > 300000
      |ORDER BY o_custkey""".stripMargin)

  query("setop_except") { (s, dir) =>
    val c = t(s, dir, "customer")
    val o = t(s, dir, "orders")
    c.select(col("c_custkey")).except(
      o.select(col("o_custkey").as("c_custkey")))
      .orderBy("c_custkey")
  }.oracle(
    """SELECT c_custkey FROM customer
      |EXCEPT
      |SELECT o_custkey AS c_custkey FROM orders
      |ORDER BY c_custkey""".stripMargin)

  query("join_outer_left") { (s, dir) =>
    // Left outer join + null handling of the unmatched side.
    val c = t(s, dir, "customer")
    val agg = t(s, dir, "orders").groupBy("o_custkey")
      .agg(count(lit(1)).as("n_orders"))
    c.join(agg, c("c_custkey") === agg("o_custkey"), "left")
      .select(c("c_custkey"), c("c_name"),
        coalesce(col("n_orders"), lit(0L)).as("n_orders"))
      .orderBy("c_custkey")
  }.oracle(
    """SELECT c.c_custkey, c.c_name,
      |  CAST(coalesce(x.n_orders, 0) AS BIGINT) AS n_orders
      |FROM customer c LEFT JOIN
      |  (SELECT o_custkey, count(*) AS n_orders FROM orders
      |   GROUP BY o_custkey) x
      |  ON c.c_custkey = x.o_custkey
      |ORDER BY c.c_custkey""".stripMargin)

  query("join_semi") { (s, dir) =>
    // EXISTS as left-semi join: no payload columns from the right side,
    // no row multiplication — the scalable form of a filtering join.
    val c = t(s, dir, "customer")
    val big = t(s, dir, "orders").filter(col("o_totalprice") > 400000)
    c.join(big, c("c_custkey") === big("o_custkey"), "left_semi")
      .select("c_custkey", "c_name")
      .orderBy("c_custkey")
  }.oracle(
    """SELECT c_custkey, c_name FROM customer c
      |WHERE EXISTS (SELECT 1 FROM orders o
      |  WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 400000)
      |ORDER BY c_custkey""".stripMargin)

  query("join_anti") { (s, dir) =>
    val c = t(s, dir, "customer")
    val o = t(s, dir, "orders")
    c.join(o, c("c_custkey") === o("o_custkey"), "left_anti")
      .select("c_custkey", "c_name")
      .orderBy("c_custkey")
  }.oracle(
    """SELECT c_custkey, c_name FROM customer c
      |WHERE NOT EXISTS (SELECT 1 FROM orders o
      |  WHERE o.o_custkey = c.c_custkey)
      |ORDER BY c_custkey""".stripMargin)

  query("scalar_funcs") { (s, dir) =>
    // Scalar string/date/math function coverage (ref has zero scalar
    // functions, SURVEY.md §2.7) — oracle casts match Spark's types.
    t(s, dir, "orders")
      .filter(col("o_orderkey") <= 2000)
      .select(
        col("o_orderkey"),
        upper(col("o_orderpriority")).as("prio_upper"),
        substring(col("o_orderstatus"), 1, 1).as("status1"),
        concat_ws("-", col("o_orderstatus"), col("o_orderpriority"))
          .as("status_prio"),
        length(col("o_orderpriority")).cast("int").as("prio_len"),
        year(col("o_orderdate")).as("o_year"),
        month(col("o_orderdate")).as("o_month"),
        dayofmonth(col("o_orderdate")).as("o_day"),
        // NOTE: round(x, n) with n>0 on computed doubles is engine-
        // divergent (Spark rounds the shortest decimal repr half-up,
        // DuckDB rounds the binary value); integer-scale round is safe
        // because the .5 boundary is exactly representable.
        round(col("o_totalprice") / 1000).as("price_k"),
        pow(col("o_orderkey") % 10, 2).as("key_sq"),
        abs(col("o_totalprice") * -1).as("abs_price"))
      .orderBy("o_orderkey")
  }.oracle(
    """SELECT o_orderkey,
      |  upper(o_orderpriority) AS prio_upper,
      |  substr(o_orderstatus, 1, 1) AS status1,
      |  concat_ws('-', o_orderstatus, o_orderpriority) AS status_prio,
      |  CAST(length(o_orderpriority) AS INTEGER) AS prio_len,
      |  CAST(year(o_orderdate) AS INTEGER) AS o_year,
      |  CAST(month(o_orderdate) AS INTEGER) AS o_month,
      |  CAST(day(o_orderdate) AS INTEGER) AS o_day,
      |  round(o_totalprice / 1000) AS price_k,
      |  pow(o_orderkey % 10, 2) AS key_sq,
      |  abs(o_totalprice * -1) AS abs_price
      |FROM orders WHERE o_orderkey <= 2000
      |ORDER BY o_orderkey""".stripMargin)

  query("case_null") { (s, dir) =>
    t(s, dir, "customer")
      .select(
        col("c_custkey"),
        when(col("c_acctbal") < 0, "overdrawn")
          .when(col("c_acctbal") < 5000, "standard")
          .otherwise("premium").as("tier"),
        when(col("c_acctbal") < 0, lit(null).cast("double"))
          .otherwise(col("c_acctbal")).as("pos_bal"),
        coalesce(
          when(col("c_acctbal") < 0, lit(null).cast("double"))
            .otherwise(col("c_acctbal")),
          lit(0.0)).as("bal_or_zero"))
      .orderBy("c_custkey")
  }.oracle(
    """SELECT c_custkey,
      |  CASE WHEN c_acctbal < 0 THEN 'overdrawn'
      |       WHEN c_acctbal < 5000 THEN 'standard'
      |       ELSE 'premium' END AS tier,
      |  CASE WHEN c_acctbal < 0 THEN NULL ELSE c_acctbal END
      |    AS pos_bal,
      |  coalesce(CASE WHEN c_acctbal < 0 THEN NULL ELSE c_acctbal END,
      |           0.0) AS bal_or_zero
      |FROM customer ORDER BY c_custkey""".stripMargin)

  query("subquery_in") { (s, dir) =>
    Tables.register(s, dir)
    s.sql(
      """SELECT o_orderkey, o_custkey, o_totalprice FROM orders
        |WHERE o_custkey IN
        |  (SELECT c_custkey FROM customer WHERE c_acctbal > 9000)
        |ORDER BY o_orderkey""".stripMargin)
  }.oracle(
    """SELECT o_orderkey, o_custkey, o_totalprice FROM orders
      |WHERE o_custkey IN
      |  (SELECT c_custkey FROM customer WHERE c_acctbal > 9000)
      |ORDER BY o_orderkey""".stripMargin)

  query("subquery_exists") { (s, dir) =>
    Tables.register(s, dir)
    s.sql(
      """SELECT c_custkey, c_name FROM customer c
        |WHERE EXISTS (SELECT 1 FROM orders o
        |              WHERE o.o_custkey = c.c_custkey
        |                AND o.o_totalprice > 400000)
        |  AND NOT EXISTS (SELECT 1 FROM orders o2
        |                  WHERE o2.o_custkey = c.c_custkey
        |                    AND o2.o_orderstatus = 'F')
        |ORDER BY c_custkey""".stripMargin)
  }.oracle(
    """SELECT c_custkey, c_name FROM customer c
      |WHERE EXISTS (SELECT 1 FROM orders o
      |              WHERE o.o_custkey = c.c_custkey
      |                AND o.o_totalprice > 400000)
      |  AND NOT EXISTS (SELECT 1 FROM orders o2
      |                  WHERE o2.o_custkey = c.c_custkey
      |                    AND o2.o_orderstatus = 'F')
      |ORDER BY c_custkey""".stripMargin)

  query("agg_cube") { (s, dir) =>
    Tables.register(s, dir)
    s.sql(
      """SELECT o_orderstatus, o_orderpriority, count(*) AS n,
        |  sum(CAST(round(o_totalprice * 100) AS BIGINT)) / 100.0D AS spend
        |FROM orders
        |GROUP BY CUBE(o_orderstatus, o_orderpriority)
        |ORDER BY o_orderstatus ASC NULLS FIRST,
        |  o_orderpriority ASC NULLS FIRST""".stripMargin)
  }.oracle(
    // SQL breadth, batch 2 oracles
    """SELECT o_orderstatus, o_orderpriority, count(*) AS n,
      |  CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
      |    / 100.0 AS spend
      |FROM orders
      |GROUP BY CUBE(o_orderstatus, o_orderpriority)
      |ORDER BY o_orderstatus NULLS FIRST,
      |  o_orderpriority NULLS FIRST""".stripMargin)

  query("agg_grouping_sets") { (s, dir) =>
    Tables.register(s, dir)
    s.sql(
      """SELECT o_orderstatus, o_orderpriority, count(*) AS n
        |FROM orders
        |GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
        |ORDER BY o_orderstatus ASC NULLS FIRST,
        |  o_orderpriority ASC NULLS FIRST""".stripMargin)
  }.oracle(
    """SELECT o_orderstatus, o_orderpriority, count(*) AS n
      |FROM orders
      |GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
      |ORDER BY o_orderstatus NULLS FIRST,
      |  o_orderpriority NULLS FIRST""".stripMargin)

  query("agg_minmax") { (s, dir) =>
    // min/max of raw doubles are exact copies of input values — safe to
    // oracle-compare unrounded (unlike float sums/avgs).
    t(s, dir, "lineitem")
      .groupBy("l_returnflag")
      .agg(
        min("l_extendedprice").as("min_price"),
        max("l_extendedprice").as("max_price"),
        min("l_shipdate").as("first_ship"),
        max("l_shipdate").as("last_ship"))
      .orderBy("l_returnflag")
  }.oracle(
    """SELECT l_returnflag,
      |  min(l_extendedprice) AS min_price,
      |  max(l_extendedprice) AS max_price,
      |  min(l_shipdate) AS first_ship,
      |  max(l_shipdate) AS last_ship
      |FROM lineitem GROUP BY l_returnflag
      |ORDER BY l_returnflag""".stripMargin)

  query("agg_approx_distinct") { (s, dir) =>
    // HLL sketch — the 100 TB path for distinct counts (bounded memory,
    // mergeable partials). The raw estimate is engine-specific, so the
    // ORACLE-FACING columns are the exact count plus `within_bound`:
    // |approx − exact| ≤ 15%·exact (3σ at the default 5% rsd — HLL++
    // typically lands within 2%). The oracle asserts TRUE, turning the
    // sketch's error envelope into a hash-checkable fact instead of a
    // rows-only row count.
    t(s, dir, "lineitem")
      .groupBy("l_returnflag")
      .agg(
        approx_count_distinct("l_orderkey").as("approx_orders"),
        countDistinct("l_orderkey").as("exact_orders"))
      .select(col("l_returnflag"), col("exact_orders"),
        (abs(col("approx_orders") - col("exact_orders")) <=
          col("exact_orders") * 0.15).as("within_bound"))
      .orderBy("l_returnflag")
  }.oracle(
    // The two sketch oracles assert the ERROR ENVELOPE: the engine
    // computes within_bound from its sketch vs the exact value; the
    // oracle recomputes the exact value and pins within_bound = TRUE.
    // A sketch regression (or a broken merge) flips the boolean and
    // fails the hash.
    """SELECT l_returnflag,
      |  CAST(count(DISTINCT l_orderkey) AS BIGINT) AS exact_orders,
      |  TRUE AS within_bound
      |FROM lineitem GROUP BY l_returnflag
      |ORDER BY l_returnflag""".stripMargin)

  query("agg_percentiles") { (s, dir) =>
    // EXACT percentiles (sort-based): both engines use the same linear
    // interpolation at rank (n-1)*p over identical input doubles, so
    // the outputs are engine-exact. The sketch-based scale path is
    // agg_approx_quantile.
    t(s, dir, "orders")
      .groupBy("o_orderstatus")
      .agg(
        expr("percentile(o_totalprice, 0.25)").as("p25"),
        expr("percentile(o_totalprice, 0.5)").as("median"),
        expr("percentile(o_totalprice, 0.75)").as("p75"),
        expr("percentile(o_totalprice, 0.95)").as("p95"))
      .orderBy("o_orderstatus")
  }.oracle(
    """SELECT o_orderstatus,
      |  quantile_cont(o_totalprice, 0.25) AS p25,
      |  quantile_cont(o_totalprice, 0.5) AS median,
      |  quantile_cont(o_totalprice, 0.75) AS p75,
      |  quantile_cont(o_totalprice, 0.95) AS p95
      |FROM orders GROUP BY o_orderstatus
      |ORDER BY o_orderstatus""".stripMargin)

  query("agg_approx_quantile") { (s, dir) =>
    // Quantile SKETCH (mergeable, bounded memory — the 100 TB path;
    // like HLL for distinct counts). accuracy=1000 guarantees the
    // returned value's RANK is within ±n/1000 of the target, i.e. the
    // value lies between the exact 0.499/0.501 percentiles; the
    // oracle-facing `within_bound` checks the 10×-margin [p49, p51]
    // bracket, so the sketch's guarantee is hash-checked while the
    // engine-specific estimate itself stays out of the compared
    // columns.
    t(s, dir, "orders")
      .groupBy("o_orderstatus")
      .agg(
        expr("approx_percentile(o_totalprice, 0.5, 1000)")
          .as("approx_median"),
        expr("percentile(o_totalprice, 0.5)").as("exact_median"),
        expr("percentile(o_totalprice, 0.49)").as("lo"),
        expr("percentile(o_totalprice, 0.51)").as("hi"))
      .select(col("o_orderstatus"), col("exact_median"),
        (col("approx_median") >= col("lo") &&
          col("approx_median") <= col("hi")).as("within_bound"))
      .orderBy("o_orderstatus")
  }.oracle(
    """SELECT o_orderstatus,
      |  quantile_cont(o_totalprice, 0.5) AS exact_median,
      |  TRUE AS within_bound
      |FROM orders GROUP BY o_orderstatus
      |ORDER BY o_orderstatus""".stripMargin)

  query("window_lead_lag") { (s, dir) =>
    val w = Window.partitionBy("o_custkey")
      .orderBy(col("o_orderdate"), col("o_orderkey"))
    t(s, dir, "orders")
      .select(col("o_custkey"), col("o_orderkey"), col("o_orderdate"),
        lag("o_totalprice", 1).over(w).as("prev_price"),
        lead("o_totalprice", 1).over(w).as("next_price"),
        dense_rank().over(w).as("drk"),
        ntile(4).over(w).as("quartile"))
      .orderBy("o_custkey", "o_orderkey")
  }.oracle(
    """SELECT o_custkey, o_orderkey, o_orderdate,
      |  lag(o_totalprice, 1) OVER w AS prev_price,
      |  lead(o_totalprice, 1) OVER w AS next_price,
      |  CAST(dense_rank() OVER w AS INTEGER) AS drk,
      |  CAST(ntile(4) OVER w AS INTEGER) AS quartile
      |FROM orders
      |WINDOW w AS (PARTITION BY o_custkey
      |             ORDER BY o_orderdate, o_orderkey)
      |ORDER BY o_custkey, o_orderkey""".stripMargin)

  query("window_first_last") { (s, dir) =>
    // Frame-navigation window functions over a unique total order;
    // last_value needs the full-partition frame (default frame stops at
    // CURRENT ROW — a classic correctness trap, made explicit here).
    val w = Window.partitionBy("o_custkey")
      .orderBy(col("o_orderdate"), col("o_orderkey"))
    val wFull = w.rowsBetween(
      Window.unboundedPreceding, Window.unboundedFollowing)
    t(s, dir, "orders")
      .select(col("o_custkey"), col("o_orderkey"),
        first("o_orderkey").over(w).as("first_order"),
        last("o_orderkey").over(wFull).as("last_order"),
        nth_value(col("o_orderkey"), 2).over(wFull).as("second_order"))
      .orderBy("o_custkey", "o_orderkey")
  }.oracle(
    """SELECT o_custkey, o_orderkey,
      |  first_value(o_orderkey) OVER w AS first_order,
      |  last_value(o_orderkey) OVER wf AS last_order,
      |  nth_value(o_orderkey, 2) OVER wf AS second_order
      |FROM orders
      |WINDOW w AS (PARTITION BY o_custkey
      |             ORDER BY o_orderdate, o_orderkey),
      |  wf AS (PARTITION BY o_custkey
      |         ORDER BY o_orderdate, o_orderkey
      |         ROWS BETWEEN UNBOUNDED PRECEDING
      |           AND UNBOUNDED FOLLOWING)
      |ORDER BY o_custkey, o_orderkey""".stripMargin)

  query("agg_listagg") { (s, dir) =>
    // Ordered string aggregation: deterministic because the intra-group
    // order is total (priority strings are distinct per group by
    // construction of the distinct pre-aggregate).
    t(s, dir, "orders")
      .select("o_orderstatus", "o_orderpriority").distinct()
      .groupBy("o_orderstatus")
      .agg(expr(
        "listagg(o_orderpriority, ',') WITHIN GROUP (ORDER BY o_orderpriority)")
        .as("priorities"))
      .orderBy("o_orderstatus")
  }.oracle(
    """SELECT o_orderstatus,
      |  string_agg(o_orderpriority, ','
      |             ORDER BY o_orderpriority) AS priorities
      |FROM (SELECT DISTINCT o_orderstatus, o_orderpriority FROM orders)
      |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin)

  query("window_range_frame") { (s, dir) =>
    // 30-day trailing spend per customer: range frame over integer epoch
    // seconds (identical semantics in the oracle's RANGE BETWEEN).
    val w = Window.partitionBy("o_custkey")
      .orderBy(col("o_epoch"))
      .rangeBetween(-2592000L, 0L)
    t(s, dir, "orders")
      .withColumn("o_epoch", unix_timestamp(col("o_orderdate")))
      .withColumn("spend_30d",
        sum(round(col("o_totalprice") * 100).cast("long")).over(w) / 100.0)
      .select("o_custkey", "o_orderkey", "o_epoch", "spend_30d")
      .orderBy("o_custkey", "o_orderkey")
  }.oracle(
    """SELECT o_custkey, o_orderkey,
      |  CAST(epoch(o_orderdate) AS BIGINT) AS o_epoch,
      |  CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) OVER
      |    (PARTITION BY o_custkey ORDER BY CAST(epoch(o_orderdate) AS BIGINT)
      |     RANGE BETWEEN 2592000 PRECEDING AND CURRENT ROW)
      |    AS BIGINT) / 100.0 AS spend_30d
      |FROM orders
      |ORDER BY o_custkey, o_orderkey""".stripMargin)

  query("string_funcs") { (s, dir) =>
    t(s, dir, "customer")
      .filter(col("c_name").like("%1%"))
      .select(
        col("c_custkey"),
        regexp_extract(col("c_name"), "(\\d+)", 1).as("name_digits"),
        translate(col("c_name"), "#", "-").as("name_dash"),
        lpad(col("c_custkey").cast("string"), 8, "0").as("key_padded"),
        trim(lit("  x  ")).as("trimmed"),
        size(split(col("c_name"), "#")).cast("int").as("name_parts"),
        instr(col("c_name"), "1").cast("int").as("pos_1"),
        reverse(col("c_name")).as("name_rev"))
      .orderBy("c_custkey")
  }.oracle(
    """SELECT c_custkey,
      |  regexp_extract(c_name, '(\d+)', 1) AS name_digits,
      |  translate(c_name, '#', '-') AS name_dash,
      |  lpad(CAST(c_custkey AS VARCHAR), 8, '0') AS key_padded,
      |  trim('  x  ') AS trimmed,
      |  CAST(len(string_split(c_name, '#')) AS INTEGER) AS name_parts,
      |  CAST(instr(c_name, '1') AS INTEGER) AS pos_1,
      |  reverse(c_name) AS name_rev
      |FROM customer WHERE c_name LIKE '%1%'
      |ORDER BY c_custkey""".stripMargin)

  query("date_funcs") { (s, dir) =>
    t(s, dir, "orders")
      .filter(col("o_orderkey") <= 2000)
      .select(
        col("o_orderkey"),
        date_trunc("month", col("o_orderdate")).as("month_start"),
        quarter(col("o_orderdate")).as("qtr"),
        (weekday(col("o_orderdate")) + 1).as("isodow"),
        dayofyear(col("o_orderdate")).as("doy"),
        unix_timestamp(col("o_orderdate")).as("epoch_s"))
      .orderBy("o_orderkey")
  }.oracle(
    """SELECT o_orderkey,
      |  date_trunc('month', o_orderdate) AS month_start,
      |  CAST(quarter(o_orderdate) AS INTEGER) AS qtr,
      |  CAST(isodow(o_orderdate) AS INTEGER) AS isodow,
      |  CAST(dayofyear(o_orderdate) AS INTEGER) AS doy,
      |  CAST(epoch(o_orderdate) AS BIGINT) AS epoch_s
      |FROM orders WHERE o_orderkey <= 2000
      |ORDER BY o_orderkey""".stripMargin)

  query("join_full_outer") { (s, dir) =>
    // full outer join of two aggregates with disjoint key ranges
    val hi = t(s, dir, "orders").filter(col("o_totalprice") > 400000)
      .groupBy("o_custkey").agg(count(lit(1)).as("n_hi"))
    val lo = t(s, dir, "orders").filter(col("o_totalprice") < 5000)
      .groupBy("o_custkey").agg(count(lit(1)).as("n_lo"))
    hi.join(lo, Seq("o_custkey"), "full_outer")
      .select(col("o_custkey"),
        coalesce(col("n_hi"), lit(0L)).as("n_hi"),
        coalesce(col("n_lo"), lit(0L)).as("n_lo"))
      .orderBy("o_custkey")
  }.oracle(
    """SELECT coalesce(hi.o_custkey, lo.o_custkey) AS o_custkey,
      |  CAST(coalesce(hi.n_hi, 0) AS BIGINT) AS n_hi,
      |  CAST(coalesce(lo.n_lo, 0) AS BIGINT) AS n_lo
      |FROM
      |  (SELECT o_custkey, count(*) AS n_hi FROM orders
      |   WHERE o_totalprice > 400000 GROUP BY o_custkey) hi
      |FULL OUTER JOIN
      |  (SELECT o_custkey, count(*) AS n_lo FROM orders
      |   WHERE o_totalprice < 5000 GROUP BY o_custkey) lo
      |  ON hi.o_custkey = lo.o_custkey
      |ORDER BY o_custkey""".stripMargin)

  query("join_cross") { (s, dir) =>
    val r = t(s, dir, "region")
    val st = t(s, dir, "orders").select("o_orderstatus").distinct()
    r.crossJoin(st)
      .select(col("r_name"), col("o_orderstatus"))
      .orderBy("r_name", "o_orderstatus")
  }.oracle(
    """SELECT r_name, o_orderstatus
      |FROM region CROSS JOIN
      |  (SELECT DISTINCT o_orderstatus FROM orders) s
      |ORDER BY r_name, o_orderstatus""".stripMargin)

  query("select_distinct") { (s, dir) =>
    t(s, dir, "orders")
      .select("o_orderstatus", "o_orderpriority").distinct()
      .orderBy("o_orderstatus", "o_orderpriority")
  }.oracle(
    """SELECT DISTINCT o_orderstatus, o_orderpriority FROM orders
      |ORDER BY o_orderstatus, o_orderpriority""".stripMargin)

  query("setop_intersect_all") { (s, dir) =>
    val o = t(s, dir, "orders")
    o.filter(col("o_orderstatus") === "F").select("o_custkey")
      .intersectAll(
        o.filter(col("o_totalprice") > 200000).select("o_custkey"))
      .orderBy("o_custkey")
  }.oracle(
    """SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'
      |INTERSECT ALL
      |SELECT o_custkey FROM orders WHERE o_totalprice > 200000
      |ORDER BY o_custkey""".stripMargin)

  query("setop_except_all") { (s, dir) =>
    val o = t(s, dir, "orders")
    o.filter(col("o_orderstatus") === "F").select("o_custkey")
      .exceptAll(
        o.filter(col("o_totalprice") > 200000).select("o_custkey"))
      .orderBy("o_custkey")
  }.oracle(
    """SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'
      |EXCEPT ALL
      |SELECT o_custkey FROM orders WHERE o_totalprice > 200000
      |ORDER BY o_custkey""".stripMargin)

  query("join_lateral") { (s, dir) =>
    // Correlated LATERAL subquery: top-2 nations per region by customer
    // count — per-row subquery with its own ORDER BY + LIMIT.
    Tables.register(s, dir)
    s.sql(
      """SELECT r.r_name, x.n_name, x.n_cust
        |FROM region r,
        |LATERAL (
        |  SELECT n.n_name, count(*) AS n_cust
        |  FROM nation n JOIN customer c ON c.c_nationkey = n.n_nationkey
        |  WHERE n.n_regionkey = r.r_regionkey
        |  GROUP BY n.n_name
        |  ORDER BY n_cust DESC, n.n_name
        |  LIMIT 2) x
        |ORDER BY r.r_name, x.n_cust DESC, x.n_name""".stripMargin)
  }.oracle(
    """SELECT r.r_name, x.n_name, x.n_cust
      |FROM region r,
      |LATERAL (
      |  SELECT n.n_name, count(*) AS n_cust
      |  FROM nation n JOIN customer c ON c.c_nationkey = n.n_nationkey
      |  WHERE n.n_regionkey = r.r_regionkey
      |  GROUP BY n.n_name
      |  ORDER BY n_cust DESC, n.n_name
      |  LIMIT 2) x
      |ORDER BY r.r_name, x.n_cust DESC, x.n_name""".stripMargin)

  query("pivot_segments") { (s, dir) =>
    val segs = Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD",
      "MACHINERY")
    val c = t(s, dir, "customer")
    val n = t(s, dir, "nation")
    c.join(broadcast(n), col("c_nationkey") === col("n_nationkey"))
      .groupBy("n_name")
      .pivot("c_mktsegment", segs)
      .agg(count(lit(1)))
      .na.fill(0L, segs)
      .orderBy("n_name")
  }.oracle(
    """SELECT n.n_name,
      |  CAST(sum(CASE WHEN c_mktsegment = 'AUTOMOBILE' THEN 1 ELSE 0 END)
      |    AS BIGINT) AS "AUTOMOBILE",
      |  CAST(sum(CASE WHEN c_mktsegment = 'BUILDING' THEN 1 ELSE 0 END)
      |    AS BIGINT) AS "BUILDING",
      |  CAST(sum(CASE WHEN c_mktsegment = 'FURNITURE' THEN 1 ELSE 0 END)
      |    AS BIGINT) AS "FURNITURE",
      |  CAST(sum(CASE WHEN c_mktsegment = 'HOUSEHOLD' THEN 1 ELSE 0 END)
      |    AS BIGINT) AS "HOUSEHOLD",
      |  CAST(sum(CASE WHEN c_mktsegment = 'MACHINERY' THEN 1 ELSE 0 END)
      |    AS BIGINT) AS "MACHINERY"
      |FROM customer c JOIN nation n ON c.c_nationkey = n.n_nationkey
      |GROUP BY n.n_name ORDER BY n.n_name""".stripMargin)

  query("scalar_subquery") { (s, dir) =>
    Tables.register(s, dir)
    s.sql(
      """SELECT o_orderkey, o_totalprice FROM orders
        |WHERE o_totalprice >
        |  (SELECT 2 * sum(CAST(round(o_totalprice * 100) AS BIGINT))
        |     / 100.0D / count(*) FROM orders)
        |ORDER BY o_orderkey""".stripMargin)
  }.oracle(
    """SELECT o_orderkey, o_totalprice FROM orders
      |WHERE o_totalprice >
      |  (SELECT 2 * CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT))
      |     AS BIGINT) / 100.0 / count(*) FROM orders)
      |ORDER BY o_orderkey""".stripMargin)

  query("sql_custom_funcs") { (s, dir) =>
    // Custom Catalyst expressions callable from SQL, injected into
    // every session by GraftExtensions.
    Tables.register(s, dir)
    s.sql(
      """SELECT d.doc_id,
        |  simhash64(split(lower(d.text), ' ')) AS sim_sig,
        |  size(shingle_hashes(d.text, 3)) AS n_shingles,
        |  cosine_sim(e.embedding, e.embedding) AS self_cos,
        |  size(tokens(d.text)) AS n_tokens,
        |  lang_id(d.text) AS lang_pred,
        |  pii_redact(d.text || ' ip 10.0.0.'
        |    || CAST(d.doc_id % 256 AS STRING)) AS redacted,
        |  dup_bigram_frac(d.text) AS dup_bi,
        |  top_token_frac(d.text) AS top_tok
        |FROM documents d JOIN embeddings e ON d.doc_id = e.vec_id
        |ORDER BY d.doc_id""".stripMargin)
  }.oracle(
    s"""WITH toks AS (
       |  SELECT doc_id, unnest(string_split(lower(text), ' ')) AS w
       |  FROM documents),
       |$simhashSigSql,
       |e2 AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS ed
       |       FROM embeddings),
       |tkq AS (
       |  SELECT doc_id, toks, list_distinct(toks) AS toksd FROM (
       |    SELECT doc_id, list_filter(string_split(
       |        trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' '),
       |        x -> len(x) > 0) AS toks
       |    FROM documents)),
       |sc AS (SELECT doc_id, toks, $langHitsSql FROM tkq),
       |rep AS (SELECT doc_id,
       |    CASE WHEN len(toks) < 2 THEN 0 ELSE len(toks) - 1 END
       |      AS n_bi,
       |    CASE WHEN len(toks) < 2 THEN 0
       |      ELSE len(list_distinct(list_transform(
       |        generate_series(1, len(toks) - 1),
       |        i -> toks[i] || ' ' || toks[i+1]))) END AS n_bid,
       |    CASE WHEN len(toks) = 0 THEN 0
       |      ELSE list_max(list_transform(toksd,
       |        t -> len(list_filter(toks, x -> x = t)))) END AS topc,
       |    len(toks) AS n_tok
       |  FROM tkq)
       |SELECT d.doc_id,
       |  coalesce(sig.sim_sig, 0) AS sim_sig,
       |  CAST(CASE WHEN len(list_filter(
       |      regexp_split_to_array(lower(d.text), '\\s'),
       |      t -> strlen(t) > 0)) >= 3
       |    THEN len(list_filter(regexp_split_to_array(lower(d.text), '\\s'),
       |      t -> strlen(t) > 0)) - 2
       |    ELSE 1 END AS INTEGER) AS n_shingles,
       |  ${cosineSql("ed", "ed")} AS self_cos,
       |  CAST(len(sc.toks) AS INTEGER) AS n_tokens,
       |  $langPredSql AS lang_pred,
       |  regexp_replace(regexp_replace(regexp_replace(
       |      d.text || ' ip 10.0.0.' || (d.doc_id % 256),
       |      '[a-z0-9._%+-]+@[a-z0-9.-]+\\.[a-z][a-z]+', '<EMAIL>', 'g'),
       |    '([0-9]{1,3}\\.){3}[0-9]{1,3}', '<IP>', 'g'),
       |    '[0-9]{3}-[0-9]{3}-[0-9]{4}', '<PHONE>', 'g') AS redacted,
       |  CASE WHEN rep.n_bi > 0
       |    THEN CAST(rep.n_bi - rep.n_bid AS DOUBLE) / rep.n_bi
       |    ELSE 0.0 END AS dup_bi,
       |  CASE WHEN rep.n_tok > 0
       |    THEN CAST(rep.topc AS DOUBLE) / rep.n_tok
       |    ELSE 0.0 END AS top_tok
       |FROM documents d
       |JOIN e2 ON d.doc_id = e2.vec_id
       |LEFT JOIN sig ON sig.doc_id = d.doc_id
       |JOIN sc ON sc.doc_id = d.doc_id
       |JOIN rep ON rep.doc_id = d.doc_id
       |ORDER BY d.doc_id""".stripMargin)

  query("join_range_pred") { (s, dir) =>
    // Non-equi band join: signups in the hour BEFORE each high-value
    // purchase (no key equality — a pure interval predicate). Executed
    // through Ranges.bandJoin: time quantized into band-width buckets,
    // left exploded into its ≤2 touchable buckets, bucket-equi hash
    // join + residual filter — the rewrite that replaces Spark's
    // broadcast nested loop, which cannot survive a large right side.
    // Outer semantics composed by re-joining counts onto the left.
    val e = Tables.load(s, dir, "events")
    val p = e.filter(col("event_type") === "purchase" && col("value") > 95)
      .select(col("event_id"), col("ts"))
    val su = e.filter(col("event_type") === "signup")
      .select(col("ts").as("s_ts"))
    val matches = graft.operators.Ranges.bandJoin(
        p, su, col("ts"), col("s_ts"), -3600L * 1000000L, 0L)
      .groupBy("event_id")
      .agg(count(lit(1)).as("n_signups_1h"))
    p.join(matches, Seq("event_id"), "left")
      .select(col("event_id"),
        coalesce(col("n_signups_1h"), lit(0L)).as("n_signups_1h"))
      .orderBy("event_id")
  }.oracle(
    """SELECT p.event_id, count(s.s_ts) AS n_signups_1h
      |FROM (SELECT event_id, ts FROM events
      |      WHERE event_type = 'purchase' AND value > 95) p
      |LEFT JOIN (SELECT ts AS s_ts FROM events
      |           WHERE event_type = 'signup') s
      |  ON s.s_ts >= p.ts - INTERVAL 1 HOUR AND s.s_ts <= p.ts
      |GROUP BY p.event_id, p.ts
      |ORDER BY p.event_id""".stripMargin)

  query("window_percentiles") { (s, dir) =>
    // Relative-rank window functions over a UNIQUE total order (ties
    // impossible ⇒ the integer-ratio outputs are engine-exact doubles).
    val w = Window.partitionBy("o_orderstatus")
      .orderBy(col("o_totalprice"), col("o_orderkey"))
    t(s, dir, "orders")
      .filter(col("o_orderkey") <= 5000)
      .select(col("o_orderkey"), col("o_orderstatus"),
        percent_rank().over(w).as("pct_rank"),
        cume_dist().over(w).as("cume"),
        ntile(10).over(w).as("decile"))
      .orderBy("o_orderkey")
  }.oracle(
    """SELECT o_orderkey, o_orderstatus,
      |  percent_rank() OVER w AS pct_rank,
      |  cume_dist() OVER w AS cume,
      |  CAST(ntile(10) OVER w AS INTEGER) AS decile
      |FROM orders
      |WHERE o_orderkey <= 5000
      |WINDOW w AS (PARTITION BY o_orderstatus
      |             ORDER BY o_totalprice, o_orderkey)
      |ORDER BY o_orderkey""".stripMargin)

  query("unpivot_metrics") { (s, dir) =>
    // Wide → long reshaping (the inverse of pivot): UNPIVOT three
    // measure columns into (metric, value) rows. The oracle re-derives
    // the SEMANTICS with a manual UNION ALL de-pivot rather than
    // DuckDB's UNPIVOT syntax — dialect-independent equivalence.
    Tables.register(s, dir)
    s.sql(
      """SELECT l_orderkey, l_linenumber, metric, value
        |FROM (SELECT l_orderkey, l_linenumber, l_quantity,
        |        l_extendedprice, l_discount
        |      FROM lineitem WHERE l_orderkey <= 200)
        |UNPIVOT (value FOR metric IN (
        |  l_quantity, l_extendedprice, l_discount))
        |ORDER BY l_orderkey, l_linenumber, metric""".stripMargin)
  }.oracle(
    """WITH w AS (SELECT l_orderkey, l_linenumber, l_quantity,
      |             l_extendedprice, l_discount
      |           FROM lineitem WHERE l_orderkey <= 200)
      |SELECT l_orderkey, l_linenumber, metric, value FROM (
      |  SELECT l_orderkey, l_linenumber, 'l_quantity' AS metric,
      |    l_quantity AS value FROM w
      |  UNION ALL
      |  SELECT l_orderkey, l_linenumber, 'l_extendedprice',
      |    l_extendedprice FROM w
      |  UNION ALL
      |  SELECT l_orderkey, l_linenumber, 'l_discount', l_discount
      |  FROM w) u
      |ORDER BY l_orderkey, l_linenumber, metric""".stripMargin)

  query("regex_funcs") { (s, dir) =>
    // Regex scalar surface: extract / replace / match over customer
    // and part names (simple patterns identical under Java regex and
    // RE2).
    t(s, dir, "customer")
      .filter(col("c_custkey") <= 500)
      .select(
        col("c_custkey"),
        regexp_extract(col("c_name"), "([0-9]+)$", 1).as("cust_num"),
        regexp_replace(col("c_name"), "[0-9]", "#").as("masked"),
        col("c_name").rlike("^Customer#0*[0-9]+$").as("well_formed"))
      .orderBy("c_custkey")
  }.oracle(
    """SELECT c_custkey,
      |  regexp_extract(c_name, '([0-9]+)$', 1) AS cust_num,
      |  regexp_replace(c_name, '[0-9]', '#', 'g') AS masked,
      |  regexp_matches(c_name, '^Customer#0*[0-9]+$') AS well_formed
      |FROM customer WHERE c_custkey <= 500
      |ORDER BY c_custkey""".stripMargin)

  query("grouping_id") { (s, dir) =>
    // GROUPING()/grouping_id over a rollup: distinguishes "NULL because
    // subtotal" from a real NULL key. The oracle re-derives the flags
    // from key nullness (valid here: both keys are non-null in the
    // data).
    Tables.register(s, dir)
    s.sql(
      """SELECT l_returnflag, l_linestatus,
        |  CAST(grouping(l_returnflag) AS INT) AS g_rf,
        |  CAST(grouping(l_linestatus) AS INT) AS g_ls,
        |  CAST(grouping_id(l_returnflag, l_linestatus) AS INT) AS gid,
        |  count(*) AS n
        |FROM lineitem
        |GROUP BY ROLLUP (l_returnflag, l_linestatus)
        |ORDER BY gid, l_returnflag, l_linestatus""".stripMargin)
  }.oracle(
    """SELECT l_returnflag, l_linestatus,
      |  CAST(GROUPING(l_returnflag) AS INTEGER) AS g_rf,
      |  CAST(GROUPING(l_linestatus) AS INTEGER) AS g_ls,
      |  CAST(GROUPING_ID(l_returnflag, l_linestatus) AS INTEGER) AS gid,
      |  count(*) AS n
      |FROM lineitem
      |GROUP BY ROLLUP (l_returnflag, l_linestatus)
      |ORDER BY gid, l_returnflag, l_linestatus""".stripMargin)

  query("json_funcs") { (s, dir) =>
    // Semi-structured access: events.props is a JSON string column.
    t(s, dir, "events")
      .select(
        col("event_id"),
        get_json_object(col("props"), "$.k").cast("int").as("k"),
        from_json(col("props"),
          org.apache.spark.sql.types.StructType.fromDDL("k INT"))
          .getField("k").as("k_struct"))
      .filter(col("k") > 50)
      .orderBy("event_id")
  }.oracle(
    """SELECT event_id,
      |  CAST(props->>'$.k' AS INTEGER) AS k,
      |  CAST(props->>'$.k' AS INTEGER) AS k_struct
      |FROM events
      |WHERE CAST(props->>'$.k' AS INTEGER) > 50
      |ORDER BY event_id""".stripMargin)

  query("map_funcs") { (s, dir) =>
    // MapType surface: parse the JSON props into map<string,string>,
    // access/size/membership — scalar outputs keep it oracle-exact.
    t(s, dir, "events")
      .withColumn("m", from_json(col("props"),
        org.apache.spark.sql.types.MapType(
          org.apache.spark.sql.types.StringType,
          org.apache.spark.sql.types.StringType)))
      .select(
        col("event_id"),
        element_at(col("m"), "k").cast("int").as("k"),
        size(map_keys(col("m"))).cast("int").as("n_keys"),
        array_contains(map_keys(col("m")), "k").as("has_k"))
      .filter(col("event_id") <= 5000)
      .orderBy("event_id")
  }.oracle(
    """SELECT event_id,
      |  CAST(props->>'$.k' AS INTEGER) AS k,
      |  CAST(len(json_keys(props)) AS INTEGER) AS n_keys,
      |  list_contains(json_keys(props), 'k') AS has_k
      |FROM events WHERE event_id <= 5000
      |ORDER BY event_id""".stripMargin)

  query("array_funcs") { (s, dir) =>
    // Array-column surface over the embeddings table (scalar outputs
    // only — float copies and sizes are engine-exact).
    t(s, dir, "embeddings")
      .select(
        col("vec_id"),
        size(col("embedding")).cast("int").as("dim"),
        element_at(col("embedding"), 1).as("first_dim"),
        array_min(col("embedding")).as("min_dim"),
        array_max(col("embedding")).as("max_dim"),
        col("label"))
      .orderBy("vec_id")
  }.oracle(
    """SELECT vec_id,
      |  CAST(len(embedding) AS INTEGER) AS dim,
      |  embedding[1] AS first_dim,
      |  list_min(embedding) AS min_dim,
      |  list_max(embedding) AS max_dim,
      |  label
      |FROM embeddings ORDER BY vec_id""".stripMargin)

  query("bloom_prefilter_join") { (s, dir) =>
    // Runtime Bloom pre-filtering of a fact-dim join: the dim keys
    // (high-balance suppliers) become a broadcast Bloom filter applied
    // inside the lineitem scan stage, so non-matching fact rows never
    // shuffle; the exact join then removes the false positives. The
    // oracle is the PLAIN join SQL — the bloom path must be invisible
    // in the result, only in the shuffled volume.
    val li = t(s, dir, "lineitem")
    val dim = t(s, dir, "supplier").filter(col("s_acctbal") > 8000)
    BloomJoin.prefilteredEquiJoin(li, "l_suppkey", dim, "s_suppkey",
        expectedItems = 1024)
      .groupBy(col("s_suppkey"), col("s_name"))
      .agg(
        count(lit(1)).as("n_lines"),
        sum(round(col("l_extendedprice") * (lit(1) - col("l_discount"))
          * 1e6).cast("long")).cast("long").as("revenue_micros"))
      .orderBy("s_suppkey")
  }.oracle(
    // Bloom pre-filtering must be invisible in the result: the oracle
    // is the plain fact-dim join (no false negatives; false positives
    // die in the exact join).
    """SELECT s.s_suppkey, s.s_name, count(*) AS n_lines,
      |  CAST(sum(CAST(round(l.l_extendedprice * (1 - l.l_discount)
      |    * 1e6) AS BIGINT)) AS BIGINT) AS revenue_micros
      |FROM lineitem l JOIN supplier s ON l.l_suppkey = s.s_suppkey
      |WHERE s.s_acctbal > 8000
      |GROUP BY s.s_suppkey, s.s_name
      |ORDER BY s.s_suppkey""".stripMargin)

  query("asof_join") { (s, dir) =>
    // Custom whole-operator extension (LogicalPlan+Strategy+SparkPlan):
    // each purchase matched to the user's latest preceding signup.
    // DuckDB's native ASOF JOIN is the oracle.
    val e = t(s, dir, "events")
    val p = e.filter(col("event_type") === "purchase")
      .select("event_id", "user_id", "ts", "value")
    val su = e.filter(col("event_type") === "signup")
      .select(col("user_id").as("s_user"), col("ts").as("s_ts"))
    graft.plans.AsOfJoin.join(p, su, p("user_id"), su("s_user"),
      p("ts"), su("s_ts"))
      .orderBy("event_id")
  }.oracle(
    """SELECT p.event_id, p.user_id, p.ts, p.value, s.s_user, s.s_ts
      |FROM (SELECT event_id, user_id, ts, value FROM events
      |      WHERE event_type = 'purchase') p
      |ASOF JOIN (SELECT user_id AS s_user, ts AS s_ts FROM events
      |           WHERE event_type = 'signup') s
      |  ON p.user_id = s.s_user AND p.ts >= s.s_ts
      |ORDER BY p.event_id""".stripMargin)

  query("skew_salted_agg") { (s, dir) =>
    // Hot-grouping-key mitigation: salt the first aggregation phase so
    // one hot key's rows spread over 16 reducers, then merge partials.
    // The result is IDENTICAL to the direct groupBy (cents-exact sums
    // merge associatively) — which is exactly what the oracle checks.
    graft.sources.Skew.saltedCountSum(
      t(s, dir, "orders"), "o_custkey", "o_totalprice")
      .orderBy("o_custkey")
  }.oracle(
    """SELECT o_custkey, count(*) AS n,
      |  CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
      |    / 100.0 AS total
      |FROM orders GROUP BY o_custkey
      |ORDER BY o_custkey""".stripMargin)

  query("join_skew_salted") { (s, dir) =>
    // Hot-JOIN-key mitigation: compose the join key with a
    // deterministic per-row salt and replicate the dim once per salt
    // value, so one hot supplier's lineitems spread over 8 reducers.
    // Result ≡ the plain join (the oracle), only the shuffle layout
    // changes.
    graft.sources.Skew.saltedEquiJoin(
        t(s, dir, "lineitem"), "l_suppkey",
        t(s, dir, "supplier"), "s_suppkey",
        xxhash64(col("l_orderkey"), col("l_linenumber")), 8)
      .groupBy(col("s_nationkey"))
      .agg(
        count(lit(1)).as("n_lines"),
        sum(round(col("l_extendedprice") * (lit(1) - col("l_discount"))
          * 1e6).cast("long")).cast("long").as("revenue_micros"))
      .orderBy("s_nationkey")
  }.oracle(
    // Salting must be invisible in the result — plain join oracle.
    """SELECT s.s_nationkey, count(*) AS n_lines,
      |  CAST(sum(CAST(round(l.l_extendedprice * (1 - l.l_discount)
      |    * 1e6) AS BIGINT)) AS BIGINT) AS revenue_micros
      |FROM lineitem l JOIN supplier s ON l.l_suppkey = s.s_suppkey
      |GROUP BY s.s_nationkey
      |ORDER BY s.s_nationkey""".stripMargin)

  query("topk_aggregator") { (s, dir) =>
    // The typed Aggregator extension surface as a declared query:
    // per-customer top-3 orders through the bounded-buffer TopKAggregator
    // (mergeable partials, no per-group global sort) — must equal the
    // window row_number formulation, which is the oracle.
    import s.implicits._
    val orders = t(s, dir, "orders")
      .selectExpr("o_custkey", "o_orderkey", "o_totalprice")
      .as[(Long, Long, Double)]
    orders.groupByKey(_._1)
      .mapValues(x => (x._2, x._3))
      .agg(new graft.functions.TopKAggregator(3).toColumn.name("ids"))
      .toDF("o_custkey", "ids")
      .select(col("o_custkey"), posexplode(col("ids")))
      .select(col("o_custkey"), (col("pos") + 1).cast("int").as("rk"),
        col("col").as("o_orderkey"))
      .orderBy("o_custkey", "rk")
  }.oracle(
    """SELECT o_custkey, CAST(rk AS INTEGER) AS rk, o_orderkey FROM (
      |  SELECT o_custkey, o_orderkey,
      |    row_number() OVER (PARTITION BY o_custkey
      |      ORDER BY o_totalprice DESC, o_orderkey) AS rk
      |  FROM orders) x
      |WHERE rk <= 3 ORDER BY o_custkey, rk""".stripMargin)

  query("join_interval_overlap") { (s, dir) =>
    // Interval OVERLAP join (both sides are intervals — distinct from
    // join_range_pred's point-in-band): per-user view windows
    // [ts, ts+30m] × purchase windows [ts, ts+10m] that intersect.
    // Bucket-quantized two-sided explode, pair emitted once in the
    // bucket of the overlap's left edge — a hash join, never the
    // nested loop Spark would plan for the raw predicate.
    val e = t(s, dir, "events")
    def win(typ: String, lenMicros: Long, p: String) = e
      .filter(col("event_type") === typ)
      .select(col("user_id").as(s"${p}_user"),
        col("event_id").as(s"${p}_id"),
        col("ts").as(s"${p}_start"),
        timestamp_micros(unix_micros(col("ts")) + lenMicros)
          .as(s"${p}_end"))
    val v = win("view", 1800000000L, "v")
    val p = win("purchase", 600000000L, "p")
    graft.operators.Ranges.intervalOverlapJoin(v, p,
      Seq((col("v_user"), col("p_user"))),
      col("v_start"), col("v_end"), col("p_start"), col("p_end"),
      bucketMicros = 1800000000L)
      .select(col("v_user").as("user_id"),
        col("v_id").as("view_id"), col("p_id").as("purchase_id"),
        greatest(unix_micros(col("v_start")),
          unix_micros(col("p_start"))).as("overlap_start"),
        least(unix_micros(col("v_end")),
          unix_micros(col("p_end"))).as("overlap_end"))
      .orderBy("user_id", "view_id", "purchase_id")
  }.oracle(
    // The naive overlap join the quantized rewrite must equal:
    // per-user equi join + the two-sided interval intersection
    // predicate, overlap edges in exact micros.
    """WITH v AS (
      |  SELECT user_id, event_id AS view_id,
      |    epoch_us(ts) AS vs, epoch_us(ts) + 1800000000 AS ve
      |  FROM events WHERE event_type = 'view'),
      |p AS (
      |  SELECT user_id, event_id AS purchase_id,
      |    epoch_us(ts) AS ps, epoch_us(ts) + 600000000 AS pe
      |  FROM events WHERE event_type = 'purchase')
      |SELECT v.user_id, view_id, purchase_id,
      |  greatest(vs, ps) AS overlap_start,
      |  least(ve, pe) AS overlap_end
      |FROM v JOIN p ON v.user_id = p.user_id
      |  AND vs <= pe AND ps <= ve
      |ORDER BY v.user_id, view_id, purchase_id""".stripMargin)

  query("asof_join_left") { (s, dir) =>
    // LEFT OUTER as-of: the documented composition over the custom
    // inner operator (AsOfJoin.scala) — inner matches re-joined to the
    // full left side, unmatched purchases kept with null signup cols.
    // DuckDB's native ASOF LEFT JOIN is the oracle, so the
    // composition's semantics are pinned to the reference shape.
    val e = t(s, dir, "events")
    val p = e.filter(col("event_type") === "purchase")
      .select("event_id", "user_id", "ts", "value")
    val su = e.filter(col("event_type") === "signup")
      .select(col("user_id").as("s_user"), col("ts").as("s_ts"))
    val inner = graft.plans.AsOfJoin.join(p, su, p("user_id"),
      su("s_user"), p("ts"), su("s_ts"))
    p.join(inner.select("event_id", "s_user", "s_ts"),
        Seq("event_id"), "left")
      .orderBy("event_id")
  }.oracle(
    // DuckDB's native ASOF LEFT JOIN pins the composition semantics.
    """SELECT p.event_id, p.user_id, p.ts, p.value, s.s_user, s.s_ts
      |FROM (SELECT event_id, user_id, ts, value FROM events
      |      WHERE event_type = 'purchase') p
      |ASOF LEFT JOIN (SELECT user_id AS s_user, ts AS s_ts
      |                FROM events WHERE event_type = 'signup') s
      |  ON p.user_id = s.s_user AND p.ts >= s.s_ts
      |ORDER BY p.event_id""".stripMargin)

  query("asof_join_nearest") { (s, dir) =>
    // NEAREST-mode as-of: the third member of the family, composed
    // from the custom backward operator run TWICE — once as-is (last
    // signup ≤ ts) and once over negated micros (first signup ≥ ts is
    // backward in mirrored time) — then one row-local CASE picks the
    // smaller |Δt|, ties to backward (the earlier signup). Still two
    // merge passes over key-sorted streams, no window over the fact
    // table. The oracle derives nearest from scratch with an
    // (|Δt|, s_ts) ranking, pinning the tie rule.
    val e = t(s, dir, "events")
    val p = e.filter(col("event_type") === "purchase")
      .select(col("event_id"), col("user_id"), col("ts"))
      .withColumn("t", expr("unix_micros(ts)"))
    val su = e.filter(col("event_type") === "signup")
      .select(col("user_id").as("s_user"), col("ts").as("s_ts"))
      .distinct()
      .withColumn("st", expr("unix_micros(s_ts)"))
    val back = graft.plans.AsOfJoin.join(p, su, p("user_id"),
        su("s_user"), p("t"), su("st"))
      .select(col("event_id"), col("st").as("back_st"))
    val pn = p.withColumn("nt", -col("t"))
    val sn = su.withColumn("nst", -col("st"))
    val fwd = graft.plans.AsOfJoin.join(pn, sn, pn("user_id"),
        sn("s_user"), pn("nt"), sn("nst"))
      .select(col("event_id"), col("st").as("fwd_st"))
    p.join(back, Seq("event_id"), "left")
      .join(fwd, Seq("event_id"), "left")
      .filter(col("back_st").isNotNull || col("fwd_st").isNotNull)
      .select(col("event_id"), col("user_id"),
        expr("""CASE WHEN back_st IS NULL THEN fwd_st
                WHEN fwd_st IS NULL THEN back_st
                WHEN t - back_st <= fwd_st - t THEN back_st
                ELSE fwd_st END""").as("nearest_st"),
        col("t"))
      .select(col("event_id"), col("user_id"),
        expr("timestamp_micros(nearest_st)").as("nearest_s_ts"),
        abs(col("t") - col("nearest_st")).as("dt_micros"),
        when(col("nearest_st") <= col("t"), lit("backward"))
          .otherwise(lit("forward")).as("direction"))
      .orderBy("event_id")
  }.oracle(
    // Nearest-mode as-of: derived from scratch — every candidate
    // signup ranked by (|Δt|, s_ts), pinning the backward tie rule
    // the engine's two-pass composition implements.
    """WITH p AS (SELECT event_id, user_id, ts, epoch_us(ts) AS t
      |           FROM events WHERE event_type = 'purchase'),
      |su AS (SELECT DISTINCT user_id AS s_user, ts AS s_ts
      |       FROM events WHERE event_type = 'signup'),
      |cand AS (SELECT p.event_id, p.user_id, p.t, su.s_ts,
      |           epoch_us(su.s_ts) AS st
      |         FROM p JOIN su ON p.user_id = su.s_user),
      |r AS (SELECT event_id, user_id, s_ts, st, t,
      |        row_number() OVER (PARTITION BY event_id
      |          ORDER BY abs(t - st), st) AS rk FROM cand)
      |SELECT event_id, user_id, s_ts AS nearest_s_ts,
      |  CAST(abs(t - st) AS BIGINT) AS dt_micros,
      |  CASE WHEN st <= t THEN 'backward' ELSE 'forward' END
      |    AS direction
      |FROM r WHERE rk = 1 ORDER BY event_id""".stripMargin)

  query("geo_radius_join") { (s, dir) =>
    // Spatial radius join: customers to suppliers within 0.5 units on
    // a synthetic 10×10-unit plane (micro-unit integers; the TPC-H-ish
    // schema has no coordinates, so each party sits at a deterministic
    // key-mixed point — pure BIGINT arithmetic both engines replay).
    // Grid-bucketed: ONE equi-join shuffle on cell keys, no nested
    // loop — see operators/Geo.scala. The oracle is the definitional
    // cross join, so a green row proves grid completeness.
    // key reduced mod 1e7 BEFORE the multiply: ((k%m)*c)%m ≡ (k*c)%m,
    // same coordinates, but the product stays < 2.7e16 — the unreduced
    // form overflows long (ANSI error) for keys above ~3.5e9, i.e. any
    // realistically large int64 id space.
    // Each 1e9-wide id block gets its OWN 10×10-unit region (the
    // region offset rides on x): growing data lands in new geography
    // at constant density, the regime where a radius join is
    // meaningful at scale — piling every decade of growth onto one
    // fixed plane multiplies density 10× per decade and makes the
    // OUTPUT itself quadratic (~1.2e9 rows at the sf10 rehearsal), a
    // property of the data model, not the plan. Gate-scale keys are
    // all < 1e9 (region 0), so oracle results are unchanged in
    // effect; the oracle mirrors the formula definitionally. Adjacent
    // regions share a thin boundary band — intended: one continuous
    // plane, and the exact oracle replays it.
    def place(df: DataFrame, key: String) = df.select(col(key),
      expr(s"($key div 1000000000L) * 10000000L + " +
        s"(($key % 10000000L) * 2654435761L) % 10000000L").as("x"),
      expr(s"(($key % 10000000L) * 2246822519L) % 10000000L").as("y"))
    val cust = place(t(s, dir, "customer"), "c_custkey")
    val supp = place(t(s, dir, "supplier"), "s_suppkey")
    graft.operators.Geo.gridRadiusJoin(cust, supp, "x", "y", 500000L)
      .select("c_custkey", "s_suppkey", "dist2")
      .orderBy("c_custkey", "s_suppkey")
  }.oracle(
    """WITH c AS (
      |  SELECT c_custkey,
      |         (c_custkey // 1000000000) * 10000000 +
      |           ((c_custkey % 10000000) * 2654435761) % 10000000 AS x,
      |         ((c_custkey % 10000000) * 2246822519) % 10000000 AS y
      |  FROM customer),
      |s AS (
      |  SELECT s_suppkey,
      |         (s_suppkey // 1000000000) * 10000000 +
      |           ((s_suppkey % 10000000) * 2654435761) % 10000000 AS x,
      |         ((s_suppkey % 10000000) * 2246822519) % 10000000 AS y
      |  FROM supplier)
      |SELECT c.c_custkey, s.s_suppkey,
      |       CAST((c.x - s.x) * (c.x - s.x)
      |          + (c.y - s.y) * (c.y - s.y) AS BIGINT) AS dist2
      |FROM c, s
      |WHERE (c.x - s.x) * (c.x - s.x) + (c.y - s.y) * (c.y - s.y)
      |      <= 250000000000
      |ORDER BY c.c_custkey, s.s_suppkey""".stripMargin)

  query("pareto_skyline") { (s, dir) =>
    // Pareto frontier over parts: cheapest-for-its-size shortlist
    // (minimize retail price, maximize size). Bucket-pruned — the
    // dominance check never compares row pairs; see
    // operators/Skyline.scala for the two-stage design.
    graft.operators.Skyline.skyline2d(
      t(s, dir, "part").select(col("p_partkey"),
        round(col("p_retailprice") * 100).cast("long").as("price_cents"),
        col("p_size").cast("long").as("size")),
      "price_cents", "size")
      .orderBy("p_partkey")
  }.oracle(
    """WITH p AS (
      |  SELECT p_partkey,
      |         CAST(round(p_retailprice * 100) AS BIGINT) AS price_cents,
      |         CAST(p_size AS BIGINT) AS size
      |  FROM part)
      |SELECT x.p_partkey, x.price_cents, x.size
      |FROM p x
      |WHERE NOT EXISTS (
      |  SELECT 1 FROM p d
      |  WHERE d.price_cents <= x.price_cents AND d.size >= x.size
      |    AND (d.price_cents < x.price_cents OR d.size > x.size))
      |ORDER BY x.p_partkey""".stripMargin)

  query("union_by_name") { (s, dir) =>
    // Schema-aligned union: two differently-shaped relations combined
    // BY NAME with null backfill for missing columns (customer carries
    // a market segment, supplier doesn't) — the schema-drift-tolerant
    // twin of positional UNION ALL. Pure narrow op: no shuffle but the
    // presentation sort.
    val c = t(s, dir, "customer").select(
      col("c_custkey").as("party_id"), col("c_name").as("name"),
      round(col("c_acctbal") * 100).cast("long").as("acctbal_cents"),
      col("c_mktsegment").as("segment"), lit("customer").as("kind"))
    val su = t(s, dir, "supplier").select(
      col("s_suppkey").as("party_id"), col("s_name").as("name"),
      round(col("s_acctbal") * 100).cast("long").as("acctbal_cents"),
      lit("supplier").as("kind"))
    c.unionByName(su, allowMissingColumns = true)
      .orderBy("kind", "party_id")
  }.oracle(
    """SELECT * FROM (
      |  SELECT c_custkey AS party_id, c_name AS name,
      |         CAST(round(c_acctbal * 100) AS BIGINT) AS acctbal_cents,
      |         c_mktsegment AS segment, 'customer' AS kind
      |  FROM customer
      |  UNION ALL BY NAME
      |  SELECT s_suppkey AS party_id, s_name AS name,
      |         CAST(round(s_acctbal * 100) AS BIGINT) AS acctbal_cents,
      |         'supplier' AS kind
      |  FROM supplier)
      |ORDER BY kind, party_id""".stripMargin)
}
