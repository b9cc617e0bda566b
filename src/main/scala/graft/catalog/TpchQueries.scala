package graft
package catalog

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.sources.Tables
import Shared._

/** The TPC-H family: the 21 TPC-H query shapes beyond Q1 (which is
  * `agg_q1`), each over the unfragmented base tables. */
object TpchQueries extends Family {

  query("q3_shipping_priority") { (s, dir) =>
    // TPC-H Q3 shape: 3-way join, filtered both sides, grouped revenue,
    // deterministic top-20 (exact micros revenue; ties by orderkey).
    Tables.register(s, dir)
    s.sql(
      """SELECT o.o_orderkey,
        |  sum(CAST(round(l.l_extendedprice * (1 - l.l_discount) * 1e6)
        |      AS BIGINT)) / 1e6 AS revenue,
        |  o.o_orderdate
        |FROM customer c
        |JOIN orders o ON c.c_custkey = o.o_custkey
        |JOIN lineitem l ON l.l_orderkey = o.o_orderkey
        |WHERE c.c_mktsegment = 'BUILDING'
        |  AND o.o_orderdate < TIMESTAMP '1995-03-15'
        |  AND l.l_shipdate > TIMESTAMP '1995-03-15'
        |GROUP BY o.o_orderkey, o.o_orderdate
        |ORDER BY revenue DESC, o.o_orderkey
        |LIMIT 20""".stripMargin)
  }.oracle(
    """SELECT o.o_orderkey,
      |  CAST(sum(CAST(round(l.l_extendedprice * (1 - l.l_discount) * 1e6)
      |      AS BIGINT)) AS BIGINT) / 1e6 AS revenue,
      |  o.o_orderdate
      |FROM customer c
      |JOIN orders o ON c.c_custkey = o.o_custkey
      |JOIN lineitem l ON l.l_orderkey = o.o_orderkey
      |WHERE c.c_mktsegment = 'BUILDING'
      |  AND o.o_orderdate < TIMESTAMP '1995-03-15'
      |  AND l.l_shipdate > TIMESTAMP '1995-03-15'
      |GROUP BY o.o_orderkey, o.o_orderdate
      |ORDER BY revenue DESC, o.o_orderkey
      |LIMIT 20""".stripMargin)

  query("q5_supplier_volume") { (s, dir) =>
    // TPC-H Q5 shape: 6-way join through the full dimension chain with
    // fixed-size dims broadcast.
    Tables.register(s, dir)
    s.sql(
      """SELECT /*+ BROADCAST(n), BROADCAST(r), BROADCAST(s) */ n.n_name,
        |  sum(CAST(round(l.l_extendedprice * (1 - l.l_discount) * 1e6)
        |      AS BIGINT)) / 1e6 AS revenue,
        |  count(*) AS n_items
        |FROM customer c
        |JOIN orders o ON c.c_custkey = o.o_custkey
        |JOIN lineitem l ON l.l_orderkey = o.o_orderkey
        |JOIN supplier s ON l.l_suppkey = s.s_suppkey
        |  AND c.c_nationkey = s.s_nationkey
        |JOIN nation n ON s.s_nationkey = n.n_nationkey
        |JOIN region r ON n.n_regionkey = r.r_regionkey
        |WHERE r.r_name = 'ASIA'
        |GROUP BY n.n_name
        |ORDER BY n.n_name""".stripMargin)
  }.oracle(
    """SELECT n.n_name,
      |  CAST(sum(CAST(round(l.l_extendedprice * (1 - l.l_discount) * 1e6)
      |      AS BIGINT)) AS BIGINT) / 1e6 AS revenue,
      |  count(*) AS n_items
      |FROM customer c
      |JOIN orders o ON c.c_custkey = o.o_custkey
      |JOIN lineitem l ON l.l_orderkey = o.o_orderkey
      |JOIN supplier s ON l.l_suppkey = s.s_suppkey
      |  AND c.c_nationkey = s.s_nationkey
      |JOIN nation n ON s.s_nationkey = n.n_nationkey
      |JOIN region r ON n.n_regionkey = r.r_regionkey
      |WHERE r.r_name = 'ASIA'
      |GROUP BY n.n_name
      |ORDER BY n.n_name""".stripMargin)

  query("q6_forecast_revenue") { (s, dir) =>
    // TPC-H Q6 shape: pure scan + tight conjunctive filter + one global
    // sum — the pushdown showcase (every predicate reaches the parquet
    // reader; no shuffle but the final single-row reduce).
    t(s, dir, "lineitem")
      .filter(col("l_shipdate") >= lit("1994-01-01") &&
        col("l_shipdate") < lit("1995-01-01") &&
        col("l_discount").between(0.05, 0.07) &&
        col("l_quantity") < 24)
      .agg(microsSum(col("l_extendedprice") * col("l_discount"))
        .as("revenue"),
        count(lit(1)).as("n_items"))
  }.oracle(
    """SELECT CAST(sum(CAST(round(l_extendedprice * l_discount * 1e6)
      |      AS BIGINT)) AS BIGINT) / 1e6 AS revenue,
      |  count(*) AS n_items
      |FROM lineitem
      |WHERE l_shipdate >= TIMESTAMP '1994-01-01'
      |  AND l_shipdate < TIMESTAMP '1995-01-01'
      |  AND l_discount BETWEEN 0.05 AND 0.07
      |  AND l_quantity < 24""".stripMargin)

  query("q14_promo_revenue") { (s, dir) =>
    // TPC-H Q14 shape: lineitem ⋈ part with a conditional ratio-of-sums.
    // Both sums stay exact integer micros; the single final
    // 100.0 * promo / total division is the only float op, identical in
    // both engines given identical longs.
    val l = t(s, dir, "lineitem")
      .filter(col("l_shipdate") >= lit("1995-09-01") &&
        col("l_shipdate") < lit("1995-10-01"))
    val p = t(s, dir, "part")
    val disc = round(col("l_extendedprice") * (lit(1) - col("l_discount"))
      * 1e6).cast("long")
    l.join(p, l("l_partkey") === p("p_partkey"))
      .agg(
        sum(when(col("p_type").like("PROMO%"), disc).otherwise(0L))
          .as("promo_micros"),
        sum(disc).as("total_micros"))
      .select(
        (lit(100.0) * col("promo_micros").cast("double") /
          col("total_micros").cast("double")).as("promo_pct"),
        col("promo_micros"), col("total_micros"))
  }.oracle(
    """WITH x AS (
      |  SELECT
      |    CAST(sum(CASE WHEN p.p_type LIKE 'PROMO%'
      |      THEN CAST(round(l.l_extendedprice * (1 - l.l_discount) * 1e6)
      |           AS BIGINT) ELSE 0 END) AS BIGINT) AS promo_micros,
      |    CAST(sum(CAST(round(l.l_extendedprice * (1 - l.l_discount) * 1e6)
      |         AS BIGINT)) AS BIGINT) AS total_micros
      |  FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
      |  WHERE l.l_shipdate >= TIMESTAMP '1995-09-01'
      |    AND l.l_shipdate < TIMESTAMP '1995-10-01')
      |SELECT 100.0 * CAST(promo_micros AS DOUBLE)
      |    / CAST(total_micros AS DOUBLE) AS promo_pct,
      |  promo_micros, total_micros
      |FROM x""".stripMargin)

  query("q10_returned_items") { (s, dir) =>
    // TPC-H Q10 shape: revenue lost to returned items per customer in a
    // quarter — 4-way join, broadcast dim, grouped exact-micros revenue,
    // deterministic top-20.
    Tables.register(s, dir)
    s.sql(
      """SELECT /*+ BROADCAST(n) */ c.c_custkey, c.c_name,
        |  sum(CAST(round(l.l_extendedprice * (1 - l.l_discount) * 1e6)
        |      AS BIGINT)) / 1e6 AS revenue,
        |  c.c_acctbal, n.n_name
        |FROM customer c
        |JOIN orders o ON c.c_custkey = o.o_custkey
        |JOIN lineitem l ON l.l_orderkey = o.o_orderkey
        |JOIN nation n ON c.c_nationkey = n.n_nationkey
        |WHERE o.o_orderdate >= TIMESTAMP '1993-10-01'
        |  AND o.o_orderdate < TIMESTAMP '1994-01-01'
        |  AND l.l_returnflag = 'R'
        |GROUP BY c.c_custkey, c.c_name, c.c_acctbal, n.n_name
        |ORDER BY revenue DESC, c.c_custkey
        |LIMIT 20""".stripMargin)
  }.oracle(
    """SELECT c.c_custkey, c.c_name,
      |  CAST(sum(CAST(round(l.l_extendedprice * (1 - l.l_discount) * 1e6)
      |      AS BIGINT)) AS BIGINT) / 1e6 AS revenue,
      |  c.c_acctbal, n.n_name
      |FROM customer c
      |JOIN orders o ON c.c_custkey = o.o_custkey
      |JOIN lineitem l ON l.l_orderkey = o.o_orderkey
      |JOIN nation n ON c.c_nationkey = n.n_nationkey
      |WHERE o.o_orderdate >= TIMESTAMP '1993-10-01'
      |  AND o.o_orderdate < TIMESTAMP '1994-01-01'
      |  AND l.l_returnflag = 'R'
      |GROUP BY c.c_custkey, c.c_name, c.c_acctbal, n.n_name
      |ORDER BY revenue DESC, c.c_custkey
      |LIMIT 20""".stripMargin)

  query("q18_large_orders") { (s, dir) =>
    // TPC-H Q18 shape: customers with any order above a quantity
    // threshold — aggregate subquery feeding a semi-join-ish IN filter,
    // then re-aggregation.
    Tables.register(s, dir)
    s.sql(
      """SELECT c.c_custkey, c.c_name, o.o_orderkey, o.o_orderdate,
        |  sum(l.l_quantity) AS total_qty
        |FROM customer c
        |JOIN orders o ON c.c_custkey = o.o_custkey
        |JOIN lineitem l ON l.l_orderkey = o.o_orderkey
        |WHERE o.o_orderkey IN (
        |  SELECT l_orderkey FROM lineitem
        |  GROUP BY l_orderkey HAVING sum(l_quantity) > 250)
        |GROUP BY c.c_custkey, c.c_name, o.o_orderkey, o.o_orderdate
        |ORDER BY total_qty DESC, o.o_orderkey
        |LIMIT 100""".stripMargin)
  }.oracle(
    """SELECT c.c_custkey, c.c_name, o.o_orderkey, o.o_orderdate,
      |  sum(l.l_quantity) AS total_qty
      |FROM customer c
      |JOIN orders o ON c.c_custkey = o.o_custkey
      |JOIN lineitem l ON l.l_orderkey = o.o_orderkey
      |WHERE o.o_orderkey IN (
      |  SELECT l_orderkey FROM lineitem
      |  GROUP BY l_orderkey HAVING sum(l_quantity) > 250)
      |GROUP BY c.c_custkey, c.c_name, o.o_orderkey, o.o_orderdate
      |ORDER BY total_qty DESC, o.o_orderkey
      |LIMIT 100""".stripMargin)

  query("q4_priority_orders") { (s, dir) =>
    // TPC-H Q4 shape: orders in a quarter with at least one LATE
    // lineitem (shipped > 30 days after the order date — the testdata
    // has no commit/receipt dates), counted per priority. EXISTS plans
    // as a left-semi join with a non-equi conjunct.
    Tables.register(s, dir)
    s.sql(
      """SELECT o_orderpriority, count(*) AS order_count
        |FROM orders o
        |WHERE o.o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
        |  AND o.o_orderdate < TIMESTAMP '1996-04-01 00:00:00'
        |  AND EXISTS (
        |    SELECT 1 FROM lineitem l
        |    WHERE l.l_orderkey = o.o_orderkey
        |      AND l.l_shipdate > o.o_orderdate + INTERVAL 30 DAYS)
        |GROUP BY o_orderpriority
        |ORDER BY o_orderpriority""".stripMargin)
  }.oracle(
    """SELECT o_orderpriority, count(*) AS order_count
      |FROM orders o
      |WHERE o.o_orderdate >= TIMESTAMP '1996-01-01'
      |  AND o.o_orderdate < TIMESTAMP '1996-04-01'
      |  AND EXISTS (
      |    SELECT 1 FROM lineitem l
      |    WHERE l.l_orderkey = o.o_orderkey
      |      AND l.l_shipdate > o.o_orderdate + INTERVAL 30 DAY)
      |GROUP BY o_orderpriority
      |ORDER BY o_orderpriority""".stripMargin)

  query("q7_nation_volume") { (s, dir) =>
    // TPC-H Q7 shape: bilateral trade volume between two nations by
    // ship year — lineitem joins BOTH a supplier-side and a (orders →
    // customer) buyer-side nation; the two 25-row nation dims
    // broadcast; revenue stays exact integer micros until the final
    // division.
    Tables.register(s, dir)
    s.sql(
      """SELECT sn.n_name AS supp_nation, cn.n_name AS cust_nation,
        |  year(l.l_shipdate) AS l_year,
        |  CAST(sum(CAST(round(l.l_extendedprice * (1 - l.l_discount)
        |    * 1e6) AS BIGINT)) AS BIGINT) AS revenue_micros
        |FROM lineitem l
        |JOIN orders o ON l.l_orderkey = o.o_orderkey
        |JOIN customer c ON o.o_custkey = c.c_custkey
        |JOIN nation cn ON c.c_nationkey = cn.n_nationkey
        |JOIN supplier su ON l.l_suppkey = su.s_suppkey
        |JOIN nation sn ON su.s_nationkey = sn.n_nationkey
        |WHERE (sn.n_name = 'NATION_3' AND cn.n_name = 'NATION_7')
        |   OR (sn.n_name = 'NATION_7' AND cn.n_name = 'NATION_3')
        |GROUP BY 1, 2, 3
        |ORDER BY 1, 2, 3""".stripMargin)
  }.oracle(
    """SELECT sn.n_name AS supp_nation, cn.n_name AS cust_nation,
      |  CAST(year(l.l_shipdate) AS INTEGER) AS l_year,
      |  CAST(sum(CAST(round(l.l_extendedprice * (1 - l.l_discount)
      |    * 1e6) AS BIGINT)) AS BIGINT) AS revenue_micros
      |FROM lineitem l
      |JOIN orders o ON l.l_orderkey = o.o_orderkey
      |JOIN customer c ON o.o_custkey = c.c_custkey
      |JOIN nation cn ON c.c_nationkey = cn.n_nationkey
      |JOIN supplier su ON l.l_suppkey = su.s_suppkey
      |JOIN nation sn ON su.s_nationkey = sn.n_nationkey
      |WHERE (sn.n_name = 'NATION_3' AND cn.n_name = 'NATION_7')
      |   OR (sn.n_name = 'NATION_7' AND cn.n_name = 'NATION_3')
      |GROUP BY 1, 2, 3
      |ORDER BY 1, 2, 3""".stripMargin)

  query("q12_priority_class") { (s, dir) =>
    // TPC-H Q12 shape: per line status (the testdata has no ship
    // mode), how many lines belong to urgent/high-priority orders vs
    // the rest, over one ship year — the conditional two-way count.
    Tables.register(s, dir)
    s.sql(
      """SELECT l.l_linestatus,
        |  count(CASE WHEN o.o_orderpriority IN ('1-URGENT', '2-HIGH')
        |        THEN 1 END) AS high_line_count,
        |  count(CASE WHEN o.o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
        |        THEN 1 END) AS low_line_count
        |FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
        |WHERE l.l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
        |  AND l.l_shipdate < TIMESTAMP '1998-01-01 00:00:00'
        |GROUP BY l.l_linestatus
        |ORDER BY l.l_linestatus""".stripMargin)
  }.oracle(
    """SELECT l.l_linestatus,
      |  count(CASE WHEN o.o_orderpriority IN ('1-URGENT', '2-HIGH')
      |        THEN 1 END) AS high_line_count,
      |  count(CASE WHEN o.o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
      |        THEN 1 END) AS low_line_count
      |FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
      |WHERE l.l_shipdate >= TIMESTAMP '1997-01-01'
      |  AND l.l_shipdate < TIMESTAMP '1998-01-01'
      |GROUP BY l.l_linestatus
      |ORDER BY l.l_linestatus""".stripMargin)

  query("q13_custdist") { (s, dir) =>
    // TPC-H Q13: the order-count distribution over ALL customers —
    // left join (zero-order customers kept, one non-equi exclusion
    // conjunct in the join condition), per-customer count, then the
    // histogram of counts.
    Tables.register(s, dir)
    s.sql(
      """SELECT c_count, count(*) AS custdist FROM (
        |  SELECT c.c_custkey, count(o.o_orderkey) AS c_count
        |  FROM customer c LEFT JOIN orders o
        |    ON c.c_custkey = o.o_custkey
        |      AND o.o_orderpriority <> '5-LOW'
        |  GROUP BY c.c_custkey) cc
        |GROUP BY c_count
        |ORDER BY custdist DESC, c_count DESC""".stripMargin)
  }.oracle(
    """SELECT c_count, count(*) AS custdist FROM (
      |  SELECT c.c_custkey, count(o.o_orderkey) AS c_count
      |  FROM customer c LEFT JOIN orders o
      |    ON c.c_custkey = o.o_custkey
      |      AND o.o_orderpriority <> '5-LOW'
      |  GROUP BY c.c_custkey) cc
      |GROUP BY c_count
      |ORDER BY custdist DESC, c_count DESC""".stripMargin)

  query("q19_disjunctive_revenue") { (s, dir) =>
    // TPC-H Q19 shape: revenue under a disjunction of brand/size/
    // quantity triples — the OR-of-ANDs predicate that tests
    // disjunctive pushdown planning; one exact-micros global sum.
    Tables.register(s, dir)
    s.sql(
      """SELECT
        |  CAST(sum(CAST(round(l.l_extendedprice * (1 - l.l_discount)
        |    * 1e6) AS BIGINT)) AS BIGINT) AS revenue_micros
        |FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
        |WHERE (p.p_brand = 'Brand#12' AND p.p_size BETWEEN 1 AND 15
        |       AND l.l_quantity BETWEEN 1 AND 11)
        |   OR (p.p_brand = 'Brand#23' AND p.p_size BETWEEN 1 AND 25
        |       AND l.l_quantity BETWEEN 10 AND 20)
        |   OR (p.p_brand = 'Brand#34' AND p.p_size BETWEEN 1 AND 35
        |       AND l.l_quantity BETWEEN 20 AND 30)""".stripMargin)
  }.oracle(
    """SELECT
      |  CAST(sum(CAST(round(l.l_extendedprice * (1 - l.l_discount)
      |    * 1e6) AS BIGINT)) AS BIGINT) AS revenue_micros
      |FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
      |WHERE (p.p_brand = 'Brand#12' AND p.p_size BETWEEN 1 AND 15
      |       AND l.l_quantity BETWEEN 1 AND 11)
      |   OR (p.p_brand = 'Brand#23' AND p.p_size BETWEEN 1 AND 25
      |       AND l.l_quantity BETWEEN 10 AND 20)
      |   OR (p.p_brand = 'Brand#34' AND p.p_size BETWEEN 1 AND 35
      |       AND l.l_quantity BETWEEN 20 AND 30)""".stripMargin)

  query("q22_idle_customers") { (s, dir) =>
    // TPC-H Q22 shape: positive-balance customers ABOVE the average
    // positive balance with no orders at all, grouped by nation.
    // The average comparison is exact: cents·n > total_cents in
    // integers (a float avg would differ between engines in the last
    // bits — partial-sum order — and could flip boundary customers).
    Tables.register(s, dir)
    s.sql(
      """WITH bal AS (
        |  SELECT CAST(count(*) AS BIGINT) AS n_pos,
        |    sum(CAST(round(c_acctbal * 100) AS BIGINT)) AS total_cents
        |  FROM customer WHERE c_acctbal > 0)
        |SELECT c.c_nationkey,
        |  count(*) AS numcust,
        |  CAST(sum(CAST(round(c.c_acctbal * 100) AS BIGINT)) AS BIGINT)
        |    AS total_cents
        |FROM customer c CROSS JOIN bal
        |WHERE c.c_acctbal > 0
        |  AND CAST(round(c.c_acctbal * 100) AS BIGINT) * bal.n_pos
        |      > bal.total_cents
        |  AND NOT EXISTS (
        |    SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
        |GROUP BY c.c_nationkey
        |ORDER BY c.c_nationkey""".stripMargin)
  }.oracle(
    """WITH bal AS (
      |  SELECT CAST(count(*) AS BIGINT) AS n_pos,
      |    CAST(sum(CAST(round(c_acctbal * 100) AS BIGINT)) AS BIGINT)
      |      AS total_cents
      |  FROM customer WHERE c_acctbal > 0)
      |SELECT c.c_nationkey,
      |  count(*) AS numcust,
      |  CAST(sum(CAST(round(c.c_acctbal * 100) AS BIGINT)) AS BIGINT)
      |    AS total_cents
      |FROM customer c CROSS JOIN bal
      |WHERE c.c_acctbal > 0
      |  AND CAST(round(c.c_acctbal * 100) AS BIGINT) * bal.n_pos
      |      > bal.total_cents
      |  AND NOT EXISTS (
      |    SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
      |GROUP BY c.c_nationkey
      |ORDER BY c.c_nationkey""".stripMargin)

  query("q8_market_share") { (s, dir) =>
    // TPC-H Q8 shape: one nation's share of a region's part-type trade
    // by order year — the deepest join tree in the suite (lineitem +
    // part + supplier + orders + customer + both nation roles +
    // region). The three tiny dims broadcast; revenue stays exact
    // integer micros and the share is ONE double division of two
    // identical longs per year.
    Tables.register(s, dir)
    s.sql(
      """SELECT o_year,
        |  CAST(sum(CASE WHEN nation = 'NATION_3' THEN vol_micros
        |           ELSE 0 END) AS BIGINT) AS nation_micros,
        |  CAST(sum(vol_micros) AS BIGINT) AS total_micros,
        |  CAST(sum(CASE WHEN nation = 'NATION_3' THEN vol_micros
        |           ELSE 0 END) AS DOUBLE)
        |    / CAST(sum(vol_micros) AS DOUBLE) AS mkt_share
        |FROM (
        |  SELECT year(o.o_orderdate) AS o_year,
        |    CAST(round(l.l_extendedprice * (1 - l.l_discount) * 1e6)
        |      AS BIGINT) AS vol_micros,
        |    sn.n_name AS nation
        |  FROM lineitem l
        |  JOIN part p ON p.p_partkey = l.l_partkey
        |  JOIN supplier su ON su.s_suppkey = l.l_suppkey
        |  JOIN nation sn ON sn.n_nationkey = su.s_nationkey
        |  JOIN orders o ON o.o_orderkey = l.l_orderkey
        |  JOIN customer c ON c.c_custkey = o.o_custkey
        |  JOIN nation cn ON cn.n_nationkey = c.c_nationkey
        |  JOIN region r ON r.r_regionkey = cn.n_regionkey
        |  WHERE r.r_name = 'ASIA'
        |    AND o.o_orderdate >= TIMESTAMP '1995-01-01 00:00:00'
        |    AND o.o_orderdate <= TIMESTAMP '1996-12-31 00:00:00'
        |    AND p.p_type = 'ECONOMY') all_nations
        |GROUP BY o_year
        |ORDER BY o_year""".stripMargin)
  }.oracle(
    // DuckDB year() is BIGINT where Spark's is INT — cast oracle-side
    """SELECT o_year,
      |  CAST(sum(CASE WHEN nation = 'NATION_3' THEN vol_micros
      |           ELSE 0 END) AS BIGINT) AS nation_micros,
      |  CAST(sum(vol_micros) AS BIGINT) AS total_micros,
      |  CAST(CAST(sum(CASE WHEN nation = 'NATION_3' THEN vol_micros
      |           ELSE 0 END) AS BIGINT) AS DOUBLE)
      |    / CAST(CAST(sum(vol_micros) AS BIGINT) AS DOUBLE)
      |    AS mkt_share
      |FROM (
      |  SELECT CAST(year(o.o_orderdate) AS INTEGER) AS o_year,
      |    CAST(round(l.l_extendedprice * (1 - l.l_discount) * 1e6)
      |      AS BIGINT) AS vol_micros,
      |    sn.n_name AS nation
      |  FROM lineitem l
      |  JOIN part p ON p.p_partkey = l.l_partkey
      |  JOIN supplier su ON su.s_suppkey = l.l_suppkey
      |  JOIN nation sn ON sn.n_nationkey = su.s_nationkey
      |  JOIN orders o ON o.o_orderkey = l.l_orderkey
      |  JOIN customer c ON c.c_custkey = o.o_custkey
      |  JOIN nation cn ON cn.n_nationkey = c.c_nationkey
      |  JOIN region r ON r.r_regionkey = cn.n_regionkey
      |  WHERE r.r_name = 'ASIA'
      |    AND o.o_orderdate >= TIMESTAMP '1995-01-01 00:00:00'
      |    AND o.o_orderdate <= TIMESTAMP '1996-12-31 00:00:00'
      |    AND p.p_type = 'ECONOMY') all_nations
      |GROUP BY o_year
      |ORDER BY o_year""".stripMargin)

  query("q15_top_supplier") { (s, dir) =>
    // TPC-H Q15 shape: supplier(s) with the maximum quarterly revenue —
    // the view-over-aggregate + scalar-max pattern. Revenue is exact
    // integer micros so the `= max` comparison cannot be perturbed by
    // float summation order.
    Tables.register(s, dir)
    s.sql(
      """WITH revenue AS (
        |  SELECT l_suppkey AS supplier_no,
        |    CAST(sum(CAST(round(l_extendedprice * (1 - l_discount) * 1e6)
        |      AS BIGINT)) AS BIGINT) AS total_micros
        |  FROM lineitem
        |  WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
        |    AND l_shipdate < TIMESTAMP '1996-04-01 00:00:00'
        |  GROUP BY l_suppkey)
        |SELECT s.s_suppkey, s.s_name, r.total_micros
        |FROM supplier s JOIN revenue r ON s.s_suppkey = r.supplier_no
        |WHERE r.total_micros = (SELECT max(total_micros) FROM revenue)
        |ORDER BY s.s_suppkey""".stripMargin)
  }.oracle(
    """WITH revenue AS (
      |  SELECT l_suppkey AS supplier_no,
      |    CAST(sum(CAST(round(l_extendedprice * (1 - l_discount) * 1e6)
      |      AS BIGINT)) AS BIGINT) AS total_micros
      |  FROM lineitem
      |  WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
      |    AND l_shipdate < TIMESTAMP '1996-04-01 00:00:00'
      |  GROUP BY l_suppkey)
      |SELECT s.s_suppkey, s.s_name, r.total_micros
      |FROM supplier s JOIN revenue r ON s.s_suppkey = r.supplier_no
      |WHERE r.total_micros = (SELECT max(total_micros) FROM revenue)
      |ORDER BY s.s_suppkey""".stripMargin)

  query("q17_small_qty_revenue") { (s, dir) =>
    // TPC-H Q17 shape (schema-adapted: brand + type stand in for the
    // missing p_container): average yearly revenue lost if
    // below-one-fifth-of-average-quantity orders stopped. The
    // per-part average filter is decorrelated into one aggregate join
    // (the scale-correct plan for a correlated AVG subquery), and the
    // one-fifth comparison is EXACT integer arithmetic on quantity
    // cents — qty < avg/5  ⇔  5·n·qty_cents < sum_cents — so no float
    // average can flip a boundary row between engines.
    Tables.register(s, dir)
    s.sql(
      """WITH pq AS (
        |  SELECT l_partkey, count(*) AS n,
        |    CAST(sum(CAST(round(l_quantity * 100) AS BIGINT)) AS BIGINT)
        |      AS sum_qc
        |  FROM lineitem GROUP BY l_partkey)
        |SELECT count(*) AS n_small,
        |  CAST(sum(CAST(round(l.l_extendedprice * 1e6) AS BIGINT))
        |    AS BIGINT) AS sum_micros,
        |  CAST(sum(CAST(round(l.l_extendedprice * 1e6) AS BIGINT))
        |    AS DOUBLE) / 7e6 AS avg_yearly
        |FROM lineitem l
        |JOIN part p ON p.p_partkey = l.l_partkey
        |JOIN pq ON pq.l_partkey = l.l_partkey
        |WHERE p.p_brand = 'Brand#23' AND p.p_type = 'MEDIUM'
        |  AND CAST(round(l.l_quantity * 100) AS BIGINT) * pq.n * 5
        |      < pq.sum_qc""".stripMargin)
  }.oracle(
    """WITH pq AS (
      |  SELECT l_partkey, count(*) AS n,
      |    CAST(sum(CAST(round(l_quantity * 100) AS BIGINT)) AS BIGINT)
      |      AS sum_qc
      |  FROM lineitem GROUP BY l_partkey)
      |SELECT count(*) AS n_small,
      |  CAST(sum(CAST(round(l.l_extendedprice * 1e6) AS BIGINT))
      |    AS BIGINT) AS sum_micros,
      |  CAST(CAST(sum(CAST(round(l.l_extendedprice * 1e6) AS BIGINT))
      |    AS BIGINT) AS DOUBLE) / 7e6 AS avg_yearly
      |FROM lineitem l
      |JOIN part p ON p.p_partkey = l.l_partkey
      |JOIN pq ON pq.l_partkey = l.l_partkey
      |WHERE p.p_brand = 'Brand#23' AND p.p_type = 'MEDIUM'
      |  AND CAST(round(l.l_quantity * 100) AS BIGINT) * pq.n * 5
      |      < pq.sum_qc""".stripMargin)

  query("q21_waiting_suppliers") { (s, dir) =>
    // TPC-H Q21 shape (schema-adapted: the testdata has no commit/
    // receipt dates, so "kept waiting" = shipped more than 75 days
    // after the order date, as Q4 adapted with 30): suppliers in one
    // nation who were the ONLY late supplier on a finished
    // multi-supplier order. The EXISTS plans as a left-semi join and
    // the NOT EXISTS as a left-anti join, both on l_orderkey with a
    // non-equi suppkey conjunct; lateness is computed ONCE in the CTE
    // so neither subquery re-correlates on the outer order date.
    Tables.register(s, dir)
    s.sql(
      """WITH ll AS (
        |  SELECT l.l_orderkey, l.l_suppkey,
        |    CASE WHEN l.l_shipdate > o.o_orderdate + INTERVAL 75 DAYS
        |         THEN 1 ELSE 0 END AS late
        |  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
        |  WHERE o.o_orderstatus = 'F')
        |SELECT s.s_name, count(*) AS numwait
        |FROM supplier s
        |JOIN ll l1 ON s.s_suppkey = l1.l_suppkey AND l1.late = 1
        |JOIN nation n ON s.s_nationkey = n.n_nationkey
        |WHERE n.n_name = 'NATION_3'
        |  AND EXISTS (
        |    SELECT 1 FROM ll l2
        |    WHERE l2.l_orderkey = l1.l_orderkey
        |      AND l2.l_suppkey <> l1.l_suppkey)
        |  AND NOT EXISTS (
        |    SELECT 1 FROM ll l3
        |    WHERE l3.l_orderkey = l1.l_orderkey
        |      AND l3.l_suppkey <> l1.l_suppkey
        |      AND l3.late = 1)
        |GROUP BY s.s_name
        |ORDER BY numwait DESC, s.s_name
        |LIMIT 100""".stripMargin)
  }.oracle(
    """WITH ll AS (
      |  SELECT l.l_orderkey, l.l_suppkey,
      |    CASE WHEN l.l_shipdate > o.o_orderdate + INTERVAL 75 DAY
      |         THEN 1 ELSE 0 END AS late
      |  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
      |  WHERE o.o_orderstatus = 'F')
      |SELECT s.s_name, count(*) AS numwait
      |FROM supplier s
      |JOIN ll l1 ON s.s_suppkey = l1.l_suppkey AND l1.late = 1
      |JOIN nation n ON s.s_nationkey = n.n_nationkey
      |WHERE n.n_name = 'NATION_3'
      |  AND EXISTS (
      |    SELECT 1 FROM ll l2
      |    WHERE l2.l_orderkey = l1.l_orderkey
      |      AND l2.l_suppkey <> l1.l_suppkey)
      |  AND NOT EXISTS (
      |    SELECT 1 FROM ll l3
      |    WHERE l3.l_orderkey = l1.l_orderkey
      |      AND l3.l_suppkey <> l1.l_suppkey
      |      AND l3.late = 1)
      |GROUP BY s.s_name
      |ORDER BY numwait DESC, s.s_name
      |LIMIT 100""".stripMargin)

  /** The testdata has no `partsupp` table, so the Q2/Q9/Q11/Q16/Q20
    * family derives one deterministically from lineitem: a
    * part-supplier pair's supply cost is the cheapest extended price
    * either ever shipped at (exact integer cents), its available
    * quantity the pair's lifetime shipped quantity (exact quantity
    * cents). Both are exact-integer aggregates, so Spark and the
    * DuckDB oracle agree bit-for-bit and every downstream comparison
    * (min-cost equality, value thresholds, half-volume tests) is
    * unperturbable by float summation order. */
  private val partsuppCte =
    """ps AS (
      |  SELECT l_partkey AS ps_partkey, l_suppkey AS ps_suppkey,
      |    CAST(min(CAST(round(l_extendedprice * 100) AS BIGINT))
      |      AS BIGINT) AS ps_cost_cents,
      |    CAST(sum(CAST(round(l_quantity * 100) AS BIGINT))
      |      AS BIGINT) AS ps_avail_qc
      |  FROM lineitem GROUP BY l_partkey, l_suppkey)""".stripMargin

  query("q2_min_cost_supplier") { (s, dir) =>
    // TPC-H Q2 shape: for each qualifying part, the EUROPE supplier(s)
    // offering the minimum supply cost — the correlated scalar
    // MIN-subquery pattern (the subquery re-joins supplier/nation/
    // region per outer part). Catalyst decorrelates it into an
    // aggregate-then-join; cost is exact cents so `= min` cannot be
    // perturbed. s_suppkey closes the total order (acctbal ties).
    Tables.register(s, dir)
    s.sql(
      s"""WITH $partsuppCte
        |SELECT s.s_acctbal, s.s_name, n.n_name, p.p_partkey, p.p_name,
        |  ps.ps_cost_cents, s.s_suppkey
        |FROM part p
        |JOIN ps ON p.p_partkey = ps.ps_partkey
        |JOIN supplier s ON s.s_suppkey = ps.ps_suppkey
        |JOIN nation n ON s.s_nationkey = n.n_nationkey
        |JOIN region r ON n.n_regionkey = r.r_regionkey
        |WHERE p.p_size = 15 AND p.p_type = 'SMALL' AND r.r_name = 'EUROPE'
        |  AND ps.ps_cost_cents = (
        |    SELECT min(ps2.ps_cost_cents)
        |    FROM ps ps2
        |    JOIN supplier s2 ON s2.s_suppkey = ps2.ps_suppkey
        |    JOIN nation n2 ON s2.s_nationkey = n2.n_nationkey
        |    JOIN region r2 ON n2.n_regionkey = r2.r_regionkey
        |    WHERE ps2.ps_partkey = p.p_partkey AND r2.r_name = 'EUROPE')
        |ORDER BY s.s_acctbal DESC, n.n_name, s.s_name, p.p_partkey,
        |  s.s_suppkey
        |LIMIT 100""".stripMargin)
  }.oracle(
    // Q2/Q9/Q11/Q16/Q20 oracles share the exact-integer derived
    // partsupp CTE with the engine side — identical text, both
    // dialects parse it — so the pair relation is one definition.
    s"""WITH $partsuppCte
      |SELECT s.s_acctbal, s.s_name, n.n_name, p.p_partkey, p.p_name,
      |  ps.ps_cost_cents, s.s_suppkey
      |FROM part p
      |JOIN ps ON p.p_partkey = ps.ps_partkey
      |JOIN supplier s ON s.s_suppkey = ps.ps_suppkey
      |JOIN nation n ON s.s_nationkey = n.n_nationkey
      |JOIN region r ON n.n_regionkey = r.r_regionkey
      |WHERE p.p_size = 15 AND p.p_type = 'SMALL' AND r.r_name = 'EUROPE'
      |  AND ps.ps_cost_cents = (
      |    SELECT min(ps2.ps_cost_cents)
      |    FROM ps ps2
      |    JOIN supplier s2 ON s2.s_suppkey = ps2.ps_suppkey
      |    JOIN nation n2 ON s2.s_nationkey = n2.n_nationkey
      |    JOIN region r2 ON n2.n_regionkey = r2.r_regionkey
      |    WHERE ps2.ps_partkey = p.p_partkey AND r2.r_name = 'EUROPE')
      |ORDER BY s.s_acctbal DESC, n.n_name, s.s_name, p.p_partkey,
      |  s.s_suppkey
      |LIMIT 100""".stripMargin)

  query("q9_product_profit") { (s, dir) =>
    // TPC-H Q9 shape: per-nation per-year profit on a part family —
    // the deep multi-way join (lineitem × part × supplier × orders ×
    // nation × derived partsupp). Profit = revenue − cost·qty, all in
    // exact integer micros (cost cents × qty cents × 100 = micros), so
    // the per-group sums hash-match despite double source columns.
    Tables.register(s, dir)
    // The reference CTE shape (GROUP BY lineitem → self-join back on
    // (partkey, suppkey) — the oracle still replays it definitionally)
    // costs two full fact shuffles before the first useful join. The
    // Spark plan instead: broadcast-join the red-part filter and
    // supplier at SCAN stage (both dimension-sized at any SF), then
    // one window over (l_partkey, l_suppkey) computes the same
    // per-group min cost — the partkey determines redness, so the min
    // over red-filtered rows IS the group min the CTE produces — and
    // one orders join finishes. lineitem crosses the wire twice
    // (window + orders join) instead of four times; at the sf10
    // rehearsal this took q9 from 110 s to ~19 s.
    s.sql(
      s"""SELECT nation, o_year,
        |  CAST(sum(amount_micros) AS BIGINT) AS sum_profit_micros
        |FROM (
        |  SELECT n.n_name AS nation,
        |    CAST(year(o.o_orderdate) AS INT) AS o_year,
        |    CAST(round(l.l_extendedprice * (1 - l.l_discount) * 1e6)
        |        AS BIGINT)
        |      - min(CAST(round(l.l_extendedprice * 100) AS BIGINT))
        |          OVER (PARTITION BY l.l_partkey, l.l_suppkey)
        |        * CAST(round(l.l_quantity * 100) AS BIGINT) * 100
        |      AS amount_micros
        |  FROM lineitem l
        |  JOIN supplier s ON s.s_suppkey = l.l_suppkey
        |  JOIN part p ON p.p_partkey = l.l_partkey
        |  JOIN orders o ON o.o_orderkey = l.l_orderkey
        |  JOIN nation n ON s.s_nationkey = n.n_nationkey
        |  WHERE p.p_name LIKE '%red%') profit
        |GROUP BY nation, o_year
        |ORDER BY nation, o_year DESC""".stripMargin)
  }.oracle(
    s"""WITH $partsuppCte
      |SELECT nation, o_year,
      |  CAST(sum(amount_micros) AS BIGINT) AS sum_profit_micros
      |FROM (
      |  SELECT n.n_name AS nation,
      |    CAST(year(o.o_orderdate) AS INTEGER) AS o_year,
      |    CAST(round(l.l_extendedprice * (1 - l.l_discount) * 1e6)
      |        AS BIGINT)
      |      - ps.ps_cost_cents
      |        * CAST(round(l.l_quantity * 100) AS BIGINT) * 100
      |      AS amount_micros
      |  FROM lineitem l
      |  JOIN supplier s ON s.s_suppkey = l.l_suppkey
      |  JOIN ps ON ps.ps_partkey = l.l_partkey
      |    AND ps.ps_suppkey = l.l_suppkey
      |  JOIN part p ON p.p_partkey = l.l_partkey
      |  JOIN orders o ON o.o_orderkey = l.l_orderkey
      |  JOIN nation n ON s.s_nationkey = n.n_nationkey
      |  WHERE p.p_name LIKE '%red%') profit
      |GROUP BY nation, o_year
      |ORDER BY nation, o_year DESC""".stripMargin)

  query("q11_important_stock") { (s, dir) =>
    // TPC-H Q11 shape: parts whose stock value at one nation's
    // suppliers exceeds a fixed fraction of that nation's total stock
    // value — the HAVING-against-global-scalar pattern, here as a
    // WHERE over a reused CTE so the grand total is computed from the
    // SAME frame the per-part values come from. value_u is the exact
    // integer cost·qty product; ×1000 stays far below BIGINT range.
    Tables.register(s, dir)
    s.sql(
      s"""WITH $partsuppCte,
        |v AS (
        |  SELECT ps.ps_partkey,
        |    CAST(sum(ps.ps_cost_cents * ps.ps_avail_qc) AS BIGINT)
        |      AS value_u
        |  FROM ps JOIN supplier s ON ps.ps_suppkey = s.s_suppkey
        |  JOIN nation n ON s.s_nationkey = n.n_nationkey
        |  WHERE n.n_name = 'NATION_7'
        |  GROUP BY ps.ps_partkey)
        |SELECT ps_partkey, value_u FROM v
        |WHERE value_u * 1000 > (SELECT CAST(sum(value_u) AS BIGINT)
        |                        FROM v)
        |ORDER BY value_u DESC, ps_partkey""".stripMargin)
  }.oracle(
    s"""WITH $partsuppCte,
      |v AS (
      |  SELECT ps.ps_partkey,
      |    CAST(sum(ps.ps_cost_cents * ps.ps_avail_qc) AS BIGINT)
      |      AS value_u
      |  FROM ps JOIN supplier s ON ps.ps_suppkey = s.s_suppkey
      |  JOIN nation n ON s.s_nationkey = n.n_nationkey
      |  WHERE n.n_name = 'NATION_7'
      |  GROUP BY ps.ps_partkey)
      |SELECT ps_partkey, value_u FROM v
      |WHERE value_u * 1000 > (SELECT CAST(sum(value_u) AS BIGINT)
      |                        FROM v)
      |ORDER BY value_u DESC, ps_partkey""".stripMargin)

  query("q16_supplier_cnt") { (s, dir) =>
    // TPC-H Q16 shape: distinct-supplier counts per (brand, type,
    // size) over the pair relation, excluding a brand/type family and
    // a NOT IN supplier blacklist (acctbal stands in for the missing
    // comment column) — count-distinct over a semi-structure plus a
    // null-aware anti join.
    Tables.register(s, dir)
    s.sql(
      """WITH ps AS (
        |  SELECT DISTINCT l_partkey AS ps_partkey, l_suppkey AS ps_suppkey
        |  FROM lineitem)
        |SELECT p.p_brand, p.p_type, p.p_size,
        |  CAST(count(DISTINCT ps.ps_suppkey) AS BIGINT) AS supplier_cnt
        |FROM ps JOIN part p ON p.p_partkey = ps.ps_partkey
        |WHERE p.p_brand <> 'Brand#2' AND p.p_type NOT LIKE 'SMALL%'
        |  AND p.p_size IN (1, 5, 11, 15, 23, 28, 37, 42)
        |  AND ps.ps_suppkey NOT IN (
        |    SELECT s_suppkey FROM supplier WHERE s_acctbal < 100)
        |GROUP BY p.p_brand, p.p_type, p.p_size
        |ORDER BY supplier_cnt DESC, p.p_brand, p.p_type, p.p_size"""
        .stripMargin)
  }.oracle(
    """WITH ps AS (
      |  SELECT DISTINCT l_partkey AS ps_partkey, l_suppkey AS ps_suppkey
      |  FROM lineitem)
      |SELECT p.p_brand, p.p_type, p.p_size,
      |  CAST(count(DISTINCT ps.ps_suppkey) AS BIGINT) AS supplier_cnt
      |FROM ps JOIN part p ON p.p_partkey = ps.ps_partkey
      |WHERE p.p_brand <> 'Brand#2' AND p.p_type NOT LIKE 'SMALL%'
      |  AND p.p_size IN (1, 5, 11, 15, 23, 28, 37, 42)
      |  AND ps.ps_suppkey NOT IN (
      |    SELECT s_suppkey FROM supplier WHERE s_acctbal < 100)
      |GROUP BY p.p_brand, p.p_type, p.p_size
      |ORDER BY supplier_cnt DESC, p.p_brand, p.p_type, p.p_size"""
      .stripMargin)

  query("q20_promotion_suppliers") { (s, dir) =>
    // TPC-H Q20 shape: the nested semi-join chain — suppliers IN
    // (pairs whose part is IN (small parts) with a correlated
    // half-volume test). Adapted predicate: a substantial stake
    // (lifetime volume > 50 qty) in a small part, more than half of it
    // shipped during 1995 — all integer quantity-cents, and the
    // correlated sum's NULL (no 1995 shipments) rejects the pair
    // identically in both engines.
    Tables.register(s, dir)
    s.sql(
      s"""WITH $partsuppCte
        |SELECT s.s_suppkey, s.s_name
        |FROM supplier s JOIN nation n ON s.s_nationkey = n.n_nationkey
        |WHERE n.n_name = 'NATION_5'
        |  AND s.s_suppkey IN (
        |    SELECT ps.ps_suppkey FROM ps
        |    WHERE ps.ps_avail_qc > 5000
        |      AND ps.ps_partkey IN (
        |        SELECT p_partkey FROM part WHERE p_name LIKE 'small%')
        |      AND (SELECT CAST(sum(CAST(round(l.l_quantity * 100)
        |              AS BIGINT)) AS BIGINT)
        |           FROM lineitem l
        |           WHERE l.l_partkey = ps.ps_partkey
        |             AND l.l_suppkey = ps.ps_suppkey
        |             AND l.l_shipdate >= TIMESTAMP '1995-01-01 00:00:00'
        |             AND l.l_shipdate < TIMESTAMP '1996-01-01 00:00:00')
        |          * 2 > ps.ps_avail_qc)
        |ORDER BY s.s_name, s.s_suppkey""".stripMargin)
  }.oracle(
    s"""WITH $partsuppCte
      |SELECT s.s_suppkey, s.s_name
      |FROM supplier s JOIN nation n ON s.s_nationkey = n.n_nationkey
      |WHERE n.n_name = 'NATION_5'
      |  AND s.s_suppkey IN (
      |    SELECT ps.ps_suppkey FROM ps
      |    WHERE ps.ps_avail_qc > 5000
      |      AND ps.ps_partkey IN (
      |        SELECT p_partkey FROM part WHERE p_name LIKE 'small%')
      |      AND (SELECT CAST(sum(CAST(round(l.l_quantity * 100)
      |              AS BIGINT)) AS BIGINT)
      |           FROM lineitem l
      |           WHERE l.l_partkey = ps.ps_partkey
      |             AND l.l_suppkey = ps.ps_suppkey
      |             AND l.l_shipdate >= TIMESTAMP '1995-01-01 00:00:00'
      |             AND l.l_shipdate < TIMESTAMP '1996-01-01 00:00:00')
      |          * 2 > ps.ps_avail_qc)
      |ORDER BY s.s_name, s.s_suppkey""".stripMargin)
}
