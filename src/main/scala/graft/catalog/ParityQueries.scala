package graft
package catalog

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.sources.Tables
import graft.operators.Iterate
import Shared._

/** The reference-parity family: the SPJU operators of the reference's
  * lifecycle (`RPC/RPC/RPC.cs:20-28`): LEAF scan, SEL, PROJ, JOIN and
  * UNION over fragments, the raw-SQL passthrough, and the MySQL dialect
  * front end. */
object ParityQueries extends Family {

  query("scan_leaf") { (s, dir) =>
    // LEAF scan with pushed-down predicate (ref doQuery, RPC.cs:311-329):
    // filter + projection reach the parquet reader via Catalyst.
    Tables.load(s, dir, "lineitem")
      .filter(col("l_quantity") > 45)
      .select("l_orderkey", "l_linenumber", "l_partkey", "l_quantity")
      .orderBy("l_orderkey", "l_linenumber")
  }.oracle(
    """SELECT l_orderkey, l_linenumber, l_partkey, l_quantity
      |FROM lineitem WHERE l_quantity > 45
      |ORDER BY l_orderkey, l_linenumber""".stripMargin)

  query("sel_conjunctive") { (s, dir) =>
    // SEL: conjunctive comparison predicates (ref doSelect RPC.cs:343-356;
    // WHERE flattening QueryService.asmx.cs:658-674).
    t(s, dir, "orders")
      .filter(col("o_totalprice") > 200000 && col("o_orderstatus") === "F")
      .select("o_orderkey", "o_custkey", "o_totalprice", "o_orderstatus")
      .orderBy("o_orderkey")
  }.oracle(
    """SELECT o_orderkey, o_custkey, o_totalprice, o_orderstatus
      |FROM orders
      |WHERE o_totalprice > 200000 AND o_orderstatus = 'F'
      |ORDER BY o_orderkey""".stripMargin)

  query("proj_columns") { (s, dir) =>
    // PROJ: pure column selection (ref doProject RPC.cs:357-375).
    t(s, dir, "customer")
      .select("c_custkey", "c_name", "c_mktsegment")
      .orderBy("c_custkey")
  }.oracle(
    """SELECT c_custkey, c_name, c_mktsegment FROM customer
      |ORDER BY c_custkey""".stripMargin)

  query("join_equi") { (s, dir) =>
    // JOIN: single-key equi inner join (ref doJoin RPC.cs:248-310).
    val c = t(s, dir, "customer")
    val o = t(s, dir, "orders")
    c.join(o, c("c_custkey") === o("o_custkey"))
      .filter(c("c_acctbal") > 5000)
      .select(c("c_custkey"), c("c_name"), o("o_orderkey"),
        o("o_totalprice"))
      .orderBy("o_orderkey")
  }.oracle(
    """SELECT c.c_custkey, c.c_name, o.o_orderkey, o.o_totalprice
      |FROM customer c JOIN orders o ON c.c_custkey = o.o_custkey
      |WHERE c.c_acctbal > 5000
      |ORDER BY o.o_orderkey""".stripMargin)

  query("join_multiway") { (s, dir) =>
    // Left-deep multi-join tree (ref GetAlgTree,
    // QueryService.asmx.cs:169-247) — nation/region are fixed-size dims,
    // broadcast explicitly: at 100 TB they are still 25/5 rows.
    val c = t(s, dir, "customer")
    val o = t(s, dir, "orders")
    val n = t(s, dir, "nation")
    c.join(o, c("c_custkey") === o("o_custkey"))
      .join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
      .filter(o("o_totalprice") > 300000)
      .select(n("n_name"), c("c_name"), o("o_orderkey"), o("o_totalprice"))
      .orderBy("o_orderkey")
  }.oracle(
    """SELECT n.n_name, c.c_name, o.o_orderkey, o.o_totalprice
      |FROM customer c
      |JOIN orders o ON c.c_custkey = o.o_custkey
      |JOIN nation n ON c.c_nationkey = n.n_nationkey
      |WHERE o.o_totalprice > 300000
      |ORDER BY o.o_orderkey""".stripMargin)

  query("union_horizontal_frag") { (s, dir) =>
    // UNION reassembly of horizontal fragments (ref doUnion RPC.cs:330-342
    // + localizer :338-367): orders_f is the 4-way fragment union view;
    // must equal the base table.
    t(s, dir, "orders_f").orderBy("o_orderkey")
  }.oracle(
    "SELECT * FROM orders ORDER BY o_orderkey")

  query("join_vertical_frag") { (s, dir) =>
    // Vertical-fragment reconstruction by key join (ref
    // QueryService.asmx.cs:320-337): customer_f ≡ customer.
    t(s, dir, "customer_f").orderBy("c_custkey")
  }.oracle(
    """SELECT c_custkey, c_name, c_nationkey, c_acctbal, c_mktsegment
      |FROM customer ORDER BY c_custkey""".stripMargin)

  query("union_all") { (s, dir) =>
    // Language-level UNION ALL (bag semantics, ref doUnion Merge
    // behavior): two disjoint selections recombined.
    val o = t(s, dir, "orders")
    val hi = o.filter(col("o_totalprice") > 400000)
    val lo = o.filter(col("o_totalprice") < 10000)
    hi.unionByName(lo)
      .select("o_orderkey", "o_totalprice")
      .orderBy("o_orderkey")
  }.oracle(
    """SELECT o_orderkey, o_totalprice FROM orders
      |WHERE o_totalprice > 400000
      |UNION ALL
      |SELECT o_orderkey, o_totalprice FROM orders
      |WHERE o_totalprice < 10000
      |ORDER BY o_orderkey""".stripMargin)

  query("passthrough_sql") { (s, dir) =>
    // Raw SQL passthrough (ref GetData, QueryService.asmx.cs:90-100).
    Tables.register(s, dir)
    new Engine(s, dir).getData(
      """SELECT s_suppkey, s_name, s_acctbal FROM supplier
        |WHERE s_acctbal > 0 ORDER BY s_suppkey""".stripMargin)
  }.oracle(
    """SELECT s_suppkey, s_name, s_acctbal FROM supplier
      |WHERE s_acctbal > 0 ORDER BY s_suppkey""".stripMargin)

  query("sql_dialect") { (s, dir) =>
    // The reference's SQL input surface is MySQL dialect
    // (QueryService.asmx.cs:143-157, TDbVendor.DbVMysql): this parity
    // query exercises every MySQL-ism in the reference's SPJ shapes —
    // backtick quoting, a double-quoted string literal, <> and !=,
    // and the two-argument LIMIT — through MySqlDialect.translate
    // into the same raw-SQL surface as passthrough_sql.
    Tables.register(s, dir)
    new Engine(s, dir).getData(MySqlDialect.translate(
      """SELECT `c_custkey`, `c_name`, `c_acctbal`
        |FROM `customer`
        |WHERE `c_nationkey` <> 3 AND `c_mktsegment` = "BUILDING"
        |  AND `c_acctbal` != 0
        |ORDER BY `c_custkey` LIMIT 5, 10""".stripMargin))
  }.oracle(
    // The MySQL-dialect statement above, re-spelled in the oracle's
    // ANSI dialect: backticks dropped, the double-quoted literal
    // single-quoted, LIMIT off,cnt as LIMIT cnt OFFSET off.
    """SELECT c_custkey, c_name, c_acctbal FROM customer
      |WHERE c_nationkey <> 3 AND c_mktsegment = 'BUILDING'
      |  AND c_acctbal != 0
      |ORDER BY c_custkey LIMIT 10 OFFSET 5""".stripMargin)

  query("sql_dialect_funcs") { (s, dir) =>
    // MySQL function-level dialect breadth (gudusoft accepts full
    // MySQL, QueryService.asmx.cs:143-157): GROUP_CONCAT and
    // DATE_FORMAT are the two most common constructs a migrated MySQL
    // workload carries; both now translate structurally
    // (MySqlDialect GROUP_CONCAT → array_join(collect/sort), %-token
    // pattern mapping) instead of failing loudly. ORDER BY inside
    // GROUP_CONCAT sorts by the key's NATIVE type (numeric, not
    // lexicographic) — the oracle's string_agg(... ORDER BY o_orderkey)
    // replays exactly that. The long tail rides along: IFNULL
    // (Spark-identical, no rewrite), interval DATE_ADD/DATE_SUB
    // (→ ± INTERVAL arithmetic — the form Spark's parser rejects),
    // both nested inside DATE_FORMAT to exercise the recursive scan;
    // FROM_UNIXTIME's two-argument form (VALID Spark with silently
    // different pattern semantics — the worst kind of dialect gap)
    // and STR_TO_DATE (MySQL-only parse, → to_date/to_timestamp),
    // both as epoch/text round-trips so the oracle replays them
    // timezone-free.
    Tables.register(s, dir)
    new Engine(s, dir).getData(MySqlDialect.translate(
      """SELECT DATE_FORMAT(`o_orderdate`, '%Y-%m') AS ym,
        |  GROUP_CONCAT(`o_orderkey` ORDER BY `o_orderkey` SEPARATOR "|")
        |    AS ks,
        |  COUNT(*) AS n,
        |  IFNULL(MIN(CASE WHEN `o_orderpriority` = '1-URGENT'
        |                  THEN `o_orderkey` END), -1) AS urg_key,
        |  DATE_FORMAT(DATE_ADD(MIN(`o_orderdate`), INTERVAL 1 MONTH),
        |              '%Y-%m-%d') AS next_m,
        |  DATE_FORMAT(DATE_SUB(MIN(`o_orderdate`), INTERVAL 7 DAY),
        |              '%Y-%m-%d') AS prev_w,
        |  FROM_UNIXTIME(UNIX_TIMESTAMP(MIN(`o_orderdate`)),
        |                '%Y-%m-%d %H:%i:%s') AS epoch_rt,
        |  DATE_FORMAT(STR_TO_DATE(DATE_FORMAT(MAX(`o_orderdate`),
        |                                       '%d/%m/%Y'),
        |                          '%d/%m/%Y'), '%Y-%m-%d') AS reparsed
        |FROM `orders`
        |WHERE `o_totalprice` < 5000
        |GROUP BY DATE_FORMAT(`o_orderdate`, '%Y-%m')
        |ORDER BY ym""".stripMargin))
  }.oracle(
    // The MySQL GROUP_CONCAT/DATE_FORMAT statement in the oracle's
    // dialect: string_agg with an ORDER BY on the NATIVE key (numeric,
    // matching the translation's struct-sort), strftime's %-patterns
    // (DuckDB shares MySQL's % tokens for these).
    """SELECT strftime(o_orderdate, '%Y-%m') AS ym,
      |  string_agg(CAST(o_orderkey AS VARCHAR), '|'
      |             ORDER BY o_orderkey) AS ks,
      |  COUNT(*) AS n,
      |  COALESCE(MIN(CASE WHEN o_orderpriority = '1-URGENT'
      |                    THEN o_orderkey END), -1) AS urg_key,
      |  strftime(MIN(o_orderdate) + INTERVAL 1 MONTH,
      |           '%Y-%m-%d') AS next_m,
      |  strftime(MIN(o_orderdate) - INTERVAL 7 DAY,
      |           '%Y-%m-%d') AS prev_w,
      |  strftime(CAST(MIN(o_orderdate) AS TIMESTAMP),
      |           '%Y-%m-%d %H:%M:%S') AS epoch_rt,
      |  strftime(strptime(strftime(MAX(o_orderdate), '%d/%m/%Y'),
      |                    '%d/%m/%Y'), '%Y-%m-%d') AS reparsed
      |FROM orders WHERE o_totalprice < 5000
      |GROUP BY ym ORDER BY ym""".stripMargin)

  query("sql_collation_ci") { (s, dir) =>
    // The reference's MySQL sites compare strings case-insensitively
    // (utf8 `_ci` default collations), so its WHERE seg = 'building'
    // matches the data's uppercase 'BUILDING'; Spark compares binary.
    // The opt-in parity mode spark.graft.mysqlCollation=ci rewrites
    // string comparisons to UTF8_LCASE collation at analysis time
    // (MySqlCiCollation rule) — this query returns ZERO rows without
    // the flag and the ci row set with it; the oracle replays MySQL's
    // semantics with lower()-wrapped comparisons. The scope's temp
    // views are the caller's, so `ci.sql` is Engine.getData over them.
    Tables.register(s, dir)
    Iterate.scoped(s, "spark.graft.mysqlCollation" -> "ci") { ci =>
      ci.sql(MySqlDialect.translate(
        """SELECT `c_custkey`, `c_name`, `c_mktsegment`
          |FROM `customer`
          |WHERE `c_mktsegment` = "building" AND `c_acctbal` >= 0
          |ORDER BY `c_custkey` LIMIT 0, 50""".stripMargin))
    }
  }.oracle(
    // MySQL-ci semantics replayed with lower() wraps (DuckDB compares
    // binary, like un-flagged Spark).
    """SELECT c_custkey, c_name, c_mktsegment FROM customer
      |WHERE lower(c_mktsegment) = lower('building') AND c_acctbal >= 0
      |ORDER BY c_custkey LIMIT 50 OFFSET 0""".stripMargin)

  query("recursive_cte") { (s, dir) =>
    // WITH RECURSIVE through the raw SQL surface (new in Spark 4.x):
    // the documents ids form an implicit binary-heap tree (parent =
    // id div 2); the recursion walks it from the root and labels each
    // node with its depth — ~log2(n) recursive rounds, each a join of
    // the frontier against the table, the iterative-query shape the
    // engine-side Graph operators hand-roll made declarative.
    Tables.register(s, dir)
    s.sql(
      """WITH RECURSIVE t(doc_id, depth) AS (
        |  SELECT doc_id, 0 FROM documents WHERE doc_id = 0
        |  UNION ALL
        |  SELECT d.doc_id, t.depth + 1
        |  FROM documents d JOIN t ON t.doc_id = d.doc_id div 2
        |  WHERE d.doc_id > 0)
        |SELECT doc_id, depth FROM t ORDER BY doc_id""".stripMargin)
  }.oracle(
    // Identical recursion in the oracle dialect (div spelled //).
    """WITH RECURSIVE t(doc_id, depth) AS (
      |  SELECT doc_id, 0 FROM documents WHERE doc_id = 0
      |  UNION ALL
      |  SELECT d.doc_id, t.depth + 1
      |  FROM documents d JOIN t ON t.doc_id = d.doc_id // 2
      |  WHERE d.doc_id > 0)
      |SELECT doc_id, depth FROM t ORDER BY doc_id""".stripMargin)

  query("frag_transparency_agg") { (s, dir) =>
    // The reference-era "big" query: SPJ over all fragment views + agg —
    // fragmentation must be fully transparent to Catalyst (pushdown
    // through the union/join views; SURVEY.md §4.1).
    Tables.register(s, dir)
    s.sql(
      """SELECT n.n_name, count(*) AS n_orders,
        |  sum(CAST(round(o.o_totalprice * 100) AS BIGINT)) / 100.0D
        |    AS revenue
        |FROM customer_f c
        |JOIN orders_f o ON c.c_custkey = o.o_custkey
        |JOIN nation n ON c.c_nationkey = n.n_nationkey
        |WHERE c.c_acctbal > 1000
        |GROUP BY n.n_name
        |ORDER BY n.n_name""".stripMargin)
  }.oracle(
    """SELECT n.n_name, count(*) AS n_orders,
      |  CAST(sum(CAST(round(o.o_totalprice * 100) AS BIGINT))
      |       AS BIGINT) / 100.0 AS revenue
      |FROM customer c
      |JOIN orders o ON c.c_custkey = o.o_custkey
      |JOIN nation n ON c.c_nationkey = n.n_nationkey
      |WHERE c.c_acctbal > 1000
      |GROUP BY n.n_name
      |ORDER BY n.n_name""".stripMargin)
}
