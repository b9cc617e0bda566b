package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.sources.Tables
import graft.operators.Iterate
import graft.operators.Iterate.MaterializeOps
import scala.jdk.CollectionConverters._

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Every entry below is one operator/capability from SURVEY.md §2 (the
  * reference's SPJU surface, `RPC/RPC/RPC.cs:20-28`) or §2.7/§7.2 (the
  * extended surface). Each has a DuckDB-runnable oracle in [[oracleSql]]
  * unless the op is not SQL-expressible (then the driver's rows>0 check
  * applies).
  *
  * Determinism rules used throughout (so Spark and DuckDB hash-match):
  *  - every query ends in a total-order ORDER BY (unique key included);
  *  - no raw double SUM/AVG over non-integral values: per-row values are
  *    scaled to integer cents/micros with ROUND (per-row IEEE ops are
  *    identical in both engines), summed exactly as BIGINT, and divided
  *    once at the end;
  *  - oracle aggregate types are CAST to Spark's output types
  *    (DuckDB sum(BIGINT) is HUGEINT, count/length are BIGINT, ...).
  */
object SparkEntry {

  /** Flagship query on sf=0.001 — the reference's headline shape
    * (SPJ over fragmented tables, `QueryService.asmx.cs:51-89`) extended
    * with aggregation, run through the Engine facade so plan JSON +
    * statistics are exercised too. */
  def entry(spark: SparkSession): DataFrame = {
    val eng = new Engine(spark, "/root/testdata/sf0.001")
    eng.query(
      """SELECT c.c_mktsegment, count(*) AS n_orders,
        |       sum(CAST(round(o.o_totalprice * 100) AS BIGINT)) / 100.0D
        |         AS total_price
        |FROM customer_f c JOIN orders_f o ON c.c_custkey = o.o_custkey
        |WHERE c.c_acctbal > 0
        |GROUP BY c.c_mktsegment
        |ORDER BY c.c_mktsegment""".stripMargin).df
  }

  private def t(s: SparkSession, dir: String, name: String): DataFrame = {
    Tables.register(s, dir)
    s.table(name)
  }

  /** Corpus-scoped suffix for managed (warehouse) table names: the
    * warehouse dir is JVM-/box-global shared state, so any query that
    * persists a table must key its name by the corpus or two engines
    * on different sfDirs overwrite each other's files mid-read. */
  private def corpusScope(dir: String): String =
    java.lang.Integer.toHexString(
      new java.io.File(dir).getAbsolutePath.hashCode & 0x7fffffff)

  /** Exact integer-cents sum of a 2-decimal double column / expression,
    * emitted as a double — deterministic across engines. */
  private def centsSum(c: org.apache.spark.sql.Column) =
    sum(round(c * 100).cast("long")) / 100.0
  private def microsSum(c: org.apache.spark.sql.Column) =
    sum(round(c * 1e6).cast("long")) / 1e6

  // ---------------------------------------------------------------------
  // Reference-parity surface (SURVEY.md §2: LEAF/SEL/PROJ/JOIN/UNION +
  // fragmentation localizer + raw-SQL passthrough)
  // ---------------------------------------------------------------------

  private def qScanLeaf(s: SparkSession, dir: String): DataFrame =
    // LEAF scan with pushed-down predicate (ref doQuery, RPC.cs:311-329):
    // filter + projection reach the parquet reader via Catalyst.
    Tables.load(s, dir, "lineitem")
      .filter(col("l_quantity") > 45)
      .select("l_orderkey", "l_linenumber", "l_partkey", "l_quantity")
      .orderBy("l_orderkey", "l_linenumber")

  private def qSelConjunctive(s: SparkSession, dir: String): DataFrame =
    // SEL: conjunctive comparison predicates (ref doSelect RPC.cs:343-356;
    // WHERE flattening QueryService.asmx.cs:658-674).
    t(s, dir, "orders")
      .filter(col("o_totalprice") > 200000 && col("o_orderstatus") === "F")
      .select("o_orderkey", "o_custkey", "o_totalprice", "o_orderstatus")
      .orderBy("o_orderkey")

  private def qProjColumns(s: SparkSession, dir: String): DataFrame =
    // PROJ: pure column selection (ref doProject RPC.cs:357-375).
    t(s, dir, "customer")
      .select("c_custkey", "c_name", "c_mktsegment")
      .orderBy("c_custkey")

  private def qJoinEqui(s: SparkSession, dir: String): DataFrame = {
    // JOIN: single-key equi inner join (ref doJoin RPC.cs:248-310).
    val c = t(s, dir, "customer")
    val o = t(s, dir, "orders")
    c.join(o, c("c_custkey") === o("o_custkey"))
      .filter(c("c_acctbal") > 5000)
      .select(c("c_custkey"), c("c_name"), o("o_orderkey"),
        o("o_totalprice"))
      .orderBy("o_orderkey")
  }

  private def qJoinMultiway(s: SparkSession, dir: String): DataFrame = {
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
  }

  private def qUnionHorizontalFrag(s: SparkSession, dir: String): DataFrame =
    // UNION reassembly of horizontal fragments (ref doUnion RPC.cs:330-342
    // + localizer :338-367): orders_f is the 4-way fragment union view;
    // must equal the base table.
    t(s, dir, "orders_f").orderBy("o_orderkey")

  private def qJoinVerticalFrag(s: SparkSession, dir: String): DataFrame =
    // Vertical-fragment reconstruction by key join (ref
    // QueryService.asmx.cs:320-337): customer_f ≡ customer.
    t(s, dir, "customer_f").orderBy("c_custkey")

  private def qSourceJdbc(s: SparkSession, dir: String): DataFrame = {
    // The reference's actual source modality exercised END TO END:
    // per-site relational databases (`RPC/RPC/RPC.cs:313` — MySQL,
    // `database=site{Site}`), here an embedded Derby site db built once
    // from the same parquet the oracle reads (content-identical by
    // construction). Four horizontal orders fragments and the vertical
    // customer split come back over REAL JDBC — driver, dialect, SQL
    // pushdown — are reassembled, and feed a cents-exact segment
    // rollup. Each site read is range-PARTITIONED on the primary key
    // (the shape a 100 TB relational ingest needs: per-site parallel
    // extraction, no single-connection bottleneck).
    val url = graft.sources.JdbcScaffold.ensure(s, dir)
    val props = new java.util.Properties()
    val sites = (0 until 4).map { i =>
      // Derby folds unquoted identifiers to upper case; Spark's JDBC
      // writer created the columns quoted-lowercase — quote to match
      val b = s.read.jdbc(url,
        s"""(SELECT MIN("o_orderkey") lo, MAX("o_orderkey") hi """ +
          s"FROM orders_site$i) b", props).collect()(0)
      // an empty fragment yields NULL bounds — read it unpartitioned
      // (nothing to parallelize) instead of feeding 0L to the ranges
      if (b.isNullAt(0)) s.read.jdbc(url, s"orders_site$i", props)
      else s.read.jdbc(url, s"orders_site$i", "o_orderkey",
        b.getLong(0), b.getLong(1), 4, props)
    }
    val orders = sites.reduce(_ unionByName _)
    val customer = s.read.jdbc(url, "customer_v1", props)
      .join(s.read.jdbc(url, "customer_v2", props), "c_custkey")
    orders.join(customer, col("o_custkey") === col("c_custkey"))
      .groupBy("c_mktsegment")
      .agg(count(lit(1)).as("n_orders"),
        centsSum(col("o_totalprice")).as("revenue"))
      .orderBy("c_mktsegment")
  }

  private def qUnionAll(s: SparkSession, dir: String): DataFrame = {
    // Language-level UNION ALL (bag semantics, ref doUnion Merge
    // behavior): two disjoint selections recombined.
    val o = t(s, dir, "orders")
    val hi = o.filter(col("o_totalprice") > 400000)
    val lo = o.filter(col("o_totalprice") < 10000)
    hi.unionByName(lo)
      .select("o_orderkey", "o_totalprice")
      .orderBy("o_orderkey")
  }

  private def qPassthroughSql(s: SparkSession, dir: String): DataFrame = {
    // Raw SQL passthrough (ref GetData, QueryService.asmx.cs:90-100).
    Tables.register(s, dir)
    new Engine(s, dir).getData(
      """SELECT s_suppkey, s_name, s_acctbal FROM supplier
        |WHERE s_acctbal > 0 ORDER BY s_suppkey""".stripMargin)
  }

  private def qSqlDialect(s: SparkSession, dir: String): DataFrame = {
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
  }

  private def qSqlDialectFuncs(s: SparkSession, dir: String): DataFrame = {
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
  }

  private def qSqlCollationCi(s: SparkSession, dir: String): DataFrame = {
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
  }

  // ---------------------------------------------------------------------
  // SQL breadth (SURVEY.md §2.7 — everything the reference lacks)
  // ---------------------------------------------------------------------

  private def qRecursiveCte(s: SparkSession, dir: String): DataFrame = {
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
  }

  private def qAggQ1(s: SparkSession, dir: String): DataFrame =
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

  private def qAggDistinct(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "orders")
      .groupBy("o_orderpriority")
      .agg(
        countDistinct("o_custkey").as("n_customers"),
        count(lit(1)).as("n_orders"))
      .orderBy("o_orderpriority")

  private def qAggHaving(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "orders")
      .groupBy("o_custkey")
      .agg(count(lit(1)).as("n_orders"),
        centsSum(col("o_totalprice")).as("spend"))
      .filter(col("n_orders") >= 3)
      .orderBy("o_custkey")

  private def qAggRollup(s: SparkSession, dir: String): DataFrame = {
    Tables.register(s, dir)
    s.sql(
      """SELECT /*+ BROADCAST(n) */ n_name, c_mktsegment,
        |  count(*) AS n_cust,
        |  sum(CAST(round(c_acctbal * 100) AS BIGINT)) / 100.0D AS balance
        |FROM customer c JOIN nation n ON c_nationkey = n_nationkey
        |GROUP BY ROLLUP(n_name, c_mktsegment)
        |ORDER BY n_name ASC NULLS FIRST, c_mktsegment ASC NULLS FIRST
        |""".stripMargin)
  }

  private def qWindowRank(s: SparkSession, dir: String): DataFrame = {
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
  }

  private def qWindowRunning(s: SparkSession, dir: String): DataFrame = {
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
  }

  private def qSortLimitTopk(s: SparkSession, dir: String): DataFrame =
    // ORDER BY + LIMIT → TakeOrderedAndProject: the scalable top-k (per-
    // partition heaps, no global sort).
    t(s, dir, "orders")
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      .select("o_orderkey", "o_custkey", "o_totalprice")
      .limit(100)

  private def qSetopIntersect(s: SparkSession, dir: String): DataFrame = {
    val o = t(s, dir, "orders")
    o.filter(col("o_orderstatus") === "F").select("o_custkey")
      .intersect(
        o.filter(col("o_totalprice") > 300000).select("o_custkey"))
      .orderBy("o_custkey")
  }

  private def qSetopExcept(s: SparkSession, dir: String): DataFrame = {
    val c = t(s, dir, "customer")
    val o = t(s, dir, "orders")
    c.select(col("c_custkey")).except(
      o.select(col("o_custkey").as("c_custkey")))
      .orderBy("c_custkey")
  }

  private def qJoinOuterLeft(s: SparkSession, dir: String): DataFrame = {
    // Left outer join + null handling of the unmatched side.
    val c = t(s, dir, "customer")
    val agg = t(s, dir, "orders").groupBy("o_custkey")
      .agg(count(lit(1)).as("n_orders"))
    c.join(agg, c("c_custkey") === agg("o_custkey"), "left")
      .select(c("c_custkey"), c("c_name"),
        coalesce(col("n_orders"), lit(0L)).as("n_orders"))
      .orderBy("c_custkey")
  }

  private def qJoinSemi(s: SparkSession, dir: String): DataFrame = {
    // EXISTS as left-semi join: no payload columns from the right side,
    // no row multiplication — the scalable form of a filtering join.
    val c = t(s, dir, "customer")
    val big = t(s, dir, "orders").filter(col("o_totalprice") > 400000)
    c.join(big, c("c_custkey") === big("o_custkey"), "left_semi")
      .select("c_custkey", "c_name")
      .orderBy("c_custkey")
  }

  private def qJoinAnti(s: SparkSession, dir: String): DataFrame = {
    val c = t(s, dir, "customer")
    val o = t(s, dir, "orders")
    c.join(o, c("c_custkey") === o("o_custkey"), "left_anti")
      .select("c_custkey", "c_name")
      .orderBy("c_custkey")
  }

  private def qScalarFuncs(s: SparkSession, dir: String): DataFrame =
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

  private def qCaseNull(s: SparkSession, dir: String): DataFrame =
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

  private def qSubqueryIn(s: SparkSession, dir: String): DataFrame = {
    Tables.register(s, dir)
    s.sql(
      """SELECT o_orderkey, o_custkey, o_totalprice FROM orders
        |WHERE o_custkey IN
        |  (SELECT c_custkey FROM customer WHERE c_acctbal > 9000)
        |ORDER BY o_orderkey""".stripMargin)
  }

  private def qSubqueryExists(s: SparkSession, dir: String): DataFrame = {
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
  }

  private def qGroupProduct(s: SparkSession, dir: String): DataFrame = {
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
  }

  // ---------------------------------------------------------------------
  // SQL breadth, batch 2: cube/grouping sets, more windows, more scalar
  // functions, full-outer/cross joins, distinct, pivot, scalar subquery
  // ---------------------------------------------------------------------

  private def qAggCube(s: SparkSession, dir: String): DataFrame = {
    Tables.register(s, dir)
    s.sql(
      """SELECT o_orderstatus, o_orderpriority, count(*) AS n,
        |  sum(CAST(round(o_totalprice * 100) AS BIGINT)) / 100.0D AS spend
        |FROM orders
        |GROUP BY CUBE(o_orderstatus, o_orderpriority)
        |ORDER BY o_orderstatus ASC NULLS FIRST,
        |  o_orderpriority ASC NULLS FIRST""".stripMargin)
  }

  private def qAggGroupingSets(s: SparkSession, dir: String): DataFrame = {
    Tables.register(s, dir)
    s.sql(
      """SELECT o_orderstatus, o_orderpriority, count(*) AS n
        |FROM orders
        |GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
        |ORDER BY o_orderstatus ASC NULLS FIRST,
        |  o_orderpriority ASC NULLS FIRST""".stripMargin)
  }

  private def qAggMinMax(s: SparkSession, dir: String): DataFrame =
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

  private def qAggApproxDistinct(s: SparkSession, dir: String): DataFrame =
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

  private def qAggPercentiles(s: SparkSession, dir: String): DataFrame =
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

  private def qAggApproxQuantile(s: SparkSession, dir: String): DataFrame =
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

  private def qWindowLeadLag(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("o_custkey")
      .orderBy(col("o_orderdate"), col("o_orderkey"))
    t(s, dir, "orders")
      .select(col("o_custkey"), col("o_orderkey"), col("o_orderdate"),
        lag("o_totalprice", 1).over(w).as("prev_price"),
        lead("o_totalprice", 1).over(w).as("next_price"),
        dense_rank().over(w).as("drk"),
        ntile(4).over(w).as("quartile"))
      .orderBy("o_custkey", "o_orderkey")
  }

  private def qWindowFirstLast(s: SparkSession, dir: String): DataFrame = {
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
  }

  private def qAggListagg(s: SparkSession, dir: String): DataFrame =
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

  private def qWindowRangeFrame(s: SparkSession, dir: String): DataFrame = {
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
  }

  private def qStringFuncs(s: SparkSession, dir: String): DataFrame =
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

  private def qDateFuncs(s: SparkSession, dir: String): DataFrame =
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

  private def qJoinFullOuter(s: SparkSession, dir: String): DataFrame = {
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
  }

  private def qJoinCross(s: SparkSession, dir: String): DataFrame = {
    val r = t(s, dir, "region")
    val st = t(s, dir, "orders").select("o_orderstatus").distinct()
    r.crossJoin(st)
      .select(col("r_name"), col("o_orderstatus"))
      .orderBy("r_name", "o_orderstatus")
  }

  private def qSelectDistinct(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "orders")
      .select("o_orderstatus", "o_orderpriority").distinct()
      .orderBy("o_orderstatus", "o_orderpriority")

  private def qSetopIntersectAll(s: SparkSession, dir: String): DataFrame = {
    val o = t(s, dir, "orders")
    o.filter(col("o_orderstatus") === "F").select("o_custkey")
      .intersectAll(
        o.filter(col("o_totalprice") > 200000).select("o_custkey"))
      .orderBy("o_custkey")
  }

  private def qSetopExceptAll(s: SparkSession, dir: String): DataFrame = {
    val o = t(s, dir, "orders")
    o.filter(col("o_orderstatus") === "F").select("o_custkey")
      .exceptAll(
        o.filter(col("o_totalprice") > 200000).select("o_custkey"))
      .orderBy("o_custkey")
  }

  private def qJoinLateral(s: SparkSession, dir: String): DataFrame = {
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
  }

  private def qPivot(s: SparkSession, dir: String): DataFrame = {
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
  }

  private def qScalarSubquery(s: SparkSession, dir: String): DataFrame = {
    Tables.register(s, dir)
    s.sql(
      """SELECT o_orderkey, o_totalprice FROM orders
        |WHERE o_totalprice >
        |  (SELECT 2 * sum(CAST(round(o_totalprice * 100) AS BIGINT))
        |     / 100.0D / count(*) FROM orders)
        |ORDER BY o_orderkey""".stripMargin)
  }

  private def qSqlCustomFuncs(s: SparkSession, dir: String): DataFrame = {
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
  }

  private def qCorpusReport(s: SparkSession, dir: String): DataFrame = {
    // The per-source corpus health report a curation pipeline ends
    // with: volume, token mass, exact-dup rate, benchmark
    // contamination — one row per source, every input column computed
    // by the operators declared above (exact dedup window, broadcast
    // decontamination) and joined back by key. All counts are exact
    // integers; the whole report is three key-partitioned shuffles.
    import graft.operators.{Decontaminate, Dedup}
    val d = t(s, dir, "documents")
    val dups = Dedup.exact(d).filter(!col("keep"))
      .select(col("doc_id"), lit(1L).as("is_dup"))
    // the same scale-invariant fixed benchmark set as the rest of the
    // decontam family (< 100000 is a no-op at every driver scale)
    val contam = Decontaminate.overlap(
        d.filter(col("doc_id") % 17 =!= 0),
        d.filter(col("doc_id") % 17 === 0 && col("doc_id") < 100000),
        n = 5)
      .filter(col("contaminated"))
      .select(col("doc_id"), lit(1L).as("is_contam"))
    d.select(col("doc_id"), col("source"),
        graft.functions.TextFunctions.tokenCount(col("text"))
          .cast("long").as("nt"))
      .join(dups, Seq("doc_id"), "left")
      .join(contam, Seq("doc_id"), "left")
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum(col("nt")).as("total_tokens"),
        sum(coalesce(col("is_dup"), lit(0L))).as("n_dups"),
        sum(coalesce(col("is_contam"), lit(0L))).as("n_contaminated"))
      .orderBy("source")
  }

  private def qSourceCsvJson(s: SparkSession, dir: String): DataFrame = {
    // Source/sink breadth: the same relations round-trip through CSV
    // (headered, quoted) and JSON-lines — Spark's native readers give
    // the engine MySQL-free heterogeneous sources the way the
    // reference's site servers wrap MySQL tables (Program.cs:21-34);
    // the rejoined result must equal the parquet-sourced oracle. Types
    // are declared on read (inference is a scan of its own and floats
    // every integer at 100 TB).
    // per-invocation directory: a fixed shared path would let two
    // sessions' overwrite-deletes race each other mid-read
    val base = s"/tmp/graft-sources-${java.util.UUID.randomUUID()}"
    t(s, dir, "nation").write.mode("overwrite")
      .option("header", "true").csv(s"$base/nation_csv")
    t(s, dir, "region").write.mode("overwrite").json(s"$base/region_json")
    val nation = s.read.option("header", "true")
      .schema("n_nationkey INT, n_name STRING, n_regionkey INT")
      .csv(s"$base/nation_csv")
    val region = s.read
      .schema("r_regionkey INT, r_name STRING")
      .json(s"$base/region_json")
    nation.join(broadcast(region),
        col("n_regionkey") === col("r_regionkey"))
      .select(col("n_nationkey"), col("n_name"), col("r_name"))
      .orderBy("n_nationkey")
  }

  private def qLayoutCompact(s: SparkSession, dir: String): DataFrame = {
    // Table maintenance: a 64-way fragmented copy of orders (the
    // small-file debris a streaming ingest leaves) compacted into
    // ~8 MB files sized from MEASURED bytes — shuffle-free coalesce,
    // fresh output directory (pointer-swap atomicity). The oracle
    // reads the ORIGINAL table: compaction must be invisible to
    // readers, which is the whole contract.
    val base = s"/tmp/graft-compact-${java.util.UUID.randomUUID()}"
    t(s, dir, "orders").repartition(64)
      .write.mode("overwrite").parquet(s"$base/frag")
    val out = graft.sources.Layout.compact(
      s, s"$base/frag", s"$base/compacted", targetBytes = 8L << 20)
    s.read.parquet(out)
      .select("o_orderkey", "o_custkey", "o_totalprice")
      .orderBy("o_orderkey")
  }

  private def qSourceOrc(s: SparkSession, dir: String): DataFrame = {
    // Third interchange format: the same relations round-trip through
    // ORC (Spark-native columnar writer/reader, schema declared on
    // read like the CSV/JSON twins — inference is a scan of its own).
    // The oracle reads the original parquet, so ORC encode/decode
    // fidelity — types, nulls, row order independence — is the test.
    val base = s"/tmp/graft-sources-${java.util.UUID.randomUUID()}"
    t(s, dir, "supplier").write.mode("overwrite").orc(s"$base/supplier_orc")
    t(s, dir, "nation").write.mode("overwrite").orc(s"$base/nation_orc")
    val supplier = s.read
      .schema("s_suppkey BIGINT, s_name STRING, s_nationkey INT, " +
        "s_acctbal DOUBLE")
      .orc(s"$base/supplier_orc")
    val nation = s.read
      .schema("n_nationkey INT, n_name STRING, n_regionkey INT")
      .orc(s"$base/nation_orc")
    supplier.join(broadcast(nation),
        col("s_nationkey") === col("n_nationkey"))
      .select(col("s_suppkey"), col("s_name"), col("n_name"),
        col("s_acctbal"))
      .orderBy("s_suppkey")
  }

  private def qSourceBinaryFile(s: SparkSession, dir: String): DataFrame = {
    // The multimodal ingest format: one opaque binary file per
    // document (what a crawler or media pipeline actually lands),
    // read back through Spark's built-in `binaryFile` source —
    // distributed listing, (path, modificationTime, length, content)
    // schema, glob + metadata-predicate pushdown (`pathGlobFilter`
    // prunes at the listing, length filters never open a file). The
    // file WRITE below is test scaffolding (executor-side, one file
    // per doc, the layout an object store would hold); the operator
    // under test is the read path: id recovered from the path, length
    // and an md5 content digest proving every byte survived. At
    // 100 TB this is exactly how image/audio corpora enter the
    // engine — binary columns + typed metadata, decode downstream
    // (Multimodal.*), never re-encoded through strings.
    // fixed per-sf directory, not a fresh UUID: repeated bench/verify
    // passes overwrite the same doc files instead of accumulating
    // O(docs × runs) /tmp debris
    val base = s"/tmp/graft-binsource-${dir.hashCode.toHexString}"
    new java.io.File(s"$base/docs").mkdirs()
    t(s, dir, "documents")
      .select(col("doc_id"), encode(col("text"), "UTF-8").as("bytes"))
      .foreachPartition {
          rows: java.util.Iterator[org.apache.spark.sql.Row] =>
        rows.forEachRemaining { r =>
          java.nio.file.Files.write(
            java.nio.file.Paths.get(s"$base/docs/doc_${r.getLong(0)}.bin"),
            r.getAs[Array[Byte]](1))
        }
      }
    s.read.format("binaryFile")
      .option("pathGlobFilter", "*.bin")
      .load(s"$base/docs")
      .select(
        regexp_extract(col("path"), "doc_(\\d+)\\.bin$", 1)
          .cast("long").as("doc_id"),
        col("length").as("n_bytes"),
        md5(col("content")).as("content_md5"))
      .orderBy("doc_id")
  }

  private def qSourceCsvCorrupt(s: SparkSession, dir: String): DataFrame = {
    // Corrupt-tolerant ingestion — what a real crawl feed looks like:
    // a CSV directory where a deterministic subset of lines (doc_id
    // divisible by 7) is type-corrupted, read back in PERMISSIVE mode
    // with an explicit _corrupt_record column. Bad lines become
    // quarantine rows instead of failed tasks (FAILFAST would kill
    // the job; DROPMALFORMED would silently lose data — the
    // quarantine column is the 100 TB answer: ingest everything,
    // route rejects to a repair queue). The write below is test
    // scaffolding; the operator under test is the permissive read +
    // quarantine accounting, which the oracle re-derives exactly.
    // fixed per-sf directory + overwrite mode: reruns replace, never
    // accumulate
    val base = s"/tmp/graft-csvcorrupt-${dir.hashCode.toHexString}"
    t(s, dir, "documents")
      .select(when(col("doc_id") % 7 === 0,
          concat(lit("xx"), col("doc_id"), lit(","), col("n_chars")))
        .otherwise(concat(col("doc_id"), lit(","), col("n_chars")))
        .as("value"))
      .write.mode("overwrite").text(base)
    s.read
      .schema("id BIGINT, n BIGINT, _corrupt_record STRING")
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", "_corrupt_record")
      .csv(base)
      .agg(
        count(lit(1)).as("n_rows"),
        count(col("id")).as("n_good"),
        count(col("_corrupt_record")).as("n_corrupt"),
        sum(col("id")).as("sum_good_ids"),
        sum(when(col("_corrupt_record").isNull, col("n"))
          .otherwise(0L)).as("sum_good_chars"))
  }

  private def qShippingPriority(s: SparkSession, dir: String): DataFrame = {
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
  }

  private def qLocalSupplierVolume(s: SparkSession, dir: String): DataFrame = {
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
  }

  private def qJoinRangePred(s: SparkSession, dir: String): DataFrame = {
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
  }

  private def qWindowPercentiles(s: SparkSession, dir: String): DataFrame = {
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
  }

  private def qLayoutBucketedJoin(s: SparkSession, dir: String): DataFrame = {
    // Layout tooling as a declared query: persist both join sides
    // bucketed by the join key, then join + aggregate THROUGH the
    // bucketed tables — zero shuffle exchanges (asserted) because the
    // bucketing IS the exchange, done once at write time. This is the
    // 100 TB answer to repeated big joins on a stable key, and the
    // Spark-native generalization of the reference's fixed fragment
    // placement. Results must equal the plain join (the oracle checks
    // against the raw tables).
    Tables.register(s, dir)
    // table names scoped by corpus: the warehouse dir is shared
    // JVM-global state, and two concurrent engines on DIFFERENT
    // corpora with one fixed name would overwrite each other's
    // bucketed files mid-read (observed: an sf0.01 gate run deleted
    // the parquet under a concurrent sf10 run's scan)
    val scope = corpusScope(dir)
    // independent source tables — the two bucketed writes overlap
    graft.sources.Layout.inParallel(
      () => graft.sources.Layout.writeBucketed(
        s.table("customer"), s"blq_customer_$scope", "c_custkey", 8),
      () => graft.sources.Layout.writeBucketed(
        s.table("orders").withColumnRenamed("o_custkey", "c_custkey"),
        s"blq_orders_$scope", "c_custkey", 8))
    val joined = s.table(s"blq_customer_$scope")
      .join(s.table(s"blq_orders_$scope"), Seq("c_custkey"))
      .groupBy("c_custkey", "c_mktsegment")
      .agg(count(lit(1)).as("n_orders"),
        centsSum(col("o_totalprice")).as("spend"))
      .orderBy("c_custkey")
    // the whole point: bucket-equi join + same-key agg need no exchange
    // (the final orderBy is the only range exchange)
    val noSort = s.table(s"blq_customer_$scope")
      .join(s.table(s"blq_orders_$scope"), Seq("c_custkey"))
      .groupBy("c_custkey").agg(count(lit(1)))
    require(!graft.sources.Layout.hasShuffle(noSort),
      "bucketed join/agg unexpectedly shuffled")
    joined
  }

  private def qLayoutPartitioned(s: SparkSession, dir: String)
      : DataFrame = {
    // Directory partitioning — the third layout primitive next to
    // bucketing and z-order: orders written partitionBy(o_year), a
    // year predicate prunes whole directories AT PLANNING TIME (the
    // scan's PartitionFilters — pinned in PlanQualitySpec — means
    // non-matching years are never listed, let alone read). At 100 TB
    // this is the first line of defense: time-partitioned facts make
    // every time-bounded query touch only its slice.
    val scope = corpusScope(dir) // see qLayoutBucketedJoin
    graft.sources.Layout.writePartitioned(
      t(s, dir, "orders").withColumn("o_year",
        year(col("o_orderdate"))),
      s"orders_byyear_$scope", "o_year")
    s.table(s"orders_byyear_$scope")
      .filter(col("o_year") === 1995)
      .groupBy("o_orderpriority")
      .agg(count(lit(1)).as("n_orders"),
        sum(expr("CAST(round(o_totalprice * 100) AS BIGINT)"))
          .as("total_cents"))
      .orderBy("o_orderpriority")
  }

  private def qLayoutZorder(s: SparkSession, dir: String): DataFrame = {
    // Z-order layout as a declared query: the Morton z-value of
    // (l_partkey, l_suppkey) over data-derived bounds (one tiny agg,
    // broadcast) — a pure codegen'd column expression the oracle
    // re-derives bit by bit in DuckDB. The physical claim — files
    // written in z-range order prune on BOTH dimensions' min/max
    // stats, strictly better than a single-column sort on the
    // dimension it ignores — is asserted in LayoutSpec's skipping
    // demo over real written files.
    import graft.sources.ZOrder
    val li = t(s, dir, "lineitem")
    val bounds = broadcast(li.agg(
      min("l_partkey").as("alo"), max("l_partkey").as("ahi"),
      min("l_suppkey").as("blo"), max("l_suppkey").as("bhi")))
    val withCells = li.crossJoin(bounds).select(
      col("l_orderkey"), col("l_linenumber"),
      ZOrder.zCell(col("l_partkey"), col("alo"), col("ahi"), 8)
        .as("cell_p"),
      ZOrder.zCell(col("l_suppkey"), col("blo"), col("bhi"), 8)
        .as("cell_s"))
    withCells.select(
      col("l_orderkey"), col("l_linenumber"), col("cell_p"),
      col("cell_s"),
      ZOrder.interleaveBits(col("cell_p"), col("cell_s"), 8).as("zval"))
      .orderBy(col("zval"), col("l_orderkey"), col("l_linenumber"))
      .limit(1000)
  }

  private def qForecastRevenue(s: SparkSession, dir: String): DataFrame =
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

  private def qPromoRevenue(s: SparkSession, dir: String): DataFrame = {
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
  }

  private def qReturnedItems(s: SparkSession, dir: String): DataFrame = {
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
  }

  private def qLargeOrders(s: SparkSession, dir: String): DataFrame = {
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
  }

  private def qPriorityOrders(s: SparkSession, dir: String): DataFrame = {
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
  }

  private def qNationVolume(s: SparkSession, dir: String): DataFrame = {
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
  }

  private def qPriorityClass(s: SparkSession, dir: String): DataFrame = {
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
  }

  private def qCustDist(s: SparkSession, dir: String): DataFrame = {
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
  }

  private def qDisjunctiveRevenue(s: SparkSession, dir: String): DataFrame = {
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
  }

  private def qIdleCustomers(s: SparkSession, dir: String): DataFrame = {
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
  }

  private def qMarketShare(s: SparkSession, dir: String): DataFrame = {
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
  }

  private def qTopSupplier(s: SparkSession, dir: String): DataFrame = {
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
  }

  private def qSmallQtyRevenue(s: SparkSession, dir: String): DataFrame = {
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
  }

  private def qWaitingSuppliers(s: SparkSession, dir: String): DataFrame = {
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
  }

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

  private def qMinCostSupplier(s: SparkSession, dir: String): DataFrame = {
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
  }

  private def qProductProfit(s: SparkSession, dir: String): DataFrame = {
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
  }

  private def qImportantStock(s: SparkSession, dir: String): DataFrame = {
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
  }

  private def qSupplierCnt(s: SparkSession, dir: String): DataFrame = {
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
  }

  private def qPromotionSuppliers(s: SparkSession, dir: String)
      : DataFrame = {
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
  }

  private def qTextFingerprints(s: SparkSession, dir: String): DataFrame = {
    // Winnowing document fingerprints (rolling-hash k-grams + window
    // minima — the MOSS local fingerprint). Scan-stage only: both the
    // positional FNV-1a 8-gram hashes and the O(m) deque winnowing are
    // custom expressions; nothing shuffles but the final presentation
    // sort. The oracle re-derives the FNV-1a rolling hashes themselves
    // in HUGEINT SQL and recomputes every window's leftmost minimum.
    import graft.functions.VectorFunctions.{char_ngram_hashes, normalize_text, winnowed_fingerprints}
    t(s, dir, "documents")
      .select(col("doc_id"), explode(winnowed_fingerprints(
        char_ngram_hashes(normalize_text(col("text")), 8), 8)).as("f"))
      .select(col("doc_id"), col("f.pos").as("pos"), col("f.fp").as("fp"))
      .orderBy("doc_id", "pos")
  }

  private def qUnpivotMetrics(s: SparkSession, dir: String): DataFrame = {
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
  }

  private def qRegexFuncs(s: SparkSession, dir: String): DataFrame =
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

  private def qGroupingId(s: SparkSession, dir: String): DataFrame = {
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
  }

  private def qJsonFuncs(s: SparkSession, dir: String): DataFrame =
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

  private def qMapFuncs(s: SparkSession, dir: String): DataFrame =
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

  private def qArrayFuncs(s: SparkSession, dir: String): DataFrame =
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

  // ---------------------------------------------------------------------
  // LLM-data-pipeline surface (BASELINE.json north star; SURVEY.md §7.2
  // M3): dedup, similarity search, text analysis, multimodal, streaming
  // ---------------------------------------------------------------------

  import graft.functions.TextFunctions
  import graft.operators.{BloomJoin, Decontaminate, Dedup, HeavyHitters, Multimodal, Similarity}
  import graft.streaming.EventsStream

  private def qTextStats(s: SparkSession, dir: String): DataFrame =
    // Token counting + document fingerprinting over builtins only —
    // runs entirely inside the scan stage (no shuffle but the sort).
    t(s, dir, "documents").select(
      col("doc_id"),
      TextFunctions.tokenCount(col("text")).as("n_tokens"),
      TextFunctions.avgWordLen(col("text")).as("avg_word_len"),
      TextFunctions.punctRatio(col("text")).as("punct_ratio"),
      TextFunctions.fingerprint(col("text")).as("fp"))
      .orderBy("doc_id")

  private def qTextTokensBpe(s: SparkSession, dir: String): DataFrame = {
    // BPE-style pre-tokenization (GPT-2 pattern shape): the
    // segmentation every byte-pair tokenizer runs before merges —
    // contraction suffixes / space-prefixed letter runs / digit runs /
    // punctuation runs / whitespace runs, ordered alternation. The
    // pattern is lookahead-free so the DuckDB oracle evaluates the
    // IDENTICAL pattern string under RE2 (TextFunctionsSpec pins the
    // per-alternative behavior on crafted fixtures the corpus lacks:
    // contractions, digits, punctuation, newlines). Entirely
    // scan-stage; only (doc_id, 4 ints) ever shuffle for the sort.
    val toks = TextFunctions.bpePretokens(col("text"))
    val content =
      filter(toks, tk => length(translate(tk, " \t\n\r", "")) > 0)
    t(s, dir, "documents").select(
      col("doc_id"),
      size(toks).as("n_pretok"),
      size(content).as("n_content"),
      size(array_distinct(content)).as("n_distinct"),
      aggregate(content, lit(0L),
        (acc, tk) => acc + length(tk).cast("long")).as("content_chars"))
      .orderBy("doc_id")
  }

  private def qTextQuality(s: SparkSession, dir: String): DataFrame =
    // Language-ID heuristic + composite quality score (not SQL-
    // expressible in the oracle dialect → rows-only check).
    t(s, dir, "documents").select(
      col("doc_id"), col("lang").as("lang_label"),
      TextFunctions.langId(col("text")).as("lang_pred"),
      TextFunctions.stopwordRatio(col("text")).as("stopword_ratio"),
      TextFunctions.subwordCount(col("text")).as("n_subwords"),
      TextFunctions.qualityScore(col("text")).as("quality"))
      .orderBy("doc_id")

  private def qQualityModelLr(s: SparkSession, dir: String): DataFrame = {
    // Model-based quality filtering (the fastText-classifier move):
    // ONE bounded MLlib training job → 5 doubles, then the whole
    // corpus scored by a codegen'd projection (no UDF, no shuffle).
    // Seed label: the hand-written composite rule `quality_score >=
    // 0.72` — the distillation pattern (replace a heuristic with a
    // calibrated linear scorer you can threshold and rank by). The
    // corpus's lang column is assigned independently of its text, so
    // a language label would be noise by construction; the rule label
    // is learnable and keeps the oracle fully re-derivable.
    // Capture-then-export: the oracle replays scoring from the exact
    // captured coefficients.
    val d = t(s, dir, "documents")
    val seed = TextFunctions.qualityScore(col("text")) >= 0.72
    val model = graft.operators.QualityModel.train(d, col("text"), seed,
      col("doc_id"))
    capture("quality_model_lr")(qmLrOracleSql(model))
    graft.operators.QualityModel.scoreAll(d, col("text"), model)
      .select(col("doc_id"), seed.as("label"),
        col("score_micros"), col("pred"))
      .orderBy("doc_id")
  }

  private def qTextChunks(s: SparkSession, dir: String): DataFrame =
    // RAG/embedding windowing: 16-token chunks advancing by 12 (4
    // overlap), last chunk clamped. posexplode numbers chunks; the
    // whole thing is scan-stage — only (doc_id, id, text, len) rows
    // ever shuffle, for the sort.
    t(s, dir, "documents")
      .select(col("doc_id"),
        posexplode(TextFunctions.tokenChunks(col("text"), 16, 4))
          .as(Seq("chunk_id", "chunk")))
      .select(col("doc_id"), col("chunk_id"), col("chunk"),
        size(split(col("chunk"), " ")).as("n_chunk_tokens"))
      .orderBy("doc_id", "chunk_id")

  private def qDedupChunks(s: SparkSession, dir: String): DataFrame =
    // Cross-document repeated-window detection — the window-granular
    // approximation of exact-substring dedup (a chunk appearing in
    // several documents is copied boilerplate/quotation): chunks from
    // the same 16/4 windowing as text_chunks, keyed by content,
    // surviving rows = chunks seen in >= 2 DISTINCT docs, with the
    // occurrence count and the canonical (minimum) owner. One
    // chunk-keyed shuffle with map-side partial aggregation.
    t(s, dir, "documents")
      .select(col("doc_id"),
        explode(TextFunctions.tokenChunks(col("text"), 16, 4))
          .as("chunk"))
      .groupBy("chunk")
      .agg(count_distinct(col("doc_id")).as("n_docs"),
        count(lit(1)).as("n_occurrences"),
        min(col("doc_id")).as("first_doc"))
      .filter(col("n_docs") >= 2)
      .orderBy("chunk")

  private def qTextCollocations(s: SparkSession, dir: String): DataFrame =
    // Phrase mining: top-20 bigram collocations by lift (PMI's
    // rank-equivalent without the non-portable log), min count 5.
    graft.operators.Collocations.topBigramsByLift(
      t(s, dir, "documents"))

  private def qSearchBm25(s: SparkSession, dir: String): DataFrame =
    // Inverted-index BM25 top-20 for a three-term query (terms from
    // the corpus vocabulary). Scores in exact micros — see
    // Search.bm25TopK for the rational-idf determinism contract.
    graft.operators.Search.bm25TopK(
      t(s, dir, "documents"), Seq("spark", "query", "merge"), k = 20)

  private def qSearchBm25Indexed(s: SparkSession, dir: String)
      : DataFrame = {
    // The PERSISTED inverted index: postings bucketed by term, query
    // reads only its terms' buckets (bucket pruning pinned in
    // PlanQualitySpec). Same scoring expression, same ranking tail,
    // same oracle as the live-scan search_bm25 — the index must be
    // invisible to results, which is the whole contract.
    graft.operators.Search.writeBm25Index(
      t(s, dir, "documents"), "bm25idx")
    graft.operators.Search.bm25IndexedTopK(
      s, "bm25idx", Seq("spark", "query", "merge"), k = 20)
  }

  private def qSearchBm25IndexAppend(s: SparkSession, dir: String)
      : DataFrame = {
    // The ingest loop: index built from 80% of the corpus, the rest
    // appended as an epoch increment (only the increment tokenizes
    // and shuffles), then the SAME query — df and corpus stats derive
    // from the tables at query time, so the appended index must be
    // indistinguishable from a fresh full build: same oracle again.
    val d = t(s, dir, "documents")
    graft.operators.Search.writeBm25Index(
      d.filter(col("doc_id") % 5 =!= 0), "bm25inc")
    graft.operators.Search.appendToBm25Index(
      d.filter(col("doc_id") % 5 === 0), "bm25inc")
    graft.operators.Search.bm25IndexedTopK(
      s, "bm25inc", Seq("spark", "query", "merge"), k = 20)
  }

  private def qSearchHybridRrf(s: SparkSession, dir: String): DataFrame = {
    // Hybrid retrieval: reciprocal-rank fusion of the lexical BM25
    // top-20 and the vector (cosine, doc 0's embedding) top-20 — the
    // RAG-era retrieval stack in one plan. Both candidate lists are
    // produced by the already-oracled retrievers; fusion itself is
    // integer-exact (Search.rrfFuse) and runs on ≤ 40 rows however
    // large the corpus. The oracle re-derives both lists AND the
    // fusion arithmetic from scratch in SQL.
    val lex = graft.operators.Search.bm25TopK(
      t(s, dir, "documents"), Seq("spark", "query", "merge"), k = 20)
      .select(col("doc_id"), col("rank"))
    val vec = Similarity.bruteForceTopK(
      t(s, dir, "embeddings"),
      t(s, dir, "embeddings").filter(col("vec_id") === 0), k = 20)
      .select(col("neighbor_id").as("doc_id"), col("rank"))
    graft.operators.Search.rrfFuse(
      Seq("lex" -> lex, "vec" -> vec), k0 = 60, k = 10)
  }

  private def qTextRepetition(s: SparkSession, dir: String): DataFrame =
    // Gopher-style repetition filters: duplicate-bigram fraction,
    // top-token fraction, type/token ratio — all per-row higher-order
    // builtins, scan-stage, shuffle-free but the output sort.
    t(s, dir, "documents").select(
      col("doc_id"),
      TextFunctions.tokenCount(col("text")).as("n_tokens"),
      TextFunctions.distinctTokenFrac(col("text")).as("distinct_frac"),
      TextFunctions.dupBigramFrac(col("text")).as("dup_bigram_frac"),
      TextFunctions.topTokenFrac(col("text")).as("top_token_frac"))
      .orderBy("doc_id")

  private def qTextHtmlExtract(s: SparkSession, dir: String)
      : DataFrame = {
    // Boilerplate extraction — the C4/trafilatura stage every web
    // corpus passes through before anything else: each document is
    // wrapped in a deterministic page shell (head/nav/footer chrome +
    // per-doc link noise), then the extractor must strip element
    // boilerplate and tags and recover EXACTLY the original text.
    // The recovered-equals-original boolean and the md5 make the
    // round trip hash-checkable; link_count is the link-density
    // signal the quality filters consume. Scan-stage regex only (the
    // corpus carries no markup of its own — planted chrome is the
    // fixture, like qPiiRedact's planted PII).
    val page = concat(
      lit("<html><head><title>t</title><style>p{}</style></head>" +
        "<body><nav><a href=\"/home\">home</a>" +
        "<a href=\"/about\">about</a></nav><p>"),
      col("text"),
      lit("</p><footer>(c) corp <a href=\"/tos\">tos</a>" +
        "</footer></body></html>"))
    // explicit alternation, no backreference — the oracle's RE2
    // dialect has no \1, and the pattern string must be IDENTICAL in
    // both engines
    val noBoiler = regexp_replace(page,
      "(?s)<nav>.*?</nav>|<footer>.*?</footer>" +
        "|<style>.*?</style>|<head>.*?</head>", " ")
    val stripped = regexp_replace(noBoiler, "<[^>]+>", " ")
    t(s, dir, "documents")
      .select(col("doc_id"), col("text"),
        TextFunctions.normalize(stripped).as("extracted"),
        page.as("page"))
      .select(col("doc_id"),
        md5(col("extracted")).as("extracted_md5"),
        (col("extracted") <=> TextFunctions.normalize(col("text")))
          .as("clean_roundtrip"),
        expr("CAST((length(page) - length(replace(page, '<a ', ''))) " +
          "DIV 3 AS INT)").as("link_count"))
      .orderBy("doc_id")
  }

  private def qTextLmScore(s: SparkSession, dir: String): DataFrame =
    // Bigram-LM fluency scoring (the KenLM-filter shape): model
    // trained on the corpus in two map-side aggregates, every doc
    // scored by its mean add-one-smoothed conditional in exact floor
    // micros. See LangModel.bigramScore for the determinism contract
    // and the LM-table join scale shape.
    graft.operators.LangModel.bigramScore(t(s, dir, "documents"))

  private def qTextCommonNgrams(s: SparkSession, dir: String): DataFrame =
    // C4-style corpus-level boilerplate signal: per-doc coverage by
    // grams common across >= 4 documents (three partial-agg shuffles,
    // no driver state — see Decontaminate.commonGramCoverage).
    Decontaminate.commonGramCoverage(t(s, dir, "documents"))

  private def qPiiRedact(s: SparkSession, dir: String): DataFrame = {
    // PII scrub: the synthetic corpus carries no PII, so the query
    // plants a deterministic email/IP/phone per doc (pure function of
    // doc_id, recomputed identically by the oracle), then detects and
    // masks all three classes with the portable patterns. Entirely
    // scan-stage — the only shuffle is the output sort.
    import graft.functions.PiiFunctions
    val injected = concat(
      col("text"),
      lit(" contact user"), col("doc_id"), lit("@example.com ip 10."),
      pmod(col("doc_id"), lit(256)), lit(".0."),
      pmod(col("doc_id"), lit(100)), lit(" call "),
      (pmod(col("doc_id"), lit(900)) + 100), lit("-555-"),
      lpad(pmod(col("doc_id"), lit(10000)).cast("string"), 4, "0"))
    t(s, dir, "documents")
      .withColumn("injected", injected)
      .select(col("doc_id"),
        PiiFunctions.emailCount(col("injected")).as("n_email"),
        PiiFunctions.ipv4Count(col("injected")).as("n_ip"),
        PiiFunctions.phoneCount(col("injected")).as("n_phone"),
        PiiFunctions.redact(col("injected")).as("redacted"))
      .orderBy("doc_id")
  }

  private def qDedupExact(s: SparkSession, dir: String): DataFrame =
    Dedup.exact(t(s, dir, "documents")).orderBy("doc_id")

  private def qDedupQualityRep(s: SparkSession, dir: String): DataFrame =
    // Quality-weighted representative election: the kept copy of each
    // exact-duplicate class is the BEST-scoring member (composite
    // quality score, ties to the smallest doc_id), not the first-seen
    // id — the curation pipeline's actual rule when mirrors/AMP/print
    // variants share a normalized fingerprint (see Dedup.bestRep).
    // Oracle replays score, class key and argmax from scratch.
    Dedup.bestRep(t(s, dir, "documents"),
        TextFunctions.qualityScore(col("text")))
      .orderBy("doc_id")

  private def qSampleTopkStratum(s: SparkSession, dir: String): DataFrame =
    // Exact per-language eval slice: the 20 docs per lang with the
    // smallest md5(doc_id) — sample_stratified's fixed-COUNT sibling
    // (fractions give proportional sizes; eval slices need exactly k),
    // deterministic, uniform within stratum, identical in any engine.
    // rank<=k plans as WindowGroupLimit: per-partition k-row heaps
    // before the one stratum exchange, never a full stratum sort.
    graft.operators.Sampling.topKPerStratum(
        t(s, dir, "documents").select("doc_id", "lang", "source"),
        "lang", "doc_id", 20)
      .orderBy("lang", "doc_id")

  private def qCurationQualityRebalance(s: SparkSession, dir: String)
      : DataFrame =
    // Quality-band mixture rebalance: fixed score cutoffs band the
    // corpus, each band keeps a deterministic hash-bucket fraction
    // (10% of the worst band up to 100% of the best) — the "keep the
    // pristine mass, thin the junk" downsample, exact and replayable
    // shard-by-shard; band and verdict are scan-stage expressions.
    graft.operators.Sampling.qualityRebalance(
        t(s, dir, "documents").select(col("doc_id"), col("text")),
        TextFunctions.qualityScore(col("text")), col("doc_id"),
        Seq(0.5, 0.65, 0.8), Seq(0.1, 0.3, 0.6, 1.0))
      .select("doc_id", "band", "quality")
      .orderBy("doc_id")

  private def qDedupForget(s: SparkSession, dir: String): DataFrame =
    // Right-to-be-forgotten propagation: docs with doc_id % 11 = 0 are
    // deleted; classes whose KEPT representative died re-elect the
    // next-smallest survivor — computed from the decision table alone
    // (no text rescan; see Dedup.forget). The oracle re-derives
    // decisions from the surviving corpus from scratch, so equality
    // proves the decision-only maintenance equals a full re-run.
    Dedup.forget(Dedup.exact(t(s, dir, "documents")),
        col("doc_id") % 11 === 0)
      .orderBy("doc_id")

  private def qDedupMinhash(s: SparkSession, dir: String): DataFrame =
    Dedup.minhashLsh(t(s, dir, "documents"))

  private def qDedupMinhashDecisions(s: SparkSession, dir: String)
      : DataFrame = {
    val docs = t(s, dir, "documents")
    Dedup.decisionsFromPairs(docs, Dedup.minhashLsh(docs))
      .orderBy("doc_id")
  }

  private def qDedupSimhash(s: SparkSession, dir: String): DataFrame =
    // 8 bands ⇒ guaranteed recall for Hamming ≤ 5 (planted near-dups in
    // the testdata span Hamming 0–5, BASELINE.md r1 SimHash banding)
    Dedup.simhashPairs(t(s, dir, "documents"), maxHamming = 5, bands = 8)

  private def qDedupNgram(s: SparkSession, dir: String): DataFrame =
    Dedup.ngramJaccard(t(s, dir, "documents"))

  private def qDedupNgramDecisions(s: SparkSession, dir: String)
      : DataFrame = {
    val docs = t(s, dir, "documents")
    Dedup.decisionsFromPairs(docs, Dedup.ngramJaccard(docs))
      .orderBy("doc_id")
  }

  private def qDedupMinhashIncrement(s: SparkSession, dir: String)
      : DataFrame =
    // Epoch merge: docs with doc_id % 5 = 0 are "today's increment";
    // emitted pairs must be exactly the threshold-Jaccard pairs
    // touching the increment (old×old pairs belong to the previous
    // epoch's run and are not re-verified).
    Dedup.minhashLshIncrement(
      t(s, dir, "documents"), col("doc_id") % 5 === 0)

  private def qDedupMinhashIndexMerge(s: SparkSession, dir: String)
      : DataFrame = {
    // The PERSISTED-index epoch merge: build the previous epoch's
    // index (docs with doc_id % 5 != 0) as two bucketed tables, then
    // merge today's increment (doc_id % 5 = 0) against it. Must emit
    // exactly the increment-touching threshold pairs — the same
    // oracle as dedup_minhash_increment — while the index side plans
    // with ZERO shuffle exchanges (asserted here and in LayoutSpec):
    // the bucketed layout IS the exchange, paid once at write time.
    val docs = t(s, dir, "documents")
    Dedup.writeMinhashIndex(
      docs.filter(col("doc_id") % 5 =!= 0), "mhidx")
    // the index-side candidate aggregation must cluster on the
    // bucketed scan's own partitioning — no exchange
    val idxAgg = s.table("mhidx_postings").groupBy("bk")
      .agg(count(lit(1)).as("n"))
    require(!graft.sources.Layout.hasShuffle(idxAgg),
      "index-side bucket aggregation unexpectedly shuffled")
    Dedup.minhashIndexMerge(
      docs.filter(col("doc_id") % 5 === 0), "mhidx")
  }

  private def qDedupMinhashEpochAppend(s: SparkSession, dir: String)
      : DataFrame = {
    // The FULL ingest loop across two epochs: build the index for the
    // base corpus (doc_id % 5 ∉ {0,1}), APPEND epoch 1's increment
    // (% 5 = 1) into the bucketed index — no rebuild — then merge
    // epoch 2 (% 5 = 0) against the appended index. Pairs touching
    // epoch 2 must equal the re-derive-everything increment (same
    // oracle as dedup_minhash_index_merge), which proves the appended
    // index is indistinguishable from a fresh full one.
    val docs = t(s, dir, "documents")
    Dedup.writeMinhashIndex(
      docs.filter(col("doc_id") % 5 =!= 0 && col("doc_id") % 5 =!= 1),
      "mhidx2")
    Dedup.appendToMinhashIndex(
      docs.filter(col("doc_id") % 5 === 1), "mhidx2")
    Dedup.minhashIndexMerge(
      docs.filter(col("doc_id") % 5 === 0), "mhidx2")
  }

  private def qDedupCcDecisions(s: SparkSession, dir: String)
      : DataFrame = {
    // Transitive closure over the minhash near-dup pair graph: chains
    // A~B~C collapse to min(A,B,C) (decisionsFromPairs is the
    // one-round approximation; this is the fixpoint). The oracle
    // recomputes the closure with a recursive CTE over the exact
    // Jaccard pair set.
    val docs = t(s, dir, "documents")
    Dedup.connectedComponents(docs, Dedup.minhashLsh(docs))
      .orderBy("doc_id")
  }

  private def qDecontamNgram(s: SparkSession, dir: String): DataFrame = {
    // Benchmark decontamination: docs with doc_id % 17 = 0 stand in for
    // the (tiny, broadcast) eval set; every remaining training doc gets
    // a shared-5-gram hit count and a contaminated flag. n = 5 because
    // the synthetic corpus draws from a ~30-word vocabulary: 3-grams
    // collide by chance across most docs, while 5-gram hits isolate the
    // planted near-dup pairs — the signal a decontamination pass is for.
    // The eval set is SCALE-INVARIANT (doc_id < 100000 — a no-op at
    // every driver scale, where all ids are < 5000): benchmark sets
    // are fixed-size in reality, so growing the eval side with the
    // training corpus would model a regime that doesn't exist and
    // made this family superlinear per decade BY CONSTRUCTION at the
    // scale rehearsal (the same bound discipline as the ANN query
    // batch). Only the TRAINING side grows with the corpus.
    val d = t(s, dir, "documents")
    Decontaminate.overlap(
      d.filter(col("doc_id") % 17 =!= 0),
      d.filter(col("doc_id") % 17 === 0 && col("doc_id") < 100000), n = 5)
  }

  private def qDecontamNgramBc(s: SparkSession, dir: String): DataFrame = {
    // The zero-shuffle regime of the same operator: eval grams
    // collected once and shipped as an executor broadcast, hit counts
    // computed inside the training scan — the only exchange is the
    // output sort. Same semantics and oracle as decontam_ngram.
    val d = t(s, dir, "documents")
    Decontaminate.overlapBroadcast(
      d.filter(col("doc_id") % 17 =!= 0),
      d.filter(col("doc_id") % 17 === 0 && col("doc_id") < 100000), n = 5)
  }

  private def qDecontamMulti(s: SparkSession, dir: String): DataFrame = {
    // Three benchmark sets screened in one corpus pass (mod-17/19/23
    // doc families — overlapping memberships on purpose); the corpus
    // never rescans per set, and only contaminated (doc, set) pairs
    // come back. See Decontaminate.overlapMulti.
    val d = t(s, dir, "documents")
    val train = d.filter(col("doc_id") % 17 =!= 0 &&
      col("doc_id") % 19 =!= 0 && col("doc_id") % 23 =!= 0)
    graft.operators.Decontaminate.overlapMulti(train, Seq(
      "eval_a" -> d.filter(col("doc_id") % 17 === 0 &&
        col("doc_id") < 100000),
      "eval_b" -> d.filter(col("doc_id") % 19 === 0 &&
        col("doc_id") < 100000),
      "eval_c" -> d.filter(col("doc_id") % 23 === 0 &&
        col("doc_id") < 100000)), n = 5)
  }

  private def qTextHeavyHitters(s: SparkSession, dir: String): DataFrame =
    // Two bounded passes (Misra–Gries sketch → exact rescore of ≤ 64
    // candidates); the oracle is the naive full groupBy top-20, which
    // the sketch pipeline must reproduce EXACTLY whenever the k-th
    // frequency clears the N/(capacity+1) undercount bound.
    HeavyHitters.topTokens(t(s, dir, "documents"), k = 20, capacity = 64)

  private def qDedupEmbedding(s: SparkSession, dir: String): DataFrame =
    Dedup.embeddingNearDup(t(s, dir, "embeddings"))

  private def qStreamEmbeddingDedup(s: SparkSession, dir: String)
      : DataFrame = {
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
  }

  private def qClusterKmeans(s: SparkSession, dir: String): DataFrame = {
    // Distributed k-means assignment over the embedding column: the
    // model is ONE bounded driver sample (Similarity.trainCentroids),
    // the assignment a shuffle-free map over a broadcast centroid
    // array. Captured like the IVF model so the oracle replays the
    // argmax with the exact centroid literals this run used.
    val e = t(s, dir, "embeddings")
    val cents = Similarity.trainCentroids(e, nCentroids = 8)
    capture("cluster_kmeans")(kmeansOracleSql(cents))
    graft.operators.Clustering.assign(e, cents)
  }

  private def qDedupSemantic(s: SparkSession, dir: String): DataFrame = {
    // SemDeDup-style semantic near-dup pairs: cluster first (k-means),
    // compare pairwise only INSIDE a cluster (capped per cluster, see
    // Clustering.semanticPairs). Threshold 0.4 on this deliberately
    // unclustered corpus (max pairwise cosine ~0.5) — production
    // embedding spaces cluster far more tightly.
    val e = t(s, dir, "embeddings")
    val cents = Similarity.trainCentroids(e, nCentroids = 8)
    capture("dedup_semantic")(semanticPairsOracleSql(cents))
    graft.operators.Clustering.semanticPairs(e, cents, threshold = 0.4)
  }

  private def qDedupSemanticDecisions(s: SparkSession, dir: String)
      : DataFrame = {
    // The keep/dup_of contract over the semantic pair graph — one
    // star-contraction round, min-id representative, every vector
    // emitted exactly once (same decision algebra as the text dedup
    // family).
    val e = t(s, dir, "embeddings")
    val cents = Similarity.trainCentroids(e, nCentroids = 8)
    capture("dedup_semantic_decisions")(
      semanticDecisionsOracleSql(cents))
    graft.operators.Clustering.semanticDecisions(
      e, cents, threshold = 0.4)
  }

  private def annQueries(s: SparkSession, dir: String): DataFrame =
    // FIXED query batch: the bound keeps the batch at the sf0.1
    // corpus's 40 query vectors at ANY scale (scaled-corpus copies sit
    // at +1e9 offsets) — the realistic serving shape is a bounded
    // query batch against a growing corpus, and without the bound the
    // batch grew with the corpus and every ANN bench query was
    // quadratic per decade by construction. At the gate scale factors
    // (ids <= 1999) the bound is a no-op, so oracles are unchanged in
    // effect, but every oracle mirrors it for definitional identity.
    t(s, dir, "embeddings")
      .filter(col("vec_id") % 50 === 0 && col("vec_id") < 2000)

  private def qSimBruteforce(s: SparkSession, dir: String): DataFrame =
    Similarity.bruteForceTopK(
      t(s, dir, "embeddings"), annQueries(s, dir), k = 10)

  private def qSimLsh(s: SparkSession, dir: String): DataFrame =
    Similarity.lshTopK(
      t(s, dir, "embeddings"), annQueries(s, dir), k = 10)

  private def qSimIvf(s: SparkSession, dir: String): DataFrame = {
    // capture the trained model so oracleSql can embed the exact
    // centroids this assignment used (Verify dumps oracles after
    // running every query). nProbe=12/16 is tuned to the recall ≥ 0.9
    // CI gate on THIS corpus — near-random 64-d vectors (max pairwise
    // cosine ~0.51), the worst case for IVF pruning; a clustered
    // production embedding space sustains the same recall at a far
    // smaller probe fraction.
    val cents = Similarity.trainCentroids(
      t(s, dir, "embeddings"), nCentroids = 16)
    capture("sim_topk_ivf")(ivfOracleSql(cents))
    Similarity.ivfTopK(
      t(s, dir, "embeddings"), annQueries(s, dir), k = 10,
      nCentroids = 16, nProbe = 12, model = Some(cents))
  }

  private def qSimIvfIndexed(s: SparkSession, dir: String): DataFrame = {
    // The PERSISTED inverted-file index: corpus written once,
    // directory-partitioned by cluster (each inverted list = one
    // partition dir), probes join the index with dynamic partition
    // pruning restricting the scan to probed lists. Same model,
    // probes and semantics as sim_topk_ivf — same oracle — different
    // I/O: at 10⁴ clusters / nProbe 32, the probe reads 0.3% of the
    // corpus instead of all of it.
    val e = t(s, dir, "embeddings")
    val cents = Similarity.trainCentroids(e, nCentroids = 16)
    capture("sim_topk_ivf_indexed")(ivfOracleSql(cents))
    Similarity.writeIvfIndex(e, cents, "ivfidx")
    Similarity.ivfTopKFromIndex(
      s, "ivfidx", annQueries(s, dir), cents, k = 10, nProbe = 12)
  }

  private def qSimPq(s: SparkSession, dir: String): DataFrame = {
    // Product quantization + exact rerank: candidates ranked on the
    // COMPRESSED code table (8 codes per vector), exact cosine only on
    // the top-128 per query. Model captured like the IVF centroids so
    // the oracle embeds the exact codebooks this encode used.
    // cb=32/rerank=128 is tuned to the recall ≥ 0.9 CI gate on this
    // deliberately unclustered corpus (recall 0.94 measured) — finer
    // codebooks buy a smaller rerank set than cb=16 needed.
    val pq = Similarity.trainPq(
      t(s, dir, "embeddings"), codebookSize = 32).get
    capture("sim_topk_pq")(pqOracleSql(pq))
    Similarity.pqTopK(t(s, dir, "embeddings"), annQueries(s, dir),
      k = 10, codebookSize = 32, rerank = 128, model = Some(pq))
  }

  private def qSimIvfPq(s: SparkSession, dir: String): DataFrame = {
    // The composed index: IVF restricts the scan to the probed
    // clusters, PQ codes are the only per-row payload the candidate
    // scan reads, exact cosine reranks the top-192. Both models
    // captured so the oracle replays cluster assignment, probing,
    // encode and ADC with the exact literals this run used.
    // nProbe=12 / cb=32 / rerank=192 clear the recall ≥ 0.9 CI gate
    // with margin (0.94) on the unclustered worst-case corpus.
    val e = t(s, dir, "embeddings")
    val cents = Similarity.trainCentroids(e, nCentroids = 16)
    val pq = Similarity.trainPq(e, codebookSize = 32).get
    capture("sim_topk_ivfpq")(ivfPqOracleSql(cents, pq))
    Similarity.ivfPqTopK(e, annQueries(s, dir), k = 10,
      nCentroids = 16, nProbe = 12, rerank = 192,
      ivfModel = Some(cents), pqModel = Some(pq))
  }

  private def qCosineThresholdJoin(s: SparkSession, dir: String)
      : DataFrame = {
    // The DECLARATIVE similarity join: the user writes the O(n²)
    // cosine-threshold predicate; the opt-in RewriteCosineThresholdJoin
    // optimizer rule plans the banded-LSH hash join (plan shape pinned
    // by GraftExtensionsSpec). The oracle re-derives the banded
    // semantics — signature, band collision, canonical first band,
    // residual cosine filter — independently in DuckDB. The flag is
    // scoped (Iterate.scoped) and the join executes inside the scope.
    Iterate.scoped(s, "spark.graft.cosineRewrite.enabled" -> "true") { iso =>
      val e = t(s, dir, "embeddings").on(iso)
      val a = e.select(col("vec_id").as("id_a"), col("embedding").as("emb_a"))
      val b = e.select(col("vec_id").as("id_b"), col("embedding").as("emb_b"))
      import graft.functions.VectorFunctions.cosine_sim
      val df = a.join(b,
          cosine_sim(col("emb_a"), col("emb_b")) >= 0.4 &&
            col("id_a") < col("id_b"))
        .select(col("id_a"), col("id_b"),
          cosine_sim(col("emb_a"), col("emb_b")).as("cosine"))
        .orderBy("id_a", "id_b")
      df.materialized()
    }
  }

  private def qJoinJaccardThreshold(s: SparkSession, dir: String)
      : DataFrame = {
    // The declarative TEXT similarity join: the user writes the O(n²)
    // text_jaccard predicate; the opt-in RewriteJaccardThresholdJoin
    // rule replans it through dedup_ngram_jaccard's prefix-filter
    // candidate generation (PrefixFilter) — a STRICT equivalence
    // (exact recall), unlike the LSH cosine rewrite. Same flag-scoping
    // discipline as qCosineThresholdJoin: execute eagerly while the
    // flag is on.
    import graft.functions.VectorFunctions.text_jaccard
    Iterate.scoped(s, "spark.graft.jaccardRewrite.enabled" -> "true") { iso =>
      val d = t(s, dir, "documents").on(iso)
      val a = d.select(col("doc_id").as("id_a"), col("text").as("text_a"))
      val b = d.select(col("doc_id").as("id_b"), col("text").as("text_b"))
      val df = a.join(b,
          text_jaccard(col("text_a"), col("text_b"), 8) >= 0.7 &&
            col("id_a") < col("id_b"))
        .select(col("id_a"), col("id_b"),
          text_jaccard(col("text_a"), col("text_b"), 8).as("jaccard"))
        .orderBy("id_a", "id_b")
      df.materialized()
    }
  }

  private def qDedupSortedNbr(s: SparkSession, dir: String): DataFrame =
    // Blocked sorted-neighborhood dedup — the sort-based blocking
    // strategy next to the hash-based families: one block-keyed
    // window, candidates are the next 3 docs in normalized-text sort
    // order, verification is exact 8-gram Jaccard in the scan stage.
    // The oracle replays the same window (lead 1..3 per block) and
    // verifies candidates with the string-gram Jaccard formula.
    graft.operators.Dedup.sortedNeighborhoodPairs(
      t(s, dir, "documents"))

  private def qJoinHammingThreshold(s: SparkSession, dir: String)
      : DataFrame = {
    // The third declarative similarity join, and the only one whose
    // predicate is PURE BUILTINS: the user writes
    // bit_count(sig_a ^ sig_b) <= 3 over 64-bit SimHash signatures;
    // the opt-in RewriteHammingThresholdJoin replans it as the 8×8-bit
    // banded equi-join with exactly-once canonical-band emission — a
    // STRICT equivalence by pigeonhole (3 < 8 bands), so the oracle is
    // the naive full pairwise Hamming join.
    import graft.functions.VectorFunctions.simhash64
    Iterate.scoped(s, "spark.graft.hammingRewrite.enabled" -> "true") { iso =>
      val d = t(s, dir, "documents").on(iso).select(col("doc_id"),
        simhash64(TextFunctions.tokens(col("text"))).as("sig"))
      val a = d.select(col("doc_id").as("id_a"), col("sig").as("sig_a"))
      val b = d.select(col("doc_id").as("id_b"), col("sig").as("sig_b"))
      val df = a.join(b,
          bit_count(col("sig_a").bitwiseXOR(col("sig_b"))) <= 3 &&
            col("id_a") < col("id_b"))
        .select(col("id_a"), col("id_b"),
          bit_count(col("sig_a").bitwiseXOR(col("sig_b"))).as("hamming"))
        .orderBy("id_a", "id_b")
      df.materialized()
    }
  }

  private def qStreamMinhashPairs(s: SparkSession, dir: String)
      : DataFrame = {
    // A REAL streaming run through the driver gate: the documents table
    // streams through the stateful band-bucket dedup and the emitted
    // pair set must equal the batch minhash pair SQL (same oracle as
    // dedup_minhash_lsh).
    val sink = graft.streaming.DocsStream.runMinhashStream(
      s, dir, "stream_minhash_pairs_sink")
    s.table(sink).distinct().orderBy("id_a", "id_b")
  }

  private def qStreamDedupExact(s: SparkSession, dir: String)
      : DataFrame = {
    // A REAL streaming run through the driver gate: documents stream
    // through the stateful per-fingerprint dedup and the emitted
    // keep/dup_of decisions must equal batch Dedup.exact (same oracle
    // minus the fp column).
    val sink = graft.streaming.DocsStream.runExactDedupStream(
      s, dir, "stream_dedup_exact_sink")
    s.table(sink).orderBy("doc_id")
  }

  private def qStreamDecontam(s: SparkSession, dir: String): DataFrame = {
    // A REAL streaming run through the driver gate: the training docs
    // STREAM through the stateless gram-intersection decontaminator
    // (static broadcast eval set, no keyed state, no watermark) and the
    // emitted reports must equal the batch operator row-for-row.
    val sink = graft.streaming.DocsStream.runDecontamStream(
      s, dir, "stream_decontam_sink")
    s.table(sink).orderBy("doc_id")
  }

  private def qStreamQualityFilter(s: SparkSession, dir: String)
      : DataFrame = {
    // A REAL streaming run of the model-based quality filter: batch
    // training (epoch-static model), stateless stream scoring — the
    // captured coefficients export to the same oracle shape as the
    // batch twin, and stream output ≡ batch row-for-row.
    val (sink, model) = graft.streaming.DocsStream
      .runQualityFilterStream(s, dir, "stream_quality_sink")
    capture("stream_quality_filter")(qmLrOracleSql(model))
    s.table(sink).orderBy("doc_id")
  }

  private def qStreamHeavyHitters(s: SparkSession, dir: String)
      : DataFrame = {
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
  }

  private def qMultimodalPng(s: SparkSession, dir: String): DataFrame =
    // The COMPRESSED container: every document becomes a real 8-bit RGB
    // PNG (zlib-deflated IDAT, CRC'd chunks, scanline filters rotating
    // through all five standard types), then the full decode — CRC
    // walk, inflate, de-filter — must recover the original pixels. The
    // oracle re-derives geometry AND the pixel-byte checksum from the
    // raw text in SQL, so one wrong byte anywhere in the
    // deflate → inflate → unfilter round trip fails the hash.
    Multimodal.pngPixelStats(s,
      Multimodal.asPngMedia(t(s, dir, "documents")))
      .orderBy("doc_id").toDF()

  private def qMultimodalVideo(s: SparkSession, dir: String): DataFrame =
    // The VIDEO container: every document becomes a real RIFF AVI
    // (MainAVIHeader + 'vids'/'DIB ' stream + movi LIST of
    // uncompressed bottom-up DIB frames), then the full decode — RIFF
    // walk, header consistency checks, row de-pad/un-flip — and
    // every-2nd-frame sampling (the keyframe-sampling move that turns
    // hours of footage into a bounded frame set). The oracle
    // re-derives geometry, frame count, sample count AND the
    // sampled-frame pixel checksum from the raw text bytes, so one
    // wrong byte anywhere in the container round trip fails the hash.
    Multimodal.aviFrameSample(s,
      Multimodal.asAviMedia(t(s, dir, "documents")), step = 2)
      .orderBy("doc_id").toDF()

  private def qMultimodalResize(s: SparkSession, dir: String): DataFrame =
    // The resize stage: decode (full PNG pipeline) then a REAL
    // materialized nearest-neighbor ½× downsample; the oracle
    // re-derives the sampled-byte checksum position by position from
    // the raw text, so a single mis-sampled pixel fails the hash.
    Multimodal.pngResize(s,
      Multimodal.asPngMedia(t(s, dir, "documents")))
      .orderBy("doc_id").toDF()

  private def qMultimodalAudio(s: SparkSession, dir: String): DataFrame =
    // The audio twin of multimodal_png: every document becomes a REAL
    // PCM-16 RIFF/WAVE payload, and the features come out of the full
    // chunk-walk decode as EXACT integers (total energy, total
    // magnitude, zero-crossing count) — accumulation-order-invariant,
    // so the oracle re-derives them sample-for-sample from the text's
    // UTF-8 bytes ((byte−128)<<8 per the encoder) and one mis-parsed
    // or mis-scaled sample anywhere in the RIFF walk fails the hash.
    Multimodal.audioStats(s,
      Multimodal.asWavMedia(t(s, dir, "documents")))
      .orderBy("doc_id").toDF()

  private def qDedupPhash(s: SparkSession, dir: String): DataFrame =
    // Perceptual image dedup — the multimodal/dedup crossover: every
    // document becomes a real PNG, the FULL decode recovers pixels,
    // dHash reduces them to a 64-bit gradient signature, and the
    // signature-generic banded-Hamming join (the simhash machinery)
    // finds near-duplicate images. One posting shuffle, O(cap)
    // buckets; the oracle replays the 9×8 sampling grid position for
    // position from the text bytes, assembles the same 64 bits, and
    // re-runs the banding + popcount verification in HUGEINT SQL.
    graft.operators.Dedup.hammingPairsFromSigs(
      Multimodal.dHash(s,
        Multimodal.asPngMedia(t(s, dir, "documents"))).toDF(),
      maxHamming = 5, bands = 8, maxBucket = 500)
      .orderBy("id_a", "id_b")

  private def qBloomPrefilterJoin(s: SparkSession, dir: String)
      : DataFrame = {
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
  }

  private def qMultimodal(s: SparkSession, dir: String): DataFrame =
    Multimodal.pipelineStats(s, t(s, dir, "documents"))

  private def qMultimodalSizes(s: SparkSession, dir: String): DataFrame =
    // Byte accounting through the REAL binary containers: the payloads
    // are genuine BMP/WAV files whose sizes follow the container math
    // (54 + 4-aligned pixel rows / 44 + 2·ch·samples), and the oracle
    // recomputes exactly those formulas from the text byte length in SQL —
    // so a single padding byte lost or misparsed anywhere in the
    // encode → binary column → decode round-trip fails the hash.
    Multimodal.decodeMeta(s, Multimodal.asMedia(t(s, dir, "documents")))
      .groupBy("media_type")
      .agg(count(lit(1)).as("n_media"),
        sum(col("byte_len").cast("long")).as("total_bytes"))
      .orderBy("media_type")

  private def qAsofJoin(s: SparkSession, dir: String): DataFrame = {
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
  }

  private def qCleanCorpus(s: SparkSession, dir: String): DataFrame = {
    // End-to-end LLM-data-prep composition: fingerprint-dedup → quality
    // gate → language ID → per-language clean-corpus stats. ONE wide
    // shuffle (the fp window carries the text once) + the final tiny
    // agg — the shape of a real 100 TB pre-training cleanup job. The
    // former skinny-dedup-then-join-back plan shuffled the wide rows
    // TWICE once the keep-id side outgrew the broadcast threshold (the
    // sf1→sf10 rehearsal hit exactly that cliff: 1.4 s → 29 s); a
    // keep-marking min-window over the fingerprint is the same
    // decision [[Dedup.exact]] makes, computed where the text already
    // is.
    val docs = t(s, dir, "documents")
    val w = Window.partitionBy("fp")
    docs
      .withColumn("fp", TextFunctions.fingerprint(col("text")))
      .withColumn("keep", col("doc_id") === min("doc_id").over(w))
      .filter(col("keep"))
      .withColumn("quality", TextFunctions.qualityScore(col("text")))
      .withColumn("lang_pred", TextFunctions.langId(col("text")))
      .filter(col("quality") > 0.2)
      .groupBy("lang_pred")
      .agg(
        count(lit(1)).as("n_docs"),
        sum(TextFunctions.tokenCount(col("text")).cast("long"))
          .as("total_tokens"))
      .orderBy("lang_pred")
  }

  private def qSkewSaltedAgg(s: SparkSession, dir: String): DataFrame =
    // Hot-grouping-key mitigation: salt the first aggregation phase so
    // one hot key's rows spread over 16 reducers, then merge partials.
    // The result is IDENTICAL to the direct groupBy (cents-exact sums
    // merge associatively) — which is exactly what the oracle checks.
    graft.sources.Skew.saltedCountSum(
      t(s, dir, "orders"), "o_custkey", "o_totalprice")
      .orderBy("o_custkey")

  private def qJoinSkewSalted(s: SparkSession, dir: String): DataFrame =
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

  private val splitFractions =
    Seq("train" -> 0.9, "val" -> 0.05, "test" -> 0.05)

  // ListMap: sampleStratified folds the map in iteration order and a
  // LATER entry wins on (impossible here) stratum overlap — pin the
  // order so the Spark plan and the oracle CASE agree structurally.
  private val stratifiedFractions = scala.collection.immutable.ListMap(
    "en" -> 0.25, "zh" -> 0.8, "es" -> 1.0, "de" -> 0.5)

  private def qAggWeightedMedian(s: SparkSession, dir: String)
      : DataFrame = {
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
  }

  private def qAggSampleEstimate(s: SparkSession, dir: String)
      : DataFrame = {
    // Sample-based aggregate estimation — the "answer from a tenth of
    // the scan" move a 100 TB dashboard runs. Membership is a pure
    // function of the row's key (XXH64 bucket < 1000 of 10000 — the
    // same deterministic-sampling contract as sample_splits; rows
    // sharing a key travel together, so the sample is stable under
    // rerun/reshuffle/append). The gate query computes estimate AND
    // exact in one conditional aggregate to REPORT the true error in
    // exact ppm integers; the production path scans only the sample.
    val li = t(s, dir, "lineitem")
    val key = (col("l_orderkey") * 10 + col("l_linenumber")).cast("long")
    val inSample = pmod(xxhash64(key), lit(10000)) < 1000
    li.groupBy("l_returnflag")
      .agg(
        count(lit(1)).as("exact_rows"),
        sum(col("l_quantity").cast("long")).as("exact_qty"),
        (sum(when(inSample, 1L).otherwise(0L)) * 10).as("est_rows"),
        (sum(when(inSample, col("l_quantity").cast("long"))
          .otherwise(0L)) * 10).as("est_qty"))
      .select(col("l_returnflag"),
        col("exact_rows"), col("est_rows"),
        expr("abs(est_rows - exact_rows) * 1000000L DIV exact_rows")
          .as("err_rows_ppm"),
        col("exact_qty"), col("est_qty"),
        expr("abs(est_qty - exact_qty) * 1000000L DIV exact_qty")
          .as("err_qty_ppm"))
      .orderBy("l_returnflag")
  }

  private def qSampleSplits(s: SparkSession, dir: String): DataFrame =
    // Reproducible train/val/test assignment: pure function of the row
    // key (xxhash64 bucket), so membership survives reruns, reshuffles
    // and incremental appends. Oracle-checked: the oracle re-derives
    // XXH64(long) itself in DuckDB SQL (see xxhash64BucketSql — 128-bit
    // HUGEINT arithmetic mod 2^64), bit-exact against Spark's hash.
    graft.operators.Sampling.splitByHash(
      t(s, dir, "documents"), col("doc_id"), splitFractions)
      .select("doc_id", "split")
      .orderBy("doc_id")

  private def qSampleStratified(s: SparkSession, dir: String): DataFrame =
    // Per-stratum deterministic downsampling — the rebalancing move of
    // every training-data pipeline (downsample the dominant language,
    // keep the rare ones whole). Same pure-function-of-key contract as
    // sample_splits: a row's keep decision never changes across runs,
    // layouts, or incremental appends. Strata absent from the map
    // ('fr') are dropped entirely. Oracle re-derives XXH64(doc_id) in
    // HUGEINT SQL and applies the same bucket thresholds.
    graft.operators.Sampling.sampleStratified(
      t(s, dir, "documents"), col("doc_id"), col("lang"),
      stratifiedFractions)
      .select("doc_id", "lang")
      .orderBy("doc_id")

  // ListMap for the same reason as stratifiedFractions: the fold order
  // is the CASE order on both sides.
  private val mixWeights = scala.collection.immutable.ListMap(
    "src0" -> 2.2, "src1" -> 0.5, "src2" -> 1.0, "src3" -> 3.0)

  private def qSampleWeightedMix(s: SparkSession, dir: String): DataFrame =
    // Epoch composition: deterministic weighted source mixing with
    // REPETITION (2.2 epochs of src0: every row twice, plus a stable
    // hash-chosen 20% a third time). Pure function of the key — the
    // same corpus mixes identically on every run; sources outside the
    // recipe are dropped. Copies materialize as a scan-stage explode.
    graft.operators.Sampling.weightedMix(
      t(s, dir, "documents"), col("doc_id"), col("source"), mixWeights)
      .select("doc_id", "source", "copy_id")
      .orderBy("doc_id", "copy_id")

  private def qAggIncremental(s: SparkSession, dir: String): DataFrame = {
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
  }

  private def qAggIncrementalDistinct(s: SparkSession, dir: String)
      : DataFrame = {
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
  }

  private def qCurationDomainCap(s: SparkSession, dir: String): DataFrame = {
    // Per-domain diversity cap: at most 3 docs per host, chosen by
    // quality. The corpus has no URL column, so one is derived
    // deterministically from (source, doc_id) — the multimodal
    // pattern: synthesize the container, exercise the REAL parsing
    // path (builtin parse_url host extraction) and let the oracle
    // re-derive the expected host string and the capped ranking.
    val d = t(s, dir, "documents")
    val url = concat(lit("https://"), col("source"), lit("-"),
      pmod(col("doc_id"), lit(7L)), lit(".example.com/docs/"),
      col("doc_id"))
    graft.operators.Sampling.domainCap(
        d, url, TextFunctions.qualityScore(col("text")), cap = 3)
      .select(col("doc_id"), col("host"), col("rank"), col("kept"))
      .orderBy("doc_id")
  }

  private def qCurationUrlDedup(s: SparkSession, dir: String): DataFrame = {
    // URL canonicalization dedup — the curation step upstream of any
    // text-level dedup in a crawl pipeline: the same resource crawled
    // under scheme/case/port/tracking-param/fragment noise collapses
    // onto one canonical key and only the smallest doc_id survives.
    // Like domain_cap, the corpus has no URL column, so one is
    // synthesized deterministically: the RESOURCE identity is a pure
    // function of k = doc_id % 250 (host shard, path, real query
    // param), while the NOISE varies with doc_id (scheme spelling,
    // www., host case, :443, trailing slash, utm_*, fragment) — so
    // every duplicate group exercises the canonicalizer, and the
    // oracle re-derives both the synthesis and the canonical pipeline.
    // One canonical-key-partitioned window — the exact-dedup shape.
    val d = t(s, dir, "documents")
    val k = pmod(col("doc_id"), lit(250L))
    val hostBase = concat(lit("ex"), pmod(k, lit(10L)),
      lit(".example.org"))
    val url = concat(
      element_at(array(lit("https://"), lit("http://"), lit("HTTPS://"),
        lit("Http://")), (pmod(col("doc_id"), lit(4L)) + 1).cast("int")),
      when(pmod(col("doc_id"), lit(3L)) === 0, lit("www."))
        .otherwise(lit("")),
      when(pmod(col("doc_id"), lit(5L)) === 0, upper(hostBase))
        .otherwise(hostBase),
      when(pmod(col("doc_id"), lit(7L)) === 0, lit(":443"))
        .otherwise(lit("")),
      lit("/a/"), k,
      when(pmod(col("doc_id"), lit(2L)) === 0, lit("/")).otherwise(lit("")),
      when(pmod(k, lit(3L)) < 2, concat(lit("?id="), pmod(k, lit(5L))))
        .otherwise(lit("")),
      when(pmod(col("doc_id"), lit(3L)) === 1,
        when(pmod(k, lit(3L)) < 2, lit("&utm_source=feed"))
          .otherwise(lit("?utm_source=feed"))).otherwise(lit("")),
      when(pmod(col("doc_id"), lit(6L)) === 2,
        concat(lit("#sec-"), col("doc_id"))).otherwise(lit("")))
    val w = Window.partitionBy("canonical")
    d.select(col("doc_id"), url.as("url"),
        TextFunctions.canonicalUrl(url).as("canonical"))
      .withColumn("rep", min("doc_id").over(w))
      .select(col("doc_id"), col("url"), col("canonical"),
        (col("doc_id") === col("rep")).as("keep"),
        when(col("doc_id") =!= col("rep"), col("rep")).as("dup_of"))
      .orderBy("doc_id")
  }

  /** The customer↔supplier order graph of graph_pagerank and
    * graph_bfs: (nodes, edges), an edge when a customer's order
    * contains a line from the supplier, in both directions. Node ids
    * are 2·custkey for customers and 2·suppkey+1 for suppliers. */
  private def orderGraph(s: SparkSession, dir: String)
      : (DataFrame, DataFrame) = {
    val o = t(s, dir, "orders")
    val li = t(s, dir, "lineitem")
    val pairs = o.join(li, o("o_orderkey") === li("l_orderkey"))
      .select((col("o_custkey") * 2).cast("long").as("c"),
        (col("l_suppkey") * 2 + 1).cast("long").as("sp"))
      .distinct()
    val nodes = t(s, dir, "customer")
      .select((col("c_custkey") * 2).cast("long").as("id"))
      .unionByName(t(s, dir, "supplier")
        .select((col("s_suppkey") * 2 + 1).cast("long").as("id")))
    (nodes, graft.operators.Graph.bothDirections(pairs, "c", "sp"))
  }

  private def qGraphPagerank(s: SparkSession, dir: String): DataFrame = {
    // Exact-integer PageRank over the customer↔supplier order graph
    // (both directions, so the walk is undirected). Fixed 5
    // iterations of scaled-long floor-division rank flow
    // (operators/Graph.scala) — reproducible at any parallelism, so
    // the oracle can unroll the identical 5 iterations as chained
    // CTEs and hash-match the raw ranks.
    val (nodes, edges) = orderGraph(s, dir)
    graft.operators.Graph.pageRank(nodes, edges, iters = 5)
      .select(col("id").as("node_id"),
        when(pmod(col("id"), lit(2L)) === 0, lit("customer"))
          .otherwise(lit("supplier")).as("node_type"),
        expr("id div 2").as("node_key"),
        col("rank").as("rank_scaled"))
      .orderBy("node_id")
  }

  private def qGraphTriangles(s: SparkSession, dir: String): DataFrame = {
    // Per-node triangle counts + local clustering coefficient over a
    // deterministic circulant graph on the document ids (offsets
    // 1/2/4 plus a sparse 7-offset for every third node, so degrees
    // VARY and the degree-orientation actually reorders edges). The
    // synthesis is the multimodal pattern: build the structure from
    // corpus ids, exercise the REAL operator (degree orientation,
    // wedge join, closing-edge join), and let the oracle re-derive
    // the same graph and count in SQL. coeff is exact integer micros
    // — 2·tri·1e6 div deg·(deg−1) — so the ratio hash-matches.
    val ids = t(s, dir, "documents").select(col("doc_id").as("i"))
    val nDf = ids.agg((max(col("i")) + 1).as("n"))
    val withN = ids.crossJoin(broadcast(nDf))
    // all four offsets from ONE pass (r16): the former 3-way union +
    // conditional extra re-scanned the ids×n subtree once per branch
    // (no reuse across differently-projected union arms); same rows
    val offEdge = (o: Long) =>
      struct(col("i").as("a"), pmod(col("i") + o, col("n")).as("b"))
    val all = withN.select(explode(concat(
        array(offEdge(1L), offEdge(2L), offEdge(4L)),
        when(col("i") % 3 === 0, array(offEdge(7L)))
          .otherwise(array().cast("array<struct<a:bigint,b:bigint>>"))))
        .as("e"))
      .select(col("e.a").as("a"), col("e.b").as("b"))
    graft.operators.Graph.triangleCounts(all)
      .select(col("node"), col("degree"), col("triangles"),
        when(col("degree") >= 2,
          expr("(2 * triangles * 1000000) div (degree * (degree - 1))"))
          .as("coeff_micros"))
      .orderBy("node")
  }

  private def qAggIncrementalQuantile(s: SparkSession, dir: String)
      : DataFrame = {
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
  }

  private def qGraphLabelProp(s: SparkSession, dir: String): DataFrame = {
    // Community detection by synchronous label propagation over a
    // deterministic "caveman" graph on the document ids: blocks of 50
    // wired by local chains (i±1, i±2), a per-block hub, and weak
    // hub-to-hub bridges. Four pinned rounds with the (count desc,
    // label asc) tie-break make the labels a pure function of the
    // graph — the oracle unrolls the identical rounds.
    val ids = t(s, dir, "documents").select(col("doc_id").as("i"))
    val mDf = ids.agg(max(col("i")).as("m"))
    val withM = ids.crossJoin(broadcast(mDf))
    val sameBlock = (o: Int) =>
      expr(s"(i div 50) = ((i + $o) div 50)") && col("i") + o <= col("m")
    // all four wiring rules from ONE pass (r16): the former 4-way
    // union re-scanned the ids×m subtree once per branch (no reuse
    // across differently-filtered, differently-projected arms); a
    // per-element when(cond, struct) + null filter emits the same rows
    val und0 = withM.select(explode(filter(array(
        when(sameBlock(1),
          struct(col("i").as("a"), (col("i") + 1).as("b"))),
        when(sameBlock(2),
          struct(col("i").as("a"), (col("i") + 2).as("b"))),
        when(col("i") % 50 =!= 0,
          struct(col("i").as("a"), expr("(i div 50) * 50").as("b"))),
        when(col("i") % 50 === 0 && col("i") + 50 <= col("m"),
          struct(col("i").as("a"), (col("i") + 50).as("b")))),
        x => x.isNotNull)).as("e"))
      .select(col("e.a").as("a"), col("e.b").as("b"))
    val und = und0.select(least(col("a"), col("b")).as("a"),
      greatest(col("a"), col("b")).as("b")).distinct()
    graft.operators.Graph.labelPropagation(ids.select(col("i").as("id")),
        graft.operators.Graph.bothDirections(und, "a", "b"), iters = 4)
      .orderBy("id")
  }

  private def qEventsRetention(s: SparkSession, dir: String): DataFrame =
    // Cohort retention matrix — the longitudinal product-analytics
    // view: users keyed by first-activity date, activity counted per
    // (cohort, day offset). Day arithmetic is exact integers.
    graft.operators.TimeSeries.retentionCohorts(t(s, dir, "events"))
      .orderBy("cohort_day", "day_offset")

  private def qEventsFunnelSteps(s: SparkSession, dir: String): DataFrame =
    // Ordered funnel attribution: signup → first view ≥ signup →
    // first purchase ≥ that view; each stage one per-user row, nulls
    // where the funnel stalls.
    graft.operators.TimeSeries.funnelSteps(t(s, dir, "events"))
      .orderBy("user_id")

  private def qPackSequences(s: SparkSession, dir: String): DataFrame =
    // Sequence packing manifest (concat-then-chunk): the corpus cut
    // into 128-token training sequences across 8 independent
    // hash-sharded streams — one hash-partition shuffle, per-shard
    // local sort, token counting in the scan stage. The oracle
    // re-derives XXH64(doc_id) in HUGEINT SQL (shard + stream order
    // are both functions of it) and replays the running-offset window
    // arithmetic exactly.
    graft.operators.Packing.packManifest(
      t(s, dir, "documents"), seqLen = 128, nShards = 8)
      .orderBy("doc_id")

  private def qPackIndex(s: SparkSession, dir: String): DataFrame =
    // Loader-side expansion of the packing manifest: per (shard, seq),
    // how many documents fill the sequence and their id range. The
    // explode fan-out is bounded by token mass / seqLen, not doc count.
    graft.operators.Packing.sequenceIndex(
      graft.operators.Packing.packManifest(
        t(s, dir, "documents"), seqLen = 128, nShards = 8))
      .orderBy("shard", "seq")

  private def qStreamFunnel(s: SparkSession, dir: String): DataFrame =
    // Batch run of the shared batch/stream funnel join (stream-stream
    // inner join with watermarks in streaming mode; plain range-
    // predicate join here). Sorting by EVERY output column gives a
    // deterministic total order even if two matches tie on a prefix.
    EventsStream.purchaseAfterSignup(t(s, dir, "events"))
      .select("p_user", "purchase_ts", "signup_ts", "value")
      .orderBy("p_user", "purchase_ts", "signup_ts", "value")

  private def qTopkAggregator(s: SparkSession, dir: String): DataFrame = {
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
  }

  private def qStreamWindowAgg(s: SparkSession, dir: String): DataFrame =
    // Batch run of the shared batch/streaming transform (the streaming
    // spec drives the same code through readStream + memory sink).
    EventsStream.windowedAgg(t(s, dir, "events"))
      .orderBy("window_start", "event_type")

  private def qSessionize(s: SparkSession, dir: String): DataFrame =
    EventsStream.sessionizeBatch(t(s, dir, "events"))

  private def qUserProfiles(s: SparkSession, dir: String): DataFrame =
    // Batch twin of the mapGroupsWithState streaming upsert — the spec
    // proves the stream's final state equals this aggregate.
    EventsStream.userProfileBatch(t(s, dir, "events"))

  private def qProfileNumeric(s: SparkSession, dir: String): DataFrame =
    // One-scan per-column profile (row/null/distinct counts + ranges);
    // the multi-COUNT(DISTINCT) plans as a single Expand aggregate.
    graft.operators.Profile.numeric(t(s, dir, "lineitem"),
      Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax"))

  private def qProfileKeys(s: SparkSession, dir: String): DataFrame =
    // Candidate-key discovery on orders: per column (+ one composite)
    // exact distinct vs non-null rows, uniqueness in exact ppm, is_key
    // verdict. One Expand aggregate — the profile_numeric plan shape.
    graft.operators.Profile.candidateKeys(t(s, dir, "orders"),
      Seq("o_orderkey", "o_custkey", "o_orderstatus", "o_orderdate"),
      pairs = Seq(("o_custkey", "o_orderdate")))

  private def qEventsSessionWindow(s: SparkSession, dir: String)
      : DataFrame =
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

  private def qScd2EventRuns(s: SparkSession, dir: String): DataFrame =
    // SCD2 history build: per-user runs of consecutive event_type
    // collapsed to validity intervals (valid_from/valid_to/is_current)
    // via gaps-and-islands — both row_numbers and the groupBy share
    // one user-partitioned exchange. The unique event id is the chain
    // tiebreak (same-timestamp events interleaving types make
    // valid_from alone ambiguous).
    graft.operators.TimeSeries.scd2EventRuns(t(s, dir, "events"))
      .orderBy("user_id", "first_event_id")

  private def qAggCorrExact(s: SparkSession, dir: String): DataFrame =
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

  private def qEventsAnomaly(s: SparkSession, dir: String): DataFrame =
    // 3-sigma hourly anomaly flags with the z-test cross-multiplied
    // into exact integers (see TimeSeries.anomaly3Sigma) — the flag is
    // bit-reproducible in any engine, no float variance involved.
    graft.operators.TimeSeries.anomaly3Sigma(t(s, dir, "events"))
      .orderBy("event_type", "hour")

  private def qEventsResample(s: SparkSession, dir: String): DataFrame =
    // Fixed-grid resample with explicit gap semantics: every (hour,
    // event_type) cell present, zero-filled counts/sums and a
    // forward-filled last observation (IGNORE NULLS running window).
    graft.operators.TimeSeries.resampleHourly(t(s, dir, "events"))

  private def qEventsInterpolate(s: SparkSession, dir: String): DataFrame =
    // Linear gap interpolation on the same grid: empty hours between
    // two observations take the proportional value in exact micros;
    // leading/trailing gaps stay null (no extrapolation).
    graft.operators.TimeSeries.interpolateHourly(t(s, dir, "events"))

  private def qFeatHashing(s: SparkSession, dir: String): DataFrame =
    // Hashing-trick text features (Weinberger et al. 2009): feat_idx =
    // FNV-1a(token UTF-8 bytes) mod dim, sign = the hash's top bit, so
    // no vocabulary pass and no driver state. Scan-stage hashing; the
    // one shuffle is the map-side-combined (doc, idx) aggregate. The
    // oracle folds the SAME bytes through the SAME multiply-xor in
    // HUGEINT SQL — every weight is re-derived bit-for-bit.
    graft.operators.Features
      .hashedTokenFeatures(t(s, dir, "documents"), dim = 256)
      .orderBy("doc_id", "feat_idx")

  private def qFeatBinning(s: SparkSession, dir: String): DataFrame =
    // Equal-frequency discretization + min-max scaling WITHOUT a
    // global sort: cutpoints are one bounded exact-percentile
    // aggregate broadcast back (the agg_percentiles-proven portable
    // percentile), bucket assignment is scan-stage arithmetic —
    // deliberately not ntile(), which would demand a single-partition
    // window. Boundary ties never split buckets.
    graft.operators.Features
      .quantileBins(t(s, dir, "orders"), "o_totalprice", buckets = 10)
      .orderBy("bucket")

  private def qCdcApply(s: SparkSession, dir: String): DataFrame = {
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
  }

  private def qTableDiff(s: SparkSession, dir: String): DataFrame = {
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
  }

  private def qRecordLinkage(s: SparkSession, dir: String): DataFrame = {
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
  }

  private def qPrivacyKanon(s: SparkSession, dir: String): DataFrame =
    // Release-side privacy audit: k-anonymity/l-diversity over the
    // (nation, segment) quasi-identifier with the acctbal thousand-
    // bucket as the sensitive attribute. One groupBy shuffle carrying
    // only (class, counts); exact integers end to end.
    graft.operators.Privacy.kAnonymityReport(
      t(s, dir, "customer"), Seq("c_nationkey", "c_mktsegment"),
      floor(col("c_acctbal") / 1000.0), k = 10L, l = 3L)
      .orderBy("c_nationkey", "c_mktsegment")

  private def qSearchPhrase(s: SparkSession, dir: String): DataFrame =
    // Exact phrase search ("table scan") via positional-alignment
    // voting: one corpus scan, phrase table broadcast, one map-side-
    // combined (doc, start) vote shuffle — never an n-way positional
    // self-join. Emits every occurrence (overlaps included).
    graft.operators.Search
      .phrase(t(s, dir, "documents"), Seq("table", "scan"))
      .orderBy("doc_id", "match_pos")

  private def qTextTfidf(s: SparkSession, dir: String): DataFrame =
    // Per-document salient terms: exact rational tf/df weight in
    // floor micros (the reproducible stand-in for tf·idf — see
    // Search.tfidfTopTerms for the trade), top-3 per doc with a
    // pinned term tie-break. df derives from tf's output, so the
    // corpus scans once.
    graft.operators.Search.tfidfTopTerms(t(s, dir, "documents"), 3)
      .orderBy("doc_id", "rk")

  private def qJoinIntervalOverlap(s: SparkSession, dir: String)
      : DataFrame = {
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
  }

  private def qStreamChecks(s: SparkSession, dir: String): DataFrame = {
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
  }

  private def qAggMode(s: SparkSession, dir: String): DataFrame = {
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
  }

  private def qAggMad(s: SparkSession, dir: String): DataFrame = {
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
  }

  private def qEventsTransitions(s: SparkSession, dir: String)
      : DataFrame = {
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
  }

  private def qJoinEditDistance(s: SparkSession, dir: String)
      : DataFrame = {
    // The FOURTH similarity family as a join predicate (next to
    // jaccard / cosine / hamming): exact Levenshtein distance over
    // blocked candidates — blocking bounds the quadratic verify, the
    // codegen'd levenshtein builtin is the verify (unit-cost edits,
    // identical in DuckDB, proven by the hash match). Re-listed parts
    // (table_diff's perturbation family) re-identified by name shape.
    // blocking key includes a 6-char NAME PREFIX (6 < the corpus-wide
    // minimum name length 7, so a suffix-only perturbation can never
    // reach into the blocked prefix): the coarse
    // (brand, size) key has a FIXED block count, so block occupancy —
    // and the blocked join's pair mass — grew quadratically with the
    // corpus, and at the sf1 gate the per-block cap dropped EVERY
    // block (documented degrade, but a diverged answer: 4k rows vs
    // the oracle's 11M). The re-listing perturbation this query hunts
    // is suffix-only, so prefix blocking loses no true pair BY
    // CONSTRUCTION and block cardinality now scales with the corpus —
    // the key choice a real 100 TB linkage job makes. Where a
    // replicated corpus STILL overflows the budget (sf10), the blocks
    // truncate per side instead of dropping whole. The oracle replays
    // the same key and the same truncation.
    val p0 = t(s, dir, "part")
      .select(col("p_partkey"), col("p_name"), col("p_brand"),
        col("p_size"), substring(col("p_name"), 1, 6).as("p_pfx"))
    val p1 = t(s, dir, "part").select(
      (col("p_partkey") + 5000000L).as("p_partkey"),
      when(col("p_partkey") % 3 === 0,
        concat(col("p_name"), lit(" deluxe")))
        .otherwise(col("p_name")).as("p_name"),
      col("p_brand"), col("p_size"))
      .withColumn("p_pfx", substring(col("p_name"), 1, 6))
    graft.operators.Linkage
      .candidates(p0, p1, Seq("p_brand", "p_size", "p_pfx"),
        maxPairs = 4096L)
      .withColumn("edit_dist",
        levenshtein(col("a_p_name"), col("b_p_name")).cast("long"))
      .filter(col("edit_dist") <= 7L)
      .select(col("a_p_partkey").as("a_key"),
        col("b_p_partkey").as("b_key"), col("edit_dist"))
      .orderBy("a_key", "b_key")
  }

  private def qSourceSchemaEvolution(s: SparkSession, dir: String)
      : DataFrame = {
    // Schema evolution across write epochs — the ingest reality a
    // long-lived corpus lives with: epoch 0 wrote (key, price), epoch
    // 1 added a status column; mergeSchema unions the file schemas at
    // read and backfills nulls. The per-epoch audit proves old rows
    // read with the new schema (status all-null) and new rows carry
    // real values; the oracle re-derives both epochs from the source
    // table, never touching the written files.
    val base = s"/tmp/graft-evo-${java.util.UUID.randomUUID()}"
    val o = t(s, dir, "orders")
    o.filter(col("o_orderkey") % 2 === 0)
      .select("o_orderkey", "o_totalprice")
      .withColumn("epoch", lit(0L))
      .write.mode("overwrite").parquet(s"$base/e0")
    o.filter(col("o_orderkey") % 2 === 1)
      .select("o_orderkey", "o_totalprice", "o_orderstatus")
      .withColumn("epoch", lit(1L))
      .write.mode("overwrite").parquet(s"$base/e1")
    s.read.option("mergeSchema", "true")
      .parquet(s"$base/e0", s"$base/e1")
      .groupBy("epoch")
      .agg(count(lit(1)).as("n"),
        sum(when(col("o_orderstatus").isNull, 1L).otherwise(0L))
          .as("n_status_null"),
        centsSum(col("o_totalprice")).as("sum_price"))
      .orderBy("epoch")
  }

  private def qAggContingency(s: SparkSession, dir: String)
      : DataFrame = {
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
  }

  private def qAsofJoinLeft(s: SparkSession, dir: String): DataFrame = {
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
  }

  private def qAsofJoinNearest(s: SparkSession, dir: String)
      : DataFrame = {
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
  }

  private def qAggRobustOutliers(s: SparkSession, dir: String)
      : DataFrame = {
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
  }

  private def qBpeTrain(s: SparkSession, dir: String): DataFrame =
    // Distributed BPE merge training, 3 rounds: weighted pair counts
    // over the word vocab (corpus scanned ONCE to build it), pinned
    // argmax, exact list-fold merge application with the winning pair
    // captured per round. The oracle re-derives every round FROM
    // SCRATCH — pair counts, argmax and the fold itself as recursive
    // CTEs — so the merge table is proven, not exported.
    graft.operators.Bpe.train(t(s, dir, "documents"), rounds = 3)
      .orderBy("round")

  private def qBpeSegment(s: SparkSession, dir: String): DataFrame = {
    // The apply half of the BPE family: segment every document with
    // the 3 learned merges — per doc, whitespace-token count vs
    // post-merge subword count. Segmentation is a broadcast-size join
    // of the corpus tokens against the (vocab-sized) trained symbol
    // state; the corpus rescans once to tokenize, never to train.
    val docs = t(s, dir, "documents")
    val seg = graft.operators.Bpe.symbolState(docs, rounds = 3)
      .select(col("tok"), size(split(col("segmented"), " "))
        .cast("long").as("n_sub"))
    docs.select(col("doc_id"),
        explode(graft.functions.TextFunctions.tokens(col("text")))
          .as("tok"))
      .join(seg, "tok")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_tokens"), sum(col("n_sub")).as("n_subwords"))
      .orderBy("doc_id")
  }

  /** The bpe_train oracle: `rounds` unrolled training rounds, each a
    * (pair-count, argmax-with-pinned-tie-break, recursive-CTE fold)
    * triple over the previous round's symbol state. The fold CTE is
    * the exact left-to-right non-overlapping merge — a string
    * replace() would under-merge consecutive occurrences. */
  private def bpeOracleSql(rounds: Int): String =
    bpeOracleCtes(rounds) + (1 to rounds)
      .map(r => s"SELECT CAST($r AS BIGINT) AS round, p AS pair, cnt FROM b$r")
      .mkString("\n", "\nUNION ALL\n", "\nORDER BY round")

  /** Segment oracle: the same trained state, applied — per-doc token
    * counts joined to the final fold's symbol lengths. */
  private def bpeSegmentOracleSql(rounds: Int): String =
    bpeOracleCtes(rounds) +
      s"""
        |SELECT d.doc_id, count(*) AS n_tokens,
        |  CAST(sum(len(w.s)) AS BIGINT) AS n_subwords
        |FROM (
        |  SELECT doc_id, unnest(list_filter(string_split(
        |    trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' '),
        |    x -> len(x) > 0)) AS tok
        |  FROM documents) d
        |JOIN w$rounds w ON d.tok = w.tok
        |GROUP BY d.doc_id
        |ORDER BY d.doc_id""".stripMargin

  private def bpeOracleCtes(rounds: Int): String = {
    val head =
      """WITH RECURSIVE
        |vocab AS (
        |  SELECT tok, count(*) AS freq FROM (
        |    SELECT unnest(list_filter(string_split(
        |      trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' '),
        |      x -> len(x) > 0)) AS tok
        |    FROM documents)
        |  GROUP BY tok),
        |w0 AS (
        |  SELECT tok, freq, list_transform(
        |    generate_series(1, strlen(tok)),
        |    i -> substring(tok, i, 1)) AS s
        |  FROM vocab)""".stripMargin
    val roundsSql = (1 to rounds).map { r =>
      val prev = s"w${r - 1}"
      val fold =
        s""",
          |f$r AS (
          |  SELECT tok, freq, s, a, b,
          |    CAST([] AS VARCHAR[]) AS out, 1 AS i
          |  FROM $prev, (SELECT string_split(p, ' ')[1] AS a,
          |                      string_split(p, ' ')[2] AS b FROM b$r)
          |  UNION ALL
          |  SELECT tok, freq, s, a, b,
          |    CASE WHEN i < len(s) AND s[i] = a AND s[i+1] = b
          |      THEN list_append(out, a || b)
          |      ELSE list_append(out, s[i]) END,
          |    CASE WHEN i < len(s) AND s[i] = a AND s[i+1] = b
          |      THEN i + 2 ELSE i + 1 END
          |  FROM f$r WHERE i <= len(s)),
          |w$r AS (SELECT tok, freq, out AS s FROM f$r
          |        WHERE i > len(s))""".stripMargin
      s""",
        |p$r AS (
        |  SELECT p, CAST(sum(freq) AS BIGINT) AS cnt FROM (
        |    SELECT freq, unnest(list_transform(
        |      generate_series(1, len(s) - 1),
        |      i -> s[i] || ' ' || s[i+1])) AS p
        |    FROM $prev WHERE len(s) >= 2)
        |  GROUP BY p),
        |b$r AS (SELECT p, cnt FROM p$r
        |        ORDER BY cnt DESC, p DESC LIMIT 1)""".stripMargin + fold
    }.mkString
    head + roundsSql
  }

  private def qEmbedQuantize(s: SparkSession, dir: String): DataFrame =
    // Scalar int8 embedding quantization (the faiss-SQ8 shape) as a
    // pure scan-stage transform: per-vector symmetric scale
    // max|v|/127, q = round(v/scale), plus the reconstruction-error
    // audit the compression decision needs. Error sums are exact
    // integer picos (round(e²·1e12) summed as longs — order-
    // independent, unlike a float sum), so the whole report
    // hash-matches. No shuffle at all but the presentation sort.
    t(s, dir, "embeddings")
      .select(col("vec_id"),
        expr("CAST(embedding AS ARRAY<DOUBLE>)").as("ed"))
      .withColumn("max_abs",
        expr("array_max(transform(ed, x -> abs(x)))"))
      .filter(col("max_abs") > 0.0)
      .withColumn("q", expr(
        "transform(ed, x -> CAST(round(x * 127.0 / max_abs) AS BIGINT))"))
      .select(col("vec_id"), col("max_abs"),
        expr("aggregate(q, 0L, (a, x) -> a + abs(x))").as("sum_abs_q"),
        expr("aggregate(zip_with(ed, q, (v, qq) -> " +
          "v - qq * (max_abs / 127.0)), 0L, " +
          "(a, e) -> a + CAST(round(e * e * 1e12) AS BIGINT))")
          .as("err_sum_e12"))
      .orderBy("vec_id")

  private def qStreamAssoc(s: SparkSession, dir: String): DataFrame = {
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
  }

  private def qSimHardNegatives(s: SparkSession, dir: String)
      : DataFrame =
    // Contrastive-pair mining — the retrieval-training data op: per
    // query, one ranking pass yields the positives (top-4), the
    // near-duplicate EXCLUSION band (cosine ≥ 0.95 below the positive
    // cut — treating a near-dup as a negative would teach the model
    // to push apart copies, the classic false-negative poison), and
    // the hard negatives (the next-closest non-dup candidates, ranks
    // 5–12 — close enough to be informative, far enough to be
    // genuinely negative). Everything rides the already-oracled
    // brute-force ranking; the labeling is one scan-stage CASE.
    Similarity.bruteForceTopK(
        t(s, dir, "embeddings"), annQueries(s, dir), k = 12)
      .select(col("query_id"), col("neighbor_id"), col("cosine"),
        col("rank"),
        when(col("rank") <= 4, lit("positive"))
          .when(col("cosine") >= 0.95, lit("dup_skip"))
          .otherwise(lit("hard_negative")).as("role"))
      .orderBy("query_id", "rank")

  private def qSimMmr(s: SparkSession, dir: String): DataFrame = {
    // Diversified retrieval: MMR re-rank (λ=0.7) of the query vector's
    // top-16 brute-force candidates, 5 selections. Candidate scoring
    // and the pairwise matrix run distributed with the same codegen'd
    // cosine as sim_topk_bruteforce; the greedy argmax replays on
    // already-final doubles, so the oracle unrolls the identical 5
    // rounds (see Similarity.mmrRerank).
    val emb = t(s, dir, "embeddings")
    val query = emb.filter(col("vec_id") === 1)
    val cands = graft.operators.Similarity
      .bruteForceTopK(emb, query, k = 16)
      .select(col("neighbor_id").as("vec_id"), col("cosine").as("rel"))
      .join(emb.select(col("vec_id"), col("embedding")), Seq("vec_id"))
    graft.operators.Similarity.mmrRerank(cands, k = 5)
      .orderBy("rank")
  }

  private def qEventsEwma(s: SparkSession, dir: String): DataFrame =
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

  private def qAggEntropy(s: SparkSession, dir: String): DataFrame =
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

  private def qAggBitmapDistinct(s: SparkSession, dir: String)
      : DataFrame =
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

  private def qAggBitmapOverlap(s: SparkSession, dir: String)
      : DataFrame = {
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
    // qAggBitmapDistinct / BitmapAgg scaladoc)
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
  }

  private def qGraphBfs(s: SparkSession, dir: String): DataFrame = {
    // Multi-source BFS over the customer↔supplier order graph
    // ([[orderGraph]], as graph_pagerank): minimum hops from the nation-0
    // customers, 4 rounds. Frontier-only expansion per round — see
    // Graph.bfsHops. Deterministic by construction (hop counts are
    // integers, first-reach = min), so the oracle unrolls the same 4
    // frontier steps as chained CTEs and takes min(hop) per node.
    val (nodes, edges) = orderGraph(s, dir)
    val seeds = t(s, dir, "customer")
      .filter(col("c_nationkey") === 0)
      .select((col("c_custkey") * 2).cast("long").as("id"))
    graft.operators.Graph.bfsHops(nodes, edges, seeds, maxHops = 4)
      .select(col("id").as("node_id"),
        when(pmod(col("id"), lit(2L)) === 0, lit("customer"))
          .otherwise(lit("supplier")).as("node_type"),
        expr("id div 2").as("node_key"),
        col("hops"))
      .orderBy("node_id")
  }

  private def qAggSkewKurt(s: SparkSession, dir: String): DataFrame =
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

  private def qGeoRadiusJoin(s: SparkSession, dir: String): DataFrame = {
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
  }

  private def qParetoSkyline(s: SparkSession, dir: String): DataFrame =
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

  private def qEventsOhlc(s: SparkSession, dir: String): DataFrame =
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

  private def qUnionByName(s: SparkSession, dir: String): DataFrame = {
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
  }

  private def qAssocRules(s: SparkSession, dir: String): DataFrame = {
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
  }

  private def qStreamTransitions(s: SparkSession, dir: String)
      : DataFrame = {
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
  }

  private def qChecksConstraints(s: SparkSession, dir: String): DataFrame = {
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
  }

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // reference parity (SURVEY §2)
    "scan_leaf" -> (qScanLeaf _),
    "sel_conjunctive" -> (qSelConjunctive _),
    "proj_columns" -> (qProjColumns _),
    "join_equi" -> (qJoinEqui _),
    "join_multiway" -> (qJoinMultiway _),
    "union_horizontal_frag" -> (qUnionHorizontalFrag _),
    "join_vertical_frag" -> (qJoinVerticalFrag _),
    "union_all" -> (qUnionAll _),
    "source_jdbc" -> (qSourceJdbc _),
    "passthrough_sql" -> (qPassthroughSql _),
    "sql_dialect" -> (qSqlDialect _),
    "sql_dialect_funcs" -> (qSqlDialectFuncs _),
    "sql_collation_ci" -> (qSqlCollationCi _),
    "recursive_cte" -> (qRecursiveCte _),
    "frag_transparency_agg" -> (qGroupProduct _),
    // SQL breadth (SURVEY §2.7)
    "agg_q1" -> (qAggQ1 _),
    "agg_distinct" -> (qAggDistinct _),
    "agg_having" -> (qAggHaving _),
    "agg_rollup" -> (qAggRollup _),
    "window_rank" -> (qWindowRank _),
    "window_running" -> (qWindowRunning _),
    "sort_limit_topk" -> (qSortLimitTopk _),
    "setop_intersect" -> (qSetopIntersect _),
    "setop_except" -> (qSetopExcept _),
    "join_outer_left" -> (qJoinOuterLeft _),
    "join_semi" -> (qJoinSemi _),
    "join_anti" -> (qJoinAnti _),
    "scalar_funcs" -> (qScalarFuncs _),
    "case_null" -> (qCaseNull _),
    "subquery_in" -> (qSubqueryIn _),
    "subquery_exists" -> (qSubqueryExists _),
    // SQL breadth, batch 2
    "agg_cube" -> (qAggCube _),
    "agg_grouping_sets" -> (qAggGroupingSets _),
    "agg_minmax" -> (qAggMinMax _),
    "agg_approx_distinct" -> (qAggApproxDistinct _),
    "agg_percentiles" -> (qAggPercentiles _),
    "agg_approx_quantile" -> (qAggApproxQuantile _),
    "window_lead_lag" -> (qWindowLeadLag _),
    "window_first_last" -> (qWindowFirstLast _),
    "window_range_frame" -> (qWindowRangeFrame _),
    "agg_listagg" -> (qAggListagg _),
    "string_funcs" -> (qStringFuncs _),
    "date_funcs" -> (qDateFuncs _),
    "join_full_outer" -> (qJoinFullOuter _),
    "join_cross" -> (qJoinCross _),
    "select_distinct" -> (qSelectDistinct _),
    "setop_intersect_all" -> (qSetopIntersectAll _),
    "setop_except_all" -> (qSetopExceptAll _),
    "join_lateral" -> (qJoinLateral _),
    "pivot_segments" -> (qPivot _),
    "scalar_subquery" -> (qScalarSubquery _),
    "sql_custom_funcs" -> (qSqlCustomFuncs _),
    "source_csv_json" -> (qSourceCsvJson _),
    "source_orc" -> (qSourceOrc _),
    "source_binaryfile" -> (qSourceBinaryFile _),
    "source_csv_corrupt" -> (qSourceCsvCorrupt _),
    "layout_compact" -> (qLayoutCompact _),
    "corpus_report" -> (qCorpusReport _),
    "join_range_pred" -> (qJoinRangePred _),
    "window_percentiles" -> (qWindowPercentiles _),
    "json_funcs" -> (qJsonFuncs _),
    "array_funcs" -> (qArrayFuncs _),
    "map_funcs" -> (qMapFuncs _),
    "q3_shipping_priority" -> (qShippingPriority _),
    "q5_supplier_volume" -> (qLocalSupplierVolume _),
    "q6_forecast_revenue" -> (qForecastRevenue _),
    "q10_returned_items" -> (qReturnedItems _),
    "q14_promo_revenue" -> (qPromoRevenue _),
    "q18_large_orders" -> (qLargeOrders _),
    "q4_priority_orders" -> (qPriorityOrders _),
    "q7_nation_volume" -> (qNationVolume _),
    "q12_priority_class" -> (qPriorityClass _),
    "q13_custdist" -> (qCustDist _),
    "q19_disjunctive_revenue" -> (qDisjunctiveRevenue _),
    "q22_idle_customers" -> (qIdleCustomers _),
    "q8_market_share" -> (qMarketShare _),
    "q15_top_supplier" -> (qTopSupplier _),
    "q17_small_qty_revenue" -> (qSmallQtyRevenue _),
    "q21_waiting_suppliers" -> (qWaitingSuppliers _),
    "q2_min_cost_supplier" -> (qMinCostSupplier _),
    "q9_product_profit" -> (qProductProfit _),
    "q11_important_stock" -> (qImportantStock _),
    "q16_supplier_cnt" -> (qSupplierCnt _),
    "q20_promotion_suppliers" -> (qPromotionSuppliers _),
    "text_fingerprints" -> (qTextFingerprints _),
    "unpivot_metrics" -> (qUnpivotMetrics _),
    "regex_funcs" -> (qRegexFuncs _),
    "grouping_id" -> (qGroupingId _),
    "layout_bucketed_join" -> (qLayoutBucketedJoin _),
    "layout_zorder" -> (qLayoutZorder _),
    "layout_partitioned" -> (qLayoutPartitioned _),
    "bloom_prefilter_join" -> (qBloomPrefilterJoin _),
    "skew_salted_agg" -> (qSkewSaltedAgg _),
    "join_skew_salted" -> (qJoinSkewSalted _),
    "topk_aggregator" -> (qTopkAggregator _),
    "asof_join" -> (qAsofJoin _),
    // LLM-pipeline surface (SURVEY §7.2 M3 / BASELINE.json north star)
    "text_stats" -> (qTextStats _),
    "text_tokens_bpe" -> (qTextTokensBpe _),
    "text_quality" -> (qTextQuality _),
    "quality_model_lr" -> (qQualityModelLr _),
    "pii_redact" -> (qPiiRedact _),
    "text_repetition" -> (qTextRepetition _),
    "text_common_ngrams" -> (qTextCommonNgrams _),
    "search_bm25" -> (qSearchBm25 _),
    "search_hybrid_rrf" -> (qSearchHybridRrf _),
    "search_bm25_indexed" -> (qSearchBm25Indexed _),
    "search_bm25_index_append" -> (qSearchBm25IndexAppend _),
    "text_lm_score" -> (qTextLmScore _),
    "text_html_extract" -> (qTextHtmlExtract _),
    "text_collocations" -> (qTextCollocations _),
    "text_chunks" -> (qTextChunks _),
    "dedup_chunks" -> (qDedupChunks _),
    "dedup_exact" -> (qDedupExact _),
    "dedup_quality_rep" -> (qDedupQualityRep _),
    "sample_topk_stratum" -> (qSampleTopkStratum _),
    "curation_quality_rebalance" -> (qCurationQualityRebalance _),
    "dedup_forget" -> (qDedupForget _),
    "dedup_minhash_lsh" -> (qDedupMinhash _),
    "dedup_minhash_decisions" -> (qDedupMinhashDecisions _),
    "dedup_minhash_increment" -> (qDedupMinhashIncrement _),
    "dedup_minhash_index_merge" -> (qDedupMinhashIndexMerge _),
    "dedup_minhash_epoch_append" -> (qDedupMinhashEpochAppend _),
    "dedup_simhash" -> (qDedupSimhash _),
    "dedup_ngram_jaccard" -> (qDedupNgram _),
    "dedup_ngram_decisions" -> (qDedupNgramDecisions _),
    "dedup_cc_decisions" -> (qDedupCcDecisions _),
    "decontam_ngram" -> (qDecontamNgram _),
    "decontam_ngram_bc" -> (qDecontamNgramBc _),
    "decontam_multi" -> (qDecontamMulti _),
    "dedup_embedding" -> (qDedupEmbedding _),
    "cluster_kmeans" -> (qClusterKmeans _),
    "dedup_semantic" -> (qDedupSemantic _),
    "dedup_semantic_decisions" -> (qDedupSemanticDecisions _),
    "text_heavy_hitters" -> (qTextHeavyHitters _),
    "sim_topk_bruteforce" -> (qSimBruteforce _),
    "sim_topk_lsh" -> (qSimLsh _),
    "sim_topk_ivf" -> (qSimIvf _),
    "sim_topk_ivf_indexed" -> (qSimIvfIndexed _),
    "sim_topk_pq" -> (qSimPq _),
    "sim_topk_ivfpq" -> (qSimIvfPq _),
    "join_cosine_threshold" -> (qCosineThresholdJoin _),
    "join_jaccard_threshold" -> (qJoinJaccardThreshold _),
    "join_hamming_threshold" -> (qJoinHammingThreshold _),
    "dedup_sorted_nbr" -> (qDedupSortedNbr _),
    "multimodal_pipeline" -> (qMultimodal _),
    "multimodal_sizes" -> (qMultimodalSizes _),
    "multimodal_png" -> (qMultimodalPng _),
    "multimodal_video" -> (qMultimodalVideo _),
    "multimodal_resize" -> (qMultimodalResize _),
    "multimodal_audio" -> (qMultimodalAudio _),
    "dedup_phash" -> (qDedupPhash _),
    "pipeline_clean_corpus" -> (qCleanCorpus _),
    "sample_splits" -> (qSampleSplits _),
    "agg_sample_estimate" -> (qAggSampleEstimate _),
    "agg_weighted_median" -> (qAggWeightedMedian _),
    "sample_stratified" -> (qSampleStratified _),
    "sample_weighted_mix" -> (qSampleWeightedMix _),
    "pack_sequences" -> (qPackSequences _),
    "curation_domain_cap" -> (qCurationDomainCap _),
    "curation_url_dedup" -> (qCurationUrlDedup _),
    "graph_pagerank" -> (qGraphPagerank _),
    "graph_triangles" -> (qGraphTriangles _),
    "graph_label_prop" -> (qGraphLabelProp _),
    "events_retention" -> (qEventsRetention _),
    "events_funnel_steps" -> (qEventsFunnelSteps _),
    "agg_incremental" -> (qAggIncremental _),
    "agg_incremental_quantile" -> (qAggIncrementalQuantile _),
    "agg_incremental_distinct" -> (qAggIncrementalDistinct _),
    "pack_sequence_index" -> (qPackIndex _),
    "stream_window_agg" -> (qStreamWindowAgg _),
    "stream_funnel_join" -> (qStreamFunnel _),
    "stream_minhash_pairs" -> (qStreamMinhashPairs _),
    "stream_dedup_exact" -> (qStreamDedupExact _),
    "stream_decontam" -> (qStreamDecontam _),
    "stream_quality_filter" -> (qStreamQualityFilter _),
    "stream_heavy_hitters" -> (qStreamHeavyHitters _),
    "events_sessionize" -> (qSessionize _),
    "events_resample_1h" -> (qEventsResample _),
    "events_interpolate_1h" -> (qEventsInterpolate _),
    "events_session_window" -> (qEventsSessionWindow _),
    "scd2_event_runs" -> (qScd2EventRuns _),
    "events_anomaly" -> (qEventsAnomaly _),
    "agg_corr_exact" -> (qAggCorrExact _),
    "profile_numeric" -> (qProfileNumeric _),
    "profile_keys" -> (qProfileKeys _),
    "user_profiles" -> (qUserProfiles _),
    "checks_constraints" -> (qChecksConstraints _),
    "feat_hashing" -> (qFeatHashing _),
    "feat_binning" -> (qFeatBinning _),
    "cdc_apply" -> (qCdcApply _),
    "table_diff" -> (qTableDiff _),
    "record_linkage" -> (qRecordLinkage _),
    "privacy_kanon" -> (qPrivacyKanon _),
    "search_phrase" -> (qSearchPhrase _),
    "text_tfidf" -> (qTextTfidf _),
    "join_interval_overlap" -> (qJoinIntervalOverlap _),
    "stream_checks" -> (qStreamChecks _),
    "agg_mode" -> (qAggMode _),
    "agg_mad" -> (qAggMad _),
    "events_transitions" -> (qEventsTransitions _),
    "join_edit_distance" -> (qJoinEditDistance _),
    "source_schema_evolution" -> (qSourceSchemaEvolution _),
    "agg_contingency" -> (qAggContingency _),
    "asof_join_left" -> (qAsofJoinLeft _),
    "asof_join_nearest" -> (qAsofJoinNearest _),
    "agg_robust_outliers" -> (qAggRobustOutliers _),
    "bpe_train" -> (qBpeTrain _),
    "bpe_segment" -> (qBpeSegment _),
    "embed_quantize" -> (qEmbedQuantize _),
    "stream_transitions" -> (qStreamTransitions _),
    "assoc_rules" -> (qAssocRules _),
    "events_ohlc" -> (qEventsOhlc _),
    "union_by_name" -> (qUnionByName _),
    "pareto_skyline" -> (qParetoSkyline _),
    "geo_radius_join" -> (qGeoRadiusJoin _),
    "agg_skew_kurtosis" -> (qAggSkewKurt _),
    "graph_bfs" -> (qGraphBfs _),
    "agg_bitmap_distinct" -> (qAggBitmapDistinct _),
    "agg_bitmap_overlap" -> (qAggBitmapOverlap _),
    "agg_entropy" -> (qAggEntropy _),
    "events_ewma" -> (qEventsEwma _),
    "sim_mmr_rerank" -> (qSimMmr _),
    "sim_hard_negatives" -> (qSimHardNegatives _),
    "stream_assoc" -> (qStreamAssoc _),
    "stream_embedding_dedup" -> (qStreamEmbeddingDedup _),
  )

  // --- SQL fragments for the text-quality oracles, generated from the
  // SAME lexicons the implementation uses (TextFunctions) so the oracle
  // and the engine cannot drift apart.
  private def sqlList(words: Seq[String]): String =
    words.map(w => s"'$w'").mkString("[", ",", "]")
  private val stopwordsSql: String =
    sqlList(TextFunctions.englishStopwords)
  private val langHitsSql: String =
    TextFunctions.langMarkers.map { case (lang, words) =>
      s"len(list_filter(${sqlList(words)}, m -> list_contains(toksd, m)))" +
        s" AS h_$lang"
    }.mkString(",\n    ")
  /** Self-contained oracle-dialect relation `(doc_id, text, quality)`
    * over `documents` — the composite quality score (the exact
    * expression text_quality pins bit-for-bit), shared by every
    * oracle that consumes the score downstream so the replicas cannot
    * drift. */
  private val qualityScoredSql: String =
    s"""SELECT doc_id, text,
       |    least(CAST(len(toks) AS DOUBLE) / 100.0, 1.0) * 0.3
       |      + greatest(0.0, 1.0 - punct_ratio * 5) * 0.3
       |      + greatest(0.0, 1.0 - digit_ratio * 5) * 0.2
       |      + least(stopword_ratio * 3, 1.0) * 0.2 AS quality
       |  FROM (
       |    SELECT doc_id, text,
       |      CASE WHEN len(toks) > 0 THEN
       |        CAST(len(list_filter(toks, t ->
       |          list_contains($stopwordsSql, t)))
       |          AS DOUBLE) / CAST(len(toks) AS DOUBLE)
       |        ELSE 0.0 END AS stopword_ratio,
       |      CASE WHEN n_chars > 0 THEN CAST(n_chars - n_alnum - n_ws
       |        AS DOUBLE) / CAST(n_chars AS DOUBLE) ELSE 0.0 END
       |        AS punct_ratio,
       |      CASE WHEN n_chars > 0 THEN CAST(n_digit AS DOUBLE)
       |        / CAST(n_chars AS DOUBLE) ELSE 0.0 END AS digit_ratio,
       |      toks
       |    FROM (
       |      SELECT doc_id, text,
       |        list_filter(string_split(trim(regexp_replace(lower(text),
       |          '\\s+', ' ', 'g')), ' '), x -> len(x) > 0) AS toks,
       |        length(text) AS n_chars,
       |        length(regexp_replace(lower(text), '[^a-z0-9]', '', 'g'))
       |          AS n_alnum,
       |        length(regexp_replace(lower(text), '[^0-9]', '', 'g'))
       |          AS n_digit,
       |        length(text) - length(regexp_replace(text, '\\s', '', 'g'))
       |          AS n_ws
       |      FROM documents))""".stripMargin

  /** Argmax over marker-hit counts, replicating Spark's
    * greatest-over-structs tie-break: among equal hit counts the
    * lexicographically LARGEST language code wins. */
  private val langPredSql: String = {
    val langs = TextFunctions.langMarkers.map(_._1)
    val best = langs.map(l => s"h_$l").mkString("greatest(", ", ", ")")
    val desc = langs.sorted.reverse
    val whens = desc.init.map(l => s"WHEN h_$l = $best THEN '$l'")
      .mkString(" ")
    s"CASE WHEN $best = 0 THEN 'und' $whens ELSE '${desc.last}' END"
  }

  /** DuckDB SQL re-derivation of Spark's `pmod(xxhash64(key), 10000)`
    * for a non-negative BIGINT key: XXH64.hashLong(v, seed=42) in
    * HUGEINT arithmetic mod 2^64. DuckDB BIGINT errors on overflow
    * rather than wrapping, and HUGEINT (128-bit) overflows on a full
    * 64×64 multiply — so multiplication by the (constant) primes is
    * split into 32-bit halves: ab mod 2^64 =
    * ((a_hi·b_lo + a_lo·b_hi) mod 2^32)·2^32 + a_lo·b_lo, every term
    * < 2^66. Rotations become disjoint shift-sums; >>> is `// 2^n`.
    * Verified bit-exact against the Catalyst XxHash64 expression. */
  // --- XXH64-in-DuckDB building blocks (shared by the bucket-split,
  // simhash and custom-function oracles). DuckDB BIGINT errors on
  // overflow and HUGEINT (128-bit) overflows on a full 64×64 multiply,
  // so multiplication by the constant primes splits into 32-bit halves
  // (every term < 2^66); rotations are disjoint shift-sums; >>> is
  // `// 2^n`. Verified bit-exact against the Catalyst XXH64 class.
  private val xxhM = "18446744073709551616" // 2^64
  private val xxhB = "4294967296" // 2^32
  private val (xxhP1, xxhP2, xxhP3, xxhP4, xxhP5) = (
    BigInt("11400714785074694791"), BigInt("14029467366897019727"),
    BigInt("1609587929392839161"), BigInt("9650029242287828579"),
    BigInt("2870177450012600261"))
  private def xxhMulmod(a: String, b: BigInt): String = {
    val b0 = b % BigInt(2).pow(32); val b1 = b >> 32
    val hi = s"((($a) // $xxhB) * $b0 + (($a) % $xxhB) * $b1)"
    s"((($hi) % $xxhB * $xxhB + (($a) % $xxhB) * $b0) % $xxhM)"
  }
  private def xxhRotl(x: String, r: Int): String =
    s"((($x) * ${BigInt(2).pow(r)} % $xxhM) + (($x) // ${BigInt(2).pow(64 - r)}))"
  private def xxhShrx(x: String, n: Int): String =
    s"xor($x, ($x) // ${BigInt(2).pow(n)})"

  private def xxhash64BucketSql(keyCol: String, table: String): String = {
    val M = xxhM
    val (p1, p2, p3, p4, p5) = (xxhP1, xxhP2, xxhP3, xxhP4, xxhP5)
    def mulmod(a: String, b: BigInt): String = xxhMulmod(a, b)
    def rotl(x: String, r: Int): String = xxhRotl(x, r)
    def shrx(x: String, n: Int): String = xxhShrx(x, n)
    s"""s0 AS (SELECT $keyCol AS k, (42::HUGEINT + $p5 + 8) % $M AS h,
       |         $keyCol::HUGEINT AS v FROM $table),
       |s1 AS (SELECT k, h, ${mulmod("v", p2)} AS k1 FROM s0),
       |s2 AS (SELECT k, h, ${rotl("k1", 31)} AS k1 FROM s1),
       |s3 AS (SELECT k, h, ${mulmod("k1", p1)} AS k1 FROM s2),
       |s4 AS (SELECT k, xor(h, k1) AS h FROM s3),
       |s5 AS (SELECT k, (${mulmod(rotl("h", 27), p1)} + $p4) % $M AS h
       |       FROM s4),
       |s6 AS (SELECT k, ${shrx("h", 33)} AS h FROM s5),
       |s7 AS (SELECT k, ${mulmod("h", p2)} AS h FROM s6),
       |s8 AS (SELECT k, ${shrx("h", 29)} AS h FROM s7),
       |s9 AS (SELECT k, ${mulmod("h", p3)} AS h FROM s8),
       |sa AS (SELECT k, ${shrx("h", 32)} AS h FROM s9),
       |sg AS (SELECT k,
       |         CASE WHEN h >= 9223372036854775808 THEN h - $M ELSE h END
       |           AS s FROM sa),
       |bk AS (SELECT k,
       |         CAST(((s % 10000) + 10000) % 10000 AS BIGINT) AS bucket
       |       FROM sg)""".stripMargin
  }

  /** Shortest decimal representation that round-trips to exactly the
    * same double — DuckDB parses it back bit-identical. */
  private def dlit(x: Double): String = java.lang.Double.toString(x)

  /** DuckDB re-derivation of `HyperplaneSignature(embedding, bits)` for
    * an embedding column already cast to DOUBLE[] as `ed`. The plane
    * components are pure functions of (plane, dim) — data-independent
    * constants — so they are exported as double literals generated from
    * the SAME `VectorFunctions.hyperplaneComponent` the Catalyst
    * expression uses (the lexicon-fragment pattern from the text
    * oracles). Bit p = sign of the sequential double dot product, which
    * DuckDB's `list_dot_product` evaluates in the same order as the
    * expression's loop → bit-identical signs. `dim` is the (fixed)
    * testdata embedding dimension. */
  private def hyperplaneSigSql(edCol: String, bits: Int, dim: Int): String = {
    val terms = (0 until bits).map { p =>
      val plane = (0 until dim)
        .map(d => dlit(graft.functions.VectorFunctions.hyperplaneComponent(p, d)))
        .mkString("CAST([", ",", "] AS DOUBLE[])")
      s"(CASE WHEN list_dot_product($edCol, $plane) >= 0 " +
        s"THEN ${1L << p} ELSE 0 END)"
    }
    terms.mkString("(", "\n + ", ")")
  }

  /** Exact-double cosine between two DOUBLE[] columns — the same
    * formula the `sim_topk_bruteforce` oracle established as
    * bit-identical to the fused Catalyst CosineSimilarity loop. */
  private def cosineSql(a: String, b: String): String =
    s"""list_dot_product($a, $b) /
       |  (sqrt(list_dot_product($a, $a)) *
       |   sqrt(list_dot_product($b, $b)))""".stripMargin

  /** Each model-capturing query's oracle, keyed by query name and
    * built lazily from the model that query's run trained (IVF
    * centroids, PQ codebooks, k-means centroids, logistic
    * coefficients). `Verify` runs every query BEFORE dumping
    * [[oracleSql]], so each oracle embeds exactly the model its run
    * used; a query that never ran has no entry, so nothing checks
    * its rows against an oracle. Concurrent because Verify runs queries
    * concurrently. */
  private val captured =
    new java.util.concurrent.ConcurrentHashMap[String, () => String]()

  private def capture(name: String)(oracle: => String): Unit =
    captured.put(name, () => oracle)

  /** IVF-PQ oracle: the IVF assignment/probe CTEs and the PQ
    * encode/ADC expressions composed — candidates are (probed cluster)
    * ∩ (ADC top-64), final ranking exact cosine. */
  private def ivfPqOracleSql(
      cents: Seq[Seq[Float]], pq: Similarity.PqModel): String =
    s"""WITH ${ivfAssignCtes(cents)},
       |enc AS (SELECT vec_id,
       |    ${pqCodesExpr(pq)} AS codes
       |  FROM base),
       |probes AS (SELECT vec_id AS query_id, ed AS qe, cid AS cluster_id
       |      FROM ranked WHERE vec_id % 50 = 0 AND vec_id < 2000 AND rn <= 12),
       |cand AS (SELECT p.query_id, a.neighbor_id, a.ce2, p.qe,
       |    ${pqAdcSql(pq, "p.qe", "e.codes")} AS adc
       |  FROM assign a
       |  JOIN enc e ON e.vec_id = a.neighbor_id
       |  JOIN probes p ON a.cluster_id = p.cluster_id
       |    AND a.neighbor_id <> p.query_id),
       |${adcRerankSql("ce2", 192)}""".stripMargin

  /** The PQ oracles' shared tail over `cand(query_id, neighbor_id,
    * <ce>, qe, adc)`: the top-`rerank` ADC prelim, the exact-cosine
    * rerank and the top 10 (Similarity.adcRerankTopK). */
  private def adcRerankSql(ce: String, rerank: Int): String =
    s"""pre AS (SELECT query_id, neighbor_id, $ce, qe, row_number() OVER (
       |    PARTITION BY query_id ORDER BY adc DESC, neighbor_id)
       |    AS prelim FROM cand),
       |s AS (SELECT query_id, neighbor_id,
       |    ${cosineSql("qe", ce)} AS cosine
       |  FROM pre WHERE prelim <= $rerank),
       |r AS (SELECT query_id, neighbor_id, cosine,
       |    CAST(row_number() OVER (PARTITION BY query_id
       |      ORDER BY cosine DESC, neighbor_id) AS INTEGER) AS rank
       |  FROM s)
       |SELECT query_id, neighbor_id, cosine, rank FROM r
       |WHERE rank <= 10 ORDER BY query_id, rank""".stripMargin

  /** PQ oracle: codebooks and their half-norms exported as double
    * literals, then the whole pipeline — per-subspace argmax encode,
    * left-nested ADC sum, top-`rerank` prelim rank, exact-cosine
    * rerank, top-k — recomputed in SQL. Every float expression is the
    * same sequence of IEEE ops the Catalyst expressions run, so codes,
    * ADC scores and the final ranking agree bit-for-bit. */
  private def pqCbLit(pq: Similarity.PqModel, mm: Int): String =
    pq.codebooks(mm)
      .map(c => c.map(dlit).mkString("[", ",", "]"))
      .mkString("CAST([", ",\n        ", "] AS DOUBLE[][])")
  private def pqHnLit(pq: Similarity.PqModel, mm: Int): String =
    pq.halfNorms(mm).map(dlit).mkString("CAST([", ",", "] AS DOUBLE[])")

  /** The per-subspace argmax code list for a DOUBLE[] column `ed`. */
  private def pqCodesExpr(pq: Similarity.PqModel): String =
    (0 until pq.numSubspaces).map { mm =>
      val a = mm * pq.subDim + 1; val b = (mm + 1) * pq.subDim
      val kMax = pq.codebooks(mm).size - 1
      s"""list_sort(list_transform(generate_series(0, $kMax), k ->
         |      {'negs': -(list_dot_product(ed[$a:$b], (${pqCbLit(pq, mm)})[k+1])
         |                 - (${pqHnLit(pq, mm)})[k+1]), 'k': k}))[1].k""".stripMargin
    }.mkString("[", ",\n    ", "]")

  /** Left-nested ADC sum over a query column `qe` and a code-list
    * column `codes` — pins the same accumulation order as PqAdc. */
  private def pqAdcSql(pq: Similarity.PqModel, qe: String,
      codes: String): String = {
    val terms = (0 until pq.numSubspaces).map { mm =>
      val a = mm * pq.subDim + 1; val b = (mm + 1) * pq.subDim
      s"list_dot_product($qe[$a:$b], " +
        s"(${pqCbLit(pq, mm)})[$codes[${mm + 1}] + 1])"
    }
    terms.tail.foldLeft(s"(${terms.head})")((acc, t) => s"($acc + $t)")
  }

  private def pqOracleSql(pq: Similarity.PqModel): String = {
    val codeExprs = pqCodesExpr(pq)
    val adc = pqAdcSql(pq, "qe", "codes")
    s"""WITH base AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS ed
       |              FROM embeddings),
       |enc AS (SELECT vec_id, ed,
       |    $codeExprs AS codes
       |  FROM base),
       |q AS (SELECT vec_id AS query_id, ed AS qe FROM base
       |      WHERE vec_id % 50 = 0 AND vec_id < 2000),
       |cand AS (SELECT q.query_id, e.vec_id AS neighbor_id,
       |    e.ed AS ce, q.qe,
       |    $adc AS adc
       |  FROM enc e, q WHERE e.vec_id <> q.query_id),
       |${adcRerankSql("ce", 128)}""".stripMargin
  }

  /** DuckDB re-derivation of `XXH64.hashUnsafeBytes(token, seed 42)` —
    * Spark's `xxhash64` over strings and the hash inside SimHash64 —
    * for ASCII tokens of 0..8 bytes (the testdata tokenizer caps words
    * at 8 chars; `strlen` guards every stage so longer input would
    * surface as a hash mismatch, not silent corruption). Expects a CTE
    * `toks(…carry…, w)`; produces stages `x0..x8, xh` where `xh` has
    * the carry columns + `h` (HUGEINT, the unsigned 64-bit hash).
    * Short-input XXH64: optional one 8-byte word round, optional one
    * 4-byte round, up to three 1-byte rounds (unrolled, CASE-guarded),
    * then the avalanche — byte order little-endian like the JVM reads.
    * Verified bit-exact against XXH64.hashUnsafeBytes for lengths
    * 1..8. */
  private def xxh64TokenChainSql(first: String, rest: String): String = {
    val M = xxhM
    val (p1, p2, p3, p4, p5) = (xxhP1, xxhP2, xxhP3, xxhP4, xxhP5)
    def pw(n: Int) = BigInt(2).pow(n)
    s"""x0 AS (SELECT $first, strlen(w) AS len,
       |        ascii(substr(w,1,1))::HUGEINT AS b1,
       |        ascii(substr(w,2,1))::HUGEINT AS b2,
       |        ascii(substr(w,3,1))::HUGEINT AS b3,
       |        ascii(substr(w,4,1))::HUGEINT AS b4,
       |        ascii(substr(w,5,1))::HUGEINT AS b5,
       |        ascii(substr(w,6,1))::HUGEINT AS b6,
       |        ascii(substr(w,7,1))::HUGEINT AS b7,
       |        ascii(substr(w,8,1))::HUGEINT AS b8
       |       FROM toks),
       |x1 AS (SELECT $rest, len, b1, b2, b3, b4, b5, b6, b7,
       |        (42::HUGEINT + $p5 + len) % $M AS h,
       |        b1 + b2*256 + b3*65536 + b4*16777216 + b5*${pw(32)}
       |          + b6*${pw(40)} + b7*${pw(48)} + b8*${pw(56)} AS k8,
       |        b1 + b2*256 + b3*65536 + b4*16777216 AS k4
       |       FROM x0),
       |x2 AS (SELECT $rest, len, b1, b2, b3, b4, b5, b6, b7, k4,
       |        CASE WHEN len = 8
       |          THEN (${xxhMulmod(xxhRotl(
               s"xor(h, ${xxhMulmod(xxhRotl(xxhMulmod("k8", p2), 31), p1)})",
               27), p1)} + $p4) % $M
       |          ELSE h END AS h
       |       FROM x1),
       |x3 AS (SELECT $rest, len, b1, b2, b3, b5, b6, b7,
       |        CASE WHEN len >= 4 AND len < 8
       |          THEN (${xxhMulmod(xxhRotl(
               s"xor(h, ${xxhMulmod("k4", p1)})", 23), p2)} + $p3) % $M
       |          ELSE h END AS h
       |       FROM x2),
       |x4 AS (SELECT $rest, len, b2, b3, b6, b7,
       |        CASE WHEN len < 8 AND (CASE WHEN len >= 4 THEN 5 ELSE 1 END) <= len
       |          THEN ${xxhMulmod(xxhRotl(
               s"xor(h, (CASE WHEN len >= 4 THEN b5 ELSE b1 END) * $p5 % $M)",
               11), p1)}
       |          ELSE h END AS h
       |       FROM x3),
       |x5 AS (SELECT $rest, len, b3, b7,
       |        CASE WHEN len < 8 AND (CASE WHEN len >= 4 THEN 6 ELSE 2 END) <= len
       |          THEN ${xxhMulmod(xxhRotl(
               s"xor(h, (CASE WHEN len >= 4 THEN b6 ELSE b2 END) * $p5 % $M)",
               11), p1)}
       |          ELSE h END AS h
       |       FROM x4),
       |x6 AS (SELECT $rest, len,
       |        CASE WHEN len < 8 AND (CASE WHEN len >= 4 THEN 7 ELSE 3 END) <= len
       |          THEN ${xxhMulmod(xxhRotl(
               s"xor(h, (CASE WHEN len >= 4 THEN b7 ELSE b3 END) * $p5 % $M)",
               11), p1)}
       |          ELSE h END AS h
       |       FROM x5),
       |x7 AS (SELECT $rest, ${xxhMulmod(xxhShrx("h", 33), p2)} AS h FROM x6),
       |x8 AS (SELECT $rest, ${xxhMulmod(xxhShrx("h", 29), p3)} AS h FROM x7),
       |xh AS (SELECT $rest, ${xxhShrx("h", 32)} AS h FROM x8)""".stripMargin
  }

  /** 64-bit SimHash over per-doc token hashes in SQL: the token-hash
    * chain above feeds 64 per-bit vote sums (+1 if bit set, -1
    * otherwise, exactly SimHash64's loop) and the signature re-packs
    * the positive votes. Produces CTEs through `sig(doc_id, sim_sig)`
    * with sim_sig as signed BIGINT (two's complement of the unsigned
    * sum, matching the Catalyst expression's long). Expects
    * `toks(doc_id, w)`. */
  private def simhashSigSql: String = {
    def pw(n: Int) = BigInt(2).pow(n)
    val votes = (0 until 64)
      .map(j => s"sum(CASE WHEN (h // ${pw(j)}) % 2 = 1 " +
        s"THEN 1 ELSE -1 END) AS v$j")
      .mkString(",\n        ")
    val sigSum = (0 until 64)
      .map(j => s"CASE WHEN v$j > 0 THEN ${pw(j)}::HUGEINT " +
        "ELSE 0::HUGEINT END")
      .mkString("(", "\n         + ", ")")
    s"""${xxh64TokenChainSql("doc_id", "doc_id")},
       |votes AS (SELECT doc_id,
       |        $votes
       |       FROM xh GROUP BY doc_id),
       |sg AS (SELECT doc_id, $sigSum AS s FROM votes),
       |sig AS (SELECT doc_id,
       |        CAST(CASE WHEN s >= ${pw(63)} THEN s - $xxhM ELSE s END
       |          AS BIGINT) AS sim_sig
       |       FROM sg)""".stripMargin
  }

  /** CASE expression assigning splits from the cumulative bucket
    * bounds — generated from the SAME fractions the query uses. */
  private def splitCaseSql: String = {
    val bounds = splitFractions.scanLeft(0L) { case (acc, (_, f)) =>
      acc + math.round(f * 10000)
    }.tail
    val whens = splitFractions.map(_._1).zip(bounds).dropRight(1)
      .map { case (name, b) => s"WHEN bucket < $b THEN '$name'" }
      .mkString(" ")
    s"CASE $whens ELSE '${splitFractions.last._1}' END"
  }

  /** CASE arm per stratum with the SAME `(f * 10000).toLong` threshold
    * the Spark-side Sampling.sampleStratified computes — generated from
    * the shared map so the two sides cannot drift. */
  private def stratifiedKeepSql: String = {
    val arms = stratifiedFractions.map { case (lang, f) =>
      s"WHEN '$lang' THEN bucket < ${(f * 10000L).toLong}"
    }.mkString("\n    ")
    s"CASE lang $arms ELSE FALSE END"
  }

  /** CASE arm per source with the SAME floor/round thresholds
    * Sampling.weightedMix computes — generated from the shared map so
    * the two sides cannot drift. */
  private def mixCopiesSql: String = {
    val arms = mixWeights.map { case (src, w) =>
      val base = math.floor(w).toLong
      val fb = math.round((w - base) * 10000)
      s"WHEN '$src' THEN $base + CASE WHEN bucket < $fb THEN 1 ELSE 0 END"
    }.mkString("\n    ")
    s"CASE source $arms ELSE 0 END"
  }

  /** Bit-interleave of two cell columns in DuckDB SQL — the same
    * disjoint-bit OR fold ZOrder.interleaveBits builds as Catalyst
    * expressions, generated for the same `bits`. */
  private def interleaveSql(a: String, b: String, bits: Int): String =
    (0 until bits).flatMap { i =>
      Seq(s"((($a >> $i) & 1) << ${2 * i})",
        s"((($b >> $i) & 1) << ${2 * i + 1})")
    }.mkString("(", " | ", ")")

  /** DuckDB oracle for each query (same tables, same column names, same
    * total order). */
  def oracleSql: Map[String, String] = Map(
    "layout_zorder" ->
      s"""WITH bnd AS (
         |  SELECT min(l_partkey) AS alo, max(l_partkey) AS ahi,
         |         min(l_suppkey) AS blo, max(l_suppkey) AS bhi
         |  FROM lineitem),
         |c AS (
         |  SELECT l_orderkey, l_linenumber,
         |    CAST(floor((least(greatest(l_partkey, alo), ahi) - alo)
         |      * 256.0 / (ahi - alo + 1)) AS BIGINT) AS cell_p,
         |    CAST(floor((least(greatest(l_suppkey, blo), bhi) - blo)
         |      * 256.0 / (bhi - blo + 1)) AS BIGINT) AS cell_s
         |  FROM lineitem CROSS JOIN bnd)
         |SELECT l_orderkey, l_linenumber, cell_p, cell_s,
         |  ${interleaveSql("cell_p", "cell_s", 8)} AS zval
         |FROM c
         |ORDER BY zval, l_orderkey, l_linenumber
         |LIMIT 1000""".stripMargin,
    "sample_splits" ->
      s"""WITH ${xxhash64BucketSql("doc_id", "documents")}
         |SELECT k AS doc_id, $splitCaseSql AS split
         |FROM bk ORDER BY doc_id""".stripMargin,
    // Weighted median: the same distinct-value cumulative-weight rule
    // in exact integers — window cumsum, half-total crossing, min v.
    "agg_weighted_median" ->
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
        |FROM c WHERE cum * 2 >= total GROUP BY g ORDER BY g""".stripMargin,
    // Sample estimate: XXH64 membership re-derived in HUGEINT SQL on
    // the same composite key, then the identical conditional sums and
    // exact-ppm error arithmetic. Duplicate keys hash once here
    // (bucket is a pure function of k), so joining membership back by
    // key reproduces Spark's per-row evaluation exactly.
    "agg_sample_estimate" ->
      s"""WITH ${xxhash64BucketSql(
             "(l_orderkey * 10 + l_linenumber)", "lineitem")},
         |mem AS (SELECT DISTINCT k, bucket < 1000 AS in_sample FROM bk),
         |j AS (SELECT l.l_returnflag,
         |        CAST(l.l_quantity AS BIGINT) AS qty, m.in_sample
         |      FROM lineitem l
         |      JOIN mem m ON m.k = l.l_orderkey * 10 + l.l_linenumber),
         |g AS (SELECT l_returnflag,
         |        count(*) AS exact_rows,
         |        CAST(sum(qty) AS BIGINT) AS exact_qty,
         |        CAST(10 * sum(CASE WHEN in_sample THEN 1 ELSE 0 END)
         |          AS BIGINT) AS est_rows,
         |        CAST(10 * sum(CASE WHEN in_sample THEN qty ELSE 0 END)
         |          AS BIGINT) AS est_qty
         |      FROM j GROUP BY l_returnflag)
         |SELECT l_returnflag, exact_rows, est_rows,
         |  CAST(abs(est_rows - exact_rows) * 1000000 // exact_rows
         |    AS BIGINT) AS err_rows_ppm,
         |  exact_qty, est_qty,
         |  CAST(abs(est_qty - exact_qty) * 1000000 // exact_qty
         |    AS BIGINT) AS err_qty_ppm
         |FROM g ORDER BY l_returnflag""".stripMargin,
    "sample_stratified" ->
      s"""WITH ${xxhash64BucketSql("doc_id", "documents")}
         |SELECT d.doc_id, d.lang
         |FROM documents d JOIN bk ON bk.k = d.doc_id
         |WHERE $stratifiedKeepSql
         |ORDER BY d.doc_id""".stripMargin,
    // Weighted mix: the same XXH64 bucket, floor + fractional-bucket
    // multiplicity per source, copies via generate_series.
    "sample_weighted_mix" ->
      s"""WITH ${xxhash64BucketSql("doc_id", "documents")},
         |m AS (
         |  SELECT d.doc_id, d.source, $mixCopiesSql AS n
         |  FROM documents d JOIN bk ON bk.k = d.doc_id)
         |SELECT doc_id, source,
         |  CAST(unnest(generate_series(0, n - 1)) AS BIGINT) AS copy_id
         |FROM m WHERE n > 0 ORDER BY doc_id, copy_id""".stripMargin,
    // Sketch-state distinct maintenance: exact distinct normalized
    // texts per source (fingerprint collisions are absent at these
    // corpus sizes, so distinct fingerprints = distinct normalized
    // texts) + the error envelope pinned TRUE.
    "agg_incremental_distinct" ->
      """SELECT source,
        |  count(DISTINCT trim(regexp_replace(lower(text),
        |    '\s+', ' ', 'g'))) AS exact_distinct,
        |  TRUE AS within_bound
        |FROM documents GROUP BY source ORDER BY source""".stripMargin,
    // Incremental state merge ≡ cold full recompute (exact integers).
    "agg_incremental" ->
      """SELECT source, count(*) AS n_docs,
        |  CAST(sum(CASE WHEN trim(text) = '' THEN 0 ELSE
        |    len(string_split(trim(regexp_replace(lower(text),
        |      '\s+', ' ', 'g')), ' ')) END) AS BIGINT) AS total_tokens,
        |  CAST(sum(length(text)) AS BIGINT) AS total_chars
        |FROM documents GROUP BY source ORDER BY source""".stripMargin,
    // Domain cap: the oracle re-derives the synthesized host string
    // directly and replays the micro-rounded quality ranking (quality
    // doubles are bit-identical per the text_quality oracle; the
    // micro-rounding before ORDER BY is what makes the rank itself
    // engine-portable).
    "curation_domain_cap" ->
      s"""WITH base AS (
         |  SELECT doc_id, source, text,
         |    trim(regexp_replace(lower(text), '\\s+', ' ', 'g')) AS nt
         |  FROM documents),
         |tk AS (
         |  SELECT doc_id, source, text,
         |    list_filter(string_split(nt, ' '), x -> len(x) > 0) AS toks
         |  FROM base),
         |tk2 AS (
         |  SELECT *, length(text) AS n_chars,
         |    length(regexp_replace(lower(text), '[^a-z0-9]', '', 'g'))
         |      AS n_alnum,
         |    length(regexp_replace(lower(text), '[^0-9]', '', 'g'))
         |      AS n_digit,
         |    length(text) - length(regexp_replace(text, '\\s', '', 'g'))
         |      AS n_ws
         |  FROM tk),
         |scored AS (
         |  SELECT doc_id, source,
         |    CASE WHEN len(toks) > 0 THEN
         |      CAST(len(list_filter(toks, t -> list_contains($stopwordsSql, t)))
         |        AS DOUBLE) / CAST(len(toks) AS DOUBLE)
         |      ELSE 0.0 END AS stopword_ratio,
         |    CASE WHEN n_chars > 0 THEN CAST(n_chars - n_alnum - n_ws
         |      AS DOUBLE) / CAST(n_chars AS DOUBLE) ELSE 0.0 END
         |      AS punct_ratio,
         |    CASE WHEN n_chars > 0 THEN CAST(n_digit AS DOUBLE)
         |      / CAST(n_chars AS DOUBLE) ELSE 0.0 END AS digit_ratio,
         |    len(toks) AS n_toks
         |  FROM tk2),
         |q AS (
         |  SELECT doc_id,
         |    source || '-' || CAST(doc_id % 7 AS VARCHAR)
         |      || '.example.com' AS host,
         |    CAST(round((least(CAST(n_toks AS DOUBLE) / 100.0, 1.0) * 0.3
         |      + greatest(0.0, 1.0 - punct_ratio * 5) * 0.3
         |      + greatest(0.0, 1.0 - digit_ratio * 5) * 0.2
         |      + least(stopword_ratio * 3, 1.0) * 0.2) * 1e6) AS BIGINT)
         |      AS q_micros
         |  FROM scored),
         |r AS (
         |  SELECT doc_id, host,
         |    CAST(row_number() OVER (PARTITION BY host
         |      ORDER BY q_micros DESC, doc_id) AS INTEGER) AS rank
         |  FROM q)
         |SELECT doc_id, host, rank, rank <= 3 AS kept
         |FROM r ORDER BY doc_id""".stripMargin,
    // URL dedup: the oracle re-synthesizes the noisy URL with the same
    // doc_id arithmetic, then replays the canonicalization pipeline
    // step for step. DuckDB's regexp_replace is first-match by
    // default, so the two replace-ALL steps (utm strip, /? collapse)
    // pass 'g' — Spark's regexp_replace is always global.
    "curation_url_dedup" ->
      """WITH u AS (
        |  SELECT doc_id, doc_id % 250 AS k,
        |    CASE doc_id % 4 WHEN 0 THEN 'https://' WHEN 1 THEN 'http://'
        |         WHEN 2 THEN 'HTTPS://' ELSE 'Http://' END
        |    || CASE WHEN doc_id % 3 = 0 THEN 'www.' ELSE '' END
        |    || CASE WHEN doc_id % 5 = 0
        |         THEN upper('ex' || ((doc_id % 250) % 10) || '.example.org')
        |         ELSE 'ex' || ((doc_id % 250) % 10) || '.example.org' END
        |    || CASE WHEN doc_id % 7 = 0 THEN ':443' ELSE '' END
        |    || '/a/' || (doc_id % 250)
        |    || CASE WHEN doc_id % 2 = 0 THEN '/' ELSE '' END
        |    || CASE WHEN (doc_id % 250) % 3 < 2
        |         THEN '?id=' || ((doc_id % 250) % 5) ELSE '' END
        |    || CASE WHEN doc_id % 3 = 1 THEN
        |         CASE WHEN (doc_id % 250) % 3 < 2 THEN '&utm_source=feed'
        |              ELSE '?utm_source=feed' END ELSE '' END
        |    || CASE WHEN doc_id % 6 = 2 THEN '#sec-' || doc_id
        |         ELSE '' END AS url
        |  FROM documents),
        |s1 AS (
        |  SELECT doc_id, url,
        |    regexp_replace(regexp_replace(url,
        |      '^[A-Za-z][A-Za-z0-9+.-]*://', ''), '#.*$', '') AS nf
        |  FROM u),
        |s2 AS (
        |  SELECT doc_id, url,
        |    regexp_replace(regexp_replace(
        |      lower(regexp_extract(nf, '^[^/?]+')),
        |      '^www\.', ''), ':(80|443)$', '') AS h,
        |    regexp_replace(regexp_replace(regexp_replace(
        |      regexp_replace(regexp_replace(
        |        regexp_replace(nf, '^[^/?]+', ''),
        |        '[?&]utm_[A-Za-z0-9_]*=[^&#]*', '', 'g'),
        |      '^([^?&]*)&', '\1?'), '/\?', '?', 'g'),
        |      '\?$', ''), '/$', '') AS r
        |  FROM s1),
        |c AS (SELECT doc_id, url, h || r AS canonical FROM s2)
        |SELECT doc_id, url, canonical,
        |  doc_id = min(doc_id) OVER (PARTITION BY canonical) AS keep,
        |  CASE WHEN doc_id <> min(doc_id) OVER (PARTITION BY canonical)
        |       THEN min(doc_id) OVER (PARTITION BY canonical) END AS dup_of
        |FROM c ORDER BY doc_id""".stripMargin,
    // PageRank: the engine's 5 fixed iterations of scaled-long
    // floor-division rank flow unrolled as 5 chained CTEs — every
    // division is integer floor on positive values in both engines,
    // every sum is an exact BIGINT, so the raw ranks hash-match.
    "graph_pagerank" -> {
      val base = "15 * 1000000000000 // (100 * (SELECT count(*) FROM nodes))"
      def iterCte(k: Int): String =
        s"""r$k AS (
           |  SELECT n.id,
           |    CAST($base
           |      + (85 * coalesce(sum(x.contrib), 0)) // 100 AS BIGINT)
           |      AS rank
           |  FROM nodes n LEFT JOIN (
           |    SELECT e.dst AS id, r${k - 1}.rank // d.outdeg AS contrib
           |    FROM edges e JOIN r${k - 1} ON e.src = r${k - 1}.id
           |    JOIN deg d ON d.src = e.src) x ON x.id = n.id
           |  GROUP BY n.id)"""
      s"""WITH pairs AS (
         |  SELECT DISTINCT o_custkey * 2 AS c, l_suppkey * 2 + 1 AS sp
         |  FROM orders JOIN lineitem ON l_orderkey = o_orderkey),
         |edges AS (SELECT c AS src, sp AS dst FROM pairs
         |          UNION ALL SELECT sp, c FROM pairs),
         |nodes AS (SELECT c_custkey * 2 AS id FROM customer
         |          UNION ALL SELECT s_suppkey * 2 + 1 FROM supplier),
         |deg AS (SELECT src, count(*) AS outdeg FROM edges GROUP BY src),
         |r0 AS (SELECT id, CAST(1000000000000
         |         // (SELECT count(*) FROM nodes) AS BIGINT) AS rank
         |       FROM nodes),
         |${(1 to 5).map(iterCte).mkString(",\n")}
         |SELECT CAST(id AS BIGINT) AS node_id,
         |  CASE WHEN id % 2 = 0 THEN 'customer' ELSE 'supplier' END
         |    AS node_type,
         |  CAST(id // 2 AS BIGINT) AS node_key,
         |  rank AS rank_scaled
         |FROM r5 ORDER BY node_id""".stripMargin
    },
    // Triangles: the oracle re-derives the circulant-plus-sparse
    // graph, the degree orientation, the id-ordered wedge set and the
    // both-ways closing join — the identical counting discipline, so
    // per-node triangle counts and the integer-micros clustering
    // coefficient hash-match.
    "graph_triangles" ->
      """WITH ids AS (SELECT doc_id AS i FROM documents),
        |nn AS (SELECT max(i) + 1 AS n FROM ids),
        |edges AS (
        |  SELECT i AS a, (i + 1) % n AS b FROM ids, nn
        |  UNION ALL SELECT i, (i + 2) % n FROM ids, nn
        |  UNION ALL SELECT i, (i + 4) % n FROM ids, nn
        |  UNION ALL SELECT i, (i + 7) % n FROM ids, nn WHERE i % 3 = 0),
        |sym AS (SELECT a, b FROM edges UNION ALL SELECT b, a FROM edges),
        |deg AS (SELECT a AS node, count(*) AS degree FROM sym GROUP BY a),
        |ori AS (
        |  SELECT s.a AS src, s.b AS dst FROM sym s
        |  JOIN deg dA ON dA.node = s.a JOIN deg dB ON dB.node = s.b
        |  WHERE dA.degree < dB.degree
        |     OR (dA.degree = dB.degree AND s.a < s.b)),
        |wedges AS (
        |  SELECT e1.src, e1.dst AS v, e2.dst AS w
        |  FROM ori e1 JOIN ori e2 ON e1.src = e2.src AND e1.dst < e2.dst),
        |closing AS (SELECT src AS v, dst AS w FROM ori
        |            UNION ALL SELECT dst, src FROM ori),
        |tri AS (SELECT wg.src, wg.v, wg.w FROM wedges wg
        |        JOIN closing c ON c.v = wg.v AND c.w = wg.w),
        |corners AS (
        |  SELECT node, count(*) AS triangles FROM (
        |    SELECT src AS node FROM tri UNION ALL SELECT v FROM tri
        |    UNION ALL SELECT w FROM tri) GROUP BY node)
        |SELECT d.node, CAST(d.degree AS BIGINT) AS degree,
        |  CAST(coalesce(c.triangles, 0) AS BIGINT) AS triangles,
        |  CASE WHEN d.degree >= 2 THEN
        |    CAST((2 * coalesce(c.triangles, 0) * 1000000)
        |      // (d.degree * (d.degree - 1)) AS BIGINT) END AS coeff_micros
        |FROM deg d LEFT JOIN corners c ON c.node = d.node
        |ORDER BY d.node""".stripMargin,
    // Label propagation: the caveman graph and all four synchronous
    // rounds (count desc / label asc tie-break as a row_number) are
    // replayed verbatim.
    "graph_label_prop" -> {
      def round(k: Int): String =
        s"""c$k AS (
           |  SELECT e.src AS nid, p.lbl, count(*) AS cnt
           |  FROM edges e JOIN l${k - 1} p ON p.id = e.dst
           |  GROUP BY 1, 2),
           |b$k AS (
           |  SELECT nid, lbl AS nbl FROM (
           |    SELECT nid, lbl, row_number() OVER (
           |      PARTITION BY nid ORDER BY cnt DESC, lbl) AS rn
           |    FROM c$k) WHERE rn = 1),
           |l$k AS (
           |  SELECT p.id, coalesce(b.nbl, p.lbl) AS lbl
           |  FROM l${k - 1} p LEFT JOIN b$k b ON b.nid = p.id)"""
      s"""WITH ids AS (SELECT doc_id AS i FROM documents),
         |mm AS (SELECT max(i) AS m FROM ids),
         |und0 AS (
         |  SELECT i AS a, i + 1 AS b FROM ids, mm
         |    WHERE i + 1 <= m AND (i // 50) = ((i + 1) // 50)
         |  UNION ALL SELECT i, i + 2 FROM ids, mm
         |    WHERE i + 2 <= m AND (i // 50) = ((i + 2) // 50)
         |  UNION ALL SELECT i, (i // 50) * 50 FROM ids WHERE i % 50 <> 0
         |  UNION ALL SELECT i, i + 50 FROM ids, mm
         |    WHERE i % 50 = 0 AND i + 50 <= m),
         |und AS (SELECT DISTINCT least(a, b) AS a, greatest(a, b) AS b
         |        FROM und0),
         |edges AS (SELECT a AS src, b AS dst FROM und
         |          UNION ALL SELECT b, a FROM und),
         |l0 AS (SELECT i AS id, i AS lbl FROM ids),
         |${(1 to 4).map(round).mkString(",\n")}
         |SELECT id, lbl FROM l4 ORDER BY id""".stripMargin
    },
    // Retention: day arithmetic in exact integer days, the (user,
    // day) de-dup before the join exactly as the engine does it.
    "events_retention" ->
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
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    // Funnel attribution: each stage's min-timestamp conditioning on
    // the previous stage replayed as correlated aggregations.
    "events_funnel_steps" ->
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
        |ORDER BY s.user_id""".stripMargin,
    // Histogram-quantile maintenance: bins, running counts, the
    // integer rank threshold and the bin-upper-edge estimate are all
    // exact integer replays; exact rank quantiles come from the same
    // row_number discipline; the error envelope is computed, not
    // assumed.
    "agg_incremental_quantile" ->
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
        |ORDER BY est.source""".stripMargin,
    // Sequence packing: shard + stream order are functions of
    // XXH64(doc_id) (re-derived in HUGEINT SQL); the running token
    // offset is a per-shard window sum; sums over BIGINT come back
    // HUGEINT in this dialect, so end_off is cast down before the
    // sequence-number division.
    "pack_sequences" ->
      s"""WITH tok AS (
         |  SELECT doc_id, CASE WHEN trim(text) = '' THEN 0 ELSE
         |    CAST(len(string_split(trim(regexp_replace(lower(text),
         |      '\\s+', ' ', 'g')), ' ')) AS BIGINT) END AS n_tokens
         |  FROM documents),
         |${xxhash64BucketSql("doc_id", "tok")},
         |ord AS (
         |  SELECT t.doc_id, t.n_tokens, sg.s AS h,
         |    CAST(((sg.s % 8) + 8) % 8 AS INTEGER) AS shard
         |  FROM tok t JOIN sg ON sg.k = t.doc_id
         |  WHERE t.n_tokens > 0),
         |off AS (
         |  SELECT doc_id, shard, n_tokens,
         |    CAST(sum(n_tokens) OVER (PARTITION BY shard
         |      ORDER BY h, doc_id ROWS UNBOUNDED PRECEDING) AS BIGINT)
         |      AS end_off
         |  FROM ord)
         |SELECT doc_id, shard, n_tokens,
         |  (end_off - n_tokens) // 128 AS start_seq,
         |  (end_off - 1) // 128 AS end_seq,
         |  (end_off - n_tokens) % 128 AS offset_in_seq
         |FROM off ORDER BY doc_id""".stripMargin,
    "pack_sequence_index" ->
      s"""WITH tok AS (
         |  SELECT doc_id, CASE WHEN trim(text) = '' THEN 0 ELSE
         |    CAST(len(string_split(trim(regexp_replace(lower(text),
         |      '\\s+', ' ', 'g')), ' ')) AS BIGINT) END AS n_tokens
         |  FROM documents),
         |${xxhash64BucketSql("doc_id", "tok")},
         |ord AS (
         |  SELECT t.doc_id, t.n_tokens, sg.s AS h,
         |    CAST(((sg.s % 8) + 8) % 8 AS INTEGER) AS shard
         |  FROM tok t JOIN sg ON sg.k = t.doc_id
         |  WHERE t.n_tokens > 0),
         |off AS (
         |  SELECT doc_id, shard, n_tokens,
         |    CAST(sum(n_tokens) OVER (PARTITION BY shard
         |      ORDER BY h, doc_id ROWS UNBOUNDED PRECEDING) AS BIGINT)
         |      AS end_off
         |  FROM ord),
         |manifest AS (
         |  SELECT doc_id, shard,
         |    (end_off - n_tokens) // 128 AS start_seq,
         |    (end_off - 1) // 128 AS end_seq
         |  FROM off),
         |expanded AS (
         |  SELECT doc_id, shard,
         |    CAST(unnest(generate_series(start_seq, end_seq)) AS BIGINT)
         |      AS seq
         |  FROM manifest)
         |SELECT shard, seq, count(*) AS n_docs,
         |  min(doc_id) AS first_doc_id, max(doc_id) AS last_doc_id
         |FROM expanded GROUP BY shard, seq
         |ORDER BY shard, seq""".stripMargin,
    "scan_leaf" ->
      """SELECT l_orderkey, l_linenumber, l_partkey, l_quantity
        |FROM lineitem WHERE l_quantity > 45
        |ORDER BY l_orderkey, l_linenumber""".stripMargin,
    "sel_conjunctive" ->
      """SELECT o_orderkey, o_custkey, o_totalprice, o_orderstatus
        |FROM orders
        |WHERE o_totalprice > 200000 AND o_orderstatus = 'F'
        |ORDER BY o_orderkey""".stripMargin,
    "proj_columns" ->
      """SELECT c_custkey, c_name, c_mktsegment FROM customer
        |ORDER BY c_custkey""".stripMargin,
    "join_equi" ->
      """SELECT c.c_custkey, c.c_name, o.o_orderkey, o.o_totalprice
        |FROM customer c JOIN orders o ON c.c_custkey = o.o_custkey
        |WHERE c.c_acctbal > 5000
        |ORDER BY o.o_orderkey""".stripMargin,
    "join_multiway" ->
      """SELECT n.n_name, c.c_name, o.o_orderkey, o.o_totalprice
        |FROM customer c
        |JOIN orders o ON c.c_custkey = o.o_custkey
        |JOIN nation n ON c.c_nationkey = n.n_nationkey
        |WHERE o.o_totalprice > 300000
        |ORDER BY o.o_orderkey""".stripMargin,
    "union_horizontal_frag" ->
      "SELECT * FROM orders ORDER BY o_orderkey",
    // The JDBC site db is seeded from the same parquet, so the oracle
    // is the plain relational rollup over the logical tables.
    "source_jdbc" ->
      """SELECT c_mktsegment, count(*) AS n_orders,
        |  sum(CAST(round(o_totalprice * 100) AS BIGINT)) / 100.0
        |    AS revenue
        |FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "join_vertical_frag" ->
      """SELECT c_custkey, c_name, c_nationkey, c_acctbal, c_mktsegment
        |FROM customer ORDER BY c_custkey""".stripMargin,
    "union_all" ->
      """SELECT o_orderkey, o_totalprice FROM orders
        |WHERE o_totalprice > 400000
        |UNION ALL
        |SELECT o_orderkey, o_totalprice FROM orders
        |WHERE o_totalprice < 10000
        |ORDER BY o_orderkey""".stripMargin,
    "passthrough_sql" ->
      """SELECT s_suppkey, s_name, s_acctbal FROM supplier
        |WHERE s_acctbal > 0 ORDER BY s_suppkey""".stripMargin,
    // The MySQL-dialect statement above, re-spelled in the oracle's
    // ANSI dialect: backticks dropped, the double-quoted literal
    // single-quoted, LIMIT off,cnt as LIMIT cnt OFFSET off.
    "sql_dialect" ->
      """SELECT c_custkey, c_name, c_acctbal FROM customer
        |WHERE c_nationkey <> 3 AND c_mktsegment = 'BUILDING'
        |  AND c_acctbal != 0
        |ORDER BY c_custkey LIMIT 10 OFFSET 5""".stripMargin,
    // The MySQL GROUP_CONCAT/DATE_FORMAT statement in the oracle's
    // dialect: string_agg with an ORDER BY on the NATIVE key (numeric,
    // matching the translation's struct-sort), strftime's %-patterns
    // (DuckDB shares MySQL's % tokens for these).
    "sql_dialect_funcs" ->
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
        |GROUP BY ym ORDER BY ym""".stripMargin,
    // MySQL-ci semantics replayed with lower() wraps (DuckDB compares
    // binary, like un-flagged Spark).
    "sql_collation_ci" ->
      """SELECT c_custkey, c_name, c_mktsegment FROM customer
        |WHERE lower(c_mktsegment) = lower('building') AND c_acctbal >= 0
        |ORDER BY c_custkey LIMIT 50 OFFSET 0""".stripMargin,
    // Identical recursion in the oracle dialect (div spelled //).
    "recursive_cte" ->
      """WITH RECURSIVE t(doc_id, depth) AS (
        |  SELECT doc_id, 0 FROM documents WHERE doc_id = 0
        |  UNION ALL
        |  SELECT d.doc_id, t.depth + 1
        |  FROM documents d JOIN t ON t.doc_id = d.doc_id // 2
        |  WHERE d.doc_id > 0)
        |SELECT doc_id, depth FROM t ORDER BY doc_id""".stripMargin,
    "frag_transparency_agg" ->
      """SELECT n.n_name, count(*) AS n_orders,
        |  CAST(sum(CAST(round(o.o_totalprice * 100) AS BIGINT))
        |       AS BIGINT) / 100.0 AS revenue
        |FROM customer c
        |JOIN orders o ON c.c_custkey = o.o_custkey
        |JOIN nation n ON c.c_nationkey = n.n_nationkey
        |WHERE c.c_acctbal > 1000
        |GROUP BY n.n_name
        |ORDER BY n.n_name""".stripMargin,
    "agg_q1" ->
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
        |ORDER BY l_returnflag, l_linestatus""".stripMargin,
    "agg_distinct" ->
      """SELECT o_orderpriority,
        |  CAST(count(DISTINCT o_custkey) AS BIGINT) AS n_customers,
        |  count(*) AS n_orders
        |FROM orders GROUP BY o_orderpriority
        |ORDER BY o_orderpriority""".stripMargin,
    "agg_having" ->
      """SELECT o_custkey, count(*) AS n_orders,
        |  CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
        |    / 100.0 AS spend
        |FROM orders GROUP BY o_custkey
        |HAVING count(*) >= 3
        |ORDER BY o_custkey""".stripMargin,
    "agg_rollup" ->
      """SELECT n.n_name, c.c_mktsegment, count(*) AS n_cust,
        |  CAST(sum(CAST(round(c.c_acctbal * 100) AS BIGINT)) AS BIGINT)
        |    / 100.0 AS balance
        |FROM customer c JOIN nation n ON c.c_nationkey = n.n_nationkey
        |GROUP BY ROLLUP(n.n_name, c.c_mktsegment)
        |ORDER BY n.n_name NULLS FIRST, c.c_mktsegment NULLS FIRST""".stripMargin,
    "window_rank" ->
      """SELECT o_custkey, o_orderkey, o_totalprice, rk FROM (
        |  SELECT o_custkey, o_orderkey, o_totalprice,
        |    CAST(row_number() OVER (PARTITION BY o_custkey
        |      ORDER BY o_totalprice DESC, o_orderkey) AS INTEGER) AS rk
        |  FROM orders) x
        |WHERE rk <= 3
        |ORDER BY o_custkey, rk""".stripMargin,
    "window_running" ->
      """SELECT o_custkey, o_orderkey, o_orderdate,
        |  CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT))
        |    OVER (PARTITION BY o_custkey
        |          ORDER BY o_orderdate, o_orderkey
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |    AS BIGINT) / 100.0 AS running_spend
        |FROM orders
        |ORDER BY o_custkey, o_orderkey""".stripMargin,
    "sort_limit_topk" ->
      """SELECT o_orderkey, o_custkey, o_totalprice FROM orders
        |ORDER BY o_totalprice DESC, o_orderkey LIMIT 100""".stripMargin,
    "setop_intersect" ->
      """SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'
        |INTERSECT
        |SELECT o_custkey FROM orders WHERE o_totalprice > 300000
        |ORDER BY o_custkey""".stripMargin,
    "setop_except" ->
      """SELECT c_custkey FROM customer
        |EXCEPT
        |SELECT o_custkey AS c_custkey FROM orders
        |ORDER BY c_custkey""".stripMargin,
    "join_outer_left" ->
      """SELECT c.c_custkey, c.c_name,
        |  CAST(coalesce(x.n_orders, 0) AS BIGINT) AS n_orders
        |FROM customer c LEFT JOIN
        |  (SELECT o_custkey, count(*) AS n_orders FROM orders
        |   GROUP BY o_custkey) x
        |  ON c.c_custkey = x.o_custkey
        |ORDER BY c.c_custkey""".stripMargin,
    "join_semi" ->
      """SELECT c_custkey, c_name FROM customer c
        |WHERE EXISTS (SELECT 1 FROM orders o
        |  WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 400000)
        |ORDER BY c_custkey""".stripMargin,
    "join_anti" ->
      """SELECT c_custkey, c_name FROM customer c
        |WHERE NOT EXISTS (SELECT 1 FROM orders o
        |  WHERE o.o_custkey = c.c_custkey)
        |ORDER BY c_custkey""".stripMargin,
    "scalar_funcs" ->
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
        |ORDER BY o_orderkey""".stripMargin,
    "case_null" ->
      """SELECT c_custkey,
        |  CASE WHEN c_acctbal < 0 THEN 'overdrawn'
        |       WHEN c_acctbal < 5000 THEN 'standard'
        |       ELSE 'premium' END AS tier,
        |  CASE WHEN c_acctbal < 0 THEN NULL ELSE c_acctbal END
        |    AS pos_bal,
        |  coalesce(CASE WHEN c_acctbal < 0 THEN NULL ELSE c_acctbal END,
        |           0.0) AS bal_or_zero
        |FROM customer ORDER BY c_custkey""".stripMargin,
    "subquery_in" ->
      """SELECT o_orderkey, o_custkey, o_totalprice FROM orders
        |WHERE o_custkey IN
        |  (SELECT c_custkey FROM customer WHERE c_acctbal > 9000)
        |ORDER BY o_orderkey""".stripMargin,
    "subquery_exists" ->
      """SELECT c_custkey, c_name FROM customer c
        |WHERE EXISTS (SELECT 1 FROM orders o
        |              WHERE o.o_custkey = c.c_custkey
        |                AND o.o_totalprice > 400000)
        |  AND NOT EXISTS (SELECT 1 FROM orders o2
        |                  WHERE o2.o_custkey = c.c_custkey
        |                    AND o2.o_orderstatus = 'F')
        |ORDER BY c_custkey""".stripMargin,
    // SQL breadth, batch 2 oracles
    "agg_cube" ->
      """SELECT o_orderstatus, o_orderpriority, count(*) AS n,
        |  CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
        |    / 100.0 AS spend
        |FROM orders
        |GROUP BY CUBE(o_orderstatus, o_orderpriority)
        |ORDER BY o_orderstatus NULLS FIRST,
        |  o_orderpriority NULLS FIRST""".stripMargin,
    "agg_grouping_sets" ->
      """SELECT o_orderstatus, o_orderpriority, count(*) AS n
        |FROM orders
        |GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
        |ORDER BY o_orderstatus NULLS FIRST,
        |  o_orderpriority NULLS FIRST""".stripMargin,
    "agg_minmax" ->
      """SELECT l_returnflag,
        |  min(l_extendedprice) AS min_price,
        |  max(l_extendedprice) AS max_price,
        |  min(l_shipdate) AS first_ship,
        |  max(l_shipdate) AS last_ship
        |FROM lineitem GROUP BY l_returnflag
        |ORDER BY l_returnflag""".stripMargin,
    // The two sketch oracles assert the ERROR ENVELOPE: the engine
    // computes within_bound from its sketch vs the exact value; the
    // oracle recomputes the exact value and pins within_bound = TRUE.
    // A sketch regression (or a broken merge) flips the boolean and
    // fails the hash.
    "agg_approx_distinct" ->
      """SELECT l_returnflag,
        |  CAST(count(DISTINCT l_orderkey) AS BIGINT) AS exact_orders,
        |  TRUE AS within_bound
        |FROM lineitem GROUP BY l_returnflag
        |ORDER BY l_returnflag""".stripMargin,
    "agg_approx_quantile" ->
      """SELECT o_orderstatus,
        |  quantile_cont(o_totalprice, 0.5) AS exact_median,
        |  TRUE AS within_bound
        |FROM orders GROUP BY o_orderstatus
        |ORDER BY o_orderstatus""".stripMargin,
    "agg_percentiles" ->
      """SELECT o_orderstatus,
        |  quantile_cont(o_totalprice, 0.25) AS p25,
        |  quantile_cont(o_totalprice, 0.5) AS median,
        |  quantile_cont(o_totalprice, 0.75) AS p75,
        |  quantile_cont(o_totalprice, 0.95) AS p95
        |FROM orders GROUP BY o_orderstatus
        |ORDER BY o_orderstatus""".stripMargin,
    "window_lead_lag" ->
      """SELECT o_custkey, o_orderkey, o_orderdate,
        |  lag(o_totalprice, 1) OVER w AS prev_price,
        |  lead(o_totalprice, 1) OVER w AS next_price,
        |  CAST(dense_rank() OVER w AS INTEGER) AS drk,
        |  CAST(ntile(4) OVER w AS INTEGER) AS quartile
        |FROM orders
        |WINDOW w AS (PARTITION BY o_custkey
        |             ORDER BY o_orderdate, o_orderkey)
        |ORDER BY o_custkey, o_orderkey""".stripMargin,
    "window_first_last" ->
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
        |ORDER BY o_custkey, o_orderkey""".stripMargin,
    "agg_listagg" ->
      """SELECT o_orderstatus,
        |  string_agg(o_orderpriority, ','
        |             ORDER BY o_orderpriority) AS priorities
        |FROM (SELECT DISTINCT o_orderstatus, o_orderpriority FROM orders)
        |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin,
    "window_range_frame" ->
      """SELECT o_custkey, o_orderkey,
        |  CAST(epoch(o_orderdate) AS BIGINT) AS o_epoch,
        |  CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) OVER
        |    (PARTITION BY o_custkey ORDER BY CAST(epoch(o_orderdate) AS BIGINT)
        |     RANGE BETWEEN 2592000 PRECEDING AND CURRENT ROW)
        |    AS BIGINT) / 100.0 AS spend_30d
        |FROM orders
        |ORDER BY o_custkey, o_orderkey""".stripMargin,
    "string_funcs" ->
      """SELECT c_custkey,
        |  regexp_extract(c_name, '(\d+)', 1) AS name_digits,
        |  translate(c_name, '#', '-') AS name_dash,
        |  lpad(CAST(c_custkey AS VARCHAR), 8, '0') AS key_padded,
        |  trim('  x  ') AS trimmed,
        |  CAST(len(string_split(c_name, '#')) AS INTEGER) AS name_parts,
        |  CAST(instr(c_name, '1') AS INTEGER) AS pos_1,
        |  reverse(c_name) AS name_rev
        |FROM customer WHERE c_name LIKE '%1%'
        |ORDER BY c_custkey""".stripMargin,
    "date_funcs" ->
      """SELECT o_orderkey,
        |  date_trunc('month', o_orderdate) AS month_start,
        |  CAST(quarter(o_orderdate) AS INTEGER) AS qtr,
        |  CAST(isodow(o_orderdate) AS INTEGER) AS isodow,
        |  CAST(dayofyear(o_orderdate) AS INTEGER) AS doy,
        |  CAST(epoch(o_orderdate) AS BIGINT) AS epoch_s
        |FROM orders WHERE o_orderkey <= 2000
        |ORDER BY o_orderkey""".stripMargin,
    "join_full_outer" ->
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
        |ORDER BY o_custkey""".stripMargin,
    "join_cross" ->
      """SELECT r_name, o_orderstatus
        |FROM region CROSS JOIN
        |  (SELECT DISTINCT o_orderstatus FROM orders) s
        |ORDER BY r_name, o_orderstatus""".stripMargin,
    "select_distinct" ->
      """SELECT DISTINCT o_orderstatus, o_orderpriority FROM orders
        |ORDER BY o_orderstatus, o_orderpriority""".stripMargin,
    "setop_intersect_all" ->
      """SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'
        |INTERSECT ALL
        |SELECT o_custkey FROM orders WHERE o_totalprice > 200000
        |ORDER BY o_custkey""".stripMargin,
    "setop_except_all" ->
      """SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'
        |EXCEPT ALL
        |SELECT o_custkey FROM orders WHERE o_totalprice > 200000
        |ORDER BY o_custkey""".stripMargin,
    "join_lateral" ->
      """SELECT r.r_name, x.n_name, x.n_cust
        |FROM region r,
        |LATERAL (
        |  SELECT n.n_name, count(*) AS n_cust
        |  FROM nation n JOIN customer c ON c.c_nationkey = n.n_nationkey
        |  WHERE n.n_regionkey = r.r_regionkey
        |  GROUP BY n.n_name
        |  ORDER BY n_cust DESC, n.n_name
        |  LIMIT 2) x
        |ORDER BY r.r_name, x.n_cust DESC, x.n_name""".stripMargin,
    "pivot_segments" ->
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
        |GROUP BY n.n_name ORDER BY n.n_name""".stripMargin,
    "scalar_subquery" ->
      """SELECT o_orderkey, o_totalprice FROM orders
        |WHERE o_totalprice >
        |  (SELECT 2 * CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT))
        |     AS BIGINT) / 100.0 / count(*) FROM orders)
        |ORDER BY o_orderkey""".stripMargin,
    "q3_shipping_priority" ->
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
        |LIMIT 20""".stripMargin,
    "q5_supplier_volume" ->
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
        |ORDER BY n.n_name""".stripMargin,
    "q6_forecast_revenue" ->
      """SELECT CAST(sum(CAST(round(l_extendedprice * l_discount * 1e6)
        |      AS BIGINT)) AS BIGINT) / 1e6 AS revenue,
        |  count(*) AS n_items
        |FROM lineitem
        |WHERE l_shipdate >= TIMESTAMP '1994-01-01'
        |  AND l_shipdate < TIMESTAMP '1995-01-01'
        |  AND l_discount BETWEEN 0.05 AND 0.07
        |  AND l_quantity < 24""".stripMargin,
    // Salting must be invisible in the result — plain join oracle.
    "join_skew_salted" ->
      """SELECT s.s_nationkey, count(*) AS n_lines,
        |  CAST(sum(CAST(round(l.l_extendedprice * (1 - l.l_discount)
        |    * 1e6) AS BIGINT)) AS BIGINT) AS revenue_micros
        |FROM lineitem l JOIN supplier s ON l.l_suppkey = s.s_suppkey
        |GROUP BY s.s_nationkey
        |ORDER BY s.s_nationkey""".stripMargin,
    "skew_salted_agg" ->
      """SELECT o_custkey, count(*) AS n,
        |  CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
        |    / 100.0 AS total
        |FROM orders GROUP BY o_custkey
        |ORDER BY o_custkey""".stripMargin,
    "topk_aggregator" ->
      """SELECT o_custkey, CAST(rk AS INTEGER) AS rk, o_orderkey FROM (
        |  SELECT o_custkey, o_orderkey,
        |    row_number() OVER (PARTITION BY o_custkey
        |      ORDER BY o_totalprice DESC, o_orderkey) AS rk
        |  FROM orders) x
        |WHERE rk <= 3 ORDER BY o_custkey, rk""".stripMargin,
    "q10_returned_items" ->
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
        |LIMIT 20""".stripMargin,
    "q18_large_orders" ->
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
        |LIMIT 100""".stripMargin,
    "q4_priority_orders" ->
      """SELECT o_orderpriority, count(*) AS order_count
        |FROM orders o
        |WHERE o.o_orderdate >= TIMESTAMP '1996-01-01'
        |  AND o.o_orderdate < TIMESTAMP '1996-04-01'
        |  AND EXISTS (
        |    SELECT 1 FROM lineitem l
        |    WHERE l.l_orderkey = o.o_orderkey
        |      AND l.l_shipdate > o.o_orderdate + INTERVAL 30 DAY)
        |GROUP BY o_orderpriority
        |ORDER BY o_orderpriority""".stripMargin,
    "q7_nation_volume" ->
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
        |ORDER BY 1, 2, 3""".stripMargin,
    "q12_priority_class" ->
      """SELECT l.l_linestatus,
        |  count(CASE WHEN o.o_orderpriority IN ('1-URGENT', '2-HIGH')
        |        THEN 1 END) AS high_line_count,
        |  count(CASE WHEN o.o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
        |        THEN 1 END) AS low_line_count
        |FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
        |WHERE l.l_shipdate >= TIMESTAMP '1997-01-01'
        |  AND l.l_shipdate < TIMESTAMP '1998-01-01'
        |GROUP BY l.l_linestatus
        |ORDER BY l.l_linestatus""".stripMargin,
    "q13_custdist" ->
      """SELECT c_count, count(*) AS custdist FROM (
        |  SELECT c.c_custkey, count(o.o_orderkey) AS c_count
        |  FROM customer c LEFT JOIN orders o
        |    ON c.c_custkey = o.o_custkey
        |      AND o.o_orderpriority <> '5-LOW'
        |  GROUP BY c.c_custkey) cc
        |GROUP BY c_count
        |ORDER BY custdist DESC, c_count DESC""".stripMargin,
    "q19_disjunctive_revenue" ->
      """SELECT
        |  CAST(sum(CAST(round(l.l_extendedprice * (1 - l.l_discount)
        |    * 1e6) AS BIGINT)) AS BIGINT) AS revenue_micros
        |FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
        |WHERE (p.p_brand = 'Brand#12' AND p.p_size BETWEEN 1 AND 15
        |       AND l.l_quantity BETWEEN 1 AND 11)
        |   OR (p.p_brand = 'Brand#23' AND p.p_size BETWEEN 1 AND 25
        |       AND l.l_quantity BETWEEN 10 AND 20)
        |   OR (p.p_brand = 'Brand#34' AND p.p_size BETWEEN 1 AND 35
        |       AND l.l_quantity BETWEEN 20 AND 30)""".stripMargin,
    "q22_idle_customers" ->
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
        |ORDER BY c.c_nationkey""".stripMargin,
    // DuckDB year() is BIGINT where Spark's is INT — cast oracle-side
    "q8_market_share" ->
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
        |ORDER BY o_year""".stripMargin,
    "q15_top_supplier" ->
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
        |ORDER BY s.s_suppkey""".stripMargin,
    "q17_small_qty_revenue" ->
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
        |      < pq.sum_qc""".stripMargin,
    "q21_waiting_suppliers" ->
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
        |LIMIT 100""".stripMargin,
    // Q2/Q9/Q11/Q16/Q20 oracles share the exact-integer derived
    // partsupp CTE with the engine side — identical text, both
    // dialects parse it — so the pair relation is one definition.
    "q2_min_cost_supplier" ->
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
        |LIMIT 100""".stripMargin,
    "q9_product_profit" ->
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
        |ORDER BY nation, o_year DESC""".stripMargin,
    "q11_important_stock" ->
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
        |ORDER BY value_u DESC, ps_partkey""".stripMargin,
    "q16_supplier_cnt" ->
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
        .stripMargin,
    "q20_promotion_suppliers" ->
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
        |ORDER BY s.s_name, s.s_suppkey""".stripMargin,
    "text_fingerprints" -> winnowingOracleSql,
    "unpivot_metrics" ->
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
        |ORDER BY l_orderkey, l_linenumber, metric""".stripMargin,
    "regex_funcs" ->
      """SELECT c_custkey,
        |  regexp_extract(c_name, '([0-9]+)$', 1) AS cust_num,
        |  regexp_replace(c_name, '[0-9]', '#', 'g') AS masked,
        |  regexp_matches(c_name, '^Customer#0*[0-9]+$') AS well_formed
        |FROM customer WHERE c_custkey <= 500
        |ORDER BY c_custkey""".stripMargin,
    "grouping_id" ->
      """SELECT l_returnflag, l_linestatus,
        |  CAST(GROUPING(l_returnflag) AS INTEGER) AS g_rf,
        |  CAST(GROUPING(l_linestatus) AS INTEGER) AS g_ls,
        |  CAST(GROUPING_ID(l_returnflag, l_linestatus) AS INTEGER) AS gid,
        |  count(*) AS n
        |FROM lineitem
        |GROUP BY ROLLUP (l_returnflag, l_linestatus)
        |ORDER BY gid, l_returnflag, l_linestatus""".stripMargin,
    "q14_promo_revenue" ->
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
        |FROM x""".stripMargin,
    "layout_bucketed_join" ->
      """SELECT c.c_custkey, c.c_mktsegment, count(*) AS n_orders,
        |  CAST(sum(CAST(round(o.o_totalprice * 100) AS BIGINT)) AS BIGINT)
        |    / 100.0 AS spend
        |FROM customer c JOIN orders o ON c.c_custkey = o.o_custkey
        |GROUP BY c.c_custkey, c.c_mktsegment
        |ORDER BY c.c_custkey""".stripMargin,
    // Bloom pre-filtering must be invisible in the result: the oracle
    // is the plain fact-dim join (no false negatives; false positives
    // die in the exact join).
    "bloom_prefilter_join" ->
      """SELECT s.s_suppkey, s.s_name, count(*) AS n_lines,
        |  CAST(sum(CAST(round(l.l_extendedprice * (1 - l.l_discount)
        |    * 1e6) AS BIGINT)) AS BIGINT) AS revenue_micros
        |FROM lineitem l JOIN supplier s ON l.l_suppkey = s.s_suppkey
        |WHERE s.s_acctbal > 8000
        |GROUP BY s.s_suppkey, s.s_name
        |ORDER BY s.s_suppkey""".stripMargin,
    "asof_join" ->
      """SELECT p.event_id, p.user_id, p.ts, p.value, s.s_user, s.s_ts
        |FROM (SELECT event_id, user_id, ts, value FROM events
        |      WHERE event_type = 'purchase') p
        |ASOF JOIN (SELECT user_id AS s_user, ts AS s_ts FROM events
        |           WHERE event_type = 'signup') s
        |  ON p.user_id = s.s_user AND p.ts >= s.s_ts
        |ORDER BY p.event_id""".stripMargin,
    "join_range_pred" ->
      """SELECT p.event_id, count(s.s_ts) AS n_signups_1h
        |FROM (SELECT event_id, ts FROM events
        |      WHERE event_type = 'purchase' AND value > 95) p
        |LEFT JOIN (SELECT ts AS s_ts FROM events
        |           WHERE event_type = 'signup') s
        |  ON s.s_ts >= p.ts - INTERVAL 1 HOUR AND s.s_ts <= p.ts
        |GROUP BY p.event_id, p.ts
        |ORDER BY p.event_id""".stripMargin,
    "window_percentiles" ->
      """SELECT o_orderkey, o_orderstatus,
        |  percent_rank() OVER w AS pct_rank,
        |  cume_dist() OVER w AS cume,
        |  CAST(ntile(10) OVER w AS INTEGER) AS decile
        |FROM orders
        |WHERE o_orderkey <= 5000
        |WINDOW w AS (PARTITION BY o_orderstatus
        |             ORDER BY o_totalprice, o_orderkey)
        |ORDER BY o_orderkey""".stripMargin,
    "json_funcs" ->
      """SELECT event_id,
        |  CAST(props->>'$.k' AS INTEGER) AS k,
        |  CAST(props->>'$.k' AS INTEGER) AS k_struct
        |FROM events
        |WHERE CAST(props->>'$.k' AS INTEGER) > 50
        |ORDER BY event_id""".stripMargin,
    "map_funcs" ->
      """SELECT event_id,
        |  CAST(props->>'$.k' AS INTEGER) AS k,
        |  CAST(len(json_keys(props)) AS INTEGER) AS n_keys,
        |  list_contains(json_keys(props), 'k') AS has_k
        |FROM events WHERE event_id <= 5000
        |ORDER BY event_id""".stripMargin,
    "array_funcs" ->
      """SELECT vec_id,
        |  CAST(len(embedding) AS INTEGER) AS dim,
        |  embedding[1] AS first_dim,
        |  list_min(embedding) AS min_dim,
        |  list_max(embedding) AS max_dim,
        |  label
        |FROM embeddings ORDER BY vec_id""".stripMargin,
    // LLM-pipeline oracles (DuckDB dialect). The set-similarity dedup ops
    // are oracle-checked by re-deriving the MATH (exact shingle/ngram
    // Jaccard over raw strings) rather than the algorithm: the LSH band
    // structure is a candidate pruner whose planted-pair recall is ~1 on
    // this data, so the emitted pair set must equal the full
    // threshold-Jaccard pair set (verified bit-exact at sf0.001/0.01/0.1).
    // Ops whose output depends on engine-side HASHING are oracled by
    // re-deriving the hash itself: hyperplane plane components and IVF
    // centroids are exported as double literals (data-independent
    // constants / captured model) and the banding + probe + top-k math
    // recomputed in SQL. Only HLL sketch internals stay rows-only.
    // SimHash oracles: XXH64.hashUnsafeBytes(token, 42) is re-derived
    // byte-for-byte in HUGEINT SQL (xxh64TokenChainSql), the 64 bit
    // votes and signature re-packed, then banding / capping / Hamming
    // recomputed — the complete simhash pipeline independently in
    // DuckDB.
    // Sorted-neighborhood: identical block key, identical per-block
    // lead window, candidates verified with the string-gram Jaccard.
    "dedup_sorted_nbr" ->
      """WITH nt AS (
        |  SELECT doc_id, text,
        |    trim(regexp_replace(lower(text), '\s+', ' ', 'g')) AS k
        |  FROM documents),
        |bl AS (SELECT doc_id, text, k, substr(k, 1, 4) AS block FROM nt),
        |nbr AS (
        |  SELECT doc_id,
        |    lead(doc_id, 1) OVER w AS n1,
        |    lead(doc_id, 2) OVER w AS n2,
        |    lead(doc_id, 3) OVER w AS n3
        |  FROM bl
        |  WINDOW w AS (PARTITION BY block ORDER BY k, doc_id)),
        |cand AS (
        |  SELECT DISTINCT least(doc_id, nb) AS id_a,
        |    greatest(doc_id, nb) AS id_b
        |  FROM (SELECT doc_id, unnest([n1, n2, n3]) AS nb FROM nbr)
        |  WHERE nb IS NOT NULL),
        |gr AS (
        |  SELECT DISTINCT doc_id, g FROM (
        |    SELECT doc_id, unnest(CASE WHEN length(k) >= 8
        |      THEN list_transform(generate_series(1, length(k) - 7),
        |                          i -> substr(k, i, 8))
        |      ELSE [k] END) AS g
        |    FROM nt) u),
        |sizes AS (SELECT doc_id, count(*) AS n FROM gr GROUP BY doc_id),
        |common AS (
        |  SELECT c.id_a, c.id_b, count(*) AS n_common
        |  FROM cand c
        |  JOIN gr ga ON ga.doc_id = c.id_a
        |  JOIN gr gb ON gb.doc_id = c.id_b AND gb.g = ga.g
        |  GROUP BY 1, 2)
        |SELECT id_a, id_b FROM common
        |JOIN sizes na ON na.doc_id = id_a
        |JOIN sizes nb ON nb.doc_id = id_b
        |WHERE CAST(n_common AS DOUBLE)
        |  / CAST(na.n + nb.n - n_common AS DOUBLE) >= 0.7
        |ORDER BY id_a, id_b""".stripMargin,
    // Strict-equivalence oracle for the Hamming rewrite: the NAIVE
    // full pairwise join — the banded replan must return exactly it.
    "join_hamming_threshold" ->
      s"""WITH toks AS (
         |  SELECT doc_id, unnest(list_filter(
         |    string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')),
         |      ' '),
         |    t -> strlen(t) > 0)) AS w
         |  FROM documents),
         |$simhashSigSql
         |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
         |  CAST(bit_count(xor(a.sim_sig, b.sim_sig)) AS INTEGER)
         |    AS hamming
         |FROM sig a JOIN sig b ON a.doc_id < b.doc_id
         |WHERE bit_count(xor(a.sim_sig, b.sim_sig)) <= 3
         |ORDER BY id_a, id_b""".stripMargin,
    "dedup_simhash" ->
      s"""WITH toks AS (
         |  SELECT doc_id, unnest(list_filter(
         |    string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')),
         |      ' '),
         |    t -> strlen(t) > 0)) AS w
         |  FROM documents),
         |$simhashSigSql,
         |bands AS (SELECT * FROM (VALUES
         |    (0, 1::HUGEINT), (1, 256::HUGEINT), (2, 65536::HUGEINT),
         |    (3, 16777216::HUGEINT), (4, 4294967296::HUGEINT),
         |    (5, 1099511627776::HUGEINT), (6, 281474976710656::HUGEINT),
         |    (7, 72057594037927936::HUGEINT)) t(band, dv)),
         |sigu AS (SELECT doc_id, sim_sig,
         |    CASE WHEN sim_sig < 0 THEN sim_sig::HUGEINT + $xxhM
         |         ELSE sim_sig::HUGEINT END AS s FROM sig),
         |banded AS (SELECT doc_id, sim_sig, band, (s // dv) % 256 AS bkey
         |    FROM sigu, bands),
         |capped AS (SELECT * FROM (
         |    SELECT doc_id, sim_sig, band, bkey, row_number() OVER (
         |      PARTITION BY band, bkey ORDER BY doc_id) AS rn FROM banded)
         |    WHERE rn <= 500),
         |pairs AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
         |    CAST(bit_count(xor(a.sim_sig, b.sim_sig)) AS INTEGER)
         |      AS hamming
         |  FROM capped a JOIN capped b
         |    ON a.band = b.band AND a.bkey = b.bkey
         |      AND a.doc_id < b.doc_id)
         |SELECT id_a, id_b, hamming FROM pairs
         |WHERE hamming <= 5 ORDER BY id_a, id_b""".stripMargin,
    "sql_custom_funcs" ->
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
         |ORDER BY d.doc_id""".stripMargin,
    // Hard-negative mining: the same ranking CTE to rank 12, the
    // identical CASE labeling (positive cut, dup exclusion, negative
    // band) — roles are a pure function of already-bit-equal scores.
    "sim_hard_negatives" ->
      s"""$bruteForceScoreCtes
        |$rankCte
        |SELECT query_id, neighbor_id, cosine, rank,
        |  CASE WHEN rank <= 4 THEN 'positive'
        |       WHEN cosine >= 0.95 THEN 'dup_skip'
        |       ELSE 'hard_negative' END AS role
        |FROM r WHERE rank <= 12 ORDER BY query_id, rank""".stripMargin,
    "sim_topk_bruteforce" ->
      s"""$bruteForceScoreCtes
        |$top10Sql""".stripMargin,
    // LSH ANN: the 16-bit hyperplane signature is re-derived bit-exactly
    // (plane literals from VectorFunctions.hyperplaneComponent), then the
    // 8-band × 2-bit banding, bucket join, cosine and top-k recomputed.
    "sim_topk_lsh" -> {
      val sig = hyperplaneSigSql("ed", 16, 64)
      s"""WITH base AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS ed
         |              FROM embeddings),
         |sg AS (SELECT vec_id, ed, $sig AS sig FROM base),
         |bands AS (SELECT unnest(generate_series(0, 7)) AS band),
         |cb AS (SELECT vec_id AS neighbor_id, ed AS ce, band,
         |         (sig >> (band * 2)) & 3 AS bkey FROM sg, bands),
         |qb AS (SELECT vec_id AS query_id, ed AS qe, band,
         |         (sig >> (band * 2)) & 3 AS bkey FROM sg, bands
         |       WHERE vec_id % 50 = 0 AND vec_id < 2000),
         |s AS (SELECT DISTINCT query_id, neighbor_id,
         |        ${cosineSql("qe", "ce")} AS cosine
         |      FROM cb JOIN qb ON cb.band = qb.band AND cb.bkey = qb.bkey
         |        AND neighbor_id <> query_id),
         |$top10Sql""".stripMargin
    },
    // Declarative cosine-threshold join: the oracle re-derives the
    // BANDED semantics the opt-in optimizer rewrite plans — signature,
    // 8 × 2-bit band collision, canonical (smallest) shared band for
    // exactly-once emission, residual cosine ≥ t filter.
    "join_cosine_threshold" -> {
      val sig = hyperplaneSigSql("ed", 16, 64)
      s"""WITH base AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS ed
         |              FROM embeddings),
         |sg AS (SELECT vec_id, ed, $sig AS sig FROM base),
         |bands AS (SELECT unnest(generate_series(0, 7)) AS band),
         |bb AS (SELECT vec_id, ed, sig, band,
         |         (sig >> (band * 2)) & 3 AS bkey FROM sg, bands),
         |p AS (SELECT a.vec_id AS id_a, b.vec_id AS id_b,
         |        ${cosineSql("a.ed", "b.ed")} AS cosine
         |      FROM bb a JOIN bb b ON a.band = b.band AND a.bkey = b.bkey
         |        AND a.vec_id < b.vec_id
         |        AND (a.band = 0 OR len(list_filter(range(0, a.band),
         |          x -> ((a.sig >> (x * 2)) & 3)
         |             = ((b.sig >> (x * 2)) & 3))) = 0))
         |SELECT id_a, id_b, cosine FROM p
         |WHERE cosine >= 0.4 ORDER BY id_a, id_b""".stripMargin
    },
    // Embedding near-dup: same plane re-derivation, 8-band × 8-bit
    // banding with the keep-smallest bucket cap replayed, nearest
    // neighbor by (cosine DESC, nn_id) within buckets.
    "dedup_embedding" -> embDedupOracleSql,
    // The streaming twin converges to the same best-neighbor report —
    // the oracle IS the batch SQL (see qStreamEmbeddingDedup).
    "stream_embedding_dedup" -> embDedupOracleSql,
    "dedup_minhash_lsh" -> minhashPairsOracle,
    // Epoch merge: the same exact pair set restricted to pairs with at
    // least one increment member.
    "dedup_minhash_increment" ->
      (minhashPairsOracle.replace("WHERE jaccard >= 0.8",
        "WHERE jaccard >= 0.8 AND (id_a % 5 = 0 OR id_b % 5 = 0)")),
    // the persisted-index merge must converge to the SAME pair set as
    // the re-derive-everything increment — identical oracle
    "dedup_minhash_index_merge" ->
      (minhashPairsOracle.replace("WHERE jaccard >= 0.8",
        "WHERE jaccard >= 0.8 AND (id_a % 5 = 0 OR id_b % 5 = 0)")),
    // two-epoch loop (build → append → merge): epoch-2-touching pairs
    // must still equal the from-scratch set — the appended index is
    // indistinguishable from a fresh full one
    "dedup_minhash_epoch_append" ->
      (minhashPairsOracle.replace("WHERE jaccard >= 0.8",
        "WHERE jaccard >= 0.8 AND (id_a % 5 = 0 OR id_b % 5 = 0)")),
    // The incremental (streaming) twin must converge to the same pair
    // set as the batch operator — the oracle IS the batch pair SQL.
    "stream_minhash_pairs" -> minhashPairsOracle,
    // Decontamination: the oracle re-derives the 5-gram sets exactly
    // (same shingle CTE shape as the minhash oracles), intersects with
    // the eval side's distinct grams, and left-joins counts back to the
    // training corpus.
    "decontam_ngram" -> decontamOracle,
    // Multi-set screening: the SHARED gram CTE (decontamGramCtes),
    // three tagged eval sides unioned, one join, per-(doc, set)
    // counts — delta rows only.
    "decontam_multi" ->
      s"""WITH $decontamGramCtes,
        |ev AS (
        |  SELECT DISTINCT 'eval_a' AS eval_set, g FROM sh
        |  WHERE doc_id % 17 = 0 AND doc_id < 100000
        |  UNION
        |  SELECT DISTINCT 'eval_b', g FROM sh
        |  WHERE doc_id % 19 = 0 AND doc_id < 100000
        |  UNION
        |  SELECT DISTINCT 'eval_c', g FROM sh
        |  WHERE doc_id % 23 = 0 AND doc_id < 100000)
        |SELECT sh.doc_id, ev.eval_set,
        |  CAST(count(*) AS BIGINT) AS n_hits
        |FROM sh JOIN ev USING (g)
        |WHERE sh.doc_id % 17 <> 0 AND sh.doc_id % 19 <> 0
        |  AND sh.doc_id % 23 <> 0
        |GROUP BY sh.doc_id, ev.eval_set
        |ORDER BY sh.doc_id, ev.eval_set""".stripMargin,
    // The zero-shuffle broadcast-expression regime and the stateless
    // streaming twin must both equal the join-based operator
    // row-for-row — one oracle for all three.
    "decontam_ngram_bc" -> decontamOracle,
    "stream_decontam" -> decontamOracle,
    "dedup_minhash_decisions" ->
      """WITH toks AS (
        |  SELECT doc_id, string_split(trim(regexp_replace(lower(text),
        |    '\s+', ' ', 'g')), ' ') AS w FROM documents),
        |sh AS (
        |  SELECT DISTINCT doc_id, g FROM (
        |    SELECT doc_id, unnest(CASE WHEN len(w) >= 3
        |      THEN list_transform(generate_series(1, len(w) - 2),
        |                          i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])
        |      ELSE [array_to_string(w, ' ')] END) AS g
        |    FROM toks) u),
        |sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
        |common AS (
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_common
        |  FROM sh a JOIN sh b ON a.g = b.g AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2),
        |p AS (
        |  SELECT id_a, id_b FROM common
        |  JOIN sizes na ON na.doc_id = id_a
        |  JOIN sizes nb ON nb.doc_id = id_b
        |  WHERE CAST(n_common AS DOUBLE)
        |    / CAST(na.n + nb.n - n_common AS DOUBLE) >= 0.8),
        |edges AS (SELECT id_a AS doc_id, id_b AS nb FROM p
        |          UNION ALL SELECT id_b, id_a FROM p),
        |rep0 AS (SELECT doc_id, min(nb) AS min_nb FROM edges GROUP BY doc_id),
        |r AS (SELECT d.doc_id,
        |        least(d.doc_id, coalesce(rep0.min_nb, d.doc_id)) AS rep_id
        |      FROM documents d LEFT JOIN rep0 ON d.doc_id = rep0.doc_id)
        |SELECT doc_id, doc_id = rep_id AS keep,
        |  CASE WHEN doc_id <> rep_id THEN rep_id END AS dup_of
        |FROM r ORDER BY doc_id""".stripMargin,
    // Transitive closure (connected components): the recursive CTE
    // computes full reachability over the exact-Jaccard pair graph, so
    // every doc maps to the MINIMUM id in its component — what the
    // iterated min-label propagation must converge to.
    "dedup_cc_decisions" ->
      """WITH RECURSIVE toks AS (
        |  SELECT doc_id, string_split(trim(regexp_replace(lower(text),
        |    '\s+', ' ', 'g')), ' ') AS w FROM documents),
        |sh AS (
        |  SELECT DISTINCT doc_id, g FROM (
        |    SELECT doc_id, unnest(CASE WHEN len(w) >= 3
        |      THEN list_transform(generate_series(1, len(w) - 2),
        |                          i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])
        |      ELSE [array_to_string(w, ' ')] END) AS g
        |    FROM toks) u),
        |sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
        |common AS (
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_common
        |  FROM sh a JOIN sh b ON a.g = b.g AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2),
        |p AS (
        |  SELECT id_a, id_b FROM common
        |  JOIN sizes na ON na.doc_id = id_a
        |  JOIN sizes nb ON nb.doc_id = id_b
        |  WHERE CAST(n_common AS DOUBLE)
        |    / CAST(na.n + nb.n - n_common AS DOUBLE) >= 0.8),
        |edges AS (SELECT id_a AS src, id_b AS dst FROM p
        |          UNION SELECT id_b, id_a FROM p),
        |reach AS (
        |  SELECT src, dst FROM edges
        |  UNION
        |  SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src),
        |comp AS (SELECT d.doc_id,
        |    least(d.doc_id, coalesce(min(r.dst), d.doc_id)) AS rep
        |  FROM documents d LEFT JOIN reach r ON r.src = d.doc_id
        |  GROUP BY d.doc_id)
        |SELECT doc_id, doc_id = rep AS keep,
        |  CASE WHEN doc_id <> rep THEN rep END AS dup_of
        |FROM comp ORDER BY doc_id""".stripMargin,
    // Heavy hitters: the oracle is the NAIVE full group-count top-k —
    // the sketch pipeline must reproduce it exactly.
    "text_heavy_hitters" ->
      """WITH t AS (
        |  SELECT unnest(string_split(trim(regexp_replace(lower(text),
        |    '\s+', ' ', 'g')), ' ')) AS tok FROM documents)
        |SELECT tok, count(*) AS n FROM t
        |GROUP BY tok ORDER BY n DESC, tok LIMIT 20""".stripMargin,
    // The streaming MG-candidates + exact-rescore pipeline must land on
    // the identical exact top-k — same naive oracle as the batch twin.
    "stream_heavy_hitters" ->
      """WITH t AS (
        |  SELECT unnest(string_split(trim(regexp_replace(lower(text),
        |    '\s+', ' ', 'g')), ' ')) AS tok FROM documents)
        |SELECT tok, count(*) AS n FROM t
        |GROUP BY tok ORDER BY n DESC, tok LIMIT 20""".stripMargin,
    "dedup_ngram_jaccard" -> ngramPairsOracle,
    // The declarative text_jaccard(a,b,8) >= 0.7 join — replanned by
    // RewriteJaccardThresholdJoin into the prefix-filtered equi-join —
    // must return EXACTLY the pipeline's pair set (the rewrite is a
    // strict equivalence, so they share one oracle).
    "join_jaccard_threshold" -> ngramPairsOracle,
    "dedup_ngram_decisions" ->
      """WITH nt AS (
        |  SELECT doc_id, trim(regexp_replace(lower(text), '\s+', ' ', 'g'))
        |    AS t FROM documents),
        |gr AS (
        |  SELECT DISTINCT doc_id, g FROM (
        |    SELECT doc_id, unnest(CASE WHEN length(t) >= 8
        |      THEN list_transform(generate_series(1, length(t) - 7),
        |                          i -> substr(t, i, 8))
        |      ELSE [t] END) AS g
        |    FROM nt) u),
        |sizes AS (SELECT doc_id, count(*) AS n FROM gr GROUP BY doc_id),
        |common AS (
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_common
        |  FROM gr a JOIN gr b ON a.g = b.g AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2),
        |p AS (
        |  SELECT id_a, id_b FROM common
        |  JOIN sizes na ON na.doc_id = id_a
        |  JOIN sizes nb ON nb.doc_id = id_b
        |  WHERE CAST(n_common AS DOUBLE)
        |    / CAST(na.n + nb.n - n_common AS DOUBLE) >= 0.7),
        |edges AS (SELECT id_a AS doc_id, id_b AS nb FROM p
        |          UNION ALL SELECT id_b, id_a FROM p),
        |rep0 AS (SELECT doc_id, min(nb) AS min_nb FROM edges GROUP BY doc_id),
        |r AS (SELECT d.doc_id,
        |        least(d.doc_id, coalesce(rep0.min_nb, d.doc_id)) AS rep_id
        |      FROM documents d LEFT JOIN rep0 ON d.doc_id = rep0.doc_id)
        |SELECT doc_id, doc_id = rep_id AS keep,
        |  CASE WHEN doc_id <> rep_id THEN rep_id END AS dup_of
        |FROM r ORDER BY doc_id""".stripMargin,
    "text_quality" ->
      s"""WITH base AS (
        |  SELECT doc_id, lang, text,
        |    trim(regexp_replace(lower(text), '\\s+', ' ', 'g')) AS nt
        |  FROM documents),
        |tk AS (
        |  SELECT doc_id, lang, text,
        |    list_filter(string_split(nt, ' '), x -> len(x) > 0) AS toks
        |  FROM base),
        |tk2 AS (
        |  SELECT *, list_distinct(toks) AS toksd,
        |    length(text) AS n_chars,
        |    length(regexp_replace(lower(text), '[^a-z0-9]', '', 'g'))
        |      AS n_alnum,
        |    length(regexp_replace(lower(text), '[^0-9]', '', 'g'))
        |      AS n_digit,
        |    length(text) - length(regexp_replace(text, '\\s', '', 'g'))
        |      AS n_ws
        |  FROM tk),
        |scored AS (
        |  SELECT doc_id, lang, toks,
        |    $langHitsSql,
        |    CASE WHEN len(toks) > 0 THEN
        |      CAST(len(list_filter(toks, t -> list_contains($stopwordsSql, t)))
        |        AS DOUBLE) / CAST(len(toks) AS DOUBLE)
        |      ELSE 0.0 END AS stopword_ratio,
        |    CAST(len(regexp_extract_all(lower(text),
        |      '[a-z0-9]+|[^a-z0-9\\s]+')) AS INTEGER) AS n_subwords,
        |    CASE WHEN n_chars > 0 THEN CAST(n_chars - n_alnum - n_ws
        |      AS DOUBLE) / CAST(n_chars AS DOUBLE) ELSE 0.0 END
        |      AS punct_ratio,
        |    CASE WHEN n_chars > 0 THEN CAST(n_digit AS DOUBLE)
        |      / CAST(n_chars AS DOUBLE) ELSE 0.0 END AS digit_ratio
        |  FROM tk2)
        |SELECT doc_id, lang AS lang_label,
        |  $langPredSql AS lang_pred,
        |  stopword_ratio, n_subwords,
        |  least(CAST(len(toks) AS DOUBLE) / 100.0, 1.0) * 0.3
        |    + greatest(0.0, 1.0 - punct_ratio * 5) * 0.3
        |    + greatest(0.0, 1.0 - digit_ratio * 5) * 0.2
        |    + least(stopword_ratio * 3, 1.0) * 0.2 AS quality
        |FROM scored ORDER BY doc_id""".stripMargin,
    "pipeline_clean_corpus" ->
      s"""WITH fp AS (
        |  SELECT doc_id,
        |    md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS f
        |  FROM documents),
        |keep AS (
        |  SELECT doc_id FROM (
        |    SELECT doc_id, min(doc_id) OVER (PARTITION BY f) AS rep
        |    FROM fp) x
        |  WHERE doc_id = rep),
        |base AS (
        |  SELECT d.doc_id, d.text,
        |    trim(regexp_replace(lower(d.text), '\\s+', ' ', 'g')) AS nt
        |  FROM documents d JOIN keep k ON d.doc_id = k.doc_id),
        |tk AS (
        |  SELECT doc_id, text,
        |    list_filter(string_split(nt, ' '), x -> len(x) > 0) AS toks
        |  FROM base),
        |tk2 AS (
        |  SELECT *, list_distinct(toks) AS toksd,
        |    length(text) AS n_chars,
        |    length(regexp_replace(lower(text), '[^a-z0-9]', '', 'g'))
        |      AS n_alnum,
        |    length(regexp_replace(lower(text), '[^0-9]', '', 'g'))
        |      AS n_digit,
        |    length(text) - length(regexp_replace(text, '\\s', '', 'g'))
        |      AS n_ws
        |  FROM tk),
        |scored AS (
        |  SELECT doc_id, toks,
        |    $langHitsSql,
        |    CASE WHEN len(toks) > 0 THEN
        |      CAST(len(list_filter(toks, t -> list_contains($stopwordsSql, t)))
        |        AS DOUBLE) / CAST(len(toks) AS DOUBLE)
        |      ELSE 0.0 END AS stopword_ratio,
        |    CASE WHEN n_chars > 0 THEN CAST(n_chars - n_alnum - n_ws
        |      AS DOUBLE) / CAST(n_chars AS DOUBLE) ELSE 0.0 END
        |      AS punct_ratio,
        |    CASE WHEN n_chars > 0 THEN CAST(n_digit AS DOUBLE)
        |      / CAST(n_chars AS DOUBLE) ELSE 0.0 END AS digit_ratio
        |  FROM tk2),
        |final AS (
        |  SELECT doc_id, $langPredSql AS lang_pred, len(toks) AS n_tokens,
        |    least(CAST(len(toks) AS DOUBLE) / 100.0, 1.0) * 0.3
        |      + greatest(0.0, 1.0 - punct_ratio * 5) * 0.3
        |      + greatest(0.0, 1.0 - digit_ratio * 5) * 0.2
        |      + least(stopword_ratio * 3, 1.0) * 0.2 AS quality
        |  FROM scored)
        |SELECT lang_pred, count(*) AS n_docs,
        |  CAST(sum(n_tokens) AS BIGINT) AS total_tokens
        |FROM final WHERE quality > 0.2
        |GROUP BY lang_pred ORDER BY lang_pred""".stripMargin,
    "text_stats" ->
      """SELECT doc_id,
        |  CASE WHEN trim(text) = '' THEN 0 ELSE
        |    CAST(len(string_split(trim(regexp_replace(lower(text),
        |      '\s+', ' ', 'g')), ' ')) AS INTEGER) END AS n_tokens,
        |  CASE WHEN trim(text) = '' THEN 0.0 ELSE
        |    CAST(length(replace(trim(regexp_replace(lower(text), '\s+',
        |      ' ', 'g')), ' ', '')) AS DOUBLE)
        |      / len(string_split(trim(regexp_replace(lower(text), '\s+',
        |        ' ', 'g')), ' ')) END AS avg_word_len,
        |  CASE WHEN length(text) = 0 THEN 0.0 ELSE
        |    CAST(length(regexp_replace(lower(text), '[a-z0-9\s]', '', 'g'))
        |      AS DOUBLE) / length(text) END AS punct_ratio,
        |  md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS fp
        |FROM documents ORDER BY doc_id""".stripMargin,
    // Corpus health report: exact-dup fingerprints and the
    // decontamination hit set re-derived (same CTEs as dedup_exact /
    // decontam_ngram), aggregated per source.
    "corpus_report" ->
      """WITH nrm AS (
        |  SELECT doc_id, source,
        |    trim(regexp_replace(lower(text), '\s+', ' ', 'g')) AS t
        |  FROM documents),
        |base AS (
        |  SELECT doc_id, source, md5(t) AS fp,
        |    CASE WHEN t = '' THEN 0
        |      ELSE CAST(len(string_split(t, ' ')) AS BIGINT) END AS nt
        |  FROM nrm),
        |g AS (SELECT doc_id, min(doc_id) OVER (PARTITION BY fp) AS rep
        |      FROM base),
        |dups AS (SELECT doc_id FROM g WHERE doc_id <> rep),
        |toks AS (SELECT doc_id, string_split(t, ' ') AS w FROM nrm),
        |sh AS (
        |  SELECT DISTINCT doc_id, gg FROM (
        |    SELECT doc_id, unnest(CASE WHEN len(w) >= 5
        |      THEN list_transform(generate_series(1, len(w) - 4),
        |        i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2] || ' '
        |             || w[i+3] || ' ' || w[i+4])
        |      ELSE [array_to_string(w, ' ')] END) AS gg
        |    FROM toks) u),
        |ev AS (SELECT DISTINCT gg FROM sh
        |       WHERE doc_id % 17 = 0 AND doc_id < 100000),
        |contam AS (
        |  SELECT DISTINCT doc_id FROM sh JOIN ev USING (gg)
        |  WHERE doc_id % 17 <> 0)
        |SELECT b.source,
        |  count(*) AS n_docs,
        |  CAST(sum(b.nt) AS BIGINT) AS total_tokens,
        |  CAST(sum(CASE WHEN d2.doc_id IS NOT NULL THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_dups,
        |  CAST(sum(CASE WHEN c.doc_id IS NOT NULL THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_contaminated
        |FROM base b
        |LEFT JOIN dups d2 ON b.doc_id = d2.doc_id
        |LEFT JOIN contam c ON b.doc_id = c.doc_id
        |GROUP BY b.source ORDER BY b.source""".stripMargin,
    // CSV/JSON round-trip: the oracle reads the ORIGINAL parquet
    // relations — format fidelity is exactly what's under test.
    "source_csv_json" ->
      """SELECT n.n_nationkey, n.n_name, r.r_name
        |FROM nation n JOIN region r ON n.n_regionkey = r.r_regionkey
        |ORDER BY n.n_nationkey""".stripMargin,
    "source_orc" ->
      """SELECT s.s_suppkey, s.s_name, n.n_name, s.s_acctbal
        |FROM supplier s JOIN nation n ON s.s_nationkey = n.n_nationkey
        |ORDER BY s.s_suppkey""".stripMargin,
    // binaryFile round trip: byte length and md5 of each document's
    // UTF-8 bytes — DuckDB's md5(VARCHAR) digests the same UTF-8
    // encoding Spark's md5(binary) reads back from the file, so one
    // corrupted byte anywhere in write → list → read fails the hash.
    "source_binaryfile" ->
      """SELECT doc_id,
        |  CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
        |  md5(text) AS content_md5
        |FROM documents ORDER BY doc_id""".stripMargin,
    // Quarantine accounting re-derived from the corruption rule: rows
    // with doc_id % 7 = 0 were type-poisoned, everything else parses.
    "source_csv_corrupt" ->
      """SELECT count(*) AS n_rows,
        |  CAST(sum(CASE WHEN doc_id % 7 <> 0 THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_good,
        |  CAST(sum(CASE WHEN doc_id % 7 = 0 THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_corrupt,
        |  CAST(sum(CASE WHEN doc_id % 7 <> 0 THEN doc_id ELSE 0 END)
        |    AS BIGINT) AS sum_good_ids,
        |  CAST(sum(CASE WHEN doc_id % 7 <> 0 THEN n_chars ELSE 0 END)
        |    AS BIGINT) AS sum_good_chars
        |FROM documents""".stripMargin,
    // Compaction must be invisible to readers: oracle = the original.
    "layout_compact" ->
      """SELECT o_orderkey, o_custkey, o_totalprice FROM orders
        |ORDER BY o_orderkey""".stripMargin,
    // Partition layout must be invisible to results — the oracle
    // filters the ORIGINAL table by the same derived year.
    "layout_partitioned" ->
      """SELECT o_orderpriority, count(*) AS n_orders,
        |  CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
        |    AS total_cents
        |FROM orders WHERE year(o_orderdate) = 1995
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,
    // Chunking: the same window arithmetic in exact integers; list
    // slices are end-clamped in both engines.
    "text_chunks" ->
      """WITH nt AS (
        |  SELECT doc_id, trim(regexp_replace(lower(text), '\s+', ' ',
        |    'g')) AS t FROM documents),
        |w AS (SELECT doc_id, string_split(t, ' ') AS w,
        |        len(string_split(t, ' ')) AS n
        |      FROM nt WHERE t <> ''),
        |c AS (SELECT doc_id, w,
        |    CASE WHEN n <= 16 THEN 1
        |      ELSE (n - 16 + 12 - 1) // 12 + 1 END AS nc FROM w),
        |x AS (SELECT doc_id, w,
        |    unnest(generate_series(0, nc - 1)) AS chunk_id FROM c)
        |SELECT doc_id, CAST(chunk_id AS INTEGER) AS chunk_id,
        |  array_to_string(w[chunk_id*12+1 : chunk_id*12+16], ' ')
        |    AS chunk,
        |  CAST(len(w[chunk_id*12+1 : chunk_id*12+16]) AS INTEGER)
        |    AS n_chunk_tokens
        |FROM x ORDER BY doc_id, chunk_id""".stripMargin,
    // Chunk dedup: same chunk CTE, grouped by content, >= 2 distinct
    // docs.
    "dedup_chunks" ->
      """WITH nt AS (
        |  SELECT doc_id, trim(regexp_replace(lower(text), '\s+', ' ',
        |    'g')) AS t FROM documents),
        |w AS (SELECT doc_id, string_split(t, ' ') AS w,
        |        len(string_split(t, ' ')) AS n
        |      FROM nt WHERE t <> ''),
        |c AS (SELECT doc_id, w,
        |    CASE WHEN n <= 16 THEN 1
        |      ELSE (n - 16 + 12 - 1) // 12 + 1 END AS nc FROM w),
        |x AS (SELECT doc_id, w,
        |    unnest(generate_series(0, nc - 1)) AS chunk_id FROM c),
        |ch AS (SELECT doc_id,
        |    array_to_string(w[chunk_id*12+1 : chunk_id*12+16], ' ')
        |      AS chunk FROM x)
        |SELECT chunk,
        |  CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
        |  CAST(count(*) AS BIGINT) AS n_occurrences,
        |  min(doc_id) AS first_doc
        |FROM ch GROUP BY chunk HAVING count(DISTINCT doc_id) >= 2
        |ORDER BY chunk""".stripMargin,
    // Collocations: unigram/bigram instance counts re-derived from the
    // normalized token stream, lift evaluated with the identical
    // parenthesization over exact-integer counts.
    "text_collocations" ->
      """WITH nt AS (
        |  SELECT trim(regexp_replace(lower(text), '\s+', ' ', 'g'))
        |    AS t FROM documents),
        |tok AS (SELECT unnest(string_split(t, ' ')) AS tok
        |        FROM nt WHERE t <> ''),
        |uni AS (SELECT tok, count(*) AS c FROM tok GROUP BY tok),
        |tot AS (SELECT CAST(sum(c) AS BIGINT) AS n_tokens FROM uni),
        |big AS (
        |  SELECT unnest(CASE WHEN len(string_split(t, ' ')) < 2
        |    THEN []::VARCHAR[]
        |    ELSE list_transform(
        |      generate_series(1, len(string_split(t, ' ')) - 1),
        |      i -> string_split(t, ' ')[i] || ' '
        |        || string_split(t, ' ')[i+1]) END) AS bigram
        |  FROM nt WHERE t <> ''),
        |bc AS (SELECT bigram, count(*) AS c_ab FROM big
        |       GROUP BY bigram HAVING count(*) >= 5),
        |mt AS (SELECT CAST(count(*) AS BIGINT) AS m_bigrams FROM big),
        |j AS (SELECT b.bigram, b.c_ab,
        |    CAST(round(((CAST(b.c_ab AS DOUBLE)
        |        * CAST(n_tokens AS DOUBLE) * CAST(n_tokens AS DOUBLE))
        |      / (CAST(m_bigrams AS DOUBLE) * CAST(ua.c AS DOUBLE)
        |        * CAST(ub.c AS DOUBLE))) * 1000000.0) AS BIGINT)
        |      AS lift_micros
        |  FROM bc b
        |  JOIN uni ua ON ua.tok = string_split(b.bigram, ' ')[1]
        |  JOIN uni ub ON ub.tok = string_split(b.bigram, ' ')[2]
        |  CROSS JOIN tot CROSS JOIN mt)
        |SELECT bigram, CAST(c_ab AS BIGINT) AS c_ab, lift_micros
        |FROM j ORDER BY lift_micros DESC, bigram
        |LIMIT 20""".stripMargin,
    // HTML extraction: the identical page shell, the identical
    // alternation + tag-strip regexes (RE2-safe, no backreferences),
    // the shared normalize equivalence — so extracted text, round-trip
    // flag and link count all re-derive exactly.
    "text_html_extract" ->
      """WITH w AS (
        |  SELECT doc_id, text,
        |    '<html><head><title>t</title><style>p{}</style></head>'
        |    || '<body><nav><a href="/home">home</a>'
        |    || '<a href="/about">about</a></nav><p>' || text
        |    || '</p><footer>(c) corp <a href="/tos">tos</a>'
        |    || '</footer></body></html>' AS page
        |  FROM documents),
        |b AS (
        |  SELECT doc_id, text, page,
        |    regexp_replace(page,
        |      '(?s)<nav>.*?</nav>|<footer>.*?</footer>'
        |      || '|<style>.*?</style>|<head>.*?</head>', ' ', 'g')
        |      AS nb
        |  FROM w),
        |e AS (
        |  SELECT doc_id, text, page,
        |    trim(regexp_replace(lower(
        |      regexp_replace(nb, '<[^>]+>', ' ', 'g')),
        |      '\s+', ' ', 'g')) AS extracted
        |  FROM b)
        |SELECT doc_id, md5(extracted) AS extracted_md5,
        |  extracted IS NOT DISTINCT FROM
        |    trim(regexp_replace(lower(text), '\s+', ' ', 'g'))
        |    AS clean_roundtrip,
        |  CAST((length(page) - length(replace(page, '<a ', ''))) // 3
        |    AS INTEGER) AS link_count
        |FROM e ORDER BY doc_id""".stripMargin,
    // Bigram LM: counts, prefix sums, vocabulary and the add-one
    // smoothed per-bigram floor-micros all re-derived from the same
    // normalized token stream; integer `//` everywhere, so the hash
    // matches bit-for-bit including the per-doc mean.
    "text_lm_score" ->
      """WITH nt AS (
        |  SELECT doc_id, trim(regexp_replace(lower(text), '\s+', ' ',
        |    'g')) AS t FROM documents),
        |big AS (
        |  SELECT doc_id, unnest(CASE WHEN len(string_split(t, ' ')) < 2
        |    THEN []::VARCHAR[]
        |    ELSE list_transform(
        |      generate_series(1, len(string_split(t, ' ')) - 1),
        |      i -> string_split(t, ' ')[i] || ' '
        |        || string_split(t, ' ')[i+1]) END) AS bigram
        |  FROM nt WHERE t <> ''),
        |bc AS (SELECT bigram, count(*) AS c_ab FROM big GROUP BY bigram),
        |pf AS (SELECT string_split(bigram, ' ')[1] AS w1,
        |         sum(c_ab) AS c_a FROM bc GROUP BY 1),
        |vv AS (SELECT count(DISTINCT tok) AS v FROM
        |        (SELECT unnest(string_split(t, ' ')) AS tok
        |         FROM nt WHERE t <> '')),
        |sc AS (SELECT b.doc_id,
        |         (1000000 * (c.c_ab + 1)) // (p.c_a + vv.v) AS micros
        |       FROM big b JOIN bc c USING (bigram)
        |       JOIN pf p ON p.w1 = string_split(b.bigram, ' ')[1]
        |       CROSS JOIN vv),
        |pd AS (SELECT doc_id, CAST(sum(micros) AS BIGINT) AS sum_micros,
        |         CAST(count(*) AS BIGINT) AS n_bigrams
        |       FROM sc GROUP BY doc_id)
        |SELECT d.doc_id,
        |  CAST(coalesce(p.n_bigrams, 0) AS BIGINT) AS n_bigrams,
        |  CAST(coalesce(p.sum_micros, 0) AS BIGINT) AS sum_micros,
        |  CAST(coalesce(p.sum_micros // p.n_bigrams, 0) AS BIGINT)
        |    AS avg_micros
        |FROM documents d LEFT JOIN pd p USING (doc_id)
        |ORDER BY d.doc_id""".stripMargin,
    // BM25 (rational idf): the oracle rebuilds tf/df/dl/avgdl from the
    // same normalized token stream and evaluates the IDENTICALLY
    // parenthesized double expression — constants are printed from the
    // engine's own doubles (Double.toString round-trips), per-term
    // scores round to micros BEFORE the cross-term sum, so shuffle
    // order can't perturb a single bit.
    "search_bm25" -> bm25OracleSql,
    // the persisted-index path must be result-invisible: same oracle
    "search_bm25_indexed" -> bm25OracleSql,
    // build + epoch append must equal a fresh full build: same oracle
    "search_bm25_index_append" -> bm25OracleSql,
    // Hybrid RRF: both lists re-derived (bm25 chain + cosine ranking)
    // and the integer fusion recomputed — see hybridRrfOracleSql.
    "search_hybrid_rrf" -> hybridRrfOracleSql,
    // Repetition filters: token/bigram multiset statistics re-derived
    // from the same normalized token stream; every fraction is one
    // exact-integer division (IEEE-identical across engines).
    "text_repetition" ->
      """WITH nt AS (
        |  SELECT doc_id, trim(regexp_replace(lower(text), '\s+', ' ',
        |    'g')) AS t FROM documents),
        |tok AS (SELECT doc_id, unnest(string_split(t, ' ')) AS tok
        |        FROM nt WHERE t <> ''),
        |cnt AS (SELECT doc_id, tok, count(*) AS c FROM tok GROUP BY 1, 2),
        |agg AS (SELECT doc_id, CAST(sum(c) AS INTEGER) AS n_tokens,
        |        CAST(count(*) AS INTEGER) AS n_distinct,
        |        max(c) AS topc FROM cnt GROUP BY doc_id),
        |bi AS (SELECT doc_id,
        |    CASE WHEN t = '' OR len(string_split(t, ' ')) < 2 THEN 0
        |      ELSE len(string_split(t, ' ')) - 1 END AS n_bi,
        |    CASE WHEN t = '' OR len(string_split(t, ' ')) < 2 THEN 0
        |      ELSE len(list_distinct(list_transform(
        |        generate_series(1, len(string_split(t, ' ')) - 1),
        |        i -> string_split(t, ' ')[i] || ' '
        |          || string_split(t, ' ')[i+1]))) END AS n_bid
        |  FROM nt)
        |SELECT d.doc_id,
        |  coalesce(a.n_tokens, 0) AS n_tokens,
        |  CASE WHEN coalesce(a.n_tokens, 0) > 0
        |    THEN CAST(a.n_distinct AS DOUBLE) / a.n_tokens
        |    ELSE 0.0 END AS distinct_frac,
        |  CASE WHEN b.n_bi > 0
        |    THEN CAST(b.n_bi - b.n_bid AS DOUBLE) / b.n_bi
        |    ELSE 0.0 END AS dup_bigram_frac,
        |  CASE WHEN coalesce(a.n_tokens, 0) > 0
        |    THEN CAST(a.topc AS DOUBLE) / a.n_tokens
        |    ELSE 0.0 END AS top_token_frac
        |FROM documents d
        |LEFT JOIN agg a ON d.doc_id = a.doc_id
        |LEFT JOIN bi b ON d.doc_id = b.doc_id
        |ORDER BY d.doc_id""".stripMargin,
    // Corpus-level common-gram coverage: same 3-gram shingle CTE as
    // the dedup family, df >= 4 commonality, exact-integer coverage
    // fraction.
    "text_common_ngrams" ->
      """WITH toks AS (
        |  SELECT doc_id, string_split(trim(regexp_replace(lower(text),
        |    '\s+', ' ', 'g')), ' ') AS w FROM documents),
        |sh AS (
        |  SELECT DISTINCT doc_id, g FROM (
        |    SELECT doc_id, unnest(CASE WHEN len(w) >= 3
        |      THEN list_transform(generate_series(1, len(w) - 2),
        |                          i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])
        |      ELSE [array_to_string(w, ' ')] END) AS g
        |    FROM toks) u),
        |common AS (SELECT g FROM sh GROUP BY g HAVING count(*) >= 4),
        |hits AS (SELECT doc_id, count(*) AS n_common
        |         FROM sh JOIN common USING (g) GROUP BY doc_id),
        |per AS (SELECT doc_id, CAST(count(*) AS INTEGER) AS n_grams
        |        FROM sh GROUP BY doc_id)
        |SELECT p.doc_id, p.n_grams,
        |  CAST(coalesce(h.n_common, 0) AS BIGINT) AS n_common,
        |  CAST(coalesce(h.n_common, 0) AS DOUBLE) / p.n_grams
        |    AS common_frac,
        |  CAST(coalesce(h.n_common, 0) AS DOUBLE) / p.n_grams >= 0.5
        |    AS boilerplate
        |FROM per p LEFT JOIN hits h ON p.doc_id = h.doc_id
        |ORDER BY p.doc_id""".stripMargin,
    // PII scrub: the oracle re-plants the same deterministic PII
    // (pure integer functions of doc_id) and applies the IDENTICAL
    // lookaround-free patterns under RE2, in the same email → IP →
    // phone order.
    "pii_redact" ->
      """WITH inj AS (
        |  SELECT doc_id, text || ' contact user' || doc_id
        |    || '@example.com ip 10.' || (doc_id % 256) || '.0.'
        |    || (doc_id % 100) || ' call ' || (doc_id % 900 + 100)
        |    || '-555-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
        |    AS t FROM documents),
        |pat AS (
        |  SELECT doc_id, t,
        |    '[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z][a-z]+' AS pe,
        |    '([0-9]{1,3}\.){3}[0-9]{1,3}' AS pi,
        |    '[0-9]{3}-[0-9]{3}-[0-9]{4}' AS pp
        |  FROM inj)
        |SELECT doc_id,
        |  CAST(len(regexp_extract_all(t, pe)) AS INTEGER) AS n_email,
        |  CAST(len(regexp_extract_all(t, pi)) AS INTEGER) AS n_ip,
        |  CAST(len(regexp_extract_all(t, pp)) AS INTEGER) AS n_phone,
        |  regexp_replace(regexp_replace(regexp_replace(t,
        |    pe, '<EMAIL>', 'g'), pi, '<IP>', 'g'), pp, '<PHONE>', 'g')
        |    AS redacted
        |FROM pat ORDER BY doc_id""".stripMargin,
    // The IDENTICAL pattern string the engine compiles under Java
    // regex (TextFunctions.BpePretokenPattern), evaluated by RE2:
    // lookahead-free, explicit whitespace classes, ordered
    // alternation — both engines segment byte-for-byte identically.
    "text_tokens_bpe" ->
      """WITH tk AS (
        |  SELECT doc_id, regexp_extract_all(text,
        |    '''(?:s|t|re|ve|m|ll|d)| ?[A-Za-z]+| ?[0-9]+| ?[^A-Za-z0-9 \t\n\r]+|[ \t\n\r]+'
        |  ) AS toks FROM documents),
        |ct AS (
        |  SELECT doc_id, toks,
        |    list_filter(toks,
        |      x -> length(translate(x, E' \t\n\r', '')) > 0) AS content
        |  FROM tk)
        |SELECT doc_id,
        |  CAST(len(toks) AS INTEGER) AS n_pretok,
        |  CAST(len(content) AS INTEGER) AS n_content,
        |  CAST(len(list_distinct(content)) AS INTEGER) AS n_distinct,
        |  CAST(coalesce(list_sum(list_transform(content,
        |    x -> length(x))), 0) AS BIGINT) AS content_chars
        |FROM ct ORDER BY doc_id""".stripMargin,
    "dedup_exact" ->
      """WITH f AS (
        |  SELECT doc_id,
        |    md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS fp
        |  FROM documents),
        |g AS (
        |  SELECT doc_id, fp, min(doc_id) OVER (PARTITION BY fp) AS rep
        |  FROM f)
        |SELECT doc_id, fp, doc_id = rep AS keep,
        |  CASE WHEN doc_id <> rep THEN rep END AS dup_of
        |FROM g ORDER BY doc_id""".stripMargin,
    // Quality-weighted election: same classes as dedup_exact, but the
    // representative is first_value by (quality DESC, doc_id ASC) —
    // the oracle re-derives the score (shared replica), the class key
    // and the argmax from scratch.
    "dedup_quality_rep" ->
      s"""WITH q AS (
         |  $qualityScoredSql),
         |f AS (
         |  SELECT doc_id, quality,
         |    md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')))
         |      AS fp
         |  FROM q),
         |r AS (
         |  SELECT doc_id, fp, quality,
         |    first_value(doc_id) OVER (PARTITION BY fp
         |      ORDER BY quality DESC, doc_id ASC) AS rep
         |  FROM f)
         |SELECT doc_id, fp, quality, doc_id = rep AS keep,
         |  CASE WHEN doc_id <> rep THEN rep END AS dup_of
         |FROM r ORDER BY doc_id""".stripMargin,
    "sample_topk_stratum" ->
      """SELECT doc_id, lang, source FROM (
        |  SELECT doc_id, lang, source,
        |    row_number() OVER (PARTITION BY lang
        |      ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rn
        |  FROM documents) x
        |WHERE rn <= 20 ORDER BY lang, doc_id""".stripMargin,
    // Rebalance: the shared quality replica bands the corpus, the
    // shared XXH64-bucket replica decides keeps — thresholds are the
    // engine's exact frac·10000 bucket bounds (band 3 keeps all).
    "curation_quality_rebalance" ->
      s"""WITH ${xxhash64BucketSql("doc_id", "documents")},
         |q AS (
         |  $qualityScoredSql),
         |b AS (
         |  SELECT q.doc_id, q.quality, bk.bucket,
         |    (CASE WHEN quality >= 0.5 THEN 1 ELSE 0 END
         |     + CASE WHEN quality >= 0.65 THEN 1 ELSE 0 END
         |     + CASE WHEN quality >= 0.8 THEN 1 ELSE 0 END) AS band
         |  FROM q JOIN bk ON bk.k = q.doc_id)
         |SELECT doc_id, band, quality FROM b
         |WHERE quality IS NOT NULL
         |  AND ((band = 0 AND bucket < 1000)
         |   OR (band = 1 AND bucket < 3000)
         |   OR (band = 2 AND bucket < 6000)
         |   OR band = 3)
         |ORDER BY doc_id""".stripMargin,
    // Forget propagation: the oracle re-runs dedup from scratch on
    // the SURVIVING corpus — equality proves the decision-table-only
    // maintenance (no text rescan) re-elects identically.
    "dedup_forget" ->
      """WITH f AS (
        |  SELECT doc_id,
        |    md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS fp
        |  FROM documents WHERE doc_id % 11 <> 0),
        |g AS (
        |  SELECT doc_id, min(doc_id) OVER (PARTITION BY fp) AS rep
        |  FROM f)
        |SELECT doc_id, doc_id = rep AS keep,
        |  CASE WHEN doc_id <> rep THEN rep END AS dup_of
        |FROM g ORDER BY doc_id""".stripMargin,
    // The incremental exact-dedup twin must emit the batch decisions —
    // the oracle is the batch exact-dedup SQL without the fp column.
    "stream_dedup_exact" ->
      """WITH f AS (
        |  SELECT doc_id,
        |    md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS fp
        |  FROM documents),
        |g AS (
        |  SELECT doc_id, min(doc_id) OVER (PARTITION BY fp) AS rep
        |  FROM f)
        |SELECT doc_id, doc_id = rep AS keep,
        |  CASE WHEN doc_id <> rep THEN rep END AS dup_of
        |FROM g ORDER BY doc_id""".stripMargin,
    "stream_window_agg" ->
      """SELECT date_trunc('hour', ts) AS window_start, event_type,
        |  count(*) AS n_events,
        |  CAST(sum(CAST(round(value * 1e6) AS BIGINT)) AS BIGINT) / 1e6
        |    AS sum_value
        |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    // Real-container oracles: the engine encodes genuine BMP (24-bit,
    // 4-byte-aligned rows) and WAV (PCM-16) payloads whose geometry
    // derives from the utf-8 byte length of the text (Multimodal
    // .bmpDims/.wavShape), then decodes them by parsing the actual
    // headers. The oracle re-derives the same geometry and container
    // sizes in SQL — strlen() is DuckDB's BYTE length — so the check
    // covers the full encode → binary column → header-parse round trip.
    "multimodal_sizes" ->
      """SELECT CASE WHEN doc_id % 2 = 0 THEN 'image/bmp'
        |       ELSE 'audio/wav' END AS media_type,
        |  count(*) AS n_media,
        |  CAST(sum(CASE WHEN doc_id % 2 = 0
        |    THEN 54 + ((3 * (1 + strlen(text) % 64) + 3) // 4 * 4)
        |         * (1 + (strlen(text) * 7) % 64)
        |    ELSE 44 + strlen(text) * (1 + strlen(text) % 2) * 2
        |    END) AS BIGINT) AS total_bytes
        |FROM documents GROUP BY 1 ORDER BY 1""".stripMargin,
    "multimodal_pipeline" ->
      """WITH m AS (
        |  SELECT doc_id, strlen(text) AS n,
        |    CASE WHEN doc_id % 2 = 0 THEN 'image/bmp'
        |         ELSE 'audio/wav' END AS media_type
        |  FROM documents),
        |d AS (
        |  SELECT media_type,
        |    CASE WHEN media_type = 'image/bmp'
        |      THEN 54 + ((3 * (1 + n % 64) + 3) // 4 * 4) * (1 + (n * 7) % 64)
        |      ELSE 44 + n * (1 + n % 2) * 2 END AS byte_len,
        |    CAST(CASE WHEN media_type = 'image/bmp'
        |      THEN 1 + n % 64 ELSE n END AS INTEGER) AS width,
        |    CAST(CASE WHEN media_type = 'image/bmp'
        |      THEN 1 + (n * 7) % 64
        |      ELSE 8000 + 1000 * (n % 8) END AS INTEGER) AS height
        |  FROM m)
        |SELECT media_type, count(*) AS n_media,
        |  CAST(sum(byte_len) AS BIGINT) AS total_bytes,
        |  min(width) AS min_w, max(width) AS max_w,
        |  min(height) AS min_h, max(height) AS max_h
        |FROM d GROUP BY 1 ORDER BY 1""".stripMargin,
    // PNG round trip: geometry is f(strlen) like the other containers,
    // and px_sum re-derives the cyclic text-byte pixel fill — full
    // cycles × the text's byte sum plus the leftover prefix sum. The
    // engine-side number comes from real inflate + de-filtering, so
    // equality proves the compressed round trip byte-for-byte. The
    // engine cycles UTF-8 BYTES, so the oracle extracts bytes too
    // (hex(encode(text)) + nibble lookup; strpos is 1-based and
    // returns 0 on miss, so '123456789ABCDEF' maps '0'→0 … 'F'→15) —
    // exact for any Unicode text, not just ASCII — and guards n = 0
    // (the engine fills zero pixels for an empty document).
    "multimodal_png" ->
      """WITH d AS (
        |  SELECT doc_id, hex(encode(text)) AS hx, strlen(text) AS n,
        |    CAST(1 + strlen(text) % 60 AS INTEGER) AS width,
        |    CAST(1 + (strlen(text) * 11) % 47 AS INTEGER) AS height
        |  FROM documents),
        |s AS (
        |  SELECT doc_id, width, height, n,
        |    3 * width * height AS m,
        |    CASE WHEN n = 0 THEN 0 ELSE
        |      list_aggregate(list_transform(generate_series(1, n),
        |        i -> strpos('123456789ABCDEF', substring(hx, 2*i-1, 1)) * 16
        |           + strpos('123456789ABCDEF', substring(hx, 2*i, 1))),
        |        'sum') END AS sum_all,
        |    CASE WHEN n = 0 OR (3 * width * height) % n = 0 THEN 0
        |      ELSE list_aggregate(list_transform(
        |        generate_series(1, (3 * width * height) % n),
        |        i -> strpos('123456789ABCDEF', substring(hx, 2*i-1, 1)) * 16
        |           + strpos('123456789ABCDEF', substring(hx, 2*i, 1))),
        |        'sum') END AS sum_rem
        |  FROM d)
        |SELECT doc_id, width, height, CAST(3 AS INTEGER) AS channels,
        |  CAST(CASE WHEN n = 0 THEN 0
        |    ELSE (m // n) * sum_all + sum_rem END AS BIGINT) AS px_sum
        |FROM s ORDER BY doc_id""".stripMargin,
    // Video oracle: geometry/frame count from strlen, sampled frames
    // f = 0,2,4,…, and per sampled frame the cyclic-byte sum
    // Σ_i byte((f·3wh + i) mod n) re-derived from the text's UTF-8
    // bytes — the same hex-nibble extraction as the PNG oracle.
    "multimodal_video" ->
      """WITH d AS (
        |  SELECT doc_id, hex(encode(text)) AS hx, strlen(text) AS n,
        |    CAST(1 + strlen(text) % 24 AS INTEGER) AS w,
        |    CAST(1 + (strlen(text) * 5) % 18 AS INTEGER) AS h,
        |    CAST(2 + strlen(text) % 6 AS INTEGER) AS frames
        |  FROM documents)
        |SELECT doc_id, w AS width, h AS height, frames AS n_frames,
        |  CAST((frames + 1) // 2 AS INTEGER) AS n_sampled,
        |  CAST(CASE WHEN n = 0 THEN 0 ELSE
        |    list_aggregate(list_transform(
        |      generate_series(0, frames - 1), f ->
        |      CASE WHEN f % 2 = 0 THEN
        |        list_aggregate(list_transform(
        |          generate_series(0, 3 * w * h - 1), i ->
        |          strpos('123456789ABCDEF', substring(hx,
        |            2 * ((f * 3 * w * h + i) % n) + 1, 1)) * 16
        |        + strpos('123456789ABCDEF', substring(hx,
        |            2 * ((f * 3 * w * h + i) % n) + 2, 1))), 'sum')
        |      ELSE 0 END), 'sum') END AS BIGINT) AS px_sum
        |FROM d ORDER BY doc_id""".stripMargin,
    // Resize oracle: every sampled byte re-derived at its exact
    // position — dst (y,x,ch) samples src byte ((2y·w + 2x)·3 + ch)
    // mod n (pixels are the text's UTF-8 bytes cycled, per the encode).
    "multimodal_resize" ->
      """WITH d AS (
        |  SELECT doc_id, hex(encode(text)) AS hx, strlen(text) AS n,
        |    CAST(1 + strlen(text) % 60 AS INTEGER) AS sw,
        |    CAST(1 + (strlen(text) * 11) % 47 AS INTEGER) AS sh
        |  FROM documents)
        |SELECT doc_id, sw AS src_w, sh AS src_h,
        |  CAST((sw + 1) // 2 AS INTEGER) AS width,
        |  CAST((sh + 1) // 2 AS INTEGER) AS height,
        |  CAST(CASE WHEN n = 0 THEN 0 ELSE
        |    list_aggregate(list_transform(
        |      generate_series(0, ((sw+1)//2) * ((sh+1)//2) - 1), p ->
        |      list_aggregate(list_transform([0, 1, 2], ch ->
        |        strpos('123456789ABCDEF', substring(hx,
        |          2*(((2*(p // ((sw+1)//2))*sw + 2*(p % ((sw+1)//2)))*3
        |              + ch) % n) + 1, 1)) * 16
        |        + strpos('123456789ABCDEF', substring(hx,
        |          2*(((2*(p // ((sw+1)//2))*sw + 2*(p % ((sw+1)//2)))*3
        |              + ch) % n) + 2, 1))), 'sum')), 'sum')
        |    END AS BIGINT) AS px_sum
        |FROM d ORDER BY doc_id""".stripMargin,
    // Audio stats: each PCM-16 sample is ((byte−128)<<8), replicated
    // per channel, so energy/magnitude scale by the channel count and
    // a zero-crossing is exactly a sign flip between consecutive TEXT
    // bytes around 128 (within-frame duplicates never flip). Bytes
    // come from the same hex/nibble extraction as the PNG oracle;
    // empty lists sum to NULL in this dialect → coalesce 0.
    "multimodal_audio" ->
      """WITH d AS (
        |  SELECT doc_id, hex(encode(text)) AS hx, strlen(text) AS n
        |  FROM documents),
        |b AS (
        |  SELECT doc_id, n,
        |    CAST(1 + n % 2 AS INTEGER) AS channels,
        |    CAST(8000 + 1000 * (n % 8) AS INTEGER) AS sample_rate,
        |    CAST(n AS INTEGER) AS n_samples,
        |    list_transform(generate_series(1, n),
        |      i -> strpos('123456789ABCDEF', substring(hx, 2*i-1, 1)) * 16
        |         + strpos('123456789ABCDEF', substring(hx, 2*i, 1))) AS bs
        |  FROM d)
        |SELECT doc_id, channels, sample_rate, n_samples,
        |  CAST(channels * coalesce(list_aggregate(list_transform(bs,
        |    x -> (x - 128) * (x - 128) * 65536), 'sum'), 0) AS BIGINT)
        |    AS sum_sq,
        |  CAST(channels * coalesce(list_aggregate(list_transform(bs,
        |    x -> abs(x - 128) * 256), 'sum'), 0) AS BIGINT) AS sum_abs,
        |  CAST(coalesce(list_aggregate(list_transform(generate_series(2, n),
        |    i -> CASE WHEN (bs[i] < 128) <> (bs[i-1] < 128)
        |         THEN 1 ELSE 0 END), 'sum'), 0) AS BIGINT) AS crossings
        |FROM b ORDER BY doc_id""".stripMargin,
    // Perceptual-hash dedup: the 9×8 dHash grid is replayed position
    // for position from the text bytes (pixels are the bytes cycled,
    // per the PNG encode — the resize-oracle discipline), the 64 bits
    // are assembled in two 32-bit halves (BIGINT shifts stay in
    // range), wrapped to the signed two's-complement value, then the
    // simhash banding + popcount verification runs unchanged.
    "dedup_phash" -> {
      def bAt(pos: String): String =
        s"(strpos('123456789ABCDEF', substring(hx, 2*(($pos) % n) + 1, 1))" +
          s" * 16 + strpos('123456789ABCDEF'," +
          s" substring(hx, 2*(($pos) % n) + 2, 1)))"
      val px = "(((gi // 9) * h // 8) * w + ((gi % 9) * w // 9)) * 3"
      val bit = "gr[(k // 8) * 9 + (k % 8) + 1] < gr[(k // 8) * 9 + (k % 8) + 2]"
      s"""WITH d AS (
         |  SELECT doc_id, hex(encode(text)) AS hx, strlen(text) AS n,
         |    CAST(1 + strlen(text) % 60 AS BIGINT) AS w,
         |    CAST(1 + (strlen(text) * 11) % 47 AS BIGINT) AS h
         |  FROM documents),
         |g AS (
         |  SELECT doc_id, list_transform(generate_series(0, 71), gi ->
         |    CASE WHEN n = 0 THEN 0 ELSE
         |      (${bAt(px + " + 0")}
         |       + ${bAt(px + " + 1")}
         |       + ${bAt(px + " + 2")}) // 3 END) AS gr
         |  FROM d),
         |halves AS (
         |  SELECT doc_id,
         |    list_aggregate(list_transform(generate_series(0, 31), k ->
         |      CASE WHEN $bit THEN 1::BIGINT << k ELSE 0 END), 'sum') AS lo,
         |    list_aggregate(list_transform(generate_series(32, 63), k ->
         |      CASE WHEN $bit THEN 1::BIGINT << (k - 32) ELSE 0 END),
         |      'sum') AS hi
         |  FROM g),
         |sigs AS (
         |  SELECT doc_id,
         |    hi::HUGEINT * 4294967296 + lo::HUGEINT AS s
         |  FROM halves),
         |bands AS (SELECT * FROM (VALUES
         |    (0, 1::HUGEINT), (1, 256::HUGEINT), (2, 65536::HUGEINT),
         |    (3, 16777216::HUGEINT), (4, 4294967296::HUGEINT),
         |    (5, 1099511627776::HUGEINT), (6, 281474976710656::HUGEINT),
         |    (7, 72057594037927936::HUGEINT)) t(band, dv)),
         |banded AS (SELECT doc_id, s, band, (s // dv) % 256 AS bkey
         |    FROM sigs, bands),
         |capped AS (SELECT * FROM (
         |    SELECT doc_id, s, band, bkey, row_number() OVER (
         |      PARTITION BY band, bkey ORDER BY doc_id) AS rn FROM banded)
         |    WHERE rn <= 500),
         |pairs AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
         |    CAST(bit_count(xor(
         |      CAST(CASE WHEN a.s >= 9223372036854775808::HUGEINT
         |           THEN a.s - $xxhM ELSE a.s END AS BIGINT),
         |      CAST(CASE WHEN b.s >= 9223372036854775808::HUGEINT
         |           THEN b.s - $xxhM ELSE b.s END AS BIGINT)))
         |      AS INTEGER) AS hamming
         |  FROM capped a JOIN capped b
         |    ON a.band = b.band AND a.bkey = b.bkey
         |      AND a.doc_id < b.doc_id)
         |SELECT id_a, id_b, hamming FROM pairs
         |WHERE hamming <= 5 ORDER BY id_a, id_b""".stripMargin
    },
    "user_profiles" ->
      """SELECT user_id, count(*) AS n_events,
        |  CAST(sum(CAST(round(value * 1e6) AS BIGINT)) AS BIGINT)
        |    AS spend_micros,
        |  max(ts) AS last_seen
        |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin,
    "stream_funnel_join" ->
      """SELECT p.user_id AS p_user, p.ts AS purchase_ts,
        |  s.ts AS signup_ts, p.value
        |FROM (SELECT user_id, ts, value FROM events
        |      WHERE event_type = 'purchase') p
        |JOIN (SELECT user_id, ts FROM events
        |      WHERE event_type = 'signup') s
        |  ON p.user_id = s.user_id
        | AND p.ts >= s.ts AND p.ts <= s.ts + INTERVAL 2 HOUR
        |ORDER BY p_user, purchase_ts, signup_ts, value""".stripMargin,
    "events_sessionize" ->
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
        |FROM y GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    // One UNION ALL branch per profiled column — the naive per-column
    // formulation the one-scan Expand aggregate must reproduce.
    "profile_numeric" -> {
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
    },
    // Candidate keys: the same union-branch derivation, plus the
    // row-syntax composite distinct and the identical ppm/is_key
    // integer arithmetic.
    "profile_keys" -> {
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
    },
    "bpe_train" -> bpeOracleSql(3),
    "bpe_segment" -> bpeSegmentOracleSql(3),
    // Same per-element doubles (identical operands → identical IEEE
    // results), index-addressed instead of zip_with; integer sums.
    "embed_quantize" ->
      """WITH e AS (
        |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS ed
        |  FROM embeddings),
        |m AS (
        |  SELECT vec_id, ed,
        |    list_max(list_transform(ed, x -> abs(x))) AS max_abs
        |  FROM e),
        |q AS (
        |  SELECT vec_id, ed, max_abs,
        |    list_transform(ed,
        |      x -> CAST(round(x * 127.0 / max_abs) AS BIGINT)) AS qv
        |  FROM m WHERE max_abs > 0.0)
        |SELECT vec_id, max_abs,
        |  CAST(list_aggregate(list_transform(qv, x -> abs(x)), 'sum')
        |    AS BIGINT) AS sum_abs_q,
        |  CAST(list_aggregate(list_transform(
        |      generate_series(1, len(ed)),
        |      i -> CAST(round((ed[i] - qv[i] * (max_abs / 127.0))
        |        * (ed[i] - qv[i] * (max_abs / 127.0)) * 1e12)
        |        AS BIGINT)), 'sum') AS BIGINT) AS err_sum_e12
        |FROM q ORDER BY vec_id""".stripMargin,
    // DuckDB's native ASOF LEFT JOIN pins the composition semantics.
    "asof_join_left" ->
      """SELECT p.event_id, p.user_id, p.ts, p.value, s.s_user, s.s_ts
        |FROM (SELECT event_id, user_id, ts, value FROM events
        |      WHERE event_type = 'purchase') p
        |ASOF LEFT JOIN (SELECT user_id AS s_user, ts AS s_ts
        |                FROM events WHERE event_type = 'signup') s
        |  ON p.user_id = s.s_user AND p.ts >= s.s_ts
        |ORDER BY p.event_id""".stripMargin,
    // Nearest-mode as-of: derived from scratch — every candidate
    // signup ranked by (|Δt|, s_ts), pinning the backward tie rule
    // the engine's two-pass composition implements.
    "asof_join_nearest" ->
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
        |FROM r WHERE rk = 1 ORDER BY event_id""".stripMargin,
    // Median/MAD via quantile_cont, identical flag comparison.
    "agg_robust_outliers" ->
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
        |ORDER BY o.o_orderstatus""".stripMargin,
    // The identical HUGEINT inequality — observed×N vs marginal
    // product, squared deviation vs 4·r·c·N.
    "agg_contingency" ->
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
        |ORDER BY x.c_nationkey, x.c_mktsegment""".stripMargin,
    // Same blocks, same builtin (unit-cost Levenshtein is defined
    // identically in both engines — the hash match is the proof).
    // Replays Linkage.candidates' declared budget degrade: blocks
    // whose na*nb exceeds 4096 are TRUNCATED to their first
    // 64 = floor(sqrt(4096)) rows per side in (p_partkey, p_name)
    // order — never dropped whole (the zero-output cliff the sf10
    // rehearsal exposed). Within-budget blocks pass untouched, so the
    // cnt join + rn filter is a no-op at gate scales.
    "join_edit_distance" ->
      """WITH v0 AS (
        |  SELECT p_partkey, p_name, p_brand, p_size,
        |    substr(p_name, 1, 6) AS p_pfx FROM part),
        |v1 AS (
        |  SELECT p_partkey + 5000000 AS p_partkey,
        |    CASE WHEN p_partkey % 3 = 0 THEN p_name || ' deluxe'
        |         ELSE p_name END AS p_name,
        |    p_brand, p_size, substr(p_name, 1, 6) AS p_pfx
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
        |        ORDER BY v.p_partkey, v.p_name) AS rn
        |    FROM v0 v JOIN cnt c ON c.p_brand = v.p_brand
        |      AND c.p_size = v.p_size AND c.p_pfx = v.p_pfx)
        |  WHERE n_pairs <= 4096 OR rn <= 64),
        |f1 AS (
        |  SELECT * FROM (
        |    SELECT v.*, c.n_pairs, row_number() OVER (
        |        PARTITION BY v.p_brand, v.p_size, v.p_pfx
        |        ORDER BY v.p_partkey, v.p_name) AS rn
        |    FROM v1 v JOIN cnt c ON c.p_brand = v.p_brand
        |      AND c.p_size = v.p_size AND c.p_pfx = v.p_pfx)
        |  WHERE n_pairs <= 4096 OR rn <= 64)
        |SELECT a.p_partkey AS a_key, b.p_partkey AS b_key,
        |  CAST(levenshtein(a.p_name, b.p_name) AS BIGINT) AS edit_dist
        |FROM f0 a JOIN f1 b
        |  ON a.p_brand = b.p_brand AND a.p_size = b.p_size
        |  AND a.p_pfx = b.p_pfx
        |WHERE levenshtein(a.p_name, b.p_name) <= 7
        |ORDER BY a_key, b_key""".stripMargin,
    // Both epochs re-derived from the source table — the written
    // files' merged read must agree with never-written SQL.
    "source_schema_evolution" ->
      """SELECT * FROM (
        |  SELECT CAST(0 AS BIGINT) AS epoch, count(*) AS n,
        |    count(*) AS n_status_null,
        |    CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT))
        |      AS BIGINT) / 100.0 AS sum_price
        |  FROM orders WHERE o_orderkey % 2 = 0
        |  UNION ALL
        |  SELECT 1, count(*), 0,
        |    CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT))
        |      AS BIGINT) / 100.0
        |  FROM orders WHERE o_orderkey % 2 = 1
        |) ORDER BY epoch""".stripMargin,
    // Same lag/count/total derivation; // mirrors DIV exactly. The
    // streaming twin must land on the identical matrix (stream ≡
    // batch), so it shares this oracle verbatim.
    "stream_transitions" -> transitionsOracleSql,
    "events_transitions" -> transitionsOracleSql,
    "assoc_rules" -> assocOracleSql,
    "stream_assoc" -> assocOracleSql,
  ) ++ oracleSqlMore ++ oracleSqlRest

  /** Shared by assoc_rules (batch) and stream_assoc (streaming twin):
    * the stream's incremental pair state provably emits each distinct
    * within-basket pair once, so both derivations rebuild the same
    * counts and the SAME SQL is the oracle for both. */
  private val assocOracleSql: String =
      """WITH b AS (
        |  SELECT DISTINCT l_orderkey AS bk, l_partkey AS item
        |  FROM lineitem),
        |i AS (
        |  SELECT item, CAST(count(*) AS BIGINT) AS item_n
        |  FROM b GROUP BY 1 HAVING count(*) >= 5),
        |f AS (SELECT b.bk, b.item, i.item_n FROM b JOIN i USING (item)),
        |p AS (
        |  SELECT a.item AS a_item, c.item AS b_item,
        |         a.item_n AS a_n, c.item_n AS b_n,
        |         CAST(count(*) AS BIGINT) AS pair_n
        |  FROM f a JOIN f c ON a.bk = c.bk AND a.item < c.item
        |  GROUP BY 1, 2, 3, 4 HAVING count(*) >= 2),
        |n AS (SELECT CAST(count(DISTINCT bk) AS BIGINT) AS nb FROM b),
        |r AS (
        |  SELECT a_item AS antecedent, b_item AS consequent, pair_n,
        |         a_n AS ant_n, b_n AS cons_n FROM p
        |  UNION ALL
        |  SELECT b_item, a_item, pair_n, b_n, a_n FROM p)
        |SELECT r.antecedent, r.consequent, r.pair_n, r.ant_n, r.cons_n,
        |  CAST((r.pair_n * 1000000) // r.ant_n AS BIGINT) AS conf_micros,
        |  CAST((r.pair_n * n.nb * 1000000) // (r.ant_n * r.cons_n)
        |    AS BIGINT) AS lift_micros
        |FROM r, n
        |ORDER BY r.antecedent, r.consequent""".stripMargin

  private val oracleSqlMore: Map[String, String] = Map(
    "events_ohlc" ->
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
        |ORDER BY a.hour, a.event_type""".stripMargin,
    "union_by_name" ->
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
        |ORDER BY kind, party_id""".stripMargin,
    "pareto_skyline" ->
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
        |ORDER BY x.p_partkey""".stripMargin,
    "geo_radius_join" ->
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
        |ORDER BY c.c_custkey, s.s_suppkey""".stripMargin,
    "agg_skew_kurtosis" ->
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
        |FROM e ORDER BY c_nationkey""".stripMargin,
    "graph_bfs" ->
      // min hop over exact-length walk sets: a length-k walk exists iff
      // distance <= k, so min(h) over the chained neighbor sets is the
      // shortest-path distance — identical to first-reach frontier BFS
      """WITH pairs AS (
        |  SELECT DISTINCT CAST(o_custkey * 2 AS BIGINT) AS c,
        |         CAST(l_suppkey * 2 + 1 AS BIGINT) AS sp
        |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
        |e AS (
        |  SELECT c AS src, sp AS dst FROM pairs
        |  UNION ALL SELECT sp, c FROM pairs),
        |n AS (
        |  SELECT CAST(c_custkey * 2 AS BIGINT) AS id FROM customer
        |  UNION ALL
        |  SELECT CAST(s_suppkey * 2 + 1 AS BIGINT) FROM supplier),
        |s0 AS (
        |  SELECT CAST(c_custkey * 2 AS BIGINT) AS id FROM customer
        |  WHERE c_nationkey = 0),
        |s1 AS (SELECT DISTINCT e.dst AS id FROM e JOIN s0 ON e.src = s0.id),
        |s2 AS (SELECT DISTINCT e.dst AS id FROM e JOIN s1 ON e.src = s1.id),
        |s3 AS (SELECT DISTINCT e.dst AS id FROM e JOIN s2 ON e.src = s2.id),
        |s4 AS (SELECT DISTINCT e.dst AS id FROM e JOIN s3 ON e.src = s3.id),
        |lv AS (
        |  SELECT id, 0 AS h FROM s0
        |  UNION ALL SELECT id, 1 FROM s1
        |  UNION ALL SELECT id, 2 FROM s2
        |  UNION ALL SELECT id, 3 FROM s3
        |  UNION ALL SELECT id, 4 FROM s4),
        |d AS (SELECT id, CAST(min(h) AS BIGINT) AS hops FROM lv GROUP BY id)
        |SELECT n.id AS node_id,
        |  CASE WHEN n.id % 2 = 0 THEN 'customer' ELSE 'supplier' END
        |    AS node_type,
        |  n.id // 2 AS node_key, d.hops
        |FROM n LEFT JOIN d ON n.id = d.id
        |ORDER BY node_id""".stripMargin,
    "agg_bitmap_distinct" ->
      // the oracle is the definitional distinct — a green row proves
      // the bitmap decomposition loses and double-counts nothing
      """SELECT o_orderpriority,
        |       CAST(count(DISTINCT o_custkey) AS BIGINT) AS n_cust
        |FROM orders
        |GROUP BY o_orderpriority
        |ORDER BY o_orderpriority""".stripMargin,
    "agg_bitmap_overlap" ->
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
        |FROM a, b, u""".stripMargin,
    "agg_entropy" ->
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
        |FROM a ORDER BY c_nationkey""".stripMargin,
    // EWMA: the same pinned left-to-right fold over the hour-sorted
    // exact micro-totals; 2-arg list_reduce seeds the accumulator with
    // the first element — exactly the engine's slice+init form. No
    // rounding needed: halving is exact, addition correctly rounded,
    // so the doubles are bit-equal.
    "events_ewma" ->
      """WITH h AS (
        |  SELECT event_type, date_trunc('hour', ts) AS hour,
        |    CAST(sum(CAST(round(value * 1e6) AS BIGINT)) AS BIGINT) AS x
        |  FROM events GROUP BY 1, 2),
        |a AS (SELECT event_type,
        |        list(CAST(x AS DOUBLE) ORDER BY hour) AS arr
        |      FROM h GROUP BY 1)
        |SELECT event_type, CAST(len(arr) AS INTEGER) AS n_hours,
        |  list_reduce(arr, (acc, x) -> (acc + x) / 2.0) AS ewma
        |FROM a ORDER BY event_type""".stripMargin,
    "sim_mmr_rerank" ->
      // the 5 greedy rounds unrolled; every float step (cosine folds,
      // 7e-1/3e-1 mixing) shares its shape with the engine, so scores
      // are bit-equal and the argmax tie-break (score desc, id asc)
      // picks identical rows
      """WITH q AS (
        |  SELECT CAST(embedding AS DOUBLE[]) AS qe
        |  FROM embeddings WHERE vec_id = 1),
        |c0 AS (
        |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS ce
        |  FROM embeddings WHERE vec_id <> 1),
        |scored AS (
        |  SELECT vec_id,
        |    list_dot_product(qe, ce) /
        |      (sqrt(list_dot_product(qe, qe)) *
        |       sqrt(list_dot_product(ce, ce))) AS rel, ce
        |  FROM c0, q),
        |cand AS (
        |  SELECT vec_id, rel, ce FROM scored
        |  ORDER BY rel DESC, vec_id LIMIT 16),
        |p AS (
        |  SELECT x.vec_id AS ai, y.vec_id AS bi,
        |    list_dot_product(x.ce, y.ce) /
        |      (sqrt(list_dot_product(x.ce, x.ce)) *
        |       sqrt(list_dot_product(y.ce, y.ce))) AS sim
        |  FROM cand x JOIN cand y ON x.vec_id <> y.vec_id),
        |r1 AS (
        |  SELECT vec_id, rel, 7e-1 * rel - 3e-1 * 0e0 AS score
        |  FROM cand ORDER BY score DESC, vec_id LIMIT 1),
        |sel1 AS (SELECT vec_id FROM r1),
        |r2 AS (
        |  SELECT c.vec_id, c.rel, 7e-1 * c.rel - 3e-1 * (
        |      SELECT max(p.sim) FROM p JOIN sel1 s ON p.bi = s.vec_id
        |      WHERE p.ai = c.vec_id) AS score
        |  FROM cand c WHERE c.vec_id NOT IN (SELECT vec_id FROM sel1)
        |  ORDER BY score DESC, c.vec_id LIMIT 1),
        |sel2 AS (SELECT vec_id FROM sel1 UNION ALL SELECT vec_id FROM r2),
        |r3 AS (
        |  SELECT c.vec_id, c.rel, 7e-1 * c.rel - 3e-1 * (
        |      SELECT max(p.sim) FROM p JOIN sel2 s ON p.bi = s.vec_id
        |      WHERE p.ai = c.vec_id) AS score
        |  FROM cand c WHERE c.vec_id NOT IN (SELECT vec_id FROM sel2)
        |  ORDER BY score DESC, c.vec_id LIMIT 1),
        |sel3 AS (SELECT vec_id FROM sel2 UNION ALL SELECT vec_id FROM r3),
        |r4 AS (
        |  SELECT c.vec_id, c.rel, 7e-1 * c.rel - 3e-1 * (
        |      SELECT max(p.sim) FROM p JOIN sel3 s ON p.bi = s.vec_id
        |      WHERE p.ai = c.vec_id) AS score
        |  FROM cand c WHERE c.vec_id NOT IN (SELECT vec_id FROM sel3)
        |  ORDER BY score DESC, c.vec_id LIMIT 1),
        |sel4 AS (SELECT vec_id FROM sel3 UNION ALL SELECT vec_id FROM r4),
        |r5 AS (
        |  SELECT c.vec_id, c.rel, 7e-1 * c.rel - 3e-1 * (
        |      SELECT max(p.sim) FROM p JOIN sel4 s ON p.bi = s.vec_id
        |      WHERE p.ai = c.vec_id) AS score
        |  FROM cand c WHERE c.vec_id NOT IN (SELECT vec_id FROM sel4)
        |  ORDER BY score DESC, c.vec_id LIMIT 1)
        |SELECT * FROM (
        |  SELECT 1 AS rank, vec_id, rel, score FROM r1
        |  UNION ALL SELECT 2, vec_id, rel, score FROM r2
        |  UNION ALL SELECT 3, vec_id, rel, score FROM r3
        |  UNION ALL SELECT 4, vec_id, rel, score FROM r4
        |  UNION ALL SELECT 5, vec_id, rel, score FROM r5)
        |ORDER BY rank""".stripMargin,
  )

  private val transitionsOracleSql: String =
      """WITH seq AS (
        |  SELECT user_id, event_type,
        |    lag(event_type) OVER (PARTITION BY user_id
        |      ORDER BY ts, event_id) AS prev_type
        |  FROM events),
        |tr AS (
        |  SELECT prev_type, event_type AS next_type, count(*) AS n
        |  FROM seq WHERE prev_type IS NOT NULL GROUP BY 1, 2),
        |tot AS (
        |  SELECT prev_type, CAST(sum(n) AS BIGINT) AS row_total
        |  FROM tr GROUP BY 1)
        |SELECT t.prev_type, t.next_type, t.n,
        |  CAST((t.n * 1000000) // x.row_total AS BIGINT) AS p_micros
        |FROM tr t JOIN tot x USING (prev_type)
        |ORDER BY t.prev_type, t.next_type""".stripMargin

  private def oracleSqlRest: Map[String, String] = Map(
    // The argmax replayed with a window (NOT DuckDB's mode(), whose
    // tie-break is unspecified): count desc, segment desc, first row.
    "agg_mode" ->
      """WITH c AS (
        |  SELECT c_nationkey, c_mktsegment, count(*) AS n
        |  FROM customer GROUP BY 1, 2),
        |r AS (
        |  SELECT *, row_number() OVER (PARTITION BY c_nationkey
        |      ORDER BY n DESC, c_mktsegment DESC) AS rk
        |  FROM c)
        |SELECT c_nationkey, c_mktsegment AS mode_seg, n
        |FROM r WHERE rk = 1 ORDER BY c_nationkey""".stripMargin,
    // Median and MAD re-derived with quantile_cont (the proven
    // percentile-compatible pair), same two-pass shape.
    "agg_mad" ->
      """WITH med AS (
        |  SELECT o_orderstatus,
        |    quantile_cont(o_totalprice, 0.5) AS med
        |  FROM orders GROUP BY 1)
        |SELECT o.o_orderstatus,
        |  quantile_cont(abs(o.o_totalprice - m.med), 0.5) AS mad,
        |  count(*) AS n
        |FROM orders o JOIN med m USING (o_orderstatus)
        |GROUP BY o.o_orderstatus
        |ORDER BY o.o_orderstatus""".stripMargin,
    // The streaming gate's final counters re-derived branch for
    // branch over the same documents table (stream ≡ batch).
    "stream_checks" ->
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
        |ORDER BY check_name""".stripMargin,
    // The naive overlap join the quantized rewrite must equal:
    // per-user equi join + the two-sided interval intersection
    // predicate, overlap edges in exact micros.
    "join_interval_overlap" ->
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
        |ORDER BY v.user_id, view_id, purchase_id""".stripMargin,
    // tf/df/score/top-k replayed over the same tokens; // is DuckDB's
    // integer floor division, matching Spark's DIV.
    "text_tfidf" ->
      """WITH tk AS (
        |  SELECT doc_id, list_filter(string_split(
        |      trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' '),
        |      x -> len(x) > 0) AS toks
        |  FROM documents),
        |tf AS (
        |  SELECT doc_id, tok AS term, count(*) AS tf
        |  FROM (SELECT doc_id, unnest(toks) AS tok FROM tk)
        |  GROUP BY doc_id, tok),
        |df AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
        |s AS (
        |  SELECT t.doc_id, t.term, t.tf, d.df,
        |    CAST((t.tf * 1000000) // d.df AS BIGINT) AS score_micros
        |  FROM tf t JOIN df d USING (term)),
        |r AS (
        |  SELECT *, row_number() OVER (PARTITION BY doc_id
        |      ORDER BY score_micros DESC, term) AS rk
        |  FROM s)
        |SELECT doc_id, term, tf, df, score_micros,
        |  CAST(rk AS BIGINT) AS rk
        |FROM r WHERE rk <= 3
        |ORDER BY doc_id, rk""".stripMargin,
    // Positions re-derived 0-based over the same token list; slot
    // votes via one UNION ALL branch per phrase word; a start with
    // all distinct slots voting is a match.
    "search_phrase" ->
      """WITH tk AS (
        |  SELECT doc_id, list_filter(string_split(
        |      trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' '),
        |      x -> len(x) > 0) AS toks
        |  FROM documents),
        |pos AS (
        |  SELECT doc_id, i AS pos, toks[i + 1] AS tok
        |  FROM tk, unnest(generate_series(0, len(toks) - 1)) AS t(i)),
        |cand AS (
        |  SELECT doc_id, pos - 0 AS match_pos, 0 AS idx
        |  FROM pos WHERE tok = 'table'
        |  UNION ALL
        |  SELECT doc_id, pos - 1, 1 FROM pos WHERE tok = 'scan')
        |SELECT doc_id, CAST(match_pos AS BIGINT) AS match_pos
        |FROM cand WHERE match_pos >= 0
        |GROUP BY doc_id, match_pos
        |HAVING count(DISTINCT idx) = 2
        |ORDER BY doc_id, match_pos""".stripMargin,
    // The audit recomputed as the naive groupBy it compiles to.
    "privacy_kanon" ->
      """SELECT c_nationkey, c_mktsegment, count(*) AS n,
        |  count(DISTINCT floor(c_acctbal / 1000.0)) AS n_sensitive,
        |  count(*) >= 10 AS k_ok,
        |  count(DISTINCT floor(c_acctbal / 1000.0)) >= 3 AS l_ok
        |FROM customer
        |GROUP BY c_nationkey, c_mktsegment
        |ORDER BY c_nationkey, c_mktsegment""".stripMargin,
    // Same re-listing rules, plain block join, every weight replayed:
    // word overlap via list_intersect on distinct name words, the
    // same integer score arithmetic and threshold.
    // Replays Linkage.candidates' declared budget degrade (see
    // join_edit_distance): overflowing blocks truncate to their first
    // 64 rows per side in p_partkey order instead of dropping whole.
    "record_linkage" ->
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
        |ORDER BY a_key, b_key""".stripMargin,
    // Both versions rebuilt from the same perturbation rules, then
    // the naive full-outer classification the one-join engine diff
    // must reproduce (IS NOT DISTINCT FROM = the null-safe compare).
    "table_diff" ->
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
        |ORDER BY c_custkey""".stripMargin,
    // The CDC fold re-derived: same deterministic changelog, a
    // row_number window for last-writer-wins (same D>U>I tie-break),
    // full-outer merge with delete filtering.
    "cdc_apply" ->
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
        |ORDER BY c_custkey""".stripMargin,
    // The hashing-trick features, re-derived from scratch: the SAME
    // UTF-8 bytes folded through the SAME FNV-1a multiply-xor in
    // HUGEINT arithmetic (list_reduce seeded with the offset basis),
    // then signed index/sign extraction and the sparse aggregation.
    "feat_hashing" ->
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
        |ORDER BY doc_id, feat_idx""".stripMargin,
    // Cutpoints re-derived with quantile_cont (bit-compatible with
    // Spark's exact percentile — established by agg_percentiles),
    // bucket arithmetic and scaled ranges recomputed per branch.
    "feat_binning" -> {
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
    },
    // One branch per declared check — the naive per-check formulation
    // the engine's one-scan shared aggregate must reproduce exactly.
    "checks_constraints" ->
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
        |ORDER BY check_name""".stripMargin,
    // The builtin session_window must produce the SAME sessions as the
    // lag/cumsum derivation: start = first event, end = last + gap.
    // boundary: session_window is HALF-OPEN [start, last+gap) — an
    // event exactly gap after its predecessor starts a NEW session, so
    // the re-derivation splits on >= gap (the custom events_sessionize
    // operator uses > gap; both are valid gap conventions, pinned
    // explicitly per query)
    "events_session_window" ->
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
        |ORDER BY user_id, session_start""".stripMargin,
    // SCD2 intervals: the same two-row_number island detection, run
    // aggregation, and lead() interval chaining with the identical
    // (valid_from, first_event_id) tiebreak.
    "scd2_event_runs" ->
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
        |FROM s ORDER BY user_id, first_event_id""".stripMargin,
    // Exact-moment correlation/regression: identical HUGEINT sums,
    // identical cast/division/sqrt shape → bit-equal doubles.
    "agg_corr_exact" ->
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
        |FROM t ORDER BY event_type""".stripMargin,
    // Anomaly flags: the identical integer cross-multiplication in
    // HUGEINT — no float variance on either side.
    "events_anomaly" ->
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
        |ORDER BY h.event_type, h.hour""".stripMargin,
    // Fixed hourly grid with explicit gaps: spine × keys left-joined
    // against the real hourly aggregate; zero-fill for count/sum,
    // IGNORE NULLS running last for the forward fill.
    "events_resample_1h" ->
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
        |ORDER BY g.hour, g.event_type""".stripMargin,
    // Linear interpolation: identical grid; the gap value is
    // pv + round((nv − pv)·Δt/T) with the engine's exact
    // parenthesization and SECONDS as the time unit on both sides.
    "events_interpolate_1h" ->
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
        |FROM wnd ORDER BY hour, event_type""".stripMargin,
  ) ++ captured.asScala.map { case (name, oracle) => name -> oracle() }

  /** DuckDB re-derivation of the captured logistic quality filter:
    * the four features exactly as the text_quality oracle derives them
    * (bit-identical doubles), then `z = intercept + Σ wᵢ·fᵢ` in the
    * same left-to-right accumulation order the Column fold uses;
    * score_micros/pred re-round and re-threshold the identical z. */
  private def qmLrOracleSql(m: graft.operators.QualityModel.Model)
      : String = {
    val Seq(w1, w2, w3, w4) = m.weights.map(dlit)
    s"""WITH base AS (
       |  SELECT doc_id, lang, text,
       |    trim(regexp_replace(lower(text), '\\s+', ' ', 'g')) AS nt
       |  FROM documents),
       |tk AS (
       |  SELECT doc_id, lang, text,
       |    list_filter(string_split(nt, ' '), x -> len(x) > 0) AS toks
       |  FROM base),
       |tk2 AS (
       |  SELECT *, length(text) AS n_chars,
       |    length(regexp_replace(lower(text), '[^a-z0-9]', '', 'g'))
       |      AS n_alnum,
       |    length(regexp_replace(lower(text), '[^0-9]', '', 'g'))
       |      AS n_digit,
       |    length(text) - length(regexp_replace(text, '\\s', '', 'g'))
       |      AS n_ws
       |  FROM tk),
       |f AS (
       |  SELECT doc_id, toks,
       |    CASE WHEN len(toks) > 0 THEN
       |      CAST(len(list_filter(toks, t -> list_contains($stopwordsSql, t)))
       |        AS DOUBLE) / CAST(len(toks) AS DOUBLE)
       |      ELSE 0.0 END AS stopword_ratio,
       |    CASE WHEN n_chars > 0 THEN CAST(n_chars - n_alnum - n_ws
       |      AS DOUBLE) / CAST(n_chars AS DOUBLE) ELSE 0.0 END
       |      AS punct_ratio,
       |    CASE WHEN n_chars > 0 THEN CAST(n_digit AS DOUBLE)
       |      / CAST(n_chars AS DOUBLE) ELSE 0.0 END AS digit_ratio,
       |    least(CAST(len(toks) AS DOUBLE) / 100.0, 1.0) AS token_frac
       |  FROM tk2),
       |z AS (
       |  SELECT doc_id,
       |    least(CAST(len(toks) AS DOUBLE) / 100.0, 1.0) * 0.3
       |      + greatest(0.0, 1.0 - punct_ratio * 5) * 0.3
       |      + greatest(0.0, 1.0 - digit_ratio * 5) * 0.2
       |      + least(stopword_ratio * 3, 1.0) * 0.2 AS quality,
       |    ${dlit(m.intercept)} + $w1 * stopword_ratio
       |      + $w2 * punct_ratio + $w3 * digit_ratio
       |      + $w4 * token_frac AS z
       |  FROM f)
       |SELECT doc_id, quality >= 0.72 AS label,
       |  CAST(round(z * 1e6) AS BIGINT) AS score_micros,
       |  z > 0.0 AS pred
       |FROM z ORDER BY doc_id""".stripMargin
  }

  /** DuckDB re-derivation of the winnowing fingerprint pipeline: the
    * FNV-1a 8-gram rolling hashes themselves (xor-then-multiply per
    * char, CASE-guarded for texts shorter than the gram width), then
    * every window's LEFTMOST minimum via a single lexicographic
    * `min(biased(h)·2^32 + pos)` key — biased by 2^63 because the
    * engine compares hashes as SIGNED longs — then DISTINCT
    * selections. Windows and
    * edge cases (one window for texts with fewer grams than the
    * window) mirror WinnowedFingerprints exactly; validated against a
    * reference implementation on tie-heavy and short inputs. */
  private def winnowingOracleSql: String = {
    val M = xxhM
    val fnvOff = BigInt("14695981039346656037") // 0xcbf29ce484222325
    val fnvP = BigInt("1099511628211") // 0x100000001b3
    val stages = (0 until 8).map { j =>
      val step = xxhMulmod(
        s"xor(h, ascii(substr(t, p + $j, 1))::HUGEINT)", fnvP)
      s"f${j + 1} AS (SELECT doc_id, t, width, p, m,\n" +
        s"  CASE WHEN $j < width THEN $step ELSE h END AS h FROM f$j)"
    }.mkString(",\n")
    s"""WITH nt AS (
       |  SELECT doc_id,
       |    trim(regexp_replace(lower(text), '\\s+', ' ', 'g')) AS t
       |  FROM documents),
       |base AS (SELECT doc_id, t, least(8, strlen(t)) AS width,
       |    CASE WHEN strlen(t) >= 8 THEN strlen(t) - 7 ELSE 1 END AS m
       |  FROM nt WHERE strlen(t) > 0),
       |f0 AS (SELECT doc_id, t, width, p, m, $fnvOff::HUGEINT AS h
       |       FROM base, unnest(generate_series(1, m)) AS u(p)),
       |$stages,
       |gr AS (SELECT doc_id, p, m, h FROM f8),
       |wn AS (SELECT DISTINCT doc_id, i FROM (
       |    SELECT doc_id, unnest(generate_series(least(8, m), m)) AS i
       |    FROM base)),
       |sel AS (SELECT w.doc_id, w.i,
       |    min((CASE WHEN g.h >= 9223372036854775808
       |         THEN g.h - 9223372036854775808
       |         ELSE g.h + 9223372036854775808 END)
       |        * $xxhB::HUGEINT + g.p) AS key
       |  FROM wn w JOIN gr g ON g.doc_id = w.doc_id
       |    AND g.p BETWEEN greatest(1, w.i - 7) AND w.i
       |  GROUP BY w.doc_id, w.i),
       |fps AS (SELECT DISTINCT doc_id, CAST(key % $xxhB AS BIGINT) AS p
       |        FROM sel)
       |SELECT f.doc_id, CAST(f.p - 1 AS INTEGER) AS pos,
       |  CAST(CASE WHEN g.h >= 9223372036854775808 THEN g.h - $M ELSE g.h
       |    END AS BIGINT) AS fp
       |FROM fps f JOIN gr g ON g.doc_id = f.doc_id AND g.p = f.p
       |ORDER BY f.doc_id, pos""".stripMargin
  }

  /** Exact 8-gram-Jaccard pair set (threshold 0.7) re-derived from the
    * raw strings — shared by the ngram dedup pipeline and the
    * declarative `text_jaccard` threshold join (the prefix-filter
    * rewrite is exact, so both must produce this set verbatim). */
  private def ngramPairsOracle: String =
    """WITH nt AS (
      |  SELECT doc_id, trim(regexp_replace(lower(text), '\s+', ' ', 'g'))
      |    AS t FROM documents),
      |gr AS (
      |  SELECT DISTINCT doc_id, g FROM (
      |    SELECT doc_id, unnest(CASE WHEN length(t) >= 8
      |      THEN list_transform(generate_series(1, length(t) - 7),
      |                          i -> substr(t, i, 8))
      |      ELSE [t] END) AS g
      |    FROM nt) u),
      |sizes AS (SELECT doc_id, count(*) AS n FROM gr GROUP BY doc_id),
      |common AS (
      |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_common
      |  FROM gr a JOIN gr b ON a.g = b.g AND a.doc_id < b.doc_id
      |  GROUP BY 1, 2),
      |j AS (
      |  SELECT id_a, id_b,
      |    CAST(n_common AS DOUBLE)
      |      / CAST(na.n + nb.n - n_common AS DOUBLE) AS jaccard
      |  FROM common
      |  JOIN sizes na ON na.doc_id = id_a
      |  JOIN sizes nb ON nb.doc_id = id_b)
      |SELECT id_a, id_b, jaccard FROM j
      |WHERE jaccard >= 0.7 ORDER BY id_a, id_b""".stripMargin

  /** Exact shingle-Jaccard pair set (threshold 0.8) re-derived from the
    * raw strings — the oracle for BOTH the batch minhash-LSH pair op
    * and its streaming twin (the LSH band structure is a candidate
    * pruner with planted-pair recall ~1 on this data, so the emitted
    * set must equal the full threshold-Jaccard set). */
  private def minhashPairsOracle: String =
    """WITH toks AS (
      |  SELECT doc_id, string_split(trim(regexp_replace(lower(text),
      |    '\s+', ' ', 'g')), ' ') AS w FROM documents),
      |sh AS (
      |  SELECT DISTINCT doc_id, g FROM (
      |    SELECT doc_id, unnest(CASE WHEN len(w) >= 3
      |      THEN list_transform(generate_series(1, len(w) - 2),
      |                          i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])
      |      ELSE [array_to_string(w, ' ')] END) AS g
      |    FROM toks) u),
      |sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
      |common AS (
      |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_common
      |  FROM sh a JOIN sh b ON a.g = b.g AND a.doc_id < b.doc_id
      |  GROUP BY 1, 2),
      |j AS (
      |  SELECT id_a, id_b,
      |    CAST(n_common AS DOUBLE)
      |      / CAST(na.n + nb.n - n_common AS DOUBLE) AS jaccard
      |  FROM common
      |  JOIN sizes na ON na.doc_id = id_a
      |  JOIN sizes nb ON nb.doc_id = id_b)
      |SELECT id_a, id_b, jaccard FROM j
      |WHERE jaccard >= 0.8 ORDER BY id_a, id_b""".stripMargin

  /** IVF oracle: centroid model exported as double literals (exact
    * float→double widening), then the assignment argmax, nProbe=12 probe
    * ranking, probed-cluster scan and top-k all recomputed in SQL. */
  private def ivfOracleSql(cents: Seq[Seq[Float]]): String =
    s"""WITH ${ivfAssignCtes(cents)},
       |probes AS (SELECT vec_id AS query_id, ed AS qe, cid AS cluster_id
       |      FROM ranked WHERE vec_id % 50 = 0 AND vec_id < 2000 AND rn <= 12),
       |s AS (SELECT DISTINCT query_id, neighbor_id,
       |        ${cosineSql("qe", "ce2")} AS cosine
       |      FROM assign a JOIN probes p ON a.cluster_id = p.cluster_id
       |        AND a.neighbor_id <> p.query_id),
       |$top10Sql""".stripMargin

  /** The brute-force oracles' CTEs: every (query, corpus) pair of the
    * fixed query batch scored by exact cosine (`s`). Shared by
    * sim_topk_bruteforce and sim_hard_negatives, which rank the same
    * pairs. */
  private def bruteForceScoreCtes: String =
    s"""WITH q AS (SELECT vec_id AS query_id,
       |             CAST(embedding AS DOUBLE[]) AS qe
       |           FROM embeddings WHERE vec_id % 50 = 0 AND vec_id < 2000),
       |c AS (SELECT vec_id AS neighbor_id,
       |        CAST(embedding AS DOUBLE[]) AS ce FROM embeddings),
       |s AS (SELECT query_id, neighbor_id,
       |        list_dot_product(qe, ce) /
       |          (sqrt(list_dot_product(qe, qe)) *
       |           sqrt(list_dot_product(ce, ce))) AS cosine
       |      FROM c JOIN q ON neighbor_id <> query_id),""".stripMargin

  /** The oracle twin of Similarity.rankTopK over `s(query_id,
    * neighbor_id, cosine)`: each query's neighbors ranked by (cosine
    * DESC, neighbor_id) as `r`. */
  private def rankCte: String =
    """r AS (SELECT query_id, neighbor_id, cosine,
      |        CAST(row_number() OVER (PARTITION BY query_id
      |          ORDER BY cosine DESC, neighbor_id) AS INTEGER) AS rank
      |      FROM s)""".stripMargin

  /** [[rankCte]] cut to the top 10 — the exact-cosine top-k oracles'
    * common tail. */
  private def top10Sql: String =
    s"""$rankCte
       |SELECT query_id, neighbor_id, cosine, rank FROM r
       |WHERE rank <= 10 ORDER BY query_id, rank""".stripMargin

  /** The IVF oracles' corpus assignment: [[centroidScoreCtes]], then
    * each vector's argmax cluster (`assign`, rn = 1) over the per-vector
    * centroid ranking (`ranked`, which the probe lists reuse). */
  private def ivfAssignCtes(cents: Seq[Seq[Float]]): String =
    s"""${centroidScoreCtes(cents)},
       |ranked AS (SELECT vec_id, ed, cid, row_number() OVER (
       |        PARTITION BY vec_id ORDER BY score DESC, cid) AS rn
       |      FROM scores),
       |assign AS (SELECT vec_id AS neighbor_id, ed AS ce2,
       |        cid AS cluster_id
       |      FROM ranked WHERE rn = 1)""".stripMargin

  /** The oracle twin of Similarity.centroidScores: the centroid model
    * as exact float→double literals (`cents`) and every vector's
    * cosine to every centroid, zero-norm floored to −2 (`scores`). */
  private def centroidScoreCtes(cents: Seq[Seq[Float]]): String = {
    val rows = cents.zipWithIndex.map { case (c, i) =>
      c.map(f => dlit(f.toDouble))
        .mkString(s"($i, CAST([", ",", "] AS DOUBLE[]))")
    }.mkString(",\n    ")
    s"""base AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS ed
       |              FROM embeddings),
       |cents AS (SELECT * FROM (VALUES
       |    $rows) t(cid, ce)),
       |scores AS (SELECT vec_id, ed, cid,
       |        coalesce(${cosineSql("ed", "ce")}, -2.0) AS score
       |      FROM base, cents)""".stripMargin
  }

  /** Shared by the batch and streaming decontamination queries: exact
    * 5-gram re-derivation, eval-set intersection, counts joined back
    * to the training side. */
  /** The per-doc distinct 5-gram CTE chain (toks → sh), shared by the
    * whole decontamination oracle family so the shingle definition
    * cannot drift between single- and multi-set variants. */
  private val decontamGramCtes: String =
    // no line may BEGIN with '||': consumers interpolate this body
    // into their own stripMargin literals, which would eat one pipe
    """toks AS (
      |  SELECT doc_id, string_split(trim(regexp_replace(lower(text),
      |    '\s+', ' ', 'g')), ' ') AS w FROM documents),
      |sh AS (
      |  SELECT DISTINCT doc_id, g FROM (
      |    SELECT doc_id, unnest(CASE WHEN len(w) >= 5
      |      THEN list_transform(generate_series(1, len(w) - 4),
      |        i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2] || ' ' ||
      |          w[i+3] || ' ' || w[i+4])
      |      ELSE [array_to_string(w, ' ')] END) AS g
      |    FROM toks) u)""".stripMargin

  private val decontamOracle: String =
    s"""WITH $decontamGramCtes,
      |ev AS (SELECT DISTINCT g FROM sh
      |       WHERE doc_id % 17 = 0 AND doc_id < 100000),
      |hits AS (
      |  SELECT doc_id, count(*) AS n_hits
      |  FROM sh JOIN ev USING (g) WHERE doc_id % 17 <> 0
      |  GROUP BY doc_id)
      |SELECT d.doc_id, CAST(coalesce(h.n_hits, 0) AS BIGINT) AS n_hits,
      |  coalesce(h.n_hits, 0) >= 1 AS contaminated
      |FROM documents d LEFT JOIN hits h ON d.doc_id = h.doc_id
      |WHERE d.doc_id % 17 <> 0
      |ORDER BY d.doc_id""".stripMargin

  /** BM25 oracle: tf/df/dl re-derivation plus the exact double
    * formula. Constants come from the same Scala doubles the engine's
    * Column expression embeds (k1, k1+1, 1-b, b), printed with
    * Double.toString — the shortest decimal that parses back to the
    * identical bit pattern in both engines. */
  private def bm25OracleSql: String =
    s"""WITH $bm25Ctes
       |SELECT doc_id, score_micros, rank FROM r
       |WHERE rank <= 20 ORDER BY rank""".stripMargin

  /** The bm25 derivation as a reusable WITH-body (rank ≤ 20 lives in
    * the consumer): shared by `search_bm25` and the hybrid-RRF oracle. */
  private def bm25Ctes: String = {
    val (k1, b) = (1.2, 0.75)
    val terms = Seq("spark", "query", "merge")
      .map(t => s"'$t'").mkString(", ")
    val (cK1, cK11, c1b, cB) =
      (dlit(k1), dlit(k1 + 1), dlit(1 - b), dlit(b))
    s"""nt AS (
       |  SELECT doc_id, trim(regexp_replace(lower(text), '\\s+', ' ',
       |    'g')) AS t FROM documents),
       |dls AS (SELECT doc_id, CASE WHEN t = '' THEN 0
       |    ELSE CAST(len(string_split(t, ' ')) AS BIGINT) END AS dl
       |  FROM nt),
       |stats AS (SELECT count(*) AS n_docs, sum(dl) AS total_dl,
       |    CAST(sum(dl) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS avgdl
       |  FROM dls),
       |tok AS (SELECT doc_id, unnest(string_split(t, ' ')) AS tok
       |        FROM nt WHERE t <> ''),
       |tf AS (SELECT doc_id, tok, count(*) AS tf FROM tok
       |       WHERE tok IN ($terms) GROUP BY 1, 2),
       |dfs AS (SELECT tok, count(*) AS df FROM tf GROUP BY tok),
       |per AS (SELECT tf.doc_id,
       |    CAST(round((((CAST(n_docs AS DOUBLE) - CAST(df AS DOUBLE)
       |        + 0.5) / (CAST(df AS DOUBLE) + 0.5))
       |      * ((CAST(tf AS DOUBLE) * $cK11)
       |         / (CAST(tf AS DOUBLE) + $cK1
       |            * ($c1b + ($cB * CAST(dl AS DOUBLE)) / avgdl))))
       |      * 1000000.0) AS BIGINT) AS term_micros
       |  FROM tf JOIN dls USING (doc_id) CROSS JOIN stats
       |  JOIN dfs USING (tok)),
       |sc AS (SELECT doc_id, CAST(sum(term_micros) AS BIGINT)
       |         AS score_micros FROM per GROUP BY doc_id),
       |r AS (SELECT doc_id, score_micros,
       |    CAST(row_number() OVER (ORDER BY score_micros DESC, doc_id)
       |      AS INTEGER) AS rank FROM sc)""".stripMargin
  }

  /** One 8-bit band key of the 8×8 embedding-LSH banding, computed
    * directly from its own 8 plane literals: bit i of band b is plane
    * b*8+i. Equivalent to `(sig >> b*8) & 255` over the engine's
    * 64-bit [[graft.functions.VectorFunctions.HyperplaneSignature]],
    * but bit 63 of a full-signature sum would need the BIGINT literal
    * 1<<63, which overflows DuckDB's checked addition — per-band sums
    * stay in [0, 255]. */
  private def embBandKeySql(edCol: String, band: Int): String = {
    val terms = (0 until 8).map { i =>
      val p = band * 8 + i
      val plane = (0 until 64)
        .map(d => dlit(graft.functions.VectorFunctions.hyperplaneComponent(p, d)))
        .mkString("CAST([", ",", "] AS DOUBLE[])")
      s"(CASE WHEN list_dot_product($edCol, $plane) >= 0 " +
        s"THEN ${1 << i} ELSE 0 END)"
    }
    terms.mkString("(", "\n + ", ")")
  }

  /** Shared by dedup_embedding (batch) and stream_embedding_dedup
    * (streaming twin): the stream's epoch-close per-vector max equals
    * the batch per-bucket-best + cross-band max — same report, same
    * SQL. The `capped` CTE replays the operators' keep-smallest
    * `maxBucket = 4096` bucket cap over the FULL banded set, so the
    * declared semantics stay exact at ANY corpus scale — the round-9
    * sf10 one-sided check caught the former oracle silently omitting
    * the cap, which the 16-key-per-band geometry engaged at 100×
    * (dropping 60 % of vectors from the engine report while the
    * oracle kept them). With the 8×8 banding the cap is dormant two
    * decades up (occupancy ≈ N/256 per band), but it is now DECLARED
    * rather than latent. */
  private def embDedupOracleSql: String = {
    val keys = (0 until 8).map(b => embBandKeySql("ed", b))
      .mkString("[", ",\n ", "]")
    s"""WITH base AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS ed
       |              FROM embeddings),
       |sg AS (SELECT vec_id, ed, $keys AS ks FROM base),
       |bands AS (SELECT unnest(generate_series(0, 7)) AS band),
       |bb AS (SELECT vec_id, ed, band, ks[band + 1] AS bkey
       |       FROM sg, bands),
       |capped AS (SELECT vec_id, ed, band, bkey, row_number() OVER (
       |        PARTITION BY band, bkey ORDER BY vec_id) AS rn
       |      FROM bb QUALIFY rn <= 4096),
       |s AS (SELECT DISTINCT a.vec_id AS vec_id, b.vec_id AS nn_id,
       |        ${cosineSql("a.ed", "b.ed")} AS cosine
       |      FROM capped a JOIN capped b ON a.band = b.band
       |        AND a.bkey = b.bkey AND a.vec_id <> b.vec_id),
       |r AS (SELECT vec_id, nn_id, cosine,
       |        row_number() OVER (PARTITION BY vec_id
       |          ORDER BY cosine DESC, nn_id) AS rk
       |      FROM s)
       |SELECT vec_id, nn_id, cosine, cosine >= 0.95 AS is_dup
       |FROM r WHERE rk = 1 ORDER BY vec_id""".stripMargin
  }

  /** Hybrid-RRF oracle: both candidate lists re-derived from scratch
    * (the bm25 CTE chain verbatim; the cosine ranking for doc 0's
    * embedding), then the fusion arithmetic — integer `//` floor
    * division, absent-list contribution 0 — recomputed exactly. */
  private def hybridRrfOracleSql: String =
    s"""WITH $bm25Ctes,
       |lexr AS (SELECT doc_id, rank FROM r WHERE rank <= 20),
       |qv AS (SELECT CAST(embedding AS DOUBLE[]) AS qe
       |       FROM embeddings WHERE vec_id = 0),
       |cs AS (SELECT c.vec_id AS doc_id,
       |         ${cosineSql("qe", "ce")} AS cosine
       |       FROM (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS ce
       |             FROM embeddings) c
       |       CROSS JOIN qv WHERE c.vec_id <> 0),
       |vr AS (SELECT doc_id,
       |         CAST(row_number() OVER (ORDER BY cosine DESC, doc_id)
       |           AS INTEGER) AS rank FROM cs),
       |vecr AS (SELECT doc_id, rank FROM vr WHERE rank <= 20),
       |f AS (SELECT coalesce(l.doc_id, v.doc_id) AS doc_id,
       |        l.rank AS lex_rank, v.rank AS vec_rank,
       |        CAST(coalesce(1000000 // (60 + l.rank), 0)
       |           + coalesce(1000000 // (60 + v.rank), 0)
       |          AS BIGINT) AS rrf_micros
       |      FROM lexr l FULL JOIN vecr v ON l.doc_id = v.doc_id),
       |fr AS (SELECT doc_id, lex_rank, vec_rank, rrf_micros,
       |         CAST(row_number() OVER (ORDER BY rrf_micros DESC, doc_id)
       |           AS INTEGER) AS rank FROM f)
       |SELECT doc_id, lex_rank, vec_rank, rrf_micros, rank FROM fr
       |WHERE rank <= 10 ORDER BY rank""".stripMargin

  /** The shared assignment CTE prefix for the k-means family: exact
    * centroid literals → per-vector scores → argmax row (rn = 1, ties
    * on the lowest cluster id — exactly Similarity.withCluster's
    * array_position argmax). */
  private def kmeansAssignCtes(cents: Seq[Seq[Float]]): String =
    s"""${centroidScoreCtes(cents)},
       |ranked AS (SELECT vec_id, ed, cid, score, row_number() OVER (
       |        PARTITION BY vec_id ORDER BY score DESC, cid) AS rn
       |      FROM scores),
       |assign AS (SELECT vec_id, ed, cid AS cluster_id, score
       |      FROM ranked WHERE rn = 1)""".stripMargin

  private def kmeansOracleSql(cents: Seq[Seq[Float]]): String =
    s"""WITH ${kmeansAssignCtes(cents)}
       |SELECT vec_id, CAST(cluster_id AS INTEGER) AS cluster_id,
       |  CAST(round(score * 1e6) AS BIGINT) AS score_micros
       |FROM assign ORDER BY vec_id""".stripMargin

  /** Within-cluster pair CTEs shared by the semantic pair and decision
    * oracles: the per-cluster affinity cap (a no-op at this SF, but
    * replicated so the oracle pins the capped semantics), then the
    * capped self-join with the threshold-0.4 cosine filter. */
  private def semanticPairCtes(cents: Seq[Seq[Float]]): String =
    s"""${kmeansAssignCtes(cents)},
       |capped AS (SELECT vec_id, ed, cluster_id, row_number() OVER (
       |        PARTITION BY cluster_id ORDER BY score DESC, vec_id)
       |        AS r FROM assign QUALIFY r <= 4096),
       |p AS (SELECT * FROM (
       |      SELECT a.cluster_id, a.vec_id AS id_a, b.vec_id AS id_b,
       |        ${cosineSql("a.ed", "b.ed")} AS cosine
       |      FROM capped a JOIN capped b
       |        ON a.cluster_id = b.cluster_id AND a.vec_id < b.vec_id)
       |      WHERE cosine >= 0.4)""".stripMargin

  private def semanticPairsOracleSql(cents: Seq[Seq[Float]]): String =
    s"""WITH ${semanticPairCtes(cents)}
       |SELECT CAST(cluster_id AS INTEGER) AS cluster_id, id_a, id_b,
       |  cosine
       |FROM p ORDER BY id_a, id_b""".stripMargin

  private def semanticDecisionsOracleSql(cents: Seq[Seq[Float]]): String =
    s"""WITH ${semanticPairCtes(cents)},
       |edges AS (SELECT id_a AS vec_id, id_b AS nb FROM p
       |          UNION ALL SELECT id_b, id_a FROM p),
       |rep0 AS (SELECT vec_id, min(nb) AS min_nb FROM edges
       |         GROUP BY vec_id),
       |r AS (SELECT e.vec_id,
       |        least(e.vec_id, coalesce(rep0.min_nb, e.vec_id)) AS rep
       |      FROM embeddings e LEFT JOIN rep0 ON e.vec_id = rep0.vec_id)
       |SELECT vec_id, vec_id = rep AS keep,
       |  CASE WHEN vec_id <> rep THEN rep END AS dup_of
       |FROM r ORDER BY vec_id""".stripMargin
}
