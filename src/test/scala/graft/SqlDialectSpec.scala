package graft

import org.scalatest.funsuite.AnyFunSuite

/** MySQL-dialect acceptance on the reference's SPJ parity surface
  * (QueryService.asmx.cs:143-157 parses with TDbVendor.DbVMysql): the
  * translator must rewrite exactly the constructs Spark rejects and
  * leave everything else — including quoted literals that LOOK like
  * those constructs — byte-identical. */
class SqlDialectSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val sfDir = TestSpark.sfDir
  import MySqlDialect.translate

  test("LIMIT offset,count rewrites to LIMIT count OFFSET offset") {
    assert(translate("SELECT a FROM t LIMIT 5, 10") ===
      "SELECT a FROM t LIMIT 10 OFFSET 5")
    assert(translate("select a from t limit 0,3") ===
      "select a from t LIMIT 3 OFFSET 0")
    // single-argument LIMIT is untouched
    assert(translate("SELECT a FROM t LIMIT 10") ===
      "SELECT a FROM t LIMIT 10")
    // already-Spark OFFSET form is untouched (idempotence)
    assert(translate("SELECT a FROM t LIMIT 10 OFFSET 5") ===
      "SELECT a FROM t LIMIT 10 OFFSET 5")
  }

  test("quoted literals and identifiers are never rewritten") {
    assert(translate("SELECT 'LIMIT 1, 2' AS s FROM t") ===
      "SELECT 'LIMIT 1, 2' AS s FROM t")
    assert(translate("SELECT \"LIMIT 3, 4\" AS s FROM t") ===
      "SELECT \"LIMIT 3, 4\" AS s FROM t")
    assert(translate("SELECT `LIMIT 5, 6` FROM t") ===
      "SELECT `LIMIT 5, 6` FROM t")
    // escaped quote inside a literal does not end the literal
    assert(translate("SELECT 'it''s LIMIT 1, 2' FROM t LIMIT 1, 2") ===
      "SELECT 'it''s LIMIT 1, 2' FROM t LIMIT 2 OFFSET 1")
    assert(translate("SELECT 'a\\' LIMIT 1, 2' FROM t") ===
      "SELECT 'a\\' LIMIT 1, 2' FROM t")
  }

  test("a column named limit_a is not mistaken for the keyword") {
    assert(translate("SELECT limit_a, b FROM t") ===
      "SELECT limit_a, b FROM t")
  }

  test("MySQL-flavored SPJ parity statement runs end-to-end and " +
      "matches the DataFrame-API result") {
    import org.apache.spark.sql.functions.col
    graft.sources.Tables.register(spark, sfDir)
    val engine = new Engine(spark, sfDir)
    val got = engine.getData(MySqlDialect.translate(
      """SELECT `c_custkey`, `c_name`
        |FROM `customer`
        |WHERE `c_nationkey` <> 3 AND `c_mktsegment` = "BUILDING"
        |ORDER BY `c_custkey` LIMIT 2, 4""".stripMargin))
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    val want = graft.sources.Tables.load(spark, sfDir, "customer")
      .filter(col("c_nationkey") =!= 3 &&
        col("c_mktsegment") === "BUILDING")
      .orderBy("c_custkey")
      .select("c_custkey", "c_name")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
      .slice(2, 6)
    assert(got === want)
    assert(got.size === 4)
  }

  // -------------------------------------------------------------------
  // GROUP_CONCAT
  // -------------------------------------------------------------------

  test("GROUP_CONCAT rewrites: plain, DISTINCT, SEPARATOR, ORDER BY " +
      "same-expr, ORDER BY independent key, multi-expr concat") {
    assert(translate("SELECT GROUP_CONCAT(x) FROM t") ===
      "SELECT array_join(collect_list(CAST(x AS STRING)), ',') FROM t")
    assert(translate("SELECT GROUP_CONCAT(DISTINCT x) FROM t") ===
      "SELECT array_join(sort_array(collect_set(CAST(x AS STRING))), ',')" +
        " FROM t")
    assert(translate("SELECT GROUP_CONCAT(x SEPARATOR '|') FROM t") ===
      "SELECT array_join(collect_list(CAST(x AS STRING)), '|') FROM t")
    // ORDER BY sorts by the key's NATIVE type (numerics numerically,
    // MySQL-style), so even the same-expression form struct-sorts
    assert(translate("SELECT GROUP_CONCAT(x ORDER BY x) FROM t") ===
      "SELECT array_join(transform(sort_array(collect_list(struct(" +
        "x AS k, CAST(x AS STRING) AS v)), true), x -> x.v), ',') FROM t")
    assert(translate("SELECT GROUP_CONCAT(x ORDER BY x DESC SEPARATOR " +
      "';') FROM t") ===
      "SELECT array_join(transform(sort_array(collect_list(struct(" +
        "x AS k, CAST(x AS STRING) AS v)), false), x -> x.v), ';') FROM t")
    // independent order key → sort-a-struct-then-project
    assert(translate("SELECT GROUP_CONCAT(name ORDER BY id) FROM t") ===
      "SELECT array_join(transform(sort_array(collect_list(struct(" +
        "id AS k, CAST(name AS STRING) AS v)), true), x -> x.v), ',') " +
        "FROM t")
    // multiple expressions concatenate per row, MySQL-style
    assert(translate("SELECT GROUP_CONCAT(a, b) FROM t") ===
      "SELECT array_join(collect_list(concat(CAST(a AS STRING), " +
        "CAST(b AS STRING))), ',') FROM t")
    // a literal that LOOKS like GROUP_CONCAT( is never touched
    assert(translate("SELECT 'GROUP_CONCAT(x)' FROM t") ===
      "SELECT 'GROUP_CONCAT(x)' FROM t")
  }

  test("GROUP_CONCAT untranslatable forms fail loudly") {
    intercept[MySqlDialect.UntranslatableSqlException] {
      translate("SELECT GROUP_CONCAT(DISTINCT a ORDER BY b) FROM t")
    }
    intercept[MySqlDialect.UntranslatableSqlException] {
      translate("SELECT GROUP_CONCAT(a ORDER BY b, c) FROM t")
    }
    intercept[MySqlDialect.UntranslatableSqlException] {
      translate("SELECT GROUP_CONCAT(a SEPARATOR sepcol) FROM t")
    }
  }

  test("GROUP_CONCAT end-to-end: per-nation ordered customer-key list " +
      "matches a driver-side MySQL-semantics computation (numeric " +
      "sort, string concat)") {
    graft.sources.Tables.register(spark, sfDir)
    val engine = new Engine(spark, sfDir)
    val got = engine.getData(MySqlDialect.translate(
      """SELECT `c_nationkey`,
        |  GROUP_CONCAT(`c_custkey` ORDER BY `c_custkey` SEPARATOR "|")
        |    AS ks
        |FROM `customer` GROUP BY `c_nationkey`
        |ORDER BY `c_nationkey` LIMIT 0, 5""".stripMargin))
      .collect().map(r => (r.get(0).toString.toLong, r.getString(1))).toSeq
    // independent spelling: group + numeric sort + concat on the driver
    val want = graft.sources.Tables.load(spark, sfDir, "customer")
      .select("c_nationkey", "c_custkey")
      .collect().map(r => (r.get(0).toString.toLong, r.get(1).toString.toLong))
      .groupBy(_._1).view
      .mapValues(_.map(_._2).sorted.mkString("|")).toSeq
      .sortBy(_._1).take(5)
    assert(got === want)
    assert(got.nonEmpty)
  }

  // -------------------------------------------------------------------
  // DATE_FORMAT
  // -------------------------------------------------------------------

  test("DATE_FORMAT %-patterns map to Spark patterns; literals are " +
      "quote-protected; unsupported tokens and computed patterns fail " +
      "loudly") {
    assert(translate("SELECT DATE_FORMAT(d, '%Y-%m-%d') FROM t") ===
      "SELECT date_format(d, 'yyyy-MM-dd') FROM t")
    assert(translate("SELECT DATE_FORMAT(d, '%H:%i:%s') FROM t") ===
      "SELECT date_format(d, 'HH:mm:ss') FROM t")
    assert(translate("SELECT DATE_FORMAT(d, '%Y%m%d%H%i%s') FROM t") ===
      "SELECT date_format(d, 'yyyyMMddHHmmss') FROM t")
    // literal text containing pattern letters gets single-quoted
    // (and the protecting quotes escape as \' inside the SQL literal)
    assert(translate("SELECT DATE_FORMAT(d, 'week %W of %Y') FROM t") ===
      "SELECT date_format(d, '\\'week \\'EEEE\\' of \\'yyyy') FROM t")
    // %% is a literal percent
    assert(translate("SELECT DATE_FORMAT(d, '%Y %% %m') FROM t") ===
      "SELECT date_format(d, 'yyyy % MM') FROM t")
    // nested inside GROUP_CONCAT translates too
    assert(translate(
      "SELECT GROUP_CONCAT(DATE_FORMAT(d, '%Y-%m')) FROM t") ===
      "SELECT array_join(collect_list(CAST(date_format(d, 'yyyy-MM') " +
        "AS STRING)), ',') FROM t")
    intercept[MySqlDialect.UntranslatableSqlException] {
      translate("SELECT DATE_FORMAT(d, '%X-%V') FROM t") // week-mode
    }
    intercept[MySqlDialect.UntranslatableSqlException] {
      translate("SELECT DATE_FORMAT(d, fmtcol) FROM t") // computed
    }
  }

  test("DATE_FORMAT end-to-end over events timestamps matches the " +
      "native date_format spelling") {
    import org.apache.spark.sql.functions._
    graft.sources.Tables.register(spark, sfDir)
    val engine = new Engine(spark, sfDir)
    val got = engine.getData(MySqlDialect.translate(
      """SELECT DATE_FORMAT(`ts`, '%Y-%m-%d %H:%i') AS f, `event_id`
        |FROM `events` ORDER BY `event_id` LIMIT 0, 10""".stripMargin))
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    val want = graft.sources.Tables.load(spark, sfDir, "events")
      .select(date_format(col("ts"), "yyyy-MM-dd HH:mm").as("f"),
        col("event_id"))
      .orderBy("event_id").limit(10)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(got === want)
    assert(got.size === 10)
  }

  // -------------------------------------------------------------------
  // ci collation mode
  // -------------------------------------------------------------------

  test("spark.graft.mysqlCollation=ci: string comparisons match " +
      "MySQL's case-insensitive semantics; off by default") {
    import spark.implicits._
    val t = Seq("Alice", "ALICE", "alice", "Bob", "Carol")
      .toDF("name")
    t.createOrReplaceTempView("ci_people")
    val q = "SELECT name FROM ci_people WHERE name = 'ALICE' ORDER BY name"
    // default (binary, Spark semantics): exactly the one exact match
    assert(spark.sql(q).as[String].collect().toSeq === Seq("ALICE"))
    spark.conf.set("spark.graft.mysqlCollation", "ci")
    try {
      // ci (MySQL semantics): all three case variants
      assert(spark.sql(q).as[String].collect().toSeq ===
        Seq("ALICE", "Alice", "alice"))
      // inequality + IN also collate
      assert(spark.sql("SELECT count(*) FROM ci_people WHERE name <> " +
        "'alice'").head.getLong(0) === 2L)
      assert(spark.sql("SELECT name FROM ci_people WHERE name IN " +
        "('ALICE', 'bob') ORDER BY name").as[String].collect().toSeq ===
        Seq("ALICE", "Alice", "Bob", "alice"))
      // range comparison collates too: 'an' < 'B' only case-insensitively
      assert(spark.sql("SELECT count(*) FROM ci_people WHERE name < 'b'")
        .head.getLong(0) === 3L)
      // non-string comparisons are untouched
      assert(spark.sql("SELECT count(*) FROM ci_people WHERE 1 = 1")
        .head.getLong(0) === 5L)
    } finally spark.conf.unset("spark.graft.mysqlCollation")
    // and the flag really is off again
    assert(spark.sql(q).as[String].collect().toSeq === Seq("ALICE"))
  }

  test("shared MySQL/Spark constructs pass through: <>, !=, IFNULL, " +
      "NOW comparison, backticks, double-quoted literals") {
    graft.sources.Tables.register(spark, sfDir)
    val engine = new Engine(spark, sfDir)
    // every function/operator here exists in BOTH dialects with the
    // same semantics — the acceptance claim is they need no rewrite
    val df = engine.getData(translate(
      """SELECT `s_suppkey`, IFNULL(`s_name`, "anon") AS nm,
        |  SUBSTRING_INDEX(`s_name`, "#", 1) AS pre
        |FROM `supplier`
        |WHERE `s_acctbal` != 0 AND `s_name` <> ""
        |  AND NOW() > TIMESTAMP "2000-01-01 00:00:00"
        |ORDER BY `s_suppkey` LIMIT 1, 3""".stripMargin))
    assert(df.collect().length === 3)
  }

  // -------------------------------------------------------------------
  // DATE_ADD / DATE_SUB (interval forms) and NOW()
  // -------------------------------------------------------------------

  test("DATE_ADD/DATE_SUB interval forms rewrite to interval " +
      "arithmetic; day-count form passes through; compound units and " +
      "computed quantities fail loudly") {
    assert(translate("SELECT DATE_ADD(d, INTERVAL 3 DAY) FROM t") ===
      "SELECT (d + INTERVAL 3 DAY) FROM t")
    assert(translate("SELECT DATE_SUB(d, INTERVAL 7 HOUR) FROM t") ===
      "SELECT (d - INTERVAL 7 HOUR) FROM t")
    // quoted quantity and case-insensitive unit, MySQL-style
    assert(translate("SELECT DATE_ADD(d, interval '2' week) FROM t") ===
      "SELECT (d + INTERVAL 2 WEEK) FROM t")
    // QUARTER folds to months (absent from Spark's interval literals)
    assert(translate("SELECT DATE_ADD(d, INTERVAL 2 QUARTER) FROM t") ===
      "SELECT (d + INTERVAL 6 MONTH) FROM t")
    // two-argument day-count form is Spark-identical: untouched, but
    // its arguments still scan (nested MySQL-isms translate)
    assert(translate("SELECT DATE_ADD(d, 3) FROM t") ===
      "SELECT DATE_ADD(d, 3) FROM t")
    assert(translate(
      "SELECT DATE_ADD(DATE_SUB(d, INTERVAL 1 DAY), 3) FROM t") ===
      "SELECT DATE_ADD((d - INTERVAL 1 DAY), 3) FROM t")
    intercept[MySqlDialect.UntranslatableSqlException] {
      translate("SELECT DATE_ADD(d, INTERVAL '1 2' DAY_HOUR) FROM t")
    }
    intercept[MySqlDialect.UntranslatableSqlException] {
      translate("SELECT DATE_ADD(d, INTERVAL n DAY) FROM t")
    }
  }

  test("NOW() truncates to MySQL's second precision; NOW(6) is full " +
      "precision; intermediate fsp fails loudly") {
    assert(translate("SELECT NOW() FROM t") ===
      "SELECT date_trunc('SECOND', current_timestamp()) FROM t")
    assert(translate("SELECT NOW(6) FROM t") ===
      "SELECT current_timestamp() FROM t")
    intercept[MySqlDialect.UntranslatableSqlException] {
      translate("SELECT NOW(3) FROM t")
    }
  }

  test("DATE_ADD interval end-to-end: next-month bucketing matches the " +
      "native add_months spelling") {
    import org.apache.spark.sql.functions._
    graft.sources.Tables.register(spark, sfDir)
    val engine = new Engine(spark, sfDir)
    val got = engine.getData(MySqlDialect.translate(
      """SELECT `o_orderkey`,
        |  DATE_FORMAT(DATE_ADD(`o_orderdate`, INTERVAL 1 MONTH),
        |              '%Y-%m-%d') AS nm,
        |  DATE_FORMAT(DATE_SUB(`o_orderdate`, INTERVAL 7 DAY),
        |              '%Y-%m-%d') AS pw
        |FROM `orders` ORDER BY `o_orderkey` LIMIT 0, 20""".stripMargin))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2)))
    val want = graft.sources.Tables.load(spark, sfDir, "orders")
      .select(col("o_orderkey"),
        date_format(add_months(col("o_orderdate"), 1), "yyyy-MM-dd")
          .as("nm"),
        date_format(date_sub(col("o_orderdate"), 7), "yyyy-MM-dd")
          .as("pw"))
      .orderBy("o_orderkey").limit(20)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2)))
    assert(got === want)
    assert(got.length === 20)
  }

  // -------------------------------------------------------------------
  // FROM_UNIXTIME / STR_TO_DATE / CURTIME
  // -------------------------------------------------------------------

  test("FROM_UNIXTIME: two-argument pattern is token-translated (the " +
      "silent-divergence trap); one-argument form passes through") {
    assert(translate("SELECT FROM_UNIXTIME(e, '%Y-%m-%d %H:%i') FROM t")
      === "SELECT from_unixtime(e, 'yyyy-MM-dd HH:mm') FROM t")
    // one-arg form: both dialects render yyyy-MM-dd HH:mm:ss
    assert(translate("SELECT FROM_UNIXTIME(e) FROM t") ===
      "SELECT FROM_UNIXTIME(e) FROM t")
    // nested MySQL-ism in the expr argument still translates
    assert(translate(
      "SELECT FROM_UNIXTIME(UNIX_TIMESTAMP(NOW()), '%Y') FROM t") ===
      "SELECT from_unixtime(UNIX_TIMESTAMP(" +
        "date_trunc('SECOND', current_timestamp())), 'yyyy') FROM t")
    intercept[MySqlDialect.UntranslatableSqlException] {
      translate("SELECT FROM_UNIXTIME(e, fmtcol) FROM t") // computed
    }
  }

  test("STR_TO_DATE: date-only format → to_date, any time field → " +
      "to_timestamp, time-only fails loudly (MySQL TIME has no Spark " +
      "type)") {
    assert(translate("SELECT STR_TO_DATE(s, '%d/%m/%Y') FROM t") ===
      "SELECT to_date(s, 'dd/MM/yyyy') FROM t")
    assert(translate(
      "SELECT STR_TO_DATE(s, '%Y-%m-%d %H:%i:%s') FROM t") ===
      "SELECT to_timestamp(s, 'yyyy-MM-dd HH:mm:ss') FROM t")
    intercept[MySqlDialect.UntranslatableSqlException] {
      translate("SELECT STR_TO_DATE(s, '%H:%i') FROM t") // time-only
    }
    // %y PARSES with different century pivots (MySQL 70-99 => 19xx,
    // Spark 'yy' => always 20xx) — must fail loudly, not shift values
    intercept[MySqlDialect.UntranslatableSqlException] {
      translate("SELECT STR_TO_DATE(s, '%d/%m/%y') FROM t")
    }
    // ...but %y stays fine in the FORMAT direction (identical output)
    assert(translate("SELECT DATE_FORMAT(d, '%y') FROM t") ===
      "SELECT date_format(d, 'yy') FROM t")
    // weekday NAMES determine no date: %W alone would translate to
    // to_date(s, 'EEEE') — valid Spark that silently returns NULL —
    // and alongside a full date MySQL ignores a contradicting weekday
    // while Spark's strict resolver rejects it. Loud in BOTH shapes.
    intercept[MySqlDialect.UntranslatableSqlException] {
      translate("SELECT STR_TO_DATE(s, '%W') FROM t") // weekday-only
    }
    intercept[MySqlDialect.UntranslatableSqlException] {
      translate("SELECT STR_TO_DATE(s, '%a %d/%m/%Y') FROM t")
    }
    // ...while the FORMAT direction keeps both weekday tokens
    assert(translate("SELECT DATE_FORMAT(d, '%W') FROM t") ===
      "SELECT date_format(d, 'EEEE') FROM t")
  }

  test("unknown-MySQL-function audit: unverified MySQL builtins fail " +
      "loudly at translate time (the silently-different class closed " +
      "wholesale); opt-out knob runs on Spark's own semantics") {
    // LENGTH is valid in BOTH dialects with different semantics
    // (bytes vs characters) — exactly the class the audit closes
    val e = intercept[MySqlDialect.UntranslatableSqlException] {
      translate(
        "SELECT LENGTH(c_name), VARIANCE(c_acctbal) FROM customer")
    }
    assert(e.getMessage.contains("LENGTH") &&
      e.getMessage.contains("BYTES"), e.getMessage)
    assert(e.getMessage.contains("VARIANCE") &&
      e.getMessage.contains("POPULATION"), e.getMessage)
    // a deliberately unmapped MySQL-only name also fails loudly with
    // the generic message (Spark would reject it anyway, but the
    // audit says WHY at translate time)
    intercept[MySqlDialect.UntranslatableSqlException] {
      translate("SELECT EXPORT_SET(b, 'Y', 'N') FROM t")
    }
    // the opt-out knob: same statement passes through untouched
    assert(MySqlDialect.translate(
      "SELECT LENGTH(c_name) FROM customer", strictFunctions = false)
      === "SELECT LENGTH(c_name) FROM customer")
    // names MySQL does not own (engine UDFs, Spark-only functions)
    // pass — the audit guards MySQL semantics, not Spark's registry
    assert(translate("SELECT text_jaccard(a, b, 3) FROM t") ===
      "SELECT text_jaccard(a, b, 3) FROM t")
    // verified-identical names pass, at any nesting depth
    assert(translate(
      "SELECT CONCAT(UPPER(a), SUBSTR(b, 1, 2)), COUNT(*) FROM t") ===
      "SELECT CONCAT(UPPER(a), SUBSTR(b, 1, 2)), COUNT(*) FROM t")
    // quoted literals never trip the audit
    assert(translate("SELECT 'LENGTH(x)' AS s FROM t") ===
      "SELECT 'LENGTH(x)' AS s FROM t")
    // intercepted functions still translate under the audit
    assert(translate("SELECT DATE_FORMAT(d, '%Y') FROM t") ===
      "SELECT date_format(d, 'yyyy') FROM t")
  }

  test("CURTIME renders MySQL's TIME text form; intermediate fsp " +
      "fails loudly") {
    assert(translate("SELECT CURTIME() FROM t") ===
      "SELECT date_format(current_timestamp(), 'HH:mm:ss') FROM t")
    assert(translate("SELECT CURTIME(6) FROM t") ===
      "SELECT date_format(current_timestamp(), 'HH:mm:ss.SSSSSS') FROM t")
    intercept[MySqlDialect.UntranslatableSqlException] {
      translate("SELECT CURTIME(3) FROM t")
    }
  }

  test("bare keyword expressions: NOW()/CURTIME() synonyms translate " +
      "with MySQL precision; untranslated keyword-callable names fail " +
      "the strict audit; qualified/quoted spellings stay identifiers") {
    // MySQL's CURRENT_TIMESTAMP/LOCALTIME/LOCALTIMESTAMP are legal
    // WITHOUT parens and second-precision; bare in Spark they resolve
    // to the MICROSECOND current_timestamp — the exact
    // silently-different class the audit exists for, now translated.
    assert(translate("SELECT CURRENT_TIMESTAMP FROM t") ===
      "SELECT date_trunc('SECOND', current_timestamp()) FROM t")
    assert(translate("SELECT current_timestamp, a FROM t") ===
      "SELECT date_trunc('SECOND', current_timestamp()), a FROM t")
    assert(translate("SELECT LOCALTIMESTAMP FROM t") ===
      "SELECT date_trunc('SECOND', current_timestamp()) FROM t")
    assert(translate("SELECT LOCALTIME FROM t") ===
      "SELECT date_trunc('SECOND', current_timestamp()) FROM t")
    assert(translate("SELECT CURRENT_TIME FROM t") ===
      "SELECT date_format(current_timestamp(), 'HH:mm:ss') FROM t")
    // parenthesized spellings translate through the same interception
    // (CURRENT_TIMESTAMP(fsp) is the NOW(fsp) synonym)
    assert(translate("SELECT CURRENT_TIMESTAMP() FROM t") ===
      "SELECT date_trunc('SECOND', current_timestamp()) FROM t")
    assert(translate("SELECT CURRENT_TIMESTAMP(6) FROM t") ===
      "SELECT current_timestamp() FROM t")
    assert(translate("SELECT CURRENT_TIME(6) FROM t") ===
      "SELECT date_format(current_timestamp(), 'HH:mm:ss.SSSSSS') FROM t")
    // dot-qualified and backquoted spellings are column references
    assert(translate("SELECT t.current_timestamp FROM t") ===
      "SELECT t.current_timestamp FROM t")
    assert(translate("SELECT `current_timestamp` FROM t") ===
      "SELECT `current_timestamp` FROM t")
    assert(translate("SELECT 'CURRENT_TIMESTAMP' AS s FROM t") ===
      "SELECT 'CURRENT_TIMESTAMP' AS s FROM t")
    // the UTC wall-clock family translates in both spellings with the
    // same precision discipline (second-truncated default, fsp 6 full)
    val utcNow =
      "to_utc_timestamp(current_timestamp(), current_timezone())"
    assert(translate("SELECT UTC_TIMESTAMP FROM t") ===
      s"SELECT date_trunc('SECOND', $utcNow) FROM t")
    assert(translate("SELECT UTC_TIMESTAMP() FROM t") ===
      s"SELECT date_trunc('SECOND', $utcNow) FROM t")
    assert(translate("SELECT UTC_TIMESTAMP(6) FROM t") ===
      s"SELECT $utcNow FROM t")
    assert(translate("SELECT UTC_DATE FROM t") ===
      s"SELECT to_date($utcNow) FROM t")
    assert(translate("SELECT UTC_DATE() FROM t") ===
      s"SELECT to_date($utcNow) FROM t")
    assert(translate("SELECT UTC_TIME FROM t") ===
      s"SELECT date_format($utcNow, 'HH:mm:ss') FROM t")
    assert(translate("SELECT UTC_TIME(6) FROM t") ===
      s"SELECT date_format($utcNow, 'HH:mm:ss.SSSSSS') FROM t")
    intercept[MySqlDialect.UntranslatableSqlException] {
      translate("SELECT UTC_TIMESTAMP(3) FROM t") // fsp 1..5: loud
    }
    intercept[MySqlDialect.UntranslatableSqlException] {
      translate("SELECT UTC_DATE(1) FROM t") // takes no argument
    }
    // keyword-callable names with no faithful Spark spelling fail the
    // audit loudly instead of resolving as an unbound column
    intercept[MySqlDialect.UntranslatableSqlException] {
      translate("SELECT CURRENT_USER FROM t")
    }
    // ...but a dot-qualified use is a column, not the keyword
    assert(translate("SELECT t.utc_timestamp FROM t") ===
      "SELECT t.utc_timestamp FROM t")
    assert(translate("SELECT t.current_user FROM t") ===
      "SELECT t.current_user FROM t")
    // opt-out skips the bare-keyword audit like the function audit
    assert(MySqlDialect.translate(
      "SELECT CURRENT_USER FROM t", strictFunctions = false) ===
      "SELECT CURRENT_USER FROM t")
  }

  test("UTC_TIMESTAMP/UTC_DATE/UTC_TIME evaluate to the UTC wall " +
      "clock through the engine (identity with NOW in a UTC session)") {
    graft.sources.Tables.register(spark, sfDir)
    val engine = new Engine(spark, sfDir)
    // The engine session runs UTC, so MySQL's UTC family must agree
    // with the session clock: UTC_TIMESTAMP == NOW() (both
    // second-truncated) and UTC_DATE == CURDATE(). No boundary race:
    // current_timestamp() is query-stable, so both sides of each
    // comparison see the same instant.
    val rows = engine.getData(translate(
      "SELECT (UTC_TIMESTAMP = NOW()) AS ts_eq, " +
        "(UTC_DATE = CURDATE()) AS d_eq FROM region LIMIT 1")).collect()
    assert(rows.head.getBoolean(0) && rows.head.getBoolean(1))
  }

  test("FROM_UNIXTIME/STR_TO_DATE end-to-end: epoch round-trip and " +
      "date re-parse reproduce the source dates") {
    graft.sources.Tables.register(spark, sfDir)
    val engine = new Engine(spark, sfDir)
    // UNIX_TIMESTAMP(date) → FROM_UNIXTIME(…, '%Y-%m-%d') must
    // round-trip in the UTC session; STR_TO_DATE re-parses the
    // DATE_FORMAT rendering back to the original DATE value
    // o_orderdate is a midnight TIMESTAMP in the corpus, so the epoch
    // round-trip renders the full second-precision text and the
    // re-parse compares at DATE granularity
    val bad = engine.getData(translate(
      """SELECT `o_orderkey`
        |FROM `orders`
        |WHERE FROM_UNIXTIME(UNIX_TIMESTAMP(`o_orderdate`),
        |                    '%Y-%m-%d %H:%i:%s')
        |        <> CAST(`o_orderdate` AS STRING)
        |   OR STR_TO_DATE(DATE_FORMAT(`o_orderdate`, '%d/%m/%Y'),
        |                  '%d/%m/%Y') <> CAST(`o_orderdate` AS DATE)"""
        .stripMargin))
    assert(bad.count() === 0L)
  }

  // -------------------------------------------------------------------
  // comments and the table of translated names
  // -------------------------------------------------------------------

  test("comments follow MySQL's rules: copied verbatim and never " +
      "audited or rewritten, # spelled --, -- only before whitespace, " +
      "executable /*! */ comments fail loudly") {
    // an apostrophe inside a comment opens no string literal
    assert(translate("SELECT a, -- don't\n DATE_FORMAT(d, '%Y') FROM t") ===
      "SELECT a, -- don't\n date_format(d, 'yyyy') FROM t")
    val e = intercept[MySqlDialect.UntranslatableSqlException] {
      translate("SELECT a -- isn't\n, LENGTH(s) FROM t")
    }
    assert(e.getMessage.contains("LENGTH"), e.getMessage)
    // Spark's parser rejects #, so a MySQL # comment is spelled --
    assert(translate("SELECT a # it's\n, NOW() FROM t LIMIT 1, 2") ===
      "SELECT a -- it's\n, date_trunc('SECOND', current_timestamp()) " +
        "FROM t LIMIT 2 OFFSET 1")
    assert(translate("SELECT a /* it's NOW() */, NOW() FROM t") ===
      "SELECT a /* it's NOW() */, date_trunc('SECOND', " +
        "current_timestamp()) FROM t")
    // MySQL reads -- without whitespace after it as two minus signs;
    // Spark would read a comment, so the minus signs are split
    assert(translate("SELECT 5--3 AS x FROM t") ===
      "SELECT 5- -3 AS x FROM t")
    assert(spark.sql(translate("SELECT 5--3 AS x")).head().getInt(0) === 8)
    assert(spark.sql(translate("SELECT 1 AS x # it's\n, 2 AS y"))
      .columns.toSeq === Seq("x", "y"))
    // MySQL ends a line comment at the newline even after a backslash;
    // Spark would carry it onto the next line and drop column y
    assert(translate("SELECT 1 AS x -- a\\\n, 2 AS y") ===
      "SELECT 1 AS x -- a\\ \n, 2 AS y")
    assert(spark.sql(translate("SELECT 1 AS x -- a\\\n, 2 AS y"))
      .columns.toSeq === Seq("x", "y"))
    // inside a re-spelled call a comment is one space
    assert(translate("SELECT DATE_FORMAT(d, /* it's */ '%Y') FROM t") ===
      "SELECT date_format(d, 'yyyy') FROM t")
    assert(translate("SELECT GROUP_CONCAT(x -- it's\n) FROM t") ===
      "SELECT array_join(collect_list(CAST(x AS STRING)), ',') FROM t")
    // MySQL runs the text of an executable comment; Spark would not
    intercept[MySqlDialect.UntranslatableSqlException] {
      translate("SELECT /*!50000 SQL_NO_CACHE */ a FROM t")
    }
    intercept[MySqlDialect.UntranslatableSqlException] {
      translate("SELECT a /*! , b */ FROM t", strictFunctions = false)
    }
  }

  test("every translated name passes the strict audit and is " +
      "rewritten; keyword synonyms are rewritten bare; literals and " +
      "comments translate to themselves") {
    val callArgs = Map(
      "GROUP_CONCAT" -> "x", "DATE_FORMAT" -> "d, '%Y'",
      "DATE_ADD" -> "d, INTERVAL 1 DAY", "DATE_SUB" -> "d, INTERVAL 1 DAY",
      "FROM_UNIXTIME" -> "e, '%Y'", "STR_TO_DATE" -> "s, '%Y-%m-%d'",
      "NOW" -> "", "CURTIME" -> "", "CURRENT_TIMESTAMP" -> "",
      "LOCALTIME" -> "", "LOCALTIMESTAMP" -> "", "CURRENT_TIME" -> "",
      "UTC_TIMESTAMP" -> "", "UTC_DATE" -> "", "UTC_TIME" -> "")
    assert(callArgs.keySet === MySqlDialect.translated.keySet)
    for ((name, args) <- callArgs; spelled <- Seq(name, name.toLowerCase)) {
      val sql = s"SELECT $spelled($args) FROM t"
      assert(translate(sql) !== sql, sql)
    }
    val bare = Set("CURRENT_TIMESTAMP", "LOCALTIME", "LOCALTIMESTAMP",
      "CURRENT_TIME", "UTC_TIMESTAMP", "UTC_DATE", "UTC_TIME")
    for (name <- callArgs.keys) {
      val sql = s"SELECT $name FROM t"
      assert((translate(sql) !== sql) === bare(name), sql)
    }
    val inert =
      """SELECT 'LIMIT 1, 2' AS a, "GROUP_CONCAT(x)" AS b, `NOW()` AS c
        |  -- LIMIT 1, 2 and NOW() aren't rewritten here
        |FROM t /* GROUP_CONCAT( LENGTH(s) isn't audited */
        |WHERE s <> 'LENGTH(' -- GROUP_CONCAT(""".stripMargin
    assert(translate(inert) === inert)
  }

  test("claimed Spark-identical functions really are: WEEKDAY " +
      "(0=Monday), CURDATE, DATEDIFF argument order, TIMESTAMPDIFF") {
    // 2024-01-01 is a Monday; MySQL WEEKDAY('2024-01-01') = 0,
    // DATEDIFF('2024-01-03','2024-01-01') = 2 (first minus second),
    // TIMESTAMPDIFF(DAY, a, b) = b - a
    val r = spark.sql(
      """SELECT weekday(DATE'2024-01-01') AS wd,
        |  datediff(DATE'2024-01-03', DATE'2024-01-01') AS dd,
        |  timestampdiff(DAY, DATE'2024-01-01', DATE'2024-01-04') AS td,
        |  curdate() = current_date() AS cd""".stripMargin).head()
    assert(r.getInt(0) === 0)
    assert(r.getInt(1) === 2)
    assert(r.getLong(2) === 3L)
    assert(r.getBoolean(3))
  }
}
