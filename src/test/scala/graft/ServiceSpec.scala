package graft

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.graft.bridge
import org.apache.spark.sql.util.QueryExecutionListener
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Iterate
import graft.plans.PlanJson

/** The delivery-surface contract over a REAL socket: SQL goes in as an
  * HTTP POST, the reference's envelope (both plans + statistics + rows)
  * comes back — closing the one lifecycle step the library facade
  * (`Engine`) didn't replicate (`QueryService.asmx.cs:24-29`). */
class ServiceSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private lazy val engine = new Engine(spark, TestSpark.sfDir)

  private def withService(f: (HttpClient, Int) => Unit): Unit =
    withServiceOf(engine)(f)

  private def withServiceOf(eng: Engine)(f: (HttpClient, Int) => Unit)
      : Unit = {
    val svc = new Service(eng, port = 0)
    val port = svc.start()
    try f(HttpClient.newHttpClient(), port)
    finally svc.stop()
  }

  private def post(c: HttpClient, port: Int, path: String,
      body: String): String =
    c.send(
      HttpRequest.newBuilder(URI.create(s"http://localhost:$port$path"))
        .POST(HttpRequest.BodyPublishers.ofString(body)).build(),
      HttpResponse.BodyHandlers.ofString()).body()

  private def form(sql: String, limit: Int): String =
    "sql=" + java.net.URLEncoder.encode(sql, "UTF-8") + s"&limit=$limit"

  // (SQL, route limit): each case's rows must come back as
  // `df.limit(limit).toJSON.collect()` renders them
  private val bodyCases: Seq[(String, Int)] = Seq(
    "SELECT o_orderkey, o_custkey FROM orders ORDER BY o_orderkey " +
      "LIMIT 7 OFFSET 3" -> 1000,
    // about 6000 rows in several range partitions: the take crosses
    // partitions and must keep their order
    "SELECT l_orderkey, l_linenumber, l_quantity FROM lineitem " +
      "ORDER BY l_orderkey DESC, l_linenumber" -> 2000,
    "SELECT o_orderstatus, count(*) AS n, sum(o_totalprice) AS total " +
      "FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus" -> 1000,
    "SELECT count(*) AS n, max(o_orderdate) AS last FROM orders" -> 1000,
    "SELECT c_custkey FROM customer WHERE c_custkey < 0" -> 1000,
    "SELECT c_custkey, CASE WHEN c_custkey % 3 = 0 THEN NULL " +
      "ELSE c_name END AS name, NULL AS nothing, " +
      "CAST(NULL AS DOUBLE) AS x FROM customer ORDER BY c_custkey " +
      "LIMIT 10" -> 1000,
    "SELECT o_orderkey, o_orderdate, " +
      "CAST(o_orderdate AS TIMESTAMP) + INTERVAL 90 MINUTES AS ts, " +
      "CAST(o_totalprice AS DECIMAL(12, 2)) AS price, " +
      "DATE '1200-06-15' AS old_day, " +
      "TIMESTAMP '1969-12-31 23:59:59.123456' AS old_ts, " +
      "CAST(-0.5 AS DECIMAL(38, 18)) AS wide FROM orders " +
      "ORDER BY o_orderkey LIMIT 5" -> 1000,
    "SELECT 'say \"hi\" \\\\ it\\'s' AS q, " +
      "'naïve café — 東京 😀' AS u, " +
      "concat('tab', char(9), 'nl', char(10), 'bell', char(7)) AS ctl, " +
      "n_name AS `col \"name\"` FROM nation ORDER BY n_nationkey" -> 3,
    "SELECT c_custkey, c_name FROM customer ORDER BY c_custkey " +
      "LIMIT 50" -> 10,
    "SELECT n_nationkey, n_name FROM nation LIMIT 20" -> 5)

  test("/getData and /query rows are byte-identical to " +
      "df.limit(n).toJSON, with and without partition coalescing") {
    def check(eng: Engine): Unit = withServiceOf(eng) { (c, port) =>
      bodyCases.foreach { case (sql, n) =>
        val want = eng.getData(sql).limit(n).toJSON.collect()
        val schema = eng.getData(sql).schema.fieldNames
          .map(f => "\"" + PlanJson.jsonEscape(f) + "\"")
          .mkString("[", ",", "]")
        val tail = s""""schema":$schema,"rows":""" +
          want.mkString("[", ",", "]") + s""","rowCount":${want.length}}"""
        assert(post(c, port, "/getData", form(sql, n)) === "{" + tail, sql)
        val q = post(c, port, "/query", form(sql, n))
        assert(q.startsWith("{\"originalPlan\"") && q.endsWith("," + tail),
          s"$sql\n${q.takeRight(300)}")
      }
    }
    check(engine)
    // four range partitions instead of one coalesced partition
    Iterate.scoped(spark,
      "spark.sql.adaptive.coalescePartitions.enabled" -> "false") { s =>
      check(new Engine(s, TestSpark.sfDir))
    }
  }

  test("a negative limit is still Spark's own error") {
    withService { (c, port) =>
      val sql = "SELECT c_custkey FROM customer"
      val want = intercept[Exception](engine.getData(sql).limit(-1))
        .getMessage
      for (route <- Seq("/getData", "/query"))
        assert(post(c, port, route, form(sql, -1)) ===
          s"""{"error":"${PlanJson.jsonEscape(want)}"}""", route)
    }
  }

  test("a warm point lookup via /getData runs one Spark job") {
    val jobs = new java.util.concurrent.atomic.AtomicInteger()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    withService { (c, port) =>
      def lookup(k: Int) = post(c, port, "/getData",
        s"SELECT c_custkey, c_name FROM customer WHERE c_custkey = $k")
      assert(lookup(7).endsWith("\"rowCount\":1}"))
      bridge.drainListeners(spark.sparkContext)
      spark.sparkContext.addSparkListener(listener)
      try {
        assert(lookup(8).endsWith("\"rowCount\":1}"))
        bridge.drainListeners(spark.sparkContext)
      } finally spark.sparkContext.removeSparkListener(listener)
      assert(jobs.get === 1)
    }
  }

  test("/query optimizes one plan: the rows run the plan the body shows") {
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[QueryExecution]
    val listener = new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        seen.add(qe)
      override def onFailure(f: String, qe: QueryExecution,
          e: Exception): Unit = seen.add(qe)
    }
    withService { (c, port) =>
      val sql = "SELECT o_orderstatus, count(*) AS n FROM orders " +
        "WHERE o_custkey > 10 GROUP BY o_orderstatus ORDER BY n DESC"
      post(c, port, "/query", form(sql, 1000))
      bridge.drainListeners(spark.sparkContext)
      spark.listenerManager.register(listener)
      val body = try {
        val b = post(c, port, "/query", form(sql, 1000))
        bridge.drainListeners(spark.sparkContext)
        b
      } finally spark.listenerManager.unregister(listener)
      assert(seen.size === 1, "one execution per request")
      val qe = seen.peek()
      assert(body.contains(
        s"""{"originalPlan":${PlanJson.toJson(qe.analyzed)},""" +
          s""""optimizedPlan":${PlanJson.toJson(qe.optimizedPlan)},"""),
        body.take(300))
    }
  }

  test("POST /query returns the full envelope: plans, stats, rows") {
    withService { (c, port) =>
      val body = post(c, port, "/query",
        "sql=" + java.net.URLEncoder.encode(
          "SELECT n_name, count(*) AS n FROM customer c " +
            "JOIN nation n ON c.c_nationkey = n.n_nationkey " +
            "GROUP BY n_name ORDER BY n DESC, n_name LIMIT 3",
          "UTF-8"))
      assert(body.contains("\"originalPlan\""), body.take(200))
      assert(body.contains("\"optimizedPlan\""))
      assert(body.contains("\"statistics\""))
      assert(body.contains("\"OpType\"")) // the reference's plan schema
      assert(body.contains("\"rowCount\":3"), body.takeRight(200))
      assert(body.contains("n_name"))
    }
  }

  test("POST /explain returns plans and stats WITHOUT rows — " +
      "plan inspection costs zero scans") {
    withService { (c, port) =>
      val body = post(c, port, "/explain",
        "sql=" + java.net.URLEncoder.encode(
          "SELECT count(*) FROM lineitem WHERE l_quantity > 10",
          "UTF-8"))
      assert(body.contains("\"originalPlan\""), body.take(200))
      assert(body.contains("\"optimizedPlan\""))
      assert(body.contains("\"statistics\""))
      // no result payload: the plan-stats "rowCount" (a Catalyst
      // estimate) is fine, a "rows" array is not
      assert(!body.contains("\"rows\""))
      assert(!body.contains("\"schema\""))
    }
  }

  test("POST /getData returns rows only; limit bounds the payload") {
    withService { (c, port) =>
      val body = post(c, port, "/getData",
        "sql=" + java.net.URLEncoder.encode(
          "SELECT c_custkey FROM customer ORDER BY c_custkey", "UTF-8") +
          "&limit=5")
      assert(body.contains("\"rowCount\":5"), body.takeRight(120))
      assert(!body.contains("originalPlan"))
    }
  }

  test("raw-body SQL works; errors come back as JSON, not a dead socket") {
    withService { (c, port) =>
      val ok = post(c, port, "/getData", "SELECT 1 AS one")
      assert(ok.contains("\"one\":1"), ok)
      val err = post(c, port, "/query", "SELEKT nonsense")
      assert(err.contains("\"error\""), err.take(200))
    }
  }

  test("raw SQL containing the substring 'sql=' is not shredded as a " +
      "form body") {
    withService { (c, port) =>
      val ok = post(c, port, "/getData",
        "SELECT 'sql=' AS marker, 2 AS two")
      assert(ok.contains("\"two\":2") && ok.contains("sql="), ok)
    }
  }

  test("plan view page escapes markup it interpolates") {
    withService { (c, port) =>
      val body = c.send(
        HttpRequest.newBuilder(URI.create(s"http://localhost:$port/"))
          .GET().build(),
        HttpResponse.BodyHandlers.ofString()).body()
      // the esc() helper exists and every interpolation site uses it —
      // a data cell like '<img onerror=…>' must render inert
      assert(body.contains("function esc("))
      // every SVG interpolation site (node label, truncated condition,
      // tooltip) and every table cell goes through esc()
      assert(body.contains("esc(p.label)") &&
        body.contains("esc(p.cond)") && body.contains("esc(p.full)") &&
        body.contains("esc(x[c])"))
    }
  }

  test("GET / serves the self-contained plan view page") {
    withService { (c, port) =>
      val body = c.send(
        HttpRequest.newBuilder(URI.create(s"http://localhost:$port/"))
          .GET().build(),
        HttpResponse.BodyHandlers.ofString()).body()
      assert(body.contains("<html>") && body.contains("optimized plan"))
    }
  }

  test("concurrent requests all succeed — the engine and catalog are " +
      "safe under the service's thread pool") {
    withService { (c, port) =>
      import scala.concurrent.{Await, Future}
      import scala.concurrent.duration._
      // a dedicated 8-thread pool, not ExecutionContext.global: the
      // global pool sizes to the CPU count, so on a small box fewer
      // than 8 posts would be in flight and the service pool never
      // saturates — the concurrency this test exists to exercise
      val pool = java.util.concurrent.Executors.newFixedThreadPool(8)
      implicit val ec: scala.concurrent.ExecutionContext =
        scala.concurrent.ExecutionContext.fromExecutor(pool)
      try {
        val sqls = (0 until 8).map(i =>
          s"SELECT count(*) AS n FROM orders WHERE o_custkey % 8 = $i")
        val bodies = Await.result(
          Future.sequence(sqls.map(q => Future(
            post(c, port, "/query",
              "sql=" + java.net.URLEncoder.encode(q, "UTF-8"))))),
          120.seconds)
        bodies.foreach { b =>
          // the terminal `"rowCount":1}` — the RESULT count, not a
          // plan-statistics rowCount estimate that happens to start
          // with 1
          assert(b.endsWith("\"rowCount\":1}") && !b.contains("error"),
            b.take(200))
        }
      } finally pool.shutdown()
    }
  }

  test("POST /stream sends the FULL result as NDJSON — unbounded rows, " +
      "bounded driver memory — and survives concurrent streams") {
    withService { (c, port) =>
      val expect = engine.getData("SELECT count(*) c FROM customer")
        .collect()(0).getLong(0)
      def streamCount(): Int = {
        val body = post(c, port, "/stream",
          "sql=" + java.net.URLEncoder.encode(
            "SELECT c_custkey, c_name FROM customer", "UTF-8"))
        val lines = body.split("\n").filter(_.nonEmpty)
        assert(lines.forall(l => l.startsWith("{") && l.endsWith("}")),
          lines.take(2).mkString("|"))
        lines.length
      }
      // the whole table comes back — no default limit on this route
      assert(streamCount().toLong === expect)
      // concurrency: three simultaneous full-table streams plus a
      // bounded /query must all complete intact on the 4-thread pool
      import java.util.concurrent.{Executors, TimeUnit}
      val pool = Executors.newFixedThreadPool(4)
      val streams = (1 to 3).map(_ =>
        pool.submit(new java.util.concurrent.Callable[Int] {
          def call(): Int = streamCount()
        }))
      val q = pool.submit(new java.util.concurrent.Callable[String] {
        def call(): String = post(c, port, "/query",
          "sql=" + java.net.URLEncoder.encode(
            "SELECT count(*) AS n FROM nation", "UTF-8"))
      })
      pool.shutdown()
      assert(pool.awaitTermination(120, TimeUnit.SECONDS))
      streams.foreach(f => assert(f.get().toLong === expect))
      assert(q.get().contains("\"rowCount\":1"))
    }
  }

  test("POST /stream raises analysis errors as JSON before any bytes " +
      "stream") {
    withService { (c, port) =>
      val body = post(c, port, "/stream",
        "sql=" + java.net.URLEncoder.encode(
          "SELECT nope FROM customer", "UTF-8"))
      assert(body.startsWith("{\"error\":"), body.take(120))
    }
  }

  test("QueryResult bounded forms: rowsLimited and rowsIterator") {
    val r = engine.query(
      "SELECT o_orderkey FROM orders ORDER BY o_orderkey")
    assert(r.rowsLimited(7).length === 7)
    assert(r.rowsIterator.take(3).size === 3)
    val (limited, stats) = r.executeWithStats(5)
    assert(limited.length === 5)
    assert(stats.contains("\"node\"")) // the walk saw the executed plan
  }

  test("QueryResult's bounded forms take from the frame's own plan") {
    val r = engine.query(
      "SELECT o_orderkey, o_orderdate, o_totalprice FROM orders " +
        "ORDER BY o_orderkey")
    val want = r.df.limit(6).collect()
    assert(r.rowsLimited(6) === want)
    val (rows, stats) = r.executeWithStats(6)
    assert(rows === want)
    // the walk reports r.df's plan: its sort, not a top-k over it
    assert(stats.contains("\"node\":\"Sort\""), stats)
    assert(!stats.contains("TakeOrdered"), stats)
  }
}
