package graft

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.nio.charset.StandardCharsets

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{And, EqualTo, In, Literal}
import org.apache.spark.sql.execution.{FilterExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Iterate
import graft.plans.{BoundInSet, BoundLiteral, OrdinalGlobalLimitExec, OrdinalLocalLimitExec, StableCodegen}

/** [[graft.plans.StableCodegen]]: a Service request shape compiles its
  * classes once, whatever key it carries, and the rule changes neither
  * results, plan text, pushdown nor exchange reuse. */
class StableCodegenSpec extends AnyFunSuite with AdaptiveSparkPlanHelper {
  private lazy val spark = TestSpark.spark
  private lazy val engine = new Engine(spark, TestSpark.sfDir)

  private def compiles = CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  // o_custkey → its order keys, ascending, and its exact total in cents
  private lazy val orders: Map[Long, (Seq[Long], Long)] = {
    engine
    spark.sql(
      """SELECT o_custkey, sort_array(collect_list(o_orderkey)),
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(18, 2))) * 100 AS BIGINT)
        |FROM orders GROUP BY o_custkey""".stripMargin)
      .collect().map(r => r.getLong(0) ->
        (r.getSeq[Long](1), r.getLong(2))).toMap
  }
  private lazy val names: Map[Long, String] = {
    engine
    spark.sql("SELECT c_custkey, c_name FROM customer").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
  }
  // keys with orders: a key without any gives the joins an empty side,
  // which AQE plans as a different shape (an empty relation)
  private lazy val keys: Seq[Long] = orders.keys.toSeq.sorted

  private def bound(plan: SparkPlan): Seq[BoundLiteral] =
    collect(plan) { case f: FilterExec => f.condition }
      .flatMap(_.collect { case b: BoundLiteral => b })

  /** Route, SQL and the expected end of the response body of one
    * request of each executing Service shape. */
  private def requests(k: Long): Seq[(String, String, String)] = {
    val (orderKeys, cents) = orders(k)
    val page = orderKeys.slice(2, 5)
    Seq(
      ("/getData",
        s"SELECT c_custkey, c_name FROM customer WHERE c_custkey = $k",
        s"""[{"c_custkey":$k,"c_name":"${names(k)}"}],"rowCount":1}"""),
      ("/getData", s"SELECT count(*) AS n FROM orders WHERE o_custkey = $k",
        s"""[{"n":${orderKeys.size}}],"rowCount":1}"""),
      ("/query", MySqlDialect.translate(
        s"SELECT `o_orderkey` FROM `orders` WHERE `o_custkey` = $k " +
          "ORDER BY `o_orderkey` LIMIT 2, 3"),
        page.map(o => s"""{"o_orderkey":$o}""")
          .mkString(""""rows":[""", ",", s"""],"rowCount":${page.size}}""")),
      ("/query",
        s"""SELECT c.c_name, count(*) AS n,
           |  CAST(round(sum(o.o_totalprice) * 100) AS BIGINT) AS cents
           |FROM customer_f c JOIN orders_f o ON c.c_custkey = o.o_custkey
           |WHERE c.c_custkey = $k GROUP BY c.c_name""".stripMargin,
        s""""rows":[{"c_name":"${names(k)}","n":${orderKeys.size},""" +
          s""""cents":$cents}],"rowCount":1}"""))
  }

  test("a new key reuses the generated code of its request shape") {
    val svc = new Service(engine, port = 0)
    val port = svc.start()
    val client = HttpClient.newHttpClient()
    def post(route: String, sql: String): String =
      client.send(HttpRequest.newBuilder(
          URI.create(s"http://localhost:$port$route"))
        .POST(HttpRequest.BodyPublishers.ofString(sql, StandardCharsets.UTF_8))
        .build(), HttpResponse.BodyHandlers.ofString()).body()
    try {
      val warm = keys.head
      val fresh = keys.slice(1, 21)
      assert(fresh.size === 20)
      requests(warm).foreach { case (route, sql, _) => post(route, sql) }
      val before = compiles
      val bodies = fresh.flatMap(k => requests(k).map { case (r, sql, want) =>
        (post(r, sql), want)
      }) :+ {
        val (route, sql, want) = requests(warm).head
        (post(route, sql), want)
      }
      val compiled = compiles - before
      bodies.foreach { case (body, want) =>
        assert(body.endsWith(want), s"want …$want got ${body.takeRight(200)}")
      }
      assert(compiled === 0,
        s"$compiled classes compiled for 20 new keys and a repeated query")
    } finally svc.stop()
  }

  test("bound comparisons return the rows of an interpreted run, " +
      "with and without whole-stage codegen") {
    val dir = java.nio.file.Files.createTempDirectory("stable-codegen").toString
    val id = col("id")
    spark.range(0, 200, 1, 4).select(
      when(id % 10 =!= 0, (id - 50).cast("int")).as("i"),
      when(id % 10 =!= 1, id * 1000000007L).as("l"),
      when(id % 10 =!= 2, date_add(lit(java.time.LocalDate.of(2024, 1, 1)),
        (id - 100).cast("int"))).as("d"),
      when(id % 10 =!= 3, timestamp_seconds(id * 3600)).as("ts"),
      when(id % 10 =!= 4, id * 0.25 - 10).as("x"))
      .write.mode("overwrite").parquet(dir)
    val values: Seq[(String, Seq[Any])] = Seq(
      "i" -> Seq(7, -3, 60),
      "l" -> Seq(7 * 1000000007L, 0L, 150 * 1000000007L),
      "d" -> Seq(java.time.LocalDate.of(2024, 1, 1),
        java.time.LocalDate.of(2023, 12, 1), java.time.LocalDate.of(2024, 2, 1)),
      "ts" -> Seq(java.time.Instant.ofEpochSecond(36000),
        java.time.Instant.ofEpochSecond(0), java.time.Instant.ofEpochSecond(500000)),
      "x" -> Seq(2.5, -10.0, 30.25))
    def conditions = values.flatMap { case (c, vs) =>
      val v = lit(vs.head)
      Seq(col(c) === v, col(c) < v, col(c) >= v, col(c) <=> v,
        col(c).isin(vs: _*))
    }
    def run(s: SparkSession): Seq[(String, Seq[String], Seq[BoundLiteral])] =
      conditions.map { cond =>
        val df = s.read.parquet(dir).where(cond)
        val rows = df.collect().map(_.toString).sorted.toSeq
        (cond.toString, rows, bound(df.queryExecution.executedPlan))
      }
    // whole-stage code, a generated predicate, and `eval`
    val wholeStage = run(spark)
    val predicate = Iterate.scoped(spark,
      "spark.sql.codegen.wholeStage" -> "false")(run)
    val interpreted = Iterate.scoped(spark,
      "spark.sql.codegen.wholeStage" -> "false",
      "spark.sql.codegen.factoryMode" -> "NO_CODEGEN")(run)
    interpreted.indices.foreach { i =>
      val (c, want, _) = interpreted(i)
      assert(want.nonEmpty, s"$c selects nothing")
      for ((_, got, bs) <- Seq(wholeStage(i), predicate(i))) {
        assert(bs.nonEmpty, s"$c: no bound literal in the executed plan")
        assert(got === want, c)
      }
    }
  }

  test("an IN list of more than 10 int or date values compiles once " +
      "per shape and returns the rows of an interpreted run") {
    val dir = java.nio.file.Files.createTempDirectory("stable-inset").toString
    val id = col("id")
    spark.range(0, 400, 1, 4).select(
      when(id % 17 =!= 0, (id - 100).cast("int")).as("i"),
      date_add(lit(java.time.LocalDate.of(2024, 1, 1)),
        (id % 150).cast("int")).as("d"))
      .write.mode("overwrite").parquet(dir)
    def ints(k: Int): Seq[Any] = (0 until 12).map(j => k + 7 * j)
    def days(k: Int): Seq[Any] =
      (0 until 12).map(j => java.time.LocalDate.of(2024, 1, 1 + k + 2 * j))
    def run(s: SparkSession, c: String, vs: Seq[Any])
        : (Seq[String], Seq[BoundInSet]) = {
      val df = s.read.parquet(dir).where(col(c).isin(vs: _*))
      val rows = df.collect().map(_.toString).sorted.toSeq
      (rows, collect(df.queryExecution.executedPlan) {
        case f: FilterExec => f.condition
      }.flatMap(_.collect { case b: BoundInSet => b }))
    }
    for ((c, values) <- Seq("i" -> ints _, "d" -> days _)) {
      run(spark, c, values(0))
      val compiled = (1 to 3).map { k =>
        val before = compiles
        val (got, bound) = run(spark, c, values(k))
        val n = compiles - before
        val (want, _) = Iterate.scoped(spark,
          "spark.sql.codegen.wholeStage" -> "false",
          "spark.sql.codegen.factoryMode" -> "NO_CODEGEN")(run(_, c, values(k)))
        assert(want.nonEmpty, s"$c set $k selects nothing")
        assert(got === want, s"$c set $k")
        assert(bound.size === 1, s"$c set $k: no bound set in the plan")
        n
      }
      assert(compiled === Seq(0L, 0L, 0L), s"classes compiled per new $c set")
    }
  }

  test("a NULL literal stays a Literal") {
    val child = spark.range(3).queryExecution.sparkPlan
    val id = child.output.head
    val cond = StableCodegen(FilterExec(
      And(In(id, Seq(Literal(1L), Literal(null, LongType))),
        EqualTo(id, Literal(2L))), child))
      .asInstanceOf[FilterExec].condition
    assert(cond.collect { case l: Literal => l } ===
      Seq(Literal(null, LongType)))
    assert(cond.collect { case b: BoundLiteral => b.value } === Seq(1L, 2L))
  }

  test("plan text and pushed filters are those of the unbound plan") {
    engine
    val df = spark.sql(
      "SELECT c_custkey, c_name FROM customer WHERE c_custkey = 7")
      .limit(1000).toJSON
    df.collect()
    val plan = df.queryExecution.executedPlan
    val text = plan.toString
    assert("""\(c_custkey#\d+L? = 7\)""".r.findFirstIn(text).nonEmpty, text)
    assert(text.contains("LocalLimit 1000"), text)
    assert(text.contains("EqualTo(c_custkey,7)"), text)
    assert(bound(plan).map(_.value.toString) === Seq("7"))
    assert(collect(plan) { case l: OrdinalLocalLimitExec => l }.size === 1)
  }

  test("a repeated query with a code-generated offset limit compiles " +
      "nothing") {
    def run() = {
      val df = spark.range(0, 1000, 1, 4).where(col("id") % 3 === 0)
        .limit(50).offset(5).toJSON
      (df.collect().length, df.queryExecution.executedPlan)
    }
    run()
    val before = compiles
    val (rows, plan) = run()
    assert(compiles - before === 0)
    assert(rows === 45)
    assert("""\*\(\d+\) GlobalLimit 50, 5""".r.findFirstIn(plan.toString)
      .nonEmpty, plan.toString)
    assert(collect(plan) { case g: OrdinalGlobalLimitExec => g }.size === 1)
  }

  test("two keys of one shape in a single plan keep their own rows") {
    val Seq(k1, k2) = keys.take(2)
    def sql(a: Long, b: Long) = Seq(a, b).map(k =>
      s"SELECT o_custkey, count(*) AS n FROM orders WHERE o_custkey = $k " +
        "GROUP BY o_custkey").mkString(" UNION ALL ")
    def reused(df: DataFrame) = collect(df.queryExecution.executedPlan) {
      case r: ReusedExchangeExec => r
    }.size
    for (aqe <- Seq("true", "false"))
      Iterate.scoped(spark, "spark.sql.adaptive.enabled" -> aqe) { s =>
        val two = s.sql(sql(k1, k2))
        assert(two.collect().map(r => r.getLong(0) -> r.getLong(1)).toSet ===
          Set(k1 -> orders(k1)._1.size.toLong, k2 -> orders(k2)._1.size.toLong),
          s"aqe=$aqe")
        assert(reused(two) === 0, s"aqe=$aqe")
        // one key twice is still one exchange, read twice
        val same = s.sql(sql(k1, k1))
        assert(same.collect().length === 2)
        assert(reused(same) === 1, s"aqe=$aqe")
      }
  }

  test("eight threads on one session each get their own key's rows") {
    engine
    val pool = java.util.concurrent.Executors.newFixedThreadPool(8)
    try {
      val tasks = keys.take(8).map(k => k -> pool.submit(
        new java.util.concurrent.Callable[Seq[String]] {
          def call(): Seq[String] = (1 to 5).map(_ => spark.sql(
            s"SELECT count(*) AS n FROM orders WHERE o_custkey = $k")
            .limit(1000).toJSON.collect().mkString)
        }))
      tasks.foreach { case (k, t) =>
        assert(t.get().toSet === Set(s"""{"n":${orders(k)._1.size}}"""),
          s"key $k")
      }
    } finally pool.shutdown()
  }
}
