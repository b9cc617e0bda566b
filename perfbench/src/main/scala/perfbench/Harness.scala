package perfbench

import java.io.File
import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.{AtomicBoolean, AtomicInteger}
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.datasources.InsertIntoHadoopFsRelationCommand

import graft.{Engine, GraftExtensions, MySqlDialect, Service, SparkEntry}
import graft.plans.PlanJson
import graft.sources.Tables

/** The benchmark's JVM side. It drives the engine only through public
  * entry points (`Tables.register`, `SparkEntry.queries`, `Engine`,
  * `MySqlDialect.translate`, `PlanJson`, the `Service` routes over HTTP)
  * and writes raw samples as JSON; `run.py` turns them into metrics.
  *
  * Usage: Harness key=value ... (see [[Args]]). */
object Harness {

  /** key=value arguments; lists are comma-separated. */
  final class Args(argv: Array[String]) {
    private val m = argv.map(_.split("=", 2)).collect {
      case Array(k, v) => k -> v
    }.toMap
    def str(k: String): String = m.getOrElse(k, sys.error(s"missing $k="))
    def int(k: String): Int = str(k).toInt
    def list(k: String): Seq[String] =
      m.get(k).toSeq.flatMap(_.split(",")).filter(_.nonEmpty)
  }

  final case class QuerySample(name: String, pass: Int, group: String,
      seconds: Double, buildSeconds: Double, cpuSeconds: Double,
      gcSeconds: Double, jitSeconds: Double,
      startMs: Long, endMs: Long, ok: Boolean)
  final case class RequestSample(shape: String, ms: Double, bytes: Int,
      ok: Boolean)
  /** A phase's samples; query passes before `timedFrom` are warm-up. */
  final case class Phase(name: String, role: String, traced: Boolean,
      wallS: Double, cpuS: Double, timedFrom: Int, queries: Seq[QuerySample],
      requests: Seq[RequestSample])

  /** One customer key and its answers, computed from the generated data
    * outside the engine. */
  final case class Key(key: Long, name: String, orderKeys: Seq[Long],
      totalCents: Long)

  val shapes: Seq[String] =
    Seq("point_spj", "key_agg", "dialect_page", "frag_join", "explain_join")

  private val failures = new ConcurrentLinkedQueue[String]()
  private val osBean = java.lang.management.ManagementFactory
    .getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  private def cpuS: Double = osBean.getProcessCpuTime / 1e9
  private val gcBeans = java.lang.management.ManagementFactory
    .getGarbageCollectorMXBeans.asScala.toSeq
  private val jitBean = java.lang.management.ManagementFactory
    .getCompilationMXBean
  /** JVM garbage collection and JIT compilation time so far (s). */
  private def gcS: Double = gcBeans.map(_.getCollectionTime).sum / 1e3
  private def jitS: Double = jitBean.getTotalCompilationTime / 1e3

  def main(argv: Array[String]): Unit = {
    val jvmStartMs = java.lang.management.ManagementFactory
      .getRuntimeMXBean.getStartTime
    val a = new Args(argv)
    val run = new Run(a, jvmStartMs)
    val code =
      try { run.execute(); 0 }
      catch {
        case e: Throwable =>
          e.printStackTrace()
          failures.add(s"harness: $e")
          run.writeOut()
          3
      } finally run.close()
    sys.exit(code)
  }

  final class Run(a: Args, jvmStartMs: Long) {
    val workload: String = a.str("workload")
    val data: String = a.str("data")
    val work = new File(a.str("work"))
    val out = new File(a.str("out"))
    val traced: Boolean = a.int("trace") == 1
    val cpus: Int = a.int("cpus")
    val seed: Long = a.str("seed").toLong
    val batchQueries: Seq[String] = a.list("batch")
    val bgQueries: Seq[String] = a.list("background")
    val batchPasses: Int = a.int("batch_passes")
    val untimedPasses: Int = a.int("untimed_passes")
    val requests: Int = a.int("requests")
    val warmupRequests: Int = a.int("warmup_requests")
    val checks: Seq[String] = a.list("check")

    private var spark: SparkSession = _
    private var svc: Service = _
    private var engine: Engine = _
    private var base: String = _
    private var keys: IndexedSeq[Key] = IndexedSeq.empty
    private val listener = new LayerListener
    private val catalyst = new CatalystTimes
    private var coldSetupS = 0.0
    private val setupS = scala.collection.mutable.ArrayBuffer[Double]()
    private val phases = scala.collection.mutable.ArrayBuffer[Phase]()
    private val direct = scala.collection.mutable.ArrayBuffer[(String, String, Double)]()
    private val fragWriteNs = new java.util.concurrent.atomic.AtomicLong()

    def execute(): Unit = {
      val catalog = SparkEntry.queries
      (batchQueries ++ bgQueries ++ checks).foreach(n =>
        require(catalog.contains(n), s"unknown query $n"))
      val rounds = a.int("setups")
      Trace.on = traced
      // round 0 counts from JVM start (cold); the later rounds set up
      // again from scratch in the warm JVM
      (0 until rounds).foreach { i =>
        val t0 = if (i == 0) jvmStartMs else System.currentTimeMillis()
        setup(i)
        val s = (System.currentTimeMillis() - t0) / 1000.0
        if (i == 0) coldSetupS = s else setupS += s
        if (i < rounds - 1) teardown(i)
      }
      Trace.on = false
      if (!traced) runPhase(workload, "timed")
      else {
        // the workload traced, then a short traced probe of each other
        // phase and of the direct calls, so every layer is measured on
        // every workload
        Trace.on = true
        listener.on = true
        val codegen0 = Codegen.snapshot
        runPhase(workload, "timed")
        Seq("batch", "service", "mixed").filter(_ != workload)
          .foreach(runPhase(_, "probe"))
        directProbe()
        listener.drain()
        listener.on = false
        Trace.on = false
        codegenMs = Codegen.since(codegen0)
        traceCostS = Trace.costPerSpanNs * Trace.all.size / 1e9 +
          listener.callbackNs.get / 1e9
      }
      dumpChecks()
      writeOut()
    }

    // ---------------------------------------------------------------- setup

    private def session(): SparkSession = {
      val s = SparkSession.builder()
        .master(s"local[$cpus]")
        .appName("perfbench")
        .config("spark.sql.extensions", classOf[GraftExtensions].getName)
        .config("spark.sql.shuffle.partitions", cpus.toString)
        .config("spark.sql.autoBroadcastJoinThreshold", (64 << 20).toString)
        .config("spark.rdd.compress", "true")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.warehouse.dir",
          new File(work, "warehouse").getAbsolutePath)
        .config("spark.local.dir", new File(work, "local").getAbsolutePath)
        .config("spark.ui.enabled", "false")
        .getOrCreate()
      s.sparkContext.setLogLevel("ERROR")
      s
    }

    /** Session up, catalog registered (including the `orders` fragment
      * write into this round's own tmpdir), Service bound, oracles read,
      * warm-up query done. */
    private def setup(round: Int): Unit = Trace.span("setup") {
      val tmp = new File(work, s"tmp$round")
      tmp.mkdirs()
      System.setProperty("java.io.tmpdir", tmp.getAbsolutePath)
      spark = Trace.span("setup.session")(session())
      spark.sparkContext.addSparkListener(listener)
      spark.listenerManager.register(new FragmentWrites)
      Trace.span("tables.register")(Tables.register(spark, data))
      engine = new Engine(spark, data)
      svc = new Service(engine, 0, 1000, Service.defaultPoolSize)
      base = s"http://127.0.0.1:${Trace.span("service.start")(svc.start())}"
      keys = Trace.span("oracle.load")(loadOracle())
      runQuery("agg_q1", 0, "setup")
    }

    private final class FragmentWrites
        extends org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(f: String,
          qe: org.apache.spark.sql.execution.QueryExecution, ns: Long): Unit =
        qe.logical match {
          case c: InsertIntoHadoopFsRelationCommand
              if c.outputPath.toString.contains("graft_frags") =>
            fragWriteNs.addAndGet(ns)
          case _ =>
        }
      override def onFailure(f: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          e: Exception): Unit = ()
    }

    private def teardown(round: Int): Unit = {
      svc.stop()
      spark.stop()
      SparkSession.clearActiveSession()
      SparkSession.clearDefaultSession()
      deleteTree(new File(work, s"tmp$round"))
    }

    def close(): Unit = {
      if (svc != null) svc.stop()
      if (spark != null) spark.stop()
    }

    private def loadOracle(): IndexedSeq[Key] =
      Files.readAllLines(Paths.get(data, "service_oracle.tsv")).asScala
        .filter(_.nonEmpty).map { line =>
          val f = line.split("\t", -1)
          Key(f(0).toLong, f(1),
            f(2).split(",").filter(_.nonEmpty).map(_.toLong).toSeq,
            f(3).toLong)
        }.toIndexedSeq

    // -------------------------------------------------------------- batch

    /** Drop what a query left cached, outside any timed window (as
      * `graft.Bench` does between queries). */
    private def release(): Unit = {
      spark.catalog.clearCache()
      spark.sparkContext.getPersistentRDDs.values
        .foreach(_.unpersist(blocking = true))
      System.gc()
    }

    private def runQuery(name: String, pass: Int, tag: String): QuerySample = {
      val group = s"pb:$tag:$name:$pass"
      spark.sparkContext.setJobGroup(group, group, interruptOnCancel = false)
      val startMs = System.currentTimeMillis()
      val c0 = cpuS
      val (g0, j0) = (gcS, jitS)
      val t0 = System.nanoTime()
      var tb = t0
      val ok =
        try {
          Trace.withRequest(group) {
            Trace.span("batch.query") {
              val df = Trace.span("operators.build") {
                SparkEntry.queries(name)(spark, data)
              }
              tb = System.nanoTime()
              // the noop write runs on the DataFrame's own tracker, so
              // its phases are read before and after the write
              val built = if (Trace.on) df.queryExecution.tracker.phases else null
              Trace.span("batch.execute") {
                df.write.mode("overwrite").format("noop").save()
              }
              if (built != null) catalyst.addWritten(built, df.queryExecution.tracker)
            }
          }
          true
        } catch {
          case e: Throwable =>
            failures.add(s"$name: ${e.getMessage}")
            false
        }
      val t1 = System.nanoTime()
      val c1 = cpuS
      val (g1, j1) = (gcS, jitS)
      val endMs = System.currentTimeMillis()
      spark.sparkContext.clearJobGroup()
      release()
      QuerySample(name, pass, group, (t1 - t0) / 1e9, (tb - t0) / 1e9,
        c1 - c0, g1 - g0, j1 - j0, startMs, endMs, ok)
    }

    private def batch(passes: Int, tag: String): Seq[QuerySample] =
      (0 until passes).flatMap(p => batchQueries.map(runQuery(_, p, tag)))

    // ------------------------------------------------------------ service

    private val http = HttpClient.newBuilder()
      .version(HttpClient.Version.HTTP_1_1).build()

    /** Route, SQL and body check of one request; the check returns an
      * error message or null. */
    private def request(shape: String, k: Key)
        : (String, String, String => String) = shape match {
      case "point_spj" =>
        ("/getData",
          s"SELECT c_custkey, c_name FROM customer WHERE c_custkey = ${k.key}",
          b => expect(b, s"""[{"c_custkey":${k.key},"c_name":"${k.name}"}],"rowCount":1}"""))
      case "key_agg" =>
        ("/getData",
          s"SELECT count(*) AS n FROM orders WHERE o_custkey = ${k.key}",
          b => expect(b, s"""[{"n":${k.orderKeys.size}}],"rowCount":1}"""))
      case "dialect_page" =>
        val page = k.orderKeys.slice(2, 5)
        ("/query",
          Trace.span("dialect.translate")(MySqlDialect.translate(
            s"SELECT `o_orderkey` FROM `orders` WHERE `o_custkey` = ${k.key} " +
              "ORDER BY `o_orderkey` LIMIT 2, 3")),
          b => expect(b, page.map(o => s"""{"o_orderkey":$o}""")
            .mkString(""""rows":[""", ",", s"""],"rowCount":${page.size}}""")))
      case "frag_join" =>
        val want =
          if (k.orderKeys.isEmpty) """"rows":[],"rowCount":0}"""
          else s""""rows":[{"c_name":"${k.name}","n":${k.orderKeys.size},""" +
            s""""cents":${k.totalCents}}],"rowCount":1}"""
        ("/query",
          s"""SELECT c.c_name, count(*) AS n,
             |  CAST(round(sum(o.o_totalprice) * 100) AS BIGINT) AS cents
             |FROM customer_f c JOIN orders_f o ON c.c_custkey = o.o_custkey
             |WHERE c.c_custkey = ${k.key} GROUP BY c.c_name""".stripMargin,
          b => expect(b, want))
      case "explain_join" =>
        ("/explain",
          s"""SELECT n.n_name, count(*) AS n_orders
             |FROM customer c
             |JOIN orders o ON c.c_custkey = o.o_custkey
             |JOIN nation n ON c.c_nationkey = n.n_nationkey
             |WHERE c.c_acctbal > ${k.key % 1000} GROUP BY n.n_name""".stripMargin,
          b => if (b.contains("\"optimizedPlan\"") && !b.contains("\"error\""))
            null else s"explain_join: ${b.take(160)}")
    }

    private def expect(body: String, suffix: String): String =
      if (body.endsWith(suffix)) null
      else s"want …$suffix got ${body.takeRight(200)}"

    private def fire(shape: String, k: Key): RequestSample = {
      val t0 = System.nanoTime()
      var bytes = 0
      val ok =
        try {
          val (route, sql, check) = request(shape, k)
          val req = HttpRequest.newBuilder(URI.create(base + route))
            .header("Content-Type", "text/plain; charset=utf-8")
            .POST(HttpRequest.BodyPublishers.ofString(sql, StandardCharsets.UTF_8))
            .build()
          val resp = Trace.span(s"service.$shape")(
            http.send(req, HttpResponse.BodyHandlers.ofString()))
          bytes = resp.body().length
          val err =
            if (resp.statusCode() != 200)
              s"HTTP ${resp.statusCode()}: ${resp.body().take(200)}"
            else check(resp.body())
          if (err != null) failures.add(s"$shape key=${k.key}: $err")
          err == null
        } catch {
          case e: Exception =>
            failures.add(s"$shape key=${k.key}: $e")
            false
        }
      RequestSample(shape, (System.nanoTime() - t0) / 1e6, bytes, ok)
    }

    /** The seeded request sequence: shape and key of request i. Every
      * block of `shapes.size` requests holds each shape once, in a
      * seeded order, so every run sends the same mix of shapes. */
    private lazy val sequence: IndexedSeq[(String, Key)] = {
      val rng = new scala.util.Random(seed * 1000003L + 17)
      IndexedSeq.fill(20000 / shapes.size)(rng.shuffle(shapes)).flatten
        .map(shape => (shape, keys(rng.nextInt(keys.size))))
    }

    /** `clients` closed-loop threads take request tickets, from `from`
      * on, until `more` says stop; returns the completed samples. */
    private def clients(n: Int, from: Int, more: Int => Boolean)
        : Seq[RequestSample] = {
      val ticket = new AtomicInteger(from)
      val out = new ConcurrentLinkedQueue[RequestSample]()
      val threads = (0 until n).map { _ =>
        new Thread(() => {
          var i = ticket.getAndIncrement()
          while (more(i)) {
            val (shape, k) = sequence(i % sequence.size)
            out.add(Trace.withRequest(s"req:$i")(fire(shape, k)))
            i = ticket.getAndIncrement()
          }
        })
      }
      threads.foreach(_.start())
      threads.foreach(_.join())
      out.asScala.toSeq
    }

    // -------------------------------------------------------------- phases

    /** The workload's fixed work ("timed"), or a short traced "probe" of
      * a phase: two batch passes (a cold one, then one timed),
      * 5·nproc requests, or one background pass (mixed tenancy is only
      * ever a probe). The first pass of a batch is cold; the timed batch
      * also leaves the next passes untimed, while the JVM keeps
      * compiling. */
    private def runPhase(name: String, role: String): Unit = {
      val tag = s"$role-$name"
      val full = role == "timed"
      name match {
        case "batch" =>
          val passes = if (full) batchPasses else 2
          measure(name, role, if (full) untimedPasses else 1) {
            (batch(passes, tag), Nil)
          }
        case "service" =>
          val n = if (full) requests else 5 * cpus
          val warm = if (full) warmupRequests else 0
          clients(cpus, 0, _ < warm)
          measure(name, role) { (Nil, clients(cpus, warm, _ < warm + n)) }
        case "mixed" =>
          val done = new AtomicBoolean(false)
          measure(name, role) {
            var bg: Seq[QuerySample] = Nil
            val t = new Thread(() => {
              try bg = bgQueries.map(runQuery(_, 0, tag))
              finally done.set(true)
            })
            t.start()
            val reqs = clients(math.max(1, cpus - 1), 0, _ => !done.get)
            t.join()
            (bg, reqs)
          }
      }
    }

    private def measure(name: String, role: String, timedFrom: Int = 0)(
        body: => (Seq[QuerySample], Seq[RequestSample])): Unit = {
      val c0 = cpuS
      val t0 = System.nanoTime()
      val (qs, rs) = body
      val wall = (System.nanoTime() - t0) / 1e9
      phases += Phase(name, role, Trace.on, wall, cpuS - c0, timedFrom, qs, rs)
    }

    /** Each Service shape called directly on `Engine` (no HTTP), then the
      * same request once over HTTP from a single client; also the
      * dialect translation and plan rendering alone. */
    private def directProbe(): Unit = {
      spark.sparkContext.setJobGroup("pb:direct", "pb:direct", false)
      val reps = 8
      for (rep <- 0 until reps; shape <- shapes) {
        val k = keys((rep * 7 + shape.length) % keys.size)
        val (route, sql, _) = request(shape, k)
        // alternate which of the pair runs first, so neither is always
        // the colder one
        if (rep % 2 == 1) direct += ((shape, "http", fireUngrouped(shape, k)))
        val t0 = System.nanoTime()
        // the DataFrame the Engine returns and the one the route runs
        // (each has a tracker of its own), as the Service routes do
        val (made, ran) = route match {
          case "/getData" =>
            Trace.span("engine.getData") {
              val df = engine.getData(sql)
              val rows = df.limit(1000).toJSON
              rows.collect()
              (df, Some(rows))
            }
          case "/query" =>
            Trace.span("engine.query") {
              val r = engine.query(sql)
              val rows = r.df.limit(1000).toJSON
              rows.collect()
              (r.df, Some(rows))
            }
          case _ => Trace.span("engine.query")((engine.query(sql).df, None))
        }
        val directMs = (System.nanoTime() - t0) / 1e6
        catalyst.add(made.queryExecution.tracker)
        ran.foreach(r => catalyst.add(r.queryExecution.tracker))
        direct += ((shape, if (route == "/getData") "engine.getdata"
          else "engine.query", directMs))
        if (rep % 2 == 0) direct += ((shape, "http", fireUngrouped(shape, k)))
        val df = spark.sql(sql)
        df.queryExecution.optimizedPlan
        val r0 = System.nanoTime()
        Trace.span("planjson.render") {
          PlanJson.originalJson(df); PlanJson.optimizedJson(df)
        }
        direct += ((shape, "planjson", (System.nanoTime() - r0) / 1e6))
        val mysql = s"SELECT `o_orderkey` FROM `orders` WHERE `o_custkey` = " +
          s"${k.key} ORDER BY `o_orderkey` LIMIT 2, 3"
        val d0 = System.nanoTime()
        Trace.span("dialect.translate")(MySqlDialect.translate(mysql))
        direct += ((shape, "dialect", (System.nanoTime() - d0) / 1e6))
      }
      spark.sparkContext.clearJobGroup()
    }

    private def fireUngrouped(shape: String, k: Key): Double = {
      spark.sparkContext.clearJobGroup()
      try fire(shape, k).ms
      finally spark.sparkContext.setJobGroup("pb:direct", "pb:direct", false)
    }

    /** Results of the checked queries as parquet, plus their oracle SQL,
      * for run.py's DuckDB comparison. Untimed. */
    private def dumpChecks(): Unit = if (checks.nonEmpty) {
      val dir = new File(work, "check")
      dir.mkdirs()
      checks.foreach { n =>
        try SparkEntry.queries(n)(spark, data).coalesce(1).write
          .mode("overwrite").parquet(new File(dir, n).getAbsolutePath)
        catch { case e: Throwable => failures.add(s"check $n: $e") }
        release()
      }
      val oracle = SparkEntry.oracleSql.filter { case (k, _) => checks.contains(k) }
      Files.writeString(Paths.get(dir.getPath, "oracle_sql.json"),
        Json.obj(oracle.toSeq.map { case (k, v) => k -> Json.str(v) }))
    }

    // -------------------------------------------------------------- output

    def writeOut(): Unit = {
      def q(s: QuerySample) = Json.obj(Seq(
        "q" -> Json.str(s.name), "pass" -> s.pass.toString,
        "group" -> Json.str(s.group), "s" -> Json.num(s.seconds),
        "build_s" -> Json.num(s.buildSeconds),
        "cpu_s" -> Json.num(s.cpuSeconds),
        "gc_s" -> Json.num(s.gcSeconds), "jit_s" -> Json.num(s.jitSeconds),
        "start_ms" -> s.startMs.toString, "end_ms" -> s.endMs.toString,
        "ok" -> s.ok.toString))
      def r(s: RequestSample) = Json.obj(Seq(
        "shape" -> Json.str(s.shape), "ms" -> Json.num(s.ms),
        "bytes" -> s.bytes.toString, "ok" -> s.ok.toString))
      val l = listener
      val body = Json.obj(Seq(
        "workload" -> Json.str(workload),
        "nproc" -> cpus.toString,
        "seed" -> seed.toString,
        "shapes" -> Json.arr(shapes.map(Json.str)),
        "setup_cold_s" -> Json.num(coldSetupS),
        "setup_s" -> Json.arr(setupS.toSeq.map(Json.num)),
        "phases" -> Json.arr(phases.toSeq.map(p => Json.obj(Seq(
          "name" -> Json.str(p.name), "role" -> Json.str(p.role),
          "traced" -> p.traced.toString,
          "wall_s" -> Json.num(p.wallS), "cpu_s" -> Json.num(p.cpuS),
          "timed_from" -> p.timedFrom.toString,
          "queries" -> Json.arr(p.queries.map(q)),
          "requests" -> Json.arr(p.requests.map(r)))))),
        "direct" -> Json.arr(direct.toSeq.map { case (s, layer, ms) =>
          Json.obj(Seq("shape" -> Json.str(s), "layer" -> Json.str(layer),
            "ms" -> Json.num(ms)))
        }),
        "listener" -> Json.obj(Seq(
          "jobs" -> l.jobs.get.toString,
          "stages" -> l.stages.get.toString,
          "tasks" -> l.tasks.get.toString,
          "executor_run_s" -> Json.num(l.executorRunMs.get / 1e3),
          "executor_cpu_s" -> Json.num(l.executorCpuNs.get / 1e9),
          "gc_s" -> Json.num(l.gcMs.get / 1e3),
          "shuffle_read_bytes" -> l.shuffleReadBytes.get.toString,
          "shuffle_write_bytes" -> l.shuffleWriteBytes.get.toString,
          "spill_bytes" -> l.spillBytes.get.toString,
          "analysis_ms" -> catalyst.analysisMs.get.toString,
          "optimization_ms" -> catalyst.optimizationMs.get.toString,
          "planning_ms" -> catalyst.planningMs.get.toString,
          "graft_rules_ms" -> Json.num(catalyst.graftRulesNs.get / 1e6),
          "interactive_plans" -> l.interactivePlans.get.toString,
          "aqe_off_plans" -> l.aqeOffPlans.get.toString,
          "codegen_compile_ms" -> Json.num(codegenMs),
          "trace_cost_s" -> Json.num(traceCostS),
          "fragment_write_s" -> Json.num(fragWriteNs.get / 1e9),
          "job_intervals" -> Json.arr(l.jobIntervals.asScala.toSeq.map {
            case (g, s, e) => Json.arr(Seq(Json.str(g), s.toString, e.toString))
          }))),
        "spans" -> Json.arr(Trace.all.map(s => Json.arr(Seq(
          s.id.toString, s.parent.toString, Json.str(s.name),
          Json.str(s.request), s.startNs.toString, s.endNs.toString)))),
        "failures" -> Json.arr(failures.asScala.toSeq.map(Json.str))))
      Files.writeString(out.toPath, body)
    }

    private var codegenMs = 0.0
    private var traceCostS = 0.0
  }

  private def deleteTree(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.foreach(deleteTree)
    f.delete()
  }
}

/** Minimal JSON rendering for the raw result file. */
object Json {
  def str(s: String): String = "\"" + PlanJson.jsonEscape(s) + "\""
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
  def arr(xs: Seq[String]): String = xs.mkString("[", ",", "]")
  def obj(kv: Seq[(String, String)]): String =
    kv.map { case (k, v) => str(k) + ":" + v }.mkString("{", ",", "}")
}
