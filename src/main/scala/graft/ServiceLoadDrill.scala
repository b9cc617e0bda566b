package graft

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.nio.charset.StandardCharsets
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.graft.bridge

/** Sustained-concurrency load drill for the HTTP delivery surface —
  * the axis the reference actually shipped (an ASP.NET query service,
  * `DistributedQueryService/QueryService.asmx.cs:24-29`) but never
  * measured (BASELINE: no published numbers). Dev tooling, not part of
  * the library: starts [[Service]] on a corpus, fires a deterministic
  * mixed workload from N client threads, VALIDATES every response
  * against precomputed per-key oracles, and reports throughput +
  * latency percentiles per route.
  *
  * Workload mix (round-robin per request index):
  *   - `/getData` point SPJ: customer row by key — parquet-pushed
  *     point predicate, the OLTP-ish floor.
  *   - `/getData` per-key aggregate: order count for a customer key,
  *     validated against a precomputed count map (so a wrong answer
  *     under concurrency is a FAILURE, not a latency blip).
  *   - `/query` MySQL-dialect envelope: translated `LIMIT o,c` page
  *     over a key's orders — exercises translate + plan JSON + rows,
  *     row count validated against the same count map.
  *   - `/explain` three-table join: plan-only, zero scans — the
  *     reference UI's actual request shape (`index.js:102-121`).
  *
  * After the concurrent phase, a PER-ROUTE CPU ATTRIBUTION phase
  * fires each request shape alone, single-client, and measures the
  * JVM's process-CPU delta per request (local master ⇒ executor CPU
  * IS process CPU, so this is driver planning + execution + HTTP
  * handling — the full service cost). CPU-seconds are the box-noise
  * protocol (BASELINE measurement-day discipline): this box swings
  * raw q/s ±3–4× on identical binaries in hypervisor waves, so a
  * q/s number is only reportable NEXT TO the cpu_ms_per_req anchor —
  * wall moves with the wave, CPU per request does not.
  *
  * Usage: ServiceLoadDrill <sfDir> [clients] [perClient] [poolSize]
  *        [cpuPhaseReqs (default 100, 0 disables)]
  * Emits one JSON line (route percentiles, QPS, validation counts,
  * per-route CPU-per-request, `compiles`: the classes Spark's codegen
  * compiled during the concurrent phase, and per route during the CPU
  * phase — a shape that compiles per key shows here — and per route
  * `jobs_per_req`: the Spark jobs one request of the shape started in
  * the CPU phase);
  * exits 1 on any validation failure or HTTP/transport error. */
object ServiceLoadDrill {

  private final case class Stat(route: String, nanos: Long,
      secondHalf: Boolean)

  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val clients = if (args.length > 1) args(1).toInt else 16
    val perClient = if (args.length > 2) args(2).toInt else 50
    val poolSize = if (args.length > 3) args(3).toInt else 16
    val cpuPhaseReqs = if (args.length > 4) args(4).toInt else 100

    val spark = Engine.session()
    graft.sources.Tables.register(spark, sfDir)
    val engine = new Engine(spark, sfDir)
    val svc = new Service(engine, 0, 1000, poolSize)
    val port = svc.start()
    val base = s"http://127.0.0.1:$port"

    // key universe + oracle: order counts for 256 customer keys, one
    // bounded pre-drill job (max 256 rows to the driver)
    val nKeys = 256
    import org.apache.spark.sql.functions._
    val counts: Map[Long, Long] = graft.sources.Tables
      .load(spark, sfDir, "orders")
      .filter(col("o_custkey").between(1L, nKeys.toLong))
      .groupBy("o_custkey").count()
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      .withDefaultValue(0L)

    def key(c: Int, i: Int): Long =
      1L + ((c.toLong * 7919L + i.toLong * 104729L) % nKeys)

    val explainSql =
      """SELECT n.n_name, count(*) AS n_orders
        |FROM customer c
        |JOIN orders o ON c.c_custkey = o.o_custkey
        |JOIN nation n ON c.c_nationkey = n.n_nationkey
        |WHERE c.c_acctbal > 1000 GROUP BY n.n_name""".stripMargin

    val failures = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val stats = new java.util.concurrent.ConcurrentLinkedQueue[Stat]()

    def post(cl: HttpClient, route: String, sql: String): String = {
      val req = HttpRequest.newBuilder(URI.create(s"$base$route"))
        .header("Content-Type", "text/plain; charset=utf-8")
        .POST(HttpRequest.BodyPublishers.ofString(sql, StandardCharsets.UTF_8))
        .build()
      val resp = cl.send(req, HttpResponse.BodyHandlers.ofString())
      if (resp.statusCode() != 200)
        throw new RuntimeException(s"$route HTTP ${resp.statusCode()}: " +
          resp.body().take(200))
      resp.body()
    }

    // the four request shapes; each returns an error string or null
    def fire(cl: HttpClient, c: Int, i: Int, timed: Boolean,
        secondHalf: Boolean = false): Unit = {
      val k = key(c, i)
      val (route, label, sql, check): (String, String, String, String => String) =
        (i % 4) match {
          // every numeric match includes the value's CLOSING delimiter
          // (the "," after c_custkey, the "}" ending a one-field row
          // object or the response's final rowCount) — a bare
          // substring `"n":1` would also match a WRONG answer whose
          // digits merely start with it ("n":15), silently validating
          // the exact failure class the drill exists to catch
          case 0 => ("/getData", "point_spj",
            s"SELECT c_custkey, c_name FROM customer WHERE c_custkey = $k",
            body =>
              if (body.contains(s""""rowCount":1}""") &&
                  body.contains(s""""c_custkey":$k,""")) null
              else s"point_spj k=$k bad body: ${body.take(160)}")
          case 1 => ("/getData", "key_agg",
            s"SELECT count(*) AS n FROM orders WHERE o_custkey = $k",
            body =>
              if (body.contains(s""""n":${counts(k)}}""")) null
              else s"key_agg k=$k want n=${counts(k)} got: ${body.take(160)}")
          case 2 => ("/query", "dialect_page",
            MySqlDialect.translate(
              s"SELECT `o_orderkey` FROM `orders` WHERE `o_custkey` = $k " +
                "ORDER BY `o_orderkey` LIMIT 2, 3"),
            body => {
              val want = math.min(3L, math.max(0L, counts(k) - 2L))
              if (body.contains(s""""rowCount":$want}""") &&
                  body.contains("\"optimizedPlan\"")) null
              else s"dialect_page k=$k want rowCount=$want: ${body.take(160)}"
            })
          case _ => ("/explain", "explain_join", explainSql,
            body =>
              if (body.contains("\"optimizedPlan\"") &&
                  !body.contains("\"error\"")) null
              else s"explain_join bad body: ${body.take(160)}")
        }
      val t0 = System.nanoTime()
      try {
        val body = post(cl, route, sql)
        val t1 = System.nanoTime()
        val err = check(body)
        if (err != null) failures.add(err)
        else if (timed) stats.add(Stat(label, t1 - t0, secondHalf))
      } catch {
        case e: Exception => failures.add(s"$label transport: ${e.getMessage}")
      }
    }

    // warm-up: one of each shape per client thread count (JIT + first
    // planning of each shape), untimed
    val warmClient = HttpClient.newHttpClient()
    (0 until 8).foreach(i => fire(warmClient, 0, i, timed = false))

    def compiles = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    val jobCount = new java.util.concurrent.atomic.AtomicLong()
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        jobCount.incrementAndGet()
    })
    // jobs started so far, once their events have reached the listener
    def jobs: Long = {
      bridge.drainListeners(spark.sparkContext)
      jobCount.get
    }
    val pool = java.util.concurrent.Executors.newFixedThreadPool(clients)
    val compiles0 = compiles
    val t0 = System.nanoTime()
    val tasks = (0 until clients).map { c =>
      pool.submit(new Runnable {
        override def run(): Unit = {
          val cl = HttpClient.newHttpClient()
          var i = 0
          while (i < perClient) {
            fire(cl, c, i, timed = true,
              secondHalf = i >= perClient / 2)
            i += 1
          }
        }
      })
    }
    tasks.foreach(_.get())
    val wallSec = (System.nanoTime() - t0) / 1e9
    val concurrentCompiles = compiles - compiles0
    pool.shutdown()

    // --- per-route CPU attribution phase (single-client, one shape
    // at a time; untimed for the percentile stats, still validated).
    // Process CPU via the JDK OS bean: in local master the executors
    // live in this JVM, so the delta is the complete per-request cost.
    val osBean = java.lang.management.ManagementFactory
      .getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean]
    val routeLabels =
      Seq("point_spj", "key_agg", "dialect_page", "explain_join")
    // (route, cpu ms, wall ms, classes compiled over both samples,
    // jobs per request over both samples)
    val routeCpu: Seq[(String, Double, Double, Long, Double)] =
      if (cpuPhaseReqs <= 0) Seq.empty
      else {
        val cl = HttpClient.newHttpClient()
        // idle floor: background threads' CPU over a quiet second,
        // subtracted from each phase pro-rata by wall time
        val idleT0 = System.nanoTime(); val idleC0 = osBean.getProcessCpuTime
        Thread.sleep(1000)
        val idlePerSec =
          (osBean.getProcessCpuTime - idleC0).toDouble /
            ((System.nanoTime() - idleT0) / 1e9)
        // TWO samples per route, reported as the lower-CPU sample's
        // (cpu, wall) PAIR: a hypervisor wave contaminates single CPU
        // samples by ~+30 % (measured, BASELINE round 14 cross-wave
        // calibration). Known bias, accepted: the second sample
        // replays the identical request sequence WARM in the same
        // JVM, so this in-process min sits systematically below the
        // cross-process min-of-adjacent-pair discipline it
        // approximates — BASELINE anchors recorded from this drill
        // carry that caveat. The pair comes from ONE sample (the one
        // with lower CPU) rather than independent minima, so the
        // reported (cpu, wall) corresponds to a run that actually
        // happened.
        def sample(): Seq[(String, Double, Double, Long, Long)] =
          routeLabels.zipWithIndex.map { case (label, shape) =>
            val j0 = jobs
            val w0 = System.nanoTime(); val c0 = osBean.getProcessCpuTime
            val k0 = compiles
            (0 until cpuPhaseReqs).foreach(j =>
              fire(cl, 1 + shape, shape + 4 * j, timed = false))
            val wall = (System.nanoTime() - w0) / 1e9
            val cpu = (osBean.getProcessCpuTime - c0) - idlePerSec * wall
            (label, cpu / cpuPhaseReqs / 1e6, wall * 1000 / cpuPhaseReqs,
              compiles - k0, jobs - j0)
          }
        val (s1, s2) = (sample(), sample())
        s1.zip(s2).map { case ((l, c1, w1, k1, j1), (_, c2, w2, k2, j2)) =>
          val perReq = (j1 + j2).toDouble / (2 * cpuPhaseReqs)
          if (c2 < c1) (l, c2, w2, k1 + k2, perReq)
          else (l, c1, w1, k1 + k2, perReq)
        }
      }

    svc.stop()

    import scala.jdk.CollectionConverters._
    val byRoute = stats.asScala.toSeq.groupBy(_.route)
    def pct(sorted: Array[Long], p: Double): Double =
      sorted(math.min(sorted.length - 1,
        math.ceil(p * sorted.length).toInt - 1).max(0)) / 1e6
    val routesJson = byRoute.toSeq.sortBy(_._1).map { case (r, ss) =>
      val a = ss.map(_.nanos).toArray.sorted
      // soak-drift signal: a second-half p50 materially above the
      // first half's means latency degrades under sustained load
      // (leak, unbounded cache, catalog growth) — the steady-state
      // claim, not just the aggregate percentile
      val h1 = ss.filter(!_.secondHalf).map(_.nanos).toArray.sorted
      val h2 = ss.filter(_.secondHalf).map(_.nanos).toArray.sorted
      val drift =
        if (h1.nonEmpty && h2.nonEmpty)
          f""","p50_h1_ms":${pct(h1, 0.50)}%.1f,""" +
            f""""p50_h2_ms":${pct(h2, 0.50)}%.1f"""
        else ""
      f""""$r":{"n":${a.length},"p50_ms":${pct(a, 0.50)}%.1f,""" +
        f""""p95_ms":${pct(a, 0.95)}%.1f,"p99_ms":${pct(a, 0.99)}%.1f,""" +
        f""""max_ms":${a.last / 1e6}%.1f$drift}"""
    }.mkString(",")
    val total = clients * perClient
    val cpuJson = routeCpu.map {
      case (label, cpuMs, wallMs, compiled, jobsPerReq) =>
        f""""$label":{"n":$cpuPhaseReqs,"samples":2,"compiles":$compiled,""" +
          f""""jobs_per_req":$jobsPerReq%.2f,""" +
          f""""cpu_ms_per_req":$cpuMs%.1f,""" +
          f""""wall_ms_per_req":$wallMs%.1f}"""
    }.mkString(",")
    println(
      f"""{"drill":"service_load","sf_dir":"$sfDir","clients":$clients,""" +
        f""""per_client":$perClient,"pool_size":$poolSize,""" +
        f""""requests":$total,"wall_sec":$wallSec%.1f,""" +
        f""""qps":${total / wallSec}%.1f,"validated":${stats.size()},""" +
        f""""failures":${failures.size()},"compiles":$concurrentCompiles,""" +
        f""""routes":{$routesJson},""" +
        f""""route_cpu":{$cpuJson}}""")
    failures.asScala.take(5).foreach(f => System.err.println(s"[drill] $f"))
    spark.stop()
    // java.net.http client selector threads may be non-daemon on this
    // JDK; exit explicitly once the report line is out
    sys.exit(if (failures.isEmpty) 0 else 1)
  }
}
