package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.catalyst.QueryPlanningTracker
import org.apache.spark.sql.execution.SparkPlanInfo
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart

/** One timed call into a module: name, start/end (ns), parent span and
  * the request or query it belongs to. Kept in memory, written at exit. */
final case class Span(id: Long, parent: Long, name: String, request: String,
    startNs: Long, endNs: Long)

/** In-memory span recorder. Off unless [[on]] is set, so untraced runs
  * only pay a volatile read per call. */
object Trace {
  @volatile var on = false
  private val ids = new AtomicLong(0)
  private val spans = new ConcurrentLinkedQueue[Span]()
  private val stack = new ThreadLocal[List[Long]] {
    override def initialValue(): List[Long] = Nil
  }
  private val request = new ThreadLocal[String] {
    override def initialValue(): String = ""
  }

  def withRequest[T](id: String)(body: => T): T = {
    val saved = request.get
    request.set(id)
    try body finally request.set(saved)
  }

  def span[T](name: String)(body: => T): T =
    if (!on) body
    else {
      val id = ids.incrementAndGet()
      val parents = stack.get
      stack.set(id :: parents)
      val t0 = System.nanoTime()
      try body
      finally {
        spans.add(Span(id, parents.headOption.getOrElse(0L), name,
          request.get, t0, System.nanoTime()))
        stack.set(parents)
      }
    }

  def all: Seq[Span] = spans.asScala.toSeq

  /** Cost of recording one span, measured on a no-op body (the span is
    * discarded); the tracing overhead estimate multiplies it by the
    * number of spans recorded. */
  def costPerSpanNs: Double = {
    val n = 20000
    val saved = on
    on = true
    val t0 = System.nanoTime()
    var i = 0
    while (i < n) { span("trace.cost")(i); i += 1 }
    val ns = (System.nanoTime() - t0).toDouble / n
    on = saved
    spans.removeIf(_.name == "trace.cost")
    ns
  }
}

/** Layer counters from Spark's public listener API, registered on the
  * session the benchmark creates: task metrics per job and stage, job
  * intervals by job group, and whether interactive plans kept adaptive
  * execution. */
final class LayerListener extends SparkListener {
  @volatile var on = false

  val jobs = new AtomicInteger()
  val stages = new AtomicInteger()
  val tasks = new AtomicInteger()
  val executorRunMs = new AtomicLong()
  val executorCpuNs = new AtomicLong()
  val gcMs = new AtomicLong()
  val shuffleReadBytes = new AtomicLong()
  val shuffleWriteBytes = new AtomicLong()
  val spillBytes = new AtomicLong()
  val interactivePlans = new AtomicInteger()
  val aqeOffPlans = new AtomicInteger()
  /** (job group, start ms, end ms) of every finished job. */
  val jobIntervals = new ConcurrentLinkedQueue[(String, Long, Long)]()
  /** Time spent inside this listener's callbacks. */
  val callbackNs = new AtomicLong()
  private val open =
    new java.util.concurrent.ConcurrentHashMap[Int, (String, Long)]()
  private val pending = new AtomicInteger()

  private def timed(body: => Unit): Unit = {
    val t0 = System.nanoTime()
    body
    callbackNs.addAndGet(System.nanoTime() - t0)
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = if (on) timed {
    val group = Option(e.properties)
      .flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")
    open.put(e.jobId, (group, e.time))
    pending.incrementAndGet()
    jobs.incrementAndGet()
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = timed {
    val started = open.remove(e.jobId)
    if (started != null) {
      jobIntervals.add((started._1, started._2, e.time))
      pending.decrementAndGet()
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    if (on) stages.incrementAndGet()

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    if (on && e.taskMetrics != null) timed {
      val m = e.taskMetrics
      tasks.incrementAndGet()
      executorRunMs.addAndGet(m.executorRunTime)
      executorCpuNs.addAndGet(m.executorCpuTime)
      gcMs.addAndGet(m.jvmGCTime)
      shuffleReadBytes.addAndGet(m.shuffleReadMetrics.totalBytesRead)
      shuffleWriteBytes.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      spillBytes.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
    }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart if on &&
        s.jobGroupId.forall(_.isEmpty) &&
        s.rootExecutionId.forall(_ == s.executionId) &&
        hasExchange(s.sparkPlanInfo) =>
      // interactive (Service handler) plans carry no job group; a plan
      // that shuffles is one adaptive execution would normally wrap
      interactivePlans.incrementAndGet()
      if (s.sparkPlanInfo.nodeName != "AdaptiveSparkPlan")
        aqeOffPlans.incrementAndGet()
    case _ =>
  }

  private def hasExchange(p: SparkPlanInfo): Boolean =
    p.nodeName.contains("Exchange") || p.children.exists(hasExchange)

  /** Wait until every started job has been seen to end (the listener bus
    * is asynchronous), at most `timeoutMs`. */
  def drain(timeoutMs: Long = 5000): Unit = {
    val deadline = System.currentTimeMillis() + timeoutMs
    while (pending.get > 0 && System.currentTimeMillis() < deadline)
      Thread.sleep(20)
    Thread.sleep(100)
  }
}

/** Catalyst time of the queries the harness runs itself, read from the
  * `QueryPlanningTracker` of each DataFrame it holds: the one a module
  * call returns (parsing and analysis happen when it is made) and the one
  * that runs it. A tracker keeps a phase that runs twice as first start
  * to last end, so a tracker shared by a DataFrame and the write command
  * that runs it is read before the write too. `analysisMs` includes
  * parsing. Graft rules are the rules named `graft.*` (GraftExtensions). */
final class CatalystTimes {
  val analysisMs = new AtomicLong()
  val optimizationMs = new AtomicLong()
  val planningMs = new AtomicLong()
  val graftRulesNs = new AtomicLong()

  private type Phases = Map[String, QueryPlanningTracker.PhaseSummary]
  private def ms(p: Phases, phase: String): Long =
    p.get(phase).map(_.durationMs).getOrElse(0L)

  /** A tracker whose phases each ran once. */
  def add(t: QueryPlanningTracker): Unit = addWritten(t.phases, t)

  /** A DataFrame's tracker as it was when the DataFrame was made
    * (`built`) and after a write that shares it ran (`t`). */
  def addWritten(built: Phases, t: QueryPlanningTracker): Unit = {
    val after = t.phases
    analysisMs.addAndGet(ms(built, QueryPlanningTracker.PARSING) +
      ms(built, QueryPlanningTracker.ANALYSIS))
    // a phase that already ran before the write is not separable from
    // the write's run of it; the earlier run is what is counted
    def once(phase: String) = ms(if (built.contains(phase)) built else after, phase)
    optimizationMs.addAndGet(once(QueryPlanningTracker.OPTIMIZATION))
    planningMs.addAndGet(once(QueryPlanningTracker.PLANNING))
    graftRulesNs.addAndGet(t.rules.collect {
      case (name, r) if name.startsWith("graft.") => r.totalTimeNs
    }.sum)
  }
}

/** Codegen compile time from Spark's `CodegenMetrics` histogram, which
  * keeps a count and a sample of per-class compile times (not a total):
  * the estimate is compiles since the snapshot times the sample mean. */
object Codegen {
  private def histogram =
    org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME
  def snapshot: Long = histogram.getCount
  def since(count0: Long): Double =
    (histogram.getCount - count0) * histogram.getSnapshot.getMean
}
