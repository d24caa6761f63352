package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.util.QueryExecutionListener

/** One span: a call into a layer, timed from the benchmark's side.
  * Spans of one operation share `op`; `parent` is the id of the span
  * that caused it (0 for a root).
  */
final case class Span(id: Long, parent: Long, op: String, name: String,
    startNs: Long, endNs: Long)

/** Spans kept in memory and written out when the run ends. */
final class Tracer(val enabled: Boolean) {
  private val ids = new java.util.concurrent.atomic.AtomicLong(0L)
  val spans = new ConcurrentLinkedQueue[Span]()
  // span times are epoch nanoseconds, so that engine events (epoch ms)
  // line up with the benchmark's own spans
  private val epochBase = System.currentTimeMillis() * 1000000L - System.nanoTime()

  def span[T](op: String, name: String, parent: Long = 0L)(body: Long => T): T = {
    if (!enabled) return body(0L)
    val id = ids.incrementAndGet()
    val t0 = System.nanoTime()
    try body(id)
    finally spans.add(Span(id, parent, op, name, epochBase + t0, epochBase + System.nanoTime()))
  }

  /** A span timed elsewhere, in epoch nanoseconds. */
  def record(op: String, name: String, parent: Long, startNs: Long, endNs: Long): Unit =
    if (enabled) spans.add(Span(ids.incrementAndGet(), parent, op, name, startNs, endNs))

  def write(path: String): Unit = {
    val w = new java.io.PrintWriter(path, "UTF-8")
    try spans.asScala.toSeq.sortBy(_.startNs).foreach { s =>
      w.println(s"""{"id":${s.id},"parent":${s.parent},"op":"${s.op}",""" +
        s""""name":"${s.name}","start_ns":${s.startNs},"end_ns":${s.endNs}}""")
    } finally w.close()
  }
}

/** Engine counters read from outside the program: a SparkListener for
  * jobs, stages and tasks, and a QueryExecutionListener for Catalyst
  * phase times and scan files. Work is attributed to an operation by
  * the `perfbench.op` local property the benchmark sets on the calling
  * thread, or by the micro-batch id Structured Streaming sets on its
  * own jobs.
  */
final class Probe(spark: SparkSession, tracer: Tracer) extends SparkListener {
  import Probe._

  private val jobs = new java.util.concurrent.ConcurrentHashMap[Int, JobRec]()
  private val stageOp = new java.util.concurrent.ConcurrentHashMap[Int, String]()
  private val tasks = new java.util.concurrent.ConcurrentHashMap[String, TaskAgg]()
  val queries = new ConcurrentLinkedQueue[QueryRec]()
  val taskDurations = new ConcurrentLinkedQueue[java.lang.Long]()
  @volatile var spillBytes = 0L

  private def opOf(props: java.util.Properties): String =
    Option(props).flatMap { p =>
      Option(p.getProperty(OpKey)).orElse(
        Option(p.getProperty("streaming.sql.batchId")).map(b =>
          s"stream:${p.getProperty("sql.streaming.queryId", "")}:$b"))
    }.getOrElse("other")

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val op = opOf(e.properties)
    jobs.put(e.jobId, JobRec(op, e.time, -1L))
    e.stageIds.foreach(s => stageOp.putIfAbsent(s, op))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    jobs.computeIfPresent(e.jobId, (_, j) => j.copy(end = e.time))

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val op = stageOp.getOrDefault(e.stageInfo.stageId, "other")
    agg(op).stages += 1
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val op = stageOp.getOrDefault(e.stageId, "other")
    val a = agg(op)
    a.synchronized {
      a.tasks += 1
      val m = e.taskMetrics
      if (m != null) {
        a.runMs += m.executorRunTime
        a.inputBytes += m.inputMetrics.bytesRead
        a.shuffleBytes += m.shuffleReadMetrics.totalBytesRead + m.shuffleWriteMetrics.bytesWritten
        val spill = m.memoryBytesSpilled + m.diskBytesSpilled
        if (spill > 0) synchronized { spillBytes += spill }
      }
    }
    if (e.taskInfo != null) taskDurations.add(e.taskInfo.duration)
  }

  private def agg(op: String): TaskAgg = tasks.computeIfAbsent(op, _ => new TaskAgg)

  /** Catalyst phases and scan files of every completed query. */
  val qeListener: QueryExecutionListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      val ph = qe.tracker.phases
      def ms(p: String) = ph.get(p).map(_.durationMs.toDouble).getOrElse(0.0)
      val files = scans(qe.executedPlan).map(s =>
        s.metrics.get("numFiles").map(_.value).getOrElse(0L)).sum
      queries.add(QueryRec(funcName, ms("analysis"),
        ms("optimization"), ms("planning"), files))
    }
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
  }

  def install(): Unit = {
    spark.sparkContext.addSparkListener(this)
    spark.listenerManager.register(qeListener)
  }

  /** Let the listener bus deliver everything posted so far (a no-op
    * when the probe is not installed).
    */
  def drain(): Unit = if (tracer.enabled) Thread.sleep(300)

  /** Per-operation scheduler counters, for the ops selected by `keep`. */
  def perOp(keep: String => Boolean): Seq[OpCounters] = {
    val byOp = jobs.asScala.values.filter(j => keep(j.op)).groupBy(_.op)
    byOp.toSeq.map { case (op, js) =>
      val a = Option(tasks.get(op)).getOrElse(new TaskAgg)
      val spans = js.filter(_.end >= 0).map(j => (j.start, j.end)).toSeq.sorted
      OpCounters(op, js.size, a.stages, a.tasks, a.runMs, a.inputBytes,
        a.shuffleBytes, unionMs(spans))
    }
  }

  /** Every finished job as a `scheduler.job` span of its op. */
  def recordJobSpans(): Unit =
    jobs.asScala.values.filter(_.end >= 0).foreach { j =>
      tracer.record(j.op, "scheduler.job", 0L, j.start * 1000000L, j.end * 1000000L)
    }

  /** max / median task duration, with the median floored at 50 ms so
    * that sub-millisecond tasks do not read as skew.
    */
  def taskSkew(): Double = {
    val ds = taskDurations.asScala.map(_.longValue).toArray.sorted
    if (ds.isEmpty || ds.last < 50L) 1.0
    else ds.last.toDouble / math.max(50L, ds(ds.length / 2)).toDouble
  }
}

object Probe {
  val OpKey = "perfbench.op"

  final case class JobRec(op: String, start: Long, end: Long)
  final class TaskAgg {
    var stages = 0; var tasks = 0; var runMs = 0L
    var inputBytes = 0L; var shuffleBytes = 0L
  }
  final case class QueryRec(funcName: String, analysisMs: Double, optimizationMs: Double,
      planningMs: Double, files: Long)
  final case class OpCounters(op: String, jobs: Int, stages: Int, tasks: Int,
      taskMs: Long, inputBytes: Long, shuffleBytes: Long, jobUnionMs: Long)

  def scans(p: SparkPlan): Seq[FileSourceScanExec] = p match {
    case a: AdaptiveSparkPlanExec => scans(a.executedPlan)
    case q: QueryStageExec => scans(q.plan)
    case s: FileSourceScanExec => Seq(s)
    case other => other.children.flatMap(scans) ++ other.subqueries.flatMap(scans)
  }

  /** Length of the union of [start, end] intervals (ms). */
  def unionMs(sorted: Seq[(Long, Long)]): Long = {
    var total = 0L; var curS = Long.MinValue; var curE = Long.MinValue
    sorted.foreach { case (s, e) =>
      if (s > curE) { if (curE > curS) total += curE - curS; curS = s; curE = e }
      else curE = math.max(curE, e)
    }
    if (curE > curS) total += curE - curS
    total
  }
}

/** Sample statistics. */
object Stats {
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val pos = q * (s.length - 1)
      val lo = math.floor(pos).toInt; val hi = math.ceil(pos).toInt
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)
  def p99(xs: Seq[Double]): Double = quantile(xs, 0.99)
}
