package perfbench

import java.sql.Timestamp
import java.util.concurrent.{ConcurrentLinkedQueue, LinkedBlockingQueue}
import java.util.concurrent.locks.LockSupport
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.ProcessingTimeTrigger
import org.apache.spark.sql.execution.streaming.runtime.{MemoryStream, StreamingQueryWrapper}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryProgress}

import graft.api.TopKApi
import graft.serving.{ReplicaRouter, Replicas, Serving}
import graft.streaming.{Generator, StreamingPipeline}

/** Counter tick fed to `Generator.eventsFromCounter`. */
final case class Tick(timestamp: Timestamp, value: Long)

/** One API request of the seeded mix. `range` is `d` (the route's
  * default) or explicit `from,to` epoch-ms bounds.
  */
final case class Req(kind: String, dueMs: Double, route: String, tenant: String,
    range: String, k: Int) {
  def key: String = s"$route|$tenant|$range|$k"
}

final case class CallRec(op: String, req: Req, dueNs: Long, startNs: Long,
    builtNs: Long, endNs: Long, error: String, analysisMs: Double,
    optimizationMs: Double, planningMs: Double, files: Long) {
  def latencyMs: Double = (endNs - dueNs) / 1e6
  def ok: Boolean = error == null
}

/** The serving client: one call of the mix = build the DataFrame in
  * the API (`api.build`), then run it (`exec`).
  */
final class Client(ctx: Ctx) {
  private val spark = ctx.spark
  /** key -> (digest, answer) of the first answer seen for that key. */
  val answers = new java.util.concurrent.ConcurrentHashMap[String, (Int, Map[String, Any])]()

  def build(dataDir: String, r: Req): DataFrame = {
    val (from, to) =
      if (r.range == "d") (None, None)
      else { val b = r.range.split(","); (Some(b(0).toLong), Some(b(1).toLong)) }
    r.route match {
      case "topk_global" | "topk_restaurant" =>
        TopKApi.topk(spark, dataDir, r.tenant, from, to, r.k)
      case "topk_revenue" =>
        TopKApi.topk(spark, dataDir, r.tenant, from, to, r.k, byRevenue = true)
      case "distinct" => TopKApi.distinctUsers(spark, dataDir, r.tenant, from, to)
      case "distinct_exact" => TopKApi.distinctUsersExact(spark, dataDir, r.tenant, from, to)
      case "percentiles" => TopKApi.percentiles(spark, dataDir, r.tenant, from, to)
      case "quantile" =>
        TopKApi.quantile(spark, dataDir, r.tenant, Seq(125L, 375L, 975L), from, to)
      case "quantile_approx" =>
        TopKApi.quantileApprox(spark, dataDir, r.tenant, Seq(125L, 975L), from, to)
    }
  }

  /** Run one call. Every answer for a key must equal the first one
    * seen: the serving data does not change during a run.
    */
  def exec(dataDir: String, r: Req, op: String, dueNs: Long): CallRec = {
    val sc = spark.sparkContext
    sc.setLocalProperty(Probe.OpKey, op)
    val start = System.nanoTime()
    var built = start
    try ctx.tracer.span(op, "api.call") { root =>
      val df = ctx.tracer.span(op, "api.build", root)(_ => build(dataDir, r))
      built = System.nanoTime()
      val rows = ctx.tracer.span(op, "exec", root)(_ => df.collect())
      val end = System.nanoTime()
      val d = Answers.digest(rows)
      val prev = answers.putIfAbsent(r.key, (d, Answers.rows(df, rows)))
      val err =
        if (prev != null && prev._1 != d) s"answer for ${r.key} changed between calls"
        else null
      val ph = df.queryExecution.tracker.phases
      def ms(p: String) = ph.get(p).map(_.durationMs.toDouble).getOrElse(0.0)
      val files = if (ctx.tracer.enabled) Probe.scans(df.queryExecution.executedPlan)
        .map(_.metrics.get("numFiles").map(_.value).getOrElse(0L)).sum else 0L
      CallRec(op, r, dueNs, start, built, end, err,
        ms("analysis"), ms("optimization"), ms("planning"), files)
    } catch {
      case e: Exception =>
        CallRec(op, r, dueNs, start, built, System.nanoTime(),
          s"${r.key}: ${e.getClass.getSimpleName}: ${e.getMessage}", 0, 0, 0, 0)
    } finally sc.setLocalProperty(Probe.OpKey, null)
  }

  /** Closed loop: `threads` clients each send their next request as
    * soon as the previous one returns. Returns the calls and the
    * seconds the whole set took.
    */
  def closedLoop(dataDir: String, reqs: IndexedSeq[Req], threads: Int): (Seq[CallRec], Double) = {
    val next = new java.util.concurrent.atomic.AtomicInteger(0)
    val recs = new ConcurrentLinkedQueue[CallRec]()
    val t0 = System.nanoTime()
    val workers = (0 until threads).map { _ =>
      val t = new Thread(() => {
        var i = next.getAndIncrement()
        while (i < reqs.size) {
          recs.add(exec(dataDir, reqs(i), s"sat:$i", System.nanoTime()))
          i = next.getAndIncrement()
        }
      })
      t.setDaemon(true); t.start(); t
    }
    workers.foreach(_.join())
    (recs.asScala.toSeq, (System.nanoTime() - t0) / 1e9)
  }

  /** Open loop: a scheduler thread releases each request at its due
    * time into a queue served by `threads` clients; latency counts
    * from the due time. Returns the calls and the scheduler's lateness
    * (ms) per request.
    */
  def openLoop(dataDir: String, reqs: IndexedSeq[Req], threads: Int): (Seq[CallRec], Seq[Double]) = {
    val q = new LinkedBlockingQueue[(Int, Long)]()
    val recs = new ConcurrentLinkedQueue[CallRec]()
    val workers = (0 until threads).map { _ =>
      val t = new Thread(() => {
        var go = true
        while (go) {
          val (i, due) = q.take()
          if (i < 0) go = false
          else recs.add(exec(dataDir, reqs(i), s"call:$i", due))
        }
      })
      t.setDaemon(true); t.start(); t
    }
    val t0 = System.nanoTime() + 20000000L
    val late = ArrayBuffer.empty[Double]
    reqs.indices.foreach { i =>
      val due = t0 + (reqs(i).dueMs * 1e6).toLong
      Workloads.sleepUntil(due)
      late += (System.nanoTime() - due) / 1e6
      q.put((i, due))
    }
    workers.foreach(_ => q.put((-1, 0L)))
    workers.foreach(_.join())
    (recs.asScala.toSeq, late.toSeq)
  }
}

object Workloads {
  private val AddTickMs = 100L
  /** Cold starts timed when the checkout's serving root is built. */
  private val ColdReps = 3
  /** Interval of the ingest visibility reads. */
  private val PollMs = 250L
  /** Counter values fed before the paced window (the warm-up batch)
    * and in each closed-loop saturation burst; number of bursts.
    */
  private val IngestWarm = 400
  private val IngestBurst = 150000
  private val IngestBursts = 3

  def sleepUntil(ns: Long): Unit = {
    var d = ns - System.nanoTime()
    while (d > 0) { LockSupport.parkNanos(d); d = ns - System.nanoTime() }
  }

  private def loadReqs(path: String): Seq[Req] = {
    val src = scala.io.Source.fromFile(path)
    try src.getLines().map { l =>
      val f = l.split("\t")
      Req(f(0), f(1).toDouble, f(2), f(3), f(4), f(5).toInt)
    }.toVector finally src.close()
  }

  private def copyTree(from: java.nio.file.Path, to: java.nio.file.Path): Unit = {
    val walk = java.nio.file.Files.walk(from)
    try walk.iterator().asScala.foreach { p =>
      val dst = to.resolve(from.relativize(p).toString)
      if (java.nio.file.Files.isDirectory(p)) java.nio.file.Files.createDirectories(dst)
      else java.nio.file.Files.copy(p, dst)
    } finally walk.close()
  }

  private def copyEvents(from: String, dir: String): String = {
    val dst = java.nio.file.Paths.get(dir)
    java.nio.file.Files.createDirectories(dst)
    java.nio.file.Files.copy(java.nio.file.Paths.get(from, "events.parquet"),
      dst.resolve("events.parquet"))
    dir
  }

  /** Builds the checkout's serving root: `ColdReps` cold starts, each on
    * its own copy of the data (its own fingerprint, so its own root):
    * `Serving.materialize`, then one call per route, which replicates
    * the tables that route reads. The last root is kept under
    * --root-out for the serve runs to restore; the median times go
    * into result.json.
    */
  def prepareServing(ctx: Ctx): Outcome = {
    val firstCalls = loadReqs(ctx.opts("requests"))
    val client = new Client(ctx)
    val times = (0 until ColdReps).map { rep =>
      val dir = copyEvents(ctx.opts("data-dir"), s"${ctx.runDir}/data_$rep")
      val t0 = System.nanoTime()
      val root = Serving.materialize(ctx.spark, dir)
      val t1 = System.nanoTime()
      val pool = java.util.concurrent.Executors.newFixedThreadPool(ctx.cpus)
      try firstCalls.zipWithIndex.map { case (r, i) =>
        pool.submit(() => client.exec(dir, r, s"first:$rep:$i", System.nanoTime()))
      }.map(_.get()).filterNot(_.ok).foreach { rec =>
        throw new IllegalStateException(s"first call failed: ${rec.error}")
      } finally pool.shutdown()
      val t2 = System.nanoTime()
      if (rep == ColdReps - 1) copyTree(java.nio.file.Paths.get(root), java.nio.file.Paths.get(ctx.opts("root-out")))
      ((t1 - t0) / 1e9, (t2 - t1) / 1e9)
    }
    Outcome(ColdReps, 0, Nil, Map(
      "materialize_s" -> Stats.median(times.map(_._1)),
      "replicate_s" -> Stats.median(times.map(_._2))), Map.empty,
      Map("cold_runs_s" -> times.map { case (m, r) => f"$m%.3f+$r%.3f" }.mkString(" ")))
  }

  /** Start of the serving side: restore the checkout's serving root
    * for a fresh copy of the data (`Serving.materialize` then finds it
    * complete, and the router finds every replica set built), then
    * the warm-up calls on the client threads. Returns the data
    * directory and the seconds spent restoring and warming up.
    */
  private def startServing(ctx: Ctx, client: Client, warm: Seq[Req]): (String, Double, Double) = {
    val dir = copyEvents(ctx.opts("data-dir"), s"${ctx.runDir}/serving_data")
    val t0 = System.nanoTime()
    ctx.tracer.span("setup", "serving.restore") { _ =>
      copyTree(java.nio.file.Paths.get(ctx.opts("serving-root")),
        java.nio.file.Paths.get(Serving.servingRoot(ctx.spark, dir)))
      Serving.materialize(ctx.spark, dir)
    }
    val t1 = System.nanoTime()
    // one call per (route, replica the tenant is routed to) pins every
    // replica a timed call can reach; the later passes warm the JIT
    val pins = warm.groupBy(r => (r.route, Replicas.replicaFor(r.tenant, ReplicaRouter.N)))
      .values.map(_.head).toSeq.sortBy(_.key)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(ctx.cpus)
    try (1 to 3).foreach { pass =>
      pins.zipWithIndex.map { case (r, i) =>
        pool.submit(() => client.exec(dir, r, s"warm:$pass:$i", System.nanoTime()))
      }.map(_.get()).filterNot(_.ok).foreach { rec =>
        throw new IllegalStateException(s"warm-up call failed: ${rec.error}")
      }
    } finally pool.shutdown()
    (dir, (t1 - t0) / 1e9, (System.nanoTime() - t1) / 1e9)
  }

  private def writeAnswers(ctx: Ctx, name: String,
      answers: java.util.concurrent.ConcurrentHashMap[String, (Int, Map[String, Any])]): Unit = {
    val w = new java.io.PrintWriter(s"${ctx.runDir}/$name", "UTF-8")
    try answers.asScala.toSeq.sortBy(_._1).foreach { case (k, (_, a)) =>
      w.println(Json.str(a + ("key" -> k)))
    } finally w.close()
  }

  /** Per-layer numbers of a set of API calls. */
  private def callLayers(ctx: Ctx, recs: Seq[CallRec], late: Seq[Double]): Map[String, Double] = {
    val ok = recs.filter(_.ok)
    val ms = (f: CallRec => Double) => ok.map(f)
    val routes = Seq("topk_global", "topk_restaurant", "topk_revenue", "distinct",
      "distinct_exact", "percentiles", "quantile", "quantile_approx")
    Map(
      "api.calls" -> ok.size.toDouble,
      "api.queue_p50_ms" -> Stats.median(ms(r => (r.startNs - r.dueNs) / 1e6)),
      "api.queue_p99_ms" -> Stats.p99(ms(r => (r.startNs - r.dueNs) / 1e6)),
      "api.gen_late_ms" -> Stats.p99(late),
      "api.build_p50_ms" -> Stats.median(ms(r => (r.builtNs - r.startNs) / 1e6)),
      "api.build_p99_ms" -> Stats.p99(ms(r => (r.builtNs - r.startNs) / 1e6)),
      "api.exec_p50_ms" -> Stats.median(ms(r => (r.endNs - r.builtNs) / 1e6)),
      "catalyst.analyze_ms" -> Stats.median(ms(_.analysisMs)),
      "catalyst.optimize_ms" -> Stats.median(ms(_.optimizationMs)),
      "catalyst.plan_ms" -> Stats.median(ms(_.planningMs)),
      "catalyst.ms_per_op" -> mean(ms(r => r.analysisMs + r.optimizationMs + r.planningMs)),
      "scheduler.files_per_op" -> mean(ms(_.files.toDouble))
    ) ++ routes.map(rt => s"api.route.${rt}_ms" ->
      Stats.median(ok.filter(_.req.route == rt).map(_.latencyMs)))
  }

  private def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size

  /** Scheduler counters per op for the ops `keep` selects; each op's
    * wall time (ms) comes from `wallMs`.
    */
  private def schedLayers(ctx: Ctx, keep: String => Boolean,
      wallMs: String => Option[Double]): Map[String, Double] = {
    val ops = ctx.probe.perOp(keep)
    val n = math.max(1, ops.size).toDouble
    Map(
      "scheduler.ops" -> ops.size.toDouble,
      "scheduler.jobs_per_op" -> ops.map(_.jobs).sum / n,
      "scheduler.stages_per_op" -> ops.map(_.stages).sum / n,
      "scheduler.tasks_per_op" -> ops.map(_.tasks).sum / n,
      "scheduler.task_ms_per_op" -> ops.map(_.taskMs).sum / n,
      "scheduler.input_kb_per_op" -> ops.map(_.inputBytes).sum / 1024.0 / n,
      "scheduler.shuffle_kb_per_op" -> ops.map(_.shuffleBytes).sum / 1024.0 / n,
      "scheduler.driver_gap_ms_per_op" -> ops.flatMap(o =>
        wallMs(o.op).map(w => math.max(0.0, w - o.jobUnionMs))).sum / n,
      "scheduler.spill_mb" -> ctx.probe.spillBytes / 1048576.0,
      "scheduler.task_skew_max" -> ctx.probe.taskSkew())
  }

  /** Catalyst numbers of the queries the program ran on its own
    * (micro-batch internals), from the QueryExecutionListener records
    * in [from, until); `head` is reserved for the benchmark's own
    * visibility reads.
    */
  private def innerCatalyst(ctx: Ctx, from: Int, until: Int, ops: Int): Map[String, Double] = {
    val qs = ctx.probe.queries.asScala.toSeq.slice(from, until).filter(_.funcName != "head")
    Map(
      "catalyst.analyze_ms" -> Stats.median(qs.map(_.analysisMs)),
      "catalyst.optimize_ms" -> Stats.median(qs.map(_.optimizationMs)),
      "catalyst.plan_ms" -> Stats.median(qs.map(_.planningMs)),
      "catalyst.ms_per_op" -> qs.map(q => q.analysisMs + q.optimizationMs + q.planningMs).sum /
        math.max(1, ops),
      "scheduler.files_per_op" -> qs.map(_.files.toDouble).sum / math.max(1, ops))
  }

  // ---------------------------------------------------------------- serve

  /** The seeded call mix against a freshly restored serving root: an
    * open loop at a fixed rate, then a closed-loop saturation burst.
    */
  def serve(ctx: Ctx): Outcome = {
    val reqs = loadReqs(ctx.opts("requests"))
    val warm = reqs.filter(_.kind == "warm")
    val timed = reqs.filter(_.kind == "timed").toIndexedSeq
    val sat = reqs.filter(_.kind == "sat").toIndexedSeq
    val client = new Client(ctx)
    val (dir, restoreS, warmS) = startServing(ctx, client, warm)
    // the closed loop runs first: it also settles the JIT before the
    // open loop is timed
    val (satRecs, satS) = client.closedLoop(dir, sat, ctx.cpus)
    val t0 = System.nanoTime()
    val (recs, late) = client.openLoop(dir, timed, ctx.cpus)
    val windowS = (System.nanoTime() - t0) / 1e9
    writeAnswers(ctx, "answers.jsonl", client.answers)
    val ok = recs.filter(_.ok)
    val e2e = Map(
      // per-run set-up only: the cold start (materialize + replication)
      // is timed once per checkout, when its root is built, and varies
      // more across checkouts than setup_s's bound allows; it is in the
      // per-layer serving.materialize_s and serving.replicate_s
      "setup_s" -> (ctx.sessionS + restoreS + warmS),
      "p50_ms" -> Stats.median(ok.map(_.latencyMs)),
      "rate_per_s" -> satRecs.count(_.ok) / satS)
    val layer =
      if (!ctx.tracer.enabled) Map.empty[String, Double]
      else {
        ctx.probe.drain()
        val wall = recs.map(r => r.op -> (r.endNs - r.startNs) / 1e6).toMap
        callLayers(ctx, recs, late) ++
          schedLayers(ctx, _.startsWith("call:"), wall.get) ++ Map(
            "api.p90_ms" -> Stats.quantile(ok.map(_.latencyMs), 0.9),
            "serving.materialize_s" -> ctx.opts("materialize-s").toDouble,
            "serving.replicate_s" -> ctx.opts("replicate-s").toDouble,
            "serving.restore_s" -> restoreS,
            "serving.warmup_s" -> warmS)
      }
    val all = recs ++ satRecs
    Outcome(all.size, all.count(!_.ok), all.filterNot(_.ok).map(_.error), e2e, layer,
      Map("calls" -> timed.size.toString, "window_s" -> f"$windowS%.3f",
        "sat_calls" -> sat.size.toString, "distinct_keys" -> client.answers.size.toString,
        "restore_s" -> f"$restoreS%.3f", "warmup_s" -> f"$warmS%.3f"))
  }

  // --------------------------------------------------------------- ingest

  private def awaitRows(q: StreamingQuery, rows: Long, timeoutS: Int): Unit = {
    val deadline = System.nanoTime() + timeoutS * 1000000000L
    while (q.recentProgress.map(_.numInputRows).sum < rows) {
      q.exception.foreach(e => throw e)
      if (System.nanoTime() > deadline)
        throw new IllegalStateException(s"stream did not take $rows rows within $timeoutS s")
      Thread.sleep(10)
    }
  }

  private def isDup(v: Long): Boolean = v > 0 && v % Generator.dupEvery == 0

  /** Reads a visible count every `everyMs` on its own thread; each
    * sample is (epoch ms when the read returned, count read).
    */
  private final class Poller(ctx: Ctx, everyMs: Long, read: () => Long) {
    private val samples = new ConcurrentLinkedQueue[(Long, Long)]()
    @volatile private var stop = false
    private val t = new Thread(() => {
      ctx.spark.sparkContext.setLocalProperty(Probe.OpKey, "reader")
      while (!stop) {
        val next = System.currentTimeMillis() + everyMs
        // a read that overlaps a partition overwrite may fail: not visible yet
        val v = try read() catch { case _: Exception => -1L }
        samples.add((System.currentTimeMillis(), v))
        val d = next - System.currentTimeMillis()
        if (d > 0) Thread.sleep(d)
      }
    })
    t.setDaemon(true); t.start()

    def awaitAtLeast(n: Long, timeoutS: Int): Boolean = {
      val deadline = System.nanoTime() + timeoutS * 1000000000L
      def latest = samples.asScala.lastOption.map(_._2).getOrElse(-1L)
      while (latest < n && System.nanoTime() < deadline) Thread.sleep(20)
      latest >= n
    }
    def close(): Array[(Long, Long)] = { stop = true; t.join(); samples.asScala.toArray }
  }

  /** For each target count (ascending), the time of the first sample
    * that read at least that many; -1 if none did.
    */
  private def firstSeen(samples: Array[(Long, Long)], targets: Seq[Long]): Seq[Long] = {
    var i = 0
    targets.map { n =>
      while (i < samples.length && samples(i)._2 < n) i += 1
      if (i < samples.length) samples(i)._1 else -1L
    }
  }

  private def progressStart(p: StreamingQueryProgress): Long =
    java.time.Instant.parse(p.timestamp).toEpochMilli
  private def dur(p: StreamingQueryProgress, k: String): Double =
    Option(p.durationMs.get(k)).map(_.doubleValue).getOrElse(0.0)
  private def offsets(p: StreamingQueryProgress): Range = {
    val s = p.sources.head
    val from = Option(s.startOffset).map(_.trim.toLong).getOrElse(-1L)
    (from + 1).toInt to s.endOffset.trim.toInt
  }

  /** Streaming per-layer numbers from the progress of `batches`. */
  private def streamLayers(batches: Seq[StreamingQueryProgress]): Map[String, Double] = {
    val state = batches.lastOption.toSeq.flatMap(_.stateOperators)
    Map(
      "streaming.batches" -> batches.size.toDouble,
      "streaming.rows_per_batch" -> mean(batches.map(_.numInputRows.toDouble)),
      "streaming.batch_ms" -> Stats.median(batches.map(dur(_, "triggerExecution"))),
      "streaming.plan_ms" -> Stats.median(batches.map(dur(_, "queryPlanning"))),
      "streaming.add_batch_ms" -> Stats.median(batches.map(dur(_, "addBatch"))),
      "streaming.commit_ms" -> Stats.median(batches.map(b =>
        dur(b, "walCommit") + dur(b, "commitOffsets"))),
      "streaming.state_rows" -> state.map(_.numRowsTotal.toDouble).sum,
      "streaming.state_mb" -> state.map(_.memoryUsedBytes.toDouble).sum / 1048576.0,
      // rows the dedup operator dropped over rows offered
      "streaming.dup_drop_frac" -> batches.flatMap(_.stateOperators).map(s =>
        Option(s.customMetrics.get("numDroppedDuplicateRows")).map(_.doubleValue).getOrElse(0.0)).sum /
        math.max(1.0, batches.map(_.numInputRows.toDouble).sum))
  }

  /** Interval of the pipeline's processing-time trigger, read from the
    * running query.
    */
  private def triggerMs(q: StreamingQuery): Long = q match {
    case w: StreamingQueryWrapper => w.streamingQuery.trigger match {
      case t: ProcessingTimeTrigger if t.intervalMs > 0 => t.intervalMs
      case t => throw new IllegalStateException(
        s"the pipeline runs on trigger $t; the paced window needs a processing-time trigger")
    }
    case other => throw new IllegalStateException(s"unexpected query class ${other.getClass}")
  }

  /** The streaming pipeline with its default trigger: a cold start
    * that takes a warm-up batch, a paced open loop over the run's
    * seconds whose events land in two or more trigger intervals, then
    * closed-loop saturation bursts, each through a fresh pipeline.
    */
  def ingest(ctx: Ctx): Outcome = {
    val spark = ctx.spark
    import spark.implicits._
    implicit val sqlc: org.apache.spark.sql.SQLContext = spark.sqlContext
    val warmRows = IngestWarm
    val burstRows = IngestBurst
    def paths(name: String) = {
      val d = s"${ctx.runDir}/$name"
      (s"$d/raw", s"$d/rollup", s"$d/topk", s"$d/ckpt")
    }
    def startPipeline(name: String, first: Seq[Tick]) = {
      val mem = MemoryStream[Tick]
      mem.addData(first)
      val (raw, rollup, topk, ckpt) = paths(name)
      val t0 = System.nanoTime()
      val q = StreamingPipeline.start(spark, Generator.eventsFromCounter(mem.toDF()),
        raw, rollup, topk, ckpt).head
      awaitRows(q, first.size.toLong, 120)
      (mem, q, (System.nanoTime() - t0) / 1e9)
    }
    def ticks(from: Long, until: Long) = {
      val now = new Timestamp(System.currentTimeMillis())
      (from until until).map(v => Tick(now, v))
    }
    def deduped(from: Long, until: Long) = (from until until).count(v => !isDup(v)).toLong

    val (mem, q, startS) = startPipeline("pipeline", ticks(0, warmRows))
    ctx.probe.drain()
    val queriesBefore = ctx.probe.queries.size
    val (raw, rollup, topk, _) = paths("pipeline")
    val due = {
      val src = scala.io.Source.fromFile(ctx.opts("ingest-due"))
      try src.getLines().map(_.toDouble).toArray finally src.close()
    }
    val n = due.length
    val warmDeduped = deduped(0, warmRows)
    val totalDeduped = warmDeduped + deduped(warmRows, warmRows + n)
    val reader = new Poller(ctx, PollMs, () => {
      val r = spark.read.parquet(topk).agg(sum(col("order_count"))).head()
      if (r.isNullAt(0)) 0L else r.getLong(0)
    })
    // Spark fires a processing-time trigger on wall-clock multiples of
    // its interval. The paced window is placed at the same phase in
    // every run, centred so that its first and last trigger intervals
    // take equal shares of it.
    val interval = triggerMs(q)
    val windowMs = ctx.opts("seconds").toLong * 1000L
    val phaseMs = (interval - windowMs % interval) / 2
    // the first time at that phase at least 100 ms from now
    val earliest = System.currentTimeMillis() + 100
    val startMs = (earliest - phaseMs + interval - 1) / interval * interval + phaseMs
    val addMs = new Array[Long](n)
    val offsetOf = new Array[Int](n) // MemoryStream offset 0 is the warm-up batch
    var offset = 0
    var i = 0
    var backlogMax = 0L
    while (i < n) {
      val now = System.currentTimeMillis()
      var j = i
      while (j < n && startMs + due(j) <= now) j += 1
      if (j > i) {
        offset += 1
        val stamp = new Timestamp(now)
        mem.addData((i until j).map(k => Tick(stamp, warmRows + k)))
        (i until j).foreach { k => addMs(k) = now; offsetOf(k) = offset }
        i = j
        backlogMax = math.max(backlogMax, i - (q.recentProgress.map(_.numInputRows).sum - warmRows))
      }
      // MemoryStream plans one relation per addData call, so events
      // go in on 100 ms ticks rather than one call each
      Thread.sleep(math.max(1L, now + AddTickMs - System.currentTimeMillis()))
    }
    val windowS = (System.currentTimeMillis() - startMs) / 1000.0
    val drained = reader.awaitAtLeast(totalDeduped, 60)
    val samples = reader.close()
    val progress = q.recentProgress.filter(_.numInputRows > 0).toSeq
    q.stop()
    ctx.probe.drain()
    val queriesAfter = ctx.probe.queries.size

    // freshness: due time -> first read of the top-K table that counts
    // the event (duplicates are dropped, so they have none)
    val kept = (0 until n).filterNot(k => isDup(warmRows + k))
    val seenAt = firstSeen(samples, kept.indices.map(c => warmDeduped + c + 1L))
    val fresh = kept.zip(seenAt).collect { case (k, t) if t >= 0 => (t - startMs - due(k)).toDouble }
    val missing = seenAt.count(_ < 0)
    val paced = progress.drop(1)
    val batchOf = paced.flatMap(p => offsets(p).map(_ -> p)).toMap
    val triggerWait = kept.flatMap(k => batchOf.get(offsetOf(k)).map(p =>
      (progressStart(p) - startMs - due(k)).toDouble))
    val dedupedAt = kept.groupBy(offsetOf(_)).map { case (o, ks) => o -> ks.size.toLong }
    val cumulative = paced.scanLeft(warmDeduped)((c, p) =>
      c + offsets(p).map(o => dedupedAt.getOrElse(o, 0L)).sum).tail
    val visible = paced.zip(firstSeen(samples, cumulative)).collect { case (p, t) if t >= 0 =>
      t - progressStart(p) - dur(p, "triggerExecution")
    }

    // closed-loop saturation bursts, each through a fresh pipeline whose
    // first batch takes it whole; the rate is their median
    val bursts = IngestBursts
    val burstFrom = (0 until bursts).map(b => (warmRows + n + b * burstRows).toLong)
    val burstS = burstFrom.zipWithIndex.map { case (from, b) =>
      val (_, bq, _) = startPipeline(s"burst_$b", ticks(from, from + burstRows))
      val batch = bq.recentProgress.filter(_.numInputRows > 0).head
      bq.stop()
      dur(batch, "triggerExecution") / 1000.0
    }

    // the generator's own tally of the paced pipeline's events; the
    // sinks are checked against it, and against the expected row
    // counts (dedup drops exactly the injected duplicates), by oracle.py
    val expectedTop = Generator.expectedTopUsers(spark, warmRows + n, 10)
    Json.write(s"${ctx.runDir}/ingest_expected.json", Map(
      "raw_rows" -> totalDeduped,
      // a duplicate whose original went to another pipeline is new here
      "burst_rows" -> burstFrom.map(from =>
        deduped(from, from + burstRows) + (if (isDup(from)) 1 else 0)),
      "top_users" -> Answers.rows(expectedTop, expectedTop.collect())))
    val failures = ArrayBuffer.empty[String]
    if (!drained) failures += s"the top-K table did not count all $totalDeduped events within 60 s"

    val e2e = Map(
      "setup_s" -> (ctx.sessionS + startS),
      "p50_ms" -> Stats.median(fresh),
      "rate_per_s" -> Stats.median(burstS.map(burstRows / _)))
    val layer =
      if (!ctx.tracer.enabled) Map.empty[String, Double]
      else {
        ctx.probe.drain()
        val opOf = paced.map(p => s"stream:${q.id}:${p.batchId}" -> p).toMap
        opOf.foreach { case (op, p) =>
          val s = progressStart(p) * 1000000L
          ctx.tracer.record(op, "streaming.batch", 0L, s, s + (dur(p, "triggerExecution") * 1e6).toLong)
        }
        val batchOps = ctx.probe.perOp(opOf.contains)
        streamLayers(paced) ++
          schedLayers(ctx, opOf.contains, op => opOf.get(op).map(dur(_, "triggerExecution"))) ++
          innerCatalyst(ctx, queriesBefore, queriesAfter, paced.size) ++ Map(
            "streaming.trigger_wait_ms" -> Stats.median(triggerWait),
            "streaming.visible_ms" -> Stats.median(visible.map(_.toDouble)),
            "streaming.backlog_rows_max" -> backlogMax.toDouble,
            "streaming.gen_late_ms" -> Stats.p99((0 until n).map(k => (addMs(k) - startMs - due(k)).toDouble)),
            "streaming.rollup_segments" -> Option(new java.io.File(rollup).listFiles())
              .map(_.count(_.getName.startsWith("batch_id=")).toDouble).getOrElse(0.0),
            "streaming.fresh_p90_ms" -> Stats.quantile(fresh, 0.9),
            "streaming.fresh_p99_ms" -> Stats.p99(fresh),
            "streaming.start_s" -> startS,
            "streaming.sat_batch_s" -> Stats.median(burstS),
            "streaming.jobs_per_batch" -> batchOps.map(_.jobs).sum.toDouble / math.max(1, paced.size),
            "streaming.shuffle_kb_per_batch" ->
              batchOps.map(_.shuffleBytes).sum / 1024.0 / math.max(1, paced.size))
      }
    Outcome(warmRows + n + bursts * burstRows, failures.size + missing, failures.toSeq, e2e, layer,
      Map("events" -> n.toString, "window_s" -> f"$windowS%.3f", "burst_rows" -> burstRows.toString,
        "paced_batches" -> paced.size.toString, "raw_dir" -> raw, "topk_dir" -> topk,
        "burst_raw_dirs" -> (0 until bursts).map(b => paths(s"burst_$b")._1).mkString(","),
        "burst_s" -> burstS.map(t => f"$t%.3f").mkString(" "),
        "pipeline_start_s" -> f"$startS%.3f", "fresh_samples" -> fresh.size.toString,
        "trigger_ms" -> interval.toString, "window_phase_ms" -> phaseMs.toString,
        "batches" -> progress.map(p => s"${p.batchId}:${p.numInputRows}:${dur(p, "triggerExecution")}:${p.durationMs}").mkString(" ")))
  }
}
