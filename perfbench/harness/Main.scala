package perfbench


import org.apache.spark.sql.{DataFrame, SparkSession}

/** Benchmark client: drives the program through its public functions
  * only (`TopKApi`, `Serving`, `StreamingPipeline`, `Generator`) and
  * writes `result.json` into the run directory.
  *
  * Usage: Main --workload <prepare-serving|serve|ingest> --run-dir <dir>
  *   --trace <0|1> --cpus <n>
  *   prepare-serving: --data-dir <dir> --requests <tsv> --root-out <dir>
  *   serve:  --data-dir <dir> --requests <tsv> --serving-root <dir>
  *           --materialize-s <s> --replicate-s <s>
  *   ingest: --ingest-due <txt> --seconds <paced window, s>
  */
object Main {

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).map(a => a(0).stripPrefix("--") -> a(1)).toMap
    val runDir = opts("run-dir")
    val cpus = opts("cpus").toInt
    val trace = opts("trace") == "1"
    val t0 = System.nanoTime()
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", s"$runDir/warehouse")
      .config("spark.local.dir", s"$runDir/spark-local")
      .config("spark.sql.streaming.checkpointLocation", s"$runDir/checkpoints")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionS = (System.nanoTime() - t0) / 1e9
    val tracer = new Tracer(trace)
    val probe = new Probe(spark, tracer)
    if (trace) probe.install()
    val ctx = Ctx(spark, opts, runDir, cpus, tracer, probe, sessionS)
    val out =
      try opts("workload") match {
        case "prepare-serving" => Workloads.prepareServing(ctx)
        case "serve" => Workloads.serve(ctx)
        case "ingest" => Workloads.ingest(ctx)
        case w => throw new IllegalArgumentException(s"unknown workload $w")
      } finally {
        spark.streams.active.foreach(_.stop())
      }
    if (trace) {
      probe.recordJobSpans()
      tracer.write(s"$runDir/spans.jsonl")
    }
    val facts = out.facts ++ Map(
      "spark_version" -> spark.version,
      "jdk" -> System.getProperty("java.version"),
      "master" -> spark.sparkContext.master,
      "heap_max_mb" -> (Runtime.getRuntime.maxMemory / (1024 * 1024)).toString,
      "session_start_s" -> f"$sessionS%.3f")
    Json.write(s"$runDir/result.json", Map(
      "attempted" -> out.attempted,
      "failed" -> out.failed,
      "failures" -> out.failures.take(50),
      "e2e" -> out.e2e,
      "layer" -> out.layer,
      "facts" -> facts))
    spark.stop()
  }
}

final case class Ctx(spark: SparkSession, opts: Map[String, String], runDir: String,
    cpus: Int, tracer: Tracer, probe: Probe, sessionS: Double)

final case class Outcome(attempted: Long, failed: Long, failures: Seq[String],
    e2e: Map[String, Double], layer: Map[String, Double], facts: Map[String, String])

object Json {
  private val mapper = {
    val m = new com.fasterxml.jackson.databind.ObjectMapper()
    m.registerModule(com.fasterxml.jackson.module.scala.DefaultScalaModule)
    m
  }
  def write(path: String, v: Any): Unit =
    java.nio.file.Files.write(java.nio.file.Paths.get(path),
      mapper.writeValueAsString(v).getBytes("UTF-8"))
  def str(v: Any): String = mapper.writeValueAsString(v)
}

/** Order-independent digest of a result set, and its JSON form (the
  * answers are BIGINT/INT/STRING columns).
  */
object Answers {
  def rows(df: DataFrame, collected: Array[org.apache.spark.sql.Row]): Map[String, Any] =
    Map("cols" -> df.columns.toSeq, "rows" -> collected.toSeq.map(_.toSeq))
  def digest(collected: Array[org.apache.spark.sql.Row]): Int =
    scala.util.hashing.MurmurHash3.seqHash(collected.map(_.toString).sorted.toSeq)
}
