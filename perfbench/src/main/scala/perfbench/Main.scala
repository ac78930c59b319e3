package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.SparkSession

import graft.GraftSession

final case class Metric(name: String, value: Double, unit: String)

/** What one workload run reports: the operations it attempted and got
  * wrong, its end-to-end and per-layer metrics, and diagnostics that are
  * not metrics.
  */
final case class Outcome(attempted: Long, failed: Long, e2e: Seq[Metric],
    layers: Seq[Metric], diagnostics: Seq[(String, String)])

trait Workload { def run(ctx: Ctx): Outcome }

/** Per-run state: the seed, the measuring window, the Spark session and the
  * probes that only listen when the run is traced.
  */
final class Ctx(val seed: Long, val seconds: Int, val trace: Boolean, val work: Path,
    val cpus: Int) {
  var spark: SparkSession = _
  val spans = new Spans(s"seed$seed")
  val tally = new Tally
  val progress = new Progress
  private var excluded = 0.0

  /** (Re)build the engine's session on `local[cores]`, its scratch space
    * inside the work directory.
    */
  def session(cores: Int = cpus): SparkSession = {
    if (spark != null) spark.stop()
    spark = GraftSession.builder(s"local[$cores]", cores.toString)
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark.sparkContext.addSparkListener(tally)
    if (trace) spark.streams.addListener(progress)
    spark
  }

  def timed[T](f: => T): (T, Double) = {
    val t = System.nanoTime()
    val r = f
    (r, (System.nanoTime() - t) / 1e9)
  }

  /** Time `f` and leave it out of the set-up time being measured. */
  def exclude[T](f: => T): T = {
    val (r, s) = timed(f)
    excluded += s
    r
  }

  /** Set up `reps` times — session, dimension, untimed warm-up pass — and
    * return the median. The first set-up also counts the JVM's start.
    */
  def setup(warm: () => Unit, reps: Int = 3): Double = {
    require(reps >= 1)
    val times = (0 until reps).map { i =>
      val t0 = System.nanoTime()
      excluded = 0.0
      spans(s"setup.$i") { session(); warm() }
      (System.nanoTime() - t0) / 1e9 - excluded + (if (i == 0) Main.jvmBootS else 0.0)
    }
    Stats.median(times)
  }
}

object Main {
  /** From process start until `main` runs: the JVM's own share of the
    * first set-up.
    */
  lazy val jvmBootS: Double = (bootWallMs - Probe.processStartMs) / 1e3
  private var bootWallMs = 0L

  val NameOk = "[A-Za-z0-9_.-]+"

  val EndToEnd: Seq[(String, String)] = Seq(
    "items_per_s" -> "1/s", "latency_p50_ms" -> "ms", "latency_p80_ms" -> "ms", "setup_s" -> "s")

  val PerLayer: Seq[(String, String)] = Seq(
    "ingest.read_s" -> "s", "ingest.parse_s" -> "s", "ingest.parse_dlq_s" -> "s",
    "ingest.json_parses" -> "count",
    "enrich.s" -> "s", "enrich.rejected_rows" -> "count",
    "normalize.s" -> "s", "normalize.rows_out" -> "count", "normalize.dropped_no_ue_rows" -> "count",
    "policy.s" -> "s", "policy.denied_rows" -> "count",
    "sinks.kafka_s" -> "s", "sinks.shuffle_bytes" -> "bytes", "sinks.shuffle_records" -> "count",
    "sinks.messages" -> "count", "sinks.max_message_records" -> "count",
    "stream.batches" -> "count", "stream.batch_ms_p50" -> "ms", "stream.batch_ms_max" -> "ms",
    "stream.addBatch_ms" -> "ms", "stream.latestOffset_ms" -> "ms", "stream.getBatch_ms" -> "ms",
    "stream.queryPlanning_ms" -> "ms", "stream.walCommit_ms" -> "ms",
    "stream.commitOffsets_ms" -> "ms", "stream.send_ms" -> "ms", "stream.pre_send_ms" -> "ms",
    "stream.jobs_per_batch" -> "count", "stream.overhead_s" -> "s",
    "catalog.build_s" -> "s", "catalog.plan_s" -> "s", "catalog.exec_s" -> "s",
    "catalog.jobs" -> "count", "catalog.stages" -> "count", "catalog.tasks" -> "count",
    "catalog.shuffle_bytes" -> "bytes",
    "jvm.gc_s" -> "s", "jvm.heap_peak_mb" -> "MB", "spark.executor_cpu_s" -> "s",
    "spark.tasks" -> "count", "trace.items_per_s" -> "1/s", "baseline.local1_items_per_s" -> "1/s")

  def workloads: Map[String, Workload] = Map(
    "mixed_drain" -> new IngestBench.DrainWorkload(nFiles = 8, perFile = 2500, maxFiles = 1),
    "catalog_fingerprint" -> new CatalogBench.Workload)

  /** A JSON number with every digit the double carries. */
  private def num(v: Double): String = if (v.isNaN || v.isInfinite) "0" else v.toString

  private def esc(s: String): String =
    s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    }

  def metricsJson(ms: Seq[Metric]): String = ms.map(m =>
    s""""${m.name}": {"value": ${num(m.value)}, "unit": "${m.unit}"}""").mkString("{", ", ", "}")

  def main(argv: Array[String]): Unit = {
    bootWallMs = System.currentTimeMillis()
    val opts = argv.sliding(2, 2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val work = Paths.get(opts.getOrElse("work", ".bench_build/work")).toAbsolutePath
    opts.get("mode").foreach {
      case "selftest" => sys.exit(if (SelfTest.run(work)) 0 else 1)
      case "freeze" => sys.exit(if (CatalogBench.freeze(work, Paths.get(opts("out")))) 0 else 1)
      case m => throw new IllegalArgumentException(s"unknown mode $m")
    }
    val name = opts("workload")
    val workload = workloads.getOrElse(name,
      throw new IllegalArgumentException(s"unknown workload $name; known: ${workloads.keys.mkString(", ")}"))
    val ctx = new Ctx(opts.getOrElse("seed", "1").toLong, opts.getOrElse("seconds", "10").toInt,
      opts.getOrElse("trace", "0") == "1", work, Runtime.getRuntime.availableProcessors())
    val calibPre = ctx.spans("bench.calibrate")((Probe.calibrate(), Probe.calibrateMt()))
    val out = try workload.run(ctx) finally if (ctx.spark != null) ctx.spans("bench.stop")(ctx.spark.stop())
    val calibPost = ctx.spans("bench.calibrate")((Probe.calibrate(), Probe.calibrateMt()))
    Files.write(work.resolve("spans.json"), ctx.spans.json.getBytes(UTF_8))
    val diag = out.diagnostics.map { case (k, v) => s""""$k": "${esc(v)}"""" }.mkString(", ")
    println(s"""{"diagnostics": {$diag}}""")
    // host-contention receipt: fixed CPU work before and after the run,
    // recorded beside the results, not a metric
    println(s"""{"receipt": {"calib_s": [${num(calibPre._1)}, ${num(calibPost._1)}], """ +
      s""""calibmt_s": [${num(calibPre._2)}, ${num(calibPost._2)}], "cpus": ${ctx.cpus}}}""")
    val metrics =
      if (ctx.trace) {
        val got = out.layers.map(m => m.name -> m).toMap
        PerLayer.map { case (n, u) => got.getOrElse(n, Metric(n, 0.0, u)) }
      } else out.e2e
    println(s"""{"correct": ${out.failed == 0}, "attempted": ${out.attempted}, """ +
      s""""failed": ${out.failed}, "metrics": ${metricsJson(metrics)}}""")
  }
}
