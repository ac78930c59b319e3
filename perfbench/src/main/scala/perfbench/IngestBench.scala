package perfbench

import java.nio.file.Path
import java.util.SplittableRandom
import java.util.concurrent.ConcurrentHashMap

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.expressions.JsonToStructs
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{IntegerType, StringType, StructField, StructType}

import graft.Ingest
import graft.enrich.Enrich
import graft.normalize.Normalize
import graft.policy.Policy
import graft.schemas.NefSchemas
import graft.sinks.Sinks
import graft.streaming.Stream

/** The ingest workload: backlog drains through `Stream.runIngest`, plus
  * the traced per-layer cut.
  */
object IngestBench {

  /** The workload's policy: deny the `ims` DNN, hash `supi`, redact
    * `gpsi`, drop `pdb_ms`, compiled from the model the ledger applies.
    */
  val policy: Gen.PolicyModel = Gen.MixedPolicy

  /** Substrings no sink value may hold under `policy`: the generator's raw
    * `supi` and `gpsi` prefixes.
    */
  val leak: Seq[String] = Seq("imsi-", "msisdn-")

  // null-safe on purpose: `Policy.apply` keeps rows where `!deny` holds,
  // so a plain `===` (null for records without a dnn tag) would drop them
  def rules(m: Gen.PolicyModel): Policy.Rules =
    Policy.Rules(deny = m.denyDnn.fold(lit(false))(d => col("tags.dnn") <=> lit(d)),
      hashTags = m.hashTags, redactTags = m.redactTags, dropMetrics = m.dropMetrics)

  def subscriptions(spark: SparkSession, subs: Seq[Gen.Sub]): DataFrame = {
    val rows = subs.map { s =>
      Row(s.notifId, if (s.sst.isEmpty && s.sd.isEmpty) null else Row(s.sst.orNull, s.sd.orNull),
        s.dnn.orNull, Seq("PERF_DATA", "UE_MOBILITY", "UE_COMM"), s"nef-${s.notifId}",
        "http://nef:8090/nnef-event-exposure/v1/subscriptions", 1000000L)
    }
    spark.createDataFrame(rows.asJava, NefSchemas.subscription).cache()
  }

  /** One `runIngest` run: when it started and ended, when each batch's
    * `sendBatch` ran, which batch read each file, and the sink's messages.
    */
  final case class IngestRun(t0: Long, t1: Long, sends: Map[Long, (Long, Long)],
      fileBatch: Map[String, Long], out: Seq[(String, String)]) {
    def wallS: Double = (t1 - t0) / 1e9
  }

  private val runIds = new java.util.concurrent.atomic.AtomicLong

  /** Drain `src` once through `runIngest`, its `sendBatch` the engine's
    * `Stream.upsertSender` into a fresh `KeyedUpsertStore`, each call timed.
    */
  def drain(spark: SparkSession, src: Path, subs: DataFrame, maxFiles: Int, dir: Path): IngestRun = {
    Stats.deleteTree(dir)
    val store = new Stream.KeyedUpsertStore(s"perfbench-${runIds.incrementAndGet()}")
    val upsert = Stream.upsertSender(store)
    val sends = new ConcurrentHashMap[Long, (Long, Long)]
    val send: (DataFrame, Long) => Unit = (df, id) => {
      val s = System.nanoTime()
      upsert(df, id)
      sends.put(id, (s, System.nanoTime()))
    }
    val t0 = System.nanoTime()
    val q = Stream.runIngest(
      spark.readStream.option("maxFilesPerTrigger", maxFiles.toLong).text(src.toString),
      subs, dir.resolve("ck").toString, send, rules(policy))
    q.awaitTermination()
    val t1 = System.nanoTime()
    q.exception.foreach(e => throw e)
    IngestRun(t0, t1, sends.asScala.toMap, Stats.fileBatches(dir.resolve("ck")),
      store.snapshot.toSeq.map { case ((_, k), v) => k -> v })
  }

  private val messageSchema = StructType(Seq(StructField("run", IntegerType),
    StructField("key", StringType), StructField("value", StringType)))

  /** Check the sink output of several runs over the same input in one pass. */
  def check(spark: SparkSession, runs: Seq[IngestRun], ledger: Gen.Ledger): Check.Result = {
    val rows = runs.zipWithIndex.flatMap { case (r, i) => r.out.map { case (k, v) => Row(i, k, v) } }
    Check(spark, spark.createDataFrame(rows.asJava, messageSchema), ledger, leak, runs.size)
  }

  // ── per-layer cut ──

  /** Count `from_json` nodes in a frame's executed plan (AQE off, so the
    * whole plan is visible before it runs).
    */
  def jsonParses(spark: SparkSession, dfs: DataFrame*): Long = {
    val aqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try dfs.map { df =>
      df.queryExecution.executedPlan.collect { case p => p }
        .flatMap(_.expressions.flatMap(_.collect { case j: JsonToStructs => j })).size.toLong
    }.sum
    finally spark.conf.set("spark.sql.adaptive.enabled", aqe)
  }

  private def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  /** read → +parse → +enrich → +normalize → +policy → +kafkaBatches, each
    * step consumed by `noop`; a layer's time is the difference between
    * adjacent steps.
    */
  def layerCut(ctx: Ctx, src: Path, subs: DataFrame): (Seq[Metric], Double) = {
    val spark = ctx.spark
    val now = lit(1776680100L)
    val raw = spark.read.text(src.toString)
    val parsed = Ingest.parseNotifications(raw)
    val enriched = Enrich.enrich(parsed, subs)
    val normalized = Normalize.envelopes(enriched, now)
    val policed = Policy(normalized, rules(policy))
    val kafka = Sinks.kafkaBatches(policed)
    def timed(name: String)(f: => Unit): Double = ctx.spans(name) {
      System.gc()
      val t = System.nanoTime(); f; (System.nanoTime() - t) / 1e9
    }
    val tRead = timed("ingest.read")(noop(raw))
    val tParse = timed("ingest.parseNotifications")(noop(parsed))
    val (ok, dlq) = Ingest.parseNotificationsWithDlq(raw)
    val tDlq = timed("ingest.parseNotificationsWithDlq") { noop(ok); noop(dlq) }
    val tEnrich = timed("enrich.enrich")(noop(enriched))
    val tNorm = timed("normalize.envelopes")(noop(normalized))
    val tPolicy = timed("policy.apply")(noop(policed))
    val before = ctx.tally.snap(spark.sparkContext)
    val tKafka = timed("sinks.kafkaBatches")(noop(kafka))
    val shuffle = ctx.tally.snap(spark.sparkContext) - before
    val nNorm = normalized.count()
    (Seq(
      Metric("ingest.read_s", tRead, "s"),
      Metric("ingest.parse_s", tParse - tRead, "s"),
      Metric("ingest.parse_dlq_s", tDlq - tRead, "s"),
      Metric("ingest.json_parses",
        jsonParses(spark, Ingest.kafkaMessages(parsed, subs, rules(policy), now), ok, dlq), "count"),
      Metric("enrich.s", tEnrich - tParse, "s"),
      Metric("enrich.rejected_rows", Enrich.rejected(parsed, subs).count(), "count"),
      Metric("normalize.s", tNorm - tEnrich, "s"),
      Metric("normalize.rows_out", nNorm, "count"),
      Metric("normalize.dropped_no_ue_rows", Normalize.droppedNoUeId(enriched, now).count(), "count"),
      Metric("policy.s", tPolicy - tNorm, "s"),
      Metric("policy.denied_rows", nNorm - policed.count(), "count"),
      Metric("sinks.kafka_s", tKafka - tPolicy, "s"),
      Metric("sinks.shuffle_bytes", shuffle.shuffleBytes, "bytes"),
      Metric("sinks.shuffle_records", shuffle.shuffleRecords, "count"),
      Metric("sinks.messages", kafka.count(), "count")), tKafka)
  }

  /** The per-layer metrics of a traced ingest run: the layer cut over the
    * run's input, the per-batch stream phases from the progress listener
    * (averaged per batch) with the benchmark's own `sendBatch` timing, and
    * the run's JVM and Spark counters.
    */
  def ingestLayers(ctx: Ctx, src: Path, subs: DataFrame, runs: Seq[IngestRun],
      counters: Snap, gc: Double, heap: Double, maxRecords: Long, itemsPerS: Double): Seq[Metric] = {
    val progress = ctx.progress.take()
    val (cut, composition) = layerCut(ctx, src, subs)
    val nb = math.max(1, progress.size)
    def phase(k: String): Double = progress.map(_.getOrElse(k, 0L)).sum.toDouble / nb
    val trig = progress.map(_.getOrElse("triggerExecution", 0L).toDouble)
    val sendMs = runs.flatMap(_.sends.values.map { case (s, e) => (e - s) / 1e6 }).sum / nb
    cut ++ Seq(
      Metric("stream.batches", progress.size.toDouble / math.max(1, runs.size), "count"),
      Metric("stream.batch_ms_p50", if (trig.isEmpty) 0 else Stats.median(trig), "ms"),
      Metric("stream.batch_ms_max", if (trig.isEmpty) 0 else trig.max, "ms"),
      Metric("stream.addBatch_ms", phase("addBatch"), "ms"),
      Metric("stream.latestOffset_ms", phase("latestOffset"), "ms"),
      Metric("stream.getBatch_ms", phase("getBatch"), "ms"),
      Metric("stream.queryPlanning_ms", phase("queryPlanning"), "ms"),
      Metric("stream.walCommit_ms", phase("walCommit"), "ms"),
      Metric("stream.commitOffsets_ms", phase("commitOffsets"), "ms"),
      Metric("stream.send_ms", sendMs, "ms"),
      Metric("stream.pre_send_ms", phase("addBatch") - sendMs, "ms"),
      Metric("stream.jobs_per_batch", counters.jobs.toDouble / nb, "count"),
      Metric("stream.overhead_s", Stats.median(runs.map(_.wallS)) - composition, "s"),
      Metric("sinks.max_message_records", maxRecords.toDouble, "count"),
      Metric("jvm.gc_s", gc, "s"),
      Metric("jvm.heap_peak_mb", heap, "MB"),
      Metric("spark.executor_cpu_s", counters.cpuS, "s"),
      Metric("spark.tasks", counters.tasks.toDouble, "count"),
      Metric("trace.items_per_s", itemsPerS, "1/s"))
  }

  // ── workloads ──

  /** A backlog of `nFiles` × `perFile` notifications drained by
    * `runIngest` under `AvailableNow`, `maxFiles` files per micro-batch,
    * repeated with a fresh checkpoint until the drains fill the window.
    */
  final class DrainWorkload(nFiles: Int, perFile: Int, maxFiles: Int) extends Workload {

    def run(ctx: Ctx): Outcome = {
      val subsModel = Gen.subs(new SplittableRandom(ctx.seed ^ 0x5b5L)).toIndexedSeq
      val src = ctx.work.resolve("src")
      val warm = ctx.work.resolve("warm")
      val (ledger, genS) = ctx.timed {
        Gen.writeNotifs(warm, subsModel, policy, ctx.seed ^ 0x3a7L, maxFiles, perFile)
        Gen.writeNotifs(src, subsModel, policy, ctx.seed, nFiles, perFile)
      }
      var subs: DataFrame = null
      val setup = ctx.setup { () =>
        subs = subscriptions(ctx.spark, subsModel)
        subs.count()
        drain(ctx.spark, warm, subs, maxFiles, ctx.work.resolve("warm-run"))
      }
      val spark = ctx.spark
      val runs = Seq.newBuilder[IngestRun]
      val p50, p80 = Seq.newBuilder[Double]
      ctx.progress.take()
      val before = ctx.tally.snap(spark.sparkContext)
      Probe.resetHeapPeak()
      val gc0 = Probe.gcSeconds
      var measured = 0.0
      var undelivered = 0L
      var k = 0
      while (k < 3 || measured < ctx.seconds) {
        val r = ctx.spans("stream.runIngest") {
          drain(spark, src, subs, maxFiles, ctx.work.resolve(s"run-$k"))
        }
        r.sends.foreach { case (b, (s, e)) => ctx.spans.record(s"sinks.sendBatch[$b]", 0, s, e) }
        // every notification is due at drain start and delivered when the
        // `sendBatch` of the batch that read its file returned
        val delivered = r.fileBatch.values.toSeq.flatMap(b => r.sends.get(b).map(_._2))
        val lat = delivered.map(e => ((e - r.t0) / 1e6, perFile.toLong))
        if (lat.nonEmpty) {
          p50 += Stats.weightedPercentile(lat, 0.50)
          p80 += Stats.weightedPercentile(lat, 0.80)
        }
        undelivered += (nFiles - delivered.size).toLong * perFile
        measured += r.wallS
        runs += r
        k += 1
      }
      val gc = Probe.gcSeconds - gc0
      val heap = Probe.heapPeakMb
      val counters = ctx.tally.snap(spark.sparkContext) - before
      val all = runs.result()
      val c = ctx.spans("bench.check")(check(spark, all, ledger))
      val failed = math.min(c.attempted, c.failed + undelivered)
      val rates = all.map(r => ledger.notifs / r.wallS)
      // medians over the drains, so one slow drain (the first still runs
      // about a tenth slower than the rest) moves nothing
      val e2e = Seq(
        Metric("items_per_s", Stats.median(rates), "1/s"),
        Metric("latency_p50_ms", Stats.median(p50.result()), "ms"),
        Metric("latency_p80_ms", Stats.median(p80.result()), "ms"),
        Metric("setup_s", setup, "s"))
      val layers =
        if (!ctx.trace) Seq.empty
        else {
          val layers = ingestLayers(ctx, src, subs, all, counters, gc, heap,
            c.maxMessageRecords, Stats.median(rates))
          // the single-thread baseline: one drain on `local[1]`
          ctx.session(1)
          val s1 = subscriptions(ctx.spark, subsModel)
          val r = ctx.spans("baseline.local1") {
            drain(ctx.spark, src, s1, maxFiles, ctx.work.resolve("run-local1"))
          }
          layers :+ Metric("baseline.local1_items_per_s", ledger.notifs / r.wallS, "1/s")
        }
      Outcome(c.attempted, failed, e2e, layers, Seq(
        "gen_s" -> f"$genS%.3f", "notifs" -> ledger.notifs.toString,
        "drain_s" -> all.map(r => f"${r.wallS}%.2f").mkString(" "),
        "batches" -> all.map(_.sends.size).mkString(" "),
        "notifs_per_s" -> f"${Stats.median(rates)}%.1f",
        "messages" -> c.messages.toString, "ledger" -> ledger.summary,
        "failed_frac" -> f"${failed.toDouble / math.max(1L, c.attempted)}%.6f") ++
        c.problems.take(3).map("problem" -> _))
    }
  }
}
