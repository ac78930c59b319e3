package perfbench

import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.SparkEntry

/** The catalog slice that runs the hash kernels: `SparkEntry.queries` →
  * `analytics.*` → `plans` kernels, over one of `DocSets` seeded document
  * sets, every run of a query checked against its frozen fingerprint.
  */
object CatalogBench {

  /** Frozen by name: the md5-low64 family plus every entry whose plan calls
    * `simhash64`, `minhash_sig` or `rolling_hash64`.
    */
  val Slice: Seq[String] = Seq(
    "d04_minhash_lsh", "d05_simhash", "d08_simhash_portable", "d10_minhash_portable",
    "d11_minhash_lsh_portable", "d12_dedup_clusters_approx", "d21_incr_neardup",
    "d22_soft_dedup", "d23_cdc_chunks", "d26_lsh_eval", "d31_winnowing",
    "d34_exact_repeats", "d36_lsh_sweep", "d37_simhash_sweep", "q43_split",
    "t04_rolling_fingerprint", "t07_rolling_fingerprint_portable", "t12_clf")

  /** Order-insensitive fingerprint of a result: (rows, sum, xor) of
    * `xxhash64(to_json(row))`, as the parity gate computes it.
    */
  def fingerprint(df: DataFrame): (Long, Long, Long) = {
    val h = df.select(xxhash64(to_json(struct(df.columns.map(col).toIndexedSeq: _*))).as("h"))
    val r = h.agg(count(lit(1)), sum(col("h")), expr("bit_xor(h)")).head()
    (r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1), if (r.isNullAt(2)) 0L else r.getLong(2))
  }

  /** The seed picks one of this many document sets; each set's
    * fingerprints are frozen in `catalog_expected.tsv`.
    */
  val DocSets = 16
  val NDocs = 99

  def docSet(seed: Long): Int = java.lang.Math.floorMod(seed, DocSets.toLong).toInt

  def writeDocs(spark: SparkSession, set: Int, dir: String): Unit = {
    val schema = StructType(Seq(StructField("doc_id", LongType), StructField("text", StringType),
      StructField("lang", StringType), StructField("source", StringType),
      StructField("n_chars", LongType)))
    val rows = Gen.docs(set, NDocs).map(d =>
      Row(d.docId, d.text, d.lang, d.source, d.text.length.toLong))
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), schema)
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
  }

  type Fp = (Long, Long, Long)

  /** The frozen fingerprint of every (document set, query), computed by
    * `freeze` under the parity gate's settings.
    */
  lazy val expected: Map[(Int, String), Fp] = {
    val in = getClass.getResourceAsStream("/catalog_expected.tsv")
    require(in != null, "catalog_expected.tsv is not on the classpath")
    try scala.io.Source.fromInputStream(in, "UTF-8").getLines()
      .filterNot(l => l.isEmpty || l.startsWith("#")).map { l =>
        val Array(set, q, rows, sum, xor) = l.split('\t')
        (set.toInt, q) -> ((rows.toLong, sum.toLong, xor.toLong))
      }.toMap
    finally in.close()
  }

  /** Write the frozen fingerprints: every query of the slice on every
    * document set, under one shuffle partition with AQE off (the parity
    * gate's reference settings), and again under the timed settings, which
    * must agree. Run it only on an engine whose outputs are trusted.
    */
  def freeze(work: java.nio.file.Path, out: java.nio.file.Path): Boolean = {
    val cpus = Runtime.getRuntime.availableProcessors()
    val spark = graft.GraftSession.builder(s"local[$cpus]", cpus.toString)
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    var ok = true
    val lines = try (0 until DocSets).flatMap { set =>
      val dir = work.resolve(s"sf-$set").toString
      writeDocs(spark, set, dir)
      Slice.map { n =>
        spark.conf.set("spark.sql.shuffle.partitions", "1")
        spark.conf.set("spark.sql.adaptive.enabled", "false")
        val ref = fingerprint(SparkEntry.queries(n)(spark, dir))
        spark.conf.set("spark.sql.shuffle.partitions", cpus.toString)
        spark.conf.set("spark.sql.adaptive.enabled", "true")
        val timed = fingerprint(SparkEntry.queries(n)(spark, dir))
        if (timed != ref) { ok = false; println(s"[freeze] set $set $n: $timed under the timed settings, $ref under the reference") }
        println(s"[freeze] set $set $n $ref")
        s"$set\t$n\t${ref._1}\t${ref._2}\t${ref._3}"
      }
    } finally spark.stop()
    java.nio.file.Files.createDirectories(out.getParent)
    java.nio.file.Files.write(out, ("# document set, query, rows, sum and xor of xxhash64(to_json(row))\n" +
      lines.mkString("", "\n", "\n")).getBytes("UTF-8"))
    ok
  }

  final class Workload extends perfbench.Workload {

    def run(ctx: Ctx): Outcome = {
      val set = docSet(ctx.seed)
      val dir = ctx.work.resolve("sf").toString
      val queries = Slice.map(n => n -> SparkEntry.queries(n))
      var genS = 0.0
      val errors = scala.collection.mutable.LinkedHashMap.empty[String, String]
      /** Run one query through the fingerprint aggregate and compare the
        * result with its frozen value.
        */
      def runChecked(n: String, fn: (SparkSession, String) => DataFrame): Boolean =
        try {
          val got = fingerprint(fn(ctx.spark, dir))
          val want = expected.get((set, n))
          if (want.contains(got)) true
          else { errors(n) = s"fingerprint $got, frozen ${want.getOrElse("none")}"; false }
        } catch { case NonFatal(e) => errors(n) = String.valueOf(e.getMessage).take(120); false }
      // two set-ups; each warms up on half of the slice, so every query has
      // run (and been checked) once before the timed passes
      val halves = queries.grouped((queries.size + 1) / 2).toIndexedSeq
      var rep = 0
      val setup = ctx.setup(reps = halves.size, warm = () => {
        if (rep == 0) genS = ctx.timed(ctx.exclude(writeDocs(ctx.spark, set, dir)))._2
        halves(rep).foreach { case (n, fn) => runChecked(n, fn) }
        rep += 1
      })
      val spark = ctx.spark
      val before = ctx.tally.snap(spark.sparkContext)
      Probe.resetHeapPeak()
      val gc0 = Probe.gcSeconds
      val perQuery = queries.map(_._1 -> Seq.newBuilder[Double]).toMap
      var attempted, failed = 0L
      val t0 = System.nanoTime()
      val passes = Seq.newBuilder[Double]
      var k = 0
      while (k < 3 || (System.nanoTime() - t0) / 1e9 < ctx.seconds) {
        spark.catalog.clearCache()
        System.gc()
        val p0 = System.nanoTime()
        queries.foreach { case (n, fn) =>
          attempted += 1
          val s = System.nanoTime()
          if (!runChecked(n, fn)) failed += 1
          perQuery(n) += (System.nanoTime() - s) / 1e6
        }
        passes += (System.nanoTime() - p0) / 1e9
        k += 1
      }
      val gc = Probe.gcSeconds - gc0
      val heap = Probe.heapPeakMb
      val counters = ctx.tally.snap(spark.sparkContext) - before
      // each query's median over the passes, so one slow pass (the first
      // still runs about a quarter slower than the rest) moves little; the
      // latency percentiles pool every timed query run, and p80 is the
      // highest with ten samples beyond it at three passes
      val medians = queries.map { case (n, _) => Stats.median(perQuery(n).result()) }
      val samples = perQuery.values.flatMap(_.result()).toSeq
      val catalogS = medians.sum / 1e3
      val e2e = Seq(
        Metric("items_per_s", queries.size / catalogS, "1/s"),
        Metric("latency_p50_ms", Stats.percentile(samples, 0.50), "ms"),
        Metric("latency_p80_ms", Stats.percentile(samples, 0.80), "ms"),
        Metric("setup_s", setup, "s"))
      val layers = if (ctx.trace) traced(ctx, queries, dir) ++ Seq(
        Metric("jvm.gc_s", gc, "s"),
        Metric("jvm.heap_peak_mb", heap, "MB"),
        Metric("spark.executor_cpu_s", counters.cpuS, "s"),
        Metric("spark.tasks", counters.tasks, "count"),
        Metric("trace.items_per_s", queries.size / catalogS, "1/s")) else Seq.empty
      Outcome(attempted, failed, e2e, layers, Seq(
        "gen_s" -> f"$genS%.3f", "doc_set" -> set.toString, "docs" -> NDocs.toString,
        "queries" -> queries.size.toString, "passes_s" -> passes.result().map(p => f"$p%.2f").mkString(" "),
        "latency_samples" -> samples.size.toString, "catalog_s" -> f"$catalogS%.4f",
        "query_ms" -> queries.map(_._1.takeWhile(_ != '_')).zip(medians)
          .map { case (n, m) => f"$n:$m%.0f" }.mkString(" "),
        "failed_frac" -> f"${failed.toDouble / math.max(1L, attempted)}%.6f") ++
        errors.take(3).map { case (n, e) => "problem" -> s"$n: $e" })
    }
    /** One more pass split per query into build (calling the catalog
      * function), plan (forcing the executed plan) and execution, with the
      * jobs, stages, tasks and shuffle bytes each query ran.
      */
    private def traced(ctx: Ctx, queries: Seq[(String, (SparkSession, String) => DataFrame)],
        dir: String): Seq[Metric] = {
      val spark = ctx.spark
      spark.catalog.clearCache()
      System.gc()
      var build, plan, exec = 0.0
      val before = ctx.tally.snap(spark.sparkContext)
      queries.foreach { case (n, fn) =>
        ctx.spans(s"catalog.$n") {
          val t0 = System.nanoTime()
          val df = ctx.spans("catalog.build")(fn(spark, dir))
          val t1 = System.nanoTime()
          ctx.spans("catalog.plan")(df.queryExecution.executedPlan)
          val t2 = System.nanoTime()
          ctx.spans("catalog.exec")(df.queryExecution.toRdd.foreach(_ => ()))
          val t3 = System.nanoTime()
          build += (t1 - t0) / 1e9; plan += (t2 - t1) / 1e9; exec += (t3 - t2) / 1e9
        }
      }
      val c = ctx.tally.snap(spark.sparkContext) - before
      Seq(
        Metric("catalog.build_s", build, "s"),
        Metric("catalog.plan_s", plan, "s"),
        Metric("catalog.exec_s", exec, "s"),
        Metric("catalog.jobs", c.jobs, "count"),
        Metric("catalog.stages", c.stages, "count"),
        Metric("catalog.tasks", c.tasks, "count"),
        Metric("catalog.shuffle_bytes", c.shuffleBytes, "bytes"))
    }
  }
}
