package perfbench

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The one output checker of the ingest workloads.
  *
  * A sink message is `(key = notifId, value = JSON array of envelopes)`.
  * The checker re-parses every value, sums per key the digest the ledger
  * holds (records, metric count and sum, tag-set CRCs, timestamps,
  * trajectory points and comm windows, comm volumes) and compares the two.
  * A key that disagrees charges all of its input notifications as failed;
  * so does a message that does not re-parse or that leaks a raw
  * `supi`/`gpsi` where the policy hashes or redacts them.
  */
object Check {

  private val comms = ArrayType(StructType(Seq(
    StructField("ulVol", LongType), StructField("dlVol", LongType))))

  /** The envelope fields the digest reads. */
  private val record = ArrayType(StructType(Seq(
    StructField("timestamp", LongType),
    StructField("event", StringType),
    StructField("tags", MapType(StringType, StringType)),
    StructField("metrics", MapType(StringType, DoubleType)),
    StructField("trajectory", ArrayType(StructType(Seq(StructField("ts", LongType))))),
    StructField("comms", comms))))

  final case class Result(attempted: Long, failed: Long, messages: Long,
      maxMessageRecords: Long, problems: Seq[String]) {
    def ok: Boolean = failed == 0
  }

  /** Sum `f` over the records of the message array `a`. */
  private def over(a: Column, zero: Column)(f: Column => Column): Column =
    aggregate(a, zero, (acc, e) => acc + f(e))

  /** The ledger's `Gen.record` tag digest: CRC-32 of the sorted `k=v` pairs. */
  private def tagCrc(tags: Column): Column =
    crc32(array_join(array_sort(transform(map_entries(tags),
      e => concat(e.getField("key"), lit("="), e.getField("value")))), ";").cast(BinaryType))

  /** `out` holds the sink frames of `runs` runs over the same input, told
    * apart by an integer `run` column (absent: one run); `leakMarkers` are
    * substrings no value may contain (the generator's raw identifier
    * prefixes) when the policy hides them.
    */
  def apply(spark: SparkSession, out: DataFrame, ledger: Gen.Ledger,
      leakMarkers: Seq[String], runs: Int = 1): Result = {
    val leak = leakMarkers.map(m => instr(col("value"), m) > 0).foldLeft(lit(false))(_ || _)
    val withRun = if (out.columns.contains("run")) out else out.withColumn("run", lit(0))
    val a = col("a")
    val perMsg = withRun
      .select(col("run"), col("key"), from_json(col("value"), record).as("a"), leak.as("leak"))
      .select(col("run"), col("key"),
        // a value that is not an array of envelopes parses to null
        (a.isNull || exists(a, e => e.isNull || e.getField("event").isNull ||
          e.getField("timestamp").isNull || e.getField("tags").isNull)).as("bad"),
        coalesce(size(a), lit(0)).as("n"),
        over(a, lit(0L))(e => coalesce(size(e.getField("metrics")), lit(0)).cast(LongType)).as("metricKeys"),
        over(a, lit(0.0))(e => aggregate(coalesce(map_values(e.getField("metrics")),
          array().cast(ArrayType(DoubleType))), lit(0.0), _ + _)).as("metricSum"),
        over(a, lit(0L))(e => tagCrc(e.getField("tags"))).as("tagCrc"),
        over(a, lit(0L))(e => e.getField("timestamp")).as("tsSum"),
        over(a, lit(0L))(e => (coalesce(size(e.getField("trajectory")), lit(0)) +
          coalesce(size(e.getField("comms")), lit(0))).cast(LongType)).as("items"),
        over(a, lit(0L))(e => aggregate(coalesce(e.getField("comms"), array().cast(comms)), lit(0L),
          (acc, w) => acc + w.getField("ulVol") + w.getField("dlVol"))).as("vol"),
        col("leak"))
    val sums = Seq("n", "metricKeys", "metricSum", "tagCrc", "tsSum", "items", "vol")
    val rows = perMsg.groupBy(col("run"), col("key")).agg(
      count(lit(1)).as("msgs"),
      (sums.map(c => sum(col(c)).as(c)) ++ Seq(max(col("n")).cast("long").as("maxn"),
        max(col("bad").cast("int")).as("bad"), max(col("leak").cast("int")).as("leak"))): _*)
      .collect()
    val problems = Seq.newBuilder[String]
    var failed = 0L
    def charge(key: String, why: String): Unit = {
      failed += math.max(1L, ledger.notifsByKey.getOrElse(key, 0L))
      problems += s"$key: $why"
    }
    val seen = rows.map { r =>
      val key = r.getAs[String]("key")
      val run = r.getAs[Int]("run")
      if (r.getAs[Int]("bad") == 1) charge(key, "value does not re-parse as an envelope array")
      else if (r.getAs[Int]("leak") == 1) charge(key, "raw identifier leaked past the policy")
      else mismatch(r, ledger.digests.getOrElse(key, Gen.Digest())).foreach(charge(key, _))
      (run, key)
    }.toSet
    for (run <- 0 until runs; k <- ledger.digests.keys if !seen((run, k)))
      charge(k, s"no message in run $run")
    val attempted = ledger.notifs * runs
    if (!ledger.balanced) {
      failed = attempted
      problems += s"ledger outcomes do not sum to the input: ${ledger.summary}"
    }
    Result(attempted, math.min(failed, attempted), rows.map(_.getAs[Long]("msgs")).sum,
      if (rows.isEmpty) 0L else rows.map(_.getAs[Long]("maxn")).max, problems.result().take(5))
  }

  /** The first digest field of a key's sink rows that differs from the
    * ledger. Metric sums allow for rounding: the engine multiplies in
    * doubles before it rounds to 6 places, the ledger in decimals.
    */
  private def mismatch(r: Row, want: Gen.Digest): Option[String] = {
    def long(c: String): Long = if (r.isNullAt(r.fieldIndex(c))) Long.MinValue else r.getAs[Long](c)
    val sum = if (r.isNullAt(r.fieldIndex("metricSum"))) Double.NaN else r.getAs[Double]("metricSum")
    val exact = Seq("n" -> want.records, "metricKeys" -> want.metricKeys, "tagCrc" -> want.tagCrc,
      "tsSum" -> want.tsSum, "items" -> want.items, "vol" -> want.vol)
    exact.collectFirst { case (c, w) if long(c) != w => s"$c ${long(c)}, ledger $w" }.orElse {
      val tol = 1e-6 * math.max(1L, want.metricKeys) + 1e-9 * math.abs(want.metricSum)
      if (math.abs(sum - want.metricSum) <= tol) None
      else Some(s"metricSum $sum, ledger ${want.metricSum}")
    }
  }
}
