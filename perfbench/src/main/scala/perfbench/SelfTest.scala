package perfbench

import java.nio.file.{Files, Path, Paths}
import java.util.SplittableRandom

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Ingest

/** The benchmark's own checks: generator determinism, the ledger against
  * the hand-checked fixture cases, the checker rejecting tampered output,
  * and metric names. Exits non-zero on any failure.
  */
object SelfTest {
  import Gen._

  private var failures = 0

  private def expectThat(ok: Boolean, what: String): Unit = {
    println(s"[selftest] ${if (ok) "ok  " else "FAIL"} $what")
    if (!ok) failures += 1
  }

  private def bytesOf(dir: Path): Seq[(String, Seq[Byte])] =
    Files.list(dir).iterator().asScala.toSeq.sortBy(_.toString)
      .map(p => p.getFileName.toString -> Files.readAllBytes(p).toSeq)

  // the hand-checked cases of the fixture set (FIXTURES.md §A)
  private val a5 = Notif(Some("fx-a5"), Seq(Event("PERF_DATA", Seq(PerfInfo(
    Some("10.0.1.10"), None, Some("app-test"), "2026-04-20T10:15:00Z",
    Seq("thrputUl" -> "\"11.74 Mbps\"", "thrputDl" -> "\"87.57 Mbps\"",
      "pdb" -> "18", "plr" -> "17"))))))
  private val noUe = Notif(Some("fx-noue"), Seq(Event("PERF_DATA", Seq(PerfInfo(
    None, None, None, "2026-04-20T10:15:00Z", Seq("pdb" -> "10"))))))
  private val dispersion = Notif(Some("fx-a5"), Seq(Event("DISPERSION", Seq.empty)))
  private val multi = Notif(Some("fx-multi"), Seq(
    Event("PERF_DATA", Seq(PerfInfo(Some("10.0.1.10"), None, None, "2026-04-20T10:15:00Z",
      Seq("thrputDl" -> "\"50 Mbps\"")))),
    Event("UE_MOBILITY", Seq(MobInfo(Some("imsi-001011234567890"), None,
      Seq(("2026-04-20T10:15:00Z", "000001", "000000001")))))))
  private val subs = Seq(
    Sub("fx-a5", Some(1), Some("000001"), Some("internet")),
    Sub("fx-noue", None, None, None),
    Sub("fx-multi", Some(1), Some("000001"), Some("internet")))

  private def sinkFrame(spark: SparkSession, notifs: Seq[Notif], s: Seq[Sub],
      policy: PolicyModel): DataFrame = {
    import spark.implicits._
    val raw = notifs.map(render).toDF("value")
    Ingest.kafkaMessages(Ingest.parseNotifications(raw), IngestBench.subscriptions(spark, s),
      IngestBench.rules(policy), lit(1776680100L))
  }

  def run(work: Path): Boolean = {
    failures = 0

    // names: every metric the benchmark prints, and what BENCHMARK.json lists
    val names = Main.EndToEnd.map(_._1) ++ Main.PerLayer.map(_._1)
    expectThat(names.forall(_.matches(Main.NameOk)), s"all ${names.size} metric names match ${Main.NameOk}")
    expectThat(names.distinct.size == names.size, "metric names are unique")
    val bench = Paths.get("BENCHMARK.json")
    if (Files.exists(bench)) {
      val text = new String(Files.readAllBytes(bench), "UTF-8")
      val listed = """"name":\s*"([^"]+)"""".r.findAllMatchIn(text).map(_.group(1)).toSet
      val missing = names.filterNot(listed)
      expectThat(missing.isEmpty, s"BENCHMARK.json lists every metric (missing: ${missing.mkString(",")})")
      val block = text.substring(text.indexOf("\"workloads\""), text.indexOf("\"end_to_end\""))
      val wls = """"name":\s*"([^"]+)"""".r.findAllMatchIn(block).map(_.group(1)).toSeq
      expectThat(wls.nonEmpty && wls.forall(Main.workloads.contains),
        s"every BENCHMARK.json workload runs (${wls.mkString(",")})")
    }

    // generator: same seed, same bytes; another seed, other bytes
    val r = new SplittableRandom(7)
    val mixedSubs = Gen.subs(r).toIndexedSeq
    def gen(tag: String, seed: Long): Path = {
      val d = work.resolve(tag)
      Gen.writeNotifs(d, mixedSubs, MixedPolicy, seed, 2, 300)
      d
    }
    val (g1, g2, g3) = (gen("g1", 11), gen("g2", 11), gen("g3", 12))
    expectThat(bytesOf(g1) == bytesOf(g2), "same seed gives byte-identical files")
    expectThat(bytesOf(g1) != bytesOf(g3), "another seed gives other files")
    expectThat(Gen.docs(5, 50) == Gen.docs(5, 50) && Gen.docs(5, 50) != Gen.docs(6, 50),
      "documents are a function of the seed")

    // the ledger on the fixture cases, before any engine runs
    val subMap = subs.map(s => s.notifId -> s).toMap
    def outcome(n: Notif) = { val (o, recs) = Gen.expect(n, subMap, AllowAll); (o, recs.size) }
    expectThat(outcome(a5) == (Outcome.Emitted, 1), "A5: one record emitted")
    expectThat(outcome(noUe) == (Outcome.NoUe, 0), "no UE id, no context: dropped")
    expectThat(outcome(dispersion) == (Outcome.Unsupported, 0), "DISPERSION: skipped")
    expectThat(outcome(multi) == (Outcome.Emitted, 2), "multi-event: 2 records")
    val a5Digest = Gen.expect(a5, subMap, AllowAll)._2.head
    expectThat(a5Digest.metricKeys == 4 && math.abs(a5Digest.metricSum - 134.31) < 1e-9 &&
      a5Digest.tsSum == 1776680100L, s"A5: metrics and timestamp in the ledger ($a5Digest)")

    val spark = graft.GraftSession.builder("local[2]", "2")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    try {
      // the engine agrees with the ledger on the fixtures
      val fixtures = Seq(a5, noUe, dispersion, multi)
      val ledger = new Ledger
      fixtures.foreach(ledger.add(_, subMap, AllowAll))
      val out = sinkFrame(spark, fixtures, subs, AllowAll).cache()
      val c = Check(spark, out, ledger, Seq.empty)
      expectThat(c.ok, s"checker accepts the engine on the fixtures ${c.problems.mkString("; ")}")
      val msgs = out.collect().map(r => r.getString(0) -> r.getString(1)).toSeq
      expectThat(msgs.count(_._1 == "fx-multi") == 1, "multi-event: one message")
      val golden = msgs.find(_._1 == "fx-a5").map(_._2).getOrElse("")
      expectThat(Seq("\"timestamp\":1776680100", "\"snssai_sst\":1", "\"snssai_sd\":\"000001\"",
        "\"dnn\":\"internet\"", "\"ueIpv4Addr\":\"10.0.1.10\"", "\"appId\":\"app-test\"",
        "\"event\":\"PERF_DATA\"", "\"thrputUl_mbps\":11.74", "\"thrputDl_mbps\":87.57",
        "\"pdb_ms\":18.0", "\"plr_per_thousand\":17.0").forall(golden.contains),
        s"A5 golden values: $golden")

      // the checker rejects tampered output
      def tampered(f: org.apache.spark.sql.Column): DataFrame =
        out.withColumn("value", when(col("key") === "fx-multi", f).otherwise(col("value")))
      val dropped = tampered(regexp_replace(col("value"), """^\[(\{.*?\}),\{.*\]$""", "[$1]"))
      expectThat(!Check(spark, dropped, ledger, Seq.empty).ok, "checker rejects a dropped record")
      expectThat(!Check(spark, tampered(lit("not json")), ledger, Seq.empty).ok,
        "checker rejects a value that is not an envelope array")
      expectThat(!Check(spark, out.where(col("key") =!= "fx-a5"), ledger, Seq.empty).ok,
        "checker rejects a missing message")
      expectThat(!Check(spark, out, ledger, Seq("imsi-")).ok, "checker rejects a leaked supi")
      def a5Tampered(from: String, to: String): DataFrame =
        out.withColumn("value", when(col("key") === "fx-a5", regexp_replace(col("value"), from, to))
          .otherwise(col("value")))
      expectThat(!Check(spark, a5Tampered("11\\.74", "11.75"), ledger, Seq.empty).ok,
        "checker rejects a changed metric value")
      expectThat(!Check(spark, a5Tampered(",\"plr_per_thousand\":17\\.0", ""), ledger, Seq.empty).ok,
        "checker rejects a dropped metric")
      expectThat(!Check(spark, a5Tampered(",\"appId\":\"app-test\"", ""), ledger, Seq.empty).ok,
        "checker rejects a dropped tag")
      expectThat(!Check(spark, a5Tampered("\"dnn\":\"internet\"", "\"dnn\":\"iot\""), ledger,
        Seq.empty).ok, "checker rejects a changed tag value")
      expectThat(!Check(spark, a5Tampered("1776680100", "1776680101"), ledger, Seq.empty).ok,
        "checker rejects a changed timestamp")

      // a mixed sample: ledger and engine agree, and the policy hides ids
      val sample = {
        val rr = new SplittableRandom(3)
        Seq.fill(3000)(Gen.notif(rr, mixedSubs))
      }
      val mixedLedger = new Ledger
      sample.foreach(mixedLedger.add(_, mixedSubs.map(s => s.notifId -> s).toMap, MixedPolicy))
      val mc = Check(spark, sinkFrame(spark, sample, mixedSubs, MixedPolicy), mixedLedger,
        IngestBench.leak)
      expectThat(mc.ok && (Outcome.values - Outcome.Unsupported).forall(mixedLedger.outcomes.getOrElse(_, 0L) > 0),
        s"mixed sample matches its ledger (${mixedLedger.summary}) ${mc.problems.mkString("; ")}")
    } finally spark.stop()
    println(if (failures == 0) "[selftest] PASS" else s"[selftest] $failures FAILED")
    failures == 0
  }
}
