package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}
import java.util.SplittableRandom

import scala.collection.mutable

/** Seeded NEF input generator and the outcome ledger that says what the
  * engine must emit for it.
  *
  * Inputs are built as a small model first and rendered to JSON text, so
  * the expected outcome of every notification is derived from the model,
  * never from the engine. The same seed gives byte-identical files.
  */
object Gen {

  // ── model ──

  sealed trait Info
  final case class PerfInfo(ipv4: Option[String], ipv6: Option[String],
      appId: Option[String], ts: String, perf: Seq[(String, String)]) extends Info
  final case class MobInfo(supi: Option[String], gpsi: Option[String],
      trajs: Seq[(String, String, String)]) extends Info
  final case class CommInfo(supi: Option[String], interGroupId: Option[String],
      gpsi: Option[String], comms: Seq[(String, String, Long, Long)]) extends Info
  final case class Event(kind: String, infos: Seq[Info])
  /** `truncateAt` > 0 marks a malformed document cut to that many chars. */
  final case class Notif(notifId: Option[String], events: Seq[Event], truncateAt: Int = 0)
  final case class Sub(notifId: String, sst: Option[Int], sd: Option[String], dnn: Option[String])

  val Supported: Set[String] = Set("PERF_DATA", "UE_MOBILITY", "UE_COMM")

  // ── ledger ──

  object Outcome extends Enumeration {
    val Emitted, Malformed, Rejected, Unsupported, NoUe, Denied = Value
  }

  /** The policy as the model applies it; `IngestBench.rules` compiles the
    * same settings into the engine's `Policy.Rules`.
    */
  final case class PolicyModel(denyDnn: Option[String] = None, hashTags: Set[String] = Set.empty,
      redactTags: Set[String] = Set.empty, dropMetrics: Set[String] = Set.empty)

  val AllowAll: PolicyModel = PolicyModel()
  val MixedPolicy: PolicyModel = PolicyModel(Some("ims"), Set("supi"), Set("gpsi"), Set("pdb_ms"))

  /** What emitted records carry, summed per message key: the record count,
    * the number and sum of metric values, a CRC-32 of each record's tag set
    * (`k=v` pairs sorted and joined by `;`), the timestamps, the trajectory
    * points plus comm windows, and the comm volumes. `Check` derives the
    * same sums from the sink output.
    */
  final case class Digest(records: Long = 0, metricKeys: Long = 0, metricSum: Double = 0,
      tagCrc: Long = 0, tsSum: Long = 0, items: Long = 0, vol: Long = 0) {
    def +(o: Digest): Digest = Digest(records + o.records, metricKeys + o.metricKeys,
      metricSum + o.metricSum, tagCrc + o.tagCrc, tsSum + o.tsSum, items + o.items, vol + o.vol)
  }

  private def truthy(s: Option[String]): Option[String] = s.filter(_.nonEmpty)

  def hasUe(i: Info): Boolean = i match {
    case p: PerfInfo => Seq(p.ipv4, p.ipv6, p.appId).exists(truthy(_).isDefined)
    case m: MobInfo => Seq(m.supi, m.gpsi).exists(truthy(_).isDefined)
    case c: CommInfo => Seq(c.supi, c.interGroupId, c.gpsi).exists(truthy(_).isDefined)
  }

  def hasContext(s: Sub): Boolean = s.sst.isDefined || truthy(s.sd).isDefined || truthy(s.dnn).isDefined

  def epoch(ts: String): Long = java.time.Instant.parse(ts).getEpochSecond

  private val MbpsPer: Map[String, BigDecimal] = Map("bps" -> BigDecimal("0.000001"),
    "Kbps" -> BigDecimal("0.001"), "Mbps" -> BigDecimal(1), "Gbps" -> BigDecimal(1000))
  private val BitrateText = """"(\d+\.?\d*) (\w+)"""".r

  /** The metrics map of a PERF_DATA record: bitrate strings in Mbps
    * rounded to 6 places (a bare number has no unit and no metric),
    * delay/loss fields truncated to whole numbers.
    */
  def perfMetrics(perf: Seq[(String, String)]): Seq[(String, Double)] =
    perf.flatMap { case (k, v) =>
      PerfNames.get(k).flatMap { out =>
        if (out.endsWith("_mbps")) v match {
          case BitrateText(num, unit) =>
            Some(out -> (BigDecimal(num) * MbpsPer(unit)).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
          case _ => None
        } else Some(out -> v.toDouble.toLong.toDouble)
      }
    }

  private def sha256Hex(s: String): String =
    java.security.MessageDigest.getInstance("SHA-256").digest(s.getBytes(UTF_8)).map(b => f"$b%02x").mkString

  /** The digest of the record one info becomes under `sub`'s context. */
  def record(i: Info, sub: Sub, policy: PolicyModel): Digest = {
    val ctx = Seq("snssai_sst" -> sub.sst.map(_.toString), "snssai_sd" -> truthy(sub.sd),
      "dnn" -> truthy(sub.dnn))
    val (own, metrics, ts, items, vol) = i match {
      case p: PerfInfo =>
        val v4 = truthy(p.ipv4)
        (Seq("ueIpv4Addr" -> v4, "ueIpv6Addr" -> (if (v4.isEmpty) truthy(p.ipv6) else None),
          "appId" -> truthy(p.appId)), perfMetrics(p.perf), epoch(p.ts), 0, 0L)
      case m: MobInfo =>
        (Seq("supi" -> truthy(m.supi), "gpsi" -> truthy(m.gpsi)), Nil, epoch(m.trajs.head._1),
          m.trajs.size, 0L)
      case c: CommInfo =>
        (Seq("supi" -> truthy(c.supi), "interGroupId" -> truthy(c.interGroupId),
          "gpsi" -> truthy(c.gpsi)), Nil, epoch(c.comms.head._2), c.comms.size,
          c.comms.map(w => w._3 + w._4).sum)
    }
    val tags = (ctx ++ own).collect { case (k, Some(v)) =>
      val out = if (policy.hashTags(k)) sha256Hex(v) else if (policy.redactTags(k)) "***" else v
      s"$k=$out"
    }.sorted.mkString(";")
    val crc = new java.util.zip.CRC32
    crc.update(tags.getBytes(UTF_8))
    val kept = metrics.filterNot { case (k, _) => policy.dropMetrics(k) }
    Digest(1, kept.size, kept.map(_._2).sum, crc.getValue, ts, items, vol)
  }

  /** Expected outcome of one notification and the records it emits. */
  def expect(n: Notif, subs: collection.Map[String, Sub],
      policy: PolicyModel): (Outcome.Value, Seq[Digest]) =
    if (n.truncateAt > 0) (Outcome.Malformed, Nil)
    else n.notifId.flatMap(subs.get) match {
      case None => (Outcome.Rejected, Nil)
      case Some(sub) =>
        val infos = n.events.filter(e => Supported(e.kind)).flatMap(_.infos)
        val kept = infos.filter(i => hasUe(i) || hasContext(sub))
        if (infos.isEmpty) (Outcome.Unsupported, Nil)
        else if (kept.isEmpty) (Outcome.NoUe, Nil)
        else if (policy.denyDnn.exists(d => sub.dnn.contains(d))) (Outcome.Denied, Nil)
        else (Outcome.Emitted, kept.map(record(_, sub, policy)))
    }

  /** What the sink must hold for one input set: the digest per message
    * key, notifications per key (to charge a wrong key to its
    * notifications), and the outcome tally.
    */
  final class Ledger {
    val digests: mutable.Map[String, Digest] = mutable.HashMap.empty
    val notifsByKey: mutable.Map[String, Long] = mutable.HashMap.empty
    val outcomes: mutable.Map[Outcome.Value, Long] = mutable.HashMap.empty
    var notifs = 0L

    def add(n: Notif, subs: collection.Map[String, Sub], policy: PolicyModel): Unit = {
      val (o, recs) = expect(n, subs, policy)
      notifs += 1
      outcomes(o) = outcomes.getOrElse(o, 0L) + 1
      n.notifId.foreach(id => notifsByKey(id) = notifsByKey.getOrElse(id, 0L) + 1)
      if (o == Outcome.Emitted) {
        val id = n.notifId.get
        digests(id) = recs.foldLeft(digests.getOrElse(id, Digest()))(_ + _)
      }
    }

    /** Every input notification lands in exactly one outcome. */
    def balanced: Boolean = outcomes.values.sum == notifs

    def summary: String =
      Outcome.values.toSeq.map(o => s"$o=${outcomes.getOrElse(o, 0L)}").mkString(" ")
  }

  // ── JSON rendering ──

  private def q(s: String): String = "\"" + s + "\""

  private def field(sb: StringBuilder, first: Boolean, k: String, v: String): Boolean = {
    if (!first) sb.append(',')
    sb.append(q(k)).append(':').append(v)
    false
  }

  private def renderInfo(sb: StringBuilder, i: Info): Unit = {
    sb.append('{')
    var f = true
    i match {
      case p: PerfInfo =>
        if (p.ipv4.isDefined || p.ipv6.isDefined) {
          val ip = (p.ipv4.map(v => s"${q("ipv4Addr")}:${q(v)}") ++
            p.ipv6.map(v => s"${q("ipv6Addr")}:${q(v)}")).mkString("{", ",", "}")
          f = field(sb, f, "ueIpAddr", ip)
        }
        p.appId.foreach(v => f = field(sb, f, "appId", q(v)))
        f = field(sb, f, "timeStamp", q(p.ts))
        f = field(sb, f, "perfData",
          p.perf.map { case (k, v) => s"${q(k)}:$v" }.mkString("{", ",", "}"))
      case m: MobInfo =>
        m.supi.foreach(v => f = field(sb, f, "supi", q(v)))
        m.gpsi.foreach(v => f = field(sb, f, "gpsi", q(v)))
        f = field(sb, f, "ueTrajs", m.trajs.map { case (ts, tac, cell) =>
          s"""{"ts":${q(ts)},"location":{"nrLocation":{"tai":{"plmnId":{"mcc":"001","mnc":"01"},""" +
            s""""tac":${q(tac)}},"ncgi":{"plmnId":{"mcc":"001","mnc":"01"},"nrCellId":${q(cell)}}}}}"""
        }.mkString("[", ",", "]"))
      case c: CommInfo =>
        c.supi.foreach(v => f = field(sb, f, "supi", q(v)))
        c.interGroupId.foreach(v => f = field(sb, f, "interGroupId", q(v)))
        c.gpsi.foreach(v => f = field(sb, f, "gpsi", q(v)))
        f = field(sb, f, "comms", c.comms.map { case (s, e, ul, dl) =>
          s"""{"startTime":${q(s)},"endTime":${q(e)},"ulVol":$ul,"dlVol":$dl}"""
        }.mkString("[", ",", "]"))
    }
    sb.append('}')
  }

  private def infosField(kind: String): String = kind match {
    case "PERF_DATA" => "perfDataInfos"
    case "UE_MOBILITY" => "ueMobilityInfos"
    case "UE_COMM" => "ueCommInfos"
    case _ => "dispersionInfos"
  }

  /** One notification as one line of JSON. A malformed one puts `notifId`
    * last and is cut before it, so no parser can recover its key.
    */
  def render(n: Notif): String = {
    val sb = new StringBuilder
    val events = n.events.map { e =>
      val b = new StringBuilder
      b.append(s"""{"event":${q(e.kind)},"timeStamp":"2026-04-20T10:15:00Z",""")
      b.append(q(infosField(e.kind))).append(":[")
      e.infos.zipWithIndex.foreach { case (i, j) => if (j > 0) b.append(','); renderInfo(b, i) }
      b.append("]}")
      b.toString
    }.mkString("[", ",", "]")
    val id = n.notifId.map(v => s"${q("notifId")}:${q(v)}")
    if (n.truncateAt > 0) {
      sb.append(s"""{"eventNotifs":$events""")
      id.foreach(v => sb.append(',').append(v))
      sb.append('}')
      sb.substring(0, math.min(n.truncateAt, 15 + events.length))
    } else {
      sb.append('{')
      id.foreach(v => sb.append(v).append(','))
      sb.append(s""""eventNotifs":$events}""")
      sb.toString
    }
  }

  // ── seeded shapes ──

  private val Dnns = Array("internet", "iot", "enterprise", "v2x", "mec")
  private val Units = Array("bps", "Kbps", "Mbps", "Gbps")
  /** The 14 perfData fields and the metric each becomes. */
  val PerfNames: collection.immutable.ListMap[String, String] = collection.immutable.ListMap(
    "thrputUl" -> "thrputUl_mbps", "thrputDl" -> "thrputDl_mbps",
    "maxThrputUl" -> "maxThrputUl_mbps", "minThrputUl" -> "minThrputUl_mbps",
    "maxThrputDl" -> "maxThrputDl_mbps", "minThrputDl" -> "minThrputDl_mbps",
    "pdb" -> "pdb_ms", "pdbDl" -> "pdbDl_ms", "maxPdbUl" -> "maxPdbUl_ms", "maxPdbDl" -> "maxPdbDl_ms",
    "plr" -> "plr_per_thousand", "plrDl" -> "plrDl_per_thousand",
    "maxPlrUl" -> "maxPlrUl_per_thousand", "maxPlrDl" -> "maxPlrDl_per_thousand")

  private def ts(r: SplittableRandom, base: Int = 0): String = {
    val s = base + r.nextInt(3600)
    f"2026-04-20T10:${s / 60 % 60}%02d:${s % 60}%02dZ"
  }

  private def bitrate(r: SplittableRandom): String = r.nextInt(5) match {
    case 4 => (1 + r.nextInt(100000)).toString // bare number
    case u =>
      val v = if (r.nextBoolean()) s"${r.nextInt(1000)}.${r.nextInt(100)}" else r.nextInt(1000).toString
      q(s"$v ${Units(u)}")
  }

  private def ipv4(r: SplittableRandom): String =
    s"10.${r.nextInt(256)}.${r.nextInt(256)}.${1 + r.nextInt(254)}"
  private def ipv6(r: SplittableRandom): String =
    f"2001:db8:${r.nextInt(65536)}%x:${r.nextInt(65536)}%x::${1 + r.nextInt(65535)}%x"
  def supi(r: SplittableRandom): String = f"imsi-00101${r.nextLong(10000000000L)}%010d"
  def gpsi(r: SplittableRandom): String = f"msisdn-3519${r.nextInt(100000000)}%08d"

  /** A full PERF_DATA info: all 14 perfData fields, ipv4 or ipv6. */
  def perfInfo(r: SplittableRandom, withUe: Boolean = true): PerfInfo = {
    val perf = PerfNames.keys.toSeq.zipWithIndex.map { case (k, j) =>
      k -> (if (j < 6) bitrate(r) else r.nextInt(300).toString)
    }
    val v4 = r.nextInt(4) != 0
    PerfInfo(
      if (withUe && v4) Some(ipv4(r)) else None,
      if (withUe && !v4) Some(ipv6(r)) else None,
      if (withUe) Some(s"app-${r.nextInt(50)}") else None,
      ts(r), perf)
  }

  private def mobInfo(r: SplittableRandom, withUe: Boolean): MobInfo =
    MobInfo(
      if (withUe) Some(supi(r)) else None,
      if (withUe && r.nextInt(3) == 0) Some(gpsi(r)) else None,
      Seq.fill(1 + r.nextInt(8))((ts(r), f"${r.nextInt(1000)}%06d", f"${r.nextInt(100000)}%09d")))

  private def commInfo(r: SplittableRandom, withUe: Boolean): CommInfo =
    CommInfo(
      if (withUe) Some(supi(r)) else None,
      if (withUe && r.nextInt(4) == 0) Some(s"group-${r.nextInt(100)}") else None,
      if (withUe && r.nextInt(3) == 0) Some(gpsi(r)) else None,
      Seq.fill(1 + r.nextInt(4)) {
        val s = r.nextInt(3000)
        (ts(r, s), ts(r, s + 600), r.nextLong(1L << 30), r.nextLong(1L << 32))
      })

  /** The subscription dimension: 10,000 subscriptions, 5% with an empty
    * context and 5% on the denied `ims` DNN.
    */
  def subs(r: SplittableRandom): Seq[Sub] = (0 until 10000).map { i =>
    val id = f"sub-$i%05d"
    r.nextInt(20) match {
      case 0 => Sub(id, None, if (r.nextBoolean()) Some("") else None, None)
      case 1 => Sub(id, Some(1), Some("000001"), Some("ims"))
      case _ => Sub(id, Some(1 + r.nextInt(3)),
        if (r.nextInt(4) == 0) None else Some(f"${r.nextInt(1000)}%06d"),
        Some(Dnns(r.nextInt(Dnns.length))))
    }
  }

  /** One notification: 1–2 events of 1–2 infos, 40/30/30
    * PERF_DATA/UE_MOBILITY/UE_COMM, with malformed, unknown, keyless,
    * DISPERSION and no-UE cases.
    */
  def notif(r: SplittableRandom, subs: IndexedSeq[Sub]): Notif = {
    def event(): Event = {
      val k = r.nextInt(10)
      val n = 1 + r.nextInt(2)
      def ue = r.nextInt(20) != 0 // 5% of infos carry no UE identifier
      if (k < 4) Event("PERF_DATA", Seq.fill(n)(perfInfo(r, ue)))
      else if (k < 7) Event("UE_MOBILITY", Seq.fill(n)(mobInfo(r, ue)))
      else Event("UE_COMM", Seq.fill(n)(commInfo(r, ue)))
    }
    val events0 = Seq.fill(1 + r.nextInt(2))(event())
    val events =
      if (r.nextInt(100) == 0) events0 :+ Event("DISPERSION", Seq.empty) else events0
    val roll = r.nextInt(100)
    val id =
      if (roll < 3) Some(f"unknown-${r.nextInt(100000)}%05d")
      else if (roll < 4) None
      else Some(subs(r.nextInt(subs.length)).notifId)
    val n = Notif(id, events)
    if (r.nextInt(50) == 0) n.copy(truncateAt = 1 + r.nextInt(render(n).length - 20))
    else n
  }

  /** Write `nFiles` files of `perFile` notifications each under `dir`
    * (one JSON document per line) and return their ledger. Streams to
    * disk, so memory stays flat at any size.
    */
  def writeNotifs(dir: Path, subs: IndexedSeq[Sub], policy: PolicyModel, seed: Long,
      nFiles: Int, perFile: Int): Ledger = {
    Files.createDirectories(dir)
    val subMap = subs.map(s => s.notifId -> s).toMap
    val ledger = new Ledger
    val r = new SplittableRandom(seed)
    (0 until nFiles).foreach { f =>
      val w = Files.newBufferedWriter(dir.resolve(f"part-$f%05d.json"), UTF_8)
      try (0 until perFile).foreach { _ =>
        val n = notif(r, subs)
        ledger.add(n, subMap, policy)
        w.write(render(n)); w.write('\n')
      } finally w.close()
    }
    ledger
  }

  // ── catalog documents ──

  private val Vocab = ("the a data spark stream batch window join merge sort hash key value " +
    "table row column query filter group order agg scan part line customer vector fast slow " +
    "big small index shuffle plan cache kernel token shingle bucket band signature sketch " +
    "cluster pair near dup exact page crawl text corpus lang source quality score").split(' ')
  private val Langs = Array("en", "en", "en", "en", "en", "es", "de", "fr", "zh", "pt")

  final case class Doc(docId: Long, text: String, lang: String, source: String)

  /** Seeded documents in groups of three: a random text over a small
    * vocabulary and two near-copies of it (1–3 token edits each), so the
    * near-duplicate kernels find real pairs. The group shape is fixed, so
    * the iterative clustering queries do the same number of rounds
    * whatever the seed. Ids step by 5, so a small set still reaches the id
    * ranges d21 splits its incremental batch on (390–399 and 400 up).
    */
  def docs(seed: Long, n: Int): IndexedSeq[Doc] = {
    val r = new SplittableRandom(seed)
    var base = Array.empty[String]
    (0 until n).map { i =>
      val words =
        if (i % 3 == 0) {
          base = Array.fill(8 + r.nextInt(73))(Vocab(r.nextInt(Vocab.length)))
          base
        } else {
          val copy = base.clone()
          (0 until 1 + r.nextInt(3)).foreach(_ => copy(r.nextInt(copy.length)) = Vocab(r.nextInt(Vocab.length)))
          copy
        }
      Doc(i * 5L, words.mkString(" "), Langs(r.nextInt(Langs.length)), s"src${r.nextInt(20)}")
    }
  }
}
