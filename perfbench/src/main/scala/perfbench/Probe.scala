package perfbench

import java.lang.management.ManagementFactory
import java.util.concurrent.{ConcurrentLinkedQueue, CountDownLatch}
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted, SparkListenerTaskEnd}
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.streaming.StreamingQueryListener.{QueryProgressEvent, QueryStartedEvent, QueryTerminatedEvent}

final case class Snap(jobs: Long, stages: Long, tasks: Long, cpuS: Double,
    shuffleBytes: Long, shuffleRecords: Long) {
  def -(o: Snap): Snap = Snap(jobs - o.jobs, stages - o.stages, tasks - o.tasks,
    cpuS - o.cpuS, shuffleBytes - o.shuffleBytes, shuffleRecords - o.shuffleRecords)
}

/** Counters read from Spark's listener bus: jobs, stages, tasks, executor
  * CPU and shuffle volume. `snap` after a `drain` gives exact totals.
  */
final class Tally extends SparkListener {
  val jobs = new AtomicLong
  val stages = new AtomicLong
  val tasks = new AtomicLong
  val cpuNs = new AtomicLong
  val shuffleBytes = new AtomicLong
  val shuffleRecords = new AtomicLong

  override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = stages.incrementAndGet()
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    tasks.incrementAndGet()
    val m = e.taskMetrics
    if (m != null) {
      cpuNs.addAndGet(m.executorCpuTime)
      shuffleBytes.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      shuffleRecords.addAndGet(m.shuffleWriteMetrics.recordsWritten)
    }
  }

  def snap(sc: SparkContext): Snap = {
    Probe.drain(sc)
    Snap(jobs.get, stages.get, tasks.get, cpuNs.get / 1e9, shuffleBytes.get, shuffleRecords.get)
  }
}

/** Per-trigger `durationMs` phases of every streaming query, as Spark's
  * own progress reports give them.
  */
final class Progress extends StreamingQueryListener {
  private val events = new ConcurrentLinkedQueue[Map[String, Long]]
  override def onQueryStarted(e: QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(e: QueryProgressEvent): Unit =
    if (e.progress.numInputRows > 0)
      events.add(e.progress.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap)

  /** The phases of every batch with input since the last call. */
  def take(): Seq[Map[String, Long]] = {
    val out = events.asScala.toSeq
    events.clear()
    out
  }
}

/** In-memory spans named `<layer>.<function>`, written once at the end.
  * The parent is the innermost open span of the calling thread; work timed
  * on another thread is added afterwards with [[record]].
  */
final class Spans(runId: String) {
  final case class Span(id: Int, parent: Int, name: String, startNs: Long, endNs: Long)
  private val spans = new ConcurrentLinkedQueue[Span]
  private val ids = new AtomicLong
  private val current = ThreadLocal.withInitial[Integer](() => 0)

  def apply[T](name: String)(f: => T): T = {
    val id = ids.incrementAndGet().toInt
    val parent = current.get
    current.set(id)
    val s = System.nanoTime()
    try f finally {
      spans.add(Span(id, parent, name, s, System.nanoTime()))
      current.set(parent)
    }
  }

  def record(name: String, parent: Int, startNs: Long, endNs: Long): Unit =
    spans.add(Span(ids.incrementAndGet().toInt, parent, name, startNs, endNs))

  def json: String = spans.asScala.toSeq.sortBy(_.id).map { s =>
    s"""{"run":"$runId","id":${s.id},"parent":${s.parent},"name":"${s.name}",""" +
      s""""start_ns":${s.startNs},"end_ns":${s.endNs}}"""
  }.mkString("[\n", ",\n", "\n]\n")
}

object Probe {
  def drain(sc: SparkContext): Unit =
    org.apache.spark.graftaccess.SparkAccess.drainListenerBus(sc)

  def gcSeconds: Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum / 1e3

  /** Peak heap in use since the last reset, summed over heap pools. */
  def heapPeakMb: Double =
    ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)
      .map(_.getPeakUsage.getUsed).sum / 1048576.0

  def resetHeapPeak(): Unit =
    ManagementFactory.getMemoryPoolMXBeans.asScala.foreach(_.resetPeakUsage())

  def processStartMs: Long = ManagementFactory.getRuntimeMXBean.getStartTime

  private def mixPass(buf: Array[Byte], h0: Long): Long = {
    var h = h0
    var j = 0
    while (j < buf.length) { h = h * 6364136223846793005L + buf(j); j += 1 }
    h
  }

  private def mixBuffer(): Array[Byte] = {
    val buf = new Array[Byte](8 << 20)
    var i = 0
    while (i < buf.length) { buf(i) = (i * 31 + (i >> 11)).toByte; i += 1 }
    buf
  }

  /** Fixed single-thread CPU work, timed: 32 byte-mix passes over 8 MiB.
    * It does the same work whatever the engine does, so it moves only with
    * host contention.
    */
  def calibrate(): Double = {
    val buf = mixBuffer()
    var h = mixPass(buf, 1125899906842597L)
    val t0 = System.nanoTime()
    (0 until 32).foreach(_ => h = mixPass(buf, h))
    val sec = (System.nanoTime() - t0) / 1e9
    if (h == 42L) System.err.println("calib sink")
    sec
  }

  /** The same pass on every core at once, 8 passes per thread. */
  def calibrateMt(): Double = {
    val n = Runtime.getRuntime.availableProcessors()
    val ready = new CountDownLatch(n)
    val start = new CountDownLatch(1)
    val sink = new AtomicLong
    val ts = (0 until n).map { _ =>
      val t = new Thread(() => {
        val buf = mixBuffer()
        var h = mixPass(buf, 1125899906842597L)
        ready.countDown(); start.await()
        (0 until 8).foreach(_ => h = mixPass(buf, h))
        sink.addAndGet(h)
      })
      t.setDaemon(true); t.start(); t
    }
    ready.await()
    val t0 = System.nanoTime()
    start.countDown()
    ts.foreach(_.join())
    val sec = (System.nanoTime() - t0) / 1e9
    if (sink.get == 42L) System.err.println("calibmt sink")
    sec
  }
}
