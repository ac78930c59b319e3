package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

object Stats {

  def median(xs: Seq[Double]): Double = percentile(xs, 0.5)

  /** Linear-interpolated percentile, `p` in [0, 1]. */
  def percentile(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty, "percentile of no samples")
    val s = xs.sorted
    val pos = p * (s.length - 1)
    val lo = pos.floor.toInt
    val hi = pos.ceil.toInt
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  /** Percentile of samples given as (value, weight) pairs: the smallest
    * value whose cumulative weight reaches `p` of the total.
    */
  def weightedPercentile(xs: Seq[(Double, Long)], p: Double): Double = {
    require(xs.nonEmpty, "percentile of no samples")
    val s = xs.sortBy(_._1)
    val total = s.map(_._2).sum
    val target = math.max(1L, math.ceil(p * total).toLong)
    var acc = 0L
    s.find { case (_, w) => acc += w; acc >= target }.get._1
  }

  /** File → micro-batch map from a file source's checkpoint log
    * (`sources/0/<batchId>` and its `.compact` files).
    */
  def fileBatches(checkpoint: Path): Map[String, Long] = {
    val dir = checkpoint.resolve("sources").resolve("0")
    val Entry = """.*"path":"([^"]+)".*"batchId":(\d+).*""".r
    if (!Files.isDirectory(dir)) Map.empty
    else Files.list(dir).iterator().asScala.toSeq
      .filterNot(_.getFileName.toString.startsWith("."))
      .flatMap(f => Files.readAllLines(f, UTF_8).asScala)
      .collect { case Entry(p, b) => p.substring(p.lastIndexOf('/') + 1) -> b.toLong }
      .toMap
  }

  def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val all = Files.walk(p)
      try all.iterator().asScala.toSeq.reverse.foreach(Files.delete) finally all.close()
    }
}
