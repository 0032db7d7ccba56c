package graftbench

import java.nio.file.{Files, Path}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}

import graft.sources.Lakehouse

/** What one workload run needs: the session, its seed and size, and the
  * directory it may write under. */
final case class Ctx(spark: SparkSession, seed: Long, seconds: Double, tiny: Boolean,
    work: Path) {
  /** `full` at the measured size, `small` in the smoke test. */
  def size(full: Int, small: Int): Int = if (tiny) small else full
}

/** What a workload reports back from its measured phase. */
final class Outcome {
  var attempted = 0L
  var failed = 0L
  val failures = mutable.ArrayBuffer.empty[String]
  val batchS = mutable.ArrayBuffer.empty[Double]
  val queryMs = mutable.ArrayBuffer.empty[Double]
  var queryWallS = 0.0
  var rows = 0L
  var wallS = 0.0
  /** Throughputs the workload derives itself (medians over its cycles);
    * otherwise `rows / wallS` and queries over `queryWallS`. */
  var rowsPerS: Option[Double] = None
  var queriesPerS: Option[Double] = None
  var inputBytes = 0L
  var writtenBytes = 0L
  val spaceAmp = mutable.ArrayBuffer.empty[Double]
  /** Values the workload measures itself: per-layer counts and ratios,
    * and its own end-to-end metrics. */
  val layer = mutable.LinkedHashMap.empty[String, Double]

  /** Run one operation; a throw counts as a failed operation. */
  def op[T](what: String)(body: => T): Option[T] = {
    attempted += 1
    try Some(body)
    catch {
      case e: Throwable =>
        fail(s"$what threw ${e.getClass.getSimpleName}: ${e.getMessage}")
        None
    }
  }

  /** A wrong answer: counted against the operation already attempted. */
  def fail(msg: String): Unit = {
    failed += 1
    if (failures.size < 20) failures += msg
    System.err.println(s"[perfbench] FAILED: $msg")
  }

  def check(ok: Boolean, msg: => String): Unit = if (!ok) fail(msg)
}

object Stats {
  /** Linear-interpolated quantile, as numpy's default. */
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "quantile of no samples")
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  def timeS[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e9)
  }
}

/** Canonical, order-free digest of a whole result: every row, every
  * column. Numbers print by value, so `1.50` and `1.5` agree. */
object Digest {
  def cell(v: Any): String = v match {
    case null => "null"
    case d: java.math.BigDecimal => d.stripTrailingZeros.toPlainString
    case d: scala.math.BigDecimal => cell(d.bigDecimal)
    case d: Double => cell(java.math.BigDecimal.valueOf(d).round(new java.math.MathContext(12)))
    case f: Float => cell(f.toDouble)
    case n: java.lang.Number => n.longValue.toString
    case r: Row => r.toSeq.map(cell).mkString("{", ",", "}")
    case s: scala.collection.Seq[_] => s.map(cell).mkString("[", ",", "]")
    case m: scala.collection.Map[_, _] => m.toSeq.map(kv => cell(kv._1) + ":" + cell(kv._2))
      .sorted.mkString("<", ",", ">")
    case a: Array[_] => a.toSeq.map(cell).mkString("[", ",", "]")
    case other => other.toString
  }
  def of(rs: Seq[Row]): String = rs.map(r => r.toSeq.map(cell).mkString("|")).sorted.mkString("\n")
  /** Consume the whole result of `df` on the driver. */
  def collect(df: DataFrame): Seq[Row] = Trace("spark.collect")(df.collect().toSeq)
}

/** Bytes under a lake root, read with java.nio so the walk itself never
  * touches the Hadoop statistics it is measured beside. Every file
  * seen for the first time, or seen grown, counts as written. */
final class LakeBytes(root: Path) {
  private val seen = mutable.HashMap.empty[String, Long]
  var written = 0L
  var metaWritten = 0L

  private def files(): Seq[(String, Long)] =
    if (!Files.exists(root)) Nil
    else {
      val st = Files.walk(root)
      try st.iterator().asScala.filter(Files.isRegularFile(_))
        .map(p => p.toString -> scala.util.Try(Files.size(p)).getOrElse(0L)).toList
      finally st.close()
    }

  /** Update the written-bytes tally; return the bytes present now. */
  def sample(): Long = {
    val fs = files()
    fs.foreach { case (p, n) =>
      val before = seen.getOrElse(p, 0L)
      if (n > before) {
        written += n - before
        if (!p.endsWith(".parquet")) metaWritten += n - before
      }
      seen(p) = n
    }
    fs.map(_._2).sum
  }

  /** Bytes of the parquet data files the current snapshot of every
    * table references. */
  def referenced(lake: Lakehouse): Long =
    lake.tableNames().flatMap(t => LakeBytes.liveFiles(lake, t)).map(Files.size).sum
}

object LakeBytes {
  /** The parquet data files the current snapshot of `table` references. */
  def liveFiles(lake: Lakehouse, table: String): Seq[Path] = {
    val dir = Path.of(lake.tableRoot(table).toUri.getPath)
    lake.currentSnapshot(table).flatMap(s => lake.snapshots(table).find(_._1 == s)).map(_._2)
      .getOrElse(Nil).flatMap { e =>
        val p = dir.resolve(e)
        if (!Files.exists(p)) Nil
        else if (Files.isRegularFile(p)) Seq(p)
        else {
          val st = Files.walk(p)
          try st.iterator().asScala
            .filter(f => Files.isRegularFile(f) && f.toString.endsWith(".parquet")).toList
          finally st.close()
        }
      }
  }
}

/** Foreign CPU load from /proc/stat, computed as `Bench.scala` does:
  * whole-box busy jiffies minus this process's own, over the interval,
  * in average cores. */
final class ForeignLoad {
  /** (busy, total, steal) jiffies of the whole box so far. */
  private def box(): (Long, Long, Long) = {
    val src = scala.io.Source.fromFile("/proc/stat")
    try {
      val f = src.getLines().next().trim.split("\\s+").drop(1).map(_.toLong)
      (f.sum - f(3) - (if (f.length > 4) f(4) else 0L), f.sum, if (f.length > 7) f(7) else 0L)
    } finally src.close()
  }
  private def self(): Long = {
    val src = scala.io.Source.fromFile("/proc/self/stat")
    try {
      val s = src.mkString
      val f = s.substring(s.lastIndexOf(')') + 2).split(" ")
      f(11).toLong + f(12).toLong + f(13).toLong + f(14).toLong
    } finally src.close()
  }
  private val (busy0, total0, steal0) = box()
  private val self0 = self()
  private val cpus = Runtime.getRuntime.availableProcessors()
  def otherCores(): Double = {
    val (busy1, total1, _) = box()
    if (total1 <= total0) 0.0
    else ((busy1 - busy0) - (self() - self0)).max(0L).toDouble * cpus / (total1 - total0)
  }
  /** The part of [[otherCores]] the hypervisor gave to other guests. */
  def stealCores(): Double = {
    val (_, total1, steal1) = box()
    if (total1 <= total0) 0.0 else (steal1 - steal0).toDouble * cpus / (total1 - total0)
  }
}

object Proc {
  /** Peak resident set of this JVM (`VmHWM`), in MB. */
  def peakRssMb(): Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(0.0)
    finally src.close()
  }

  def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val st = Files.walk(p)
      try st.iterator().asScala.toList.reverse.foreach(f => Files.deleteIfExists(f))
      finally st.close()
    }
}
