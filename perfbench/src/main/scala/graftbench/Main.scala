package graftbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

import graft.GraftSession

/** One workload: a fixture built by [[setup]], then a closed loop with
  * one client thread run by [[measure]] until the deadline. */
trait Workload {
  /** Set-ups per run; `setup_s` is their median. */
  def setupReps: Int = 3
  def setup(root: Path): Unit
  /** Work the output checks need before the measured phase. */
  def prepare(): Unit = ()
  def measure(out: Outcome, deadlineNs: Long): Unit
  /** Metrics only this workload reports: (name, unit), end-to-end and
    * per-layer, after the shared ones. */
  def extraEndToEnd: Seq[(String, String)] = Nil
  def extraLayers: Seq[(String, String)] = Nil
}

/** Runs one workload once and prints its metrics as the last line of
  * stdout: `{"correct", "attempted", "failed", "metrics"}`. With
  * `--trace 0` the metrics are the end-to-end ones; with `--trace 1`
  * the per-layer ones, and the spans are written under the work dir.
  *
  * {{{
  *   Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *        --work <dir> [--spans <file>] [--size tiny]
  * }}}
  */
object Main {
  val Workloads: Map[String, Ctx => Workload] = Map(
    "medallion_etl" -> (c => new MedallionEtl(c)),
    "lake_query" -> (c => new LakeQuery(c)),
    "train_curate" -> (c => new TrainCurate(c)))

  /** Foreign load, in average cores, above which a run is contaminated. */
  def idleBar: Double = Runtime.getRuntime.availableProcessors() / 8.0

  def main(args: Array[String]): Unit = {
    val tStart = System.nanoTime()
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val name = opt("workload")
    val make = Workloads.getOrElse(name,
      throw new IllegalArgumentException(s"unknown workload $name; one of ${Workloads.keys}"))
    val traced = opt.getOrElse("trace", "0") == "1"
    val tiny = opt.get("size").contains("tiny")
    val work = Path.of(opt("work")).toAbsolutePath
    Files.createDirectories(work)
    val cores = Runtime.getRuntime.availableProcessors()
    val b = GraftSession.builder(cores)
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .config("spark.sql.streaming.checkpointLocation", work.resolve("checkpoints").toString)
    if (traced) b.config("spark.hadoop.fs.file.impl", classOf[CountingLocalFs].getName)
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    if (traced) Trace.install(spark)
    spark.range(1000000L).selectExpr("sum(id)").collect() // warm the JVM and codegen
    val ctx = Ctx(spark, opt("seed").toLong, opt("seconds").toDouble, tiny, work)

    val tSession = System.nanoTime()
    // set up several times, each from nothing; the last one is measured
    var wl = make(ctx)
    val reps = if (tiny) 1 else wl.setupReps
    val setupS = (1 to reps).map { i =>
      if (i > 1) { release(spark, work.resolve(s"lake-${i - 1}")); wl = make(ctx) }
      Stats.timeS(wl.setup(work.resolve(s"lake-$i")))._2
    }
    wl.prepare()
    val out = new Outcome
    val load = new ForeignLoad
    val layers = new LayerWindow(spark)
    val t0 = System.nanoTime()
    Trace("bench.measure")(wl.measure(out, t0 + (ctx.seconds * 1e9).toLong))
    val wallNs = System.nanoTime() - t0
    val other = load.otherCores()
    val steal = load.stealCores()
    if (other > idleBar)
      System.err.println(f"[perfbench] CONTAMINATED: foreign processes averaged $other%.2f cores " +
        f"(bar $idleBar%.2f)")
    System.err.println(f"[perfbench] $name seed=${ctx.seed} other_cores=$other%.3f steal_cores=$steal%.3f " +
      s"attempted=${out.attempted} failed=${out.failed} queries=${out.queryMs.size} " +
      s"batches=${out.batchS.size}")
    out.failures.foreach(f => System.err.println(s"[perfbench]   $f"))
    System.err.println(f"[perfbench] session ${(tSession - tStart) / 1e9}%.1f s, " +
      f"set-ups ${setupS.sum}%.1f s, measured phase ${wallNs / 1e9}%.1f s")

    val units =
      if (traced) LayerWindow.Units ++ wl.extraLayers else EndToEndUnits ++ wl.extraEndToEnd
    val metrics =
      if (traced) layers.metrics(out, t0, wallNs, units)
      else endToEnd(out, setupS) ++ out.layer
    if (traced) Trace.dump(opt.get("spans").map(Path.of(_))
      .getOrElse(work.resolve(s"spans-$name-${ctx.seed}.json")))
    val correct = out.failed == 0
    val body = units.map { case (k, u) =>
      s""""$k":{"value":${json(metrics(k))},"unit":"$u"}"""
    }.mkString(",")
    graft.sources.Memo.release(spark)
    spark.stop()
    println(s"""{"correct":$correct,"attempted":${out.attempted},"failed":${out.failed},""" +
      s""""metrics":{$body}}""")
    if (!correct) sys.exit(1)
  }

  def json(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)

  /** Drop everything one set-up left behind: cached relations and memos
    * of the session, and the lake root's files. */
  def release(spark: org.apache.spark.sql.SparkSession, root: Path): Unit = {
    spark.streams.active.foreach(_.stop())
    graft.sources.Memo.release(spark)
    spark.catalog.clearCache()
    spark.catalog.listTables().collect().filter(_.isTemporary)
      .foreach(t => spark.catalog.dropTempView(t.name))
    Proc.deleteTree(root)
  }

  val EndToEndUnits: Seq[(String, String)] = Seq(
    "setup_s" -> "s", "rows_per_s" -> "rows/s", "batch_s.p50" -> "s",
    "query_ms.p50" -> "ms", "query_ms.p90" -> "ms", "queries_per_s" -> "q/s",
    "ok_frac" -> "ratio", "write_amp" -> "ratio", "space_amp" -> "ratio",
    "peak_rss_mb" -> "MB")

  def endToEnd(out: Outcome, setupS: Seq[Double]): Map[String, Double] = Map(
    "setup_s" -> Stats.median(setupS),
    "rows_per_s" -> out.rowsPerS.getOrElse(out.rows / out.wallS),
    "batch_s.p50" -> Stats.median(out.batchS.toSeq),
    "query_ms.p50" -> Stats.median(out.queryMs.toSeq),
    "query_ms.p90" -> Stats.quantile(out.queryMs.toSeq, 0.9),
    "queries_per_s" -> out.queriesPerS.getOrElse(out.queryMs.size / out.queryWallS),
    "ok_frac" -> (1.0 - out.failed.toDouble / out.attempted),
    "write_amp" -> out.writtenBytes.toDouble / out.inputBytes,
    "space_amp" -> Stats.median(out.spaceAmp.toSeq),
    "peak_rss_mb" -> Proc.peakRssMb())
}

/** Per-layer metrics of the measured window, from the spans and the
  * listener records, with the `check` spans (the benchmark's own
  * output checks) and everything inside them left out. */
final class LayerWindow(spark: org.apache.spark.sql.SparkSession) {
  private def gcNs = ManagementFactory.getGarbageCollectorMXBeans.asScala
    .map(_.getCollectionTime).sum * 1000000L
  private val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == java.lang.management.MemoryType.HEAP)
  heapPools.foreach(_.resetPeakUsage())
  private val gc0 = gcNs
  private val fs0 = LayerWindow.fsNow()
  private val firstSpan = Trace.spans.size

  def metrics(out: Outcome, t0: Long, wallNs: Long,
      units: Seq[(String, String)]): Map[String, Double] = {
    Trace.drain(spark)
    val fs1 = LayerWindow.fsNow()
    val gcS = (gcNs - gc0) / 1e9
    val heapMb = heapPools.map(_.getPeakUsage.getUsed).sum / 1048576.0
    val t1 = t0 + wallNs
    val all = Trace.spans.toSeq
    val window = all.drop(firstSpan)
    val byId = all.map(s => s.id -> s).toMap
    def excluded(s: Span): Boolean =
      s.layer == "check" || (s.parent >= 0 && excluded(byId(s.parent)))
    val checkSpans = window.filter(s => s.layer == "check")
    val inWindow = (ns: Long) => ns >= t0 && ns <= t1
    def counted(ns: Long, span: Option[Int]): Boolean =
      inWindow(ns) && !span.orElse(Trace.spanAt(ns).map(_.id)).map(byId).exists(excluded)
    val jobs = Trace.jobs.values.asScala.toSeq
      .filter(j => counted(Trace.nsOfMillis(j.startMs), j.span))
    val plans = Trace.plans.asScala.toSeq.filter(p => counted(Trace.nsOfMillis(p.atMs), None))
    // wall time with no (counted) job running
    val busyNs = jobs.map(j => (Trace.nsOfMillis(j.startMs), Trace.nsOfMillis(j.endMs max j.startMs)))
      .sortBy(_._1).foldLeft((0L, Long.MinValue)) { case ((acc, end), (s, e)) =>
        if (e <= end) (acc, end) else (acc + e - math.max(s, end), e)
      }._1
    val checkNs = checkSpans.map(_.durNs).sum
    def medMs(n: String, from: Seq[Span] = window): Double = {
      val xs = from.filter(_.name == n).map(_.durNs / 1e6)
      if (xs.isEmpty) 0.0 else Stats.median(xs)
    }
    def medOf(xs: Seq[Double]) = if (xs.isEmpty) 0.0 else Stats.median(xs)
    val progress = Trace.progress.asScala.toSeq.filter(p => inWindow(p._1)).map(_._2)
    def phase(k: String) = medOf(progress.flatMap(m => Option(m.get(k))).map(_.toDouble))
    val self = Trace.selfNs
    val selfByLayer = window.filterNot(_.name == "bench.measure").groupBy(_.layer)
      .view.mapValues(_.map(s => self(s.id)).sum / 1e9).toMap
    val benchSelf = self(window.find(_.name == "bench.measure").get.id) / 1e9
    val wallS = wallNs / 1e9
    val base = Map[String, Double](
      "spark.jobs" -> jobs.size.toDouble,
      "spark.tasks" -> jobs.map(_.tasks).sum.toDouble,
      "spark.task_cpu_s" -> jobs.map(_.cpuNs).sum / 1e9,
      "spark.shuffle_bytes" -> jobs.map(_.shuffleBytes).sum.toDouble,
      "spark.spill_bytes" -> jobs.map(_.spillBytes).sum.toDouble,
      "spark.input_bytes" -> jobs.map(_.inputBytes).sum.toDouble,
      "spark.driver_only_s" -> (wallNs - checkNs - busyNs) / 1e9,
      "catalyst.actions" -> plans.size.toDouble,
      "catalyst.analysis_ms" -> medOf(plans.map(_.analysisMs.toDouble)),
      "catalyst.optimization_ms" -> medOf(plans.map(_.optimizationMs.toDouble)),
      "catalyst.planning_ms" -> medOf(plans.map(_.planningMs.toDouble)),
      "fs.read_ops" -> (fs1(0) - fs0(0) - Trace.checkFs(0)).toDouble,
      "fs.list_ops" -> (fs1(1) - fs0(1) - Trace.checkFs(1)).toDouble,
      "fs.write_ops" -> (fs1(2) - fs0(2) - Trace.checkFs(2)).toDouble,
      "fs.bytes_read" -> (fs1(3) - fs0(3) - Trace.checkFs(3)).toDouble,
      "fs.bytes_written" -> (fs1(4) - fs0(4) - Trace.checkFs(4)).toDouble,
      "jvm.gc_s" -> gcS,
      "jvm.heap_peak_mb" -> heapMb,
      "stream.batches" -> progress.size.toDouble,
      "stream.trigger_ms" -> medMs("stream.trigger"),
      "stream.latest_offset_ms" -> phase("latestOffset"),
      "stream.get_batch_ms" -> phase("getBatch"),
      "stream.query_planning_ms" -> phase("queryPlanning"),
      "stream.add_batch_ms" -> phase("addBatch"),
      "stream.wal_commit_ms" -> phase("walCommit"),
      "stream.commit_offsets_ms" -> phase("commitOffsets"),
      "trace.wall_s" -> wallS,
      "trace.self_gap_frac" ->
        (benchSelf + Seq("check", "gen").map(selfByLayer.getOrElse(_, 0.0)).sum) / wallS,
      "trace.batch_s.p50" -> medOf(out.batchS.toSeq),
      "trace.query_ms.p50" -> medOf(out.queryMs.toSeq),
      "trace.rows_per_s" -> out.rowsPerS.getOrElse(out.rows / out.wallS))
    val timed = LayerWindow.SpanMedians.map { case (metric, span) =>
      // set-up spans (index builds, view creation) count from the
      // measured set-up, the last one before the window
      metric -> medMs(span, if (metric.endsWith("create_ms")) all else window)
    }
    val selfs = LayerWindow.Layers.map(l => s"self_s.$l" -> selfByLayer.getOrElse(l, 0.0)) :+
      ("self_s.bench" -> benchSelf)
    val m = base ++ timed ++ selfs ++ out.layer
    units.map { case (k, _) => k -> m.getOrElse(k, 0.0) }.toMap
  }
}

object LayerWindow {
  /** [opens, lists, mutations, bytes read, bytes written] so far. */
  def fsNow(): Array[Long] = {
    val st = org.apache.hadoop.fs.FileSystem.getGlobalStorageStatistics.get("file")
    def stat(k: String) = Option(st).flatMap(s => Option(s.getLong(k))).map(_.longValue).getOrElse(0L)
    Array(CountingLocalFs.opens.sum, CountingLocalFs.lists.sum, CountingLocalFs.writes.sum,
      stat("bytesRead"), stat("bytesWritten"))
  }

  /** Layers whose self time is reported (`bench` is the rest). */
  val Layers: Seq[String] = Seq("spark", "lakehouse", "stream", "mview", "spj", "viewsql",
    "query", "dedup", "ann", "curate", "gen", "check")

  /** Per-call median metrics and the span each one times. */
  val SpanMedians: Seq[(String, String)] = Seq(
    "lakehouse.append_ms" -> "lakehouse.append", "lakehouse.apply_ms" -> "lakehouse.apply",
    "lakehouse.compact_ms" -> "lakehouse.compact", "lakehouse.expire_ms" -> "lakehouse.expire",
    "lakehouse.orphans_ms" -> "lakehouse.orphans",
    "lakehouse.read_plan_ms" -> "lakehouse.read_plan",
    "spj.sql_ms" -> "spj.sql", "viewsql.sql_ms" -> "viewsql.sql",
    "query.point_ms" -> "query.point", "query.range_ms" -> "query.range",
    "query.meta_agg_ms" -> "query.meta_agg", "query.group_agg_ms" -> "query.group_agg",
    "query.join_ms" -> "query.join", "query.time_travel_ms" -> "query.time_travel",
    "query.catalog_ms" -> "query.catalog", "mview.refresh_ms" -> "mview.refresh",
    "dedup.create_ms" -> "dedup.create", "dedup.refresh_ms" -> "dedup.refresh",
    "dedup.admission_ms" -> "dedup.admission", "ann.create_ms" -> "ann.create",
    "ann.refresh_ms" -> "ann.refresh", "ann.query_ms" -> "ann.query",
    "curate.gates_ms" -> "curate.gates")

  /** Layers only `train_curate` exercises. */
  val TrainLayers: Set[String] = Set("dedup", "ann", "curate")

  val Units: Seq[(String, String)] = Seq(
    "spark.jobs" -> "count", "spark.tasks" -> "count", "spark.task_cpu_s" -> "s",
    "spark.shuffle_bytes" -> "bytes", "spark.spill_bytes" -> "bytes",
    "spark.input_bytes" -> "bytes", "spark.driver_only_s" -> "s",
    "catalyst.actions" -> "count", "catalyst.analysis_ms" -> "ms",
    "catalyst.optimization_ms" -> "ms", "catalyst.planning_ms" -> "ms",
    "fs.read_ops" -> "count", "fs.list_ops" -> "count", "fs.write_ops" -> "count",
    "fs.bytes_read" -> "bytes", "fs.bytes_written" -> "bytes",
    "jvm.gc_s" -> "s", "jvm.heap_peak_mb" -> "MB") ++
    SpanMedians.map(_._1).filterNot(m => TrainLayers(m.takeWhile(_ != '.'))).map(_ -> "ms") ++ Seq(
    "lakehouse.meta_bytes_written" -> "bytes", "lakehouse.live_files" -> "count",
    "lakehouse.snapshots" -> "count", "lakehouse.files_read_frac" -> "ratio",
    "stream.batches" -> "count", "stream.trigger_ms" -> "ms",
    "stream.latest_offset_ms" -> "ms", "stream.get_batch_ms" -> "ms",
    "stream.query_planning_ms" -> "ms", "stream.add_batch_ms" -> "ms",
    "stream.wal_commit_ms" -> "ms", "stream.commit_offsets_ms" -> "ms") ++
    (Layers.filterNot(TrainLayers) :+ "bench").map(l => s"self_s.$l" -> "s") ++ Seq(
    "trace.wall_s" -> "s", "trace.self_gap_frac" -> "ratio",
    "trace.batch_s.p50" -> "s", "trace.query_ms.p50" -> "ms", "trace.rows_per_s" -> "rows/s")
}
