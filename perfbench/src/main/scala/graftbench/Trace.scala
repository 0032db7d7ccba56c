package graftbench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed call into a layer. `layer` is the name's prefix up to the
  * first dot (`lakehouse.append` belongs to `lakehouse`). */
final class Span(val id: Int, val parent: Int, val name: String,
    val startNs: Long, var endNs: Long = -1L) {
  def layer: String = name.takeWhile(_ != '.')
  def durNs: Long = endNs - startNs
}

/** In-memory span recorder plus the Spark listeners that attribute
  * jobs, tasks and Catalyst phases to the innermost open span. Spans
  * nest on one stack: the benchmark drives every layer from a single
  * client thread, and the streaming thread only runs while that thread
  * waits on it. With tracing off every call is a plain pass-through. */
object Trace {
  @volatile var on = false
  val runId: String = java.util.UUID.randomUUID().toString
  private val SpanProp = "graftbench.span"

  val spans = ArrayBuffer.empty[Span]
  /** File-system counts made inside `check` spans, left out of `fs.*`. */
  val checkFs = new Array[Long](5)
  private var stack: List[Span] = Nil
  private var sc: SparkContext = _

  // epoch-millis <-> nanoTime, so listener times map onto spans
  private val nanoBase = System.nanoTime()
  private val milliBase = System.currentTimeMillis()
  def nsOfMillis(ms: Long): Long = nanoBase + (ms - milliBase) * 1000000L

  def apply[T](name: String)(body: => T): T =
    if (!on) body
    else {
      val s = synchronized {
        val sp = new Span(spans.size, stack.headOption.map(_.id).getOrElse(-1), name,
          System.nanoTime())
        spans += sp
        stack ::= sp
        sc.setLocalProperty(SpanProp, sp.id.toString)
        sp
      }
      val fs0 = if (s.layer == "check") LayerWindow.fsNow() else null
      try body
      finally synchronized {
        if (fs0 != null) LayerWindow.fsNow().zip(fs0).zipWithIndex
          .foreach { case ((b, a), i) => checkFs(i) += b - a }
        s.endNs = System.nanoTime()
        stack = stack.tail
        sc.setLocalProperty(SpanProp, stack.headOption.map(_.id.toString).orNull)
      }
    }

  // ---- listener records -----------------------------------------------
  final case class Job(id: Int, span: Option[Int], startMs: Long, var endMs: Long = -1L,
      var tasks: Long = 0L, var cpuNs: Long = 0L, var shuffleBytes: Long = 0L,
      var spillBytes: Long = 0L, var inputBytes: Long = 0L)
  final case class Plan(atMs: Long, analysisMs: Long, optimizationMs: Long, planningMs: Long)

  val jobs = new java.util.concurrent.ConcurrentHashMap[Int, Job]()
  private val stageJob = new java.util.concurrent.ConcurrentHashMap[Int, Int]()
  val plans = new java.util.concurrent.ConcurrentLinkedQueue[Plan]()
  /** Streaming micro-batch phase durations, with their arrival time. */
  val progress = new java.util.concurrent.ConcurrentLinkedQueue[
    (Long, java.util.Map[String, java.lang.Long])]()

  private object JobListener extends SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val span = Option(e.properties).flatMap(p => Option(p.getProperty(SpanProp))).map(_.toInt)
      jobs.put(e.jobId, Job(e.jobId, span, e.time))
      e.stageIds.foreach(s => stageJob.put(s, e.jobId))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobs.get(e.jobId)).foreach(_.endMs = e.time)
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      Option(stageJob.get(e.stageId)).flatMap(j => Option(jobs.get(j))).foreach { j =>
        j.synchronized {
          j.tasks += 1
          Option(e.taskMetrics).foreach { m =>
            j.cpuNs += m.executorCpuTime
            j.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
            j.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
            j.inputBytes += m.inputMetrics.bytesRead
          }
        }
      }
  }

  private object PlanListener extends QueryExecutionListener {
    private def record(qe: QueryExecution): Unit = {
      val ph = qe.tracker.phases
      def ms(p: String) = ph.get(p).map(s => s.endTimeMs - s.startTimeMs).getOrElse(0L)
      val at = ph.values.map(_.startTimeMs).reduceOption(_ min _)
        .getOrElse(System.currentTimeMillis())
      plans.add(Plan(at, ms("analysis"), ms("optimization"), ms("planning")))
    }
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      record(qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
      record(qe)
  }

  private object StreamListener extends StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      progress.add((System.nanoTime(), e.progress.durationMs))
  }

  def install(spark: SparkSession): Unit = {
    sc = spark.sparkContext
    on = true
    sc.addSparkListener(JobListener)
    spark.listenerManager.register(PlanListener)
    spark.streams.addListener(StreamListener)
  }

  /** Wait until the listener bus has delivered every queued event. */
  def drain(spark: SparkSession): Unit =
    if (on) org.apache.spark.graftbench.Bus.drain(spark.sparkContext)

  /** The innermost span open at `ns`, or the job's own span property. */
  def spanAt(ns: Long): Option[Span] = {
    var best: Option[Span] = None
    spans.foreach { s =>
      if (s.startNs <= ns && (s.endNs < 0 || ns <= s.endNs) &&
          best.forall(b => s.startNs >= b.startNs)) best = Some(s)
    }
    best
  }

  /** Self time of each span: its duration minus the union of its
    * direct children's intervals (children never overlap: one stack). */
  def selfNs: Map[Int, Long] = {
    val childSum = spans.groupBy(_.parent).view.mapValues(_.map(_.durNs).sum).toMap
    spans.map(s => s.id -> (s.durNs - childSum.getOrElse(s.id, 0L))).toMap
  }

  /** Write every span, with the Spark jobs attributed to it, as JSON. */
  def dump(path: java.nio.file.Path): Unit = {
    val byspan = scala.jdk.CollectionConverters.CollectionHasAsScala(jobs.values).asScala
      .groupBy(j => j.span.orElse(spanAt(nsOfMillis(j.startMs)).map(_.id)).getOrElse(-1))
    val sb = new StringBuilder
    sb.append(s"""{"run_id":"$runId","spans":[""")
    spans.zipWithIndex.foreach { case (s, i) =>
      if (i > 0) sb.append(",\n")
      val js = byspan.getOrElse(s.id, Nil)
      sb.append(s"""{"id":${s.id},"parent":${s.parent},"name":"${s.name}",""" +
        s""""start_ns":${s.startNs - nanoBase},"end_ns":${s.endNs - nanoBase},""" +
        s""""jobs":${js.size},"tasks":${js.map(_.tasks).sum}}""")
    }
    sb.append("]}\n")
    java.nio.file.Files.createDirectories(path.getParent)
    java.nio.file.Files.writeString(path, sb.toString)
  }
}

/** Hadoop's local file system with per-call counters: the `fs` layer's
  * operation counts. Installed through `fs.file.impl` in traced runs
  * only; byte counts come from Hadoop's own scheme statistics. */
class CountingLocalFs extends org.apache.hadoop.fs.LocalFileSystem {
  import org.apache.hadoop.fs.{FSDataInputStream, FileStatus, Path}
  import CountingLocalFs._
  override def open(f: Path, bufferSize: Int): FSDataInputStream = {
    opens.increment()
    val w = watch
    if (w != null && f.toUri.getPath.startsWith(w) && f.getName.endsWith(".parquet"))
      watchedOpens.increment()
    super.open(f, bufferSize)
  }
  override def listStatus(f: Path): Array[FileStatus] = {
    lists.increment(); super.listStatus(f)
  }
  override def create(f: Path, permission: org.apache.hadoop.fs.permission.FsPermission,
      overwrite: Boolean, bufferSize: Int, replication: Short, blockSize: Long,
      progress: org.apache.hadoop.util.Progressable): org.apache.hadoop.fs.FSDataOutputStream = {
    writes.increment()
    super.create(f, permission, overwrite, bufferSize, replication, blockSize, progress)
  }
  override def rename(src: Path, dst: Path): Boolean = { writes.increment(); super.rename(src, dst) }
  override def delete(f: Path, recursive: Boolean): Boolean = {
    writes.increment(); super.delete(f, recursive)
  }
  override def mkdirs(f: Path, permission: org.apache.hadoop.fs.permission.FsPermission): Boolean = {
    writes.increment(); super.mkdirs(f, permission)
  }
}

object CountingLocalFs {
  val opens = new java.util.concurrent.atomic.LongAdder
  val lists = new java.util.concurrent.atomic.LongAdder
  val writes = new java.util.concurrent.atomic.LongAdder
  /** Opens of parquet files under the [[watch]] directory. */
  val watchedOpens = new java.util.concurrent.atomic.LongAdder
  @volatile var watch: String = null
}
