package graftbench

import java.nio.file.{Files, Path}

import scala.collection.mutable

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.sources.{JsonDocSource, Lakehouse, MaterializedView => MV}

/** `medallion_etl`: the reference pipeline as micro-batch cycles. Each
  * cycle lands one file of order documents and carries it through
  * bronze (exactly-once append), silver (an AvailableNow stream over
  * bronze applying keyed upserts and deletes exactly once) and gold (a
  * materialized revenue report refreshed and read). Every
  * [[MaintainEvery]] cycles silver is compacted, its old snapshots
  * expired and its orphan files removed. Beside the writes, each cycle
  * reads a few silver orders by key. */
final class MedallionEtl(ctx: Ctx) extends Workload {
  import MedallionEtl._
  private val spark = ctx.spark
  private val gen = new OrderGen(ctx.seed)
  private val fileDocs = ctx.size(600, 120)
  private var root: Path = _
  private var lake: Lakehouse = _
  private var bytes: LakeBytes = _
  private var inputBytes = 0L
  private var cycle = 0
  private val gold = MV.ViewDef("gold", "silver",
    Seq("city", "country"), Seq(MV.SumCol("total_amount", "total_revenue"),
      MV.CountAll("order_count")))

  private def land(docs: Seq[OrderDoc]): String = {
    val f = root.resolve("landing").resolve(f"orders-$cycle%05d.json")
    Files.createDirectories(f.getParent)
    Files.writeString(f, docs.map(_.json).mkString("", "\n", "\n"))
    inputBytes += Files.size(f)
    f.toString
  }

  /** Silver's row shape: the reference's struct surgery adding a
    * country to the shipping address, with the grouping keys of the
    * gold report lifted beside it. */
  private def enrich(df: DataFrame): DataFrame =
    df.withColumn("shipping_address", struct(
        col("shipping_address.city").as("city"), col("shipping_address.state").as("state"),
        col("shipping_address.zip").as("zip"), lit("INDIA").as("country")))
      .withColumn("city", col("shipping_address.city"))
      .withColumn("country", col("shipping_address.country"))

  private def applyBatch(df: DataFrame, id: Long): Unit = Trace("lakehouse.apply") {
    val rows = enrich(df)
    if (lake.currentSnapshot("silver").isEmpty) lake.replaceOnce(rows, "silver", id)
    else lake.upsertDeleteOnce(rows.where(col("status") =!= "CANCELLED"),
      rows.where(col("status") === "CANCELLED").select("order_id"),
      "silver", Seq("order_id"), id)
    ()
  }

  private def bronze(file: String): Unit = Trace("lakehouse.append") {
    lake.appendOnce(JsonDocSource.readValid(spark, file), "bronze", batchId = cycle.toLong)
    ()
  }

  private def silver(): Unit = Trace("stream.trigger") {
    val q = spark.readStream.format("graft.streaming.LakehouseStreamProvider")
      .option("root", root.resolve("lake").toString).option("table", "bronze").load()
      .writeStream.trigger(Trigger.AvailableNow())
      .option("checkpointLocation", root.resolve("checkpoint").toString)
      .foreachBatch((df: DataFrame, id: Long) => applyBatch(df, id))
      .start()
    try q.awaitTermination() finally q.stop()
  }

  def setup(dir: Path): Unit = {
    root = dir
    lake = new Lakehouse(spark, dir.resolve("lake").toString)
    bytes = new LakeBytes(dir.resolve("lake"))
    bronze(land(gen.file(ctx.size(4000, 400))))
    silver()
    Trace("mview.create")(MV.create(lake, gold))
    bytes.sample()
  }

  /** One cycle: land a file, carry it to gold, and read gold back. */
  private def runCycle(out: Outcome): (Seq[OrderDoc], Option[Seq[org.apache.spark.sql.Row]], Double) = {
    cycle += 1
    val docs = Trace("gen.file")(gen.file(fileDocs))
    val file = Trace("gen.file")(land(docs))
    val (report, s) = Stats.timeS(out.op(s"cycle $cycle") {
      bronze(file)
      silver()
      Trace("mview.refresh")(MV.refresh(lake, gold))
      val report = Digest.collect(
        Trace("lakehouse.read_plan")(lake.read("gold").orderBy(desc("total_revenue"), col("city"))))
      if (cycle % MaintainEvery == 0) {
        Trace("lakehouse.compact")(lake.compact("silver"))
        Trace("lakehouse.expire")(lake.expireSnapshots("silver", keepLast = 3))
        Trace("lakehouse.orphans")(lake.removeOrphans("silver", staleMillis = 0L))
      }
      report
    })
    (docs, report, s)
  }

  /** Reads beside the writes: orders the last file touched and other
    * live ones, by key; each read's latency in ms, in order. */
  private def readSilver(docs: Seq[OrderDoc], out: Outcome): Seq[Double] = {
    val touched = docs.filter(d => gen.live.contains(d.orderId)).take(PointReads / 2)
      .map(_.orderId)
    (touched ++ gen.sampleLive(PointReads - touched.size)).map { id =>
      val (got, ms) = Stats.timeS(out.op(s"read $id")(Trace("query.point") {
        Digest.collect(Trace("lakehouse.read_plan")(
          lake.readWhere(col("order_id") === id, "silver")
            .select("order_id", "status", "total_amount", "city")))
      }))
      got.foreach { rows =>
        val want = gen.live(id)
        out.check(rows.size == 1 && rows.head.getString(1) == want.status &&
          math.abs(rows.head.getDouble(2) - want.total) < 1e-6 &&
          rows.head.getString(3) == want.city,
          s"silver read of $id gave ${rows.mkString(";")}, want ${want.status} ${want.total}")
      }
      ms * 1000
    }
  }

  def measure(out: Outcome, deadlineNs: Long): Unit = {
    val t0 = System.nanoTime()
    // the first cycles compile the upsert, refresh, read and maintenance
    // paths: checked, not timed
    val warm = new Outcome
    (1 to ctx.size(WarmCycles, 1)).foreach { _ =>
      val (docs, report, _) = runCycle(warm)
      report.foreach(r => Trace("check.gold")(checkGold(r, warm)))
      (1 to WarmReadRounds).foreach(_ => readSilver(docs, warm))
    }
    out.attempted += warm.attempted
    out.failed += warm.failed
    out.failures ++= warm.failures
    val cycleRate = mutable.ArrayBuffer.empty[Double]
    val readRate = mutable.ArrayBuffer.empty[Double]
    // whole maintenance periods, so every run times the same mix of cycles
    while (System.nanoTime() < deadlineNs || out.batchS.size < ctx.size(MinCycles, 2) ||
        out.batchS.size % ctx.size(MaintainEvery, 1) != 0) {
      val (docs, report, s) = runCycle(out)
      out.batchS += s
      out.rows += docs.size
      report.foreach(r => Trace("check.gold")(checkGold(r, out)))
      val readMs = readSilver(docs, out)
      out.queryMs ++= readMs
      out.queryWallS += readMs.sum / 1000
      cycleRate += docs.size / (s + readMs.sum / 1000)
      readRate += readMs.size / (readMs.sum / 1000)
      Trace("check.space") {
        val present = bytes.sample()
        out.spaceAmp += present.toDouble / bytes.referenced(lake)
      }
    }
    out.wallS = out.batchS.sum + out.queryWallS
    out.rowsPerS = Some(Stats.median(cycleRate.toSeq))
    out.queriesPerS = Some(Stats.median(readRate.toSeq))
    out.inputBytes = inputBytes
    out.writtenBytes = bytes.written
    out.layer("lakehouse.meta_bytes_written") = bytes.metaWritten.toDouble
    out.layer("lakehouse.snapshots") = lake.snapshots("silver").size.toDouble
    out.layer("lakehouse.live_files") = LakeBytes.liveFiles(lake, "silver").size.toDouble
    System.err.println(f"[perfbench] medallion_etl: $cycle cycles in " +
      f"${(System.nanoTime() - t0) / 1e9}%.1f s")
    System.err.println("[perfbench]   cycle_s " + out.batchS.map(x => f"$x%.3f").mkString(" "))
    System.err.println("[perfbench]   read_ms " + out.queryMs.map(x => f"$x%.0f").mkString(" "))
  }

  /** Gold against a plain-Spark groupBy over the live documents. */
  private def checkGold(got: Seq[org.apache.spark.sql.Row], out: Outcome): Unit = {
    import spark.implicits._
    val want = gen.live.values.toSeq.map(d => (d.city, d.total)).toDF("city", "total")
      .groupBy("city").agg(sum("total").as("rev"), count(lit(1)).as("n")).collect()
      .map(r => r.getString(0) -> (r.getDouble(1), r.getLong(2))).toMap
    val gotMap = got.map(r => r.getAs[String]("city") ->
      (r.getAs[Double]("total_revenue"), r.getAs[Long]("order_count"),
        r.getAs[String]("country"))).toMap
    val revs = got.map(_.getAs[Double]("total_revenue"))
    val ok = gotMap.size == got.size && gotMap.keySet == want.keySet &&
      want.forall { case (c, (rev, n)) =>
        val (gRev, gN, country) = gotMap(c)
        gN == n && country == "INDIA" && math.abs(gRev - rev) <= 1e-6 * math.max(1.0, rev)
      } && revs.zip(revs.drop(1)).forall { case (a, b) => a >= b }
    out.check(ok, s"gold after cycle $cycle differs from the groupBy oracle")
  }
}

object MedallionEtl {
  val MaintainEvery = 4
  /** Untimed cycles before the measured ones, each followed by this
    * many rounds of reads: the read path warms slower than the cycle. */
  val WarmCycles = 2
  val WarmReadRounds = 3
  /** Measured cycles per run, at least: three maintenance rounds. */
  val MinCycles = 12
  /** Silver reads per cycle: with [[MinCycles]], at least 144 a run. */
  val PointReads = 12
}
