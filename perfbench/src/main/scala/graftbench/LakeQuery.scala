package graftbench

import java.nio.file.Path

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.sources.Lakehouse
import graft.sources.Lakehouse.MetaAggItem

/** `lake_query`: read-only queries over a fixture with many files and
  * snapshots. A seeded sequence mixes seven query classes, each issued
  * through one of three surfaces: the Scala `Lakehouse` API, SQL
  * through the DSv2 `graft_spj` catalog, and SQL over the registered
  * views. Every answer is compared with the same query over a plain
  * parquet copy of the generated rows. */
final class LakeQuery(ctx: Ctx) extends Workload {
  import LakeQuery._
  private val spark = ctx.spark
  private val fx = new FactGen(ctx.seed, chunks = ctx.size(4, 4), perChunk = ctx.size(3000, 200),
    days = 8, customers = 2000, smallTables = ctx.size(SmallTables, 8))
  /** The write steps of the fact table, in order: `Left(c)` appends
    * chunk c, `Right(r)` deletes (MoR) the rows then present with
    * `order_id % 97 = r`. */
  private val events: IndexedSeq[Either[Int, Int]] = (0 until fx.chunks).flatMap { c =>
    Left(c) +: Seq(0 -> 3, fx.chunks / 2 -> 17, fx.chunks - 1 -> 41)
      .collect { case (`c`, r) => Right(r) }
  }
  private var lake: Lakehouse = _
  private var bytes: LakeBytes = _
  /** Snapshot ids of `orders` after each write step, oldest first. */
  private val steps = mutable.ArrayBuffer.empty[Long]
  private var inputBytes = 0L

  /** One set-up takes most of a run's budget on a 4-core box. */
  override def setupReps: Int = 1

  def setup(dir: Path): Unit = {
    val root = dir.resolve("lake").toString
    lake = new Lakehouse(spark, root)
    bytes = new LakeBytes(dir.resolve("lake"))
    Trace("gen.fixture")(fx.rows.size)
    Trace("lakehouse.append")(lake.createOrReplace(
      spark.createDataFrame(java.util.List.of[Row](), FactSchema), "orders", Seq("days(ts)")))
    lake.declareBloomColumns("orders", Seq("order_id"))
    lake.declareSortOrder("orders", Seq("order_id"))
    lake.declareSumColumns("orders", Seq("total_amount"))
    val byChunk = fx.rows.groupBy(_.chunk)
    events.foreach {
      case Left(c) =>
        val df = spark.createDataFrame(
          scala.jdk.CollectionConverters.SeqHasAsJava(byChunk(c).map(factRow)).asJava, FactSchema)
        steps += Trace("lakehouse.append")(lake.append(df, "orders", Seq("days(ts)")))
      case Right(r) =>
        Trace("lakehouse.delete")(lake.deleteWhereMor(col("order_id") % 97 === r, "orders"))
        steps += lake.currentSnapshot("orders").get
    }
    Trace("lakehouse.append")(lake.createOrReplace(
      spark.createDataFrame(fx.customerRows).toDF("customer_id", "segment", "region"),
      "customers"))
    // the small tables are independent: create them from a few threads
    val pool = java.util.concurrent.Executors.newFixedThreadPool(
      Runtime.getRuntime.availableProcessors())
    try (0 until fx.smallTables).map { i =>
      pool.submit(() => lake.createOrReplace(
        spark.createDataFrame(fx.small(i)).toDF("k", "v"), smallName(i)))
    }.foreach(_.get())
    finally pool.shutdown()
    Trace("lakehouse.register") {
      lake.registerView("orders", Seq("days(ts)"))
      lake.registerView("customers")
      (0 until fx.smallTables).foreach(i => lake.registerView(smallName(i)))
      spark.conf.set("spark.sql.catalog.graft_spj", "graft.sources.spj.GraftSpjCatalog")
      spark.conf.set("spark.sql.catalog.graft_spj.root", root)
      spark.conf.set("spark.sql.sources.v2.bucketing.enabled", "true")
    }
    inputBytes = fx.rows.map(fx.plainBytes).sum +
      fx.customerRows.map(c => 8L + c._2.length + c._3.length).sum +
      (0 until fx.smallTables).flatMap(fx.small).map(r => 4L + r._2.length).sum
    bytes.sample()
  }

  private def factRow(r: FactRow): Row = Row(r.orderId, r.customerId,
    new java.sql.Timestamp(r.tsMicros / 1000), r.status, r.city, r.total,
    r.items.map { case (p, q, u) => Row(p, q, u) }, Row(r.city, r.state, r.zip))

  private def ts(micros: Long) = {
    val t = java.time.Instant.ofEpochSecond(micros / 1000000L)
    s"TIMESTAMP '${t.toString.replace("T", " ").stripSuffix("Z")}'"
  }

  // ---- the query classes --------------------------------------------------

  private def dayStart(d: Int) = fx.startMicros + d * fx.dayMicros

  private def pointQ(k: Long) = Q("point", s"point $k",
    t => s"SELECT $FactCols FROM ${t("orders")} WHERE order_id = $k",
    () => lake.readWhere(col("order_id") === k, "orders").selectExpr(FactCols.split(", "): _*))

  private def rangeQ(rnd: scala.util.Random) = {
    val lo = fx.startMicros + (rnd.nextDouble() * (fx.days - 3) * fx.dayMicros).toLong
    val hi = lo + fx.dayMicros / 4
    val min = 100
    Q("range", s"range $lo $min",
      t => s"SELECT order_id, city, total_amount FROM ${t("orders")} " +
        s"WHERE ts >= ${ts(lo)} AND ts < ${ts(hi)} AND total_amount >= $min",
      () => lake.readWhere(col("ts") >= expr(ts(lo)) && col("ts") < expr(ts(hi)) &&
        col("total_amount") >= min, "orders").select("order_id", "city", "total_amount"))
  }

  // Each class's pool entry k has a fixed shape (window width, start day,
  // snapshot); the seed moves only positions and values, so every seed
  // runs the same mix of work.

  private def metaQ(k: Int) = {
    val lo = dayStart(k * fx.days / 2 / PoolSize)
    Q("meta_agg", s"meta $lo",
      t => s"SELECT count(*) AS n, sum(total_amount) AS s, min(ts) AS lo, max(ts) AS hi " +
        s"FROM ${t("orders")} WHERE ts >= ${ts(lo)}",
      () => {
        val pred = col("ts") >= expr(ts(lo))
        lake.metaAgg("orders", Seq(MetaAggItem("count", None, "n"),
          MetaAggItem("sum", Some("total_amount"), "s"), MetaAggItem("min", Some("ts"), "lo"),
          MetaAggItem("max", Some("ts"), "hi")), Some(pred)).getOrElse(
          lake.readWhere(pred, "orders").agg(count(lit(1)).as("n"),
            sum("total_amount").as("s"), min("ts").as("lo"), max("ts").as("hi")))
      })
  }

  private def groupQ(rnd: scala.util.Random, k: Int) = {
    val width = 1 + k * (fx.days - 2) / PoolSize
    val d = rnd.nextInt(fx.days - width + 1)
    val (lo, hi) = (dayStart(d), dayStart(d + width))
    Q("group_agg", s"group $lo $hi",
      t => s"SELECT city, count(*) AS n, sum(total_amount) AS s FROM ${t("orders")} " +
        s"WHERE ts >= ${ts(lo)} AND ts < ${ts(hi)} GROUP BY city",
      () => {
        val pred = col("ts") >= expr(ts(lo)) && col("ts") < expr(ts(hi))
        lake.metaGroupAgg("orders", Seq("city"), Seq(MetaAggItem("count", None, "n"),
          MetaAggItem("sum", Some("total_amount"), "s")), Some(pred)).getOrElse(
          lake.readWhere(pred, "orders").groupBy("city")
            .agg(count(lit(1)).as("n"), sum("total_amount").as("s")))
      })
  }

  private def joinQ(rnd: scala.util.Random, k: Int) = {
    val region = fx.regions(k % fx.regions.size)
    val width = fx.days * 5 / 8
    val d = rnd.nextInt(fx.days - width + 1)
    val (lo, hi) = (dayStart(d), dayStart(d + width))
    Q("join", s"join $region $lo",
      t => s"SELECT c.segment, count(*) AS n, sum(o.total_amount) AS s " +
        s"FROM ${t("orders")} o JOIN ${t("customers")} c ON o.customer_id = c.customer_id " +
        s"WHERE c.region = '$region' AND o.ts >= ${ts(lo)} AND o.ts < ${ts(hi)} " +
        "GROUP BY c.segment",
      () => {
        val dim = lake.readWhere(col("region") === region, "customers")
        lake.readJoinPruned("orders", "customer_id", dim, "customer_id")
          .where(col("ts") >= expr(ts(lo)) && col("ts") < expr(ts(hi)))
          .join(dim, "customer_id").groupBy("segment")
          .agg(count(lit(1)).as("n"), sum("total_amount").as("s"))
      })
  }

  private def travelQ(k: Int) = {
    val i = k * (steps.size - 1) / PoolSize
    val snap = steps(i)
    // the SQL-standard spelling on graft_spj: the views surface's parser
    // rewrites every `<name> VERSION AS OF`, catalog-qualified or not
    def asOf(t: String) =
      if (t.startsWith("graft_spj.")) s"$t FOR SYSTEM_VERSION AS OF $snap"
      else s"$t VERSION AS OF $snap"
    Q("time_travel", s"travel $i",
      t => s"SELECT count(*) AS n, sum(total_amount) AS s, max(order_id) AS m " +
        s"FROM ${asOf(t("orders"))}",
      () => lake.readSnapshot("orders", snap)
        .agg(count(lit(1)).as("n"), sum("total_amount").as("s"), max("order_id").as("m")),
      oracle = Some("SELECT count(*) AS n, sum(total_amount) AS s, max(order_id) AS m " +
        s"FROM $OracleAll WHERE added <= $i AND dropped > $i"))
  }

  private def catalogQ(i: Int) = Q("catalog", s"catalog $i",
    t => s"SELECT k, v FROM ${t(smallName(i))} ORDER BY k LIMIT 5",
    () => lake.read(smallName(i)).orderBy("k").limit(5), small = Some(i))

  /** The seeded query sequence: blocks of [[BlockSize]] queries, each
    * holding every class by its [[Shares]] in seeded order, so any run's
    * mix is the same; each class rotates through the three surfaces and
    * through a small pool of parameters. Point keys are Zipf-skewed over
    * all orders; catalog tables go in rotation. */
  private lazy val sequence: IndexedSeq[(Q, String)] = {
    val rnd = Gen.rng(ctx.seed, 3L)
    val keys = rnd.shuffle(fx.rows.map(_.orderId))
    val zipf = new Zipf(keys.size, 1.1, rnd)
    val pools = Map[String, IndexedSeq[Q]](
      "range" -> IndexedSeq.fill(PoolSize)(rangeQ(rnd)),
      "meta_agg" -> IndexedSeq.tabulate(PoolSize)(metaQ),
      "group_agg" -> IndexedSeq.tabulate(PoolSize)(groupQ(rnd, _)),
      "join" -> IndexedSeq.tabulate(PoolSize)(joinQ(rnd, _)),
      "time_travel" -> IndexedSeq.tabulate(PoolSize)(travelQ))
    val block = Shares.flatMap { case (c, w) => Seq.fill(w)(c) }
    val seen = mutable.HashMap.empty[String, Int].withDefaultValue(0)
    var nextSmall = 0
    IndexedSeq.fill(SequenceLength / block.size)(rnd.shuffle(block)).flatten.map { cls =>
      val q = cls match {
        case "point" => pointQ(keys(zipf.next()))
        case "catalog" => nextSmall = (nextSmall + 1) % fx.smallTables; catalogQ(nextSmall)
        case c => pools(c)(seen(c) % PoolSize)
      }
      seen(cls) += 1
      (q, Surfaces(seen(cls) % Surfaces.size))
    }
  }

  // ---- the oracle: the same queries over plain parquet -------------------

  /** Expected digests by query key, over a plain parquet copy of the
    * generated rows: written, and filled for the sequence's first
    * [[OraclePrefix]] queries, before the measured phase. */
  private val expected = mutable.HashMap.empty[String, String]

  override def prepare(): Unit = Trace("check.oracle") {
    val t0 = System.nanoTime()
    // the step at which each row appears, and the first delete after it
    // that matches it
    val addedAt = events.zipWithIndex.collect { case (Left(c), i) => c -> i }.toMap
    val all = fx.rows.map { r =>
      val dropped = events.indices.find(i => i > addedAt(r.chunk) &&
        events(i).fold(_ => false, res => r.orderId % 97 == res)).getOrElse(Int.MaxValue)
      Row.fromSeq(factRow(r).toSeq ++ Seq(addedAt(r.chunk), dropped))
    }
    val dir = ctx.work.resolve("oracle").toString
    spark.createDataFrame(scala.jdk.CollectionConverters.SeqHasAsJava(all).asJava,
      FactSchema.add("added", IntegerType).add("dropped", IntegerType))
      .write.mode("overwrite").parquet(s"$dir/orders")
    spark.createDataFrame(fx.customerRows).toDF("customer_id", "segment", "region")
      .write.mode("overwrite").parquet(s"$dir/customers")
    spark.read.parquet(s"$dir/orders").createOrReplaceTempView(OracleAll)
    spark.sql(s"SELECT $FactCols FROM $OracleAll WHERE dropped = ${Int.MaxValue}")
      .createOrReplaceTempView("oracle_orders")
    spark.read.parquet(s"$dir/customers").createOrReplaceTempView("oracle_customers")
    // point lookups in one pass; the rest one query each
    val qs = sequence.take(OraclePrefix).map(_._1).groupBy(_.key).map(_._2.head).toSeq
    val (points, rest) = qs.partition(_.cls == "point")
    val keyOf = (q: Q) => q.key.stripPrefix("point ").toLong
    val found = spark.sql(s"SELECT $FactCols FROM oracle_orders")
      .where(col("order_id").isin(points.map(keyOf): _*)).collect().groupBy(_.getLong(0))
    points.foreach(q => expected(q.key) = Digest.of(found.getOrElse(keyOf(q), Array.empty[Row]).toSeq))
    rest.foreach(oracle)
    System.err.println(f"[perfbench] lake_query oracle: ${expected.size} answers in " +
      f"${(System.nanoTime() - t0) / 1e9}%.1f s")
  }

  /** The expected digest of `q`, computed once. */
  private def oracle(q: Q): String = expected.getOrElseUpdate(q.key, Trace("check.oracle") {
    q.small match {
      case Some(i) => Digest.of(fx.small(i).sortBy(_._1).take(5).map { case (k, v) => Row(k, v) })
      case None => Digest.of(spark.sql(q.oracle.getOrElse(q.sql(t => s"oracle_$t"))).collect().toSeq)
    }
  })

  // ---- the measured loop ------------------------------------------------

  private def runQuery(q: Q, surface: String): Seq[Row] = Trace(s"query.${q.cls}") {
    val listed = if (q.cls == "catalog") surface match {
      case "api" => Trace("lakehouse.read_plan")(lake.tableNames())
      case "spj" => Digest.collect(Trace("spj.sql")(spark.sql("SHOW TABLES IN graft_spj")))
        .map(_.getString(1))
      case _ => Digest.collect(Trace("viewsql.sql")(spark.sql("SHOW TABLES")))
        .map(_.getString(1))
    } else Nil
    val df = surface match {
      case "api" => Trace("lakehouse.read_plan")(q.api())
      case "spj" => Trace("spj.sql")(spark.sql(q.sql(t => s"graft_spj.$t")))
      case _ => Trace("viewsql.sql")(spark.sql(q.sql(identity)))
    }
    val rows = Digest.collect(df)
    if (q.cls == "catalog") {
      val n = listed.count(_.startsWith("cat_"))
      if (n != fx.smallTables) throw new IllegalStateException(
        s"SHOW TABLES via $surface listed $n of ${fx.smallTables} catalog tables")
    }
    rows
  }

  /** Run `q` through `surface` as one operation of `out` and check its
    * answer; the latency in seconds. */
  private def timed(out: Outcome, q: Q, surface: String): Double = {
    val (rows, s) = Stats.timeS(out.op(s"${q.cls} via $surface")(runQuery(q, surface)))
    rows.foreach { rs =>
      out.rows += rs.size
      Trace("check.answer")(out.check(Digest.of(rs) == oracle(q),
        s"${q.key} via $surface: ${rs.size} rows differ from the parquet oracle"))
    }
    s
  }

  def measure(out: Outcome, deadlineNs: Long): Unit = {
    val t0 = System.nanoTime()
    // every class through every surface once, untimed: the first call
    // of each compiles its paths and fills the program's caches
    val warm = new Outcome
    for ((cls, _) <- Shares; surface <- Surfaces)
      timed(warm, sequence.find(_._1.cls == cls).get._1, surface)
    out.attempted += warm.attempted
    out.failed += warm.failed
    out.failures ++= warm.failures
    val liveFiles = LakeBytes.liveFiles(lake, "orders").size
    val factRoot = lake.tableRoot("orders").toUri.getPath
    CountingLocalFs.watch = factRoot
    val opens0 = CountingLocalFs.watchedOpens.sum
    var factQueries = 0
    val classMs = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
    var i = 0
    var block = 0.0
    // whole blocks, so every run times the same mix of classes and surfaces
    while (System.nanoTime() < deadlineNs || out.queryMs.size < ctx.size(MinQueries, BlockSize) ||
        i % BlockSize != 0) {
      val (q, surface) = sequence(i % sequence.size)
      i += 1
      val s = timed(out, q, surface)
      out.queryMs += s * 1000
      out.queryWallS += s
      classMs.getOrElseUpdate(s"${q.cls}/$surface", mutable.ArrayBuffer.empty[Double]) += s * 1000
      block += s
      if (i % BlockSize == 0) { out.batchS += block; block = 0.0 }
      if (q.cls != "catalog") factQueries += 1
    }
    CountingLocalFs.watch = null
    out.wallS = out.queryWallS
    out.inputBytes = inputBytes
    out.writtenBytes = bytes.written
    out.spaceAmp += bytes.sample().toDouble / bytes.referenced(lake)
    out.layer("lakehouse.meta_bytes_written") = bytes.metaWritten.toDouble
    out.layer("lakehouse.live_files") = liveFiles.toDouble
    out.layer("lakehouse.snapshots") = lake.snapshots("orders").size.toDouble
    out.layer("lakehouse.files_read_frac") =
      (CountingLocalFs.watchedOpens.sum - opens0).toDouble / math.max(1, factQueries) / liveFiles
    System.err.println(f"[perfbench] lake_query: $i queries in ${(System.nanoTime() - t0) / 1e9}%.1f s, " +
      s"$liveFiles live files, ${lake.snapshots("orders").size} snapshots")
    System.err.println("[perfbench]   block_s " + out.batchS.map(x => f"$x%.3f").mkString(" "))
    classMs.toSeq.sortBy(_._1).foreach { case (k, xs) =>
      System.err.println(f"[perfbench]   $k%-22s n=${xs.size}%4d p50=${Stats.median(xs.toSeq)}%8.1f ms")
    }
  }
}

object LakeQuery {
  /** One query instance: its SQL over a table-name mapping (views,
    * `graft_spj` or the oracle copy), and the same query through the
    * Lakehouse API. */
  final case class Q(cls: String, key: String, sql: (String => String) => String,
      api: () => DataFrame, oracle: Option[String] = None, small: Option[Int] = None)

  /** Queries of each class in every block of the sequence. */
  val Shares: Seq[(String, Int)] = Seq("point" -> 4, "range" -> 4, "meta_agg" -> 2,
    "group_agg" -> 2, "join" -> 1, "time_travel" -> 2, "catalog" -> 6)
  val Surfaces: IndexedSeq[String] = IndexedSeq("api", "spj", "views")
  val PoolSize = 4
  /** Small catalog tables. The catalog class visits them in rotation and
    * a run's 30-odd catalog queries never come back to one, so every SPJ
    * catalog query builds its table's layout instead of hitting the
    * layout cache. */
  val SmallTables = 40
  val SequenceLength = 4000
  /** Queries whose expected answers are computed before the measured
    * phase; later ones are computed when first met. */
  val OraclePrefix = 200
  /** Queries per block of the sequence, and per `batch_s` sample. */
  val BlockSize: Int = Shares.map(_._2).sum
  /** At least this many queries per run, so that p90 has ten beyond it. */
  val MinQueries = 100
  val OracleAll = "oracle_all_orders"

  val FactCols = "order_id, customer_id, ts, status, city, total_amount, items, shipping_address"

  def smallName(i: Int): String = f"cat_$i%03d"

  val FactSchema: StructType = StructType(Seq(
    StructField("order_id", LongType), StructField("customer_id", LongType),
    StructField("ts", TimestampType), StructField("status", StringType),
    StructField("city", StringType), StructField("total_amount", DecimalType(12, 2)),
    StructField("items", ArrayType(StructType(Seq(StructField("product_id", StringType),
      StructField("quantity", IntegerType), StructField("unit_price", DecimalType(10, 2)))))),
    StructField("shipping_address", StructType(Seq(StructField("city", StringType),
      StructField("state", StringType), StructField("zip", StringType))))))
}
