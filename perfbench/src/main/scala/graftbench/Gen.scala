package graftbench

import scala.collection.mutable

/** Every input the benchmark feeds the program comes from here, drawn
  * from the run's seed: the order documents, the lake_query fixture and
  * query sequence, and the training corpus. Each stream salts the seed
  * so that changing one never shifts another. */
object Gen {
  def rng(seed: Long, salt: Long): scala.util.Random =
    new scala.util.Random(seed * 0x9E3779B97F4A7C15L ^ salt)

  /** (city, state, zip prefix) of the shipping addresses. */
  val Cities: IndexedSeq[(String, String, String)] = IndexedSeq(
    ("Mumbai", "MH", "400"), ("Pune", "MH", "411"), ("Nagpur", "MH", "440"),
    ("Delhi", "DL", "110"), ("Bengaluru", "KA", "560"), ("Mysuru", "KA", "570"),
    ("Chennai", "TN", "600"), ("Coimbatore", "TN", "641"), ("Madurai", "TN", "625"),
    ("Hyderabad", "TS", "500"), ("Kolkata", "WB", "700"), ("Ahmedabad", "GJ", "380"),
    ("Surat", "GJ", "395"), ("Jaipur", "RJ", "302"), ("Lucknow", "UP", "226"),
    ("Kanpur", "UP", "208"), ("Indore", "MP", "452"), ("Bhopal", "MP", "462"),
    ("Patna", "BR", "800"), ("Kochi", "KL", "682"), ("Chandigarh", "CH", "160"),
    ("Guwahati", "AS", "781"), ("Bhubaneswar", "OD", "751"), ("Visakhapatnam", "AP", "530"))

  val Products: IndexedSeq[String] = IndexedSeq("kettle", "lamp", "mixer", "fan", "chair",
    "desk", "shelf", "mat", "bottle", "pan", "cooker", "heater", "router", "phone",
    "charger", "cable", "speaker", "watch", "bag", "shoes")

  def money(x: Double): Double = BigDecimal(x).setScale(2, BigDecimal.RoundingMode.HALF_UP).toDouble
}

/** One order document in the reference's Mongo shape. */
final case class OrderDoc(orderId: String, customerId: String, date: String, status: String,
    items: Seq[(String, String, Int, Double)], city: String, state: String, zip: String) {
  val total: Double = Gen.money(items.map(i => i._3 * i._4).sum)

  def json: String = {
    val its = items.map { case (pid, name, q, p) =>
      s"""{"product_id":"$pid","product_name":"$name","quantity":$q,"unit_price":$p}"""
    }.mkString("[", ",", "]")
    s"""{"order_id":"$orderId","customer_id":"$customerId","order_date":"$date",""" +
      s""""status":"$status","items":$its,"total_amount":$total,""" +
      s""""shipping_address":{"city":"$city","state":"$state","zip":"$zip"}}"""
  }
}

/** Landed files of order documents. Each file holds distinct order
  * ids: new orders, plus fixed shares of updates to live orders and of
  * cancellations (status `CANCELLED`) of live orders. [[live]] is the
  * state silver must hold after the file is applied. */
final class OrderGen(seed: Long, updateFrac: Double = 0.10, cancelFrac: Double = 0.03) {
  private val rnd = Gen.rng(seed, 1L)
  private var nextId = 0
  val live = mutable.HashMap.empty[String, OrderDoc]
  private val liveIds = mutable.ArrayBuffer.empty[String]
  private val slot = mutable.HashMap.empty[String, Int]

  private def addLive(d: OrderDoc): Unit = {
    if (!slot.contains(d.orderId)) { slot(d.orderId) = liveIds.size; liveIds += d.orderId }
    live(d.orderId) = d
  }
  private def removeLive(id: String): Unit = {
    val i = slot.remove(id).get
    val last = liveIds.remove(liveIds.size - 1)
    if (last != id) { liveIds(i) = last; slot(last) = i }
    live.remove(id)
  }

  private def items(): Seq[(String, String, Int, Double)] =
    Seq.fill(1 + rnd.nextInt(4)) {
      val p = rnd.nextInt(Gen.Products.size)
      (f"P$p%03d", Gen.Products(p), 1 + rnd.nextInt(5), Gen.money(5 + rnd.nextDouble() * 495))
    }

  private def fresh(): OrderDoc = {
    nextId += 1
    val (city, state, zip) = Gen.Cities(rnd.nextInt(Gen.Cities.size))
    OrderDoc(f"O$nextId%08d", f"C${rnd.nextInt(50000)}%06d",
      f"2024-${1 + rnd.nextInt(12)}%02d-${1 + rnd.nextInt(28)}%02d", "PLACED", items(),
      city, state, f"$zip${rnd.nextInt(1000)}%03d")
  }

  /** The next landed file of `n` documents, applied to [[live]]. */
  def file(n: Int): Seq[OrderDoc] = {
    val nUpd = math.min((n * updateFrac).round.toInt, liveIds.size / 2)
    val nCan = math.min((n * cancelFrac).round.toInt, liveIds.size / 4)
    val picked = mutable.LinkedHashSet.empty[String]
    while (picked.size < nUpd + nCan) picked += liveIds(rnd.nextInt(liveIds.size))
    val (upd, can) = picked.toSeq.splitAt(nUpd)
    val updates = upd.map { id =>
      val old = live(id)
      old.copy(status = Seq("SHIPPED", "DELIVERED", "RETURNED")(rnd.nextInt(3)),
        items = if (rnd.nextBoolean()) items() else old.items)
    }
    val cancels = can.map(id => live(id).copy(status = "CANCELLED"))
    val news = Seq.fill(n - updates.size - cancels.size)(fresh())
    val docs = rnd.shuffle(news ++ updates ++ cancels)
    docs.foreach(d => if (d.status == "CANCELLED") removeLive(d.orderId) else addLive(d))
    docs
  }

  /** `k` distinct live order ids. */
  def sampleLive(k: Int): Seq[String] = {
    val out = mutable.LinkedHashSet.empty[String]
    while (out.size < math.min(k, liveIds.size)) out += liveIds(rnd.nextInt(liveIds.size))
    out.toSeq
  }
}

/** Draws ranks 0..n-1 with probability proportional to 1/(rank+1)^s. */
final class Zipf(n: Int, s: Double, rnd: scala.util.Random) {
  private val cdf = {
    val w = Array.tabulate(n)(i => 1.0 / math.pow(i + 1, s))
    val c = w.scanLeft(0.0)(_ + _).tail
    c.map(_ / c.last)
  }
  def next(): Int = {
    val i = java.util.Arrays.binarySearch(cdf, rnd.nextDouble())
    math.min(if (i >= 0) i else -i - 1, n - 1)
  }
}

/** One fact row of the lake_query orders table; `chunk` is the append
  * that lands it. */
final case class FactRow(orderId: Long, customerId: Long, tsMicros: Long, status: String,
    city: String, state: String, zip: String, total: java.math.BigDecimal,
    items: Seq[(String, Int, java.math.BigDecimal)], chunk: Int)

/** The lake_query fixture: `chunks` appends of `perChunk` orders whose
  * timestamps advance over `days` days, customers, and small catalog
  * tables. */
final class FactGen(seed: Long, val chunks: Int, perChunk: Int, val days: Int,
    val customers: Int, val smallTables: Int) {
  private val rnd = Gen.rng(seed, 2L)
  val startMicros: Long = 1704067200000000L // 2024-01-01T00:00:00Z
  val dayMicros: Long = 86400L * 1000000L
  val statuses = IndexedSeq("PLACED", "SHIPPED", "DELIVERED", "RETURNED")
  val segments = IndexedSeq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
  val regions = IndexedSeq("NORTH", "SOUTH", "EAST", "WEST", "CENTRAL", "NORTHEAST")

  private def dec(cents: Long) = java.math.BigDecimal.valueOf(cents, 2)

  /** Orders in append order: chunk c covers the c-th slice of the days. */
  lazy val rows: IndexedSeq[FactRow] = {
    val perm = rnd.shuffle((1 to chunks * perChunk).toIndexedSeq)
    val span = days.toDouble / chunks
    (0 until chunks).flatMap { c =>
      (0 until perChunk).map { i =>
        val (city, state, zip) = Gen.Cities(rnd.nextInt(Gen.Cities.size))
        val items = Seq.fill(1 + rnd.nextInt(3))(
          (f"P${rnd.nextInt(500)}%03d", 1 + rnd.nextInt(5), dec(500 + rnd.nextInt(50000))))
        val total = items.map(i => i._3.multiply(java.math.BigDecimal.valueOf(i._2.toLong)))
          .foldLeft(java.math.BigDecimal.ZERO)(_ add _)
        FactRow(perm(c * perChunk + i).toLong, 1L + rnd.nextInt(customers),
          startMicros + ((c + rnd.nextDouble()) * span * dayMicros).toLong,
          statuses(rnd.nextInt(statuses.size)), city, state, f"$zip${rnd.nextInt(1000)}%03d",
          total, items, c)
      }
    }
  }

  /** Bytes of a row in a plain fixed-width encoding: 8 per number and
    * timestamp, 4 per int, the length of each string. */
  def plainBytes(r: FactRow): Long =
    32L + r.status.length + r.city.length + r.state.length + r.zip.length +
      r.items.map(i => 12L + i._1.length).sum

  /** customer_id -> (segment, region). */
  val customerRows: IndexedSeq[(Long, String, String)] = (1 to customers).map(i =>
    (i.toLong, segments(rnd.nextInt(segments.size)), regions(rnd.nextInt(regions.size))))

  /** Small catalog table i: rows (k, v). */
  def small(i: Int): Seq[(Int, String)] = {
    val r = Gen.rng(seed, 1000L + i)
    Seq.fill(6 + r.nextInt(6))(r.nextInt(1000)).distinct.map(k => (k, s"v$i-$k"))
  }
}

/** The training corpus: documents of pseudo-words with language-typed
  * stopwords, 64-dim embeddings drawn around fixed cluster centres, and
  * planted near-duplicates (a copy of an earlier document with two
  * tokens replaced) whose (original, copy) pairs are recorded. */
final class CorpusGen(seed: Long, val dim: Int = 64, centres: Int = 64) {
  private val rnd = Gen.rng(seed, 4L)
  private val syllables = IndexedSeq("ka", "lo", "mi", "nu", "pe", "ra", "si", "to", "vu", "ze",
    "bo", "da", "fi", "gu", "he", "jo", "ku", "li", "mo", "ne")
  private def word(i: Int): String = {
    val s = new StringBuilder
    var x = i + 20 * 20 // at least three syllables: never a stopword
    while (x > 0) { s ++= syllables(x % 20); x /= 20 }
    s.toString
  }
  private val vocab = IndexedSeq.tabulate(3000)(word)
  private val zipf = new Zipf(vocab.size, 1.0, rnd)
  private val stop = Map(
    "en" -> IndexedSeq("the", "and", "of", "to", "a", "in", "is", "you", "that", "it"),
    "es" -> IndexedSeq("el", "la", "de", "que", "y", "en", "un", "los", "se", "no"),
    "fr" -> IndexedSeq("le", "la", "de", "et", "les", "des", "en", "un", "du", "une"),
    "de" -> IndexedSeq("der", "die", "und", "in", "den", "von", "zu", "das", "mit", "sich"))
  private val centre = Array.fill(centres)(unit(Array.fill(dim)(rnd.nextGaussian())))

  private def unit(v: Array[Double]): Array[Double] = {
    val n = math.sqrt(v.map(x => x * x).sum)
    v.map(_ / n)
  }

  val texts = mutable.ArrayBuffer.empty[String]
  val embeddings = mutable.ArrayBuffer.empty[Array[Double]]
  /** (original, copy) doc ids of every planted near-duplicate. */
  val planted = mutable.ArrayBuffer.empty[(Long, Long)]

  private def text(): String = {
    val lang = rnd.nextInt(10) match {
      case 0 => "es"
      case 1 => "fr"
      case 2 => "de"
      case _ => "en"
    }
    Seq.fill(30 + rnd.nextInt(60)) {
      if (rnd.nextInt(4) == 0) stop(lang)(rnd.nextInt(10)) else vocab(zipf.next())
    }.mkString(" ")
  }

  /** A point near a random cluster centre. */
  def nearCentre(spread: Double): Array[Double] = {
    val c = centre(rnd.nextInt(centres))
    unit(c.map(_ + rnd.nextGaussian() * spread))
  }

  /** Append `n` documents, a `dupFrac` share of them near-copies of
    * earlier ones; returns their ids. */
  def batch(n: Int, dupFrac: Double): Range = {
    val first = texts.size
    val nDup = if (first == 0) 0 else (n * dupFrac).round.toInt
    val dupAt = rnd.shuffle((0 until n).toIndexedSeq).take(nDup).toSet
    (0 until n).foreach { i =>
      if (dupAt(i)) {
        val orig = rnd.nextInt(first)
        val toks = texts(orig).split(" ")
        (0 until 2).foreach(_ => toks(rnd.nextInt(toks.length)) = vocab(rnd.nextInt(vocab.size)))
        texts += toks.mkString(" ")
        embeddings += unit(embeddings(orig).map(_ + rnd.nextGaussian() * 0.01))
        planted += ((orig.toLong, (first + i).toLong))
      } else {
        texts += text()
        embeddings += nearCentre(0.35)
      }
    }
    first until first + n
  }
}
