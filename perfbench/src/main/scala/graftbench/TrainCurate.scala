package graftbench

import java.nio.file.Path

import org.apache.spark.sql.functions._

import graft.operators.{AnnIndex, Curate, Dedup}
import graft.sources.Lakehouse

/** `train_curate`: the training-data pipeline. Set-up lands a corpus
  * and builds the MinHash dedup index and the IVF ANN index over it.
  * Each batch appends new documents (with planted near-duplicates of
  * earlier ones), scores them with the curation gates, refreshes the
  * dedup index and reads the admission decisions, refreshes the ANN
  * index and answers a seeded top-10 query set. */
final class TrainCurate(ctx: Ctx) extends Workload {
  import TrainCurate._
  private val spark = ctx.spark
  import spark.implicits._
  private val gen = new CorpusGen(ctx.seed)
  private val corpus = ctx.size(2000, 600)
  private val batchDocs = ctx.size(300, 200)
  private var lake: Lakehouse = _
  private var bytes: LakeBytes = _

  private def land(ids: Range): Unit = {
    val docs = ids.map(i => (i.toLong, gen.texts(i))).toDF("doc_id", "text")
    val embs = ids.map(i => (i.toLong, gen.embeddings(i).toSeq)).toDF("vec_id", "embedding")
    if (lake.currentSnapshot("docs").isEmpty) {
      Trace("lakehouse.append")(lake.createOrReplace(docs, "docs"))
      Trace("lakehouse.append")(lake.createOrReplace(embs, "emb"))
    } else {
      Trace("lakehouse.append")(lake.append(docs, "docs"))
      Trace("lakehouse.append")(lake.append(embs, "emb"))
    }
  }

  private def inputBytes(ids: Range): Long =
    ids.map(i => gen.texts(i).length.toLong + 8L * gen.dim).sum

  /** One set-up takes most of a run's budget on a 4-core box. */
  override def setupReps: Int = 1

  override def extraEndToEnd: Seq[(String, String)] =
    Seq("dedup_recall" -> "ratio", "ann_recall10" -> "ratio")
  override def extraLayers: Seq[(String, String)] =
    LayerWindow.SpanMedians.map(_._1).filter(m => LayerWindow.TrainLayers(m.takeWhile(_ != '.')))
      .map(_ -> "ms") ++ Seq("dedup.pairs" -> "count", "curate.kept_frac" -> "ratio") ++
      LayerWindow.TrainLayers.toSeq.sorted.map(l => s"self_s.$l" -> "s")

  def setup(dir: Path): Unit = {
    lake = new Lakehouse(spark, dir.resolve("lake").toString)
    bytes = new LakeBytes(dir.resolve("lake"))
    land(Trace("gen.corpus")(gen.batch(corpus, DupFrac)))
    Trace("dedup.create")(Dedup.indexCreate(lake, "docs", Tau))
    Trace("ann.create")(AnnIndex.create(lake, "emb"))
    bytes.sample()
  }

  def measure(out: Outcome, deadlineNs: Long): Unit = {
    val t0 = System.nanoTime()
    var input = inputBytes(0 until corpus)
    var kept = 0L
    var pairsSeen = 0L
    var found = 0
    var planted = 0
    var annHits = 0L
    var annWant = 0L
    while (System.nanoTime() < deadlineNs || out.batchS.isEmpty) {
      val plantedBefore = gen.planted.size
      val ids = Trace("gen.batch")(gen.batch(batchDocs, DupFrac))
      val queries = Trace("gen.queries")(
        Seq.fill(QueryCalls, QueriesPerCall)(gen.nearCentre(0.35)))
      val (res, s) = Stats.timeS(out.op(s"batch ${ids.head}") {
        land(ids)
        val gates = Digest.collect(Trace("curate.gates")(
          Curate.gates(lake.readWhere(col("doc_id") >= ids.head, "docs"))))
        val cur = lake.currentSnapshot("docs").get
        val pairs = Digest.collect(Trace("dedup.refresh")(Dedup.indexRefresh(lake, "docs", Tau)))
        Trace("lakehouse.append")(lake.appendOnce(
          pairs.map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
            .toDF("doc_a", "doc_b", "jaccard"), "docs_nd_pairs", batchId = cur))
        val admission = Digest.collect(Trace("dedup.admission")(Dedup.indexAdmission(lake, "docs")))
        Trace("ann.refresh")(AnnIndex.refresh(lake, "emb"))
        val answers = queries.zipWithIndex.map { case (qs, c) =>
          val qdf = qs.zipWithIndex.map { case (v, j) => ((c * QueriesPerCall + j).toLong, v.toSeq) }
            .toDF("vec_id", "embedding")
          val (rows, ms) = Stats.timeS(Trace("ann.query")(
            Digest.collect(AnnIndex.query(lake, "emb", qdf, k = 10))))
          out.queryMs += ms * 1000
          out.queryWallS += ms
          rows
        }
        (gates, pairs, admission, answers)
      })
      out.batchS += s
      out.rows += ids.size
      input += inputBytes(ids)
      res.foreach { case (gates, pairs, admission, answers) =>
        Trace("check.batch") {
          kept += gates.count(r => r.getAs[Double]("quality") >= 0.5 &&
            r.getAs[String]("pred_lang") != "und")
          out.check(gates.size == ids.size, s"gates scored ${gates.size} of ${ids.size} docs")
          pairsSeen += pairs.size
          val got = pairs.map(r => (r.getLong(0), r.getLong(1))).toSet
          pairs.foreach { r =>
            val j = jaccard(r.getLong(0), r.getLong(1))
            out.check(j >= Tau - 1e-6, s"dedup pair (${r.getLong(0)}, ${r.getLong(1)}) has Jaccard $j")
          }
          val newPlanted = gen.planted.drop(plantedBefore)
          planted += newPlanted.size
          found += newPlanted.count { case (a, b) => got((a min b, a max b)) }
          out.check(admission.size == gen.texts.size &&
            admission.map(_.getLong(0)).distinct.size == admission.size,
            s"admission labelled ${admission.size} docs of ${gen.texts.size}")
          answers.zipWithIndex.foreach { case (rows, c) =>
            queries(c).zipWithIndex.foreach { case (v, j) =>
              val qid = (c * QueriesPerCall + j).toLong
              val mine = rows.filter(_.getAs[Long]("q_id") == qid).sortBy(_.getAs[Int]("rnk"))
              val ids = mine.map(_.getAs[Long]("vec_id"))
              val cos = mine.map(_.getAs[Double]("cosine"))
              out.check(mine.size == 10 && ids.distinct.size == 10 &&
                ids.forall(i => i >= 0 && i < gen.texts.size) &&
                cos.zip(cos.drop(1)).forall { case (a, b) => a >= b },
                s"ANN answer for query $qid is not 10 distinct valid ids in score order")
              annHits += ids.toSet.intersect(bruteTop10(v)).size
              annWant += 10
            }
          }
          out.spaceAmp += bytes.sample().toDouble / bytes.referenced(lake)
        }
      }
    }
    out.wallS = out.batchS.sum
    out.inputBytes = input
    out.writtenBytes = bytes.written
    out.layer("dedup_recall") = if (planted == 0) 1.0 else found.toDouble / planted
    out.layer("ann_recall10") = annHits.toDouble / math.max(1L, annWant)
    out.layer("dedup.pairs") = pairsSeen.toDouble
    out.layer("curate.kept_frac") = kept.toDouble / math.max(1L, out.rows)
    out.layer("lakehouse.meta_bytes_written") = bytes.metaWritten.toDouble
    out.layer("lakehouse.live_files") = LakeBytes.liveFiles(lake, "docs").size.toDouble
    out.layer("lakehouse.snapshots") = lake.snapshots("docs").size.toDouble
    System.err.println(f"[perfbench] train_curate: ${out.batchS.size} batches in " +
      f"${(System.nanoTime() - t0) / 1e9}%.1f s, recall dedup $found/$planted, " +
      f"ann ${out.layer("ann_recall10")}%.3f")
  }

  /** Exact Jaccard of the two documents' distinct 3-token shingles. */
  private def jaccard(a: Long, b: Long): Double = {
    val (x, y) = (shingles(gen.texts(a.toInt)), shingles(gen.texts(b.toInt)))
    x.intersect(y).size.toDouble / x.union(y).size
  }

  /** Exact top-10 by cosine over every document's embedding. */
  private def bruteTop10(q: Array[Double]): Set[Long] =
    gen.embeddings.indices.map(i => i -> dot(q, gen.embeddings(i)))
      .sortBy(-_._2).take(10).map(_._1.toLong).toSet

  private def dot(a: Array[Double], b: Array[Double]): Double = {
    var s = 0.0
    var i = 0
    while (i < a.length) { s += a(i) * b(i); i += 1 }
    s
  }
}

object TrainCurate {
  /** Jaccard threshold of the dedup index. */
  val Tau = 0.5
  /** Share of each batch planted as near-copies of earlier documents. */
  val DupFrac = 0.05
  val QueryCalls = 3
  val QueriesPerCall = 4

  private val Token = "[a-z0-9]+".r

  def shingles(text: String): Set[String] =
    Token.findAllIn(text.toLowerCase).toSeq.sliding(3).filter(_.size == 3)
      .map(_.mkString(" ")).toSet
}
