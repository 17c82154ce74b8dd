package graftbench

import graft.embed.{Embedder, HashEmbedder}
import graft.ingest.IngestPipeline
import graft.operators.Similarity
import graft.query.RagSearch
import graft.store.CollectionManifest
import scala.collection.mutable.ArrayBuffer

/** One client's closed loop of RAG queries against an embedder-bound
  * collection of ~50k 384-d chunks with a stored IVF index. Each round
  * makes four calls: bound top-5, the same with a `where` filter on
  * `source`, `contextForRag`, and an IVF-probed `searchAuto` top-10. */
final class RagQuery(ctx: Ctx) extends Workload {
  import RagQuery._
  private val spark = ctx.spark
  private val store = ctx.store
  private val embedder: Embedder = HashEmbedder(dim = Dim)
  private val queryEmbedder: Embedder =
    if (ctx.trace) TimedEmbedder(embedder, "embed.query") else embedder

  private val nRounds = math.max(2, math.round(ctx.seconds * RoundsPerSecond).toInt)

  sealed trait Answer
  final case class Hits(q: Array[Float], source: Option[String], hits: Seq[(String, Double)]) extends Answer
  final case class Context(q: Array[Float], text: String) extends Answer
  final case class Ivf(q: Array[Float], hits: Seq[(String, Double)]) extends Answer
  private val answers = ArrayBuffer.empty[Answer]

  private def queries(stream: String, n: Int): Seq[(String, String)] = {
    val rng = ctx.rng(stream)
    (0 until n).map { _ =>
      (Corpus.text(rng, rng.nextInt(Corpus.Topics.length), 6 + rng.nextInt(6)).stripSuffix("."),
        f"manual_${rng.nextInt(Sources)}%02d.pdf")
    }
  }

  def setup(): Unit = {
    val rng = ctx.rng("rag_docs")
    val docs = (0 until Docs).map { i =>
      (f"doc$i%05d", f"manual_${i % Sources}%02d.pdf",
        Corpus.text(rng, rng.nextInt(Corpus.Topics.length), WordsPerDoc))
    }
    val df = spark.createDataFrame(docs).toDF("doc_id", "source", "text")
    store.create("rag", IngestPipeline.ingestDocuments(df, embedder),
      manifest = Some(CollectionManifest.single(embedder)))
    Similarity.buildIvfIndex(store, "rag_ivf", store.read(spark, "rag"), "embedding", "id",
      ncells = IvfCells, sampleCap = TrainSample)
  }

  private def round(q: Seq[(String, String)]): Unit = {
    val Seq((q1, _), (q2, src), (q3, _), (q4, _)) = q
    ctx.search("exact") {
      RagSearch.searchBound(spark, store, "rag", q1, Some(queryEmbedder), 5)
    }.foreach(r => if (ctx.recording)
      answers += Hits(embedder.encodeOne(q1), None, r.results.map(h => (h.id, h.distance))))
    ctx.search("filtered") {
      RagSearch.searchBound(spark, store, "rag", q2, Some(queryEmbedder), 5,
        whereJson = Some(s"""{"source": "$src"}"""))
    }.foreach(r => if (ctx.recording)
      answers += Hits(embedder.encodeOne(q2), Some(src), r.results.map(h => (h.id, h.distance))))
    ctx.call("context") {
      RagSearch.contextForRag(store.readCurrent(spark, "rag"), q3, queryEmbedder.encodeOne)
    }.foreach(t => if (ctx.recording) answers += Context(embedder.encodeOne(q3), t))
    ctx.call("ivf") {
      Similarity.searchAuto(spark, store, Seq("rag_ivf"), store.read(spark, "rag"),
        "embedding", "id", queryEmbedder.encodeOne(q4), k = 10, nprobe = Nprobe)
        .select("id", "cosine").collect().map(r => (r.getString(0), r.getDouble(1))).toSeq
    }.foreach(h => if (ctx.recording) answers += Ivf(embedder.encodeOne(q4), h))
  }

  def warmup(): Unit = queries("rag_warm", 4 * WarmRounds).grouped(4).foreach(round)
  def timed(): Unit = queries("rag_timed", 4 * nRounds).grouped(4).foreach(round)
  def items: Long = answers.size.toLong

  def layers(l: JobListener): Map[String, Double] = {
    def med(kind: String) = Stats.quantile(ctx.calls.filter(_.kind == kind).map(_.ms).toSeq, 0.5)
    val rows = ctx.calls.flatMap(c => l.jobsIn(c.startMs, c.endMs)).map(_.inputRecords.sum).sum
    Map(
      "query.embed_ms" -> Trace.medianMs("embed.query.one"),
      "query.exact_ms" -> med("exact"), "query.filtered_ms" -> med("filtered"),
      "query.context_ms" -> med("context"), "query.ivf_ms" -> med("ivf"),
      "query.rows_scanned_per_query" -> rows.toDouble / math.max(1, ctx.calls.size),
      "query.ivf_recall_at_10" -> recall)
  }

  private lazy val corpus: Array[(String, String, String, String, Array[Float])] = {
    import spark.implicits._
    store.read(spark, "rag").select("id", "source", "chunk_id", "chunk", "embedding")
      .as[(String, String, String, String, Array[Float])].collect()
  }

  /** Mean IVF recall@10 against the exact cosine top-10. */
  private lazy val recall: Double = {
    val ivf = answers.collect { case a: Ivf => a }
    val vecs = corpus.map(r => (r._1, r._5))
    val cos = (a: Array[Float], b: Array[Float]) => -Oracle.cosine(a, b)
    ivf.map { a =>
      val want = Oracle.topK(vecs, a.q, 10, cos).map(_._1).toSet
      a.hits.count(h => want.contains(h._1)) / 10.0
    }.sum / math.max(1, ivf.size)
  }

  def verify(): Unit = {
    val byId = corpus.map(r => r._1 -> r).toMap
    val all = corpus.map(r => (r._1, r._5))
    answers.foreach {
      case Hits(q, source, hits) =>
        val pool = source.fold(all.toSeq)(s => corpus.filter(_._2 == s).map(r => (r._1, r._5)).toSeq)
        val want = Oracle.topK(pool, q, 5)
        ctx.check(hits.forall(h => source.forall(s => byId.get(h._1).exists(_._2 == s))),
          s"filtered hit outside source $source")
        Checks.ranking(hits, want, id => byId.get(id).map(r => Oracle.l2sq(r._5, q)))
          .foreach(e => ctx.check(false, s"${source.fold("exact")(_ => "filtered")} search: $e"))
      case Context(q, text) =>
        val top = Oracle.topK(all, q, 10).map(h => byId(h._1))
        ctx.check(text == Oracle.context(top.map(r => (r._2, r._3, r._4))),
          "contextForRag differs from the greedy 4000-char prefix of the exact top-10")
      case Ivf(q, hits) =>
        // probed hits are real rows at their true cosine, best first
        ctx.check(hits.size == 10, s"IVF returned ${hits.size} hits")
        hits.foreach { case (id, c) =>
          ctx.check(byId.get(id).exists(r => math.abs(Oracle.cosine(r._5, q) - c) <= 1e-5),
            s"IVF hit $id at cosine $c is not the row's cosine")
        }
        ctx.check(hits.map(_._2) == hits.map(_._2).sortBy(-_), "IVF hits out of order")
    }
    System.err.println(f"[graftbench] IVF recall@10 $recall%.3f over ${answers.count(_.isInstanceOf[Ivf])} queries")
    ctx.check(recall >= RecallFloor, f"IVF recall@10 $recall%.3f below the floor $RecallFloor")
  }
}

object RagQuery {
  val Dim = 384
  val Docs = 1100
  val WordsPerDoc = 800
  val Sources = 8
  val IvfCells = 32
  val Nprobe = 4
  val TrainSample = 3000
  val WarmRounds = 4
  val RecallFloor = 0.5
  /** Timed rounds (four calls each) per second of `--seconds`. */
  val RoundsPerSecond = 0.6
}
