package graftbench

import graft.embed.{Embedders, TransformerEmbedder}
import graft.ingest.{IngestPipeline, PdfText}
import graft.operators.{Dedup, Similarity}
import graft.store.CollectionManifest
import java.nio.file.Files
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import scala.collection.mutable

/** The nightly PDF loop: each batch of PDFs is extracted, checked for
  * near-duplicates against the stored signature index, chunked (600/50),
  * embedded with the transformer, appended to the collection, inserted
  * into its stored IVF index, and its survivors' signatures appended to
  * the signature index. One batch is one call; an item is a chunk
  * committed and indexed. */
final class IngestPdf(ctx: Ctx) extends Workload {
  import IngestPdf._
  private val spark = ctx.spark
  private val store = ctx.store

  final case class Doc(id: String, words: String, dupOf: Option[String])
  private val docs = mutable.LinkedHashMap.empty[String, Doc]
  private var standing: Seq[String] = Nil
  private var warm: Seq[String] = Nil
  private var batches: Seq[String] = Nil

  // what the program returned, kept for the checks
  private val extracted = mutable.HashMap.empty[String, String]
  private val dropped = mutable.HashSet.empty[String]
  private var timedChunks = 0L
  private var timedDropped = 0L

  private val embedder = TransformerEmbedder()
  private val manifest = CollectionManifest.single(embedder)
  private val passageEmbedder =
    if (ctx.trace) TimedEmbedder(embedder, "embed.passage") else embedder
  private var cents: Array[(Int, Array[Float])] = Array.empty

  private val extractUdf = udf { (bytes: Array[Byte]) =>
    if (!Trace.enabled) PdfText.extract(bytes)
    else {
      val t0 = System.nanoTime()
      val s = PdfText.extract(bytes)
      Trace.add("ingest.extract_busy", System.nanoTime() - t0)
      Trace.add("ingest.pdf_bytes", bytes.length.toLong)
      s
    }
  }

  private val nBatches = math.max(2, math.round(ctx.seconds * BatchesPerSecond).toInt)

  /** Generate every input up front: a standing corpus, then warm-up and
    * timed batches. Each batch holds fresh documents plus one planted
    * near-duplicate of an earlier survivor. */
  private def generate(): Unit = {
    val rng = ctx.rng("ingest_pdf")
    val survivors = mutable.ArrayBuffer.empty[Doc]
    def batch(dir: String, fresh: Int, planted: Boolean): String = {
      val path = ctx.work.resolve("pdf").resolve(dir)
      Files.createDirectories(path)
      val made = (0 until fresh).map { i =>
        val words = Corpus.textOfLength(rng, rng.nextInt(Corpus.Topics.length), CharsPerDoc)
        Doc(s"${dir}_d$i.pdf", words, None)
      }
      val dup = if (!planted) None else {
        val src = survivors(rng.nextInt(survivors.size))
        Some(Doc(s"${dir}_dup.pdf", Corpus.perturb(rng, src.words, 1), Some(src.id)))
      }
      (made ++ dup).foreach { d =>
        docs(d.id) = d
        val pages = Corpus.wrap(d.words).grouped(LinesPerPage).toSeq
        Files.write(path.resolve(d.id), Corpus.pdf(pages))
      }
      survivors ++= made
      dir
    }
    standing = Seq(batch("standing", StandingDocs, planted = false))
    warm = (0 until WarmBatches).map(b => batch(f"warm$b%03d", FreshPerBatch, planted = true))
    batches = (0 until nBatches).map(b => batch(f"timed$b%03d", FreshPerBatch, planted = true))
  }

  private def readBatch(dir: String): Seq[(String, String, String)] = {
    val rows = IngestPipeline.readBinaryDir(spark, ctx.work.resolve("pdf").resolve(dir).toString)
      .select(col("path"), extractUdf(col("content")).as("text")).collect()
    rows.map { r =>
      val file = r.getString(0).split('/').last
      (file, s"$dir/$file", r.getString(1))
    }.toSeq.sortBy(_._1)
  }

  private def docsFrame(rows: Seq[(String, String, String)]): DataFrame =
    spark.createDataFrame(rows).toDF("doc_id", "source", "text")

  private def chunkAndEmbed(docsDf: DataFrame): DataFrame = {
    val chunks = Trace.span("text.chunk") {
      IngestPipeline.chunk(docsDf, "text", "doc_id", 600, 50)
        .withColumn("id", col("chunk_id")).localCheckpoint(true)
    }
    Trace.span("embed.forward") {
      Embedders.embed(chunks, "chunk", "embedding", passageEmbedder)
        .select(Cols.map(col): _*).localCheckpoint(true)
    }
  }

  def setup(): Unit = {
    generate()
    val rows = readBatch(standing.head)
    rows.foreach { case (id, _, text) => extracted(id) = text }
    val docsDf = docsFrame(rows)
    val embedded = chunkAndEmbed(docsDf)
    store.create("chunks", embedded, manifest = Some(manifest))
    cents = Similarity.buildIvfIndex(store, "chunks_ivf", store.read(spark, "chunks"),
      "embedding", "id", ncells = IvfCells)
    Dedup.buildSignatureIndex(store, "sig", docsDf, "text", "doc_id")
  }

  /** One batch through every step; returns (chunks committed, dropped). */
  private def ingest(dir: String): (Long, Int) = {
    val rows = Trace.span("ingest.extract")(readBatch(dir))
    rows.foreach { case (id, _, text) => extracted(id) = text }
    val docsDf = docsFrame(rows)
    val dups = Trace.span("operators.dedup_check") {
      Dedup.minhashLshIncrementalIndexed(docsDf, store.read(spark, "sig_bands"),
        store.read(spark, "sig_shingles"), "text", "doc_id", threshold = 0.8)
        .select("new_id").distinct().collect().map(_.getString(0)).toSet
    }
    dropped ++= dups
    val survivors = docsFrame(rows.filterNot(r => dups.contains(r._1)))
    val embedded = chunkAndEmbed(survivors)
    val n = embedded.count()
    Trace.span("store.append")(store.append("chunks", embedded, manifest = Some(manifest)))
    Trace.span("operators.ivf_insert") {
      Similarity.insertIntoStoredIvf(store, "chunks_ivf", embedded, "embedding", "id", cents)
    }
    Trace.span("operators.signature_append") {
      Dedup.appendToSignatureIndex(store, "sig", survivors, "text", "doc_id")
    }
    (n, dups.size)
  }

  def warmup(): Unit = warm.foreach(dir => ctx.call("batch")(ingest(dir)))

  private var filesBefore = 0
  def timed(): Unit = {
    filesBefore = Main.partFiles(new java.io.File(ctx.storeRoot)).size
    batches.foreach { dir =>
      ctx.call("batch")(ingest(dir)).foreach { case (n, d) =>
        timedChunks += n; timedDropped += d
      }
    }
  }

  def items: Long = timedChunks

  def layers(l: JobListener): Map[String, Double] = {
    val files = Main.partFiles(new java.io.File(ctx.storeRoot)).size - filesBefore
    val calls = ctx.calls
    val written = calls.flatMap(c => l.jobsIn(c.startMs, c.endMs)).map(_.outputBytes.sum).sum
    Map(
      "ingest.extract_s" -> Trace.totalSeconds("ingest.extract_busy"),
      "ingest.pdf_mb" -> Trace.total("ingest.pdf_bytes") / 1e6,
      "text.chunk_s" -> Trace.totalSeconds("text.chunk"),
      "text.chunks" -> timedChunks.toDouble,
      "embed.forward_s" -> Trace.totalSeconds("embed.passage"),
      "embed.cpu_s" -> Trace.totalSeconds("embed.passage.cpu"),
      "operators.dedup_check_s" -> Trace.totalSeconds("operators.dedup_check"),
      "operators.signature_append_s" -> Trace.totalSeconds("operators.signature_append"),
      "operators.dedup_dropped" -> timedDropped.toDouble,
      "operators.ivf_insert_s" -> Trace.totalSeconds("operators.ivf_insert"),
      "store.append_s" -> Trace.totalSeconds("store.append"),
      "store.files_written" -> files.toDouble,
      "store.mb_written" -> written / 1e6)
  }

  def verify(): Unit = {
    // text: word for word against what each PDF was written with
    docs.values.foreach { d =>
      val got = extracted.get(d.id)
      ctx.check(got.isDefined, s"${d.id}: never extracted")
      got.foreach(t => ctx.check(d.id, Checks.words(t, d.words)))
    }
    // duplicates: exactly the planted ones, each far above the threshold
    val planted = docs.values.filter(_.dupOf.isDefined).map(_.id).toSet
    ctx.check("near-duplicates", Checks.dropped(dropped.toSet, planted))
    docs.values.flatMap(d => d.dupOf.map(d -> _)).foreach { case (d, src) =>
      val j = Oracle.jaccard(Oracle.shingles(extracted.getOrElse(d.id, "")),
        Oracle.shingles(extracted.getOrElse(src, "")))
      ctx.check(j >= 0.95, f"${d.id}: planted duplicate has Jaccard $j%.3f < 0.95")
    }
    // chunks: the reference chunker over each survivor's extracted text
    val stored = store.read(spark, "chunks")
      .select("doc_id", "chunk_index", "total_chunks", "chunk", "id", "embedding")
      .collect()
    val byDoc = stored.groupBy(_.getString(0))
    val survivors = docs.keySet.toSet -- dropped
    ctx.check(byDoc.keySet == survivors,
      s"collection holds docs ${(byDoc.keySet -- survivors).take(3)}, misses ${(survivors -- byDoc.keySet).take(3)}")
    var expectTotal = 0L
    survivors.foreach { id =>
      val text = extracted.getOrElse(id, "")
      val got = byDoc.getOrElse(id, Array.empty).sortBy(_.getInt(1))
      expectTotal += Oracle.chunkText(text).size
      ctx.check(id, Checks.chunks(got.map(_.getString(3)).toSeq, text))
      ctx.check(got.map(_.getInt(1)).toSeq == got.indices && got.forall(_.getInt(2) == got.length),
        s"$id: chunk_index / total_chunks do not number the chunks")
    }
    // vectors: sampled rows equal a fresh encode of their own chunk
    val rng = new scala.util.Random(ctx.seed)
    val fresh = TransformerEmbedder()
    val sample = Seq.fill(math.min(VectorSamples, stored.length))(stored(rng.nextInt(stored.length)))
    ctx.check("vectors", Checks.vectors(
      sample.map(r => (r.getString(3), r.getSeq[Float](5).toArray)), fresh.encodeOne))
    // index: rows agree, and each IVF row sits in its nearest centroid's cell
    val ivf = store.read(spark, "chunks_ivf").select("id", "cell_id", "embedding").collect()
    val router = Similarity.readStoredRouter(store, "chunks_ivf").getOrElse(Array.empty).toSeq
    ctx.check(stored.length == expectTotal && ivf.length == expectTotal,
      s"collection ${stored.length} rows, ivf ${ivf.length}, reference chunker $expectTotal")
    ctx.check(ivf.map(_.getString(0)).toSet == stored.map(_.getString(4)).toSet,
      "IVF ids differ from collection ids")
    ivf.foreach { r =>
      val cell = Oracle.nearestCell(r.getSeq[Float](2).toArray, router)
      ctx.check(r.getInt(1) == cell, s"${r.getString(0)} in cell ${r.getInt(1)}, nearest is $cell")
    }
  }
}

object IngestPdf {
  val Cols = Seq("id", "chunk_id", "doc_id", "source", "chunk_index", "total_chunks",
    "chunk", "embedding")
  val CharsPerDoc = 2900
  val StandingDocs = 6
  val WarmBatches = 2
  val FreshPerBatch = 5
  val LinesPerPage = 15
  val IvfCells = 8
  val VectorSamples = 40
  /** Timed batches per second of `--seconds` on the reference box, so a
    * run's timed phase lasts about that long while its work stays fixed. */
  val BatchesPerSecond = 0.3
}
