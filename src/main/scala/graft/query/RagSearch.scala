package graft.query

import graft.embed.Embedder
import graft.model.{SearchHit, SearchResult}
import graft.store.VectorStore
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The reference's `search_for_rag` surface (PDFToChromaIngester.py:250-287
  * + RagWorkflow.py:30-73): guard blank queries, filter-then-rank, pivot to
  * typed row results, defensive empty payloads.
  *
  * In Spark the "columnar -> row pivot" (:265-275) is a no-op — the scored
  * DataFrame IS rows — so this layer is only the typed boundary + the
  * guard/error contract.
  */
object RagSearch {

  /** The reference's empty-query guard (RagWorkflow.py:30-32). */
  private def blank(query: String): Boolean = query == null || query.trim.isEmpty

  /** Search a collection whose rows carry (id, content, embedding [+
    * metadata map]) for `query`, embedding it with `embed`.
    *
    * Empty/blank query -> empty SearchResult (no job runs), mirroring
    * RagWorkflow.py:30-32. Failures -> empty result with error set,
    * mirroring the defensive except at :285-287.
    */
  def searchForRag(collection: DataFrame,
                   query: String,
                   embed: String => Array[Float],
                   nResults: Int = 5,
                   whereJson: Option[String] = None,
                   contentCol: String = "chunk",
                   idCol: String = "id",
                   vecCol: String = "embedding",
                   metadataCols: Seq[String] = Seq("chunk_id", "doc_id"),
                   whereDocumentJson: Option[String] = None): SearchResult = {
    if (blank(query)) return SearchResult(query, Seq.empty, 0, Some("Query text is required"))
    try {
      // where + where_document compose as a conjunction, both evaluated
      // BEFORE ranking (Chroma's query(where=..., where_document=...))
      val where = (whereJson.map(WhereDsl.parse) ++
        whereDocumentJson.map(WhereDsl.parseDocument(_, col(contentCol))))
        .reduceOption(_ && _)
      val hits = Knn.search(collection, vecCol, embed(query), nResults,
          where = where, tieBreaker = Some(col(idCol)))
        .select(col(contentCol).as("content"),
          map(metadataCols.flatMap(c => Seq(lit(c), col(c).cast("string"))): _*).as("metadata"),
          col("distance"),
          col(idCol).cast("string").as("id"))
      import collection.sparkSession.implicits._
      val rows = hits.as[SearchHit].collect().toSeq
      SearchResult(query, rows, rows.size)
    } catch {
      case e: Exception => SearchResult(query, Seq.empty, 0, Some(e.getMessage))
    }
  }

  /** Search an embedder-BOUND collection by name — the Chroma-parity
    * surface (create_collection binds the embedding function,
    * /root/reference/src/PDFToChromaIngester.py:51-54, and every later
    * query goes through it): the manifest persisted by
    * [[graft.store.VectorStore.create]] either VERIFIES a caller-supplied
    * embedder (a mismatched one throws — never silently garbage
    * distances) or RESOLVES the query-side embedder so the caller needs
    * only the store.
    *
    * The verify/resolve happens BEFORE the defensive try of
    * [[searchForRag]]: a wrong-embedder call is a caller bug and must
    * surface as an exception, not an empty result with an error string.
    */
  def searchBound(spark: SparkSession,
                  store: VectorStore,
                  name: String,
                  query: String,
                  embedder: Option[Embedder] = None,
                  nResults: Int = 5,
                  whereJson: Option[String] = None,
                  contentCol: String = "chunk",
                  idCol: String = "id",
                  vecCol: String = "embedding",
                  metadataCols: Seq[String] = Seq("chunk_id", "doc_id"),
                  whereDocumentJson: Option[String] = None): SearchResult = {
    val m = store.manifest(name).getOrElse(throw new IllegalArgumentException(
      s"collection '$name' has no embedder manifest — create() it with one " +
        "to enable bound search"))
    val emb = embedder match {
      case Some(e) => m.verifyQuery(e); e
      case None    => m.resolveQueryEmbedder
    }
    // readCurrent, not read: on a MUTABLE collection the raw files still
    // carry dead row versions — searching them would return stale chunks
    searchForRag(store.readCurrent(spark, name), query, emb.encodeOne, nResults,
      whereJson, contentCol, idCol, vecCol, metadataCols, whereDocumentJson)
  }

  /** `get_context_for_rag` (:289-314): top-10 search then greedy prefix.
    *
    * One Spark job: the formatted pieces of the top-10 (ordered by distance,
    * then id) are collected once and [[Knn.greedyContext]] keeps the greedy
    * prefix on the driver, counting length in code points. A null or blank
    * query returns "" and runs no job, as the reference's context call goes
    * through `search_for_rag`'s guard (RagWorkflow.py:30-32).
    */
  def contextForRag(collection: DataFrame,
                    query: String,
                    embed: String => Array[Float],
                    maxContextLength: Int = 4000,
                    contentCol: String = "chunk",
                    idCol: String = "id",
                    vecCol: String = "embedding",
                    sourceCol: String = "source",
                    chunkIdCol: String = "chunk_id"): String = {
    if (blank(query)) return ""
    val piece = format_string("[Source: %s, Chunk: %s]\n%s\n",
      coalesce(col(sourceCol).cast("string"), lit("Unknown")),
      coalesce(col(chunkIdCol).cast("string"), lit("Unknown")),
      col(contentCol))
    val pieces = Knn.search(collection, vecCol, embed(query), k = 10,
        tieBreaker = Some(col(idCol)))
      .select(piece).collect().map(_.getString(0))
    Knn.greedyContext(pieces.toSeq, maxContextLength).text
  }
}
