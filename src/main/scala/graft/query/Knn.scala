package graft.query

import graft.functions.VectorFunctions._
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** kNN vector search + RAG result shaping + greedy context assembly.
  *
  * Reference surface:
  *  - `search_documents` / top-k (PDFToChromaIngester.py:225-235): embed the
  *    query, return k nearest by squared-L2 (Chroma default space).
  *  - `search_for_rag` (:250-287): optional metadata `where` filter applied
  *    BEFORE ranking, then row-shaped results.
  *  - `get_context_for_rag` (:289-314): greedy length-capped prefix over the
  *    top-10 hits joined with "\n---\n".
  *
  * Spark shape: filter → codegen'd distance column → `orderBy().limit(k)`,
  * which Catalyst plans as `TakeOrderedAndProject` — a true distributed
  * top-k (per-partition heaps + driver merge), no global sort. At 100 TB the
  * scan is the cost; the filter and the two needed columns push into
  * Parquet, and k rows cross the network per partition.
  *
  * The context is built from ONE collected top-k: the ≤ k pieces arrive on
  * the driver already in (distance, tie-breaker) order, and
  * [[greedyContext]] takes their greedy prefix there, counting code points.
  */
object Knn {

  /** Distance column for a literal query vector against `vecCol`. */
  def distance(vecCol: Column, queryVec: Array[Float], metric: String = "l2sq"): Column =
    metric match {
      case "l2sq" => l2Sq(vecCol, vecLit(queryVec))
      case "cosine" => -cosine(vecCol, vecLit(queryVec)) // smaller = closer
      case "dot" => -dot(vecCol, vecLit(queryVec))
      case m => throw new IllegalArgumentException(s"unknown metric $m")
    }

  /** Top-k nearest rows. `tieBreaker` makes result sets deterministic when
    * distances tie (Chroma leaves this unspecified; we don't).
    */
  def search(collection: DataFrame, vecCol: String, queryVec: Array[Float],
             k: Int = 5, metric: String = "l2sq",
             where: Option[Column] = None,
             tieBreaker: Option[Column] = None): DataFrame = {
    val filtered = where.fold(collection)(collection.filter)
    val scored = filtered.withColumn("distance", distance(col(vecCol), queryVec, metric))
    val ordering = col("distance") +: tieBreaker.toSeq
    scored.orderBy(ordering: _*).limit(k)
  }

  /** kNN for MANY queries at once (a kNN join): broadcast the query side,
    * rank per query with a window, keep k per query. This is the batch
    * shape that scales — one shuffle-free broadcast pass over the big side,
    * then a partial top-k per partition via AQE.
    */
  def searchMany(collection: DataFrame, vecCol: String,
                 queries: DataFrame, queryIdCol: String, queryVecCol: String,
                 k: Int, metric: String = "cosine"): DataFrame = {
    val scoreCol = metric match {
      case "l2sq" => l2Sq(collection(vecCol), queries(queryVecCol))
      case "cosine" => -cosine(collection(vecCol), queries(queryVecCol))
      case "dot" => -dot(collection(vecCol), queries(queryVecCol))
    }
    val joined = collection.crossJoin(broadcast(queries))
      .withColumn("distance", scoreCol)
    val w = Window.partitionBy(col(queryIdCol)).orderBy(col("distance"))
    joined.withColumn("rank", row_number().over(w)).filter(col("rank") <= k)
  }

  /** A greedy context: the joined text, how many pieces it kept and the
    * sum of their lengths in code points. */
  final case class Context(text: String, pieces: Int, chars: Long)

  /** Greedy length-capped context assembly (reference :289-314) over pieces
    * already in rank order, as collected from one top-k: keep pieces while
    * the running sum of their lengths stays <= maxLen, stop at the first
    * overflow (STRICT prefix — the reference `break`s, so a later shorter
    * piece is NOT admitted), join with "\n---\n". The separator is NOT
    * counted (the reference only sums `len(context_piece)`). Length is in
    * code points, as Spark's `length` and Python's `len` count, not UTF-16
    * units, so a non-BMP character counts once.
    */
  def greedyContext(pieces: Seq[String], maxLen: Int): Context = {
    val cum = pieces.scanLeft(0L)((acc, p) => acc + p.codePointCount(0, p.length)).tail
    val n = cum.indexWhere(_ > maxLen) match { case -1 => pieces.size; case i => i }
    Context(pieces.take(n).mkString("\n---\n"), n, if (n == 0) 0L else cum(n - 1))
  }
}
