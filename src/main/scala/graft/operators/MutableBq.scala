package graft.operators

import graft.store.VectorStore
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** BINARY-QUANTIZED search over a LIVE mutable collection — the
  * cheapest member of the [[MutableIndex]] tier: every row VERSION
  * stores dim/8 bytes of sign signatures (+ the collection's metadata
  * and seq).
  *
  * BQ is the simplest member of the matrix because its quantizer is
  * TRAIN-FREE (sign bits at zero): attach persists no learned artifact
  * (only the signature dim), refresh cannot drift, and there is no
  * router — the pre-rank is a map-only Hamming scan of the live
  * signatures into a TakeOrdered (16 bytes/version at 100 TB), not a
  * partition-pruned probe. The exact-cosine rerank fetches the
  * rerank·k shortlist's CURRENT vectors from the collection's live view
  * by id (broadcast semi-join — the bounded
  * [[Similarity.bqSearchStored]] shape over the mutable tier).
  *
  * Everything is deterministic (sign tests, integer XOR/popcount,
  * (hamming, id) / (cosine desc, id) orders), so the live search sits
  * under a FULL gate hash like its immutable siblings. */
object MutableBq {

  private val family = new MutableIndex.Family[Int](
      "bq", "_bq_meta.properties", "meta", Nil) {
    /** every collection column except the raw vector, plus (bq_lo,
      * bq_hi), in ONE map-only select */
    def encode(rows: DataFrame, vecCol: String, dim: Int): DataFrame = {
      val (lo, hi) = Similarity.bqEncodeExprs(col(vecCol), dim)
      rows.withColumn("bq_lo", lo).withColumn("bq_hi", hi).drop(vecCol)
    }
    protected def putFields(props: java.util.Properties, dim: Int): Unit =
      props.setProperty("dim", dim.toString)
    protected def getFields(props: java.util.Properties): Int =
      props.getProperty("dim").toInt
  }

  /** Build the signature index over the collection's current rows (all
    * versions) and record the indexed watermark. */
  def attach(spark: SparkSession, store: VectorStore, collection: String,
             vecCol: String, index: String, dim: Int = 64): Unit =
    family.attach(spark, store, collection, vecCol, index)((_, _) => dim)

  /** Index the rows written since the last refresh — O(delta). */
  def refresh(spark: SparkSession, store: VectorStore,
              collection: String, index: String): Long =
    family.refresh(spark, store, collection, index)

  /** Top-k over the live collection as of the index watermark: Hamming
    * pre-rank over live signature versions (version resolution + where
    * BEFORE the shortlist cut, so the rerank·k candidates are all live),
    * exact-cosine rerank against the collection's live vectors. Returns
    * (idCol, hamming, cosine). */
  def search(spark: SparkSession, store: VectorStore, collection: String,
             index: String, qv: Array[Float], k: Int, rerank: Int = 4,
             where: Option[String] = None): DataFrame = {
    import graft.functions.VectorFunctions.{cosine, vecLit}
    val s = family.snapshot(store, collection, index)
    val (qlo, qhi) = Similarity.bqPackLocal(qv, s.q)
    val shortlist = s.live(spark, store.read(spark, index), where = where)
      .select(col(s.idCol),
        (bit_count(col("bq_lo").bitwiseXOR(lit(qlo))) +
          bit_count(col("bq_hi").bitwiseXOR(lit(qhi))))
          .cast("int").as("hamming"))
      .orderBy(col("hamming"), col(s.idCol))
      .limit(k * rerank)
    s.liveVectors(spark)
      .join(broadcast(shortlist), Seq(s.idCol))
      .withColumn("cosine", round(cosine(col(s.vecCol), vecLit(qv)), 6))
      .orderBy(col("cosine").desc, col(s.idCol))
      .limit(k)
      .select(col(s.idCol), col("hamming"), col("cosine"))
  }
}
