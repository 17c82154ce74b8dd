package graft.operators

import graft.store.VectorStore
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** COMPRESSED ANN over a LIVE mutable collection — the int8-SQ member
  * of the [[MutableIndex]] tier: the [[MutableIvf]] cell layout with
  * CODES instead of vectors (1 byte/dim — at 100 TB the live index is
  * ~4× smaller than the mutable-IVF one and the probe scan reads code
  * bytes, never floats).
  *
  * The frozen artifact is the router (centroids) AND the scalar
  * quantizer (per-dim min/max), persisted in one sidecar — refresh
  * encodes arrivals with the frozen ranges (pure arithmetic, codes may
  * leave [0,255] when drift pushes a dim outside its fitted range —
  * deterministic, same trade as [[Similarity.insertIntoStoredSq]]).
  *
  * Search semantics: candidates score by the fused dequantize+l2 ADC
  * kernel ([[graft.functions.VectorFunctions.sqAdc]]) — the int8
  * approximation of the mutable-IVF exact distance; the where-DSL
  * filter tests CURRENT metadata versions exactly as the IVF variant
  * (the index carries every collection column except the raw vector).
  * Everything is SQL-reproducible (deterministic Lloyd, comparisons,
  * fixed-point encode), so the gate checks the live search by FULL
  * hash — the property the SQ family was chosen for. */
object MutableSq {

  private type Quantizer = (Array[Array[Float]], Array[Double], Array[Double])

  /** Sidecar keys `dim`, `min.$i`, `max.$i` — NOT the stored tier's
    * `mins`/`maxs` (both formats stay readable as written). */
  private val family = new MutableIndex.Family[Quantizer](
      "sq", "_sq_quantizer.properties", "quantizer", Seq("cell_id")) {
    /** every collection column except the raw vector, plus (cell_id,
      * sq_code) */
    def encode(rows: DataFrame, vecCol: String, q: Quantizer): DataFrame = {
      import graft.functions.VectorFunctions.sqEncode
      val (cents, mins, maxs) = q
      rows
        .withColumn("cell_id",
          Clustering.assignStruct(col(vecCol), cents).getField("cid"))
        .withColumn("sq_code", sqEncode(col(vecCol), mins, maxs))
        .drop(vecCol)
    }
    protected def putFields(props: java.util.Properties, q: Quantizer): Unit = {
      val (cents, mins, maxs) = q
      props.setProperty("dim", mins.length.toString)
      Similarity.putCells(props, cents.zipWithIndex.map(_.swap))
      mins.indices.foreach { i =>
        props.setProperty(s"min.$i", mins(i).toString)
        props.setProperty(s"max.$i", maxs(i).toString)
      }
    }
    protected def getFields(props: java.util.Properties): Quantizer = {
      val dim = props.getProperty("dim").toInt
      (Similarity.readCells(props).map(_._2),
        Array.tabulate(dim)(i => props.getProperty(s"min.$i").toDouble),
        Array.tabulate(dim)(i => props.getProperty(s"max.$i").toDouble))
    }
  }

  /** Build the SQ index over the collection's CURRENT rows (all
    * versions — dead ones filter at read): train the deterministic
    * Lloyd router and fit per-dim min/max on the collection content,
    * write the cell-partitioned code layout, persist the frozen
    * quantizer, record the indexed watermark. */
  def attach(spark: SparkSession, store: VectorStore, collection: String,
             vecCol: String, index: String, ncells: Int = 8,
             iters: Int = 2): (Array[Array[Float]], Array[Double], Array[Double]) =
    family.attach(spark, store, collection, vecCol, index) { (raw, idCol) =>
      val cents = Clustering.trainCentroids(raw, ncells, iters, idCol, vecCol)
      val (mins, maxs) = Similarity.sqMinMax(raw, vecCol)
      (cents, mins, maxs)
    }

  /** Index the rows written since the last refresh — O(delta), frozen
    * quantizer. Returns the new watermark. */
  def refresh(spark: SparkSession, store: VectorStore,
              collection: String, index: String): Long =
    family.refresh(spark, store, collection, index)

  /** Top-k over the live collection as of the index watermark:
    * partition-pruned probe (same floor-rounded lowest-cid probe rule
    * as every SQ search), version resolution with the optional
    * where-DSL over current metadata, fused ADC distance. Returns
    * (idCol, cell_id, dist) with the repo's 6-decimal floor rounding. */
  def search(spark: SparkSession, store: VectorStore, collection: String,
             index: String, qv: Array[Double], k: Int, nprobe: Int,
             where: Option[String] = None): DataFrame = {
    import graft.functions.VectorFunctions.sqAdc
    val s = family.snapshot(store, collection, index)
    val (cents, mins, maxs) = s.q
    val scales = Array.tabulate(mins.length)(i => (maxs(i) - mins(i)) / 255)
    val probed = Similarity.sqProbeCells(cents, qv, nprobe)
    s.live(spark, store.read(spark, index), Some(probed.toIndexedSeq), where)
      // rank on the ROUNDED distance — the SQ-family discipline
      // (sqSearchStored does the same): the floor-rounded micro-units
      // are what the gate oracle reproduces, so the top-k cut must
      // happen on them, not on a raw-double knife edge
      .withColumn("dist", floor(sqAdc(col("sq_code"), mins, scales, qv)
        * 1e6 + 0.5) / 1e6)
      .orderBy(col("dist"), col(s.idCol))
      .limit(k)
      .select(col(s.idCol), col("cell_id").cast("int").as("cell_id"), col("dist"))
  }
}
