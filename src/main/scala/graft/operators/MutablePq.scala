package graft.operators

import graft.store.VectorStore
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** IVF-PQ search over a LIVE mutable collection — the byte-budget
  * member of the [[MutableIndex]] tier: every row VERSION stores m bytes
  * of residual PQ code (+ cell, metadata, seq), candidates score from
  * codes through per-query ADC tables, and the bounded exact rerank
  * fetches CURRENT vectors from the collection's point-in-time live view
  * (the mutable layout is CODES-ONLY — the raw-vector column the
  * immutable PQ store carries for rerank lives in the collection here,
  * so the index is ~32× smaller than the vectors it serves). The frozen
  * artifact is the coarse router + codebooks.
  *
  * Every arithmetic step (deterministic coarse training, sequential
  * codebook k-means, residual encode, ADC, rounded ranks) is the
  * immutable chain's — SQL-reproducible — so the live search sits
  * under a FULL gate hash via the geometry-parameterized PQ oracle
  * restated over the mutated corpus. */
object MutablePq {

  private type Quantizer = (Array[(Int, Array[Float])], Similarity.PqCodebook)

  private val family = new MutableIndex.Family[Quantizer](
      "pq", "_pq_quantizer.properties", "quantizer", Seq("cell_id")) {
    /** every collection column except the raw vector, plus (cell_id,
      * pq_code) */
    def encode(rows: DataFrame, vecCol: String, q: Quantizer): DataFrame =
      rows
        .withColumn("_enc", Similarity.pqEncodeExpr(col(vecCol), q._1, q._2))
        .withColumn("cell_id", col("_enc._1"))
        .withColumn("pq_code", col("_enc._2"))
        .drop("_enc").drop(vecCol)
    protected def putFields(props: java.util.Properties, q: Quantizer): Unit = {
      val (cents, cb) = q
      props.setProperty("m", cb.m.toString)
      props.setProperty("dsub", cb.dsub.toString)
      props.setProperty("ksub", cb.ksub.toString)
      Similarity.putCells(props, cents)
      Similarity.putCodebookRows(props, cb)
    }
    protected def getFields(props: java.util.Properties): Quantizer = {
      val m = props.getProperty("m").toInt
      (Similarity.readCells(props), Similarity.PqCodebook(m,
        props.getProperty("dsub").toInt, props.getProperty("ksub").toInt,
        Similarity.readCodebookRows(props, m)))
    }
  }

  /** Train the quantizer on the collection's LIVE state and build the
    * cell-partitioned code layout; persist quantizer + watermark.
    * Returns (coarse centroids, codebook). */
  def attach(spark: SparkSession, store: VectorStore, collection: String,
             vecCol: String, index: String, ncells: Int = 16, m: Int = 8,
             ksub: Int = 256, trainIters: Int = 3, sampleCap: Int = 20000)
      : (Array[(Int, Array[Float])], Similarity.PqCodebook) =
    family.attach(spark, store, collection, vecCol, index) { (raw, idCol) =>
      Similarity.trainIvfPq(raw, vecCol, idCol, ncells, m, ksub, trainIters,
        sampleCap)
    }

  /** Index the rows written since the last refresh — O(delta), frozen
    * quantizer. Returns the new watermark. */
  def refresh(spark: SparkSession, store: VectorStore,
              collection: String, index: String): Long =
    family.refresh(spark, store, collection, index)

  /** Top-k over the live collection as of the index watermark: probe
    * `nprobe` cells with the frozen router ([[Similarity.ivfProbeCells]]),
    * ADC-score LIVE code versions (version resolution BEFORE the
    * shortlist cut), exact-rerank the rerank·k shortlist against the
    * watermark live view's vectors. Returns (idCol, score, rank) — the
    * immutable chain's rounded orderings. */
  def search(spark: SparkSession, store: VectorStore, collection: String,
             index: String, qv: Array[Float], k: Int, nprobe: Int = 4,
             rerank: Int = 4): DataFrame = {
    val s = family.snapshot(store, collection, index)
    val (cents, cb) = s.q
    val idCol = s.idCol
    val centById = cents.toMap
    val probed = Similarity.ivfProbeCells(cents, qv, nprobe)
    val tables: Map[Int, Array[Array[Double]]] = probed.map { cell =>
      cell -> Similarity.pqAdcTable(qv, centById(cell), cb)
    }.toMap
    val adc = udf((cell: Int, code: Array[Byte]) => {
      val tab = tables(cell)
      var acc = 0.0
      var j = 0
      while (j < code.length) { acc += tab(j)(code(j) & 0xFF); j += 1 }
      acc
    })
    val shortlist = s.live(spark, store.read(spark, index), Some(probed.toIndexedSeq))
      .withColumn("adc", round(adc(col("cell_id"), col("pq_code")), 6))
      .orderBy(col("adc"), col(idCol))
      .limit(rerank * k)
      .select(col(idCol))
    // exact rerank against the WATERMARK live view's vectors
    val qd = qv.map(_.toDouble)
    val exactD = udf((v: Seq[Float]) => {
      var acc = 0.0
      var i = 0
      val n = math.min(qd.length, v.length)
      while (i < n) { val d = qd(i) - v(i); acc += d * d; i += 1 }
      acc
    })
    val wExact = org.apache.spark.sql.expressions.Window
      .orderBy(col("score"), col(idCol))
    s.liveVectors(spark)
      .join(broadcast(shortlist), Seq(idCol))
      .withColumn("score", round(exactD(col(s.vecCol)), 6))
      .orderBy(col("score"), col(idCol))
      .limit(k)
      .withColumn("rank", row_number().over(wExact).cast("long"))
      .select(col(idCol), col("score"), col("rank"))
  }
}
