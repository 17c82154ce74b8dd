package graft.operators

import graft.store.VectorStore
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** ANN search over a LIVE mutable collection — the exact member of the
  * [[MutableIndex]] tier: a cell-partitioned IVF index of every row
  * VERSION (id, vec, seq, cell_id, metadata) that stays consistent with
  * a [[graft.store.MutableCollection]] under upsert/update/delete
  * WITHOUT index rewrites. Search = partition-pruned probe of nprobe
  * cells, the tier's version resolution, then exact top-k.
  *
  * The ROUTER (centroids) is frozen at [[attach]] and persisted next to
  * the index, so refresh assigns arrivals deterministically; quantizer
  * drift is handled the same way as the immutable tier — a periodic
  * re-[[attach]]. */
object MutableIvf {

  private val family = new MutableIndex.Family[Array[(Int, Array[Float])]](
      "ivf", "_router.properties", "router", Seq("cell_id")) {
    def encode(rows: DataFrame, vecCol: String,
               cents: Array[(Int, Array[Float])]): DataFrame =
      Similarity.withCellId(rows, vecCol, cents)
    protected def putFields(props: java.util.Properties,
                            cents: Array[(Int, Array[Float])]): Unit =
      Similarity.putCells(props, cents)
    protected def getFields(props: java.util.Properties) =
      Similarity.readCells(props)
  }

  /** Build the IVF index over the collection's CURRENT rows (all
    * versions — dead ones are filtered at read; run
    * [[graft.store.MutableCollection.compact]] first after heavy churn
    * for a lean index). Trains the router on the collection content,
    * persists it with the index, and records the indexed watermark. */
  def attach(spark: SparkSession, store: VectorStore, collection: String,
             vecCol: String, index: String, ncells: Int = 16,
             trainIters: Int = 3): Array[(Int, Array[Float])] =
    family.attach(spark, store, collection, vecCol, index) { (raw, idCol) =>
      Similarity.trainCentroidArrays(raw, vecCol, idCol, ncells, trainIters)
    }

  /** Index the rows written since the last refresh — O(delta). Returns
    * the new watermark. */
  def refresh(spark: SparkSession, store: VectorStore,
              collection: String, index: String): Long =
    family.refresh(spark, store, collection, index)

  /** Top-k over the live collection as of the index watermark:
    * partition-pruned probe ([[Similarity.ivfProbeCells]]), version
    * resolution, exact distance. Returns (idCol, cell_id, dist) with the
    * repo's 6-decimal floor rounding (selection happens on the
    * unrounded double).
    *
    * `where` is the Chroma `query(where={...})` filter — a where-DSL
    * predicate over the collection's metadata columns (the index
    * carries EVERY collection column, so filtered search needs no join
    * back). It applies AFTER version resolution, so it tests the
    * CURRENT values — an id whose latest version stopped matching is
    * excluded even though a stale indexed version would have matched —
    * and BEFORE top-k, so the k results all match (filtered-ANN
    * semantics, not post-filtered). */
  def search(spark: SparkSession, store: VectorStore, collection: String,
             index: String, qv: Array[Float], k: Int, nprobe: Int,
             where: Option[String] = None): DataFrame = {
    import graft.functions.VectorFunctions.{l2Sq, vecLit}
    val s = family.snapshot(store, collection, index)
    val probed = Similarity.ivfProbeCells(s.q, qv, nprobe)
    s.live(spark, store.read(spark, index), Some(probed.toIndexedSeq), where)
      .withColumn("_d", l2Sq(col(s.vecCol), vecLit(qv)))
      .orderBy(col("_d"), col(s.idCol))
      .limit(k)
      .select(col(s.idCol), col("cell_id"),
        (floor(col("_d") * 1e6 + 0.5) / 1e6).as("dist"))
  }
}
