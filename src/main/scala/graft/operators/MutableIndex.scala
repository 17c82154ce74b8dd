package graft.operators

import graft.store.{MutableCollection, StoreFs, VectorStore}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** ONE lifecycle for the live-mutable index tier — the Chroma semantic
  * (`collection.add/upsert/delete` + `collection.query`) at the storage
  * layer. Every family — [[MutableIvf]] (exact vectors), [[MutableSq]]
  * (int8 codes), [[MutablePq]] (residual PQ codes), [[MutableBq]] (sign
  * signatures), [[MutableGraph]] (NSW walk) — runs the rules below and
  * keeps only its own encode, score and sidecar fields (a [[Family]]):
  *
  *  - '''merge-on-read''': the index stores every row VERSION, and the
  *    collection's tombstone filter — keep versions whose seq is at or
  *    above the id's max tombstone seq — resolves versions to exactly
  *    the live one (every upsert writes a tombstone that kills its
  *    predecessors; a delete kills them all). Search resolves through
  *    that SAME filter ([[MutableCollection.applyTombstoneFilter]] —
  *    shared code, not a copy) in [[Snapshot.live]], so deletes need no
  *    index maintenance ever;
  *  - '''O(delta) refresh''': upserts reach the index through a scan
  *    carrying a pushed-down seq range predicate; each write batch's
  *    files hold a constant seq, so parquet min/max prunes every
  *    already-indexed file;
  *  - '''point-in-time at the watermark''': search answers exactly over
  *    the collection state as of the last refresh — both the candidate
  *    versions and the tombstones are bounded at the watermark, never a
  *    torn mixture of old vectors and new deletes. Attach captures the
  *    watermark BEFORE reading, so rows landing mid-build are re-indexed
  *    by the next refresh;
  *  - '''crash model''': refresh writes THEN advances the watermark. A
  *    crash in between leaves rows above the watermark — invisible to
  *    search (seq bound) — and the re-run writes them again; the
  *    resulting exact duplicates collapse in the per-id dedup on the
  *    bounded post-filter candidate set (live resolution leaves one
  *    version per id, so the dedup only ever removes crash duplicates);
  *  - '''frozen artifacts''': the router / quantizer freezes at attach
  *    and persists beside the index in one sidecar (the
  *    [[Similarity.putCells]] codec round-trips exactly), so refresh
  *    encodes arrivals deterministically; drift heals by re-attach. */
private[operators] object MutableIndex {

  /** Every family records its indexed watermark under this one name, so
    * [[MutableVacuum]] and the catalog can serve all of them. */
  val WatermarkFile = "_indexed.properties"

  def readWatermark(store: VectorStore, index: String): Long =
    StoreFs.forPath(store.root)
      .readProps(s"${store.root}/$index/$WatermarkFile")
      .fold(0L)(_.getProperty("seq", "0").toLong)

  /** Besides the indexed seq, the sidecar records WHICH collection the
    * index serves — the binding that lets
    * [[graft.store.VectorStore.indexCatalog]] surface per-index garbage
    * columns without being handed an explicit index list. */
  def writeWatermark(store: VectorStore, index: String, seq: Long,
                     collection: String, family: String): Unit = {
    val props = new java.util.Properties()
    props.setProperty("seq", seq.toString)
    props.setProperty("collection", collection)
    StoreFs.forPath(store.root).writePropsAtomic(
      s"${store.root}/$index/$WatermarkFile", props,
      s"graft mutable-$family indexed watermark")
  }

  /** A search's point-in-time view: the collection, the frozen
    * artifact `q`, its sidecar columns, and the watermark `w`. */
  final case class Snapshot[Q](mc: MutableCollection, q: Q, vecCol: String,
                               idCol: String, w: Long) {

    /** THE version-resolution rule: probe filter on `cell_id` (a
      * PartitionFilter on the cell-partitioned layouts), the `seq <= w`
      * point-in-time bound, the collection's tombstone filter as of `w`,
      * the optional where-DSL over the CURRENT metadata (the same
      * current-versions rule as `deleteWhere`/`getWhere`), then the
      * crash-duplicate dedup. */
    def live(spark: SparkSession, rows: DataFrame,
             probed: Option[Seq[Int]] = None,
             where: Option[String] = None): DataFrame = {
      val inCells = probed.fold(rows)(cells =>
        rows.filter(col("cell_id").isin(cells.map(Int.box): _*)))
      val resolved = mc.applyTombstoneFilter(spark,
        inCells.filter(col(MutableCollection.SeqCol) <= w), asOf = Some(w))
      where.fold(resolved)(j => resolved.filter(graft.query.WhereDsl.parse(j)))
        .dropDuplicates(idCol)
    }

    /** The watermark live view's (id, vector) — the rerank fetch of the
      * codes-only families: a mutation landing between refresh and
      * search must not tear the snapshot. */
    def liveVectors(spark: SparkSession): DataFrame =
      mc.readLiveAt(spark, w).select(col(idCol), col(vecCol))
  }

  /** One family's own part of the lifecycle. `Q` is its frozen
    * attach-time artifact, persisted in `sidecarFile` beside `vecCol` and
    * `idCol`; [[encode]] turns collection rows into index rows under it
    * (one seam for attach and refresh, so build and delta can never
    * disagree); `partitionBy` is the layout (cell-partitioned or flat). */
  abstract class Family[Q](val name: String, sidecarFile: String,
                           artifact: String, partitionBy: Seq[String]) {

    def encode(rows: DataFrame, vecCol: String, q: Q): DataFrame
    protected def putFields(props: java.util.Properties, q: Q): Unit
    protected def getFields(props: java.util.Properties): Q

    /** The rows attach indexes: every version of the collection. */
    protected def attachRows(spark: SparkSession, store: VectorStore,
                             mc: MutableCollection, vecCol: String): DataFrame =
      store.read(spark, mc.name)

    /** Cell layouts cluster rows by cell so each cell lands in few files. */
    protected def layout(rows: DataFrame): DataFrame =
      if (partitionBy.isEmpty) rows else Similarity.clusterByCell(rows)

    /** Refresh's write: append the delta versions. */
    protected def writeDelta(spark: SparkSession, store: VectorStore,
                             mc: MutableCollection, index: String,
                             delta: DataFrame, vecCol: String, q: Q,
                             to: Long): Unit =
      store.append(index, layout(encode(delta, vecCol, q)), partitionBy)

    /** Build the index over the collection, fitting the frozen artifact
      * with `fit(rows, idCol)`; persist sidecar, then watermark. */
    final def attach(spark: SparkSession, store: VectorStore,
                     collection: String, vecCol: String, index: String)(
        fit: (DataFrame, String) => Q): Q = {
      val mc = store.mutable(collection)
      val watermark = mc.currentSeq // BEFORE reading — see the object doc
      val rows = attachRows(spark, store, mc, vecCol)
      val q = fit(rows, mc.idCol)
      store.create(index, layout(encode(rows, vecCol, q)), partitionBy)
      val props = new java.util.Properties()
      props.setProperty("vecCol", vecCol)
      props.setProperty("idCol", mc.idCol)
      putFields(props, q)
      StoreFs.forPath(store.root).writePropsAtomic(
        s"${store.root}/$index/$sidecarFile", props, s"graft mutable-$name $artifact")
      writeWatermark(store, index, watermark, collection, name)
      q
    }

    /** Index the versions written since the last refresh — O(delta).
      * Returns the new watermark. */
    final def refresh(spark: SparkSession, store: VectorStore,
                      collection: String, index: String): Long = {
      val mc = store.mutable(collection)
      val from = readWatermark(store, index)
      val to = mc.currentSeq
      if (to == from) return to
      val (q, vecCol, _) = sidecar(store, index)
      val delta = store.read(spark, collection)
        .filter(col(MutableCollection.SeqCol) > from &&
          col(MutableCollection.SeqCol) <= to)
      writeDelta(spark, store, mc, index, delta, vecCol, q, to)
      writeWatermark(store, index, to, collection, name) // AFTER the write — crash model
      to
    }

    final def snapshot(store: VectorStore, collection: String,
                       index: String): Snapshot[Q] = {
      val mc = store.mutable(collection)
      val (q, vecCol, idCol) = sidecar(store, index)
      Snapshot(mc, q, vecCol, idCol, readWatermark(store, index))
    }

    /** (artifact, vecCol, idCol) from the sidecar attach wrote. */
    final def sidecar(store: VectorStore, index: String): (Q, String, String) = {
      val props = StoreFs.forPath(store.root)
        .readProps(s"${store.root}/$index/$sidecarFile")
        .getOrElse(throw new IllegalArgumentException(
          s"'$index' carries no $artifact — build it with Mutable${name.capitalize}.attach"))
      (getFields(props), props.getProperty("vecCol"), props.getProperty("idCol"))
    }
  }
}
