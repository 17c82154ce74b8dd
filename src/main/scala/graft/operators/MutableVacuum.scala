package graft.operators

import graft.store.{MutableCollection, StoreFs, VectorStore}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** GARBAGE COLLECTION for the live-mutable index tier.
  *
  * Every member of the mutable index matrix accumulates dead weight
  * under the reference's core add/delete-then-query loop
  * (/root/reference/src/PDFToChromaIngester.py:189-235 — mutate forever,
  * query forever): the merge-on-read families (IVF/SQ/PQ/BQ) keep every
  * superseded VERSION until something rewrites it (cost lands in probe
  * scan width), and the graph family keeps deleted/superseded nodes as
  * routing WAYPOINTS until their cell is next rebuilt (cost lands in
  * walk length) — and a cell that stops receiving upserts is never
  * rebuilt, so under sustained churn its garbage fraction grows without
  * bound. `refresh` is deliberately O(batch) and cannot fix this; vacuum
  * is the complementary O(dirty cells) verb that does.
  *
  * Accounting (shared by report and both vacuums) at the index's OWN
  * watermark `w` — never `currentSeq`, so vacuum is a pure physical
  * rewrite that observes exactly the state reads already observe:
  *
  *  - '''live''':    version with `seq <= w` that survives the
  *                   collection's tombstone filter at `w` — the row
  *                   reads actually return;
  *  - '''garbage''': version with `seq <= w` that does NOT survive
  *                   (deleted id, or superseded by a later upsert);
  *  - '''pending''': version with `seq > w` — written but not yet
  *                   indexed (a crashed refresh's residue); NOT garbage,
  *                   and vacuum must not touch it (the re-run refresh
  *                   owns it).
  *
  * [[vacuumCells]] rewrites only the cells whose garbage fraction
  * exceeds the threshold (dynamic partition overwrite — untouched cells
  * never rewrite), keeping live + pending rows byte-for-byte; searches
  * before and after are IDENTICAL because search already filters
  * exactly what vacuum drops. A cell emptied to zero kept rows has its
  * partition directory removed outright (dynamic overwrite cannot
  * express an empty partition). [[vacuumFlat]] is the same verb for the
  * BQ family's unpartitioned signature relation (atomic swap via
  * [[graft.store.VectorStore.replace]] — sidecars travel).
  *
  * The graph family's vacuum lives on [[MutableGraph.vacuum]]: dropping
  * a waypoint NODE requires re-walking the cell's NSW construction
  * (filtering rows would tear adjacency), so it rebuilds dirty cells
  * with the frozen router instead of filtering them — same accounting,
  * same threshold contract, different rewrite kernel. One deliberate
  * divergence: the graph rebuild does NOT carry a dirty cell's pending
  * rows across (they are re-created by the re-run refresh; rationale
  * in MutableGraph.vacuum's scaladoc) — the keep-pending rule below is
  * the relational families' contract.
  *
  * 100 TB shape: the report is one (pruned) scan of the index joined
  * against the broadcast-gated tombstone keys, aggregated per cell — no
  * vector payload ever shuffles; the rewrite is O(dirty cells) and the
  * decision runs on the |cells|-row report. Crash model: a death
  * mid-rewrite leaves some cells vacuumed and some not — every state in
  * between is read-correct (vacuum only removes rows search was already
  * filtering), and re-running vacuum is idempotent. */
object MutableVacuum {

  import MutableIndex.{readWatermark, WatermarkFile}

  /** The collection an index's watermark sidecar binds it to, if any. */
  def boundCollection(store: VectorStore, index: String): Option[String] =
    StoreFs.forPath(store.root)
      .readProps(s"${store.root}/$index/$WatermarkFile")
      .flatMap(p => Option(p.getProperty("collection")))

  /** Catalog hook: for an index whose sidecar binds it to a collection,
    * the advisor aggregate — (worst-cell garbage ppm, vacuum
    * recommended at `maxGarbagePpm`); None for everything else (plain
    * collections, text/sparse indexes, or a binding whose collection
    * has since been dropped — the catalog lists, it must not throw).
    * The stale-binding case is detected EXPLICITLY (collection dir gone
    * or no longer a mutable collection) so it stays silently absent;
    * any OTHER failure — a genuinely corrupt or unreadable index — is
    * logged before the columns go NULL, instead of being swallowed into
    * the same shape as "not a versioned index" (r15 ADVICE). */
  def catalogGarbage(spark: SparkSession, store: VectorStore, index: String,
                     maxGarbagePpm: Long): Option[(Long, Boolean)] =
    boundCollection(store, index).flatMap { coll =>
      val collPath = s"${store.root}/$coll"
      if (!StoreFs.forPath(store.root).exists(collPath) ||
          MutableCollection.Marker.read(collPath).isEmpty) None // stale binding
      else scala.util.Try {
        val agg = report(spark, store, coll, index)
          .agg(max("garbage_ppm"), sum("n_garbage")).head()
        val worst = if (agg.isNullAt(0)) 0L else agg.getLong(0)
        val garbage = if (agg.isNullAt(1)) 0L else agg.getLong(1)
        (worst, garbage > 0L && worst > maxGarbagePpm)
      } match {
        case scala.util.Success(v) => Some(v)
        case scala.util.Failure(e) =>
          System.err.println(s"[graft] indexCatalog: garbage report for " +
            s"'$index' (bound to '$coll') failed — advisor columns NULL: $e")
          None
      }
    }

  /** Per-cell garbage report over a versioned index layout carrying
    * (`idCol`, seq [, cell_id]): one row per cell —
    * (cell_id, n_rows, n_live, n_pending, n_garbage, garbage_ppm), with
    * garbage_ppm = ⌊1e6 · garbage / (live + garbage)⌋ (integer-exact;
    * pending rows are outside both numerator and denominator). Layouts
    * without a cell column report as the single cell -1. */
  def report(spark: SparkSession, store: VectorStore, collection: String,
             index: String): DataFrame = {
    val mc = store.mutable(collection)
    val w = readWatermark(store, index)
    val idx = normalized(store.read(spark, index), mc)
    val cellCol =
      if (idx.columns.contains("cell_id")) col("cell_id").cast("int")
      else lit(-1)
    // ONE pass over the index: the live rule rides as a flag column
    // (MutableCollection.withLiveFlag — the same code path the filter
    // form uses) and all three counts aggregate together. The previous
    // shape scanned the index twice (totals + lives) and joined the two
    // aggregates back — at 100 TB that is a second full index scan per
    // report, and the maintenance gates run the report several times.
    mc.withLiveFlag(spark, idx, asOf = Some(w))
      .groupBy(cellCol.as("cell_id"))
      .agg(count(lit(1)).as("n_rows"),
        sum(when(col(MutableCollection.SeqCol) > w, 1L).otherwise(0L))
          .as("n_pending"),
        sum(when(col(MutableCollection.SeqCol) <= w &&
            col(MutableCollection.LiveCol), 1L).otherwise(0L))
          .as("n_live"))
      .withColumn("n_garbage", col("n_rows") - col("n_pending") - col("n_live"))
      .withColumn("garbage_ppm",
        when(col("n_live") + col("n_garbage") === 0L, 0L)
          .otherwise(floor(col("n_garbage") * lit(1000000L)
            / (col("n_live") + col("n_garbage"))).cast("long")))
      .select("cell_id", "n_rows", "n_live", "n_pending", "n_garbage",
        "garbage_ppm")
  }

  /** Column normalization across the family's two layouts: the
    * relational indexes carry the collection's own id column and
    * `_graft_seq` verbatim; the graph index stores nodes as (id, seq)
    * (ids cast to long — the walk kernel's key type). The accounting is
    * identical once the names line up. */
  private def normalized(idx: DataFrame, mc: MutableCollection): DataFrame = {
    val withId =
      if (!idx.columns.contains(mc.idCol) && idx.columns.contains("id"))
        idx.withColumnRenamed("id", mc.idCol) else idx
    if (!withId.columns.contains(MutableCollection.SeqCol) &&
        withId.columns.contains("seq"))
      withId.withColumnRenamed("seq", MutableCollection.SeqCol)
    else withId
  }

  /** A vacuum that empties the WHOLE index leaves a directory with no
    * data files — unreadable (nothing carries the schema). Re-seat the
    * schema as one empty, schema-bearing parquet file inside a single
    * partition directory (the partition value rides in the path, so the
    * file's own schema drops the cell column); reads then resolve to
    * the right shape with zero rows, and the next refresh/rebuild
    * appends partitions beside it normally. */
  private def writeEmptySchemaFile(spark: SparkSession,
      store: VectorStore, index: String,
      schema: org.apache.spark.sql.types.StructType, cell: Int): Unit = {
    val fileSchema = org.apache.spark.sql.types.StructType(
      schema.filterNot(_.name == "cell_id"))
    spark.createDataFrame(
        java.util.Collections.emptyList[org.apache.spark.sql.Row](),
        fileSchema)
      .write.mode("overwrite")
      .parquet(s"${store.root}/$index/cell_id=$cell")
  }

  /** Reserved partition value for the schema seat — outside any real
    * router's cell-id range, never probed, never rewritten: a 0-row
    * seat partition is invisible to reads and reports (empty group)
    * and the next refresh/rebuild appends real partitions beside it. */
  private[operators] val SchemaSeatCell = Int.MinValue

  /** Remove the partition directories of cells a vacuum emptied to zero
    * kept rows (dynamic overwrite cannot express an empty partition) —
    * CRASH-ORDERED: when those deletes would leave the index with no
    * data files at all, the empty schema-bearing file is installed
    * FIRST, under the reserved [[SchemaSeatCell]] partition, and only
    * then are the doomed directories removed. Deleting first and
    * re-seating after (the r14 order) opened a window where a crash
    * between the last delete and the re-seat left a zero-data-file
    * directory that schema inference — and therefore the re-run's own
    * report() — cannot read. With seat-then-delete every in-between
    * state keeps at least one schema-bearing file and a re-run
    * converges. */
  private[operators] def removeEmptiedCells(spark: SparkSession,
      store: VectorStore, index: String,
      schema: org.apache.spark.sql.types.StructType,
      emptied: Seq[Int]): Unit = {
    if (emptied.isEmpty) return
    val doomed = emptied.map(c => s"cell_id=$c").toSet
    val survivorsRemain = store.dataFileStatuses(index)
      .exists(f => !doomed.contains(f.getPath.getParent.getName))
    if (!survivorsRemain)
      writeEmptySchemaFile(spark, store, index, schema, SchemaSeatCell)
    val sfs = StoreFs.forPath(store.root)
    emptied.foreach(cell => sfs.deleteTree(s"${store.root}/$index/cell_id=$cell"))
  }

  /** The rows a vacuum keeps: live at the watermark, plus pending — one
    * flagged pass over the index (the previous union-of-two-branches
    * shape read it twice). */
  private def keptRows(spark: SparkSession, mc: MutableCollection,
                       idx: DataFrame, w: Long): DataFrame =
    mc.withLiveFlag(spark, idx, asOf = Some(w))
      .filter(col(MutableCollection.SeqCol) > w ||
        col(MutableCollection.LiveCol))
      .drop(MutableCollection.LiveCol)

  /** Vacuum a CELL-PARTITIONED versioned index (mutable IVF/SQ/PQ):
    * rewrite every cell whose garbage_ppm exceeds `maxGarbagePpm` (and
    * holds at least one garbage row), keeping live + pending rows
    * unchanged. Returns the vacuumed cell ids (bounded: <= ncells).
    *
    * `precomputedReport`: a caller that already ran [[report]] on the
    * CURRENT index state (an advisor pass, a before-stats probe) hands
    * it in and the dirty-cell selection reads it instead of re-scanning
    * the index — the report is the verb's only O(index) read before the
    * rewrite, so reusing it halves the vacuum's scan work. Same rows by
    * construction or garbage-in-garbage-out: the caller owns freshness. */
  def vacuumCells(spark: SparkSession, store: VectorStore,
                  collection: String, index: String,
                  maxGarbagePpm: Long = 200000L,
                  precomputedReport: Option[DataFrame] = None): Array[Int] = {
    val mc = store.mutable(collection)
    val w = readWatermark(store, index)
    // bounded collect: the report is one row per cell
    val dirty = precomputedReport
      .getOrElse(report(spark, store, collection, index))
      .filter(col("n_garbage") > 0L && col("garbage_ppm") > maxGarbagePpm)
      .select("cell_id").collect().map(_.getInt(0)).sorted
    if (dirty.isEmpty) return dirty
    val idx = store.read(spark, index)
      .filter(col("cell_id").isin(dirty.map(Int.box).toIndexedSeq: _*))
    val schema = idx.schema
    // EAGER pin: the kept rows read the same files the dynamic overwrite
    // below rewrites (the refresh-rebuild discipline)
    val kept = keptRows(spark, mc, idx, w).localCheckpoint(true)
    val nonEmpty = kept.select(col("cell_id").cast("int"))
      .distinct().collect().map(_.getInt(0)).toSet
    store.overwritePartitions(index, Similarity.clusterByCell(kept),
      Seq("cell_id"))
    // a cell vacuumed down to ZERO kept rows is not expressible as a
    // dynamic-overwrite partition — remove its directory outright
    // (seat-then-delete ordered; see removeEmptiedCells)
    removeEmptiedCells(spark, store, index, schema,
      dirty.filterNot(nonEmpty).toIndexedSeq)
    dirty
  }

  /** VACUUM ADVISOR — the [[graft.store.VectorStore.compactAdvisor]]
    * pattern for index garbage: one row per index serving `collection`,
    * with its totals, worst-cell garbage ppm, and the recommendation
    * (vacuum when ANY cell crosses the threshold — the graph family's
    * walk cost is per-cell, so a single rotten cell is already a
    * problem even when the index-wide average looks healthy). Bounded:
    * aggregates the per-cell report, |cells| rows per index. */
  def advisor(spark: SparkSession, store: VectorStore, collection: String,
              indexes: Seq[String],
              maxGarbagePpm: Long = 200000L): DataFrame =
    advisorFromReports(spark,
      indexes.sorted.map(i => i -> report(spark, store, collection, i)),
      maxGarbagePpm)

  /** [[advisor]] over reports the caller already holds — the
    * advise-then-vacuum loop computes each index's [[report]] exactly
    * once and feeds BOTH the advisor row and the vacuum verb from it
    * (the report is each verb's only O(index) read, so recomputing it
    * per consumer doubles the maintenance window's scan bill). Rows
    * keep the caller's pair order; pass name-sorted pairs for the
    * advisor's canonical order. */
  def advisorFromReports(spark: SparkSession,
                         reports: Seq[(String, DataFrame)],
                         maxGarbagePpm: Long = 200000L): DataFrame = {
    val spark0 = spark
    import spark0.implicits._
    reports.map { case (index, rpt) =>
      val agg = rpt
        .agg(sum("n_rows"), sum("n_live"), sum("n_pending"),
          sum("n_garbage"), max("garbage_ppm")).head()
      def l(i: Int): Long = if (agg.isNullAt(i)) 0L else agg.getLong(i)
      (index, l(0), l(1), l(2), l(3), l(4), l(3) > 0L && l(4) > maxGarbagePpm)
    }.toDF("index", "n_rows", "n_live", "n_pending", "n_garbage",
      "worst_cell_garbage_ppm", "vacuum_recommended")
  }

  /** Vacuum an UNPARTITIONED versioned index (mutable BQ signatures):
    * when the whole relation's garbage fraction exceeds the threshold,
    * atomically swap in the kept rows. Returns true if it rewrote. */
  def vacuumFlat(spark: SparkSession, store: VectorStore,
                 collection: String, index: String,
                 maxGarbagePpm: Long = 200000L,
                 precomputedReport: Option[DataFrame] = None): Boolean = {
    val mc = store.mutable(collection)
    val w = readWatermark(store, index)
    val r = precomputedReport
      .getOrElse(report(spark, store, collection, index)).head()
    val (garbage, ppm) = (r.getAs[Long]("n_garbage"), r.getAs[Long]("garbage_ppm"))
    if (garbage <= 0L || ppm <= maxGarbagePpm) return false
    // replace() writes to a side directory then swaps — the read and the
    // write never share a path, and every `_*.properties` sidecar
    // (signature meta, indexed watermark) travels with the swap
    store.replace(index, keptRows(spark, mc, store.read(spark, index), w))
    true
  }
}
