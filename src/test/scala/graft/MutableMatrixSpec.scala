package graft

import graft.functions.VectorFunctions.{cosine, l2Sq, sqAdc, vecLit}
import graft.operators.{MutableBq, MutableGraph, MutableIvf, MutablePq, MutableSq, Similarity}
import graft.store.{MutableCollection, StoreFs, VectorStore}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Cross-cutting pins for the live-mutable index matrix: point-in-time
  * reads at the indexed watermark, codes-only layouts, refresh
  * idempotence, one consistency check across every family and id type,
  * and the sidecar format every family's attach writes. */
class MutableMatrixSpec extends SparkSpec {

  private def freshStore(tag: String) = graft.store.VectorStore(
    java.nio.file.Files.createTempDirectory(tag).toString)

  test("mutable-BQ reads are point-in-time; refresh surfaces the new state") {
    val store = freshStore("graft_mbq_spec")
    try {
      val e = Tables.embeddings(spark, sf)
        .select(col("vec_id"), col("embedding")).cache()
      val mc = store.createMutable("vecs", e, "vec_id")
      MutableBq.attach(spark, store, "vecs", "embedding", "vecs_bq")
      // codes-only: no vector column in the index
      val idxCols = store.read(spark, "vecs_bq").schema.fieldNames.toSet
      assert(!idxCols.contains("embedding") && idxCols.contains("bq_lo"))
      mc.delete(e.filter(col("vec_id") % 10 === 6).select("vec_id"))
      val qv = e.filter(col("vec_id") === 0).select("embedding")
        .head.getSeq[Float](0).toArray
      // pre-refresh: the attach-time snapshot still answers WITH the
      // later-deleted ids
      val before = MutableBq.search(spark, store, "vecs", "vecs_bq", qv,
        k = 50, rerank = 4).collect().map(_.getLong(0))
      assert(before.exists(_ % 10 == 6),
        "pre-refresh snapshot must still see the later-deleted ids")
      MutableBq.refresh(spark, store, "vecs", "vecs_bq")
      val after = MutableBq.search(spark, store, "vecs", "vecs_bq", qv,
        k = 50, rerank = 4).collect().map(_.getLong(0))
      assert(after.nonEmpty && after.forall(_ % 10 != 6))
      e.unpersist()
    } finally store.destroy()
  }

  test("mutable-PQ resolves live versions and stays codes-only") {
    val store = freshStore("graft_mpq_spec")
    try {
      val e = Tables.embeddings(spark, sf)
        .select(col("vec_id"), col("embedding")).cache()
      val mc = store.createMutable("vecs", e, "vec_id")
      MutablePq.attach(spark, store, "vecs", "embedding", "vecs_pq",
        ncells = 8)
      val idxCols = store.read(spark, "vecs_pq").schema.fieldNames.toSet
      assert(!idxCols.contains("embedding") && idxCols.contains("pq_code"))
      mc.upsert(e.filter(col("vec_id") % 10 === 3)
        .withColumn("embedding", reverse(col("embedding"))))
      mc.delete(e.filter(col("vec_id") % 10 === 6).select("vec_id"))
      val w1 = MutablePq.refresh(spark, store, "vecs", "vecs_pq")
      val w2 = MutablePq.refresh(spark, store, "vecs", "vecs_pq")
      assert(w1 == w2, "idempotent refresh must not advance the watermark")
      val qv = e.filter(col("vec_id") === 0).select("embedding")
        .head.getSeq[Float](0).toArray
      val hits = MutablePq.search(spark, store, "vecs", "vecs_pq", qv,
        k = 10, nprobe = 8, rerank = 8).collect()
      assert(hits.nonEmpty && hits.forall(_.getLong(0) % 10 != 6))
      // the query vector itself (vec 0, unmutated) must be its own
      // nearest neighbor through the compressed chain
      assert(hits.head.getLong(0) == 0L && hits.head.getDouble(1) == 0.0)
      e.unpersist()
    } finally store.destroy()
  }

  // ------------------------------------------- consistency across families

  private val K = 10
  private val Cells = 4

  /** The sf0.001 embeddings keyed by `id`: the long `vec_id`, or a
    * deterministic 32-hex string (the shape of graft's default `uuid()`
    * ids). `n` keeps the ordinal that picks mutation targets. */
  private def corpus(stringIds: Boolean): DataFrame = {
    val e = Tables.embeddings(spark, sf)
      .select(col("vec_id").as("n"), col("embedding"))
    e.withColumn("id", if (stringIds) md5(col("n").cast("string")) else col("n"))
  }

  /** Upsert 10% of the rows with changed (reversed) vectors, delete
    * another 10%. */
  private def mutate(mc: MutableCollection, base: DataFrame): Unit = {
    mc.upsert(base.filter(col("n") % 10 === 3)
      .withColumn("embedding", reverse(col("embedding"))))
    mc.delete(base.filter(col("n") % 10 === 6).select("id"))
  }

  private def rows(df: DataFrame): Seq[(Any, Double)] =
    df.collect().map(r => (r.get(0), r.getDouble(1))).toSeq

  /** Queries: an untouched row's vector, and an upserted row's NEW
    * vector — its stale version sits in every append-family index. */
  private def queries(live: DataFrame): Seq[Array[Float]] =
    Seq(0L, 3L).map(n => live.filter(col("n") === n).select("embedding")
      .head.getSeq[Float](0).toArray)

  /** Every-cell search of each family against brute-force top-k over
    * `readLive` (graph: no dead or stale id, every hit at its true
    * distance). Returns the mismatches. */
  private def mismatches(store: VectorStore, mc: MutableCollection,
      sq: (Array[Array[Float]], Array[Double], Array[Double]),
      withGraph: Boolean): Seq[String] = {
    val live = mc.readLive(spark).cache()
    val (cents, mins, maxs) = sq
    val scales = Array.tabulate(mins.length)(i => (maxs(i) - mins(i)) / 255)
    val out = queries(live).zipWithIndex.flatMap { case (qv, qi) =>
      val qd = qv.map(_.toDouble)
      val l2 = live.withColumn("_d", l2Sq(col("embedding"), vecLit(qv)))
      val checks = Seq(
        "ivf" -> (rows(MutableIvf.search(spark, store, "c", "c_ivf", qv, K,
            nprobe = Cells).select(col("id"), col("dist"))),
          rows(l2.orderBy(col("_d"), col("id")).limit(K)
            .select(col("id"), floor(col("_d") * 1e6 + 0.5) / 1e6))),
        "sq" -> (rows(MutableSq.search(spark, store, "c", "c_sq", qd, K,
            nprobe = Cells).select(col("id"), col("dist"))),
          rows(Similarity.sqAssignEncode(live, "embedding", "id", cents, mins, maxs)
            .withColumn("dist",
              floor(sqAdc(col("sq_code"), mins, scales, qd) * 1e6 + 0.5) / 1e6)
            .orderBy(col("dist"), col("id")).limit(K).select("id", "dist"))),
        "pq" -> (rows(MutablePq.search(spark, store, "c", "c_pq", qv, K,
            nprobe = Cells, rerank = 100).select(col("id"), col("score"))),
          rows(l2.withColumn("score", round(col("_d"), 6))
            .orderBy(col("score"), col("id")).limit(K).select("id", "score"))),
        "bq" -> (rows(MutableBq.search(spark, store, "c", "c_bq", qv, K,
            rerank = 100).select(col("id"), col("cosine"))),
          rows(live.withColumn("cosine", round(cosine(col("embedding"), vecLit(qv)), 6))
            .orderBy(col("cosine").desc, col("id")).limit(K)
            .select("id", "cosine"))))
      val exact = checks.collect { case (fam, (got, want)) if got != want =>
        s"$fam q$qi: got=$got want=$want" }
      val graph =
        if (!withGraph) Nil
        else {
          val truth = rows(l2.select(col("id"), floor(col("_d") * 1e6 + 0.5) / 1e6)).toMap
          val hits = rows(MutableGraph.search(spark, store, "c", "c_graph", qd, K,
            nprobe = Cells, ef = 64).select(col("vec_id"), col("dist")))
          val bad = hits.filterNot { case (id, d) => truth.get(id).contains(d) }
          if (hits.size == K && bad.isEmpty) Nil
          else Seq(s"graph q$qi: ${hits.size} hits, dead/stale/off-distance: $bad")
        }
      exact ++ graph
    }
    live.unpersist()
    out
  }

  private def refreshAll(store: VectorStore, withGraph: Boolean): Unit = {
    MutableIvf.refresh(spark, store, "c", "c_ivf")
    MutableSq.refresh(spark, store, "c", "c_sq")
    MutablePq.refresh(spark, store, "c", "c_pq")
    MutableBq.refresh(spark, store, "c", "c_bq")
    if (withGraph) MutableGraph.refresh(spark, store, "c", "c_graph")
  }

  /** Attach every family to a fresh collection, mutate, refresh. */
  private def mutatedMatrix(store: VectorStore, stringIds: Boolean,
      withGraph: Boolean) = {
    val base = corpus(stringIds)
    val mc = store.createMutable("c", base, "id")
    MutableIvf.attach(spark, store, "c", "embedding", "c_ivf", ncells = Cells)
    val sq = MutableSq.attach(spark, store, "c", "embedding", "c_sq", ncells = Cells)
    MutablePq.attach(spark, store, "c", "embedding", "c_pq", ncells = Cells, ksub = 16)
    MutableBq.attach(spark, store, "c", "embedding", "c_bq")
    if (withGraph)
      MutableGraph.attach(spark, store, "c", "embedding", "c_graph", ncells = Cells)
    mutate(mc, base)
    refreshAll(store, withGraph)
    (mc, sq)
  }

  for (stringIds <- Seq(false, true)) {
    val ids = if (stringIds) "string" else "long"
    test(s"every family equals brute force over readLive after upsert/delete " +
        s"and compactDirty ($ids ids)") {
      val store = freshStore("graft_matrix_spec")
      try {
        val withGraph = !stringIds // graph nodes are keyed by long
        val (mc, sq) = mutatedMatrix(store, stringIds, withGraph)
        val fresh = mismatches(store, mc, sq, withGraph)
        assert(fresh.isEmpty, fresh.mkString("\n"))
        assert(mc.compactDirty(spark, minDeadFraction = 0.1).nonEmpty)
        refreshAll(store, withGraph)
        val compacted = mismatches(store, mc, sq, withGraph)
        assert(compacted.isEmpty, compacted.mkString("\n"))
      } finally store.destroy()
    }
  }

  test("every family stays consistent across a full compact (open defect)") {
    pendingUntilFixed {
      val store = freshStore("graft_matrix_compact_spec")
      try {
        val (mc, sq) = mutatedMatrix(store, stringIds = false, withGraph = true)
        mc.compact(spark)
        refreshAll(store, withGraph = true)
        val after = mismatches(store, mc, sq, withGraph = true)
        assert(after.isEmpty, after.mkString("\n"))
      } finally store.destroy()
    }
  }

  // ------------------------------------------------------ sidecar format

  test("attach writes each family's sidecar names and key sets unchanged") {
    val store = freshStore("graft_sidecar_spec")
    try {
      val e = Tables.embeddings(spark, sf).select(col("vec_id"), col("embedding"))
      store.createMutable("vecs", e, "vec_id")
      MutableIvf.attach(spark, store, "vecs", "embedding", "v_ivf", ncells = Cells)
      MutableSq.attach(spark, store, "vecs", "embedding", "v_sq", ncells = Cells)
      MutablePq.attach(spark, store, "vecs", "embedding", "v_pq", ncells = Cells,
        m = 8, ksub = 16)
      MutableBq.attach(spark, store, "vecs", "embedding", "v_bq")
      MutableGraph.attach(spark, store, "vecs", "embedding", "v_graph", ncells = Cells)
      val sfs = StoreFs.forPath(store.root)
      def sidecars(index: String): Map[String, Set[String]] = {
        import scala.jdk.CollectionConverters._
        sfs.list(s"${store.root}/$index").map(_.getPath.getName)
          .filter(n => n.startsWith("_") && n.endsWith(".properties"))
          .map(n => n -> sfs.readProps(s"${store.root}/$index/$n").get
            .stringPropertyNames().asScala.toSet).toMap
      }
      val cells = (0 until Cells).map(c => s"cell.$c").toSet
      val cols = Set("vecCol", "idCol")
      val watermark = "_indexed.properties" -> Set("seq", "collection")
      val dims = 0 until 64
      val want = Map(
        "v_ivf" -> Map("_router.properties" -> (cols ++ cells), watermark),
        "v_sq" -> Map("_sq_quantizer.properties" -> (cols ++ cells + "dim" ++
          dims.map(i => s"min.$i") ++ dims.map(i => s"max.$i")), watermark),
        "v_pq" -> Map("_pq_quantizer.properties" -> (cols ++ cells ++
          Set("m", "dsub", "ksub") ++
          (for (j <- 0 until 8; c <- 0 until 16) yield s"cb.$j.$c")), watermark),
        "v_bq" -> Map("_bq_meta.properties" -> (cols + "dim"), watermark),
        "v_graph" -> Map("_router.properties" ->
          (cols ++ cells + "m" + "efConstruction"), watermark))
      want.foreach { case (index, files) =>
        assert(sidecars(index) == files, s"$index sidecars")
        val wm = sfs.readProps(s"${store.root}/$index/_indexed.properties").get
        assert(wm.getProperty("collection") == "vecs")
      }
      val ivf = sfs.readProps(s"${store.root}/v_ivf/_router.properties").get
      assert(ivf.getProperty("vecCol") == "embedding" && ivf.getProperty("idCol") == "vec_id")
    } finally store.destroy()
  }
}
