package graft

import graft.embed.HashEmbedder
import graft.functions.SetFunctions
import graft.ingest.IngestPipeline
import graft.query.RagSearch
import org.apache.spark.sql.functions._

class RagSearchSpec extends SparkSpec {
  import spark.implicits._

  private lazy val embedder = HashEmbedder(dim = 32)
  private lazy val collection =
    IngestPipeline.ingestDocuments(Tables.documents(spark, sf).limit(100), embedder)
      .cache()

  test("search_for_rag returns typed hits with metadata, ascending distance") {
    val res = RagSearch.searchForRag(collection, "fast hash join query",
      embedder.encodeOne, nResults = 4)
    assert(res.error.isEmpty)
    assert(res.totalResults == 4 && res.results.size == 4)
    val ds = res.results.map(_.distance)
    assert(ds == ds.sorted)
    assert(res.results.head.metadata.contains("chunk_id"))
  }

  test("empty query guarded without running a job") {
    val res = RagSearch.searchForRag(collection, "   ", embedder.encodeOne)
    assert(res.totalResults == 0 && res.error.contains("Query text is required"))
  }

  test("where filter restricts candidates before ranking") {
    val res = RagSearch.searchForRag(collection, "query", embedder.encodeOne,
      nResults = 50, whereJson = Some("""{"doc_id": {"$lt": 10}}"""))
    assert(res.results.nonEmpty)
    assert(res.results.forall(_.metadata("doc_id").toLong < 10))
  }

  test("where_document filter restricts by content; composes with where as a conjunction") {
    val res = RagSearch.searchForRag(collection, "query", embedder.encodeOne,
      nResults = 50, whereDocumentJson = Some("""{"$contains": "data"}"""))
    assert(res.results.nonEmpty)
    assert(res.results.forall(_.content.contains("data")))
    val both = RagSearch.searchForRag(collection, "query", embedder.encodeOne,
      nResults = 50, whereJson = Some("""{"doc_id": {"$lt": 10}}"""),
      whereDocumentJson = Some("""{"$not_contains": "data"}"""))
    assert(both.results.forall(h =>
      h.metadata("doc_id").toLong < 10 && !h.content.contains("data")))
    // bad operator surfaces through the defensive error contract
    val bad = RagSearch.searchForRag(collection, "query", embedder.encodeOne,
      whereDocumentJson = Some("""{"$regex": "x"}"""))
    assert(bad.error.exists(_.contains("where_document")))
  }

  test("parseDocument: nested and/or semantics against a literal truth table") {
    import graft.query.WhereDsl
    val docs = Seq((1L, "alpha data stream"), (2L, "alpha data hash"),
      (3L, "alpha data"), (4L, "plain text")).toDF("id", "text")
    val got = docs.filter(WhereDsl.parseDocument(
        """{"$and":[{"$contains":"data"},{"$or":[{"$contains":"stream"},{"$not_contains":"hash"}]}]}""",
        col("text")))
      .select("id").collect().map(_.getLong(0)).toSet
    assert(got == Set(1L, 3L)) // 2 killed by hash-without-stream, 4 by no data
    // empty clauses get the DSL's error contract, not a bare empty.reduce
    Seq("{}", """{"$and": []}""", """{"$or": []}""").foreach { bad =>
      val ex = intercept[IllegalArgumentException] {
        WhereDsl.parseDocument(bad, col("text"))
      }
      assert(ex.getMessage.contains("must not be empty"), s"for $bad: $ex")
    }
  }

  test("context_for_rag assembles capped context with source headers") {
    // 2-d rows at integral coordinates, so every distance is exact; the query
    // vector is the origin whatever the text
    def row(id: String, x: Float, y: Float, text: String,
            source: Option[String] = Some("a.pdf"), chunkId: Option[String] = Some("c")) =
      (id, source, chunkId, text, Array(x, y))
    val emoji = "\uD83D\uDE00" * 60 // 60 code points, 120 UTF-16 units
    val rows = Seq(
      row("r01", 1, 0, "alpha"),
      row("r03", 0, 2, "tie, larger id"),  // same distance as r02: r02 first
      row("r02", 2, 0, "tie, smaller id"),
      row("r04", 3, 0, "no metadata", source = None, chunkId = None),
      row("r05", 4, 0, s"smile $emoji"),
      row("r06", 5, 0, "w" * 80),          // overflows: the prefix stops here
      row("r07", 6, 0, "z"),               // would fit, but comes after the break
      row("r08", 7, 0, "h"), row("r09", 8, 0, "i"), row("r10", 9, 0, "j"),
      row("r11", 10, 0, "past the top-10"), row("r12", 0, 11, "past the top-10"))
    val fixture = rows.toDF("id", "source", "chunk_id", "chunk", "embedding")

    // brute-force top-10 by (distance, id) and a hand-written greedy prefix
    val top10 = rows.sortBy { case (id, _, _, _, v) => (v.map(x => x * x).sum.toDouble, id) }(
      Ordering.Tuple2(Ordering.Double.TotalOrdering, Ordering.String)).take(10)
    val pieces = top10.map { case (_, src, cid, text, _) =>
      s"[Source: ${src.getOrElse("Unknown")}, Chunk: ${cid.getOrElse("Unknown")}]\n$text\n"
    }
    def greedy(len: String => Int, cap: Int): String = {
      var total = 0
      pieces.takeWhile { p => total += len(p); total <= cap }.mkString("\n---\n")
    }
    val codePoints = (p: String) => p.codePointCount(0, p.length)
    val cap = pieces.take(5).map(codePoints).sum + 50
    val want = greedy(codePoints, cap)
    // the fixture exercises what it claims: the tie order, the null
    // defaults, the emoji piece kept only when code points are counted,
    // and a later piece that would fit after the break
    assert(pieces.take(3).map(_.linesIterator.drop(1).next()) ==
      Seq("alpha", "tie, smaller id", "tie, larger id"))
    assert(want.contains("[Source: Unknown, Chunk: Unknown]\nno metadata\n"))
    assert(want.contains(emoji) && !want.contains("www") && !want.contains("\nz\n"))
    assert(codePoints(pieces(6)) <= cap - pieces.take(5).map(codePoints).sum)
    assert(greedy(_.length, cap) != want)

    def context(cap: Int) =
      RagSearch.contextForRag(fixture, "any", _ => Array(0f, 0f), maxContextLength = cap)
    assert(context(cap) == want)
    // a cap that admits everything keeps exactly the top-10
    assert(context(100000) == pieces.mkString("\n---\n"))
    assert(context(0) == "")
  }

  test("context_for_rag runs one Spark job; a blank query returns empty and runs none") {
    RagSearch.contextForRag(collection, "vector data", embedder.encodeOne) // cache warm
    val (ctx, jobs) = countingJobs(
      RagSearch.contextForRag(collection, "vector data", embedder.encodeOne))
    assert(ctx.startsWith("[Source: ") && jobs == 1, s"$jobs jobs")
    Seq(null, "", "   ").foreach { q =>
      val (blank, none) = countingJobs(RagSearch.contextForRag(collection, q, embedder.encodeOne))
      assert(blank == "" && none == 0, s"query '$q': ${blank.length} chars, $none jobs")
    }
    val (res, searchJobs) = countingJobs(
      RagSearch.searchForRag(collection, "vector data", embedder.encodeOne))
    assert(res.results.nonEmpty && searchJobs == 1, s"$searchJobs jobs")
  }

  test("jaccardAtLeast agrees with exact jaccard on random sorted sets") {
    val rng = new scala.util.Random(11)
    val rows = (0 until 300).map { _ =>
      val a = (0 until rng.nextInt(60)).map(_ => rng.nextInt(80).toLong).distinct.sorted.toArray
      val b = (0 until rng.nextInt(60)).map(_ => rng.nextInt(80).toLong).distinct.sorted.toArray
      (a, b)
    }
    val df = rows.toDF("a", "b")
    for (t <- Seq(0.2, 0.5, 0.8)) {
      val got = df.select(SetFunctions.jaccardAtLeast($"a", $"b", t)).as[Boolean].collect()
      rows.zip(got).foreach { case ((a, b), res) =>
        val inter = a.toSet.intersect(b.toSet).size
        val uni = a.toSet.union(b.toSet).size
        // uni==0 -> required count 0 -> vacuously true (never occurs for
        // shingle sets, which are non-empty by construction)
        val expect = if (uni == 0) true else inter.toDouble / uni >= t - 1e-12
        assert(res == expect, s"t=$t a=${a.toList} b=${b.toList}")
      }
    }
  }

  test("sorted intersect size matches array_intersect semantics") {
    val df = Seq(
      (Array(1L, 3L, 5L, 9L), Array(2L, 3L, 9L, 11L)),
      (Array.empty[Long], Array(1L, 2L)),
      (Array(4L), Array(4L))
    ).toDF("a", "b")
    val got = df.select(SetFunctions.sortedIntersectSize($"a", $"b")).as[Int].collect().toSeq
    assert(got == Seq(2, 0, 1))
    val viaBuiltin = df.select(size(array_intersect($"a", $"b"))).as[Int].collect().toSeq
    assert(got == viaBuiltin)
  }

  // --- embedder-bound collections (Chroma binds the embedding function at
  // create_collection, reference PDFToChromaIngester.py:51-54; the manifest
  // is our persisted form of that binding) ---

  private def boundStore(): (graft.store.VectorStore, graft.embed.Embedder, graft.embed.Embedder) = {
    val root = java.nio.file.Files.createTempDirectory("graft_bound_spec").toString
    val store = graft.store.VectorStore(root)
    val (pe, qe) = graft.embed.Embedders.asymmetric(p => HashEmbedder(32, p))
    val coll = IngestPipeline.ingestDocuments(Tables.documents(spark, sf).limit(60), pe)
    store.create("docs", coll, manifest = Some(graft.store.CollectionManifest.of(pe, qe)))
    (store, pe, qe)
  }

  test("bound search resolves the query embedder from the manifest alone") {
    val (store, _, qe) = boundStore()
    try {
      val viaManifest = RagSearch.searchBound(spark, store, "docs", "fast hash join query")
      assert(viaManifest.error.isEmpty && viaManifest.results.nonEmpty)
      // identical to a direct search with the true query-side embedder —
      // the resolve path reconstructs the same embedding space + prefix
      val direct = RagSearch.searchForRag(store.read(spark, "docs"),
        "fast hash join query", qe.encodeOne)
      assert(viaManifest.results.map(h => (h.id, h.distance)) ==
        direct.results.map(h => (h.id, h.distance)))
    } finally store.destroy()
  }

  test("bound search rejects a mismatched embedder instead of returning garbage distances") {
    val (store, pe, qe) = boundStore()
    try {
      // wrong space (different dim)
      val wrongDim = intercept[IllegalArgumentException] {
        RagSearch.searchBound(spark, store, "docs", "q", embedder = Some(HashEmbedder(64, "query: ")))
      }
      assert(wrongDim.getMessage.contains("embedder mismatch"))
      // right space, wrong side: the PASSAGE embedder must not run queries
      // (asymmetric prefix conventions are part of the identity)
      val wrongSide = intercept[IllegalArgumentException] {
        RagSearch.searchBound(spark, store, "docs", "q", embedder = Some(pe))
      }
      assert(wrongSide.getMessage.contains("embedder mismatch"))
      // the matching query embedder passes verification
      val ok = RagSearch.searchBound(spark, store, "docs", "query text", embedder = Some(qe))
      assert(ok.error.isEmpty && ok.results.nonEmpty)
    } finally store.destroy()
  }

  test("bound search on an unbound collection fails loudly, not silently") {
    val root = java.nio.file.Files.createTempDirectory("graft_unbound_spec").toString
    val store = graft.store.VectorStore(root)
    try {
      store.create("plain", IngestPipeline.ingestDocuments(
        Tables.documents(spark, sf).limit(10), HashEmbedder(32, "passage: ")))
      val e = intercept[IllegalArgumentException] {
        RagSearch.searchBound(spark, store, "plain", "q")
      }
      assert(e.getMessage.contains("no embedder manifest"))
    } finally store.destroy()
  }
}
