package graft

import graft.embed.HashEmbedder
import graft.functions.VectorFunctions._
import graft.ingest.IngestPipeline
import graft.multimodal.Multimodal
import graft.operators.{AsOf, Clustering, Dedup, GraphAnn, Similarity, ZOrder}
import graft.query.{Knn, Mmr, WhereDsl}
import graft.streaming.EventStream
import graft.text.{QualityClassifier, TextAnalysis, TextIndex}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The declared operator surface: every entry here is (a) a runnable Spark
  * query over the harness tables and, where ANSI-SQL-expressible, (b)
  * paired with a DuckDB oracle in [[GraftQueries.oracles]] that must
  * hash-match.
  *
  * Conventions for oracle parity:
  *  - every double output is `round(x, n)` on BOTH sides;
  *  - every query ends in a deterministic ORDER BY;
  *  - integer aggregates that DuckDB would widen to HUGEINT are produced
  *    as BIGINT on both sides (count FILTER / CAST);
  *  - vector math oracles use explicit double accumulation via
  *    `list_transform(range(...))` (DuckDB's `list_*_similarity` functions
  *    compute in float32 and do NOT match).
  */
object GraftQueries {
  type Q = (SparkSession, String) => DataFrame

  // Money arithmetic runs in exact DECIMAL and is cast back to double only
  // after the final round: double-sum noise (~1e-9) sits too close to the
  // decimal half-boundaries of 2-decimal money data for cross-engine
  // round() parity, and Spark's partial-agg merge order is nondeterministic.
  private def money(c: org.apache.spark.sql.Column) = c.cast("decimal(12,4)")
  private def oneMinus(c: org.apache.spark.sql.Column) = (lit(1.0) - c).cast("decimal(6,4)")
  private def onePlus(c: org.apache.spark.sql.Column) = (lit(1.0) + c).cast("decimal(6,4)")

  // ======================================================== relational core

  /** TPC-H Q1 shape: scan-heavy aggregation; pushdown of the shipdate
    * filter + 7-column read schema is the whole game at scale. */
  val q1PricingSummary: Q = (s, d) => {
    val qty = money(col("l_quantity"))
    val px = money(col("l_extendedprice"))
    val discPrice = px * oneMinus(col("l_discount"))
    Tables.lineitem(s, d)
      .filter(col("l_shipdate") <= lit("1998-09-01").cast("timestamp"))
      .groupBy("l_returnflag", "l_linestatus")
      .agg(
        round(sum(qty), 2).cast("double").as("sum_qty"),
        round(sum(px), 2).cast("double").as("sum_base_price"),
        round(sum(discPrice), 2).cast("double").as("sum_disc_price"),
        round(sum(discPrice * onePlus(col("l_tax"))), 2).cast("double").as("sum_charge"),
        round(sum(qty).cast("double") / count(lit(1)), 4).as("avg_qty"),
        round(sum(px).cast("double") / count(lit(1)), 4).as("avg_price"),
        round(sum(money(col("l_discount"))).cast("double") / count(lit(1)), 4).as("avg_disc"),
        count(lit(1)).as("count_order"))
      .orderBy("l_returnflag", "l_linestatus")
  }

  /** TPC-H Q3 shape: selective dim filter -> fact join -> top-k; top-10 is
    * TakeOrderedAndProject. NO broadcast hints on orders/customer: both
    * grow linearly with scale factor, so a forced broadcast() dies at
    * 100x sf. Size estimation + AQE broadcast them at runtime while they
    * actually fit and fall back to shuffle joins when they don't — the
    * only plan that is right at every scale. */
  val q2TopRevenueOrders: Q = (s, d) => {
    val c = Tables.customer(s, d).filter(col("c_mktsegment") === "BUILDING")
    val o = Tables.orders(s, d).filter(col("o_orderdate") < lit("1997-01-01").cast("timestamp"))
    val l = Tables.lineitem(s, d)
    l.join(o, col("l_orderkey") === col("o_orderkey"))
      .join(c, col("o_custkey") === col("c_custkey"))
      .groupBy(col("l_orderkey"), col("o_orderdate"), col("c_name"))
      .agg(round(sum(money(col("l_extendedprice")) * oneMinus(col("l_discount"))), 2)
        .cast("double").as("revenue"))
      .select(col("l_orderkey"), date_format(col("o_orderdate"), "yyyy-MM-dd").as("o_date"),
        col("c_name"), col("revenue"))
      .orderBy(col("revenue").desc, col("l_orderkey"))
      .limit(10)
  }

  /** TPC-H Q5 shape: star join through region/nation, revenue per nation.
    * Only nation/region — fixed-cardinality dims (25 / 5 rows at EVERY
    * scale factor) — carry broadcast hints; orders/customer grow with sf
    * and are left to size estimation + AQE (see q2). */
  val q3NationRevenue: Q = (s, d) => {
    val r = Tables.region(s, d).filter(col("r_name") === "ASIA")
    val n = Tables.nation(s, d)
    val c = Tables.customer(s, d)
    val o = Tables.orders(s, d).filter(col("o_orderdate") < lit("1999-01-01").cast("timestamp"))
    val l = Tables.lineitem(s, d)
    l.join(o, col("l_orderkey") === col("o_orderkey"))
      .join(c, col("o_custkey") === col("c_custkey"))
      .join(broadcast(n), col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(r), col("n_regionkey") === col("r_regionkey"))
      .groupBy("n_name")
      .agg(round(sum(money(col("l_extendedprice")) * oneMinus(col("l_discount"))), 2)
        .cast("double").as("revenue"),
        count(lit(1)).as("n_lineitems"))
      .orderBy(col("revenue").desc, col("n_name"))
  }

  /** TPC-H Q6 shape: pure pushdown scan-aggregate, one row out. */
  val q4ForecastRevenue: Q = (s, d) =>
    Tables.lineitem(s, d)
      .filter(col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
        col("l_shipdate") < lit("1997-01-01").cast("timestamp") &&
        col("l_discount") >= 0.02 && col("l_discount") <= 0.06 &&
        col("l_quantity") < 24)
      .agg(round(sum(money(col("l_extendedprice")) * money(col("l_discount"))), 2)
        .cast("double").as("revenue"),
        count(lit(1)).as("n_items"))

  /** Window ranking: top-3 customers by balance per nation. */
  val q5TopCustomersPerNation: Q = (s, d) => {
    val w = Window.partitionBy("c_nationkey").orderBy(col("c_acctbal").desc, col("c_custkey"))
    Tables.customer(s, d)
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= 3)
      .join(broadcast(Tables.nation(s, d)), col("c_nationkey") === col("n_nationkey"))
      .select(col("n_name"), col("rk"), col("c_custkey"), col("c_name"),
        round(col("c_acctbal"), 2).as("acctbal"))
      .orderBy("n_name", "rk")
  }

  /** ROLLUP grouping sets over orders. */
  val q6OrdersRollup: Q = (s, d) =>
    Tables.orders(s, d)
      .rollup("o_orderstatus", "o_orderpriority")
      .agg(count(lit(1)).as("n_orders"),
        round(sum(money(col("o_totalprice"))), 2).cast("double").as("sum_totalprice"))
      .select(coalesce(col("o_orderstatus"), lit("ALL")).as("status"),
        coalesce(col("o_orderpriority"), lit("ALL")).as("priority"),
        col("n_orders"), col("sum_totalprice"))
      .orderBy("status", "priority")

  /** CUBE grouping sets over lineitem flags. */
  val q13Cube: Q = (s, d) =>
    Tables.lineitem(s, d)
      .cube("l_returnflag", "l_linestatus")
      .agg(count(lit(1)).as("n"),
        round(sum(money(col("l_quantity"))), 2).cast("double").as("sum_qty"))
      .select(coalesce(col("l_returnflag"), lit("ALL")).as("rflag"),
        coalesce(col("l_linestatus"), lit("ALL")).as("lstatus"),
        col("n"), col("sum_qty"))
      .orderBy("rflag", "lstatus")

  /** The SQL surface: a correlated EXISTS subquery through spark.sql
    * (TPC-H Q4 shape) — proves the engine's full SQL front-end works over
    * the same tables. */
  val q14SqlExists: Q = (s, d) => {
    Tables.orders(s, d).createOrReplaceTempView("g_orders")
    Tables.lineitem(s, d).createOrReplaceTempView("g_lineitem")
    s.sql(
      """SELECT o_orderpriority, count(*) AS order_count
        |FROM g_orders
        |WHERE o_orderdate >= TIMESTAMP '1996-01-01'
        |  AND o_orderdate < TIMESTAMP '1996-07-01'
        |  AND EXISTS (SELECT 1 FROM g_lineitem
        |              WHERE l_orderkey = o_orderkey AND l_shipdate > o_orderdate)
        |GROUP BY o_orderpriority
        |ORDER BY o_orderpriority""".stripMargin)
  }

  /** Interval containment join (bucketed): error events joined into the
    * closed session windows of their user; errors per session. */
  val q15IntervalJoin: Q = (s, d) => {
    val ev = Tables.events(s, d)
    val sessions = graft.streaming.Sessionize.closedSessionsBatch(ev)
    val errors = ev.filter(col("event_type") === "error")
      .select("user_id", "ts", "event_id")
    graft.operators.IntervalJoin.containmentJoin(
        errors, sessions, Seq("user_id"), "ts", "session_start", "session_end")
      .groupBy(col("user_id"),
        date_format(col("session_start"), "yyyy-MM-dd HH:mm:ss").as("session_start"))
      .agg(count(lit(1)).as("n_errors"))
      .orderBy("user_id", "session_start")
  }

  /** Exact interpolated percentiles per group (Spark `percentile` ==
    * SQL-standard quantile_cont). */
  val q16Percentiles: Q = (s, d) =>
    Tables.lineitem(s, d)
      .groupBy("l_returnflag")
      .agg(
        round(expr("percentile(l_extendedprice, 0.5)"), 4).as("p50_price"),
        round(expr("percentile(l_extendedprice, 0.95)"), 4).as("p95_price"),
        round(expr("percentile(l_quantity, 0.5)"), 4).as("p50_qty"))
      .orderBy("l_returnflag")

  /** Semi + anti join: customers with/without orders per segment. */
  val q7SegmentOrders: Q = (s, d) => {
    val c = Tables.customer(s, d)
    val o = Tables.orders(s, d)
    val withO = c.join(o, col("c_custkey") === col("o_custkey"), "left_semi")
      .groupBy("c_mktsegment").agg(count(lit(1)).as("n_with_orders"))
    val noO = c.join(o, col("c_custkey") === col("o_custkey"), "left_anti")
      .groupBy("c_mktsegment").agg(count(lit(1)).as("n_without_orders"))
    withO.join(noO, Seq("c_mktsegment"), "full_outer")
      .select(col("c_mktsegment"),
        coalesce(col("n_with_orders"), lit(0L)).as("n_with_orders"),
        coalesce(col("n_without_orders"), lit(0L)).as("n_without_orders"))
      .orderBy("c_mktsegment")
  }

  // ========================================================== event stream

  /** Tumbling-window aggregation (batch path; `streaming_hourly` runs the
    * identical plan through Structured Streaming). */
  val q8EventsHourly: Q = (s, d) =>
    EventStream.windowedAgg(Tables.events(s, d))
      .orderBy("window_start", "event_type")

  /** JSON-ish props extraction + bucketed aggregate. */
  val q9EventsProps: Q = (s, d) =>
    Tables.events(s, d)
      .withColumn("k_bucket", regexp_extract(col("props"), "\"k\": (\\d+)", 1).cast("int") % 10)
      .groupBy("k_bucket")
      .agg(count(lit(1)).as("n_events"), round(avg("value"), 4).as("avg_value"))
      .orderBy("k_bucket")

  /** Sessionization: 30-min-gap sessions via lag + running sum — the
    * batch twin of mapGroupsWithState sessionization. */
  val q10Sessionize: Q = (s, d) => {
    val wl = Window.partitionBy("user_id").orderBy("ts", "event_id")
    val wrun = wl.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Tables.events(s, d)
      .withColumn("prev_ts", lag("ts", 1).over(wl))
      .withColumn("new_session",
        when(col("prev_ts").isNull ||
          col("ts").cast("double") - col("prev_ts").cast("double") > 1800.0, 1L).otherwise(0L))
      .withColumn("session_id", sum("new_session").over(wrun))
      .groupBy("user_id")
      .agg(max("session_id").as("n_sessions"), count(lit(1)).as("n_events"))
      .orderBy("user_id")
  }

  /** As-of join: each purchase matched to the user's most recent prior
    * click (union+window implementation — no range-join blowup). */
  val q11AsofPurchaseClick: Q = (s, d) => {
    val ev = Tables.events(s, d)
    val purchases = ev.filter(col("event_type") === "purchase")
    val clicks = ev.filter(col("event_type") === "click")
    AsOf.asofBackward(purchases, clicks, Seq("user_id"), "ts", Seq("event_id", "value"),
        rightTieCols = Seq("event_id"))
      .filter(col("matched_event_id").isNotNull)
      .select(col("user_id"), col("event_id"),
        col("matched_event_id"), round(col("matched_value"), 4).as("matched_value"))
      .orderBy("user_id", "event_id")
  }

  /** As-of join with staleness tolerance: purchases matched to the most
    * recent prior click ONLY if within 1 hour. */
  val q17AsofTolerance: Q = (s, d) => {
    val ev = Tables.events(s, d)
    val purchases = ev.filter(col("event_type") === "purchase")
    val clicks = ev.filter(col("event_type") === "click")
    AsOf.asofBackward(purchases, clicks, Seq("user_id"), "ts", Seq("event_id"),
        toleranceSeconds = Some(3600.0), rightTieCols = Seq("event_id"))
      .filter(col("matched_event_id").isNotNull)
      .select(col("user_id"), col("event_id"), col("matched_event_id"))
      .orderBy("user_id", "event_id")
  }

  /** Forward as-of join: each click matched to the user's NEXT purchase
    * (at-or-after, deterministic max-event_id tiebreak at equal ts). */
  val q38AsofForward: Q = (s, d) => {
    val ev = Tables.events(s, d)
    val clicks = ev.filter(col("event_type") === "click")
    val purchases = ev.filter(col("event_type") === "purchase")
    AsOf.asofForward(clicks, purchases, Seq("user_id"), "ts", Seq("event_id"),
        rightTieCols = Seq("event_id"))
      .filter(col("matched_event_id").isNotNull)
      .select(col("user_id"), col("event_id"), col("matched_event_id"))
      .orderBy("user_id", "event_id")
  }

  /** Funnel analysis: per user, first view -> first click at-or-after it ->
    * first purchase at-or-after that; stage conversion counts. Three
    * conditional-min aggregations shuffled on user_id — no event-level
    * joins, so the shape is O(users) after the first aggregate. */
  val q39Funnel: Q = (s, d) => {
    val ev = Tables.events(s, d).select("user_id", "event_type", "ts")
    val v = ev.groupBy("user_id")
      .agg(min(when(col("event_type") === "view", col("ts"))).as("t_view"))
    val c = ev.join(v, "user_id")
      .groupBy("user_id")
      .agg(first(col("t_view")).as("t_view"),
        min(when(col("event_type") === "click" && col("ts") >= col("t_view"),
          col("ts"))).as("t_click"))
    val p = ev.join(c, "user_id")
      .groupBy("user_id")
      .agg(first(col("t_view")).as("t_view"), first(col("t_click")).as("t_click"),
        min(when(col("event_type") === "purchase" && col("ts") >= col("t_click"),
          col("ts"))).as("t_purchase"))
    p.agg(count(lit(1)).as("n_users"),
      count(col("t_view")).as("n_viewed"),
      count(col("t_click")).as("n_clicked_after_view"),
      count(col("t_purchase")).as("n_purchased_after_click"))
  }

  // ==================================================== reference surface

  /** Collection stats (reference get_collection_stats / count). */
  val collectionStats: Q = (s, d) => {
    val docs = Tables.documents(s, d)
    val emb = Tables.embeddings(s, d)
    docs.agg(count(lit(1)).as("n_documents"),
        countDistinct(col("source")).as("n_sources"),
        countDistinct(col("lang")).as("n_langs"))
      .crossJoin(emb.agg(count(lit(1)).as("n_embeddings")))
  }

  /** Chroma-style where-DSL metadata filter, pushed into the scan. */
  val whereDslFilter: Q = (s, d) =>
    Tables.documents(s, d)
      .filter(WhereDsl.parse(
        """{"$and":[{"lang":{"$in":["en","fr"]}},{"n_chars":{"$gt":200}},{"source":{"$ne":"src3"}}]}"""))
      .select("doc_id", "lang", "source", "n_chars")
      .orderBy("doc_id")

  /** The $or / $nin / $lte arm of the where-DSL (where_dsl_filter covers
    * $and / $in / $gt / $ne) — disjunctions still reach the scan as one
    * pushed Or predicate. */
  val whereDslOr: Q = (s, d) =>
    Tables.documents(s, d)
      .filter(WhereDsl.parse(
        """{"$or":[{"lang":{"$nin":["en","es","fr"]}},{"n_chars":{"$lte":120}}]}"""))
      .select("doc_id", "lang", "source", "n_chars")
      .orderBy("doc_id")

  /** Chroma's `where_document` content filter ($contains /
    * $not_contains, nested $and/$or) — the other half of the filter
    * surface next to `where`, evaluated before ranking like the rest of
    * the DSL. Substring tests emit Catalyst `Contains` (codegen'd,
    * pushable). */
  val whereDocumentFilter: Q = (s, d) =>
    Tables.documents(s, d)
      .filter(WhereDsl.parseDocument(
        """{"$and":[{"$contains":"data"},{"$or":[{"$contains":"stream"},{"$not_contains":"hash"}]}]}""",
        col("text")))
      .select("doc_id", "source", "lang")
      .orderBy("doc_id")

  /** The reference chunker over the documents table (chunk 120 / overlap 20
    * so harness-sized texts produce multi-chunk output). */
  val chunkDocs: Q = (s, d) =>
    IngestPipeline.chunk(Tables.documents(s, d), "text", "doc_id", chunkSize = 120, overlap = 20)
      .select(col("doc_id"), col("chunk_index"), col("chunk_id"), col("chunk"),
        col("total_chunks").cast("long").as("total_chunks"))
      .orderBy("doc_id", "chunk_index")

  /** Full ingest pipeline: chunk -> metadata -> deterministic ids ->
    * hash-embed. Embeddings are not SQL-expressible -> rows-only check;
    * chunk/id/metadata parity is covered by `chunk_docs` + unit tests. */
  val ingestPipeline: Q = (s, d) =>
    IngestPipeline.ingestDocuments(Tables.documents(s, d), HashEmbedder(dim = 64))
      .select(col("doc_id"), col("chunk_id"), col("chunk_index"), col("total_chunks"),
        col("id"), round(sqrt(aggregate(transform(col("embedding"),
          x => x.cast("double") * x.cast("double")), lit(0.0), (a, x) => a + x)), 4).as("embedding_norm"))
      .orderBy("doc_id", "chunk_index")

  /** The [[graft.embed.HashEmbedder]] KERNEL's actual output values
    * under a FULL hash — the piece `ingest_pipeline`'s unit-norm
    * invariant cannot see. Runs the embedder through the production
    * batched-mapPartitions seam over the checked-in deterministic
    * corpus ([[graft.embed.EmbedFixture]] — SF-independent by design)
    * and emits every embedding component at 2^20 fixed point; the
    * oracle is the checked-in expected-value fixture
    * (GenHashEmbedFixture, recorded provenance — the text_bpe_apply
    * regression-pin discipline: independent correctness evidence is
    * EmbedderSpec, and the fixture makes any future drift in FNV-1a,
    * tokenization, 3-gram windows, or normalization hash-fail). */
  val ingestEmbedFixture: Q = (s, _) => {
    import s.implicits._
    val docs = graft.embed.EmbedFixture.texts.toDF("text_id", "text")
    graft.embed.Embedders.embed(docs, "text", "embedding",
        graft.embed.HashEmbedder(dim = 64))
      .select(col("text_id"), posexplode(col("embedding")).as(Seq("pos", "x")))
      .select(col("text_id"), col("pos"),
        floor(col("x").cast("double") * 1048576).cast("long").as("val_fp"))
      .orderBy("text_id", "pos")
  }

  /** The transformer-backed ingest — REAL attention/LayerNorm/FFN
    * inference (checked-in weights, "passage: " instruction prefix per
    * the reference's BGE convention) through the same batched
    * mapPartitions seam as every other embedder. Oracle-CHECKED, not
    * rows-only: the relational half (per-source doc/chunk counts) hash-
    * matches the chunker CTE twin exactly, and the model half is pinned
    * by invariants the oracle emits as constants — output dim 64 on
    * every row, every vector unit-norm (the "passage: " prefix
    * guarantees at least one token, so no zero vector exists). A wrong
    * dim, an unnormalized vector, or a drifted chunker all
    * hash-mismatch. */
  val ingestTransformer: Q = (s, d) => {
    val docs = Tables.documents(s, d)
    // the CORPUS-TRAINED BPE vocabulary is the tokenizer (subword ids,
    // the reference pipeline's WordPiece shape) — trained once on the
    // driver (bounded merge list), shipped to executors inside the
    // embedder closure; the invariants the oracle pins (chunk counts,
    // dim, unit norm) are tokenizer-independent by construction
    val merges = graft.text.Bpe.train(docs, "text", numMerges = 50)
    val (passages, _) = graft.embed.Embedders.asymmetric(
      p => graft.embed.TransformerEmbedder(prefix = p, bpeMerges = merges))
    IngestPipeline.ingestDocuments(docs, passages,
        chunkSize = 120, overlap = 20) // the chunker CTE twin's parameters
      .groupBy("source")
      .agg(
        countDistinct(col("doc_id")).as("n_docs"),
        count(lit(1)).as("n_chunks"),
        min(size(col("embedding"))).cast("long").as("dim_min"),
        max(size(col("embedding"))).cast("long").as("dim_max"),
        count(when(abs(sqrt(aggregate(transform(col("embedding"),
            x => x.cast("double") * x.cast("double")), lit(0.0), (a, x) => a + x))
          - 1.0) < 1e-4, 1)).as("n_unit_norm"))
      .orderBy("source")
  }

  /** Ingest status report (reference ingest_directory result map + success
    * tally): per-source doc counts with blank-text failures. */
  val ingestReport: Q = (s, d) =>
    IngestPipeline.ingestReport(Tables.documents(s, d))
      .orderBy("source")

  /** kNN top-10 by squared L2 (Chroma's default space), query = vector 0. */
  /** int8 scalar-quantized kNN: per-dim min/max train the quantizer (one
    * partial-agg; a dim-bounded collect), vectors encode to 1 byte/dim,
    * and search is the fused dequantize+l2 [[graft.functions.SqAdcDistance]]
    * codegen kernel against the full-precision query (asymmetric ADC) —
    * the 4× compression point between full-precision kNN and IVF-PQ's
    * 32×. Unlike PQ, the quantization arithmetic is exactly reproducible
    * in SQL, so this ANN variant is a FULL oracle check. Top-10 is
    * TakeOrderedAndProject (pinned). */
  val annSqTopk: Q = (s, d) => {
    val emb = Tables.embeddings(s, d)
    val mm = emb.select(posexplode(col("embedding")).as(Seq("pos", "x")))
      .groupBy("pos")
      .agg(min(col("x").cast("double")).as("mn"), max(col("x").cast("double")).as("mx"))
      .collect()
    val dim = mm.length
    val mins = new Array[Double](dim)
    val maxs = new Array[Double](dim)
    mm.foreach { r =>
      mins(r.getInt(0)) = r.getDouble(1); maxs(r.getInt(0)) = r.getDouble(2)
    }
    val scales = Array.tabulate(dim)(i => (maxs(i) - mins(i)) / 255)
    val qv = emb.filter(col("vec_id") === 0).select(col("embedding"))
      .head.getSeq[Float](0).map(_.toDouble).toArray
    emb.filter(col("vec_id") =!= 0)
      .select(col("vec_id"), sqEncode(col("embedding"), mins, maxs).as("code"))
      .withColumn("dist", floor(sqAdc(col("code"), mins, scales, qv) * 1e6 + 0.5) / 1e6)
      .select(col("vec_id"), col("dist"))
      .orderBy(col("dist"), col("vec_id"))
      .limit(10)
  }

  /** 1-bit binary-quantization kNN: sign-bit signatures (16 bytes/vector),
    * map-only Hamming pre-rank into a TakeOrdered shortlist, exact-cosine
    * rerank of the rerank·k survivors. Query = vector 0, excluded from
    * candidacy. Fully deterministic (integer XOR/popcount + proven
    * orderings) ⇒ FULL oracle. */
  val annBqTopk: Q = (s, d) => {
    val e = Tables.embeddings(s, d)
    val qv = e.filter(col("vec_id") === 0).select("embedding")
      .head.getSeq[Float](0).toArray
    Similarity.bqTopK(e.filter(col("vec_id") =!= 0), "embedding", "vec_id",
      qv, k = 10, rerank = 4)
  }

  /** BQ search over the PERSISTED signature index — same answer as
    * ann_bq_topk by construction (one oracle SQL, two entries: the
    * annProbedTop10Sql precedent); the pre-rank scan reads 16
    * bytes/vector off the stored relation, never the raw floats. */
  val annBqStore: Q = (s, d) => {
    val root = java.nio.file.Files.createTempDirectory("graft_bq").toString
    val store = graft.store.VectorStore(root)
    val e = Tables.embeddings(s, d).cache()
    try {
      val corpus = e.filter(col("vec_id") =!= 0)
      Similarity.buildBqIndex(store, "bq_sigs", corpus, "embedding", "vec_id")
      val qv = e.filter(col("vec_id") === 0).select("embedding")
        .head.getSeq[Float](0).toArray
      val out = Similarity.bqSearchStored(store.read(s, "bq_sigs"), corpus,
        "embedding", "vec_id", qv, k = 10, rerank = 4)
      s.createDataFrame(java.util.Arrays.asList(out.collect(): _*), out.schema)
    } finally { e.unpersist(); store.destroy() }
  }

  /** Incremental BQ-index maintenance — the train-free member of the
    * nightly-append family: the standing corpus builds the signature
    * index, the arrival slice appends via
    * [[graft.operators.Similarity.insertIntoStoredBq]] (encode + write,
    * O(batch), no router to consult), and the search over the maintained
    * index must equal a from-scratch full build — the SAME full-corpus
    * oracle as `ann_bq_store`, so maintenance invisibility sits under
    * the hash. */
  val annBqIncremental: Q = (s, d) => {
    val root = java.nio.file.Files.createTempDirectory("graft_bqinc").toString
    val store = graft.store.VectorStore(root)
    val e = Tables.embeddings(s, d).cache()
    try {
      val corpus = e.filter(col("vec_id") =!= 0)
      Similarity.buildBqIndex(store, "bq_sigs",
        corpus.filter(col("vec_id") % 10 =!= 7), "embedding", "vec_id")
      Similarity.insertIntoStoredBq(store, "bq_sigs",
        corpus.filter(col("vec_id") % 10 === 7), "embedding", "vec_id"): Unit
      val qv = e.filter(col("vec_id") === 0).select("embedding")
        .head.getSeq[Float](0).toArray
      val out = Similarity.bqSearchStored(store.read(s, "bq_sigs"), corpus,
        "embedding", "vec_id", qv, k = 10, rerank = 4)
      s.createDataFrame(java.util.Arrays.asList(out.collect(): _*), out.schema)
    } finally { e.unpersist(); store.destroy() }
  }

  private def searchAutoAt(s: SparkSession, d: String,
                           buildIvf: Boolean): DataFrame = {
    val root = java.nio.file.Files.createTempDirectory("graft_auto").toString
    val store = graft.store.VectorStore(root)
    val e = Tables.embeddings(s, d).cache()
    try {
      Similarity.buildBqIndex(store, "bq_sigs", e, "embedding", "vec_id")
      if (buildIvf)
        Similarity.buildIvfIndex(store, "ivf_vecs", e, "embedding", "vec_id",
          ncells = 16)
      val qv = e.filter(col("vec_id") === 0).select("embedding")
        .head.getSeq[Float](0).toArray
      val out = Similarity.searchAuto(s, store,
        (if (buildIvf) Seq("bq_sigs", "ivf_vecs") else Seq("bq_sigs")),
        e, "embedding", "vec_id", qv, k = 10, nprobe = 4, rerank = 4)
        .orderBy("rank")
      s.createDataFrame(java.util.Arrays.asList(out.collect(): _*), out.schema)
    } finally { e.unpersist(); store.destroy() }
  }

  /** Auto index selection with a self-describing IVF layout available:
    * the planner must pick the partition-pruned probe (index_kind='ivf'
    * under the hash) and read the router from the sidecar alone. */
  val annSearchAuto: Q = (s, d) => searchAutoAt(s, d, buildIvf = true)

  /** Auto index selection with only a BQ signature layout: the planner
    * must fall through to the Hamming pre-rank (index_kind='bq'). */
  val annSearchAutoBq: Q = (s, d) => searchAutoAt(s, d, buildIvf = false)

  /** Store-wide index catalog: five layout families (plain, IVF, BQ,
    * text postings, mutable) detected from footers/sidecars with their
    * per-kind row counts — the pre-maintenance audit. Every count
    * re-derived relationally by the oracle. */
  /** Per-process catalog FIXTURE (VERDICT r14 #4): the index_catalog
    * gate rebuilt six index families PER RUN, making it the sweep's
    * most expensive and most contamination-exposed entry (11-14 s) —
    * but the builds are scaffolding; the operator under measurement is
    * the catalog READ. Build the store once per (process, data dir)
    * and let every run measure the read. Deterministic under re-runs
    * by construction: the fixture is immutable once built, and every
    * family's build is itself deterministic (spec-pinned elsewhere).
    * The temp store is destroyed on JVM exit. */
  /** Shared plumbing for the per-process fixtures (r15 ADVICE #3): ONE
    * JVM shutdown hook draining a root registry — not one hook per
    * (process, dir) — whose delete is plain-JDK recursive file removal,
    * because at shutdown the Hadoop FileSystem cache
    * ([[graft.store.StoreFs]]'s transport, closed by Hadoop's own
    * hook) may already be gone; and a DATASET FINGERPRINT (file sizes
    * + mtimes of the source tables) folded into every cache key, so a
    * dataset regenerated in-process gets a fresh fixture instead of
    * stale state served against a freshly-derived oracle. */
  private object FixtureFs {
    private val roots =
      java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
    locally {
      sys.addShutdownHook(roots.forEach(bestEffortDeleteTree(_))): Unit
    }
    def deleteOnExit(root: String): Unit = { roots.add(root): Unit }
    private def bestEffortDeleteTree(root: String): Unit =
      try {
        import java.nio.file.{Files, Path, Paths}
        val p = Paths.get(root)
        if (Files.exists(p))
          Files.walk(p).sorted(java.util.Comparator.reverseOrder[Path]())
            .forEach(f =>
              try Files.deleteIfExists(f): Unit
              catch { case _: Exception => () })
      } catch { case _: Exception => () }
    /** (name, size, mtime) digest over the fixture-relevant source
      * tables — cheap local-FS metadata walk, no data read. */
    def fingerprint(d: String): String = {
      def walk(f: java.io.File): Seq[String] =
        if (f.isDirectory)
          f.listFiles().sortBy(_.getName).toIndexedSeq.flatMap(walk)
        else Seq(s"${f.getName}:${f.length}:${f.lastModified}")
      val sig = Seq("documents.parquet", "embeddings.parquet")
        .map(n => new java.io.File(s"$d/$n")).filter(_.exists).flatMap(walk)
        .mkString("|")
      java.lang.Integer.toHexString(
        scala.util.hashing.MurmurHash3.stringHash(sig))
    }
  }

  private object CatalogFixture {
    private val stores = new java.util.concurrent.ConcurrentHashMap[
      String, graft.store.VectorStore]()
    def storeFor(s: SparkSession, d: String): graft.store.VectorStore =
      stores.computeIfAbsent(s"$d|${FixtureFs.fingerprint(d)}", _ => {
        val root = java.nio.file.Files.createTempDirectory("graft_catfix").toString
        val store = graft.store.VectorStore(root)
        val e = Tables.embeddings(s, d).cache()
        try {
          store.create("plain", e.select(col("vec_id"), col("label")))
          Similarity.buildIvfIndex(store, "ivf_vecs", e, "embedding", "vec_id",
            ncells = 16)
          Similarity.buildBqIndex(store, "bq_sigs", e, "embedding", "vec_id")
          TextIndex.buildTextIndex(store, "docs_text", Tables.documents(s, d),
            "text", "doc_id", nBuckets = 8)
          // a slice suffices for family detection + count — the
          // full-corpus sparse build is benched by its own gate queries
          graft.operators.SparseSearch.buildIndex(store, "sparse_docs",
            Tables.documents(s, d).filter(col("doc_id") % 5 === 0),
            "text", "doc_id", nBuckets = 8)
          // versioned-index garbage for the catalog's advisor columns
          // (r13 #2's unfinished half): a BQ index attached BEFORE the
          // deletes accumulates dead versions — the catalog must
          // recommend a vacuum; an SQ index over an unmutated
          // collection is clean — the catalog must stay quiet.
          val mc = store.createMutable("mut_vecs",
            e.select(col("vec_id"), col("label"), col("embedding")), "vec_id")
          graft.operators.MutableBq.attach(s, store, "mut_vecs", "embedding",
            "mut_bq")
          mc.deleteIds(s, (0L until 10L))
          graft.operators.MutableBq.refresh(s, store, "mut_vecs", "mut_bq")
          store.createMutable("mut_clean",
            e.filter(col("vec_id") < 250)
              .select(col("vec_id"), col("embedding")), "vec_id")
          graft.operators.MutableSq.attach(s, store, "mut_clean", "embedding",
            "mut_sq", ncells = 4, iters = 2)
          // the nightly near-dup's stored signature relations (r16):
          // the catalog must name both halves of the seventh index
          // family — bands by the parameter sidecar, shingles by shape
          Dedup.buildSignatureIndex(store, "sig_docs",
            Tables.documents(s, d).filter(col("doc_id") % 3 === 0),
            "text", "doc_id")
        } finally e.unpersist()
        FixtureFs.deleteOnExit(root)
        store
      })
  }

  /** Per-process SERVING fixture (r15 VERDICT #4 — the `index_catalog`
    * treatment for the serving-path gates): the immutable full-corpus
    * text index, sparse index, and IVF layout that
    * `rag_hybrid_stored` / `rag_hybrid_sparse` and the read-only text-
    * search gates previously rebuilt PER RUN (~3-8 s each of build
    * scaffolding per measurement). Built once per (process, dataset
    * fingerprint); every consumer is a READ — the gates measure the
    * search verb, which is the operator under test. Builds are
    * deterministic (spec-pinned), so results are hash-identical to the
    * build-per-run form. Mutating gates (`text_index_compact`,
    * `streaming_text_ingest`, ...) keep their private stores. */
  private object ServingFixture {
    private val stores = new java.util.concurrent.ConcurrentHashMap[
      String, (graft.store.VectorStore, Array[(Int, Array[Float])])]()
    def fixtureFor(s: SparkSession, d: String)
        : (graft.store.VectorStore, Array[(Int, Array[Float])]) =
      stores.computeIfAbsent(s"$d|${FixtureFs.fingerprint(d)}", _ => {
        val root = java.nio.file.Files.createTempDirectory("graft_servfix").toString
        val store = graft.store.VectorStore(root)
        val e = Tables.embeddings(s, d).cache()
        try {
          TextIndex.buildTextIndex(store, "docs_text", Tables.documents(s, d),
            "text", "doc_id", nBuckets = 8)
          graft.operators.SparseSearch.buildIndex(store, "docs_sparse",
            Tables.documents(s, d), "text", "doc_id", nBuckets = 8)
          val cents = Similarity.buildIvfIndex(store, "vectors", e,
            "embedding", "vec_id", ncells = 16)
          FixtureFs.deleteOnExit(root)
          (store, cents)
        } finally e.unpersist()
      })
  }

  /** Per-process MUTATION fixture — the ServingFixture discipline
    * extended to the gates whose verb MUTATES a store (compaction,
    * incremental append, streaming ingest, retrain, vacuum): the
    * expensive deterministic pre-verb state (index build + any scripted
    * mutations that set the stage) is built ONCE per (process, dataset
    * fingerprint, key) into a pristine directory, and each gate
    * invocation runs its verb on a fresh DIRECTORY CLONE of it. Store
    * layouts are path-relocatable by design (every sidecar — markers,
    * watermarks, stats, banding parameters — records names and
    * numbers, never absolute paths), so a clone is byte-equivalent to
    * rebuilding; results stay hash-identical to the build-per-run
    * form, which the sf0.01 oracle gate re-proves per round. The gate
    * dataset is MBs, so the clone is a millisecond-scale local copy
    * where the build is seconds of Spark job scheduling — the benched
    * runs measure the maintenance verb, which is the operator under
    * test. Builds stay measured where they are the verb: the `*_store`
    * gates' fixture builds (run 1 of each sweep), and ScaleSpec10x's
    * ann_ivf_build / bm25_index_build measured cases.
    *
    * The builder may return a payload (trained centroids, codebooks,
    * recorded sequence numbers) that is cached with the pristine root
    * and handed to every clone — payloads must be immutable, exactly
    * like the frozen-model parameters they carry. */
  private object MutationFixture {
    private val pristine = new java.util.concurrent.ConcurrentHashMap[
      String, (String, Any)]()
    def cloneFor[A](s: SparkSession, d: String, key: String)(
        build: graft.store.VectorStore => A): (graft.store.VectorStore, A) = {
      val (base, payload) = pristineFor(s, d, key)(build)
      val clone =
        java.nio.file.Files.createTempDirectory(s"graft_mrun_$key").toString
      copyTree(base.root, clone)
      (graft.store.VectorStore(clone), payload)
    }
    /** The shared pristine itself, for gates whose verb is a pure READ
      * of the mutated state (CDC polls, diffs, snapshots, advisors'
      * report-before-action forms): no clone, no destroy — the caller
      * must not mutate. Mutating verbs go through [[cloneFor]]. */
    def pristineFor[A](s: SparkSession, d: String, key: String)(
        build: graft.store.VectorStore => A): (graft.store.VectorStore, A) = {
      val (base, payload) = pristine.computeIfAbsent(
        s"$d|${FixtureFs.fingerprint(d)}|$key", _ => {
          val root =
            java.nio.file.Files.createTempDirectory(s"graft_mfix_$key").toString
          val a = build(graft.store.VectorStore(root))
          FixtureFs.deleteOnExit(root)
          (root, a)
        })
      (graft.store.VectorStore(base), payload.asInstanceOf[A])
    }
    /** Clone = [[graft.store.VectorStore.cloneTreeLinked]]: `part-*`
      * parquet payloads hardlinked (immutable under the store's write
      * discipline), sidecars byte-copied — O(file count) metadata ops,
      * zero data bytes moved, and destroying the clone after the verb
      * frees no shared blocks (no TRIM churn on a discard-mounted local
      * disk). Replaces the byte-copy clone, whose copy+delete churn
      * rode INSIDE every mutation gate's timed region.
      * StoreRelocationSpec pins the contract on this exact helper:
      * clone answers identically; mutating the clone leaves the
      * pristine's bytes and answers untouched. */
    private def copyTree(src: String, dst: String): Unit =
      graft.store.VectorStore.cloneTreeLinked(src, dst)
  }

  /** Catalog read over the per-process fixture: detection + live count
    * per collection, plus the vacuum advisor columns for every bound
    * versioned index (worst ppm + recommendation at the demonstrative
    * 1% threshold — mut_bq's 2% dead versions must flag, mut_sq's clean
    * build must not). The oracle restates the version ledger and the
    * threshold comparison relationally. */
  val indexCatalog: Q = (s, d) => {
    val store = CatalogFixture.storeFor(s, d)
    val out = store.indexCatalog(s, maxGarbagePpm = 10000L).orderBy("name")
    s.createDataFrame(java.util.Arrays.asList(out.collect(): _*), out.schema)
  }

  /** Multi-probe LSH top-10 (6-bit signatures — populated buckets at
    * gate scale): query bucket + 3 lowest-margin bit flips,
    * exact cosine over the probed survivors. The probe-set derivation
    * (margins, flips, xors) is replayed relationally by the oracle. */
  val annLshMultiprobe: Q = (s, d) => {
    val e = Tables.embeddings(s, d).cache()
    try {
      val qv = e.filter(col("vec_id") === 0).select("embedding")
        .head.getSeq[Float](0).toArray
      val out = Similarity.lshMultiProbeTopK(e,
        "embedding", "vec_id", qv, k = 10, nBits = 6, nflip = 3)
      s.createDataFrame(java.util.Arrays.asList(out.collect(): _*), out.schema)
    } finally e.unpersist()
  }

  /** Federated BQ search across two collections (the vec_id parity
    * shards — the time-shard layout in miniature): per-arm stored-
    * signature shortlists, tagged union, one global exact rerank. Query
    * vector 0 lives in shard c0 and is NOT excluded — the top hit must
    * come back from the right arm with cosine 1.0. */
  val annFederatedSearch: Q = (s, d) => {
    val root = java.nio.file.Files.createTempDirectory("graft_fed").toString
    val store = graft.store.VectorStore(root)
    val e = Tables.embeddings(s, d).cache()
    try {
      val c0 = e.filter(col("vec_id") % 2 === 0)
      val c1 = e.filter(col("vec_id") % 2 === 1)
      Similarity.buildBqIndex(store, "bq_c0", c0, "embedding", "vec_id")
      Similarity.buildBqIndex(store, "bq_c1", c1, "embedding", "vec_id")
      val qv = e.filter(col("vec_id") === 0).select("embedding")
        .head.getSeq[Float](0).toArray
      val out = Similarity.bqSearchFederated(s, store,
        Seq(("c0", "bq_c0", c0), ("c1", "bq_c1", c1)),
        "embedding", "vec_id", qv, k = 10, rerank = 4)
      s.createDataFrame(java.util.Arrays.asList(out.collect(): _*), out.schema)
    } finally { e.unpersist(); store.destroy() }
  }

  /** Batch BQ: 5 query vectors against one signature scan (the Chroma
    * query_texts=[...] list shape on the BQ tier). Per-query results
    * equal single-query bqTopK; FULL oracle via per-query window ranks. */
  val annBqBatch: Q = (s, d) => {
    val e = Tables.embeddings(s, d)
    val q = e.filter(col("vec_id") < 5)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_vec"))
    Similarity.bqTopKMany(e.filter(col("vec_id") >= 5), "embedding", "vec_id",
        q, "q_id", "q_vec", k = 10, rerank = 4)
      .orderBy("q_id", "rank")
  }

  /** IVF radius query: every vector in the probed cells with rounded
    * cosine >= 0.20 to query vector 0 — the "all neighbors within a
    * similarity band" verb top-k cannot express. Deterministic quantizer
    * + probe ⇒ FULL oracle (the ann_ivf reframing). */
  val annRangeSearch: Q = (s, d) => {
    val e = Tables.embeddings(s, d).cache()
    try {
      val qv = e.filter(col("vec_id") === 0).select("embedding")
        .head.getSeq[Float](0).toArray
      // trains on the full table (the simIvfCte twin's frame); the query
      // vector itself is excluded from the RESULT, not the index
      val out = Similarity.ivfRangeSearch(e, "embedding", "vec_id", qv,
          minCosine = 0.20, ncells = 16, nprobe = 4)
        .filter(col("vec_id") =!= 0)
      s.createDataFrame(java.util.Arrays.asList(out.collect(): _*), out.schema)
    } finally e.unpersist()
  }

  /** Matryoshka two-stage retrieval: coarse rank on the 16-dim prefix,
    * exact rescore of the 50 survivors on all 64 dims. FULL oracle —
    * both stages' rounded scores and tie orders are restated, so the
    * coarse survivor set itself is hash-checked, not just the final
    * top-10. */
  val annMatryoshka: Q = (s, d) => {
    val e = Tables.embeddings(s, d)
    val qv = e.filter(col("vec_id") === 0).select("embedding")
      .head.getSeq[Float](0).toArray
    Similarity.matryoshkaTopK(e.filter(col("vec_id") =!= 0), "embedding",
        "vec_id", qv, k = 10, coarseDim = 16, coarseK = 50)
      .orderBy(col("score").desc, col("vec_id"))
  }

  /** Formula-boosted retrieval — the payload-rescoring verb (Qdrant
    * formula queries / ES function_score): final rank mixes vector
    * similarity with a document-level signal, here `0.7·cosine +
    * 0.3·quality`. Both inputs round at 6 BEFORE the mix and the mix
    * rounds with the floor form (pure IEEE ops — a round() here can
    * land on exact decimal halves where engines disagree). Scale shape:
    * quality is map-only per doc; the join carries (id, two rounded
    * doubles) — slim either side of the shuffle. FULL oracle. */
  val ragBoosted: Q = (s, d) => {
    val e = Tables.embeddings(s, d)
    val qv = e.filter(col("vec_id") === 0).select("embedding")
      .head.getSeq[Float](0).toArray
    val quality = TextAnalysis.textStats(Tables.documents(s, d))
      .select(col("doc_id"), col("quality"))
    e.filter(col("vec_id") =!= 0)
      .select(col("vec_id").as("doc_id"),
        (floor(cosine(col("embedding"), vecLit(qv)) * 1e6 + 0.5) / 1e6).as("cosine"))
      .join(quality, Seq("doc_id"))
      .withColumn("boosted",
        floor((lit(0.7) * col("cosine") + lit(0.3) * col("quality")) * 1e6 + 0.5) / 1e6)
      .orderBy(col("boosted").desc, col("doc_id"))
      .limit(10)
      .select("doc_id", "cosine", "quality", "boosted")
  }

  /** Named multi-vector search: each point carries a "title" space
    * (dims 1-32) and a "body" space (dims 33-64) — derived fixture
    * halves of the embedding column — and the query weights them
    * 0.6/0.4. FULL oracle: two slice-cosines, rounded per arm, the
    * same weighted mix. */
  val annNamedVectors: Q = (s, d) => {
    val e = Tables.embeddings(s, d)
    val qv = e.filter(col("vec_id") === 0).select("embedding")
      .head.getSeq[Float](0).toArray
    val points = e.filter(col("vec_id") =!= 0)
      .select(col("vec_id"),
        slice(col("embedding"), 1, 32).as("title_vec"),
        slice(col("embedding"), 33, 32).as("body_vec"))
    Similarity.namedVectorsTopK(points, "vec_id",
        arms = Seq(("title_vec", qv.take(32), 0.6),
          ("body_vec", qv.drop(32), 0.4)),
        k = 10)
      .orderBy(col("score").desc, col("vec_id"))
  }

  /** Discovery search: target vec 0, context pairs (1,4) and (2,5) —
    * candidates must sit strictly closer (rounded cosine) to each
    * pair's positive than its negative, survivors rank by target
    * similarity. FULL oracle: the pair gate is a count-of-passed-pairs
    * HAVING over the same rounded sims, the ranking the same cosine. */
  val annDiscover: Q = (s, d) =>
    Similarity.discoverTopK(Tables.embeddings(s, d), "embedding", "vec_id",
        targetId = 0L, pairs = Seq((1L, 4L), (2L, 5L)), k = 10)
      .orderBy(col("score").desc, col("vec_id"))

  /** Recommend-by-examples, average-vector strategy: positives {1,2,3},
    * negatives {4,5} — the Rocchio query `2·mean(pos) − mean(neg)` is
    * synthesized from STORED vectors with the fixed-point mean
    * discipline, float32-quantized, and ranked by one exact cosine scan
    * with the examples excluded. FULL oracle: the SQL twin rebuilds the
    * identical query literal (long-sum means, same double op order,
    * CAST to FLOAT) and restates the ranking. */
  val annRecommend: Q = (s, d) =>
    Similarity.recommendByExamples(Tables.embeddings(s, d), "embedding",
        "vec_id", positiveIds = Seq(1L, 2L, 3L), negativeIds = Seq(4L, 5L),
        k = 10)
      .orderBy(col("score").desc, col("vec_id"))

  /** Recommend-by-examples, best-score strategy over the same example
    * sets: per-candidate max-cosine against every positive and every
    * negative (rounded before the max), score = sPos when it beats
    * sNeg else −sNeg. FULL oracle: a join against the 5 example rows,
    * max-of-rounded per side, the same CASE. */
  val annRecommendBest: Q = (s, d) =>
    Similarity.recommendBestScore(Tables.embeddings(s, d), "embedding",
        "vec_id", positiveIds = Seq(1L, 2L, 3L), negativeIds = Seq(4L, 5L),
        k = 10)
      .orderBy(col("score").desc, col("vec_id"))

  /** Stored-IVF index introspection: per-cell population, id span, and
    * corpus fraction off the cell-partitioned layout — the router-drift /
    * hot-cell monitor. Column-pruned to (cell_id, vec_id); FULL oracle
    * via the simIvfCte quantizer twin. */
  val annIvfStats: Q = (s, d) => {
    val (store, _) = ServingFixture.fixtureFor(s, d)
    val out = Similarity.ivfIndexStats(store.read(s, "vectors"), "vec_id")
    s.createDataFrame(java.util.Arrays.asList(out.collect(): _*), out.schema)
  }

  /** Embedding-space drift monitor: per-dim fixed-point means of a
    * reference slice (even vec_id) vs a current slice (odd vec_id) with
    * the absolute shift — the check that catches model/preprocessing
    * changes silently moving the space. One map-side pass per side. */
  val embeddingDrift: Q = (s, d) => {
    val e = Tables.embeddings(s, d)
    graft.operators.Audit.embeddingDrift(
      e.filter(col("vec_id") % 2 === 0), e.filter(col("vec_id") % 2 === 1))
  }

  val vecKnn: Q = (s, d) => {
    val e = Tables.embeddings(s, d)
    val q = e.filter(col("vec_id") === 0).select(col("embedding").as("qv"))
    e.crossJoin(broadcast(q))
      .withColumn("distance", round(l2Sq(col("embedding"), col("qv")), 6))
      .orderBy("distance", "vec_id")
      .limit(10)
      .select("vec_id", "label", "distance")
  }

  /** kNN in INNER-PRODUCT space (Chroma `hnsw:space=ip`, the third
    * metric of the Knn surface beside l2 and cosine): ranked by
    * negative floor-rounded dot, id ties — same TakeOrdered plan as
    * vec_knn, different geometry under the same oracle discipline. */
  val vecKnnIp: Q = (s, d) => {
    val e = Tables.embeddings(s, d)
    val qv = e.filter(col("vec_id") === 0).select("embedding")
      .head.getSeq[Float](0).toArray
    e.filter(col("vec_id") =!= 0)
      .withColumn("score",
        floor(graft.functions.VectorFunctions.dot(col("embedding"),
          graft.functions.VectorFunctions.vecLit(qv)) * 1e6 + 0.5) / 1e6)
      .orderBy(col("score").desc, col("vec_id"))
      .limit(10)
      .select("vec_id", "label", "score")
  }

  /** kNN with a metadata where-DSL filter applied BEFORE ranking
    * (filter-then-rank, reference search_for_rag semantics). */
  val vecKnnFiltered: Q = (s, d) => {
    val e = Tables.embeddings(s, d).filter(WhereDsl.parse("""{"label":{"$in":[1,2,3]}}"""))
    val q = Tables.embeddings(s, d).filter(col("vec_id") === 0).select(col("embedding").as("qv"))
    e.crossJoin(broadcast(q))
      .withColumn("distance", round(l2Sq(col("embedding"), col("qv")), 6))
      .orderBy("distance", "vec_id")
      .limit(10)
      .select("vec_id", "label", "distance")
  }

  /** Vector percolate: 20 standing subscription vectors broadcast against
    * the rest of the corpus; every (doc, subscription) pair at cosine
    * ≥ 0.3 emits — one map-only broadcast pass, no shuffle. */
  val vecPercolate: Q = (s, d) => {
    val e = Tables.embeddings(s, d)
    val standing = e.filter(col("vec_id") < 20)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_vec"))
    Similarity.vectorPercolate(e.filter(col("vec_id") >= 20), "embedding",
        "vec_id", standing, "q_id", "q_vec", threshold = 0.3)
      .orderBy("vec_id", "q_id")
  }

  /** LSH-bucketed percolate — vec_percolate's scale path: 8 seeded
    * hyperplane tables signature both sides, candidates emit on bucket
    * collision, exact cosine verifies. Deterministic planes ⇒ FULL
    * oracle (the dedup_embedding_lsh precedent). */
  val vecPercolateLsh: Q = (s, d) => {
    val e = Tables.embeddings(s, d)
    val standing = e.filter(col("vec_id") < 20)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_vec"))
    Similarity.vectorPercolateLsh(e.filter(col("vec_id") >= 20), "embedding",
        "vec_id", standing, "q_id", "q_vec", threshold = 0.3)
      .orderBy("vec_id", "q_id")
  }

  /** Percolate crossover ADVISOR — the cost-based choice between the
    * broadcast-exact and LSH-bucketed percolate forms with the DECISION
    * under the gate hash (the adaptiveFilteredKnn discipline): the
    * standing set scales with the corpus (every 5th vector — a standing
    * set that grows with the data is exactly the case where silently
    * broadcasting forever goes wrong), the broadcast cap is a
    * demonstrative 40 kB so the crossover actually EXERCISES at test
    * scales (sf0.01's 100 subscriptions broadcast; sf0.1's 400 cross
    * over to LSH), and the oracle replays the same
    * rows·(4·dim+24) ≤ cap arithmetic relationally — both branches
    * restated in SQL, the choice a CASE over relational counts. */
  val vecPercolateAuto: Q = (s, d) => {
    val e = Tables.embeddings(s, d)
    val standing = e.filter(col("vec_id") % 5 === 0)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_vec"))
    Similarity.vectorPercolateAuto(e.filter(col("vec_id") % 5 =!= 0),
        "embedding", "vec_id", standing, "q_id", "q_vec", threshold = 0.3,
        limitBytes = 40000L)
      .orderBy("vec_id", "q_id")
  }

  /** Batched kNN join: 5 query vectors, top-10 each, exact cosine. */
  val vecTopkJoin: Q = (s, d) => {
    val e = Tables.embeddings(s, d)
    val q = e.filter(col("vec_id") < 5)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_vec"))
    Similarity.bruteForceTopK(e, "embedding", "vec_id", q, "q_id", "q_vec", k = 10)
      .withColumn("rank", col("rank").cast("long"))
      .orderBy("q_id", "rank")
  }

  /** Hard-negative mining — the contrastive-training data-prep step:
    * for each anchor (a deterministic id sample), the top-5 most
    * SIMILAR vectors inside the negative band [0.30, 0.98) — similar
    * enough to be hard, below the near-duplicate ceiling that would
    * poison training with false negatives.
    *
    * CONTRACT: this exact form scores corpus x anchors, so anchors must
    * be a bounded probe set (broadcast-sized) — it is the oracle
    * baseline. When the anchor set grows with the corpus (the normal
    * contrastive-training case: every example wants negatives), use
    * [[mineHardNegativesLsh]] — banded candidates on a fixed-width
    * (table, bucket) key + exact rerank, no nested loop, nothing
    * unconditionally broadcast. Here: one corpus scan scores cosines,
    * the band filter cuts before any window, and the rank<=5 filter
    * runs through WindowGroupLimit (per-partition top-k before the
    * shuffle). */
  val mineHardNegatives: Q = (s, d) => {
    val e = Tables.embeddings(s, d)
    val anchors = e.filter(col("vec_id") % 100 === 0)
      .select(col("vec_id").as("anchor_id"), col("embedding").as("_av"))
    val scored = e.join(broadcast(anchors), col("vec_id") =!= col("anchor_id"))
      .withColumn("cosine", round(cosine(col("embedding"), col("_av")), 6))
      .filter(col("cosine") >= 0.30 && col("cosine") < 0.98)
    val w = Window.partitionBy("anchor_id").orderBy(col("cosine").desc, col("vec_id"))
    scored.withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= 5)
      .select("anchor_id", "vec_id", "rank", "cosine")
      .orderBy("anchor_id", "rank")
  }

  /** The banded scale path for hard-negative mining (rows-only:
    * approximate by construction; recall@5 against the exact form is
    * pinned in ScalaTest). Same anchors, band, and k as the exact
    * baseline; candidates come from an equi-join on the (table, bucket)
    * LSH key instead of a corpus x anchors nested loop. */
  val mineHardNegativesLsh: Q = (s, d) => {
    val e = Tables.embeddings(s, d)
    val anchors = e.filter(col("vec_id") % 100 === 0)
      .select(col("vec_id").as("anchor_id"), col("embedding").as("_av"))
    Similarity.hardNegativesLsh(e, "embedding", "vec_id",
        anchors, "anchor_id", "_av", k = 5, lo = 0.30, hi = 0.98)
      .orderBy("anchor_id", "rank")
  }

  /** kNN label propagation (the label-transfer stage of a training-data
    * pipeline: a small annotated seed set labels the rest of the corpus
    * by majority vote of the k nearest labeled neighbors). Probes = the
    * vec_id % 100 residue class with labels hidden; neighbors = the other
    * 99%. One labeled-side scan, WindowGroupLimit partial top-k, bounded
    * vote agg — fully oracle-checked including the vote tiebreaks. */
  val knnClassifyQ: Q = (s, d) => {
    val e = Tables.embeddings(s, d)
    val probes = e.filter(col("vec_id") % 100 === 0)
      .select(col("vec_id").as("probe_id"), col("embedding").as("_pv"))
    Similarity.knnClassify(e.filter(col("vec_id") % 100 =!= 0),
        "embedding", "vec_id", "label", probes, "probe_id", "_pv", k = 15)
      .orderBy("probe_id")
  }

  /** Diversified kNN: best 2 hits per class for one query — the
    * "spread results across sources" serving verb ([[Similarity.topKPerGroup]]);
    * grouped rank through WindowGroupLimit, shuffle O(groups·k). */
  val annGroupedTopk: Q = (s, d) => {
    val e = Tables.embeddings(s, d)
    val q = e.filter(col("vec_id") === 0).select(col("embedding").as("qv"))
    Similarity.topKPerGroup(e, "embedding", "vec_id", "label", q, "qv",
        kPerGroup = 2)
      .orderBy("label", "rank")
  }

  /** Late-interaction MaxSim retrieval ([[Similarity.maxSimTopK]]) over
    * a 4×16-dim multi-vector layout sliced from the 64-dim embeddings
    * (the per-token sub-embedding stand-in): Σ over query sub-vectors of
    * the best-matching doc sub-vector dot. One exploded scan, literal
    * query side, per-doc partial-agg reduce — fully oracle-checked. */
  val ragMaxsim: Q = (s, d) => {
    val e = Tables.embeddings(s, d)
    val multi = e.select(col("vec_id"),
      array((0 until 4).map(i => slice(col("embedding"), 1 + 16 * i, 16)): _*).as("mv"))
    val qRow = e.filter(col("vec_id") === 0).select("embedding")
      .head.getSeq[Float](0).toArray
    val qSubs = (0 until 4).map(i => qRow.slice(16 * i, 16 * i + 16)).toSeq
    Similarity.maxSimTopK(multi, "mv", "vec_id", qSubs, k = 20)
      .orderBy(col("maxsim").desc, col("vec_id"))
  }

  /** IVF-flat approximate kNN — FULL ORACLE since round 10: IVF is
    * "approximate" only in WHICH cells are probed, and the quantizer,
    * probe selection, and scoring are all deterministic, so the DuckDB
    * twin (simIvfCte) reproduces the whole computation bit-for-bit.
    * Recall against vec_topk_join additionally asserted in ScalaTest. */
  val annIvf: Q = (s, d) => {
    // cached: consumed by centroid seeding, the Lloyd round, and the probe
    // scan (3 jobs); result (k rows per query vector) is eagerized so the
    // cache never outlives the call, even in long-lived sessions
    val e = Tables.embeddings(s, d).cache()
    try {
      val q = e.filter(col("vec_id") < 5)
        .select(col("vec_id").as("q_id"), col("embedding").as("q_vec"))
      val out = Similarity.ivfTopK(e, "embedding", "vec_id", q, "q_id", "q_vec",
          k = 10, ncells = 16, nprobe = 4)
        .orderBy("q_id", "rank")
      s.createDataFrame(java.util.Arrays.asList(out.collect(): _*), out.schema)
    } finally e.unpersist()
  }

  /** kNN through the AnnProbeRule optimizer rewrite: index the collection
    * (cell_id), register centroids FOR THIS SESSION, and run a plain
    * ORDER BY l2sq LIMIT k — the injected rule turns it into an
    * nprobe-cell scan. The probe query is materialized INSIDE the
    * `withProbe` scope (the optimizer runs at action time), and the rule +
    * centroids are unregistered in its finally block, so no later query in
    * the session can be silently rewritten to an approximate scan.
    * FULL ORACLE since round 10 (deterministic quantizer + probe → the
    * probed top-10 is exactly computable in SQL); exactness when probing
    * all cells is asserted in AnnProbeSpec. The round-10 oracle landing
    * also exposed that THIS query's `.select`-after-`.limit` shape
    * escaped the rewrite rule entirely (exact scan, silently) — the rule
    * now matches the Project-interposed plan. */
  val annProbeKnn: Q = (s, d) => {
    import graft.plans.AnnProbe
    val e = Tables.embeddings(s, d).cache()
    try {
      val cents = Similarity.trainCentroidArrays(e, "embedding", "vec_id", ncells = 16)
      val qv = e.filter(col("vec_id") === 0).select("embedding")
        .collect().head.getSeq[Float](0).toArray
      AnnProbe.withProbe(s, cents, nprobe = 4) {
        // vec_id tiebreak: duplicate embeddings straddling the rank-10
        // boundary would otherwise rank partition-order-dependently
        // (the rule matches multi-key sorts whose FIRST key is the
        // distance, so the tiebreak costs nothing)
        val probed = Similarity.withCellId(e, "embedding", cents)
          .orderBy(l2Sq(col("embedding"), vecLit(qv)), col("vec_id"))
          .limit(10)
          .select("vec_id", "label", "cell_id")
        s.createDataFrame(java.util.Arrays.asList(probed.collect(): _*), probed.schema)
      }
    } finally e.unpersist()
  }

  /** IVF-PQ approximate kNN: candidates score from 8-byte PQ codes via
    * per-query ADC tables — never the full vector — which is the
    * memory-bounded 100 TB search shape (32x fewer bytes read than
    * IVF-flat probing). Approximate by construction -> rows-only;
    * recall@10 >= 0.85 vs brute force pinned in AnnProbeSpec. */
  val annIvfPq: Q = (s, d) => {
    val e = Tables.embeddings(s, d).cache()
    try {
      val q = e.filter(col("vec_id") < 5)
        .select(col("vec_id").as("q_id"), col("embedding").as("q_vec"))
      val out = Similarity.ivfPqTopK(e, "embedding", "vec_id", q, "q_id", "q_vec",
          k = 10, ncells = 16, nprobe = 4)
        .orderBy("q_id", "rank")
      s.createDataFrame(java.util.Arrays.asList(out.collect(): _*), out.schema)
    } finally e.unpersist()
  }

  /** kNN over the STORED IVF layout: the index build writes the
    * collection PARTITIONED BY cell_id (Similarity.buildIvfIndex ->
    * VectorStore.create(partitionBy)), so the probe filter the
    * AnnProbeRule injects prunes partitions — the scan never lists the
    * non-probed cells' files (PartitionFilters, pinned in AnnProbeSpec).
    * At 100 TB this is the storage half of IVF: nprobe/ncells of the
    * bytes are READ, not just filtered. FULL ORACLE since round 10 —
    * same SQL twin as ann_probe_knn (stored vs inline cells is invisible
    * to the answer). */
  /** Incremental stored-IVF maintenance — the append-only twin of
    * `ann_graph_incremental`: the standing corpus (vec_id % 10 != 7)
    * builds the cell-partitioned index with centroids trained on the
    * FULL corpus (the frozen router), the arrival slice APPENDS through
    * [[Similarity.insertIntoStoredIvf]] (O(batch) new files in touched
    * cells, nothing read back), and the search over the maintained
    * store hash-matches the same full-corpus probe oracle as
    * `ann_ivf_store` — incremental maintenance is INVISIBLE to the
    * answer, and this one is provable in SQL because IVF needs no
    * rebuild (cells are unordered lists). */
  /** The standing 16-cell IVF layout (full-corpus-trained frozen
    * router, standing slice vec_id % 10 != 7) that both the streaming
    * and the batch-incremental maintenance gates mutate — one fixture
    * build, cloned per invocation; the router rides as the payload. */
  private def ivfStandingClone(s: SparkSession, d: String)
      : (graft.store.VectorStore, Array[(Int, Array[Float])]) =
    MutationFixture.cloneFor(s, d, "stream_ivf") { st =>
      val e0 = Tables.embeddings(s, d)
      val c =
        Similarity.trainCentroidArrays(e0, "embedding", "vec_id", ncells = 16)
      st.create("vectors", Similarity.withCellId(
        e0.filter(col("vec_id") % 10 =!= 7), "embedding", c),
        partitionBy = Seq("cell_id"))
      c
    }

  val annIvfIncremental: Q = (s, d) => {
    import graft.plans.AnnProbe
    // SAME standing layout as streaming_ann_ingest's fixture (one build
    // serves both) — the benched verb is the O(batch) APPEND + search
    val (store, cents) = ivfStandingClone(s, d)
    val e = Tables.embeddings(s, d).cache()
    try {
    val arrivals = e.filter(col("vec_id") % 10 === 7)
    Similarity.insertIntoStoredIvf(store, "vectors", arrivals, "embedding", "vec_id", cents)
    val qv = e.filter(col("vec_id") === 0).select("embedding")
      .collect().head.getSeq[Float](0).toArray
    AnnProbe.withProbe(s, cents, nprobe = 4) {
      val probed = store.read(s, "vectors")
        .orderBy(l2Sq(col("embedding"), vecLit(qv)), col("vec_id"))
        .limit(10)
        .select("vec_id", "label", "cell_id")
      s.createDataFrame(java.util.Arrays.asList(probed.collect(): _*), probed.schema)
    }
    } finally { e.unpersist(); store.destroy() }
  }

  /** RETRAIN-AND-REBUILD of the stored IVF index — the maintenance verb
    * that completes the lifecycle (build -> append -> drift -> retrain):
    * the store is built at 16 cells from the standing slice, absorbs
    * the arrivals through the frozen-router append, then
    * [[Similarity.retrainStoredIvf]] retrains on the store's OWN
    * content at a NEW geometry (8 cells) and atomically swaps the
    * re-assigned layout into place. The probe with the new router
    * hash-matches an oracle that derives the 8-cell k-means straight
    * from the corpus — no notion of the old build, the appends, or the
    * swap — so the verb provably equals a from-scratch rebuild. */
  val annIvfRetrain: Q = (s, d) => {
    import graft.plans.AnnProbe
    // pre-verb state (16-cell build + nightly append) from the mutation
    // fixture — the benched verb is the RETRAIN at the new geometry
    val (store, _) = MutationFixture.cloneFor(s, d, "ivf_rt") { st =>
      val e0 = Tables.embeddings(s, d)
      val cents0 =
        Similarity.trainCentroidArrays(e0, "embedding", "vec_id", ncells = 16)
      st.create("vectors",
        Similarity.withCellId(e0.filter(col("vec_id") % 10 =!= 7),
          "embedding", cents0),
        partitionBy = Seq("cell_id"))
      Similarity.insertIntoStoredIvf(st, "vectors",
        e0.filter(col("vec_id") % 10 === 7), "embedding", "vec_id", cents0)
    }
    val e = Tables.embeddings(s, d).cache()
    try {
    val qv = e.filter(col("vec_id") === 0).select("embedding")
      .collect().head.getSeq[Float](0).toArray
    val cents = Similarity.retrainStoredIvf(s, store, "vectors",
      "embedding", "vec_id", ncells = 8)
    AnnProbe.withProbe(s, cents, nprobe = 4) {
      val probed = store.read(s, "vectors")
        .orderBy(l2Sq(col("embedding"), vecLit(qv)), col("vec_id"))
        .limit(10)
        .select("vec_id", "label", "cell_id")
      s.createDataFrame(java.util.Arrays.asList(probed.collect(): _*), probed.schema)
    }
    } finally { e.unpersist(); store.destroy() }
  }

  /** RETRAIN ADVISOR under the gate hash
    * ([[graft.operators.Similarity.ivfRetrainAdvisor]]) — the decision
    * operator that completes the retrain lifecycle: the verbs existed
    * for all five families but nothing DECIDED when drift warrants the
    * O(collection) rebuild. Two self-describing layouts, one advisor
    * call each, both rows under one FULL hash: the CLEAN arm's router
    * trained on everything it serves (err growth exactly 1.0 — must not
    * recommend), the STALE arm's router trained on the standing slice
    * with a drifted nightly append (reversed vectors, the registry's
    * standard distribution shift) through the frozen router — its
    * quantization error growth must cross the threshold and recommend.
    * The drift is a 2x magnitude scale on the arrivals — the classic
    * embedder-version-change failure, and EXACT in float32 (exponent
    * increment), so both engines derive identical scaled vectors. The
    * oracle re-derives both routers relationally (simIvf CTE at each
    * arm's training source), replays the micro-unit error sums, the
    * ppm ratios, and both decisions. */
  val annRetrainAdvisor: Q = (s, d) => {
    // both arms are pure READS of self-describing layouts — the
    // pristine fixture serves them directly (no clone, no destroy)
    val (store, _) = MutationFixture.pristineFor(s, d, "retrain_adv") { st =>
      val e = Tables.embeddings(s, d)
      Similarity.buildIvfIndex(st, "vectors_clean", e, "embedding", "vec_id",
        ncells = 8, trainIters = 2)
      val cents = Similarity.buildIvfIndex(st, "vectors_stale",
        e.filter(col("vec_id") % 10 =!= 7), "embedding", "vec_id",
        ncells = 8, trainIters = 2)
      Similarity.insertIntoStoredIvf(st, "vectors_stale",
        e.filter(col("vec_id") % 10 === 7)
          .withColumn("embedding",
            transform(col("embedding"), x => x * lit(2.0f))),
        "embedding", "vec_id", cents): Unit
    }
    def adv(arm: String, name: String) =
      Similarity.ivfRetrainAdvisor(s, store, name, "embedding")
        .withColumn("arm", lit(arm))
    val out = adv("clean", "vectors_clean")
      .unionByName(adv("stale", "vectors_stale"))
      .orderBy("arm")
    s.createDataFrame(java.util.Arrays.asList(out.collect(): _*), out.schema)
  }

  /** ANN over a LIVE MUTABLE collection — the Chroma semantic
    * (upsert/delete + query) at the storage layer
    * ([[graft.operators.MutableIvf]]): an IVF index attached to a
    * mutable collection, kept consistent WITHOUT index rewrites — the
    * index stores row versions and search applies the collection's OWN
    * tombstone filter (shared code) after the partition-pruned probe;
    * upserts reach it through an O(delta) seq-pruned refresh. The
    * sequence: index the corpus, upsert reversed vectors for
    * vec_id%10==3 (list reversal is float-exact on both engines),
    * delete vec_id%10==6, refresh, search top-10. The oracle re-derives
    * the frozen router, re-assigns the LIVE state (reversed vectors
    * included) by the same argmin, probes, and ranks — a hash match
    * proves live-version resolution through the index equals the
    * relational restatement of the mutated corpus. */
  val annMutableIvf: Q = (s, d) => {
    import graft.operators.MutableIvf
    // createMutable + IVF attach from the mutation fixture; the
    // benched verb is the live MUTATION (upsert/delete/refresh) + search
    val (store, _) = MutationFixture.cloneFor(s, d, "mut_ivf") { st =>
      st.createMutable("vecs",
        Tables.embeddings(s, d).select(col("vec_id"), col("embedding")),
        "vec_id")
      MutableIvf.attach(s, st, "vecs", "embedding", "vecs_ivf", ncells = 16)
    }
    val e = Tables.embeddings(s, d).select(col("vec_id"), col("embedding")).cache()
    try {
      val mc = store.mutable("vecs")
    mc.upsert(e.filter(col("vec_id") % 10 === 3)
      .withColumn("embedding", reverse(col("embedding"))))
    mc.delete(e.filter(col("vec_id") % 10 === 6).select("vec_id"))
    MutableIvf.refresh(s, store, "vecs", "vecs_ivf")
    val qv = e.filter(col("vec_id") === 0).select("embedding")
      .head.getSeq[Float](0).toArray
    val out0 = MutableIvf.search(s, store, "vecs", "vecs_ivf", qv,
        k = 10, nprobe = 4)
      .orderBy(col("dist"), col("vec_id"))
    s.createDataFrame(
      java.util.Arrays.asList(out0.collect(): _*), out0.schema)
    } finally { e.unpersist(); store.destroy() }
  }

  /** FILTERED ANN over the live mutable collection — the full Chroma
    * `query(query_embeddings, where={...}, n_results)` surface: the
    * where-DSL predicate applies to CURRENT versions (after the
    * tombstone filter, before top-k). The mutation makes the filter
    * discriminating about versions: upserted ids get label+10 AND a
    * reversed vector, and the filter `label < 10` must exclude them —
    * an index that leaked a STALE version (old label, old vector) past
    * version resolution would wrongly readmit those ids and
    * hash-mismatch. */
  val annMutableIvfFiltered: Q = (s, d) => {
    import graft.operators.MutableIvf
    // createMutable (with metadata) + IVF attach from the mutation
    // fixture — the benched verb is the live MUTATION + filtered search
    val (store, _) = MutationFixture.cloneFor(s, d, "mut_ivf_lbl") { st =>
      st.createMutable("vecs", Tables.embeddings(s, d), "vec_id")
      MutableIvf.attach(s, st, "vecs", "embedding", "vecs_ivf", ncells = 16)
    }
    val e = Tables.embeddings(s, d).cache()
    try {
    val mc = store.mutable("vecs")
    mc.upsert(e.filter(col("vec_id") % 10 === 3)
      .withColumn("embedding", reverse(col("embedding")))
      .withColumn("label", col("label") + 10))
    mc.delete(e.filter(col("vec_id") % 10 === 6).select("vec_id"))
    MutableIvf.refresh(s, store, "vecs", "vecs_ivf")
    val qv = e.filter(col("vec_id") === 0).select("embedding")
      .head.getSeq[Float](0).toArray
    val out0 = MutableIvf.search(s, store, "vecs", "vecs_ivf", qv,
        k = 10, nprobe = 4, where = Some("""{"label": {"$lt": 10}}"""))
      .orderBy(col("dist"), col("vec_id"))
    s.createDataFrame(
      java.util.Arrays.asList(out0.collect(): _*), out0.schema)
    } finally { e.unpersist(); store.destroy() }
  }

  /** COMPRESSED ANN over the LIVE mutable collection —
    * [[graft.operators.MutableSq]], the merge-on-read discipline
    * generalized beyond IVF so a mutable collection can carry a
    * compressed (int8-SQ) index: same upsert/delete/refresh/search
    * sequence as `ann_mutable_ivf`, but candidates score from 1-byte
    * codes through the fused ADC kernel and the index never stores a
    * raw vector. The quantizer (deterministic Lloyd router + per-dim
    * min/max) freezes at attach, so the oracle re-derives it from the
    * ORIGINAL corpus, restates the live state (reversed %3 vectors, %6
    * deleted), re-assigns and re-encodes relationally, probes, and
    * ADC-ranks — a hash match proves live-version resolution through
    * the COMPRESSED index equals the relational restatement. */
  val annMutableSq: Q = (s, d) => {
    import graft.operators.MutableSq
    // createMutable + SQ attach from the mutation fixture; the
    // benched verb is the live MUTATION (upsert/delete/refresh) + search
    val (store, _) = MutationFixture.cloneFor(s, d, "mut_sq") { st =>
      st.createMutable("vecs",
        Tables.embeddings(s, d).select(col("vec_id"), col("embedding")),
        "vec_id")
      MutableSq.attach(s, st, "vecs", "embedding", "vecs_sq",
        ncells = 8, iters = 2)
    }
    val e = Tables.embeddings(s, d).select(col("vec_id"), col("embedding")).cache()
    try {
      val mc = store.mutable("vecs")
      mc.upsert(e.filter(col("vec_id") % 10 === 3)
        .withColumn("embedding", reverse(col("embedding"))))
      mc.delete(e.filter(col("vec_id") % 10 === 6).select("vec_id"))
      MutableSq.refresh(s, store, "vecs", "vecs_sq")
      val qv = e.filter(col("vec_id") === 0).select("embedding")
        .head.getSeq[Float](0).map(_.toDouble).toArray
      val out0 = MutableSq.search(s, store, "vecs", "vecs_sq", qv,
          k = 10, nprobe = 4)
        .orderBy(col("dist"), col("vec_id"))
      s.createDataFrame(
        java.util.Arrays.asList(out0.collect(): _*), out0.schema)
    } finally { e.unpersist(); store.destroy() }
  }

  /** BQ search over the LIVE mutable collection —
    * [[graft.operators.MutableBq]], the train-free member of the
    * live-mutable index matrix: signature versions + the shared
    * tombstone filter resolve the live state, the Hamming pre-rank cuts
    * the shortlist over LIVE versions only, and the exact rerank reads
    * CURRENT vectors from the live view. Fully deterministic ⇒ FULL
    * oracle: the twin restates the mutated corpus (reversed %3, %6
    * gone), packs signatures, pre-ranks, reranks — all relationally. */
  val annMutableBq: Q = (s, d) => {
    import graft.operators.MutableBq
    // createMutable + BQ attach from the mutation fixture; the
    // benched verb is the live MUTATION (upsert/delete/refresh) + search
    val (store, _) = MutationFixture.cloneFor(s, d, "mut_bq") { st =>
      st.createMutable("vecs",
        Tables.embeddings(s, d).select(col("vec_id"), col("embedding")),
        "vec_id")
      MutableBq.attach(s, st, "vecs", "embedding", "vecs_bq")
    }
    val e = Tables.embeddings(s, d).select(col("vec_id"), col("embedding")).cache()
    try {
      val mc = store.mutable("vecs")
      mc.upsert(e.filter(col("vec_id") % 10 === 3)
        .withColumn("embedding", reverse(col("embedding"))))
      mc.delete(e.filter(col("vec_id") % 10 === 6).select("vec_id"))
      MutableBq.refresh(s, store, "vecs", "vecs_bq")
      val qv = e.filter(col("vec_id") === 0).select("embedding")
        .head.getSeq[Float](0).toArray
      val out = MutableBq.search(s, store, "vecs", "vecs_bq", qv,
        k = 10, rerank = 4)
      s.createDataFrame(java.util.Arrays.asList(out.collect(): _*), out.schema)
    } finally { e.unpersist(); store.destroy() }
  }

  /** IVF-PQ search over the LIVE mutable collection —
    * [[graft.operators.MutablePq]]: codes-only versions (m bytes each),
    * per-query ADC tables over LIVE candidates (tombstone filter +
    * dedup before the shortlist cut), exact rerank against the
    * watermark live view. The quantizer (coarse router + codebooks)
    * froze at attach on the ORIGINAL corpus, so the oracle trains the
    * full generated PQ chain on the corpus and restates only the
    * encode/search side over the mutated live relation — a hash match
    * proves live-version resolution through the compressed codes
    * equals the relational restatement, codebooks and all. */
  val annMutablePq: Q = (s, d) => {
    import graft.operators.MutablePq
    // createMutable + PQ attach from the mutation fixture; the
    // benched verb is the live MUTATION (upsert/delete/refresh) + search
    val (store, _) = MutationFixture.cloneFor(s, d, "mut_pq") { st =>
      st.createMutable("vecs",
        Tables.embeddings(s, d).select(col("vec_id"), col("embedding")),
        "vec_id")
      MutablePq.attach(s, st, "vecs", "embedding", "vecs_pq", ncells = 16)
    }
    val e = Tables.embeddings(s, d).select(col("vec_id"), col("embedding")).cache()
    try {
      val mc = store.mutable("vecs")
      mc.upsert(e.filter(col("vec_id") % 10 === 3)
        .withColumn("embedding", reverse(col("embedding"))))
      mc.delete(e.filter(col("vec_id") % 10 === 6).select("vec_id"))
      MutablePq.refresh(s, store, "vecs", "vecs_pq")
      val qv = e.filter(col("vec_id") === 0).select("embedding")
        .head.getSeq[Float](0).toArray
      val out = MutablePq.search(s, store, "vecs", "vecs_pq", qv,
        k = 10, nprobe = 4, rerank = 4)
      s.createDataFrame(java.util.Arrays.asList(out.collect(): _*), out.schema)
    } finally { e.unpersist(); store.destroy() }
  }

  /** GRAPH (NSW) search over the LIVE mutable collection —
    * [[graft.operators.MutableGraph]], completing the live-mutable
    * index matrix (IVF / SQ / BQ / graph): cells hold live-resolved
    * node versions, deleted and superseded nodes stay as routing
    * WAYPOINTS (the published HNSW-with-deletions posture) and the
    * shared tombstone filter drops them from the emitted candidates;
    * upserts rebuild only their touched cells. Rows-only by nature
    * (graph walk); exhaustive-config ≡ exact-live-kNN, waypoint
    * exclusion, and point-in-time reads are pinned in
    * MutableGraphSpec. */
  val annMutableGraph: Q = (s, d) => {
    import graft.operators.MutableGraph
    // createMutable + graph attach from the mutation fixture; the
    // benched verb is the live MUTATION (upsert/delete/refresh) + search
    val (store, _) = MutationFixture.cloneFor(s, d, "mut_graph") { st =>
      st.createMutable("vecs",
        Tables.embeddings(s, d).select(col("vec_id"), col("embedding")),
        "vec_id")
      MutableGraph.attach(s, st, "vecs", "embedding", "vecs_graph",
        ncells = 8, iters = 2, m = 8)
    }
    val e = Tables.embeddings(s, d).select(col("vec_id"), col("embedding")).cache()
    try {
      val mc = store.mutable("vecs")
      mc.upsert(e.filter(col("vec_id") % 10 === 3)
        .withColumn("embedding", reverse(col("embedding"))))
      mc.delete(e.filter(col("vec_id") % 10 === 6).select("vec_id"))
      MutableGraph.refresh(s, store, "vecs", "vecs_graph")
      val qv = e.filter(col("vec_id") === 0).select("embedding")
        .head.getSeq[Float](0).map(_.toDouble).toArray
      val out = MutableGraph.search(s, store, "vecs", "vecs_graph", qv,
        k = 10, nprobe = 4, ef = 48)
      s.createDataFrame(java.util.Arrays.asList(out.collect(): _*), out.schema)
    } finally { e.unpersist(); store.destroy() }
  }

  /** GRAPH-index VACUUM — the garbage-collection verb `refresh`
    * deliberately is not ([[graft.operators.MutableGraph.vacuum]]):
    * deletes write no data rows, so refresh touches no cells and every
    * deleted id's node lingers as a routing waypoint; under the
    * reference's add/delete-forever loop a churn-abandoned cell's walk
    * cost grows without bound. The gate runs the deterministic worst
    * case (delete-only mutation — garbage is EXACTLY the deleted ids),
    * vacuums at threshold 0, and emits the post-vacuum EXHAUSTIVE
    * search (provably = exact live kNN — the MutableGraphSpec pin)
    * with the before/after accounting and the search-parity bit as
    * constant columns. FULL hash: the walk result, both garbage
    * counts, the node totals, and "vacuum changed nothing a search
    * could see" are all restated relationally. */
  val annGraphVacuum: Q = (s, d) => {
    import graft.operators.{MutableGraph, MutableVacuum}
    // pre-verb state (attach + delete-only churn + refresh) from the
    // mutation fixture — the benched verb is the graph VACUUM
    val (store, _) = MutationFixture.cloneFor(s, d, "mut_graph_vac") { st =>
      val e0 = Tables.embeddings(s, d).select(col("vec_id"), col("embedding"))
      val mc = st.createMutable("vecs", e0, "vec_id")
      MutableGraph.attach(s, st, "vecs", "embedding", "vecs_graph",
        ncells = 8, iters = 2, m = 8)
      mc.delete(e0.filter(col("vec_id") % 10 === 6).select("vec_id"))
      MutableGraph.refresh(s, st, "vecs", "vecs_graph")
    }
    val e = Tables.embeddings(s, d).select(col("vec_id"), col("embedding")).cache()
    try {
      val n = e.count()
      val qv = e.filter(col("vec_id") === 0).select("embedding")
        .head.getSeq[Float](0).map(_.toDouble).toArray
      // exhaustive configuration: probe all cells, beam the full node
      // set — the regime where the walk equals exact kNN, so the gate
      // result is relationally restatable
      def run() = MutableGraph.search(s, store, "vecs", "vecs_graph", qv,
          k = 10, nprobe = 8, ef = n.toInt + 10)
        .collect().map(r => (r.getLong(0), r.getDouble(2))).toSeq
      def sums(rpt: DataFrame) =
        rpt.agg(sum("n_rows"), sum("n_live"), sum("n_garbage")).head()
      // the pre-vacuum report feeds BOTH the before-stats row and the
      // verb's dirty-cell selection — one O(index) report pass, not two
      // (pinned eagerly: the vacuum below rewrites the files it read)
      val rptBefore = MutableVacuum.report(s, store, "vecs", "vecs_graph")
        .localCheckpoint(true)
      val before = sums(rptBefore)
      val pre = run()
      val vacuumed = MutableGraph.vacuum(s, store, "vecs", "vecs_graph",
        maxGarbagePpm = 0L, precomputedReport = Some(rptBefore))
      val post = run()
      val after = sums(MutableVacuum.report(s, store, "vecs", "vecs_graph"))
      import s.implicits._
      post.map { case (id, dist) => (id, dist,
          before.getLong(0), before.getLong(1), before.getLong(2),
          after.getLong(0), after.getLong(2),
          vacuumed.nonEmpty, post == pre) }
        .toDF("vec_id", "dist", "n_nodes_before", "n_live",
          "n_garbage_before", "n_nodes_after", "n_garbage_after",
          "vacuumed_any", "search_unchanged")
        .orderBy("dist", "vec_id")
    } finally { e.unpersist(); store.destroy() }
  }

  /** Relational-family VACUUM ([[graft.operators.MutableVacuum]]) over
    * the mutable SQ index: upsert + delete accumulate superseded and
    * deleted VERSIONS in the cell-partitioned code layout (scan-width
    * garbage, the IVF/SQ/PQ analog of the graph's waypoints);
    * vacuumCells rewrites only the dirty cells, keeping live + pending
    * rows. The mutation script is the registry's standard one, so every
    * count is integer-exact in SQL, and the searches before and after
    * must be IDENTICAL (vacuum removes only what search already
    * filters). One accounting row under a FULL hash. */
  val annSqVacuum: Q = (s, d) => {
    import graft.operators.{MutableSq, MutableVacuum}
    // pre-verb state (attach + mutation script + refresh) from the
    // mutation fixture — the benched verb is the VACUUM
    val (store, _) = MutationFixture.cloneFor(s, d, "mut_sq_vac") { st =>
      val e0 = Tables.embeddings(s, d).select(col("vec_id"), col("embedding"))
      val mc = st.createMutable("vecs", e0, "vec_id")
      MutableSq.attach(s, st, "vecs", "embedding", "vecs_sq",
        ncells = 8, iters = 2)
      mc.upsert(e0.filter(col("vec_id") % 10 === 3)
        .withColumn("embedding", reverse(col("embedding"))))
      mc.delete(e0.filter(col("vec_id") % 10 === 6).select("vec_id"))
      MutableSq.refresh(s, st, "vecs", "vecs_sq")
    }
    val e = Tables.embeddings(s, d).select(col("vec_id"), col("embedding")).cache()
    try {
      val qv = e.filter(col("vec_id") === 0).select("embedding")
        .head.getSeq[Float](0).map(_.toDouble).toArray
      def run() = MutableSq.search(s, store, "vecs", "vecs_sq", qv,
          k = 10, nprobe = 4)
        .collect().map(r => (r.getLong(0), r.getDouble(2))).toSeq
      def sums(rpt: DataFrame) = rpt
        .agg(sum("n_rows"), sum("n_live"), sum("n_garbage"), sum("n_pending"))
        .head()
      // one pre-vacuum report pass feeds the before-stats row AND the
      // verb's dirty-cell selection (pinned: the vacuum rewrites the
      // files the report read)
      val rptBefore = MutableVacuum.report(s, store, "vecs", "vecs_sq")
        .localCheckpoint(true)
      val before = sums(rptBefore)
      val pre = run()
      val vacuumed = MutableVacuum.vacuumCells(s, store, "vecs", "vecs_sq",
        maxGarbagePpm = 0L, precomputedReport = Some(rptBefore))
      val post = run()
      val after = sums(MutableVacuum.report(s, store, "vecs", "vecs_sq"))
      import s.implicits._
      Seq((before.getLong(0), before.getLong(1), before.getLong(2),
          after.getLong(0), after.getLong(2), after.getLong(3),
          vacuumed.nonEmpty, post == pre))
        .toDF("n_rows_before", "n_live", "n_garbage_before",
          "n_rows_after", "n_garbage_after", "n_pending_after",
          "vacuumed_any", "search_unchanged")
    } finally { e.unpersist(); store.destroy() }
  }

  /** VACUUM ADVISOR over the BQ family's flat signature index
    * ([[graft.operators.MutableVacuum.advisor]] + `vacuumFlat`): the
    * index-garbage counterpart of `collection_compact_advisor`. The BQ
    * layout has no cells, so its worst-cell garbage ppm IS the global
    * fraction — integer-exact in SQL — and the whole decision sits
    * under the hash: the before row must recommend (2/11 of versions
    * are garbage > the 10% threshold), the flat vacuum must rewrite,
    * and the after row must report zero garbage and recommend nothing. */
  /** Vacuum ADVISOR over BOTH versioned layouts (r14 #5 closed the
    * BQ-flat-only gap): one advisor call covers the flat BQ signature
    * relation AND the cell-partitioned SQ index, so both vacuumFlat and
    * vacuumCells recommendations — and the per-cell worst-ppm
    * arithmetic behind the SQ one — sit under the gate hash. The
    * oracle re-derives the SQ router relationally (kmeans CTE),
    * assigns the reversed upserts with the frozen quantizer, replays
    * the per-cell garbage fractions, the dirty-cell selection, and
    * both rewrite decisions. */
  val annVacuumAdvisor: Q = (s, d) => {
    import graft.operators.{MutableBq, MutableSq, MutableVacuum}
    // pre-verb state (both attaches + mutation script + refreshes) from
    // the mutation fixture — the benched verbs are ADVISOR + both vacuums
    val (store, _) = MutationFixture.cloneFor(s, d, "mut_advisor") { st =>
      val e0 = Tables.embeddings(s, d).select(col("vec_id"), col("embedding"))
      val mc = st.createMutable("vecs", e0, "vec_id")
      MutableBq.attach(s, st, "vecs", "embedding", "vecs_bq")
      MutableSq.attach(s, st, "vecs", "embedding", "vecs_sq",
        ncells = 4, iters = 2)
      mc.upsert(e0.filter(col("vec_id") % 10 === 3)
        .withColumn("embedding", reverse(col("embedding"))))
      mc.delete(e0.filter(col("vec_id") % 10 === 6).select("vec_id"))
      MutableBq.refresh(s, st, "vecs", "vecs_bq")
      MutableSq.refresh(s, st, "vecs", "vecs_sq")
    }
    try {
      // the advise-then-vacuum loop: each index's report is computed
      // ONCE per phase and feeds both the advisor row and the vacuum
      // verb (the report is the only O(index) read either makes before
      // the rewrite). Pinned eagerly — the vacuums rewrite the files
      // the before-reports read.
      def rpt(index: String) = MutableVacuum.report(s, store, "vecs", index)
      def adv(phase: String, reports: Seq[(String, DataFrame)]) =
        MutableVacuum.advisorFromReports(s, reports, maxGarbagePpm = 100000L)
          .withColumn("phase", lit(phase))
      val rptBq = rpt("vecs_bq").localCheckpoint(true)
      val rptSq = rpt("vecs_sq").localCheckpoint(true)
      val before = adv("before", Seq("vecs_bq" -> rptBq, "vecs_sq" -> rptSq))
      val beforeRows = s.createDataFrame(
        java.util.Arrays.asList(before.collect(): _*), before.schema)
      val rewroteBq = MutableVacuum.vacuumFlat(s, store, "vecs", "vecs_bq",
        maxGarbagePpm = 100000L, precomputedReport = Some(rptBq))
      val rewroteSq = MutableVacuum.vacuumCells(s, store, "vecs", "vecs_sq",
        maxGarbagePpm = 100000L, precomputedReport = Some(rptSq)).nonEmpty
      def withRewrote(df: DataFrame) = df.withColumn("rewrote",
        when(col("index") === "vecs_bq", lit(rewroteBq))
          .otherwise(lit(rewroteSq)))
      val after = withRewrote(adv("after",
        Seq("vecs_bq" -> rpt("vecs_bq"), "vecs_sq" -> rpt("vecs_sq"))))
      val afterRows = s.createDataFrame(
        java.util.Arrays.asList(after.collect(): _*), after.schema)
      withRewrote(beforeRows).unionByName(afterRows)
        .orderBy("phase", "index")
    } finally store.destroy()
  }

  /** KEYSET pagination over the live mutable collection — the scale
    * path for the Chroma `get(limit=, offset=)` surface
    * ([[graft.store.MutableCollection.getAfter]]): deep pages cost what
    * page 1 costs because the cursor is a pushed-down scan predicate +
    * TakeOrdered, with NO single-partition window (plan-pinned in
    * MutableSqSpec's sibling; offset `getPage` stays as the shallow
    * convenience). The page reads the post-mutation LIVE state, so the
    * oracle restates current versions (upserted labels, deleted ids
    * gone) and cuts the same (id > cursor, id order, limit) window
    * relationally. */
  val pageKeyset: Q = (s, d) => {
    val root = java.nio.file.Files.createTempDirectory("graft_pagek").toString
    val store = graft.store.VectorStore(root)
    val e = Tables.embeddings(s, d).select(col("vec_id"), col("label")).cache()
    try {
      val mc = store.createMutable("vecs", e, "vec_id")
      mc.upsert(e.filter(col("vec_id") % 10 === 3)
        .withColumn("label", col("label") + 10))
      mc.delete(e.filter(col("vec_id") % 10 === 6).select("vec_id"))
      val out = mc.getAfter(s, lastId = 100L, limit = 25)
        .select(col("vec_id"), col("label"))
      s.createDataFrame(java.util.Arrays.asList(out.collect(): _*), out.schema)
    } finally { e.unpersist(); store.destroy() }
  }

  /** STREAMING ingest into the stored IVF index — the online twin of
    * `ann_ivf_incremental`: the standing corpus builds the
    * cell-partitioned store, the arrivals slice flows through a
    * Structured Streaming `foreachBatch` sink
    * ([[graft.streaming.IndexStream.ivfBatchSink]]) with exactly-once
    * semantics (batchId watermark + collision anti-filter), INCLUDING
    * deterministic replays of both recovery paths (a skipped
    * at-watermark batch and an all-duplicate post-crash batch), and the
    * probe over the maintained store hash-matches the same full-corpus
    * oracle as `ann_ivf_store` — streaming maintenance and restart
    * recovery are both invisible to the answer. */
  val streamingAnnIngest: Q = (s, d) => {
    import graft.plans.AnnProbe
    // standing 16-cell IVF layout from the mutation fixture (frozen
    // router cached as the payload) — the benched verb is the STREAM
    val (store, cents) = ivfStandingClone(s, d)
    val e = Tables.embeddings(s, d).cache()
    try {
    val qv = e.filter(col("vec_id") === 0).select("embedding")
      .collect().head.getSeq[Float](0).toArray
    graft.streaming.IndexStream.runStreamingIvfIngest(
      s, s"$d/embeddings.parquet", store, "vectors", cents)
    AnnProbe.withProbe(s, cents, nprobe = 4) {
      val probed = store.read(s, "vectors")
        .orderBy(l2Sq(col("embedding"), vecLit(qv)), col("vec_id"))
        .limit(10)
        .select("vec_id", "label", "cell_id")
      s.createDataFrame(java.util.Arrays.asList(probed.collect(): _*), probed.schema)
    }
    } finally { e.unpersist(); store.destroy() }
  }

  /** Streaming ingest into the stored NSW GRAPH index — the last index
    * family to gain a streaming path, and the only one whose per-batch
    * effect is a touched-cell REBUILD: the standing slice builds the
    * stored graph (frozen full-corpus router), the arrival slice streams
    * through [[graft.streaming.IndexStream.graphBatchSink]] (exactly-once:
    * commit watermark + per-id anti-filter heal, both recovery paths
    * deterministically replayed by the harness), and the gate checks the
    * maintained store's ASSIGNMENT MANIFEST — per-cell node count and id
    * checksum — under a FULL hash (cell routing is SQL-derivable via the
    * kmeans CTE; the adjacency itself is the walk kernel's spec
    * territory, and stream==batch-incremental search parity is pinned in
    * AnnProbeSpec). */
  val streamingGraphIngest: Q = (s, d) => {
    // standing NSW graph layout from the mutation fixture (frozen
    // router cached as the payload) — the benched verb is the STREAM
    val (store, cents) = MutationFixture.cloneFor(s, d, "stream_graph") { st =>
      val e0 = Tables.embeddings(s, d)
      val c = Clustering.trainCentroids(e0, 8, 2)
      val standing =
        e0.filter(col("vec_id") =!= 0 && col("vec_id") % 10 =!= 7)
      val (g0, _) = GraphAnn.buildGraph(standing, "embedding", "vec_id",
        ncells = 8, m = 8, centroids = Some(c))
      st.create("graph", g0.toDF(), partitionBy = Seq("cell_id"))
      c
    }
    try {
      graft.streaming.IndexStream.runStreamingGraphIngest(
        s, s"$d/embeddings.parquet", store, "graph", cents)
      val out = store.read(s, "graph")
        .groupBy(col("cell_id").cast("int").as("cell_id"))
        .agg(count(lit(1)).as("n_nodes"),
          expr("bit_xor(id)").as("id_xor"))
        .orderBy("cell_id")
      s.createDataFrame(java.util.Arrays.asList(out.collect(): _*), out.schema)
    } finally store.destroy()
  }

  /** Streaming ingest into the stored BQ / SQ / PQ indexes — the three
    * encode-and-append families stream through ONE shared exactly-once
    * sink ([[graft.streaming.IndexStream.encodedBatchSink]]: watermark
    * skip + per-id anti-filter heal, both replays driven by the
    * harness), and each maintained store answers with the SAME
    * full-corpus oracle as its `_store` sibling — streaming ingest
    * provably invisible to the answer, family by family. */
  val streamingBqIngest: Q = (s, d) => {
    // standing BQ signature index from the mutation fixture — the
    // benched verb is the STREAM
    val (store, _) = MutationFixture.cloneFor(s, d, "stream_bq") { st =>
      Similarity.buildBqIndex(st, "bq_sigs",
        Tables.embeddings(s, d)
          .filter(col("vec_id") =!= 0 && col("vec_id") % 10 =!= 7),
        "embedding", "vec_id")
    }
    val e = Tables.embeddings(s, d).cache()
    try {
      val corpus = e.filter(col("vec_id") =!= 0)
      graft.streaming.IndexStream.runArrivalStream(s, s"$d/embeddings.parquet",
        store, "bq_sigs",
        graft.streaming.IndexStream.bqBatchSink(store, "bq_sigs",
          "embedding", "vec_id") _)
      val qv = e.filter(col("vec_id") === 0).select("embedding")
        .head.getSeq[Float](0).toArray
      // the stream delivers every vec_id%10==7 row incl. vec_id 0's
      // cohort-mate 7 — the search filters to the corpus like the store
      // query, so the oracle is shared verbatim
      val out = Similarity.bqSearchStored(
        store.read(s, "bq_sigs").filter(col("vec_id") =!= 0), corpus,
        "embedding", "vec_id", qv, k = 10, rerank = 4)
      s.createDataFrame(java.util.Arrays.asList(out.collect(): _*), out.schema)
    } finally { e.unpersist(); store.destroy() }
  }

  val streamingSqIngest: Q = (s, d) => {
    // standing SQ layout from the mutation fixture (router + per-dim
    // ranges cached as the payload) — the benched verb is the STREAM
    val (store, (cents, mins, maxs)) = sqStandingClone(s, d)
    val e = Tables.embeddings(s, d).cache()
    try {
      graft.streaming.IndexStream.runArrivalStream(s, s"$d/embeddings.parquet",
        store, "vectors_sq",
        graft.streaming.IndexStream.sqBatchSink(store, "vectors_sq",
          "embedding", "vec_id", cents, mins, maxs) _)
      val qv = e.filter(col("vec_id") === 0).select(col("embedding"))
        .head.getSeq[Float](0).map(_.toDouble).toArray
      val out = Similarity.sqSearchStored(
        store.read(s, "vectors_sq").filter(col("vec_id") =!= 0),
        "vec_id", cents, mins, maxs, qv, k = 10, nprobe = 4)
      s.createDataFrame(java.util.Arrays.asList(out.collect(): _*), out.schema)
    } finally { e.unpersist(); store.destroy() }
  }

  val streamingPqIngest: Q = (s, d) => {
    // standing PQ layout from the mutation fixture (router + codebooks
    // cached as the payload) — the benched verb is the STREAM
    val (store, (cents, cb)) = pqStandingClone(s, d)
    val e = Tables.embeddings(s, d).cache()
    try {
      graft.streaming.IndexStream.runArrivalStream(s, s"$d/embeddings.parquet",
        store, "vectors_pq",
        graft.streaming.IndexStream.pqBatchSink(store, "vectors_pq",
          "embedding", "vec_id", cents, cb) _)
      val q = e.filter(col("vec_id") < 5)
        .select(col("vec_id").as("q_id"), col("embedding").as("q_vec"))
      val out = Similarity.pqSearchEncoded(store.read(s, "vectors_pq"),
          "embedding", "vec_id", cents, cb, q, "q_id", "q_vec",
          k = 10, nprobe = 4)
        .orderBy("q_id", "rank")
      s.createDataFrame(java.util.Arrays.asList(out.collect(): _*), out.schema)
    } finally { e.unpersist(); store.destroy() }
  }

  /** Graph-index RETRAIN at a new geometry — the verb that completes the
    * graph lifecycle (build 8-cell from the standing slice → nightly
    * append → retrain the whole store at 4 cells → atomic swap). The
    * gate hashes the retrained store's ASSIGNMENT MANIFEST against the
    * kmeans oracle AT THE NEW GEOMETRY (k=4, trained on the store's own
    * content = the vec_id≠0 slice) — no notion of the old build, the
    * append, or the swap, so the verb provably equals a from-scratch
    * rebuild; walk parity is spec territory (AnnProbeSpec). */
  val annGraphRetrain: Q = (s, d) => {
    // pre-verb state (8-cell standing build + nightly append) from the
    // mutation fixture — the benched verb is the graph RETRAIN
    val (store, _) = MutationFixture.cloneFor(s, d, "graph_rt") { st =>
      val e0 = Tables.embeddings(s, d)
      val cents = Clustering.trainCentroids(e0, 8, 2)
      val (g0, _) = GraphAnn.buildGraph(
        e0.filter(col("vec_id") =!= 0 && col("vec_id") % 10 =!= 7),
        "embedding", "vec_id", ncells = 8, m = 8, centroids = Some(cents))
      st.create("graph", g0.toDF(), partitionBy = Seq("cell_id"))
      GraphAnn.insertIntoStored(st, "graph",
        e0.filter(col("vec_id") =!= 0 && col("vec_id") % 10 === 7),
        "embedding", "vec_id", cents): Unit
    }
    try {
      GraphAnn.retrainStored(s, store, "graph", ncells = 4): Unit
      val out = store.read(s, "graph")
        .groupBy(col("cell_id").cast("int").as("cell_id"))
        .agg(count(lit(1)).as("n_nodes"), expr("bit_xor(id)").as("id_xor"))
        .orderBy("cell_id")
      s.createDataFrame(java.util.Arrays.asList(out.collect(): _*), out.schema)
    } finally store.destroy()
  }

  val annIvfStore: Q = (s, d) => {
    import graft.plans.AnnProbe
    val (store, cents) = ServingFixture.fixtureFor(s, d)
    val qv = Tables.embeddings(s, d).filter(col("vec_id") === 0)
      .select("embedding").collect().head.getSeq[Float](0).toArray
    AnnProbe.withProbe(s, cents, nprobe = 4) {
      val probed = store.read(s, "vectors")
        .orderBy(l2Sq(col("embedding"), vecLit(qv)), col("vec_id"))
        .limit(10)
        .select("vec_id", "label", "cell_id")
      // materialize inside the probe scope
      s.createDataFrame(java.util.Arrays.asList(probed.collect(): _*), probed.schema)
    }
  }

  private def adaptiveKnnAt(s: SparkSession, d: String,
                            pred: org.apache.spark.sql.Column): DataFrame = {
    val e = Tables.embeddings(s, d).cache()
    try {
      val qv = e.filter(col("vec_id") === 0).select("embedding")
        .collect().head.getSeq[Float](0).toArray
      val out = Similarity.adaptiveFilteredKnn(e, "embedding", "vec_id",
        pred, qv, k = 10, ncells = 16, nprobe = 4).orderBy("rank")
      s.createDataFrame(java.util.Arrays.asList(out.collect(): _*), out.schema)
    } finally e.unpersist()
  }

  /** Cost-based filtered ANN, selective predicate (~1.4% match): the
    * decision pass must pick the exact pre-filter plan — path='pre' is
    * part of the hashed output. */
  val annAdaptivePrefilter: Q = (s, d) =>
    adaptiveKnnAt(s, d, col("label") === 3 && col("vec_id") % 7 === 0)

  /** Cost-based filtered ANN, broad predicate (~80% match): the decision
    * must pick the IVF post-filter plan — path='post' under the hash. */
  val annAdaptivePostfilter: Q = (s, d) =>
    adaptiveKnnAt(s, d, col("label") >= 2)

  /** Recall-evaluation report: recall@10 of the IVF probe vs exact top-10
    * at nprobe in {1,2,4,8} over a 5-query panel, with per-setting
    * candidate volume — the index-tuning verb. Every number relationally
    * re-derived by the oracle. */
  val annRecallReport: Q = (s, d) => {
    val e = Tables.embeddings(s, d).cache()
    try {
      val q = e.filter(col("vec_id") < 5)
        .select(col("vec_id").as("q_id"), col("embedding").as("q_vec"))
      Similarity.recallReport(e, "embedding", "vec_id", q, "q_id", "q_vec",
        k = 10, ncells = 16, nprobes = Seq(1, 2, 4, 8))
    } finally e.unpersist()
  }

  /** Graded ranking-quality report: MRR@10 and NDCG@10 of the IVF probe
    * vs the exact top-10 at nprobe ∈ {1,2,4,8} over the 5-query panel.
    * All metrics integer/fixed-point (shared discount-table longs,
    * round-half-up integer divisions), so the oracle re-derives every
    * number with no IEEE fold-order caveats. */
  val annEvalGraded: Q = (s, d) => {
    val e = Tables.embeddings(s, d).cache()
    try {
      val q = e.filter(col("vec_id") < 5)
        .select(col("vec_id").as("q_id"), col("embedding").as("q_vec"))
      Similarity.gradedEvalReport(e, "embedding", "vec_id", q, "q_id", "q_vec",
        k = 10, ncells = 16, nprobes = Seq(1, 2, 4, 8))
    } finally e.unpersist()
  }

  /** Index advisor: every compressed stored family built at its gate
    * geometry, probed with vector 0, recall@10 measured against each
    * family's own exact ranking, priced in bytes/vector, and the
    * cheapest family meeting recall ≥ 0.7 RECOMMENDED — the whole
    * decision table (5 rows, booleans included) under the oracle hash,
    * each family's search restated verbatim by its existing twin. */
  val annIndexAdvisor: Q = (s, d) => {
    val e = Tables.embeddings(s, d).cache()
    try {
      val qv = e.filter(col("vec_id") === 0).select("embedding")
        .head.getSeq[Float](0).toArray
      Similarity.indexAdvisor(e, "embedding", "vec_id", qv, k = 10,
          targetRecall = 0.7, ncells = 16, nprobe = 4, selfId = Some(0L))
        .orderBy("family")
    } finally e.unpersist()
  }

  /** Recall-targeted autotune: evaluate nprobe ∈ {1,2,4,8} on the 5-query
    * panel, choose the cheapest meeting recall@10 ≥ 0.9 (integer-exact
    * hit-count rule), serve at that setting — the DECISION and the
    * served results both sit under the oracle hash. */
  val annAutotune: Q = (s, d) => {
    val e = Tables.embeddings(s, d).cache()
    try {
      val q = e.filter(col("vec_id") < 5)
        .select(col("vec_id").as("q_id"), col("embedding").as("q_vec"))
      Similarity.autotuneNprobe(e, "embedding", "vec_id", q, "q_id", "q_vec",
          k = 10, ncells = 16, nprobes = Seq(1, 2, 4, 8), targetRecall = 0.9)
        .orderBy("q_id", "rank")
    } finally e.unpersist()
  }

  /** Triplet-tier mining ([[graft.operators.Mining.hardNegatives]]) —
    * the LABEL-AWARE half of contrastive data prep that
    * `mine_hard_negatives`'s band heuristic cannot express: six
    * anchors, each paired with its 10 nearest OTHER-class vectors,
    * every pair classified hard / semi_hard / easy against the
    * anchor's nearest same-class POSITIVE (the FaceNet/SBERT triplet
    * rule) in pure integer micro-units. FULL hash: the oracle restates
    * the scored cross join, the per-anchor positive max, the
    * (cos desc, id) top-k window, and the tier CASE — the mining
    * decision per pair sits under the hash. */
  val mineTriplets: Q = (s, d) => {
    val e = Tables.embeddings(s, d)
    val anchors = e.filter(col("vec_id") < 6)
      .select(col("vec_id").as("a_id"), col("embedding").as("a_vec"),
        col("label").as("a_label"))
    graft.operators.Mining.hardNegatives(e, "embedding", "vec_id", "label",
        anchors, "a_id", "a_vec", "a_label", k = 10, marginMu = 50000L)
      .orderBy("a_id", "rank")
  }

  /** Batch kNN over the STORED IVF layout: 5 query vectors amortized onto
    * one partition-pruned scan of the union of probed cells — the bulk
    * retrieval / evaluation-panel posture. Per-query results must equal
    * the inline router relationally re-derived by the oracle. */
  val annIvfStoreBatch: Q = (s, d) => {
    val (store, cents) = ServingFixture.fixtureFor(s, d)
    val q = Tables.embeddings(s, d).filter(col("vec_id") < 5)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_vec"))
    val out = Similarity.ivfSearchStoredMany(store.read(s, "vectors"),
        "embedding", "vec_id", cents, q, "q_id", "q_vec", k = 10, nprobe = 4)
      .orderBy("q_id", "rank")
    s.createDataFrame(java.util.Arrays.asList(out.collect(): _*), out.schema)
  }

  /** kNN over the STORED IVF-PQ layout — the full 100 TB search posture
    * in one query: the index build writes (vec_id, embedding, pq_code)
    * PARTITIONED BY cell_id, and the search scores candidates from the
    * STORED 8-byte codes behind a literal `cell_id IN (probed)` filter —
    * so the probe is a partition-pruned scan that reads ~nprobe/ncells of
    * the files and ~m bytes per candidate (parquet column pruning keeps
    * the vector column untouched until the bounded exact rerank). No
    * per-query re-encoding of the collection — the r7 `ann_ivf_store`
    * argument extended to the PQ payload. Partition pruning pinned in
    * PlanSpec; recall@10 vs brute force pinned in AnnProbeSpec.
    * Approximate by construction -> rows-only. */
  val annIvfPqStore: Q = (s, d) => {
    // layout from the pristine fixture, router AND codebooks from the
    // SIDECAR — the search proves the stored PQ tier is
    // self-describing (no in-memory artifact survives from the build)
    val (store, _) = MutationFixture.pristineFor(s, d, "pq_store") { st =>
      Similarity.buildIvfPqIndex(st, "vectors_pq", Tables.embeddings(s, d),
        "embedding", "vec_id", ncells = 16): Unit
    }
    val (cents, cb) = Similarity.readPqCodebook(store, "vectors_pq").get
    val q = Tables.embeddings(s, d).filter(col("vec_id") < 5)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_vec"))
    val out = Similarity.pqSearchEncoded(store.read(s, "vectors_pq"),
        "embedding", "vec_id", cents, cb, q, "q_id", "q_vec",
        k = 10, nprobe = 4)
      .orderBy("q_id", "rank")
    s.createDataFrame(java.util.Arrays.asList(out.collect(): _*), out.schema)
  }

  /** kNN over the STORED int8-SQ layout — the scale posture of
    * `ann_ivfpq_store` with the full-oracle property of `ann_sq_topk`:
    * the build writes (vec_id, sq_code) PARTITIONED BY cell_id (the
    * deterministic-Lloyd coarse quantizer, k=8), so the probe is a
    * partition-pruned scan reading nprobe/ncells of the files at
    * 1 byte/dim. Every arithmetic step — centroid training, probe-cell
    * selection, encode, ADC — is SQL-reproducible, making this the
    * first STORED ANN with a FULL hash oracle (PQ's subquantizer
    * k-means is sampled+closure-trained; SQ's min/max quantizer is
    * comparisons only). Partition pruning pinned in AnnProbeSpec;
    * recall@10 vs brute force pinned there too. */
  val annIvfSqStore: Q = (s, d) => {
    // layout from the pristine fixture, quantizer from the SIDECAR —
    // the search proves the stored SQ tier is self-describing
    val (store, _) = MutationFixture.pristineFor(s, d, "sq_store") { st =>
      Similarity.buildIvfSqIndex(st, "vectors_sq", Tables.embeddings(s, d),
        "embedding", "vec_id"): Unit
    }
    val (cents, mins, maxs) =
      Similarity.readSqQuantizer(store, "vectors_sq").get
    val qv = Tables.embeddings(s, d).filter(col("vec_id") === 0)
      .select(col("embedding")).head.getSeq[Float](0).map(_.toDouble).toArray
    val out = Similarity.sqSearchStored(
      store.read(s, "vectors_sq").filter(col("vec_id") =!= 0),
      "vec_id", cents, mins, maxs, qv, k = 10, nprobe = 4)
    s.createDataFrame(java.util.Arrays.asList(out.collect(): _*), out.schema)
  }

  /** Incremental stored-SQ maintenance — the int8 member of the
    * nightly-append family: the frozen quantizer (full-corpus centroids
    * + per-dim min/max, the build-time artifacts) encodes the arrival
    * slice through [[Similarity.insertIntoStoredSq]] (O(batch)
    * dynamic-partition append), and the probe over the maintained store
    * hash-matches the SAME full-corpus oracle as `ann_ivfsq_store` —
    * maintenance invisibility under the hash, for the family whose
    * every arithmetic step is SQL-reproducible. */
  /** Standing SQ / PQ layouts (full-corpus-trained frozen quantizers,
    * standing slice vec_id % 10 != 7) shared by the streaming and the
    * batch-incremental maintenance gates — one fixture build each,
    * cloned per invocation; the quantizer rides as the payload. */
  private def sqStandingClone(s: SparkSession, d: String): (graft.store.VectorStore,
      (Array[Array[Float]], Array[Double], Array[Double])) =
    MutationFixture.cloneFor(s, d, "stream_sq") { st =>
      val e0 = Tables.embeddings(s, d)
      val c = Clustering.trainCentroids(e0, 8, 2, "vec_id", "embedding")
      val (mn, mx) = Similarity.sqMinMax(e0, "embedding")
      st.create("vectors_sq", Similarity.sqAssignEncode(
        e0.filter(col("vec_id") % 10 =!= 7), "embedding", "vec_id",
        c, mn, mx), partitionBy = Seq("cell_id"))
      (c, mn, mx)
    }

  private def pqStandingClone(s: SparkSession, d: String): (graft.store.VectorStore,
      (Array[(Int, Array[Float])], Similarity.PqCodebook)) =
    MutationFixture.cloneFor(s, d, "stream_pq") { st =>
      val e0 = Tables.embeddings(s, d)
      val (c, b) =
        Similarity.trainIvfPq(e0, "embedding", "vec_id", ncells = 16)
      st.create("vectors_pq", Similarity.pqEncode(
        e0.filter(col("vec_id") % 10 =!= 7), "embedding", "vec_id", c, b),
        partitionBy = Seq("cell_id"))
      (c, b)
    }

  val annIvfSqIncremental: Q = (s, d) => {
    // SAME standing layout as streaming_sq_ingest's fixture — the
    // benched verb is the O(batch) frozen-quantizer APPEND + search
    val (store, (cents, mins, maxs)) = sqStandingClone(s, d)
    val e = Tables.embeddings(s, d).cache()
    try {
      Similarity.insertIntoStoredSq(store, "vectors_sq",
        e.filter(col("vec_id") % 10 === 7), "embedding", "vec_id",
        cents, mins, maxs): Unit
      val qv = e.filter(col("vec_id") === 0).select(col("embedding"))
        .head.getSeq[Float](0).map(_.toDouble).toArray
      val out = Similarity.sqSearchStored(
        store.read(s, "vectors_sq").filter(col("vec_id") =!= 0),
        "vec_id", cents, mins, maxs, qv, k = 10, nprobe = 4)
      s.createDataFrame(java.util.Arrays.asList(out.collect(): _*), out.schema)
    } finally { e.unpersist(); store.destroy() }
  }

  /** Incremental stored-IVF-PQ maintenance — the LAST stored family to
    * gain the nightly-append verb (IVF, graph, BQ, SQ, text, sparse all
    * have theirs): frozen coarse router + frozen codebooks encode the
    * arrival slice ([[Similarity.insertIntoStoredPq]], O(batch)), and
    * the ADC search over the maintained store answers with the SAME
    * generated full-chain oracle as `ann_ivfpq_store`. */
  val annIvfPqIncremental: Q = (s, d) => {
    // SAME standing layout as streaming_pq_ingest's fixture — the
    // benched verb is the O(batch) frozen-codebook APPEND + ADC search
    val (store, (cents, cb)) = pqStandingClone(s, d)
    val e = Tables.embeddings(s, d).cache()
    try {
      Similarity.insertIntoStoredPq(store, "vectors_pq",
        e.filter(col("vec_id") % 10 === 7), "embedding", "vec_id", cents, cb): Unit
      val q = e.filter(col("vec_id") < 5)
        .select(col("vec_id").as("q_id"), col("embedding").as("q_vec"))
      val out = Similarity.pqSearchEncoded(store.read(s, "vectors_pq"),
          "embedding", "vec_id", cents, cb, q, "q_id", "q_vec",
          k = 10, nprobe = 4)
        .orderBy("q_id", "rank")
      s.createDataFrame(java.util.Arrays.asList(out.collect(): _*), out.schema)
    } finally { e.unpersist(); store.destroy() }
  }

  /** RETRAIN-AND-REBUILD of the stored int8-SQ index — the first encode
    * family to complete the lifecycle (build → append → drift →
    * retrain): the store is built with a quantizer fitted on the
    * STANDING slice only (deliberately stale — both the centroids and
    * the min/max ranges miss the arrivals), the arrival slice appends
    * through the frozen quantizer, then
    * [[graft.operators.Similarity.retrainStoredSq]] refits the WHOLE
    * quantizer on the full corpus at a NEW geometry (4 cells) and
    * atomically swaps the re-encoded layout. The probe with the new
    * quantizer hash-matches an oracle that derives the 4-cell k-means +
    * full-corpus min/max straight from the corpus — no notion of the
    * stale build, the appends, or the swap — so the verb provably
    * equals a from-scratch rebuild (also spec-pinned byte-for-byte). */
  val annSqRetrain: Q = (s, d) => {
    // pre-verb state (stale standing-trained quantizer + frozen append)
    // from the mutation fixture — the benched verb is the SQ RETRAIN
    val (store, _) = MutationFixture.cloneFor(s, d, "sq_rt") { st =>
      val e0 = Tables.embeddings(s, d)
      val standing = e0.filter(col("vec_id") % 10 =!= 7)
      val cents0 = Clustering.trainCentroids(standing, 8, 2)
      val (mins0, maxs0) = Similarity.sqMinMax(standing, "embedding")
      st.create("vectors_sq", Similarity.sqAssignEncode(
        standing, "embedding", "vec_id", cents0, mins0, maxs0),
        partitionBy = Seq("cell_id"))
      Similarity.insertIntoStoredSq(st, "vectors_sq",
        e0.filter(col("vec_id") % 10 === 7), "embedding", "vec_id",
        cents0, mins0, maxs0): Unit
    }
    val e = Tables.embeddings(s, d).cache()
    try {
      val (cents, mins, maxs) = Similarity.retrainStoredSq(
        s, store, "vectors_sq", e, "embedding", "vec_id", ncells = 4, iters = 2)
      val qv = e.filter(col("vec_id") === 0).select(col("embedding"))
        .head.getSeq[Float](0).map(_.toDouble).toArray
      val out = Similarity.sqSearchStored(
        store.read(s, "vectors_sq").filter(col("vec_id") =!= 0),
        "vec_id", cents, mins, maxs, qv, k = 10, nprobe = 2)
      s.createDataFrame(java.util.Arrays.asList(out.collect(): _*), out.schema)
    } finally { e.unpersist(); store.destroy() }
  }

  /** RETRAIN-AND-REBUILD of the stored IVF-PQ index at a NEW geometry
    * (16 → 8 coarse cells, codebooks refitted on the store's own
    * vectors): build from the standing slice with full-corpus-trained
    * artifacts, append the arrivals frozen, then
    * [[graft.operators.Similarity.retrainStoredPq]] — and the ADC
    * search over the swapped layout answers under the SAME generated
    * full-chain oracle as `ann_ivfpq_store`, re-parameterized at 8
    * cells with no notion of the old build. */
  val annPqRetrain: Q = (s, d) => {
    // pre-verb state (16-cell PQ build + nightly append) from the
    // mutation fixture — the benched verb is the PQ RETRAIN
    val (store, _) = MutationFixture.cloneFor(s, d, "pq_rt") { st =>
      val e0 = Tables.embeddings(s, d)
      val (cents0, cb0) =
        Similarity.trainIvfPq(e0, "embedding", "vec_id", ncells = 16)
      st.create("vectors_pq", Similarity.pqEncode(
        e0.filter(col("vec_id") % 10 =!= 7), "embedding", "vec_id", cents0, cb0),
        partitionBy = Seq("cell_id"))
      Similarity.insertIntoStoredPq(st, "vectors_pq",
        e0.filter(col("vec_id") % 10 === 7), "embedding", "vec_id",
        cents0, cb0): Unit
    }
    val e = Tables.embeddings(s, d).cache()
    try {
      val (cents, cb) = Similarity.retrainStoredPq(
        s, store, "vectors_pq", "embedding", "vec_id", ncells = 8)
      val q = e.filter(col("vec_id") < 5)
        .select(col("vec_id").as("q_id"), col("embedding").as("q_vec"))
      val out = Similarity.pqSearchEncoded(store.read(s, "vectors_pq"),
          "embedding", "vec_id", cents, cb, q, "q_id", "q_vec",
          k = 10, nprobe = 4)
        .orderBy("q_id", "rank")
      s.createDataFrame(java.util.Arrays.asList(out.collect(): _*), out.schema)
    } finally { e.unpersist(); store.destroy() }
  }

  /** RETRAIN of the stored BQ signature index — the binary quantizer's
    * new geometry is its THRESHOLD VECTOR: the sign-at-zero index is
    * built and maintained as usual, then
    * [[graft.operators.Similarity.retrainStoredBq]] refits per-dim
    * thresholds at the corpus means (fixed-point long sums — the
    * centered-BQ refit), re-encodes every signature, swaps, and the
    * centered search must hash-match an oracle that derives thresholds,
    * signatures, Hamming pre-rank, and exact rerank relationally from
    * the corpus alone. */
  val annBqRetrain: Q = (s, d) => {
    val root = java.nio.file.Files.createTempDirectory("graft_bqrt").toString
    val store = graft.store.VectorStore(root)
    val e = Tables.embeddings(s, d).cache()
    try {
      val corpus = e.filter(col("vec_id") =!= 0)
      Similarity.buildBqIndex(store, "bq_sigs",
        corpus.filter(col("vec_id") % 10 =!= 7), "embedding", "vec_id")
      Similarity.insertIntoStoredBq(store, "bq_sigs",
        corpus.filter(col("vec_id") % 10 === 7), "embedding", "vec_id"): Unit
      val thr = Similarity.retrainStoredBq(
        s, store, "bq_sigs", corpus, "embedding", "vec_id")
      val qv = e.filter(col("vec_id") === 0).select("embedding")
        .head.getSeq[Float](0).toArray
      val out = Similarity.bqSearchStoredCentered(store.read(s, "bq_sigs"),
        corpus, "embedding", "vec_id", qv, thr, k = 10, rerank = 4)
      s.createDataFrame(java.util.Arrays.asList(out.collect(): _*), out.schema)
    } finally { e.unpersist(); store.destroy() }
  }

  /** Graph ANN (HNSW-class) — the last ANN family member: the
    * deterministic coarse quantizer routes (HNSW's upper layers), an
    * insertion-built NSW graph per cell fine-searches (layer 0), and
    * the beam walk evaluates distances only on touched nodes — the
    * sub-linear property IVF's scan-the-cell lacks (pinned in
    * AnnProbeSpec together with recall@10 >= 0.9). Deterministic
    * end-to-end (ascending-id insertion, (dist, id) orderings, min-id
    * entry) but a graph walk is not SQL-expressible -> rows-only. */
  val annGraph: Q = (s, d) => {
    val e = Tables.embeddings(s, d).cache()
    try {
      val (graph, cents) = GraphAnn.buildGraph(
        e.filter(col("vec_id") =!= 0), "embedding", "vec_id", ncells = 8, m = 8,
        centroids = Some(Clustering.trainCentroids(e, 8, 2)))
      val qv = e.filter(col("vec_id") === 0).select(col("embedding"))
        .head.getSeq[Float](0).map(_.toDouble).toArray
      val hits = GraphAnn.search(graph, cents, qv, k = 10, nprobe = 4, ef = 48)
      s.createDataFrame(java.util.Arrays.asList(hits.collect(): _*), hits.schema)
    } finally e.unpersist()
  }

  /** The graph search's PROBE-DERIVATION half under a FULL hash
    * ([[GraphAnn.probeReport]]): which cells the router probed and in
    * what order (the sqProbeCells floor-rounded lowest-cid arithmetic,
    * restated through the kmeans twin), each probed cell's population,
    * and the per-cell emitted-candidate count (= min(k, reachable) — a
    * connectivity pin on the NSW build: an unreachable region
    * under-emits and hash-fails). This anchors everything around the
    * beam for the rows-only walk gates (`ann_graph`, `_store`,
    * `_batch`, `_filtered`, `_incremental`, `ann_mutable_graph`);
    * only the walk's choice of WHICH k and its `n_evals` remain
    * rows-only — the irreducible approximate part. */
  val annGraphProbe: Q = (s, d) => {
    val e = Tables.embeddings(s, d).cache()
    try {
      val cents = Clustering.trainCentroids(e, 8, 2)
      val (graph, _) = GraphAnn.buildGraph(
        e.filter(col("vec_id") =!= 0), "embedding", "vec_id", ncells = 8, m = 8,
        centroids = Some(cents))
      val qv = e.filter(col("vec_id") === 0).select(col("embedding"))
        .head.getSeq[Float](0).map(_.toDouble).toArray
      val out = GraphAnn.probeReport(graph, cents, qv, k = 10, nprobe = 4,
          ef = 48)
        .select("probe_rank", "cell_id", "n_nodes", "n_emitted") // n_evals stays rows-only
      s.createDataFrame(java.util.Arrays.asList(out.collect(): _*), out.schema)
    } finally e.unpersist()
  }

  /** The stored graph-ANN layout — the index-on-disk half of
    * `ann_graph`, completing the stored tier (IVF / IVF-PQ / SQ /
    * graph all share it): the build writes (cell_id, id, vec,
    * neighbors) PARTITIONED BY cell_id, so a query's probe filter
    * prunes partitions and the beam walk loads only the probed cells'
    * adjacency — at 100 TB a search reads nprobe cells' files and
    * touches ef·degree nodes of them, never the corpus. Rows-only
    * (graph walk), pruning + stored==inline parity pinned in
    * AnnProbeSpec. */
  val annGraphStore: Q = (s, d) => {
    val root = java.nio.file.Files.createTempDirectory("graft_graph").toString
    val store = graft.store.VectorStore(root)
    val e = Tables.embeddings(s, d).cache()
    try {
      val cents = Clustering.trainCentroids(e, 8, 2)
      val (graph, _) = GraphAnn.buildGraph(
        e.filter(col("vec_id") =!= 0), "embedding", "vec_id", ncells = 8, m = 8,
        centroids = Some(cents))
      store.create("graph", graph.toDF(), partitionBy = Seq("cell_id"))
      val qv = e.filter(col("vec_id") === 0).select(col("embedding"))
        .head.getSeq[Float](0).map(_.toDouble).toArray
      val hits = GraphAnn.searchStored(
        store.read(s, "graph"), cents, qv, k = 10, nprobe = 4, ef = 48)
      // materialize before store.destroy()
      s.createDataFrame(java.util.Arrays.asList(hits.collect(): _*), hits.schema)
    } finally { e.unpersist(); store.destroy() }
  }

  /** The graph WALK kernel anchored against an independent SQL
    * implementation — the anchor the rows-only graph queries hang off.
    * The NSW insertion BUILD is inherently sequential (a beam search
    * inside a fold) and stays rows-only in the main graph queries; the
    * WALK is the kernel they all share, and `ann_graph_exhaustive`
    * already pins its exhaustive limit (ef >= cell, walk == exact kNN).
    * This query pins the SELECTIVE regime: the walk runs over an
    * SQL-DERIVABLE adjacency — each node's M=6 nearest neighbors by
    * (exact double l2², id), a construction DuckDB can replicate —
    * so the oracle's recursive-CTE state machine replays the exact beam
    * (same (dist, id) orderings, same adjacency-order neighbor offers,
    * same ef bound and stop rule, one offer/pop per recursion step) and
    * the gate hash-checks every beam decision. Bounded by design: a
    * 499-node slice (vec_id < 500), ef=24 < n, so the beam genuinely
    * prunes (the kernel visits a strict subset — the property the
    * exhaustive anchor cannot see). */
  val annGraphWalk: Q = (s, d) => {
    val e = Tables.embeddings(s, d).filter(col("vec_id") < 500)
    val qv = e.filter(col("vec_id") === 0).select(col("embedding"))
      .head.getSeq[Float](0).map(_.toDouble).toArray
    // the SQL-derivable adjacency lives in ONE place (GraphAnn.knnGraph)
    // shared with the selectivity spec — a drifted copy would pin a
    // different graph than the oracle checks
    val nodes = GraphAnn.knnGraph(
      e.filter(col("vec_id") =!= 0), "embedding", "vec_id", m = 6)
    GraphAnn.search(nodes, Array(Array.fill(64)(0.0f)), qv,
        k = 10, nprobe = 1, ef = 24)
      .select(col("vec_id"), col("dist"))
  }

  /** In-degree distribution of the M=6 NN graph on the walk anchor's
    * 300-node slice — the hubness diagnostic. FULL oracle over the same
    * adjacency CTE: GROUP BY in-degree with zero-in-degree nodes kept
    * through the left join. */
  val graphDegreeStats: Q = (s, d) =>
    GraphAnn.degreeStats(Tables.embeddings(s, d).filter(col("vec_id") < 300),
      "embedding", "vec_id", m = 6)

  /** Connected components of the M=3 NN graph on a 300-node slice via
    * 8 min-label rounds over the undirected closure — labels are exact
    * bounded-hop minima whether or not propagation has converged, so
    * the FULL oracle (8 unrolled CTE rounds over the same symmetrized
    * adjacency) holds unconditionally. */
  val graphComponents: Q = (s, d) =>
    GraphAnn.connectedComponents(
      Tables.embeddings(s, d).filter(col("vec_id") < 300),
      "embedding", "vec_id", m = 3, iters = 8)

  /** PageRank centrality over the M=6 NN graph on a 300-node slice —
    * exact integer fixed point (micro-unit ranks, integer division,
    * order-free long sums), 5 iterations, damping 85/100. FULL oracle:
    * the same adjacency CTE as the walk anchor plus five unrolled
    * iteration CTEs replaying the identical integer arithmetic. */
  val graphPagerank: Q = (s, d) =>
    GraphAnn.pageRank(Tables.embeddings(s, d).filter(col("vec_id") < 300),
      "embedding", "vec_id", m = 6, iters = 5)

  /** Incremental graph-index maintenance — nightly-batch shape: the
    * standing corpus (vec_id % 10 != 7, the repo's arrival-slice
    * convention) builds the stored graph once; the arrival slice then
    * INSERTS via partition-local rebuild (only touched cells are read
    * back, re-built, and dynamically overwritten — O(touched cells),
    * never the collection). The canonical ascending-id build makes the
    * maintained store bit-identical to a from-scratch full build
    * (pinned in AnnProbeSpec together with untouched-partition file
    * immutability); the query returns the search over the maintained
    * index. Rows-only (graph walk). */
  val annGraphIncremental: Q = (s, d) => {
    val root = java.nio.file.Files.createTempDirectory("graft_graph_inc").toString
    val store = graft.store.VectorStore(root)
    val e = Tables.embeddings(s, d).cache()
    try {
      val cents = Clustering.trainCentroids(e, 8, 2)
      val standing = e.filter(col("vec_id") =!= 0 && col("vec_id") % 10 =!= 7)
      val arrivals = e.filter(col("vec_id") =!= 0 && col("vec_id") % 10 === 7)
      val (g0, _) = GraphAnn.buildGraph(standing, "embedding", "vec_id",
        ncells = 8, m = 8, centroids = Some(cents))
      store.create("graph", g0.toDF(), partitionBy = Seq("cell_id"))
      GraphAnn.insertIntoStored(store, "graph", arrivals, "embedding", "vec_id", cents)
      val qv = e.filter(col("vec_id") === 0).select(col("embedding"))
        .head.getSeq[Float](0).map(_.toDouble).toArray
      val hits = GraphAnn.searchStored(
        store.read(s, "graph"), cents, qv, k = 10, nprobe = 4, ef = 48)
      s.createDataFrame(java.util.Arrays.asList(hits.collect(): _*), hits.schema)
    } finally { e.unpersist(); store.destroy() }
  }

  /** Metadata-filtered graph ANN — the reference's `query(where=...)`
    * over the graph index. Graph walks cannot pre-filter (dropping
    * nodes breaks the navigable structure), so this is the published
    * over-fetch shape: the beam emits its FULL ef result set per
    * probed cell (k = nprobe·ef candidates, bounded), then the where
    * filter and final top-k run relationally over that bounded
    * candidate relation — filter selectivity costs recall, never
    * correctness of the walk. Recall vs the exact filtered kNN pinned
    * in AnnProbeSpec. Rows-only (graph walk). */
  val annGraphFiltered: Q = (s, d) => {
    val e = Tables.embeddings(s, d).cache()
    try {
      val cents = Clustering.trainCentroids(e, 8, 2)
      val (graph, _) = GraphAnn.buildGraph(
        e.filter(col("vec_id") =!= 0), "embedding", "vec_id", ncells = 8, m = 8,
        centroids = Some(cents))
      val qv = e.filter(col("vec_id") === 0).select(col("embedding"))
        .head.getSeq[Float](0).map(_.toDouble).toArray
      val cands = GraphAnn.search(graph, cents, qv,
        k = 4 * 48, nprobe = 4, ef = 48) // whole beam: nprobe*ef candidates
      val out = cands
        .join(e.select(col("vec_id"), col("label")), "vec_id")
        .filter(col("label").isin(1, 2, 3))
        .orderBy(col("dist"), col("vec_id"))
        .limit(10)
        .select(col("vec_id"), col("label"), col("dist"))
      s.createDataFrame(java.util.Arrays.asList(out.collect(): _*), out.schema)
    } finally e.unpersist()
  }

  /** ADAPTIVE filtered graph ANN under the gate — both branches of
    * [[graft.operators.GraphAnn.adaptiveFilteredSearch]]'s cost
    * decision, FULL hash:
    *  - a SELECTIVE filter (4% of ids) at production config routes to
    *    the 'pre' branch — exact scoring of the survivors, no walk —
    *    which is plain SQL;
    *  - a BROAD filter (3 of 5 labels) routes to the 'post' over-fetch
    *    branch, run here in the EXHAUSTIVE configuration (nprobe = all
    *    cells, ef = corpus) where the walk provably equals exact kNN
    *    (the `ann_graph_exhaustive` identity) — so the branch's output
    *    is SQL-expressible too.
    * The oracle re-derives the DECISION from its own counts (m vs
    * 0.05·n) per arm and tags `path` from that CASE — an inverted or
    * drifted threshold breaks the hash, not just the spec. Production-
    * config recall of the post branch stays pinned in AnnProbeSpec. */
  val annGraphAdaptive: Q = (s, d) => {
    val root = java.nio.file.Files.createTempDirectory("graft_gadapt").toString
    val store = graft.store.VectorStore(root)
    val e = Tables.embeddings(s, d).cache()
    try {
      val corpus = e.filter(col("vec_id") =!= 0)
      val (g0, cents) = GraphAnn.buildGraph(corpus, "embedding", "vec_id",
        ncells = 8, m = 8, centroids = Some(Clustering.trainCentroids(e, 8, 2)))
      store.create("graph", g0.toDF(), partitionBy = Seq("cell_id"))
      val stored = store.read(s, "graph")
      val qv = e.filter(col("vec_id") === 0).select(col("embedding"))
        .head.getSeq[Float](0).map(_.toDouble).toArray
      val selective = corpus.filter(col("vec_id") % 25 === 3).select("vec_id")
      val broad = corpus.filter(col("label").isin(1, 2, 3)).select("vec_id")
      val a = GraphAnn.adaptiveFilteredSearch(stored, cents, qv,
          k = 10, nprobe = 4, ef = 48, allowed = selective)
        .withColumn("q", lit("selective"))
      val b = GraphAnn.adaptiveFilteredSearch(stored, cents, qv,
          k = 10, nprobe = cents.length, ef = corpus.count().toInt,
          allowed = broad)
        .withColumn("q", lit("broad"))
      val out = a.unionByName(b)
        .select(col("q"), col("vec_id"), col("dist"), col("path"))
        .orderBy(col("q"), col("dist"), col("vec_id"))
      s.createDataFrame(java.util.Arrays.asList(out.collect(): _*), out.schema)
    } finally { e.unpersist(); store.destroy() }
  }

  /** Batch-query graph ANN — Chroma's `query(query_texts=[...])` list
    * form over the graph index: a queries RELATION (the three lowest
    * vec_ids) fans out through one [[GraphAnn.searchMany]] call, which
    * loads each probed cell's walk structure ONCE for the whole batch
    * (a loop of single searches re-loads per query — the amortization
    * is pinned on GraphAnn.counters in AnnProbeSpec together with
    * per-query equality to N single runs). Rows-only (graph walk). */
  val annGraphBatch: Q = (s, d) => {
    val e = Tables.embeddings(s, d).cache()
    try {
      val queries = e.filter(col("vec_id") < 3)
        .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
      val (graph, cents) = GraphAnn.buildGraph(
        e.filter(col("vec_id") >= 3), "embedding", "vec_id", ncells = 8, m = 8,
        centroids = Some(Clustering.trainCentroids(e, 8, 2)))
      val hits = GraphAnn.searchMany(graph, cents, queries, "qid", "qvec",
        k = 10, nprobe = 4, ef = 48)
        .orderBy(col("qid"), col("rank"))
      s.createDataFrame(java.util.Arrays.asList(hits.collect(): _*), hits.schema)
    } finally e.unpersist()
  }

  /** Probe-derivation anchor for the BATCH graph walk (r15 VERDICT #2):
    * `ann_graph_probe`'s discipline over [[GraphAnn.searchMany]]'s
    * co-partitioned execution — per (query, probed cell): probe rank
    * (the sqProbeCells floor-rounded lowest-cid rule, per query),
    * population, and the walk's ACTUAL emitted count (= min(k,
    * reachable), the connectivity pin). FULL hash; with this, only beam
    * order + n_evals remain rows-only for the batch family. */
  val annGraphBatchProbe: Q = (s, d) => {
    val e = Tables.embeddings(s, d).cache()
    try {
      val queries = e.filter(col("vec_id") < 3)
        .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
      val (graph, cents) = GraphAnn.buildGraph(
        e.filter(col("vec_id") >= 3), "embedding", "vec_id", ncells = 8, m = 8,
        centroids = Some(Clustering.trainCentroids(e, 8, 2)))
      val out = GraphAnn.probeReportMany(graph, cents, queries, "qid", "qvec",
          k = 10, nprobe = 4, ef = 48)
        .select("qid", "probe_rank", "cell_id", "n_nodes", "n_emitted") // n_evals stays rows-only
      s.createDataFrame(java.util.Arrays.asList(out.collect(): _*), out.schema)
    } finally e.unpersist()
  }

  /** Exhaustive-configuration graph walk — the walk-kernel ORACLE form.
    * With nprobe = every cell and ef >= the corpus size the beam never
    * prunes (the result set cannot fill), visits every reachable node of
    * every cell (NSW insertion keeps each cell connected), and the
    * per-cell top-k merge IS exact kNN — so the one ANN family whose
    * normal operation no SQL oracle can express gets a FULL-HASH gate
    * anchor for its kernel: probe selection, beam arithmetic, candidate
    * merge, and rounding all sit on the hash path. AnnProbeSpec pins the
    * same identity in-suite; this entry puts it in front of the DuckDB
    * gate. (cell_id is quantizer-internal and dropped — the oracle ranks
    * by exact l2².) */
  val annGraphExhaustive: Q = (s, d) => {
    val e = Tables.embeddings(s, d).cache()
    try {
      val corpus = e.filter(col("vec_id") =!= 0)
      val (graph0, cents) = GraphAnn.buildGraph(
        corpus, "embedding", "vec_id", ncells = 8, m = 8,
        centroids = Some(Clustering.trainCentroids(e, 8, 2)))
      val graph = graph0.localCheckpoint(true)
      val qv = e.filter(col("vec_id") === 0).select(col("embedding"))
        .head.getSeq[Float](0).map(_.toDouble).toArray
      val hits = GraphAnn.search(graph, cents, qv,
          k = 10, nprobe = cents.length, ef = corpus.count().toInt)
        .select(col("vec_id"), col("dist").as("distance"))
      s.createDataFrame(java.util.Arrays.asList(hits.collect(): _*), hits.schema)
    } finally e.unpersist()
  }

  /** Random-hyperplane LSH bucketing (the shuffle key for cosine near-dup
    * at scale). Deterministic seeded planes — FULL ORACLE since round 10:
    * the twin regenerates the same Gaussian draw and inlines the planes
    * as SQL literals. */
  val annLshBuckets: Q = (s, d) =>
    Similarity.cosineLshBuckets(Tables.embeddings(s, d), "embedding", nBits = 12)
      .groupBy("lsh_bucket").agg(count(lit(1)).as("n_vectors"))
      .orderBy("lsh_bucket")

  /** RAG context assembly: top-10 hits joined to their documents, greedy
    * 2000-char prefix, "\n---\n" separator (reference get_context_for_rag).
    * The ≤ 10 joined pieces are collected in (distance, vec_id) order (the
    * join does not keep it, hence the re-sort, which the limit lets
    * Catalyst plan as a TakeOrderedAndProject rather than a global sort)
    * and cut by [[Knn.greedyContext]]. */
  val ragContext: Q = (s, d) => {
    val e = Tables.embeddings(s, d)
    val q = e.filter(col("vec_id") === 0).select(col("embedding").as("qv"))
    val hits = e.crossJoin(broadcast(q))
      .withColumn("distance", round(l2Sq(col("embedding"), col("qv")), 6))
      .orderBy("distance", "vec_id")
      .limit(10)
      .join(Tables.documents(s, d), col("doc_id") === col("vec_id"))
    val piece = format_string("[Source: %s, Chunk: %s_chunk_0]\n%s\n",
      col("source"), col("doc_id"), col("text"))
    val pieces = hits.orderBy("distance", "vec_id").select(piece).limit(10)
      .collect().map(_.getString(0))
    val c = Knn.greedyContext(pieces.toSeq, maxLen = 2000)
    import s.implicits._
    Seq((c.text, c.pieces.toLong, c.chars)).toDF("context", "pieces_used", "context_chars")
  }

  /** Two-stage retrieval (the vector-db recall-then-precision pattern):
    * coarse top-50 by squared-L2 (TakeOrderedAndProject over the full
    * collection), exact cosine rerank of just those 50 to a top-10. At
    * scale stage 1 is the ANN/IVF probe; stage 2 never touches more than
    * the candidate set. */
  val ragRerank: Q = (s, d) => {
    val e = Tables.embeddings(s, d)
    val q = e.filter(col("vec_id") === 0).select(col("embedding").as("qv"))
    val coarse = e.crossJoin(broadcast(q))
      .withColumn("dist", l2Sq(col("embedding"), col("qv")))
      .orderBy(col("dist"), col("vec_id"))
      .limit(50)
    coarse
      .withColumn("cos", round(cosine(col("embedding"), col("qv")), 6))
      .orderBy(col("cos").desc, col("vec_id"))
      .limit(10)
      .select("vec_id", "label", "cos")
  }

  /** Hybrid search: keyword candidates (term-hit score) and vector
    * candidates (cosine) are EACH cut to a top-100 by distributed top-k
    * first — ranking happens over candidate sets, never the full corpus —
    * then fused with reciprocal-rank fusion (1/(60+rank), the standard
    * RRF constant). Full-outer fusion keeps single-modality hits. */
  val ragHybridSearch: Q = (s, d) => {
    val terms = Seq("hash", "merge", "scan")
    val kwScore = terms.map(t => when(lower(col("text")).contains(t), 1).otherwise(0))
      .reduce(_ + _)
    val kwTop = Tables.documents(s, d)
      .select(col("doc_id"), kwScore.as("kw_score"))
      .orderBy(col("kw_score").desc, col("doc_id"))
      .limit(100)
      .withColumn("rank_kw",
        row_number().over(Window.orderBy(col("kw_score").desc, col("doc_id"))).cast("long"))
      .select("doc_id", "rank_kw")
    val e = Tables.embeddings(s, d)
    val q = e.filter(col("vec_id") === 0).select(col("embedding").as("qv"))
    val vTop = e.crossJoin(broadcast(q))
      .withColumn("cos", cosine(col("embedding"), col("qv")))
      .select(col("vec_id").as("doc_id"), col("cos"))
      .orderBy(col("cos").desc, col("doc_id"))
      .limit(100)
      .withColumn("rank_vec",
        row_number().over(Window.orderBy(col("cos").desc, col("doc_id"))).cast("long"))
      .select("doc_id", "rank_vec")
    kwTop.join(vTop, Seq("doc_id"), "full_outer")
      .withColumn("rrf", floor(
        (coalesce(lit(1.0) / (lit(60) + col("rank_kw")), lit(0.0)) +
          coalesce(lit(1.0) / (lit(60) + col("rank_vec")), lit(0.0))) * 1e6 + 0.5) / 1e6)
      .orderBy(col("rrf").desc, col("doc_id"))
      .limit(10)
      .select("doc_id", "rank_kw", "rank_vec", "rrf")
  }

  /** MMR-diversified retrieval: distributed top-30 candidate cut, greedy
    * marginal-relevance re-rank to a top-10 (λ=0.5). The query vector
    * (vec_id 0 — it lives in the corpus) is excluded from candidacy, the
    * standard MMR setup. All similarity comparisons happen on integer
    * micro-units, so the DuckDB recursive-CTE twin replays the exact
    * greedy trajectory. */
  val ragMmr: Q = (s, d) => {
    val e = Tables.embeddings(s, d)
    val qv = e.filter(col("vec_id") === 0).select("embedding")
      .collect()(0).getSeq[Float](0).toArray
    Mmr.diversify(e.filter(col("vec_id") =!= 0), "embedding", "vec_id", qv,
      k = 10, lambdaRel = 0.5, fetchN = 30)
  }

  // ========================================================== dedup family

  /** Exact dedup via content hash. */
  val dedupExact: Q = (s, d) =>
    Dedup.exact(Tables.documents(s, d), "text", "doc_id")
      .select("doc_id", "content_hash", "group_size", "canonical_id", "is_duplicate")
      .orderBy("doc_id")

  /** MinHash+LSH candidate generation, exact-Jaccard verified; the oracle
    * is the full exact-Jaccard join, so this also proves LSH recall. */
  val dedupMinhash: Q = (s, d) =>
    Dedup.minhashLsh(Tables.documents(s, d), "text", "doc_id",
        shingleSize = 5, bands = 32, rowsPerBand = 4, threshold = 0.8)
      .orderBy("id_a", "id_b")

  /** Banding ADVISOR for minhash dedup — the s-curve-correct
    * (bands, rowsPerBand) for threshold 0.8 plus the background
    * candidate-pair estimate from the corpus' own sampled Jaccard, the
    * whole decision under the hash (r15 VERDICT #1: the 10x probe
    * measured the fixed-32x4 candidate explosion this operator's
    * recommendation closes — the oracle replays the divisor scan, the
    * binary-exponentiation s-curve products, the deterministic pair
    * sample, and the dominance flag term-for-term). */
  val dedupBandingAdvisor: Q = (s, d) =>
    Dedup.bandingAdvisor(Tables.documents(s, d), "text", "doc_id",
      threshold = 0.8, nHashes = 128)

  /** Self-tuning MinHash near-dup — [[Dedup.minhashLshAuto]]: the
    * advisor's banding choice EXECUTED, with the chosen
    * (bands, rows_per_band) riding every row so the decision sits under
    * the hash and the exact-Jaccard oracle simultaneously proves recall
    * AT the chosen banding (32x8 from the 256-hash budget at t=0.8 —
    * the pair set is measured exactly equal to the exact join at every
    * test scale). */
  val dedupMinhashAuto: Q = (s, d) =>
    Dedup.minhashLshAuto(Tables.documents(s, d), "text", "doc_id",
        threshold = 0.8)
      .orderBy("id_a", "id_b")

  /** Exact n-gram Jaccard similarity join with language blocking and the
    * lossless set-size prune. */
  val dedupNgram: Q = (s, d) =>
    Dedup.ngramJaccardJoin(Tables.documents(s, d), "text", "doc_id",
        shingleSize = 5, threshold = 0.6, blockCol = Some("lang"))
      .orderBy("id_a", "id_b")

  /** SimHash near-dup pairs (hamming <= 3 over 64-bit token simhash).
    * Fully oracle-checked since round 5: the FNV-1a/fmix64 token hash is
    * reproduced bit-exactly in DuckDB with HUGEINT mod-2^64 arithmetic,
    * and the pigeonhole banding is a pure recall optimization (4x16-bit
    * chunks GUARANTEE a shared chunk at hamming<=3), so the output is by
    * construction exactly {pairs: hamming(sig_a,sig_b)<=3, id_a<id_b} —
    * which the oracle states directly. hamming cast to BIGINT for
    * cross-engine type parity. */
  val dedupSimhash: Q = (s, d) =>
    Dedup.simhashPairs(Tables.documents(s, d), "text", "doc_id", maxHamming = 3)
      .withColumn("hamming", col("hamming").cast("long"))
      .orderBy("id_a", "id_b")

  /** Near-dup clustering: MinHash-LSH pairs -> connected components ->
    * every doc labeled (cluster_id = component min id, size, canonical
    * flag) — the keep-one-representative step after pair finding.
    * Min-label propagation is deterministic (min is merge-order-proof),
    * so the full 500-row labeling hash-matches a DuckDB WITH RECURSIVE
    * reachability oracle. */
  val dedupClusters: Q = (s, d) =>
    // 32x8 banding = the bandingAdvisor recommendation at t=0.8 over a
    // 256-hash budget (see cleanCorpusDecisions — pair set measured
    // exactly equal to the exact join at every gate scale, so the
    // components and the full oracle are unchanged; the background-
    // dominated candidate stream is ~400x smaller)
    Dedup.clusters(Tables.documents(s, d), "text", "doc_id", threshold = 0.8,
        bands = 32, rowsPerBand = 8)
      .orderBy("doc_id")

  /** Quality-aware canonical selection — [[graft.operators.Dedup.keepBest]]
    * over the same MinHash-LSH clustering as `dedup_clusters`: each
    * near-dup cluster keeps its HIGHEST-quality member (doc-id ties
    * ascending) instead of the lowest id — the retention policy a
    * training pipeline wants (the best copy survives, not the first).
    * FULL oracle: the dedup_clusters reachability CTE composed with the
    * quality CTE and the same per-cluster (quality DESC, id) rank. */
  val dedupKeepBest: Q = (s, d) => {
    val docs = Tables.documents(s, d)
    val clusters = Dedup.clusters(docs, "text", "doc_id", threshold = 0.8,
        bands = 32, rowsPerBand = 8)
      .select("doc_id", "cluster_id")
    val scores = TextAnalysis.textStats(docs).select(col("doc_id"), col("quality"))
    Dedup.keepBest(clusters, scores, "doc_id", "quality")
      .orderBy("doc_id")
  }

  /** Mutual (reciprocal) k-NN pairs — the high-precision near-dup /
    * retrieval-evaluation diagnostic: (a, b) is emitted iff b is in a's
    * cosine top-k AND a is in b's (excluding self), the standard
    * reciprocal-nearest-neighbor criterion (far stricter than one-sided
    * kNN — hubs collect one-sided edges, mutual edges need agreement).
    * Ranks are per-vector PARTITIONED windows over the scored pair
    * relation; the pair relation itself is the documented all-pairs
    * bounded-slice form — at corpus scale the candidate edges come from
    * the ANN tiers and this operator is the relational tail. FULL hash:
    * per-side row_number twins + the mutual self-join. */
  val annMutualKnn: Q = (s, d) => {
    val e = Tables.embeddings(s, d).filter(col("vec_id") < 300)
    val a = e.select(col("vec_id").as("id_a"), col("embedding").as("va"))
    val b = e.select(col("vec_id").as("id_b"), col("embedding").as("vb"))
    val scored = a.join(b, col("id_a") =!= col("id_b"))
      .select(col("id_a"), col("id_b"),
        round(cosine(col("va"), col("vb")), 6).as("cosine"))
    val ranked = scored.withColumn("rank", row_number().over(
      Window.partitionBy(col("id_a")).orderBy(col("cosine").desc, col("id_b"))))
      .filter(col("rank") <= 5)
    val fwd = ranked.select(col("id_a"), col("id_b"), col("cosine"))
    val rev = ranked.select(col("id_b").as("id_a"), col("id_a").as("id_b"))
    fwd.join(rev, Seq("id_a", "id_b"), "left_semi")
      .filter(col("id_a") < col("id_b")) // one row per mutual pair
      .orderBy("id_a", "id_b")
  }

  /** Leakage-free train/val split — the dedup-aware fold assignment a
    * training pipeline needs: folds are assigned at the NEAR-DUP
    * CLUSTER grain (md5 of the cluster id), so two near-duplicate
    * documents can never land on opposite sides of the split (the
    * classic eval-contamination channel that a per-document split
    * leaves open). 80/20 by the md5-fraction rule; map-only on top of
    * the cluster labeling, so the split itself adds no shuffle. FULL
    * hash: the dedup_clusters reachability CTE + the same fold
    * arithmetic. */
  val pipelineSplitLeakfree: Q = (s, d) => {
    // Banding DERIVED from the engine's own decision rule (not a
    // hard-coded pair): chooseBanding(0.8, 256 hashes, recallFloor 0.9)
    // = 32 bands x 8 rows — the steepest s-curve clearing the floor, so
    // the j~0.22 background collides at ~2e-4 instead of dominating the
    // candidate stream, while P(catch | j=0.8) = 0.9972 (the floor is
    // pinned with sCurveP in DedupSpec). Boundary pairs at exactly
    // j=threshold therefore miss with p~2.8e-3 — the exact-Jaccard
    // verify step keeps precision exact, and the pair set is measured
    // equal to the exact join at every gate scale (oracle derives the
    // folds banding-free), but the leak-free guarantee is probabilistic
    // at that recall floor beyond the measured scales. This gate was
    // the straggler still paying the 32x4 candidate explosion (~2x its
    // calm wall) after r16 moved the other pipeline gates.
    val (lshBands, lshRows) = Dedup.chooseBanding(0.8, nHashes = 256,
      recallFloor = 0.9)
    val clusters = Dedup.clusters(Tables.documents(s, d), "text", "doc_id",
      threshold = 0.8, bands = lshBands, rowsPerBand = lshRows)
      .select("doc_id", "cluster_id")
    clusters.withColumn("fold",
        when(conv(substring(md5(col("cluster_id").cast("string").cast("binary")),
          1, 6), 16, 10).cast("long") % 10 < 8, "train").otherwise("val"))
      .orderBy("doc_id")
  }

  /** Deterministic weighted sampling WITHOUT replacement — the
    * Efraimidis–Spirakis A-ES construction that makes "sample 100 docs
    * proportional to quality" a single distributed top-k: each doc gets
    * priority ln(u)/w (u = the repo's md5 fraction, shifted into (0,1];
    * w = quality floored at 1e-3), and the global top-k by priority IS
    * an exact weighted sample without replacement. No RNG, no
    * partition-dependence — the sample is a pure function of the corpus,
    * so it survives retries and engine changes, and the oracle restates
    * it verbatim (ln() parity established by text_bm25). Priorities are
    * floor-rounded to 9 decimals with id tiebreaks, the cross-engine
    * ranking discipline. */
  val mixWeightedSample: Q = (s, d) => {
    val docs = TextAnalysis.textStats(Tables.documents(s, d))
      .select(col("doc_id"), col("source"), col("quality"))
    val u = (conv(substring(md5(col("doc_id").cast("string").cast("binary")),
      1, 6), 16, 10).cast("double") + 1.0) / 16777217.0
    val w = greatest(col("quality"), lit(0.001))
    docs.withColumn("priority", floor(log(u) / w * 1e9) / 1e9)
      .orderBy(col("priority").desc, col("doc_id"))
      .limit(100)
      .select("doc_id", "source", "quality", "priority")
  }

  /** Temperature mixing plan: τ=0.5 quotas over the source domains at a
    * 1000-doc budget — counts, fixed-point sqrt weights, and the
    * largest-remainder apportionment, every step integer after the one
    * correctly-rounded sqrt, the whole plan under the hash. */
  val mixTemperature: Q = (s, d) =>
    graft.operators.Mixture.temperatureAllocation(
        Tables.documents(s, d), "source", budget = 1000L)
      .orderBy("domain")

  /** Token-budget temperature plan: the same τ=0.5 apportionment sized
    * by per-domain TOKEN sums (what a training budget actually
    * allocates), token budget 100 000 — quotas still sum exactly. */
  val mixTemperatureTokens: Q = (s, d) => {
    val docs = Tables.documents(s, d).select(col("source"),
      size(TextAnalysis.tokens(col("text"))).cast("long").as("ntok"))
    graft.operators.Mixture.temperatureAllocationBy(docs, "source", "ntok",
        budget = 100000L)
      .orderBy("domain")
  }

  /** Temperature allocation at TRAINING scale — the arithmetic regime
    * the reference pipeline's real successor runs in: per-domain token
    * sums scaled to ~1e14 and a 1-TRILLION-token budget, where the
    * quota product budget·w_fp ≈ 1e25 overflows Long outright. The
    * Spark side goes through [[graft.operators.Mixture]]'s BigInt
    * apportionment; the oracle re-states the identical integer
    * arithmetic in DuckDB HUGEINT — so the overflow-safety fix sits
    * under a cross-engine hash, not just a spec. */
  val mixTemperatureScale: Q = (s, d) => {
    val docs = Tables.documents(s, d).select(col("source"),
      (size(TextAnalysis.tokens(col("text"))).cast("long") * 1000000000L)
        .as("ntok"))
    graft.operators.Mixture.temperatureAllocationBy(docs, "source", "ntok",
        budget = 1000000000000L)
      .orderBy("domain")
  }

  /** Embedding-cosine near-dup pairs (exact all-pairs at harness scale;
    * LSH-bucketed variant is the scale path). */
  val dedupEmbedding: Q = (s, d) =>
    Dedup.embeddingNearDup(Tables.embeddings(s, d), "embedding", "vec_id", threshold = 0.35)
      .orderBy("id_a", "id_b")

  /** Deterministic k-means assignment over the embeddings table (k=8,
    * 2 Lloyd rounds from the residue-class init): per-vector cluster id
    * and rounded l2² to the final centroid — map-only argmin over plan-
    * literal centroids, oracle-checked against an unrolled SQL twin.
    * See [[graft.operators.Clustering]] for the determinism contract. */
  val clusterKmeans: Q = (s, d) =>
    Clustering.kmeansAssign(Tables.embeddings(s, d), k = 8, iters = 2)
      .select(col("vec_id"), col("cluster_id"), col("dist"))
      .orderBy("vec_id")

  /** SemDeDup: embedding near-dup pairs restricted to same-k-means-
    * cluster candidates — the published web-scale semantic-pruning shape
    * (O(Σ cluster²) instead of `dedup_embedding`'s all-pairs O(n²)).
    * Same threshold as `dedup_embedding`, so the oracle also proves
    * exactly which cross-cluster pairs the gating trades away. */
  val dedupSemantic: Q = (s, d) =>
    Clustering.semanticNearDup(Tables.embeddings(s, d), k = 8, iters = 2, threshold = 0.35)
      .orderBy("cluster_id", "id_a", "id_b")

  /** SemDeDup end-state: the corpus AFTER semantic pruning (keep-lowest-
    * id within each cluster's near-dup pairs). One trained centroid set
    * feeds both the survivor projection and the drop relation. */
  val dedupSemanticPrune: Q = (s, d) =>
    Clustering.semanticPrune(Tables.embeddings(s, d), k = 8, iters = 2, threshold = 0.35)
      .orderBy("vec_id")

  /** Embedding-space decontamination: the semantic twin of the n-gram
    * `decontaminate` gate — flags corpus vectors whose cosine to ANY
    * held-out eval probe (same deterministic `% 97` arrival slice as the
    * n-gram gate) clears the threshold, catching paraphrased
    * contamination that token overlap misses. The probe side is bounded
    * by contract (an eval suite, not a corpus), so it broadcasts and the
    * scan stays map-only — same discipline as `mine_hard_negatives`'
    * documented bounded-anchor BNLJ. */
  val decontaminateSemantic: Q = (s, d) => {
    val emb = Tables.embeddings(s, d)
    val probes = broadcast(emb.filter(col("vec_id") % 97 === 0)
      .select(col("vec_id").as("probe_id"), col("embedding").as("pv")))
    emb.filter(col("vec_id") % 97 =!= 0)
      .join(probes)
      .withColumn("cosine", floor(cosine(col("embedding"), col("pv")) * 1e6 + 0.5) / 1e6)
      .filter(col("cosine") >= 0.30)
      .select(col("vec_id"), col("probe_id"), col("cosine"))
      .orderBy("vec_id", "probe_id")
  }

  /** Per-cluster fit statistics (size, mean/max distance-to-centroid):
    * the convergence/balance observables a clustering job reports. Mean
    * goes through fixed-point µ-unit long sums (dist is already rounded
    * to 6 decimals, so `floor(dist·1e6 + 0.5)` is its exact integer
    * form) — partial-agg merge order cannot shift it. */
  val clusterKmeansStats: Q = (s, d) =>
    Clustering.kmeansAssign(Tables.embeddings(s, d), k = 8, iters = 2)
      .groupBy("cluster_id")
      .agg(count(lit(1)).as("n"),
        (floor(sum(floor(col("dist") * 1e6 + 0.5).cast("long")).cast("double")
          / count(lit(1)) + 0.5) / 1e6).as("mean_dist"),
        max(col("dist")).as("max_dist"))
      .orderBy("cluster_id")

  /** Streaming nearest-centroid routing: centroids train on the standing
    * corpus (vec_id % 10 ≠ 7), arrivals stream in and are assigned by
    * the UNCHANGED batch expression — stateless append-mode scoring, the
    * online half of SemDeDup/IVF ingestion. Oracle = batch-trained
    * assignment of the same arrivals slice. */
  val streamingClusterAssign: Q = (s, d) =>
    graft.streaming.DocStream.runStreamingClusterAssign(s, s"$d/embeddings.parquet",
        "graft_sca_" + java.util.UUID.randomUUID().toString.replace("-", ""))
      .orderBy("vec_id")

  /** Streaming drift monitor: the per-dim fixed-point partial agg runs
    * VERBATIM on the arrivals stream (associative BIGINT sums ⇒
    * incrementally maintainable, 64 groups of state, complete mode);
    * rounding + the frozen-reference join happen once after the final
    * trigger. Oracle = the batch drift SQL over the same split. */
  val streamingDrift: Q = (s, d) =>
    graft.streaming.DocStream.runStreamingDrift(s, s"$d/embeddings.parquet",
        "graft_sdr_" + java.util.UUID.randomUUID().toString.replace("-", ""))
      .orderBy("pos")

  /** Cluster-stratified diversity sample: top-20 per k-means cluster by
    * md5-of-id order (deterministic "random", decorrelated from the
    * sharding/sampling hashes by the `:div` salt) — the coverage-
    * preserving subset selection a curriculum/mixture builder runs after
    * clustering. Rank-filter shape (WindowGroupLimit at scale). */
  val clusterDiverseSample: Q = (s, d) =>
    Clustering.kmeansAssign(Tables.embeddings(s, d), k = 8, iters = 2)
      .withColumn("rk", row_number().over(
        Window.partitionBy(col("cluster_id"))
          .orderBy(md5(concat(col("vec_id").cast("string"), lit(":div")).cast("binary")), col("vec_id"))))
      .filter(col("rk") <= 20)
      .select(col("cluster_id"), col("vec_id"), col("rk").cast("long").as("rk"))
      .orderBy("cluster_id", "rk")

  // ========================================================= text analysis

  /** Z-order (Morton) clustering key over (user_id, value): the
    * data-skipping layout primitive (`OPTIMIZE ZORDER BY`), surfaced in
    * the oracle gate — min-max normalization to 16-bit grids and the
    * bit interleave are plain integer/double arithmetic, so the full
    * per-event key hash-matches a SQL twin. The layout effect itself
    * (tight per-file bounding boxes after range-partitioning on this
    * key) is pinned in ScaleSpec. */
  val zorderKey: Q = (s, d) =>
    ZOrder.withZorderKey(Tables.events(s, d), "user_id", "value", bits = 16)
      .select(col("event_id"), col("_zorder").as("zkey"))
      .orderBy("event_id")

  /** Per-document statistics + composite quality score. */
  val textStats: Q = (s, d) =>
    TextAnalysis.textStats(Tables.documents(s, d))
      .select(col("doc_id"), length(col("text")).as("n_chars_measured"),
        col("n_tokens"), col("avg_token_len"), col("punct_ratio"),
        col("stopword_ratio"), col("uniq_token_ratio"), col("quality"))
      .orderBy("doc_id")

  /** Heuristic language ID vs the labeled lang column. */
  val langId: Q = (s, d) =>
    Tables.spread(Tables.documents(s, d))
      .select(col("doc_id"), col("lang").as("lang_actual"),
        TextAnalysis.langId(col("text")).as("lang_pred"))
      .orderBy("doc_id")

  /** Order/duplication-invariant token-set fingerprint. */
  val docFingerprint: Q = (s, d) =>
    Tables.spread(Tables.documents(s, d))
      .select(col("doc_id"), TextAnalysis.tokenSetFingerprint(col("text")).as("fingerprint"))
      .orderBy("doc_id")

  /** Winnowing fingerprints (Karp-Rabin rolling hash + window minima, the
    * MOSS scheme) — position-robust near-dup signatures. The pure-JVM
    * Karp-Rabin kernel is the performance path; it is NOT a registry/gate
    * query (it would only add a rows-only row) because the scheme itself
    * is already oracle-proven by `doc_winnow_sql` — the md5-hashed,
    * SQL-expressible twin below. Dup-invariance and shift tolerance are
    * unit-tested in TextAnalysisSpec. */
  val docWinnow: Q = (s, d) => {
    val winnowUdf = udf((t: String) => TextAnalysis.winnow(t))
    Tables.documents(s, d)
      .select(col("doc_id"), winnowUdf(col("text")).as("_fps"))
      .select(col("doc_id"), size(col("_fps")).as("n_fingerprints"),
        array_min(col("_fps")).as("min_fp"), array_max(col("_fps")).as("max_fp"))
      .orderBy("doc_id")
  }

  /** Winnowing with an engine-neutral hash: the MOSS scheme (k-gram hash →
    * sliding-window minima → distinct fingerprints) needs only a TOTAL
    * ORDER on hashes, so md5-hex k-grams compared lexicographically make
    * the whole scheme SQL-expressible and oracle-checkable cross-engine —
    * the cousin of `doc_winnow`, whose Karp-Rabin JVM kernel is the
    * performance path. k=8 chars, window=4. */
  val docWinnowSql: Q = (s, d) => {
    val kg = transform(
      sequence(lit(1), greatest(length(col("text")) - 7, lit(1))),
      i => md5(substr(col("text"), i, lit(8)).cast("binary")))
    val minima = transform(
      sequence(lit(0), greatest(size(col("_kg")) - 4, lit(0))),
      i => array_min(slice(col("_kg"), i + 1, lit(4))))
    Tables.documents(s, d)
      .withColumn("_kg", kg)
      .withColumn("_fps", array_distinct(minima))
      .select(col("doc_id"), size(col("_fps")).cast("long").as("n_fp"),
        array_min(col("_fps")).as("min_fp"), array_max(col("_fps")).as("max_fp"))
      .orderBy("doc_id")
  }

  /** Gopher-style repetition filter: trigram repetition ratio per doc. */
  val textRepetition: Q = (s, d) =>
    Tables.spread(Tables.documents(s, d))
      .select(col("doc_id"),
        TextAnalysis.repetitionRatio(col("text"), 3).as("rep3"),
        TextAnalysis.repetitionRatio(col("text"), 2).as("rep2"))
      .orderBy("doc_id")

  /** Shared round-trip checksum aggregate: per (source, lang) counts,
    * char volume, and order-insensitive md5 extremes — hash equality
    * against the parquet-side oracle proves the interchange format is
    * LOSSLESS, not just row-count-preserving. */
  private def roundtripChecksum(back: DataFrame): DataFrame =
    back.groupBy("source", "lang")
      .agg(count(lit(1)).as("n_docs"),
        sum(length(col("text"))).as("n_chars"),
        min(md5(col("text").cast("binary"))).as("md5_lo"),
        max(md5(col("text").cast("binary"))).as("md5_hi"))
      .orderBy("source", "lang")

  private def rmTreeLocal(root: String): Unit = graft.store.VectorStore(root).destroy()

  /** JSONL round-trip — the interchange format training corpora actually
    * ship in: write the documents table as JSON lines, read it back with
    * an EXPLICIT schema (no inference scan — at 100 TB schema inference
    * is a full extra pass), checksum-aggregate. */
  val sourceJsonl: Q = (s, d) => {
    val tmp = java.nio.file.Files.createTempDirectory("graft_jsonl").toString
    try {
      val docs = Tables.documents(s, d).select("doc_id", "source", "lang", "text")
      docs.write.mode("overwrite").json(tmp)
      val back = s.read.schema(docs.schema).json(tmp)
      val out = roundtripChecksum(back)
      val rows = out.collect() // materialize before deleting the temp dir
      s.createDataFrame(java.util.Arrays.asList(rows: _*), out.schema)
    } finally rmTreeLocal(tmp) // also on failure — no scratch-dir leak
  }

  /** CSV round-trip (RFC-style doubled-quote escaping, multiLine read so
    * embedded newlines/quotes survive; explicit schema like sourceJsonl). */
  /** ORC round-trip (the other columnar interchange format Spark ships
    * a native vectorized reader for): same lossless-checksum contract as
    * the CSV/JSONL sources. ORC carries the schema, so read-back needs
    * no re-declaration — types survive the trip by construction. */
  val sourceOrc: Q = (s, d) => {
    val tmp = java.nio.file.Files.createTempDirectory("graft_orc").toString
    try {
      val docs = Tables.documents(s, d).select("doc_id", "source", "lang", "text")
      docs.write.mode("overwrite").orc(tmp)
      val out = roundtripChecksum(s.read.orc(tmp))
      val rows = out.collect()
      s.createDataFrame(java.util.Arrays.asList(rows: _*), out.schema)
    } finally rmTreeLocal(tmp)
  }

  val sourceCsv: Q = (s, d) => {
    val tmp = java.nio.file.Files.createTempDirectory("graft_csv").toString
    try {
      val docs = Tables.documents(s, d).select("doc_id", "source", "lang", "text")
      docs.write.mode("overwrite")
        .option("header", "true").option("escape", "\"")
        .csv(tmp)
      val back = s.read.schema(docs.schema)
        .option("header", "true").option("multiLine", "true").option("escape", "\"")
        .csv(tmp)
      val out = roundtripChecksum(back)
      val rows = out.collect()
      s.createDataFrame(java.util.Arrays.asList(rows: _*), out.schema)
    } finally rmTreeLocal(tmp)
  }

  /** WARC round-trip — write the corpus as WARC/1.0 records, read it
    * back through the splittable record-delimited reader (see
    * [[graft.ingest.Warc]] for the 100 TB rationale), checksum-compare.
    * The aggregate includes an id sum, proving header parsing — not
    * just payload transport — survived the trip. */
  private def warcRoundtrip(s: SparkSession, d: String,
                            compression: Option[String]): DataFrame = {
    val tmp = java.nio.file.Files.createTempDirectory("graft_warc").toString
    try {
      val docs = Tables.documents(s, d).select("doc_id", "source", "lang", "text")
      graft.ingest.Warc.write(docs, tmp, compression)
      val parsed = graft.ingest.Warc.read(s, tmp)
        .withColumn("doc_id", col("doc_id").cast("long"))
      val out = parsed.groupBy("source", "lang")
        .agg(count(lit(1)).as("n_docs"),
          sum(col("doc_id")).as("id_sum"),
          sum(length(col("text"))).as("n_chars"),
          min(md5(col("text").cast("binary"))).as("md5_lo"),
          max(md5(col("text").cast("binary"))).as("md5_hi"))
        .orderBy("source", "lang")
      val rows = out.collect() // materialize before deleting the temp dir
      s.createDataFrame(java.util.Arrays.asList(rows: _*), out.schema)
    } finally rmTreeLocal(tmp) // also on failure — no scratch-dir leak
  }

  val sourceWarc: Q = (s, d) => warcRoundtrip(s, d, None)

  /** HTML -> text extraction ([[graft.text.Html.stripHtml]] — the WET
    * step between a WARC source's HTTP bodies and the documents
    * pipeline): deterministic HTML is synthesized around each document
    * (title/style/h1/comment/entities/script-with-a-bare-`<`) and the
    * RE2-subset strip chain must recover the text — the oracle runs the
    * IDENTICAL chain in DuckDB, so every rule and their order is on the
    * hash path. Map-only, fully codegen (regexp_replace/replace). */
  val sourceHtmlStrip: Q = (s, d) => {
    val html = concat(
      lit("<html><head><title>Doc "), col("doc_id").cast("string"),
      lit("</title><style>p { color: red; }</style></head><body><h1>"),
      col("source"), lit("</h1><!-- id --><p>"), col("text"),
      lit(" &amp; more &lt;tags&gt;</p><script>var x = 1 < 2;" +
        "</script></body></html>"))
    Tables.documents(s, d)
      .select(col("doc_id"), graft.text.Html.stripHtml(html).as("text"))
      .orderBy("doc_id")
  }

  /** Same checksum contract through GZIPPED segment files — the form
    * real crawls actually ship (`.warc.gz`). Hadoop's codec layer
    * decompresses transparently in the same record-delimited read path;
    * parallelism degrades to per-file (gzip members aren't splittable),
    * which is why the writer emits one segment per partition. */
  val sourceWarcGz: Q = (s, d) => warcRoundtrip(s, d, Some("gzip"))

  /** Deterministic stratified train/validation/test split — the step
    * between cleaning and export in every training-data pipeline. The
    * split key is a salted content-independent hash of the DOCUMENT ID
    * (never `rand()`, never partition-dependent): assignment survives
    * reshuffles, retries, engine swaps, and corpus growth — a doc keeps
    * its split forever, so later crawls can't leak yesterday's test set
    * into today's train set. The ":split" salt decorrelates this hash
    * from every other md5-of-id decision in the pipeline (sharding,
    * sampling) — reusing one hash for two decisions silently couples
    * them. Map-only + one partial-agg shuffle; the per-(source, lang,
    * split) manifest is what a release audit reads. */
  val pipelineSplit: Q = (s, d) => {
    val h = conv(substring(md5(concat(col("doc_id").cast("string"), lit(":split"))
        .cast("binary")), 1, 8), 16, 10).cast("long") % 100
    Tables.documents(s, d)
      .withColumn("split",
        when(h < 80, "train").when(h < 90, "validation").otherwise("test"))
      .groupBy("source", "lang", "split")
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_chars")).as("n_chars"),
        sum(col("doc_id")).as("id_sum"))
      .orderBy("source", "lang", "split")
  }

  /** Quality-score binning — the curriculum/data-mixing view of the
    * classifier: every doc lands in a FIXED-WIDTH score bin (20 bins
    * over the classifier's bounded [-1, 1] range), with per-bin volume
    * and score extremes. Fixed thresholds, not ntile: a global quantile
    * rank needs a total order (one-partition window — the exact shape
    * that dies at 100 TB), while fixed-width binning is map-only into a
    * 20-row partial agg at any scale. Quantile EDGES, when needed, come
    * from the mergeable percentile sketch (q44) and feed these same
    * fixed thresholds. */
  val qualityBins: Q = (s, d) => {
    val scored = graft.text.QualityClassifier.score(
      Tables.documents(s, d), "text", "doc_id")
    scored
      .withColumn("bin",
        least(greatest(floor((col("score") + 1.0) * 10).cast("long"), lit(0L)),
          lit(19L)))
      .groupBy("bin")
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_feats")).as("n_feats"),
        min(col("score")).as("min_score"),
        max(col("score")).as("max_score"))
      .orderBy("bin")
  }

  /** Sharded training-data export — the last pipeline stage before the
    * trainer: assign every doc a DETERMINISTIC shard (md5 of the id, so
    * assignment survives reshuffles, retries, and engine changes — never
    * Spark's partition-dependent `rand()` or task-id), repartition ON the
    * shard key (one shuffle; each output file is written by the task
    * that owns its shard), write parquet partitioned by shard, then read
    * BACK and emit the per-shard manifest: row/char/token volume and
    * order-insensitive content checksums. The oracle computes the same
    * manifest straight off the source table, so a hash match proves both
    * the assignment arithmetic and write/read losslessness.
    *
    * At 100 TB the same plan stands with nShards in the thousands plus
    * `maxRecordsPerFile` to bound file sizes; the manifest is what the
    * trainer's data loader checks before consuming a shard. */
  val exportShards: Q = (s, d) => {
    val nShards = 8
    val tmp = java.nio.file.Files.createTempDirectory("graft_shards").toString
    try {
    val docs = Tables.documents(s, d).select("doc_id", "source", "lang", "text")
      .withColumn("shard",
        (conv(substring(md5(col("doc_id").cast("string").cast("binary")), 1, 6), 16, 10)
          .cast("long") % nShards).cast("int"))
    docs.repartition(nShards, col("shard"))
      .write.mode("overwrite").partitionBy("shard").parquet(tmp)
    val back = s.read.parquet(tmp)
    val out = back.groupBy(col("shard").cast("int").as("shard"))
      .agg(count(lit(1)).as("n_docs"),
        sum(length(col("text"))).as("n_chars"),
        // bit_xor, not sum: 48-bit prefixes sum past Long.MaxValue at
        // ~65k docs/shard (Spark would wrap silently, the oracle's
        // HUGEINT->BIGINT cast would error); xor is order-insensitive
        // and bounded at any scale
        expr("bit_xor(CAST(conv(substring(md5(CAST(text AS BINARY)), 1, 12), 16, 10) AS BIGINT))")
          .as("content_xor"),
        min(md5(col("text").cast("binary"))).as("md5_lo"),
        max(md5(col("text").cast("binary"))).as("md5_hi"))
      .orderBy("shard")
    val rows = out.collect() // materialize before deleting the temp dir
    s.createDataFrame(java.util.Arrays.asList(rows: _*), out.schema)
    } finally rmTreeLocal(tmp) // also on failure — no scratch-dir leak
  }

  /** Curriculum-ordered sharded export — the writer path the curriculum
    * operator exists for: [[graft.text.TextAnalysis.curriculumOrder]]'s
    * emit order splits into `nShards` CONTIGUOUS rank ranges
    * (shard = (rank−1)·S/n — shard 0 is the easiest slice, shard S−1 the
    * hardest tail), written parquet-partitioned by shard and read BACK
    * for the per-shard manifest (row count, rank range, phase range,
    * order-insensitive id checksum). A hash match proves the distributed
    * rank arithmetic, the contiguous split, and write/read losslessness
    * in one statement. No partitionless window anywhere (GlobalRank). */
  val exportCurriculumShards: Q = (s, d) => {
    val nShards = 8
    val tmp = java.nio.file.Files.createTempDirectory("graft_currsh").toString
    try {
      val q = TextAnalysis.textStats(Tables.documents(s, d))
        .select(col("doc_id"), col("quality"))
      val ordered = TextAnalysis.curriculumOrder(q, "quality", "doc_id", phases = 4)
      val n = ordered.count() // cheap: the GlobalRank checkpoint backs it
      ordered
        .withColumn("shard",
          floor((col("emit_rank") - 1) * nShards / lit(n.toDouble)).cast("int"))
        .repartition(nShards, col("shard"))
        .write.mode("overwrite").partitionBy("shard").parquet(tmp)
      val back = s.read.parquet(tmp)
      val out = back.groupBy(col("shard").cast("int").as("shard"))
        .agg(count(lit(1)).as("n_docs"),
          min(col("emit_rank")).as("rank_lo"), max(col("emit_rank")).as("rank_hi"),
          min(col("phase")).as("phase_lo"), max(col("phase")).as("phase_hi"),
          expr("bit_xor(doc_id)").as("id_xor"))
        .orderBy("shard")
      val rows = out.collect() // materialize before deleting the temp dir
      s.createDataFrame(java.util.Arrays.asList(rows: _*), out.schema)
    } finally rmTreeLocal(tmp)
  }

  /** Small-file compaction on the collection store — the maintenance op
    * behind every long-lived ingest surface: 64 scattered appends
    * compact to byte-budgeted files (here 1) via read+coalesce+atomic
    * swap, NO shuffle. The emitted manifest is the content checksum of
    * the store AFTER the rewrite plus the before/after file counts; the
    * oracle computes the same checksum straight off the source table
    * (and the counts are deterministic at this scale), so a hash match
    * proves the rewrite lost nothing. */
  val storeCompact: Q = (s, d) => {
    // the 64-file fragmented layout from the mutation fixture — the
    // benched verb is the COMPACTION
    val (store, _) = MutationFixture.cloneFor(s, d, "docs64") { st =>
      st.create("docs", Tables.documents(s, d)
        .select("doc_id", "source", "lang", "text").repartition(64))
    }
    try {
      val (nb, na) = store.compact(s, "docs")
      val out = store.read(s, "docs")
        .agg(count(lit(1)).as("n_docs"),
          sum(length(col("text"))).as("n_chars"),
          min(md5(col("text").cast("binary"))).as("md5_lo"),
          max(md5(col("text").cast("binary"))).as("md5_hi"))
        .withColumn("n_files_before", lit(nb.toLong))
        .withColumn("n_files_after", lit(na.toLong))
      val rows = out.collect()
      s.createDataFrame(java.util.Arrays.asList(rows: _*), out.schema)
    } finally store.destroy() // also on failure — no scratch-dir leak
  }

  /** BPE merge-candidate statistics (the first step of tokenizer
    * training): adjacent token-pair frequencies, top 30. zip_with over
    * two shifted slices keeps the pairing inside whole-stage codegen —
    * map-only until one partial-agg shuffle. */
  val textBpeMerges: Q = (s, d) => {
    val toks = TextAnalysis.tokens(col("text"))
    Tables.spread(Tables.documents(s, d))
      .select(explode(zip_with(
        slice(toks, lit(1), size(toks) - 1),
        slice(toks, lit(2), size(toks) - 1),
        (a, b) => concat(a, lit(" "), b))).as("pair"))
      .groupBy("pair").agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("pair"))
      .limit(30)
  }

  /** Corpus collocation extraction: top-30 adjacent bigrams by PMI
    * (pointwise mutual information, ln form) with min support 10 — the
    * corpus-analysis signal behind multiword-expression mining and
    * tokenizer-vocabulary curation. Scale shape mirrors the LM ops: one
    * exploded scan per order with a partial-agg shuffle; the unigram
    * side broadcasts under the SAME deterministic 50k cap as the LM
    * vocabulary (count desc, then lexicographic — a bigram whose word
    * falls outside the cap drops, the documented bounded-state
    * contract); totals ride as broadcast 1-row relations. PMI
    * arithmetic is a single double ratio inside ln() with floor
    * rounding, mirrored cast-for-cast in the oracle. */
  val textPmi: Q = (s, d) => {
    val vocabCap = 50000
    val docs = Tables.spread(Tables.documents(s, d))
    val toksCol = TextAnalysis.tokens(col("text"))
    val toks = docs.select(explode(toksCol).as("w"))
    // totals derive from the aggregates themselves (sum of counts), not
    // from extra corpus explode passes — the shared aggregate subtree is
    // exchange-reusable, and this is how the oracle states them too
    val uniFull = toks.groupBy("w").agg(count(lit(1)).as("cw"))
    val uni = uniFull.orderBy(col("cw").desc, col("w")).limit(vocabCap)
    val nTok = uniFull.agg(sum("cw").cast("long").as("n_tok"))
    val pairs = docs.select(explode(zip_with(
        slice(toksCol, lit(1), size(toksCol) - 1),
        slice(toksCol, lit(2), size(toksCol) - 1),
        (a, b) => struct(a.as("w1"), b.as("w2")))).as("p"))
      .select(col("p.w1").as("w1"), col("p.w2").as("w2"))
    val pairsAgg = pairs.groupBy("w1", "w2").agg(count(lit(1)).as("n"))
    val nBig = pairsAgg.agg(sum("n").cast("long").as("n_big"))
    pairsAgg
      .filter(col("n") >= 10)
      .join(broadcast(uni.select(col("w").as("w1"), col("cw").as("c1"))), "w1")
      .join(broadcast(uni.select(col("w").as("w2"), col("cw").as("c2"))), "w2")
      .crossJoin(broadcast(nTok)).crossJoin(broadcast(nBig))
      .withColumn("pmi", floor(
        log(col("n").cast("double") * col("n_tok") * col("n_tok")
          / (col("n_big").cast("double") * col("c1") * col("c2"))) * 1e6 + 0.5) / 1e6)
      .orderBy(col("pmi").desc, col("w1"), col("w2"))
      .limit(30)
      .select(concat(col("w1"), lit(" "), col("w2")).as("pair"),
        col("n"), col("pmi"))
  }

  /** Per-document top-3 terms by TF-IDF — the keyword-extraction /
    * domain-tagging primitive of a corpus pipeline. Scale shape: one
    * exploded scan -> (doc, term) partial-agg shuffle; document
    * frequency derives from THAT aggregate (no second corpus scan
    * inside the df branch) and broadcasts under the LM ops' 50k
    * deterministic vocab cap; ranking is a per-doc window the planner
    * runs as WindowGroupLimit. Scores floor-round BEFORE ranking so
    * both engines rank identical values (term breaks ties). */
  val textTfidf: Q = (s, d) => {
    val vocabCap = 50000
    val docs = Tables.spread(Tables.documents(s, d))
    val tf = docs
      .select(col("doc_id"), explode(TextAnalysis.tokens(col("text"))).as("term"))
      .groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
    val dfT = tf.groupBy("term").agg(count(lit(1)).as("df"))
      .orderBy(col("df").desc, col("term")).limit(vocabCap)
    val nDocs = docs.agg(countDistinct(col("doc_id")).as("n_docs"))
    val w = Window.partitionBy("doc_id").orderBy(col("score").desc, col("term"))
    tf.join(broadcast(dfT), "term")
      .crossJoin(broadcast(nDocs))
      .withColumn("score", floor(
        col("tf") * log(col("n_docs").cast("double") / col("df")) * 1e6 + 0.5) / 1e6)
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= 3)
      .select(col("doc_id"), col("term"), col("tf"), col("score"), col("rank"))
      .orderBy("doc_id", "rank")
  }

  /** Per-domain cap — the web-pipeline balancing op (CCNet/RefinedWeb
    * style): at most 20 documents per source, best quality first (ties
    * by doc_id). One window over a (source)-partitioned shuffle; the
    * rank<=20 filter runs as WindowGroupLimit, so each map task
    * pre-prunes to its local top-20 before the shuffle — at 100 TB a
    * mega-domain ships 20 rows per task, not its whole corpus. */
  val sampleDomainCap: Q = (s, d) => {
    val w = Window.partitionBy("source").orderBy(col("quality").desc, col("doc_id"))
    TextAnalysis.textStats(Tables.documents(s, d))
      .select(col("doc_id"), col("source"), col("quality"))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= 20)
      .orderBy("source", "rank")
  }

  /** Quality filter composition: docs passing quality gates, per lang. */
  val qualityFilter: Q = (s, d) =>
    TextAnalysis.textStats(Tables.documents(s, d))
      .filter(col("quality") >= 0.5 && col("n_tokens") >= 20)
      .groupBy("lang").agg(count(lit(1)).as("n_docs"))
      .orderBy("lang")

  /** The composed cleaning pipeline a training-data run would ship:
    * heuristic quality gate -> unigram-LM gibberish gate (the r4 signal,
    * threshold at the corpus p05 of avg token log-prob) -> exact dedup
    * (keep canonical) -> near-dup removal (MinHash-LSH, drop the higher
    * id of each >=0.8 pair). One row per document with the keep decision
    * and FIRST-failing reason — the auditable form (filtering to kept
    * docs is a trailing filter; `pipeline_clean_mix` composes exactly
    * that).
    */
  private[graft] def cleanCorpusDecisions(docs0: DataFrame): DataFrame = {
    // ONE shared spread for every gate: the inner operators' own spread
    // calls see >= defaultParallelism partitions and no-op, so all four
    // gates read the same repartition shuffle's files instead of each
    // building its own scan + barrier + exchange subtree
    val docs = Tables.spread(docs0)
    val stats = TextAnalysis.textStats(docs).select("doc_id", "quality")
    val lm = unigramLogProb(docs).select("doc_id", "avg_logp")
    val exact = Dedup.exact(docs, "text", "doc_id").select("doc_id", "is_duplicate")
    // banding per the engine's OWN advisor (Dedup.bandingAdvisor at
    // threshold 0.8 over 256 hashes recommends 32 bands x 8 rows —
    // largest rows-per-band clearing the 0.9 recall floor, p(0.8) =
    // 0.997): on this low-entropy corpus the previous 32x4 default
    // (s-curve midpoint 0.42) made the candidate stream background-
    // dominated (925k verified pairs at sf0.1 — the r15 10x probe's
    // finding), all of it inside THIS composed pipeline's gates job. At
    // 8-row bands the j~0.22 background collides at ~2e-4 (a ~400x
    // candidate cut) — and the doubled hash budget buys the recall
    // headroom the 128-hash 16x8 form lacks: a REAL sf0.1 pair at
    // j=0.8298 (docs 1568/2466) deterministically misses 16x8 but
    // collides here; a measured Spark differential (LSH pair set ==
    // exact ngramJaccardJoin at t=0.8) is clean at every gate scale,
    // and the exact-Jaccard oracle twins stay full-recall-checked at
    // the driver's sf0.01. dedup_minhash itself keeps 32x4: its row set
    // IS the recall proof at those parameters.
    val nearLosers = Dedup.minhashLsh(docs, "text", "doc_id",
        bands = 32, rowsPerBand = 8, threshold = 0.8)
      .select(col("id_b").as("doc_id")).distinct()
      .withColumn("near_dup", lit(true))
    docs.select("doc_id")
      .join(stats, "doc_id")
      .join(lm, "doc_id")
      .join(exact, "doc_id")
      .join(nearLosers, Seq("doc_id"), "left")
      .select(col("doc_id"), col("quality"), col("avg_logp"),
        when(col("quality") < 0.3, "low_quality")
          .when(col("avg_logp") < -3.43, "lm_gibberish")
          .when(col("is_duplicate"), "exact_duplicate")
          .when(coalesce(col("near_dup"), lit(false)), "near_duplicate")
          .otherwise("kept").as("decision"))
      .withColumn("keep", col("decision") === "kept")
  }

  // NOTE (r8): the r7 verdict hypothesized that eagerly materializing
  // this frame (localCheckpoint, the survivor-projection pattern) inside
  // each composed query would fix the r7 bench regression. MEASURED and
  // REJECTED — same box, medians of 3 at sf0.1: clean_corpus 2.87s lazy
  // vs 6.28s checkpointed, clean_mix 6.52 vs 7.90, training_data 12.12
  // vs 14.80. Each query consumes the frame exactly once, so the eager
  // cut is a pure extra materialization pass; the r7 driver medians that
  // motivated the item (clean_mix 12.68s vs ~6s isolated) were load
  // noise, not recomputation. Details in NOTES.md §"Round 8".

  val pipelineCleanCorpus: Q = (s, d) =>
    cleanCorpusDecisions(Tables.documents(s, d)).orderBy("doc_id")

  /** Corpus mix report over the CLEANED corpus — the full training-data
    * preparation chain composed end-to-end: quality + LM gates + dedup
    * decide keeps, then the kept docs roll up to the (source, lang)
    * domain-weighting table. Same shapes as the parts: the decision
    * frame's joins, then one partial-agg shuffle over kept docs. */
  val pipelineCleanMix: Q = (s, d) => {
    // ONE spread shared by the gate chain (whose inner spreads then
    // no-op) and the token-count projection — and the keep set joins the
    // slim (doc_id, source, lang, _ntok) relation. Spreading the
    // composed join instead would hide the whole gate chain behind the
    // barrier leaf and execute it non-adaptively (measured 2x).
    val docs = Tables.spread(Tables.documents(s, d))
    val kept = cleanCorpusDecisions(docs).filter(col("keep")).select("doc_id")
    val counts = docs
      .select(col("doc_id"), col("source"), col("lang"),
        size(TextAnalysis.tokens(col("text"))).cast("long").as("_ntok"))
    mixReportFromCounts(s, counts.join(kept, "doc_id"))
  }

  /** The corpus datasheet — the one-row release report a training set
    * ships with: volume, diversity, duplication and length statistics in
    * a single scan plus the exact-dup window. `percentile` here is the
    * EXACT median (single sort of a per-doc aggregate); at 100 TB swap
    * to approx_percentile (q44 demonstrates the mergeable-sketch form)
    * — the datasheet contract is the same. */
  val corpusDatasheet: Q = (s, d) => {
    val base = Tables.spread(Tables.documents(s, d))
      .select(col("doc_id"), col("lang"), col("source"),
        size(TextAnalysis.tokens(col("text"))).cast("long").as("_ntok"),
        length(col("text")).cast("long").as("_nch"),
        md5(col("text").cast("binary")).as("_h"))
      .withColumn("_dup",
        count(lit(1)).over(Window.partitionBy("_h")) > 1)
    base.agg(
        count(lit(1)).as("n_docs"),
        sum(col("_ntok")).as("n_tokens"),
        sum(col("_nch")).as("n_chars"),
        countDistinct(col("lang")).as("n_langs"),
        countDistinct(col("source")).as("n_sources"),
        expr("percentile(_ntok, 0.5)").as("median_tokens"),
        max(col("_ntok")).as("max_tokens"),
        count(when(col("_dup"), 1)).as("n_dup_docs"))
      .withColumn("dup_ratio",
        floor(col("n_dup_docs").cast("double") / col("n_docs") * 1e6 + 0.5) / 1e6)
  }

  /** Corpus integrity audit (see [[graft.operators.Audit.corpusAudit]]):
    * referential integrity documents<->embeddings both ways plus vector
    * hygiene, one slim id-only join + one map-side pass per table.
    * Engineered-corruption counts are pinned in QuerySemanticsSpec (the
    * gate corpus is clean, so every defect check hashes 0 here). */
  val corpusAudit: Q = (s, d) =>
    graft.operators.Audit.corpusAudit(Tables.documents(s, d), Tables.embeddings(s, d))

  /** THE composed training-data chain, every stage a proven operator:
    * quality/LM/dedup gates (cleanCorpusDecisions) -> exact-substring
    * duplication gate (dup_ratio <= 0.5) -> fasttext-shaped classifier
    * gate -> deterministic mixture sampling over the SURVIVORS (rates
    * re-derived from surviving token volume, as a real pipeline would)
    * -> greedy 512-token packing per source -> per-source manifest.
    *
    * Scale shape is the sum of its parts — each gate is one scan + its
    * own bounded shuffles producing a doc_id-only relation; the gates
    * join id-to-id (no text crosses a gate boundary); sampling and
    * packing run over the joined survivor ids. The whole chain is
    * hash-checked against a single composed DuckDB CTE built from the
    * same per-stage oracle fragments. */
  val pipelineTrainingData: Q = (s, d) => {
    // ONE spread shared by every gate (the same design pipelineCleanMix
    // documents): cleanCorpusDecisions' inner spread no-ops on the
    // already-spread input, and the substring/classifier gates and the
    // survivor projection all hang off the SAME repartition exchange —
    // one parquet scan + text decompression instead of one per gate
    val docs = Tables.spread(Tables.documents(s, d))
    val cleanKeep = cleanCorpusDecisions(docs).filter(col("keep")).select("doc_id")
    val heavyDup = Dedup.substringSpans(docs, "text", "doc_id", n = 8)
      .filter(col("dup_ratio") > 0.5).select("doc_id")
    // token counts project MAP-SIDE off the shared spread, and the gate
    // relations intersect as slim id-only joins — so the text column
    // never crosses a shuffle (the pipelineCleanMix design; the previous
    // shape joined full-text docs through three exchanges). The
    // classifier gate is MAP-ONLY, so it doesn't even get a relation:
    // its keep predicate fuses into the same projection as the token
    // counts (QualityClassifier.keepCol) — one shuffle join fewer than
    // the r9 shape, same survivor set (r10 phase profile: the gates job
    // is >80% of the query). The slim survivor projection is then
    // MATERIALIZED (eager localCheckpoint — no cache-manager entry to
    // leak) because mix sampling takes two passes over it: without
    // this, the stats collect and the final result would each
    // re-execute the whole gate chain above — the dominant cost of the
    // query, paid twice
    val counts = docs.select(col("doc_id"), col("source"),
      size(TextAnalysis.tokens(col("text"))).cast("long").as("_ntok"),
      QualityClassifier.keepCol(col("text")).as("_cls_keep"))
    val keepIds = cleanKeep.join(heavyDup, Seq("doc_id"), "left_anti")
    val survivors = counts.filter(col("_cls_keep")).drop("_cls_keep")
      .join(keepIds, "doc_id")
      .localCheckpoint(true)
    val sampled = mixSampleFromCounts(s, survivors)
    TextAnalysis.packAssign(sampled, "doc_id", "source", "_ntok", budgetTokens = 512)
      .withColumnRenamed("seq_id", "_seq")
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum(col("_ntok")).as("n_tokens"),
        countDistinct(col("_seq")).as("n_sequences"))
      .withColumn("fill_ratio",
        floor(col("n_tokens").cast("double") / (col("n_sequences") * 512) * 1e6 + 0.5) / 1e6)
      .orderBy("source")
  }

  // ==================================================== multimodal + stream

  /** Multimodal plumbing: binary payload column -> batched per-partition
    * feature extraction (decode step stubbed; see Multimodal). Oracle
    * covers the content-addressed metadata (byte length + sha256). */
  val multimodalMeta: Q = (s, d) =>
    Multimodal.extractFeatures(
        Multimodal.withBinaryPayload(Tables.documents(s, d), "text"), "payload")
      .select(col("doc_id"), col("features.byte_len").as("byte_len"),
        col("features.content_sha").as("content_sha"))
      .orderBy("doc_id")

  /** REAL image decode through `javax.imageio`: synthesize a deterministic
    * PNG per doc (dims + every pixel are closed-form in doc_id), push it
    * through the batched per-partition decode seam, and emit per-channel
    * pixel sums. The oracle recomputes the same sums in SQL WITHOUT
    * decoding, so any encode- or decode-side bit error hash-mismatches.
    * Map-only at scale: encode and decode stay inside one partition. */
  val multimodalDecode: Q = (s, d) => {
    val png = udf((id: Long) => Multimodal.synthPng(id))
    val withPng = Tables.documents(s, d).select(col("doc_id"))
      .withColumn("payload", png(col("doc_id")))
    Multimodal.decodeImages(withPng, "payload")
      .select(col("doc_id"), col("img.width").as("width"),
        col("img.height").as("height"), col("img.red_sum").as("red_sum"),
        col("img.green_sum").as("green_sum"), col("img.blue_sum").as("blue_sum"))
      .orderBy("doc_id")
  }

  /** Perceptual image near-dup (the LAION-pipeline step, multimodal x
    * dedup crossover): consecutive doc pairs share a base image — the odd
    * id carries a byte-level-different near-variant (green-LSB nudges) —
    * and dHash + the banded hamming kernel must pair them back up through
    * the REAL PNG codec. Rows-only by nature (DuckDB cannot decode PNG);
    * banded-vs-brute-force equality is spec'd in DedupSpec. */
  val dedupImagePhash: Q = (s, d) => {
    val png = udf((id: Long) =>
      if (id % 2 == 1) Multimodal.synthPngVariant(id - 1, flips = 4)
      else Multimodal.synthPng(id))
    val withPng = Tables.documents(s, d).select(col("doc_id"))
      .withColumn("payload", png(col("doc_id")))
    Multimodal.imageNearDup(withPng, "payload", "doc_id", maxHamming = 3)
      .orderBy("id_a", "id_b")
  }

  /** The q8 aggregation through Structured Streaming (readStream ->
    * watermark -> window -> memory sink, AvailableNow). */
  val streamingHourly: Q = (s, d) =>
    EventStream.runStreamingWindowedAgg(s, s"$d/events.parquet",
        queryName = "graft_stream_" + java.util.UUID.randomUUID().toString.replace("-", ""))
      .orderBy("window_start", "event_type")

  /** Stateful streaming sessionization (flatMapGroupsWithState with
    * event-time timeout); emits CLOSED sessions. Oracle = the same
    * closed-session definition in window SQL. */
  val streamingSessions: Q = (s, d) =>
    graft.streaming.Sessionize.run(s, s"$d/events.parquet",
        "graft_sess_" + java.util.UUID.randomUUID().toString.replace("-", ""))
      .select(col("user_id"),
        date_format(col("session_start"), "yyyy-MM-dd HH:mm:ss").as("session_start"),
        date_format(col("session_end"), "yyyy-MM-dd HH:mm:ss").as("session_end"),
        col("n_events"))
      .orderBy("user_id", "session_start")

  /** The quality gate on a STREAM: identical expressions, zero state,
    * append mode — checked by the very same oracle as the batch query.
    * Pure row-wise gates are streaming-portable by construction. */
  val streamingQuality: Q = (s, d) =>
    graft.streaming.DocStream.runStreamingQuality(s, s"$d/documents.parquet",
        "graft_squal_" + java.util.UUID.randomUUID().toString.replace("-", ""))
      .orderBy("doc_id")

  /** Near-dup detection AT INGEST TIME: the new-arrivals stream LSH-
    * checked per micro-batch against the standing corpus (foreachBatch
    * over the same incremental operator — zero streaming state; see
    * [[graft.streaming.DocStream.runStreamingNearDup]]). Shares
    * dedup_incremental's exact-Jaccard oracle verbatim. */
  val streamingNearDup: Q = (s, d) =>
    graft.streaming.DocStream.runStreamingNearDup(s, s"$d/documents.parquet")
      .orderBy("new_id", "existing_id")

  /** Percolation at ingest: the same four standing queries as
    * text_percolate matched per arriving document through the stateless
    * expression form — the batch oracle checks the stream verbatim. */
  val streamingPercolate: Q = (s, d) =>
    graft.streaming.DocStream.runStreamingPercolate(s, s"$d/documents.parquet",
        queries = Seq(
          "q_joins" -> Seq("join", "merge"),
          "q_vector" -> Seq("vector", "scan"),
          "q_stream" -> Seq("stream", "window", "batch"),
          "q_agg" -> Seq("customer", "agg")),
        "graft_sperc_" + java.util.UUID.randomUUID().toString.replace("-", ""))
      .orderBy("q_id", "doc_id")

  /** Vector percolation at ingest: vec_percolate's standing subscription
    * set matched per arriving embedding through the stateless stream-
    * static broadcast form — the batch oracle checks the stream
    * verbatim. */
  val streamingVecPercolate: Q = (s, d) =>
    graft.streaming.DocStream.runStreamingVecPercolate(s,
        s"$d/embeddings.parquet", threshold = 0.3,
        "graft_svperc_" + java.util.UUID.randomUUID().toString.replace("-", ""))
      .orderBy("vec_id", "q_id")

  /** CDC-style streaming upsert into a mutable collection: micro-batches
    * insert/replace by id through the merge-on-read tombstone store,
    * then a delete mutation; the live view hash-matches the batch SQL
    * restatement (see
    * [[graft.streaming.DocStream.runStreamingUpsert]]). */
  val streamingUpsert: Q = (s, d) =>
    graft.streaming.DocStream.runStreamingUpsert(s, s"$d/documents.parquet")

  /** LSH-bucketed cosine near-dup (the scale path for dedup_embedding;
    * approximate by construction -> rows-only, recall asserted in tests). */
  val dedupEmbeddingLsh: Q = (s, d) =>
    Similarity.lshNearDupJoin(Tables.embeddings(s, d), "embedding", "vec_id",
        threshold = 0.35, nBits = 8, nTables = 8)
      .orderBy("id_a", "id_b")

  /** HLL++ sketch vs exact distinct: approx_count_distinct is the sketch a
    * 100 TB distinct-count runs on (mergeable, fixed memory). Sketch
    * estimates are engine-specific, but DETERMINISTIC on fixed input
    * (registers merge by max — order-free), so the gate is a FULL hash:
    * the exact column recomputes relationally, the approx column pins
    * against the checked-in fixture (GenSketchFixture — generated at two
    * thread counts and required equal; error bound asserted in tests). */
  val q12DistinctSketch: Q = (s, d) =>
    Tables.lineitem(s, d)
      .groupBy("l_returnflag")
      .agg(countDistinct(col("l_partkey")).as("n_exact"),
        approx_count_distinct(col("l_partkey"), 0.02).as("n_approx"))
      .orderBy("l_returnflag")

  /** Mergeable quantile sketch vs exact percentile: approx_percentile is
    * the shape a 100 TB quantile runs on (bounded-memory partial sketches
    * merged at the reducer; exact `percentile` buffers every value per
    * group). FULL hash like q12: the exact percentiles recompute through
    * DuckDB's quantile_cont (same continuous-interpolation definition),
    * the approx columns pin against the checked-in fixture
    * (GenSketchFixture; error bound asserted in QuerySemanticsSpec;
    * bit-identical across 8/32-thread runs — re-asserted at generation). */
  val q44PercentileSketch: Q = (s, d) =>
    Tables.lineitem(s, d)
      .groupBy("l_returnflag")
      // floor-form rounding (not round()): the exact columns now sit
      // under the cross-engine oracle, where round() tie rules differ
      .agg((floor(expr("percentile(l_extendedprice, 0.5)") * 1e4 + 0.5) / 1e4).as("p50_exact"),
        (floor(expr("approx_percentile(l_extendedprice, 0.5, 1000)") * 1e4 + 0.5) / 1e4).as("p50_approx"),
        (floor(expr("percentile(l_extendedprice, 0.99)") * 1e4 + 0.5) / 1e4).as("p99_exact"),
        (floor(expr("approx_percentile(l_extendedprice, 0.99, 1000)") * 1e4 + 0.5) / 1e4).as("p99_approx"))
      .orderBy("l_returnflag")

  // ================================================== round-2 depth queries

  /** Lead/lag: per-customer consecutive-order day gaps + price-vs-next. */
  val q18LeadLag: Q = (s, d) => {
    val w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    Tables.orders(s, d)
      .withColumn("prev_date", lag("o_orderdate", 1).over(w))
      .withColumn("next_price", lead("o_totalprice", 1).over(w))
      .filter(col("prev_date").isNotNull)
      .select(col("o_custkey"), col("o_orderkey"),
        datediff(col("o_orderdate"), col("prev_date")).cast("long").as("days_since_prev"),
        round(money(col("o_totalprice")) - money(coalesce(col("next_price"), lit(0.0))), 2)
          .cast("double").as("price_vs_next"))
      .orderBy("o_custkey", "o_orderkey")
  }

  /** Set operations (INTERSECT / EXCEPT, set semantics): customers active
    * in 1995 vs 1996. */
  val q19SetOps: Q = (s, d) => {
    val o = Tables.orders(s, d)
    def yr(from: String, until: String) =
      o.filter(col("o_orderdate") >= lit(from).cast("timestamp") &&
        col("o_orderdate") < lit(until).cast("timestamp")).select("o_custkey")
    val a = yr("1995-01-01", "1996-01-01")
    val b = yr("1996-01-01", "1997-01-01")
    a.intersect(b).agg(count(lit(1)).as("n_both"))
      .crossJoin(a.except(b).agg(count(lit(1)).as("n_only_1995")))
      .crossJoin(b.except(a).agg(count(lit(1)).as("n_only_1996")))
  }

  /** JSON extraction over event props. Implementation measured at sf0.1
    * (3 warm runs each): get_json_object 0.47s vs pruned-schema from_json
    * 0.57s warm — and 0.97s vs 5.65s cold (from_json pays Jackson +
    * codegen warmup; the round-3 7.3s bench reading was that cold cost).
    * Single-path extraction -> get_json_object wins; from_json stays the
    * right call once >=2 fields amortize one parse (equivalence pinned in
    * QuerySemanticsSpec). */
  val q20JsonProps: Q = (s, d) =>
    Tables.events(s, d)
      .withColumn("k", get_json_object(col("props"), "$.k").cast("int"))
      .groupBy("k")
      .agg(count(lit(1)).as("n_events"),
        round(sum(money(col("value"))), 2).cast("double").as("sum_value"))
      .orderBy("k")

  /** Pivot: event-type counts as columns per user bucket. */
  val q21Pivot: Q = (s, d) =>
    Tables.events(s, d)
      .groupBy((col("user_id") % 10).as("user_bucket"))
      .pivot("event_type", Seq("click", "error", "purchase", "signup", "view"))
      .agg(count(lit(1)))
      .select(col("user_bucket"),
        coalesce(col("click"), lit(0L)).as("click"),
        coalesce(col("error"), lit(0L)).as("error"),
        coalesce(col("purchase"), lit(0L)).as("purchase"),
        coalesce(col("signup"), lit(0L)).as("signup"),
        coalesce(col("view"), lit(0L)).as("view"))
      .orderBy("user_bucket")

  /** max_by / min_by (arg_max/arg_min): richest + poorest customer name per
    * nation, tie-broken deterministically via a composite (bal, custkey)
    * key encoded as one BIGINT (both engines order it identically). */
  val q22MinmaxBy: Q = (s, d) => {
    val key = round(col("c_acctbal") * 100).cast("long") * 10000000L + col("c_custkey")
    Tables.customer(s, d)
      .join(broadcast(Tables.nation(s, d)), col("c_nationkey") === col("n_nationkey"))
      .groupBy("n_name")
      .agg(max_by(col("c_name"), key).as("richest"),
        min_by(col("c_name"), key).as("poorest"),
        round(max(col("c_acctbal")), 2).as("max_bal"),
        round(min(col("c_acctbal")), 2).as("min_bal"))
      .orderBy("n_name")
  }

  /** Array aggregation: per-order sorted line numbers (orders with >= 5
    * lines), serialized to a CSV string for the gate — the driver's
    * comparator sorts rows with pandas and cannot hash array cells. The
    * array-valued parquet round-trip itself is pinned in
    * QuerySemanticsSpec, where it belongs. */
  val q23ArrayAgg: Q = (s, d) =>
    Tables.lineitem(s, d)
      .groupBy("l_orderkey")
      .agg(sort_array(collect_list(col("l_linenumber"))).as("_ln"),
        count(lit(1)).as("n_lines"))
      .filter(col("n_lines") >= 5)
      .select(col("l_orderkey"),
        array_join(transform(col("_ln"), _.cast("string")), ",").as("linenumbers"),
        col("n_lines"))
      .orderBy("l_orderkey")

  /** Time-series gap filling: dense hourly grid (sequence + explode) x
    * event types, left-joined counts, zeros filled. */
  val q24Gapfill: Q = (s, d) => {
    val ev = Tables.events(s, d).withColumn("hour", date_trunc("hour", col("ts")))
    val bounds = ev.agg(min("hour").as("h0"), max("hour").as("h1"))
    val hours = bounds.select(explode(sequence(col("h0"), col("h1"),
      expr("interval 1 hour"))).as("hour"))
    val types = ev.select("event_type").distinct()
    val counts = ev.groupBy("hour", "event_type").agg(count(lit(1)).as("n"))
    hours.crossJoin(types)
      .join(counts, Seq("hour", "event_type"), "left")
      .select(date_format(col("hour"), "yyyy-MM-dd HH:mm:ss").as("hour"),
        col("event_type"), coalesce(col("n"), lit(0L)).as("n_events"))
      .orderBy("hour", "event_type")
  }

  /** Statistical aggregates: corr / covar_samp / stddev / variance.
    * Floor-form rounding (not round()) removes the cross-engine tie-rule
    * divergence on deterministic doubles; the residual risk is Spark's own
    * partial-agg merge order shifting a co-moment by ~1 ulp exactly across
    * a floor boundary — probability ~1e-6 per value, accepted and
    * documented (exact-moment reformulation would lose the builtin
    * corr/covar coverage this query exists to exercise). */
  val q25StatsAgg: Q = (s, d) =>
    Tables.lineitem(s, d)
      .groupBy("l_returnflag")
      .agg((floor(corr(col("l_quantity"), col("l_extendedprice")) * 1e6 + 0.5) / 1e6)
        .as("corr_qty_price"),
        (floor(covar_samp(col("l_quantity"), col("l_extendedprice")) * 1e2 + 0.5) / 1e2)
          .as("covar_qty_price"),
        (floor(stddev_samp(col("l_extendedprice")) * 1e2 + 0.5) / 1e2).as("std_price"),
        (floor(var_samp(col("l_quantity")) * 1e2 + 0.5) / 1e2).as("var_qty"))
      .orderBy("l_returnflag")

  /** ntile quartiles per segment with per-quartile balance ranges. */
  val q26Ntile: Q = (s, d) => {
    val w = Window.partitionBy("c_mktsegment").orderBy(col("c_acctbal"), col("c_custkey"))
    Tables.customer(s, d)
      .withColumn("quartile", ntile(4).over(w).cast("long"))
      .groupBy("c_mktsegment", "quartile")
      .agg(count(lit(1)).as("n"),
        round(min(col("c_acctbal")), 2).as("min_bal"),
        round(max(col("c_acctbal")), 2).as("max_bal"))
      .orderBy("c_mktsegment", "quartile")
  }

  /** Edit distance between consecutive docs of a source (levenshtein is
    * codegen'd in Spark; 40-char prefixes bound the O(len^2) cost). */
  val q27Levenshtein: Q = (s, d) => {
    val w = Window.partitionBy("source").orderBy("doc_id")
    Tables.documents(s, d)
      .withColumn("next_text", lead("text", 1).over(w))
      .filter(col("next_text").isNotNull)
      .select(col("source"), col("doc_id"),
        levenshtein(substring(col("text"), 1, 40), substring(col("next_text"), 1, 40))
          .cast("long").as("lev40"))
      .orderBy("source", "doc_id")
  }

  /** Salted two-phase exact distinct (Skew operator surfaced as a query):
    * the hot-key-safe form of count(DISTINCT) — partials spread over 8
    * salted reducers, then merged. Oracle = plain count(DISTINCT). */
  val skewSaltedAgg: Q = (s, d) =>
    graft.operators.Skew.saltedCountDistinct(Tables.lineitem(s, d),
        Seq("l_returnflag"), "l_partkey", col("l_orderkey"), salts = 8)
      .orderBy("l_returnflag")

  /** BPE-ish regex tokenization ([a-z]+ | digits | single punctuation) —
    * the subword-style token counting a training-data pipeline runs. */
  val textBpeTokens: Q = (s, d) =>
    Tables.documents(s, d)
      .withColumn("_t", graft.text.Bpe.words(col("text")))
      .select(col("doc_id"), size(col("_t")).cast("long").as("n_bpe_tokens"),
        size(array_distinct(col("_t"))).cast("long").as("n_uniq_bpe"),
        // floor form: the avg is an exact int/int rational (half-boundary
        // round() divergence class — see the parity rules)
        (floor(aggregate(transform(col("_t"), t => length(t).cast("double")),
          lit(0.0), (a, x) => a + x) / greatest(size(col("_t")), lit(1)) * 1e6 + 0.5) / 1e6)
          .as("avg_bpe_len"))
      .orderBy("doc_id")

  /** Full BPE tokenization: train 50 merges on the corpus's bounded
    * word-frequency table (one distributed pass + a driver loop over
    * <=50k words — the standard trainer substrate), then encode every
    * document with the learned merges. Oracle-checked against a
    * checked-in expected-encoding fixture at the gate scale (the
    * iterative trainer isn't SQL-expressible — see the oracle comment);
    * BpeSpec pins the classic worked example, exact invariants, and
    * determinism independently. */
  val textBpeApply: Q = (s, d) => {
    val docs = Tables.documents(s, d)
    val merges = graft.text.Bpe.train(docs, "text", numMerges = 50)
    graft.text.Bpe.encodeReport(docs, "text", "doc_id", merges)
      .orderBy("doc_id")
  }

  /** The custom vector kernels through the SQL FRONT-END: register the
    * Catalyst expressions as SQL functions and run the retrieval as pure
    * SQL text — proving spark.sql users get the identical codegen'd
    * kernels (and the identical plan: TakeOrderedAndProject over the
    * broadcast 1-row query side, same as vec_knn). */
  val q45SqlVectorFn: Q = (s, d) => {
    graft.functions.GraftFunctions.register(s)
    Tables.embeddings(s, d).createOrReplaceTempView("g_emb_sqlfn")
    s.sql(
      """SELECT e.vec_id, round(vec_cosine(e.embedding, q.embedding), 6) AS cosine,
        |       round(vec_l2sq(e.embedding, q.embedding), 6) AS l2sq
        |FROM g_emb_sqlfn e CROSS JOIN (SELECT embedding FROM g_emb_sqlfn WHERE vec_id = 0) q
        |WHERE e.vec_id <> 0
        |ORDER BY cosine DESC, e.vec_id LIMIT 10""".stripMargin)
  }

  /** Frame sampling over binary payloads: 64-byte frames as rows with
    * per-frame identity (byte-exact: frames are BINARY slices; the hex
    * round-trip is only for the cross-engine oracle compare). */
  val multimodalFrames: Q = (s, d) =>
    Multimodal.frameSample(
        Multimodal.withBinaryPayload(Tables.documents(s, d), "text"), "payload", 64)
      .select(col("doc_id"), col("frame_idx"),
        length(col("frame")).cast("long").as("frame_bytes"),
        md5(hex(col("frame")).cast("binary")).as("frame_md5"))
      .orderBy("doc_id", "frame_idx")

  /** Multimodal resize plumbing: downsample the binary payload by keeping
    * every 4th byte — the STUB for an image/audio resample (a codec would
    * slot into the same column-in/column-out shape). Byte selection and
    * identity run as pure column ops over the hex view so the oracle
    * compares byte-exactly without blob slicing. */
  val multimodalResize: Q = (s, d) => {
    val k = 4
    Multimodal.withBinaryPayload(Tables.documents(s, d), "text")
      .filter(length(col("payload")) > 0)
      .withColumn("_hx", hex(col("payload")))
      .withColumn("_res", array_join(transform(
        sequence(lit(0), ((length(col("payload")) - 1) / lit(k)).cast("int")),
        i => substr(col("_hx"), i * (2 * k) + 1, lit(2))), ""))
      .select(col("doc_id"),
        (length(col("_res")) / 2).cast("long").as("resized_bytes"),
        md5(col("_res").cast("binary")).as("resized_md5"))
      .orderBy("doc_id")
  }

  /** Stream-stream interval join (purchases x clicks within 1 hour) through
    * Structured Streaming with state-bounding watermarks on both sides.
    * Oracle = the identical time-range join in batch SQL. */
  val streamingJoin: Q = (s, d) =>
    EventStream.runStreamingIntervalJoin(s, s"$d/events.parquet",
        "graft_join_" + java.util.UUID.randomUUID().toString.replace("-", ""))
      .orderBy("user_id", "purchase_id", "click_id")

  /** Deterministic chunk ids (reference O6, sha256 mode) — proves the id
    * derivation cross-engine: id = sha256(chunk_id), chunk_id =
    * "{doc_id}_chunk_{index}" over the real boundary-scanning chunker. */
  val ingestIds: Q = (s, d) =>
    IngestPipeline.chunk(Tables.documents(s, d), "text", "doc_id",
        chunkSize = 120, overlap = 20)
      .withColumn("id", sha2(col("chunk_id").cast("binary"), 256))
      .select(col("doc_id"), col("chunk_index"), col("chunk_id"), col("id"))
      .orderBy("doc_id", "chunk_index")

  /** The deterministic prefix of the FULL ingest pipeline (blank-filter ->
    * chunk -> metadata -> sha256 ids), run through `ingestDocuments`
    * itself (embedding computed then projected away) and oracle-checked
    * cross-engine via the recursive-CTE chunker twin + sha256 — the
    * flagship `ingest_pipeline` stays rows-only ONLY because embeddings
    * are not SQL-expressible; every deterministic column it produces is
    * hash-verified here. */
  val ingestRecords: Q = (s, d) =>
    IngestPipeline.ingestDocuments(Tables.documents(s, d), HashEmbedder(dim = 8),
        chunkSize = 120, overlap = 20)
      .select(col("doc_id"), col("chunk_index"), col("chunk_id"), col("id"),
        col("chunk"), col("source"), col("total_chunks").cast("long").as("total_chunks"))
      .orderBy("doc_id", "chunk_index")

  /** Sliding time-RANGE window frame: per-event trailing-1h count and
    * average value within the event's type. The frame is RANGE over epoch
    * seconds (peers included), so two engines agree row-for-row; the sum
    * runs in exact DECIMAL and divides in double once. */
  val q28MovingAvg: Q = (s, d) => {
    val w = Window.partitionBy("event_type").orderBy(col("ts").cast("long"))
      .rangeBetween(-3599, 0)
    Tables.events(s, d)
      .withColumn("cnt_1h", count(lit(1)).over(w))
      .withColumn("sum_1h", sum(money(col("value"))).over(w))
      .select(col("event_id"), col("event_type"), col("cnt_1h"),
        // floor-based rounding: the avg is an exact rational that CAN land
        // on a 4-decimal half, where Spark/DuckDB round() tie rules differ
        (floor(col("sum_1h").cast("double") / col("cnt_1h") * 1e4 + 0.5) / 1e4).as("avg_1h"))
      .orderBy("event_id")
  }

  /** PII scrubbing (training-data cleaning op): emails and long digit runs
    * replaced by placeholder tokens; output is the scrubbed-content hash +
    * how many long numbers were present. */
  val textScrubPii: Q = (s, d) =>
    Tables.documents(s, d)
      .select(col("doc_id"),
        md5(regexp_replace(regexp_replace(col("text"),
          "[\\w.+-]+@[\\w-]+\\.[\\w.]+", "<EMAIL>"), "\\d{3,}", "<NUM>")
          .cast("binary")).as("scrubbed_md5"),
        size(regexp_extract_all(col("text"), lit("\\d{3,}"), lit(0)))
          .cast("long").as("n_long_nums"))
      .orderBy("doc_id")

  /** Corpus-wide term frequency (vocabulary building): top-30 tokens.
    * explode -> groupBy is the map-side-combinable shape that scales. */
  val textTermFreq: Q = (s, d) =>
    Tables.documents(s, d)
      .select(explode(split(trim(lower(col("text"))), "\\s+")).as("term"))
      .filter(length(col("term")) > 0)
      .groupBy("term").agg(count(lit(1)).as("tf"))
      .orderBy(col("tf").desc, col("term"))
      .limit(30)

  /** Per-label embedding centroid (first 8 dims, long form): the class-
    * centroid aggregate behind IVF/classification. Fixed-point long sums
    * (floor(x*2^24)) make the mean bit-deterministic across engines AND
    * across Spark's own partial-agg merge orders. */
  val vecCentroidPerLabel: Q = (s, d) =>
    Tables.embeddings(s, d)
      .select(col("label"), posexplode(col("embedding")).as(Seq("pos", "x")))
      .filter(col("pos") < 8)
      .withColumn("fp", floor(col("x").cast("double") * 16777216).cast("long"))
      .groupBy("label", "pos")
      // floor form, not round(): the mean is an exact rational that can
      // land on a 6-decimal half where the engines' round() tie rules differ
      .agg((floor(sum("fp").cast("double") / count(lit(1)) / 16777216 * 1e6 + 0.5) / 1e6)
        .as("avg_component"),
        count(lit(1)).as("n"))
      .orderBy("label", "pos")

  /** Streaming exact dedup of a REPLAYED source (every event arrives
    * twice) via dropDuplicatesWithinWatermark — bounded-state dedup, the
    * shape that runs forever on an unbounded stream. Aggregated per event
    * type; oracle = the same aggregate over the single-copy batch table
    * (so the dedup provably removed exactly the replays). */
  val streamingDedup: Q = (s, d) =>
    EventStream.runStreamingDedup(s, s"$d/events.parquet",
        "graft_dedup_" + java.util.UUID.randomUUID().toString.replace("-", ""))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n_events"),
        round(sum(money(col("value"))), 2).cast("double").as("sum_value"))
      .orderBy("event_type")

  /** Id-level collection mutation (the Chroma collection verbs beyond the
    * reference's own ingest path — upsert / partial update / delete / live
    * read), exercised end to end through the sequence-versioned
    * merge-on-read tombstone store [[graft.store.MutableCollection]]:
    * create a mutable collection from a documents slice, upsert an
    * overlapping slice with rewritten text (updates the overlap, inserts
    * the rest), partially update `source` for the first ids, delete every
    * 7th id, then read the live view. The oracle restates the exact final
    * state in plain SQL over the source table — a FULL-hash check that the
    * tombstone merge resolves versions correctly. */
  /** THE mutation sequence collection_mutate / collection_snapshot /
    * collection_diff all exercise — create (<=300), upsert (250..350,
    * upper text), update (source='edited' for <=20), delete (%7) — as
    * ONE definition, because their three oracles each restate this
    * exact sequence in SQL and would silently stop agreeing if a copy
    * drifted. Runs against a fresh temp store; returns the mutable
    * handle and the post-upsert sequence, then hands the caller's
    * result through collect-and-destroy. */
  private def runMutateScript(s: SparkSession, docs: DataFrame,
      mc: graft.store.MutableCollection): Long = {
    mc.upsert(docs.filter(col("doc_id").between(250, 350))
      .withColumn("text", upper(col("text"))))
    val postUpsert = mc.currentSeq
    mc.update(s, docs.filter(col("doc_id") <= 20)
      .select(col("doc_id"), lit("edited").as("source")))
    mc.delete(mc.readLive(s).filter(col("doc_id") % 7 === 0).select("doc_id"))
    postUpsert
  }

  /** Live form — `collection_mutate` runs the script per invocation, so
    * the mutation verbs themselves stay benched somewhere. */
  private def withMutateSequence(s: SparkSession, d: String)(
      out: (graft.store.MutableCollection, Long) => DataFrame): DataFrame = {
    val root = java.nio.file.Files.createTempDirectory("graft_mutq").toString
    val store = graft.store.VectorStore(root)
    val docs = Tables.documents(s, d).select("doc_id", "source", "text")
    try {
      val mc = store.createMutable("docs", docs.filter(col("doc_id") <= 300), "doc_id")
      val postUpsert = runMutateScript(s, docs, mc)
      val res = out(mc, postUpsert)
      val rows = res.collect()
      s.createDataFrame(java.util.Arrays.asList(rows: _*), res.schema)
    } finally store.destroy()
  }

  /** Fixture form — the CDC / diff / snapshot gates' verb is a pure
    * READ of the post-script state, so they share the pristine mutated
    * store (same single script definition; built once per process). */
  private def withMutatedPristine(s: SparkSession, d: String)(
      out: (graft.store.MutableCollection, Long) => DataFrame): DataFrame = {
    val (store, postUpsert) =
      MutationFixture.pristineFor(s, d, "mut_seq") { st =>
        val docs = Tables.documents(s, d).select("doc_id", "source", "text")
        val mc = st.createMutable("docs",
          docs.filter(col("doc_id") <= 300), "doc_id")
        runMutateScript(s, docs, mc)
      }
    val res = out(store.mutable("docs"), postUpsert)
    val rows = res.collect()
    s.createDataFrame(java.util.Arrays.asList(rows: _*), res.schema)
  }

  val collectionMutate: Q = (s, d) =>
    withMutateSequence(s, d)((mc, _) => mc.readLive(s).orderBy("doc_id"))

  /** Compaction advisor: create ≤300, upsert 250–350, delete live %7 —
    * then the report-before-action verb. Version/dead/live counts, the
    * floor-rounded dead ratio, and the ppm-rule recommendation are all
    * restated relationally from the mutation sequence, so the whole
    * policy row (boolean included) sits under the hash. */
  val collectionCompactAdvisor: Q = (s, d) => {
    // report-before-action is a pure READ of the mutated state — the
    // pristine fixture serves it directly (no clone, no destroy)
    val (store, _) = MutationFixture.pristineFor(s, d, "compact_adv") { st =>
      val docs = Tables.documents(s, d).select("doc_id", "source", "text")
      val mc = st.createMutable("docs",
        docs.filter(col("doc_id") <= 300), "doc_id")
      mc.upsert(docs.filter(col("doc_id").between(250, 350))
        .withColumn("text", upper(col("text"))))
      mc.delete(mc.readLive(s).filter(col("doc_id") % 7 === 0).select("doc_id"))
    }
    val out = store.mutable("docs").compactionReport(s, minDeadFraction = 0.1)
    s.createDataFrame(java.util.Arrays.asList(out.collect(): _*), out.schema)
  }

  /** Snapshot (time-travel) reads over the same mutation sequence as
    * `collection_mutate`: because merge-on-read never destroys row
    * versions, the post-upsert state AND the final state reconstruct
    * from one store via [[graft.store.MutableCollection.readLiveAt]] —
    * both returned here under a tag column, both restated in plain SQL
    * by the oracle, so the gate hash-proves that seq-bounded merges
    * resolve every retained historical state exactly. */
  val collectionSnapshot: Q = (s, d) =>
    withMutatedPristine(s, d) { (mc, postUpsert) =>
      mc.readLiveAt(s, postUpsert).withColumn("snapshot", lit("post_upsert"))
        .unionByName(mc.readLiveAt(s, mc.currentSeq).withColumn("snapshot", lit("final")))
        .select("snapshot", "doc_id", "source", "text")
        .orderBy("snapshot", "doc_id")
    }

  /** Change-data capture between two snapshots of the collection_mutate
    * sequence (creation -> final): every id classified insert / update /
    * delete with its payload, against an oracle that re-derives the same
    * change set from the two SQL-restated states. Proves the CDC read is
    * exactly the difference of the snapshots it spans. */
  val collectionDiff: Q = (s, d) =>
    withMutatedPristine(s, d) { (mc, _) =>
      // creation is always sequence 0 — diff the full span
      mc.changesBetween(s, 0L, mc.currentSeq).orderBy("change", "doc_id")
    }

  /** The DELTA-BOUNDED CDC tiers under the gate's oracle: the same
    * endpoint diff as `collection_diff`, but with the small-collection
    * fast path disabled so the read runs the seq-pruned delta scan —
    * once through the In-pushdown tier (default id budget) and once
    * through the semi-join tier (budget forced to 0) — each tagged.
    * A hash match against the oracle (the diff restated twice in plain
    * SQL) proves BOTH 100 TB code paths produce exactly the
    * full-outer-equivalent change set; the gate's tiny store would
    * otherwise only ever exercise the small-collection tier. */
  val collectionCdcDelta: Q = (s, d) =>
    withMutatedPristine(s, d) { (mc, _) =>
      import graft.store.MutableCollection.{IsinMaxIdsConf, SmallCollectionBytesConf}
      s.conf.set(SmallCollectionBytesConf, "0")
      try {
        val isinTier = mc.changesBetween(s, 0L, mc.currentSeq)
          .withColumn("tier", lit("isin"))
        s.conf.set(IsinMaxIdsConf, "0")
        val semiTier =
          try mc.changesBetween(s, 0L, mc.currentSeq)
            .withColumn("tier", lit("semi"))
          finally s.conf.unset(IsinMaxIdsConf)
        // materialize INSIDE the conf scope — changesBetween picks its
        // tier at plan-construction time, but the conf must not leak
        isinTier.unionByName(semiTier)
          .select("tier", "change", "doc_id", "source", "text")
          .orderBy("tier", "change", "doc_id")
          .localCheckpoint(true)
      } finally s.conf.unset(SmallCollectionBytesConf)
    }

  /** Zero-copy fork at the gate: fork a mutable collection (hardlinked
    * data, copied bookkeeping), mutate ONLY the fork, then read both
    * sides tagged — the oracle restates the two states independently,
    * so a hash match proves complete history isolation across shared
    * bytes. */
  val collectionFork: Q = (s, d) => {
    val root = java.nio.file.Files.createTempDirectory("graft_forkq").toString
    val store = graft.store.VectorStore(root)
    val docs = Tables.documents(s, d).select("doc_id", "source", "text")
    try {
      val mc = store.createMutable("docs", docs.filter(col("doc_id") <= 300), "doc_id")
      store.fork("docs", "branch")
      val br = store.mutable("branch")
      br.upsert(docs.filter(col("doc_id").between(290, 330))
        .withColumn("text", lower(col("text"))))
      br.delete(br.readLive(s).filter(col("doc_id") % 11 === 0).select("doc_id"))
      val out = mc.readLive(s).withColumn("side", lit("source"))
        .unionByName(br.readLive(s).withColumn("side", lit("fork")))
        .select("side", "doc_id", "source", "text")
        .orderBy("side", "doc_id")
      val rows = out.collect()
      s.createDataFrame(java.util.Arrays.asList(rows: _*), out.schema)
    } finally store.destroy()
  }

  /** Per-transition CDC: every WRITE of the mutation sequence read back
    * as its own change batch (changesBetween over each adjacent seq
    * pair, tagged) — finer than collection_diff's endpoint diff, and
    * exactly how an incremental CDC consumer polls a store. The oracle
    * re-derives each batch independently: upsert effects split into
    * updates (value actually changed) and inserts, the partial update's
    * effects, the delete's tombstones with their pre-delete payloads. */
  val collectionCdcBatches: Q = (s, d) =>
    withMutatedPristine(s, d) { (mc, _) =>
      (1L to mc.currentSeq).map { sq =>
        mc.changesBetween(s, sq - 1, sq).withColumn("batch_seq", lit(sq))
      }.reduce(_ unionByName _)
        .select("batch_seq", "change", "doc_id", "source", "text")
        .orderBy("batch_seq", "change", "doc_id")
    }

  /** Compaction invisibility at the gate: a mid-sequence [[compact]]
    * (folding a delete's tombstones into the files) must leave every
    * LATER mutation and the final live view bit-identical to the
    * never-compacted execution — the oracle restates the whole sequence
    * in SQL with no notion of compaction at all. Also covers
    * delete-then-resurrect across the compaction boundary. */
  val collectionMutateCompact: Q = (s, d) => {
    val root = java.nio.file.Files.createTempDirectory("graft_mcq").toString
    val store = graft.store.VectorStore(root)
    val docs = Tables.documents(s, d).select("doc_id", "source", "text")
    try {
      val mc = store.createMutable("docs", docs.filter(col("doc_id") <= 280), "doc_id")
      mc.delete(mc.readLive(s).filter(col("doc_id") % 5 === 0).select("doc_id"))
      mc.compact(s) // folds the delete; later mutations land on the compacted files
      mc.upsert(docs.filter(col("doc_id").between(260, 330))
        .withColumn("text", lower(col("text"))))
      mc.update(s, docs.filter(col("doc_id") <= 15)
        .select(col("doc_id"), lit("patched").as("source")))
      val out = mc.readLive(s).orderBy("doc_id")
      val rows = out.collect()
      s.createDataFrame(java.util.Arrays.asList(rows: _*), out.schema)
    } finally store.destroy()
  }

  /** TARGETED compaction under the gate oracle: the same mutation
    * sequence as `collection_mutate_compact`, but maintenance runs
    * through [[graft.store.MutableCollection.compactDirty]] — the
    * O(dirty-bytes) rewrite of only the files whose dead fraction
    * crossed the threshold (the 100 TB maintenance shape; a full
    * [[graft.store.MutableCollection.compact]] rewrites the whole
    * collection). Two passes, one after the delete wave and one after
    * the upsert/update wave, with thresholds low enough that both
    * genuinely rewrite at gate scale, plus a final
    * [[graft.store.MutableCollection.compactTombstones]] — the O(log)
    * third maintenance axis (fold the tombstone log to max-seq per
    * id). The oracle restates the sequence with NO notion of any of
    * the three passes — a hash match proves the journaled
    * promote/delete AND the log fold leave a live view
    * indistinguishable from never having compacted. */
  val collectionCompactDirty: Q = (s, d) => {
    // pre-verb state (create + the delete wave) from the mutation
    // fixture — the benched verbs are the THREE maintenance passes and
    // the mutations they interleave with
    val (store, _) = MutationFixture.cloneFor(s, d, "compact_dirty") { st =>
      val docs0 = Tables.documents(s, d).select("doc_id", "source", "text")
      val mc = st.createMutable("docs",
        docs0.filter(col("doc_id") <= 280), "doc_id")
      mc.delete(mc.readLive(s).filter(col("doc_id") % 5 === 0).select("doc_id"))
    }
    val docs = Tables.documents(s, d).select("doc_id", "source", "text")
    try {
    val mc = store.mutable("docs")
    mc.compactDirty(s, minDeadFraction = 0.1) // folds the delete wave only
    mc.upsert(docs.filter(col("doc_id").between(260, 330))
      .withColumn("text", lower(col("text"))))
    mc.update(s, docs.filter(col("doc_id") <= 15)
      .select(col("doc_id"), lit("patched").as("source")))
    mc.compactDirty(s, minDeadFraction = 0.1) // folds the upsert/update wave
    mc.compactTombstones(s) // and the third axis: fold the LOG itself
    val out = mc.readLive(s).orderBy("doc_id")
    val rows = out.collect()
    s.createDataFrame(java.util.Arrays.asList(rows: _*), out.schema)
    } finally store.destroy()
  }

  /** Collection lifecycle (reference create/add/read, O9+O13+O17) surfaced
    * in the oracle gate: overwrite-create a lang-PARTITIONED collection,
    * append a second batch, read back through the store with a filter that
    * prunes partitions (ScaleSpec asserts the PartitionFilters plan shape).
    * Oracle = the same counts straight off the source table, proving the
    * store round-trip is lossless. */
  val collectionLifecycle: Q = (s, d) => {
    val root = java.nio.file.Files.createTempDirectory("graft_collq").toString
    val store = graft.store.VectorStore(root)
    val docs = Tables.documents(s, d)
    try {
      store.create("docs", docs.filter(col("lang") =!= "zh"), partitionBy = Seq("lang"))
      store.append("docs", docs.filter(col("lang") === "zh"), partitionBy = Seq("lang"))
      val out = store.read(s, "docs")
        .filter(col("lang").isin("en", "zh"))
        .groupBy("lang")
        .agg(count(lit(1)).as("n_docs"), countDistinct(col("source")).as("n_sources"))
        .orderBy("lang")
      // materialize eagerly so the scratch store can be deleted (repeated
      // Bench/Verify runs must not accumulate /tmp copies of the corpus)
      val rows = out.collect()
      s.createDataFrame(java.util.Arrays.asList(rows: _*), out.schema)
    } finally store.destroy()
  }

  /** Collection-bound embedder manifest (Chroma binds the embedding
    * function at create_collection,
    * /root/reference/src/PDFToChromaIngester.py:51-54 — the last
    * reference-API semantic previously unmapped): create an
    * embedder-bound collection from the documents table with an
    * asymmetric passage/query HashEmbedder pair, read the manifest back
    * off disk, RESOLVE the query-side embedder from it alone, and emit
    * the binding fields plus the SHA-256 fingerprint. The oracle
    * recomputes the fingerprint with DuckDB's sha256() over the same
    * canonical string and takes n_rows from the source table — proving
    * both the fingerprint arithmetic and the sidecar round-trip
    * cross-engine. Mismatch REJECTION is pinned in RagSearchSpec (an
    * exception, not a hashable row). */
  val collectionManifest: Q = (s, d) => {
    val root = java.nio.file.Files.createTempDirectory("graft_manifq").toString
    val store = graft.store.VectorStore(root)
    val (pe, qe) = graft.embed.Embedders.asymmetric(p => HashEmbedder(64, p))
    val m = graft.store.CollectionManifest.of(pe, qe)
    val docs = Tables.documents(s, d).select("doc_id", "text", "lang")
    val embedded = graft.embed.Embedders.embed(docs, "text", "embedding", pe)
    try {
      store.create("docs", embedded, manifest = Some(m))
      val back = store.manifest("docs").get
      val resolved = back.resolveQueryEmbedder
      val n = store.count(s, "docs")
      import s.implicits._
      Seq((back.family, back.dim, back.passagePrefix, back.queryPrefix,
        back.bpeMerges.size, back.fingerprint,
        resolved.identity == qe.identity, n))
        .toDF("family", "dim", "passage_prefix", "query_prefix", "n_merges",
          "fingerprint", "resolved_ok", "n_rows")
    } finally store.destroy()
  }

  /** The Chroma `collection.modify` verb at the gate: set collection
    * metadata, then modify BOTH name and metadata in one call (Chroma's
    * replace-not-merge semantics — the first map must vanish wholesale),
    * compact, and read everything back — proving the sidecar replaces
    * atomically, travels with the rename, and survives the compaction
    * swap. The oracle restates the final state literally. */
  val collectionModify: Q = (s, d) => {
    val root = java.nio.file.Files.createTempDirectory("graft_modq").toString
    val store = graft.store.VectorStore(root)
    val docs = Tables.documents(s, d).select("doc_id", "source", "text")
    try {
      store.create("docs", docs.filter(col("doc_id") <= 100))
      store.modify("docs",
        metadata = Some(Map("owner" -> "ingest-team", "version" -> "1")))
      val newName = store.modify("docs", newName = Some("corpus"),
        metadata = Some(Map("owner" -> "search-team", "purpose" -> "rag")))
      val names = store.list().mkString(",")
      val meta = store.metadata(newName)
      val n = store.count(s, newName)
      store.compact(s, newName)
      val survives = store.metadata(newName) == meta
      import s.implicits._
      Seq((names,
        meta.toSeq.sorted.map { case (k, v) => s"$k=$v" }.mkString(";"),
        survives, n))
        .toDF("collections", "metadata", "survives_compact", "n_rows")
    } finally store.destroy()
  }

  /** Collection aliases at the gate — the zero-downtime reindex drill:
    * v1 (even doc ids) serves under alias `serving`; a richer v2 (the
    * full corpus) is built BESIDE it and cut over with one atomic
    * [[graft.store.VectorStore.swapAlias]]. Both phases read THROUGH
    * the alias, and the per-source aggregate of each phase lands in the
    * output tagged v1/v2 — the oracle restates both derivations, so a
    * torn cutover (reading half old / half new) or a resolution bug
    * (reading the concrete name past the swap) breaks the hash. */
  val collectionAlias: Q = (s, d) => {
    val root = java.nio.file.Files.createTempDirectory("graft_aliasq").toString
    val store = graft.store.VectorStore(root)
    val docs = Tables.documents(s, d)
      .select(col("doc_id"), col("source"), length(col("text")).as("n_chars"))
    def served(phase: String): DataFrame =
      store.read(s, "serving").groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("sum_chars"))
        .withColumn("phase", lit(phase))
        .select("phase", "source", "n_docs", "sum_chars")
    try {
      store.create("idx_v1", docs.filter(col("doc_id") % 2 === 0))
      store.createAlias("serving", "idx_v1")
      val before = served("v1")
      val out1 = s.createDataFrame(
        java.util.Arrays.asList(before.collect(): _*), before.schema)
      store.create("idx_v2", docs)
      store.swapAlias("serving", "idx_v2")
      val after = served("v2")
      val out2 = s.createDataFrame(
        java.util.Arrays.asList(after.collect(): _*), after.schema)
      out1.unionAll(out2)
    } finally store.destroy()
  }

  /** The Chroma `include=[...]` result projection at the gate: a
    * get-shape read under the get default (documents + metadatas — ids
    * always, embeddings never unless asked), applied BEFORE the action
    * so the dropped embedding column is physically pruned from the scan
    * (ReadSchema pin in PlanSpec). The oracle restates the projection
    * as a plain column select. */
  val collectionInclude: Q = (s, d) => {
    val root = java.nio.file.Files.createTempDirectory("graft_incq").toString
    val store = graft.store.VectorStore(root)
    val docs = Tables.documents(s, d).select("doc_id", "source", "lang", "text")
    val emb = graft.embed.HashEmbedder(32, "")
    try {
      store.create("docs", graft.embed.Embedders.embed(docs, "text", "embedding", emb))
      val out = graft.query.Include.project(
        store.read(s, "docs").filter(col("doc_id") <= 50),
        "doc_id", graft.query.Include.GetDefault,
        documentCol = Some("text"), embeddingCol = Some("embedding"))
        .orderBy("doc_id")
      val rows = out.collect()
      s.createDataFrame(java.util.Arrays.asList(rows: _*), out.schema)
    } finally store.destroy()
  }

  /** Explicit GROUPING SETS with grouping() markers through the SQL
    * front-end (rollup/cube's general form; q6/q13 cover those). */
  val q29GroupingSets: Q = (s, d) => {
    Tables.lineitem(s, d).createOrReplaceTempView("g_lineitem_gs")
    s.sql(
      """SELECT coalesce(l_returnflag, 'ALL') AS rflag,
        |       coalesce(l_linestatus, 'ALL') AS lstatus,
        |       CAST(grouping(l_returnflag) AS INT) AS g_rflag,
        |       CAST(grouping(l_linestatus) AS INT) AS g_lstatus,
        |       count(*) AS n,
        |       CAST(round(sum(CAST(l_quantity AS DECIMAL(12,4))), 2) AS DOUBLE) AS sum_qty
        |FROM g_lineitem_gs
        |GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_returnflag), ())
        |ORDER BY rflag, lstatus, g_rflag, g_lstatus""".stripMargin)
  }

  /** first_value / last_value over an unbounded window frame: each
    * customer's first and most recent order (one row per customer via
    * row_number). */
  val q30FirstLast: Q = (s, d) => {
    val ord = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    val full = ord.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    Tables.orders(s, d)
      .withColumn("first_date", first(col("o_orderdate")).over(full))
      .withColumn("last_date", last(col("o_orderdate")).over(full))
      .withColumn("first_price", first(col("o_totalprice")).over(full))
      .withColumn("rn", row_number().over(ord))
      .filter(col("rn") === 1)
      .select(col("o_custkey"),
        date_format(col("first_date"), "yyyy-MM-dd").as("first_date"),
        date_format(col("last_date"), "yyyy-MM-dd").as("last_date"),
        round(col("first_price"), 2).as("first_price"))
      .orderBy("o_custkey")
  }

  /** Correlated scalar subquery through the SQL front-end: customers above
    * their own segment's average balance. */
  val q31CorrSubquery: Q = (s, d) => {
    Tables.customer(s, d).createOrReplaceTempView("g_customer_cs")
    s.sql(
      """SELECT c_mktsegment, count(*) AS n_above
        |FROM g_customer_cs c
        |WHERE c_acctbal > (SELECT avg(c2.c_acctbal) FROM g_customer_cs c2
        |                   WHERE c2.c_mktsegment = c.c_mktsegment)
        |GROUP BY c_mktsegment
        |ORDER BY c_mktsegment""".stripMargin)
  }

  /** Deterministic hash sampling (the reproducible way to sample training
    * data: membership depends only on the key, not on partitioning, seeds,
    * or cluster size — rand()-based sampling is none of those). ~10% of
    * docs via an md5-prefix threshold, identical in any engine. */
  val textSample10pct: Q = (s, d) =>
    Tables.documents(s, d)
      .filter(md5(col("doc_id").cast("string").cast("binary")) < "1a")
      .groupBy("lang")
      .agg(count(lit(1)).as("n_sampled"),
        sum(col("n_chars")).as("sampled_chars"))
      .orderBy("lang")

  /** rank / dense_rank with real ties (2-decimal balances collide):
    * everything at rank <= 5 per segment — tie groups make the row count
    * per segment data-dependent but fully deterministic. */
  val q32DenseRank: Q = (s, d) => {
    val w = Window.partitionBy("c_mktsegment").orderBy(col("c_acctbal").desc)
    Tables.customer(s, d)
      .withColumn("rnk", rank().over(w).cast("long"))
      .withColumn("drnk", dense_rank().over(w).cast("long"))
      .filter(col("rnk") <= 5)
      .select(col("c_mktsegment"), col("c_custkey"), col("rnk"), col("drnk"),
        round(col("c_acctbal"), 2).as("acctbal"))
      .orderBy("c_mktsegment", "rnk", "c_custkey")
  }

  /** UNPIVOT (wide -> long melt): per-flag aggregates as (metric, value)
    * rows. The oracle replicates via UNION ALL — the semantics, not the
    * keyword, are what's checked. */
  val q33Unpivot: Q = (s, d) => {
    val wide = Tables.lineitem(s, d)
      .groupBy("l_returnflag")
      .agg(round(sum(money(col("l_quantity"))), 2).cast("double").as("sum_qty"),
        round(sum(money(col("l_extendedprice"))), 2).cast("double").as("sum_price"),
        count(lit(1)).cast("double").as("n_items"))
    wide.unpivot(Array(col("l_returnflag")),
        Array(col("sum_qty"), col("sum_price"), col("n_items")),
        "metric", "value")
      .orderBy("l_returnflag", "metric")
  }

  /** rlike / regexp filtering pushed through the scan. */
  val q34Rlike: Q = (s, d) =>
    Tables.documents(s, d)
      .filter(col("text").rlike("[0-9]{2,}"))
      .groupBy("lang")
      .agg(count(lit(1)).as("n_docs_with_numbers"))
      .orderBy("lang")

  /** Datetime function breadth: year / quarter / day-of-week (Spark
    * dayofweek is 1=Sunday, DuckDB's is 0=Sunday — the oracle shifts),
    * plus date arithmetic (ship + 30 days). */
  val q35Datetime: Q = (s, d) =>
    Tables.orders(s, d)
      .groupBy(year(col("o_orderdate")).cast("long").as("yr"),
        quarter(col("o_orderdate")).cast("long").as("qtr"),
        dayofweek(col("o_orderdate")).cast("long").as("dow"))
      .agg(count(lit(1)).as("n_orders"),
        date_format(min(date_add(col("o_orderdate"), 30)), "yyyy-MM-dd").as("min_due"))
      .orderBy("yr", "qtr", "dow")

  /** TPC-H Q14 shape (promo revenue share): lineitem x part with a
    * conditional aggregate ratio. Also covers LIKE pushdown (p_name) and
    * the previously-unused part table. part is sf x 200k rows — scale-
    * proportional, so no forced broadcast (see q2); AQE broadcasts it
    * while it fits. */
  val q36PromoRevenue: Q = (s, d) => {
    val p = Tables.part(s, d).filter(col("p_name").like("%a%"))
    val rev = money(col("l_extendedprice")) * oneMinus(col("l_discount"))
    Tables.lineitem(s, d)
      .join(p, col("l_partkey") === col("p_partkey"))
      .groupBy("p_type")
      .agg(round(sum(rev), 2).cast("double").as("revenue"),
        round(sum(when(col("p_brand") === "Brand#1", rev)
          .otherwise(lit(0).cast("decimal(12,4)"))), 2).cast("double").as("brand1_revenue"),
        count(lit(1)).as("n_items"))
      .orderBy("p_type")
  }

  /** Supplier revenue ranking (TPC-H Q15 shape): lineitem rolled up to
    * suppliers, joined through nation for the display dims, top-10. */
  val q37TopSuppliers: Q = (s, d) => {
    val rev = money(col("l_extendedprice")) * oneMinus(col("l_discount"))
    val byS = Tables.lineitem(s, d)
      .groupBy("l_suppkey")
      .agg(round(sum(rev), 2).cast("double").as("revenue"), count(lit(1)).as("n_items"))
    // supplier is sf x 10k rows (scale-proportional) -> no forced
    // broadcast; nation is 25 rows at every sf -> hint is safe
    byS.join(Tables.supplier(s, d), col("l_suppkey") === col("s_suppkey"))
      .join(broadcast(Tables.nation(s, d)), col("s_nationkey") === col("n_nationkey"))
      .select(col("s_name"), col("n_name"), col("revenue"), col("n_items"))
      .orderBy(col("revenue").desc, col("s_name"))
      .limit(10)
  }

  /** Incremental ingest: only documents NOT already in the collection are
    * added (left_anti on the id — one shuffle on a fixed-width key). The
    * reference re-ingests everything on each run (SURVEY §3 EP1/EP3
    * double-ingest quirk); this is the shape that works when the
    * collection is 100 TB and the delta is 1 GB. */
  val ingestIncremental: Q = (s, d) => {
    val root = java.nio.file.Files.createTempDirectory("graft_incr").toString
    val store = graft.store.VectorStore(root)
    val docs = Tables.documents(s, d)
    try {
      store.create("docs", docs.filter(col("doc_id") < 250))
      val existing = store.read(s, "docs").select("doc_id")
      // materialize the delta AND its report BEFORE appending to the path
      // they are derived from: the anti-join is lazy and re-reads the
      // collection at action time, so executing it after the append (plus
      // any file-index refresh) would see the append's own output and
      // report a wrong/empty n_added. The cache pins the delta rows for the
      // append; the collect pins the report rows locally.
      val newDocs = docs.join(existing, Seq("doc_id"), "left_anti").cache()
      try {
        val out = newDocs.groupBy("lang")
          .agg(count(lit(1)).as("n_added"))
          .orderBy("lang")
        val rows = out.collect() // also populates the newDocs cache
        store.append("docs", newDocs) // served from the cached pre-append snapshot
        s.createDataFrame(java.util.Arrays.asList(rows: _*), out.schema)
      } finally newDocs.unpersist()
    } finally store.destroy()
  }

  /** percent_rank / cume_dist (exact int ratios — floor-form rounded per
    * the parity rules), thinned to every 50th customer. */
  val q40RankDist: Q = (s, d) => {
    val w = Window.partitionBy("c_mktsegment").orderBy(col("c_acctbal"), col("c_custkey"))
    Tables.customer(s, d)
      .withColumn("pr", floor(percent_rank().over(w) * 1e6 + 0.5) / 1e6)
      .withColumn("cd", floor(cume_dist().over(w) * 1e6 + 0.5) / 1e6)
      .filter(col("c_custkey") % 50 === 0)
      .select("c_mktsegment", "c_custkey", "pr", "cd")
      .orderBy("c_mktsegment", "c_custkey")
  }

  /** Higher-order array functions as first-class surface: exists / forall /
    * filter over the token array (these run inside whole-stage codegen —
    * no UDF — which is why they are the preferred form at scale). */
  val textHof: Q = (s, d) => {
    val toks = split(trim(lower(col("text"))), "\\s+")
    Tables.documents(s, d)
      .select(col("doc_id"),
        exists(toks, t => t.isin("the", "a", "of", "and", "is", "to", "in"))
          .as("has_stopword"),
        forall(toks, t => length(t) < 20).as("all_short"),
        size(filter(toks, t => length(t) >= 8)).cast("long").as("n_long_tokens"))
      .orderBy("doc_id")
  }

  /** REAL audio decode through `javax.sound.sampled`: synthesize a
    * deterministic 16-bit PCM WAV per doc (sample count + every sample
    * closed-form in doc_id), decode through the batched seam, emit
    * (rate, channels, count, sum). Same oracle trick as
    * multimodal_decode — the SQL twin recomputes the sums codec-free. */
  val multimodalAudio: Q = (s, d) => {
    val wav = udf((id: Long) => Multimodal.synthWav(id))
    val withWav = Tables.documents(s, d).select(col("doc_id"))
      .withColumn("payload", wav(col("doc_id")))
    Multimodal.decodeAudio(withWav, "payload")
      .select(col("doc_id"), col("audio.sample_rate").as("sample_rate"),
        col("audio.channels").as("channels"),
        col("audio.n_samples").as("n_samples"),
        col("audio.sample_sum").as("sample_sum"))
      .orderBy("doc_id")
  }

  /** Benchmark decontamination over the documents corpus: every 97th doc
    * stands in for the held-out eval set; the rest are checked for n-gram
    * overlap against it. n=3 here (production default is 8) because the
    * synthetic corpus has no verbatim 8-gram leaks — 3-grams give the
    * gate a non-degenerate hit distribution to hash-check. Broadcast
    * benchmark grams, one corpus scan, one row-per-doc shuffle. */
  val decontaminate: Q = (s, d) => {
    val docs = Tables.documents(s, d)
    Dedup.decontaminate(
        docs.filter(col("doc_id") % 97 =!= 0),
        docs.filter(col("doc_id") % 97 === 0),
        "text", "doc_id", n = 3)
      .orderBy("doc_id")
  }

  /** `decontaminate` for benchmarks too large to broadcast as an exact
    * gram set: a Bloom filter pre-gates the corpus grams map-side, an
    * exact confirm join kills the false positives — BIT-IDENTICAL output
    * (the oracle is the same SQL as `decontaminate`'s, which is the
    * point), with the shuffle bounded by candidates instead of the
    * corpus. fpp is raised to 0.05 here so at gate scale the filter
    * demonstrably passes false positives for the confirm join to kill. */
  val decontaminateBloom: Q = (s, d) => {
    val docs = Tables.documents(s, d)
    Dedup.decontaminateBloom(
        docs.filter(col("doc_id") % 97 =!= 0),
        docs.filter(col("doc_id") % 97 === 0),
        "text", "doc_id", n = 3, fpp = 0.05)
      .orderBy("doc_id")
  }

  /** Fasttext-shaped quality-classifier gate: linear model over hashed
    * unigram+bigram counts, fixed-point weights from the checked-in
    * fixture (swap the resource for a trained model — the serving plan
    * is identical). Fully codegen: the 256-weight array rides in the
    * plan as a literal; the only shuffle is the per-doc partial agg. */
  val qualityClassifier: Q = (s, d) =>
    QualityClassifier.score(Tables.documents(s, d), "text", "doc_id")
      .orderBy("doc_id")

  /** Incremental near-dup: docs with id ending in 7 play the nightly
    * batch; the rest are the standing corpus. LSH recall at these
    * parameters is proven by the exact-Jaccard oracle (as dedup_minhash
    * establishes for the self-join form). */
  val dedupIncremental: Q = (s, d) => {
    val docs = Tables.documents(s, d)
    Dedup.minhashLshIncremental(
        docs.filter(col("doc_id") % 10 === 7),
        docs.filter(col("doc_id") % 10 =!= 7),
        "text", "doc_id", threshold = 0.8)
      .orderBy("new_id", "existing_id")
  }

  /** Span-level exact-substring duplication report (Lee et al. 2022's
    * ExactSubstr at word granularity, n=8): per doc with any duplicated
    * 8-token window, the merged-interval coverage of duplicated text.
    * Probed at sf0.001: 45/500 docs carry duplicated spans — the exact
    * and near-duplicate docs the generator plants share their windows. */
  val dedupSubstring: Q = (s, d) =>
    Dedup.substringSpans(Tables.documents(s, d), "text", "doc_id", n = 8)
      .orderBy("doc_id")

  /** The REMOVAL form of dedup_substring: duplicated spans cut from the
    * token stream (all occurrences, per the released ExactSubstr tool),
    * one row per doc with the scrubbed text. */
  val dedupSubstringScrub: Q = (s, d) =>
    Dedup.substringScrub(Tables.documents(s, d), "text", "doc_id", n = 8)
      .orderBy("doc_id")

  /** Greedy token-budget sequence packing per source shard (the training
    * batch-prep step after cleaning/dedup): consecutive docs pack into
    * 512-token sequences; the report row per sequence shows fill. */
  val packSequences: Q = (s, d) =>
    TextAnalysis.packSequences(Tables.documents(s, d), "text", "doc_id",
        "source", budgetTokens = 512)
      .orderBy("source", "seq_id")

  /** Concat-and-chunk packing (the GPT-style fixed-length layout, docs
    * straddling sequence boundaries — no padding, no loss): one report
    * row per (source, 512-token sequence). Every sequence is exactly
    * 512 tokens except each shard's last; hash-checked against the
    * window-arithmetic SQL twin. */
  val packConcatChunks: Q = (s, d) =>
    TextAnalysis.packConcatChunks(Tables.documents(s, d), "text", "doc_id",
        "source", seqLen = 512)
      .orderBy("source", "seq_id")

  /** Packing-strategy advisor: greedy doc-preserving vs concat-and-chunk
    * at seqLen 512 — sequence counts, padding/overflow, waste ratios,
    * and the ppm-rule recommendation (exactly one strategy), the whole
    * decision table under the hash via both packers' existing twins. */
  val packAdvisor: Q = (s, d) =>
    graft.operators.Mixture.packAdvisor(Tables.documents(s, d), "text",
        "doc_id", "source", seqLen = 512)
      .orderBy("strategy")

  /** BM25 keyword retrieval over the documents corpus (the principled
    * form of rag_hybrid_search's keyword arm): ONE tokenize scan into a
    * cached compact tf projection, stats inlined as literals, codegen'd
    * scoring + distributed top-k. Fully oracle-checked — including the
    * ln()-based idf — because the arithmetic is written
    * expression-for-expression like the DuckDB SQL. */
  val textBm25: Q = (s, d) =>
    TextAnalysis.bm25TopK(Tables.documents(s, d), "text", "doc_id",
      terms = Seq("hash", "merge", "window", "stream"), k = 20)

  /** BM25 over the STORED inverted index — build the bucket-partitioned
    * postings layout + stats sidecar, then search it. The pruned-scan /
    * sidecar-stats arithmetic must land bit-identical to the corpus-level
    * SQL the oracle runs (which knows nothing of the index). */
  val textBm25Store: Q = (s, d) => {
    val (store, _) = ServingFixture.fixtureFor(s, d)
    TextIndex.bm25SearchStored(s, store, "docs_text",
      terms = Seq("filter", "vector", "sort"), k = 15)
  }

  /** Incremental text-index maintenance under the oracle: build on 2/3 of
    * the corpus, append the remaining 1/3 (O(batch) postings + additive
    * sidecar), search — must equal a from-scratch full-corpus build, which
    * is exactly what the corpus-level oracle computes. */
  val textBm25Incremental: Q = (s, d) => {
    // standing build from the mutation fixture — the benched verb is
    // the INCREMENTAL APPEND (+ the search that proves it landed)
    val (store, _) = MutationFixture.cloneFor(s, d, "text_standing") { st =>
      TextIndex.buildTextIndex(st, "docs_text",
        Tables.documents(s, d).filter(col("doc_id") % 3 =!= 0),
        "text", "doc_id", nBuckets = 8)
    }
    try {
      TextIndex.insertIntoTextIndex(store, "docs_text",
        Tables.documents(s, d).filter(col("doc_id") % 3 === 0), "text", "doc_id")
      TextIndex.bm25SearchStored(s, store, "docs_text",
        terms = Seq("join", "query"), k = 12)
    } finally store.destroy()
  }

  /** Metadata-filtered BM25 over the STORED index — the where-DSL filter
    * composed with keyword retrieval (filter-then-rank; corpus-level
    * scoring stats, so survivors score exactly their unfiltered BM25 —
    * the semantic the oracle checks relationally). */
  val textBm25Filtered: Q = (s, d) => {
    val (store, _) = ServingFixture.fixtureFor(s, d)
    TextIndex.bm25SearchStoredFiltered(s, store, "docs_text",
      terms = Seq("table", "scan", "group"), k = 12,
      allowed = Tables.documents(s, d)
        .filter(WhereDsl.parse("""{"lang":{"$in":["en","de"]}}"""))
        .select("doc_id"))
  }

  /** DELETE on the stored text index: build on the full corpus, tombstone
    * every 7th doc (O(batch) — doc-id tombstones + sidecar decrement,
    * never a postings rewrite), search. The oracle recomputes BM25 over
    * the corpus MINUS the deleted rows — N, avgdl, and every per-term df
    * must reflect exactly the live set. */
  val textBm25Deleted: Q = (s, d) => {
    // full-corpus build from the mutation fixture — the benched verb is
    // the tombstone DELETE (+ sidecar decrement) + live search
    val (store, _) = MutationFixture.cloneFor(s, d, "text_full") { st =>
      TextIndex.buildTextIndex(st, "docs_text", Tables.documents(s, d),
        "text", "doc_id", nBuckets = 8)
    }
    val docs = Tables.documents(s, d)
    try {
      TextIndex.deleteFromTextIndex(store, "docs_text",
        docs.filter(col("doc_id") % 7 === 0).select("doc_id"))
      TextIndex.bm25SearchStored(s, store, "docs_text",
        terms = Seq("row", "column", "value"), k = 12)
    } finally store.destroy()
  }

  /** The shared sparse query literal: weighted terms over the corpus
    * vocabulary, quantized to micro-units identically in Spark and the
    * oracle's VALUES list. */
  private val sparseQueryTerms = Seq(
    "vector" -> 1.0, "query" -> 0.8, "join" -> 0.5, "spark" -> 0.25)

  /** Sparse-vector (SPLADE-class) retrieval, inline form: documents are
    * encoded to exact fixed-point tf·idf postings, the weighted-term
    * query joins broadcast against them, and the dot product is pure
    * long arithmetic — order-free, so FULL oracle despite floating
    * inputs. */
  val sparseTopkQ: Q = (s, d) =>
    graft.operators.SparseSearch.topK(
        graft.operators.SparseSearch.encode(Tables.documents(s, d), "text", "doc_id"),
        sparseQueryTerms, k = 10)
      .orderBy(col("score").desc, col("doc_id"))

  /** Sparse retrieval over the PERSISTED inverted layout: postings
    * bucket-partitioned by term hash, the query reads at most |terms|
    * buckets (PartitionFilters, spec-pinned), identical integer scoring
    * — same oracle as the inline form, which is the identity the stored
    * tier must preserve. */
  val sparseStoreQ: Q = (s, d) => {
    val (store, _) = ServingFixture.fixtureFor(s, d)
    graft.operators.SparseSearch.searchStored(s, store, "docs_sparse",
      sparseQueryTerms, k = 10)
  }

  /** Incremental sparse-index maintenance with a FROZEN encoder: the
    * standing corpus (doc_id % 10 != 7) fits the model (N, per-term df)
    * and builds the index; the arrival slice encodes against those
    * frozen stats (OOV terms drop — the fixed-vocab contract of a real
    * sparse embedder) and appends O(batch) postings into its terms'
    * buckets. The oracle restates the frozen-stats semantics
    * relationally: df/N from the standing slice only, arrival postings
    * inner-joined to the standing vocabulary. */
  /** The standing-corpus sparse index (frozen encoder over
    * doc_id % 10 != 7) that three maintenance gates mutate — built once,
    * cloned per invocation so each gate benches ITS verb. */
  private def sparseStandingClone(s: SparkSession, d: String)
      : graft.store.VectorStore =
    MutationFixture.cloneFor(s, d, "sparse_standing") { st =>
      graft.operators.SparseSearch.buildIndex(st, "docs_sparse",
        Tables.documents(s, d).filter(col("doc_id") % 10 =!= 7),
        "text", "doc_id", nBuckets = 8)
    }._1

  val sparseIncrementalQ: Q = (s, d) => {
    val store = sparseStandingClone(s, d)
    val docs = Tables.documents(s, d)
    try {
      graft.operators.SparseSearch.insertInto(store, "docs_sparse",
        docs.filter(col("doc_id") % 10 === 7), "text", "doc_id")
      graft.operators.SparseSearch.searchStored(s, store, "docs_sparse",
        sparseQueryTerms, k = 10)
    } finally store.destroy()
  }

  /** DELETE on the stored sparse index: build on the full corpus,
    * tombstone every 7th doc (O(batch) — the frozen encoder means no
    * stats to decrement, unlike BM25), search the live set. Oracle: the
    * full-corpus encoder with tombstoned docs excluded from the RANKING
    * only — their presence in df/N is exactly the frozen-model
    * semantic. */
  val sparseDeletedQ: Q = (s, d) => {
    // full-corpus build from the mutation fixture — the benched verb is
    // the tombstone DELETE + live search
    val (store, _) = MutationFixture.cloneFor(s, d, "sparse_full") { st =>
      graft.operators.SparseSearch.buildIndex(st, "docs_sparse",
        Tables.documents(s, d), "text", "doc_id", nBuckets = 8)
    }
    val docs = Tables.documents(s, d)
    try {
      graft.operators.SparseSearch.deleteFrom(store, "docs_sparse",
        docs.filter(col("doc_id") % 7 === 0).select("doc_id"))
      graft.operators.SparseSearch.searchStored(s, store, "docs_sparse",
        sparseQueryTerms, k = 10)
    } finally store.destroy()
  }

  /** Metadata-filtered sparse search — filter-then-rank over the
    * stored layout; frozen per-(doc, term) weights mean survivors score
    * exactly their unfiltered dot product (no stats for the filter to
    * shift). FULL oracle: the sparse CTE body joined to the metadata
    * predicate. */
  val sparseFilteredQ: Q = (s, d) => {
    val (store, _) = ServingFixture.fixtureFor(s, d)
    graft.operators.SparseSearch.searchStoredFiltered(s, store,
      "docs_sparse", sparseQueryTerms, k = 10,
      allowed = Tables.documents(s, d)
        .filter(WhereDsl.parse("""{"lang":{"$in":["en","de"]}}"""))
        .select("doc_id"))
  }

  /** Impact-threshold sparse search: postings under 0.4 weight units
    * are skipped at the scan (PushedFilters against the
    * impact-clustered layout — spec-pinned). The approximation is a
    * pure predicate, so the FULL oracle restates it exactly. */
  val sparseImpactQ: Q = (s, d) => {
    val (store, _) = ServingFixture.fixtureFor(s, d)
    graft.operators.SparseSearch.searchStoredImpact(s, store, "docs_sparse",
      sparseQueryTerms, k = 10, minImpactMu = 400000L)
  }

  /** Batch sparse search — two weighted-term queries against ONE
    * bucket-pruned postings scan, per-query window rank. FULL oracle
    * with the query table as a VALUES literal. */
  val sparseBatchQ: Q = (s, d) => {
    val (store, _) = ServingFixture.fixtureFor(s, d)
    graft.operators.SparseSearch.searchStoredMany(s, store, "docs_sparse",
      Seq("qa" -> sparseQueryTerms,
        "qb" -> Seq("filter" -> 1.0, "scan" -> 0.7, "merge" -> 0.4)),
      k = 8)
  }

  /** The full sparse maintenance triad in one lifecycle: build on the
    * standing corpus (frozen encoder), append the arrival slice
    * (fragments every touched bucket), tombstone every 7th doc, then
    * COMPACT — dirty buckets rewritten live-only to one file each, the
    * folded tombstone files truncated in the journaled commit — and
    * search. Oracle: the frozen-encoder view minus tombstoned docs;
    * compaction must be invisible to the answer. */
  val sparseCompactQ: Q = (s, d) => {
    val store = sparseStandingClone(s, d)
    val docs = Tables.documents(s, d)
    try {
      graft.operators.SparseSearch.insertInto(store, "docs_sparse",
        docs.filter(col("doc_id") % 10 === 7), "text", "doc_id")
      graft.operators.SparseSearch.deleteFrom(store, "docs_sparse",
        docs.filter(col("doc_id") % 7 === 0).select("doc_id"))
      graft.operators.SparseSearch.compactIndex(s, store, "docs_sparse",
        maxFilesPerBucket = 1)
      graft.operators.SparseSearch.searchStored(s, store, "docs_sparse",
        sparseQueryTerms, k = 10)
    } finally store.destroy()
  }

  /** Streaming ingest into the stored sparse index: standing corpus
    * builds (and freezes the encoder), the arrival slice streams in per
    * micro-batch with torn-append healing and watermark replay, then
    * one stored search. Oracle: the SAME frozen-stats restatement as
    * sparse_incremental — stream and batch maintenance must be
    * indistinguishable in the answer. */
  val streamingSparseIngest: Q = (s, d) => {
    val store = sparseStandingClone(s, d)
    try {
      graft.streaming.IndexStream.runStreamingSparseIngest(
        s, s"$d/documents.parquet", store, "docs_sparse")
      graft.operators.SparseSearch.searchStored(s, store, "docs_sparse",
        sparseQueryTerms, k = 10)
    } finally store.destroy()
  }

  /** Pseudo-relevance-feedback search: seed BM25 → harvest the 3 most
    * document-frequent NEW terms from the top-10 hits → re-search with
    * the expanded set through the dynamic-term BM25 (fixed-point long
    * partials — deterministic under any agg merge order). The entire
    * chain, including the data-derived expansion terms, is one static
    * SQL statement for the oracle. */
  val textPrfSearch: Q = (s, d) =>
    TextAnalysis.prfSearch(Tables.documents(s, d), "text", "doc_id",
        seedTerms = Seq("vector", "query"), k = 12, nSeed = 10, mExpand = 3)
      .orderBy(col("bm25").desc, col("doc_id"))

  /** Percolation over the documents corpus: four standing term queries
    * matched in one broadcast map-side pass ([[TextAnalysis.percolate]]
    * — the alert-at-ingest reverse-search verb). */
  val textPercolate: Q = (s, d) =>
    TextAnalysis.percolate(Tables.documents(s, d), "text", "doc_id",
        queries = Seq(
          "q_joins" -> Seq("join", "merge"),
          "q_vector" -> Seq("vector", "scan"),
          "q_stream" -> Seq("stream", "window", "batch"),
          "q_agg" -> Seq("customer", "agg")))
      .orderBy("q_id", "doc_id")

  /** Cohort retention over the event stream: users bucketed by first-seen
    * day, activity counted at fixed day offsets — the standard retention
    * matrix, built from two shuffles (per-user min, then per-cell
    * distinct). */
  val q41CohortRetention: Q = (s, d) => {
    val ev = Tables.events(s, d).select(col("user_id"), to_date(col("ts")).as("day"))
    val cohorts = ev.groupBy("user_id").agg(min(col("day")).as("cohort"))
    // day_offset, not "offset": the gate re-selects output columns by bare
    // name in DuckDB, where OFFSET is a reserved word
    ev.join(cohorts, "user_id")
      .withColumn("day_offset", datediff(col("day"), col("cohort")).cast("long"))
      .filter(col("day_offset").isin(0L, 1L, 3L, 7L, 14L, 30L))
      .groupBy(date_format(col("cohort"), "yyyy-MM-dd").as("cohort"), col("day_offset"))
      .agg(countDistinct(col("user_id")).as("n_users"))
      .orderBy("cohort", "day_offset")
  }

  /** Corpus mix report (the domain-weighting input of a training-data
    * run): per (source, lang) document and token counts plus each cell's
    * share of all corpus tokens. One scan + one partial-agg shuffle; the
    * corpus total is a broadcast 1-row crossJoin, not a global window. */
  val pipelineMixReport: Q = (s, d) => mixReport(s, Tables.documents(s, d))

  private def mixReport(s: SparkSession, docsIn: DataFrame): DataFrame =
    mixReportFromCounts(s, Tables.spread(docsIn)
      .select(col("source"), col("lang"),
        size(TextAnalysis.tokens(col("text"))).cast("long").as("_ntok")))

  /** As [[mixReport]] but over precomputed (source, lang, _ntok) counts
    * — composed callers project the tokens on the raw scan BEFORE their
    * keep-join so the barrier never swallows a composite plan. */
  private def mixReportFromCounts(s: SparkSession, docs: DataFrame): DataFrame = {
    // the few-row cells aggregate feeds both the corpus total and the
    // report join, so the corpus must be scanned ONCE (deriving the total
    // from a second docs scan — or recomputing cells — would double the
    // dominant cost at scale). Materialized eagerly as a local relation
    // (bounded: |sources| x |langs| rows) rather than cache() — a cached
    // lazy plan returned to a long-lived caller can never be unpersisted
    // and accumulates in the session's cache manager across bench loops.
    val cellsAgg = docs.groupBy("source", "lang")
      .agg(count(lit(1)).as("n_docs"), sum(col("_ntok")).as("n_tokens"))
    val cellRows = cellsAgg.collect()
    val cells = s.createDataFrame(java.util.Arrays.asList(cellRows: _*), cellsAgg.schema)
    val total = cells.agg(sum(col("n_tokens")).as("_total"))
    cells.crossJoin(broadcast(total))
      .withColumn("token_share",
        floor(col("n_tokens").cast("double") / col("_total") * 1e6 + 0.5) / 1e6)
      .select("source", "lang", "n_docs", "n_tokens", "token_share")
      .orderBy("source", "lang")
  }

  /** Deterministic mixture sampling — the "data mixing" stage: given
    * target weights per source, scale the total token budget to the most
    * constrained source (budget = min over sources of tokens/share, so no
    * source oversamples) and keep each doc iff its id-hash fraction is
    * below its source's rate. Hash-threshold sampling is reshuffle- and
    * retry-stable, unlike rand(); the weight rule here (1 + src# mod 3)
    * stands in for a curated weight table — production joins one in.
    *
    * Two passes by necessity (global per-source stats gate the rates —
    * the TF-IDF shape): pass 1 is a few-row partial agg COLLECTED and
    * turned into rates driver-side (bounded by |sources|); pass 2 is one
    * map-only scan with a broadcast 20-row rate relation and a per-source
    * partial agg. Integer token sums keep every cross-engine value
    * bit-deterministic; the rate arithmetic is pure IEEE doubles in an
    * order the oracle mirrors expression-for-expression. */
  /** The sampled survivor set with per-source rate attached: (source,
    * doc_id, _ntok, _rate). Stats pass = one few-row collected agg (rate
    * arithmetic driver-side, bounded by |sources|); sample pass = one
    * map-only scan with a broadcast rate relation. Shared by
    * pipeline_mix_sample (report) and pipeline_training_data (the
    * composed chain). */
  private def mixSampleDocs(s: SparkSession, docsIn: DataFrame): DataFrame =
    mixSampleFromCounts(s, Tables.spread(docsIn)
      .select(col("doc_id"), col("source"),
        size(TextAnalysis.tokens(col("text"))).cast("long").as("_ntok")))

  /** As [[mixSampleDocs]] but over precomputed (doc_id, source, _ntok)
    * counts — the composed pipeline feeds an already-materialized
    * survivor projection here so its gate chain is not re-executed by
    * the stats pass. */
  private[graft] def mixSampleFromCounts(s: SparkSession, docs: DataFrame): DataFrame = {
    val stats = docs.groupBy("source").agg(sum(col("_ntok")).as("t"))
      .collect().map(r => r.getString(0) -> r.getLong(1))
    require(stats.nonEmpty, "mix sampling over an empty corpus")
    // target shares from the weight rule (srcN digits -> 1 + N mod 3;
    // anything else weights 1 — the rule stands in for a curated weight
    // table and must degrade, not crash, on foreign labels); integer
    // weight sum so the normalization is order-independent
    val w = stats.map { case (src, _) =>
      src -> (1 + src.drop(3).toIntOption.getOrElse(0) % 3)
    }.toMap
    val wsum = w.values.sum
    val share = w.map { case (src, wi) => src -> wi.toDouble / wsum }
    val budget = stats.map { case (src, t) => t.toDouble / share(src) }.min
    val rate = stats.map { case (src, t) => (src, share(src) * budget / t) }.toSeq
    val rateDf = s.createDataFrame(rate).toDF("source", "_rate")
    docs.join(broadcast(rateDf), Seq("source"))
      .filter(conv(substring(md5(col("doc_id").cast("string").cast("binary")), 1, 6), 16, 10)
        .cast("double") / 16777216.0 < col("_rate"))
  }

  val pipelineMixSample: Q = (s, d) => {
    val kept = mixSampleDocs(s, Tables.documents(s, d))
    val agg = kept.groupBy("source")
      .agg(count(lit(1)).as("n_docs_kept"), sum(col("_ntok")).as("n_tokens_kept"),
        (floor(max(col("_rate")) * 1e6 + 0.5) / 1e6).as("sample_rate"))
    val total = agg.agg(sum(col("n_tokens_kept")).as("_tt"))
    agg.crossJoin(broadcast(total))
      .withColumn("achieved_share",
        floor(col("n_tokens_kept").cast("double") / col("_tt") * 1e6 + 0.5) / 1e6)
      .select("source", "n_docs_kept", "n_tokens_kept", "sample_rate", "achieved_share")
      .orderBy("source")
  }

  /** Curriculum ordering — easy-to-hard phases (quality quartiles, NTILE
    * semantics with doc-id ties) with a deterministic md5 shuffle WITHIN
    * each phase: the training-order product of a curriculum-learning
    * pipeline. The shipped operator
    * ([[graft.text.TextAnalysis.curriculumOrder]]) computes BOTH global
    * orders as distributed range sorts + offset arithmetic
    * ([[graft.operators.GlobalRank]]) — no partitionless window in the
    * plan (spec-pinned), so the verb the user calls IS the 100 TB shape;
    * the oracle twin materializes the same ranks with SQL windows, which
    * is fine at oracle scale. */
  val packCurriculum: Q = (s, d) => {
    val q = TextAnalysis.textStats(Tables.documents(s, d))
      .select(col("doc_id"), col("quality"))
    TextAnalysis.curriculumOrder(q, "quality", "doc_id", phases = 4)
      .select("doc_id", "quality", "phase", "emit_rank")
      .orderBy("emit_rank")
  }

  /** Epoch upsampling — the other half of mixture control: domains
    * whose target weight EXCEEDS their natural share get repeated
    * epochs rather than downsampled peers. Fractional epochs resolve
    * per doc with the engine's md5-fraction bernoulli (a doc at
    * e = 2.35 emits 2 copies always, a 3rd iff frac(doc) < 0.35), so
    * the emitted multiset is deterministic and the oracle restates it
    * exactly. Rows ARE materialized (explode over the copy sequence —
    * what a training-data writer consumes), then aggregated per source
    * for the gate. Scale: map-only until the final few-row aggregate;
    * the explode multiplies rows by a small constant, never shuffles
    * text. */
  val mixUpsample: Q = (s, d) => {
    val docs = Tables.spread(Tables.documents(s, d))
      .select(col("doc_id"), col("source"),
        size(TextAnalysis.tokens(col("text"))).cast("long").as("_ntok"))
    // target epochs from the source label (the weight-table stand-in,
    // same posture as mix_sample's 1+(N mod 3) rule)
    val ep = lit(1.0) +
      (substring(col("source"), 4, 10).cast("int") % 5).cast("double") * lit(0.45)
    val frac = conv(substring(md5(col("doc_id").cast("string").cast("binary")),
      1, 6), 16, 10).cast("double") / 16777216.0
    val emitted = docs
      .withColumn("_ep", ep)
      .withColumn("n_copies",
        (floor(col("_ep")) +
          when(frac < col("_ep") - floor(col("_ep")), 1).otherwise(0)).cast("long"))
      .withColumn("epoch_copy", explode(sequence(lit(1L), col("n_copies"))))
    emitted.groupBy("source")
      .agg(countDistinct(col("doc_id")).as("n_docs"),
        count(lit(1)).as("n_emitted"),
        sum(col("_ntok")).as("tokens_emitted"))
      .withColumn("achieved_epochs",
        floor(col("n_emitted").cast("double") / col("n_docs") * 1e6 + 0.5) / 1e6)
      .select("source", "n_docs", "n_emitted", "tokens_emitted", "achieved_epochs")
      .orderBy("source")
  }

  /** Hybrid retrieval, principled form: BM25 keyword arm (top-100 by
    * rounded score) + exact-cosine vector arm (top-100), fused with
    * reciprocal-rank fusion. Both arms are distributed top-k over their
    * candidate sets before any ranking window touches them — the same
    * discipline as rag_hybrid_search, whose term-hit score this
    * supersedes as the keyword signal. */
  val ragBm25Fusion: Q = (s, d) => {
    val kwTop = TextAnalysis.bm25TopK(Tables.documents(s, d), "text", "doc_id",
        terms = Seq("hash", "merge", "window", "stream"), k = 100)
      .withColumn("rank_kw",
        row_number().over(Window.orderBy(col("bm25").desc, col("doc_id"))).cast("long"))
      .select("doc_id", "rank_kw")
    val e = Tables.embeddings(s, d)
    val q = e.filter(col("vec_id") === 0).select(col("embedding").as("qv"))
    val vTop = e.crossJoin(broadcast(q))
      .withColumn("cos", cosine(col("embedding"), col("qv")))
      .select(col("vec_id").as("doc_id"), col("cos"))
      .orderBy(col("cos").desc, col("doc_id"))
      .limit(100)
      .withColumn("rank_vec",
        row_number().over(Window.orderBy(col("cos").desc, col("doc_id"))).cast("long"))
      .select("doc_id", "rank_vec")
    kwTop.join(vTop, Seq("doc_id"), "full_outer")
      .withColumn("rrf", floor(
        (coalesce(lit(1.0) / (lit(60) + col("rank_kw")), lit(0.0)) +
          coalesce(lit(1.0) / (lit(60) + col("rank_vec")), lit(0.0))) * 1e6 + 0.5) / 1e6)
      .orderBy(col("rrf").desc, col("doc_id"))
      .limit(10)
      .select("doc_id", "rank_kw", "rank_vec", "rrf")
  }

  /** Late-interaction (ColBERT-style MaxSim) reranking — the third
    * retrieval paradigm next to the single-vector and sparse tiers:
    * score(q, d) = Σ_{query token} max_{doc token} cos(qt, dt), summed
    * in fixed query-token order. Token embeddings here are the
    * md5-arithmetic embedder (8 dims of `md5(token:j)`-derived
    * rationals) — deterministic, meaningless as semantics, and exactly
    * SQL-expressible, which is the point: the MaxSim AGGREGATION
    * STRUCTURE (per-token max, fixed-order sum, rank) sits under a full
    * hash where a learned embedder would force rows-only. The candidate
    * set is a keyword prefilter (the first-stage-retriever stand-in —
    * late interaction is a RERANKER; at 100 TB candidates come from the
    * ANN/BM25 tiers and per-candidate work is O(|d|·|q|) map-side).
    * Fixed-order float parity: per-doc MaxSim terms fold left-to-right
    * in query-token order (sort_array + aggregate — the batch-BM25
    * discipline), mirrored by the oracle's `list(... ORDER BY q_idx)`
    * → list_sum. */
  val ragLateInteraction: Q = (s, d) => {
    val sp = s
    import sp.implicits._
    val qTerms = Seq("hash", "merge", "stream", "vector")
    def mdVec(tok: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
      transform(sequence(lit(1), lit(8)), j =>
        conv(substring(md5(concat(tok, lit(":"), j.cast("string")).cast("binary")),
          1, 6), 16, 10).cast("double") / 16777216.0)
    val qv = broadcast(qTerms.zipWithIndex.map { case (t, i) => (i, t) }
      .toDF("q_idx", "qt").withColumn("qvec", mdVec(col("qt"))))
    val docs = Tables.spread(Tables.documents(s, d))
    val cand = docs.filter(
      qTerms.map(t => lower(col("text")).contains(t)).reduce(_ || _))
    val dtoks = cand
      .select(col("doc_id"),
        explode(array_distinct(TextAnalysis.tokens(col("text")))).as("dt"))
      .withColumn("dvec", mdVec(col("dt")))
    def dot(a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
      aggregate(zip_with(a, b, (x, y) => x * y), lit(0.0), (acc, v) => acc + v)
    def nrm(a: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
      aggregate(transform(a, x => x * x), lit(0.0), (acc, v) => acc + v)
    val sims = dtoks.crossJoin(qv)
      .select(col("doc_id"), col("q_idx"),
        round(dot(col("dvec"), col("qvec")) /
          sqrt(nrm(col("dvec")) * nrm(col("qvec"))), 6).as("sim"))
      .groupBy("doc_id", "q_idx")
      .agg(max(col("sim")).as("ms"))
    sims.groupBy("doc_id")
      .agg(sort_array(collect_list(struct(col("q_idx"), col("ms")))).as("_t"))
      .withColumn("score", floor(
        aggregate(transform(col("_t"), x => x.getField("ms")),
          lit(0.0), (acc, v) => acc + v) * 1e6 + 0.5) / 1e6)
      .select(col("doc_id"), col("score"))
      .orderBy(col("score").desc, col("doc_id"))
      .limit(10)
  }

  /** Relative-score fusion — the OTHER canonical hybrid-fusion
    * strategy next to RRF (Weaviate's relativeScoreFusion): each arm's
    * top-100 scores min-max normalize to [0,1] (an all-equal arm
    * normalizes to 1.0 — they are all that arm's best), then a 0.5/0.5
    * weighted sum. Preserves score MAGNITUDE information that rank-only
    * RRF discards. Every normalized value rounds at 6 with the floor
    * form; arm scores are rounded before the division so both engines
    * divide identical doubles. FULL oracle. */
  val ragHybridRelative: Q = (s, d) => {
    val rounded6 = (c: org.apache.spark.sql.Column) => floor(c * 1e6 + 0.5) / 1e6
    val kwTop = TextAnalysis.bm25TopK(Tables.documents(s, d), "text", "doc_id",
        terms = Seq("hash", "merge", "window", "stream"), k = 100)
      .select(col("doc_id"), col("bm25"))
    val kmm = kwTop.agg(min(col("bm25")).as("_mn"), max(col("bm25")).as("_mx"))
    val kwN = kwTop.crossJoin(broadcast(kmm))
      .withColumn("norm_kw", rounded6(
        when(col("_mx") > col("_mn"),
          (col("bm25") - col("_mn")) / (col("_mx") - col("_mn")))
          .otherwise(lit(1.0))))
      .select("doc_id", "norm_kw")
    val e = Tables.embeddings(s, d)
    val q = e.filter(col("vec_id") === 0).select(col("embedding").as("qv"))
    val vTop = e.crossJoin(broadcast(q))
      .withColumn("cos", rounded6(cosine(col("embedding"), col("qv"))))
      .select(col("vec_id").as("doc_id"), col("cos"))
      .orderBy(col("cos").desc, col("doc_id"))
      .limit(100)
    val vmm = vTop.agg(min(col("cos")).as("_vn"), max(col("cos")).as("_vx"))
    val vN = vTop.crossJoin(broadcast(vmm))
      .withColumn("norm_vec", rounded6(
        when(col("_vx") > col("_vn"),
          (col("cos") - col("_vn")) / (col("_vx") - col("_vn")))
          .otherwise(lit(1.0))))
      .select("doc_id", "norm_vec")
    kwN.join(vN, Seq("doc_id"), "full_outer")
      .withColumn("fused", rounded6(
        lit(0.5) * coalesce(col("norm_kw"), lit(0.0)) +
          lit(0.5) * coalesce(col("norm_vec"), lit(0.0))))
      .orderBy(col("fused").desc, col("doc_id"))
      .limit(10)
      .select("doc_id", "norm_kw", "norm_vec", "fused")
  }

  /** Proximity search on the positional index: docs with 'vector' and
    * 'spark' within 3 tokens, ranked by closest co-occurrence. Oracle
    * recomputes positions from the raw text. */
  val textNearSearch: Q = (s, d) => {
    val (store, _) = ServingFixture.fixtureFor(s, d)
    TextIndex.proximitySearch(s, store, "docs_text",
      termA = "vector", termB = "spark", maxDist = 3, k = 25)
  }

  /** Text-index lifecycle closed: build on half the corpus, two
    * fragment-producing appends, bucket-targeted compaction, search —
    * the result must equal the full-corpus oracle (compaction preserves
    * content row-for-row). */
  val textIndexCompact: Q = (s, d) => {
    // pre-verb state (half build + two fragmenting appends) from the
    // mutation fixture — the benched verb is the COMPACTION
    val (store, _) = MutationFixture.cloneFor(s, d, "text_frag") { st =>
      val docs = Tables.documents(s, d)
      TextIndex.buildTextIndex(st, "docs_text",
        docs.filter(col("doc_id") % 4 <= 1), "text", "doc_id", nBuckets = 8)
      TextIndex.insertIntoTextIndex(st, "docs_text",
        docs.filter(col("doc_id") % 4 === 2), "text", "doc_id")
      TextIndex.insertIntoTextIndex(st, "docs_text",
        docs.filter(col("doc_id") % 4 === 3), "text", "doc_id")
    }
    try {
      TextIndex.compactIndex(s, store, "docs_text", maxFilesPerBucket = 1)
      TextIndex.bm25SearchStored(s, store, "docs_text",
        terms = Seq("order", "group"), k = 12)
    } finally store.destroy()
  }

  /** Faceted search: the result-page sidebar — BM25 top-50 for a term
    * set, then facet counts over the hits' metadata (lang × source),
    * each facet's share of the hit set. Index-scored, metadata joined
    * only for the ≤50 hits. */
  val textFacetedSearch: Q = (s, d) => {
    val (store, _) = ServingFixture.fixtureFor(s, d)
    val hits = TextIndex.bm25SearchStored(s, store, "docs_text",
      terms = Seq("join", "vector"), k = 50)
    val total = hits.count() // eager local relation — bounded, free
    val out = hits.select("doc_id")
      .join(Tables.documents(s, d).select("doc_id", "lang", "source"), Seq("doc_id"))
      .groupBy("lang", "source")
      .agg(count(lit(1)).as("n_hits"))
      .withColumn("share",
        floor(col("n_hits").cast("double") / lit(total) * 1e6 + 0.5) / 1e6)
      .orderBy(col("n_hits").desc, col("lang"), col("source"))
    s.createDataFrame(java.util.Arrays.asList(out.collect(): _*), out.schema)
  }

  /** Snippets: BM25 top-10 for {merge, stream} with first-hit position
    * (from the positional index) and a ±3-token excerpt (from the hit
    * docs' text only). The oracle recomputes position and excerpt from
    * the raw text with 1-based inclusive slicing. */
  val textSnippets: Q = (s, d) => {
    val (store, _) = ServingFixture.fixtureFor(s, d)
    TextIndex.snippets(s, store, "docs_text", Tables.documents(s, d),
      "text", "doc_id", terms = Seq("merge", "stream"), k = 10, window = 3)
  }

  /** Batch BM25 on the stored text index: two independent term-set
    * queries off one pruned posting fetch; per-query rows must equal
    * separate single-query searches — which is exactly the two-CTE-set
    * oracle. */
  val textBm25Batch: Q = (s, d) => {
    val (store, _) = ServingFixture.fixtureFor(s, d)
    TextIndex.bm25SearchStoredMany(s, store, "docs_text",
      queries = Seq("q0" -> Seq("filter", "vector", "sort"),
        "q1" -> Seq("join", "query")), k = 10)
  }

  /** Boolean retrieval on the text index: must-have join+filter, rank
    * by should-hits over {vector, spark, sort}, exclude docs with
    * 'slow'. Index-only — absence decidable from pruned buckets. */
  val textBooleanSearch: Q = (s, d) => {
    val (store, _) = ServingFixture.fixtureFor(s, d)
    TextIndex.booleanSearch(s, store, "docs_text",
      must = Seq("join", "filter"), should = Seq("vector", "spark", "sort"),
      mustNot = Seq("slow"), k = 20)
  }

  /** Stored-text-index content audit: top-20 terms by df with cf, read
    * off the postings layout; the oracle recomputes both frequencies
    * from the raw corpus text. */
  val textIndexStats: Q = (s, d) => {
    val (store, _) = ServingFixture.fixtureFor(s, d)
    val out = TextIndex.indexStats(s, store, "docs_text", topN = 20)
    s.createDataFrame(java.util.Arrays.asList(out.collect(): _*), out.schema)
  }

  /** Phrase search over the positional postings of the stored text
    * index: docs containing "hash join" consecutively, ranked by match
    * count. The oracle recomputes positions straight off the corpus
    * text — the positional layout and the slot algebra must be
    * invisible. */
  val textPhraseSearch: Q = (s, d) => {
    val (store, _) = ServingFixture.fixtureFor(s, d)
    TextIndex.phraseSearch(s, store, "docs_text",
      phrase = Seq("hash", "join"), k = 15)
  }

  /** Streaming ingest into the stored TEXT index: arrivals (doc_id % 10
    * == 7) stream into an index built from the standing slice, with the
    * write-ahead-intent exactly-once protocol (postings append + BM25
    * stats delta commit atomically together) and a same-batchId replay
    * driven through the watermark skip. The search result must hash-match
    * the full-corpus BM25 oracle — streamed maintenance invisible. */
  val streamingTextIngest: Q = (s, d) => {
    // standing text index from the mutation fixture — the benched verb
    // is the STREAM
    val (store, _) = MutationFixture.cloneFor(s, d, "text_standing10") { st =>
      TextIndex.buildTextIndex(st, "docs_text",
        Tables.documents(s, d).filter(col("doc_id") % 10 =!= 7),
        "text", "doc_id", nBuckets = 8)
    }
    try {
      graft.streaming.IndexStream.runStreamingTextIngest(
        s, s"$d/documents.parquet", store, "docs_text")
      TextIndex.bm25SearchStored(s, store, "docs_text",
        terms = Seq("hash", "stream"), k = 15)
    } finally store.destroy()
  }

  /** Hybrid retrieval entirely over STORED indexes — the full persisted
    * search path in one query: BM25 arm from the bucket-partitioned
    * inverted index, vector arm from the cell-partitioned IVF layout
    * (both scans pruned), fused with reciprocal-rank fusion. The
    * rag_bm25_fusion shape, but no arm touches raw corpus data at query
    * time — this is what serving looks like at 100 TB. */
  val ragHybridStored: Q = (s, d) => {
    val (store, cents) = ServingFixture.fixtureFor(s, d)
    val kwTop = TextIndex.bm25SearchStored(s, store, "docs_text",
        terms = Seq("vector", "scan", "batch"), k = 100)
      .withColumn("rank_kw", row_number()
        .over(Window.orderBy(col("bm25").desc, col("doc_id"))).cast("long"))
      .select("doc_id", "rank_kw")
    val q = Tables.embeddings(s, d).filter(col("vec_id") === 0)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_vec"))
    val vTop = Similarity.ivfSearchStoredMany(store.read(s, "vectors"),
        "embedding", "vec_id", cents, q, "q_id", "q_vec", k = 100, nprobe = 4)
      .select(col("vec_id").as("doc_id"), col("rank").cast("long").as("rank_vec"))
    val out = kwTop.join(vTop, Seq("doc_id"), "full_outer")
      .withColumn("rrf", floor(
        (coalesce(lit(1.0) / (lit(60) + col("rank_kw")), lit(0.0)) +
          coalesce(lit(1.0) / (lit(60) + col("rank_vec")), lit(0.0))) * 1e6 + 0.5) / 1e6)
      .orderBy(col("rrf").desc, col("doc_id"))
      .limit(10)
      .select("doc_id", "rank_kw", "rank_vec", "rrf")
    s.createDataFrame(java.util.Arrays.asList(out.collect(): _*), out.schema)
  }

  /** Hybrid sparse+dense retrieval over PERSISTED indexes — the
    * two-tower serving path (learned-sparse arm + dense-vector arm,
    * RRF-fused), both arms reading pruned layouts: the sparse arm scans
    * only its query terms' buckets, the dense arm only its probed
    * cells. Arms rank at k=100, fuse with the standard 1/(60+rank) RRF,
    * top-10 out. FULL oracle: sparse CTE body + the IVF quantizer CTE +
    * the same fusion arithmetic. */
  val ragHybridSparse: Q = (s, d) => {
    val (store, cents) = ServingFixture.fixtureFor(s, d)
    val spTop = graft.operators.SparseSearch.searchStored(s, store,
        "docs_sparse", sparseQueryTerms, k = 100)
      .withColumn("rank_sp", row_number()
        .over(Window.orderBy(col("score").desc, col("doc_id"))).cast("long"))
      .select("doc_id", "rank_sp")
    val q = Tables.embeddings(s, d).filter(col("vec_id") === 0)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_vec"))
    val vTop = Similarity.ivfSearchStoredMany(store.read(s, "vectors"),
        "embedding", "vec_id", cents, q, "q_id", "q_vec", k = 100, nprobe = 4)
      .select(col("vec_id").as("doc_id"), col("rank").cast("long").as("rank_vec"))
    val out = spTop.join(vTop, Seq("doc_id"), "full_outer")
      .withColumn("rrf", floor(
        (coalesce(lit(1.0) / (lit(60) + col("rank_sp")), lit(0.0)) +
          coalesce(lit(1.0) / (lit(60) + col("rank_vec")), lit(0.0))) * 1e6 + 0.5) / 1e6)
      .orderBy(col("rrf").desc, col("doc_id"))
      .limit(10)
      .select("doc_id", "rank_sp", "rank_vec", "rrf")
    s.createDataFrame(java.util.Arrays.asList(out.collect(): _*), out.schema)
  }

  /** Unigram language-model scoring (the perplexity-style quality filter
    * a training-data pipeline runs to drop gibberish): corpus vocabulary
    * with add-one smoothing, per-doc mean token log-probability.
    *
    * Shapes: vocab = one shuffle capped at `vocabCap` rows (bounded
    * broadcast at any corpus size); scoring = explode -> broadcast-join ->
    * re-group by doc (tokens of a doc never leave their partition, so the
    * partial agg collapses to ~1 row/doc before the shuffle). Per-token
    * log-probs go through floor(x * 2^20) fixed-point BIGINT sums —
    * integer addition is order-independent, so the per-doc mean is
    * bit-deterministic across engines AND Spark merge orders (the
    * vec_centroid trick). */
  val textUnigramLm: Q = (s, d) =>
    unigramLogProb(Tables.documents(s, d)).orderBy("doc_id")

  /** Per-doc mean token log-prob under the corpus add-one-smoothed
    * unigram LM (shared by text_unigram_lm and the clean-corpus LM gate). */
  private[graft] def unigramLogProb(docs: DataFrame): DataFrame = {
    val vocabCap = 50000
    val toks = Tables.spread(docs)
      .select(col("doc_id"), explode(TextAnalysis.tokens(col("text"))).as("token"))
    // totals derive from the unigram aggregate itself (the textPmi
    // discipline): total tokens = sum of the UNCAPPED counts, so the
    // vocab/total branches share ONE tokenize+explode+agg subtree
    // (exchange-reused) instead of the total paying a second full
    // corpus tokenize just to count rows. Same value by construction.
    val uniFull = toks.groupBy("token").agg(count(lit(1)).as("c"))
    val vocab = uniFull.orderBy(col("c").desc, col("token")).limit(vocabCap)
    val total = uniFull.agg(sum("c").cast("long").as("total"))
    val nv = vocab.agg(count(lit(1)).as("nv"))
    toks.join(broadcast(vocab), Seq("token"), "left")
      .crossJoin(broadcast(total)).crossJoin(broadcast(nv))
      .withColumn("lp",
        floor(log((coalesce(col("c"), lit(0L)) + 1.0) / (col("total") + col("nv")))
          * 1048576).cast("long"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_tokens"),
        (floor(sum(col("lp")).cast("double") / count(lit(1)) / 1048576 * 1e6 + 0.5) / 1e6)
          .as("avg_logp"))
  }

  /** Per-doc mean BIGRAM log-prob — the perplexity-filter signal one
    * order up from text_unigram_lm: add-one-smoothed p(w2|w1) with the
    * bigram table capped at the 100k most frequent pairs and the
    * unigram context at the 50k LM vocabulary (both caps deterministic:
    * count desc, then lexicographic). Uncapped pairs fall through to
    * the smoothed floor — exactly how a production LM filter bounds its
    * broadcast state at any corpus size. Fixed-point (2^20) log sums
    * keep the mean bit-deterministic across engines and merge orders. */
  val textBigramLm: Q = (s, d) =>
    bigramLogProb(Tables.documents(s, d)).orderBy("doc_id")

  private[graft] def bigramLogProb(docs: DataFrame): DataFrame = {
    val vocabCap = 50000
    val pairCap = 100000
    val toks = Tables.spread(docs)
      .select(col("doc_id"), TextAnalysis.tokens(col("text")).as("_t"))
    val pairs = toks.select(col("doc_id"), explode(zip_with(
        slice(col("_t"), lit(1), size(col("_t")) - 1),
        slice(col("_t"), lit(2), size(col("_t")) - 1),
        (a, b) => struct(a.as("w1"), b.as("w2")))).as("_p"))
      .select(col("doc_id"), col("_p.w1").as("w1"), col("_p.w2").as("w2"))
    // the capped vocab is computed ONCE and collected (bounded by the
    // cap — the BPE-trainer discipline): deriving the vocab-size scalar
    // from a second uni subplan would re-run the whole tokenize+groupBy
    // over the corpus just to count <=50k rows
    val uniRows = toks.select(explode(col("_t")).as("w"))
      .groupBy("w").agg(count(lit(1)).as("c1"))
      .orderBy(col("c1").desc, col("w")).limit(vocabCap)
      .collect()
    val s = docs.sparkSession
    val uni = s.createDataFrame(java.util.Arrays.asList(uniRows: _*),
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("w1", org.apache.spark.sql.types.StringType),
        org.apache.spark.sql.types.StructField("c1", org.apache.spark.sql.types.LongType))))
    val nvVal = uniRows.length.toLong
    val big = pairs.groupBy("w1", "w2").agg(count(lit(1)).as("c2"))
      .orderBy(col("c2").desc, col("w1"), col("w2")).limit(pairCap)
    pairs.join(broadcast(big), Seq("w1", "w2"), "left")
      .join(broadcast(uni), Seq("w1"), "left")
      .withColumn("nv", lit(nvVal))
      .withColumn("lp",
        floor(log((coalesce(col("c2"), lit(0L)) + 1.0) / (coalesce(col("c1"), lit(0L)) + col("nv")))
          * 1048576).cast("long"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_bigrams"),
        (floor(sum(col("lp")).cast("double") / count(lit(1)) / 1048576 * 1e6 + 0.5) / 1e6)
          .as("avg_logp2"))
  }

  /** NOT IN through the SQL front-end — the null-aware anti-join
    * semantics trap (one NULL in the subquery empties the result). Here
    * the key is non-null, so it equals NOT EXISTS; the query exists to
    * pin the SEMANTICS cross-engine. Scale note: null-aware anti joins
    * must broadcast the subquery side, so at 100 TB the scale-safe form
    * of this intent is NOT EXISTS / left_anti (q14, q7) — equivalent for
    * non-null keys and free of the broadcast requirement. */
  val q43NotIn: Q = (s, d) => {
    Tables.customer(s, d).createOrReplaceTempView("g_customer_ni")
    Tables.orders(s, d).createOrReplaceTempView("g_orders_ni")
    s.sql(
      """SELECT c_mktsegment, count(*) AS n_inactive
        |FROM g_customer_ni
        |WHERE c_custkey NOT IN (SELECT o_custkey FROM g_orders_ni
        |                        WHERE o_orderdate >= TIMESTAMP '1997-01-01')
        |GROUP BY c_mktsegment
        |ORDER BY c_mktsegment""".stripMargin)
  }

  /** MapType as the dynamic-metadata carrier (SURVEY §1: the reference's
    * open-ended metadata dict maps to MAP<STRING,STRING> with promoted
    * typed columns): build the per-doc metadata map, merge caller keys
    * with map_concat (reference `**(metadata or {})`, :149), and read
    * scalars back out — size, element_at hit, element_at miss (NULL). */
  val q42MapMetadata: Q = (s, d) =>
    Tables.documents(s, d)
      .withColumn("_m", map_concat(
        map(lit("source"), col("source"), lit("lang"), col("lang"),
          lit("n_chars"), col("n_chars").cast("string")),
        map(lit("ingestion_date"), lit("2025-07-13"))))
      .select(col("doc_id"),
        size(col("_m")).cast("long").as("n_keys"),
        element_at(col("_m"), "lang").as("lang_val"),
        element_at(col("_m"), "ingestion_date").as("ingest_date"),
        element_at(col("_m"), "missing").as("missing_val"),
        array_join(map_keys(col("_m")), ",").as("keys_csv"))
      .orderBy("doc_id")

  /** Typed Dataset API surfaced in the registry: groupByKey + mapGroups
    * computing each user's LONGEST gap between consecutive events —
    * genuinely custom per-group logic (needs an in-group sort), which is
    * what mapGroups is FOR; algebraic aggregates belong in groupBy().agg()
    * where they stay map-side combinable. */
  val typedUserGaps: Q = (s, d) => {
    import s.implicits._
    Tables.events(s, d)
      .select(col("user_id"), col("ts").cast("long")) // epoch seconds
      .as[(Long, Long)]
      .groupByKey(_._1)
      .mapGroups { (uid, it) =>
        val secs = it.map(_._2).toArray
        java.util.Arrays.sort(secs)
        var mx = 0L
        var i = 1
        while (i < secs.length) { mx = math.max(mx, secs(i) - secs(i - 1)); i += 1 }
        (uid, secs.length.toLong, mx)
      }
      .toDF("user_id", "n_events", "max_gap_s")
      .orderBy("user_id")
  }

  // =============================================================== registry

  val all: Map[String, Q] = Map(
    "q1_pricing_summary" -> q1PricingSummary,
    "q2_top_revenue_orders" -> q2TopRevenueOrders,
    "q3_nation_revenue" -> q3NationRevenue,
    "q4_forecast_revenue" -> q4ForecastRevenue,
    "q5_top_customers_per_nation" -> q5TopCustomersPerNation,
    "q6_orders_rollup" -> q6OrdersRollup,
    "q7_segment_orders" -> q7SegmentOrders,
    "q8_events_hourly" -> q8EventsHourly,
    "q9_events_props" -> q9EventsProps,
    "q10_sessionize" -> q10Sessionize,
    "q11_asof_purchase_click" -> q11AsofPurchaseClick,
    "collection_stats" -> collectionStats,
    "where_dsl_filter" -> whereDslFilter,
    "chunk_docs" -> chunkDocs,
    "ingest_pipeline" -> ingestPipeline,
    "ingest_embed_fixture" -> ingestEmbedFixture,
    "ingest_transformer" -> ingestTransformer,
    "vec_knn" -> vecKnn,
    "vec_knn_ip" -> vecKnnIp,
    "vec_knn_filtered" -> vecKnnFiltered,
    "vec_topk_join" -> vecTopkJoin,
    "vec_percolate" -> vecPercolate,
    "vec_percolate_lsh" -> vecPercolateLsh,
    "vec_percolate_auto" -> vecPercolateAuto,
    "mine_hard_negatives" -> mineHardNegatives,
    "mine_hard_negatives_lsh" -> mineHardNegativesLsh,
    "knn_classify" -> knnClassifyQ,
    "ann_grouped_topk" -> annGroupedTopk,
    "rag_maxsim" -> ragMaxsim,
    "ann_ivf" -> annIvf,
    "ann_bq_topk" -> annBqTopk,
    "ann_range_search" -> annRangeSearch,
    "ann_recommend" -> annRecommend,
    "ann_matryoshka" -> annMatryoshka,
    "ann_discover" -> annDiscover,
    "ann_named_vectors" -> annNamedVectors,
    "ann_recommend_best" -> annRecommendBest,
    "ann_bq_store" -> annBqStore,
    "ann_bq_incremental" -> annBqIncremental,
    "ann_bq_batch" -> annBqBatch,
    "ann_federated_search" -> annFederatedSearch,
    "ann_lsh_multiprobe" -> annLshMultiprobe,
    "index_catalog" -> indexCatalog,
    "ann_search_auto" -> annSearchAuto,
    "ann_search_auto_bq" -> annSearchAutoBq,
    "ann_ivf_stats" -> annIvfStats,
    "embedding_drift" -> embeddingDrift,
    "ann_ivf_store" -> annIvfStore,
    "ann_ivf_store_batch" -> annIvfStoreBatch,
    "ann_recall_report" -> annRecallReport,
    "ann_eval_graded" -> annEvalGraded,
    "ann_index_advisor" -> annIndexAdvisor,
    "ann_autotune" -> annAutotune,
    "ann_adaptive_prefilter" -> annAdaptivePrefilter,
    "ann_adaptive_postfilter" -> annAdaptivePostfilter,
    "ann_ivfpq" -> annIvfPq,
    "ann_ivfpq_store" -> annIvfPqStore,
    "ann_ivfsq_store" -> annIvfSqStore,
    "ann_graph" -> annGraph,
    "ann_graph_probe" -> annGraphProbe,
    "ann_graph_batch" -> annGraphBatch,
    "ann_graph_batch_probe" -> annGraphBatchProbe,
    "ann_graph_exhaustive" -> annGraphExhaustive,
    "ann_graph_store" -> annGraphStore,
    "sample_domain_cap" -> sampleDomainCap,
    "ann_graph_incremental" -> annGraphIncremental,
    "ann_graph_walk" -> annGraphWalk,
    "graph_pagerank" -> graphPagerank,
    "graph_components" -> graphComponents,
    "graph_degree_stats" -> graphDegreeStats,
    "ann_ivf_incremental" -> annIvfIncremental,
    "ann_ivfsq_incremental" -> annIvfSqIncremental,
    "ann_ivfpq_incremental" -> annIvfPqIncremental,
    "ann_ivf_retrain" -> annIvfRetrain,
    "ann_retrain_advisor" -> annRetrainAdvisor,
    "mine_triplets" -> mineTriplets,
    "ann_sq_retrain" -> annSqRetrain,
    "ann_pq_retrain" -> annPqRetrain,
    "ann_bq_retrain" -> annBqRetrain,
    "ann_mutable_ivf" -> annMutableIvf,
    "ann_mutable_ivf_filtered" -> annMutableIvfFiltered,
    "ann_mutable_sq" -> annMutableSq,
    "ann_mutable_bq" -> annMutableBq,
    "ann_mutable_graph" -> annMutableGraph,
    "ann_graph_vacuum" -> annGraphVacuum,
    "ann_sq_vacuum" -> annSqVacuum,
    "ann_vacuum_advisor" -> annVacuumAdvisor,
    "ann_mutable_pq" -> annMutablePq,
    "page_keyset" -> pageKeyset,
    "ann_graph_filtered" -> annGraphFiltered,
    "ann_graph_adaptive" -> annGraphAdaptive,
    "ann_lsh_buckets" -> annLshBuckets,
    "rag_context" -> ragContext,
    "dedup_banding_advisor" -> dedupBandingAdvisor,
    "dedup_exact" -> dedupExact,
    "dedup_minhash" -> dedupMinhash,
    "dedup_minhash_auto" -> dedupMinhashAuto,
    "dedup_ngram" -> dedupNgram,
    "dedup_simhash" -> dedupSimhash,
    "dedup_embedding" -> dedupEmbedding,
    "dedup_image_phash" -> dedupImagePhash,
    "text_stats" -> textStats,
    "lang_id" -> langId,
    "doc_fingerprint" -> docFingerprint,
    "quality_filter" -> qualityFilter,
    "multimodal_meta" -> multimodalMeta,
    "multimodal_decode" -> multimodalDecode,
    "pack_concat_chunks" -> packConcatChunks,
    "pack_sequences" -> packSequences,
    "multimodal_audio" -> multimodalAudio,
    "decontaminate" -> decontaminate,
    "decontaminate_bloom" -> decontaminateBloom,
    "dedup_substring" -> dedupSubstring,
    "dedup_substring_scrub" -> dedupSubstringScrub,
    "dedup_incremental" -> dedupIncremental,
    "quality_classifier" -> qualityClassifier,
    "pipeline_mix_sample" -> pipelineMixSample,
    "mix_upsample" -> mixUpsample,
    "pack_curriculum" -> packCurriculum,
    "pipeline_training_data" -> pipelineTrainingData,
    "corpus_audit" -> corpusAudit,
    "corpus_datasheet" -> corpusDatasheet,
    "streaming_hourly" -> streamingHourly,
    "streaming_sessions" -> streamingSessions,
    "streaming_quality" -> streamingQuality,
    "streaming_neardup" -> streamingNearDup,
    "streaming_upsert" -> streamingUpsert,
    "streaming_percolate" -> streamingPercolate,
    "streaming_vec_percolate" -> streamingVecPercolate,
    "dedup_embedding_lsh" -> dedupEmbeddingLsh,
    "q12_distinct_sketch" -> q12DistinctSketch,
    "q13_cube" -> q13Cube,
    "q14_sql_exists" -> q14SqlExists,
    "q15_interval_join" -> q15IntervalJoin,
    "pipeline_clean_corpus" -> pipelineCleanCorpus,
    "pipeline_clean_mix" -> pipelineCleanMix,
    "dedup_clusters" -> dedupClusters,
    "dedup_keep_best" -> dedupKeepBest,
    "pipeline_split_leakfree" -> pipelineSplitLeakfree,
    "ann_mutual_knn" -> annMutualKnn,
    "mix_weighted_sample" -> mixWeightedSample,
    "mix_temperature" -> mixTemperature,
    "mix_temperature_tokens" -> mixTemperatureTokens,
    "mix_temperature_scale" -> mixTemperatureScale,
    "pack_advisor" -> packAdvisor,
    "source_jsonl" -> sourceJsonl,
    "source_csv" -> sourceCsv,
    "source_html_strip" -> sourceHtmlStrip,
    "source_warc" -> sourceWarc,
    "source_warc_gz" -> sourceWarcGz,
    "pipeline_split" -> pipelineSplit,
    "quality_bins" -> qualityBins,
    "export_shards" -> exportShards,
    "export_curriculum_shards" -> exportCurriculumShards,
    "store_compact" -> storeCompact,
    "text_bpe_merges" -> textBpeMerges,
    "text_pmi" -> textPmi,
    "text_tfidf" -> textTfidf,
    "text_bpe_apply" -> textBpeApply,
    "ingest_report" -> ingestReport,
    "ann_probe_knn" -> annProbeKnn,
    "q16_percentiles" -> q16Percentiles,
    "q17_asof_tolerance" -> q17AsofTolerance,
    "text_repetition" -> textRepetition,
    "q18_lead_lag" -> q18LeadLag,
    "q19_setops" -> q19SetOps,
    "q20_json_props" -> q20JsonProps,
    "q21_pivot" -> q21Pivot,
    "q22_minmax_by" -> q22MinmaxBy,
    "q23_array_agg" -> q23ArrayAgg,
    "q24_gapfill" -> q24Gapfill,
    "q25_stats_agg" -> q25StatsAgg,
    "q26_ntile" -> q26Ntile,
    "q27_levenshtein" -> q27Levenshtein,
    "skew_salted_agg" -> skewSaltedAgg,
    "text_bpe_tokens" -> textBpeTokens,
    "multimodal_frames" -> multimodalFrames,
    "streaming_join" -> streamingJoin,
    "ingest_ids" -> ingestIds,
    "ingest_records" -> ingestRecords,
    "q28_moving_avg" -> q28MovingAvg,
    "text_scrub_pii" -> textScrubPii,
    "text_term_freq" -> textTermFreq,
    "vec_centroid_per_label" -> vecCentroidPerLabel,
    "streaming_dedup" -> streamingDedup,
    "typed_user_gaps" -> typedUserGaps,
    "q29_grouping_sets" -> q29GroupingSets,
    "where_dsl_or" -> whereDslOr,
    "where_document_filter" -> whereDocumentFilter,
    "collection_lifecycle" -> collectionLifecycle,
    "collection_cdc_batches" -> collectionCdcBatches,
    "collection_cdc_delta" -> collectionCdcDelta,
    "collection_diff" -> collectionDiff,
    "collection_fork" -> collectionFork,
    "collection_mutate" -> collectionMutate,
    "collection_mutate_compact" -> collectionMutateCompact,
    "collection_compact_dirty" -> collectionCompactDirty,
    "collection_compact_advisor" -> collectionCompactAdvisor,
    "collection_snapshot" -> collectionSnapshot,
    "q30_first_last" -> q30FirstLast,
    "q31_corr_subquery" -> q31CorrSubquery,
    "text_sample_10pct" -> textSample10pct,
    "q32_dense_rank" -> q32DenseRank,
    "q33_unpivot" -> q33Unpivot,
    "q34_rlike" -> q34Rlike,
    "q35_datetime" -> q35Datetime,
    "q36_promo_revenue" -> q36PromoRevenue,
    "q37_top_suppliers" -> q37TopSuppliers,
    "ingest_incremental" -> ingestIncremental,
    "rag_rerank" -> ragRerank,
    "rag_boosted" -> ragBoosted,
    "rag_hybrid_search" -> ragHybridSearch,
    "doc_winnow_sql" -> docWinnowSql,
    "multimodal_resize" -> multimodalResize,
    "q38_asof_forward" -> q38AsofForward,
    "q39_funnel" -> q39Funnel,
    "q40_rank_dist" -> q40RankDist,
    "text_hof" -> textHof,
    "text_bm25" -> textBm25,
    "text_bm25_store" -> textBm25Store,
    "sparse_topk" -> sparseTopkQ,
    "sparse_store" -> sparseStoreQ,
    "sparse_incremental" -> sparseIncrementalQ,
    "streaming_sparse_ingest" -> streamingSparseIngest,
    "sparse_deleted" -> sparseDeletedQ,
    "sparse_compact" -> sparseCompactQ,
    "sparse_filtered" -> sparseFilteredQ,
    "sparse_batch" -> sparseBatchQ,
    "sparse_impact" -> sparseImpactQ,
    "text_bm25_filtered" -> textBm25Filtered,
    "text_percolate" -> textPercolate,
    "text_bm25_deleted" -> textBm25Deleted,
    "text_prf_search" -> textPrfSearch,
    "text_bm25_incremental" -> textBm25Incremental,
    "rag_hybrid_stored" -> ragHybridStored,
    "rag_hybrid_sparse" -> ragHybridSparse,
    "streaming_text_ingest" -> streamingTextIngest,
    "text_phrase_search" -> textPhraseSearch,
    "text_index_stats" -> textIndexStats,
    "text_near_search" -> textNearSearch,
    "text_boolean_search" -> textBooleanSearch,
    "text_bm25_batch" -> textBm25Batch,
    "text_snippets" -> textSnippets,
    "text_faceted_search" -> textFacetedSearch,
    "text_index_compact" -> textIndexCompact,
    "q41_cohort_retention" -> q41CohortRetention,
    "pipeline_mix_report" -> pipelineMixReport,
    "q42_map_metadata" -> q42MapMetadata,
    "text_unigram_lm" -> textUnigramLm,
    "text_bigram_lm" -> textBigramLm,
    "q43_not_in" -> q43NotIn,
    "rag_bm25_fusion" -> ragBm25Fusion,
    "rag_hybrid_relative" -> ragHybridRelative,
    "rag_late_interaction" -> ragLateInteraction,
    "rag_mmr" -> ragMmr,
    "q44_percentile_sketch" -> q44PercentileSketch,
    "q45_sql_vector_fn" -> q45SqlVectorFn,
    "cluster_kmeans" -> clusterKmeans,
    "dedup_semantic" -> dedupSemantic,
    "cluster_diverse_sample" -> clusterDiverseSample,
    "dedup_semantic_prune" -> dedupSemanticPrune,
    "decontaminate_semantic" -> decontaminateSemantic,
    "cluster_kmeans_stats" -> clusterKmeansStats,
    "streaming_cluster_assign" -> streamingClusterAssign,
    "streaming_drift" -> streamingDrift,
    "streaming_ann_ingest" -> streamingAnnIngest,
    "streaming_graph_ingest" -> streamingGraphIngest,
    "streaming_bq_ingest" -> streamingBqIngest,
    "streaming_sq_ingest" -> streamingSqIngest,
    "streaming_pq_ingest" -> streamingPqIngest,
    "ann_graph_retrain" -> annGraphRetrain,
    "source_orc" -> sourceOrc,
    "ann_sq_topk" -> annSqTopk,
    "zorder_key" -> zorderKey,
    "collection_manifest" -> collectionManifest,
    "collection_modify" -> collectionModify,
    "collection_alias" -> collectionAlias,
    "collection_include" -> collectionInclude,
  )

  // DuckDB oracle SQL — see GraftOracles
  val oracles: Map[String, String] = GraftOracles.all
}
