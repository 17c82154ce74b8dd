package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.types.NumericType
import org.apache.spark.sql.functions._
import graft.functions.VectorFunctions

/** Deterministic Lloyd k-means over `ARRAY<FLOAT>` embedding columns, and
  * the SemDeDup-style semantic dedup built on top of it (cluster first,
  * then pairwise-compare only within a cluster — Abbas et al. 2023,
  * "SemDeDup: Data-efficient learning at web-scale through semantic
  * deduplication", arXiv:2303.09540).
  *
  * The reference pipeline stops at exact/LSH near-dup over text
  * (`/root/reference/src/PDFToChromaIngester.py` has no clustering at
  * all); clustering-gated embedding dedup is the missing member of the
  * training-data dedup family (SURVEY §2: embedding-cosine near-dup) —
  * the published algorithm for pruning web-scale corpora where all-pairs
  * cosine is infeasible.
  *
  * Scale shape (the reason this is k-means and not all-pairs):
  *  - centroids ride in the PLAN as `array<float>` literals (k·dim
  *    floats; same discipline as the 256-weight quality classifier), so
  *    assignment is a MAP-ONLY `array_min` over k codegen'd
  *    [[graft.functions.VectorDistance]] probes — no join, no shuffle,
  *    whole-stage codegen end to end;
  *  - a Lloyd update shuffles only the (cluster, dim) partial sums —
  *    k·dim rows per map partition after partial aggregation, never the
  *    vectors themselves;
  *  - the pairwise stage after clustering is O(Σ cluster²) instead of
  *    O(n²). At 100 TB one runs k ≈ √n (SemDeDup uses k = 11k for
  *    LAION-440M) so per-cluster candidate sets stay bounded; the
  *    all-pairs-within-cluster join below shuffles on cluster id. For
  *    corpora where even a cluster is too big, `Similarity.lshNearDupJoin`
  *    is the banded alternative — this operator is the published
  *    semantic-pruning shape, that one is the recall-tunable fallback.
  *
  * Relation to [[Similarity.trainCentroidArrays]] (the IVF coarse
  * quantizer): same fixed-point Lloyd discipline, different contracts.
  * The IVF trainer runs on a bounded sample with a closure-UDF argmin —
  * at ncells ≥ 16 the expression formulation pays ncells·dim of
  * generated source (seconds of janino) per embedding plan, and IVF
  * recall doesn't care about cross-engine bit parity. THIS operator is
  * the oracle-checked tier: k is small (8), every row participates (no
  * sample), and the argmin compares floor-ROUNDED distances so a DuckDB
  * twin can reproduce the assignment bit-for-bit — which forces the
  * whole-stage-codegen expression form over a lambda UDF.
  *
  * Determinism (what makes a full DuckDB oracle possible where MLlib
  * KMeans would be rows-only):
  *  - init: centroid j = embedding of the SMALLEST id in residue class
  *    `id % k = j` — no RNG, no data-order dependence;
  *  - distances accumulate left-to-right in double over float inputs
  *    (the VectorDistance contract) and are rounded to 6 decimals via
  *    the repo's `floor(x·1e6 + 0.5)/1e6` form BEFORE the argmin, with
  *    ties broken by lowest cluster id — so the argmin is stable under
  *    both engines' summation;
  *  - Lloyd means use the fixed-point long-sum trick established by
  *    `vec_centroid_per_label` (`floor(x·2^24)` per component, exact
  *    BIGINT sums — associative, so partial-agg merge order can't shift
  *    the mean), then quantize back to float32 so the next round's
  *    literals are identical bit patterns in both engines;
  *  - an empty cluster keeps its previous centroid.
  */
object Clustering {

  /** 2^24 fixed-point scale — exact for float32 mantissas of unit-scale
    * embeddings, same constant as `vec_centroid_per_label`. */
  val Fp = 16777216L

  /** The repo's cross-engine rounding form (round() half-tie rules
    * differ between engines; floor(x·1e6+0.5) does not). */
  private def round6(c: Column): Column = floor(c * 1e6 + 0.5) / 1e6

  /** Map-only nearest-centroid assignment: `struct(dist, cid)` argmin by
    * `array_min`'s lexicographic struct ordering (dist first, then cid —
    * which IS the deterministic tiebreak).
    *
    * CELL-COUNT GATE (the [[Similarity.withCellId]] discipline, extended
    * to THIS tier's callers — the graph builds/appends and the SQ encode
    * paths all assign through here): at `twoLevelGate`+ cells the
    * literal-probe expression stops scaling — ncells·dim of generated
    * source per plan (janino pays seconds per distinct centroid set) and
    * O(ncells) per row — so assignment switches to the broadcast
    * two-level [[CentroidRouter]] (approximate in the standard IVF
    * sense, SELF-CONSISTENT with the gated probe side: sqProbeCells
    * routes through the same memoized router above the same gate). The
    * emitted struct keeps the contract: `dist` is the round6'd
    * left-to-right double l2² to the CHOSEN cell. Answers below the
    * gate are unchanged by construction (flat path). */
  def assignStruct(vec: Column, cents: Array[Array[Float]],
                   twoLevelGate: Int = CentroidRouter.DefaultGate): Column = {
    if (cents.length >= twoLevelGate) {
      val bc = org.apache.spark.sql.SparkSession.active.sparkContext
        .broadcast(CentroidRouter.routerForSlots(cents))
      val assign = udf((v: Seq[Float]) => {
        val arr = v.toArray
        val cid = bc.value.assign(arr)
        val c = bc.value.cents(cid)._2
        var acc = 0.0
        var i = 0
        val n = math.min(arr.length, c.length)
        while (i < n) { val d = arr(i).toDouble - c(i).toDouble; acc += d * d; i += 1 }
        (math.floor(acc * 1e6 + 0.5) / 1e6, cid)
      })
      return assign(vec).cast("struct<dist:double,cid:int>")
    }
    val probes = cents.zipWithIndex.map { case (c, j) =>
      struct(
        round6(VectorFunctions.l2Sq(vec, typedlit(c))).as("dist"),
        lit(j).as("cid"))
    }
    // array() unifies the struct elements under positional field names;
    // cast restores (dist, cid) for the callers' getField
    array_min(array(probes.toIndexedSeq: _*)).cast("struct<dist:double,cid:int>")
  }

  /** Deterministic init: centroid j = embedding of min(id) where
    * `id % k = j`. ONE narrow job — per-partition (min id, vec) per
    * residue class, reduced on the driver (min is commutative, so
    * partition order cannot matter) — replacing the earlier
    * groupBy-seeds + broadcast-join + collect pair (two jobs plus a
    * broadcast build) with the same bounded k-row result, bit-equal
    * seeds included.
    *
    * Numeric ids take that rule verbatim. Any other id type (graft's
    * default `uuid()` string ids) cannot be cast to long, so it seeds by
    * the residue of a stable hash (`pmod(xxhash64(id), k)`) and breaks
    * ties by the smallest id string. */
  def initCentroids(emb: DataFrame, k: Int, idCol: String, vecCol: String): Array[Array[Float]] = {
    val numeric = emb.schema(idCol).dataType.isInstanceOf[NumericType]
    val (key, residue) =
      if (numeric) (col(idCol).cast("long"), col(idCol).cast("long") % k)
      else (col(idCol).cast("string"), pmod(xxhash64(col(idCol).cast("string")), lit(k.toLong)))
    val before: (Row, Row) => Boolean =
      if (numeric) (a, b) => a.getLong(0) < b.getLong(0)
      else (a, b) => a.getString(0) < b.getString(0)
    val out = emb
      .select(key.as("_id"), residue.cast("int").as("_r"),
        col(vecCol).cast("array<float>").as("_v"))
      .rdd.mapPartitions { it =>
        val best = Array.fill[Row](k)(null)
        it.foreach { r =>
          val j = r.getInt(1)
          if (best(j) == null || before(r, best(j))) best(j) = r
        }
        Iterator.single(best)
      }.reduce { (a, b) =>
        var j = 0
        while (j < k) {
          if (a(j) == null || (b(j) != null && before(b(j), a(j)))) a(j) = b(j)
          j += 1
        }
        a
      }
    require(out.forall(_ != null), s"k=$k needs every residue class inhabited")
    out.map(_.getSeq[Float](2).toArray)
  }

  /** One Lloyd update. ONE narrow mapPartitions job accumulating
    * k×(dim+1) fixed-point LONG partials per partition, integer-reduced
    * on the driver — replacing the earlier (dim+1)-column codegen
    * aggregate, whose plan-literal centroids changed every round and
    * forced a fresh janino compile per step (~0.3–0.4 s/step of pure
    * compilation at sf0.1; training dominated criterion queries like
    * ann_graph_incremental). The integer sums are identical either way
    * (fixed-point addition commutes — partition order cannot matter),
    * and the assignment arithmetic is the [[assignStruct]] scalar
    * kernel verbatim: flat argmin over the floor-rounded l2² with the
    * lowest-cid tie rule below the router gate, the two-level
    * [[CentroidRouter]] at or above it — so assignments, the oracle
    * twin, and the determinism pins are all unchanged. Partials are
    * bounded (k·(dim+1) longs per partition); empty clusters keep
    * their previous centroid. */
  def lloydStep(emb: DataFrame, cents: Array[Array[Float]], idCol: String, vecCol: String): Array[Array[Float]] = {
    val dim = cents(0).length
    val k = cents.length
    val sp = emb.sparkSession
    val useRouter = k >= CentroidRouter.DefaultGate
    val bc = sp.sparkContext.broadcast(cents)
    val partials =
      try {
        emb.select(col(vecCol).cast("array<float>").as("_v"))
          .rdd.mapPartitions { it =>
            val cs = bc.value
            val assign: Array[Float] => Int =
              if (useRouter) CentroidRouter.routerForSlots(cs).assign _
              else { v =>
                // assignStruct's flat rule: floor-rounded l2², strict <
                // so the lowest cid wins ties (array_min struct order)
                var best = Double.MaxValue
                var bid = -1
                var j = 0
                while (j < cs.length) {
                  val c = cs(j)
                  var acc = 0.0
                  var i = 0
                  val n = math.min(v.length, c.length)
                  while (i < n) {
                    val d = v(i).toDouble - c(i).toDouble; acc += d * d; i += 1
                  }
                  val dist = math.floor(acc * 1e6 + 0.5) / 1e6
                  if (dist < best) { best = dist; bid = j }
                  j += 1
                }
                bid
              }
            val sums = Array.ofDim[Long](k, dim + 1)
            it.foreach { r =>
              val v = r.getSeq[Float](0).toArray
              val row = sums(assign(v))
              var i = 0
              val n = math.min(v.length, dim)
              while (i < n) {
                row(i) += math.floor(v(i).toDouble * Fp).toLong; i += 1
              }
              row(dim) += 1L
            }
            Iterator.single(sums)
          }.reduce { (a, b) =>
            var j = 0
            while (j < k) {
              var i = 0
              while (i <= dim) { a(j)(i) += b(j)(i); i += 1 }
              j += 1
            }
            a
          }
      } finally bc.destroy()
    val next = cents.map(_.clone())
    var cid = 0
    while (cid < k) {
      val n = partials(cid)(dim)
      if (n > 0) {
        var pos = 0
        while (pos < dim) {
          // same association order as the oracle: (sum / n) / 2^24, then a
          // float32 quantize so the next round's plan literal is bit-equal
          next(cid)(pos) = (partials(cid)(pos).toDouble / n / Fp).toFloat
          pos += 1
        }
      }
      cid += 1
    }
    next
  }

  /** Deterministic init + `iters` Lloyd rounds: the ONE training
    * definition (batch queries and the streaming router both call this,
    * so iteration count / init changes cannot de-synchronize them from
    * the oracle's unrolled twin). */
  def trainCentroids(emb: DataFrame, k: Int, iters: Int,
      idCol: String = "vec_id", vecCol: String = "embedding"): Array[Array[Float]] = {
    var cents = initCentroids(emb, k, idCol, vecCol)
    for (_ <- 0 until iters) cents = lloydStep(emb, cents, idCol, vecCol)
    cents
  }

  /** `iters` Lloyd rounds from the deterministic init; returns the input
    * with `cluster_id` (long) and `dist` (rounded l2²  to the FINAL
    * centroid set) attached — a map-only projection over the scan. */
  def kmeansAssign(emb: DataFrame, k: Int, iters: Int,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val cents = trainCentroids(emb, k, iters, idCol, vecCol)
    val a = assignStruct(col(vecCol), cents)
    emb.withColumn("_a", a)
      .withColumn("cluster_id", col("_a").getField("cid").cast("long"))
      .withColumn("dist", col("_a").getField("dist"))
      .drop("_a")
  }

  /** SemDeDup: near-duplicate pairs (cosine ≥ threshold) restricted to
    * same-cluster candidates. One shuffle on cluster id; O(Σ cluster²)
    * comparisons. Output matches `Dedup.embeddingNearDup`'s shape plus
    * the cluster column, so the cluster-gating is directly observable
    * against the all-pairs baseline. */
  def semanticNearDup(emb: DataFrame, k: Int, iters: Int, threshold: Double,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame =
    semanticNearDupFrom(kmeansAssign(emb, k, iters, idCol, vecCol), threshold, idCol, vecCol)

  /** Pair stage over an existing assignment frame (so composed callers
    * train the centroids once).
    *
    * Giant-cluster guard: the within-cluster self-join shuffles on
    * `cluster_id`, so ONE degenerate cluster (boilerplate / near-empty
    * docs — common in web corpora) would concentrate a quadratic pair
    * enumeration in a single reduce group. Clusters larger than
    * `maxClusterSize` are therefore routed through the banded
    * [[Similarity.lshNearDupJoin]] path — candidates come from
    * fixed-width (table, bucket) collision groups instead of the whole
    * cluster, then exact cosine verifies — with a same-cluster
    * post-filter so SemDeDup's cluster gate is preserved. The size scan
    * collects at most k rows (one per oversized cluster); clusters at or
    * under the cap keep the exact all-pairs-within-cluster semantics, so
    * results are bit-identical to the unguarded form whenever no cluster
    * exceeds the cap (the oracle-gated case). */
  def semanticNearDupFrom(assigned: DataFrame, threshold: Double,
      idCol: String = "vec_id", vecCol: String = "embedding",
      maxClusterSize: Int = 8192): DataFrame = {
    val a0 = assigned.select(col(idCol), col(vecCol), col("cluster_id"))
    // an unguarded caller pays nothing: no size scan, no materialization
    if (maxClusterSize == Int.MaxValue)
      return exactPairsWithin(a0, threshold, idCol, vecCol)
    // the size scan + pair stage(s) would each re-execute the upstream
    // assignment scan — materialize it once (eager, same no-leak
    // discipline as the other near-dup operators)
    val a = a0.localCheckpoint(true)
    val big = a.groupBy("cluster_id").count()
      .filter(col("count") > maxClusterSize)
      .collect().map(_.getLong(0)).sorted
    if (big.isEmpty) exactPairsWithin(a, threshold, idCol, vecCol)
    else {
      val bigRows = a.filter(col("cluster_id").isin(big: _*))
      val small = a.filter(!col("cluster_id").isin(big: _*))
      // the LSH join ignores cluster ids, so candidate pairs spanning two
      // oversized clusters can appear — the assignment join drops them.
      // lshNearDupJoin emits the repo's floor-form round6 (one rounding
      // rule across both branches) and derives the hyperplane dim from
      // the vector column itself.
      val assign = bigRows.select(col(idCol), col("cluster_id"))
      val banded = Similarity.lshNearDupJoin(bigRows, vecCol, idCol, threshold)
        .join(assign.toDF("id_a", "ca"), "id_a")
        .join(assign.toDF("id_b", "cb"), "id_b")
        .filter(col("ca") === col("cb"))
        .select(col("ca").as("cluster_id"), col("id_a"), col("id_b"), col("cosine"))
      exactPairsWithin(small, threshold, idCol, vecCol).unionByName(banded)
    }
  }

  /** The exact within-cluster pair enumeration — O(cluster²) per reduce
    * group, which is why callers gate it behind `maxClusterSize`. */
  private def exactPairsWithin(a: DataFrame, threshold: Double,
      idCol: String, vecCol: String): DataFrame = {
    val l = a.select(col("cluster_id"), col(idCol).as("id_a"), col(vecCol).as("va"))
    val r = a.select(col("cluster_id"), col(idCol).as("id_b"), col(vecCol).as("vb"))
    l.join(r, Seq("cluster_id"))
      .filter(col("id_a") < col("id_b"))
      .withColumn("cosine", round6(VectorFunctions.cosine(col("va"), col("vb"))))
      .filter(col("cosine") >= threshold)
      .select(col("cluster_id"), col("id_a"), col("id_b"), col("cosine"))
  }

  /** SemDeDup end-state: the pruned corpus. Keep-lowest-id rule — a
    * vector is dropped when ANY same-cluster lower id is a near-dup
    * (the conservative any-match variant of SemDeDup's keep-one-per-
    * ε-ball; deterministic, and the drop set is exactly the pair
    * relation's id_b side, so the oracle is the pair CTE + an anti-join).
    * Left-anti join shuffles on id — at 100 TB the drop side is the
    * (small) near-dup pair relation, not the corpus. */
  def semanticPrune(emb: DataFrame, k: Int, iters: Int, threshold: Double,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val assigned = kmeansAssign(emb, k, iters, idCol, vecCol)
    val dropped = semanticNearDupFrom(assigned, threshold, idCol, vecCol)
      .select(col("id_b").as(idCol)).distinct()
    assigned.join(dropped, Seq(idCol), "left_anti")
      .select(col(idCol), col("cluster_id"))
  }
}
