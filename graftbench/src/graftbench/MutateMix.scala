package graftbench

import graft.operators.MutableIvf
import scala.collection.mutable

/** A live collection under mixed traffic: a `createMutable` collection
  * with a `MutableIvf` index attached, driven through a fixed sequence of
  * rounds. Each round upserts a batch (half of it replacing live ids),
  * deletes ids, gets ids, refreshes the index and runs IVF searches;
  * every few rounds it runs `compactDirty`. One call is one unit; the
  * benchmark keeps its own model of the live rows and checks every
  * answer against it. */
final class MutateMix(ctx: Ctx) extends Workload {
  import MutateMix._
  private val spark = ctx.spark
  private val store = ctx.store
  import spark.implicits._

  private val model = mutable.HashMap.empty[String, (String, Array[Float])]
  private val live = mutable.ArrayBuffer.empty[String] // model keys, in a stable order
  private val deleted = mutable.ArrayBuffer.empty[String]
  private var nextId = 0
  private var round = 0
  private var timedItems = 0L
  private val nRounds = math.max(CompactEvery, math.round(ctx.seconds * RoundsPerSecond).toInt)

  private val centers: Array[Array[Float]] = {
    val rng = ctx.rng("mutate_centers")
    Array.fill(Clusters)(Array.fill(Dim)(rng.nextGaussian().toFloat))
  }

  private def vector(rng: scala.util.Random): Array[Float] = {
    val c = centers(rng.nextInt(Clusters))
    val v = Array.tabulate(Dim)(i => c(i) + 0.6f * rng.nextGaussian().toFloat)
    val n = math.sqrt(v.map(x => x.toDouble * x).sum).toFloat
    v.map(_ / n)
  }

  private def row(rng: scala.util.Random, id: String): (String, String, String, Array[Float]) =
    (id, s"s${rng.nextInt(8)}", s"r$round-$id-${rng.nextInt(1000000)}", vector(rng))

  private def freshId(): String = { nextId += 1; f"m$nextId%07d" }

  private def apply(rows: Seq[(String, String, String, Array[Float])]): Unit = rows.foreach {
    case (id, _, chunk, v) =>
      if (!model.contains(id)) live += id
      model(id) = (chunk, v)
  }

  def setup(): Unit = {
    val rng = ctx.rng("mutate_initial")
    val rows = (0 until InitialRows).map(_ => row(rng, freshId()))
    apply(rows)
    store.createMutable("live", rows.toDF("id", "source", "chunk", "embedding"), "id")
    MutableIvf.attach(spark, store, "live", "embedding", "live_ivf", ncells = IvfCells)
  }

  /** Successful calls of the timed phase. */
  private def done[T](r: Option[T]): Option[T] = {
    if (r.isDefined && ctx.recording) timedItems += 1
    r
  }

  private def pick(rng: scala.util.Random, from: collection.IndexedSeq[String], n: Int,
                   avoid: Set[String]): Seq[String] = {
    val out = mutable.LinkedHashSet.empty[String]
    while (out.size < n) {
      val id = from(rng.nextInt(from.size))
      if (!avoid.contains(id)) out += id
    }
    out.toSeq
  }

  private def oneRound(): Unit = {
    val rng = ctx.rng(s"mutate_round_$round")
    val mc = store.mutable("live")
    // upsert: half replaces live ids, half inserts new ones
    val replace = pick(rng, live, UpsertBatch / 2, Set.empty)
    val rows = (replace ++ Seq.fill(UpsertBatch / 2)(freshId())).map(row(rng, _))
    val df = rows.toDF("id", "source", "chunk", "embedding")
    done(ctx.call("upsert")(mc.upsert(df))).foreach(_ => apply(rows))
    // delete ids untouched by this round's upsert
    val gone = pick(rng, live, DeleteBatch, rows.map(_._1).toSet)
    done(ctx.call("delete")(mc.deleteIds(spark, gone))).foreach { _ =>
      gone.foreach(model.remove)
      val goneSet = gone.toSet
      live.filterInPlace(id => !goneSet.contains(id))
      deleted ++= gone
    }
    // get: live ids and recently deleted ones
    val ask = pick(rng, live, GetBatch - 5, Set.empty) ++ deleted.takeRight(5)
    done(ctx.call("get") {
      mc.get(spark, ask).select("id", "chunk", "embedding").as[(String, String, Array[Float])].collect()
    }).foreach { got =>
      val want = ask.flatMap(id => model.get(id).map(id -> _)).toMap
      ctx.check(s"round $round: get", Checks.liveSet(got.map(r => (r._1, r._2)).toSeq,
        want.map { case (id, m) => id -> m._1 }))
      ctx.check(got.forall { case (id, _, v) => want.get(id).exists(_._2.sameElements(v)) },
        s"round $round: get returned a vector that is not the row's")
    }
    done(ctx.call("refresh")(MutableIvf.refresh(spark, store, "live", "live_ivf")))
    // searches: nprobe = every cell is exact; a partial probe must still
    // return live rows at their true distance, best first
    (0 until Searches).foreach { s =>
      val q = vector(rng)
      val nprobe = if (s % 2 == 0) IvfCells else PartialProbe
      done(ctx.call("search") {
        MutableIvf.search(spark, store, "live", "live_ivf", q, k = K, nprobe = nprobe)
          .select("id", "dist").as[(String, Double)].collect().toSeq
      }).foreach(hits => checkSearch(q, nprobe, hits))
    }
    if (round % CompactEvery == CompactEvery - 1) {
      done(ctx.call("compact")(mc.compactDirty(spark))).foreach(_ => checkLive("compactDirty"))
    }
    round += 1
  }

  private def checkSearch(q: Array[Float], nprobe: Int, hits: Seq[(String, Double)]): Unit = {
    val distOf = (id: String) => model.get(id).map(m => Oracle.l2sq(m._2, q))
    if (nprobe == IvfCells) {
      val want = Oracle.topK(model.view.map { case (id, (_, v)) => (id, v) }, q, K)
      Checks.ranking(hits, want, distOf)
        .foreach(e => ctx.check(false, s"round $round: full-probe search: $e"))
    } else {
      ctx.check(hits.size == K, s"round $round: partial probe returned ${hits.size} hits")
      ctx.check(hits.forall { case (id, d) => distOf(id).exists(w => math.abs(w - d) <= 1e-5) },
        s"round $round: partial probe returned a dead row or a wrong distance")
      ctx.check(hits.map(_._2) == hits.map(_._2).sorted, s"round $round: partial probe out of order")
    }
  }

  private def checkLive(after: String): Unit = {
    val got = store.mutable("live").readLive(spark).select("id", "chunk")
      .as[(String, String)].collect()
    ctx.check(s"round $round: after $after", Checks.liveSet(got.toSeq, contents))
  }

  private def contents: collection.Map[String, String] = model.map { case (id, m) => id -> m._1 }

  def warmup(): Unit = (0 until WarmRounds).foreach(_ => oneRound())
  def timed(): Unit = (0 until nRounds).foreach(_ => oneRound())
  def items: Long = timedItems

  def layers(l: JobListener): Map[String, Double] = {
    def med(kind: String) = Stats.quantile(ctx.calls.filter(_.kind == kind).map(_.ms).toSeq, 0.5)
    val dir = new java.io.File(ctx.storeRoot, "live")
    val tomb = Main.partFiles(new java.io.File(dir, "_tombstones")).size
    Map(
      "store.upsert_ms" -> med("upsert"), "store.delete_ms" -> med("delete"),
      "store.get_ms" -> med("get"), "operators.ivf_refresh_ms" -> med("refresh"),
      "operators.ivf_search_ms" -> med("search"),
      "store.compact_dirty_s" -> ctx.calls.filter(_.kind == "compact").map(_.nanos).sum / 1e9,
      "store.data_files" -> (Main.partFiles(dir).size - tomb).toDouble,
      "store.tombstone_files" -> tomb.toDouble)
  }

  def verify(): Unit = {
    val mc = store.mutable("live")
    val got = mc.readLive(spark).select("id", "chunk", "embedding")
      .as[(String, String, Array[Float])].collect()
    ctx.check("final live set", Checks.liveSet(got.map(r => (r._1, r._2)).toSeq, contents))
    ctx.check(got.forall { case (id, _, v) => model.get(id).exists(_._2.sameElements(v)) },
      "final live set: a row's vector is not the one last written")
    ctx.check(mc.countLive(spark) == model.size, "countLive differs from the model")
  }
}

object MutateMix {
  val Dim = 128
  val Clusters = 16
  val InitialRows = 2000
  val WarmRounds = 2
  val UpsertBatch = 200
  val DeleteBatch = 50
  val GetBatch = 20
  val Searches = 2
  val K = 10
  val IvfCells = 16
  val PartialProbe = 4
  val CompactEvery = 3
  /** Timed rounds per second of `--seconds`. */
  val RoundsPerSecond = 0.3
}
