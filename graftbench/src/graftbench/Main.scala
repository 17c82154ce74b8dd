package graftbench

import java.io.File
import java.nio.file.{Files, Path, Paths}
import org.apache.spark.sql.SparkSession
import scala.collection.mutable.ArrayBuffer

/** Everything one run shares: the session, the store root, the seed and
  * the closed-loop call recorder. */
final class Ctx(val spark: SparkSession, val work: Path, val seed: Long,
                val seconds: Int, val trace: Boolean) {
  val storeRoot: String = work.resolve("store").toString
  val store = graft.store.VectorStore(storeRoot)
  def rng(stream: String): scala.util.Random =
    new scala.util.Random(seed * 1000003L + stream.hashCode)

  /** Calls of the timed phase; warm-up calls are made but not recorded. */
  val calls = ArrayBuffer.empty[Call]
  var recording = false
  var attempted = 0L
  var failed = 0L
  val failures = ArrayBuffer.empty[String]
  val checkFailures = ArrayBuffer.empty[String]

  /** One closed-loop call: timed, and counted as failed (never as a fast
    * success) when it throws or when `bad` judges its result an error. */
  def call[T](kind: String)(f: => T): Option[T] = judged(kind, f, (_: T) => None)

  /** A search call whose result carries an error string on failure. */
  def search(kind: String)(f: => graft.model.SearchResult): Option[graft.model.SearchResult] =
    judged(kind, f, (r: graft.model.SearchResult) => r.error)

  private def judged[T](kind: String, f: => T, bad: T => Option[String]): Option[T] = {
    attempted += 1
    val wall0 = System.currentTimeMillis()
    val t0 = System.nanoTime()
    val r = try Right(Trace.span(kind)(f)) catch { case e: Exception => Left(e.toString) }
    val dt = System.nanoTime() - t0
    val err = r.fold(Some(_), bad)
    if (recording) calls += Call(kind, wall0, System.currentTimeMillis(), dt)
    err match {
      case Some(msg) =>
        failed += 1
        if (failures.size < 20) failures += s"$kind: $msg"
        None
      case None => r.toOption
    }
  }

  def check(ok: Boolean, what: => String): Unit =
    if (!ok && checkFailures.size < 50) checkFailures += what

  /** Record a failed check from [[Checks]], prefixed with where it ran. */
  def check(where: String, err: Option[String]): Unit =
    err.foreach(e => check(ok = false, s"$where: $e"))
}

/** A workload: set-up (store + inputs), an untimed warm-up on inputs of
  * its own, a fixed seeded amount of timed work, and the checks. */
trait Workload {
  def setup(): Unit
  def warmup(): Unit
  def timed(): Unit
  /** Items completed in the timed phase (chunks, queries or calls). */
  def items: Long
  def verify(): Unit
  /** This workload's per-layer metrics (traced runs). */
  def layers(listener: JobListener): Map[String, Double]
}

object Main {
  /** Every per-layer metric with its unit; a workload that leaves a layer
    * idle reports 0 for it. */
  val LayerUnits: Seq[(String, String)] = Seq(
    "ingest.extract_s" -> "s", "ingest.pdf_mb" -> "MB",
    "text.chunk_s" -> "s", "text.chunks" -> "count",
    "embed.forward_s" -> "s", "embed.cpu_s" -> "s",
    "operators.dedup_check_s" -> "s", "operators.signature_append_s" -> "s",
    "operators.dedup_dropped" -> "count", "operators.ivf_insert_s" -> "s",
    "store.append_s" -> "s", "store.files_written" -> "count", "store.mb_written" -> "MB",
    "query.embed_ms" -> "ms", "query.exact_ms" -> "ms", "query.filtered_ms" -> "ms",
    "query.context_ms" -> "ms", "query.ivf_ms" -> "ms",
    "query.rows_scanned_per_query" -> "count", "query.ivf_recall_at_10" -> "ratio",
    "store.upsert_ms" -> "ms", "store.delete_ms" -> "ms", "store.get_ms" -> "ms",
    "operators.ivf_refresh_ms" -> "ms", "operators.ivf_search_ms" -> "ms",
    "store.compact_dirty_s" -> "s", "store.data_files" -> "count",
    "store.tombstone_files" -> "count",
    "spark.jobs_per_call" -> "count", "spark.tasks_per_call" -> "count",
    "spark.driver_gap_ms_per_call" -> "ms", "spark.executor_cpu_s_per_call" -> "s",
    "spark.input_mb_per_call" -> "MB", "spark.shuffle_write_mb_per_call" -> "MB",
    "jvm.gc_ms" -> "ms", "jvm.jit_ms" -> "ms")

  /** Runs one benchmark process and ends the JVM explicitly: without
    * the exit, a JVM that had run the ingest path lingered ~30 s after
    * writing its result. */
  def main(args: Array[String]): Unit = {
    val code = try { run(args); 0 } catch {
      case e: Throwable => e.printStackTrace(); 1
    }
    System.exit(code)
  }

  private def run(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val t0 = sys.props.get("graftbench.t0").map(_.toLong)
      .getOrElse(java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime)
    if (opts.get("selftest").contains("1")) {
      if (!SelfTest.run()) throw new IllegalStateException("self-test failed")
      return
    }
    val name = opts("workload")
    val seed = opts("seed").toLong
    val seconds = opts("seconds").toInt
    val trace = opts("trace") == "1"
    val work = Paths.get(opts("work")).toAbsolutePath
    val out = Paths.get(opts("out"))
    Files.createDirectories(work)
    // two task slots: the calls are dominated by fixed driver-side cost,
    // and the remaining cores go to the driver thread, the JIT and GC
    val cores = math.max(1, math.min(2, Runtime.getRuntime.availableProcessors))
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"graftbench-$name")
      .config("spark.ui.enabled", "false")
      .config("spark.driver.host", "localhost")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val listener = new JobListener
    if (trace) spark.sparkContext.addSparkListener(listener)
    Trace.enabled = trace
    val ctx = new Ctx(spark, work, seed, seconds, trace)
    SelfTest.failures().foreach(f => ctx.check(ok = false, s"self-test: $f"))
    val wl: Workload = name match {
      case "ingest_pdf" => new IngestPdf(ctx)
      case "rag_query" => new RagQuery(ctx)
      case "mutate_mix" => new MutateMix(ctx)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    def mark(what: String): Unit =
      System.err.println(f"[graftbench] $what at ${(System.currentTimeMillis() - t0) / 1000.0}%.1f s")
    mark("session up")
    wl.setup()
    mark("set-up done")
    wl.warmup()
    mark("warm-up done")

    // ---- timed phase
    Trace.reset()
    val (steal0, load0) = JvmStats.hostSample
    val gc0 = JvmStats.gcMs
    val jit0 = JvmStats.jitMs
    val timedStartMs = System.currentTimeMillis()
    val setupS = (timedStartMs - t0) / 1000.0
    ctx.recording = true
    val phase0 = System.nanoTime()
    wl.timed()
    val phaseS = (System.nanoTime() - phase0) / 1e9
    ctx.recording = false
    val timedEndMs = System.currentTimeMillis()
    val gcMs = JvmStats.gcMs - gc0
    val jitMs = JvmStats.jitMs - jit0
    val (steal1, load1) = JvmStats.hostSample
    val layerStats = if (trace) {
      org.apache.spark.graftbenchbridge.Drain(spark.sparkContext)
      wl.layers(listener)
    } else Map.empty[String, Double]

    wl.verify()
    val storeBytes = treeBytes(new File(ctx.storeRoot))

    // ---- report
    val callMs = ctx.calls.map(_.ms).toSeq
    val busyS = ctx.calls.map(_.nanos).sum / 1e9
    val half = callMs.size / 2
    val (h1, h2) = (Stats.quantile(callMs.take(half), 0.5), Stats.quantile(callMs.drop(half), 0.5))
    System.err.println(f"[graftbench] $name seed=$seed calls=${callMs.size} " +
      f"timed_wall_s=$phaseS%.2f busy_s=$busyS%.2f half_medians_ms=$h1%.2f/$h2%.2f " +
      f"steal_ticks=${steal1 - steal0} load=[$load0] -> [$load1] gc_ms=$gcMs jit_ms=$jitMs")
    ctx.calls.groupBy(_.kind).toSeq.sortBy(_._1).foreach { case (k, cs) =>
      val ms = cs.map(_.ms).toSeq
      System.err.println(f"[graftbench]   $k%-14s n=${ms.size}%4d p50=${Stats.quantile(ms, 0.5)}%9.2f " +
        f"p90=${Stats.quantile(ms, 0.9)}%9.2f ms")
    }
    ctx.failures.foreach(f => System.err.println(s"[graftbench] FAILED op: $f"))
    ctx.checkFailures.foreach(f => System.err.println(s"[graftbench] CHECK FAILED: $f"))
    val e2e = Seq(
      ("setup_s", setupS, "s"),
      ("items_per_s", if (busyS > 0) wl.items / busyS else 0.0, "1/s"),
      ("call_p50_ms", Stats.quantile(callMs, 0.5), "ms"),
      ("call_p90_ms", Stats.quantile(callMs, 0.9), "ms"),
      ("store_mb", storeBytes / 1e6, "MB"))
    val metrics =
      if (!trace) e2e
      else {
        val calls = math.max(1, ctx.calls.size).toDouble
        val jobs = listener.jobsIn(timedStartMs, timedEndMs)
        val gap = ctx.calls.map(c => listener.gapMs(c.startMs, c.endMs)).sum
        val common = Map(
          "spark.jobs_per_call" -> jobs.size / calls,
          "spark.tasks_per_call" -> jobs.map(_.tasks.sum).sum / calls,
          "spark.driver_gap_ms_per_call" -> gap / calls,
          "spark.executor_cpu_s_per_call" -> jobs.map(_.cpuNs.sum).sum / 1e9 / calls,
          "spark.input_mb_per_call" -> jobs.map(_.inputBytes.sum).sum / 1e6 / calls,
          "spark.shuffle_write_mb_per_call" -> jobs.map(_.shuffleWriteBytes.sum).sum / 1e6 / calls,
          "jvm.gc_ms" -> gcMs.toDouble, "jvm.jit_ms" -> jitMs.toDouble)
        e2e.foreach { case (k, v, _) => System.err.println(f"[graftbench] traced $k=$v%.4f") }
        ctx.calls.groupBy(_.kind).toSeq.sortBy(_._1).foreach { case (k, cs) =>
          val js = cs.flatMap(c => listener.jobsIn(c.startMs, c.endMs))
          System.err.println(f"[graftbench] traced $k%-10s jobs/call=${js.size.toDouble / cs.size}%.1f " +
            f"tasks/call=${js.map(_.tasks.sum).sum.toDouble / cs.size}%.1f " +
            f"input_mb/call=${js.map(_.inputBytes.sum).sum / 1e6 / cs.size}%.2f " +
            f"gap_ms/call=${cs.map(c => listener.gapMs(c.startMs, c.endMs)).sum / cs.size}%.0f")
        }
        val all = common ++ layerStats
        LayerUnits.map { case (k, u) => (k, all.getOrElse(k, 0.0), u) }
      }
    val json = metrics.map { case (k, v, u) => s""""$k": {"value": ${num(v)}, "unit": "$u"}""" }
      .mkString(s"""{"correct": ${ctx.checkFailures.isEmpty}, "attempted": ${ctx.attempted}, """ +
        s""""failed": ${ctx.failed}, "metrics": {""", ", ", "}}")
    Files.write(out, (json + "\n").getBytes("UTF-8"))
    mark("result written")
    spark.stop()
    mark("session stopped")
  }

  private def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "0" else java.math.BigDecimal.valueOf(v).toPlainString

  def treeBytes(f: File): Long =
    if (f.isFile) f.length()
    else Option(f.listFiles()).fold(0L)(_.map(treeBytes).sum)

  /** Files under `f` whose name starts with "part-" (parquet data). */
  def partFiles(f: File): Seq[File] =
    if (f.isFile) (if (f.getName.startsWith("part-")) Seq(f) else Nil)
    else Option(f.listFiles()).fold(Seq.empty[File])(_.toSeq.flatMap(partFiles))
}
