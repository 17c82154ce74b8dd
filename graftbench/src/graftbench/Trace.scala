package graftbench

import java.lang.management.ManagementFactory
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.LongAdder
import org.apache.spark.scheduler._
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

/** Spans recorded by the benchmark around its calls into each graft
  * module, plus counters bumped from inside Spark tasks (local mode runs
  * them in this JVM). Everything is a no-op unless `enabled`; the
  * untraced run measures the end-to-end metrics, the traced one the
  * per-layer split. */
object Trace {
  @volatile var enabled = false

  final class Acc {
    val nanos = new LongAdder
    val samplesMs = ArrayBuffer.empty[Double] // driver-thread spans only
  }
  private val accs = new ConcurrentHashMap[String, Acc]()
  private def acc(name: String): Acc = accs.computeIfAbsent(name, _ => new Acc)

  /** Time `f` as one sample of `name` (driver thread). */
  def span[T](name: String)(f: => T): T =
    if (!enabled) f
    else {
      val t0 = System.nanoTime()
      try f
      finally {
        val dt = System.nanoTime() - t0
        val a = acc(name)
        a.nanos.add(dt)
        a.samplesMs.synchronized { a.samplesMs += dt / 1e6 }
      }
    }

  /** Add to a counter (any thread). */
  def add(name: String, nanosOrUnits: Long): Unit =
    if (enabled) acc(name).nanos.add(nanosOrUnits)

  def totalSeconds(name: String): Double = Option(accs.get(name)).fold(0.0)(_.nanos.sum / 1e9)
  def total(name: String): Long = Option(accs.get(name)).fold(0L)(_.nanos.sum)
  def medianMs(name: String): Double =
    Option(accs.get(name)).fold(0.0)(a => Stats.quantile(a.samplesMs.toSeq, 0.5))

  def reset(): Unit = accs.clear()
}

/** One closed-loop call of the timed phase. */
final case class Call(kind: String, startMs: Long, endMs: Long, nanos: Long) {
  def ms: Double = nanos / 1e6
}

/** Spark job and task accounting, attributed to calls by wall time. */
final class JobListener extends SparkListener {
  final class Job(val id: Int, val start: Long) {
    @volatile var end: Long = -1
    val tasks = new LongAdder
    val cpuNs = new LongAdder
    val inputBytes = new LongAdder
    val inputRecords = new LongAdder
    val shuffleWriteBytes = new LongAdder
    val outputBytes = new LongAdder
  }
  val jobs = new ConcurrentHashMap[Int, Job]()
  private val stageToJob = new ConcurrentHashMap[Int, Int]()

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    jobs.put(e.jobId, new Job(e.jobId, e.time))
    e.stageIds.foreach(s => stageToJob.put(s, e.jobId))
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobs.get(e.jobId)).foreach(_.end = e.time)
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val j = Option(stageToJob.get(e.stageId)).flatMap(id => Option(jobs.get(id)))
    val m = e.taskMetrics
    j.foreach { job =>
      job.tasks.increment()
      if (m != null) {
        job.cpuNs.add(m.executorCpuTime)
        job.inputBytes.add(m.inputMetrics.bytesRead)
        job.inputRecords.add(m.inputMetrics.recordsRead)
        job.shuffleWriteBytes.add(m.shuffleWriteMetrics.bytesWritten)
        job.outputBytes.add(m.outputMetrics.bytesWritten)
      }
    }
  }

  /** Jobs that started inside [from, to] (epoch ms). */
  def jobsIn(from: Long, to: Long): Seq[Job] =
    jobs.values().asScala.filter(j => j.start >= from && j.start <= to).toSeq

  /** Wall time of [from, to] covered by no job, in ms. */
  def gapMs(from: Long, to: Long): Double = {
    val iv = jobsIn(from, to).map(j => (j.start, if (j.end < 0) to else math.min(j.end, to)))
      .sortBy(_._1)
    var covered = 0L
    var curS = -1L; var curE = -1L
    iv.foreach { case (s, e) =>
      if (curE < s) { if (curE > curS) covered += curE - curS; curS = s; curE = e }
      else curE = math.max(curE, e)
    }
    if (curE > curS) covered += curE - curS
    math.max(0L, (to - from) - covered).toDouble
  }
}

/** JVM-wide counters read at the edges of the timed phase. */
object JvmStats {
  def gcMs: Long = ManagementFactory.getGarbageCollectorMXBeans.asScala
    .map(b => math.max(0L, b.getCollectionTime)).sum
  def jitMs: Long = Option(ManagementFactory.getCompilationMXBean)
    .filter(_.isCompilationTimeMonitoringSupported).fold(0L)(_.getTotalCompilationTime)
  def threadCpuNs: Long = ManagementFactory.getThreadMXBean.getCurrentThreadCpuTime

  /** (steal ticks, load averages) of the host, for reading outliers. */
  def hostSample: (Long, String) = {
    val steal = try {
      val src = scala.io.Source.fromFile("/proc/stat")
      try src.getLines().find(_.startsWith("cpu ")).map(_.trim.split("\\s+")(8).toLong).getOrElse(-1L)
      finally src.close()
    } catch { case _: Throwable => -1L }
    val load = try {
      val src = scala.io.Source.fromFile("/proc/loadavg")
      try src.mkString.trim.split(" ").take(3).mkString(" ") finally src.close()
    } catch { case _: Throwable => "?" }
    (steal, load)
  }
}

object Stats {
  /** Linear-interpolated quantile (numpy's default). */
  def quantile(xs: Seq[Double], q: Double): Double = {
    if (xs.isEmpty) return 0.0
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = pos.toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }
}
