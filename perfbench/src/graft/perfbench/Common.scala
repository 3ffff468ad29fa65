package graft.perfbench

import java.lang.management.ManagementFactory
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerTaskEnd}

/** Order statistics used for every reported timing. */
object Stats {

  /** Nearest-rank percentile (p in (0, 100]) of a non-empty sample. */
  def percentile(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty, "percentile of an empty sample")
    require(p > 0.0 && p <= 100.0, s"percentile $p outside (0, 100]")
    val s = xs.sorted
    s(math.max(0, math.ceil(p / 100.0 * s.length).toInt - 1))
  }

  def median(xs: Seq[Double]): Double = percentile(xs, 50.0)

  /** Samples strictly beyond the nearest-rank p-th percentile. */
  def beyond(n: Int, p: Double): Int =
    n - math.max(1, math.ceil(p / 100.0 * n).toInt)

  /** The highest percentile of `ladder` with at least `minBeyond` samples
    * beyond it, or None when even the lowest has too few.
    */
  def highestSupported(n: Int, ladder: Seq[Double] = Seq(50.0, 90.0, 99.0, 99.9),
      minBeyond: Int = 10): Option[Double] =
    ladder.sorted.reverse.find(p => beyond(n, p) >= minBeyond)

  /** A percentile that the sample must support; a run that cannot
    * support it fails instead of reporting a tail made of one sample.
    */
  def supported(xs: Seq[Double], p: Double, what: String): Double = {
    require(beyond(xs.length, p) >= 10,
      s"$what: ${xs.length} samples leave ${beyond(xs.length, p)} beyond " +
        s"p$p (need 10) — the run is too short for this percentile")
    percentile(xs, p)
  }
}

/** Failure accounting: attempted operations and the ones that failed. */
final class Tally {
  private val att = new AtomicLong
  private val bad = new AtomicLong
  def ok(n: Long = 1L): Unit = att.addAndGet(n)
  def fail(n: Long = 1L): Unit = { att.addAndGet(n); bad.addAndGet(n) }
  def attempted: Long = att.get
  def failed: Long = bad.get
}

/** One benchmark result: the output-check verdict, the failure tally and
  * the metrics (name -> value, unit) in print order.
  */
final case class Result(correct: Boolean, attempted: Long, failed: Long,
    metrics: Seq[(String, Double, String)]) {
  def json: String = {
    def num(v: Double): String =
      if (v.isNaN || v.isInfinite) throw new IllegalStateException(s"metric value $v")
      else java.math.BigDecimal.valueOf(v).toPlainString
    val ms = metrics.map { case (n, v, u) =>
      s""""$n": {"value": ${num(v)}, "unit": "$u"}""" }
    s"""{"correct": $correct, "attempted": $attempted, "failed": $failed, """ +
      s""""metrics": {${ms.mkString(", ")}}}"""
  }
}

/** Spans recorded by the benchmark around its calls into the document
  * layers: each call's name and duration, kept in memory and read when
  * the run ends. Nothing is recorded while tracing is off.
  */
object Trace {
  @volatile var on = false
  private val spans = new ConcurrentLinkedQueue[(String, Double)]()

  def span[T](name: String)(body: => T): T =
    if (!on) body
    else {
      val t0 = System.nanoTime()
      try body finally spans.add((name, (System.nanoTime() - t0) / 1e6))
    }

  def p50ms(name: String): Double = {
    val x = spans.asScala.collect { case (`name`, ms) => ms }.toSeq
    if (x.isEmpty) 0.0 else Stats.median(x)
  }
}

/** Spark's own counters through a public listener: jobs and their spans,
  * tasks, executor CPU, GC, shuffle, input, output and spill. Registered
  * only by traced runs; `snapshot` differences give a window's totals.
  */
object SparkCounters {
  final case class Snap(jobs: Long, tasks: Long, cpuNs: Long, gcMs: Long,
      shuffleW: Long, shuffleR: Long, input: Long, output: Long, spill: Long) {
    def -(o: Snap): Snap = Snap(jobs - o.jobs, tasks - o.tasks, cpuNs - o.cpuNs,
      gcMs - o.gcMs, shuffleW - o.shuffleW, shuffleR - o.shuffleR,
      input - o.input, output - o.output, spill - o.spill)
  }
}

final class SparkCounters extends SparkListener {
  import SparkCounters.Snap
  private val jobs, tasks, cpuNs, gcMs, shW, shR, in, out, spill = new AtomicLong
  private val starts = new java.util.concurrent.ConcurrentHashMap[Int, Long]()
  private val jobSpans = new ConcurrentLinkedQueue[(Long, Long)]()

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    jobs.incrementAndGet(); starts.put(e.jobId, e.time)
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(starts.remove(e.jobId)).foreach(s => jobSpans.add((s, e.time)))
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    tasks.incrementAndGet()
    val m = e.taskMetrics
    if (m != null) {
      cpuNs.addAndGet(m.executorCpuTime); gcMs.addAndGet(m.jvmGCTime)
      shW.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      shR.addAndGet(m.shuffleReadMetrics.totalBytesRead)
      in.addAndGet(m.inputMetrics.bytesRead)
      out.addAndGet(m.outputMetrics.bytesWritten)
      spill.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
    }
  }

  def snapshot: Snap = Snap(jobs.get, tasks.get, cpuNs.get, gcMs.get,
    shW.get, shR.get, in.get, out.get, spill.get)

  /** Wall ms in [fromMs, toMs) covered by no job: the driver's own time. */
  def driverGapMs(fromMs: Long, toMs: Long): Double = {
    val iv = jobSpans.asScala.toSeq
      .map { case (s, e) => (math.max(s, fromMs), math.min(e, toMs)) }
      .filter { case (s, e) => e > s }.sortBy(_._1)
    var covered = 0L; var curS = -1L; var curE = -1L
    iv.foreach { case (s, e) =>
      if (s > curE) { if (curE > curS) covered += curE - curS; curS = s; curE = e }
      else curE = math.max(curE, e)
    }
    if (curE > curS) covered += curE - curS
    (toMs - fromMs - covered).toDouble
  }

  /** The spark.* per-layer metrics over a window of `units` operations. */
  def metrics(d: Snap, gapMs: Double, units: Long): Seq[(String, Double, String)] = Seq(
    ("spark.jobs", d.jobs.toDouble, "count"),
    ("spark.jobs_per_batch", if (units > 0) d.jobs.toDouble / units else 0.0, "count"),
    ("spark.tasks", d.tasks.toDouble, "count"),
    ("spark.executor_cpu_s", d.cpuNs / 1e9, "s"),
    ("spark.gc_s", d.gcMs / 1e3, "s"),
    ("spark.shuffle_write_bytes", d.shuffleW.toDouble, "bytes"),
    ("spark.shuffle_read_bytes", d.shuffleR.toDouble, "bytes"),
    ("spark.input_bytes", d.input.toDouble, "bytes"),
    ("spark.spill_bytes", d.spill.toDouble, "bytes"),
    ("spark.driver_gap_s", gapMs / 1e3, "s"))
}

/** Heap still in use after a full collection: what the workload retains
  * (state stores, caches, indexes), without the garbage whose amount
  * depends on when the collector happened to run.
  */
object Heap {
  def retainedMb(): Double = {
    // The second collection picks up what Spark's ContextCleaner released
    // after the first one cleared its weak references.
    System.gc(); Thread.sleep(300); System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / (1024.0 * 1024.0)
  }
}
