package graft.perfbench

import java.io.{PipedInputStream, PipedOutputStream}
import java.nio.charset.StandardCharsets
import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryListener, StreamingQueryProgress, Trigger}

import graft.api.TrendCollection
import graft.model.{RecentChange, TrendConfig}
import graft.operators.PageAggregates
import graft.sources.EventAdapter
import graft.sources.sse.SseClient
import graft.streaming.TrendStream

/** The trend stream: SSE frames → `SseClient` → the log `graft-sse`
  * tails → `EventAdapter.decodeWire` → `TrendStream.pageStates` → a noop
  * sink, with `TrendCollection.stateSnapshot` boards read beside it.
  */
object TrendBench {

  /** Zero purge and inactivity windows, so a page idle for one 2 s
    * cleaner interval is evicted and live state levels off within the run.
    */
  val Evict2s = TrendConfig(project = "*", minPurgeTimeMins = 0, maxInactivityMins = 0,
    minSpeed = 1.0, cleanerIntervalSec = 2)

  /** The live query's trigger interval. With back-to-back micro-batches
    * (`ProcessingTime(0)`) each batch carries the rows that arrived during
    * the last one, so a slower batch makes the next one slower, and
    * freshness spread 23% across runs on a shared host. A fixed interval
    * longer than a micro-batch, as a deployment would set, breaks that
    * loop: freshness is then about half the interval plus one batch.
    */
  val TriggerMs = 1000L
  /** Set-ups per run; `setup_s` is their median. */
  val Setups = 3
  /** Load offered by each set-up before the last. */
  val ShortLoadS = 1.0
  /** Load the last set-up offers before the board reader starts. */
  val WarmS = 3.0
  /** Untimed run-in with the board reader on. A new query's freshness
    * falls fastest over its first 15–20 s (measured on 4 cores), and
    * slowly for up to a minute after, longer than a run can wait.
    */
  val SettleS = 10.0
  val LeadS: Double = WarmS + SettleS
  /** Board reads are due once a second (open loop): a closed-loop reader
    * kept a core busy and made freshness follow the host's spare CPU.
    */
  val BoardPeriodNs = 1000000000L
  /** The backlog holds this many seconds of the feed; it is drained
    * `Drains` times and `backfill_events_per_s` is the median.
    */
  val BacklogS = 30.0
  val Drains = 3
  val BackfillCfg = TrendConfig(project = "*")

  final class ProgressLog extends StreamingQueryListener {
    val all = new ConcurrentLinkedQueue[StreamingQueryProgress]()
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = all.add(e.progress)
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
    def batches: Seq[Batch] = all.asScala.toSeq.map(Batch.of).sortBy(_.id)
  }

  /** One committed micro-batch: its log line range [start, end), rows, and
    * commit time (trigger start + trigger duration, wall ms).
    */
  final case class Batch(id: Long, start: Long, end: Long, rows: Long, commitMs: Long,
      p: StreamingQueryProgress) {
    def dur(k: String): Double = Option(p.durationMs.get(k)).map(_.doubleValue).getOrElse(0.0)
  }
  object Batch {
    private def off(j: String): Long = if (j == null || j == "null") 0L else j.trim.toLong
    def of(p: StreamingQueryProgress): Batch = {
      val s = p.sources.head
      Batch(p.batchId, off(s.startOffset), off(s.endOffset), p.numInputRows,
        java.time.Instant.parse(p.timestamp).toEpochMilli +
          Option(p.durationMs.get("triggerExecution")).map(_.longValue).getOrElse(0L), p)
    }
  }

  def events(spark: SparkSession, raw: org.apache.spark.sql.DataFrame): Dataset[RecentChange] = {
    import spark.implicits._
    EventAdapter.decodeWire(raw).as[RecentChange]
  }

  private def start(spark: SparkSession, log: String, ck: String, cfg: TrendConfig,
      evict: Boolean, trigger: Trigger): StreamingQuery =
    TrendStream.pageStates(
        events(spark, spark.readStream.format("graft-sse").option("path", log).load()),
        cfg, evict = evict)
      .writeStream.format("noop").outputMode("update")
      .option("checkpointLocation", ck).trigger(trigger).start()

  def lineCount(path: String): Long = {
    val f = new java.io.File(path)
    if (!f.exists()) 0L
    else {
      val in = new java.io.FileInputStream(f)
      try {
        val buf = new Array[Byte](1 << 16); var c = 0L; var n = in.read(buf)
        while (n > 0) { var i = 0; while (i < n) { if (buf(i) == '\n') c += 1; i += 1 }; n = in.read(buf) }
        c
      } finally in.close()
    }
  }

  // ---- backfill path ----------------------------------------------------------

  /** Offsets and rows of each micro-batch, in batch order. */
  private def ranges(bs: Seq[Batch]): Seq[(Long, Long, Long)] = bs.map(b => (b.start, b.end, b.rows))

  /** Drain the whole log on a fresh checkpoint; returns (seconds, batches). */
  private def drain(spark: SparkSession, log: String, ck: String, lines: Long)
      : (Double, Seq[Batch]) = {
    val plog = new ProgressLog
    spark.streams.addListener(plog)
    val t0 = System.nanoTime()
    val q = start(spark, log, ck, BackfillCfg, evict = false, Trigger.AvailableNow())
    try {
      require(q.awaitTermination(120000), s"backfill drain of $log did not finish in 120 s")
      q.exception.foreach(e => throw e)
    } finally { q.stop(); spark.streams.removeListener(plog) }
    val secs = (System.nanoTime() - t0) / 1e9
    val bs = plog.batches
    Checks.exactlyOnceMismatch(ranges(bs), lines, lines)
      .foreach(m => throw new IllegalStateException(s"backfill drain: $m"))
    (secs, bs)
  }

  /** The backfill path: a backlog of `BacklogS` seconds of the feed at
    * `rate`, appended by `SseClient` at once, drained `Drains` times with
    * `evict=false` and `AvailableNow`, each on a fresh checkpoint; the last drain's state is checked against the
    * batch aggregation of the same log. A traced run adds standalone
    * `decodeWire` and `classify` over the log. Returns the median drain
    * rate, the per-layer metrics and the first failed check.
    */
  private def backfill(ctx: Main.Ctx, rate: Int)
      : (Double, Seq[(String, Double, String)], Option[String]) = {
    val log = s"${ctx.dir("backlog")}/events.log"
    val n = (BacklogS * rate).round
    val gen = new Gen.TrendEvents(ctx.args.seed)
    val sb = new StringBuilder
    (0L until n).foreach(i => sb ++= Gen.sseFrame(i, gen.next()))
    val bytes = sb.toString.getBytes(StandardCharsets.UTF_8)
    val appended = new SseClient(_ => new java.io.ByteArrayInputStream(bytes), log).run(maxConnects = 1)
    require(appended == n, s"SseClient appended $appended of $n backlog events")
    val spark = ctx.spark
    val lines = lineCount(log)
    val runs = (1 to Drains).map(k => drain(spark, log, ctx.dir(s"backfill-$k"), lines))
    val drainRate = Stats.median(runs.map(r => lines / r._1))
    Main.note(s"backfill drains of $lines events: " +
      runs.map(r => f"${r._1}%.2f s").mkString(", "))
    val stream = Checks.summarize(
      TrendCollection.stateSnapshot(spark, ctx.dir(s"backfill-$Drains")).collect())
    val batch = Checks.summarize(PageAggregates.pageAggregates(
      events(spark, spark.read.format("graft-sse").option("path", log).load()).toDF(),
      BackfillCfg).collect())
    val st = runs.last._2.filter(_.rows > 0).last.p.stateOperators.head
    (drainRate, Seq(
      ("backfill.events_per_s", drainRate, "1/s"),
      ("backfill.state_rows_total", st.numRowsTotal.toDouble, "count"),
      ("backfill.state_update_ms", st.allUpdatesTimeMs.toDouble, "ms"),
      ("backfill.state_commit_ms", st.commitTimeMs.toDouble, "ms")) ++
      (if (ctx.args.trace) decodeAndClassify(ctx, log, lines) else Nil),
      Checks.stateMismatch(stream, batch).map(m => s"backfill state vs batch: $m"))
  }

  /** Standalone timed `decodeWire` and `TrendStream.classify` over the log. */
  private def decodeAndClassify(ctx: Main.Ctx, log: String, lines: Long)
      : Seq[(String, Double, String)] = {
    val spark = ctx.spark
    import spark.implicits._
    def timed(body: => Unit): Double = { val t0 = System.nanoTime(); body; (System.nanoTime() - t0) / 1e9 }
    val raw = spark.read.format("graft-sse").option("path", log).load()
    timed(EventAdapter.decodeWire(raw).write.format("noop").mode("overwrite").save())
    val decodeS = timed(EventAdapter.decodeWire(raw).write.format("noop").mode("overwrite").save())
    val decoded = EventAdapter.decodeWire(raw).as[RecentChange].cache()
    decoded.count()
    timed(TrendStream.classify(decoded, BackfillCfg).write.format("noop").mode("overwrite").save())
    val classifyS = timed(TrendStream.classify(decoded, BackfillCfg).write.format("noop").mode("overwrite").save())
    decoded.unpersist()
    Seq(("decode.events_per_s", lines / decodeS, "1/s"),
      ("classify.events_per_s", lines / classifyS, "1/s"))
  }

  // ---- trend_live -----------------------------------------------------------

  /** Open-loop generator thread: frame i is due at t0 + i / rate. It
    * writes into the pipe the `SseClient` reads and records how late it
    * ran in each phase (run-in, then each timed window).
    */
  final class LiveGen(seed: Long, rate: Int, total: Long, windows: Seq[Main.Window], val t0Ns: Long,
      val wall0Ms: Long, out: PipedOutputStream) extends Thread("perfbench-generator") {
    setDaemon(true)
    val lateNs: Array[Long] = Array.fill(windows.length + 1)(0L)
    @volatile var error: Option[Throwable] = None
    private val periodNs = 1e9 / rate
    private def phase(i: Long): Int = {
      val s = i / rate.toDouble - LeadS
      if (s < 0) 0
      else 1 + Some(windows.indexWhere(s < _.toS)).filter(_ >= 0).getOrElse(windows.length - 1)
    }
    override def run(): Unit = try {
      val gen = new Gen.TrendEvents(seed)
      var i = 0L
      while (i < total) {
        val due = t0Ns + (i * periodNs).toLong
        val now = System.nanoTime()
        if (due > now) java.util.concurrent.locks.LockSupport.parkNanos(due - now)
        out.write(Gen.sseFrame(i, gen.next()).getBytes(StandardCharsets.UTF_8))
        out.flush()
        val late = System.nanoTime() - due
        val ph = phase(i)
        if (late > lateNs(ph)) lateNs(ph) = late
        i += 1
      }
    } catch { case t: Throwable => error = Some(t) }
    finally out.close()
  }

  /** One live window's board reads (each timed from when it was due) and,
    * in a traced window, Spark's counter totals and driver gap.
    */
  final case class Boards(latMs: Seq[Double], snapMs: Seq[Double], topkMs: Seq[Double],
      failures: Long, logLines0: Long, logLines1: Long, secs: Double,
      spark: Option[(SparkCounters.Snap, Double)])

  /** One live set-up: start a session, start the query on a fresh log and
    * checkpoint, offer `totalS` seconds of load (with the board reader
    * beside it if `boards`), and wait for every event to commit.
    */
  final case class LiveRun(setupS: Double, log: String, plog: ProgressLog, gen: LiveGen,
      boards: Seq[Boards], heapMb: Double, check: Option[String])

  private def liveSetup(ctx: Main.Ctx, k: Int, rate: Int, totalS: Double,
      boards: Boolean): LiveRun = {
    val a = ctx.args
    ctx.stopSession()
    val setupStartMs = System.currentTimeMillis()
    val spark = ctx.spark
    val d = ctx.dir(s"live-$k")
    val log = s"$d/events.log"
    val plog = new ProgressLog
    spark.streams.addListener(plog)
    val q = start(spark, log, s"$d/ck", Evict2s, evict = true, Trigger.ProcessingTime(TriggerMs))
    val total = (totalS * rate).round
    val in = new PipedInputStream(1 << 20)
    val out = new PipedOutputStream(in)
    val gen = new LiveGen(a.seed, rate, total, ctx.windows, System.nanoTime() + 20000000L,
      System.currentTimeMillis() + 20, out)
    val boardsF = if (boards) Some(boardReader(ctx, s"$d/ck", log,
      gen.wall0Ms + (WarmS * 1000).toLong, gen.wall0Ms + (LeadS * 1000).toLong)) else None
    gen.start()
    val appended = new SseClient(_ => in, log).run(maxConnects = 1)
    gen.join()
    gen.error.foreach(e => throw e)
    require(appended == total, s"SseClient appended $appended of $total events")
    val reads = boardsF.map(_.get()).getOrElse(Nil)
    // Grace: wait until every appended line is committed (or 20 s).
    val graceEnd = System.nanoTime() + 20000000000L
    def committed = plog.batches.lastOption.map(_.end).getOrElse(0L)
    while (committed < total && System.nanoTime() < graceEnd && q.isActive) Thread.sleep(50)
    q.exception.foreach(e => throw e)
    val heapMb = if (boards) Heap.retainedMb() else 0.0
    q.stop()
    spark.streams.removeListener(plog)
    val check = Checks.exactlyOnceMismatch(ranges(plog.batches), total, lineCount(log))
      .map(m => s"live set-up $k: $m")
    val firstCommit = plog.batches.find(_.rows > 0).map(_.commitMs)
      .getOrElse(throw new IllegalStateException(s"set-up $k committed no rows"))
    Main.note(s"live setup $k: first commit ${firstCommit - setupStartMs} ms after set-up start")
    LiveRun((firstCommit - setupStartMs) / 1000.0, log, plog, gen, reads, heapMb, check)
  }

  /** One live workload at `rate` events/s. `Setups` set-ups are timed up
    * to their first committed micro-batch. The backfill drains run between
    * the short ones and the last, so that they also warm the code the live
    * stream shares with them; the last set-up runs on into the timed
    * windows. A traced run then measures `docProbe` (a document-pipeline
    * layer).
    */
  def live(ctx: Main.Ctx, rate: Int,
      docProbe: Main.Ctx => (Seq[(String, Double, String)], Option[String])): Result = {
    val a = ctx.args
    val wins = ctx.windows
    val tally = new Tally
    val short = (0 until Setups - 1).map(k => liveSetup(ctx, k, rate, ShortLoadS, boards = false))
    val (drainRate, backfillLayers, backfillCheck) = backfill(ctx, rate)
    val run = liveSetup(ctx, Setups - 1, rate, LeadS + wins.last.toS, boards = true)
    val checks = (short :+ run).flatMap(_.check) ++ backfillCheck
    val LiveRun(_, log, plog, gen, boards, heapMb, _) = run
    val batches = plog.batches
    val periodMs = 1000.0 / rate
    def due(i: Long): Double = gen.wall0Ms + i * periodMs
    /** The log lines [lo, hi) of the events due in a window. */
    def lines(w: Main.Window): (Long, Long) =
      (((LeadS + w.fromS) * rate).round, ((LeadS + w.toS) * rate).round)

    /** Per-event freshness (commit − due) for events due in a window. */
    def freshness(w: Main.Window): Seq[Double] = {
      val (lo, hi) = lines(w)
      batches.filter(b => b.end > lo && b.start < hi).flatMap { b =>
        (math.max(b.start, lo) until math.min(b.end, hi)).map(i => b.commitMs - due(i))
      }
    }
    val fresh = wins.map(freshness)
    val committedEnd = batches.lastOption.map(_.end).getOrElse(0L)
    wins.indices.foreach { w =>
      val (lo, hi) = lines(wins(w))
      val done = math.max(0L, math.min(committedEnd, hi) - lo)
      tally.ok(done); tally.fail(hi - lo - done)
      tally.ok(boards(w).latMs.length); tally.fail(boards(w).failures)
    }
    val (docLayers, docCheck) = if (a.trace) docProbe(ctx) else (Nil, None)
    val failedChecks = checks ++ docCheck
    failedChecks.foreach(m => System.err.println(s"[perfbench] check failed: $m"))

    val b0 = boards.head
    wins.indices.foreach { w =>
      val slices = fresh(w).grouped(rate * 2).map(x => f"${Stats.median(x)}%.0f").mkString(" ")
      Main.note(s"window $w freshness p50 per 2 s: $slices")
    }
    System.err.println(f"[perfbench] freshness p50 ${Stats.median(fresh.head)}%.1f ms " +
      f"p99 ${Stats.supported(fresh.head, 99, "freshness")}%.1f ms (n=${fresh.head.length}); " +
      f"board reads ${b0.latMs.length}, p50 ${Stats.median(b0.latMs)}%.1f ms; " +
      f"backfill ${drainRate}%.0f events/s; generator late max ${gen.lateNs(1) / 1e6}%.1f ms")
    ctx.result(failedChecks.isEmpty, tally,
      e2e = Seq(
        ("setup_s", Stats.median((short :+ run).map(_.setupS)), "s"),
        ("heap_retained_mb", heapMb, "MB"),
        ("backfill_events_per_s", drainRate, "1/s"),
        ("latency_p50_ms", Stats.median(fresh.head), "ms")),
      layers = {
        val w = wins.indexWhere(_.traced)
        val lo = gen.wall0Ms + ((LeadS + wins(w).fromS) * 1000).toLong
        val hi = gen.wall0Ms + ((LeadS + wins(w).toS) * 1000).toLong
        val inWin = batches.filter(b => b.commitMs >= lo && b.commitMs < hi)
        val data = inWin.filter(_.rows > 0)
        def p50(xs: Seq[Double]) = if (xs.isEmpty) 0.0 else Stats.median(xs)
        val st = inWin.map(_.p.stateOperators.head)
        val bw = boards(w)
        bw.spark.map { case (d, gap) => ctx.counters.get.metrics(d, gap, inWin.length) }
          .getOrElse(Nil) ++ Seq(
          ("stream.freshness_p50_ms", Stats.median(fresh(w)), "ms"),
          ("stream.freshness_p99_ms", Stats.percentile(fresh(w), 99), "ms"),
          ("board.read_ms_p50", p50(bw.latMs), "ms"),
          ("board.read_ms_p90", if (bw.latMs.isEmpty) 0.0 else Stats.percentile(bw.latMs, 90), "ms"),
          ("board.snapshot_ms_p50", p50(bw.snapMs), "ms"),
          ("board.topk_ms_p50", p50(bw.topkMs), "ms"),
          ("sse.append_events_per_s", (bw.logLines1 - bw.logLines0) / bw.secs, "1/s"),
          ("sse.log_lag_events", p50(data.map(b => (b.commitMs - gen.wall0Ms) / periodMs - b.end)), "count"),
          ("sse.latest_offset_ms", p50(inWin.map(_.dur("latestOffset"))), "ms"),
          ("gen.late_ms_max", gen.lateNs(1 + w) / 1e6, "ms"),
          ("mb.batches", inWin.length.toDouble, "count"),
          ("mb.rows_per_batch_p50", p50(data.map(_.rows.toDouble)), "count"),
          ("mb.planning_ms_p50", p50(data.map(_.dur("queryPlanning"))), "ms"),
          ("mb.add_batch_ms_p50", p50(data.map(_.dur("addBatch"))), "ms"),
          ("mb.wal_commit_ms_p50", p50(data.map(_.dur("walCommit"))), "ms"),
          ("mb.commit_offsets_ms_p50", p50(data.map(_.dur("commitOffsets"))), "ms"),
          ("state.rows_total", st.lastOption.map(_.numRowsTotal.toDouble).getOrElse(0.0), "count"),
          ("state.memory_bytes", st.lastOption.map(_.memoryUsedBytes.toDouble).getOrElse(0.0), "bytes"),
          ("state.rows_removed", st.map(_.numRowsRemoved.toDouble).sum, "count"),
          ("state.update_ms", p50(data.map(_.p.stateOperators.head.allUpdatesTimeMs.toDouble)), "ms"),
          ("state.commit_ms", p50(data.map(_.p.stateOperators.head.commitTimeMs.toDouble)), "ms"),
          ("state.rows_growth", st.last.numRowsTotal.toDouble / st.head.numRowsTotal, "ratio")) ++
          backfillLayers ++ docLayers
      },
      overheadFrac = {
        val (t, u) = wins.indices.partition(wins(_).traced)
        Stats.median(t.flatMap(fresh)) / Stats.median(u.flatMap(fresh)) - 1.0
      })
  }

  /** The board reader thread: `stateSnapshot` + `topK` reads due every
    * `BoardPeriodNs` from `readFromMs` on (a late read starts at once),
    * recorded per window from `startMs`; the traced window also collects
    * Spark counters.
    */
  private def boardReader(ctx: Main.Ctx, ck: String, log: String, readFromMs: Long,
      startMs: Long): java.util.concurrent.FutureTask[Seq[Boards]] = {
    val task = new java.util.concurrent.FutureTask[Seq[Boards]](() => {
      val spark = ctx.spark
      var dueNs = System.nanoTime() + (readFromMs - System.currentTimeMillis()) * 1000000L
      /** The next board read: Some(ms since due, snapshot ms, top-k ms), None if it threw. */
      def read(): Option[(Double, Double, Double)] = {
        val wait = dueNs - System.nanoTime()
        if (wait > 0) java.util.concurrent.locks.LockSupport.parkNanos(wait)
        val due = dueNs
        dueNs += BoardPeriodNs
        val s0 = System.nanoTime()
        try {
          val snap = TrendCollection.stateSnapshot(spark, ck)
          val s1 = System.nanoTime()
          PageAggregates.topK(snap, "edits", 10).collect()
          val s2 = System.nanoTime()
          Some(((s2 - due) / 1e6, (s1 - s0) / 1e6, (s2 - s1) / 1e6))
        } catch {
          case scala.util.control.NonFatal(e) =>
            System.err.println(s"[perfbench] board read failed: $e"); None
        }
      }
      while (System.currentTimeMillis() < startMs) read() // run-in, not recorded
      ctx.windows.map { w =>
        val lo = startMs + (w.fromS * 1000).toLong; val hi = startMs + (w.toS * 1000).toLong
        val traced = w.traced
        ctx.tracing(traced)
        val snap0 = ctx.counters.map(_.snapshot)
        val l0 = lineCount(log); val t0 = System.nanoTime()
        val reads = Iterator.continually(read())
          .takeWhile(_ => System.currentTimeMillis() < hi).toSeq
        val ok = reads.flatten
        val l1 = lineCount(log); val secs = (System.nanoTime() - t0) / 1e9
        val sparkTotals = for (c <- ctx.counters if traced; s0 <- snap0)
          yield (c.snapshot - s0, c.driverGapMs(lo, hi))
        ctx.tracing(false)
        Boards(ok.map(_._1), ok.map(_._2), ok.map(_._3),
          reads.count(_.isEmpty).toLong, l0, l1, secs, sparkTotals)
      }
    })
    val t = new Thread(task, "perfbench-board-reader")
    t.setDaemon(true); t.start()
    task
  }
}
