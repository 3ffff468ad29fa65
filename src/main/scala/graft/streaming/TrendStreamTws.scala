package graft.streaming

import org.apache.spark.sql.{Dataset, Encoders, SparkSession}
import org.apache.spark.sql.streaming.{ExpiredTimerInfo, OutputMode,
  StatefulProcessor, TTLConfig, TimeMode, TimerValues, ValueState}

import graft.model.{PageState, RecentChange, TrendConfig}
import graft.streaming.TrendStream.{ClassifiedEvent, TrendCommand}

/** The trend core on Spark 4's `transformWithState` — the successor API to
  * `flatMapGroupsWithState` (SPARK-46815, "arbitrary stateful processing
  * v2"). Same per-key semantics as [[TrendStream]] (both delegate to the
  * pure `TrendStream.applyEvents` / `survives`), different machinery:
  *
  *  - typed `ValueState[PageState]` from the processor handle instead of a
  *    single implicit `GroupState` — the API composes additional state
  *    variables (list/map state) per key without re-encoding the whole
  *    record, which is how a wider engine would add e.g. a per-page
  *    contributors MapState at scale;
  *  - explicit named timers (`registerTimer`/`handleExpiredTimer`) instead
  *    of one timeout slot — the A7 cleaner is a re-armed processing-time
  *    timer, and because timers are enumerable the processor clears stale
  *    ones before re-arming (fgws' setTimeoutDuration replaced implicitly);
  *  - requires the RocksDB state store provider (the HDFS-backed provider
  *    does not implement the v2 state API) — `pageStates` callers must set
  *    `spark.sql.streaming.stateStore.providerClass` to
  *    `...state.RocksDBStateStoreProvider` (see `rocksdbConf`).
  *
  * The fgws path remains the default (it runs on either provider); this
  * twin exists so the engine tracks the API Spark is converging on, and a
  * spec pins tws ≡ fgws ≡ batch on replays.
  */
object TrendStreamTws {

  /** Session conf required by transformWithState. */
  val rocksdbConf: (String, String) =
    "spark.sql.streaming.stateStore.providerClass" ->
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"

  /** Per-key processor: A1-A3/A5/A6 updates on input, A7 eviction policy
    * on timer expiry (the reference cleaner, index.js:362-400).
    */
  final class TrendProcessor(cfg: TrendConfig, armTimers: Boolean)
      extends StatefulProcessor[String, ClassifiedEvent, PageState] {

    @transient private var state: ValueState[PageState] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      state = getHandle.getValueState[PageState]("page",
        Encoders.product[PageState], TTLConfig.NONE)

    private def rearm(tv: TimerValues): Unit = {
      // Timers accumulate across batches (unlike fgws' single timeout
      // slot) — drop any pending cleaner tick before arming the next.
      getHandle.listTimers().foreach(t => getHandle.deleteTimer(t))
      getHandle.registerTimer(
        tv.getCurrentProcessingTimeInMs() + cfg.cleanerIntervalSec * 1000L)
    }

    override def handleInputRows(key: String, rows: Iterator[ClassifiedEvent],
        tv: TimerValues): Iterator[PageState] = {
      val prev = if (state.exists()) Some(state.get()) else None
      val evs = rows.toSeq
      // Data-path eviction clock clamps to the newest event ts — the
      // round-14 backlog rule (TrendStream.updateFn's dataAsOfMs):
      // catching up a multi-hour backlog with raw wall clock would read
      // every replayed page's event-time stamps as ancient and
      // mass-evict live pages mid-catch-up. The TIMER path stays pure
      // processing time by design, like the fgws twin.
      // maxOption: the tws engine contract invokes the data path only
      // with rows, but an engine-version shift there must degrade to
      // wall clock, not kill the query on an empty-iterator max.
      val dataAsOfMs = evs.iterator.map(_.ts.getTime).maxOption
        .fold(tv.getCurrentProcessingTimeInMs())(
          math.min(tv.getCurrentProcessingTimeInMs(), _))
      TrendStream.applyEvents(prev, evs) match {
        // Data path applies the cleaner policy too when the cleaner is on
        // (same rationale as TrendStream.updateFn): a continuously-active
        // page never leaves its timer idle, and must still age out at
        // maxLifespan. Gated on armTimers — processing-time checks only
        // mean something on a live stream.
        case Some(next) if !armTimers ||
            TrendStream.survives(next, dataAsOfMs, cfg) =>
          state.update(next)
          if (armTimers) rearm(tv)
          Iterator.single(next)
        case Some(_) =>
          if (state.exists()) state.clear()
          // Timer ops THROW under TimeMode.None (evict=false replays) —
          // Spark's verifyTimerOperations rejects them — so cleanup is
          // gated exactly like arming.
          if (armTimers)
            getHandle.listTimers().foreach(t => getHandle.deleteTimer(t))
          Iterator.empty
        case None =>
          // Dropped/deleted — or a log-only group on an absent page, which
          // must NOT materialize a zero-edit PageState.
          if (state.exists()) state.clear()
          if (armTimers)
            getHandle.listTimers().foreach(t => getHandle.deleteTimer(t))
          Iterator.empty
      }
    }

    override def handleExpiredTimer(key: String, tv: TimerValues,
        info: ExpiredTimerInfo): Iterator[PageState] = {
      // Cleaner tick: re-evaluate the FULL policy (rate + idleness +
      // lifespan, SURVEY §7.4 item 6); survivors re-arm.
      if (state.exists()) {
        if (TrendStream.survives(state.get(),
            tv.getCurrentProcessingTimeInMs(), cfg)) rearm(tv)
        else state.clear()
      }
      Iterator.empty
    }
  }

  /** classify → keyed transformWithState; Update-mode refreshed PageState
    * rows per micro-batch (the tws twin of `TrendStream.pageStates`).
    */
  def pageStates(events: Dataset[RecentChange],
      cfg: TrendConfig = TrendConfig(),
      evict: Boolean = true,
      commands: Option[Dataset[TrendCommand]] = None): Dataset[PageState] = {
    LocalCheckpointFileManager.install(events.sparkSession)
    val classified = commands.foldLeft(TrendStream.classify(events, cfg))(
      (evs, cmds) => evs.unionByName(TrendStream.commandEvents(cmds)))
    val timeMode = if (evict) TimeMode.ProcessingTime() else TimeMode.None()
    implicit val pageStateEncoder: org.apache.spark.sql.Encoder[PageState] =
      Encoders.product[PageState]
    classified
      .groupByKey(_.id)(Encoders.STRING)
      .transformWithState(new TrendProcessor(cfg, evict), timeMode,
        OutputMode.Update())
  }

  /** Finite replay to a memory-sink snapshot (tws twin of
    * `TrendStream.replayToSnapshot`; same NoTimer + AvailableNow shape so
    * the drain terminates).
    */
  def replayToSnapshot(spark: SparkSession, events: Seq[RecentChange],
      cfg: TrendConfig = TrendConfig(), queryName: String = "trend_tws_replay",
      commands: Seq[TrendCommand] = Nil): Seq[PageState] = {
    import spark.implicits._
    spark.conf.set(rocksdbConf._1, rocksdbConf._2)
    val ms = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[RecentChange](spark)
    ms.addData(events)
    val cmdOpt =
      if (commands.isEmpty) None
      else {
        val cs = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[TrendCommand](spark)
        cs.addData(commands)
        Some(cs.toDS())
      }
    val q = pageStates(ms.toDS(), cfg, evict = false, commands = cmdOpt)
      .writeStream
      .format("memory").queryName(queryName).outputMode("update")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    // A stalled drain must FAIL, not silently return a partial snapshot
    // (same contract as TrendStream.replayToSnapshot — the fix must not
    // exist on only one twin).
    try {
      if (!q.awaitTermination(120000))
        throw new IllegalStateException(
          s"tws replay drain did not finish within 120s ($queryName)")
    } finally q.stop()
    spark.table(queryName).as[PageState].collect()
      .groupBy(_.id).map { case (_, rows) => rows.last }.toSeq
  }
}
