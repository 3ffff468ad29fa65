package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

import graft.model.{PageState, RecentChange, TrendConfig}

/** Streaming form of the engine core (reference: the whole of
  * `WikiSocketCollection`, index.js:102-401): a typed
  * `flatMapGroupsWithState` over events keyed by page id, with the
  * reference's update rules (A1-A3, index.js:174-273), same-key log ops
  * (protect A5 index.js:417-422, delete A6 index.js:328-337) and the
  * cleaner's eviction policy (A7, index.js:362-392) re-expressed as a
  * processing-time timeout.
  *
  * Scale design: state lives in Spark's per-key state store (RocksDB/HDFS
  * backed on a cluster), partitioned by the groupByKey exchange on id —
  * the exact analog of the reference's single-process `titles` hash map,
  * horizontally sharded. Checkpointing replaces the LevelDB write-behind
  * cache (S2/S3): exactly-once instead of 20-second lossy snapshots.
  *
  * Rename (A4, cross-key state migration) is NOT handled by this keyed
  * operator — `flatMapGroupsWithState` cannot move state between keys
  * (SURVEY §7.4 item 1), so move log events fall into the ignored branch
  * and a renamed page's accumulated state stays under its old id until
  * eviction while post-move edits open a fresh state at the new id. A
  * deployment that needs exact A4 semantics uses [[IncrementalTrend]]
  * (cross-key migration via its per-batch rename join) or the batch
  * pipeline (full chain resolution in PageAggregates.canonicalizeRenames);
  * this operator trades rename fidelity for the pure keyed-state shape.
  */
object TrendStream {

  /** Classification results the update function needs, precomputed as
    * columns (so the hot path stays codegen'd) and carried per event.
    */
  final case class ClassifiedEvent(
      id: String, title: String, wiki: String, user: String,
      isBot: Boolean, isRevert: Boolean, isAnon: Boolean,
      isNew: Boolean, notab: Long, volat: Long, delta: Long,
      logAction: String, // null | 'protect' | 'delete' | 'cmd:…' (move pre-resolved)
      ts: Timestamp)

  /** Q4 control command — the reference's external API calls (`markSafe`
    * index.js:409-411, `drop` index.js:427-430) as a typed stream. Unioned
    * with the edit stream, a command reaches the SAME keyed state the edits
    * live in — the streaming equivalent of the batch driver-side sets.
    * `action`: "drop" | "markSafe" | "unmarkSafe".
    */
  final case class TrendCommand(
      action: String, wiki: String, title: String, ts: Timestamp)

  /** Pure per-key update logic — the reference's `updateFromRCStream`
    * (index.js:174-273) plus protect/delete dispatch (index.js:320-337) and
    * the external control commands (drop index.js:427-430, markSafe
    * index.js:409-411). Order-sensitivity: events are applied in `ts` order
    * within the batch (the reference applies them in arrival order).
    *
    * Only `logAction == null` events are edits: the reference never routes
    * log events into updateFromRCStream (moves go to renamePage, the rest
    * are ignored — index.js:320-337), so an unhandled log action
    * ('move', 'block', 'patrol', ...) must not inflate edit counters.
    * Protect/markSafe flag EXISTING pages only (reference protectPage
    * operates on a page already in the collection); a log-only group never
    * creates state.
    */
  def applyEvents(initial: Option[PageState],
      events: Seq[ClassifiedEvent]): Option[PageState] = {
    var s: Option[PageState] = initial
    // Deterministic TOTAL order, not just ts: the group iterator arrives
    // in shuffle order and a stable sort preserves it, so a same-second
    // edit/delete interleaving (or the contributors list's append order)
    // would differ between runs and checkpoint replays. Within a tick:
    // edits first (they ride pre-op state — the IncrementalTrend phase
    // convention), then delete, protect, commands; then the event's own
    // fields break remaining ties.
    def phase(a: String): Int = a match {
      case null => 0
      case "delete" => 1
      case "protect" => 2
      case _ => 3 // cmd:* and unknown log actions (no-ops)
    }
    // Null-coalesced strings: the tuple Ordering compares with
    // String.compareTo, and a null title/user (a rev-deleted field the
    // wire can carry) would NPE the whole query the moment earlier
    // fields tie. logAction itself is IN the key — two same-tick phase-3
    // commands (markSafe vs unmarkSafe, drop vs markSafe) share every
    // other field, and omitting it would leave exactly the shuffle-order
    // coin this sort exists to remove.
    def ns(x: String): String = if (x == null) "" else x
    events.sortBy(e => (e.ts.getTime, phase(e.logAction), ns(e.logAction),
      ns(e.user), e.delta, ns(e.title))).foreach { e =>
      e.logAction match {
        case null =>
          // A1-A3: a real edit; creates the page if absent (also the
          // recreate half of A6's drop-then-recreate).
          val base = s.getOrElse(PageState.empty(e.id, e.title, e.wiki, e.ts))
          val afterCounts =
            if (e.isRevert)
              base.copy(reverts = base.reverts + 1,
                bytesChanged = base.bytesChanged + e.delta)
            else if (!e.isBot)
              base.copy(edits = base.edits + 1,
                bytesChanged = base.bytesChanged + e.delta)
            else base
          var n = afterCounts.copy(
            isNew = base.isNew || e.isNew,
            notabilityFlags = base.notabilityFlags + e.notab,
            volatileFlags = base.volatileFlags + e.volat,
            // MONOTONE stamps across micro-batches: within one
            // invocation the ts sort already orders events, but a
            // late-delivered older edit arriving in a LATER batch must
            // not regress the idle clock (batch pageAggregates is
            // max(ts)/min(ts) and IncrementalTrend merges
            // greatest/least — a regressed `updated` here split
            // stream ≡ batch and could evict a live page at the next
            // survives() check). Timestamp.before/after compare
            // through nanos, matching the µs-exact policy arithmetic.
            updated = if (e.ts.after(base.updated)) e.ts else base.updated,
            start = if (e.ts.before(base.start)) e.ts else base.start)
          if (!e.isBot && !e.isRevert) {
            val dist = n.distribution.updated(e.user, n.distribution.getOrElse(e.user, 0L) + 1L)
            n =
              if (e.isAnon)
                n.copy(anonEdits = n.anonEdits + 1,
                  anons = if (n.anons.contains(e.user)) n.anons else n.anons :+ e.user,
                  distribution = dist)
              else
                n.copy(
                  contributors =
                    if (n.contributors.contains(e.user)) n.contributors
                    else n.contributors :+ e.user,
                  distribution = dist)
          }
          s = Some(n)
        case "delete" | "cmd:drop" =>
          // A6 / Q4 drop: remove state; a later edit recreates fresh.
          s = None
        case "protect" =>
          // A5 (index.js:417-422): the reference sets ONLY isProtected —
          // no `updated` stamp, so a protect must NOT reset the idle
          // clock (stamping it deferred eviction the reference and the
          // IncrementalTrend twin would perform on schedule). NOTE
          // known-faithful-bug: the reference builds the id as
          // wiki+'/'+title unconditionally there, so the flag never
          // lands for enwiki (bare-title keys). We replicate the
          // *intended* same-key semantics; the quirk is documented.
          s = s.map(_.copy(isProtected = true))
        case "cmd:markSafe" =>
          // Q4 markSafe (index.js:409-411): exempt from speed/idle eviction.
          s = s.map(_.copy(safe = true))
        case "cmd:unmarkSafe" =>
          // The reference API's revoke half (markSafe(id, unsafe=true),
          // index.js:407-411) — without it the streaming control surface
          // could set the exemption but never lift it, diverging from
          // the batch TrendCollection.markSafe(id, unsafe = true).
          s = s.map(_.copy(safe = false))
        case _ =>
          // Unhandled log action (move/block/patrol/...) — ignored; moves
          // are resolved upstream of the keyed operator.
          ()
      }
    }
    s
  }

  /** A7 — the cleaner's keep/drop decision (index.js:370-392), identical
    * policy to the batch `survivors` filter. `asOfMs` is the cleaner tick's
    * processing time.
    */
  def survives(s: PageState, asOfMs: Long, cfg: TrendConfig): Boolean = {
    // µs-EXACT stamp arithmetic, matching the Column twin
    // (PageAggregates.age/lastUpdated: cast(timestamp AS double) is
    // epoch-µs / 1e6) — Timestamp.getTime truncates the sub-millisecond
    // component, which on a µs-precision feed (timestamp_micros) nudged
    // idle/age UP by fractions of a ms and could flip a page sitting
    // exactly on a policy boundary between the stream and batch paths
    // (the jaccardOf-BigDecimal class of stream ≡ batch split: a Scala
    // twin must compute what the Column computes).
    def sec(ts: java.sql.Timestamp): Double =
      (Math.floorDiv(ts.getTime, 1000L) * 1000000L +
        ts.getNanos / 1000L) / 1e6
    val asOfSec = (asOfMs * 1000L) / 1e6
    val ageMins = (asOfSec - sec(s.start)) / 60.0
    val idleMins = (asOfSec - sec(s.updated)) / 60.0
    // No-arg editsPerMinute(), as the reference cleaner calls it
    // (index.js:374): edits only — no reverts, no anon double-count.
    val cnt = s.edits
    val speed = if (ageMins < 1.0 || cnt == 0L) cnt.toDouble else cnt / ageMins
    ageMins <= cfg.minPurgeTimeMins ||
      (ageMins <= cfg.maxLifespanMins &&
        (s.safe || (speed >= cfg.minSpeed && idleMins <= cfg.maxInactivityMins)))
  }

  /** The stateful update function for `flatMapGroupsWithState`.
    * `armTimers=false` runs without the cleaner (used by finite replays —
    * with processing-time timers armed the micro-batch engine keeps
    * scheduling batches to service them and a drain-and-stop trigger never
    * terminates).
    */
  def updateFn(cfg: TrendConfig, armTimers: Boolean)(
      id: String, events: Iterator[ClassifiedEvent],
      state: GroupState[PageState]): Iterator[PageState] = {
    val nowMs = state.getCurrentProcessingTimeMs()
    if (state.hasTimedOut) {
      // Cleaner tick: re-evaluate the full policy, not just idleness
      // (SURVEY §7.4 item 6); survivors re-arm the 20 s timer.
      state.getOption match {
        case Some(s) if survives(s, nowMs, cfg) =>
          state.setTimeoutDuration(cfg.cleanerIntervalSec * 1000)
          Iterator.empty
        case _ =>
          state.remove(); Iterator.empty
      }
    } else {
      val evs = events.toSeq
      // Data-path eviction clock: the policy compares EVENT-time state
      // stamps, so it must not run ahead of the data — catching up a
      // backlog after downtime with wall-clock nowMs would read every
      // replayed page as idle/ancient and mass-evict live pages
      // mid-catch-up. min(wall, newest event) ≈ wall on a live stream
      // (the reference's cleaner clock) and tracks stream time during
      // replay (the batch twin's event-time asOf). The TIMER path stays
      // pure processing time BY DESIGN: a key with no events for a full
      // cleaner interval of wall time is the case the wall-clock cleaner
      // exists for, and the reference itself is a wall-clock setInterval
      // cleaner — under a slow catch-up it would evict the same pages.
      // (A stream-time timer clock would need a cross-key high-watermark,
      // which fgws has no channel for without arming a query watermark;
      // the bounded residual risk is a replay whose inter-batch wall gap
      // exceeds cleanerIntervalSec — pages evicted there are recreated by
      // their next replayed edit with reset counters.)
      val dataAsOfMs = math.min(nowMs, evs.map(_.ts.getTime).max)
      applyEvents(state.getOption, evs) match {
        // The data path ALSO applies the cleaner policy when the cleaner
        // is on: a page edited at least once per cleaner interval never
        // goes idle long enough for its timeout to fire, and without this
        // check a continuously-active page would outlive maxLifespan
        // indefinitely — the reference cleaner (index.js:362-392) and the
        // batch `survivors` twin both drop on age regardless of activity.
        // Gated on armTimers: the check is the live cleaner's policy
        // (at dataAsOfMs — see above), and finite replays of historical
        // fixtures run with armTimers=false and exercise `survives`
        // directly.
        case Some(next) if !armTimers || survives(next, dataAsOfMs, cfg) =>
          state.update(next)
          if (armTimers) state.setTimeoutDuration(cfg.cleanerIntervalSec * 1000)
          Iterator.single(next)
        case Some(_) =>
          if (state.exists) state.remove()
          Iterator.empty
        case None =>
          // Dropped/deleted — or a log-only group on an absent page, which
          // must NOT materialize a zero-edit PageState.
          if (state.exists) state.remove()
          Iterator.empty
      }
    }
  }

  /** Classify a RecentChange-schema stream into ClassifiedEvents
    * (the streaming twin of PageAggregates.classified).
    */
  def classify(events: Dataset[RecentChange], cfg: TrendConfig): Dataset[ClassifiedEvent] = {
    import graft.functions.Classifiers._
    val spark = events.sparkSession
    import spark.implicits._
    // Null-safe classifier inputs: a rev-deleted/suppressed editor arrives
    // with user = null (EventAdapter passes it through), and a null user
    // makes isIP/isBotEdit evaluate to NULL — which the non-nullable
    // Boolean fields of ClassifiedEvent's encoder reject, killing the
    // whole query on one event. Same for a null comment through
    // isRevert/notability/volatility (and the isFixup FILTER, where a
    // null would silently drop the row instead of keeping it).
    val userSafe = coalesce(col("user"), lit(""))
    val commentSafe = coalesce(col("comment"), lit(""))
    // A6 delete gate via the SHARED kernels (Classifiers.deleteTargetTitle
    // + logParamsGateOpen — IncrementalTrend.deleteEvents consumes the
    // same ones, so the two paths cannot drift): a delete log event acts
    // only when the reference's `!params.length` gate is open over the
    // wire-variant log_params, and the dropped page is the one named in
    // the HTML-entity comment pattern — NOT the event's own title. A
    // qualifying delete is
    // re-keyed onto its TARGET id so the keyed operator drops the right
    // state; a non-qualifying one becomes 'log:gated' (ignored), instead
    // of wiping whatever page the event itself was keyed to.
    val delTitle = deleteTargetTitle(coalesce(col("logActionComment"), lit("")))
    // Falsy log dispatch (the shared isLogEvent kernel, index.js:320):
    // a log_type="" row is a plain EDIT here exactly as in the batch
    // aggregation — isNotNull routing would send it down the log branch
    // where a null logAction aliases it to 'log:gated'/'log:unknown'
    // and the edit vanishes from the state the batch path counts.
    val isLog = isLogEvent(col("logType"))
    val isDelete = isLog && col("logAction") === "delete"
    val delQualifies = isDelete && logParamsGateOpen(col("logParams")) &&
      length(delTitle) > 0
    // The reference pre-dispatch gate via the ONE shared helper (the
    // IncrementalTrend discipline — an inline restatement here would let
    // the stream's F1-F3 gate drift from the batch one). Null-ts events
    // are dropped like every other streaming operator's (round-9 rule):
    // applyEvents orders by ts, and one malformed wire message would
    // otherwise NPE the whole query.
    graft.operators.PageAggregates.referenceGate(events.toDF(), cfg)
      .filter(col("ts").isNotNull)
      .select(
        when(delQualifies, pageId(col("wiki"), delTitle))
          .otherwise(pageId(col("wiki"), col("title"))).as("id"),
        when(delQualifies, delTitle).otherwise(col("title")).as("title"),
        wikiOf(col("wiki")).as("wiki"),
        userSafe.as("user"),
        isBotEdit(col("bot"), userSafe, cfg.knownBots).as("isBot"),
        isRevert(commentSafe).as("isRevert"),
        isIP(userSafe).as("isAnon"),
        coalesce(col("rcType") === "new", lit(false)).as("isNew"),
        notabilityHit(commentSafe).as("notab"),
        volatilityHit(commentSafe).as("volat"),
        when(isLog, lit(0L))
          .otherwise(bytesDelta(col("lengthNew"), col("lengthOld"))).as("delta"),
        when(isLog,
          when(isDelete,
            when(delQualifies, lit("delete")).otherwise(lit("log:gated")))
            // A log event with a NULL action must stay a LOG event: null
            // logAction is applyEvents' EDIT branch, and one malformed
            // log row would otherwise mint edits/contributors the batch
            // path (!isLogEvent filter) never counts.
            //
            // The cmd: NAMESPACE is reserved for the control channel
            // (commandEvents): a WIRE log row spelling logAction
            // 'cmd:drop' would otherwise execute as a command in
            // applyEvents — wiping page state (or 'cmd:markSafe':
            // permanently exempting a page from eviction) with none of
            // the A6 delete gating, from a single odd or adversarial
            // feed row the batch path ignores entirely. Forged prefixes
            // demote to an inert 'log:'-namespaced action (phase-3
            // no-op), exactly how unknown log actions already ride.
            .otherwise({
              val wireAction =
                coalesce(col("logAction"), lit("log:unknown"))
              when(wireAction.startsWith("cmd:"),
                concat(lit("log:"), wireAction)).otherwise(wireAction)
            }))
          .otherwise(lit(null).cast("string")).as("logAction"),
        col("ts"))
      .as[ClassifiedEvent]
  }

  /** Encode control commands as ClassifiedEvents (logAction = "cmd:<action>")
    * so they flow through the same keyed exchange as edits.
    */
  def commandEvents(cmds: Dataset[TrendCommand]): Dataset[ClassifiedEvent] = {
    import graft.functions.Classifiers._
    val spark = cmds.sparkSession
    import spark.implicits._
    cmds.toDF()
      // Same null-ts rule as classify: applyEvents orders by ts, and one
      // malformed command row would otherwise NPE the whole query — the
      // guard must cover BOTH legs of the union. The ACTION must be
      // non-null too: concat null-propagates, and a NULL logAction is
      // applyEvents' EDIT branch — a malformed command row would mint a
      // phantom edit (create-or-bump a page, contributor "") instead of
      // being ignored. classify guards the same hole for log events
      // (coalesce to 'log:unknown'); a command with no action carries no
      // intent at all, so dropping beats aliasing it to an unknown verb.
      .filter(col("ts").isNotNull && col("action").isNotNull)
      .select(
        pageId(col("wiki"), col("title")).as("id"),
        col("title"),
        wikiOf(col("wiki")).as("wiki"),
        lit("").as("user"),
        lit(false).as("isBot"), lit(false).as("isRevert"),
        lit(false).as("isAnon"), lit(false).as("isNew"),
        lit(0L).as("notab"), lit(0L).as("volat"), lit(0L).as("delta"),
        concat(lit("cmd:"), col("action")).as("logAction"),
        col("ts")).as[ClassifiedEvent]
  }

  /** Build the full streaming pipeline: classify → keyed stateful update.
    * Output (Update mode): the refreshed PageState rows per micro-batch —
    * the streaming twin of the reference's `emit('edit', page)` (S4).
    *
    * `commands` (Q4): an optional control stream (drop / markSafe) unioned
    * with the edits — commands shuffle to the page's state partition and
    * apply in ts order interleaved with that batch's edits.
    *
    * Checkpoint I/O: installs [[LocalCheckpointFileManager]] as the
    * session's `spark.sql.streaming.checkpointFileManagerClass`, which
    * writes `file:` checkpoints without Hadoop's per-file shell launches
    * and hands any other path to Spark's own manager. A class the user
    * has already set, in the session or the Hadoop conf, wins.
    */
  def pageStates(events: Dataset[RecentChange],
      cfg: TrendConfig = TrendConfig(),
      evict: Boolean = true,
      commands: Option[Dataset[TrendCommand]] = None): Dataset[PageState] = {
    val spark = events.sparkSession
    import spark.implicits._
    LocalCheckpointFileManager.install(spark)
    val timeout =
      if (evict) GroupStateTimeout.ProcessingTimeTimeout
      else GroupStateTimeout.NoTimeout
    val classifiedAll = commands.foldLeft(classify(events, cfg))(
      (evs, cmds) => evs.unionByName(commandEvents(cmds)))
    classifiedAll
      .groupByKey(_.id)
      .flatMapGroupsWithState[PageState, PageState](
        OutputMode.Update, timeout)(updateFn(cfg, armTimers = evict))
  }

  /** Convenience: run a finite replay of events through the streaming
    * pipeline into an in-memory table and return the final state snapshot —
    * used by tests to prove stream ≡ batch (SURVEY §5.2 item 2).
    */
  def replayToSnapshot(spark: SparkSession, events: Seq[RecentChange],
      cfg: TrendConfig = TrendConfig(), queryName: String = "trend_replay",
      commands: Seq[TrendCommand] = Nil): Seq[PageState] = {
    import spark.implicits._
    val ms = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[RecentChange](spark)
    ms.addData(events)
    val cmdOpt =
      if (commands.isEmpty) None
      else {
        val cs = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[TrendCommand](spark)
        cs.addData(commands)
        Some(cs.toDS())
      }
    // evict=false (NoTimeout) + AvailableNow: drain what's queued then
    // terminate. With processing-time timers armed the engine would keep
    // scheduling micro-batches to service them and never settle; the
    // eviction policy is exercised directly via survives().
    val q = pageStates(ms.toDS(), cfg, evict = false, commands = cmdOpt)
      .writeStream
      .format("memory").queryName(queryName).outputMode("update")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    // A false return means the drain STALLED — surfacing it beats
    // comparing against a silently-partial snapshot downstream.
    try {
      if (!q.awaitTermination(120000))
        throw new IllegalStateException(
          "replayToSnapshot: stream drain did not terminate within 120 s")
    } finally q.stop()
    // Update-mode memory sink appends each update; keep the LAST row per
    // id. A key whose final action dropped it emits nothing in that batch —
    // rows from EARLIER batches can linger (sink workaround limitation);
    // single-batch replays are exact.
    spark.table(queryName).as[PageState].collect()
      .groupBy(_.id).map { case (_, rows) => rows.last }.toSeq
  }
}
