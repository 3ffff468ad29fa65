package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.model.{PageState, RecentChange, TrendConfig}
import graft.operators.PageAggregates
import graft.operators.Barrier.BarrierOps

/** Incremental-view-maintenance form of the trend engine: a `foreachBatch`
  * loop that folds each micro-batch into an explicit state table. This is
  * the path that reproduces the reference's CROSS-KEY rename semantics
  * exactly (index.js:154-167) — `flatMapGroupsWithState` cannot move state
  * between keys (SURVEY §7.4 item 1), but a state-table merge can:
  *
  *  per micro-batch:
  *   1. collect the batch's gated log ops (moves/deletes/protects — rare
  *      by contract) and SEQUENTIALLY REPLAY them in event-time order on
  *      a driver-side object model ([[replayLogOps]]): each page object's
  *      key trajectory, overwrite-kill, fresh-page registration and
  *      protect flag come out exactly as the reference's
  *      one-event-at-a-time handler produces them
  *      (index.js:154-167, 316-337, 441-447)
  *   2. apply the compiled [[LogPlan]] relationally: broadcast anti-join
  *      kills, broadcast rekey of placements (injective by construction —
  *      the replay already resolved every same-batch race, so no
  *      overwrite window / extra sort is needed), synthesized fresh
  *      pages (`getPage` REGISTERS a page even when a move's source key
  *      holds no state, index.js:441-447 — so a move of an absent or
  *      just-deleted page plants an empty page at the target)
  *   3. route batch edits through the plan's TIMELINE: an edit lands on
  *      the object owning its (key, event-ts) segment — edits before a
  *      move ride the moved page, edits after a delete recreate the page,
  *      edits on an overwritten-or-deleted object die with it
  *   4. aggregate deltas, full-outer merge into state (sums, set unions,
  *      min/max timestamps — the merged state carries the pageAggregates
  *      column layout WITHOUT the A3 per-editor histogram:
  *      distribution/bias is served by the fgws snapshot and the batch
  *      view, not this table)
  *   5. stamp move targets' `updated` (index.js:164), apply protect flags
  *      (unconditional where a move materialized the page;
  *      existence-conditional otherwise — index.js:417-422 sets the flag
  *      only `if (this.titles[id])`)
  *   6. apply the eviction policy (A7) at the batch's processing time
  *
  * Known divergences from a strict sequential replay, both confined to
  * sub-timestamp interleavings a batch cannot observe: within one event
  * timestamp the replay orders moves before deletes before protects
  * (arrival order inside a same-ms tick is not recoverable from the
  * wire), and fresh pages take the triggering op's EVENT time as
  * start/updated where the reference stamps wall-clock at `getPage`.
  *
  * Scale: state and deltas join on `id` (hash exchange); the log-op plan
  * is driver-resident and broadcast; all merges are column expressions.
  * State stays bounded by eviction, so the per-batch rewrite is
  * proportional to live trending pages — the same working set the
  * reference holds in memory.
  */
object IncrementalTrend {

  import graft.functions.Classifiers.{isLogEvent, logParamsTarget, pageId}

  /** One micro-batch fold: (previous state, batch events, asOf) → state.
    * `state` and the result use the pageAggregates column layout plus
    * `safe` / `isProtected` flags.
    */
  def processBatch(state: DataFrame, batch: DataFrame,
      asOfMs: Long, cfg: TrendConfig = TrendConfig()): DataFrame = {
    val spark = state.sparkSession
    import spark.implicits._

    // Log events (moves/protects/deletes) pass the reference's
    // pre-dispatch gate (index.js:316-318 precedes every log dispatch):
    // a fixup-comment, wrong-project or non-main-namespace log event
    // must not rewrite history, set flags, or drop state. Edits get the
    // same gate inside pageAggregates. Null-ts log ops are dropped —
    // they cannot be sequenced (the reference's wire events always carry
    // a timestamp).
    val gatedLog = PageAggregates.referenceGate(batch, cfg)
      .filter(isLogEvent(col("logType")) && col("ts").isNotNull)

    // 1. Collect the batch's log ops (driver-resident by contract: log
    // events are rare; the flood guard warns loudly if that breaks) and
    // replay them sequentially.
    // Null-title log ops are dropped alongside null-ts ones (a null key
    // cannot be replayed; the wire contract always carries a title), and
    // every collect is bounded by the limit-before-collect discipline —
    // a delete/protect flood past MaxLogOps must fail loudly, not OOM
    // the driver behind a warning.
    // ONE collect for all three op kinds (was three separate driver
    // jobs per micro-batch — per-action round-trip overhead dominates
    // tiny-frame cost on the hot foreachBatch path): each branch keeps
    // its OWN limit-before-collect bound, the union collects once, and
    // the kinds partition driver-side.
    val opRows = gatedLog.filter(col("logAction") === "move")
      .filter(col("title").isNotNull)
      .select(lit("m").as("k"), col("wiki"), col("title"),
        logParamsTarget(col("logParams")).as("x"), col("ts"))
      .filter(col("x").isNotNull)
      .limit(MaxLogOps + 1)
      .unionByName(deleteEvents(gatedLog)
        .select(lit("d").as("k"), col("wiki"),
          col("del_title").as("title"),
          lit(null).cast("string").as("x"), col("ts"))
        .limit(MaxLogOps + 1))
      .unionByName(gatedLog.filter(col("logAction") === "protect")
        .filter(col("title").isNotNull)
        .select(lit("p").as("k"), col("wiki"), col("title"),
          lit(null).cast("string").as("x"), col("ts"))
        .limit(MaxLogOps + 1))
      .collect()
    val moveOps = opRows.filter(_.getString(0) == "m")
      .map(r => MoveOp(r.getString(1), r.getString(2), r.getString(3),
        r.getTimestamp(4).getTime))
    val delOps = opRows.filter(_.getString(0) == "d")
      .map(r => DeleteOp(r.getString(1), r.getString(2),
        r.getTimestamp(4).getTime))
    val protOps = opRows.filter(_.getString(0) == "p")
      .map(r => ProtectOp(r.getString(1), r.getString(2),
        r.getTimestamp(4).getTime))
    val nOps = moveOps.length + delOps.length + protOps.length
    require(nOps <= MaxLogOps,
      s"batch carries > $MaxLogOps move/delete/protect log events — " +
        "the driver-side replay cannot hold them; shrink the trigger " +
        "interval or split the batch")
    PageAggregates.warnIfMoveFlood(nOps)
    val plan = replayLogOps(
      (moveOps.toSeq: Seq[LogOp]) ++ delOps ++ protOps)

    // 2. State side: kills (deleted or overwritten pre-batch rows), then
    // the injective placement rekey — no overwrite window needed, the
    // replay already picked every race's winner.
    val afterKills =
      if (plan.kills.isEmpty) state
      else state.join(broadcast(plan.kills.toDF("__kill")),
        col("id") === col("__kill"), "left_anti")
    val placed =
      if (plan.placements.isEmpty) afterKills
      else {
        // Built only when moves exist; the move stamp is applied by
        // moveStamps below, so only the three rekey columns ride here.
        val pm = plan.placements
          .map(p => (p.fromKey, p.toKey, p.toTitle))
          .toDF("r_from", "r_to", "r_to_title")
        afterKills
          .join(broadcast(pm), col("id") === col("r_from"), "left")
          .withColumn("id", coalesce(col("r_to"), col("id")))
          .withColumn("title", coalesce(col("r_to_title"), col("title")))
          .drop("r_from", "r_to", "r_to_title")
      }
    // getPage REGISTERS (index.js:441-447): a move plants a page at its
    // target even when the source key held no state — synthesize the
    // empty page for placements whose source row is absent (one tiny
    // broadcast-semi probe decides which) and for every fresh page the
    // replay says a move materialized. `start` is the REGISTERING hop
    // (the object's first move — where getPage created it); the
    // post-merge stamp raises `updated` to the final hop. Synthesized
    // rows carry a marker so the protect step can tell them from
    // genuine pre-batch state — the page they denote did NOT exist
    // before its registering move, so an earlier existence-conditional
    // protect must not see them as "existed". (Legacy-adoption corner:
    // a placement whose source bucket was already committed by the
    // crashed pre-manifest attempt reads as absent here and synthesizes
    // an empty page at the target — the legacy layout LOST that
    // migrated row outright, so the empty page is the closer-to-
    // reference recovery; adoption-replay-only.)
    val synthRows: Seq[PageState] =
      if (plan.placements.isEmpty && plan.fresh.isEmpty) Nil
      else {
        val present =
          if (plan.placements.isEmpty) Set.empty[String]
          else state.join(
              broadcast(plan.placements.map(_.fromKey).toDF("r_from")),
              col("id") === col("r_from"), "left_semi")
            .select(col("id")).collect().map(_.getString(0)).toSet
        val fallbacks = plan.placements.filterNot(p => present(p.fromKey))
          .map(p => PageState.empty(p.toKey, p.toTitle,
            graft.functions.Classifiers.wikiOfStr(p.wiki),
            new java.sql.Timestamp(p.firstMoveTs)))
        val created = plan.fresh.map(f => PageState.empty(f.key, f.title,
          graft.functions.Classifiers.wikiOfStr(f.wiki),
          new java.sql.Timestamp(f.firstTs)))
        fallbacks ++ created
      }
    val genuine = placed.withColumn("__synth", lit(false))
    val stateSide =
      if (synthRows.isEmpty) genuine
      else genuine.unionByName(
        stateRows(spark, synthRows).withColumn("__synth", lit(true)))

    // 3. Route edits through the timeline: the object owning the edit's
    // (key, ts) segment decides where it lands (its FINAL title) or that
    // it dies (dead object: deleted, or overwritten by a move). Edits at
    // exactly an op's timestamp ride the OLD segment. Untouched keys and
    // null-ts edits match no segment and keep their own title.
    // Falsy dispatch: a log_type="" row is an EDIT (shared isLogEvent
    // kernel, index.js:320) — it must ride the timeline with the other
    // edits, not fall between the routing branches.
    val evs = batch.filter(!isLogEvent(col("logType")))
    val editsMapped =
      if (plan.timeline.isEmpty) evs
      else {
        val tl = plan.timeline
          .map(s => (s.key, s.fromTs, s.toTs, s.dead, s.finalTitle,
            s.finalWiki))
          .toDF("t_key", "t_from", "t_to", "t_dead", "t_title", "t_wiki")
        evs.withColumn("__k", pageId(col("wiki"), col("title")))
          .withColumn("__ms", unix_millis(col("ts")))
          .join(broadcast(tl),
            col("__k") === col("t_key") &&
              col("t_from") < col("__ms") && col("__ms") <= col("t_to"),
            "left")
          .filter(col("t_key").isNull || !col("t_dead"))
          // BOTH halves of the object's final key (see TlSeg: pageId is
          // ambiguous across wikis, so a title-only rewrite could land a
          // routed edit on a different id than the object's curKey).
          .withColumn("title", coalesce(col("t_title"), col("title")))
          .withColumn("wiki",
            when(col("t_key").isNotNull, col("t_wiki"))
              .otherwise(col("wiki")))
          .drop("__k", "__ms", "t_key", "t_from", "t_to", "t_dead",
            "t_title", "t_wiki")
      }
    val deltas = PageAggregates.pageAggregates(editsMapped, cfg)

    // 4. Full-outer merge into state. NULL-SAFE on the id: a null-id
    // page (null-title edit with a non-falsy wiki — the round-9 rule
    // preserves it as one group rather than dropping it) never matches
    // itself under `===` in a full_outer join, so each batch carrying
    // such edits would emit BOTH sides and state would accumulate one
    // duplicate null-id row per batch — breaking the fold-invariance
    // identity (replay([b1, b2]) ≡ replay([b1 ++ b2])) the fgws path
    // (groupByKey groups null keys) and the one-shot batch keep.
    val s = stateSide.as("s"); val d = deltas.as("d")
    val merged = s.join(d, col("s.id") <=> col("d.id"), "full_outer")
      .select(
        coalesce(col("s.id"), col("d.id")).as("id"),
        coalesce(col("d.title"), col("s.title")).as("title"),
        coalesce(col("s.wiki"), col("d.wiki")).as("wiki"),
        (zeroL(col("s.edits")) + zeroL(col("d.edits"))).as("edits"),
        (zeroL(col("s.anonEdits")) + zeroL(col("d.anonEdits"))).as("anonEdits"),
        (coalesce(col("s.isNew"), lit(false)) ||
          coalesce(col("d.isNew"), lit(false))).as("isNew"),
        (zeroL(col("s.notabilityFlags")) + zeroL(col("d.notabilityFlags")))
          .as("notabilityFlags"),
        (zeroL(col("s.volatileFlags")) + zeroL(col("d.volatileFlags")))
          .as("volatileFlags"),
        (zeroL(col("s.reverts")) + zeroL(col("d.reverts"))).as("reverts"),
        least(col("s.start"), col("d.start")).as("start"),
        greatest(col("s.updated"), col("d.updated")).as("updated"),
        array_sort(array_union(emptyArr(col("s.contributors")),
          emptyArr(col("d.contributors")))).as("contributors"),
        array_sort(array_union(emptyArr(col("s.anons")),
          emptyArr(col("d.anons")))).as("anons"),
        (zeroL(col("s.bytesChanged")) + zeroL(col("d.bytesChanged")))
          .as("bytesChanged"),
        coalesce(col("s.safe"), lit(false)).as("safe"),
        coalesce(col("s.isProtected"), lit(false)).as("isProtected"),
        // Carried only to the protect step below, then dropped: whether a
        // state-side row existed, and the deltas' first edit time — the
        // existence-conditional protect needs both.
        // GENUINE pre-batch state only: a synthesized fresh/fallback row
        // is state-side but denotes a page that did not exist before its
        // registering move — an earlier existence-conditional protect
        // must not count it.
        (col("s.id").isNotNull && !col("s.__synth")).as("__sEx"),
        col("d.start").as("__dStart"))

    // 5a. Rename stamps `updated` (index.js:164: renamePage sets
    // page.updated at the move — the rename RESETS the idle clock, so a
    // quiet page renamed near its maxInactivity horizon survives the
    // next eviction pass). Stamped POST-merge on the move-TARGET id so
    // both the cross-batch case (migrated state row) and the same-batch
    // case (deltas aggregated under the new id) get it; greatest() keeps
    // `updated` monotone under out-of-order input, matching the
    // reference's wall-clock monotonicity. The placement's moveTs is the
    // chain's final hop — the last rename is the one whose stamp
    // survives a sequential replay.
    val stamped =
      if (plan.placements.isEmpty && plan.fresh.isEmpty) merged
      else {
        val moveStamps =
          (plan.placements.map(p => (p.toKey, p.moveTs)) ++
            plan.fresh.map(f => (f.key, f.lastTs)))
            .toDF("mt_id", "mt_ts")
        merged.join(broadcast(moveStamps), col("id") === col("mt_id"),
            "left")
          .withColumn("updated",
            when(col("mt_id").isNotNull,
              greatest(col("updated"), timestamp_millis(col("mt_ts"))))
              .otherwise(col("updated")))
          .drop("mt_id", "mt_ts")
      }

    // 5b. Protects (A5, index.js:417-422: flag set only on an EXISTING
    // page). Unconditional for pages a move materialized (getPage made
    // them exist before the protect ran); conditional otherwise — the
    // page existed at protect time iff it had pre-batch state or an edit
    // at or before the protect's timestamp (`start` is the object's
    // first same-batch edit: all of an object's edits land on its final
    // key, so the deltas' start IS that first edit).
    val withUncond =
      if (plan.protUncond.isEmpty) stamped
      else stamped.join(broadcast(plan.protUncond.toDF("pu_id")),
          col("id") === col("pu_id"), "left")
        .withColumn("isProtected",
          col("isProtected") || col("pu_id").isNotNull)
        .drop("pu_id")
    val afterProtect =
      if (plan.protCond.isEmpty) withUncond.drop("__sEx", "__dStart")
      else withUncond.join(broadcast(plan.protCond.toDF("pc_id", "pc_ts")),
          col("id") === col("pc_id"), "left")
        .withColumn("isProtected",
          col("isProtected") || (col("pc_id").isNotNull &&
            (col("__sEx") || coalesce(
              unix_millis(col("__dStart")) <= col("pc_ts"), lit(false)))))
        .drop("pc_id", "pc_ts", "__sEx", "__dStart")

    // 6. Eviction at this batch's processing time.
    PageAggregates.survivors(afterProtect,
      lit(new java.sql.Timestamp(asOfMs)), cfg)
  }

  /** One parsed (wiki, del_title, ts) row per delete log event — the
    * shared A6 kernel ([[graft.functions.Classifiers.deleteTargetTitle]];
    * the fgws classify consumes the same one).
    */
  private[streaming] def deleteEvents(batch: DataFrame): DataFrame = {
    import graft.functions.Classifiers.{deleteTargetTitle, logParamsGateOpen}
    batch.filter(isLogEvent(col("logType")) && col("logAction") === "delete")
      .filter(logParamsGateOpen(col("logParams")))
      .select(col("wiki"),
        deleteTargetTitle(col("logActionComment")).as("del_title"),
        col("ts"))
      .filter(length(col("del_title")) > 0)
  }

  /** (del_id, del_ts) per deleted page — the touched-bucket probe's form
    * of [[deleteEvents]].
    */
  private[streaming] def deleteTargets(batch: DataFrame): DataFrame =
    deleteEvents(batch)
      .groupBy(pageId(col("wiki"), col("del_title")).as("del_id"))
      .agg(max(col("ts")).as("del_ts"))

  // ---- sequential log-op replay (driver-side) -----------------------------

  private[streaming] sealed trait LogOp { def ts: Long }
  private[streaming] final case class MoveOp(wiki: String, fromTitle: String,
      toTitle: String, ts: Long) extends LogOp
  private[streaming] final case class DeleteOp(wiki: String, title: String,
      ts: Long) extends LogOp
  private[streaming] final case class ProtectOp(wiki: String, title: String,
      ts: Long) extends LogOp

  /** The most log ops one batch may carry to the driver-side replay —
    * limit-before-collect bound (the heavyTokens MaxCandidates
    * discipline): a delete/protect/move flood past this fails loudly
    * instead of OOMing the driver. Shared with the batch chain collapse
    * (PageAggregates) so both paths fail at the same scale.
    */
  private[streaming] val MaxLogOps = PageAggregates.MaxLogOps

  /** Pre-batch state at `fromKey` (if any) ends the batch at `toKey`,
    * retitled; `updated` stamps at `moveTs` (the object's LAST hop),
    * while an absent-source fallback page is REGISTERED at
    * `firstMoveTs` (the hop whose getPage created it) — that is its
    * `start`.
    */
  private[streaming] final case class Placement(fromKey: String,
      toKey: String, wiki: String, toTitle: String, moveTs: Long,
      firstMoveTs: Long)

  /** A page a move REGISTERED out of nothing (getPage on an absent or
    * just-deleted source) that is still alive at batch end: created
    * (`start`) at its first move, `updated` stamped at its last.
    */
  private[streaming] final case class FreshPage(key: String, wiki: String,
      title: String, firstTs: Long, lastTs: Long)

  /** Timeline segment: edits to `key` with `fromTs < ts ≤ toTs` belong to
    * the object that owned the key over that interval — they land at the
    * object's final key via its FINAL (wiki, title), or die with a dead
    * object (finalTitle/finalWiki null). The wiki rides along because
    * keys are pageId-AMBIGUOUS across wikis (a falsy-wiki edit whose
    * title spells "w/T" collides with wiki w's "T"): rewriting only the
    * title would recompute a DIFFERENT id downstream than the object's
    * curKey, splitting the edit off the moved page — with both rewritten,
    * the recomputed id equals curKey by the replay's own construction.
    */
  private[streaming] final case class TlSeg(key: String, fromTs: Long,
      toTs: Long, dead: Boolean, finalTitle: String, finalWiki: String)

  /** The compiled effect of a batch's log ops. `kills` lists keys whose
    * pre-batch state drops (deleted, or overwritten by a move-in).
    * `protUncond` / `protCond` are final keys: unconditional flags for
    * pages a move materialized, existence-conditional (with the protect's
    * ts) for everything else.
    */
  private[streaming] final case class LogPlan(placements: Seq[Placement],
      fresh: Seq[FreshPage], kills: Seq[String], protUncond: Seq[String],
      protCond: Seq[(String, Long)], timeline: Seq[TlSeg])

  /** One page object's walk state (driver-side, mutable). `origin` is the
    * pre-batch key whose resident state this object denotes (None for a
    * fresh/gap object). Segments record which key the object owned over
    * which time interval — the edit-landing map.
    */
  private final class Obj(val origin: Option[String], var wiki: String,
      var title: String, var curKey: String, var segFrom: Long) {
    var firstMoveTs: Option[Long] = None
    var lastMoveTs: Option[Long] = None
    var prot = false
    var protCondTs: Option[Long] = None
    var alive = true
    var mustMaterialize = false
    val segs = scala.collection.mutable.Buffer.empty[(String, Long, Long)]
    def closeSeg(at: Long): Unit = { segs += ((curKey, segFrom, at)) }
  }

  /** Total order = the reference's arrival order as far as a batch can
    * reconstruct it: event time first; within one timestamp (arrival
    * order is not recoverable from the wire) the legacy phase order —
    * moves, then deletes, then protects — with same-ts moves by
    * DESCENDING source key so the smallest source is applied last and
    * wins a same-ts race onto one target (the round-9 deterministic
    * tie-break, formerly a window sort).
    */
  private val LogOpOrder: Ordering[LogOp] = new Ordering[LogOp] {
    import graft.functions.Classifiers.pageIdStr
    private def rank(o: LogOp) = o match {
      case _: MoveOp => 0
      case _: DeleteOp => 1
      case _: ProtectOp => 2
    }
    private def keyOf(o: LogOp) = o match {
      case m: MoveOp => pageIdStr(m.wiki, m.fromTitle)
      case x: DeleteOp => pageIdStr(x.wiki, x.title)
      case p: ProtectOp => pageIdStr(p.wiki, p.title)
    }
    def compare(a: LogOp, b: LogOp): Int = {
      val c1 = java.lang.Long.compare(a.ts, b.ts)
      if (c1 != 0) return c1
      val c2 = Integer.compare(rank(a), rank(b))
      if (c2 != 0) return c2
      (a, b) match {
        case (x: MoveOp, y: MoveOp) =>
          val c = keyOf(y).compareTo(keyOf(x)) // DESC source
          if (c != 0) c
          else pageIdStr(x.wiki, x.toTitle)
            .compareTo(pageIdStr(y.wiki, y.toTitle))
        case _ => keyOf(a).compareTo(keyOf(b))
      }
    }
  }

  /** Sequentially replay the batch's log ops over an object-identity
    * model of `titles` (index.js) and compile the net effect. Every op
    * runs exactly the reference handler's steps: a move takes the object
    * at the source (getPage CREATES one if the key is absent or was
    * deleted — index.js:441-447), kills whatever object sits at the
    * target (`titles[page.id] = page` overwrites, index.js:162-166),
    * re-keys and re-titles it, and stamps its move time; a delete kills
    * the object at the key (index.js:427-430); a protect flags the
    * object at the key — unconditionally when a move already
    * materialized it, existence-conditionally otherwise
    * (index.js:417-422). Each vacated or deleted key gets a latent GAP
    * object: later edits recreate the page there (and a later move drags
    * the recreated page along), exactly getPage's behavior.
    */
  private[streaming] def replayLogOps(ops: Seq[LogOp]): LogPlan = {
    import graft.functions.Classifiers.pageIdStr
    val keyObj = scala.collection.mutable.HashMap.empty[String, Obj]
    val all = scala.collection.mutable.Buffer.empty[Obj]
    def newObj(origin: Option[String], wiki: String, title: String,
        key: String, from: Long): Obj = {
      val o = new Obj(origin, wiki, title, key, from); all += o; o
    }
    // First touch of a key binds its pre-batch resident (existence is
    // data-dependent; the relational side resolves it).
    def objAt(key: String, wiki: String, title: String): Obj =
      keyObj.getOrElseUpdate(key,
        newObj(Some(key), wiki, title, key, Long.MinValue))
    def kill(o: Obj, ts: Long): Unit = { o.closeSeg(ts); o.alive = false }
    def vacate(key: String, wiki: String, title: String, ts: Long): Unit =
      keyObj(key) = newObj(None, wiki, title, key, ts)

    ops.sorted(LogOpOrder).foreach {
      case MoveOp(wiki, fromT, toT, ts) =>
        val fromK = pageIdStr(wiki, fromT)
        val toK = pageIdStr(wiki, toT)
        val src = objAt(fromK, wiki, fromT)
        if (toK != fromK) {
          kill(objAt(toK, wiki, toT), ts) // overwrite whatever is there
          src.closeSeg(ts)
          src.curKey = toK
          src.segFrom = ts
          keyObj(toK) = src
          vacate(fromK, wiki, fromT, ts)
        }
        src.wiki = wiki
        src.title = toT
        if (src.firstMoveTs.isEmpty) src.firstMoveTs = Some(ts)
        src.lastMoveTs = Some(ts)
        // getPage registered this object in `titles` — it now exists
        // even if nothing ever edits it.
        if (src.origin.isEmpty) src.mustMaterialize = true
      case DeleteOp(wiki, t, ts) =>
        val k = pageIdStr(wiki, t)
        kill(objAt(k, wiki, t), ts)
        vacate(k, wiki, t, ts)
      case ProtectOp(wiki, t, ts) =>
        val k = pageIdStr(wiki, t)
        val o = objAt(k, wiki, t)
        if (o.alive) {
          if (o.mustMaterialize ||
              (o.origin.isDefined && o.lastMoveTs.isDefined)) o.prot = true
          else o.protCondTs = Some(o.protCondTs.fold(ts)(math.max(_, ts)))
        }
    }
    all.foreach(o => if (o.alive) o.closeSeg(Long.MaxValue))
    LogPlan(
      placements = all.iterator
        .filter(o => o.alive && o.origin.isDefined && o.lastMoveTs.isDefined)
        .map(o => Placement(o.origin.get, o.curKey, o.wiki, o.title,
          o.lastMoveTs.get, o.firstMoveTs.get))
        .toSeq,
      fresh = all.iterator
        .filter(o => o.alive && o.origin.isEmpty && o.mustMaterialize)
        .map(o => FreshPage(o.curKey, o.wiki, o.title, o.firstMoveTs.get,
          o.lastMoveTs.get))
        .toSeq,
      kills = all.iterator.filter(o => !o.alive && o.origin.isDefined)
        .map(_.origin.get).toSeq,
      protUncond = all.iterator.filter(o => o.alive && o.prot)
        .map(_.curKey).toSeq,
      protCond = all.iterator
        .filter(o => o.alive && !o.prot && o.protCondTs.isDefined)
        .map(o => o.curKey -> o.protCondTs.get).toSeq,
      timeline = all.iterator.flatMap(o => o.segs.iterator
          .filter { case (_, f, t) => f < t } // same-ms ops leave empties
          .map { case (k, f, t) =>
            TlSeg(k, f, t, !o.alive, if (o.alive) o.title else null,
              if (o.alive) o.wiki else null) })
        .toSeq)
  }

  private def zeroL(c: org.apache.spark.sql.Column) = coalesce(c, lit(0L))
  private def emptyArr(c: org.apache.spark.sql.Column) =
    coalesce(c, array().cast("array<string>"))

  /** The merged-state column layout (PageState WITHOUT the A3 per-editor
    * histogram).
    */
  private val StateCols = Seq("id", "title", "wiki", "edits", "anonEdits",
    "isNew", "notabilityFlags", "volatileFlags", "reverts", "start",
    "updated", "contributors", "anons", "bytesChanged", "safe",
    "isProtected")

  /** Driver-synthesized rows in the merged-state layout. */
  private def stateRows(spark: SparkSession, ps: Seq[PageState]): DataFrame = {
    import spark.implicits._
    ps.toDS().toDF().select(StateCols.map(col): _*)
  }

  /** Empty state table with the merged-state schema. */
  def emptyState(spark: SparkSession): DataFrame =
    stateRows(spark, Seq.empty)

  /** Fold a finite sequence of micro-batches (testing / replay). */
  def replay(spark: SparkSession, batches: Seq[Seq[RecentChange]],
      asOfMs: Long, cfg: TrendConfig = TrendConfig()): DataFrame = {
    import spark.implicits._
    batches.zipWithIndex.foldLeft(emptyState(spark)) { case (st, (b, i)) =>
      // Materialize each fold so state lineage doesn't grow unboundedly
      // (the streaming run writes state to parquet per batch instead);
      // release the SUPERSEDED generation's checkpoint blocks right
      // away — a long replay otherwise holds O(batches) × state-size
      // executor storage until driver GC (the BPE-loop lesson). The
      // initial emptyState is not a barrier; release is a safe no-op.
      // Release the superseded generation on the FAILURE path too (the
      // dupClusters rule): an exception mid-fold — a malformed fixture
      // batch tripping MaxLogOps — otherwise strands the previous
      // barrier's checkpoint blocks until driver GC.
      val next =
        try processBatch(st, b.toDF(), asOfMs, cfg).barrier()
        catch { case t: Throwable =>
          graft.operators.Barrier.release(st); throw t
        }
      graft.operators.Barrier.release(st)
      next
    }
  }

  /** The data-path eviction clock — TrendStream.updateFn's clamp,
    * propagated to the foreachBatch twin: catching up a backlog after
    * downtime with wall-clock asOf would read every replayed page's
    * EVENT-time stamps as idle/ancient and mass-evict live pages
    * mid-catch-up (later edits then recreate them with truncated
    * history). min(wall, newest event ts) ≈ wall on a live stream (the
    * reference's wall-clock cleaner) and tracks stream time during a
    * replay; an EMPTY batch — the engine's no-data tick — has no event
    * clock and keeps wall time, which is exactly the live-cleaner case
    * the full sweep exists for.
    */
  private[graft] def dataAsOfMs(nowMs: Long,
      maxEventTs: java.sql.Timestamp): Long =
    if (maxEventTs == null) nowMs else math.min(nowMs, maxEventTs.getTime)

  /** Streaming run: fold micro-batches into a MANIFEST-COMMITTED bucketed
    * parquet state table — the reference's LevelDB persistence (S2/S3),
    * upgraded from its lossy 20-second snapshot to atomically-committed
    * checkpointed micro-batches.
    *
    * Incremental maintenance: state is split by
    * `bucket = pmod(xxhash64(id), numBuckets)`. Each batch computes the
    * set of buckets its events touch (edit ids, move targets, parsed
    * delete targets), reads ONLY those buckets' files, folds the batch
    * into that slice, and writes the result to a FRESH data directory —
    * per-batch I/O stays proportional to touched keys, not total state.
    *
    * Atomic commit: a numbered manifest file maps each bucket to the data
    * path holding its current rows plus the last batch id folded into it.
    * A batch commits by writing its new bucket files under a unique path
    * nothing references yet, then RENAMING one manifest file into place —
    * the single atomic operation both HDFS and POSIX rename provide.
    * Readers resolve the highest-numbered manifest, so they observe the
    * whole batch or none of it. The pre-manifest layout's crash edge — a
    * rename whose SOURCE bucket committed (row removed) while its TARGET
    * bucket did not, silently losing the migrated row on replay — is
    * structurally gone: both bucket versions flip in the same rename.
    * Replay of a committed batch is a no-op (every touched bucket's stamp
    * already carries the batch id); replay of an uncommitted batch
    * re-folds from the still-live previous manifest, and the crashed
    * attempt's unreferenced files are swept at the next commit.
    *
    * Eviction (A7) runs on the touched slice each batch, plus a FULL sweep
    * every `fullSweepEveryNBatches` so idle pages in untouched buckets
    * still age out (the reference cleaner's interval tick).
    *
    * A state directory written by the pre-manifest layout (root `bucket=N`
    * partition dirs, per-row `lastBatchId` stamps) is adopted in place:
    * the first fold synthesizes manifest entries pointing at the legacy
    * dirs — per-bucket stamp = that dir's max stamp, −1 when the column
    * predates stamps entirely — and legacy dirs migrate to manifest data
    * dirs as their buckets are touched. Keeping the stamp PER BUCKET in
    * the manifest (not one id per manifest) is what makes this adoption
    * exact: a crash inside the legacy layout's partition-commit loop left
    * buckets at different stamps, and the entry-wise replay check resumes
    * each at its own position.
    */
  def run(events: Dataset[RecentChange], stateDir: String,
      checkpointDir: String, cfg: TrendConfig = TrendConfig(),
      numBuckets: Int = 64, fullSweepEveryNBatches: Int = 10): StreamingQuery = {
    LocalCheckpointFileManager.install(events.sparkSession)
    events.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: Dataset[RecentChange], batchId: Long) =>
        // clampToEventTime: the max(ts) probe runs inside foldBatch over
        // its ALREADY-BARRIERED batch (a separate pre-barrier agg here
        // re-read the streaming source once per trigger for one scalar).
        foldBatch(batch.toDF(), stateDir, batchId,
          System.currentTimeMillis(), cfg, numBuckets,
          fullSweepEveryNBatches, clampToEventTime = true)
      }
      .start()
  }

  private def bucketOf(id: org.apache.spark.sql.Column, n: Int) =
    pmod(xxhash64(id), lit(n.toLong)).cast("int")

  // ---- manifest-committed persistence ------------------------------------

  /** One bucket's current storage: `path` relative to the state dir,
    * `lastBatchId` = the last batch folded into those rows.
    */
  private[graft] case class BucketEntry(path: String, lastBatchId: Long)

  /** `numBuckets` records the bucketing the entries were WRITTEN under:
    * a fold with a different count would route a page to a bucket whose
    * entry has no history of it — a fresh (history-reset) copy commits
    * under the new bucket while the stale full row stays referenced
    * under the old one, and readState silently returns two rows per id.
    * None only for manifests from before this field (and synthesized
    * legacy adoptions) — the first post-upgrade fold stamps it.
    */
  private[graft] case class StateManifest(
      seq: Long, entries: Map[Int, BucketEntry],
      numBuckets: Option[Int] = None)

  private val ManifestRe = """manifest-(\d{20})\.json""".r

  private def manifestFileName(seq: Long): String = f"manifest-$seq%020d.json"

  /** Parse one manifest file by sequence number (None when absent). */
  private def readManifestFile(fs: org.apache.hadoop.fs.FileSystem,
      live: org.apache.hadoop.fs.Path, seq: Long): Option[StateManifest] = {
    import scala.jdk.CollectionConverters._
    val p = new org.apache.hadoop.fs.Path(live, manifestFileName(seq))
    if (!fs.exists(p)) return None
    val in = fs.open(p)
    val root =
      try new com.fasterxml.jackson.databind.ObjectMapper().readTree(in)
      finally in.close()
    val bk = root.get("buckets")
    // Damage guard (the index families' tdirs rule): a MISSING buckets
    // node used to NPE with no context, and a SCALAR node would read as
    // EMPTY STATE — the fold would then rebuild from nothing and the
    // next commit's sweep would delete every live data dir of the last
    // healthy generation. An empty OBJECT stays legal: writeManifest
    // commits one whenever eviction empties the state.
    if (bk == null || !bk.isObject)
      throw new IllegalStateException(
        s"state manifest $p carries a missing/non-object buckets node — " +
          "damaged manifest; refusing to read it as empty state")
    val entries = bk.properties().asScala.map { e =>
      e.getKey.toInt -> BucketEntry(e.getValue.get("path").asText(),
        e.getValue.get("lastBatchId").asLong())
    }.toMap
    val nb = Option(root.get("numBuckets")).map(_.asInt())
    Some(StateManifest(seq, entries, nb))
  }

  private def readManifest(fs: org.apache.hadoop.fs.FileSystem,
      live: org.apache.hadoop.fs.Path): Option[StateManifest] = {
    if (!fs.exists(live)) return None
    val seqs = fs.listStatus(live).toSeq.map(_.getPath.getName).collect {
      case ManifestRe(d) => d.toLong
    }
    if (seqs.isEmpty) return None
    readManifestFile(fs, live, seqs.max)
  }

  /** Stage the manifest to a dot-temp file, then rename into place — the
    * atomic commit point. A failed rename aborts the batch loudly; the
    * checkpoint replays it against the previous manifest.
    */
  private def writeManifest(fs: org.apache.hadoop.fs.FileSystem,
      live: org.apache.hadoop.fs.Path, m: StateManifest): Unit = {
    import org.apache.hadoop.fs.Path
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val root = mapper.createObjectNode()
    m.numBuckets.foreach(root.put("numBuckets", _))
    val bk = root.putObject("buckets")
    m.entries.toSeq.sortBy(_._1).foreach { case (b, e) =>
      val n = bk.putObject(b.toString)
      n.put("path", e.path)
      n.put("lastBatchId", e.lastBatchId)
    }
    val tmp = new Path(live,
      s".manifest-${java.util.UUID.randomUUID().toString.take(8)}.tmp")
    val out = fs.create(tmp, false)
    try out.write(mapper.writeValueAsBytes(root)) finally out.close()
    val dst = new Path(live, manifestFileName(m.seq))
    if (!fs.rename(tmp, dst))
      throw new IllegalStateException(
        s"state manifest commit failed: rename $tmp -> $dst")
  }

  /** Adopt a pre-manifest state dir: entries point at the legacy root
    * `bucket=N` dirs with each dir's own max stamp (−1 when the stamp
    * column predates the dir).
    */
  private def legacyEntries(spark: SparkSession,
      fs: org.apache.hadoop.fs.FileSystem,
      live: org.apache.hadoop.fs.Path): Map[Int, BucketEntry] = {
    if (!fs.exists(live)) return Map.empty
    val bucketDirs = fs.listStatus(live).toSeq.map(_.getPath)
      .filter(_.getName.startsWith("bucket="))
    if (bucketDirs.isEmpty) return Map.empty
    // Read ONLY the root bucket dirs, never the whole root: a crash
    // between an adoption fold's data-dir write and its first manifest
    // commit leaves orphan parquet under data/ at a different directory
    // depth, and a recursive root read would fail partition discovery
    // ("conflicting directory structures") on every subsequent replay —
    // the exact permanent-wedge the manifest design exists to prevent.
    // basePath recovers the bucket partition column from the dir names.
    val raw = spark.read.option("basePath", live.toString)
      .parquet(bucketDirs.map(_.toString): _*)
    val withLb =
      if (raw.columns.contains("lastBatchId")) raw
      else raw.withColumn("lastBatchId", lit(-1L))
    withLb.groupBy(col("bucket")).agg(max(col("lastBatchId")).as("lb"))
      .collect()
      .map(r => r.getInt(0) -> BucketEntry(s"bucket=${r.getInt(0)}", r.getLong(1)))
      .toMap
  }

  /** The live manifest: the highest-numbered committed file, or a
    * synthesized adoption view of a legacy layout, or None for an empty /
    * absent state dir.
    */
  private[graft] def currentManifest(spark: SparkSession,
      stateDir: String): Option[StateManifest] = {
    val live = new org.apache.hadoop.fs.Path(stateDir)
    val fs = live.getFileSystem(spark.sparkContext.hadoopConfiguration)
    resolvedManifest(spark, fs, live)._1
  }

  /** Manifest resolution WITH provenance: (manifest, onDisk) — onDisk is
    * false only for a synthesized legacy-adoption view. Carrying the
    * flag spares [[writerManifest]] a second listStatus + JSON parse per
    * micro-batch just to re-discover where the manifest came from.
    */
  private def resolvedManifest(spark: SparkSession,
      fs: org.apache.hadoop.fs.FileSystem,
      live: org.apache.hadoop.fs.Path): (Option[StateManifest], Boolean) =
    readManifest(fs, live) match {
      case some @ Some(_) => (some, true)
      case None =>
        val le = legacyEntries(spark, fs, live)
        (if (le.isEmpty) None else Some(StateManifest(0L, le)), false)
    }

  /** Manifest generations the sweep retains: the just-committed one plus
    * `RetainedGenerations − 1` predecessors, and every bucket file ANY of
    * them references. This closes the reader/commit overlap the
    * single-writer model otherwise leaves open: a concurrent `readState`
    * whose lazy plan resolved the previous manifest can still finish its
    * scan after the next commit lands (it has RetainedGenerations − 1
    * further commits of grace before its files are swept), instead of
    * dying on FileNotFoundException mid-scan. A reader that holds a plan
    * across MORE commits than that must materialize (collect/checkpoint)
    * first — documented at [[readState]].
    */
  private[graft] val RetainedGenerations = 2

  /** Drop everything the retained manifests do not reference: older
    * manifests, crashed staging files, replaced or emptied bucket data
    * (legacy root dirs and per-bucket dirs inside data parents), and
    * data parents from crashed write attempts. Single-writer (the
    * streaming query serializes batches), so unreferenced = garbage; the
    * sweep is idempotent and re-runs harmlessly after its own crash.
    */
  private def sweepUnreferenced(fs: org.apache.hadoop.fs.FileSystem,
      live: org.apache.hadoop.fs.Path, seq: Long,
      entries: Map[Int, BucketEntry]): Unit = {
    import org.apache.hadoop.fs.Path
    val oldest = seq - (RetainedGenerations - 1)
    // Union of bucket paths referenced by ANY retained generation — the
    // previous manifest's files must outlive this commit.
    val referenced = ((oldest until seq)
      .flatMap(s => readManifestFile(fs, live, s))
      .flatMap(_.entries.values.map(_.path)) ++
      entries.values.map(_.path)).toSet
    fs.listStatus(live).foreach { st =>
      st.getPath.getName match {
        case ManifestRe(d) if d.toLong < oldest => fs.delete(st.getPath, false)
        case n if n.startsWith(".manifest-") => fs.delete(st.getPath, false)
        case n if n.startsWith("bucket=") && !referenced.contains(n) =>
          fs.delete(st.getPath, true)
        case _ => ()
      }
    }
    val dataRoot = new Path(live, "data")
    if (fs.exists(dataRoot)) {
      val parents = referenced.filter(_.startsWith("data/")).map(_.split("/")(1))
      fs.listStatus(dataRoot).foreach { st =>
        val parent = st.getPath.getName
        if (!parents.contains(parent)) fs.delete(st.getPath, true)
        else fs.listStatus(st.getPath).foreach { bst =>
          val rel = s"data/$parent/${bst.getPath.getName}"
          if (bst.getPath.getName.startsWith("bucket=") &&
              !referenced.contains(rel)) fs.delete(bst.getPath, true)
        }
      }
    }
  }

  /** Writer-side manifest resolution: a manifest SYNTHESIZED from a
    * legacy layout exists nowhere on disk, so the generation-retention
    * sweep of the first commit (which re-reads prior manifests by file)
    * would find no previous generation and delete replaced legacy
    * `bucket=` dirs immediately — exactly the reader-grace hole the
    * retention sweep closes for normal generations. Writers therefore
    * MATERIALIZE the adoption manifest before their first commit;
    * readers (currentManifest / readState) never write.
    */
  private def writerManifest(spark: SparkSession,
      fs: org.apache.hadoop.fs.FileSystem,
      live: org.apache.hadoop.fs.Path,
      stateDir: String): Option[StateManifest] = {
    val (m, onDisk) = resolvedManifest(spark, fs, live)
    m.foreach { mm =>
      if (mm.entries.nonEmpty && !onDisk) writeManifest(fs, live, mm)
    }
    m
  }

  /** Compact the bucketed state into ONE fresh generation: every live
    * bucket is re-read and rewritten under a single `data/compact-…` dir,
    * and one manifest rename commits the whole move. Per-bucket
    * `lastBatchId` stamps are carried through unchanged, so replay
    * idempotency is untouched.
    *
    * Why: each micro-batch writes its touched buckets under its own
    * per-batch dir, so after N batches the manifest references files
    * scattered over up-to-min(N, numBuckets) directories (plus adopted
    * legacy dirs) — correct, but every `readState` lists them all, and
    * long-idle buckets pin ancient generations alive. Run this on the
    * maintenance cadence (like the reference's cleaner interval); it
    * composes with the retention sweep — the pre-compaction generation
    * survives `RetainedGenerations − 1` further commits like any other.
    * Single-writer discipline applies (don't race the streaming fold).
    * No-op on an empty/absent state dir.
    */
  def compact(spark: SparkSession, stateDir: String): Unit = {
    import org.apache.hadoop.fs.Path
    val live = new Path(stateDir)
    val fs = live.getFileSystem(spark.sparkContext.hadoopConfiguration)
    writerManifest(spark, fs, live, stateDir) match {
      case Some(m) if m.entries.values.exists(_.path.nonEmpty) =>
        val dataRel =
          s"data/compact-${java.util.UUID.randomUUID().toString.take(8)}"
        val dataDir = new Path(live, dataRel)
        // Rows keep their EXISTING bucket id — tagged from the entry each
        // is read under, never re-hashed: the fold's numBuckets is not
        // recorded here, and re-bucketing with a guessed count would
        // strand rows where future folds (hashing with the original
        // count) never look. Tombstone entries (empty path) carry no
        // data — they pass through untouched below, keeping their
        // replay stamps.
        val schema = stateSchema(spark)
        m.entries.toSeq.filter(_._2.path.nonEmpty).sortBy(_._1)
          .map { case (b, e) =>
            spark.read.schema(schema)
              .parquet(new Path(live, e.path).toString)
              .withColumn("bucket", lit(b))
          }
          .reduce(_ unionAll _)
          .repartition(col("bucket"))
          .write.partitionBy("bucket").parquet(dataDir.toString)
        val written = fs.listStatus(dataDir).toSeq.map(_.getPath.getName)
          .collect { case n if n.startsWith("bucket=") =>
            n.stripPrefix("bucket=").toInt }.toSet
        // Stamps carried through; a DATA bucket whose every row vanished
        // between manifests cannot occur here (compaction rewrites rows
        // verbatim), but guard anyway: an unwritten data bucket folds to
        // a tombstone rather than losing its stamp.
        val newEntries = m.entries.map {
          case (b, e) if e.path.isEmpty => b -> e
          case (b, e) if written(b) =>
            b -> BucketEntry(s"$dataRel/bucket=$b", e.lastBatchId)
          case (b, e) => b -> BucketEntry("", e.lastBatchId)
        }
        writeManifest(fs, live,
          StateManifest(m.seq + 1, newEntries, m.numBuckets))
        sweepUnreferenced(fs, live, m.seq + 1, newEntries)
      case _ => ()
    }
  }

  private def stateSchema(spark: SparkSession) = emptyState(spark).schema

  /** Read the live state table (every bucket the manifest references).
    * The pinned schema drops legacy dirs' extra stamp column, so adopted
    * and manifest-written buckets read uniformly.
    *
    * Reader/commit overlap: the returned DataFrame pins the manifest
    * generation current at CALL time, and the sweep retains each
    * generation's files for RetainedGenerations−1 further commits — so a
    * lazy plan survives one concurrent micro-batch. A caller holding the
    * plan across more commits than that must materialize it
    * (collect/localCheckpoint) before continuing.
    */
  def readState(spark: SparkSession, stateDir: String): DataFrame = {
    val live = new org.apache.hadoop.fs.Path(stateDir)
    currentManifest(spark, stateDir) match {
      case Some(m) if m.entries.values.exists(_.path.nonEmpty) =>
        val paths = m.entries.values.toSeq.map(_.path)
          .filter(_.nonEmpty).sorted // tombstones carry no data
          .map(p => new org.apache.hadoop.fs.Path(live, p).toString)
        spark.read.schema(stateSchema(spark)).parquet(paths: _*)
      case _ => emptyState(spark)
    }
  }

  /** One micro-batch fold against the manifest-committed state (see
    * `run`). New bucket files land under `data/b<batchId>-<nonce>/`; the
    * manifest rename at the end is the only visible state change.
    * `clampToEventTime` applies [[dataAsOfMs]]' backlog clamp over the
    * materialized batch (run()'s live path); explicit-asOf callers —
    * replay fixtures that deliberately pass a FUTURE asOf to exercise
    * eviction — keep the default and their semantics.
    */
  private[graft] def foldBatch(batch0: DataFrame, stateDir: String,
      batchId: Long, asOfMs: Long, cfg: TrendConfig,
      numBuckets: Int, fullSweepEveryNBatches: Int,
      clampToEventTime: Boolean = false): Unit = {
    import org.apache.hadoop.fs.Path
    val spark = batch0.sparkSession
    import graft.functions.Classifiers.pageId
    val live = new Path(stateDir)
    val fs = live.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val manifest = writerManifest(spark, fs, live, stateDir)
    val entries = manifest.map(_.entries).getOrElse(Map.empty[Int, BucketEntry])
    val sweep = fullSweepEveryNBatches > 0 && batchId % fullSweepEveryNBatches == 0
    // The batch feeds several jobs (touched-bucket scan, the fold's own
    // collects, the merge) — materialize once; released in finally (a
    // long-running stream otherwise leaves every micro-batch's
    // checkpoint blocks to driver GC).
    val batch = batch0.barrier()
    try {
      val asOf =
        if (!clampToEventTime) asOfMs
        else dataAsOfMs(asOfMs,
          batch.agg(max(col("ts"))).head().getTimestamp(0))
      foldBatchOver(batch, spark, fs, live, stateDir, batchId, asOf,
        cfg, numBuckets, sweep, entries, manifest)
    } finally graft.operators.Barrier.release(batch)
  }

  private def foldBatchOver(batch: DataFrame, spark: SparkSession,
      fs: org.apache.hadoop.fs.FileSystem,
      live: org.apache.hadoop.fs.Path, stateDir: String, batchId: Long,
      asOfMs: Long, cfg: TrendConfig, numBuckets: Int, sweep: Boolean,
      entries: Map[Int, BucketEntry],
      manifest: Option[StateManifest]): Unit = {
    import org.apache.hadoop.fs.Path
    import graft.functions.Classifiers.pageId

    // A fold under a DIFFERENT bucket count than the state was written
    // with silently duplicates pages (see StateManifest.numBuckets) —
    // nothing else would fail loudly, so this must.
    manifest.flatMap(_.numBuckets).foreach(nb =>
      require(nb == numBuckets,
        s"state at $stateDir was written with numBuckets=$nb; folding " +
          s"with numBuckets=$numBuckets would silently duplicate pages " +
          "across buckets — restart with the original count (or compact " +
          "and migrate explicitly)"))

    // Buckets this batch can affect: every event's own page id (covers
    // edits, protects, and each move's SOURCE), move targets, parsed
    // delete targets. Moves/deletes go through the SAME reference gate
    // processBatch applies — gated targets are exactly the pages the
    // fold can modify, so an ungated fixup/wrong-project log event no
    // longer marks (and rewrites) buckets the fold never touches.
    val gatedLogIds = PageAggregates.referenceGate(batch, cfg)
      .filter(isLogEvent(col("logType")))
    val evIds = batch.select(pageId(col("wiki"), col("title")).as("id"))
    val moveIds = gatedLogIds
      .filter(col("logAction") === "move")
      .select(pageId(col("wiki"),
        logParamsTarget(col("logParams"))).as("id"))
    val delIds = deleteTargets(gatedLogIds).select(col("del_id").as("id"))
    val touched = evIds.union(moveIds).union(delIds)
      .select(bucketOf(col("id"), numBuckets).as("b"))
      .distinct().collect().map(_.getInt(0)).toSet

    val targets = if (sweep) entries.keySet ++ touched else touched
    // Replay idempotency: a bucket whose stamp already carries this
    // batchId was committed by an earlier attempt of the SAME batch —
    // possible only through legacy adoption (a manifest commit is
    // all-or-nothing, but the pre-manifest layout committed per bucket).
    // Folding the additive merge into it again would double-count.
    val applied = targets.filter(b =>
      entries.get(b).exists(_.lastBatchId == batchId))
    val pending = targets -- applied
    if (pending.isEmpty) return

    val prevPaths = pending.toSeq.sorted.flatMap(entries.get)
      .filter(_.path.nonEmpty) // tombstone entries carry no data dir
      .map(e => new Path(live, e.path).toString)
    val prev =
      if (prevPaths.isEmpty) emptyState(spark)
      else spark.read.schema(stateSchema(spark)).parquet(prevPaths: _*)
    // Rows landing in an already-applied bucket (legacy adoption of a
    // partially-committed move) are filtered out — their state is there.
    val next = processBatch(prev, batch, asOfMs, cfg)
      .withColumn("bucket", bucketOf(col("id"), numBuckets))
      .filter(col("bucket").isin(pending.toSeq.map(Integer.valueOf): _*))

    // Write to a path nothing references — no read-overwrite hazard, no
    // pre-write materialization needed. A crashed attempt's dir is
    // unreferenced garbage, swept on the next successful commit.
    val dataRel =
      s"data/b$batchId-${java.util.UUID.randomUUID().toString.take(8)}"
    val dataDir = new Path(live, dataRel)
    next.write.partitionBy("bucket").parquet(dataDir.toString)
    // A pending bucket with no output rows (all pages evicted/deleted)
    // writes no dir — it gets a TOMBSTONE entry (empty path) carrying
    // the batchId stamp. Dropping the entry entirely broke replay
    // idempotency: a crash between this commit and the checkpoint ack
    // replays the batch, the entry-less bucket reads as pending with
    // EMPTY prior state, and a page the first fold evicted re-commits
    // with history truncated to one batch (resurrection; spec-pinned).
    // Tombstones are one tiny map entry per bucket, bounded by
    // numBuckets, and every reader skips empty paths.
    val written = fs.listStatus(dataDir).toSeq.map(_.getPath.getName).collect {
      case n if n.startsWith("bucket=") => n.stripPrefix("bucket=").toInt
    }.toSet
    val newEntries = (entries -- pending) ++
      pending.map(b => b -> BucketEntry(
        if (written(b)) s"$dataRel/bucket=$b" else "", batchId)).toMap
    val newSeq = manifest.map(_.seq).getOrElse(0L) + 1

    writeManifest(fs, live,
      StateManifest(newSeq, newEntries, Some(numBuckets))) // COMMIT
    sweepUnreferenced(fs, live, newSeq, newEntries)
  }
}
