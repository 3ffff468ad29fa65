package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, Dataset, Encoders}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{ExpiredTimerInfo, OutputMode,
  StatefulProcessor, TTLConfig, TimeMode, TimerValues, ValueState}

import graft.operators.{Dedup, TextAnalysis}
import StreamingNearDup.{BandEntry, BlockEntry, NearDupPair, SimhashPair,
  blockKeysOf, jaccardOf, md5Hex, simhash64OfTokens, wsTokensScala}

/** The MUTATE-IN-PLACE variant of the streaming MinHash near-dup twin —
  * the reference's own state discipline (every event updates the page's
  * state in place, `/root/reference/index.js:270-272`) lifted to the
  * near-dup monitor: a CHANGED-content redelivery of a live `doc_id`
  * RETRACTS the old version's bucket entries and ADMITS the new ones,
  * so every future arrival pairs against the doc's CURRENT content.
  * [[StreamingNearDup.streamingMinhashNearDups]] keeps its spec-pinned
  * first-delivery-wins contract (v2 dropped); this twin is the opt-in
  * upgrade for feeds where in-place updates are real.
  *
  * Why two stateful stages: retraction needs a per-DOC memory (which
  * bucket keys did v1 occupy?) that no per-bucket state can answer —
  * v2's hits route to v2's buckets, never to the v1 buckets that must
  * forget it. Spark 4's `transformWithState` makes the chain legal
  * where fgws could not (measured in round 15: a second watermark
  * declaration below a stateful op is an AnalysisException, and typed
  * stages strip the event-time tag fgws' EventTimeTimeout requires):
  * the version stage re-assigns its OUTPUT event-time column (the
  * `eventTimeColumnName` overload), which is the documented chaining
  * path for a downstream stateful operator.
  *
  * Stage 1 (key = doc_id): ValueState holds the last admitted version's
  * content hash + band keys. New hash → emit retract(old keys) +
  * admit(new); identical hash → pure redelivery, no-op (≡ the
  * first-wins gate); state expires at the same event-time horizon the
  * buckets use, so the two stages' memories can never disagree about
  * whether a version is live.
  *
  * Stage 2 (key = (band, key)): the [[StreamingNearDup]] bucket
  * discipline plus the retract op — deltas apply in (tsMs, kind) order
  * (retract before admit at one instant), pairs emit via the shared
  * smallest-colliding-band rule over both sides' CURRENT key arrays
  * (every live entry belongs to its doc's current version by
  * construction, so the exactly-once argument carries over verbatim).
  *
  * Append-mode semantics: an alert already emitted against a SUPERSEDED
  * version stands — an append sink cannot un-emit — exactly as the
  * reference's mutate-in-place fold cannot un-fire a past trend event.
  * The stream ≡ batch claim is therefore ARRIVAL-ORDER mutate-in-place:
  * each arrival pairs against the then-current state; when updates
  * precede the arrivals they should influence, the emitted set equals
  * the batch pairs over the FINAL corpus (spec-pinned).
  *
  * State is horizon-bounded like the first-wins twin: one snapshot per
  * live doc + the bucket entries, both expired by event-time timers.
  */
object StreamingNearDupUpdating {

  /** One content version of a doc, as decoded by the column stage. */
  case class DocVersion(docId: Long, ts: Timestamp, tsMs: Long,
      hash: String, sset: Seq[String], keys: Seq[String])

  /** Admit (kind 1, keys = the new version's) or retract (kind 0,
    * keys = the SUPERSEDED version's — they route the delta to the
    * buckets that must forget it; sset rides empty). `seq` is the
    * per-doc EMISSION sequence within stage 1's invocation: the bucket
    * stage replays one doc's deltas in exactly this order — a
    * (ts, kind)-style sort instead would reorder a same-timestamp
    * multi-version update into retract,admit,admit, skipping the second
    * admit on the docId-presence check and stranding the superseded
    * version's entries until horizon expiry.
    */
  case class DocDelta(kind: Int, seq: Int, docId: Long, ts: Timestamp,
      tsMs: Long, sset: Seq[String], keys: Seq[String])

  /** A delta exploded onto one (band, key) bucket. */
  case class DeltaHit(kind: Int, seq: Int, band: Int, key: String,
      docId: Long, ts: Timestamp, tsMs: Long, sset: Seq[String],
      keys: Seq[String])

  /** Stage-1 state: the last admitted version of this doc. */
  case class DocSnapshot(hash: String, tsMs: Long, keys: Seq[String])

  /** Stage-2 state: the bucket's live entries (a product wrapper —
    * tws value state wants a product encoder at the top level).
    */
  case class BucketState(entries: Seq[BandEntry])

  final class VersionProcessor(delayMs: Long)
      extends StatefulProcessor[Long, DocVersion, DocDelta] {

    @transient private var snap: ValueState[DocSnapshot] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      snap = getHandle.getValueState[DocSnapshot]("doc",
        Encoders.product[DocSnapshot], TTLConfig.NONE)

    private def rearm(tsMs: Long): Unit = {
      // tws timers accumulate (the TrendProcessor rule): drop any
      // pending expiry before arming the snapshot's current horizon.
      getHandle.listTimers().foreach(t => getHandle.deleteTimer(t))
      getHandle.registerTimer(tsMs + delayMs)
    }

    override def handleInputRows(key: Long, rows: Iterator[DocVersion],
        tv: TimerValues): Iterator[DocDelta] = {
      val wm = tv.getCurrentWatermarkInMs()
      // A snapshot past the horizon is already dead in every bucket —
      // treat it as absent so a late-returning doc re-admits cleanly.
      var cur = (if (snap.exists()) Option(snap.get()) else None)
        .filter(_.tsMs + delayMs > wm)
      val out = scala.collection.mutable.ArrayBuffer.empty[DocDelta]
      // Event-time order within the batch; same-instant distinct
      // versions tie-break on the content hash (deterministic — the
      // input carries no finer ordering to honor).
      for (v <- rows.toSeq.sortBy(r => (r.tsMs, r.hash))) {
        cur match {
          case Some(s) if s.hash == v.hash =>
            // Pure redelivery (at-least-once source): the admitted
            // version stands; no delta, no state movement.
            ()
          case Some(s) if v.tsMs < s.tsMs ||
              (v.tsMs == s.tsMs && v.hash < s.hash) =>
            // A redelivered OLDER version (at-least-once sources replay
            // history): the admitted newer version stands. Without this
            // skip the fold REGRESSES — final state would depend on
            // micro-batch boundaries ([v1,v2] in one batch ends at v2,
            // [v2][v1] across batches would end at v1). The (tsMs,
            // hash) order makes the fold's result the MAX delivered
            // version, batch-split-invariant by construction.
            ()
          case other =>
            other.foreach(s =>
              out += DocDelta(0, out.size, v.docId, v.ts, v.tsMs,
                Seq.empty, s.keys))
            out += DocDelta(1, out.size, v.docId, v.ts, v.tsMs,
              v.sset, v.keys)
            cur = Some(DocSnapshot(v.hash, v.tsMs, v.keys))
        }
      }
      cur match {
        case Some(s) => snap.update(s); rearm(s.tsMs)
        case None    => if (snap.exists()) snap.clear()
      }
      out.iterator
    }

    override def handleExpiredTimer(key: Long, tv: TimerValues,
        info: ExpiredTimerInfo): Iterator[DocDelta] = {
      if (snap.exists() &&
          snap.get().tsMs + delayMs <= tv.getCurrentWatermarkInMs())
        snap.clear()
      Iterator.empty
    }
  }

  final class BucketProcessor(delayMs: Long, threshold: Double,
      bucketCap: Int)
      extends StatefulProcessor[(Int, String), DeltaHit, NearDupPair] {

    @transient private var st: ValueState[BucketState] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      st = getHandle.getValueState[BucketState]("bucket",
        Encoders.product[BucketState], TTLConfig.NONE)

    private def persist(entries: Seq[BandEntry], wm: Long): Unit =
      if (entries.isEmpty) {
        if (st.exists()) st.clear()
        getHandle.listTimers().foreach(t => getHandle.deleteTimer(t))
      } else {
        st.update(BucketState(entries))
        getHandle.listTimers().foreach(t => getHandle.deleteTimer(t))
        getHandle.registerTimer(
          math.max(entries.map(_.tsMs + delayMs).min, wm + 1))
      }

    override def handleInputRows(key: (Int, String),
        rows: Iterator[DeltaHit], tv: TimerValues): Iterator[NearDupPair] = {
      val wm = tv.getCurrentWatermarkInMs()
      var entries = (if (st.exists()) st.get().entries else Seq.empty)
        .filter(e => e.tsMs + delayMs > wm)
      val out = scala.collection.mutable.ArrayBuffer.empty[NearDupPair]
      // (tsMs, docId, seq): one doc's deltas replay in stage 1's exact
      // emission order (seq) — retract-before-admit per VERSION, so a
      // same-timestamp multi-version update applies as
      // admit(v1),retract(v1),admit(v2) and never strands v1; distinct
      // docs at one instant order by id (deterministic; same-instant
      // admits pair symmetrically either way).
      for (r <- rows.toSeq.sortBy(h => (h.tsMs, h.docId, h.seq))) {
        if (r.kind == 0) {
          entries = entries.filterNot(_.docId == r.docId)
        } else if (!entries.exists(_.docId == r.docId) &&
            entries.size < bucketCap) {
          // The [[StreamingNearDup.pairsFromBucket]] verify: smallest
          // colliding band over both CURRENT key arrays emits; every
          // live entry is its doc's current version (retracts route by
          // the superseded keys), so the exactly-once rule is intact.
          for (e <- entries) {
            val first =
              (0 until Dedup.Bands).find(b => e.keys(b) == r.keys(b))
            if (first.contains(key._1)) {
              val j = jaccardOf(e.sset, r.sset)
              if (j >= threshold)
                out += NearDupPair(math.min(e.docId, r.docId),
                  math.max(e.docId, r.docId), j)
            }
          }
          entries = entries :+ BandEntry(r.docId, r.tsMs, r.sset, r.keys)
        }
      }
      persist(entries, wm)
      out.iterator
    }

    override def handleExpiredTimer(key: (Int, String), tv: TimerValues,
        info: ExpiredTimerInfo): Iterator[NearDupPair] = {
      val wm = tv.getCurrentWatermarkInMs()
      persist((if (st.exists()) st.get().entries else Seq.empty)
        .filter(e => e.tsMs + delayMs > wm), wm)
      Iterator.empty
    }
  }

  /** The updating near-dup query: docs (doc_id, text, `tsCol`) →
    * append-mode pairs under mutate-in-place version semantics.
    * Thresholds/shingling match [[graft.operators.Dedup.minhashNearDups]].
    */
  def streamingMinhashNearDupsUpdating(docs: DataFrame,
      tsCol: String = "ts", delay: String = "10 minutes", n: Int = 3,
      threshold: Double = 0.5,
      maxBucketDf: Int = Int.MaxValue): Dataset[NearDupPair] = {
    val spark = docs.sparkSession
    import spark.implicits._
    // tws requires the RocksDB state store provider (the TrendStreamTws
    // session conf).
    spark.conf.set(TrendStreamTws.rocksdbConf._1,
      TrendStreamTws.rocksdbConf._2)
    LocalCheckpointFileManager.install(spark)
    val delayMs = StreamingNearDup.delayToMs(delay)
    val bucketCap = if (maxBucketDf <= 0) Int.MaxValue else maxBucketDf
    val versions = docs.select(col("doc_id"), col(tsCol).as("ts"),
        // Content identity = the exact-dedup family hash (null ≡ empty):
        // stage 1's redelivery test keys on it.
        md5(coalesce(col("text"), lit(""))).as("hash"),
        TextAnalysis.wsTokens(col("text")).as("toks"))
      // Null event time / doc_id: the non-nullable encoder kill, same
      // rationale as the first-wins twin. Token-less docs are KEPT here
      // (unlike the first-wins gate): a blank v2 is a real update that
      // must retract v1 — it admits nothing (empty keys) but owns the
      // doc snapshot.
      .where(col("ts").isNotNull && col("doc_id").isNotNull)
      .withWatermark("ts", delay)
      .select(col("doc_id").as("docId"), col("ts"),
        unix_millis(col("ts")).as("tsMs"), col("hash"),
        Dedup.shinglesFromTokens(col("toks"), n).as("sset"))
      // Blank docs produce all-NULL band keys (empty sset minima) —
      // normalize to an EMPTY array so the admit explodes to nothing
      // while the version row still reaches stage 1. Band keys come
      // from the SHARED codegen kernel (graft.functions.BandKeysExpr ≡
      // Dedup.bandKeyArray, spec-pinned), so stream ≡ batch stays by
      // construction.
      .withColumn("keys",
        filter(graft.functions.TextFunctions.bandKeys(col("sset")),
          k => k.isNotNull))
      .select(col("docId"), col("ts"), col("tsMs"), col("hash"),
        col("sset"), col("keys"))
      .as[DocVersion]
    val deltas = versions
      .groupByKey(_.docId)
      // The eventTimeColumnName overload: output `ts` is re-assigned as
      // the event-time column, which is what makes the SECOND stateful
      // stage legal (a fresh withWatermark below a stateful op is an
      // AnalysisException; a typed stage strips the tag — both measured
      // in round 15).
      .transformWithState(new VersionProcessor(delayMs), "ts",
        OutputMode.Append())
    val hits = deltas
      .select(col("kind"), col("seq"), col("docId"), col("ts"),
        col("tsMs"), col("sset"), col("keys"),
        // OUTER, like every exploder over a derived array (the
        // InferFiltersFromGenerate rule); the null row an empty keys
        // array emits drops on the exploded attribute below.
        posexplode_outer(col("keys")).as(Seq("band", "key")))
      .where(col("key").isNotNull)
      .select(col("kind").cast("int").as("kind"),
        col("seq").cast("int").as("seq"),
        col("band").cast("int").as("band"), col("key"), col("docId"),
        col("ts"), col("tsMs"), col("sset"), col("keys"))
      .as[DeltaHit]
    hits.groupByKey(h => (h.band, h.key))
      .transformWithState(new BucketProcessor(delayMs, threshold,
        bucketCap), TimeMode.EventTime(), OutputMode.Append())
  }

  // ---- SimHash updating twin ---------------------------------------------

  /** One content version at the simhash tier: the 60-bit fingerprint +
    * its pigeonhole block keys (EMPTY for token-less docs — signature 0
    * is not similarity evidence, the batch votes-only rule; a blank v2
    * still owns the doc snapshot so it retracts v1).
    */
  case class SimVersion(docId: Long, ts: Timestamp, tsMs: Long,
      hash: String, simhash: Long, keys: Seq[Long])

  /** Admit/retract delta (the [[DocDelta]] discipline — `seq` is stage
    * 1's per-doc emission order; retracts route by the SUPERSEDED
    * version's block keys).
    */
  case class SimDelta(kind: Int, seq: Int, docId: Long, ts: Timestamp,
      tsMs: Long, simhash: Long, keys: Seq[Long])

  case class SimDeltaHit(kind: Int, seq: Int, blk: Int, key: Long,
      docId: Long, ts: Timestamp, tsMs: Long, simhash: Long)

  case class SimSnapshot(hash: String, tsMs: Long, simhash: Long,
      keys: Seq[Long])

  case class SimBucketState(entries: Seq[BlockEntry])

  /** Stage 1 at the simhash tier — [[VersionProcessor]]'s logic over
    * the lighter per-doc state (fingerprint + block keys instead of a
    * shingle set). Kept as a concrete twin rather than a generic
    * processor: tws state/output encoders want concrete products, and
    * the 30 shared lines don't buy an abstraction that would blur the
    * two twins' state shapes.
    */
  final class SimVersionProcessor(delayMs: Long)
      extends StatefulProcessor[Long, SimVersion, SimDelta] {

    @transient private var snap: ValueState[SimSnapshot] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      snap = getHandle.getValueState[SimSnapshot]("doc",
        Encoders.product[SimSnapshot], TTLConfig.NONE)

    private def rearm(tsMs: Long): Unit = {
      getHandle.listTimers().foreach(t => getHandle.deleteTimer(t))
      getHandle.registerTimer(tsMs + delayMs)
    }

    override def handleInputRows(key: Long, rows: Iterator[SimVersion],
        tv: TimerValues): Iterator[SimDelta] = {
      val wm = tv.getCurrentWatermarkInMs()
      var cur = (if (snap.exists()) Option(snap.get()) else None)
        .filter(_.tsMs + delayMs > wm)
      val out = scala.collection.mutable.ArrayBuffer.empty[SimDelta]
      for (v <- rows.toSeq.sortBy(r => (r.tsMs, r.hash))) {
        cur match {
          case Some(s) if s.hash == v.hash => ()
          case Some(s) if v.tsMs < s.tsMs ||
              (v.tsMs == s.tsMs && v.hash < s.hash) =>
            // Redelivered OLDER version — skip (the VersionProcessor
            // batch-split-invariance rule: the fold's result is the
            // MAX delivered version in (tsMs, hash) order).
            ()
          case other =>
            other.foreach(s =>
              out += SimDelta(0, out.size, v.docId, v.ts, v.tsMs,
                s.simhash, s.keys))
            out += SimDelta(1, out.size, v.docId, v.ts, v.tsMs,
              v.simhash, v.keys)
            cur = Some(SimSnapshot(v.hash, v.tsMs, v.simhash, v.keys))
        }
      }
      cur match {
        case Some(s) => snap.update(s); rearm(s.tsMs)
        case None    => if (snap.exists()) snap.clear()
      }
      out.iterator
    }

    override def handleExpiredTimer(key: Long, tv: TimerValues,
        info: ExpiredTimerInfo): Iterator[SimDelta] = {
      if (snap.exists() &&
          snap.get().tsMs + delayMs <= tv.getCurrentWatermarkInMs())
        snap.clear()
      Iterator.empty
    }
  }

  /** Stage 2 at the simhash tier: [[BucketProcessor]]'s delta replay
    * over [[StreamingNearDup.pairsFromBlockBucket]]'s emission rule —
    * smallest colliding BLOCK wins, Hamming verify map-side.
    */
  final class SimBucketProcessor(delayMs: Long, maxDist: Int,
      blocks: Int, width: Int, blockCap: Int)
      extends StatefulProcessor[(Int, Long), SimDeltaHit, SimhashPair] {

    @transient private var st: ValueState[SimBucketState] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      st = getHandle.getValueState[SimBucketState]("bucket",
        Encoders.product[SimBucketState], TTLConfig.NONE)

    private def persist(entries: Seq[BlockEntry], wm: Long): Unit =
      if (entries.isEmpty) {
        if (st.exists()) st.clear()
        getHandle.listTimers().foreach(t => getHandle.deleteTimer(t))
      } else {
        st.update(SimBucketState(entries))
        getHandle.listTimers().foreach(t => getHandle.deleteTimer(t))
        getHandle.registerTimer(
          math.max(entries.map(_.tsMs + delayMs).min, wm + 1))
      }

    override def handleInputRows(key: (Int, Long),
        rows: Iterator[SimDeltaHit],
        tv: TimerValues): Iterator[SimhashPair] = {
      val wm = tv.getCurrentWatermarkInMs()
      var entries = (if (st.exists()) st.get().entries else Seq.empty)
        .filter(e => e.tsMs + delayMs > wm)
      val out = scala.collection.mutable.ArrayBuffer.empty[SimhashPair]
      // (tsMs, docId, seq): stage 1's exact per-doc emission order —
      // see BucketProcessor for why a (ts, kind) sort strands a
      // same-timestamp multi-version update.
      for (r <- rows.toSeq.sortBy(h => (h.tsMs, h.docId, h.seq))) {
        if (r.kind == 0) {
          entries = entries.filterNot(_.docId == r.docId)
        } else if (!entries.exists(_.docId == r.docId) &&
            entries.size < blockCap) {
          val kb = blockKeysOf(r.simhash, blocks, width)
          for (e <- entries) {
            val ka = blockKeysOf(e.simhash, blocks, width)
            if ((0 until blocks).find(b => ka(b) == kb(b))
                .contains(key._1)) {
              val dist =
                java.lang.Long.bitCount(e.simhash ^ r.simhash).toLong
              if (dist <= maxDist)
                out += SimhashPair(math.min(e.docId, r.docId),
                  math.max(e.docId, r.docId), dist)
            }
          }
          entries = entries :+ BlockEntry(r.docId, r.tsMs, r.simhash)
        }
      }
      persist(entries, wm)
      out.iterator
    }

    override def handleExpiredTimer(key: (Int, Long), tv: TimerValues,
        info: ExpiredTimerInfo): Iterator[SimhashPair] = {
      val wm = tv.getCurrentWatermarkInMs()
      persist((if (st.exists()) st.get().entries else Seq.empty)
        .filter(e => e.tsMs + delayMs > wm), wm)
      Iterator.empty
    }
  }

  /** The MUTATE-IN-PLACE simhash near-dup twin — the
    * [[streamingMinhashNearDupsUpdating]] two-stage design ported to
    * the pigeonhole block keys (the round-16 verdict's deferred
    * sibling): a changed-content redelivery of a live doc_id retracts
    * the old fingerprint's block entries and admits the new ones.
    * Thresholds/blocking match
    * [[graft.operators.Dedup.simhashNearDups64]]; the first-wins twin
    * [[StreamingNearDup.streamingSimhashNearDups]] keeps its contract.
    * Append-mode semantics and the arrival-order stream ≡
    * batch-on-final-corpus claim are the minhash twin's, verbatim.
    */
  def streamingSimhashNearDupsUpdating(docs: DataFrame,
      tsCol: String = "ts", delay: String = "10 minutes",
      maxDist: Int = 3,
      maxBlockDf: Int = Int.MaxValue): Dataset[SimhashPair] = {
    // The batch pigeonhole guards (the fuzzyPairs rule — see the
    // first-wins twin for both failure shapes).
    require(maxDist >= 0, s"maxDist=$maxDist must be >= 0")
    require(maxDist + 1 <= 60,
      s"maxDist=$maxDist needs ${maxDist + 1} blocks over 60 bits — " +
        "block width would be 0 (all keys collide)")
    val spark = docs.sparkSession
    import spark.implicits._
    spark.conf.set(TrendStreamTws.rocksdbConf._1,
      TrendStreamTws.rocksdbConf._2)
    LocalCheckpointFileManager.install(spark)
    val delayMs = StreamingNearDup.delayToMs(delay)
    val blocks = maxDist + 1
    val width = 60 / blocks
    val blockCap = if (maxBlockDf <= 0) Int.MaxValue else maxBlockDf
    val versions = docs.select(col("doc_id"), col(tsCol).as("ts"),
        col("text"))
      // Null event time / doc_id: the non-nullable encoder kill (the
      // family rule). Token-less docs are KEPT — a blank v2 is a real
      // update that must retract v1; it admits nothing (empty keys).
      .where(col("ts").isNotNull && col("doc_id").isNotNull)
      .as[(Long, Timestamp, String)]
      .map { case (docId, ts, text) =>
        val toks = wsTokensScala(text)
        // Content identity = the exact-dedup family hash (null ≡ empty),
        // computed over the raw text like the minhash twin's column md5.
        val hash = md5Hex(if (text == null) "" else text)
        if (toks.isEmpty)
          SimVersion(docId, ts, ts.getTime, hash, 0L, Seq.empty)
        else {
          val sig = simhash64OfTokens(toks)
          SimVersion(docId, ts, ts.getTime, hash, sig,
            blockKeysOf(sig, blocks, width))
        }
      }
      // First watermark declaration — legal after a typed stage (the
      // first-wins simhash twin's flatMap precedent).
      .withWatermark("ts", delay)
    val deltas = versions
      .groupByKey(_.docId)
      .transformWithState(new SimVersionProcessor(delayMs), "ts",
        OutputMode.Append())
    val hits = deltas
      .select(col("kind"), col("seq"), col("docId"), col("ts"),
        col("tsMs"), col("simhash"),
        posexplode_outer(col("keys")).as(Seq("blk", "key")))
      .where(col("key").isNotNull)
      .select(col("kind").cast("int").as("kind"),
        col("seq").cast("int").as("seq"),
        col("blk").cast("int").as("blk"), col("key"), col("docId"),
        col("ts"), col("tsMs"), col("simhash"))
      .as[SimDeltaHit]
    hits.groupByKey(h => (h.blk, h.key))
      .transformWithState(new SimBucketProcessor(delayMs, maxDist,
        blocks, width, blockCap), TimeMode.EventTime(),
        OutputMode.Append())
  }
}
