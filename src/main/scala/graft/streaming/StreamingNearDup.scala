package graft.streaming

import java.nio.charset.StandardCharsets
import java.security.MessageDigest
import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

import graft.operators.{Dedup, TextAnalysis}

/** Streaming twin of the MinHash+LSH near-dup pipeline
  * ([[graft.operators.Dedup.minhashNearDups]]) — the dedup stage a crawl
  * pipeline runs WITHIN its ingest horizon (exact and chunk dedup already
  * have streaming twins; this closes the near-dup gap).
  *
  * Shape: the signature/band half is the batch pipeline's column algebra
  * evaluated per ROW (materialized md5 arrays → 8 sliced minima → 4 band
  * keys — map-side, no aggregation, so it composes with a stream); the
  * candidate+verify half is ONE `flatMapGroupsWithState` keyed on the
  * (band, key) bucket. State per bucket: the docs seen within the
  * watermark horizon (id, event-time, shingle set), expired by event-time
  * timeout exactly like `dropDuplicatesWithinWatermark` expires its keys —
  * state is bounded by the horizon, never the corpus.
  *
  * Exactly-once pair emission WITHOUT a second stateful dedup operator
  * (chaining another stateful op after fgws is where Spark's support gets
  * thin): a pair colliding in several bands is emitted only by the
  * SMALLEST colliding band index — both shingle sets are in hand, so each
  * bucket recomputes the pair's band keys (deterministic md5 algebra) and
  * checks whether it is the first. The stream≡batch spec pins this Scala
  * re-derivation to the batch Column implementation.
  *
  * Jaccard is verified exactly (set intersection over the carried shingle
  * sets) with the batch path's r6 quantization (floor(j·1e6+0.5)/1e6 —
  * the Quant.r6 discipline), so emitted pairs carry identical values to
  * [[graft.operators.Dedup.minhashNearDups]] when both docs fall inside
  * the horizon.
  */
object StreamingNearDup {

  /** One (band, key) bucket hit for an arriving document. `keys` carries
    * ALL of the doc's band keys, computed once map-side in the column
    * stage — the smallest-colliding-band check needs them, and a Scala
    * re-derivation per bucket would pay the 2-md5s-per-shingle signature
    * sweep 4 extra times per document (and widen the Scala/Column parity
    * surface the spec has to pin).
    */
  case class BandHit(band: Int, key: String, docId: Long, tsMs: Long,
      ts: Timestamp, sset: Seq[String], keys: Seq[String])

  /** A doc retained in bucket state until the watermark passes ts+delay.
    * `keys` carries the doc's 4 band keys, computed once on arrival —
    * recomputing the full MinHash signature (2 md5s per shingle) per
    * stored entry per arriving row would make the verify step quadratic
    * in bucket occupancy × shingle count.
    */
  case class BandEntry(docId: Long, tsMs: Long, sset: Seq[String],
      keys: Seq[String])

  case class NearDupPair(doc_a: Long, doc_b: Long, jaccard: Double)

  // ONE digest per thread + table-based hex, not per-call
  // getInstance/boxed format: md5Hex runs once per TOKEN on the simhash
  // ingest path, and the per-call provider lookup + 16 boxed f"%02x"
  // invocations were pure hot-loop overhead (the Multimodal
  // reusable-digest convention). MessageDigest.digest() resets the
  // instance, so the thread-local is always clean on entry.
  private val md5Tl = new ThreadLocal[MessageDigest] {
    override def initialValue(): MessageDigest =
      MessageDigest.getInstance("MD5")
  }

  private[streaming] def md5Hex(s: String): String =
    // The hex loop lives ONCE (Multimodal.bytesToHex) — this twin kept
    // a verbatim copy of the table walk until the round-15 wave.
    graft.operators.Multimodal.bytesToHex(
      md5Tl.get().digest(s.getBytes(StandardCharsets.UTF_8)))

  // The former Scala signature/band-key twins are gone: band keys now
  // ride from the COLUMN stage into the bucket handler (BandHit.keys),
  // so there is no Scala re-derivation left to keep in lockstep — the
  // stream≡batch spec pins the one remaining implementation end to end.

  /** Exact Jaccard with the batch path's Quant.r6 quantization:
    * floor(j·1e6 + 0.5)/1e6 in pure IEEE ops — the round-8 determinism
    * wave converted the batch side from round(·,6) to r6, and the twin
    * MUST mirror it (BigDecimal HALF_UP diverges from r6 at rationals
    * whose decimal repr straddles a .5 grid point, e.g. 41/640: HALF_UP
    * 0.064063 vs r6 0.064062 — a stream≡batch value and threshold split).
    */
  private[graft] def jaccardOf(a: Seq[String], b: Seq[String]): Double = {
    val sa = a.toSet; val sb = b.toSet
    val inter = sa.intersect(sb).size
    val j = inter.toDouble / (sa.size + sb.size - inter).toDouble
    math.floor(j * 1e6 + 0.5) / 1e6
  }

  private[streaming] def delayToMs(delay: String): Long = {
    val m = """(\d+)\s+(second|minute|hour|day)s?""".r
    delay.trim match {
      case m(n, unit) =>
        val base = unit match {
          case "second" => 1000L
          case "minute" => 60000L
          case "hour"   => 3600000L
          case "day"    => 86400000L
        }
        n.toLong * base
      case other =>
        throw new IllegalArgumentException(s"unparseable delay: '$other'")
    }
  }

  private def pairsFromBucket(bandIdx: Int, rows: Iterator[BandHit],
      state: GroupState[Seq[BandEntry]], delayMs: Long,
      threshold: Double, maxBucketDf: Int): Iterator[NearDupPair] = {
    val wm = state.getCurrentWatermarkMs()
    // Horizon expiry: an entry dies once the watermark passes ts+delay —
    // the same state discipline as dropDuplicatesWithinWatermark.
    var entries = state.getOption.getOrElse(Seq.empty)
      .filter(e => e.tsMs + delayMs > wm)
    val out = scala.collection.mutable.ArrayBuffer.empty[NearDupPair]
    if (!state.hasTimedOut) {
      // Deterministic intra-batch order; later rows pair with earlier
      // ones appended below, so same-batch pairs are found too.
      for (r <- rows.toSeq.sortBy(h => (h.tsMs, h.docId))) {
        // Re-arrival of a stored doc_id (at-least-once source, re-crawl)
        // is a no-op — FIRST delivery wins. The doc-keyed admission gate
        // upstream (dropDuplicatesWithinWatermark on doc_id) already
        // enforces this GLOBALLY — including for CHANGED-content
        // redeliveries, whose v1/v2 bucket straddle used to double-emit
        // a pair (the formerly pinned in-place-update limitation, fixed
        // by the gate; the exactly-once fixture now asserts one
        // emission). This per-bucket check stays as defense in depth:
        // appending a second copy would pair later docs against both
        // and emit duplicate rows (batch ends in distinct(); an
        // append-mode stream cannot).
        // A saturated bucket (>= maxBucketDf live entries) also stops
        // growing: the streaming analog of the batch hot-bucket cap —
        // it bounds the O(df²) pairing and the per-bucket state, at the
        // cost of a one-sided undercount (pairs already emitted below
        // the cap stand, unlike the batch cap which drops the whole hot
        // bucket — both UNDERCOUNT vs uncapped; stream ≡ batch holds at
        // the default uncapped settings).
        if (!entries.exists(_.docId == r.docId) &&
            entries.size < maxBucketDf) {
          for (e <- entries) {
            // Multi-band dedup: only the smallest colliding band emits.
            val first =
              (0 until Dedup.Bands).find(b => e.keys(b) == r.keys(b))
            if (first.contains(bandIdx)) {
              val j = jaccardOf(e.sset, r.sset)
              if (j >= threshold)
                out += NearDupPair(math.min(e.docId, r.docId),
                  math.max(e.docId, r.docId), j)
            }
          }
          entries = entries :+
            BandEntry(r.docId, r.tsMs, r.sset, r.keys)
        }
      }
    }
    if (entries.isEmpty) state.remove()
    else {
      state.update(entries)
      // Wake at the earliest expiry so an idle bucket still frees state.
      state.setTimeoutTimestamp(
        math.max(entries.map(_.tsMs + delayMs).min, wm + 1))
    }
    out.iterator
  }

  // ---- SimHash twin ------------------------------------------------------

  /** One (block, key) pigeonhole hit for an arriving document. */
  case class BlockHit(blk: Int, key: Long, docId: Long, tsMs: Long,
      ts: Timestamp, simhash: Long)

  case class BlockEntry(docId: Long, tsMs: Long, simhash: Long)

  case class SimhashPair(doc_a: Long, doc_b: Long, dist: Long)

  /** Scala twin of TextAnalysis.wsTokens' COLUMN semantics: Spark's
    * `trim` strips ONLY ASCII spaces (so the hand-rolled boundary scan
    * below must too — Java's String.trim strips every char <= U+0020,
    * which diverges on boundary CONTROL chars that are not regex
    * whitespace, e.g. "hello<NUL>"), then split on `\s+` with boundary
    * empties filtered exactly as the batch side now filters them.
    * Pinned to the Column implementation by the stream≡batch spec
    * (incl. the newline/tab-terminated fixture).
    */
  private[graft] def wsTokensScala(text: String): Array[String] = {
    if (text == null) return Array.empty // null ≡ empty, like the Column twin
    var s = 0; var e = text.length
    while (s < e && text.charAt(s) == ' ') s += 1
    while (e > s && text.charAt(e - 1) == ' ') e -= 1
    val t = text.substring(s, e)
    if (t.isEmpty) Array.empty
    else t.split("\\s+", -1).filter(_.nonEmpty)
  }

  /** Scala twin of the 60-bit SimHash column algebra
    * (Dedup.simhashes64): per-token 60-bit md5-derived value, bit-wise
    * ±1 votes over ALL tokens (repeats included, as the batch explode
    * counts them), sign → fingerprint bit. Pinned to the Column
    * implementation by the stream≡batch spec (incl. the whitespace
    * quirk fixture — see [[wsTokensScala]]).
    */
  private[graft] def simhash64Of(text: String): Long =
    simhash64OfTokens(wsTokensScala(text))

  private[streaming] def simhash64OfTokens(toks: Array[String]): Long = {
    if (toks.isEmpty) return 0L
    val votes = new Array[Long](60)
    toks.foreach { t =>
      val h = java.lang.Long.parseLong(md5Hex(t).substring(0, 15), 16)
      var b = 0
      while (b < 60) {
        votes(b) += (if (((h >> b) & 1L) == 1L) 1L else -1L); b += 1
      }
    }
    (0 until 60).foldLeft(0L) { (sig, b) =>
      if (votes(b) > 0) sig | (1L << b) else sig
    }
  }

  private[streaming] def blockKeysOf(simhash: Long, blocks: Int, width: Int): IndexedSeq[Long] =
    (0 until blocks).map(b => (simhash >> (b * width)) & ((1L << width) - 1))

  private def pairsFromBlockBucket(blkIdx: Int, blocks: Int, width: Int,
      rows: Iterator[BlockHit], state: GroupState[Seq[BlockEntry]],
      delayMs: Long, maxDist: Int, maxBlockDf: Int): Iterator[SimhashPair] = {
    val wm = state.getCurrentWatermarkMs()
    var entries = state.getOption.getOrElse(Seq.empty)
      .filter(e => e.tsMs + delayMs > wm)
    val out = scala.collection.mutable.ArrayBuffer.empty[SimhashPair]
    if (!state.hasTimedOut) {
      for (r <- rows.toSeq.sortBy(h => (h.tsMs, h.docId))) {
        // First delivery wins + saturated-bucket growth stop — see
        // pairsFromBucket for both contracts.
        if (!entries.exists(_.docId == r.docId) &&
            entries.size < maxBlockDf) {
          val kb = blockKeysOf(r.simhash, blocks, width) // once per row
          for (e <- entries) {
            // Pigeonhole dedup: only the smallest colliding block emits.
            val ka = blockKeysOf(e.simhash, blocks, width)
            if ((0 until blocks).find(b => ka(b) == kb(b)).contains(blkIdx)) {
              val dist = java.lang.Long.bitCount(e.simhash ^ r.simhash).toLong
              if (dist <= maxDist)
                out += SimhashPair(math.min(e.docId, r.docId),
                  math.max(e.docId, r.docId), dist)
            }
          }
          entries = entries :+ BlockEntry(r.docId, r.tsMs, r.simhash)
        }
      }
    }
    if (entries.isEmpty) state.remove()
    else {
      state.update(entries)
      state.setTimeoutTimestamp(
        math.max(entries.map(_.tsMs + delayMs).min, wm + 1))
    }
    out.iterator
  }

  /** Streaming twin of the 60-bit SimHash near-dup pipeline
    * ([[graft.operators.Dedup.simhashNearDups64]]): fingerprints computed
    * per row in the typed map stage (a stream admits no explode+groupBy
    * vote aggregation before another stateful op), pigeonhole block keys
    * exploded, ONE fgws per (block, key) bucket with horizon-expired
    * state — the same discipline as [[streamingMinhashNearDups]], with
    * far lighter state (one 60-bit fingerprint per doc instead of a
    * shingle set). Emits (doc_a, doc_b, dist) exactly once per pair
    * (smallest colliding block wins).
    */
  def streamingSimhashNearDups(docs: DataFrame, tsCol: String = "ts",
      delay: String = "10 minutes", maxDist: Int = 3,
      maxBlockDf: Int = Int.MaxValue): Dataset[SimhashPair] = {
    // The batch twin's pigeonhole guards (Dedup.simhashNearDupsImpl —
    // 'the fuzzyPairs rule'): maxDist = -1 divided by zero with no
    // operator context, and maxDist >= 60 made width 0 — every block
    // key masked to `x & 0 = 0`, collapsing ALL docs into the same
    // buckets with no error anywhere.
    require(maxDist >= 0, s"maxDist=$maxDist must be >= 0")
    require(maxDist + 1 <= 60,
      s"maxDist=$maxDist needs ${maxDist + 1} blocks over 60 bits — " +
        "block width would be 0 (all keys collide)")
    val spark = docs.sparkSession
    import spark.implicits._
    LocalCheckpointFileManager.install(spark)
    val delayMs = delayToMs(delay)
    val blocks = maxDist + 1
    val width = 60 / blocks
    // Batch cap convention: <= 0 = UNCAPPED (capHotKeys' sentinel). The
    // raw value would read as 'admit nothing' in the bucket handler —
    // a caller porting the batch default 0 would silently get a stream
    // that runs green and emits no pairs forever.
    val blockCap = if (maxBlockDf <= 0) Int.MaxValue else maxBlockDf
    val hits = docs.select(col("doc_id"), col(tsCol).as("ts"), col("text"))
      // A null event time has no place on a watermarked stream: it would
      // NPE in the typed flatMap below (before the watermark could drop
      // anything) and kill the whole query on one malformed event. Null
      // doc_id is the same non-nullable-encoder kill one field over.
      .where(col("ts").isNotNull && col("doc_id").isNotNull)
      .as[(Long, Timestamp, String)]
      .flatMap { case (docId, ts, text) =>
        val toks = wsTokensScala(text)
        // Token-less/blank docs pair with NOTHING — mirrors the batch
        // side's votes-only signature table (signature 0 is not
        // similarity evidence; f blank docs would otherwise form a
        // distance-0 clique on the all-zero block keys).
        if (toks.isEmpty) Seq.empty[BlockHit]
        else {
          val sig = simhash64OfTokens(toks)
          blockKeysOf(sig, blocks, width).zipWithIndex.map { case (k, b) =>
            BlockHit(b, k, docId, ts.getTime, ts, sig)
          }
        }
      }
      .withWatermark("ts", delay)
      // DOC-KEYED admission gate (the round-14 redelivery fix — see
      // streamingMinhashNearDups for the full rationale; the straddle
      // there is a pigeonhole-block straddle here, same double-emission
      // mechanism). Keyed on (docId, blk): every hashed doc emits
      // EXACTLY one hit per block index 0..blocks-1, so per-(doc,
      // block) first-wins ≡ globally first-wins — a changed-content
      // redelivery's hits carry the same (docId, blk) keys as v1's
      // whatever its new block VALUES are, and all of them drop. The
      // gate sits after the typed flatMap because fgws's event-time
      // timeout needs the watermark tag on its input and typed stages
      // strip column metadata (declaring the watermark twice is an
      // AnalysisException under allowMultiple).
      .dropDuplicatesWithinWatermark("docId", "blk")
    hits.groupByKey(h => (h.blk, h.key))
      .flatMapGroupsWithState(OutputMode.Append(),
        GroupStateTimeout.EventTimeTimeout()) {
        (key: (Int, Long), rows: Iterator[BlockHit],
            state: GroupState[Seq[BlockEntry]]) =>
          pairsFromBlockBucket(key._1, blocks, width, rows, state,
            delayMs, maxDist, blockCap)
      }
  }

  /** The streaming near-dup query: docs (doc_id, text, `tsCol`) →
    * append-mode pairs (doc_a, doc_b, jaccard) for near-dups arriving
    * within `delay` of each other. Thresholds/shingling match the batch
    * defaults.
    */
  def streamingMinhashNearDups(docs: DataFrame, tsCol: String = "ts",
      delay: String = "10 minutes", n: Int = 3,
      threshold: Double = 0.5,
      maxBucketDf: Int = Int.MaxValue): Dataset[NearDupPair] = {
    val spark = docs.sparkSession
    import spark.implicits._
    LocalCheckpointFileManager.install(spark)
    val delayMs = delayToMs(delay)
    // Batch cap convention: <= 0 = UNCAPPED (see streamingSimhashNearDups).
    val bucketCap = if (maxBucketDf <= 0) Int.MaxValue else maxBucketDf
    val toks = docs.select(col("doc_id"), col(tsCol).as("ts"),
        TextAnalysis.wsTokens(col("text")).as("toks"))
      // Null event times have no watermark semantics — they would decode
      // as a null tsMs the non-nullable BandHit encoder rejects,
      // terminating the query on one malformed event. Null doc_id is
      // the same encoder kill one field over (BandHit.docId: Long) —
      // one dirty-ingest row must not terminate the monitor.
      .where(col("ts").isNotNull && col("doc_id").isNotNull)
      // Token-less docs drop BEFORE the admission gate (twin
      // consistency with the simhash gate, which sits after its
      // token-dropping flatMap): they can never pair (empty sset → all
      // band keys NULL, dropped post-explode), so admitting one would
      // only burn the doc_id's first-wins slot — a dirty-ingest blank
      // first delivery would shadow the producer's real retry for the
      // whole horizon, and its gate state is pure overhead. Plain
      // attribute filter (toks is a materialized projection — no
      // generate, so no InferFiltersFromGenerate hazard).
      .where(size(col("toks")) > 0)
      .withWatermark("ts", delay)
      // DOC-KEYED admission gate (the round-14 redelivery fix): exactly
      // one version of a doc_id enters the band stage per horizon —
      // FIRST delivery wins GLOBALLY, not per bucket. Without it, a
      // CHANGED-content redelivery of a live doc_id was admitted in
      // buckets where v1 was absent while v1 survived in its own, and a
      // later doc colliding with v1 in one band and v2 in another
      // emitted the SAME (a, b) pair twice (each bucket's smallest-
      // colliding-band test ran against ITS stored key set) — the
      // formerly spec-pinned in-place-update limitation. The gate's
      // state is one doc_id per horizon (the same event-time expiry the
      // bucket state uses), and the per-bucket first-wins check below
      // stays as defense in depth. In-place content UPDATES remain
      // unsupported (v2 is dropped, not swapped in — retracting v1 from
      // its buckets is not expressible here); re-ingest changed content
      // under a fresh doc_id, the id-disjointness rule every index
      // family states.
      .dropDuplicatesWithinWatermark("doc_id")
    val sets = toks.select(col("doc_id"), col("ts"),
      Dedup.shinglesFromTokens(col("toks"), n).as("sset"))
    // Per-row signature via the SHARED codegen band-key kernel
    // (graft.functions.BandKeysExpr ≡ Dedup.bandKeyArray, spec-pinned —
    // the slice/band layout lives once; a hand-written copy here
    // desynchronized from a MinhashK / BandRows change silently). The
    // keys MATERIALIZE as one array column that rides into the bucket
    // handler (posexplode pairs each with its band index), so the
    // smallest-colliding-band check never re-derives a signature in
    // Scala.
    val hits = sets
      .withColumn("keys",
        graft.functions.TextFunctions.bandKeys(col("sset")))
      .select(col("doc_id"), col("ts"), col("sset"), col("keys"),
        // OUTER, never inner (the Search.postings round-10 lesson —
        // posexplode is an exploder too): the inner form lets
        // InferFiltersFromGenerate push an inferred size(keys) > 0
        // filter below the generate, re-inlining the whole
        // 2-md5s-per-shingle signature algebra into it — the
        // signature sweep paid TWICE per ingested row. The existing
        // post-explode isNotNull filter below already drops the null
        // row an empty keys array emits.
        posexplode_outer(col("keys")).as(Seq("band", "key")))
      .select(col("band").cast("int").as("band"), col("key"),
        col("doc_id").as("docId"), unix_millis(col("ts")).as("tsMs"),
        col("ts"), col("sset"), col("keys"))
      // Token-less docs carry an EMPTY sset (blank-doc clique fix in
      // shinglesFromTokens), so their slice minima — and thus every band
      // key — are NULL: drop them here, matching the batch pipeline's
      // post-explode null filter. Without this they would still group on
      // the (band, NULL) bucket and pin useless state until the horizon
      // (no pairs could emit — 0/0 jaccard is NaN — but the state and
      // the parity argument would both be accidental). Filtering the
      // post-explode attribute keeps the shingle expression out of any
      // pushed-down predicate.
      .where(col("key").isNotNull)
      // The watermark is declared ONCE, upstream of the admission gate
      // (redefining it below a stateful operator is an
      // AnalysisException under allowMultiple); the event-time tag
      // rides the untyped column pipeline through to the bucket stage.
      .as[BandHit]
    hits.groupByKey(h => (h.band, h.key))
      .flatMapGroupsWithState(OutputMode.Append(),
        GroupStateTimeout.EventTimeTimeout()) {
        (key: (Int, String), rows: Iterator[BandHit],
            state: GroupState[Seq[BandEntry]]) =>
          pairsFromBucket(key._1, rows, state, delayMs, threshold,
            bucketCap)
      }
  }
}
