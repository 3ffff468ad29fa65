package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.operators.Barrier.BarrierOps

/** Persisted MinHash-LSH dedup index — the DEDUP member of the persisted
  * index family (IVF/IVF-PQ for embeddings, the bucket-partitioned
  * postings for BM25): signature buckets and shingle sets computed ONCE
  * over the base corpus and written at rest, so deduplicating a daily
  * ingest batch never re-tokenizes, re-hashes, or re-shuffles the
  * 100 TB base. The serve-side question is the production one: "which
  * documents of this delta are near-dups of anything already ingested
  * (or of each other)?"
  *
  * Layout under `dir/` (one generation each at build; appends add
  * `-delta-<seq>` dirs):
  *  - `buckets/`: (band, key, doc_id) LSH membership rows, parquet-
  *    partitioned by `bkt = pmod(xxhash64(band, key), nBuckets)`.
  *  - `sets/`: (doc_id, sset) shingle sets for the Jaccard verify,
  *    partitioned by `sbkt = pmod(xxhash64(doc_id), nBuckets)`.
  *  - `meta/`: 1-row (n, buckets) — written LAST as the completion
  *    marker (the lex stats discipline), and the source of truth the
  *    serve/append paths read so the shingle width and bucket count
  *    can never drift from the build's.
  *
  * Serve reads are BOUNDED: the delta's bucket keys fold to ≤ nBuckets
  * literal `bkt IN (…)` values (static partition pruning — the
  * lexIndexTopK discipline), and the Jaccard verify reads only the
  * `sbkt` partitions its candidate base ids hash to. The base corpus
  * is never scanned in full on any serve path; both pruned reads move
  * hashes and candidate sets, not text.
  *
  * Append/commit/sweep are the shared [[GenManifest]] protocol (dirs on
  * disk before a manifest references them, dot-temp rename as the
  * atomic commit, one-commit reader grace on the sweep). Like the
  * lexical index — and unlike the frozen-book ANN appends — an append
  * here is equivalent to a rebuild EXACTLY and unconditionally: the
  * hash family is stateless (no trained book), so generation dirs are
  * just more rows of the same deterministic tables (spec-pinned).
  * SINGLE-WRITER; the caller owns doc_id disjointness across base and
  * every delta (a re-ingested id would pair with itself).
  */
object DedupIndex {

  private def bktCol(nBuckets: Int): Column =
    pmod(xxhash64(col("band"), col("key")), lit(nBuckets.toLong))
  private def sbktOf(id: Column, nBuckets: Int): Column =
    pmod(xxhash64(id), lit(nBuckets.toLong))

  /** The manifest schema: `bdirs` + `sdirs` + optional `tdirs` +
    * `meta`, with the (n, buckets) geometry riding in `metaVals`.
    */
  private[graft] val Family = GenManifest.Family("dedup",
    Seq("bdirs" -> "buckets", "sdirs" -> "sets"), Some("meta"),
    tombstones = true,
    ("""buckets|sets|meta|(buckets|sets)-(delta|compact)-\d{10}""" +
      """|tombs-\d{10}""").r)

  /** The (n, nBuckets) geometry: manifest-carried when present (zero
    * Spark jobs — the serve-path fusion), else the 1-row meta parquet
    * (an index adopted from before manifests carried it).
    */
  private def metaOf(spark: SparkSession, dir: String,
      lay: GenManifest.Layout): (Int, Int) =
    lay.metaVals match {
      case Some(mv) => (mv("n").toInt, mv("buckets").toInt)
      case None =>
        val meta = spark.read.parquet(s"$dir/${lay.meta}").head()
        (meta.getAs[Int]("n"), meta.getAs[Int]("buckets"))
    }

  /** The inverse of [[metaOf]]: the geometry every commit carries, so
    * serves never pay the meta parquet job; the meta table stays the
    * at-rest record + adoption fallback.
    */
  private def metaVals(geom: (Int, Int)): Option[Map[String, Long]] =
    Some(Map("n" -> geom._1.toLong, "buckets" -> geom._2.toLong))

  /** Write the bucket + set tables of `docs` under `dir/<bName>` and
    * `dir/<sName>`; returns the bucket row count (0 = nothing written
    * worth referencing — a token-less corpus emits no LSH rows). ONE
    * cached tokenization feeds both writes.
    */
  private def writeTables(docs: DataFrame, dir: String, n: Int,
      nBuckets: Int, bName: String, sName: String): Long =
    // Null-id rows are EXCLUDED from the at-rest tables (the family
    // rule servePairLegs/streamingIndexDups already apply on the read
    // side): a null-id doc's per-row signature would otherwise land as
    // phantom NULL-keyed bucket rows — counted by indexHealth and
    // producing spurious (delta, NULL) candidate rows per serve.
    Barrier.withCached(
        Dedup.shingleSets(docs.where(col("doc_id").isNotNull), n)) { sets =>
      val buckets = Dedup.bandBucketsFromSets(sets)
        .withColumn("bkt", bktCol(nBuckets))
        .barrier()
      try {
        val rows = buckets.count()
        if (rows > 0L) {
          GenManifest.writeParts(buckets, "bkt", dir, bName)
          // Sets for every doc WITH buckets (a shingle-less doc can
          // never be a candidate, and an empty partitioned write of a
          // degenerate delta must not leave a schema-less dir). The
          // size() filter is exactly that predicate — every non-empty
          // sset produces its Bands bucket rows by construction — and
          // costs ZERO exchanges, where a semi-join against the bucket
          // doc_ids would shuffle the corpus's shingle-set arrays.
          GenManifest.writeParts(sets.filter(size(col("sset")) > 0)
            .withColumn("sbkt", sbktOf(col("doc_id"), nBuckets)), "sbkt",
            dir, sName)
        }
        rows
      } finally Barrier.release(buckets)
    }

  /** BUILD the index over the base corpus. Rebuild-in-place (not
    * reader-concurrent — appends are the concurrent-reader path).
    * Fails loudly on a token-less corpus BEFORE writing the completion
    * marker: the invalid (schema-less buckets dir) state is
    * unrepresentable, the lex-build discipline.
    */
  def buildDedupIndex(docs: DataFrame, dir: String, n: Int = 3,
      nBuckets: Int = 64): Unit = {
    require(nBuckets > 0, s"nBuckets must be positive, got $nBuckets")
    val spark = docs.sparkSession
    // Validate BEFORE destroying the previous index: rebuild-in-place
    // with an accidentally-empty corpus (upstream filter bug) would
    // otherwise delete the good index FIRST and only then hit the
    // rows > 0 guard — old index gone, nothing to serve. The isEmpty
    // probe is a limit-1 early-exit scan, cheap against any real
    // corpus.
    // The probe sees the SAME null-id filter writeTables applies: an
    // all-null-id corpus must fail here, not after the delete below.
    require(!Dedup.shingleSets(docs.where(col("doc_id").isNotNull), n)
        .where(size(col("sset")) > 0).isEmpty,
      s"buildDedupIndex at $dir: corpus has no shingled documents — " +
        "nothing to index (previous index left intact)")
    // The shared reset, not an inline fs.delete (the resetDir rule: a
    // future reset-protocol change must land in every family at once).
    GenManifest.resetDir(spark, dir)
    val rows = writeTables(docs, dir, n, nBuckets, "buckets", "sets")
    require(rows > 0L,
      s"buildDedupIndex at $dir: corpus has no shingled documents — " +
        "nothing to index")
    // Meta table before the manifest: a readable COMMIT marks the build
    // complete (r18 — builds now commit a gen-0 manifest carrying the
    // geometry, so the very first serve already skips the meta job; a
    // crash between the meta write and the commit leaves no manifest =
    // the pre-r18 adoption layout, which reads fine).
    spark.range(1).select(lit(n).as("n"), lit(nBuckets).as("buckets"))
      .write.mode("overwrite").parquet(s"$dir/meta")
    GenManifest.commit(spark, dir, Family,
      Family.adopted.copy(metaVals = metaVals((n, nBuckets))))
  }

  /** APPEND an ingest batch: its bucket/set rows become a new
    * generation dir pair under the shared [[GenManifest.append]]. The
    * hash family is stateless, so append ≡ rebuild over base∪delta
    * EXACTLY (spec-pinned); a delta with no shingled docs commits
    * nothing.
    */
  def appendToDedupIndex(newDocs: DataFrame, dir: String): Unit = {
    val spark = newDocs.sparkSession
    GenManifest.append(spark, dir, Family) { lay =>
      val (n, nBuckets) = metaOf(spark, dir, lay)
      val newB = f"buckets-delta-${lay.seq + 1}%010d"
      val newS = f"sets-delta-${lay.seq + 1}%010d"
      Option.when(writeTables(newDocs, dir, n, nBuckets, newB, newS) > 0L)(
        lay.appended("bdirs" -> newB, "sdirs" -> newS)
          .copy(metaVals = metaVals((n, nBuckets))))
    }
  }

  /** COMPACT both tables under the shared [[GenManifest.compact]], the
    * bucket table through [[GenManifest.foldLive]]: rows rewrite
    * VERBATIM (the partition columns ride the read), so
    * serve-after-compact is bit-identical to serve-before (spec-pinned);
    * tombstoned docs are purged, and a fold with every document
    * retracted is refused.
    */
  def compactDedupIndex(spark: SparkSession, dir: String): Unit =
    GenManifest.compact(spark, dir, Family) { lay =>
      val newB = f"buckets-compact-${lay.seq + 1}%010d"
      val newS = f"sets-compact-${lay.seq + 1}%010d"
      GenManifest.foldLive(spark, dir, lay, "bdirs", "doc_id", "bkt", newB,
        s"compactDedupIndex at $dir: every document is retracted — an " +
          "all-empty index is unrepresentable; rebuild with " +
          "buildDedupIndex when content returns")
      // The set table skips foldLive's barrier: every doc with set rows
      // has bucket rows (writeTables), so the bucket fold's emptiness
      // guard already covers it, and a second materialization measured
      // ×1.11 on near.compact_s (perfbench, traced trend_live_low).
      GenManifest.writeParts(GenManifest.foldedLive(spark, dir, lay("sdirs"),
        lay.tDirs, "doc_id"), "sbkt", dir, newS)
      lay.compacted("bdirs" -> newB, "sdirs" -> newS)
        .copy(metaVals = metaVals(metaOf(spark, dir, lay)))
    }

  /** RETRACT documents — the shared [[GenManifest.retract]] keyed by
    * DOCUMENT id (the near-dup index's unit: its at-rest rows are
    * per-doc LSH memberships and shingle sets, so a doc-id tombstone
    * removes exactly that document's pairing power). The membership
    * check reads only the sets table's `sbkt` partitions the takedown
    * ids hash to (the serve discipline — takedowns are bounded, so this
    * reads slivers), and the tombstones partition the same way.
    * A takedown of every document is accepted; [[compactDedupIndex]]
    * refuses the empty fold.
    */
  def retractFromDedupIndex(docs: DataFrame, dir: String): Unit = {
    val spark = docs.sparkSession
    val lay = GenManifest.layout(spark, dir, Family)
    val (n, nBuckets) = metaOf(spark, dir, lay)
    val newT = f"tombs-${lay.seq + 1}%010d"
    GenManifest.retract(spark, dir, Family, docs, "doc_id", newT,
        Some("sbkt" -> sbktOf(col("doc_id"), nBuckets))) { h =>
      val sbkts = h.select(sbktOf(col("doc_id"), nBuckets)
          .cast("long").as("s"))
        .distinct().collect().map(_.getLong(0)).toIndexedSeq
      GenManifest.requireLive(spark, dir, lay, h,
        GenManifest.readWithGen(spark, dir, lay("sdirs"))
          .filter(col("sbkt").isin(sbkts: _*))
          .join(broadcast(h), Seq("doc_id"), "left_semi"),
        "doc_id", "retractFromDedupIndex", "documents")
      lay.retracted(newT).copy(metaVals = metaVals((n, nBuckets)))
    }
  }

  /** INCREMENTAL CORPUS SYNC — the shared [[GenManifest.sync]] over the
    * text diff ([[Curation.corpusDiff]]'s identity), so serves afterwards
    * equal a [[buildDedupIndex]] over v2 EXACTLY. The retraction leg is
    * intersected with v1's INGESTED membership (≥ 1 token — token-less
    * docs never had at-rest rows), and the append leg writes nothing for
    * docs that shingle to nothing in v2. Torn-sync recovery is the
    * append leg alone: `appendToDedupIndex(v2 ⋉ (added ∪ changed ids),
    * dir)`.
    */
  def syncDedupIndex(v1Docs: DataFrame, v2Docs: DataFrame,
      dir: String): Unit =
    GenManifest.sync(v1Docs, v2Docs, md5(coalesce(col("text"), lit(""))),
        ingested = Some("text" ->
          (size(TextAnalysis.wsTokens(col("text"))) > 0)))(
      retractFromDedupIndex(_, dir), appendToDedupIndex(_, dir))

  /** The ingest ACTION over [[dedupIndexPairs]]: every delta document
    * with its keep verdict. BASE WINS unconditionally — a delta doc
    * that near-dups anything already ingested is dropped regardless of
    * id order (the ingested copy cannot be un-ingested); within the
    * batch the PER-PAIR keep-lowest rule applies: every internal pair
    * drops its higher side. NOTE this is exactDedup's convention, where
    * duplicate groups are cliques and per-pair == per-group — it is NOT
    * dupClusters' connected-component keep-min: on a non-transitive
    * pair graph {(1,3), (2,3)} this keeps {1, 2} while the component
    * rule would keep {1} only. The per-pair rule is what the registered
    * oracle replays; do not "align" it with dupClusters.
    * Output: (doc_id, keep) for every delta doc.
    *
    * Cost: the pairs serve (two pruned index reads) plus joins against
    * the TINY materialized pair table — the delta is never re-hashed.
    */
  def dedupDeltaClean(spark: SparkSession, dir: String, delta: DataFrame,
      threshold: Double = 0.5): DataFrame = {
    // The legs keep their sidedness (internal = delta×delta with
    // doc_a < doc_b; cross = (delta_id, base_id)), so the drop set
    // needs NO membership joins: any cross pair drops its delta side
    // (base wins, either id order), an internal pair drops its higher
    // side (keep-lowest).
    val (internal, cross) = servePairLegs(spark, dir, delta, threshold)
    // Eagerly materialized verdict + finally-release: the legs are
    // barriered LogicalRDDs, and a lazily-read result would strand
    // their checkpoint blocks per invocation across a Verify/bench
    // suite (the heavyTokens discipline).
    try {
      // Null-id rows excluded from the verdict table too (servePairLegs
      // already drops them from the pair legs): a NULL doc_id row would
      // otherwise emit keep=true unconditionally — every verdict join is
      // null-rejecting, so it can never be marked a duplicate.
      cleanVerdicts(
          delta.where(col("doc_id").isNotNull)
            .select(col("doc_id")).distinct(),
          internal, cross)
        .barrier()
    } finally { Barrier.release(internal); Barrier.release(cross) }
  }

  /** The verdict tail over materialized pair legs, factored for the
    * plan lock (the barrier above hides it): tiny-table joins only.
    */
  private[graft] def cleanVerdicts(dset: DataFrame, internal: DataFrame,
      cross: DataFrame): DataFrame = {
    val dropIds = cross.select(col("delta_id").as("doc_id"))
      .unionByName(internal.select(col("doc_b").as("doc_id")))
      .distinct()
    // Explicit broadcast: the legs arrive as barriered LogicalRDDs whose
    // size statistics are UNKNOWN (defaultSizeInBytes = huge), so the
    // planner would sort-merge the delta against a drop set that is
    // bounded by the PAIR count — broadcast is right by construction,
    // and the verdict join never shuffles the delta (plan-locked).
    dset.join(broadcast(dropIds.withColumn("__dup", lit(true))),
        Seq("doc_id"), "left")
      .select(col("doc_id"), col("__dup").isNull.as("keep"))
  }

  /** STREAMING twin of the cross leg: ingest-time dedup ALERTS against
    * a FROZEN persisted index — every streamed doc that near-dups a
    * base doc emits (doc_id, base_id, jaccard), exactly the batch
    * serve's delta×base pairs on a replayed corpus (spec). The
    * [[Curation.streamingDecontaminate]] contract: an alert stream
    * (stateless, at-least-once re-delivery re-alerts; the sink dedupes
    * by pair key), not the exhaustive sweep — within-batch pairs stay
    * with [[graft.streaming.StreamingNearDup]]'s stateful twins, and
    * the bulk path stays the batch serve.
    *
    * Shape: the doc's 8-hash signature is computed PER ROW with
    * array-HOF mins over a materialized per-shingle md5 attribute
    * (value-identical to the batch groupBy-of-mins — same set, same
    * min), band keys explode through the outer+isNotNull discipline,
    * and TWO stream-static inner joins (buckets on (band, key), sets
    * on base_id) do the candidate + verify work with ZERO streaming
    * state — no watermark, nothing to expire. Exactly-once per pair
    * WITHIN a delivery via the smallest-colliding-band rule: the base
    * side's per-doc key array is a static table built once at stream
    * construction, so the emission test is a map-side array compare,
    * not a second stateful op.
    *
    * Cost honesty: the bucket and set tables are re-SCANNED per
    * micro-batch (streaming keys cannot fold to pruning literals) —
    * both are hash/set columns, not text, and a production deployment
    * buckets them by join key ([[graft.sources.Bucketing]]); the
    * per-base key ARRAY (an aggregation, not just a scan) is
    * materialized once at construction so no shuffle repeats per
    * batch. The 100 TB bulk dedup remains the batch serve with its
    * literal-pruned reads. The index must stay FROZEN for the stream's
    * lifetime (single-writer contract; manifest resolved once here).
    */
  def streamingIndexDups(spark: SparkSession, dir: String,
      stream: DataFrame, threshold: Double = 0.5): DataFrame = {
    val lay = GenManifest.layout(spark, dir, Family)
    val (n, _) = metaOf(spark, dir, lay)
    val bands = Dedup.Bands
    // Retraction-aware static sides: a taken-down doc must not alert
    // (the exact-index twin's rule) — with tombstone generations live
    // the per-batch scans resolve membership; compact the index to
    // fold them away and return these to bare scans.
    val baseBuckets =
      GenManifest.foldedLive(spark, dir, lay("bdirs"), lay.tDirs, "doc_id")
      .select(col("band"), col("key"), col("doc_id").as("base_id"))
    // Per-base-doc key array (band-indexed) for the smallest-colliding-
    // band emission test — static, built once per stream.
    val keyAggs = (0 until bands).map(i =>
      max(when(col("band") === i, col("key"))).as(s"bk$i"))
    // MATERIALIZED at stream construction: a stream-static join
    // re-evaluates its static side per micro-batch, so an unmaterialized
    // baseKeyArr would re-run the full bucket-table aggregation SHUFFLE
    // every batch; the barrier pins the (base_id, 4 keys) result — a
    // narrow table — for the stream's lifetime (the index is frozen by
    // contract, so the snapshot can never go stale; blocks release when
    // the driver drops the stream's references). baseSets stays a plain
    // per-batch parquet scan — checkpointing the corpus-sized set table
    // would be the curation-report cache mistake.
    val baseKeyArr = baseBuckets.groupBy(col("base_id"))
      .agg(keyAggs.head, keyAggs.tail: _*)
      .select(col("base_id"),
        array((0 until bands).map(i => col(s"bk$i")): _*).as("base_keys"))
      .barrier()
    val baseSets =
      GenManifest.foldedLive(spark, dir, lay("sdirs"), lay.tDirs, "doc_id")
      .select(col("doc_id").as("base_id"), col("sset").as("bset"))
    // Per-row signature: tokens and shingles materialized as their own
    // attributes FIRST (the interpreted-HOF trap), then the SHARED
    // codegen band-key kernel (graft.functions.BandKeysExpr ≡
    // Dedup.bandKeyArray, spec-pinned — the slice/band layout lives
    // once).
    val sigged = stream
      // Null-id guard, mirroring the other streaming twins: a null-id
      // ingest row that collides with a base doc would emit alerts with
      // NULL doc_id, and a sink deduping by (doc_id, base_id) would
      // collapse every null-id row onto one key.
      .where(col("doc_id").isNotNull)
      .withColumn("toks", TextAnalysis.wsTokens(col("text")))
      .withColumn("sset", Dedup.shinglesFromTokens(col("toks"), n))
    val withKeys = sigged.withColumn("skeys",
      graft.functions.TextFunctions.bandKeys(col("sset")))
    val exploded = withKeys
      .select(col("doc_id"), col("sset"), col("skeys"),
        posexplode_outer(col("skeys")).as(Seq("band", "key")))
      .where(col("key").isNotNull)
    val cand = exploded.join(baseBuckets, Seq("band", "key"))
    val once = cand.join(baseKeyArr, Seq("base_id"))
      // smallest colliding band: first index whose keys match on both
      // sides; only that band's row emits, so a pair colliding in two
      // bands never duplicates within a delivery.
      .withColumn("mincol", array_min(transform(
        sequence(lit(0), lit(bands - 1)),
        i => when(element_at(col("skeys"), i + 1) ===
          element_at(col("base_keys"), i + 1), i))))
      .where(col("band") === col("mincol"))
    once.join(baseSets, Seq("base_id"))
      // Self-pair guard (the MediaIndex streaming rule): a stream row
      // whose doc_id matches a base id — the id-disjointness contract
      // violated upstream — must not alert against itself.
      .where(col("doc_id") =!= col("base_id"))
      .withColumn("inter",
        size(array_intersect(col("sset"), col("bset"))))
      .withColumn("jaccard",
        Dedup.jaccardCol(col("inter"), size(col("sset")), size(col("bset"))))
      .filter(col("jaccard") >= threshold)
      .select(col("doc_id"), col("base_id"), col("jaccard"))
  }

  /** Takedown-pressure census (ONE row: live_docs, dead_docs,
    * dead_ppm) — the shared [[GenManifest.takedownCensus]] over the
    * shingle-set table's doc keys (one row per doc per generation, so
    * the per-key fold counts DOCS). [[indexHealth]] deliberately
    * reports LIVE membership only; this is the compact-now signal a
    * takedown-heavy history needs (dead rows still occupy both at-rest
    * tables until [[compactDedupIndex]] purges them).
    */
  def takedownHealth(spark: SparkSession, dir: String): DataFrame =
    GenManifest.takedownCensus(spark, dir, Family, "sdirs", "doc_id",
      "live_docs", "dead_docs")

  /** Bucket-health report over the persisted layout — the dedup analog
    * of [[Similarity.indexHealth]]'s retrain signal: per LSH band, the
    * key count, total membership rows, the hottest key's document
    * frequency, and how many keys exceed `hotDf` docs. A hot key is the
    * f² cost center of every candidate self-join ([[Dedup.capHotKeys]]'
    * fence) — an operator reads this table to decide when to run
    * exact-dedup first, raise `maxBucketDf`, or re-shard. Maintenance
    * scan like compaction: reads every generation unpruned (the bucket
    * table is hashes, not text — ~4 rows × 50 bytes per doc).
    */
  def indexHealth(spark: SparkSession, dir: String,
      hotDf: Int = 1): DataFrame = {
    val lay = GenManifest.layout(spark, dir, Family)
    // Health reflects LIVE membership: a retracted hot doc must not
    // keep inflating the df census an operator tunes maxBucketDf by.
    val bk = GenManifest.foldedLive(spark, dir, lay("bdirs"), lay.tDirs,
      "doc_id")
    val perKey = bk.groupBy(col("band"), col("key"))
      .agg(count(lit(1)).as("df"))
    perKey.groupBy(col("band"))
      .agg(count(lit(1)).as("n_keys"),
        sum(col("df")).as("member_rows"),
        max(col("df")).as("max_df"),
        sum(when(col("df") > hotDf, 1L).otherwise(0L)).as("hot_keys"))
  }

  /** The pruned union read both serve passes run, factored for the plan
    * lock: each generation dir is its own partitioned source and the
    * literal `IN` filter pushes through the union, so EVERY generation
    * scan partition-prunes independently (the readCells/lexIndexTopK
    * discipline).
    */
  private[graft] def readPruned(spark: SparkSession, dir: String,
      dirs: Seq[String], partCol: String, keys: Seq[Long]): DataFrame =
    GenManifest.readGenerations(spark, dir, dirs)
      .filter(col(partCol).isin(keys: _*))

  /** The pruned read with retraction applied — serves route here via
    * the shared [[GenManifest.readPrunedLive]] kernel; the
    * tombstone-free index (the common case) takes the bare pruned read
    * and its plan is unchanged.
    */
  private[graft] def readPrunedLive(spark: SparkSession, dir: String,
      dirs: Seq[String], partCol: String, keys: Seq[Long],
      tDirs: Seq[String], tm: Option[DataFrame] = None): DataFrame =
    GenManifest.readPrunedLive(spark, dir, dirs, partCol, keys, tDirs,
      "doc_id", tm)

  /** Near-duplicate pairs of an ingest batch against a persisted index
    * AND within the batch itself: every (doc_a, doc_b, jaccard) with
    * jaccard ≥ `threshold` where at least one side is a delta document.
    * Exactly [[Dedup.minhashNearDups]]' semantics over base∪delta,
    * restricted to delta-touching pairs (spec-pinned) — the production
    * ingest-dedup question, answered without touching the base corpus
    * beyond two pruned index reads.
    *
    * Read bounds: the delta's bucket keys fold to ≤ nBuckets literals
    * (`bkt IN` static pruning on the bucket read, across EVERY
    * generation independently); candidate base ids fold to ≤ nBuckets
    * `sbkt` literals for the set read. Both serve joins are hash joins
    * on hashes/ids; shingle text never shuffles.
    */
  def dedupIndexPairs(spark: SparkSession, dir: String, delta: DataFrame,
      threshold: Double = 0.5): DataFrame = {
    val (internal, cross) = servePairLegs(spark, dir, delta, threshold)
    // Eagerly materialized + finally-release, like [[dedupDeltaClean]]:
    // the registered Verify/Bench callers never Barrier.release, so a
    // lazy union over the two barriered legs would strand BOTH legs'
    // checkpoint block sets per serve for the session. One result-sized
    // barrier survives instead (its blocks ARE the product; the
    // ContextCleaner frees them when the caller drops the reference).
    try {
      // Self-pair guard (the MediaIndex serve rule): a caller violating
      // the id-disjointness contract (re-ingesting a base doc_id) makes
      // the cross leg emit (d, d) — which least/greatest would fold to
      // doc_a == doc_b, a pair minhashNearDups(base∪delta) structurally
      // never produces. Guarded HERE, not in servePairLegs: the clean
      // verdict's base-wins drop of a re-ingested doc via its self-pair
      // is the desired action there.
      internal.unionByName(cross
          .where(col("delta_id") =!= col("base_id"))
          .select(
            least(col("delta_id"), col("base_id")).as("doc_a"),
            greatest(col("delta_id"), col("base_id")).as("doc_b"),
            col("jaccard")))
        .barrier()
    } finally { Barrier.release(internal); Barrier.release(cross) }
  }

  /** The serve, with its two legs kept apart and MATERIALIZED: the
    * within-batch pairs (doc_a < doc_b, both delta) and the delta×base
    * pairs with their sidedness intact — [[dedupDeltaClean]] needs the
    * labels the pair product's least/greatest ordering erases, and
    * re-deriving them with membership joins would scan the delta ids
    * three more times. Callers release both legs when done.
    */
  private[graft] def servePairLegs(spark: SparkSession, dir: String,
      delta: DataFrame, threshold: Double): (DataFrame, DataFrame) = {
    import spark.implicits._
    def emptyCross =
      Seq.empty[(Long, Long, Double)].toDF("delta_id", "base_id", "jaccard")
    val lay = GenManifest.layout(spark, dir, Family)
    val (bDirs, sDirs, tDirs) = (lay("bdirs"), lay("sdirs"), lay.tDirs)
    val (n, nBuckets) = metaOf(spark, dir, lay)
    // Null-id delta rows drop up front (the streamingIndexDups rule,
    // batch edition): every pair/verdict join is null-rejecting, so a
    // null-id ingest doc would form no pairs and silently surface as
    // keep=true from the clean verdicts.
    val deltaSets = Dedup.shingleSets(
      delta.where(col("doc_id").isNotNull), n).barrier()
    try {
      // ONE signature+banding pass over the delta serves BOTH the index
      // probe and the within-batch pair verify (the capHotKeys
      // double-pipeline lesson — the first cut ran the banding twice
      // per serve). Per-row band keys (Dedup.bandBucketsFromSets): the
      // delta never shuffles for its signatures.
      val dBuckets = Dedup.bandBucketsFromSets(deltaSets)
        .withColumn("bkt", bktCol(nBuckets))
        .barrier()
      try {
        // Within-batch pairs: the shared verify tail over the already
        // materialized buckets (bucketsMaterialized — re-barriering a
        // projection of the dBuckets barrier would checkpoint an
        // unreleasable second copy per serve). Materialized on its OWN
        // DRIVER THREAD (guide §2.6 — the r18 serve fusion): the
        // within-batch leg and the cross-leg chain are independent
        // after dBuckets, so their jobs overlap instead of serializing
        // their per-job driver gaps. Released on any FAILURE below
        // (Verify catches per-query failures and continues — the
        // dupClusters failed-flag rule), while success hands ownership
        // to the caller.
        import scala.concurrent.{Await, ExecutionContext, Future}
        import scala.concurrent.duration.Duration
        val pool = java.util.concurrent.Executors.newSingleThreadExecutor()
        implicit val ec: ExecutionContext =
          ExecutionContext.fromExecutorService(pool)
        val fInternal = Future {
          spark.sparkContext.setJobDescription(
            "dedup-index serve: within-batch verify")
          try Dedup.verifiedLshPairs(deltaSets,
            dBuckets.drop("bkt"), threshold, bucketsMaterialized = true)
          finally spark.sparkContext.setJobDescription(null)
        }
        // The per-doc newest-tombstone table is computed ONCE per serve
        // and materialized (takedown-sized): both pruned reads used to
        // rebuild + re-broadcast it independently.
        val tmOpt =
          if (tDirs.isEmpty) None
          else Some(GenManifest.tombMax(spark, dir, tDirs, "doc_id")
            .barrier())
        var handedOver = false
        try {
        val bkts = dBuckets.select(col("bkt")).distinct()
          .collect().map(_.getLong(0)).toIndexedSeq
        val legs: (DataFrame, DataFrame) =
        if (bkts.isEmpty) // token-less delta
          (Await.result(fInternal, Duration.Inf), emptyCross)
        else {
          val baseBuckets = readPrunedLive(spark, dir, bDirs, "bkt",
              bkts, tDirs, tmOpt)
            .select(col("band"), col("key"), col("doc_id").as("base_id"))
          val cand = dBuckets.as("d")
            .join(baseBuckets, Seq("band", "key"))
            .select(col("d.doc_id").as("delta_id"), col("base_id"))
            .distinct()
            .barrier()
          try {
            val sbkts = cand
              .select(sbktOf(col("base_id"), nBuckets).as("s"))
              .distinct().collect().map(_.getLong(0)).toIndexedSeq
            if (sbkts.isEmpty)
              (Await.result(fInternal, Duration.Inf), emptyCross)
            else {
              val baseSets = readPrunedLive(spark, dir, sDirs, "sbkt",
                  sbkts, tDirs, tmOpt)
                .select(col("doc_id").as("base_id"),
                  col("sset").as("bset"))
              val cross = cand
                .join(deltaSets.as("sa"),
                  col("delta_id") === col("sa.doc_id"))
                .join(baseSets, Seq("base_id"))
                .withColumn("inter",
                  size(array_intersect(col("sa.sset"), col("bset"))))
                .withColumn("jaccard", Dedup.jaccardCol(col("inter"),
                  size(col("sa.sset")), size(col("bset"))))
                .filter(col("jaccard") >= threshold)
                .select(col("delta_id"), col("base_id"), col("jaccard"))
                .barrier() // materialize before cand's finally-release
              (Await.result(fInternal, Duration.Inf), cross)
            }
          } finally Barrier.release(cand)
        }
        handedOver = true
        legs
        } finally {
          pool.shutdown()
          if (!handedOver)
            // The internal leg may have materialized (or failed) on its
            // thread — release its checkpoint if it exists; its own
            // failure either surfaced through an Await above or is
            // superseded by the main chain's primary exception here.
            try Barrier.release(Await.result(fInternal, Duration.Inf))
            catch { case scala.util.control.NonFatal(_) => () }
          tmOpt.foreach(Barrier.release)
        }
      } finally Barrier.release(dBuckets)
    } finally Barrier.release(deltaSets)
  }
}
