package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.operators.Barrier.BarrierOps

/** Persisted PERCEPTUAL media index — the media member of the persisted
  * index family (text has DedupIndex + ExactDedupIndex + the lexical
  * postings; embeddings have IVF/IVF-PQ): the two-level DCT pHashes and
  * their pigeonhole block keys ([[Multimodal.perceptualFrameHash30s]] /
  * [[Multimodal.blockGeom]] — the SHARED kernels, so index rows can
  * never drift from the serve-time split) computed ONCE over the base
  * media corpus and written at rest. The serve-side question is the
  * ingest one: "which payloads of this batch are Hamming-tolerant
  * perceptual near-dups of anything already ingested, or of each
  * other?" — answered without re-hashing or scanning the base.
  *
  * Layout under `dir/` (one generation at build; appends add
  * `blocks-delta-<seq>` dirs):
  *  - `blocks/`: (b, bk, doc_id, v) — one row per block per distinct
  *    per-payload hash — parquet-partitioned by
  *    `bbkt = pmod(xxhash64(b, bk), nBuckets)`.
  *  - `meta/`: 1-row (frame_bytes, every_nth, max_dist, buckets) —
  *    written LAST as the completion marker and the single source of
  *    truth for the hash/block geometry (a serve with a different
  *    geometry would silently find nothing).
  *
  * Serve reads are BOUNDED: the batch's block keys fold to ≤ nBuckets
  * literal `bbkt IN (…)` values (static partition pruning, the
  * DedupIndex discipline), and the df cap is computed over
  * base ∪ delta rows for exactly the keys the batch touches — so the
  * serve result equals [[Multimodal.perceptualNearDups]] over
  * base ∪ delta restricted to delta-touching pairs EXACTLY
  * (spec-pinned; a pair both of whose sides are base docs is the bulk
  * pass's job, and no key only base docs touch can form one here).
  *
  * Append/commit/sweep are the shared [[GenManifest]] protocol. The
  * hash family is stateless (no trained book), so an append is
  * equivalent to a rebuild EXACTLY and unconditionally — generation
  * dirs are just more rows of the same deterministic table.
  * SINGLE-WRITER; the caller owns doc_id disjointness across base and
  * every delta (a re-ingested id would pair with itself).
  */
object MediaIndex {

  private def bbktCol(nBuckets: Int): Column =
    pmod(xxhash64(col("b"), col("bk")), lit(nBuckets.toLong))

  /** The manifest schema: `bdirs` + optional `tdirs` + `meta`, with the
    * hash geometry riding in `metaVals`.
    */
  private[graft] val Family = GenManifest.Family("media",
    Seq("bdirs" -> "blocks"), Some("meta"), tombstones = true,
    """blocks|meta|blocks-(delta|compact)-\d{10}|tombs-\d{10}""".r)

  /** The (frame_bytes, every_nth, max_dist, buckets) geometry:
    * manifest-carried when present (zero Spark jobs — the serve-path
    * fusion), else the 1-row meta parquet (an index adopted from before
    * manifests carried it).
    */
  private def metaOf(spark: SparkSession, dir: String,
      lay: GenManifest.Layout): (Int, Int, Int, Int) =
    lay.metaVals match {
      case Some(mv) =>
        (mv("frame_bytes").toInt, mv("every_nth").toInt,
          mv("max_dist").toInt, mv("buckets").toInt)
      case None =>
        val meta = spark.read.parquet(s"$dir/${lay.meta}").head()
        (meta.getAs[Int]("frame_bytes"), meta.getAs[Int]("every_nth"),
          meta.getAs[Int]("max_dist"), meta.getAs[Int]("buckets"))
    }

  /** The inverse of [[metaOf]]: the geometry every commit carries, so
    * serves never pay the meta parquet job; the meta table stays the
    * at-rest record + adoption fallback.
    */
  private def metaVals(geom: (Int, Int, Int, Int))
      : Option[Map[String, Long]] =
    Some(Map("frame_bytes" -> geom._1.toLong, "every_nth" -> geom._2.toLong,
      "max_dist" -> geom._3.toLong, "buckets" -> geom._4.toLong))

  /** The exploded block table of `payloads` — the one row shape every
    * write path and the serve's delta side share.
    */
  private def blockRows(payloads: DataFrame, frameBytes: Int,
      everyNth: Int, maxDist: Int, nBuckets: Int): DataFrame = {
    val spark = payloads.sparkSession
    val geom = Multimodal.blockGeom(frameBytes, maxDist)
    Multimodal.explodedBlockRows(
        Multimodal.hash30Rows(spark, payloads, frameBytes, everyNth),
        geom, "doc_id")
      .select(col("b"), col("bk"), col("doc_id"), col("v"))
      .withColumn("bbkt", bbktCol(nBuckets))
  }

  /** Write the exploded block table of `payloads` under `dir/<name>`;
    * returns the row count (0 = nothing written worth referencing — a
    * corpus of sub-frame payloads emits no hashes).
    */
  private def writeBlocks(payloads: DataFrame, dir: String,
      frameBytes: Int, everyNth: Int, maxDist: Int, nBuckets: Int,
      name: String): Long = {
    val bl = blockRows(payloads, frameBytes, everyNth, maxDist, nBuckets)
      .barrier()
    try {
      val rows = bl.count()
      if (rows > 0L) GenManifest.writeParts(bl, "bbkt", dir, name)
      rows
    } finally Barrier.release(bl)
  }

  /** BUILD the index over the base media corpus. Rebuild-in-place (not
    * reader-concurrent — appends are the concurrent-reader path).
    * Validates BEFORE destroying the previous index (the
    * buildDedupIndex rule): an accidentally-empty corpus must not
    * delete the good index first.
    */
  def buildMediaIndex(payloads: DataFrame, dir: String,
      frameBytes: Int = 16, everyNth: Int = 4, maxDist: Int = 2,
      nBuckets: Int = 64): Unit = {
    require(nBuckets > 0, s"nBuckets must be positive, got $nBuckets")
    val spark = payloads.sparkSession
    // The emptiness check and the written rows are ONE materialization:
    // a separate isEmpty probe re-executes the payloads plan, and a
    // nondeterministic input could pass the probe yet write zero rows —
    // AFTER resetDir destroyed the good index. The barrier makes
    // validate-before-destroy hold unconditionally.
    val bl = blockRows(payloads, frameBytes, everyNth, maxDist, nBuckets)
      .barrier()
    try {
      require(bl.count() > 0L,
        s"buildMediaIndex at $dir: corpus has no hashable payloads " +
          s"(every payload under $frameBytes bytes?) — nothing to index " +
          "(previous index left intact)")
      GenManifest.resetDir(spark, dir)
      GenManifest.writeParts(bl, "bbkt", dir, "blocks")
      // Meta table before the manifest: a readable COMMIT marks the
      // build complete (r18 — the gen-0 manifest carries the geometry,
      // so the first serve already skips the meta job; a crash between
      // the meta write and the commit leaves the pre-r18 adoption
      // layout, which reads fine).
      spark.range(1).select(
          lit(frameBytes).as("frame_bytes"), lit(everyNth).as("every_nth"),
          lit(maxDist).as("max_dist"), lit(nBuckets).as("buckets"))
        .write.mode("overwrite").parquet(s"$dir/meta")
      GenManifest.commit(spark, dir, Family, Family.adopted.copy(
        metaVals = metaVals((frameBytes, everyNth, maxDist, nBuckets))))
    } finally Barrier.release(bl)
  }

  /** APPEND an ingest batch: its block rows become a new generation dir
    * under the shared [[GenManifest.append]]. Stateless hash family ⇒
    * append ≡ rebuild over base ∪ delta EXACTLY (spec-pinned); a delta
    * with no hashable payload commits nothing.
    */
  def appendToMediaIndex(newPayloads: DataFrame, dir: String): Unit = {
    val spark = newPayloads.sparkSession
    GenManifest.append(spark, dir, Family) { lay =>
      val geom = metaOf(spark, dir, lay)
      val newB = f"blocks-delta-${lay.seq + 1}%010d"
      Option.when(writeBlocks(newPayloads, dir,
          geom._1, geom._2, geom._3, geom._4, newB) > 0L)(
        lay.appended("bdirs" -> newB).copy(metaVals = metaVals(geom)))
    }
  }

  /** COMPACT under the shared [[GenManifest.compact]] and
    * [[GenManifest.foldLive]]: rows rewrite VERBATIM (the partition
    * column rides the read), so serve-after-compact is bit-identical to
    * serve-before; tombstoned payloads are purged, and a fold with every
    * payload retracted is refused.
    */
  def compactMediaIndex(spark: SparkSession, dir: String): Unit =
    GenManifest.compact(spark, dir, Family) { lay =>
      val newB = f"blocks-compact-${lay.seq + 1}%010d"
      GenManifest.foldLive(spark, dir, lay, "bdirs", "doc_id", "bbkt", newB,
        s"compactMediaIndex at $dir: every payload is retracted — an " +
          "all-empty index is unrepresentable; rebuild with " +
          "buildMediaIndex when content returns")
      lay.compacted("bdirs" -> newB)
        .copy(metaVals = metaVals(metaOf(spark, dir, lay)))
    }

  /** RETRACT payloads — the shared [[GenManifest.retract]] keyed by doc
    * id, as in [[DedupIndex.retractFromDedupIndex]]. The membership
    * check scans the blocks table's (doc_id, gen) columns —
    * maintenance-grade like compaction (columnar-pruned longs, never
    * payloads). A takedown of every payload is accepted;
    * [[compactMediaIndex]] refuses the empty fold.
    */
  def retractFromMediaIndex(docs: DataFrame, dir: String): Unit = {
    val spark = docs.sparkSession
    val lay = GenManifest.layout(spark, dir, Family)
    val newT = f"tombs-${lay.seq + 1}%010d"
    GenManifest.retract(spark, dir, Family, docs, "doc_id", newT) { h =>
      GenManifest.requireLive(spark, dir, lay, h,
        GenManifest.readWithGen(spark, dir, lay("bdirs"))
          .select(col("doc_id"), col("__g"))
          .join(broadcast(h), Seq("doc_id"), "left_semi"),
        "doc_id", "retractFromMediaIndex", "payloads")
      lay.retracted(newT).copy(metaVals = metaVals(metaOf(spark, dir, lay)))
    }
  }

  /** INCREMENTAL CORPUS SYNC — the shared [[GenManifest.sync]] with the
    * diff unit moved to PAYLOAD BYTES: `md5(payload)` classifies a
    * re-encode that leaves text equal but bytes different as `changed`
    * (a text-hash diff would miss it — payloads are the index's
    * content). A changed doc's old-generation block rows die with its
    * tombstone while the re-ingest outlives it (per-ROW liveness), so
    * sync ≡ rebuild-on-v2 exactly (spec-pinned). The retraction leg
    * keeps only payloads with at least one sampled frame (length ≥
    * frame_bytes — sub-frame or null payloads never had at-rest rows);
    * the append leg writes nothing for frame-less v2 payloads. Torn-sync
    * recovery: `appendToMediaIndex(v2 ⋉ (added ∪ changed ids), dir)`.
    */
  def syncMediaIndex(v1Payloads: DataFrame, v2Payloads: DataFrame,
      dir: String): Unit = {
    val spark = v1Payloads.sparkSession
    val frameBytes =
      metaOf(spark, dir, GenManifest.layout(spark, dir, Family))._1
    GenManifest.sync(v1Payloads, v2Payloads,
        md5(coalesce(col("payload"), lit(Array.empty[Byte]))),
        ingested = Some("payload" -> (length(col("payload")) >= frameBytes)))(
      retractFromMediaIndex(_, dir), appendToMediaIndex(_, dir))
  }

  /** Takedown-pressure census (ONE row: live_docs, dead_docs,
    * dead_ppm) — the shared [[GenManifest.takedownCensus]] over the
    * block table's doc keys. [[mediaIndexHealth]] deliberately reports
    * LIVE membership only; this is the companion an operator reads to
    * decide when to compact a takedown-heavy index (dead rows still
    * occupy block files until [[compactMediaIndex]] purges them).
    */
  def takedownHealth(spark: SparkSession, dir: String): DataFrame =
    GenManifest.takedownCensus(spark, dir, Family, "bdirs", "doc_id",
      "live_docs", "dead_docs")

  /** Per-block hot-key report over the index at rest (the indexHealth
    * analog): key count, membership rows, hottest key, and keys more
    * than `hotDf` payload-hashes deep — what an operator reads before
    * choosing `maxBlockDf`. Maintenance scan like compaction (hashes,
    * not payloads — 3 longs per row).
    */
  def mediaIndexHealth(spark: SparkSession, dir: String,
      hotDf: Int = 1): DataFrame = {
    val lay = GenManifest.layout(spark, dir, Family)
    // Health reflects LIVE membership (the DedupIndex rule).
    val bk = GenManifest.foldedLive(spark, dir, lay("bdirs"), lay.tDirs,
      "doc_id")
    bk.groupBy(col("b"), col("bk"))
      .agg(count(lit(1)).as("df"))
      .groupBy(col("b"))
      .agg(count(lit(1)).as("n_keys"),
        sum(col("df")).as("member_rows"),
        max(col("df")).as("max_df"),
        sum(when(col("df") > hotDf, 1L).otherwise(0L)).as("hot_keys"))
  }

  /** The pruned union read the serve runs, factored for the plan lock:
    * each generation dir is its own partitioned source and the literal
    * `IN` filter pushes through the union, so EVERY generation scan
    * partition-prunes independently.
    */
  private[graft] def readPruned(spark: SparkSession, dir: String,
      dirs: Seq[String], keys: Seq[Long]): DataFrame =
    GenManifest.readGenerations(spark, dir, dirs)
      .filter(col("bbkt").isin(keys: _*))

  /** INGEST-TIME alert stream of (doc_id, base_id, shared) perceptual
    * near-dup pairs between arriving payloads and the persisted index —
    * the media analog of [[DedupIndex.streamingIndexDups]], and the same
    * contract: a stateless alert stream (at-least-once re-delivery
    * re-alerts; the sink dedupes by pair key), not the exhaustive sweep.
    * Within-stream pairs and the bulk pass stay with the batch serve.
    *
    * The base block rows come from the index AT REST (every live
    * generation, read and materialized ONCE at stream construction) —
    * they are the SAME deterministic table
    * [[Multimodal.streamingPerceptualNearDups]] computes from live
    * payloads, so alert semantics are identical by construction
    * (spec-pinned) and ingest never re-hashes the base. The index must
    * stay frozen for the stream's lifetime (single-writer contract:
    * run appends between stream restarts).
    */
  def streamingMediaIndexDups(spark: SparkSession, dir: String,
      stream: DataFrame, minShared: Int = 2,
      maxBlockDf: Int = 100): DataFrame = {
    val lay = GenManifest.layout(spark, dir, Family)
    val geom = metaOf(spark, dir, lay)
    // Retraction-aware: a taken-down payload must not alert.
    val bbl = GenManifest.foldedLive(spark, dir, lay("bdirs"), lay.tDirs,
        "doc_id")
      .select(col("doc_id").as("base_id"), col("v"), col("b"), col("bk"))
    Multimodal.streamingNearCore(spark, bbl, stream,
      geom._1, geom._2, geom._3, minShared, maxBlockDf)
  }

  /** Hamming-tolerant perceptual near-dup pairs of an ingest batch
    * against the persisted index AND within the batch itself: every
    * (doc_a, doc_b, shared) with `shared` ≥ `minShared` verified hash
    * pairs where at least one side is a batch payload — EXACTLY
    * [[Multimodal.perceptualNearDups]] over base ∪ delta restricted to
    * delta-touching pairs (spec-pinned). The df cap is the union df for
    * every key the batch touches: the batch's own block rows plus the
    * base rows read under the pruned `bbkt IN` filter (all base rows of
    * a touched key live in that key's partition, so the pruned read
    * sees the full count).
    *
    * Cost: hash the batch (map-only), one ≤ nBuckets-literal pruned
    * block read, hash-joins on longs. Base payloads never load; no
    * full base scan on any serve path.
    */
  def mediaIndexPairs(spark: SparkSession, dir: String, delta: DataFrame,
      minShared: Int = 2, maxBlockDf: Int = 100): DataFrame = {
    // The batch-family convention (perceptualNearDups): minShared <= 0
    // must fail loudly, not emit every single-hash candidate pair.
    require(minShared >= 1, s"minShared=$minShared must be >= 1")
    withCandidateLegs(spark, dir, delta, maxBlockDf) {
      case None =>
        import spark.implicits._
        Seq.empty[(Long, Long, Long)].toDF("doc_a", "doc_b", "shared")
      case Some(legs) =>
        // Normalize the cross leg so va belongs to doc_a, union with the
        // within-batch leg — disjoint by the caller's id-disjointness
        // contract; the distinct dedupes multi-block discoveries exactly
        // like the batch op. Self-pair guard HERE, not in the shared
        // legs (the DedupIndex split): the batch op's doc_a < doc_b
        // structurally excludes self pairs, so a caller violating the
        // id-disjointness contract must not make the PAIRS serve emit
        // one — while the clean verdict deliberately keeps them
        // (base-wins dropping a re-ingested doc IS the intended
        // verdict; servePairLegs makes the same choice).
        val cross = legs.cross
          .where(col("d_id") =!= col("b_id"))
          .select(
          least(col("d_id"), col("b_id")).as("doc_a"),
          greatest(col("d_id"), col("b_id")).as("doc_b"),
          when(col("d_id") < col("b_id"), col("dv"))
            .otherwise(col("bv")).as("va"),
          when(col("d_id") < col("b_id"), col("bv"))
            .otherwise(col("dv")).as("vb"))
        verifiedPairs(
          legs.internal.select(col("doc_a"), col("doc_b"),
              col("va"), col("vb"))
            .unionByName(cross), legs.maxDist, minShared)
          .barrier() // materialized so the finallys can release inputs
    }
  }

  /** Ingest CLEAN verdicts against the persisted index — the media
    * member of the `doc_dedup_index_clean` / `doc_exact_index_clean`
    * contract: (doc_id, keep) for every delta payload, where a delta doc
    * DROPS iff it perceptually near-dups anything already indexed (base
    * wins unconditionally, either id order) or it is the HIGHER side of
    * a within-batch pair (keep-lowest). Per-PAIR verdicts like the dedup
    * index (transitive closure is [[Dedup.dupClusters]]' job); the legs
    * keep their sidedness so the drop set needs no membership joins.
    */
  def mediaIndexClean(spark: SparkSession, dir: String, delta: DataFrame,
      minShared: Int = 2, maxBlockDf: Int = 100): DataFrame = {
    require(minShared >= 1, s"minShared=$minShared must be >= 1")
    // Null-id rows excluded from the verdict table too (the
    // dedupDeltaClean rule): every verdict join is null-rejecting, so a
    // NULL doc_id row could never be marked a duplicate.
    val dset = delta.where(col("doc_id").isNotNull)
      .select(col("doc_id")).distinct()
    withCandidateLegs(spark, dir, delta, maxBlockDf) {
      case None =>
        dset.select(col("doc_id"), lit(true).as("keep"))
      case Some(legs) =>
        // Per-leg verification (pair-disjoint legs under the
        // id-disjointness contract, so the per-pair shared counts equal
        // the joint computation's): internal pairs drop doc_b, cross
        // pairs drop the delta side — DedupIndex.cleanVerdicts is the
        // ONE definition of that fold.
        val internalPairs =
          verifiedPairs(legs.internal, legs.maxDist, minShared)
        val crossPairs = verifiedPairs(
          legs.cross.select(col("d_id").as("delta_id"),
            col("b_id").as("doc_b2"), col("dv").as("va"),
            col("bv").as("vb")),
          legs.maxDist, minShared, keyA = "delta_id", keyB = "doc_b2")
        DedupIndex.cleanVerdicts(dset, internalPairs, crossPairs)
          .barrier()
    }
  }

  /** Dedupe multi-block discoveries, verify the Hamming distance, and
    * count distinct verified hash pairs per doc pair — the serve tail
    * both queries share. `cand` carries (keyA, keyB, va, vb).
    */
  // The distinct/Hamming-verify/minShared serve tail lives ONCE in
  // Multimodal.verifiedPairs — shared with the batch perceptualNearDups
  // op (a verification-rule change lands in one place).
  private def verifiedPairs(cand: DataFrame, maxDist: Int, minShared: Int,
      keyA: String = "doc_a", keyB: String = "doc_b"): DataFrame =
    Multimodal.verifiedPairs(cand, maxDist, minShared, keyA, keyB)

  /** The sided candidate legs every serve shares. `internal` =
    * within-batch candidates (both sides delta, doc_a < doc_b); `cross`
    * = (d_id, b_id, dv, bv) delta × base candidates with the sidedness
    * INTACT (the clean verdict needs it; the pairs query normalizes).
    */
  private final case class ServeLegs(internal: DataFrame, cross: DataFrame,
      maxDist: Int)

  /** Build the df-capped candidate legs of a serve and hand them to
    * `body`; None when the delta hashes to nothing. The barriers backing
    * the legs are released on EVERY exit, so `body` must materialize
    * (barrier) anything it returns.
    */
  private def withCandidateLegs[A](spark: SparkSession, dir: String,
      delta: DataFrame, maxBlockDf: Int)(
      body: Option[ServeLegs] => A): A = {
    require(maxBlockDf >= 1, s"maxBlockDf=$maxBlockDf must be >= 1")
    val lay = GenManifest.layout(spark, dir, Family)
    val (frameBytes, everyNth, maxDist, nBuckets) = metaOf(spark, dir, lay)
    // Null-id batch rows drop up front (the servePairLegs rule): every
    // join below is null-rejecting and a null-id payload would silently
    // form no pairs.
    val dbl = blockRows(delta.where(col("doc_id").isNotNull),
        frameBytes, everyNth, maxDist, nBuckets)
      // Barrier BEFORE collecting bucket literals (the servePairLegs
      // discipline): a nondeterministic delta could otherwise split the
      // pruned scan from the probed candidates.
      .barrier()
    try {
      val bbkts = dbl.select(col("bbkt")).distinct()
        .collect().map(_.getLong(0)).toIndexedSeq
      if (bbkts.isEmpty) return body(None)
      // Base rows for exactly the keys the batch touches — the join on
      // (b, bk) restricts the pruned partitions to touched keys, and
      // the distinct key list broadcast keeps the base side a hash
      // probe, never a shuffle of the index.
      // Retraction-aware pruned read — the shared
      // GenManifest.readPrunedLive kernel (pruning survives the __g
      // projection + liveness join, plan-locked in PlanShapeSpec; the
      // tombstone-free plan — every registered query today — is
      // unchanged).
      val basePruned = GenManifest.readPrunedLive(spark, dir, lay("bdirs"),
        "bbkt", bbkts, lay.tDirs, "doc_id")
      val baseTouch = basePruned
        .join(broadcast(dbl.select(col("b"), col("bk")).distinct()),
          Seq("b", "bk"))
        .select(col("b"), col("bk"), col("doc_id"), col("v"))
        .barrier() // read twice: df count + the cross candidate leg
      try {
        // Union df per touched key = batch rows + base rows — equal by
        // construction to perceptualNearDups' df over base ∪ delta for
        // every key that can form a delta-touching pair.
        val keep = dbl.select(col("b"), col("bk"))
          .unionByName(baseTouch.select(col("b"), col("bk")))
          .groupBy(col("b"), col("bk"))
          .agg(count(lit(1)).as("df"))
          .filter(col("df") <= maxBlockDf)
          .select(col("b"), col("bk"))
        val dKept = dbl.join(keep, Seq("b", "bk"))
        val bKept = baseTouch.join(keep, Seq("b", "bk"))
        val internal = dKept.select(col("b"), col("bk"),
            col("doc_id").as("doc_a"), col("v").as("va"))
          .join(dKept.select(col("b"), col("bk"),
            col("doc_id").as("doc_b"), col("v").as("vb")), Seq("b", "bk"))
          .where(col("doc_a") < col("doc_b"))
        val cross = dKept.select(col("b"), col("bk"),
            col("doc_id").as("d_id"), col("v").as("dv"))
          .join(bKept.select(col("b"), col("bk"),
            col("doc_id").as("b_id"), col("v").as("bv")), Seq("b", "bk"))
        // NOTE: no self-pair guard here — the PAIRS query applies it at
        // normalization, the CLEAN verdict deliberately does not (the
        // DedupIndex.servePairLegs convention: base-wins dropping a
        // re-ingested doc via its self-pair is the intended verdict).
        body(Some(ServeLegs(internal, cross, maxDist)))
      } finally Barrier.release(baseTouch)
    } finally Barrier.release(dbl)
  }
}
