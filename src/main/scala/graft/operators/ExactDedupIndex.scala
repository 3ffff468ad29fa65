package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, Literal}
import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
import org.apache.spark.sql.GraftExpressionShim.{column, expression}
import org.apache.spark.util.sketch.BloomFilter
import graft.operators.Barrier.BarrierOps

/** Broadcast Bloom-filter kernel over Spark's built-in sketch — the
  * missing-scale primitive for "is this key already in the 100 TB side?"
  * questions (Bloom, CACM 1970; the same machinery Catalyst's
  * InjectRuntimeFilter uses for runtime join pruning, here exposed as an
  * explicit operator building block).
  *
  * Mechanics: the filter is built DISTRIBUTIVELY by
  * `BloomFilterAggregate` (each partition fills a local bitmap over
  * `xxhash64(key)`, merge is bitwise OR — the build never shuffles the
  * input, only ~numBits/8-byte buffers), and tested by the codegen'd
  * `BloomFilterMightContain` predicate against the serialized bytes as a
  * BINARY literal — a map-side filter that rides whole-stage codegen.
  *
  * Determinism contract: a Bloom filter has false POSITIVES only, never
  * false negatives, so any operator that exact-verifies the positives
  * computes a result INDEPENDENT of the filter's sizing — the filter is
  * invisible in the semantics and only shapes how much data reaches the
  * verify join. That is what makes the operators below oracle-checkable:
  * the DuckDB oracle replays the plain exact join, no bloom anywhere.
  *
  * Sizing: `numBits` per `expectedItems` sets the false-positive rate
  * (~8 bits/item ≈ 2%); both are capped by Spark's
  * `spark.sql.optimizer.runtime.bloomFilter.maxNumItems` /
  * `.maxNumBits` session confs (defaults 4e6 / 6.7e7). Past the caps,
  * use the SHARDED filter ([[shardedBloomBytes]] /
  * [[mightContainSharded]]): N per-shard filters each under the caps,
  * probed through a bounded when-chain of foldable literals —
  * `BloomFilterMightContain` requires a foldable filter child, which
  * is exactly why one giant per-row-selected filter is inexpressible
  * but a shard chain is. (1e10 items at 8 bits/item is a 10 GB filter
  * either way — shard AND raise the confs only as far as each shard
  * needs.)
  */
private[graft] object Bloom {

  /** Serialized Bloom filter over `xxhash64(key)` of every row of
    * `rows`. Distributed build (map-side partial bitmaps, OR-merge);
    * the driver holds only the final ~numBits/8 bytes. An EMPTY input
    * yields the all-zeros filter (every probe negative) rather than the
    * NULL the aggregate returns, so callers never branch on null bytes.
    */
  def bloomBytes(rows: DataFrame, key: Column, expectedItems: Long,
      numBits: Long): Array[Byte] = {
    require(expectedItems > 0,
      s"expectedItems=$expectedItems must be positive")
    require(numBits > 0, s"numBits=$numBits must be positive")
    // Above-cap sizing must fail LOUDLY here: BloomFilterAggregate
    // silently clamps both params to the session confs (quietly raising
    // the FPR), while the empty-input branch below builds an UNCLAMPED
    // filter — the same arguments would yield two incompatible filter
    // geometries and the append path's merge ≡ rebuild guarantee would
    // silently depend on the confs matching at build and append time.
    val conf = rows.sparkSession.conf
    val maxItems = conf.get(
      "spark.sql.optimizer.runtime.bloomFilter.maxNumItems").toLong
    val maxBits = conf.get(
      "spark.sql.optimizer.runtime.bloomFilter.maxNumBits").toLong
    require(expectedItems <= maxItems,
      s"expectedItems=$expectedItems exceeds " +
        s"spark.sql.optimizer.runtime.bloomFilter.maxNumItems=$maxItems " +
        "— raise the session conf for a larger membership set")
    require(numBits <= maxBits,
      s"numBits=$numBits exceeds " +
        s"spark.sql.optimizer.runtime.bloomFilter.maxNumBits=$maxBits " +
        "— raise the session conf for a larger filter")
    val agg = column(new BloomFilterAggregate(
      expression(xxhash64(key)),
      Literal(expectedItems), Literal(numBits)).toAggregateExpression())
    val row = rows.agg(agg.as("bf")).head()
    if (row.isNullAt(0)) serialize(BloomFilter.create(expectedItems, numBits))
    else row.getAs[Array[Byte]](0)
  }

  /** Map-side membership test of `xxhash64(key)` against a serialized
    * filter — `BloomFilterMightContain` over a BINARY literal, fully
    * codegen'd. True = maybe present (verify exactly); false = provably
    * absent. NULL keys probe as the hash of the seed like any other
    * value — callers own their null-key contract BEFORE this test.
    */
  def mightContain(bloom: Array[Byte], key: Column): Column =
    column(new BloomFilterMightContain(
      Literal(bloom), expression(xxhash64(key))))

  /** Bitwise-OR union of two filters built with the SAME
    * (expectedItems, numBits) — identical bit width and hash count, so
    * the merge equals the filter a single build over the union would
    * produce BIT-IDENTICALLY (each inserted key sets the same bit
    * positions regardless of which side it arrived on). That exactness
    * is what makes the index append below ≡ a rebuild.
    */
  def merge(a: Array[Byte], b: Array[Byte]): Array[Byte] = {
    val fa = BloomFilter.readFrom(a)
    fa.mergeInPlace(BloomFilter.readFrom(b))
    serialize(fa)
  }

  private def serialize(bf: BloomFilter): Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream()
    bf.writeTo(bos)
    bos.toByteArray
  }

  // ---- SHARDED filters (membership sets past the per-filter conf cap) ----
  //
  // BloomFilterMightContain requires a FOLDABLE filter child, so ONE
  // per-row-selected filter is inexpressible — but a BOUNDED when-chain
  // of shard literals is: each arm's filter is its own foldable BINARY
  // literal and the shard router picks the arm. With N shards each
  // sized at the session caps, total capacity is N × maxNumItems
  // without touching the confs (the 4e6-item fence this existed
  // behind). N is a small build-time constant (4–16 at 100 TB scale),
  // so the chain stays a handful of codegen'd branches per probe.

  /** Deterministic shard of a key — routed by a SEEDED hash so the
    * shard choice is uncorrelated with the bit positions the filter's
    * own `xxhash64(key)` sets. Never null for a non-null key; callers
    * own their null-key contract BEFORE sharding (the mightContain
    * rule).
    */
  def shardOf(key: Column, shards: Int): Column =
    pmod(xxhash64(lit("bloom-shard:"), key), lit(shards.toLong))

  /** N per-shard filters in ONE aggregation pass: each shard's
    * `BloomFilterAggregate` consumes `when(shardOf = i, xxhash64(key))`
    * — the aggregate ignores NULL inputs (spec-pinned via the
    * no-false-negatives property: gating OUTSIDE the hash matters,
    * because `xxhash64(NULL)` is the seed constant, which would insert
    * a phantom key into every shard). Sizing is PER SHARD (each must
    * clear the session caps — that is the point of sharding); an empty
    * input yields all-zeros filters like [[bloomBytes]].
    */
  def shardedBloomBytes(rows: DataFrame, key: Column, perShardItems: Long,
      perShardBits: Long, shards: Int): IndexedSeq[Array[Byte]] = {
    require(shards >= 1, s"shards=$shards must be >= 1")
    if (shards == 1)
      return IndexedSeq(bloomBytes(rows, key, perShardItems, perShardBits))
    require(perShardItems > 0,
      s"perShardItems=$perShardItems must be positive")
    require(perShardBits > 0, s"perShardBits=$perShardBits must be positive")
    val conf = rows.sparkSession.conf
    val maxItems = conf.get(
      "spark.sql.optimizer.runtime.bloomFilter.maxNumItems").toLong
    val maxBits = conf.get(
      "spark.sql.optimizer.runtime.bloomFilter.maxNumBits").toLong
    require(perShardItems <= maxItems,
      s"perShardItems=$perShardItems exceeds " +
        s"spark.sql.optimizer.runtime.bloomFilter.maxNumItems=$maxItems " +
        "— raise the conf or the shard count")
    require(perShardBits <= maxBits,
      s"perShardBits=$perShardBits exceeds " +
        s"spark.sql.optimizer.runtime.bloomFilter.maxNumBits=$maxBits " +
        "— raise the conf or the shard count")
    val s = shardOf(key, shards)
    val aggs = (0 until shards).map { i =>
      column(new BloomFilterAggregate(
        expression(when(s === i.toLong, xxhash64(key))),
        Literal(perShardItems), Literal(perShardBits))
        .toAggregateExpression()).as(s"bf$i")
    }
    val row = rows.agg(aggs.head, aggs.tail: _*).head()
    (0 until shards).map { i =>
      // A shard every row routed past comes back NULL (the aggregate
      // saw only null inputs) — same all-zeros fallback as bloomBytes.
      if (row.isNullAt(i))
        serialize(BloomFilter.create(perShardItems, perShardBits))
      else row.getAs[Array[Byte]](i)
    }
  }

  /** Membership probe against a sharded filter: a bounded when-chain —
    * each arm is [[mightContain]] with its shard's foldable BINARY
    * literal; the router picks exactly one arm per row. Collapses to
    * the plain probe for a 1-shard filter (byte-identical plan).
    *
    * COST NOTE: `shard` re-evaluates inside every when-arm CONDITION
    * and Spark's subexpression elimination skips conditionally-evaluated
    * branches — a probe through this convenience form costs up to N−1
    * extra router hashes per row at N shards. Hot paths should
    * MATERIALIZE the router once (a projected column) and call
    * [[mightContainShardedOn]] — the pattern [[ExactDedupIndex]]'s
    * serve/stream paths use.
    */
  def mightContainSharded(blooms: IndexedSeq[Array[Byte]],
      key: Column): Column =
    mightContainShardedOn(blooms, key, shardOf(key, blooms.length))

  /** The sharded probe over a CALLER-SUPPLIED router column — project
    * `shard` = [[shardOf]](key, N) as a materialized attribute first,
    * so the router hash computes once per row and each when-arm
    * condition is a plain attribute comparison.
    */
  def mightContainShardedOn(blooms: IndexedSeq[Array[Byte]], key: Column,
      shard: Column): Column = {
    require(blooms.nonEmpty, "mightContainSharded needs >= 1 shard")
    if (blooms.length == 1) return mightContain(blooms.head, key)
    blooms.zipWithIndex.tail.foldLeft(
      when(shard === 0L, mightContain(blooms(0), key))) {
      case (acc, (b, i)) => acc.when(shard === i.toLong, mightContain(b, key))
    }
  }

  /** Per-shard [[merge]] of two sharded filters with the SAME geometry
    * (shard count and per-shard sizing) — exact for the same reason the
    * scalar merge is, shard by shard.
    */
  def mergeSharded(a: IndexedSeq[Array[Byte]],
      b: IndexedSeq[Array[Byte]]): IndexedSeq[Array[Byte]] = {
    require(a.length == b.length,
      s"cannot merge ${a.length}-shard and ${b.length}-shard filters")
    a.zip(b).map { case (x, y) => merge(x, y) }
  }
}

/** EXACT delta-vs-base dedup behind a Bloom prefilter, in two forms:
  * the one-shot [[bloomClean]] over two live frames, and a PERSISTED
  * index (bloom bytes + a bucket-partitioned distinct-hash table at
  * rest) whose serve path answers the production ingest question —
  * "which documents of this batch are byte-identical to anything
  * already ingested?" — with O(delta) work and NO base scan at all.
  *
  * Semantics (shared with the [[Dedup.exactGroups]] family and replayed
  * verbatim by the oracle, bloom-free):
  *  - identity is `md5(coalesce(text, ''))` — null ≡ empty text;
  *  - base membership is about TEXT, so every base row contributes its
  *    hash (identity-less base rows still make their text "ingested");
  *  - delta verdicts are per document identity, so null-`doc_id` delta
  *    rows are excluded up front (the samplers' rule: a no-identity doc
  *    cannot be "kept by id");
  *  - `in_base` = the text exists in the base; `keep` = not in base AND
  *    lowest `doc_id` among the batch's copies of that text (base wins
  *    unconditionally; keep-lowest within the batch — the
  *    [[DedupIndex.dedupDeltaClean]] verdict contract at the exact
  *    tier).
  *
  * Why a bloom at 100 TB: the plain form of this question is an anti-
  * join that SHUFFLES both sides on the hash. Here the base never
  * shuffles anywhere — the filter build is a map-side aggregate over
  * the base scan, the delta is tested map-side against the broadcast
  * bytes, and only the (rare) bloom-positive delta hashes reach an
  * exact verify, as a BROADCAST semi-join against the base scan. With
  * the persisted index even those two base scans disappear: the verify
  * reads only the hash-table partitions the positives' buckets name
  * (literal `hbkt IN` static pruning, the lexIndexTopK discipline).
  */
object ExactDedupIndex {

  /** Default bloom sizing: 1M expected hashes at 8 bits each (~2% false
    * positives — each costing one broadcast-verified row, not a wrong
    * answer). Well inside Spark's 4e6/6.7e7 aggregate caps.
    */
  val DefaultExpectedItems = 1000000L
  val DefaultNumBits = 8000000L

  private def hbktOf(h: Column, buckets: Int): Column =
    pmod(xxhash64(h), lit(buckets.toLong))

  /** (doc_id, text_hash) of the id-bearing rows — the delta-side view. */
  private def deltaHashes(delta: DataFrame): DataFrame =
    delta.where(col("doc_id").isNotNull)
      .select(col("doc_id"),
        md5(coalesce(col("text"), lit(""))).as("text_hash"))

  /** DISTINCT content hashes of a corpus frame — the family identity
    * (md5(coalesce(text, '')), null ≡ empty), shared by every entry
    * point that feeds the hash-level internals.
    */
  private def hashesOf(docs: DataFrame): DataFrame =
    docs.select(md5(coalesce(col("text"), lit(""))).as("text_hash"))
      .distinct()

  /** Bloom-positive rows of a frame carrying `text_hash` — the shared
    * probe projection: with shards the router hash MATERIALIZES once
    * per row (a projected column feeding [[Bloom.mightContainShardedOn]])
    * instead of re-evaluating in every when-arm condition, which
    * Spark's subexpression elimination does not collapse for
    * conditionally-evaluated branches. Columns pass through unchanged.
    */
  private def bloomPositives(df: DataFrame,
      blooms: IndexedSeq[Array[Byte]]): DataFrame =
    if (blooms.length == 1)
      df.filter(Bloom.mightContain(blooms.head, col("text_hash")))
    else {
      Skew.requireScratchFree(df, Seq("__bshard"),
        "sharded bloom probe (router scratch)")
      df.withColumn("__bshard",
          Bloom.shardOf(col("text_hash"), blooms.length))
        .filter(Bloom.mightContainShardedOn(blooms, col("text_hash"),
          col("__bshard")))
        .drop("__bshard")
    }

  /** Shared verdict tail: delta rows × (confirmed base-hash sliver) →
    * (doc_id, in_base, keep). `confirmed` must hold a `text_hash`
    * column whose rows are exactly the delta-probed hashes present in
    * the base — both callers broadcast it (it is bounded by the
    * bloom-positive count), so the only exchange here is the delta's
    * own per-hash window.
    */
  private def verdicts(deltaH: DataFrame, confirmed: DataFrame): DataFrame = {
    val hit = confirmed.select(col("text_hash")).distinct()
      .withColumn("__hit", lit(1))
    deltaH.join(broadcast(hit), Seq("text_hash"), "left")
      .withColumn("in_base", col("__hit").isNotNull)
      .withColumn("__min_id",
        min(col("doc_id")).over(Window.partitionBy(col("text_hash"))))
      .select(col("doc_id"), col("in_base"),
        (!col("in_base") && col("doc_id") === col("__min_id")).as("keep"))
  }

  // ---- one-shot form (two live frames) ----------------------------------

  /** Bloom-prefiltered exact clean of `delta` against a live `base`
    * frame. The base is scanned twice (filter build + verify) but never
    * shuffled; the verify semi-join sees only bloom-positive hashes as
    * a broadcast. Output is EXACTLY the plain anti-join verdicts — the
    * filter sizing changes cost, never content (spec-pinned under a
    * 64-bit saturated filter where every probe is a false positive).
    */
  /** Determinism contract (both forms): `base` is scanned twice (filter
    * build + verify) and must re-evaluate to the same rows — true for
    * any source scan, the Skew.withSalt rule for anything else (a bloom
    * MISS at build time for a hash present at verify time would be a
    * false NEGATIVE, which the verify cannot repair). The DELTA is
    * barriered internally, so a nondeterministic delta frame cannot
    * split the collected bucket literals from the joined rows.
    */
  def bloomClean(base: DataFrame, delta: DataFrame,
      expectedItems: Long = DefaultExpectedItems,
      numBits: Long = DefaultNumBits, shards: Int = 1): DataFrame = {
    val baseH = base.select(md5(coalesce(col("text"), lit(""))).as("text_hash"))
    // shards > 1 = the past-the-conf-cap geometry (per-shard sizing);
    // output is identical at ANY shard count — the exact verify of the
    // positives makes the filter invisible in the semantics.
    val blooms = Bloom.shardedBloomBytes(baseH, col("text_hash"),
      expectedItems, numBits, shards)
    // ONE materialization feeds the bloom probe, the verify join, and
    // the verdict window (the servePairLegs discipline) — released on
    // failure, handed to the returned frame on success.
    val deltaH = deltaHashes(delta).barrier()
    try {
      val cand = bloomPositives(deltaH, blooms)
        .select(col("text_hash")).distinct()
      // Exact verify of the positives: base scan, map-side broadcast
      // semi — the distinct that follows shuffles only matched hashes
      // (≤ |cand|).
      val confirmed = baseH.join(broadcast(cand), Seq("text_hash"),
        "left_semi")
      verdicts(deltaH, confirmed)
    } catch {
      case t: Throwable => Barrier.release(deltaH); throw t
    }
  }

  // ---- persisted index ---------------------------------------------------
  //
  // Layout under dir/ (generation g appends `hashes-g`/`meta-g`):
  //  - hashes/: DISTINCT (text_hash) rows, parquet-partitioned by
  //    hbkt = pmod(xxhash64(text_hash), buckets).
  //  - meta/:   1 row (n_hashes, buckets, expected_items, num_bits,
  //    bloom BINARY) — written LAST as the completion marker (the lex
  //    stats discipline). Appends commit the MERGED bloom, so a serve
  //    reads exactly one meta row no matter how long the append history.
  //  - manifest-*.json: the shared GenManifest protocol (atomic dot-temp
  //    rename, single-writer, one-commit reader grace on the sweep).
  //
  // Append ≡ rebuild EXACTLY: the hash family is stateless, per-
  // generation hash rows union to the same membership set, and the
  // OR-merged bloom is bit-identical to a union build (same bit width
  // and hash count — see Bloom.merge). Spec-pinned.

  /** The manifest schema: `hdirs` + optional `tdirs` + `meta`. */
  private[graft] val Family = GenManifest.Family("exact-dedup",
    Seq("hdirs" -> "hashes"), Some("meta"), tombstones = true,
    "hashes|meta|(hashes|meta|tombs)-.*".r)

  /** CURRENT members among insert/tombstone rows carrying the `__g`
    * generation: a hash is live iff its newest INSERT outlives its
    * newest tombstone — so a takedown removes the content, and a later
    * re-ingest (append) restores it. HASH-keyed per-hash aggregation
    * (unlike the doc-keyed GenManifest.liveRows row filter): both
    * inputs are pruned slivers (bounded by the probing hash set), so
    * the aggregations never touch index-sized data.
    */
  private def resolveMembers(inserts: DataFrame, tombs: DataFrame): DataFrame =
    inserts.groupBy(col("text_hash")).agg(max(col("__g")).as("ig"))
      .join(tombs.groupBy(col("text_hash")).agg(max(col("__g")).as("tg")),
        Seq("text_hash"), "left")
      .filter(col("tg").isNull || col("ig") > col("tg"))
      .select(col("text_hash"))

  private def writeMeta(spark: SparkSession, dir: String, metaDir: String,
      nHashes: Long, buckets: Int, expectedItems: Long, numBits: Long,
      blooms: IndexedSeq[Array[Byte]]): Unit =
    spark.range(1).select(
        lit(nHashes).as("n_hashes"), lit(buckets).as("buckets"),
        // expected_items / num_bits are PER-SHARD once shards > 1 (each
        // shard must clear the session caps — the point of sharding).
        lit(expectedItems).as("expected_items"),
        lit(numBits).as("num_bits"),
        lit(blooms.length).as("shards"),
        array(blooms.map(b => lit(b)): _*).as("blooms"))
      .write.mode("overwrite").parquet(s"$dir/$metaDir")

  /** The (possibly sharded) filter of a meta row. Pre-sharding metas
    * (a single `bloom` BINARY column, no `shards` field) adopt as one
    * shard — old on-disk indexes read unchanged, the family's adoption
    * contract.
    */
  private def readBlooms(meta: org.apache.spark.sql.Row)
      : IndexedSeq[Array[Byte]] =
    if (meta.schema.fieldNames.contains("shards"))
      meta.getSeq[Array[Byte]](meta.fieldIndex("blooms")).toIndexedSeq
    else IndexedSeq(meta.getAs[Array[Byte]]("bloom"))

  /** Build the index over a base corpus: distinct content hashes at
    * rest (bucket-partitioned) + the bloom over them in the meta row.
    * ONE pass computes the hash table, its count, and the filter (the
    * distinct frame is barriered across the write and the aggregate).
    * An empty base is rejected BEFORE the previous index is destroyed
    * (validate-before-destroy, the lex rule) — an all-negative index
    * is representable but a parquet-less `hashes/` dir poisons every
    * later read with schema-inference failures.
    */
  def buildIndex(docs: DataFrame, dir: String, buckets: Int = 64,
      expectedItems: Long = DefaultExpectedItems,
      numBits: Long = DefaultNumBits, shards: Int = 1): Unit = {
    require(buckets > 0, s"buckets must be positive, got $buckets")
    require(shards >= 1, s"shards must be >= 1, got $shards")
    val spark = docs.sparkSession
    require(!docs.isEmpty,
      s"buildIndex at $dir: empty base corpus — nothing to index " +
        "(previous index left intact)")
    GenManifest.resetDir(spark, dir)
    val hs = docs
      .select(md5(coalesce(col("text"), lit(""))).as("text_hash"))
      .distinct()
    Barrier.withCached(hs) { h =>
      GenManifest.writeParts(
        h.withColumn("hbkt", hbktOf(col("text_hash"), buckets)), "hbkt",
        dir, "hashes")
      val n = h.count()
      // shards > 1 is the past-the-conf-cap path: N per-shard filters
      // (expectedItems/numBits are PER SHARD), probed through the
      // bounded when-chain — serve output is identical by the exact-
      // verify argument, spec-pinned at a forced 2-shard geometry.
      val blooms = Bloom.shardedBloomBytes(h, col("text_hash"),
        expectedItems, numBits, shards)
      // Meta LAST: a readable meta row marks the build complete.
      writeMeta(spark, dir, "meta", n, buckets, expectedItems, numBits,
        blooms)
    }
  }

  /** Ingest verdicts for a delta batch against the index — the
    * [[bloomClean]] question with ZERO base scans: the bloom kills
    * provably-absent rows map-side from one broadcast meta row, and the
    * exact verify reads ONLY the hash-table partitions the surviving
    * hashes bucket to (literal `hbkt IN` pruning over every
    * generation). Output columns and semantics are [[bloomClean]]'s;
    * serve ≡ the one-shot form over (indexed corpus, delta) exactly.
    */
  def indexClean(spark: SparkSession, dir: String,
      delta: DataFrame): DataFrame = {
    val lay = GenManifest.layout(spark, dir, Family)
    val (hDirs, tDirs) = (lay("hdirs"), lay.tDirs)
    val meta = spark.read.parquet(s"$dir/${lay.meta}").head()
    val buckets = meta.getAs[Int]("buckets")
    val blooms = readBlooms(meta)
    require(meta.getAs[Long]("n_hashes") > 0, s"index at $dir is empty")
    // Barrier BEFORE collecting the bucket literals (the servePairLegs
    // discipline): the literal `hbkt IN` list, the broadcast candidate
    // join, and the verdict legs must all derive from the SAME
    // materialized delta rows — with a nondeterministic delta frame a
    // re-evaluation could probe a hash whose bucket the collected list
    // omits, silently reporting an ingested doc as keep=true.
    val deltaH = deltaHashes(delta).barrier()
    try {
      val cand = bloomPositives(deltaH, blooms)
        .select(col("text_hash")).distinct()
      // The positives' buckets fold to ≤ `buckets` literals — static
      // partition pruning on every generation scan (the readCells
      // discipline). An all-negative delta reads nothing at all.
      val bkts = cand.select(hbktOf(col("text_hash"), buckets)
          .cast("long").as("b"))
        .distinct().collect().map(_.getLong(0)).toIndexedSeq
      // Tombstone-free index (the common case): membership is plain
      // presence. With retraction generations live, membership resolves
      // per hash over the SAME pruned buckets — the retracted content
      // still bloom-probes positive (bits cannot un-set), and this
      // resolution is exactly the cancel that makes the filter's
      // over-approximation invisible again.
      val confirmed =
        if (tDirs.isEmpty) {
          val scoped = GenManifest.readGenerations(spark, dir, hDirs)
            .filter(col("hbkt").isin(bkts: _*))
          scoped.join(broadcast(cand), Seq("text_hash"), "left_semi")
        } else {
          val ins = GenManifest.readWithGen(spark, dir, hDirs)
            .filter(col("hbkt").isin(bkts: _*))
            .join(broadcast(cand), Seq("text_hash"), "left_semi")
          val tmb = GenManifest.readWithGen(spark, dir, tDirs)
            .filter(col("hbkt").isin(bkts: _*))
            .join(broadcast(cand), Seq("text_hash"), "left_semi")
          resolveMembers(ins, tmb)
        }
      verdicts(deltaH, confirmed)
    } catch {
      case t: Throwable => Barrier.release(deltaH); throw t
    }
  }

  /** Takedown-pressure census (ONE row: live_hashes, dead_hashes,
    * dead_ppm) — the shared [[GenManifest.takedownCensus]] over the
    * at-rest hash keys. The per-key fold counts DISTINCT hashes (a
    * cross-generation repeat is one key), so unlike the meta row's
    * additive `n_hashes` upper bound this census is exact; dead hashes
    * still occupy hash files AND keep their unremovable bloom bits
    * until [[compactIndex]] purges the rows and rebuilds the filter —
    * dead_ppm is both the compact-now and the bloom-precision signal.
    */
  def takedownHealth(spark: SparkSession, dir: String): DataFrame =
    GenManifest.takedownCensus(spark, dir, Family, "hdirs", "text_hash",
      "live_hashes", "dead_hashes")

  /** Append an ingested batch's hashes as a new generation: per-
    * generation-distinct hash rows (bucketed with the build's bucket
    * count) + the OR-merged bloom in a generation-owned meta. The
    * merged filter is bit-identical to a rebuild's (see [[Bloom.merge]])
    * and membership is a union, so serve-after-append ≡ serve over a
    * rebuilt base∪delta index EXACTLY (spec-pinned). `n_hashes` sums
    * per-generation distinct counts — an UPPER bound on the union's
    * distinct hashes (cross-generation repeats count twice) that
    * [[compactIndex]] restores to exact. An empty delta is a no-op (no
    * generation, no commit — the lex empty-delta discipline).
    * SINGLE-WRITER, like every GenManifest family.
    */
  def appendToIndex(newDocs: DataFrame, dir: String): Unit =
    appendHashes(newDocs.sparkSession, hashesOf(newDocs), dir)

  /** Hash-level append internals — `hs` must be a deterministic frame of
    * DISTINCT `text_hash` rows (it is evaluated more than once: the
    * write, the count, and the delta filter all consume it through one
    * cached materialization, but the caller's frame must still
    * re-evaluate identically on executor loss — the bloomClean rule).
    */
  private def appendHashes(spark: SparkSession, hs: DataFrame,
      dir: String): Unit =
    GenManifest.append(spark, dir, Family) { lay =>
      val meta = spark.read.parquet(s"$dir/${lay.meta}").head()
      val nHashes = meta.getAs[Long]("n_hashes")
      require(nHashes > 0,
        s"index at $dir has an empty base — rebuild with buildIndex " +
          "instead of appending")
      val buckets = meta.getAs[Int]("buckets")
      val expectedItems = meta.getAs[Long]("expected_items")
      val numBits = meta.getAs[Long]("num_bits")
      val baseBlooms = readBlooms(meta)
      val newH = s"hashes-${lay.seq + 1}"
      val newM = s"meta-${lay.seq + 1}"
      val (nNew, deltaBlooms) = Barrier.withCached(hs) { h =>
        GenManifest.writeParts(
          h.withColumn("hbkt", hbktOf(col("text_hash"), buckets)), "hbkt",
          dir, newH)
        // The delta's filter MUST use the base's geometry (shard count +
        // per-shard sizing) — mergeSharded is per-shard OR, exact only at
        // identical geometry.
        (h.count(), Bloom.shardedBloomBytes(h, col("text_hash"),
          expectedItems, numBits, baseBlooms.length))
      }
      if (nNew == 0L) {
        val (fs, root) = GenManifest.fsRoot(spark, dir)
        fs.delete(new org.apache.hadoop.fs.Path(root, newH), true)
        None
      } else {
        writeMeta(spark, dir, newM, nHashes + nNew, buckets, expectedItems,
          numBits, Bloom.mergeSharded(baseBlooms, deltaBlooms))
        Some(lay.appended("hdirs" -> newH).copy(metaDir = Some(newM)))
      }
    }

  /** Streaming ingest-time EXACT-dup alerts against the frozen index —
    * the exact-tier sibling of [[DedupIndex.streamingIndexDups]]: one
    * alert row (doc_id, text_hash) per id-bearing stream doc whose text
    * is already ingested. Fully STATELESS — the verdict is per row (no
    * pairs, no watermark, no state store): the broadcast bloom literal
    * kills provably-fresh rows MAP-SIDE (the common case at ingest),
    * and only the rare positives probe the at-rest hash table via a
    * stream-static LEFT SEMI join (no distinct on the static side —
    * semi-join semantics absorb cross-generation repeats for free).
    * Stream ≡ batch by construction: alerts are exactly the
    * [[indexClean]] rows with in_base = true (spec-pinned). Exactly-
    * once per delivery is structural (at most one alert per input row);
    * an at-least-once source re-delivers whole rows, which a sink
    * dedupes by doc_id. The index is FROZEN for the stream's lifetime
    * (the single-writer contract); the static side re-scans per
    * micro-batch as every stream-static join does, but only
    * bloom-positive rows ever probe it.
    */
  def streamingExactDups(spark: SparkSession, dir: String,
      stream: DataFrame): DataFrame = {
    val lay = GenManifest.layout(spark, dir, Family)
    val meta = spark.read.parquet(s"$dir/${lay.meta}").head()
    require(meta.getAs[Long]("n_hashes") > 0, s"index at $dir is empty")
    val blooms = readBlooms(meta)
    // With retraction generations live, the static side resolves to the
    // CURRENT membership (one resolution per micro-batch over the
    // at-rest tables — compact the index to fold the tombstones away
    // and return this to a bare scan).
    // With tombstones, membership resolves per ROW via the broadcast
    // liveRows kernel, NOT resolveMembers: the static side re-evaluates
    // per micro-batch, and the per-hash aggregation form would re-run a
    // full-index groupBy SHUFFLE every trigger — liveRows is one
    // broadcast of the takedown-sized tombMax table, and the left_semi
    // below absorbs the duplicate live rows (a hash alerts iff SOME
    // insert generation outlives its newest tombstone — equivalent).
    val hashes = GenManifest.foldedLive(spark, dir, lay("hdirs"), lay.tDirs,
      "text_hash").select(col("text_hash"))
    bloomPositives(
        stream
          // Null-id guard, mirroring the other streaming twins: a
          // null-id ingest row colliding with the base would alert with
          // NULL doc_id, and a sink deduping by doc_id would collapse
          // every such row onto one key.
          .where(col("doc_id").isNotNull)
          .select(col("doc_id"),
            md5(coalesce(col("text"), lit(""))).as("text_hash")),
        blooms)
      .join(hashes, Seq("text_hash"), "left_semi")
      .select(col("doc_id"), col("text_hash"))
  }

  /** RETRACT content from the index — the right-to-be-forgotten shape
    * the stats index proved with negated partial sums, ported to a hash
    * MEMBERSHIP set: the takedown docs' text hashes become a TOMBSTONE
    * generation (one atomic manifest commit), and membership resolves
    * per hash as "newest insert outlives newest tombstone" — so serves
    * stop reporting the content as ingested immediately, and a LATER
    * append of the same text restores it (the newest-op-wins rule).
    *
    * Retraction is by CONTENT, the index's unit: the at-rest table is a
    * distinct-hash set with no per-document counts, so taking down a
    * text removes it regardless of how many base documents carried it —
    * exactly what a content-takedown order means. Per-DOCUMENT
    * bookkeeping is the caller's (retract only texts whose last
    * standing copy is gone).
    *
    * OVER-RETRACTION throws before anything is written (the stats-index
    * rule): every retracted hash must be a current member — retracting
    * never-ingested or already-retracted content is a caller bug that
    * must not silently commit a vacuous generation. An empty takedown
    * set is a no-op. The bloom is untouched (bits cannot un-set;
    * retracted content probes positive and the membership resolution
    * cancels it exactly) — [[compactIndex]] rebuilds the filter over
    * the folded membership to restore the false-positive rate.
    * SINGLE-WRITER, like every GenManifest family.
    */
  def retractFromIndex(docs: DataFrame, dir: String): Unit =
    retractHashes(docs.sparkSession, hashesOf(docs), dir)

  /** Bucket-pruned membership slivers of a (BARRIERED) hash set:
    * (insert rows, tombstone rows) among the generations, both bounded
    * by the set — the one definition of the probe discipline
    * [[retractHashes]]' guard and [[syncIndex]]'s resumability
    * classification share (a near-verbatim copy here is exactly the
    * drift class GenManifest was created to kill). Empty set → two
    * empty frames (isin over an empty literal list never matches).
    */
  private def prunedSlivers(spark: SparkSession, dir: String,
      lay: GenManifest.Layout, buckets: Int,
      h: DataFrame): (DataFrame, DataFrame) = {
    val bkts = h.select(hbktOf(col("text_hash"), buckets)
        .cast("long").as("b"))
      .distinct().collect().map(_.getLong(0)).toIndexedSeq
    if (bkts.isEmpty) {
      // Shape parity with the real slivers: resolveMembers aggregates
      // over `__g`, so the empty frames must still carry it.
      val empty = h.limit(0).withColumn("__g", lit(0L))
      (empty, empty)
    } else {
      val ins = GenManifest.readWithGen(spark, dir, lay("hdirs"))
        .filter(col("hbkt").isin(bkts: _*))
        .join(broadcast(h), Seq("text_hash"), "left_semi")
      val tmb =
        if (lay.tDirs.isEmpty) ins.limit(0)
        else GenManifest.readWithGen(spark, dir, lay.tDirs)
          .filter(col("hbkt").isin(bkts: _*))
          .join(broadcast(h), Seq("text_hash"), "left_semi")
      (ins, tmb)
    }
  }

  /** Hash-level retraction internals — the shared
    * [[GenManifest.retract]] keyed by `text_hash` (`hs` holds the
    * takedown hashes), with the membership check over the SAME
    * pruned-bucket slivers serves read (the takedown set is bounded) and
    * the tombstones partitioned like the hash table.
    */
  private def retractHashes(spark: SparkSession, hs: DataFrame,
      dir: String): Unit = {
    val lay = GenManifest.layout(spark, dir, Family)
    val buckets =
      spark.read.parquet(s"$dir/${lay.meta}").head().getAs[Int]("buckets")
    val newT = s"tombs-${lay.seq + 1}"
    GenManifest.retract(spark, dir, Family, hs, "text_hash", newT,
        Some("hbkt" -> hbktOf(col("text_hash"), buckets))) { h =>
      val (ins, tmb) = prunedSlivers(spark, dir, lay, buckets, h)
      val nonMembers = h.join(resolveMembers(ins, tmb),
        Seq("text_hash"), "left_anti").count()
      require(nonMembers == 0L,
        s"retractFromIndex at $dir: $nonMembers of the takedown hashes " +
          "are not current members (never ingested, or already " +
          "retracted) — a takedown of absent content is a caller bug, " +
          "not a no-op")
      lay.retracted(newT)
    }
  }

  /** INCREMENTAL CORPUS SYNC — apply a v1 → v2 snapshot transition to an
    * index currently holding exactly v1's content membership, so that
    * serves afterwards equal a [[buildIndex]] over v2 EXACTLY (no
    * rebuild, no base rewrite): the daily-ingest loop composed from the
    * lifecycle this family already proves piecewise (retraction ≡
    * tombstone resolution, append ≡ rebuild).
    *
    * This is [[Curation.corpusDiff]]'s transition refined to the
    * index's own unit, the CONTENT HASH: a removed or changed document's
    * old text leaves membership only if NO surviving v2 document still
    * carries it, and an added or changed document's new text enters only
    * if it wasn't already ingested through some other document — exactly
    * the set difference of the two snapshots' hash sets, which a
    * doc-keyed removed/changed → retract, added/changed → append replay
    * would get WRONG on any corpus with repeated texts (retracting a
    * text another live doc still carries). Membership after sync is
    * v2's hash set by construction:
    * (v1 ∩ v2 untouched-live) ∪ (v2 ∖ v1 appended) ∖ (v1 ∖ v2
    * tombstoned).
    *
    * Mechanics: one tombstone generation for the dead hashes, one
    * append generation + OR-merged bloom for the born hashes — two
    * commits at most, each atomic; an unchanged corpus is a complete
    * no-op. It keeps its own code instead of [[GenManifest.sync]]: its
    * unit is the set difference of two hash sets, classified against
    * current membership, not a per-key transition.
    *
    * RESUMABLE: both legs are filtered against CURRENT membership
    * before committing — already-tombstoned dead hashes and
    * already-member born hashes skip. So a sync torn between its two
    * commits (membership at v1 ∖ dead) RESUMES by re-running the same
    * call (the retract leg no-ops, the append leg completes), a
    * COMPLETED sync re-runs as a full no-op (no duplicate generations,
    * `n_hashes` stays the exact member count), and a born text some
    * OTHER live doc already carries never inflates the meta. The
    * wrong-v1 guard survives resumability on the evidence that cannot
    * be explained by a torn sync: a dead hash with NO insert rows at
    * all was never ingested — that still throws before anything is
    * written. (A dead hash retracted by an EARLIER takedown is
    * indistinguishable from a torn sync and is skipped — the price of
    * resumability, documented.)
    *
    * 100 TB shape: each snapshot collapses to its 16-byte hash set IN
    * ITS SCAN (text never shuffles); the two anti-joins ship hashes
    * only, the membership classification reads bucket-pruned slivers
    * bounded by the transition set, and the written generations are
    * transition-sized. Both snapshot frames must be deterministic under
    * re-evaluation (source scans — the family's two-scan rule).
    * SINGLE-WRITER, like every lifecycle op.
    */
  def syncIndex(v1Docs: DataFrame, v2Docs: DataFrame, dir: String): Unit = {
    val spark = v1Docs.sparkSession
    val lay = GenManifest.layout(spark, dir, Family)
    val buckets =
      spark.read.parquet(s"$dir/${lay.meta}").head().getAs[Int]("buckets")
    val v1H = hashesOf(v1Docs)
    val v2H = hashesOf(v2Docs)
    // Bucket-pruned membership classification of a transition-sized
    // hash set: (ever-ingested, currently-live) via the SHARED
    // prunedSlivers read. The manifest is read ONCE at entry: the
    // retract commit between the two legs only adds a tombstone
    // generation covering DEAD hashes, and born ∩ dead = ∅ by
    // construction, so the born leg's liveness cannot be moved by it
    // (and one-commit sweep grace keeps the listed dirs on disk).
    // (retractHashes re-validates the dead leg against its own
    // manifest read — deliberate defense in depth on the write path,
    // two pruned sliver jobs per sync.)
    def classify(h: DataFrame): (DataFrame, DataFrame) = {
      val (ins, tmb) = prunedSlivers(spark, dir, lay, buckets, h)
      (ins.select(col("text_hash")).distinct(), resolveMembers(ins, tmb))
    }
    // Retract-then-append is the family convention (newest-op-wins);
    // here the two sets are disjoint by construction, so the order is
    // documentation, not load-bearing.
    val dead = v1H.join(v2H, Seq("text_hash"), "left_anti").barrier()
    try {
      val (deadEver, deadLive) = classify(dead)
      val neverIngested =
        dead.join(deadEver, Seq("text_hash"), "left_anti").count()
      require(neverIngested == 0L,
        s"syncIndex at $dir: $neverIngested dead hashes were never " +
          "ingested — the index does not hold v1 (wrong v1 frame); a " +
          "torn sync would leave them tombstoned, not absent")
      retractHashes(spark,
        dead.join(deadLive, Seq("text_hash"), "left_semi"), dir)
    } finally Barrier.release(dead)
    val born = v2H.join(v1H, Seq("text_hash"), "left_anti").barrier()
    try {
      val (_, bornLive) = classify(born)
      appendHashes(spark,
        born.join(bornLive, Seq("text_hash"), "left_anti"), dir)
    } finally Barrier.release(born)
  }

  /** Fold every live generation back into ONE bucketed dir holding the
    * RESOLVED membership: cross-generation repeats collapse, retracted
    * hashes are physically purged (tombstones fold away), and
    * `n_hashes` returns to the exact distinct member count. With
    * tombstones folded the bloom is REBUILT over the survivors (the
    * carried filter stayed correct but over-approximated — every
    * retracted hash was a guaranteed false positive); a tombstone-free
    * fold carries it verbatim (it already covers the union).
    * Serve-after-compact ≡ serve-before bit-identically (membership is
    * unchanged); plan-wise the serve returns to exactly one pruned
    * scan. The sweep-only prologue and the commit are the shared
    * [[GenManifest.compact]]; the fold is this family's own, hash-keyed
    * and bloom-rebuilding, so it does not use [[GenManifest.foldLive]].
    */
  def compactIndex(spark: SparkSession, dir: String): Unit =
    GenManifest.compact(spark, dir, Family) { lay =>
      val meta = spark.read.parquet(s"$dir/${lay.meta}").head()
      val buckets = meta.getAs[Int]("buckets")
      val expectedItems = meta.getAs[Long]("expected_items")
      val numBits = meta.getAs[Long]("num_bits")
      val newH = s"hashes-${lay.seq + 1}"
      val newM = s"meta-${lay.seq + 1}"
      val folded =
        if (lay.tDirs.isEmpty)
          GenManifest.readGenerations(spark, dir, lay("hdirs"))
            .select(col("text_hash"), col("hbkt")).distinct()
        else resolveMembers(GenManifest.readWithGen(spark, dir, lay("hdirs")),
            GenManifest.readWithGen(spark, dir, lay.tDirs))
          .withColumn("hbkt", hbktOf(col("text_hash"), buckets))
      val (n, blooms) = Barrier.withCached(folded) { f =>
        val cnt = f.count()
        // A fully-retracted index folds to ZERO members — the
        // GenManifest.foldLive emptiness rule, over this family's
        // hash-keyed fold.
        require(cnt > 0L,
          s"compactIndex at $dir: every hash is retracted — an all-empty " +
            "index is unrepresentable; rebuild with buildIndex when " +
            "content returns")
        GenManifest.writeParts(f, "hbkt", dir, newH)
        // Geometry carries over (shard count + per-shard sizing): the
        // tombstoned rebuild restores the FPR the guaranteed-positive
        // dead hashes had eroded.
        val bf =
          if (lay.tDirs.isEmpty) readBlooms(meta)
          else Bloom.shardedBloomBytes(f, col("text_hash"), expectedItems,
            numBits, readBlooms(meta).length)
        (cnt, bf)
      }
      writeMeta(spark, dir, newM, n, buckets, expectedItems, numBits, blooms)
      lay.compacted("hdirs" -> newH).copy(metaDir = Some(newM))
    }

}
