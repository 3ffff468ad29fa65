package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Lexical relevance search over the `documents` table — the keyword
  * (inverted-index) counterpart of the embedding ANN family in
  * [[Similarity]]. Training-data pipelines use lexical retrieval where
  * embeddings are unavailable or too coarse: benchmark decontamination by
  * keyword probe, near-duplicate triage, and corpus exploration.
  *
  * Scoring is a **rational-idf BM25 variant** (Robertson/Spärck Jones
  * BM25 with `idf(t) = (N - df + 0.5) / (df + 0.5)` — the log of the
  * classical form is dropped). Rationale: the score stays a rational
  * function of the integers (tf, df, dl, N), so a fixed evaluation order
  * produces the identical IEEE double on every engine — `ln` is the one
  * sub-expression whose cross-engine agreement we could not certify (the
  * round-6 determinism notes). The variant is order-equivalent to
  * classical BM25 per term (same monotone df ordering), it just weights
  * rare terms more aggressively; documented here as a deviation.
  *
  * Determinism: each per-term score is floor-quantized to integer
  * micro-units BEFORE the per-document sum, so the aggregate is a sum of
  * longs — invariant under Spark's shuffle order and DuckDB's parallel
  * hash aggregation (the fixed-point-sum discipline).
  *
  * 100 TB shape: the postings table (doc_id, term, tf, dl, first_pos) is
  * ONE corpus tokenization + one (doc_id, term) hash aggregation — at
  * deployment scale it IS the inverted index and should be written out
  * bucketed by term (the build-once/serve-many lifecycle the persisted
  * ANN indexes follow); here each tail pass re-derives it from the text
  * kernels (measured cheaper than caching it since round 18 — see
  * bm25TopK). Everything downstream of the postings is bounded by the query
  * set: the query-term table (≤ queries × queryTerms rows) broadcasts,
  * per-term document frequencies are computed over a broadcast-semi-
  * filtered sliver of the postings, the corpus totals fold MAP-SIDE off
  * the `first_pos == 0` one-row-per-doc marker (see corpusTotals), and
  * the score aggregation shuffles only matched postings. The corpus is
  * never shuffled a second time.
  */
object Search {

  /** Query-by-example BM25 top-k: each query is a document's first
    * `queryTerms` distinct tokens (document order, ties on first position
    * to the lexicographically smaller term). Output: (query_id, doc_id,
    * score_micro, rank) — `score_micro` in exact integer micro-units,
    * rank by (score_micro desc, doc_id asc), self-match excluded.
    *
    * Token-less documents are invisible to the index (no postings, and
    * excluded from N/avgdl) — the null ≡ empty contract.
    */
  def bm25TopK(docs: DataFrame, queryIds: Seq[Long], queryTerms: Int = 6,
      k: Int = 10, k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    require(queryIds.nonEmpty, "bm25TopK needs at least one query doc")
    require(queryIds.size <= 1000,
      s"bm25TopK broadcasts the query-term table; ${queryIds.size} query " +
        "docs exceeds the 1000-query bound")
    // r18-cont rebalance (measured, sf0.1: 2.40 s cached vs 1.42 s
    // uncached): persisting the corpus-sized postings for the tail's
    // four reads cost more than re-running the kernel tokenize +
    // postings exchange per consumer — the text kernels flipped the
    // trade (the pmi/tokenRarity pattern), and nothing corpus-sized
    // pins executors. At deployment scale the postings are the
    // PERSISTED lex index (buildLexIndex), not a recompute.
    import Barrier.BarrierOps
    // queries × k rows, eagerly materialized
    bm25Tail(postings(docs), queryIds, queryTerms, k, k1, b).barrier()
  }

  /** The inverted index: one row per (doc, term) with the term count, the
    * document's token length riding along (constant per doc, so it ships
    * inside the same map-side partial aggregation instead of a second
    * doc-keyed exchange), and the term's first position (feeds the
    * query-by-example term selection). ONE corpus exchange.
    */
  private[graft] def postings(docs: DataFrame): DataFrame =
    // Null-id docs are EXCLUDED (the exact-dedup family rule, mirrored
    // in the oracle's toks CTE): a search result row needs an identity,
    // and the groupBy below would otherwise MERGE every null-id doc into
    // one postings group (tf summed cross-doc, dl = max) — corrupting
    // df/N/avgdl for the whole corpus, not just the null rows. The
    // filter is a scan-pushed id predicate; it cannot re-inline the
    // tokenization (the InferFiltersFromGenerate hazard below concerns
    // filters on the DERIVED array only).
    docs.where(col("doc_id").isNotNull)
      .select(col("doc_id"),
        TextAnalysis.wsTokens(col("text")).as("toks"))
      .select(col("doc_id"), size(col("toks")).as("dl"),
        // outer + isNotNull-on-the-exploded-attribute, NEVER the inner
        // form: an inner explode of a derived array lets
        // InferFiltersFromGenerate re-inline the whole tokenization into
        // a pushed-down Filter — every scan tokenized twice (empirically
        // confirmed on this exact shape; the explodedTokens/Bpe.vocab
        // round-9 lesson). Token-less docs explode to one null row the
        // filter drops.
        posexplode_outer(col("toks")))
      .withColumnRenamed("col", "term")
      .where(col("term").isNotNull)
      .groupBy(col("doc_id"), col("term"))
      .agg(count(lit(1)).as("tf"), max(col("dl")).as("dl"),
        min(col("pos")).as("first_pos"))

  /** The search tail over a materialized postings table — factored out so
    * the plan lock asserts on the REAL plan (a barrier upstream would
    * hide it behind Scan ExistingRDD).
    */
  private[graft] def bm25Tail(p: DataFrame, queryIds: Seq[Long],
      queryTerms: Int, k: Int, k1: Double, b: Double): DataFrame = {
    val qw = Window.partitionBy(col("query_id"))
      .orderBy(col("first_pos").asc, col("term").asc)
    val qterms = p.filter(col("doc_id").isin(queryIds: _*))
      .select(col("doc_id").as("query_id"), col("term"), col("first_pos"))
      .withColumn("rn", row_number().over(qw))
      .filter(col("rn") <= queryTerms)
      .select(col("query_id"), col("term"))
    val dfTab = dfOver(p, qterms)
    val totals = corpusTotals(p)
    val tot = totals.select(
      col("n").cast("double").as("n_docs"),
      (col("tok").cast("double") / col("n").cast("double")).as("avgdl"))
    val qjoin = qterms.join(dfTab, Seq("term"))
    val matched = p.join(broadcast(qjoin), Seq("term"))
      .filter(col("doc_id") =!= col("query_id"))
      .crossJoin(broadcast(tot))
    scoreAndRank(matched, k, k1, b, col("n_docs"), col("avgdl"))
  }

  /** Per-term document frequencies for exactly the query's terms — a
    * broadcast semi-filter keeps the term-keyed aggregation to the
    * matched sliver, never a vocabulary-sized df table. ONE definition
    * for the batch tail and the index serve (the scoring-critical df
    * semantics cannot drift between them). `qterms` must carry a `term`
    * column.
    */
  private def dfOver(p: DataFrame, qterms: DataFrame): DataFrame =
    p.join(broadcast(qterms.select(col("term")).distinct()), Seq("term"))
      .groupBy(col("term")).agg(count(lit(1)).as("df"))

  /** Corpus totals (n tokenized docs, total tokens) derived from the
    * postings WITHOUT a doc-keyed exchange: exactly one term per
    * tokenized document has `first_pos == 0` (the term occupying token
    * position 0 — every other term's min position is >= 1), so filtering
    * on it yields one row per document and the totals fold MAP-SIDE.
    * The previous `groupBy(doc_id)` formulation re-shuffled the postings
    * on doc_id — a corpus-proportional exchange the scaladoc's 100 TB
    * claim said didn't exist. Returns one row: (n BIGINT, tok BIGINT);
    * `tok` coalesces to 0 on an all-token-less corpus (n = 0).
    */
  private def corpusTotals(p: DataFrame): DataFrame =
    p.filter(col("first_pos") === 0L)
      .agg(count(lit(1)).as("n"), coalesce(sum(col("dl")), lit(0L)).as("tok"))

  /** The shared scoring + ranking tail: per-term micro-unit scores,
    * per-doc long sum, per-query top-k. `matched` carries (query_id,
    * doc_id, tf, dl, df); `nDocs`/`avgdl` are either attached columns
    * (batch tail) or driver-computed literals (index serving — the same
    * IEEE doubles either way, so the two paths score identically).
    *
    * Literals k1+1 and 1-b are folded in DRIVER doubles; the oracle
    * spells them as the same constant expressions ((1.2 + 1.0), (1 -
    * 0.75)) so both engines fold the identical IEEE value.
    */
  private def scoreAndRank(matched: DataFrame, k: Int, k1: Double,
      b: Double, nDocs: Column, avgdl: Column): DataFrame = {
    val micro = floor(
      ((nDocs - col("df").cast("double") + lit(0.5)) /
        (col("df").cast("double") + lit(0.5))) *
        (col("tf").cast("double") * lit(k1 + 1.0) /
          (col("tf").cast("double") + lit(k1) *
            (lit(1.0 - b) + lit(b) * col("dl").cast("double") / avgdl))) *
        lit(1e6)).cast("long")
    // The per-doc sum ranks in decimal(38,0): a long fixed-point sum
    // wraps silently at ~9.2e18 µ-units — inside the advertised scale
    // (~1e11 docs × a 30-term probe; the trainKeyedBooks lesson). The
    // EMITTED score keeps the oracle's BIGINT type; under ANSI the
    // narrowing cast fails loudly if a corpus ever reaches the wrap
    // point, instead of mis-ranking silently.
    val agg = matched.withColumn("micro", micro)
      .groupBy(col("query_id"), col("doc_id"))
      .agg(sum(col("micro").cast("decimal(38,0)")).as("score_dec"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("score_dec").desc, col("doc_id").asc)
    agg.withColumn("rank", row_number().over(w).cast("int"))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("doc_id"),
        col("score_dec").cast("long").as("score_micro"), col("rank"))
  }

  // ---- persisted inverted index (build once, serve many) ---------------

  /** Persist the inverted index: the postings table partitioned by a
    * term-hash bucket, plus a 1-row stats table (doc count, total token
    * count, bucket count). A keyword search touches only the buckets its
    * query terms hash to — static partition pruning bounds the read to
    * terms/buckets of the corpus, the lexical mirror of the IVF index's
    * probed-cells guarantee.
    *
    * Build is rebuild-in-place (NOT reader-concurrent — the manifest
    * lifecycle of the ANN indexes is the pattern to graft on if
    * concurrent readers ever matter here; lexical postings change by
    * full rebuild in this engine). Single writer.
    */
  def buildLexIndex(docs: DataFrame, dir: String, buckets: Int = 64): Unit = {
    require(buckets > 0, s"buckets must be positive, got $buckets")
    val spark = docs.sparkSession
    // Validate BEFORE destroying the previous index (the dedup-index
    // rule): a rebuild with an accidentally token-less corpus would
    // otherwise delete the good index and only then hit the n_docs
    // guard below. limit-1 early-exit probe.
    require(!docs.where(
        TextAnalysis.tokenCountWs(col("text")) > 0).isEmpty,
      s"buildLexIndex at $dir: corpus has no tokenized documents — " +
        "nothing to index (previous index left intact)")
    GenManifest.resetDir(spark, dir)
    Barrier.withCached(postings(docs)) { p =>
      // Stats computed FIRST so an empty corpus fails before anything is
      // written: a token-less build would otherwise commit a parquet-less
      // postings dir and NULL total_tokens — an index every later reader
      // (serve, append, report) must individually guard against. Making
      // the invalid state unrepresentable beats N downstream guards.
      val t = corpusTotals(p).head()
      val nDocs = t.getLong(0)
      require(nDocs > 0,
        s"buildLexIndex at $dir: corpus has no tokenized documents — " +
          "nothing to index")
      p.withColumn("bkt", pmod(hash(col("term")), lit(buckets)))
        .repartition(col("bkt"))
        .write.mode("overwrite").partitionBy("bkt")
        .parquet(s"$dir/postings")
      // Stats table before the manifest: a readable COMMIT marks the
      // build complete (r18 — the gen-0 manifest carries the stats, so
      // the very first serve skips the stats job; a crash between the
      // stats write and the commit leaves the pre-r18 adoption layout,
      // which reads fine).
      spark.range(1).select(lit(nDocs).as("n_docs"),
          lit(t.getLong(1)).as("total_tokens"), lit(buckets).as("buckets"))
        .write.mode("overwrite").parquet(s"$dir/stats")
      GenManifest.commit(spark, dir, Family, Family.adopted.copy(
        metaVals = statsVals(nDocs, t.getLong(1), buckets)))
    }
  }

  /** Keyword search against a persisted index: `queries` are literal
    * (query_id, terms) pairs — the realistic serving shape (for
    * query-by-example, tokenize the probe doc client-side and pass
    * `excludeSelf = true` with the probe's doc_id as the query_id).
    * Exactly [[bm25TopK]]'s scoring: corpus stats come from the stats
    * table as driver literals (no scalar attach in the plan), df from
    * the PRUNED postings read (every posting of a term lives in its
    * bucket, so the pruned df equals the global df).
    */
  def lexIndexTopK(spark: SparkSession, dir: String,
      queries: Seq[(Long, Seq[String])], k: Int = 10, k1: Double = 1.2,
      b: Double = 0.75, excludeSelf: Boolean = false): DataFrame = {
    require(queries.nonEmpty, "lexIndexTopK needs at least one query")
    require(queries.size <= 1000,
      s"lexIndexTopK broadcasts the query-term table; ${queries.size} " +
        "queries exceeds the 1000-query bound")
    // A repeated query_id would contribute its term rows twice and
    // silently double the affected per-term scores — fail instead.
    require(queries.map(_._1).distinct.size == queries.size,
      "lexIndexTopK query ids must be distinct")
    val lay = GenManifest.layout(spark, dir, Family)
    val (nDocs, totalTokens, buckets) = statsOf(spark, dir, lay)
    require(nDocs > 0, s"index at $dir is empty")
    val qt = {
      import spark.implicits._
      queries.flatMap { case (q, ts) => ts.distinct.map(t => (q, t)) }
        .toDF("query_id", "term")
    }
    // Same hash expression the build used — engine-internal only (the
    // oracle never sees buckets, it recomputes full BM25). Evaluated
    // DRIVER-SIDE over the literal terms (r18 serve fusion: the query
    // table is a local Seq, and the former distinct+collect launched a
    // whole Spark job per serve): `functions.hash` IS Murmur3Hash at
    // seed 42 and `pmod` resolves to the same Pmod node, so this
    // evaluates the identical catalyst expressions the build's column
    // route runs (route-equality spec-pinned incl. multi-byte terms).
    val bkts = termBuckets(queries.flatMap(_._2).distinct, buckets)
    // Each generation dir is its own partitioned source; the bkt filter
    // pushes through the union, so EVERY generation scan prunes
    // independently (the readCells discipline). A never-appended index
    // is one scan — exactly the pre-append plan. Liveness (takedowns)
    // resolves AFTER the prune, over the sliver — df then counts only
    // live postings, so a retracted doc stops weighting every query's
    // idf the moment the tombstone commits (retraction ≡ rebuild
    // exactly: df/scores recompute from live rows, stats were
    // decremented at takedown).
    val scoped = foldedLivePostings(spark, dir, lay,
      _.filter(col("bkt").isin(bkts: _*)))
    val dfTab = dfOver(scoped, qt)
    val matched0 = scoped.join(broadcast(qt.join(dfTab, Seq("term"))),
      Seq("term"))
    val matched =
      if (excludeSelf) matched0.filter(col("doc_id") =!= col("query_id"))
      else matched0
    scoreAndRank(matched, k, k1, b,
      lit(nDocs.toDouble), lit(totalTokens.toDouble / nDocs.toDouble))
  }

  /** The build's `pmod(hash(term), buckets)` bucket expression evaluated
    * driver-side per literal term — the EXACT catalyst nodes the column
    * route resolves to (Murmur3Hash seed 42, Pmod), so the pruning
    * literals can never diverge from the at-rest partitioning.
    */
  private[graft] def termBuckets(terms: Seq[String],
      buckets: Int): IndexedSeq[Int] = {
    import org.apache.spark.sql.catalyst.expressions.{Literal => CatLit, Murmur3Hash, Pmod}
    terms.distinct.map { t =>
      Pmod(
        Murmur3Hash(Seq(CatLit.create(t,
          org.apache.spark.sql.types.StringType)), 42),
        CatLit(buckets)).eval(null).asInstanceOf[Int]
    }.distinct.toIndexedSeq
  }

  // ---- append lifecycle (daily ingest without a rebuild) ---------------
  //
  // Unlike the ANN indexes (whose append freezes a trained book and is
  // equivalent-by-determinism), the lexical append is equivalent to a
  // rebuild EXACTLY and unconditionally: postings rows are disjoint by
  // doc_id, df is recomputed from the union at serve time, and the
  // corpus stats are purely additive. Commit/sweep mechanics are the
  // shared [[GenManifest]] protocol (delta dirs on disk before any
  // manifest references them; dot-temp -> rename as the atomic commit;
  // single-writer, fail-loud on a same-generation race). The caller owns
  // doc_id uniqueness across generations — a re-ingested doc_id would
  // double-count in df and N.

  /** The manifest schema: `dirs` (postings) + optional `tdirs` +
    * `stats`, with the corpus stats riding in `metaVals`. A freshly-built
    * index written before the append lifecycle adopts as
    * (0, ["postings"], Nil, "stats").
    */
  private[graft] val Family = GenManifest.Family("lex",
    Seq("dirs" -> "postings"), Some("stats"), tombstones = true,
    "postings|stats|(postings|stats|tombs)-.*".r)

  /** The (n_docs, total_tokens, buckets) stats: manifest-carried when
    * present (zero Spark jobs — the r18 serve-path fusion; the values
    * are committed in the SAME atomic rename as the stats dir they
    * mirror, so they can never diverge), else the 1-row stats parquet.
    */
  private def statsOf(spark: SparkSession, dir: String,
      lay: GenManifest.Layout): (Long, Long, Int) =
    lay.metaVals match {
      case Some(mv) =>
        (mv("n_docs"), mv("total_tokens"), mv("buckets").toInt)
      case None =>
        val st = spark.read.parquet(s"$dir/${lay.meta}").head()
        (st.getAs[Long]("n_docs"), st.getAs[Long]("total_tokens"),
          st.getAs[Int]("buckets"))
    }

  /** The inverse of [[statsOf]]: the stats every commit carries (in the
    * SAME atomic rename as the stats dir they mirror) so serves never
    * pay the 1-row parquet job.
    */
  private def statsVals(nDocs: Long, totalTokens: Long,
      buckets: Int): Option[Map[String, Long]] =
    Some(Map("n_docs" -> nDocs, "total_tokens" -> totalTokens,
      "buckets" -> buckets.toLong))

  /** The ONE liveness fold over the postings generations (GenManifest's
    * doc-keyed tombstone kernels, shared with DedupIndex/MediaIndex): a
    * bare generation read when tombstone-free — byte-identical to the
    * pre-retraction plan — and the newest-insert-outlives-newest-
    * tombstone resolution otherwise. `prune` applies the serve's bkt
    * partition filter BEFORE the liveness join so every generation scan
    * still prunes (the readPrunedLive discipline); the tombstone-max
    * table is takedown-sized by contract and broadcasts inside
    * [[GenManifest.liveRows]].
    */
  private def foldedLivePostings(spark: SparkSession, dir: String,
      lay: GenManifest.Layout,
      prune: DataFrame => DataFrame = identity): DataFrame =
    if (lay.tDirs.isEmpty)
      prune(GenManifest.readGenerations(spark, dir, lay("dirs")))
    else GenManifest.liveRows(
      prune(GenManifest.readWithGen(spark, dir, lay("dirs"))), "doc_id",
      GenManifest.tombMax(spark, dir, lay.tDirs, "doc_id"))

  /** APPEND new documents to a persisted inverted index: the delta's
    * postings are written as a new bucket-partitioned generation dir
    * (same term-hash expression, so pruning spans generations), the
    * corpus stats roll forward ADDITIVELY into a new stats dir, and the
    * manifest rename commits both at once. Search-after-append equals a
    * full rebuild over base∪delta EXACTLY (spec-pinned) — df and scores
    * are recomputed from the union at serve time, nothing is frozen.
    *
    * An empty delta (token-less docs only) is a NO-OP: a 0-row
    * partitioned write leaves no bkt= dirs and committing it would
    * poison every later read — the ANN append lesson.
    */
  def appendToLexIndex(newDocs: DataFrame, dir: String): Unit = {
    val spark = newDocs.sparkSession
    val lay = GenManifest.layout(spark, dir, Family)
    val (nDocs, totalTokens, buckets) = statsOf(spark, dir, lay)
    // Fail-fast on an empty BASE (a build over a token-less corpus):
    // its postings dir holds no parquet files, and committing a manifest
    // that references it would poison every later read with "unable to
    // infer schema" — the sweep can never collect a live-referenced dir.
    // (Also guards the NULL total_tokens such a build writes, which
    // getAs[Long] would silently unbox to 0.)
    require(nDocs > 0,
      s"index at $dir has an empty base (token-less build) — rebuild " +
        "with buildLexIndex instead of appending")
    val newPDir = s"postings-${lay.seq + 1}"
    val newSDir = s"stats-${lay.seq + 1}"
    val (deltaDocs, deltaTokens) = Barrier.withCached(postings(newDocs)) { p =>
      // Totals FIRST (fills the cache): an empty delta is discovered
      // before the partitioned write job runs at all — no scratch dir to
      // write and then delete on the no-op path.
      val t = corpusTotals(p).head()
      if (t.getLong(0) > 0L)
        p.withColumn("bkt", pmod(hash(col("term")), lit(buckets)))
          .repartition(col("bkt"))
          .write.mode("overwrite").partitionBy("bkt")
          .parquet(s"$dir/$newPDir")
      (t.getLong(0), t.getLong(1))
    }
    if (deltaDocs == 0L) {
      System.err.println(
        s"[graft] lex append of an EMPTY delta to $dir skipped " +
          "(nothing written, no commit)")
    } else {
      spark.range(1).select(
          lit(nDocs + deltaDocs).as("n_docs"),
          lit(totalTokens + deltaTokens).as("total_tokens"),
          lit(buckets).as("buckets"))
        .write.mode("overwrite").parquet(s"$dir/$newSDir")
      // Tombstones carry over: a re-ingested doc_id's NEW generation
      // outlives any older tombstone, so the append alone restores its
      // membership AND its stats contribution (the stats were
      // decremented when it was taken down).
      GenManifest.commit(spark, dir, Family,
        lay.appended("dirs" -> newPDir).copy(metaDir = Some(newSDir),
          metaVals = statsVals(nDocs + deltaDocs, totalTokens + deltaTokens,
            buckets)))
    }
  }

  /** RETRACT documents from a persisted inverted index — the takedown /
    * right-to-be-forgotten path, completing the lifecycle (build /
    * append / compact / retract) the stats, exact-dedup, dedup, and
    * media indexes already have. The takedown ids become ONE tombstone
    * generation (doc-keyed — postings rows are per-doc, so a doc_id
    * tombstone removes exactly that document's postings); the corpus
    * stats roll BACKWARD into a new stats dir (subtracting the live
    * takedown docs' doc/token counts — the StatsIndex negated-sums
    * shape, folded into the literal stats row this family serves from);
    * one atomic manifest rename commits both. Because df and scores are
    * recomputed from live postings at serve time, retraction ≡ rebuild
    * over the retained corpus EXACTLY and unconditionally (spec-pinned)
    * — the same argument as the append equivalence.
    *
    * OVER-RETRACTION throws before anything is written (the family
    * rule): every takedown id must be currently live IN THE INDEX —
    * token-less docs were never indexed, so retracting one is a caller
    * bug, not a no-op. An empty takedown set is a no-op. A retraction
    * that would empty the index throws (an all-retracted index is
    * unrepresentable — n_docs = 0 fails every serve; rebuild when
    * content returns). [[compactLexIndex]] physically purges tombstoned
    * postings and folds the tombstones away. SINGLE-WRITER.
    *
    * Cost shape: the membership probe + stats decrement is ONE map-side
    * pass over the postings' `first_pos == 0` marker rows semi-joined
    * to the broadcast takedown set — postings partition by TERM hash,
    * so a doc-keyed probe cannot prune, but it never shuffles the
    * postings either. The tombstone table is takedown-sized by contract
    * (broadcast at serve; compact regularly under sustained takedowns).
    */
  def retractFromLexIndex(docs: DataFrame, dir: String): Unit = {
    val spark = docs.sparkSession
    val lay = GenManifest.layout(spark, dir, Family)
    val (nDocs, totalTokens, buckets) = statsOf(spark, dir, lay)
    require(nDocs > 0,
      s"index at $dir has an empty base (token-less build) — nothing " +
        "to retract")
    val newT = s"tombs-${lay.seq + 1}"
    val newS = s"stats-${lay.seq + 1}"
    import Barrier.BarrierOps
    // BARRIERED, not cached (the family takedown discipline): the
    // membership require and the WRITTEN tombstone rows must derive
    // from one materialized id set — a persist can re-evaluate from
    // lineage and commit an id that never passed the require.
    val h = docs.where(col("doc_id").isNotNull)
      .select(col("doc_id")).distinct()
      .barrier()
    try {
      if (h.isEmpty) {
        System.err.println(
          s"[graft] lex-index retraction of an EMPTY set at $dir " +
            "skipped (no commit)")
      } else {
        // LIVE marker rows (first_pos == 0 — exactly one per tokenized
        // doc per live generation) for the takedown ids: membership
        // evidence and the stats decrement in ONE map-side pass.
        val markers = foldedLivePostings(spark, dir, lay,
            _.join(broadcast(h), Seq("doc_id"), "left_semi"))
          .filter(col("first_pos") === 0L)
          .select(col("doc_id"), col("dl"))
          .barrier() // takedown-sized
        try {
          val agg = markers.agg(
            count(lit(1)).as("n"),
            countDistinct(col("doc_id")).as("nd"),
            coalesce(sum(col("dl")), lit(0L)).as("tok")).head()
          val (mn, mnd, mtok) =
            (agg.getLong(0), agg.getLong(1), agg.getLong(2))
          val hCount = h.count()
          require(mnd == hCount,
            s"retractFromLexIndex at $dir: ${hCount - mnd} of the " +
              "takedown ids are not currently live in the index (never " +
              "indexed, token-less, or already retracted) — a takedown " +
              "of absent documents is a caller bug, not a no-op")
          // One live generation per doc by the append contract (caller
          // owns doc_id uniqueness); duplicate markers mean the stats
          // decrement would double-count — surface it.
          require(mn == mnd,
            s"retractFromLexIndex at $dir: ${mn - mnd} duplicate live " +
              "postings generations for takedown ids — doc_id " +
              "uniqueness across appends was violated; rebuild")
          require(nDocs - mn > 0,
            s"retractFromLexIndex at $dir: the takedown would retract " +
              "every indexed document — an all-empty index is " +
              "unrepresentable; rebuild with buildLexIndex when " +
              "content returns")
          h.write.mode("overwrite").parquet(s"$dir/$newT")
          spark.range(1).select(
              lit(nDocs - mn).as("n_docs"),
              lit(totalTokens - mtok).as("total_tokens"),
              lit(buckets).as("buckets"))
            .write.mode("overwrite").parquet(s"$dir/$newS")
          GenManifest.commit(spark, dir, Family,
            lay.retracted(newT).copy(metaDir = Some(newS),
              metaVals = statsVals(nDocs - mn, totalTokens - mtok, buckets)))
        } finally Barrier.release(markers)
      }
    } finally Barrier.release(h)
  }

  /** INCREMENTAL CORPUS SYNC — apply a v1 → v2 snapshot transition to a
    * lex index currently holding v1's tokenized membership, so serves
    * afterwards equal a [[buildLexIndex]] over v2 EXACTLY: the
    * [[DedupIndex.syncDedupIndex]] composition at the lexical tier.
    * `removed` and `changed` ids retract (one tombstone generation + a
    * decremented stats row in one commit), `added` and `changed` rows
    * append from v2 (stats roll forward); df/N/avgdl recompute from
    * live postings at serve, so the re-ingested changed doc scores with
    * its NEW content and nothing else moves — the same unconditional
    * equivalence argument as retraction ≡ rebuild.
    *
    * Membership bookkeeping mirrors the dedup sync: the retraction leg
    * intersects v1's INGESTED membership (tokenized docs) on a
    * BARRIERED transition-sized sliver (an unbarriered filter would be
    * pushed below the semi join onto the full v1 scan), and the append
    * leg writes nothing for docs that tokenize to nothing in v2. The
    * diff's full-outer hash join runs once (transition rows barrier).
    * Transition sets are broadcast-sized by contract. SINGLE-WRITER.
    *
    * BOUND (the family's all-retracted guard, inherited): a transition
    * that removes or changes EVERY live doc retracts the index empty
    * before the append leg can refill it, and [[retractFromLexIndex]]
    * throws — a full corpus replacement is a [[buildLexIndex]] rebuild,
    * not a sync.
    *
    * TORN-SYNC RECOVERY: two atomic commits (retract+stats, then
    * append). A crash between them leaves membership at
    * v1 ∖ (removed ∪ changed) with stats already decremented — a
    * CONSISTENT index (serves stay exact over the remaining docs);
    * recover by applying the append leg alone —
    * `appendToLexIndex(v2 ⋉ (added ∪ changed ids), dir)` — or rebuild.
    * Re-running the full sync trips the over-retraction guard on the
    * already-tombstoned ids (the doc-keyed guard cannot distinguish a
    * torn sync from a wrong v1 frame; the hash-keyed
    * [[ExactDedupIndex.syncIndex]] is the resumable member).
    */
  def syncLexIndex(v1Docs: DataFrame, v2Docs: DataFrame,
      dir: String): Unit = {
    import Barrier.BarrierOps
    val transitions = Curation.corpusDiff(v1Docs, v2Docs)
      .where(col("status") =!= "unchanged")
      .select(col("doc_id"), col("status"))
      .barrier()
    try {
      val retractIds = transitions
        .filter(col("status").isin("removed", "changed"))
        .select(col("doc_id"))
      val retractDocs = v1Docs.where(col("doc_id").isNotNull)
        .select(col("doc_id"), col("text"))
        .join(broadcast(retractIds), Seq("doc_id"), "left_semi")
        .barrier()
      try {
        retractFromLexIndex(
          retractDocs.where(
            size(TextAnalysis.wsTokens(col("text"))) > 0), dir)
      } finally Barrier.release(retractDocs)
      val appendIds = transitions
        .filter(col("status").isin("added", "changed"))
        .select(col("doc_id"))
      appendToLexIndex(
        v2Docs.join(broadcast(appendIds), Seq("doc_id"), "left_semi"), dir)
    } finally Barrier.release(transitions)
  }

  /** Takedown-pressure census (ONE row: live_docs, dead_docs,
    * dead_ppm) — the shared [[GenManifest.takedownCensus]] over the
    * postings' doc keys (a doc spans many postings rows across term
    * buckets; the per-key fold counts DOCS). The compact-now signal:
    * tombstoned postings still occupy every term bucket they hashed to
    * until [[compactLexIndex]] purges them, inflating each pruned
    * serve read proportionally to dead_ppm.
    */
  def takedownHealth(spark: SparkSession, dir: String): DataFrame = {
    val lay = GenManifest.layout(spark, dir, Family)
    GenManifest.takedownCensus(spark, dir, lay("dirs"), lay.tDirs, "doc_id",
      "live_docs", "dead_docs")
  }

  /** COMPACT a persisted inverted index: fold every live postings
    * generation back into ONE bucket-partitioned dir and commit with the
    * same atomic manifest rename appends use — the maintenance pass that
    * restores the single-scan-per-pass plan an append history erodes
    * (each generation is its own parquet source in the serve plan).
    * Rows are rewritten VERBATIM (bkt rides the read — no re-hash) and
    * the stats carry over unchanged into a generation-owned copy, so
    * search-after-compact is bit-identical to search-before
    * (spec-pinned). No-op on a single-generation index. Single-writer,
    * like append.
    */
  def compactLexIndex(spark: SparkSession, dir: String): Unit = {
    val lay = GenManifest.layout(spark, dir, Family)
    val (pDirs, tDirs) = (lay("dirs"), lay.tDirs)
    if (pDirs.length <= 1 && tDirs.isEmpty) {
      // Nothing to fold, but compaction is the maintenance pass: still
      // collect garbage a previously-failed best-effort sweep left
      // behind (an otherwise idle index would keep it forever).
      GenManifest.sweep(spark, dir, Family, lay.seq)
      return
    }
    val newP = s"postings-${lay.seq + 1}"
    val newS = s"stats-${lay.seq + 1}"
    // Tombstone-free rows rewrite VERBATIM (one read-to-write pipeline);
    // with retraction generations live the fold keeps only LIVE postings
    // (physically purging taken-down docs) and the tombstones fold away.
    // The retraction guard keeps n_docs > 0, so the fold cannot be
    // empty on an undamaged index — but a partitioned write of an empty
    // frame leaves a schema-less dir that would poison every later
    // read, so the tombstoned arm still probes emptiness on the SAME
    // materialization it writes (the dedup-compact discipline).
    if (tDirs.isEmpty) {
      GenManifest.readGenerations(spark, dir, pDirs)
        .repartition(col("bkt"))
        .write.mode("overwrite").partitionBy("bkt").parquet(s"$dir/$newP")
    } else {
      import Barrier.BarrierOps
      val fp = foldedLivePostings(spark, dir, lay).barrier()
      try {
        require(fp.count() > 0L,
          s"compactLexIndex at $dir: every document is retracted — an " +
            "all-empty index is unrepresentable; rebuild with " +
            "buildLexIndex when content returns")
        fp.repartition(col("bkt"))
          .write.mode("overwrite").partitionBy("bkt").parquet(s"$dir/$newP")
      } finally Barrier.release(fp)
    }
    spark.read.parquet(s"$dir/${lay.meta}")
      .write.mode("overwrite").parquet(s"$dir/$newS")
    val (nDocs, totalTokens, buckets) = statsOf(spark, dir, lay)
    GenManifest.commit(spark, dir, Family,
      lay.compacted("dirs" -> newP).copy(metaDir = Some(newS),
        metaVals = statsVals(nDocs, totalTokens, buckets)))
  }

  /** Driver-side query-by-example term extraction — the client half of
    * [[lexIndexTopK]]'s contract: tokenize a probe text with the Scala
    * tokenizer twin and keep the first `n` distinct terms in
    * first-occurrence order. ONE definition shared by the registered
    * query and the serve≡batch spec, because it must stay exactly
    * equivalent to [[bm25Tail]]'s (first_pos, term) window and the
    * oracle's QUALIFY ordering (positions are unique per term, so the
    * order is total without a term tie-break).
    */
  def queryByExampleTerms(text: String, n: Int): Seq[String] = {
    val toks = graft.streaming.StreamingNearDup
      .wsTokensScala(Option(text).getOrElse(""))
    toks.zipWithIndex.groupBy(_._1)
      .map { case (t, xs) => t -> xs.map(_._2).min }
      .toSeq.sortBy(_._2).take(n).map(_._1)
  }

}
