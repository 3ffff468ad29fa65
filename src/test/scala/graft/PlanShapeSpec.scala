package graft

import org.apache.spark.sql.functions._

/** Plan-shape regression net: the scale properties the engine is designed
  * around, asserted against the actual physical/optimized plans so a
  * refactor can't silently regress them (the round-4 decontam fix was
  * exactly such a regression — an optimizer rule quietly re-tokenizing
  * every document inside an inferred filter).
  */
class PlanShapeSpec extends SparkSpec {
  private val sf = "/root/testdata/sf0.001"

  private def physical(name: String): String =
    SparkEntry.queries(name)(spark, sf).queryExecution.executedPlan.toString

  test("q2_filter: predicate pushed to the parquet scan, columns pruned") {
    val p = physical("q2_filter")
    assert(p.contains("PushedFilters: ["), p.take(2000))
    assert(!p.contains("PushedFilters: []"), p.take(2000))
  }

  test("q1_agg: aggregation runs inside whole-stage codegen") {
    // AQE defers codegen-stage insertion until runtime re-planning, so
    // assert on the non-adaptive plan where the `*(n)` markers are static.
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val p = physical("q1_agg")
      assert("\\*\\(\\d+\\) HashAggregate".r.findFirstIn(p).isDefined, p.take(2000))
    } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
  }

  test("q3_join: dimension sides broadcast (no shuffle join for dims)") {
    assert(physical("q3_join").contains("BroadcastHashJoin"))
  }

  test("trend_topk: top-k plans as TakeOrderedAndProject, not a full sort") {
    assert(physical("trend_topk").contains("TakeOrderedAndProject"))
  }

  test("emb_topk: per-query rank prunes with WindowGroupLimit") {
    assert(physical("emb_topk").contains("WindowGroupLimit"))
  }

  test("emb_sq_topk: quantized search keeps the broadcast + WindowGroupLimit shape") {
    val p = physical("emb_sq_topk")
    assert(p.contains("WindowGroupLimit"))
    assert(p.contains("BroadcastExchange"))
  }

  test("emb_semantic_dedup: within-cluster pair scan is a hash join on the cluster id") {
    val p = physical("emb_semantic_dedup")
    assert(!p.contains("CartesianProduct"), p.take(2000))
    assert(p.contains("HashJoin") || p.contains("SortMergeJoin"))
  }

  test("emb_cluster_purity: centroids broadcast; argmin prunes with WindowGroupLimit") {
    val p = physical("emb_cluster_purity")
    assert(p.contains("BroadcastExchange"), p.take(2000))
    assert(p.contains("WindowGroupLimit"), p.take(2000))
  }

  test("q22_idle_rich_custs: scalar average broadcasts; anti join stays hash-based") {
    val p = physical("q22_idle_rich_custs")
    assert(p.contains("BroadcastExchange"), p.take(2000))
    assert(!p.contains("CartesianProduct"), p.take(2000))
    assert(p.contains("LeftAnti"), p.take(2000))
  }

  test("runtime filtering: a selective dim predicate injects a bloom probe into the fact side") {
    // The 100 TB story for shuffle joins Spark can't broadcast: the
    // selective side builds a bloom filter at runtime and the fact scan
    // probes it BEFORE the exchange (InjectRuntimeFilter). Thresholds are
    // sized for real clusters, so pin them down to demonstrate on test
    // data; broadcast is disabled to force the shuffle-join path the
    // feature exists for.
    val confs = Map(
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.optimizer.runtime.bloomFilter.enabled" -> "true",
      "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold" -> "100MB",
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold" -> "0")
    val saved = confs.keys.map(k => k -> spark.conf.getOption(k)).toMap
    try {
      confs.foreach { case (k, v) => spark.conf.set(k, v) }
      val l = spark.read.parquet(s"$sf/lineitem.parquet")
      val pt = spark.read.parquet(s"$sf/part.parquet")
        .filter(col("p_size") === 1)
      val q = l.join(pt, l("l_partkey") === pt("p_partkey"))
        .groupBy(col("p_type")).agg(sum(col("l_quantity")).as("qty"))
      val plan = q.queryExecution.optimizedPlan.toString
      assert(plan.toLowerCase.contains("bloom"), plan.take(3000))
    } finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None)    => spark.conf.unset(k)
    }
  }

  test("events_sessions_batch: both windows and the session agg share ONE user_id exchange") {
    val p = physical("events_sessions_batch")
    val shuffles = "ShuffleExchange|Exchange hashpartitioning".r
      .findAllIn(p).length
    assert(shuffles == 1, s"expected exactly one shuffle, plan:\n${p.take(2000)}")
  }

  test("events_retention: cohort sizes broadcast back onto the cell aggregation") {
    assert(physical("events_retention").contains("BroadcastExchange"))
  }

  test("events_asof_attrib: as-of join lowers to a window pass, no join of any kind") {
    val p = physical("events_asof_attrib")
    assert(!p.contains("Join"), p.take(2000))
    assert(p.contains("Window"))
  }

  test("events_range_views_1h: interval join is hash-based, never a nested loop") {
    val p = physical("events_range_views_1h")
    assert(!p.contains("BroadcastNestedLoopJoin"), p.take(2000))
    assert(!p.contains("CartesianProduct"), p.take(2000))
    assert(p.contains("HashJoin") || p.contains("SortMergeJoin"))
  }

  test("explodedShingles: no inferred filter re-running the tokenization") {
    // Inner explode triggers InferFiltersFromGenerate, whose alias
    // substitution inlines the gram transform (tokenization inside every
    // element_at) into a Filter below the projection — 25 s of a 48 s
    // query before the explode_outer fix. Lock the optimized plan shape.
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val opt = graft.operators.Dedup.explodedShingles(docs, 8)
      .queryExecution.optimizedPlan.toString
    assert(!"(?s)Filter[^\\n]*(split|ws_tokens)\\(".r.findFirstIn(opt).isDefined, opt.take(2000))
  }

  test("explodedTokens and Bpe.vocab: no inferred filter re-running the tokenization") {
    // The materialize-the-alias-first form does NOT stop the rule on
    // Spark 4.1.2 — alias substitution re-inlines wsTokens into the
    // pushed filter (empirically confirmed this round); only the
    // explode_outer + isNotNull shape skips it. Lock both token
    // exploders so a refactor back to inner explode trips here.
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val optTok = graft.operators.TextAnalysis.explodedTokens(docs)
      .queryExecution.optimizedPlan.toString
    assert(!"(?s)Filter[^\\n]*(split|ws_tokens)\\(".r.findFirstIn(optTok).isDefined,
      optTok.take(2000))
    val optVocab = graft.operators.Bpe.vocab(docs)
      .queryExecution.optimizedPlan.toString
    assert(!"(?s)Filter[^\\n]*(split|ws_tokens)\\(".r.findFirstIn(optVocab).isDefined,
      optVocab.take(2000))
  }

  test("simhashes64: the signature pipeline is map-only — no doc_id vote exchange (r18 kernel)") {
    // The per-row SimhashExpr rewrite deletes the corpus-wide doc_id
    // shuffle the explode+vote aggregation paid; only the doc-level
    // re-attach's BROADCAST exchange may remain, and no inferred filter
    // may re-run the tokenizer below the projection.
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val opt = graft.operators.Dedup.simhashes64(docs)
      .queryExecution.optimizedPlan.toString
    assert(!"(?s)Filter[^\\n]*(split|ws_tokens)\\(".r.findFirstIn(opt).isDefined,
      opt.take(2000))
    val phys = graft.operators.Dedup.simhashes64(docs)
      .queryExecution.executedPlan.toString
    assert(!phys.contains("Exchange hashpartitioning"), phys.take(3000))
    assert(!phys.contains("HashAggregate"), phys.take(3000))
  }

  test("bandBucketsFromSets: banding is map-only (no exchange) and no inferred filter re-runs the band algebra") {
    // The r17 rewrite: per-row band keys via bandKeyArray — the
    // signature groupBy exchange is GONE (one corpus shuffle cheaper at
    // scale), and the bucket explode is the outer + isNotNull form (an
    // inner posexplode would re-inline the whole md5/array_min band
    // algebra into an InferFiltersFromGenerate filter).
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val sets = graft.operators.Dedup.shingleSets(
      docs.where(col("doc_id").isNotNull), 3)
    val opt = graft.operators.Dedup.bandBucketsFromSets(sets)
      .queryExecution.optimizedPlan.toString
    assert(!"(?s)Filter[^\\n]*md5\\(".r.findFirstIn(opt).isDefined,
      opt.take(2000))
    val phys = graft.operators.Dedup.bandBucketsFromSets(sets)
      .queryExecution.executedPlan.toString
    assert(!phys.contains("Exchange"), phys.take(2000))
  }

  test("doc_decontam: eval gram side broadcasts; train corpus not re-shuffled") {
    val p = physical("doc_decontam")
    assert(p.contains("BroadcastHashJoin"), p.take(2000))
  }

  test("doc_pii_scrub and doc_gopher_quality: map-only, zero exchanges") {
    // Both are pure projection chains — a shuffle appearing here means a
    // refactor broke the single-scan design.
    assert(!physical("doc_pii_scrub").contains("Exchange"))
    assert(!physical("doc_gopher_quality").contains("Exchange"))
  }

  test("doc_c4_rules: map-only, zero exchanges — every rule is a per-row array fold") {
    // The C4 line filter must stay a HOF filter over the line split (no
    // explode, no shuffle); an Exchange here means a refactor turned a
    // per-row fold into a distributed pass.
    assert(!physical("doc_c4_rules").contains("Exchange"))
  }

  test("doc_weighted_sample: priority top-k plans as TakeOrderedAndProject, never a global sort") {
    val p = physical("doc_weighted_sample")
    assert(p.contains("TakeOrderedAndProject"), p.take(2000))
  }

  test("doc_exact_substr: anchor join is hash-based; no nested loop or cartesian") {
    val p = physical("doc_exact_substr")
    assert(!p.contains("CartesianProduct"), p.take(2000))
    assert(!p.contains("BroadcastNestedLoopJoin"), p.take(2000))
    assert(p.contains("HashJoin") || p.contains("SortMergeJoin"), p.take(2000))
  }

  test("emb_ivf_kmeans_topk: probes broadcast, top-k prunes with WindowGroupLimit") {
    // The public method eagerly checkpoints (its plan is an ExistingRDD
    // scan); assert on the factored-out search plan instead.
    import org.apache.spark.sql.functions.col
    val v = spark.read.parquet(s"$sf/embeddings.parquet")
      .select(col("vec_id"), col("embedding").cast("array<double>").as("ev"))
    val book = graft.operators.Similarity.iterateBooks(v, 16, 0)
    val p = graft.operators.Similarity
      .kmeansSearchPlan(v, book, k = 5, numQueries = 10, probes = 2)
      .queryExecution.executedPlan.toString
    assert(p.contains("BroadcastExchange"), p.take(2000))
    assert(p.contains("WindowGroupLimit"), p.take(2000))
    assert(!p.contains("CartesianProduct"), p.take(2000))
    // Literal-centroid assignment: the corpus side must carry NO
    // assignment join and no shuffled join at all.
    assert(!p.contains("SortMergeJoin"), p.take(2000))
  }

  test("emb_ivf_index_topk: probed-cells scan partition-prunes the index read") {
    import org.apache.spark.sql.functions.col
    val dir = java.nio.file.Files
      .createTempDirectory("graft_ivf_plan").toString
    graft.operators.Similarity.buildIvfIndex(
      spark.read.parquet(s"$sf/embeddings.parquet"), dir,
      clusters = 16, iters = 0)
    val p = graft.operators.Similarity
      .ivfIndexTopK(spark, dir,
        spark.read.parquet(s"$sf/embeddings.parquet")
          .filter(col("vec_id") < 10), k = 5, probes = 2)
      .queryExecution.executedPlan.toString
    // The cells scan carries a non-empty partition filter (cell IN …) —
    // unprobed directories are never read.
    assert(p.contains("PartitionFilters: [") &&
      "PartitionFilters: \\[cell".r.findFirstIn(p).isDefined, p.take(3000))
    assert(p.contains("WindowGroupLimit"), p.take(2000))
  }

  test("emb_ivf_append_topk: EVERY generation scan of an appended index partition-prunes") {
    import org.apache.spark.sql.functions.col
    val dir = java.nio.file.Files
      .createTempDirectory("graft_ivf_app_plan").toString
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
    graft.operators.Similarity.buildIvfIndex(
      emb.filter(col("vec_id") % 10 =!= 7), dir, clusters = 16, iters = 0)
    graft.operators.Similarity.appendToIvfIndex(
      emb.filter(col("vec_id") % 10 === 7), dir)
    val p = graft.operators.Similarity
      .ivfIndexTopK(spark, dir, emb.filter(col("vec_id") < 10),
        k = 5, probes = 2)
      .queryExecution.executedPlan.toString
    // Two generations (cells + delta-…) ⇒ two scans, EACH with a cell
    // partition filter — the append lifecycle keeps the bounded-read
    // guarantee per generation.
    val pruned = "PartitionFilters: \\[cell".r.findAllIn(p).size
    assert(pruned == 2, s"expected 2 pruned generation scans, got $pruned\n" +
      p.take(3000))
  }

  test("emb_ivf_retract_topk: tombstone-live cell reads keep pruning; the liveness join broadcasts; tombstone-free plans carry no liveness scratch") {
    import org.apache.spark.sql.functions.col
    val dir = java.nio.file.Files
      .createTempDirectory("graft_ivf_rt_plan").toString
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
    graft.operators.Similarity.buildIvfIndex(
      emb.filter(col("vec_id") % 10 =!= 7), dir, clusters = 16, iters = 0)
    graft.operators.Similarity.appendToIvfIndex(
      emb.filter(col("vec_id") % 10 === 7), dir)
    // Tombstone-FREE serve: the retraction branch must not touch the
    // plan — no generation stamp, no liveness scratch columns.
    val p0 = graft.operators.Similarity
      .ivfIndexTopK(spark, dir, emb.filter(col("vec_id") < 10),
        k = 5, probes = 2)
      .queryExecution.executedPlan.toString
    assert(!p0.contains("__g") && !p0.contains("__tg"), p0.take(3000))
    graft.operators.Similarity.retractFromAnnIndex(
      emb.filter(col("vec_id") % 20 === 4), dir)
    val p = graft.operators.Similarity
      .ivfIndexTopK(spark, dir, emb.filter(col("vec_id") < 10),
        k = 5, probes = 2)
      .queryExecution.executedPlan.toString
    // The probe's cell filter pushes through readWithGen's lit(__g)
    // projection AND the liveness left-join to every generation scan;
    // the takedown-sized tombstone join broadcasts (an SMJ would
    // shuffle the pruned sliver per serve).
    val pruned = "PartitionFilters: \\[cell".r.findAllIn(p).size
    assert(pruned == 2, s"expected 2 pruned generation scans, got $pruned\n" +
      p.take(3000))
    assert(!p.contains("SortMergeJoin"), p.take(3000))
  }

  test("emb_ivf_compact_topk: compaction folds the appended index back to ONE pruned scan") {
    import org.apache.spark.sql.functions.col
    val dir = java.nio.file.Files
      .createTempDirectory("graft_ivf_cmp_plan").toString
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
    graft.operators.Similarity.buildIvfIndex(
      emb.filter(col("vec_id") % 10 =!= 7), dir, clusters = 16, iters = 0)
    graft.operators.Similarity.appendToIvfIndex(
      emb.filter(col("vec_id") % 10 === 7), dir)
    graft.operators.Similarity.compactIndex(spark, dir)
    val p = graft.operators.Similarity
      .ivfIndexTopK(spark, dir, emb.filter(col("vec_id") < 10),
        k = 5, probes = 2)
      .queryExecution.executedPlan.toString
    // The appended index planned one scan PER generation (locked above);
    // after compaction the search is back to a single partition-pruned
    // scan — the linear-plan-growth fix the operator exists for.
    val pruned = "PartitionFilters: \\[cell".r.findAllIn(p).size
    assert(pruned == 1, s"expected 1 pruned scan post-compaction, got $pruned\n" +
      p.take(3000))
  }

  test("emb_ivfpq_topk: IVF-PQ search partition-prunes cells and prunes both rank stages") {
    import org.apache.spark.sql.functions.col
    val dir = java.nio.file.Files
      .createTempDirectory("graft_ivfpq_plan").toString
    graft.operators.Similarity.buildIvfPqIndex(
      spark.read.parquet(s"$sf/embeddings.parquet"), dir,
      clusters = 8, iters = 0, m = 4, codes = 4)
    val p = graft.operators.Similarity
      .ivfPqTopK(spark, dir,
        spark.read.parquet(s"$sf/embeddings.parquet")
          .filter(col("vec_id") < 5), k = 3, probes = 2, candidates = 10)
      .queryExecution.executedPlan.toString
    assert(p.contains("PartitionFilters: [") &&
      "PartitionFilters: \\[cell".r.findFirstIn(p).isDefined, p.take(3000))
    assert(p.contains("WindowGroupLimit"), p.take(2000))
    assert(!p.contains("SortMergeJoin"), p.take(2000))
  }

  test("emb_ivf_multi_topk: probe table broadcasts, rank prunes with WindowGroupLimit") {
    val p = physical("emb_ivf_multi_topk")
    assert(p.contains("BroadcastHashJoin"), p.take(2000))
    assert(p.contains("WindowGroupLimit"), p.take(2000))
  }

  test("events_range_spend_1h: aggregating interval join stays hash-based") {
    val p = physical("events_range_spend_1h")
    assert(!p.contains("BroadcastNestedLoopJoin"), p.take(2000))
    assert(!p.contains("CartesianProduct"), p.take(2000))
  }

  test("q17_small_qty: per-part average joins broadcast, no correlated rescan") {
    assert(physical("q17_small_qty").contains("BroadcastHashJoin"))
  }

  test("doc_packing: running-sum window partitions by (lang, range), offsets broadcast") {
    // One-window-per-language would sort the head language's whole corpus
    // on a single task at scale; the two-pass form keys the big window by
    // (lang, __rng) and broadcasts the tiny per-range offset table.
    val p = physical("doc_packing")
    assert("windowspecdefinition\\(lang#\\d+L?, __rng#\\d+L?, doc_id#\\d+L?"
      .r.findFirstIn(p).isDefined, p.take(3000))
    assert(p.contains("BroadcastHashJoin"), p.take(3000))
  }

  test("doc_dsir_select: scoring pass is map-only — model folded into literals") {
    // The model tables collapse to one literal weight array and literal
    // thresholds at build time, so the scoring plan itself must carry no
    // exchange and no join of any kind.
    val p = physical("doc_dsir_select")
    assert(!p.contains("Exchange"), p.take(3000))
    assert(!p.contains("Join"), p.take(3000))
  }

  test("doc_nb_quality: scoring pass is map-only — model folded into literals") {
    // Training collapses to one literal weight array at build time (the
    // DSIR pattern), so the scoring plan must carry no exchange and no
    // join — pure map over the corpus scan.
    val p = physical("doc_nb_quality")
    assert(!p.contains("Exchange"), p.take(3000))
    assert(!p.contains("Join"), p.take(3000))
  }

  test("doc_source_caps: rank filter prunes map-side with WindowGroupLimit") {
    val p = physical("doc_source_caps")
    assert(p.contains("WindowGroupLimit"), p.take(3000))
  }

  test("emb_pq_topk: LUT search broadcasts queries, top-k prunes with WindowGroupLimit") {
    // Codebooks are literals after training, so the search side must be
    // a broadcast of the query rows against the encoded corpus — never a
    // shuffled join — with the per-query rank pruned map-side. The r17
    // encode barrier hides the serve tail from the registered query's
    // plan, so the factored builders are what the lock inspects (the
    // kmeansSearchPlan / pqRerankTail discipline).
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
    val encoded = emb.select(col("vec_id"),
      array((col("vec_id") % 8).cast("int"),
        (col("vec_id") % 5).cast("int")).as("codes"))
    val queries = emb.filter(col("vec_id") < 10)
      .select(col("vec_id").as("query_id"),
        array(array((0 until 8).map(i => lit(i.toLong)): _*),
          array((0 until 8).map(i => lit(i * 2L)): _*)).as("luts"))
    val p = graft.operators.Similarity.pqTopKTail(
      graft.operators.Similarity.adcScoreJoin(encoded, queries), 5)
      .queryExecution.executedPlan.toString
    assert(p.contains("WindowGroupLimit"), p.take(3000))
    assert(p.contains("BroadcastExchange"), p.take(3000))
    assert(!p.contains("SortMergeJoin"), p.take(3000))
  }

  test("pqRerankTail: candidate set broadcasts into the corpus scan, no shuffled join") {
    // The rerank stage is hidden behind pqRecall's eager checkpoint, so
    // the factored builder is what the lock inspects (CLAUDE.md
    // localCheckpoint discipline).
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
    val ranked = emb.select((col("vec_id") % 5).as("query_id"),
      col("vec_id"), (col("vec_id") % 37).cast("int").as("rk"))
    val p = graft.operators.Similarity
      .pqRerankTail(ranked, emb, numQueries = 5, k = 5, candidates = 25)
      .queryExecution.executedPlan.toString
    assert(p.contains("BroadcastHashJoin"), p.take(3000))
    assert(!p.contains("SortMergeJoin"), p.take(3000))
    assert(p.contains("WindowGroupLimit"), p.take(3000))
  }

  test("doc_uniform_sample: smallest-k coins plan as TakeOrderedAndProject, never a global sort") {
    val p = physical("doc_uniform_sample")
    assert(p.contains("TakeOrderedAndProject"), p.take(2000))
  }

  test("writeShards: text rides the packing window — no corpus re-join") {
    // The shard-row frame must contain NO shuffled join: text is carried
    // through packAssignments' (lang, range) window exchange, so the only
    // join is the broadcast offset attach. The pre-refactor shape
    // sort-merge-joined the corpus text back to its assignments on
    // doc_id — one full extra sort of the text column.
    val p = graft.operators.Curation
      .shardRows(spark.read.parquet(s"$sf/documents.parquet"),
        2048L, 4L, 100000L)
      .queryExecution.executedPlan.toString
    assert(!p.contains("SortMergeJoin"), p.take(2000))
    assert(p.contains("BroadcastHashJoin"), p.take(2000))
  }

  test("doc_bpe_merges: training rounds stay on the vocab table; subword scoring is map-only") {
    import org.apache.spark.sql.functions.col
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    // A training round's argmax runs over the CHECKPOINTED vocabulary
    // (Scan ExistingRDD), never re-reading the corpus parquet, and the
    // top-1 plans as TakeOrderedAndProject, not a full sort.
    val words = graft.operators.Bpe.vocab(docs).localCheckpoint(eager = true)
    val p = graft.operators.Bpe.topPairPlan(words)
      .queryExecution.executedPlan.toString
    assert(p.contains("TakeOrderedAndProject"), p.take(2000))
    assert(!p.toLowerCase.contains("scan parquet"), p.take(2000))
    // Applying a learned merge table to score documents is a pure map —
    // nested literal folds, zero exchanges (the InferFiltersFromGenerate
    // class of regression would show up here as an Exchange or a
    // re-tokenizing filter).
    val merges = Seq(graft.operators.Bpe.Merge(1, "t", "h", "th", 1L))
    val sp = docs
      .select(col("doc_id"),
        graft.operators.Bpe.subwordCount(col("text"), merges).as("subwords"))
      .queryExecution.executedPlan.toString
    assert(!sp.contains("Exchange"), sp.take(2000))
  }

  test("doc_epoch_shuffle: sharded sort — one hash exchange, never a global range sort") {
    val p = physical("doc_epoch_shuffle")
    assert(p.contains("hashpartitioning"), p.take(3000))
    assert(!p.contains("rangepartitioning"), p.take(3000))
  }

  test("vocabTopKSketch: tail runs on checkpointed candidates — heap top-k, broadcast scalars, no re-scan") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val p = graft.operators.Curation.vocabTopKSketch(docs, k = 10, capacity = 64)
      .queryExecution.executedPlan.toString
    // Everything after the sketch merge reads the <= capacity-row
    // checkpointed candidate set: the top-k cut is a heap
    // (TakeOrderedAndProject), the offset/total scalars arrive by
    // broadcast, and the corpus parquet is never re-scanned.
    assert(p.contains("TakeOrderedAndProject"), p.take(3000))
    assert(p.contains("BroadcastExchange"), p.take(3000))
    assert(!p.contains("SortMergeJoin"), p.take(3000))
    assert(!p.toLowerCase.contains("scan parquet"), p.take(3000))
  }

  test("doc_decontam_frac: inherits the decontam shape — eval grams broadcast") {
    val p = physical("doc_decontam_frac")
    assert(p.contains("BroadcastHashJoin"), p.take(2000))
  }

  test("doc_mix_temperature: one lang aggregation, scalar min broadcasts, no window pass") {
    val p = physical("doc_mix_temperature")
    assert(p.contains("BroadcastExchange"), p.take(2000))
    assert(!p.contains("Window"), p.take(2000))
    assert(!p.contains("rangepartitioning"), p.take(2000))
  }

  test("events_funnel_steps: one per-user fold — no joins, no windows, step filter pushed") {
    val p = physical("events_funnel_steps")
    // The k-join formulation would re-shuffle the log per step; the
    // per-user array fold has NO join node of any kind.
    assert(!p.contains("Join"), p.take(3000))
    assert(!p.contains("Window"), p.take(3000))
    // The step-type filter reaches the parquet scan.
    assert(p.contains("PushedFilters: ["), p.take(3000))
    assert(!p.contains("PushedFilters: []"), p.take(3000))
  }

  test("doc_subword_stats: merges fold to literals — scoring is a zero-exchange projection") {
    val p = physical("doc_subword_stats")
    assert(!p.contains("Exchange"), p.take(3000))
    assert(!p.contains("Join"), p.take(3000))
  }

  test("pmiTopK tail: TakeOrderedAndProject over the pair table — no full sort") {
    val d = spark.read.parquet(s"$sf/documents.parquet")
    val p = graft.operators.TextAnalysis.pmiTail(
      graft.operators.TextAnalysis.pairCounts(
        graft.operators.TextAnalysis.docBigrams(d), "c_xy"), 20, 5L)
      .queryExecution.executedPlan.toString
    assert(p.contains("TakeOrderedAndProject"), p.take(3000))
    assert(!p.contains("CartesianProduct"), p.take(3000))
    assert(!p.contains("rangepartitioning"), p.take(3000))
  }

  test("events_transitions: one user window, probability window on the tiny table") {
    val p = physical("events_transitions")
    assert(!p.contains("CartesianProduct"), p.take(3000))
    assert(!p.contains("SortMergeJoin"), p.take(3000))
    // The corpus folds before the per-from probability window.
    assert(p.contains("partial_count"), p.take(3000))
  }

  test("prefixJaccard chain: hash joins only — no nested loop, no cartesian") {
    // The public operator barriers its result (and its input sets), so
    // assert on the factored chain directly (the kmeansSearchPlan rule).
    val d = spark.read.parquet(s"$sf/documents.parquet")
    val p = graft.operators.Dedup.prefixJaccardOver(
      graft.operators.Dedup.shingleSets(d), 0.3)
      .queryExecution.executedPlan.toString
    assert(!p.contains("CartesianProduct"), p.take(3000))
    assert(!p.contains("BroadcastNestedLoopJoin"), p.take(3000))
    assert(!p.contains("rangepartitioning"), p.take(3000))
  }

  test("events_rate_anomaly: corpus folds map-side; only daily-table exchanges remain") {
    val p = physical("events_rate_anomaly")
    assert(!p.contains("Join"), p.take(3000))
    // Partial aggregation: raw events never cross an exchange unfolded.
    assert(p.contains("partial_count"), p.take(3000))
    assert(!p.contains("rangepartitioning"), p.take(3000))
  }

  test("keepBestByQuality tail: canonical selection is hash-keyed — no nested loop, no cartesian") {
    // The full doc_dedup_keep_best plan hides behind the cluster loop's
    // localCheckpoints; assert on the selection tail directly (the
    // kmeansSearchPlan pattern).
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val clusters = docs.select(col("doc_id"), (col("doc_id") % 7).as("cluster"))
    val p = graft.operators.Dedup.keepBestByQuality(docs, clusters)
      .queryExecution.executedPlan.toString
    assert(!p.contains("CartesianProduct"), p.take(3000))
    assert(!p.contains("BroadcastNestedLoopJoin"), p.take(3000))
    assert(!p.contains("rangepartitioning"), p.take(3000))
  }

  test("softDedupWeights tail: size attach is hash-keyed — no nested loop, no window, no range sort") {
    // Same kmeansSearchPlan pattern as the keepBest lock: the cluster
    // loop's localCheckpoints hide the full query, so assert on the
    // selection tail. The null-safe (<=>) join must still plan hash-based.
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val clusters = docs.select(col("doc_id"), (col("doc_id") % 7).as("cluster"))
    val p = graft.operators.Dedup.softDedupWeights(clusters)
      .queryExecution.executedPlan.toString
    assert(!p.contains("CartesianProduct"), p.take(3000))
    assert(!p.contains("BroadcastNestedLoopJoin"), p.take(3000))
    assert(!p.contains("rangepartitioning"), p.take(3000))
    assert(!p.contains("Window"), p.take(3000))
  }

  test("emb_decontam: eval book folds to literals — scoring is map-only") {
    // The eval set collapses to literal vector/norm/id arrays at build
    // time, so the corpus pass must carry no exchange and no join of any
    // kind (the DSIR/literal-book discipline).
    val p = physical("emb_decontam")
    assert(!p.contains("Exchange"), p.take(3000))
    assert(!p.contains("Join"), p.take(3000))
  }

  test("doc_bm25_topk tail: query terms broadcast, no sort-merge join, top-k prunes") {
    // bm25TopK barriers its (small) result, which hides the plan; assert
    // on the tail builder over a materialized postings table (the
    // kmeansSearchPlan pattern). The corpus-sized postings must only ever
    // meet BROADCAST sides — the one non-broadcast exchange is the
    // (query_id, doc_id) score aggregation over matched rows.
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val p = graft.operators.Search.bm25Tail(
      graft.operators.Search.postings(docs),
      queryIds = Seq(1L, 101L), queryTerms = 6, k = 10,
      k1 = 1.2, b = 0.75).queryExecution.executedPlan.toString
    // (The one BroadcastNestedLoopJoin is the 1-row corpus-totals attach —
    // the standard broadcast scalar pattern, not a pair scan.)
    assert(!p.contains("SortMergeJoin"), p.take(3000))
    assert(!p.contains("CartesianProduct"), p.take(3000))
    assert(p.contains("BroadcastHashJoin"), p.take(3000))
    assert(p.contains("WindowGroupLimit"), p.take(3000))
    // And the postings exploder itself must not re-tokenize via an
    // inferred filter (the explodedTokens lock, postings edition — this
    // exact shape shipped with the inner explode and paid double
    // tokenization on every bm25/lex-index corpus scan until caught).
    val opt = graft.operators.Search.postings(docs)
      .queryExecution.optimizedPlan.toString
    assert(!"(?s)Filter[^\\n]*(split|ws_tokens)\\(".r.findFirstIn(opt).isDefined,
      opt.take(2000))
  }

  test("doc_corpus_diff: hash-only co-partitioned join, no nested loop") {
    // Each side collapses to (doc_id, md5) in its scan; the full-outer
    // join must be hash/merge on doc_id — never a pair scan.
    val p = physical("doc_corpus_diff")
    assert(!p.contains("CartesianProduct"), p.take(3000))
    assert(!p.contains("BroadcastNestedLoopJoin"), p.take(3000))
    assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin"),
      p.take(3000))
  }

  test("doc_bm25_append_topk: EVERY generation scan of an appended lex index prunes") {
    val dir = java.nio.file.Files
      .createTempDirectory("graft_lex_app_plan").toString
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    graft.operators.Search.buildLexIndex(
      docs.filter(col("doc_id") % 10 =!= 7), dir, buckets = 64)
    graft.operators.Search.appendToLexIndex(
      docs.filter(col("doc_id") % 10 === 7), dir)
    val p = graft.operators.Search
      .lexIndexTopK(spark, dir, Seq(1L -> Seq("the", "of")), k = 5)
      .queryExecution.executedPlan.toString
    // The bkt IN filter pushes through the generation union: both the
    // base and the delta dir scans prune (2 dirs × 2 passes = 4 pruned
    // scans), and none scans unfiltered.
    assert("PartitionFilters: \\[bkt".r.findAllIn(p).size >= 4, p.take(4000))
    assert(!p.contains("PartitionFilters: []"), p.take(4000))
    assert(!p.contains("SortMergeJoin"), p.take(4000))
  }

  test("doc_bm25_compact_topk: compaction folds serving back to one pruned source per pass") {
    val dir = java.nio.file.Files
      .createTempDirectory("graft_lex_cpt_plan").toString
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    graft.operators.Search.buildLexIndex(
      docs.filter(col("doc_id") % 10 =!= 7), dir, buckets = 64)
    graft.operators.Search.appendToLexIndex(
      docs.filter(col("doc_id") % 10 === 7), dir)
    graft.operators.Search.compactLexIndex(spark, dir)
    val p = graft.operators.Search
      .lexIndexTopK(spark, dir, Seq(1L -> Seq("the", "of")), k = 5)
      .queryExecution.executedPlan.toString
    // One postings dir again: exactly the pre-append plan — one pruned
    // scan per pass (df + match), not one per generation.
    assert("PartitionFilters: \\[bkt".r.findAllIn(p).size == 2, p.take(4000))
    assert(!p.contains("PartitionFilters: []"), p.take(4000))
  }

  test("doc_bm25_retract_topk: tombstone-live postings keep pruning; liveness joins broadcast; tombstone-free plans carry no liveness scratch") {
    val dir = java.nio.file.Files
      .createTempDirectory("graft_lex_rt_plan").toString
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    graft.operators.Search.buildLexIndex(docs, dir, buckets = 64)
    // Tombstone-FREE serve: the retraction branch must not touch the
    // plan at all — no generation stamp, no liveness join columns.
    val p0 = graft.operators.Search
      .lexIndexTopK(spark, dir, Seq(1L -> Seq("the", "of")), k = 5)
      .queryExecution.executedPlan.toString
    assert(!p0.contains("__g") && !p0.contains("__tg"), p0.take(3000))
    graft.operators.Search.retractFromLexIndex(
      docs.filter(col("doc_id") % 10 === 3 &&
        size(graft.operators.TextAnalysis.wsTokens(col("text"))) > 0), dir)
    val p = graft.operators.Search
      .lexIndexTopK(spark, dir, Seq(1L -> Seq("the", "of")), k = 5)
      .queryExecution.executedPlan.toString
    // Pruning survives readWithGen's lit(__g) projection on both passes
    // (df + match); the takedown-sized tombMax join must broadcast (an
    // SMJ would shuffle the pruned sliver per serve). The tombstone
    // scan itself is an unpartitioned takedown-sized dir, so a blanket
    // no-empty-PartitionFilters assert does not apply here — assert the
    // POSTINGS scans all prune instead.
    assert("PartitionFilters: \\[bkt".r.findAllIn(p).size >= 2, p.take(4000))
    assert(!"postings[^\\n]*PartitionFilters: \\[\\]".r
      .findFirstIn(p).isDefined, p.take(4000))
    assert(!p.contains("SortMergeJoin"), p.take(4000))
    assert(p.contains("BroadcastHashJoin"), p.take(4000))
  }

  test("emb_cluster_sample: assignment is join-free map work; cap prunes with WindowGroupLimit") {
    // Literal centroid book => the argmin is a projection, so the whole
    // query carries exactly one exchange (the per-cluster rank) and no
    // join of any kind; the rank<=cap filter must prune map-side.
    val p = physical("emb_cluster_sample")
    assert(p.contains("WindowGroupLimit"), p.take(3000))
    assert(!p.contains("Join"), p.take(3000))
  }

  test("doc_bigram_lm: tokenization never re-runs in a filter; no cartesian scoring join") {
    // Assert on the tail BUILDER — the registered query's eager barrier
    // hides everything behind Scan ExistingRDD (the kmeansSearchPlan
    // pattern). The bigram array explodes as a projected attribute, so
    // InferFiltersFromGenerate's inferred filter is a cheap size check —
    // never the regex split itself (the explodedShingles discipline).
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val db = graft.operators.TextAnalysis.docBigrams(docs)
    val q = graft.operators.TextAnalysis.bigramLmTail(docs, db,
      graft.operators.TextAnalysis.pairCounts(db, "c2"))
    val opt = q.queryExecution.optimizedPlan.toString
    assert(!"(?s)Filter[^\\n]*(split|ws_tokens)\\(".r.findFirstIn(opt).isDefined,
      opt.take(2000))
    // Scoring joins the reduced bigram table against the model on its
    // keys — hash-based; the only nested-loop is the 1-row V broadcast.
    val p = q.queryExecution.executedPlan.toString
    assert(!p.contains("CartesianProduct"), p.take(3000))
    assert(p.contains("BroadcastNestedLoopJoin") ||
      p.contains("BroadcastHashJoin"), p.take(3000)) // the V attach exists
  }

  test("scoreAgreement binned ranks: every window is partitioned (no global single-task sort)") {
    // The one operator that ever carried an unpartitioned corpus-sized
    // window. Assert on the rank BUILDER (the registered query's barriers
    // hide it behind Scan ExistingRDD): every Window node in the physical
    // plan must carry a partition spec — in the plan string a partitioned
    // window prints THREE bracket groups (functions, partition, order),
    // an unpartitioned one only two.
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .select(col("doc_id"), col("n_chars"),
        length(col("text")).cast("long").as("alt"))
    val p = graft.operators.TextAnalysis
      .binnedRanks(docs, Seq("n_chars", "alt"), 64)
      .queryExecution.executedPlan.toString
    val windowLines = p.linesIterator.filter(_.contains("Window [")).toSeq
    assert(windowLines.nonEmpty, p.take(3000))
    windowLines.foreach { l =>
      assert("\\], \\[".r.findAllIn(l).length == 2,
        s"unpartitioned window: $l")
    }
    // The offsets are literal when-chains: no join anywhere in the ranks.
    assert(!p.contains("Join"), p.take(3000))
  }

  test("doc_bm25_index_topk: postings scan partition-prunes to the query-term buckets") {
    val dir = java.nio.file.Files
      .createTempDirectory("graft_lex_plan").toString
    graft.operators.Search.buildLexIndex(
      spark.read.parquet(s"$sf/documents.parquet"), dir, buckets = 64)
    val p = graft.operators.Search
      .lexIndexTopK(spark, dir, Seq(1L -> Seq("the", "of")), k = 5)
      .queryExecution.executedPlan.toString
    // Both pruned reads (df pass + match pass) carry a bkt IN filter —
    // buckets outside the query terms' hashes are never read. Stats are
    // driver literals, so no 1-row scalar attach exists in this plan.
    assert(p.contains("PartitionFilters: [") &&
      "PartitionFilters: \\[bkt".r.findFirstIn(p).isDefined, p.take(3000))
    assert(!p.contains("PartitionFilters: []"), p.take(3000))
    assert(!p.contains("SortMergeJoin"), p.take(3000))
    assert(!p.contains("BroadcastNestedLoopJoin"), p.take(3000))
    assert(p.contains("WindowGroupLimit"), p.take(3000))
  }

  test("splitAssign: split attach is a pure projection over the cluster table") {
    import spark.implicits._
    val clusters = Seq((1L, 1L), (2L, 1L), (3L, 3L)).toDF("doc_id", "cluster")
    val p = graft.operators.Dedup.splitAssign(clusters)
      .queryExecution.executedPlan.toString
    // The leakage-safe split must cost NOTHING beyond the clustering the
    // pipeline already ran: no exchange, no join, no sort of any kind.
    assert(!p.contains("Exchange"), p.take(2000))
    assert(!p.contains("Join"), p.take(2000))
    assert(!p.contains("Sort"), p.take(2000))
  }

  test("frameFingerprints: narrow sampling; the only exchange moves hashes for the distinct") {
    val payloads = graft.operators.Multimodal.withPayload(
      spark.read.parquet(s"$sf/documents.parquet"))
    val p = graft.operators.Multimodal
      .frameFingerprints(spark, payloads, frameBytes = 16, everyNth = 4)
      .queryExecution.executedPlan.toString
    // Frame bytes never shuffle — sampling + md5 are map work on the
    // scanning executor; the distinct's hash exchange carries only
    // (doc_id, 32-char fingerprint) rows.
    assert("Exchange".r.findAllIn(p).length == 1, p.take(3000))
    assert(!p.contains("Join"), p.take(3000))
    assert(!p.contains("Sort"), p.take(3000))
  }

  test("perceptualFingerprints: narrow sampling; the only exchange moves histogram keys") {
    // Same contract as the md5 sibling above — frame bytes never
    // shuffle; the typed mapPartitions kernel stays on the scanning
    // executor and only (doc_id, histogram string) rows reach the
    // distinct's exchange.
    val payloads = graft.operators.Multimodal.withPayload(
      spark.read.parquet(s"$sf/documents.parquet"))
    val p = graft.operators.Multimodal
      .perceptualFingerprints(spark, payloads, frameBytes = 16, everyNth = 4)
      .queryExecution.executedPlan.toString
    assert("Exchange".r.findAllIn(p).length == 1, p.take(3000))
    assert(!p.contains("Join"), p.take(3000))
    assert(!p.contains("Sort"), p.take(3000))
  }

  test("dedup-index serve: EVERY generation scan of both tables partition-prunes") {
    import spark.implicits._
    val dir = java.nio.file.Files
      .createTempDirectory("graft_ddx_plan").toString
    val base = Seq((1L, "a b c d e f"), (2L, "g h i j k l"))
      .toDF("doc_id", "text")
    val delta = Seq((10L, "a b c d e f g")).toDF("doc_id", "text")
    graft.operators.DedupIndex.buildDedupIndex(base, dir, nBuckets = 8)
    graft.operators.DedupIndex.appendToDedupIndex(delta, dir)
    // Two generations: both bucket scans and both set scans must carry a
    // pushed partition filter — an unpruned generation would re-scan the
    // whole base per serve.
    for ((partCol, dirs) <- Seq(
        "bkt" -> Seq("buckets", f"buckets-delta-${1L}%010d"),
        "sbkt" -> Seq("sets", f"sets-delta-${1L}%010d"))) {
      val p = graft.operators.DedupIndex
        .readPruned(spark, dir, dirs, partCol, Seq(0L, 3L))
        .queryExecution.executedPlan.toString
      val pruned = s"PartitionFilters: \\[$partCol".r.findAllIn(p).length
      assert(pruned == 2, s"$partCol: expected 2 pruned scans\n" + p.take(3000))
      assert(!p.contains("PartitionFilters: []"), p.take(3000))
    }
    // Health report: two aggregations over the bucket scan, no join,
    // no sort — a maintenance scan that must stay shuffle-minimal.
    val hp = graft.operators.DedupIndex.indexHealth(spark, dir)
      .queryExecution.executedPlan.toString
    assert(!hp.contains("Join"), hp.take(2000))
    assert(!hp.contains("Sort"), hp.take(2000))
    assert("Exchange".r.findAllIn(hp).length <= 2, hp.take(2000))
    // Clean-verdict tail over materialized legs: tiny-table hash joins
    // only — never a nested loop or a sort-merge of the delta.
    import spark.implicits._
    val internal = Seq((1L, 2L, 1.0)).toDF("doc_a", "doc_b", "jaccard")
    val cross = Seq((3L, 100L, 0.9)).toDF("delta_id", "base_id", "jaccard")
    val dset = Seq(1L, 2L, 3L).toDF("doc_id")
    val cp = graft.operators.DedupIndex.cleanVerdicts(dset, internal, cross)
      .queryExecution.executedPlan.toString
    assert(!cp.contains("CartesianProduct"), cp.take(2000))
    assert(!cp.contains("BroadcastNestedLoopJoin"), cp.take(2000))

    // COMPACTION restores exactly ONE pruned scan per table (the
    // emb_ivf_compact_topk lock, dedup edition): the manifest's folded
    // dir list drives the serve read, so the lock reads it back rather
    // than hard-coding names.
    graft.operators.DedupIndex.compactDedupIndex(spark, dir)
    val layC = graft.operators.GenManifest.layout(spark, dir,
      graft.operators.DedupIndex.Family)
    val (bDirs, sDirs) = (layC("bdirs"), layC("sdirs"))
    for ((partCol, dirs) <- Seq("bkt" -> bDirs, "sbkt" -> sDirs)) {
      val p = graft.operators.DedupIndex
        .readPruned(spark, dir, dirs, partCol, Seq(0L, 3L))
        .queryExecution.executedPlan.toString
      val pruned = s"PartitionFilters: \\[$partCol".r.findAllIn(p).length
      assert(pruned == 1,
        s"$partCol post-compact: expected ONE pruned scan\n" + p.take(3000))
      assert(!p.contains("PartitionFilters: []"), p.take(3000))
    }
  }

  test("heavyTokens pass 2: candidate recount is ONE aggregation, no join, folded-group exchange only") {
    import spark.implicits._
    val toks = Seq("a", "b", "a", "c").toDF("tok")
    val p = graft.operators.Sketches.candidateCounts(toks, Seq("a", "b"))
      .queryExecution.executedPlan.toString
    // The 100 TB contract: raw tokens never shuffle. The candidate probe
    // is an In-set predicate inside the projection; the single exchange
    // carries the <= |candidates|+1 partially-aggregated groups.
    assert(!p.contains("Join"), p.take(2000))
    assert("Exchange".r.findAllIn(p).length == 1, p.take(2000))
    assert(p.contains("HashAggregate"), p.take(2000))
    // Past InSetLiteralMax candidates the probe switches to a broadcast
    // hash join (the full literal set would otherwise ride inside every
    // task's serialized plan): still no shuffle of raw tokens — the only
    // exchange remains the folded-group one, plus the broadcast.
    val pj = graft.operators.Sketches.candidateCounts(
        toks, Seq("a", "b"), inSetMax = 1)
      .queryExecution.executedPlan.toString
    assert(pj.contains("BroadcastHashJoin"), pj.take(2000))
    assert(!pj.contains("SortMergeJoin"), pj.take(2000))
    assert("ShuffleExchange|Exchange hashpartitioning".r
      .findAllIn(pj).length == 1, pj.take(2000))
  }

  test("media-index serve: EVERY generation scan partition-prunes; health stays join-free; compact restores ONE pruned scan") {
    import spark.implicits._
    val dir = java.nio.file.Files
      .createTempDirectory("graft_mdx_plan").toString
    def head(st: Int) =
      (0 until 16).map(n => ('A' + ((n * st) % 26)).toChar).mkString
    val base = graft.operators.Multimodal.withPayload(
      Seq((1L, head(2) + "q" * 48), (2L, head(3) + "q" * 48))
        .toDF("doc_id", "text"))
    val delta = graft.operators.Multimodal.withPayload(
      Seq((10L, head(5) + "q" * 48)).toDF("doc_id", "text"))
    graft.operators.MediaIndex.buildMediaIndex(base, dir, nBuckets = 8)
    graft.operators.MediaIndex.appendToMediaIndex(delta, dir)
    // Two generations: both block scans must carry a pushed partition
    // filter — an unpruned generation would re-scan the whole base per
    // serve.
    val dirs2 = Seq("blocks", f"blocks-delta-${1L}%010d")
    val p = graft.operators.MediaIndex
      .readPruned(spark, dir, dirs2, Seq(0L, 3L))
      .queryExecution.executedPlan.toString
    assert("PartitionFilters: \\[bbkt".r.findAllIn(p).length == 2,
      p.take(3000))
    assert(!p.contains("PartitionFilters: []"), p.take(3000))
    // Health report: aggregations over the block scan only.
    val hp = graft.operators.MediaIndex.mediaIndexHealth(spark, dir)
      .queryExecution.executedPlan.toString
    assert(!hp.contains("Join"), hp.take(2000))
    assert(!hp.contains("Sort"), hp.take(2000))
    assert("Exchange".r.findAllIn(hp).length <= 2, hp.take(2000))
    // COMPACTION restores exactly ONE pruned scan (manifest-driven).
    graft.operators.MediaIndex.compactMediaIndex(spark, dir)
    val bDirs = graft.operators.GenManifest.layout(spark, dir,
      graft.operators.MediaIndex.Family)("bdirs")
    val pc = graft.operators.MediaIndex
      .readPruned(spark, dir, bDirs, Seq(0L, 3L))
      .queryExecution.executedPlan.toString
    assert("PartitionFilters: \\[bbkt".r.findAllIn(pc).length == 1,
      pc.take(3000))
    assert(!pc.contains("PartitionFilters: []"), pc.take(3000))
    // TOMBSTONED serve (the shared GenManifest.readPrunedLive kernel,
    // same lock as the dedup family's): pruning must survive the
    // readWithGen projection + liveness join, and the takedown-sized
    // tombMax join must broadcast.
    graft.operators.MediaIndex.retractFromMediaIndex(
      graft.operators.Multimodal.withPayload(
        Seq((2L, "x")).toDF("doc_id", "text")), dir)
    val layT = graft.operators.GenManifest.layout(spark, dir,
      graft.operators.MediaIndex.Family)
    val (bDirsT, tDirsT) = (layT("bdirs"), layT.tDirs)
    assert(tDirsT.nonEmpty)
    val pt = graft.operators.GenManifest
      .readPrunedLive(spark, dir, bDirsT, "bbkt", Seq(0L, 3L), tDirsT,
        "doc_id")
      .queryExecution.executedPlan.toString
    assert("PartitionFilters: \\[bbkt".r.findFirstIn(pt).isDefined,
      pt.take(3000))
    assert(!pt.contains("SortMergeJoin"), pt.take(3000))
    assert(pt.contains("BroadcastHashJoin"), pt.take(3000))
  }

  test("fuzzyPairs verify tail: id hash joins only — no nested loop over candidates") {
    import spark.implicits._
    val cand = Seq((1L, 2L)).toDF("doc_a", "doc_b")
    val txt = Seq((1L, "a"), (2L, "b")).toDF("doc_id", "text")
    val p = graft.operators.Dedup.fuzzyVerify(cand, txt, 8)
      .queryExecution.executedPlan.toString
    assert(!p.contains("CartesianProduct"), p.take(2000))
    assert(!p.contains("BroadcastNestedLoopJoin"), p.take(2000))
  }

  test("doc_bloom_clean: bloom prefilter is a map-side might_contain; verify joins broadcast (base never shuffle-joins)") {
    val p = physical("doc_bloom_clean")
    assert(p.contains("might_contain"), p.take(3000))
    assert(!p.contains("SortMergeJoin"), p.take(3000))
    assert(p.contains("BroadcastHashJoin"), p.take(3000))
  }

  test("doc_exact_index_clean: serve prunes the hash table to the positives' buckets (no base scan, no shuffle join)") {
    val p = physical("doc_exact_index_clean")
    assert(p.contains("might_contain"), p.take(3000))
    assert("PartitionFilters: \\[hbkt".r.findFirstIn(p).isDefined,
      p.take(3000))
    assert(!p.contains("SortMergeJoin"), p.take(3000))
  }

  test("doc_exact_index_append_clean: the hbkt IN filter pushes through the generation union — every generation prunes") {
    val p = physical("doc_exact_index_append_clean")
    assert("PartitionFilters: \\[hbkt".r.findAllIn(p).size >= 2,
      p.take(3000))
    assert(!p.contains("SortMergeJoin"), p.take(3000))
  }

  test("doc_exact_index_retract_clean: tombstone resolution keeps the pruned, broadcast-only serve shape") {
    val p = physical("doc_exact_index_retract_clean")
    assert(p.contains("might_contain"), p.take(3000))
    // BOTH pruned reads — the insert generations AND the tombstone
    // generation — carry a pushed hbkt partition filter; an unpruned
    // tombstone read would re-scan its whole table per serve.
    assert("PartitionFilters: \\[hbkt".r.findAllIn(p).size >= 2,
      p.take(3000))
    assert(!p.contains("PartitionFilters: []"), p.take(3000))
    // The newest-op-wins resolution joins slivers — never a shuffle of
    // index-sized data.
    assert(!p.contains("SortMergeJoin"), p.take(3000))
  }

  test("doc_exact_index_retract_compact_clean: the compacted serve returns to ONE pruned scan with no liveness scratch") {
    val p = physical("doc_exact_index_retract_compact_clean")
    assert(p.contains("might_contain"), p.take(3000))
    // EXACTLY one pruned hash source: the fold purged the tombstones
    // and collapsed the generations, so the plan must be byte-shaped
    // like a fresh single-generation serve.
    assert("PartitionFilters: \\[hbkt".r.findAllIn(p).size == 1,
      p.take(3000))
    assert(!p.contains("__tg"), p.take(3000))
    assert(!p.contains("SortMergeJoin"), p.take(3000))
  }

  test("doc_exact_index_sharded_clean: the 2-shard probe stays a map-side might_contain chain over the same pruned serve") {
    val p = physical("doc_exact_index_sharded_clean")
    assert(p.contains("might_contain"), p.take(3000))
    assert("PartitionFilters: \\[hbkt".r.findFirstIn(p).isDefined,
      p.take(3000))
    assert(!p.contains("SortMergeJoin"), p.take(3000))
  }

  test("doc_exact_index_sync_clean: the synced serve keeps the pruned, broadcast-only shape with live tombstones") {
    val p = physical("doc_exact_index_sync_clean")
    assert(p.contains("might_contain"), p.take(3000))
    assert("PartitionFilters: \\[hbkt".r.findAllIn(p).size >= 2,
      p.take(3000))
    assert(!p.contains("SortMergeJoin"), p.take(3000))
  }

  test("dedup-index retract serve: tombstone-live pruned reads keep partition pruning; the liveness join broadcasts") {
    // The retraction branch reads generations through readWithGen's
    // lit(__g) projection — partition pruning must survive it, and the
    // takedown-sized tombMax join must stay a broadcast (an SMJ here
    // would shuffle the pruned index sliver per serve). A Spark upgrade
    // breaking pushdown-through-union would otherwise turn every
    // tombstone-live serve into a full index scan with no failing spec.
    import spark.implicits._
    val dir = java.nio.file.Files
      .createTempDirectory("graft_ddx_rt_plan").toString
    val docs = Seq((1L, "w1 w2 w3 w4"), (2L, "x1 x2 x3 x4"),
      (3L, "y1 y2 y3 y4")).toDF("doc_id", "text")
    graft.operators.DedupIndex.buildDedupIndex(docs, dir, nBuckets = 8)
    graft.operators.DedupIndex.retractFromDedupIndex(
      Seq((3L, "")).toDF("doc_id", "text"), dir)
    val layR = graft.operators.GenManifest.layout(spark, dir,
      graft.operators.DedupIndex.Family)
    val (bDirs, tDirs) = (layR("bdirs"), layR.tDirs)
    assert(tDirs.nonEmpty)
    val p = graft.operators.DedupIndex
      .readPrunedLive(spark, dir, bDirs, "bkt", Seq(0L, 3L), tDirs)
      .queryExecution.executedPlan.toString
    assert("PartitionFilters: \\[bkt".r.findFirstIn(p).isDefined,
      p.take(3000))
    assert(!p.contains("SortMergeJoin"), p.take(3000))
    assert(p.contains("BroadcastHashJoin"), p.take(3000))
  }

  test("cleanVerdicts: the shared keep-verdict fold (dedup + media cleans) joins broadcast-only") {
    // Both index cleans return a BARRIERED verdict frame (the plan is a
    // LogicalRDD scan), so the fold is locked on the factored builder —
    // the kmeansSearchPlan discipline. The candidate-leg plans
    // themselves are locked through the serve specs (shared
    // withCandidateLegs / servePairLegs paths).
    import spark.implicits._
    val dset = Seq(1L, 2L, 3L).toDF("doc_id")
    val internal = Seq((1L, 2L)).toDF("doc_a", "doc_b")
    val cross = Seq((3L, 100L)).toDF("delta_id", "base_id")
    val p = graft.operators.DedupIndex.cleanVerdicts(dset, internal, cross)
      .queryExecution.executedPlan.toString
    assert(!p.contains("SortMergeJoin"), p.take(2000))
    assert(p.contains("BroadcastHashJoin"), p.take(2000))
  }

  test("doc_freq_spectrum: word-count exchange with map-side partials; tokenization never re-runs in a filter") {
    val p = physical("doc_freq_spectrum")
    // The InferFiltersFromGenerate hazard (round-9 lesson): a pushed
    // Filter containing split( means the whole tokenization re-runs per
    // row under the explode.
    assert(!"Filter[^\\n]*(split|ws_tokens)\\(".r.findFirstIn(p).isDefined, p.take(3000))
    assert(p.contains("partial_count"), p.take(3000))
    // Exchanges: the token fold and the ≤64-row octave fold — nothing
    // else touches the corpus.
    assert("Exchange hashpartitioning".r.findAllIn(p).length <= 2,
      p.take(3000))
  }

  test("lengthQuantiles: corpus folds in ONE map-side aggregation; later stages are histogram-sized") {
    import spark.implicits._
    val docs = Seq((1L, "en", "a b"), (2L, "zh", "c"))
      .toDF("doc_id", "lang", "text")
    val p = graft.operators.TextAnalysis.lengthQuantiles(docs)
      .queryExecution.executedPlan.toString
    // No explode (len is size() per doc) and no sort of the corpus: the
    // only Sort is the histogram window's, AFTER the (lang, len) fold.
    assert(!p.contains("Generate"), p.take(3000))
    assert(p.contains("partial_count"), p.take(3000))
    // Exchanges: (lang, len) fold, window on lang, final (lang, q) fold,
    // plus the broadcast of the 4 quantile points.
    assert("Exchange hashpartitioning".r.findAllIn(p).length <= 3,
      p.take(3000))
  }

  test("stats-index serves: corpus-free re-aggregation — join-free cells with one exchange; histogram-sized quantile tail") {
    import spark.implicits._
    val dir = java.nio.file.Files
      .createTempDirectory("graft_stx_plan").toString
    val base = Seq(("en", "web", "a b"), ("zh", "web", "c"))
      .toDF("lang", "source", "text")
    val delta = Seq(("en", "book", "d e f")).toDF("lang", "source", "text")
    graft.operators.StatsIndex.buildStatsIndex(base, dir)
    graft.operators.StatsIndex.appendToStatsIndex(delta, dir)
    // Serve inputs are the index's own generation tables ONLY (the
    // signature admits nothing else); the serve plan must stay a plain
    // re-aggregation: no join of any kind, exactly one shuffle for the
    // (lang, source) fold over generation-partial rows.
    val pc = graft.operators.StatsIndex.statsCells(spark, dir)
      .queryExecution.executedPlan.toString
    assert(!pc.contains("Join"), pc.take(3000))
    assert("Exchange hashpartitioning".r.findAllIn(pc).length == 1,
      pc.take(3000))
    assert(pc.contains("partial_sum"), pc.take(3000))
    // Quantile serve: the merged-histogram fold + the batch operator's
    // own tail — same exchange budget as the lengthQuantiles lock (the
    // histogram merge replaces the corpus fold one-for-one).
    val pq = graft.operators.StatsIndex.statsQuantiles(spark, dir)
      .queryExecution.executedPlan.toString
    assert(!pq.contains("SortMergeJoin"), pq.take(3000))
    assert(!pq.contains("Generate"), pq.take(3000))
    assert("Exchange hashpartitioning".r.findAllIn(pq).length <= 3,
      pq.take(3000))
  }
}
