package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.operators.Barrier.BarrierOps

/** Similarity search over the `embeddings` table (vec_id, embedding:
  * array<float>, label): brute-force cosine top-k as the exact baseline and
  * a deterministic sign-LSH bucketing as the scale path — plus
  * embedding-cosine near-dup pairs for the dedup suite.
  *
  * Scale design:
  *  - Top-k broadcasts the (small) query set against the corpus: a
  *    BroadcastNestedLoopJoin where the corpus side streams — never an
  *    all-pairs shuffle. Per-query top-k folds through a window (rank <=
  *    k); on a cluster the partial top-k runs map-side.
  *  - Near-dup pairs go through LSH buckets (sign of per-plane sums), so
  *    the quadratic verify only runs within buckets.
  *  - Cosine is computed on doubles with a single sequential fold
  *    (`aggregate` over `zip_with`) and rounded to 6 dp so any engine
  *    reproduces the value bit-for-bit.
  */
object Similarity {

  import graft.functions.VectorFunctions.vecDot

  /** Dot product of two array<double> columns: native codegen'd expression
    * (same sequential fold any engine produces — bit-identical to DuckDB's
    * list_dot_product).
    */
  def dot(a: Column, b: Column): Column = vecDot(a, b)

  def norm(a: Column): Column = sqrt(dot(a, a))

  /** Cosine similarity, quantized to 6 dp with [[Quant.r6]] — the
    * IEEE-only half-up form, so both engines produce the identical
    * double from the identical ratio (round() does not guarantee that;
    * see Quant) and an epsilon-under-1.0 self-cosine still reads 1.0.
    */
  def cosine(a: Column, b: Column): Column =
    cosineWithNorms(dot(a, b), norm(a), norm(b))

  /** Cosine from a precomputed dot and per-vector norms — pair scans
    * compute each norm once per VECTOR, not once per pair (the norms are
    * the same doubles either way, so results are unchanged).
    *
    * ZERO-NORM CONVENTION: a zero vector has no direction, so its cosine
    * against anything is 0 — without the guard, 0/0 = NaN, and Spark's
    * NaN-greater-than-everything comparison would make a single failed
    * (all-zero) embedding pass every >= threshold near-dup/decontam
    * filter AND top every desc-sorted top-k, poisoning the exact
    * baselines the recall reports denominate on. The oracles do not
    * spell the branch because the corpus has no zero vectors (spec
    * covers it); a NULL vector yields a NULL cosine, which every filter
    * drops.
    */
  private def cosineWithNorms(dotAB: Column, normA: Column, normB: Column): Column =
    when(normA === 0.0 || normB === 0.0, lit(0.0))
      .otherwise(Quant.r6(dotAB / (normA * normB)))

  private def asDouble(c: Column): Column = c.cast("array<double>")

  /** Each query's `probes` nearest centroids under the SAME d2 argmin
    * ordering the assignment uses (fixed-order expansion, ties → lower
    * centroid id — determinism-load-bearing for every oracle that
    * replays it, so this lives in exactly one place). `queries` must
    * carry (query_id, qv) plus any columns the caller wants to ride
    * along (norms, LUTs); `cents` is the tiny broadcast centroid table.
    * Output: the query columns plus `probe`.
    */
  private def probeTable(queries: DataFrame, cents: DataFrame,
      probes: Int): DataFrame = {
    val scored = queries.crossJoin(broadcast(cents))
      .withColumn("d2",
        (dot(col("qv"), col("qv")) + dot(col("cv"), col("cv"))) -
          lit(2.0) * dot(col("qv"), col("cv")))
    val wp = Window.partitionBy(col("query_id"))
      .orderBy(col("d2").asc, col("centroid_id").asc)
    scored.withColumn("rn", row_number().over(wp))
      .filter(col("rn") <= probes)
      .withColumn("probe", col("centroid_id"))
      .drop("d2", "rn", "cv", "centroid_id")
  }

  /** The per-query cosine top-k tail shared by every search variant:
    * rank by (cos desc, vec_id asc) — one tie-break definition, pruned
    * map-side as WindowGroupLimit. Input needs (query_id, vec_id, cos).
    */
  private def topkByCos(scored: DataFrame, k: Int): DataFrame = {
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos").desc, col("vec_id").asc)
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        col("cos"), col("rank"))
  }

  /** Exact top-k neighbors for each query vector (default: the vectors
    * with vec_id < numQueries). Output: (query_id, neighbor_id, cos, rank).
    */
  def bruteForceTopK(emb: DataFrame, k: Int = 5, numQueries: Int = 10): DataFrame = {
    val queries = emb.filter(col("vec_id") < numQueries)
      .select(col("vec_id").as("query_id"), asDouble(col("embedding")).as("qv"))
      .withColumn("qn", norm(col("qv")))
    val corpus = emb.select(col("vec_id"),
      asDouble(col("embedding")).as("cv"))
      .withColumn("cn", norm(col("cv")))
    val scored = corpus.join(broadcast(queries), col("query_id") =!= col("vec_id"))
      .withColumn("cos",
        cosineWithNorms(dot(col("qv"), col("cv")), col("qn"), col("cn")))
      .select(col("query_id"), col("vec_id"), col("cos"))
    // One tie-break definition: the shared window tail.
    topkByCos(scored, k)
  }

  /** Embedding-space decontamination: flag every corpus vector whose
    * cosine against ANY held-out eval vector reaches `threshold` — the
    * semantic counterpart of the n-gram [[Curation]] decontamination, and
    * the check that catches paraphrased benchmark leakage n-gram overlap
    * misses. The leaked-benchmark scenario is the point: when eval rows
    * were ingested into the corpus, their self-match scores 1.0 and the
    * report names the leaked eval id.
    *
    * Output: (vec_id, max_eval_cos, nearest_eval_id, contaminated) — one
    * row per corpus vector; ties on the max cosine resolve to the
    * smallest eval id.
    *
    * 100 TB shape: the eval set is collected once (bounded by
    * `maxEvalVectors`) and folded into LITERAL arrays — vectors, ids, and
    * driver-precomputed norms (summed in index order, exactly the doubles
    * the executor-side norm would produce) — so scoring is one MAP-ONLY
    * corpus pass: zero joins, zero shuffles (the DSIR/literal-book
    * discipline). The per-row best is an `array_min` over (-cos, eval_id)
    * structs; negation is IEEE-exact, so recovering `max_eval_cos` loses
    * nothing.
    */
  def embDecontam(emb: DataFrame, evalEmb: DataFrame,
      threshold: Double = 0.9, maxEvalVectors: Int = 4096): DataFrame = {
    // limit BEFORE collect: the cap exists to bound driver memory, so it
    // must bind before the unbounded materialization, not after (a
    // corpus-sized frame passed by mistake would otherwise OOM the
    // driver ahead of the require).
    val evs = evalEmb
      .select(col("vec_id").cast("long").as("vec_id"),
        asDouble(col("embedding")).as("ev"))
      .limit(maxEvalVectors + 1)
      .collect()
      .map { r =>
        // Named failures instead of bare driver NPEs — BOTH columns: a
        // null vec_id would NPE getLong before the embedding require
        // could even format its message.
        require(!r.isNullAt(0), "embDecontam eval row has a NULL vec_id")
        require(!r.isNullAt(1),
          s"embDecontam eval vec_id=${r.getLong(0)} has a NULL embedding")
        // Element-level null check BEFORE the unboxing toArray: a null
        // element inside a non-null array would otherwise surface as a
        // bare driver NPE that bypasses these named requires.
        val seq = r.getSeq[Any](1)
        require(!seq.contains(null),
          s"embDecontam eval vec_id=${r.getLong(0)} has a NULL " +
            "embedding element")
        (r.getLong(0), seq.map(_.asInstanceOf[Double]).toArray)
      }
      .sortBy(_._1)
    require(evs.nonEmpty, "embDecontam needs a non-empty eval set")
    require(evs.length <= maxEvalVectors,
      s"embDecontam folds the eval set into literals; the eval set " +
        s"exceeds maxEvalVectors=$maxEvalVectors")
    val dims = evs.head._2.length
    require(evs.forall(_._2.length == dims),
      "embDecontam eval vectors have mixed dimensionality")
    val evIds = typedlit(evs.map(_._1))
    val evNorms = typedlit(evs.map { case (_, v) =>
      math.sqrt(v.foldLeft(0.0)((s, x) => s + x * x))
    })
    val evVecs = array(evs.toIndexedSeq.map { case (_, v) => typedlit(v) }: _*)
    // cn is materialized as its own attribute so the per-row norm is
    // computed once, not once per eval index inside the transform.
    val scored = transform(sequence(lit(0), lit(evs.length - 1)), i =>
      struct(
        (-cosineWithNorms(dot(col("cv"), element_at(evVecs, i + 1)),
          col("cn"), element_at(evNorms, i + 1))).as("neg"),
        element_at(evIds, i + 1).as("eval_id")))
    val best = array_min(scored)
    // Dim guard (the ivfPqTopK precedent): a corpus embedded with a
    // different model would otherwise score NULL against every eval
    // vector (vecDot returns NULL on mismatched lengths) and the
    // contamination gate would silently report a clean corpus.
    emb.select(col("vec_id"),
        checkedDims(asDouble(col("embedding")), dims,
          "embDecontam eval book", noun = "corpus vectors").as("cv"))
      .withColumn("cn", norm(col("cv")))
      .select(col("vec_id"),
        (-best.getField("neg")).as("max_eval_cos"),
        best.getField("eval_id").as("nearest_eval_id"))
      .withColumn("contaminated", col("max_eval_cos") >= lit(threshold))
  }

  /** Deterministic sign-LSH: plane j's projection is the sum of embedding
    * dims with index ≡ j (mod planes); the bucket id packs the projection
    * signs into an integer. Data-independent, engine-independent, and
    * SQL-re-expressible — the IVF-style coarse quantizer stand-in.
    */
  val Planes = 8

  def lshBucket(embDouble: Column, planes: Int = Planes): Column = {
    // ONE fold carrying all `planes` partial sums (vs `planes`
    // independent zip_with+aggregate passes — 8× the array traffic on
    // corpus-sized scans). The addends are FIXED-POINT quantized
    // (floor(x·1e6) as 64-bit integers): integer addition commutes, so
    // the plane projection — and therefore the sign bit feeding the
    // bucket id — is identical under ANY summation order; a raw double
    // sum would hang the sign on the engine's aggregation order whenever
    // a projection lands within ULPs of 0 (the oracle's SQL aggregates
    // in whatever order DuckDB's parallel hash-agg produces).
    val sums = aggregate(
      zip_with(embDouble, sequence(lit(0), size(embDouble) - 1),
        (x, i) => struct(x.as("x"), i.as("i"))),
      array_repeat(lit(0L), planes),
      (acc, e) => transform(acc,
        (s, j) => when(e("i") % planes === j,
          s + floor(e("x") * lit(1e6)).cast("long")).otherwise(s)))
    (0 until planes).map { j =>
      when(element_at(sums, j + 1) > 0, lit(1 << j)).otherwise(lit(0))
    }.reduce(_ + _)
  }

  /** Bucket histogram — shows the LSH space partitioning. */
  def lshBuckets(emb: DataFrame): DataFrame =
    emb.select(col("vec_id"), lshBucket(asDouble(col("embedding"))).as("bucket"))

  /** Near-duplicate vector pairs: cosine >= threshold, candidate-limited to
    * same-LSH-bucket pairs (the scale path; exact within a bucket).
    */
  def lshNearDups(emb: DataFrame, threshold: Double = 0.9,
      maxBucketDf: Int = 0): DataFrame = {
    // One row per vector, bucket computed ON THE SAME SCAN as the norm
    // (the ivfTopK pattern) — the previous two-scan form re-read the
    // corpus and re-shuffled it on vec_id just to attach a derivable
    // column. Materialized so the projection runs once, not per side.
    val v0 = emb.select(col("vec_id"), asDouble(col("embedding")).as("ev"))
      .withColumn("bucket", lshBucket(col("ev")))
      .withColumn("nrm", norm(col("ev")))
      .barrier()
    // Optional hot-bucket cap (one-sided undercount, default uncapped):
    // sign-LSH over raw dimension sums COLLAPSES a non-negative corpus
    // (ReLU embeddings, count vectors) into ONE bucket — every plane sum
    // positive ⇒ bucket 255 for every row — and the self-join below then
    // IS the all-pairs n² scan this operator exists to avoid. The cap is
    // the seatbelt; mean-centered projections are the structural fix for
    // such corpora.
    val v =
      if (maxBucketDf <= 0) v0
      else {
        val hot = v0.groupBy(col("bucket"))
          .agg(count(lit(1)).as("__df"))
          .filter(col("__df") > maxBucketDf).select(col("bucket"))
        // Barrier the CAPPED table before it feeds both self-join sides
        // (the round-12 simhash lesson): un-materialized, the hot-bucket
        // aggregation + anti-join would execute once PER SIDE. v0 is
        // superseded once the eager checkpoint materializes.
        val capped = v0.join(hot, Seq("bucket"), "left_anti").barrier()
        Barrier.release(v0)
        capped
      }
    val pairs = v.as("l").join(v.as("r"),
        col("l.bucket") === col("r.bucket") && col("l.vec_id") < col("r.vec_id"))
      .select(col("l.vec_id").as("vec_a"), col("r.vec_id").as("vec_b"),
        col("l.ev").as("ea"), col("r.ev").as("eb"),
        col("l.nrm").as("na"), col("r.nrm").as("nb"))
    pairs.withColumn("cos",
        cosineWithNorms(dot(col("ea"), col("eb")), col("na"), col("nb")))
      .filter(col("cos") >= threshold)
      .select(col("vec_a"), col("vec_b"), col("cos"))
  }

  /** IVF-style top-k: the query probes only its own LSH cell instead of
    * the full corpus — the coarse-quantizer search pattern. Recall is
    * partial by construction (cell-boundary neighbors are missed); the
    * brute-force path is the exact baseline. Output: per query, the top-k
    * same-cell neighbors.
    */
  def ivfTopK(emb: DataFrame, k: Int = 5, numQueries: Int = 10): DataFrame = {
    val withBucket = emb
      .select(col("vec_id"), asDouble(col("embedding")).as("ev"))
      .withColumn("bucket", lshBucket(col("ev")))
      .withColumn("nrm", norm(col("ev")))
    val queries = withBucket.filter(col("vec_id") < numQueries)
      .select(col("vec_id").as("query_id"), col("ev").as("qv"),
        col("bucket").as("qb"), col("nrm").as("qn"))
    val scored = withBucket.join(broadcast(queries),
        col("qb") === col("bucket") && col("query_id") =!= col("vec_id"))
      .withColumn("cos", cosineWithNorms(dot(col("qv"), col("ev")),
        col("qn"), col("nrm")))
    topkByCos(scored, k)
  }

  /** Multi-probe IVF top-k: each query probes its own LSH cell plus the
    * Hamming-`rings` neighborhood — ring 1 flips one sign bit (`planes`
    * cells), ring 2 adds every two-bit flip (planes·(planes−1)/2 more) —
    * the standard multi-probe trick that recovers cell-boundary misses
    * for a bounded probe cost, still independent of corpus size (rings=2
    * at 8 planes probes 37 of 256 cells and roughly triples recall on
    * the test corpus). Cells are disjoint, so the probe union needs no
    * dedup; the probe table stays tiny and broadcasts.
    */
  def ivfTopKMulti(emb: DataFrame, k: Int = 5, numQueries: Int = 10,
      planes: Int = Planes, rings: Int = 1): DataFrame = {
    require(rings >= 1 && rings <= 2, "rings must be 1 or 2")
    val withBucket = emb
      .select(col("vec_id"), asDouble(col("embedding")).as("ev"))
      .withColumn("bucket", lshBucket(col("ev"), planes))
      .withColumn("nrm", norm(col("ev")))
    val ring1 = (0 until planes).map(j => col("bucket").bitwiseXOR(lit(1 << j)))
    val ring2 =
      if (rings < 2) Seq.empty
      else for { j <- 0 until planes; kk <- j + 1 until planes }
        yield col("bucket").bitwiseXOR(lit((1 << j) | (1 << kk)))
    val probes = withBucket.filter(col("vec_id") < numQueries)
      .select(col("vec_id").as("query_id"), col("ev").as("qv"),
        col("nrm").as("qn"),
        explode(array(col("bucket") +: (ring1 ++ ring2): _*)).as("probe"))
    val scored = withBucket.join(broadcast(probes),
        col("probe") === col("bucket") && col("query_id") =!= col("vec_id"))
      .withColumn("cos", cosineWithNorms(dot(col("qv"), col("ev")),
        col("qn"), col("nrm")))
    topkByCos(scored, k)
  }

  /** LEARNED-centroid IVF top-k: cells come from the deterministic k-means
    * loop ([[trainKeyedBooks]]) instead of data-independent sign-LSH, and
    * each query probes its `probes` NEAREST centroids — the composition the
    * recall report motivates (sign-LSH cells ignore the data distribution;
    * learned cells put a query's true neighbors in its nearest cells, so
    * the same probe budget buys a multiple of the recall). This is the
    * standard IVF construction every large ANN index uses (train a coarse
    * quantizer, assign, probe nearest cells).
    *
    * Scale shape: the centroid table is k rows (broadcast everywhere); the
    * corpus is touched by the assignment scan and the probe join — both
    * map-side against broadcasts — and the only exchange is the per-query
    * top-k window, planned as WindowGroupLimit. Probe cost is bounded by
    * the `probes / clusters` fraction of the corpus (balanced cells),
    * independent of query count.
    */
  def ivfKmeansTopK(emb: DataFrame, k: Int = 5, numQueries: Int = 10,
      clusters: Int = 16, iters: Int = 2, probes: Int = 2): DataFrame = {
    Barrier.withCached(
        emb.select(col("vec_id"), asDouble(col("embedding")).as("ev"))) { v =>
      val book = iterateBooks(v, clusters, iters)
      kmeansSearchPlan(v, book, k, numQueries, probes)
        .barrier() // release the vector cache on exit
    }
  }

  /** The SEARCH half of [[ivfKmeansTopK]] as an un-materialized plan
    * (`v`: (vec_id, ev), `book`: converged centroid literals) — factored
    * out so the plan-shape spec can assert on the broadcast +
    * WindowGroupLimit structure, which the public method's eager
    * checkpoint hides behind an ExistingRDD scan. Cell assignment is the
    * literal argmin — a map-side projection on the corpus scan itself, no
    * assignment join and no per-vector window.
    */
  private[graft] def kmeansSearchPlan(v: DataFrame, book: Book,
      k: Int, numQueries: Int, probes: Int): DataFrame = {
    val corpus = v.select(col("vec_id"), col("ev"),
      nearestId(col("ev"), book).as("cluster"), norm(col("ev")).as("nrm"))
    val probeTbl = probeTable(
      v.filter(col("vec_id") < numQueries)
        .select(col("vec_id").as("query_id"), col("ev").as("qv"),
          norm(col("ev")).as("qn")),
      centsDf(v.sparkSession, book), probes)
    val scored = corpus.join(broadcast(probeTbl),
        col("probe") === col("cluster") && col("query_id") =!= col("vec_id"))
      .withColumn("cos", cosineWithNorms(dot(col("qv"), col("ev")),
        col("qn"), col("nrm")))
    topkByCos(scored, k)
  }

  /** Persist the learned-centroid IVF index: the converged centroid table
    * (k rows) plus the corpus written as CELL-PARTITIONED parquet
    * (vec_id, ev, nrm under `cell=<id>/`). This is the at-rest layout
    * that makes corpus-scale ANN serving a bounded-read operation: a
    * search probing p cells reads ONLY those p directories (partition
    * pruning at the scan), ~p/k of the corpus, with norms precomputed at
    * build time. Build once, search many — the index lifecycle
    * [[ivfKmeansTopK]] (which recomputes everything per query batch)
    * deliberately does not have.
    */
  def buildIvfIndex(emb: DataFrame, dir: String, clusters: Int = 16,
      iters: Int = 2): Unit = {
    Barrier.withCached(
        emb.select(col("vec_id"), asDouble(col("embedding")).as("ev"))) { v =>
      val book = iterateBooks(v, clusters, iters)
      writeIvfIndex(v, dir, book)
    }
  }

  /** Write an IVF index from an ALREADY-TRAINED centroid book over a
    * (vec_id, ev) frame — the build tail [[buildIvfIndex]] and the
    * frozen-book rebuild (the append-equivalence spec target) share.
    */
  private[graft] def writeIvfIndex(v: DataFrame, dir: String,
      book: Book): Unit = {
    // Validate BEFORE destroying the previous index (the buildDedupIndex /
    // buildLexIndex rule): an empty training book (empty corpus, or no
    // vec_id below the cluster count to seed from) or a corpus whose
    // first row already fails the width guard must fail loudly with the
    // old index intact, not after resetIndexDir has deleted it. The
    // probe is a limit-1 scan; per-row width failures later in the write
    // still fail the build, but the cheap schema-level cases can no
    // longer destroy-and-abort.
    require(book.nonEmpty,
      s"buildIvfIndex at $dir: training produced no centroids (empty " +
        "corpus or no seed vectors) — previous index left intact")
    // Null vec_id rows are EXCLUDED before the emptiness probe (the lex
    // postings rule): a committed null-id vector is PERMANENTLY
    // unreachable — every serve path's `query_id =!= vec_id` self-pair
    // guard evaluates to NULL and drops it — so it would be ingested,
    // counted by indexHealth, and never returned, with zero diagnostics.
    val vv = v.where(col("vec_id").isNotNull)
    require(vv.select(checkedDims(col("ev"), book.head._2.length,
        "IVF index (build probe)", noun = "corpus vectors").as("ev"))
        .limit(1).collect().nonEmpty,
      s"buildIvfIndex at $dir: corpus is empty — previous index left intact")
    // A (re)build supersedes EVERY prior generation: stale append
    // manifests/delta dirs from an earlier lifecycle would otherwise leak
    // into the fresh index and double-count the appended rows.
    // Rebuild-in-place is not reader-concurrent — production rebuilds
    // write a sibling dir and swap the pointer.
    GenManifest.resetDir(v.sparkSession, dir)
    centsDf(v.sparkSession, book).write.mode("overwrite")
      .parquet(s"$dir/centroids")
    // Cell assignment is a map-side literal argmin on the write scan
    // itself — no assignment join. checkedDims on the BUILD too: a
    // null/wrong-width row would otherwise land in the smallest cell
    // with NULL ev/nrm (nulls-first struct argmin) and commit garbage
    // with zero diagnostics — while the SAME row appended via
    // appendToIvfIndex throws, breaking the spec-pinned append ≡
    // rebuild equivalence (one path crashes, the other serves).
    GenManifest.writeParts(vv.select(col("vec_id"),
        checkedDims(col("ev"), book.head._2.length, "IVF index (build)",
          noun = "corpus vectors")
          .as("ev"))
      .select(col("vec_id"), col("ev"), norm(col("ev")).as("nrm"),
        nearestId(col("ev"), book).as("cell")), "cell", dir, "cells")
  }

  // ---- persisted-index manifest (the append lifecycle) -----------------

  /** The manifest schema: `dirs` (cell-partitioned generations) +
    * optional `tdirs`, no meta (the centroid book and codebooks are
    * build-time constants outside the generation lifecycle). A
    * freshly-built index written before the append lifecycle adopts as
    * (0, ["cells"], Nil); metadata (`centroids`, `codebooks`) is never
    * a sweepable data dir.
    */
  private[graft] val Family = GenManifest.Family("ANN",
    Seq("dirs" -> "cells"), None, tombstones = true,
    """cells|delta-\d{10}|compact-\d{10}|tombs-\d{10}""".r)

  /** The LIVE corpus of a persisted index: the union of its manifest's
    * cell-partitioned data dirs. Each dir is read as its own partitioned
    * source, so a `cell IN (...)` probe filter partition-prunes EVERY
    * generation independently — an appended index keeps the bounded-read
    * guarantee. A never-appended index is a single scan, exactly the
    * pre-append plan; a tombstone-free index plans byte-identically to a
    * pre-retraction one (the liveness branch engages only when tdirs
    * exist — GenManifest's newest-insert-outlives-newest-tombstone
    * kernels, vec_id-keyed; the takedown-sized tombstone-max table
    * broadcasts, and the probe's cell filter pushes through the
    * liveness join to every generation scan).
    */
  private def readCells(spark: org.apache.spark.sql.SparkSession,
      dir: String): DataFrame = {
    val lay = GenManifest.layout(spark, dir, Family)
    GenManifest.foldedLive(spark, dir, lay("dirs"), lay.tDirs, "vec_id")
  }

  /** The centroid book of a persisted index, collected to the driver —
    * k rows; makes every downstream probe table a broadcast-able
    * LocalRelation and gives readers the index dimensionality without a
    * Spark job.
    */
  private[graft] def readBook(spark: org.apache.spark.sql.SparkSession,
      dir: String): Book =
    spark.read.parquet(s"$dir/centroids").collect()
      .map(r => r.getLong(0) -> r.getSeq[Double](1).toSeq)
      .sortBy(_._1).toIndexedSeq

  /** APPEND to a persisted IVF index ([[buildIvfIndex]]) — the daily
    * ingest path a production corpus needs: new vectors are encoded with
    * the FROZEN centroid book (map-only literal argmin, the same
    * expression the build used), written as a new cell-partitioned
    * generation dir nothing references yet, then committed by the atomic
    * manifest rename. Readers never see a torn index; the cell
    * assignment is deterministic, so a search over the appended index is
    * EXACTLY a search over an index rebuilt from base∪delta with the same
    * book (spec-pinned). Caller owns vec_id uniqueness across appends,
    * and appends are SINGLE-WRITER: two concurrent appenders would race
    * on the same generation number — the loser's manifest rename fails
    * loudly, but its half-written delta dir may have been clobbered by
    * the winner's overwrite; serialize appends (readers need no
    * coordination — that is what the manifest is for).
    *
    * Scale shape: one map-only pass over the delta (no training, no
    * shuffle beyond the cell repartition); the manifest is O(generations)
    * driver-side metadata. Cells drift from their centroids as appends
    * accumulate — [[indexHealth]] is the retrain signal.
    */
  def appendToIvfIndex(delta: DataFrame, dir: String): Unit = {
    val spark = delta.sparkSession
    val book = readBook(spark, dir)
    appendCells(spark, dir,
      // Null-id delta rows dropped like the build (the lex postings rule
      // — see writeIvfIndex; also keeps append ≡ rebuild on nullable
      // input).
      delta.where(col("vec_id").isNotNull)
        .select(col("vec_id"),
          // The same fail-fast the SEARCH side runs (checkedDims): append
          // is the one entry point that can introduce a width mismatch
          // (the build defines the dims), and without the guard vecDot's
          // NULL-on-mismatch would deterministically dump EVERY delta row
          // into the smallest centroid id with a NULL norm — committed
          // garbage with zero diagnostics.
          checkedDims(asDouble(col("embedding")), book.head._2.length,
            "IVF index (append)", noun = "delta vectors").as("ev"))
        .select(col("vec_id"), col("ev"), norm(col("ev")).as("nrm"),
          nearestId(col("ev"), book).as("cell")))
  }

  /** Write encoded delta `cells` as a new cell-partitioned generation
    * under the shared [[GenManifest.append]]. An empty delta commits
    * nothing: a 0-row partitioned write leaves only _SUCCESS (no cell=
    * dirs), and a manifest referencing it would poison every later
    * [[readCells]] ("unable to infer schema") with no repair path — the
    * sweep never collects a dir the LIVE manifest references, and even
    * [[compactIndex]] reads through readCells — so the dir is dropped.
    */
  private def appendCells(spark: org.apache.spark.sql.SparkSession,
      dir: String, cells: DataFrame): Unit =
    GenManifest.append(spark, dir, Family) { lay =>
      val newDir = f"delta-${lay.seq + 1}%010d"
      GenManifest.writeParts(cells, "cell", dir, newDir)
      val (fs, root) = GenManifest.fsRoot(spark, dir)
      val p = new org.apache.hadoop.fs.Path(root, newDir)
      val hasCells = fs.exists(p) &&
        fs.listStatus(p).exists(_.getPath.getName.startsWith("cell="))
      if (!hasCells) fs.delete(p, true)
      Option.when(hasCells)(lay.appended("dirs" -> newDir))
    }

  /** Top-k search against a PERSISTED index ([[buildIvfIndex]]): probe
    * cells resolve against the tiny centroid table, then the corpus scan
    * carries a literal `cell IN (...)` predicate — Spark prunes the
    * unprobed partition directories at planning time, so the read is
    * bounded by the probed cells, not the corpus (plan-locked). The
    * probe-cell list is collected to the driver first: it is at most
    * |queries| × probes integers, and a literal IN is what static
    * partition pruning needs.
    *
    * `queryVecs` is an EXTERNAL (vec_id, embedding) table — query
    * vectors come from outside a served index, and resolving them from
    * the index itself would full-scan every cell directory before the
    * pruned probe scan ran, silently voiding the bounded-read guarantee.
    * With queries = the corpus head, results are bit-identical to
    * [[ivfKmeansTopK]] at the same parameters (same deterministic
    * centroids, probes, cosine) — the registered query shares its oracle.
    */
  /** Fail fast on external query vectors whose width differs from the
    * index's: the codegen'd dot product returns NULL on a length
    * mismatch, so without this check every probe/LUT/cosine would
    * silently null out and the search would return empty results with
    * zero diagnostics. The guard is IN the query projection (a
    * `raise_error` branch), so it fires during the eager query
    * checkpoint the search already runs — no extra Spark job per call;
    * the expected dim comes from the driver-collected book, not an
    * index scan.
    */
  private def checkedDims(v: Column, expected: Int, what: String,
      noun: String = "query vectors"): Column =
    // coalesce in the MESSAGE: size(NULL) is NULL and concat with a NULL
    // piece is NULL — raise_error(NULL) fires with no diagnostic at all
    // and a misleading dims framing for what is actually a null vector.
    // `noun` names WHICH rows failed (query vs corpus vs delta) — a
    // build-time corpus failure blaming "query vectors" sends the
    // operator debugging the wrong table.
    //
    // The null-ELEMENT arm closes the silent-clean hole the dims guard
    // alone leaves: a right-width vector with a null element passes the
    // size check, vecDot then returns NULL, and every downstream cosine
    // / threshold test evaluates to NULL — embDecontam would read the
    // row as NOT contaminated, a search would silently drop it. Same
    // fail-loud convention as indexHealth's no-arm raise.
    when(size(v) === expected && !exists(v, _.isNull), v)
      .otherwise(raise_error(concat(
        lit(s"$noun are "),
        coalesce(size(v).cast("string"), lit("NULL (null vector)")),
        lit(s"-dimensional but the $what expects $expected dims"),
        when(coalesce(exists(v, _.isNull), lit(false)),
          lit(" — the vector contains a NULL element")).otherwise(lit("")))))

  def ivfIndexTopK(spark: org.apache.spark.sql.SparkSession, dir: String,
      queryVecs: DataFrame, k: Int = 5, probes: Int = 2): DataFrame = {
    val book = readBook(spark, dir)
    val cents = centsDf(spark, book)
    val cells = readCells(spark, dir)
    // Queries stay LAZY into the probe-table barrier (r18 serve fusion):
    // probeTable is their ONLY consumer, so the former query-set barrier
    // + release pair was one whole materialization job per serve for
    // zero reuse — the probe barrier computes the checkedDims/norm
    // projection inline and carries the query columns through.
    val queries = queryVecs
      .select(col("vec_id").as("query_id"),
        checkedDims(asDouble(col("embedding")), book.head._2.length,
          "IVF index").as("qv"))
      .withColumn("qn", norm(col("qv")))
    val probeTbl = probeTable(queries, cents, probes)
      .barrier() // numQueries × probes rows
    // The partition column reads back as the inferred INT type; literal
    // ints keep the IN predicate cast-free so static pruning applies.
    val probedCells = probeTbl.select(col("probe")).distinct()
      .collect().map(_.getLong(0).toInt).toIndexedSeq
    val scoped = cells.filter(col("cell").isin(probedCells: _*))
    val scored = scoped.join(broadcast(probeTbl),
        col("probe") === col("cell") && col("query_id") =!= col("vec_id"))
      .withColumn("cos", cosineWithNorms(dot(col("qv"), col("ev")),
        col("qn"), col("nrm")))
    topkByCos(scored, k)
  }

  /** Persist the full IVF-PQ index — the composition the two halves were
    * built for (FAISS's IVFPQ, Jégou et al. 2011): the learned coarse
    * cells of [[buildIvfIndex]] bound WHICH rows a search reads
    * (partition pruning), and the PQ codes of [[pqTopK]] bound HOW MUCH
    * each read row costs (m integer lookups instead of a full-dimension
    * dot). Layout: `centroids` (coarse, k rows), `codebooks`
    * ((subspace, code, cv) — m·codes rows), and the corpus under
    * `cells/cell=<id>/` as (vec_id, ev, nrm, codes).
    *
    * Documented deviation: codes quantize the RAW vectors, not the
    * per-cell residuals (FAISS `by_residual=false`) — one global
    * codebook set keeps the search LUT per QUERY instead of per
    * (query, cell), and the exact-rerank stage (which this index always
    * runs, over the stored `ev`) recovers what residual coding would
    * have bought. The stored full vectors serve that rerank; a
    * memory-tier deployment would hold only the codes hot and leave
    * `ev` on disk — exactly how this layout reads.
    */
  def buildIvfPqIndex(emb: DataFrame, dir: String, clusters: Int = 8,
      iters: Int = 2, m: Int = 4, codes: Int = 8): Unit = {
    // The writes below scan `emb` directly (slicedVectors), not v — the
    // corpus cache only spans the training loop.
    val trained = Barrier.withCached(
        emb.select(col("vec_id"), asDouble(col("embedding")).as("ev"))) { v =>
      val dims = v.select(size(col("ev"))).head().getInt(0)
      require(dims % m == 0, s"dims=$dims not divisible by m=$m subspaces")
      // ONE fused Lloyd's chain trains the m PQ subspace books AND the
      // coarse quantizer (registered as pseudo-subspace m over the full
      // vector): the m+1 clusterings never interact, so fusing them runs
      // one corpus scan per iteration instead of m+1 chains — identical
      // books ([[trainKeyedBooks]]).
      val sliced = v.select(col("vec_id") +:
        (subspaceSliceCols(m, dims / m) :+ col("ev").as(s"s$m")): _*)
      (trainKeyedBooks(sliced,
        IndexedSeq.fill(m)(codes) :+ clusters, iters), dims / m)
    }
    val sub = trained._2
    val books = trained._1.take(m).map(_.map(_._2))
    val coarse = trained._1(m)
    writeIvfPqIndex(emb, dir, books, coarse, m, sub)
  }

  /** Write an IVF-PQ index from ALREADY-TRAINED books — the build tail
    * [[buildIvfPqIndex]] and the frozen-book rebuild (append-equivalence
    * spec target) share.
    */
  private[graft] def writeIvfPqIndex(emb: DataFrame, dir: String,
      books: IndexedSeq[IndexedSeq[Seq[Double]]], coarse: Book,
      m: Int, sub: Int): Unit = {
    val spark = emb.sparkSession
    // Validate BEFORE destroying the previous index (see writeIvfIndex).
    require(books.nonEmpty && books.forall(_.nonEmpty) && coarse.nonEmpty,
      s"buildIvfPqIndex at $dir: training produced empty codebooks " +
        "(empty corpus or no seed vectors) — previous index left intact")
    // Null-id rows dropped before the probe (the lex postings rule —
    // see writeIvfIndex: a committed null-id vector is unreachable by
    // every serve path's self-pair guard).
    val embNN = emb.where(col("vec_id").isNotNull)
    require(embNN.select(checkedDims(asDouble(col("embedding")), m * sub,
        "IVF-PQ index (build probe)", noun = "corpus vectors").as("e"))
        .limit(1).collect().nonEmpty,
      s"buildIvfPqIndex at $dir: corpus is empty — previous index left intact")
    val codes = books.head.length
    GenManifest.resetDir(spark, dir)
    centsDf(spark, coarse).write.mode("overwrite").parquet(s"$dir/centroids")
    import scala.jdk.CollectionConverters._
    spark.createDataFrame(
        (for (j <- 0 until m; c <- 0 until codes)
          yield org.apache.spark.sql.Row(j, c, books(j)(c))).asJava,
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("subspace",
            org.apache.spark.sql.types.IntegerType),
          org.apache.spark.sql.types.StructField("code",
            org.apache.spark.sql.types.IntegerType),
          org.apache.spark.sql.types.StructField("cv",
            org.apache.spark.sql.types.ArrayType(
              org.apache.spark.sql.types.DoubleType)))))
      .write.mode("overwrite").parquet(s"$dir/codebooks")
    // Encode + assign + norm in ONE map-only projection on the write
    // scan — the literal books make both the PQ codes and the coarse cell
    // pure expressions, so there is no assignment join at all. Build
    // guards dims like the append does (see writeIvfIndex for why the
    // asymmetry would break append ≡ rebuild).
    GenManifest.writeParts(pqEncodedCells(
      embNN.select(col("vec_id"),
        checkedDims(asDouble(col("embedding")), m * sub,
          "IVF-PQ index (build)", noun = "corpus vectors").as("embedding")),
      books, coarse, m, sub), "cell", dir, "cells")
  }

  /** The (vec_id, ev, codes, nrm, cell) projection an IVF-PQ data file
    * stores — one map-only pass, shared by build and append so the coded
    * layout cannot drift between them.
    */
  private def pqEncodedCells(emb: DataFrame,
      books: IndexedSeq[IndexedSeq[Seq[Double]]], coarse: Book,
      m: Int, sub: Int): DataFrame =
    slicedVectors(emb, m, sub)
      .select(col("vec_id"), col("ev"),
        array((0 until m).map(j => pqCodeExpr(books, j)): _*).as("codes"),
        norm(col("ev")).as("nrm"),
        nearestId(col("ev"), coarse).as("cell"))

  /** The PQ codebooks of a persisted IVF-PQ index, collected to the
    * driver (m·codes rows): books(j)(c) = subspace j's code-c centroid.
    */
  private[graft] def readCodebooks(spark: org.apache.spark.sql.SparkSession,
      dir: String): IndexedSeq[IndexedSeq[Seq[Double]]] = {
    val bookRows = spark.read.parquet(s"$dir/codebooks").collect()
    val m = bookRows.map(_.getInt(0)).max + 1
    val codes = bookRows.map(_.getInt(1)).max + 1
    (0 until m).map { j =>
      val byCode = bookRows.filter(_.getInt(0) == j)
        .map(r => r.getInt(1) -> r.getSeq[Double](2).toSeq).toMap
      (0 until codes).map(byCode)
    }
  }

  /** APPEND to a persisted IVF-PQ index — [[appendToIvfIndex]] with the
    * delta additionally PQ-coded by the frozen literal codebooks (still
    * one map-only pass; same atomic manifest commit, same spec-pinned
    * rebuild equivalence, same [[indexHealth]] retrain signal).
    */
  def appendToIvfPqIndex(delta: DataFrame, dir: String): Unit = {
    val spark = delta.sparkSession
    val books = readCodebooks(spark, dir)
    val coarse = readBook(spark, dir)
    val m = books.length
    val sub = books.head.head.length
    // Same width guard as the IVF append (see there): a mismatched delta
    // would otherwise PQ-code every row to code 0 per subspace and
    // commit the garbage silently.
    val dims = m * sub
    // The SHARED guard, not a hand-rolled copy: the copy was missing
    // checkedDims' message coalesce, so a null delta embedding raised
    // with a NULL (empty) diagnostic.
    // Null-id delta rows dropped like the build (the lex postings rule).
    val guarded = delta.where(col("vec_id").isNotNull)
      .withColumn("embedding",
        checkedDims(col("embedding"), dims, "IVF-PQ index (append)",
          noun = "delta vectors"))
    appendCells(spark, dir, pqEncodedCells(guarded, books, coarse, m, sub))
  }

  /** COMPACT a persisted IVF / IVF-PQ index under the shared
    * [[GenManifest.compact]] and [[GenManifest.foldLive]] —
    * [[readCells]] plans one partitioned source per manifest dir, so
    * after N appends every search carries N scans (each still pruned by
    * the probe filter, but listing, plan size and scan overhead grow
    * with the append count). Rows rewrite VERBATIM: vectors, norms, PQ
    * codes and cell assignments are already materialized, so no book is
    * consulted and search-after-compact is bit-identical to
    * search-before (spec-pinned) — which is what lets ONE implementation
    * serve both layouts. The pre-compaction generation keeps its files
    * for one further commit so in-flight readers finish their scans
    * ([[graft.streaming.IncrementalTrend.compact]] composes with its
    * retention sweep the same way).
    *
    * Scale shape: one shuffle of the corpus rows on `cell` (the same
    * exchange the build paid) and O(1) driver metadata; run it on the
    * maintenance cadence, e.g. when [[indexHealth]] or the manifest's
    * generation count crosses the operator's threshold.
    */
  def compactIndex(spark: org.apache.spark.sql.SparkSession,
      dir: String): Unit =
    GenManifest.compact(spark, dir, Family) { lay =>
      val newDir = f"compact-${lay.seq + 1}%010d"
      GenManifest.foldLive(spark, dir, lay, "dirs", "vec_id", "cell", newDir,
        s"compactIndex at $dir: every vector is retracted — an all-empty " +
          "index is unrepresentable; rebuild when content returns")
      lay.compacted("dirs" -> newDir)
    }

  /** RETRACT vectors from a persisted IVF / IVF-PQ index — the shared
    * [[GenManifest.retract]] keyed by vec_id. ONE implementation serves
    * both layouts: the at-rest unit is a vec_id-keyed cell row either
    * way, and liveness resolves inside [[readCells]], so every serve
    * (IVF top-k, IVF-PQ ADC + rerank), [[indexHealth]] and
    * [[compactIndex]] stop seeing the vector at the commit.
    * Search-after-retract equals a frozen-book rebuild over the retained
    * corpus EXACTLY (cell assignment and codes are per-row deterministic
    * and already at rest; spec-pinned for both layouts). Unlike the
    * dedup families, a takedown of every live vector throws here: an
    * all-empty index would serve silently-empty top-k rows.
    *
    * Cost shape: the membership probe is one map-side scan of the cell
    * generations semi-joined to the broadcast takedown set — cells
    * partition by CELL, so a vec-keyed probe cannot prune, but it never
    * shuffles the index either (the lex-retraction trade).
    */
  def retractFromAnnIndex(vecs: DataFrame, dir: String): Unit = {
    val spark = vecs.sparkSession
    val lay = GenManifest.layout(spark, dir, Family)
    val newT = f"tombs-${lay.seq + 1}%010d"
    GenManifest.retract(spark, dir, Family, vecs, "vec_id", newT) { h =>
      // BOTH guards from ONE liveness-resolving pass (the membership
      // check always needs the full scan, so a separate all-retracted
      // anti-join probe would pay a second one for nothing): count the
      // DISTINCT takedown ids found live, and whether any live row falls
      // outside the takedown set.
      val nTakedown = h.count()
      Skew.requireScratchFree(readCells(spark, dir), Seq("__tk"),
        "retractFromAnnIndex")
      val probe = readCells(spark, dir)
        .join(broadcast(h.withColumn("__tk", lit(true))),
          Seq("vec_id"), "left")
        .agg(
          count_distinct(when(col("__tk"), col("vec_id"))).as("live_tk"),
          max(when(col("__tk").isNull, lit(1)).otherwise(lit(0)))
            .as("has_survivor"))
        .head()
      val nonMembers = nTakedown - probe.getAs[Long]("live_tk")
      require(nonMembers == 0L,
        s"retractFromAnnIndex at $dir: $nonMembers of the takedown " +
          "ids are not currently live (never ingested, or already " +
          "retracted) — a takedown of absent vectors is a caller " +
          "bug, not a no-op")
      require(probe.getAs[Int]("has_survivor") == 1,
        s"retractFromAnnIndex at $dir: the takedown covers every " +
          "live vector — an all-empty index is unrepresentable; " +
          "rebuild when content returns")
      lay.retracted(newT)
    }
  }

  /** Takedown-pressure report over a persisted IVF / IVF-PQ index: per
    * cell, how many stored rows are LIVE vs TOMBSTONED (dead rows still
    * occupy files and skew the fill picture until [[compactIndex]]
    * purges them) — the retraction-era companion of [[indexHealth]],
    * which deliberately reports live membership only. dead_ppm is the
    * dead share of the cell's stored rows in parts-per-million (exact
    * integer floor-division). A takedown-heavy history reads as high
    * dead_ppm concentrated where the retracted content clustered — the
    * compact-now signal.
    */
  def takedownHealth(spark: org.apache.spark.sql.SparkSession,
      dir: String): DataFrame = {
    val lay = GenManifest.layout(spark, dir, Family)
    val (dirs, tDirs) = (lay("dirs"), lay.tDirs)
    val rows = GenManifest.readWithGen(spark, dir, dirs)
    val classified =
      if (tDirs.isEmpty) rows.withColumn("__live", lit(true))
      else GenManifest.classifyLiveness(rows, "vec_id", "__g",
        GenManifest.tombMax(spark, dir, tDirs, "vec_id"))
    classified
      .groupBy(col("cell").cast("long").as("cell"))
      .agg(
        sum(when(col("__live"), lit(1L)).otherwise(lit(0L)))
          .as("live_vecs"),
        sum(when(col("__live"), lit(0L)).otherwise(lit(1L)))
          .as("dead_vecs"))
      .selectExpr("cell", "live_vecs", "dead_vecs",
        "CAST((dead_vecs * 1000000) DIV (live_vecs + dead_vecs) " +
          "AS BIGINT) AS dead_ppm")
  }

  /** INCREMENTAL CORPUS SYNC — the shared [[GenManifest.sync]] keyed by
    * vec_id, so serves afterwards equal a FROZEN-BOOK rebuild over v2
    * EXACTLY (spec-pinned for both layouts). The diff unit is the VECTOR
    * VALUE (the JSON rendering of the embedding array — engine-internal
    * only, both snapshots hash through the same Spark codegen); a
    * re-embedded vector with the same vec_id reads `changed` and is
    * retracted + re-encoded. The append leg encodes with the build-time
    * books of whichever layout the index has (IVF or IVF-PQ): the book
    * is NOT retrained, so a transition that shifts the distribution
    * shows up as [[indexHealth]] residual drift. The index must hold
    * exactly v1 (builds throw on bad vectors rather than dropping);
    * a transition retracting EVERY live vector is refused. Torn-sync
    * recovery: `appendToIvf(Pq)Index(v2 ⋉ (added ∪ changed ids), dir)`.
    */
  def syncAnnIndex(v1Emb: DataFrame, v2Emb: DataFrame,
      dir: String): Unit = {
    val spark = v1Emb.sparkSession
    GenManifest.sync(v1Emb, v2Emb,
        md5(coalesce(to_json(struct(col("embedding"))), lit(""))),
        key = "vec_id")(
      retractFromAnnIndex(_, dir), { delta =>
        val (fs, root) = GenManifest.fsRoot(spark, dir)
        if (fs.exists(new org.apache.hadoop.fs.Path(root, "codebooks")))
          appendToIvfPqIndex(delta, dir)
        else appendToIvfIndex(delta, dir)
      })
  }

  /** Index-quality drift report over a persisted IVF / IVF-PQ index: one
    * scan of the cells table → per cell (cell, n_vecs, share_ppm,
    * mean_res_us, max_res_us) — fill factor in parts-per-million and the
    * mean/max distance of member vectors to their OWN centroid in
    * micro-units. THE RETRAIN SIGNAL: appends encode with frozen books
    * ([[appendToIvfIndex]]), so as ingest accumulates, cells fill
    * unevenly and residuals grow — when share skew or mean residual
    * drifts past the operator's threshold, rebuild ([[buildIvfIndex]])
    * to re-learn the centroids. A cell no vector maps to is absent (its
    * share is zero).
    *
    * Determinism/scale shape: the residual is a map-only literal-book
    * CASE over the row's stored cell (no join, no argmin re-search);
    * per-cell stats aggregate fixed-point longs (floor-quantized — sums
    * and integer floor-divisions are shuffle-order-free), and only k
    * result rows leave the aggregation.
    */
  def indexHealth(spark: org.apache.spark.sql.SparkSession,
      dir: String): DataFrame = {
    val book = readBook(spark, dir)
    val cells = readCells(spark, dir)
    val ev = col("ev")
    val xx = dot(ev, ev)
    val arms = book.map { case (id, cv) =>
      val cl = typedlit(cv.toArray)
      (col("cell") === lit(id),
        (xx + dot(cl, cl)) - lit(2.0) * dot(ev, cl))
    }
    val d2 = arms.tail.foldLeft(when(arms.head._1, arms.head._2)) {
      case (acc, (c, e)) => acc.when(c, e)
    }
    // d² can dip epsilon-negative in IEEE arithmetic for a vector that IS
    // its centroid — clamp before the sqrt. But a NULL d² means the row
    // resolved to NO centroid arm (corrupt/truncated centroids file) or
    // carries a NULL vector: greatest() skips NULLs, so the old clamp
    // reported such rows as perfectly centered (residual 0), silently
    // dragging the drift signal DOWN — the exact corruption this report
    // exists to expose. A drift report on a corrupt index fails loudly
    // instead.
    val resUs = when(col("__d2").isNotNull,
      floor(sqrt(greatest(col("__d2"), lit(0.0))) * lit(1e6)).cast("long"))
      .otherwise(raise_error(concat(
        lit("indexHealth: a row in cell "), col("cell").cast("string"),
        lit(" resolves to no centroid arm or has a NULL vector — " +
          "corrupt index; rebuild"))))
    cells
      .select(col("cell").cast("long").as("cell"), d2.as("__d2"))
      .select(col("cell"), resUs.as("res_us"))
      .groupBy(col("cell"))
      // DECIMAL(38,0) residual sum: cells holding 1e10 vectors of ~1e9
      // microunit residuals (the skewed-fill case this report exists to
      // expose) would wrap a plain long sum and report negative drift.
      .agg(count(lit(1)).as("n_vecs"),
        sum(col("res_us").cast("decimal(38,0)")).as("sum_us"),
        max(col("res_us")).as("max_res_us"))
      .withColumn("total", sum(col("n_vecs")).over(Window.partitionBy()))
      .selectExpr("cell", "n_vecs",
        "CAST((n_vecs * 1000000) DIV total AS BIGINT) AS share_ppm",
        // DIV, never FLOOR(a / b): Spark's decimal division rounds the
        // quotient HALF_UP at its result scale BEFORE the floor, so a
        // mean within 5e-7 of the next integer floors to the WRONG side
        // of the oracle's exact integer floor-division (the RangeJoin
        // floor-div lesson; operands are nonnegative, so truncation ≡
        // floor).
        "CAST(sum_us DIV n_vecs AS BIGINT) AS mean_res_us",
        "max_res_us")
  }

  /** Search the persisted IVF-PQ index: probe cells resolve against the
    * tiny centroid table (literal `cell IN` ⇒ static partition pruning,
    * same contract as [[ivfIndexTopK]]); inside the probed cells the scan
    * ranks by the integer ADC sum (codes × the query-row LUT — no
    * full-dimension work); the top `candidates` per query then re-rank by
    * exact cosine over the stored vectors. Output: (query_id,
    * neighbor_id, cos, rank).
    *
    * `queryVecs` is external, as a served index requires (see
    * [[ivfIndexTopK]] for why resolving queries from the index itself
    * would void the bounded-read guarantee).
    */
  def ivfPqTopK(spark: org.apache.spark.sql.SparkSession, dir: String,
      queryVecs: DataFrame, k: Int = 5, probes: Int = 2,
      candidates: Int = 50): DataFrame = {
    // The rerank pool must cover the ask: with candidates < k every
    // query would silently return at most `candidates` neighbors.
    require(candidates >= k,
      s"ivfPqTopK reranks the top $candidates ADC candidates but k=$k " +
        "was requested — raise candidates (or lower k)")
    val cents = centsDf(spark, readBook(spark, dir))
    val cells = readCells(spark, dir)
    val books = readCodebooks(spark, dir)
    val m = books.length
    val sub = books.head.head.length

    // Query rows carry everything the search needs: LUT arrays for the
    // ADC stage, the full vector + norm for the rerank stage (the dim
    // guard rides the projection — see checkedDims).
    // Queries stay LAZY into the probe-table barrier (r18 — see
    // ivfIndexTopK): probeTable is their only consumer, the LUT
    // projection computes once inside the probe materialization.
    val queries = slicedVectors(queryVecs, m, sub)
      .select(col("vec_id").as("query_id"),
        array((0 until m).map(j => pqLutExpr(books, j)): _*).as("luts"),
        checkedDims(col("ev"), sub * m, "IVF-PQ index").as("qv"),
        norm(col("ev")).as("qn"))
    val probeTbl = probeTable(queries, cents, probes)
      .barrier() // numQueries × probes rows
    val probedCells = probeTbl.select(col("probe")).distinct()
      .collect().map(_.getLong(0).toInt).toIndexedSeq
    val scoped = cells.filter(col("cell").isin(probedCells: _*))
    val scored = scoped.join(broadcast(probeTbl),
        col("probe") === col("cell") && col("query_id") =!= col("vec_id"))
      .withColumn("adist_us", adcSum(col("codes"), col("luts")))
    val wAdc = Window.partitionBy(col("query_id"))
      .orderBy(col("adist_us").asc, col("vec_id").asc)
    val cand = scored.withColumn("rk", row_number().over(wAdc))
      .filter(col("rk") <= candidates)
    topkByCos(
      cand.withColumn("cos", cosineWithNorms(dot(col("qv"), col("ev")),
        col("qn"), col("nrm"))), k)
  }

  /** Recall of the full persisted IVF-PQ search ([[ivfPqTopK]]) vs the
    * exact brute-force top-k — the third tier of the PQ accuracy
    * evidence: [[pqRecall]] measures what ADC coding and the bounded
    * exact rerank cost; this measures what COARSE-CELL PRUNING costs on
    * top (the probed cells bound which rows the search can see at all).
    * Output: (query_id, hits_ivfpq, recall_ivfpq), denominated on what
    * brute force actually returned, like every recall report here.
    *
    * Audit-scale: the brute-force side scores numQueries × corpus
    * (guarded like [[pqRecall]]); the IVF-PQ side reads only the probed
    * cells of the prebuilt index at `dir`.
    */
  def ivfPqRecall(spark: org.apache.spark.sql.SparkSession, dir: String,
      emb: DataFrame, k: Int = 5, numQueries: Int = 10, probes: Int = 2,
      candidates: Int = 50): DataFrame = {
    require(numQueries <= 1000,
      s"ivfPqRecall scores numQueries x corpus rows; numQueries=" +
        s"$numQueries exceeds the 1000-query audit bound")
    // The exact leg materializes on its own driver thread while this
    // thread constructs the index serve (whose probe collect / pruned
    // reads are eager driver work) — guide §2.6, the pqRecall shape.
    import scala.concurrent.{Await, ExecutionContext, Future}
    import scala.concurrent.duration.Duration
    val pool = java.util.concurrent.Executors.newFixedThreadPool(1)
    implicit val ec: ExecutionContext =
      ExecutionContext.fromExecutorService(pool)
    val fBf = Future {
      spark.sparkContext.setJobDescription("ivfPqRecall: exact leg")
      try bruteForceTopK(emb, k, numQueries)
        .select(col("query_id"), col("neighbor_id"))
        .barrier() // numQueries × k rows, feeds 2 branches
      finally spark.sparkContext.setJobDescription(null)
    }
    val (got, bf) = try {
      val g = ivfPqTopK(spark, dir, emb.filter(col("vec_id") < numQueries),
          k, probes, candidates)
        .select(col("query_id"), col("neighbor_id"))
      (g, Await.result(fBf, Duration.Inf))
    } catch {
      case t: Throwable =>
        // A failed leg must not abandon the exact one: await it, release
        // its barrier, and keep its own failure as suppressed.
        scala.util.Try(Await.result(fBf, Duration.Inf)) match {
          case scala.util.Success(b) => Barrier.release(b)
          case scala.util.Failure(e) => if (e ne t) t.addSuppressed(e)
        }
        throw t
    } finally pool.shutdown()
    val bfn = bf.groupBy(col("query_id")).agg(count(lit(1)).as("bf_n"))
    val h = bf.join(got, Seq("query_id", "neighbor_id"))
      .groupBy(col("query_id")).agg(count(lit(1)).as("hits_ivfpq"))
    bfn.join(h, Seq("query_id"), "left")
      .select(col("query_id"),
        coalesce(col("hits_ivfpq"), lit(0L)).as("hits_ivfpq"),
        // hits/n is a small-integer rational — exactly the round()
        // divergence class; r6 is engine-order-free.
        Quant.r6(coalesce(col("hits_ivfpq"), lit(0L)).cast("double") /
          col("bf_n").cast("double")).as("recall_ivfpq"))
  }

  /** Recall@k report: single-probe, ring-1 and ring-2 multi-probe sign-LSH
    * IVF plus the LEARNED-centroid IVF ([[ivfKmeansTopK]], `probes` nearest
    * of `clusters` k-means cells), all measured against the exact
    * brute-force top-k, per query — the accuracy evidence an ANN index
    * ships with. `recall_single <= recall_multi <= recall_multi2` by
    * construction (each candidate set is a superset of the previous);
    * `recall_kmeans` is the learned-cells tier at a probe budget
    * (`probes/clusters` of the corpus) comparable to ring-2's 37/256 cells.
    *
    * AUDIT-scale operator: it deliberately scores numQueries × corpus rows
    * (one pass feeds the exact baseline and every tier), so `numQueries`
    * must stay a fixed audit sample — guarded below — never the corpus.
    */
  def ivfRecall(emb: DataFrame, k: Int = 5, numQueries: Int = 10,
      clusters: Int = 16, iters: Int = 2, probes: Int = 2): DataFrame = {
    require(numQueries <= 1000,
      s"ivfRecall scores numQueries x corpus rows; numQueries=$numQueries " +
        "exceeds the 1000-query audit bound (sample queries instead)")
    val scored = Barrier.withCached(
        emb.select(col("vec_id"), asDouble(col("embedding")).as("ev"))) { v =>
    // Learned-centroid side: the converged book (driver literals), each
    // vector's cell as a map-side argmin on the same scan that computes
    // the LSH bucket, and each query's `probes` nearest cells.
    val book = iterateBooks(v, clusters, iters)
    val withBucket = v
      .withColumn("bucket", lshBucket(col("ev")))
      .withColumn("nrm", norm(col("ev")))
      .withColumn("kcell", nearestId(col("ev"), book))
    val queries = withBucket.filter(col("vec_id") < numQueries)
      .select(col("vec_id").as("query_id"), col("ev").as("qv"),
        col("bucket").as("qb"), col("nrm").as("qn"))
    val qp = probeTable(queries.select(col("query_id"), col("qv")),
        centsDf(v.sparkSession, book), probes)
      .select(col("query_id").as("p_qid"), col("probe"))
      .barrier() // numQueries × probes rows
    // ONE scored pass over (corpus × broadcast queries) feeds the exact
    // baseline AND every probe tier: a candidate's probe ring is the
    // Hamming distance between its cell and the query's (bit_count of
    // the XOR), tier r's candidate set is exactly `ring <= r`, and the
    // learned tier is `(query, kcell) ∈ probe set` — the same sets the
    // per-tier probe joins produce, without re-running the projections
    // and cosine once more per tier over the corpus.
    // Checkpointed to feed five branches — but PRUNED first, so what
    // materializes is bounded by numQueries × k × (rings + 1), not
    // numQueries × corpus (the 1000-query guard bounds one factor of the
    // cross product; this bounds the other). The prune is EXACT for
    // every tier: tier r's candidate set is ∪ ring ≤ r, whose top-k is
    // contained in the union of per-(query, ring) top-ks (brute force =
    // rings unrestricted, same argument), and the learned tier's
    // candidates are exactly the kcell-probe members, covered by the
    // per-(query, in_kp) top-k of the member partition.
    val flagged = withBucket.join(broadcast(queries),
        col("query_id") =!= col("vec_id"))
      .withColumn("cos", cosineWithNorms(dot(col("qv"), col("ev")),
        col("qn"), col("nrm")))
      .withColumn("ring", expr("bit_count(bucket ^ qb)"))
      .select(col("query_id"), col("vec_id"), col("cos"), col("ring"),
        col("kcell"))
      // qp rows are (query, probe-cell) DISTINCT, so this left join can
      // only flag, never duplicate.
      .join(broadcast(qp),
        col("query_id") === col("p_qid") && col("kcell") === col("probe"),
        "left_outer")
      .withColumn("in_kp", col("probe").isNotNull)
      .drop("p_qid", "probe")
    val wRing = Window.partitionBy(col("query_id"), col("ring"))
      .orderBy(col("cos").desc, col("vec_id").asc)
    val wKp = Window.partitionBy(col("query_id"), col("in_kp"))
      .orderBy(col("cos").desc, col("vec_id").asc)
    val pruned = flagged
      .withColumn("__rr", row_number().over(wRing))
      .withColumn("__rk", row_number().over(wKp))
      .filter(col("__rr") <= k || (col("in_kp") && col("__rk") <= k))
      .drop("__rr", "__rk")
      .barrier() // releases the vector cache on exit
    // qp is superseded once the pruned barrier materializes (the
    // ivfIndexTopK release discipline) — without this its checkpoint
    // blocks live until driver GC.
    Barrier.release(qp)
    pruned
    }
    // The SHARED ranking tail, not a third copy of the (cos desc, vec_id
    // asc) definition: a tie-break change in topkByCos must change what
    // this recall report denominates on, not silently diverge from it.
    def topk(df: DataFrame): DataFrame =
      topkByCos(df, k)
        .select(col("query_id"), col("neighbor_id").as("vec_id"))
    val bf = topk(scored)
    // Recall denominates on what brute force ACTUALLY returned — a corpus
    // (or filtered slice) smaller than k must not understate a perfect
    // match as hits/k.
    val bfn = bf.groupBy(col("query_id")).agg(count(lit(1)).as("bf_n"))
    def hitsOf(r: Int, name: String): DataFrame =
      bf.join(topk(scored.filter(col("ring") <= r)), Seq("query_id", "vec_id"))
        .groupBy(col("query_id")).agg(count(lit(1)).as(name))
    val sh = hitsOf(0, "hits_single")
    val mh = hitsOf(1, "hits_multi")
    val m2 = hitsOf(2, "hits_multi2")
    val kmCand = scored.filter(col("in_kp"))
    val kh = bf.join(topk(kmCand), Seq("query_id", "vec_id"))
      .groupBy(col("query_id")).agg(count(lit(1)).as("hits_kmeans"))
    def rec(c: String): Column =
      Quant.r6(coalesce(col(c), lit(0L)).cast("double") /
        col("bf_n").cast("double"))
    bfn
      .join(sh, Seq("query_id"), "left")
      .join(mh, Seq("query_id"), "left")
      .join(m2, Seq("query_id"), "left")
      .join(kh, Seq("query_id"), "left")
      .select(col("query_id"),
        coalesce(col("hits_single"), lit(0L)).as("hits_single"),
        coalesce(col("hits_multi"), lit(0L)).as("hits_multi"),
        coalesce(col("hits_multi2"), lit(0L)).as("hits_multi2"),
        coalesce(col("hits_kmeans"), lit(0L)).as("hits_kmeans"),
        rec("hits_single").as("recall_single"),
        rec("hits_multi").as("recall_multi"),
        rec("hits_multi2").as("recall_multi2"),
        rec("hits_kmeans").as("recall_kmeans"))
  }

  /** A centroid book: (centroid id, centroid vector) pairs, id-ascending —
    * DRIVER-RESIDENT LITERALS (k × dims doubles, the same size class as a
    * broadcast dim table), which is what makes every assignment a pure
    * map-side projection.
    */
  private[graft] type Book = IndexedSeq[(Long, Seq[Double])]

  /** The literal argmin: `array_min` over per-centroid (d², id) structs —
    * no crossJoin ×k row blowup, and no per-vector argmin window (which
    * would shuffle the corpus); `array_min`'s lexicographic (d², id)
    * ordering is exactly the (d² asc, centroid_id asc) tie-break a
    * windowed argmin produces.
    *
    * Squared distance expands to `(a·a + c·c) − 2(a·c)` so the whole scan
    * reuses the codegen'd dot product; the expansion's operation order is
    * fixed (left-assoc add, then subtract) so any engine reproduces the
    * double bit-for-bit. A vector that IS a centroid gets distance exactly
    * 0 (x + x − 2x is exact in IEEE arithmetic).
    */
  private def nearestStruct(xs: Column, book: Book): Column = {
    require(book.nonEmpty,
      "empty centroid book — no vectors with vec_id below the seed bound")
    val xx = dot(xs, xs)
    array_min(array(book.map { case (id, cv) =>
      // Array, not Seq: Literal.apply's no-TypeTag fallback (hit in REPL
      // classloaders where ScalaReflection fails) supports arrays but not
      // Vector — same literal either way.
      val cl = typedlit(cv.toArray)
      struct(((xx + dot(cl, cl)) - lit(2.0) * dot(xs, cl)).as("d2"),
        lit(id).as("id"))
    }: _*))
  }

  private def nearestId(xs: Column, book: Book): Column =
    nearestStruct(xs, book)("id")

  /** Map-only corpus assignment against a literal centroid book:
    * (vec_id, cluster, d2-unrounded).
    */
  private def assignLiteral(v: DataFrame, book: Book): DataFrame =
    v.select(col("vec_id"), nearestStruct(col("ev"), book).as("a"))
      .select(col("vec_id"), col("a.id").as("cluster"), col("a.d2").as("d2"))

  /** The (centroid_id, cv) book as a tiny LocalRelation DataFrame — the
    * shape [[probeTable]] consumes and the persisted-index `centroids`
    * file stores.
    */
  private def centsDf(spark: org.apache.spark.sql.SparkSession,
      book: Book): DataFrame = {
    import scala.jdk.CollectionConverters._
    spark.createDataFrame(
      book.map { case (id, cv) => org.apache.spark.sql.Row(id, cv) }.asJava,
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("centroid_id",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("cv",
          org.apache.spark.sql.types.ArrayType(
            org.apache.spark.sql.types.DoubleType)))))
  }

  /** One k-means assignment step: every vector takes the argmin squared-L2
    * centroid (deterministic seed: the vectors with vec_id < k, centroid
    * id = that vec_id) — the embedding-clustering primitive (semantic
    * dedup / topic bucketing in a curation pipeline). Map-only: see
    * [[nearestStruct]] for the literal-centroid design and the IEEE
    * determinism argument.
    */
  def kmeansAssign(emb: DataFrame, k: Int = 8): DataFrame = {
    val v = emb.select(col("vec_id"), asDouble(col("embedding")).as("ev"))
    assignLiteral(v, iterateBooks(v, k, 0))
      .select(col("vec_id"), col("cluster"), Quant.r6(col("d2")).as("dist2"))
  }

  /** Cluster-balanced diversity sample: up to `cap` vectors per k-means
    * cluster, members chosen by a deterministic md5 coin — the
    * topic-balanced subset selection of embedding-aware curation
    * pipelines (a uniform sample over a skewed corpus reproduces the
    * skew; capping per semantic cluster flattens it, the same
    * rebalancing argument as per-source caps in [[Selection]] but on
    * LEARNED structure instead of metadata). `iters` Lloyd's rounds
    * refine the seed centroids (0 = the seeded assignment
    * [[kmeansAssign]] uses, which keeps the oracle to one argmin CTE).
    *
    * Determinism: assignment is the literal-book argmin (map-only, IEEE
    * tie-break on centroid id — see [[nearestStruct]]); the coin is
    * md5("cbs:<seed>:" + vec_id), unique per vector for any practical
    * corpus, with vec_id as the total-order tie-break.
    *
    * 100 TB shape: assignment adds NO exchange (driver-resident literal
    * centroids); the per-cluster rank is the one shuffle, and the
    * rank <= cap filter prunes map-side with WindowGroupLimit, so each
    * map partition ships at most k·cap rows — the [[Selection]]
    * per-source-caps plan shape (plan-locked).
    */
  def clusterBalancedSample(emb: DataFrame, k: Int = 8, cap: Int = 25,
      seed: Long = 0L, iters: Int = 0): DataFrame = {
    require(cap >= 1, s"per-cluster cap=$cap must be positive")
    // Null-id rows drop up front, documented (the uniformSample rule,
    // mirrored in the oracle): a null vec_id draws a NULL md5 coin that
    // sorts FIRST under Spark's nulls-first asc — occupying cap slots
    // with unidentifiable rows while DuckDB sorts the same coin last.
    val v = emb.where(col("vec_id").isNotNull)
      .select(col("vec_id"), asDouble(col("embedding")).as("ev"))
    val w = Window.partitionBy(col("cluster"))
      .orderBy(col("coin").asc, col("vec_id").asc)
    def sampled(vv: DataFrame) =
      assignLiteral(vv, iterateBooks(vv, k, iters))
        .select(col("vec_id"), col("cluster"),
          md5(concat(lit(s"cbs:$seed:"), col("vec_id").cast("string")))
            .as("coin"))
        .withColumn("smp_rank", row_number().over(w).cast("int"))
        .filter(col("smp_rank") <= cap)
        .select(col("vec_id"), col("cluster"), col("smp_rank"))
    // Lloyd's iterations re-scan the training frame once per round plus
    // the seed collect and the final assignment — cache it like every
    // other iterating caller (trainKeyedBooks' documented contract). At
    // the iters=0 default there is exactly one pass, so skip the cache.
    if (iters > 0) Barrier.withCached(v)(sampled) else sampled(v)
  }

  /** Quantization grid for the deterministic centroid update: components
    * are floor-quantized to 1e-6 before summing. floor (not round) because
    * floor of an IEEE double is unambiguous in every engine, while round()
    * at a .5 boundary depends on the engine's decimal-repr strategy.
    */
  val KmeansScale = 1000000.0

  /** The deterministic Lloyd's loop, fused across any number of
    * INDEPENDENT subspace clusterings and driven from the driver:
    * `sliced` carries `vec_id` first and one slice column `s{j}` per
    * subspace; `ks(j)` is subspace j's seed bound (seed centroids = the
    * vectors with vec_id < ks(j), centroid id = that vec_id). Each
    * iteration runs ONE corpus scan — per row, the literal-argmin cluster
    * of every subspace (map-only), exploded to (subspace, cluster, pos, x)
    * and fixed-point-summed into Σk·dims aggregation cells — followed by a
    * driver-side rebuild of the tiny centroid books.
    *
    * Update determinism: each new centroid component is
    * `(sum(floor(x·1e6)) / 1e6) / n` — integer addition commutes, so the
    * result is independent of partitioning / shuffle order (the
    * float-order nondeterminism that keeps naive Lloyd's out of
    * hash-checked pipelines), at the price of 1e-6 quantization
    * (irrelevant to cluster geometry); floor (not round) because floor of
    * an IEEE double is unambiguous in every engine. Empty clusters keep
    * their previous centroid.
    *
    * Scale shape: the corpus is touched once per iteration (plus the seed
    * lookup, a pushed-down vec_id range scan); only Σk·dims aggregation
    * cells and the k-row books ever reach the driver — index-sized, the
    * same class FAISS trains on (it samples the corpus for exactly this
    * reason). Fusing the subspaces (m PQ books + the coarse quantizer in
    * one chain) divides the per-iteration job count by the subspace count
    * at bit-identical results, since the clusterings never interact.
    */
  private def trainKeyedBooks(sliced: DataFrame, ks: IndexedSeq[Int],
      iters: Int): IndexedSeq[Book] = {
    val nSub = ks.length
    val seedRows = sliced.filter(col("vec_id") < ks.max)
      .collect().sortBy(_.getLong(0))
    var books: IndexedSeq[Book] = (0 until nSub).map { j =>
      seedRows.filter(_.getLong(0) < ks(j))
        .map { r =>
          require(!r.isNullAt(j + 1),
            s"null seed vector: vec_id=${r.getLong(0)} subspace=$j — " +
              "seed rows (vec_id < k) must carry non-null embeddings")
          r.getLong(0) -> r.getSeq[Double](j + 1).toSeq
        }.toIndexedSeq
    }
    for (_ <- 0 until iters) {
      val perSub = (0 until nSub).map { j =>
        struct(nearestId(col(s"s$j"), books(j)).as("cluster"),
          col(s"s$j").as("sv"))
      }
      val cells = sliced
        .select(posexplode(array(perSub: _*)).as(Seq("subspace", "sc")))
        .select(col("subspace"), col("sc.cluster").as("cluster"),
          posexplode(col("sc.sv")).as(Seq("pos", "x")))
        .groupBy(col("subspace"), col("cluster"), col("pos"))
        // DECIMAL(38,0) accumulator: a plain long sum wraps SILENTLY on
        // overflow, and at corpus scale (1e10+ rows per cluster of 1e9-
        // magnitude fixed-point addends) the per-cell sum passes
        // Long.MaxValue — every trained centroid would be garbage with
        // no error. Decimal sums are exact to 38 digits and identical to
        // the long sum wherever the long sum was valid, so the oracles'
        // replayed arithmetic is unchanged.
        .agg(sum(floor(col("x") * KmeansScale).cast("decimal(38,0)")).as("s"),
          count(lit(1)).as("n"))
        .collect()
      val byKey = cells.map(r =>
        (r.getInt(0), r.getLong(1), r.getInt(2)) ->
          (BigDecimal(r.getDecimal(3)), r.getLong(4))).toMap
      books = (0 until nSub).map { j =>
        books(j).map { case (id, cv) =>
          if (!byKey.contains((j, id, 0))) id -> cv
          // Per-position getOrElse: a ragged corpus row (shorter than the
          // centroid) leaves tail positions memberless — keep the previous
          // component there instead of crashing the driver rebuild.
          else id -> cv.indices.map { p =>
            byKey.get((j, id, p)).fold(cv(p)) { case (s, n) =>
              (s.toDouble / KmeansScale) / n.toDouble
            } // BigDecimal.toDouble: deterministic round-to-nearest
          }
        }
      }
    }
    books
  }

  /** Single-subspace Lloyd's loop over a (vec_id, ev) frame — the
    * vector-level centroid book [[kmeansIterate]], the learned-centroid
    * IVF and the index builders share. The caller owns `v`'s persistence.
    */
  private[graft] def iterateBooks(v: DataFrame, k: Int, iters: Int): Book =
    trainKeyedBooks(v.select(col("vec_id"), col("ev").as("s0")),
      IndexedSeq(k), iters).head

  /** `iters` full Lloyd's iterations (assign → deterministic update) from
    * the seed centroids, then the final assignment against the converged
    * centroids — the iterable clustering loop the single assignment step
    * was missing. Every stage is oracle-reproducible: assignment is the
    * literal argmin, the update is integer arithmetic + fixed-order
    * divisions (see [[trainKeyedBooks]]).
    */
  def kmeansIterate(emb: DataFrame, k: Int = 8, iters: Int = 2): DataFrame = {
    Barrier.withCached(
        emb.select(col("vec_id"), asDouble(col("embedding")).as("ev"))) { v =>
      val book = iterateBooks(v, k, iters)
      assignLiteral(v, book)
        .select(col("vec_id"), col("cluster"), Quant.r6(col("d2")).as("dist2"))
        .barrier() // release the vector cache on exit
    }
  }

  /** SemDeDup-style semantic dedup (Abbas et al. 2023): cluster the
    * embeddings (k-means assignment against the deterministic seed
    * centroids), then WITHIN each cluster drop every vector that has a
    * lower-id neighbor with cosine ≥ `threshold`; the surviving rows are
    * the semantic representatives. Output: (vec_id, cluster, dup_of,
    * kept) with `dup_of` = the smallest such neighbor (null when kept).
    *
    * The "lower-id neighbor exists" rule (rather than connected
    * components) is the paper's greedy keep-one-per-duplicate-group
    * shape, deterministic and join-expressible; [[Dedup.dupClusters]] is
    * the transitive alternative when chains matter.
    *
    * Scale design — this is exactly why SemDeDup clusters first: the
    * quadratic pair scan runs per CLUSTER, so cost is Σ|cluster|², not
    * n². `k` is the knob: pick k ≈ n / target-cluster-size (the paper
    * uses tens of thousands of clusters for web-scale corpora). The
    * cluster table is one map-side assignment pass; the pair join
    * shuffles on the cluster id.
    */
  def semanticDedup(emb: DataFrame, k: Int = 16,
      threshold: Double = 0.35): DataFrame = {
    val v = emb.select(col("vec_id"), asDouble(col("embedding")).as("ev"))
    val book = iterateBooks(v, k, 0)
    // One row per vector (vector, cluster, norm) in a SINGLE scan — the
    // cluster is a literal-book argmin projection, so joining it back on
    // vec_id would shuffle the whole corpus just to attach a derivable
    // column (the lshNearDups lesson). Materialized once for both
    // self-join sides.
    val n = v.select(col("vec_id"), col("ev"),
        nearestId(col("ev"), book).as("cluster"),
        norm(col("ev")).as("nrm"))
      .barrier()
    val dups = n.as("l").join(n.as("r"),
        col("l.cluster") === col("r.cluster") &&
          col("l.vec_id") < col("r.vec_id"))
      .withColumn("cos", cosineWithNorms(dot(col("l.ev"), col("r.ev")),
        col("l.nrm"), col("r.nrm")))
      .filter(col("cos") >= threshold)
      .groupBy(col("r.vec_id").as("vec_id"))
      .agg(min(col("l.vec_id")).as("dup_of"))
    n.select(col("vec_id"), col("cluster"))
      .join(dups, Seq("vec_id"), "left")
      .select(col("vec_id"), col("cluster"), col("dup_of"),
        col("dup_of").isNull.as("kept"))
  }

  /** Int8-range scalar quantization: each vector maps to
    * `floor(x · 127 / max|x|)` per component — the symmetric per-vector
    * SQ8 scheme every large ANN index ships (a 4× memory / scan-bandwidth
    * cut; at 100 TB the quantized corpus is what stays hot). floor, not
    * round: floor of an IEEE double is unambiguous in every engine, so
    * the codes are hash-checkable. An all-zero vector (max = 0) quantizes
    * to zeros.
    */
  def sqQuantize(emb: DataFrame): DataFrame = {
    val v = emb.select(col("vec_id"), asDouble(col("embedding")).as("ev"))
    // mx as an attribute before the quantize transform: the interpreted
    // HOF path re-evaluates a lambda's free subexpressions per element
    // (see Dedup.shinglesFromTokens), and mx is itself an array fold.
    val m = v.select(col("vec_id"), col("ev"),
      aggregate(col("ev"), lit(0.0), (a, x) => greatest(a, abs(x))).as("mx"))
    // greatest(·, −127): for a NEGATIVE max-magnitude component,
    // (x·127)/mx can round to just below −127 (the product's rounding
    // error at magnitude 127·mx), and floor would emit −128 — outside the
    // symmetric int8 range the scheme promises. The positive side can
    // only round DOWN to 126, so no upper clamp is needed.
    m.select(col("vec_id"),
      when(col("mx") === 0.0, transform(col("ev"), _ => lit(0)))
        .otherwise(transform(col("ev"),
          x => greatest(floor(x * lit(127.0) / col("mx")), lit(-127L))
            .cast("int"))).as("qv"))
  }

  /** Top-k search over the QUANTIZED corpus. The per-vector scales cancel
    * in the cosine — `x_i ≈ q_i · mx/127`, so
    * `cos ≈ (qa·qb) / (√(qa·qa) · √(qb·qb))` with every dot an INTEGER sum
    * (exact in doubles up to 2^53, hence bit-identical cross-engine) —
    * which is what makes a quantized ANN stage hash-verifiable at all.
    * Same search shape as [[bruteForceTopK]]: broadcast query set, corpus
    * streams map-side, per-query window top-k. Emits the raw integer dot
    * alongside the approximate cosine; the exact path re-ranks survivors
    * when recall demands it.
    */
  def sqTopK(emb: DataFrame, k: Int = 5, numQueries: Int = 10): DataFrame = {
    val withN = sqQuantize(emb)
      .select(col("vec_id"), col("qv").cast("array<double>").as("qd"))
      .select(col("vec_id"), col("qd"), dot(col("qd"), col("qd")).as("qaa"))
    val queries = withN.filter(col("vec_id") < numQueries)
      .select(col("vec_id").as("query_id"), col("qd").as("qa"),
        col("qaa").as("naa"))
    val scored = withN.join(broadcast(queries),
        col("query_id") =!= col("vec_id"))
      .withColumn("qdot", dot(col("qa"), col("qd")))
      // The SHARED zero-norm kernel, not an inline copy (the round-8
      // poisoning happened because this convention lived in two places).
      // Value-identical: sqrt of a non-negative sum of squares is 0 iff
      // the sum is 0, and the otherwise-branch division is the same
      // IEEE expression.
      .withColumn("acos",
        cosineWithNorms(col("qdot"), sqrt(col("naa")), sqrt(col("qaa"))))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("acos").desc, col("vec_id").asc)
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        col("qdot").cast("long").as("qdot"), col("acos"), col("rank"))
  }

  /** Clustering-quality report: per k-means cluster, the majority ground-
    * truth `label`, its count, the cluster size, and the purity share —
    * the standard external evaluation a clustering stage ships with (and
    * the feedback loop for choosing `k` in [[semanticDedup]]). Majority
    * ties break on the smallest label, so the report is deterministic.
    *
    * Scale shape: the only corpus-sized work is the assignment scan; the
    * (cluster, label) count table is k × labels rows, and everything
    * downstream (majority window, totals, purity) runs on that tiny
    * table.
    */
  def clusterPurity(emb: DataFrame, k: Int = 8): DataFrame = {
    val book = iterateBooks(
      emb.select(col("vec_id"), asDouble(col("embedding")).as("ev")), k, 0)
    // Label and cluster ride ONE corpus scan: the assignment is a
    // literal-book argmin projection (exactly kmeansAssign's), so a
    // vec_id join to attach it would shuffle the corpus for a derivable
    // column — contradicting this report's own scale-shape claim.
    val counts = emb
      .select(col("label").cast("long").as("label"),
        nearestId(asDouble(col("embedding")), book).as("cluster"))
      .groupBy(col("cluster"), col("label")).agg(count(lit(1)).as("cnt"))
    val w = Window.partitionBy(col("cluster"))
      // asc_nulls_last pins the tie-break cross-engine: Spark ASC puts
      // NULL labels FIRST while DuckDB puts them LAST, so a null-label
      // group tying for majority would pick different winners per engine.
      .orderBy(col("cnt").desc, col("label").asc_nulls_last)
    val top = counts.withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("cluster"), col("label").as("majority_label"),
        col("cnt").as("majority_cnt"))
    val totals = counts.groupBy(col("cluster"))
      .agg(sum(col("cnt")).as("cluster_size"))
    top.join(totals, Seq("cluster"))
      .select(col("cluster"), col("majority_label"), col("majority_cnt"),
        col("cluster_size"),
        // floor-quantized, NOT round() — the shared Quant.q6 discipline.
        Quant.q6(col("majority_cnt").cast("double") /
          col("cluster_size").cast("double")).as("purity"))
  }

  /** Product-quantization (PQ) ADC scoring — the FAISS-style search (Jégou
    * et al. 2011, "Product Quantization for Nearest Neighbor Search"):
    * split each vector into `m` subvectors, learn a `codes`-entry k-means
    * codebook PER SUBSPACE (the same deterministic fixed-point Lloyd's
    * loop as [[kmeansIterate]]), encode every vector as m small codes,
    * and approximate `d²(q, x) ≈ Σ_j d²(q_j, codebook_j[code_j(x)])` —
    * the asymmetric-distance LUT sum.
    *
    * Determinism: each LUT entry is floor-quantized to integer
    * microunits (`floor(d²·1e6)` — unambiguous on IEEE doubles), so the
    * per-candidate sum over m entries is exact 64-bit integer addition,
    * shuffle-order-free and engine-identical; `adist_us` is that integer.
    *
    * Scale shape (the reason PQ exists): the m codebooks collapse to
    * LITERAL arrays after the (sample-sized in practice) training loop,
    * so ENCODING is one map-only corpus pass — m·codes small dot
    * products per vector, zero shuffles — and the encoded corpus is
    * m·log2(codes) bits per vector (here 4 ints vs 64 floats, a 16×
    * memory cut, the at-rest format a 100 TB ANN tier actually stores).
    * SEARCH precomputes each query's m×codes LUT once (on the query ROW,
    * no join), broadcasts the query set, and scores candidates with m
    * integer array lookups each — no per-pair full-dimension dot. The
    * only exchange in the whole search is the per-query top-k window
    * (WindowGroupLimit, plan-locked). Composes with the IVF cell layout
    * ([[buildIvfIndex]]) for the standard IVF-PQ index.
    */
  /** Per-subspace PQ codebooks via ONE fused deterministic Lloyd's loop
    * ([[trainKeyedBooks]] — all m subspaces per corpus scan), as driver
    * values (m × codes × sub doubles — index-sized), code = position in
    * centroid-id order. `v` must be a (vec_id, ev) frame the caller
    * persists.
    */
  private def trainCodebooks(v: DataFrame, m: Int, codes: Int, iters: Int,
      sub: Int): IndexedSeq[IndexedSeq[Seq[Double]]] = {
    val sliced = v.select(col("vec_id") +: subspaceSliceCols(m, sub): _*)
    trainKeyedBooks(sliced, IndexedSeq.fill(m)(codes), iters).map(_.map(_._2))
  }

  /** The per-subspace slice columns (`s0..s{m-1}` of `ev`) — one
    * definition shared by codebook training and the fused IVF-PQ build so
    * the slicing convention cannot drift between them.
    */
  private def subspaceSliceCols(m: Int, sub: Int): Seq[Column] =
    (0 until m).map(j => slice(col("ev"), j * sub + 1, sub).as(s"s$j"))

  /** (vec_id, ev, s0..s{m-1}) projection — subvector slices materialized
    * as attributes before any HOF consumes them (codegen discipline).
    */
  private def slicedVectors(emb: DataFrame, m: Int, sub: Int): DataFrame =
    emb.select(
      col("vec_id") +: asDouble(col("embedding")).as("ev") +:
        (0 until m).map(j =>
          slice(asDouble(col("embedding")), j * sub + 1, sub).as(s"s$j")): _*)

  /** Map-side PQ encoder for subspace j over a [[slicedVectors]] frame:
    * argmin full d² against the literal codebook, ties to the lower code
    * (array_min over (d², code) structs — the same (d2, centroid_id)
    * order [[nearestStruct]] uses).
    */
  private def pqCodeExpr(books: IndexedSeq[IndexedSeq[Seq[Double]]],
      j: Int): Column = {
    val xs = col(s"s$j")
    val xx = dot(xs, xs)
    array_min(array(books(j).indices.map { c =>
      val cl = typedlit(books(j)(c).toArray)
      struct(((xx + dot(cl, cl)) - lit(2.0) * dot(xs, cl)).as("d2"),
        lit(c).as("code"))
    }: _*))("code")
  }

  /** Query-side LUT row for subspace j: luts[j][c] =
    * floor(d²(q_j, book_j[c])·1e6) as BIGINT — m·codes entries built on
    * the query ROW itself, no join, no shuffle.
    */
  private def pqLutExpr(books: IndexedSeq[IndexedSeq[Seq[Double]]],
      j: Int): Column = {
    val qs = col(s"s$j")
    val qq = dot(qs, qs)
    array(books(j).indices.map { c =>
      val cl = typedlit(books(j)(c).toArray)
      floor(((qq + dot(cl, cl)) - lit(2.0) * dot(qs, cl)) * lit(1e6))
        .cast("long")
    }: _*)
  }

  /** Exact integer ADC sum: m lookups of the candidate's codes in the
    * query's LUT arrays.
    */
  private def adcSum(codes: Column, luts: Column): Column =
    aggregate(zip_with(codes, luts, (c, l) => element_at(l, c + 1)),
      lit(0L), (acc, x) => acc + x)

  /** ADC-scored (query_id, vec_id, adist_us) rows. `use` receives the
    * scored frame and must MATERIALIZE whatever it returns (barrier or
    * collect) before returning: the encoded-corpus table is checkpointed
    * for the scan's lifetime and released when `use` exits.
    *
    * The encode barrier is load-bearing for speed, not just reuse: left
    * lazy, the per-vector argmin subtree (m × codes literal-book dots)
    * rides the scoring join's stream side, and the fused stage measured
    * ~8× the split one at sf0.1 (1.92 s vs 0.23 s + 0.29 s encode) —
    * the encode projection's generated code is pathological inside the
    * join stage. Materializing the (vec_id, m codes) table is also the
    * honest 100 TB shape: the encoded corpus IS the at-rest PQ format
    * (m·log2(codes) bits per vector), exactly what a deployed scan
    * reads instead of re-encoding per query.
    */
  private def pqScored[A](emb: DataFrame, m: Int, codes: Int, iters: Int,
      numQueries: Int)(use: DataFrame => A): A = {
    val (books, sub) = Barrier.withCached(
        emb.select(col("vec_id"), asDouble(col("embedding")).as("ev"))) { v =>
      val dims = v.select(size(col("ev"))).head().getInt(0)
      require(dims % m == 0, s"dims=$dims not divisible by m=$m subspaces")
      (trainCodebooks(v, m, codes, iters, dims / m), dims / m)
    }

    val sliced = slicedVectors(emb, m, sub)
    val encoded = sliced.select(col("vec_id"),
      array((0 until m).map(j => pqCodeExpr(books, j)): _*).as("codes"))
      .barrier()
    try {
      val queries = sliced.filter(col("vec_id") < numQueries)
        .select(col("vec_id").as("query_id"),
          array((0 until m).map(j => pqLutExpr(books, j)): _*).as("luts"))
      use(adcScoreJoin(encoded, queries))
    } finally Barrier.release(encoded)
  }

  /** The ADC scoring join over an (vec_id, codes) encoded table and a
    * (query_id, luts) query table — factored so the plan lock can
    * inspect the serve shape the encode barrier otherwise hides (the
    * kmeansSearchPlan / pqRerankTail discipline).
    */
  private[graft] def adcScoreJoin(encoded: DataFrame,
      queries: DataFrame): DataFrame =
    encoded.join(broadcast(queries), col("query_id") =!= col("vec_id"))
      .withColumn("adist_us", adcSum(col("codes"), col("luts")))
      .select(col("query_id"), col("vec_id"), col("adist_us"))

  /** [[pqTopK]]'s per-query rank tail (lazy) — shared with the plan lock. */
  private[graft] def pqTopKTail(scored: DataFrame, k: Int): DataFrame = {
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("adist_us").asc, col("vec_id").asc)
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        col("adist_us"), col("rank"))
  }

  /** Per-query PQ top-k over the ADC-scored table (see [[pqScored]] —
    * that is where the codebook training / encoding / LUT design lives).
    */
  def pqTopK(emb: DataFrame, m: Int = 4, codes: Int = 8, iters: Int = 2,
      k: Int = 5, numQueries: Int = 10): DataFrame =
    pqScored(emb, m, codes, iters, numQueries) { scored =>
      // Eager (numQueries × k rows — tiny): the encode barrier releases
      // when this scope exits, so the result must already be
      // materialized (pqScored's `use` contract).
      pqTopKTail(scored, k).barrier()
    }

  /** PQ recall@k vs the exact brute-force top-k — the accuracy evidence
    * the quantized tier ships with (the same pattern as [[ivfRecall]]:
    * never deploy an approximation without its measured recall). Two
    * tiers, both denominated on what brute force actually returned:
    *  - `recall_pq`: rank purely by the ADC sum (what a code-only scan
    *    achieves);
    *  - `recall_rerank`: the standard PQ deployment — take the top
    *    `candidates` ADC candidates, re-rank THOSE by exact cosine, keep
    *    k. The exact pass touches `candidates` vectors per query instead
    *    of the corpus, which is the whole point: compression prunes, a
    *    bounded exact pass restores accuracy.
    *
    * Audit-scale by the same argument as [[ivfRecall]]: both sides score
    * numQueries × corpus, so numQueries stays a fixed audit sample.
    */
  def pqRecall(emb: DataFrame, m: Int = 4, codes: Int = 8, iters: Int = 2,
      k: Int = 5, numQueries: Int = 10, candidates: Int = 50): DataFrame = {
    require(numQueries <= 1000,
      s"pqRecall scores numQueries x corpus rows twice; numQueries=" +
        s"$numQueries exceeds the 1000-query audit bound")
    // The rerank tier cuts at `candidates` and the pure tier at k inside
    // that cut — candidates < k would silently understate both recalls.
    require(candidates >= k,
      s"pqRecall reranks the top $candidates ADC candidates but k=$k " +
        "was requested — raise candidates (or lower k)")
    // The exact (brute-force) leg and the PQ train/encode/score leg are
    // independent until the hit joins — materialize the exact leg on its
    // own driver thread so its jobs back-fill executors while this
    // thread drives the serial Lloyd's training chain (guide §2.6, the
    // minhash_recall / curation-gate discipline). Job descriptions are
    // thread-local; the pool always shuts down (a still-running leg
    // finishes its one task and the thread exits).
    import scala.concurrent.{Await, ExecutionContext, Future}
    import scala.concurrent.duration.Duration
    val pool = java.util.concurrent.Executors.newFixedThreadPool(1)
    implicit val ec: ExecutionContext =
      ExecutionContext.fromExecutorService(pool)
    val spark = emb.sparkSession
    val fBf = Future {
      spark.sparkContext.setJobDescription("pqRecall: exact leg")
      try bruteForceTopK(emb, k, numQueries)
        .select(col("query_id"), col("neighbor_id"))
        .barrier() // numQueries × k rows, feeds 3 branches
      finally spark.sparkContext.setJobDescription(null)
    }
    // numQueries × corpus ADC rows, RANKED ONCE, feed the pure tier AND
    // the rerank candidate cut — the checkpoint sits above the window so
    // neither branch re-sorts the scored table.
    val wAdc = Window.partitionBy(col("query_id"))
      .orderBy(col("adist_us").asc, col("vec_id").asc)
    // Bounded materialization: only rows with rk <= candidates feed any
    // branch (pure tier uses rk <= k, rerank uses rk <= candidates), so
    // the filter sits BELOW the checkpoint — the window still ranks the
    // full scored stream, but what materializes is numQueries ×
    // candidates rows, not numQueries × corpus. The ranked barrier
    // materializes INSIDE pqScored's scope (its `use` contract — the
    // encode barrier releases on exit).
    val (ranked, bf) = try {
      val r = pqScored(emb, m, codes, iters, numQueries) { scored =>
        scored.withColumn("rk", row_number().over(wAdc))
          .filter(col("rk") <= candidates)
          .barrier()
      }
      // A failed exact leg must not strand the ranked barrier either.
      val b = try Await.result(fBf, Duration.Inf) catch {
        case t: Throwable => Barrier.release(r); throw t
      }
      (r, b)
    } catch {
      case t: Throwable =>
        // A failed leg must not abandon the exact one: await it, release
        // its barrier, and keep its own failure as suppressed.
        scala.util.Try(Await.result(fBf, Duration.Inf)) match {
          case scala.util.Success(b) => Barrier.release(b)
          case scala.util.Failure(e) => if (e ne t) t.addSuppressed(e)
        }
        throw t
    } finally pool.shutdown()
    val pq = ranked.filter(col("rk") <= k)
      .select(col("query_id"), col("vec_id").as("neighbor_id"))
    val rerank = pqRerankTail(ranked, emb, numQueries, k, candidates)
    val bfn = bf.groupBy(col("query_id")).agg(count(lit(1)).as("bf_n"))
    def hitsOf(df: DataFrame, name: String): DataFrame =
      bf.join(df, Seq("query_id", "neighbor_id"))
        .groupBy(col("query_id")).agg(count(lit(1)).as(name))
    def rec(c: String): Column =
      Quant.r6(coalesce(col(c), lit(0L)).cast("double") /
        col("bf_n").cast("double"))
    bfn.join(hitsOf(pq, "hits_pq"), Seq("query_id"), "left")
      .join(hitsOf(rerank, "hits_rerank"), Seq("query_id"), "left")
      .select(col("query_id"),
        coalesce(col("hits_pq"), lit(0L)).as("hits_pq"),
        coalesce(col("hits_rerank"), lit(0L)).as("hits_rerank"),
        rec("hits_pq").as("recall_pq"),
        rec("hits_rerank").as("recall_rerank"))
  }

  /** The exact-rerank stage of [[pqRecall]] as a plan builder: the
    * bounded candidate set (candidates × numQueries rows) BROADCASTS into
    * the corpus vector scan, queries broadcast on top, and the per-query
    * cosine top-k prunes with WindowGroupLimit — the candidate join must
    * never become a shuffled join (plan-locked; factored out because the
    * eager checkpoint in pqRecall hides this tail from plan inspection).
    */
  private[graft] def pqRerankTail(ranked: DataFrame, emb: DataFrame,
      numQueries: Int, k: Int, candidates: Int): DataFrame = {
    val v = emb.select(col("vec_id"), asDouble(col("embedding")).as("ev"))
      .withColumn("nrm", norm(col("ev")))
    val qv = v.filter(col("vec_id") < numQueries)
      .select(col("vec_id").as("query_id"), col("ev").as("qev"),
        col("nrm").as("qn"))
    val cand = ranked.filter(col("rk") <= candidates)
      .select(col("query_id"), col("vec_id"))
    topkByCos(
      v.join(broadcast(cand), Seq("vec_id"))
        .join(broadcast(qv), Seq("query_id"))
        .withColumn("cos", cosineWithNorms(dot(col("qev"), col("ev")),
          col("qn"), col("nrm"))), k)
      .select(col("query_id"), col("neighbor_id"))
  }

  /** Exact near-dup pairs over all pairs (the correctness baseline the LSH
    * path approximates; quadratic — VERIFICATION-SCALE ONLY, see
    * SparkEntry.verificationScaleOnly; the scale path is [[lshNearDups]]).
    */
  def bruteForceNearDups(emb: DataFrame, threshold: Double = 0.9): DataFrame = {
    val v = emb.select(col("vec_id"), asDouble(col("embedding")).as("ev"))
      .withColumn("nrm", norm(col("ev")))
      .barrier() // norms once, not once per join side
    v.as("l").join(v.as("r"), col("l.vec_id") < col("r.vec_id"))
      .withColumn("cos",
        cosineWithNorms(dot(col("l.ev"), col("r.ev")), col("l.nrm"), col("r.nrm")))
      .filter(col("cos") >= threshold)
      .select(col("l.vec_id").as("vec_a"), col("r.vec_id").as("vec_b"), col("cos"))
  }
}
