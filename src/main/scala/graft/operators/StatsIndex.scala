package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.operators.Barrier.BarrierOps

/** Persisted CORPUS-STATISTICS index — incremental maintenance of the
  * algebraic aggregates a curation/mixing stage reads on every run:
  * per-(lang, source) document/token/char totals (the
  * [[Curation.sourceMix]] cells) and the per-(lang, len) token-length
  * histogram (the [[TextAnalysis.lengthQuantiles]] input). Every other
  * persisted family serves PAIR/SEARCH questions; this one serves the
  * "what does the corpus look like now?" question — and at 100 TB that
  * question must not cost a corpus scan per dashboard refresh.
  *
  * Why it can be exact-incremental where the pair indexes need care:
  * every stored value is a COMMUTATIVE INTEGER SUM (counts, token sums,
  * char sums, histogram counts), so per-generation partial aggregates
  * re-aggregate to the union's aggregates exactly — append ≡ rebuild is
  * arithmetic identity, not a hash-family argument. The same argument
  * gives EXACT RETRACTION (takedowns / right-to-be-forgotten): a
  * removal batch is a generation of negated partial sums that the serve
  * cancels against the ingested mass, something no pair index offers
  * without a rebuild; fully-cancelled groups are dropped at serve time
  * and physically purged by compaction. No floats are ever stored;
  * shares/quantiles are derived at serve time from exact integers, so
  * serve-from-index is bit-identical to the batch operator over the
  * (ingested − retracted) corpus (spec-pinned for both serve surfaces).
  *
  * 100 TB shape: a build/append touches the corpus with exactly ONE
  * map-side-combined aggregation over (lang, source, len) — the "micro"
  * table, bounded by languages × sources × distinct lengths, never by
  * corpus size — and derives both stored tables from it. Serves read
  * only the index dirs (tiny by construction) and re-aggregate across
  * generations; the corpus is never touched. Sums stay LongType under
  * ANSI, so a beyond-exabyte overflow fails loudly instead of wrapping
  * (token totals at 100 TB are ~2.5e13 — four orders of magnitude of
  * headroom).
  *
  * Layout under dir/ (generation g appends `cells-g`/`hist-g`/`meta-g`):
  *  - cells/: (lang, source, n_docs, tokens, chars) partial sums;
  *  - hist/:  (lang, len, cnt) token-length histogram partials;
  *  - meta/:  1 row (n_rows) — written LAST as the completion marker
  *    (the lex stats discipline); appends commit the accumulated total
  *    so a serve reads exactly one meta row regardless of history;
  *  - manifest-*.json: the shared [[GenManifest]] protocol (atomic
  *    dot-temp rename, single-writer, one-commit reader grace on sweep).
  *
  * Row-counting contract: corpus statistics count ROWS, not document
  * identities — null `doc_id` and null `text` rows are real corpus mass
  * (toks 0 / chars 0 via the null ≡ empty tokenizer contract) and are
  * counted; null lang/source are legitimate cells (GROUP BY groups
  * NULLs identically in Spark and the oracle). An "empty delta" is a
  * zero-ROW delta, and appending one is a no-op (no generation, no
  * commit).
  */
object StatsIndex {

  /** The manifest schema: `cdirs` + `hdirs` + `meta`, no tombstones
    * (a retraction is a generation of negated sums, not a tombstone). */
  private[graft] val Family = GenManifest.Family("stats",
    Seq("cdirs" -> "cells", "hdirs" -> "hist"), Some("meta"),
    tombstones = false, "cells|hist|meta|(cells|hist|meta)-.*".r)


  private def writeMeta(spark: SparkSession, dir: String, metaDir: String,
      nRows: Long): Unit =
    spark.range(1).select(lit(nRows).as("n_rows"))
      .write.mode("overwrite").parquet(s"$dir/$metaDir")

  /** One corpus scan → the micro-aggregate both stored tables derive
    * from: (lang, source, len) → (n_docs, chars). Bounded by languages ×
    * sources × distinct token-lengths, never by corpus size. Tokenizer
    * and char semantics are EXACTLY the registered batch operators'
    * ([[TextAnalysis.tokenCountWs]] / `coalesce(length(text), 0)`), so
    * the serves below replay [[Curation.sourceMix]]'s cells and
    * [[TextAnalysis.lengthQuantiles]] bit-identically.
    */
  private def microCells(docs: DataFrame): DataFrame =
    docs.select(
        col("lang"), col("source"),
        TextAnalysis.tokenCountWs(col("text")).cast("long").as("len"),
        coalesce(length(col("text")), lit(0)).cast("long").as("chars"))
      .groupBy(col("lang"), col("source"), col("len"))
      .agg(count(lit(1)).as("n_docs"), sum(col("chars")).as("chars"))

  private def cellsOf(micro: DataFrame): DataFrame =
    micro.groupBy(col("lang"), col("source"))
      .agg(sum(col("n_docs")).as("n_docs"),
        // ANSI long multiply/sum — a pathological corpus overflows
        // loudly here, never wraps into a silently-wrong stored total.
        sum(col("len") * col("n_docs")).as("tokens"),
        sum(col("chars")).as("chars"))

  private def histOf(micro: DataFrame): DataFrame =
    micro.groupBy(col("lang"), col("len"))
      .agg(sum(col("n_docs")).as("cnt"))

  /** Row count of a cached micro table (0 for an empty corpus — sum
    * over no rows is NULL, coalesced here so callers never branch on
    * null).
    */
  private def countRows(m: DataFrame): Long =
    m.agg(coalesce(sum(col("n_docs")), lit(0L))).head().getLong(0)

  private def writeTables(m: DataFrame, dir: String, cDir: String,
      hDir: String): Unit = {
    cellsOf(m).write.mode("overwrite").parquet(s"$dir/$cDir")
    histOf(m).write.mode("overwrite").parquet(s"$dir/$hDir")
  }

  /** Write micro table `m` as generation `lay.seq + 1` (cells, hist and
    * an `nRows` meta) and return the layout appending it.
    */
  private def writeGen(m: DataFrame, dir: String, lay: GenManifest.Layout,
      nRows: Long): GenManifest.Layout = {
    val g = lay.seq + 1
    writeTables(m, dir, s"cells-$g", s"hist-$g")
    writeMeta(m.sparkSession, dir, s"meta-$g", nRows)
    lay.appended("cdirs" -> s"cells-$g", "hdirs" -> s"hist-$g")
      .copy(metaDir = Some(s"meta-$g"))
  }

  /** Build the index over a base corpus. ONE materialization (the
    * MediaIndex build rule): the micro aggregate is cached and counted
    * BEFORE the previous index is destroyed, so an empty corpus — or an
    * aggregation failure — can never leave a dir with the good index
    * deleted and nothing (or a meta-only torn build) in its place. Meta
    * is written LAST as the completion marker.
    *
    * Determinism contract (the ExactDedupIndex rule): a cache eviction
    * may re-evaluate the aggregation, so `docs` must re-evaluate to the
    * same rows — true for any source scan; salt or barrier anything else
    * (Skew.withSalt), or the count, cells, and hist could derive from
    * DIFFERENT evaluations of a nondeterministic input.
    */
  def buildStatsIndex(docs: DataFrame, dir: String): Unit = {
    val spark = docs.sparkSession
    Barrier.withCached(microCells(docs)) { m =>
      val n = countRows(m)
      require(n > 0L,
        s"buildStatsIndex at $dir: empty corpus — nothing to index " +
          "(previous index left intact)")
      GenManifest.resetDir(spark, dir)
      writeTables(m, dir, "cells", "hist")
      writeMeta(spark, dir, "meta", n)
    }
  }

  /** Append a delta batch as a new generation of partial sums. Append ≡
    * rebuild EXACTLY: stored values are commutative integer sums and
    * the serves re-aggregate across generations (spec-pinned). An empty
    * (zero-row) delta is a no-op — the row count is taken from the
    * barriered micro aggregate BEFORE any write, so nothing lands on
    * disk and no generation commits. SINGLE-WRITER, like every
    * GenManifest family.
    */
  def appendToStatsIndex(newDocs: DataFrame, dir: String): Unit =
    GenManifest.append(newDocs.sparkSession, dir, Family) { lay =>
      val nBase = readMetaRows(newDocs.sparkSession, dir, lay.meta)
      require(nBase > 0L,
        s"stats index at $dir has an empty base — rebuild with " +
          "buildStatsIndex instead of appending")
      Barrier.withCached(microCells(newDocs)) { m =>
        val nNew = countRows(m)
        Option.when(nNew > 0L)(writeGen(m, dir, lay, nBase + nNew))
      }
    }

  /** Retract previously-ingested rows — the takedown / right-to-be-
    * forgotten path no pair index can offer without a rebuild: a
    * retraction is a generation of NEGATED partial sums, and the serves'
    * re-aggregation cancels it against the ingested mass exactly (the
    * classic incremental-view-maintenance retraction; same commutativity
    * argument as append). Spec-pinned: build(A∪B) then retract(B) serves
    * ≡ build(A) — including a language or cell that empties completely
    * (serves drop zero groups, below).
    *
    * SUBSET CONTRACT: `removedDocs` must be rows (by VALUE — lang,
    * source, text) that were actually ingested and not already
    * retracted. The index stores aggregates, so it cannot verify
    * membership; retracting never-ingested rows drives cells negative —
    * visible in [[indexHealth]]'s `neg_cells`, and served as-is rather
    * than masked. Retracting MORE rows than the index holds fails
    * loudly here; retracting exactly everything leaves an empty index
    * that every serve rejects (rebuild instead). Empty retraction is a
    * no-op. SINGLE-WRITER, like append. It keeps its own code instead of
    * [[GenManifest.retract]]: it writes negated sums, not key tombstones,
    * so there is no key set to barrier and no membership to probe.
    */
  def retractFromStatsIndex(removedDocs: DataFrame, dir: String): Unit = {
    val spark = removedDocs.sparkSession
    val lay = GenManifest.layout(spark, dir, Family)
    val nBase = readMetaRows(spark, dir, lay.meta)
    require(nBase > 0L,
      s"stats index at $dir is empty — nothing to retract from")
    Barrier.withCached(microCells(removedDocs)) { m =>
      val nGone = countRows(m)
      require(nGone <= nBase,
        s"retracting $nGone rows from a $nBase-row index at $dir — the " +
          "retraction is not a subset of the ingested corpus")
      if (nGone == 0L) {
        System.err.println(
          s"[graft] stats-index retraction of an EMPTY batch at $dir " +
            "skipped (nothing written, no commit)")
      } else {
        val neg = m.select(col("lang"), col("source"), col("len"),
          (-col("n_docs")).as("n_docs"), (-col("chars")).as("chars"))
        GenManifest.commit(spark, dir, Family,
          writeGen(neg, dir, lay, nBase - nGone))
      }
    }
  }

  /** INCREMENTAL CORPUS SYNC — the shared [[GenManifest.sync]], the
    * cheapest in the index family because exactness is ARITHMETIC
    * (commutative integer sums — retraction is a negated-sum generation,
    * append a positive one; the serve's re-aggregation nets the v1
    * contribution of every transitioned doc out and the v2 contribution
    * in, no hash-family or liveness argument needed). Serves afterwards
    * equal a [[buildStatsIndex]] over v2 EXACTLY.
    *
    * The diff unit is the full CELL IDENTITY (lang, source, text), not
    * text alone: a source reattribution or language relabel with
    * unchanged text MOVES the doc between cells, so it must read
    * `changed` (retract the v1 row, append the v2 row). Fields coalesce
    * to '' under the null ≡ empty contract and join with a U+0001 unit
    * separator (a field containing that control char could in principle
    * alias — acceptable for control-character-free corpus metadata,
    * documented). The retract leg hands [[retractFromStatsIndex]] the
    * removed + changed ROWS of v1, whose negated sums it writes.
    *
    * Null-id rows are outside the diff (corpusDiff's contract): their
    * v1 contribution stays ingested, so sync ≡ rebuild-on-v2 holds
    * exactly when null-id rows are identical across the snapshots —
    * the same precondition every registered oracle states with its
    * `doc_id IS NULL OR` arm.
    *
    * TORN-SYNC RECOVERY differs here: this family stores aggregates, so
    * it CANNOT detect that a re-run's retract leg was already applied —
    * re-running the whole sync double-retracts, visible only as
    * [[indexHealth]] `neg_cells`, where a key-tombstone family's guard
    * throws instead. Recover by applying the append leg alone:
    * `appendToStatsIndex(v2Docs ⋉ (added ∪ changed ids), dir)` — or
    * rebuild.
    */
  def syncStatsIndex(v1Docs: DataFrame, v2Docs: DataFrame,
      dir: String): Unit =
    GenManifest.sync(v1Docs, v2Docs, md5(concat_ws("\u0001",
        coalesce(col("lang"), lit("")), coalesce(col("source"), lit("")),
        coalesce(col("text"), lit("")))))(
      gone => retractFromStatsIndex(
        v1Docs.join(broadcast(gone), Seq("doc_id"), "left_semi"), dir),
      appendToStatsIndex(_, dir))

  /** COMPACT under the shared [[GenManifest.compact]]: fold every
    * generation back into ONE pair of tables (the partial sums
    * re-aggregate — values identical by commutativity, so
    * serve-after-compact ≡ serve-before exactly). `n_rows` carries over
    * verbatim: unlike the dedup families' distinct counts it was exact
    * all along. The fold is this family's own, not
    * [[GenManifest.foldLive]]: it re-aggregates sums rather than keeping
    * live rows.
    */
  def compactStatsIndex(spark: SparkSession, dir: String): Unit =
    GenManifest.compact(spark, dir, Family) { lay =>
      val g = lay.seq + 1
      // Partial sums fold by the SAME group keys they were stored under —
      // plain re-aggregation, not the micro derivation (cells rows carry
      // tokens already; re-deriving len·n_docs would be meaningless
      // here). Fully-cancelled groups (ingest + retraction netting to
      // zero on EVERY measure) are purged from the folded tables —
      // compaction is where retracted data physically leaves the disk; a
      // group zero on some measures but not all is corruption and is
      // kept visible.
      foldedCells(spark, dir, lay).write.mode("overwrite")
        .parquet(s"$dir/cells-$g")
      foldedHist(spark, dir, lay).write.mode("overwrite")
        .parquet(s"$dir/hist-$g")
      writeMeta(spark, dir, s"meta-$g", readMetaRows(spark, dir, lay.meta))
      lay.compacted("cdirs" -> s"cells-$g", "hdirs" -> s"hist-$g")
        .copy(metaDir = Some(s"meta-$g"))
    }

  /** The (lang, source) partial sums re-aggregated across generations,
    * groups a retraction cancelled to zero on every measure dropped —
    * what compaction writes and [[statsCells]] serves.
    */
  private def foldedCells(spark: SparkSession, dir: String,
      lay: GenManifest.Layout): DataFrame =
    GenManifest.readGenerations(spark, dir, lay("cdirs"))
      .groupBy(col("lang"), col("source"))
      .agg(sum(col("n_docs")).as("n_docs"), sum(col("tokens")).as("tokens"),
        sum(col("chars")).as("chars"))
      .where(col("n_docs") =!= 0L || col("tokens") =!= 0L ||
        col("chars") =!= 0L)

  /** The (lang, len) histogram re-aggregated across generations, zero
    * counts dropped — what compaction writes and [[statsQuantiles]]
    * reads.
    */
  private def foldedHist(spark: SparkSession, dir: String,
      lay: GenManifest.Layout): DataFrame =
    GenManifest.readGenerations(spark, dir, lay("hdirs"))
      .groupBy(col("lang"), col("len")).agg(sum(col("cnt")).as("cnt"))
      .where(col("cnt") =!= 0L)

  private def readMetaRows(spark: SparkSession, dir: String,
      metaDir: String): Long =
    spark.read.parquet(s"$dir/$metaDir").head().getAs[Long]("n_rows")

  /** Serve the per-(lang, source) totals — [[Curation.sourceMix]]'s
    * exact cells over everything ingested MINUS everything retracted,
    * with ZERO corpus scans: the only inputs are the index's own
    * generation tables, re-summed. Groups a retraction cancelled to zero
    * on every measure are dropped (a batch aggregate over the remaining
    * corpus has no such row); a group zero on SOME measures only —
    * impossible under the retraction subset contract — stays visible,
    * like the negative cells `indexHealth` counts.
    */
  def statsCells(spark: SparkSession, dir: String): DataFrame = {
    val lay = GenManifest.layout(spark, dir, Family)
    require(readMetaRows(spark, dir, lay.meta) > 0L,
      s"stats index at $dir is empty")
    foldedCells(spark, dir, lay)
  }

  /** Serve exact per-language token-length quantiles from the histogram
    * at rest — bit-identical to [[TextAnalysis.lengthQuantiles]] over
    * the ingested corpus (the quantile tail is literally the same code
    * over the merged histogram), corpus untouched.
    */
  def statsQuantiles(spark: SparkSession, dir: String,
      qsPpm: Seq[Long] = TextAnalysis.DefaultQuantilesPpm): DataFrame = {
    val lay = GenManifest.layout(spark, dir, Family)
    require(readMetaRows(spark, dir, lay.meta) > 0L,
      s"stats index at $dir is empty")
    // Zero-count rows must go BEFORE the quantile tail: a length whose
    // ingest and retraction cancelled is not merely inert — a language
    // whose EVERY length cancelled would otherwise survive with
    // total = 0, where the rank test `cum·1e6 >= q·0` is vacuously true
    // and the tail would emit quantiles for a corpus-absent language.
    TextAnalysis.quantilesFromHist(foldedHist(spark, dir, lay), qsPpm)
  }

  /** One-row diagnostics: live generation count, stored-table sizes vs
    * the meta total, and `neg_cells` — merged (lang, source) groups with
    * a NEGATIVE document count, the signature of a retraction that was
    * not a subset of the ingested corpus (0 on a healthy index). `n_gens`
    * reports the CELL generation count (the two tables always append in
    * lockstep).
    */
  def indexHealth(spark: SparkSession, dir: String): DataFrame = {
    val lay = GenManifest.layout(spark, dir, Family)
    val (cDirs, hDirs) = (lay("cdirs"), lay("hdirs"))
    val nRows = readMetaRows(spark, dir, lay.meta)
    val c = GenManifest.readGenerations(spark, dir, cDirs)
      .groupBy(col("lang"), col("source"))
      .agg(sum(col("n_docs")).as("nd"))
      .agg(count(when(col("nd") < 0L, 1)).as("neg_cells"))
    val cr = GenManifest.readGenerations(spark, dir, cDirs)
      .agg(count(lit(1)).as("cells_rows"))
    val h = GenManifest.readGenerations(spark, dir, hDirs)
      .agg(count(lit(1)).as("hist_rows"))
    cr.crossJoin(h).crossJoin(c).select(
      lit(cDirs.length.toLong).as("n_gens"),
      col("cells_rows"), col("hist_rows"),
      lit(nRows).as("n_rows"), col("neg_cells"))
  }
}
