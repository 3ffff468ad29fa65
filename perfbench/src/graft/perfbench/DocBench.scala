package graft.perfbench

import java.util.SplittableRandom

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.{Curation, Dedup, DedupIndex, ExactDedupIndex}

/** The document pipeline, measured in traced runs: the curation report
  * and the two-tier dedup index lifecycle.
  */
object DocBench {

  val BaseDocs = 3000
  val BatchDocs = 100
  /** Hash and LSH bucket counts of both index tiers, sized to the corpus. */
  val Buckets = 8
  /** Ingest batches per compaction cycle; each cycle ends with a takedown
    * of `Takedowns` ingested docs and a compaction of both tiers.
    */
  val CycleBatches = 2
  val Takedowns = 2
  val TrainDocs = 2000
  val EvalDocs = 200
  val WarmReports = 1
  val Reports = 3

  def frame(spark: SparkSession, docs: Seq[Gen.Doc]): DataFrame = {
    import spark.implicits._
    docs.map(d => (d.id, d.text, d.lang)).toDF("doc_id", "text", "lang")
  }

  private def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  private def timedS[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e9)
  }

  private def bytesUnder(dir: String): Long = {
    def walk(f: java.io.File): Long =
      if (f.isDirectory) Option(f.listFiles()).getOrElse(Array.empty).map(walk).sum else f.length()
    walk(new java.io.File(dir))
  }

  /** Generation data dirs of an index: every non-hidden subdirectory. */
  private def generations(dir: String): Int =
    Option(new java.io.File(dir).listFiles()).getOrElse(Array.empty)
      .count(f => f.isDirectory && !f.getName.startsWith(".") && !f.getName.startsWith("_"))

  // ---- doc_ingest -----------------------------------------------------------

  /** The two index tiers and the driver's record of what they hold. */
  final class Index(val spark: SparkSession, val seed: Long, val dir: String) {
    val xdx = s"$dir/exact"
    val ddx = s"$dir/near"
    val base: IndexedSeq[Gen.Doc] = {
      val r = new SplittableRandom(seed)
      val w = new Gen.Words(seed)
      (1 to BaseDocs).map(i => Gen.Doc(i.toLong, w.text(r, 70 + r.nextInt(80)), Gen.lang(r)))
    }
    val indexed: mutable.LinkedHashMap[Long, Gen.Doc] = mutable.LinkedHashMap(base.map(d => d.id -> d): _*)
    var batchNo = 0
    var nextId: Long = 1000000L
    var generationsMax = 0
    var compactBytes = 0L
    val mismatches = mutable.ArrayBuffer.empty[String]
    def build(): Unit = {
      ExactDedupIndex.buildIndex(frame(spark, base), xdx, buckets = Buckets)
      DedupIndex.buildDedupIndex(frame(spark, base), ddx, nBuckets = Buckets)
    }
  }

  /** What one served batch needs for the serve ≡ one-shot check. */
  final case class Served(indexedBefore: Seq[Gen.Doc], batch: Gen.IngestBatch,
      verdicts: Seq[(Long, Boolean, Boolean)], survivors: Seq[Gen.Doc],
      pairs: Seq[(Long, Long, Double)])

  /** Serve and absorb one ingest batch; returns (seconds, served). */
  private def ingestBatch(ix: Index): (Double, Served) = {
    val spark = ix.spark
    val b = Gen.ingestBatch(ix.seed, ix.batchNo, ix.base, BatchDocs, ix.nextId)
    ix.batchNo += 1; ix.nextId += BatchDocs
    val before = ix.indexed.values.toSeq
    val t0 = System.nanoTime()
    val delta = frame(spark, b.docs)
    val verdicts = Trace.span("exact.serve")(
      ExactDedupIndex.indexClean(spark, ix.xdx, delta).collect())
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Boolean]("in_base"), r.getAs[Boolean]("keep")))
    val keep = verdicts.collect { case (id, _, true) => id }.toSet
    val survivors = b.docs.filter(d => keep(d.id))
    val survDf = frame(spark, survivors)
    val pairs = Trace.span("near.serve")(DedupIndex.dedupIndexPairs(spark, ix.ddx, survDf).collect())
      .map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b"), r.getAs[Double]("jaccard")))
    Trace.span("exact.append")(ExactDedupIndex.appendToIndex(survDf, ix.xdx))
    Trace.span("near.append")(DedupIndex.appendToDedupIndex(survDf, ix.ddx))
    val secs = (System.nanoTime() - t0) / 1e9
    ix.indexed ++= survivors.map(d => d.id -> d)
    ix.generationsMax = ix.generationsMax max (generations(ix.xdx) + generations(ix.ddx))
    Checks.exactMismatch(verdicts.map(v => v._1 -> v._3).toMap, b.docs.map(_.id).toSet, b.copies)
      .foreach(m => ix.mismatches += s"batch ${ix.batchNo - 1}: $m")
    (secs, Served(before, b, verdicts.toSeq, survivors, pairs.toSeq))
  }

  /** Takedown of ingested docs on both tiers, then compaction of both. */
  private def takedownAndCompact(ix: Index, lastBatch: Served, counters: Option[SparkCounters])
      : Unit = {
    val spark = ix.spark
    val td = lastBatch.survivors.filter(d => lastBatch.batch.fresh.contains(d.id)).take(Takedowns)
    val tdDf = frame(spark, td)
    Trace.span("exact.retract")(ExactDedupIndex.retractFromIndex(tdDf, ix.xdx))
    Trace.span("near.retract")(DedupIndex.retractFromDedupIndex(tdDf, ix.ddx))
    ix.indexed --= td.map(_.id)
    ix.generationsMax = ix.generationsMax max (generations(ix.xdx) + generations(ix.ddx))
    val out0 = counters.map(_.snapshot.output)
    Trace.span("exact.compact")(ExactDedupIndex.compactIndex(spark, ix.xdx))
    Trace.span("near.compact")(DedupIndex.compactDedupIndex(spark, ix.ddx))
    for (c <- counters; o <- out0) ix.compactBytes += c.snapshot.output - o
  }

  private def cycle(ix: Index, batches: Int, counters: Option[SparkCounters])
      : Seq[(Double, Served)] = {
    val out = (0 until batches).map(_ => ingestBatch(ix))
    takedownAndCompact(ix, out.last._2, counters)
    out
  }

  /** Serve ≡ one-shot: `bloomClean` and `minhashNearDups` over the indexed
    * corpus ∪ the batch give exactly what the index serves gave.
    */
  private def oneShotMismatch(spark: SparkSession, s: Served): Option[String] = {
    val base = frame(spark, s.indexedBefore)
    val exact = ExactDedupIndex.bloomClean(base, frame(spark, s.batch.docs)).collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Boolean]("in_base"), r.getAs[Boolean]("keep")))
    val ids = s.survivors.map(_.id).toSet
    val near = Dedup.minhashNearDups(frame(spark, s.indexedBefore ++ s.survivors)).collect()
      .map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b"), r.getAs[Double]("jaccard")))
      .filter(p => ids(p._1) || ids(p._2))
    Checks.sameRows("exact serve vs bloomClean", s.verdicts, exact.toSeq)
      .orElse(Checks.sameRows("near serve vs minhashNearDups", s.pairs, near.toSeq))
  }

  /** The dedup index lifecycle, measured in a traced `trend_live_low` run:
    * both tiers built over a base corpus, one warm-up cycle, then one
    * traced cycle. Returns the index layers' metrics and the first failed
    * output check (planted copies flagged; serve ≡ one-shot).
    */
  def indexLifecycle(ctx: Main.Ctx)
      : (Seq[(String, Double, String)], Option[String]) = {
    val ix = new Index(ctx.spark, ctx.args.seed, ctx.dir("index"))
    ix.build()
    cycle(ix, 1, None)
    ctx.tracing(true)
    ix.generationsMax = 0
    ix.compactBytes = 0L
    val out = cycle(ix, CycleBatches, ctx.counters)
    ctx.tracing(false)
    def p50(n: String) = Trace.p50ms(n) / 1e3
    val metrics = Seq(
      ("exact.serve_s_p50", p50("exact.serve"), "s"),
      ("exact.append_s_p50", p50("exact.append"), "s"),
      ("exact.retract_s", p50("exact.retract"), "s"),
      ("exact.compact_s", p50("exact.compact"), "s"),
      ("near.serve_s_p50", p50("near.serve"), "s"),
      ("near.append_s_p50", p50("near.append"), "s"),
      ("near.retract_s", p50("near.retract"), "s"),
      ("near.compact_s", p50("near.compact"), "s"),
      ("index.batch_s_p50", Stats.median(out.map(_._1)), "s"),
      ("index.generations_max", ix.generationsMax.toDouble, "count"),
      ("index.bytes_on_disk", (bytesUnder(ix.xdx) + bytesUnder(ix.ddx)).toDouble, "bytes"),
      ("compact.bytes_rewritten", ix.compactBytes.toDouble, "bytes"))
    (metrics, ix.mismatches.headOption.orElse(oneShotMismatch(ctx.spark, out.head._2)))
  }

  // ---- doc_curate -----------------------------------------------------------

  private def gates(report: DataFrame): Checks.Gates = {
    def off(c: String) = sum(when(!col(c), 1L).otherwise(0L))
    val r = report.agg(count(lit(1)), off("q_keep"), off("e_keep"), off("c_keep"),
      off("d_keep"), off("s_keep"), sum(when(col("kept"), 1L).otherwise(0L))).head()
    Checks.Gates(r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4),
      r.getLong(5), r.getLong(6))
  }

  /** The curation report, measured in a traced `trend_live` run: a seeded
    * corpus with planted ground truth written as parquet, untimed warm-up
    * reports, then timed reports and the standalone gates. Returns the
    * curation layer's metrics and the first failed output check.
    */
  def curation(ctx: Main.Ctx): (Seq[(String, Double, String)], Option[String]) = {
    val spark = ctx.spark
    val c = Gen.corpus(ctx.args.seed, TrainDocs, EvalDocs)
    val d = ctx.dir("curate")
    frame(spark, c.train).write.parquet(s"$d/train")
    frame(spark, c.eval).write.parquet(s"$d/eval")
    val train = spark.read.parquet(s"$d/train")
    val evalDocs = spark.read.parquet(s"$d/eval")
    (1 to WarmReports).foreach(_ => gates(Curation.curationReport(train, evalDocs)))
    ctx.tracing(true)
    val reports = (1 to Reports).map(_ =>
      timedS(gates(Curation.curationReport(train, evalDocs))))
    val (_, q) = timedS(noop(Curation.gopherQuality(train)))
    val (_, e) = timedS(noop(Dedup.exactGroups(train)))
    val (_, n) = timedS(noop(Dedup.minhashClusters(train)))
    val (_, dc) = timedS(noop(Curation.decontaminate(train, evalDocs)))
    ctx.tracing(false)
    val reportS = Stats.median(reports.map(_._2))
    val g = reports.last._1
    System.err.println(s"[perfbench] curation gates $g; planted copies ${c.exactCopies}, " +
      s"near ${c.nearDups}, contaminated ${c.contaminated}, low quality ${c.lowQuality}")
    (Seq(
      ("curate.report_s", reportS, "s"),
      ("curate.docs_per_s", TrainDocs / reportS, "1/s"),
      ("curate.quality_s", q, "s"), ("curate.exact_s", e, "s"),
      ("curate.neardup_s", n, "s"), ("curate.decontam_s", dc, "s"),
      ("curate.overlap_ratio", reportS / (q + e + n + dc), "ratio")),
      Checks.curationMismatch(g, c.exactCopies).map(m => s"curation: $m"))
  }
}
