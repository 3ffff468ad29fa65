package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.{DedupIndex, ExactDedupIndex, MediaIndex, Multimodal,
  Search, Similarity, StatsIndex}

/** The generational lifecycle every persisted index family runs (build,
  * append, retract, compact, sync), pinned at the two places a shared
  * implementation could drift from the per-family one: the on-disk
  * layout each op leaves behind, and the guards each op refuses with.
  */
class IndexLifecycleSpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"

  private def docs: DataFrame = spark.read.parquet(s"$sf/documents.parquet")
  private def emb: DataFrame = spark.read.parquet(s"$sf/embeddings.parquet")

  private def tmp(name: String): String =
    java.nio.file.Files.createTempDirectory(name).toString

  /** The index root's entries (dot- and underscore-files aside: checksum
    * sidecars and markers) and the newest manifest's bytes, one line each.
    */
  private def snapshot(dir: String, step: String): Seq[String] = {
    val root = new java.io.File(dir)
    val names = root.list().toSeq
      .filterNot(n => n.startsWith(".") || n.startsWith("_")).sorted
    val manifest = names.filter(_.startsWith("manifest-")).lastOption
      .map(m => new String(java.nio.file.Files.readAllBytes(
        new java.io.File(root, m).toPath), "UTF-8"))
      .getOrElse("-")
    Seq(s"$step: ${names.mkString(" ")}", s"$step: $manifest")
  }

  /** Newest committed generation (0 for an index with no manifest). */
  private def seqOf(dir: String): Long =
    new java.io.File(dir).list().toSeq.collect {
      case n if n.startsWith("manifest-") => n.drop(9).take(10).toLong
    }.maxOption.getOrElse(0L)

  /** build(A) → append(B) → retract(T) → compact → sync(A∪B∖T, v2). */
  private def lifecycle(dir: String, build: () => Unit, append: () => Unit,
      retract: () => Unit, compact: () => Unit,
      sync: () => Unit): Seq[String] =
    Seq("build" -> build, "append" -> append, "retract" -> retract,
      "compact" -> compact, "sync" -> sync)
      .flatMap { case (step, op) => op(); snapshot(dir, step) }

  // The corpus split every family's lifecycle runs over.
  private def baseDocs = docs.filter(col("doc_id") % 4 =!= 0)
  private def addDocs = docs.filter(col("doc_id") % 4 === 0)
  /** Takedown: tokenized docs only, so every family holds each of them. */
  private def takedown = docs.filter(col("doc_id") % 9 === 5 &&
    length(col("text")) > 40)
  private def v1Docs = docs.join(takedown, Seq("doc_id"), "left_anti")
  private def v2Docs = v1Docs.filter(col("doc_id") % 31 =!= 10)
    .withColumn("text", when(col("doc_id") % 17 === 11,
      concat(coalesce(col("text"), lit("")), lit(" v2")))
      .otherwise(col("text")))
    .unionByName(v1Docs.filter(col("doc_id") % 20 === 7)
      .withColumn("doc_id", col("doc_id") + lit(1L << 40)))

  private def v1Emb = emb.filter(col("vec_id") % 9 =!= 5)
  private def v2Emb = v1Emb.filter(col("vec_id") % 20 =!= 4)
    .withColumn("embedding", when(col("vec_id") % 13 === 3,
      transform(col("embedding"), x => x * lit(2.0f)))
      .otherwise(col("embedding")))

  private def assertLayouts(family: String, got: Seq[String],
      expected: Seq[String]): Unit =
    assert(got == expected,
      s"$family layouts:\n${got.mkString("\n")}")

  test("layout stability: exact-dedup lifecycle mints the same dirs and manifests") {
    val dir = tmp("graft_life_exact")
    assertLayouts("exact-dedup", lifecycle(dir,
      () => ExactDedupIndex.buildIndex(baseDocs, dir, buckets = 8),
      () => ExactDedupIndex.appendToIndex(addDocs, dir),
      () => ExactDedupIndex.retractFromIndex(takedown, dir),
      () => ExactDedupIndex.compactIndex(spark, dir),
      () => ExactDedupIndex.syncIndex(v1Docs, v2Docs, dir)),
      ExpectedLayouts.exact)
  }

  test("layout stability: dedup lifecycle mints the same dirs and manifests") {
    val dir = tmp("graft_life_dedup")
    assertLayouts("dedup", lifecycle(dir,
      () => DedupIndex.buildDedupIndex(baseDocs, dir, nBuckets = 8),
      () => DedupIndex.appendToDedupIndex(addDocs, dir),
      () => DedupIndex.retractFromDedupIndex(takedown, dir),
      () => DedupIndex.compactDedupIndex(spark, dir),
      () => DedupIndex.syncDedupIndex(v1Docs, v2Docs, dir)),
      ExpectedLayouts.dedup)
  }

  test("layout stability: media lifecycle mints the same dirs and manifests") {
    val dir = tmp("graft_life_media")
    assertLayouts("media", lifecycle(dir,
      () => MediaIndex.buildMediaIndex(Multimodal.withPayload(baseDocs), dir,
        nBuckets = 8),
      () => MediaIndex.appendToMediaIndex(Multimodal.withPayload(addDocs),
        dir),
      () => MediaIndex.retractFromMediaIndex(takedown, dir),
      () => MediaIndex.compactMediaIndex(spark, dir),
      () => MediaIndex.syncMediaIndex(Multimodal.withPayload(v1Docs),
        Multimodal.withPayload(v2Docs), dir)),
      ExpectedLayouts.media)
  }

  test("layout stability: stats lifecycle mints the same dirs and manifests") {
    val dir = tmp("graft_life_stats")
    assertLayouts("stats", lifecycle(dir,
      () => StatsIndex.buildStatsIndex(baseDocs, dir),
      () => StatsIndex.appendToStatsIndex(addDocs, dir),
      () => StatsIndex.retractFromStatsIndex(takedown, dir),
      () => StatsIndex.compactStatsIndex(spark, dir),
      () => StatsIndex.syncStatsIndex(v1Docs, v2Docs, dir)),
      ExpectedLayouts.stats)
  }

  test("layout stability: lex lifecycle mints the same dirs and manifests") {
    val dir = tmp("graft_life_lex")
    assertLayouts("lex", lifecycle(dir,
      () => Search.buildLexIndex(baseDocs, dir, buckets = 8),
      () => Search.appendToLexIndex(addDocs, dir),
      () => Search.retractFromLexIndex(takedown, dir),
      () => Search.compactLexIndex(spark, dir),
      () => Search.syncLexIndex(v1Docs, v2Docs, dir)),
      ExpectedLayouts.lex)
  }

  test("layout stability: IVF and IVF-PQ lifecycles mint the same dirs and manifests") {
    for ((layoutName, build, append, expected) <- Seq(
        ("IVF", (d: String) => Similarity.buildIvfIndex(
            emb.filter(col("vec_id") % 4 =!= 0), d, clusters = 4, iters = 2),
          (d: String) => Similarity.appendToIvfIndex(
            emb.filter(col("vec_id") % 4 === 0), d),
          ExpectedLayouts.ivf),
        ("IVF-PQ", (d: String) => Similarity.buildIvfPqIndex(
            emb.filter(col("vec_id") % 4 =!= 0), d, clusters = 4, iters = 2),
          (d: String) => Similarity.appendToIvfPqIndex(
            emb.filter(col("vec_id") % 4 === 0), d),
          ExpectedLayouts.ivfPq))) {
      val dir = tmp("graft_life_ann")
      assertLayouts(layoutName, lifecycle(dir,
        () => build(dir), () => append(dir),
        () => Similarity.retractFromAnnIndex(
          emb.filter(col("vec_id") % 9 === 5), dir),
        () => Similarity.compactIndex(spark, dir),
        () => Similarity.syncAnnIndex(v1Emb, v2Emb, dir)), expected)
    }
  }

  /** One family's lifecycle ops over a small corpus every row of which
    * the family holds: `takedownAll` names every member, `absent` one
    * takedown the index never held, `junk` a sweepable dir name.
    * `emptied` is the guard a takedown of every member meets: Left = the
    * takedown itself is refused, Right = the compact that follows is.
    */
  private case class Guarded(name: String, build: String => Unit,
      retract: (DataFrame, String) => Unit, compact: String => Unit,
      empty: DataFrame, absent: DataFrame, absentMsg: String,
      takedownAll: String => DataFrame, junk: String,
      emptied: Option[Either[String, String]])

  test("lifecycle guards: empty takedowns and over-retractions commit nothing, a tombstone-free single generation compacts to a sweep, and an emptied index is refused") {
    val small = docs.filter(col("doc_id") < 60 && length(col("text")) > 40)
    val smallEmb = emb.filter(col("vec_id") < 60)
    val noDocs = small.limit(0)
    val absentDoc = small.limit(1)
      .withColumn("doc_id", lit(1L << 50))
      .withColumn("text", lit("never ingested text for the guard row"))
    def idsOf(table: String, key: String)(dir: String): DataFrame =
      spark.read.parquet(s"$dir/$table").select(col(key)).distinct()
    val rows = Seq(
      Guarded("dedup", DedupIndex.buildDedupIndex(small, _, nBuckets = 4),
        DedupIndex.retractFromDedupIndex, DedupIndex.compactDedupIndex(spark, _),
        noDocs, absentDoc, "not currently live", idsOf("sets", "doc_id"),
        "buckets-delta-0000000099", Some(Right("every document is retracted"))),
      Guarded("media", d => MediaIndex.buildMediaIndex(
          Multimodal.withPayload(small), d, nBuckets = 4),
        MediaIndex.retractFromMediaIndex, MediaIndex.compactMediaIndex(spark, _),
        noDocs, absentDoc, "not currently live", idsOf("blocks", "doc_id"),
        "blocks-delta-0000000099", Some(Right("every payload is retracted"))),
      Guarded("exact-dedup", ExactDedupIndex.buildIndex(small, _, buckets = 4),
        ExactDedupIndex.retractFromIndex, ExactDedupIndex.compactIndex(spark, _),
        noDocs, absentDoc, "not current members", _ => small, "hashes-99",
        Some(Right("every hash is retracted"))),
      Guarded("lex", Search.buildLexIndex(small, _, buckets = 4),
        Search.retractFromLexIndex, Search.compactLexIndex(spark, _),
        noDocs, absentDoc, "not currently live", idsOf("postings", "doc_id"),
        "postings-99", Some(Left("would retract every indexed document"))),
      Guarded("ANN", Similarity.buildIvfIndex(smallEmb, _, clusters = 4,
          iters = 2),
        Similarity.retractFromAnnIndex, Similarity.compactIndex(spark, _),
        smallEmb.limit(0), smallEmb.limit(1).withColumn("vec_id", lit(1L << 50)),
        "not currently live", idsOf("cells", "vec_id"),
        "delta-0000000099", Some(Left("covers every live vector"))),
      Guarded("stats", StatsIndex.buildStatsIndex(small, _),
        StatsIndex.retractFromStatsIndex, StatsIndex.compactStatsIndex(spark, _),
        noDocs, small.unionByName(small), "not a subset of the ingested corpus",
        _ => small, "cells-99", None))
    val failures = rows.flatMap { g =>
      val dir = tmp(s"graft_guard_${g.name}")
      g.build(dir)
      val seq0 = seqOf(dir)
      def check(what: String, ok: Boolean): Option[String] =
        if (ok) None else Some(s"${g.name}: $what")
      def refused(what: String, msg: String)(op: => Unit): Option[String] = {
        val before = seqOf(dir)
        scala.util.Try(op).failed.toOption match {
          case Some(e) if e.getMessage.contains(msg) =>
            check(s"$what committed", seqOf(dir) == before)
          case other => Some(s"${g.name}: $what did not refuse with " +
            s"'$msg': $other")
        }
      }
      // Compact first: the index is one tombstone-free generation, so
      // compact only sweeps the planted junk dir.
      new java.io.File(dir, g.junk).mkdirs()
      g.compact(dir)
      Seq(
        check("single-generation compact committed", seqOf(dir) == seq0),
        check("single-generation compact left the junk dir",
          !new java.io.File(dir, g.junk).exists()),
        { g.retract(g.empty, dir)
          check("empty takedown committed", seqOf(dir) == seq0) },
        refused("over-retraction", g.absentMsg)(g.retract(g.absent, dir))
      ).flatten ++ g.emptied.toSeq.flatMap {
        case Left(msg) =>
          refused("takedown of every member", msg)(
            g.retract(g.takedownAll(dir), dir))
        case Right(msg) =>
          g.retract(g.takedownAll(dir), dir)
          refused("compact of an emptied index", msg)(g.compact(dir))
      }
    }
    assert(failures.isEmpty, failures.mkString("\n"))
  }
}

/** The layouts the per-family lifecycle code minted before the
  * lifecycle skeletons were shared — the byte-level format contract.
  */
private object ExpectedLayouts {
  val exact: Seq[String] = Seq(
    """build: hashes meta""",
    """build: -""",
    """append: hashes hashes-1 manifest-0000000001.json meta meta-1""",
    """append: {"hdirs":["hashes","hashes-1"],"meta":"meta-1"}""",
    """retract: hashes hashes-1 manifest-0000000001.json manifest-0000000002.json meta-1 tombs-2""",
    """retract: {"hdirs":["hashes","hashes-1"],"tdirs":["tombs-2"],"meta":"meta-1"}""",
    """compact: hashes hashes-1 hashes-3 manifest-0000000002.json manifest-0000000003.json meta-1 meta-3 tombs-2""",
    """compact: {"hdirs":["hashes-3"],"meta":"meta-3"}""",
    """sync: hashes-3 hashes-5 manifest-0000000004.json manifest-0000000005.json meta-3 meta-5 tombs-4""",
    """sync: {"hdirs":["hashes-3","hashes-5"],"tdirs":["tombs-4"],"meta":"meta-5"}""")
  val dedup: Seq[String] = Seq(
    """build: buckets manifest-0000000000.json meta sets""",
    """build: {"bdirs":["buckets"],"sdirs":["sets"],"meta":"meta","metaVals":{"n":3,"buckets":8}}""",
    """append: buckets buckets-delta-0000000001 manifest-0000000000.json manifest-0000000001.json meta sets sets-delta-0000000001""",
    """append: {"bdirs":["buckets","buckets-delta-0000000001"],"sdirs":["sets","sets-delta-0000000001"],"meta":"meta","metaVals":{"n":3,"buckets":8}}""",
    """retract: buckets buckets-delta-0000000001 manifest-0000000001.json manifest-0000000002.json meta sets sets-delta-0000000001 tombs-0000000002""",
    """retract: {"bdirs":["buckets","buckets-delta-0000000001"],"sdirs":["sets","sets-delta-0000000001"],"tdirs":["tombs-0000000002"],"meta":"meta","metaVals":{"n":3,"buckets":8}}""",
    """compact: buckets buckets-compact-0000000003 buckets-delta-0000000001 manifest-0000000002.json manifest-0000000003.json meta sets sets-compact-0000000003 sets-delta-0000000001 tombs-0000000002""",
    """compact: {"bdirs":["buckets-compact-0000000003"],"sdirs":["sets-compact-0000000003"],"meta":"meta","metaVals":{"n":3,"buckets":8}}""",
    """sync: buckets-compact-0000000003 buckets-delta-0000000005 manifest-0000000004.json manifest-0000000005.json meta sets-compact-0000000003 sets-delta-0000000005 tombs-0000000004""",
    """sync: {"bdirs":["buckets-compact-0000000003","buckets-delta-0000000005"],"sdirs":["sets-compact-0000000003","sets-delta-0000000005"],"tdirs":["tombs-0000000004"],"meta":"meta","metaVals":{"n":3,"buckets":8}}""")
  val media: Seq[String] = Seq(
    """build: blocks manifest-0000000000.json meta""",
    """build: {"bdirs":["blocks"],"meta":"meta","metaVals":{"frame_bytes":16,"every_nth":4,"max_dist":2,"buckets":8}}""",
    """append: blocks blocks-delta-0000000001 manifest-0000000000.json manifest-0000000001.json meta""",
    """append: {"bdirs":["blocks","blocks-delta-0000000001"],"meta":"meta","metaVals":{"frame_bytes":16,"every_nth":4,"max_dist":2,"buckets":8}}""",
    """retract: blocks blocks-delta-0000000001 manifest-0000000001.json manifest-0000000002.json meta tombs-0000000002""",
    """retract: {"bdirs":["blocks","blocks-delta-0000000001"],"tdirs":["tombs-0000000002"],"meta":"meta","metaVals":{"frame_bytes":16,"every_nth":4,"max_dist":2,"buckets":8}}""",
    """compact: blocks blocks-compact-0000000003 blocks-delta-0000000001 manifest-0000000002.json manifest-0000000003.json meta tombs-0000000002""",
    """compact: {"bdirs":["blocks-compact-0000000003"],"meta":"meta","metaVals":{"frame_bytes":16,"every_nth":4,"max_dist":2,"buckets":8}}""",
    """sync: blocks-compact-0000000003 blocks-delta-0000000005 manifest-0000000004.json manifest-0000000005.json meta tombs-0000000004""",
    """sync: {"bdirs":["blocks-compact-0000000003","blocks-delta-0000000005"],"tdirs":["tombs-0000000004"],"meta":"meta","metaVals":{"frame_bytes":16,"every_nth":4,"max_dist":2,"buckets":8}}""")
  val stats: Seq[String] = Seq(
    """build: cells hist meta""",
    """build: -""",
    """append: cells cells-1 hist hist-1 manifest-0000000001.json meta meta-1""",
    """append: {"cdirs":["cells","cells-1"],"hdirs":["hist","hist-1"],"meta":"meta-1"}""",
    """retract: cells cells-1 cells-2 hist hist-1 hist-2 manifest-0000000001.json manifest-0000000002.json meta-1 meta-2""",
    """retract: {"cdirs":["cells","cells-1","cells-2"],"hdirs":["hist","hist-1","hist-2"],"meta":"meta-2"}""",
    """compact: cells cells-1 cells-2 cells-3 hist hist-1 hist-2 hist-3 manifest-0000000002.json manifest-0000000003.json meta-2 meta-3""",
    """compact: {"cdirs":["cells-3"],"hdirs":["hist-3"],"meta":"meta-3"}""",
    """sync: cells-3 cells-4 cells-5 hist-3 hist-4 hist-5 manifest-0000000004.json manifest-0000000005.json meta-4 meta-5""",
    """sync: {"cdirs":["cells-3","cells-4","cells-5"],"hdirs":["hist-3","hist-4","hist-5"],"meta":"meta-5"}""")
  val lex: Seq[String] = Seq(
    """build: manifest-0000000000.json postings stats""",
    """build: {"dirs":["postings"],"stats":"stats","metaVals":{"n_docs":375,"total_tokens":20565,"buckets":8}}""",
    """append: manifest-0000000000.json manifest-0000000001.json postings postings-1 stats stats-1""",
    """append: {"dirs":["postings","postings-1"],"stats":"stats-1","metaVals":{"n_docs":500,"total_tokens":27939,"buckets":8}}""",
    """retract: manifest-0000000001.json manifest-0000000002.json postings postings-1 stats-1 stats-2 tombs-2""",
    """retract: {"dirs":["postings","postings-1"],"tdirs":["tombs-2"],"stats":"stats-2","metaVals":{"n_docs":445,"total_tokens":24962,"buckets":8}}""",
    """compact: manifest-0000000002.json manifest-0000000003.json postings postings-1 postings-3 stats-2 stats-3 tombs-2""",
    """compact: {"dirs":["postings-3"],"stats":"stats-3","metaVals":{"n_docs":445,"total_tokens":24962,"buckets":8}}""",
    """sync: manifest-0000000004.json manifest-0000000005.json postings-3 postings-5 stats-4 stats-5 tombs-4""",
    """sync: {"dirs":["postings-3","postings-5"],"tdirs":["tombs-4"],"stats":"stats-5","metaVals":{"n_docs":454,"total_tokens":25387,"buckets":8}}""")
  val ivf: Seq[String] = Seq(
    """build: cells centroids""",
    """build: -""",
    """append: cells centroids delta-0000000001 manifest-0000000001.json""",
    """append: {"dirs":["cells","delta-0000000001"]}""",
    """retract: cells centroids delta-0000000001 manifest-0000000001.json manifest-0000000002.json tombs-0000000002""",
    """retract: {"dirs":["cells","delta-0000000001"],"tdirs":["tombs-0000000002"]}""",
    """compact: cells centroids compact-0000000003 delta-0000000001 manifest-0000000002.json manifest-0000000003.json tombs-0000000002""",
    """compact: {"dirs":["compact-0000000003"]}""",
    """sync: centroids compact-0000000003 delta-0000000005 manifest-0000000004.json manifest-0000000005.json tombs-0000000004""",
    """sync: {"dirs":["compact-0000000003","delta-0000000005"],"tdirs":["tombs-0000000004"]}""")
  val ivfPq: Seq[String] = Seq(
    """build: cells centroids codebooks""",
    """build: -""",
    """append: cells centroids codebooks delta-0000000001 manifest-0000000001.json""",
    """append: {"dirs":["cells","delta-0000000001"]}""",
    """retract: cells centroids codebooks delta-0000000001 manifest-0000000001.json manifest-0000000002.json tombs-0000000002""",
    """retract: {"dirs":["cells","delta-0000000001"],"tdirs":["tombs-0000000002"]}""",
    """compact: cells centroids codebooks compact-0000000003 delta-0000000001 manifest-0000000002.json manifest-0000000003.json tombs-0000000002""",
    """compact: {"dirs":["compact-0000000003"]}""",
    """sync: centroids codebooks compact-0000000003 delta-0000000005 manifest-0000000004.json manifest-0000000005.json tombs-0000000004""",
    """sync: {"dirs":["compact-0000000003","delta-0000000005"],"tdirs":["tombs-0000000004"]}""")
}
