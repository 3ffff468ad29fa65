package graft

import graft.operators.{DedupIndex, ExactDedupIndex, GenManifest, MediaIndex, Search, Similarity, StatsIndex}

/** The manifest codec shared by the six persisted index families: the
  * family guard, byte-compatibility with the on-disk format, and the
  * damage diagnostics. Manifests are written as literal JSON in the
  * format every earlier writer produced, so these pin the format, not
  * whatever the current committer happens to emit.
  */
class GenManifestSpec extends SparkSpec {

  /** (family, its reader's family-guard message, a manifest of it). */
  private val shapes: Seq[(GenManifest.Family, String, String)] = Seq(
    (ExactDedupIndex.Family, "not an exact-dedup-index manifest",
      """{"hdirs":["hashes","hashes-1"],"tdirs":["tombs-2"],"meta":"meta-1"}"""),
    (StatsIndex.Family, "not a stats-index manifest",
      """{"cdirs":["cells","cells-1"],"hdirs":["hist","hist-1"],"meta":"meta-1"}"""),
    (DedupIndex.Family, "not a dedup-index manifest",
      """{"bdirs":["buckets"],"sdirs":["sets"],"tdirs":["tombs-0000000001"],""" +
        """"meta":"meta","metaVals":{"n":3,"buckets":8}}"""),
    (MediaIndex.Family, "not a media-index manifest",
      """{"bdirs":["blocks","blocks-delta-0000000001"],"meta":"meta",""" +
        """"metaVals":{"frame_bytes":64,"every_nth":1,"max_dist":3,"buckets":8}}"""),
    (Search.Family, "not a lex-index manifest",
      """{"dirs":["postings","postings-1"],"stats":"stats-1",""" +
        """"metaVals":{"n_docs":5,"total_tokens":20,"buckets":4}}"""),
    (Similarity.Family, "not an ANN-index manifest",
      """{"dirs":["cells","delta-0000000001"],"tdirs":["tombs-0000000002"]}"""))

  /** A fresh index dir whose only manifest (generation 1) is `json`. */
  private def committed(json: String): String = {
    val dir = java.nio.file.Files.createTempDirectory("graft_manifest")
    java.nio.file.Files.write(dir.resolve(GenManifest.manifestName(1L)),
      json.getBytes("UTF-8"))
    dir.toString
  }

  private def manifestText(dir: String, seq: Long): String =
    new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(dir, GenManifest.manifestName(seq))), "UTF-8")

  test("family guard: every family's manifest is rejected by each of the other five readers with its curated message (30 ordered pairs)") {
    val wrong = for {
      (writer, _, json) <- shapes
      dir = committed(json)
      (reader, msg, _) <- shapes if reader != writer
      got = scala.util.Try(GenManifest.layout(spark, dir, reader))
      if !got.failed.toOption.exists(e =>
        e.isInstanceOf[IllegalStateException] && e.getMessage.contains(msg))
    } yield s"${writer.name} manifest read as ${reader.name}: $got"
    assert(wrong.isEmpty, wrong.mkString("\n"))
  }

  test("codec: each family reads its own manifest, and committing that layout rewrites the same bytes") {
    for ((fam, _, json) <- shapes) {
      val lay = GenManifest.layout(spark, committed(json), fam)
      assert(lay.seq == 1L && lay.dirs.keySet == fam.dirKeys.map(_._1).toSet,
        s"${fam.name}: $lay")
      val out = java.nio.file.Files.createTempDirectory("graft_manifest_out")
        .toString
      GenManifest.commit(spark, out, fam, lay)
      assert(manifestText(out, 1L) == json, fam.name)
    }
    val exact = GenManifest.layout(spark, committed(shapes.head._3),
      ExactDedupIndex.Family)
    assert(exact("hdirs") == Seq("hashes", "hashes-1") &&
      exact.tDirs == Seq("tombs-2") && exact.meta == "meta-1" &&
      exact.metaVals.isEmpty)
    val lex = GenManifest.layout(spark, committed(shapes(4)._3), Search.Family)
    assert(lex.meta == "stats-1" && lex.metaVals.contains(
      Map("n_docs" -> 5L, "total_tokens" -> 20L, "buckets" -> 4L)))
  }

  test("codec: a dir without a manifest adopts as generation 0; damaged manifests fail with their diagnostics") {
    val empty = java.nio.file.Files.createTempDirectory("graft_manifest_none")
      .toString
    assert(GenManifest.layout(spark, empty, DedupIndex.Family) ==
      GenManifest.Layout(0L, Map("bdirs" -> Seq("buckets"),
        "sdirs" -> Seq("sets")), Nil, Some("meta"), None))
    def failure(fam: GenManifest.Family, json: String): String =
      intercept[IllegalStateException] {
        GenManifest.layout(spark, committed(json), fam)
      }.getMessage
    assert(failure(DedupIndex.Family,
        """{"bdirs":["buckets"],"sdirs":[],"meta":"meta"}""")
      .contains("references no sets dirs"))
    assert(failure(Similarity.Family, """{"dirs":"cells"}""")
      .contains("references no cells dirs"))
    assert(failure(Search.Family,
        """{"dirs":["postings"],"tdirs":[],"stats":"stats"}""")
      .contains("empty/scalar tdirs"))
    // A tombstone list is damage, not a key, for the tombstone-free family.
    assert(failure(StatsIndex.Family,
        """{"cdirs":["cells"],"hdirs":["hist"],"tdirs":["t"],"meta":"meta"}""")
      .contains("not a stats-index manifest"))
  }
}
