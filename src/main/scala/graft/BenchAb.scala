package graft

import com.fasterxml.jackson.databind.ObjectMapper
import scala.util.control.NonFatal

/** Same-machine bench A/B — the drift-attribution ritual as one command:
  * benches the prior worktree and HEAD back-to-back (each in its own
  * sbt subprocess, so each runs ITS OWN classes), then prints the
  * movers table over the common query set: common-set totals, per-query
  * deltas sorted by magnitude, and the added/removed query lists. This
  * is how "machine drift" gets attributed with numbers instead of
  * narrative — the manual worktree ritual the build notes record for
  * rounds 14 and 15.
  *
  * LAUNCH OUTSIDE SBT (measured): an sbt parent in `headDir` holds the
  * project lock its own HEAD child needs — `runMain graft.BenchAb`
  * deadlocks the run against itself. Invoke the compiled class
  * directly (NB the glob is spelled without a slash-star pair — Scala
  * block comments nest):
  * {{{
  * java -cp target/scala-2.13/classes:/opt/spark/jars/ALL_JARS \
  *   graft.BenchAb /tmp/graft_r15      # ALL_JARS = the star glob
  * }}}
  *
  * Mechanics / hygiene:
  *  - order matches the manual ritual: worktree first, then HEAD
  *    (both suites see the same session-scale machine state; per-query
  *    min-of-2 inside each bench absorbs the residual);
  *  - `SPARK_GRAFT_SCALE_REF=none` for both children (the scaling pass
  *    is irrelevant to an A/B and costs minutes per side) unless the
  *    caller exported an explicit ref;
  *  - each side's `BENCH_DETAIL.json` is copied to `BENCH_AB_old.json`
  *    / `BENCH_AB_new.json` in the HEAD cwd, and HEAD's pre-existing
  *    `BENCH_DETAIL.json` bytes are RESTORED afterwards — a drift check
  *    must not clobber the committed round artifact (the round-15
  *    sf0.001-smoke lesson, automated away).
  */
object BenchAb {

  private def benchIn(dir: java.io.File, tag: String): Unit = {
    System.err.println(s"[bench-ab] running $tag bench in $dir ...")
    val pb = new ProcessBuilder("sbt", "-batch", "runMain graft.Bench")
    pb.directory(dir)
    if (!sys.env.contains("SPARK_GRAFT_SCALE_REF"))
      pb.environment().put("SPARK_GRAFT_SCALE_REF", "none")
    // Child output streams through: the contract line is read from the
    // detail FILE, not stdout, so interleaving is harmless and the
    // operator sees live progress.
    pb.inheritIO()
    val rc = pb.start().waitFor()
    require(rc == 0, s"$tag bench in $dir exited $rc")
  }

  private def readQueries(detail: java.io.File): Map[String, Double] = {
    require(detail.isFile, s"$detail is missing — did the bench fail " +
      "before its detail write?")
    val node = new ObjectMapper().readTree(detail)
    val qs = node.get("queries")
    require(qs != null && qs.isObject,
      s"$detail carries no queries object — not a bench detail file")
    import scala.jdk.CollectionConverters._
    qs.properties().asScala
      .map(e => e.getKey -> e.getValue.asDouble()).toMap
  }

  def main(args: Array[String]): Unit = {
    require(args.nonEmpty,
      "usage: BenchAb <worktreeDir> [headDir=.] — benches both dirs " +
        "back-to-back and prints the common-set movers table")
    val wt = new java.io.File(args(0)).getCanonicalFile
    val head = new java.io.File(if (args.length > 1) args(1) else ".")
      .getCanonicalFile
    require(wt.isDirectory, s"worktree dir $wt does not exist")
    require(head.isDirectory, s"head dir $head does not exist")
    require(wt.getPath != head.getPath,
      "worktree and head are the same directory — nothing to A/B")

    val headDetail = new java.io.File(head, "BENCH_DETAIL.json")
    val wtDetail = new java.io.File(wt, "BENCH_DETAIL.json")
    // Preserve BOTH sides' committed round artifacts BEFORE either
    // child can touch them — each child bench writes into ITS cwd, and
    // an A/B-shaped (scaling-less) detail left behind in either tree
    // would read as that round's measurement. A side with no
    // pre-existing file gets its A/B output DELETED on restore instead.
    def preserve(f: java.io.File): Option[Array[Byte]] =
      if (f.isFile) Some(java.nio.file.Files.readAllBytes(f.toPath))
      else None
    def restore(f: java.io.File, bytes: Option[Array[Byte]]): Unit =
      try bytes match {
        case Some(b) => java.nio.file.Files.write(f.toPath, b)
        case None    => java.nio.file.Files.deleteIfExists(f.toPath)
      } catch { case NonFatal(e) =>
        System.err.println(s"[bench-ab] restore of $f failed: " +
          e.getMessage)
      }
    val preservedHead = preserve(headDetail)
    val preservedWt = preserve(wtDetail)
    try {
      benchIn(wt, "worktree(old)")
      val old = readQueries(new java.io.File(wt, "BENCH_DETAIL.json"))
      java.nio.file.Files.copy(
        new java.io.File(wt, "BENCH_DETAIL.json").toPath,
        new java.io.File(head, "BENCH_AB_old.json").toPath,
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
      benchIn(head, "HEAD(new)")
      val neu = readQueries(headDetail)
      java.nio.file.Files.copy(headDetail.toPath,
        new java.io.File(head, "BENCH_AB_new.json").toPath,
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)

      val common = (old.keySet & neu.keySet).toSeq.sorted
      val oldTotal = common.map(old).sum
      val newTotal = common.map(neu).sum
      def f3(v: Double) =
        String.format(java.util.Locale.ROOT, "%.3f", Double.box(v))
      def f2s(v: Double) =
        String.format(java.util.Locale.ROOT, "%+.2f", Double.box(v))
      println(s"[bench-ab] common set: ${common.size} queries; " +
        s"old ${f3(oldTotal)} s -> new ${f3(newTotal)} s " +
        f"(${(newTotal / math.max(oldTotal, 1e-9) - 1) * 100}%+.1f%%)")
      val movers = common.map(k => (k, old(k), neu(k), neu(k) - old(k)))
        .sortBy { case (_, _, _, d) => -math.abs(d) }
      println("[bench-ab] movers (|delta| >= 0.15 s):")
      movers.takeWhile { case (_, _, _, d) => math.abs(d) >= 0.15 }
        .foreach { case (k, o, n, d) =>
          println(f"  $k%-42s ${f3(o)}%8s -> ${f3(n)}%8s  ${f2s(d)}%7s s")
        }
      val onlyOld = (old.keySet -- neu.keySet).toSeq.sorted
      val onlyNew = (neu.keySet -- old.keySet).toSeq.sorted
      if (onlyOld.nonEmpty)
        println(s"[bench-ab] only in old: ${onlyOld.mkString(", ")}")
      if (onlyNew.nonEmpty) {
        val newCost = onlyNew.map(neu).sum
        println(s"[bench-ab] only in new (${f3(newCost)} s): " +
          onlyNew.mkString(", "))
      }
      println("[bench-ab] detail copies: BENCH_AB_old.json / " +
        "BENCH_AB_new.json (both trees' BENCH_DETAIL.json restored)")
    } finally {
      // Restore BOTH committed artifacts even when a child bench fails.
      restore(headDetail, preservedHead)
      restore(wtDetail, preservedWt)
    }
  }
}
