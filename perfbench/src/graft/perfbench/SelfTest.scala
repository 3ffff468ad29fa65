package graft.perfbench

/** Self-tests of the benchmark itself (no Spark): generator determinism
  * and planted ground truth, the percentile helper, failure accounting,
  * the result line, and that every output check fails on a tampered
  * output. Run with `python3 perfbench/run.py --selftest`.
  */
object SelfTest {

  private var n = 0
  private def check(what: String)(cond: => Boolean): Unit = {
    n += 1
    if (!cond) throw new AssertionError(s"selftest failed: $what")
  }

  def run(): String = {
    n = 0
    generators(); percentiles(); accounting(); tampering()
    s"""{"selftest": "ok", "checks": $n}"""
  }

  private def generators(): Unit = {
    def trend(seed: Long) = { val g = new Gen.TrendEvents(seed); Seq.fill(3000)(g.next()) }
    check("same seed, same events")(trend(11) == trend(11))
    check("another seed, other events")(trend(11) != trend(12))
    val g = new Gen.TrendEvents(5)
    (0 until 20000).foreach(_ => g.next())
    val t = g.truth
    check("trend mix has every kind")(Seq(t.edits, t.news, t.bots, t.anons, t.reverts, t.fixups,
      t.talk, t.otherWiki, t.moves, t.protects, t.deletesOpen, t.deletesGated).forall(_ > 0))
    check("log_params in map, array and string form")(t.logParamForms.forall(_ > 0))

    val c1 = Gen.corpus(3, 2000, 50)
    check("same seed, same corpus")(c1 == Gen.corpus(3, 2000, 50))
    check("another seed, another corpus")(c1.train != Gen.corpus(4, 2000, 50).train)
    check("every plant kind is present")(
      Seq(c1.exactCopies, c1.nearDups, c1.contaminated, c1.lowQuality).forall(_ > 0))
    check("exact copies are exactly the planted ones")(
      c1.train.groupBy(_.text).values.map(_.size - 1).sum == c1.exactCopies)
    check("copies carry larger ids than their originals")(
      c1.train.groupBy(_.text).values.filter(_.size > 1)
        .forall(g => g.map(_.id).min < g.map(_.id).max))

    val base = Gen.corpus(9, 500, 10).train.toIndexedSeq
    val b1 = Gen.ingestBatch(9, 0, base, 100, 1000)
    check("same seed, same ingest batch")(b1 == Gen.ingestBatch(9, 0, base, 100, 1000))
    check("ingest batch has copies and fresh docs")(b1.copies.nonEmpty && b1.fresh.nonEmpty)
    check("ingest ids are consecutive")(b1.docs.map(_.id) == (1000L until 1100L))
  }

  private def percentiles(): Unit = {
    val xs = (1 to 100).map(_.toDouble)
    check("p50 of 1..100")(Stats.percentile(xs, 50) == 50.0)
    check("p90 of 1..100")(Stats.percentile(xs, 90) == 90.0)
    check("p100 is the max")(Stats.percentile(xs, 100) == 100.0)
    check("percentile ignores order")(Stats.percentile(xs.reverse, 99) == 99.0)
    check("ten beyond p90 of 100")(Stats.beyond(100, 90) == 10)
    check("highest supported at 100 samples")(Stats.highestSupported(100) == Some(90.0))
    check("highest supported at 1000 samples")(Stats.highestSupported(1000) == Some(99.0))
    check("highest supported at 10 samples")(Stats.highestSupported(10).isEmpty)
    check("an unsupported tail is refused")(
      scala.util.Try(Stats.supported(xs.take(99), 90, "x")).isFailure)
    check("a supported tail is returned")(Stats.supported(xs, 90, "x") == 90.0)
  }

  private def accounting(): Unit = {
    val t = new Tally
    t.ok(90); t.fail(10)
    check("attempted counts both")(t.attempted == 100)
    check("failed counts failures")(t.failed == 10)
    check("an empty tally has no failures")(new Tally().failed == 0L)
    val line = Result(correct = true, 100, 10, Seq(("a_ms", 1.25, "ms"))).json
    check("result line shape")(line ==
      """{"correct": true, "attempted": 100, "failed": 10, "metrics": {"a_ms": {"value": 1.25, "unit": "ms"}}}""")
    check("a NaN metric is refused")(
      scala.util.Try(Result(true, 1, 0, Seq(("x", Double.NaN, "ms"))).json).isFailure)
  }

  private def tampering(): Unit = {
    val mbs = Seq((0L, 4L, 4L), (4L, 4L, 0L), (4L, 9L, 5L))
    check("exactly-once consumption passes")(Checks.exactlyOnceMismatch(mbs, 9, 9).isEmpty)
    check("a duplicated batch fails")(
      Checks.exactlyOnceMismatch(mbs.take(1) ++ mbs, 9, 9).nonEmpty)
    check("a dropped batch fails")(Checks.exactlyOnceMismatch(mbs.drop(1), 9, 9).nonEmpty)
    check("a short committed offset fails")(Checks.exactlyOnceMismatch(mbs.take(2), 9, 9).nonEmpty)
    check("rows that disagree with the offsets fail")(
      Checks.exactlyOnceMismatch(mbs.updated(2, (4L, 9L, 6L)), 9, 9).nonEmpty)
    check("a log that lost a line fails")(Checks.exactlyOnceMismatch(mbs, 9, 8).nonEmpty)

    val s = Checks.PageSummary(3, 1, 0, 40, isNew = false, 1, 0, 10L, 20L, Set("A"), Set("1.2.3.4"))
    val good = Map("P" -> s, "Q" -> s.copy(edits = 1))
    check("equal state passes")(Checks.stateMismatch(good, good).isEmpty)
    check("tampered edit count fails")(
      Checks.stateMismatch(good.updated("P", s.copy(edits = 4)), good).nonEmpty)
    check("a lost page fails")(Checks.stateMismatch(good - "Q", good).nonEmpty)
    check("tampered contributor fails")(
      Checks.stateMismatch(good.updated("P", s.copy(contributors = Set("B"))), good).nonEmpty)

    val verdicts = Map(1L -> true, 2L -> false, 3L -> true)
    check("exact verdicts pass")(Checks.exactMismatch(verdicts, Set(1L, 2L, 3L), Set(2L)).isEmpty)
    check("an unflagged copy fails")(
      Checks.exactMismatch(verdicts.updated(2L, true), Set(1L, 2L, 3L), Set(2L)).nonEmpty)
    check("a flagged fresh doc fails")(
      Checks.exactMismatch(verdicts.updated(1L, false), Set(1L, 2L, 3L), Set(2L)).nonEmpty)

    val pairs = Seq((1L, 2L, 0.75), (1L, 3L, 0.5))
    check("equal serve passes")(Checks.sameRows("p", pairs, pairs.reverse).isEmpty)
    check("tampered serve fails")(Checks.sameRows("p", pairs.updated(0, (1L, 2L, 0.7)), pairs).nonEmpty)
    check("a dropped pair fails")(Checks.sameRows("p", pairs.take(1), pairs).nonEmpty)

    val g = Checks.Gates(100, 3, 5, 6, 2, 50, 40)
    check("curation gates pass")(Checks.curationMismatch(g, 5).isEmpty)
    check("wrong exact-dup count fails")(Checks.curationMismatch(g.copy(exact = 4), 5).nonEmpty)
    check("an idle gate fails")(Checks.curationMismatch(g.copy(contaminated = 0), 5).nonEmpty)
    check("keeping nothing fails")(Checks.curationMismatch(g.copy(kept = 0), 5).nonEmpty)
  }
}
