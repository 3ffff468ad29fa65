package graft.perfbench

import org.apache.spark.sql.Row

/** Output checks. Each takes collected outputs and returns the first
  * discrepancy it finds, or None; the self-test feeds them tampered
  * outputs to show that they fail.
  */
object Checks {

  /** The fields the keyed stream and the batch aggregation must agree on. */
  final case class PageSummary(edits: Long, anonEdits: Long, reverts: Long, bytes: Long,
      isNew: Boolean, notab: Long, volat: Long, startUs: Long, updatedUs: Long,
      contributors: Set[String], anons: Set[String])

  private def us(t: java.sql.Timestamp): Long =
    Math.floorDiv(t.getTime, 1000L) * 1000000L + t.getNanos / 1000L

  def summarize(rows: Seq[Row]): Map[String, PageSummary] = rows.map { r =>
    r.getAs[String]("id") -> PageSummary(
      r.getAs[Long]("edits"), r.getAs[Long]("anonEdits"), r.getAs[Long]("reverts"),
      r.getAs[Long]("bytesChanged"), r.getAs[Boolean]("isNew"),
      r.getAs[Long]("notabilityFlags"), r.getAs[Long]("volatileFlags"),
      us(r.getAs[java.sql.Timestamp]("start")), us(r.getAs[java.sql.Timestamp]("updated")),
      r.getSeq[String](r.fieldIndex("contributors")).toSet,
      r.getSeq[String](r.fieldIndex("anons")).toSet)
  }.toMap

  def stateMismatch(stream: Map[String, PageSummary],
      batch: Map[String, PageSummary]): Option[String] =
    if (batch.isEmpty) Some("batch aggregation is empty")
    else if (stream.keySet != batch.keySet)
      Some(s"page sets differ: ${(stream.keySet diff batch.keySet).take(3)} only in stream, " +
        s"${(batch.keySet diff stream.keySet).take(3)} only in batch")
    else stream.collectFirst {
      case (id, s) if s != batch(id) => s"page $id: stream $s, batch ${batch(id)}"
    }

  /** Exactly-once consumption of a log of `sent` events: the log holds
    * `logLines` lines, and the micro-batches (start offset, end offset,
    * input rows; in batch order) must tile [0, sent) with no gap or
    * overlap, each batch's rows matching its offset range.
    */
  def exactlyOnceMismatch(batches: Seq[(Long, Long, Long)], sent: Long,
      logLines: Long): Option[String] = {
    val ends = 0L +: batches.map(_._2)
    batches.zip(ends).collectFirst {
      case ((s, e, n), prev) if s != prev || n != e - s =>
        s"batch [$s, $e) with $n rows follows committed offset $prev"
    }.orElse {
      val committed = ends.last
      if (logLines != sent) Some(s"log holds $logLines lines, $sent events sent")
      else if (committed != sent) Some(s"committed offset $committed, $sent events sent")
      else None
    }
  }

  /** Exact-tier verdicts: exactly the planted copies are flagged. */
  def exactMismatch(verdicts: Map[Long, Boolean], offered: Set[Long],
      copies: Set[Long]): Option[String] = {
    val flagged = verdicts.collect { case (id, keep) if !keep => id }.toSet
    if (verdicts.keySet != offered) Some(s"verdicts cover ${verdicts.size} of ${offered.size} docs")
    else if (flagged != copies)
      Some(s"flagged ${flagged.size} docs, planted ${copies.size} copies; " +
        s"missed ${(copies diff flagged).take(3)}, extra ${(flagged diff copies).take(3)}")
    else None
  }

  /** A serve equals its one-shot form (order-free). */
  def sameRows[T](what: String, serve: Seq[T], oneShot: Seq[T]): Option[String] =
    if (serve.toSet != oneShot.toSet || serve.length != oneShot.length)
      Some(s"$what: serve ${serve.length} rows, one-shot ${oneShot.length}; " +
        s"first difference ${(serve.toSet diff oneShot.toSet).headOption
          .orElse((oneShot.toSet diff serve.toSet).headOption)}")
    else None

  /** Curation gate removals per gate, and kept. */
  final case class Gates(docs: Long, quality: Long, exact: Long, near: Long,
      contaminated: Long, sample: Long, kept: Long)

  def curationMismatch(g: Gates, plantedCopies: Long): Option[String] =
    if (g.exact != plantedCopies) Some(s"exact-dup removed ${g.exact}, planted $plantedCopies")
    else if (Seq(g.quality, g.exact, g.near, g.contaminated, g.sample).exists(_ <= 0))
      Some(s"a gate removed nothing: $g")
    else if (g.kept < 1) Some(s"no document kept: $g")
    else None
}
