package graft.sources.sse

import java.util

import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.{Batch, InputPartition, PartitionReader, PartitionReaderFactory, Scan, ScanBuilder}
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset, SupportsTriggerAvailableNow}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.sources.DataSourceRegister
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

/** DSv2 micro-batch source for a server-sent-events feed of recentchange
  * JSON messages (reference S1: `newSocket` at index.js:295-305, message
  * dispatch at index.js:311-343, reconnect watchdog at index.js:348-356).
  *
  * Spark-first shape: the source emits raw `(offset, value)` rows — one
  * JSON message per row — and the QUERY decodes with
  * `from_json(value, RecentChange.wireSchema)`, mirroring the reference's
  * `JSON.parse` step but leaving filtering/classification to Catalyst.
  *
  * Transports:
  *  - `file://path` (option `path`): replay a JSONL capture. Offsets are
  *    line numbers. A batch of fewer than [[SseSource.SplitMinLines]]
  *    lines is one partition; a longer one (a backlog drain, a batch
  *    read) is cut at line marks into up to `defaultParallelism` ranges.
  *    Each partition seeks to a recorded line mark and reads its
  *    [start, end) slice on the executor — nothing is buffered on the
  *    driver, so a huge capture streams at scan speed on every core.
  *  - A live SSE client implements the same contract by appending lines
  *    to a growing file (or any append-only log): `latestOffset` then
  *    advances as data lands. The reference's 5-minute reconnect watchdog
  *    belongs to that writer process; Spark's restart-from-checkpoint
  *    supplies the recovery half.
  *
  * Registered as format `"graft-sse"` via DataSourceRegister.
  */
class SseSourceProvider extends TableProvider with DataSourceRegister {
  override def shortName(): String = "graft-sse"

  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    SseSource.schema

  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: util.Map[String, String]): Table = {
    // DSv2 options are case-INSENSITIVE by convention (inferSchema
    // already receives a CaseInsensitiveStringMap); getTable gets the
    // raw case-preserving map, so a user's .option("Path", ...) must be
    // normalized here, not rejected.
    val opts = new CaseInsensitiveStringMap(properties)
    val path = opts.get("path")
    require(path != null && path.nonEmpty,
      "graft-sse requires .option(\"path\", <jsonl log>)")
    val staleMs = Option(opts.get("stalenessWarnMs")).map(_.toLong)
      .getOrElse(SseMicroBatchStream.DefaultStalenessWarnMs)
    new SseTable(path, staleMs)
  }
}

object SseSource {
  val schema: StructType = StructType(Seq(
    StructField("offset", LongType, nullable = false),
    StructField("value", StringType, nullable = true)))

  /** The line counter records a line mark (the byte position where a
    * line begins) every `Stride` lines, so a reader can seek near any line
    * and skip fewer than `Stride` lines to reach it.
    */
  private[sse] val Stride: Int = 1024

  /** A range of fewer lines is planned as one partition, so live
    * micro-batches (a second of the feed, 500-1,000 lines) stay one task:
    * a prototype that split 1,000-line batches read the benchmark's
    * `latency_p50_ms` 7% higher on `trend_live` (4 cores).
    */
  private[sse] val SplitMinLines: Long = 4L * Stride
}

/** Byte/line primitives shared by the offset counter and the partition
  * reader — ONE definition, so the two sides can never disagree on seek
  * or line-splitting semantics (their agreement is what makes a byte
  * position a valid line boundary).
  */
private[sse] object SseIo {

  /** Skip exactly `bytes` from the stream head, failing LOUDLY on a
    * short skip: the old treat-`<=0`-as-done loop silently continued
    * reading from the wrong position — every subsequent line count and
    * byte boundary would be corrupt with no error anywhere.
    */
  def skipFully(in: java.io.FileInputStream, bytes: Long,
      path: String): Unit = {
    var toSkip = bytes
    while (toSkip > 0) {
      val skipped = in.skip(toSkip)
      if (skipped <= 0)
        throw new IllegalStateException(
          s"seek in $path failed: skip returned $skipped with $toSkip " +
            s"of $bytes bytes left — truncated or rotated log")
      toSkip -= skipped
    }
  }

  /** Read one '\n'-terminated line ('\n' consumed, not returned), with
    * one trailing '\r' stripped so CRLF captures read like readLine()'s.
    * Returns the final un-terminated chunk as a line at EOF and null at
    * EOF-with-no-content. Unlike BufferedReader.readLine this NEVER
    * splits on a bare '\r' — the offset counter counts '\n' bytes only,
    * and the two sides must split identically.
    */
  /** Chunk buffer size for [[readLineLf]]; callers on a hot loop pass a
    * reusable buffer of this size instead of paying a fresh 4 KiB char
    * allocation PER LINE (terabytes of transient garbage over a
    * multi-billion-line scan).
    */
  val LineBufChars: Int = 4096

  def newLineBuf(): Array[Char] = new Array[Char](LineBufChars)

  def readLineLf(r: java.io.BufferedReader,
      buf: Array[Char] = newLineBuf()): String = {
    // Chunked mark/read/reset scan, not per-char read(): BufferedReader
    // takes its lock per call, so one-char-at-a-time paid a monitor
    // acquisition PER BYTE of the capture log — a material slowdown on
    // large logs scanned by the partition reader. The chunk is re-read
    // after reset via skip(), which drains the reader's own buffer (the
    // marked chars are guaranteed buffered: readAheadLimit covers the
    // whole read).
    val sb = new java.lang.StringBuilder()
    var sawAny = false
    var done = false
    while (!done) {
      r.mark(buf.length + 1)
      val n = r.read(buf, 0, buf.length)
      if (n < 0) {
        if (!sawAny) return null // EOF with no content at all
        done = true
      } else {
        sawAny = true
        var nl = -1
        var i = 0
        while (i < n && nl < 0) {
          if (buf(i) == '\n') nl = i
          i += 1
        }
        if (nl >= 0) {
          sb.append(buf, 0, nl)
          r.reset()
          var toSkip = (nl + 1).toLong
          while (toSkip > 0) {
            val sk = r.skip(toSkip)
            if (sk <= 0)
              throw new IllegalStateException(
                s"readLineLf: skip of buffered chars returned $sk")
            toSkip -= sk
          }
          done = true
        } else sb.append(buf, 0, n) // no newline in this chunk: keep going
      }
    }
    if (sb.length > 0 && sb.charAt(sb.length - 1) == '\r')
      sb.setLength(sb.length - 1)
    sb.toString
  }
}

/** Incremental newline counter over an append-only log: each call scans
  * ONLY the bytes appended since the last call (byte-position tracking), so
  * `latestOffset` is O(new data) per trigger instead of O(file) — the
  * whole-log rescan was a driver-side scan per trigger that grows without
  * bound on a long-lived stream.
  *
  * Only '\n'-TERMINATED lines are counted. Offsets are line counts and a
  * consumed offset is never re-read, so admitting a torn final line (a
  * writer mid-append) would hand the partition reader a truncated message
  * and then permanently skip the completed one at the next trigger. The
  * paired [[SseClient]] always appends whole '\n'-terminated lines, so a
  * complete capture loses nothing; the final un-terminated chunk of a
  * foreign capture is simply picked up once its newline lands.
  *
  * The scan keeps ONE map of line marks (line number -> byte position
  * where that line begins): line 0, every [[SseSource.Stride]]-th line,
  * and every count returned as an offset. [[ranges]] plans readers from
  * it: each partition seeks to the mark at or below its first line. After
  * a restart the first scan covers the whole log, so a checkpointed
  * offset this counter never returned still seeks to within one stride.
  *
  * Rotation/truncation is NOT supported and fails LOUDLY: a shrunken
  * file rescans from the start, but Spark's committed offsets cannot
  * rewind — silently returning a smaller count would stall the stream
  * on empty batches and then, once the replacement file regrew past the
  * old count, permanently skip its first `committed` lines as
  * already-consumed. A rescan that lands below any count this counter
  * has already RETURNED therefore throws (the residual blind spot — a
  * same-size-or-larger replacement between two triggers — is
  * undetectable from length alone and stays the operator's contract:
  * the capture log is append-only). The ONE sanctioned shrink is the
  * paired writer's restart recovery: [[SseClient]] truncates a torn
  * un-terminated tail back to the last '\n' before appending — legal
  * here because the scan cursor never advances past the last counted
  * line boundary (torn-tail bytes are scanned but unaccounted, and
  * re-scanned next trigger), so that truncation removes only bytes
  * this counter never accounted for.
  */
private[sse] final class LogTailCounter(path: String) {
  private var scannedBytes = 0L
  private var newlines = 0L
  private var maxReturned = 0L
  // Byte position just after the most recent '\n' — the file position
  // where line number `newlines` begins.
  private var lastLineEnd = 0L
  // Line marks: line number -> byte position where that line begins.
  // Pruned at commit; reset on truncation.
  private val marks = scala.collection.mutable.TreeMap(0L -> 0L)

  def count(): Long = synchronized {
    val f = new java.io.File(path)
    val len = f.length()
    if (len < scannedBytes) {
      // Byte shrinkage IS rotation/truncation. Once any offset has been
      // returned this must fail UNCONDITIONALLY: the old silent
      // reset+rescan only threw when the replacement file's line count
      // regressed too — a replacement with >= maxReturned newlines was
      // silently accepted, serving its lines [maxReturned, ...) while
      // permanently skipping its first maxReturned lines as already-
      // consumed. Before anything was returned (no offsets exist), a
      // fresh rescan is safe.
      if (maxReturned > 0L)
        throw new IllegalStateException(
          s"capture log $path shrank ($len bytes after $scannedBytes " +
            "scanned) with offsets already returned — " +
            "rotation/truncation is not supported on a live stream")
      scannedBytes = 0L; newlines = 0L; lastLineEnd = 0L
      marks.clear(); marks(0L) = 0L
    }
    if (len > scannedBytes) {
      val in = new java.io.FileInputStream(f)
      try {
        SseIo.skipFully(in, scannedBytes, path)
        val buf = new Array[Byte](1 << 16)
        var pos = scannedBytes
        var remaining = len - pos
        while (remaining > 0) {
          val n = in.read(buf, 0, math.min(buf.length.toLong, remaining).toInt)
          if (n <= 0) remaining = 0
          else {
            var i = 0
            while (i < n) {
              if (buf(i) == '\n') {
                newlines += 1
                lastLineEnd = pos + i + 1
                if (newlines % SseSource.Stride == 0) marks(newlines) = lastLineEnd
              }
              i += 1
            }
            pos += n
            remaining -= n
          }
        }
      } finally in.close()
      // Resume point = the last COUNTED line boundary, never the torn
      // tail: bytes past the last '\n' were scanned but stay
      // unaccounted, so the paired SseClient's restart truncation
      // (which cuts exactly to the last '\n' — every byte it removes
      // is un-terminated) can never read as shrinkage here, and a
      // torn-tail rewrite can never desync the line marks. The
      // partial line re-scans next trigger (bounded by one message);
      // the shrink guards below now fire precisely when a counted
      // line was destroyed.
      scannedBytes = lastLineEnd
    }
    if (newlines < maxReturned)
      throw new IllegalStateException(
        s"capture log $path shrank below an already-returned offset " +
          s"($newlines lines after rescan, $maxReturned returned) — " +
          "rotation/truncation is not supported on a live stream")
    maxReturned = newlines
    marks(newlines) = lastLineEnd
    newlines
  }

  /** The mark at or below `line`: (line number, byte position). */
  private def markAtOrBelow(line: Long): (Long, Long) = marks.maxBefore(line + 1).get

  /** Plan [start, end) as reader ranges: one range below
    * [[SseSource.SplitMinLines]] lines, else up to `defaultParallelism`
    * ranges of about equal length cut at line marks. Each range seeks to
    * the mark at or below its first line; a cut is itself a mark, so only
    * the first range can skip lines, fewer than one stride once the log is
    * scanned.
    */
  def ranges(start: Long, end: Long): Seq[SseRange] = synchronized {
    if (end <= start) Nil
    else {
      // A checkpointed end this counter has not scanned to yet (the
      // replay of an uncommitted batch right after a restart): scan first.
      if (newlines < end) count()
      val cuts =
        if (end - start < SseSource.SplitMinLines) Nil
        else {
          val parts = org.apache.spark.sql.SparkSession.active.sparkContext.defaultParallelism
          (1 until parts).map(k => markAtOrBelow(start + (end - start) * k / parts)._1)
            .filter(_ > start).distinct
        }
      val froms = start +: cuts
      froms.zip(cuts :+ end).map { case (from, until) =>
        val (markLine, markByte) = markAtOrBelow(from)
        SseRange(path, from, until, markLine, markByte)
      }
    }
  }

  /** Drop the marks below the one at or below the committed offset
    * (bounded memory).
    */
  def prune(upTo: Long): Unit = synchronized {
    val keep = markAtOrBelow(upTo)._1
    marks.filterInPlace((k, _) => k >= keep)
  }
}

class SseTable(path: String,
    stalenessWarnMs: Long = SseMicroBatchStream.DefaultStalenessWarnMs)
    extends Table with SupportsRead {
  override def name(): String = s"graft-sse($path)"
  override def schema(): StructType = SseSource.schema
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.MICRO_BATCH_READ, TableCapability.BATCH_READ)

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new ScanBuilder {
      override def build(): Scan = new Scan {
        override def readSchema(): StructType = SseSource.schema
        override def toMicroBatchStream(checkpointLocation: String): MicroBatchStream =
          new SseMicroBatchStream(path, stalenessWarnMs)
        override def toBatch: Batch = new Batch {
          override def planInputPartitions(): Array[InputPartition] = {
            val tail = new LogTailCounter(path)
            tail.ranges(0L, tail.count()).toArray
          }
          override def createReaderFactory(): PartitionReaderFactory =
            new SseReaderFactory
        }
      }
    }
}

object SseMicroBatchStream {
  /** Reference watchdog interval: 5 minutes (index.js:348-356). */
  val DefaultStalenessWarnMs: Long = 5 * 60 * 1000L
}

/** Offset = number of messages consumed from the head of the log. */
case class SseOffset(count: Long) extends Offset {
  override def json(): String = count.toString
}

/** Lines [start, end) of the log. The reader seeks to `markByte`, the
  * byte position where line `markLine` (<= start) begins, and skips the
  * `start - markLine` lines before its first row.
  */
case class SseRange(path: String, start: Long, end: Long,
    markLine: Long, markByte: Long) extends InputPartition

class SseMicroBatchStream(path: String,
    stalenessWarnMs: Long = SseMicroBatchStream.DefaultStalenessWarnMs)
    extends MicroBatchStream with SupportsTriggerAvailableNow {

  // AvailableNow pins the end of the log at trigger time so the query
  // drains exactly what existed then terminates.
  @volatile private var availableNowEnd: Option[Long] = None

  private val tail = new LogTailCounter(path)

  // Liveness watchdog state (reference index.js:348-356: if no message for
  // 5 minutes, reboot the socket). Here the socket lives in the writer
  // process, so the source's half is a staleness SIGNAL: warn when the log
  // stops growing — the cue for the writer's supervisor to reconnect.
  @volatile private var lastCount = -1L
  @volatile private var lastGrowthMs = System.currentTimeMillis()
  @volatile private var warnedStale = false

  private def observedCount(): Long = {
    val c = tail.count()
    val now = System.currentTimeMillis()
    if (c != lastCount) {
      lastCount = c; lastGrowthMs = now; warnedStale = false
    } else if (!warnedStale && now - lastGrowthMs > stalenessWarnMs) {
      warnedStale = true
      org.slf4j.LoggerFactory.getLogger(getClass).warn(
        s"graft-sse($path): no new messages for ${now - lastGrowthMs} ms " +
          s"(> $stalenessWarnMs ms) — feed looks stale; the writer process " +
          "should reconnect its SSE socket (reference watchdog semantics)")
    }
    c
  }

  override def prepareForTriggerAvailableNow(): Unit =
    availableNowEnd = Some(observedCount())

  override def initialOffset(): Offset = SseOffset(0L)

  override def latestOffset(): Offset =
    SseOffset(availableNowEnd.getOrElse(observedCount()))

  // SupportsAdmissionControl variant (via SupportsTriggerAvailableNow):
  // no rate limiting — always advance to the pinned/current end.
  override def latestOffset(startOffset: Offset,
      limit: org.apache.spark.sql.connector.read.streaming.ReadLimit): Offset =
    latestOffset()

  override def getDefaultReadLimit
      : org.apache.spark.sql.connector.read.streaming.ReadLimit =
    org.apache.spark.sql.connector.read.streaming.ReadLimit.allAvailable()

  override def deserializeOffset(json: String): Offset = SseOffset(json.toLong)

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] =
    tail.ranges(start.asInstanceOf[SseOffset].count, end.asInstanceOf[SseOffset].count).toArray

  override def createReaderFactory(): PartitionReaderFactory = new SseReaderFactory

  override def commit(end: Offset): Unit =
    tail.prune(end.asInstanceOf[SseOffset].count)
  override def stop(): Unit = ()
}

class SseReaderFactory extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
    val range = partition.asInstanceOf[SseRange]
    new PartitionReader[InternalRow] {
      // Explicit UTF-8 (SSE wire encoding) — never the JVM default charset.
      // SEEK to the planned line mark: the per-batch cost is O(batch), not
      // O(log prefix).
      private val in = new java.io.FileInputStream(range.path)
      locally {
        // Close-on-throw: a failed seek aborts the CONSTRUCTOR, and
        // Spark never calls close() on a reader it never got — the fd
        // would leak once per task attempt.
        try SseIo.skipFully(in, range.markByte, range.path)
        catch { case t: Throwable => in.close(); throw t }
      }
      private val reader = new java.io.BufferedReader(
        new java.io.InputStreamReader(in, java.nio.charset.StandardCharsets.UTF_8))
      // One reusable chunk buffer for the whole partition scan.
      private val lineBuf = SseIo.newLineBuf()
      // Number of the next line to read. Long — an Int would overflow on
      // multi-billion-message logs, which the offsets deliberately allow.
      private var line = range.markLine
      private var current: String = _

      // '\n'-ONLY line splitting (SseIo.readLineLf, never readLine):
      // BufferedReader.readLine also terminates on a bare '\r', but the
      // offset counter counts '\n' bytes — one lone CR inside a foreign
      // capture line would desync every (offset, value) pairing after it
      // and permanently drop the line at the next batch boundary.
      override def next(): Boolean = {
        while (line < range.end) {
          val s = SseIo.readLineLf(reader, lineBuf)
          if (s == null) return false
          line += 1
          if (line > range.start) { current = s; return true }
        }
        false
      }

      override def get(): InternalRow =
        InternalRow(line - 1, UTF8String.fromString(current))

      override def close(): Unit = reader.close()
    }
  }
}
