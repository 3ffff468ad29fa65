package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.model.RecentChange
import graft.sources.EventAdapter

/** DSv2 `graft-sse` source spec: raw JSONL replay (batch + micro-batch),
  * wire-schema decode, and the full trend pipeline over the decoded feed —
  * S1 end-to-end (SURVEY §2.1).
  */
class SseSourceSpec extends SparkSpec {
  import spark.implicits._

  private val wireEvents = Seq(
    """{"title":"Foo","comment":"yo","namespace":0,"user":"Jon","bot":false,"type":"edit","length":{"old":1,"new":2},"wiki":"enwiki","server_name":"en.wikipedia.org","meta":{"dt":"2024-01-01T00:00:00Z"}}""",
    """{"title":"Foo","comment":"reverted","namespace":0,"user":"Rev","bot":false,"type":"edit","length":{"old":2,"new":1},"wiki":"enwiki","server_name":"en.wikipedia.org","meta":{"dt":"2024-01-01T00:01:00Z"}}""",
    """{"title":"Bar","comment":"current event","namespace":0,"user":"Ann","bot":false,"type":"new","length":{"old":0,"new":9},"wiki":"enwiki","server_name":"en.wikipedia.org","meta":{"dt":"2024-01-01T00:02:00Z"}}""",
    """{"title":"Talk","comment":"x","namespace":1,"user":"Jon","bot":false,"type":"edit","length":{"old":0,"new":1},"wiki":"enwiki","server_name":"en.wikipedia.org","meta":{"dt":"2024-01-01T00:03:00Z"}}""")

  private def writeFeed(): String = {
    val f = Files.createTempFile("sse-feed", ".jsonl")
    Files.writeString(f, wireEvents.mkString("\n") + "\n")
    f.toString
  }

  import graft.sources.sse.{SseMicroBatchStream, SseOffset, SseRange, SseReaderFactory}

  private def readRange(r: SseRange): Seq[(Long, String)] = {
    val reader = new SseReaderFactory().createReader(r)
    val out = scala.collection.mutable.ArrayBuffer.empty[(Long, String)]
    try while (reader.next()) {
      val row = reader.get()
      out += ((row.getLong(0), row.getUTF8String(1).toString))
    } finally reader.close()
    out.toSeq
  }

  /** The complete lines of a log as the source must serve them: split on
    * '\n' bytes only, one trailing '\r' stripped, the un-terminated tail
    * left out.
    */
  private def expectedLines(bytes: Array[Byte]): Seq[String] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[String]
    var from = 0
    for (i <- bytes.indices if bytes(i) == '\n') {
      val s = new String(bytes, from, i - from, java.nio.charset.StandardCharsets.UTF_8)
      out += (if (s.endsWith("\r")) s.dropRight(1) else s)
      from = i + 1
    }
    out.toSeq
  }

  /** Byte position where each complete line begins. */
  private def lineStarts(bytes: Array[Byte]): Seq[Long] =
    0L +: bytes.indices.filter(bytes(_) == '\n').map(_ + 1L).dropRight(1)

  test("batch read: one row per message with line offsets") {
    val path = writeFeed()
    val rows = spark.read.format("graft-sse").option("path", path).load()
      .orderBy("offset").collect()
    assert(rows.length == 4)
    assert(rows.map(_.getAs[Long]("offset")).toSeq == Seq(0L, 1L, 2L, 3L))
    assert(rows(0).getAs[String]("value").contains("\"title\":\"Foo\""))
  }

  test("wire decode + trend aggregation over the replayed feed") {
    val path = writeFeed()
    val raw = spark.read.format("graft-sse").option("path", path).load()
    val pages = graft.operators.PageAggregates
      .pageAggregates(EventAdapter.decodeWire(raw))
      .collect().map(r => r.getAs[String]("id") -> r).toMap
    // Talk-namespace event filtered (F1); Foo: 1 edit + 1 revert; Bar: new.
    assert(pages.keySet == Set("Foo", "Bar"))
    assert(pages("Foo").getAs[Long]("edits") == 1L)
    assert(pages("Foo").getAs[Long]("reverts") == 1L)
    assert(pages("Bar").getAs[Boolean]("isNew"))
    assert(pages("Bar").getAs[Long]("notabilityFlags") == 1L)
  }

  test("micro-batch stream: AvailableNow drains the log through the source") {
    val path = writeFeed()
    val q = spark.readStream.format("graft-sse").option("path", path).load()
      .writeStream.format("memory").queryName("sse_raw")
      .trigger(Trigger.AvailableNow()).start()
    try q.awaitTermination(60000) finally q.stop()
    assert(spark.table("sse_raw").count() == 4)
  }

  // --- SSE wire-protocol client (the reference's newSocket half) ---------

  import graft.sources.sse.SseClient

  private def tmpLog(): String = {
    val f = Files.createTempFile("sse-client", ".jsonl")
    Files.delete(f)
    f.toString
  }

  test("micro-batch reader seeks to the planned byte position (no prefix re-scan)") {
    val path = writeFeed()
    val stream = new SseMicroBatchStream(path)
    // Trigger the counter so line-boundary byte positions are recorded.
    val end = stream.latestOffset().asInstanceOf[SseOffset].count
    assert(end == 4L)
    // The planner knows line 4's byte pos (it returned offset 4); a later
    // batch [4, 6) would seek. For [start=returned offset] we can assert
    // through planInputPartitions once more data lands.
    java.nio.file.Files.writeString(java.nio.file.Paths.get(path),
      "tail-a\ntail-b\n", java.nio.file.StandardOpenOption.APPEND)
    val end2 = stream.latestOffset().asInstanceOf[SseOffset].count
    assert(end2 == 6L)
    val parts = stream.planInputPartitions(SseOffset(end), SseOffset(end2))
    assert(parts.length == 1)
    val seekRange = parts(0).asInstanceOf[SseRange]
    assert(seekRange.markLine == end && seekRange.markByte > 0L,
      "planner should supply the start line's byte pos")
    assert(readRange(seekRange) == Seq(4L -> "tail-a", 5L -> "tail-b"))
    // A seek to an earlier mark (here line 0) skips to the same rows.
    assert(readRange(SseRange(path, end, end2, 0L, 0L)) ==
      Seq(4L -> "tail-a", 5L -> "tail-b"))
  }

  test("SSE client: field parsing — comments, event types, multi-line data, id") {
    val log = tmpLog()
    val wire =
      ": keep-alive ping\n" +
      "event: message\n" +
      "id: 42\n" +
      "data: {\"a\":1,\n" +
      "data: \"b\":2}\n" +
      "\n" +
      "event: canary\n" +      // non-message event type: not dispatched
      "data: nope\n" +
      "\n" +
      "data: {\"c\":3}\n" +
      "\n" +
      "data: torn-no-blank-line" // incomplete at EOF: not dispatched
    val client = new SseClient(
      _ => new java.io.ByteArrayInputStream(wire.getBytes("UTF-8")),
      log, watchdogMs = 60000)
    assert(client.run(maxConnects = 1) == 2)
    val lines = Files.readAllLines(java.nio.file.Paths.get(log))
    assert(lines.get(0) == "{\"a\":1, \"b\":2}")
    assert(lines.get(1) == "{\"c\":3}")
    assert(client.currentLastEventId.contains("42"))
  }

  test("SSE client: id-only keepalive advances the reconnect cursor") {
    val log = tmpLog()
    // WHATWG dispatch commits the last-event-ID even when the data buffer
    // is empty — `id: 9\n\n` is a server's cursor-advance keepalive.
    val wire = "data: one\n\n" + "id: 9\n\n"
    val client = new SseClient(
      _ => new java.io.ByteArrayInputStream(wire.getBytes("UTF-8")),
      log, watchdogMs = 60000)
    assert(client.run(maxConnects = 1) == 1)
    assert(client.currentLastEventId.contains("9"))
  }

  test("SSE client: reconnect carries Last-Event-ID (index.js:299)") {
    val log = tmpLog()
    val seen = scala.collection.mutable.ArrayBuffer.empty[Option[String]]
    val streams = Iterator(
      "id: 7\ndata: one\n\n",
      "data: two\n\n")
    val client = new SseClient(last => {
      seen += last
      new java.io.ByteArrayInputStream(streams.next().getBytes("UTF-8"))
    }, log, watchdogMs = 60000, reconnectBackoffMs = 1)
    assert(client.run(maxConnects = 2) == 2)
    assert(seen.toSeq == Seq(None, Some("7")))
    assert(Files.readAllLines(java.nio.file.Paths.get(log)).size() == 2)
  }

  test("SSE client: watchdog reboots a stalled connection (index.js:348-356)") {
    val log = tmpLog()
    // Emits one complete event, then stalls forever; only close() frees it.
    class StallingStream(head: Array[Byte]) extends java.io.InputStream {
      private var i = 0
      private val lock = new Object
      @volatile var closed = false
      override def read(): Int =
        if (i < head.length) { val b = head(i); i += 1; b & 0xff }
        else { awaitClose(); -1 }
      override def read(b: Array[Byte], off: Int, len: Int): Int =
        if (i < head.length) {
          val n = math.min(len, head.length - i)
          System.arraycopy(head, i, b, off, n); i += n; n
        } else { awaitClose(); -1 }
      private def awaitClose(): Unit =
        lock.synchronized { while (!closed) lock.wait(50) }
      override def close(): Unit = {
        closed = true; lock.synchronized(lock.notifyAll())
      }
    }
    val stalled = new StallingStream("data: before-stall\n\n".getBytes("UTF-8"))
    val streams = Iterator[java.io.InputStream](
      stalled,
      new java.io.ByteArrayInputStream("data: after-reboot\n\n".getBytes("UTF-8")))
    val client = new SseClient(_ => streams.next(), log,
      watchdogMs = 300, reconnectBackoffMs = 1)
    assert(client.run(maxConnects = 2) == 2)
    assert(stalled.closed) // the watchdog, not EOF, severed the connection
    val lines = Files.readAllLines(java.nio.file.Paths.get(log))
    assert(lines.get(0) == "before-stall" && lines.get(1) == "after-reboot")
  }

  test("micro-batch counter: byte shrinkage with offsets returned fails loudly even when the replacement has MORE lines") {
    import graft.sources.sse.{SseMicroBatchStream, SseOffset}
    val path = writeFeed() // 4 long JSON lines (~hundreds of bytes)
    val stream = new SseMicroBatchStream(path)
    assert(stream.latestOffset().asInstanceOf[SseOffset].count == 4L)
    // Replace with a SHORTER file holding MORE lines: the old guard only
    // threw when the newline count regressed too — this replacement was
    // silently accepted, serving lines [4, 6) of the new capture while
    // permanently skipping its first 4 lines as already-consumed.
    java.nio.file.Files.writeString(java.nio.file.Paths.get(path),
      "a\nb\nc\nd\ne\nf\n")
    val ex = intercept[IllegalStateException](stream.latestOffset())
    assert(ex.getMessage.contains("shrank"))
  }

  test("micro-batch counter: a paired-writer torn-tail truncation is NOT shrinkage — counting survives the client's restart recovery") {
    import graft.sources.sse.{SseMicroBatchStream, SseOffset}
    val path = java.nio.file.Files
      .createTempFile("graft_sse_torn", ".log").toString
    // Two committed lines + a torn un-terminated tail (writer died
    // mid-append).
    java.nio.file.Files.writeString(java.nio.file.Paths.get(path),
      "{\"a\":1}\n{\"b\":2}\n{\"torn\":")
    val stream = new SseMicroBatchStream(path)
    assert(stream.latestOffset().asInstanceOf[SseOffset].count == 2L)
    // The restarting SseClient truncates to the last '\n' — bytes the
    // counter never accounted for, so this must NOT read as shrinkage.
    java.nio.file.Files.writeString(java.nio.file.Paths.get(path),
      "{\"a\":1}\n{\"b\":2}\n")
    assert(stream.latestOffset().asInstanceOf[SseOffset].count == 2L)
    // The replayed event lands on a clean line and counts.
    java.nio.file.Files.writeString(java.nio.file.Paths.get(path),
      "{\"a\":1}\n{\"b\":2}\n{\"c\":3}\n")
    assert(stream.latestOffset().asInstanceOf[SseOffset].count == 3L)
  }

  test("SSE client: server-directed retry delay paces the reconnect (WHATWG retry field)") {
    val log = tmpLog()
    val streams = Iterator(
      "retry: 400\ndata: one\n\n",
      "data: two\n\n")
    val connectNs = scala.collection.mutable.ArrayBuffer.empty[Long]
    val client = new SseClient(_ => {
      connectNs += System.nanoTime()
      new java.io.ByteArrayInputStream(streams.next().getBytes("UTF-8"))
    }, log, watchdogMs = 60000, reconnectBackoffMs = 1)
    assert(client.run(maxConnects = 2) == 2)
    val gapMs = (connectNs(1) - connectNs(0)) / 1000000L
    assert(gapMs >= 350L,
      s"reconnected after $gapMs ms — the retry: 400 directive was ignored")
  }

  test("SSE client: stop() interrupts a long server-directed retry; the delay is capped") {
    val log = tmpLog()
    // The server directs an hour-long retry; stop() must still take
    // effect promptly (sliced sleep), and the honored delay is capped at
    // MaxRetryDelayMs (an adversarial `retry:` line must not park the
    // client for ~10^15 ms — the cmd-forgery threat model).
    val client = new SseClient(
      _ => new java.io.ByteArrayInputStream(
        "retry: 3600000\ndata: one\n\n".getBytes("UTF-8")),
      log, watchdogMs = 60000)
    val done = new java.util.concurrent.CountDownLatch(1)
    @volatile var written = 0L
    val t = new Thread(() => {
      written = client.run(maxConnects = 5); done.countDown()
    })
    t.start()
    Thread.sleep(400) // let it append + enter the retry sleep
    client.stop()
    assert(done.await(5, java.util.concurrent.TimeUnit.SECONDS),
      "run() must return promptly after stop() despite retry: 3600000")
    assert(written == 1L)
    // The clamp observed THROUGH the client (a constant-folded
    // assertion would keep passing if the math.min regressed): the
    // hour-long directive above was parsed, and the effective delay
    // must read as the cap, not the directive.
    assert(client.currentRetryDelayMs == SseClient.MaxRetryDelayMs,
      s"retry: 3600000 must clamp to the cap, got ${client.currentRetryDelayMs}")
  }

  test("SSE client: a torn tail from a PREVIOUS process is truncated at open, not concatenated onto") {
    val log = tmpLog()
    // A prior writer died mid-line: committed line + torn prefix, no '\n'.
    Files.writeString(java.nio.file.Paths.get(log),
      "{\"committed\":1}\n{\"torn\":")
    val client = new SseClient(
      _ => new java.io.ByteArrayInputStream(
        "data: {\"replayed\":2}\n\n".getBytes("UTF-8")),
      log, watchdogMs = 60000)
    assert(client.run(maxConnects = 1) == 1)
    val lines = Files.readAllLines(java.nio.file.Paths.get(log))
    assert(lines.size() == 2, lines.toString)
    assert(lines.get(0) == "{\"committed\":1}")
    assert(lines.get(1) == "{\"replayed\":2}",
      "the replayed event must land on a clean line, not merge with the torn tail")
  }

  test("SseWriter: file transport replays a capture into the source log") {
    import graft.sources.sse.SseWriter
    val cap = Files.createTempFile("graft_cap", ".sse")
    Files.writeString(cap,
      "id: 1\ndata: {\"a\":1}\n\ndata: {\"b\":2}\n\n")
    val log = tmpLog()
    SseWriter.main(Array(s"file:$cap", log, "2", "1"))
    val lines = Files.readAllLines(java.nio.file.Paths.get(log))
    assert(lines.size() == 2)
    assert(lines.get(0) == "{\"a\":1}" && lines.get(1) == "{\"b\":2}")
    intercept[IllegalArgumentException] {
      SseWriter.transportFor("ftp://nope")
    }
    // The production transport constructs (no egress here to exercise it).
    assert(SseWriter.transportFor("https://example.org/stream") != null)
  }

  test("SSE client output feeds the graft-sse source end-to-end") {
    val log = tmpLog()
    val wire = wireEvents.map(e => s"data: $e\n").mkString("\n") + "\n"
    new SseClient(_ => new java.io.ByteArrayInputStream(wire.getBytes("UTF-8")),
      log, watchdogMs = 60000).run(maxConnects = 1)
    val raw = spark.read.format("graft-sse").option("path", log).load()
    assert(raw.count() == 4)
    val decoded = EventAdapter.decodeWire(raw)
    assert(decoded.filter(col("title") === "Foo").count() == 2)
  }

  test("splitter: split ranges read exactly the single-range rows (CRLF, multibyte, long lines, 64 KiB straddles, torn tail)") {
    val n = 5 * 1024 + 300
    val lines = (0 until n).map { i =>
      val body =
        if (i == 2000) "long-" + ("é" * 3000) + ("x" * 4000) // > the 4 KiB line buffer
        else if (i % 5 == 0) s"$i-multibyte-é日本🙂-" + ("y" * (i % 97))
        else if (i % 11 == 0) s"$i-bare\rcr-inside"         // a lone CR never ends a line
        else s"$i-" + ("z" * (i % 131))
      body + (if (i % 7 == 0) "\r\n" else "\n")
    }
    val bytes = (lines.mkString + "torn-tail-without-newline")
      .getBytes(java.nio.charset.StandardCharsets.UTF_8)
    val starts = lineStarts(bytes)
    assert(bytes.length > 3 * 65536)
    assert((1 to 3).forall(k => !starts.contains(k * 65536L)),
      "some lines must straddle the counter's 64 KiB scan buffer")
    val path = Files.createTempFile("sse-split", ".jsonl")
    Files.write(path, bytes)
    val expected = expectedLines(bytes)
    assert(expected.length == n)

    val stream = new SseMicroBatchStream(path.toString)
    assert(stream.latestOffset() == SseOffset(n.toLong), "the torn tail is not counted")
    // Ranges starting on a mark (1024), one line past it (1025), at 0,
    // and ranges below the split threshold.
    val cases = Seq((0L, n.toLong), (1024L, n.toLong), (1025L, n.toLong),
      (1025L, 1025L + 4096), (1025L, 1025L + 4095), (n - 100L, n.toLong))
    for ((s, e) <- cases) {
      val parts = stream.planInputPartitions(SseOffset(s), SseOffset(e))
        .map(_.asInstanceOf[SseRange]).toSeq
      val want = (s until e).map(o => o -> expected(o.toInt))
      assert(readRange(SseRange(path.toString, s, e, 0L, 0L)) == want, s"single range [$s, $e)")
      assert(parts.flatMap(readRange) == want, s"split ranges of [$s, $e): $parts")
      if (e - s < 4096) assert(parts.length == 1, s"[$s, $e) is below the split threshold")
      else assert(parts.length == spark.sparkContext.defaultParallelism, s"[$s, $e): $parts")
      assert(parts.map(_.start) == s +: parts.map(_.end).init && parts.last.end == e)
      for (r <- parts) {
        assert(r.markByte == starts(r.markLine.toInt), s"$r seeks to its mark line")
        assert(r.start - r.markLine < 1024, s"$r skips less than one stride")
      }
      assert(parts.tail.forall(r => r.markLine == r.start), s"every cut is a mark: $parts")
    }
    // A batch read plans the same split over the whole log.
    val batch = spark.read.format("graft-sse").option("path", path.toString).load()
    assert(batch.rdd.getNumPartitions == spark.sparkContext.defaultParallelism)
    assert(batch.collect().map(r => r.getLong(0) -> r.getString(1)).toSeq ==
      expected.indices.map(i => i.toLong -> expected(i)))
  }

  test("restart: a stream restarted from its checkpoint seeks to a line mark and serves the uninterrupted run's rows") {
    import org.apache.spark.sql.DataFrame
    import org.apache.spark.sql.execution.datasources.v2.MicroBatchScanExec
    import org.apache.spark.sql.execution.streaming.runtime.StreamingQueryWrapper
    val msg = (i: Int) => s"""{"i":$i,"pad":"${"p" * (i % 53)}"}"""
    val first = 2500 // not a multiple of the 1,024-line stride
    val all = 7500
    val bytes = (0 until all).map(msg(_) + "\n").mkString
      .getBytes(java.nio.charset.StandardCharsets.UTF_8)
    val starts = lineStarts(bytes)
    val log = Files.createTempFile("sse-restart", ".jsonl")
    Files.write(log, bytes.take(starts(first).toInt))

    val rows = new java.util.concurrent.ConcurrentLinkedQueue[(Long, String)]()
    val sink: (DataFrame, Long) => Unit = (df, _) =>
      df.collect().foreach(r => rows.add(r.getLong(0) -> r.getString(1)))
    /** Drain the log; returns the ranges its last micro-batch planned. */
    def run(path: String, ck: String): Seq[SseRange] = {
      val q = spark.readStream.format("graft-sse").option("path", path).load()
        .writeStream.option("checkpointLocation", ck).foreachBatch(sink)
        .trigger(Trigger.AvailableNow()).start()
      try assert(q.awaitTermination(120000)) finally q.stop()
      q.asInstanceOf[StreamingQueryWrapper].streamingQuery.lastExecution.executedPlan
        .collect { case s: MicroBatchScanExec => s.inputPartitions }
        .flatten.map(_.asInstanceOf[SseRange])
    }
    val ck = Files.createTempDirectory("sse-restart-ck").toString
    run(log.toString, ck)
    assert(rows.size == first)
    Files.write(log, bytes.drop(starts(first).toInt), java.nio.file.StandardOpenOption.APPEND)
    // A new source instance: its counter starts empty.
    val restarted = run(log.toString, ck).sortBy(_.start)
    import scala.jdk.CollectionConverters._
    assert(restarted.nonEmpty && restarted.head.start == first, restarted)
    assert(restarted.forall(_.markByte >= 0L), s"no partition may start at byte -1: $restarted")
    assert(restarted.forall(r => r.markByte == starts(r.markLine.toInt) && r.start - r.markLine < 1024),
      s"each partition seeks to a mark within one stride: $restarted")
    assert(restarted.length == spark.sparkContext.defaultParallelism, restarted)

    val resumed = rows.asScala.toSeq.sortBy(_._1)
    rows.clear()
    val fullLog = Files.createTempFile("sse-uninterrupted", ".jsonl")
    Files.write(fullLog, bytes)
    run(fullLog.toString, Files.createTempDirectory("sse-uninterrupted-ck").toString)
    val uninterrupted = rows.asScala.toSeq.sortBy(_._1)
    assert(uninterrupted.length == all)
    assert(resumed == uninterrupted)
  }
}
