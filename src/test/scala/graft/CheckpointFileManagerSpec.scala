package graft

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path => NioPath}
import java.sql.Timestamp

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileAlreadyExistsException, FileSystem, Path, RawLocalFileSystem}
import org.apache.spark.sql.execution.streaming.checkpointing.{CheckpointFileManager, CommitLog, CommitMetadata, FileContextBasedCheckpointFileManager}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

import graft.api.TrendCollection
import graft.model.RecentChange
import graft.operators.PageAggregates
import graft.streaming.{LocalCheckpointFileManager, TrendStream}

/** The java.nio checkpoint file manager: its `createAtomic` contract,
  * routing of non-`file:` paths, restarts across it and Spark's default
  * manager, and the process launches a checkpointed stream makes.
  */
class CheckpointFileManagerSpec extends SparkSpec {
  import LocalCheckpointFileManager.ClassKey

  private val hdfsProvider =
    "org.apache.spark.sql.execution.streaming.state.HDFSBackedStateStoreProvider"
  private val providerKey = "spark.sql.streaming.stateStore.providerClass"

  /** Run `body` with the session conf `kvs` (None = unset), then restore. */
  private def withConf[T](kvs: (String, Option[String])*)(body: => T): T = {
    val prev = kvs.map { case (k, _) => k -> spark.conf.getOption(k) }
    def put(k: String, v: Option[String]): Unit =
      v.fold(spark.conf.unset(k))(spark.conf.set(k, _))
    kvs.foreach { case (k, v) => put(k, v) }
    try body finally prev.foreach { case (k, v) => put(k, v) }
  }

  private def tempDir(prefix: String): NioPath = Files.createTempDirectory(prefix)

  private def manager(dir: NioPath) =
    new LocalCheckpointFileManager(new Path(dir.toUri), new Configuration())

  private def names(dir: NioPath): Set[String] =
    Files.list(dir).iterator().asScala.map(_.getFileName.toString).toSet

  private def write(fm: CheckpointFileManager, p: Path, s: String,
      overwrite: Boolean): Unit = {
    val out = fm.createAtomic(p, overwrite)
    out.write(s.getBytes(UTF_8))
    out.close()
  }

  private def read(p: NioPath): String = new String(Files.readAllBytes(p), UTF_8)

  test("createAtomic without overwrite onto an existing file raises FileAlreadyExistsException and keeps the old bytes") {
    val dir = tempDir("graft_cfm_noover")
    val fm = manager(dir)
    val p = new Path(dir.resolve("0").toUri)
    write(fm, p, "old", overwrite = false)
    intercept[FileAlreadyExistsException] { write(fm, p, "new", overwrite = false) }
    assert(read(dir.resolve("0")) == "old")
    assert(names(dir) == Set("0"), "the losing writer's temp file is gone")
  }

  test("createAtomic with overwrite replaces the file atomically and drops its stale Hadoop sidecar") {
    val dir = tempDir("graft_cfm_over")
    val fm = manager(dir)
    val p = new Path(dir.resolve("1.delta").toUri)
    // An older checkpoint written through Hadoop's checksummed file system
    // leaves `.1.delta.crc` beside the file.
    val lfs = FileSystem.getLocal(new Configuration())
    val o = lfs.create(p, true); o.write("old".getBytes(UTF_8)); o.close()
    assert(names(dir) == Set("1.delta", ".1.delta.crc"))
    val out = fm.createAtomic(p, overwriteIfPossible = true)
    out.write("newer bytes".getBytes(UTF_8))
    out.flush()
    assert(read(dir.resolve("1.delta")) == "old", "readers see the old file until close")
    out.close()
    assert(read(dir.resolve("1.delta")) == "newer bytes")
    assert(names(dir) == Set("1.delta"), "no temp file and no stale sidecar remain")
    // Hadoop's reader no longer checks the new bytes against the old sum.
    val in = fm.open(p)
    try assert(new String(in.readAllBytes(), UTF_8) == "newer bytes") finally in.close()
  }

  test("cancel leaves neither the target nor a temp file") {
    val dir = tempDir("graft_cfm_cancel")
    val fm = manager(dir)
    val out = fm.createAtomic(new Path(dir.resolve("2").toUri), overwriteIfPossible = false)
    out.write("partial".getBytes(UTF_8))
    assert(names(dir).exists(_.startsWith(".2.")), "the write goes to a dot-temp file")
    out.cancel()
    out.close() // a cancelled stream's close publishes nothing
    assert(names(dir).isEmpty)
  }

  test("temp files are invisible to HDFSMetadataLog's batch listing") {
    val dir = tempDir("graft_cfm_log")
    withConf(ClassKey -> Some(classOf[LocalCheckpointFileManager].getName)) {
      val log = new CheckpointFileManagerSpec.Commits(spark, dir.toString)
      assert(log.manager.isInstanceOf[LocalCheckpointFileManager])
      assert(log.add(0L, CommitMetadata()))
      val pending = log.manager.createAtomic(log.pathOf(1L), false)
      pending.write("{}".getBytes(UTF_8))
      try {
        assert(names(dir).size == 2, names(dir))
        assert(log.batches == Seq(0L))
        assert(log.getLatestBatchId().contains(0L))
      } finally pending.cancel()
      assert(names(dir) == Set("0"))
    }
  }

  test("a non-file: path goes to the manager Spark picks, with no file system I/O") {
    import LocalCheckpointFileManager.isFileScheme
    val conf = new Configuration()
    assert(isFileScheme(new Path("file:/tmp/ck"), conf))
    assert(isFileScheme(new Path("/tmp/ck"), conf))
    assert(!isFileScheme(new Path("hdfs://nn:8020/ck"), conf))
    conf.set("fs.defaultFS", "hdfs://nn:8020")
    assert(!isFileScheme(new Path("/tmp/ck"), conf), "a bare path takes the default file system")
    // A scheme whose Hadoop file system makes no I/O when constructed.
    val stub = new Configuration()
    stub.set("fs.graftstub.impl", classOf[RawLocalFileSystem].getName)
    stub.setBoolean("fs.graftstub.impl.disable.cache", true)
    stub.set(ClassKey, classOf[LocalCheckpointFileManager].getName)
    val p = new Path("graftstub:/ck")
    val routed = CheckpointFileManager.create(p, stub)
    assert(routed.isInstanceOf[LocalCheckpointFileManager])
    val delegate = routed.asInstanceOf[LocalCheckpointFileManager].other
    val sparkPick = CheckpointFileManager.create(p,
      LocalCheckpointFileManager.withoutClassKey(stub))
    assert(delegate.map(_.getClass).contains(sparkPick.getClass), delegate)
    assert(manager(tempDir("graft_cfm_local")).other.isEmpty)
  }

  // ---- streams over the manager -------------------------------------------

  private val t0 = Timestamp.valueOf("2024-01-01 00:00:00")

  /** Three batches of edits over four pages: named, anon and bot editors. */
  private val batches: Seq[Seq[RecentChange]] = {
    val users = Seq("Jon", "Ann", "192.168.0.1", "Bot9", "Eve")
    (0 until 3).map { b =>
      (0 until 40).map { i =>
        val n = b * 40 + i
        RecentChange(s"Page${n % 4}", if (n % 7 == 0) "reverted vandalism" else "edit",
          0, users(n % users.size), n % 11 == 0, "edit", n.toLong, (n * 3 % 50).toLong,
          "enwiki", "en.wikipedia.org", null, null, null, null,
          new Timestamp(t0.getTime + n * 1000L))
      }
    }
  }

  /** Start a checkpointed `pageStates` query over `ms` into the noop sink. */
  private def start(ms: MemoryStream[RecentChange], ck: String) =
    TrendStream.pageStates(ms.toDS(), evict = false)
      .writeStream.format("noop").outputMode("update")
      .option("checkpointLocation", ck).start()

  /** Every regular file under `dir`. */
  private def files(dir: NioPath): Seq[NioPath] =
    Files.walk(dir).iterator().asScala.filter(Files.isRegularFile(_)).toSeq

  /** Hadoop sidecars of state version `v` under `ck`. */
  private def sidecars(ck: NioPath, v: Int): Seq[NioPath] =
    files(ck.resolve("state")).filter(_.getFileName.toString == s".$v.delta.crc")

  /** Run three batches under `first`, drop the last commit entry, resume
    * under `second` so batch 2 replays, and check the state store against
    * the batch aggregation. Returns the checkpoint dir.
    */
  private def restartAcross(first: Option[String], second: Option[String]): NioPath = {
    import spark.implicits._
    val ck = tempDir("graft_cfm_restart")
    val ms = MemoryStream[RecentChange](spark)
    withConf(providerKey -> Some(hdfsProvider)) {
      withConf(ClassKey -> first) {
        val q = start(ms, ck.toString)
        try batches.foreach { b => ms.addData(b); q.processAllAvailable() }
        finally q.stop()
      }
      assert(Files.exists(ck.resolve("commits/2")))
      Files.delete(ck.resolve("commits/2"))
      withConf(ClassKey -> second) {
        val q = start(ms, ck.toString)
        try q.processAllAvailable() finally q.stop()
        assert(Files.exists(ck.resolve("commits/2")), "batch 2 replayed and committed")
        val snap = TrendCollection.stateSnapshot(spark, ck.toString).collect()
          .map(r => r.getAs[String]("id") -> r).toMap
        val batch = PageAggregates.pageAggregates(batches.flatten.toDS().toDF())
          .collect().map(r => r.getAs[String]("id") -> r).toMap
        assert(snap.keySet == batch.keySet)
        snap.foreach { case (id, s) =>
          val b = batch(id)
          Seq("edits", "anonEdits", "reverts", "bytesChanged").foreach { c =>
            assert(s.getAs[Long](c) == b.getAs[Long](c), s"$c@$id")
          }
          Seq("start", "updated").foreach { c =>
            assert(s.getAs[Timestamp](c) == b.getAs[Timestamp](c), s"$c@$id")
          }
          Seq("contributors", "anons").foreach { c =>
            assert(s.getSeq[String](s.fieldIndex(c)).toSet ==
              b.getSeq[String](b.fieldIndex(c)).toSet, s"$c@$id")
          }
        }
      }
    }
    // Every file reads back through Hadoop's checksummed file system: no
    // sidecar was left describing bytes it no longer matches.
    val lfs = FileSystem.getLocal(new Configuration())
    files(ck).filterNot(_.getFileName.toString.startsWith(".")).foreach { f =>
      val in = lfs.open(new Path(f.toUri))
      try in.readAllBytes() finally in.close()
    }
    ck
  }

  private val fileContext = Some(classOf[FileContextBasedCheckpointFileManager].getName)

  test("restart: a checkpoint Spark's FileContext manager wrote resumes under the nio manager; the replayed batch rewrites its delta and state ≡ batch") {
    val ck = restartAcross(first = fileContext, second = None)
    assert(sidecars(ck, 1).nonEmpty, "the first run left Hadoop sidecars")
    assert(sidecars(ck, 3).isEmpty, "the replay rewrote version 3 and dropped its sidecars")
  }

  test("restart: a checkpoint the nio manager wrote resumes under Spark's FileContext manager; state ≡ batch") {
    val ck = restartAcross(first = None, second = fileContext)
    assert(sidecars(ck, 1).isEmpty, "the nio manager writes no Hadoop sidecars")
    assert(sidecars(ck, 3).nonEmpty, "the replay under the FileContext manager rewrote version 3")
  }

  test("a checkpointed pageStates run launches no chmod or readlink process") {
    import jdk.jfr.Recording
    import jdk.jfr.consumer.RecordingFile
    import spark.implicits._
    val ck = tempDir("graft_cfm_forks").toString
    val ms = MemoryStream[RecentChange](spark)
    val rec = new Recording()
    rec.enable("jdk.ProcessStart")
    withConf(providerKey -> Some(hdfsProvider), ClassKey -> None) {
      rec.start()
      val q = start(ms, ck)
      try (0 until 5).foreach { i =>
        ms.addData(batches(i % batches.size)); q.processAllAvailable()
      } finally { q.stop(); rec.stop() }
      assert(Files.exists(java.nio.file.Paths.get(ck, "commits", "4")))
    }
    val jfr = Files.createTempFile("graft_forks", ".jfr")
    rec.dump(jfr)
    rec.close()
    val launched = RecordingFile.readAllEvents(jfr).asScala.toSeq
      .filter(_.getEventType.getName == "jdk.ProcessStart")
      .map(_.getString("command"))
    Files.delete(jfr)
    val shell = launched.filter(c => c.contains("chmod") || c.contains("readlink"))
    assert(shell.isEmpty, s"${shell.size} of ${launched.size} launches: ${launched.take(5)}")
  }
}

object CheckpointFileManagerSpec {
  /** A commit log exposing its manager, batch paths and listing. */
  final class Commits(spark: org.apache.spark.sql.SparkSession, dir: String)
      extends CommitLog(spark, dir) {
    def manager: CheckpointFileManager = fileManager
    def pathOf(batchId: Long): Path = batchIdToPath(batchId)
    def batches: Seq[Long] = listBatches.toSeq
  }
}
