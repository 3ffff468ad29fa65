package graft.streaming

import java.io.{BufferedOutputStream, FileNotFoundException}
import java.nio.file.{Files, StandardCopyOption, StandardOpenOption,
  FileAlreadyExistsException => NioFileExists, FileSystemException,
  Path => NioPath, Paths}
import java.util.UUID

import scala.util.Try

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FSDataInputStream, FileAlreadyExistsException,
  FileStatus, FileSystem, Path, PathFilter}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.streaming.checkpointing.CheckpointFileManager
import org.apache.spark.sql.execution.streaming.checkpointing.CheckpointFileManager.CancellableFSDataOutputStream

/** Checkpoint file manager for the streaming queries' offset log, commit
  * log and state-store files that writes `file:` checkpoints with
  * java.nio.
  *
  * Why: without `libhadoop`, Hadoop's `RawLocalFileSystem` starts a shell
  * process for every `chmod` (each create and mkdir) and `readlink` (each
  * rename, via `getFileLinkStatus`). Spark's default manager pays about
  * ten such launches per checkpoint file (8 `readlink`, 2 `chmod`), and
  * every micro-batch writes several files (WAL entry, state deltas,
  * commit entry), so the launches were the largest fixed cost of a live
  * micro-batch.
  *
  * On a `file:` path:
  *  - `createAtomic` writes a dot-temp file (`.<name>.<uuid>.tmp`, which
  *    `HDFSMetadataLog` and the state stores never list as data) in the
  *    target's directory and commits it on close: with an atomic rename
  *    when overwriting, or with a hard link when the target must not
  *    exist, which fails with Hadoop's `FileAlreadyExistsException` and
  *    leaves the existing file untouched. The parent directory must
  *    exist, as with Spark's default manager. Like Hadoop's local file
  *    system, nothing is fsynced.
  *  - The commit deletes a Hadoop `.<name>.crc` sidecar a previous
  *    manager left for the target, so the file never reads against a
  *    checksum of older bytes.
  *  - `mkdirs`, `exists` and `createCheckpointDirectory` use java.nio.
  *  - `open`, `list` and `delete` go through the path's Hadoop file system
  *    (`LocalFileSystem`), which starts no process for them and still
  *    verifies the sidecars of files an older checkpoint wrote.
  *
  * Any other path is served by the manager Spark's
  * `CheckpointFileManager.create` picks for it when no class is
  * configured. Spark wraps this manager in its own
  * `ChecksumCheckpointFileManager` for state-store files, as it wraps the
  * default one.
  */
class LocalCheckpointFileManager(path: Path, hadoopConf: Configuration)
    extends CheckpointFileManager {
  import LocalCheckpointFileManager._

  /** Spark's own pick for a non-`file:` path; None for a `file:` path. */
  private[graft] val other: Option[CheckpointFileManager] =
    if (isFileScheme(path, hadoopConf)) None
    else Some(CheckpointFileManager.create(path, withoutClassKey(hadoopConf)))

  private lazy val fs: FileSystem = path.getFileSystem(hadoopConf)

  private def local(p: Path): NioPath = Paths.get(fs.makeQualified(p).toUri)

  override def createAtomic(p: Path,
      overwriteIfPossible: Boolean): CancellableFSDataOutputStream =
    other.fold[CancellableFSDataOutputStream] {
      val target = local(p)
      val temp = target.resolveSibling(
        s".${target.getFileName}.${UUID.randomUUID}.tmp")
      new AtomicStream(target, temp, overwriteIfPossible)
    }(_.createAtomic(p, overwriteIfPossible))

  override def open(p: Path): FSDataInputStream =
    other.fold(fs.open(p))(_.open(p))

  override def list(p: Path, filter: PathFilter): Array[FileStatus] =
    other.fold(fs.listStatus(p, filter))(_.list(p, filter))

  override def mkdirs(p: Path): Unit =
    other.fold { Files.createDirectories(local(p)); () }(_.mkdirs(p))

  override def exists(p: Path): Boolean =
    other.fold(Files.exists(local(p)))(_.exists(p))

  override def delete(p: Path): Unit = other.fold {
    // A file already gone is not an error (Spark's managers agree).
    try { fs.delete(p, true); () } catch { case _: FileNotFoundException => () }
  }(_.delete(p))

  override def isLocal: Boolean = other.fold(true)(_.isLocal)

  override def createCheckpointDirectory(): Path = other.fold {
    val q = fs.makeQualified(path)
    Files.createDirectories(Paths.get(q.toUri))
    q
  }(_.createCheckpointDirectory())

  override def close(): Unit = other.foreach(_.close())
}

object LocalCheckpointFileManager {

  /** Spark's session conf naming the checkpoint file manager class. */
  val ClassKey = "spark.sql.streaming.checkpointFileManagerClass"

  /** Make this manager the session's checkpoint file manager unless a class
    * is already configured, in the session conf or in the Hadoop conf: a
    * user-set class always wins. Called by every streaming entry point
    * before it builds its query.
    */
  def install(spark: SparkSession): Unit =
    if (spark.conf.getOption(ClassKey).isEmpty &&
        spark.sparkContext.hadoopConfiguration.get(ClassKey) == null)
      spark.conf.set(ClassKey, classOf[LocalCheckpointFileManager].getName)

  /** Whether `path` (or, without a scheme, the default file system) is
    * `file:` — decided from the URI alone, with no file system I/O.
    */
  private[graft] def isFileScheme(path: Path, conf: Configuration): Boolean =
    Option(path.toUri.getScheme)
      .getOrElse(FileSystem.getDefaultUri(conf).getScheme) == "file"

  /** `conf` without the manager class, so Spark's factory makes its own
    * pick instead of constructing this class again.
    */
  private[graft] def withoutClassKey(conf: Configuration): Configuration = {
    val c = new Configuration(conf)
    c.unset(ClassKey)
    c
  }

  /** Hadoop's checksum sidecar for `p`. */
  private def sidecar(p: NioPath): NioPath =
    p.resolveSibling(s".${p.getFileName}.crc")

  /** Writes `temp`, then publishes it as `target` on close. */
  private final class AtomicStream(target: NioPath, temp: NioPath,
      overwrite: Boolean)
      extends CancellableFSDataOutputStream(new BufferedOutputStream(
        Files.newOutputStream(temp, StandardOpenOption.CREATE_NEW,
          StandardOpenOption.WRITE), 1 << 16)) {

    @volatile private var terminated = false

    override def close(): Unit = synchronized {
      if (!terminated) {
        terminated = true
        try {
          underlyingStream.close()
          if (overwrite) {
            // Sidecar first: until the rename, readers see the old bytes
            // unverified rather than the new bytes against an old checksum.
            Files.deleteIfExists(sidecar(target))
            Files.move(temp, target, StandardCopyOption.ATOMIC_MOVE)
          } else {
            link()
            Files.deleteIfExists(temp)
            Files.deleteIfExists(sidecar(target))
          }
        } catch {
          case t: Throwable =>
            Files.deleteIfExists(temp)
            throw t
        }
      }
    }

    /** Publish without overwrite: a hard link fails when the target exists.
      * A file system without hard links falls back to check-then-rename,
      * which is what Spark's `FileSystem`-based manager does.
      */
    private def link(): Unit =
      try Files.createLink(target, temp)
      catch {
        case _: NioFileExists => throw exists()
        case _: UnsupportedOperationException | _: FileSystemException =>
          if (Files.exists(target)) throw exists()
          Files.move(temp, target, StandardCopyOption.ATOMIC_MOVE)
      }

    private def exists() =
      new FileAlreadyExistsException(s"Failed to commit $temp: $target already exists")

    /** Never throws: callers cancel while handling another failure. */
    override def cancel(): Unit = synchronized {
      if (!terminated) {
        terminated = true
        Try(underlyingStream.close())
        Try(Files.deleteIfExists(temp))
      }
    }
  }
}
