package graft.streaming

import java.io.{BufferedOutputStream, IOException}
import java.nio.file.{Files, StandardCopyOption, StandardOpenOption,
  Path => NioPath}
import java.util.UUID

import scala.util.control.NonFatal

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FSDataInputStream, FileAlreadyExistsException,
  FileStatus, FileSystem, LocalFileSystem, Path, PathFilter,
  RawLocalFileSystem}
import org.apache.spark.sql.execution.streaming.checkpointing.CheckpointFileManager
import org.apache.spark.sql.execution.streaming.checkpointing.CheckpointFileManager.CancellableFSDataOutputStream

/** A Structured Streaming checkpoint file manager that starts no child
  * process for a local checkpoint directory.
  *
  * Without Hadoop's native IO, Spark's default manager
  * (FileContext-based) runs `chmod` for every file and directory it
  * creates and `readlink` for every rename, one forked process each:
  * about 3,000 forks per graftbench `stream` pass, with tasks waiting
  * on them in the state-store and offset-log commits.
  *
  * - Local paths (Hadoop's local FS, scheme `file`): a temp file is
  *   written in the target directory with plain java IO and published on
  *   `close` by `Files.move(ATOMIC_MOVE)` (overwrite) or a hard link
  *   (no overwrite: an existing target throws
  *   `FileAlreadyExistsException`, which is how `HDFSMetadataLog`
  *   detects a concurrent writer); `cancel` deletes it. `mkdirs` is
  *   `Files.createDirectories`; open, list, exists and delete go through
  *   a `RawLocalFileSystem`. No permission call, no hidden `.crc`
  *   sidecar.
  * - Any other path (HDFS, S3, ...) is delegated to the manager
  *   `CheckpointFileManager.create` picks when
  *   [[LocalCheckpointFileManager.ClassKey]] is unset, so production
  *   checkpoints keep FileContext's atomic rename.
  *
  * Spark's own file checksums (`<version>.delta.crc` under
  * `spark.sql.streaming.checkpoint.fileChecksum.enabled`) wrap this
  * manager and are written and verified as before. Installed by
  * [[StreamRun]]. */
class LocalCheckpointFileManager(path: Path, hadoopConf: Configuration)
    extends CheckpointFileManager {
  import LocalCheckpointFileManager._

  private[streaming] val underlying: CheckpointFileManager =
    rawLocal(path.getFileSystem(hadoopConf)) match {
      case Some(fs) => new RawLocal(path, fs)
      case None =>
        val conf = new Configuration(hadoopConf)
        conf.unset(ClassKey)
        CheckpointFileManager.create(path, conf)
    }

  override def createAtomic(p: Path, overwriteIfPossible: Boolean)
      : CancellableFSDataOutputStream =
    underlying.createAtomic(p, overwriteIfPossible)
  override def open(p: Path): FSDataInputStream = underlying.open(p)
  override def list(p: Path, filter: PathFilter): Array[FileStatus] =
    underlying.list(p, filter)
  override def mkdirs(p: Path): Unit = underlying.mkdirs(p)
  override def exists(p: Path): Boolean = underlying.exists(p)
  override def delete(p: Path): Unit = underlying.delete(p)
  override def isLocal: Boolean = underlying.isLocal
  override def createCheckpointDirectory(): Path =
    underlying.createCheckpointDirectory()
  override def close(): Unit = underlying.close()
}

object LocalCheckpointFileManager {
  /** Spark's conf key naming the checkpoint file manager class. */
  val ClassKey = "spark.sql.streaming.checkpointFileManagerClass"

  /** The raw (checksum-free) local filesystem behind `fs`, if `fs` is
    * Hadoop's local FS on scheme `file`. */
  private def rawLocal(fs: FileSystem): Option[RawLocalFileSystem] =
    if (fs.getScheme != "file") None
    else fs match {
      case raw: RawLocalFileSystem => Some(raw)
      case local: LocalFileSystem => local.getRawFileSystem match {
        case raw: RawLocalFileSystem => Some(raw)
        case _ => None
      }
      case _ => None
    }

  private final class RawLocal(root: Path, fs: RawLocalFileSystem)
      extends CheckpointFileManager {
    private def file(p: Path): NioPath = fs.pathToFile(p).toPath

    override def createAtomic(p: Path, overwriteIfPossible: Boolean)
        : CancellableFSDataOutputStream = {
      val target = file(p)
      Files.createDirectories(target.getParent)
      val temp = target.resolveSibling(
        s".${target.getFileName}.${UUID.randomUUID}.tmp")
      new AtomicFile(temp, target, overwriteIfPossible)
    }
    override def open(p: Path): FSDataInputStream = fs.open(p)
    override def list(p: Path, filter: PathFilter): Array[FileStatus] =
      fs.listStatus(p, filter)
    override def mkdirs(p: Path): Unit = Files.createDirectories(file(p))
    override def exists(p: Path): Boolean = fs.exists(p)
    override def delete(p: Path): Unit = fs.delete(p, true)
    override def isLocal: Boolean = true
    override def createCheckpointDirectory(): Path = {
      val qualified = fs.makeQualified(root)
      mkdirs(qualified)
      qualified
    }
  }

  /** Writes `temp`; `close` publishes it as `target`, `cancel` drops it.
    * Either way `temp` is gone afterwards, also when publishing fails. */
  private final class AtomicFile(temp: NioPath, target: NioPath,
      overwrite: Boolean)
      extends CancellableFSDataOutputStream(new BufferedOutputStream(
        Files.newOutputStream(temp, StandardOpenOption.CREATE_NEW,
          StandardOpenOption.WRITE), 1 << 16)) {
    private var done = false

    override def close(): Unit = synchronized {
      if (!done) {
        done = true
        try { super.close(); publish() }
        finally Files.deleteIfExists(temp)
      }
    }

    override def cancel(): Unit = synchronized {
      if (!done) {
        done = true
        try super.close() catch { case NonFatal(_) => }
        finally Files.deleteIfExists(temp)
      }
    }

    private def exists(): Nothing =
      throw new FileAlreadyExistsException(s"$target already exists")

    private def publish(): Unit =
      if (overwrite)
        Files.move(temp, target, StandardCopyOption.ATOMIC_MOVE)
      // a hard link never replaces its target, unlike rename(2)
      else try Files.createLink(target, temp) catch {
        case _: java.nio.file.FileAlreadyExistsException => exists()
        case _: IOException | _: UnsupportedOperationException =>
          // a filesystem without hard links: check, then rename
          if (Files.exists(target)) exists()
          Files.move(temp, target, StandardCopyOption.ATOMIC_MOVE)
      }
  }
}
