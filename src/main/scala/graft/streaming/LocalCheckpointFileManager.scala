package graft.streaming

import java.io.BufferedOutputStream
import java.nio.file.{Files, Path => NioPath, StandardCopyOption, StandardOpenOption}
import java.util.UUID

import scala.util.control.NonFatal

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FSDataInputStream, FileAlreadyExistsException, FileStatus, FileSystem, LocalFileSystem, Path, PathFilter, RawLocalFileSystem}
import org.apache.spark.sql.execution.streaming.checkpointing.{CheckpointFileManager, FileContextBasedCheckpointFileManager}
import org.apache.spark.sql.execution.streaming.checkpointing.CheckpointFileManager.CancellableFSDataOutputStream

/** A [[CheckpointFileManager]] that serves `file:` checkpoints through
  * `java.nio` and delegates every other scheme to Spark's default
  * `FileContextBasedCheckpointFileManager`, so HDFS and object-store
  * checkpoints behave exactly as without it. Installed per drain through
  * `spark.sql.streaming.checkpointFileManagerClass`, which Spark reads
  * for the offset and commit logs, both state-store providers and the
  * state-store checksum wrapper.
  *
  * Why: without libhadoop, Hadoop's local filesystem forks a `chmod`
  * for every file it creates and a `readlink` for every rename check,
  * so the default manager starts several processes per state-store
  * commit and per log entry. Measured over 8 `q_stream_dedup` drains at
  * sf0.1 on a 4-cpu host: 3,296 process starts before, 310 after (the
  * remainder are the foreachBatch parquet sink's, not checkpoint I/O),
  * and the median state commit per trigger 446 → 22 ms.
  *
  * The local path keeps the default manager's contract:
  *  - `createAtomic` writes a hidden temp file next to the target and
  *    publishes it on `close` with one rename, so a reader sees either
  *    nothing or the whole file. Without `overwriteIfPossible` the
  *    publish is a hard link, which fails atomically with Hadoop's
  *    `FileAlreadyExistsException` when the target exists (a rename
  *    would silently replace it); `cancel` leaves neither file.
  *  - `open` and `list` use the cached local filesystem's raw layer,
  *    which skips the `.crc` checksum sidecars; `list` hides those and
  *    in-flight temp files, so a checkpoint written by the default
  *    manager resumes here. Overwriting or deleting a file also drops
  *    its `.crc`, so the default manager never verifies new bytes
  *    against a stale sidecar.
  *  - writes are not fsynced, the same as the default manager on a
  *    local filesystem. */
class LocalCheckpointFileManager(path: Path, hadoopConf: Configuration)
    extends CheckpointFileManager {
  import LocalCheckpointFileManager._

  private[graft] val impl: CheckpointFileManager =
    localRaw(path, hadoopConf) match {
      case Some(raw) => new NioCheckpointFileManager(path, raw)
      case None => new FileContextBasedCheckpointFileManager(path, hadoopConf)
    }

  override def createAtomic(p: Path, overwriteIfPossible: Boolean)
      : CancellableFSDataOutputStream = impl.createAtomic(p, overwriteIfPossible)
  override def open(p: Path): FSDataInputStream = impl.open(p)
  override def list(p: Path, filter: PathFilter): Array[FileStatus] =
    impl.list(p, filter)
  override def mkdirs(p: Path): Unit = impl.mkdirs(p)
  override def exists(p: Path): Boolean = impl.exists(p)
  override def delete(p: Path): Unit = impl.delete(p)
  override def isLocal: Boolean = impl.isLocal
  override def createCheckpointDirectory(): Path = impl.createCheckpointDirectory()
  override def close(): Unit = impl.close()
}

object LocalCheckpointFileManager {

  /** The raw local filesystem behind `path`, or None when `path` is not
    * on the `file:` scheme (or `fs.file.impl` names a non-local class).
    * The scheme is checked before any filesystem is instantiated, so a
    * remote path never opens a client here. */
  private def localRaw(path: Path, conf: Configuration)
      : Option[RawLocalFileSystem] = {
    val scheme = Option(path.toUri.getScheme)
      .getOrElse(FileSystem.getDefaultUri(conf).getScheme)
    if (scheme != "file") None
    else path.getFileSystem(conf) match {
      case l: LocalFileSystem => Some(l.getRaw).collect { case r: RawLocalFileSystem => r }
      case r: RawLocalFileSystem => Some(r)
      case _ => None
    }
  }

  /** Hadoop's checksum sidecar and the temp-file names of both managers
    * (`.<name>.<uuid>.tmp`) are never part of a listing. */
  private def visible(name: String): Boolean =
    !(name.startsWith(".") && (name.endsWith(".crc") || name.endsWith(".tmp")))

  private def crcOf(f: NioPath): NioPath =
    f.resolveSibling(s".${f.getFileName}.crc")

  private final class NioCheckpointFileManager(root: Path, raw: RawLocalFileSystem)
      extends CheckpointFileManager {
    private def file(p: Path): NioPath = raw.pathToFile(p).toPath

    override def createAtomic(p: Path, overwriteIfPossible: Boolean)
        : CancellableFSDataOutputStream = {
      val target = file(p)
      Files.createDirectories(target.getParent)
      val tmp = target.resolveSibling(s".${target.getFileName}.${UUID.randomUUID}.tmp")
      new AtomicOutput(tmp, target, overwriteIfPossible)
    }

    override def open(p: Path): FSDataInputStream = raw.open(p)

    override def list(p: Path, filter: PathFilter): Array[FileStatus] =
      raw.listStatus(p, (q: Path) => visible(q.getName) && filter.accept(q))

    override def mkdirs(p: Path): Unit = { Files.createDirectories(file(p)); () }

    override def exists(p: Path): Boolean = Files.exists(file(p))

    override def delete(p: Path): Unit = {
      val f = file(p)
      StreamQueries.rmRf(f)
      Files.deleteIfExists(crcOf(f))
      ()
    }

    override def isLocal: Boolean = true

    override def createCheckpointDirectory(): Path = {
      mkdirs(root)
      raw.makeQualified(root)
    }
  }

  /** Buffered writes to `tmp`; `close` publishes, `cancel` discards.
    * Both are idempotent and `cancel` after a failed `close` is a no-op,
    * the order Spark's metadata log uses on a lost publish race. */
  private final class AtomicOutput(tmp: NioPath, target: NioPath, overwrite: Boolean)
      extends CancellableFSDataOutputStream(new BufferedOutputStream(
        Files.newOutputStream(tmp, StandardOpenOption.CREATE_NEW,
          StandardOpenOption.WRITE), 65536)) {
    private var terminated = false

    override def close(): Unit = synchronized {
      if (!terminated) {
        terminated = true
        try {
          super.close()
          if (overwrite) {
            Files.deleteIfExists(crcOf(target))
            Files.move(tmp, target, StandardCopyOption.ATOMIC_MOVE,
              StandardCopyOption.REPLACE_EXISTING)
          } else {
            try Files.createLink(target, tmp)
            catch {
              case _: java.nio.file.FileAlreadyExistsException =>
                throw new FileAlreadyExistsException(s"$target already exists")
            }
          }
        } finally Files.deleteIfExists(tmp)
        ()
      }
    }

    override def cancel(): Unit = synchronized {
      if (!terminated) {
        terminated = true
        try underlyingStream.close() catch { case NonFatal(_) => () }
        Files.deleteIfExists(tmp)
        ()
      }
    }
  }
}
