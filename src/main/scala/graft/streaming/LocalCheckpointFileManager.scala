package graft.streaming

import java.io.BufferedOutputStream
import java.nio.file.{Files, LinkOption, Paths, StandardCopyOption, Path => NioPath}
import java.util.{Comparator, UUID}

import scala.util.{Try, Using}

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FSDataInputStream, FileAlreadyExistsException,
  FileStatus, FileSystem, Path, PathFilter}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.streaming.checkpointing.CheckpointFileManager
import org.apache.spark.sql.execution.streaming.checkpointing.CheckpointFileManager.{
  CancellableFSDataOutputStream}

/** Structured Streaming's checkpoint files on a local disk, written with
  * java.nio.
  *
  * Every trigger writes its offset log, its commit log, the file sources'
  * logs and the RocksDB changelog atomically. Spark's default manager does
  * that through Hadoop's local file system, which, without the native
  * Hadoop library, forks `chmod` and `readlink` for every file. A loop of
  * 200 small no-overwrite writes on a 4-core VM took 23 ms a file through
  * Spark's `FileContextBasedCheckpointFileManager` and 0.09 ms through this
  * manager.
  *
  * A file is written to a `.`-prefixed temp file beside its target, and
  * published when the stream closes: by an atomic rename when the caller
  * may overwrite, else by a hard link, which fails with Hadoop's
  * [[FileAlreadyExistsException]] when the target exists, as the rename of
  * Spark's own managers does (the metadata logs' check for a second writer
  * relies on it). `cancel` deletes the temp file, and `list` never shows
  * one. `mkdirs`, `exists` and `delete` are java.nio too; `open` and `list`
  * read through Hadoop's local file system, which forks nothing to read.
  * Nothing is fsynced, as Hadoop's local file system fsyncs nothing on
  * close.
  *
  * Hadoop wrote a `.<name>.crc` beside each file, and its reads verify it.
  * Publishing or deleting a file deletes that sibling too, so a checkpoint
  * written by Spark's default manager resumes under this one.
  *
  * A path on any other file system goes to Spark's default manager. Spark
  * creates this class by name from [[ConfKey]] ([[install]]). */
final class LocalCheckpointFileManager(path: Path, hadoopConf: Configuration)
    extends CheckpointFileManager {
  import LocalCheckpointFileManager._

  /** Spark's default manager, for a path outside the local file system. */
  private[streaming] val fallback: Option[CheckpointFileManager] = {
    val scheme =
      Option(path.toUri.getScheme).getOrElse(FileSystem.getDefaultUri(hadoopConf).getScheme)
    if (scheme == "file") None
    else {
      val conf = new Configuration(hadoopConf)
      conf.unset(ConfKey)
      Some(CheckpointFileManager.create(path, conf))
    }
  }

  private lazy val fs = FileSystem.getLocal(hadoopConf)
  private def local(p: Path): NioPath = Paths.get(fs.makeQualified(p).toUri)

  override def createAtomic(p: Path, overwriteIfPossible: Boolean): CancellableFSDataOutputStream =
    fallback.fold[CancellableFSDataOutputStream] {
      val target = local(p)
      Files.createDirectories(target.getParent)
      new TempFileStream(target.resolveSibling(s".${target.getFileName}.${UUID.randomUUID}.tmp"),
        target, overwriteIfPossible)
    }(_.createAtomic(p, overwriteIfPossible))

  override def open(p: Path): FSDataInputStream = fallback.fold(fs.open(p))(_.open(p))

  override def list(p: Path, filter: PathFilter): Array[FileStatus] =
    fallback.fold(fs.listStatus(p, (q: Path) => !isTemp(q) && filter.accept(q)))(
      _.list(p, filter))

  override def mkdirs(p: Path): Unit =
    fallback.fold { Files.createDirectories(local(p)); () }(_.mkdirs(p))

  override def exists(p: Path): Boolean = fallback.fold(Files.exists(local(p)))(_.exists(p))

  /** Deletes `p`, recursively, and its `.crc` sibling; a missing path is a no-op. */
  override def delete(p: Path): Unit = fallback.fold {
    val f = local(p)
    if (Files.isDirectory(f, LinkOption.NOFOLLOW_LINKS))
      Using.resource(Files.walk(f)) {
        _.sorted(Comparator.reverseOrder[NioPath]()).forEach { g => Files.deleteIfExists(g); () }
      }
    else Files.deleteIfExists(f)
    Files.deleteIfExists(crcOf(f))
    ()
  }(_.delete(p))

  override def isLocal: Boolean = fallback.forall(_.isLocal)

  override def createCheckpointDirectory(): Path = fallback.fold {
    val q = fs.makeQualified(path)
    Files.createDirectories(local(q))
    q
  }(_.createCheckpointDirectory())

  override def close(): Unit = fallback.foreach(_.close())
}

object LocalCheckpointFileManager {

  /** The conf key Spark reads for its checkpoint file manager's class. */
  val ConfKey = "spark.sql.streaming.checkpointFileManagerClass"

  /** Write the checkpoints of every streaming query `spark` starts from
    * now on through this manager, unless the session already names one.
    * Set for good, not around `start()`: a file source creates its
    * metadata log on the stream thread after `start()` returns. */
  def install(spark: SparkSession): Unit =
    if (spark.conf.getOption(ConfKey).isEmpty)
      spark.conf.set(ConfKey, classOf[LocalCheckpointFileManager].getName)

  /** Writes `temp`; on close publishes it as `target`: by an atomic rename
    * with `overwrite`, else by a hard link, which throws Hadoop's
    * [[FileAlreadyExistsException]] when `target` exists. */
  private final class TempFileStream(temp: NioPath, target: NioPath, overwrite: Boolean)
      extends CancellableFSDataOutputStream(new BufferedOutputStream(Files.newOutputStream(temp))) {
    private var done = false

    override def close(): Unit = synchronized {
      if (!done) {
        done = true
        try {
          underlyingStream.close()
          if (overwrite) {
            Files.deleteIfExists(crcOf(target))
            Files.move(temp, target, StandardCopyOption.ATOMIC_MOVE)
          } else {
            try Files.createLink(target, temp)
            catch {
              case _: java.nio.file.FileAlreadyExistsException =>
                throw new FileAlreadyExistsException(s"$target already exists")
            }
            Files.deleteIfExists(crcOf(target))
          }
        } finally Files.deleteIfExists(temp)
      }
    }

    /** Drops the temp file; never throws, as the callers cancel while
      * handling another failure. */
    override def cancel(): Unit = synchronized {
      if (!done) {
        done = true
        Try(underlyingStream.close())
        Try(Files.deleteIfExists(temp))
      }
    }
  }

  /** The checksum file Hadoop's local file system keeps beside `f`. */
  private def crcOf(f: NioPath): NioPath = f.resolveSibling(s".${f.getFileName}.crc")

  /** A temp file's name, `.<name>.<uuid>.tmp`, as Spark's managers name theirs. */
  private def isTemp(p: Path): Boolean = p.getName.startsWith(".") && p.getName.endsWith(".tmp")
}
