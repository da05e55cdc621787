package graft.core

import java.io.BufferedOutputStream
import java.nio.file.{Files, NoSuchFileException, Paths}
import java.nio.file.StandardCopyOption.ATOMIC_MOVE
import java.nio.file.StandardOpenOption.{CREATE_NEW, WRITE}

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileAlreadyExistsException, FileStatus, FileSystem, FSDataInputStream, FSDataOutputStream, Path, PathFilter}
import org.apache.spark.sql.execution.streaming.checkpointing.{CheckpointFileManager, FileSystemBasedCheckpointFileManager}
import org.apache.spark.sql.execution.streaming.checkpointing.CheckpointFileManager.CancellableFSDataOutputStream

/** Streaming checkpoint file manager that writes local files without
  * starting a process.
  *
  * Every checkpoint file of a streaming query goes through a
  * `CheckpointFileManager`: the source, offset and commit logs and the
  * state-store files. Spark's default for `file:` paths is Hadoop's local
  * file system, which — without the native Hadoop library — forks a
  * `chmod`, `readlink` or `stat` process for each file it creates or renames:
  * ~31 ms per checkpoint write on a 4-vCPU host, against ~0.08 ms for the same
  * write through `java.nio`.
  *
  * For `file:` paths this manager creates the temp file and missing
  * directories and renames with `java.nio`; reads, listings, existence checks
  * and deletes stay with Spark's `FileSystemBasedCheckpointFileManager`. The
  * commit is Spark's: the temp file sits in the target's directory and is
  * renamed onto it on `close()` (an existing target with
  * `overwriteIfPossible = false` raises `FileAlreadyExistsException`), and
  * `cancel()` deletes it. The rename drops a `.crc` sidecar beside the target
  * first, since new files get no `.crc` of their own; reads still verify one
  * written by another manager. (Hadoop's local `rename` is not used: on a
  * classpath with Hive it returns false over an existing file, and Spark's
  * file-system manager then keeps the old file.) No fsync is added or
  * removed, and file modes stay the umask default. Any other scheme gets
  * exactly what Spark would build without this setting.
  *
  * Registered through `spark.sql.streaming.checkpointFileManagerClass`
  * ([[GraftSession.CheckpointFileManagerConf]]).
  */
class LocalCheckpointFileManager(path: Path, hadoopConf: Configuration) extends CheckpointFileManager {

  private[core] val underlying: CheckpointFileManager =
    if (LocalCheckpointFileManager.isFileScheme(path, hadoopConf)) new LocalCheckpointFileManager.Nio(path, hadoopConf)
    else LocalCheckpointFileManager.sparkDefault(path, hadoopConf)

  override def createAtomic(p: Path, overwriteIfPossible: Boolean): CancellableFSDataOutputStream =
    underlying.createAtomic(p, overwriteIfPossible)
  override def open(p: Path): FSDataInputStream = underlying.open(p)
  override def list(p: Path, filter: PathFilter): Array[FileStatus] = underlying.list(p, filter)
  override def list(p: Path): Array[FileStatus] = underlying.list(p)
  override def mkdirs(p: Path): Unit = underlying.mkdirs(p)
  override def exists(p: Path): Boolean = underlying.exists(p)
  override def delete(p: Path): Unit = underlying.delete(p)
  override def isLocal: Boolean = underlying.isLocal
  override def createCheckpointDirectory(): Path = underlying.createCheckpointDirectory()
  override def close(): Unit = underlying.close()
}

object LocalCheckpointFileManager {

  /** Spark's setting naming the checkpoint file manager class. */
  val ConfKey = "spark.sql.streaming.checkpointFileManagerClass"

  private def isFileScheme(path: Path, conf: Configuration): Boolean =
    Option(path.toUri.getScheme).getOrElse(FileSystem.getDefaultUri(conf).getScheme).equalsIgnoreCase("file")

  /** What `CheckpointFileManager.create` returns when no class is set. */
  private def sparkDefault(path: Path, conf: Configuration): CheckpointFileManager = {
    val plain = new Configuration(conf)
    plain.unset(ConfKey)
    CheckpointFileManager.create(path, plain)
  }

  /** Spark's file-system manager with process-free create, mkdirs and rename. */
  private[core] final class Nio(path: Path, conf: Configuration) extends FileSystemBasedCheckpointFileManager(path, conf) {
    private def local(p: Path): java.nio.file.Path = Paths.get(fs.makeQualified(p).toUri)

    override def createTempFile(p: Path): FSDataOutputStream = {
      val file = local(p)
      val out =
        try Files.newOutputStream(file, CREATE_NEW, WRITE)
        catch {
          case _: NoSuchFileException =>
            Files.createDirectories(file.getParent)
            Files.newOutputStream(file, CREATE_NEW, WRITE)
        }
      new FSDataOutputStream(new BufferedOutputStream(out), null)
    }

    /** POSIX rename, which replaces an existing target atomically. */
    override def renameTempFile(src: Path, dst: Path, overwriteIfPossible: Boolean): Unit = {
      val target = local(dst)
      if (!overwriteIfPossible && Files.exists(target))
        throw new FileAlreadyExistsException(s"Failed to rename $src to $dst as destination already exists")
      // a checksummed writer's sidecar would not match the new bytes
      Files.deleteIfExists(target.resolveSibling(s".${target.getFileName}.crc"))
      Files.move(local(src), target, ATOMIC_MOVE)
    }

    override def mkdirs(p: Path): Unit = Files.createDirectories(local(p))

    override def createCheckpointDirectory(): Path = {
      val dir = fs.makeQualified(path)
      mkdirs(dir)
      dir
    }
  }
}
