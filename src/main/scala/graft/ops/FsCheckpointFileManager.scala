package graft.ops

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, FSDataInputStream, LocalFileSystem, Path,
  PathFilter, UnsupportedFileSystemException}
import org.apache.spark.sql.execution.streaming.checkpointing.{CheckpointFileManager,
  FileContextBasedCheckpointFileManager, FileSystemBasedCheckpointFileManager}

/** The stream checkpoint file manager (`Engine.session` names it), chosen
  * by the checkpoint path's file system. Every stateful stream reaches it
  * through `CheckpointFileManager.create`: the offsets, commits and
  * source logs, the HDFS-backed state store and the RocksDB file manager.
  *
  *  - A `LocalFileSystem` path goes through the Hadoop `FileSystem` API
  *    (Spark's `FileSystemBasedCheckpointFileManager`). Its rename is
  *    POSIX `rename(2)`, atomic and replacing the target, and the
  *    `.crc` side files stay. `FileContext.rename`, Spark's default, asks
  *    the raw local file system for each path's link status, and without
  *    libhadoop that forks a `readlink` process: four per atomic
  *    checkpoint file.
  *  - Any other scheme keeps Spark's own choice: the `FileContext`-based
  *    manager, whose rename is atomic on HDFS, or the `FileSystem`-based
  *    one when the scheme has no `FileContext` binding. The `FileSystem`
  *    rename with overwrite would silently keep the old file on HDFS. */
class FsCheckpointFileManager(path: Path, conf: Configuration)
    extends CheckpointFileManager {

  private[graft] val delegate: CheckpointFileManager =
    path.getFileSystem(conf) match {
      case _: LocalFileSystem => new FileSystemBasedCheckpointFileManager(path, conf)
      case _ =>
        try new FileContextBasedCheckpointFileManager(path, conf)
        catch {
          case _: UnsupportedFileSystemException =>
            new FileSystemBasedCheckpointFileManager(path, conf)
        }
    }

  override def createAtomic(p: Path, overwriteIfPossible: Boolean)
      : CheckpointFileManager.CancellableFSDataOutputStream =
    delegate.createAtomic(p, overwriteIfPossible)
  override def open(p: Path): FSDataInputStream = delegate.open(p)
  override def list(p: Path, filter: PathFilter): Array[FileStatus] =
    delegate.list(p, filter)
  override def mkdirs(p: Path): Unit = delegate.mkdirs(p)
  override def exists(p: Path): Boolean = delegate.exists(p)
  override def delete(p: Path): Unit = delegate.delete(p)
  override def isLocal: Boolean = delegate.isLocal
  override def createCheckpointDirectory(): Path = delegate.createCheckpointDirectory()
  override def close(): Unit = delegate.close()
}
