package graft.streaming

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FSDataInputStream, FileStatus, LocalFileSystem, Path, PathFilter, UnsupportedFileSystemException}
import org.apache.spark.sql.execution.streaming.checkpointing.{CheckpointFileManager, FileContextBasedCheckpointFileManager, FileSystemBasedCheckpointFileManager}
import org.apache.spark.sql.execution.streaming.checkpointing.CheckpointFileManager.CancellableFSDataOutputStream

/** The streaming checkpoint manager `GraftSession` installs
  * (`spark.sql.streaming.checkpointFileManagerClass`).
  *
  * On Hadoop's `LocalFileSystem` (`file:` paths; with Hive on the
  * classpath `file:` resolves to Hive's `ProxyLocalFileSystem`, a
  * subclass) every call goes to Spark's
  * `FileSystemBasedCheckpointFileManager`. Spark's default,
  * `FileContextBasedCheckpointFileManager`, reaches the same files
  * through `FileContext`, which without Hadoop's native library starts
  * a `chmod`/`stat` shell command for each permission set or lookup:
  * creating, closing and renaming one 1.5 KB file took 31–33 ms that
  * way against 7 ms through `FileSystem` (4-vCPU host), and a
  * stateful micro-batch commits several such files per partition.
  * Both keep the temp-file-then-rename commit, Hadoop's `.crc`
  * sidecars and Spark's state checksums, and both check the target
  * before a no-overwrite rename on a local file system.
  *
  * Every other file system gets exactly what
  * `CheckpointFileManager.create` builds when the conf is unset, so
  * HDFS keeps `FileContext`'s atomic no-overwrite rename.
  */
final class LocalCheckpointFileManager(path: Path, hadoopConf: Configuration)
    extends CheckpointFileManager {

  private[graft] val underlying: CheckpointFileManager = path.getFileSystem(hadoopConf) match {
    case _: LocalFileSystem => new FileSystemBasedCheckpointFileManager(path, hadoopConf)
    case _ =>
      try new FileContextBasedCheckpointFileManager(path, hadoopConf)
      catch {
        case _: UnsupportedFileSystemException =>
          new FileSystemBasedCheckpointFileManager(path, hadoopConf)
      }
  }

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
