package graft.streaming

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path, PathFilter}
import org.apache.spark.sql.execution.streaming.checkpointing.{CheckpointFileManager, FileSystemBasedCheckpointFileManager}

/** The checkpoint file manager graft's sessions register
  * ([[SchemeCheckpointFileManager.ConfKey]], set by `graft.Session`): a
  * `file:` path gets Spark's `FileSystemBasedCheckpointFileManager`, every
  * other scheme gets the manager Spark would pick itself.
  *
  * Spark's default for a local path, `FileContextBasedCheckpointFileManager`,
  * renames through Hadoop's `AbstractFileSystem.renameInternal`, whose
  * overwrite check calls `getFileLinkStatus`; on Linux each such call forks
  * a `stat` process (4.4 ms, against 0.1 ms for `getFileStatus`). Measured
  * on 4 vCPU: one `createAtomic` took 46 ms that way and 11 ms through
  * `FileSystem`, and every micro-batch makes five of them (metadata, source
  * log, offsets, the file sink's `_spark_metadata`, commits). Nothing is
  * given up on local disk: both managers check that the target is absent
  * and then rename, and Hadoop documents the local check as non-atomic. On
  * HDFS (and any other scheme) Spark's choice stands, so the atomic rename
  * stays.
  */
class SchemeCheckpointFileManager(path: Path, hadoopConf: Configuration)
    extends CheckpointFileManager {

  private[graft] val delegate: CheckpointFileManager = {
    val scheme = Option(path.toUri.getScheme)
      .getOrElse(FileSystem.getDefaultUri(hadoopConf).getScheme)
    if (scheme == "file") new FileSystemBasedCheckpointFileManager(path, hadoopConf)
    else {
      // Spark's own choice: the same conf without this class
      val conf = new Configuration(hadoopConf)
      conf.unset(SchemeCheckpointFileManager.ConfKey)
      CheckpointFileManager.create(path, conf)
    }
  }

  override def createAtomic(p: Path, overwriteIfPossible: Boolean)
      : CheckpointFileManager.CancellableFSDataOutputStream =
    delegate.createAtomic(p, overwriteIfPossible)
  override def open(p: Path): org.apache.hadoop.fs.FSDataInputStream = delegate.open(p)
  override def list(p: Path, filter: PathFilter): Array[org.apache.hadoop.fs.FileStatus] =
    delegate.list(p, filter)
  override def mkdirs(p: Path): Unit = delegate.mkdirs(p)
  override def exists(p: Path): Boolean = delegate.exists(p)
  override def delete(p: Path): Unit = delegate.delete(p)
  override def isLocal: Boolean = delegate.isLocal
  override def createCheckpointDirectory(): Path = delegate.createCheckpointDirectory()
  override def close(): Unit = delegate.close()
}

object SchemeCheckpointFileManager {
  /** The conf Spark reads (off a session's Hadoop configuration, which
    * carries every SQL conf) to pick the checkpoint file manager class. */
  val ConfKey = "spark.sql.streaming.checkpointFileManagerClass"
}
