package graft.sources

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FSDataInputStream, FileStatus, FileSystem, Path,
  PathFilter}
import org.apache.spark.sql.execution.streaming.checkpointing.{
  CheckpointFileManager, FileSystemBasedCheckpointFileManager}
import org.apache.spark.sql.execution.streaming.checkpointing.CheckpointFileManager.CancellableFSDataOutputStream

/** The checkpoint file manager of every graft session: streaming offset,
  * commit and source logs, and HDFS/RocksDB state-store files.
  *
  * Spark's default, `FileContextBasedCheckpointFileManager`, resolves
  * local paths through `FileContext`, whose local filesystem stats each
  * path with a forked `readlink` and sets each mode with a forked
  * `chmod` — about ten processes per checkpoint file without libhadoop.
  * For a path [[WriteFs.forPath]] serves in-process, this manager writes
  * through that filesystem instead: NIO mode bits, `.crc` sidecars kept,
  * plain `FileSystem` creates and renames. Any other path gets exactly
  * the manager Spark picks when no class is configured.
  *
  * Spark instantiates it by name (`CheckpointFileManager.create`) with
  * the path and the session's Hadoop conf; [[select]] names it. */
class WriteFsCheckpointFileManager(path: Path, hadoopConf: Configuration)
    extends CheckpointFileManager {

  private[sources] val served: CheckpointFileManager =
    WriteFs.forPath(path, hadoopConf) match {
      case fs: NioLocalFileSystem =>
        new LocalCheckpointFiles(path, hadoopConf, fs)
      case _ =>
        val conf = new Configuration(hadoopConf)
        conf.unset(WriteFsCheckpointFileManager.ClassKey)
        CheckpointFileManager.create(path, conf)
    }

  override def createAtomic(p: Path, overwriteIfPossible: Boolean)
      : CancellableFSDataOutputStream = served.createAtomic(p, overwriteIfPossible)
  override def open(p: Path): FSDataInputStream = served.open(p)
  override def list(p: Path, filter: PathFilter): Array[FileStatus] =
    served.list(p, filter)
  override def mkdirs(p: Path): Unit = served.mkdirs(p)
  override def exists(p: Path): Boolean = served.exists(p)
  override def delete(p: Path): Unit = served.delete(p)
  override def isLocal: Boolean = served.isLocal
  override def createCheckpointDirectory(): Path =
    served.createCheckpointDirectory()
  override def close(): Unit = served.close()
}

object WriteFsCheckpointFileManager {
  val ClassKey = "spark.sql.streaming.checkpointFileManagerClass"

  /** Names this manager in `hadoopConf` unless a manager is already
    * named there. `CheckpointFileManager.create` reads the key from the
    * session's `newHadoopConf()`, which lays the SQL conf over the
    * SparkContext's Hadoop conf, so a value set in the SQL conf wins. */
  def select(hadoopConf: Configuration): Unit =
    if (hadoopConf.get(ClassKey) == null)
      hadoopConf.set(ClassKey, classOf[WriteFsCheckpointFileManager].getName)
}

/** Spark's `FileSystemBasedCheckpointFileManager` over the in-process
  * local filesystem: `createAtomic` writes a hidden temp file and renames
  * it into place on close; `cancel` deletes it. A rename without
  * `overwriteIfPossible` fails with `FileAlreadyExistsException` when the
  * target exists, which the metadata logs read as a concurrent writer.
  * One with it replaces the target atomically
  * ([[NioLocalFileSystem.replace]]), as `FileContext`'s
  * `Rename.OVERWRITE` does: the filesystem's own rename never replaces a
  * file. */
private[sources] final class LocalCheckpointFiles(
    root: Path, conf: Configuration, local: NioLocalFileSystem)
    extends FileSystemBasedCheckpointFileManager(root, conf) {

  // the parent's constructor only assigns `fs`; every method reads it
  // through this accessor
  override protected val fs: FileSystem = local

  override def renameTempFile(src: Path, dst: Path,
                              overwriteIfPossible: Boolean): Unit =
    if (overwriteIfPossible) local.replace(src, dst)
    else super.renameTempFile(src, dst, overwriteIfPossible)
}
