package graft.streaming

import java.net.URI
import java.nio.file.{FileSystems, Files}
import java.nio.file.attribute.PosixFilePermissions

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FSDataInputStream, FileStatus, FileSystem, LocalFileSystem, Path, PathFilter,
  RawLocalFileSystem, UnsupportedFileSystemException}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.execution.streaming.checkpointing.{CheckpointFileManager,
  FileContextBasedCheckpointFileManager, FileSystemBasedCheckpointFileManager}

/** The checkpoint file manager that [[Streaming.runToParquet]] and
  * [[Streaming.runToMemory]] install: offsets, commits, source and sink
  * metadata logs and state-store files go through it.
  *
  * On the local file system Spark's default manager forks OS processes
  * for file metadata, because Hadoop's `RawLocalFileSystem` shells out
  * when `libhadoop` is not loaded: FileContext renames check the target
  * with `readlink`, and every file create or mkdir sets its mode with
  * `chmod`. That is ~130 processes per stream trigger, most of its fixed
  * cost. For `file:` paths this manager is Spark's own
  * [[FileSystemBasedCheckpointFileManager]] over a checksummed
  * `LocalFileSystem` whose permissions are set through `java.nio`. It
  * writes the same files, the same `.crc` side files (verified on
  * read), by the same temp-then-rename, with the same permissions, and
  * starts no process. A corrupt file stays where it is, as under
  * FileContext's `LocalFs`; Hadoop's `LocalFileSystem` would move it to
  * a `bad_files` directory.
  *
  * On the local file system FileContext's rename, the FileSystem
  * manager's rename and this one are all check-then-rename, so no
  * concurrent-writer guarantee is weakened. Every other scheme (HDFS,
  * S3, ...) gets Spark's default choice unchanged: FileContext, falling
  * back to FileSystem.
  */
class LocalCheckpointFiles(path: Path, hadoopConf: Configuration) extends CheckpointFileManager {

  private val files: CheckpointFileManager =
    if (path.getFileSystem(hadoopConf).getUri.getScheme == "file")
      new LocalCheckpointFiles.OnLocalFs(path, hadoopConf)
    else
      try new FileContextBasedCheckpointFileManager(path, hadoopConf)
      catch {
        case _: UnsupportedFileSystemException => new FileSystemBasedCheckpointFileManager(path, hadoopConf)
      }

  override def createAtomic(p: Path, overwriteIfPossible: Boolean): CheckpointFileManager.CancellableFSDataOutputStream =
    files.createAtomic(p, overwriteIfPossible)
  override def open(p: Path): FSDataInputStream = files.open(p)
  override def list(p: Path, filter: PathFilter): Array[FileStatus] = files.list(p, filter)
  override def list(p: Path): Array[FileStatus] = files.list(p)
  override def mkdirs(p: Path): Unit = files.mkdirs(p)
  override def exists(p: Path): Boolean = files.exists(p)
  override def delete(p: Path): Unit = files.delete(p)
  override def isLocal: Boolean = files.isLocal
  override def createCheckpointDirectory(): Path = files.createCheckpointDirectory()
  override def close(): Unit = files.close()
}

object LocalCheckpointFiles {

  /** The session conf through which Spark picks a checkpoint file manager. */
  val ConfKey = "spark.sql.streaming.checkpointFileManagerClass"

  private final class OnLocalFs(path: Path, hadoopConf: Configuration)
      extends FileSystemBasedCheckpointFileManager(path, hadoopConf) {
    override protected val fs: FileSystem = {
      val local = new ChecksummedFs
      local.initialize(URI.create("file:///"), hadoopConf)
      local
    }
  }

  private final class ChecksummedFs extends LocalFileSystem(new NioPermissionsFs) {
    override def reportChecksumFailure(
        p: Path, in: FSDataInputStream, inPos: Long, sums: FSDataInputStream, sumsPos: Long): Boolean = false
  }

  private val posix = FileSystems.getDefault.supportedFileAttributeViews.contains("posix")

  private final class NioPermissionsFs extends RawLocalFileSystem {
    override def setPermission(p: Path, permission: FsPermission): Unit =
      if (!posix || permission.getStickyBit) super.setPermission(p, permission)
      else Files.setPosixFilePermissions(pathToFile(p).toPath, PosixFilePermissions.fromString(
        permission.getUserAction.SYMBOL + permission.getGroupAction.SYMBOL + permission.getOtherAction.SYMBOL))
  }
}
