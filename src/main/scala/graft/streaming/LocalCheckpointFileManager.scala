package graft.streaming

import java.net.URI
import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermissions

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, LocalFileSystem, Path,
  RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.execution.streaming.checkpointing.FileSystemBasedCheckpointFileManager

/** The checkpoint file manager of every streaming start in `src/main`
  * ([[StreamingOps.startWithConfs]] sets it): Spark's FileSystem-based
  * manager over Hadoop's checksummed local file system, whose raw layer
  * sets permissions with chmod(2) through NIO.
  *
  * Spark's default manager goes through `FileContext`, and Hadoop's local
  * `FileContext` starts a `chmod` process for every file it creates and a
  * `readlink` process for every rename (`getFileLinkStatus`): several
  * process starts, ~28 ms, per offset-log entry, commit-log entry and
  * state-store delta. Here a create is open(2) plus chmod(2), a rename is
  * `File.renameTo`, and no call starts a process. The Hadoop `.crc`
  * sidecar of every file stays, and a read verifies it, as with the
  * default manager. `createAtomic` relies on the rename of the data file
  * within one local file system being atomic; the `.crc` sidecar follows
  * it in a second rename, as with the default manager, so a crash between
  * the two on an overwrite leaves the new data beside the old checksum
  * and the next read of that file fails its check.
  *
  * Only local paths are accepted (`file:`, or no scheme while the default
  * file system is local); any other path fails at construction with one
  * line that names it. */
class LocalCheckpointFileManager(path: Path, hadoopConf: Configuration)
    extends FileSystemBasedCheckpointFileManager(
      LocalCheckpointFileManager.requireLocal(path, hadoopConf),
      hadoopConf) {

  override protected val fs: FileSystem = {
    val local = new LocalFileSystem(new LocalCheckpointFileManager.NioChmod)
    local.setConf(hadoopConf)
    local.initialize(URI.create("file:///"), hadoopConf)
    local
  }
}

object LocalCheckpointFileManager {

  private def requireLocal(path: Path, conf: Configuration): Path = {
    val scheme = Option(path.toUri.getScheme)
      .getOrElse(FileSystem.getDefaultUri(conf).getScheme)
    require(scheme == "file",
      s"LocalCheckpointFileManager writes local files only, not $path")
    path
  }

  /** Hadoop's raw local file system, setting permissions with chmod(2)
    * instead of a forked `chmod` (no sticky bit: checkpoint files and
    * directories never ask for one). */
  private final class NioChmod extends RawLocalFileSystem {
    override def setPermission(p: Path, permission: FsPermission): Unit =
      Files.setPosixFilePermissions(pathToFile(p).toPath,
        PosixFilePermissions.fromString(permission.getUserAction.SYMBOL +
          permission.getGroupAction.SYMBOL + permission.getOtherAction.SYMBOL))
  }
}
