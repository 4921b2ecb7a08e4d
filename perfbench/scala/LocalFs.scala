package perfbench

import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermissions

import org.apache.hadoop.fs.{LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission

/** Hadoop's local file system with `setPermission` done in process.
  *
  * Without the native Hadoop library, `RawLocalFileSystem` forks a `chmod`
  * for every directory and file it creates: about 1,200 processes in one
  * first load plus incremental run, whose cost is the host's process-spawn
  * latency rather than anything the pipeline does. This sets the same
  * permission bits through `java.nio`; reads, writes, listings and renames
  * are Hadoop's own. The harness installs it as `fs.file.impl`.
  */
final class NioRawLocalFs extends RawLocalFileSystem {
  override def setPermission(p: Path, perm: FsPermission): Unit = {
    val bits = Seq(perm.getUserAction, perm.getGroupAction, perm.getOtherAction).map(_.SYMBOL).mkString
    Files.setPosixFilePermissions(pathToFile(p).toPath, PosixFilePermissions.fromString(bits))
  }
}

final class NioLocalFs extends LocalFileSystem(new NioRawLocalFs)
