package graft

import java.net.URI
import java.nio.file.{FileSystems, Files}
import java.nio.file.attribute.PosixFilePermission
import java.nio.file.attribute.PosixFilePermission._
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FileStatus, FsConstants,
  FsServerDefaults, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.{FsAction, FsPermission}

/** Tiny local-FS helpers shared by Verify and the derived-store builders
  * (one copy — the delete guard was bug-fixed once already; drift risk is
  * real). */
object Fs {
  /** Recursive delete that FAILS LOUDLY when the target survives: a
    * silent partial delete would let a consumer read stale output — the
    * exact hazard callers use this to prevent. listFiles() is null on
    * I/O error (not just empty), which also ends in the exists() check
    * throwing. */
  def deleteRecursively(f: java.io.File): Unit = {
    if (f.isDirectory)
      Option(f.listFiles()).getOrElse(Array.empty).foreach(deleteRecursively)
    f.delete()
    if (f.exists())
      throw new java.io.IOException(s"could not delete ${f.getPath}")
  }
}

/** Hadoop's raw local filesystem, minus its child processes. Without the
  * native Hadoop library, `RawLocalFileSystem` forks `chmod` for every
  * directory it makes and every file it creates, and its
  * `getFileLinkStatus` forks `readlink` on `new File(f.toString)`. Through
  * `FileContext` (Spark's checkpoint logs) `f` is qualified, so that
  * string is `file:/...`, a relative path that never exists: each fork
  * answers "" and the status is `getFileStatus(f)` anyway. Here a mode is
  * set with `Files.setPosixFilePermissions` (the `chmod(2)` Hadoop's
  * native code calls) and "is this a symlink" is one `lstat`. Sticky bits,
  * non-POSIX filesystems and real symlinks go to Hadoop's own code. */
class NioRawLocalFileSystem extends RawLocalFileSystem {
  override def setPermission(p: Path, permission: FsPermission): Unit =
    if (permission.getStickyBit || !NioRawLocalFileSystem.posix)
      super.setPermission(p, permission)
    else {
      val mode = java.util.EnumSet.noneOf(classOf[PosixFilePermission])
      def add(a: FsAction, r: PosixFilePermission, w: PosixFilePermission,
              x: PosixFilePermission): Unit = {
        if (a.implies(FsAction.READ)) mode.add(r)
        if (a.implies(FsAction.WRITE)) mode.add(w)
        if (a.implies(FsAction.EXECUTE)) mode.add(x)
      }
      add(permission.getUserAction, OWNER_READ, OWNER_WRITE, OWNER_EXECUTE)
      add(permission.getGroupAction, GROUP_READ, GROUP_WRITE, GROUP_EXECUTE)
      add(permission.getOtherAction, OTHERS_READ, OTHERS_WRITE, OTHERS_EXECUTE)
      Files.setPosixFilePermissions(pathToFile(p).toPath, mode): Unit
    }

  override def getFileLinkStatus(f: Path): FileStatus =
    if (Files.isSymbolicLink(pathToFile(f).toPath)) super.getFileLinkStatus(f)
    else getFileStatus(f)
}

object NioRawLocalFileSystem {
  private val posix = FileSystems.getDefault.supportedFileAttributeViews.contains("posix")
}

/** `fs.file.impl`: checksummed like the stock `LocalFileSystem`. */
class NioLocalFileSystem extends LocalFileSystem(new NioRawLocalFileSystem)

/** `fs.AbstractFileSystem.file.impl`, the `FileContext` side: Hadoop's
  * `LocalFs`/`RawLocalFs` pair over [[NioRawLocalFileSystem]]. Hadoop
  * builds it from (URI, Configuration); like `LocalFs` it serves
  * `file:///` whatever the URI. */
class NioLocalFs(uri: URI, conf: Configuration) extends ChecksumFs(
  new DelegateToFileSystem(FsConstants.LOCAL_FS_URI, new NioRawLocalFileSystem, conf,
      FsConstants.LOCAL_FS_URI.getScheme, false) {
    override def getUriDefaultPort: Int = -1
    override def getServerDefaults(f: Path): FsServerDefaults = LocalConfigKeys.getServerDefaults
    override def getServerDefaults: FsServerDefaults = LocalConfigKeys.getServerDefaults
    override def isValidName(src: String): Boolean = true
  })
