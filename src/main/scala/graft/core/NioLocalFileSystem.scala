package graft.core

import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermission

import org.apache.hadoop.fs.{LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission

/** Hadoop's local filesystem, except that a permission change is a
  * `java.nio` call instead of a forked `chmod`.
  *
  * Without the native libhadoop, `RawLocalFileSystem.setPermission`
  * runs `chmod` through `Shell.execCommand`, and every file or
  * directory the local FS creates with a permission pays a process
  * start: 9 per frequency-analysis output job and 7 per ledger commit,
  * checksum files included. [[graft.GraftSession.build]] installs this
  * class as `fs.file.impl`.
  */
final class NioLocalFileSystem extends LocalFileSystem(new NioRawLocalFileSystem)

/** `RawLocalFileSystem` with only [[setPermission]] overridden. */
final class NioRawLocalFileSystem extends RawLocalFileSystem {

  /** The same mode bits `chmod` would set, through
    * `Files.setPosixFilePermissions` (which, like `chmod`, follows a
    * symlink). A sticky bit, which that call cannot express, and a
    * filesystem without POSIX attributes fall back to Hadoop's own
    * path.
    */
  override def setPermission(p: Path, permission: FsPermission): Unit =
    if (permission.getStickyBit) super.setPermission(p, permission)
    else
      try Files.setPosixFilePermissions(pathToFile(p).toPath, NioRawLocalFileSystem.posix(permission.toShort))
      catch { case _: UnsupportedOperationException => super.setPermission(p, permission) }
}

private object NioRawLocalFileSystem {

  /** The permissions of `mode`'s low nine bits. `PosixFilePermission`
    * values run owner rwx, group rwx, others rwx, so value i is bit
    * 8 - i.
    */
  def posix(mode: Int): java.util.Set[PosixFilePermission] = {
    val set = java.util.EnumSet.noneOf(classOf[PosixFilePermission])
    PosixFilePermission.values.zipWithIndex.foreach { case (perm, i) =>
      if ((mode & (1 << (8 - i))) != 0) set.add(perm)
    }
    set
  }
}
