package graft.io

import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermission

import org.apache.hadoop.fs.{LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission

/** The session's `file:` filesystem ([[graft.Sessions]] sets
  * `fs.file.impl`): Hadoop's checksummed [[LocalFileSystem]] over
  * [[NioRawLocalFileSystem]]. Everything but permission setting is
  * Hadoop's own — `.crc` files, mode bits and the committer protocol
  * are unchanged. */
class NioLocalFileSystem extends LocalFileSystem(new NioRawLocalFileSystem)

/** Without the native Hadoop library, `RawLocalFileSystem.setPermission`
  * forks a `chmod` process, and a parquet write calls it for every
  * directory and file it creates (about 11 per committed write, 7 ms
  * each). The nine rwx bits go through `Files.setPosixFilePermissions`
  * instead; a mode with the sticky bit (or a filesystem without POSIX
  * attributes) still goes through Hadoop. */
class NioRawLocalFileSystem extends RawLocalFileSystem {
  override def setPermission(p: Path, permission: FsPermission): Unit =
    if (permission.getStickyBit) super.setPermission(p, permission)
    else
      try { Files.setPosixFilePermissions(pathToFile(p).toPath, NioRawLocalFileSystem.posix(permission)); () }
      catch { case _: UnsupportedOperationException => super.setPermission(p, permission) }
}

object NioRawLocalFileSystem {
  // PosixFilePermission declares OWNER_READ .. OTHERS_EXECUTE, i.e. mode
  // bit 8 down to bit 0
  private val byBit = PosixFilePermission.values.reverse

  /** The rwx bits of `permission` (by `toShort`: the create path passes
    * `FsCreateModes`, whose `toString` is not a mode string). */
  private def posix(permission: FsPermission): java.util.Set[PosixFilePermission] = {
    val mode = permission.toShort.toInt
    val set = java.util.EnumSet.noneOf(classOf[PosixFilePermission])
    for (b <- 0 until 9 if (mode & (1 << b)) != 0) set.add(byBit(b))
    set
  }
}
