package graft.io

import org.apache.hadoop.fs.{LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission

import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermission

/** The raw local file system with an in-JVM `setPermission`. Without the
  * Hadoop native library the stock one forks a `chmod` process for every
  * file and directory it creates (`Shell.execCommand` under the output
  * stream's constructor and `mkOneDirWithMode`); this one sets the same
  * rwx bits through `java.nio`, one system call with or without the
  * native library. Only a sticky bit, which `java.nio` cannot set, takes
  * the stock path. */
class InJvmChmodRawFileSystem extends RawLocalFileSystem {
  override def setPermission(p: Path, permission: FsPermission): Unit =
    if (permission.getStickyBit) super.setPermission(p, permission)
    else {
      val mode = permission.toShort
      val perms = java.util.EnumSet.noneOf(classOf[PosixFilePermission])
      // values() runs OWNER_READ .. OTHERS_EXECUTE, mode bits 0400 .. 0001
      PosixFilePermission.values.zipWithIndex.foreach { case (bit, i) =>
        if ((mode & (1 << (8 - i))) != 0) perms.add(bit)
      }
      Files.setPosixFilePermissions(pathToFile(p).toPath, perms)
    }
}

/** `file://` as the engine registers it (`GraftSession.commonOptions`):
  * the stock checksummed [[LocalFileSystem]] over
  * [[InJvmChmodRawFileSystem]], so the `.crc` files and the output tree
  * are those of the stock file system. */
class LocalChmodFileSystem extends LocalFileSystem(new InJvmChmodRawFileSystem)
