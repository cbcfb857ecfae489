package graft.io

import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermission
import org.apache.hadoop.fs.{LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission

/** Hadoop's checksummed local FileSystem (`.crc` sidecars written, and
  * verified on read) over a raw local FileSystem that sets permissions
  * through `java.nio` instead of a `chmod` process.
  *
  * Without the native Hadoop library, `RawLocalFileSystem.setPermission`
  * runs `Shell.execCommand("chmod", ...)`, and Hadoop calls it for every
  * file it creates and every directory `mkdirs` makes: a parquet write
  * of n part files forked about 3n `chmod`s (file, `.crc`, attempt dir).
  * The mode bits set are the same; only a sticky bit, which NIO cannot
  * set, or a file system without POSIX attributes still goes to Hadoop's
  * own path. Registered as `fs.file.impl` by [[graft.spark.Sessions]].
  */
final class NioLocalFileSystem extends LocalFileSystem(new NioLocalFileSystem.Raw)

object NioLocalFileSystem {

  final class Raw extends RawLocalFileSystem {
    override def setPermission(p: Path, permission: FsPermission): Unit = {
      val mode = permission.toShort.toInt
      if ((mode & ~0x1ff) != 0) super.setPermission(p, permission)
      else {
        val perms = java.util.EnumSet.noneOf(classOf[PosixFilePermission])
        // PosixFilePermission is declared owner rwx, group rwx, others
        // rwx: ordinal i is mode bit 8 - i
        PosixFilePermission.values.foreach { pp =>
          if ((mode & (1 << (8 - pp.ordinal))) != 0) perms.add(pp)
        }
        try Files.setPosixFilePermissions(pathToFile(p).toPath, perms)
        catch { case _: UnsupportedOperationException => super.setPermission(p, permission) }
      }
    }
  }
}
