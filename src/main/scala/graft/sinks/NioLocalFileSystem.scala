package graft.sinks

import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermissions

import org.apache.hadoop.fs.{LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission

/** Hadoop's `file://` file system with permissions set in-process.
  *
  * Without Hadoop's native library, `RawLocalFileSystem.setPermission` forks
  * a `chmod` process, and `create` and `mkdirs` call it for every file (each
  * data file and its `.crc`) and every directory level they make. [[Raw]]
  * sets the same nine permission bits through `java.nio` instead; only a
  * permission that POSIX file permissions cannot express (the sticky bit)
  * still takes the stock path. Everything else is the stock
  * `LocalFileSystem`: it is a `ChecksumFileSystem`, so `.crc` files are
  * written and verified as before, and no file, byte or rename changes. */
class NioLocalFileSystem extends LocalFileSystem(new NioLocalFileSystem.Raw)

object NioLocalFileSystem {

  final class Raw extends RawLocalFileSystem {
    // without the sticky bit, FsPermission's symbolic form is exactly the
    // nine-character `rwxr-x---` form PosixFilePermissions parses
    override def setPermission(p: Path, permission: FsPermission): Unit =
      if (permission.getStickyBit) super.setPermission(p, permission)
      else {
        Files.setPosixFilePermissions(pathToFile(p).toPath,
          PosixFilePermissions.fromString(permission.toString))
        ()
      }
  }
}
