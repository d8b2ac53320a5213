package graft

import java.nio.file.attribute.PosixFilePermission
import org.apache.hadoop.fs.{LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission

/** Hadoop's checksummed local file system with one change: permission
  * bits are applied through java.nio instead of a forked `chmod`.
  * Without Hadoop's native library, RawLocalFileSystem forks one
  * `chmod` per created file, checksum sidecar and directory, so a
  * day-partitioned warehouse write (~1,000 day directories at
  * sf0.001) forks thousands of processes from the JVM. The bits set
  * are the same; [[Tables.session]] installs this as `file://`. */
class NioLocalFileSystem extends LocalFileSystem(new NioRawLocalFileSystem)

class NioRawLocalFileSystem extends RawLocalFileSystem {
  override def setPermission(p: Path, permission: FsPermission): Unit = {
    val bits = permission.toShort & 0x1ff
    val perms = new java.util.HashSet[PosixFilePermission]()
    // PosixFilePermission declares OWNER_READ .. OTHERS_EXECUTE, the
    // high bit (0400) first, the order of the rwxrwxrwx mode string
    PosixFilePermission.values().zipWithIndex.foreach { case (pp, i) =>
      if ((bits & (1 << (8 - i))) != 0) perms.add(pp) }
    java.nio.file.Files.setPosixFilePermissions(pathToFile(p).toPath, perms)
  }
}
