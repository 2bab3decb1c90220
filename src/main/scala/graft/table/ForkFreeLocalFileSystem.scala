package graft.table

import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermission
import org.apache.hadoop.fs.{Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission

/** The local file system graft's own writes go through (`GraftSqlBridge.WriteFsOptions`).
  *
  * Hadoop's stock `file:` system is a `ChecksumFileSystem`: each file it creates gets a `.crc`
  * sidecar that graft deletes unread with its tmp directory. Under it, without Hadoop's native
  * library, `RawLocalFileSystem.setPermission` forks a `chmod` process, and every created file
  * and directory gets one. This class writes no sidecar (it is the raw system) and sets the
  * same permission bits with one `chmod` system call through NIO. Sticky, setuid and setgid bits
  * (above 0777) and a store without POSIX attributes fall back to Hadoop's own path.
  */
class ForkFreeLocalFileSystem extends RawLocalFileSystem {
  override def setPermission(p: Path, permission: FsPermission): Unit = {
    val bits = permission.toShort.toInt
    if ((bits & ~0x1ff) != 0) super.setPermission(p, permission)
    else {
      val perms = java.util.EnumSet.noneOf(classOf[PosixFilePermission])
      // PosixFilePermission's constants run from OWNER_READ (0400) down to OTHERS_EXECUTE (0001)
      PosixFilePermission.values.zipWithIndex.foreach { case (perm, i) =>
        if ((bits & (0x100 >> i)) != 0) perms.add(perm)
      }
      try Files.setPosixFilePermissions(pathToFile(p).toPath, perms)
      catch { case _: UnsupportedOperationException => super.setPermission(p, permission) }
    }
  }
}
