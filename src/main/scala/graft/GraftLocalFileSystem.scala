package graft

import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermission
import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.{LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission

/** The engine's `file://` filesystem: Hadoop's checksummed
  * `LocalFileSystem` over a raw layer that sets permissions in-process.
  * Without `libhadoop`, the stock `RawLocalFileSystem.setPermission` forks
  * `chmod` for every directory, data file and `.crc` file it creates —
  * three processes per partition of a partitioned write. Checksums, the
  * umask and the commit protocol are the stock ones. Registered as
  * `fs.file.impl` by [[GraftSession.configure]]. */
class GraftLocalFileSystem extends LocalFileSystem(new GraftLocalFileSystem.Raw)

object GraftLocalFileSystem {
  // OWNER_READ .. OTHERS_EXECUTE: mode bits 8 down to 0
  private val PosixBits = PosixFilePermission.values.toSeq

  class Raw extends RawLocalFileSystem {
    /** Same bits as `chmod`, set through NIO. NIO cannot express the
      * sticky bit, nor set modes on a non-POSIX store: those keep the
      * stock path. */
    override def setPermission(p: Path, permission: FsPermission): Unit =
      if (permission.getStickyBit) super.setPermission(p, permission)
      else {
        val mode = permission.toShort.toInt
        val bits = PosixBits.zipWithIndex.collect {
          case (b, i) if (mode & (1 << (8 - i))) != 0 => b
        }
        try Files.setPosixFilePermissions(pathToFile(p).toPath, bits.toSet.asJava)
        catch { case _: UnsupportedOperationException => super.setPermission(p, permission) }
      }
  }
}
