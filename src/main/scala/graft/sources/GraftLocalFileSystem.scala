package graft.sources

import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermission

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.{LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission

/** Hadoop's checksummed local filesystem over [[GraftRawLocalFileSystem]]:
  * the `file:` filesystem `GraftSession` installs (`fs.file.impl`). */
class GraftLocalFileSystem extends LocalFileSystem(new GraftRawLocalFileSystem)

/** Hadoop's raw local filesystem, except that `setPermission` sets the
  * rwx bits in-process. Without libhadoop, the stock one starts a `chmod`
  * process for every file and directory a write creates (a partitioned
  * parquet write starts dozens). A mode with bits beyond 0777 (sticky, or
  * an extension bit), or a filesystem without POSIX permissions, goes to
  * the stock implementation.
  */
class GraftRawLocalFileSystem extends RawLocalFileSystem {
  override def setPermission(p: Path, permission: FsPermission): Unit = {
    val mode = permission.toShort.toInt
    if ((mode & ~0x1ff) != 0) super.setPermission(p, permission)
    else {
      // PosixFilePermission's order is OWNER_READ (0400) ... OTHERS_EXECUTE (0001)
      val bits = PosixFilePermission.values.toSet.filter(b => (mode & (0x100 >> b.ordinal)) != 0)
      try Files.setPosixFilePermissions(pathToFile(p).toPath, bits.asJava)
      catch { case _: UnsupportedOperationException => super.setPermission(p, permission) }
    }
  }
}
