package graft.sinks

import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermissions

import org.apache.hadoop.fs.{LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission

/** A `file:` FileSystem whose `setPermission` is a `java.nio` call.
  *
  * Without native `libhadoop` (Spark's jars ship none),
  * `RawLocalFileSystem.setPermission` forks a `chmod` process, and a write
  * calls it once per file it creates: the `date=…` directory, the data file
  * and its `.crc` sidecar each cost a fork. `Files.setPosixFilePermissions`
  * sets the same, already umasked, mode in-process. A sticky bit (which
  * nio cannot express) or a file system without a POSIX view falls back to
  * the parent's path.
  */
class NioRawLocalFileSystem extends RawLocalFileSystem {
  override def setPermission(p: Path, permission: FsPermission): Unit =
    if (permission.getStickyBit) super.setPermission(p, permission)
    else {
      val rwx = PosixFilePermissions.fromString(
        permission.getUserAction.SYMBOL + permission.getGroupAction.SYMBOL +
          permission.getOtherAction.SYMBOL)
      try Files.setPosixFilePermissions(pathToFile(p).toPath, rwx)
      catch {
        case _: UnsupportedOperationException => super.setPermission(p, permission)
      }
    }
}

/** The checksummed local file system over [[NioRawLocalFileSystem]], so
  * writes keep their `.crc` sidecars. */
class NioLocalFileSystem extends LocalFileSystem(new NioRawLocalFileSystem)

object LocalFs {

  /** Writer options that route a `DataFrameWriter` to [[NioLocalFileSystem]]:
    * Spark copies writer options into the write job's Hadoop conf, so the
    * job's commit steps and every task's file creation resolve `file:` to
    * it. This saves one `chmod` fork per file and per directory a write
    * creates; file names, bytes and modes are unchanged. The cache switch is
    * needed because Hadoop's FileSystem cache key ignores the conf: without
    * it the session's cached default instance would be returned.
    *
    * Not for [[SnapshotStore.writeBucketed]]: `saveAsTable` persists writer
    * options in the catalog as the table's storage properties. */
  private[graft] val writeOptions: Map[String, String] = Map(
    "fs.file.impl" -> classOf[NioLocalFileSystem].getName,
    "fs.file.impl.disable.cache" -> "true")
}
