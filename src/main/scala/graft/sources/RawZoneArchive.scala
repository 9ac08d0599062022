package graft.sources

import java.io.{BufferedInputStream, BufferedOutputStream, FileInputStream, FileOutputStream}
import java.nio.file.{Files, Path, Paths}
import java.util.zip.{ZipEntry, ZipOutputStream}

import scala.jdk.CollectionConverters._

/** K7 — raw-zone lifecycle: after a date folder is transformed-and-loaded,
  * the reference compacts it to an archive and deletes the originals
  * (`7zr a <date>.7z <date>/ && rm -rf <date>/`,
  * `estimate-extract-transform-load.sh:9`,
  * `financial-statement-transform-load-yesterday.sh:10-12`).
  *
  * Zip instead of 7z (JDK-native, zero dependencies); deflate wins little
  * on HTML but the point is file-count hygiene — a raw zone at 100 TB dies
  * by small-file listing cost before it dies by bytes.
  */
object RawZoneArchive {

  /** Archive `<base>/<date>/` to `<base>/<date>.zip`, then delete the
    * archived files and the folder, as the reference does. Returns the
    * number of files archived. */
  def archiveDay(baseDir: String, date: String): Int = {
    val dir = Paths.get(baseDir, date)
    require(Files.isDirectory(dir), s"no raw-zone folder $dir")
    val zipPath = Paths.get(baseDir, s"$date.zip")
    val listing = Files.list(dir)
    val files =
      try listing.iterator().asScala
        .filter(Files.isRegularFile(_)).toSeq.sortBy(_.getFileName.toString)
      finally listing.close()
    val out = new ZipOutputStream(
      new BufferedOutputStream(new FileOutputStream(zipPath.toFile)))
    try files.foreach { f =>
      out.putNextEntry(new ZipEntry(s"$date/${f.getFileName}"))
      val in = new BufferedInputStream(new FileInputStream(f.toFile))
      try in.transferTo(out) finally in.close()
      out.closeEntry()
    } finally out.close()
    files.foreach(Files.delete)
    // only regular files were archived; leave the folder in place if
    // something else (a subdirectory) still lives there
    try Files.delete(dir)
    catch { case _: java.nio.file.DirectoryNotEmptyException => () }
    files.size
  }

  /** Restore an archived day back into a folder (for replays/backfills). */
  def restoreDay(baseDir: String, date: String): Int = {
    val zipPath = Paths.get(baseDir, s"$date.zip")
    val zf = new java.util.zip.ZipFile(zipPath.toFile)
    try {
      val entries = zf.entries().asScala.toSeq
      entries.foreach { e =>
        val target = Paths.get(baseDir, e.getName).normalize()
        require(target.startsWith(Paths.get(baseDir).normalize()),
          s"zip entry escapes the raw zone: ${e.getName}")
        Files.createDirectories(target.getParent)
        val in = zf.getInputStream(e)
        try Files.copy(in, target,
          java.nio.file.StandardCopyOption.REPLACE_EXISTING)
        finally in.close()
      }
      entries.size
    } finally zf.close()
  }
}
