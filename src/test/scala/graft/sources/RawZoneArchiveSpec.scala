package graft.sources

import java.io.FileOutputStream
import java.nio.file.Files
import java.util.zip.{ZipEntry, ZipOutputStream}
import org.scalatest.funsuite.AnyFunSuite

/** K7 — archive + restore round trip over a raw-zone date folder. */
class RawZoneArchiveSpec extends AnyFunSuite {

  test("archiveDay compacts and deletes; restoreDay round-trips") {
    val base = Files.createTempDirectory("graft_arch").toString
    val day = new java.io.File(base, "2024-01-15"); day.mkdirs()
    Files.writeString(new java.io.File(day, "AAPL.detailed-estimates.html")
      .toPath, "<html>a</html>")
    Files.writeString(new java.io.File(day, "MSFT.detailed-estimates.html")
      .toPath, "<html>m</html>")

    val n = RawZoneArchive.archiveDay(base, "2024-01-15")
    assert(n === 2)
    assert(!day.exists())
    assert(new java.io.File(base, "2024-01-15.zip").exists())

    val restored = RawZoneArchive.restoreDay(base, "2024-01-15")
    assert(restored === 2)
    assert(Files.readString(new java.io.File(day,
      "AAPL.detailed-estimates.html").toPath) === "<html>a</html>")
  }

  test("restoreDay refuses a zip entry that escapes the raw zone") {
    val root = Files.createTempDirectory("graft_slip")
    val base = Files.createDirectory(root.resolve("zone"))
    val out = new ZipOutputStream(
      new FileOutputStream(base.resolve("2024-01-15.zip").toFile))
    try {
      out.putNextEntry(new ZipEntry("../outside.html"))
      out.write("<html>x</html>".getBytes("UTF-8"))
      out.closeEntry()
    } finally out.close()

    intercept[IllegalArgumentException] {
      RawZoneArchive.restoreDay(base.toString, "2024-01-15")
    }
    assert(!Files.exists(root.resolve("outside.html")))
  }
}
