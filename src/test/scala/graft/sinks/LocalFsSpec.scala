package graft.sinks

import java.net.URI
import java.nio.file.{Files, Path => JPath}
import java.sql.Date

import scala.jdk.CollectionConverters._

import jdk.jfr.Recording
import jdk.jfr.consumer.RecordingFile
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.io.nativeio.NativeIO
import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite
import graft.TestSpark
import graft.export.CsvExport

/** The store and export writers set file modes in-process: no `chmod`
  * fork per file, and the same files with the same modes as a plain
  * `df.write`. */
class LocalFsSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def threeDates: DataFrame = Seq(
    ("AAPL", Date.valueOf("2025-05-05"), 1.0),
    ("MSFT", Date.valueOf("2025-05-05"), 2.0),
    ("AAPL", Date.valueOf("2025-05-06"), 3.0),
    ("NVDA", Date.valueOf("2025-05-07"), 4.0))
    .toDF("act_symbol", "date", "v")

  private def tmp(prefix: String): String =
    Files.createTempDirectory(prefix).toString

  /** `chmod` processes the JVM started while `body` ran, read from a JFR
    * recording of `jdk.ProcessStart` events only. */
  private def chmodForks(body: => Unit): Int = {
    val rec = new Recording()
    rec.enable("jdk.ProcessStart")
    rec.start()
    try body finally rec.stop()
    val file = Files.createTempFile("graft_forks", ".jfr")
    try {
      rec.dump(file)
      RecordingFile.readAllEvents(file).asScala
        .count(_.getString("command").startsWith("chmod"))
    } finally { rec.close(); Files.delete(file) }
  }

  private val uuid =
    "[0-9a-f]{8}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{12}".r

  private def mode(p: JPath): Int =
    Files.getAttribute(p, "unix:mode").asInstanceOf[Int] & 0xfff

  /** (relative path with the write's UUID masked, permission bits) of
    * everything under `dir`, the directory itself included, sorted. */
  private def layout(dir: String): Seq[(String, Int)] = {
    val root = java.nio.file.Paths.get(dir)
    val walk = Files.walk(root)
    try walk.iterator().asScala.map { p =>
      (uuid.replaceAllIn(root.relativize(p).toString, "UUID"), mode(p))
    }.toSeq.sorted finally walk.close()
  }

  test("store and CSV export writes start no chmod process") {
    val df = threeDates
    val out = tmp("graft_nio")
    val forks = chmodForks {
      SnapshotStore.write(df, s"$out/store")
      CsvExport.writeSnapshot(df, Seq("act_symbol", "date"), s"$out/csv")
    }
    assert(forks === 0)
    assert(SnapshotStore.read(spark, s"$out/store").count() === 4)
    // the probe sees forks: without the options, the default file system
    // shells out to chmod whenever native libhadoop is missing
    val plain = chmodForks {
      df.write.mode("overwrite").partitionBy("date").parquet(s"$out/plain")
    }
    if (!NativeIO.isAvailable) assert(plain >= 1)
  }

  test("files and modes equal a plain df.write, .crc sidecars included") {
    val df = threeDates
    val out = tmp("graft_nio_layout")
    SnapshotStore.write(df, s"$out/nio")
    df.write.mode("overwrite").partitionBy("date").parquet(s"$out/plain")
    val nio = layout(s"$out/nio")
    assert(nio === layout(s"$out/plain"))
    assert(nio.exists(_._1.endsWith(".parquet.crc")))
    assert(Seq("05", "06", "07").forall(d => nio.exists(_._1 == s"date=2025-05-$d")))
  }

  test("setPermission sets exact modes and keeps a sticky bit") {
    val fs = new NioLocalFileSystem
    fs.initialize(URI.create("file:///"), new Configuration())
    def perm(octal: String) = new FsPermission(Integer.parseInt(octal, 8).toShort)
    val dir = Files.createTempDirectory("graft_perm")
    val file = Files.createFile(dir.resolve("f"))
    val sub = Files.createDirectory(dir.resolve("d"))
    val sticky = Files.createDirectory(dir.resolve("s"))
    def set(p: JPath, octal: String): Int = {
      fs.setPermission(new Path(p.toUri), perm(octal))
      mode(p)
    }
    set(file, "777"); set(sub, "777")
    assert(set(file, "640") === Integer.parseInt("640", 8))
    assert(set(sub, "750") === Integer.parseInt("750", 8))
    assert(set(sticky, "1777") === Integer.parseInt("1777", 8))
  }
}
