package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    // optional 3rd arg: comma-separated query-name filter for local iteration
    // (the driver always passes exactly two)
    val (sfDir, outDir) = (args(0), args(1))
    val only: Option[Set[String]] =
      if (args.length > 2) Some(args(2).split(",").toSet) else None
    val spark = Session.local()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    // materialize path-based fixtures (s5/k2b/st3) up front so every
    // registered query below executes as a pure read
    graft.queries.Fixtures.ensureAll(spark, sfDir)
    SparkEntry.queries
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .options(graft.sinks.LocalFs.writeOptions).parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    // Harness-parity metadata (VERDICT r11 item 7): when a driver grade
    // disagrees with the local replica, this stamp turns the forensics into
    // a one-line diff — engine versions, session TZ, and a fingerprint
    // (size + mtime) of every input parquet, so a testdata regeneration or
    // an engine upgrade mid-grading is visible in the artifact itself.
    val tables = Seq("region", "nation", "customer", "supplier", "part",
      "orders", "lineitem", "events", "documents", "embeddings")
    val fp = tables.flatMap { t =>
      val p = Paths.get(s"$sfDir/$t.parquet")
      if (Files.exists(p))
        Some(s"${q(t)}: {\"bytes\": ${Files.size(p)}, \"mtime_ms\": ${Files.getLastModifiedTime(p).toMillis}}")
      else None
    }.mkString("{", ",", "}")
    val meta = Seq(
      s"\"spark_version\": ${q(spark.version)}",
      s"\"scala_version\": ${q(scala.util.Properties.versionString)}",
      s"\"java_version\": ${q(System.getProperty("java.version"))}",
      s"\"java_vendor\": ${q(System.getProperty("java.vendor"))}",
      s"\"session_tz\": ${q(spark.conf.get("spark.sql.session.timeZone"))}",
      s"\"default_tz\": ${q(java.util.TimeZone.getDefault.getID)}",
      s"\"sf_dir\": ${q(sfDir)}",
      s"\"n_queries\": ${SparkEntry.queries.size}",
      s"\"n_oracles\": ${SparkEntry.oracleSql.size}",
      s"\"dumped_at_ms\": ${System.currentTimeMillis()}",
      s"\"testdata_fingerprint\": $fp"
    ).mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/verify_meta.json"), meta)
    spark.stop()
  }
}
