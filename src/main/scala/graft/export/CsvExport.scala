package graft.export

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** K2 — CSV snapshot exports (`dump-dolt-statements.rkt:46-96`,
  * `dump-dat.rkt:39-76`): every column rendered `coalesce(col::text, '')`,
  * header row, PK-ordered, one snapshot per date (the A3 distinct-date
  * loop, `dump-dolt-statements.rkt:81-93`).
  */
object CsvExport {

  /** P7 — `coalesce(cast(c AS string), '')` per column, preserving names. */
  def projectForCsv(df: DataFrame): DataFrame =
    df.select(df.columns.map(c =>
      coalesce(col(c).cast("string"), lit("")).as(c)).toSeq: _*)

  /** One PK-ordered, headered CSV file (reference writes CSV by hand with
    * no quoting, `dump-dolt-statements.rkt:51-52` — we emit standard quoted
    * CSV and document the divergence). */
  def writeSnapshot(df: DataFrame, pk: Seq[String], path: String): Unit =
    // one task gathers the rows and sorts them on the TYPED columns before
    // the all-string projection (string order would put '10' before '2');
    // a global orderBy would add a range-partitioning sample job that a
    // one-file output does not need
    projectForCsv(df.repartition(1).sortWithinPartitions(pk.map(col): _*))
      .write.mode("overwrite").options(graft.sinks.LocalFs.writeOptions)
      .option("header", true)
      // bare empty for NULL, like the reference's coalesce(col::text, '')
      .option("emptyValue", "").csv(path)

  /** A3 + P2 — distinct dates drive one filtered export each; returns the
    * exported dates. The per-date filter prunes partitions when the source
    * is date-partitioned parquet. */
  def writePerDate(df: DataFrame, dateCol: String, pk: Seq[String],
                   baseDir: String): Seq[String] = {
    // a handful of distinct dates: sorted on the driver (a NULL first, as
    // orderBy put it), not by a range-partitioned Spark sort
    val dates = df.select(date_format(col(dateCol), "yyyy-MM-dd").as("d"))
      .distinct().collect().map(_.getString(0)).toSeq.sortBy(Option(_))
    dates.foreach { d =>
      writeSnapshot(df.filter(col(dateCol) === lit(d).cast("date")),
        pk, s"$baseDir/$d")
    }
    dates
  }
}
