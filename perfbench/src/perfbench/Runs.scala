package perfbench

import java.io.File
import java.nio.file.{Files, Path, Paths}
import java.time.LocalDate

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.model.Schemas
import graft.sinks.SnapshotStore

/** One benchmark workload: its seeded raw zone and store, the model of what
  * each folder date must leave in the store, and the daily-run composition
  * over the program's public layer functions. */
trait Workload {
  def name: String
  /** Folder dates loaded one after another in one iteration. */
  def folders: Seq[LocalDate]
  /** Tables the daily run writes, in write order. */
  def tables: Seq[String]
  /** Raw-zone documents of one folder date. */
  def docs(f: LocalDate): Iterator[RawDoc]
  /** Documents (or payloads) one daily run scans. */
  def docsPerRun: Long
  /** Document kind → generated documents for the extract microbenchmark. */
  def sampleDocs: Map[String, Seq[String]]
  /** Writes the seeded store, one parquet directory per table. */
  def writeSeed(spark: SparkSession, dir: String): Unit
  def seedRows: Map[String, Long]
  /** Model prediction after each folder date, in `folders` order. */
  def expected: Seq[Expected]
  /** What the model predicts beyond row counts, printed with the input. */
  def notes: Seq[String] = Nil
  /** Model prediction of the K2 export: table → date → CSV rows. */
  def expectedExport(f: LocalDate): Map[String, Map[String, Long]]
  /** One daily run for folder `f`; `t` is off in the untraced run. */
  def run(ctx: RunCtx, f: LocalDate, t: Tracer): Unit
}

object Workload {
  def apply(name: String, seed: Long): Workload = name match {
    case "estimates-pages" => new Estimates(seed, 2000)
    case "statements-backfill" => new Statements(seed, 40, 2)
    case "calendars-rewrite" => new Calendars(seed, 2000, 2)
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }
}

/** Store versions, export directories and file statistics of one iteration.
  * Every write goes to a new version directory; the seeded store is only
  * ever read, so resetting an iteration is deleting its directory. */
final class RunCtx(val spark: SparkSession, work: String, seedDir: String) {
  val iterDir = s"$work/iter"
  def raw(dataset: String): String = s"$work/raw/$dataset"
  private val versions = mutable.Map[String, String]()
  /** (table, version path) written by the current daily run. */
  val written = mutable.ArrayBuffer[(String, String)]()

  def current(table: String): String = versions.getOrElse(table, s"$seedDir/$table")
  def exportDir(f: LocalDate, table: String): String = s"$iterDir/export/$f/$table"

  def write(t: Tracer, table: String, df: DataFrame, partitionCol: String,
            f: LocalDate): Unit = {
    val path = s"$iterDir/store/$table/$f"
    t.span("sinks", "write")(SnapshotStore.write(df, path, partitionCol))
    versions(table) = path
    written += (table -> path)
  }

  def reset(): Unit = {
    Fs.delete(iterDir)
    versions.clear()
    written.clear()
    spark.catalog.clearCache()
    // frees the blocks of dead localCheckpoints before the next timed run
    System.gc()
  }
}

object Fs {
  def delete(dir: String): Unit = {
    val p = Paths.get(dir)
    if (Files.exists(p)) {
      val w = Files.walk(p)
      try w.iterator().asScala.toVector.reverse.foreach(Files.delete)
      finally w.close()
    }
  }

  /** (files, bytes) of the data files under `dir` with the given suffix. */
  def stats(dir: String, suffix: String): (Long, Long) = {
    val fs = files(dir, suffix)
    (fs.size.toLong, fs.map(Files.size).sum)
  }

  def files(dir: String, suffix: String): Vector[Path] = {
    val p = Paths.get(dir)
    if (!Files.exists(p)) Vector.empty
    else {
      val w = Files.walk(p)
      try w.iterator().asScala.filter(f =>
        Files.isRegularFile(f) && f.getFileName.toString.endsWith(suffix)).toVector
      finally w.close()
    }
  }
}

/** Operator-layer counts of one table's load, taken in the traced run on
  * the program's materialized input and output: the net effect of the load
  * on the stored table by primary key. Incoming rows whose key was stored
  * are K1 duplicates; incoming rows with a new key that do not reach the
  * output are J1 drops; stored keys missing from the output were retracted
  * (K5, J2, or a K4 future row not re-reported). */
object OpCounts {
  def apply(t: Tracer, table: String, fresh: DataFrame, existing: DataFrame,
            out: DataFrame): Unit =
    if (t.enabled) {
      val pk = Schemas.primaryKeys(table)
      def keys(df: DataFrame) = df.select(pk.map(col): _*)
      val rowsIn = t.count(fresh)
      val pkDup = t.count(keys(fresh).join(keys(existing), pk, "left_semi"))
      val added = keys(out).join(keys(existing), pk, "left_anti")
      val appended = t.count(added)
      t.add("operators.rows_in", rowsIn)
      t.add("operators.rows_pk_dup", pkDup)
      t.add("operators.rows_appended", appended)
      t.add("operators.rows_j1_dropped", rowsIn - pkDup -
        t.count(keys(fresh).join(added, pk, "left_semi")))
      t.add("operators.rows_retracted",
        t.count(keys(existing).join(keys(out), pk, "left_anti")))
      t.add("sinks.rows_written", t.count(out))
    }
}

/** Output checks; each returns the failures it found. */
object Checks {

  def rowCounts(ctx: RunCtx, w: Workload, exp: Expected): Seq[String] =
    w.tables.flatMap { t =>
      val n = ctx.spark.read.parquet(ctx.current(t)).count()
      val e = exp.rows(t)
      if (n == e) None else Some(s"$t: $n rows, model expects $e")
    }

  /** Every exported date holds exactly the store's date slice, as the model
    * predicts it, and no other date is exported. */
  def exports(ctx: RunCtx, w: Workload, f: LocalDate): Seq[String] =
    w.expectedExport(f).toSeq.flatMap { case (t, byDate) =>
      val base = new File(ctx.exportDir(f, t))
      val dates = Option(base.listFiles()).toSeq.flatten.filter(_.isDirectory)
        .map(_.getName).toSet
      val missing = (byDate.keySet -- dates).map(d => s"$t/$d: not exported")
      val extra = (dates -- byDate.keySet).map(d => s"$t/$d: exported, model has no rows")
      val wrong = byDate.toSeq.flatMap { case (d, e) =>
        val rows = Fs.files(s"${base.getPath}/$d", ".csv").map { p =>
          val r = Files.lines(p)
          try math.max(0L, r.count() - 1) finally r.close()
        }.sum
        if (!dates(d) || rows == e) None
        else Some(s"$t/$d: $rows CSV rows, store slice has $e")
      }
      missing.toSeq ++ extra ++ wrong
    }

  /** Order-independent digest (rows, sum of row hashes) per table, and a
    * failure for every table whose primary key repeats. */
  def digests(ctx: RunCtx, w: Workload): (Map[String, String], Seq[String]) = {
    val res = w.tables.map { t =>
      val df = ctx.spark.read.parquet(ctx.current(t))
      val pk = Schemas.primaryKeys(t)
      val r = df.agg(count(lit(1)), count_distinct(col(pk.head), pk.tail.map(col): _*),
        sum(xxhash64(df.columns.sorted.map(col).toSeq: _*).cast("decimal(38,0)")))
        .head()
      val n = r.getLong(0)
      val fail = if (r.getLong(1) == n) None else Some(s"$t: ${n - r.getLong(1)} duplicate primary keys")
      (t -> s"$n:${r.getDecimal(2)}", fail)
    }
    (res.map(_._1).toMap, res.flatMap(_._2))
  }
}
