package graft.pipelines

import java.time.LocalDate

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.ShortType
import graft.extract.EstimateExtract
import graft.functions.{DateFns, ScalarFns}
import graft.model.Schemas
import graft.operators.LoadOps

/** The estimates pipeline (`estimate-transform-load.rkt:162-440`): one
  * detailed-estimates document per (symbol, folder date) fans out into six
  * target tables — rank_score, sales_estimate, eps_estimate, eps_revision,
  * eps_perception (4 periods each), eps_history (4 trailing quarters).
  *
  * Spark shape: parse ONCE per document (UDF returning the full cell
  * struct), explode the period axis, and project each table from the same
  * parsed column — six outputs off one scan, no re-parse. The reference's
  * per-document transaction becomes doc-level validity filtering (a document
  * whose rank/score text fails the enum vocabulary contributes to no table,
  * like its rollback), and `ON CONFLICT DO NOTHING` becomes
  * [[LoadOps.dedupAppend]] against each table's PK.
  */
object EstimatesPipeline {

  private val parseUdf =
    udf((html: String, fd: String) =>
      EstimateExtract.parse(html, LocalDate.parse(fd)))
      .asNondeterministic()

  /** Estimate-period enum mapping (`estimate-transform-load.rkt:220-225`):
    * each extracted period to its `estimate_period` label, in order. */
  private val PeriodEnum: Seq[(String, String)] =
    EstimateExtract.Periods.zip(Schemas.Enums.estimatePeriod)

  // try_cast: under ANSI mode (Spark 4 default) a malformed numeric string
  // would abort the job; NULL-on-malformed is this pipeline's documented
  // tolerance (the reference's cast error rolled back one document).
  private def money(c: Column): Column =
    ScalarFns.naToNull(c).try_cast("double").cast(Schemas.Money)

  private def short(c: Column): Column =
    ScalarFns.naToNull(c).try_cast("short")

  /** Parse + doc-validity filter. Input: act_symbol, html, folder_date. */
  def parsed(docs: DataFrame): DataFrame = {
    val p = docs.withColumn("p",
      parseUdf(col("html"), date_format(col("folder_date"), "yyyy-MM-dd")))
    // Reference rollback analogue: the rank_score insert is first in the
    // transaction; a rank/score that fails its enum cast aborts the whole
    // document (`estimate-transform-load.rkt:177-196`).
    p.filter(
      col("p").getField("rank").isin(Schemas.Enums.rank: _*) &&
        Seq("value", "growth", "momentum", "vgm").map(f =>
          col("p").getField(f).isin(Schemas.Enums.score: _*))
          .reduce(_ && _))
      .select(col("act_symbol"), col("folder_date"), col("p"))
  }

  private def cellFor(section: String, entry: String): Column =
    element_at(element_at(col("p").getField("cells"),
      concat(lit(section + "|"), col("zper"))), entry)

  /** One row per (doc, estimate period), with the enum period label. */
  private def byPeriod(parsedDocs: DataFrame): DataFrame =
    parsedDocs.withColumn("zper",
      explode(array(EstimateExtract.Periods.map(lit): _*)))
      .withColumn("period",
        PeriodEnum.foldLeft(lit(null).cast("string")) {
          case (acc, (k, v)) => when(col("zper") === k, lit(v)).otherwise(acc)
        })

  /** All six target tables from one scan of parsed documents. `pin`
    * materializes the parsed base so a caller consuming several of the six
    * tables parses each document once, not once per table; with `pin` the
    * call runs the scan and parse as a Spark job before it returns. A
    * single-table consumer should pass `pin = false` — materializing the
    * deeply nested cell struct costs more than the one parse it saves.
    *
    * The pinned base is rebalanced, so AQE sizes its partitions to the
    * parsed bytes. The scan's split is set by file count, not by bytes:
    * `binaryFile` charges each file its length plus `openCostInBytes`
    * (4 MB) against `maxPartitionBytes` (128 MB), so a weekly folder of
    * 2,000 pages of ≈60 KB packs ≈31 files per split, ≈63 partitions.
    * Checkpointing those as they are makes each of the six projections and
    * each K1 exchange run ≈63 tiny tasks. With the rebalance the parse
    * still runs on the ≈63 scan tasks, and AQE coalesces its output into
    * the few partitions its bytes need. */
  def tables(docs: DataFrame, pin: Boolean = true): Map[String, DataFrame] = {
    val base =
      if (pin) parsed(docs).hint("rebalance").localCheckpoint()
      else parsed(docs)
    val per = byPeriod(base)

    // The period tables and eps_history take their columns from `Schemas`:
    // each value column `c` is the section's `c` cell (`_` written `-`) of
    // the row's `zper` column, typed by its struct field; `period_end_date`
    // is `headerSection`'s column header.
    def periodTable(rows: DataFrame, table: String, section: String,
                    headerSection: String): DataFrame =
      rows.select(Schemas.tables(table).fields.toSeq.map { f =>
        val c = f.name match {
          case "act_symbol" | "period" => col(f.name)
          case "date" => col("folder_date")
          case "period_end_date" =>
            DateFns.endOfMonthFromHeader(cellFor(headerSection, "date"))
          case name =>
            val cell = cellFor(section, name.replace('_', '-'))
            f.dataType match {
              case ShortType => short(cell)
              case Schemas.Money => money(cell)
            }
        }
        c.as(f.name)
      }: _*)

    val rankScore = base.select(Schemas.rankScore.fieldNames.toSeq.map {
      case "act_symbol" => col("act_symbol")
      case "date" => col("folder_date").as("date")
      case f => col("p").getField(f).as(f)
    }: _*)

    val history = base.withColumn("zper",
      explode(array(EstimateExtract.HistoryQuarters.map(lit): _*)))

    Map(
      "rank_score" -> rankScore,
      // Sales estimates use the EPS section's period header — coverage is
      // sometimes worse on the sales side (`estimate-transform-load.rkt:252-253`).
      "sales_estimate" ->
        periodTable(per, "sales_estimate", "sales-estimates", "eps-estimates"),
      "eps_estimate" ->
        periodTable(per, "eps_estimate", "eps-estimates", "eps-estimates"),
      "eps_revision" ->
        periodTable(per, "eps_revision", "eps-revisions", "eps-revisions"),
      "eps_perception" ->
        periodTable(per, "eps_perception", "eps-upside", "eps-upside"),
      "eps_history" ->
        periodTable(history, "eps_history", "eps-surprise", "eps-surprise")
          .filter(col("period_end_date").isNotNull))
  }

  /** K1 load: PK-dedup append every fresh table into its stored counterpart. */
  def load(existing: Map[String, DataFrame],
           fresh: Map[String, DataFrame]): Map[String, DataFrame] =
    fresh.map { case (name, df) =>
      name -> LoadOps.dedupAppend(existing(name), df,
        Schemas.primaryKeys(name))
    }
}
