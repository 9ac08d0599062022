package graft.pipelines

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.extract.StatementExtract
import graft.functions.{DateFns, ScalarFns}
import graft.model.Schemas
import graft.operators.LoadOps

/** The financial-statement pipelines
  * (`income-statement-transform-load.rkt`, `balance-sheet-transform-load.rkt`,
  * `cash-flow-statement-transform-load[.2024-02-01].rkt`).
  *
  * Shared shape: parse once per document → P6 staleness guard (drop the
  * whole document when its most-recent statement is within 15 days of the
  * folder date — "data most likely wrong") → explode (period × date-column)
  * → typed projection with F4 ×1e6 scaling (per-share columns exempt) → J1
  * prior-period poison guard → K1 dedup-append.
  *
  * Every projection and J1 fact list comes from the table's `Schemas`
  * struct; the only per-column policy is [[PerShare]] and [[AnnualOnly]].
  *
  * Divergence from the reference, by design: a cell that fails its decimal
  * cast becomes NULL instead of aborting the (doc, period, date) insert —
  * Postgres enforced that with cast errors + rollback; a distributed load
  * prefers tolerant nulls over task retries. `incomeStatement(strict = true)`
  * keeps the reference's abort semantics instead.
  */
object StatementsPipeline {

  private val parseIncomeUdf =
    udf(StatementExtract.parseIncomeStatement _).asNondeterministic()
  private val parseBalanceUdf =
    udf(StatementExtract.parseBalanceSheet _).asNondeterministic()
  private val parseCfLegacyUdf =
    udf(StatementExtract.parseCashFlowLegacy _).asNondeterministic()
  private val parseCf2024Udf =
    udf(StatementExtract.parseCashFlow2024 _).asNondeterministic()

  // try_cast: NULL-on-malformed (ANSI mode would abort the job; the
  // reference's cast error rolled back one (doc, period, date) insert).
  private def money(c: Column): Column =
    ScalarFns.naToNull(c).try_cast("double").cast(Schemas.Money)

  /** F4 — ×1e6, after the cast so the decimal keeps headroom. */
  private def moneyM(c: Column): Column =
    (ScalarFns.naToNull(c).try_cast("double") * lit(1e6)).cast(Schemas.Money)

  private def entry(name: String): Column =
    element_at(col("r").getField("entries"), name)

  /** Statement-period enum (`income-statement-transform-load.rkt:199-203`). */
  private val periodEnum: Column = {
    val Seq(year, quarter) = Schemas.Enums.statementPeriod
    when(col("r").getField("period") === "annual", lit(year))
      .otherwise(lit(quarter))
  }

  /** P6 — drop whole documents whose most-recent statement date (from the
    * guard period's first date column) is within 15 days of the folder date
    * (`income-statement-transform-load.rkt:99-105`). */
  private def staleGuard(parsedDocs: DataFrame, guardPeriod: String,
                         twoDigitYear: Boolean): DataFrame = {
    val mostRecent = DateFns.parseStatementDate(
      element_at(element_at(filter(col("p").getField("rows"), x =>
        x.getField("period") === guardPeriod &&
          x.getField("dateIdx") === 1), 1).getField("entries"), "date"),
      twoDigitYear)
    parsedDocs.filter(
      mostRecent.isNull || !DateFns.isStale(col("folder_date"), mostRecent))
  }

  /** Strict mode — the reference's actual behavior: statement inserts have
    * NO 'NA'-to-NULL mapping, so ANY cell that fails `::decimal` (including
    * 'NA' and blank) aborts that (doc, period, date) insert
    * (`income-statement-transform-load.rkt:201-226` casts directly). When
    * `strict`, such rows are dropped instead of carrying NULLs. */
  private def strictRowOk: Column =
    !exists(
      map_values(map_filter(col("r").getField("entries"),
        (k, _) => k =!= "date")),
      v => v.try_cast("double").isNull)

  /** Per-share columns: figures per share, not in millions, so F4 does not
    * scale them (`balance-sheet-transform-load.rkt:432`). */
  private val PerShare: Set[String] = Set(
    "diluted_eps_before_non_recurring_items", "diluted_net_eps",
    "book_value_per_share")

  /** Income D&A columns: stored only from annual rows, NULL on quarterly
    * ones (`income-statement-transform-load.rkt:219-226`), so J1 compares
    * them null-safely (`:141-148`). */
  private val AnnualOnly: Set[String] = Set(
    "income_before_depreciation_and_amortization",
    "depreciation_and_amortization")

  /** One (period, date-column) row per parsed statement column, projected
    * onto `table`'s `Schemas` struct. */
  private def rows(parsedDocs: DataFrame, table: String,
                   twoDigitYear: Boolean, strict: Boolean = false): DataFrame = {
    val exploded = parsedDocs.select(col("act_symbol"), col("folder_date"),
      explode(col("p").getField("rows")).as("r"))
    val annual = col("r").getField("period") === "annual"
    (if (strict) exploded.filter(strictRowOk) else exploded)
      .select(Schemas.tables(table).fieldNames.toSeq.map {
        case "act_symbol" => col("act_symbol")
        case "date" =>
          DateFns.parseStatementDate(entry("date"), twoDigitYear).as("date")
        case "period" => periodEnum.as("period")
        case c =>
          val v = if (PerShare(c)) money(entry(c)) else moneyM(entry(c))
          val byPeriod =
            if (AnnualOnly(c))
              when(annual, v).otherwise(lit(null).cast(Schemas.Money))
            else v
          byPeriod.as(c)
      }: _*)
      .filter(col("date").isNotNull)
  }

  /** Income statement → `income_statement` rows
    * (`income-statement-transform-load.rkt:106-277`). */
  def incomeStatement(docs: DataFrame, strict: Boolean = false): DataFrame =
    rows(staleGuard(docs.withColumn("p", parseIncomeUdf(col("html"))),
      guardPeriod = "quarterly", twoDigitYear = true),
      "income_statement", twoDigitYear = true, strict)

  /** J1+K1 for income statement documents. `strict` forwards the
    * reference's abort-on-uncastable-cell semantics. */
  def loadIncomeStatement(existing: DataFrame, docs: DataFrame,
                          strict: Boolean = false): DataFrame =
    loadIncomeRows(existing, incomeStatement(docs, strict))

  /** The load half of [[loadIncomeStatement]] over already-parsed rows —
    * split out for callers that parse once and load later, like
    * perfbench's statements daily run. */
  def loadIncomeRows(existing: DataFrame, incoming: DataFrame): DataFrame =
    loadStatement(existing, incoming, "income_statement")

  /** Balance sheet → three tables from one parse
    * (`balance-sheet-transform-load.rkt:115-463`, one transaction per
    * document covering assets/liabilities/equity). `pin` is as in
    * [[EstimatesPipeline.tables]]: materialize the parsed base only when the
    * caller consumes more than one of the three tables, and with it the
    * call runs the parse as a Spark job before it returns. */
  def balanceSheet(docs: DataFrame,
                   pin: Boolean = true): Map[String, DataFrame] = {
    val parsed0 = staleGuard(
      docs.withColumn("p", parseBalanceUdf(col("html"))),
      guardPeriod = "quarterly", twoDigitYear = false)
    val parsedDocs =
      if (pin) parsed0.localCheckpoint() else parsed0
    Seq("balance_sheet_assets", "balance_sheet_liabilities",
      "balance_sheet_equity")
      .map(t => t -> rows(parsedDocs, t, twoDigitYear = false)).toMap
  }

  /** Cash-flow statement → `cash_flow_statement` rows. `layout2024` picks
    * the production U7 layout (both periods); the legacy U6 layout is
    * annual-only (`cash-flow-statement-transform-load.rkt:265` vs
    * `.2024-02-01.rkt:104-110`). */
  def cashFlow(docs: DataFrame, layout2024: Boolean): DataFrame = {
    val parsed0 = docs.withColumn("p",
      if (layout2024) parseCf2024Udf(col("html"))
      else parseCfLegacyUdf(col("html")))
    rows(staleGuard(parsed0, guardPeriod = "annual", twoDigitYear = false),
      "cash_flow_statement", twoDigitYear = false)
  }

  /** J1+K1 for a statement table: the prior-period guard against the stored
    * table over every non-key column ([[AnnualOnly]] ones null-safe), then
    * dedup-append. */
  def loadStatement(existing: DataFrame, incoming: DataFrame,
                    table: String): DataFrame = {
    val pk = Schemas.primaryKeys(table)
    val (nullSafe, facts) =
      Schemas.tables(table).fieldNames.toSeq.diff(pk).partition(AnnualOnly)
    val guarded = LoadOps.priorPeriodGuard(existing, incoming, facts, nullSafe)
    LoadOps.dedupAppend(existing, guarded, pk)
  }
}
