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
  * Divergence from the reference, by design: a cell that fails its decimal
  * cast becomes NULL instead of aborting the (doc, period, date) insert —
  * Postgres enforced that with cast errors + rollback; a distributed load
  * prefers tolerant nulls over task retries. Strictness can be layered back
  * with a filter on the raw strings.
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
  private val periodEnum: Column =
    when(col("r").getField("period") === "annual", lit("Year"))
      .otherwise(lit("Quarter"))

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

  private def explodeRows(parsedDocs: DataFrame,
                          strict: Boolean = false): DataFrame = {
    val rows = parsedDocs.select(col("act_symbol"), col("folder_date"),
      explode(col("p").getField("rows")).as("r"))
    if (strict) rows.filter(strictRowOk) else rows
  }

  /** Income statement → `income_statement` rows
    * (`income-statement-transform-load.rkt:106-277`). Quarterly documents
    * store NULL for the two D&A columns (`:219-226`), and those columns are
    * null-compared in the J1 guard (`:141-148`). */
  def incomeStatement(docs: DataFrame, strict: Boolean = false): DataFrame = {
    val parsedDocs = staleGuard(
      docs.withColumn("p", parseIncomeUdf(col("html"))),
      guardPeriod = "quarterly", twoDigitYear = true)
    val annual = col("r").getField("period") === "annual"
    explodeRows(parsedDocs, strict).select(
      col("act_symbol"),
      DateFns.parseStatementDate(entry("date"), twoDigitYear = true)
        .as("date"),
      periodEnum.as("period"),
      moneyM(entry("sales")).as("sales"),
      moneyM(entry("cost_of_goods")).as("cost_of_goods"),
      moneyM(entry("gross_profit")).as("gross_profit"),
      moneyM(entry("selling_administrative_depreciation_amortization_expenses"))
        .as("selling_administrative_depreciation_amortization_expenses"),
      moneyM(entry("income_after_depreciation_and_amortization"))
        .as("income_after_depreciation_and_amortization"),
      moneyM(entry("non_operating_income")).as("non_operating_income"),
      moneyM(entry("interest_expense")).as("interest_expense"),
      moneyM(entry("pretax_income")).as("pretax_income"),
      moneyM(entry("income_taxes")).as("income_taxes"),
      moneyM(entry("minority_interest")).as("minority_interest"),
      moneyM(entry("investment_gains")).as("investment_gains"),
      moneyM(entry("other_income")).as("other_income"),
      moneyM(entry("income_from_continuing_operations"))
        .as("income_from_continuing_operations"),
      moneyM(entry("extras_and_discontinued_operations"))
        .as("extras_and_discontinued_operations"),
      moneyM(entry("net_income")).as("net_income"),
      when(annual, moneyM(entry("income_before_depreciation_and_amortization")))
        .otherwise(lit(null).cast(Schemas.Money))
        .as("income_before_depreciation_and_amortization"),
      when(annual, moneyM(entry("depreciation_and_amortization")))
        .otherwise(lit(null).cast(Schemas.Money))
        .as("depreciation_and_amortization"),
      moneyM(entry("average_shares")).as("average_shares"),
      money(entry("diluted_eps_before_non_recurring_items"))
        .as("diluted_eps_before_non_recurring_items"),
      money(entry("diluted_net_eps")).as("diluted_net_eps"))
      .filter(col("date").isNotNull)
  }

  /** J1+K1 for income statement: guard against the stored table, then
    * dedup-append. The two D&A columns null-compare per the reference.
    * `strict` forwards the reference's abort-on-uncastable-cell semantics. */
  def loadIncomeStatement(existing: DataFrame, docs: DataFrame,
                          strict: Boolean = false): DataFrame =
    loadIncomeRows(existing, incomeStatement(docs, strict))

  /** The load half of [[loadIncomeStatement]] (J1 guard with the quarterly
    * D&A null-safe facts + K1 dedup-append) over already-parsed rows —
    * split out for callers that parse once and load later, like
    * perfbench's statements daily run. */
  def loadIncomeRows(existing: DataFrame, incoming: DataFrame): DataFrame = {
    val facts = Schemas.incomeStatement.fieldNames.toSeq
      .diff(Seq("act_symbol", "date", "period",
        "income_before_depreciation_and_amortization",
        "depreciation_and_amortization"))
    val guarded = LoadOps.priorPeriodGuard(existing, incoming, facts,
      nullSafeFacts = Seq("income_before_depreciation_and_amortization",
        "depreciation_and_amortization"))
    LoadOps.dedupAppend(existing, guarded,
      Schemas.primaryKeys("income_statement"))
  }

  /** Balance sheet → three tables from one parse
    * (`balance-sheet-transform-load.rkt:115-463`, one transaction per
    * document covering assets/liabilities/equity).
    * `book_value_per_share` is the one unscaled column (`:432`). */
  def balanceSheet(docs: DataFrame, strict: Boolean = false,
                   pin: Boolean = true): Map[String, DataFrame] = {
    // pin: as in EstimatesPipeline.tables — materialize the parsed base
    // (lazy localCheckpoint, ContextCleaner-freed) only when the caller
    // consumes more than one of the three tables; persisting the nested
    // parse struct costs more than a single parse
    val parsed0 = staleGuard(
      docs.withColumn("p", parseBalanceUdf(col("html"))),
      guardPeriod = "quarterly", twoDigitYear = false)
    val parsedDocs =
      if (pin) parsed0.localCheckpoint(eager = false) else parsed0
    val rows = explodeRows(parsedDocs, strict)
    def table(name: String, scaledCols: Seq[String],
              unscaledCols: Seq[String] = Nil): DataFrame =
      rows.select(Seq(
        col("act_symbol"),
        DateFns.parseStatementDate(entry("date"), twoDigitYear = false)
          .as("date"),
        periodEnum.as("period")) ++
        scaledCols.map(c => moneyM(entry(c)).as(c)) ++
        unscaledCols.map(c => money(entry(c)).as(c)): _*)
        .filter(col("date").isNotNull)
    Map(
      "balance_sheet_assets" -> table("balance_sheet_assets",
        Schemas.balanceSheetAssets.fieldNames.toSeq
          .diff(Seq("act_symbol", "date", "period"))),
      "balance_sheet_liabilities" -> table("balance_sheet_liabilities",
        Schemas.balanceSheetLiabilities.fieldNames.toSeq
          .diff(Seq("act_symbol", "date", "period"))),
      "balance_sheet_equity" -> table("balance_sheet_equity",
        Schemas.balanceSheetEquity.fieldNames.toSeq
          .diff(Seq("act_symbol", "date", "period", "book_value_per_share")),
        unscaledCols = Seq("book_value_per_share")))
  }

  /** Cash-flow statement → `cash_flow_statement` rows. `layout2024` picks
    * the production U7 layout (both periods); the legacy U6 layout is
    * annual-only (`cash-flow-statement-transform-load.rkt:265` vs
    * `.2024-02-01.rkt:104-110`). `diluted_net_eps` unscaled. */
  def cashFlow(docs: DataFrame, layout2024: Boolean,
               strict: Boolean = false): DataFrame = {
    val parsed0 = docs.withColumn("p",
      if (layout2024) parseCf2024Udf(col("html"))
      else parseCfLegacyUdf(col("html")))
    val parsedDocs = staleGuard(parsed0,
      guardPeriod = "annual", twoDigitYear = false)
    val scaled = Schemas.cashFlowStatement.fieldNames.toSeq
      .diff(Seq("act_symbol", "date", "period", "diluted_net_eps"))
    explodeRows(parsedDocs, strict).select(Seq(
      col("act_symbol"),
      DateFns.parseStatementDate(entry("date"), twoDigitYear = false)
        .as("date"),
      periodEnum.as("period")) ++
      scaled.map(c => moneyM(entry(c)).as(c)) :+
      money(entry("diluted_net_eps")).as("diluted_net_eps"): _*)
      .filter(col("date").isNotNull)
  }

  /** J1+K1 for a statement table with plain equality facts (balance sheet
    * tables and cash-flow). */
  def loadStatement(existing: DataFrame, incoming: DataFrame,
                    table: String): DataFrame = {
    val facts = Schemas.tables(table).fieldNames.toSeq
      .diff(Seq("act_symbol", "date", "period"))
    val guarded = LoadOps.priorPeriodGuard(existing, incoming, facts)
    LoadOps.dedupAppend(existing, guarded, Schemas.primaryKeys(table))
  }
}
