package graft.model

import org.apache.spark.sql.types._

/** Table schemas + enum vocabularies of the zacks star-ish model.
  *
  * Derived from the reference DDL (`/root/reference/schema.sql:3-293`): 12
  * fact tables keyed by `(act_symbol, date[, period])`, 5 domain enums, and
  * the `to_integer_rank` ordinal helper (realized in
  * [[graft.functions.ScalarFns.toIntegerRank]]).
  *
  * Each struct is the only statement of its table's columns, their order
  * and their types: the pipelines project every table from it.
  *
  * Postgres `numeric` (unbounded) maps to `DecimalType(38, 4)`: the largest
  * observed magnitude is a `T`-suffixed figure expanded ×1e12 then unit-scaled
  * ×1e6 (~1e19), comfortably inside 38-4=34 integer digits. Enum columns stay
  * `StringType`; rank/score membership is the `isin` filter in
  * [[graft.pipelines.EstimatesPipeline.parsed]], which drops the document.
  */
object Schemas {

  /** Enum vocabularies — `schema.sql:3-16`. Order is the ordinal order. */
  object Enums {
    val estimatePeriod: Seq[String] =
      Seq("Current Quarter", "Next Quarter", "Current Year", "Next Year")
    val rank: Seq[String] =
      Seq("Strong Buy", "Buy", "Hold", "Sell", "Strong Sell")
    val score: Seq[String] = Seq("A", "B", "C", "D", "F")
    val statementPeriod: Seq[String] = Seq("Year", "Quarter")
    val when: Seq[String] = Seq("Before market open", "After market close")
  }

  /** Money figure: Postgres unbounded numeric. */
  val Money: DecimalType = DecimalType(38, 4)

  private def sym = StructField("act_symbol", StringType, nullable = false)
  private def dt(name: String) = StructField(name, DateType, nullable = false)
  private def per = StructField("period", StringType, nullable = false)
  private def money(names: String*): Seq[StructField] =
    names.map(StructField(_, Money, nullable = true))

  /** `schema.sql:18-41` — PK (act_symbol, date, period). */
  val balanceSheetAssets: StructType = StructType(
    Seq(sym, dt("date"), per) ++ money(
      "cash_and_equivalents", "receivables", "notes_receivable",
      "inventories", "other_current_assets", "total_current_assets",
      "net_property_and_equipment", "investments_and_advances",
      "other_non_current_assets", "deferred_charges", "intangibles",
      "deposits_and_other_assets", "total_assets"))

  /** `schema.sql:43-63` — PK (act_symbol, date, period). */
  val balanceSheetEquity: StructType = StructType(
    Seq(sym, dt("date"), per) ++ money(
      "preferred_stock", "common_stock", "capital_surplus",
      "retained_earnings", "other_equity", "treasury_stock", "total_equity",
      "total_liabilities_and_equity", "shares_outstanding",
      "book_value_per_share"))

  /** `schema.sql:65-91` — PK (act_symbol, date, period). */
  val balanceSheetLiabilities: StructType = StructType(
    Seq(sym, dt("date"), per) ++ money(
      "notes_payable", "accounts_payable", "current_portion_long_term_debt",
      "current_portion_capital_leases", "accrued_expenses",
      "income_taxes_payable", "other_current_liabilities",
      "total_current_liabilities", "mortgages", "deferred_taxes_or_income",
      "convertible_debt", "long_term_debt", "non_current_capital_leases",
      "other_non_current_liabilities", "minority_interest",
      "total_liabilities"))

  /** `schema.sql:93-125` — PK (act_symbol, date, period). */
  val cashFlowStatement: StructType = StructType(
    Seq(sym, dt("date"), per) ++ money(
      "net_income", "depreciation_amortization_and_depletion",
      "net_change_from_assets", "net_cash_from_discontinued_operations",
      "other_operating_activities", "net_cash_from_operating_activities",
      "property_and_equipment", "acquisition_of_subsidiaries", "investments",
      "other_investing_activities", "net_cash_from_investing_activities",
      "issuance_of_capital_stock", "issuance_of_debt",
      "increase_short_term_debt",
      "payment_of_dividends_and_other_distributions",
      "other_financing_activities", "net_cash_from_financing_activities",
      "effect_of_exchange_rate_changes",
      "net_change_in_cash_and_equivalents", "cash_at_beginning_of_period",
      "cash_at_end_of_period", "diluted_net_eps"))

  /** `schema.sql:127-144` — PK (date, act_symbol, period). */
  val epsEstimate: StructType = StructType(
    Seq(sym, dt("date"), per, dt("period_end_date")) ++
      money("consensus", "recent") ++
      Seq(StructField("count", ShortType, nullable = true)) ++
      money("high", "low", "year_ago"))

  /** `schema.sql:146-157` — PK (act_symbol, period_end_date). */
  val epsHistory: StructType = StructType(
    Seq(sym, dt("period_end_date")) ++ money("reported", "estimate"))

  /** `schema.sql:159-171` — PK (date, act_symbol, period). */
  val epsPerception: StructType = StructType(
    Seq(sym, dt("date"), per, dt("period_end_date")) ++
      money("most_accurate"))

  /** `schema.sql:173-190` — PK (date, act_symbol, period). */
  val epsRevision: StructType = StructType(
    Seq(sym, dt("date"), per, dt("period_end_date")) ++
      Seq("up_7", "up_30", "up_60", "down_7", "down_30", "down_60")
        .map(StructField(_, ShortType, nullable = true)))

  /** `schema.sql:192-222` — PK (act_symbol, date, period). */
  val incomeStatement: StructType = StructType(
    Seq(sym, dt("date"), per) ++ money(
      "sales", "cost_of_goods", "gross_profit",
      "selling_administrative_depreciation_amortization_expenses",
      "income_after_depreciation_and_amortization", "non_operating_income",
      "interest_expense", "pretax_income", "income_taxes",
      "minority_interest", "investment_gains", "other_income",
      "income_from_continuing_operations",
      "extras_and_discontinued_operations", "net_income",
      "income_before_depreciation_and_amortization",
      "depreciation_and_amortization", "average_shares",
      "diluted_eps_before_non_recurring_items", "diluted_net_eps"))

  /** `schema.sql:224-238` — PK (date, act_symbol); all enums NOT NULL. */
  val rankScore: StructType = StructType(Seq(
    sym, dt("date"),
    StructField("rank", StringType, nullable = false),
    StructField("value", StringType, nullable = false),
    StructField("growth", StringType, nullable = false),
    StructField("momentum", StringType, nullable = false),
    StructField("vgm", StringType, nullable = false)))

  /** `schema.sql:240-256` — PK (date, act_symbol, period); no `recent`. */
  val salesEstimate: StructType = StructType(
    Seq(sym, dt("date"), per, dt("period_end_date")) ++
      money("consensus") ++
      Seq(StructField("count", ShortType, nullable = true)) ++
      money("high", "low", "year_ago"))

  /** `schema.sql:258-266` — PK (act_symbol, ex_date); amount NOT NULL. */
  val dividendCalendar: StructType = StructType(Seq(
    sym, dt("ex_date"),
    StructField("amount", Money, nullable = false),
    StructField("payable_date", DateType, nullable = true)))

  /** `schema.sql:268-278` — PK (act_symbol, date); `when` nullable. */
  val earningsCalendar: StructType = StructType(Seq(
    sym, dt("date"), StructField("when", StringType, nullable = true)))

  /** Primary keys, table → PK column list (schema.sql PKEY constraints). */
  val primaryKeys: Map[String, Seq[String]] = Map(
    "balance_sheet_assets" -> Seq("act_symbol", "date", "period"),
    "balance_sheet_equity" -> Seq("act_symbol", "date", "period"),
    "balance_sheet_liabilities" -> Seq("act_symbol", "date", "period"),
    "cash_flow_statement" -> Seq("act_symbol", "date", "period"),
    "eps_estimate" -> Seq("date", "act_symbol", "period"),
    "eps_history" -> Seq("act_symbol", "period_end_date"),
    "eps_perception" -> Seq("date", "act_symbol", "period"),
    "eps_revision" -> Seq("date", "act_symbol", "period"),
    "income_statement" -> Seq("act_symbol", "date", "period"),
    "rank_score" -> Seq("date", "act_symbol"),
    "sales_estimate" -> Seq("date", "act_symbol", "period"),
    "dividend_calendar" -> Seq("act_symbol", "ex_date"),
    "earnings_calendar" -> Seq("act_symbol", "date"))

  val tables: Map[String, StructType] = Map(
    "balance_sheet_assets" -> balanceSheetAssets,
    "balance_sheet_equity" -> balanceSheetEquity,
    "balance_sheet_liabilities" -> balanceSheetLiabilities,
    "cash_flow_statement" -> cashFlowStatement,
    "eps_estimate" -> epsEstimate,
    "eps_history" -> epsHistory,
    "eps_perception" -> epsPerception,
    "eps_revision" -> epsRevision,
    "income_statement" -> incomeStatement,
    "rank_score" -> rankScore,
    "sales_estimate" -> salesEstimate,
    "dividend_calendar" -> dividendCalendar,
    "earnings_calendar" -> earningsCalendar)
}
