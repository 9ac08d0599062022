package graft.queries

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import graft.export.CsvExport
import graft.functions.{DateFns => D}
import graft.model.Schemas
import graft.operators.LoadOps
import graft.pipelines.{EstimatesPipeline, StatementsPipeline}
import graft.sources.RawZone
import Tables.t

/** Pipeline-composition round trips: fixture documents → the REAL pipeline
  * (parse → sanitize → cast/scale → guard → dedup-append) → typed table
  * rows, oracle-checked against values recomputed from the fixture formulas.
  * Plus the K2 export projection, the S5 raw-zone scan (rows-only — DuckDB
  * cannot see the fixture folder), and D8.
  */
object PipelineQueries {


  private val buildFullEstimateUdf =
    udf(ExtractQueries.buildFullEstimateDoc _)
  private val buildIncomeYYUdf =
    udf((pk: Long) => ExtractQueries.buildIncomeDoc(pk, yy2 = true))
  private val buildIncomeStrictUdf =
    udf(ExtractQueries.buildIncomeDocStrict _)
  private val buildBalanceUdf = udf(ExtractQueries.buildBalanceHtml _)
  private val buildCf2024Udf = udf(ExtractQueries.buildCashFlow2024Html _)
  private val buildCfLegacyNumUdf = udf(ExtractQueries.buildCashFlowLegacyNumHtml _)

  private def emptyTable(s: SparkSession, name: String): DataFrame =
    s.createDataFrame(s.sparkContext.emptyRDD[Row], Schemas.tables(name))

  /** DuckDB: estimate-cell variant → F1-sanitized → DOUBLE (money graded as
    * double, see the pipe1 comment). */
  private def estMoney(idx: String): String =
    s"""TRY_CAST(CASE CAST(($idx) % 8 AS INTEGER)
        WHEN 0 THEN '1234.5' WHEN 1 THEN '12.3' WHEN 2 THEN 'NA'
        WHEN 3 THEN 'NA' WHEN 4 THEN '2.5e9' WHEN 5 THEN '1.2e12'
        WHEN 6 THEN '10.00e6' ELSE '42.75' END AS DOUBLE)"""

  /** DuckDB: statement-cell variant → F2-sanitized → ×1e6 (NULL when the
    * cast fails, e.g. the parenthesized variant). */
  private def stMoneyM(idx: String): String =
    s"""(TRY_CAST(CASE CAST(($idx) % 4 AS INTEGER)
        WHEN 0 THEN '1234.5' WHEN 1 THEN '567.8' WHEN 2 THEN 'NA'
        ELSE '(9.1)' END AS DOUBLE) * 1000000)"""

  private def stMoney(idx: String): String =
    s"""TRY_CAST(CASE CAST(($idx) % 4 AS INTEGER)
        WHEN 0 THEN '1234.5' WHEN 1 THEN '567.8' WHEN 2 THEN 'NA'
        ELSE '(9.1)' END AS DOUBLE)"""

  /** The detailed-estimates fixture corpus all six pipe1* loads share: one
    * full document per part row, folder date 2025-01-01 (hero era). */
  private def estimateDocs(s: SparkSession, dir: String): DataFrame =
    ExtractQueries.spread(s, t(s, dir, "part")).select(
      concat(lit("P"), col("p_partkey")).as("act_symbol"),
      buildFullEstimateUdf(col("p_partkey")).as("html"),
      lit("2025-01-01").cast("date").as("folder_date"))

  /** Run the estimates pipeline end to end into ONE of its six tables and
    * K1-load it against an empty store. `pin = false`: a single-table
    * consumer re-parses nothing (one parse feeds one projection), and
    * caching the nested parse struct would cost more than it saves. */
  private def estLoad(s: SparkSession, dir: String, table: String): DataFrame = {
    val fresh = EstimatesPipeline.tables(estimateDocs(s, dir),
      pin = false)(table)
    LoadOps.dedupAppend(emptyTable(s, table), fresh,
      Schemas.primaryKeys(table))
  }

  /** DuckDB period-end synthesis for estimate section `s`: the thead header
    * is "(m/y)" with m=((pk+c)%12)+1, y=2020+((pk+s+c)%6); D1 end-of-month
    * turns it into the month's last day. */
  private def estPeriodEnd(s: Int): String =
    s"""last_day(make_date(2020 + CAST((p_partkey + $s + c) % 6 AS INTEGER),
                           CAST((p_partkey + c) % 12 AS INTEGER) + 1, 1))"""

  /** Balance-sheet table → (table ordinal, tbody row) per column, mirroring
    * `balance-sheet-transform-load.rkt:30-69` (see
    * StatementExtract.BalanceEntries; the equity row-9 skip is pipe3's). */
  private val AssetsRows: Seq[(String, Int)] = Seq(
    "cash_and_equivalents" -> 2, "receivables" -> 3, "notes_receivable" -> 4,
    "inventories" -> 5, "other_current_assets" -> 6,
    "total_current_assets" -> 7, "net_property_and_equipment" -> 8,
    "investments_and_advances" -> 9, "other_non_current_assets" -> 10,
    "deferred_charges" -> 11, "intangibles" -> 12,
    "deposits_and_other_assets" -> 13, "total_assets" -> 14)

  private val LiabilitiesRows: Seq[(String, Int)] = Seq(
    "notes_payable" -> 1, "accounts_payable" -> 2,
    "current_portion_long_term_debt" -> 3,
    "current_portion_capital_leases" -> 4, "accrued_expenses" -> 5,
    "income_taxes_payable" -> 6, "other_current_liabilities" -> 7,
    "total_current_liabilities" -> 8, "mortgages" -> 9,
    "deferred_taxes_or_income" -> 10, "convertible_debt" -> 11,
    "long_term_debt" -> 12, "non_current_capital_leases" -> 13,
    "other_non_current_liabilities" -> 14, "minority_interest" -> 15,
    "total_liabilities" -> 16)

  /** Cash-flow column → (fixture table ordinal, tbody row), mirroring
    * `cash-flow-statement-transform-load.rkt:28-50` (the entry list both
    * layouts share; see StatementExtract.CashFlowEntries). Table 1 =
    * sources-of-funds section, table 2 = uses-of-funds. */
  private val CashFlowRows: Seq[(String, Int, Int)] = Seq(
    ("net_income", 1, 2),
    ("depreciation_amortization_and_depletion", 1, 3),
    ("net_change_from_assets", 1, 4),
    ("net_cash_from_discontinued_operations", 1, 5),
    ("other_operating_activities", 1, 6),
    ("net_cash_from_operating_activities", 1, 7),
    ("property_and_equipment", 1, 8),
    ("acquisition_of_subsidiaries", 1, 9),
    ("investments", 1, 10),
    ("other_investing_activities", 1, 11),
    ("net_cash_from_investing_activities", 1, 12),
    ("issuance_of_capital_stock", 2, 1),
    ("issuance_of_debt", 2, 2),
    ("increase_short_term_debt", 2, 3),
    ("payment_of_dividends_and_other_distributions", 2, 4),
    ("other_financing_activities", 2, 5),
    ("net_cash_from_financing_activities", 2, 6),
    ("effect_of_exchange_rate_changes", 2, 7),
    ("net_change_in_cash_and_equivalents", 2, 8),
    ("cash_at_beginning_of_period", 2, 9),
    ("cash_at_end_of_period", 2, 10),
    ("diluted_net_eps", 2, 11))

  /** Strict-mode survival: a (doc, period, date) row survives iff EVERY
    * parsed entry cell casts — the checked cells are income table 1 rows
    * 1-15, table 2 rows 1-2 (the D&A pair), and the per-share table (3 on
    * annual pages, 2 on quarterly) rows 1-3. strictVariant poisons exactly
    * the cells with idx % 23 = 0. */
  private def strictOkSql: String = {
    def term(tbl: String, r: Int) =
      s"((p_partkey*11 + per*13 + $tbl*17 + $r*7 + di + 1) % 23) <> 0"
    val pershare = "(CASE period WHEN 'Year' THEN 3 ELSE 2 END)"
    ((1 to 15).map(r => term("1", r)) ++
      (1 to 2).map(r => term("2", r)) ++
      (1 to 3).map(r => term(pershare, r))).mkString("\n        AND ")
  }

  private def strictMoneyM(idx: String): String =
    s"(CAST((($idx) % 997) + 0.5 AS DOUBLE) * 1000000)"
  private def strictMoney(idx: String): String =
    s"CAST((($idx) % 997) + 0.5 AS DOUBLE)"

  /** DuckDB rendering of strictVariant ∘ F2 ∘ tolerant cast: NULL exactly
    * when the cell is the 'NA' poison (idx%23 = 0) — pipe4b's fixture, where
    * strict-vocabulary cells flow through the TOLERANT pipeline. */
  private def tolMoneyM(idx: String): String =
    s"""(CASE WHEN (($idx) % 23) = 0 THEN NULL
         ELSE CAST((($idx) % 997) + 0.5 AS DOUBLE) * 1000000 END)"""
  private def tolMoney(idx: String): String =
    s"""(CASE WHEN (($idx) % 23) = 0 THEN NULL
         ELSE CAST((($idx) % 997) + 0.5 AS DOUBLE) END)"""

  /** DuckDB rendering of the counter rows' intVariant ∘ F1 ∘ SMALLINT cast
    * (count and up/down revision tallies, real smallints in the reference's
    * `schema.sql:173-190`). */
  private def estCount(idx: String): String =
    s"""CASE WHEN (($idx) % 11) = 0 THEN NULL
        ELSE CAST(($idx) % 89 AS SMALLINT) END"""

  /** One balance-sheet table load graded on EVERY money column (the column
    * lists are exactly what a hash-match catches — pipe3 grades equity, these
    * grade assets/liabilities). */
  private def balanceLoadQ(qname: String, table: String, tbl: Int,
                           rows: Seq[(String, Int)]): Q =
    Q(qname, (s, dir) => {
      val docs = ExtractQueries.spread(s, t(s, dir, "part")).select(
        concat(lit("P"), col("p_partkey")).as("act_symbol"),
        buildBalanceUdf(col("p_partkey")).as("html"),
        lit("2025-06-01").cast("date").as("folder_date"))
      // pin=false: one of the three balance-sheet tables consumed
      val fresh = StatementsPipeline.balanceSheet(docs, pin = false)(table)
      StatementsPipeline.loadStatement(emptyTable(s, table), fresh, table)
        .select(Seq(col("act_symbol"), col("date"), col("period")) ++
          rows.map { case (c, _) => col(c).cast("double").as(c) }: _*)
        .orderBy("act_symbol", "period", "date")
    }, Some(s"""
      WITH pp AS (
        SELECT * FROM (VALUES ('Year', 0), ('Quarter', 1)) AS v(period, per)),
      dd AS (SELECT unnest(generate_series(1, 5)) AS di)
      SELECT 'P' || CAST(p_partkey AS VARCHAR) AS act_symbol,
             make_date(2015 + CAST((p_partkey + di + 1) % 8 AS INTEGER),
                       CAST((p_partkey + di + 1) % 12 AS INTEGER) + 1,
                       10 + CAST((p_partkey + per) % 15 AS INTEGER)) AS date,
             period,
             ${rows.map { case (c, r) =>
               s"${stMoneyM(s"p_partkey*11 + per*13 + $tbl*17 + $r*7 + di + 1")} AS $c"
             }.mkString(",\n             ")}
      FROM part CROSS JOIN pp CROSS JOIN dd
      ORDER BY act_symbol, period, date"""))

  val all: Seq[Q] = Seq(

    // Estimates pipeline end to end into eps_estimate: doc-level enum
    // validity (only pk%5=4 docs carry scores inside the A-F vocabulary —
    // the rest are "rolled back" like the reference's failed transactions),
    // D1 period-end synthesis, NA→NULL casts, K1 dedup-append.
    Q("pipe1_estimates_eps_load", (s, dir) => {
      val docs = ExtractQueries.spread(s, t(s, dir, "part")).select(
        concat(lit("P"), col("p_partkey")).as("act_symbol"),
        buildFullEstimateUdf(col("p_partkey")).as("html"),
        lit("2025-01-01").cast("date").as("folder_date"))
      // pin=false: this query consumes ONE of the six tables; caching the
      // nested parsed struct would cost more than the single parse it saves
      val fresh = EstimatesPipeline.tables(docs, pin = false)("eps_estimate")
      val loaded = LoadOps.dedupAppend(emptyTable(s, "eps_estimate"), fresh,
        Schemas.primaryKeys("eps_estimate"))
      // money columns graded as double: the harness coerces DuckDB decimals
      // to float64, and exact Decimal-vs-float compares would false-negative
      loaded.select(col("act_symbol"), col("date"), col("period"),
        col("period_end_date"), col("consensus").cast("double").as("consensus"),
        col("count"), col("recent").cast("double").as("recent"),
        col("high").cast("double").as("high"),
        col("low").cast("double").as("low"),
        col("year_ago").cast("double").as("year_ago"))
        .orderBy("act_symbol", "period")
    }, Some(s"""
      WITH pp AS (
        SELECT * FROM (VALUES
          ('Current Quarter', 2), ('Next Quarter', 3),
          ('Current Year', 4), ('Next Year', 5)) AS v(period, c))
      SELECT 'P' || CAST(p_partkey AS VARCHAR) AS act_symbol,
             DATE '2025-01-01' AS date, period,
             last_day(make_date(2020 + CAST((p_partkey + 1 + c) % 6 AS INTEGER),
                                CAST((p_partkey + c) % 12 AS INTEGER) + 1, 1))
               AS period_end_date,
             ${estMoney("p_partkey*7 + 1*31 + 1*5 + c")} AS consensus,
             ${estCount("p_partkey*7 + 1*31 + 2*5 + c")} AS count,
             ${estMoney("p_partkey*7 + 1*31 + 3*5 + c")} AS recent,
             ${estMoney("p_partkey*7 + 1*31 + 4*5 + c")} AS high,
             ${estMoney("p_partkey*7 + 1*31 + 5*5 + c")} AS low,
             ${estMoney("p_partkey*7 + 1*31 + 6*5 + c")} AS year_ago
      FROM part CROSS JOIN pp
      WHERE p_partkey % 5 = 4
      ORDER BY act_symbol, period""")),

    // rank_score load (`estimate-transform-load.rkt:177-196`): the U2 rank +
    // four U3 style letters, doc-validity enum gate (pk%5=4 keeps every
    // letter inside A-F), K1 append on PK (date, act_symbol). For valid
    // fixture docs the hero-era values are rank=5-Strong Sell and letters
    // A/B/C/D — the gate itself is what this entry grades.
    Q("pipe1b_rank_score", (s, dir) =>
      estLoad(s, dir, "rank_score").orderBy("act_symbol"),
      Some("""
      SELECT 'P' || CAST(p_partkey AS VARCHAR) AS act_symbol,
             DATE '2025-01-01' AS date,
             'Strong Sell' AS "rank", 'A' AS "value", 'B' AS growth,
             'C' AS momentum, 'D' AS vgm
      FROM part WHERE p_partkey % 5 = 4
      ORDER BY act_symbol""")),

    // sales_estimate load (`estimate-transform-load.rkt:241-270`): section 1
    // of detailed_earnings_estimates (rows consensus/count/high/low/year-ago)
    // but the period-end date comes from the EPS section's header — the
    // reference's own quirk, preserved in EstimatesPipeline.tables.
    Q("pipe1c_sales_estimate", (s, dir) =>
      estLoad(s, dir, "sales_estimate")
        .select(col("act_symbol"), col("date"), col("period"),
          col("period_end_date"),
          col("consensus").cast("double").as("consensus"), col("count"),
          col("high").cast("double").as("high"),
          col("low").cast("double").as("low"),
          col("year_ago").cast("double").as("year_ago"))
        .orderBy("act_symbol", "period"),
      Some(s"""
      WITH pp AS (
        SELECT * FROM (VALUES
          ('Current Quarter', 2), ('Next Quarter', 3),
          ('Current Year', 4), ('Next Year', 5)) AS v(period, c))
      SELECT 'P' || CAST(p_partkey AS VARCHAR) AS act_symbol,
             DATE '2025-01-01' AS date, period,
             ${estPeriodEnd(1)} AS period_end_date,
             ${estMoney("p_partkey*7 + 1*5 + c")} AS consensus,
             ${estCount("p_partkey*7 + 2*5 + c")} AS count,
             ${estMoney("p_partkey*7 + 3*5 + c")} AS high,
             ${estMoney("p_partkey*7 + 4*5 + c")} AS low,
             ${estMoney("p_partkey*7 + 5*5 + c")} AS year_ago
      FROM part CROSS JOIN pp
      WHERE p_partkey % 5 = 4
      ORDER BY act_symbol, period""")),

    // eps_revision load (`estimate-transform-load.rkt:272-305`): the
    // agreement_estimate section — six REAL smallint up/down tallies
    // (`schema.sql:173-190`) from the fixture's counter vocabulary (integer
    // or NA), plus the doc gate, the period axis, and the section's own
    // date header.
    Q("pipe1d_eps_revision", (s, dir) =>
      estLoad(s, dir, "eps_revision").orderBy("act_symbol", "period"),
      Some(s"""
      WITH pp AS (
        SELECT * FROM (VALUES
          ('Current Quarter', 2), ('Next Quarter', 3),
          ('Current Year', 4), ('Next Year', 5)) AS v(period, c))
      SELECT 'P' || CAST(p_partkey AS VARCHAR) AS act_symbol,
             DATE '2025-01-01' AS date, period,
             ${estPeriodEnd(2)} AS period_end_date,
             ${estCount("p_partkey*7 + 2*31 + 1*5 + c")} AS up_7,
             ${estCount("p_partkey*7 + 2*31 + 2*5 + c")} AS up_30,
             ${estCount("p_partkey*7 + 2*31 + 3*5 + c")} AS up_60,
             ${estCount("p_partkey*7 + 2*31 + 4*5 + c")} AS down_7,
             ${estCount("p_partkey*7 + 2*31 + 5*5 + c")} AS down_30,
             ${estCount("p_partkey*7 + 2*31 + 6*5 + c")} AS down_60
      FROM part CROSS JOIN pp
      WHERE p_partkey % 5 = 4
      ORDER BY act_symbol, period""")),

    // eps_perception load (`estimate-transform-load.rkt:307-330`): the
    // quote_upside section's single most-accurate row.
    Q("pipe1e_eps_perception", (s, dir) =>
      estLoad(s, dir, "eps_perception")
        .select(col("act_symbol"), col("date"), col("period"),
          col("period_end_date"),
          col("most_accurate").cast("double").as("most_accurate"))
        .orderBy("act_symbol", "period"),
      Some(s"""
      WITH pp AS (
        SELECT * FROM (VALUES
          ('Current Quarter', 2), ('Next Quarter', 3),
          ('Current Year', 4), ('Next Year', 5)) AS v(period, c))
      SELECT 'P' || CAST(p_partkey AS VARCHAR) AS act_symbol,
             DATE '2025-01-01' AS date, period,
             ${estPeriodEnd(3)} AS period_end_date,
             ${estMoney("p_partkey*7 + 3*31 + 1*5 + c")} AS most_accurate
      FROM part CROSS JOIN pp
      WHERE p_partkey % 5 = 4
      ORDER BY act_symbol, period""")),

    // eps_history load (`estimate-transform-load.rkt:402-432`): the surprise
    // section's four TRAILING quarters (not the estimate periods), PK
    // (act_symbol, period_end_date), no date/period columns.
    Q("pipe1f_eps_history", (s, dir) =>
      estLoad(s, dir, "eps_history")
        .select(col("act_symbol"), col("period_end_date"),
          col("reported").cast("double").as("reported"),
          col("estimate").cast("double").as("estimate"))
        .orderBy("act_symbol", "period_end_date"),
      Some(s"""
      WITH cc AS (SELECT unnest(generate_series(2, 5)) AS c)
      SELECT 'P' || CAST(p_partkey AS VARCHAR) AS act_symbol,
             ${estPeriodEnd(4)} AS period_end_date,
             ${estMoney("p_partkey*7 + 4*31 + 1*5 + c")} AS reported,
             ${estMoney("p_partkey*7 + 4*31 + 2*5 + c")} AS estimate
      FROM part CROSS JOIN cc
      WHERE p_partkey % 5 = 4
      ORDER BY act_symbol, period_end_date""")),

    // Income-statement pipeline end to end: M/dd/yy date parse, Year/Quarter
    // enum, ×1e6 scaling with per-share exemptions, quarterly D&A NULLs,
    // J1 guard + K1 append against an empty store.
    Q("pipe2_income_stmt_load", (s, dir) => {
      val docs = ExtractQueries.spread(s, t(s, dir, "part")).select(
        concat(lit("P"), col("p_partkey")).as("act_symbol"),
        buildIncomeYYUdf(col("p_partkey")).as("html"),
        lit("2025-06-01").cast("date").as("folder_date"))
      StatementsPipeline
        .loadIncomeStatement(emptyTable(s, "income_statement"), docs)
        .select(Seq(col("act_symbol"), col("date"), col("period")) ++
          Seq("sales", "net_income",
            "income_before_depreciation_and_amortization",
            "depreciation_and_amortization", "average_shares",
            "diluted_net_eps").map(c => col(c).cast("double").as(c)): _*)
        .orderBy("act_symbol", "period", "date")
    }, Some(s"""
      WITH pp AS (
        SELECT * FROM (VALUES ('Year', 0), ('Quarter', 1)) AS v(period, per)),
      dd AS (SELECT unnest(generate_series(1, 5)) AS di)
      SELECT 'P' || CAST(p_partkey AS VARCHAR) AS act_symbol,
             make_date(2015 + CAST((p_partkey + di + 1) % 8 AS INTEGER),
                       CAST((p_partkey + di + 1) % 12 AS INTEGER) + 1,
                       10 + CAST((p_partkey + per) % 15 AS INTEGER)) AS date,
             period,
             ${stMoneyM("p_partkey*11 + per*13 + 1*17 + 1*7 + di + 1")} AS sales,
             ${stMoneyM("p_partkey*11 + per*13 + 1*17 + 15*7 + di + 1")} AS net_income,
             CASE WHEN period = 'Year'
               THEN ${stMoneyM("p_partkey*11 + per*13 + 2*17 + 1*7 + di + 1")}
               ELSE NULL END AS income_before_depreciation_and_amortization,
             CASE WHEN period = 'Year'
               THEN ${stMoneyM("p_partkey*11 + per*13 + 2*17 + 2*7 + di + 1")}
               ELSE NULL END AS depreciation_and_amortization,
             ${stMoneyM("p_partkey*11 + per*13 + (CASE period WHEN 'Year' THEN 3 ELSE 2 END)*17 + 1*7 + di + 1")} AS average_shares,
             ${stMoney("p_partkey*11 + per*13 + (CASE period WHEN 'Year' THEN 3 ELSE 2 END)*17 + 3*7 + di + 1")} AS diluted_net_eps
      FROM part CROSS JOIN pp CROSS JOIN dd
      ORDER BY act_symbol, period, date""")),

    // STRICT income-statement load — the reference's actual abort semantics:
    // statement inserts cast cells with `::decimal` and NO NA mapping, so
    // any uncastable cell rolls back that (doc, period, date) insert
    // (`income-statement-transform-load.rkt:201-226`). Tolerant mode keeps
    // the row with NULLs; strict drops it. The mostly-numeric fixture leaves
    // ~40% survivors so the two modes demonstrably differ on the same docs.
    Q("pipe2b_income_strict_load", (s, dir) => {
      val docs = ExtractQueries.spread(s, t(s, dir, "part")).select(
        concat(lit("P"), col("p_partkey")).as("act_symbol"),
        buildIncomeStrictUdf(col("p_partkey")).as("html"),
        lit("2025-06-01").cast("date").as("folder_date"))
      StatementsPipeline
        .loadIncomeStatement(emptyTable(s, "income_statement"), docs,
          strict = true)
        .select(Seq(col("act_symbol"), col("date"), col("period")) ++
          Seq("sales", "net_income",
            "income_before_depreciation_and_amortization",
            "depreciation_and_amortization", "average_shares",
            "diluted_net_eps").map(c => col(c).cast("double").as(c)): _*)
        .orderBy("act_symbol", "period", "date")
    }, Some(s"""
      WITH pp AS (
        SELECT * FROM (VALUES ('Year', 0), ('Quarter', 1)) AS v(period, per)),
      dd AS (SELECT unnest(generate_series(1, 5)) AS di)
      SELECT 'P' || CAST(p_partkey AS VARCHAR) AS act_symbol,
             make_date(2015 + CAST((p_partkey + di + 1) % 8 AS INTEGER),
                       CAST((p_partkey + di + 1) % 12 AS INTEGER) + 1,
                       10 + CAST((p_partkey + per) % 15 AS INTEGER)) AS date,
             period,
             ${strictMoneyM("p_partkey*11 + per*13 + 1*17 + 1*7 + di + 1")} AS sales,
             ${strictMoneyM("p_partkey*11 + per*13 + 1*17 + 15*7 + di + 1")} AS net_income,
             CASE WHEN period = 'Year'
               THEN ${strictMoneyM("p_partkey*11 + per*13 + 2*17 + 1*7 + di + 1")}
               ELSE NULL END AS income_before_depreciation_and_amortization,
             CASE WHEN period = 'Year'
               THEN ${strictMoneyM("p_partkey*11 + per*13 + 2*17 + 2*7 + di + 1")}
               ELSE NULL END AS depreciation_and_amortization,
             ${strictMoneyM("p_partkey*11 + per*13 + (CASE period WHEN 'Year' THEN 3 ELSE 2 END)*17 + 1*7 + di + 1")} AS average_shares,
             ${strictMoney("p_partkey*11 + per*13 + (CASE period WHEN 'Year' THEN 3 ELSE 2 END)*17 + 3*7 + di + 1")} AS diluted_net_eps
      FROM part CROSS JOIN pp CROSS JOIN dd
      WHERE ${strictOkSql}
      ORDER BY act_symbol, period, date""")),

    // Balance-sheet pipeline end to end into balance_sheet_equity: the
    // equity table's row-9 skip, the unscaled book_value_per_share, M/dd/yyyy
    // date parse, J1 guard + K1 append against an empty store.
    Q("pipe3_balance_equity_load", (s, dir) => {
      val docs = ExtractQueries.spread(s, t(s, dir, "part")).select(
        concat(lit("P"), col("p_partkey")).as("act_symbol"),
        buildBalanceUdf(col("p_partkey")).as("html"),
        lit("2025-06-01").cast("date").as("folder_date"))
      // pin=false: one of the three balance-sheet tables consumed
      val fresh = StatementsPipeline
        .balanceSheet(docs, pin = false)("balance_sheet_equity")
      StatementsPipeline.loadStatement(
        emptyTable(s, "balance_sheet_equity"), fresh, "balance_sheet_equity")
        .select(Seq(col("act_symbol"), col("date"), col("period")) ++
          Seq("preferred_stock", "retained_earnings", "total_equity",
            "shares_outstanding", "book_value_per_share")
            .map(c => col(c).cast("double").as(c)): _*)
        .orderBy("act_symbol", "period", "date")
    }, Some(s"""
      WITH pp AS (
        SELECT * FROM (VALUES ('Year', 0), ('Quarter', 1)) AS v(period, per)),
      dd AS (SELECT unnest(generate_series(1, 5)) AS di)
      SELECT 'P' || CAST(p_partkey AS VARCHAR) AS act_symbol,
             make_date(2015 + CAST((p_partkey + di + 1) % 8 AS INTEGER),
                       CAST((p_partkey + di + 1) % 12 AS INTEGER) + 1,
                       10 + CAST((p_partkey + per) % 15 AS INTEGER)) AS date,
             period,
             ${stMoneyM("p_partkey*11 + per*13 + 3*17 + 1*7 + di + 1")} AS preferred_stock,
             ${stMoneyM("p_partkey*11 + per*13 + 3*17 + 4*7 + di + 1")} AS retained_earnings,
             ${stMoneyM("p_partkey*11 + per*13 + 3*17 + 7*7 + di + 1")} AS total_equity,
             ${stMoneyM("p_partkey*11 + per*13 + 3*17 + 10*7 + di + 1")} AS shares_outstanding,
             ${stMoney("p_partkey*11 + per*13 + 3*17 + 11*7 + di + 1")} AS book_value_per_share
      FROM part CROSS JOIN pp CROSS JOIN dd
      ORDER BY act_symbol, period, date""")),

    // Balance-sheet assets + liabilities loads
    // (`balance-sheet-transform-load.rkt:138-331`): the other two tables of
    // the same one-parse-three-tables document, graded on EVERY money column.
    balanceLoadQ("pipe3b_balance_assets_load", "balance_sheet_assets",
      tbl = 1, AssetsRows),
    balanceLoadQ("pipe3c_balance_liabilities_load", "balance_sheet_liabilities",
      tbl = 2, LiabilitiesRows),

    // Cash-flow pipeline end to end (2024-02-01 layout, both periods):
    // per-period div containers, unscaled diluted_net_eps, J1+K1.
    Q("pipe4_cash_flow_load", (s, dir) => {
      val docs = ExtractQueries.spread(s, t(s, dir, "part")).select(
        concat(lit("P"), col("p_partkey")).as("act_symbol"),
        buildCf2024Udf(col("p_partkey")).as("html"),
        lit("2025-06-01").cast("date").as("folder_date"))
      val fresh = StatementsPipeline.cashFlow(docs, layout2024 = true)
      StatementsPipeline.loadStatement(
        emptyTable(s, "cash_flow_statement"), fresh, "cash_flow_statement")
        .select(Seq(col("act_symbol"), col("date"), col("period")) ++
          Seq("net_income", "net_cash_from_operating_activities",
            "payment_of_dividends_and_other_distributions",
            "cash_at_end_of_period", "diluted_net_eps")
            .map(c => col(c).cast("double").as(c)): _*)
        .orderBy("act_symbol", "period", "date")
    }, Some(s"""
      WITH pp AS (
        SELECT * FROM (VALUES ('Year', 0), ('Quarter', 1)) AS v(period, per)),
      dd AS (SELECT unnest(generate_series(1, 5)) AS di)
      SELECT 'P' || CAST(p_partkey AS VARCHAR) AS act_symbol,
             make_date(2015 + CAST((p_partkey + di + 1) % 8 AS INTEGER),
                       CAST((p_partkey + di + 1) % 12 AS INTEGER) + 1,
                       10 + CAST((p_partkey + per) % 15 AS INTEGER)) AS date,
             period,
             ${stMoneyM("p_partkey*11 + per*13 + 1*17 + 2*7 + di + 1")} AS net_income,
             ${stMoneyM("p_partkey*11 + per*13 + 1*17 + 7*7 + di + 1")} AS net_cash_from_operating_activities,
             ${stMoneyM("p_partkey*11 + per*13 + 2*17 + 4*7 + di + 1")} AS payment_of_dividends_and_other_distributions,
             ${stMoneyM("p_partkey*11 + per*13 + 2*17 + 10*7 + di + 1")} AS cash_at_end_of_period,
             ${stMoney("p_partkey*11 + per*13 + 2*17 + 11*7 + di + 1")} AS diluted_net_eps
      FROM part CROSS JOIN pp CROSS JOIN dd
      ORDER BY act_symbol, period, date""")),

    // Legacy (pre-2024-02-01) cash-flow pipeline end to end, graded on
    // EVERY money column: two `section`-id containers, ANNUAL data only
    // (one 'Year' row per date column), M/dd/yyyy dates — and the annual-only
    // J1 fiscal-copy guard exercised against a NON-empty store
    // (`cash-flow-statement-transform-load.rkt:118-265`; the guard CTE at
    // :125-155 compares `date - interval '1 year'`, period 'Year').
    // Store fixture: exact prior-year copies of every third symbol's rows —
    // the reference's poison shape. The guard drops an incoming row only
    // when ALL 22 facts are non-null (bool_and over plain `=`; any NULL
    // conjunct lets the insert proceed), so the oracle's drop predicate is
    // `every fact IS NOT NULL` on the poisoned symbols. The fixture uses the
    // mostly-castable cell vocabulary (NULL only when idx%23 = 0): with the
    // half-uncastable stock cells no row is ever all-non-null and the drop
    // branch would grade vacuously; here ~4/23 of poisoned rows actually
    // drop, so BOTH guard outcomes are exercised and hash-graded.
    Q("pipe4b_cash_flow_legacy_load", (s, dir) => {
      val docs = ExtractQueries.spread(s, t(s, dir, "part")).select(
        concat(lit("P"), col("p_partkey")).as("act_symbol"),
        buildCfLegacyNumUdf(col("p_partkey")).as("html"),
        lit("2025-06-01").cast("date").as("folder_date"))
      // fresh feeds the poison-store derivation AND both load sides (guard
      // join + anti-join) — pinned, so it is one parse total.
      val fresh = StatementsPipeline.cashFlow(docs, layout2024 = false)
        .localCheckpoint()
      val tableCols = Schemas.cashFlowStatement.fieldNames.toSeq
      val poison = fresh
        .filter(expr("CAST(substr(act_symbol, 2) AS BIGINT) % 3 = 0"))
        .withColumn("date", D.priorYear(col("date")))
        .select(tableCols.map(col): _*)
      StatementsPipeline.loadStatement(poison, fresh, "cash_flow_statement")
        .select(Seq(col("act_symbol"), col("date"), col("period")) ++
          CashFlowRows.map { case (c, _, _) => col(c).cast("double").as(c) }: _*)
        .orderBy("act_symbol", "date")
    }, Some {
      def idx(tbl: Int, r: Int) = s"p_partkey*11 + $tbl*17 + $r*7 + di + 1"
      val cells = CashFlowRows.map { case (c, tbl, r) =>
        val v = if (c == "diluted_net_eps") tolMoney(idx(tbl, r))
                else tolMoneyM(idx(tbl, r))
        s"$v AS $c"
      }.mkString(",\n               ")
      val names = CashFlowRows.map(_._1).mkString(", ")
      val allNonNull = CashFlowRows.map(_._1 + " IS NOT NULL")
        .mkString("\n          AND ")
      s"""
      WITH dd AS (SELECT unnest(generate_series(1, 5)) AS di),
      incoming AS (
        SELECT p_partkey AS pk,
               'P' || CAST(p_partkey AS VARCHAR) AS act_symbol,
               make_date(2015 + CAST((p_partkey + di + 1) % 8 AS INTEGER),
                         CAST((p_partkey + di + 1) % 12 AS INTEGER) + 1,
                         10 + CAST(p_partkey % 15 AS INTEGER)) AS date,
               'Year' AS period,
               $cells
        FROM part CROSS JOIN dd),
      poison AS (
        SELECT act_symbol, CAST(date - INTERVAL 1 YEAR AS DATE) AS date,
               period, $names
        FROM incoming WHERE pk % 3 = 0),
      kept AS (
        SELECT act_symbol, date, period, $names
        FROM incoming
        WHERE NOT (pk % 3 = 0
          AND $allNonNull))
      SELECT * FROM poison
      UNION ALL
      SELECT * FROM kept
      ORDER BY act_symbol, date"""
    }),

    // Earnings-calendar pipeline end to end against a NON-empty store:
    // K4 future retraction + U8 JSON parse + K5 slide-forward + K1 append +
    // J2 superseded-window cleanup, composed exactly as the reference's
    // daily run (`earnings-calendar-transform-load.rkt:40-157`).
    // Store fixture per symbol 'S{ck}': a "near" row 3 days before the
    // incoming event (K5 victim when past, K4 victim when future), a far
    // future row (K4 victim), and a past November row (J2-window loser
    // whenever the fresh event also lands in the same statement window).
    Q("pipe5_earnings_calendar_pipeline", (s, dir) => {
      val cust = t(s, dir, "customer")
      val ck = col("c_custkey")
      val when1 = when(ck % 3 === 0, lit("amc"))
        .when(ck % 3 === 1, lit("bmo")).otherwise(lit("--"))
      val when2 = when((ck + 1) % 3 === 0, lit("amc"))
        .when((ck + 1) % 3 === 1, lit("bmo")).otherwise(lit("--"))
      val raw = concat(
        lit("window.app_data = {\"data\": [[\"<b>S"), ck,
        lit("</b>\", \"x\", \"y\", \""), when1,
        lit("\", \"z\"], [\"NFLX Quick QuoteS"), ck,
        lit("B\", \"x\", \"y\", \""), when2, lit("\", \"z\"]]}"))
      val eventDate = date_add(lit("2024-01-01").cast("date"),
        (ck % 28).cast("int"))
      val payloads = cust.select(ck, raw.as("raw"),
        eventDate.as("event_date"))
      val symA = concat(lit("S"), ck)
      val existing = cust.select(symA.as("act_symbol"),
          date_sub(eventDate, 3).as("date"),
          lit("Before market open").as("when"))
        .unionByName(cust.select(symA.as("act_symbol"),
          date_add(lit("2024-02-10").cast("date"), (ck % 7).cast("int"))
            .as("date"),
          lit("After market close").as("when")))
        .unionByName(cust.select(symA.as("act_symbol"),
          date_add(lit("2023-11-05").cast("date"), (ck % 10).cast("int"))
            .as("date"),
          lit(null).cast("string").as("when")))
      val stmtDates = cust.select(symA.as("act_symbol"))
        .unionByName(cust.select(concat(lit("S"), ck, lit("B"))
          .as("act_symbol")))
        .select(col("act_symbol"),
          lit("2023-10-15").cast("date").as("date"))
      graft.pipelines.CalendarPipeline.runEarnings(existing, payloads,
        java.sql.Date.valueOf("2024-01-15"), stmtDates)
        .orderBy("act_symbol", "date")
    }, Some("""
      WITH fresh AS (
        SELECT 'S' || CAST(c_custkey AS VARCHAR) AS act_symbol,
               CAST(DATE '2024-01-01' + INTERVAL (c_custkey % 28) DAY AS DATE)
                 AS date,
               CASE CAST(c_custkey % 3 AS INTEGER)
                 WHEN 0 THEN 'After market close'
                 WHEN 1 THEN 'Before market open' END AS "when"
        FROM customer
        UNION ALL
        SELECT 'S' || CAST(c_custkey AS VARCHAR) || 'B',
               CAST(DATE '2024-01-01' + INTERVAL (c_custkey % 28) DAY AS DATE),
               CASE CAST((c_custkey + 1) % 3 AS INTEGER)
                 WHEN 0 THEN 'After market close'
                 WHEN 1 THEN 'Before market open' END
        FROM customer),
      ex AS (
        SELECT 'S' || CAST(c_custkey AS VARCHAR) AS act_symbol,
               CAST(DATE '2024-01-01' + INTERVAL (c_custkey % 28) DAY
                    - INTERVAL 3 DAY AS DATE) AS date,
               'Before market open' AS "when"
        FROM customer
        UNION ALL
        SELECT 'S' || CAST(c_custkey AS VARCHAR),
               CAST(DATE '2024-02-10' + INTERVAL (c_custkey % 7) DAY AS DATE),
               'After market close'
        FROM customer
        UNION ALL
        SELECT 'S' || CAST(c_custkey AS VARCHAR),
               CAST(DATE '2023-11-05' + INTERVAL (c_custkey % 10) DAY AS DATE),
               NULL
        FROM customer),
      sd AS (
        SELECT DISTINCT act_symbol, DATE '2023-10-15' AS date FROM fresh),
      k4 AS (SELECT * FROM ex WHERE date < DATE '2024-01-15'),
      k5 AS (
        SELECT k.* FROM k4 k
        WHERE NOT EXISTS (
          SELECT 1 FROM fresh f
          WHERE f.act_symbol = k.act_symbol
            AND k.date >= f.date - INTERVAL 7 DAY AND k.date < f.date)),
      loaded AS (
        SELECT * FROM k5
        UNION ALL
        SELECT f.* FROM fresh f
        WHERE NOT EXISTS (SELECT 1 FROM k5 k
                          WHERE k.act_symbol = f.act_symbol
                            AND k.date = f.date)),
      wins0 AS (
        SELECT act_symbol, date FROM sd
        UNION
        SELECT act_symbol,
               CAST(max(date) + INTERVAL 1 DAY + INTERVAL 3 MONTH
                    - INTERVAL 1 DAY AS DATE)
        FROM sd GROUP BY act_symbol),
      wins AS (
        SELECT act_symbol AS wsym, date AS wstart,
               CAST(date + INTERVAL 1 DAY + INTERVAL 3 MONTH
                    - INTERVAL 1 DAY AS DATE) AS wend
        FROM wins0),
      victims AS (
        SELECT DISTINCT act_symbol, date FROM (
          SELECT l.act_symbol, l.date,
                 row_number() OVER (PARTITION BY w.wsym, w.wstart
                                    ORDER BY l.date DESC) AS rn
          FROM loaded l
          JOIN wins w ON l.act_symbol = w.wsym
            AND l.date > w.wstart AND l.date <= w.wend)
        WHERE rn > 1)
      SELECT l.act_symbol, l.date, l."when" FROM loaded l
      WHERE NOT EXISTS (SELECT 1 FROM victims v
                        WHERE v.act_symbol = l.act_symbol
                          AND v.date = l.date)
      ORDER BY act_symbol, date""")),

    // Dividend-calendar pipeline end to end against a NON-empty store:
    // K4 future retraction (on ex_date) + U8 dividend parse (F6 $-strip,
    // '--'-as-NULL payable) + K5 slide-forward + K1 append — the earnings
    // run minus J2, exactly `dividend-calendar-transform-load.rkt`.
    // Store fixture per symbol 'D{ck}': a near row 3 days before the fresh
    // ex-date (K5 victim when past, K4 victim when future), a far-future
    // row (K4 victim), and an old November row (survives).
    Q("pipe7_dividend_calendar_pipeline", (s, dir) => {
      val cust = t(s, dir, "customer")
      val ck = col("c_custkey")
      val exDate = date_add(lit("2024-01-01").cast("date"),
        (ck % 28).cast("int"))
      val amountTxt = concat(((ck % 9) + 1).cast("string"), lit(".25"))
      val payable = when(ck % 2 === 0, lit("--")).otherwise(lit("2024-12-15"))
      val raw = concat(
        lit("window.app_data = {\"data\": [[\"<b>D"), ck,
        lit("</b>\", \"a\", \"b\", \"$"), amountTxt,
        lit("\", \"c\", \""), date_format(exDate, "yyyy-MM-dd"),
        lit("\", \"d\", \""), payable, lit("\"]]}"))
      val payloads = cust.select(ck, raw.as("raw"))
      val symA = concat(lit("D"), ck)
      def money(c: Column) = c.cast("decimal(38,4)")
      val existing = cust.select(symA.as("act_symbol"),
          date_sub(exDate, 3).as("ex_date"),
          money(lit("9.99")).as("amount"),
          lit("2024-11-30").cast("date").as("payable_date"))
        .unionByName(cust.select(symA.as("act_symbol"),
          date_add(lit("2024-02-10").cast("date"), (ck % 7).cast("int"))
            .as("ex_date"),
          money(lit("8.88")).as("amount"),
          lit(null).cast("date").as("payable_date")))
        .unionByName(cust.select(symA.as("act_symbol"),
          date_add(lit("2023-11-05").cast("date"), (ck % 10).cast("int"))
            .as("ex_date"),
          money(lit("7.77")).as("amount"),
          lit("2023-12-20").cast("date").as("payable_date")))
      graft.pipelines.CalendarPipeline.runDividends(existing, payloads,
        java.sql.Date.valueOf("2024-01-15"))
        .withColumn("amount", col("amount").cast("double"))
        .orderBy("act_symbol", "ex_date")
    }, Some("""
      WITH fresh AS (
        SELECT 'D' || CAST(c_custkey AS VARCHAR) AS act_symbol,
               CAST(DATE '2024-01-01' + INTERVAL (c_custkey % 28) DAY AS DATE)
                 AS ex_date,
               CAST(CAST((c_custkey % 9) + 1 AS VARCHAR) || '.25' AS DOUBLE)
                 AS amount,
               CASE WHEN c_custkey % 2 = 0 THEN NULL
                    ELSE DATE '2024-12-15' END AS payable_date
        FROM customer),
      ex AS (
        SELECT 'D' || CAST(c_custkey AS VARCHAR) AS act_symbol,
               CAST(DATE '2024-01-01' + INTERVAL (c_custkey % 28) DAY
                    - INTERVAL 3 DAY AS DATE) AS ex_date,
               9.99 AS amount, DATE '2024-11-30' AS payable_date
        FROM customer
        UNION ALL
        SELECT 'D' || CAST(c_custkey AS VARCHAR),
               CAST(DATE '2024-02-10' + INTERVAL (c_custkey % 7) DAY AS DATE),
               8.88, NULL
        FROM customer
        UNION ALL
        SELECT 'D' || CAST(c_custkey AS VARCHAR),
               CAST(DATE '2023-11-05' + INTERVAL (c_custkey % 10) DAY AS DATE),
               7.77, DATE '2023-12-20'
        FROM customer),
      k4 AS (SELECT * FROM ex WHERE ex_date < DATE '2024-01-15'),
      k5 AS (
        SELECT k.* FROM k4 k
        WHERE NOT EXISTS (
          SELECT 1 FROM fresh f
          WHERE f.act_symbol = k.act_symbol
            AND k.ex_date >= f.ex_date - INTERVAL 7 DAY
            AND k.ex_date < f.ex_date))
      SELECT act_symbol, ex_date, CAST(amount AS DOUBLE) AS amount,
             payable_date
      FROM (
        SELECT * FROM k5
        UNION ALL
        SELECT f.* FROM fresh f
        WHERE NOT EXISTS (SELECT 1 FROM k5 k
                          WHERE k.act_symbol = f.act_symbol
                            AND k.ex_date = f.ex_date))
      ORDER BY act_symbol, ex_date""")),

    // K2 — the export projection: every column `coalesce(cast::string, '')`
    // with header+order handled by the writer (graded on the projection).
    Q("k2_csv_projection", (s, dir) => {
      val df = t(s, dir, "orders").select(
        col("o_orderkey"),
        when(col("o_orderstatus") =!= "F", col("o_orderstatus"))
          .as("status_or_null"),
        to_date(col("o_orderdate")).as("d"),
        col("o_totalprice"))
      // order numerically BEFORE the all-string projection — '10' < '2'
      // lexicographically, and the oracle orders by the numeric key too
      CsvExport.projectForCsv(df)
        .orderBy(col("o_orderkey").cast("long"))
    }, Some("""
      SELECT coalesce(CAST(o_orderkey AS VARCHAR), '') AS o_orderkey,
             coalesce(CAST(NULLIF(o_orderstatus, 'F') AS VARCHAR), '')
               AS status_or_null,
             coalesce(CAST(CAST(o_orderdate AS DATE) AS VARCHAR), '') AS d,
             coalesce(CAST(o_totalprice AS VARCHAR), '') AS o_totalprice
      FROM orders ORDER BY CAST(o_orderkey AS BIGINT)""")),

    // K2 end to end — the dump job's ACTUAL file contents: writePerDate
    // (the reference's per-date driver loop, `dump-dolt-statements.rkt:81-93`)
    // emits one headered, PK-ordered, ''-for-NULL CSV per date; the query
    // reads the emitted files back and grades them against the oracle's own
    // projection — file bytes, not just the projection expression (k2).
    Q("k2b_export_roundtrip", (s, dir) => {
      // pure read: the dump job itself ran in Fixtures (harness-materialized)
      val back = s.read.option("header", true)
        .option("recursiveFileLookup", "true")
        .csv(Fixtures.k2bExport(s, dir))
      // CSV read turns the writer's '' NULL encoding back into null;
      // re-apply the projection so both engines grade the same rendering
      CsvExport.projectForCsv(back)
        .orderBy(col("date"), col("o_orderkey").cast("long"))
    }, Some("""
      SELECT CAST(o_orderkey AS VARCHAR) AS o_orderkey,
             coalesce(CAST(NULLIF(o_orderstatus, 'F') AS VARCHAR), '')
               AS status_or_null,
             CAST(CAST(o_orderdate AS DATE) AS VARCHAR) AS date,
             CAST(o_totalprice AS VARCHAR) AS o_totalprice
      FROM orders
      WHERE CAST(o_orderdate AS DATE) < DATE '1995-01-05'
      ORDER BY date, CAST(o_orderkey AS BIGINT)""")),

    // K8 — JSONL shard export round trip: the training-data loader format
    // (one JSON object per line, deterministic hash-sharded, record-bounded
    // files). The write runs in Fixtures (harness-materialized); this entry
    // reads the emitted shards back and grades them against the source
    // table — a lossy escape/encode bug anywhere in the round trip breaks
    // the hash.
    Q("k8_jsonl_export_roundtrip", (s, dir) => {
      import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
      val schema = StructType(Seq(
        StructField("doc_id", LongType), StructField("text", StringType),
        StructField("lang", StringType), StructField("source", StringType),
        StructField("n_chars", LongType)))
      s.read.schema(schema).json(Fixtures.k8JsonlExport(s, dir))
        .select("doc_id", "text", "lang", "source", "n_chars")
        .orderBy("doc_id")
    }, Some("""
      SELECT doc_id, text, lang, source, n_chars
      FROM documents ORDER BY doc_id""")),

    // K9 — ORC round trip: the orders snapshot written as ORC (in
    // Fixtures) read back and graded against the parquet source — the
    // interchange path for ORC-native warehouses. Any type-mapping drift
    // (decimal widening, date encoding) between Spark's ORC writer and
    // reader surfaces as a hash mismatch here.
    Q("k9_orc_roundtrip", (s, dir) =>
      s.read.orc(Fixtures.k9OrcExport(s, dir))
        .select("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice", "d")
        .orderBy("o_orderkey"),
      Some("""
      SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
             CAST(o_orderdate AS DATE) AS d
      FROM orders ORDER BY o_orderkey""")),

    // K12 — snapshot CDC diff: two stored versions of the orders
    // projection (fixture: %7/%5 key sets + doubled price on %50=0)
    // classified added/removed/changed by one full-outer PK join,
    // unchanged majority dropped — what a downstream consumer syncs on
    // instead of re-reading the whole new snapshot. Bucketing both
    // versions on the PK (k3b) makes the join exchange-free.
    Q("k12_snapshot_diff", (s, dir) => {
      val (v1, v2) = Fixtures.k12SnapshotPair(s, dir)
      graft.sinks.SnapshotStore.diff(
        s.read.parquet(v1), s.read.parquet(v2),
        pk = Seq("o_orderkey"),
        payload = Seq("o_orderstatus", "o_totalprice"))
        .select("o_orderkey", "change", "old_o_orderstatus",
          "new_o_orderstatus", "old_o_totalprice", "new_o_totalprice")
        .orderBy("o_orderkey")
    }, Some("""
      WITH v1 AS (SELECT o_orderkey, o_orderstatus, o_totalprice
                  FROM orders WHERE o_orderkey % 7 <> 0),
      v2 AS (SELECT o_orderkey, o_orderstatus,
                    CASE WHEN o_orderkey % 50 = 0 THEN o_totalprice * 2
                         ELSE o_totalprice END AS o_totalprice
             FROM orders WHERE o_orderkey % 5 <> 0)
      SELECT coalesce(v1.o_orderkey, v2.o_orderkey) AS o_orderkey,
             CASE WHEN v1.o_orderkey IS NULL THEN 'added'
                  WHEN v2.o_orderkey IS NULL THEN 'removed'
                  ELSE 'changed' END AS change,
             v1.o_orderstatus AS old_o_orderstatus,
             v2.o_orderstatus AS new_o_orderstatus,
             v1.o_totalprice AS old_o_totalprice,
             v2.o_totalprice AS new_o_totalprice
      FROM v1 FULL OUTER JOIN v2 ON v1.o_orderkey = v2.o_orderkey
      WHERE v1.o_orderkey IS NULL OR v2.o_orderkey IS NULL
         OR v1.o_orderstatus IS DISTINCT FROM v2.o_orderstatus
         OR v1.o_totalprice IS DISTINCT FROM v2.o_totalprice
      ORDER BY o_orderkey""")),

    // K13 — schema evolution read: the k13 fixture holds an early batch
    // without event_type beside a later batch with it; mergeSchema unifies
    // the footer schemas and the old rows surface the added column as
    // NULL — the add-a-column migration path, graded against the source
    // recompute. (mergeSchema costs one footer read per file at planning;
    // at 100 TB you set the unified schema explicitly and skip the sweep —
    // this grades the semantics, not the discovery.)
    Q("k13_schema_evolution_read", (s, dir) =>
      s.read.option("mergeSchema", "true")
        .parquet(Fixtures.k13EvolvedEvents(s, dir))
        .select("event_id", "user_id", "value", "event_type")
        .orderBy("event_id"),
      Some("""
      SELECT event_id, user_id, value,
             CASE WHEN event_id % 2 <> 0 THEN event_type END AS event_type
      FROM events ORDER BY event_id""")),

    // K10 — partition-pruned read over the date-partitioned layout the
    // K10 fixture wrote (one directory per day, one file per directory):
    // the predicate on the partition column must resolve to directory
    // pruning (PartitionFilters in the scan — PlanSpec gates it), so at
    // 100 TB a 6-day probe reads 6/30ths of the bytes, not a full scan
    // plus filter.
    Q("k10_partition_pruned_read", (s, dir) =>
      s.read.parquet(Fixtures.k10PartitionedEvents(s, dir))
        .filter(col("d").between(lit("2024-01-10").cast("date"),
          lit("2024-01-15").cast("date")))
        .select("event_id", "user_id", "event_type", "value", "d")
        .orderBy("event_id"),
      Some("""
      SELECT event_id, user_id, event_type, value, CAST(ts AS DATE) AS d
      FROM events
      WHERE CAST(ts AS DATE) BETWEEN DATE '2024-01-10' AND DATE '2024-01-15'
      ORDER BY event_id""")),

    // D8 — posix @ 6am request key (`earnings-calendar-extract.rkt:25`).
    Q("d8_posix_6am", (s, dir) =>
      t(s, dir, "orders").select(to_date(col("o_orderdate")).as("d"))
        .distinct()
        .select(col("d"), D.posixAt6am(col("d")).as("posix_6am"))
        .orderBy("d"),
      Some("""
      SELECT d, CAST(epoch(CAST(d AS TIMESTAMP)) AS BIGINT) + 21600
               AS posix_6am
      FROM (SELECT DISTINCT CAST(o_orderdate AS DATE) AS d FROM orders)
      ORDER BY d""")),

    // Salted two-phase aggregation over skewed keys (3x2 distinct values
    // across 600k rows at sf0.1): identical answer to the plain GROUP BY,
    // but no single reducer owns a hot key.
    Q("a8_salted_skew_agg", (s, dir) => {
      val li = t(s, dir, "lineitem")
      graft.operators.SkewOps.saltedCountSum(li,
        Seq("l_returnflag", "l_linestatus"), col("l_quantity"), salts = 16)
        .select(col("l_returnflag"), col("l_linestatus"), col("n"),
          round(col("s"), 2).as("sum_qty"))
        .orderBy("l_returnflag", "l_linestatus")
    }, Some("""
      SELECT l_returnflag, l_linestatus, count(*) AS n,
             round(sum(l_quantity), 2) AS sum_qty
      FROM lineitem GROUP BY 1, 2 ORDER BY 1, 2""")),

    // Winnowing fingerprints: rolling k-gram hashes, min per w-window —
    // any shared substring of length >= w+k-1 yields a common fingerprint.
    Q("tx5_winnowing", (s, dir) =>
      graft.operators.TextAnalysis.winnowingFingerprints(
        t(s, dir, "documents"), "doc_id", "text", k = 8, w = 4)
        .orderBy("doc_id", "fp"),
      Some("""
      WITH grams AS (
        SELECT doc_id, p, length(text) AS len,
               substr(md5(substr(text, CAST(p AS INTEGER), 8)), 1, 8) AS h
        FROM documents,
             LATERAL (SELECT unnest(generate_series(1,
               greatest(length(text) - 7, 0))) AS p)),
      wins AS (
        SELECT doc_id, p, len,
               min(h) OVER (PARTITION BY doc_id ORDER BY p
                            ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS fp
        FROM grams)
      SELECT DISTINCT doc_id, fp FROM wins
      WHERE p <= len - 7 - 3
      ORDER BY doc_id, fp""")),

    // tx5's PRODUCTION hash mode, VALUE-graded (r11 item 2): same winnowing
    // plan with the codegen'd xxhash64 in place of the per-position md5
    // digest. DuckDB has no xxhash64 to replicate the fingerprint VALUES,
    // so the grade is the winnowing THEOREM itself: any two documents
    // sharing a substring of length >= w+k-1 = 11 are guaranteed to share a
    // selected fingerprint (both select the minimum of identical hash
    // windows inside the match). The query intersects xx-fingerprint-
    // sharing candidate pairs with exact shared-11-gram pairs (df <= 20
    // stop-gram cap, dd10's argument, applied identically in the oracle);
    // by the theorem that intersection IS the exact 11-gram pair set, which
    // DuckDB recomputes from raw text — a fingerprint the xx mode fails to
    // select hashes red. Runs on the deterministic doc_id%10 sample so the
    // >=1-shared-fp candidate join stays bounded at bench SF (the full-
    // corpus winnowing plan is still benched + hash-graded as tx5/dd10).
    Q("tx5b_winnowing_xxhash", (s, dir) => {
      val docs = t(s, dir, "documents").filter(col("doc_id") % 10 === 0)
      val fps = graft.operators.TextAnalysis.winnowingFingerprints(
        docs, "doc_id", "text", k = 8, w = 4,
        mode = graft.operators.HashMode.XxHash64)
        .localCheckpoint()
      val cand = fps.as("a")
        .join(fps.as("b"), col("a.fp") === col("b.fp") &&
          col("a.doc_id") < col("b.doc_id"))
        .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
        .distinct()
      // r15 (the tx27/winnowing move): 11-grams rebuilt from a per-doc
      // char array — substr(p, 11) per position scanned O(p) bytes each
      val g11 = when(size(col("__cs")) >= 11,
        array_distinct(transform(sequence(lit(1), size(col("__cs")) - 10),
          p => array_join(slice(col("__cs"), p, lit(11)), ""))))
        .otherwise(array().cast("array<string>"))
      val grams = docs
        .select(col("doc_id"), split(col("text"), "").as("__cs"))
        .select(col("doc_id"), explode(g11).as("g"))
        .select(col("doc_id"), xxhash64(col("g")).as("gh"))
        .localCheckpoint()
      val rare = grams.join(
        grams.groupBy("gh").agg(count(lit(1)).as("df"))
          .filter(col("df") <= 20).select("gh"), "gh")
      cand
        .join(rare.select(col("doc_id").as("doc_a"), col("gh")), "doc_a")
        .join(rare.select(col("doc_id").as("doc_b"), col("gh")),
          Seq("doc_b", "gh"))
        .groupBy("doc_a", "doc_b").agg(count(lit(1)).as("shared_grams"))
        .select("doc_a", "doc_b", "shared_grams")
        .orderBy("doc_a", "doc_b")
    }, Some("""
      WITH d AS (SELECT doc_id, text FROM documents WHERE doc_id % 10 = 0),
      grams AS (
        SELECT DISTINCT doc_id, substr(text, CAST(p AS INTEGER), 11) AS g
        FROM d, LATERAL (SELECT unnest(generate_series(1,
          greatest(length(text) - 10, 0))) AS p)),
      rare AS (
        SELECT doc_id, g FROM (
          SELECT doc_id, g, count(*) OVER (PARTITION BY g) AS df FROM grams)
        WHERE df <= 20)
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS shared_grams
      FROM rare a JOIN rare b ON a.g = b.g AND a.doc_id < b.doc_id
      GROUP BY 1, 2
      ORDER BY 1, 2""")),

    // The winnowing read-out: document pairs sharing >= 10 selected
    // fingerprints (each witnesses a common substring of length >= 11) —
    // copy detection over tx5's fingerprint table. Fingerprints seen in
    // more than 20 docs are dropped first: the "stop fingerprint" cap that
    // keeps a corpus-wide boilerplate substring from exploding into m²
    // pairs at scale. (This corpus shares a lot of 8-char substrings:
    // df<=50/shared>=3 matched 72k of 125k possible pairs — these
    // thresholds keep the 23 genuinely heavy-overlap pairs.)
    Q("dd10_fingerprint_matches", (s, dir) =>
      graft.operators.TextAnalysis.fingerprintMatchPairs(
        t(s, dir, "documents"), "doc_id", "text", k = 8, w = 4,
        minShared = 10, maxDf = 20)
        .orderBy("doc_a", "doc_b"),
      Some("""
      WITH grams AS (
        SELECT doc_id, p, length(text) AS len,
               substr(md5(substr(text, CAST(p AS INTEGER), 8)), 1, 8) AS h
        FROM documents,
             LATERAL (SELECT unnest(generate_series(1,
               greatest(length(text) - 7, 0))) AS p)),
      wins AS (
        SELECT doc_id, p, len,
               min(h) OVER (PARTITION BY doc_id ORDER BY p
                            ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS fp
        FROM grams),
      fps AS (SELECT DISTINCT doc_id, fp FROM wins WHERE p <= len - 7 - 3),
      rare AS (
        SELECT doc_id, fp FROM (
          SELECT doc_id, fp, count(*) OVER (PARTITION BY fp) AS df FROM fps)
        WHERE df <= 20)
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS shared_fps
      FROM rare a JOIN rare b ON a.fp = b.fp AND a.doc_id < b.doc_id
      GROUP BY 1, 2 HAVING count(*) >= 10
      ORDER BY 1, 2""")),

    // dd10's BENCH-TIER twin (r11 item 6): the identical copy-detection
    // read-out on the deterministic doc_id%5 sample — same k/w, same
    // stop-fingerprint cap, same minShared. The full-corpus version above
    // is the audit (and stays Verify-graded); the per-round bench times
    // this 20% sample instead (Bench.AuditTier).
    Q("dd10b_fingerprint_sampled", (s, dir) =>
      graft.operators.TextAnalysis.fingerprintMatchPairs(
        t(s, dir, "documents").filter(col("doc_id") % 5 === 0),
        "doc_id", "text", k = 8, w = 4, minShared = 10, maxDf = 20)
        .orderBy("doc_a", "doc_b"),
      Some("""
      WITH grams AS (
        SELECT doc_id, p, length(text) AS len,
               substr(md5(substr(text, CAST(p AS INTEGER), 8)), 1, 8) AS h
        FROM documents,
             LATERAL (SELECT unnest(generate_series(1,
               greatest(length(text) - 7, 0))) AS p)
        WHERE doc_id % 5 = 0),
      wins AS (
        SELECT doc_id, p, len,
               min(h) OVER (PARTITION BY doc_id ORDER BY p
                            ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS fp
        FROM grams),
      fps AS (SELECT DISTINCT doc_id, fp FROM wins WHERE p <= len - 7 - 3),
      rare AS (
        SELECT doc_id, fp FROM (
          SELECT doc_id, fp, count(*) OVER (PARTITION BY fp) AS df FROM fps)
        WHERE df <= 20)
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS shared_fps
      FROM rare a JOIN rare b ON a.fp = b.fp AND a.doc_id < b.doc_id
      GROUP BY 1, 2 HAVING count(*) >= 10
      ORDER BY 1, 2""")),

    // S5 — raw-zone scan: dated fixture folder + suffix glob + symbol from
    // filename. The fixture folder (Fixtures.s5Base) is deterministic —
    // three fixed documents plus one wrong-suffix file the glob must skip —
    // so the grade is a full CONTENT check: symbol, byte length, and an md5
    // digest of each scanned file, against a DuckDB VALUES oracle that
    // derives the same digests from the same literal text. Proves suffix
    // filtering, symbol-from-filename, and byte-exact content in one hash.
    Q("s5_raw_zone_scan", (s, dir) =>
      RawZone.scanDocuments(s, Fixtures.s5Base, "2024-01-15",
        "detailed-estimates")
        .select(col("act_symbol"), length(col("html")).as("nchars"),
          md5(col("html")).as("html_md5"), col("folder_date"))
        .orderBy("act_symbol"),
      Some("""
      SELECT act_symbol, nchars, md5(body) AS html_md5,
             DATE '2024-01-15' AS folder_date
      FROM (VALUES
        ('AAPL', 35, '<html><body id=home>a</body></html>'),
        ('MSFT', 35, '<html><body id=home>m</body></html>'),
        ('NVDA', 35, '<html><body id=home>n</body></html>'))
        AS t(act_symbol, nchars, body)
      ORDER BY act_symbol""")),

    // §2.8 — the streaming calendar round trip, VALUE-graded. The stream
    // itself (file source over a drop dir, two micro-batches through
    // foreachFolderBatch composing K5 slide-forward + K1 dedup-append per
    // trigger) runs in Fixtures.st3Snapshot, which parks the final store as
    // parquet; the registered query is a pure read of that snapshot. DuckDB
    // cannot see the drop dir, but the drop-dir CONTENT is a deterministic
    // two-day fixture, so the exactly-once end state is a known literal:
    // the oracle is a VALUES table of it (the s5 convention). A duplicate
    // PK surviving K1, a missed K5 retraction of MSFT 01-12, or a dropped
    // batch all hash red here — this was r11's last rows-only entry.
    Q("st3_foreachbatch_calendar", (s, dir) =>
      s.read.schema(Schemas.tables("earnings_calendar"))
        .parquet(Fixtures.st3Snapshot(s))
        .orderBy("act_symbol", "date"),
      Some("""
      SELECT act_symbol, d AS date, w AS "when"
      FROM (VALUES
        ('AAPL', DATE '2024-01-10', 'Before market open'),
        ('AMZN', DATE '2024-01-25', 'Before market open'),
        ('MSFT', DATE '2024-01-14', 'After market close'),
        ('NVDA', DATE '2024-01-20', CAST(NULL AS VARCHAR)))
        AS t(act_symbol, d, w)
      ORDER BY act_symbol, d"""))
  )
}
