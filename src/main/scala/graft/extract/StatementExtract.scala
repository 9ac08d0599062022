package graft.extract

/** U4–U7 — the financial-statement document extractors
  * (`balance-sheet-transform-load.rkt:14-78`,
  * `income-statement-transform-load.rkt:14-55`,
  * `cash-flow-statement-transform-load.rkt:14-57` and the
  * `.2024-02-01.rkt:14-60` layout).
  *
  * Each statement kind is described declaratively: entry → (table ordinal,
  * row). One parse per document emits every (period, date-column) cell as a
  * generic row `(period, dateIdx, entries)`, where `entries` maps entry name
  * (snake_case, matching the target table column) to the F2-sanitized cell
  * text. The figure-to-column typing (×1e6 scaling, NA→NULL, per-share
  * exemptions) happens in DataFrame expressions downstream, like the
  * reference does it in SQL.
  */
object StatementExtract {

  /** One (period, date-column) slice of a statement document. `dateIdx` is
    * 1-based recency (1 = most recent, column 2 of the table). `entries`
    * includes the raw date header under "date". */
  final case class StmtRow(period: String, dateIdx: Int,
                           entries: Map[String, String])

  final case class StmtParsed(rows: Seq[StmtRow])

  /** F2 — trim + strip commas (`income-statement-transform-load.rkt:53-55`).
    * The string side of `ScalarFns.trimCommas`, with the same whitespace
    * difference as [[EstimateExtract.sanitizeCell]]: `String.trim` strips
    * every char ≤ U+0020, Spark's `trim` only spaces. */
  def sanitizeStatementCell(raw: String): String =
    raw.trim.replace(",", "")

  // entry → (table ordinal within section, tbody row). Rows cite the case
  // tables of the corresponding transform-load.

  /** `balance-sheet-transform-load.rkt:30-69`; equity rows skip ordinal 9 —
    * shares_outstanding is row 10, book_value_per_share 11 (`:67-68`). */
  private val BalanceEntries: Seq[(String, (Int, Int))] = Seq(
    "cash_and_equivalents" -> (1, 2), "receivables" -> (1, 3),
    "notes_receivable" -> (1, 4), "inventories" -> (1, 5),
    "other_current_assets" -> (1, 6), "total_current_assets" -> (1, 7),
    "net_property_and_equipment" -> (1, 8),
    "investments_and_advances" -> (1, 9),
    "other_non_current_assets" -> (1, 10), "deferred_charges" -> (1, 11),
    "intangibles" -> (1, 12), "deposits_and_other_assets" -> (1, 13),
    "total_assets" -> (1, 14),
    "notes_payable" -> (2, 1), "accounts_payable" -> (2, 2),
    "current_portion_long_term_debt" -> (2, 3),
    "current_portion_capital_leases" -> (2, 4), "accrued_expenses" -> (2, 5),
    "income_taxes_payable" -> (2, 6), "other_current_liabilities" -> (2, 7),
    "total_current_liabilities" -> (2, 8), "mortgages" -> (2, 9),
    "deferred_taxes_or_income" -> (2, 10), "convertible_debt" -> (2, 11),
    "long_term_debt" -> (2, 12), "non_current_capital_leases" -> (2, 13),
    "other_non_current_liabilities" -> (2, 14), "minority_interest" -> (2, 15),
    "total_liabilities" -> (2, 16),
    "preferred_stock" -> (3, 1), "common_stock" -> (3, 2),
    "capital_surplus" -> (3, 3), "retained_earnings" -> (3, 4),
    "other_equity" -> (3, 5), "treasury_stock" -> (3, 6),
    "total_equity" -> (3, 7), "total_liabilities_and_equity" -> (3, 8),
    "shares_outstanding" -> (3, 10), "book_value_per_share" -> (3, 11))

  /** `income-statement-transform-load.rkt:25-45`; the per-share table shifts
    * +1 for annual (`period-offset`, `:15-17`). Offset-sensitive entries are
    * marked with table ordinal 0 and resolved at parse time. */
  private val IncomeEntries: Seq[(String, (Int, Int))] = Seq(
    "sales" -> (1, 1), "cost_of_goods" -> (1, 2), "gross_profit" -> (1, 3),
    "selling_administrative_depreciation_amortization_expenses" -> (1, 4),
    "income_after_depreciation_and_amortization" -> (1, 5),
    "non_operating_income" -> (1, 6), "interest_expense" -> (1, 7),
    "pretax_income" -> (1, 8), "income_taxes" -> (1, 9),
    "minority_interest" -> (1, 10), "investment_gains" -> (1, 11),
    "other_income" -> (1, 12), "income_from_continuing_operations" -> (1, 13),
    "extras_and_discontinued_operations" -> (1, 14), "net_income" -> (1, 15),
    "income_before_depreciation_and_amortization" -> (2, 1),
    "depreciation_and_amortization" -> (2, 2),
    // table 0 = 2 + period-offset (annual pages carry an extra table)
    "average_shares" -> (0, 1),
    "diluted_eps_before_non_recurring_items" -> (0, 2),
    "diluted_net_eps" -> (0, 3))

  /** Shared by both cash-flow layouts
    * (`cash-flow-statement-transform-load.rkt:28-50`, identical entry list
    * in the `.2024-02-01` variant `:28-51`): table 1 = sources ("cash flow"),
    * table 2 = uses of funds. */
  private val CashFlowEntries: Seq[(String, (Int, Int))] = Seq(
    "net_income" -> (1, 2),
    "depreciation_amortization_and_depletion" -> (1, 3),
    "net_change_from_assets" -> (1, 4),
    "net_cash_from_discontinued_operations" -> (1, 5),
    "other_operating_activities" -> (1, 6),
    "net_cash_from_operating_activities" -> (1, 7),
    "property_and_equipment" -> (1, 8),
    "acquisition_of_subsidiaries" -> (1, 9), "investments" -> (1, 10),
    "other_investing_activities" -> (1, 11),
    "net_cash_from_investing_activities" -> (1, 12),
    "issuance_of_capital_stock" -> (2, 1), "issuance_of_debt" -> (2, 2),
    "increase_short_term_debt" -> (2, 3),
    "payment_of_dividends_and_other_distributions" -> (2, 4),
    "other_financing_activities" -> (2, 5),
    "net_cash_from_financing_activities" -> (2, 6),
    "effect_of_exchange_rate_changes" -> (2, 7),
    "net_change_in_cash_and_equivalents" -> (2, 8),
    "cash_at_beginning_of_period" -> (2, 9),
    "cash_at_end_of_period" -> (2, 10), "diluted_net_eps" -> (2, 11))

  private val DateCols = 1 to 5 // table columns 2..6, newest first

  /** All tables under a container, each materialized to a [[TableGrid]] in
    * one walk — per-cell lookups are O(1) afterwards (the per-cell DOM
    * re-traversal is what the reference pays per sxpath). */
  private def gridsUnder(container: HElem): Vector[TableGrid] =
    container.descendants.filter(_.tag == "table").map(TableGrid.of).toVector

  private def cellOf(grids: Vector[TableGrid], tableOrdinal: Int,
                     rowGroup: String, row: Int, col: Int): String =
    sanitizeStatementCell(
      if (tableOrdinal < 1 || tableOrdinal > grids.size) ""
      else grids(tableOrdinal - 1).cell(rowGroup, row, col))

  private def sliceRows(container: HElem, period: String,
                        entries: Seq[(String, (Int, Int))],
                        periodOffset: Int): Seq[StmtRow] = {
    val grids = gridsUnder(container)
    DateCols.map { dateIdx =>
      val col = dateIdx + 1
      val m = entries.map { case (name, (tbl0, row)) =>
        val tbl = if (tbl0 == 0) 2 + periodOffset else tbl0
        name -> cellOf(grids, tbl, "tbody", row, col)
      } :+ ("date" -> cellOf(grids, 1, "thead", 1, col))
      StmtRow(period, dateIdx, m.toMap)
    }
  }

  /** U4 — both balance-sheet periods live under *income-statement* section
    * ids (a quirk the reference preserves,
    * `balance-sheet-transform-load.rkt:20-22`). */
  def parseBalanceSheet(html: String): StmtParsed = {
    val root = Html.parse(html)
    val rows = Seq("annual" -> "annual_income_statement",
      "quarterly" -> "quarterly_income_statement").flatMap {
      case (period, secId) =>
        root.byId("div", secId).toSeq
          .flatMap(sliceRows(_, period, BalanceEntries, periodOffset = 0))
    }
    StmtParsed(rows)
  }

  /** U5 — income statement; annual pages shift the per-share table by one
    * (`income-statement-transform-load.rkt:15-17`). */
  def parseIncomeStatement(html: String): StmtParsed = {
    val root = Html.parse(html)
    val rows = Seq("annual" -> 1, "quarterly" -> 0).flatMap {
      case (period, offset) =>
        root.byId("div", s"${period}_income_statement").toSeq
          .flatMap(sliceRows(_, period, IncomeEntries, offset))
    }
    StmtParsed(rows)
  }

  /** U6 — pre-2024-02-01 cash-flow layout: two `section` ids, annual data
    * only (`cash-flow-statement-transform-load.rkt:14-57`). Tables 1/2 of
    * the entry spec map to the two sections. */
  def parseCashFlowLegacy(html: String): StmtParsed = {
    val root = Html.parse(html)
    val ops = root.byId("section", "cash_flow_operation").map(gridsUnder)
    val uses = root.byId("section", "cash_flow_use").map(gridsUnder)
    val rows = DateCols.flatMap { dateIdx =>
      val col = dateIdx + 1
      val sections = Map(1 -> ops, 2 -> uses)
      val cells = CashFlowEntries.flatMap { case (name, (tbl, row)) =>
        sections(tbl).map(g => name -> cellOf(g, 1, "tbody", row, col))
      }
      val date = ops.map(g => "date" -> cellOf(g, 1, "thead", 1, col))
      if (cells.isEmpty && date.isEmpty) Nil
      else Seq(StmtRow("annual", dateIdx, (cells ++ date).toMap))
    }
    StmtParsed(rows)
  }

  /** U7 — 2024-02-01 cash-flow layout (the one in production,
    * `cash-flow-statement-transform-load.2024-02-01.rkt:14-60`): per-period
    * `div` ids with two inner `div`s each holding one table. */
  def parseCashFlow2024(html: String): StmtParsed = {
    val root = Html.parse(html)
    val rows = Seq("annual", "quarterly").flatMap { period =>
      root.byId("div", s"${period}_cash_flow_statement").toSeq.flatMap { sec =>
        val divGrids: Map[Int, Vector[TableGrid]] =
          Seq(1, 2).flatMap(i => sec.kid("div", i).map(i -> gridsUnder(_)))
            .toMap
        DateCols.flatMap { dateIdx =>
          val col = dateIdx + 1
          val cells = CashFlowEntries.flatMap { case (name, (tbl, row)) =>
            divGrids.get(tbl).map(g => name -> cellOf(g, 1, "tbody", row, col))
          }
          val date = divGrids.get(1)
            .map(g => "date" -> cellOf(g, 1, "thead", 1, col))
          if (cells.isEmpty) Nil
          else Seq(StmtRow(period, dateIdx, (cells ++ date).toMap))
        }
      }
    }
    StmtParsed(rows)
  }
}
