package graft.extract

import java.time.LocalDate

import org.scalatest.funsuite.AnyFunSuite

/** Extractor fixtures per FIXTURES.md §2-3: layout-era addressing for
  * rank/style, table-cell addressing with section/row/column arithmetic,
  * the equity row-9 skip, and the income period-offset. */
class ExtractorsSpec extends AnyFunSuite {

  private def ribbonDoc(hero: Boolean, styleDiv: Int,
                        pipeSpans: Boolean): String =
    EstimatePages.page(EstimatePages.ribbon(hero, styleDiv, pipeSpans))

  test("U2 rank follows the 2024-11-10 hero-section move") {
    val pre = Html.parse(ribbonDoc(hero = false, styleDiv = 2, pipeSpans = true))
    val post = Html.parse(ribbonDoc(hero = true, styleDiv = 2, pipeSpans = true))
    assert(EstimateExtract.rank(pre, LocalDate.of(2024, 1, 1)) === "Buy")
    assert(EstimateExtract.rank(post, LocalDate.of(2025, 1, 1)) === "Buy")
    // wrong-era path finds nothing rather than the wrong node
    assert(EstimateExtract.rank(post, LocalDate.of(2024, 1, 1)) === "")
  }

  test("U3 style scores across all four sxpath eras") {
    // era <2018-10-07: div2, plain span n
    val e0 = Html.parse(ribbonDoc(hero = false, styleDiv = 2, pipeSpans = false))
    assert(EstimateExtract.styleScore(e0, LocalDate.of(2018, 1, 1), 3) === "C")
    // era <2020-07-04: div3, plain span n
    val e1 = Html.parse(ribbonDoc(hero = false, styleDiv = 3, pipeSpans = false))
    assert(EstimateExtract.styleScore(e1, LocalDate.of(2019, 6, 1), 4) === "D")
    // era <2020-09-20: div3, pipe spans (2n-1)
    val e2 = Html.parse(ribbonDoc(hero = false, styleDiv = 3, pipeSpans = true))
    assert(EstimateExtract.styleScore(e2, LocalDate.of(2020, 8, 1), 2) === "B")
    // era <2024-11-10: div2, pipe spans
    val e3 = Html.parse(ribbonDoc(hero = false, styleDiv = 2, pipeSpans = true))
    assert(EstimateExtract.styleScore(e3, LocalDate.of(2022, 1, 1), 1) === "A")
    // hero era: wrapped, div2, pipe spans
    val e4 = Html.parse(ribbonDoc(hero = true, styleDiv = 2, pipeSpans = true))
    assert(EstimateExtract.styleScore(e4, LocalDate.of(2025, 1, 1), 4) === "D")
  }

  private val estimateDoc =
    s"""<html><body id="home">
       |${EstimatePages.estimates}</body></html>""".stripMargin

  test("U1 sales/eps share a section: first vs second table, row offsets") {
    val p = EstimateExtract.parse(estimateDoc, LocalDate.of(2025, 1, 1))
    def cell(section: String, period: String, entry: String): String =
      p.cells(EstimateExtract.cellKey(section, period))(entry)
    // sales = 1st table, offset 0: high is row 3
    assert(cell("sales-estimates", "current-quarter", "consensus") === "10.5")
    assert(cell("sales-estimates", "current-quarter", "high") === "1000.5e6")
    assert(cell("sales-estimates", "next-quarter", "high") === "2e9")
    assert(cell("sales-estimates", "current-year", "high") === "3e12")
    assert(cell("sales-estimates", "next-year", "high") === "NA")
    // eps = 2nd table, offset 1: recent row 3, high row 4
    assert(cell("eps-estimates", "current-quarter", "recent") === "1.4")
    assert(cell("eps-estimates", "next-quarter", "high") === "2.1") // parens stripped
    assert(cell("eps-estimates", "current-year", "low") === "NA")   // bare M
    assert(cell("eps-estimates", "current-quarter", "date") === "3/2025")
  }

  /** `parse` (the section rule's pruned tree) against the same navigation
    * over the full tree, in both ribbon layouts; returns the hero-era parse. */
  private def prunedAsFull(doc: String): EstimateExtract.EstimatesParsed = {
    val full = Html.parse(doc)
    val ps = Seq(LocalDate.of(2024, 1, 1), LocalDate.of(2025, 1, 1)).map { d =>
      val p = EstimateExtract.parse(doc, d)
      assert(p === EstimateExtract.read(full, d), s"pruned differs from full on $d")
      p
    }
    ps.last
  }

  private def cell(p: EstimateExtract.EstimatesParsed, section: String,
                   entry: String, period: String = "current-quarter"): String =
    p.cells(EstimateExtract.cellKey(section, period))(entry)

  private val heroRibbon = EstimatePages.ribbon(hero = true, styleDiv = 2, pipeSpans = true)

  test("section rule: an id in a comment, a script or an attribute is no section") {
    val decoy = """<section id="detailed_earnings_estimates"><table><tbody><tr><td>C</td><td>999</td></tr></tbody></table></section>"""
    val p = prunedAsFull(EstimatePages.page(
      s"<!-- $decoy --><script>document.write('$decoy')</script>" +
        s"<div data-html='$decoy'>x</div>$heroRibbon" +
        EstimatePages.sections.mkString("\n")))
    assert(cell(p, "sales-estimates", "consensus") === "10.5")
    assert(cell(p, "eps-upside", "most-accurate") === "812")
    assert(p.rank === "Buy" && p.vgm === "D")
  }

  test("section rule: a decoy data section before the real one wins, as on the full tree") {
    val decoy = """<section id="detailed_earnings_estimates"><table><tbody><tr><td>C</td><td>777</td></tr></tbody></table></section>"""
    val doc = s"""<html><body id="home"><div id="main_content"><div id="left_content">$decoy</div>
                 |<div id="right_content">$heroRibbon${EstimatePages.sections.mkString}</div></div></body></html>""".stripMargin
    val p = prunedAsFull(doc)
    assert(cell(p, "sales-estimates", "consensus") === "777")
    assert(cell(p, "eps-estimates", "consensus") === "") // the decoy has one table
    assert(cell(p, "eps-revisions", "up-7") === "712")
  }

  test("section rule: the ribbon path takes the first body#home and div#right_content") {
    def doc(main: String, after: String = "") =
      s"""<html><body id="home"><div id="main_content">$main</div></body>$after</html>"""
    val ribbon = s"""<div id="right_content">$heroRibbon</div>"""
    // a second body#home: the first one is read, and has no ribbon
    assert(prunedAsFull(doc("", s"""<body id="home"><div id="main_content">$ribbon</div></body>""")).rank === "")
    // div#right_content after another div: found
    assert(prunedAsFull(doc(s"""<div id="left_content"><p>x</p></div>$ribbon""")).rank === "Buy")
    // the ribbon one element below div#right_content is off the path
    assert(prunedAsFull(doc(s"""<div id="right_content"><div>$heroRibbon</div></div>""")).rank === "")
    // two div#right_content: the first, empty one is read
    assert(prunedAsFull(doc(s"""<div id="right_content"></div>$ribbon""")).rank === "")
    // a candidate that fails its step keeps its place but leads nowhere
    assert(prunedAsFull(doc(s"""<div id="main_content">$ribbon</div>$ribbon""")).rank === "Buy")
  }

  test("section rule: an unclosed data section and a stray </section> in the chrome") {
    val Seq(est, rev, up, sur) = EstimatePages.sections
    val doc = s"""<html><body id="home"><div id="main_content"><div id="left_content"><p>a</section>b</p></div>
                 |<div id="right_content">$heroRibbon$est$rev${up.stripSuffix("</section>")}$sur</div></div>
                 |<footer></section></footer></body></html>""".stripMargin
    val p = prunedAsFull(doc)
    assert(cell(p, "eps-upside", "most-accurate") === "812")
    assert(cell(p, "eps-surprise", "estimate", "two-quarters-ago") === "923")
    assert(p.momentum === "C")
  }

  test("section rule: uppercase tags and unquoted ids") {
    val doc = EstimatePages.page(heroRibbon + EstimatePages.sections.mkString)
      .replace("<section", "<SECTION").replace("</section", "</SECTION")
      .replace("<div", "<DIV").replace("</div", "</DIV").replace("<td>", "<TD>")
      .replaceAll("id=\"(\\w+)\"", "ID=$1")
    assert(doc.contains("<SECTION ID=quote_upside>"))
    val p = prunedAsFull(doc)
    assert(cell(p, "eps-upside", "most-accurate") === "812")
    assert(p.rank === "Buy")
  }

  test("section rule: a data section at the bottom of 20k- and 100k-deep nests") {
    for (depth <- Seq(20000, 100000)) {
      val doc = "<html><body id=home>" + "<div>" * depth +
        EstimatePages.sections.mkString + "</div>" * depth + "</body></html>"
      val p = prunedAsFull(doc)
      assert(cell(p, "sales-estimates", "high", "next-quarter") === "2e9")
      assert(p.rank === "")
    }
  }

  private def balanceDoc: String = {
    def tbl(rows: Int, mark: String): String = {
      val body = (1 to rows).map { r =>
        "<tr><td>label</td>" + (2 to 6).map(c => s"<td>$mark$r-$c</td>").mkString + "</tr>"
      }.mkString
      s"""<table><thead><tr><th>h</th><th>3/31/2024</th><th>12/31/2023</th><th>9/30/2023</th><th>6/30/2023</th><th>3/31/2023</th></tr></thead><tbody>$body</tbody></table>"""
    }
    s"""<html><body id="home">
       |<div id="annual_income_statement">${tbl(14, "a")}${tbl(16, "l")}${tbl(11, "e")}</div>
       |<div id="quarterly_income_statement">${tbl(14, "qa")}${tbl(16, "ql")}${tbl(11, "qe")}</div>
       |</body></html>""".stripMargin
  }

  test("U4 balance sheet: 3 tables, both periods, equity row-9 skip") {
    val p = StatementExtract.parseBalanceSheet(balanceDoc)
    assert(p.rows.size === 10) // 2 periods x 5 date columns
    val a1 = p.rows.find(r => r.period == "annual" && r.dateIdx == 1).get
    assert(a1.entries("date") === "3/31/2024")
    assert(a1.entries("cash_and_equivalents") === "a2-2")
    assert(a1.entries("total_assets") === "a14-2")
    assert(a1.entries("total_liabilities") === "l16-2")
    // equity: shares_outstanding row 10, book_value row 11 (row 9 skipped)
    assert(a1.entries("shares_outstanding") === "e10-2")
    assert(a1.entries("book_value_per_share") === "e11-2")
    val q3 = p.rows.find(r => r.period == "quarterly" && r.dateIdx == 3).get
    assert(q3.entries("retained_earnings") === "qe4-4")
  }

  test("U5 income statement period-offset: per-share table shifts on annual") {
    def tbl(rows: Int, mark: String): String = {
      val body = (1 to rows).map { r =>
        "<tr><td>l</td>" + (2 to 6).map(c => s"<td>$mark$r-$c</td>").mkString + "</tr>"
      }.mkString
      s"""<table><thead><tr><th>h</th><th>12/31/23</th><th>12/31/22</th><th>12/31/21</th><th>12/31/20</th><th>12/31/19</th></tr></thead><tbody>$body</tbody></table>"""
    }
    val doc =
      s"""<html><body id="home">
         |<div id="annual_income_statement">${tbl(15, "m")}${tbl(2, "d")}${tbl(3, "s")}</div>
         |<div id="quarterly_income_statement">${tbl(15, "qm")}${tbl(3, "qs")}</div>
         |</body></html>""".stripMargin
    val p = StatementExtract.parseIncomeStatement(doc)
    val annual = p.rows.find(r => r.period == "annual" && r.dateIdx == 1).get
    val quarterly = p.rows.find(r => r.period == "quarterly" && r.dateIdx == 1).get
    assert(annual.entries("sales") === "m1-2")
    assert(annual.entries("depreciation_and_amortization") === "d2-2")
    assert(annual.entries("average_shares") === "s1-2")    // table 2+1
    assert(quarterly.entries("average_shares") === "qs1-2") // table 2+0
  }

  test("U6/U7 cash-flow layouts address the same entries differently") {
    def tbl(rows: Int, mark: String): String = {
      val body = (1 to rows).map { r =>
        "<tr><td>l</td>" + (2 to 6).map(c => s"<td>$mark$r-$c</td>").mkString + "</tr>"
      }.mkString
      s"""<table><thead><tr><th>h</th><th>12/31/2023</th><th>12/31/2022</th><th>12/31/2021</th><th>12/31/2020</th><th>12/31/2019</th></tr></thead><tbody>$body</tbody></table>"""
    }
    val legacy =
      s"""<html><body id="home">
         |<section id="cash_flow_operation">${tbl(12, "o")}</section>
         |<section id="cash_flow_use">${tbl(11, "u")}</section>
         |</body></html>""".stripMargin
    val pl = StatementExtract.parseCashFlowLegacy(legacy)
    assert(pl.rows.size === 5) // annual only
    val r1 = pl.rows.find(_.dateIdx === 1).get
    assert(r1.entries("net_income") === "o2-2")           // tbody row 2!
    assert(r1.entries("issuance_of_capital_stock") === "u1-2")
    assert(r1.entries("diluted_net_eps") === "u11-2")

    val v2024 =
      s"""<html><body id="home">
         |<div id="annual_cash_flow_statement"><div>${tbl(12, "a")}</div><div>${tbl(11, "b")}</div></div>
         |<div id="quarterly_cash_flow_statement"><div>${tbl(12, "qa")}</div><div>${tbl(11, "qb")}</div></div>
         |</body></html>""".stripMargin
    val p2 = StatementExtract.parseCashFlow2024(v2024)
    assert(p2.rows.size === 10) // both periods
    val q2 = p2.rows.find(r => r.period == "quarterly" && r.dateIdx == 2).get
    assert(q2.entries("net_income") === "qa2-3")
    assert(q2.entries("cash_at_end_of_period") === "qb10-3")
  }
}
