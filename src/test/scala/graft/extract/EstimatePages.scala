package graft.extract

import java.time.LocalDate

/** Detailed-estimates page pieces shared by the extractor specs and
  * properties: the rank ribbon of each layout era, the five data sections,
  * and the page shell whose strict child path leads to the ribbon. */
object EstimatePages {

  /** The rank ribbon: rank "Buy", style scores A-D in the second or third
    * div, pipe separator spans from 2020-07-04, the hero wrapper from
    * 2024-11-10. */
  def ribbon(hero: Boolean, styleDiv: Int, pipeSpans: Boolean): String = {
    val spans =
      if (pipeSpans)
        "<span>A</span><span>|</span><span>B</span><span>|</span><span>C</span><span>|</span><span>D</span>"
      else "<span>A</span><span>B</span><span>C</span><span>D</span>"
    val styles = s"<div><p>$spans</p></div>"
    val inner = styleDiv match {
      case 2 => s"<div><p>\n<span></span>\n2-Buy\n</p></div>$styles"
      case 3 => s"<div><p>\n<span></span>\n2-Buy\n</p></div><div></div>$styles"
    }
    val ribbon =
      s"""<section id="quote_ribbon_v2"><div></div><div>$inner</div></section>"""
    if (hero) s"""<section class="quote_page_hero_section">$ribbon</section>"""
    else ribbon
  }

  /** A folder date of each style-score era and the ribbon layout it reads. */
  val Eras: Seq[(LocalDate, String)] = Seq(
    LocalDate.of(2018, 1, 1) -> ribbon(hero = false, styleDiv = 2, pipeSpans = false),
    LocalDate.of(2019, 6, 1) -> ribbon(hero = false, styleDiv = 3, pipeSpans = false),
    LocalDate.of(2020, 8, 1) -> ribbon(hero = false, styleDiv = 3, pipeSpans = true),
    LocalDate.of(2022, 1, 1) -> ribbon(hero = false, styleDiv = 2, pipeSpans = true),
    LocalDate.of(2025, 1, 1) -> ribbon(hero = true, styleDiv = 2, pipeSpans = true))

  /** html > body#home > div#main_content > div#right_content around
    * `right`, the path the ribbon is read from. */
  def page(right: String): String =
    s"""<html><body id="home"><div id="main_content">
       |<div id="right_content">$right</div></div></body></html>""".stripMargin

  private val header =
    "<thead><tr><th>x</th><th>(3/2025)</th><th>(6/2025)</th><th>(12/2025)</th><th>(12/2026)</th></tr></thead>"

  /** Sales (first table) and EPS (second table) estimates. */
  val estimates: String =
    s"""<section id="detailed_earnings_estimates">
      |<table>$header
      |<tbody>
      |<tr><td>Consensus</td><td>10.5</td><td>11</td><td>12</td><td>13</td></tr>
      |<tr><td>Count</td><td>7</td><td>8</td><td>9</td><td>10</td></tr>
      |<tr><td>High</td><td>1,000.5M</td><td>2B</td><td>3T</td><td>NA</td></tr>
      |<tr><td>Low</td><td>1</td><td>2</td><td>3</td><td>4</td></tr>
      |<tr><td>Year Ago</td><td>5</td><td>6</td><td>7</td><td>8</td></tr>
      |</tbody></table>
      |<table>$header
      |<tbody>
      |<tr><td>Consensus</td><td>1.5</td><td>1.6</td><td>1.7</td><td>1.8</td></tr>
      |<tr><td>Count</td><td>3</td><td>4</td><td>5</td><td>6</td></tr>
      |<tr><td>Recent</td><td>1.4</td><td>1.5</td><td>1.6</td><td>1.7</td></tr>
      |<tr><td>High</td><td>2</td><td>(2.1)</td><td>2.2</td><td>2.3</td></tr>
      |<tr><td>Low</td><td>1</td><td>1.1</td><td>M</td><td>1.3</td></tr>
      |<tr><td>Year Ago</td><td>0.9</td><td>1.0</td><td>1.1</td><td>1.2</td></tr>
      |</tbody></table>
      |</section>""".stripMargin

  private def section(id: String, rows: Int, mark: String): String = {
    val body = (1 to rows).map(r =>
      "<tr><td>l</td>" + (2 to 5).map(c => s"<td>$mark$r$c</td>").mkString + "</tr>")
    s"""<section id="$id"><table>$header<tbody>${body.mkString}</tbody></table></section>"""
  }

  /** The four data sections, in page order; cell (r, c) of the revision,
    * upside and surprise tables reads 7rc, 8rc and 9rc. */
  val sections: Seq[String] = Seq(estimates, section("agreement_estimate", 6, "7"),
    section("quote_upside", 1, "8"), section("surprised_reported", 2, "9"))
}
