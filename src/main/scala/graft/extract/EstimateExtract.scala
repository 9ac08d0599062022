package graft.extract

import java.time.LocalDate

/** U1–U3 — the detailed-estimates document extractor
  * (`estimate-transform-load.rkt:13-125`).
  *
  * One parse per document yields EVERYTHING the reference's per-cell sxpath
  * calls extract — rank, four style scores, and every table cell across the
  * five sections × four periods (+ four trailing history quarters) — as one
  * typed value. The reference re-traverses the parsed tree per cell
  * (`estimate-transform-load.rkt:113-114`); parsing once per document keeps
  * the Spark UDF boundary at one call per row.
  *
  * Layout versions are keyed by folder date exactly as the reference gates
  * its sxpaths (`:14`, `:44-76`): style-score cutoffs 2018-10-07 /
  * 2020-07-04 / 2020-09-20 / 2024-11-10 (the last adds the
  * `quote_page_hero_section` wrapper, which also moves the rank ribbon).
  */
object EstimateExtract {

  /** Parsed document: rank + style scores, and every table cell keyed
    * `"<section>|<period>" -> (entry -> value)`. Entry maps include the raw
    * `date` header "(MM/YYYY)" under key "date"; all other values are
    * post-F1 strings ("NA" or numeric text). A flat two-level map (rather
    * than an array of rows) keeps downstream Column lookups at one
    * `element_at` each instead of an interpreted array filter per
    * projection. */
  final case class EstimatesParsed(rank: String, value: String, growth: String,
                                   momentum: String, vgm: String,
                                   cells: Map[String, Map[String, String]])

  /** Key of one section's cells for one period in [[EstimatesParsed.cells]]. */
  def cellKey(section: String, period: String): String = s"$section|$period"

  val HeroCutoff: LocalDate = LocalDate.of(2024, 11, 10)
  private val StyleCut1 = LocalDate.of(2018, 10, 7)
  private val StyleCut2 = LocalDate.of(2020, 7, 4)
  private val StyleCut3 = LocalDate.of(2020, 9, 20)

  /** Estimate periods (columns 2-5 of each section,
    * `estimate-transform-load.rkt:87-91`). */
  val Periods: Seq[String] =
    Seq("current-quarter", "next-quarter", "current-year", "next-year")

  /** Trailing history quarters (same columns of the surprise section,
    * `estimate-transform-load.rkt:92-95`). */
  val HistoryQuarters: Seq[String] =
    Seq("last-quarter", "two-quarters-ago", "three-quarters-ago",
      "four-quarters-ago")

  /** section → (section id, table ordinal within section, row offset for
    * high/low/year-ago, entry → row) per `estimate-transform-load.rkt:79-112`. */
  private final case class SectionSpec(id: String, tableOrdinal: Int,
                                       entries: Seq[(String, Int)])

  private val Sections: Seq[(String, SectionSpec)] = Seq(
    "sales-estimates" -> SectionSpec("detailed_earnings_estimates", 1,
      Seq("consensus" -> 1, "count" -> 2, "high" -> 3, "low" -> 4,
        "year-ago" -> 5)),
    "eps-estimates" -> SectionSpec("detailed_earnings_estimates", 2,
      Seq("consensus" -> 1, "count" -> 2, "recent" -> 3, "high" -> 4,
        "low" -> 5, "year-ago" -> 6)),
    "eps-revisions" -> SectionSpec("agreement_estimate", 1,
      Seq("up-7" -> 1, "up-30" -> 2, "up-60" -> 3, "down-7" -> 4,
        "down-30" -> 5, "down-60" -> 6)),
    "eps-upside" -> SectionSpec("quote_upside", 1,
      Seq("most-accurate" -> 1)))

  private val SurpriseSpec =
    SectionSpec("surprised_reported", 1, Seq("reported" -> 1, "estimate" -> 2))

  /** F1 — the estimate-cell sanitizer chain, string side
    * (`estimate-transform-load.rkt:118-125`). Agrees with
    * `ScalarFns.sanitizeNumericText` (the Column form) on every Zacks cell
    * shape, but not on other whitespace at the ends: `String.trim` strips
    * every char ≤ U+0020, Spark's `trim` only spaces. Cells reach this
    * already trimmed (`lastText`). ScalarFnsSpec pins both. */
  def sanitizeCell(raw: String): String = {
    val t = raw.trim
    val s1 = t.replace("T", "e12").replace("B", "e9")
    val s2 = if (s1 == "M") "NA" else s1
    s2.replace("M", "e6").replace("(", "").replace(")", "")
      .replace(",", "")
  }

  /** The quote ribbon section, hero-wrapped after 2024-11-10
    * (`estimate-transform-load.rkt:14-27`). Follows the reference's strict
    * child path body#home > div#main_content > div#right_content >
    * [section.quote_page_hero_section >] section#quote_ribbon_v2. */
  private def ribbon(root: HElem, folderDate: LocalDate): Option[HElem] =
    for {
      html <- root.kid("html")
      body <- html.kids("body").find(_.id.contains("home"))
      main <- body.kids("div").find(_.id.contains("main_content"))
      right <- main.kids("div").find(_.id.contains("right_content"))
      rib <- if (folderDate.isBefore(HeroCutoff))
        right.kids("section").find(_.id.contains("quote_ribbon_v2"))
      else right.childElems.find(e => e.tag == "section" &&
          e.attrs.get("class").exists(_.split("\\s+")
            .contains("quote_page_hero_section")))
        .flatMap(_.kids("section").find(_.id.contains("quote_ribbon_v2")))
    } yield rib

  /** U2 — rank text, post-F5 ("1-Strong Buy" → "Strong Buy",
    * `estimate-transform-load.rkt:13-29`). */
  def rank(root: HElem, folderDate: LocalDate): String = {
    val p = for {
      rib <- ribbon(root, folderDate)
      d2 <- rib.kid("div", 2)
      d1 <- d2.kid("div", 1)
      pEl <- d1.kid("p")
    } yield pEl.firstText
    p.map(t => if (t.length > 2) t.substring(2) else "").getOrElse("")
  }

  /** U3 — style score 'A'..'F' for style n∈1..4 (value/growth/momentum/vgm),
    * with the four layout cutoffs (`estimate-transform-load.rkt:31-77`).
    * Post-2020 layouts render pipe separators as their own spans, so scores
    * sit at odd span positions `2n-1`. */
  def styleScore(root: HElem, folderDate: LocalDate, n: Int): String = {
    val (divIdx, spanIdx) =
      if (folderDate.isBefore(StyleCut1)) (2, n)
      else if (folderDate.isBefore(StyleCut2)) (3, n)
      else if (folderDate.isBefore(StyleCut3)) (3, 2 * n - 1)
      else (2, 2 * n - 1) // both pre- and post-hero use div 2, span 2n-1
    val s = for {
      rib <- ribbon(root, folderDate)
      d2 <- rib.kid("div", 2)
      dn <- d2.kid("div", divIdx)
      pEl <- dn.kid("p")
      span <- pEl.kid("span", spanIdx)
    } yield span.allText.trim
    s.getOrElse("")
  }

  /** Parse everything the loader needs from one detailed-estimates page.
    * Each section's n-th table (sales/eps share a section — `first`/`second`
    * table, `estimate-transform-load.rkt:81-86`) is materialized to a
    * [[TableGrid]] in one walk; the hundreds of per-cell lookups are then
    * O(1) — the reference re-runs an sxpath per cell instead
    * (`estimate-transform-load.rkt:113-114`). */
  def parse(html: String, folderDate: LocalDate): EstimatesParsed = {
    val root = Html.parse(html)
    val gridCache = scala.collection.mutable.Map[(String, Int), TableGrid]()
    def gridFor(spec: SectionSpec): TableGrid =
      gridCache.getOrElseUpdate((spec.id, spec.tableOrdinal),
        root.byId("section", spec.id)
          .flatMap(_.nthDescendant("table", spec.tableOrdinal))
          .map(TableGrid.of)
          .getOrElse(TableGrid(Vector.empty, Vector.empty)))
    def cell(spec: SectionSpec, rowGroup: String, row: Int,
             col: Int): String =
      sanitizeCell(gridFor(spec).cell(rowGroup, row, col))

    val periodCells = for {
      (period, i) <- Periods.zipWithIndex
      (name, spec) <- Sections
    } yield {
      val col = i + 2
      val entries = spec.entries.map { case (entry, row) =>
        entry -> cell(spec, "tbody", row, col)
      } :+ ("date" -> cell(spec, "thead", 1, col))
      cellKey(name, period) -> entries.toMap
    }
    val historyCells = HistoryQuarters.zipWithIndex.map { case (q, i) =>
      val col = i + 2
      val entries = SurpriseSpec.entries.map { case (entry, row) =>
        entry -> cell(SurpriseSpec, "tbody", row, col)
      } :+ ("date" -> cell(SurpriseSpec, "thead", 1, col))
      cellKey("eps-surprise", q) -> entries.toMap
    }
    EstimatesParsed(
      rank = rank(root, folderDate),
      value = styleScore(root, folderDate, 1),
      growth = styleScore(root, folderDate, 2),
      momentum = styleScore(root, folderDate, 3),
      vgm = styleScore(root, folderDate, 4),
      cells = (periodCells ++ historyCells).toMap)
  }
}
