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

  /** One step of the quote ribbon's strict child path: the first child
    * with `tag` whose id is `id` and whose class list holds `cls` (either
    * test skipped when empty). */
  private final case class Step(tag: String, id: String = "", cls: String = "") {
    def test(elemId: String, elemCls: String): Boolean =
      (id.isEmpty || elemId == id) &&
        (cls.isEmpty || elemCls.split("\\s+").contains(cls))
  }

  /** The ribbon's strict child path (`estimate-transform-load.rkt:14-27`):
    * html > body#home > div#main_content > div#right_content >
    * [section.quote_page_hero_section >] section#quote_ribbon_v2, the
    * hero step from 2024-11-10 on. */
  private val Trunk = Seq(Step("html"), Step("body", id = "home"),
    Step("div", id = "main_content"), Step("div", id = "right_content"))
  private val Hero = Step("section", cls = "quote_page_hero_section")
  private val RibbonId = "quote_ribbon_v2"

  private def ribbon(root: HElem, folderDate: LocalDate): Option[HElem] =
    (Trunk ++ (if (folderDate.isBefore(HeroCutoff)) None else Some(Hero)) :+
      Step("section", id = RibbonId))
      .foldLeft(Option(root))((at, s) => at.flatMap(_.kids(s.tag).find(e =>
        s.test(e.attrs.getOrElse("id", ""), e.attrs.getOrElse("class", "")))))

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

  /** Sections [[parse]] keeps whole: the data sections and the ribbon. */
  private val Whole: Set[String] =
    (Sections.map(_._2.id) :+ SurpriseSpec.id :+ RibbonId).toSet

  /** Every step the ribbon navigation can take below the root, in both
    * layouts; the ribbon itself is kept whole. */
  private val Skeleton = Trunk :+ Hero

  /** The keep rule of [[parse]]: every [[Whole]] section in full, and the
    * tag, id and class of every element that can take a step of
    * [[Skeleton]]. It keeps all candidates of a step, not only the one that
    * passes, so `find` makes the same first match as on the full tree.
    * State k ≤ `Skeleton.size` lets children take step k - 1 (the root is
    * 1); an element past the path, or failing its step, takes none. */
  private object SectionRule extends Html.Keep {
    def root: Int = 1
    def open(parent: Int, tag: String, id: String, cls: String): Int =
      if (tag == "section" && Whole(id)) Html.All
      else if (parent >= 1 && parent <= Skeleton.size &&
        tag == Skeleton(parent - 1).tag)
        if (Skeleton(parent - 1).test(id, cls)) parent + 1 else Skeleton.size + 1
      else Html.Skip
  }

  /** Parse everything the loader needs from one detailed-estimates page:
    * one tokenizer pass that builds nodes only for the four data sections,
    * the rank ribbon and the ribbon's path ([[SectionRule]]), then [[read]]
    * on that tree. The page chrome (most of a 40–80 KB page) is tokenized
    * but never built, so no section lookup walks it. */
  def parse(html: String, folderDate: LocalDate): EstimatesParsed =
    read(Html.parse(html, SectionRule), folderDate)

  /** The navigation of [[parse]] over a parsed tree, pruned or full. Each
    * section's n-th table (sales/eps share a section — `first`/`second`
    * table, `estimate-transform-load.rkt:81-86`) is materialized to a
    * [[TableGrid]] in one walk; the hundreds of per-cell lookups are then
    * O(1) — the reference re-runs an sxpath per cell instead
    * (`estimate-transform-load.rkt:113-114`). */
  def read(root: HElem, folderDate: LocalDate): EstimatesParsed = {
    def cells(name: String, spec: SectionSpec,
              periods: Seq[String]): Seq[(String, Map[String, String])] = {
      val grid = root.byId("section", spec.id)
        .flatMap(_.nthDescendant("table", spec.tableOrdinal))
        .map(TableGrid.of)
        .getOrElse(TableGrid(Vector.empty, Vector.empty))
      periods.zipWithIndex.map { case (period, i) =>
        val col = i + 2
        val entries = spec.entries.map { case (entry, row) =>
          entry -> sanitizeCell(grid.cell("tbody", row, col))
        } :+ ("date" -> sanitizeCell(grid.cell("thead", 1, col)))
        cellKey(name, period) -> entries.toMap
      }
    }
    EstimatesParsed(
      rank = rank(root, folderDate),
      value = styleScore(root, folderDate, 1),
      growth = styleScore(root, folderDate, 2),
      momentum = styleScore(root, folderDate, 3),
      vgm = styleScore(root, folderDate, 4),
      cells = (Sections.flatMap { case (name, spec) =>
        cells(name, spec, Periods)
      } ++ cells("eps-surprise", SurpriseSpec, HistoryQuarters)).toMap)
  }
}
