package perfbench

import java.time.LocalDate

import scala.collection.mutable

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.export.CsvExport
import graft.model.Schemas
import graft.pipelines.EstimatesPipeline
import graft.sinks.SnapshotStore
import graft.sources.RawZone

/** `estimates-pages`: one weekly folder of page-sized detailed-estimates
  * documents loaded onto last week's six tables, then the same-day K2
  * export.
  *
  * Page size: ≈2 GB of HTML per full sweep ÷ ≈34k documents ≈ 60 KB per
  * page, so pages are the five data sections plus the rank ribbon wrapped
  * in 40–80 KB of nav/teaser/script chrome (uniform, mean ≈60 KB).
  *
  * Stated shares (exact counts per seed):
  *  - 10% of documents fail the rank/score vocabulary (half an unknown rank,
  *    half an unknown style score) and load into no table;
  *  - 25% of symbols reported a new quarter since last week, so one of their
  *    four eps_history quarters is new; every other trailing quarter is a
  *    K1 primary-key duplicate of last week's row.
  */
final class Estimates(seed: Long, n: Int) extends Workload {
  val name = "estimates-pages"
  val dataset = "estimates"
  val kind = "detailed-estimates"
  val folder: LocalDate = LocalDate.of(2025, 3, 7)
  val prev: LocalDate = folder.minusDays(7)
  val folders: Seq[LocalDate] = Seq(folder)
  val tables: Seq[String] = Seq("rank_score", "sales_estimate", "eps_estimate",
    "eps_revision", "eps_perception", "eps_history")
  private def partitionCol(t: String): String =
    if (t == "eps_history") "period_end_date" else "date"

  private val syms = Gen.symbols(n, Gen.StoreSeed)
  private val advanced: Set[Int] =
    Gen.rng(Gen.StoreSeed, 11).shuffle((0 until n).toVector).take(n / 4).toSet
  private val r = Gen.rng(seed, 11)
  private val invalid: Set[Int] = r.shuffle((0 until n).toVector).take(n / 10).toSet
  private val pageBytes: Vector[Int] = Vector.fill(n)(40000 + r.nextInt(40001))

  /** Latest reported quarter this week: Q4 2024, or Q3 for symbols that
    * report Q4 only this week (their pages moved by one quarter). */
  private def latestQuarter(i: Int, week: LocalDate): LocalDate =
    if (week == prev && advanced(i)) LocalDate.of(2024, 9, 30)
    else LocalDate.of(2024, 12, 31)

  private def historyQuarters(i: Int, week: LocalDate): Seq[LocalDate] =
    (0 until 4).map(k => Gen.addQuarters(latestQuarter(i, week), -k))

  private val Money = Vector("1,234.5", "(0.12)", "NA", "2.5B", "1.2T",
    "10.00M", "42.75", "M", "-1.07", "0.35")

  /** `chrome = false` renders the data sections alone: the seeded store
    * needs last week's figures, not its page weight. */
  private def page(i: Int, week: LocalDate, chrome: Boolean = true): String = {
    val pr = Gen.rng(if (week == prev) Gen.StoreSeed else seed, 1000L * i + week.toEpochDay)
    def money(): String =
      if (pr.nextInt(3) == 0) Money(pr.nextInt(Money.size))
      else s"${pr.nextInt(900)}.${pr.nextInt(100)}"
    def count(): String = if (pr.nextInt(11) == 0) "NA" else pr.nextInt(40).toString
    def hdr(d: LocalDate): String = s"(${d.getMonthValue}/${d.getYear})"
    val cq = Gen.quarterEnd(week)
    val periods = Seq(cq, Gen.addQuarters(cq, 1),
      LocalDate.of(week.getYear, 12, 31), LocalDate.of(week.getYear + 1, 12, 31))
    def table(heads: Seq[LocalDate], rows: Int, counts: Set[Int]): String = {
      val th = heads.map(d => s"<th>${hdr(d)}</th>").mkString
      val body = (1 to rows).map { row =>
        val tds = heads.indices.map { _ =>
          val v = if (counts(row)) count() else money()
          s"""<td><span class="lbl">#</span> $v</td>"""
        }.mkString
        s"<tr><td class=alpha>Row $row</td>$tds</tr>"
      }.mkString("\n")
      s"<table><thead><tr><th>Period</th>$th</tr></thead><tbody>\n$body\n</tbody></table>"
    }
    val rankIdx = 1 + pr.nextInt(5)
    val rankNames = Schemas.Enums.rank
    val bad = week == folder && invalid(i)
    val rankText =
      if (bad && i % 2 == 0) "6-Strong Hold" else s"$rankIdx-${rankNames(rankIdx - 1)}"
    val scores = (0 until 4).map(k =>
      if (bad && i % 2 == 1 && k == 1) "G"
      else Schemas.Enums.score(pr.nextInt(5)))
    val spans = scores.map(s => s"<span> $s </span>").mkString("<span> | </span>")
    val ribbon =
      s"""<section class="quote_page_hero_section"><section id="quote_ribbon_v2"><div><p>price ${pr.nextInt(500)}.${pr.nextInt(100)}</p></div><div><div><p>
         |  <span class="rank_chip"></span>
         |  $rankText
         |</p></div><div><p>$spans</p></div></div></section></section>""".stripMargin
    val sections = Seq(
      s"""<section id="detailed_earnings_estimates">
         |${table(periods, 5, Set(2))}
         |${table(periods, 6, Set(2))}
         |</section>""".stripMargin,
      s"""<section id="agreement_estimate">${table(periods, 6, (1 to 6).toSet)}</section>""",
      s"""<section id="quote_upside">${table(periods, 1, Set.empty)}</section>""",
      s"""<section id="surprised_reported">${table(historyQuarters(i, week), 2, Set.empty)}</section>""")
    val data = ribbon.length + sections.map(_.length).sum
    val (head, blocks) =
      if (chrome) Gen.chrome(pr, math.max(0, pageBytes(i) - data - 400))
      else ("", Vector.empty[String])
    // chrome before, between and after the data sections, and in a left
    // column, so the parser walks it wherever it sits on a real page
    val third = blocks.size / 3
    val (top, rest) = blocks.splitAt(third)
    val (left, bottom) = rest.splitAt(third)
    val between = bottom.take(sections.size)
    val footer = bottom.drop(sections.size)
    val right = sections.zipAll(between, "", "").map { case (s, c) => s + "\n" + c }
    s"""<!DOCTYPE html><html>$head<body id="home">
       |${top.mkString("\n")}
       |<div id="main_content"><div id="left_content">${left.mkString("\n")}</div>
       |<div id="right_content">
       |$ribbon
       |${right.mkString("\n")}
       |</div></div>
       |<footer>${footer.mkString("\n")}</footer>
       |</body></html>""".stripMargin
  }

  def docsPerRun: Long = n

  def docs(f: LocalDate): Iterator[RawDoc] =
    (0 until n).iterator.map(i =>
      RawDoc(s"$dataset/$f/${syms(i)}.$kind.html", page(i, f)))

  def sampleDocs: Map[String, Seq[String]] =
    Map("estimate" -> (0 until math.min(n, 48)).map(page(_, folder)))

  def writeSeed(spark: SparkSession, dir: String): Unit = {
    import spark.implicits._
    val lastWeek = (0 until n).map(i => (syms(i), page(i, prev, chrome = false), prev.toString))
      .toDF("act_symbol", "html", "fd")
      .select(col("act_symbol"), col("html"), col("fd").cast("date").as("folder_date"))
    val t = EstimatesPipeline.tables(lastWeek)
    tables.foreach(name =>
      SnapshotStore.write(t(name), s"$dir/$name", partitionCol(name)))
  }

  private val accepted = (0 until n).filterNot(invalid)
  private val newQuarter = accepted.count(advanced)

  def seedRows: Map[String, Long] =
    tables.map(t => t -> (if (t == "rank_score") n.toLong else 4L * n)).toMap

  val expected: Seq[Expected] = {
    val a = accepted.size.toLong
    val rows = tables.map {
      case "rank_score" => "rank_score" -> (n + a)
      case "eps_history" => "eps_history" -> (4L * n + newQuarter)
      case t => t -> (4L * n + 4 * a)
    }.toMap
    Seq(Expected(rows, docs = n, accepted = a, rejectedVocab = n - a,
      rejectedStale = 0, rowsIn = 21 * a, appended = 17 * a + newQuarter,
      pkDup = 4 * a - newQuarter, j1Dropped = 0, retracted = 0))
  }

  private val historyFrom = folder.minusMonths(6)

  /** Same-day snapshot of the five dated tables; eps_history over the
    * six-month `period_end_date` lookback. */
  def expectedExport(f: LocalDate): Map[String, Map[String, Long]] = {
    val a = accepted.size.toLong
    val dated = tables.filter(_ != "eps_history").map(t =>
      t -> Map(f.toString -> (if (t == "rank_score") a else 4 * a))).toMap
    val hist = mutable.Map[String, Long]().withDefaultValue(0L)
    for (i <- 0 until n; q <- historyQuarters(i, prev)
         if !q.isBefore(historyFrom)) hist(q.toString) += 1
    for (i <- accepted if advanced(i)) {
      val q = latestQuarter(i, folder)
      if (!q.isBefore(historyFrom)) hist(q.toString) += 1
    }
    dated + ("eps_history" -> hist.toMap)
  }

  def run(ctx: RunCtx, f: LocalDate, t: Tracer): Unit = {
    val spark = ctx.spark
    val docs = t.span("sources", "scan") {
      t.mat(RawZone.scanDocuments(spark, ctx.raw(dataset), f.toString, kind))
    }
    t.scanned(docs, "html")
    val fresh = t.span("pipelines", "transform") {
      EstimatesPipeline.tables(docs).map { case (k, v) => k -> t.mat(v) }
    }
    if (t.enabled) {
      val accepted = t.count(fresh("rank_score"))
      t.add("pipelines.docs_accepted", accepted)
      t.add("pipelines.docs_rejected_vocab", t.count(docs) - accepted)
      t.add("pipelines.rows_out", tables.map(n => t.count(fresh(n))).sum)
    }
    val existing = t.span("sinks", "read") {
      tables.map(n => n -> t.mat(SnapshotStore.read(spark, ctx.current(n)))).toMap
    }
    // K1 dedup-append of each table (LoadOps.dedupAppend)
    val loaded = t.span("operators", "load") {
      EstimatesPipeline.load(existing, fresh).map { case (n, df) => n -> t.mat(df) }
    }
    tables.foreach { n =>
      OpCounts(t, n, fresh(n), existing(n), loaded(n))
      ctx.write(t, n, loaded(n), partitionCol(n), f)
    }
    t.span("export", "csv") {
      tables.foreach { n =>
        val stored = SnapshotStore.read(spark, ctx.current(n))
        val slice =
          if (n == "eps_history")
            stored.filter(col("period_end_date") >= add_months(lit(f.toString).cast("date"), -6))
          else stored.filter(col("date") === lit(f.toString).cast("date"))
        CsvExport.writePerDate(slice, partitionCol(n), Schemas.primaryKeys(n),
          ctx.exportDir(f, n))
      }
    }
  }
}
