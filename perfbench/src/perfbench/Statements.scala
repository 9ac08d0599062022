package perfbench

import java.time.LocalDate

import scala.collection.mutable

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.export.CsvExport
import graft.model.Schemas
import graft.pipelines.StatementsPipeline
import graft.sinks.SnapshotStore
import graft.sources.RawZone

/** `statements-backfill`: consecutive monthly folders of small income,
  * balance-sheet and 2024-layout cash-flow pages (no chrome), each loaded
  * onto the growing store and followed by the K2 per-date export over the
  * 250-day lookback (`dump-dolt-statements.rkt:11`).
  *
  * Every symbol reports calendar quarters 16–100 days after quarter end and
  * fiscal years 30–100 days after Dec 31, so every month re-reports mostly
  * known periods (K1 duplicates) and adds a few new ones. Stated shares
  * (exact counts per seed):
  *  - 10% of each month's documents of each kind are stale: their most
  *    recent guard-period column is 5 days before the folder date, so the P6
  *    15-day guard skips the whole document;
  *  - 20% of the periods first reported during the backfill copy the prior
  *    period's figures (Zacks' fiscal-year copy bug), so J1 drops them.
  */
final class Statements(seed: Long, s: Int, months: Int) extends Workload {
  val name = "statements-backfill"
  val dataset = "statements"
  val first: LocalDate = LocalDate.of(2024, 2, 1)
  val folders: Seq[LocalDate] = (0 until months).map(k => first.plusMonths(k))
  private val Income = "income-statement"
  private val Balance = "balance-sheet"
  private val CashFlow = "cash-flow-statement"
  private val kinds = Seq(Income, Balance, CashFlow)
  private val kindTables: Map[String, Seq[String]] = Map(
    Income -> Seq("income_statement"),
    Balance -> Seq("balance_sheet_assets", "balance_sheet_liabilities",
      "balance_sheet_equity"),
    CashFlow -> Seq("cash_flow_statement"))
  val tables: Seq[String] = kinds.flatMap(kindTables)
  def docsPerRun: Long = 3L * s

  private val syms = Gen.symbols(s, Gen.StoreSeed)
  private val rs = Gen.rng(Gen.StoreSeed, 23)
  private val lagQ = Vector.fill(s)(16 + rs.nextInt(85))
  private val lagA = Vector.fill(s)(30 + rs.nextInt(71))
  private val r = Gen.rng(seed, 23)
  private val Periods = Seq("annual", "quarterly")

  private def prior(q: LocalDate, period: String): LocalDate =
    if (period == "annual") Gen.priorYear(q) else Gen.priorQuarter(q)

  /** The five newest periods reported by folder date `f`, newest first. */
  private def reported(i: Int, period: String, f: LocalDate): Seq[LocalDate] =
    if (period == "annual")
      Iterator.iterate(LocalDate.of(f.getYear, 12, 31))(_.minusYears(1))
        .filter(q => !q.plusDays(lagA(i)).isAfter(f)).take(5).toSeq
    else
      Iterator.iterate(Gen.quarterEnd(f))(q => Gen.addQuarters(q, -1))
        .filter(q => !q.plusDays(lagQ(i)).isAfter(f)).take(5).toSeq

  private def guardPeriod(kind: String): String =
    if (kind == CashFlow) "annual" else "quarterly"

  private val stale: Set[(LocalDate, String, Int)] =
    (for (f <- folders; k <- kinds; i <- r.shuffle((0 until s).toVector).take(s / 10))
      yield (f, k, i)).toSet

  /** Seeded history: documents every three months back two years. */
  private val history: Seq[LocalDate] = (1 to 25 by 3).map(k => first.minusMonths(k))

  /** Periods whose figures copy the prior period's: 20% of those first
    * reported during the backfill, never two consecutive ones. */
  private val copies: Set[(Int, String, String, LocalDate)] = {
    val cutoff = first.minusMonths(1)
    val cands = for {
      i <- 0 until s; k <- kinds; p <- Periods
      q <- folders.flatMap(f => reported(i, p, f)).distinct
      if reported(i, p, cutoff).forall(_ != q) && q.isAfter(reported(i, p, cutoff).head)
    } yield (i, k, p, q)
    val chosen = mutable.Set[(Int, String, String, LocalDate)]()
    val target = cands.size / 5
    r.shuffle(cands).foreach { case c @ (i, k, p, q) =>
      val next = if (p == "annual") q.plusYears(1) else Gen.addQuarters(q, 1)
      if (chosen.size < target && !chosen((i, k, p, prior(q, p))) &&
        !chosen((i, k, p, next))) chosen += c
    }
    chosen.toSet
  }

  private def source(i: Int, k: String, p: String, q: LocalDate): LocalDate =
    if (copies((i, k, p, q))) prior(q, p) else q

  private def fmt(d: LocalDate, twoDigitYear: Boolean): String = {
    val y = if (twoDigitYear) f"${d.getYear % 100}%02d" else d.getYear.toString
    f"${d.getMonthValue}/${d.getDayOfMonth}%02d/$y"
  }

  /** A figure unique to (symbol, source period, table, row): documents that
    * copy a period repeat its figures exactly; any other two differ. */
  private def figure(i: Int, src: LocalDate, t: Int, row: Int): String = {
    val v = src.toEpochDay * 1000 + t * 100 + row + (i % 50)
    val cents = (i * 7 + t * 13 + row) % 100
    Gen.grouped(if ((row + t) % 7 == 0) -v else v, cents)
  }

  private def table(i: Int, cols: Seq[(LocalDate, LocalDate)], t: Int, rows: Int,
                    twoDigitYear: Boolean): String = {
    val th = cols.map { case (d, _) => s"<th>${fmt(d, twoDigitYear)}</th>" }.mkString
    val body = (1 to rows).map { row =>
      val tds = cols.map { case (_, src) => s"<td>${figure(i, src, t, row)}</td>" }.mkString
      s"<tr><td class=alpha>Line item $row</td>$tds</tr>"
    }.mkString("\n")
    s"<table><thead><tr><th>Fiscal period</th>$th</tr></thead><tbody>\n$body\n</tbody></table>"
  }

  private def page(i: Int, kind: String, f: LocalDate): String = {
    val twoDigitYear = kind == Income
    def cols(p: String): Seq[(LocalDate, LocalDate)] = {
      val real = reported(i, p, f).map(q => q -> source(i, kind, p, q))
      if (stale((f, kind, i)) && p == guardPeriod(kind)) {
        val bogus = f.minusDays(5)
        (bogus -> bogus) +: real.take(4)
      } else real
    }
    val divs = Periods.map { p =>
      val c = cols(p)
      kind match {
        case Income =>
          val perShare = if (p == "annual") Seq(table(i, c, 2, 2, true), table(i, c, 3, 3, true))
            else Seq(table(i, c, 3, 3, true))
          (s"""<div id="${p}_income_statement">""" +: table(i, c, 1, 15, true) +:
            perShare :+ "</div>").mkString("\n")
        case Balance =>
          Seq(s"""<div id="${p}_income_statement">""", table(i, c, 1, 14, false),
            table(i, c, 2, 16, false), table(i, c, 3, 11, false), "</div>").mkString("\n")
        case _ =>
          Seq(s"""<div id="${p}_cash_flow_statement">""",
            s"<div>${table(i, c, 1, 12, false)}</div>",
            s"<div>${table(i, c, 2, 11, false)}</div>", "</div>").mkString("\n")
      }
    }
    s"<html><body id=home>\n<h1>${syms(i)}</h1>\n${divs.mkString("\n")}\n</body></html>"
  }

  def docs(f: LocalDate): Iterator[RawDoc] =
    for (k <- kinds.iterator; i <- (0 until s).iterator)
      yield RawDoc(s"$dataset/$f/${syms(i)}.$k.html", page(i, k, f))

  def sampleDocs: Map[String, Seq[String]] = Map(
    "income" -> (0 until math.min(s, 48)).map(page(_, Income, folders.head)),
    "balance" -> (0 until math.min(s, 48)).map(page(_, Balance, folders.head)),
    "cashflow" -> (0 until math.min(s, 48)).map(page(_, CashFlow, folders.head)))

  /** The seeded store is the history documents run through the program's
    * own parse and typed projection, so stored figures are exactly what a
    * later copy of them parses to. */
  def writeSeed(spark: SparkSession, dir: String): Unit = {
    import spark.implicits._
    def hist(kind: String) =
      (for (h <- history; i <- 0 until s) yield (syms(i), page(i, kind, h), h.toString))
        .toDF("act_symbol", "html", "fd")
        .select(col("act_symbol"), col("html"), col("fd").cast("date").as("folder_date"))
    val out = Map("income_statement" -> StatementsPipeline.incomeStatement(hist(Income)),
      "cash_flow_statement" -> StatementsPipeline.cashFlow(hist(CashFlow), layout2024 = true)) ++
      StatementsPipeline.balanceSheet(hist(Balance))
    tables.foreach(t => SnapshotStore.write(
      out(t).dropDuplicates(Schemas.primaryKeys(t)), s"$dir/$t", "date"))
  }

  private type Key = (Int, LocalDate, String)

  private lazy val model: (Map[String, Long], Seq[(Expected, Map[String, Map[LocalDate, Long]])]) = {
    val state = tables.map(t => t -> mutable.Map[Key, LocalDate]()).toMap
    for (h <- history; k <- kinds; t <- kindTables(k); i <- 0 until s; p <- Periods;
         q <- reported(i, p, h)) state(t)((i, q, p)) = q
    val seeded = state.map { case (t, m) => t -> m.size.toLong }
    val steps = folders.map { f =>
      var rowsIn, appended, pkDup, j1, staleDocs = 0L
      for (k <- kinds) {
        staleDocs += (0 until s).count(i => stale((f, k, i)))
        for (t <- kindTables(k)) {
          val before = state(t).clone()
          for (i <- 0 until s if !stale((f, k, i)); p <- Periods; q <- reported(i, p, f)) {
            val src = source(i, k, p, q)
            rowsIn += 1
            if (before.get((i, prior(q, p), p)).contains(src)) j1 += 1
            else if (before.contains((i, q, p))) pkDup += 1
            else { appended += 1; state(t)((i, q, p)) = src }
          }
        }
      }
      val from = f.minusDays(250)
      val export = state.map { case (t, m) =>
        t -> m.keys.toSeq.map(_._2).filter(!_.isBefore(from))
          .groupBy(identity).map { case (d, v) => d -> v.size.toLong }
      }
      (Expected(state.map { case (t, m) => t -> m.size.toLong }, docs = 3L * s,
        accepted = 3L * s - staleDocs, rejectedVocab = 0, rejectedStale = staleDocs,
        rowsIn = rowsIn, appended = appended, pkDup = pkDup, j1Dropped = j1,
        retracted = 0), export)
    }
    (seeded, steps)
  }

  def seedRows: Map[String, Long] = model._1
  def expected: Seq[Expected] = model._2.map(_._1)
  def expectedExport(f: LocalDate): Map[String, Map[String, Long]] =
    model._2(folders.indexOf(f))._2.map { case (t, m) =>
      t -> m.map { case (d, n) => d.toString -> n }
    }

  def run(ctx: RunCtx, f: LocalDate, t: Tracer): Unit = {
    val spark = ctx.spark
    val fresh = kinds.flatMap { k =>
      val docs = t.span("sources", "scan") {
        t.mat(RawZone.scanDocuments(spark, ctx.raw(dataset), f.toString, k))
      }
      t.scanned(docs, "html")
      val out = t.span("pipelines", "transform") {
        (k match {
          case Income => Map("income_statement" -> StatementsPipeline.incomeStatement(docs))
          case Balance => StatementsPipeline.balanceSheet(docs)
          case _ => Map("cash_flow_statement" ->
            StatementsPipeline.cashFlow(docs, layout2024 = true))
        }).map { case (n, df) => n -> t.mat(df) }
      }
      if (t.enabled) {
        val accepted = t.count(out(kindTables(k).head).select("act_symbol").distinct())
        t.add("pipelines.docs_accepted", accepted)
        t.add("pipelines.docs_rejected_stale", t.count(docs) - accepted)
        t.add("pipelines.rows_out", out.values.map(t.count).sum)
      }
      out
    }.toMap
    tables.foreach { n =>
      val existing = t.span("sinks", "read") {
        t.mat(SnapshotStore.read(spark, ctx.current(n)))
      }
      // J1 guard + K1 dedup-append
      val loaded = t.span("operators", "load") {
        t.mat(
          if (n == "income_statement") StatementsPipeline.loadIncomeRows(existing, fresh(n))
          else StatementsPipeline.loadStatement(existing, fresh(n), n))
      }
      OpCounts(t, n, fresh(n), existing, loaded)
      ctx.write(t, n, loaded, "date", f)
    }
    t.span("export", "csv") {
      tables.foreach { n =>
        val slice = SnapshotStore.read(spark, ctx.current(n))
          .filter(col("date") >= date_sub(lit(f.toString).cast("date"), 250))
        CsvExport.writePerDate(slice, "date", Schemas.primaryKeys(n), ctx.exportDir(f, n))
      }
    }
  }
}
