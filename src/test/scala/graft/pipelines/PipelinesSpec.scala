package graft.pipelines

import java.nio.file.Files
import java.sql.Date

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.TestSpark
import graft.export.CsvExport
import graft.model.Schemas
import graft.sources.RawZone

/** End-to-end goldens: raw-zone fixture folder → scan → pipeline → typed
  * rows → CSV export, per FIXTURES.md (incl. the staleness-skip and
  * duplicate-fiscal-year fixtures). */
class PipelinesSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def estimateDoc(rank: String, consensus: String): String =
    s"""<html><body id="home"><div id="main_content"><div id="right_content">
       |<section class="quote_page_hero_section">
       |<section id="quote_ribbon_v2"><div></div><div>
       |<div><p>\n<span></span>\n$rank\n</p></div>
       |<div><p><span>A</span><span>|</span><span>B</span><span>|</span><span>C</span><span>|</span><span>D</span></p></div>
       |</div></section></section>
       |<section id="detailed_earnings_estimates">
       |<table><thead><tr><th>x</th><th>(3/2025)</th><th>(6/2025)</th><th>(12/2025)</th><th>(12/2026)</th></tr></thead>
       |<tbody><tr><td>c</td><td>5</td><td>6</td><td>7</td><td>8</td></tr>
       |<tr><td>n</td><td>1</td><td>1</td><td>1</td><td>1</td></tr>
       |<tr><td>h</td><td>9</td><td>9</td><td>9</td><td>9</td></tr>
       |<tr><td>l</td><td>2</td><td>2</td><td>2</td><td>2</td></tr>
       |<tr><td>y</td><td>3</td><td>3</td><td>3</td><td>3</td></tr></tbody></table>
       |<table><thead><tr><th>x</th><th>(3/2025)</th><th>(6/2025)</th><th>(12/2025)</th><th>(12/2026)</th></tr></thead>
       |<tbody><tr><td>c</td><td>$consensus</td><td>1.6</td><td>1.7</td><td>1.8</td></tr>
       |<tr><td>n</td><td>4</td><td>4</td><td>4</td><td>4</td></tr>
       |<tr><td>r</td><td>1.4</td><td>1.5</td><td>1.6</td><td>1.7</td></tr>
       |<tr><td>h</td><td>2</td><td>2</td><td>2</td><td>2</td></tr>
       |<tr><td>l</td><td>1</td><td>1</td><td>1</td><td>1</td></tr>
       |<tr><td>y</td><td>1</td><td>1</td><td>1</td><td>1</td></tr></tbody></table>
       |</section>
       |<section id="agreement_estimate"><table><thead><tr><th>x</th><th>(3/2025)</th><th>(6/2025)</th><th>(12/2025)</th><th>(12/2026)</th></tr></thead>
       |<tbody>${(1 to 6).map(r => s"<tr><td>e</td><td>$r</td><td>$r</td><td>$r</td><td>$r</td></tr>").mkString}</tbody></table></section>
       |<section id="quote_upside"><table><thead><tr><th>x</th><th>(3/2025)</th><th>(6/2025)</th><th>(12/2025)</th><th>(12/2026)</th></tr></thead>
       |<tbody><tr><td>m</td><td>1.45</td><td>1.55</td><td>1.65</td><td>1.75</td></tr></tbody></table></section>
       |<section id="surprised_reported"><table><thead><tr><th>x</th><th>(12/2024)</th><th>(9/2024)</th><th>(6/2024)</th><th>(3/2024)</th></tr></thead>
       |<tbody><tr><td>rep</td><td>1.2</td><td>1.1</td><td>1.0</td><td>0.9</td></tr>
       |<tr><td>est</td><td>1.15</td><td>1.05</td><td>NA</td><td>0.85</td></tr></tbody></table></section>
       |</div></div></body></html>""".stripMargin

  test("estimates: fixture folder -> scan -> six tables -> CSV export") {
    val base = Files.createTempDirectory("graft_estimates").toFile
    val day = new java.io.File(base, "2025-01-15"); day.mkdirs()
    def put(sym: String, doc: String): Unit = Files.writeString(
      new java.io.File(day, s"$sym.detailed-estimates.html").toPath, doc)
    put("AAPL", estimateDoc("2-Buy", "1.5"))
    put("MSFT", estimateDoc("1-Strong Buy", "2.5"))
    // invalid rank text -> enum cast fails -> whole document "rolls back"
    put("BAD", estimateDoc("9-Garbage", "3.5"))

    val docs = RawZone.scanDocuments(spark, base.getAbsolutePath,
      "2025-01-15", "detailed-estimates")
    val tables = EstimatesPipeline.tables(docs)

    val ranks = tables("rank_score").orderBy("act_symbol").collect()
    assert(ranks.map(_.getString(0)).toSeq === Seq("AAPL", "MSFT"))
    assert(ranks.head.getString(2) === "Buy")

    val eps = tables("eps_estimate")
      .filter(col("period") === "Current Quarter").orderBy("act_symbol")
    val rows = eps.collect()
    assert(rows.map(r => r.getDecimal(4).doubleValue()).toSeq ===
      Seq(1.5, 2.5))
    assert(rows.head.getDate(3) === Date.valueOf("2025-03-31")) // D1
    assert(rows.head.getAs[Short]("count") === 4.toShort)       // count

    val hist = tables("eps_history").filter(col("act_symbol") === "AAPL")
    assert(hist.count() === 4)
    assert(hist.filter(col("estimate").isNull).count() === 1)   // the NA cell

    // K2: headered, PK-ordered, '' for NULL
    val out = new java.io.File(base, "csv").getAbsolutePath
    CsvExport.writeSnapshot(tables("eps_history"),
      Schemas.primaryKeys("eps_history"), out)
    val files = new java.io.File(out).listFiles(
      (_, n) => n.startsWith("part-") && n.endsWith(".csv"))
    val lines = scala.io.Source.fromFile(files.head).getLines().toList
    assert(lines.head === "act_symbol,period_end_date,reported,estimate")
    assert(lines.exists(_.endsWith(","))) // NA estimate rendered as ''
    assert(lines.tail === lines.tail.sorted)
  }

  test("estimates: the pinned base equals the unpinned one on a many-split scan") {
    val base = Files.createTempDirectory("graft_estimates_pin").toFile
    val day = new java.io.File(base, "2025-01-15"); day.mkdirs()
    val ranks = Seq("1-Strong Buy", "2-Buy", "3-Hold", "9-Garbage")
    (1 to 24).foreach { i =>
      Files.writeString(new java.io.File(day,
        s"S$i.detailed-estimates.html").toPath,
        estimateDoc(ranks(i % ranks.size), s"$i.25"))
    }
    // one file per input partition, as a weekly folder splits into many
    val key = "spark.sql.files.maxPartitionBytes"
    val prior = spark.conf.getOption(key)
    spark.conf.set(key, "1")
    try {
      val docs = RawZone.scanDocuments(spark, base.getAbsolutePath,
        "2025-01-15", "detailed-estimates")
      assert(docs.rdd.getNumPartitions === 24)
      val pinned = EstimatesPipeline.tables(docs)
      val unpinned = EstimatesPipeline.tables(docs, pin = false)
      assert(pinned.keySet === unpinned.keySet && pinned.size === 6)
      def rows(df: DataFrame) = df.collect().map(_.toString).sorted.toSeq
      pinned.keys.foreach { t =>
        val p = rows(pinned(t))
        assert(p.nonEmpty, t)
        assert(p === rows(unpinned(t)), t)
      }
    } finally prior match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

  private def incomeDoc(dates: Seq[String]): String = {
    def tbl(rows: Int, mark: String): String = {
      val body = (1 to rows).map { r =>
        "<tr><td>l</td>" + (2 to 6).map(c => s"<td>$mark$r${c - 1}</td>").mkString + "</tr>"
      }.mkString
      s"""<table><thead><tr><th>h</th>${dates.map(d => s"<th>$d</th>").mkString}</tr></thead><tbody>$body</tbody></table>"""
    }
    // cells like m12 = 12; numeric so casts succeed
    s"""<html><body id="home">
       |<div id="annual_income_statement">${tbl(15, "1")}${tbl(2, "2")}${tbl(3, "3")}</div>
       |<div id="quarterly_income_statement">${tbl(15, "1")}${tbl(3, "3")}</div>
       |</body></html>""".stripMargin
  }

  test("income: staleness guard drops whole documents within 15 days") {
    val base = Files.createTempDirectory("graft_income").toFile
    val day = new java.io.File(base, "2024-04-05"); day.mkdirs()
    Files.writeString(
      new java.io.File(day, "FRESH.income-statement.html").toPath,
      incomeDoc(Seq("12/31/23", "9/30/23", "6/30/23", "3/31/23", "12/31/22")))
    Files.writeString(
      new java.io.File(day, "STALE.income-statement.html").toPath,
      incomeDoc(Seq("3/28/24", "12/31/23", "9/30/23", "6/30/23", "3/31/23")))

    val docs = RawZone.scanDocuments(spark, base.getAbsolutePath,
      "2024-04-05", "income-statement")
    val out = StatementsPipeline.incomeStatement(docs)
    // STALE's most recent quarterly date (2024-03-28) is 8 days before the
    // folder date -> the whole document is skipped
    assert(out.select("act_symbol").distinct().collect()
      .map(_.getString(0)).toSeq === Seq("FRESH"))
    assert(out.count() === 10)
    // quarterly D&A columns are NULL by rule
    assert(out.filter(col("period") === "Quarter" &&
      col("depreciation_and_amortization").isNotNull).count() === 0)
    // scaling: annual sales cell "111" (mark 1, row 1, col 1) -> 111e6
    val a1 = out.filter(col("period") === "Year" &&
      col("date") === lit("2023-12-31").cast("date")).head()
    assert(a1.getAs[java.math.BigDecimal]("sales").doubleValue() === 111e6)
  }

  test("strict mode drops a (period, date) combo with any uncastable cell") {
    import spark.implicits._
    // one NA cell in the annual most-recent column (col 2 = dateIdx 1)
    def tbl(rows: Int, naAt: Option[Int]): String = {
      val body = (1 to rows).map { r =>
        val tds = (2 to 6).map { c =>
          val v = if (naAt.contains(r) && c == 2) "NA" else s"$r$c"
          s"<td>$v</td>"
        }.mkString
        s"<tr><td>l</td>$tds</tr>"
      }.mkString
      s"""<table><thead><tr><th>h</th><th>12/31/23</th><th>12/31/22</th><th>12/31/21</th><th>12/31/20</th><th>12/31/19</th></tr></thead><tbody>$body</tbody></table>"""
    }
    val doc =
      s"""<html><body id="home">
         |<div id="annual_income_statement">${tbl(15, Some(3))}${tbl(2, None)}${tbl(3, None)}</div>
         |<div id="quarterly_income_statement">${tbl(15, None)}${tbl(3, None)}</div>
         |</body></html>""".stripMargin
    val docs = Seq(("ACME", doc, Date.valueOf("2025-06-01")))
      .toDF("act_symbol", "html", "folder_date")
    val tolerant = StatementsPipeline.incomeStatement(docs)
    val strict = StatementsPipeline.incomeStatement(docs, strict = true)
    assert(tolerant.count() === 10)
    // only (Year, dateIdx 1) had the NA cell -> exactly that row dropped
    assert(strict.count() === 9)
    assert(strict.filter(col("period") === "Year" &&
      col("date") === lit("2023-12-31").cast("date")).count() === 0)
    // the tolerant twin keeps it, with gross_profit (row 3) NULL
    assert(tolerant.filter(col("period") === "Year" &&
      col("date") === lit("2023-12-31").cast("date"))
      .head().getAs[java.math.BigDecimal]("gross_profit") === null)
  }

  test("dividend calendar: $-strip, '--' payable, K4+K5 composition") {
    import spark.implicits._
    val existing = Seq(
      ("AAPL", Date.valueOf("2024-02-16"), new java.math.BigDecimal("0.2500"),
        Date.valueOf("2024-03-01")),
      ("MSFT", Date.valueOf("2024-03-10"), new java.math.BigDecimal("0.7500"),
        null.asInstanceOf[Date])) // future -> K4 retracts
      .toDF("act_symbol", "ex_date", "amount", "payable_date")
      .withColumn("amount", col("amount").cast("decimal(38,4)"))
    val payloads = Seq(
      """window.app_data = {"data": [["AAPL", "a", "b", "$0.30", "c", "2024-02-21", "d", "--"], ["NVDA", "a", "b", "$1.00", "c", "2024-02-22", "d", "2024-03-15"]]}""")
      .toDF("raw")
    val next = CalendarPipeline.runDividends(existing, payloads,
      Date.valueOf("2024-02-18"))
    val rows = next.orderBy("act_symbol", "ex_date").collect()
    // K4 dropped MSFT 03-10; K5 dropped AAPL 02-16 (within 7d of 02-21)
    assert(rows.map(r => (r.getString(0), r.getDate(1).toString,
      r.getDecimal(2).doubleValue())).toSeq ===
      Seq(("AAPL", "2024-02-21", 0.3), ("NVDA", "2024-02-22", 1.0)))
    assert(rows(0).isNullAt(3)) // '--' payable -> NULL
    assert(rows(1).getDate(3) === Date.valueOf("2024-03-15"))
  }

  test("calendar: K4+K5+K1+J2 compose into the next snapshot") {
    import spark.implicits._
    val existing = Seq(
      ("AAPL", Date.valueOf("2024-02-10"), null.asInstanceOf[String]),
      ("AAPL", Date.valueOf("2024-03-05"), "Before market open"), // future
      ("MSFT", Date.valueOf("2024-02-16"), null.asInstanceOf[String]))
      .toDF("act_symbol", "date", "when")
    val payloads = Seq(
      ("""window.app_data = {"data": [["<b>AAPL</b>", "x", "y", "amc"], ["NFLX Quick QuoteMSFT", "x", "y", "--"]]}""",
        Date.valueOf("2024-02-20"))).toDF("raw", "event_date")
    val stmtDates = Seq(("AAPL", Date.valueOf("2023-12-31")))
      .toDF("act_symbol", "date")

    val next = CalendarPipeline.runEarnings(existing, payloads,
      Date.valueOf("2024-02-18"), stmtDates)
    val rows = next.orderBy("act_symbol", "date").collect()
    // K4 dropped AAPL 03-05 (>= folder); K5 dropped MSFT 02-16 (within 7
    // days before its incoming 02-20); AAPL 02-10 survived both but falls
    // inside the (2023-12-31, 2024-03-31] statement window where 02-20 is
    // newer -> J2 collapses it
    assert(rows.map(r => (r.getString(0), r.getDate(1).toString)).toSeq ===
      Seq(("AAPL", "2024-02-20"), ("MSFT", "2024-02-20")))
    assert(rows(0).getString(2) === "After market close")
    assert(rows(1).isNullAt(2)) // "--"
  }

  test("pipe4b's poison guard genuinely fires AND genuinely spares") {
    // Regression gate for the guard-drop branch being satisfiable: with the
    // mostly-castable legacy fixture, ~4/23 of a poisoned symbol's rows are
    // all-non-null (guard drops them) and the rest carry a NULL conjunct
    // (insert proceeds). Both outcomes must be present, otherwise the
    // hash-graded entry is vacuous again (round-7 advisor finding).
    val dir = "/root/testdata/sf0.001"
    val total = graft.SparkEntry
      .queries("pipe4b_cash_flow_legacy_load")(spark, dir).count()
    val parts = spark.read.parquet(s"$dir/part.parquet")
    val nPart = parts.count()
    val nPoisoned = parts.filter(col("p_partkey") % 3 === 0).count()
    val incoming = nPart * 5 // 5 date columns, annual only
    val store = nPoisoned * 5 // prior-year copies of every third symbol
    assert(total < store + incoming, "guard never dropped a row — vacuous")
    assert(total > store + incoming - nPoisoned * 5,
      "guard dropped every poisoned row — NULL conjuncts must spare some")
  }
}
