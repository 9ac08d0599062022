package perfbench

import java.time.LocalDate

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.extract.CalendarExtract
import graft.model.Schemas
import graft.pipelines.CalendarPipeline
import graft.sinks.SnapshotStore
import graft.sources.RawZone

/** `calendars-rewrite`: consecutive daily folders of 42 earnings and 42
  * dividend event-date payloads (the 6-week horizon,
  * `earnings-calendar-extract.rkt:31,45-52`) loaded onto stored calendars
  * that hold months of history, so every day retracts and rewrites the
  * future slice (K4), slides moved events forward (K5) and collapses
  * superseded estimates (J2) over a store much larger than its input.
  *
  * Every symbol reports 20–50 days after each calendar quarter end; 40% of
  * symbols pay a quarterly dividend 10–49 days after it. The folder dates lie
  * in the Q1 earnings season. Stated shares of the events announced for the
  * day before a simulated day (exact counts per seed):
  *  - 8% of earnings and of dividend events move forward by 1–7 days the
  *    day after their announced date, so K5 retracts the stored date;
  *  - 5% of earnings events move forward by 9–20 days, past K5's week but
  *    inside the same quarter window, so J2 deletes the superseded date.
  * The seeded store is the model's state after ten earlier days. The model
  * refuses a seed whose iteration has no earnings K5 retraction, no
  * dividend K5 retraction or no J2 victim.
  */
final class Calendars(seed: Long, u: Int, days: Int) extends Workload {
  val name = "calendars-rewrite"
  // a Tuesday: the events of the Monday before it include the weekend's
  val first: LocalDate = LocalDate.of(2025, 5, 6)
  val folders: Seq[LocalDate] = (0 until days).map(k => first.plusDays(k))
  val tables: Seq[String] = Seq("earnings_calendar", "dividend_calendar")
  def docsPerRun: Long = 84
  private val Horizon = 42
  private val PreDays = 10
  private val historyStart = first.minusDays(183)

  private val syms = Gen.symbols(u, Gen.StoreSeed)
  private val rs = Gen.rng(Gen.StoreSeed, 37)
  private val lag = Vector.fill(u)(20 + rs.nextInt(31))
  private val divLag = Vector.fill(u)(10 + rs.nextInt(40))
  private val whenCode = Vector.fill(u)(Vector("amc", "bmo", "--")(rs.nextInt(3)))
  private val payers: Set[Int] = rs.shuffle((0 until u).toVector).take(u * 2 / 5).toSet
  private val r = Gen.rng(seed, 37)

  /** An event announced for `e`; from the day after `e` it shows at
    * `e + move` instead (move 0: never moves). */
  private final case class Ev(i: Int, q: LocalDate, e: LocalDate, move: Int) {
    def on(f: LocalDate): LocalDate =
      if (move > 0 && f.isAfter(e)) e.plusDays(move) else e
  }

  private val quarters: Seq[LocalDate] = Iterator.iterate(
    Gen.addQuarters(Gen.quarterEnd(historyStart), -1))(Gen.addQuarters(_, 1))
    .takeWhile(_.isBefore(folders.last.plusDays(Horizon + 60))).toSeq

  private def events(lagOf: Int => Int, who: Int => Boolean, k5: Double,
                     j2: Double): Vector[Ev] = {
    val base = (for (i <- 0 until u if who(i); q <- quarters)
      yield Ev(i, q, Gen.weekday(q.plusDays(lagOf(i))), 0)).toVector
    // moves seen before the first folder date shape the seeded store, so
    // they come from the store seed; later ones from the run's seed
    def moves(from: LocalDate, until: LocalDate, rng: scala.util.Random) = {
      val cands = rng.shuffle(base.indices.filter { k =>
        !base(k).e.isBefore(from) && base(k).e.isBefore(until)
      }.toVector)
      val nK5 = (cands.size * k5).toInt
      val nJ2 = (cands.size * j2).toInt
      cands.take(nK5).map(_ -> (1 + rng.nextInt(7))) ++
        cands.slice(nK5, nK5 + nJ2).map(_ -> (9 + rng.nextInt(12)))
    }
    val split = first.minusDays(1)
    val m = (moves(first.minusDays(PreDays), split, rs) ++
      moves(split, folders.last, r)).toMap
    base.indices.map(k => base(k).copy(move = m.getOrElse(k, 0))).toVector
  }

  private val earnings = events(lag, _ => true, 0.08, 0.05)
  private val dividends = events(divLag, payers, 0.08, 0.0)

  private def amount(i: Int): java.math.BigDecimal =
    java.math.BigDecimal.valueOf(5 + i % 95, 2)
  private def payable(ev: Ev, d: LocalDate): Option[LocalDate] =
    if (ev.i % 5 == 0) None else Some(d.plusDays(14))

  /** Statement dates J2 derives its quarter windows from: eight reported
    * quarters per symbol. */
  private val stmtDates: Map[Int, Seq[LocalDate]] = {
    val last = Gen.prevQuarterEnd(first.minusDays(60))
    (0 until u).map(i => i -> (0 until 8).map(k => Gen.addQuarters(last, -k))).toMap
  }

  private def payload(evs: Vector[Ev], f: LocalDate): Map[LocalDate, Vector[Ev]] =
    evs.filter { ev =>
      val d = ev.on(f)
      !d.isBefore(f) && d.isBefore(f.plusDays(Horizon))
    }.groupBy(_.on(f))

  private def earningsJson(f: LocalDate, evs: Vector[Ev]): String =
    evs.sortBy(ev => syms(ev.i)).map { ev =>
      val s = syms(ev.i)
      s"""["<b>$s</b>", "$s Quick QuoteCorp ${ev.i}", "${ev.i % 7}.${ev.i % 100}", "<span>${whenCode(ev.i)}</span>", "--"]"""
    }.mkString("window.app_data = {\"data\": [", ", ", "]}")

  private def dividendJson(f: LocalDate, evs: Vector[Ev]): String =
    evs.sortBy(ev => syms(ev.i)).map { ev =>
      val s = syms(ev.i)
      val d = ev.on(f)
      val pay = payable(ev, d).map(_.toString).getOrElse("--")
      s"""["<b>$s</b>", "$s Quick QuoteCorp", "1.${ev.i % 90}%", "$$${amount(ev.i).toPlainString}", "Q", "$d", "x", "$pay"]"""
    }.mkString("window.app_data = {\"data\": [", ", ", "]}")

  def docs(f: LocalDate): Iterator[RawDoc] = {
    val e = payload(earnings, f)
    val d = payload(dividends, f)
    (0 until Horizon).iterator.flatMap { k =>
      val day = f.plusDays(k)
      Iterator(
        RawDoc(s"earnings/$f/$day.json", earningsJson(f, e.getOrElse(day, Vector.empty))),
        RawDoc(s"dividends/$f/$day.json", dividendJson(f, d.getOrElse(day, Vector.empty))))
    }
  }

  def sampleDocs: Map[String, Seq[String]] = Map.empty

  private type Key = (Int, LocalDate)

  /** One day's net effect on a table, by primary key, how many stored rows
    * K5 and J2 removed, and the rows the table holds after the day. */
  private final case class Step(in: Long, pkDup: Long, appended: Long,
                                retracted: Long, k5: Long, j2: Long, rows: Long)

  /** One day of the calendar pipeline on the model's state: K4, K5, K1
    * and, for earnings, J2. */
  private def step(state: mutable.Map[Key, Ev], evs: Vector[Ev], f: LocalDate,
                   j2: Boolean): Step = {
    val fresh = payload(evs, f).values.flatten.map(ev => (ev.i, ev.on(f)) -> ev).toMap
    val before = state.keySet.toSet
    state.filterInPlace { case ((_, d), _) => d.isBefore(f) }
    val afterK4 = state.size
    val bySym = fresh.keys.groupBy(_._1)
    state.filterInPlace { case ((i, d), _) =>
      !bySym.getOrElse(i, Nil).exists { case (_, fd) =>
        !d.isBefore(fd.minusDays(7)) && d.isBefore(fd)
      }
    }
    val k5 = afterK4 - state.size
    fresh.foreach { case (k, ev) => if (!state.contains(k)) state(k) = ev }
    val loaded = state.size
    if (j2) {
      val rows = state.keys.groupBy(_._1)
      val victims = rows.toSeq.flatMap { case (i, ks) =>
        val st = stmtDates(i)
        (st :+ Gen.nextQuarterEnd(st.max)).distinct.flatMap { w =>
          val in = ks.filter { case (_, d) => d.isAfter(w) && !d.isAfter(Gen.nextQuarterEnd(w)) }
          if (in.size > 1) (in.toSeq.sortBy(_._2.toEpochDay).dropRight(1)) else Nil
        }
      }.toSet
      state --= victims
    }
    val after = state.keySet
    Step(fresh.size, fresh.keySet.count(before), after.count(!before(_)),
      before.count(!after(_)), k5, loaded - state.size, state.size)
  }

  private lazy val model
      : (mutable.Map[Key, Ev], mutable.Map[Key, Ev], Seq[Expected], Seq[String]) = {
    val start = first.minusDays(PreDays)
    def init(evs: Vector[Ev]) = mutable.Map[Key, Ev]() ++ evs.flatMap { ev =>
      val d = ev.on(start.minusDays(1))
      if (d.isBefore(start) && !d.isBefore(historyStart)) Some((ev.i, d) -> ev) else None
    }
    val e = init(earnings)
    val d = init(dividends)
    (0 until PreDays).foreach { k =>
      step(e, earnings, start.plusDays(k), j2 = true)
      step(d, dividends, start.plusDays(k), j2 = false)
    }
    val seedE = e.clone()
    val seedD = d.clone()
    val steps = folders.map { f =>
      (f, step(e, earnings, f, j2 = true), step(d, dividends, f, j2 = false))
    }
    val exp = steps.map { case (_, se, sd) =>
      Expected(Map("earnings_calendar" -> se.rows, "dividend_calendar" -> sd.rows),
        docs = 2L * Horizon, accepted = 2L * Horizon, rejectedVocab = 0, rejectedStale = 0,
        rowsIn = se.in + sd.in, appended = se.appended + sd.appended,
        pkDup = se.pkDup + sd.pkDup, j1Dropped = 0, retracted = se.retracted + sd.retracted)
    }
    val notes = steps.map { case (f, se, sd) =>
      s"model $f: earnings K5 ${se.k5}, J2 ${se.j2}, dividends K5 ${sd.k5}; " +
        s"rows in ${se.in + sd.in}, appended ${se.appended + sd.appended}, " +
        s"retracted ${se.retracted + sd.retracted}"
    }
    require(steps.map(_._2.k5).sum > 0 && steps.map(_._2.j2).sum > 0 &&
      steps.map(_._3.k5).sum > 0,
      s"seed $seed moves no stored event in an iteration: ${notes.mkString("; ")}")
    (seedE, seedD, exp, notes)
  }

  def seedRows: Map[String, Long] = Map(
    "earnings_calendar" -> model._1.size.toLong,
    "dividend_calendar" -> model._2.size.toLong)
  def expected: Seq[Expected] = model._3
  override def notes: Seq[String] = model._4
  def expectedExport(f: LocalDate): Map[String, Map[String, Long]] = Map.empty

  def writeSeed(spark: SparkSession, dir: String): Unit = {
    def sql(d: LocalDate) = java.sql.Date.valueOf(d)
    val when = Map("amc" -> "After market close", "bmo" -> "Before market open")
    val e = model._1.toSeq.map { case ((i, d), _) =>
      Row(syms(i), sql(d), when.getOrElse(whenCode(i), null)) }
    val dv = model._2.toSeq.map { case ((i, d), ev) =>
      Row(syms(i), sql(d), amount(i).setScale(4), payable(ev, d).map(sql).orNull) }
    val bs = stmtDates.toSeq.flatMap { case (i, ds) =>
      ds.map(d => Row.fromSeq(Seq(syms(i), sql(d), "Quarter") ++
        Seq.fill(Schemas.balanceSheetAssets.size - 3)(null))) }
    def put(rows: Seq[Row], t: String, part: String): Unit =
      SnapshotStore.write(spark.createDataFrame(rows.asJava, Schemas.tables(t)),
        s"$dir/$t", part)
    put(e, "earnings_calendar", "date")
    put(dv, "dividend_calendar", "ex_date")
    put(bs, "balance_sheet_assets", "date")
  }

  def run(ctx: RunCtx, f: LocalDate, t: Tracer): Unit = {
    val spark = ctx.spark
    val fd = java.sql.Date.valueOf(f)
    def scan(ds: String) = t.span("sources", "scan") {
      t.mat(RawZone.scanCalendarPayloads(spark, ctx.raw(ds), f.toString))
    }
    val payE = scan("earnings")
    t.scanned(payE, "raw")
    val payD = scan("dividends")
    t.scanned(payD, "raw")
    val (existingE, existingD, stmt) = t.span("sinks", "read") {
      (t.mat(SnapshotStore.read(spark, ctx.current("earnings_calendar"))),
        t.mat(SnapshotStore.read(spark, ctx.current("dividend_calendar"))),
        t.mat(SnapshotStore.read(spark, ctx.current("balance_sheet_assets"))))
    }
    // the U8 payload extraction runs inside the program's load, so its time
    // is part of operators.load
    val earn = t.span("operators", "load") {
      t.mat(CalendarPipeline.runEarnings(existingE, payE, fd, stmt))
    }
    val div = t.span("operators", "load") {
      t.mat(CalendarPipeline.runDividends(existingD, payD, fd))
    }
    if (t.enabled) {
      val freshE = CalendarExtract.earningsRows(payE, col("raw"), col("event_date"))
      val freshD = CalendarExtract.dividendRows(payD, col("raw"))
      t.add("pipelines.docs_accepted", t.count(payE) + t.count(payD))
      t.add("pipelines.rows_out", t.count(freshE) + t.count(freshD))
      OpCounts(t, "earnings_calendar", freshE, existingE, earn)
      OpCounts(t, "dividend_calendar", freshD, existingD, div)
    }
    ctx.write(t, "earnings_calendar", earn, "date", f)
    ctx.write(t, "dividend_calendar", div, "ex_date", f)
  }
}
