package perfbench

import java.time.{DayOfWeek, LocalDate}
import java.time.temporal.TemporalAdjusters

import scala.collection.mutable

/** Seeded inputs shared by every workload: symbol names, the cell
  * vocabularies the sanitizers must handle, and deterministic page chrome. */
object Gen {

  /** Seed of everything the seeded store depends on. The store is the same
    * for every `--seed`, so it is built once per checkout and reused; the
    * seed varies the raw zone and what it does to the store. */
  val StoreSeed = 0L

  /** Distinct 4-letter tickers; the seed permutes which names a run uses.
    * 7919 is coprime with 26^4, so the map is a bijection. */
  def symbols(n: Int, seed: Long): Vector[String] =
    Vector.tabulate(n) { i =>
      val j = Math.floorMod(i * 7919L + seed * 104729L, 456976L).toInt
      val cs = Array.tabulate(4)(k => ('A' + (j / math.pow(26, 3 - k).toInt) % 26).toChar)
      new String(cs)
    }

  def rng(seed: Long, salt: Long): scala.util.Random =
    new scala.util.Random(seed * 1000003L + salt)

  def quarterEnd(d: LocalDate): LocalDate = {
    val m = ((d.getMonthValue - 1) / 3) * 3 + 3
    LocalDate.of(d.getYear, m, 1).`with`(TemporalAdjusters.lastDayOfMonth())
  }

  /** Quarter end strictly before `d`. */
  def prevQuarterEnd(d: LocalDate): LocalDate =
    quarterEnd(d.withDayOfMonth(1).minusMonths(3))

  def addQuarters(q: LocalDate, n: Int): LocalDate =
    q.withDayOfMonth(1).plusMonths(3L * n).`with`(TemporalAdjusters.lastDayOfMonth())

  def weekday(d: LocalDate): LocalDate = d.getDayOfWeek match {
    case DayOfWeek.SATURDAY => d.plusDays(2)
    case DayOfWeek.SUNDAY => d.plusDays(1)
    case _ => d
  }

  /** Spark `DateFns.priorYear` / `priorQuarter` / `nextQuarterEnd`, on
    * java.time (same month clamping as `add_months`). */
  def priorYear(d: LocalDate): LocalDate = d.minusMonths(12)
  def priorQuarter(d: LocalDate): LocalDate = d.plusDays(1).minusMonths(3).minusDays(1)
  def nextQuarterEnd(d: LocalDate): LocalDate = d.plusDays(1).plusMonths(3).minusDays(1)

  /** "1,234,567.89" with an optional sign — the F2 comma strip's input. */
  def grouped(v: Long, cents: Int): String = {
    val sign = if (v < 0) "-" else ""
    val digits = math.abs(v).toString.reverse.grouped(3).mkString(",").reverse
    f"$sign$digits.$cents%02d"
  }

  private val Words = Vector("market", "earnings", "growth", "outlook",
    "dividend", "portfolio", "screen", "industry", "sector", "consensus",
    "revision", "analyst", "momentum", "value", "quote", "research", "stock",
    "fund", "report", "premium", "trade", "options", "income", "strategy")

  /** Page chrome of roughly `bytes` characters: nav menus, teaser lists,
    * footer link blocks and inline script, the mix a real quote page wraps
    * around its data sections. Returns (head chrome, body chrome blocks). */
  def chrome(r: scala.util.Random, bytes: Int): (String, Vector[String]) = {
    def w(): String = Words(r.nextInt(Words.size))
    def phrase(n: Int): String = Vector.fill(n)(w()).mkString(" ")
    val script = new StringBuilder
    val head = new StringBuilder
    head.append("<head><meta charset=\"utf-8\"><title>")
      .append(phrase(4)).append("</title>")
    // a third of the chrome is inline script/JSON, as on real pages
    script.append("<script>window.__cfg = {")
    while (script.length < bytes / 3) {
      script.append('"').append(w()).append(r.nextInt(1000)).append("\": \"")
        .append(phrase(3)).append("\", ")
    }
    script.append("\"end\": 0};</script>")
    head.append(script).append("<style>.nav a{color:#333}</style></head>")
    val blocks = Vector.newBuilder[String]
    var used = head.length
    var k = 0
    while (used < bytes) {
      val b = new StringBuilder
      k % 3 match {
        case 0 =>
          b.append("<nav class=\"menu\"><ul>")
          for (_ <- 0 until 12) {
            b.append("<li class=\"item\"><a href=\"/").append(w()).append('/')
              .append(r.nextInt(100000)).append("\">").append(phrase(2))
              .append("</a><ul class=\"sub\"><li><a href=\"/").append(w())
              .append("\">").append(w()).append("</a></li></ul></li>")
          }
          b.append("</ul></nav>")
        case 1 =>
          b.append("<div class=\"teasers\">")
          for (_ <- 0 until 6) {
            b.append("<div class=\"teaser\"><h3><a href=\"/news/")
              .append(r.nextInt(1000000)).append("\">").append(phrase(5))
              .append("</a></h3><p>").append(phrase(18))
              .append(" <span class=\"ts\">").append(r.nextInt(60))
              .append(" min ago</span></p></div>")
          }
          b.append("</div>")
        case _ =>
          b.append("<div class=\"footer-links\"><p>")
          for (_ <- 0 until 20) {
            b.append("<a href=\"/").append(w()).append("\">").append(phrase(2))
              .append("</a> | ")
          }
          b.append("</p></div>")
      }
      used += b.length
      blocks += b.toString
      k += 1
    }
    (head.toString, blocks.result())
  }
}

/** A document of the raw zone: path relative to the raw-zone root. */
final case class RawDoc(path: String, text: String)

/** Expected store contents after one folder date: rows per table, and the
  * per-step counts the traced run must reproduce. */
final case class Expected(rows: Map[String, Long], docs: Long,
                          accepted: Long, rejectedVocab: Long,
                          rejectedStale: Long, rowsIn: Long,
                          appended: Long, pkDup: Long, j1Dropped: Long,
                          retracted: Long)
