package graft.sources

import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import java.time.LocalDate

/** S1–S4 — the rate-limited raw-zone ingest utilities
  * (`estimate-extract.rkt:13-24,89-97`,
  * `financial-statement-extract.rkt:13-53,118-127`,
  * `earnings-calendar-extract.rkt:14-53`,
  * `dividend-calendar-extract.rkt:14-29`).
  *
  * Driver-side by design: the reference paces one symbol per 10–12 s, so a
  * full sweep is bandwidth-trivial and politeness-bound — distributing the
  * fetch would defeat the rate limit. The transport is pluggable so tests
  * run against a loopback server (this build is zero-egress) and production
  * swaps in the real HTTP client unchanged.
  *
  * Errors are per-target: a failed download logs and counts like the
  * reference's handler (`estimate-extract.rkt:16-19`), never aborts the
  * sweep.
  */
object Fetch {

  /** url → body bytes. */
  type Transport = String => Array[Byte]

  /** Production transport: plain HttpURLConnection, no dependencies. */
  def httpTransport(connectTimeoutMs: Int = 15000,
                    readTimeoutMs: Int = 30000): Transport = { url =>
    val conn = new java.net.URL(url).openConnection()
      .asInstanceOf[java.net.HttpURLConnection]
    conn.setConnectTimeout(connectTimeoutMs)
    conn.setReadTimeout(readTimeoutMs)
    conn.setRequestProperty("User-Agent", "graft-ingest")
    try {
      val in = conn.getInputStream
      try in.readAllBytes() finally in.close()
    } finally conn.disconnect()
  }

  /** One download: url → raw-zone file. `delayMillis` is the politeness gap
    * paid BEFORE the request (reference: scheduled task spacing). */
  final case class Target(url: String, path: Path, delayMillis: Long = 0L)

  final case class SweepReport(attempted: Int, succeeded: Int, failed: Int,
                               errors: Seq[(String, String)])

  /** Sequential rate-limited sweep; mkdirs parents, replaces existing files
    * (reference `#:exists 'replace`). The first request fires immediately —
    * delays are spacing BETWEEN requests, like the reference's scheduler.
    *
    * Each body goes to a temp file in the target's directory and is then
    * moved over the target atomically, so a crash never leaves a truncated
    * document for the transform stage. The temp name ends in `.part`, which
    * no [[RawZone]] `pathGlobFilter` (`*.<kind>.html`, `*.json`) matches. */
  def sweep(targets: Seq[Target], transport: Transport,
            sleep: Long => Unit = Thread.sleep): SweepReport = {
    var ok = 0
    val errors = Seq.newBuilder[(String, String)]
    targets.zipWithIndex.foreach { case (t, idx) =>
      if (t.delayMillis > 0 && idx > 0) sleep(t.delayMillis)
      try {
        val body = transport(t.url)
        Files.createDirectories(t.path.getParent)
        // not createTempFile: its owner-only mode would stick to the document
        val tmp = t.path.resolveSibling(
          s".${t.path.getFileName}.${java.util.UUID.randomUUID}.part")
        try {
          Files.write(tmp, body)
          Files.move(tmp, t.path, StandardCopyOption.ATOMIC_MOVE,
            StandardCopyOption.REPLACE_EXISTING)
        } finally Files.deleteIfExists(tmp)
        ok += 1
      } catch {
        case e: Exception =>
          errors += t.url -> Option(e.getMessage).getOrElse(e.getClass.getName)
      }
    }
    val errs = errors.result()
    SweepReport(targets.size, ok, errs.size, errs)
  }

  private def day(d: LocalDate): String = d.toString // yyyy-MM-dd

  /** S1 — detailed estimates, one page per symbol, 10 s apart
    * (`estimate-extract.rkt:13-24,89-97`). */
  def estimateTargets(symbols: Seq[String], folderDate: LocalDate,
                      baseDir: String, host: String = "https://www.zacks.com",
                      delayMillis: Long = 10000L): Seq[Target] =
    symbols.map(sym => Target(
      s"$host/stock/quote/$sym/detailed-earning-estimates",
      Paths.get(baseDir, day(folderDate), s"$sym.detailed-estimates.html"),
      delayMillis))

  /** S2 — the three statement pages per symbol, 12 s per symbol with the
    * three docs staggered +0/+4/+8 s
    * (`financial-statement-extract.rkt:118-127`). */
  def statementTargets(symbols: Seq[String], folderDate: LocalDate,
                       baseDir: String,
                       host: String = "https://www.zacks.com",
                       symbolDelayMillis: Long = 12000L): Seq[Target] = {
    val stagger = symbolDelayMillis / 3
    val kinds = Seq(
      ("income-statement", "income-statement", "income-statement"),
      ("balance-sheet", "balance-sheet", "balance-sheet"),
      ("cash-flow-statements", "cash-flow-statement", "cash-flow-statement"))
    symbols.flatMap { sym =>
      kinds.map { case (urlKind, dirKind, fileKind) =>
        Target(s"$host/stock/quote/$sym/$urlKind",
          Paths.get(baseDir, dirKind, day(folderDate),
            s"$sym.$fileKind.html"),
          stagger)
      }
    }
  }

  /** S3/S4 — calendar day-files, keyed by posix @ 6am, 10 s apart;
    * `calType` 1 = earnings, 5 = dividends
    * (`earnings-calendar-extract.rkt:14-29`,
    * `dividend-calendar-extract.rkt:14-29`). */
  def calendarTargets(eventDates: Seq[LocalDate], folderDate: LocalDate,
                      calType: Int, baseDir: String,
                      host: String = "https://www.zacks.com",
                      delayMillis: Long = 10000L): Seq[Target] =
    eventDates.map { d =>
      val posix6am = d.atStartOfDay(java.time.ZoneOffset.UTC)
        .toEpochSecond + 6 * 3600
      Target(
        s"$host/includes/classes/z2_class_calendarfunctions_data.php" +
          s"?calltype=eventscal&type=$calType&date=$posix6am",
        Paths.get(baseDir, day(folderDate), s"${day(d)}.json"),
        delayMillis)
    }

  /** The 6-week forward horizon the calendar sweeps cover
    * (`earnings-calendar-extract.rkt:45-52`). */
  def calendarHorizon(start: LocalDate, weeks: Int = 6): Seq[LocalDate] =
    (0 until weeks * 7).map(i => start.plusDays(i.toLong))
}
