package graft.pipelines

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.extract.CalendarExtract
import graft.model.Schemas
import graft.operators.LoadOps

/** The calendar pipelines (`earnings-calendar-transform-load.rkt:40-157`,
  * `dividend-calendar-transform-load.rkt`):
  *
  * 1. K4 — retract the whole future slice (`date >= folder_date`) because
  *    estimated dates shift;
  * 2. U8 — parse the noisy JSON payloads into typed rows;
  * 3. K5 — per-symbol 7-day slide-forward retraction ("the event moved");
  * 4. K1 — ON-CONFLICT-DO-NOTHING append;
  * 5. J2 — collapse superseded estimated dates onto the newest entry per
  *    (symbol, quarter window) derived from statement snapshot dates
  *    (earnings only).
  *
  * Everything is a pure DataFrame rewrite of the stored table — "delete"
  * never mutates in place, the pipeline emits the next snapshot.
  */
object CalendarPipeline {

  /** Earnings: payloads must carry `raw` + `event_date` (see
    * [[graft.sources.RawZone.scanCalendarPayloads]]); `stmtDates` is the
    * balance-sheet-assets (symbol, date) history J2 derives windows from.
    * Runs Spark jobs before it returns: the K4∘K5 pin and J2's calendar
    * pin are materialized by the call. */
  def runEarnings(existing: DataFrame, payloads: DataFrame,
                  folderDate: java.sql.Date,
                  stmtDates: DataFrame): DataFrame =
    LoadOps.supersededCleanup(
      load(existing,
        CalendarExtract.earningsRows(payloads, col("raw"), col("event_date")),
        "earnings_calendar", "date", folderDate),
      stmtDates)

  /** Dividends: same shape minus the J2 cleanup; PK is (act_symbol,
    * ex_date) and the slide-forward window runs on `ex_date`. Runs the
    * K4∘K5 pin's Spark job before it returns. */
  def runDividends(existing: DataFrame, payloads: DataFrame,
                   folderDate: java.sql.Date): DataFrame =
    load(existing, CalendarExtract.dividendRows(payloads, col("raw")),
      "dividend_calendar", "ex_date", folderDate)

  /** K4 → K5 → K1 of parsed calendar rows into `table`. Rows missing a
    * `Schemas` NOT NULL column are dropped before the load.
    *
    * The K4∘K5 plan is pinned: K1 reads its existing side twice (the PK
    * anti-join probe and the union). `fresh` also has two consumers (K5's
    * retraction probe and K1's insert) but stays unpinned: re-deriving one
    * folder's parsed payloads measured cheaper on `calendars-rewrite` than
    * materializing them. */
  private def load(existing: DataFrame, parsed: DataFrame, table: String,
                   dateCol: String, folderDate: java.sql.Date): DataFrame = {
    val fresh = parsed
      .filter(Schemas.tables(table).fields.filterNot(_.nullable)
        .map(f => col(f.name).isNotNull).reduce(_ && _))
    val afterK4 = existing.filter(col(dateCol) < lit(folderDate))
    val retracted =
      LoadOps.slideForwardRetract(afterK4, fresh, "act_symbol", dateCol)
        .localCheckpoint()
    LoadOps.dedupAppend(retracted, fresh, Schemas.primaryKeys(table))
  }
}
