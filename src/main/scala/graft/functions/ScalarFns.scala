package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import graft.model.Schemas

/** String/scalar function layer (SURVEY §2.7 F1–F10).
  *
  * Every function is a pure `Column => Column` built from codegen'd Spark
  * built-ins — no UDFs — so Catalyst can constant-fold, push down, and keep
  * the whole chain inside whole-stage codegen.
  */
object ScalarFns {

  /** F1 — Zacks numeric-text sanitizer (`estimate-transform-load.rkt:118-125`).
    *
    * trim; `T`→`e12`; `B`→`e9`; bare `M` (unknown) → `NA`; remaining `M`→`e6`;
    * strip `( ) ,`. Parentheses are *stripped, not negated* — "(12.3)" stays
    * positive, bug-compatible with the reference. The result is a still-string
    * normalized numeric ("1.5e9", "1234.5", "NA").
    *
    * `trim` strips spaces only, so a tab or newline at either end survives,
    * where the string side (`EstimateExtract.sanitizeCell`, `String.trim`)
    * strips it.
    */
  def sanitizeNumericText(c: Column): Column = {
    val t  = trim(c)
    val s1 = regexp_replace(regexp_replace(t, "T", "e12"), "B", "e9")
    val s2 = when(s1 === "M", lit("NA")).otherwise(s1)
    translate(regexp_replace(s2, "M", "e6"), "(),", "")
  }

  /** F1+F3 — sanitize then `'NA'`→NULL and cast to double
    * (`estimate-transform-load.rkt:227-246` SQL-side `case … when 'NA'`). */
  def sanitizeToDouble(c: Column): Column = {
    val s = sanitizeNumericText(c)
    when(s === "NA" || s === "", lit(null)).otherwise(s).cast("double")
  }

  /** F2 — simple statement-cell sanitizer: trim (spaces only) + strip
    * commas (`income-statement-transform-load.rkt:53-55`). */
  def trimCommas(c: Column): Column = regexp_replace(trim(c), ",", "")

  /** F3 — `'NA'` (or empty) → NULL passthrough. */
  def naToNull(c: Column): Column =
    when(c === "NA" || c === "", lit(null)).otherwise(c)

  /** F4 — ×1e6 unit scaling for millions-denominated figures; per-share
    * columns are exempt at call sites
    * (`income-statement-transform-load.rkt:201-226`). */
  def scaleMillions(c: Column): Column = c * lit(1000000L)

  /** F5 — rank text "1-Strong Buy" → "Strong Buy"
    * (`estimate-transform-load.rkt:29` drops the leading 2 chars). */
  def rankText(c: Column): Column = substring(trim(c), 3, 1024)

  /** F6 — `$` strip for dividend amounts
    * (`dividend-calendar-transform-load.rkt:106`). */
  def stripDollar(c: Column): Column = regexp_replace(c, "\\$", "")

  /** F7 — calendar JSON noise strip: HTML tags, "XYZ Quick Quote", and the
    * `window.app_data = ` JS prefix (`earnings-calendar-transform-load.rkt:64-67`). */
  def stripCalendarNoise(c: Column): Column = {
    val noJs   = regexp_replace(c, "^\\s*window\\.app_data\\s*=\\s*", "")
    val noTags = regexp_replace(noJs, "<.*?>", "")
    regexp_replace(noTags, "[A-Z\\.]+ Quick Quote", "")
  }

  /** F8 — symbol from raw-zone filename: `.../<SYMBOL>.<kind>.html`
    * (`estimate-transform-load.rkt:164-165`). */
  def symbolFromFilename(path: Column, kind: String): Column =
    regexp_extract(path, s"([^/]+)\\.$kind\\.html$$", 1)

  /** F10 — enum ordinal `to_integer_rank` (`schema.sql:280-293`). */
  def toIntegerRank(c: Column): Column = enumOrdinal(c, Schemas.Enums.rank)

  /** Generic 1-based enum-ordinal mapping (also used for scores). */
  def enumOrdinal(c: Column, vocab: Seq[String]): Column =
    vocab.zipWithIndex.foldLeft(lit(null).cast("int")) {
      case (acc, (v, i)) => when(c === v, lit(i + 1)).otherwise(acc)
    }
}
