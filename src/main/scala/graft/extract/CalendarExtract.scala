package graft.extract

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, StringType, StructField, StructType}
import graft.functions.ScalarFns
import graft.model.Schemas

/** U8 — calendar payload parser (`earnings-calendar-transform-load.rkt:64-70`,
  * `dividend-calendar-transform-load.rkt:64-70`).
  *
  * The raw payload is JSON wrapped in JS noise: a `window.app_data = `
  * prefix, embedded HTML tags, and "XYZ Quick Quote" fragments. The pipeline
  * is F7 cleanup → `from_json` with schema `{data: array<array<string>>}` →
  * `explode` → positional `element_at` — all codegen'd built-ins, the
  * generator shape the reference expresses with `hash-ref`+`for-each`.
  */
object CalendarExtract {

  /** The payload schema: `data` is a list of positional row-arrays. */
  val PayloadSchema: StructType = StructType(Seq(
    StructField("data", ArrayType(ArrayType(StringType)))))

  /** Clean + parse + explode: one output row per calendar entry, with the
    * positional array in `entry` and all original columns preserved. */
  def explodeEntries(df: DataFrame, rawCol: Column): DataFrame =
    df.withColumn("entry",
      explode(from_json(ScalarFns.stripCalendarNoise(rawCol), PayloadSchema)
        .getField("data")))

  /** Earnings rows: index 1 = act_symbol, index 4 = amc/bmo/-- mapped to the
    * `when` enum or NULL (`earnings-calendar-transform-load.rkt:86-105`). */
  def earningsRows(df: DataFrame, rawCol: Column, date: Column): DataFrame = {
    val Seq(bmo, amc) = Schemas.Enums.when
    explodeEntries(df, rawCol).select(
      element_at(col("entry"), 1).as("act_symbol"),
      date.cast("date").as("date"),
      when(element_at(col("entry"), 4) === "amc", lit(amc))
        .when(element_at(col("entry"), 4) === "bmo", lit(bmo))
        .otherwise(lit(null).cast("string")).as("when"))
  }

  /** Dividend rows: index 1 = act_symbol, 4 = $-prefixed amount, 6 = ex-date,
    * 8 = payable date or "--" (`dividend-calendar-transform-load.rkt:104-107`). */
  def dividendRows(df: DataFrame, rawCol: Column): DataFrame =
    explodeEntries(df, rawCol).select(
      element_at(col("entry"), 1).as("act_symbol"),
      element_at(col("entry"), 6).cast("date").as("ex_date"),
      ScalarFns.stripDollar(element_at(col("entry"), 4)).cast("decimal(38,4)")
        .as("amount"),
      when(element_at(col("entry"), 8) === "--", lit(null).cast("date"))
        .otherwise(element_at(col("entry"), 8).cast("date"))
        .as("payable_date"))
}
