package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.TestSpark
import graft.extract.{EstimateExtract, StatementExtract}

/** F1–F10 edge cases (`estimate-transform-load.rkt:118-125` chain order
  * matters: T/B before the bare-M check, parens stripped not negated). */
class ScalarFnsSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def evalStr(c: Column): String =
    spark.range(1).select(c.cast("string").as("v")).head().getString(0)

  private def sanitize(s: String): String =
    evalStr(ScalarFns.sanitizeNumericText(lit(s)))

  test("F1 sanitizer covers every Zacks cell shape") {
    assert(sanitize("1,234.5") === "1234.5")
    assert(sanitize(" (12.3) ") === "12.3") // stripped, NOT negated
    assert(sanitize("NA") === "NA")
    assert(sanitize("M") === "NA")          // bare M is unknown
    assert(sanitize("2.5B") === "2.5e9")
    assert(sanitize("1.2T") === "1.2e12")
    assert(sanitize("10.00M") === "10.00e6")
    assert(sanitize("42") === "42")
  }

  test("F1+F3 sanitizeToDouble: NA and empty to NULL, suffixes expand") {
    val row = spark.range(1).select(
      ScalarFns.sanitizeToDouble(lit("2.5B")).as("b"),
      ScalarFns.sanitizeToDouble(lit("NA")).as("na"),
      ScalarFns.sanitizeToDouble(lit("")).as("empty")).head()
    assert(row.getDouble(0) === 2.5e9)
    assert(row.isNullAt(1) && row.isNullAt(2))
  }

  test("F1/F2 string and Column sanitizers agree on every cell shape") {
    import spark.implicits._
    // perfbench's estimate-page money tokens, then the edge shapes
    val cells = Seq("1,234.5", "(0.12)", "NA", "2.5B", "1.2T", "10.00M",
      "42.75", "M", "-1.07", "0.35", "", "(1,234.5)", " 2.5B ", "  M  ",
      " (1,234.5) ")
    val rows = cells.toDF("s").select(col("s"),
      ScalarFns.sanitizeNumericText(col("s")).as("f1"),
      ScalarFns.trimCommas(col("s")).as("f2")).collect()
    rows.foreach { r =>
      val s = r.getString(0)
      assert(r.getString(1) === EstimateExtract.sanitizeCell(s), s"F1 '$s'")
      assert(r.getString(2) === StatementExtract.sanitizeStatementCell(s),
        s"F2 '$s'")
    }
    // not lockstep on other whitespace: String.trim strips every char
    // <= U+0020, Spark's trim only spaces
    val tab = "\t1,234.5\t"
    assert(EstimateExtract.sanitizeCell(tab) === "1234.5")
    assert(evalStr(ScalarFns.sanitizeNumericText(lit(tab))) === "\t1234.5\t")
    assert(StatementExtract.sanitizeStatementCell(tab) === "1234.5")
    assert(evalStr(ScalarFns.trimCommas(lit(tab))) === "\t1234.5\t")
  }

  test("F2/F3/F5/F6 small sanitizers") {
    assert(evalStr(ScalarFns.trimCommas(lit(" 1,234,567 "))) === "1234567")
    assert(evalStr(ScalarFns.rankText(lit(" 1-Strong Buy"))) === "Strong Buy")
    assert(evalStr(ScalarFns.stripDollar(lit("$1.25"))) === "1.25")
  }

  test("F7 calendar noise strip: JS prefix, tags, Quick Quote") {
    val noisy = "window.app_data = {\"d\": \"<b>X</b> AAPL Quick Quote ok\"}"
    // "AAPL Quick Quote" excises exactly itself: both neighbors keep
    // their spaces (the reference regex does the same)
    assert(evalStr(ScalarFns.stripCalendarNoise(lit(noisy))) ===
      "{\"d\": \"X  ok\"}")
  }

  test("F8 symbol from raw-zone filename") {
    assert(evalStr(ScalarFns.symbolFromFilename(
      lit("/base/2024-01-15/BRK.B.detailed-estimates.html"),
      "detailed-estimates")) === "BRK.B")
  }

  test("F10 rank ordinal matches to_integer_rank") {
    assert(evalStr(ScalarFns.toIntegerRank(lit("Strong Buy"))) === "1")
    assert(evalStr(ScalarFns.toIntegerRank(lit("Strong Sell"))) === "5")
    assert(spark.range(1)
      .select(ScalarFns.toIntegerRank(lit("bogus")).as("v"))
      .head().isNullAt(0))
  }
}
