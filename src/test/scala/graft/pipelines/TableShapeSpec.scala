package graft.pipelines

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.{DataType, StructType}
import org.scalatest.funsuite.AnyFunSuite
import graft.TestSpark
import graft.extract.CalendarExtract
import graft.model.Schemas

/** Every table a pipeline emits has exactly its `Schemas` struct's field
  * names and data types, in order — the K2 CSV header and the column order
  * of a new store version follow from it. Only the analyzed schema is read,
  * so empty inputs suffice. */
class TableShapeSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def empty(ddl: String): DataFrame =
    spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      StructType.fromDDL(ddl))

  private lazy val docs =
    empty("act_symbol STRING, html STRING, folder_date DATE")

  private def shape(s: StructType): Seq[(String, DataType)] =
    s.fields.toSeq.map(f => f.name -> f.dataType)

  private def assertShape(table: String, df: DataFrame): Unit =
    assert(shape(df.schema) === shape(Schemas.tables(table)), table)

  test("estimates: all six tables follow Schemas") {
    val tables = EstimatesPipeline.tables(docs)
    assert(tables.size === 6)
    tables.foreach { case (t, df) => assertShape(t, df) }
  }

  test("statements: income, balance sheet and both cash-flow layouts follow Schemas") {
    assertShape("income_statement", StatementsPipeline.incomeStatement(docs))
    val balance = StatementsPipeline.balanceSheet(docs)
    assert(balance.size === 3)
    balance.foreach { case (t, df) => assertShape(t, df) }
    Seq(true, false).foreach { layout2024 =>
      assertShape("cash_flow_statement",
        StatementsPipeline.cashFlow(docs, layout2024))
    }
  }

  test("calendars: earnings and dividend rows follow Schemas") {
    val payloads = empty("raw STRING, event_date DATE")
    assertShape("earnings_calendar",
      CalendarExtract.earningsRows(payloads, col("raw"), col("event_date")))
    assertShape("dividend_calendar",
      CalendarExtract.dividendRows(payloads, col("raw")))
  }
}
