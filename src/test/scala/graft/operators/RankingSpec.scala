package graft.operators

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.TestSpark

/** `Ranking.globalRowNumber` laws: equals the naive global window for any
  * bucket size (two-level prefix sum must be layout-invariant), including
  * with heavy key ties resolved by the tie column.
  */
class RankingSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark

  test("matches the naive global row_number for any bucket size") {
    val s = spark
    import s.implicits._
    // keys with heavy ties (i % 17) and ids shuffled via a multiplicative
    // permutation so arrival order differs from rank order, spread over
    // four input shards
    val df = (0L until 500L).map(i => ((i * 97) % 500, i % 17))
      .toDF("id", "key").repartition(4)
    val naive = df.withColumn("rn",
      row_number().over(Window.orderBy(col("key"), col("id"))).cast("long"))
      .select("id", "rn").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    Seq(1L, 3L, 64L, 1000L).foreach { b =>
      val got = Ranking.globalRowNumber(df, col("key"), col("id"),
        bucket = b)
        .select("id", "rn").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toMap
      assert(got == naive, s"bucket=$b diverged from the naive rank")
    }
  }

  test("non-integral key type is rejected at plan build (r12 ADVICE: " +
    "cast-to-long truncation broke monotonicity silently)") {
    val s = spark
    import s.implicits._
    val df = Seq((1.5, 1L), (2.0, 2L)).toDF("key", "id")
    val e = intercept[IllegalArgumentException] {
      Ranking.globalRowNumber(df, col("key"), col("id"))
    }
    assert(e.getMessage.contains("integral"))
  }

  test("negative key fails in-plan with a named error, not a wrong rank") {
    val s = spark
    import s.implicits._
    val df = Seq((-1L, 1L), (3L, 2L)).toDF("key", "id")
    val e = intercept[Exception] {
      Ranking.globalRowNumber(df, col("key"), col("id")).collect()
    }
    def msgs(t: Throwable): List[String] =
      if (t == null) Nil
      else Option(t.getMessage).toList ++ msgs(t.getCause)
    assert(msgs(e).exists(_.contains("non-negative")),
      s"expected the raise_error text in: ${msgs(e)}")
  }
}
