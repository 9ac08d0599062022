package graft.pipelines

import java.nio.file.{Files, Paths}
import java.sql.Date

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite
import graft.TestSpark
import graft.operators.{Dedup, LoadOps}

/** The pin rule's gate. Internal multi-consumer materializations must not
  * pin cache-manager storage for the life of the session — a daily loop
  * over date folders would otherwise accumulate pinned blocks until
  * eviction thrash. The pipelines pin with eager localCheckpoints (RDD
  * blocks the ContextCleaner frees once the plans are garbage-collected),
  * so running a pipeline any number of times must leave the cache manager
  * exactly as it found it, and every pin must be materialized by the time
  * the call that made it returns. */
class CacheHygieneSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def earnFixture(): (DataFrame, DataFrame, DataFrame) = {
    val calSchema = StructType(Seq(
      StructField("act_symbol", StringType),
      StructField("date", DateType),
      StructField("when", StringType)))
    val existing = spark.createDataFrame(Seq(
      Row("AAPL", Date.valueOf("2024-01-08"), "Before market open"),
      Row("MSFT", Date.valueOf("2024-02-20"), null)).asJava, calSchema)
    val payloads = spark.range(1, 4).select(
      concat(lit("window.app_data = {\"data\": [[\"<b>S"), col("id"),
        lit("</b>\", \"x\", \"y\", \"amc\", \"z\"]]}")).as("raw"),
      lit("2024-01-20").cast("date").as("event_date"))
    val stmtDates = spark.range(1, 4).select(
      concat(lit("S"), col("id")).as("act_symbol"),
      lit("2023-10-15").cast("date").as("date"))
    (existing, payloads, stmtDates)
  }

  private def divFixture(): (DataFrame, DataFrame) = {
    val divSchema = StructType(Seq(
      StructField("act_symbol", StringType),
      StructField("ex_date", DateType),
      StructField("amount", DecimalType(38, 4)),
      StructField("payable_date", DateType)))
    val divExisting = spark.createDataFrame(Seq.empty[Row].asJava, divSchema)
    val divPayloads = spark.range(1, 4).select(
      concat(lit("window.app_data = {\"data\": [[\"D"), col("id"),
        lit("\", \"a\", \"b\", \"$1.25\", \"c\", \"2024-01-20\", \"d\", "),
        lit("\"2024-12-15\"]]}")).as("raw"))
    (divExisting, divPayloads)
  }

  private def estimateDocs(): DataFrame = spark.range(0, 2).select(
    concat(lit("P"), col("id")).as("act_symbol"),
    lit("<html><body id=home></body></html>").as("html"),
    lit("2025-01-01").cast("date").as("folder_date"))

  test("calendar pipelines + near-dup leave the cache manager empty") {
    val cm = spark.sharedState.cacheManager
    cm.clearCache()
    assert(cm.isEmpty)
    val (existing, payloads, stmtDates) = earnFixture()
    val (divExisting, divPayloads) = divFixture()
    import spark.implicits._
    val docs = Seq(
      (1L, "alpha beta gamma delta epsilon zeta"),
      (2L, "alpha beta gamma delta epsilon zeta"),
      (3L, "totally different words over here now")).toDF("doc_id", "text")
    // run everything twice — the second pass must not observe (or add)
    // pinned entries from the first
    (1 to 2).foreach { _ =>
      CalendarPipeline.runEarnings(existing, payloads,
        Date.valueOf("2024-01-15"), stmtDates).count()
      CalendarPipeline.runDividends(divExisting, divPayloads,
        Date.valueOf("2024-01-15")).count()
      Dedup.nearDupPairs(docs, "doc_id", "text", threshold = 0.5).count()
      EstimatesPipeline.tables(estimateDocs()).values.foreach(_.count())
      assert(cm.isEmpty,
        "no pipeline may leave pinned storage in the cache manager")
    }
  }

  // The inputs above are local relations and ranges, so every LogicalRDD in
  // a returned plan was put there by a pin.
  private def assertPinsMaterialized(what: String, df: DataFrame): Unit = {
    val pins = df.queryExecution.logical.collect { case r: LogicalRDD => r }
    assert(pins.nonEmpty, s"$what: no pin in the returned plan")
    assert(pins.forall(_.rdd.isCheckpointed),
      s"$what returned before its pins were checkpointed")
  }

  test("every pin is materialized when the call that made it returns") {
    val (existing, payloads, stmtDates) = earnFixture()
    val (divExisting, divPayloads) = divFixture()
    assertPinsMaterialized("runEarnings", CalendarPipeline.runEarnings(
      existing, payloads, Date.valueOf("2024-01-15"), stmtDates))
    assertPinsMaterialized("runDividends", CalendarPipeline.runDividends(
      divExisting, divPayloads, Date.valueOf("2024-01-15")))
    assertPinsMaterialized("supersededCleanup",
      LoadOps.supersededCleanup(existing, stmtDates))
    EstimatesPipeline.tables(estimateDocs()).foreach { case (t, df) =>
      assertPinsMaterialized(s"tables($t)", df)
    }
  }

  test("no lazy localCheckpoint anywhere under src/main/scala") {
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root), s"run from the repo root: $root")
    val lazyPin = """localCheckpoint\(\s*(eager\s*=\s*)?false\s*\)""".r
    val files = Files.walk(root).iterator().asScala
      .filter(_.toString.endsWith(".scala")).toList
    val hits = files.flatMap { p =>
      Files.readAllLines(p).asScala.zipWithIndex.collect {
        case (l, i) if lazyPin.findFirstIn(l).nonEmpty => s"$p:${i + 1}"
      }
    }
    if (hits.nonEmpty)
      fail(s"${hits.size} lazy pins, first: ${hits.take(5).mkString(", ")}")
  }
}
