package graft.export

import java.nio.file.Files
import java.sql.Date
import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.plans.physical.{Partitioning, RangePartitioning}
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.QueryExecutionListener
import org.scalatest.funsuite.AnyFunSuite
import graft.TestSpark

/** K2's file contract: one headered CSV per snapshot, rows in TYPED primary
  * key order, '' for NULL — from an input spread over several partitions,
  * and without a range-partitioning sort (one output file needs one task's
  * sort, not a sampled global one). */
class CsvExportSpec extends AnyFunSuite with AdaptiveSparkPlanHelper {
  private lazy val spark = TestSpark.spark

  private val schema = StructType(Seq(
    StructField("id", IntegerType),
    StructField("d", DateType),
    StructField("note", StringType),
    StructField("qty", IntegerType)))

  // string order would read 1, 10, 100, 2, 20, 3; NULL payloads throughout
  private val ids = Seq(10, 2, 100, 1, 20, 3)

  private def input(dates: Seq[String]): DataFrame = {
    val rows = for (d <- dates; id <- ids) yield Row(id, Date.valueOf(d),
      if (id % 2 == 0) null else s"n$id",
      if (id > 10) null else Integer.valueOf(id * 7))
    val df = spark.createDataFrame(spark.sparkContext.parallelize(rows, 5),
      schema)
    assert(df.rdd.getNumPartitions >= 4)
    df
  }

  private def expectedLines(d: String): Seq[String] =
    "id,d,note,qty" +: ids.sorted.map { id =>
      s"$id,$d,${if (id % 2 == 0) "" else s"n$id"}," +
        (if (id > 10) "" else s"${id * 7}")
    }

  private def csvParts(dir: String): Seq[java.io.File] =
    new java.io.File(dir).listFiles(
      (_, n) => n.startsWith("part-") && n.endsWith(".csv")).toSeq

  private def lines(dir: String): Seq[String] = {
    val parts = csvParts(dir)
    assert(parts.size === 1, s"one part file in $dir")
    Files.readAllLines(parts.head.toPath).asScala.toSeq
  }

  /** Runs `body`; returns its result and the physical plans of the
    * `expected` writes it made. */
  private def withWritePlans[T](expected: Int)(
      body: => T): (T, Seq[SparkPlan]) = {
    val seen = new ConcurrentLinkedQueue[SparkPlan]()
    val listener = new QueryExecutionListener {
      def onSuccess(funcName: String, qe: QueryExecution,
                    durationNs: Long): Unit = seen.add(qe.executedPlan)
      def onFailure(funcName: String, qe: QueryExecution,
                    exception: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      val result = body
      // listener events arrive asynchronously
      def writes = seen.asScala.toSeq.filter(p =>
        find(p)(_.isInstanceOf[DataWritingCommandExec]).isDefined)
      val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
      while (writes.size < expected && System.nanoTime() < deadline)
        Thread.sleep(20)
      assert(writes.size === expected)
      (result, writes)
    } finally spark.listenerManager.unregister(listener)
  }

  private def exchanges(plan: SparkPlan): Seq[Partitioning] =
    collect(plan) { case e: ShuffleExchangeExec => e.outputPartitioning }

  test("writeSnapshot: one file, header, typed PK order, '' for NULL, no range sort") {
    val out = Files.createTempDirectory("graft_csv").resolve("snap").toString
    val (_, plans) = withWritePlans(1) {
      CsvExport.writeSnapshot(input(Seq("2025-01-15")), Seq("id"), out)
    }
    assert(lines(out) === expectedLines("2025-01-15"))
    val parts = exchanges(plans.head)
    assert(parts.nonEmpty, "the rows are gathered by one exchange")
    assert(!parts.exists(_.isInstanceOf[RangePartitioning]),
      s"no range-partitioning sort is planned: $parts")
  }

  test("writePerDate: dates ascending, one ordered snapshot per date") {
    val base = Files.createTempDirectory("graft_csv_dates").toString
    val dates = Seq("2025-03-01", "2024-12-31", "2025-01-15")
    val (written, plans) = withWritePlans(dates.size) {
      CsvExport.writePerDate(input(dates), "d", Seq("id"), base)
    }
    assert(written === dates.sorted)
    assert(new java.io.File(base).list().toSeq.sorted === dates.sorted)
    dates.foreach(d => assert(lines(s"$base/$d") === expectedLines(d)))
    plans.foreach(p => assert(
      !exchanges(p).exists(_.isInstanceOf[RangePartitioning])))
  }
}
