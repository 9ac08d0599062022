package graft.sinks

import java.nio.file.{Files, Paths, StandardCopyOption}
import java.sql.Date
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{AnalysisException, DataFrame}
import org.scalatest.funsuite.AnyFunSuite
import graft.TestSpark

/** K3 (date-partitioned snapshot model) + K6 (compaction rewrite). */
class SnapshotStoreSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def tmp(prefix: String): String =
    Files.createTempDirectory(prefix).toString + "/t"

  /** Delivers every queued listener event (the bus is `private[spark]`). */
  private def drain(sc: SparkContext): Unit = {
    val bus = sc.getClass.getMethod("listenerBus").invoke(sc)
    bus.getClass.getMethod("waitUntilEmpty").invoke(bus)
  }

  /** Spark jobs started while `body` ran. */
  private def jobsDuring(body: => Unit): Int = {
    val sc = spark.sparkContext
    val n = new AtomicInteger
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = n.incrementAndGet()
    }
    drain(sc)
    sc.addSparkListener(l)
    try { body; drain(sc) } finally sc.removeSparkListener(l)
    n.get
  }

  /** [[SnapshotStore.read]] opens what `spark.read.parquet` opens: the same
    * schema (names, order, types, nullability) and the same rows. */
  private def assertSameAsSpark(path: String): DataFrame = {
    val ours = SnapshotStore.read(spark, path)
    val theirs = spark.read.parquet(path)
    assert(ours.schema === theirs.schema)
    val rows = (df: DataFrame) => df.collect().map(_.toString).sorted.toSeq
    assert(rows(ours) === rows(theirs))
    ours
  }

  /** Rows of several column types with a NULL in each date column, so each
    * partitioning has a `__HIVE_DEFAULT_PARTITION__` directory. */
  private def typed: DataFrame = {
    val d = (s: String) => Date.valueOf(s)
    Seq(
      ("AAPL", d("2025-05-05"), d("2025-05-09"), d("2025-03-31"), 1.5, 7L, 3, true),
      ("MSFT", d("2025-05-05"), d("2025-05-12"), d("2025-03-31"), 2.5, 8L, 4, false),
      ("NVDA", d("2025-05-06"), null, d("2025-06-30"), 3.5, 9L, 5, true),
      ("AMZN", null, d("2025-05-12"), null, 4.5, 10L, 6, false))
      .toDF("act_symbol", "date", "ex_date", "period_end_date", "v", "n", "i", "b")
      .withColumn("amount", $"v".cast("decimal(7,2)"))
  }

  test("partitioned write round-trips and prunes by date") {
    val path = Files.createTempDirectory("graft_store").toString + "/t"
    val df = Seq(
      ("AAPL", Date.valueOf("2024-01-01"), 1.0),
      ("MSFT", Date.valueOf("2024-01-01"), 2.0),
      ("AAPL", Date.valueOf("2024-01-02"), 3.0))
      .toDF("act_symbol", "date", "v")
    SnapshotStore.write(df, path)
    assert(new java.io.File(path).listFiles()
      .exists(_.getName == "date=2024-01-01")) // partition dir per date
    val back = SnapshotStore.read(spark, path)
    assert(back.count() === 3)
    val pruned = back.filter($"date" === Date.valueOf("2024-01-02"))
    assert(pruned.count() === 1)
    // partition pruning visible in the plan: the date predicate must sit
    // INSIDE the PartitionFilters list ('PartitionFilters: []' with the
    // filter applied post-scan would be a full store scan)
    val plan = pruned.queryExecution.executedPlan.toString
    assert("PartitionFilters: \\[[^\\]]*date".r.findFirstIn(plan).isDefined,
      "expected the date predicate inside PartitionFilters")
  }

  test("per-date loader reads prune the store scan — the 100-TB contract") {
    // LoadOps.dedupAppend's documented contract: a caller that passes only
    // the date partitions the incoming batch touches gets a pruned scan.
    // This gate fails if that composition ever stops reaching the scan as
    // a partition filter — i.e. if a loader silently full-scans the store.
    val path = Files.createTempDirectory("graft_prune").toString + "/t"
    val store = Seq(
      ("AAPL", Date.valueOf("2024-01-01"), "Before market open"),
      ("MSFT", Date.valueOf("2024-01-02"), "After market close"),
      ("NVDA", Date.valueOf("2024-01-03"), "Before market open"))
      .toDF("act_symbol", "date", "when")
    SnapshotStore.write(store, path)
    val batchDate = Date.valueOf("2024-01-02")
    val incoming = Seq(("AMZN", batchDate, "After market close"))
      .toDF("act_symbol", "date", "when")
    val touched = SnapshotStore.read(spark, path)
      .filter($"date" === batchDate)
    val loaded = graft.operators.LoadOps.dedupAppend(
      touched, incoming, Seq("act_symbol", "date"))
    assert(loaded.count() === 2) // MSFT (stored) + AMZN (fresh)
    val plan = loaded.queryExecution.executedPlan.toString
    assert("PartitionFilters: \\[[^\\]]*date".r.findFirstIn(plan).isDefined,
      "the loader's per-date read must prune the store scan, not filter " +
        "after a full scan")
  }

  test("read equals spark.read.parquet for each partition column") {
    for (pc <- Seq("date", "ex_date", "period_end_date")) {
      val path = tmp("graft_read_eq")
      SnapshotStore.write(typed, path, pc)
      assert(new java.io.File(s"$path/$pc=__HIVE_DEFAULT_PARTITION__").isDirectory)
      val back = assertSameAsSpark(path)
      assert(back.columns.last === pc)
      assert(back.filter(back(pc).isNull).count() === 1, pc)
    }
  }

  test("read skips _SUCCESS, .crc and _temporary files as Spark does") {
    val path = tmp("graft_read_hidden")
    SnapshotStore.write(typed, path)
    val part = new java.io.File(s"$path/date=2025-05-05").listFiles()
      .find(_.getName.endsWith(".parquet")).get.toPath
    // a half-written task's file would add rows if it were listed
    for (dir <- Seq(s"$path/_temporary/0", s"$path/date=2025-05-05/_temporary/0")) {
      Files.createDirectories(Paths.get(dir))
      Files.copy(part, Paths.get(s"$dir/part-00000.parquet"),
        StandardCopyOption.REPLACE_EXISTING)
    }
    Files.write(Paths.get(s"$path/date=2025-05-06/.stray.parquet.crc"), Array[Byte](1, 2))
    Files.write(Paths.get(s"$path/date=2025-05-06/_SUCCESS"), Array.emptyByteArray)
    assert(new java.io.File(s"$path/_SUCCESS").exists)
    assert(assertSameAsSpark(path).count() === 4)
  }

  test("read of a 40-date store starts no Spark job") {
    val path = tmp("graft_read_jobs")
    val day = Date.valueOf("2024-01-01").toLocalDate
    SnapshotStore.write((0 until 40).map(i =>
      (s"S$i", Date.valueOf(day.plusDays(i)), i.toDouble))
      .toDF("act_symbol", "date", "v"), path)
    assert(new java.io.File(path).listFiles().count(_.isDirectory) === 40)
    assert(jobsDuring(SnapshotStore.read(spark, path)) === 0)
    // the listing and schema jobs the read avoids
    assert(jobsDuring(spark.read.parquet(path)) > 0)
    assertSameAsSpark(path)
  }

  test("read after an overwrite sees the new version") {
    val path = tmp("graft_read_overwrite")
    SnapshotStore.write(typed, path)
    assert(SnapshotStore.read(spark, path).count() === 4)
    SnapshotStore.write(typed.filter($"act_symbol" =!= "AMZN")
      .withColumn("v", $"v" * 2), path)
    val back = assertSameAsSpark(path)
    assert(back.count() === 3)
    assert(back.filter($"act_symbol" === "AAPL").head().getAs[Double]("v") === 3.0)
  }

  test("read of a missing path or a store with no data file fails as Spark does") {
    val root = Files.createTempDirectory("graft_read_err").toString
    val empty = s"$root/empty"
    Files.createDirectories(Paths.get(s"$empty/date=2025-05-05"))
    Files.write(Paths.get(s"$empty/_SUCCESS"), Array.emptyByteArray)
    for (path <- Seq(s"$root/missing", empty)) {
      val ours = intercept[AnalysisException](SnapshotStore.read(spark, path))
      val theirs = intercept[AnalysisException](spark.read.parquet(path))
      assert(ours.getCondition === theirs.getCondition)
      assert(ours.getMessage === theirs.getMessage)
    }
  }

  test("bucketed tables co-locate a join: no exchange on either side") {
    val left = (1 to 200).map(i => (s"S${i % 40}", i.toDouble))
      .toDF("act_symbol", "a")
    val right = (1 to 100).map(i => (s"S${i % 40}", i * 2.0))
      .toDF("act_symbol", "b")
    SnapshotStore.writeBucketed(left, "bk_left", Seq("act_symbol"), 4)
    SnapshotStore.writeBucketed(right, "bk_right", Seq("act_symbol"), 4)
    // forbid broadcast so the test proves bucket co-location, not smallness
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold", "10MB")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val joined = spark.table("bk_left")
        .join(spark.table("bk_right"), "act_symbol")
      joined.collect()
      val plan = joined.queryExecution.executedPlan.toString
      assert(plan.contains("SortMergeJoin"))
      // bucket co-location: the join needs no shuffle of either input
      assert(!plan.contains("Exchange hashpartitioning"))
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("compact rewrites each date partition to the target file count") {
    val path = Files.createTempDirectory("graft_compact").toString + "/t"
    val df = (1 to 40).map(i =>
      (s"S$i", Date.valueOf("2024-01-01"), i.toDouble))
      .toDF("act_symbol", "date", "v")
    df.repartition(8).write.partitionBy("date").parquet(path)
    val before = new java.io.File(path + "/date=2024-01-01")
      .listFiles().count(_.getName.endsWith(".parquet"))
    assert(before > 1)
    SnapshotStore.compact(spark, path)
    val after = new java.io.File(path + "/date=2024-01-01")
      .listFiles().count(_.getName.endsWith(".parquet"))
    assert(after === 1)
    assert(SnapshotStore.read(spark, path).count() === 40)
  }

  test("diff classifies added/removed/changed and drops the unchanged majority") {
    val old = Seq((1L, "A", 10.0), (2L, "B", 20.0), (3L, "C", 30.0),
      (4L, null.asInstanceOf[String], 40.0))
      .toDF("k", "s", "v")
    val neu = Seq((2L, "B", 20.0), (3L, "C", 99.0),
      (4L, "D", 40.0), (5L, "E", 50.0))
      .toDF("k", "s", "v")
    val out = SnapshotStore.diff(old, neu, Seq("k"), Seq("s", "v"))
      .collect().map(r => r.getLong(0) -> r.getAs[String]("change")).toMap
    // 1 only in old, 5 only in new, 3 payload-changed, 4 null→D changed
    // (null-safe compare), 2 identical → absent
    assert(out == Map(1L -> "removed", 5L -> "added",
      3L -> "changed", 4L -> "changed"))
  }
}
