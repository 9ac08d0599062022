package graft.streaming

import java.nio.file.Files
import java.sql.Date

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite
import graft.TestSpark
import graft.operators.LoadOps
import org.apache.spark.sql.types.{DoubleType, TimestampType}

/** SURVEY §2.8 stretch: daily folder arrival as a Structured Streaming file
  * source, with `foreachBatch` reusing the SAME batch load operators (K1
  * dedup-append + K4 future-overwrite) — the streaming form is the batch
  * form, which is the point. */
class StreamingSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private val schema = StructType(Seq(
    StructField("act_symbol", StringType),
    StructField("date", DateType),
    StructField("when", StringType)))

  test("file-source stream + foreachBatch drives K1/K4 incrementally") {
    val inDir = Files.createTempDirectory("graft_stream_in").toFile
    // state: the stored calendar snapshot, rewritten per micro-batch
    var store: DataFrame = spark.createDataFrame(
      spark.sparkContext.parallelize(Seq(
        Row("AAPL", Date.valueOf("2024-01-10"), "Before market open"),
        Row("MSFT", Date.valueOf("2024-03-01"), null))), schema)

    val stream = spark.readStream.schema(schema).json(inDir.getAbsolutePath)
    val query = stream.writeStream
      .outputMode("append")
      .foreachBatch { (batch: DataFrame, _: Long) =>
        // K4 semantics per arriving folder: retract the future slice at the
        // batch's min folder date, then K1 dedup-append the fresh rows
        val folderDate = Date.valueOf("2024-02-01")
        val afterK4 = LoadOps.overwriteFutureSlice(
          store, batch.select(store.columns.map(col).toSeq: _*),
          "date", folderDate)
        store = LoadOps.dedupAppend(
          afterK4.limit(0), afterK4, Seq("act_symbol", "date"))
          .localCheckpoint()
        ()
      }
      .start()

    // first arrival: a future MSFT correction + a duplicate AAPL row
    Files.writeString(new java.io.File(inDir, "b1.json").toPath,
      """{"act_symbol":"MSFT","date":"2024-02-20","when":"After market close"}
        |{"act_symbol":"AAPL","date":"2024-01-10","when":"Before market open"}
        |""".stripMargin)
    query.processAllAvailable()
    // K4 dropped the stored 2024-03-01 future row; K1 collapsed the two
    // identical AAPL rows -> {AAPL 01-10, MSFT 02-20}
    assert(store.count() === 2)
    assert(store.filter(col("date") === lit("2024-03-01")).count() === 0)

    // second arrival: same file content again -> idempotent by PK dedup
    Files.writeString(new java.io.File(inDir, "b2.json").toPath,
      """{"act_symbol":"MSFT","date":"2024-02-20","when":"After market close"}
        |""".stripMargin)
    query.processAllAvailable()
    query.stop()
    assert(store.count() === 2)
    assert(store.filter(col("act_symbol") === "MSFT")
      .head().getDate(1) === Date.valueOf("2024-02-20"))
  }

  test("StreamingLoad.foreachFolderBatch carries the snapshot across batches") {
    val inDir = Files.createTempDirectory("graft_sload").toFile
    val initial = spark.createDataFrame(
      spark.sparkContext.parallelize(Seq(
        Row("AAPL", Date.valueOf("2024-01-10"), null))), schema)
    val (query, snapshot) = StreamingLoad.foreachFolderBatch(
      spark, inDir.getAbsolutePath, schema, initial,
      (store, batch) => LoadOps.dedupAppend(
        store, batch.select(store.columns.map(col).toSeq: _*),
        Seq("act_symbol", "date")))
    Files.writeString(new java.io.File(inDir, "f1.json").toPath,
      """{"act_symbol":"NVDA","date":"2024-02-01","when":"After market close"}
        |""".stripMargin)
    query.processAllAvailable()
    assert(snapshot().count() === 2)
    Files.writeString(new java.io.File(inDir, "f2.json").toPath,
      """{"act_symbol":"NVDA","date":"2024-02-01","when":"Before market open"}
        |{"act_symbol":"AMZN","date":"2024-02-02","when":null}
        |""".stripMargin)
    query.processAllAvailable()
    query.stop()
    // NVDA re-arrival is a PK duplicate: existing row wins (ON CONFLICT
    // DO NOTHING), AMZN appends
    val s = snapshot()
    assert(s.count() === 3)
    assert(s.filter(col("act_symbol") === "NVDA").head().getString(2) ===
      "After market close")
  }

  test("tumblingCounts on a stream applies the watermark") {
    val inDir = Files.createTempDirectory("graft_tumble").toFile
    val evSchema = StructType(Seq(
      StructField("ts", TimestampType),
      StructField("event_type", StringType),
      StructField("value", DoubleType)))
    val stream = spark.readStream.schema(evSchema)
      .json(inDir.getAbsolutePath)
    val agg = StreamingLoad.tumblingCounts(stream, "ts", col("event_type"),
      windowLen = "1 hour", watermark = "2 hours", valueCol = col("value"))
    val query = agg.writeStream.outputMode("complete")
      .format("memory").queryName("tumble").start()
    // two micro-batches in ts order; the 10:00 click window spans both
    Files.writeString(new java.io.File(inDir, "e1.json").toPath,
      """{"ts":"2024-01-01T10:15:00.000Z","event_type":"click","value":1.5}
        |""".stripMargin)
    query.processAllAvailable()
    Files.writeString(new java.io.File(inDir, "e2.json").toPath,
      """{"ts":"2024-01-01T10:45:00.000Z","event_type":"click","value":2.0}
        |{"ts":"2024-01-01T11:05:00.000Z","event_type":"view","value":1.0}
        |""".stripMargin)
    query.processAllAvailable()
    query.stop()
    val out = spark.table("tumble").orderBy("ws", "event_type").collect()
    assert(out.map(r => (r.getString(1), r.getLong(2), r.getDouble(3))).toSeq
      === Seq(("click", 2L, 3.5), ("view", 1L, 1.0)))
    // the streaming form equals the batch form over the same events
    val batch = StreamingLoad.tumblingCounts(
      spark.read.schema(evSchema).json(inDir.getAbsolutePath),
      "ts", col("event_type"), valueCol = col("value"))
      .orderBy("ws", "event_type").collect()
    assert(out.toSeq === batch.toSeq)
  }

  test("firstSeenDedup drops re-arrivals across micro-batches via key state") {
    import spark.implicits._
    val inDir = Files.createTempDirectory("graft_fsd").toFile
    val evSchema = StructType(Seq(
      StructField("act_symbol", StringType),
      StructField("date", StringType),
      StructField("when", StringType)))
    val stream = spark.readStream.schema(evSchema)
      .json(inDir.getAbsolutePath)
      .as[(String, String, String)]
    val deduped = StreamingLoad.firstSeenDedup(
      stream.groupByKey { case (s, d, _) => (s, d) },
      // deterministic within-batch winner: min by the payload field
      pick = (a: (String, String, String), b: (String, String, String)) =>
        if (a._3 <= b._3) a else b)
    val query = deduped.toDF("act_symbol", "date", "when").writeStream
      .outputMode("append").format("memory").queryName("fsd").start()
    // batch 1: one duplicate inside the batch
    Files.writeString(new java.io.File(inDir, "b1.json").toPath,
      """{"act_symbol":"AAPL","date":"2024-01-10","when":"bmo"}
        |{"act_symbol":"AAPL","date":"2024-01-10","when":"amc"}
        |{"act_symbol":"MSFT","date":"2024-01-11","when":"amc"}
        |""".stripMargin)
    query.processAllAvailable()
    // batch 2: AAPL re-arrives (must be dropped by state), NVDA is new
    Files.writeString(new java.io.File(inDir, "b2.json").toPath,
      """{"act_symbol":"AAPL","date":"2024-01-10","when":"changed"}
        |{"act_symbol":"NVDA","date":"2024-01-12","when":"bmo"}
        |""".stripMargin)
    query.processAllAvailable()
    query.stop()
    val out = spark.table("fsd").orderBy("act_symbol").collect()
    assert(out.map(r => (r.getString(0), r.getString(2))).toSeq ===
      Seq(("AAPL", "amc"), ("MSFT", "amc"), ("NVDA", "bmo")),
      "deterministic in-batch winner (min payload); later-batch re-arrival dropped")
  }

  test("dropDuplicatesWithinWatermark dedups re-arrivals inside the watermark window") {
    // the built-in bounded-state sibling of firstSeenDedup: state for a key
    // is droppable once the watermark passes its event time + the window,
    // where flatMapGroupsWithState keeps it until an explicit TTL
    val inDir = Files.createTempDirectory("graft_ddww").toFile
    val evSchema = StructType(Seq(
      StructField("act_symbol", StringType),
      StructField("ts", TimestampType)))
    val stream = spark.readStream.schema(evSchema).json(inDir.getAbsolutePath)
      .withWatermark("ts", "1 hour")
      .dropDuplicatesWithinWatermark("act_symbol")
    val query = stream.writeStream.outputMode("append")
      .format("memory").queryName("ddww").start()
    Files.writeString(new java.io.File(inDir, "b1.json").toPath,
      """{"act_symbol":"AAPL","ts":"2024-01-01T10:00:00.000Z"}
        |{"act_symbol":"AAPL","ts":"2024-01-01T10:05:00.000Z"}
        |{"act_symbol":"MSFT","ts":"2024-01-01T10:10:00.000Z"}
        |""".stripMargin)
    query.processAllAvailable()
    // second micro-batch: AAPL re-arrives within the watermark → dropped
    Files.writeString(new java.io.File(inDir, "b2.json").toPath,
      """{"act_symbol":"AAPL","ts":"2024-01-01T10:20:00.000Z"}
        |{"act_symbol":"NVDA","ts":"2024-01-01T10:30:00.000Z"}
        |""".stripMargin)
    query.processAllAvailable()
    query.stop()
    val out = spark.table("ddww").collect().map(_.getString(0)).sorted
    assert(out.toSeq === Seq("AAPL", "MSFT", "NVDA"))
  }

  test("intervalEventJoin joins two live streams within the time bound") {
    val viewDir = Files.createTempDirectory("graft_ssj_v").toFile
    val buyDir = Files.createTempDirectory("graft_ssj_b").toFile
    val vSchema = StructType(Seq(
      StructField("user_id", LongType),
      StructField("view_id", LongType),
      StructField("vts", TimestampType)))
    val bSchema = StructType(Seq(
      StructField("user_id", LongType),
      StructField("purchase_id", LongType),
      StructField("pts", TimestampType)))
    val views = spark.readStream.schema(vSchema).json(viewDir.getAbsolutePath)
    val buys = spark.readStream.schema(bSchema).json(buyDir.getAbsolutePath)
    val joined = StreamingLoad.intervalEventJoin(
      views, buys, "user_id", "vts", "pts",
      maxGap = "30 minutes", watermark = "1 hour")
      .select("user_id", "view_id", "purchase_id")
    val query = joined.writeStream.outputMode("append")
      .format("memory").queryName("ssj").start()
    // user 7: a view at 10:00 → purchases at 10:20 (match) and 11:30 (out
    // of range); user 8: purchase with no prior view (no match);
    // user 9: purchase 5 min BEFORE the view (no match — range is one-sided)
    Files.writeString(new java.io.File(viewDir, "v1.json").toPath,
      """{"user_id":7,"view_id":70,"vts":"2024-01-01T10:00:00.000Z"}
        |{"user_id":9,"view_id":90,"vts":"2024-01-01T10:10:00.000Z"}
        |""".stripMargin)
    Files.writeString(new java.io.File(buyDir, "b1.json").toPath,
      """{"user_id":7,"purchase_id":700,"pts":"2024-01-01T10:20:00.000Z"}
        |{"user_id":7,"purchase_id":701,"pts":"2024-01-01T11:30:00.000Z"}
        |{"user_id":8,"purchase_id":800,"pts":"2024-01-01T10:15:00.000Z"}
        |{"user_id":9,"purchase_id":900,"pts":"2024-01-01T10:05:00.000Z"}
        |""".stripMargin)
    query.processAllAvailable()
    // a second micro-batch still matches the buffered view's window:
    // inner-join emission is immediate, cleanup is what the watermark gates
    Files.writeString(new java.io.File(buyDir, "b2.json").toPath,
      """{"user_id":7,"purchase_id":702,"pts":"2024-01-01T10:25:00.000Z"}
        |""".stripMargin)
    query.processAllAvailable()
    query.stop()
    val out = spark.table("ssj").orderBy("view_id", "purchase_id").collect()
    assert(out.map(r => (r.getLong(1), r.getLong(2))).toSeq ===
      Seq((70L, 700L), (70L, 702L)))
  }

  test("outer intervalEventJoin emits the unmatched left row only after the watermark proves no match") {
    val viewDir = Files.createTempDirectory("graft_ssjo_v").toFile
    val buyDir = Files.createTempDirectory("graft_ssjo_b").toFile
    val vSchema = StructType(Seq(
      StructField("user_id", LongType),
      StructField("view_id", LongType),
      StructField("vts", TimestampType)))
    val bSchema = StructType(Seq(
      StructField("user_id", LongType),
      StructField("purchase_id", LongType),
      StructField("pts", TimestampType)))
    val views = spark.readStream.schema(vSchema).json(viewDir.getAbsolutePath)
    val buys = spark.readStream.schema(bSchema).json(buyDir.getAbsolutePath)
    val joined = StreamingLoad.intervalEventJoin(
      views, buys, "user_id", "vts", "pts",
      maxGap = "30 minutes", watermark = "10 minutes",
      joinType = "left_outer")
      .select("user_id", "view_id", "purchase_id")
    val query = joined.writeStream.outputMode("append")
      .format("memory").queryName("ssjo").start()
    // user 7 converts; user 9's view has NO purchase in range
    Files.writeString(new java.io.File(viewDir, "v1.json").toPath,
      """{"user_id":7,"view_id":70,"vts":"2024-01-01T10:00:00.000Z"}
        |{"user_id":9,"view_id":90,"vts":"2024-01-01T10:00:00.000Z"}
        |""".stripMargin)
    Files.writeString(new java.io.File(buyDir, "b1.json").toPath,
      """{"user_id":7,"purchase_id":700,"pts":"2024-01-01T10:10:00.000Z"}
        |""".stripMargin)
    query.processAllAvailable()
    // the inner match is out; the unmatched view 90 must NOT be — a match
    // could still arrive inside [10:00, 10:30] + 10 min delay
    val early = spark.table("ssjo").collect()
      .map(r => (r.getLong(1), Option(r.get(2)))).toSet
    assert(early == Set((70L, Some(700L))),
      s"outer row leaked before the watermark allowed it: $early")
    // advance BOTH watermarks past 10:30 + 10 min (global watermark is the
    // min across inputs), then run the extra no-data batch that flushes
    // the expired outer state
    Files.writeString(new java.io.File(viewDir, "v2.json").toPath,
      """{"user_id":1,"view_id":10,"vts":"2024-01-01T12:00:00.000Z"}
        |""".stripMargin)
    Files.writeString(new java.io.File(buyDir, "b2.json").toPath,
      """{"user_id":2,"purchase_id":200,"pts":"2024-01-01T12:00:00.000Z"}
        |""".stripMargin)
    query.processAllAvailable()
    query.processAllAvailable()
    query.stop()
    val out = spark.table("ssjo").collect()
      .map(r => (r.getLong(1), Option(r.get(2)))).toSet
    assert(out.contains((90L, None)),
      s"unmatched view never emitted with a NULL right side: $out")
    assert(out.contains((70L, Some(700L))))
  }

  test("sessionAggs merges gap-adjacent events on a stream") {
    val inDir = Files.createTempDirectory("graft_session").toFile
    val evSchema = StructType(Seq(
      StructField("ts", TimestampType),
      StructField("user_id", LongType),
      StructField("value", DoubleType)))
    val stream = spark.readStream.schema(evSchema)
      .json(inDir.getAbsolutePath)
    val agg = StreamingLoad.sessionAggs(stream, "ts", col("user_id"),
      gap = "30 minutes", watermark = "2 hours", valueCol = col("value"))
    val query = agg.writeStream.outputMode("complete")
      .format("memory").queryName("sessions").start()
    // user 7: two events 10 min apart (one session), one 3 h later (second
    // session); user 8: a single event
    Files.writeString(new java.io.File(inDir, "s1.json").toPath,
      """{"ts":"2024-01-01T10:00:00.000Z","user_id":7,"value":1.0}
        |{"ts":"2024-01-01T10:10:00.000Z","user_id":7,"value":2.0}
        |{"ts":"2024-01-01T13:30:00.000Z","user_id":7,"value":4.0}
        |{"ts":"2024-01-01T10:05:00.000Z","user_id":8,"value":8.0}
        |""".stripMargin)
    query.processAllAvailable()
    query.stop()
    val out = spark.table("sessions").orderBy("user_id", "session_start")
      .collect()
    assert(out.map(r => (r.getLong(0), r.getLong(2), r.getDouble(3))).toSeq
      === Seq((7L, 2L, 3.0), (7L, 1L, 4.0), (8L, 1L, 8.0)))
  }

  test("streamStaticEnrich joins a live stream to a static dim without " +
    "shuffling the stream") {
    val s = spark
    import s.implicits._
    val inDir = Files.createTempDirectory("graft_enrich").toFile
    val evSchema = StructType(Seq(
      StructField("user_id", LongType),
      StructField("value", DoubleType)))
    val dim = Seq((7L, "US"), (8L, "DE")).toDF("user_id", "region")
    val stream = spark.readStream.schema(evSchema)
      .json(inDir.getAbsolutePath)
    val joined = StreamingLoad.streamStaticEnrich(stream, dim, "user_id")
    val query = joined.writeStream.outputMode("append")
      .format("memory").queryName("enriched").start()
    // two batches; user 9 has no dim row and must drop (inner)
    Files.writeString(new java.io.File(inDir, "b1.json").toPath,
      """{"user_id":7,"value":1.0}
        |{"user_id":9,"value":9.0}
        |""".stripMargin)
    query.processAllAvailable()
    Files.writeString(new java.io.File(inDir, "b2.json").toPath,
      """{"user_id":8,"value":2.0}
        |""".stripMargin)
    query.processAllAvailable()
    query.stop()
    val out = spark.table("enriched").orderBy("user_id").collect()
      .map(r => (r.getLong(0), r.getDouble(1), r.getString(2)))
    assert(out.toSeq == Seq((7L, 1.0, "US"), (8L, 2.0, "DE")))
    // left-keep variant preserves the orphan with a NULL dim column
    val leftJoined = StreamingLoad.streamStaticEnrich(
      Seq((9L, 3.0)).toDF("user_id", "value"), dim, "user_id", keep = "left")
      .collect()
    assert(leftJoined.length == 1 && leftJoined.head.isNullAt(2))
    // plan shape (batch twin): the dim is broadcast — no exchange on the
    // fact side at all
    val batch = StreamingLoad.streamStaticEnrich(
      Seq((7L, 1.0)).toDF("user_id", "value"), dim, "user_id")
    batch.collect()
    val plan = batch.queryExecution.executedPlan.toString
      .split("== Initial Plan ==").head
    assert(plan.contains("BroadcastHashJoin"), plan)
    assert(!plan.contains("Exchange hashpartitioning"), plan)
  }

  test("streaming CDC merge: foreachBatch ∘ cdcMerge across micro-batches " +
    "equals the one-shot batch merge") {
    val s = spark
    import s.implicits._
    val inDir = Files.createTempDirectory("graft_cdc_in").toFile
    var store: DataFrame = Seq((1L, "A", 10.0), (2L, "B", 20.0),
      (3L, "C", 30.0)).toDF("pk", "st", "tp").localCheckpoint()
    val cdcSchema = StructType(Seq(
      StructField("pk", LongType), StructField("op", StringType),
      StructField("seq", LongType), StructField("st", StringType),
      StructField("tp", DoubleType)))
    val stream = spark.readStream.schema(cdcSchema).json(inDir.getAbsolutePath)
    val query = stream.writeStream.outputMode("append")
      .foreachBatch { (batch: DataFrame, _: Long) =>
        store = LoadOps.cdcMerge(store,
          batch.select(cdcSchema.fieldNames.map(col).toSeq: _*),
          "pk", "seq", "op", Seq("st", "tp"))
          .localCheckpoint()
        ()
      }
      .start()
    // batch 1: update pk 1, delete pk 2
    Files.writeString(new java.io.File(inDir, "c1.json").toPath,
      """{"pk":1,"op":"U","seq":1,"st":"A1","tp":11.0}
        |{"pk":2,"op":"D","seq":1,"st":null,"tp":null}
        |""".stripMargin)
    query.processAllAvailable()
    // batch 2: a LATER update to pk 1 and an insert
    Files.writeString(new java.io.File(inDir, "c2.json").toPath,
      """{"pk":1,"op":"U","seq":2,"st":"A2","tp":12.0}
        |{"pk":4,"op":"I","seq":1,"st":"N","tp":40.0}
        |""".stripMargin)
    query.processAllAvailable()
    query.stop()
    val streamed = store.orderBy("pk").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getDouble(2))).toSeq
    // one-shot equivalent: all four ops in a single sequenced batch
    val base = Seq((1L, "A", 10.0), (2L, "B", 20.0), (3L, "C", 30.0))
      .toDF("pk", "st", "tp")
    val all = Seq((1L, "U", 1L, "A1", 11.0), (2L, "D", 1L, "B", 20.0),
      (1L, "U", 2L, "A2", 12.0), (4L, "I", 1L, "N", 40.0))
      .toDF("pk", "op", "seq", "st", "tp")
    val oneShot = LoadOps.cdcMerge(base, all, "pk", "seq", "op",
      Seq("st", "tp")).orderBy("pk").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getDouble(2))).toSeq
    assert(streamed == oneShot)
    assert(streamed == Seq((1L, "A2", 12.0), (3L, "C", 30.0),
      (4L, "N", 40.0)))
  }

  test("lateDataAudit classifies rows against the arrival-order watermark " +
    "and the two-level prefix max equals the naive single-window scan") {
    import spark.implicits._
    // arrivals (id, epoch-sec): wm before each row = max(earlier ts) - 30
    //   id 1 ts 100 -> wm null        -> on time
    //   id 2 ts 200 -> wm 100-30=70   -> on time
    //   id 3 ts 150 -> wm 200-30=170  -> LATE (150 < 170)
    //   id 4 ts 300 -> wm 170         -> on time
    //   id 5 ts 110 -> wm 300-30=270  -> LATE
    //   id 6 ts 290 -> wm 270         -> on time (within the 30s allowance)
    val ev = Seq((1L, 100L), (2L, 200L), (3L, 150L), (4L, 300L),
      (5L, 110L), (6L, 290L))
      .toDF("event_id", "sec")
      .select(col("event_id"), timestamp_seconds(col("sec")).as("ts"))
    def audit(bucketSize: Long) = StreamingLoad.lateDataAudit(
        ev, "event_id", "ts", delaySec = 30, windowSec = 100, bucketSize)
      .orderBy("win").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSeq
    // windows of 100s: [100,200)={100,150,110}, [200,300)={200,290}, [300,400)={300}
    val expected = Seq((1L, 3L, 2L, 1L), (2L, 2L, 0L, 2L), (3L, 1L, 0L, 1L))
    assert(audit(1024) == expected, "single-bucket (naive-equivalent) run")
    // bucketSize=2 forces the cross-bucket prefix path over 3 buckets —
    // identical classification proves level-1 + level-2 compose correctly
    assert(audit(2) == expected, "two-level prefix path")
    assert(audit(1) == expected, "degenerate one-row buckets")
  }
}
