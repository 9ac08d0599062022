package perfbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import java.time.LocalDate

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** The daily-run benchmark's JVM side. Modes:
  *  - `store`: writes the workload's seeded store (not timed);
  *  - `measure`: writes the raw zone from the seed, then set-up (JVM start →
  *    session → seeded store readable → first daily run, less the raw-zone
  *    generation), then warm daily runs for `--seconds`; with `--trace 1`
  *    traced and untraced iterations alternate and the extract
  *    microbenchmark runs last.
  * The last stdout line of each mode is one JSON object. */
object Main {

  def session(work: String): SparkSession = {
    val cpus = Runtime.getRuntime.availableProcessors()
    val s = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "0" else java.lang.Double.toString(v)

  def median(xs: collection.Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  def vmHwmMb(): Double = {
    val line = scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).getOrElse("VmHWM: 0 kB")
    line.split("\\s+")(1).toDouble / 1024
  }

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val work = opts("work")
    val store = opts("store")
    val w = Workload(opts("workload"), opts("seed").toLong)
    opts("mode") match {
      case "store" =>
        val spark = session(work)
        try writeStore(spark, w, work, store) finally spark.stop()
      case "measure" =>
        val g0 = System.nanoTime()
        genRaw(w, work)
        val genS = (System.nanoTime() - g0) / 1e9
        val spark = session(work)
        val ok = try new Bench(spark, w, work, store, genS).measure(
          opts("seconds").toDouble, opts("trace") == "1", opts.get("trace-out"))
        finally spark.stop()
        if (!ok) sys.exit(1)
    }
  }

  /** The seeded store; it does not depend on the run's seed. */
  private def writeStore(spark: SparkSession, w: Workload, work: String,
                         store: String): Unit = {
    Fs.delete(store)
    w.writeSeed(spark, store)
    val ctx = new RunCtx(spark, work, store)
    val bad = w.seedRows.toSeq.flatMap { case (t, e) =>
      val n = spark.read.parquet(ctx.current(t)).count()
      if (n == e) None else Some(s"seed $t: $n rows, model expects $e")
    }
    bad.foreach(b => System.err.println(s"[perfbench] $b"))
    println(s"""{"store_ok": ${bad.isEmpty}}""")
    if (bad.nonEmpty) sys.exit(1)
  }

  /** Writes the raw zone of every folder date and computes the model. */
  private def genRaw(w: Workload, work: String): Unit = {
    Fs.delete(work + "/raw")
    val sizes = mutable.ArrayBuffer[Int]()
    w.folders.foreach { f =>
      w.docs(f).foreach { d =>
        val p = Paths.get(s"$work/raw/${d.path}")
        Files.createDirectories(p.getParent)
        val bytes = d.text.getBytes(StandardCharsets.UTF_8)
        Files.write(p, bytes)
        sizes += bytes.length
      }
    }
    w.expected
    w.notes.foreach(println)
    val kb = sizes.map(_ / 1024.0)
    println(s"""input {"files": ${sizes.size}, "mb": ${num(sizes.sum / 1048576.0)}, "mean_kb": ${num(kb.sum / kb.size)}, "min_kb": ${num(kb.min)}, "max_kb": ${num(kb.max)}}""")
  }
}

/** One daily run's measurements; `k` is its folder date's index. */
final case class Sample(k: Int, wall: Double, files: Long, bytes: Long, rows: Long)

final class Bench(spark: SparkSession, w: Workload, work: String, store: String,
                  genS: Double) {
  import Main.{median, num, vmHwmMb}
  private val ctx = new RunCtx(spark, work, store)
  private val failures = mutable.ArrayBuffer[String]()
  private var attempted = 0L
  private var failed = 0L
  /** Wall-clock end of the latest daily run, before its checks. */
  private var runEndMs = 0L

  private def fail(msg: String): Unit = {
    failures += msg
    System.err.println(s"[perfbench] check failed: $msg")
  }

  private def seconds(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  /** Runs folder `k` of the iteration with tracer `t`, then (untimed) checks
    * its outputs against the model. None when it threw or a check failed. */
  private def daily(k: Int, t: Tracer): Option[Sample] = {
    val f = w.folders(k)
    attempted += 1
    ctx.written.clear()
    val rec = t match { case r: Recorder => Some(r); case _ => None }
    rec.foreach(_.start())
    val t0 = System.nanoTime()
    val thrown = try { w.run(ctx, f, t); None } catch {
      case e: Exception => Some(e)
    }
    val wall = seconds(t0)
    runEndMs = System.currentTimeMillis()
    rec.foreach(_.stop(t0))
    val errs = thrown match {
      case Some(e) =>
        e.printStackTrace()
        Seq(s"${w.name} $f: ${e.getClass.getSimpleName}: ${e.getMessage}")
      case None =>
        Checks.rowCounts(ctx, w, w.expected(k)).map(m => s"$f $m") ++
          Checks.exports(ctx, w, f).map(m => s"$f export $m")
    }
    errs.foreach(fail)
    if (errs.nonEmpty) { failed += 1; None }
    else {
      val stats = ctx.written.map { case (_, p) => Fs.stats(p, ".parquet") }
      val rows = ctx.written.map { case (t, _) => w.expected(k).rows(t) }.sum
      Some(Sample(k, wall, stats.map(_._1).sum, stats.map(_._2).sum, rows))
    }
  }

  private def readable(): Unit = w.seedRows.foreach { case (t, e) =>
    val n = spark.read.parquet(ctx.current(t)).count()
    if (n != e) fail(s"seed $t: $n rows, model expects $e")
  }

  /** JVM start → session → store readable → end of the first daily run,
    * less the raw-zone generation that ran before the session; and that
    * run's sample. */
  private def setup(): (Double, Option[Sample]) = {
    ctx.reset()
    readable()
    val first = daily(0, Tracer.Off)
    ((runEndMs - ManagementFactory.getRuntimeMXBean.getStartTime) / 1000.0 - genS, first)
  }

  /** Digest of the store after a full iteration; every iteration must
    * reproduce the first one's. */
  private var reference: Option[Map[String, String]] = None
  private def digest(label: String): Unit = {
    val (d, dup) = Checks.digests(ctx, w)
    dup.foreach(fail)
    reference match {
      case None =>
        reference = Some(d)
        d.toSeq.sortBy(_._1).foreach { case (t, v) => println(s"digest $t $v") }
      case Some(r) if r != d => fail(s"$label digest differs: $d vs $r")
      case _ =>
    }
  }

  def measure(secs: Double, trace: Boolean, traceOut: Option[String]): Boolean = {
    val (setupS, first) = setup()
    val plain = mutable.ArrayBuffer[Sample]()
    val traced = mutable.ArrayBuffer[(Sample, Map[String, Double])]()
    val lines = mutable.ArrayBuffer[String]()
    // the cold iteration ends with its first daily run: the rest of it
    // would still carry JIT compilation. The window runs whole iterations
    // from the seeded store and ends with an iteration so its digest is
    // checked; with tracing, iterations alternate untraced and traced.
    // Folder dates differ in cost, so run_s and the per-layer metrics come
    // from the last folder date's daily runs only
    val last = w.folders.size - 1
    val w0 = System.nanoTime()
    var i = 0
    var k = w.folders.size
    // only a complete iteration has a digest to check
    var ok = failed == 0 && w.folders.size == 1
    def enough = seconds(w0) >= secs && (failed > 0 ||
      k == w.folders.size && plain.exists(_.k == last) &&
        (!trace || traced.exists(_._1.k == last)))
    while (!enough) {
      if (k == w.folders.size || !ok) {
        if (ok) digest(s"iteration $i")
        ctx.reset()
        i += 1
        k = 0
        ok = true
      }
      val rec = if (trace && i % 2 == 1) Some(new Recorder(spark, s"${w.name}-i$i-$k")) else None
      daily(k, rec.getOrElse(Tracer.Off)) match {
        case Some(smp) => rec match {
          case Some(r) =>
            traced += smp -> layerMetrics(k, smp, r)
            lines ++= r.spanLines
          case None => plain += smp
        }
        case None => ok = false
      }
      k += 1
    }
    if (ok && k == w.folders.size) digest(s"iteration $i")
    val windowS = seconds(w0)
    val walls = plain.map(_.wall)
    def wallsOf(j: Int) = plain.filter(_.k == j).map(_.wall)
    val runS = median(wallsOf(last))
    println(s"workload ${w.name}: ${w.folders.size} folder date(s) per iteration, ${w.docsPerRun} documents per daily run")
    println(s"setup_s ${setupS}")
    println(s"window ${num(windowS)} s, iterations ${i + 1}, untraced daily runs ${walls.size}")
    w.folders.indices.foreach { j =>
      val s = wallsOf(j).sorted
      println(s"daily runs (s) of ${w.folders(j)}: ${s.map(x => f"$x%.3f").mkString(" ")}")
      if (s.nonEmpty) {
        println(s"  median ${num(median(s))} min ${num(s.head)} max ${num(s.last)} samples ${s.size}")
        // highest percentile with at least ten samples beyond it
        if (s.size >= 11) {
          val p = 100.0 * (s.size - 10) / s.size
          println(s"  p${num(p)} ${num(s(s.size - 11))}")
        }
      }
    }
    println(s"run_s ${num(runS)} (median of ${w.folders(last)})")
    println(s"error_rate ${num(if (attempted == 0) 0 else failed.toDouble / attempted)} ($failed of $attempted daily runs)")
    val metrics: Seq[(String, Double, String)] =
      if (!trace) {
        // the store layout of the first folder date: the same daily run in
        // every run, however many warm samples the window holds
        val layout = first.getOrElse(Sample(0, 0, 0, 0, 1))
        Seq(("setup_s", setupS, "s"),
          ("run_s", runS, "s"),
          ("docs_per_s", w.docsPerRun / runS, "docs/s"),
          ("store_bytes_per_row", layout.bytes.toDouble / layout.rows, "B/row"),
          ("store_files_added", layout.files.toDouble, "files"))
      } else {
        // report the traced daily run of the last folder date of median
        // wall, so its counts are the same in every run and its layer times
        // sum to its own wall
        val ofLast = traced.filter(_._1.k == last).sortBy(_._1.wall)
        val m = ofLast.lift(ofLast.size / 2).map(_._2).getOrElse(Map.empty)
        val micro = Micro.run(w.sampleDocs, w.folders.head)
        val overhead = median(ofLast.map(_._1.wall).toSeq) - median(wallsOf(last))
        // VmHWM repeats only within about a quarter run to run, too loose
        // for an end-to-end bound, so it is reported here
        (m ++ micro + ("trace.overhead_s" -> overhead)).toSeq.map { case (k, v) =>
          (k, v, Bench.units(k)) } :+ (("jvm.peak_rss_mb", vmHwmMb(), "MB"))
      }
    traceOut.foreach { p =>
      Files.createDirectories(Paths.get(p).getParent)
      Files.write(Paths.get(p), (lines :+ "").mkString("\n").getBytes(StandardCharsets.UTF_8))
    }
    val correct = failures.isEmpty && failed == 0
    val body = metrics.map { case (k, v, u) => s""""$k": {"value": ${num(v)}, "unit": "$u"}""" }
      .mkString(", ")
    println(s"""{"correct": $correct, "attempted": $attempted, "failed": $failed, "metrics": {$body}}""")
    correct
  }

  /** Per-layer metrics of one traced daily run; the model's counts must
    * match what the layers counted. */
  private def layerMetrics(k: Int, s: Sample, r: Recorder): Map[String, Double] = {
    val st = r.selfTimes.withDefaultValue(0.0)
    val c = r.counts
    val e = w.expected(k)
    val f = w.folders(k)
    Seq("operators.rows_in" -> e.rowsIn, "operators.rows_appended" -> e.appended,
      "operators.rows_pk_dup" -> e.pkDup, "operators.rows_j1_dropped" -> e.j1Dropped,
      "operators.rows_retracted" -> e.retracted, "pipelines.docs_accepted" -> e.accepted,
      "pipelines.docs_rejected_vocab" -> e.rejectedVocab,
      "pipelines.docs_rejected_stale" -> e.rejectedStale, "sources.files" -> e.docs)
      .foreach { case (key, v) =>
        if (c(key) != v) fail(s"$f traced $key ${c(key)}, model expects $v")
      }
    val (csvFiles, csvBytes) = Fs.stats(s"${ctx.iterDir}/export/$f", ".csv")
    val dates = w.expectedExport(f).values.map(_.size).sum
    Map(
      "sources.scan_s" -> st("sources.scan"),
      "sources.files" -> c("sources.files"),
      "sources.bytes" -> c("sources.bytes"),
      "pipelines.transform_s" -> st("pipelines.transform"),
      "pipelines.rows_out" -> c("pipelines.rows_out"),
      "pipelines.docs_accepted" -> c("pipelines.docs_accepted"),
      "pipelines.docs_rejected_vocab" -> c("pipelines.docs_rejected_vocab"),
      "pipelines.docs_rejected_stale" -> c("pipelines.docs_rejected_stale"),
      "pipelines.accept_ratio" -> c("pipelines.docs_accepted") / c("sources.files"),
      "operators.load_s" -> st("operators.load"),
      "operators.rows_in" -> c("operators.rows_in"),
      "operators.rows_appended" -> c("operators.rows_appended"),
      "operators.rows_pk_dup" -> c("operators.rows_pk_dup"),
      "operators.rows_j1_dropped" -> c("operators.rows_j1_dropped"),
      "operators.rows_retracted" -> c("operators.rows_retracted"),
      "operators.append_ratio" -> c("operators.rows_appended") / c("operators.rows_in"),
      "sinks.read_s" -> st("sinks.read"),
      "sinks.write_s" -> st("sinks.write"),
      "sinks.bytes_written" -> s.bytes.toDouble,
      "sinks.files_written" -> s.files.toDouble,
      "sinks.write_amplification" ->
        c("sinks.rows_written") / math.max(1.0, c("operators.rows_appended")),
      "export.csv_s" -> st("export.csv"),
      "export.dates" -> dates.toDouble,
      "export.files" -> csvFiles.toDouble,
      "export.bytes" -> csvBytes.toDouble,
      "catalyst.analysis_s" -> st("catalyst.analysis"),
      "catalyst.optimization_s" -> st("catalyst.optimization"),
      "catalyst.planning_s" -> st("catalyst.planning"),
      "catalyst.queries" -> r.queryCount.toDouble,
      "trace.count_s" -> st("trace.count"),
      "trace.unattributed_s" -> st("unattributed"),
      "trace.wall_s" -> s.wall) ++
      Seq("exec.jobs", "exec.stages", "exec.tasks", "exec.task_cpu_s",
        "exec.task_wait_s", "exec.gc_s", "exec.shuffle_bytes", "exec.spill_bytes")
        .map(k => k -> r.exec(k))
  }
}

object Bench {
  def units(k: String): String =
    if (k.endsWith("_s")) "s"
    else if (k.endsWith("_ms_per_doc")) "ms/doc"
    else if (k.endsWith("us_per_kb")) "us/KB"
    else if (k.contains("bytes")) "B"
    else if (k.endsWith("ratio") || k.endsWith("amplification")) "ratio"
    else "count"
}
