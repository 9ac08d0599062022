package perfbench

import scala.collection.mutable

import org.apache.spark.BenchBus
import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.functions.{col, length, sum}
import org.apache.spark.sql.util.QueryExecutionListener

/** Spans and counts recorded around the benchmark's calls into each layer.
  * The untraced run uses [[Tracer.Off]]: no spans, no listeners, and no
  * materialization at layer boundaries. */
class Tracer(val enabled: Boolean) {
  def span[T](layer: String, name: String)(body: => T): T = body
  /** Materializes a layer's output so its span holds the layer's work. */
  def mat(df: DataFrame): DataFrame = df
  /** Adds a count taken at a layer boundary (evaluated only when tracing). */
  def add(key: String, v: => Double): Unit = ()
  def count(df: DataFrame): Long = 0L
  /** Adds the files and bytes of a materialized raw-zone scan. */
  def scanned(docs: DataFrame, content: String): Unit = ()
}

object Tracer {
  object Off extends Tracer(false)
}

final case class Span(id: Int, layer: String, name: String, parent: Int,
                      start: Long, end: Long)

/** The traced run: spans in memory, Spark attribution from a
  * `QueryExecutionListener` (Catalyst phase times) and a `SparkListener`
  * (task metrics), with each span's jobs tagged by job group. */
final class Recorder(spark: SparkSession, runId: String) extends Tracer(true) {
  private val sc = spark.sparkContext
  private val baseNs = System.nanoTime()
  private val baseMs = System.currentTimeMillis()
  val spans = mutable.ArrayBuffer[Span]()
  private val stack = mutable.Stack[Int]()
  private var nextId = 0
  val counts = mutable.LinkedHashMap[String, Double]().withDefaultValue(0.0)
  /** (phase, start ns, end ns) of every executed query's planning phases. */
  val phases = mutable.LinkedHashSet[(String, Long, Long)]()
  private var queries = 0
  val exec = mutable.LinkedHashMap[String, Double]().withDefaultValue(0.0)
  val execBySpan = mutable.Map[String, mutable.Map[String, Double]]()
  private val stageGroup = mutable.Map[Int, String]()
  private val groups = mutable.Map[Int, String]()

  private def msToNs(ms: Long): Long = (ms - baseMs) * 1000000L + baseNs

  private val qel = new QueryExecutionListener {
    override def onSuccess(f: String, qe: QueryExecution, d: Long): Unit =
      record(qe)
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit =
      record(qe)
    private def record(qe: QueryExecution): Unit = synchronized {
      queries += 1
      qe.tracker.phases.foreach { case (p, s) =>
        if (p != "parsing")
          phases += ((p, msToNs(s.startTimeMs), msToNs(s.endTimeMs)))
      }
    }
  }

  private val sl = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      exec("exec.jobs") += 1
      exec("exec.stages") += e.stageInfos.size
      val g = Option(e.properties).flatMap(p =>
        Option(p.getProperty("spark.jobGroup.id"))).getOrElse("none")
      e.stageIds.foreach(stageGroup(_) = g)
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
      val m = e.taskMetrics
      if (m != null) {
        val i = e.taskInfo
        val delay = math.max(0L, i.duration - m.executorRunTime -
          m.executorDeserializeTime - m.resultSerializationTime -
          i.gettingResultTime)
        val values = Seq(
          "exec.tasks" -> 1.0,
          "exec.task_cpu_s" -> m.executorCpuTime / 1e9,
          "exec.task_wait_s" ->
            (delay + m.shuffleReadMetrics.fetchWaitTime) / 1e3,
          "exec.gc_s" -> m.jvmGCTime / 1e3,
          "exec.shuffle_bytes" -> m.shuffleWriteMetrics.bytesWritten.toDouble,
          "exec.spill_bytes" -> (m.memoryBytesSpilled + m.diskBytesSpilled).toDouble)
        val g = stageGroup.getOrElse(e.stageId, "none")
        val per = execBySpan.getOrElseUpdate(g, mutable.Map[String, Double]())
        values.foreach { case (k, v) =>
          exec(k) += v
          per(k) = per.getOrElse(k, 0.0) + v
        }
      }
    }
  }

  def start(): Unit = {
    spark.listenerManager.register(qel)
    sc.addSparkListener(sl)
  }

  private var window = (0L, 0L)

  /** Ends the recorded daily run that started at `t0`: unregisters the
    * listeners once every queued event has arrived. */
  def stop(t0: Long): Unit = {
    window = (t0, System.nanoTime())
    BenchBus.drain(sc)
    spark.listenerManager.unregister(qel)
    sc.removeSparkListener(sl)
  }

  override def span[T](layer: String, name: String)(body: => T): T = {
    val id = nextId
    nextId += 1
    val parent = stack.headOption.getOrElse(-1)
    stack.push(id)
    val group = s"$runId/$id/$layer.$name"
    groups(id) = group
    sc.setJobGroup(group, group, interruptOnCancel = false)
    val t0 = System.nanoTime()
    try body
    finally {
      val t1 = System.nanoTime()
      stack.pop()
      spans += Span(id, layer, name, parent, t0, t1)
      stack.headOption match {
        case Some(p) => sc.setJobGroup(groups(p), groups(p), interruptOnCancel = false)
        case None => sc.clearJobGroup()
      }
    }
  }

  override def mat(df: DataFrame): DataFrame = df.localCheckpoint(eager = true)

  override def add(key: String, v: => Double): Unit =
    span("trace", "count") { counts(key) += v }

  override def count(df: DataFrame): Long = span("trace", "count")(df.count())

  override def scanned(docs: DataFrame, content: String): Unit = span("trace", "count") {
    val r = docs.agg(sum(length(col(content)))).head()
    counts("sources.files") += docs.count()
    counts("sources.bytes") += (if (r.isNullAt(0)) 0L else r.getLong(0))
  }

  def queryCount: Int = queries

  /** Self time per layer (and per Catalyst phase) over the run: every
    * instant goes to a trace count span if it is the innermost span there,
    * else to a Catalyst phase if one covers it, else to the innermost span
    * covering it, else to `unattributed`. The parts sum to the wall time by
    * construction. */
  def selfTimes: Map[String, Double] = {
    val (t0, t1) = window
    val depth = mutable.Map[Int, Int]()
    def d(s: Span): Int = depth.getOrElseUpdate(s.id,
      if (s.parent < 0) 0 else 1 + d(spans.find(_.id == s.parent).get))
    val ivs = spans.toVector.map(s => (s.start, s.end, s"${s.layer}.${s.name}", d(s)))
    val ph = phases.toVector.map { case (p, s, e) => (s, e, s"catalyst.$p") }
    val cuts = (Vector(t0, t1) ++ ivs.flatMap(i => Seq(i._1, i._2)) ++
      ph.flatMap(p => Seq(p._1, p._2))).filter(x => x >= t0 && x <= t1)
      .distinct.sorted
    val out = mutable.Map[String, Double]().withDefaultValue(0.0)
    cuts.sliding(2).foreach {
      case Seq(a, b) if b > a =>
        val mid = a + (b - a) / 2
        // a trace count's own planning is trace overhead, not Catalyst's
        val inner = ivs.filter(i => i._1 <= mid && mid < i._2)
          .sortBy(-_._4).headOption.map(_._3)
        val owner = inner.filter(_.startsWith("trace."))
          .orElse(ph.find(p => p._1 <= mid && mid < p._2).map(_._3))
          .orElse(inner).getOrElse("unattributed")
        out(owner) += (b - a) / 1e9
      case _ =>
    }
    out.toMap
  }

  /** The spans of one run as JSON lines, for the trace file. */
  def spanLines: Seq[String] = spans.toSeq.sortBy(_.start).map { s =>
    val ex = execBySpan.get(groups(s.id))
      .map(_.map { case (k, v) => s""""$k": $v""" }.mkString(", ")).getOrElse("")
    s"""{"run": "$runId", "id": ${s.id}, "parent": ${s.parent}, "layer": "${s.layer}", "name": "${s.name}", "start_ns": ${s.start - baseNs}, "end_ns": ${s.end - baseNs}, "exec": {$ex}}"""
  }
}
