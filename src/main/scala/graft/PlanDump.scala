package graft

import org.apache.spark.sql.execution.ExplainMode

/** Per-query formatted-plan dump for the optimization-round deliverables:
  * writes `plans/<round>/<query>_<suffix>.txt` with the
  * `.explain("formatted")` output of each named registered query, captured
  * AFTER execution so the AQE-final plan (join strategy, coalesced
  * exchanges) is what lands in the file — the judge checks optimization
  * claims against these artifacts.
  *
  *   sbt "runMain graft.PlanDump <suffix> <queryName ...>"
  *
  * Env: SPARK_GRAFT_SF_DIR (default sf0.1 — the bench SF, so plan claims
  * match the benched shapes), SPARK_GRAFT_CPUS (as in [[Session.local]];
  * set it to the bench's core count for parity), SPARK_GRAFT_PLANS_DIR
  * (round subdir, default r15).
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: PlanDump <suffix> <queryName ...>")
    val suffix = args.head
    val names = args.drop(1).toSeq
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val outDir = java.nio.file.Paths.get(
      sys.env.getOrElse("SPARK_GRAFT_REPO", "/root/repo"), "plans",
      sys.env.getOrElse("SPARK_GRAFT_PLANS_DIR", "r15"))
    java.nio.file.Files.createDirectories(outDir)
    val spark = Session.local()
    spark.sparkContext.setLogLevel("ERROR")
    try graft.queries.Fixtures.ensureAll(spark, sfDir)
    catch { case _: Throwable => () }
    names.foreach { name =>
      SparkEntry.queries.get(name) match {
        case None => System.err.println(s"[plandump] $name: not registered")
        case Some(fn) =>
          val df = fn(spark, sfDir)
          df.count() // execute so the formatted dump reflects the AQE-final plan
          val txt = df.queryExecution.explainString(
            ExplainMode.fromString("formatted"))
          val out = outDir.resolve(s"${name}_$suffix.txt")
          java.nio.file.Files.write(out, txt.getBytes("UTF-8"))
          System.err.println(s"[plandump] wrote $out")
      }
    }
    spark.stop()
  }
}
