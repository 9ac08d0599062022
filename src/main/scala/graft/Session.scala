package graft

import org.apache.spark.sql.SparkSession

/** The session contract every main runs under, stated once: `local[cpus]`
  * with as many shuffle partitions as cores, UTC session time, AQE on, the
  * graft planner extensions, TIMESTAMP(NANOS) parquet read as long (see
  * `Tables.t`), no UI. `SPARK_GRAFT_CPUS` sets the core count (default 4).
  * Callers pick their own log level. */
object Session {
  def local(): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
  }
}
