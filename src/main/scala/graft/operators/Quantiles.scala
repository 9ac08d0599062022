package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Deterministic fixed-bin histogram quantiles — the mergeable scale path
  * next to cs1's exact `percentile`.
  *
  * Exact percentile needs the values ordered (a full sort, or percentile's
  * per-group value buffer — O(distinct values) state); at corpus scale the
  * one-pass answer is a histogram: a bounded `nBins`-cell count vector that
  * is associative/commutative to merge across partitions, then an
  * interpolated read-out. Unlike t-digest/KLL it is deterministic for a
  * fixed binning — same bytes in any engine — so the estimate itself is
  * oracle-gradeable, not just "close". Accuracy is bounded by the bin
  * width; callers pick the [lo, hi) domain like they would for any
  * monitoring histogram.
  *
  * Plan shape: one hash aggregation over the data (bin → count), then
  * windows over the bounded bin list only; the quantile probe set is a
  * literal explode. Nothing after the first aggregation touches data-scale
  * rows.
  */
object Quantiles {

  /** The value's bin in [lo, lo + nBins·width), out-of-range values clamped
    * into the first or last bin. */
  private def binOf(valueCol: String, lo: Double, width: Double,
                    nBins: Int): Column =
    least(greatest(floor((col(valueCol) - lo) / width), lit(0.0)),
      lit((nBins - 1).toDouble)).cast("long")

  def histQuantiles(df: DataFrame, valueCol: String,
                    lo: Double, hi: Double, nBins: Int,
                    qs: Seq[Double]): DataFrame = {
    require(hi > lo && nBins > 0 && qs.nonEmpty)
    val width = (hi - lo) / nBins
    val bin = binOf(valueCol, lo, width, nBins)
    val full = Window.rowsBetween(Window.unboundedPreceding,
      Window.unboundedFollowing)
    val counts = df.select(bin.as("bin"))
      .groupBy("bin").agg(count(lit(1)).as("cnt"))
      .withColumn("cum", sum("cnt").over(
        Window.orderBy("bin").rowsBetween(Window.unboundedPreceding, 0)))
      .withColumn("n", sum("cnt").over(full))
    readOut(counts, Nil, qs, lo, width)
  }

  /** The grouped form — one histogram (and quantile read-out) per group
    * key, the shape a per-source/per-language distribution monitor runs.
    * Same mergeable one-pass design; every window partitions by the group,
    * so no bounded-bin list ever concentrates on one task, and the probe
    * set stays a bounded broadcast. */
  def groupedHistQuantiles(df: DataFrame, groupCol: String, valueCol: String,
                           lo: Double, hi: Double, nBins: Int,
                           qs: Seq[Double]): DataFrame = {
    require(hi > lo && nBins > 0 && qs.nonEmpty)
    val width = (hi - lo) / nBins
    val bin = binOf(valueCol, lo, width, nBins)
    val counts = df.select(col(groupCol).as("grp"), bin.as("bin"))
      .groupBy("grp", "bin").agg(count(lit(1)).as("cnt"))
      .withColumn("cum", sum("cnt").over(Window.partitionBy("grp")
        .orderBy("bin").rowsBetween(Window.unboundedPreceding, 0)))
      .withColumn("n", sum("cnt").over(Window.partitionBy("grp")))
    readOut(counts, Seq("grp"), qs, lo, width)
  }

  /** The read-out of per-`keys` bin histograms (bin, cnt, cum, n): for
    * each q of the broadcast probe set, the first bin whose cumulative
    * count reaches q·n, interpolated linearly inside that bin. */
  private def readOut(counts: DataFrame, keys: Seq[String], qs: Seq[Double],
                      lo: Double, width: Double): DataFrame = {
    val probes = counts.sparkSession.range(1)
      .select(explode(typedLit(qs)).as("q"))
    counts
      .crossJoin(broadcast(probes))
      .filter(col("cum") >= col("q") * col("n"))
      .groupBy((keys :+ "q").map(col): _*)
      .agg(min_by(
        round(lit(lo) + lit(width) *
          (col("bin") + (col("q") * col("n") - (col("cum") - col("cnt")))
            / col("cnt")), 6),
        col("bin")).as("est"))
      .select((keys :+ "q" :+ "est").map(col): _*)
  }
}
