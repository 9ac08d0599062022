package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** As-of join: for each probe row, the single fact row with the greatest
  * fact time at-or-before (or strictly-before) the probe time, within the
  * same key — the "estimate in effect on this date" lookup the reference's
  * point-in-time tables imply, and the standard event-enrichment join of a
  * training-data pipeline.
  *
  * Spark shape: no range join at all. Both sides are tagged and UNIONed,
  * then ONE window pass per key ordered by (time, side) carries the last
  * fact struct forward onto every probe row — the merge-join plan. Cost is a
  * single hash exchange on the key plus a sort; at 100 TB that beats a
  * range-join (candidate blowup) and a per-probe subquery (n² probes) — the
  * window state is one struct per key, independent of history length.
  */
object AsOfJoin {

  /** For each row of `probes`, attach `factPayload` columns from the latest
    * `facts` row with `factTime` <= the probe's `probeTime` (or strictly <
    * when `strict`), matching on `keys`.
    *
    * Output: every `probes` column, plus `factTime` (the matched fact's
    * time) and `factPayload`, all NULL when no fact precedes the probe;
    * `inner = true` drops such probes (DuckDB `ASOF JOIN` semantics,
    * `inner = false` = `ASOF LEFT JOIN`).
    *
    * `factPayload` names must not collide with probe columns.
    *
    * Orderability requirement (r13 ADVICE): the fact struct `__ft +
    * factPayload` is part of the window ORDER BY (the deterministic
    * same-time tie-break), so every payload column must be an ORDERABLE
    * type — a MapType payload fails analysis, and a very large payload
    * column widens the sort key. Callers with un-orderable or bulky
    * payloads should pass a compact proxy (e.g. a precomputed digest
    * column) and re-attach the payload after the join.
    */
  def asOf(probes: DataFrame, facts: DataFrame, keys: Seq[String],
           probeTime: String, factTime: String, factPayload: Seq[String],
           strict: Boolean = false, inner: Boolean = true): DataFrame = {
    val pCols = probes.columns.toSeq
    // at equal times a fact sorts before the probe (>=) unless strict (>);
    // among facts sharing (key, time) the fact STRUCT itself is the final
    // sort key, so the carried payload is deterministic across runs and
    // partitionings — the greatest struct wins (r12 ADVICE; struct ordering
    // is lexicographic over (__ft, payload...), so this only disambiguates
    // true same-time ties)
    val sideOrder = if (strict) col("__side").desc else col("__side").asc
    val w = Window.partitionBy(keys.map(col): _*)
      .orderBy(col("__t").asc, sideOrder, col("__f").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)

    val joined = sides(probes, facts, keys, probeTime, factTime, factPayload)
      .withColumn("__last", last(col("__f"), ignoreNulls = true).over(w))
      .filter(col("__side") === 1)
    val matched = if (inner) joined.filter(col("__last").isNotNull) else joined
    matched.select(
      pCols.map(col) ++
        (col("__last").getField("__ft").as(factTime) +:
          factPayload.map(p => col("__last").getField(p).as(p))): _*)
  }

  /** Both sides of an as-of join in one frame: every probe column, `__t`
    * (the row's time), `__side` (1 probe, 0 fact) and `__f`, the fact
    * struct (`__ft` + payload), NULL on probe rows. Fact rows carry the
    * keys and NULL in every other probe column. */
  private def sides(probes: DataFrame, facts: DataFrame, keys: Seq[String],
                    probeTime: String, factTime: String,
                    factPayload: Seq[String]): DataFrame = {
    val pCols = probes.columns.toSeq
    require(keys.nonEmpty, "as-of join needs at least one equality key")
    require(!factPayload.exists(pCols.contains),
      s"fact payload ${factPayload.mkString(",")} collides with probe columns")

    // the carried state: matched fact time + payload, as one struct so all
    // payload fields come from the SAME fact row (per-column last() could
    // mix rows when a newer fact holds NULLs)
    val factStruct = struct(
      (col(factTime).as("__ft") +: factPayload.map(col)): _*)
    val factStructType = facts.select(factStruct.as("__f")).schema("__f").dataType

    val pSide = probes.select(
      pCols.map(col) :+
        col(probeTime).as("__t") :+ lit(1).as("__side") :+
        lit(null).cast(factStructType).as("__f"): _*)
    val fSide = facts.select(
      pCols.map(c =>
        if (keys.contains(c)) col(c)
        else lit(null).cast(probes.schema(c).dataType).as(c)) :+
        col(factTime).as("__t") :+ lit(0).as("__side") :+
        factStruct.as("__f"): _*)
    pSide.unionByName(fSide)
  }

  /** Nearest-in-time as-of: for each probe row, the fact row closest in
    * time in EITHER direction within the same key (pandas
    * `merge_asof(direction='nearest')`), ties going to the EARLIER fact.
    * `probeTime`/`factTime` must be NUMERIC (e.g. epoch seconds) so the
    * distance is a plain subtraction.
    *
    * Same plan shape as [[asOf]] — one union, one hash exchange, one sort
    * — with TWO window functions over the same ordering: the last fact
    * struct carried forward (nearest before) and the first fact struct
    * carried backward (nearest after). No range join, no candidate
    * blowup; the extra direction costs one more frame pass, zero extra
    * shuffles. Adds a `matched_dir` column ('prev'/'next'). */
  def asOfNearest(probes: DataFrame, facts: DataFrame, keys: Seq[String],
                  probeTime: String, factTime: String,
                  factPayload: Seq[String],
                  inner: Boolean = true): DataFrame = {
    val pCols = probes.columns.toSeq
    // equal-time facts sort before the probe: they land in the PREV frame
    // at distance 0 and win every tie; among facts sharing (key, time) the
    // fact struct is the final sort key so the carried payload is
    // deterministic across runs and partitionings (r12 ADVICE) — last()
    // picks the greatest struct backward, first() the least forward
    val ord = Seq(col("__t").asc, col("__side").asc, col("__f").asc)
    val wPrev = Window.partitionBy(keys.map(col): _*).orderBy(ord: _*)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wNext = Window.partitionBy(keys.map(col): _*).orderBy(ord: _*)
      .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    val both = sides(probes, facts, keys, probeTime, factTime, factPayload)
      .withColumn("__prev", last(col("__f"), ignoreNulls = true).over(wPrev))
      .withColumn("__next", first(col("__f"), ignoreNulls = true).over(wNext))
      .filter(col("__side") === 1)
      .withColumn("__pickPrev", col("__next").isNull ||
        (col("__prev").isNotNull &&
          col("__t") - col("__prev").getField("__ft") <=
            col("__next").getField("__ft") - col("__t")))
      .withColumn("__pick",
        when(col("__pickPrev"), col("__prev")).otherwise(col("__next")))
    val matched = if (inner) both.filter(col("__pick").isNotNull) else both
    matched.select(
      pCols.map(col) ++
        (col("__pick").getField("__ft").as(factTime) +:
          factPayload.map(p => col("__pick").getField(p).as(p))) :+
        when(col("__pick").isNull, lit(null).cast("string"))
          .otherwise(when(col("__pickPrev"), "prev").otherwise("next"))
          .as("matched_dir"): _*)
  }
}
