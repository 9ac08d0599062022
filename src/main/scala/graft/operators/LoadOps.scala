package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.DateFns
import graft.model.Schemas

/** Load-layer operators: the reference pushes these into Postgres SQL
  * (ON CONFLICT, DELETE+reload, CTE guards); here each is a pure
  * `DataFrame => DataFrame` rewrite, designed so the dominant join/dedup
  * shuffles prune by the `date` partition column at scale.
  */
object LoadOps {

  /** K1 — PK-dedup append: `INSERT … ON CONFLICT (pk) DO NOTHING`
    * (`estimate-transform-load.rkt:195` et al.).
    *
    * Existing rows always win; among duplicate incoming rows one survives
    * deterministically (min over remaining columns). Every pipeline caller
    * passes the whole stored table as `existing` (the calendars after their
    * K4/K5 retractions), so the anti-join scans all of it. A caller that
    * filters `existing` to the date partitions the batch touches gets a
    * pruned store scan, which makes the shuffle proportional to the batch;
    * `SnapshotStoreSpec`'s "per-date loader reads prune the store scan"
    * test holds that contract.
    */
  def dedupAppend(existing: DataFrame, incoming: DataFrame,
                  pk: Seq[String]): DataFrame = {
    val cols = existing.columns.toSeq
    val w = Window.partitionBy(pk.map(col): _*)
      .orderBy(cols.filterNot(pk.contains).map(col): _*)
    val incomingDedup = incoming
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1).drop("__rn")
    val fresh = incomingDedup.join(existing.select(pk.map(col): _*),
      pk, "left_anti")
    existing.unionByName(fresh.select(cols.map(col): _*))
  }

  /** K4 — delete-future-then-reload: calendars retract everything at/after
    * the folder date before re-inserting the fresh horizon
    * (`earnings-calendar-transform-load.rkt:45-51`). */
  def overwriteFutureSlice(existing: DataFrame, fresh: DataFrame,
                           dateCol: String,
                           folderDate: java.sql.Date): DataFrame =
    existing.filter(col(dateCol) < lit(folderDate)).unionByName(fresh)

  /** K5 retraction half: drop stored rows for a symbol within the trailing
    * week of an incoming row, WITHOUT unioning the incoming rows — pipelines
    * compose this with [[dedupAppend]] so the insert keeps ON-CONFLICT
    * semantics (`earnings-calendar-transform-load.rkt:79-87`). */
  def slideForwardRetract(existing: DataFrame, incoming: DataFrame,
                          symCol: String, dateCol: String,
                          windowDays: Int = 7): DataFrame = {
    val in = incoming.select(
      col(symCol).as("__sym"),
      date_sub(col(dateCol), windowDays).as("__start"),
      col(dateCol).as("__end"))
    existing.join(in,
      existing(symCol) === col("__sym") &&
        existing(dateCol) >= col("__start") &&
        existing(dateCol) < col("__end"),
      "left_anti")
  }

  /** K5 — 7-day slide-forward retraction: before inserting a calendar row,
    * delete any stored row for the same symbol within the trailing week —
    * "the event moved forward" (`earnings-calendar-transform-load.rkt:79-87`).
    */
  def slideForward(existing: DataFrame, incoming: DataFrame,
                   symCol: String, dateCol: String,
                   windowDays: Int = 7): DataFrame =
    // No broadcast hint on the retraction set: one row per incoming calendar
    // entry — small today, but unbounded in principle. AQE broadcasts it when
    // it actually fits and falls back to a shuffled join when it doesn't.
    slideForwardRetract(existing, incoming, symCol, dateCol, windowDays)
      .unionByName(incoming)

  /** J1 — prior-period poison guard: drop an incoming statement row when the
    * stored row one fiscal period back (1 year for annual, 1 quarter for
    * quarterly) has *identical* facts — Zacks' fiscal-year copy bug
    * (`income-statement-transform-load.rkt:116-227`,
    * `balance-sheet-transform-load.rkt:139-217`).
    *
    * Null semantics follow the reference's `bool_and(a = b)`: a NULL on
    * either side makes the conjunct NULL, the `bool_and` non-TRUE, and the
    * insert *proceed* — replicated here with null-safe `<=>` negated per the
    * quarterly `is null` special cases only when `nullSafe` is set.
    */
  def priorPeriodGuard(existing: DataFrame, incoming: DataFrame,
                       facts: Seq[String], nullSafeFacts: Seq[String] = Nil)
                      : DataFrame = {
    val prior = existing.select(
      col("act_symbol").as("__sym"), col("date").as("__pdate"),
      col("period").as("__pper"),
      struct((facts ++ nullSafeFacts).map(col): _*).as("__pfacts"))
    val Seq(year, _) = Schemas.Enums.statementPeriod
    val withPrior = incoming.withColumn("__prior_date",
      when(col("period") === year, DateFns.priorYear(col("date")))
        .otherwise(DateFns.priorQuarter(col("date"))))
    val joined = withPrior.join(prior,
      withPrior("act_symbol") === col("__sym") &&
        withPrior("__prior_date") === col("__pdate") &&
        withPrior("period") === col("__pper"),
      "left")
    // bool_and over plain `=`: any NULL conjunct → guard does not fire.
    val eqs = facts.map(f => col(f) === col("__pfacts").getField(f)) ++
      nullSafeFacts.map(f => col(f) <=> col("__pfacts").getField(f))
    val allEqual = eqs.reduce(_ && _)
    joined.filter(col("__pdate").isNull || !coalesce(allEqual, lit(false)))
      .drop("__prior_date", "__sym", "__pdate", "__pper", "__pfacts")
  }

  /** J2+J3 — superseded-calendar cleanup: earnings dates estimated into the
    * future collapse onto the newest entry per (symbol, quarter window)
    * (`earnings-calendar-transform-load.rkt:109-148`).
    *
    * `windows` = distinct (symbol, statement date) UNION the projected next
    * quarter end per symbol (J3); each window spans
    * `(w, w + 1 day + 3 months - 1 day]`. Any calendar row that falls inside
    * a window but is not the window's max date is deleted.
    *
    * The join is equi-keyed on `act_symbol` with the range as residual —
    * never a pure inequality join. The derived window side is distinct
    * (symbol, statement-date) over full history, i.e. unbounded as history
    * grows, so it carries no broadcast hint: AQE broadcasts it while it is
    * small and switches to a shuffled join past the threshold instead of
    * OOMing the driver.
    *
    * `calendar` is pinned: it feeds both the victim derivation and the
    * final anti-join, and a derived input (the calendar daily run's
    * K4→K5→K1) would otherwise run twice. So the call runs that pin's Spark
    * job before it returns.
    */
  def supersededCleanup(calendar0: DataFrame, stmtDates: DataFrame): DataFrame = {
    val calendar = calendar0.localCheckpoint()
    val distinctDates = stmtDates
      .select(col("act_symbol"), col("date")).distinct()
    val projectedNext = stmtDates.groupBy("act_symbol")
      .agg(max("date").as("date"))
      .select(col("act_symbol"), DateFns.nextQuarterEnd(col("date")).as("date"))
    val windows = distinctDates.union(projectedNext).distinct()
      .select(col("act_symbol").as("__wsym"), col("date").as("__wstart"),
        DateFns.nextQuarterEnd(col("date")).as("__wend"))

    val joined = calendar.join(windows,
      calendar("act_symbol") === col("__wsym") &&
        calendar("date") > col("__wstart") &&
        calendar("date") <= col("__wend"))
    val w = Window.partitionBy(col("__wsym"), col("__wstart"))
      .orderBy(col("date").desc)
    val victims = joined
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") > 1)
      .select(col("act_symbol"), col("date")).distinct()
    calendar.join(victims, Seq("act_symbol", "date"), "left_anti")
  }

  /** J4 — FK validation: rows whose symbol is missing from the dimension
    * (`schema.sql:37-40`); must be empty for a clean load.
    *
    * No broadcast hint: the intended dim (the symbol universe) is bounded
    * (~10⁴ rows) and AQE broadcasts the distinct key set when it actually
    * fits — but this helper accepts ANY frame as `dim`, and an unconditional
    * hint would walk a fact-scale mistake straight into a driver OOM. AQE
    * falls back to a shuffled join instead (gated in PlanSpec). */
  def fkViolations(facts: DataFrame, dim: DataFrame,
                   key: String = "act_symbol"): DataFrame =
    facts.join(dim.select(key).distinct(), Seq(key), "left_anti")

  /** P1 — the symbol-universe predicate (`estimate-extract.rkt:57-85`):
    * not ETF/test/NextShares, no ETN, no special chars, 5-letter suffix
    * classes imply no Note/Preferred/Right/Unit/Warrant names. The
    * `last_seen = (select max(last_seen) …)` scalar subquery is applied by
    * [[latestGeneration]] since it needs the DataFrame, not just a Column. */
  def universePredicate: Column =
    !col("is_etf") && !col("is_test_issue") && !col("is_next_shares") &&
      !col("security_name").rlike("ETN") &&
      !col("nasdaq_symbol").rlike("[-\\$\\+\\*#!@%\\^=~]") &&
      (!col("nasdaq_symbol").rlike("[A-Z]{4}[L-Z]") ||
        !col("security_name").rlike("(Note|Preferred|Right|Unit|Warrant)"))

  /** Scalar-subquery half of P1 / J5: keep only the latest `last_seen`
    * generation of the symbol file. Broadcast 1-row cross join — the Spark
    * shape of a scalar subquery. */
  def latestGeneration(symbols: DataFrame): DataFrame = {
    val maxSeen = symbols.agg(max("last_seen").as("__max_seen"))
    symbols.crossJoin(broadcast(maxSeen))
      .filter(col("last_seen") === col("__max_seen"))
      .drop("__max_seen")
  }

  /** CDC MERGE: apply a change batch of (pk, op ∈ I/U/D, seq, payload) to a
    * base snapshot — the lakehouse upsert the reference approximates with
    * ON CONFLICT + delete-reload ([[dedupAppend]]/[[overwriteFutureSlice]]),
    * here as the full three-verb merge a foreachBatch sink needs when the
    * upstream emits inserts, updates, AND deletes with sequence numbers.
    *
    * Semantics: per key, only the LATEST cdc row by (seq, op) wins
    * (deterministic tie-break so replayed batches agree); 'D' removes the
    * key, 'I'/'U' upsert the payload columns, keys untouched by the batch
    * pass through. Scale shape: one per-key window over the BATCH (batch-
    * sized, not base-sized) + one equi-join on the pk — base-side work is
    * the join only, exactly the merge-on-read cost model; no driver state.
    *
    * `payload` columns must exist in both frames; base columns win for
    * keys with no cdc row, cdc columns win for upserts.
    *
    * Op codes are VALIDATED in-plan: any op outside {I, U, D} fails the
    * batch with a named error instead of silently degrading to a keep-base
    * no-op (a sink feeding arbitrary codes must hear about it). Equal-seq
    * ties break lexicographically on op DESC — 'U' > 'I' > 'D' — so a
    * same-seq delete-vs-insert resolves to the INSERT; feed strictly
    * increasing seq per key if the upstream can emit same-seq conflicts
    * with different intent.
    */
  def cdcMerge(base: DataFrame, cdc: DataFrame, pk: String,
               seqCol: String, opCol: String,
               payload: Seq[String]): DataFrame = {
    import org.apache.spark.sql.functions.{assert_true, lit}
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(pk).orderBy(col(seqCol).desc, col(opCol).desc)
    // evaluated on each per-key WINNER (post-window) — i.e. exactly the
    // rows that can affect the output; throws with the bad code named
    val checkedOp = when(col(opCol).isin("I", "U", "D"), col(opCol))
      .otherwise(when(assert_true(lit(false),
        concat(lit(s"cdcMerge: op '$opCol' must be I/U/D, got '"),
          col(opCol), lit("'"))).isNull, col(opCol)))
    val latest = cdc
      .withColumn("__rn", org.apache.spark.sql.functions.row_number().over(w))
      .filter(col("__rn") === 1)
      .select(col(pk) +: checkedOp.as("__op") +:
        payload.map(c => col(c).as(s"__cdc_$c")): _*)
    base.join(latest, Seq(pk), "full_outer")
      .filter(col("__op").isNull || col("__op") =!= "D")
      .select(col(pk) +: payload.map(c =>
        when(col("__op").isin("I", "U"), col(s"__cdc_$c"))
          .otherwise(col(c)).as(c)): _*)
  }

  def universe(symbols: DataFrame,
               range: Option[(String, String)] = None): DataFrame = {
    val filtered = latestGeneration(symbols).filter(universePredicate)
    val ranged = range match {
      case Some((first, last)) =>
        filtered.filter(col("act_symbol").between(first, last))
      case None => filtered
    }
    ranged.orderBy("act_symbol")
  }
}
