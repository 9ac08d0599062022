package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.operators.Components
import Tables.t

/** Round-12 fifth-session waves: exact-integer business metrics —
  * equal-credit attribution with largest-remainder cent conservation,
  * Kendall tau-b rank correlation on the bounded day grid, and market
  * concentration (HHI + CR4). Every entry is DuckDB-oracle hash-graded;
  * operator invariants live in `MetricOpsSpec`.
  */
object MetricQueries {

  val all: Seq[Q] = Seq(

    // ATT2 — linear (equal-credit) attribution: each purchase's cents are
    // split EQUALLY across every preceding view/click by the same user
    // within the 7-day lookback; purchases with no touch stay 'direct'.
    // The split is exact integer money — cents div k per touch plus one
    // extra cent to the (cents mod k) most RECENT touches (w18's
    // largest-remainder move applied to money), so Σ credited ≡ Σ purchase
    // cents is a law of the query, not a rounding hope. Recency and
    // strict "before" both ride the fixed-width epoch|event_id packed key
    // (att1's trick — bytewise order IS event order on both engines).
    // Scale shape: the touch↔purchase join and both windows are keyed by
    // user — one user-hash shuffle, per-user fan-out bounded by a user's
    // 7-day activity, never corpus×corpus.
    Q("att2_linear_attribution", (s, dir) => {
      val key = concat_ws("|",
        lpad(col("ts").cast("long").cast("string"), 10, "0"),
        lpad(col("event_id").cast("string"), 8, "0"))
      val ev = t(s, dir, "events")
      val touches = ev.filter(col("event_type").isin("view", "click"))
        .select(col("user_id").as("t_user"), col("event_type").as("t_type"),
          col("ts").cast("long").as("t_ep"), key.as("t_key"))
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("user_id").as("p_user"),
          floor(col("value") * 100).cast("long").as("cents"),
          col("ts").cast("long").as("p_ep"), key.as("p_key"))
      val j = purchases.join(touches,
        col("t_user") === col("p_user") && col("t_key") < col("p_key") &&
          col("p_ep") - col("t_ep") <= 604800, "left")
      val wP = Window.partitionBy("p_user", "p_key")
      val wR = Window.partitionBy("p_user", "p_key")
        .orderBy(col("t_key").desc)
      j.withColumn("k", count(col("t_key")).over(wP))
        .withColumn("rn", row_number().over(wR))
        .select(
          when(col("k") === 0, lit("direct")).otherwise(col("t_type"))
            .as("channel"),
          when(col("k") === 0, col("cents"))
            .otherwise(expr("cents div k") +
              when(col("rn") <= col("cents") % col("k"), 1L).otherwise(0L))
            .as("credit"))
        .groupBy("channel")
        .agg(count(lit(1)).as("n_credits"),
          sum("credit").as("credited_cents"))
        .orderBy("channel")
    }, Some("""
      WITH ev AS (
        SELECT user_id, event_type, value,
               CAST(floor(epoch(ts)) AS BIGINT) AS ep,
               lpad(CAST(CAST(floor(epoch(ts)) AS BIGINT) AS VARCHAR),
                    10, '0')
                 || '|' || lpad(CAST(event_id AS VARCHAR), 8, '0') AS key
        FROM events),
      tt AS (
        SELECT user_id AS t_user, event_type AS t_type, ep AS t_ep,
               key AS t_key
        FROM ev WHERE event_type IN ('view', 'click')),
      p AS (
        SELECT user_id AS p_user, CAST(floor(value * 100) AS BIGINT) AS cents,
               ep AS p_ep, key AS p_key
        FROM ev WHERE event_type = 'purchase'),
      j AS (
        SELECT p.*, tt.t_type, tt.t_key
        FROM p LEFT JOIN tt ON t_user = p_user AND t_key < p_key
                            AND p_ep - t_ep <= 604800),
      r AS (
        SELECT *,
               count(t_key) OVER (PARTITION BY p_user, p_key) AS k,
               row_number() OVER (PARTITION BY p_user, p_key
                 ORDER BY t_key DESC) AS rn
        FROM j)
      SELECT CASE WHEN k = 0 THEN 'direct' ELSE t_type END AS channel,
             count(*) AS n_credits,
             CAST(sum(CASE WHEN k = 0 THEN cents
                      ELSE cents // k +
                           CASE WHEN rn <= cents % k THEN 1 ELSE 0 END
                      END) AS BIGINT) AS credited_cents
      FROM r GROUP BY 1 ORDER BY 1""")),

    // ATT3 — time-decay attribution, the third member of the family
    // (att1 last-touch, att2 equal-credit): a touch aging d days inside
    // the 7-day lookback carries weight 2^(7−d) — DYADIC, so weights are
    // exact integers {1..128} and no exp()/pow() float ever appears.
    // Credit = cents·w div Σw per touch, with the remainder cents going
    // one each to the most RECENT touches (att2's largest-remainder
    // convention on the packed epoch|event_id key), so Σ credited ≡
    // Σ purchase cents stays a law of the query. Same scale shape as
    // att2: user-keyed join + windows, per-user fan-out bounded by the
    // 7-day activity window.
    Q("att3_time_decay_attribution", (s, dir) => {
      val key = concat_ws("|",
        lpad(col("ts").cast("long").cast("string"), 10, "0"),
        lpad(col("event_id").cast("string"), 8, "0"))
      val ev = t(s, dir, "events")
      val touches = ev.filter(col("event_type").isin("view", "click"))
        .select(col("user_id").as("t_user"), col("event_type").as("t_type"),
          col("ts").cast("long").as("t_ep"), key.as("t_key"))
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("user_id").as("p_user"),
          floor(col("value") * 100).cast("long").as("cents"),
          col("ts").cast("long").as("p_ep"), key.as("p_key"))
      val j = purchases.join(touches,
        col("t_user") === col("p_user") && col("t_key") < col("p_key") &&
          col("p_ep") - col("t_ep") <= 604800, "left")
        .withColumn("w", when(col("t_key").isNull, lit(null))
          .otherwise(expr("shiftleft(1L, CAST(7 - (p_ep - t_ep) " +
            "div 86400 AS INT))")))
      val wP = Window.partitionBy("p_user", "p_key")
      val wR = Window.partitionBy("p_user", "p_key")
        .orderBy(col("t_key").desc)
      j.withColumn("k", count(col("t_key")).over(wP))
        .withColumn("sw", sum("w").over(wP))
        .withColumn("rn", row_number().over(wR))
        .withColumn("base", expr("(cents * w) div sw"))
        .withColumn("leftover",
          col("cents") - sum(coalesce(col("base"), lit(0L))).over(wP))
        .select(
          when(col("k") === 0, lit("direct")).otherwise(col("t_type"))
            .as("channel"),
          when(col("k") === 0, col("cents"))
            .otherwise(col("base") +
              when(col("rn") <= col("leftover"), 1L).otherwise(0L))
            .as("credit"),
          coalesce(col("w"), lit(0L)).as("wv"))
        .groupBy("channel")
        .agg(count(lit(1)).as("n_credits"),
          sum("credit").as("credited_cents"),
          sum("wv").as("weight_sum"))
        .orderBy("channel")
    }, Some("""
      WITH ev AS (
        SELECT user_id, event_type, value,
               CAST(floor(epoch(ts)) AS BIGINT) AS ep,
               lpad(CAST(CAST(floor(epoch(ts)) AS BIGINT) AS VARCHAR),
                    10, '0')
                 || '|' || lpad(CAST(event_id AS VARCHAR), 8, '0') AS key
        FROM events),
      tt AS (
        SELECT user_id AS t_user, event_type AS t_type, ep AS t_ep,
               key AS t_key
        FROM ev WHERE event_type IN ('view', 'click')),
      p AS (
        SELECT user_id AS p_user, CAST(floor(value * 100) AS BIGINT) AS cents,
               ep AS p_ep, key AS p_key
        FROM ev WHERE event_type = 'purchase'),
      j AS (
        SELECT p.*, tt.t_type, tt.t_key,
               CASE WHEN tt.t_key IS NULL THEN NULL
                    ELSE (1::BIGINT << CAST(7 - (p_ep - t_ep) // 86400
                                            AS INTEGER)) END AS w
        FROM p LEFT JOIN tt ON t_user = p_user AND t_key < p_key
                            AND p_ep - t_ep <= 604800),
      r AS (
        SELECT *,
               count(t_key) OVER (PARTITION BY p_user, p_key) AS k,
               sum(w) OVER (PARTITION BY p_user, p_key) AS sw,
               row_number() OVER (PARTITION BY p_user, p_key
                 ORDER BY t_key DESC) AS rn
        FROM j),
      b AS (
        SELECT *, (cents * w) // sw AS base,
               cents - sum(coalesce((cents * w) // sw, 0))
                 OVER (PARTITION BY p_user, p_key) AS leftover
        FROM r)
      SELECT CASE WHEN k = 0 THEN 'direct' ELSE t_type END AS channel,
             count(*) AS n_credits,
             CAST(sum(CASE WHEN k = 0 THEN cents
                      ELSE base +
                           CASE WHEN rn <= leftover THEN 1 ELSE 0 END
                      END) AS BIGINT) AS credited_cents,
             CAST(sum(coalesce(w, 0)) AS BIGINT) AS weight_sum
      FROM b GROUP BY 1 ORDER BY 1""")),

    // CS24 — Kendall tau-b between the URGENT and LOW daily-revenue
    // series: rank correlation from EXACT pair counts — concordance is
    // decided by integer comparisons only (never a sign() of a float
    // product, which overflows cents² long before the counts do), and the
    // tie corrections n1/n2 come from value-group counts, so every input
    // to the final tau is an exact integer. The O(days²) pair join runs on
    // the bounded aligned-day table (ts9's argument: pairs are a constant
    // of the calendar span, not the corpus); the assembly is three 1-row
    // broadcasts. tau_b = (C−D)/sqrt((n0−n1)(n0−n2)) composed once in
    // doubles, floor-scaled to 1e6.
    Q("cs24_kendall_tau", (s, dir) => {
      val daily = t(s, dir, "orders")
        .groupBy(col("o_orderpriority").as("pri"),
          datediff(to_date(col("o_orderdate")), lit("1992-01-01"))
            .cast("long").as("d"))
        .agg(sum(floor(col("o_totalprice") * 100).cast("long")).as("cents"))
      val x = daily.filter(col("pri") === "1-URGENT")
        .select(col("d"), col("cents").as("x"))
      val y = daily.filter(col("pri") === "5-LOW")
        .select(col("d").as("dy"), col("cents").as("y"))
      val al = x.join(y, col("d") === col("dy"))
        .select(col("d"), col("x"), col("y"))
        .localCheckpoint() // feeds pairs, ties, and the count
      val a = al.select(col("d").as("d1"), col("x").as("x1"),
        col("y").as("y1"))
      val b = al.select(col("d").as("d2"), col("x").as("x2"),
        col("y").as("y2"))
      val pairs = a.join(b, col("d1") < col("d2"))
        .agg(count(lit(1)).as("n_pairs"),
          sum(when((col("x1") < col("x2") && col("y1") < col("y2")) ||
            (col("x1") > col("x2") && col("y1") > col("y2")), 1L)
            .otherwise(0L)).as("concordant"),
          sum(when((col("x1") < col("x2") && col("y1") > col("y2")) ||
            (col("x1") > col("x2") && col("y1") < col("y2")), 1L)
            .otherwise(0L)).as("discordant"))
      val nRow = al.agg(count(lit(1)).as("n_days"))
      val tx = al.groupBy("x").agg(count(lit(1)).as("c"))
        .agg(coalesce(sum(expr("c * (c - 1) div 2")), lit(0L)).as("n1"))
      val ty = al.groupBy("y").agg(count(lit(1)).as("c"))
        .agg(coalesce(sum(expr("c * (c - 1) div 2")), lit(0L)).as("n2"))
      pairs.crossJoin(nRow).crossJoin(tx).crossJoin(ty)
        .withColumn("n0", expr("n_days * (n_days - 1) div 2"))
        .select(col("n_days"), col("n_pairs"), col("concordant"),
          col("discordant"),
          floor(lit(1.0e6) *
            (col("concordant") - col("discordant")).cast("double") /
            sqrt((col("n0") - col("n1")).cast("double") *
              (col("n0") - col("n2")).cast("double")))
            .cast("long").as("tau_b_e6"))
    }, Some("""
      WITH daily AS (
        SELECT o_orderpriority AS pri,
               CAST(datediff('day', DATE '1992-01-01',
                 CAST(o_orderdate AS DATE)) AS BIGINT) AS d,
               sum(CAST(floor(o_totalprice * 100) AS BIGINT)) AS cents
        FROM orders GROUP BY 1, 2),
      al AS (
        SELECT x.d, x.cents AS x, y.cents AS y
        FROM (SELECT d, cents FROM daily WHERE pri = '1-URGENT') x
        JOIN (SELECT d, cents FROM daily WHERE pri = '5-LOW') y USING (d)),
      pairs AS (
        SELECT count(*) AS n_pairs,
               sum(CASE WHEN (a.x < b.x AND a.y < b.y)
                          OR (a.x > b.x AND a.y > b.y)
                   THEN 1 ELSE 0 END) AS concordant,
               sum(CASE WHEN (a.x < b.x AND a.y > b.y)
                          OR (a.x > b.x AND a.y < b.y)
                   THEN 1 ELSE 0 END) AS discordant
        FROM al a JOIN al b ON a.d < b.d),
      n AS (SELECT count(*) AS n_days FROM al),
      t1 AS (SELECT coalesce(sum(c * (c - 1) // 2), 0) AS n1
             FROM (SELECT count(*) AS c FROM al GROUP BY x)),
      t2 AS (SELECT coalesce(sum(c * (c - 1) // 2), 0) AS n2
             FROM (SELECT count(*) AS c FROM al GROUP BY y))
      SELECT n_days, n_pairs,
             CAST(concordant AS BIGINT) AS concordant,
             CAST(discordant AS BIGINT) AS discordant,
             CAST(floor(1.0e6 *
               CAST(concordant - discordant AS DOUBLE) /
               sqrt(CAST(n_days * (n_days - 1) // 2 - n1 AS DOUBLE) *
                    CAST(n_days * (n_days - 1) // 2 - n2 AS DOUBLE)))
               AS BIGINT) AS tau_b_e6
      FROM pairs, n, t1, t2""")),

    // CS25 — market-concentration audit: per-nation supplier HHI and CR4
    // over lineitem revenue. Per-supplier cents are one fact-grain
    // aggregate; the nation rollup carries Σc in BIGINT and Σc² in
    // DECIMAL/HUGEINT (cents² crosses int64 at corpus scale, and a float
    // Σc² is association-ordered), converts each sum to double ONCE, and
    // the top-4 mass is a deterministic row_number cut (ties on suppkey).
    // HHI ≤ CR1 ≤ CR4 is a law of shares — the spec asserts it within
    // floor slack. Shuffles: suppkey agg, suppkey join, nation window —
    // all key-hash, no corpus×corpus anywhere.
    Q("cs25_concentration", (s, dir) => {
      val perSupp = t(s, dir, "lineitem")
        .groupBy(col("l_suppkey"))
        .agg(sum(floor(col("l_extendedprice") * 100).cast("long"))
          .as("cents"))
      val supp = t(s, dir, "supplier")
        .select(col("s_suppkey"), col("s_nationkey"))
      val wN = Window.partitionBy("s_nationkey")
        .orderBy(col("cents").desc, col("l_suppkey"))
      val byNation = perSupp
        .join(supp, col("l_suppkey") === col("s_suppkey"))
        .withColumn("rn", row_number().over(wN))
        .groupBy("s_nationkey")
        .agg(count(lit(1)).as("n_suppliers"),
          sum("cents").as("total_cents"),
          sum(col("cents").cast("decimal(38,0)") * col("cents"))
            .cast("double").as("__ss"),
          sum(when(col("rn") <= 4, col("cents")).otherwise(0L))
            .as("__top4"))
      byNation
        .join(broadcast(t(s, dir, "nation")
          .select(col("n_nationkey"), col("n_name"))),
          col("s_nationkey") === col("n_nationkey"))
        .select(col("n_name"), col("n_suppliers"), col("total_cents"),
          floor(lit(1.0e6) * col("__ss") /
            (col("total_cents").cast("double") *
              col("total_cents").cast("double")))
            .cast("long").as("hhi_e6"),
          floor(lit(1.0e6) * col("__top4").cast("double") /
            col("total_cents").cast("double"))
            .cast("long").as("cr4_e6"))
        .orderBy("n_name")
    }, Some("""
      WITH per AS (
        SELECT l_suppkey,
               CAST(sum(CAST(floor(l_extendedprice * 100) AS BIGINT))
                    AS BIGINT) AS cents
        FROM lineitem GROUP BY 1),
      r AS (
        SELECT s_nationkey, cents,
               row_number() OVER (PARTITION BY s_nationkey
                 ORDER BY cents DESC, l_suppkey) AS rn
        FROM per JOIN supplier ON l_suppkey = s_suppkey),
      agg AS (
        SELECT s_nationkey, count(*) AS n_suppliers,
               CAST(sum(cents) AS BIGINT) AS total_cents,
               CAST(sum(CAST(cents AS HUGEINT) * cents) AS DOUBLE) AS ss,
               CAST(sum(CASE WHEN rn <= 4 THEN cents ELSE 0 END)
                    AS BIGINT) AS top4
        FROM r GROUP BY 1)
      SELECT n_name, n_suppliers, total_cents,
             CAST(floor(1.0e6 * ss /
               (CAST(total_cents AS DOUBLE) * CAST(total_cents AS DOUBLE)))
               AS BIGINT) AS hhi_e6,
             CAST(floor(1.0e6 * CAST(top4 AS DOUBLE) /
               CAST(total_cents AS DOUBLE)) AS BIGINT) AS cr4_e6
      FROM agg JOIN nation ON s_nationkey = n_nationkey
      ORDER BY n_name""")),

    // GR13 — bipartiteness check by BFS parity: an undirected graph is
    // bipartite iff no edge joins two nodes of equal BFS-layer parity, so
    // one multi-source `Components.bfsLevels` sweep (gr2's fixture graph
    // and seeds) plus one edge⋈levels join decides it — never an
    // odd-cycle enumeration. Hop-bounded like every BFS here; the parity
    // test only reads edges with BOTH endpoints reached, so the verdict is
    // exact on the covered subgraph and the oracle chains the identical
    // bound. Scale shape: BFS is frontier-sized work per round; the parity
    // join is one node-keyed shuffle of the reached set.
    Q("gr13_bipartite_check", (s, dir) => {
      val docs = t(s, dir, "documents").select(col("doc_id"))
      val fixture = docs.select(col("doc_id").as("a"),
        ((col("doc_id") * 7) % 499).as("b"))
      val sources = docs.filter(col("doc_id") % 125 === 0)
      val lv = Components
        .bfsLevels(fixture, "a", "b", sources, "doc_id", maxRounds = 6)
      val und = fixture
        .select(least(col("a"), col("b")).as("u"),
          greatest(col("a"), col("b")).as("v"))
        .filter(col("u") =!= col("v")).distinct()
      val oddEdges = und
        .join(lv.select(col("node").as("u"), col("dist").as("du")), "u")
        .join(lv.select(col("node").as("v"), col("dist").as("dv")), "v")
        .agg(count(lit(1)).as("n_covered_edges"),
          sum(when((col("du") + col("dv")) % 2 === 0, 1L).otherwise(0L))
            .as("n_odd_edges"))
      val nodes = lv.agg(count(lit(1)).as("n_reached"),
        sum(when(col("dist") % 2 === 0, 1L).otherwise(0L)).as("n_even"),
        sum(when(col("dist") % 2 === 1, 1L).otherwise(0L)).as("n_odd"))
      nodes.crossJoin(oddEdges)
        .select(col("n_reached"), col("n_even"), col("n_odd"),
          col("n_covered_edges"), col("n_odd_edges"),
          when(col("n_odd_edges") === 0, 1L).otherwise(0L)
            .as("bipartite"))
    }, Some("""
      WITH RECURSIVE
      fixture AS (SELECT doc_id AS u, (doc_id * 7) % 499 AS v FROM documents),
      e2 AS (SELECT u, v FROM fixture UNION ALL SELECT v, u FROM fixture),
      edges AS (SELECT u, v FROM e2 WHERE u <> v),
      reach(node, d) AS (
        SELECT DISTINCT doc_id, 0 FROM documents WHERE doc_id % 125 = 0
        UNION
        SELECT e.v, r.d + 1 FROM reach r JOIN edges e ON e.u = r.node
        WHERE r.d < 6),
      lv AS (SELECT node, min(d) AS dist FROM reach GROUP BY node),
      und AS (
        SELECT DISTINCT least(u, v) AS u, greatest(u, v) AS v
        FROM fixture WHERE u <> v),
      oe AS (
        SELECT count(*) AS n_covered_edges,
               sum(CASE WHEN (a.dist + b.dist) % 2 = 0 THEN 1 ELSE 0 END)
                 AS n_odd_edges
        FROM und JOIN lv a ON und.u = a.node
                 JOIN lv b ON und.v = b.node),
      nd AS (
        SELECT count(*) AS n_reached,
               sum(CASE WHEN dist % 2 = 0 THEN 1 ELSE 0 END) AS n_even,
               sum(CASE WHEN dist % 2 = 1 THEN 1 ELSE 0 END) AS n_odd
        FROM lv)
      SELECT n_reached, CAST(n_even AS BIGINT) AS n_even,
             CAST(n_odd AS BIGINT) AS n_odd, n_covered_edges,
             CAST(n_odd_edges AS BIGINT) AS n_odd_edges,
             CAST(CASE WHEN n_odd_edges = 0 THEN 1 ELSE 0 END AS BIGINT)
               AS bipartite
      FROM nd, oe""")),

    // ML13 — precision/recall/F1 threshold sweep: the PR curve for the
    // "long documents are English" one-feature classifier over a fixed
    // 10-threshold grid. The corpus collapses to a bounded length
    // histogram FIRST (one fact-grain aggregate); the sweep is then a
    // 10-row grid range-joined onto that histogram plus a 1-row
    // positive-total broadcast — the full curve costs one scan no matter
    // how many thresholds. Every metric is an exact integer ratio
    // (F1 = 2TP/(2TP+FP+FN) — never the float P·R composition),
    // floor-scaled to 1e6; empty-prediction precision is pinned to 1e6 by
    // convention on both engines.
    Q("ml13_pr_sweep", (s, dir) => {
      val hist = t(s, dir, "documents")
        .groupBy(col("n_chars"))
        .agg(sum(when(col("lang") === "en", 1L).otherwise(0L)).as("pos"),
          count(lit(1)).as("tot"))
        .localCheckpoint() // swept once per threshold
      val totals = hist.agg(sum("pos").as("p_all")) // 1-row broadcast
      val thr = s.range(0, 10).toDF("i")
        .select((col("i") * 100).as("thr"))
      val sweep = thr.join(hist, col("n_chars") >= col("thr"), "left")
        .groupBy("thr")
        .agg(coalesce(sum("pos"), lit(0L)).as("tp"),
          coalesce(sum("tot"), lit(0L)).as("predpos"))
      sweep.crossJoin(totals)
        .select(col("thr"), col("tp"),
          (col("predpos") - col("tp")).as("fp"),
          (col("p_all") - col("tp")).as("fn"),
          when(col("predpos") === 0, 1000000L)
            .otherwise(floor(lit(1.0e6) * col("tp") / col("predpos"))
              .cast("long")).as("precision_e6"),
          floor(lit(1.0e6) * col("tp") / col("p_all")).cast("long")
            .as("recall_e6"),
          floor(lit(1.0e6) * 2 * col("tp") /
            (lit(2) * col("tp") + (col("predpos") - col("tp")) +
              (col("p_all") - col("tp")))).cast("long").as("f1_e6"))
        .orderBy("thr")
    }, Some("""
      WITH hist AS (
        SELECT n_chars,
               sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS pos,
               count(*) AS tot
        FROM documents GROUP BY 1),
      totals AS (SELECT sum(pos) AS p_all FROM hist),
      thr AS (SELECT i * 100 AS thr
              FROM UNNEST(generate_series(0, 9)) AS t(i)),
      sweep AS (
        SELECT thr, coalesce(sum(pos), 0) AS tp,
               coalesce(sum(tot), 0) AS predpos
        FROM thr LEFT JOIN hist ON n_chars >= thr
        GROUP BY 1)
      SELECT thr, CAST(tp AS BIGINT) AS tp,
             CAST(predpos - tp AS BIGINT) AS fp,
             CAST(p_all - tp AS BIGINT) AS fn,
             CAST(CASE WHEN predpos = 0 THEN 1000000
                  ELSE floor(1.0e6 * tp / predpos) END AS BIGINT)
               AS precision_e6,
             CAST(floor(1.0e6 * tp / p_all) AS BIGINT) AS recall_e6,
             CAST(floor(1.0e6 * 2 * tp /
               (2 * tp + (predpos - tp) + (p_all - tp))) AS BIGINT)
               AS f1_e6
      FROM sweep, totals ORDER BY thr""")),

    // OL5 — Tukey IQR fences: per-priority order-value outliers against
    // the classic Q1−1.5·IQR / Q3+1.5·IQR box — the third robust-outlier
    // convention alongside ol1's winsorize and ol2's MAD. Quartiles are
    // POSITIONAL (value at rank ⌈n/4⌉ / ⌈3n/4⌉ — ts9's move; never
    // percentile_cont, whose interpolation differs across engines) and
    // the fences stay in integer half-cents (2·Q1 − 3·IQR) so the outlier
    // comparison is exact integer arithmetic end to end. Scale shape: one
    // per-priority sort window + a 5-row fence broadcast back onto the
    // scan.
    Q("ol5_iqr_fences", (s, dir) => {
      val base = t(s, dir, "orders")
        .select(col("o_orderpriority").as("pri"), col("o_orderkey"),
          floor(col("o_totalprice") * 100).cast("long").as("cents"))
      val w = Window.partitionBy("pri").orderBy("cents", "o_orderkey")
      val qs = base
        .withColumn("rn", row_number().over(w))
        .withColumn("cnt", count(lit(1)).over(Window.partitionBy("pri")))
        .groupBy("pri")
        .agg(max("cnt").as("n"),
          max(when(col("rn") === expr("(cnt + 3) div 4"), col("cents")))
            .as("q1_cents"),
          max(when(col("rn") === expr("(3 * cnt + 3) div 4"), col("cents")))
            .as("q3_cents"))
      base.join(broadcast(qs), "pri")
        .groupBy("pri")
        .agg(max("n").as("n"),
          max("q1_cents").as("q1_cents"), max("q3_cents").as("q3_cents"),
          sum(when(lit(2) * col("cents") <
            lit(2) * col("q1_cents") -
              lit(3) * (col("q3_cents") - col("q1_cents")), 1L)
            .otherwise(0L)).as("n_low"),
          sum(when(lit(2) * col("cents") >
            lit(2) * col("q3_cents") +
              lit(3) * (col("q3_cents") - col("q1_cents")), 1L)
            .otherwise(0L)).as("n_high"))
        .orderBy("pri")
    }, Some("""
      WITH base AS (
        SELECT o_orderpriority AS pri, o_orderkey,
               CAST(floor(o_totalprice * 100) AS BIGINT) AS cents
        FROM orders),
      r AS (
        SELECT pri, cents,
               row_number() OVER (PARTITION BY pri
                 ORDER BY cents, o_orderkey) AS rn,
               count(*) OVER (PARTITION BY pri) AS cnt
        FROM base),
      qs AS (
        SELECT pri, max(cnt) AS n,
               max(CASE WHEN rn = (cnt + 3) // 4 THEN cents END) AS q1_cents,
               max(CASE WHEN rn = (3 * cnt + 3) // 4 THEN cents END)
                 AS q3_cents
        FROM r GROUP BY pri)
      SELECT base.pri, max(n) AS n,
             max(q1_cents) AS q1_cents, max(q3_cents) AS q3_cents,
             CAST(sum(CASE WHEN 2 * cents <
                    2 * q1_cents - 3 * (q3_cents - q1_cents)
                  THEN 1 ELSE 0 END) AS BIGINT) AS n_low,
             CAST(sum(CASE WHEN 2 * cents >
                    2 * q3_cents + 3 * (q3_cents - q1_cents)
                  THEN 1 ELSE 0 END) AS BIGINT) AS n_high
      FROM base JOIN qs ON base.pri = qs.pri
      GROUP BY base.pri ORDER BY base.pri""")),

    // TOK5 — vocabulary-coverage sweep: token-mass coverage and OOV rate
    // at candidate vocab sizes 100..3200 — the curve that sizes a
    // tokenizer's vocabulary before anyone trains one. The corpus
    // collapses to the bounded (token, count) dictionary FIRST; ranking,
    // the cumulative mass, and the 6-point sweep all run on that dictionary
    // (ml13's histogram-then-grid shape). Rank ties break on the token
    // string; every coverage number is an exact integer, OOV floor-scaled
    // to 1e6.
    Q("tok5_vocab_coverage", (s, dir) => {
      val vocab = t(s, dir, "documents")
        .select(explode(split(col("text"), " ")).as("tok"))
        .groupBy("tok").agg(count(lit(1)).as("c"))
      val wR = Window.orderBy(col("c").desc, col("tok"))
      val cum = vocab
        .withColumn("rn", row_number().over(wR))
        .withColumn("cum", sum("c").over(
          wR.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .localCheckpoint() // swept once per vocab size
      val totals = cum.agg(sum("c").as("total_tokens"),
        count(lit(1)).as("distinct_tokens"))
      val grid = s.createDataFrame(
        Seq(100L, 200L, 400L, 800L, 1600L, 3200L).map(Tuple1(_)))
        .toDF("vocab_k")
      grid.join(cum, col("rn") <= col("vocab_k"), "left")
        .groupBy("vocab_k")
        .agg(count(col("rn")).as("covered_types"),
          coalesce(max("cum"), lit(0L)).as("covered_tokens"))
        .crossJoin(totals)
        .select(col("vocab_k"), col("covered_types"), col("covered_tokens"),
          col("total_tokens"), col("distinct_tokens"),
          floor(lit(1.0e6) *
            (col("total_tokens") - col("covered_tokens")) /
            col("total_tokens")).cast("long").as("oov_e6"))
        .orderBy("vocab_k")
    }, Some("""
      WITH vocab AS (
        SELECT tok, count(*) AS c FROM (
          SELECT unnest(string_split(text, ' ')) AS tok FROM documents)
        GROUP BY tok),
      cum AS (
        SELECT c, row_number() OVER (ORDER BY c DESC, tok) AS rn,
               sum(c) OVER (ORDER BY c DESC, tok
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
        FROM vocab),
      totals AS (SELECT sum(c) AS total_tokens, count(*) AS distinct_tokens
                 FROM vocab),
      grid AS (SELECT unnest([100, 200, 400, 800, 1600, 3200]) AS vocab_k)
      SELECT CAST(vocab_k AS BIGINT) AS vocab_k,
             count(rn) AS covered_types,
             CAST(coalesce(max(cum), 0) AS BIGINT) AS covered_tokens,
             CAST(max(total_tokens) AS BIGINT) AS total_tokens,
             max(distinct_tokens) AS distinct_tokens,
             CAST(floor(1.0e6 * (max(total_tokens) - coalesce(max(cum), 0))
                        / max(total_tokens)) AS BIGINT) AS oov_e6
      FROM grid LEFT JOIN cum ON rn <= vocab_k CROSS JOIN totals
      GROUP BY vocab_k ORDER BY vocab_k""")),

    // CK4 — length-bucketed dynamic batching: bucket documents by
    // token-length div 64, batch 32 per bucket in doc_id order, pad each
    // batch to its own max — the padding-waste audit behind every dynamic
    // batcher. Bucketing CAPS the waste: within a bucket lengths differ by
    // < 64, so padded < 64·n_seqs is a LAW of the layout (the spec holds
    // it), where naive fixed batching pays up to max_len per sequence.
    // Scale shape: one corpus-grain length projection, one bucket-keyed
    // window (each bucket sorts independently), one bounded rollup.
    Q("ck4_bucketed_batching", (s, dir) => {
      val tk = t(s, dir, "documents")
        .select(col("doc_id"), size(split(col("text"), " ")).cast("long")
          .as("n_tokens"))
        .withColumn("bucket", expr("n_tokens div 64"))
      val wB = Window.partitionBy("bucket").orderBy("doc_id")
      tk.withColumn("rn", row_number().over(wB))
        .withColumn("batch", expr("(rn - 1) div 32"))
        .groupBy("bucket", "batch")
        .agg(count(lit(1)).as("bn"), max("n_tokens").as("bmax"),
          sum("n_tokens").as("bsum"))
        .groupBy("bucket")
        .agg(sum("bn").as("n_seqs"),
          count(lit(1)).as("n_batches"),
          sum("bsum").as("sum_tokens"),
          (sum(col("bn") * col("bmax")) - sum("bsum")).as("padded_tokens"))
        .withColumn("util_e6",
          floor(lit(1.0e6) * col("sum_tokens") /
            (col("sum_tokens") + col("padded_tokens"))).cast("long"))
        .orderBy("bucket")
    }, Some("""
      WITH tk AS (
        SELECT doc_id,
               CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
               CAST(len(string_split(text, ' ')) AS BIGINT) // 64 AS bucket
        FROM documents),
      ba AS (
        SELECT bucket, n_tokens,
               (row_number() OVER (PARTITION BY bucket ORDER BY doc_id) - 1)
                 // 32 AS batch
        FROM tk),
      pb AS (
        SELECT bucket, batch, count(*) AS bn, max(n_tokens) AS bmax,
               sum(n_tokens) AS bsum
        FROM ba GROUP BY 1, 2)
      SELECT bucket, CAST(sum(bn) AS BIGINT) AS n_seqs,
             count(*) AS n_batches,
             CAST(sum(bsum) AS BIGINT) AS sum_tokens,
             CAST(sum(bn * bmax) - sum(bsum) AS BIGINT) AS padded_tokens,
             CAST(floor(1.0e6 * sum(bsum) /
               (sum(bsum) + (sum(bn * bmax) - sum(bsum)))) AS BIGINT)
               AS util_e6
      FROM pb GROUP BY bucket ORDER BY bucket""")),

    // HQ4 — equi-depth-histogram selectivity audit: build the 10-bucket
    // equi-depth histogram a cost-based optimizer keeps (on the bounded
    // $1000-grain bin table, hq1's move — never a corpus-wide sort), then
    // grade its uniform-within-bucket range estimates against the exact
    // counts for three canonical probes. est is composed once in doubles
    // (identical expression both engines), the truth is an exact integer,
    // and the error lands floor-scaled — the "how wrong is my CBO"
    // number k24 decides partitioning with.
    Q("hq4_selectivity_estimate", (s, dir) => {
      val bins = t(s, dir, "orders")
        .select(expr("CAST(floor(o_totalprice) AS BIGINT) div 1000").as("bin"))
        .groupBy("bin").agg(count(lit(1)).as("cnt"))
      val wC = Window.orderBy("bin")
      val buckets = bins
        .withColumn("cum", sum("cnt").over(
          wC.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .withColumn("n", sum("cnt").over(
          wC.rowsBetween(Window.unboundedPreceding,
            Window.unboundedFollowing)))
        .withColumn("bkt", expr("((cum - cnt) * 10) div n"))
        .groupBy("bkt")
        .agg(min("bin").as("lo"), max("bin").as("hi"),
          sum("cnt").as("bcnt"), max("n").as("n"))
      val probes = s.createDataFrame(Seq(
        ("p1_low", 0L, 50L), ("p2_mid", 100L, 200L),
        ("p3_wide", 50L, 400L))).toDF("probe", "a", "b")
      val est = buckets.join(broadcast(probes),
        col("hi") + 1 > col("a") && col("lo") < col("b"))
        .select(col("probe"), col("n"),
          (col("bcnt").cast("double") *
            (least(col("b"), col("hi") + 1) - greatest(col("a"), col("lo")))
              .cast("double") /
            (col("hi") + 1 - col("lo")).cast("double")).as("part"))
        .groupBy("probe").agg(max("n").as("n"), sum("part").as("__est"))
      val actual = bins.join(broadcast(probes),
        col("bin") >= col("a") && col("bin") < col("b"))
        .groupBy("probe").agg(sum("cnt").as("actual"))
      est.join(actual, "probe")
        .select(col("probe"), col("n"),
          floor(lit(100.0) * col("__est")).cast("long").as("est_e2"),
          col("actual"),
          floor(lit(1.0e4) * abs(col("__est") - col("actual")) / col("n"))
            .cast("long").as("err_e4"))
        .orderBy("probe")
    }, Some("""
      WITH bins AS (
        SELECT CAST(floor(o_totalprice) AS BIGINT) // 1000 AS bin,
               count(*) AS cnt
        FROM orders GROUP BY 1),
      cc AS (
        SELECT bin, cnt,
               sum(cnt) OVER (ORDER BY bin
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
               sum(cnt) OVER () AS n
        FROM bins),
      buckets AS (
        SELECT ((cum - cnt) * 10) // n AS bkt, min(bin) AS lo,
               max(bin) AS hi, sum(cnt) AS bcnt, max(n) AS n
        FROM cc GROUP BY 1),
      probes AS (
        SELECT 'p1_low' AS probe, 0 AS a, 50 AS b
        UNION ALL SELECT 'p2_mid', 100, 200
        UNION ALL SELECT 'p3_wide', 50, 400),
      est AS (
        SELECT probe, max(n) AS n,
               sum(CAST(bcnt AS DOUBLE) *
                   CAST(least(b, hi + 1) - greatest(a, lo) AS DOUBLE) /
                   CAST(hi + 1 - lo AS DOUBLE)) AS e
        FROM buckets JOIN probes ON hi + 1 > a AND lo < b
        GROUP BY probe),
      act AS (
        SELECT probe, sum(cnt) AS actual
        FROM bins JOIN probes ON bin >= a AND bin < b
        GROUP BY probe)
      SELECT probe, CAST(n AS BIGINT) AS n,
             CAST(floor(100.0 * e) AS BIGINT) AS est_e2,
             CAST(actual AS BIGINT) AS actual,
             CAST(floor(1.0e4 * abs(e - actual) / n) AS BIGINT) AS err_e4
      FROM est JOIN act USING (probe) ORDER BY probe""")),

    // W19 — D'Hondt (highest-averages) apportionment: the divisor-method
    // counterpart of w18's Hamilton — the 1000 seats go to the 1000
    // largest quotients n/d over divisors 1..1000. Each quotient is ONE
    // IEEE division (identical on both engines) and the seat cut is a
    // deterministic rank (ties break on nation, then divisor), so the
    // allocation hash-grades; divisor methods favor large parties, and
    // the spec proves the house-monotonicity law Hamilton lacks:
    // n_i > n_j ⇒ seats_i ≥ seats_j. The quotient table is 25 nations ×
    // 1000 divisors — bounded, never corpus-grain.
    Q("w19_dhondt_apportionment", (s, dir) => {
      val per = t(s, dir, "customer")
        .groupBy(col("c_nationkey").cast("long").as("nat"))
        .agg(count(lit(1)).as("n"))
      val wR = Window.orderBy(col("q").desc, col("nat"), col("dv"))
      per.select(col("nat"), col("n"),
          explode(sequence(lit(1L), lit(1000L))).as("dv"))
        .withColumn("q", col("n").cast("double") / col("dv").cast("double"))
        .withColumn("rn", row_number().over(wR))
        .filter(col("rn") <= 1000)
        .groupBy("nat")
        .agg(max("n").as("n"), count(lit(1)).as("seats"))
        .orderBy("nat")
    }, Some("""
      WITH per AS (
        SELECT CAST(c_nationkey AS BIGINT) AS nat, count(*) AS n
        FROM customer GROUP BY 1),
      quot AS (
        SELECT nat, n, dv,
               CAST(n AS DOUBLE) / CAST(dv AS DOUBLE) AS q
        FROM per, UNNEST(generate_series(1, 1000)) AS t(dv)),
      r AS (
        SELECT nat, n,
               row_number() OVER (ORDER BY q DESC, nat, dv) AS rn
        FROM quot)
      SELECT nat, n, count(*) AS seats
      FROM r WHERE rn <= 1000
      GROUP BY nat, n ORDER BY nat""")),

    // J13 — bloom-filter semi-join audit: the runtime-filter economics
    // behind every shuffle-pruning join. A 8192-bit, 3-hash bloom is built
    // from the dim side (customers of nation 7) as a POSITION SET — the
    // distributed form of a bitset OR — and every fact key probes it
    // scan-side; rows failing any hash never reach the real join. The
    // audit grades what matters: zero false negatives (a LAW of bloom
    // filters — the spec and the candidates ⊇ matches column hold it) and
    // the measured false-positive cost. Hashes are md5 hex slices, the
    // engine-portable convention (ml11's), never JVM hashCode.
    Q("j13_bloom_semi_join", (s, dir) => {
      def positions(df: org.apache.spark.sql.DataFrame, keyCol: String) = df
        .select(col(keyCol).cast("long").as("k"))
        .distinct()
        .select(col("k"), explode(array(lit(1), lit(9), lit(17))).as("off"))
        .withColumn("p", expr(
          "CAST(conv(substring(md5(CAST(CAST(k AS STRING) AS BINARY)), " +
            "off, 8), 16, 10) AS BIGINT) % 8192"))
      val dimKeys = t(s, dir, "customer")
        .filter(col("c_nationkey") === 7)
        .select(col("c_custkey").cast("long").as("dk")).distinct()
        .localCheckpoint() // builds the bits AND the truth
      val bits = positions(dimKeys, "dk").select(col("p")).distinct()
      val probe = positions(t(s, dir, "orders"), "o_custkey")
        .join(broadcast(bits.withColumnRenamed("p", "bp")),
          col("p") === col("bp"), "left")
        .groupBy("k")
        .agg(count(col("bp")).as("hits"))
        .withColumn("candidate", col("hits") === 3)
      val flagged = probe
        .join(dimKeys.withColumnRenamed("dk", "k")
          .withColumn("truth", lit(true)), Seq("k"), "left")
        .withColumn("truth", coalesce(col("truth"), lit(false)))
      val nBits = bits.agg(count(lit(1)).as("bits_set"))
      flagged.agg(
        count(lit(1)).as("n_fact_keys"),
        sum(when(col("candidate"), 1L).otherwise(0L)).as("candidates"),
        sum(when(col("truth"), 1L).otherwise(0L)).as("true_matches"),
        sum(when(col("candidate") && !col("truth"), 1L).otherwise(0L))
          .as("false_positives"),
        sum(when(!col("candidate") && col("truth"), 1L).otherwise(0L))
          .as("false_negatives"))
        .crossJoin(nBits)
        .select(col("n_fact_keys"), col("bits_set"), col("candidates"),
          col("true_matches"), col("false_positives"),
          col("false_negatives"),
          floor(lit(1.0e6) * col("false_positives") /
            (col("n_fact_keys") - col("true_matches"))).cast("long")
            .as("fp_rate_e6"))
    }, Some("""
      WITH hexpos AS (
        SELECT k, off,
               CAST(list_sum(list_transform(generate_series(0, 7), i ->
                 (strpos('0123456789abcdef',
                         substr(md5(CAST(k AS VARCHAR)), off + i, 1)) - 1)
                 * CAST(16.0 ** (7 - i) AS BIGINT))) AS BIGINT) % 8192 AS p
        FROM (SELECT DISTINCT CAST(c_custkey AS BIGINT) AS k
              FROM customer WHERE c_nationkey = 7),
             UNNEST([1, 9, 17]) AS t(off)),
      bits AS (SELECT DISTINCT p FROM hexpos),
      dimkeys AS (SELECT DISTINCT CAST(c_custkey AS BIGINT) AS dk
                  FROM customer WHERE c_nationkey = 7),
      factpos AS (
        SELECT k, off,
               CAST(list_sum(list_transform(generate_series(0, 7), i ->
                 (strpos('0123456789abcdef',
                         substr(md5(CAST(k AS VARCHAR)), off + i, 1)) - 1)
                 * CAST(16.0 ** (7 - i) AS BIGINT))) AS BIGINT) % 8192 AS p
        FROM (SELECT DISTINCT CAST(o_custkey AS BIGINT) AS k FROM orders),
             UNNEST([1, 9, 17]) AS t(off)),
      probe AS (
        SELECT f.k, count(b.p) AS hits
        FROM factpos f LEFT JOIN bits b ON f.p = b.p
        GROUP BY f.k),
      flagged AS (
        SELECT p.k, p.hits = 3 AS candidate, d.dk IS NOT NULL AS truth
        FROM probe p LEFT JOIN dimkeys d ON p.k = d.dk),
      agg AS (
        SELECT count(*) AS n_fact_keys,
               sum(CASE WHEN candidate THEN 1 ELSE 0 END) AS candidates,
               sum(CASE WHEN truth THEN 1 ELSE 0 END) AS true_matches,
               sum(CASE WHEN candidate AND NOT truth THEN 1 ELSE 0 END)
                 AS false_positives,
               sum(CASE WHEN NOT candidate AND truth THEN 1 ELSE 0 END)
                 AS false_negatives
        FROM flagged),
      nb AS (SELECT count(*) AS bits_set FROM bits)
      SELECT n_fact_keys, bits_set,
             CAST(candidates AS BIGINT) AS candidates,
             CAST(true_matches AS BIGINT) AS true_matches,
             CAST(false_positives AS BIGINT) AS false_positives,
             CAST(false_negatives AS BIGINT) AS false_negatives,
             CAST(floor(1.0e6 * false_positives /
               (n_fact_keys - true_matches)) AS BIGINT) AS fp_rate_e6
      FROM agg, nb""")),

    // TS12 — Durbin–Watson serial-correlation diagnostic on the URGENT
    // daily-revenue deviations from the series mean: DW =
    // Σ(Δe)²/Σe² ∈ [0,4], the first thing to check before trusting any
    // OLS error bar on a time series. Engine parity: deviations are
    // SCALED to exact integers (e_t = n·y_t − Σy — multiplying through by
    // n cancels in the ratio), both quadratic sums ride DECIMAL/HUGEINT
    // (squares cross int64), and ONE double division ends the query.
    // Scale shape: a day-grain aggregate, a 1-row total broadcast, and a
    // lag window over the bounded day table.
    Q("ts12_durbin_watson", (s, dir) => {
      val daily = t(s, dir, "orders")
        .filter(col("o_orderpriority") === "1-URGENT")
        .groupBy(datediff(to_date(col("o_orderdate")), lit("1992-01-01"))
          .cast("long").as("d"))
        .agg(sum(floor(col("o_totalprice") * 100).cast("long")).as("y"))
      val tot = daily.agg(count(lit(1)).as("n"), sum("y").as("sy"))
      val dev = daily.crossJoin(broadcast(tot))
        .select(col("d"), col("n"),
          (col("n") * col("y") - col("sy")).as("e"))
      val w = Window.orderBy("d")
      dev.withColumn("prev", lag("e", 1).over(w))
        .agg(max("n").as("n_days"),
          sum(col("e").cast("decimal(38,0)") * col("e")).as("__den"),
          sum(((col("e") - col("prev")).cast("decimal(38,0)") *
            (col("e") - col("prev")))).as("__num"))
        .select(col("n_days"),
          floor(lit(1.0e6) * col("__num").cast("double") /
            col("__den").cast("double")).cast("long").as("dw_e6"),
          floor(lit(1.0e6) * (lit(1.0) - col("__num").cast("double") /
            col("__den").cast("double") / lit(2.0))).cast("long")
            .as("rho_e6"))
    }, Some("""
      WITH daily AS (
        SELECT CAST(datediff('day', DATE '1992-01-01',
                 CAST(o_orderdate AS DATE)) AS BIGINT) AS d,
               sum(CAST(floor(o_totalprice * 100) AS BIGINT)) AS y
        FROM orders WHERE o_orderpriority = '1-URGENT' GROUP BY 1),
      tot AS (SELECT count(*) AS n, sum(y) AS sy FROM daily),
      dev AS (
        SELECT d, n, n * y - sy AS e
        FROM daily, tot),
      lagd AS (
        SELECT n, e, lag(e) OVER (ORDER BY d) AS prev
        FROM dev)
      SELECT max(n) AS n_days,
             CAST(floor(1.0e6 *
               CAST(sum(CAST(e - prev AS HUGEINT) * (e - prev)) AS DOUBLE) /
               CAST(sum(CAST(e AS HUGEINT) * e) AS DOUBLE)) AS BIGINT)
               AS dw_e6,
             CAST(floor(1.0e6 * (1.0 -
               CAST(sum(CAST(e - prev AS HUGEINT) * (e - prev)) AS DOUBLE) /
               CAST(sum(CAST(e AS HUGEINT) * e) AS DOUBLE) / 2.0))
               AS BIGINT) AS rho_e6
      FROM lagd""")),

    // CS26 — Mann–Whitney U (Wilcoxon rank-sum) with tie correction:
    // do 'R'-flagged line items ship in different quantities than 'N'?
    // Quantities are a 50-value grid, so ranking happens at VALUE grain
    // (one corpus-scale groupBy, then a 50-row window) — never a global
    // sort of the corpus. Midranks ride the ×2 trick: for a value with
    // cumLess items below and tn tied, midrank·2 = 2·cumLess + tn + 1 is
    // an exact integer, so U·2, the tie term Σ(t³−t), and the variance
    // numerator/denominator are all exact DECIMAL/HUGEINT; the z-score is
    // ONE double division + sqrt at the very end, written with identical
    // op order in both engines.
    Q("cs26_mann_whitney", (s, dir) => {
      val perVal = t(s, dir, "lineitem")
        .filter(col("l_returnflag").isin("R", "N"))
        .select(col("l_quantity").cast("long").as("q"),
          when(col("l_returnflag") === "R", 1L).otherwise(0L).as("isr"))
        .groupBy("q")
        .agg(sum(col("isr")).as("na"),
          sum(lit(1L) - col("isr")).as("nb"),
          count(lit(1)).as("tn"))
      val wOrd = Window.orderBy("q")
      val ranked = perVal
        .withColumn("cumless", coalesce(sum("tn").over(
          wOrd.rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
        .withColumn("r2", lit(2L) * col("cumless") + col("tn") + lit(1L))
      ranked.agg(
          sum("na").as("n_a"), sum("nb").as("n_b"),
          sum(col("na").cast("decimal(38,0)") * col("r2")).as("__r2a"),
          sum(col("tn").cast("decimal(38,0)") * col("tn") * col("tn") -
            col("tn")).as("__ties"))
        .select(col("n_a"), col("n_b"),
          col("__ties").cast("long").as("ties_sum"),
          (col("__r2a") - col("n_a") * (col("n_a") + lit(1L)))
            .cast("long").as("u2_a"),
          (col("n_a") + col("n_b")).as("__n"), col("__r2a"), col("__ties"))
        .select(col("n_a"), col("n_b"), col("ties_sum"), col("u2_a"),
          floor(lit(1.0e6) *
            (col("u2_a") - col("n_a") * col("n_b")).cast("double") /
            (lit(2.0) * sqrt(
              (col("n_a").cast("decimal(38,0)") * col("n_b") *
                ((col("__n") + lit(1L)).cast("decimal(38,0)") * col("__n") *
                  (col("__n") - lit(1L)) - col("__ties"))).cast("double") /
              (lit(12L) * col("__n").cast("decimal(38,0)") *
                (col("__n") - lit(1L))).cast("double"))))
            .cast("long").as("z_e6"))
    }, Some("""
      WITH v AS (
        SELECT CAST(l_quantity AS BIGINT) AS q,
               sum(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END) AS na,
               sum(CASE WHEN l_returnflag = 'N' THEN 1 ELSE 0 END) AS nb,
               count(*) AS tn
        FROM lineitem WHERE l_returnflag IN ('R', 'N') GROUP BY 1),
      r AS (
        SELECT q, na, nb, tn,
               coalesce(sum(tn) OVER (ORDER BY q
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                 AS cumless
        FROM v),
      a AS (
        SELECT sum(na) AS n_a, sum(nb) AS n_b,
               sum(CAST(na AS HUGEINT) * (2 * cumless + tn + 1)) AS r2a,
               sum(CAST(tn AS HUGEINT) * tn * tn - tn) AS ties
        FROM r)
      SELECT CAST(n_a AS BIGINT) AS n_a, CAST(n_b AS BIGINT) AS n_b,
             CAST(ties AS BIGINT) AS ties_sum,
             CAST(r2a - n_a * (n_a + 1) AS BIGINT) AS u2_a,
             CAST(floor(1.0e6 *
               CAST(CAST(r2a - n_a * (n_a + 1) AS BIGINT) -
                    n_a * n_b AS DOUBLE) /
               (2.0 * sqrt(
                 CAST(CAST(n_a AS HUGEINT) * n_b *
                   (CAST(n_a + n_b + 1 AS HUGEINT) * (n_a + n_b) *
                     (n_a + n_b - 1) - ties) AS DOUBLE) /
                 CAST(12 * CAST(n_a + n_b AS HUGEINT) *
                   (n_a + n_b - 1) AS DOUBLE)))) AS BIGINT) AS z_e6
      FROM a""")),

    // CS27 — Spearman rank correlation between daily revenue and daily
    // order count on the bounded day grid: does a busier day also mean a
    // bigger-ticket day, monotonic version? Midranks again ride an exact
    // integer form — rank()·2 + tieCount − 1 — so every Pearson-on-ranks
    // sum (Σr, Σr², Σrᵣrᵧ) is exact, the two variance terms multiply in
    // DECIMAL/HUGEINT (they cross int64), and ONE double division + sqrt
    // ends the query. The corpus-scale work is one day-grain groupBy;
    // the rank windows run over the ~2.4k-row day table.
    Q("cs27_spearman", (s, dir) => {
      val daily = t(s, dir, "orders")
        .groupBy(datediff(to_date(col("o_orderdate")), lit("1992-01-01"))
          .cast("long").as("d"))
        .agg(sum(floor(col("o_totalprice") * 100).cast("long")).as("x"),
          count(lit(1)).as("y"))
      val ranked = daily
        .withColumn("rx2", lit(2L) * rank().over(Window.orderBy("x")) +
          count(lit(1)).over(Window.partitionBy("x")) - lit(1L))
        .withColumn("ry2", lit(2L) * rank().over(Window.orderBy("y")) +
          count(lit(1)).over(Window.partitionBy("y")) - lit(1L))
      ranked.agg(
          count(lit(1)).as("n_days"),
          sum("rx2").as("sx"), sum("ry2").as("sy"),
          sum(col("rx2").cast("decimal(38,0)") * col("rx2")).as("sxx"),
          sum(col("ry2").cast("decimal(38,0)") * col("ry2")).as("syy"),
          sum(col("rx2").cast("decimal(38,0)") * col("ry2")).as("sxy"))
        .select(col("n_days"),
          floor(lit(1.0e6) *
            (col("n_days").cast("decimal(38,0)") * col("sxy") -
              col("sx").cast("decimal(38,0)") * col("sy")).cast("double") /
            sqrt(((col("n_days").cast("decimal(38,0)") * col("sxx") -
                col("sx").cast("decimal(38,0)") * col("sx")) *
              (col("n_days").cast("decimal(38,0)") * col("syy") -
                col("sy").cast("decimal(38,0)") * col("sy")))
              .cast("double")))
            .cast("long").as("rho_e6"))
    }, Some("""
      WITH daily AS (
        SELECT CAST(datediff('day', DATE '1992-01-01',
                 CAST(o_orderdate AS DATE)) AS BIGINT) AS d,
               sum(CAST(floor(o_totalprice * 100) AS BIGINT)) AS x,
               count(*) AS y
        FROM orders GROUP BY 1),
      ranked AS (
        SELECT 2 * rank() OVER (ORDER BY x) +
                 count(*) OVER (PARTITION BY x) - 1 AS rx2,
               2 * rank() OVER (ORDER BY y) +
                 count(*) OVER (PARTITION BY y) - 1 AS ry2
        FROM daily),
      a AS (
        SELECT count(*) AS n_days, sum(rx2) AS sx, sum(ry2) AS sy,
               sum(CAST(rx2 AS HUGEINT) * rx2) AS sxx,
               sum(CAST(ry2 AS HUGEINT) * ry2) AS syy,
               sum(CAST(rx2 AS HUGEINT) * ry2) AS sxy
        FROM ranked)
      SELECT CAST(n_days AS BIGINT) AS n_days,
             CAST(floor(1.0e6 *
               CAST(CAST(n_days AS HUGEINT) * sxy -
                    CAST(sx AS HUGEINT) * sy AS DOUBLE) /
               sqrt(CAST((CAST(n_days AS HUGEINT) * sxx -
                      CAST(sx AS HUGEINT) * sx) *
                    (CAST(n_days AS HUGEINT) * syy -
                      CAST(sy AS HUGEINT) * sy) AS DOUBLE))) AS BIGINT)
               AS rho_e6
      FROM a""")),

    // HQ5 — conjunction-selectivity audit: the independence assumption
    // every cost-based optimizer makes for ANDed predicates —
    // sel(A∧B) ≈ sel(A)·sel(B) — measured against truth for three
    // predicate pairs on orders. The WHOLE query is integer arithmetic
    // (counts, then scaled integer division), so there is no rounding
    // surface at all; lift_e6 > 1e6 means positively-correlated
    // predicates (the case that blows up row estimates downstream of a
    // join). One scan, one aggregate row, a 3-row unpivot — the 100 TB
    // cost is the scan it would piggyback on anyway.
    Q("hq5_conjunction_selectivity", (s, dir) => {
      val c = t(s, dir, "orders")
        .select((col("o_orderpriority") === "1-URGENT").as("pa"),
          (col("o_orderstatus") === "F").as("pb"),
          (year(to_date(col("o_orderdate"))) === 1995).as("pc"),
          (col("o_totalprice") > 200000.0).as("pd"))
        .agg(count(lit(1)).as("n"),
          sum(when(col("pa"), 1L).otherwise(0L)).as("ca"),
          sum(when(col("pb"), 1L).otherwise(0L)).as("cb"),
          sum(when(col("pc"), 1L).otherwise(0L)).as("cc"),
          sum(when(col("pd"), 1L).otherwise(0L)).as("cd"),
          sum(when(col("pa") && col("pb"), 1L).otherwise(0L)).as("cab"),
          sum(when(col("pc") && col("pd"), 1L).otherwise(0L)).as("ccd"),
          sum(when(col("pa") && col("pc"), 1L).otherwise(0L)).as("cac"))
      c.selectExpr("n",
          "stack(3, 'urgent_and_f', ca, cb, cab, " +
            "'y1995_and_big', cc, cd, ccd, " +
            "'urgent_and_1995', ca, cc, cac) AS (pair, n_a, n_b, n_ab)")
        .selectExpr("pair", "n", "n_a", "n_b", "n_ab",
          "n_ab * 1000000L div n AS act_e6",
          "n_a * n_b * 1000000L div (n * n) AS est_e6",
          "n_a * n_b * 1000000L div (n * n) - " +
            "n_ab * 1000000L div n AS err_e6",
          "n_ab * n * 1000000L div (n_a * n_b) AS lift_e6")
        .orderBy("pair")
    }, Some("""
      WITH c AS (
        SELECT count(*) AS n,
          sum(CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END)
            AS ca,
          sum(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END) AS cb,
          sum(CASE WHEN year(CAST(o_orderdate AS DATE)) = 1995
              THEN 1 ELSE 0 END) AS cc,
          sum(CASE WHEN o_totalprice > 200000.0 THEN 1 ELSE 0 END) AS cd,
          sum(CASE WHEN o_orderpriority = '1-URGENT'
                    AND o_orderstatus = 'F' THEN 1 ELSE 0 END) AS cab,
          sum(CASE WHEN year(CAST(o_orderdate AS DATE)) = 1995
                    AND o_totalprice > 200000.0 THEN 1 ELSE 0 END) AS ccd,
          sum(CASE WHEN o_orderpriority = '1-URGENT'
                    AND year(CAST(o_orderdate AS DATE)) = 1995
              THEN 1 ELSE 0 END) AS cac
        FROM orders),
      u AS (
        SELECT 'urgent_and_f' AS pair, n, ca AS n_a, cb AS n_b, cab AS n_ab
        FROM c
        UNION ALL SELECT 'y1995_and_big', n, cc, cd, ccd FROM c
        UNION ALL SELECT 'urgent_and_1995', n, ca, cc, cac FROM c)
      SELECT pair, CAST(n AS BIGINT) AS n, CAST(n_a AS BIGINT) AS n_a,
             CAST(n_b AS BIGINT) AS n_b, CAST(n_ab AS BIGINT) AS n_ab,
             CAST(n_ab * 1000000 // n AS BIGINT) AS act_e6,
             CAST(n_a * n_b * 1000000 // (n * n) AS BIGINT) AS est_e6,
             CAST(n_a * n_b * 1000000 // (n * n) -
                  n_ab * 1000000 // n AS BIGINT) AS err_e6,
             CAST(n_ab * n * 1000000 // (n_a * n_b) AS BIGINT) AS lift_e6
      FROM u ORDER BY pair""")),

    // MB4 — sequential association rules over the event stream: for every
    // ORDERED pair of distinct event types (A, B), how many users did A
    // and then LATER did B (∃ a_ts < b_ts ⟺ min_ts(A) < max_ts(B) — two
    // per-user timestamps decide existence, no per-event pair scan), with
    // confidence over A-users and support over all users. The temporal
    // half that mb3's unordered co-occurrence can't see (view→purchase vs
    // purchase→view are different rules). Everything is exact: timestamp
    // comparisons at native µs precision (no epoch cast — the floor/round
    // drift trap never enters) and scaled-integer divisions. Scale shape:
    // one user-hash shuffle to the (user, type) grain, then a per-user
    // self-join with fan-out bounded by |type|² = 25 — never corpus².
    Q("mb4_sequence_rules", (s, dir) => {
      val ev = t(s, dir, "events")
      val ut = ev.groupBy("user_id", "event_type")
        .agg(min("ts").as("mn"), max("ts").as("mx"))
        .localCheckpoint() // feeds pairs + per-type counts
      val b = ut.select(col("user_id").as("ub"), col("event_type")
        .as("cons"), col("mx"))
      val pairs = ut.select(col("user_id"), col("event_type").as("ant"),
          col("mn"))
        .join(b, col("user_id") === col("ub"))
        .filter(col("ant") =!= col("cons"))
        .groupBy("ant", "cons")
        .agg(sum(when(col("mn") < col("mx"), 1L).otherwise(0L))
          .as("seq_users"), count(lit(1)).as("both_users"))
      val na = ut.groupBy(col("event_type").as("ant"))
        .agg(count(lit(1)).as("ant_users"))
      val tot = ev.agg(countDistinct("user_id").as("n_users"))
      pairs.join(broadcast(na), "ant").crossJoin(broadcast(tot))
        .selectExpr("ant", "cons", "ant_users", "both_users", "seq_users",
          "n_users",
          "seq_users * 1000000L div ant_users AS conf_e6",
          "seq_users * 1000000L div n_users AS support_e6")
        .orderBy("ant", "cons")
    }, Some("""
      WITH ut AS (
        SELECT user_id, event_type, min(ts) AS mn, max(ts) AS mx
        FROM events GROUP BY 1, 2),
      pairs AS (
        SELECT a.event_type AS ant, b.event_type AS cons,
               sum(CASE WHEN a.mn < b.mx THEN 1 ELSE 0 END) AS seq_users,
               count(*) AS both_users
        FROM ut a JOIN ut b ON a.user_id = b.user_id
        WHERE a.event_type <> b.event_type
        GROUP BY 1, 2),
      na AS (SELECT event_type AS ant, count(*) AS ant_users
             FROM ut GROUP BY 1),
      tot AS (SELECT count(DISTINCT user_id) AS n_users FROM events)
      SELECT p.ant, p.cons, CAST(na.ant_users AS BIGINT) AS ant_users,
             CAST(p.both_users AS BIGINT) AS both_users,
             CAST(p.seq_users AS BIGINT) AS seq_users,
             CAST(t.n_users AS BIGINT) AS n_users,
             CAST(p.seq_users * 1000000 // na.ant_users AS BIGINT)
               AS conf_e6,
             CAST(p.seq_users * 1000000 // t.n_users AS BIGINT)
               AS support_e6
      FROM pairs p JOIN na ON na.ant = p.ant, tot t
      ORDER BY p.ant, p.cons""")),

    // TX23 — Heaps-law vocabulary growth: distinct-term count vs token
    // count at a 4-point doc-id prefix grid (max_id ÷ {8,4,2,1}), plus the
    // fitted inter-checkpoint slope β = ln(V₂/V₁)/ln(N₂/N₁) — the curve
    // that says whether a corpus is still discovering vocabulary (β≈0.5)
    // or re-treading it (β→0), i.e. the marginal value of more data for
    // tokenizer/LM training. No global rank: each term carries only its
    // FIRST doc id (one groupBy), checkpoints come from a 1-row max
    // broadcast stacked to 4 rows, and the cumulative counts are bounded
    // grid-conditioned aggregates — prefix sums without a prefix scan.
    // Counts are exact BIGINTs; β is one identically-composed ln ratio.
    Q("tx23_heaps_law", (s, dir) => {
      val docs = t(s, dir, "documents")
      val grid = docs.agg(max("doc_id").as("m"))
        .selectExpr("stack(4, 1L, m div 8, 2L, m div 4, 3L, m div 2, " +
          "4L, m) AS (g, cp)")
      val fterm = docs
        .select(col("doc_id"), explode(split(col("text"), " ")).as("term"))
        .groupBy("term").agg(min("doc_id").as("fd"))
      val ds = docs
        .select(col("doc_id"), size(split(col("text"), " ")).as("ntok"))
        .crossJoin(broadcast(grid)).filter(col("doc_id") <= col("cp"))
        .groupBy("g", "cp")
        .agg(count(lit(1)).as("n_docs"),
          sum(col("ntok").cast("long")).as("n_tokens"))
      val vs = fterm.crossJoin(broadcast(grid))
        .filter(col("fd") <= col("cp"))
        .groupBy("g").agg(count(lit(1)).as("vocab"))
      ds.join(vs, "g")
        .select(col("g"), col("cp"), col("n_docs"), col("n_tokens"),
          col("vocab"),
          lag("vocab", 1).over(Window.orderBy("g")).as("pv"),
          lag("n_tokens", 1).over(Window.orderBy("g")).as("pt"))
        .selectExpr("g", "cp", "n_docs", "n_tokens", "vocab",
          "CASE WHEN pt IS NULL OR n_tokens = pt THEN 0L ELSE " +
            "CAST(floor(1.0e6 * (ln(CAST(vocab AS DOUBLE) / pv) / " +
            "ln(CAST(n_tokens AS DOUBLE) / pt))) AS BIGINT) END " +
            "AS slope_e6")
        .orderBy("g")
    }, Some("""
      WITH mx AS (SELECT max(doc_id) AS m FROM documents),
      grid AS (
        SELECT 1 AS g, m // 8 AS cp FROM mx
        UNION ALL SELECT 2, m // 4 FROM mx
        UNION ALL SELECT 3, m // 2 FROM mx
        UNION ALL SELECT 4, m FROM mx),
      fterm AS (
        SELECT term, min(doc_id) AS fd FROM (
          SELECT doc_id, unnest(string_split(text, ' ')) AS term
          FROM documents)
        GROUP BY term),
      ds AS (
        SELECT g.g, g.cp, count(*) AS n_docs, sum(d.ntok) AS n_tokens
        FROM grid g JOIN (
          SELECT doc_id, len(string_split(text, ' ')) AS ntok
          FROM documents) d ON d.doc_id <= g.cp
        GROUP BY 1, 2),
      vs AS (
        SELECT g.g, count(*) AS vocab
        FROM grid g JOIN fterm f ON f.fd <= g.cp
        GROUP BY 1),
      j AS (
        SELECT ds.g, ds.cp, ds.n_docs, ds.n_tokens, vs.vocab,
               lag(vs.vocab) OVER (ORDER BY ds.g) AS pv,
               lag(ds.n_tokens) OVER (ORDER BY ds.g) AS pt
        FROM ds JOIN vs ON vs.g = ds.g)
      SELECT CAST(g AS BIGINT) AS g, CAST(cp AS BIGINT) AS cp,
             CAST(n_docs AS BIGINT) AS n_docs,
             CAST(n_tokens AS BIGINT) AS n_tokens,
             CAST(vocab AS BIGINT) AS vocab,
             CASE WHEN pt IS NULL OR n_tokens = pt THEN CAST(0 AS BIGINT)
               ELSE CAST(floor(1.0e6 * (ln(CAST(vocab AS DOUBLE) / pv) /
                 ln(CAST(n_tokens AS DOUBLE) / pt))) AS BIGINT) END
               AS slope_e6
      FROM j ORDER BY g""")),

    // CS34 — conditional entropy H(next|cur) and mutual information of
    // consecutive event types: how much does knowing the CURRENT event
    // tell you about the next one — the process-predictability number
    // that ts4's raw transition matrix doesn't summarize (MI ≈ 0 ⟹ the
    // "journey" is memoryless noise; H(next|cur) ≪ H(next) ⟹ real
    // structure worth a sequence model). Transition counts are exact off
    // ts4's user-partitioned lag; both entropies fold their ≤|type|²
    // double terms in EXPLICIT key order on both engines (cs21's
    // ordered-sum discipline), so the floor(1e6·double) grades.
    Q("cs34_conditional_entropy", (s, dir) => {
      val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
      val tr = t(s, dir, "events")
        .withColumn("prev_type", lag("event_type", 1).over(w))
        .filter(col("prev_type").isNotNull)
        .groupBy(col("prev_type"), col("event_type").as("next_type"))
        .agg(count(lit(1)).as("n"))
        .localCheckpoint() // feeds margins + both entropies
      val nt = tr.agg(sum("n").as("tot"))
      val hn = tr.groupBy("next_type").agg(sum("n").as("nn"))
        .crossJoin(broadcast(nt))
        .select(col("next_type"), (negate(col("nn") / col("tot")
          .cast("double")) * log(col("nn") / col("tot").cast("double")))
          .as("c"))
        .agg(aggregate(transform(array_sort(
          collect_list(struct(col("next_type"), col("c")))),
          x => x.getField("c")), lit(0.0), (a, x) => a + x).as("h_next"))
      val hc = tr
        .join(broadcast(tr.groupBy(col("prev_type").as("pt2"))
          .agg(sum("n").as("nc"))), col("prev_type") === col("pt2"))
        .crossJoin(broadcast(nt))
        .select(col("prev_type"), col("next_type"),
          (negate(col("n") / col("tot").cast("double")) *
            log(col("n") / col("nc").cast("double"))).as("c"))
        .agg(aggregate(transform(array_sort(collect_list(
          struct(col("prev_type"), col("next_type"), col("c")))),
          x => x.getField("c")), lit(0.0), (a, x) => a + x).as("h_cond"))
      nt.crossJoin(broadcast(hn)).crossJoin(broadcast(hc))
        .selectExpr("tot AS n_transitions",
          "CAST(floor(1.0e6 * h_next) AS BIGINT) AS h_next_e6",
          "CAST(floor(1.0e6 * h_cond) AS BIGINT) AS h_cond_e6",
          "CAST(floor(1.0e6 * (h_next - h_cond)) AS BIGINT) AS mi_e6")
    }, Some("""
      WITH seq AS (
        SELECT user_id, event_type,
               lag(event_type) OVER (PARTITION BY user_id
                 ORDER BY ts, event_id) AS prev_type
        FROM events),
      tr AS (
        SELECT prev_type, event_type AS next_type, count(*) AS n
        FROM seq WHERE prev_type IS NOT NULL GROUP BY 1, 2),
      nt AS (SELECT sum(n) AS tot FROM tr),
      hn AS (
        SELECT list_sum(list(c ORDER BY next_type)) AS h_next FROM (
          SELECT m.next_type,
                 -(m.nn / CAST(t.tot AS DOUBLE)) *
                   ln(m.nn / CAST(t.tot AS DOUBLE)) AS c
          FROM (SELECT next_type, sum(n) AS nn FROM tr GROUP BY 1) m,
               nt t)),
      hc AS (
        SELECT list_sum(list(c ORDER BY prev_type, next_type)) AS h_cond
        FROM (
          SELECT tr.prev_type, tr.next_type,
                 -(tr.n / CAST(t.tot AS DOUBLE)) *
                   ln(tr.n / CAST(m.nc AS DOUBLE)) AS c
          FROM tr
          JOIN (SELECT prev_type AS pt2, sum(n) AS nc FROM tr GROUP BY 1) m
            ON m.pt2 = tr.prev_type, nt t))
      SELECT CAST(t.tot AS BIGINT) AS n_transitions,
             CAST(floor(1.0e6 * hn.h_next) AS BIGINT) AS h_next_e6,
             CAST(floor(1.0e6 * hc.h_cond) AS BIGINT) AS h_cond_e6,
             CAST(floor(1.0e6 * (hn.h_next - hc.h_cond)) AS BIGINT)
               AS mi_e6
      FROM nt t, hn, hc""")),

    // GR15 — Katz centrality on the doc graph, 3 damped rounds in EXACT
    // scaled-integer arithmetic: x₀ = 10⁶, x_{k+1} = 10⁶ + (Σ_{j∈N(i)}
    // x_k(j)) div 8 — the attenuation-weighted walk count that ranks
    // influence beyond gr8's single-seed personalized view, with the
    // float-iteration parity problem deleted outright (truncating integer
    // div is the SAME op on both engines, proven by the -7//2 probe).
    // Each round is one edges⤳scores hash join + a node-grain sum — the
    // canonical iterative-graph shuffle shape; top-10 exits via
    // TakeOrdered, never a full sort to the driver.
    Q("gr15_katz", (s, dir) => {
      val docs = t(s, dir, "documents")
      val edges = Components.docGraph(docs).localCheckpoint()
      val ids = docs.select(col("doc_id").as("node"))
        .localCheckpoint()
      var x = ids.select(col("node"), lit(1000000L).as("score"))
      for (_ <- 1 to 3) {
        // USING-join on renamed keys (hits' pattern) + per-round pin: no
        // raw df("col") refs survive a self-referencing lineage, so round
        // k+1 can't alias round k's attributes
        val c = edges
          .join(x.select(col("node").as("b"), col("score")), "b")
          .groupBy(col("a").as("node")).agg(sum("score").as("c"))
        x = ids.join(c, Seq("node"), "left")
          .selectExpr("node",
            "1000000L + coalesce(c, 0L) div 8L AS score")
          .localCheckpoint()
      }
      x.orderBy(col("score").desc, col("node")).limit(10)
    }, Some("""
      WITH cyc AS (SELECT doc_id AS u, (doc_id * 7) % 499 AS v FROM documents),
      divi AS (
        SELECT doc_id AS u, doc_id // 2 AS v FROM documents
        WHERE doc_id % 2 = 0 AND doc_id > 0
        UNION ALL
        SELECT doc_id, doc_id // 3 FROM documents
        WHERE doc_id % 3 = 0 AND doc_id > 0),
      raw AS (SELECT u, v FROM cyc UNION ALL SELECT u, v FROM divi),
      sym AS (SELECT DISTINCT u, v FROM
        (SELECT u, v FROM raw UNION ALL SELECT v, u FROM raw) WHERE u <> v),
      x0 AS (SELECT doc_id AS node, CAST(1000000 AS BIGINT) AS score
             FROM documents),
      c1 AS (SELECT s.u AS node, sum(x.score) AS c FROM sym s
             JOIN x0 x ON x.node = s.v GROUP BY 1),
      x1 AS (SELECT d.doc_id AS node,
               1000000 + (coalesce(c.c, 0) // 8) AS score
             FROM documents d LEFT JOIN c1 c ON c.node = d.doc_id),
      c2 AS (SELECT s.u AS node, sum(x.score) AS c FROM sym s
             JOIN x1 x ON x.node = s.v GROUP BY 1),
      x2 AS (SELECT d.doc_id AS node,
               1000000 + (coalesce(c.c, 0) // 8) AS score
             FROM documents d LEFT JOIN c2 c ON c.node = d.doc_id),
      c3 AS (SELECT s.u AS node, sum(x.score) AS c FROM sym s
             JOIN x2 x ON x.node = s.v GROUP BY 1),
      x3 AS (SELECT d.doc_id AS node,
               CAST(1000000 + (coalesce(c.c, 0) // 8) AS BIGINT) AS score
             FROM documents d LEFT JOIN c3 c ON c.node = d.doc_id)
      SELECT node, score FROM x3 ORDER BY score DESC, node LIMIT 10""")),

    // IX5 — proximity ranking: the docs where 'merge' and 'sort' appear
    // CLOSEST together, by exact minimum token distance — the phrase-
    // adjacent relevance signal between ix2's exact-phrase match and
    // ix3's bag-of-words BM25. The min cross-term gap is found WITHOUT
    // enumerating position pairs: in the doc-partitioned position-sorted
    // stream of just the two terms' hits, the minimum different-term gap
    // is always realized by ADJACENT hits — one lag window over an
    // already-tiny filtered frame, never tf_a × tf_b. All integers.
    Q("ix5_proximity_rank", (s, dir) => {
      val toks = t(s, dir, "documents")
        .select(col("doc_id"),
          posexplode(split(col("text"), " ")).as(Seq("pos", "term")))
        .filter(col("term").isin("merge", "sort"))
        .localCheckpoint() // feeds gaps + tf counts
      val w = Window.partitionBy("doc_id").orderBy("pos")
      val gaps = toks
        .withColumn("pterm", lag("term", 1).over(w))
        .withColumn("ppos", lag("pos", 1).over(w))
        .filter(col("pterm").isNotNull && col("pterm") =!= col("term"))
        .groupBy("doc_id")
        .agg(min(col("pos") - col("ppos")).cast("long").as("min_gap"))
      val tfs = toks.groupBy("doc_id").agg(
        sum(when(col("term") === "merge", 1L).otherwise(0L)).as("tf_a"),
        sum(when(col("term") === "sort", 1L).otherwise(0L)).as("tf_b"))
      gaps.join(tfs, "doc_id")
        .selectExpr("doc_id", "tf_a", "tf_b", "min_gap",
          "1000000L div min_gap AS prox_e6")
        .orderBy(col("min_gap"), col("doc_id")).limit(15)
    }, Some("""
      WITH toks AS (
        SELECT doc_id, i AS pos, w[i] AS term
        FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
             UNNEST(generate_series(1, len(w))) AS t(i)
        WHERE w[i] IN ('merge', 'sort')),
      lagged AS (
        SELECT doc_id, pos, term,
               lag(term) OVER (PARTITION BY doc_id ORDER BY pos) AS pterm,
               lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) AS ppos
        FROM toks),
      gaps AS (
        SELECT doc_id, CAST(min(pos - ppos) AS BIGINT) AS min_gap
        FROM lagged WHERE pterm IS NOT NULL AND pterm <> term
        GROUP BY doc_id),
      tfs AS (
        SELECT doc_id,
               sum(CASE WHEN term = 'merge' THEN 1 ELSE 0 END) AS tf_a,
               sum(CASE WHEN term = 'sort' THEN 1 ELSE 0 END) AS tf_b
        FROM toks GROUP BY doc_id)
      SELECT g.doc_id, CAST(t.tf_a AS BIGINT) AS tf_a,
             CAST(t.tf_b AS BIGINT) AS tf_b, g.min_gap,
             CAST(1000000 // g.min_gap AS BIGINT) AS prox_e6
      FROM gaps g JOIN tfs t ON t.doc_id = g.doc_id
      ORDER BY g.min_gap, g.doc_id LIMIT 15""")),

    // TX24 — term burstiness: the Fano factor (sample variance over mean,
    // zeros included) of per-doc counts for the 12 highest-df terms. The
    // number that separates a term that's COMMON (uniform, Fano ≈ 1·(1−p)
    // under Poisson) from one that's BURSTY (topical clumping, Fano ≫ 1)
    // — a direct dedup/contamination signal tf-idf alone can't see.
    // var/mean = (n·Σx² − s²)/((n−1)·s) keeps everything in EXACT BIGINT
    // arithmetic with the absent-doc zeros contributing only through n —
    // no dense doc×term grid is ever materialized. One (doc, term)
    // aggregate, one term aggregate, a 1-row count broadcast, top-12 via
    // TakeOrdered.
    Q("tx24_burstiness", (s, dir) => {
      val docs = t(s, dir, "documents")
      val nn = docs.agg(count(lit(1)).as("n"))
      val tf = docs
        .select(col("doc_id"), explode(split(col("text"), " ")).as("term"))
        .groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
      tf.groupBy("term")
        .agg(count(lit(1)).as("df"), sum("tf").as("s"),
          sum(col("tf") * col("tf")).as("ss"))
        .crossJoin(broadcast(nn))
        .orderBy(col("df").desc, col("term")).limit(12)
        .selectExpr("term", "df", "s AS total_tf",
          "1000000L * (n * ss - s * s) div ((n - 1L) * s) AS fano_e6",
          "s * 1000000L div n AS mean_tf_e6")
    }, Some("""
      WITH nn AS (SELECT count(*) AS n FROM documents),
      tf AS (
        SELECT doc_id, term, count(*) AS tf FROM (
          SELECT doc_id, unnest(string_split(text, ' ')) AS term
          FROM documents)
        GROUP BY 1, 2),
      st AS (
        SELECT term, count(*) AS df, sum(tf) AS s, sum(tf * tf) AS ss
        FROM tf GROUP BY 1),
      top AS (
        SELECT st.term, st.df, st.s, st.ss, nn.n
        FROM st, nn ORDER BY st.df DESC, st.term LIMIT 12)
      SELECT term, CAST(df AS BIGINT) AS df, CAST(s AS BIGINT) AS total_tf,
             CAST(1000000 * (n * ss - s * s) // ((n - 1) * s) AS BIGINT)
               AS fano_e6,
             CAST(s * 1000000 // n AS BIGINT) AS mean_tf_e6
      FROM top""")),

    // CS35 — McNemar's paired test on two document-quality rules (length
    // ≥ 150 chars vs contains-'the'): do the rules disagree SYMMETRICALLY,
    // or does one systematically pass docs the other rejects? The paired
    // design conditions on the discordant cells only — the comparison an
    // unpaired cs13-style z-test gets wrong on the same corpus. The
    // continuity-corrected statistic (|b−c|−1)²/(b+c) is a pure
    // scaled-integer division off four exact CASE-sum cells — one
    // aggregate row, no floats anywhere.
    Q("cs35_mcnemar", (s, dir) =>
      t(s, dir, "documents")
        .select((col("n_chars") >= 150).as("ra"),
          array_contains(split(col("text"), " "), "the").as("rb"))
        .agg(
          sum(when(col("ra") && col("rb"), 1L).otherwise(0L)).as("n11"),
          sum(when(col("ra") && !col("rb"), 1L).otherwise(0L)).as("n10"),
          sum(when(!col("ra") && col("rb"), 1L).otherwise(0L)).as("n01"),
          sum(when(!col("ra") && !col("rb"), 1L).otherwise(0L)).as("n00"))
        .selectExpr("n11", "n10", "n01", "n00",
          "(n11 + n00) * 1000000L div (n11 + n10 + n01 + n00) " +
            "AS agree_e6",
          "CASE WHEN n10 + n01 = 0 THEN 0L ELSE " +
            "(abs(n10 - n01) - 1L) * (abs(n10 - n01) - 1L) * 1000000L " +
            "div (n10 + n01) END AS chi2_e6"),
      Some("""
      WITH c AS (
        SELECT sum(CASE WHEN ra AND rb THEN 1 ELSE 0 END) AS n11,
               sum(CASE WHEN ra AND NOT rb THEN 1 ELSE 0 END) AS n10,
               sum(CASE WHEN NOT ra AND rb THEN 1 ELSE 0 END) AS n01,
               sum(CASE WHEN NOT ra AND NOT rb THEN 1 ELSE 0 END) AS n00
        FROM (
          SELECT n_chars >= 150 AS ra,
                 list_contains(string_split(text, ' '), 'the') AS rb
          FROM documents))
      SELECT CAST(n11 AS BIGINT) AS n11, CAST(n10 AS BIGINT) AS n10,
             CAST(n01 AS BIGINT) AS n01, CAST(n00 AS BIGINT) AS n00,
             CAST((n11 + n00) * 1000000 // (n11 + n10 + n01 + n00)
               AS BIGINT) AS agree_e6,
             CASE WHEN n10 + n01 = 0 THEN CAST(0 AS BIGINT) ELSE
               CAST((abs(n10 - n01) - 1) * (abs(n10 - n01) - 1) * 1000000
                 // (n10 + n01) AS BIGINT) END AS chi2_e6
      FROM c""")),

    // TS15 — AR(1) persistence of daily revenue: OLS of y_d on y_{d−1}
    // over CONSECUTIVE day pairs only (gap days break the lag chain
    // rather than silently pairing across them), plus the mean-reversion
    // half-life −ln2/ln(φ) — the "how long does a shock last" number
    // behind ts6/ts7's smoothing constants. Power sums ride decimal/
    // HUGEINT exactly (cs30's discipline); φ is ONE identically-composed
    // double ratio and the half-life composes ln on it. Day-grain
    // bounded: the lag window and sums run on ≤ a few thousand rows.
    Q("ts15_ar1_halflife", (s, dir) => {
      val daily = t(s, dir, "orders")
        .groupBy(datediff(to_date(col("o_orderdate")), lit("1992-01-01"))
          .cast("long").as("d"))
        .agg(sum(floor(col("o_totalprice") * 100).cast("long")).as("y"))
      val w = Window.orderBy("d")
      val pairs = daily
        .select(col("d"), col("y"), lag("d", 1).over(w).as("pd"),
          lag("y", 1).over(w).as("py"))
        .filter(col("pd").isNotNull && col("d") === col("pd") + 1)
      pairs.agg(count(lit(1)).as("n"), sum("py").as("sx"),
          sum("y").as("sy"),
          sum(col("py").cast("decimal(38,0)") * col("py")).as("sxx"),
          sum(col("py").cast("decimal(38,0)") * col("y")).as("sxy"))
        .selectExpr("n",
          "(CAST(n * sxy - CAST(sx AS DECIMAL(38,0)) * sy AS DOUBLE) / " +
            "CAST(n * sxx - CAST(sx AS DECIMAL(38,0)) * sx AS DOUBLE)) " +
            "AS phi")
        .selectExpr("n AS n_pairs",
          "CAST(floor(1.0e6 * phi) AS BIGINT) AS phi_e6",
          "CASE WHEN phi > 0.0 AND phi < 1.0 THEN " +
            "CAST(floor(1.0e6 * (-ln(2.0) / ln(phi))) AS BIGINT) " +
            "ELSE 0L END AS halflife_e6")
    }, Some("""
      WITH daily AS (
        SELECT CAST(datediff('day', DATE '1992-01-01',
                 CAST(o_orderdate AS DATE)) AS BIGINT) AS d,
               sum(CAST(floor(o_totalprice * 100) AS BIGINT)) AS y
        FROM orders GROUP BY 1),
      lagged AS (
        SELECT d, y, lag(d) OVER (ORDER BY d) AS pd,
               lag(y) OVER (ORDER BY d) AS py
        FROM daily),
      pairs AS (
        SELECT d, y, py FROM lagged
        WHERE pd IS NOT NULL AND d = pd + 1),
      su AS (
        SELECT count(*) AS n, sum(py) AS sx, sum(y) AS sy,
               sum(CAST(py AS HUGEINT) * py) AS sxx,
               sum(CAST(py AS HUGEINT) * y) AS sxy
        FROM pairs),
      ph AS (
        SELECT n,
               (CAST(n * sxy - CAST(sx AS HUGEINT) * sy AS DOUBLE) /
                CAST(n * sxx - CAST(sx AS HUGEINT) * sx AS DOUBLE)) AS phi
        FROM su)
      SELECT CAST(n AS BIGINT) AS n_pairs,
             CAST(floor(1.0e6 * phi) AS BIGINT) AS phi_e6,
             CASE WHEN phi > 0.0 AND phi < 1.0 THEN
               CAST(floor(1.0e6 * (-ln(2.0) / ln(phi))) AS BIGINT)
             ELSE CAST(0 AS BIGINT) END AS halflife_e6
      FROM ph""")),

    // SA15 — percentile bootstrap CI for mean doc length, closing the
    // loop sa10 opened: the same deterministic md5-Poisson replicate
    // weights, but folded to a CONFIDENCE INTERVAL — the (2nd, 31st)
    // order statistics of the 32 replicate means (a ~93.75% interval) —
    // the number a data-quality dashboard actually wants. Replicate means
    // are EXACT scaled-integer divisions (no float mean drift), the rank
    // pick is a 32-row window, and the whole thing stays one corpus scan
    // × 32 map-side replicate weights — no resampled copies of the data
    // ever exist.
    Q("sa15_bootstrap_ci", (s, dir) => {
      import s.implicits._
      val bs = (1 to 32).map(b => Tuple1(b)).toDF("b")
      val f = graft.operators.Sampling.hashFraction(
        concat(col("doc_id").cast("string"), lit(":"),
          col("b").cast("string")))
      val reps = t(s, dir, "documents").select(col("doc_id"), col("n_chars"))
        .crossJoin(broadcast(bs))
        .withColumn("w",
          when(f < 0.36788, 0).when(f < 0.73576, 1).when(f < 0.91970, 2)
            .when(f < 0.98101, 3).when(f < 0.99634, 4).when(f < 0.99941, 5)
            .otherwise(6))
        .groupBy("b")
        .agg(sum(col("w") * col("n_chars")).as("swx"), sum("w").as("sw"))
        .selectExpr("b", "swx * 1000000L div sw AS mean_e6")
        .withColumn("rn",
          row_number().over(Window.orderBy("mean_e6", "b")))
      val pt = t(s, dir, "documents")
        .agg(count(lit(1)).as("n_docs"), sum("n_chars").as("sx"))
        .selectExpr("n_docs", "sx * 1000000L div n_docs AS point_e6")
      pt.crossJoin(broadcast(
          reps.filter(col("rn") === 2).select(col("mean_e6").as("lo_e6"))))
        .crossJoin(broadcast(
          reps.filter(col("rn") === 31).select(col("mean_e6").as("hi_e6"))))
        .selectExpr("n_docs", "point_e6", "lo_e6", "hi_e6",
          "hi_e6 - lo_e6 AS width_e6")
    }, Some("""
      WITH bs AS (SELECT CAST(unnest(generate_series(1, 32)) AS INTEGER) AS b),
      f AS (
        SELECT d.doc_id, d.n_chars, bs.b,
               list_sum(list_transform(generate_series(1, 8), i ->
                 (strpos('0123456789abcdef',
                         substr(md5(CAST(d.doc_id AS VARCHAR) || ':' ||
                                    CAST(bs.b AS VARCHAR)), i, 1)) - 1)
                 * (16.0 ** (8 - i)))) / 4294967296.0 AS frac
        FROM documents d, bs),
      w AS (
        SELECT doc_id, n_chars, b,
               CASE WHEN frac < 0.36788 THEN 0 WHEN frac < 0.73576 THEN 1
                    WHEN frac < 0.91970 THEN 2 WHEN frac < 0.98101 THEN 3
                    WHEN frac < 0.99634 THEN 4 WHEN frac < 0.99941 THEN 5
                    ELSE 6 END AS w
        FROM f),
      reps AS (
        SELECT b, sum(w * n_chars) * 1000000 // sum(w) AS mean_e6
        FROM w GROUP BY b),
      rk AS (
        SELECT mean_e6, row_number() OVER (ORDER BY mean_e6, b) AS rn
        FROM reps),
      pt AS (
        SELECT count(*) AS n_docs,
               sum(n_chars) * 1000000 // count(*) AS point_e6
        FROM documents)
      SELECT CAST(n_docs AS BIGINT) AS n_docs,
             CAST(point_e6 AS BIGINT) AS point_e6,
             CAST((SELECT mean_e6 FROM rk WHERE rn = 2) AS BIGINT) AS lo_e6,
             CAST((SELECT mean_e6 FROM rk WHERE rn = 31) AS BIGINT)
               AS hi_e6,
             CAST((SELECT mean_e6 FROM rk WHERE rn = 31) -
                  (SELECT mean_e6 FROM rk WHERE rn = 2) AS BIGINT)
               AS width_e6
      FROM pt""")),

    // CS36 — minimum detectable effect per source: at the observed
    // English-share p̂ and source size n, the smallest true rate shift a
    // two-proportion test at α=0.05 / power=0.8 could actually detect
    // (MDE = (z₀.₉₇₅+z₀.₈)·√(2p̂(1−p̂)/n)) — the pre-experiment honesty
    // check that says whether cs13's z-test over this fixture is even
    // capable of seeing the drift it's asked about. p̂ is an exact scaled
    // division; the MDE composes one sqrt on identically-written doubles.
    // One source-grain aggregate.
    Q("cs36_power_mde", (s, dir) =>
      t(s, dir, "documents")
        .groupBy("source")
        .agg(count(lit(1)).as("n"),
          sum(when(col("lang") === "en", 1L).otherwise(0L)).as("k"))
        .selectExpr("source", "n", "k", "k * 1000000L div n AS p_e6",
          "CAST(floor(1.0e6 * (2.801585 * " +
            "sqrt(2.0 * (CAST(k AS DOUBLE) / n) * " +
            "(1.0 - CAST(k AS DOUBLE) / n) / n))) AS BIGINT) AS mde_e6")
        .orderBy("source"),
      Some("""
      SELECT source, CAST(count(*) AS BIGINT) AS n,
             CAST(sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS BIGINT)
               AS k,
             CAST(sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) * 1000000
               // count(*) AS BIGINT) AS p_e6,
             CAST(floor(1.0e6 * (2.801585 *
               sqrt(2.0 * (CAST(sum(CASE WHEN lang = 'en' THEN 1 ELSE 0
                 END) AS DOUBLE) / count(*)) *
               (1.0 - CAST(sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END)
                 AS DOUBLE) / count(*)) / count(*)))) AS BIGINT) AS mde_e6
      FROM documents GROUP BY source ORDER BY source""")),

    // K25 — clustering-depth audit: at an 8-point probe grid over the id
    // domain, how many files' [min,max] zone-map ranges COVER each probe
    // — read amplification per point lookup — for the same corpus laid
    // out two ways: hash-shuffled ingestion chunks (every file spans the
    // whole domain → depth ≈ file count) vs id-sorted chunks (depth 1).
    // The quantified before/after argument for the zo1/zo2 re-layout
    // step, complementing k19's per-predicate skip rate. At 100 TB this
    // is zone-map METADATA work: two 16-row file-stat aggregates joined
    // to a broadcast probe grid.
    Q("k25_overlap_depth", (s, dir) => {
      val ids = t(s, dir, "documents").select(col("doc_id"))
        .localCheckpoint() // feeds both layouts + the grid
      val mx = ids.agg(max("doc_id").as("m"))
      val fb = graft.operators.Sampling.hashFraction(
        col("doc_id").cast("string"))
      val before = ids.withColumn("file", floor(fb * 16).cast("long"))
        .groupBy("file").agg(min("doc_id").as("mn"), max("doc_id").as("mx"))
      val after = ids.crossJoin(broadcast(mx))
        .selectExpr("doc_id", "doc_id * 16L div (m + 1L) AS file")
        .groupBy("file").agg(min("doc_id").as("mn"), max("doc_id").as("mx"))
      val grid = mx.selectExpr(
        "explode(sequence(1L, 8L)) AS g", "m")
        .selectExpr("g", "m * g div 8L AS probe")
      val db = before.crossJoin(broadcast(grid))
        .filter(col("mn") <= col("probe") && col("probe") <= col("mx"))
        .groupBy("g", "probe").agg(count(lit(1)).as("depth_before"))
      val da = after.crossJoin(broadcast(grid))
        .filter(col("mn") <= col("probe") && col("probe") <= col("mx"))
        .groupBy(col("g").as("g2"))
        .agg(count(lit(1)).as("depth_after"))
      db.join(da, col("g") === col("g2"))
        .select(col("g"), col("probe"), col("depth_before"),
          col("depth_after"))
        .orderBy("g")
    }, Some("""
      WITH ids AS (SELECT doc_id FROM documents),
      mx AS (SELECT max(doc_id) AS m FROM ids),
      fb AS (
        SELECT doc_id,
               CAST(floor(list_sum(list_transform(generate_series(1, 8),
                 i -> (strpos('0123456789abcdef',
                              substr(md5(CAST(doc_id AS VARCHAR)), i, 1))
                       - 1) * (16.0 ** (8 - i)))) / 4294967296.0 * 16)
                 AS BIGINT) AS file
        FROM ids),
      before_f AS (
        SELECT file, min(doc_id) AS mn, max(doc_id) AS mx
        FROM fb GROUP BY file),
      after_f AS (
        SELECT i.doc_id * 16 // (x.m + 1) AS file,
               min(i.doc_id) AS mn, max(i.doc_id) AS mx
        FROM ids i, mx x GROUP BY 1),
      grid AS (
        SELECT CAST(g AS BIGINT) AS g, x.m * g // 8 AS probe
        FROM UNNEST(generate_series(1, 8)) AS t(g), mx x),
      db AS (
        SELECT g.g, g.probe, count(*) AS depth_before
        FROM grid g JOIN before_f b
          ON b.mn <= g.probe AND g.probe <= b.mx
        GROUP BY 1, 2),
      da AS (
        SELECT g.g, count(*) AS depth_after
        FROM grid g JOIN after_f a
          ON a.mn <= g.probe AND g.probe <= a.mx
        GROUP BY 1)
      SELECT db.g, db.probe, CAST(db.depth_before AS BIGINT)
               AS depth_before,
             CAST(da.depth_after AS BIGINT) AS depth_after
      FROM db JOIN da ON da.g = db.g
      ORDER BY db.g""")),

    // CS37 — activity-uniformity audit: chi-square of the event stream
    // against uniform across day-of-week (k=7), hour-of-day (k=24), and
    // the full dow×hour grid (k=168), plus the deterministic peak cell —
    // the load-shape diagnostic behind partition-by-arrival-time
    // decisions (a flat grid means time-bucketed files balance; a peaked
    // one means hot-bucket salting). Σ(kO−N)² is an EXACT BIGINT sum
    // (absent cells contribute N² via the missing-cell count, never a
    // dense grid), and each χ² divides it by kN once, as one identically
    // composed double. Epoch math rides floor()'d seconds — the
    // cast-vs-round drift trap from w11 never enters.
    Q("cs37_activity_uniformity", (s, dir) => {
      val cells = t(s, dir, "events")
        // CAST(ts AS LONG) FLOORS epoch seconds (mirrors the oracle's
        // explicit floor(epoch(ts)) — the w11 drift lesson)
        .selectExpr("(CAST(ts AS LONG) div 86400L + 4L) % 7L AS dow",
          "(CAST(ts AS LONG) div 3600L) % 24L AS hour")
        .groupBy("dow", "hour").agg(count(lit(1)).as("cnt"))
        .localCheckpoint() // feeds 3 chi2s + both peaks
      val nt = cells.agg(sum("cnt").as("n"))
      def chi2(df: org.apache.spark.sql.DataFrame, k: Int) =
        df.crossJoin(broadcast(nt))
          .agg(first("n").as("n"), count(lit(1)).as("obs"),
            sum((lit(k) * col("cnt") - col("n")) *
              (lit(k) * col("cnt") - col("n"))).as("so"))
          .selectExpr("n", s"so + ($k - obs) * n * n AS ss")
          .selectExpr("n",
            s"CAST(floor(1.0e6 * CAST(ss AS DOUBLE) / ($k * n)) " +
              "AS BIGINT) AS chi2")
      val dowc = cells.groupBy("dow").agg(sum("cnt").as("cnt"))
      val hourc = cells.groupBy("hour").agg(sum("cnt").as("cnt"))
      val peakD = dowc.orderBy(col("cnt").desc, col("dow")).limit(1)
        .select(col("dow").as("peak_dow"))
      val peakH = hourc.orderBy(col("cnt").desc, col("hour")).limit(1)
        .select(col("hour").as("peak_hour"))
      chi2(dowc, 7).select(col("n").as("n_events"),
          col("chi2").as("chi2_dow_e6"))
        .crossJoin(broadcast(chi2(hourc, 24)
          .select(col("chi2").as("chi2_hour_e6"))))
        .crossJoin(broadcast(chi2(cells, 168)
          .select(col("chi2").as("chi2_cell_e6"))))
        .crossJoin(broadcast(peakD)).crossJoin(broadcast(peakH))
    }, Some("""
      WITH ev AS (
        SELECT ((CAST(floor(epoch(ts)) AS BIGINT) // 86400 + 4) % 7)
                 AS dow,
               ((CAST(floor(epoch(ts)) AS BIGINT) // 3600) % 24) AS hour
        FROM events),
      cells AS (SELECT dow, hour, count(*) AS cnt FROM ev GROUP BY 1, 2),
      nt AS (SELECT sum(cnt) AS n FROM cells),
      dowc AS (SELECT dow, sum(cnt) AS cnt FROM cells GROUP BY 1),
      hourc AS (SELECT hour, sum(cnt) AS cnt FROM cells GROUP BY 1),
      cd AS (
        SELECT t.n, CAST(floor(1.0e6 * CAST(
                 sum((7 * c.cnt - t.n) * (7 * c.cnt - t.n)) +
                 (7 - count(*)) * t.n * t.n AS DOUBLE) / (7 * t.n))
               AS BIGINT) AS chi2_dow_e6
        FROM dowc c, nt t GROUP BY t.n),
      ch AS (
        SELECT CAST(floor(1.0e6 * CAST(
                 sum((24 * c.cnt - t.n) * (24 * c.cnt - t.n)) +
                 (24 - count(*)) * t.n * t.n AS DOUBLE) / (24 * t.n))
               AS BIGINT) AS chi2_hour_e6
        FROM hourc c, nt t GROUP BY t.n),
      cc AS (
        SELECT CAST(floor(1.0e6 * CAST(
                 sum((168 * c.cnt - t.n) * (168 * c.cnt - t.n)) +
                 (168 - count(*)) * t.n * t.n AS DOUBLE) / (168 * t.n))
               AS BIGINT) AS chi2_cell_e6
        FROM cells c, nt t GROUP BY t.n),
      pd AS (SELECT dow AS peak_dow FROM dowc
             ORDER BY cnt DESC, dow LIMIT 1),
      ph AS (SELECT hour AS peak_hour FROM hourc
             ORDER BY cnt DESC, hour LIMIT 1)
      SELECT CAST(cd.n AS BIGINT) AS n_events, cd.chi2_dow_e6,
             ch.chi2_hour_e6, cc.chi2_cell_e6,
             CAST(pd.peak_dow AS BIGINT) AS peak_dow,
             CAST(ph.peak_hour AS BIGINT) AS peak_hour
      FROM cd, ch, cc, pd, ph""")),

    // DD25 — duplicate token-mass inflation per source: with dd1's exact
    // text groups (md5 key, min-doc-id keeper), how many DOCS and how
    // much TOKEN mass per source is literal re-crawl waste — the
    // "training tokens you'd pay for twice" number that turns dd1's
    // group list into the budget argument for running dedup at all.
    // One tkey-grain keeper aggregate joined back on the dedup key (the
    // canonical dedup shuffle), then a source-grain rollup; every output
    // is an exact BIGINT or one scaled division.
    Q("dd25_dup_inflation", (s, dir) => {
      val d = t(s, dir, "documents")
        .select(col("source"), col("doc_id"), md5(col("text")).as("tkey"),
          size(split(col("text"), " ")).cast("long").as("ntok"))
      val firsts = d.groupBy("tkey").agg(min("doc_id").as("fid"))
      d.join(firsts, "tkey")
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
          sum("ntok").as("total_tokens"),
          sum(when(col("doc_id") =!= col("fid"), 1L).otherwise(0L))
            .as("dup_docs"),
          sum(when(col("doc_id") =!= col("fid"), col("ntok"))
            .otherwise(0L)).as("wasted_tokens"))
        .selectExpr("source", "n_docs", "dup_docs", "total_tokens",
          "wasted_tokens",
          "wasted_tokens * 1000000L div total_tokens AS waste_e6")
        .orderBy("source")
    }, Some("""
      WITH d AS (
        SELECT source, doc_id, md5(text) AS tkey,
               CAST(len(string_split(text, ' ')) AS BIGINT) AS ntok
        FROM documents),
      firsts AS (SELECT tkey, min(doc_id) AS fid FROM d GROUP BY 1)
      SELECT d.source, CAST(count(*) AS BIGINT) AS n_docs,
             CAST(sum(CASE WHEN d.doc_id <> f.fid THEN 1 ELSE 0 END)
               AS BIGINT) AS dup_docs,
             CAST(sum(d.ntok) AS BIGINT) AS total_tokens,
             CAST(sum(CASE WHEN d.doc_id <> f.fid THEN d.ntok ELSE 0 END)
               AS BIGINT) AS wasted_tokens,
             CAST(sum(CASE WHEN d.doc_id <> f.fid THEN d.ntok ELSE 0 END)
               * 1000000 // sum(d.ntok) AS BIGINT) AS waste_e6
      FROM d JOIN firsts f ON f.tkey = d.tkey
      GROUP BY d.source ORDER BY d.source""")),

    // TX25 — token-efficiency profile per source: chars per whitespace
    // token, chars per BPE-ish token, and fertility (BPE-ish per
    // whitespace token) — the compression-ratio triple that prices a
    // corpus in tokenizer budget terms BEFORE training a tokenizer on it
    // (tok4 answers the same question after; divergence between the two
    // flags sources the trained vocab underserves). Three exact count
    // sums per source and three scaled divisions — one scan, one
    // source-grain aggregate.
    Q("tx25_token_efficiency", (s, dir) =>
      t(s, dir, "documents")
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
          sum("n_chars").as("chars"),
          sum(graft.operators.TextAnalysis.tokenCount(col("text")))
            .as("ws_tokens"),
          sum(graft.operators.TextAnalysis.bpeishTokenCount(col("text")))
            .as("bpeish_tokens"))
        .selectExpr("source", "n_docs", "chars", "ws_tokens",
          "bpeish_tokens",
          "chars * 1000000L div ws_tokens AS chars_per_ws_e6",
          "chars * 1000000L div bpeish_tokens AS chars_per_bpeish_e6",
          "bpeish_tokens * 1000000L div ws_tokens AS fertility_e6")
        .orderBy("source"),
      Some("""
      SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
             CAST(sum(n_chars) AS BIGINT) AS chars,
             CAST(sum(len(string_split(text, ' '))) AS BIGINT)
               AS ws_tokens,
             CAST(sum(len(regexp_extract_all(text,
               '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\s]'))) AS BIGINT)
               AS bpeish_tokens,
             CAST(sum(n_chars) * 1000000
               // sum(len(string_split(text, ' '))) AS BIGINT)
               AS chars_per_ws_e6,
             CAST(sum(n_chars) * 1000000
               // sum(len(regexp_extract_all(text,
                    '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\s]'))) AS BIGINT)
               AS chars_per_bpeish_e6,
             CAST(sum(len(regexp_extract_all(text,
               '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\s]'))) * 1000000
               // sum(len(string_split(text, ' '))) AS BIGINT)
               AS fertility_e6
      FROM documents GROUP BY source ORDER BY source""")),

    // CS38 — Wald–Wolfowitz runs test: is the above/below-median
    // sequence of daily revenue RANDOM, or does it trend/oscillate
    // (too few runs = persistence, too many = alternation)? The
    // distribution-free cousin of ts12's Durbin–Watson that needs no
    // linearity assumption. The median is the DETERMINISTIC lower order
    // statistic ((n+1)/2 by (value, day) rank — no engine median()
    // variance), equal-to-median days drop per the classical recipe,
    // runs count via one lag over the bounded day table, and the z-score
    // composes exact integer moments into one sqrt.
    Q("cs38_runs_test", (s, dir) => {
      val daily = t(s, dir, "orders")
        .groupBy(datediff(to_date(col("o_orderdate")), lit("1992-01-01"))
          .cast("long").as("d"))
        .agg(sum(floor(col("o_totalprice") * 100).cast("long")).as("y"))
        .localCheckpoint() // feeds median rank + runs scan
      val med = daily
        .select(col("y"), row_number()
          .over(Window.orderBy("y", "d")).as("rn"))
        .crossJoin(broadcast(daily.agg(count(lit(1)).as("n"))))
        // integer div — Column./ on longs is DOUBLE division and the
        // half-rank would never match
        .filter(col("rn") === expr("(n + 1L) div 2L"))
        .select(col("y").as("med"))
      val signs = daily.crossJoin(broadcast(med))
        .filter(col("y") =!= col("med"))
        .select(col("d"), (col("y") > col("med")).as("up"))
      val runs = signs
        .select(col("up"), lag("up", 1).over(Window.orderBy("d"))
          .as("pup"))
        .agg(
          sum(when(col("up"), 1L).otherwise(0L)).as("n1"),
          sum(when(!col("up"), 1L).otherwise(0L)).as("n2"),
          (sum(when(col("pup").isNull ||
            col("pup") =!= col("up"), 1L).otherwise(0L))).as("r"))
      // e0 literals force DOUBLE arithmetic — bare `2.0` parses as
      // DECIMAL in both engines and their decimal-division scale rules
      // disagree in the last ulp
      runs.selectExpr("n1", "n2", "r AS runs",
          "(1.0e0 + 2.0e0 * n1 * n2 / (n1 + n2)) AS mu",
          "(2.0e0 * n1 * n2 * (2.0e0 * n1 * n2 - n1 - n2) / " +
            "((n1 + n2) * (n1 + n2) * (n1 + n2 - 1.0e0))) AS v2")
        .selectExpr("n1", "n2", "runs",
          "CAST(floor(1.0e6 * mu) AS BIGINT) AS mu_e6",
          "CAST(floor(1.0e6 * ((runs - mu) / sqrt(v2))) AS BIGINT) " +
            "AS z_e6")
    }, Some("""
      WITH daily AS (
        SELECT CAST(datediff('day', DATE '1992-01-01',
                 CAST(o_orderdate AS DATE)) AS BIGINT) AS d,
               sum(CAST(floor(o_totalprice * 100) AS BIGINT)) AS y
        FROM orders GROUP BY 1),
      nn AS (SELECT count(*) AS n FROM daily),
      med AS (
        SELECT y AS med FROM (
          SELECT y, row_number() OVER (ORDER BY y, d) AS rn FROM daily),
          nn
        WHERE rn = (n + 1) // 2),
      signs AS (
        SELECT d, y > m.med AS up FROM daily, med m WHERE y <> m.med),
      lagged AS (
        SELECT up, lag(up) OVER (ORDER BY d) AS pup FROM signs),
      runs AS (
        SELECT sum(CASE WHEN up THEN 1 ELSE 0 END) AS n1,
               sum(CASE WHEN NOT up THEN 1 ELSE 0 END) AS n2,
               sum(CASE WHEN pup IS NULL OR pup <> up THEN 1 ELSE 0 END)
                 AS r
        FROM lagged),
      st AS (
        SELECT n1, n2, r,
               (1.0e0 + 2.0e0 * n1 * n2 / (n1 + n2)) AS mu,
               (2.0e0 * n1 * n2 * (2.0e0 * n1 * n2 - n1 - n2) /
                ((n1 + n2) * (n1 + n2) * (n1 + n2 - 1.0e0))) AS v2
        FROM runs)
      SELECT CAST(n1 AS BIGINT) AS n1, CAST(n2 AS BIGINT) AS n2,
             CAST(r AS BIGINT) AS runs,
             CAST(floor(1.0e6 * mu) AS BIGINT) AS mu_e6,
             CAST(floor(1.0e6 * ((r - mu) / sqrt(v2))) AS BIGINT) AS z_e6
      FROM st""")),

    // W20 — running-record days (the 1-D skyline / Pareto frontier of
    // (date asc, price desc)): the days whose top order price beats every
    // EARLIER day's top — record detection as one day-grain cummax
    // window, with the record-holding order identified deterministically
    // (min orderkey among that day's max-price orders). The argmax join
    // keys on (day, cents) after a day-grain aggregate, so the orders
    // scan shuffles once by day and the unbounded-preceding window runs
    // on the bounded day table only. All integer cents.
    Q("w20_record_days", (s, dir) => {
      val o = t(s, dir, "orders")
        .select(datediff(to_date(col("o_orderdate")), lit("1992-01-01"))
          .cast("long").as("d"), col("o_orderkey"),
          floor(col("o_totalprice") * 100).cast("long").as("cents"))
        .localCheckpoint() // feeds day-max + argmax join
      val daily = o.groupBy("d").agg(max("cents").as("maxc"))
      // renamed join keys (hits' discipline): daily derives from o, so
      // raw o("d")/daily("d") references are ambiguous self-join attrs
      val argmax = o.join(
          daily.select(col("d").as("dd"), col("maxc").as("mc")),
          col("d") === col("dd") && col("cents") === col("mc"))
        .groupBy("dd")
        .agg(min("o_orderkey").as("record_orderkey"))
      val w = Window.orderBy("d")
        .rowsBetween(Window.unboundedPreceding, -1)
      daily.withColumn("prev_record", max("maxc").over(w))
        .filter(col("prev_record").isNull ||
          col("maxc") > col("prev_record"))
        .join(argmax, col("d") === col("dd"))
        .selectExpr("d", "record_orderkey", "maxc AS record_cents",
          "coalesce(prev_record, 0L) AS prev_record_cents")
        .orderBy("d")
    }, Some("""
      WITH o AS (
        SELECT CAST(datediff('day', DATE '1992-01-01',
                 CAST(o_orderdate AS DATE)) AS BIGINT) AS d,
               o_orderkey,
               CAST(floor(o_totalprice * 100) AS BIGINT) AS cents
        FROM orders),
      daily AS (SELECT d, max(cents) AS maxc FROM o GROUP BY 1),
      argmax AS (
        SELECT da.d AS dd, min(o.o_orderkey) AS record_orderkey
        FROM o JOIN daily da ON o.d = da.d AND o.cents = da.maxc
        GROUP BY 1),
      rec AS (
        SELECT d, maxc,
               max(maxc) OVER (ORDER BY d ROWS BETWEEN UNBOUNDED
                 PRECEDING AND 1 PRECEDING) AS prev_record
        FROM daily)
      SELECT r.d, a.record_orderkey, r.maxc AS record_cents,
             CAST(coalesce(r.prev_record, 0) AS BIGINT)
               AS prev_record_cents
      FROM rec r JOIN argmax a ON a.dd = r.d
      WHERE r.prev_record IS NULL OR r.maxc > r.prev_record
      ORDER BY r.d""")),

    // GR16 — component-size spectrum of cc1's chain+bridge graph:
    // power-of-two size histogram (bucket = ⌊log₂ size⌋ computed as
    // binary-string length, NEVER float log2 — ln(8)/ln(2) floors
    // differently across engines), plus singleton count and the giant-
    // component mass fraction on every row. The shape summary that says
    // whether a dedup-cluster graph is a dust field (all tiny) or has a
    // pathological giant component worth breaking up. One CC run + a
    // component-grain count + a ≤log₂(n)-row histogram.
    Q("gr16_component_histogram", (s, dir) => {
      val ids = t(s, dir, "documents").select(col("doc_id"))
      val chain = ids.filter(col("doc_id") % 100 =!= 0)
        .select(col("doc_id").as("a"), (col("doc_id") - 1).as("b"))
      val bridge = ids.filter(col("doc_id") % 200 === 150)
        .select(col("doc_id").as("a"), (col("doc_id") - 100).as("b"))
      val cc = graft.operators.Components.connectedComponents(
        chain.unionByName(bridge), "a", "b")
      val sizes = ids.join(cc, ids("doc_id") === cc("node"), "left")
        .select(coalesce(col("component"), ids("doc_id")).as("component"))
        .groupBy("component").agg(count(lit(1)).as("sz"))
        .localCheckpoint() // feeds histogram + totals
      val tot = sizes.agg(count(lit(1)).as("n_components"),
        sum("sz").as("n_nodes"), max("sz").as("giant"),
        sum(when(col("sz") === 1, 1L).otherwise(0L)).as("singletons"))
      sizes.selectExpr("CAST(length(bin(sz)) - 1 AS BIGINT) AS bucket",
          "sz")
        .groupBy("bucket")
        .agg(count(lit(1)).as("bucket_components"),
          sum("sz").as("bucket_nodes"))
        .crossJoin(broadcast(tot))
        .selectExpr("bucket", "bucket_components", "bucket_nodes",
          "n_components", "singletons", "giant",
          "giant * 1000000L div n_nodes AS giant_frac_e6")
        .orderBy("bucket")
    }, Some("""
      WITH RECURSIVE
      fixture AS (
        SELECT doc_id AS u, doc_id - 1 AS v FROM documents
        WHERE doc_id % 100 <> 0
        UNION ALL
        SELECT doc_id, doc_id - 100 FROM documents WHERE doc_id % 200 = 150),
      edges AS (SELECT u, v FROM fixture UNION ALL SELECT v, u FROM fixture),
      reach(u, v) AS (
        SELECT doc_id, doc_id FROM documents
        UNION
        SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u),
      comp AS (SELECT u, min(v) AS component FROM reach GROUP BY u),
      sizes AS (SELECT component, count(*) AS sz FROM comp GROUP BY 1),
      tot AS (
        SELECT count(*) AS n_components, sum(sz) AS n_nodes,
               max(sz) AS giant,
               sum(CASE WHEN sz = 1 THEN 1 ELSE 0 END) AS singletons
        FROM sizes)
      SELECT CAST(length(bin(sz)) - 1 AS BIGINT) AS bucket,
             CAST(count(*) AS BIGINT) AS bucket_components,
             CAST(sum(sz) AS BIGINT) AS bucket_nodes,
             CAST(t.n_components AS BIGINT) AS n_components,
             CAST(t.singletons AS BIGINT) AS singletons,
             CAST(t.giant AS BIGINT) AS giant,
             CAST(t.giant * 1000000 // t.n_nodes AS BIGINT)
               AS giant_frac_e6
      FROM sizes, tot t
      GROUP BY 1, t.n_components, t.singletons, t.giant, t.n_nodes
      ORDER BY bucket""")),

    // K28 — deletion-vector compaction planner (the merge-on-read half
    // k14/k17's CDC merges assume away): per id-sorted file, how much of
    // the row mass is tombstoned by a position-delete vector (docs whose
    // md5 leads with 0/1 — a deterministic ~1/8), what fraction of bytes
    // is dead, and which files a 90%-live threshold sends to rewrite —
    // plus the total bytes the rewrite pass must move. At 100 TB this is
    // the manifest-level decision that keeps read amplification bounded
    // without rewriting every file on every delete batch. One scan, one
    // 16-file-grain aggregate, all exact integers.
    Q("k28_delete_vector_plan", (s, dir) => {
      val docs = t(s, dir, "documents")
        .select(col("doc_id"), col("n_chars"),
          substring(md5(col("text")), 1, 1).isin("0", "1").as("del"))
        .localCheckpoint() // feeds max + file aggregate
      val mx = docs.agg(max("doc_id").as("m"))
      docs.crossJoin(broadcast(mx))
        .selectExpr("doc_id * 16L div (m + 1L) AS file", "n_chars", "del")
        .groupBy("file")
        .agg(count(lit(1)).as("rows"),
          sum(when(col("del"), 1L).otherwise(0L)).as("dels"),
          sum("n_chars").as("bytes"),
          sum(when(col("del"), col("n_chars")).otherwise(0L))
            .as("dead_bytes"))
        .selectExpr("file", "rows", "dels", "bytes", "dead_bytes",
          "(rows - dels) * 1000000L div rows AS live_e6",
          "(rows - dels) * 1000000L div rows < 900000L AS rewrite",
          "CASE WHEN (rows - dels) * 1000000L div rows < 900000L " +
            "THEN bytes - dead_bytes ELSE 0L END AS rewrite_bytes")
        .orderBy("file")
    }, Some("""
      WITH d AS (
        SELECT doc_id, n_chars,
               substr(md5(text), 1, 1) IN ('0', '1') AS del
        FROM documents),
      mx AS (SELECT max(doc_id) AS m FROM d),
      f AS (
        SELECT d.doc_id * 16 // (x.m + 1) AS file, d.n_chars, d.del
        FROM d, mx x),
      agg AS (
        SELECT file, count(*) AS rows,
               sum(CASE WHEN del THEN 1 ELSE 0 END) AS dels,
               sum(n_chars) AS bytes,
               sum(CASE WHEN del THEN n_chars ELSE 0 END) AS dead_bytes
        FROM f GROUP BY 1)
      SELECT file, CAST(rows AS BIGINT) AS rows,
             CAST(dels AS BIGINT) AS dels,
             CAST(bytes AS BIGINT) AS bytes,
             CAST(dead_bytes AS BIGINT) AS dead_bytes,
             CAST((rows - dels) * 1000000 // rows AS BIGINT) AS live_e6,
             (rows - dels) * 1000000 // rows < 900000 AS rewrite,
             CAST(CASE WHEN (rows - dels) * 1000000 // rows < 900000
               THEN bytes - dead_bytes ELSE 0 END AS BIGINT)
               AS rewrite_bytes
      FROM agg ORDER BY file""")),

    // ATT4 — position-based (U-shaped 40/20/40) attribution, completing
    // the family (att1 last, att2 linear, att3 decay): oldest touch 40%,
    // newest 40%, the middle 20% split equally — expressed as EXACT
    // integer weights on the common denominator 5(k−2) (k=1 → all, k=2 →
    // 50/50), so cents·w div Σw plus att2's most-recent-first remainder
    // distribution conserves the purchase mass as a law. Position needs
    // rn/k BEFORE the weight, so the plan stacks two window passes over
    // the same (user, purchase) partition — one extra pass, zero extra
    // shuffles.
    Q("att4_position_attribution", (s, dir) => {
      val key = concat_ws("|",
        lpad(col("ts").cast("long").cast("string"), 10, "0"),
        lpad(col("event_id").cast("string"), 8, "0"))
      val ev = t(s, dir, "events")
      val touches = ev.filter(col("event_type").isin("view", "click"))
        .select(col("user_id").as("t_user"), col("event_type").as("t_type"),
          col("ts").cast("long").as("t_ep"), key.as("t_key"))
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("user_id").as("p_user"),
          floor(col("value") * 100).cast("long").as("cents"),
          col("ts").cast("long").as("p_ep"), key.as("p_key"))
      val j = purchases.join(touches,
        col("t_user") === col("p_user") && col("t_key") < col("p_key") &&
          col("p_ep") - col("t_ep") <= 604800, "left")
      val wP = Window.partitionBy("p_user", "p_key")
      val wR = Window.partitionBy("p_user", "p_key")
        .orderBy(col("t_key").desc)
      j.withColumn("k", count(col("t_key")).over(wP))
        .withColumn("rn", row_number().over(wR))
        .withColumn("w", expr("CASE WHEN t_key IS NULL THEN NULL " +
          "WHEN k <= 2 THEN 1L " +
          "WHEN rn = 1 OR rn = k THEN 2L * (k - 2) ELSE 1L END"))
        .withColumn("sw", sum("w").over(wP))
        .withColumn("base", expr("(cents * w) div sw"))
        .withColumn("leftover",
          col("cents") - sum(coalesce(col("base"), lit(0L))).over(wP))
        .select(
          when(col("k") === 0, lit("direct")).otherwise(col("t_type"))
            .as("channel"),
          when(col("k") === 0, col("cents"))
            .otherwise(col("base") +
              when(col("rn") <= col("leftover"), 1L).otherwise(0L))
            .as("credit"))
        .groupBy("channel")
        .agg(count(lit(1)).as("n_credits"),
          sum("credit").as("credited_cents"))
        .orderBy("channel")
    }, Some("""
      WITH ev AS (
        SELECT user_id, event_type, value,
               CAST(floor(epoch(ts)) AS BIGINT) AS ep,
               lpad(CAST(CAST(floor(epoch(ts)) AS BIGINT) AS VARCHAR),
                    10, '0')
                 || '|' || lpad(CAST(event_id AS VARCHAR), 8, '0') AS key
        FROM events),
      tt AS (
        SELECT user_id AS t_user, event_type AS t_type, ep AS t_ep,
               key AS t_key
        FROM ev WHERE event_type IN ('view', 'click')),
      p AS (
        SELECT user_id AS p_user, CAST(floor(value * 100) AS BIGINT) AS cents,
               ep AS p_ep, key AS p_key
        FROM ev WHERE event_type = 'purchase'),
      j AS (
        SELECT p.*, tt.t_type, tt.t_key
        FROM p LEFT JOIN tt ON t_user = p_user AND t_key < p_key
                            AND p_ep - t_ep <= 604800),
      r AS (
        SELECT *,
               count(t_key) OVER (PARTITION BY p_user, p_key) AS k,
               row_number() OVER (PARTITION BY p_user, p_key
                 ORDER BY t_key DESC) AS rn
        FROM j),
      r2 AS (
        SELECT *,
               CASE WHEN t_key IS NULL THEN NULL
                    WHEN k <= 2 THEN 1
                    WHEN rn = 1 OR rn = k THEN 2 * (k - 2)
                    ELSE 1 END AS w
        FROM r),
      r3 AS (
        SELECT *,
               sum(w) OVER (PARTITION BY p_user, p_key) AS sw
        FROM r2),
      b AS (
        SELECT *,
               (cents * w) // sw AS base,
               cents - sum(coalesce((cents * w) // sw, 0))
                 OVER (PARTITION BY p_user, p_key) AS leftover
        FROM r3)
      SELECT CASE WHEN k = 0 THEN 'direct' ELSE t_type END AS channel,
             count(*) AS n_credits,
             CAST(sum(CASE WHEN k = 0 THEN cents
                      ELSE base +
                           CASE WHEN rn <= leftover THEN 1 ELSE 0 END
                      END) AS BIGINT) AS credited_cents
      FROM b GROUP BY 1 ORDER BY 1""")),

    // HQ6 — equi-width histogram estimator error: build the 16-bucket
    // price histogram a CBO would keep, answer four quartile range-count
    // probes from it by linear interpolation, and compare against the
    // exact answers — the estimator-quality audit that decides whether
    // the histogram (hq4/hq5's selectivity machinery) can be TRUSTED on
    // this column's distribution, per probe, with signed relative error.
    // Everything is integer arithmetic: bucket bounds, overlap widths,
    // and interpolated counts are all divs on exact cents.
    Q("hq6_histogram_estimator", (s, dir) => {
      val c = t(s, dir, "orders")
        .select(floor(col("o_totalprice") * 100).cast("long").as("c"))
        .localCheckpoint() // feeds bounds + hist + truth
      val bounds = c.agg(min("c").as("mn"), max("c").as("mx"))
        .selectExpr("mn", "mx", "mx - mn + 1L AS span")
      val hist = c.crossJoin(broadcast(bounds))
        .selectExpr("least((c - mn) * 16L div span, 15L) AS b", "mn",
          "span")
        .groupBy("b", "mn", "span").agg(count(lit(1)).as("cnt"))
        .selectExpr("b", "cnt", "mn + span * b div 16L AS blo",
          "mn + span * (b + 1L) div 16L AS bhi")
      val probes = bounds.selectExpr(
        "explode(sequence(1L, 4L)) AS g", "mn", "span")
        .selectExpr("g", "mn + span * (g - 1L) div 4L AS lo",
          "mn + span * g div 4L AS hi")
      val est = hist.crossJoin(broadcast(probes))
        .selectExpr("g",
          "greatest(0L, least(hi, bhi) - greatest(lo, blo)) * cnt div " +
            "(bhi - blo) AS part")
        .groupBy("g").agg(sum("part").as("est"))
      val act = c.crossJoin(broadcast(probes))
        .filter(col("c") >= col("lo") && col("c") < col("hi"))
        .groupBy(col("g").as("g2"), col("lo"), col("hi"))
        .agg(count(lit(1)).as("act"))
      act.join(est, col("g2") === col("g"))
        .selectExpr("g", "lo", "hi", "act", "est",
          "(est - act) * 1000000L div act AS rel_err_e6")
        .orderBy("g")
    }, Some("""
      WITH c AS (
        SELECT CAST(floor(o_totalprice * 100) AS BIGINT) AS c FROM orders),
      bounds AS (
        SELECT min(c) AS mn, max(c) AS mx, max(c) - min(c) + 1 AS span
        FROM c),
      hist AS (
        SELECT b, count(*) AS cnt,
               any_value(mn) + any_value(span) * b // 16 AS blo,
               any_value(mn) + any_value(span) * (b + 1) // 16 AS bhi
        FROM (
          SELECT least((c.c - bo.mn) * 16 // bo.span, 15) AS b, bo.mn,
                 bo.span
          FROM c, bounds bo)
        GROUP BY b),
      probes AS (
        SELECT CAST(g AS BIGINT) AS g,
               bo.mn + bo.span * (g - 1) // 4 AS lo,
               bo.mn + bo.span * g // 4 AS hi
        FROM UNNEST(generate_series(1, 4)) AS t(g), bounds bo),
      est AS (
        SELECT p.g,
               sum(greatest(0, least(p.hi, h.bhi) - greatest(p.lo, h.blo))
                   * h.cnt // (h.bhi - h.blo)) AS est
        FROM hist h, probes p GROUP BY p.g),
      act AS (
        SELECT p.g, p.lo, p.hi, count(*) AS act
        FROM c JOIN probes p ON c.c >= p.lo AND c.c < p.hi
        GROUP BY 1, 2, 3)
      SELECT a.g, a.lo, a.hi, CAST(a.act AS BIGINT) AS act,
             CAST(e.est AS BIGINT) AS est,
             CAST((e.est - a.act) * 1000000 // a.act AS BIGINT)
               AS rel_err_e6
      FROM act a JOIN est e ON e.g = a.g ORDER BY a.g""")),

    // D12 — 4-4-5 retail fiscal calendar rollup: map order dates onto
    // 52-week fiscal years (anchor Monday 1991-12-30) with the 4-4-5
    // week pattern per quarter, and roll revenue up to fiscal periods —
    // the calendar dimension BI stacks expect that Gregorian date_trunc
    // can't express. Week/year/period math is pure integer div/mod plus
    // a 12-row period-boundary literal broadcast; the rollup is one
    // day-grain-equivalent aggregate.
    Q("d12_fiscal_445", (s, dir) => {
      import s.implicits._
      val periods = Seq((1L, 0L, 4L), (2L, 4L, 8L), (3L, 8L, 13L),
        (4L, 13L, 17L), (5L, 17L, 21L), (6L, 21L, 26L),
        (7L, 26L, 30L), (8L, 30L, 34L), (9L, 34L, 39L),
        (10L, 39L, 43L), (11L, 43L, 47L), (12L, 47L, 52L))
        .toDF("period", "wlo", "whi")
      val o = t(s, dir, "orders")
        .selectExpr("datediff(to_date(o_orderdate), DATE '1991-12-30') " +
          "AS d", "CAST(floor(o_totalprice * 100) AS LONG) AS cents")
        .selectExpr("d div 7L AS wk", "cents")
        .selectExpr("wk div 52L AS fy", "wk % 52L AS wiy", "cents")
      o.join(broadcast(periods),
          col("wiy") >= col("wlo") && col("wiy") < col("whi"))
        .groupBy("fy", "period")
        .agg(count(lit(1)).as("n_orders"), sum("cents").as("revenue_cents"))
        .selectExpr("fy", "period", "(period - 1L) div 3L + 1L AS quarter",
          "n_orders", "revenue_cents")
        .orderBy("fy", "period")
    }, Some("""
      WITH periods AS (
        SELECT * FROM (VALUES (1, 0, 4), (2, 4, 8), (3, 8, 13),
          (4, 13, 17), (5, 17, 21), (6, 21, 26), (7, 26, 30),
          (8, 30, 34), (9, 34, 39), (10, 39, 43), (11, 43, 47),
          (12, 47, 52)) AS t(period, wlo, whi)),
      o AS (
        SELECT CAST(datediff('day', DATE '1991-12-30',
                 CAST(o_orderdate AS DATE)) AS BIGINT) // 7 AS wk,
               CAST(floor(o_totalprice * 100) AS BIGINT) AS cents
        FROM orders),
      w AS (SELECT wk // 52 AS fy, wk % 52 AS wiy, cents FROM o)
      SELECT CAST(w.fy AS BIGINT) AS fy,
             CAST(p.period AS BIGINT) AS period,
             CAST((p.period - 1) // 3 + 1 AS BIGINT) AS quarter,
             CAST(count(*) AS BIGINT) AS n_orders,
             CAST(sum(w.cents) AS BIGINT) AS revenue_cents
      FROM w JOIN periods p ON w.wiy >= p.wlo AND w.wiy < p.whi
      GROUP BY w.fy, p.period ORDER BY fy, period""")),

    // CS39 — Theil T index and Atkinson(ε=1) of customer spend: the
    // decomposable inequality pair that complements cs18's Gini (Theil
    // splits cleanly into between/within-group terms; Atkinson has the
    // welfare interpretation). Spend masses are exact cents; both
    // entropy-style sums fold their per-customer double terms in
    // EXPLICIT custkey order on both engines (cs21's ordered-sum
    // discipline) — at this grain that is a customer-grain collect, the
    // same cost class as any exact rank statistic.
    Q("cs39_theil_index", (s, dir) => {
      val x = t(s, dir, "orders")
        .groupBy(col("o_custkey").as("ck"))
        .agg(sum(floor(col("o_totalprice") * 100).cast("long")).as("x"))
        .filter(col("x") > 0)
        .localCheckpoint() // feeds totals + both folds
      val tot = x.agg(count(lit(1)).as("n"), sum("x").as("xt"))
      x.crossJoin(broadcast(tot))
        .select(col("ck"),
          ((col("x") * col("n") / col("xt").cast("double")) *
            log(col("x") * col("n") / col("xt").cast("double")))
            .as("tterm"),
          log(col("x").cast("double")).as("lterm"), col("n"), col("xt"))
        .groupBy("n", "xt")
        .agg(
          aggregate(transform(array_sort(
            collect_list(struct(col("ck"), col("tterm")))),
            q => q.getField("tterm")), lit(0.0), (a, q) => a + q)
            .as("ts"),
          aggregate(transform(array_sort(
            collect_list(struct(col("ck"), col("lterm")))),
            q => q.getField("lterm")), lit(0.0), (a, q) => a + q)
            .as("ls"))
        .selectExpr("n", "xt AS total_cents",
          "CAST(floor(1.0e6 * (ts / n)) AS BIGINT) AS theil_e6",
          "CAST(floor(1.0e6 * (1.0e0 - exp(ls / n) / " +
            "(CAST(xt AS DOUBLE) / n))) AS BIGINT) AS atkinson_e6")
    }, Some("""
      WITH x AS (
        SELECT o_custkey AS ck,
               sum(CAST(floor(o_totalprice * 100) AS BIGINT)) AS x
        FROM orders GROUP BY 1 HAVING x > 0),
      tot AS (SELECT count(*) AS n, sum(x) AS xt FROM x),
      terms AS (
        SELECT x.ck,
               (x.x * t.n / CAST(t.xt AS DOUBLE)) *
                 ln(x.x * t.n / CAST(t.xt AS DOUBLE)) AS tterm,
               ln(CAST(x.x AS DOUBLE)) AS lterm, t.n, t.xt
        FROM x, tot t),
      f AS (
        SELECT n, xt, list_sum(list(tterm ORDER BY ck)) AS ts,
               list_sum(list(lterm ORDER BY ck)) AS ls
        FROM terms GROUP BY n, xt)
      SELECT CAST(n AS BIGINT) AS n, CAST(xt AS BIGINT) AS total_cents,
             CAST(floor(1.0e6 * (ts / n)) AS BIGINT) AS theil_e6,
             CAST(floor(1.0e6 * (1.0e0 - exp(ls / n) /
               (CAST(xt AS DOUBLE) / n))) AS BIGINT) AS atkinson_e6
      FROM f""")),

    // CS40 — source×lang contingency: chi-square of independence over
    // the FULL grid (absent cells contribute their expected mass — the
    // mistake that silently deflates χ² when a sparse grid is folded
    // over observed cells only) and Cramér's V to put the strength on a
    // [0,1] scale — the categorical association audit behind "is lang
    // mix a function of source?", where cs21 measures distance and this
    // measures dependence. Counts exact; the χ² terms fold in (source,
    // lang) order (cs21's discipline); V is one sqrt composition.
    Q("cs40_cramers_v", (s, dir) => {
      val d = t(s, dir, "documents").select("source", "lang")
      val sl = d.groupBy("source", "lang").agg(count(lit(1)).as("o"))
      val st = d.groupBy("source").agg(count(lit(1)).as("rt"))
      val cl = d.groupBy("lang").agg(count(lit(1)).as("ct"))
      val nt = d.agg(count(lit(1)).as("n"))
      val dims = st.agg(count(lit(1)).as("r"))
        .crossJoin(broadcast(cl.agg(count(lit(1)).as("c"))))
      val grid = st.crossJoin(broadcast(cl))
        .join(sl, Seq("source", "lang"), "left")
        .crossJoin(broadcast(nt))
        .select(col("source"), col("lang"),
          (coalesce(col("o"), lit(0L)).cast("double") -
            col("rt") * col("ct") / col("n").cast("double")).as("dev"),
          (col("rt") * col("ct") / col("n").cast("double")).as("e"))
        .select(col("source"), col("lang"),
          (col("dev") * col("dev") / col("e")).as("term"))
      grid.agg(aggregate(transform(array_sort(collect_list(
          struct(col("source"), col("lang"), col("term")))),
          q => q.getField("term")), lit(0.0), (a, q) => a + q)
          .as("chi2"))
        .crossJoin(broadcast(nt)).crossJoin(broadcast(dims))
        .selectExpr("n", "r", "c", "(r - 1L) * (c - 1L) AS dof",
          "CAST(floor(1.0e6 * chi2) AS BIGINT) AS chi2_e6",
          "CAST(floor(1.0e6 * sqrt(chi2 / (n * least(r - 1L, c - 1L)))) " +
            "AS BIGINT) AS v_e6")
    }, Some("""
      WITH d AS (SELECT source, lang FROM documents),
      sl AS (SELECT source, lang, count(*) AS o FROM d GROUP BY 1, 2),
      st AS (SELECT source, count(*) AS rt FROM d GROUP BY 1),
      cl AS (SELECT lang, count(*) AS ct FROM d GROUP BY 1),
      nt AS (SELECT count(*) AS n FROM d),
      dims AS (
        SELECT (SELECT count(*) FROM st) AS r,
               (SELECT count(*) FROM cl) AS c),
      grid AS (
        SELECT st.source, cl.lang,
               (CAST(coalesce(sl.o, 0) AS DOUBLE) -
                 st.rt * cl.ct / CAST(nt.n AS DOUBLE)) AS dev,
               (st.rt * cl.ct / CAST(nt.n AS DOUBLE)) AS e
        FROM st CROSS JOIN cl
        LEFT JOIN sl ON sl.source = st.source AND sl.lang = cl.lang
        CROSS JOIN nt),
      terms AS (
        SELECT source, lang, dev * dev / e AS term FROM grid),
      f AS (
        SELECT list_sum(list(term ORDER BY source, lang)) AS chi2
        FROM terms)
      SELECT CAST(nt.n AS BIGINT) AS n, CAST(dims.r AS BIGINT) AS r,
             CAST(dims.c AS BIGINT) AS c,
             CAST((dims.r - 1) * (dims.c - 1) AS BIGINT) AS dof,
             CAST(floor(1.0e6 * f.chi2) AS BIGINT) AS chi2_e6,
             CAST(floor(1.0e6 * sqrt(f.chi2 /
               (nt.n * least(dims.r - 1, dims.c - 1)))) AS BIGINT) AS v_e6
      FROM f, nt, dims""")),

    // W21 — conversion-delay deciles: for users whose first view precedes
    // their first purchase, the exact nearest-rank deciles of the
    // (first purchase − first view) delay in whole seconds — the funnel
    // latency curve behind cs7's step counts. Two user-grain min
    // aggregates, one rank over the converted-user table (the canonical
    // exact-quantile sort; hq1's histogram is the approximate cousin for
    // when even that sort is too dear), and a 9-row decile grid
    // broadcast. All integer seconds.
    Q("w21_conversion_delay", (s, dir) => {
      val ev = t(s, dir, "events")
      val v0 = ev.filter(col("event_type") === "view")
        .groupBy(col("user_id").as("vu"))
        .agg(min(col("ts").cast("long")).as("v0"))
      val p0 = ev.filter(col("event_type") === "purchase")
        .groupBy(col("user_id").as("pu"))
        .agg(min(col("ts").cast("long")).as("p0"))
      val delays = v0.join(p0, col("vu") === col("pu"))
        .filter(col("p0") >= col("v0"))
        .select(col("vu").as("u"), (col("p0") - col("v0")).as("delay"))
        .localCheckpoint() // feeds count + rank
      val ranked = delays
        .select(col("delay"), row_number()
          .over(Window.orderBy("delay", "u")).as("rn"))
        .crossJoin(broadcast(delays.agg(count(lit(1)).as("n"))))
      val grid = ev.sparkSession.range(1, 10).selectExpr("id AS k")
      ranked.crossJoin(broadcast(grid))
        .filter(col("rn") === expr("(k * n + 9L) div 10L"))
        .selectExpr("k", "n AS n_converted", "CAST(rn AS LONG) AS rank",
          "delay AS delay_s")
        .orderBy("k")
    }, Some("""
      WITH v0 AS (
        SELECT user_id AS vu, min(CAST(floor(epoch(ts)) AS BIGINT)) AS v0
        FROM events WHERE event_type = 'view' GROUP BY 1),
      p0 AS (
        SELECT user_id AS pu, min(CAST(floor(epoch(ts)) AS BIGINT)) AS p0
        FROM events WHERE event_type = 'purchase' GROUP BY 1),
      delays AS (
        SELECT vu AS u, p0 - v0 AS delay
        FROM v0 JOIN p0 ON pu = vu WHERE p0 >= v0),
      nn AS (SELECT count(*) AS n FROM delays),
      ranked AS (
        SELECT delay, row_number() OVER (ORDER BY delay, u) AS rn
        FROM delays),
      grid AS (SELECT CAST(k AS BIGINT) AS k
               FROM UNNEST(generate_series(1, 9)) AS t(k))
      SELECT g.k, CAST(nn.n AS BIGINT) AS n_converted,
             CAST(r.rn AS BIGINT) AS rank,
             CAST(r.delay AS BIGINT) AS delay_s
      FROM ranked r, nn, grid g
      WHERE r.rn = (g.k * nn.n + 9) // 10
      ORDER BY g.k""")),

    // TS16 — binary-segmentation changepoint: the single split of the
    // daily-revenue series that maximizes the SSE reduction, i.e. the
    // first step of binary segmentation — finds the level-shift DATE
    // where ts5's CUSUM only flags that a shift exists. The variance
    // terms cancel, so gain(k) = S_k²/k + (S_n−S_k)²/(n−k) − S_n²/n
    // needs only the prefix revenue sums — exact BIGINTs under one
    // identically-composed double per candidate; argmax breaks ties to
    // the earliest split via TakeOrdered. One day-grain window pass.
    Q("ts16_binary_segmentation", (s, dir) => {
      val daily = t(s, dir, "orders")
        .groupBy(datediff(to_date(col("o_orderdate")), lit("1992-01-01"))
          .cast("long").as("d"))
        .agg(sum(floor(col("o_totalprice") * 100).cast("long")).as("y"))
        .localCheckpoint() // feeds totals + prefix scan
      val w = Window.orderBy("d")
      val tot = daily.agg(count(lit(1)).as("n"), sum("y").as("sn"))
      daily
        .select(col("d"), row_number().over(w).cast("long").as("k"),
          sum("y").over(w.rowsBetween(Window.unboundedPreceding,
            Window.currentRow)).as("sk"))
        .crossJoin(broadcast(tot))
        .filter(col("k") < col("n"))
        .selectExpr("d", "k", "n", "sk",
          "CAST(sk AS DOUBLE) * sk / k + " +
            "CAST(sn - sk AS DOUBLE) * (sn - sk) / (n - k) - " +
            "CAST(sn AS DOUBLE) * sn / n AS gain",
          "sk div k AS left_mean_cents",
          "(sn - sk) div (n - k) AS right_mean_cents")
        .orderBy(col("gain").desc, col("k"))
        .limit(1)
        .selectExpr("n AS n_days", "k AS best_k", "d AS split_d",
          "CAST(floor(gain) AS BIGINT) AS gain_cents2",
          "left_mean_cents", "right_mean_cents")
    }, Some("""
      WITH daily AS (
        SELECT CAST(datediff('day', DATE '1992-01-01',
                 CAST(o_orderdate AS DATE)) AS BIGINT) AS d,
               sum(CAST(floor(o_totalprice * 100) AS BIGINT)) AS y
        FROM orders GROUP BY 1),
      tot AS (SELECT count(*) AS n, sum(y) AS sn FROM daily),
      pre AS (
        SELECT d, CAST(row_number() OVER (ORDER BY d) AS BIGINT) AS k,
               sum(y) OVER (ORDER BY d ROWS BETWEEN UNBOUNDED PRECEDING
                 AND CURRENT ROW) AS sk
        FROM daily),
      g AS (
        SELECT p.d, p.k, t.n, p.sk,
               CAST(p.sk AS DOUBLE) * p.sk / p.k +
                 CAST(t.sn - p.sk AS DOUBLE) * (t.sn - p.sk) / (t.n - p.k)
                 - CAST(t.sn AS DOUBLE) * t.sn / t.n AS gain,
               p.sk // p.k AS left_mean_cents,
               (t.sn - p.sk) // (t.n - p.k) AS right_mean_cents
        FROM pre p, tot t WHERE p.k < t.n)
      SELECT CAST(n AS BIGINT) AS n_days, k AS best_k, d AS split_d,
             CAST(floor(gain) AS BIGINT) AS gain_cents2,
             CAST(left_mean_cents AS BIGINT) AS left_mean_cents,
             CAST(right_mean_cents AS BIGINT) AS right_mean_cents
      FROM g ORDER BY gain DESC, k LIMIT 1""")),

    // CS41 — between/within Theil decomposition of customer spend by
    // market segment: T_total ≡ T_between + Σ_g share_g·T_within(g) is an
    // algebraic identity, so the decomposition carries its own audit —
    // the "is inequality driven by segment mix or within-segment spread?"
    // answer cs39's scalar can't give. Every fold is custkey- (or
    // segment-) ordered on both engines; masses are exact cents; one
    // orders→customer join is the only extra shuffle over cs39.
    Q("cs41_theil_decomposition", (s, dir) => {
      val x = t(s, dir, "orders")
        .groupBy(col("o_custkey").as("ck"))
        .agg(sum(floor(col("o_totalprice") * 100).cast("long")).as("x"))
        .filter(col("x") > 0)
        .join(t(s, dir, "customer").select(col("c_custkey").as("ck"),
          col("c_mktsegment").as("seg")), "ck")
        .localCheckpoint() // feeds totals + both fold tiers
      val tot = x.agg(count(lit(1)).as("n"), sum("x").as("xt"))
      val within = x
        .join(broadcast(x.groupBy(col("seg").as("sg"))
          .agg(count(lit(1)).as("ng"), sum("x").as("xg"))),
          col("seg") === col("sg"))
        .select(col("seg"), col("ck"), col("ng"), col("xg"),
          ((col("x") * col("ng") / col("xg").cast("double")) *
            log(col("x") * col("ng") / col("xg").cast("double")))
            .as("tw"))
        .groupBy("seg", "ng", "xg")
        .agg(aggregate(transform(array_sort(
          collect_list(struct(col("ck"), col("tw")))),
          q => q.getField("tw")), lit(0.0), (a, q) => a + q).as("tws"))
        .localCheckpoint() // reused by the between fold
      val between = within.crossJoin(broadcast(tot))
        .select(col("seg"),
          ((col("xg") / col("xt").cast("double")) *
            log((col("xg") / col("xt").cast("double")) /
              (col("ng") / col("n").cast("double")))).as("tb"))
        .agg(aggregate(transform(array_sort(
          collect_list(struct(col("seg"), col("tb")))),
          q => q.getField("tb")), lit(0.0), (a, q) => a + q)
          .as("theil_between"))
      val total = x.crossJoin(broadcast(tot))
        .select(col("ck"),
          ((col("x") * col("n") / col("xt").cast("double")) *
            log(col("x") * col("n") / col("xt").cast("double")))
            .as("tt"))
        .agg(aggregate(transform(array_sort(
          collect_list(struct(col("ck"), col("tt")))),
          q => q.getField("tt")), lit(0.0), (a, q) => a + q).as("ts"))
      within.crossJoin(broadcast(tot)).crossJoin(broadcast(between))
        .crossJoin(broadcast(total))
        .selectExpr("seg", "ng AS n_cust", "xg AS spend_cents",
          "xg * 1000000L div xt AS share_e6",
          "CAST(floor(1.0e6 * (tws / ng)) AS BIGINT) AS theil_within_e6",
          "CAST(floor(1.0e6 * theil_between) AS BIGINT) AS " +
            "theil_between_e6",
          "CAST(floor(1.0e6 * (ts / n)) AS BIGINT) AS theil_total_e6")
        .orderBy("seg")
    }, Some("""
      WITH x AS (
        SELECT o_custkey AS ck,
               sum(CAST(floor(o_totalprice * 100) AS BIGINT)) AS x
        FROM orders GROUP BY 1 HAVING x > 0),
      xs AS (
        SELECT x.ck, x.x, c.c_mktsegment AS seg
        FROM x JOIN customer c ON c.c_custkey = x.ck),
      tot AS (SELECT count(*) AS n, sum(x) AS xt FROM xs),
      segs AS (
        SELECT seg, count(*) AS ng, sum(x) AS xg FROM xs GROUP BY 1),
      within AS (
        SELECT s.seg, s.ng, s.xg,
               list_sum(list((xs.x * s.ng / CAST(s.xg AS DOUBLE)) *
                 ln(xs.x * s.ng / CAST(s.xg AS DOUBLE)) ORDER BY xs.ck))
                 AS tws
        FROM xs JOIN segs s ON s.seg = xs.seg
        GROUP BY s.seg, s.ng, s.xg),
      between_t AS (
        SELECT list_sum(list((s.xg / CAST(t.xt AS DOUBLE)) *
                 ln((s.xg / CAST(t.xt AS DOUBLE)) /
                    (s.ng / CAST(t.n AS DOUBLE))) ORDER BY s.seg))
                 AS theil_between
        FROM segs s, tot t),
      total_t AS (
        SELECT list_sum(list((xs.x * t.n / CAST(t.xt AS DOUBLE)) *
                 ln(xs.x * t.n / CAST(t.xt AS DOUBLE)) ORDER BY xs.ck))
                 AS ts
        FROM xs, tot t)
      SELECT w.seg, CAST(w.ng AS BIGINT) AS n_cust,
             CAST(w.xg AS BIGINT) AS spend_cents,
             CAST(w.xg * 1000000 // t.xt AS BIGINT) AS share_e6,
             CAST(floor(1.0e6 * (w.tws / w.ng)) AS BIGINT)
               AS theil_within_e6,
             CAST(floor(1.0e6 * b.theil_between) AS BIGINT)
               AS theil_between_e6,
             CAST(floor(1.0e6 * (tt.ts / t.n)) AS BIGINT)
               AS theil_total_e6
      FROM within w, tot t, between_t b, total_t tt
      ORDER BY w.seg""")),

    // GR17 — one Borůvka MST phase on the doc graph with deterministic
    // symmetric weights w(u,v) = ((u+v)·31 + u·v) mod 997 + 1: every node
    // picks its minimum-weight incident edge (tie-break by weight, then
    // neighbor id — the classic parallel-MST primitive), the picked edge
    // set is deduped, and the resulting supernode count comes from one
    // CC pass over just those edges. Reports the phase's contraction
    // ratio and picked weight mass — the building block a distributed
    // MST/affinity-clustering job iterates. Per-node argmin is one
    // groupBy over the edge list; everything else is bounded.
    Q("gr17_boruvka_phase", (s, dir) => {
      val sym = Components.docGraph(t(s, dir, "documents"))
        .selectExpr("a", "b",
          "((a + b) * 31L + a * b) % 997L + 1L AS w")
        .localCheckpoint() // feeds argmin + node count
      val pick = sym
        .groupBy("a")
        .agg(min(struct(col("w"), col("b"))).as("m"))
        .select(col("a"), col("m.b").as("b"), col("m.w").as("w"))
      val edges = pick
        .selectExpr("least(a, b) AS u", "greatest(a, b) AS v", "w")
        .distinct()
        .localCheckpoint() // feeds CC + mass sums
      val nodes = sym.select(col("a").as("node")).distinct()
      val cc = Components.connectedComponents(edges, "u", "v")
      val comp = nodes.join(cc, nodes("node") === cc("node"), "left")
        .select(coalesce(cc("component"), nodes("node")).as("comp"))
        .agg(countDistinct("comp").as("n_components_after"))
      val em = edges.agg(count(lit(1)).as("n_picked_edges"),
        sum("w").as("picked_weight"))
      nodes.agg(count(lit(1)).as("n_nodes"))
        .crossJoin(broadcast(em)).crossJoin(broadcast(comp))
        .selectExpr("n_nodes", "n_picked_edges", "picked_weight",
          "n_components_after",
          "n_components_after * 1000000L div n_nodes AS contraction_e6")
    }, Some("""
      WITH RECURSIVE
      cyc AS (SELECT doc_id AS u, (doc_id * 7) % 499 AS v FROM documents),
      divi AS (
        SELECT doc_id AS u, doc_id // 2 AS v FROM documents
        WHERE doc_id % 2 = 0 AND doc_id > 0
        UNION ALL
        SELECT doc_id, doc_id // 3 FROM documents
        WHERE doc_id % 3 = 0 AND doc_id > 0),
      raw AS (SELECT u, v FROM cyc UNION ALL SELECT u, v FROM divi),
      sym AS (SELECT DISTINCT u, v FROM
        (SELECT u, v FROM raw UNION ALL SELECT v, u FROM raw) WHERE u <> v),
      wed AS (
        SELECT u AS a, v AS b, ((u + v) * 31 + u * v) % 997 + 1 AS w
        FROM sym),
      pick AS (
        SELECT a, b, w FROM (
          SELECT a, b, w,
                 row_number() OVER (PARTITION BY a ORDER BY w, b) AS rn
          FROM wed)
        WHERE rn = 1),
      sel AS (
        SELECT DISTINCT least(a, b) AS u, greatest(a, b) AS v, w
        FROM pick),
      edges AS (SELECT u, v FROM sel UNION ALL SELECT v, u FROM sel),
      nodes AS (SELECT DISTINCT a AS node FROM wed),
      reach(s, t) AS (
        SELECT node, node FROM nodes
        UNION
        SELECT r.s, e.v FROM reach r JOIN edges e ON r.t = e.u),
      comp AS (SELECT s, min(t) AS c FROM reach GROUP BY s),
      cstat AS (SELECT count(DISTINCT c) AS n_components_after FROM comp),
      nstat AS (SELECT count(*) AS n_nodes FROM nodes),
      estat AS (SELECT count(*) AS n_picked_edges, sum(w) AS picked_weight
                FROM sel)
      SELECT CAST(n.n_nodes AS BIGINT) AS n_nodes,
             CAST(e.n_picked_edges AS BIGINT) AS n_picked_edges,
             CAST(e.picked_weight AS BIGINT) AS picked_weight,
             CAST(c.n_components_after AS BIGINT) AS n_components_after,
             CAST(c.n_components_after * 1000000 // n.n_nodes AS BIGINT)
               AS contraction_e6
      FROM nstat n, estat e, cstat c""")),

    // W22 — inter-event gap spectrum per event type: log₂-bucketed
    // histogram of consecutive same-user same-type gaps in whole seconds
    // — the arrival-process shape (memoryless ⟹ geometric-ish spectrum;
    // diurnal ⟹ a bimodal one) that sizes session timeouts (w10) and
    // watermark delays (st8) from data instead of folklore. Gaps ride
    // one user+type-partitioned lag; buckets are binary-length integers
    // (gr16's float-log2-free move); zero-gaps land in bucket 0.
    Q("w22_gap_histogram", (s, dir) => {
      val w = Window.partitionBy("user_id", "event_type")
        .orderBy("ts", "event_id")
      t(s, dir, "events")
        .select(col("event_type"), col("user_id"), col("event_id"),
          col("ts"), col("ts").cast("long").as("sec"))
        .withColumn("gap", col("sec") - lag("sec", 1).over(w))
        .filter(col("gap").isNotNull)
        .selectExpr("event_type",
          "CASE WHEN gap <= 0 THEN 0L " +
            "ELSE CAST(length(bin(gap)) - 1 AS BIGINT) END AS bucket")
        .groupBy("event_type", "bucket")
        .agg(count(lit(1)).as("n_gaps"))
        .orderBy("event_type", "bucket")
    }, Some("""
      WITH g AS (
        SELECT event_type,
               CAST(floor(epoch(ts)) AS BIGINT) -
                 lag(CAST(floor(epoch(ts)) AS BIGINT)) OVER (
                   PARTITION BY user_id, event_type
                   ORDER BY ts, event_id) AS gap
        FROM events)
      SELECT event_type,
             CASE WHEN gap <= 0 THEN CAST(0 AS BIGINT)
                  ELSE CAST(length(bin(gap)) - 1 AS BIGINT) END AS bucket,
             count(*) AS n_gaps
      FROM g WHERE gap IS NOT NULL
      GROUP BY 1, 2 ORDER BY event_type, bucket""")),

    // CS42 — Mood's median test across market segments: does ANY segment's
    // order-value distribution sit above/below the common center? Counts
    // above the POOLED median (cs38's deterministic lower order statistic)
    // per segment, then the k-sample chi-square against the pooled
    // above-rate — the rank-free cousin of cs28's ANOVA that ignores
    // outlier magnitudes entirely. Counting is exact; each segment's χ²
    // contribution composes one double; the fold is segment-ordered.
    Q("cs42_mood_median", (s, dir) => {
      val o = t(s, dir, "orders")
        .join(t(s, dir, "customer").select(col("c_custkey")
          .as("o_custkey"), col("c_mktsegment").as("seg")), "o_custkey")
        .select(col("seg"), col("o_orderkey"),
          floor(col("o_totalprice") * 100).cast("long").as("c"))
        .localCheckpoint() // feeds median rank + seg counts
      val med = o
        .select(col("c"), row_number()
          .over(Window.orderBy("c", "o_orderkey")).as("rn"))
        .crossJoin(broadcast(o.agg(count(lit(1)).as("n"))))
        .filter(col("rn") === expr("(n + 1L) div 2L"))
        .select(col("c").as("med"))
      val segs = o.crossJoin(broadcast(med))
        .groupBy("seg")
        .agg(count(lit(1)).as("n_g"),
          sum(when(col("c") > col("med"), 1L).otherwise(0L)).as("a_g"))
        .localCheckpoint() // feeds totals + the fold
      val tot = segs.agg(sum("n_g").as("n"), sum("a_g").as("a"))
      val terms = segs.crossJoin(broadcast(tot))
        .select(col("seg"), col("n_g"), col("a_g"),
          (((col("a_g") - col("n_g") * col("a") /
            col("n").cast("double")) *
            (col("a_g") - col("n_g") * col("a") /
              col("n").cast("double"))) /
            (col("n_g") * col("a") / col("n").cast("double") *
              (lit(1.0e0) - col("a") / col("n").cast("double"))))
            .as("term"))
      terms
        .agg(aggregate(transform(array_sort(collect_list(
          struct(col("seg"), col("term")))), q => q.getField("term")),
          lit(0.0), (a, q) => a + q).as("chi2"),
          count(lit(1)).as("k"))
        .crossJoin(broadcast(tot))
        .selectExpr("n", "a AS n_above", "k AS n_groups",
          "k - 1L AS dof",
          "CAST(floor(1.0e6 * chi2) AS BIGINT) AS chi2_e6")
    }, Some("""
      WITH o AS (
        SELECT c.c_mktsegment AS seg, o.o_orderkey,
               CAST(floor(o.o_totalprice * 100) AS BIGINT) AS c
        FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey),
      nn AS (SELECT count(*) AS n FROM o),
      med AS (
        SELECT c AS med FROM (
          SELECT c, row_number() OVER (ORDER BY c, o_orderkey) AS rn
          FROM o), nn
        WHERE rn = (n + 1) // 2),
      segs AS (
        SELECT seg, count(*) AS n_g,
               sum(CASE WHEN o.c > m.med THEN 1 ELSE 0 END) AS a_g
        FROM o, med m GROUP BY seg),
      tot AS (SELECT sum(n_g) AS n, sum(a_g) AS a FROM segs),
      terms AS (
        SELECT s.seg, s.n_g, s.a_g,
               (((s.a_g - s.n_g * t.a / CAST(t.n AS DOUBLE)) *
                 (s.a_g - s.n_g * t.a / CAST(t.n AS DOUBLE))) /
                (s.n_g * t.a / CAST(t.n AS DOUBLE) *
                 (1.0e0 - t.a / CAST(t.n AS DOUBLE)))) AS term
        FROM segs s, tot t),
      f AS (
        SELECT list_sum(list(term ORDER BY seg)) AS chi2, count(*) AS k
        FROM terms)
      SELECT CAST(t.n AS BIGINT) AS n, CAST(t.a AS BIGINT) AS n_above,
             CAST(f.k AS BIGINT) AS n_groups,
             CAST(f.k - 1 AS BIGINT) AS dof,
             CAST(floor(1.0e6 * f.chi2) AS BIGINT) AS chi2_e6
      FROM f, tot t""")),

    // OL7 — grid-DBSCAN over the (n_chars, ws_tokens) plane: docs bucket
    // into integer cells (50-char × 10-token), cells with ≥ 5 docs are
    // CORE, and clusters are connected components of the 8-neighborhood
    // core-cell graph — density clustering with the quadratic
    // neighbor-search replaced by a cell-grain self-join on bounded
    // offsets (the standard way DBSCAN survives 100 TB). Noise = docs in
    // non-core cells. Everything is exact integers; the CC pass runs on
    // the tiny core-cell graph, not on documents.
    Q("ol7_grid_dbscan", (s, dir) => {
      val cells = t(s, dir, "documents")
        .selectExpr("doc_id", "n_chars div 50L AS cx",
          "CAST(size(split(text, ' ')) AS LONG) div 10L AS cy")
        .groupBy("cx", "cy").agg(count(lit(1)).as("n_docs"))
        .localCheckpoint() // feeds core set + noise mass
      val core = cells.filter(col("n_docs") >= 5)
        .selectExpr("cx", "cy", "cx * 100000L + cy AS cell_id", "n_docs")
        .localCheckpoint() // both sides of the offset join
      val b = core.selectExpr("cx AS bx", "cy AS by", "cell_id AS bid")
      val edges = core.join(b,
          abs(col("cx") - col("bx")) <= 1 &&
            abs(col("cy") - col("by")) <= 1 &&
            col("cell_id") < col("bid"))
        .select(col("cell_id").as("u"), col("bid").as("v"))
      val cc = Components.connectedComponents(edges, "u", "v")
      val clusters = core.join(cc, core("cell_id") === cc("node"), "left")
        .select(coalesce(col("component"), col("cell_id")).as("cl"),
          col("n_docs"))
        .groupBy("cl")
        .agg(count(lit(1)).as("n_cells"), sum("n_docs").as("n_docs"))
      val summary = clusters.agg(count(lit(1)).as("n_clusters"),
        max("n_cells").as("largest_cells"),
        max("n_docs").as("largest_docs"),
        sum("n_docs").as("core_docs"))
      cells.agg(count(lit(1)).as("n_cells_total"),
          sum("n_docs").as("n_docs_total"))
        .crossJoin(broadcast(core.agg(count(lit(1)).as("n_core_cells"))))
        .crossJoin(broadcast(summary))
        .selectExpr("n_cells_total", "n_core_cells", "n_clusters",
          "largest_cells", "largest_docs",
          "n_docs_total - core_docs AS noise_docs",
          "core_docs * 1000000L div n_docs_total AS core_frac_e6")
    }, Some("""
      WITH RECURSIVE
      cells AS (
        SELECT n_chars // 50 AS cx,
               CAST(len(string_split(text, ' ')) AS BIGINT) // 10 AS cy,
               count(*) AS n_docs
        FROM documents GROUP BY 1, 2),
      core AS (
        SELECT cx, cy, cx * 100000 + cy AS cell_id, n_docs
        FROM cells WHERE n_docs >= 5),
      sel AS (
        SELECT a.cell_id AS u, b.cell_id AS v
        FROM core a JOIN core b
          ON abs(a.cx - b.cx) <= 1 AND abs(a.cy - b.cy) <= 1
         AND a.cell_id < b.cell_id),
      edges AS (SELECT u, v FROM sel UNION ALL SELECT v, u FROM sel),
      reach(s, t) AS (
        SELECT cell_id, cell_id FROM core
        UNION
        SELECT r.s, e.v FROM reach r JOIN edges e ON r.t = e.u),
      comp AS (SELECT s, min(t) AS cl FROM reach GROUP BY s),
      clusters AS (
        SELECT c.cl, count(*) AS n_cells, sum(k.n_docs) AS n_docs
        FROM comp c JOIN core k ON k.cell_id = c.s
        GROUP BY c.cl),
      summary AS (
        SELECT count(*) AS n_clusters, max(n_cells) AS largest_cells,
               max(n_docs) AS largest_docs, sum(n_docs) AS core_docs
        FROM clusters),
      totc AS (SELECT count(*) AS n_cells_total, sum(n_docs)
                 AS n_docs_total FROM cells),
      nc AS (SELECT count(*) AS n_core_cells FROM core)
      SELECT CAST(t.n_cells_total AS BIGINT) AS n_cells_total,
             CAST(nc.n_core_cells AS BIGINT) AS n_core_cells,
             CAST(s.n_clusters AS BIGINT) AS n_clusters,
             CAST(s.largest_cells AS BIGINT) AS largest_cells,
             CAST(s.largest_docs AS BIGINT) AS largest_docs,
             CAST(t.n_docs_total - s.core_docs AS BIGINT) AS noise_docs,
             CAST(s.core_docs * 1000000 // t.n_docs_total AS BIGINT)
               AS core_frac_e6
      FROM totc t, nc, summary s""")),

    // SA16 — systematic sampling on the md5-hash axis: rank the corpus by
    // (hash, id) and keep every 16th row — the stratified-by-hash design
    // whose variance beats Bernoulli sampling when the frame order is
    // arbitrary, here made deterministic (and engine-identical) by the
    // hash ordering itself. The audit reports sample vs population mean
    // doc length as exact scaled integers, plus the realized interval.
    // At scale the rank is per-shard stride + shard offsets (ck2's
    // two-level scan); the semantics graded here are the global rank's.
    Q("sa16_systematic_sample", (s, dir) => {
      val d = t(s, dir, "documents")
        .select(col("doc_id"), col("n_chars"),
          md5(col("doc_id").cast("string").cast("binary")).as("h"))
      val ranked = d.withColumn("rn",
        row_number().over(Window.orderBy("h", "doc_id")))
      val samp = ranked.filter(expr("rn % 16 = 1"))
        .agg(count(lit(1)).as("n_sample"),
          sum("n_chars").as("s_chars"))
      d.agg(count(lit(1)).as("n_pop"), sum("n_chars").as("p_chars"))
        .crossJoin(broadcast(samp))
        .selectExpr("n_pop", "n_sample", "16L AS interval",
          "p_chars * 1000000L div n_pop AS pop_mean_e6",
          "s_chars * 1000000L div n_sample AS sample_mean_e6",
          "s_chars * 1000000L div n_sample - " +
            "p_chars * 1000000L div n_pop AS bias_e6")
    }, Some("""
      WITH d AS (
        SELECT doc_id, n_chars, md5(CAST(doc_id AS VARCHAR)) AS h
        FROM documents),
      ranked AS (
        SELECT *, row_number() OVER (ORDER BY h, doc_id) AS rn FROM d),
      samp AS (
        SELECT count(*) AS n_sample, sum(n_chars) AS s_chars
        FROM ranked WHERE rn % 16 = 1),
      pop AS (SELECT count(*) AS n_pop, sum(n_chars) AS p_chars FROM d)
      SELECT CAST(p.n_pop AS BIGINT) AS n_pop,
             CAST(s.n_sample AS BIGINT) AS n_sample,
             CAST(16 AS BIGINT) AS interval,
             CAST(p.p_chars * 1000000 // p.n_pop AS BIGINT)
               AS pop_mean_e6,
             CAST(s.s_chars * 1000000 // s.n_sample AS BIGINT)
               AS sample_mean_e6,
             CAST(s.s_chars * 1000000 // s.n_sample -
                  p.p_chars * 1000000 // p.n_pop AS BIGINT) AS bias_e6
      FROM pop p, samp s""")),

    // TS17 — rolling 30-day beta of URGENT revenue on LOW revenue: the
    // time-varying slope that says whether cs30's static coupling is
    // stable or regime-dependent. All five running sums ride ONE
    // RANGE-framed day window (d−29..d) in exact integer/decimal cents —
    // the only double is the final per-day slope ratio. Emitted at every
    // 30th day with a full window, so the output stays a bounded
    // calendar sample while the windows themselves never recompute
    // (frame-sliding, not per-probe re-aggregation).
    Q("ts17_rolling_beta", (s, dir) => {
      val daily = t(s, dir, "orders")
        .groupBy(datediff(to_date(col("o_orderdate")), lit("1992-01-01"))
          .cast("long").as("d"))
        .agg(
          coalesce(sum(when(col("o_orderpriority") === "1-URGENT",
            floor(col("o_totalprice") * 100).cast("long"))), lit(0L))
            .as("y"),
          coalesce(sum(when(col("o_orderpriority") === "5-LOW",
            floor(col("o_totalprice") * 100).cast("long"))), lit(0L))
            .as("x"))
      val w = Window.orderBy("d").rangeBetween(-29, 0)
      daily
        .select(col("d"), count(lit(1)).over(w).cast("long").as("n"),
          sum("x").over(w).as("sx"), sum("y").over(w).as("sy"),
          sum(col("x").cast("decimal(38,0)") * col("x")).over(w)
            .as("sxx"),
          sum(col("x").cast("decimal(38,0)") * col("y")).over(w)
            .as("sxy"))
        .filter(col("n") >= 10 && col("d") % 30 === 0)
        // zero-variance windows (all-zero x at tiny SF) yield NULL, not
        // an ANSI divide-by-zero
        .selectExpr("d", "n",
          "CASE WHEN n * sxx = CAST(sx AS DECIMAL(38,0)) * sx " +
            "THEN CAST(NULL AS BIGINT) ELSE " +
            "CAST(floor(1.0e6 * (CAST(n * sxy - CAST(sx AS DECIMAL(38,0)) " +
            "* sy AS DOUBLE) / CAST(n * sxx - " +
            "CAST(sx AS DECIMAL(38,0)) * sx AS DOUBLE))) AS BIGINT) END " +
            "AS beta_e6")
        .orderBy("d")
    }, Some("""
      WITH daily AS (
        SELECT CAST(datediff('day', DATE '1992-01-01',
                 CAST(o_orderdate AS DATE)) AS BIGINT) AS d,
               coalesce(sum(CASE WHEN o_orderpriority = '5-LOW'
                 THEN CAST(floor(o_totalprice * 100) AS BIGINT) END), 0)
                 AS x,
               coalesce(sum(CASE WHEN o_orderpriority = '1-URGENT'
                 THEN CAST(floor(o_totalprice * 100) AS BIGINT) END), 0)
                 AS y
        FROM orders GROUP BY 1),
      r AS (
        SELECT d,
               CAST(count(*) OVER wf AS BIGINT) AS n,
               sum(x) OVER wf AS sx, sum(y) OVER wf AS sy,
               sum(CAST(x AS HUGEINT) * x) OVER wf AS sxx,
               sum(CAST(x AS HUGEINT) * y) OVER wf AS sxy
        FROM daily
        WINDOW wf AS (ORDER BY d RANGE BETWEEN 29 PRECEDING
                      AND CURRENT ROW))
      SELECT d, n,
             CASE WHEN n * sxx = CAST(sx AS HUGEINT) * sx
               THEN CAST(NULL AS BIGINT) ELSE
               CAST(floor(1.0e6 * (CAST(n * sxy - CAST(sx AS HUGEINT) * sy
                 AS DOUBLE) / CAST(n * sxx - CAST(sx AS HUGEINT) * sx
                 AS DOUBLE))) AS BIGINT) END AS beta_e6
      FROM r WHERE n >= 10 AND d % 30 = 0 ORDER BY d""")),

    // CS44 — price elasticity of demand for one part brand: OLS slope of
    // ln(weekly quantity) on ln(weekly avg unit price) over the shipped
    // line items — the classic log-log regression, with the small part
    // dim side broadcast into the lineitem scan (the star-join shape j6
    // grades). Weekly masses are exact cents/units; the four OLS power
    // sums fold their ln-double terms in week order (cs21's discipline),
    // so the slope hash-grades.
    Q("cs44_price_elasticity", (s, dir) => {
      val li = t(s, dir, "lineitem")
        .join(broadcast(t(s, dir, "part")
          .filter(col("p_brand") === "Brand#13")
          .select(col("p_partkey").as("l_partkey"))), "l_partkey")
        .groupBy(datediff(to_date(col("l_shipdate")), lit("1992-01-01"))
          .cast("long").divide(lit(7)).cast("long").as("wk"))
        .agg(sum(floor(col("l_quantity")).cast("long")).as("q"),
          sum(floor(col("l_extendedprice") * 100).cast("long")).as("p"))
        .filter(col("q") > 0 && col("p") > 0)
        .select(col("wk"), log(col("q").cast("double")).as("ly"),
          log((col("p") / col("q").cast("double"))).as("lx"))
      val sums = li.agg(count(lit(1)).as("n"),
        aggregate(transform(array_sort(collect_list(
          struct(col("wk"), col("lx")))), q => q.getField("lx")),
          lit(0.0), (a, q) => a + q).as("sx"),
        aggregate(transform(array_sort(collect_list(
          struct(col("wk"), col("ly")))), q => q.getField("ly")),
          lit(0.0), (a, q) => a + q).as("sy"),
        aggregate(transform(array_sort(collect_list(
          struct(col("wk"), (col("lx") * col("lx")).as("v")))),
          q => q.getField("v")), lit(0.0), (a, q) => a + q).as("sxx"),
        aggregate(transform(array_sort(collect_list(
          struct(col("wk"), (col("lx") * col("ly")).as("v")))),
          q => q.getField("v")), lit(0.0), (a, q) => a + q).as("sxy"))
      sums.selectExpr("n",
        "CAST(floor(1.0e6 * ((n * sxy - sx * sy) / " +
          "(n * sxx - sx * sx))) AS BIGINT) AS elasticity_e6")
    }, Some("""
      WITH li AS (
        SELECT CAST(datediff('day', DATE '1992-01-01',
                 CAST(l_shipdate AS DATE)) AS BIGINT) // 7 AS wk,
               sum(CAST(floor(l_quantity) AS BIGINT)) AS q,
               sum(CAST(floor(l_extendedprice * 100) AS BIGINT)) AS p
        FROM lineitem l JOIN part pt ON pt.p_partkey = l.l_partkey
        WHERE pt.p_brand = 'Brand#13'
        GROUP BY 1 HAVING q > 0 AND p > 0),
      t AS (
        SELECT wk, ln(CAST(q AS DOUBLE)) AS ly,
               ln(p / CAST(q AS DOUBLE)) AS lx
        FROM li),
      f AS (
        SELECT count(*) AS n,
               list_sum(list(lx ORDER BY wk)) AS sx,
               list_sum(list(ly ORDER BY wk)) AS sy,
               list_sum(list(lx * lx ORDER BY wk)) AS sxx,
               list_sum(list(lx * ly ORDER BY wk)) AS sxy
        FROM t)
      SELECT CAST(n AS BIGINT) AS n,
             CAST(floor(1.0e6 * ((n * sxy - sx * sy) /
               (n * sxx - sx * sx))) AS BIGINT) AS elasticity_e6
      FROM f""")),

    // A15 — semi-additive month-end balances: each customer's cumulative
    // spend is a BALANCE (sum across customers, LAST-KNOWN across time —
    // the measure class additive rollups silently corrupt), so every
    // month reports Σ over customers of the balance carried forward from
    // each customer's last active month. The dense (customer × month)
    // carry-forward materializes per customer only from FIRST activity
    // onward (sequence + explode), and the fill is w9's
    // last(ignoreNulls) window — no month loop, no driver state. Exact
    // integer cents end-to-end.
    Q("a15_semi_additive_balance", (s, dir) => {
      val m0 = expr("(year(to_date(o_orderdate)) - 1992) * 12 + " +
        "month(to_date(o_orderdate)) - 1")
      val cm = t(s, dir, "orders")
        .groupBy(col("o_custkey").as("ck"), m0.cast("long").as("m"))
        .agg(sum(floor(col("o_totalprice") * 100).cast("long"))
          .as("spend"))
      val bal = cm
        .withColumn("balance", sum("spend").over(
          Window.partitionBy("ck").orderBy("m")
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      val mx = cm.agg(max("m").as("gm"))
      val grid = bal.groupBy("ck").agg(min("m").as("m0"))
        .crossJoin(broadcast(mx))
        .select(col("ck"), explode(expr("sequence(m0, gm)")).as("m"))
      val filled = grid.join(bal.select(col("ck"), col("m"),
          col("balance")), Seq("ck", "m"), "left")
        .withColumn("bal", last("balance", ignoreNulls = true).over(
          Window.partitionBy("ck").orderBy("m")
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      filled.groupBy("m")
        .agg(count(lit(1)).as("n_customers"),
          sum("bal").as("total_balance_cents"))
        .orderBy("m")
    }, Some("""
      WITH cm AS (
        SELECT o_custkey AS ck,
               CAST((year(CAST(o_orderdate AS DATE)) - 1992) * 12 +
                    month(CAST(o_orderdate AS DATE)) - 1 AS BIGINT) AS m,
               sum(CAST(floor(o_totalprice * 100) AS BIGINT)) AS spend
        FROM orders GROUP BY 1, 2),
      bal AS (
        SELECT ck, m, sum(spend) OVER (PARTITION BY ck ORDER BY m
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS balance
        FROM cm),
      mx AS (SELECT max(m) AS gm FROM cm),
      grid AS (
        SELECT f.ck, unnest(generate_series(f.m0, x.gm)) AS m
        FROM (SELECT ck, min(m) AS m0 FROM bal GROUP BY 1) f, mx x),
      filled AS (
        SELECT g.ck, g.m,
               last_value(b.balance IGNORE NULLS) OVER (
                 PARTITION BY g.ck ORDER BY g.m
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS bal
        FROM grid g LEFT JOIN bal b ON b.ck = g.ck AND b.m = g.m)
      SELECT CAST(m AS BIGINT) AS m,
             CAST(count(*) AS BIGINT) AS n_customers,
             CAST(sum(bal) AS BIGINT) AS total_balance_cents
      FROM filled GROUP BY m ORDER BY m""")),

    // CS45 — supplier-nation market-share shift: revenue share per
    // supplier nation per order year (lineitem ⋈ supplier ⋈ nation, the
    // dims broadcast into the fact scan), and each nation's largest
    // year-over-year share swing — the competitive-dynamics rollup that
    // turns j6's star join into a longitudinal answer. Shares are exact
    // scaled divisions per (nation, year); the swing is one lag window
    // over the bounded nation×year grid.
    Q("cs45_share_shift", (s, dir) => {
      val li = t(s, dir, "lineitem")
        .join(t(s, dir, "orders").select(col("o_orderkey")
          .as("l_orderkey"), year(to_date(col("o_orderdate"))).cast("long")
          .as("yr")), "l_orderkey")
        .join(broadcast(t(s, dir, "supplier")
          .join(t(s, dir, "nation"),
            col("s_nationkey") === col("n_nationkey"))
          .select(col("s_suppkey").as("l_suppkey"),
            col("n_name").as("nation"))), "l_suppkey")
        .groupBy("nation", "yr")
        .agg(sum(floor(col("l_extendedprice") * 100).cast("long"))
          .as("rev"))
      val yt = li.groupBy(col("yr").as("y2"))
        .agg(sum("rev").as("ytot"))
      val shares = li.join(broadcast(yt), col("yr") === col("y2"))
        .selectExpr("nation", "yr", "rev",
          "rev * 1000000L div ytot AS share_e6")
      val w = Window.partitionBy("nation").orderBy("yr")
      shares
        .withColumn("prev_share", lag("share_e6", 1).over(w))
        .withColumn("swing_e6", abs(col("share_e6") - col("prev_share")))
        .withColumn("max_swing_e6",
          max("swing_e6").over(Window.partitionBy("nation")))
        .selectExpr("nation", "yr", "rev", "share_e6",
          "coalesce(swing_e6, -1L) AS swing_e6",
          "coalesce(max_swing_e6, -1L) AS max_swing_e6")
        .orderBy("nation", "yr")
    }, Some("""
      WITH li AS (
        SELECT n.n_name AS nation,
               CAST(year(CAST(o.o_orderdate AS DATE)) AS BIGINT) AS yr,
               sum(CAST(floor(l.l_extendedprice * 100) AS BIGINT)) AS rev
        FROM lineitem l
        JOIN orders o ON o.o_orderkey = l.l_orderkey
        JOIN supplier sp ON sp.s_suppkey = l.l_suppkey
        JOIN nation n ON n.n_nationkey = sp.s_nationkey
        GROUP BY 1, 2),
      yt AS (SELECT yr AS y2, sum(rev) AS ytot FROM li GROUP BY 1),
      shares AS (
        SELECT li.nation, li.yr, li.rev,
               li.rev * 1000000 // yt.ytot AS share_e6
        FROM li JOIN yt ON yt.y2 = li.yr),
      sw AS (
        SELECT *, abs(share_e6 - lag(share_e6) OVER (PARTITION BY nation
                 ORDER BY yr)) AS swing_e6
        FROM shares)
      SELECT nation, yr, CAST(rev AS BIGINT) AS rev,
             CAST(share_e6 AS BIGINT) AS share_e6,
             CAST(coalesce(swing_e6, -1) AS BIGINT) AS swing_e6,
             CAST(coalesce(max(swing_e6) OVER (PARTITION BY nation), -1)
               AS BIGINT) AS max_swing_e6
      FROM sw ORDER BY nation, yr""")),

    // W24 — Pareto cutoffs: how many top customers carry 50/80/90% of
    // revenue — the "how concentrated is the book" question cs25's HHI
    // scalar answers only on average. Customers rank by (spend desc,
    // custkey); the cutoff is the FIRST rank whose cumulative spend
    // clears each threshold, found by exact integer cross-multiplication
    // (cum·100 ≥ total·pct — no float shares anywhere). One
    // customer-grain sort + a 3-row threshold grid broadcast.
    Q("w24_pareto_cutoffs", (s, dir) => {
      val x = t(s, dir, "orders")
        .groupBy(col("o_custkey").as("ck"))
        .agg(sum(floor(col("o_totalprice") * 100).cast("long")).as("x"))
        .localCheckpoint()
      val ranked = x
        .select(col("x"), row_number()
          .over(Window.orderBy(col("x").desc, col("ck"))).cast("long")
          .as("rn"))
        .withColumn("cum", sum("x").over(Window.orderBy("rn")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      val tot = x.agg(count(lit(1)).as("n"), sum("x").as("xt"))
      val grid = x.sparkSession.range(0, 3)
        .selectExpr("CASE id WHEN 0 THEN 50L WHEN 1 THEN 80L " +
          "ELSE 90L END AS pct")
      ranked.crossJoin(broadcast(tot)).crossJoin(broadcast(grid))
        .filter(col("cum") * 100 >= col("xt") * col("pct"))
        .groupBy("pct", "n", "xt")
        .agg(min("rn").as("n_top"))
        .selectExpr("pct", "n AS n_customers", "n_top",
          "n_top * 1000000L div n AS top_frac_e6")
        .orderBy("pct")
    }, Some("""
      WITH x AS (
        SELECT o_custkey AS ck,
               sum(CAST(floor(o_totalprice * 100) AS BIGINT)) AS x
        FROM orders GROUP BY 1),
      ranked AS (
        SELECT x, CAST(row_number() OVER (ORDER BY x DESC, ck) AS BIGINT)
                 AS rn,
               sum(x) OVER (ORDER BY x DESC, ck ROWS BETWEEN UNBOUNDED
                 PRECEDING AND CURRENT ROW) AS cum
        FROM x),
      tot AS (SELECT count(*) AS n, sum(x) AS xt FROM x),
      grid AS (SELECT CAST(pct AS BIGINT) AS pct
               FROM UNNEST([50, 80, 90]) AS t(pct))
      SELECT g.pct, CAST(t.n AS BIGINT) AS n_customers,
             CAST(min(r.rn) AS BIGINT) AS n_top,
             CAST(min(r.rn) * 1000000 // t.n AS BIGINT) AS top_frac_e6
      FROM ranked r, tot t, grid g
      WHERE r.cum * 100 >= t.xt * g.pct
      GROUP BY g.pct, t.n ORDER BY g.pct""")),

    // GR19 — longest-path layering of the divisor DAG (doc_id → ⌊id/2⌋,
    // ⌊id/3⌋, edges pointing down): each node's layer = longest chain to
    // a sink, by round-bounded iterative relaxation (the topological-
    // depth primitive behind DAG scheduling). BOTH engines cap at 10
    // rounds, so the graded semantics are min(longest path, 10) at every
    // SF — a declared hop bound, gr2's convention. Output is the exact
    // layer histogram plus the (bounded) DAG height. Integer-only; each
    // round is one edges⤳layers hash join (gr15's shape).
    Q("gr19_dag_layers", (s, dir) => {
      val docs = t(s, dir, "documents").select(col("doc_id"))
      val e1 = docs.filter(col("doc_id") >= 2)
        .selectExpr("doc_id AS u", "doc_id div 2L AS v")
      val e2 = docs.filter(col("doc_id") >= 3)
        .selectExpr("doc_id AS u", "doc_id div 3L AS v")
      val edges = e1.unionByName(e2).distinct()
        .localCheckpoint()
      var layer = docs.select(col("doc_id").as("node"),
        lit(0L).as("layer"))
      for (_ <- 1 to 10) {
        val relax = edges
          .join(layer.select(col("node").as("v"), col("layer").as("lv")),
            "v")
          .groupBy(col("u").as("node")).agg(max(expr("lv + 1L")).as("lu"))
        layer = docs.select(col("doc_id").as("node"))
          .join(relax, Seq("node"), "left")
          .selectExpr("node", "coalesce(lu, 0L) AS layer")
          .localCheckpoint()
      }
      layer.groupBy("layer").agg(count(lit(1)).as("n_nodes"))
        .crossJoin(broadcast(layer.agg(max("layer").as("height"))))
        .orderBy("layer")
    }, Some("""
      WITH RECURSIVE docs AS (SELECT doc_id FROM documents),
      edges AS (
        SELECT DISTINCT u, v FROM (
          SELECT doc_id AS u, doc_id // 2 AS v FROM docs WHERE doc_id >= 2
          UNION ALL
          SELECT doc_id, doc_id // 3 FROM docs WHERE doc_id >= 3)),
      chain(node, depth) AS (
        SELECT doc_id, 0 FROM docs
        UNION
        SELECT e.u, c.depth + 1
        FROM chain c JOIN edges e ON e.v = c.node
        WHERE c.depth < 10),
      layers AS (SELECT node, max(depth) AS layer FROM chain GROUP BY 1),
      hist AS (SELECT layer, count(*) AS n_nodes FROM layers GROUP BY 1),
      h AS (SELECT max(layer) AS height FROM layers)
      SELECT CAST(hi.layer AS BIGINT) AS layer,
             CAST(hi.n_nodes AS BIGINT) AS n_nodes,
             CAST(h.height AS BIGINT) AS height
      FROM hist hi, h ORDER BY layer""")),

    // TX27 — character-bigram conditional entropy per source: H(next
    // char | char) in bits over each source's text — the compressibility
    // proxy (low H ⟹ repetitive/templated content, high H ⟹ natural
    // prose or noise) that approximates a gzip-ratio quality signal
    // without any compressor in the engine. Bigrams come from a
    // length-bounded posexplode; counts are exact; each source's ≤
    // |alphabet|² double terms fold in (char, next) order (cs21's
    // discipline), and ln→bits is one division by ln(2).
    Q("tx27_char_bigram_entropy", (s, dir) => {
      val pairs = t(s, dir, "documents")
        // r15 (guide step 4, per-task work): split each document to a char
        // ARRAY once (O(n)) and read both bigram chars with element_at
        // (O(1) array index). The r14 form called substring(text, i, 2)
        // per position inside a transform — UTF8String.substring(i) scans
        // from the string start to find the codepoint offset, so the
        // per-doc cost was Σi = O(n²/2) scans plus an n-string array —
        // then re-substringed every exploded row twice more. Same
        // (source, c, nx) multiset: split('', -1)-semantics yield exactly
        // the n chars, and only docs with ≥ 2 chars produce bigrams in
        // either form (sequence() is never called with a descending range)
        .filter(length(col("text")) >= 2)
        .select(col("source"), split(col("text"), "").as("cs"))
        .select(col("source"), col("cs"),
          explode(expr("sequence(1, size(cs) - 1)")).as("i"))
        .select(col("source"),
          element_at(col("cs"), col("i")).as("c"),
          element_at(col("cs"), col("i") + 1).as("nx"))
        .groupBy("source", "c", "nx").agg(count(lit(1)).as("n"))
        .localCheckpoint() // feeds margins + fold
      val cm = pairs.groupBy(col("source").as("s2"), col("c").as("c2"))
        .agg(sum("n").as("nc"))
      val st = pairs.groupBy(col("source").as("s3"))
        .agg(sum("n").as("nt"))
      pairs
        .join(broadcast(cm), col("source") === col("s2") &&
          col("c") === col("c2"))
        .join(broadcast(st), col("source") === col("s3"))
        .select(col("source"), col("c"), col("nx"), col("nt"),
          (negate(col("n") / col("nt").cast("double")) *
            log(col("n") / col("nc").cast("double"))).as("term"))
        .groupBy("source", "nt")
        .agg(aggregate(transform(array_sort(collect_list(
          struct(col("c"), col("nx"), col("term")))),
          q => q.getField("term")), lit(0.0), (a, q) => a + q).as("h"))
        .selectExpr("source", "nt AS n_bigrams",
          "CAST(floor(1.0e6 * (h / ln(2.0e0))) AS BIGINT) AS h_bits_e6")
        .orderBy("source")
    }, Some("""
      WITH pairs AS (
        SELECT source, substr(bg, 1, 1) AS c, substr(bg, 2, 1) AS nx,
               count(*) AS n
        FROM (
          SELECT source,
                 unnest(list_transform(generate_series(1, len(text) - 1),
                   i -> substr(text, i, 2))) AS bg
          FROM documents)
        WHERE len(nx) = 1
        GROUP BY 1, 2, 3),
      cm AS (SELECT source AS s2, c AS c2, sum(n) AS nc
             FROM pairs GROUP BY 1, 2),
      st AS (SELECT source AS s3, sum(n) AS nt FROM pairs GROUP BY 1),
      terms AS (
        SELECT p.source, p.c, p.nx, st.nt,
               -(p.n / CAST(st.nt AS DOUBLE)) *
                 ln(p.n / CAST(cm.nc AS DOUBLE)) AS term
        FROM pairs p
        JOIN cm ON cm.s2 = p.source AND cm.c2 = p.c
        JOIN st ON st.s3 = p.source),
      f AS (
        SELECT source, nt, list_sum(list(term ORDER BY c, nx)) AS h
        FROM terms GROUP BY source, nt)
      SELECT source, CAST(nt AS BIGINT) AS n_bigrams,
             CAST(floor(1.0e6 * (h / ln(2.0e0))) AS BIGINT) AS h_bits_e6
      FROM f ORDER BY source""")),

    // W25 — period-to-date running totals: every day's MTD, QTD, and YTD
    // revenue in one pass — three windows sharing ONE day-grain sort,
    // partitioned by progressively coarser calendar keys (the BI
    // "to-date" family a date dimension exists to serve). Exact cents;
    // emitted at every 30th day to keep the graded output a calendar
    // sample while the windows stay frame-running.
    Q("w25_period_to_date", (s, dir) => {
      val daily = t(s, dir, "orders")
        .groupBy(to_date(col("o_orderdate")).as("dt"))
        .agg(sum(floor(col("o_totalprice") * 100).cast("long")).as("y"))
        .selectExpr("dt",
          "CAST(datediff(dt, DATE '1992-01-01') AS LONG) AS d",
          "CAST(year(dt) AS LONG) AS yr", "CAST(quarter(dt) AS LONG) AS q",
          "CAST(month(dt) AS LONG) AS mo", "y")
      def pt(ks: Seq[String]) = Window.partitionBy(ks.map(col): _*)
        .orderBy("d").rowsBetween(Window.unboundedPreceding,
          Window.currentRow)
      daily
        .withColumn("mtd", sum("y").over(pt(Seq("yr", "mo"))))
        .withColumn("qtd", sum("y").over(pt(Seq("yr", "q"))))
        .withColumn("ytd", sum("y").over(pt(Seq("yr"))))
        .filter(col("d") % 30 === 0)
        .selectExpr("d", "yr", "q", "mo", "y AS day_cents", "mtd", "qtd",
          "ytd")
        .orderBy("d")
    }, Some("""
      WITH daily AS (
        SELECT CAST(o_orderdate AS DATE) AS dt,
               sum(CAST(floor(o_totalprice * 100) AS BIGINT)) AS y
        FROM orders GROUP BY 1),
      k AS (
        SELECT dt, CAST(datediff('day', DATE '1992-01-01', dt) AS BIGINT)
                 AS d,
               CAST(year(dt) AS BIGINT) AS yr,
               CAST(quarter(dt) AS BIGINT) AS q,
               CAST(month(dt) AS BIGINT) AS mo, y
        FROM daily),
      r AS (
        SELECT d, yr, q, mo, y,
               sum(y) OVER (PARTITION BY yr, mo ORDER BY d ROWS BETWEEN
                 UNBOUNDED PRECEDING AND CURRENT ROW) AS mtd,
               sum(y) OVER (PARTITION BY yr, q ORDER BY d ROWS BETWEEN
                 UNBOUNDED PRECEDING AND CURRENT ROW) AS qtd,
               sum(y) OVER (PARTITION BY yr ORDER BY d ROWS BETWEEN
                 UNBOUNDED PRECEDING AND CURRENT ROW) AS ytd
        FROM k)
      SELECT d, yr, q, mo, CAST(y AS BIGINT) AS day_cents,
             CAST(mtd AS BIGINT) AS mtd, CAST(qtd AS BIGINT) AS qtd,
             CAST(ytd AS BIGINT) AS ytd
      FROM r WHERE d % 30 = 0 ORDER BY d""")),

    // OL8 — robust-location ladder for order values: plain mean, 10%-
    // trimmed mean, 10%-winsorized mean, and the deterministic lower
    // median, side by side — the one-row audit that says HOW MUCH the
    // tails move the center (mean far from trimmed ⟹ ol5/ol6's outliers
    // carry real mass). Rank bounds come from one integer-rank window;
    // every location is an exact scaled-integer division over exact cent
    // sums — no float quantiles.
    Q("ol8_robust_locations", (s, dir) => {
      val c = t(s, dir, "orders")
        .select(col("o_orderkey").as("k"),
          floor(col("o_totalprice") * 100).cast("long").as("c"))
      val ranked = c
        .select(col("c"), row_number().over(Window.orderBy("c", "k"))
          .cast("long").as("rn"))
        .crossJoin(broadcast(c.agg(count(lit(1)).as("n"))))
        .withColumn("lo", expr("n div 10L"))
        .withColumn("hi", expr("n - n div 10L"))
        .localCheckpoint() // feeds all four locations
      val med = ranked.filter(col("rn") === expr("(n + 1L) div 2L"))
        .selectExpr("c AS median_cents")
      val loVal = ranked.filter(col("rn") === col("lo") + 1)
        .selectExpr("c AS lo_c")
      val hiVal = ranked.filter(col("rn") === col("hi"))
        .selectExpr("c AS hi_c")
      val sums = ranked.agg(first("n").as("n"), sum("c").as("sc"),
        sum(when(col("rn") > col("lo") && col("rn") <= col("hi"),
          col("c")).otherwise(0L)).as("tsum"),
        sum(when(col("rn") > col("lo") && col("rn") <= col("hi"), 1L)
          .otherwise(0L)).as("tn"),
        sum(when(col("rn") <= col("lo"), 1L).otherwise(0L)).as("nlo"),
        sum(when(col("rn") > col("hi"), 1L).otherwise(0L)).as("nhi"))
      sums.crossJoin(broadcast(med)).crossJoin(broadcast(loVal))
        .crossJoin(broadcast(hiVal))
        .selectExpr("n", "sc * 1000000L div n AS mean_e6",
          "tsum * 1000000L div tn AS trimmed_e6",
          "(tsum + nlo * lo_c + nhi * hi_c) * 1000000L div n " +
            "AS winsorized_e6",
          "median_cents * 1000000L AS median_e6")
    }, Some("""
      WITH c AS (
        SELECT o_orderkey AS k,
               CAST(floor(o_totalprice * 100) AS BIGINT) AS c
        FROM orders),
      nn AS (SELECT count(*) AS n FROM c),
      ranked AS (
        SELECT c.c, CAST(row_number() OVER (ORDER BY c.c, c.k) AS BIGINT)
                 AS rn,
               nn.n, nn.n // 10 AS lo, nn.n - nn.n // 10 AS hi
        FROM c, nn),
      med AS (SELECT c AS median_cents FROM ranked
              WHERE rn = (n + 1) // 2),
      lov AS (SELECT c AS lo_c FROM ranked WHERE rn = lo + 1),
      hiv AS (SELECT c AS hi_c FROM ranked WHERE rn = hi),
      sums AS (
        SELECT any_value(n) AS n, sum(c) AS sc,
               sum(CASE WHEN rn > lo AND rn <= hi THEN c ELSE 0 END)
                 AS tsum,
               sum(CASE WHEN rn > lo AND rn <= hi THEN 1 ELSE 0 END)
                 AS tn,
               sum(CASE WHEN rn <= lo THEN 1 ELSE 0 END) AS nlo,
               sum(CASE WHEN rn > hi THEN 1 ELSE 0 END) AS nhi
        FROM ranked)
      SELECT CAST(s.n AS BIGINT) AS n,
             CAST(s.sc * 1000000 // s.n AS BIGINT) AS mean_e6,
             CAST(s.tsum * 1000000 // s.tn AS BIGINT) AS trimmed_e6,
             CAST((s.tsum + s.nlo * l.lo_c + s.nhi * h.hi_c) * 1000000
               // s.n AS BIGINT) AS winsorized_e6,
             CAST(m.median_cents * 1000000 AS BIGINT) AS median_e6
      FROM sums s, med m, lov l, hiv h""")),

    // F13 — Luhn checksum audit: validate 12-digit synthetic account
    // numbers (zero-padded orderkeys) against the Luhn mod-10 rule and
    // report the valid share plus the check digit that WOULD make each
    // prefix valid, for the first 10 keys — the verification step a PII
    // scanner (tx8) runs before treating a digit run as a live card
    // number. The doubled-digit fold is a bounded transform over exactly
    // 12 positions — pure integer arithmetic, identical on both engines.
    Q("f13_luhn_audit", (s, dir) => {
      val d = t(s, dir, "orders")
        .select(col("o_orderkey"),
          lpad(col("o_orderkey").cast("string"), 12, "0").as("num"))
      val luhn = d.selectExpr("o_orderkey", "num",
        // position i from the RIGHT (1-based): double every 2nd digit
        "aggregate(transform(sequence(1, 12), i -> " +
          "CASE WHEN i % 2 = 0 THEN " +
          "  CASE WHEN 2 * CAST(substring(num, 13 - i, 1) AS INT) > 9 " +
          "  THEN 2 * CAST(substring(num, 13 - i, 1) AS INT) - 9 " +
          "  ELSE 2 * CAST(substring(num, 13 - i, 1) AS INT) END " +
          "ELSE CAST(substring(num, 13 - i, 1) AS INT) END), " +
          "0, (a, x) -> a + x) AS digitsum")
      val flagged = luhn.selectExpr("o_orderkey", "num",
        "digitsum % 10 = 0 AS luhn_valid",
        // check digit that would validate the first 11 digits
        "CAST((10 - (digitsum - CAST(substring(num, 12, 1) AS INT)) " +
          "% 10) % 10 AS LONG) AS would_check")
      val summary = flagged.agg(count(lit(1)).as("n"),
        sum(when(col("luhn_valid"), 1L).otherwise(0L)).as("n_valid"))
      flagged.orderBy("o_orderkey").limit(10)
        .crossJoin(broadcast(summary))
        .selectExpr("o_orderkey", "num", "luhn_valid", "would_check",
          "n", "n_valid", "n_valid * 1000000L div n AS valid_share_e6")
        .orderBy("o_orderkey")
    }, Some("""
      WITH d AS (
        SELECT o_orderkey,
               lpad(CAST(o_orderkey AS VARCHAR), 12, '0') AS num
        FROM orders),
      luhn AS (
        SELECT o_orderkey, num,
               list_sum(list_transform(generate_series(1, 12), i ->
                 CASE WHEN i % 2 = 0 THEN
                   CASE WHEN 2 * CAST(substring(num, 13 - i, 1) AS INT) > 9
                   THEN 2 * CAST(substring(num, 13 - i, 1) AS INT) - 9
                   ELSE 2 * CAST(substring(num, 13 - i, 1) AS INT) END
                 ELSE CAST(substring(num, 13 - i, 1) AS INT) END))
                 AS digitsum
        FROM d),
      flagged AS (
        SELECT o_orderkey, num, digitsum % 10 = 0 AS luhn_valid,
               CAST((10 - (digitsum - CAST(substring(num, 12, 1) AS INT))
                 % 10) % 10 AS BIGINT) AS would_check
        FROM luhn),
      summary AS (
        SELECT count(*) AS n,
               sum(CASE WHEN luhn_valid THEN 1 ELSE 0 END) AS n_valid
        FROM flagged),
      top AS (SELECT * FROM flagged ORDER BY o_orderkey LIMIT 10)
      SELECT t.o_orderkey, t.num, t.luhn_valid, t.would_check,
             CAST(s.n AS BIGINT) AS n, CAST(s.n_valid AS BIGINT)
               AS n_valid,
             CAST(s.n_valid * 1000000 // s.n AS BIGINT)
               AS valid_share_e6
      FROM top t, summary s ORDER BY t.o_orderkey""")),

    // CS46 — index of dispersion for daily order arrivals: variance-to-
    // mean of per-day counts over the FULL calendar (empty days count as
    // zero via the missing-day correction, never a dense grid) — ≈1 is
    // Poisson traffic, ≫1 is bursty (w22's per-user spectrum, asked at
    // fleet grain). D = (n·Σc² − S²)/((n−1)·S) with n the CALENDAR span:
    // exact BIGINT arithmetic throughout, one day-grain aggregate and a
    // 1-row span broadcast.
    Q("cs46_arrival_dispersion", (s, dir) => {
      val daily = t(s, dir, "orders")
        .groupBy(datediff(to_date(col("o_orderdate")), lit("1992-01-01"))
          .cast("long").as("d"))
        .agg(count(lit(1)).as("c"))
      val span = daily.agg((max("d") - min("d") + 1).as("n_days"),
        count(lit(1)).as("active_days"), sum("c").as("s"),
        sum(col("c") * col("c")).as("ss"))
      // zero-count days contribute 0 to S and SS — only n changes
      span.selectExpr("n_days", "active_days", "s AS n_orders",
        "1000000L * (n_days * ss - s * s) div ((n_days - 1L) * s) " +
          "AS dispersion_e6",
        "s * 1000000L div n_days AS mean_per_day_e6")
    }, Some("""
      WITH daily AS (
        SELECT CAST(datediff('day', DATE '1992-01-01',
                 CAST(o_orderdate AS DATE)) AS BIGINT) AS d,
               count(*) AS c
        FROM orders GROUP BY 1),
      span AS (
        SELECT max(d) - min(d) + 1 AS n_days, count(*) AS active_days,
               sum(c) AS s, sum(c * c) AS ss
        FROM daily)
      SELECT CAST(n_days AS BIGINT) AS n_days,
             CAST(active_days AS BIGINT) AS active_days,
             CAST(s AS BIGINT) AS n_orders,
             CAST(1000000 * (n_days * ss - s * s)
               // ((n_days - 1) * s) AS BIGINT) AS dispersion_e6,
             CAST(s * 1000000 // n_days AS BIGINT) AS mean_per_day_e6
      FROM span""")),

    // K32 — copy-on-write vs merge-on-read amplification: on k28's
    // tombstoned file layout, what the SAME delete batch costs under
    // each strategy — CoW rewrites every touched file NOW (write
    // amplification = live bytes moved), MoR defers to read-time
    // anti-joins (read amplification = dead bytes scanned per full read)
    // — the numbers behind a table-format's merge-mode knob. One scan,
    // one 16-file aggregate, exact byte masses.
    Q("k32_cow_vs_mor", (s, dir) => {
      val docs = t(s, dir, "documents")
        .select(col("doc_id"), col("n_chars"),
          substring(md5(col("text")), 1, 1).isin("0", "1").as("del"))
        .localCheckpoint()
      val mx = docs.agg(max("doc_id").as("m"))
      val files = docs.crossJoin(broadcast(mx))
        .selectExpr("doc_id * 16L div (m + 1L) AS file", "n_chars",
          "del")
        .groupBy("file")
        .agg(count(lit(1)).as("rows"),
          sum(when(col("del"), 1L).otherwise(0L)).as("dels"),
          sum("n_chars").as("bytes"),
          sum(when(col("del"), col("n_chars")).otherwise(0L))
            .as("dead_bytes"))
      files.agg(count(lit(1)).as("n_files"),
          sum(when(col("dels") > 0, 1L).otherwise(0L)).as("touched_files"),
          sum("bytes").as("total_bytes"),
          sum(when(col("dels") > 0, col("bytes") - col("dead_bytes"))
            .otherwise(0L)).as("cow_write_bytes"),
          sum("dead_bytes").as("mor_dead_bytes"))
        .selectExpr("n_files", "touched_files", "total_bytes",
          "cow_write_bytes", "mor_dead_bytes",
          "cow_write_bytes * 1000000L div total_bytes AS cow_amp_e6",
          "mor_dead_bytes * 1000000L div total_bytes AS mor_amp_e6")
    }, Some("""
      WITH d AS (
        SELECT doc_id, n_chars,
               substr(md5(text), 1, 1) IN ('0', '1') AS del
        FROM documents),
      mx AS (SELECT max(doc_id) AS m FROM d),
      f AS (
        SELECT d.doc_id * 16 // (x.m + 1) AS file, d.n_chars, d.del
        FROM d, mx x),
      files AS (
        SELECT file, count(*) AS rows,
               sum(CASE WHEN del THEN 1 ELSE 0 END) AS dels,
               sum(n_chars) AS bytes,
               sum(CASE WHEN del THEN n_chars ELSE 0 END) AS dead_bytes
        FROM f GROUP BY 1),
      agg AS (
        SELECT count(*) AS n_files,
               sum(CASE WHEN dels > 0 THEN 1 ELSE 0 END) AS touched_files,
               sum(bytes) AS total_bytes,
               sum(CASE WHEN dels > 0 THEN bytes - dead_bytes ELSE 0 END)
                 AS cow_write_bytes,
               sum(dead_bytes) AS mor_dead_bytes
        FROM files)
      SELECT CAST(n_files AS BIGINT) AS n_files,
             CAST(touched_files AS BIGINT) AS touched_files,
             CAST(total_bytes AS BIGINT) AS total_bytes,
             CAST(cow_write_bytes AS BIGINT) AS cow_write_bytes,
             CAST(mor_dead_bytes AS BIGINT) AS mor_dead_bytes,
             CAST(cow_write_bytes * 1000000 // total_bytes AS BIGINT)
               AS cow_amp_e6,
             CAST(mor_dead_bytes * 1000000 // total_bytes AS BIGINT)
               AS mor_amp_e6
      FROM agg""")),

    // D13 — business-day order→ship lag histogram: working days between
    // order and ship dates by CLOSED FORM (full weeks × 5 + weekday-
    // offset correction — no per-day explode, no calendar table), the
    // SLA metric a fulfillment dashboard buckets on. The weekend
    // correction uses the day-of-week of the start date via epoch-day
    // mod 7 — pure integer arithmetic, identical on both engines.
    Q("d13_business_day_lag", (s, dir) => {
      val li = t(s, dir, "lineitem")
        .join(t(s, dir, "orders").select(col("o_orderkey")
          .as("l_orderkey"), to_date(col("o_orderdate")).as("od")),
          "l_orderkey")
        .selectExpr(
          "CAST(datediff(od, DATE '1992-01-01') AS LONG) AS d0",
          "CAST(datediff(to_date(l_shipdate), DATE '1992-01-01') " +
            "AS LONG) AS d1")
        .filter(col("d1") >= col("d0"))
        // 1992-01-01 is a Wednesday: dow 0..6 with 0 = Monday is
        // (d + 2) % 7; business days in [d0, d1) = full weeks × 5 +
        // weekdays among the (d1-d0) % 7 leftover days starting at d0's
        // dow
        .selectExpr("d1 - d0 AS cal_days", "(d0 + 2L) % 7L AS dw0")
        // Spark sequence(0, -1) DESCENDS instead of emptying — guard the
        // full-week case explicitly
        .selectExpr("cal_days", "dw0",
          "(cal_days div 7L) * 5L + CASE WHEN cal_days % 7L = 0L THEN 0L " +
            "ELSE aggregate(transform(sequence(0L, cal_days % 7L - 1L), " +
            "i -> CASE WHEN (dw0 + i) % 7 < 5 THEN 1L ELSE 0L END), " +
            "0L, (a, x) -> a + x) END AS bdays")
      li.groupBy("bdays").agg(count(lit(1)).as("n_lineitems"))
        .orderBy("bdays")
    }, Some("""
      WITH li AS (
        SELECT CAST(datediff('day', DATE '1992-01-01',
                 CAST(o.o_orderdate AS DATE)) AS BIGINT) AS d0,
               CAST(datediff('day', DATE '1992-01-01',
                 CAST(l.l_shipdate AS DATE)) AS BIGINT) AS d1
        FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
        WHERE CAST(l.l_shipdate AS DATE) >= CAST(o.o_orderdate AS DATE)),
      b AS (
        SELECT d1 - d0 AS cal_days, (d0 + 2) % 7 AS dw0 FROM li),
      c AS (
        SELECT (cal_days // 7) * 5 +
               coalesce(list_sum(list_transform(
                 generate_series(0, cal_days % 7 - 1),
                 i -> CASE WHEN (dw0 + i) % 7 < 5 THEN 1 ELSE 0 END)), 0)
                 AS bdays
        FROM b)
      SELECT CAST(bdays AS BIGINT) AS bdays,
             count(*) AS n_lineitems
      FROM c GROUP BY 1 ORDER BY bdays""")),

    // TS18 — discrete velocity/acceleration of monthly revenue and its
    // inflection count: first and second differences of the month series
    // (exact cents), the months where acceleration flips sign, and the
    // latest trend direction — the "is growth growing?" readout ts6's
    // smoothing constants presuppose. One bounded month window; sign
    // flips are integer products < 0, zeros skipped per the classical
    // rule.
    Q("ts18_revenue_inflections", (s, dir) => {
      val monthly = t(s, dir, "orders")
        .groupBy(expr("(year(to_date(o_orderdate)) - 1992) * 12 + " +
          "month(to_date(o_orderdate)) - 1").cast("long").as("m"))
        .agg(sum(floor(col("o_totalprice") * 100).cast("long")).as("y"))
      val w = Window.orderBy("m")
      val diffs = monthly
        .withColumn("vel", col("y") - lag("y", 1).over(w))
        .withColumn("acc", col("vel") - lag("vel", 1).over(w))
        .withColumn("pacc", lag("acc", 1).over(w))
      diffs
        .agg(count(lit(1)).as("n_months"),
          sum(when(col("acc").isNotNull && col("pacc").isNotNull &&
            col("acc") * col("pacc") < 0, 1L).otherwise(0L))
            .as("n_inflections"),
          sum(when(col("vel") > 0, 1L).otherwise(0L)).as("n_up_months"),
          max(struct(col("m"), col("vel"))).as("last"))
        .selectExpr("n_months", "n_inflections", "n_up_months",
          "last.m AS last_m",
          "CASE WHEN last.vel > 0 THEN 1L WHEN last.vel < 0 THEN -1L " +
            "ELSE 0L END AS last_trend")
    }, Some("""
      WITH monthly AS (
        SELECT CAST((year(CAST(o_orderdate AS DATE)) - 1992) * 12 +
                    month(CAST(o_orderdate AS DATE)) - 1 AS BIGINT) AS m,
               sum(CAST(floor(o_totalprice * 100) AS BIGINT)) AS y
        FROM orders GROUP BY 1),
      d AS (
        SELECT m, y, y - lag(y) OVER (ORDER BY m) AS vel
        FROM monthly),
      d2 AS (
        SELECT m, vel, vel - lag(vel) OVER (ORDER BY m) AS acc
        FROM d),
      d3 AS (
        SELECT m, vel, acc, lag(acc) OVER (ORDER BY m) AS pacc
        FROM d2)
      SELECT CAST(count(*) AS BIGINT) AS n_months,
             CAST(sum(CASE WHEN acc IS NOT NULL AND pacc IS NOT NULL
               AND acc * pacc < 0 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_inflections,
             CAST(sum(CASE WHEN vel > 0 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_up_months,
             CAST(max(m) AS BIGINT) AS last_m,
             CAST(CASE WHEN arg_max(vel, m) > 0 THEN 1
                       WHEN arg_max(vel, m) < 0 THEN -1
                       ELSE 0 END AS BIGINT) AS last_trend
      FROM d3""")),

    // CS47 — Yuen's trimmed t: do BUILDING and MACHINERY customers
    // differ in typical order value once 10% tails are trimmed — the
    // robust two-sample test cs13's z (means) and cs26's U (pure ranks)
    // bracket. Per-segment rank windows give the trim bounds; trimmed
    // means and WINSORIZED sums of squares are exact cents; the t
    // statistic composes the two variance terms as one sqrt. Output
    // includes both trimmed means so the direction is auditable.
    Q("cs47_yuen_trimmed_t", (s, dir) => {
      val o = t(s, dir, "orders")
        .join(t(s, dir, "customer").select(col("c_custkey")
          .as("o_custkey"), col("c_mktsegment").as("seg")), "o_custkey")
        .filter(col("seg").isin("BUILDING", "MACHINERY"))
        .select(col("seg"), col("o_orderkey").as("k"),
          floor(col("o_totalprice") * 100).cast("long").as("c"))
      val ranked = o
        .withColumn("rn", row_number().over(
          Window.partitionBy("seg").orderBy("c", "k")).cast("long"))
        .withColumn("n", count(lit(1)).over(
          Window.partitionBy("seg")).cast("long"))
        .withColumn("lo", expr("n div 10L"))
        .withColumn("hi", expr("n - n div 10L"))
        .localCheckpoint() // feeds bounds + winsor sums
      val bounds = ranked.filter(col("rn") === col("lo") + 1)
        .select(col("seg").as("s2"), col("c").as("lo_c"))
        .join(ranked.filter(col("rn") === col("hi"))
          .select(col("seg").as("s3"), col("c").as("hi_c")),
          col("s2") === col("s3"))
        .select(col("s2"), col("lo_c"), col("hi_c"))
      val stats = ranked.join(broadcast(bounds), col("seg") === col("s2"))
        .withColumn("wc", expr("greatest(lo_c, least(hi_c, c))"))
        .groupBy("seg", "n", "lo", "hi")
        .agg(sum(when(col("rn") > col("lo") && col("rn") <= col("hi"),
            col("c")).otherwise(0L)).as("tsum"),
          sum(col("wc").cast("decimal(38,0)") * col("wc")).as("wss"),
          sum(col("wc")).as("ws"))
        .selectExpr("seg", "n", "hi - lo AS h",
          "tsum * 1000000L div (hi - lo) AS tmean_e6",
          "CAST(n * wss - CAST(ws AS DECIMAL(38,0)) * ws AS DOUBLE) / " +
            "(CAST(n AS DOUBLE) * (n - 1)) AS wvar")
      val a = stats.filter(col("seg") === "BUILDING")
        .selectExpr("n AS n_a", "h AS h_a", "tmean_e6 AS tmean_a_e6",
          "wvar AS wvar_a")
      val b = stats.filter(col("seg") === "MACHINERY")
        .selectExpr("n AS n_b", "h AS h_b", "tmean_e6 AS tmean_b_e6",
          "wvar AS wvar_b")
      a.crossJoin(broadcast(b))
        .selectExpr("n_a", "n_b", "tmean_a_e6", "tmean_b_e6",
          "CAST(floor(1.0e6 * ((CAST(tmean_a_e6 - tmean_b_e6 AS DOUBLE) " +
            "/ 1.0e6) / sqrt((n_a - 1L) * wvar_a / (CAST(h_a AS DOUBLE) " +
            "* (h_a - 1)) + (n_b - 1L) * wvar_b / (CAST(h_b AS DOUBLE) " +
            "* (h_b - 1))))) AS BIGINT) AS t_e6")
    }, Some("""
      WITH o AS (
        SELECT c.c_mktsegment AS seg, o.o_orderkey AS k,
               CAST(floor(o.o_totalprice * 100) AS BIGINT) AS c
        FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
        WHERE c.c_mktsegment IN ('BUILDING', 'MACHINERY')),
      ranked AS (
        SELECT seg, k, c,
               CAST(row_number() OVER (PARTITION BY seg ORDER BY c, k)
                 AS BIGINT) AS rn,
               CAST(count(*) OVER (PARTITION BY seg) AS BIGINT) AS n
        FROM o),
      rb AS (
        SELECT *, n // 10 AS lo, n - n // 10 AS hi FROM ranked),
      bounds AS (
        SELECT l.seg AS s2, l.c AS lo_c, h.c AS hi_c
        FROM (SELECT seg, c FROM rb WHERE rn = lo + 1) l
        JOIN (SELECT seg, c FROM rb WHERE rn = hi) h ON h.seg = l.seg),
      stats AS (
        SELECT r.seg, r.n, r.hi - r.lo AS h,
               sum(CASE WHEN r.rn > r.lo AND r.rn <= r.hi THEN r.c
                   ELSE 0 END) * 1000000 // (r.hi - r.lo) AS tmean_e6,
               CAST(r.n * sum(CAST(greatest(b.lo_c, least(b.hi_c, r.c))
                 AS HUGEINT) * greatest(b.lo_c, least(b.hi_c, r.c))) -
                 CAST(sum(greatest(b.lo_c, least(b.hi_c, r.c)))
                 AS HUGEINT) * sum(greatest(b.lo_c, least(b.hi_c, r.c)))
                 AS DOUBLE) / (CAST(r.n AS DOUBLE) * (r.n - 1)) AS wvar
        FROM rb r JOIN bounds b ON b.s2 = r.seg
        GROUP BY r.seg, r.n, r.hi, r.lo),
      a AS (SELECT n AS n_a, h AS h_a, tmean_e6 AS tmean_a_e6,
                   wvar AS wvar_a
            FROM stats WHERE seg = 'BUILDING'),
      bb AS (SELECT n AS n_b, h AS h_b, tmean_e6 AS tmean_b_e6,
                    wvar AS wvar_b
             FROM stats WHERE seg = 'MACHINERY')
      SELECT CAST(n_a AS BIGINT) AS n_a, CAST(n_b AS BIGINT) AS n_b,
             CAST(tmean_a_e6 AS BIGINT) AS tmean_a_e6,
             CAST(tmean_b_e6 AS BIGINT) AS tmean_b_e6,
             CAST(floor(1.0e6 * ((CAST(tmean_a_e6 - tmean_b_e6 AS DOUBLE)
               / 1.0e6) / sqrt((n_a - 1) * wvar_a / (CAST(h_a AS DOUBLE)
               * (h_a - 1)) + (n_b - 1) * wvar_b / (CAST(h_b AS DOUBLE)
               * (h_b - 1))))) AS BIGINT) AS t_e6
      FROM a, bb""")),

    // W26 — XmR (individuals / moving-range) control chart on daily
    // revenue: center line, MR̄-derived limits (μ ± 2.66·MR̄ — the SPC
    // constant for n=2 subgroups), out-of-control day counts on both
    // sides, and the longest run above center (Western Electric rule 2's
    // raw ingredient) — statistical process control as one day-grain
    // window pass. Sums and run lengths are exact; the limits compose
    // once as doubles.
    Q("w26_xmr_control_chart", (s, dir) => {
      val daily = t(s, dir, "orders")
        .groupBy(datediff(to_date(col("o_orderdate")), lit("1992-01-01"))
          .cast("long").as("d"))
        .agg(sum(floor(col("o_totalprice") * 100).cast("long")).as("y"))
        .localCheckpoint() // feeds MR window + rescan
      val w = Window.orderBy("d")
      val mr = daily
        .withColumn("mrv", abs(col("y") - lag("y", 1).over(w)))
        .agg(count(lit(1)).as("n"), sum("y").as("sy"),
          sum("mrv").as("smr"),
          sum(when(col("mrv").isNotNull, 1L).otherwise(0L)).as("nmr"))
      val lim = mr.selectExpr("n", "sy", "smr", "nmr",
        "CAST(sy AS DOUBLE) / n AS center",
        "CAST(sy AS DOUBLE) / n + 2.66e0 * CAST(smr AS DOUBLE) / nmr " +
          "AS ucl",
        "CAST(sy AS DOUBLE) / n - 2.66e0 * CAST(smr AS DOUBLE) / nmr " +
          "AS lcl")
      val flagged = daily.crossJoin(broadcast(lim))
        .withColumn("above", col("y") > col("center"))
        .withColumn("grp", sum(when(col("y") > col("center"), 0L)
          .otherwise(1L)).over(w.rowsBetween(Window.unboundedPreceding,
            Window.currentRow)))
      val runs = flagged.filter(col("above"))
        .groupBy("grp").agg(count(lit(1)).as("len"))
        .agg(coalesce(max("len"), lit(0L)).as("longest_run_above"))
      flagged
        .agg(first("n").as("n_days"),
          sum(when(col("y") > col("ucl"), 1L).otherwise(0L))
            .as("n_above_ucl"),
          sum(when(col("y") < col("lcl"), 1L).otherwise(0L))
            .as("n_below_lcl"),
          first(expr("CAST(floor(center) AS LONG)")).as("center_cents"),
          first(expr("CAST(floor(ucl) AS LONG)")).as("ucl_cents"),
          first(expr("CAST(floor(lcl) AS LONG)")).as("lcl_cents"))
        .crossJoin(broadcast(runs))
    }, Some("""
      WITH daily AS (
        SELECT CAST(datediff('day', DATE '1992-01-01',
                 CAST(o_orderdate AS DATE)) AS BIGINT) AS d,
               sum(CAST(floor(o_totalprice * 100) AS BIGINT)) AS y
        FROM orders GROUP BY 1),
      mrt AS (
        SELECT count(*) AS n, sum(y) AS sy,
               sum(abs(y - py)) AS smr,
               sum(CASE WHEN py IS NOT NULL THEN 1 ELSE 0 END) AS nmr
        FROM (SELECT y, lag(y) OVER (ORDER BY d) AS py FROM daily)),
      lim AS (
        SELECT n, CAST(sy AS DOUBLE) / n AS center,
               CAST(sy AS DOUBLE) / n + 2.66e0 * CAST(smr AS DOUBLE)
                 / nmr AS ucl,
               CAST(sy AS DOUBLE) / n - 2.66e0 * CAST(smr AS DOUBLE)
                 / nmr AS lcl
        FROM mrt),
      flagged AS (
        SELECT d.d, d.y, l.n, l.center, l.ucl, l.lcl,
               d.y > l.center AS above,
               sum(CASE WHEN d.y > l.center THEN 0 ELSE 1 END)
                 OVER (ORDER BY d.d ROWS BETWEEN UNBOUNDED PRECEDING
                   AND CURRENT ROW) AS grp
        FROM daily d, lim l),
      runs AS (
        SELECT coalesce(max(len), 0) AS longest_run_above FROM (
          SELECT grp, count(*) AS len FROM flagged WHERE above
          GROUP BY grp)),
      agg AS (
        SELECT any_value(n) AS n_days,
               sum(CASE WHEN y > ucl THEN 1 ELSE 0 END) AS n_above_ucl,
               sum(CASE WHEN y < lcl THEN 1 ELSE 0 END) AS n_below_lcl,
               CAST(floor(any_value(center)) AS BIGINT) AS center_cents,
               CAST(floor(any_value(ucl)) AS BIGINT) AS ucl_cents,
               CAST(floor(any_value(lcl)) AS BIGINT) AS lcl_cents
        FROM flagged)
      SELECT CAST(a.n_days AS BIGINT) AS n_days,
             CAST(a.n_above_ucl AS BIGINT) AS n_above_ucl,
             CAST(a.n_below_lcl AS BIGINT) AS n_below_lcl,
             a.center_cents, a.ucl_cents, a.lcl_cents,
             CAST(r.longest_run_above AS BIGINT) AS longest_run_above
      FROM agg a, runs r""")),

    // CS48 — Hill tail-index estimator on the top-128 order values:
    // α̂⁻¹ = mean of ln(x_i / x_{k+1}) over the k largest observations —
    // the standard heavy-tail exponent (α ≈ Pareto shape) that says
    // whether revenue extremes follow a power law (cs4 asks this of word
    // frequencies; here it prices tail risk). Order statistics come from
    // one rank window; the k ln terms fold in rank order; α̂ and its
    // reciprocal are one double division each.
    Q("cs48_hill_tail_index", (s, dir) => {
      val k = 128
      val ranked = t(s, dir, "orders")
        .select(col("o_orderkey").as("kk"),
          floor(col("o_totalprice") * 100).cast("long").as("c"))
        .select(col("c"), row_number().over(
          Window.orderBy(col("c").desc, col("kk"))).cast("long").as("rn"))
        .filter(col("rn") <= k + 1)
        .localCheckpoint() // feeds pivot + fold
      val pivot = ranked.filter(col("rn") === k + 1)
        .selectExpr("c AS xk1")
      ranked.filter(col("rn") <= k)
        .crossJoin(broadcast(pivot))
        .select(col("rn"),
          log(col("c") / col("xk1").cast("double")).as("term"))
        .agg(aggregate(transform(array_sort(collect_list(
          struct(col("rn"), col("term")))), q => q.getField("term")),
          lit(0.0), (a, q) => a + q).as("hsum"))
        .crossJoin(broadcast(pivot))
        .selectExpr(s"${k}L AS k", "xk1 AS pivot_cents",
          s"CAST(floor(1.0e6 * (hsum / $k)) AS BIGINT) AS hill_inv_e6",
          s"CAST(floor(1.0e6 * ($k / hsum)) AS BIGINT) AS alpha_e6")
    }, Some("""
      WITH ranked AS (
        SELECT CAST(floor(o_totalprice * 100) AS BIGINT) AS c,
               CAST(row_number() OVER (ORDER BY
                 CAST(floor(o_totalprice * 100) AS BIGINT) DESC,
                 o_orderkey) AS BIGINT) AS rn
        FROM orders),
      pv AS (SELECT c AS xk1 FROM ranked WHERE rn = 129),
      terms AS (
        SELECT r.rn, ln(r.c / CAST(p.xk1 AS DOUBLE)) AS term
        FROM ranked r, pv p WHERE r.rn <= 128),
      f AS (SELECT list_sum(list(term ORDER BY rn)) AS hsum FROM terms)
      SELECT CAST(128 AS BIGINT) AS k,
             CAST(p.xk1 AS BIGINT) AS pivot_cents,
             CAST(floor(1.0e6 * (f.hsum / 128)) AS BIGINT)
               AS hill_inv_e6,
             CAST(floor(1.0e6 * (128 / f.hsum)) AS BIGINT) AS alpha_e6
      FROM f, pv p""")),

    // MB5 — ABC inventory classification of parts by revenue: rank parts
    // by lineitem revenue, classify by cumulative share (A ≤ 80% < B ≤
    // 95% < C — exact integer cross-multiplication, w24's move at part
    // grain), and report each class's part count and revenue mass. The
    // slotting/assortment rollup every ops dashboard carries; one
    // part-grain sort, no float shares.
    Q("mb5_abc_classification", (s, dir) => {
      val pr = t(s, dir, "lineitem")
        .groupBy(col("l_partkey").as("pk"))
        .agg(sum(floor(col("l_extendedprice") * 100).cast("long"))
          .as("rev"))
        .localCheckpoint()
      val ranked = pr
        .select(col("pk"), col("rev"), row_number().over(
          Window.orderBy(col("rev").desc, col("pk"))).cast("long")
          .as("rn"))
        .withColumn("cum", sum("rev").over(Window.orderBy("rn")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      ranked.crossJoin(broadcast(pr.agg(sum("rev").as("tot"))))
        .selectExpr("pk", "rev",
          "CASE WHEN (cum - rev) * 100 < tot * 80L THEN 'A' " +
            "WHEN (cum - rev) * 100 < tot * 95L THEN 'B' " +
            "ELSE 'C' END AS abc", "tot")
        .groupBy("abc", "tot")
        .agg(count(lit(1)).as("n_parts"), sum("rev").as("class_rev"))
        .selectExpr("abc", "n_parts", "class_rev",
          "class_rev * 1000000L div tot AS rev_share_e6")
        .orderBy("abc")
    }, Some("""
      WITH pr AS (
        SELECT l_partkey AS pk,
               sum(CAST(floor(l_extendedprice * 100) AS BIGINT)) AS rev
        FROM lineitem GROUP BY 1),
      ranked AS (
        SELECT pk, rev,
               sum(rev) OVER (ORDER BY rev DESC, pk ROWS BETWEEN
                 UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
        FROM pr),
      tot AS (SELECT sum(rev) AS tot FROM pr),
      cls AS (
        SELECT r.pk, r.rev,
               CASE WHEN (r.cum - r.rev) * 100 < t.tot * 80 THEN 'A'
                    WHEN (r.cum - r.rev) * 100 < t.tot * 95 THEN 'B'
                    ELSE 'C' END AS abc, t.tot
        FROM ranked r, tot t)
      SELECT abc, CAST(count(*) AS BIGINT) AS n_parts,
             CAST(sum(rev) AS BIGINT) AS class_rev,
             CAST(sum(rev) * 1000000 // any_value(tot) AS BIGINT)
               AS rev_share_e6
      FROM cls GROUP BY abc ORDER BY abc""")),

    // KM2 — Nelson–Aalen cumulative hazard on km1's spells (weeks until a
    // customer's second order, right-censored at the horizon): H(t) =
    // Σ d/n over event weeks plus its variance Σ d/n² — the estimator of
    // choice when the hazard (not the survival curve) is the quantity of
    // interest, and the additive twin that avoids km1's log/exp entirely.
    // The risk table is exact integers; the two cumulative sums fold in
    // week order on both engines (identical summation sequence), floored
    // at e6/e9. Scale shape: one per-customer window, week-grain bounded
    // output — same as km1.
    Q("km2_nelson_aalen", (s, dir) => {
      val wC = Window.partitionBy("o_custkey").orderBy("d", "o_orderkey")
      val firstTwo = t(s, dir, "orders")
        .select(col("o_custkey"), col("o_orderkey"),
          to_date(col("o_orderdate")).as("d"))
        .withColumn("rn", row_number().over(wC))
        .filter(col("rn") <= 2)
        .groupBy("o_custkey")
        .agg(min(when(col("rn") === 1, col("d"))).as("d1"),
          min(when(col("rn") === 2, col("d"))).as("d2"))
      val horizon = t(s, dir, "orders")
        .agg(max(to_date(col("o_orderdate"))).as("hz"))
      val spells = firstTwo.crossJoin(broadcast(horizon))
        .selectExpr(
          "CASE WHEN d2 IS NOT NULL THEN datediff(d2, d1) div 7 " +
            "ELSE datediff(hz, d1) div 7 END AS tw",
          "CASE WHEN d2 IS NOT NULL THEN 1L ELSE 0L END AS ev")
      val weekly = spells.groupBy("tw")
        .agg(sum("ev").as("d"), sum(lit(1L) - col("ev")).as("c"))
      val wT = Window.orderBy("tw")
      weekly
        .withColumn("n_risk", sum(col("d") + col("c")).over(
          wT.rowsBetween(Window.unboundedPreceding,
            Window.unboundedFollowing)) - coalesce(
          sum(col("d") + col("c")).over(
            wT.rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
        .withColumn("h_e6", floor(lit(1.0e6) * sum(
          col("d").cast("double") / col("n_risk"))
          .over(wT.rowsBetween(Window.unboundedPreceding,
            Window.currentRow))).cast("long"))
        .withColumn("var_e9", floor(lit(1.0e9) * sum(
          col("d").cast("double") / (col("n_risk") * col("n_risk")))
          .over(wT.rowsBetween(Window.unboundedPreceding,
            Window.currentRow))).cast("long"))
        .select(col("tw"), col("n_risk"), col("d"), col("c"),
          col("h_e6"), col("var_e9"))
        .orderBy("tw")
    }, Some("""
      WITH ft AS (
        SELECT o_custkey,
               min(CASE WHEN rn = 1 THEN d END) AS d1,
               min(CASE WHEN rn = 2 THEN d END) AS d2
        FROM (
          SELECT o_custkey, CAST(o_orderdate AS DATE) AS d,
                 row_number() OVER (PARTITION BY o_custkey
                   ORDER BY CAST(o_orderdate AS DATE), o_orderkey) AS rn
          FROM orders) WHERE rn <= 2 GROUP BY 1),
      hz AS (SELECT max(CAST(o_orderdate AS DATE)) AS hz FROM orders),
      spells AS (
        SELECT CASE WHEN d2 IS NOT NULL
                 THEN datediff('day', d1, d2) // 7
                 ELSE datediff('day', d1, hz) // 7 END AS tw,
               CASE WHEN d2 IS NOT NULL THEN 1 ELSE 0 END AS ev
        FROM ft, hz),
      weekly AS (
        SELECT tw, CAST(sum(ev) AS BIGINT) AS d,
               CAST(sum(1 - ev) AS BIGINT) AS c
        FROM spells GROUP BY 1),
      risk AS (
        SELECT tw, d, c,
               sum(d + c) OVER () - coalesce(sum(d + c) OVER (ORDER BY tw
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                 AS n_risk
        FROM weekly)
      SELECT CAST(tw AS BIGINT) AS tw, CAST(n_risk AS BIGINT) AS n_risk,
             d, c,
             CAST(floor(1.0e6 * sum(CAST(d AS DOUBLE) / n_risk)
               OVER (ORDER BY tw ROWS BETWEEN UNBOUNDED PRECEDING AND
                 CURRENT ROW)) AS BIGINT) AS h_e6,
             CAST(floor(1.0e9 * sum(CAST(d AS DOUBLE) /
                 (n_risk * n_risk))
               OVER (ORDER BY tw ROWS BETWEEN UNBOUNDED PRECEDING AND
                 CURRENT ROW)) AS BIGINT) AS var_e9
      FROM risk ORDER BY tw""")),

    // KM3 — two-sample log-rank test: does the BUILDING market segment
    // reach its second order on a different schedule than everyone else?
    // At each event week the observed group-1 deaths are compared with
    // the hypergeometric expectation d·n1/n and variance
    // d·(n1/n)·(n2/n)·(n−d)/(n−1); χ² = (O1−E1)²/ΣV. The risk tables are
    // exact integers from ONE conditional aggregation (no per-group
    // grids); the two double sums fold in week order via the sorted-array
    // fold (cs48's move) so both engines add in the same sequence.
    Q("km3_logrank_test", (s, dir) => {
      val wC = Window.partitionBy("o_custkey").orderBy("d", "o_orderkey")
      val firstTwo = t(s, dir, "orders")
        .select(col("o_custkey"), col("o_orderkey"),
          to_date(col("o_orderdate")).as("d"))
        .withColumn("rn", row_number().over(wC))
        .filter(col("rn") <= 2)
        .groupBy("o_custkey")
        .agg(min(when(col("rn") === 1, col("d"))).as("d1"),
          min(when(col("rn") === 2, col("d"))).as("d2"))
      val seg = t(s, dir, "customer")
        .select(col("c_custkey").as("o_custkey"),
          when(col("c_mktsegment") === "BUILDING", 1L).otherwise(0L)
            .as("g"))
      val horizon = t(s, dir, "orders")
        .agg(max(to_date(col("o_orderdate"))).as("hz"))
      val spells = firstTwo.join(seg, "o_custkey")
        .crossJoin(broadcast(horizon))
        .selectExpr(
          "CASE WHEN d2 IS NOT NULL THEN datediff(d2, d1) div 7 " +
            "ELSE datediff(hz, d1) div 7 END AS tw",
          "CASE WHEN d2 IS NOT NULL THEN 1L ELSE 0L END AS ev", "g")
      val weekly = spells.groupBy("tw")
        .agg(sum("ev").as("d"), sum(col("ev") * col("g")).as("dg"),
          sum(lit(1L) - col("ev")).as("c"),
          sum((lit(1L) - col("ev")) * col("g")).as("cg"))
      val wT = Window.orderBy("tw")
      def nRisk(dc: org.apache.spark.sql.Column) =
        sum(dc).over(wT.rowsBetween(Window.unboundedPreceding,
          Window.unboundedFollowing)) - coalesce(
          sum(dc).over(wT.rowsBetween(Window.unboundedPreceding, -1)),
          lit(0L))
      val terms = weekly
        .withColumn("n", nRisk(col("d") + col("c")))
        .withColumn("n1", nRisk(col("dg") + col("cg")))
        .filter(col("d") > 0 && col("n") > 1)
        .selectExpr("tw", "d", "dg",
          "CAST(d AS DOUBLE) * n1 / n AS e1",
          "CAST(d AS DOUBLE) * n1 * (n - n1) * (n - d) " +
            "/ (CAST(n AS DOUBLE) * n * (n - 1)) AS v")
      def foldBy(field: String) =
        aggregate(transform(array_sort(collect_list(
          struct(col("tw"), col(field)))), q => q.getField(field)),
          lit(0.0), (a, q) => a + q)
      terms
        .agg(count(lit(1)).as("n_event_weeks"), sum("dg").as("o1"),
          foldBy("e1").as("se1"), foldBy("v").as("sv"))
        .selectExpr("n_event_weeks", "o1",
          "CAST(floor(1.0e6 * se1) AS BIGINT) AS e1_e6",
          "CAST(floor(1.0e6 * sv) AS BIGINT) AS v_e6",
          "CAST(floor(1.0e6 * (CAST(o1 AS DOUBLE) - se1) * (o1 - se1) " +
            "/ sv) AS BIGINT) AS chi2_e6")
    }, Some("""
      WITH ft AS (
        SELECT o_custkey,
               min(CASE WHEN rn = 1 THEN d END) AS d1,
               min(CASE WHEN rn = 2 THEN d END) AS d2
        FROM (
          SELECT o_custkey, CAST(o_orderdate AS DATE) AS d,
                 row_number() OVER (PARTITION BY o_custkey
                   ORDER BY CAST(o_orderdate AS DATE), o_orderkey) AS rn
          FROM orders) WHERE rn <= 2 GROUP BY 1),
      hz AS (SELECT max(CAST(o_orderdate AS DATE)) AS hz FROM orders),
      spells AS (
        SELECT CASE WHEN d2 IS NOT NULL
                 THEN datediff('day', f.d1, f.d2) // 7
                 ELSE datediff('day', f.d1, hz) // 7 END AS tw,
               CASE WHEN d2 IS NOT NULL THEN 1 ELSE 0 END AS ev,
               CASE WHEN c.c_mktsegment = 'BUILDING' THEN 1 ELSE 0 END
                 AS g
        FROM ft f JOIN customer c ON c.c_custkey = f.o_custkey, hz),
      weekly AS (
        SELECT tw, CAST(sum(ev) AS BIGINT) AS d,
               CAST(sum(ev * g) AS BIGINT) AS dg,
               CAST(sum(1 - ev) AS BIGINT) AS c,
               CAST(sum((1 - ev) * g) AS BIGINT) AS cg
        FROM spells GROUP BY 1),
      risk AS (
        SELECT tw, d, dg,
               sum(d + c) OVER () - coalesce(sum(d + c) OVER (ORDER BY tw
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                 AS n,
               sum(dg + cg) OVER () - coalesce(sum(dg + cg)
                 OVER (ORDER BY tw ROWS BETWEEN UNBOUNDED PRECEDING AND
                   1 PRECEDING), 0) AS n1
        FROM weekly),
      terms AS (
        SELECT tw, d, dg,
               CAST(d AS DOUBLE) * n1 / n AS e1,
               CAST(d AS DOUBLE) * n1 * (n - n1) * (n - d)
                 / (CAST(n AS DOUBLE) * n * (n - 1)) AS v
        FROM risk WHERE d > 0 AND n > 1),
      f AS (
        SELECT CAST(count(*) AS BIGINT) AS n_event_weeks,
               CAST(sum(dg) AS BIGINT) AS o1,
               list_sum(list(e1 ORDER BY tw)) AS se1,
               list_sum(list(v ORDER BY tw)) AS sv
        FROM terms)
      SELECT n_event_weeks, o1,
             CAST(floor(1.0e6 * se1) AS BIGINT) AS e1_e6,
             CAST(floor(1.0e6 * sv) AS BIGINT) AS v_e6,
             CAST(floor(1.0e6 * (o1 - se1) * (o1 - se1) / sv) AS BIGINT)
               AS chi2_e6
      FROM f""")),

    // TS19 — Ljung–Box portmanteau test on the daily event-count series:
    // Q(m) = n(n+2)·Σ_{k≤m} ρ̂ₖ²/(n−k) over lags 1–10 — the standard
    // "is there ANY autocorrelation left" gate applied after ts1/ts6
    // detrending decisions. The ACF is computed in EXACT integers by
    // clearing denominators: with residual rₜ = n·xₜ − Σx, ρₖ =
    // Σ rₜ·rₜ₋ₖ / Σ rₜ² (the n² factors cancel) — the only doubles are
    // the m per-lag divisions and the cumulative Q, which accumulates in
    // lag order over a 10-row window. Day-grain bounds the integer
    // magnitudes (documented; HUGEINT on the DuckDB side); the lag
    // pairing is a rank self-join of the bounded day table against a
    // 10-row literal, never corpus×corpus.
    Q("ts19_ljung_box", (s, dir) => {
      val m = 10
      val days = t(s, dir, "events")
        .groupBy(to_date(col("ts")).as("day"))
        .agg(count(lit(1)).as("x"))
        .select(col("x"), row_number().over(Window.orderBy("day"))
          .cast("long").as("rn"))
        .localCheckpoint() // feeds totals + both join sides
      val tot = days.agg(count(lit(1)).as("n"), sum("x").as("sx"))
      val r = days.crossJoin(broadcast(tot))
        .select(col("rn"), (col("n") * col("x") - col("sx")).as("res"),
          col("n"))
      val ss = r.agg(sum(col("res") * col("res")).as("ss"))
      import s.implicits._
      val lags = (1 to m).map(k => Tuple1(k.toLong)).toDF("k")
      val byLag = r.crossJoin(broadcast(lags))
        .join(r.select(col("rn").as("prn"), col("res").as("pres")),
          expr("prn = rn - k"))
        .groupBy("k")
        .agg(count(lit(1)).as("n_pairs"),
          sum(col("res") * col("pres")).as("a"), first("n").as("n"))
      val wK = Window.orderBy("k")
      byLag.crossJoin(broadcast(ss))
        .withColumn("rho", col("a").cast("double") / col("ss"))
        .withColumn("q_e6", floor(lit(1.0e6) * col("n") * (col("n") + 2)
          * sum(col("rho") * col("rho") / (col("n") - col("k")))
            .over(wK.rowsBetween(Window.unboundedPreceding,
              Window.currentRow))).cast("long"))
        .select(col("k"), col("n_pairs"),
          floor(lit(1.0e6) * col("rho")).cast("long").as("rho_e6"),
          col("q_e6"))
        .orderBy("k")
    }, Some("""
      WITH days AS (
        SELECT CAST(count(*) AS BIGINT) AS x,
               CAST(row_number() OVER (ORDER BY CAST(ts AS DATE))
                 AS BIGINT) AS rn
        FROM events GROUP BY CAST(ts AS DATE)),
      tot AS (SELECT count(*) AS n, sum(x) AS sx FROM days),
      r AS (SELECT rn, n * x - sx AS res, n FROM days, tot),
      ss AS (SELECT sum(CAST(res AS HUGEINT) * res) AS ss FROM r),
      ks AS (SELECT CAST(unnest(generate_series(1, 10)) AS BIGINT) AS k),
      bylag AS (
        SELECT k, CAST(count(*) AS BIGINT) AS n_pairs,
               sum(CAST(a.res AS HUGEINT) * b.res) AS a,
               any_value(a.n) AS n
        FROM r a, ks, r b
        WHERE b.rn = a.rn - k
        GROUP BY k)
      SELECT k, n_pairs,
             CAST(floor(1.0e6 * (CAST(a AS DOUBLE) / CAST(ss AS DOUBLE)))
               AS BIGINT) AS rho_e6,
             CAST(floor(1.0e6 * n * (n + 2) * sum(
               (CAST(a AS DOUBLE) / CAST(ss AS DOUBLE)) *
               (CAST(a AS DOUBLE) / CAST(ss AS DOUBLE)) / (n - k))
               OVER (ORDER BY k ROWS BETWEEN UNBOUNDED PRECEDING AND
                 CURRENT ROW)) AS BIGINT) AS q_e6
      FROM bylag, ss ORDER BY k""")),

    // W27 — maximum drawdown of the cumulative revenue-vs-run-rate curve:
    // equity_t = Σ_{u≤t}(n·rev_u − Σrev) is the exact-integer cumulative
    // deviation from the average daily run-rate (denominators cleared,
    // ts19's move), its running max is the high-water mark, and the
    // largest peak-to-trough gap is the worst sustained underperformance
    // streak — finance's drawdown lens pointed at revenue pacing. All
    // integers until the final div-by-n rescale to cents; trough day is
    // the FIRST day attaining the max gap (deterministic tie-break).
    // Day-grain windows over the bounded day table only.
    Q("w27_max_drawdown", (s, dir) => {
      val daily = t(s, dir, "orders")
        .groupBy(datediff(to_date(col("o_orderdate")), lit("1992-01-01"))
          .cast("long").as("d"))
        .agg(sum(floor(col("o_totalprice") * 100).cast("long")).as("y"))
      val tot = daily.agg(count(lit(1)).as("n"), sum("y").as("sy"))
      val wD = Window.orderBy("d")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val curve = daily.crossJoin(broadcast(tot))
        .withColumn("e", sum(col("n") * col("y") - col("sy")).over(wD))
        .withColumn("dd", max("e").over(wD) - col("e"))
      val mx = curve.agg(max("dd").as("maxdd"))
      curve.crossJoin(broadcast(mx))
        .agg(first("n").as("n_days"),
          first("maxdd").as("max_dd_n"),
          expr("first(maxdd div n)").as("max_dd_cents"),
          min(when(col("dd") === col("maxdd"), col("d")))
            .as("trough_d"),
          sum(when(col("dd") > 0, 1L).otherwise(0L)).as("n_underwater"))
    }, Some("""
      WITH daily AS (
        SELECT CAST(datediff('day', DATE '1992-01-01',
                 CAST(o_orderdate AS DATE)) AS BIGINT) AS d,
               sum(CAST(floor(o_totalprice * 100) AS BIGINT)) AS y
        FROM orders GROUP BY 1),
      tot AS (SELECT count(*) AS n, sum(y) AS sy FROM daily),
      curve AS (
        SELECT d, n,
               sum(n * y - sy) OVER (ORDER BY d ROWS BETWEEN UNBOUNDED
                 PRECEDING AND CURRENT ROW) AS e
        FROM daily, tot),
      dd AS (
        SELECT d, n,
               max(e) OVER (ORDER BY d ROWS BETWEEN UNBOUNDED PRECEDING
                 AND CURRENT ROW) - e AS dd
        FROM curve),
      mx AS (SELECT max(dd) AS maxdd FROM dd)
      SELECT CAST(any_value(n) AS BIGINT) AS n_days,
             CAST(any_value(maxdd) AS BIGINT) AS max_dd_n,
             CAST(any_value(maxdd) // any_value(n) AS BIGINT)
               AS max_dd_cents,
             CAST(min(CASE WHEN dd = maxdd THEN d END) AS BIGINT)
               AS trough_d,
             CAST(sum(CASE WHEN dd > 0 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_underwater
      FROM dd, mx""")),

    // CS49 — peak session concurrency + Little's-law occupancy audit:
    // 30-minute-gap sessions per user become [start, end] second-grain
    // intervals; `SweepLine.concurrency` (two-level distributed prefix
    // sum — delta rows never cross a global window) gives the running
    // open-session count; the graded row is the capacity-planning
    // summary: peak concurrency, first second it's reached, total busy
    // seconds, and average occupancy busy/span — which IS Little's L=λW
    // with both sides measured. Session timestamps floor the epoch on
    // both engines (the w11 pitfall).
    Q("cs49_peak_concurrency", (s, dir) => {
      val wU = Window.partitionBy("user_id").orderBy("ts2", "event_id")
      val sess = t(s, dir, "events")
        .select(col("user_id"), col("event_id"),
          col("ts").cast("long").as("ts2"))
        .withColumn("ns", when(col("ts2") - lag("ts2", 1).over(wU) <= 1800,
          0L).otherwise(1L))
        .withColumn("sid", sum("ns").over(
          wU.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .groupBy("user_id", "sid")
        .agg(min("ts2").as("st"), max("ts2").as("en"))
      val conc = graft.operators.SweepLine.concurrency(sess, "st", "en")
        .localCheckpoint() // feeds peak + first-peak scans
      val pk = conc.agg(max("conc").as("peak"))
      val tp = conc.join(broadcast(pk), col("conc") === col("peak"))
        .agg(min("t").as("t_peak"), first("peak").as("peak_conc"))
      sess
        .agg(count(lit(1)).as("n_sessions"),
          sum(col("en") - col("st") + 1).as("busy_s"),
          (max("en") + 1 - min("st")).as("span_s"))
        .crossJoin(broadcast(tp))
        .selectExpr("n_sessions", "busy_s", "span_s",
          "busy_s * 1000000L div span_s AS avg_conc_e6",
          "peak_conc", "t_peak")
    }, Some("""
      WITH ev AS (
        SELECT user_id, event_id, CAST(floor(epoch(ts)) AS BIGINT) AS t
        FROM events),
      lagd AS (
        SELECT user_id, event_id, t,
               CASE WHEN t - lag(t) OVER (PARTITION BY user_id
                 ORDER BY t, event_id) <= 1800 THEN 0 ELSE 1 END AS ns
        FROM ev),
      sid AS (
        SELECT user_id, t,
               sum(ns) OVER (PARTITION BY user_id ORDER BY t, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
        FROM lagd),
      sess AS (
        SELECT user_id, sid, min(t) AS st, max(t) AS en
        FROM sid GROUP BY 1, 2),
      deltas AS (
        SELECT st AS t, 1 AS delta FROM sess
        UNION ALL SELECT en + 1, -1 FROM sess),
      run AS (
        SELECT t, delta,
               sum(delta) OVER (ORDER BY t, delta DESC ROWS BETWEEN
                 UNBOUNDED PRECEDING AND CURRENT ROW) AS conc
        FROM deltas),
      pk AS (SELECT max(conc) AS peak FROM run),
      tp AS (SELECT min(t) AS t_peak, any_value(peak) AS peak_conc
             FROM run, pk WHERE conc = peak),
      st AS (SELECT count(*) AS n_sessions, sum(en - st + 1) AS busy_s,
                    max(en) + 1 - min(st) AS span_s FROM sess)
      SELECT CAST(n_sessions AS BIGINT) AS n_sessions,
             CAST(busy_s AS BIGINT) AS busy_s,
             CAST(span_s AS BIGINT) AS span_s,
             CAST(busy_s * 1000000 // span_s AS BIGINT) AS avg_conc_e6,
             CAST(peak_conc AS BIGINT) AS peak_conc,
             CAST(t_peak AS BIGINT) AS t_peak
      FROM st, tp""")),

    // W28 — tail-risk panel on the day-over-day revenue change: exact
    // historical VaR95 (the ceil(0.05·n)-th smallest daily P&L, an
    // integer order statistic — no interpolation ambiguity), CVaR95 (the
    // mean of that tail, one double division over an exact integer sum),
    // and the Sharpe-style mean/σ ratio with both moments folded in day
    // order (cs48's sorted-array fold — identical summation sequence on
    // both engines; day-grain keeps the collect bounded). P&L stays in
    // exact cents; doubles appear only in the three final ratios.
    Q("w28_tail_risk", (s, dir) => {
      val daily = t(s, dir, "orders")
        .groupBy(datediff(to_date(col("o_orderdate")), lit("1992-01-01"))
          .cast("long").as("d"))
        .agg(sum(floor(col("o_totalprice") * 100).cast("long")).as("y"))
      val wD = Window.orderBy("d")
      val pnl = daily
        .withColumn("pnl", col("y") - lag("y", 1).over(wD))
        .filter(col("pnl").isNotNull)
        .select(col("d"), col("pnl"))
        .localCheckpoint() // feeds rank + moment folds
      val n = pnl.count // day-grain bounded; drives the exact tail rank
      val k = (n + 19) / 20
      val ranked = pnl.select(col("pnl"), row_number().over(
        Window.orderBy(col("pnl"), col("d"))).cast("long").as("rn"))
      val tail = ranked.filter(col("rn") <= k)
        .agg(max("pnl").as("var95_cents"), sum("pnl").as("tail_sum"))
      def foldBy(field: String) =
        aggregate(transform(array_sort(collect_list(
          struct(col("d"), col(field)))), q => q.getField(field)),
          lit(0.0), (a, q) => a + q)
      val moments = pnl
        .withColumn("p1", col("pnl").cast("double"))
        .withColumn("p2", col("pnl").cast("double") * col("pnl"))
        .agg(foldBy("p1").as("sp"), foldBy("p2").as("sq"))
      moments.crossJoin(broadcast(tail))
        .selectExpr(s"${n}L AS n_days", s"${k}L AS k_tail",
          "var95_cents", "tail_sum",
          s"CAST(floor(1.0e2 * tail_sum / ${k}L) AS BIGINT) AS cvar_e2",
          s"CAST(floor(1.0e6 * (sp / ${n}L) / sqrt((sq - sp * sp / ${n}L)" +
            s" / (${n}L - 1))) AS BIGINT) AS sharpe_e6")
    }, Some("""
      WITH daily AS (
        SELECT CAST(datediff('day', DATE '1992-01-01',
                 CAST(o_orderdate AS DATE)) AS BIGINT) AS d,
               sum(CAST(floor(o_totalprice * 100) AS BIGINT)) AS y
        FROM orders GROUP BY 1),
      pnl AS (
        SELECT d, pnl FROM (
          SELECT d, y - lag(y) OVER (ORDER BY d) AS pnl FROM daily)
        WHERE pnl IS NOT NULL),
      nn AS (SELECT count(*) AS n, (count(*) + 19) // 20 AS k FROM pnl),
      ranked AS (
        SELECT pnl, CAST(row_number() OVER (ORDER BY pnl, d) AS BIGINT)
                 AS rn
        FROM pnl),
      tail AS (
        SELECT max(pnl) AS var95_cents, sum(pnl) AS tail_sum
        FROM ranked, nn WHERE rn <= k),
      moments AS (
        SELECT list_sum(list(CAST(pnl AS DOUBLE) ORDER BY d)) AS sp,
               list_sum(list(CAST(pnl AS DOUBLE) * pnl ORDER BY d)) AS sq
        FROM pnl)
      SELECT CAST(n AS BIGINT) AS n_days, CAST(k AS BIGINT) AS k_tail,
             CAST(var95_cents AS BIGINT) AS var95_cents,
             CAST(tail_sum AS BIGINT) AS tail_sum,
             CAST(floor(1.0e2 * tail_sum / k) AS BIGINT) AS cvar_e2,
             CAST(floor(1.0e6 * (sp / n) / sqrt((sq - sp * sp / n)
               / (n - 1))) AS BIGINT) AS sharpe_e6
      FROM moments, tail, nn""")),

    // ML16 — weight-of-evidence / information value of the length feature
    // against the src0 label: the credit-scoring screen that ranks a
    // candidate feature BEFORE any training run (IV < 0.02 useless,
    // > 0.3 strong). Counts are exact integers; the Laplace-smoothed
    // (+0.5) densities and ln-odds are per-bin doubles over the bounded
    // bin table, and IV accumulates in bin order. Corpus-grain work is
    // one groupBy(bin); everything after is 17-row algebra.
    Q("ml16_information_value", (s, dir) => {
      val base = t(s, dir, "documents")
        .select(least(expr("n_chars div 64"), lit(16L)).as("bin"),
          when(col("source") === "src0", 1L).otherwise(0L).as("y"))
      val bins = base.groupBy("bin")
        .agg(count(lit(1)).as("n"), sum("y").as("n_pos"),
          sum(lit(1L) - col("y")).as("n_neg"))
      val tot = bins.agg(sum("n_pos").as("p"), sum("n_neg").as("q"),
        count(lit(1)).as("b"))
      val wB = Window.orderBy("bin")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      bins.crossJoin(broadcast(tot))
        .withColumn("dp",
          (col("n_pos") + lit(0.5)) / (col("p") + lit(0.5) * col("b")))
        .withColumn("dn",
          (col("n_neg") + lit(0.5)) / (col("q") + lit(0.5) * col("b")))
        .withColumn("woe_e6",
          floor(lit(1.0e6) * log(col("dp") / col("dn"))).cast("long"))
        .withColumn("iv_cum_e6", floor(lit(1.0e6) * sum(
          (col("dp") - col("dn")) * log(col("dp") / col("dn"))).over(wB))
          .cast("long"))
        .select(col("bin"), col("n"), col("n_pos"), col("n_neg"),
          col("woe_e6"), col("iv_cum_e6"))
        .orderBy("bin")
    }, Some("""
      WITH base AS (
        SELECT least(n_chars // 64, 16) AS bin,
               CASE WHEN source = 'src0' THEN 1 ELSE 0 END AS y
        FROM documents),
      bins AS (
        SELECT bin, CAST(count(*) AS BIGINT) AS n,
               CAST(sum(y) AS BIGINT) AS n_pos,
               CAST(sum(1 - y) AS BIGINT) AS n_neg
        FROM base GROUP BY 1),
      tot AS (SELECT sum(n_pos) AS p, sum(n_neg) AS q, count(*) AS b
              FROM bins),
      woe AS (
        SELECT bin, n, n_pos, n_neg,
               (n_pos + 5.0e-1) / (p + 5.0e-1 * b) AS dp,
               (n_neg + 5.0e-1) / (q + 5.0e-1 * b) AS dn
        FROM bins, tot)
      SELECT CAST(bin AS BIGINT) AS bin, n, n_pos, n_neg,
             CAST(floor(1.0e6 * ln(dp / dn)) AS BIGINT) AS woe_e6,
             CAST(floor(1.0e6 * sum((dp - dn) * ln(dp / dn))
               OVER (ORDER BY bin ROWS BETWEEN UNBOUNDED PRECEDING AND
                 CURRENT ROW)) AS BIGINT) AS iv_cum_e6
      FROM woe ORDER BY bin""")),

    // ML17 — gains / lift table: rank documents by the length score
    // (descending, doc_id tie-break), cut into 10 exact rank deciles, and
    // report each decile's positive capture and lift vs the base rate —
    // the campaign-targeting readout every scored model ships with. The
    // WHOLE table is integer cross-multiplication (no float shares), and
    // the corpus-grain rank comes from `Ranking.globalRowNumber`'s
    // two-level prefix sum — no single-partition global window (the key
    // is reflected, C − n_chars, because div-sharding needs non-negative
    // keys).
    Q("ml17_gains_table", (s, dir) => {
      val scored = t(s, dir, "documents")
        .select(col("doc_id"),
          (lit(1000000000L) - col("n_chars")).as("kdesc"),
          when(col("source") === "src0", 1L).otherwise(0L).as("y"))
      val ranked = graft.operators.Ranking.globalRowNumber(
        scored, col("kdesc"), col("doc_id"))
      val tot = ranked.agg(count(lit(1)).as("nt"), sum("y").as("pt"))
      val dec = ranked.crossJoin(broadcast(tot))
        .selectExpr("(rn - 1) * 10L div nt AS decile", "y", "nt", "pt")
        .groupBy("decile", "nt", "pt")
        .agg(count(lit(1)).as("n"), sum("y").as("n_pos"))
      val wD = Window.orderBy("decile")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      dec.withColumn("cum_pos", sum("n_pos").over(wD))
        .selectExpr("decile", "n", "n_pos",
          "cum_pos * 1000000L div pt AS capture_e6",
          "n_pos * nt * 1000000L div (n * pt) AS lift_e6")
        .orderBy("decile")
    }, Some("""
      WITH scored AS (
        SELECT doc_id, 1000000000 - n_chars AS kdesc,
               CASE WHEN source = 'src0' THEN 1 ELSE 0 END AS y
        FROM documents),
      ranked AS (
        SELECT y, CAST(row_number() OVER (ORDER BY kdesc, doc_id)
          AS BIGINT) AS rn
        FROM scored),
      tot AS (SELECT count(*) AS nt, sum(y) AS pt FROM ranked),
      dec AS (
        SELECT (rn - 1) * 10 // nt AS decile,
               CAST(count(*) AS BIGINT) AS n,
               CAST(sum(y) AS BIGINT) AS n_pos,
               any_value(nt) AS nt, any_value(pt) AS pt
        FROM ranked, tot GROUP BY 1)
      SELECT CAST(decile AS BIGINT) AS decile, n, n_pos,
             CAST(sum(n_pos) OVER (ORDER BY decile ROWS BETWEEN UNBOUNDED
               PRECEDING AND CURRENT ROW) * 1000000 // pt AS BIGINT)
               AS capture_e6,
             CAST(n_pos * nt * 1000000 // (n * pt) AS BIGINT) AS lift_e6
      FROM dec ORDER BY decile""")),

    // ML18 — Murphy decomposition of the Brier score for the PIT-uniform
    // forecast p = rank/n (rank of n_chars): reliability (calibration
    // error), resolution (how much the bins separate the base rate), and
    // uncertainty — the proper-scoring-rule accounting that says WHY a
    // probabilistic score is good or bad. The trick is denominator
    // clearing: with p = rn/n, every squared term is an EXACT integer
    // ((rn − y·n)², (Σrn − n·Σy)², (n·Σy − pos·n_k)²) and doubles appear
    // only in the ten per-bin divisions, folded in bin order. The rank is
    // `Ranking.globalRowNumber`'s two-level prefix sum — corpus rows never
    // cross a global window.
    Q("ml18_brier_decomposition", (s, dir) => {
      val base = t(s, dir, "documents")
        .select(col("doc_id"), col("n_chars"),
          when(col("source") === "src0", 1L).otherwise(0L).as("y"))
      val ranked = graft.operators.Ranking.globalRowNumber(
        base, col("n_chars"), col("doc_id"))
      val tot = ranked.agg(count(lit(1)).as("n"), sum("y").as("pos"))
      val bins = ranked.crossJoin(broadcast(tot))
        .selectExpr("(rn - 1) * 10L div n AS k", "rn", "y", "n", "pos")
        .groupBy("k", "n", "pos")
        .agg(count(lit(1)).as("nk"), sum("rn").as("srn"),
          sum("y").as("syk"),
          sum(expr("(rn - y * n) * (rn - y * n)")).as("sq"))
      val terms = bins.selectExpr("k", "n", "pos", "sq",
        "CAST(srn - n * syk AS DOUBLE) * (srn - n * syk) / (n * n * nk)" +
          " AS relt",
        "CAST(n * syk - pos * nk AS DOUBLE) * (n * syk - pos * nk)" +
          " / (n * n * nk) AS rest")
      def foldBy(field: String) =
        aggregate(transform(array_sort(collect_list(
          struct(col("k"), col(field)))), q => q.getField(field)),
          lit(0.0), (a, q) => a + q)
      terms
        .agg(first("n").as("n"), first("pos").as("pos"),
          sum("sq").as("sqt"),
          foldBy("relt").as("srel"), foldBy("rest").as("sres"))
        .selectExpr("n", "pos",
          "CAST(floor(1.0e6 * CAST(sqt AS DOUBLE) / n / n / n) AS BIGINT)" +
            " AS brier_e6",
          "CAST(floor(1.0e6 * srel / n) AS BIGINT) AS rel_e6",
          "CAST(floor(1.0e6 * sres / n) AS BIGINT) AS res_e6",
          "CAST(floor(1.0e6 * CAST(pos AS DOUBLE) * (n - pos)" +
            " / (CAST(n AS DOUBLE) * n)) AS BIGINT) AS unc_e6")
    }, Some("""
      WITH base AS (
        SELECT doc_id, n_chars,
               CASE WHEN source = 'src0' THEN 1 ELSE 0 END AS y
        FROM documents),
      ranked AS (
        SELECT y, CAST(row_number() OVER (ORDER BY n_chars, doc_id)
          AS BIGINT) AS rn
        FROM base),
      tot AS (SELECT count(*) AS n, sum(y) AS pos FROM ranked),
      bins AS (
        SELECT (rn - 1) * 10 // n AS k, any_value(n) AS n,
               any_value(pos) AS pos, CAST(count(*) AS BIGINT) AS nk,
               CAST(sum(rn) AS BIGINT) AS srn,
               CAST(sum(y) AS BIGINT) AS syk,
               CAST(sum((rn - y * n) * (rn - y * n)) AS BIGINT) AS sq
        FROM ranked, tot GROUP BY 1),
      terms AS (
        SELECT k, n, pos, sq,
               CAST(srn - n * syk AS DOUBLE) * (srn - n * syk)
                 / (n * n * nk) AS relt,
               CAST(n * syk - pos * nk AS DOUBLE) * (n * syk - pos * nk)
                 / (n * n * nk) AS rest
        FROM bins),
      f AS (
        SELECT any_value(n) AS n, any_value(pos) AS pos,
               CAST(sum(sq) AS BIGINT) AS sqt,
               list_sum(list(relt ORDER BY k)) AS srel,
               list_sum(list(rest ORDER BY k)) AS sres
        FROM terms)
      SELECT CAST(n AS BIGINT) AS n, CAST(pos AS BIGINT) AS pos,
             CAST(floor(1.0e6 * CAST(sqt AS DOUBLE) / n / n / n)
               AS BIGINT) AS brier_e6,
             CAST(floor(1.0e6 * srel / n) AS BIGINT) AS rel_e6,
             CAST(floor(1.0e6 * sres / n) AS BIGINT) AS res_e6,
             CAST(floor(1.0e6 * CAST(pos AS DOUBLE) * (n - pos)
               / (CAST(n AS DOUBLE) * n)) AS BIGINT) AS unc_e6
      FROM f""")),

    // K33 — rendezvous (highest-random-weight) routing audit: every
    // customer key routes to the node with the max md5(node|key) over 8
    // nodes, and AGAIN over the 7 survivors after node 7 is drained. HRW's
    // selling point is graded as data: per node, the key count under both
    // layouts and how many of ITS keys moved — minimal disruption means
    // only node 7's keys move (the spec asserts it; here the per-node
    // n_moved column shows it). The argmax is `max_by` over the hex hash
    // (bytewise string order on both engines); the 8× key explosion is
    // scan-side, the aggregate is keyed by customer — no global state
    // anywhere, which is exactly why HRW is the 100 TB router.
    Q("k33_rendezvous_routing", (s, dir) => {
      val owners = t(s, dir, "customer")
        .select(col("c_custkey"),
          explode(sequence(lit(0L), lit(7L))).as("node"))
        .withColumn("h", md5(concat(lit("node"),
          col("node").cast("string"), lit("|"),
          col("c_custkey").cast("string"))))
        .groupBy("c_custkey")
        .agg(expr("max_by(node, h)").as("owner8"),
          expr("max_by(node, h) FILTER (WHERE node < 7)").as("owner7"))
        .localCheckpoint() // feeds both layout rollups
      val by8 = owners.groupBy(col("owner8").as("node"))
        .agg(count(lit(1)).as("n_keys8"),
          sum(when(col("owner8") =!= col("owner7"), 1L).otherwise(0L))
            .as("n_moved"))
      val by7 = owners.groupBy(col("owner7").as("node"))
        .agg(count(lit(1)).as("n_keys7"))
      val tot = owners.agg(count(lit(1)).as("nt"))
      by8.join(by7, Seq("node"), "left")
        .withColumn("n_keys7", coalesce(col("n_keys7"), lit(0L)))
        .crossJoin(broadcast(tot))
        .selectExpr("node", "n_keys8", "n_keys7", "n_moved",
          "n_keys8 * 8000000L div nt AS load8_e6")
        .orderBy("node")
    }, Some("""
      WITH owners AS (
        SELECT c_custkey,
               max_by(node, h) AS owner8,
               max_by(node, h) FILTER (WHERE node < 7) AS owner7
        FROM (
          SELECT c_custkey, node,
                 md5(concat('node', CAST(node AS VARCHAR), '|',
                   CAST(c_custkey AS VARCHAR))) AS h
          FROM customer,
               (SELECT CAST(unnest(generate_series(0, 7)) AS BIGINT)
                  AS node))
        GROUP BY 1),
      by8 AS (
        SELECT owner8 AS node, CAST(count(*) AS BIGINT) AS n_keys8,
               CAST(sum(CASE WHEN owner8 <> owner7 THEN 1 ELSE 0 END)
                 AS BIGINT) AS n_moved
        FROM owners GROUP BY 1),
      by7 AS (
        SELECT owner7 AS node, CAST(count(*) AS BIGINT) AS n_keys7
        FROM owners GROUP BY 1),
      tot AS (SELECT count(*) AS nt FROM owners)
      SELECT CAST(b8.node AS BIGINT) AS node, b8.n_keys8,
             coalesce(b7.n_keys7, 0) AS n_keys7, b8.n_moved,
             CAST(b8.n_keys8 * 8000000 // nt AS BIGINT) AS load8_e6
      FROM by8 b8 LEFT JOIN by7 b7 ON b8.node = b7.node, tot
      ORDER BY 1""")),

    // K34 — l-diversity audit on k21's quasi-identifier classes
    // (nation × balance band) with market segment as the sensitive
    // attribute: a class that is k-anonymous but shows ONE segment still
    // leaks; l = distinct sensitive values per class is the first-order
    // fix (Machanavajjhala et al.). Graded as the l-histogram — how many
    // classes (and rows) sit at each diversity level — pure integer
    // aggregation, two groupBys deep.
    Q("k34_l_diversity", (s, dir) => {
      t(s, dir, "customer")
        .groupBy(col("c_nationkey").cast("long").as("nat"),
          floor(col("c_acctbal") / 1000).cast("long").as("bal_band"))
        .agg(countDistinct("c_mktsegment").cast("long").as("l"),
          count(lit(1)).as("sz"))
        .groupBy("l")
        .agg(count(lit(1)).as("n_classes"), sum("sz").as("n_rows"))
        .orderBy("l")
    }, Some("""
      WITH cls AS (
        SELECT CAST(c_nationkey AS BIGINT) AS nat,
               CAST(floor(c_acctbal / 1000) AS BIGINT) AS bal_band,
               CAST(count(DISTINCT c_mktsegment) AS BIGINT) AS l,
               count(*) AS sz
        FROM customer GROUP BY 1, 2)
      SELECT l, CAST(count(*) AS BIGINT) AS n_classes,
             CAST(sum(sz) AS BIGINT) AS n_rows
      FROM cls GROUP BY 1 ORDER BY 1""")),

    // K35 — t-closeness audit: total-variation distance between each
    // QI-class's segment distribution and the global one, banded WITHOUT
    // float comparisons. The missing-category trick keeps it one join:
    // Σ_all |c/NC − g/NG| = (NC·NG + Σ_present(|c·NG − g·NC| − g·NC))
    // / (NC·NG) since absent segments contribute exactly g·NC — so the
    // numerator is an exact integer from the PRESENT (class, seg) rows
    // only, band edges are integer cross-multiplications, and the one
    // double is the reported max TVD per band. Scale shape: one
    // (class, seg) groupBy, a 5-row broadcast, class-grain algebra.
    Q("k35_t_closeness", (s, dir) => {
      val cust = t(s, dir, "customer")
        .select(col("c_nationkey").cast("long").as("nat"),
          floor(col("c_acctbal") / 1000).cast("long").as("bal_band"),
          col("c_mktsegment").as("seg"))
      val cs = cust.groupBy("nat", "bal_band", "seg")
        .agg(count(lit(1)).as("c"))
      val g = cust.groupBy("seg").agg(count(lit(1)).as("gc"))
      val ng = cust.agg(count(lit(1)).as("ng"))
      val nc = cs.groupBy("nat", "bal_band").agg(sum("c").as("nc"))
      val adj = cs.join(broadcast(g), "seg").join(nc, Seq("nat", "bal_band"))
        .crossJoin(broadcast(ng))
        .groupBy("nat", "bal_band", "nc", "ng")
        .agg(sum(abs(col("c") * col("ng") - col("gc") * col("nc"))
          - col("gc") * col("nc")).as("adj"))
        .withColumn("num", col("nc") * col("ng") + col("adj"))
      adj.select(
        when(col("num") * 5 <= col("nc") * col("ng") * 2, "1_tvd_le_20")
          .when(col("num") * 100 <= col("nc") * col("ng") * 70,
            "2_tvd_le_35")
          .when(col("num") <= col("nc") * col("ng"), "3_tvd_le_50")
          .otherwise("4_tvd_gt_50").as("band"),
        col("nc"),
        expr("CAST(floor(1.0e6 * num / (2 * nc * ng)) AS BIGINT)")
          .as("tvd_e6"))
        .groupBy("band")
        .agg(count(lit(1)).as("n_classes"), sum("nc").as("n_rows"),
          max("tvd_e6").as("max_tvd_e6"))
        .orderBy("band")
    }, Some("""
      WITH cust AS (
        SELECT CAST(c_nationkey AS BIGINT) AS nat,
               CAST(floor(c_acctbal / 1000) AS BIGINT) AS bal_band,
               c_mktsegment AS seg
        FROM customer),
      cs AS (SELECT nat, bal_band, seg, CAST(count(*) AS BIGINT) AS c
             FROM cust GROUP BY 1, 2, 3),
      g AS (SELECT seg, CAST(count(*) AS BIGINT) AS gc
            FROM cust GROUP BY 1),
      ng AS (SELECT count(*) AS ng FROM cust),
      nc AS (SELECT nat, bal_band, CAST(sum(c) AS BIGINT) AS nc
             FROM cs GROUP BY 1, 2),
      adj AS (
        SELECT cs.nat, cs.bal_band, any_value(nc.nc) AS nc,
               any_value(ng.ng) AS ng,
               CAST(sum(abs(cs.c * ng.ng - g.gc * nc.nc)
                 - g.gc * nc.nc) AS BIGINT) AS adj
        FROM cs JOIN g ON cs.seg = g.seg
          JOIN nc ON cs.nat = nc.nat AND cs.bal_band = nc.bal_band, ng
        GROUP BY 1, 2),
      scored AS (
        SELECT nc, nc * ng + adj AS num, ng FROM adj)
      SELECT CASE WHEN num * 5 <= nc * ng * 2 THEN '1_tvd_le_20'
                  WHEN num * 100 <= nc * ng * 70 THEN '2_tvd_le_35'
                  WHEN num <= nc * ng THEN '3_tvd_le_50'
                  ELSE '4_tvd_gt_50' END AS band,
             CAST(count(*) AS BIGINT) AS n_classes,
             CAST(sum(nc) AS BIGINT) AS n_rows,
             max(CAST(floor(1.0e6 * num / (2 * nc * ng)) AS BIGINT))
               AS max_tvd_e6
      FROM scored GROUP BY 1 ORDER BY 1""")),

    // TS20 — permutation entropy (Bandt–Pompe) of the daily revenue
    // series at order 3: each day's ordinal pattern among (xₜ, xₜ₊₁,
    // xₜ₊₂) — ranks only, so the statistic is invariant to monotone
    // rescaling and EXACT integer comparisons on cents decide every
    // pattern (ties break to the earlier index, the standard
    // convention). Low entropy = predictable motif structure; ~ln 6 =
    // noise. Pattern counting is two leads over the bounded day table;
    // the entropy accumulates over ≤6 pattern rows in code order.
    Q("ts20_permutation_entropy", (s, dir) => {
      val daily = t(s, dir, "orders")
        .groupBy(datediff(to_date(col("o_orderdate")), lit("1992-01-01"))
          .cast("long").as("d"))
        .agg(sum(floor(col("o_totalprice") * 100).cast("long")).as("x"))
      val wD = Window.orderBy("d")
      val pats = daily
        .withColumn("x1", lead("x", 1).over(wD))
        .withColumn("x2", lead("x", 2).over(wD))
        .filter(col("x2").isNotNull)
        .selectExpr(
          "CAST((CASE WHEN x1 < x THEN 1 ELSE 0 END " +
            "+ CASE WHEN x2 < x THEN 1 ELSE 0 END) * 9 " +
          "+ (CASE WHEN x <= x1 THEN 1 ELSE 0 END " +
            "+ CASE WHEN x2 < x1 THEN 1 ELSE 0 END) * 3 " +
          "+ (CASE WHEN x <= x2 THEN 1 ELSE 0 END " +
            "+ CASE WHEN x1 <= x2 THEN 1 ELSE 0 END) AS BIGINT) AS code")
      val counts = pats.groupBy("code").agg(count(lit(1)).as("n"))
      val tot = counts.agg(sum("n").as("nt"))
      val wC = Window.orderBy("code")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      counts.crossJoin(broadcast(tot))
        .withColumn("h_cum_e6", floor(lit(1.0e6) * sum(
          (col("n").cast("double") / col("nt")) *
            -log(col("n").cast("double") / col("nt"))).over(wC))
          .cast("long"))
        .selectExpr("code", "n", "n * 1000000L div nt AS p_e6",
          "h_cum_e6")
        .orderBy("code")
    }, Some("""
      WITH daily AS (
        SELECT CAST(datediff('day', DATE '1992-01-01',
                 CAST(o_orderdate AS DATE)) AS BIGINT) AS d,
               sum(CAST(floor(o_totalprice * 100) AS BIGINT)) AS x
        FROM orders GROUP BY 1),
      led AS (
        SELECT x, lead(x, 1) OVER (ORDER BY d) AS x1,
               lead(x, 2) OVER (ORDER BY d) AS x2
        FROM daily),
      pats AS (
        SELECT (CASE WHEN x1 < x THEN 1 ELSE 0 END
                 + CASE WHEN x2 < x THEN 1 ELSE 0 END) * 9
             + (CASE WHEN x <= x1 THEN 1 ELSE 0 END
                 + CASE WHEN x2 < x1 THEN 1 ELSE 0 END) * 3
             + (CASE WHEN x <= x2 THEN 1 ELSE 0 END
                 + CASE WHEN x1 <= x2 THEN 1 ELSE 0 END) AS code
        FROM led WHERE x2 IS NOT NULL),
      counts AS (SELECT code, CAST(count(*) AS BIGINT) AS n
                 FROM pats GROUP BY 1),
      tot AS (SELECT sum(n) AS nt FROM counts)
      SELECT CAST(code AS BIGINT) AS code, n,
             CAST(n * 1000000 // nt AS BIGINT) AS p_e6,
             CAST(floor(1.0e6 * sum((CAST(n AS DOUBLE) / nt) *
               -ln(CAST(n AS DOUBLE) / nt)) OVER (ORDER BY code
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
               AS BIGINT) AS h_cum_e6
      FROM counts, tot ORDER BY code""")),

    // MB6 — newsvendor stocking level: with underage:overage cost 3:1
    // the optimal order is the 75% critical fractile of daily demand —
    // the smallest q with F(q) ≥ 0.75, i.e. the ceil(0.75·n)-th order
    // statistic, an EXACT rank pick (no quantile interpolation to
    // disagree on). Graded beside it: the realized integer cost of
    // stocking q* vs stocking the naive mean — the classic "mean is not
    // the answer" demonstration, all in exact units. Day-grain ranks;
    // two 1-row policy broadcasts back onto the day table.
    Q("mb6_newsvendor", (s, dir) => {
      val daily = t(s, dir, "lineitem")
        .groupBy(to_date(col("l_shipdate")).as("day"))
        .agg(sum(floor(col("l_quantity")).cast("long")).as("dem"))
        .localCheckpoint() // feeds rank, mean, and cost scans
      val wR = Window.orderBy(col("dem"), col("day"))
      val ranked = daily.select(col("dem"),
        row_number().over(wR).cast("long").as("rn"))
      val tot = daily.agg(count(lit(1)).as("n"), sum("dem").as("sd"))
      val pol = ranked.crossJoin(broadcast(tot))
        .filter(col("rn") === expr("(n * 3 + 3) div 4"))
        .selectExpr("dem AS q_star", "sd div n AS q_mean", "n AS n_days")
      daily.crossJoin(broadcast(pol))
        .agg(first("n_days").as("n_days"),
          first("q_star").as("q_star"), first("q_mean").as("q_mean"),
          sum(greatest(col("dem") - col("q_star"), lit(0L)) * 3 +
            greatest(col("q_star") - col("dem"), lit(0L)))
            .as("cost_qstar"),
          sum(greatest(col("dem") - col("q_mean"), lit(0L)) * 3 +
            greatest(col("q_mean") - col("dem"), lit(0L)))
            .as("cost_qmean"))
        .withColumn("saving", col("cost_qmean") - col("cost_qstar"))
    }, Some("""
      WITH daily AS (
        SELECT CAST(l_shipdate AS DATE) AS day,
               sum(CAST(floor(l_quantity) AS BIGINT)) AS dem
        FROM lineitem GROUP BY 1),
      ranked AS (
        SELECT dem, CAST(row_number() OVER (ORDER BY dem, day) AS BIGINT)
                 AS rn
        FROM daily),
      tot AS (SELECT count(*) AS n, sum(dem) AS sd FROM daily),
      pol AS (
        SELECT dem AS q_star, sd // n AS q_mean, n AS n_days
        FROM ranked, tot WHERE rn = (n * 3 + 3) // 4)
      SELECT CAST(any_value(n_days) AS BIGINT) AS n_days,
             CAST(any_value(q_star) AS BIGINT) AS q_star,
             CAST(any_value(q_mean) AS BIGINT) AS q_mean,
             CAST(sum(greatest(dem - q_star, 0) * 3 +
               greatest(q_star - dem, 0)) AS BIGINT) AS cost_qstar,
             CAST(sum(greatest(dem - q_mean, 0) * 3 +
               greatest(q_mean - dem, 0)) AS BIGINT) AS cost_qmean,
             CAST(sum(greatest(dem - q_mean, 0) * 3 +
               greatest(q_mean - dem, 0)) -
               sum(greatest(dem - q_star, 0) * 3 +
               greatest(q_star - dem, 0)) AS BIGINT) AS saving
      FROM daily, pol""")),

    // W29 — Bollinger-band breakouts on daily revenue (20-day window,
    // ±2σ) with ZERO floats: the breakout test (w·x − S)² > 4·(w·Q − S²)
    // is the band inequality cross-multiplied through — S and Q are
    // exact rolling integer sums of dollars and squared dollars, so
    // population variance, the ±2σ edges, and every breakout verdict
    // are integer-exact (dollars, not cents, keep (w·x−S)² inside a
    // BIGINT at these SFs — documented bound). Emits the breakout days
    // only, with side and the rolling mean. One day-grain window pass.
    Q("w29_bollinger_breakouts", (s, dir) => {
      val w = 20
      val daily = t(s, dir, "orders")
        .groupBy(datediff(to_date(col("o_orderdate")), lit("1992-01-01"))
          .cast("long").as("d"))
        .agg(sum(floor(col("o_totalprice")).cast("long")).as("x"))
      val wD = Window.orderBy("d").rowsBetween(-(w - 1), 0)
      daily
        .withColumn("nw", count(lit(1)).over(wD))
        .withColumn("sw", sum("x").over(wD))
        .withColumn("qw", sum(col("x") * col("x")).over(wD))
        .filter(col("nw") === w)
        .selectExpr("d", "x", "sw",
          s"$w * x - sw AS dev", s"$w * qw - sw * sw AS varn")
        .filter(col("dev") * col("dev") > lit(4L) * col("varn"))
        .selectExpr("d", "x",
          "CASE WHEN dev > 0 THEN 'up' ELSE 'down' END AS side",
          s"sw * 100 div $w AS ma_e2")
        .orderBy("d")
    }, Some("""
      WITH daily AS (
        SELECT CAST(datediff('day', DATE '1992-01-01',
                 CAST(o_orderdate AS DATE)) AS BIGINT) AS d,
               sum(CAST(floor(o_totalprice) AS BIGINT)) AS x
        FROM orders GROUP BY 1),
      roll AS (
        SELECT d, x,
               count(*) OVER w20 AS nw,
               sum(x) OVER w20 AS sw,
               sum(x * x) OVER w20 AS qw
        FROM daily
        WINDOW w20 AS (ORDER BY d ROWS BETWEEN 19 PRECEDING AND
          CURRENT ROW)),
      dev AS (
        SELECT d, x, sw, 20 * x - sw AS dev, 20 * qw - sw * sw AS varn
        FROM roll WHERE nw = 20)
      SELECT d, CAST(x AS BIGINT) AS x,
             CASE WHEN dev > 0 THEN 'up' ELSE 'down' END AS side,
             CAST(sw * 100 // 20 AS BIGINT) AS ma_e2
      FROM dev WHERE dev * dev > 4 * varn ORDER BY d""")),

    // SA19 — Horvitz–Thompson estimation under unequal-probability
    // stratified sampling: customers keep with per-segment design
    // probabilities whose reciprocals are INTEGERS (1/10 … 1/1), so the
    // HT total Σ y_i/π_i is exact integer arithmetic — the estimator a
    // 100 TB pipeline uses to audit a metric from its sampled shard
    // without rescanning the corpus. Sampling is the md5-fraction
    // determinism every sa-query shares (no rand()); the graded row
    // compares HT against the true stratum total with a signed
    // floor-scaled relative error (floor, not div — trunc-vs-floor
    // differs on negatives across engines).
    Q("sa19_horvitz_thompson", (s, dir) => {
      val weight = expr("""CASE c_mktsegment WHEN 'BUILDING' THEN 10L
        WHEN 'AUTOMOBILE' THEN 5L WHEN 'FURNITURE' THEN 4L
        WHEN 'HOUSEHOLD' THEN 2L ELSE 1L END""")
      val frac = graft.operators.Sampling.hashFraction(
        col("c_custkey").cast("string"))
      t(s, dir, "customer")
        .select(col("c_mktsegment").as("seg"),
          floor(col("c_acctbal") * 100).cast("long").as("cents"),
          weight.as("w"), frac.as("f"))
        .groupBy("seg", "w")
        .agg(count(lit(1)).as("n_pop"),
          sum("cents").as("true_cents"),
          sum(when(col("f") * col("w") < 1, 1L).otherwise(0L))
            .as("n_sampled"),
          (sum(when(col("f") * col("w") < 1, col("cents"))
            .otherwise(0L)) * col("w")).as("ht_cents"))
        .selectExpr("seg", "w", "n_pop", "n_sampled", "true_cents",
          "ht_cents",
          "CAST(floor(1.0e6 * (ht_cents - true_cents) / true_cents)" +
            " AS BIGINT) AS err_e6")
        .orderBy("seg")
    }, Some("""
      WITH c AS (
        SELECT c_mktsegment AS seg,
               CAST(floor(c_acctbal * 100) AS BIGINT) AS cents,
               CAST(CASE c_mktsegment WHEN 'BUILDING' THEN 10
                 WHEN 'AUTOMOBILE' THEN 5 WHEN 'FURNITURE' THEN 4
                 WHEN 'HOUSEHOLD' THEN 2 ELSE 1 END AS BIGINT) AS w,
               list_sum(list_transform(generate_series(1, 8), i ->
                 (strpos('0123456789abcdef',
                         substr(md5(CAST(c_custkey AS VARCHAR)), i, 1))
                  - 1) * (16.0 ** (8 - i)))) / 4294967296.0 AS f
        FROM customer),
      agg AS (
        SELECT seg, w,
               CAST(count(*) AS BIGINT) AS n_pop,
               CAST(sum(cents) AS BIGINT) AS true_cents,
               CAST(sum(CASE WHEN f * w < 1 THEN 1 ELSE 0 END) AS BIGINT)
                 AS n_sampled,
               CAST(sum(CASE WHEN f * w < 1 THEN cents ELSE 0 END) * w
                 AS BIGINT) AS ht_cents
        FROM c GROUP BY 1, 2)
      SELECT seg, w, n_pop, n_sampled, true_cents, ht_cents,
             CAST(floor(1.0e6 * (ht_cents - true_cents) / true_cents)
               AS BIGINT) AS err_e6
      FROM agg ORDER BY seg""")),

    // CS52 — entropy rate of the per-user event-type Markov chain: per
    // previous state, the conditional next-state entropy H_i (how
    // predictable the next action is GIVEN this one), weighted by the
    // empirical state mass into the chain's entropy rate
    // −Σ_ij (c_ij/N)·ln(c_ij/n_i) — the sequence-level twin of ts4's
    // transition matrix and the number that says whether sessions are
    // scripted (≈0) or noise (≈ln k). Counts are one user-keyed lag
    // pass; each H_i folds over ≤k cells in next-state order; the rate
    // accumulates in prev order over the k-row state table.
    Q("cs52_entropy_rate", (s, dir) => {
      val wU = Window.partitionBy("user_id").orderBy("ts", "event_id")
      val trans = t(s, dir, "events")
        .withColumn("prev", lag("event_type", 1).over(wU))
        .filter(col("prev").isNotNull)
        .groupBy(col("prev"), col("event_type").as("nxt"))
        .agg(count(lit(1)).as("c"))
      val tot = trans.agg(sum("c").as("nt"))
      def foldH = aggregate(transform(array_sort(collect_list(
        struct(col("nxt"), col("hterm")))), q => q.getField("hterm")),
        lit(0.0), (a, q) => a + q)
      val byPrev = trans
        .withColumn("ni", sum("c").over(Window.partitionBy("prev")))
        .withColumn("hterm", (col("c").cast("double") / col("ni")) *
          -log(col("c").cast("double") / col("ni")))
        .groupBy("prev", "ni").agg(foldH.as("hi"))
      val wP = Window.orderBy("prev")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      byPrev.crossJoin(broadcast(tot))
        .withColumn("rate_cum_e6", floor(lit(1.0e6) * sum(
          (col("ni").cast("double") / col("nt")) * col("hi")).over(wP))
          .cast("long"))
        .selectExpr("prev", "ni", "nt",
          "CAST(floor(1.0e6 * hi) AS BIGINT) AS hi_e6", "rate_cum_e6")
        .orderBy("prev")
    }, Some("""
      WITH seq AS (
        SELECT event_type AS nxt,
               lag(event_type) OVER (PARTITION BY user_id
                 ORDER BY ts, event_id) AS prev
        FROM events),
      trans AS (
        SELECT prev, nxt, CAST(count(*) AS BIGINT) AS c
        FROM seq WHERE prev IS NOT NULL GROUP BY 1, 2),
      tot AS (SELECT sum(c) AS nt FROM trans),
      byprev2 AS (
        SELECT prev,
               CAST(sum(c) AS BIGINT) AS ni,
               list_sum(list(hterm ORDER BY nxt)) AS hi
        FROM (
          SELECT prev, nxt, c,
                 sum(c) OVER (PARTITION BY prev) AS nig,
                 (CAST(c AS DOUBLE) / (sum(c) OVER (PARTITION BY prev)))
                   * -ln(CAST(c AS DOUBLE) /
                       (sum(c) OVER (PARTITION BY prev))) AS hterm
          FROM trans)
        GROUP BY 1)
      SELECT b.prev, b.ni, CAST(t.nt AS BIGINT) AS nt,
             CAST(floor(1.0e6 * b.hi) AS BIGINT) AS hi_e6,
             CAST(floor(1.0e6 * sum((CAST(b.ni AS DOUBLE) / t.nt) * b.hi)
               OVER (ORDER BY b.prev ROWS BETWEEN UNBOUNDED PRECEDING
                 AND CURRENT ROW)) AS BIGINT) AS rate_cum_e6
      FROM byprev2 b, tot t ORDER BY b.prev""")),

    // TX26 — Simpson diversity of each source's vocabulary: 1 −
    // Σc(c−1)/(N(N−1)) is the probability two tokens drawn without
    // replacement differ — the concentration lens on vocabulary that
    // Zipf-slope (cs4) and Heaps-law (tx23) don't give, and it is EXACT
    // integer arithmetic until one final division (repeat-pair counts
    // Σc(c−1) are sums of products of term counts). One (source, term)
    // groupBy — the same shuffle a TF table already pays.
    Q("tx26_vocab_simpson", (s, dir) => {
      t(s, dir, "documents")
        .select(col("source"), explode(split(col("text"), " ")).as("tok"))
        .groupBy("source", "tok").agg(count(lit(1)).as("c"))
        .groupBy("source")
        .agg(sum("c").as("n_tokens"), count(lit(1)).as("n_terms"),
          sum(col("c") * (col("c") - 1)).as("rep_pairs"))
        .selectExpr("source", "n_tokens", "n_terms", "rep_pairs",
          "CAST(floor(1.0e6 * (1.0e0 - CAST(rep_pairs AS DOUBLE)" +
            " / (CAST(n_tokens AS DOUBLE) * (n_tokens - 1)))) AS BIGINT)" +
            " AS simpson_e6")
        .orderBy("source")
    }, Some("""
      WITH toks AS (
        SELECT source, unnest(string_split(text, ' ')) AS tok
        FROM documents),
      tf AS (SELECT source, tok, CAST(count(*) AS BIGINT) AS c
             FROM toks GROUP BY 1, 2),
      agg AS (
        SELECT source, CAST(sum(c) AS BIGINT) AS n_tokens,
               CAST(count(*) AS BIGINT) AS n_terms,
               CAST(sum(c * (c - 1)) AS BIGINT) AS rep_pairs
        FROM tf GROUP BY 1)
      SELECT source, n_tokens, n_terms, rep_pairs,
             CAST(floor(1.0e6 * (1.0e0 - CAST(rep_pairs AS DOUBLE)
               / (CAST(n_tokens AS DOUBLE) * (n_tokens - 1)))) AS BIGINT)
               AS simpson_e6
      FROM agg ORDER BY source""")),

    // CS53 — Kruskal–Wallis H across the seven weekday groups of daily
    // revenue: the k-sample rank ANOVA (does day-of-week shift the
    // distribution, not just the mean) that needs no normality. Ranks are
    // midranks kept EXACT by the ×2 trick (2·midrank = 2·min_rank + t − 1,
    // an integer even for ties), so every group rank-sum and its square
    // are exact longs at day grain; H and its tie-corrected twin are
    // closed-form doubles composed once. One bounded-table rank window +
    // a 7-row rollup.
    Q("cs53_kruskal_wallis", (s, dir) => {
      val daily = t(s, dir, "orders")
        .groupBy(to_date(col("o_orderdate")).as("day"))
        .agg(sum(floor(col("o_totalprice") * 100).cast("long")).as("x"))
        .withColumn("dow", dayofweek(col("day")).cast("long"))
      val ranked = daily
        .withColumn("r2", (lit(2) * rank().over(Window.orderBy("x"))
          + count(lit(1)).over(Window.partitionBy("x")) - 1).cast("long"))
      val grp = ranked.groupBy("dow")
        .agg(count(lit(1)).as("n_i"), sum("r2").as("r2_i"))
      val ties = ranked.groupBy("x").agg(count(lit(1)).as("tc"))
        .agg(sum(col("tc") * col("tc") * col("tc") - col("tc")).as("t3t"))
      // H = 3·Σ(R2_i²/n_i)/(N(N+1)) − 3(N+1); r2_i² ≤ (2N²)² stays exact
      // in a double at day grain, and the 7 per-group terms fold in dow
      // order so both engines add in the same sequence
      def foldT = aggregate(transform(array_sort(collect_list(
        struct(col("dow"), col("t")))), q => q.getField("t")),
        lit(0.0), (a, q) => a + q)
      val tot = grp
        .withColumn("t", expr("CAST(r2_i * r2_i AS DOUBLE) / n_i"))
        .agg(sum("n_i").as("n"), foldT.as("sr2"))
      val h = tot.crossJoin(broadcast(ties))
        .selectExpr("n", "t3t",
          "3.0e0 * sr2 / (CAST(n AS DOUBLE)" +
            " * (n + 1)) - 3.0e0 * (n + 1) AS hraw")
      grp.crossJoin(broadcast(h))
        .withColumn("h_e6",
          floor(lit(1.0e6) * col("hraw")).cast("long"))
        .withColumn("h_adj_e6", floor(lit(1.0e6) * col("hraw") /
          (lit(1.0e0) - col("t3t").cast("double") /
            (col("n") * col("n") * col("n") - col("n")))).cast("long"))
        .selectExpr("dow", "n_i", "r2_i", "h_e6", "h_adj_e6")
        .orderBy("dow")
    }, Some("""
      WITH daily AS (
        SELECT day, x, CAST(dayofweek(day) AS BIGINT) + 1 AS dow
        FROM (
          SELECT CAST(o_orderdate AS DATE) AS day,
                 sum(CAST(floor(o_totalprice * 100) AS BIGINT)) AS x
          FROM orders GROUP BY 1)),
      ranked AS (
        SELECT dow,
               CAST(2 * rank() OVER (ORDER BY x)
                 + count(*) OVER (PARTITION BY x) - 1 AS BIGINT) AS r2
        FROM daily),
      grp AS (
        SELECT dow, CAST(count(*) AS BIGINT) AS n_i,
               CAST(sum(r2) AS BIGINT) AS r2_i
        FROM ranked GROUP BY 1),
      ties AS (
        SELECT CAST(sum(tc * tc * tc - tc) AS BIGINT) AS t3t
        FROM (SELECT count(*) AS tc FROM daily GROUP BY x)),
      tot AS (
        SELECT CAST(sum(n_i) AS BIGINT) AS n,
               list_sum(list(CAST(r2_i * r2_i AS DOUBLE) / n_i
                 ORDER BY dow)) AS sr2
        FROM grp),
      h AS (
        SELECT n, t3t,
               3.0e0 * sr2
                 / (CAST(n AS DOUBLE) * (n + 1)) - 3.0e0 * (n + 1) AS hraw
        FROM tot, ties)
      SELECT g.dow, g.n_i, g.r2_i,
             CAST(floor(1.0e6 * h.hraw) AS BIGINT) AS h_e6,
             CAST(floor(1.0e6 * h.hraw / (1.0e0 - CAST(h.t3t AS DOUBLE)
               / (h.n * h.n * h.n - h.n))) AS BIGINT) AS h_adj_e6
      FROM grp g, h ORDER BY g.dow""")),

    // ATT5 — Shapley-value attribution over channel coalitions: each
    // purchase's preceding 7-day touch channels {view, click, signup}
    // form a bitmask; coalition worth v(S) = purchases whose touch set
    // ⊆ S (cumulative conversions the coalition can claim); each
    // channel's Shapley credit is the weighted marginal Σ w(|S|)·(v(S∪i)
    // − v(S)). With k=3 the factorial weights are sixths, so phi_x6 is
    // an EXACT integer and efficiency (Σφ = v(full) − v(∅)) is a law the
    // spec asserts. Corpus work is att1's user-keyed touch↔purchase
    // join; everything after lives on an 8-row mask table.
    Q("att5_shapley_attribution", (s, dir) => {
      val ev = t(s, dir, "events")
      val touches = ev
        .filter(col("event_type").isin("view", "click", "signup"))
        .select(col("user_id").as("u"),
          col("ts").cast("long").as("tt"),
          when(col("event_type") === "view", 1L)
            .when(col("event_type") === "click", 2L)
            .otherwise(4L).as("bit"))
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("user_id").as("u"), col("event_id").as("pid"),
          col("ts").cast("long").as("pt"))
      val masks = purchases.join(touches, Seq("u"), "left")
        .withColumn("inwin", col("tt").isNotNull &&
          col("tt") < col("pt") && col("tt") >= col("pt") - 604800L)
        .groupBy("pid")
        .agg(coalesce(expr("bit_or(CASE WHEN inwin THEN bit END)"),
          lit(0L)).as("mask"))
        .groupBy("mask").agg(count(lit(1)).as("cnt"))
      import s.implicits._
      val subsets = (0L to 7L).toDF("s")
      val v = subsets.join(masks, expr("(mask & s) = mask"), "left")
        .groupBy("s").agg(coalesce(sum("cnt"), lit(0L)).as("v"))
        .localCheckpoint() // feeds two coalition joins
      // (channel, S without channel, |S|) triples — 12 literal rows
      val triples = (for {
        i <- Seq(1L, 2L, 4L); ss <- 0L to 7L if (ss & i) == 0L
      } yield (i, ss, java.lang.Long.bitCount(ss).toLong))
        .toDF("bit", "s0", "ssz")
      val w6 = expr("CASE ssz WHEN 0 THEN 2L WHEN 1 THEN 1L ELSE 2L END")
      triples
        .join(v.select(col("s").as("s0"), col("v").as("v0")), "s0")
        .join(v.select(col("s").as("s1"), col("v").as("v1")),
          expr("s1 = s0 + bit"))
        .groupBy("bit")
        .agg(sum(w6 * (col("v1") - col("v0"))).as("phi_x6"))
        .selectExpr(
          "CASE bit WHEN 1 THEN 'view' WHEN 2 THEN 'click' " +
            "ELSE 'signup' END AS channel",
          "phi_x6")
        .orderBy("channel")
    }, Some("""
      WITH touches AS (
        SELECT user_id AS u, CAST(floor(epoch(ts)) AS BIGINT) AS tt,
               CASE event_type WHEN 'view' THEN 1 WHEN 'click' THEN 2
                 ELSE 4 END AS bit
        FROM events WHERE event_type IN ('view', 'click', 'signup')),
      purchases AS (
        SELECT user_id AS u, event_id AS pid,
               CAST(floor(epoch(ts)) AS BIGINT) AS pt
        FROM events WHERE event_type = 'purchase'),
      pmask AS (
        SELECT p.pid,
               coalesce(bit_or(CASE WHEN t.tt IS NOT NULL
                 AND t.tt < p.pt AND t.tt >= p.pt - 604800
                 THEN t.bit END), 0) AS mask
        FROM purchases p LEFT JOIN touches t ON t.u = p.u
        GROUP BY 1),
      mcnt AS (SELECT mask, CAST(count(*) AS BIGINT) AS cnt
               FROM pmask GROUP BY 1),
      subsets AS (SELECT CAST(unnest(generate_series(0, 7)) AS BIGINT)
                    AS s),
      v AS (
        SELECT s, CAST(coalesce(sum(CASE WHEN (mask & s) = mask
                 THEN cnt END), 0) AS BIGINT) AS v
        FROM subsets, mcnt GROUP BY 1),
      triples AS (
        SELECT b.bit, s.s AS s0,
               ((s.s & 1) + ((s.s >> 1) & 1) + ((s.s >> 2) & 1)) AS ssz
        FROM (SELECT unnest([1, 2, 4]) AS bit) b, subsets s
        WHERE (s.s & b.bit) = 0)
      SELECT CASE t.bit WHEN 1 THEN 'view' WHEN 2 THEN 'click'
               ELSE 'signup' END AS channel,
             CAST(sum((CASE t.ssz WHEN 0 THEN 2 WHEN 1 THEN 1 ELSE 2 END)
               * (v1.v - v0.v)) AS BIGINT) AS phi_x6
      FROM triples t
        JOIN v v0 ON v0.s = t.s0
        JOIN v v1 ON v1.s = t.s0 + t.bit
      GROUP BY 1 ORDER BY 1""")),

    // K36 — Bloom-filter capacity planner per partition: from each
    // nation-partition's EXACT key cardinality, the textbook sizing
    // m = ⌈−n·ln p / (ln 2)²⌉ bits and h = ⌈(m/n)·ln 2⌉ hashes for a 1%
    // FPR target, plus the predicted FPR (1 − e^{−hn/m})^h of the
    // rounded plan — the planning twin of dd18's runtime Bloom dedup and
    // k24's partition planner. Exact counts in, one closed-form double
    // chain out, identical expression text on both engines.
    Q("k36_bloom_planner", (s, dir) => {
      t(s, dir, "customer")
        .groupBy(col("c_nationkey").cast("long").as("nat"))
        .agg(countDistinct("c_custkey").cast("long").as("n_keys"))
        .selectExpr("nat", "n_keys",
          "CAST(ceil(-(CAST(n_keys AS DOUBLE)) * ln(1.0e-2)" +
            " / (ln(2.0e0) * ln(2.0e0))) AS BIGINT) AS m_bits")
        .selectExpr("nat", "n_keys", "m_bits",
          "CAST(ceil((CAST(m_bits AS DOUBLE) / n_keys) * ln(2.0e0))" +
            " AS BIGINT) AS h_hashes")
        .selectExpr("nat", "n_keys", "m_bits", "h_hashes",
          "CAST(floor(1.0e9 * power(1.0e0 - exp(-(CAST(h_hashes" +
            " AS DOUBLE)) * n_keys / m_bits), CAST(h_hashes AS DOUBLE)))" +
            " AS BIGINT) AS pred_fpr_e9")
        .orderBy("nat")
    }, Some("""
      WITH counts AS (
        SELECT CAST(c_nationkey AS BIGINT) AS nat,
               CAST(count(DISTINCT c_custkey) AS BIGINT) AS n_keys
        FROM customer GROUP BY 1),
      m AS (
        SELECT nat, n_keys,
               CAST(ceil(-(CAST(n_keys AS DOUBLE)) * ln(1.0e-2)
                 / (ln(2.0e0) * ln(2.0e0))) AS BIGINT) AS m_bits
        FROM counts),
      h AS (
        SELECT nat, n_keys, m_bits,
               CAST(ceil((CAST(m_bits AS DOUBLE) / n_keys) * ln(2.0e0))
                 AS BIGINT) AS h_hashes
        FROM m)
      SELECT nat, n_keys, m_bits, h_hashes,
             CAST(floor(1.0e9 * power(1.0e0 - exp(-(CAST(h_hashes
               AS DOUBLE)) * n_keys / m_bits), CAST(h_hashes AS DOUBLE)))
               AS BIGINT) AS pred_fpr_e9
      FROM h ORDER BY nat""")),

    // GR18 — directed reciprocity of the two-generator fixture digraph
    // (u → 7u+1 and u → 3u+2 mod 499, the gr2-family construction): the
    // share of edges whose reverse edge also exists — the first statistic
    // of any interaction graph (follows, citations, messages) because it
    // separates broadcast structure from conversation structure. Pure
    // integer set algebra: distinct edges, one self-equi-join on the
    // reversed key, three counts. Edge-keyed shuffles only.
    Q("gr18_reciprocity", (s, dir) => {
      val edges = t(s, dir, "documents")
        .selectExpr("doc_id % 499 AS u")
        .selectExpr("u", "(7 * u + 1) % 499 AS v")
        .unionAll(t(s, dir, "documents")
          .selectExpr("doc_id % 499 AS u")
          .selectExpr("u", "(3 * u + 2) % 499 AS v"))
        .filter(col("u") =!= col("v"))
        .distinct()
        .localCheckpoint() // feeds both join sides + count
      val recip = edges.join(
        edges.select(col("v").as("u"), col("u").as("v")),
        Seq("u", "v"), "left_semi")
      edges.agg(count(lit(1)).as("n_edges"))
        .crossJoin(broadcast(recip.agg(count(lit(1)).as("n_recip"))))
        .selectExpr("n_edges", "n_recip",
          "n_recip div 2 AS n_mutual_pairs",
          "n_edges - n_recip AS n_asym",
          "n_recip * 1000000L div n_edges AS recip_e6")
    }, Some("""
      WITH nodes AS (SELECT DISTINCT doc_id % 499 AS u FROM documents),
      edges AS (
        SELECT DISTINCT u, v FROM (
          SELECT u, (7 * u + 1) % 499 AS v FROM nodes
          UNION ALL
          SELECT u, (3 * u + 2) % 499 AS v FROM nodes)
        WHERE u <> v),
      recip AS (
        SELECT count(*) AS n_recip
        FROM edges e WHERE EXISTS (
          SELECT 1 FROM edges r WHERE r.u = e.v AND r.v = e.u)),
      tot AS (SELECT count(*) AS n_edges FROM edges)
      SELECT CAST(n_edges AS BIGINT) AS n_edges,
             CAST(n_recip AS BIGINT) AS n_recip,
             CAST(n_recip // 2 AS BIGINT) AS n_mutual_pairs,
             CAST(n_edges - n_recip AS BIGINT) AS n_asym,
             CAST(n_recip * 1000000 // n_edges AS BIGINT) AS recip_e6
      FROM tot, recip""")),

    // CS55 — Cohen's kappa between the tx1 marker-heuristic language
    // prediction and the labeled `lang` column: chance-corrected
    // agreement, the honest upgrade over raw accuracy when the label
    // distribution is skewed. The kappa is EXACT integer arithmetic end
    // to end — κ = (N·Σdiag − Σ row_l·col_l) / (N² − Σ row_l·col_l) —
    // one double division at the very end. Confusion and marginals are
    // label-grain aggregates off one corpus scan.
    Q("cs55_cohens_kappa", (s, dir) => {
      val preds = t(s, dir, "documents")
        .select(col("lang"),
          graft.operators.TextAnalysis.langId(col("text")).as("pred"))
        .localCheckpoint() // feeds diag + both marginals
      val n = preds.agg(count(lit(1)).as("n"))
      val agree = preds.filter(col("lang") === col("pred"))
        .agg(count(lit(1)).as("n_agree"))
      val rows = preds.groupBy(col("lang").as("lbl"))
        .agg(count(lit(1)).as("rc"))
      val cols = preds.groupBy(col("pred").as("lbl"))
        .agg(count(lit(1)).as("cc"))
      val pe = rows.join(cols, Seq("lbl"), "full_outer")
        .agg(sum(coalesce(col("rc"), lit(0L)) *
          coalesce(col("cc"), lit(0L))).as("pe_num"))
      n.crossJoin(broadcast(agree)).crossJoin(broadcast(pe))
        .selectExpr("n", "n_agree", "pe_num",
          "CAST(floor(1.0e6 * CAST(n_agree AS DOUBLE) / n) AS BIGINT)" +
            " AS po_e6",
          "CAST(floor(1.0e6 * CAST(pe_num AS DOUBLE) / (n * n))" +
            " AS BIGINT) AS pe_e6",
          "CAST(floor(1.0e6 * CAST(n * n_agree - pe_num AS DOUBLE)" +
            " / (n * n - pe_num)) AS BIGINT) AS kappa_e6")
    }, Some("""
      WITH c AS (
        SELECT doc_id, lang,
          len(list_filter(string_split(text, ' '),
              x -> x IN ('the', 'of', 'and'))) AS c_en,
          len(list_filter(string_split(text, ' '),
              x -> x IN ('le', 'et', 'les'))) AS c_fr,
          len(list_filter(string_split(text, ' '),
              x -> x IN ('el', 'y', 'los'))) AS c_es,
          len(list_filter(string_split(text, ' '),
              x -> x IN ('der', 'und', 'die'))) AS c_de
        FROM documents),
      preds AS (
        SELECT lang,
          CASE WHEN c_en > 0 AND c_en >= greatest(c_en, c_fr, c_es, c_de)
                 THEN 'en'
               WHEN c_fr > 0 AND c_fr >= greatest(c_en, c_fr, c_es, c_de)
                 THEN 'fr'
               WHEN c_es > 0 AND c_es >= greatest(c_en, c_fr, c_es, c_de)
                 THEN 'es'
               WHEN c_de > 0 AND c_de >= greatest(c_en, c_fr, c_es, c_de)
                 THEN 'de'
               ELSE 'und' END AS pred
        FROM c),
      nn AS (SELECT count(*) AS n FROM preds),
      agree AS (SELECT count(*) AS n_agree FROM preds
                WHERE lang = pred),
      rmarg AS (SELECT lang AS lbl, CAST(count(*) AS BIGINT) AS rc
                FROM preds GROUP BY 1),
      cmarg AS (SELECT pred AS lbl, CAST(count(*) AS BIGINT) AS cc
                FROM preds GROUP BY 1),
      pe AS (
        SELECT CAST(sum(coalesce(rc, 0) * coalesce(cc, 0)) AS BIGINT)
                 AS pe_num
        FROM rmarg FULL OUTER JOIN cmarg USING (lbl))
      SELECT CAST(n AS BIGINT) AS n, CAST(n_agree AS BIGINT) AS n_agree,
             pe_num,
             CAST(floor(1.0e6 * CAST(n_agree AS DOUBLE) / n) AS BIGINT)
               AS po_e6,
             CAST(floor(1.0e6 * CAST(pe_num AS DOUBLE) / (n * n))
               AS BIGINT) AS pe_e6,
             CAST(floor(1.0e6 * CAST(n * n_agree - pe_num AS DOUBLE)
               / (n * n - pe_num)) AS BIGINT) AS kappa_e6
      FROM nn, agree, pe""")),

    // TS21 — Lo–MacKinlay variance-ratio test on daily revenue P&L (in
    // dollars): VR(q) = Var(q-period sums)/(q·Var(1-period)) — 1 under a
    // random walk, <1 mean-reverting, >1 trending. Overlapping q-sums
    // come from one rolling window; each variance's two moments fold in
    // day order (bounded day-grain collect), so the doubles are
    // bit-reproducible across engines even where a² exceeds 2⁵³ —
    // identical IEEE ops in an identical sequence. Rows: q ∈ {1, 5, 20}.
    Q("ts21_variance_ratio", (s, dir) => {
      val wD = Window.orderBy("d")
      val pnl = t(s, dir, "orders")
        .groupBy(datediff(to_date(col("o_orderdate")), lit("1992-01-01"))
          .cast("long").as("d"))
        .agg(sum(floor(col("o_totalprice")).cast("long")).as("y"))
        .withColumn("p", col("y") - lag("y", 1).over(wD))
        .filter(col("p").isNotNull)
        .select(col("d"), col("p"))
        .localCheckpoint() // feeds all three q-frames
      def foldBy(field: String) =
        aggregate(transform(array_sort(collect_list(
          struct(col("d"), col(field)))), q => q.getField(field)),
          lit(0.0), (a, q) => a + q)
      def varOf(q: Int) = {
        val frame = wD.rowsBetween(-(q - 1), 0)
        pnl.withColumn("a", sum("p").over(frame))
          .withColumn("nw", count(lit(1)).over(frame))
          .filter(col("nw") === q)
          .withColumn("a1", col("a").cast("double"))
          .withColumn("a2", col("a").cast("double") * col("a"))
          .agg(count(lit(1)).as("m"), foldBy("a1").as("sa"),
            foldBy("a2").as("sq"))
          .selectExpr(s"$q AS q", "m",
            "sq / m - (sa / m) * (sa / m) AS v")
      }
      val v1 = varOf(1).selectExpr("v AS v1")
      varOf(1).unionAll(varOf(5)).unionAll(varOf(20))
        .crossJoin(broadcast(v1))
        .selectExpr("CAST(q AS BIGINT) AS q", "m",
          "CAST(floor(1.0e6 * v / (q * v1)) AS BIGINT) AS vr_e6")
        .orderBy("q")
    }, Some("""
      WITH daily AS (
        SELECT CAST(datediff('day', DATE '1992-01-01',
                 CAST(o_orderdate AS DATE)) AS BIGINT) AS d,
               sum(CAST(floor(o_totalprice) AS BIGINT)) AS y
        FROM orders GROUP BY 1),
      pnl AS (
        SELECT d, p FROM (
          SELECT d, y - lag(y) OVER (ORDER BY d) AS p FROM daily)
        WHERE p IS NOT NULL),
      q1 AS (
        SELECT 1 AS q, count(*) AS m,
               list_sum(list(CAST(p AS DOUBLE) ORDER BY d)) AS sa,
               list_sum(list(CAST(p AS DOUBLE) * p ORDER BY d)) AS sq
        FROM pnl),
      r5 AS (
        SELECT d, sum(p) OVER (ORDER BY d ROWS BETWEEN 4 PRECEDING AND
                 CURRENT ROW) AS a,
               count(*) OVER (ORDER BY d ROWS BETWEEN 4 PRECEDING AND
                 CURRENT ROW) AS nw
        FROM pnl),
      q5 AS (
        SELECT 5 AS q, count(*) AS m,
               list_sum(list(CAST(a AS DOUBLE) ORDER BY d)) AS sa,
               list_sum(list(CAST(a AS DOUBLE) * a ORDER BY d)) AS sq
        FROM r5 WHERE nw = 5),
      r20 AS (
        SELECT d, sum(p) OVER (ORDER BY d ROWS BETWEEN 19 PRECEDING AND
                 CURRENT ROW) AS a,
               count(*) OVER (ORDER BY d ROWS BETWEEN 19 PRECEDING AND
                 CURRENT ROW) AS nw
        FROM pnl),
      q20 AS (
        SELECT 20 AS q, count(*) AS m,
               list_sum(list(CAST(a AS DOUBLE) ORDER BY d)) AS sa,
               list_sum(list(CAST(a AS DOUBLE) * a ORDER BY d)) AS sq
        FROM r20 WHERE nw = 20),
      uni AS (
        SELECT q, m, sq / m - (sa / m) * (sa / m) AS v FROM q1
        UNION ALL
        SELECT q, m, sq / m - (sa / m) * (sa / m) AS v FROM q5
        UNION ALL
        SELECT q, m, sq / m - (sa / m) * (sa / m) AS v FROM q20),
      v1t AS (SELECT v AS v1 FROM uni WHERE q = 1)
      SELECT CAST(q AS BIGINT) AS q, CAST(m AS BIGINT) AS m,
             CAST(floor(1.0e6 * v / (q * v1)) AS BIGINT) AS vr_e6
      FROM uni, v1t ORDER BY q""")),

    // ML19 — nDCG@100 of the length-score ranking against the src0
    // relevance label: the graded-relevance ranking metric (position
    // discounted by log₂) that ml17's gains table doesn't capture —
    // gains count hits per decile, nDCG rewards putting them EARLY. The
    // realized ranking reuses `Ranking.globalRowNumber` (reflected key,
    // no global window); the ideal ranking needs only the count of
    // positives (relevance is binary, so IDCG is a closed sum over
    // min(pos, k) rows). Both DCGs fold in rank order over ≤k rows.
    Q("ml19_ndcg_at_k", (s, dir) => {
      val k = 100
      val scored = t(s, dir, "documents")
        .select(col("doc_id"),
          (lit(1000000000L) - col("n_chars")).as("kdesc"),
          when(col("source") === "src0", 1L).otherwise(0L).as("y"))
      val ranked = graft.operators.Ranking.globalRowNumber(
        scored, col("kdesc"), col("doc_id"))
      val pos = ranked.agg(sum("y").as("n_pos"))
      def foldBy(field: String) =
        aggregate(transform(array_sort(collect_list(
          struct(col("rn"), col(field)))), q => q.getField(field)),
          lit(0.0), (a, q) => a + q)
      val dcg = ranked.filter(col("rn") <= k)
        .withColumn("g", col("y").cast("double") /
          (log(col("rn").cast("double") + 1) / log(lit(2.0))))
        .agg(count(lit(1)).as("k_eff"), sum("y").as("hits_at_k"),
          foldBy("g").as("dcg"))
      val idcg = ranked.crossJoin(broadcast(pos))
        .filter(col("rn") <= least(col("n_pos"), lit(k.toLong)))
        .withColumn("g", lit(1.0) /
          (log(col("rn").cast("double") + 1) / log(lit(2.0))))
        .agg(foldBy("g").as("idcg"))
      dcg.crossJoin(broadcast(idcg)).crossJoin(broadcast(pos))
        .selectExpr(s"${k}L AS k", "k_eff", "n_pos", "hits_at_k",
          "CAST(floor(1.0e6 * dcg) AS BIGINT) AS dcg_e6",
          "CAST(floor(1.0e6 * idcg) AS BIGINT) AS idcg_e6",
          "CAST(floor(1.0e6 * dcg / idcg) AS BIGINT) AS ndcg_e6")
    }, Some("""
      WITH scored AS (
        SELECT doc_id, 1000000000 - n_chars AS kdesc,
               CASE WHEN source = 'src0' THEN 1 ELSE 0 END AS y
        FROM documents),
      ranked AS (
        SELECT y, CAST(row_number() OVER (ORDER BY kdesc, doc_id)
          AS BIGINT) AS rn
        FROM scored),
      pos AS (SELECT CAST(sum(y) AS BIGINT) AS n_pos FROM ranked),
      dcg AS (
        SELECT CAST(count(*) AS BIGINT) AS k_eff,
               CAST(sum(y) AS BIGINT) AS hits_at_k,
               list_sum(list(CAST(y AS DOUBLE) /
                 (ln(CAST(rn AS DOUBLE) + 1) / ln(2.0e0))
                 ORDER BY rn)) AS dcg
        FROM ranked WHERE rn <= 100),
      idcg AS (
        SELECT list_sum(list(1.0e0 /
                 (ln(CAST(rn AS DOUBLE) + 1) / ln(2.0e0))
                 ORDER BY rn)) AS idcg
        FROM ranked, pos WHERE rn <= least(n_pos, 100))
      SELECT CAST(100 AS BIGINT) AS k, d.k_eff, p.n_pos, d.hits_at_k,
             CAST(floor(1.0e6 * d.dcg) AS BIGINT) AS dcg_e6,
             CAST(floor(1.0e6 * i.idcg) AS BIGINT) AS idcg_e6,
             CAST(floor(1.0e6 * d.dcg / i.idcg) AS BIGINT) AS ndcg_e6
      FROM dcg d, idcg i, pos p""")),

    // TS23 — runs-up-and-down test on daily revenue: count the maximal
    // monotone runs of the day-over-day sign sequence and compare with
    // the i.i.d. expectation — E[runs] = (2n−1)/3, Var = (16n−29)/90 —
    // the turning-point cousin that catches drift cs38's median-runs
    // test is blind to. Sign and run-start flags are exact integer
    // comparisons; the z-score is one double composition. Ties (equal
    // consecutive days) break downward (non-ascent), stated and
    // replicated on both engines. Day-grain windows only.
    Q("ts23_diffsign_runs", (s, dir) => {
      val wD = Window.orderBy("d")
      val signs = t(s, dir, "orders")
        .groupBy(datediff(to_date(col("o_orderdate")), lit("1992-01-01"))
          .cast("long").as("d"))
        .agg(sum(floor(col("o_totalprice") * 100).cast("long")).as("y"))
        .withColumn("py", lag("y", 1).over(wD))
        .withColumn("up", when(col("y") > col("py"), 1L).otherwise(0L))
        .filter(col("py").isNotNull) // diffs only, THEN the run lag
        .withColumn("prev_up", lag("up", 1).over(wD))
      signs
        .agg(count(lit(1)).as("n_diffs"), sum("up").as("n_up"),
          sum(when(col("prev_up").isNull || col("up") =!= col("prev_up"),
            1L).otherwise(0L)).as("n_runs"))
        .selectExpr("n_diffs", "n_up", "n_runs",
          "CAST(floor(1.0e6 * (2.0e0 * (n_diffs + 1) - 1) / 3)" +
            " AS BIGINT) AS e_runs_e6",
          "CAST(floor(1.0e6 * (n_runs - (2.0e0 * (n_diffs + 1) - 1)" +
            " / 3) / sqrt((16.0e0 * (n_diffs + 1) - 29) / 90)) AS BIGINT)" +
            " AS z_e6")
    }, Some("""
      WITH daily AS (
        SELECT CAST(datediff('day', DATE '1992-01-01',
                 CAST(o_orderdate AS DATE)) AS BIGINT) AS d,
               sum(CAST(floor(o_totalprice * 100) AS BIGINT)) AS y
        FROM orders GROUP BY 1),
      sgn AS (
        SELECT d, py,
               CASE WHEN y > py THEN 1 ELSE 0 END AS up
        FROM (SELECT d, y, lag(y) OVER (ORDER BY d) AS py FROM daily)),
      flg AS (
        SELECT up, lag(up) OVER (ORDER BY d) AS prev_up
        FROM sgn WHERE py IS NOT NULL),
      agg AS (
        SELECT CAST(count(*) AS BIGINT) AS n_diffs,
               CAST(sum(up) AS BIGINT) AS n_up,
               CAST(sum(CASE WHEN prev_up IS NULL OR up <> prev_up
                 THEN 1 ELSE 0 END) AS BIGINT) AS n_runs
        FROM flg)
      SELECT n_diffs, n_up, n_runs,
             CAST(floor(1.0e6 * (2.0e0 * (n_diffs + 1) - 1) / 3)
               AS BIGINT) AS e_runs_e6,
             CAST(floor(1.0e6 * (n_runs - (2.0e0 * (n_diffs + 1) - 1)
               / 3) / sqrt((16.0e0 * (n_diffs + 1) - 29) / 90)) AS BIGINT)
               AS z_e6
      FROM agg""")),

    // CS56 — Hoover (Robin Hood) index of customer order activity: the
    // share of all orders that would have to move between customers to
    // equalize them — Σ|x_i − μ| / (2Σx), the max vertical gap of the
    // Lorenz curve and the blunter, more explainable sibling of cs18's
    // Gini. Denominators cleared (|n·x_i − S| is an exact long), so the
    // numerator is EXACT and the index is one double division. One
    // customer-grain aggregate + a 1-row total broadcast.
    Q("cs56_hoover_index", (s, dir) => {
      val perCust = t(s, dir, "orders")
        .groupBy(col("o_custkey")).agg(count(lit(1)).as("x"))
      val tot = perCust.agg(count(lit(1)).as("n"), sum("x").as("sx"))
      perCust.crossJoin(broadcast(tot))
        .agg(first("n").as("n_customers"), first("sx").as("n_orders"),
          sum(abs(col("n") * col("x") - col("sx"))).as("absdev_n"))
        .selectExpr("n_customers", "n_orders", "absdev_n",
          "CAST(floor(1.0e6 * CAST(absdev_n AS DOUBLE)" +
            " / (2.0e0 * n_customers * n_orders)) AS BIGINT)" +
            " AS hoover_e6")
    }, Some("""
      WITH pc AS (
        SELECT o_custkey, CAST(count(*) AS BIGINT) AS x
        FROM orders GROUP BY 1),
      tot AS (SELECT count(*) AS n, sum(x) AS sx FROM pc)
      SELECT CAST(any_value(n) AS BIGINT) AS n_customers,
             CAST(any_value(sx) AS BIGINT) AS n_orders,
             CAST(sum(abs(n * x - sx)) AS BIGINT) AS absdev_n,
             CAST(floor(1.0e6 * CAST(sum(abs(n * x - sx)) AS DOUBLE)
               / (2.0e0 * any_value(n) * any_value(sx))) AS BIGINT)
               AS hoover_e6
      FROM pc, tot""")),

    // IX7 — reciprocal-rank fusion of two retrieval rankings for the same
    // query (BM25 vs boolean term-coverage): RRF = Σ 1/(60 + rankᵢ) — the
    // standard zero-tuning hybrid-search combiner (Cormack et al.), here
    // over ix3's exact BM25 ranking and an all-integer coverage ranking
    // (distinct terms, total tf, doc_id). Ranks are deterministic
    // (round(score,6) bands, doc_id ties), the fused score is two
    // reciprocals of small integers, and the final cut orders by the
    // FLOORED fusion so the top-10 is engine-portable. Candidate set =
    // docs containing ≥1 query term — the posting lists, never the corpus.
    Q("ix7_rrf_fusion", (s, dir) => {
      val terms = Seq("spark", "shuffle", "broadcast")
      val toks = t(s, dir, "documents")
        .select(col("doc_id"), explode(split(col("text"), " ")).as("term"))
        .localCheckpoint() // feeds lengths + the tf table
      val lens = toks.groupBy("doc_id").agg(count(lit(1)).as("len"))
      val stats = lens.agg(count(lit(1)).as("n_docs"),
        avg("len").as("avglen"))
      val tf = toks.filter(col("term").isin(terms: _*))
        .groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
      val dfs = tf.groupBy("term").agg(count(lit(1)).as("df"))
      val perDoc = tf.join(dfs, "term").join(lens, "doc_id")
        .crossJoin(broadcast(stats))
        .withColumn("part",
          log((col("n_docs") - col("df") + 0.5) / (col("df") + 0.5) + 1.0)
            * col("tf") * 2.2 /
            (col("tf") + lit(1.2) * (lit(0.25) +
              lit(0.75) * col("len") / col("avglen"))))
        .groupBy("doc_id")
        .agg(round(sum("part"), 6).as("score"),
          countDistinct("term").as("n_terms"), sum("tf").as("sum_tf"))
      val ranked = perDoc
        .withColumn("ra", row_number().over(
          Window.orderBy(col("score").desc, col("doc_id"))).cast("long"))
        .withColumn("rb", row_number().over(
          Window.orderBy(col("n_terms").desc, col("sum_tf").desc,
            col("doc_id"))).cast("long"))
      ranked
        .selectExpr("doc_id", "ra", "rb",
          "CAST(floor(1.0e9 * (1.0e0 / (60 + ra) + 1.0e0 / (60 + rb)))" +
            " AS BIGINT) AS rrf_e9")
        .orderBy(col("rrf_e9").desc, col("doc_id"))
        .limit(10)
    }, Some("""
      WITH toks AS (
        SELECT doc_id, unnest(string_split(text, ' ')) AS term
        FROM documents),
      lens AS (SELECT doc_id, count(*) AS len FROM toks GROUP BY doc_id),
      stats AS (SELECT count(*) AS n_docs, avg(len) AS avglen FROM lens),
      tf AS (SELECT doc_id, term, count(*) AS tf FROM toks
             WHERE term IN ('spark', 'shuffle', 'broadcast')
             GROUP BY doc_id, term),
      dfs AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
      perdoc AS (
        SELECT tf.doc_id, round(sum(
                 ln((stats.n_docs - dfs.df + 0.5) / (dfs.df + 0.5) + 1.0)
                 * tf.tf * 2.2
                 / (tf.tf + 1.2 * (0.25 + 0.75 * lens.len / stats.avglen))
               ), 6) AS score,
               CAST(count(DISTINCT tf.term) AS BIGINT) AS n_terms,
               CAST(sum(tf.tf) AS BIGINT) AS sum_tf
        FROM tf JOIN dfs USING (term) JOIN lens USING (doc_id), stats
        GROUP BY tf.doc_id),
      ranked AS (
        SELECT doc_id,
               CAST(row_number() OVER (ORDER BY score DESC, doc_id)
                 AS BIGINT) AS ra,
               CAST(row_number() OVER (ORDER BY n_terms DESC,
                 sum_tf DESC, doc_id) AS BIGINT) AS rb
        FROM perdoc)
      SELECT doc_id, ra, rb,
             CAST(floor(1.0e9 * (1.0e0 / (60 + ra) + 1.0e0 / (60 + rb)))
               AS BIGINT) AS rrf_e9
      FROM ranked
      ORDER BY rrf_e9 DESC, doc_id LIMIT 10""")),

    // CS57 — pinball (quantile) loss evaluation of static quantile
    // forecasts: train on the first four years of daily revenue (exact
    // positional q50/q90), score the rest with the asymmetric pinball
    // loss — 10·L_τ = ⌈10τ⌉(y−q)⁺ + (10−⌈10τ⌉)(q−y)⁺ stays EXACT integer
    // cents. The law the spec asserts is the defining property of proper
    // quantile scoring: each forecast wins (≤) under ITS OWN τ. One rank
    // window on the bounded train table, 2-row policy broadcast back.
    Q("cs57_pinball_loss", (s, dir) => {
      val daily = t(s, dir, "orders")
        .groupBy(datediff(to_date(col("o_orderdate")), lit("1992-01-01"))
          .cast("long").as("d"))
        .agg(sum(floor(col("o_totalprice") * 100).cast("long")).as("y"))
        .localCheckpoint() // feeds train ranks + test scans
      val train = daily.filter(col("d") < 1460)
      val m = train.count
      val ranked = train.select(col("y"), row_number().over(
        Window.orderBy(col("y"), col("d"))).cast("long").as("rn"))
      val qs = ranked
        .filter(col("rn") === (m + 1) / 2 || col("rn") === (m * 9 + 9) / 10)
        .selectExpr(
          s"max(CASE WHEN rn = ${(m + 1) / 2}L THEN y END) AS q50",
          s"max(CASE WHEN rn = ${(m * 9 + 9) / 10}L THEN y END) AS q90")
      import s.implicits._
      val taus = Seq((5L, "q50"), (9L, "q90")).toDF("tau10", "which")
      daily.filter(col("d") >= 1460)
        .crossJoin(broadcast(qs)).crossJoin(broadcast(taus))
        .withColumn("q", when(col("which") === "q50", col("q50"))
          .otherwise(col("q90")))
        .groupBy("tau10", "which", "q")
        .agg(count(lit(1)).as("n_test"),
          sum(greatest(col("y") - col("q"), lit(0L)) * col("tau10") +
            greatest(col("q") - col("y"), lit(0L)) *
              (lit(10L) - col("tau10"))).as("loss_x10"))
        .selectExpr("tau10", "which", "q AS qhat_cents", "n_test",
          "loss_x10", "loss_x10 div (10 * n_test) AS mean_loss_cents")
        .orderBy("tau10")
    }, Some("""
      WITH daily AS (
        SELECT CAST(datediff('day', DATE '1992-01-01',
                 CAST(o_orderdate AS DATE)) AS BIGINT) AS d,
               sum(CAST(floor(o_totalprice * 100) AS BIGINT)) AS y
        FROM orders GROUP BY 1),
      train AS (SELECT d, y FROM daily WHERE d < 1460),
      mm AS (SELECT count(*) AS m FROM train),
      ranked AS (
        SELECT y, CAST(row_number() OVER (ORDER BY y, d) AS BIGINT)
                 AS rn
        FROM train),
      qs AS (
        SELECT max(CASE WHEN rn = (m + 1) // 2 THEN y END) AS q50,
               max(CASE WHEN rn = (m * 9 + 9) // 10 THEN y END) AS q90
        FROM ranked, mm),
      taus AS (SELECT 5 AS tau10, 'q50' AS which
               UNION ALL SELECT 9, 'q90'),
      scored AS (
        SELECT t.tau10, t.which,
               CASE WHEN t.which = 'q50' THEN q.q50 ELSE q.q90 END AS q,
               d.y
        FROM daily d, qs q, taus t WHERE d.d >= 1460)
      SELECT CAST(tau10 AS BIGINT) AS tau10, which,
             CAST(q AS BIGINT) AS qhat_cents,
             CAST(count(*) AS BIGINT) AS n_test,
             CAST(sum(greatest(y - q, 0) * tau10 +
               greatest(q - y, 0) * (10 - tau10)) AS BIGINT) AS loss_x10,
             CAST(sum(greatest(y - q, 0) * tau10 +
               greatest(q - y, 0) * (10 - tau10))
               // (10 * count(*)) AS BIGINT) AS mean_loss_cents
      FROM scored GROUP BY 1, 2, 3 ORDER BY tau10""")),

    // MB7 — repeat-purchase curve: for k = 1..10, how many customers
    // placed ≥ k orders, what share of the base that is, and how many
    // orders that cohort carries — the retention-economics readout
    // (nearly every revenue model starts from "what fraction ever comes
    // back"). Anti-monotone by construction (the spec asserts it); all
    // exact integers; one customer-grain aggregate + a 10-row grid range
    // join.
    Q("mb7_repeat_curve", (s, dir) => {
      val pc = t(s, dir, "orders")
        .groupBy(col("o_custkey")).agg(count(lit(1)).as("x"))
      val tot = pc.agg(count(lit(1)).as("n"), sum("x").as("so"))
      import s.implicits._
      val grid = (1L to 10L).map(Tuple1(_)).toDF("k")
      pc.crossJoin(broadcast(grid))
        .filter(col("x") >= col("k"))
        .groupBy("k")
        .agg(count(lit(1)).as("n_ge_k"), sum("x").as("orders_ge_k"))
        .crossJoin(broadcast(tot))
        .selectExpr("k", "n_ge_k", "orders_ge_k",
          "n_ge_k * 1000000L div n AS share_e6",
          "orders_ge_k * 1000000L div so AS order_share_e6")
        .orderBy("k")
    }, Some("""
      WITH pc AS (
        SELECT o_custkey, CAST(count(*) AS BIGINT) AS x
        FROM orders GROUP BY 1),
      tot AS (SELECT count(*) AS n, sum(x) AS so FROM pc),
      grid AS (SELECT CAST(unnest(generate_series(1, 10)) AS BIGINT)
                 AS k)
      SELECT k, CAST(count(*) AS BIGINT) AS n_ge_k,
             CAST(sum(x) AS BIGINT) AS orders_ge_k,
             CAST(count(*) * 1000000 // any_value(n) AS BIGINT)
               AS share_e6,
             CAST(sum(x) * 1000000 // any_value(so) AS BIGINT)
               AS order_share_e6
      FROM pc, grid, tot WHERE x >= k
      GROUP BY k ORDER BY k""")),

    // EMB3 — per-dimension variance screen over the embedding corpus:
    // the feature-selection / dead-dimension audit (a dim with ~zero
    // variance carries no signal; the top-variance dims dominate
    // distances). Float sums across a corpus are association-ordered, so
    // each component is QUANTIZED to an exact integer (floor(x·1e4) — an
    // audit-grade grid) and the variance numerator n·Σq² − (Σq)² is
    // exact; ranking the top-5 dims happens on that integer, never on a
    // float. One posexplode + dim-grain aggregate — embarrassingly
    // parallel at any corpus size.
    Q("emb3_dim_variance", (s, dir) => {
      val dims = t(s, dir, "embeddings")
        .select(posexplode(col("embedding")).as(Seq("i", "x")))
        .select((col("i") + 1).cast("long").as("dim"),
          floor(col("x").cast("double") * 1.0e4).cast("long").as("q"))
      dims.groupBy("dim")
        .agg(count(lit(1)).as("n"), sum("q").as("sq"),
          sum(col("q") * col("q")).as("sqq"))
        .selectExpr("dim", "n",
          "n * sqq - sq * sq AS var_num")
        .orderBy(col("var_num").desc, col("dim"))
        .limit(5)
        .selectExpr("dim", "n", "var_num",
          "CAST(floor(1.0e9 * var_num / (CAST(n AS DOUBLE) * n)" +
            " / 1.0e8) AS BIGINT) AS var_e9")
    }, Some("""
      WITH e AS (
        SELECT CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
      dims AS (
        SELECT CAST(i AS BIGINT) AS dim,
               CAST(floor(v[i] * 1.0e4) AS BIGINT) AS q
        FROM e, unnest(generate_series(1, len(v))) AS t(i)),
      agg AS (
        SELECT dim, CAST(count(*) AS BIGINT) AS n,
               CAST(sum(q) AS BIGINT) AS sq,
               CAST(sum(q * q) AS BIGINT) AS sqq
        FROM dims GROUP BY 1)
      SELECT dim, n, n * sqq - sq * sq AS var_num,
             CAST(floor(1.0e9 * (n * sqq - sq * sq)
               / (CAST(n AS DOUBLE) * n) / 1.0e8) AS BIGINT) AS var_e9
      FROM agg ORDER BY var_num DESC, dim LIMIT 5""")),

    // W30 — underwater spells of the w27 equity curve: gaps-and-islands
    // over the drawdown>0 flag gives every peak-to-recovery episode —
    // count, longest duration, deepest spell — the "how long does a bad
    // stretch last" readout that w27's single max-drawdown number hides.
    // All integers (the curve is w27's exact cumulative deviation);
    // day-grain windows only.
    Q("w30_underwater_spells", (s, dir) => {
      val wD = Window.orderBy("d")
      val cum = wD.rowsBetween(Window.unboundedPreceding,
        Window.currentRow)
      val daily = t(s, dir, "orders")
        .groupBy(datediff(to_date(col("o_orderdate")), lit("1992-01-01"))
          .cast("long").as("d"))
        .agg(sum(floor(col("o_totalprice") * 100).cast("long")).as("y"))
        .localCheckpoint() // feeds totals + the curve
      val curve = daily
        .crossJoin(broadcast(daily.agg(count(lit(1)).as("n"),
          sum("y").as("sy"))))
        .withColumn("e", sum(col("n") * col("y") - col("sy")).over(cum))
        .withColumn("dd", max("e").over(cum) - col("e"))
        .withColumn("under", (col("dd") > 0).cast("long"))
        .withColumn("grp", sum(lit(1L) - col("under")).over(cum))
      val spells = curve.filter(col("under") === 1)
        .groupBy("grp")
        .agg(count(lit(1)).as("len"), min("d").as("start_d"),
          max("dd").as("depth"))
        .localCheckpoint() // feeds the rollup + the top-1
      spells
        .agg(count(lit(1)).as("n_spells"),
          coalesce(max("len"), lit(0L)).as("longest_days"))
        .crossJoin(broadcast(spells.orderBy(col("len").desc, col("start_d"))
          .limit(1).selectExpr("start_d AS longest_start_d",
            "depth AS longest_depth_n")))
    }, Some("""
      WITH daily AS (
        SELECT CAST(datediff('day', DATE '1992-01-01',
                 CAST(o_orderdate AS DATE)) AS BIGINT) AS d,
               sum(CAST(floor(o_totalprice * 100) AS BIGINT)) AS y
        FROM orders GROUP BY 1),
      tot AS (SELECT count(*) AS n, sum(y) AS sy FROM daily),
      curve AS (
        SELECT d,
               sum(n * y - sy) OVER w AS e
        FROM daily, tot
        WINDOW w AS (ORDER BY d ROWS BETWEEN UNBOUNDED PRECEDING AND
          CURRENT ROW)),
      dd AS (
        SELECT d,
               max(e) OVER w - e AS dd
        FROM curve
        WINDOW w AS (ORDER BY d ROWS BETWEEN UNBOUNDED PRECEDING AND
          CURRENT ROW)),
      flagged AS (
        SELECT d, dd, CASE WHEN dd > 0 THEN 1 ELSE 0 END AS under,
               sum(CASE WHEN dd > 0 THEN 0 ELSE 1 END) OVER
                 (ORDER BY d ROWS BETWEEN UNBOUNDED PRECEDING AND
                   CURRENT ROW) AS grp
        FROM dd),
      spells AS (
        SELECT grp, CAST(count(*) AS BIGINT) AS len,
               CAST(min(d) AS BIGINT) AS start_d,
               CAST(max(dd) AS BIGINT) AS depth
        FROM flagged WHERE under = 1 GROUP BY 1),
      top AS (
        SELECT start_d AS longest_start_d, depth AS longest_depth_n
        FROM spells ORDER BY len DESC, start_d LIMIT 1)
      SELECT CAST(count(*) AS BIGINT) AS n_spells,
             CAST(coalesce(max(len), 0) AS BIGINT) AS longest_days,
             any_value(t.longest_start_d) AS longest_start_d,
             any_value(t.longest_depth_n) AS longest_depth_n
      FROM spells, top t""")),

    // GR20 — log₂-binned degree distribution of the fixture digraph's
    // undirected total degree, with the CCDF per bin: the heavy-tail
    // fingerprint (hubs vs chains) every graph pipeline profiles before
    // choosing hub caps (gr4's wedge bound, pr1's damping). Bin =
    // position of the degree's highest set bit via the binary-string
    // length (floor(log2(2^k)) through doubles can flip at exact powers
    // of two across engines); counts and the CCDF are exact integers.
    Q("gr20_degree_tail", (s, dir) => {
      val edges = t(s, dir, "documents")
        .selectExpr("doc_id % 499 AS u")
        .selectExpr("u", "(7 * u + 1) % 499 AS v")
        .unionAll(t(s, dir, "documents")
          .selectExpr("doc_id % 499 AS u")
          .selectExpr("u", "(3 * u + 2) % 499 AS v"))
        .filter(col("u") =!= col("v"))
        .distinct()
      val deg = edges.selectExpr("u AS node")
        .unionAll(edges.selectExpr("v AS node"))
        .groupBy("node").agg(count(lit(1)).as("deg"))
      val binned = deg
        .selectExpr("node", "deg",
          "CAST(length(bin(deg)) - 1 AS BIGINT) AS bin")
        .groupBy("bin").agg(count(lit(1)).as("n_nodes"),
          sum("deg").as("deg_mass"))
      val tot = binned.agg(sum("n_nodes").as("nt"))
      val wB = Window.orderBy("bin")
      binned.crossJoin(broadcast(tot))
        .withColumn("cum_prev", coalesce(sum("n_nodes").over(
          wB.rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
        .selectExpr("bin", "n_nodes", "deg_mass",
          "(nt - cum_prev) * 1000000L div nt AS ccdf_e6")
        .orderBy("bin")
    }, Some("""
      WITH nodes AS (SELECT DISTINCT doc_id % 499 AS u FROM documents),
      edges AS (
        SELECT DISTINCT u, v FROM (
          SELECT u, (7 * u + 1) % 499 AS v FROM nodes
          UNION ALL
          SELECT u, (3 * u + 2) % 499 AS v FROM nodes)
        WHERE u <> v),
      deg AS (
        SELECT node, CAST(count(*) AS BIGINT) AS deg FROM (
          SELECT u AS node FROM edges
          UNION ALL SELECT v FROM edges)
        GROUP BY 1),
      binned AS (
        SELECT CAST(length(bin(deg)) - 1 AS BIGINT) AS bin,
               CAST(count(*) AS BIGINT) AS n_nodes,
               CAST(sum(deg) AS BIGINT) AS deg_mass
        FROM deg GROUP BY 1),
      tot AS (SELECT sum(n_nodes) AS nt FROM binned)
      SELECT bin, n_nodes, deg_mass,
             CAST((nt - coalesce(sum(n_nodes) OVER (ORDER BY bin
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0))
               * 1000000 // nt AS BIGINT) AS ccdf_e6
      FROM binned, tot ORDER BY bin""")),

    // CS59 — Wilson 95% score interval for the high-value share per
    // event type: the interval that behaves at small n and extreme p̂
    // where the naive Wald ±1.96√(p̂q̂/n) collapses — the number an
    // experimentation dashboard should print next to every rate. Counts
    // are exact; the interval is one closed-form double chain per row of
    // the bounded event-type table, written with identical text on both
    // engines (z = 1.96, z² = 3.8416 as exact decimal literals).
    Q("cs59_wilson_ci", (s, dir) => {
      t(s, dir, "events")
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"),
          sum(when(col("value") >= 100.0, 1L).otherwise(0L)).as("x"))
        .withColumn("px", col("x").cast("double") / col("n"))
        .selectExpr("event_type", "n", "x",
          "CAST(floor(1.0e6 * px) AS BIGINT) AS p_e6",
          "CAST(floor(1.0e6 * (px + 3.8416e0 / (2 * n) - 1.96e0 *" +
            " sqrt(px * (1 - px) / n + 3.8416e0 / (4.0e0 * n * n)))" +
            " / (1.0e0 + 3.8416e0 / n)) AS BIGINT) AS lo_e6",
          "CAST(floor(1.0e6 * (px + 3.8416e0 / (2 * n) + 1.96e0 *" +
            " sqrt(px * (1 - px) / n + 3.8416e0 / (4.0e0 * n * n)))" +
            " / (1.0e0 + 3.8416e0 / n)) AS BIGINT) AS hi_e6")
        .orderBy("event_type")
    }, Some("""
      WITH agg AS (
        SELECT event_type, CAST(count(*) AS BIGINT) AS n,
               CAST(sum(CASE WHEN value >= 100.0 THEN 1 ELSE 0 END)
                 AS BIGINT) AS x
        FROM events GROUP BY 1),
      px AS (SELECT event_type, n, x, CAST(x AS DOUBLE) / n AS px
             FROM agg)
      SELECT event_type, n, x,
             CAST(floor(1.0e6 * px) AS BIGINT) AS p_e6,
             CAST(floor(1.0e6 * (px + 3.8416e0 / (2 * n) - 1.96e0 *
               sqrt(px * (1 - px) / n + 3.8416e0 / (4.0e0 * n * n)))
               / (1.0e0 + 3.8416e0 / n)) AS BIGINT) AS lo_e6,
             CAST(floor(1.0e6 * (px + 3.8416e0 / (2 * n) + 1.96e0 *
               sqrt(px * (1 - px) / n + 3.8416e0 / (4.0e0 * n * n)))
               / (1.0e0 + 3.8416e0 / n)) AS BIGINT) AS hi_e6
      FROM px ORDER BY event_type""")),

    // TS24 — moving-average crossover backtest on daily revenue: long
    // whenever MA20 > MA50 (compared by exact integer cross-
    // multiplication 5·S20 > 2·S50 — never two float averages), P&L
    // credited on the day AFTER the signal (no look-ahead), trades
    // counted as 0→1 signal flips. The whole backtest — signal, trade
    // count, strategy vs buy-and-hold P&L — is exact integer cents.
    // One day-grain window pass.
    Q("ts24_sma_crossover", (s, dir) => {
      val wD = Window.orderBy("d")
      val daily = t(s, dir, "orders")
        .groupBy(datediff(to_date(col("o_orderdate")), lit("1992-01-01"))
          .cast("long").as("d"))
        .agg(sum(floor(col("o_totalprice") * 100).cast("long")).as("y"))
      val sig = daily
        .withColumn("rn", row_number().over(wD).cast("long"))
        .withColumn("s20", sum("y").over(wD.rowsBetween(-19, 0)))
        .withColumn("s50", sum("y").over(wD.rowsBetween(-49, 0)))
        .withColumn("lng", when(col("rn") >= 50 &&
          col("s20") * 5 > col("s50") * 2, 1L).otherwise(0L))
        .withColumn("pnl", col("y") - lag("y", 1).over(wD))
        .withColumn("prev_lng", lag("lng", 1).over(wD))
      sig.filter(col("rn") >= 50)
        .agg(count(lit(1)).as("n_days_eval"),
          sum("lng").as("n_long_days"),
          sum(when(col("lng") === 1 && col("prev_lng") === 0, 1L)
            .otherwise(0L)).as("n_trades"),
          sum(when(col("prev_lng") === 1, col("pnl")).otherwise(0L))
            .as("strat_pnl_cents"),
          (expr("max_by(y, rn)") - expr("min_by(y, rn)"))
            .as("buyhold_pnl_cents"))
    }, Some("""
      WITH daily AS (
        SELECT CAST(datediff('day', DATE '1992-01-01',
                 CAST(o_orderdate AS DATE)) AS BIGINT) AS d,
               sum(CAST(floor(o_totalprice * 100) AS BIGINT)) AS y
        FROM orders GROUP BY 1),
      roll AS (
        SELECT d, y,
               CAST(row_number() OVER (ORDER BY d) AS BIGINT) AS rn,
               sum(y) OVER (ORDER BY d ROWS BETWEEN 19 PRECEDING AND
                 CURRENT ROW) AS s20,
               sum(y) OVER (ORDER BY d ROWS BETWEEN 49 PRECEDING AND
                 CURRENT ROW) AS s50,
               y - lag(y) OVER (ORDER BY d) AS pnl
        FROM daily),
      sig AS (
        SELECT d, y, rn, pnl,
               CASE WHEN rn >= 50 AND s20 * 5 > s50 * 2 THEN 1 ELSE 0
                 END AS lng
        FROM roll),
      lagged AS (
        SELECT d, y, rn, pnl, lng,
               lag(lng) OVER (ORDER BY d) AS prev_lng
        FROM sig)
      SELECT CAST(count(*) AS BIGINT) AS n_days_eval,
             CAST(sum(lng) AS BIGINT) AS n_long_days,
             CAST(sum(CASE WHEN lng = 1 AND prev_lng = 0 THEN 1 ELSE 0
               END) AS BIGINT) AS n_trades,
             CAST(sum(CASE WHEN prev_lng = 1 THEN pnl ELSE 0 END)
               AS BIGINT) AS strat_pnl_cents,
             CAST(max_by(y, rn) - min_by(y, rn) AS BIGINT)
               AS buyhold_pnl_cents
      FROM lagged WHERE rn >= 50""")),

    // K38 — TTL retention audit: rows older than a 180-day horizon-
    // anchored cutoff per event type, with the payload bytes a purge
    // would reclaim — the GDPR/retention-policy twin of k16's compaction
    // planner (what to delete, not what to rewrite). Exact integers
    // (epoch floors, byte lengths); one event-type-grain aggregate plus
    // a 1-row horizon broadcast.
    Q("k38_ttl_audit", (s, dir) => {
      val ev = t(s, dir, "events")
        .select(col("event_type"), col("ts").cast("long").as("et"),
          length(col("props")).cast("long").as("pbytes"))
        .localCheckpoint() // feeds horizon + the rollup
      val hz = ev.agg(max("et").as("hz"))
      ev.crossJoin(broadcast(hz))
        .withColumn("expired",
          (col("et") < col("hz") - 15552000L).cast("long"))
        .groupBy("event_type")
        .agg(count(lit(1)).as("n_total"), sum("expired").as("n_expired"),
          sum(col("expired") * (col("pbytes") + 16L))
            .as("reclaim_bytes"))
        .selectExpr("event_type", "n_total", "n_expired",
          "n_expired * 1000000L div n_total AS expired_share_e6",
          "reclaim_bytes")
        .orderBy("event_type")
    }, Some("""
      WITH ev AS (
        SELECT event_type, CAST(floor(epoch(ts)) AS BIGINT) AS et,
               CAST(length(props) AS BIGINT) AS pbytes
        FROM events),
      hz AS (SELECT max(et) AS hz FROM ev),
      flagged AS (
        SELECT event_type, pbytes,
               CASE WHEN et < hz - 15552000 THEN 1 ELSE 0 END AS expired
        FROM ev, hz)
      SELECT event_type, CAST(count(*) AS BIGINT) AS n_total,
             CAST(sum(expired) AS BIGINT) AS n_expired,
             CAST(sum(expired) * 1000000 // count(*) AS BIGINT)
               AS expired_share_e6,
             CAST(sum(expired * (pbytes + 16)) AS BIGINT)
               AS reclaim_bytes
      FROM flagged GROUP BY 1 ORDER BY 1""")),

    // SA20 — CUPED variance reduction: adjust each user's post-period
    // spend Y by their pre-period covariate X (θ = cov/var, Y′ = Y −
    // θ(X − X̄)) — the standard experimentation trick that shrinks metric
    // variance by exactly corr²(X,Y). All moments are EXACT integer
    // numerators with denominators cleared (vx = n·Σx² − (Σx)² etc.);
    // θ and the realized reduction are two double divisions composed
    // identically on both engines. One user-grain aggregate + 5-number
    // algebra; magnitudes documented (Σxy at this grain stays inside
    // int64 at bench SFs, HUGEINT on the oracle side regardless).
    Q("sa20_cuped", (s, dir) => {
      val ev = t(s, dir, "events")
        .select(col("user_id"), col("ts").cast("long").as("et"),
          floor(col("value") * 100).cast("long").as("cents"))
        .localCheckpoint() // feeds the midpoint + rollup
      val mid = ev.agg(expr("(min(et) + max(et)) div 2").as("cut"))
      val perUser = ev.crossJoin(broadcast(mid))
        .groupBy(col("user_id"))
        .agg(
          sum(when(col("et") < col("cut"), col("cents")).otherwise(0L))
            .as("x"),
          sum(when(col("et") >= col("cut"), col("cents")).otherwise(0L))
            .as("y"))
      perUser
        .agg(count(lit(1)).as("n"), sum("x").as("sx"), sum("y").as("sy"),
          sum(col("x") * col("x")).as("sxx"),
          sum(col("y") * col("y")).as("syy"),
          sum(col("x") * col("y")).as("sxy"))
        .selectExpr("n", "sx", "sy",
          "n * sxx - sx * sx AS vx",
          "n * syy - sy * sy AS vy",
          "n * sxy - sx * sy AS cxy")
        .selectExpr("n", "vx", "vy", "cxy",
          "CAST(floor(1.0e6 * CAST(cxy AS DOUBLE) / vx) AS BIGINT)" +
            " AS theta_e6",
          "CAST(floor(1.0e6 * CAST(cxy AS DOUBLE) * cxy" +
            " / (CAST(vx AS DOUBLE) * vy)) AS BIGINT)" +
            " AS var_reduction_e6")
    }, Some("""
      WITH ev AS (
        SELECT user_id, CAST(floor(epoch(ts)) AS BIGINT) AS et,
               CAST(floor(value * 100) AS BIGINT) AS cents
        FROM events),
      mid AS (SELECT (min(et) + max(et)) // 2 AS cut FROM ev),
      pu AS (
        SELECT user_id,
               CAST(sum(CASE WHEN et < cut THEN cents ELSE 0 END)
                 AS BIGINT) AS x,
               CAST(sum(CASE WHEN et >= cut THEN cents ELSE 0 END)
                 AS BIGINT) AS y
        FROM ev, mid GROUP BY 1),
      m AS (
        SELECT count(*) AS n, sum(x) AS sx, sum(y) AS sy,
               sum(x * x) AS sxx, sum(y * y) AS syy, sum(x * y) AS sxy
        FROM pu),
      v AS (
        SELECT CAST(n AS BIGINT) AS n, CAST(sx AS BIGINT) AS sx,
               CAST(sy AS BIGINT) AS sy,
               CAST(n * sxx - sx * sx AS BIGINT) AS vx,
               CAST(n * syy - sy * sy AS BIGINT) AS vy,
               CAST(n * sxy - sx * sy AS BIGINT) AS cxy
        FROM m)
      SELECT n, vx, vy, cxy,
             CAST(floor(1.0e6 * CAST(cxy AS DOUBLE) / vx) AS BIGINT)
               AS theta_e6,
             CAST(floor(1.0e6 * CAST(cxy AS DOUBLE) * cxy
               / (CAST(vx AS DOUBLE) * vy)) AS BIGINT)
               AS var_reduction_e6
      FROM v""")),

    // F12 — Damm checksum (the quasigroup check digit that catches ALL
    // single-digit errors and adjacent transpositions, unlike Luhn's
    // f13): the check digit is a STATEFUL fold st ← M[st][d] over the
    // key's digits — Spark `aggregate` / DuckDB `list_reduce` with the
    // 10×10 antisymmetric-quasigroup table as a nested array literal,
    // all integer table lookups. Graded as the check-digit census over
    // all order keys; the diagonal-zero law (append the check digit →
    // state 0) is asserted in the spec.
    Q("f12_damm_checksum", (s, dir) => {
      val m = "array(" +
        "array(0,3,1,7,5,9,8,6,4,2)," +
        "array(7,0,9,2,1,5,4,8,6,3)," +
        "array(4,2,0,6,8,7,1,3,5,9)," +
        "array(1,7,5,0,9,8,3,4,2,6)," +
        "array(6,1,2,3,0,4,5,9,7,8)," +
        "array(3,6,7,4,2,0,9,5,8,1)," +
        "array(5,8,6,9,7,2,0,1,3,4)," +
        "array(8,9,4,5,3,6,2,0,1,7)," +
        "array(9,4,3,8,6,1,7,2,0,5)," +
        "array(2,5,8,1,4,3,6,7,9,0))"
      val checks = t(s, dir, "orders")
        .selectExpr("CAST(o_orderkey AS STRING) AS num")
        .selectExpr(
          "CAST(aggregate(transform(sequence(1, length(num)), i -> " +
            "CAST(substring(num, i, 1) AS INT)), 0, (st, d) -> " +
            s"element_at(element_at($m, st + 1), d + 1)) AS BIGINT)" +
            " AS check_digit")
      val tot = checks.agg(count(lit(1)).as("nt"))
      checks.groupBy("check_digit").agg(count(lit(1)).as("n_keys"))
        .crossJoin(broadcast(tot))
        .selectExpr("check_digit", "n_keys",
          "n_keys * 1000000L div nt AS share_e6")
        .orderBy("check_digit")
    }, Some("""
      WITH checks AS (
        SELECT CAST(list_reduce(list_prepend(0,
                 list_transform(generate_series(1, length(num)), i ->
                   CAST(substring(num, i, 1) AS INT))),
                 (st, d) ->
                 [[0,3,1,7,5,9,8,6,4,2],
                  [7,0,9,2,1,5,4,8,6,3],
                  [4,2,0,6,8,7,1,3,5,9],
                  [1,7,5,0,9,8,3,4,2,6],
                  [6,1,2,3,0,4,5,9,7,8],
                  [3,6,7,4,2,0,9,5,8,1],
                  [5,8,6,9,7,2,0,1,3,4],
                  [8,9,4,5,3,6,2,0,1,7],
                  [9,4,3,8,6,1,7,2,0,5],
                  [2,5,8,1,4,3,6,7,9,0]][st + 1][d + 1]) AS BIGINT)
                 AS check_digit
        FROM (SELECT CAST(o_orderkey AS VARCHAR) AS num FROM orders)),
      tot AS (SELECT count(*) AS nt FROM checks)
      SELECT check_digit, CAST(count(*) AS BIGINT) AS n_keys,
             CAST(count(*) * 1000000 // any_value(nt) AS BIGINT)
               AS share_e6
      FROM checks, tot GROUP BY 1 ORDER BY 1""")),

    // IX8 — mean reciprocal rank over three single-term queries: per
    // query, documents rank by (tf DESC, doc_id) among those containing
    // the term; RR = 1/rank of the first src0-relevant hit; MRR
    // accumulates in query order. The "did the FIRST answer land"
    // metric that nDCG@k (ml19) smooths away. Ranks are per-term
    // windows over posting-bounded candidate sets; RR and MRR are
    // reciprocals of small integers.
    Q("ix8_mrr", (s, dir) => {
      val terms = Seq("spark", "filter", "data")
      val docs = t(s, dir, "documents")
        .select(col("doc_id"), col("source"),
          explode(split(col("text"), " ")).as("term"))
        .filter(col("term").isin(terms: _*))
        .groupBy("term", "doc_id", "source")
        .agg(count(lit(1)).as("tf"))
      val ranked = docs.withColumn("rnk", row_number().over(
        Window.partitionBy("term")
          .orderBy(col("tf").desc, col("doc_id"))).cast("long"))
      val perQuery = ranked
        .groupBy("term")
        .agg(count(lit(1)).as("n_candidates"),
          min(when(col("source") === "src0", col("rnk")))
            .as("first_rel_rank"))
      val wT = Window.orderBy("term")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      perQuery
        .withColumn("mrr_cum_e6", floor(lit(1.0e6) / lit(3.0) * sum(
          coalesce(lit(1.0) / col("first_rel_rank"), lit(0.0))).over(wT))
          .cast("long"))
        .selectExpr("term", "n_candidates", "first_rel_rank",
          "CAST(floor(1.0e6 / first_rel_rank) AS BIGINT) AS rr_e6",
          "mrr_cum_e6")
        .orderBy("term")
    }, Some("""
      WITH toks AS (
        SELECT doc_id, source, unnest(string_split(text, ' ')) AS term
        FROM documents),
      tf AS (
        SELECT term, doc_id, source, count(*) AS tf
        FROM toks WHERE term IN ('spark', 'filter', 'data')
        GROUP BY 1, 2, 3),
      ranked AS (
        SELECT term, source,
               CAST(row_number() OVER (PARTITION BY term
                 ORDER BY tf DESC, doc_id) AS BIGINT) AS rnk
        FROM tf),
      pq AS (
        SELECT term, CAST(count(*) AS BIGINT) AS n_candidates,
               CAST(min(CASE WHEN source = 'src0' THEN rnk END)
                 AS BIGINT) AS first_rel_rank
        FROM ranked GROUP BY 1)
      SELECT term, n_candidates, first_rel_rank,
             CAST(floor(1.0e6 / first_rel_rank) AS BIGINT) AS rr_e6,
             CAST(floor(1.0e6 / 3.0e0 * sum(coalesce(
               1.0e0 / first_rel_rank, 0.0e0)) OVER (ORDER BY term
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
               AS BIGINT) AS mrr_cum_e6
      FROM pq ORDER BY term""")),

    // K39 — dictionary-encoding planner: per candidate column, the exact
    // NDV, the dictionary code width ⌈log₂ ndv⌉ (via the binary-string
    // length, gr20's integer-exact move), and the bits saved vs a plain
    // 64-bit encoding — the storage-layout advisor behind parquet's
    // dictionary-vs-plain decision, graded as data. Three column
    // aggregates unioned; everything integer.
    Q("k39_dict_encoding_planner", (s, dir) => {
      def census(colName: String, ex: String) =
        t(s, dir, "customer")
          .selectExpr(s"$ex AS v")
          .agg(count(lit(1)).as("n"),
            countDistinct("v").cast("long").as("ndv"))
          .selectExpr(s"'$colName' AS col_name", "n", "ndv",
            "CAST(length(bin(greatest(ndv - 1, 1))) AS BIGINT)" +
              " AS dict_bits")
          .selectExpr("col_name", "n", "ndv", "dict_bits",
            "(64 - dict_bits) * 1000000L div 64 AS saved_e6")
      census("mktsegment", "c_mktsegment")
        .unionAll(census("nationkey", "CAST(c_nationkey AS BIGINT)"))
        .unionAll(census("acctbal_dollars",
          "CAST(floor(c_acctbal) AS BIGINT)"))
        .orderBy("col_name")
    }, Some("""
      WITH seg AS (
        SELECT 'mktsegment' AS col_name, CAST(count(*) AS BIGINT) AS n,
               CAST(count(DISTINCT c_mktsegment) AS BIGINT) AS ndv
        FROM customer),
      nat AS (
        SELECT 'nationkey', CAST(count(*) AS BIGINT),
               CAST(count(DISTINCT c_nationkey) AS BIGINT)
        FROM customer),
      bal AS (
        SELECT 'acctbal_dollars', CAST(count(*) AS BIGINT),
               CAST(count(DISTINCT CAST(floor(c_acctbal) AS BIGINT))
                 AS BIGINT)
        FROM customer),
      uni AS (SELECT * FROM seg UNION ALL SELECT * FROM nat
              UNION ALL SELECT * FROM bal),
      bits AS (
        SELECT col_name, n, ndv,
               CAST(length(bin(greatest(ndv - 1, 1))) AS BIGINT)
                 AS dict_bits
        FROM uni)
      SELECT col_name, n, ndv, dict_bits,
             CAST((64 - dict_bits) * 1000000 // 64 AS BIGINT)
               AS saved_e6
      FROM bits ORDER BY col_name""")),

    // ML20 — average precision at 100 for the length-score ranking
    // (src0 relevance): AP = mean over HIT positions of precision@hit —
    // the area under the PR curve that nDCG (ml19) and the gains table
    // (ml17) each miss. Precision terms are exact rationals folded in
    // rank order; normalization is by hits@k (stated convention). Rank
    // rides `Ranking.globalRowNumber`; only the 100-row head folds.
    Q("ml20_average_precision", (s, dir) => {
      val k = 100
      val scored = t(s, dir, "documents")
        .select(col("doc_id"),
          (lit(1000000000L) - col("n_chars")).as("kdesc"),
          when(col("source") === "src0", 1L).otherwise(0L).as("y"))
      val top = graft.operators.Ranking.globalRowNumber(
        scored, col("kdesc"), col("doc_id"))
        .filter(col("rn") <= k)
        .withColumn("cum_hits", sum("y").over(Window.orderBy("rn")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      def foldBy(field: String) =
        aggregate(transform(array_sort(collect_list(
          struct(col("rn"), col(field)))), q => q.getField(field)),
          lit(0.0), (a, q) => a + q)
      top
        .withColumn("pterm", when(col("y") === 1,
          col("cum_hits").cast("double") / col("rn")).otherwise(lit(0.0)))
        .agg(count(lit(1)).as("k_eff"), sum("y").as("hits_at_k"),
          foldBy("pterm").as("psum"),
          max(when(col("rn") <= 10, col("cum_hits"))).as("hits_at_10"))
        .selectExpr(s"${k}L AS k", "k_eff", "hits_at_k", "hits_at_10",
          "hits_at_10 * 1000000L div 10 AS p_at_10_e6",
          "hits_at_k * 1000000L div k_eff AS p_at_k_e6",
          "CAST(floor(1.0e6 * psum / hits_at_k) AS BIGINT) AS ap_e6")
    }, Some("""
      WITH scored AS (
        SELECT doc_id, 1000000000 - n_chars AS kdesc,
               CASE WHEN source = 'src0' THEN 1 ELSE 0 END AS y
        FROM documents),
      ranked AS (
        SELECT y, CAST(row_number() OVER (ORDER BY kdesc, doc_id)
          AS BIGINT) AS rn
        FROM scored),
      top AS (
        SELECT y, rn,
               sum(y) OVER (ORDER BY rn ROWS BETWEEN UNBOUNDED
                 PRECEDING AND CURRENT ROW) AS cum_hits
        FROM ranked WHERE rn <= 100),
      terms AS (
        SELECT rn, y, cum_hits,
               CASE WHEN y = 1 THEN CAST(cum_hits AS DOUBLE) / rn
                 ELSE 0.0e0 END AS pterm
        FROM top),
      agg AS (
        SELECT CAST(count(*) AS BIGINT) AS k_eff,
               CAST(sum(y) AS BIGINT) AS hits_at_k,
               list_sum(list(pterm ORDER BY rn)) AS psum,
               CAST(max(CASE WHEN rn <= 10 THEN cum_hits END)
                 AS BIGINT) AS hits_at_10
        FROM terms)
      SELECT CAST(100 AS BIGINT) AS k, k_eff, hits_at_k, hits_at_10,
             CAST(hits_at_10 * 1000000 // 10 AS BIGINT) AS p_at_10_e6,
             CAST(hits_at_k * 1000000 // k_eff AS BIGINT) AS p_at_k_e6,
             CAST(floor(1.0e6 * psum / hits_at_k) AS BIGINT) AS ap_e6
      FROM agg""")),

    // CS60 — turning-points test on daily revenue: count strict local
    // peaks and troughs and compare with the i.i.d. expectation
    // E[T] = 2(n−2)/3, Var = (16n−29)/90 — ts23's sibling that reads
    // oscillation rather than monotone persistence (an MA-smoothed
    // series turns too RARELY, a mean-reverting one too OFTEN). Strict
    // inequalities on exact cents decide every point; one double z at
    // the end.
    Q("cs60_turning_points", (s, dir) => {
      val wD = Window.orderBy("d")
      val pts = t(s, dir, "orders")
        .groupBy(datediff(to_date(col("o_orderdate")), lit("1992-01-01"))
          .cast("long").as("d"))
        .agg(sum(floor(col("o_totalprice") * 100).cast("long")).as("y"))
        .withColumn("py", lag("y", 1).over(wD))
        .withColumn("ny", lead("y", 1).over(wD))
        .filter(col("py").isNotNull && col("ny").isNotNull)
      pts
        .agg(count(lit(1)).as("n_interior"),
          sum(when(col("y") > col("py") && col("y") > col("ny"), 1L)
            .otherwise(0L)).as("n_peaks"),
          sum(when(col("y") < col("py") && col("y") < col("ny"), 1L)
            .otherwise(0L)).as("n_troughs"))
        .selectExpr("n_interior", "n_peaks", "n_troughs",
          "n_peaks + n_troughs AS n_turns",
          "CAST(floor(1.0e6 * 2.0e0 * n_interior / 3) AS BIGINT)" +
            " AS e_turns_e6",
          "CAST(floor(1.0e6 * (n_peaks + n_troughs - 2.0e0 * n_interior" +
            " / 3) / sqrt((16.0e0 * (n_interior + 2) - 29) / 90))" +
            " AS BIGINT) AS z_e6")
    }, Some("""
      WITH daily AS (
        SELECT CAST(datediff('day', DATE '1992-01-01',
                 CAST(o_orderdate AS DATE)) AS BIGINT) AS d,
               sum(CAST(floor(o_totalprice * 100) AS BIGINT)) AS y
        FROM orders GROUP BY 1),
      pts AS (
        SELECT y, lag(y) OVER (ORDER BY d) AS py,
               lead(y) OVER (ORDER BY d) AS ny
        FROM daily),
      interior AS (SELECT * FROM pts
                   WHERE py IS NOT NULL AND ny IS NOT NULL)
      SELECT CAST(count(*) AS BIGINT) AS n_interior,
             CAST(sum(CASE WHEN y > py AND y > ny THEN 1 ELSE 0 END)
               AS BIGINT) AS n_peaks,
             CAST(sum(CASE WHEN y < py AND y < ny THEN 1 ELSE 0 END)
               AS BIGINT) AS n_troughs,
             CAST(sum(CASE WHEN y > py AND y > ny THEN 1 ELSE 0 END) +
               sum(CASE WHEN y < py AND y < ny THEN 1 ELSE 0 END)
               AS BIGINT) AS n_turns,
             CAST(floor(1.0e6 * 2.0e0 * count(*) / 3) AS BIGINT)
               AS e_turns_e6,
             CAST(floor(1.0e6 * (sum(CASE WHEN y > py AND y > ny
               THEN 1 ELSE 0 END) + sum(CASE WHEN y < py AND y < ny
               THEN 1 ELSE 0 END) - 2.0e0 * count(*) / 3)
               / sqrt((16.0e0 * (count(*) + 2) - 29) / 90)) AS BIGINT)
               AS z_e6
      FROM interior""")),

    // CS61 — Brown–Forsythe test for variance homogeneity across the
    // weekday groups of daily revenue (dollars): ANOVA on |x − median_j|
    // — the robust Levene variant that cs28's mean-ANOVA assumes away.
    // Group medians are exact positional picks (lower median, day
    // tie-break); deviations are exact integers in DEKA-dollars (the
    // grain that keeps n_j·Σz² inside int64 at day scale — dollars
    // would graze 2⁶³ at sf0.1); the two scatter sums fold over the
    // 7-row group table in dow order and F composes once.
    Q("cs61_brown_forsythe", (s, dir) => {
      val daily = t(s, dir, "orders")
        .groupBy(to_date(col("o_orderdate")).as("day"))
        .agg(expr("sum(CAST(floor(o_totalprice) AS BIGINT)) div 10")
          .as("x"))
        .select(col("day"), col("x"),
          dayofweek(col("day")).cast("long").as("dow"))
        .localCheckpoint() // feeds median ranks + deviations
      val wG = Window.partitionBy("dow").orderBy(col("x"), col("day"))
      val med = daily
        .withColumn("rn", row_number().over(wG).cast("long"))
        .withColumn("nj", count(lit(1)).over(Window.partitionBy("dow")))
        .filter(col("rn") === expr("(nj + 1) div 2"))
        .select(col("dow"), col("x").as("med"))
      val z = daily.join(med, "dow")
        .select(col("dow"), abs(col("x") - col("med")).as("z"))
      val grp = z.groupBy("dow")
        .agg(count(lit(1)).as("nj"), sum("z").as("sz"),
          sum(col("z") * col("z")).as("qz"))
      def foldBy(field: String) =
        aggregate(transform(array_sort(collect_list(
          struct(col("dow"), col(field)))), q => q.getField(field)),
          lit(0.0), (a, q) => a + q)
      grp
        .withColumn("sswj", expr("CAST(nj * qz - sz * sz AS DOUBLE) / nj"))
        .withColumn("ssbj", expr("CAST(sz AS DOUBLE) * sz / nj"))
        .agg(count(lit(1)).as("k"), sum("nj").as("n"), sum("sz").as("szt"),
          foldBy("sswj").as("ssw"), foldBy("ssbj").as("ssbr"))
        .selectExpr("k", "n",
          "ssbr - CAST(szt AS DOUBLE) * szt / n AS ssb", "ssw")
        .selectExpr("k", "n",
          "CAST(floor(1.0e3 * ssb) AS BIGINT) AS ssb_e3",
          "CAST(floor(1.0e3 * ssw) AS BIGINT) AS ssw_e3",
          "CAST(floor(1.0e6 * (ssb / (k - 1)) / (ssw / (n - k)))" +
            " AS BIGINT) AS f_e6")
    }, Some("""
      WITH daily AS (
        SELECT day, x, CAST(dayofweek(day) AS BIGINT) + 1 AS dow
        FROM (
          SELECT CAST(o_orderdate AS DATE) AS day,
                 sum(CAST(floor(o_totalprice) AS BIGINT)) // 10 AS x
          FROM orders GROUP BY 1)),
      med AS (
        SELECT dow, x AS med FROM (
          SELECT dow, x, day,
                 CAST(row_number() OVER (PARTITION BY dow
                   ORDER BY x, day) AS BIGINT) AS rn,
                 count(*) OVER (PARTITION BY dow) AS nj
          FROM daily)
        WHERE rn = (nj + 1) // 2),
      z AS (
        SELECT d.dow, abs(d.x - m.med) AS z
        FROM daily d JOIN med m USING (dow)),
      grp AS (
        SELECT dow, CAST(count(*) AS BIGINT) AS nj,
               CAST(sum(z) AS BIGINT) AS sz,
               CAST(sum(z * z) AS BIGINT) AS qz
        FROM z GROUP BY 1),
      folds AS (
        SELECT CAST(count(*) AS BIGINT) AS k,
               CAST(sum(nj) AS BIGINT) AS n,
               CAST(sum(sz) AS BIGINT) AS szt,
               list_sum(list(CAST(nj * qz - sz * sz AS DOUBLE) / nj
                 ORDER BY dow)) AS ssw,
               list_sum(list(CAST(sz AS DOUBLE) * sz / nj
                 ORDER BY dow)) AS ssbr
        FROM grp),
      f AS (
        SELECT k, n, ssbr - CAST(szt AS DOUBLE) * szt / n AS ssb, ssw
        FROM folds)
      SELECT k, n,
             CAST(floor(1.0e3 * ssb) AS BIGINT) AS ssb_e3,
             CAST(floor(1.0e3 * ssw) AS BIGINT) AS ssw_e3,
             CAST(floor(1.0e6 * (ssb / (k - 1)) / (ssw / (n - k)))
               AS BIGINT) AS f_e6
      FROM f""")),

    // TS25 — MASE of the seasonal-naive forecast (ŷₜ = yₜ₋₇, positional
    // over observed days — stated convention): mean absolute error of
    // the 7-step forecast scaled by the in-sample 1-step naive MAE — the
    // scale-free forecast-accuracy metric (Hyndman) that complements
    // cs57's pinball loss. MASE < 1 ⟺ weekly seasonality carries real
    // signal. Absolute errors are exact cents; one double ratio.
    Q("ts25_mase", (s, dir) => {
      val wD = Window.orderBy("d")
      val daily = t(s, dir, "orders")
        .groupBy(datediff(to_date(col("o_orderdate")), lit("1992-01-01"))
          .cast("long").as("d"))
        .agg(sum(floor(col("o_totalprice") * 100).cast("long")).as("y"))
      val errs = daily
        .withColumn("e7", abs(col("y") - lag("y", 7).over(wD)))
        .withColumn("e1", abs(col("y") - lag("y", 1).over(wD)))
      errs
        .agg(sum(when(col("e7").isNotNull, 1L).otherwise(0L)).as("n7"),
          sum("e7").as("sae7"),
          sum(when(col("e1").isNotNull, 1L).otherwise(0L)).as("n1"),
          sum("e1").as("sae1"))
        .selectExpr("n7", "sae7", "n1", "sae1",
          "sae7 div n7 AS mae7_cents", "sae1 div n1 AS mae1_cents",
          "CAST(floor(1.0e6 * (CAST(sae7 AS DOUBLE) / n7)" +
            " / (CAST(sae1 AS DOUBLE) / n1)) AS BIGINT) AS mase_e6")
    }, Some("""
      WITH daily AS (
        SELECT CAST(datediff('day', DATE '1992-01-01',
                 CAST(o_orderdate AS DATE)) AS BIGINT) AS d,
               sum(CAST(floor(o_totalprice * 100) AS BIGINT)) AS y
        FROM orders GROUP BY 1),
      errs AS (
        SELECT abs(y - lag(y, 7) OVER (ORDER BY d)) AS e7,
               abs(y - lag(y, 1) OVER (ORDER BY d)) AS e1
        FROM daily)
      SELECT CAST(sum(CASE WHEN e7 IS NOT NULL THEN 1 ELSE 0 END)
               AS BIGINT) AS n7,
             CAST(sum(e7) AS BIGINT) AS sae7,
             CAST(sum(CASE WHEN e1 IS NOT NULL THEN 1 ELSE 0 END)
               AS BIGINT) AS n1,
             CAST(sum(e1) AS BIGINT) AS sae1,
             CAST(sum(e7) // sum(CASE WHEN e7 IS NOT NULL THEN 1
               ELSE 0 END) AS BIGINT) AS mae7_cents,
             CAST(sum(e1) // sum(CASE WHEN e1 IS NOT NULL THEN 1
               ELSE 0 END) AS BIGINT) AS mae1_cents,
             CAST(floor(1.0e6 * (CAST(sum(e7) AS DOUBLE) /
               sum(CASE WHEN e7 IS NOT NULL THEN 1 ELSE 0 END))
               / (CAST(sum(e1) AS DOUBLE) /
               sum(CASE WHEN e1 IS NOT NULL THEN 1 ELSE 0 END)))
               AS BIGINT) AS mase_e6
      FROM errs""")),

    // EMB4 — class-separation audit: squared distance between each
    // label's embedding centroid and the global centroid, on emb3's
    // exact integer quantization grid — the "are the classes even
    // separable" screen run before training a probe. Per-dim centroid
    // differences clear denominators ((N·S_ld − n_l·S_d)² / (n_l·N)²);
    // diffs are exact integers, squares go through identical IEEE
    // doubles, and each label's 32 dim terms fold in dim order. Label-
    // and dim-grain aggregates only.
    Q("emb4_class_separation", (s, dir) => {
      val dims = t(s, dir, "embeddings")
        .select(col("label").cast("long").as("lbl"),
          posexplode(col("embedding")).as(Seq("i", "xx")))
        .select(col("lbl"), (col("i") + 1).cast("long").as("dim"),
          floor(col("xx").cast("double") * 1.0e4).cast("long").as("q"))
      val byLbl = dims.groupBy("lbl", "dim")
        .agg(count(lit(1)).as("nl"), sum("q").as("sl"))
      val glob = dims.groupBy("dim")
        .agg(count(lit(1)).as("ng"), sum("q").as("sg"))
      def foldBy(field: String) =
        aggregate(transform(array_sort(collect_list(
          struct(col("dim"), col(field)))), q => q.getField(field)),
          lit(0.0), (a, q) => a + q)
      byLbl.join(glob, "dim")
        .withColumn("term", expr("CAST(ng * sl - nl * sg AS DOUBLE)" +
          " * (ng * sl - nl * sg) / (CAST(nl AS DOUBLE) * nl * ng * ng)"))
        .groupBy("lbl")
        .agg(first("nl").as("n_vecs"), foldBy("term").as("d2"))
        .selectExpr("lbl", "n_vecs",
          "CAST(floor(1.0e9 * d2 / 1.0e8) AS BIGINT) AS d2g_e9")
        .orderBy("lbl")
    }, Some("""
      WITH e AS (
        SELECT CAST(label AS BIGINT) AS lbl,
               CAST(embedding AS DOUBLE[]) AS v
        FROM embeddings),
      dims AS (
        SELECT lbl, CAST(i AS BIGINT) AS dim,
               CAST(floor(v[i] * 1.0e4) AS BIGINT) AS q
        FROM e, unnest(generate_series(1, len(v))) AS t(i)),
      bylbl AS (
        SELECT lbl, dim, CAST(count(*) AS BIGINT) AS nl,
               CAST(sum(q) AS BIGINT) AS sl
        FROM dims GROUP BY 1, 2),
      gl AS (
        SELECT dim, CAST(count(*) AS BIGINT) AS ng,
               CAST(sum(q) AS BIGINT) AS sg
        FROM dims GROUP BY 1),
      terms AS (
        SELECT b.lbl, b.dim, b.nl,
               CAST(g.ng * b.sl - b.nl * g.sg AS DOUBLE)
                 * (g.ng * b.sl - b.nl * g.sg)
                 / (CAST(b.nl AS DOUBLE) * b.nl * g.ng * g.ng) AS term
        FROM bylbl b JOIN gl g USING (dim)),
      agg AS (
        SELECT lbl, any_value(nl) AS n_vecs,
               list_sum(list(term ORDER BY dim)) AS d2
        FROM terms GROUP BY 1)
      SELECT lbl, n_vecs,
             CAST(floor(1.0e9 * d2 / 1.0e8) AS BIGINT) AS d2g_e9
      FROM agg ORDER BY lbl""")),

    // W31 — hour-of-week activity heatmap: the 7×24 census of events
    // with each cell's share and a per-dow peak-hour flag — the
    // capacity-planning / anomaly-baseline grid behind cs37's uniformity
    // number and cs49's peak. Pure integer census; hour/dow extraction
    // is UTC on both engines; peak ties break to the earlier hour.
    Q("w31_hourly_heatmap", (s, dir) => {
      val cells = t(s, dir, "events")
        .groupBy(dayofweek(to_date(col("ts"))).cast("long").as("dow"),
          hour(col("ts")).cast("long").as("hr"))
        .agg(count(lit(1)).as("n"))
      val tot = cells.agg(sum("n").as("nt"))
      val wD = Window.partitionBy("dow")
        .orderBy(col("n").desc, col("hr"))
      cells.crossJoin(broadcast(tot))
        .withColumn("is_peak",
          (row_number().over(wD) === 1).cast("long"))
        .selectExpr("dow", "hr", "n",
          "n * 1000000L div nt AS share_e6", "is_peak")
        .orderBy("dow", "hr")
    }, Some("""
      WITH cells AS (
        SELECT CAST(dayofweek(CAST(ts AS DATE)) AS BIGINT) + 1 AS dow,
               CAST(hour(ts) AS BIGINT) AS hr,
               CAST(count(*) AS BIGINT) AS n
        FROM events GROUP BY 1, 2),
      tot AS (SELECT sum(n) AS nt FROM cells)
      SELECT dow, hr, n,
             CAST(n * 1000000 // nt AS BIGINT) AS share_e6,
             CAST(CASE WHEN row_number() OVER (PARTITION BY dow
               ORDER BY n DESC, hr) = 1 THEN 1 ELSE 0 END AS BIGINT)
               AS is_peak
      FROM cells, tot ORDER BY dow, hr""")),

    // SA21 — Wald's SPRT on the daily purchase share: test H₀ p=0.05 vs
    // H₁ p=0.08 with α=β=0.05 boundaries ±ln 19, accumulating the exact-
    // count log-likelihood ratio day by day (the sequential A/B monitor
    // that stops EARLY, unlike cs13's fixed-horizon z-test). Daily
    // increments are two exact counts × two ln constants; the walk
    // accumulates in day order; the graded row is the decision — first
    // boundary day, verdict, final LLR. Day-grain windows only.
    Q("sa21_sprt", (s, dir) => {
      val wD = Window.orderBy("d")
      val cum = wD.rowsBetween(Window.unboundedPreceding,
        Window.currentRow)
      val llr = "x * (ln(8.0e-2) - ln(5.0e-2)) + " +
        "(n - x) * (ln(9.2e-1) - ln(9.5e-1))"
      val daily = t(s, dir, "events")
        .groupBy(datediff(to_date(col("ts")), lit("2024-01-01"))
          .cast("long").as("d"))
        .agg(count(lit(1)).as("n"),
          sum(when(col("event_type") === "purchase", 1L).otherwise(0L))
            .as("x"))
        .withColumn("llr", expr(llr))
        .withColumn("cum_llr", sum("llr").over(cum))
        .withColumn("crossed", when(abs(col("cum_llr")) >=
          log(lit(19.0)), 1L).otherwise(0L))
      val firstCross = daily.filter(col("crossed") === 1)
        .agg(coalesce(min("d"), lit(-1L)).as("decision_d"))
      val ending = daily.orderBy(col("d").desc).limit(1)
        .selectExpr("d AS last_d",
          "CAST(floor(1.0e6 * cum_llr) AS BIGINT) AS final_llr_e6")
      val atCross = daily.filter(col("crossed") === 1)
        .orderBy("d").limit(1)
        .selectExpr("CASE WHEN cum_llr > 0 THEN 'accept_h1' " +
          "ELSE 'accept_h0' END AS verdict")
      daily.agg(count(lit(1)).as("n_days"), sum("n").as("n_events"),
        sum("x").as("n_purchases"))
        .crossJoin(broadcast(firstCross))
        .crossJoin(broadcast(ending))
        .crossJoin(broadcast(atCross))
    }, Some("""
      WITH daily AS (
        SELECT CAST(datediff('day', DATE '2024-01-01',
                 CAST(ts AS DATE)) AS BIGINT) AS d,
               CAST(count(*) AS BIGINT) AS n,
               CAST(sum(CASE WHEN event_type = 'purchase' THEN 1
                 ELSE 0 END) AS BIGINT) AS x
        FROM events GROUP BY 1),
      walk AS (
        SELECT d, n, x,
               sum(x * (ln(8.0e-2) - ln(5.0e-2)) +
                   (n - x) * (ln(9.2e-1) - ln(9.5e-1)))
                 OVER (ORDER BY d ROWS BETWEEN UNBOUNDED PRECEDING AND
                   CURRENT ROW) AS cum_llr
        FROM daily),
      flagged AS (
        SELECT d, n, x, cum_llr,
               CASE WHEN abs(cum_llr) >= ln(19.0e0) THEN 1 ELSE 0 END
                 AS crossed
        FROM walk),
      fc AS (SELECT coalesce(min(CASE WHEN crossed = 1 THEN d END), -1)
               AS decision_d FROM flagged),
      ending AS (
        SELECT d AS last_d,
               CAST(floor(1.0e6 * cum_llr) AS BIGINT) AS final_llr_e6
        FROM flagged ORDER BY d DESC LIMIT 1),
      atcross AS (
        SELECT CASE WHEN cum_llr > 0 THEN 'accept_h1' ELSE 'accept_h0'
                 END AS verdict
        FROM flagged WHERE crossed = 1 ORDER BY d LIMIT 1),
      tot AS (
        SELECT CAST(count(*) AS BIGINT) AS n_days,
               CAST(sum(n) AS BIGINT) AS n_events,
               CAST(sum(x) AS BIGINT) AS n_purchases
        FROM daily)
      SELECT t.n_days, t.n_events, t.n_purchases,
             CAST(f.decision_d AS BIGINT) AS decision_d,
             CAST(e.last_d AS BIGINT) AS last_d, e.final_llr_e6,
             a.verdict
      FROM tot t, fc f, ending e, atcross a""")),

    // TS26 — integrated autocorrelation time τ = 1 + 2·Σρₖ (summed to
    // the first NEGATIVE autocorrelation, Sokal's initial-positive
    // window): the factor by which serial correlation shrinks the
    // effective sample size of the daily series — the number that says
    // how much to trust cs13-style i.i.d. tests on it. ACF reuses ts19's
    // exact-integer clearing, so the CUTOFF is decided by integer signs
    // (a_k < 0), never a float comparison; the ≤20 retained ρ's fold in
    // lag order; ESS = n/τ composes once.
    Q("ts26_autocorr_time", (s, dir) => {
      val m = 20
      val days = t(s, dir, "events")
        .groupBy(to_date(col("ts")).as("day"))
        .agg(count(lit(1)).as("x"))
        .select(col("x"), row_number().over(Window.orderBy("day"))
          .cast("long").as("rn"))
        .localCheckpoint()
      val tot = days.agg(count(lit(1)).as("n"), sum("x").as("sx"))
      val r = days.crossJoin(broadcast(tot))
        .select(col("rn"), (col("n") * col("x") - col("sx")).as("res"),
          col("n"))
      val ss = r.agg(sum(col("res") * col("res")).as("ss"))
      import s.implicits._
      val lags = (1 to m).map(k => Tuple1(k.toLong)).toDF("k")
      val byLag = r.crossJoin(broadcast(lags))
        .join(r.select(col("rn").as("prn"), col("res").as("pres")),
          expr("prn = rn - k"))
        .groupBy("k")
        .agg(sum(col("res") * col("pres")).as("a"), first("n").as("n"))
        .localCheckpoint() // feeds cutoff + fold
      val cutoff = byLag.filter(col("a") < 0)
        .agg(coalesce(min("k"), lit(m.toLong + 1)).as("kneg"))
      def foldBy(field: String) =
        aggregate(transform(array_sort(collect_list(
          struct(col("k"), col(field)))), q => q.getField(field)),
          lit(0.0), (a, q) => a + q)
      val folded = byLag.crossJoin(broadcast(cutoff))
        .crossJoin(broadcast(ss))
        .filter(col("k") < col("kneg"))
        .withColumn("rho", col("a").cast("double") / col("ss"))
        .agg(count(lit(1)).as("k_used"), foldBy("rho").as("rsum"))
      // n and kneg come from their own 1-row frames so the empty-kept
      // edge (first autocorrelation already negative) stays well-defined
      tot.select(col("n")).crossJoin(broadcast(cutoff))
        .crossJoin(broadcast(folded))
        .selectExpr("n", "kneg", "k_used",
          "CAST(floor(1.0e6 * (1.0e0 + 2.0e0 * rsum)) AS BIGINT)" +
            " AS tau_e6",
          "CAST(floor(CAST(n AS DOUBLE) / (1.0e0 + 2.0e0 * rsum))" +
            " AS BIGINT) AS ess_days")
    }, Some("""
      WITH days AS (
        SELECT CAST(count(*) AS BIGINT) AS x,
               CAST(row_number() OVER (ORDER BY CAST(ts AS DATE))
                 AS BIGINT) AS rn
        FROM events GROUP BY CAST(ts AS DATE)),
      tot AS (SELECT count(*) AS n, sum(x) AS sx FROM days),
      r AS (SELECT rn, n * x - sx AS res, n FROM days, tot),
      ss AS (SELECT sum(CAST(res AS HUGEINT) * res) AS ss FROM r),
      ks AS (SELECT CAST(unnest(generate_series(1, 20)) AS BIGINT)
               AS k),
      bylag AS (
        SELECT k, sum(CAST(a.res AS HUGEINT) * b.res) AS a,
               any_value(a.n) AS n
        FROM r a, ks, r b WHERE b.rn = a.rn - k
        GROUP BY k),
      cutoff AS (SELECT coalesce(min(CASE WHEN a < 0 THEN k END), 21)
                   AS kneg FROM bylag),
      kept AS (
        SELECT b.k,
               CAST(b.a AS DOUBLE) / CAST(s.ss AS DOUBLE) AS rho
        FROM bylag b, cutoff c, ss s WHERE b.k < c.kneg),
      agg AS (
        SELECT CAST(count(*) AS BIGINT) AS k_used,
               coalesce(list_sum(list(rho ORDER BY k)), 0.0e0) AS rsum
        FROM kept)
      SELECT CAST(t.n AS BIGINT) AS n, CAST(c.kneg AS BIGINT) AS kneg,
             a.k_used,
             CAST(floor(1.0e6 * (1.0e0 + 2.0e0 * a.rsum)) AS BIGINT)
               AS tau_e6,
             CAST(floor(CAST(t.n AS DOUBLE) / (1.0e0 + 2.0e0 * a.rsum))
               AS BIGINT) AS ess_days
      FROM agg a, cutoff c, tot t""")),

    // MB8 — price-ending census: the top-10 cents endings of line-item
    // prices with their corpus share — the psychological-pricing /
    // synthetic-data fingerprint (real retail masses on .99/.00; a
    // uniform ending histogram means generated prices). Pure integer
    // census (cents mod 100), deterministic top-10 (count desc, ending).
    Q("mb8_price_endings", (s, dir) => {
      val endings = t(s, dir, "lineitem")
        .selectExpr("floor(l_extendedprice * 100) % 100 AS ending")
        .groupBy("ending").agg(count(lit(1)).as("n"))
      val tot = endings.agg(sum("n").as("nt"))
      endings.crossJoin(broadcast(tot))
        .selectExpr("CAST(ending AS BIGINT) AS ending", "n",
          "n * 1000000L div nt AS share_e6")
        .orderBy(col("n").desc, col("ending"))
        .limit(10)
    }, Some("""
      WITH endings AS (
        SELECT CAST(CAST(floor(l_extendedprice * 100) AS BIGINT) % 100
                 AS BIGINT) AS ending,
               CAST(count(*) AS BIGINT) AS n
        FROM lineitem GROUP BY 1),
      tot AS (SELECT sum(n) AS nt FROM endings)
      SELECT ending, n,
             CAST(n * 1000000 // nt AS BIGINT) AS share_e6
      FROM endings, tot
      ORDER BY n DESC, ending LIMIT 10""")),

    // D15 — turn-of-month effect: revenue per calendar day in the last
    // three days of each month vs the rest — the budget-flush /
    // settlement-cycle seasonality that day-of-week models (cs53, ts1)
    // cannot see. Classification uses last_day() on both engines; sums
    // and day counts are exact; the per-day rate ratio is one double.
    Q("d15_month_end_effect", (s, dir) => {
      val days = t(s, dir, "orders")
        .groupBy(to_date(col("o_orderdate")).as("day"))
        .agg(sum(floor(col("o_totalprice") * 100).cast("long")).as("y"))
        .withColumn("me",
          (datediff(last_day(col("day")), col("day")) < 3).cast("long"))
      days
        .agg(sum(when(col("me") === 1, 1L).otherwise(0L)).as("d_l3"),
          sum(when(col("me") === 1, col("y")).otherwise(0L)).as("rev_l3"),
          sum(when(col("me") === 0, 1L).otherwise(0L)).as("d_rest"),
          sum(when(col("me") === 0, col("y")).otherwise(0L))
            .as("rev_rest"))
        .selectExpr("d_l3", "rev_l3", "d_rest", "rev_rest",
          "CAST(floor(1.0e6 * (CAST(rev_l3 AS DOUBLE) / d_l3)" +
            " / (CAST(rev_rest AS DOUBLE) / d_rest)) AS BIGINT)" +
            " AS rate_ratio_e6")
    }, Some("""
      WITH days AS (
        SELECT day, y,
               CASE WHEN datediff('day', day, last_day(day)) < 3
                 THEN 1 ELSE 0 END AS me
        FROM (
          SELECT CAST(o_orderdate AS DATE) AS day,
                 sum(CAST(floor(o_totalprice * 100) AS BIGINT)) AS y
          FROM orders GROUP BY 1))
      SELECT CAST(sum(CASE WHEN me = 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS d_l3,
             CAST(sum(CASE WHEN me = 1 THEN y ELSE 0 END) AS BIGINT)
               AS rev_l3,
             CAST(sum(CASE WHEN me = 0 THEN 1 ELSE 0 END) AS BIGINT)
               AS d_rest,
             CAST(sum(CASE WHEN me = 0 THEN y ELSE 0 END) AS BIGINT)
               AS rev_rest,
             CAST(floor(1.0e6 * (CAST(sum(CASE WHEN me = 1 THEN y
               ELSE 0 END) AS DOUBLE) / sum(CASE WHEN me = 1 THEN 1
               ELSE 0 END)) / (CAST(sum(CASE WHEN me = 0 THEN y ELSE 0
               END) AS DOUBLE) / sum(CASE WHEN me = 0 THEN 1 ELSE 0
               END))) AS BIGINT) AS rate_ratio_e6
      FROM days""")),

    // W32 — revenue by customer tenure: each order bucketed by the
    // customer's age in 30-day months at order time (first order =
    // month 0), with order count, active customers, revenue mass, and
    // the exact per-order average — the lifecycle curve behind every
    // LTV model (w12's growth accounting gives WHO is active; this
    // gives what age is WORTH). One customer-keyed window + a bounded
    // tenure-grain rollup, all integers.
    Q("w32_tenure_revenue", (s, dir) => {
      val wC = Window.partitionBy("o_custkey")
      val aged = t(s, dir, "orders")
        .select(col("o_custkey"), to_date(col("o_orderdate")).as("day"),
          floor(col("o_totalprice") * 100).cast("long").as("cents"))
        .withColumn("first_day", min("day").over(wC))
        .selectExpr("o_custkey", "cents",
          "datediff(day, first_day) div 30 AS age_m")
      aged.groupBy("age_m")
        .agg(count(lit(1)).as("n_orders"),
          countDistinct("o_custkey").cast("long").as("n_customers"),
          sum("cents").as("rev_cents"))
        .selectExpr("age_m", "n_orders", "n_customers", "rev_cents",
          "rev_cents div n_orders AS avg_order_cents")
        .orderBy("age_m")
    }, Some("""
      WITH aged AS (
        SELECT o_custkey,
               CAST(floor(o_totalprice * 100) AS BIGINT) AS cents,
               datediff('day',
                 min(CAST(o_orderdate AS DATE)) OVER
                   (PARTITION BY o_custkey),
                 CAST(o_orderdate AS DATE)) // 30 AS age_m
        FROM orders)
      SELECT CAST(age_m AS BIGINT) AS age_m,
             CAST(count(*) AS BIGINT) AS n_orders,
             CAST(count(DISTINCT o_custkey) AS BIGINT) AS n_customers,
             CAST(sum(cents) AS BIGINT) AS rev_cents,
             CAST(sum(cents) // count(*) AS BIGINT) AS avg_order_cents
      FROM aged GROUP BY 1 ORDER BY 1""")),

    // CS62 — Cochran's Q across three per-user binary outcomes (ever
    // crossed the 150 / 100 / 50 value thresholds): the k-sample
    // extension of cs35's McNemar — are the pass-rates equal for the
    // SAME population? The nested thresholds guarantee discordant rows
    // (u_i ∈ {1, 2} users), so the denominator k·N − Σu² cannot
    // degenerate the way an every-user-does-everything fixture does.
    // Q = (k−1)(k·ΣTⱼ² − N²)/(k·N − Σuᵢ²) is EXACT integers end to end;
    // one double division for the scaled report.
    Q("cs62_cochran_q", (s, dir) => {
      val perUser = t(s, dir, "events")
        .groupBy(col("user_id"))
        .agg(max(when(col("value") >= 150.0, 1L).otherwise(0L))
          .as("bh"),
          max(when(col("value") >= 100.0, 1L).otherwise(0L)).as("bm"),
          max(when(col("value") >= 50.0, 1L).otherwise(0L)).as("bl"))
      perUser
        .agg(count(lit(1)).as("n_users"), sum("bh").as("t_hi"),
          sum("bm").as("t_mid"), sum("bl").as("t_lo"),
          sum(expr("(bh + bm + bl) * (bh + bm + bl)")).as("su2"))
        .selectExpr("n_users", "t_hi", "t_mid", "t_lo",
          "t_hi + t_mid + t_lo AS nn", "su2")
        .selectExpr("n_users", "t_hi", "t_mid", "t_lo",
          "CASE WHEN 3 * nn - su2 = 0 THEN NULL ELSE" +
            " CAST(floor(1.0e6 * (2.0e0 * (3 * (t_hi * t_hi" +
            " + t_mid * t_mid + t_lo * t_lo)" +
            " - nn * nn)) / (3 * nn - su2)) AS BIGINT) END AS q_e6")
    }, Some("""
      WITH pu AS (
        SELECT user_id,
               max(CASE WHEN value >= 150.0 THEN 1 ELSE 0 END) AS bh,
               max(CASE WHEN value >= 100.0 THEN 1 ELSE 0 END) AS bm,
               max(CASE WHEN value >= 50.0 THEN 1 ELSE 0 END) AS bl
        FROM events GROUP BY 1),
      agg AS (
        SELECT CAST(count(*) AS BIGINT) AS n_users,
               CAST(sum(bh) AS BIGINT) AS t_hi,
               CAST(sum(bm) AS BIGINT) AS t_mid,
               CAST(sum(bl) AS BIGINT) AS t_lo,
               CAST(sum((bh + bm + bl) * (bh + bm + bl)) AS BIGINT)
                 AS su2
        FROM pu),
      nn AS (SELECT *, t_hi + t_mid + t_lo AS nn FROM agg)
      SELECT n_users, t_hi, t_mid, t_lo,
             CASE WHEN 3 * nn - su2 = 0 THEN NULL ELSE
               CAST(floor(1.0e6 * (2.0e0 * (3 * (t_hi * t_hi
                 + t_mid * t_mid + t_lo * t_lo)
                 - nn * nn)) / (3 * nn - su2)) AS BIGINT) END AS q_e6
      FROM nn""")),

    // TS27 — temporal PSI drift monitor: each month's event-value
    // distribution vs the FIRST month over a fixed 11-bin grid
    // (Laplace-smoothed, cs2's formula pointed at time instead of
    // source) — the "has the metric's shape drifted since launch"
    // dashboard row, with the standard <0.1 / >0.25 thresholds. Counts
    // are exact on a (month × bin) grid join; each month's 11 bin terms
    // fold in bin order.
    Q("ts27_monthly_psi", (s, dir) => {
      val binned = t(s, dir, "events")
        .selectExpr(
          "CAST((year(ts) - 2024) * 12 + month(ts) - 1 AS BIGINT) AS mk",
          "least(CAST(floor(value / 25) AS BIGINT), 10L) AS bin")
        .groupBy("mk", "bin").agg(count(lit(1)).as("c"))
      import s.implicits._
      val grid = (0L to 10L).map(Tuple1(_)).toDF("bin")
      val months = binned.select("mk").distinct()
      val full = months.crossJoin(broadcast(grid))
        .join(binned, Seq("mk", "bin"), "left")
        .withColumn("c", coalesce(col("c"), lit(0L)))
        .withColumn("nm", sum("c").over(Window.partitionBy("mk")))
      val base = full.crossJoin(broadcast(
          full.agg(min("mk").as("mk0"))))
        .filter(col("mk") === col("mk0"))
        .select(col("bin"), col("c").as("cb"), col("nm").as("nb"))
      def foldBy(field: String) =
        aggregate(transform(array_sort(collect_list(
          struct(col("bin"), col(field)))), q => q.getField(field)),
          lit(0.0), (a, q) => a + q)
      full.join(broadcast(base), "bin")
        .withColumn("pm",
          (col("c") + lit(0.5)) / (col("nm") + lit(5.5)))
        .withColumn("pb",
          (col("cb") + lit(0.5)) / (col("nb") + lit(5.5)))
        .withColumn("term",
          (col("pm") - col("pb")) * log(col("pm") / col("pb")))
        .groupBy("mk", "nm")
        .agg(foldBy("term").as("psi"))
        .selectExpr("mk", "nm AS n_events",
          "CAST(floor(1.0e6 * psi) AS BIGINT) AS psi_e6")
        .orderBy("mk")
    }, Some("""
      WITH binned AS (
        SELECT CAST((year(ts) - 2024) * 12 + month(ts) - 1 AS BIGINT)
                 AS mk,
               least(CAST(floor(value / 25) AS BIGINT), 10) AS bin,
               CAST(count(*) AS BIGINT) AS c
        FROM events GROUP BY 1, 2),
      months AS (SELECT DISTINCT mk FROM binned),
      grid AS (SELECT CAST(unnest(generate_series(0, 10)) AS BIGINT)
                 AS bin),
      fullg AS (
        SELECT mg.mk, mg.bin, coalesce(b.c, 0) AS c,
               sum(coalesce(b.c, 0)) OVER (PARTITION BY mg.mk) AS nm
        FROM (SELECT m.mk, g.bin FROM months m, grid g) mg
        LEFT JOIN binned b ON b.mk = mg.mk AND b.bin = mg.bin),
      base AS (
        SELECT bin, c AS cb, nm AS nb FROM fullg
        WHERE mk = (SELECT min(mk) FROM fullg)),
      terms AS (
        SELECT f.mk, f.bin, f.nm,
               ((f.c + 5.0e-1) / (f.nm + 5.5e0)
                 - (b.cb + 5.0e-1) / (b.nb + 5.5e0))
               * ln(((f.c + 5.0e-1) / (f.nm + 5.5e0))
                 / ((b.cb + 5.0e-1) / (b.nb + 5.5e0))) AS term
        FROM fullg f JOIN base b USING (bin))
      SELECT CAST(mk AS BIGINT) AS mk,
             CAST(any_value(nm) AS BIGINT) AS n_events,
             CAST(floor(1.0e6 * list_sum(list(term ORDER BY bin)))
               AS BIGINT) AS psi_e6
      FROM terms GROUP BY mk ORDER BY mk""")),

    // GR21 — partition locality of the fixture digraph under modulo
    // hashing at P ∈ {8, 16, 32}: the share of edges whose endpoints
    // land in the same partition — the number that decides whether a
    // graph workload benefits from co-partitioning (high locality ⇒
    // fewer cross-partition shuffles per BFS/PR round) vs the 1/P
    // uniform baseline. Pure integer census over an edge × 3-row grid.
    Q("gr21_partition_locality", (s, dir) => {
      val edges = t(s, dir, "documents")
        .selectExpr("doc_id % 499 AS u")
        .selectExpr("u", "(7 * u + 1) % 499 AS v")
        .unionAll(t(s, dir, "documents")
          .selectExpr("doc_id % 499 AS u")
          .selectExpr("u", "(3 * u + 2) % 499 AS v"))
        .filter(col("u") =!= col("v"))
        .distinct()
      import s.implicits._
      val ps = Seq(8L, 16L, 32L).map(Tuple1(_)).toDF("p")
      edges.crossJoin(broadcast(ps))
        .groupBy("p")
        .agg(count(lit(1)).as("n_edges"),
          sum(when(col("u") % col("p") === col("v") % col("p"), 1L)
            .otherwise(0L)).as("n_local"))
        .selectExpr("p", "n_edges", "n_local",
          "n_local * 1000000L div n_edges AS local_share_e6",
          "1000000L div p AS uniform_share_e6")
        .orderBy("p")
    }, Some("""
      WITH nodes AS (SELECT DISTINCT doc_id % 499 AS u FROM documents),
      edges AS (
        SELECT DISTINCT u, v FROM (
          SELECT u, (7 * u + 1) % 499 AS v FROM nodes
          UNION ALL
          SELECT u, (3 * u + 2) % 499 AS v FROM nodes)
        WHERE u <> v),
      ps AS (SELECT CAST(unnest([8, 16, 32]) AS BIGINT) AS p)
      SELECT p, CAST(count(*) AS BIGINT) AS n_edges,
             CAST(sum(CASE WHEN u % p = v % p THEN 1 ELSE 0 END)
               AS BIGINT) AS n_local,
             CAST(sum(CASE WHEN u % p = v % p THEN 1 ELSE 0 END)
               * 1000000 // count(*) AS BIGINT) AS local_share_e6,
             CAST(1000000 // p AS BIGINT) AS uniform_share_e6
      FROM edges, ps GROUP BY p ORDER BY p""")),

    // W33 — customer value-band migration: spend quartile in the first
    // half of the dataset vs the second (plus 'none' for inactive
    // halves), as a transition matrix — the retention-economics SCD that
    // says whether top-quartile customers STAY top-quartile. Bands are
    // exact rank arithmetic ((rank−1)·4 div n_active, custkey ties), the
    // matrix is an integer census; one customer-grain aggregate + two
    // bounded rank windows.
    Q("w33_value_migration", (s, dir) => {
      val spend = t(s, dir, "orders")
        .groupBy(col("o_custkey"))
        .agg(
          sum(when(to_date(col("o_orderdate")) < lit("1995-07-01"),
            floor(col("o_totalprice") * 100).cast("long")).otherwise(0L))
            .as("s1"),
          sum(when(to_date(col("o_orderdate")) >= lit("1995-07-01"),
            floor(col("o_totalprice") * 100).cast("long")).otherwise(0L))
            .as("s2"))
      // rank-based quartiles over each half's ACTIVE set only
      val b1 = spend.filter(col("s1") > 0)
        .withColumn("r1", rank().over(
          Window.orderBy(col("s1"), col("o_custkey"))).cast("long"))
        .withColumn("n1", count(lit(1)).over(Window.partitionBy()))
        .selectExpr("o_custkey", "concat('q', (r1 - 1) * 4 div n1 + 1)" +
          " AS band1")
      val b2 = spend.filter(col("s2") > 0)
        .withColumn("r2", rank().over(
          Window.orderBy(col("s2"), col("o_custkey"))).cast("long"))
        .withColumn("n2", count(lit(1)).over(Window.partitionBy()))
        .selectExpr("o_custkey", "concat('q', (r2 - 1) * 4 div n2 + 1)" +
          " AS band2")
      spend.select("o_custkey")
        .join(b1, Seq("o_custkey"), "left")
        .join(b2, Seq("o_custkey"), "left")
        .selectExpr("coalesce(band1, 'none') AS band1",
          "coalesce(band2, 'none') AS band2")
        .groupBy("band1", "band2").agg(count(lit(1)).as("n_customers"))
        .orderBy("band1", "band2")
    }, Some("""
      WITH spend AS (
        SELECT o_custkey,
               sum(CASE WHEN CAST(o_orderdate AS DATE) < DATE
                 '1995-07-01' THEN CAST(floor(o_totalprice * 100)
                 AS BIGINT) ELSE 0 END) AS s1,
               sum(CASE WHEN CAST(o_orderdate AS DATE) >= DATE
                 '1995-07-01' THEN CAST(floor(o_totalprice * 100)
                 AS BIGINT) ELSE 0 END) AS s2
        FROM orders GROUP BY 1),
      b1 AS (
        SELECT o_custkey,
               'q' || CAST((rank() OVER (ORDER BY s1, o_custkey) - 1)
                 * 4 // (count(*) OVER ()) + 1 AS VARCHAR) AS band1
        FROM spend WHERE s1 > 0),
      b2 AS (
        SELECT o_custkey,
               'q' || CAST((rank() OVER (ORDER BY s2, o_custkey) - 1)
                 * 4 // (count(*) OVER ()) + 1 AS VARCHAR) AS band2
        FROM spend WHERE s2 > 0)
      SELECT coalesce(b1.band1, 'none') AS band1,
             coalesce(b2.band2, 'none') AS band2,
             CAST(count(*) AS BIGINT) AS n_customers
      FROM spend s
        LEFT JOIN b1 ON b1.o_custkey = s.o_custkey
        LEFT JOIN b2 ON b2.o_custkey = s.o_custkey
      GROUP BY 1, 2 ORDER BY 1, 2""")),

    // TS28 — Engle's ARCH-effect screen: Ljung–Box on SQUARED daily P&L
    // (dollars) at lags 1–5 — volatility clustering that ts19 (levels)
    // cannot see; the gate before trusting any constant-variance model
    // on the series. Residuals n·s − Σs are exact longs; the lag
    // products exceed 2⁵³ so they go through IDENTICAL double folds in
    // day order on both engines (bit-reproducible, ts21's argument).
    Q("ts28_arch_effect", (s, dir) => {
      val m = 5
      val wD = Window.orderBy("d")
      val sq = t(s, dir, "orders")
        .groupBy(datediff(to_date(col("o_orderdate")), lit("1992-01-01"))
          .cast("long").as("d"))
        .agg(sum(floor(col("o_totalprice")).cast("long")).as("y"))
        .withColumn("p", col("y") - lag("y", 1).over(wD))
        .filter(col("p").isNotNull)
        .select(col("d"), (col("p") * col("p")).as("s2"))
        .select(col("s2"), row_number().over(Window.orderBy("d"))
          .cast("long").as("rn"))
        .localCheckpoint()
      val tot = sq.agg(count(lit(1)).as("n"), sum("s2").as("ss2"))
      val r = sq.crossJoin(broadcast(tot))
        .select(col("rn"),
          (col("n") * col("s2") - col("ss2")).as("res"), col("n"))
        .localCheckpoint() // feeds SS + all lag joins
      def foldBy(df: org.apache.spark.sql.DataFrame, field: String) =
        df.agg(aggregate(transform(array_sort(collect_list(
          struct(col("rn"), col(field)))), q => q.getField(field)),
          lit(0.0), (a, q) => a + q).as(field))
      val ss = foldBy(r.withColumn("t",
        col("res").cast("double") * col("res")).select("rn", "t"), "t")
        .selectExpr("t AS ss")
      import s.implicits._
      val lags = (1 to m).map(k => Tuple1(k.toLong)).toDF("k")
      val byLag = r.crossJoin(broadcast(lags))
        .join(r.select(col("rn").as("prn"), col("res").as("pres")),
          expr("prn = rn - k"))
        .withColumn("t", col("res").cast("double") * col("pres"))
        .groupBy("k")
        .agg(count(lit(1)).as("n_pairs"), first("n").as("n"),
          aggregate(transform(array_sort(collect_list(
            struct(col("rn"), col("t")))), q => q.getField("t")),
            lit(0.0), (a, q) => a + q).as("a"))
      val wK = Window.orderBy("k")
      byLag.crossJoin(broadcast(ss))
        .withColumn("rho", col("a") / col("ss"))
        .withColumn("q_e6", floor(lit(1.0e6) * col("n") * (col("n") + 2)
          * sum(col("rho") * col("rho") / (col("n") - col("k")))
            .over(wK.rowsBetween(Window.unboundedPreceding,
              Window.currentRow))).cast("long"))
        .select(col("k"), col("n_pairs"),
          floor(lit(1.0e6) * col("rho")).cast("long").as("rho_e6"),
          col("q_e6"))
        .orderBy("k")
    }, Some("""
      WITH daily AS (
        SELECT CAST(datediff('day', DATE '1992-01-01',
                 CAST(o_orderdate AS DATE)) AS BIGINT) AS d,
               sum(CAST(floor(o_totalprice) AS BIGINT)) AS y
        FROM orders GROUP BY 1),
      sq AS (
        SELECT CAST(row_number() OVER (ORDER BY d) AS BIGINT) AS rn,
               p * p AS s2
        FROM (SELECT d, y - lag(y) OVER (ORDER BY d) AS p FROM daily)
        WHERE p IS NOT NULL),
      tot AS (SELECT count(*) AS n, sum(s2) AS ss2 FROM sq),
      r AS (SELECT rn, n * s2 - ss2 AS res, n FROM sq, tot),
      ss AS (SELECT list_sum(list(CAST(res AS DOUBLE) * res
               ORDER BY rn)) AS ss FROM r),
      ks AS (SELECT CAST(unnest(generate_series(1, 5)) AS BIGINT) AS k),
      bylag AS (
        SELECT k, CAST(count(*) AS BIGINT) AS n_pairs,
               any_value(a.n) AS n,
               list_sum(list(CAST(a.res AS DOUBLE) * b.res
                 ORDER BY a.rn)) AS a
        FROM r a, ks, r b WHERE b.rn = a.rn - k
        GROUP BY k)
      SELECT k, n_pairs,
             CAST(floor(1.0e6 * (a / ss)) AS BIGINT) AS rho_e6,
             CAST(floor(1.0e6 * n * (n + 2) * sum(
               (a / ss) * (a / ss) / (n - k))
               OVER (ORDER BY k ROWS BETWEEN UNBOUNDED PRECEDING AND
                 CURRENT ROW)) AS BIGINT) AS q_e6
      FROM bylag, ss ORDER BY k""")),

    // D16 — calendar-gap audit on a thinned order stream (custkey ≡ 0
    // mod 97, ~1% of orders): explode the full date spine between the
    // subset's first and last day, anti-join the active days, and
    // summarize the missing-day islands — count, longest run, total,
    // share — the data-completeness check every daily-partitioned
    // ingest needs (a silent 3-day feed outage IS a missing-run here).
    // All integers; spine and islands are day-grain bounded.
    Q("d16_calendar_gaps", (s, dir) => {
      val active = t(s, dir, "orders")
        .filter(col("o_custkey") % 97 === 0)
        .select(to_date(col("o_orderdate")).as("day")).distinct()
        .localCheckpoint() // feeds span + the anti-join
      val span = active.agg(min("day").as("d0"), max("day").as("d1"),
        count(lit(1)).as("n_active"))
      val spine = span.select(explode(expr("sequence(d0, d1)")).as("day"))
      val missing = spine.join(active, Seq("day"), "left_anti")
        .withColumn("ep", datediff(col("day"), lit("1992-01-01"))
          .cast("long"))
      val islands = missing
        .withColumn("grp", col("ep") - row_number().over(
          Window.orderBy("ep")).cast("long"))
        .groupBy("grp").agg(count(lit(1)).as("len"))
      span
        .crossJoin(broadcast(missing.agg(count(lit(1)).as("n_missing"))))
        .crossJoin(broadcast(islands.agg(
          coalesce(count(lit(1)), lit(0L)).as("n_gaps"),
          coalesce(max("len"), lit(0L)).as("longest_gap"))))
        .selectExpr("n_active", "n_missing", "n_gaps", "longest_gap",
          "n_missing * 1000000L div (n_active + n_missing)" +
            " AS missing_share_e6")
    }, Some("""
      WITH active AS (
        SELECT DISTINCT CAST(o_orderdate AS DATE) AS day
        FROM orders WHERE o_custkey % 97 = 0),
      span AS (SELECT min(day) AS d0, max(day) AS d1,
                      count(*) AS n_active FROM active),
      spine AS (
        SELECT CAST(unnest(generate_series(d0, d1,
          INTERVAL 1 DAY)) AS DATE) AS day FROM span),
      missing AS (
        SELECT CAST(datediff('day', DATE '1992-01-01', s.day)
          AS BIGINT) AS ep
        FROM spine s LEFT JOIN active a ON a.day = s.day
        WHERE a.day IS NULL),
      islands AS (
        SELECT ep - CAST(row_number() OVER (ORDER BY ep) AS BIGINT)
                 AS grp,
               ep
        FROM missing),
      gaps AS (SELECT grp, CAST(count(*) AS BIGINT) AS len
               FROM islands GROUP BY 1),
      mtot AS (SELECT CAST(count(*) AS BIGINT) AS n_missing
               FROM missing),
      gtot AS (SELECT CAST(coalesce(count(*), 0) AS BIGINT) AS n_gaps,
                      CAST(coalesce(max(len), 0) AS BIGINT)
                        AS longest_gap
               FROM gaps)
      SELECT CAST(s.n_active AS BIGINT) AS n_active, m.n_missing,
             g.n_gaps, g.longest_gap,
             CAST(m.n_missing * 1000000 // (s.n_active + m.n_missing)
               AS BIGINT) AS missing_share_e6
      FROM span s, mtot m, gtot g""")),

    // CS63 — birthday-bound hash-collision audit: observed collisions
    // (n − ndv) of 16/24/32-bit md5 prefixes over document texts vs the
    // birthday expectation n(n−1)/2^{b+1} — the measurement behind
    // dd4's "32-bit SimHash saturates" scaling note and the width
    // chooser for any hash-keyed dedup. Truncated md5 hex prefixes are
    // identical on both engines; counts exact; expectation one double.
    Q("cs63_hash_collision_audit", (s, dir) => {
      import s.implicits._
      val widths = Seq((4L, 16L), (6L, 24L), (8L, 32L))
        .toDF("hex_chars", "bits")
      val docs = t(s, dir, "documents")
        .select(md5(col("text")).as("h"))
      docs.crossJoin(broadcast(widths))
        .select(col("hex_chars"), col("bits"),
          expr("substring(h, 1, CAST(hex_chars AS INT))").as("hw"))
        .groupBy("hex_chars", "bits")
        .agg(count(lit(1)).as("n"),
          countDistinct("hw").cast("long").as("ndv"))
        .selectExpr("bits", "n", "ndv", "n - ndv AS observed",
          "CAST(floor(1.0e6 * CAST(n AS DOUBLE) * (n - 1)" +
            " / power(2.0e0, CAST(bits AS DOUBLE) + 1)) AS BIGINT)" +
            " AS expected_e6")
        .orderBy("bits")
    }, Some("""
      WITH docs AS (SELECT md5(text) AS h FROM documents),
      widths AS (
        SELECT CAST(unnest([4, 6, 8]) AS BIGINT) AS hex_chars,
               CAST(unnest([16, 24, 32]) AS BIGINT) AS bits),
      cut AS (
        SELECT w.hex_chars, w.bits,
               substring(d.h, 1, CAST(w.hex_chars AS INT)) AS hw
        FROM docs d, widths w),
      agg AS (
        SELECT bits, CAST(count(*) AS BIGINT) AS n,
               CAST(count(DISTINCT hw) AS BIGINT) AS ndv
        FROM cut GROUP BY 1)
      SELECT bits, n, ndv, n - ndv AS observed,
             CAST(floor(1.0e6 * CAST(n AS DOUBLE) * (n - 1)
               / power(2.0e0, CAST(bits AS DOUBLE) + 1)) AS BIGINT)
               AS expected_e6
      FROM agg ORDER BY bits""")),

    // SA22 — sample-size planner for a ±2% / 95% proportion estimate:
    // n* = z²·p̂(1−p̂)/e² per event type, with the current n and the
    // verdict (enough data or not) — cs36's power/MDE planner pointed at
    // estimation rather than testing. p̂ from exact counts; n* one
    // closed-form double, ceil'd; the comparison is integer.
    Q("sa22_proportion_n", (s, dir) => {
      t(s, dir, "events")
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"),
          sum(when(col("value") >= 100.0, 1L).otherwise(0L)).as("x"))
        .withColumn("px", col("x").cast("double") / col("n"))
        .selectExpr("event_type", "n", "x",
          "CAST(ceil(3.8416e0 * px * (1 - px) / (2.0e-2 * 2.0e-2))" +
            " AS BIGINT) AS n_star")
        .selectExpr("event_type", "n", "x", "n_star",
          "CAST(CASE WHEN n >= n_star THEN 1 ELSE 0 END AS BIGINT)" +
            " AS sufficient")
        .orderBy("event_type")
    }, Some("""
      WITH agg AS (
        SELECT event_type, CAST(count(*) AS BIGINT) AS n,
               CAST(sum(CASE WHEN value >= 100.0 THEN 1 ELSE 0 END)
                 AS BIGINT) AS x
        FROM events GROUP BY 1),
      px AS (SELECT event_type, n, x, CAST(x AS DOUBLE) / n AS px
             FROM agg),
      ns AS (
        SELECT event_type, n, x,
               CAST(ceil(3.8416e0 * px * (1 - px)
                 / (2.0e-2 * 2.0e-2)) AS BIGINT) AS n_star
        FROM px)
      SELECT event_type, n, x, n_star,
             CAST(CASE WHEN n >= n_star THEN 1 ELSE 0 END AS BIGINT)
               AS sufficient
      FROM ns ORDER BY event_type""")),

    // W34 — up-streak length histogram of daily revenue: gaps-and-
    // islands over the ascent flag, then the run-length census with
    // each length's geometric expectation n_runs·(1/2)^len under the
    // i.i.d. null — the distributional refinement of ts23's single
    // runs count (a too-heavy tail here = momentum). All integers but
    // the per-row expectation double.
    Q("w34_upstreak_histogram", (s, dir) => {
      val wD = Window.orderBy("d")
      val flags = t(s, dir, "orders")
        .groupBy(datediff(to_date(col("o_orderdate")), lit("1992-01-01"))
          .cast("long").as("d"))
        .agg(sum(floor(col("o_totalprice") * 100).cast("long")).as("y"))
        .withColumn("py", lag("y", 1).over(wD))
        .withColumn("up", when(col("y") > col("py"), 1L).otherwise(0L))
        .filter(col("py").isNotNull)
      val streaks = flags
        .withColumn("grp", sum(lit(1L) - col("up")).over(
          wD.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .filter(col("up") === 1)
        .groupBy("grp").agg(count(lit(1)).as("len"))
      val hist = streaks.groupBy("len").agg(count(lit(1)).as("n_runs"))
      val tot = hist.agg(sum("n_runs").as("nt"))
      hist.crossJoin(broadcast(tot))
        .selectExpr("len", "n_runs",
          "CAST(floor(1.0e6 * nt / power(2.0e0, CAST(len AS DOUBLE)))" +
            " AS BIGINT) AS expected_e6")
        .orderBy("len")
    }, Some("""
      WITH daily AS (
        SELECT CAST(datediff('day', DATE '1992-01-01',
                 CAST(o_orderdate AS DATE)) AS BIGINT) AS d,
               sum(CAST(floor(o_totalprice * 100) AS BIGINT)) AS y
        FROM orders GROUP BY 1),
      flags AS (
        SELECT d, CASE WHEN y > py THEN 1 ELSE 0 END AS up
        FROM (SELECT d, y, lag(y) OVER (ORDER BY d) AS py FROM daily)
        WHERE py IS NOT NULL),
      streaks AS (
        SELECT grp, CAST(count(*) AS BIGINT) AS len FROM (
          SELECT d, up,
                 sum(1 - up) OVER (ORDER BY d ROWS BETWEEN UNBOUNDED
                   PRECEDING AND CURRENT ROW) AS grp
          FROM flags)
        WHERE up = 1 GROUP BY grp),
      hist AS (SELECT len, CAST(count(*) AS BIGINT) AS n_runs
               FROM streaks GROUP BY 1),
      tot AS (SELECT sum(n_runs) AS nt FROM hist)
      SELECT len, n_runs,
             CAST(floor(1.0e6 * nt / power(2.0e0, CAST(len AS DOUBLE)))
               AS BIGINT) AS expected_e6
      FROM hist, tot ORDER BY len""")),

    // CS64 — likelihood-ratio G-test for weekday uniformity of order
    // volume: G = 2·Σ O·ln(7O/n) — the information-theoretic sibling of
    // the χ² that cs40 uses, additive under aggregation (per-cell G
    // terms sum exactly, χ² terms don't). Counts exact; the 7 cell terms
    // accumulate in dow order; each row carries its own term and the
    // running G so the final row IS the statistic (df = 6).
    Q("cs64_g_test", (s, dir) => {
      val counts = t(s, dir, "orders")
        .groupBy(dayofweek(to_date(col("o_orderdate"))).cast("long")
          .as("dow"))
        .agg(count(lit(1)).as("o"))
      val tot = counts.agg(sum("o").as("n"))
      val wD = Window.orderBy("dow")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      counts.crossJoin(broadcast(tot))
        .withColumn("term", lit(2.0) * col("o") *
          log(lit(7.0) * col("o") / col("n")))
        .withColumn("g_cum_e6",
          floor(lit(1.0e6) * sum("term").over(wD)).cast("long"))
        .selectExpr("dow", "o", "n",
          "CAST(floor(1.0e6 * term) AS BIGINT) AS term_e6", "g_cum_e6")
        .orderBy("dow")
    }, Some("""
      WITH counts AS (
        SELECT CAST(dayofweek(CAST(o_orderdate AS DATE)) AS BIGINT) + 1
                 AS dow,
               CAST(count(*) AS BIGINT) AS o
        FROM orders GROUP BY 1),
      tot AS (SELECT sum(o) AS n FROM counts),
      terms AS (
        SELECT dow, o, CAST(n AS BIGINT) AS n,
               2.0e0 * o * ln(7.0e0 * o / n) AS term
        FROM counts, tot)
      SELECT dow, o, n,
             CAST(floor(1.0e6 * term) AS BIGINT) AS term_e6,
             CAST(floor(1.0e6 * sum(term) OVER (ORDER BY dow
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
               AS BIGINT) AS g_cum_e6
      FROM terms ORDER BY dow""")),

    // W35 — dominant-season detector: the lag in 2..14 with the maximum
    // autocorrelation of the daily event count, decided ENTIRELY on
    // ts19's exact integer numerators (every a_k shares the same
    // positive denominator, so argmax a_k IS argmax ρ_k — no float
    // ordering anywhere; ties to the smaller lag). Reports the winner,
    // its ρ, and the lag-7 reference the weekly hypothesis predicts.
    Q("w35_acf_peak_lag", (s, dir) => {
      val m = 14
      val days = t(s, dir, "events")
        .groupBy(to_date(col("ts")).as("day"))
        .agg(count(lit(1)).as("x"))
        .select(col("x"), row_number().over(Window.orderBy("day"))
          .cast("long").as("rn"))
        .localCheckpoint()
      val tot = days.agg(count(lit(1)).as("n"), sum("x").as("sx"))
      val r = days.crossJoin(broadcast(tot))
        .select(col("rn"), (col("n") * col("x") - col("sx")).as("res"))
      val ss = r.agg(sum(col("res") * col("res")).as("ss"))
      import s.implicits._
      val lags = (2 to m).map(k => Tuple1(k.toLong)).toDF("k")
      val byLag = r.crossJoin(broadcast(lags))
        .join(r.select(col("rn").as("prn"), col("res").as("pres")),
          expr("prn = rn - k"))
        .groupBy("k").agg(sum(col("res") * col("pres")).as("a"))
        .localCheckpoint() // feeds argmax + the lag-7 probe
      val best = byLag.orderBy(col("a").desc, col("k")).limit(1)
        .selectExpr("k AS best_lag", "a AS a_best")
      val ref7 = byLag.filter(col("k") === 7)
        .selectExpr("a AS a_lag7")
      best.crossJoin(broadcast(ref7)).crossJoin(broadcast(ss))
        .selectExpr("best_lag",
          "CAST(floor(1.0e6 * (CAST(a_best AS DOUBLE) / ss)) AS BIGINT)" +
            " AS rho_best_e6",
          "CAST(floor(1.0e6 * (CAST(a_lag7 AS DOUBLE) / ss)) AS BIGINT)" +
            " AS rho_lag7_e6")
    }, Some("""
      WITH days AS (
        SELECT CAST(count(*) AS BIGINT) AS x,
               CAST(row_number() OVER (ORDER BY CAST(ts AS DATE))
                 AS BIGINT) AS rn
        FROM events GROUP BY CAST(ts AS DATE)),
      tot AS (SELECT count(*) AS n, sum(x) AS sx FROM days),
      r AS (SELECT rn, n * x - sx AS res FROM days, tot),
      ss AS (SELECT sum(CAST(res AS HUGEINT) * res) AS ss FROM r),
      ks AS (SELECT CAST(unnest(generate_series(2, 14)) AS BIGINT)
               AS k),
      bylag AS (
        SELECT k, sum(CAST(a.res AS HUGEINT) * b.res) AS a
        FROM r a, ks, r b WHERE b.rn = a.rn - k
        GROUP BY k),
      best AS (SELECT k AS best_lag, a AS a_best FROM bylag
               ORDER BY a DESC, k LIMIT 1),
      ref7 AS (SELECT a AS a_lag7 FROM bylag WHERE k = 7)
      SELECT CAST(b.best_lag AS BIGINT) AS best_lag,
             CAST(floor(1.0e6 * (CAST(b.a_best AS DOUBLE)
               / CAST(s.ss AS DOUBLE))) AS BIGINT) AS rho_best_e6,
             CAST(floor(1.0e6 * (CAST(r7.a_lag7 AS DOUBLE)
               / CAST(s.ss AS DOUBLE))) AS BIGINT) AS rho_lag7_e6
      FROM best b, ref7 r7, ss s""")),

    // GR22 — two-hop reach distribution on the fixture digraph
    // (undirected): distinct nodes within ≤2 hops of each node,
    // excluding itself, histogrammed — the neighborhood-growth profile
    // that separates expander-like graphs (reach ≈ d²) from clustered
    // ones (reach ≪ d²), and the cost model for a 2-hop join. One
    // adjacency self-join on the bounded fixture; exact set counts.
    Q("gr22_two_hop_reach", (s, dir) => {
      val edges = t(s, dir, "documents")
        .selectExpr("doc_id % 499 AS u")
        .selectExpr("u", "(7 * u + 1) % 499 AS v")
        .unionAll(t(s, dir, "documents")
          .selectExpr("doc_id % 499 AS u")
          .selectExpr("u", "(3 * u + 2) % 499 AS v"))
        .filter(col("u") =!= col("v"))
        .distinct()
      val adj = edges.unionAll(edges.select(col("v").as("u"),
        col("u").as("v"))).distinct()
        .localCheckpoint() // feeds both hops
      val twoHop = adj.select(col("u"), col("v").as("mid"))
        .join(adj.select(col("u").as("mid"), col("v").as("w")), "mid")
        .select(col("u"), col("w").as("v"))
        .unionAll(adj)
        .filter(col("u") =!= col("v"))
        .distinct()
      val reach = twoHop.groupBy("u")
        .agg(count(lit(1)).as("reach2"))
      reach.groupBy("reach2").agg(count(lit(1)).as("n_nodes"))
        .orderBy("reach2")
    }, Some("""
      WITH nodes AS (SELECT DISTINCT doc_id % 499 AS u FROM documents),
      edges AS (
        SELECT DISTINCT u, v FROM (
          SELECT u, (7 * u + 1) % 499 AS v FROM nodes
          UNION ALL
          SELECT u, (3 * u + 2) % 499 AS v FROM nodes)
        WHERE u <> v),
      adj AS (
        SELECT DISTINCT u, v FROM (
          SELECT u, v FROM edges UNION ALL SELECT v, u FROM edges)),
      twohop AS (
        SELECT DISTINCT u, v FROM (
          SELECT a.u, b.v FROM adj a JOIN adj b ON b.u = a.v
          UNION ALL SELECT u, v FROM adj)
        WHERE u <> v),
      reach AS (
        SELECT u, CAST(count(*) AS BIGINT) AS reach2
        FROM twohop GROUP BY 1)
      SELECT reach2, CAST(count(*) AS BIGINT) AS n_nodes
      FROM reach GROUP BY 1 ORDER BY 1""")),

    // ML21 — Youden's J threshold sweep for the length→src0 classifier:
    // J = TPR − FPR per cut, with the ARGMAX decided on the exact
    // integer numerator TP·N − FP·P (common denominator P·N — ml13's
    // cross-multiplication discipline applied to threshold selection, no
    // float ordering anywhere; ties to the smaller threshold). The
    // corpus collapses to a bounded histogram before the 10-row sweep.
    Q("ml21_youden_threshold", (s, dir) => {
      val labeled = t(s, dir, "documents")
        .select(col("n_chars"),
          when(col("source") === "src0", 1L).otherwise(0L).as("y"))
      val tot = labeled.agg(sum("y").as("p"),
        sum(lit(1L) - col("y")).as("q"))
      import s.implicits._
      val thrs = (1 to 10).map(i => Tuple1(i * 64L)).toDF("thr")
      val sweep = labeled.crossJoin(broadcast(thrs))
        .groupBy("thr")
        .agg(sum(when(col("n_chars") >= col("thr"), col("y"))
          .otherwise(0L)).as("tp"),
          sum(when(col("n_chars") >= col("thr"), lit(1L) - col("y"))
            .otherwise(0L)).as("fp"))
        .crossJoin(broadcast(tot))
        .withColumn("j_num", col("tp") * col("q") - col("fp") * col("p"))
      val best = sweep.orderBy(col("j_num").desc, col("thr")).limit(1)
        .selectExpr("thr AS best_thr")
      sweep.crossJoin(broadcast(best))
        .selectExpr("thr", "tp", "fp", "j_num",
          "CAST(floor(1.0e6 * CAST(j_num AS DOUBLE) / (CAST(p AS" +
            " DOUBLE) * q)) AS BIGINT) AS j_e6",
          "CAST(CASE WHEN thr = best_thr THEN 1 ELSE 0 END AS BIGINT)" +
            " AS is_best")
        .orderBy("thr")
    }, Some("""
      WITH labeled AS (
        SELECT n_chars,
               CASE WHEN source = 'src0' THEN 1 ELSE 0 END AS y
        FROM documents),
      tot AS (SELECT CAST(sum(y) AS BIGINT) AS p,
                     CAST(sum(1 - y) AS BIGINT) AS q FROM labeled),
      thrs AS (SELECT CAST(unnest(generate_series(1, 10)) AS BIGINT)
                 * 64 AS thr),
      sweep AS (
        SELECT t.thr,
               CAST(sum(CASE WHEN l.n_chars >= t.thr THEN l.y ELSE 0
                 END) AS BIGINT) AS tp,
               CAST(sum(CASE WHEN l.n_chars >= t.thr THEN 1 - l.y
                 ELSE 0 END) AS BIGINT) AS fp
        FROM labeled l, thrs t GROUP BY 1),
      num AS (
        SELECT s.thr, s.tp, s.fp, s.tp * o.q - s.fp * o.p AS j_num,
               o.p, o.q
        FROM sweep s, tot o),
      best AS (SELECT thr AS best_thr FROM num
               ORDER BY j_num DESC, thr LIMIT 1)
      SELECT n.thr, n.tp, n.fp, n.j_num,
             CAST(floor(1.0e6 * CAST(n.j_num AS DOUBLE)
               / (CAST(n.p AS DOUBLE) * n.q)) AS BIGINT) AS j_e6,
             CAST(CASE WHEN n.thr = b.best_thr THEN 1 ELSE 0 END
               AS BIGINT) AS is_best
      FROM num n, best b ORDER BY n.thr""")),

    // SA23 — finite-population-corrected standard errors per stratum:
    // for each nation's md5-deterministic 20% customer sample, the FPC
    // factor (1 − n/N) and the corrected SE of the mean balance —
    // without the correction a 20% sample overstates its uncertainty by
    // ~11%, and at a 100% census it pretends uncertainty remains. The
    // sample variance numerator n·Σx² − (Σx)² is exact; strata with
    // n < 2 report NULL explicitly (ANSI-safe, cs62's convention).
    Q("sa23_fpc_se", (s, dir) => {
      val frac = graft.operators.Sampling.hashFraction(
        col("c_custkey").cast("string"))
      t(s, dir, "customer")
        .select(col("c_nationkey").cast("long").as("nat"),
          floor(col("c_acctbal") * 100).cast("long").as("cents"),
          (frac < 0.2).cast("long").as("insample"))
        .groupBy("nat")
        .agg(count(lit(1)).as("n_pop"), sum("insample").as("n"),
          sum(when(col("insample") === 1, col("cents")).otherwise(0L))
            .as("sx"),
          sum(when(col("insample") === 1, col("cents") * col("cents"))
            .otherwise(0L)).as("sxx"))
        .selectExpr("nat", "n_pop", "n",
          "(n_pop - n) * 1000000L div n_pop AS fpc_e6",
          "CASE WHEN n < 2 THEN NULL ELSE" +
            " CAST(floor(1.0e2 * sqrt((1.0e0 - CAST(n AS DOUBLE)" +
            " / n_pop) * (CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE)" +
            " * sx) / (CAST(n AS DOUBLE) * n * (n - 1)))) AS BIGINT)" +
            " END AS se_cents_e2")
        .orderBy("nat")
    }, Some("""
      WITH c AS (
        SELECT CAST(c_nationkey AS BIGINT) AS nat,
               CAST(floor(c_acctbal * 100) AS BIGINT) AS cents,
               CASE WHEN list_sum(list_transform(generate_series(1, 8),
                 i -> (strpos('0123456789abcdef',
                   substr(md5(CAST(c_custkey AS VARCHAR)), i, 1)) - 1)
                   * (16.0 ** (8 - i)))) / 4294967296.0 < 0.2
                 THEN 1 ELSE 0 END AS insample
        FROM customer),
      agg AS (
        SELECT nat, CAST(count(*) AS BIGINT) AS n_pop,
               CAST(sum(insample) AS BIGINT) AS n,
               CAST(sum(CASE WHEN insample = 1 THEN cents ELSE 0 END)
                 AS BIGINT) AS sx,
               CAST(sum(CASE WHEN insample = 1 THEN cents * cents
                 ELSE 0 END) AS BIGINT) AS sxx
        FROM c GROUP BY 1)
      SELECT nat, n_pop, n,
             CAST((n_pop - n) * 1000000 // n_pop AS BIGINT) AS fpc_e6,
             CASE WHEN n < 2 THEN NULL ELSE
               CAST(floor(1.0e2 * sqrt((1.0e0 - CAST(n AS DOUBLE)
                 / n_pop) * (CAST(n AS DOUBLE) * sxx - CAST(sx AS
                 DOUBLE) * sx) / (CAST(n AS DOUBLE) * n * (n - 1))))
                 AS BIGINT) END AS se_cents_e2
      FROM agg ORDER BY nat""")),

    // J15 — join-cardinality estimator audit: the EXACT size of two
    // date-key joins computed WITHOUT running them (Σ_d a_d·b_d from the
    // two per-key histograms) vs the textbook CBO estimate
    // n_a·n_b / max(ndv_a, ndv_b) — the planner's number graded against
    // ground truth, which is exactly how an engine decides broadcast vs
    // shuffle before reading a byte of the join. Key-grain aggregates
    // only; the signed relative error floors through a double.
    Q("j15_join_cardinality_estimate", (s, dir) => {
      val oDates = t(s, dir, "orders")
        .groupBy(to_date(col("o_orderdate")).as("k"))
        .agg(count(lit(1)).as("a"))
        .localCheckpoint()
      val lDates = t(s, dir, "lineitem")
        .groupBy(to_date(col("l_shipdate")).as("k"))
        .agg(count(lit(1)).as("b"))
        .localCheckpoint()
      def audit(name: String, left: org.apache.spark.sql.DataFrame,
                right: org.apache.spark.sql.DataFrame) = {
        val exact = left.join(right, "k")
          .agg(sum(col("a") * col("b")).as("exact_rows"))
        val stats = left.agg(sum("a").as("na"),
          count(lit(1)).as("ndva"))
          .crossJoin(broadcast(right.agg(sum("b").as("nb"),
            count(lit(1)).as("ndvb"))))
        exact.crossJoin(broadcast(stats))
          .selectExpr(s"'$name' AS join_name", "exact_rows",
            "na * nb div greatest(ndva, ndvb) AS est_rows")
          .selectExpr("join_name", "exact_rows", "est_rows",
            "CAST(floor(1.0e6 * (CAST(est_rows AS DOUBLE) - exact_rows)" +
              " / exact_rows) AS BIGINT) AS rel_err_e6")
      }
      audit("orders_self_date", oDates, oDates.select(col("k"),
          col("a").as("b")))
        .unionAll(audit("orders_lineitem_date", oDates, lDates))
        .orderBy("join_name")
    }, Some("""
      WITH od AS (
        SELECT CAST(o_orderdate AS DATE) AS k, count(*) AS a
        FROM orders GROUP BY 1),
      ld AS (
        SELECT CAST(l_shipdate AS DATE) AS k, count(*) AS b
        FROM lineitem GROUP BY 1),
      self_exact AS (
        SELECT CAST(sum(o1.a * o2.a) AS BIGINT) AS exact_rows
        FROM od o1 JOIN od o2 ON o1.k = o2.k),
      self_stats AS (
        SELECT CAST(sum(a) AS BIGINT) AS na,
               CAST(count(*) AS BIGINT) AS ndva FROM od),
      ol_exact AS (
        SELECT CAST(sum(od.a * ld.b) AS BIGINT) AS exact_rows
        FROM od JOIN ld ON od.k = ld.k),
      ol_stats AS (
        SELECT (SELECT CAST(sum(a) AS BIGINT) FROM od) AS na,
               (SELECT CAST(count(*) AS BIGINT) FROM od) AS ndva,
               (SELECT CAST(sum(b) AS BIGINT) FROM ld) AS nb,
               (SELECT CAST(count(*) AS BIGINT) FROM ld) AS ndvb),
      uni AS (
        SELECT 'orders_self_date' AS join_name, e.exact_rows,
               s.na * s.na // greatest(s.ndva, s.ndva) AS est_rows
        FROM self_exact e, self_stats s
        UNION ALL
        SELECT 'orders_lineitem_date', e.exact_rows,
               s.na * s.nb // greatest(s.ndva, s.ndvb)
        FROM ol_exact e, ol_stats s)
      SELECT join_name, exact_rows, est_rows,
             CAST(floor(1.0e6 * (CAST(est_rows AS DOUBLE) - exact_rows)
               / exact_rows) AS BIGINT) AS rel_err_e6
      FROM uni ORDER BY join_name"""))
  )
}
