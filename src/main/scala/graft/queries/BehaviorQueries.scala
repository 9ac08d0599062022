package graft.queries

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.operators.{Basket, Components}
import Tables.t

/** Round-11 fourth wave: behavioral analytics and statistics operators —
  * market-basket association rules, two-sample distribution testing,
  * Benford fraud auditing, RFM segmentation, autocorrelation, Markov event
  * transitions, and multi-source BFS reach. Every entry is DuckDB-oracle
  * graded; invariants live in `BehaviorOpsSpec`.
  */
object BehaviorQueries {

  val all: Seq[Q] = Seq(

    // MB1 — association rules over the order/part basket table
    // (`operators/Basket.scala`). The Apriori level-1 gate (items in ≥ 20
    // baskets) and the oversized-basket cap run BEFORE the pair self-join,
    // so pair generation is bounded; the basket total is a 1-row broadcast.
    Q("mb1_association_rules", (s, dir) => {
      val items = t(s, dir, "lineitem")
        .select(col("l_orderkey").as("basket"), col("l_partkey").as("item"))
      Basket.associationRules(items, "basket", "item",
        minItemCount = 20, minPairCount = 2, maxBasketSize = 1000)
        .orderBy("p1", "p2")
    }, Some("""
      WITH b AS (SELECT DISTINCT l_orderkey AS basket, l_partkey AS item
                 FROM lineitem),
      sized AS (
        SELECT basket, item FROM (
          SELECT *, count(*) OVER (PARTITION BY basket) AS bsz FROM b)
        WHERE bsz <= 1000),
      n AS (SELECT count(DISTINCT basket) AS n_baskets FROM sized),
      ic AS (SELECT item, count(*) AS cnt FROM sized GROUP BY 1
             HAVING count(*) >= 20),
      f AS (SELECT s.basket, s.item, ic.cnt FROM sized s JOIN ic USING (item)),
      p AS (
        SELECT a.item AS p1, c.item AS p2, a.cnt AS c1, c.cnt AS c2,
               count(*) AS co
        FROM f a JOIN f c ON a.basket = c.basket AND a.item < c.item
        GROUP BY 1, 2, 3, 4 HAVING count(*) >= 2)
      SELECT p1, p2, co, c1, c2,
             round(co / c1, 4) AS confidence,
             round((co * n_baskets) / (c1 * c2), 4) AS lift
      FROM p, n ORDER BY p1, p2""")),

    // CS14 — two-sample Kolmogorov–Smirnov test: is the `value`
    // distribution of click events the same as view events? D = max over
    // the pooled support of |F_click − F_view|, with the α=0.05 rejection
    // threshold 1.358·√((n1+n2)/(n1·n2)). Scale shape: the corpus-sized
    // work is one groupBy on the 0.01-binned value (the empirical CDF
    // support); the ordered cumulative window then runs over the BINNED
    // table — bounded by the value range / bin width, never the corpus.
    // Cross-engine discipline (the r11 driver red): the bin key is
    // floor(value*100) as BIGINT — IEEE multiply + floor are bit-identical
    // across engines, while round(double, 2) is NOT (Spark rounds the
    // shortest-decimal rendering HALF_UP, DuckDB rounds the binary double,
    // so halfway values can land in different bins depending on engine
    // version). D itself is carried as the exact INTEGER numerator
    // |c1·t2 − c2·t1| and divided by t1·t2 only once at the end — no
    // round() anywhere, every emitted double is one correctly-rounded op
    // on exact integers. (Long headroom: c1·t2 ≤ t1·t2, overflow needs
    // t1·t2 > 2^63 ≈ 9.2e18 — at that corpus size switch the numerator to
    // DecimalType(38,0); the graded SFs are ~10 orders below it.)
    Q("cs14_ks_test", (s, dir) => {
      val src = t(s, dir, "events")
        .filter(col("event_type").isin("click", "view") &&
          col("value").isNotNull)
        .select(floor(col("value") * 100).cast("long").as("v"),
          when(col("event_type") === "click", 1L).otherwise(0L).as("g"))
      val binned = src.groupBy("v")
        .agg(sum(col("g")).as("n1b"), sum(lit(1L) - col("g")).as("n2b"))
      val totals = binned.agg(sum("n1b").as("t1"), sum("n2b").as("t2"))
      val cum = binned
        .withColumn("c1", sum("n1b").over(
          Window.orderBy("v").rowsBetween(Window.unboundedPreceding, 0)))
        .withColumn("c2", sum("n2b").over(
          Window.orderBy("v").rowsBetween(Window.unboundedPreceding, 0)))
        .crossJoin(broadcast(totals))
        .select(col("t1"), col("t2"),
          abs(col("c1") * col("t2") - col("c2") * col("t1")).as("dnum"))
      cum.groupBy("t1", "t2").agg(max("dnum").as("dmax"))
        .select(col("t1").as("n1"), col("t2").as("n2"),
          (col("dmax") / (col("t1") * col("t2"))).as("d_stat"),
          (col("dmax") / (col("t1") * col("t2")) >
            lit(1.358) * sqrt((col("t1") + col("t2")) /
              (col("t1") * col("t2")))).as("reject_same_dist"))
    }, Some("""
      WITH s AS (
        SELECT CAST(floor(value * 100) AS BIGINT) AS v,
               CASE WHEN event_type = 'click' THEN 1 ELSE 0 END AS g
        FROM events
        WHERE event_type IN ('click', 'view') AND value IS NOT NULL),
      binned AS (SELECT v, CAST(sum(g) AS BIGINT) AS n1b,
                        CAST(sum(1 - g) AS BIGINT) AS n2b
                 FROM s GROUP BY 1),
      tot AS (SELECT CAST(sum(n1b) AS BIGINT) AS t1,
                     CAST(sum(n2b) AS BIGINT) AS t2 FROM binned),
      cum AS (
        SELECT t1, t2,
               abs(sum(n1b) OVER (ORDER BY v
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) * t2
                 - sum(n2b) OVER (ORDER BY v
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) * t1)
                 AS dnum
        FROM binned, tot)
      SELECT t1 AS n1, t2 AS n2,
             CAST(max(dnum) AS BIGINT) / (t1 * t2) AS d_stat,
             CAST(max(dnum) AS BIGINT) / (t1 * t2) >
               1.358 * sqrt((t1 + t2) / (t1 * t2)) AS reject_same_dist
      FROM cum GROUP BY t1, t2""")),

    // CS15 — Benford first-digit audit on order totals: observed share of
    // each leading digit vs the Benford expectation (literal table in both
    // engines — no engine-side log10, so no libm ulp hazards). The digit is
    // extracted through integer/string ops only. One scan + one 9-row
    // aggregate; the total is a 1-row broadcast.
    Q("cs15_benford_audit", (s, dir) => {
      val d = t(s, dir, "orders").filter(col("o_totalprice") >= 1)
        .select(substring(floor(col("o_totalprice")).cast("long")
          .cast("string"), 1, 1).as("digit"))
        .groupBy("digit").agg(count(lit(1)).as("n"))
      val tot = d.agg(sum("n").as("t"))
      val expected = typedLit(Map(
        "1" -> 0.30103, "2" -> 0.17609, "3" -> 0.12494, "4" -> 0.09691,
        "5" -> 0.07918, "6" -> 0.06695, "7" -> 0.05799, "8" -> 0.05115,
        "9" -> 0.04576))
      d.crossJoin(broadcast(tot))
        .select(col("digit"), col("n"),
          round(col("n") / col("t"), 4).as("share"),
          expected(col("digit")).as("expected"))
        .withColumn("dev", round(col("share") - col("expected"), 4))
        .orderBy("digit")
    }, Some("""
      WITH d AS (
        SELECT substr(CAST(CAST(floor(o_totalprice) AS BIGINT) AS VARCHAR),
                      1, 1) AS digit,
               count(*) AS n
        FROM orders WHERE o_totalprice >= 1 GROUP BY 1),
      tot AS (SELECT sum(n) AS t FROM d),
      exp AS (SELECT * FROM (VALUES
        ('1', 0.30103e0), ('2', 0.17609e0), ('3', 0.12494e0),
        ('4', 0.09691e0), ('5', 0.07918e0), ('6', 0.06695e0),
        ('7', 0.05799e0), ('8', 0.05115e0),
        ('9', 0.04576e0)) AS v(digit, expected))
      SELECT d.digit, d.n, round(d.n / t, 4) AS share, exp.expected,
             round(round(d.n / t, 4) - exp.expected, 4) AS dev
      FROM d, tot JOIN exp ON exp.digit = d.digit
      ORDER BY d.digit""")),

    // CS16 — RFM segmentation: per customer, recency (days since last
    // order), frequency (order count), monetary (total spend), each cut
    // into quartiles with a deterministic custkey tie-break, concatenated
    // into the classic 3-digit segment. The corpus-sized work is one
    // groupBy(custkey); the ntile windows run over the customer-grain
    // aggregate (the tx17 quality-decile shape), and the corpus max date
    // is a 1-row broadcast.
    Q("cs16_rfm_segments", (s, dir) => {
      val byCust = t(s, dir, "orders").groupBy("o_custkey")
        .agg(max(to_date(col("o_orderdate"))).as("last_d"),
          count(lit(1)).as("f"),
          round(sum("o_totalprice"), 2).as("m"))
      val mx = t(s, dir, "orders")
        .agg(max(to_date(col("o_orderdate"))).as("mxd"))
      byCust.crossJoin(broadcast(mx))
        .withColumn("r_days", datediff(col("mxd"), col("last_d")))
        .withColumn("r_q", ntile(4).over(
          Window.orderBy(col("r_days"), col("o_custkey"))))
        .withColumn("f_q", ntile(4).over(
          Window.orderBy(col("f").desc, col("o_custkey"))))
        .withColumn("m_q", ntile(4).over(
          Window.orderBy(col("m").desc, col("o_custkey"))))
        .select(col("o_custkey"), col("r_days"), col("f"), col("m"),
          concat(col("r_q"), col("f_q"), col("m_q")).as("rfm"))
        .orderBy("o_custkey")
    }, Some("""
      WITH byc AS (
        SELECT o_custkey, max(CAST(o_orderdate AS DATE)) AS last_d,
               count(*) AS f, round(sum(o_totalprice), 2) AS m
        FROM orders GROUP BY 1),
      mx AS (SELECT max(CAST(o_orderdate AS DATE)) AS mxd FROM orders),
      r AS (SELECT byc.*, datediff('day', last_d, mxd) AS r_days
            FROM byc, mx)
      SELECT o_custkey, CAST(r_days AS INT) AS r_days, f, m,
             CAST(ntile(4) OVER (ORDER BY r_days, o_custkey) AS VARCHAR)
             || CAST(ntile(4) OVER (ORDER BY f DESC, o_custkey) AS VARCHAR)
             || CAST(ntile(4) OVER (ORDER BY m DESC, o_custkey) AS VARCHAR)
               AS rfm
      FROM r ORDER BY o_custkey""")),

    // TS3 — autocorrelation function of the daily event count at lags
    // 1–7 (Box–Jenkins: overall-mean centering, normalized by the full
    // series sum of squares) — the seasonality detector that says WHICH
    // period ts1's day-of-week baseline should use. Corpus-sized work is
    // one groupBy(day); the lag pairing is a self-join of the day table
    // (≤ series length) against a 7-row literal, and the mean/SS are 1-row
    // broadcasts.
    Q("ts3_acf", (s, dir) => {
      val days = t(s, dir, "events")
        .groupBy(to_date(col("ts")).as("day"))
        .agg(count(lit(1)).cast("double").as("x"))
        .localCheckpoint()
      val mean = days.agg(avg("x").as("mu"))
      val centered = days.crossJoin(broadcast(mean))
      val ss = centered
        .agg(sum((col("x") - col("mu")) * (col("x") - col("mu"))).as("ss"))
      import s.implicits._
      val lags = (1 to 7).map(k => (k, k)).toDF("k", "off")
      centered.crossJoin(broadcast(lags))
        .join(days.select(col("day").as("pday"), col("x").as("px")),
          expr("pday = date_sub(day, off)"))
        .groupBy("k")
        .agg(count(lit(1)).as("n_pairs"),
          sum((col("x") - col("mu")) * (col("px") - col("mu"))).as("num"))
        .crossJoin(broadcast(ss))
        .select(col("k"), col("n_pairs"),
          round(col("num") / col("ss"), 4).as("acf"))
        .orderBy("k")
    }, Some("""
      WITH days AS (
        SELECT CAST(ts AS DATE) AS day, CAST(count(*) AS DOUBLE) AS x
        FROM events GROUP BY 1),
      mean AS (SELECT avg(x) AS mu FROM days),
      ss AS (SELECT sum((x - mu) * (x - mu)) AS ss FROM days, mean),
      ks AS (SELECT CAST(unnest(generate_series(1, 7)) AS INTEGER) AS k)
      SELECT k, count(*) AS n_pairs,
             round(sum((a.x - mu) * (b.x - mu)) / ss, 4) AS acf
      FROM days a, mean, ss, ks, days b
      WHERE b.day = a.day - k
      GROUP BY k, ss ORDER BY k""")),

    // TS4 — Markov transition matrix over per-user event sequences: the
    // behavioral fingerprint (what follows what) and the generative model
    // behind session simulation. One lag window per user (shuffle keyed on
    // user_id) + one 25-cell aggregate; the per-prev normalizer is a window
    // over the tiny transition table.
    Q("ts4_markov_transitions", (s, dir) => {
      val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
      t(s, dir, "events")
        .withColumn("prev_type", lag("event_type", 1).over(w))
        .filter(col("prev_type").isNotNull)
        .groupBy(col("prev_type"), col("event_type").as("next_type"))
        .agg(count(lit(1)).as("n"))
        .withColumn("p", round(col("n") /
          sum("n").over(Window.partitionBy("prev_type")), 4))
        .orderBy("prev_type", "next_type")
    }, Some("""
      WITH seq AS (
        SELECT user_id, event_type,
               lag(event_type) OVER (PARTITION BY user_id
                 ORDER BY ts, event_id) AS prev_type
        FROM events),
      tr AS (
        SELECT prev_type, event_type AS next_type, count(*) AS n
        FROM seq WHERE prev_type IS NOT NULL GROUP BY 1, 2)
      SELECT prev_type, next_type, n,
             round(n / sum(n) OVER (PARTITION BY prev_type), 4) AS p
      FROM tr ORDER BY prev_type, next_type""")),

    // GR2 — multi-source BFS levels (`Components.bfsLevels`): minimum hop
    // distance from a seed set through an undirected graph, hop-bounded so
    // a long-diameter component cannot stall the job. Fixture graph:
    // doc_id ↔ 7·doc_id mod 499 (multiplication-cycle structure with
    // nontrivial distances), seeds at doc_id ≡ 0 (mod 125); graded against
    // a depth-bounded recursive-CTE reachability oracle.
    Q("gr2_bfs_levels", (s, dir) => {
      val docs = t(s, dir, "documents").select(col("doc_id"))
      val edges = docs.select(col("doc_id").as("a"),
        ((col("doc_id") * 7) % 499).as("b"))
      val sources = docs.filter(col("doc_id") % 125 === 0)
      Components.bfsLevels(edges, "a", "b", sources, "doc_id", maxRounds = 6)
        .orderBy("node")
    }, Some("""
      WITH RECURSIVE
      fixture AS (SELECT doc_id AS u, (doc_id * 7) % 499 AS v FROM documents),
      e2 AS (SELECT u, v FROM fixture UNION ALL SELECT v, u FROM fixture),
      edges AS (SELECT u, v FROM e2 WHERE u <> v),
      reach(node, d) AS (
        SELECT DISTINCT doc_id, 0 FROM documents WHERE doc_id % 125 = 0
        UNION
        SELECT e.v, r.d + 1 FROM reach r JOIN edges e ON e.u = r.node
        WHERE r.d < 6)
      SELECT node, CAST(min(d) AS INT) AS dist FROM reach GROUP BY node
      ORDER BY node""")),

    // F11 — semi-structured JSON property extraction: events.props is a
    // JSON payload; pull the typed `k` field scan-side (get_json_object is
    // codegen'd — no UDF) and aggregate per event type. The canonical
    // "schema-on-read the raw event blob" operator; at 100 TB the
    // extraction rides the scan, and only the 5-row aggregate shuffles.
    Q("f11_json_extract", (s, dir) =>
      t(s, dir, "events")
        .select(col("event_type"),
          get_json_object(col("props"), "$.k").cast("int").as("k"))
        .groupBy("event_type")
        .agg(count(col("k")).as("n_parsed"),
          min("k").as("k_min"), max("k").as("k_max"),
          round(avg("k"), 4).as("k_avg"))
        .orderBy("event_type"),
      Some("""
      SELECT event_type,
             count(CAST(props ->> 'k' AS INTEGER)) AS n_parsed,
             min(CAST(props ->> 'k' AS INTEGER)) AS k_min,
             max(CAST(props ->> 'k' AS INTEGER)) AS k_max,
             round(avg(CAST(props ->> 'k' AS INTEGER)), 4) AS k_avg
      FROM events GROUP BY 1 ORDER BY 1""")),

    // ST7 — sliding (hopping) window counts: 2-hour windows every hour, so
    // each event lands in exactly two windows — the smoothing twin of st1's
    // tumbling counts. Spark's window() explodes scan-side into
    // window-per-event rows; the only shuffle is the (window, type)
    // aggregate. The streaming form is the same expression under
    // readStream + watermark (st1's gate covers that plumbing).
    Q("st7_sliding_windows", (s, dir) =>
      t(s, dir, "events")
        .groupBy(window(col("ts"), "2 hours", "1 hour").as("w"),
          col("event_type"))
        .agg(count(lit(1)).as("n"))
        .select(col("w.start").as("wstart"), col("event_type"), col("n"))
        .orderBy("wstart", "event_type"),
      Some("""
      WITH e AS (
        SELECT unnest([date_trunc('hour', ts),
                       date_trunc('hour', ts) - INTERVAL 1 HOUR]) AS wstart,
               event_type
        FROM events)
      SELECT wstart, event_type, count(*) AS n
      FROM e GROUP BY 1, 2 ORDER BY 1, 2""")),

    // TS5 — CUSUM changepoint detection on the daily event count: the
    // cumulative sum of mean deviations peaks (in absolute value) at the
    // most likely mean-shift point. Corpus-sized work is one groupBy(day);
    // the sequential cumsum runs over the day table (series length), and
    // the argmax is a deterministic (|s| desc, day) top-1.
    Q("ts5_cusum_changepoint", (s, dir) => {
      val days = t(s, dir, "events")
        .groupBy(to_date(col("ts")).as("day"))
        .agg(count(lit(1)).cast("double").as("x"))
      val mean = days.agg(avg("x").as("mu"))
      days.crossJoin(broadcast(mean))
        .withColumn("s", sum(col("x") - col("mu")).over(
          Window.orderBy("day").rowsBetween(Window.unboundedPreceding, 0)))
        .select(col("day").as("changepoint_day"), round(col("s"), 4).as("cusum"),
          signum(round(col("s"), 4)).cast("int").as("direction"))
        .orderBy(abs(col("cusum")).desc, col("changepoint_day"))
        .limit(1)
    }, Some("""
      WITH days AS (
        SELECT CAST(ts AS DATE) AS day, CAST(count(*) AS DOUBLE) AS x
        FROM events GROUP BY 1),
      mean AS (SELECT avg(x) AS mu FROM days),
      c AS (
        SELECT day, sum(x - mu) OVER (ORDER BY day
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS s
        FROM days, mean)
      SELECT day AS changepoint_day, round(s, 4) AS cusum,
             CAST(sign(round(s, 4)) AS INT) AS direction
      FROM c ORDER BY abs(round(s, 4)) DESC, day LIMIT 1""")),

    // AT1 — last-touch attribution: each purchase is credited to the
    // user's most recent PRIOR marketing touch (click/view) within 7 days
    // — the as-of-join shape expressed as one per-user IGNORE NULLS window
    // over the unioned event stream (j7's union+window pattern), so the
    // only shuffle is keyed on user_id and there is no range join.
    Q("at1_last_touch_attribution", (s, dir) => {
      val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
      val touch = when(col("event_type").isin("click", "view"),
        struct(col("ts"), col("event_id"), col("event_type")))
      t(s, dir, "events")
        .withColumn("lt", last(touch, ignoreNulls = true).over(w))
        .filter(col("event_type") === "purchase")
        .select(col("event_id").as("purchase_id"), col("user_id"),
          col("ts").as("purchase_ts"),
          when(col("lt.ts") >= col("ts") - expr("INTERVAL 7 DAYS"),
            col("lt.event_id")).as("touch_id"),
          when(col("lt.ts") >= col("ts") - expr("INTERVAL 7 DAYS"),
            col("lt.event_type")).as("touch_type"))
        .orderBy("purchase_id")
    }, Some("""
      WITH seq AS (
        SELECT event_id, user_id, ts, event_type,
               last_value(CASE WHEN event_type IN ('click', 'view')
                 THEN ts END IGNORE NULLS) OVER w AS lt_ts,
               last_value(CASE WHEN event_type IN ('click', 'view')
                 THEN event_id END IGNORE NULLS) OVER w AS lt_id,
               last_value(CASE WHEN event_type IN ('click', 'view')
                 THEN event_type END IGNORE NULLS) OVER w AS lt_type
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING))
      SELECT event_id AS purchase_id, user_id, ts AS purchase_ts,
             CASE WHEN lt_ts >= ts - INTERVAL 7 DAY THEN lt_id END AS touch_id,
             CASE WHEN lt_ts >= ts - INTERVAL 7 DAY THEN lt_type END
               AS touch_type
      FROM seq WHERE event_type = 'purchase' ORDER BY purchase_id""")),

    // GR3 — fixed-round k-core peeling (`Components.kCore`): 4 rounds of
    // drop-degree-<3 over an irregular fixture graph (mod-7 permutation
    // cycles + halving/thirding divisor chains — varied degrees 2..6, so
    // the peel cascades non-trivially). The oracle chains the same 4 peels
    // as CTE stages; surviving nodes are graded with their residual degree.
    Q("gr3_kcore", (s, dir) => {
      val docs = t(s, dir, "documents").select(col("doc_id"))
      val cyc = docs.select(col("doc_id").as("a"),
        ((col("doc_id") * 7) % 499).as("b"))
      val halves = docs.filter(col("doc_id") % 2 === 0 && col("doc_id") > 0)
        .select(col("doc_id").as("a"), (col("doc_id") / 2).cast("long").as("b"))
      val thirds = docs.filter(col("doc_id") % 3 === 0 && col("doc_id") > 0)
        .select(col("doc_id").as("a"), (col("doc_id") / 3).cast("long").as("b"))
      Components.kCore(cyc.unionByName(halves).unionByName(thirds),
        "a", "b", k = 3, rounds = 4)
        .orderBy("node")
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
      keep1 AS (SELECT u FROM sym GROUP BY u HAVING count(*) >= 3),
      g1 AS (SELECT s.u, s.v FROM sym s JOIN keep1 a ON a.u = s.u
             JOIN keep1 b ON b.u = s.v),
      keep2 AS (SELECT u FROM g1 GROUP BY u HAVING count(*) >= 3),
      g2 AS (SELECT s.u, s.v FROM g1 s JOIN keep2 a ON a.u = s.u
             JOIN keep2 b ON b.u = s.v),
      keep3 AS (SELECT u FROM g2 GROUP BY u HAVING count(*) >= 3),
      g3 AS (SELECT s.u, s.v FROM g2 s JOIN keep3 a ON a.u = s.u
             JOIN keep3 b ON b.u = s.v),
      keep4 AS (SELECT u FROM g3 GROUP BY u HAVING count(*) >= 3),
      g4 AS (SELECT s.u, s.v FROM g3 s JOIN keep4 a ON a.u = s.u
             JOIN keep4 b ON b.u = s.v)
      SELECT u AS node, count(*) AS deg FROM g4 GROUP BY u ORDER BY node""")),

    // GR4 — Adamic–Adar link prediction: score non-adjacent node pairs by
    // Σ 1/ln(deg z) over common neighbors z — the "people you may know" /
    // related-entity primitive. The wedge self-join is keyed on the hub z
    // and CAPPED (deg ≤ 64) — the dd10-style skew guard that keeps a
    // web-scale hub from emitting deg² wedges; the adjacency exclusion is
    // one left_anti on the edge set. Same fixture graph as gr3.
    Q("gr4_adamic_adar", (s, dir) => {
      val sym = Components.docGraph(t(s, dir, "documents"))
        .localCheckpoint() // feeds degrees, wedges, exclusion
      val deg = sym.groupBy(col("a").as("z")).agg(count(lit(1)).as("d"))
        .filter(col("d") >= 2 && col("d") <= 64)
      // the cap joins BEFORE the wedge self-join, so a hub over the cap
      // never fans out deg² pairs
      val capped = sym.join(deg, sym("a") === deg("z"))
        .select(col("z"), col("b"), col("d"))
        .localCheckpoint()
      val l = capped.select(col("z"), col("b").as("pa"), col("d"))
      val r = capped.select(col("z"), col("b").as("pb"))
      l.join(r, Seq("z")).filter(col("pa") < col("pb"))
        .groupBy("pa", "pb")
        .agg(round(sum(lit(1.0) / log(col("d"))), 4).as("score"),
          count(lit(1)).as("common"))
        .filter(col("common") >= 2)
        .join(sym.select(col("a").as("pa"), col("b").as("pb")),
          Seq("pa", "pb"), "left_anti")
        .orderBy("pa", "pb")
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
      deg AS (SELECT u AS z, count(*) AS d FROM sym GROUP BY u
              HAVING count(*) >= 2 AND count(*) <= 64),
      aa AS (
        SELECT a.v AS pa, b.v AS pb,
               round(sum(1.0 / ln(d)), 4) AS score, count(*) AS common
        FROM sym a JOIN sym b ON a.u = b.u AND a.v < b.v
        JOIN deg ON deg.z = a.u
        GROUP BY 1, 2 HAVING count(*) >= 2)
      SELECT aa.pa, aa.pb, aa.score, aa.common
      FROM aa LEFT JOIN sym e ON e.u = aa.pa AND e.v = aa.pb
      WHERE e.u IS NULL ORDER BY aa.pa, aa.pb""")),

    // CS17 — month-over-month revenue decomposition: per (month, priority)
    // revenue, its MoM delta, and the growth rate — the BI "what moved the
    // number" report. Deltas are computed FROM THE ROUNDED revenues so the
    // lag arithmetic is engine-exact; all windows run over the tiny
    // month×priority table after one corpus groupBy.
    Q("cs17_mom_contribution", (s, dir) => {
      val w = Window.partitionBy("priority").orderBy("mon")
      t(s, dir, "orders")
        .groupBy(trunc(to_date(col("o_orderdate")), "MM").as("mon"),
          col("o_orderpriority").as("priority"))
        .agg(round(sum("o_totalprice"), 2).as("rev"))
        .withColumn("mom_delta",
          round(col("rev") - lag("rev", 1).over(w), 2))
        .withColumn("growth_pct",
          round((col("rev") - lag("rev", 1).over(w)) /
            lag("rev", 1).over(w) * 100, 2))
        .orderBy("mon", "priority")
    }, Some("""
      WITH m AS (
        SELECT date_trunc('month', CAST(o_orderdate AS DATE)) AS mon,
               o_orderpriority AS priority,
               round(sum(o_totalprice), 2) AS rev
        FROM orders GROUP BY 1, 2)
      SELECT mon, priority, rev,
             round(rev - lag(rev) OVER w, 2) AS mom_delta,
             round((rev - lag(rev) OVER w) / lag(rev) OVER w * 100, 2)
               AS growth_pct
      FROM m WINDOW w AS (PARTITION BY priority ORDER BY mon)
      ORDER BY mon, priority""")),

    // CS18 — Gini coefficient of customer revenue concentration (the
    // inequality audit: how top-heavy is the revenue base). Rank-weighted
    // formula G = 2·Σi·xᵢ/(n·Σxᵢ) − (n+1)/n over customers ordered by
    // (spend, custkey). One corpus groupBy; the rank window runs over the
    // customer-grain table.
    Q("cs18_gini", (s, dir) => {
      val c = t(s, dir, "orders").groupBy("o_custkey")
        .agg(round(sum("o_totalprice"), 2).as("x"))
        .withColumn("i", row_number().over(
          Window.orderBy(col("x"), col("o_custkey"))).cast("double"))
      c.agg(count(lit(1)).as("n_customers"),
        sum(col("i") * col("x")).as("__six"), sum("x").as("__sx"))
        .select(col("n_customers"),
          round(lit(2.0) * col("__six") / (col("n_customers") * col("__sx"))
            - (col("n_customers") + lit(1)) / col("n_customers"), 4)
            .as("gini"))
    }, Some("""
      WITH c AS (
        SELECT o_custkey, round(sum(o_totalprice), 2) AS x
        FROM orders GROUP BY 1),
      r AS (SELECT x, CAST(row_number() OVER (ORDER BY x, o_custkey)
                      AS DOUBLE) AS i FROM c)
      SELECT count(*) AS n_customers,
             round(2.0 * sum(i * x) / (count(*) * sum(x))
                   - (count(*) + 1) / count(*), 4) AS gini
      FROM r""")),

    // SA10 — deterministic Poisson(1) bootstrap: 32 resamples of the mean
    // document length, each row's per-resample weight drawn by inverting
    // the Poisson CDF (literal thresholds in both engines) on the
    // md5-fraction of (doc_id, b) — the spark-free way to put a CI on a
    // corpus statistic in ONE pass (weights ride the scan; no resampled
    // copies of the data exist anywhere). Weighted sums are integer-exact
    // (weight × n_chars), so the 32 means are engine-identical before
    // rounding.
    Q("sa10_poisson_bootstrap", (s, dir) => {
      import s.implicits._
      val bs = (1 to 32).map(b => Tuple1(b)).toDF("b")
      val f = graft.operators.Sampling.hashFraction(
        concat(col("doc_id").cast("string"), lit(":"), col("b").cast("string")))
      t(s, dir, "documents").select(col("doc_id"), col("n_chars"))
        .crossJoin(broadcast(bs))
        .withColumn("w",
          when(f < 0.36788, 0).when(f < 0.73576, 1).when(f < 0.91970, 2)
            .when(f < 0.98101, 3).when(f < 0.99634, 4).when(f < 0.99941, 5)
            .otherwise(6))
        .groupBy("b")
        .agg(round(sum(col("w") * col("n_chars")) / sum("w"), 4)
          .as("resample_mean"), sum("w").as("n_eff"))
        .orderBy("b")
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
        SELECT b, n_chars,
               CASE WHEN frac < 0.36788 THEN 0 WHEN frac < 0.73576 THEN 1
                    WHEN frac < 0.91970 THEN 2 WHEN frac < 0.98101 THEN 3
                    WHEN frac < 0.99634 THEN 4 WHEN frac < 0.99941 THEN 5
                    ELSE 6 END AS w
        FROM f)
      SELECT b, round(sum(w * n_chars) / sum(w), 4) AS resample_mean,
             CAST(sum(w) AS BIGINT) AS n_eff
      FROM w GROUP BY b ORDER BY b""")),

    // J9 — point-in-time join against an SCD2 dimension: enrich each event
    // with the dimension row valid AT the event's date. The interval
    // predicate `valid_from <= d < valid_to` is NOT a range join here —
    // because SCD2 intervals are contiguous per key, "the interval
    // containing d" IS "the latest valid_from <= d", i.e. the as-of
    // operator ([[AsOfJoin]]) — one union+window pass keyed on the entity,
    // no interval explosion, no nested loop. Same-day status flips collapse
    // to the last arrival (max orderkey) in BOTH engines so intervals are
    // unique per (key, valid_from).
    Q("j9_scd2_pit_join", (s, dir) => {
      val w = Window.partitionBy("k").orderBy(col("d"), col("o_orderkey"))
      val wd = Window.partitionBy("k", "d").orderBy(col("o_orderkey").desc)
      val dim = t(s, dir, "orders")
        .select(col("o_custkey").as("k"), col("o_orderkey"),
          to_date(col("o_orderdate")).as("d"), col("o_orderstatus"))
        .withColumn("__prev", lag(col("o_orderstatus"), 1).over(w))
        .filter(col("__prev").isNull || col("__prev") =!= col("o_orderstatus"))
        .withColumn("__rn", row_number().over(wd))
        .filter(col("__rn") === 1)
        .withColumn("valid_to",
          coalesce(lead(col("d"), 1).over(w), lit("9999-12-31").cast("date")))
        .select(col("k"), col("d").as("valid_from"), col("valid_to"),
          col("o_orderstatus").as("status"))
      val probes = t(s, dir, "events")
        .select(col("event_id"), col("user_id").as("k"),
          to_date(col("ts")).as("d"))
      graft.operators.AsOfJoin.asOf(probes, dim, Seq("k"),
        "d", "valid_from", Seq("status", "valid_to"))
        .filter(col("d") < col("valid_to"))
        .select(col("event_id"), col("k").as("user_id"), col("d"),
          col("status"))
        .orderBy("event_id")
    }, Some("""
      WITH chg AS (
        SELECT o_custkey AS k, o_orderkey, CAST(o_orderdate AS DATE) AS d,
               o_orderstatus,
               lag(o_orderstatus) OVER (PARTITION BY o_custkey
                 ORDER BY CAST(o_orderdate AS DATE), o_orderkey) AS prev
        FROM orders),
      collapsed AS (
        SELECT * FROM chg WHERE prev IS NULL OR prev <> o_orderstatus
        QUALIFY row_number() OVER (PARTITION BY k, d
                                   ORDER BY o_orderkey DESC) = 1),
      ivl AS (
        SELECT k, d AS valid_from,
               coalesce(lead(d) OVER (PARTITION BY k ORDER BY d, o_orderkey),
                        DATE '9999-12-31') AS valid_to,
               o_orderstatus AS status
        FROM collapsed)
      SELECT e.event_id, e.user_id, CAST(e.ts AS DATE) AS d, i.status
      FROM events e JOIN ivl i ON i.k = e.user_id
        AND CAST(e.ts AS DATE) >= i.valid_from
        AND CAST(e.ts AS DATE) < i.valid_to
      ORDER BY e.event_id""")),

    // K14 — CDC MERGE (`LoadOps.cdcMerge`): apply a deterministic change
    // batch (updates on orderkey ≡ 0 mod 97 — with a competing seq-2 row
    // that must win; deletes on ≡ 0 mod 89; inserts at key+10M for
    // ≡ 0 mod 101) to the orders snapshot. The three-verb lakehouse merge:
    // per-key latest-wins over the BATCH, one pk equi-join against base.
    Q("k14_cdc_merge", (s, dir) => {
      val base = t(s, dir, "orders")
        .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
      val src = t(s, dir, "orders")
      val u1 = src.filter(col("o_orderkey") % 97 === 0)
        .select(col("o_orderkey"), lit("U").as("op"), lit(1L).as("seq"),
          lit("X").as("o_orderstatus"),
          round(col("o_totalprice") + 100, 2).as("o_totalprice"))
      val u2 = src.filter(col("o_orderkey") % 97 === 0)
        .select(col("o_orderkey"), lit("U").as("op"), lit(2L).as("seq"),
          lit("Y").as("o_orderstatus"),
          round(col("o_totalprice") + 200, 2).as("o_totalprice"))
      val d1 = src.filter(col("o_orderkey") % 89 === 0)
        .select(col("o_orderkey"), lit("D").as("op"), lit(1L).as("seq"),
          col("o_orderstatus"), col("o_totalprice"))
      val i1 = src.filter(col("o_orderkey") % 101 === 0)
        .select((col("o_orderkey") + 10000000L).as("o_orderkey"),
          lit("I").as("op"), lit(1L).as("seq"),
          lit("N").as("o_orderstatus"), col("o_totalprice"))
      val cdc = u1.unionByName(u2).unionByName(d1).unionByName(i1)
      graft.operators.LoadOps.cdcMerge(base, cdc, "o_orderkey", "seq", "op",
        Seq("o_orderstatus", "o_totalprice"))
        .orderBy("o_orderkey")
    }, Some("""
      WITH cdc AS (
        SELECT o_orderkey, 'U' AS op, 1 AS seq, 'X' AS st,
               round(o_totalprice + 100, 2) AS tp
        FROM orders WHERE o_orderkey % 97 = 0
        UNION ALL
        SELECT o_orderkey, 'U', 2, 'Y', round(o_totalprice + 200, 2)
        FROM orders WHERE o_orderkey % 97 = 0
        UNION ALL
        SELECT o_orderkey, 'D', 1, o_orderstatus, o_totalprice
        FROM orders WHERE o_orderkey % 89 = 0
        UNION ALL
        SELECT o_orderkey + 10000000, 'I', 1, 'N', o_totalprice
        FROM orders WHERE o_orderkey % 101 = 0),
      latest AS (
        SELECT * FROM cdc
        QUALIFY row_number() OVER (PARTITION BY o_orderkey
                                   ORDER BY seq DESC, op DESC) = 1)
      SELECT coalesce(b.o_orderkey, l.o_orderkey) AS o_orderkey,
             CASE WHEN l.op IN ('I', 'U') THEN l.st
                  ELSE b.o_orderstatus END AS o_orderstatus,
             CASE WHEN l.op IN ('I', 'U') THEN l.tp
                  ELSE b.o_totalprice END AS o_totalprice
      FROM orders b FULL OUTER JOIN latest l USING (o_orderkey)
      WHERE l.op IS NULL OR l.op <> 'D'
      ORDER BY o_orderkey""")),

    // TS6 — Holt linear-trend smoothing of the daily event count (level +
    // trend double exponential, α=0.5 β=0.25 — dyadic so every fold step is
    // exact): per day the running fold over the expanding history prefix,
    // replicated term-for-term in DuckDB via list_reduce (the w8 EWMA
    // parity trick). Corpus-sized work is one groupBy(day); the O(n²)
    // prefix folds run over the ≤series-length day table.
    Q("ts6_holt_trend", (s, dir) => {
      val wexp = Window.orderBy("day")
        .rowsBetween(Window.unboundedPreceding, 0)
      t(s, dir, "events")
        .groupBy(to_date(col("ts")).as("day"))
        .agg(count(lit(1)).cast("double").as("x"))
        .withColumn("vals", collect_list(col("x")).over(wexp))
        .select(col("day"),
          expr("""
            aggregate(vals, named_struct('l', 0.0d, 'b', 0.0d, 'i', 0),
              (acc, v) -> CASE WHEN acc.i = 0
                THEN named_struct('l', v, 'b', 0.0d, 'i', 1)
                ELSE named_struct(
                  'l', 0.5d * v + 0.5d * (acc.l + acc.b),
                  'b', 0.125d * (v - acc.l) + 0.875d * acc.b,
                  'i', acc.i + 1) END) AS st"""))
        .select(col("day"), round(col("st.l"), 6).as("level"),
          round(col("st.b"), 6).as("trend"),
          round(col("st.l") + col("st.b"), 6).as("forecast_next"))
        .orderBy("day")
    }, Some("""
      WITH days AS (
        SELECT CAST(ts AS DATE) AS day, CAST(count(*) AS DOUBLE) AS x
        FROM events GROUP BY 1),
      pre AS (
        SELECT day, list(x) OVER (ORDER BY day
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS vals
        FROM days),
      -- state as a LIST [l, b, i, v]: DuckDB struct-literal lambdas update
      -- fields sequentially in place (a.l read by the 'b' field would see
      -- the NEW level); list construction evaluates every element against
      -- the OLD accumulator, matching Spark's named_struct semantics.
      f AS (
        SELECT day,
               list_reduce(
                 list_prepend(
                   [CAST(0.0 AS DOUBLE), CAST(0.0 AS DOUBLE),
                    CAST(0.0 AS DOUBLE), CAST(0.0 AS DOUBLE)],
                   list_transform(vals, v ->
                     [CAST(0.0 AS DOUBLE), CAST(0.0 AS DOUBLE),
                      CAST(0.0 AS DOUBLE), CAST(v AS DOUBLE)])),
                 (a, x) -> CASE WHEN a[3] = 0
                   THEN [x[4], CAST(0.0 AS DOUBLE), CAST(1.0 AS DOUBLE),
                         CAST(0.0 AS DOUBLE)]
                   ELSE [CAST(0.5 AS DOUBLE) * x[4]
                           + CAST(0.5 AS DOUBLE) * (a[1] + a[2]),
                         CAST(0.125 AS DOUBLE) * (x[4] - a[1])
                           + CAST(0.875 AS DOUBLE) * a[2],
                         a[3] + 1, CAST(0.0 AS DOUBLE)] END) AS st
        FROM pre)
      SELECT day, round(st[1], 6) AS level, round(st[2], 6) AS trend,
             round(st[1] + st[2], 6) AS forecast_next
      FROM f ORDER BY day""")),

    // KS4 — HLL sketch union audit: per-type HLL sketches of the user set,
    // UNIONED into a corpus estimate — the two-level mergeable-sketch
    // aggregation that replaces a global countDistinct shuffle at 100 TB
    // (partial sketches merge associatively; hll1 audits the one-level
    // form). Graded like hq3: the exact count plus the sketch-inside-band
    // verdict, both engine-reproducible.
    Q("ks4_hll_union_audit", (s, dir) => {
      val sk = t(s, dir, "events").groupBy("event_type")
        .agg(expr("hll_sketch_agg(user_id)").as("sk"))
      val est = sk.agg(
        expr("hll_sketch_estimate(hll_union_agg(sk))").as("__est"))
      val exact = t(s, dir, "events")
        .agg(countDistinct("user_id").as("n_exact"))
      exact.crossJoin(broadcast(est))
        .select(col("n_exact"),
          (abs(col("__est") - col("n_exact")) / col("n_exact") < 0.05)
            .as("within_band"))
    }, Some("""
      SELECT count(DISTINCT user_id) AS n_exact, TRUE AS within_band
      FROM events""")),

    // MM7 — BMP round trip (`operators/BmpCodec.scala`): text-derived
    // rasters encoded as real bottom-up/BGR/stride-padded 24bpp BMPs
    // (w = 7 forces 3 pad bytes per row), decoded back, and graded on
    // per-channel sums PLUS two order-SENSITIVE probes — the top-half sum
    // (red if bottom-up rows aren't flipped) and the first pixel (red if
    // BGR isn't swapped or padding shifts a row). The oracle recomputes
    // everything from the source BYTES (mm3's hex-decode idiom), so a
    // container bug in either direction breaks the hash.
    Q("mm7_bmp_roundtrip", (s, dir) =>
      graft.operators.Multimodal.bmpStats(
        graft.operators.Multimodal.bmpFromText(
          t(s, dir, "documents"), "doc_id", "text", width = 7))
        .orderBy("media_id"),
      Some("""
      WITH d AS (
        SELECT doc_id, hex(encode(text)) AS hx,
               octet_length(encode(text)) AS n
        FROM documents WHERE octet_length(encode(text)) > 0),
      dims AS (
        SELECT doc_id, n, 7 AS w, 1 + (n % 16) AS h,
               list_transform(generate_series(1, n), i ->
                 (strpos('0123456789ABCDEF', substr(hx,
                     CAST(2 * i - 1 AS INTEGER), 1)) - 1) * 16
                 + strpos('0123456789ABCDEF', substr(hx,
                     CAST(2 * i AS INTEGER), 1)) - 1) AS bts
        FROM d),
      px AS (
        SELECT doc_id, w, h, i, bts[CAST(i % n AS INTEGER) + 1] AS b
        FROM dims,
             UNNEST(generate_series(0, CAST(w * h * 3 - 1 AS BIGINT)))
               AS t(i)),
      agg AS (
        SELECT doc_id, w, h,
               CAST(sum(CASE WHEN i % 3 = 0 THEN b ELSE 0 END) AS BIGINT)
                 AS sum_r,
               CAST(sum(CASE WHEN i % 3 = 1 THEN b ELSE 0 END) AS BIGINT)
                 AS sum_g,
               CAST(sum(CASE WHEN i % 3 = 2 THEN b ELSE 0 END) AS BIGINT)
                 AS sum_b,
               CAST(sum(CASE WHEN i < (h // 2) * w * 3 THEN b ELSE 0 END)
                 AS BIGINT) AS top_half_sum
        FROM px GROUP BY doc_id, w, h)
      SELECT agg.doc_id AS media_id, agg.w AS width, agg.h AS height,
             sum_r, sum_g, sum_b, top_half_sum,
             CAST(bts[CAST(0 % n AS INTEGER) + 1] AS BIGINT) * 65536
               + bts[CAST(1 % n AS INTEGER) + 1] * 256
               + bts[CAST(2 % n AS INTEGER) + 1] AS first_px
      FROM agg JOIN dims ON dims.doc_id = agg.doc_id
      ORDER BY media_id""")),

    // K15 — incremental JOIN-view maintenance: the materialized join
    // V = orders ⋈ customer updated from deltas on BOTH sides as
    // ΔV = ΔA⋈B ∪ A⋈ΔB ∪ ΔA⋈ΔB (k11's pattern for aggregates, here for
    // joins — the foreachBatch shape when fact AND dimension both receive
    // appends). The Spark side materializes V_old ∪ ΔV from four
    // delta-joins; the oracle computes the FULL join of the final state —
    // hash equality IS the delta-join identity. Every join is a pk
    // equi-join; delta-side work is batch-sized.
    Q("k15_join_ivm", (s, dir) => {
      val o = t(s, dir, "orders")
      val c = t(s, dir, "customer")
      val aOrders = o.filter(to_date(col("o_orderdate")) < "1996-01-01")
      val dOrders = o.filter(to_date(col("o_orderdate")) >= "1996-01-01")
      val bCust = c.filter(col("c_acctbal") < 5000)
      val dCust = c.filter(col("c_acctbal") >= 5000)
      def jn(x: org.apache.spark.sql.DataFrame,
             y: org.apache.spark.sql.DataFrame) =
        x.join(y, x("o_custkey") === y("c_custkey"))
          .select(x("o_orderkey"), y("c_custkey"), y("c_mktsegment"),
            round(x("o_totalprice"), 2).as("price"))
      jn(aOrders, bCust).unionByName(jn(dOrders, bCust))
        .unionByName(jn(aOrders, dCust)).unionByName(jn(dOrders, dCust))
        .orderBy("o_orderkey")
    }, Some("""
      SELECT o_orderkey, c_custkey, c_mktsegment,
             round(o_totalprice, 2) AS price
      FROM orders JOIN customer ON o_custkey = c_custkey
      ORDER BY o_orderkey""")),

    // W10 — sessionized path analysis: split each user's stream at 30-min
    // gaps (st2's session semantics in batch form), take each session's
    // first 5 event types as an ordered path, count path frequencies — the
    // "what do users actually do" report. Order inside a path comes from an
    // array_sort over (rank, type) structs, not from collect_list frame
    // luck; all corpus-sized shuffles are keyed on user_id.
    Q("w10_session_paths", (s, dir) => {
      val wOrd = Window.partitionBy("user_id").orderBy("ts", "event_id")
      t(s, dir, "events")
        .withColumn("__gap",
          when(lag("ts", 1).over(wOrd).isNull ||
            col("ts").cast("long") - lag("ts", 1).over(wOrd).cast("long")
              > 1800, 1).otherwise(0))
        .withColumn("__sess", sum("__gap").over(
          wOrd.rowsBetween(Window.unboundedPreceding, 0)))
        .withColumn("__rn", row_number().over(
          Window.partitionBy("user_id", "__sess").orderBy("ts", "event_id")))
        .filter(col("__rn") <= 5)
        .groupBy("user_id", "__sess")
        .agg(concat_ws(">", transform(
          array_sort(collect_list(struct(col("__rn"), col("event_type")))),
          x => x.getField("event_type"))).as("path"))
        .groupBy("path").agg(count(lit(1)).as("n_sessions"))
        .filter(col("n_sessions") >= 2)
        .orderBy("path")
    }, Some("""
      WITH s AS (
        SELECT user_id, ts, event_id, event_type,
               CASE WHEN lag(ts) OVER w IS NULL
                      OR date_diff('second', lag(ts) OVER w, ts) > 1800
                    THEN 1 ELSE 0 END AS gap
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
      s2 AS (
        SELECT *, sum(gap) OVER (PARTITION BY user_id ORDER BY ts, event_id
                 ROWS UNBOUNDED PRECEDING) AS sess
        FROM s),
      s3 AS (
        SELECT *, row_number() OVER (PARTITION BY user_id, sess
                 ORDER BY ts, event_id) AS rn
        FROM s2),
      p AS (
        SELECT user_id, sess,
               string_agg(event_type, '>' ORDER BY rn) AS path
        FROM s3 WHERE rn <= 5 GROUP BY user_id, sess)
      SELECT path, count(*) AS n_sessions
      FROM p GROUP BY path HAVING count(*) >= 2 ORDER BY path""")),

    // W11 — sequential pattern detection, MATCH_RECOGNIZE shape: every
    // click followed by a purchase within 30 min with NO error event
    // strictly between — the funnel-with-negative-condition cs7 cannot
    // express. No per-candidate join: for each row, "ts of the next
    // purchase/error after me" is a conditional reverse-min window
    // (min(CASE type) OVER (1 FOLLOWING .. UNBOUNDED)), so the whole
    // pattern evaluates in ONE user-keyed window pass; the match predicate
    // is then pure row-local arithmetic on epoch seconds.
    Q("w11_pattern_match", (s, dir) => {
      val wFwd = Window.partitionBy("user_id").orderBy("sec", "event_id")
        .rowsBetween(1, Window.unboundedFollowing)
      t(s, dir, "events")
        .select(col("user_id"), col("event_id"), col("event_type"),
          col("ts").cast("long").as("sec"))
        .withColumn("next_b",
          min(when(col("event_type") === "purchase", col("sec"))).over(wFwd))
        .withColumn("next_c",
          min(when(col("event_type") === "error", col("sec"))).over(wFwd))
        .filter(col("event_type") === "click" &&
          col("next_b").isNotNull &&
          col("next_b") - col("sec") <= 1800 &&
          (col("next_c").isNull || col("next_c") >= col("next_b")))
        .select(col("user_id"), col("event_id").as("click_id"),
          (col("next_b") - col("sec")).as("sec_to_purchase"))
        .orderBy("user_id", "click_id")
    }, Some("""
      WITH e AS (
        SELECT user_id, event_id, event_type,
               CAST(floor(epoch(ts)) AS BIGINT) AS sec
        FROM events),
      w AS (
        SELECT *,
          min(CASE WHEN event_type = 'purchase' THEN sec END)
            OVER nxt AS next_b,
          min(CASE WHEN event_type = 'error' THEN sec END)
            OVER nxt AS next_c
        FROM e
        WINDOW nxt AS (PARTITION BY user_id ORDER BY sec, event_id
          ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING))
      SELECT user_id, event_id AS click_id,
             next_b - sec AS sec_to_purchase
      FROM w
      WHERE event_type = 'click' AND next_b IS NOT NULL
        AND next_b - sec <= 1800
        AND (next_c IS NULL OR next_c >= next_b)
      ORDER BY user_id, click_id""")),

    // D11 — calendar dimension build: the warehouse date-dim generated
    // from the fact span (sequence explode — one 1-row aggregate, zero
    // scans of the fact beyond min/max). Day-of-week comes from pure date
    // arithmetic against a known Monday (1996-01-01), NOT from locale- or
    // convention-dependent dow functions, so both engines agree by
    // construction.
    Q("d11_date_dim", (s, dir) => {
      val span = t(s, dir, "orders").agg(
        min(to_date(col("o_orderdate"))).as("d0"),
        max(to_date(col("o_orderdate"))).as("d1"))
      span.select(explode(sequence(col("d0"), col("d1"))).as("d"))
        .select(col("d"), year(col("d")).as("y"),
          quarter(col("d")).as("q"), month(col("d")).as("m"),
          dayofmonth(col("d")).as("dom"),
          (((datediff(col("d"), lit("1996-01-01").cast("date")) % 7) + 7) % 7
            + 1).as("iso_dow"),
          ((((datediff(col("d"), lit("1996-01-01").cast("date")) % 7) + 7) % 7)
            < 5).as("is_weekday"),
          trunc(col("d"), "MM").as("month_start"),
          last_day(col("d")).as("month_end"),
          dayofmonth(last_day(col("d"))).as("days_in_month"))
        .orderBy("d")
    }, Some("""
      WITH span AS (
        SELECT min(CAST(o_orderdate AS DATE)) AS d0,
               max(CAST(o_orderdate AS DATE)) AS d1
        FROM orders),
      days AS (
        SELECT CAST(unnest(generate_series(d0, d1, INTERVAL 1 DAY)) AS DATE)
          AS d
        FROM span)
      SELECT d, CAST(year(d) AS INT) AS y, CAST(quarter(d) AS INT) AS q,
             CAST(month(d) AS INT) AS m, CAST(day(d) AS INT) AS dom,
             CAST(((d - DATE '1996-01-01') % 7 + 7) % 7 + 1 AS INT)
               AS iso_dow,
             ((d - DATE '1996-01-01') % 7 + 7) % 7 < 5 AS is_weekday,
             date_trunc('month', d) AS month_start,
             last_day(d) AS month_end,
             CAST(day(last_day(d)) AS INT) AS days_in_month
      FROM days ORDER BY d""")),

    // CS20 — seasonality strength: 1 − Var(residual)/Var(series) after
    // removing the day-of-week baseline (ts1's decomposition reduced to the
    // one scalar a pipeline alerts on). Variances from explicit sum/sum²
    // so both engines run the identical textbook formula; dow from the
    // same arithmetic as d11.
    Q("cs20_seasonality_strength", (s, dir) => {
      val days = t(s, dir, "events")
        .groupBy(to_date(col("ts")).as("day"))
        .agg(count(lit(1)).cast("double").as("x"))
        .withColumn("dw",
          ((datediff(col("day"), lit("1996-01-01").cast("date")) % 7) + 7) % 7)
      val base = days.groupBy("dw").agg(avg("x").as("bx"))
      days.join(base, "dw")
        .withColumn("r", col("x") - col("bx"))
        .agg(count(lit(1)).as("n_days"),
          sum("x").as("sx"), sum(col("x") * col("x")).as("sx2"),
          sum("r").as("sr"), sum(col("r") * col("r")).as("sr2"))
        .select(col("n_days"),
          round(lit(1.0) -
            (col("sr2") / col("n_days") -
              (col("sr") / col("n_days")) * (col("sr") / col("n_days"))) /
            (col("sx2") / col("n_days") -
              (col("sx") / col("n_days")) * (col("sx") / col("n_days"))), 4)
            .as("strength"))
    }, Some("""
      WITH days AS (
        SELECT CAST(ts AS DATE) AS day, CAST(count(*) AS DOUBLE) AS x
        FROM events GROUP BY 1),
      d2 AS (
        SELECT day, x,
               ((day - DATE '1996-01-01') % 7 + 7) % 7 AS dw
        FROM days),
      base AS (SELECT dw, avg(x) AS bx FROM d2 GROUP BY 1),
      j AS (SELECT d2.*, d2.x - base.bx AS r FROM d2 JOIN base USING (dw))
      SELECT count(*) AS n_days,
             round(1.0 -
               (sum(r * r) / count(*)
                 - (sum(r) / count(*)) * (sum(r) / count(*))) /
               (sum(x * x) / count(*)
                 - (sum(x) / count(*)) * (sum(x) / count(*))), 4) AS strength
      FROM j""")),

    // ZO2 — Hilbert-curve layout (`ZOrder.hilbertKey`): zo1's report with
    // the locality-superior key — consecutive Hilbert indices are ALWAYS
    // grid-adjacent, where Morton jumps across the plane at power-of-two
    // seams, so range-cut files get tighter two-dimensional envelopes. The
    // xy2d bit walk folds scan-side over a literal power array (zero
    // exchanges for the key itself); prod write path is
    // repartitionByRange(hkey), the graded ntile stands in for the cut.
    Q("zo2_hilbert_layout", (s, dir) => {
      val keyed = t(s, dir, "events").select(col("event_id"),
        (col("user_id") % 256).cast("int").as("x"),
        (dayofyear(col("ts")) % 256).cast("int").as("y"))
        .withColumn("hkey", graft.operators.ZOrder.hilbertKey("x", "y"))
      keyed
        .withColumn("file_id",
          ntile(16).over(Window.orderBy(col("hkey"), col("event_id"))))
        .groupBy("file_id")
        .agg(min("x").as("min_x"), max("x").as("max_x"),
          min("y").as("min_y"), max("y").as("max_y"),
          count(lit(1)).as("n"))
        .orderBy("file_id")
    }, Some(s"""
      WITH keyed AS (
        SELECT event_id,
               CAST(user_id % 256 AS INT) AS x,
               CAST(date_part('doy', ts) % 256 AS INT) AS y
        FROM events),
      z AS (
        SELECT *, ${graft.operators.ZOrder.hilbertKeySql("x", "y")} AS hkey
        FROM keyed),
      f AS (
        SELECT *, ntile(16) OVER (ORDER BY hkey, event_id) AS file_id FROM z)
      SELECT file_id, min(x) AS min_x, max(x) AS max_x,
             min(y) AS min_y, max(y) AS max_y, count(*) AS n
      FROM f GROUP BY 1 ORDER BY 1""")),

    // ML5 — kNN classification over the embedding corpus: each held-out
    // probe (vec_id ≡ 0 mod 50) takes the majority label of its 10 exact
    // nearest neighbors (cosine via the native vec_dot), smallest-label
    // tie-break — the serve-path loop closed: the ANN family's index
    // feeds a classifier, and this grades the exact reference the
    // approximate paths are audited against. Probes broadcast; per-probe
    // rank + vote windows run on the scored candidate table.
    Q("ml5_knn_classifier", (s, dir) => {
      val e = t(s, dir, "embeddings").select(col("vec_id"),
        col("embedding").cast("array<double>").as("v"), col("label"))
      val corpus = e.filter(col("vec_id") % 50 =!= 0)
      // the probe set is CAPPED (≤ 50) so the broadcast×corpus score pass
      // stays linear in the corpus at any SF — the exact arm is an audit
      // reference; a corpus-fraction holdout would ride batchTopK instead
      val probes = e.filter(col("vec_id") % 50 === 0 && col("vec_id") < 2500)
        .select(col("vec_id").as("qid"), col("v").as("qv"),
          col("label").as("true_label"))
      val wRank = Window.partitionBy("qid")
        .orderBy(col("score").desc, col("vec_id"))
      val wVote = Window.partitionBy("qid")
        .orderBy(col("votes").desc, col("label"))
      corpus.crossJoin(broadcast(probes))
        .withColumn("score", round(
          expr("vec_dot(v, qv)") /
            (sqrt(expr("vec_norm_sq(v)")) * sqrt(expr("vec_norm_sq(qv)"))),
          6))
        .withColumn("rank", row_number().over(wRank))
        .filter(col("rank") <= 10)
        .groupBy("qid", "true_label", "label")
        .agg(count(lit(1)).as("votes"))
        .withColumn("__rn", row_number().over(wVote))
        .filter(col("__rn") === 1)
        .select(col("qid"), col("true_label"),
          col("label").as("predicted_label"), col("votes"),
          (col("label") === col("true_label")).as("correct"))
        .orderBy("qid")
    }, Some("""
      WITH e AS (
        SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v, label
        FROM embeddings),
      corpus AS (SELECT * FROM e WHERE vec_id % 50 <> 0),
      probes AS (
        SELECT vec_id AS qid, v AS qv, label AS true_label
        FROM e WHERE vec_id % 50 = 0 AND vec_id < 2500),
      scored AS (
        SELECT p.qid, p.true_label, c.vec_id, c.label,
               round(list_sum(list_transform(generate_series(1, len(c.v)),
                       i -> c.v[i] * p.qv[i]))
                     / (sqrt(list_sum(list_transform(c.v, x -> x * x)))
                        * sqrt(list_sum(list_transform(p.qv, x -> x * x)))),
                     6) AS score
        FROM corpus c, probes p),
      topk AS (
        SELECT * FROM scored
        QUALIFY row_number() OVER (PARTITION BY qid
                                   ORDER BY score DESC, vec_id) <= 10),
      votes AS (
        SELECT qid, true_label, label, count(*) AS votes
        FROM topk GROUP BY 1, 2, 3)
      SELECT qid, true_label, label AS predicted_label, votes,
             label = true_label AS correct
      FROM votes
      QUALIFY row_number() OVER (PARTITION BY qid
                                 ORDER BY votes DESC, label) = 1
      ORDER BY qid""")),

    // J9B — the SCD2 point-in-time join on the NATIVE as-of operator
    // (`plans/AsOfJoinPlan.asOfNative` → AsOfJoinExec): j9's exact shape
    // through the custom physical plan — one key-aligned merge pass with
    // O(1) carried state instead of the union+window composition. Same
    // DuckDB interval oracle; j7b proved exec↔composition row equality on
    // raw events, this grades it on a derived dimension with sentinel
    // intervals.
    Q("j9b_scd2_pit_native", (s, dir) => {
      val w = Window.partitionBy("k").orderBy(col("d"), col("o_orderkey"))
      val wd = Window.partitionBy("k", "d").orderBy(col("o_orderkey").desc)
      val dim = t(s, dir, "orders")
        .select(col("o_custkey").as("k"), col("o_orderkey"),
          to_date(col("o_orderdate")).as("d"), col("o_orderstatus"))
        .withColumn("__prev", lag(col("o_orderstatus"), 1).over(w))
        .filter(col("__prev").isNull || col("__prev") =!= col("o_orderstatus"))
        .withColumn("__rn", row_number().over(wd))
        .filter(col("__rn") === 1)
        .withColumn("valid_to",
          coalesce(lead(col("d"), 1).over(w), lit("9999-12-31").cast("date")))
        .select(col("k"), col("d").as("valid_from"), col("valid_to"),
          col("o_orderstatus").as("status"))
      val probes = t(s, dir, "events")
        .select(col("event_id"), col("user_id").as("k"),
          to_date(col("ts")).as("d"))
      graft.plans.AsOfJoinPlan.asOfNative(probes, dim, Seq("k"),
        probeTime = "d", factTime = "valid_from",
        factPayload = Seq("status", "valid_to"))
        .filter(col("d") < col("valid_to"))
        .select(col("event_id"), col("k").as("user_id"), col("d"),
          col("status"))
        .orderBy("event_id")
    }, Some("""
      WITH chg AS (
        SELECT o_custkey AS k, o_orderkey, CAST(o_orderdate AS DATE) AS d,
               o_orderstatus,
               lag(o_orderstatus) OVER (PARTITION BY o_custkey
                 ORDER BY CAST(o_orderdate AS DATE), o_orderkey) AS prev
        FROM orders),
      collapsed AS (
        SELECT * FROM chg WHERE prev IS NULL OR prev <> o_orderstatus
        QUALIFY row_number() OVER (PARTITION BY k, d
                                   ORDER BY o_orderkey DESC) = 1),
      ivl AS (
        SELECT k, d AS valid_from,
               coalesce(lead(d) OVER (PARTITION BY k ORDER BY d, o_orderkey),
                        DATE '9999-12-31') AS valid_to,
               o_orderstatus AS status
        FROM collapsed)
      SELECT e.event_id, e.user_id, CAST(e.ts AS DATE) AS d, i.status
      FROM events e JOIN ivl i ON i.k = e.user_id
        AND CAST(e.ts AS DATE) >= i.valid_from
        AND CAST(e.ts AS DATE) < i.valid_to
      ORDER BY e.event_id""")),

    // MB2 — Apriori level 3: frequent TRIPLES, with the candidate space
    // generated from the frequent-PAIR self-join (the whole point of
    // Apriori — candidates are pairs-of-frequent-pairs sharing a prefix
    // and closed under the third pair, never items³) and only candidates
    // counted against baskets. mb1's gates (item support, basket cap)
    // still run first.
    Q("mb2_frequent_triples", (s, dir) => {
      // r15 (guide §2.4, same moves as Basket.associationRules): one
      // groupBy(k).collect_set replaces the (k, i) distinct (collect_set
      // dedupes per basket); the frequent-pair stage expands each basket's
      // sorted frequent-item array locally instead of self-joining bf on
      // the basket id (the join emitted exactly these C(k,2) rows while
      // exchanging bf twice). The TRIPLE counting keeps the Apriori
      // candidate-join shape — generating all C(k,3) per-basket triples
      // would be the naive counting Apriori exists to avoid.
      val baskets = t(s, dir, "lineitem")
        .select(col("l_orderkey").as("k"), col("l_partkey").as("i"))
        .groupBy("k").agg(collect_set(col("i")).as("xs"))
        .localCheckpoint() // feeds item counts AND bf
      val items = baskets.select(explode(col("xs")).as("i"))
        .groupBy("i").agg(count(lit(1)).as("cnt"))
        .filter(col("cnt") >= 20).select("i")
      val bf = baskets.select(col("k"), explode(col("xs")).as("i"))
        .join(items, "i").select("k", "i")
        .localCheckpoint()
      val fb = bf.groupBy("k").agg(sort_array(collect_set(col("i"))).as("fs"))
      val fp = fb.select(explode(expr(
        """flatten(transform(fs, (x, i) ->
             transform(slice(fs, i + 2, size(fs)), y ->
               named_struct('p1', x, 'p2', y))))""")).as("p"))
        .select(col("p.p1").as("p1"), col("p.p2").as("p2"))
        .groupBy("p1", "p2").agg(count(lit(1)).as("co"))
        .filter(col("co") >= 2).select("p1", "p2")
        .localCheckpoint()
      // candidate gen: (a,b)+(a,c) sharing the prefix, closed under (b,c)
      val cand = fp.select(col("p1").as("i1"), col("p2").as("i2"))
        .join(fp.select(col("p1").as("i1"), col("p2").as("i3")), Seq("i1"))
        .filter(col("i2") < col("i3"))
        .join(fp.select(col("p1").as("i2"), col("p2").as("i3")),
          Seq("i2", "i3"))
      cand
        .join(bf.select(col("k"), col("i").as("i1")), "i1")
        .join(bf.select(col("k"), col("i").as("i2")), Seq("k", "i2"))
        .join(bf.select(col("k"), col("i").as("i3")), Seq("k", "i3"))
        .groupBy("i1", "i2", "i3").agg(count(lit(1)).as("co"))
        .filter(col("co") >= 2)
        .select("i1", "i2", "i3", "co")
        .orderBy("i1", "i2", "i3")
    }, Some("""
      WITH b AS (SELECT DISTINCT l_orderkey AS k, l_partkey AS i
                 FROM lineitem),
      items AS (SELECT i FROM b GROUP BY 1 HAVING count(*) >= 20),
      bf AS (SELECT k, i FROM b WHERE i IN (SELECT i FROM items)),
      fp AS (
        SELECT a.i AS p1, c.i AS p2
        FROM bf a JOIN bf c ON a.k = c.k AND a.i < c.i
        GROUP BY 1, 2 HAVING count(*) >= 2),
      cand AS (
        SELECT x.p1 AS i1, x.p2 AS i2, y.p2 AS i3
        FROM fp x JOIN fp y ON x.p1 = y.p1 AND x.p2 < y.p2
        WHERE EXISTS (SELECT 1 FROM fp z
                      WHERE z.p1 = x.p2 AND z.p2 = y.p2))
      SELECT c.i1, c.i2, c.i3, count(*) AS co
      FROM cand c
      JOIN bf a ON a.i = c.i1
      JOIN bf d ON d.k = a.k AND d.i = c.i2
      JOIN bf e ON e.k = a.k AND e.i = c.i3
      GROUP BY 1, 2, 3 HAVING count(*) >= 2
      ORDER BY 1, 2, 3""")),

    // A13 — GROUPING SETS (the explicit-set sibling of a9's ROLLUP and
    // a10's CUBE — a different Expand shape: only the sets asked for, one
    // shuffle): per-priority, per-status, and grand-total aggregates in
    // one pass, grouping_id disambiguating the levels.
    Q("a13_grouping_sets", (s, dir) => {
      t(s, dir, "orders").createOrReplaceTempView("__gs_orders")
      s.sql("""
        SELECT grouping_id() AS gid,
               coalesce(o_orderpriority, 'ALL') AS priority,
               coalesce(o_orderstatus, 'ALL') AS status,
               count(*) AS n, round(sum(o_totalprice), 2) AS rev
        FROM __gs_orders
        GROUP BY GROUPING SETS ((o_orderpriority), (o_orderstatus), ())
        ORDER BY gid, priority, status""")
    }, Some("""
      SELECT CAST(grouping(o_orderpriority, o_orderstatus) AS BIGINT) AS gid,
             coalesce(o_orderpriority, 'ALL') AS priority,
             coalesce(o_orderstatus, 'ALL') AS status,
             count(*) AS n, round(sum(o_totalprice), 2) AS rev
      FROM orders
      GROUP BY GROUPING SETS ((o_orderpriority), (o_orderstatus), ())
      ORDER BY gid, priority, status""")),

    // GR5 — modularity of the lp1 communities: Q = Σ_c (e_c/m − (d_c/2m)²)
    // over the 2-round label-propagation partition — the number that says
    // whether the communities are real structure or noise. Edge/degree
    // sums are integer-exact; only the final Q divides. The oracle
    // replays lp1's unrolled 2-round LPA and the same closed form.
    Q("gr5_modularity", (s, dir) => {
      val ids = t(s, dir, "documents").select(col("doc_id"))
      val chain = ids.filter(col("doc_id") % 100 =!= 0)
        .select(col("doc_id").as("a"), (col("doc_id") - 1).as("b"))
      val hub = ids.filter(col("doc_id") % 10 =!= 0)
        .select(col("doc_id").as("a"),
          (col("doc_id") - col("doc_id") % 10).as("b"))
      val raw = chain.unionByName(hub)
      val labels = graft.operators.Components
        .labelPropagation(raw, "a", "b", rounds = 2)
      // undirected distinct edge set (one row per {u,v})
      val und = raw
        .select(least(col("a"), col("b")).as("u"),
          greatest(col("a"), col("b")).as("v"))
        .filter(col("u") =!= col("v")).distinct()
        .localCheckpoint()
      val m = und.agg(count(lit(1)).as("m"))
      val withLabels = und
        .join(labels.select(col("node").as("u"), col("label").as("lu")), "u")
        .join(labels.select(col("node").as("v"), col("label").as("lv")), "v")
      val intra = withLabels.filter(col("lu") === col("lv"))
        .groupBy(col("lu").as("c")).agg(count(lit(1)).as("ec"))
      val deg = withLabels.select(col("u").as("node"), col("lu").as("c"))
        .unionByName(withLabels.select(col("v").as("node"), col("lv").as("c")))
        .groupBy("c").agg(count(lit(1)).as("dc"))
      deg.join(intra, Seq("c"), "left")
        .select(col("c"), coalesce(col("ec"), lit(0L)).as("ec"), col("dc"))
        .crossJoin(broadcast(m))
        .agg(count(lit(1)).as("n_communities"),
          round(sum(col("ec") / col("m") -
            (col("dc") / (lit(2.0) * col("m"))) *
            (col("dc") / (lit(2.0) * col("m")))), 4).as("modularity"))
    }, Some("""
      WITH fixture AS (
        SELECT doc_id AS u, doc_id - 1 AS v FROM documents
        WHERE doc_id % 100 <> 0
        UNION ALL
        SELECT doc_id, doc_id - doc_id % 10 FROM documents
        WHERE doc_id % 10 <> 0),
      e AS (SELECT u, v FROM fixture UNION SELECT v, u FROM fixture),
      nodes AS (SELECT DISTINCT u AS node FROM e),
      l0 AS (SELECT node, node AS label FROM nodes),
      r1c AS (
        SELECT e.u AS node, l.label, count(*) AS cnt
        FROM e JOIN l0 l ON e.v = l.node GROUP BY 1, 2),
      r1 AS (
        SELECT node, label FROM (
          SELECT node, label, row_number() OVER (
            PARTITION BY node ORDER BY cnt DESC, label) AS rn
          FROM r1c) WHERE rn = 1),
      l1 AS (
        SELECT n.node, coalesce(r.label, n.node) AS label
        FROM nodes n LEFT JOIN r1 r USING (node)),
      r2c AS (
        SELECT e.u AS node, l.label, count(*) AS cnt
        FROM e JOIN l1 l ON e.v = l.node GROUP BY 1, 2),
      r2 AS (
        SELECT node, label FROM (
          SELECT node, label, row_number() OVER (
            PARTITION BY node ORDER BY cnt DESC, label) AS rn
          FROM r2c) WHERE rn = 1),
      labels AS (
        SELECT n.node, coalesce(r.label, n.node) AS label
        FROM nodes n LEFT JOIN r2 r USING (node)),
      und AS (
        SELECT DISTINCT least(u, v) AS u, greatest(u, v) AS v
        FROM fixture WHERE u <> v),
      m AS (SELECT count(*) AS m FROM und),
      wl AS (
        SELECT und.u, und.v, lu.label AS lu, lv.label AS lv
        FROM und JOIN labels lu ON lu.node = und.u
                 JOIN labels lv ON lv.node = und.v),
      intra AS (
        SELECT lu AS c, count(*) AS ec FROM wl WHERE lu = lv GROUP BY 1),
      deg AS (
        SELECT c, count(*) AS dc FROM (
          SELECT u AS node, lu AS c FROM wl
          UNION ALL SELECT v, lv FROM wl) GROUP BY 1)
      SELECT count(*) AS n_communities,
             round(sum(coalesce(ec, 0) / m
                       - (dc / (2.0 * m)) * (dc / (2.0 * m))), 4)
               AS modularity
      FROM deg LEFT JOIN intra USING (c), m"""))
  )
}
