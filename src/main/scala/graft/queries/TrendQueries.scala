package graft.queries

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.operators.{Components, Dedup, Sampling, Triangles}
import Tables.t

/** Round-12 third wave: calendar-aware RANGE-frame windows, rolling
  * distinct actives, robust Theil–Sen trend estimation, one-pass
  * higher-moment profiling, basket co-occurrence similarity, hub-pruned
  * neighbor-Jaccard link prediction, and the EXACT prefix-filter
  * set-similarity join. Every entry is DuckDB-oracle hash-graded;
  * operator invariants live in `TrendOpsSpec`.
  */
object TrendQueries {

  val all: Seq[Q] = Seq(

    // W13 — calendar-aware rolling revenue: per-priority daily revenue with
    // a RANGE frame over the integer epoch-day key (3 calendar days back,
    // NOT 3 rows back — at ~1.2 orders per (priority, day) the day grid has
    // gaps, so ROWS and RANGE genuinely differ and the frame must be
    // value-based). Revenue is summed in integer cents (floor(price*100) —
    // floor, never round: round() halfway behavior differs across engines)
    // so the window sum is exact; the /100.0 display division is one
    // identical float op. Scale shape: one day-grain aggregate over the
    // fact table, then a per-priority window over the bounded
    // (priority × day) table.
    Q("w13_range_rolling_revenue", (s, dir) => {
      val d = t(s, dir, "orders")
        .groupBy(col("o_orderpriority"),
          datediff(to_date(col("o_orderdate")), to_date(lit("1970-01-01")))
            .as("day"))
        .agg(sum(floor(col("o_totalprice") * 100).cast("long")).as("__cents"))
      val w = Window.partitionBy("o_orderpriority").orderBy("day")
        .rangeBetween(-3, 0)
      d.withColumn("__rc", sum(col("__cents")).over(w))
        .select(col("o_orderpriority"),
          expr("date_add(DATE '1970-01-01', day)").as("day_d"),
          (col("__cents") / 100.0).as("rev"),
          (col("__rc") / 100.0).as("roll_rev"))
        .orderBy("o_orderpriority", "day_d")
    }, Some("""
      WITH d AS (
        SELECT o_orderpriority,
               CAST(o_orderdate AS DATE) - DATE '1970-01-01' AS day,
               sum(CAST(floor(o_totalprice * 100) AS BIGINT)) AS cents
        FROM orders GROUP BY 1, 2),
      r AS (
        SELECT *, sum(cents) OVER (PARTITION BY o_orderpriority ORDER BY day
                   RANGE BETWEEN 3 PRECEDING AND CURRENT ROW) AS rc
        FROM d)
      SELECT o_orderpriority, DATE '1970-01-01' + CAST(day AS INTEGER) AS day_d,
             cents / 100.0 AS rev, rc / 100.0 AS roll_rev
      FROM r ORDER BY 1, 2""")),

    // W14 — rolling 7-day distinct actives (DAU + WAU per day): exact
    // sliding-window COUNT DISTINCT, which no window frame can express
    // directly. The scalable form: dedupe to the bounded (user, day) table
    // FIRST, then each (user, day) contributes to the 7 window-end days it
    // covers via a constant-factor explode — shuffle is 7×|user-days|, and
    // the raw events never enter a window or a range join (the oracle's
    // BETWEEN join is the semantic spec, the explode is the plan).
    Q("w14_rolling_distinct_users", (s, dir) => {
      val ud = t(s, dir, "events")
        .select(col("user_id"), to_date(col("ts")).as("day")).distinct()
        .localCheckpoint() // feeds days, dau, and the explode
      val days = ud.select("day").distinct()
      val dau = ud.groupBy("day").agg(countDistinct("user_id").as("dau"))
      val wau = ud
        .select(col("user_id"),
          explode(expr("sequence(day, date_add(day, 6))")).as("day"))
        .join(days, Seq("day"), "left_semi")
        .groupBy("day").agg(countDistinct("user_id").as("wau7"))
      dau.join(wau, "day").orderBy("day")
    }, Some("""
      WITH ud AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events),
      days AS (SELECT DISTINCT day FROM ud),
      dau AS (SELECT day, count(DISTINCT user_id) AS dau FROM ud GROUP BY 1),
      wau AS (
        SELECT d.day, count(DISTINCT u.user_id) AS wau7
        FROM days d JOIN ud u ON u.day BETWEEN d.day - 6 AND d.day
        GROUP BY 1)
      SELECT day, dau.dau, wau.wau7
      FROM days JOIN dau USING (day) JOIN wau USING (day)
      ORDER BY day""")),

    // TS9 — Theil–Sen robust trend slope per event type: the median of all
    // pairwise slopes over the daily-count series — a single outlier day
    // that drags OLS barely moves this (invariant proven in TrendOpsSpec).
    // Engine parity: slopes are one integer-ratio division each (identical
    // IEEE doubles), and the median is picked POSITIONALLY (row_number to
    // the two middle ranks, averaged) — never percentile_cont, whose
    // interpolation conventions differ across engines. Scale shape: the
    // O(days²) pair join runs on the bounded (type × day) table, never on
    // raw events; n days → n(n-1)/2 pairs per type is a constant of the
    // calendar span, not the corpus.
    Q("ts9_theil_sen", (s, dir) => {
      val d = t(s, dir, "events")
        .groupBy(col("event_type"),
          datediff(to_date(col("ts")), to_date(lit("1970-01-01"))).as("d"))
        .agg(count(lit(1)).as("n"))
      val a = d.select(col("event_type"), col("d").as("d1"), col("n").as("n1"))
      val b = d.select(col("event_type"), col("d").as("d2"), col("n").as("n2"))
      val slopes = a.join(b, Seq("event_type")).filter(col("d1") < col("d2"))
        .select(col("event_type"),
          ((col("n2") - col("n1")).cast("double") /
            (col("d2") - col("d1")).cast("double")).as("slope"))
      val w = Window.partitionBy("event_type").orderBy("slope")
      slopes
        .withColumn("__rn", row_number().over(w))
        .withColumn("__m", count(lit(1)).over(
          Window.partitionBy("event_type")))
        .filter(col("__rn") === expr("(__m + 1) div 2") ||
          col("__rn") === expr("(__m + 2) div 2"))
        .groupBy("event_type")
        .agg(max(col("__m")).as("n_pairs"),
          round(avg(col("slope")), 6).as("ts_slope"))
        .orderBy("event_type")
    }, Some("""
      WITH d AS (
        SELECT event_type, CAST(ts AS DATE) - DATE '1970-01-01' AS d,
               CAST(count(*) AS BIGINT) AS n
        FROM events GROUP BY 1, 2),
      sl AS (
        SELECT a.event_type,
               CAST(b.n - a.n AS DOUBLE) / CAST(b.d - a.d AS DOUBLE) AS slope
        FROM d a JOIN d b ON a.event_type = b.event_type AND a.d < b.d),
      r AS (
        SELECT event_type, slope,
               row_number() OVER (PARTITION BY event_type ORDER BY slope) AS rn,
               count(*) OVER (PARTITION BY event_type) AS m
        FROM sl)
      SELECT event_type, max(m) AS n_pairs,
             round(avg(slope), 6) AS ts_slope
      FROM r
      WHERE rn = (m + 1) // 2 OR rn = (m + 2) // 2
      GROUP BY event_type ORDER BY event_type""")),

    // CS22 — one-pass higher-moment profile (skewness + excess kurtosis):
    // the mergeable power-sum form (Σq, Σq², Σq³, Σq⁴ in ONE aggregate) —
    // at 100 TB this replaces any sort- or percentile-based shape measure.
    // Engine parity discipline: values quantized to integer dollars
    // (floor), power sums kept EXACT past 2⁶³ (decimal(38,0) in Spark,
    // HUGEINT in DuckDB — q⁴ alone reaches ~1e23), each sum converted to
    // double ONCE, and the moment formulas written textually identically
    // on both sides; sqrt-based powers only (pow() is not
    // correctly-rounded and may differ across libm implementations).
    Q("cs22_moment_skewness", (s, dir) => {
      val q = floor(col("o_totalprice")).cast("long")
      t(s, dir, "orders").groupBy("o_orderpriority")
        .agg(count(lit(1)).as("n"),
          sum(q).cast("double").as("__s1"),
          sum((q * q).cast("decimal(38,0)")).cast("double").as("__s2"),
          sum((q * q * q).cast("decimal(38,0)")).cast("double").as("__s3"),
          sum((q * q).cast("decimal(38,0)") * (q * q)).cast("double")
            .as("__s4"))
        .withColumn("__mu", col("__s1") / col("n"))
        .withColumn("__m2",
          col("__s2") / col("n") - col("__mu") * col("__mu"))
        .withColumn("__m3",
          col("__s3") / col("n") - lit(3.0) * col("__mu") * (col("__s2") / col("n"))
            + lit(2.0) * col("__mu") * col("__mu") * col("__mu"))
        .withColumn("__m4",
          col("__s4") / col("n") - lit(4.0) * col("__mu") * (col("__s3") / col("n"))
            + lit(6.0) * col("__mu") * col("__mu") * (col("__s2") / col("n"))
            - lit(3.0) * col("__mu") * col("__mu") * col("__mu") * col("__mu"))
        .select(col("o_orderpriority"), col("n"),
          round(col("__mu"), 4).as("mean_usd"),
          round(col("__m3") / (col("__m2") * sqrt(col("__m2"))), 6)
            .as("skewness"),
          round(col("__m4") / (col("__m2") * col("__m2")) - 3.0, 6)
            .as("excess_kurtosis"))
        .orderBy("o_orderpriority")
    }, Some("""
      WITH a AS (
        SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n,
               CAST(sum(q) AS DOUBLE) AS s1,
               CAST(sum((q::HUGEINT) * q) AS DOUBLE) AS s2,
               CAST(sum((q::HUGEINT) * q * q) AS DOUBLE) AS s3,
               CAST(sum((q::HUGEINT) * q * q * q) AS DOUBLE) AS s4
        FROM (SELECT o_orderpriority,
                     CAST(floor(o_totalprice) AS BIGINT) AS q FROM orders)
        GROUP BY 1),
      m AS (
        SELECT o_orderpriority, n, s1 / n AS mu,
               s2 / n - (s1 / n) * (s1 / n) AS m2,
               s3 / n - 3.0 * (s1 / n) * (s2 / n)
                 + 2.0 * (s1 / n) * (s1 / n) * (s1 / n) AS m3,
               s4 / n - 4.0 * (s1 / n) * (s3 / n)
                 + 6.0 * (s1 / n) * (s1 / n) * (s2 / n)
                 - 3.0 * (s1 / n) * (s1 / n) * (s1 / n) * (s1 / n) AS m4
        FROM a)
      SELECT o_orderpriority, n, round(mu, 4) AS mean_usd,
             round(m3 / (m2 * sqrt(m2)), 6) AS skewness,
             round(m4 / (m2 * m2) - 3.0, 6) AS excess_kurtosis
      FROM m ORDER BY o_orderpriority""")),

    // MB3 — item-item co-occurrence cosine (the classic "bought together"
    // similarity): support counts from distinct (order, part) baskets,
    // cosine = c_ij / sqrt(c_i * c_j) as one float division over exact
    // integers. Scale shape: the pair join is keyed on the BASKET id, so
    // fan-out is Σ basket_size² (baskets are small by construction — ≤ 13
    // parts here, bounded by order size anywhere), never |items|².
    Q("mb3_item_cooccurrence", (s, dir) => {
      val b = t(s, dir, "lineitem")
        .select(col("l_orderkey").as("o"), col("l_partkey").as("p")).distinct()
        .localCheckpoint() // feeds item counts AND the pair join
      val ic = b.groupBy("p").agg(count(lit(1)).as("c"))
      val pairs = b.select(col("o"), col("p").as("pa"))
        .join(b.select(col("o"), col("p").as("pb")), "o")
        .filter(col("pa") < col("pb"))
        .groupBy("pa", "pb").agg(count(lit(1)).as("cij"))
        .filter(col("cij") >= 2)
      pairs
        .join(ic.select(col("p").as("pa"), col("c").as("ca")), "pa")
        .join(ic.select(col("p").as("pb"), col("c").as("cb")), "pb")
        .select(col("pa"), col("pb"), col("cij"),
          round(col("cij") / sqrt(col("ca") * col("cb")), 6).as("cosine"))
        .orderBy("pa", "pb")
    }, Some("""
      WITH b AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
      ic AS (SELECT p, count(*) AS c FROM b GROUP BY p),
      pairs AS (
        SELECT x.p AS pa, y.p AS pb, count(*) AS cij
        FROM b x JOIN b y ON x.o = y.o AND x.p < y.p
        GROUP BY 1, 2 HAVING count(*) >= 2)
      SELECT pa, pb, cij,
             round(cij / sqrt(ca.c * cb.c), 6) AS cosine
      FROM pairs JOIN ic ca ON ca.p = pa JOIN ic cb ON cb.p = pb
      ORDER BY pa, pb""")),

    // GR9 — neighbor-Jaccard link prediction on the hub-pruned subgraph
    // (gr4's synthetic doc graph and hub discipline, with the normalized
    // score Adamic–Adar lacks): nodes with degree outside [2, 64] are
    // removed FIRST, degrees and wedges are then self-consistent on the
    // core subgraph, and jaccard = common / (deg_a + deg_b - common) for
    // non-adjacent pairs with >= 2 common neighbors. The cap bounds the
    // wedge join at deg² per node BEFORE it runs — the same guard that
    // keeps gr4/dd10 off the skew cliff.
    Q("gr9_neighbor_jaccard", (s, dir) => {
      val sym = Components.docGraph(t(s, dir, "documents"))
      val core = sym.groupBy(col("a").as("z")).agg(count(lit(1)).as("d0"))
        .filter(col("d0") >= 2 && col("d0") <= 64).select("z")
      val edges = sym
        .join(core.select(col("z").as("a")), Seq("a"), "left_semi")
        .join(core.select(col("z").as("b")), Seq("b"), "left_semi")
        .select("a", "b")
        .localCheckpoint() // feeds degrees, wedges, adjacency
      val deg = edges.groupBy(col("a").as("z")).agg(count(lit(1)).as("d"))
      val l = edges.select(col("a").as("z"), col("b").as("pa"))
      val r = edges.select(col("a").as("z"), col("b").as("pb"))
      l.join(r, Seq("z")).filter(col("pa") < col("pb"))
        .groupBy("pa", "pb").agg(count(lit(1)).as("common"))
        .filter(col("common") >= 2)
        .join(edges.select(col("a").as("pa"), col("b").as("pb")),
          Seq("pa", "pb"), "left_anti")
        .join(deg.select(col("z").as("pa"), col("d").as("__da")), "pa")
        .join(deg.select(col("z").as("pb"), col("d").as("__db")), "pb")
        .select(col("pa"), col("pb"), col("common"),
          round(col("common") /
            (col("__da") + col("__db") - col("common")).cast("double"), 6)
            .as("jaccard"))
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
      core AS (SELECT u AS z FROM sym GROUP BY u
               HAVING count(*) >= 2 AND count(*) <= 64),
      edges AS (
        SELECT u, v FROM sym
        WHERE u IN (SELECT z FROM core) AND v IN (SELECT z FROM core)),
      deg AS (SELECT u AS z, count(*) AS d FROM edges GROUP BY u),
      wedge AS (
        SELECT a.v AS pa, b.v AS pb, count(*) AS common
        FROM edges a JOIN edges b ON a.u = b.u AND a.v < b.v
        GROUP BY 1, 2 HAVING count(*) >= 2),
      nonadj AS (
        SELECT w.* FROM wedge w
        LEFT JOIN edges e ON e.u = w.pa AND e.v = w.pb
        WHERE e.u IS NULL)
      SELECT pa, pb, common,
             round(common / CAST(da.d + db.d - common AS DOUBLE), 6) AS jaccard
      FROM nonadj JOIN deg da ON da.z = pa JOIN deg db ON db.z = pb
      ORDER BY pa, pb""")),

    // DD22 — EXACT prefix-filter set-similarity join (AllPairs/PPJoin):
    // every pair with shingle Jaccard >= 2/5, found through the lossless
    // rare-first prefix block (`Dedup.prefixFilterJaccardJoin`). The oracle
    // is the FULL brute-force pair set above the threshold — this grade is
    // a recall THEOREM check on the blocker, not a spot check: one missed
    // pair and the hash goes red. Output carries the exact integers
    // (shared, union_sz) only, so no engine-rounded float is graded.
    Q("dd22_prefix_filter_join", (s, dir) =>
      Dedup.prefixFilterJaccardJoin(t(s, dir, "documents"),
        "doc_id", "text", minNum = 2, minDen = 5)
        .orderBy("doc_a", "doc_b"),
      Some(s"""
      WITH ${LlmQueries.ShingleCte},
      cnt AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
      inter AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS shared
        FROM sh a JOIN sh b ON a.sh = b.sh AND a.doc_id < b.doc_id
        GROUP BY 1, 2)
      SELECT i.doc_a, i.doc_b, shared,
             ca.n + cb.n - shared AS union_sz
      FROM inter i JOIN cnt ca ON ca.doc_id = i.doc_a
                   JOIN cnt cb ON cb.doc_id = i.doc_b
      WHERE shared * 5 >= (ca.n + cb.n - shared) * 2
      ORDER BY doc_a, doc_b""")),

    // W15 — HLL rolling distinct (the sketch twin of w14): per-day HLL
    // sketches of the user set, merged over each 7-day window via
    // hll_union_agg — at 100 TB the per-day sketch table is kilobytes per
    // day and the rolling union never re-touches the corpus, which is the
    // production replacement for w14's exact explode. Graded ks4-style:
    // the graded columns are the EXACT wau7 and the in-band verdict
    // (sketch within 5% of exact), both engine-reproducible.
    Q("w15_rolling_hll_wau", (s, dir) => {
      val ud = t(s, dir, "events")
        .select(col("user_id"), to_date(col("ts")).as("day"))
      val daySk = ud.groupBy("day")
        .agg(expr("hll_sketch_agg(user_id)").as("sk"))
        .localCheckpoint() // feeds day list AND the explode
      val days = daySk.select("day")
      val est = daySk
        .select(col("sk"),
          explode(expr("sequence(day, date_add(day, 6))")).as("day"))
        .join(days, Seq("day"), "left_semi")
        .groupBy("day")
        .agg(expr("hll_sketch_estimate(hll_union_agg(sk))").as("__est"))
      val exact = ud.distinct()
        .select(col("user_id"),
          explode(expr("sequence(day, date_add(day, 6))")).as("day"))
        .join(days, Seq("day"), "left_semi")
        .groupBy("day").agg(countDistinct("user_id").as("wau7_exact"))
      exact.join(est, "day")
        .select(col("day"), col("wau7_exact"),
          (abs(col("__est") - col("wau7_exact")) / col("wau7_exact") < 0.05)
            .as("within_band"))
        .orderBy("day")
    }, Some("""
      WITH ud AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events),
      days AS (SELECT DISTINCT day FROM ud),
      wau AS (
        SELECT d.day, count(DISTINCT u.user_id) AS wau7_exact
        FROM days d JOIN ud u ON u.day BETWEEN d.day - 6 AND d.day
        GROUP BY 1)
      SELECT day, wau7_exact, TRUE AS within_band
      FROM wau ORDER BY day""")),

    // TS10 — seasonal-naive backtest: forecast each (type, day) count with
    // the value 7 days earlier, score MAE + sMAPE per type — the baseline
    // every fancier forecaster must beat, and the eval harness is the
    // operator. Engine parity: the error terms are integer |n−f| sums
    // (MAE is one division), and each sMAPE term is quantized to a
    // 1e9-scaled integer BEFORE summation (ml7's discipline) so the
    // per-type sum is immune to float summation order. Scale shape: one
    // day-grain aggregate + a self-join on the bounded (type, day) table.
    Q("ts10_seasonal_backtest", (s, dir) => {
      val d = t(s, dir, "events")
        .groupBy(col("event_type"),
          datediff(to_date(col("ts")), to_date(lit("1970-01-01"))).as("d"))
        .agg(count(lit(1)).as("n"))
      val f = d.select(col("event_type"), (col("d") + 7).as("d"),
        col("n").as("__f"))
      d.join(f, Seq("event_type", "d"))
        .select(col("event_type"), col("n"), col("__f"),
          abs(col("n") - col("__f")).as("__ad"),
          floor(lit(2.0e9) * abs(col("n") - col("__f")) /
            (col("n") + col("__f"))).cast("long").as("__sq"))
        .groupBy("event_type")
        .agg(count(lit(1)).as("n_eval"),
          round(sum(col("__ad")) / count(lit(1)).cast("double"), 4).as("mae"),
          round(sum(col("__sq")) / 1.0e9 / count(lit(1)), 6).as("smape"))
        .orderBy("event_type")
    }, Some("""
      WITH d AS (
        SELECT event_type, CAST(ts AS DATE) - DATE '1970-01-01' AS d,
               CAST(count(*) AS BIGINT) AS n
        FROM events GROUP BY 1, 2),
      j AS (
        SELECT a.event_type, a.n, f.n AS f,
               abs(a.n - f.n) AS ad,
               CAST(floor(2.0e9 * abs(a.n - f.n) / (a.n + f.n)) AS BIGINT)
                 AS sq
        FROM d a JOIN d f ON a.event_type = f.event_type AND a.d = f.d + 7)
      SELECT event_type, count(*) AS n_eval,
             round(sum(ad) / CAST(count(*) AS DOUBLE), 4) AS mae,
             round(sum(sq) / 1.0e9 / count(*), 6) AS smape
      FROM j GROUP BY event_type ORDER BY event_type""")),

    // GR10 — local clustering coefficient on the doc graph: per node,
    // 2·triangles / (deg·(deg−1)) — how close the neighborhood is to a
    // clique, the per-node refinement of gr1's global count and gr5's
    // modularity. Triangle counts come from the degree-ORIENTED wedge
    // join (`Triangles.trianglesPerNode` — O(E^1.5) worst case, hub-proof
    // by the Suri–Vassilvitskii argument), then one join against the
    // bounded node-degree table; coefficient is a single float division
    // over exact integers.
    Q("gr10_clustering_coefficient", (s, dir) => {
      val sym = Components.docGraph(t(s, dir, "documents"))
        .localCheckpoint() // feeds degrees AND the edge list
      val und = sym.filter(col("a") < col("b"))
        .select(col("a").as("u"), col("b").as("v"))
      val tri = Triangles.trianglesPerNode(und)
      sym.groupBy(col("a").as("node")).agg(count(lit(1)).as("deg"))
        .filter(col("deg") >= 2)
        .join(tri, Seq("node"), "left")
        .select(col("node"), col("deg"),
          coalesce(col("n_tri"), lit(0L)).as("n_tri"),
          round(lit(2.0) * coalesce(col("n_tri"), lit(0L)) /
            (col("deg") * (col("deg") - 1)).cast("double"), 6).as("cc"))
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
      und AS (SELECT u AS a, v AS b FROM sym WHERE u < v),
      deg AS (SELECT node, count(*) AS deg FROM (
        SELECT a AS node FROM und UNION ALL SELECT b FROM und) GROUP BY 1),
      ori AS (
        SELECT CASE WHEN da.deg < db.deg OR (da.deg = db.deg AND u.a < u.b)
                    THEN u.a ELSE u.b END AS src,
               CASE WHEN da.deg < db.deg OR (da.deg = db.deg AND u.a < u.b)
                    THEN u.b ELSE u.a END AS dst
        FROM und u JOIN deg da ON u.a = da.node JOIN deg db ON u.b = db.node),
      wed AS (
        SELECT e1.src, e1.dst AS x, e2.dst AS y
        FROM ori e1 JOIN ori e2 USING (src) WHERE e1.dst < e2.dst),
      clo AS (SELECT least(src, dst) AS x, greatest(src, dst) AS y FROM ori),
      tris AS (SELECT w.src, w.x, w.y FROM wed w JOIN clo USING (x, y)),
      pern AS (
        SELECT t.node, count(*) AS n_tri
        FROM tris, UNNEST([src, x, y]) AS t(node) GROUP BY 1)
      SELECT d.node, d.deg,
             CAST(coalesce(p.n_tri, 0) AS BIGINT) AS n_tri,
             round(2.0 * coalesce(p.n_tri, 0)
                   / CAST(d.deg * (d.deg - 1) AS DOUBLE), 6) AS cc
      FROM deg d LEFT JOIN pern p USING (node)
      WHERE d.deg >= 2
      ORDER BY d.node""")),

    // DD23 — blocking-quality audit: the two numbers that justify ANY
    // blocking scheme — pair completeness (recall of true pairs) and
    // reduction ratio (fraction of the n² pair space never generated) —
    // measured for the dd2 MinHash-LSH blocker against EXACT ground truth
    // from the lossless prefix-filter join (dd22). This is the audit that
    // says "4 bands at τ=0.4 keeps X% of true dups while doing 1e-5 of
    // the work"; at 100 TB both inputs stay bucketed (truth via prefix
    // tokens, candidates via band signatures) and the metrics are three
    // 1-row aggregates.
    Q("dd23_blocking_quality", (s, dir) => {
      val docs = t(s, dir, "documents")
      // r15 note (VERDICT r14 item 2, tried and MEASURED OUT): deriving
      // both arms from ONE checkpointed shingle-text frame saves the
      // blocker's tokenize pass but materializes the shingle STRINGS to
      // block storage, whose write+read cost exceeded the saved pass at
      // sf0.1 (same-window full tier read 1.12× vs this shape's 0.88×-
      // class siblings). Kept: each arm builds its own frame — the truth
      // arm checkpoints only the 16-byte hashed currency inside
      // prefixFilterJaccardJoin, the blocker's text shingles feed the
      // signature aggregate without ever being stored.
      val truth = Dedup.prefixFilterJaccardJoin(docs, "doc_id", "text", 2, 5)
        .select("doc_a", "doc_b")
        .localCheckpoint() // counted AND intersected below
      val sh = Dedup.shingleSet(docs, "doc_id", "text")
      val cand = Dedup.lshCandidatePairs(
        Dedup.minhashSignatures(sh, "doc_id", bands = 4), "doc_id")
        .localCheckpoint()
      val nDocs = docs.agg(count(lit(1)).as("n_docs"))
      val nTrue = truth.agg(count(lit(1)).as("n_true"))
      val nCand = cand.agg(count(lit(1)).as("n_cand"))
      val nFound = truth.join(cand, Seq("doc_a", "doc_b"))
        .agg(count(lit(1)).as("n_found"))
      nDocs.crossJoin(broadcast(nTrue)).crossJoin(broadcast(nCand))
        .crossJoin(broadcast(nFound))
        .select(col("n_docs"), col("n_true"), col("n_cand"), col("n_found"),
          round(col("n_found") / col("n_true").cast("double"), 6)
            .as("pair_completeness"),
          round(lit(1.0) - col("n_cand") /
            expr("CAST(n_docs * (n_docs - 1) div 2 AS DOUBLE)"), 6)
            .as("reduction_ratio"))
    }, Some(s"""
      WITH ${LlmQueries.ShingleCte},
      cnt AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
      inter AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS shared
        FROM sh a JOIN sh b ON a.sh = b.sh AND a.doc_id < b.doc_id
        GROUP BY 1, 2),
      truth AS (
        SELECT i.doc_a, i.doc_b
        FROM inter i JOIN cnt ca ON ca.doc_id = i.doc_a
                     JOIN cnt cb ON cb.doc_id = i.doc_b
        WHERE shared * 5 >= (ca.n + cb.n - shared) * 2),
      sig AS (
        SELECT doc_id, band, min(substr(md5(sh), band * 8 + 1, 8)) AS mh
        FROM sh, UNNEST([0, 1, 2, 3]) AS b(band)
        GROUP BY doc_id, band),
      cand AS (
        SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM sig a JOIN sig b ON a.band = b.band AND a.mh = b.mh
                   AND a.doc_id < b.doc_id),
      nums AS (
        SELECT (SELECT count(*) FROM documents) AS nd,
               (SELECT count(*) FROM truth) AS nt,
               (SELECT count(*) FROM cand) AS nc,
               (SELECT count(*) FROM truth t JOIN cand c
                  ON t.doc_a = c.doc_a AND t.doc_b = c.doc_b) AS nf)
      SELECT nd AS n_docs, nt AS n_true, nc AS n_cand, nf AS n_found,
             round(nf / CAST(nt AS DOUBLE), 6) AS pair_completeness,
             round(1.0 - nc / CAST(nd * (nd - 1) // 2 AS DOUBLE), 6)
               AS reduction_ratio
      FROM nums""")),

    // GR11 — degree assortativity (Newman): Pearson correlation of the
    // endpoint degrees over the directed form of the doc graph (each
    // undirected edge contributes both directions, the standard
    // convention). All five correlation sums are exact integers (degrees
    // are small, products fit long); the coefficient is ONE identically
    // written float expression. Negative r = hub-to-leaf wiring
    // (disassortative), the expected shape for this divisor graph.
    Q("gr11_degree_assortativity", (s, dir) => {
      val sym = Components.docGraph(t(s, dir, "documents"))
        .localCheckpoint() // feeds degrees AND the edge scan
      val deg = sym.groupBy(col("a").as("z")).agg(count(lit(1)).as("d"))
      sym
        .join(deg.select(col("z").as("a"), col("d").as("__x")), "a")
        .join(deg.select(col("z").as("b"), col("d").as("__y")), "b")
        .agg(count(lit(1)).as("n_edges"),
          sum(col("__x")).cast("double").as("__sx"),
          sum(col("__y")).cast("double").as("__sy"),
          sum(col("__x") * col("__y")).cast("double").as("__sxy"),
          sum(col("__x") * col("__x")).cast("double").as("__sxx"),
          sum(col("__y") * col("__y")).cast("double").as("__syy"))
        .select(col("n_edges"),
          round((col("n_edges") * col("__sxy") - col("__sx") * col("__sy")) /
            (sqrt(col("n_edges") * col("__sxx") - col("__sx") * col("__sx")) *
             sqrt(col("n_edges") * col("__syy") - col("__sy") * col("__sy"))),
            6).as("assortativity"))
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
      deg AS (SELECT u AS z, count(*) AS d FROM sym GROUP BY u),
      a AS (
        SELECT CAST(count(*) AS BIGINT) AS n_edges,
               CAST(sum(da.d) AS DOUBLE) AS sx,
               CAST(sum(db.d) AS DOUBLE) AS sy,
               CAST(sum(da.d * db.d) AS DOUBLE) AS sxy,
               CAST(sum(da.d * da.d) AS DOUBLE) AS sxx,
               CAST(sum(db.d * db.d) AS DOUBLE) AS syy
        FROM sym JOIN deg da ON da.z = sym.u JOIN deg db ON db.z = sym.v)
      SELECT n_edges,
             round((n_edges * sxy - sx * sy) /
                   (sqrt(n_edges * sxx - sx * sx) *
                    sqrt(n_edges * syy - sy * sy)), 6) AS assortativity
      FROM a""")),

    // J12 — temporal ABSENCE anti-join: views NOT followed by a purchase
    // from the same user within 7 days — at1's last-touch attribution
    // mirrored into negative space (abandonment). The next-purchase
    // timestamp is ONE conditional forward-min window per user (w11's
    // reverse-min trick, forward) — no per-view join, no range join; the
    // 7-day horizon is exact timestamp-interval arithmetic on both
    // engines. Output at day grain.
    Q("j12_view_abandonment", (s, dir) => {
      val w = Window.partitionBy("user_id")
        .orderBy(col("ts"), col("event_id"))
        .rowsBetween(1, Window.unboundedFollowing)
      t(s, dir, "events")
        .withColumn("__np",
          min(when(col("event_type") === "purchase", col("ts"))).over(w))
        .filter(col("event_type") === "view")
        .withColumn("__conv",
          col("__np").isNotNull &&
            col("__np") <= col("ts") + expr("INTERVAL 7 DAYS"))
        .groupBy(to_date(col("ts")).as("day"))
        .agg(count(lit(1)).as("n_views"),
          sum(when(col("__conv"), 1L).otherwise(0L)).as("n_converted"),
          round(sum(when(col("__conv"), 1L).otherwise(0L)) /
            count(lit(1)).cast("double"), 4).as("conversion_rate"))
        .orderBy("day")
    }, Some("""
      WITH np AS (
        SELECT *, min(CASE WHEN event_type = 'purchase' THEN ts END)
                 OVER (PARTITION BY user_id ORDER BY ts, event_id
                       ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING)
               AS np
        FROM events),
      v AS (
        SELECT CAST(ts AS DATE) AS day,
               CASE WHEN np IS NOT NULL AND np <= ts + INTERVAL 7 DAY
                    THEN 1 ELSE 0 END AS conv
        FROM np WHERE event_type = 'view')
      SELECT day, count(*) AS n_views,
             CAST(sum(conv) AS BIGINT) AS n_converted,
             round(sum(conv) / CAST(count(*) AS DOUBLE), 4)
               AS conversion_rate
      FROM v GROUP BY day ORDER BY day""")),

    // K17 — incremental CDC merge invariance: applying the seq-1 batch
    // then the seq-2 batch through `LoadOps.cdcMerge` must land on the
    // SAME state as one merge of the full feed — the replay/exactly-once
    // algebra a streaming foreachBatch sink relies on (StreamingSpec runs
    // the live micro-batch form; this grades the end state value-level
    // against the one-shot oracle). Fixture reuses k14's derived feed so
    // the two queries differ ONLY in merge composition.
    Q("k17_cdc_merge_incremental", (s, dir) => {
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
      val batch1 = u1.unionByName(d1).unionByName(i1)
      val after1 = graft.operators.LoadOps.cdcMerge(base, batch1,
        "o_orderkey", "seq", "op", Seq("o_orderstatus", "o_totalprice"))
      graft.operators.LoadOps.cdcMerge(after1, u2,
        "o_orderkey", "seq", "op", Seq("o_orderstatus", "o_totalprice"))
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

    // IX4 — Dirichlet-smoothed query-likelihood retrieval (the language-
    // model scoring that complements ix3's BM25): score(d) = Σ_t
    // ln((tf + μ·cf(t)/T) / (len_d + μ)), μ = 2000, over ALL docs (a
    // missing term still contributes its smoothed background mass — the
    // grid is docs × |q| with |q| = 3). Per-term scores are quantized to
    // 1e6-scaled integers BEFORE the sum (ml7's discipline), so ranking
    // and top-k ties are integer-deterministic. Scale shape: tf postings
    // for 3 terms + a 1-row (T) broadcast; the docs×terms grid is 3 rows
    // per doc.
    Q("ix4_lm_retrieval", (s, dir) => {
      val terms = Seq("spark", "shuffle", "broadcast")
      val toks = t(s, dir, "documents")
        .select(col("doc_id"), explode(Dedup.tokens(col("text"))).as("term"))
        .localCheckpoint() // feeds lens, cf, tf
      val lens = toks.groupBy("doc_id").agg(count(lit(1)).as("len"))
      val total = toks.agg(count(lit(1)).as("__T"))
      val cf = toks.filter(col("term").isin(terms: _*))
        .groupBy("term").agg(count(lit(1)).as("cf"))
      val tf = toks.filter(col("term").isin(terms: _*))
        .groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
      val grid = lens.crossJoin(broadcast(
          cf.crossJoin(broadcast(total))))
        .join(tf, Seq("doc_id", "term"), "left")
        .withColumn("__tf", coalesce(col("tf"), lit(0L)))
      grid
        .withColumn("__q", floor(lit(1.0e6) *
          log((col("__tf") + lit(2000.0) * col("cf") / col("__T")) /
            (col("len") + lit(2000.0)))).cast("long"))
        .groupBy("doc_id").agg(sum(col("__q")).as("__sq"))
        .select(col("doc_id"), round(col("__sq") / 1.0e6, 6).as("score"))
        .orderBy(col("__sq").desc, col("doc_id")).limit(10)
    }, Some("""
      WITH toks AS (
        SELECT doc_id, unnest(string_split(text, ' ')) AS term
        FROM documents),
      lens AS (SELECT doc_id, count(*) AS len FROM toks GROUP BY doc_id),
      tot AS (SELECT count(*) AS t FROM toks),
      cf AS (SELECT term, count(*) AS cf FROM toks
             WHERE term IN ('spark', 'shuffle', 'broadcast') GROUP BY term),
      tf AS (SELECT doc_id, term, count(*) AS tf FROM toks
             WHERE term IN ('spark', 'shuffle', 'broadcast')
             GROUP BY doc_id, term),
      grid AS (
        SELECT lens.doc_id, lens.len, cf.term, cf.cf, tot.t,
               coalesce(tf.tf, 0) AS tfv
        FROM lens CROSS JOIN cf CROSS JOIN tot
        LEFT JOIN tf ON tf.doc_id = lens.doc_id AND tf.term = cf.term),
      q AS (
        SELECT doc_id,
               CAST(floor(1.0e6 *
                 ln((tfv + 2000.0 * cf / t) / (len + 2000.0))) AS BIGINT)
                 AS qv
        FROM grid),
      sc AS (SELECT doc_id, sum(qv) AS sq FROM q GROUP BY doc_id)
      SELECT doc_id, round(sq / 1.0e6, 6) AS score
      FROM sc ORDER BY sq DESC, doc_id LIMIT 10""")),

    // SA12 — temporal split with an embargo gap: train strictly before the
    // cutoff, test strictly after cutoff+embargo, the gap discarded — the
    // standard guard against look-ahead leakage in time-series training
    // (the embargo absorbs horizon-h label windows that straddle the
    // cutoff). The report is ONE user-grain aggregate folded into ONE
    // global row — event counts, distinct users per side, and the
    // user-overlap rate (how much of test behavior is from users the
    // model already saw — entity leakage, quantified, not hidden).
    Q("sa12_temporal_split_embargo", (s, dir) => {
      val d = t(s, dir, "events")
        .select(col("user_id"), to_date(col("ts")).as("day"))
      val u = d.groupBy("user_id").agg(
        sum(when(col("day") <= lit("2024-01-19"), 1L).otherwise(0L))
          .as("__tr"),
        sum(when(col("day") >= lit("2024-01-23"), 1L).otherwise(0L))
          .as("__te"),
        sum(when(col("day") > lit("2024-01-19") &&
          col("day") < lit("2024-01-23"), 1L).otherwise(0L)).as("__em"))
      u.agg(
        sum(col("__tr")).as("n_train_events"),
        sum(col("__te")).as("n_test_events"),
        sum(col("__em")).as("n_embargoed_events"),
        sum(when(col("__tr") > 0, 1L).otherwise(0L)).as("n_train_users"),
        sum(when(col("__te") > 0, 1L).otherwise(0L)).as("n_test_users"),
        sum(when(col("__tr") > 0 && col("__te") > 0, 1L).otherwise(0L))
          .as("n_overlap_users"))
        .withColumn("overlap_rate",
          round(col("n_overlap_users") / col("n_test_users").cast("double"),
            4))
    }, Some("""
      WITH d AS (SELECT user_id, CAST(ts AS DATE) AS day FROM events),
      u AS (
        SELECT user_id,
               sum(CASE WHEN day <= DATE '2024-01-19' THEN 1 ELSE 0 END) AS tr,
               sum(CASE WHEN day >= DATE '2024-01-23' THEN 1 ELSE 0 END) AS te,
               sum(CASE WHEN day > DATE '2024-01-19'
                         AND day < DATE '2024-01-23' THEN 1 ELSE 0 END) AS em
        FROM d GROUP BY user_id)
      SELECT CAST(sum(tr) AS BIGINT) AS n_train_events,
             CAST(sum(te) AS BIGINT) AS n_test_events,
             CAST(sum(em) AS BIGINT) AS n_embargoed_events,
             CAST(sum(CASE WHEN tr > 0 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_train_users,
             CAST(sum(CASE WHEN te > 0 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_test_users,
             CAST(sum(CASE WHEN tr > 0 AND te > 0 THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_overlap_users,
             round(sum(CASE WHEN tr > 0 AND te > 0 THEN 1 ELSE 0 END)
                   / CAST(sum(CASE WHEN te > 0 THEN 1 ELSE 0 END) AS DOUBLE),
                   4) AS overlap_rate
      FROM u""")),

    // OL3 — Hampel filter repair: each (type, day) count scored against
    // the MEDIAN and MAD of its centered 7-day window (both POSITIONAL
    // over the sorted frame array — integer-exact, no percentile
    // interpolation anywhere); outliers (|x − med| > 3·1.4826·MAD,
    // compared as 10000·|x−med| > 44478·MAD in pure integers) are
    // repaired to the window median. The robust cousin of ts8's z-score
    // (one wild day inflates a stddev but barely moves a median). Windows
    // run on the bounded (type, day) table only.
    Q("ol3_hampel_repair", (s, dir) => {
      val w = Window.partitionBy("event_type").orderBy("day")
        .rowsBetween(-3, 3)
      t(s, dir, "events")
        .groupBy(col("event_type"), to_date(col("ts")).as("day"))
        .agg(count(lit(1)).as("n"))
        .withColumn("__win", sort_array(collect_list(col("n")).over(w)))
        .filter(size(col("__win")) === 7)
        .withColumn("med", element_at(col("__win"), 4))
        .withColumn("mad", element_at(
          sort_array(transform(col("__win"),
            v => abs(v - element_at(col("__win"), 4)))), 4))
        .withColumn("is_outlier",
          abs(col("n") - col("med")) * 10000 > col("mad") * 44478)
        .select(col("event_type"), col("day"), col("n"), col("med"),
          col("mad"), col("is_outlier"),
          when(col("is_outlier"), col("med")).otherwise(col("n"))
            .as("repaired"))
        .orderBy("event_type", "day")
    }, Some("""
      WITH d AS (
        SELECT event_type, CAST(ts AS DATE) AS day,
               CAST(count(*) AS BIGINT) AS n
        FROM events GROUP BY 1, 2),
      w AS (
        SELECT event_type, day, n,
               list_sort(list(n) OVER (PARTITION BY event_type ORDER BY day
                 ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)) AS win
        FROM d),
      f AS (SELECT * FROM w WHERE len(win) = 7),
      m AS (SELECT *, win[4] AS med FROM f),
      md AS (
        SELECT *, list_sort(list_transform(win, v -> abs(v - med)))[4] AS mad
        FROM m)
      SELECT event_type, day, n, med, mad,
             abs(n - med) * 10000 > mad * 44478 AS is_outlier,
             CASE WHEN abs(n - med) * 10000 > mad * 44478
                  THEN med ELSE n END AS repaired
      FROM md ORDER BY event_type, day""")),

    // EMB2 — embedding-space cosine histogram: the geometry health check
    // run before trusting ANY ANN index — pairwise cosine of 20 fixed
    // probes against the corpus, binned at 0.05 (floor(20·cos), exact
    // integer keys). A healthy space is spread; a collapsed (anisotropic)
    // one piles into the top bins and ANN recall claims become
    // meaningless. Dot products ride the native codegen'd vec expressions
    // in ONE deterministic fold order — the same order DuckDB's list_sum
    // replays, the sim1 parity idiom. Probe side is a bounded 20-row
    // broadcast; work is 20 × corpus, linear.
    Q("emb2_cosine_histogram", (s, dir) => {
      val e = t(s, dir, "embeddings")
        .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      val probes = e.filter(col("vec_id") < 20)
        .select(col("vec_id").as("__pid"), col("v").as("qv"))
      e.crossJoin(broadcast(probes))
        .filter(col("vec_id") =!= col("__pid"))
        .select(floor(graft.operators.Similarity.cosine(col("v"), col("qv"))
          * 20).cast("long").as("bin"))
        .groupBy("bin").agg(count(lit(1)).as("n_pairs"))
        .orderBy("bin")
    }, Some("""
      WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
                 FROM embeddings),
      p AS (SELECT vec_id AS pid, v AS qv FROM e WHERE vec_id < 20),
      c AS (
        SELECT CAST(floor(
                 list_sum(list_transform(generate_series(1, len(v)),
                   i -> v[i] * qv[i]))
                 / (sqrt(list_sum(list_transform(v, x -> x * x)))
                    * sqrt(list_sum(list_transform(qv, x -> x * x))))
                 * 20) AS BIGINT) AS bin
        FROM e, p WHERE vec_id <> pid)
      SELECT bin, count(*) AS n_pairs FROM c GROUP BY bin ORDER BY bin""")),

    // W16 — quantile (decile) feature binning per source: each doc's
    // n_chars mapped to its within-source decile by POSITION — rank and
    // decile are pure integer arithmetic over a (n_chars, doc_id) total
    // order, so there is no percentile interpolation and ties are broken
    // identically on both engines. Output is the bounded
    // (source × decile) profile a feature store would publish; the only
    // corpus-sized work is the per-source rank window.
    Q("w16_quantile_features", (s, dir) => {
      val w = Window.partitionBy("source")
        .orderBy(col("n_chars"), col("doc_id"))
      t(s, dir, "documents")
        .select(col("source"), col("doc_id"), col("n_chars"))
        .withColumn("__rn", row_number().over(w))
        .withColumn("__cnt",
          count(lit(1)).over(Window.partitionBy("source")))
        .withColumn("decile", expr("((__rn - 1) * 10) div __cnt"))
        .groupBy("source", "decile")
        .agg(count(lit(1)).as("n_docs"),
          min("n_chars").as("lo_chars"), max("n_chars").as("hi_chars"))
        .orderBy("source", "decile")
    }, Some("""
      WITH r AS (
        SELECT source, doc_id, n_chars,
               row_number() OVER (PARTITION BY source
                                  ORDER BY n_chars, doc_id) AS rn,
               count(*) OVER (PARTITION BY source) AS cnt
        FROM documents)
      SELECT source, (rn - 1) * 10 // cnt AS decile,
             count(*) AS n_docs,
             min(n_chars) AS lo_chars, max(n_chars) AS hi_chars
      FROM r GROUP BY 1, 2 ORDER BY 1, 2""")),

    // ML9 — rank-based AUC (Mann–Whitney U with midranks): how well
    // n_chars separates English docs from the rest, as the exact
    // probability a random positive outranks a random negative. The
    // entire statistic is INTEGER arithmetic until one final division:
    // midranks enter as 2·midrank = 2·cum_before + count + 1 (ties never
    // produce a fraction), so AUC = (2·R⁺ − n⁺(n⁺+1)) / (2·n⁺·n⁻) is
    // engine-exact. Scale shape: one groupBy collapses the corpus to the
    // bounded distinct-score table; the only global window (the rank
    // cumsum) runs there.
    Q("ml9_rank_auc", (s, dir) => {
      val g = t(s, dir, "documents")
        .groupBy(col("n_chars").as("score"))
        .agg(count(lit(1)).as("c"),
          sum(when(col("lang") === "en", 1L).otherwise(0L)).as("cp"))
      val w = Window.orderBy("score")
        .rowsBetween(Window.unboundedPreceding, -1)
      g.withColumn("__cb", coalesce(sum(col("c")).over(w), lit(0L)))
        .agg(
          sum(col("cp")).as("n_pos"),
          sum(col("c") - col("cp")).as("n_neg"),
          sum(col("cp") * (lit(2) * col("__cb") + col("c") + 1)).as("__r2"))
        .select(col("n_pos"), col("n_neg"),
          round((col("__r2") - col("n_pos") * (col("n_pos") + 1)) /
            (lit(2.0) * col("n_pos") * col("n_neg")), 6).as("auc"))
    }, Some("""
      WITH g AS (
        SELECT n_chars AS score, CAST(count(*) AS BIGINT) AS c,
               CAST(sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS BIGINT)
                 AS cp
        FROM documents GROUP BY 1),
      r AS (
        SELECT *, coalesce(sum(c) OVER (ORDER BY score
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cb
        FROM g),
      a AS (
        SELECT CAST(sum(cp) AS BIGINT) AS n_pos,
               CAST(sum(c - cp) AS BIGINT) AS n_neg,
               CAST(sum(cp * (2 * cb + c + 1)) AS BIGINT) AS r2
        FROM r)
      SELECT n_pos, n_neg,
             round((r2 - n_pos * (n_pos + 1)) / (2.0 * n_pos * n_neg), 6)
               AS auc
      FROM a""")),

    // K18 — snapshot column-drift audit: the stats monitor a warehouse
    // runs between two loads — per column, row count, null count, and
    // exact distinct cardinality for the pre-1998 vs post-1998 snapshot,
    // with null-rate and cardinality-rate drifts as the alert columns.
    // Complements cs6 (one-snapshot profile) and k12 (row-level diff):
    // this is the SCHEMA-level diff that catches a broken upstream
    // extractor (nulls spike, enum collapses) without comparing a single
    // row. One conditional aggregate per snapshot side, melted via stack.
    Q("k18_column_drift_audit", (s, dir) => {
      val o = t(s, dir, "orders")
        .withColumn("__new", to_date(col("o_orderdate")) >= lit("1998-01-01"))
      val a = o.agg(
        sum(when(!col("__new"), 1L).otherwise(0L)).as("na"),
        sum(when(col("__new"), 1L).otherwise(0L)).as("nb"),
        sum(when(!col("__new") && col("o_orderstatus").isNull, 1L)
          .otherwise(0L)).as("nulla_st"),
        sum(when(col("__new") && col("o_orderstatus").isNull, 1L)
          .otherwise(0L)).as("nullb_st"),
        countDistinct(when(!col("__new"), col("o_orderstatus"))).as("da_st"),
        countDistinct(when(col("__new"), col("o_orderstatus"))).as("db_st"),
        sum(when(!col("__new") && col("o_custkey").isNull, 1L).otherwise(0L))
          .as("nulla_ck"),
        sum(when(col("__new") && col("o_custkey").isNull, 1L).otherwise(0L))
          .as("nullb_ck"),
        countDistinct(when(!col("__new"), col("o_custkey"))).as("da_ck"),
        countDistinct(when(col("__new"), col("o_custkey"))).as("db_ck"),
        sum(when(!col("__new") && col("o_totalprice").isNull, 1L)
          .otherwise(0L)).as("nulla_tp"),
        sum(when(col("__new") && col("o_totalprice").isNull, 1L)
          .otherwise(0L)).as("nullb_tp"),
        countDistinct(when(!col("__new"), col("o_totalprice"))).as("da_tp"),
        countDistinct(when(col("__new"), col("o_totalprice"))).as("db_tp"))
      a.select(expr("""stack(3,
          'o_orderstatus', na, nb, nulla_st, nullb_st, da_st, db_st,
          'o_custkey',     na, nb, nulla_ck, nullb_ck, da_ck, db_ck,
          'o_totalprice',  na, nb, nulla_tp, nullb_tp, da_tp, db_tp)
          AS (column_name, n_old, n_new, null_old, null_new,
              distinct_old, distinct_new)"""))
        .withColumn("null_rate_drift",
          round(abs(col("null_new") / col("n_new").cast("double") -
            col("null_old") / col("n_old").cast("double")), 6))
        .withColumn("cardinality_drift",
          round(abs(col("distinct_new") / col("n_new").cast("double") -
            col("distinct_old") / col("n_old").cast("double")), 6))
        .orderBy("column_name")
    }, Some("""
      WITH o AS (
        SELECT *, CAST(o_orderdate AS DATE) >= DATE '1998-01-01' AS nw
        FROM orders),
      a AS (
        SELECT
          CAST(sum(CASE WHEN NOT nw THEN 1 ELSE 0 END) AS BIGINT) AS na,
          CAST(sum(CASE WHEN nw THEN 1 ELSE 0 END) AS BIGINT) AS nb,
          CAST(sum(CASE WHEN NOT nw AND o_orderstatus IS NULL THEN 1 ELSE 0
            END) AS BIGINT) AS nulla_st,
          CAST(sum(CASE WHEN nw AND o_orderstatus IS NULL THEN 1 ELSE 0
            END) AS BIGINT) AS nullb_st,
          CAST(count(DISTINCT CASE WHEN NOT nw THEN o_orderstatus END)
            AS BIGINT) AS da_st,
          CAST(count(DISTINCT CASE WHEN nw THEN o_orderstatus END)
            AS BIGINT) AS db_st,
          CAST(sum(CASE WHEN NOT nw AND o_custkey IS NULL THEN 1 ELSE 0
            END) AS BIGINT) AS nulla_ck,
          CAST(sum(CASE WHEN nw AND o_custkey IS NULL THEN 1 ELSE 0
            END) AS BIGINT) AS nullb_ck,
          CAST(count(DISTINCT CASE WHEN NOT nw THEN o_custkey END)
            AS BIGINT) AS da_ck,
          CAST(count(DISTINCT CASE WHEN nw THEN o_custkey END)
            AS BIGINT) AS db_ck,
          CAST(sum(CASE WHEN NOT nw AND o_totalprice IS NULL THEN 1 ELSE 0
            END) AS BIGINT) AS nulla_tp,
          CAST(sum(CASE WHEN nw AND o_totalprice IS NULL THEN 1 ELSE 0
            END) AS BIGINT) AS nullb_tp,
          CAST(count(DISTINCT CASE WHEN NOT nw THEN o_totalprice END)
            AS BIGINT) AS da_tp,
          CAST(count(DISTINCT CASE WHEN nw THEN o_totalprice END)
            AS BIGINT) AS db_tp
        FROM o),
      m AS (
        SELECT 'o_orderstatus' AS column_name, na AS n_old, nb AS n_new,
               nulla_st AS null_old, nullb_st AS null_new,
               da_st AS distinct_old, db_st AS distinct_new FROM a
        UNION ALL
        SELECT 'o_custkey', na, nb, nulla_ck, nullb_ck, da_ck, db_ck FROM a
        UNION ALL
        SELECT 'o_totalprice', na, nb, nulla_tp, nullb_tp, da_tp, db_tp
        FROM a)
      SELECT column_name, n_old, n_new, null_old, null_new,
             distinct_old, distinct_new,
             round(abs(null_new / CAST(n_new AS DOUBLE)
                       - null_old / CAST(n_old AS DOUBLE)), 6)
               AS null_rate_drift,
             round(abs(distinct_new / CAST(n_new AS DOUBLE)
                       - distinct_old / CAST(n_old AS DOUBLE)), 6)
               AS cardinality_drift
      FROM m ORDER BY column_name""")),

    // PIPE11 — leakage-safe temporal target encoding: the encoding table
    // (per-priority smoothed mean of floor-cent totals, prior m = 100) is
    // fit on the TRAIN years only (< 1998) and APPLIED to the post-1998
    // test rows — the deploy-time composition of sa12's split discipline
    // with ml6's encoder, proving the feature pipeline never reads test
    // labels. Integer-cent sums throughout; the graded report compares the
    // train-fit encoding to the realized test mean per category (the
    // drift a stale encoder shows in production).
    Q("pipe11_temporal_target_encoding", (s, dir) => {
      val o = t(s, dir, "orders").select(col("o_orderpriority"),
        to_date(col("o_orderdate")).as("d"),
        floor(col("o_totalprice") * 100).cast("long").as("cents"))
      val train = o.filter(col("d") < lit("1998-01-01"))
      val test = o.filter(col("d") >= lit("1998-01-01"))
      val prior = train.agg(sum("cents").as("__gs"), count(lit(1)).as("__gn"))
      val enc = train.groupBy("o_orderpriority")
        .agg(sum("cents").as("__s"), count(lit(1)).as("__n"))
        .crossJoin(broadcast(prior))
        .select(col("o_orderpriority"),
          ((col("__s") + lit(100.0) * (col("__gs") / col("__gn"))) /
            (col("__n") + lit(100.0))).as("__encoded"))
      test.groupBy("o_orderpriority")
        .agg(count(lit(1)).as("n_test"),
          sum("cents").as("__ts"))
        .join(enc, "o_orderpriority")
        .select(col("o_orderpriority"), col("n_test"),
          round(col("__encoded") / 100.0, 4).as("encoded_usd"),
          round(col("__ts") / col("n_test").cast("double") / 100.0, 4)
            .as("test_mean_usd"))
        .orderBy("o_orderpriority")
    }, Some("""
      WITH o AS (
        SELECT o_orderpriority, CAST(o_orderdate AS DATE) AS d,
               CAST(floor(o_totalprice * 100) AS BIGINT) AS cents
        FROM orders),
      tr AS (SELECT * FROM o WHERE d < DATE '1998-01-01'),
      te AS (SELECT * FROM o WHERE d >= DATE '1998-01-01'),
      p AS (SELECT CAST(sum(cents) AS BIGINT) AS gs,
                   CAST(count(*) AS BIGINT) AS gn FROM tr),
      enc AS (
        SELECT o_orderpriority,
               (sum(cents) + 100.0 * (p.gs / p.gn))
                 / (count(*) + 100.0) AS encoded
        FROM tr, p GROUP BY o_orderpriority, p.gs, p.gn)
      SELECT te.o_orderpriority, CAST(count(*) AS BIGINT) AS n_test,
             round(any_value(enc.encoded) / 100.0, 4) AS encoded_usd,
             round(sum(te.cents) / CAST(count(*) AS DOUBLE) / 100.0, 4)
               AS test_mean_usd
      FROM te JOIN enc USING (o_orderpriority)
      GROUP BY te.o_orderpriority ORDER BY te.o_orderpriority""")),

    // K19 — data-skipping audit: the zone-map effectiveness table that
    // justifies a layout choice. The same events, written as 16 files
    // under three layouts (insertion order / sorted by x / Z-ordered on
    // (x, y) via zo1's Morton key), each file carrying its (x, y) min/max
    // envelope; TWO single-dimension range predicates (an x-range and a
    // y-range — the mixed workload that motivates Z-order) then count the
    // files whose envelope intersects. The table IS the lesson: insertion
    // order prunes neither; the x-sort is perfect for the x-query and
    // scans EVERYTHING for the y-query; Z-order prunes BOTH — the
    // single-dim sort's win is brittle, the interleaved key's is uniform.
    // Integer envelopes, integer counts; the layout sort (ntile over the
    // key) is the write path's own sort, zo1's precedent.
    Q("k19_skipping_audit", (s, dir) => {
      import graft.operators.ZOrder
      val keyed = t(s, dir, "events").select(
        col("event_id"),
        (col("user_id") % 1024).cast("int").as("x"),
        dayofyear(col("ts")).as("y"))
        .withColumn("zkey", ZOrder.mortonKey(col("x"), col("y")))
        .localCheckpoint() // three layouts scan it
      def env(order: org.apache.spark.sql.Column, layout: String) = keyed
        .withColumn("file_id",
          ntile(16).over(Window.orderBy(order, col("event_id"))))
        .groupBy("file_id")
        .agg(min("x").as("min_x"), max("x").as("max_x"),
          min("y").as("min_y"), max("y").as("max_y"),
          count(lit(1)).as("n"),
          sum(when(col("x").between(4, 8), 1L).otherwise(0L)).as("__mx"),
          sum(when(col("y").between(5, 10), 1L).otherwise(0L)).as("__my"))
        .withColumn("layout", lit(layout))
      val all = env(col("event_id"), "1_insertion")
        .unionByName(env(col("x"), "2_sorted_x"))
        .unionByName(env(col("zkey"), "3_zorder"))
        .localCheckpoint() // both predicates read it
      def audit(pred: String, hit: org.apache.spark.sql.Column,
                m: org.apache.spark.sql.Column) = all
        .groupBy("layout")
        .agg(count(lit(1)).as("files_total"),
          sum(when(hit, 1L).otherwise(0L)).as("files_scanned"),
          sum(when(hit, col("n")).otherwise(0L)).as("rows_scanned"),
          sum(m).as("rows_matching"))
        .withColumn("predicate", lit(pred))
      audit("x_4_8", col("max_x") >= 4 && col("min_x") <= 8, col("__mx"))
        .unionByName(
          audit("y_5_10", col("max_y") >= 5 && col("min_y") <= 10,
            col("__my")))
        .withColumn("scan_precision",
          round(col("rows_matching") / col("rows_scanned").cast("double"), 6))
        .select("layout", "predicate", "files_total", "files_scanned",
          "rows_scanned", "rows_matching", "scan_precision")
        .orderBy("layout", "predicate")
    }, Some(s"""
      WITH keyed AS (
        SELECT event_id,
               CAST(user_id % 1024 AS INT) AS x,
               CAST(date_part('doy', ts) AS INT) AS y
        FROM events),
      z AS (
        SELECT *, ${graft.operators.ZOrder.mortonKeySql("x", "y")} AS zkey
        FROM keyed),
      lay AS (
        SELECT '1_insertion' AS layout, x, y,
               ntile(16) OVER (ORDER BY event_id, event_id) AS file_id FROM z
        UNION ALL
        SELECT '2_sorted_x', x, y,
               ntile(16) OVER (ORDER BY x, event_id) FROM z
        UNION ALL
        SELECT '3_zorder', x, y,
               ntile(16) OVER (ORDER BY zkey, event_id) FROM z),
      env AS (
        SELECT layout, file_id,
               min(x) AS min_x, max(x) AS max_x,
               min(y) AS min_y, max(y) AS max_y,
               count(*) AS n,
               sum(CASE WHEN x BETWEEN 4 AND 8 THEN 1 ELSE 0 END) AS mx,
               sum(CASE WHEN y BETWEEN 5 AND 10 THEN 1 ELSE 0 END) AS my
        FROM lay GROUP BY 1, 2),
      a AS (
        SELECT layout, 'x_4_8' AS predicate, count(*) AS files_total,
               sum(CASE WHEN max_x >= 4 AND min_x <= 8 THEN 1 ELSE 0 END)
                 AS files_scanned,
               sum(CASE WHEN max_x >= 4 AND min_x <= 8 THEN n ELSE 0 END)
                 AS rows_scanned,
               sum(mx) AS rows_matching
        FROM env GROUP BY layout
        UNION ALL
        SELECT layout, 'y_5_10', count(*),
               sum(CASE WHEN max_y >= 5 AND min_y <= 10 THEN 1 ELSE 0 END),
               sum(CASE WHEN max_y >= 5 AND min_y <= 10 THEN n ELSE 0 END),
               sum(my)
        FROM env GROUP BY layout)
      SELECT layout, predicate, files_total,
             CAST(files_scanned AS BIGINT) AS files_scanned,
             CAST(rows_scanned AS BIGINT) AS rows_scanned,
             CAST(rows_matching AS BIGINT) AS rows_matching,
             round(rows_matching / CAST(rows_scanned AS DOUBLE), 6)
               AS scan_precision
      FROM a ORDER BY layout, predicate""")),

    // SA13 — group-aware k-fold assignment: folds cut by the USER's hash,
    // never the event's — the group-k-fold discipline that keeps one
    // user's events out of two folds (the cross-validation twin of sa12's
    // entity-leakage concern). md5-fraction fold choice is deterministic
    // and layout-invariant; the disjointness law (Σ per-fold users =
    // distinct users) is graded IN the output, not just asserted in a
    // spec. One user-grain aggregate + one fold-grain aggregate.
    Q("sa13_group_kfold", (s, dir) => {
      val ev = t(s, dir, "events").select(col("user_id"))
      val withFold = t(s, dir, "events").select(col("user_id"),
        floor(graft.operators.Sampling.hashFraction(
          col("user_id").cast("string")) * 5).cast("long").as("fold"))
      val perFold = withFold.groupBy("fold")
        .agg(count(lit(1)).as("n_events"),
          countDistinct("user_id").as("n_users"))
      val tot = ev.agg(countDistinct("user_id").as("__tot"))
      perFold.crossJoin(broadcast(tot))
        .withColumn("user_share",
          round(col("n_users") / col("__tot").cast("double"), 4))
        .select("fold", "n_events", "n_users", "user_share")
        .orderBy("fold")
    }, Some("""
      WITH f AS (
        SELECT user_id,
               CAST(floor(list_sum(list_transform(generate_series(1, 8), i ->
                 (strpos('0123456789abcdef',
                         substr(md5(CAST(user_id AS VARCHAR)), i, 1)) - 1)
                 * (16.0 ** (8 - i)))) / 4294967296.0 * 5) AS BIGINT) AS fold
        FROM events),
      pf AS (
        SELECT fold, count(*) AS n_events,
               count(DISTINCT user_id) AS n_users
        FROM f GROUP BY fold),
      tt AS (SELECT count(DISTINCT user_id) AS tot FROM events)
      SELECT fold, n_events, n_users,
             round(n_users / CAST(tot AS DOUBLE), 4) AS user_share
      FROM pf, tt ORDER BY fold""")),

    // K20 — incremental NDV statistics (the ANALYZE TABLE that never
    // rescans): each of 16 "files" keeps only its k = 256 smallest
    // md5-fractions of o_custkey (a per-file KMV sketch); merging is
    // "union the sketches, keep the k smallest" — associative, O(k) per
    // file — and the merged estimate (k−1)/t_k lands next to the exact
    // NDV it replaces. The merge is LOSSLESS for the global top-k (each
    // global minimum survives its own file's cut), which is the law the
    // spec asserts and the grade depends on. Everything is deterministic
    // md5 math, so the ESTIMATE itself is graded, not just a band.
    Q("k20_incremental_ndv", (s, dir) => {
      val k = 256
      val fc = t(s, dir, "orders")
        .select((col("o_orderkey") % 16).as("file_id"), col("o_custkey"))
        .distinct()
        .withColumn("__frac", graft.operators.Sampling.hashFraction(
          col("o_custkey").cast("string")))
      val perFile = fc
        .withColumn("__rn", row_number().over(
          Window.partitionBy("file_id")
            .orderBy(col("__frac"), col("o_custkey"))))
        .filter(col("__rn") <= k)
      // n < k: the sketch holds EVERY distinct value and the count IS the
      // answer — the standard small-cardinality branch of KMV
      val merged = perFile.select("__frac").distinct()
        .withColumn("__rn", row_number().over(Window.orderBy("__frac")))
        .filter(col("__rn") <= k)
        .agg(count(lit(1)).as("__cnt"), max(col("__frac")).as("__t"))
        .select(when(col("__cnt") < k, col("__cnt").cast("double"))
          .otherwise(lit(k - 1) / col("__t")).as("__est"))
      val exact = t(s, dir, "orders")
        .agg(countDistinct("o_custkey").as("exact_ndv"))
      exact.crossJoin(broadcast(merged))
        .select(col("exact_ndv"),
          round(col("__est"), 4).as("kmv_ndv"),
          round(abs(col("__est") - col("exact_ndv")) /
            col("exact_ndv"), 4).as("rel_error"))
    }, Some("""
      WITH fc AS (
        SELECT DISTINCT o_orderkey % 16 AS file_id, o_custkey FROM orders),
      fr AS (
        SELECT file_id, o_custkey,
               list_sum(list_transform(generate_series(1, 8), i ->
                 (strpos('0123456789abcdef',
                         substr(md5(CAST(o_custkey AS VARCHAR)), i, 1)) - 1)
                 * (16.0 ** (8 - i)))) / 4294967296.0 AS frac
        FROM fc),
      pf AS (
        SELECT * FROM (
          SELECT file_id, frac,
                 row_number() OVER (PARTITION BY file_id
                                    ORDER BY frac, o_custkey) AS rn
          FROM fr) WHERE rn <= 256),
      mg AS (
        SELECT CASE WHEN count(*) < 256 THEN CAST(count(*) AS DOUBLE)
                    ELSE 255 / max(frac) END AS est
        FROM (
          SELECT frac FROM (
            SELECT frac, row_number() OVER (ORDER BY frac) AS rn
            FROM (SELECT DISTINCT frac FROM pf)) WHERE rn <= 256)),
      ex AS (SELECT count(DISTINCT o_custkey) AS exact_ndv FROM orders)
      SELECT exact_ndv,
             round(est, 4) AS kmv_ndv,
             round(abs(est - exact_ndv) / exact_ndv, 4) AS rel_error
      FROM ex, mg""")),

    // W17 — bitemporal as-of: state "as KNOWN at T, effective at V" over
    // versions carrying both a valid-time and a transaction-time axis —
    // j9's SCD2 semantics plus the audit axis (what did we BELIEVE on
    // date T, including corrections recorded later being invisible
    // before their recorded_at). Versions derive from orders (every 7th
    // key gets a retroactive +10 correction recorded 30 days after
    // entry); the two graded query points straddle a correction wave, so
    // the as-known-at filter provably changes the answer. One
    // filter + keep-latest window per query point.
    Q("w17_bitemporal_asof", (s, dir) => {
      val base = t(s, dir, "orders").select(col("o_orderkey").as("k"),
        to_date(col("o_orderdate")).as("d0"),
        floor(col("o_totalprice") * 100).cast("long").as("cents"))
      val v1 = base.select(col("k"), col("d0").as("valid_from"),
        col("d0").as("recorded_at"), col("cents"))
      val v2 = base.filter(col("k") % 7 === 0)
        .select(col("k"), expr("date_add(d0, 10)").as("valid_from"),
          expr("date_add(d0, 30)").as("recorded_at"),
          (col("cents") + 1000).as("cents"))
      val versions = v1.unionByName(v2)
        .localCheckpoint() // both query points scan it
      def asOf(label: String, t_ : String, v: String) = {
        val w = Window.partitionBy("k")
          .orderBy(col("valid_from").desc, col("recorded_at").desc)
        versions
          .filter(col("recorded_at") <= lit(t_) && col("valid_from") <= lit(v))
          .withColumn("__rn", row_number().over(w))
          .filter(col("__rn") === 1)
          .groupBy()
          .agg(count(lit(1)).as("n_keys"),
            sum(when(col("recorded_at") =!= col("valid_from"), 1L)
              .otherwise(0L)).as("n_corrected"),
            sum(col("cents")).as("sum_cents"))
          .withColumn("query_point", lit(label))
      }
      // both effective 1998-06-30; known-at differs by a correction wave
      asOf("1_known_1998-07-05", "1998-07-05", "1998-06-30")
        .unionByName(asOf("2_known_1998-12-31", "1998-12-31", "1998-06-30"))
        .select("query_point", "n_keys", "n_corrected", "sum_cents")
        .orderBy("query_point")
    }, Some("""
      WITH base AS (
        SELECT o_orderkey AS k, CAST(o_orderdate AS DATE) AS d0,
               CAST(floor(o_totalprice * 100) AS BIGINT) AS cents
        FROM orders),
      versions AS (
        SELECT k, d0 AS valid_from, d0 AS recorded_at, cents FROM base
        UNION ALL
        SELECT k, d0 + 10, d0 + 30, cents + 1000 FROM base WHERE k % 7 = 0),
      pts AS (
        SELECT '1_known_1998-07-05' AS query_point,
               DATE '1998-07-05' AS t, DATE '1998-06-30' AS v
        UNION ALL
        SELECT '2_known_1998-12-31', DATE '1998-12-31', DATE '1998-06-30'),
      chosen AS (
        SELECT * FROM (
          SELECT p.query_point, ver.k, ver.recorded_at, ver.valid_from,
                 ver.cents,
                 row_number() OVER (PARTITION BY p.query_point, ver.k
                   ORDER BY ver.valid_from DESC, ver.recorded_at DESC) AS rn
          FROM pts p JOIN versions ver
            ON ver.recorded_at <= p.t AND ver.valid_from <= p.v)
        WHERE rn = 1)
      SELECT query_point, count(*) AS n_keys,
             CAST(sum(CASE WHEN recorded_at <> valid_from THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_corrected,
             CAST(sum(cents) AS BIGINT) AS sum_cents
      FROM chosen GROUP BY query_point ORDER BY query_point""")),

    // ML10 — depth-1 decision tree (the Gini stump): the best single
    // split of a quantized feature (n_chars bucketed by 50) predicting
    // lang='en'. Per-bucket class counts come from ONE corpus aggregate;
    // the split search is cumulative sums + an argmin over the ~12-row
    // bucket table. The argmin is INTEGER-EXACT (r12 verdict): the Gini
    // cost 2·pl(nl−pl)/nl + 2·pr(nr−pr)/nr is brought onto the common
    // denominator nl·nr (icost = pl(nl−pl)nr + pr(nr−pr)nl, exact BIGINT)
    // and ranked by key_e9 = floor(2e9·icost/(nl·nr)), computed with a
    // staged q/r decomposition so every intermediate stays in int64
    // across the whole domain where icost itself is int64-exact
    // (nt ≲ 5.3e6 docs; guarded in-plan past that — see the key_e9
    // comment below) — no double ever enters the ordering or the output
    // (reported impurities are nested-floor-exact e6 integers:
    // floor(floor(y)/m) = floor(y/m)). At 100 TB the feature grid is
    // FIXED (thresholds = bucket edges), so the window runs over a
    // bounded table regardless of corpus size.
    Q("ml10_decision_stump", (s, dir) => {
      val per = t(s, dir, "documents")
        .select(floor(col("n_chars") / 50).cast("long").as("b"),
          when(col("lang") === "en", 1L).otherwise(0L).as("y"))
        .groupBy("b").agg(count(lit(1)).as("n"), sum("y").as("pos"))
      val wCum = Window.orderBy("b")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val wAll = Window.orderBy("b")
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
      val scored = per
        .withColumn("nl", sum("n").over(wCum))
        .withColumn("pl", sum("pos").over(wCum))
        .withColumn("nt", sum("n").over(wAll))
        .withColumn("pt", sum("pos").over(wAll))
        .withColumn("nr", col("nt") - col("nl"))
        .withColumn("pr", col("pt") - col("pl"))
        .filter(col("nr") > 0)
        .withColumn("icost",
          expr("pl * (nl - pl) * nr + pr * (nr - pr) * nl"))
        // key_e9 = floor(2e9·icost/D), D = nl·nr, via a THREE-stage exact
        // q/r decomposition of the 2e9 scale (2000·1000·1000): each staged
        // remainder is < D before its ≤2000× factor, so every intermediate
        // stays in int64 while nt ≤ ~1.4e8 — the r13 ADVICE found the old
        // two-step `(r·2e9) div D` wrapping already at nt ≈ 1.4e5 (Spark
        // wraps silently where DuckDB's HUGEINT is exact: a latent engine
        // divergence). The BINDING bound is now icost itself (≤ nt³/16 ⇒
        // int64-exact to nt ≈ 5.3e6 docs); the guard below turns the first
        // out-of-domain run into a loud error instead of a silent wrap.
        // Identical values to the old formulation wherever both are exact.
        .withColumn("__d", expr("nl * nr"))
        .withColumn("__t1", expr("(icost % __d) * 2000L"))
        .withColumn("__t2", expr("(__t1 % __d) * 1000L"))
        .withColumn("__t3", expr("(__t2 % __d) * 1000L"))
        .withColumn("key_e9",
          when(col("nt") < 5000000L, expr(
            "(icost div __d) * 2000000000L + (__t1 div __d) * 1000000L" +
              " + (__t2 div __d) * 1000L + (__t3 div __d)"))
            .otherwise(expr("raise_error('ml10_decision_stump: nt " +
              "exceeds the int64-exact Gini domain (~5.3e6 docs); " +
              "widen icost to decimal before trusting key_e9')")
              .cast("long")))
      scored
        .withColumn("__rn", row_number().over(
          Window.orderBy(col("key_e9"), col("b"))))
        .filter(col("__rn") === 1)
        .select(((col("b") + 1) * 50).as("split_below_chars"),
          col("nl").as("n_left"), col("pl").as("pos_left"),
          col("nr").as("n_right"), col("pr").as("pos_right"),
          expr("(2000000L * pt * (nt - pt)) div (nt * nt)")
            .as("base_gini_e6"),
          expr("key_e9 div (1000L * nt)").as("split_gini_e6"))
    }, Some("""
      WITH per AS (
        SELECT CAST(floor(n_chars / 50) AS BIGINT) AS b,
               count(*) AS n,
               sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS pos
        FROM documents GROUP BY b),
      cum AS (
        SELECT b,
               CAST(sum(n) OVER (ORDER BY b) AS BIGINT) AS nl,
               CAST(sum(pos) OVER (ORDER BY b) AS BIGINT) AS pl,
               CAST(sum(n) OVER () AS BIGINT) AS nt,
               CAST(sum(pos) OVER () AS BIGINT) AS pt
        FROM per),
      sc AS (
        SELECT b, nl, pl, nt, pt, nt - nl AS nr, pt - pl AS pr
        FROM cum WHERE nt - nl > 0),
      ky AS (
        SELECT b, nl, pl, nt, pt, nr, pr,
               (icost // (nl * nr)) * 2000000000 +
                 ((icost % (nl * nr)) * 2000000000) // (nl * nr) AS key_e9
        FROM (SELECT *, pl * (nl - pl) * nr + pr * (nr - pr) * nl AS icost
              FROM sc))
      SELECT (b + 1) * 50 AS split_below_chars,
             nl AS n_left, pl AS pos_left, nr AS n_right, pr AS pos_right,
             CAST((2000000 * pt * (nt - pt)) // (nt * nt) AS BIGINT)
               AS base_gini_e6,
             CAST(key_e9 // (1000 * nt) AS BIGINT) AS split_gini_e6
      FROM ky ORDER BY key_e9, b LIMIT 1""")),

    // K21 — k-anonymity audit: equivalence classes over the
    // quasi-identifier (nation, market segment, account-balance band of
    // 1000) and the re-identification risk histogram a data-governance
    // gate reads before release. Classes of size 1 are unique rows
    // (fully re-identifiable); the k >= 5 band is the conventional
    // release bar. Two integer aggregates, both keyed — no global state.
    Q("k21_k_anonymity", (s, dir) => {
      val cls = t(s, dir, "customer")
        .groupBy(col("c_nationkey").cast("long").as("nat"),
          col("c_mktsegment").as("seg"),
          floor(col("c_acctbal") / 1000).cast("long").as("bal_band"))
        .agg(count(lit(1)).as("sz"))
      cls.select(
        when(col("sz") === 1, "1_unique")
          .when(col("sz") <= 4, "2_size_2_4")
          .when(col("sz") <= 9, "3_size_5_9")
          .otherwise("4_size_10_plus").as("risk_band"),
        col("sz"))
        .groupBy("risk_band")
        .agg(count(lit(1)).as("n_classes"), sum("sz").as("n_rows"))
        .orderBy("risk_band")
    }, Some("""
      WITH cls AS (
        SELECT CAST(c_nationkey AS BIGINT) AS nat, c_mktsegment AS seg,
               CAST(floor(c_acctbal / 1000) AS BIGINT) AS bal_band,
               count(*) AS sz
        FROM customer GROUP BY 1, 2, 3)
      SELECT CASE WHEN sz = 1 THEN '1_unique'
                  WHEN sz <= 4 THEN '2_size_2_4'
                  WHEN sz <= 9 THEN '3_size_5_9'
                  ELSE '4_size_10_plus' END AS risk_band,
             count(*) AS n_classes, CAST(sum(sz) AS BIGINT) AS n_rows
      FROM cls GROUP BY 1 ORDER BY 1""")),

    // TX18 — PMI collocations: adjacent word pairs whose corpus lift
    // c12·N / (c1·c2) (the exp of pointwise mutual information) marks
    // them as phrases rather than chance neighbors — the phrase-mining
    // pass a tokenizer-training pipeline runs before vocabulary
    // construction. The c12 >= 5 support floor is applied BEFORE the
    // unigram joins (the frequent-pair table is tiny; the joins never
    // see the bigram long tail). Lift uses only IEEE *,/ over exact
    // integer counts — bit-identical across engines — and is reported
    // floor-scaled; ordering ties break on the words. Scale shape: two
    // corpus-keyed aggregates + vocab-keyed joins + a global top-20.
    Q("tx18_pmi_collocations", (s, dir) => {
      val docs = t(s, dir, "documents")
      val w = col("__w")
      val uni = docs.select(explode(split(col("text"), " ")).as("tok"))
        .groupBy("tok").agg(count(lit(1)).as("c1"))
        .localCheckpoint() // probed by both joins + the total
      val ntot = uni.agg(sum("c1").as("__n"))
      val bg = docs.select(split(col("text"), " ").as("__w"))
        .select(explode(when(size(w) >= 2,
          transform(sequence(lit(1), size(w) - 1), i =>
            struct(element_at(w, i).as("w1"), element_at(w, i + 1).as("w2"))))
          .otherwise(array().cast("array<struct<w1:string,w2:string>>")))
          .as("p"))
        .select(col("p.w1").as("w1"), col("p.w2").as("w2"))
        .groupBy("w1", "w2").agg(count(lit(1)).as("c12"))
        .filter(col("c12") >= 5)
      bg.join(uni.withColumnRenamed("tok", "w1"), "w1")
        .join(uni.select(col("tok").as("w2"), col("c1").as("c2")), "w2")
        .crossJoin(broadcast(ntot))
        .withColumn("lift_e4",
          floor(lit(1.0e4) * (col("c12").cast("double") * col("__n"))
            / (col("c1").cast("double") * col("c2"))).cast("long"))
        .select("w1", "w2", "c12", "c1", "c2", "lift_e4")
        .orderBy(col("lift_e4").desc, col("w1"), col("w2"))
        .limit(20)
    }, Some("""
      WITH w AS (SELECT string_split(text, ' ') AS ws FROM documents),
      uni AS (
        SELECT tok, count(*) AS c1
        FROM (SELECT unnest(ws) AS tok FROM w) GROUP BY tok),
      nt AS (SELECT sum(c1) AS n FROM uni),
      bg AS (
        SELECT w1, w2, count(*) AS c12 FROM (
          SELECT ws[i] AS w1, ws[i + 1] AS w2
          FROM w, UNNEST(generate_series(1, len(ws) - 1)) AS t(i)
          WHERE len(ws) >= 2)
        GROUP BY w1, w2 HAVING count(*) >= 5)
      SELECT w1, w2, c12, u1.c1 AS c1, u2.c1 AS c2,
             CAST(floor(1.0e4 * (CAST(c12 AS DOUBLE) * n)
                        / (CAST(u1.c1 AS DOUBLE) * u2.c1)) AS BIGINT)
               AS lift_e4
      FROM bg JOIN uni u1 ON bg.w1 = u1.tok
              JOIN uni u2 ON bg.w2 = u2.tok
              CROSS JOIN nt
      ORDER BY lift_e4 DESC, w1, w2 LIMIT 20""")),

    // ATT1 — last-touch marketing attribution: each purchase's revenue is
    // credited to the most recent preceding view/click by the same user
    // within a 7-day lookback, else 'direct'. The "most recent touch" is
    // ONE conditional max over a (unbounded, -1) frame — the carried value
    // is a fixed-width-packed string (epoch|event_id|type) whose bytewise
    // max IS the latest touch, so both engines resolve recency and ties
    // identically with no IGNORE NULLS dependence. Epochs use the
    // floor(epoch) convention everywhere (Spark's long cast floors;
    // DuckDB's would half-round). One per-user window + one channel-grain
    // aggregate — shuffle is user-keyed, the 100 TB shape.
    Q("att1_last_touch_attribution", (s, dir) => {
      val ep = col("ts").cast("long")
      val touch = col("event_type").isin("view", "click")
      val packed = when(touch, concat_ws("|",
        lpad(ep.cast("string"), 10, "0"),
        lpad(col("event_id").cast("string"), 8, "0"),
        col("event_type")))
      val w = Window.partitionBy("user_id")
        .orderBy(col("ts"), col("event_id"))
        .rowsBetween(Window.unboundedPreceding, -1)
      t(s, dir, "events")
        .select(col("user_id"), col("ts"), col("event_id"),
          col("event_type"), col("value"), ep.as("ep"), packed.as("pk"))
        .withColumn("last_touch", max(col("pk")).over(w))
        .filter(col("event_type") === "purchase")
        .select(
          when(col("last_touch").isNotNull &&
            col("ep") - substring(col("last_touch"), 1, 10).cast("long")
              <= 604800,
            substring(col("last_touch"), 21, 10)).otherwise("direct")
            .as("channel"),
          floor(col("value") * 100).cast("long").as("cents"))
        .groupBy("channel")
        .agg(count(lit(1)).as("n_purchases"),
          sum("cents").as("revenue_cents"))
        .orderBy("channel")
    }, Some("""
      WITH ev AS (
        SELECT user_id, ts, event_id, event_type, value,
               CAST(floor(epoch(ts)) AS BIGINT) AS ep,
               CASE WHEN event_type IN ('view', 'click') THEN
                 lpad(CAST(CAST(floor(epoch(ts)) AS BIGINT) AS VARCHAR),
                      10, '0')
                 || '|' || lpad(CAST(event_id AS VARCHAR), 8, '0')
                 || '|' || event_type
               END AS pk
        FROM events),
      att AS (
        SELECT event_type, value, ep,
               max(pk) OVER (PARTITION BY user_id ORDER BY ts, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                 AS last_touch
        FROM ev)
      SELECT CASE WHEN last_touch IS NOT NULL
                   AND ep - CAST(substr(last_touch, 1, 10) AS BIGINT)
                       <= 604800
                  THEN substr(last_touch, 21, 10) ELSE 'direct' END
               AS channel,
             count(*) AS n_purchases,
             CAST(sum(CAST(floor(value * 100) AS BIGINT)) AS BIGINT)
               AS revenue_cents
      FROM att WHERE event_type = 'purchase'
      GROUP BY 1 ORDER BY 1""")),

    // K22 — columnar encoding audit: for each of 16 "files" (o_orderkey
    // mod, ordered by key within the file — parquet-page locality), the
    // bits/value that plain, dictionary, RLE, and zigzag-delta encoding
    // would spend on o_custkey, from exact file-local statistics: value
    // bit width via length(bin(v)) (no libm log2), run count via
    // lag-change, delta width via the zigzag 2|d|+(d<0) of successive
    // diffs. The report totals each encoding across files and counts the
    // files where it wins (ties break on encoding name) — the decision
    // table a format tuner reads. All windows are FILE-local (the scale
    // unit); the final join is 4 encodings × 16 files.
    Q("k22_encoding_audit", (s, dir) => {
      val wf = Window.partitionBy("file_id").orderBy("o_orderkey")
      val base = t(s, dir, "orders")
        .select((col("o_orderkey") % 16).as("file_id"),
          col("o_orderkey"), col("o_custkey").as("v"))
        .withColumn("prev", lag("v", 1).over(wf))
        .withColumn("chg", when(col("prev").isNull ||
          col("v") =!= col("prev"), 1L).otherwise(0L))
        .withColumn("d", col("v") - coalesce(col("prev"), lit(0L)))
        .withColumn("zz", lit(2) * abs(col("d"))
          + when(col("d") < 0, 1L).otherwise(0L))
      val perFile = base.groupBy("file_id").agg(
        count(lit(1)).as("n"),
        countDistinct("v").as("ndv"),
        sum("chg").as("runs"),
        max(length(bin(col("v")))).as("vbits"),
        max(length(bin(col("zz")))).as("dbits"))
        .withColumn("nbits", length(bin(col("n"))).cast("long"))
        .withColumn("plain", col("n") * col("vbits"))
        .withColumn("dict", col("n") * length(bin(col("ndv") - 1))
          + col("ndv") * col("vbits"))
        .withColumn("rle", col("runs") * (col("vbits") + col("nbits")))
        .withColumn("delta", col("n") * col("dbits"))
      val costs = perFile.select(col("file_id"),
        expr("stack(4, 'plain', plain, 'dict', dict, 'rle', rle," +
          " 'delta', delta) AS (encoding, bits)"))
      val wBest = Window.partitionBy("file_id")
        .orderBy(col("bits"), col("encoding"))
      val best = costs
        .withColumn("__rn", row_number().over(wBest))
        .filter(col("__rn") === 1)
        .groupBy("encoding").agg(count(lit(1)).as("files_best"))
      costs.groupBy("encoding").agg(sum("bits").as("total_bits"))
        .join(best, Seq("encoding"), "left")
        .select(col("encoding"), col("total_bits"),
          coalesce(col("files_best"), lit(0L)).as("files_best"))
        .orderBy("encoding")
    }, Some("""
      WITH base AS (
        SELECT o_orderkey % 16 AS file_id, o_orderkey, o_custkey AS v,
               lag(o_custkey) OVER (PARTITION BY o_orderkey % 16
                                    ORDER BY o_orderkey) AS prev
        FROM orders),
      z AS (
        SELECT file_id, v,
               CASE WHEN prev IS NULL OR v <> prev THEN 1 ELSE 0 END AS chg,
               v - coalesce(prev, 0) AS d
        FROM base),
      pf AS (
        SELECT file_id, count(*) AS n, count(DISTINCT v) AS ndv,
               sum(chg) AS runs,
               max(len(bin(v))) AS vbits,
               max(len(bin(2 * abs(d)
                 + CASE WHEN d < 0 THEN 1 ELSE 0 END))) AS dbits
        FROM z GROUP BY file_id),
      pc AS (
        SELECT file_id, n, ndv, runs, vbits, dbits,
               CAST(len(bin(n)) AS BIGINT) AS nbits
        FROM pf),
      costs AS (
        SELECT file_id, 'plain' AS encoding,
               CAST(n * vbits AS BIGINT) AS bits FROM pc
        UNION ALL
        SELECT file_id, 'dict',
               CAST(n * len(bin(ndv - 1)) + ndv * vbits AS BIGINT) FROM pc
        UNION ALL
        SELECT file_id, 'rle',
               CAST(runs * (vbits + nbits) AS BIGINT) FROM pc
        UNION ALL
        SELECT file_id, 'delta', CAST(n * dbits AS BIGINT) FROM pc),
      best AS (
        SELECT encoding, count(*) AS files_best FROM (
          SELECT file_id, encoding,
                 row_number() OVER (PARTITION BY file_id
                                    ORDER BY bits, encoding) AS rn
          FROM costs) WHERE rn = 1 GROUP BY encoding)
      SELECT c.encoding, CAST(sum(c.bits) AS BIGINT) AS total_bits,
             coalesce(any_value(b.files_best), 0) AS files_best
      FROM costs c LEFT JOIN best b ON c.encoding = b.encoding
      GROUP BY c.encoding ORDER BY c.encoding""")),

    // K23 — merkle-style replica diff: both replicas fold each row into a
    // 32-bit md5 checksum and aggregate (count, checksum-sum) per
    // 4096-way key bucket; a bucket pair that agrees on both is provably
    // in sync without a row compare, and the sync plan ships only the
    // differing buckets' rows. Replica B plants deletions (every 97th
    // key) and in-place updates (every 101st key's cents +5), so the
    // report's rows_to_sync ≪ total rows IS the merkle win, graded. Two
    // bucket-grain aggregates + one 4096-row join — the anti-entropy
    // shape that replaces a full-table compare at 100 TB.
    Q("k23_merkle_diff", (s, dir) => {
      def sums(df: DataFrame, pre: String) = df
        .withColumn("h", conv(substring(md5(
          concat_ws("|", col("k"), col("cents")).cast("binary")), 1, 8),
          16, 10).cast("long"))
        .groupBy((col("k") % 4096).as("bucket"))
        .agg(count(lit(1)).as(s"${pre}_cnt"), sum("h").as(s"${pre}_sum"))
      val a = t(s, dir, "orders").select(col("o_orderkey").as("k"),
        floor(col("o_totalprice") * 100).cast("long").as("cents"))
      val b = a.filter(col("k") % 97 =!= 0)
        .withColumn("cents", when(col("k") % 101 === 0,
          col("cents") + 5).otherwise(col("cents")))
      sums(a, "a").join(sums(b, "b"), Seq("bucket"), "full_outer")
        .select(col("bucket"),
          coalesce(col("a_cnt"), lit(0L)).as("a_cnt"),
          coalesce(col("b_cnt"), lit(0L)).as("b_cnt"),
          (coalesce(col("a_cnt"), lit(0L)) =!= coalesce(col("b_cnt"), lit(0L))
            || coalesce(col("a_sum"), lit(0L)) =!=
               coalesce(col("b_sum"), lit(0L))).as("differs"))
        .agg(count(lit(1)).as("n_buckets"),
          sum(when(col("differs"), 1L).otherwise(0L)).as("n_differ"),
          sum(when(col("differs"), col("a_cnt")).otherwise(0L))
            .as("rows_to_sync"),
          sum("a_cnt").as("rows_total"))
    }, Some("""
      WITH a AS (
        SELECT o_orderkey AS k,
               CAST(floor(o_totalprice * 100) AS BIGINT) AS cents
        FROM orders),
      b AS (
        SELECT k, CASE WHEN k % 101 = 0 THEN cents + 5 ELSE cents END
               AS cents
        FROM a WHERE k % 97 <> 0),
      ha AS (
        SELECT k % 4096 AS bucket, count(*) AS cnt,
               sum(CAST(list_sum(list_transform(generate_series(1, 8), i ->
                 (strpos('0123456789abcdef',
                    substr(md5(CAST(k AS VARCHAR) || '|'
                               || CAST(cents AS VARCHAR)), i, 1)) - 1)
                 * CAST(16.0 ** (8 - i) AS BIGINT))) AS BIGINT)) AS s
        FROM a GROUP BY 1),
      hb AS (
        SELECT k % 4096 AS bucket, count(*) AS cnt,
               sum(CAST(list_sum(list_transform(generate_series(1, 8), i ->
                 (strpos('0123456789abcdef',
                    substr(md5(CAST(k AS VARCHAR) || '|'
                               || CAST(cents AS VARCHAR)), i, 1)) - 1)
                 * CAST(16.0 ** (8 - i) AS BIGINT))) AS BIGINT)) AS s
        FROM b GROUP BY 1),
      j AS (
        SELECT coalesce(ha.cnt, 0) AS a_cnt, coalesce(hb.cnt, 0) AS b_cnt,
               (coalesce(ha.cnt, 0) <> coalesce(hb.cnt, 0)
                OR coalesce(ha.s, 0) <> coalesce(hb.s, 0)) AS differs
        FROM ha FULL OUTER JOIN hb ON ha.bucket = hb.bucket)
      SELECT count(*) AS n_buckets,
             CAST(sum(CASE WHEN differs THEN 1 ELSE 0 END) AS BIGINT)
               AS n_differ,
             CAST(sum(CASE WHEN differs THEN a_cnt ELSE 0 END) AS BIGINT)
               AS rows_to_sync,
             CAST(sum(a_cnt) AS BIGINT) AS rows_total
      FROM j""")),

    // ML11 — feature hashing (the hashing trick) collision audit: the
    // nation×segment cross feature is hashed into 256 buckets by the
    // md5-integer mod, and the report quantifies what the trick costs —
    // features sharing a bucket, buckets carrying ≥2 features, the max
    // pile-up, and the row mass landing in collided buckets. Two keyed
    // integer aggregates (feature grain, then bucket grain); the hash is
    // scan-side, so at 100 TB this is one pass over the dimension join.
    Q("ml11_feature_hashing", (s, dir) => {
      val feat = t(s, dir, "customer")
        .select(concat_ws("&",
          concat(lit("nat="), col("c_nationkey").cast("long")),
          concat(lit("seg="), col("c_mktsegment"))).as("f"))
        .groupBy("f").agg(count(lit(1)).as("rows"))
        .withColumn("bucket",
          conv(substring(md5(col("f").cast("binary")), 1, 8), 16, 10)
            .cast("long") % 256)
      val perBucket = feat.groupBy("bucket")
        .agg(count(lit(1)).as("nf"), sum("rows").as("nrows"))
      perBucket.agg(
        sum("nf").as("n_features"),
        count(lit(1)).as("n_buckets_used"),
        sum(when(col("nf") >= 2, 1L).otherwise(0L)).as("n_buckets_collided"),
        sum(when(col("nf") >= 2, col("nf")).otherwise(0L))
          .as("n_features_collided"),
        max("nf").as("max_bucket_features"),
        sum(when(col("nf") >= 2, col("nrows")).otherwise(0L))
          .as("rows_in_collided"))
    }, Some("""
      WITH feat AS (
        SELECT 'nat=' || CAST(CAST(c_nationkey AS BIGINT) AS VARCHAR)
               || '&' || 'seg=' || c_mktsegment AS f,
               count(*) AS rows_
        FROM customer GROUP BY 1),
      fb AS (
        SELECT f, rows_,
               CAST(list_sum(list_transform(generate_series(1, 8), i ->
                 (strpos('0123456789abcdef', substr(md5(f), i, 1)) - 1)
                 * CAST(16.0 ** (8 - i) AS BIGINT))) AS BIGINT) % 256
                 AS bucket
        FROM feat),
      pb AS (
        SELECT bucket, count(*) AS nf, sum(rows_) AS nrows
        FROM fb GROUP BY bucket)
      SELECT CAST(sum(nf) AS BIGINT) AS n_features,
             count(*) AS n_buckets_used,
             CAST(sum(CASE WHEN nf >= 2 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_buckets_collided,
             CAST(sum(CASE WHEN nf >= 2 THEN nf ELSE 0 END) AS BIGINT)
               AS n_features_collided,
             max(nf) AS max_bucket_features,
             CAST(sum(CASE WHEN nf >= 2 THEN nrows ELSE 0 END) AS BIGINT)
               AS rows_in_collided
      FROM pb""")),

    // SA14 — Neyman sample allocation: a 10,000-row sample budget split
    // across order-priority strata proportional to N_h·S_h (big, noisy
    // strata earn more samples — the survey-sampling optimum). The
    // variance path is engine-exact: integer cents sums and DECIMAL/
    // HUGEINT sum-of-squares (too big for int64, NEVER summed as
    // floating point — double sums are association-ordered and
    // nondeterministic under partial aggregation), one identical double
    // expression for variance, and sqrt — an IEEE-754 correctly-rounded
    // op, unlike the banned libm ln/exp/pow. Weights are floored to
    // integers BEFORE the cross-strata total so the final shares are
    // integer-exact. One stratum-grain aggregate, 5-row everything-else.
    Q("sa14_neyman_allocation", (s, dir) => {
      val per = t(s, dir, "orders")
        .select(col("o_orderpriority").as("stratum"),
          floor(col("o_totalprice") * 100).cast("long").as("c"))
        .groupBy("stratum")
        .agg(count(lit(1)).as("n"), sum("c").as("sc"),
          sum(col("c").cast("decimal(38,0)") * col("c")).as("scc"))
        .withColumn("variance",
          (col("scc").cast("double")
            - col("sc").cast("double") * col("sc") / col("n")) / col("n"))
        .withColumn("w", floor(col("n") * sqrt(col("variance"))).cast("long"))
      val wAll = Window.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing)
      per.withColumn("wtot", sum("w").over(wAll))
        .select(col("stratum"), col("n"),
          floor(col("sc") / col("n")).cast("long").as("mean_cents"),
          floor(sqrt(col("variance"))).cast("long").as("std_cents"),
          floor(lit(10000) * col("w") / col("wtot")).cast("long")
            .as("alloc"))
        .orderBy("stratum")
    }, Some("""
      WITH per AS (
        SELECT o_orderpriority AS stratum, count(*) AS n,
               sum(CAST(floor(o_totalprice * 100) AS BIGINT)) AS sc,
               sum(CAST(CAST(floor(o_totalprice * 100) AS BIGINT) AS HUGEINT)
                   * CAST(floor(o_totalprice * 100) AS BIGINT)) AS scc
        FROM orders GROUP BY 1),
      v AS (
        SELECT stratum, n, sc,
               (CAST(scc AS DOUBLE)
                - CAST(sc AS DOUBLE) * sc / n) / n AS variance
        FROM per),
      w AS (
        SELECT stratum, n, sc, variance,
               CAST(floor(n * sqrt(variance)) AS BIGINT) AS w
        FROM v)
      SELECT stratum, n,
             CAST(floor(CAST(sc AS DOUBLE) / n) AS BIGINT) AS mean_cents,
             CAST(floor(sqrt(variance)) AS BIGINT) AS std_cents,
             CAST(floor(10000 * w / (SELECT sum(w) FROM w)) AS BIGINT)
               AS alloc
      FROM w ORDER BY stratum""")),

    // CS23 — Simpson's-paradox audit: the sign of the revenue-vs-time
    // trend per order priority against the pooled sign — the aggregation
    // reversal that invalidates a pooled conclusion. Only the OLS slope
    // NUMERATOR n·Σxy − Σx·Σy is needed for the sign, and it is carried
    // in DECIMAL/HUGEINT (n·Σxy overflows int64 at corpus scale; exact
    // integer arithmetic end-to-end, no division anywhere). One
    // group-grain aggregate + a 5-row window for the pooled recompose.
    Q("cs23_simpsons_paradox", (s, dir) => {
      val per = t(s, dir, "orders")
        .select(col("o_orderpriority").as("grp"),
          datediff(to_date(col("o_orderdate")), lit("1992-01-01"))
            .cast("long").as("x"),
          floor(col("o_totalprice") * 100).cast("long").as("y"))
        .groupBy("grp")
        .agg(count(lit(1)).as("n"), sum("x").as("sx"), sum("y").as("sy"),
          sum(col("x").cast("decimal(38,0)") * col("y")).as("sxy"))
      val wAll = Window.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing)
      // keep the minus on the same line: a leading `- col(...)` would be
      // parsed as its own (discarded) unary-minus statement
      val num = (col("n").cast("decimal(38,0)") * col("sxy")) -
        (col("sx").cast("decimal(38,0)") * col("sy"))
      val pnum = (col("nt").cast("decimal(38,0)") * col("sxyt")) -
        (col("sxt").cast("decimal(38,0)") * col("syt"))
      per
        .withColumn("nt", sum("n").over(wAll))
        .withColumn("sxt", sum("sx").over(wAll))
        .withColumn("syt", sum("sy").over(wAll))
        .withColumn("sxyt", sum("sxy").over(wAll))
        .select(col("grp"), col("n"),
          when(num > 0, 1L).when(num < 0, -1L).otherwise(0L)
            .as("group_sign"),
          when(pnum > 0, 1L).when(pnum < 0, -1L).otherwise(0L)
            .as("pooled_sign"))
        .withColumn("is_flip",
          col("group_sign") =!= lit(0L) &&
            col("group_sign") =!= col("pooled_sign"))
        .orderBy("grp")
    }, Some("""
      WITH per AS (
        SELECT o_orderpriority AS grp, count(*) AS n,
               sum(CAST(datediff('day', DATE '1992-01-01',
                     CAST(o_orderdate AS DATE)) AS BIGINT)) AS sx,
               sum(CAST(floor(o_totalprice * 100) AS BIGINT)) AS sy,
               sum(CAST(CAST(datediff('day', DATE '1992-01-01',
                     CAST(o_orderdate AS DATE)) AS BIGINT) AS HUGEINT)
                   * CAST(floor(o_totalprice * 100) AS BIGINT)) AS sxy
        FROM orders GROUP BY 1),
      tot AS (
        SELECT sum(n) AS nt, sum(sx) AS sxt, sum(sy) AS syt,
               sum(sxy) AS sxyt
        FROM per),
      sc AS (
        SELECT grp, n,
               CAST(n AS HUGEINT) * sxy
                 - CAST(sx AS HUGEINT) * sy AS num,
               (SELECT CAST(nt AS HUGEINT) * sxyt
                  - CAST(sxt AS HUGEINT) * syt FROM tot) AS pnum
        FROM per)
      SELECT grp, n,
             CAST(CASE WHEN num > 0 THEN 1 WHEN num < 0 THEN -1
                       ELSE 0 END AS BIGINT) AS group_sign,
             CAST(CASE WHEN pnum > 0 THEN 1 WHEN pnum < 0 THEN -1
                       ELSE 0 END AS BIGINT) AS pooled_sign,
             (CASE WHEN num > 0 THEN 1 WHEN num < 0 THEN -1 ELSE 0 END <> 0
              AND CASE WHEN num > 0 THEN 1 WHEN num < 0 THEN -1 ELSE 0 END
                  <> CASE WHEN pnum > 0 THEN 1 WHEN pnum < 0 THEN -1
                          ELSE 0 END) AS is_flip
      FROM sc ORDER BY grp""")),

    // GR12 — diameter probe by double-sweep BFS: one BFS from the minimum
    // node finds the farthest vertex; a second BFS from THERE yields the
    // classic diameter lower bound (exact on trees, near-exact on most
    // real graphs) — two O(E·diam) sweeps instead of the all-pairs
    // O(V·E) no one can run at scale. The second source is selected
    // DISTRIBUTEDLY (a 1-row top-1 DataFrame feeds bfsLevels — no
    // driver collect between sweeps); ties break (max dist, min node)
    // identically in the oracle's recursive CTE.
    Q("gr12_diameter_probe", (s, dir) => {
      val docs = t(s, dir, "documents")
      val edges = Components.docGraph(docs)
      val src1 = docs.agg(min("doc_id").as("doc_id"))
      val lv1 = Components.bfsLevels(edges, "a", "b", src1, "doc_id",
        maxRounds = 16)
      val far = lv1.orderBy(col("dist").desc, col("node")).limit(1)
        .select(col("node").as("doc_id"))
      val lv2 = Components.bfsLevels(edges, "a", "b", far, "doc_id",
        maxRounds = 16)
      lv1.agg(max("dist").as("ecc_first"),
          count(lit(1)).as("reached_first"))
        .crossJoin(broadcast(lv2.agg(max("dist").as("diameter_lb"),
          count(lit(1)).as("reached_second"))))
    }, Some("""
      WITH RECURSIVE
      ids AS (SELECT doc_id FROM documents),
      raw AS (
        SELECT doc_id AS a, (doc_id * 7) % 499 AS b FROM ids
        UNION ALL
        SELECT doc_id, CAST(doc_id / 2 AS BIGINT) FROM ids
        WHERE doc_id % 2 = 0 AND doc_id > 0
        UNION ALL
        SELECT doc_id, CAST(doc_id / 3 AS BIGINT) FROM ids
        WHERE doc_id % 3 = 0 AND doc_id > 0),
      fwd AS (SELECT a, b FROM raw WHERE a <> b),
      edges AS (SELECT a AS u, b AS v FROM fwd
                UNION SELECT b, a FROM fwd),
      r1(node, d) AS (
        SELECT min(doc_id), 0 FROM ids
        UNION
        SELECT e.v, r.d + 1 FROM r1 r JOIN edges e ON e.u = r.node
        WHERE r.d < 16),
      lv1 AS (SELECT node, min(d) AS d FROM r1 GROUP BY node),
      far AS (SELECT node FROM lv1 ORDER BY d DESC, node LIMIT 1),
      r2(node, d) AS (
        SELECT node, 0 FROM far
        UNION
        SELECT e.v, r.d + 1 FROM r2 r JOIN edges e ON e.u = r.node
        WHERE r.d < 16),
      lv2 AS (SELECT node, min(d) AS d FROM r2 GROUP BY node)
      SELECT (SELECT CAST(max(d) AS INT) FROM lv1) AS ecc_first,
             (SELECT count(*) FROM lv1) AS reached_first,
             (SELECT CAST(max(d) AS INT) FROM lv2) AS diameter_lb,
             (SELECT count(*) FROM lv2) AS reached_second""")),

    // TX20 — RAKE keyphrases: candidate phrases are maximal stopword-free
    // token runs (gaps-and-islands on a per-doc running stopword count —
    // no UDF, no re-tokenization); each phrase type is scored by the
    // ratio-of-sums Σdeg/Σfreq over its words (deg = co-occurrence mass,
    // freq = corpus count — both exact integers, ONE division at the
    // end; the per-word ratio sum of textbook RAKE is a float summation
    // whose association order engines don't share). The stopword set is
    // the language-marker union the langId heuristic already owns.
    Q("tx20_rake_keyphrases", (s, dir) => {
      val stop = graft.operators.TextAnalysis.langMarkers.flatMap(_._2)
      val wSeq = Window.partitionBy("doc_id").orderBy("pos")
      val runs = t(s, dir, "documents")
        .select(col("doc_id"), posexplode(split(col("text"), " ")))
        .withColumnRenamed("col", "tok")
        .withColumn("is_stop", col("tok").isin(stop: _*))
        .withColumn("grp", sum(when(col("is_stop"), 1L).otherwise(0L))
          .over(wSeq))
        .filter(!col("is_stop"))
      val inst = runs.groupBy("doc_id", "grp")
        .agg(array_join(transform(
          array_sort(collect_list(struct(col("pos"), col("tok")))),
          x => x.getField("tok")), " ").as("phrase"),
          count(lit(1)).as("len"))
        .filter(col("len") >= 2)
        .localCheckpoint() // feeds word stats AND phrase types
      val wstat = inst
        .select(explode(split(col("phrase"), " ")).as("w"), col("len"))
        .groupBy("w").agg(count(lit(1)).as("freq"), sum("len").as("deg"))
      val ptype = inst.groupBy("phrase").agg(count(lit(1)).as("n_occ"))
      ptype.select(col("phrase"), col("n_occ"),
          explode(split(col("phrase"), " ")).as("w"))
        .join(wstat, "w")
        .groupBy("phrase", "n_occ")
        .agg(sum("deg").as("sumdeg"), sum("freq").as("sumfreq"))
        .select(col("phrase"),
          size(split(col("phrase"), " ")).cast("long").as("n_words"),
          col("n_occ"),
          floor(lit(1.0e4) * col("sumdeg") / col("sumfreq")).cast("long")
            .as("score_e4"))
        .orderBy(col("score_e4").desc, col("phrase"))
        .limit(15)
    }, Some("""
      WITH toks AS (
        SELECT doc_id, i AS pos, ws[i] AS tok
        FROM (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
             UNNEST(generate_series(1, len(ws))) AS t(i)),
      g AS (
        SELECT doc_id, pos, tok,
               tok IN ('the','of','and','le','et','les','el','y','los',
                       'der','und','die') AS is_stop,
               sum(CASE WHEN tok IN ('the','of','and','le','et','les','el',
                                     'y','los','der','und','die')
                        THEN 1 ELSE 0 END)
                 OVER (PARTITION BY doc_id ORDER BY pos) AS grp
        FROM toks),
      inst AS (
        SELECT doc_id, grp, string_agg(tok, ' ' ORDER BY pos) AS phrase,
               count(*) AS len
        FROM g WHERE NOT is_stop GROUP BY doc_id, grp
        HAVING count(*) >= 2),
      wstat AS (
        SELECT w, count(*) AS freq, sum(len) AS deg
        FROM (SELECT unnest(string_split(phrase, ' ')) AS w, len FROM inst)
        GROUP BY w),
      pt AS (SELECT phrase, count(*) AS n_occ FROM inst GROUP BY phrase),
      tw AS (SELECT phrase, n_occ, unnest(string_split(phrase, ' ')) AS w
             FROM pt),
      sc AS (
        SELECT tw.phrase, tw.n_occ,
               sum(deg) AS sumdeg, sum(freq) AS sumfreq
        FROM tw JOIN wstat ON tw.w = wstat.w
        GROUP BY tw.phrase, tw.n_occ)
      SELECT phrase,
             CAST(len(string_split(phrase, ' ')) AS BIGINT) AS n_words,
             n_occ,
             CAST(floor(1.0e4 * sumdeg / sumfreq) AS BIGINT) AS score_e4
      FROM sc ORDER BY score_e4 DESC, phrase LIMIT 15""")),

    // OL4 — Mahalanobis outliers on the (events-per-user, cents-per-user)
    // plane: the 2-D generalization of ts8's z-score that catches points
    // univariately normal but jointly absurd (e.g. huge spend on tiny
    // activity). The 2×2 covariance comes from exact integer sums (one
    // user-grain then one corpus aggregate); the inverse is the closed
    // adjugate/det form, so d² per user is pure IEEE *,/,+,- over
    // identical inputs — engine-bit-identical, no matrix library. The
    // 1-row moment vector broadcasts onto the user table: one pass, no
    // global sort, the 100 TB shape for any fixed-dim covariance.
    Q("ol4_mahalanobis_outliers", (s, dir) => {
      val per = t(s, dir, "events")
        .select(col("user_id"),
          floor(col("value") * 100).cast("long").as("cents"))
        .groupBy("user_id")
        .agg(count(lit(1)).as("x"), sum("cents").as("y"))
      val mom = per.agg(count(lit(1)).as("n"),
        sum("x").as("sx"), sum("y").as("sy"),
        sum(col("x") * col("x")).as("sxx"),
        sum(col("x") * col("y")).as("sxy"),
        sum(col("y") * col("y")).as("syy"))
      val mx = col("sx").cast("double") / col("n")
      val my = col("sy").cast("double") / col("n")
      val cxx = col("sxx").cast("double") / col("n") - mx * mx
      val cxy = col("sxy").cast("double") / col("n") - mx * my
      val cyy = col("syy").cast("double") / col("n") - my * my
      val det = cxx * cyy - cxy * cxy
      val dx = col("x") - mx
      val dy = col("y") - my
      val d2 = (cyy * dx * dx - lit(2.0) * cxy * dx * dy + cxx * dy * dy) /
        det
      per.crossJoin(broadcast(mom))
        .withColumn("d2", d2)
        .agg(count(lit(1)).as("n_users"),
          sum(when(col("d2") > 9.0, 1L).otherwise(0L)).as("n_outliers"),
          floor(lit(1.0e4) * max(col("d2"))).cast("long").as("max_d2_e4"))
    }, Some("""
      WITH per AS (
        SELECT user_id, count(*) AS x,
               sum(CAST(floor(value * 100) AS BIGINT)) AS y
        FROM events GROUP BY user_id),
      mom AS (
        SELECT count(*) AS n, sum(x) AS sx, sum(y) AS sy,
               sum(x * x) AS sxx, sum(x * y) AS sxy, sum(y * y) AS syy
        FROM per),
      d AS (
        SELECT (CAST(syy AS DOUBLE) / n - (CAST(sy AS DOUBLE) / n)
                  * (CAST(sy AS DOUBLE) / n))
                 * (x - CAST(sx AS DOUBLE) / n) * (x - CAST(sx AS DOUBLE) / n)
               - 2.0 * (CAST(sxy AS DOUBLE) / n - (CAST(sx AS DOUBLE) / n)
                  * (CAST(sy AS DOUBLE) / n))
                 * (x - CAST(sx AS DOUBLE) / n) * (y - CAST(sy AS DOUBLE) / n)
               + (CAST(sxx AS DOUBLE) / n - (CAST(sx AS DOUBLE) / n)
                  * (CAST(sx AS DOUBLE) / n))
                 * (y - CAST(sy AS DOUBLE) / n) * (y - CAST(sy AS DOUBLE) / n)
               AS qnum,
               (CAST(sxx AS DOUBLE) / n - (CAST(sx AS DOUBLE) / n)
                  * (CAST(sx AS DOUBLE) / n))
               * (CAST(syy AS DOUBLE) / n - (CAST(sy AS DOUBLE) / n)
                  * (CAST(sy AS DOUBLE) / n))
               - (CAST(sxy AS DOUBLE) / n - (CAST(sx AS DOUBLE) / n)
                  * (CAST(sy AS DOUBLE) / n))
               * (CAST(sxy AS DOUBLE) / n - (CAST(sx AS DOUBLE) / n)
                  * (CAST(sy AS DOUBLE) / n)) AS det
        FROM per, mom)
      SELECT count(*) AS n_users,
             CAST(sum(CASE WHEN qnum / det > 9.0 THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_outliers,
             CAST(floor(1.0e4 * max(qnum / det)) AS BIGINT) AS max_d2_e4
      FROM d""")),

    // W18 — Hamilton (largest-remainder) apportionment: split a
    // 1000-seat budget across nations exactly proportional to customer
    // count, in pure integers — floors by integer division, then the
    // leftover seats go to the largest remainders (ties on nation key).
    // This is the EXACT version of sa14's floor-allocation (which may
    // leave budget on the table); Σ seats = budget is a law of the
    // algorithm and the spec asserts it. One nation-grain aggregate and
    // a 25-row window — allocation logic never touches corpus grain.
    Q("w18_hamilton_apportionment", (s, dir) => {
      val wAll = Window.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing)
      val wRem = Window.orderBy(col("rem").desc, col("nat"))
      t(s, dir, "customer")
        .groupBy(col("c_nationkey").cast("long").as("nat"))
        .agg(count(lit(1)).as("n"))
        .withColumn("ntot", sum("n").over(wAll))
        .withColumn("fl", expr("(1000 * n) div ntot"))
        .withColumn("rem", lit(1000) * col("n") - col("fl") * col("ntot"))
        .withColumn("leftover", lit(1000) - sum("fl").over(wAll))
        .withColumn("pos", row_number().over(wRem))
        .select(col("nat"), col("n"), col("fl").as("floor_seats"),
          when(col("pos") <= col("leftover"), 1L).otherwise(0L).as("extra"))
        .withColumn("seats", col("floor_seats") + col("extra"))
        .orderBy("nat")
    }, Some("""
      WITH per AS (
        SELECT CAST(c_nationkey AS BIGINT) AS nat, count(*) AS n
        FROM customer GROUP BY 1),
      q AS (
        SELECT nat, n,
               sum(n) OVER () AS ntot,
               (1000 * n) // sum(n) OVER () AS fl
        FROM per),
      r AS (
        SELECT nat, n, fl,
               1000 * n - fl * ntot AS rem,
               1000 - sum(fl) OVER () AS leftover
        FROM q),
      p AS (
        SELECT nat, n, fl, leftover,
               row_number() OVER (ORDER BY rem DESC, nat) AS pos
        FROM r)
      SELECT nat, n, CAST(fl AS BIGINT) AS floor_seats,
             CAST(CASE WHEN pos <= leftover THEN 1 ELSE 0 END AS BIGINT)
               AS extra,
             CAST(fl + CASE WHEN pos <= leftover THEN 1 ELSE 0 END
                  AS BIGINT) AS seats
      FROM p ORDER BY nat""")),

    // TS11 — lagged cross-correlation: Pearson r between the URGENT and
    // LOW daily-revenue series at lags −3..+3 — the lead/lag screen run
    // before any causal claim about two streams. Day alignment is an
    // equi-join on the integer epoch-day + lag; every sum is carried in
    // DECIMAL/HUGEINT (Σxy over cents² overflows int64 at corpus scale,
    // and float sums are association-ordered), the variance/covariance
    // composition happens once in doubles, and sqrt is IEEE-exact. One
    // day-grain aggregate, then 7 × day-count join work on a bounded
    // table.
    Q("ts11_cross_correlation", (s, dir) => {
      val daily = t(s, dir, "orders")
        .groupBy(col("o_orderpriority").as("pri"),
          datediff(to_date(col("o_orderdate")), lit("1992-01-01"))
            .cast("long").as("d"))
        .agg(sum(floor(col("o_totalprice") * 100).cast("long")).as("cents"))
        .localCheckpoint() // both series come off this frame
      val x = daily.filter(col("pri") === "1-URGENT")
        .select(col("d"), col("cents").as("xv"))
      val y = daily.filter(col("pri") === "5-LOW")
        .select(col("d").as("dy"), col("cents").as("yv"))
      val lags = x.select(explode(sequence(lit(-3), lit(3))).as("lag"),
        col("d"), col("xv"))
      val j = lags.join(y, col("dy") === col("d") + col("lag"))
        .groupBy("lag")
        .agg(count(lit(1)).as("n"),
          sum("xv").as("sx"), sum("yv").as("sy"),
          sum(col("xv").cast("decimal(38,0)") * col("yv")).as("sxy"),
          sum(col("xv").cast("decimal(38,0)") * col("xv")).as("sxx"),
          sum(col("yv").cast("decimal(38,0)") * col("yv")).as("syy"))
      val num = (col("n").cast("decimal(38,0)") * col("sxy") -
        col("sx").cast("decimal(38,0)") * col("sy")).cast("double")
      val vx = (col("n").cast("decimal(38,0)") * col("sxx") -
        col("sx").cast("decimal(38,0)") * col("sx")).cast("double")
      val vy = (col("n").cast("decimal(38,0)") * col("syy") -
        col("sy").cast("decimal(38,0)") * col("sy")).cast("double")
      j.select(col("lag").cast("long").as("lag"), col("n"),
          floor(lit(1.0e6) * (num / (sqrt(vx) * sqrt(vy)))).cast("long")
            .as("corr_e6"))
        .orderBy("lag")
    }, Some("""
      WITH daily AS (
        SELECT o_orderpriority AS pri,
               CAST(datediff('day', DATE '1992-01-01',
                 CAST(o_orderdate AS DATE)) AS BIGINT) AS d,
               sum(CAST(floor(o_totalprice * 100) AS BIGINT)) AS cents
        FROM orders GROUP BY 1, 2),
      x AS (SELECT d, cents AS xv FROM daily WHERE pri = '1-URGENT'),
      y AS (SELECT d AS dy, cents AS yv FROM daily WHERE pri = '5-LOW'),
      lx AS (
        SELECT d, xv, lag
        FROM x, UNNEST(generate_series(-3, 3)) AS t(lag)),
      j AS (
        SELECT lag, count(*) AS n, sum(xv) AS sx, sum(yv) AS sy,
               sum(CAST(xv AS HUGEINT) * yv) AS sxy,
               sum(CAST(xv AS HUGEINT) * xv) AS sxx,
               sum(CAST(yv AS HUGEINT) * yv) AS syy
        FROM lx JOIN y ON dy = d + lag
        GROUP BY lag)
      SELECT CAST(lag AS BIGINT) AS lag, n,
             CAST(floor(1.0e6 *
               (CAST(CAST(n AS HUGEINT) * sxy
                     - CAST(sx AS HUGEINT) * sy AS DOUBLE)
                / (sqrt(CAST(CAST(n AS HUGEINT) * sxx
                        - CAST(sx AS HUGEINT) * sx AS DOUBLE))
                   * sqrt(CAST(CAST(n AS HUGEINT) * syy
                          - CAST(sy AS HUGEINT) * sy AS DOUBLE)))))
               AS BIGINT) AS corr_e6
      FROM j ORDER BY lag""")),

    // K24 — partition-granularity planner: for day / week / month
    // partitioning of the orders table, the partitions touched and rows
    // scanned by three canonical date-range probes (a month slice, a
    // week slice, a full year) against the rows that actually match —
    // the scan-amplification table that decides a table's partition
    // scheme before anyone pays for the wrong one. A grid-aligned
    // partition overlaps [s, e] iff trunc(s) <= p <= e, so "touched" is
    // a range count over the partition-stats table (date_trunc week
    // starts Monday on BOTH engines). Partition stats are one
    // fact-grain aggregate per granularity; the 3-row probe dim
    // broadcasts.
    Q("k24_partition_planner", (s, dir) => {
      val probes = Seq(
        ("q1_month", "1997-02-15", "1997-03-15"),
        ("q2_week", "1996-06-01", "1996-06-08"),
        ("q3_year", "1998-01-01", "1998-12-31"))
      val probeDf = s.createDataFrame(probes).toDF("probe", "ps", "pe")
        .select(col("probe"), to_date(col("ps")).as("ps"),
          to_date(col("pe")).as("pe"))
      val dated = t(s, dir, "orders")
        .select(to_date(col("o_orderdate")).as("dt"))
      val parts = Seq("day", "week", "month").map { g =>
        dated.groupBy(date_trunc(g, col("dt")).cast("date").as("p"))
          .agg(count(lit(1)).as("rows"))
          .select(lit(g).as("gran"), col("p"), col("rows"))
      }.reduce(_ unionByName _)
      val wTot = Window.partitionBy("gran")
      val touched = parts
        .withColumn("n_partitions", count(lit(1)).over(wTot))
        .join(broadcast(probeDf),
          col("p") >= when(col("gran") === "day",
              date_trunc("day", col("ps")).cast("date"))
            .when(col("gran") === "week",
              date_trunc("week", col("ps")).cast("date"))
            .otherwise(date_trunc("month", col("ps")).cast("date"))
            && col("p") <= col("pe"))
        .groupBy("gran", "probe")
        .agg(max("n_partitions").as("n_partitions"),
          count(lit(1)).as("parts_touched"),
          sum("rows").as("rows_scanned"))
      val matching = dated.crossJoin(broadcast(probeDf))
        .filter(col("dt") >= col("ps") && col("dt") <= col("pe"))
        .groupBy("probe").agg(count(lit(1)).as("rows_matching"))
      touched.join(matching, "probe")
        .select(col("gran"), col("probe"), col("n_partitions"),
          col("parts_touched"), col("rows_scanned"), col("rows_matching"),
          floor(lit(1.0e4) * col("rows_scanned") / col("rows_matching"))
            .cast("long").as("amp_e4"))
        .orderBy("gran", "probe")
    }, Some("""
      WITH probes AS (
        SELECT 'q1_month' AS probe, DATE '1997-02-15' AS ps,
               DATE '1997-03-15' AS pe
        UNION ALL SELECT 'q2_week', DATE '1996-06-01', DATE '1996-06-08'
        UNION ALL SELECT 'q3_year', DATE '1998-01-01', DATE '1998-12-31'),
      dated AS (SELECT CAST(o_orderdate AS DATE) AS dt FROM orders),
      parts AS (
        SELECT 'day' AS gran, CAST(date_trunc('day', dt) AS DATE) AS p,
               count(*) AS rows_
        FROM dated GROUP BY 2
        UNION ALL
        SELECT 'week', CAST(date_trunc('week', dt) AS DATE), count(*)
        FROM dated GROUP BY 2
        UNION ALL
        SELECT 'month', CAST(date_trunc('month', dt) AS DATE), count(*)
        FROM dated GROUP BY 2),
      tot AS (
        SELECT gran, count(*) AS n_partitions FROM parts GROUP BY gran),
      touched AS (
        SELECT parts.gran, probe,
               count(*) AS parts_touched, sum(rows_) AS rows_scanned
        FROM parts JOIN probes
          ON parts.p >= CASE parts.gran
               WHEN 'day' THEN CAST(date_trunc('day', probes.ps) AS DATE)
               WHEN 'week' THEN CAST(date_trunc('week', probes.ps) AS DATE)
               ELSE CAST(date_trunc('month', probes.ps) AS DATE) END
         AND parts.p <= probes.pe
        GROUP BY 1, 2),
      matching AS (
        SELECT probe, count(*) AS rows_matching
        FROM dated JOIN probes ON dt >= ps AND dt <= pe
        GROUP BY 1)
      SELECT t.gran, t.probe, tot.n_partitions, t.parts_touched,
             CAST(t.rows_scanned AS BIGINT) AS rows_scanned,
             m.rows_matching,
             CAST(floor(1.0e4 * t.rows_scanned / m.rows_matching)
                  AS BIGINT) AS amp_e4
      FROM touched t JOIN tot ON t.gran = tot.gran
                     JOIN matching m ON t.probe = m.probe
      ORDER BY t.gran, t.probe""")),

    // TS13 — Mann–Kendall trend test on monthly URGENT revenue: the
    // nonparametric "is this series trending?" companion to ts9's
    // Theil–Sen slope — S = Σ sign(x_j − x_i) over time-ordered pairs,
    // tie-corrected variance, continuity-corrected z. Everything except
    // the FINAL sqrt is exact integer: signs are CASE ±1, the pair sum,
    // the tie term Σt(t−1)(2t+5), and var·18 all ride int64 (n≈84 months).
    // Scale shape: the O(n²) pair join runs on the bounded month grid
    // (ts9/cs24's argument) — a constant of the calendar span, never the
    // corpus; the corpus-grain work is one month groupBy.
    Q("ts13_mann_kendall", (s, dir) => {
      val monthly = t(s, dir, "orders")
        .filter(col("o_orderpriority") === "1-URGENT")
        .groupBy(((year(to_date(col("o_orderdate"))) - 1992) * 12 +
          month(to_date(col("o_orderdate"))) - 1).cast("long").as("m"))
        .agg(sum(floor(col("o_totalprice") * 100).cast("long")).as("x"))
        .localCheckpoint() // feeds pairs, ties, and n
      val a = monthly.select(col("m").as("m1"), col("x").as("x1"))
      val b = monthly.select(col("m").as("m2"), col("x").as("x2"))
      val sRow = a.crossJoin(b).filter(col("m1") < col("m2"))
        .agg(coalesce(sum(when(col("x2") > col("x1"), 1L)
          .when(col("x2") < col("x1"), -1L).otherwise(0L)), lit(0L)).as("s"))
      val tieRow = monthly.groupBy("x").agg(count(lit(1)).as("t"))
        .agg(coalesce(sum(col("t") * (col("t") - 1) *
          (lit(2L) * col("t") + 5)), lit(0L)).as("tt"))
      val nRow = monthly.agg(count(lit(1)).as("n"))
      sRow.crossJoin(broadcast(tieRow)).crossJoin(broadcast(nRow))
        .selectExpr("n AS n_months", "s AS s_stat",
          "n * (n - 1L) * (2L * n + 5L) - tt AS var18",
          "CASE WHEN s > 0 THEN CAST(floor(1.0e6 * (s - 1) / " +
            "sqrt(CAST(n * (n - 1L) * (2L * n + 5L) - tt AS DOUBLE) " +
            "/ 18.0)) AS BIGINT) " +
            "WHEN s < 0 THEN CAST(floor(1.0e6 * (s + 1) / " +
            "sqrt(CAST(n * (n - 1L) * (2L * n + 5L) - tt AS DOUBLE) " +
            "/ 18.0)) AS BIGINT) " +
            "ELSE CAST(0 AS BIGINT) END AS z_e6")
    }, Some("""
      WITH monthly AS (
        SELECT CAST((year(CAST(o_orderdate AS DATE)) - 1992) * 12 +
                 month(CAST(o_orderdate AS DATE)) - 1 AS BIGINT) AS m,
               sum(CAST(floor(o_totalprice * 100) AS BIGINT)) AS x
        FROM orders WHERE o_orderpriority = '1-URGENT' GROUP BY 1),
      st AS (
        SELECT CAST(coalesce(sum(CASE WHEN b.x > a.x THEN 1
                 WHEN b.x < a.x THEN -1 ELSE 0 END), 0) AS BIGINT) AS s
        FROM monthly a JOIN monthly b ON a.m < b.m),
      tt AS (
        SELECT CAST(coalesce(sum(t * (t - 1) * (2 * t + 5)), 0) AS BIGINT)
                 AS tt
        FROM (SELECT count(*) AS t FROM monthly GROUP BY x)),
      nn AS (SELECT count(*) AS n FROM monthly)
      SELECT n AS n_months, s AS s_stat,
             CAST(n * (n - 1) * (2 * n + 5) - tt AS BIGINT) AS var18,
             CASE WHEN s > 0 THEN CAST(floor(1.0e6 * (s - 1) /
                    sqrt(CAST(n * (n - 1) * (2 * n + 5) - tt AS DOUBLE) /
                    18.0)) AS BIGINT)
                  WHEN s < 0 THEN CAST(floor(1.0e6 * (s + 1) /
                    sqrt(CAST(n * (n - 1) * (2 * n + 5) - tt AS DOUBLE) /
                    18.0)) AS BIGINT)
                  ELSE CAST(0 AS BIGINT) END AS z_e6
      FROM st, tt, nn""")),

    // K26 — roaring-style bitmap-index container census: for each order
    // priority's customer posting set, the key space splits into 4096-key
    // containers (the 2¹²-scaled twin of roaring's 2¹⁶ chunks, sized to
    // the testdata keyspace) and each container picks its cheaper
    // physical form — a sorted array at 2 bytes/key below 256 keys, a
    // 512-byte bitmap at or above — exactly the array/bitmap crossover
    // rule. The census grades the bytes the index would occupy against
    // the plain 8-byte postings list. Pure integer arithmetic end to end;
    // the corpus-grain work is ONE distinct + count at container grain,
    // shuffled on (priority, container) — never a per-key loop.
    Q("k26_bitmap_container_census", (s, dir) => {
      val perChunk = t(s, dir, "orders")
        .selectExpr("o_orderpriority AS pri",
          "CAST(o_custkey AS BIGINT) div 4096 AS chunk",
          "CAST(o_custkey AS BIGINT) AS k")
        .distinct()
        .groupBy("pri", "chunk")
        .agg(count(lit(1)).as("ndv"))
      perChunk.groupBy("pri")
        .agg(count(lit(1)).as("containers"),
          sum("ndv").as("keys"),
          sum(when(col("ndv") < 256, 1L).otherwise(0L))
            .as("array_containers"),
          sum(when(col("ndv") >= 256, 1L).otherwise(0L))
            .as("bitmap_containers"),
          sum(when(col("ndv") < 256, lit(2L) * col("ndv"))
            .otherwise(512L)).as("roaring_bytes"))
        .selectExpr("pri", "containers", "keys", "array_containers",
          "bitmap_containers", "roaring_bytes",
          "8L * keys AS list_bytes",
          "roaring_bytes * 1000000L div (8L * keys) AS ratio_e6")
        .orderBy("pri")
    }, Some("""
      WITH pc AS (
        SELECT pri, chunk, count(*) AS ndv FROM (
          SELECT DISTINCT o_orderpriority AS pri,
                 CAST(o_custkey AS BIGINT) // 4096 AS chunk,
                 CAST(o_custkey AS BIGINT) AS k
          FROM orders) GROUP BY 1, 2),
      agg AS (
        SELECT pri, count(*) AS containers, sum(ndv) AS keys,
               sum(CASE WHEN ndv < 256 THEN 1 ELSE 0 END)
                 AS array_containers,
               sum(CASE WHEN ndv >= 256 THEN 1 ELSE 0 END)
                 AS bitmap_containers,
               sum(CASE WHEN ndv < 256 THEN 2 * ndv ELSE 512 END)
                 AS roaring_bytes
        FROM pc GROUP BY 1)
      SELECT pri, CAST(containers AS BIGINT) AS containers,
             CAST(keys AS BIGINT) AS keys,
             CAST(array_containers AS BIGINT) AS array_containers,
             CAST(bitmap_containers AS BIGINT) AS bitmap_containers,
             CAST(roaring_bytes AS BIGINT) AS roaring_bytes,
             CAST(8 * keys AS BIGINT) AS list_bytes,
             CAST(roaring_bytes * 1000000 // (8 * keys) AS BIGINT)
               AS ratio_e6
      FROM agg ORDER BY pri""")),

    // TX22 — Flesch readability profile per document: sentences, words,
    // and syllables are PURE regex-match counts (integers — '[.!?]+' runs
    // + 1 for the trailing sentence, '[a-z0-9]+' word runs, '[aeiouy]+'
    // vowel groups as the classic syllable heuristic), so the only doubles
    // are the two textbook formulas evaluated per row in identical op
    // order — no cross-row double sums anywhere. Complements tx2 (quality
    // rules) with the standard readability axis a curation pipeline bins
    // on. Expression-only over the scan: zero shuffles before the
    // presentation sort.
    Q("tx22_readability", (s, dir) =>
      t(s, dir, "documents")
        .select(col("doc_id").cast("long").as("doc_id"),
          (size(regexp_extract_all(col("text"), lit("[.!?]+"), lit(0))) + 1)
            .cast("long").as("sentences"),
          size(regexp_extract_all(lower(col("text")), lit("[a-z0-9]+"),
            lit(0))).cast("long").as("words"),
          size(regexp_extract_all(lower(col("text")), lit("[aeiouy]+"),
            lit(0))).cast("long").as("syllables"))
        .filter(col("words") > 0)
        .selectExpr("doc_id", "sentences", "words", "syllables",
          "CAST(floor(100.0 * (206.835 - " +
            "1.015 * (CAST(words AS DOUBLE) / sentences) - " +
            "84.6 * (CAST(syllables AS DOUBLE) / words))) AS BIGINT) " +
            "AS ease_e2",
          "CAST(floor(100.0 * (0.39 * (CAST(words AS DOUBLE) / sentences) " +
            "+ 11.8 * (CAST(syllables AS DOUBLE) / words) - 15.59)) " +
            "AS BIGINT) AS grade_e2")
        .orderBy("doc_id"),
      Some("""
      WITH c AS (
        SELECT CAST(doc_id AS BIGINT) AS doc_id,
               CAST(len(regexp_extract_all(text, '[.!?]+')) + 1 AS BIGINT)
                 AS sentences,
               CAST(len(regexp_extract_all(lower(text), '[a-z0-9]+'))
                 AS BIGINT) AS words,
               CAST(len(regexp_extract_all(lower(text), '[aeiouy]+'))
                 AS BIGINT) AS syllables
        FROM documents)
      SELECT doc_id, sentences, words, syllables,
             CAST(floor(100.0 * (206.835 -
               1.015 * (CAST(words AS DOUBLE) / sentences) -
               84.6 * (CAST(syllables AS DOUBLE) / words))) AS BIGINT)
               AS ease_e2,
             CAST(floor(100.0 * (0.39 * (CAST(words AS DOUBLE) / sentences)
               + 11.8 * (CAST(syllables AS DOUBLE) / words) - 15.59))
               AS BIGINT) AS grade_e2
      FROM c WHERE words > 0 ORDER BY doc_id""")),

    // CS28 — one-way ANOVA across order priorities on integer-dollar
    // order values: the between/within variance decomposition behind every
    // "does this grouping matter?" question. The engine-parity trick is
    // the DIV-WITH-REMAINDER expansion — floor(S²·1000/n) =
    // (S div n)·S·1000 + ((S mod n)·S·1000) div n — which keeps every
    // intermediate inside int64 at any SF where a group's dollar sum
    // fits (the sums themselves ride decimal/HUGEINT), so SSB/SSW are
    // EXACT scaled integers, never a float subtraction of near-equal
    // magnitudes. One double division at the end for F. Scale shape: one
    // mergeable power-sum aggregate, then 5-row algebra.
    Q("cs28_anova_f", (s, dir) => {
      val grp = t(s, dir, "orders")
        .select(col("o_orderpriority").as("pri"),
          floor(col("o_totalprice")).cast("long").as("x"))
        .groupBy("pri")
        .agg(count(lit(1)).as("ng"), sum("x").as("sg"),
          sum((col("x") * col("x")).cast("decimal(38,0)")).as("qg"))
        .selectExpr("pri", "ng", "sg", "qg",
          "(sg div ng) * sg * 1000L + ((sg % ng) * sg * 1000L) div ng " +
            "AS term_e3")
      val tot = grp.agg(
          sum("ng").as("n"), sum("sg").as("s"),
          sum("qg").as("q"), count(lit(1)).as("k"),
          sum(col("term_e3").cast("decimal(38,0)")).as("terms"))
        .selectExpr("n", "k", "terms",
          "(s div n) * s * 1000L + ((s % n) * s * 1000L) div n AS gterm_e3",
          "q * 1000L AS q_e3")
        .selectExpr("n", "k",
          "CAST(terms - gterm_e3 AS BIGINT) AS ssb_e3",
          "CAST(q_e3 - terms AS BIGINT) AS ssw_e3")
      tot.selectExpr("n", "k", "ssb_e3", "ssw_e3",
        "CAST(floor(1.0e6 * (CAST(ssb_e3 AS DOUBLE) * (n - k)) / " +
          "(CAST(ssw_e3 AS DOUBLE) * (k - 1))) AS BIGINT) AS f_e6",
        "CAST(floor(1.0e6 * CAST(ssb_e3 AS DOUBLE) / " +
          "CAST(ssb_e3 + ssw_e3 AS DOUBLE)) AS BIGINT) AS eta2_e6")
    }, Some("""
      WITH grp AS (
        SELECT o_orderpriority AS pri, count(*) AS ng,
               sum(CAST(floor(o_totalprice) AS BIGINT)) AS sg,
               sum(CAST(floor(o_totalprice) AS HUGEINT) *
                   CAST(floor(o_totalprice) AS HUGEINT)) AS qg
        FROM orders GROUP BY 1),
      te AS (
        SELECT pri, ng, sg, qg,
               (sg // ng) * sg * 1000 + ((sg % ng) * sg * 1000) // ng
                 AS term_e3
        FROM grp),
      tot AS (
        SELECT sum(ng) AS n, sum(sg) AS s, sum(qg) AS q, count(*) AS k,
               sum(CAST(term_e3 AS HUGEINT)) AS terms
        FROM te),
      g AS (
        SELECT n, k, terms,
               (s // n) * s * 1000 + ((s % n) * s * 1000) // n AS gterm_e3,
               q * 1000 AS q_e3
        FROM tot),
      fin AS (
        SELECT n, k, CAST(terms - gterm_e3 AS BIGINT) AS ssb_e3,
               CAST(q_e3 - terms AS BIGINT) AS ssw_e3
        FROM g)
      SELECT CAST(n AS BIGINT) AS n, CAST(k AS BIGINT) AS k, ssb_e3, ssw_e3,
             CAST(floor(1.0e6 * (CAST(ssb_e3 AS DOUBLE) * (n - k)) /
               (CAST(ssw_e3 AS DOUBLE) * (k - 1))) AS BIGINT) AS f_e6,
             CAST(floor(1.0e6 * CAST(ssb_e3 AS DOUBLE) /
               CAST(ssb_e3 + ssw_e3 AS DOUBLE)) AS BIGINT) AS eta2_e6
      FROM fin""")),

    // KM1 — Kaplan–Meier survival of "weeks until a customer's second
    // order", right-censored at the dataset horizon for one-order
    // customers: THE estimator for time-to-event curation questions
    // (label delay, churn, repeat-rate). The graded risk table —
    // n_at_risk, deaths, censored per event week — is exact integers by
    // construction (risk set = total − running (d+c) BEFORE the week);
    // the survival curve is the one log-space cumulative product
    // (Σ ln(1−d/n) in TIME order on both engines — identical summation
    // sequence, identical doubles), floored at e4 for ulp margin (tx13's
    // convention). Corpus-grain work: one per-customer window; the KM
    // table itself is week-grain bounded.
    Q("km1_kaplan_meier", (s, dir) => {
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
        .withColumn("total", sum(col("d") + col("c")).over(
          wT.rowsBetween(Window.unboundedPreceding,
            Window.unboundedFollowing)))
        .withColumn("n_risk", col("total") - coalesce(
          sum(col("d") + col("c")).over(
            wT.rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
        // d = n_risk can only occur on the LAST row (the risk set is empty
        // after it): S drops to exactly 0 there, and the guard keeps ln()
        // away from zero on BOTH engines (Spark log(0) is null, DuckDB
        // ln(0) errors).
        .withColumn("surv_e4", when(col("d") >= col("n_risk"), lit(0L))
          .otherwise(floor(lit(1.0e4) * exp(
            sum(when(col("d") < col("n_risk"),
              log(lit(1.0) - col("d").cast("double") / col("n_risk")))
              .otherwise(lit(0.0)))
              .over(wT.rowsBetween(Window.unboundedPreceding,
                Window.currentRow)))).cast("long")))
        .select(col("tw"), col("n_risk"), col("d"), col("c"),
          col("surv_e4"))
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
             CASE WHEN d >= n_risk THEN 0 ELSE
               CAST(floor(1.0e4 * exp(
                 sum(CASE WHEN d < n_risk
                     THEN ln(1.0 - CAST(d AS DOUBLE) / n_risk)
                     ELSE 0.0 END) OVER (ORDER BY tw
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)))
                 AS BIGINT) END AS surv_e4
      FROM risk ORDER BY tw""")),

    // SA17 — Kish design effect / effective sample size per order
    // priority: when a training mixture weights units unequally (sa4's
    // temperature mixing, importance sampling), the variance-equivalent
    // sample size is not n but neff = (Σw)²/Σw² — Kish's formula. Weights
    // here are each customer's order count within the priority, so the
    // WHOLE query is integer arithmetic: Σw and Σw² are exact sums and
    // both ratios are scaled integer divisions — no doubles anywhere.
    // deff ≥ 1e6 (scaled) is a law the spec asserts. Scale shape: one
    // (priority, customer) groupBy, then 5-row algebra.
    Q("sa17_kish_deff", (s, dir) => {
      val w = t(s, dir, "orders")
        .groupBy(col("o_orderpriority").as("pri"), col("o_custkey"))
        .agg(count(lit(1)).as("w"))
      w.groupBy("pri")
        .agg(count(lit(1)).as("n_units"),
          sum("w").as("sum_w"),
          sum(col("w") * col("w")).as("sum_w2"))
        .selectExpr("pri", "n_units", "sum_w", "sum_w2",
          "n_units * sum_w2 * 1000000L div (sum_w * sum_w) AS deff_e6",
          "sum_w * sum_w * 1000000L div (n_units * sum_w2) AS neff_ratio_e6",
          "sum_w * sum_w div sum_w2 AS neff_units")
        .orderBy("pri")
    }, Some("""
      WITH w AS (
        SELECT o_orderpriority AS pri, o_custkey, count(*) AS w
        FROM orders GROUP BY 1, 2),
      a AS (
        SELECT pri, count(*) AS n_units, sum(w) AS sum_w,
               sum(w * w) AS sum_w2
        FROM w GROUP BY 1)
      SELECT pri, CAST(n_units AS BIGINT) AS n_units,
             CAST(sum_w AS BIGINT) AS sum_w,
             CAST(sum_w2 AS BIGINT) AS sum_w2,
             CAST(n_units * sum_w2 * 1000000 // (sum_w * sum_w) AS BIGINT)
               AS deff_e6,
             CAST(sum_w * sum_w * 1000000 // (n_units * sum_w2) AS BIGINT)
               AS neff_ratio_e6,
             CAST(sum_w * sum_w // sum_w2 AS BIGINT) AS neff_units
      FROM a ORDER BY pri""")),

    // K27 — partition-balance audit, hash vs equal-width range: the
    // shuffle-planner question behind every repartition() — does the
    // scheme keep 32 reducers even? Hash buckets ride the engine-portable
    // md5 convention (j13/ml11's hex-slice, never JVM hashCode); the range
    // scheme cuts [min,max] of the SKEWED o_totalprice into 32 equal
    // widths, the classic mistake on a long-tailed column — the audit
    // grades exactly how bad it is (skew_e6 = max·P/total, perfectly
    // balanced = 1e6). Pure integers; the min/max row is a 1-row
    // broadcast; everything else is two bucket-grain aggregates.
    Q("k27_partition_balance", (s, dir) => {
      val o = t(s, dir, "orders").select(
        col("o_custkey").cast("long").as("k"),
        floor(col("o_totalprice")).cast("long").as("p"))
      val bounds = o.agg(min("p").as("plo"), max("p").as("phi"))
      val bucketed = o.crossJoin(broadcast(bounds))
        .selectExpr(
          "CAST(conv(substring(md5(CAST(CAST(k AS STRING) AS BINARY)), " +
            "1, 8), 16, 10) AS BIGINT) % 32 AS hash_b",
          "least(31L, (p - plo) * 32L div (phi - plo + 1L)) AS range_b")
      def census(df: org.apache.spark.sql.DataFrame, bCol: String,
                 label: String) = df.groupBy(col(bCol).as("b"))
        .agg(count(lit(1)).as("cnt"))
        .agg(count(lit(1)).as("buckets"), sum("cnt").as("total"),
          max("cnt").as("max_rows"), min("cnt").as("min_rows"))
        .select(lit(label).as("scheme"), col("buckets"), col("total"),
          col("max_rows"), col("min_rows"))
      val hash = census(bucketed, "hash_b", "hash_md5")
      val range = census(bucketed, "range_b", "range_price")
      hash.unionAll(range)
        .selectExpr("scheme", "buckets", "total", "max_rows", "min_rows",
          "max_rows * 32L * 1000000L div total AS skew_e6")
        .orderBy("scheme")
    }, Some("""
      WITH o AS (
        SELECT CAST(o_custkey AS BIGINT) AS k,
               CAST(floor(o_totalprice) AS BIGINT) AS p
        FROM orders),
      bounds AS (SELECT min(p) AS plo, max(p) AS phi FROM o),
      b AS (
        SELECT CAST(list_sum(list_transform(generate_series(0, 7), i ->
                 (strpos('0123456789abcdef',
                         substr(md5(CAST(k AS VARCHAR)), 1 + i, 1)) - 1)
                 * CAST(16.0 ** (7 - i) AS BIGINT))) AS BIGINT) % 32
                 AS hash_b,
               least(31, (p - plo) * 32 // (phi - plo + 1)) AS range_b
        FROM o, bounds),
      h AS (
        SELECT 'hash_md5' AS scheme, count(*) AS buckets,
               sum(cnt) AS total, max(cnt) AS max_rows, min(cnt) AS min_rows
        FROM (SELECT hash_b, count(*) AS cnt FROM b GROUP BY 1)),
      r AS (
        SELECT 'range_price' AS scheme, count(*) AS buckets,
               sum(cnt) AS total, max(cnt) AS max_rows, min(cnt) AS min_rows
        FROM (SELECT range_b, count(*) AS cnt FROM b GROUP BY 1)),
      u AS (SELECT * FROM h UNION ALL SELECT * FROM r)
      SELECT scheme, CAST(buckets AS BIGINT) AS buckets,
             CAST(total AS BIGINT) AS total,
             CAST(max_rows AS BIGINT) AS max_rows,
             CAST(min_rows AS BIGINT) AS min_rows,
             CAST(max_rows * 32 * 1000000 // total AS BIGINT) AS skew_e6
      FROM u ORDER BY scheme""")),

    // OL6 — Grubbs' test (maximum studentized deviate) on the URGENT
    // daily-revenue series: the PARAMETRIC outlier test beside ol2's MAD
    // and ol5's IQR fences. Deviations are the exact n-scaled integers
    // e = n·y − Σy (ts12's move), so max|e| and Σe² are exact
    // DECIMAL/HUGEINT; G = max|x−x̄|/s reduces to
    // max|e| / sqrt(Σe²/(n−1)) — ONE double division + sqrt. The peak day
    // is picked by a deterministic (|e| desc, day asc) rank, never by a
    // float argmax.
    Q("ol6_grubbs", (s, dir) => {
      val daily = t(s, dir, "orders")
        .filter(col("o_orderpriority") === "1-URGENT")
        .groupBy(datediff(to_date(col("o_orderdate")), lit("1992-01-01"))
          .cast("long").as("d"))
        .agg(sum(floor(col("o_totalprice") * 100).cast("long")).as("y"))
      val tot = daily.agg(count(lit(1)).as("n"), sum("y").as("sy"))
      val dev = daily.crossJoin(broadcast(tot))
        .select(col("d"), col("n"),
          (col("n") * col("y") - col("sy")).as("e"))
      val wPk = Window.orderBy(abs(col("e")).desc, col("d"))
      dev.withColumn("rnk", row_number().over(wPk))
        .withColumn("peak_d", max(when(col("rnk") === 1, col("d")))
          .over(Window.rowsBetween(Window.unboundedPreceding,
            Window.unboundedFollowing)))
        .groupBy("peak_d")
        .agg(max("n").as("n_days"),
          max(abs(col("e"))).as("max_abs_e"),
          sum(col("e").cast("decimal(38,0)") * col("e")).as("__se2"))
        .selectExpr("n_days", "peak_d", "max_abs_e",
          "CAST(floor(1.0e6 * CAST(max_abs_e AS DOUBLE) / " +
            "sqrt(CAST(__se2 AS DOUBLE) / CAST(n_days - 1 AS DOUBLE))) " +
            "AS BIGINT) AS g_e6")
    }, Some("""
      WITH daily AS (
        SELECT CAST(datediff('day', DATE '1992-01-01',
                 CAST(o_orderdate AS DATE)) AS BIGINT) AS d,
               sum(CAST(floor(o_totalprice * 100) AS BIGINT)) AS y
        FROM orders WHERE o_orderpriority = '1-URGENT' GROUP BY 1),
      tot AS (SELECT count(*) AS n, sum(y) AS sy FROM daily),
      dev AS (SELECT d, n, n * y - sy AS e FROM daily, tot),
      pk AS (
        SELECT d AS peak_d FROM dev
        ORDER BY abs(e) DESC, d LIMIT 1),
      a AS (
        SELECT max(n) AS n_days, max(abs(e)) AS max_abs_e,
               sum(CAST(e AS HUGEINT) * e) AS se2
        FROM dev)
      SELECT CAST(n_days AS BIGINT) AS n_days,
             CAST(peak_d AS BIGINT) AS peak_d,
             CAST(max_abs_e AS BIGINT) AS max_abs_e,
             CAST(floor(1.0e6 * CAST(max_abs_e AS DOUBLE) /
               sqrt(CAST(se2 AS DOUBLE) / CAST(n_days - 1 AS DOUBLE)))
               AS BIGINT) AS g_e6
      FROM a, pk""")),

    // TS14 — Hurst exponent by rescaled-range (R/S) analysis over the
    // URGENT daily-revenue series: long-range dependence in one number
    // (H≈0.5 random walk, >0.5 trending, <0.5 mean-reverting). Inside
    // each w-day block the cumulative deviations are the EXACT integers
    // Z_j = w·cumsum(y) − j·Σy (ts12's n-scaling), so R = maxZ−minZ and
    // the variance term w·Σy²−S² are exact; each block contributes ONE
    // floored integer rs_e6 (a single double div+sqrt), block means are
    // integer division, and the final log-log slope runs over the FOUR
    // pivoted block means in one fixed-order expression (x = log2 w ∈
    // {3,4,5,6} is integer, Σ(x−x̄)² = 5, ln(2) written as a literal) —
    // no cross-row double sums anywhere. Window sizes explode scan-side;
    // every window is (w, block)-partitioned.
    Q("ts14_hurst", (s, dir) => {
      val wIdx = Window.orderBy("d")
      val daily = t(s, dir, "orders")
        .filter(col("o_orderpriority") === "1-URGENT")
        .groupBy(datediff(to_date(col("o_orderdate")), lit("1992-01-01"))
          .cast("long").as("d"))
        .agg(sum(floor(col("o_totalprice") * 100).cast("long")).as("y"))
        .withColumn("r", row_number().over(wIdx).cast("long") - 1L)
      val blocks = daily
        .select(col("r"), col("y"),
          explode(array(lit(8L), lit(16L), lit(32L), lit(64L))).as("w"))
        .selectExpr("w", "y", "r div w AS blk", "r % w + 1L AS j")
      val wB = Window.partitionBy("w", "blk").orderBy("j")
      val wBAll = Window.partitionBy("w", "blk")
      val z = blocks
        .withColumn("cum", sum("y").over(
          wB.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .withColumn("sblk", sum("y").over(wBAll))
        .withColumn("qblk", sum((col("y") * col("y"))
          .cast("decimal(38,0)")).over(wBAll))
        .withColumn("cnt", count(lit(1)).over(wBAll))
        .filter(col("cnt") === col("w"))
        .withColumn("zj", col("w") * col("cum") - col("j") * col("sblk"))
      val perBlock = z.groupBy("w", "blk")
        .agg(max("zj").as("zmax"), min("zj").as("zmin"),
          max("sblk").as("sv"), max("qblk").as("qv"))
        // a constant-valued block has zero variance — degenerate for R/S
        .filter(expr("w * qv - CAST(sv AS DECIMAL(38,0)) * sv > 0"))
        .selectExpr("w", "blk",
          "CAST(floor(1.0e6 * CAST(zmax - zmin AS DOUBLE) / " +
            "sqrt(CAST(w * qv - CAST(sv AS DECIMAL(38,0)) * sv " +
            "AS DOUBLE))) AS BIGINT) AS rs_e6")
      val perW = perBlock.groupBy("w")
        .agg(count(lit(1)).as("nblk"), sum("rs_e6").as("rs_sum"))
        .selectExpr("w", "nblk", "rs_sum div nblk AS rs_avg_e6")
      perW.agg(
          max(when(col("w") === 8, col("rs_avg_e6"))).as("rs8_e6"),
          max(when(col("w") === 16, col("rs_avg_e6"))).as("rs16_e6"),
          max(when(col("w") === 32, col("rs_avg_e6"))).as("rs32_e6"),
          max(when(col("w") === 64, col("rs_avg_e6"))).as("rs64_e6"))
        .selectExpr("rs8_e6", "rs16_e6", "rs32_e6", "rs64_e6",
          "CAST(floor(1.0e4 * ((-1.5 * ln(CAST(rs8_e6 AS DOUBLE)) " +
            "- 0.5 * ln(CAST(rs16_e6 AS DOUBLE)) " +
            "+ 0.5 * ln(CAST(rs32_e6 AS DOUBLE)) " +
            "+ 1.5 * ln(CAST(rs64_e6 AS DOUBLE))) / 5.0) " +
            "/ 0.6931471805599453) AS BIGINT) AS h_e4")
    }, Some("""
      WITH daily AS (
        SELECT CAST(datediff('day', DATE '1992-01-01',
                 CAST(o_orderdate AS DATE)) AS BIGINT) AS d,
               sum(CAST(floor(o_totalprice * 100) AS BIGINT)) AS y
        FROM orders WHERE o_orderpriority = '1-URGENT' GROUP BY 1),
      idx AS (
        SELECT y, row_number() OVER (ORDER BY d) - 1 AS r FROM daily),
      blocks AS (
        SELECT w, y, r // w AS blk, r % w + 1 AS j
        FROM idx, UNNEST([CAST(8 AS BIGINT), 16, 32, 64]) AS t(w)),
      z AS (
        SELECT w, blk, j,
               sum(y) OVER (PARTITION BY w, blk ORDER BY j
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
               sum(y) OVER (PARTITION BY w, blk) AS sblk,
               sum(CAST(y AS HUGEINT) * y)
                 OVER (PARTITION BY w, blk) AS qblk,
               count(*) OVER (PARTITION BY w, blk) AS cnt,
               y
        FROM blocks),
      zz AS (
        SELECT w, blk, w * cum - j * sblk AS zj, sblk, qblk
        FROM z WHERE cnt = w),
      pb AS (
        SELECT w, blk,
               CAST(floor(1.0e6 * CAST(max(zj) - min(zj) AS DOUBLE) /
                 sqrt(CAST(w * max(qblk) -
                   CAST(max(sblk) AS HUGEINT) * max(sblk) AS DOUBLE)))
                 AS BIGINT) AS rs_e6
        FROM zz GROUP BY w, blk
        HAVING w * max(qblk) - CAST(max(sblk) AS HUGEINT) * max(sblk) > 0),
      pw AS (
        SELECT w, CAST(sum(rs_e6) // count(*) AS BIGINT) AS rs_avg_e6
        FROM pb GROUP BY w),
      piv AS (
        SELECT max(CASE WHEN w = 8 THEN rs_avg_e6 END) AS rs8_e6,
               max(CASE WHEN w = 16 THEN rs_avg_e6 END) AS rs16_e6,
               max(CASE WHEN w = 32 THEN rs_avg_e6 END) AS rs32_e6,
               max(CASE WHEN w = 64 THEN rs_avg_e6 END) AS rs64_e6
        FROM pw)
      SELECT rs8_e6, rs16_e6, rs32_e6, rs64_e6,
             CAST(floor(1.0e4 * ((-1.5 * ln(CAST(rs8_e6 AS DOUBLE))
               - 0.5 * ln(CAST(rs16_e6 AS DOUBLE))
               + 0.5 * ln(CAST(rs32_e6 AS DOUBLE))
               + 1.5 * ln(CAST(rs64_e6 AS DOUBLE))) / 5.0)
               / 0.6931471805599453) AS BIGINT) AS h_e4
      FROM piv""")),

    // SA18 — covariate-balance audit (standardized mean difference)
    // across the md5-fraction train/val/test split on order value: the
    // experiment-design twin of sa9's chi² — a hash split should leave
    // every covariate balanced (|SMD| ≲ 0.1 is the usual bar), and SMD is
    // what a reviewer asks for when the split feeds an eval. Per-split
    // power sums (n, Σx, Σx²) are exact (Σx² in decimal/HUGEINT); each
    // pairwise SMD composes those six integers in ONE fixed-order double
    // expression — variances via the n·Σx²−S² form, never a float
    // running mean. One corpus-scale groupBy; the pair algebra is 3 rows.
    Q("sa18_covariate_balance", (s, dir) => {
      val splits = t(s, dir, "orders")
        .select(Sampling.splitLabel(col("o_orderkey").cast("string"))
          .as("split"), floor(col("o_totalprice")).cast("long").as("x"))
        .groupBy("split")
        .agg(count(lit(1)).as("n"), sum("x").as("sx"),
          sum((col("x") * col("x")).cast("decimal(38,0)")).as("qx"))
      val piv = splits.agg(
        max(when(col("split") === "train", col("n"))).as("n_tr"),
        max(when(col("split") === "train", col("sx"))).as("s_tr"),
        max(when(col("split") === "train", col("qx"))).as("q_tr"),
        max(when(col("split") === "val", col("n"))).as("n_va"),
        max(when(col("split") === "val", col("sx"))).as("s_va"),
        max(when(col("split") === "val", col("qx"))).as("q_va"),
        max(when(col("split") === "test", col("n"))).as("n_te"),
        max(when(col("split") === "test", col("sx"))).as("s_te"),
        max(when(col("split") === "test", col("qx"))).as("q_te"))
      def smd(na: String, sa: String, qa: String,
              nb: String, sb: String, qb: String) =
        s"CAST(floor(1.0e6 * " +
          s"((CAST($sa AS DOUBLE) / $na - CAST($sb AS DOUBLE) / $nb) / " +
          s"sqrt((CAST($na * $qa - CAST($sa AS DECIMAL(38,0)) * $sa " +
          s"AS DOUBLE) / (CAST($na AS DOUBLE) * ($na - 1)) + " +
          s"CAST($nb * $qb - CAST($sb AS DECIMAL(38,0)) * $sb " +
          s"AS DOUBLE) / (CAST($nb AS DOUBLE) * ($nb - 1))) / 2.0))) " +
          s"AS BIGINT)"
      piv.selectExpr(
        "stack(3, " +
          s"'train_vs_test', n_tr, n_te, ${smd("n_tr", "s_tr", "q_tr",
            "n_te", "s_te", "q_te")}, " +
          s"'train_vs_val', n_tr, n_va, ${smd("n_tr", "s_tr", "q_tr",
            "n_va", "s_va", "q_va")}, " +
          s"'val_vs_test', n_va, n_te, ${smd("n_va", "s_va", "q_va",
            "n_te", "s_te", "q_te")}) AS (pair, n_a, n_b, smd_e6)")
        .orderBy("pair")
    }, Some("""
      WITH f AS (
        SELECT CAST(floor(o_totalprice) AS BIGINT) AS x,
               list_sum(list_transform(generate_series(1, 8), i ->
                 (strpos('0123456789abcdef',
                         substr(md5(CAST(o_orderkey AS VARCHAR)), i, 1)) - 1)
                 * (16.0 ** (8 - i)))) / 4294967296.0 AS frac
        FROM orders),
      d AS (
        SELECT x, CASE WHEN frac < 0.8 THEN 'train'
                       WHEN frac < 0.9 THEN 'val'
                       ELSE 'test' END AS split FROM f),
      a AS (
        SELECT split, count(*) AS n, sum(x) AS sx,
               sum(CAST(x AS HUGEINT) * x) AS qx
        FROM d GROUP BY 1),
      piv AS (
        SELECT max(CASE WHEN split = 'train' THEN n END) AS n_tr,
               max(CASE WHEN split = 'train' THEN sx END) AS s_tr,
               max(CASE WHEN split = 'train' THEN qx END) AS q_tr,
               max(CASE WHEN split = 'val' THEN n END) AS n_va,
               max(CASE WHEN split = 'val' THEN sx END) AS s_va,
               max(CASE WHEN split = 'val' THEN qx END) AS q_va,
               max(CASE WHEN split = 'test' THEN n END) AS n_te,
               max(CASE WHEN split = 'test' THEN sx END) AS s_te,
               max(CASE WHEN split = 'test' THEN qx END) AS q_te
        FROM a),
      u AS (
        SELECT 'train_vs_test' AS pair, n_tr AS n_a, n_te AS n_b,
               CAST(floor(1.0e6 *
                 ((CAST(s_tr AS DOUBLE) / n_tr - CAST(s_te AS DOUBLE)
                   / n_te) /
                  sqrt((CAST(n_tr * q_tr - CAST(s_tr AS HUGEINT) * s_tr
                    AS DOUBLE) / (CAST(n_tr AS DOUBLE) * (n_tr - 1)) +
                    CAST(n_te * q_te - CAST(s_te AS HUGEINT) * s_te
                    AS DOUBLE) / (CAST(n_te AS DOUBLE) * (n_te - 1)))
                    / 2.0))) AS BIGINT) AS smd_e6
        FROM piv
        UNION ALL
        SELECT 'train_vs_val', n_tr, n_va,
               CAST(floor(1.0e6 *
                 ((CAST(s_tr AS DOUBLE) / n_tr - CAST(s_va AS DOUBLE)
                   / n_va) /
                  sqrt((CAST(n_tr * q_tr - CAST(s_tr AS HUGEINT) * s_tr
                    AS DOUBLE) / (CAST(n_tr AS DOUBLE) * (n_tr - 1)) +
                    CAST(n_va * q_va - CAST(s_va AS HUGEINT) * s_va
                    AS DOUBLE) / (CAST(n_va AS DOUBLE) * (n_va - 1)))
                    / 2.0))) AS BIGINT)
        FROM piv
        UNION ALL
        SELECT 'val_vs_test', n_va, n_te,
               CAST(floor(1.0e6 *
                 ((CAST(s_va AS DOUBLE) / n_va - CAST(s_te AS DOUBLE)
                   / n_te) /
                  sqrt((CAST(n_va * q_va - CAST(s_va AS HUGEINT) * s_va
                    AS DOUBLE) / (CAST(n_va AS DOUBLE) * (n_va - 1)) +
                    CAST(n_te * q_te - CAST(s_te AS HUGEINT) * s_te
                    AS DOUBLE) / (CAST(n_te AS DOUBLE) * (n_te - 1)))
                    / 2.0))) AS BIGINT)
        FROM piv)
      SELECT pair, CAST(n_a AS BIGINT) AS n_a, CAST(n_b AS BIGINT) AS n_b,
             smd_e6
      FROM u ORDER BY pair""")),

    // GR14 — rich-club coefficient over the doc graph at a 3-value degree
    // grid: are the hubs wired to EACH OTHER (φ(k) = directed edges among
    // nodes of degree > k over N_k(N_k−1) possible)? The diagnostic that
    // separates a hub-backbone topology from hub-to-leaf wiring (gr11's
    // assortativity asks the average question; this asks it at the top of
    // the degree distribution). Everything is exact integer counting —
    // edge endpoints join the degree table (gr11's shape) and the 3-row k
    // grid broadcasts onto bounded aggregates; φ is one scaled integer
    // division.
    Q("gr14_rich_club", (s, dir) => {
      val sym = Components.docGraph(t(s, dir, "documents"))
        .localCheckpoint()
      val deg = sym.groupBy(col("a").as("z")).agg(count(lit(1)).as("d"))
        .localCheckpoint() // feeds N_k and both edge ends
      val ks = t(s, dir, "documents").sparkSession
        .range(0, 3).selectExpr("CAST(2 * pow(2, id) AS BIGINT) AS k")
      val nk = deg.crossJoin(broadcast(ks))
        .filter(col("d") > col("k"))
        .groupBy("k").agg(count(lit(1)).as("n_k"))
      val ek = sym
        .join(deg.select(col("z").as("a"), col("d").as("da")), "a")
        .join(deg.select(col("z").as("b"), col("d").as("db")), "b")
        .crossJoin(broadcast(ks))
        .filter(col("da") > col("k") && col("db") > col("k"))
        .groupBy("k").agg(count(lit(1)).as("e_k"))
      ks.join(nk, Seq("k"), "left").join(ek, Seq("k"), "left")
        .selectExpr("k", "coalesce(n_k, 0L) AS n_k",
          "coalesce(e_k, 0L) AS e_k",
          "CASE WHEN coalesce(n_k, 0L) > 1 THEN " +
            "coalesce(e_k, 0L) * 1000000L div " +
            "(n_k * (n_k - 1L)) ELSE 0L END AS phi_e6")
        .orderBy("k")
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
      deg AS (SELECT u AS z, count(*) AS d FROM sym GROUP BY u),
      ks AS (SELECT CAST(k AS BIGINT) AS k FROM UNNEST([2, 4, 8]) AS t(k)),
      nk AS (
        SELECT k, count(*) AS n_k
        FROM deg, ks WHERE d > k GROUP BY k),
      ek AS (
        SELECT k, count(*) AS e_k
        FROM sym JOIN deg da ON da.z = sym.u JOIN deg db ON db.z = sym.v,
             ks
        WHERE da.d > k AND db.d > k GROUP BY k)
      SELECT ks.k, CAST(coalesce(nk.n_k, 0) AS BIGINT) AS n_k,
             CAST(coalesce(ek.e_k, 0) AS BIGINT) AS e_k,
             CASE WHEN coalesce(nk.n_k, 0) > 1 THEN
               CAST(coalesce(ek.e_k, 0) * 1000000 //
                 (nk.n_k * (nk.n_k - 1)) AS BIGINT)
             ELSE CAST(0 AS BIGINT) END AS phi_e6
      FROM ks LEFT JOIN nk ON ks.k = nk.k LEFT JOIN ek ON ks.k = ek.k
      ORDER BY ks.k""")),

    // CS30 — partial correlation: does URGENT daily revenue still track
    // LOW daily revenue once the shared driver (how many orders landed
    // that day) is partialled out? r_xy·z = (r_xy − r_xz·r_yz) /
    // sqrt((1−r_xz²)(1−r_yz²)) — the first tool for "is this correlation
    // just volume?". All ten power sums are exact (cents² products ride
    // decimal/HUGEINT); each pairwise r is ONE identically-written
    // double composition (variance factors sqrt'd SEPARATELY — their
    // product would overflow decimal38), and the partial composes the
    // three r doubles. Day-grain aligned join, 1-row output.
    Q("cs30_partial_corr", (s, dir) => {
      val daily = t(s, dir, "orders")
        .groupBy(datediff(to_date(col("o_orderdate")), lit("1992-01-01"))
          .cast("long").as("d"))
        .agg(
          sum(when(col("o_orderpriority") === "1-URGENT",
            floor(col("o_totalprice") * 100).cast("long"))).as("x"),
          sum(when(col("o_orderpriority") === "5-LOW",
            floor(col("o_totalprice") * 100).cast("long"))).as("y"),
          count(lit(1)).as("z"))
        .filter(col("x").isNotNull && col("y").isNotNull)
      val sums = daily.agg(count(lit(1)).as("n"),
        sum("x").as("sx"), sum("y").as("sy"), sum("z").as("sz"),
        sum(col("x").cast("decimal(38,0)") * col("x")).as("sxx"),
        sum(col("y").cast("decimal(38,0)") * col("y")).as("syy"),
        sum(col("z").cast("decimal(38,0)") * col("z")).as("szz"),
        sum(col("x").cast("decimal(38,0)") * col("y")).as("sxy"),
        sum(col("x").cast("decimal(38,0)") * col("z")).as("sxz"),
        sum(col("y").cast("decimal(38,0)") * col("z")).as("syz"))
      def rr(sab: String, sa: String, sb: String,
             saa: String, sbb: String) =
        s"(CAST(n * $sab - CAST($sa AS DECIMAL(38,0)) * $sb AS DOUBLE) / " +
          s"(sqrt(CAST(n * $saa - CAST($sa AS DECIMAL(38,0)) * $sa " +
          s"AS DOUBLE)) * sqrt(CAST(n * $sbb - " +
          s"CAST($sb AS DECIMAL(38,0)) * $sb AS DOUBLE))))"
      sums
        .selectExpr("n",
          s"${rr("sxy", "sx", "sy", "sxx", "syy")} AS rxy",
          s"${rr("sxz", "sx", "sz", "sxx", "szz")} AS rxz",
          s"${rr("syz", "sy", "sz", "syy", "szz")} AS ryz")
        .selectExpr("n AS n_days",
          "CAST(floor(1.0e6 * rxy) AS BIGINT) AS rxy_e6",
          "CAST(floor(1.0e6 * rxz) AS BIGINT) AS rxz_e6",
          "CAST(floor(1.0e6 * ryz) AS BIGINT) AS ryz_e6",
          "CAST(floor(1.0e6 * ((rxy - rxz * ryz) / " +
            "sqrt((1.0 - rxz * rxz) * (1.0 - ryz * ryz)))) AS BIGINT) " +
            "AS partial_e6")
    }, Some("""
      WITH daily AS (
        SELECT CAST(datediff('day', DATE '1992-01-01',
                 CAST(o_orderdate AS DATE)) AS BIGINT) AS d,
               sum(CASE WHEN o_orderpriority = '1-URGENT'
                   THEN CAST(floor(o_totalprice * 100) AS BIGINT) END) AS x,
               sum(CASE WHEN o_orderpriority = '5-LOW'
                   THEN CAST(floor(o_totalprice * 100) AS BIGINT) END) AS y,
               count(*) AS z
        FROM orders GROUP BY 1),
      f AS (SELECT * FROM daily WHERE x IS NOT NULL AND y IS NOT NULL),
      s AS (
        SELECT count(*) AS n,
               sum(x) AS sx, sum(y) AS sy, sum(z) AS sz,
               sum(CAST(x AS HUGEINT) * x) AS sxx,
               sum(CAST(y AS HUGEINT) * y) AS syy,
               sum(CAST(z AS HUGEINT) * z) AS szz,
               sum(CAST(x AS HUGEINT) * y) AS sxy,
               sum(CAST(x AS HUGEINT) * z) AS sxz,
               sum(CAST(y AS HUGEINT) * z) AS syz
        FROM f),
      r AS (
        SELECT n,
               (CAST(n * sxy - CAST(sx AS HUGEINT) * sy AS DOUBLE) /
                (sqrt(CAST(n * sxx - CAST(sx AS HUGEINT) * sx AS DOUBLE)) *
                 sqrt(CAST(n * syy - CAST(sy AS HUGEINT) * sy AS DOUBLE))))
                 AS rxy,
               (CAST(n * sxz - CAST(sx AS HUGEINT) * sz AS DOUBLE) /
                (sqrt(CAST(n * sxx - CAST(sx AS HUGEINT) * sx AS DOUBLE)) *
                 sqrt(CAST(n * szz - CAST(sz AS HUGEINT) * sz AS DOUBLE))))
                 AS rxz,
               (CAST(n * syz - CAST(sy AS HUGEINT) * sz AS DOUBLE) /
                (sqrt(CAST(n * syy - CAST(sy AS HUGEINT) * sy AS DOUBLE)) *
                 sqrt(CAST(n * szz - CAST(sz AS HUGEINT) * sz AS DOUBLE))))
                 AS ryz
        FROM s)
      SELECT n AS n_days,
             CAST(floor(1.0e6 * rxy) AS BIGINT) AS rxy_e6,
             CAST(floor(1.0e6 * rxz) AS BIGINT) AS rxz_e6,
             CAST(floor(1.0e6 * ryz) AS BIGINT) AS ryz_e6,
             CAST(floor(1.0e6 * ((rxy - rxz * ryz) /
               sqrt((1.0 - rxz * rxz) * (1.0 - ryz * ryz)))) AS BIGINT)
               AS partial_e6
      FROM r"""))
  )
}
