package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.operators.{Chunking, Components}
import Tables.t

/** Round-12 second wave: operational-signal and layout operators — rolling
  * anomaly detection, user growth accounting, Jensen–Shannon source-drift
  * monitoring, small-file compaction planning, weighted shortest paths,
  * HITS hubs/authorities, and content-defined-chunking dedup. Every entry
  * is DuckDB-oracle graded; operator invariants live in `SignalOpsSpec`.
  */
object SignalQueries {

  val all: Seq[Q] = Seq(

    // TS8 — rolling z-score anomaly detection: each (event_type, day)
    // count scored against the trailing 7 days (current day EXCLUDED —
    // scoring a point against a window containing itself dilutes the
    // signal). The window stats are integer-exact (count sums), so mean /
    // stddev / z are each ONE identically-written float expression on both
    // engines — bit-reproducible without any binning tricks. Scale shape:
    // one (type, day) aggregate, then a per-type window over the bounded
    // day-grain table; the raw events never enter a window.
    Q("ts8_rolling_zscore", (s, dir) => {
      val w = Window.partitionBy("event_type").orderBy("day")
        .rowsBetween(-7, -1)
      t(s, dir, "events")
        .groupBy(col("event_type"), to_date(col("ts")).as("day"))
        .agg(count(lit(1)).as("n"))
        .withColumn("__hn", count(col("n")).over(w))
        .withColumn("__hs", sum(col("n")).over(w))
        .withColumn("__hq", sum(col("n") * col("n")).over(w))
        .filter(col("__hn") === 7)
        .withColumn("__sd",
          sqrt((col("__hq") - col("__hs") * col("__hs") / lit(7.0)) / lit(6.0)))
        .withColumn("__z",
          when(col("__sd") > 0, (col("n") - col("__hs") / lit(7.0)) / col("__sd")))
        .select(col("event_type"), col("day"), col("n"),
          round(col("__hs") / lit(7.0), 4).as("mu"),
          round(col("__z"), 4).as("z"),
          (col("__sd") > 0 && abs(col("__z")) > lit(2.0)).as("is_anomaly"))
        .orderBy("event_type", "day")
    }, Some("""
      WITH d AS (
        SELECT event_type, CAST(ts AS DATE) AS day,
               CAST(count(*) AS BIGINT) AS n
        FROM events GROUP BY 1, 2),
      w AS (
        SELECT event_type, day, n,
               count(n) OVER win AS hn,
               sum(n) OVER win AS hs,
               sum(n * n) OVER win AS hq
        FROM d
        WINDOW win AS (PARTITION BY event_type ORDER BY day
                       ROWS BETWEEN 7 PRECEDING AND 1 PRECEDING)),
      sdt AS (
        SELECT event_type, day, n, hs,
               sqrt((hq - hs * hs / 7.0) / 6.0) AS sd
        FROM w WHERE hn = 7),
      z AS (
        SELECT event_type, day, n, hs, sd,
               CASE WHEN sd > 0 THEN (n - hs / 7.0) / sd END AS zv
        FROM sdt)
      SELECT event_type, day, n, round(hs / 7.0, 4) AS mu,
             round(zv, 4) AS z,
             coalesce(sd > 0 AND abs(zv) > 2.0, FALSE) AS is_anomaly
      FROM z ORDER BY event_type, day""")),

    // W12 — user growth accounting: per day, active users split into NEW
    // (first-ever activity) vs RETURNING, plus the cumulative registered
    // user count — the DAU/new/resurrected decomposition every product
    // dashboard runs. All integer arithmetic. Scale shape: one distinct on
    // (user, day), one per-user min, one day-grain aggregate; the only
    // global window (cumulative sum) runs over the bounded day table.
    Q("w12_growth_accounting", (s, dir) => {
      val ud = t(s, dir, "events")
        .select(col("user_id"), to_date(col("ts")).as("day")).distinct()
      val first = ud.groupBy("user_id").agg(min("day").as("__fd"))
      ud.join(first, "user_id")
        .groupBy("day")
        .agg(count(lit(1)).as("n_active"),
          sum((col("day") === col("__fd")).cast("long")).as("n_new"))
        .withColumn("n_returning", col("n_active") - col("n_new"))
        // day-grain table is bounded (one row per calendar day), so the
        // single-partition cumulative window is safe at any corpus size
        .withColumn("cum_users", sum(col("n_new")).over(
          Window.orderBy("day").rowsBetween(Window.unboundedPreceding, 0)))
        .orderBy("day")
    }, Some("""
      WITH ud AS (
        SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events),
      f AS (SELECT user_id, min(day) AS fd FROM ud GROUP BY 1),
      d AS (
        SELECT day, CAST(count(*) AS BIGINT) AS n_active,
               CAST(sum(CASE WHEN day = fd THEN 1 ELSE 0 END) AS BIGINT)
                 AS n_new
        FROM ud JOIN f USING (user_id) GROUP BY 1)
      SELECT day, n_active, n_new, n_active - n_new AS n_returning,
             CAST(sum(n_new) OVER (ORDER BY day ROWS BETWEEN UNBOUNDED
               PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_users
      FROM d ORDER BY day""")),

    // CS21 — Jensen–Shannon divergence of each source's language mix vs
    // the corpus: the bounded-[0, ln 2] drift monitor that complements
    // cs2's unbounded PSI (JSD is symmetric and defined even for
    // zero-count bins via the mixture). Laplace-smoothed over the observed
    // language grid; per-bin contributions fold in lang order on BOTH
    // engines (cs2's ordered-sum discipline), so the double sum grades.
    // Scale shape: three count aggregates + a (sources × langs) grid join
    // with the bounded lang/total sides broadcast.
    Q("cs21_source_jsd", (s, dir) => {
      val d = t(s, dir, "documents").select(col("source"), col("lang"))
      val sl = d.groupBy("source", "lang").agg(count(lit(1)).as("c_sl"))
      val st = d.groupBy("source").agg(count(lit(1)).as("n_s"))
      val cl = d.groupBy("lang").agg(count(lit(1)).as("c_l"))
      val nt = d.groupBy().agg(count(lit(1)).as("n"))
      val langs = d.select("lang").distinct()
      val nv = langs.groupBy().agg(count(lit(1)).as("v"))
      val p = (coalesce(col("c_sl"), lit(0L)) + 1) /
        (col("n_s") + col("v")).cast("double")
      val q = (coalesce(col("c_l"), lit(0L)) + 1) /
        (col("n") + col("v")).cast("double")
      val m = (p + q) / lit(2.0)
      st.crossJoin(broadcast(langs))
        .join(sl, Seq("source", "lang"), "left")
        .join(broadcast(cl), Seq("lang"), "left")
        .crossJoin(broadcast(nt)).crossJoin(broadcast(nv))
        .select(col("source"), col("n_s"), col("lang"),
          (lit(0.5) * p * log(p / m) + lit(0.5) * q * log(q / m))
            .as("contrib"))
        .groupBy(col("source"), col("n_s"))
        .agg(collect_list(struct(col("lang"), col("contrib"))).as("__c"))
        .select(col("source"), col("n_s").as("n_docs"),
          round(aggregate(transform(array_sort(col("__c")),
            x => x.getField("contrib")), lit(0.0), (acc, x) => acc + x), 6)
            .as("jsd"))
        .orderBy("source")
    }, Some("""
      WITH d AS (SELECT source, lang FROM documents),
      sl AS (SELECT source, lang, count(*) AS c_sl FROM d GROUP BY 1, 2),
      st AS (SELECT source, count(*) AS n_s FROM d GROUP BY 1),
      cl AS (SELECT lang, count(*) AS c_l FROM d GROUP BY 1),
      nt AS (SELECT count(*) AS n FROM d),
      langs AS (SELECT DISTINCT lang FROM d),
      nv AS (SELECT count(*) AS v FROM langs),
      g AS (
        SELECT st.source, st.n_s, langs.lang,
               (coalesce(sl.c_sl, 0) + 1)
                 / CAST(st.n_s + nv.v AS DOUBLE) AS p,
               (coalesce(cl.c_l, 0) + 1)
                 / CAST(nt.n + nv.v AS DOUBLE) AS q
        FROM st CROSS JOIN langs
        LEFT JOIN sl ON sl.source = st.source AND sl.lang = langs.lang
        LEFT JOIN cl ON cl.lang = langs.lang
        CROSS JOIN nt CROSS JOIN nv),
      c AS (
        SELECT source, n_s, lang,
               0.5 * p * ln(p / ((p + q) / 2.0))
                 + 0.5 * q * ln(q / ((p + q) / 2.0)) AS contrib
        FROM g)
      SELECT source, CAST(n_s AS BIGINT) AS n_docs,
             round(list_sum(list(contrib ORDER BY lang)), 6) AS jsd
      FROM c GROUP BY source, n_s ORDER BY source""")),

    // K16 — small-file compaction planner (the OPTIMIZE bin-packing step):
    // lay each partition's files out in id order, assign each file to the
    // 2 KiB-target output group its STARTING offset lands in (the
    // cumulative-sum approximation of greedy next-fit — deterministic,
    // one window, no iteration), and report the merge plan. At 100 TB this
    // runs on the file MANIFEST (metadata scale, not data scale): one
    // partitioned window + one group aggregate, all integer arithmetic.
    Q("k16_compaction_plan", (s, dir) =>
      t(s, dir, "documents")
        .select(col("source"), col("doc_id"), col("n_chars"))
        .withColumn("__off", coalesce(sum("n_chars").over(
          Window.partitionBy("source").orderBy("doc_id")
            .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
        .withColumn("grp", expr("__off div 2048"))
        .groupBy("source", "grp")
        .agg(count(lit(1)).as("n_files"), sum("n_chars").as("bytes"),
          min("doc_id").as("first_doc"), max("doc_id").as("last_doc"))
        .orderBy("source", "grp"),
      Some("""
      WITH f AS (
        SELECT source, doc_id, n_chars,
               coalesce(sum(n_chars) OVER (PARTITION BY source ORDER BY doc_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS off
        FROM documents)
      SELECT source, CAST(off // 2048 AS BIGINT) AS grp,
             CAST(count(*) AS BIGINT) AS n_files,
             CAST(sum(n_chars) AS BIGINT) AS bytes, min(doc_id) AS first_doc,
             max(doc_id) AS last_doc
      FROM f GROUP BY 1, 2 ORDER BY 1, 2""")),

    // GR6 — hop-bounded weighted SSSP (`Components.weightedSssp`):
    // multi-source Bellman-Ford over a two-out-edge fixture graph with
    // deterministic integer weights; d(node) = cheapest path from the seed
    // set using ≤ 6 edges. Graded against a hop-bounded recursive-CTE
    // expansion (UNION-dedup keeps the oracle's state space finite).
    Q("gr6_weighted_sssp", (s, dir) => {
      val docs = t(s, dir, "documents").select(col("doc_id"))
      val e1 = docs.select(col("doc_id").as("u"),
        ((col("doc_id") * 7) % 499).as("v"), (col("doc_id") % 5 + 1).as("w"))
      val e2 = docs.select(col("doc_id").as("u"),
        ((col("doc_id") * 3 + 1) % 499).as("v"), (col("doc_id") % 7 + 2).as("w"))
      val sources = docs.filter(col("doc_id") % 125 === 0)
      Components.weightedSssp(e1.unionByName(e2), "u", "v", "w",
        sources, "doc_id", maxRounds = 6)
        .select(col("node"), col("d").as("dist"))
        .orderBy("node")
    }, Some("""
      WITH RECURSIVE
      fe AS (
        SELECT doc_id AS u, (doc_id * 7) % 499 AS v, doc_id % 5 + 1 AS w
        FROM documents
        UNION ALL
        SELECT doc_id, (doc_id * 3 + 1) % 499, doc_id % 7 + 2
        FROM documents),
      e AS (SELECT u, v, w FROM fe WHERE u <> v),
      reach(node, d, h) AS (
        SELECT DISTINCT doc_id, CAST(0 AS BIGINT), 0
        FROM documents WHERE doc_id % 125 = 0
        UNION
        SELECT e.v, r.d + e.w, r.h + 1
        FROM reach r JOIN e ON e.u = r.node WHERE r.h < 6)
      SELECT node, min(d) AS dist FROM reach GROUP BY 1 ORDER BY 1""")),

    // GR7 — HITS hubs/authorities (`Components.hits`), 2 iterations of
    // INTEGER score propagation (normalization only rescales, so it's
    // deferred to the end — and even the final normalization is an
    // integer per-million floor against the max, so every emitted value
    // is exact; no round(double) anywhere to drift across engines).
    // Oracle unrolls the same two iterations as chained joins. Fixture:
    // two deterministic out-edges per doc, which makes low-id nodes heavy
    // authorities (many in-edges) and every doc a hub scored by what it
    // points at.
    Q("gr7_hits", (s, dir) => {
      val docs = t(s, dir, "documents").select(col("doc_id"))
      val e1 = docs.select(col("doc_id").as("u"),
        ((col("doc_id") * 7) % 499).as("v"))
      val e2 = docs.select(col("doc_id").as("u"),
        ((col("doc_id") * 13 + 3) % 499).as("v"))
      val r = Components.hits(e1.unionByName(e2), "u", "v", iters = 2)
      val mx = r.groupBy().agg(max("h").as("__mh"), max("a").as("__ma"))
      // int64 bound on the per-million scaling: scores grow ~deg^(2·iters)
      // ≈ N² here, so h·1e6 stays exact while max score ≤ ~9.2e12 (N up to
      // ~3e6 nodes at this fixture's degree profile); the oracle casts its
      // HUGEINT sums to BIGINT before the same products so past that bound
      // DuckDB raises instead of silently disagreeing with Spark's wrap.
      r.crossJoin(broadcast(mx))
        .select(col("node"), col("h").as("hub"), col("a").as("auth"),
          expr("h * 1000000L div __mh").as("hub_pm"),
          expr("a * 1000000L div __ma").as("auth_pm"))
        .orderBy("node")
    }, Some("""
      WITH fe AS (
        SELECT doc_id AS u, (doc_id * 7) % 499 AS v FROM documents
        UNION ALL
        SELECT doc_id, (doc_id * 13 + 3) % 499 FROM documents),
      e AS (SELECT DISTINCT u, v FROM fe WHERE u <> v),
      nodes AS (SELECT u AS node FROM e UNION SELECT v FROM e),
      a1 AS (SELECT v AS node, CAST(count(*) AS BIGINT) AS a
             FROM e GROUP BY 1),
      h1 AS (SELECT e.u AS node, sum(coalesce(a1.a, 0)) AS h
             FROM e LEFT JOIN a1 ON a1.node = e.v GROUP BY 1),
      a2 AS (SELECT e.v AS node, sum(coalesce(h1.h, 0)) AS a
             FROM e LEFT JOIN h1 ON h1.node = e.u GROUP BY 1),
      h2 AS (SELECT e.u AS node, sum(coalesce(a2.a, 0)) AS h
             FROM e LEFT JOIN a2 ON a2.node = e.v GROUP BY 1),
      r AS (
        -- BIGINT-cast BEFORE the per-million products (ADVICE r13): the
        -- sums above are HUGEINT-exact in DuckDB while Spark's long
        -- arithmetic wraps past 2^63, so an un-cast product would let the
        -- engines silently diverge at graph sizes where hub/auth (~N^2 at
        -- iters=2) exceed ~9.2e12; casting here makes overflow symmetric —
        -- DuckDB raises where Spark would wrap, so the divergence is loud.
        -- At the graded fixture (500 docs, scores <= ~1e6) values are
        -- identical either way.
        SELECT n.node, CAST(coalesce(h2.h, 0) AS BIGINT) AS hub,
               CAST(coalesce(a2.a, 0) AS BIGINT) AS auth
        FROM nodes n
        LEFT JOIN h2 ON h2.node = n.node
        LEFT JOIN a2 ON a2.node = n.node),
      m AS (SELECT max(hub) AS mh, max(auth) AS ma FROM r)
      SELECT node, CAST(hub AS BIGINT) AS hub, CAST(auth AS BIGINT) AS auth,
             CAST(hub * 1000000 // mh AS BIGINT) AS hub_pm,
             CAST(auth * 1000000 // ma AS BIGINT) AS auth_pm
      FROM r, m ORDER BY node""")),

    // DD21 — content-defined-chunking dedup audit
    // (`Chunking.cdcChunks`): per source, how much chunk-level mass the
    // CDC cut (rolling-hash boundaries, ~64-char expected chunks) exposes
    // as duplicated — the storage/dedup view that fixed-width blocking
    // misses whenever an edit shifts alignment. The oracle replays the
    // identical integer rolling-hash fold per position, so boundary
    // placement itself is graded, not just the counts.
    Q("dd21_cdc_chunk_dedup", (s, dir) => {
      val ch = Chunking.cdcChunks(t(s, dir, "documents"), "doc_id", "text")
      ch.join(t(s, dir, "documents").select(col("doc_id"), col("source")),
          "doc_id")
        .groupBy("source")
        .agg(count(lit(1)).as("n_chunks"),
          count_distinct(col("chunk_hash")).as("n_unique"),
          round(avg(col("chunk_len")), 4).as("avg_len"),
          max(col("chunk_len")).as("max_len"))
        .withColumn("dup_chunks", col("n_chunks") - col("n_unique"))
        .orderBy("source")
    }, Some("""
      WITH c AS (
        SELECT doc_id, source, text AS t,
               CAST(length(text) AS INTEGER) AS n
        FROM documents WHERE length(text) > 0),
      co AS (
        SELECT doc_id, source, t, n,
               list_transform(range(1, n + 1),
                 i -> ascii(substr(t, CAST(i AS INTEGER), 1))) AS codes
        FROM c),
      b AS (
        SELECT doc_id, source, t,
               [0] || list_filter(range(4, CAST(n AS BIGINT)), i ->
                 (((codes[CAST(i - 3 AS INTEGER)] * CAST(263 AS BIGINT)
                    + codes[CAST(i - 2 AS INTEGER)]) * 263
                   + codes[CAST(i - 1 AS INTEGER)]) * 263
                  + codes[CAST(i AS INTEGER)]) % 64 = 0)
                 || [CAST(n AS BIGINT)] AS bounds
        FROM co),
      sp AS (
        SELECT doc_id, source,
               md5(substr(t, CAST(bounds[CAST(k AS INTEGER)] + 1 AS INTEGER),
                 CAST(bounds[CAST(k AS INTEGER) + 1]
                      - bounds[CAST(k AS INTEGER)] AS INTEGER))) AS ch_hash,
               bounds[CAST(k AS INTEGER) + 1]
                 - bounds[CAST(k AS INTEGER)] AS chunk_len
        FROM b, UNNEST(generate_series(1, len(bounds) - 1)) AS g(k))
      SELECT source, CAST(count(*) AS BIGINT) AS n_chunks,
             count(DISTINCT ch_hash) AS n_unique,
             round(avg(chunk_len), 4) AS avg_len,
             max(chunk_len) AS max_len,
             count(*) - count(DISTINCT ch_hash) AS dup_chunks
      FROM sp GROUP BY 1 ORDER BY 1""")),

    // ML7 — multinomial naive Bayes language classifier, engine-exact:
    // trained on the md5-fraction 80% split (word counts per lang, Laplace
    // smoothing), scored on the held-out 20%. The per-token log-probs are
    // quantized to 1e6-scaled BIGINTs BEFORE summation, so the per-doc
    // score is an integer sum (order-independent — the float-sum
    // nondeterminism that plagues parallel log-likelihood sums is gone by
    // construction) and the argmax is bit-reproducible. Graded as the
    // confusion matrix. Scale shape: the class-stats/vocab/prior sides are
    // bounded broadcasts; the only fact-scale shuffles are keyed on (word)
    // and (doc) — no all-pairs anything.
    Q("ml7_naive_bayes", (s, dir) => {
      import graft.operators.Sampling
      val docs = t(s, dir, "documents")
        .select(col("doc_id"), col("lang"), col("text"),
          Sampling.hashFraction(col("doc_id").cast("string")).as("__frac"))
      val train = docs.filter(col("__frac") < 0.8)
      val test = docs.filter(col("__frac") >= 0.8)
      val tw = train.select(col("lang").as("c"),
          explode(split(col("text"), " ")).as("w"))
        .filter(length(col("w")) > 0)
      // r14 (guide §2.4): ONE corpus-scale explode+aggregate — the class
      // token totals and the vocabulary size both derive from the bounded
      // (class, word) count table (tot = Σcnt per class, v = distinct w of
      // tc), where they previously each re-ran the full explode. tc feeds
      // three consumers, so it is pinned. Identical integer counts.
      val tc = tw.groupBy("c", "w").agg(count(lit(1)).as("cnt"))
        .localCheckpoint()
      val tot = tc.groupBy("c").agg(sum("cnt").as("tot"))
      val v = tc.select("w").distinct().groupBy().agg(count(lit(1)).as("v"))
      val classes = tot.crossJoin(broadcast(v)) // |langs| rows
      val dt = train.groupBy().agg(count(lit(1)).as("dt"))
      val pri = train.groupBy(col("lang").as("c"))
        .agg(count(lit(1)).as("dc"))
        .crossJoin(broadcast(dt))
        .select(col("c"),
          floor(log(col("dc").cast("double") / col("dt")) * 1e6)
            .cast("long").as("pri_i"))
      val testW = test.select(col("doc_id"), col("lang"),
          explode(split(col("text"), " ")).as("w"))
        .filter(length(col("w")) > 0)
      val scored = testW
        .crossJoin(broadcast(classes))
        .join(tc, Seq("c", "w"), "left")
        .select(col("doc_id"), col("lang"), col("c"),
          floor(log((coalesce(col("cnt"), lit(0L)) + 1) /
            (col("tot") + col("v")).cast("double")) * 1e6)
            .cast("long").as("lp_i"))
        .groupBy("doc_id", "lang", "c").agg(sum("lp_i").as("ll_i"))
        .join(broadcast(pri), "c")
        .withColumn("score_i", col("ll_i") + col("pri_i"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("doc_id").orderBy(col("score_i").desc, col("c"))
      scored.withColumn("__rn", row_number().over(w))
        .filter(col("__rn") === 1)
        .groupBy(col("lang").as("actual"), col("c").as("predicted"))
        .agg(count(lit(1)).as("n"))
        .orderBy("actual", "predicted")
    }, Some("""
      WITH f AS (
        SELECT doc_id, lang, text,
               list_sum(list_transform(generate_series(1, 8), i ->
                 (strpos('0123456789abcdef',
                         substr(md5(CAST(doc_id AS VARCHAR)), i, 1)) - 1)
                 * (16.0 ** (8 - i)))) / 4294967296.0 AS frac
        FROM documents),
      tr AS (SELECT * FROM f WHERE frac < 0.8),
      te AS (SELECT * FROM f WHERE frac >= 0.8),
      tw AS (
        SELECT lang AS c, w
        FROM (SELECT lang, unnest(string_split(text, ' ')) AS w FROM tr)
        WHERE len(w) > 0),
      tc AS (SELECT c, w, CAST(count(*) AS BIGINT) AS cnt
             FROM tw GROUP BY 1, 2),
      tot AS (SELECT c, CAST(count(*) AS BIGINT) AS tot FROM tw GROUP BY 1),
      vv AS (SELECT CAST(count(DISTINCT w) AS BIGINT) AS v FROM tw),
      dt AS (SELECT count(*) AS n FROM tr),
      pri AS (
        SELECT lang AS c,
               CAST(floor(ln(CAST(count(*) AS DOUBLE) / dt.n) * 1e6)
                    AS BIGINT) AS pri_i
        FROM tr, dt GROUP BY lang, dt.n),
      tew AS (
        SELECT doc_id, lang, w
        FROM (SELECT doc_id, lang, unnest(string_split(text, ' ')) AS w
              FROM te)
        WHERE len(w) > 0),
      sc AS (
        SELECT t.doc_id, t.lang, tot.c,
               CAST(floor(ln((coalesce(tc.cnt, 0) + 1)
                 / CAST(tot.tot + vv.v AS DOUBLE)) * 1e6) AS BIGINT) AS lp_i
        FROM tew t CROSS JOIN tot CROSS JOIN vv
        LEFT JOIN tc ON tc.c = tot.c AND tc.w = t.w),
      agg AS (
        SELECT doc_id, lang, c, sum(lp_i) AS ll_i FROM sc GROUP BY 1, 2, 3),
      fin AS (
        SELECT a.doc_id, a.lang, a.c,
               row_number() OVER (PARTITION BY a.doc_id
                 ORDER BY a.ll_i + p.pri_i DESC, a.c) AS rn
        FROM agg a JOIN pri p ON p.c = a.c)
      SELECT lang AS actual, c AS predicted, CAST(count(*) AS BIGINT) AS n
      FROM fin WHERE rn = 1 GROUP BY 1, 2 ORDER BY 1, 2""")),

    // TS7 — Holt–Winters additive triple smoothing (period 7, dyadic
    // α=1/2 β=1/4 γ=1/4): the seasonal capstone of the ts family — level +
    // trend + a 7-slot day-of-week seasonal vector folded per day over the
    // expanding series, exactly ts6's discipline extended with array state.
    // Seeds: l=first value, b=0, s=zeros, so the first week degrades to
    // plain Holt and the seasonal slots fill via γ updates. Every formula
    // is written ONCE per engine, textually identical (the b' update
    // inlines the new level — named_struct/list construction both evaluate
    // against the OLD accumulator); the DuckDB state is the established
    // 10-double LIST (struct-literal lambdas update in place).
    Q("ts7_holt_winters", (s, dir) => {
      val wexp = Window.orderBy("day")
        .rowsBetween(Window.unboundedPreceding, 0)
      t(s, dir, "events")
        .groupBy(to_date(col("ts")).as("day"))
        .agg(count(lit(1)).cast("double").as("x"))
        .withColumn("vals", collect_list(col("x")).over(wexp))
        .select(col("day"),
          expr("""
            aggregate(vals,
              named_struct('l', 0.0d, 'b', 0.0d, 'i', 0,
                           's', array_repeat(0.0d, 7)),
              (acc, v) -> CASE WHEN acc.i = 0
                THEN named_struct('l', v, 'b', 0.0d, 'i', 1, 's', acc.s)
                ELSE named_struct(
                  'l', 0.5d * (v - element_at(acc.s, acc.i % 7 + 1))
                         + 0.5d * (acc.l + acc.b),
                  'b', 0.25d * ((0.5d * (v - element_at(acc.s, acc.i % 7 + 1))
                                   + 0.5d * (acc.l + acc.b)) - acc.l)
                         + 0.75d * acc.b,
                  'i', acc.i + 1,
                  's', transform(sequence(0, 6), j ->
                    CASE WHEN j = acc.i % 7
                      THEN 0.25d * (v - acc.l - acc.b)
                             + 0.75d * element_at(acc.s, j + 1)
                      ELSE element_at(acc.s, j + 1) END)) END) AS st"""))
        .select(col("day"), round(col("st.l"), 6).as("level"),
          round(col("st.b"), 6).as("trend"),
          round(element_at(col("st.s"), (col("st.i") - 1) % 7 + 1), 6)
            .as("season"),
          round(col("st.l") + col("st.b")
            + element_at(col("st.s"), col("st.i") % 7 + 1), 6)
            .as("forecast_next"))
        .orderBy("day")
    }, Some("""
      WITH days AS (
        SELECT CAST(ts AS DATE) AS day, CAST(count(*) AS DOUBLE) AS x
        FROM events GROUP BY 1),
      pre AS (
        SELECT day, list(x) OVER (ORDER BY day
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS vals
        FROM days),
      -- state list: [l, b, i, s0..s6]; x wrapped as a 10-list with the
      -- value in slot 1 (list_reduce needs uniform element types)
      f AS (
        SELECT day,
               list_reduce(
                 list_prepend(
                   [CAST(0.0 AS DOUBLE), 0.0, 0.0, 0.0, 0.0,
                    0.0, 0.0, 0.0, 0.0, 0.0],
                   list_transform(vals, v ->
                     [CAST(v AS DOUBLE), 0.0, 0.0, 0.0, 0.0,
                      0.0, 0.0, 0.0, 0.0, 0.0])),
                 (a, x) -> CASE WHEN a[3] = 0
                   THEN [x[1], CAST(0.0 AS DOUBLE), CAST(1.0 AS DOUBLE),
                         a[4], a[5], a[6], a[7], a[8], a[9], a[10]]
                   ELSE list_transform(range(1, 11), j ->
                     CASE
                       WHEN j = 1 THEN
                         0.5 * (x[1] - a[4 + CAST(a[3] AS INTEGER) % 7])
                           + 0.5 * (a[1] + a[2])
                       WHEN j = 2 THEN
                         0.25 * ((0.5 * (x[1]
                                   - a[4 + CAST(a[3] AS INTEGER) % 7])
                                   + 0.5 * (a[1] + a[2])) - a[1])
                           + 0.75 * a[2]
                       WHEN j = 3 THEN a[3] + 1
                       WHEN j - 4 = CAST(a[3] AS INTEGER) % 7 THEN
                         0.25 * (x[1] - a[1] - a[2])
                           + 0.75 * a[CAST(j AS INTEGER)]
                       ELSE a[CAST(j AS INTEGER)]
                     END) END) AS st
        FROM pre)
      SELECT day, round(st[1], 6) AS level, round(st[2], 6) AS trend,
             round(st[4 + CAST(st[3] - 1 AS INTEGER) % 7], 6) AS season,
             round(st[1] + st[2]
               + st[4 + CAST(st[3] AS INTEGER) % 7], 6) AS forecast_next
      FROM f ORDER BY day""")),

    // ST9 — OUTER watermarked stream-stream interval join: st5's
    // view→purchase attribution kept LEFT-outer, so non-converting views
    // survive with a NULL purchase — the funnel-drop side of the join. In
    // streaming form the NULL-matched row legally emits only once the
    // watermark proves no match can arrive (asserted live in
    // StreamingSpec); this batch twin grades the join semantics the state
    // machine must converge to.
    Q("st9_interval_join_outer", (s, dir) => {
      val ev = t(s, dir, "events")
      val views = ev.filter(col("event_type") === "view")
        .select(col("user_id"), col("event_id").as("view_id"),
          col("ts").as("vts"))
      val buys = ev.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("event_id").as("purchase_id"),
          col("ts").as("pts"))
      graft.streaming.StreamingLoad.intervalEventJoin(
        views, buys, "user_id", "vts", "pts", maxGap = "30 minutes",
        joinType = "left_outer")
        .select(col("user_id"), col("view_id"), col("purchase_id"),
          col("purchase_id").isNotNull.as("converted"),
          (unix_micros(col("pts")) - unix_micros(col("vts"))).as("lag_us"))
        .orderBy("view_id", "purchase_id")
    }, Some("""
      SELECT v.user_id, v.event_id AS view_id, p.event_id AS purchase_id,
             p.event_id IS NOT NULL AS converted,
             epoch_us(p.ts) - epoch_us(v.ts) AS lag_us
      FROM (SELECT * FROM events WHERE event_type = 'view') v
      LEFT JOIN (SELECT * FROM events WHERE event_type = 'purchase') p
        ON v.user_id = p.user_id
       AND p.ts >= v.ts AND p.ts <= v.ts + INTERVAL 30 MINUTE
      ORDER BY view_id, purchase_id""")),

    // GR8 — personalized PageRank (`Components.personalizedPageRank`):
    // pr1's chain+hub fixture graph re-scored with teleport mass pinned to
    // the century seeds (doc_id % 100 = 0) — relevance-to-the-seed-set
    // instead of global authority, so nodes unreachable from a seed stay
    // exactly 0 where pr1 gives every node its 0.15 floor. Oracle unrolls
    // the same 4 rounds term for term.
    Q("gr8_personalized_pagerank", (s, dir) => {
      val ids = t(s, dir, "documents").select(col("doc_id"))
      val chain = ids.filter(col("doc_id") % 100 =!= 0)
        .select(col("doc_id").as("a"), (col("doc_id") - 1).as("b"))
      val hub = ids.filter(col("doc_id") % 10 =!= 0)
        .select(col("doc_id").as("a"),
          (col("doc_id") - col("doc_id") % 10).as("b"))
      val seeds = ids.filter(col("doc_id") % 100 === 0)
      graft.operators.Components.personalizedPageRank(
        chain.unionByName(hub), "a", "b", ids, "doc_id",
        seeds, "doc_id", iters = 4)
        .select(col("node").as("doc_id"), round(col("rank"), 6).as("rank"))
        .orderBy("doc_id")
    }, Some {
      val rounds = (1 to 4).map { i =>
        s"""
      r$i AS (
        SELECT nodes.n, 0.15 * nodes.seed + 0.85 * coalesce(c.s, 0) AS r
        FROM nodes LEFT JOIN (
          SELECT e.b AS n, sum(p.r / e.outdeg) AS s
          FROM e JOIN r${i - 1} p ON e.a = p.n GROUP BY e.b) c USING (n))"""
      }.mkString(",")
      s"""
      WITH nodes AS (
        SELECT doc_id AS n,
               CASE WHEN doc_id % 100 = 0 THEN 1.0 ELSE 0.0 END AS seed
        FROM documents),
      e0 AS (
        SELECT doc_id AS a, doc_id - 1 AS b FROM documents
        WHERE doc_id % 100 <> 0
        UNION ALL
        SELECT doc_id, doc_id - (doc_id % 10) FROM documents
        WHERE doc_id % 10 <> 0),
      deg AS (SELECT a, count(*) AS outdeg FROM e0 GROUP BY a),
      e AS (SELECT e0.a, e0.b, deg.outdeg FROM e0 JOIN deg USING (a)),
      r0 AS (SELECT n, seed AS r FROM nodes),$rounds
      SELECT nodes.n AS doc_id, round(r4.r, 6) AS rank
      FROM nodes JOIN r4 ON r4.n = nodes.n ORDER BY doc_id"""
    })
  )
}
