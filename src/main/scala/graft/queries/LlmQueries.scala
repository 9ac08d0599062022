package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.operators.{BloomDedup, Classifier, Components, Dedup, Multimodal, Similarity, TextAnalysis => TA}
import Tables.t

/** Training-data-pipeline operators over `documents` / `embeddings`, each
  * with a DuckDB oracle where the semantics are SQL-expressible. Hashing is
  * md5 end-to-end so both engines see identical bytes.
  */
object LlmQueries {

  // PII regexes shared verbatim with the DuckDB oracle (RE2/Java subset)
  private val TAEmailRe = TA.EmailRe
  private val TAPhoneRe = TA.PhoneRe
  private val TASsnRe = TA.SsnRe

  /** Shared oracle CTE: distinct 3-word shingles per doc (1-based slices,
    * trailing empty token kept — mirrors Spark split(text, ' ')). */
  /** Shingle CTE over `documents`, optionally restricted by a WHERE clause
    * (the sampled audit twins pass `" WHERE doc_id % 5 = 0"`). */
  private def shingleCte(where: String): String = s"""
      docs AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents$where),
      sh AS (
        SELECT DISTINCT doc_id, w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS sh
        FROM docs, UNNEST(generate_series(1, len(w) - 2)) AS t(i)
        WHERE len(w) >= 3)"""
  private[queries] val ShingleCte = shingleCte("")

  /** Oracle CTE chain: `iters` Lloyd iterations UNROLLED (the iteration
    * count is a fixed parameter, so no recursive CTE is needed) — mirrors
    * [[graft.operators.Similarity.trainCentroids]] exactly: argmin
    * assignment with ties broken by cid, per-cell per-dimension mean
    * (sum/count, matching VecSumAgg's sum-then-divide), and empty cells
    * carrying the previous centroid forward. Expects CTEs `e(vec_id, v)`
    * and `cent0(cid, cv)` upstream; emits `assign0..assign{iters-1}` and
    * `cent1..cent{iters}`. */
  private def lloydCtes(iters: Int): String =
    (1 to iters).map { k => s"""
      assign${k - 1} AS (
        SELECT e.vec_id, c.cid AS cell
        FROM e CROSS JOIN cent${k - 1} c
        QUALIFY row_number() OVER (PARTITION BY e.vec_id ORDER BY
          list_sum(list_transform(generate_series(1, len(e.v)),
            i -> (e.v[i] - c.cv[i]) * (e.v[i] - c.cv[i]))), c.cid) = 1),
      mean$k AS (
        SELECT a.cell AS cid, t.i, sum(e.v[t.i]) / count(*) AS m
        FROM assign${k - 1} a JOIN e USING (vec_id),
             UNNEST(generate_series(1, len(e.v))) AS t(i)
        GROUP BY a.cell, t.i),
      cent$k AS (
        SELECT p.cid, coalesce(n.cv, p.cv) AS cv
        FROM cent${k - 1} p LEFT JOIN
          (SELECT cid, list(m ORDER BY i) AS cv FROM mean$k GROUP BY cid) n
          USING (cid))"""
    }.mkString(",")

  /** Oracle CTE chain: `iters` full-batch logistic-regression gradient
    * steps UNROLLED (fixed step count — no recursion), mirroring
    * [[graft.operators.Classifier.logRegScores]] exactly: fast sigmoid
    * (algebraic — no libm `exp` to drift by an ulp), gradient terms
    * snapped to the 2⁻²⁰ grid so the per-dim sums are order-invariant
    * exact doubles, and the update `w − (lr·g)/n` with the same
    * left-to-right association. Expects CTEs `feat(doc_id, y, x)` and
    * `nn(n)` upstream; emits `g1..g{iters}` / `w1..w{iters}`. */
  private def gdCtes(iters: Int, dims: Int, lr: Double): String = {
    require(iters >= 1)
    val first = s"""
      g1 AS (
        SELECT list(s ORDER BY j) AS g FROM (
          SELECT j, sum(floor((0.5 - y) * x[j] * 1048576.0 + 0.5)
                        / 1048576.0) AS s
          FROM feat, UNNEST(generate_series(1, $dims)) AS t(j)
          GROUP BY j)),
      w1 AS (
        SELECT list_transform(g, gj -> 0.0 - ($lr * gj) / nn.n) AS w
        FROM g1, nn)"""
    val rest = (2 to iters).map { k => s"""
      sc$k AS (
        SELECT f.doc_id, f.y, f.x,
               list_sum(list_transform(generate_series(1, $dims),
                 j -> w.w[j] * f.x[j])) AS z
        FROM feat f, w${k - 1} w),
      g$k AS (
        SELECT list(s ORDER BY j) AS g FROM (
          SELECT j, sum(floor(((0.5 + 0.5 * z / (1 + abs(z))) - y) * x[j]
                              * 1048576.0 + 0.5) / 1048576.0) AS s
          FROM sc$k, UNNEST(generate_series(1, $dims)) AS t(j)
          GROUP BY j)),
      w$k AS (
        SELECT list_transform(generate_series(1, $dims),
                 j -> w.w[j] - ($lr * g.g[j]) / nn.n) AS w
        FROM w${k - 1} w, g$k g, nn)"""
    }.mkString(",")
    first + (if (iters >= 2) "," + rest else "")
  }

  /** Shared oracle CTE chain: ml1's hashed features + 3 unrolled GD steps
    * + final per-doc scores, ending in `mlscored(doc_id, score, prob,
    * predicted, label)` — reused verbatim by the classifier-gate oracle
    * (ml2). */
  private lazy val MlScoredCte = s"""tf AS (
        SELECT doc_id, tok, count(*) AS tf
        FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS tok
              FROM documents)
        GROUP BY doc_id, tok),
      hb AS (
        SELECT doc_id, tf,
               CAST(list_sum(list_transform(generate_series(1, 8), i ->
                 (strpos('0123456789abcdef', substr(md5(tok), i, 1)) - 1)
                 * (16.0 ** (8 - i)))) AS BIGINT) % 32 AS bucket
        FROM tf),
      cb AS (
        SELECT doc_id, bucket, CAST(sum(tf) AS DOUBLE) AS cnt
        FROM hb GROUP BY 1, 2),
      grid AS (
        SELECT doc_id, b AS bucket
        FROM documents, UNNEST(generate_series(0, 31)) AS t(b)),
      dense AS (
        SELECT g.doc_id, g.bucket, coalesce(c.cnt, 0.0) AS cnt
        FROM grid g
        LEFT JOIN cb c ON c.doc_id = g.doc_id AND c.bucket = g.bucket),
      xv AS (
        SELECT doc_id, list(cnt ORDER BY bucket) AS x
        FROM dense GROUP BY doc_id),
      feat AS (
        SELECT d.doc_id,
               CASE WHEN d.source = 'src0' THEN 1.0 ELSE 0.0 END AS y,
               x.x
        FROM documents d JOIN xv x ON x.doc_id = d.doc_id),
      nn AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM documents),${gdCtes(3, 32, 0.5)},
      scoredz AS (
        SELECT f.doc_id, f.y,
               list_sum(list_transform(generate_series(1, 32),
                 j -> w.w[j] * f.x[j])) AS z
        FROM feat f, w3 w),
      mlscored AS (
        SELECT doc_id, round(z, 6) AS score,
               round(0.5 + 0.5 * z / (1 + abs(z)), 6) AS prob,
               (0.5 + 0.5 * z / (1 + abs(z))) >= 0.5 AS predicted,
               CAST(y AS INTEGER) AS label
        FROM scoredz)"""

  /** Oracle CTE chain: `ranks` byte-level BPE merge rounds UNROLLED
    * (fixed rank count — no recursion), mirroring
    * [[graft.operators.BpeTokenizer.trainMerges]] exactly: occurrence-
    * weighted adjacent-pair counts over the symbolized word-frequency
    * table, argmax with the (count desc, l, r) tie-break, and a GREEDY
    * leftmost rewrite. RE2 has no lookahead, so greedy is expressed by
    * run parity instead of Spark's " l r(?= )" regex: a match at symbol i
    * is taken iff sym(i)=l ∧ sym(i+1)=r and, when l = r, i sits at an ODD
    * offset inside its maximal run of l's (greedy pairs runs from the
    * left); a symbol is consumed iff its predecessor was taken — the two
    * can never conflict because a taken match ends in a symbol that can't
    * start another (lr ≠ l, and for l = r the parity alternates).
    * Expects `wf0(w, s, cnt)` upstream (w carried through every round so
    * tok2 can join the final table by word); emits `pc/best/sy/dec/wf`
    * ×`ranks`. */
  private def bpePcCte(k: Int): String = s"""
      pc$k AS (
        SELECT t[i] AS l, t[i + 1] AS r,
               CAST(sum(cnt) AS BIGINT) AS pair_count
        FROM (SELECT string_split(trim(s), ' ') AS t, cnt FROM wf${k - 1}),
             UNNEST(generate_series(1, len(t) - 1)) AS u(i)
        GROUP BY 1, 2)"""

  /** The greedy-rewrite tail of one merge round: apply `best\$k` to
    * `wf\${k-1}` producing `wf\$k` (see [[bpeCtes]] doc for the run-parity
    * greedy formulation). Shared by the sequential and batched chains. */
  private def bpeApplyCtes(k: Int): String = s"""
      sy$k AS (
        SELECT w, cnt, u.i, t[u.i] AS sym
        FROM (SELECT w, cnt, string_split(trim(s), ' ') AS t
              FROM wf${k - 1}),
             UNNEST(generate_series(1, len(t))) AS u(i)),
      dec$k AS (
        SELECT sy.w, sy.cnt, sy.i, sy.sym, b.l, b.r,
               CASE WHEN sy.sym = b.l
                     AND lead(sy.sym) OVER
                           (PARTITION BY sy.w ORDER BY sy.i) = b.r
                     AND (b.l <> b.r OR
                          (sy.i - coalesce(
                             max(CASE WHEN sy.sym <> b.l THEN sy.i END)
                               OVER (PARTITION BY sy.w ORDER BY sy.i
                                     ROWS UNBOUNDED PRECEDING), 0)) % 2 = 1)
                    THEN 1 ELSE 0 END AS take
        FROM sy$k sy CROSS JOIN best$k b),
      wf$k AS (
        SELECT w,
               ' ' || string_agg(CASE WHEN take = 1 THEN l || r ELSE sym END,
                                 ' ' ORDER BY i) || ' ' AS s,
               cnt
        FROM (SELECT *, coalesce(lag(take)
                 OVER (PARTITION BY w ORDER BY i), 0) AS consumed
              FROM dec$k)
        WHERE consumed = 0
        GROUP BY w, cnt)"""

  private def bpeCtes(ranks: Int): String =
    (1 to ranks).map { k => s"""${bpePcCte(k)},
      best$k AS (
        SELECT l, r, pair_count FROM pc$k
        QUALIFY row_number() OVER (ORDER BY pair_count DESC, l, r) = 1),${bpeApplyCtes(k)}"""
    }.mkString(",")

  /** Batched-chain variant mirroring
    * [[graft.operators.BpeTokenizer.trainMergesBatched]] at batch = 2:
    * odd merges recompute the pair-count table and take its argmax;
    * even merges take the best pair from the SAME pre-pass counts that is
    * symbol-disjoint from the pass's first pick. The rewrite tail is the
    * sequential one — disjointness is exactly what makes the pre-pass
    * evidence still valid when the second merge applies. */
  private def bpeBatchCtes(ranks: Int): String = {
    require(ranks % 2 == 0, "batched oracle chain is unrolled in pairs")
    (1 to ranks).map { m =>
      if (m % 2 == 1) s"""${bpePcCte(m)},
      best$m AS (
        SELECT l, r, pair_count FROM pc$m
        QUALIFY row_number() OVER (ORDER BY pair_count DESC, l, r) = 1),${bpeApplyCtes(m)}"""
      else s"""
      best$m AS (
        SELECT l, r, pair_count FROM pc${m - 1}
        WHERE l NOT IN (SELECT l FROM best${m - 1}
                        UNION SELECT r FROM best${m - 1})
          AND r NOT IN (SELECT l FROM best${m - 1}
                        UNION SELECT r FROM best${m - 1})
        QUALIFY row_number() OVER (ORDER BY pair_count DESC, l, r) = 1),${bpeApplyCtes(m)}"""
    }.mkString(",")
  }

  /** Symbolize + word-frequency oracle head shared by tok1/tok2 (the
    * word itself is carried as the chain's join key). */
  private val BpeWf0Cte = """wf0 AS (
        SELECT w,
               ' ' || regexp_replace(hex(encode(w)), '(..)', '\1 ', 'g')
                 AS s,
               CAST(count(*) AS BIGINT) AS cnt
        FROM (SELECT unnest(string_split(text, ' ')) AS w FROM documents)
        WHERE len(w) > 0 GROUP BY w)"""

  /** Shared oracle CTE: dd2's 4-band MinHash-LSH candidate pairs — reused
    * verbatim by the transitive-cluster oracle (dd9). */
  private def minhashPairsCte(where: String): String = s"""${shingleCte(where)},
      sig AS (
        SELECT doc_id, band, min(substr(md5(sh), band * 8 + 1, 8)) AS mh
        FROM sh, UNNEST([0, 1, 2, 3]) AS b(band)
        GROUP BY doc_id, band),
      pairs AS (
        SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM sig a JOIN sig b
          ON a.band = b.band AND a.mh = b.mh AND a.doc_id < b.doc_id)"""
  private val MinhashPairsCte = minhashPairsCte("")

  val all: Seq[Q] = Seq(

    // Exact dedup: content-hash bucket, min-id wins.
    Q("dd1_exact_dedup", (s, dir) =>
      Dedup.exactDupFlags(t(s, dir, "documents"), "doc_id", "text")
        .orderBy("doc_id"),
      Some("""
      SELECT doc_id, md5(text) AS h,
             doc_id <> min(doc_id) OVER (PARTITION BY md5(text)) AS is_dup
      FROM documents ORDER BY doc_id""")),

    // C4/Dolma-style SEGMENT-level exact dedup: repeated fixed-20-token
    // spans keep only their first (doc, position) occurrence corpus-wide,
    // and documents are reassembled from their survivors — graded on both
    // the drop counts and the md5 of the reassembled text, so a wrong keep
    // decision or a reordered reassembly goes red. Two shuffles, no joins.
    Q("dd11_segment_dedup", (s, dir) =>
      Dedup.segmentDedup(t(s, dir, "documents"), "doc_id", "text",
        segTokens = 20)
        .orderBy("doc_id"),
      Some("""
      WITH d AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
      segs AS (
        SELECT doc_id, i AS seg_idx,
               array_to_string(list_slice(w, i * 20 + 1, i * 20 + 20), ' ')
                 AS seg
        FROM d, UNNEST(generate_series(0,
          greatest(CAST(ceil(len(w) / 20.0) AS BIGINT), 1) - 1)) AS t(i)),
      keep AS (
        SELECT doc_id, seg_idx, seg,
               row_number() OVER (PARTITION BY md5(seg)
                                  ORDER BY doc_id, seg_idx) = 1 AS k
        FROM segs),
      re AS (
        SELECT doc_id, count(*) AS kept_segs,
               md5(string_agg(seg, ' ' ORDER BY seg_idx)) AS clean_md5
        FROM keep WHERE k GROUP BY doc_id),
      ns AS (
        SELECT doc_id,
               CAST(greatest(ceil(len(w) / 20.0), 1) AS INTEGER) AS n_segs
        FROM d)
      SELECT ns.doc_id, ns.n_segs,
             CAST(coalesce(re.kept_segs, 0) AS BIGINT) AS kept_segs,
             coalesce(re.clean_md5, md5('')) AS clean_md5
      FROM ns LEFT JOIN re USING (doc_id) ORDER BY doc_id""")),

    // ExactSubstr-style maximal duplicated spans (Lee et al.): maximal
    // runs of duplicated 8-token shingles widened by k-1, reported when
    // ≥ 20 tokens — the suffix-array operator's shingle-run equivalence,
    // per-document gaps-and-islands instead of global suffix order.
    Q("dd16_duplicated_spans", (s, dir) =>
      Dedup.duplicatedSpans(t(s, dir, "documents"), "doc_id", "text",
        k = 8, minTokens = 20)
        .orderBy("doc_id", "start_tok"),
      Some("""
      WITH docs AS (
        SELECT doc_id, string_split(text, ' ') AS w FROM documents),
      sh AS (
        SELECT doc_id, i - 1 AS pos, array_to_string(w[i:i+7], ' ') AS s
        FROM docs, UNNEST(generate_series(1, len(w) - 7)) AS t(i)
        WHERE len(w) >= 8),
      dup AS (SELECT s FROM sh GROUP BY s HAVING count(*) > 1),
      runs AS (
        SELECT doc_id, pos,
               pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos)
                 AS g
        FROM sh JOIN dup USING (s))
      SELECT doc_id, CAST(min(pos) AS INTEGER) AS start_tok,
             CAST(count(*) + 7 AS INTEGER) AS n_tokens
      FROM runs GROUP BY doc_id, g
      HAVING count(*) + 7 >= 20
      ORDER BY doc_id, start_tok""")),

    // URL canonicalization + dedup — the crawl-pipeline normalize step.
    // The corpus has no URL column, so (tx8 convention) both engines plant
    // the same deterministic messy URL per doc — case-noised scheme/host,
    // www. prefix, trailing slash by parity, utm_* tracking params, a
    // fragment — and the grade covers the canonical string plus the min-id
    // dup flag over the canonical groups.
    Q("dd12_url_dedup", (s, dir) => {
      val url = concat(
        when(col("doc_id") % 2 === 0, lit("HTTPS://WWW."))
          .otherwise(lit("https://")),
        col("source"), lit(".example.com/cat/"),
        expr("doc_id div 20") % 5,
        when(col("doc_id") % 3 === 0, lit("/")).otherwise(lit("")),
        lit("?utm_campaign=c"), col("doc_id"),
        lit("&id="), expr("doc_id div 20") % 3,
        lit("&utm_source=s"), col("doc_id") % 9,
        lit("#sec"), col("doc_id") % 4)
      t(s, dir, "documents")
        .select(col("doc_id"), TA.canonicalizeUrl(url).as("canon_url"))
        .withColumn("is_dup",
          col("doc_id") =!= min(col("doc_id"))
            .over(Window.partitionBy(col("canon_url"))))
        .orderBy("doc_id")
    }, Some("""
      WITH u AS (
        SELECT doc_id,
               (CASE WHEN doc_id % 2 = 0 THEN 'HTTPS://WWW.'
                     ELSE 'https://' END)
               || source || '.example.com/cat/' || (doc_id // 20) % 5
               || (CASE WHEN doc_id % 3 = 0 THEN '/' ELSE '' END)
               || '?utm_campaign=c' || doc_id
               || '&id=' || (doc_id // 20) % 3
               || '&utm_source=s' || doc_id % 9
               || '#sec' || doc_id % 4 AS url
        FROM documents),
      c AS (
        SELECT doc_id,
               lower(regexp_extract(url, '^([^:/?#]+)://', 1)) || '://'
               || regexp_replace(lower(regexp_extract(url,
                    '^[^:/?#]+://([^/?#]+)', 1)), '^www\.', '')
               || regexp_replace(regexp_extract(url,
                    '^[^:/?#]+://[^/?#]+([^?#]*)', 1), '/$', '')
               || (CASE WHEN len(list_filter(string_split(
                      regexp_extract(url, '\?([^#]*)', 1), '&'),
                      p -> p <> '' AND NOT starts_with(p, 'utm_'))) > 0
                   THEN '?' || array_to_string(list_sort(list_filter(
                      string_split(regexp_extract(url, '\?([^#]*)', 1), '&'),
                      p -> p <> '' AND NOT starts_with(p, 'utm_'))), '&')
                   ELSE '' END) AS canon_url
        FROM u)
      SELECT doc_id, canon_url,
             doc_id <> min(doc_id) OVER (PARTITION BY canon_url) AS is_dup
      FROM c ORDER BY doc_id""")),

    // INCREMENTAL dedup — the daily-ingest shape: a new batch (doc_id%5=0)
    // is screened against the already-ingested corpus via band-signature
    // collisions, WITHOUT pairing corpus docs with each other. At rest the
    // store side is a precomputed signature table partitioned by
    // (band, signature) — the per-day cost is ∝ batch + matches, never a
    // corpus re-LSH (testdata has no signature store, so the store sigs
    // recompute here; per-doc signatures are store-independent, so the
    // values are identical). Graded per batch doc: distinct stored docs
    // collided with, and the route-to-verification flag.
    Q("dd13_incremental_dedup", (s, dir) => {
      val docs = t(s, dir, "documents")
      val sigOf = (d: org.apache.spark.sql.DataFrame) =>
        Dedup.minhashSignatures(
          Dedup.shingleMultiset(d, "doc_id", "text"), "doc_id", bands = 4)
      val batch = docs.filter(col("doc_id") % 5 === 0)
      val storeSig = sigOf(docs.filter(col("doc_id") % 5 =!= 0))
        .select(col("doc_id").as("store_id"), col("band"), col("mh"))
      val matches = sigOf(batch)
        .join(storeSig, Seq("band", "mh"))
        .groupBy("doc_id")
        .agg(countDistinct(col("store_id")).as("n_matches"))
      batch.select(col("doc_id"))
        .join(matches, Seq("doc_id"), "left")
        .select(col("doc_id"),
          coalesce(col("n_matches"), lit(0L)).as("n_matches"),
          (coalesce(col("n_matches"), lit(0L)) > 0).as("suspect"))
        .orderBy("doc_id")
    }, Some(s"""
      WITH $ShingleCte,
      sig AS (
        SELECT doc_id, band, min(substr(md5(sh), band * 8 + 1, 8)) AS mh
        FROM sh, UNNEST([0, 1, 2, 3]) AS b(band)
        GROUP BY doc_id, band),
      m AS (
        SELECT b.doc_id, count(DISTINCT s.doc_id) AS n_matches
        FROM sig b JOIN sig s ON b.band = s.band AND b.mh = s.mh
        WHERE b.doc_id % 5 = 0 AND s.doc_id % 5 <> 0
        GROUP BY b.doc_id)
      SELECT d.doc_id, CAST(coalesce(m.n_matches, 0) AS BIGINT) AS n_matches,
             coalesce(m.n_matches, 0) > 0 AS suspect
      FROM documents d LEFT JOIN m USING (doc_id)
      WHERE d.doc_id % 5 = 0 ORDER BY doc_id""")),

    // Bloom-accelerated incremental EXACT dedup: the store aggregates once
    // into a broadcast bitset (depth-2 treeAggregate, log-depth OR-merge),
    // the batch probes it scan-side, and only the maybe-present minority
    // pays the confirm join — !maybe rows never shuffle at all. The bloom
    // has no false negatives, so the composed answer is EXACTLY the
    // anti-join's, which is what this oracle grades; the filter only
    // changes the bytes joined (BloomSpec audits the FP economics). Key is
    // a 15-hex md5 prefix (60 bits) on BOTH sides so the engines agree on
    // the equality being graded.
    Q("dd18_bloom_dedup", (s, dir) => {
      val keyOf = conv(substring(md5(col("text")), 1, 15), 16, 10).cast("long")
      val docs = t(s, dir, "documents")
      BloomDedup.flagNew(
        store = docs.filter(col("doc_id") % 5 =!= 0),
        batch = docs.filter(col("doc_id") % 5 === 0),
        keyOf = keyOf)
        .select(col("doc_id"), col("is_new"))
        .orderBy("doc_id")
    }, Some("""
      WITH k AS (SELECT doc_id, substr(md5(text), 1, 15) AS k FROM documents),
      store AS (SELECT DISTINCT k FROM k WHERE doc_id % 5 <> 0),
      batch AS (SELECT doc_id, k FROM k WHERE doc_id % 5 = 0)
      SELECT b.doc_id, s.k IS NULL AS is_new
      FROM batch b LEFT JOIN store s ON b.k = s.k
      ORDER BY b.doc_id""")),

    // Edit-distance near-dup verification, production composition:
    // candidates come from the LSH band join (dd2's signature buckets —
    // pair count ∝ duplicate mass, never all-pairs or all-length-buckets),
    // and Levenshtein runs ONLY as the verifier on those candidates, with
    // the threshold passed down so Spark's banded implementation can bail
    // out at O(len·d) instead of O(len²) on far pairs (-1 → above
    // threshold, filtered like the oracle's plain >15).
    Q("dd19_edit_distance", (s, dir) => {
      val docs = t(s, dir, "documents")
      val sh = Dedup.shingleMultiset(docs, "doc_id", "text")
      val sig = Dedup.minhashSignatures(sh, "doc_id", bands = 4)
        .localCheckpoint()
      val texts = docs.select(col("doc_id"), col("text"))
      Dedup.lshCandidatePairs(sig, "doc_id")
        .join(texts.select(col("doc_id").as("doc_a"),
          col("text").as("text_a")), "doc_a")
        .join(texts.select(col("doc_id").as("doc_b"),
          col("text").as("text_b")), "doc_b")
        .withColumn("dist", levenshtein(col("text_a"), col("text_b"), 15))
        .filter(col("dist") >= 0)
        .select(col("doc_a"), col("doc_b"), col("dist"))
        .orderBy("doc_a", "doc_b")
    }, Some(s"""
      WITH $MinhashPairsCte
      SELECT p.doc_a, p.doc_b,
             CAST(levenshtein(a.text, b.text) AS INT) AS dist
      FROM pairs p JOIN documents a ON a.doc_id = p.doc_a
                   JOIN documents b ON b.doc_id = p.doc_b
      WHERE levenshtein(a.text, b.text) <= 15
      ORDER BY p.doc_a, p.doc_b""")),

    // MinHash + LSH banding: candidate pairs via (band, signature) buckets.
    // The signature table feeds both sides of the candidate self-join, so
    // it is pinned: the shingle explode + groupBy runs once, not twice.
    Q("dd2_minhash_lsh", (s, dir) => {
      // multiset: min-per-band doesn't need the distinct's extra shuffle
      val sh = Dedup.shingleMultiset(t(s, dir, "documents"), "doc_id", "text")
      val sig = Dedup.minhashSignatures(sh, "doc_id", bands = 4)
        .localCheckpoint()
      Dedup.lshCandidatePairs(sig, "doc_id").orderBy("doc_a", "doc_b")
    }, Some(s"""
      WITH $MinhashPairsCte
      SELECT doc_a, doc_b FROM pairs ORDER BY doc_a, doc_b""")),

    // dd2's PRODUCTION hash mode, VALUE-graded (r11 item 2): band-seeded
    // xxhash64 signatures instead of md5 slices — same groupBy-parallel-
    // minima plan, no digest/hex cost, not capped at four bands. DuckDB has
    // no xxhash64, so the grade is the block-then-verify RECALL projection:
    // xx-LSH candidates filtered by integer-exact Jaccard >= 1/2 (the
    // fixture's near-dup gap is [0.07, 0.9], so the threshold sits in open
    // water), against an oracle that recomputes the FULL exact pair set
    // above the same threshold from raw shingles. Any true near-dup the
    // xxhash64 banding fails to bucket together hashes red — a stronger
    // claim than set-equality with the md5 twin (whose candidate set is
    // hash-specific). HashModeSpec still gates mode equivalence; dd2 above
    // stays the md5 hash-matched candidate-set grade.
    Q("dd2b_minhash_lsh_xxhash", (s, dir) => {
      val docs = t(s, dir, "documents")
      val sh = Dedup.shingleMultiset(docs, "doc_id", "text")
      val sig = Dedup.minhashSignatures(sh, "doc_id", bands = 4,
        mode = graft.operators.HashMode.XxHash64)
        .localCheckpoint()
      val cand = Dedup.lshCandidatePairs(sig, "doc_id")
      // r14: the verify side never needs shingle TEXT — hash before the
      // distinct so the dedup exchange and the overlap joins carry longs
      Dedup.verifiedPairsHashed(cand,
          Dedup.hashedShingleSet(docs, "doc_id", "text"),
          "doc_id", "doc_a", "doc_b", minNum = 1, minDen = 2)
        .orderBy("doc_a", "doc_b")
    }, Some(s"""
      WITH $ShingleCte,
      cnt AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
      inter AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS shared
        FROM sh a JOIN sh b ON a.sh = b.sh AND a.doc_id < b.doc_id
        GROUP BY 1, 2)
      SELECT i.doc_a, i.doc_b, shared, ca.n + cb.n - shared AS union_sz
      FROM inter i JOIN cnt ca ON ca.doc_id = i.doc_a
                   JOIN cnt cb ON cb.doc_id = i.doc_b
      WHERE shared * 2 >= ca.n + cb.n - shared
      ORDER BY doc_a, doc_b""")),

    // MinHash ESTIMATE-quality audit (sim5's theme for the dedup family):
    // per candidate pair, the banded-minhash Jaccard estimate (share of
    // equal band minima — what LSH actually thresholds on at scale) next
    // to the exact shingle Jaccard and the absolute error. Graded per
    // pair, all deterministic values — a drifting estimator (bad hash
    // slicing, band skew) moves real numbers red instead of hiding inside
    // a pass/fail collision count.
    Q("dd2c_minhash_estimate_error", (s, dir) => {
      val sh = Dedup.shingleSet(t(s, dir, "documents"), "doc_id", "text")
        .localCheckpoint()
      val sig = Dedup.minhashSignatures(sh, "doc_id", bands = 4)
        .localCheckpoint()
      val cand = Dedup.lshCandidatePairs(sig, "doc_id")
      val sa = sig.select(col("doc_id").as("doc_a"), col("band"),
        col("mh").as("mh_a"))
      val sb = sig.select(col("doc_id").as("doc_b"), col("band"),
        col("mh").as("mh_b"))
      val est = cand.join(sa, "doc_a").join(sb, Seq("doc_b", "band"))
        .groupBy("doc_a", "doc_b")
        .agg((sum(when(col("mh_a") === col("mh_b"), 1).otherwise(0)) / 4.0)
          .as("est"))
      est.join(Dedup.jaccardOnCandidates(cand, sh, "doc_id"),
          Seq("doc_a", "doc_b"))
        .select(col("doc_a"), col("doc_b"),
          round(col("est"), 4).as("est_jaccard"), col("jaccard"),
          round(abs(col("est") - col("jaccard")), 4).as("abs_err"))
        .orderBy("doc_a", "doc_b")
    }, Some(s"""
      WITH $MinhashPairsCte,
      est AS (
        SELECT p.doc_a, p.doc_b,
               sum(CASE WHEN x.mh = y.mh THEN 1 ELSE 0 END) / 4.0 AS est
        FROM pairs p
        JOIN sig x ON x.doc_id = p.doc_a
        JOIN sig y ON y.doc_id = p.doc_b AND y.band = x.band
        GROUP BY p.doc_a, p.doc_b),
      cnt AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
      inter AS (
        SELECT p.doc_a, p.doc_b, count(*) AS shared
        FROM pairs p
        JOIN sh a ON a.doc_id = p.doc_a
        JOIN sh b ON b.doc_id = p.doc_b AND b.sh = a.sh
        GROUP BY p.doc_a, p.doc_b),
      ex AS (
        SELECT i.doc_a, i.doc_b,
               round(CAST(shared AS DOUBLE) / (ca.n + cb.n - shared), 4)
                 AS jaccard
        FROM inter i
        JOIN cnt ca ON ca.doc_id = i.doc_a
        JOIN cnt cb ON cb.doc_id = i.doc_b)
      SELECT e.doc_a, e.doc_b, round(e.est, 4) AS est_jaccard, x.jaccard,
             round(abs(e.est - x.jaccard), 4) AS abs_err
      FROM est e JOIN ex x USING (doc_a, doc_b)
      ORDER BY doc_a, doc_b""")),

    // Exact n-gram Jaccard on LSH candidates (bottom-1 sketch, 1 band).
    // The shingle set is consumed four times (signature, counts, both join
    // sides) — materialize once instead of re-running
    // tokenize+explode+distinct per consumer.
    Q("dd3_ngram_jaccard", (s, dir) => {
      val sh = Dedup.shingleSet(t(s, dir, "documents"), "doc_id", "text")
        .localCheckpoint()
      val sig = Dedup.minhashSignatures(sh, "doc_id", bands = 1)
      val cand = Dedup.lshCandidatePairs(sig, "doc_id")
      Dedup.jaccardOnCandidates(cand, sh, "doc_id")
        .orderBy("doc_a", "doc_b")
    }, Some(s"""
      WITH $ShingleCte,
      cnt AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
      sig AS (
        SELECT doc_id, min(substr(md5(sh), 1, 8)) AS mh FROM sh GROUP BY doc_id),
      cand AS (
        SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM sig a JOIN sig b ON a.mh = b.mh AND a.doc_id < b.doc_id),
      inter AS (
        SELECT c.doc_a, c.doc_b, count(*) AS shared
        FROM cand c
        JOIN sh x ON x.doc_id = c.doc_a
        JOIN sh y ON y.doc_id = c.doc_b AND y.sh = x.sh
        GROUP BY c.doc_a, c.doc_b)
      SELECT i.doc_a, i.doc_b,
             round(CAST(shared AS DOUBLE) / (ca.n + cb.n - shared), 4) AS jaccard
      FROM inter i
      JOIN cnt ca ON ca.doc_id = i.doc_a
      JOIN cnt cb ON cb.doc_id = i.doc_b
      ORDER BY doc_a, doc_b""")),

    // Asymmetric containment on LSH candidates — quote / partial-dup
    // detection where Jaccard washes out: graded on BOTH directions
    // (|A∩B|/|A|, |A∩B|/|B|) per candidate pair; dedup policy drops the
    // contained side, not the container.
    Q("dd14_containment", (s, dir) => {
      val sh = Dedup.shingleSet(t(s, dir, "documents"), "doc_id", "text")
        .localCheckpoint()
      val sig = Dedup.minhashSignatures(sh, "doc_id", bands = 4)
      val cand = Dedup.lshCandidatePairs(sig, "doc_id")
      Dedup.containmentOnCandidates(cand, sh, "doc_id")
        .orderBy("doc_a", "doc_b")
    }, Some(s"""
      WITH $MinhashPairsCte,
      cnt AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
      inter AS (
        SELECT p.doc_a, p.doc_b, count(*) AS shared
        FROM pairs p
        JOIN sh a ON a.doc_id = p.doc_a
        JOIN sh b ON b.doc_id = p.doc_b AND b.sh = a.sh
        GROUP BY p.doc_a, p.doc_b)
      SELECT i.doc_a, i.doc_b,
             round(CAST(shared AS DOUBLE) / ca.n, 4) AS cont_a,
             round(CAST(shared AS DOUBLE) / cb.n, 4) AS cont_b
      FROM inter i
      JOIN cnt ca ON ca.doc_id = i.doc_a
      JOIN cnt cb ON cb.doc_id = i.doc_b
      ORDER BY doc_a, doc_b""")),

    // LSH S-curve audit: per Jaccard decile, the fraction of shingle-
    // sharing pairs the 4-band MinHash actually emits vs the analytic
    // 1-(1-s)^4 detection probability — the measurement that justifies
    // (or indicts) the banding config before anyone trusts dd2's recall.
    // Pair generation is df-capped (the dd10 stop-fingerprint argument).
    Q("dd17_lsh_scurve", (s, dir) =>
      Dedup.lshScurveAudit(t(s, dir, "documents"), "doc_id", "text",
        bands = 4, maxDf = 50, nBins = 10)
        .orderBy("bin"),
      Some(s"""
      WITH $MinhashPairsCte,
      dfc AS (
        SELECT sh FROM (SELECT sh, count(*) AS df FROM sh GROUP BY sh)
        WHERE df <= 50),
      rare AS (SELECT s.doc_id, s.sh FROM sh s JOIN dfc USING (sh)),
      cand AS (
        SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM rare a JOIN rare b ON a.sh = b.sh AND a.doc_id < b.doc_id),
      cnt AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
      inter AS (
        SELECT c.doc_a, c.doc_b, count(*) AS shared
        FROM cand c
        JOIN sh x ON x.doc_id = c.doc_a
        JOIN sh y ON y.doc_id = c.doc_b AND y.sh = x.sh
        GROUP BY c.doc_a, c.doc_b),
      jac AS (
        SELECT i.doc_a, i.doc_b,
               round(CAST(shared AS DOUBLE) / (ca.n + cb.n - shared), 4)
                 AS j
        FROM inter i
        JOIN cnt ca ON ca.doc_id = i.doc_a
        JOIN cnt cb ON cb.doc_id = i.doc_b),
      binned AS (
        SELECT least(CAST(floor(j.j * 10) AS INTEGER), 9) AS bin,
               CASE WHEN p.doc_a IS NOT NULL THEN 1 ELSE 0 END AS det
        FROM jac j
        LEFT JOIN pairs p ON p.doc_a = j.doc_a AND p.doc_b = j.doc_b)
      SELECT bin, CAST(count(*) AS BIGINT) AS n_pairs,
             CAST(sum(det) AS BIGINT) AS detected,
             round(sum(det) / CAST(count(*) AS DOUBLE), 4) AS detect_rate,
             round(1.0 - (1.0 - (bin + 0.5) / 10.0) ** 4, 6)
               AS analytic_mid
      FROM binned GROUP BY bin ORDER BY bin""")),

    // dd17's BENCH-TIER twin (r11 item 6): the identical S-curve audit on
    // the deterministic doc_id%5 sample. The full-corpus audit above joins
    // ALL df-capped shingle-sharing pairs by construction — it is the
    // right AUDIT cost but the two slowest registry entries were both
    // audits, so the per-round bench times this 20% sample instead
    // (Bench.AuditTier skips the full one; Verify still grades both).
    // Sampling the DOCS (not the pairs) keeps every downstream ratio
    // meaningful: it is the same audit on a smaller corpus.
    Q("dd17b_lsh_scurve_sampled", (s, dir) =>
      Dedup.lshScurveAudit(
        t(s, dir, "documents").filter(col("doc_id") % 5 === 0),
        "doc_id", "text", bands = 4, maxDf = 50, nBins = 10)
        .orderBy("bin"),
      Some(s"""
      WITH ${minhashPairsCte(" WHERE doc_id % 5 = 0")},
      dfc AS (
        SELECT sh FROM (SELECT sh, count(*) AS df FROM sh GROUP BY sh)
        WHERE df <= 50),
      rare AS (SELECT s.doc_id, s.sh FROM sh s JOIN dfc USING (sh)),
      cand AS (
        SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM rare a JOIN rare b ON a.sh = b.sh AND a.doc_id < b.doc_id),
      cnt AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
      inter AS (
        SELECT c.doc_a, c.doc_b, count(*) AS shared
        FROM cand c
        JOIN sh x ON x.doc_id = c.doc_a
        JOIN sh y ON y.doc_id = c.doc_b AND y.sh = x.sh
        GROUP BY c.doc_a, c.doc_b),
      jac AS (
        SELECT i.doc_a, i.doc_b,
               round(CAST(shared AS DOUBLE) / (ca.n + cb.n - shared), 4)
                 AS j
        FROM inter i
        JOIN cnt ca ON ca.doc_id = i.doc_a
        JOIN cnt cb ON cb.doc_id = i.doc_b),
      binned AS (
        SELECT least(CAST(floor(j.j * 10) AS INTEGER), 9) AS bin,
               CASE WHEN p.doc_a IS NOT NULL THEN 1 ELSE 0 END AS det
        FROM jac j
        LEFT JOIN pairs p ON p.doc_a = j.doc_a AND p.doc_b = j.doc_b)
      SELECT bin, CAST(count(*) AS BIGINT) AS n_pairs,
             CAST(sum(det) AS BIGINT) AS detected,
             round(sum(det) / CAST(count(*) AS DOUBLE), 4) AS detect_rate,
             round(1.0 - (1.0 - (bin + 0.5) / 10.0) ** 4, 6)
               AS analytic_mid
      FROM binned GROUP BY bin ORDER BY bin""")),

    // Full near-dup composition: exact-dedup to representatives FIRST (the
    // LSH hot-bucket fix), then banded MinHash candidates + exact Jaccard,
    // thresholded on the rounded score in both engines.
    Q("dd6_neardup_pipeline", (s, dir) =>
      Dedup.nearDupPairs(t(s, dir, "documents"), "doc_id", "text",
        threshold = 0.2)
        .orderBy("doc_a", "doc_b"),
      Some("""
      WITH reps AS (
        SELECT doc_id, text FROM (
          SELECT doc_id, text,
                 min(doc_id) OVER (PARTITION BY md5(text)) AS m
          FROM documents) WHERE doc_id = m),
      docs AS (SELECT doc_id, string_split(text, ' ') AS w FROM reps),
      sh AS (
        SELECT DISTINCT doc_id, w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS sh
        FROM docs, UNNEST(generate_series(1, len(w) - 2)) AS t(i)
        WHERE len(w) >= 3),
      sig AS (
        SELECT doc_id, band, min(substr(md5(sh), band * 8 + 1, 8)) AS mh
        FROM sh, UNNEST([0, 1, 2, 3]) AS b(band)
        GROUP BY doc_id, band),
      cand AS (
        SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM sig a JOIN sig b
          ON a.band = b.band AND a.mh = b.mh AND a.doc_id < b.doc_id),
      cnt AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
      inter AS (
        SELECT c.doc_a, c.doc_b, count(*) AS shared
        FROM cand c
        JOIN sh x ON x.doc_id = c.doc_a
        JOIN sh y ON y.doc_id = c.doc_b AND y.sh = x.sh
        GROUP BY c.doc_a, c.doc_b),
      scored AS (
        SELECT i.doc_a, i.doc_b,
               round(CAST(shared AS DOUBLE) / (ca.n + cb.n - shared), 4)
                 AS jaccard
        FROM inter i
        JOIN cnt ca ON ca.doc_id = i.doc_a
        JOIN cnt cb ON cb.doc_id = i.doc_b)
      SELECT doc_a, doc_b, jaccard FROM scored WHERE jaccard >= 0.2
      ORDER BY doc_a, doc_b""")),

    // 32-bit tf-weighted SimHash — pure expression pipeline in both engines.
    Q("dd4_simhash", (s, dir) =>
      Dedup.simhash32(t(s, dir, "documents"), "doc_id", "text")
        .orderBy("doc_id"),
      Some("""
      WITH tf AS (
        SELECT doc_id, tok, count(*) AS tf
        FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS tok
              FROM documents)
        GROUP BY doc_id, tok),
      hashed AS (
        SELECT doc_id, tf,
               CAST(list_sum(list_transform(generate_series(1, 8), i ->
                 (strpos('0123456789abcdef', substr(md5(tok), i, 1)) - 1)
                 * (16.0 ** (8 - i)))) AS BIGINT) AS h
        FROM tf),
      bits AS (
        SELECT doc_id, b,
               sum(CASE WHEN (h >> b) & 1 = 1 THEN tf ELSE -tf END) AS s
        FROM hashed, UNNEST(generate_series(0, 31)) AS t(b)
        GROUP BY doc_id, b)
      SELECT doc_id,
             CAST(sum(CASE WHEN s > 0 THEN CAST(1 AS BIGINT) << b ELSE 0 END)
                  AS BIGINT) AS simhash
      FROM bits GROUP BY doc_id ORDER BY doc_id""")),

    // SimHash near-dup pairs: byte-band buckets (pigeonhole recall for
    // Hamming < 4) + exact bit_count(xor) filter on candidates.
    Q("dd7_simhash_pairs", (s, dir) =>
      Dedup.simhashNearDupPairs(t(s, dir, "documents"), "doc_id", "text",
        maxHamming = 3)
        .orderBy("id_a", "id_b"),
      Some("""
      WITH tf AS (
        SELECT doc_id, tok, count(*) AS tf
        FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS tok
              FROM documents)
        GROUP BY doc_id, tok),
      hashed AS (
        SELECT doc_id, tf,
               CAST(list_sum(list_transform(generate_series(1, 8), i ->
                 (strpos('0123456789abcdef', substr(md5(tok), i, 1)) - 1)
                 * (16.0 ** (8 - i)))) AS BIGINT) AS h
        FROM tf),
      bits AS (
        SELECT doc_id, b,
               sum(CASE WHEN (h >> b) & 1 = 1 THEN tf ELSE -tf END) AS s
        FROM hashed, UNNEST(generate_series(0, 31)) AS t(b)
        GROUP BY doc_id, b),
      sims AS (
        SELECT doc_id,
               CAST(sum(CASE WHEN s > 0 THEN CAST(1 AS BIGINT) << b ELSE 0 END)
                    AS BIGINT) AS simhash
        FROM bits GROUP BY doc_id),
      banded AS (
        SELECT doc_id, simhash, band, (simhash >> (band * 8)) & 255 AS bv
        FROM sims, UNNEST([0, 1, 2, 3]) AS t(band)),
      cand AS (
        SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
               a.simhash AS sh_a, b.simhash AS sh_b
        FROM banded a JOIN banded b
          ON a.band = b.band AND a.bv = b.bv AND a.doc_id < b.doc_id)
      SELECT id_a, id_b,
             CAST(bit_count(xor(sh_a, sh_b)) AS INTEGER) AS hamming
      FROM cand WHERE bit_count(xor(sh_a, sh_b)) <= 3
      ORDER BY id_a, id_b""")),

    // dd7's PRODUCTION size, VALUE-graded (r11 item 2): 64-bit simhash
    // (xxhash64 tokens), eight byte bands. The scale sweep (SCALE.md)
    // showed the 32-bit space saturating at ~50k docs — random pairs drift
    // inside small Hamming distances and candidate pairs grow
    // superlinearly; 64 bits push that wall out by 2^32. DuckDB has no
    // xxhash64 to replicate the signature, so the grade is the
    // block-then-verify RECALL projection: simhash blocking at the full
    // pigeonhole bound (maxHamming = 7 < 8 bands — every pair within
    // hamming 7 shares an unchanged byte band BY THEOREM, so blocking
    // recall is exact, not probabilistic) then integer-exact Jaccard >= 1/2
    // verification. The oracle recomputes the full exact pair set above the
    // threshold: a true near-dup whose 64-bit signatures drift past
    // hamming 7 would hash red (fixture near-dups measure hamming <= 5).
    // DedupProps still gates the pigeonhole property at both widths; dd7
    // above stays the hash-matched 32-bit hamming-pair grade.
    Q("dd7b_simhash64_pairs", (s, dir) => {
      val docs = t(s, dir, "documents")
      val cand = Dedup.simhashNearDupPairs(docs, "doc_id", "text",
        maxHamming = 7, bits = 64)
      // r14: hashed verify side (see dd2b) — longs, not strings, through
      // the distinct and overlap exchanges
      Dedup.verifiedPairsHashed(cand,
          Dedup.hashedShingleSet(docs, "doc_id", "text"),
          "doc_id", "id_a", "id_b", minNum = 1, minDen = 2)
        .orderBy("id_a", "id_b")
    }, Some(s"""
      WITH $ShingleCte,
      cnt AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
      inter AS (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS shared
        FROM sh a JOIN sh b ON a.sh = b.sh AND a.doc_id < b.doc_id
        GROUP BY 1, 2)
      SELECT i.id_a, i.id_b, shared, ca.n + cb.n - shared AS union_sz
      FROM inter i JOIN cnt ca ON ca.doc_id = i.id_a
                   JOIN cnt cb ON cb.doc_id = i.id_b
      WHERE shared * 2 >= ca.n + cb.n - shared
      ORDER BY id_a, id_b""")),

    // Cross-source duplication matrix in boilerplate mode: document pairs
    // sharing a 5-token prefix per unordered source pair — which feeds
    // inject the same banner/header (drop/cap candidates) and how much
    // intra-feed boilerplate each source carries. 8-byte prefix-hash
    // self-join; the oracle joins on the raw prefix string, so a
    // hash-collision bug here would grade red, not silently pass.
    // (Exact whole-text mode is brute-force-verified in DedupProps; this
    // corpus has no whole-text duplicates at the grading SF, which would
    // make that mode's grade vacuous.)
    Q("dd8_cross_source_dups", (s, dir) =>
      Dedup.crossSourceDupMatrix(t(s, dir, "documents"),
        "doc_id", "text", "source", prefixTokens = Some(5))
        .orderBy("source_a", "source_b"),
      Some("""
      WITH keyed AS (
        SELECT doc_id, source,
               array_to_string(list_slice(string_split(text, ' '), 1, 5), ' ')
                 AS pfx
        FROM documents)
      SELECT least(a.source, b.source) AS source_a,
             greatest(a.source, b.source) AS source_b,
             count(*) AS dup_pairs
      FROM keyed a JOIN keyed b
        ON a.pfx = b.pfx AND a.doc_id < b.doc_id
      GROUP BY 1, 2 ORDER BY 1, 2""")),

    // Transitive duplicate clusters: connected components over the
    // MinHash-LSH candidate graph (large-star/small-star rounds — see
    // Components). A~B and B~C cluster together even when A and C never
    // share a band; every document gets a canonical cluster id (min doc_id
    // of its component) and the cluster size — the shape a production
    // "keep one per cluster" dedup actually consumes. The oracle computes
    // ground-truth reachability with a recursive CTE, so a wrong merge or
    // a missed transitive hop grades red.
    Q("dd9_dup_clusters", (s, dir) => {
      val docs = t(s, dir, "documents")
      val sh = Dedup.shingleMultiset(docs, "doc_id", "text")
      val sig = Dedup.minhashSignatures(sh, "doc_id", bands = 4)
        .localCheckpoint()
      val cc = Components.connectedComponents(
        Dedup.lshCandidatePairs(sig, "doc_id"), "doc_a", "doc_b")
      docs.select(col("doc_id"))
        .join(cc, docs("doc_id") === cc("node"), "left")
        .select(docs("doc_id"),
          coalesce(col("component"), docs("doc_id")).as("cluster_id"))
        .withColumn("cluster_size",
          count(lit(1)).over(Window.partitionBy("cluster_id")))
        .orderBy("doc_id")
    }, Some(s"""
      WITH RECURSIVE $MinhashPairsCte,
      edges AS (
        SELECT doc_a AS u, doc_b AS v FROM pairs
        UNION ALL SELECT doc_b, doc_a FROM pairs),
      reach(u, v) AS (
        SELECT doc_id, doc_id FROM documents
        UNION
        SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u),
      comp AS (SELECT u AS doc_id, min(v) AS cluster_id FROM reach GROUP BY u)
      SELECT doc_id, cluster_id,
             count(*) OVER (PARTITION BY cluster_id) AS cluster_size
      FROM comp ORDER BY doc_id""")),

    // Connected components graded DIRECTLY on a fixture edge list (dd9
    // grades the operator only through the LSH composition, whose
    // components are shallow): 100-node chains over doc_id arithmetic
    // plus a bridge merging every even chain into its successor — deep
    // 200-node components where min labels must cross the full diameter,
    // vs the same recursive-CTE reachability ground truth.
    Q("cc1_connected_components", (s, dir) => {
      val ids = t(s, dir, "documents").select(col("doc_id"))
      val chain = ids.filter(col("doc_id") % 100 =!= 0)
        .select(col("doc_id").as("a"), (col("doc_id") - 1).as("b"))
      val bridge = ids.filter(col("doc_id") % 200 === 150)
        .select(col("doc_id").as("a"), (col("doc_id") - 100).as("b"))
      val cc = graft.operators.Components.connectedComponents(
        chain.unionByName(bridge), "a", "b")
      ids.join(cc, ids("doc_id") === cc("node"), "left")
        .select(ids("doc_id"),
          coalesce(col("component"), ids("doc_id")).as("component"))
        .orderBy("doc_id")
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
        SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u)
      SELECT u AS doc_id, min(v) AS component FROM reach GROUP BY u
      ORDER BY doc_id""")),

    // Cluster-keep-BEST dedup (the FineWeb/Dolma production rep-selection
    // rule): within each transitive duplicate cluster (dd9's components
    // over the LSH candidate graph) keep the HIGHEST-QUALITY document —
    // not the min-id — with (rounded quality DESC, doc_id) as the
    // deterministic total order on both engines. Composition cost is
    // dd9's plus ONE argmax window keyed on cluster_id; the quality
    // score rides the original document scan.
    Q("dd20_cluster_keep_best", (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val docs = t(s, dir, "documents")
      val sh = Dedup.shingleMultiset(docs, "doc_id", "text")
      val sig = Dedup.minhashSignatures(sh, "doc_id", bands = 4)
        .localCheckpoint()
      val cc = graft.operators.Components.connectedComponents(
        Dedup.lshCandidatePairs(sig, "doc_id"), "doc_a", "doc_b")
      docs.select(col("doc_id"),
          TA.qualityScore(col("text")).as("quality"))
        .join(cc, docs("doc_id") === cc("node"), "left")
        .select(col("doc_id"),
          coalesce(col("component"), col("doc_id")).as("cluster_id"),
          col("quality"))
        .withColumn("kept", row_number().over(
          Window.partitionBy("cluster_id")
            .orderBy(col("quality").desc, col("doc_id"))) === 1)
        .orderBy("doc_id")
    }, Some(s"""
      WITH RECURSIVE $MinhashPairsCte,
      edges AS (
        SELECT doc_a AS u, doc_b AS v FROM pairs
        UNION ALL SELECT doc_b, doc_a FROM pairs),
      reach(u, v) AS (
        SELECT doc_id, doc_id FROM documents
        UNION
        SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u),
      comp AS (SELECT u AS doc_id, min(v) AS cluster_id FROM reach GROUP BY u),
      q AS (
        SELECT doc_id,
          round((CAST(len(list_filter(string_split(text, ' '),
                   x -> x IN ('the', 'a', 'of', 'and', 'to', 'in'))) AS DOUBLE)
                 / greatest(CAST(len(string_split(text, ' ')) AS DOUBLE), 1.0)) * 0.5
                + (1.0 - CAST(len(regexp_extract_all(text, '[^a-zA-Z0-9 ]')) AS DOUBLE)
                         / greatest(CAST(length(text) AS DOUBLE), 1.0)) * 0.5,
                4) AS quality
        FROM documents)
      SELECT c.doc_id, c.cluster_id, q.quality,
             row_number() OVER (PARTITION BY c.cluster_id
               ORDER BY q.quality DESC, c.doc_id) = 1 AS kept
      FROM comp c JOIN q ON q.doc_id = c.doc_id
      ORDER BY c.doc_id""")),

    // PageRank over a deterministic synthetic link graph (chains + decade
    // hubs over doc_id arithmetic — same fixture philosophy as cc1): 5
    // fixed power-iteration rounds, damping 0.85, no dangling-mass
    // redistribution, so the SQL oracle can unroll the exact same terms.
    // Per round: one node-keyed equi-join + one groupBy-sum — no driver
    // graph state, lineage checkpoint-truncated per round.
    Q("pr1_pagerank", (s, dir) => {
      val ids = t(s, dir, "documents").select(col("doc_id"))
      val chain = ids.filter(col("doc_id") % 100 =!= 0)
        .select(col("doc_id").as("a"), (col("doc_id") - 1).as("b"))
      val hub = ids.filter(col("doc_id") % 10 =!= 0)
        .select(col("doc_id").as("a"),
          (col("doc_id") - col("doc_id") % 10).as("b"))
      graft.operators.Components.pageRank(
        chain.unionByName(hub), "a", "b", ids, "doc_id", iters = 5)
        .select(col("node").as("doc_id"), round(col("rank"), 6).as("rank"))
        .orderBy("doc_id")
    }, Some {
      val rounds = (1 to 5).map { i =>
        s"""
      r$i AS (
        SELECT nodes.n, 0.15 + 0.85 * coalesce(c.s, 0) AS r
        FROM nodes LEFT JOIN (
          SELECT e.b AS n, sum(p.r / e.outdeg) AS s
          FROM e JOIN r${i - 1} p ON e.a = p.n GROUP BY e.b) c USING (n))"""
      }.mkString(",")
      s"""
      WITH nodes AS (SELECT doc_id AS n FROM documents),
      e0 AS (
        SELECT doc_id AS a, doc_id - 1 AS b FROM documents
        WHERE doc_id % 100 <> 0
        UNION ALL
        SELECT doc_id, doc_id - (doc_id % 10) FROM documents
        WHERE doc_id % 10 <> 0),
      deg AS (SELECT a, count(*) AS outdeg FROM e0 GROUP BY a),
      e AS (SELECT e0.a, e0.b, deg.outdeg FROM e0 JOIN deg USING (a)),
      r0 AS (SELECT n, 1.0 AS r FROM nodes),$rounds
      SELECT n AS doc_id, round(r, 6) AS rank FROM r5 ORDER BY doc_id"""
    }),

    // Embedding-cosine near-dup pairs: sign-LSH bucket, exact cosine within
    // bucket, threshold filter (on the rounded score in both engines).
    Q("dd5_embedding_neardup", (s, dir) =>
      Similarity.cosineNearDupPairs(t(s, dir, "embeddings"), "vec_id",
        "embedding", threshold = 0.3, bits = 4)
        .orderBy("id_a", "id_b"),
      Some("""
      WITH e AS (
        SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
               (CASE WHEN embedding[1] > 0 THEN 8 ELSE 0 END
                + CASE WHEN embedding[2] > 0 THEN 4 ELSE 0 END
                + CASE WHEN embedding[3] > 0 THEN 2 ELSE 0 END
                + CASE WHEN embedding[4] > 0 THEN 1 ELSE 0 END) AS bucket
        FROM embeddings),
      pairs AS (
        SELECT a.vec_id AS id_a, b.vec_id AS id_b,
               round(list_sum(list_transform(generate_series(1, len(a.v)),
                       i -> a.v[i] * b.v[i]))
                     / (sqrt(list_sum(list_transform(a.v, x -> x * x)))
                        * sqrt(list_sum(list_transform(b.v, x -> x * x)))),
                     6) AS cos
        FROM e a JOIN e b ON a.bucket = b.bucket AND a.vec_id < b.vec_id)
      SELECT id_a, id_b, cos FROM pairs WHERE cos >= 0.3
      ORDER BY id_a, id_b""")),

    // SemDeDup-style semantic dedup: trained k-means cells (5 unrolled
    // Lloyd iterations, sim5b's CTE chain), then greedy-by-id within-cell
    // cosine pruning — a vector is a dup iff a lower-id cellmate clears
    // tau on the rounded score. dd5's sibling at the MEANING grain.
    Q("dd15_semantic_dedup", (s, dir) =>
      Similarity.semanticDedup(t(s, dir, "embeddings"), "vec_id",
        "embedding", nlist = 8, iters = 5, tau = 0.3)
        .orderBy("vec_id"),
      Some(s"""
      WITH e AS (
        SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
      cent0 AS (
        SELECT CAST(vec_id AS INTEGER) AS cid, v AS cv
        FROM e WHERE vec_id < 8),${lloydCtes(5)},
      assignT AS (
        SELECT e.vec_id, c.cid AS cell
        FROM e CROSS JOIN cent5 c
        QUALIFY row_number() OVER (PARTITION BY e.vec_id ORDER BY
          list_sum(list_transform(generate_series(1, len(e.v)),
            i -> (e.v[i] - c.cv[i]) * (e.v[i] - c.cv[i]))), c.cid) = 1),
      ev AS (
        SELECT a.vec_id, a.cell, e.v,
               sqrt(list_sum(list_transform(e.v, x -> x * x))) AS nrm
        FROM assignT a JOIN e USING (vec_id)),
      dup AS (
        SELECT DISTINCT b.vec_id
        FROM ev a JOIN ev b ON a.cell = b.cell AND a.vec_id < b.vec_id
        WHERE round(list_sum(list_transform(generate_series(1, len(a.v)),
                i -> a.v[i] * b.v[i])) / (a.nrm * b.nrm), 6) >= 0.3)
      SELECT v.vec_id, CAST(v.cell AS INTEGER) AS cell,
             (d.vec_id IS NOT NULL) AS is_dup
      FROM ev v LEFT JOIN dup d USING (vec_id)
      ORDER BY v.vec_id""")),

    // Symmetric int8 scalar-quantization audit per embedding — the
    // compression step an IVF+SQ index applies before storing vectors;
    // graded on the max-abs scale and the reconstruction MSE (×1e6 so the
    // driver's 6-decimal rounding keeps real precision).
    Q("vq1_scalar_quantization", (s, dir) =>
      Similarity.scalarQuantizationError(
        t(s, dir, "embeddings"), "vec_id", "embedding")
        .orderBy("vec_id"),
      Some("""
      WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
                 FROM embeddings),
      s AS (SELECT vec_id, v,
              greatest(list_max(list_transform(v, x -> abs(x))), 1e-12)
                AS sc
            FROM e)
      SELECT vec_id, round(sc, 6) AS scale,
             round(list_sum(list_transform(v, x ->
                 (x - round(x / sc * 127) * sc / 127) ** 2)) / len(v) * 1e6,
               6) AS mse_e6
      FROM s ORDER BY vec_id""")),

    // Product-quantization audit (vq1's PQ sibling, the IVF-PQ compression
    // step): 64 dims → 8 subvectors of 8, each coded as the nearest entry
    // of that subspace's deterministic codebook (subvectors of the first 8
    // vectors, sim4's convention); graded on the code word and the
    // reconstruction MSE. Both engines sum subspace errors in subspace
    // order (sequential fold), so the double sum is reproducible.
    Q("vq2_product_quantization", (s, dir) =>
      Similarity.productQuantizationError(
        t(s, dir, "embeddings"), "vec_id", "embedding",
        subspaces = 8, ncodes = 8),
      Some("""
      WITH e AS (
        SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
      sub AS (
        SELECT vec_id, s, list_slice(v, s * 8 + 1, s * 8 + 8) AS sv
        FROM e, UNNEST(generate_series(0, 7)) AS t(s)),
      cb AS (
        SELECT CAST(vec_id AS INTEGER) AS code, s, sv AS cv
        FROM sub WHERE vec_id < 8),
      d AS (
        SELECT sub.vec_id, sub.s, cb.code,
               list_sum(list_transform(generate_series(1, 8),
                 i -> (sv[i] - cv[i]) * (sv[i] - cv[i]))) AS d2
        FROM sub JOIN cb USING (s)),
      a AS (
        SELECT vec_id, s, code, d2 FROM d
        QUALIFY row_number() OVER (PARTITION BY vec_id, s
                                   ORDER BY d2, code) = 1)
      SELECT vec_id,
             array_to_string(list(code ORDER BY s), ',') AS code,
             round(list_sum(list(d2 ORDER BY s)) / 64 * 1e6, 6) AS mse_e6
      FROM a GROUP BY vec_id ORDER BY vec_id""")),

    // Johnson–Lindenstrauss random projection 64→16: Achlioptas ±1 signs
    // derived from md5("rp:j:i") parity, inlined as literal arrays into
    // BOTH plans — 16 native vec_dots per row, zero shuffles. The oracle
    // embeds the identical sign literals, so the grade is bit-exact
    // projection arithmetic, not a statistical check.
    Q("rp1_random_projection", (s, dir) =>
      graft.operators.RandomProjection.project(
        t(s, dir, "embeddings"), "vec_id", "embedding", k = 16, d = 64)
        .orderBy("vec_id"),
      Some {
        val sm = graft.operators.RandomProjection.signMatrix(16, 64)
        val cols = (0 until 16).map { j =>
          val lst = sm(j).map(x => if (x > 0) "1.0" else "-1.0")
            .mkString("[", ", ", "]")
          s"round(list_sum(list_transform(generate_series(1, 64), i -> v[i] * ($lst)[i])) / sqrt(16.0), 6) AS p$j"
        }.mkString(",\n             ")
        s"""
      WITH e AS (
        SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings)
      SELECT vec_id,
             $cols
      FROM e ORDER BY vec_id"""
      }),

    // Brute-force cosine top-k against the vec_id=0 embedding (exact path).
    Q("sim1_cosine_topk", (s, dir) =>
      Similarity.bruteForceTopK(t(s, dir, "embeddings"), "vec_id",
        "embedding", queryId = 0L, k = 20),
      Some("""
      WITH q AS (
        SELECT CAST(embedding AS DOUBLE[]) AS qv FROM embeddings
        WHERE vec_id = 0),
      e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings)
      SELECT vec_id,
             round(list_sum(list_transform(generate_series(1, len(v)),
                     i -> v[i] * qv[i]))
                   / (sqrt(list_sum(list_transform(v, x -> x * x)))
                      * sqrt(list_sum(list_transform(qv, x -> x * x)))),
                   6) AS score
      FROM e, q ORDER BY score DESC, vec_id LIMIT 20""")),

    // Sign-bit LSH-bucketed ANN: probe only the query's bucket (scale path).
    Q("sim2_lsh_bucketed_ann", (s, dir) =>
      Similarity.bucketedTopK(t(s, dir, "embeddings"), "vec_id",
        "embedding", queryId = 0L, k = 10, bits = 4),
      Some("""
      WITH e AS (
        SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
               (CASE WHEN embedding[1] > 0 THEN 8 ELSE 0 END
                + CASE WHEN embedding[2] > 0 THEN 4 ELSE 0 END
                + CASE WHEN embedding[3] > 0 THEN 2 ELSE 0 END
                + CASE WHEN embedding[4] > 0 THEN 1 ELSE 0 END) AS bucket
        FROM embeddings),
      q AS (SELECT v AS qv, bucket AS qbucket FROM e WHERE vec_id = 0)
      SELECT vec_id,
             round(list_sum(list_transform(generate_series(1, len(v)),
                     i -> v[i] * qv[i]))
                   / (sqrt(list_sum(list_transform(v, x -> x * x)))
                      * sqrt(list_sum(list_transform(qv, x -> x * x)))),
                   6) AS score
      FROM e, q WHERE bucket = qbucket
      ORDER BY score DESC, vec_id LIMIT 10""")),

    // Multi-probe ANN: the query's bucket plus every Hamming-1 neighbor —
    // the recall path of the LSH-bucketed search.
    Q("sim3_multiprobe_ann", (s, dir) =>
      Similarity.bucketedTopKMultiProbe(t(s, dir, "embeddings"), "vec_id",
        "embedding", queryId = 0L, k = 10, bits = 4),
      Some("""
      WITH e AS (
        SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
               (CASE WHEN embedding[1] > 0 THEN 8 ELSE 0 END
                + CASE WHEN embedding[2] > 0 THEN 4 ELSE 0 END
                + CASE WHEN embedding[3] > 0 THEN 2 ELSE 0 END
                + CASE WHEN embedding[4] > 0 THEN 1 ELSE 0 END) AS bucket
        FROM embeddings),
      q AS (SELECT v AS qv, bucket AS qb FROM e WHERE vec_id = 0),
      probes AS (
        SELECT qv, unnest([qb, xor(qb, 8), xor(qb, 4), xor(qb, 2),
                           xor(qb, 1)]) AS pb
        FROM q)
      SELECT vec_id,
             round(list_sum(list_transform(generate_series(1, len(v)),
                     i -> v[i] * qv[i]))
                   / (sqrt(list_sum(list_transform(v, x -> x * x)))
                      * sqrt(list_sum(list_transform(qv, x -> x * x)))),
                   6) AS score
      FROM e JOIN probes ON e.bucket = probes.pb
      ORDER BY score DESC, vec_id LIMIT 10""")),

    // IVF ANN: deterministic coarse centroids (first 8 vectors), argmin-L2
    // cell assignment, probe the query's cell only. Ties in assignment break
    // by centroid id in both engines (struct min / ORDER BY d2, cid).
    Q("sim4_ivf_ann", (s, dir) =>
      Similarity.ivfTopK(t(s, dir, "embeddings"), "vec_id", "embedding",
        queryId = 0L, k = 10, nlist = 8),
      Some("""
      WITH e AS (
        SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
      c AS (SELECT vec_id AS cid, v AS cv FROM e WHERE vec_id < 8),
      d AS (
        SELECT e.vec_id, c.cid,
               list_sum(list_transform(generate_series(1, len(e.v)),
                 i -> (e.v[i] - c.cv[i]) * (e.v[i] - c.cv[i]))) AS d2
        FROM e CROSS JOIN c),
      assign AS (
        SELECT vec_id, cid AS cell FROM d
        QUALIFY row_number() OVER (PARTITION BY vec_id
                                   ORDER BY d2, cid) = 1),
      q AS (
        SELECT e.v AS qv, a.cell AS qcell
        FROM e JOIN assign a USING (vec_id) WHERE e.vec_id = 0)
      SELECT e.vec_id,
             round(list_sum(list_transform(generate_series(1, len(e.v)),
                     i -> e.v[i] * qv[i]))
                   / (sqrt(list_sum(list_transform(e.v, x -> x * x)))
                      * sqrt(list_sum(list_transform(qv, x -> x * x)))),
                   6) AS score
      FROM e JOIN assign a USING (vec_id) JOIN q ON a.cell = q.qcell
      ORDER BY score DESC, vec_id LIMIT 10""")),

    // IVF-PQ ANN — the production vector-index composition: the IVF cell
    // prunes the candidate READ, PQ codes prune the candidate COMPUTE
    // (candidates ranked by asymmetric distance against the query via a
    // broadcast subspaces×ncodes lookup table). Deterministic sim4 cells
    // + vq2 codebooks, so the distances hash-grade.
    Q("sim7_ivfpq_ann", (s, dir) =>
      Similarity.ivfPqTopK(t(s, dir, "embeddings"), "vec_id", "embedding",
        queryId = 0L, k = 10, nlist = 8, subspaces = 8, ncodes = 8),
      Some("""
      WITH e AS (
        SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
      c AS (SELECT vec_id AS cid, v AS cv FROM e WHERE vec_id < 8),
      dcell AS (
        SELECT e.vec_id, c.cid,
               list_sum(list_transform(generate_series(1, len(e.v)),
                 i -> (e.v[i] - c.cv[i]) * (e.v[i] - c.cv[i]))) AS d2
        FROM e CROSS JOIN c),
      assign AS (
        SELECT vec_id, cid AS cell FROM dcell
        QUALIFY row_number() OVER (PARTITION BY vec_id
                                   ORDER BY d2, cid) = 1),
      sub AS (
        SELECT vec_id, s, list_slice(v, s * 8 + 1, s * 8 + 8) AS sv
        FROM e, UNNEST(generate_series(0, 7)) AS t(s)),
      cb AS (
        SELECT CAST(vec_id AS INTEGER) AS code, s, sv AS cv
        FROM sub WHERE vec_id < 8),
      dcode AS (
        SELECT sub.vec_id, sub.s, cb.code,
               list_sum(list_transform(generate_series(1, 8),
                 i -> (sv[i] - cv[i]) * (sv[i] - cv[i]))) AS d2
        FROM sub JOIN cb USING (s)),
      codes AS (
        SELECT vec_id, s, code FROM dcode
        QUALIFY row_number() OVER (PARTITION BY vec_id, s
                                   ORDER BY d2, code) = 1),
      adc AS (
        SELECT q.s, cb.code,
               list_sum(list_transform(generate_series(1, 8),
                 i -> (q.sv[i] - cb.cv[i]) * (q.sv[i] - cb.cv[i]))) AS d
        FROM sub q JOIN cb ON cb.s = q.s
        WHERE q.vec_id = 0),
      qcell AS (SELECT cell FROM assign WHERE vec_id = 0)
      SELECT a.vec_id,
             round(list_sum(list(adc.d ORDER BY adc.s)), 6) AS adc_dist
      FROM assign a
      JOIN qcell ON a.cell = qcell.cell
      JOIN codes ON codes.vec_id = a.vec_id
      JOIN adc ON adc.s = codes.s AND adc.code = codes.code
      GROUP BY a.vec_id
      ORDER BY adc_dist, a.vec_id LIMIT 10""")),

    // ANN recall@10 as a GRADED NUMBER: each approximate path (sim2's
    // single-bucket LSH, sim3's Hamming-1 multi-probe, sim4's IVF) scored
    // by how much of the brute-force top-10 it recovers over a 20-query
    // probe set. sim2–sim4 grade against algorithm twins, so a recall
    // collapse (too-coarse bits/nlist) would pass them — here it turns the
    // recall_at_k value itself red. `hits` is an exact integer count.
    Q("sim5_ann_recall", (s, dir) =>
      Similarity.annRecallAtK(t(s, dir, "embeddings"), "vec_id", "embedding",
        nQueries = 20, k = 10, bits = 4, nlist = 8),
      Some("""
      WITH e AS (
        SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
               (CASE WHEN embedding[1] > 0 THEN 8 ELSE 0 END
                + CASE WHEN embedding[2] > 0 THEN 4 ELSE 0 END
                + CASE WHEN embedding[3] > 0 THEN 2 ELSE 0 END
                + CASE WHEN embedding[4] > 0 THEN 1 ELSE 0 END) AS bucket
        FROM embeddings),
      c AS (SELECT vec_id AS cid, v AS cv FROM e WHERE vec_id < 8),
      d AS (
        SELECT e.vec_id, c.cid,
               list_sum(list_transform(generate_series(1, len(e.v)),
                 i -> (e.v[i] - c.cv[i]) * (e.v[i] - c.cv[i]))) AS d2
        FROM e CROSS JOIN c),
      assign AS (
        SELECT vec_id, cid AS cell FROM d
        QUALIFY row_number() OVER (PARTITION BY vec_id
                                   ORDER BY d2, cid) = 1),
      corpus AS (
        SELECT e.vec_id, e.v, e.bucket, a.cell,
               sqrt(list_sum(list_transform(e.v, x -> x * x))) AS nrm
        FROM e JOIN assign a USING (vec_id)),
      probes AS (
        SELECT vec_id AS qid, v AS qv, nrm AS qn, bucket AS qbucket,
               cell AS qcell
        FROM corpus WHERE vec_id < 20),
      bf AS (
        SELECT qid, vec_id FROM (
          SELECT p.qid, c.vec_id,
                 row_number() OVER (PARTITION BY p.qid ORDER BY
                   round(list_sum(list_transform(
                       generate_series(1, len(c.v)),
                       i -> c.v[i] * p.qv[i])) / (c.nrm * p.qn), 6) DESC,
                   c.vec_id) AS rn
          FROM corpus c CROSS JOIN probes p)
        WHERE rn <= 10),
      lsh AS (
        SELECT qid, vec_id FROM (
          SELECT p.qid, c.vec_id,
                 row_number() OVER (PARTITION BY p.qid ORDER BY
                   round(list_sum(list_transform(
                       generate_series(1, len(c.v)),
                       i -> c.v[i] * p.qv[i])) / (c.nrm * p.qn), 6) DESC,
                   c.vec_id) AS rn
          FROM corpus c JOIN probes p ON c.bucket = p.qbucket)
        WHERE rn <= 10),
      mp_probes AS (
        SELECT qid, qv, qn,
               unnest([qbucket, xor(qbucket, 8), xor(qbucket, 4),
                       xor(qbucket, 2), xor(qbucket, 1)]) AS pb
        FROM probes),
      mp AS (
        SELECT qid, vec_id FROM (
          SELECT p.qid, c.vec_id,
                 row_number() OVER (PARTITION BY p.qid ORDER BY
                   round(list_sum(list_transform(
                       generate_series(1, len(c.v)),
                       i -> c.v[i] * p.qv[i])) / (c.nrm * p.qn), 6) DESC,
                   c.vec_id) AS rn
          FROM corpus c JOIN mp_probes p ON c.bucket = p.pb)
        WHERE rn <= 10),
      ivf AS (
        SELECT qid, vec_id FROM (
          SELECT p.qid, c.vec_id,
                 row_number() OVER (PARTITION BY p.qid ORDER BY
                   round(list_sum(list_transform(
                       generate_series(1, len(c.v)),
                       i -> c.v[i] * p.qv[i])) / (c.nrm * p.qn), 6) DESC,
                   c.vec_id) AS rn
          FROM corpus c JOIN probes p ON c.cell = p.qcell)
        WHERE rn <= 10),
      ann AS (
        SELECT 'lsh' AS method, qid, vec_id FROM lsh
        UNION ALL SELECT 'multiprobe', qid, vec_id FROM mp
        UNION ALL SELECT 'ivf', qid, vec_id FROM ivf)
      SELECT method, CAST(count(*) AS BIGINT) AS hits,
             CAST(200 AS BIGINT) AS denom,
             round(count(*) / 200.0, 4) AS recall_at_k
      FROM ann JOIN bf USING (qid, vec_id)
      GROUP BY method ORDER BY method""")),

    // IVF recall with TRAINED centroids — the quality number the k-means
    // pass buys, graded: 5 Lloyd iterations reproduced in the oracle as an
    // UNROLLED CTE chain (fixed iteration count — no recursion needed),
    // then the first-n seed and the trained centroids score recall@10
    // against the same brute-force truth. assign0 doubles as the
    // untrained assignment (it IS assignment-to-cent0).
    Q("sim5b_ivf_trained_recall", (s, dir) =>
      Similarity.ivfTrainedRecallAtK(t(s, dir, "embeddings"), "vec_id",
        "embedding", nQueries = 20, k = 10, nlist = 8, iters = 5),
      Some(s"""
      WITH e AS (
        SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
      cent0 AS (
        SELECT CAST(vec_id AS INTEGER) AS cid, v AS cv
        FROM e WHERE vec_id < 8),${lloydCtes(5)},
      assignT AS (
        SELECT e.vec_id, c.cid AS cell
        FROM e CROSS JOIN cent5 c
        QUALIFY row_number() OVER (PARTITION BY e.vec_id ORDER BY
          list_sum(list_transform(generate_series(1, len(e.v)),
            i -> (e.v[i] - c.cv[i]) * (e.v[i] - c.cv[i]))), c.cid) = 1),
      corpus AS (
        SELECT e.vec_id, e.v,
               sqrt(list_sum(list_transform(e.v, x -> x * x))) AS nrm,
               au.cell AS cell_u, atr.cell AS cell_t
        FROM e JOIN assign0 au USING (vec_id)
               JOIN assignT atr USING (vec_id)),
      probes AS (
        SELECT vec_id AS qid, v AS qv, nrm AS qn, cell_u AS qcell_u,
               cell_t AS qcell_t
        FROM corpus WHERE vec_id < 20),
      bf AS (
        SELECT qid, vec_id FROM (
          SELECT p.qid, c.vec_id,
                 row_number() OVER (PARTITION BY p.qid ORDER BY
                   round(list_sum(list_transform(
                       generate_series(1, len(c.v)),
                       i -> c.v[i] * p.qv[i])) / (c.nrm * p.qn), 6) DESC,
                   c.vec_id) AS rn
          FROM corpus c CROSS JOIN probes p)
        WHERE rn <= 10),
      arm_u AS (
        SELECT qid, vec_id FROM (
          SELECT p.qid, c.vec_id,
                 row_number() OVER (PARTITION BY p.qid ORDER BY
                   round(list_sum(list_transform(
                       generate_series(1, len(c.v)),
                       i -> c.v[i] * p.qv[i])) / (c.nrm * p.qn), 6) DESC,
                   c.vec_id) AS rn
          FROM corpus c JOIN probes p ON c.cell_u = p.qcell_u)
        WHERE rn <= 10),
      arm_t AS (
        SELECT qid, vec_id FROM (
          SELECT p.qid, c.vec_id,
                 row_number() OVER (PARTITION BY p.qid ORDER BY
                   round(list_sum(list_transform(
                       generate_series(1, len(c.v)),
                       i -> c.v[i] * p.qv[i])) / (c.nrm * p.qn), 6) DESC,
                   c.vec_id) AS rn
          FROM corpus c JOIN probes p ON c.cell_t = p.qcell_t)
        WHERE rn <= 10),
      ann AS (
        SELECT 'ivf_first_n' AS method, qid, vec_id FROM arm_u
        UNION ALL SELECT 'ivf_trained', qid, vec_id FROM arm_t)
      SELECT method, CAST(count(*) AS BIGINT) AS hits,
             CAST(200 AS BIGINT) AS denom,
             round(count(*) / 200.0, 4) AS recall_at_k
      FROM ann JOIN bf USING (qid, vec_id)
      GROUP BY method ORDER BY method""")),

    // Binary-quantization ANN with exact re-rank (FAISS binary / BQ serve
    // shape): 64 sign bits in two 32-bit words, coarse Hamming ranking
    // over the 16-byte codes, exact-cosine re-rank of the top-50, both
    // arms recall@10-audited against brute force — the audit prices what
    // the re-rank stage buys back over raw Hamming top-k.
    Q("sim9_binary_rerank", (s, dir) =>
      Similarity.binaryRerankRecallAtK(t(s, dir, "embeddings"), "vec_id",
        "embedding", nQueries = 20, k = 10, rerank = 50),
      Some("""
      WITH e AS (
        SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
      pk AS (
        SELECT vec_id, v,
               sqrt(list_sum(list_transform(v, x -> x * x))) AS nrm,
               CAST(list_sum(list_transform(generate_series(1, 32),
                 j -> CASE WHEN v[j] > 0 THEN (CAST(1 AS BIGINT) << (j - 1))
                      ELSE 0 END)) AS BIGINT) AS lo,
               CAST(list_sum(list_transform(generate_series(33, 64),
                 j -> CASE WHEN v[j] > 0 THEN (CAST(1 AS BIGINT) << (j - 33))
                      ELSE 0 END)) AS BIGINT) AS hi
        FROM e),
      probes AS (
        SELECT vec_id AS qid, v AS qv, nrm AS qn, lo AS qlo, hi AS qhi
        FROM pk WHERE vec_id < 20),
      ham AS (
        SELECT p.qid, c.vec_id,
               row_number() OVER (PARTITION BY p.qid ORDER BY
                 bit_count(xor(c.lo, p.qlo)) + bit_count(xor(c.hi, p.qhi)),
                 c.vec_id) AS rn
        FROM pk c CROSS JOIN probes p),
      hamk AS (SELECT qid, vec_id FROM ham WHERE rn <= 10),
      rr AS (
        SELECT qid, vec_id FROM (
          SELECT cd.qid, c.vec_id,
                 row_number() OVER (PARTITION BY cd.qid ORDER BY
                   round(list_sum(list_transform(
                       generate_series(1, len(c.v)),
                       i -> c.v[i] * p.qv[i])) / (c.nrm * p.qn), 6) DESC,
                   c.vec_id) AS rn
          FROM ham cd JOIN pk c ON c.vec_id = cd.vec_id
                      JOIN probes p ON p.qid = cd.qid
          WHERE cd.rn <= 50)
        WHERE rn <= 10),
      bf AS (
        SELECT qid, vec_id FROM (
          SELECT p.qid, c.vec_id,
                 row_number() OVER (PARTITION BY p.qid ORDER BY
                   round(list_sum(list_transform(
                       generate_series(1, len(c.v)),
                       i -> c.v[i] * p.qv[i])) / (c.nrm * p.qn), 6) DESC,
                   c.vec_id) AS rn
          FROM pk c CROSS JOIN probes p)
        WHERE rn <= 10),
      ann AS (
        SELECT 'binary_hamming' AS method, qid, vec_id FROM hamk
        UNION ALL SELECT 'binary_rerank', qid, vec_id FROM rr)
      SELECT method, CAST(count(*) AS BIGINT) AS hits,
             CAST(200 AS BIGINT) AS denom,
             round(count(*) / 200.0, 4) AS recall_at_k
      FROM ann JOIN bf USING (qid, vec_id)
      GROUP BY method ORDER BY method""")),

    // Random-projection ANN with exact re-rank (rp1's serve shape): coarse
    // L2 ranking in the 16-dim projected space, exact-cosine re-rank of
    // the top-50, both arms recall@10-audited vs brute force — prices what
    // the 4x compression costs in recall and what the re-rank buys back.
    Q("sim10_rp_rerank", (s, dir) =>
      Similarity.rpRerankRecallAtK(t(s, dir, "embeddings"), "vec_id",
        "embedding", projDims = 16, dims = 64, nQueries = 20, k = 10,
        rerank = 50),
      Some {
        val sm = graft.operators.RandomProjection.signMatrix(16, 64)
        val pvItems = (0 until 16).map { j =>
          val lst = sm(j).map(x => if (x > 0) "1.0" else "-1.0")
            .mkString("[", ", ", "]")
          s"list_sum(list_transform(generate_series(1, 64), i -> v[i] * ($lst)[i])) / sqrt(16.0)"
        }.mkString("[\n               ", ",\n               ", "]")
        s"""
      WITH e AS (
        SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
      pk AS (
        SELECT vec_id, v,
               sqrt(list_sum(list_transform(v, x -> x * x))) AS nrm,
               $pvItems AS pv
        FROM e),
      pn AS (
        SELECT vec_id, v, nrm, pv,
               list_sum(list_transform(pv, x -> x * x)) AS pn2
        FROM pk),
      probes AS (
        SELECT vec_id AS qid, v AS qv, nrm AS qn, pv AS qpv, pn2 AS qn2
        FROM pn WHERE vec_id < 20),
      co AS (
        SELECT p.qid, c.vec_id,
               row_number() OVER (PARTITION BY p.qid ORDER BY
                 round(c.pn2 + p.qn2
                       - 2.0 * list_sum(list_transform(
                           generate_series(1, 16),
                           j -> c.pv[j] * p.qpv[j])), 6),
                 c.vec_id) AS rn
        FROM pn c CROSS JOIN probes p),
      cok AS (SELECT qid, vec_id FROM co WHERE rn <= 10),
      rr AS (
        SELECT qid, vec_id FROM (
          SELECT cd.qid, c.vec_id,
                 row_number() OVER (PARTITION BY cd.qid ORDER BY
                   round(list_sum(list_transform(
                       generate_series(1, len(c.v)),
                       i -> c.v[i] * p.qv[i])) / (c.nrm * p.qn), 6) DESC,
                   c.vec_id) AS rn
          FROM co cd JOIN pn c ON c.vec_id = cd.vec_id
                     JOIN probes p ON p.qid = cd.qid
          WHERE cd.rn <= 50)
        WHERE rn <= 10),
      bf AS (
        SELECT qid, vec_id FROM (
          SELECT p.qid, c.vec_id,
                 row_number() OVER (PARTITION BY p.qid ORDER BY
                   round(list_sum(list_transform(
                       generate_series(1, len(c.v)),
                       i -> c.v[i] * p.qv[i])) / (c.nrm * p.qn), 6) DESC,
                   c.vec_id) AS rn
          FROM pn c CROSS JOIN probes p)
        WHERE rn <= 10),
      ann AS (
        SELECT 'rp_coarse' AS method, qid, vec_id FROM cok
        UNION ALL SELECT 'rp_rerank', qid, vec_id FROM rr)
      SELECT method, CAST(count(*) AS BIGINT) AS hits,
             CAST(200 AS BIGINT) AS denom,
             round(count(*) / 200.0, 4) AS recall_at_k
      FROM ann JOIN bf USING (qid, vec_id)
      GROUP BY method ORDER BY method"""
      }),

    // Matryoshka truncation audit: recall@10 of cosine over the FIRST
    // 8/16/32 dims vs the full 64-dim truth — how many leading dims an
    // MRL-truncated coarse stage can store (8x/4x/2x less IO) before a
    // re-rank is needed. One corpus×probes cross feeds all three arms;
    // each width is one more expression on the same pair rows, not
    // another join.
    Q("sim11_matryoshka_recall", (s, dir) =>
      Similarity.matryoshkaRecallAtK(t(s, dir, "embeddings"), "vec_id",
        "embedding", widths = Seq(8, 16, 32), nQueries = 20, k = 10),
      Some {
        def dotm(m: Int) =
          s"list_sum(list_transform(generate_series(1, $m), i -> c.v[i] * p.qv[i]))"
        def armCte(m: Int) = s"""
      a$m AS (
        SELECT qid, vec_id FROM (
          SELECT p.qid, c.vec_id,
                 row_number() OVER (PARTITION BY p.qid ORDER BY
                   round(${dotm(m)} / (c.n$m * p.qn$m), 6) DESC,
                   c.vec_id) AS rn
          FROM n c CROSS JOIN probes p)
        WHERE rn <= 10)"""
        s"""
      WITH e AS (
        SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
      n AS (
        SELECT vec_id, v,
               sqrt(list_sum(list_transform(v, x -> x * x))) AS nrm,
               sqrt(list_sum(list_transform(v[1:8], x -> x * x))) AS n8,
               sqrt(list_sum(list_transform(v[1:16], x -> x * x))) AS n16,
               sqrt(list_sum(list_transform(v[1:32], x -> x * x))) AS n32
        FROM e),
      probes AS (
        SELECT vec_id AS qid, v AS qv, nrm AS qn,
               n8 AS qn8, n16 AS qn16, n32 AS qn32
        FROM n WHERE vec_id < 20),
      bf AS (
        SELECT qid, vec_id FROM (
          SELECT p.qid, c.vec_id,
                 row_number() OVER (PARTITION BY p.qid ORDER BY
                   round(list_sum(list_transform(
                       generate_series(1, len(c.v)),
                       i -> c.v[i] * p.qv[i])) / (c.nrm * p.qn), 6) DESC,
                   c.vec_id) AS rn
          FROM n c CROSS JOIN probes p)
        WHERE rn <= 10),${armCte(8)},${armCte(16)},${armCte(32)},
      ann AS (
        SELECT 'trunc_08' AS method, qid, vec_id FROM a8
        UNION ALL SELECT 'trunc_16', qid, vec_id FROM a16
        UNION ALL SELECT 'trunc_32', qid, vec_id FROM a32)
      SELECT method, CAST(count(*) AS BIGINT) AS hits,
             CAST(200 AS BIGINT) AS denom,
             round(count(*) / 200.0, 4) AS recall_at_k
      FROM ann JOIN bf USING (qid, vec_id)
      GROUP BY method ORDER BY method"""
      }),

    // Metadata-FILTERED ANN: top-k among label=3 vectors only, with the
    // filter applied to the corpus side BEFORE the bucket probe
    // (filter-then-probe — the selective-filter pruning shape; the query
    // vector itself is label 2 and need not pass).
    Q("sim6_filtered_ann", (s, dir) =>
      Similarity.filteredBucketedTopK(t(s, dir, "embeddings"), "vec_id",
        "embedding", queryId = 0L, k = 10, pred = col("label") === 3,
        bits = 4),
      Some("""
      WITH e AS (
        SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v,
               (CASE WHEN embedding[1] > 0 THEN 8 ELSE 0 END
                + CASE WHEN embedding[2] > 0 THEN 4 ELSE 0 END
                + CASE WHEN embedding[3] > 0 THEN 2 ELSE 0 END
                + CASE WHEN embedding[4] > 0 THEN 1 ELSE 0 END) AS bucket
        FROM embeddings),
      q AS (SELECT v AS qv, bucket AS qbucket FROM e WHERE vec_id = 0)
      SELECT vec_id,
             round(list_sum(list_transform(generate_series(1, len(v)),
                     i -> v[i] * qv[i]))
                   / (sqrt(list_sum(list_transform(v, x -> x * x)))
                      * sqrt(list_sum(list_transform(qv, x -> x * x)))),
                   6) AS score
      FROM e, q WHERE bucket = qbucket AND label = 3
      ORDER BY score DESC, vec_id LIMIT 10""")),

    // sim6's recall path: the sparse filter starves the single bucket
    // (4 < k rows above), and the production fix widens the PROBE, not
    // the filter — Hamming-1 multi-probe over the label-filtered corpus
    // fills k without a scan.
    Q("sim6b_filtered_multiprobe", (s, dir) =>
      Similarity.filteredBucketedTopKMultiProbe(
        t(s, dir, "embeddings"), "vec_id", "embedding",
        queryId = 0L, k = 10, pred = col("label") === 3, bits = 4),
      Some("""
      WITH e AS (
        SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v,
               (CASE WHEN embedding[1] > 0 THEN 8 ELSE 0 END
                + CASE WHEN embedding[2] > 0 THEN 4 ELSE 0 END
                + CASE WHEN embedding[3] > 0 THEN 2 ELSE 0 END
                + CASE WHEN embedding[4] > 0 THEN 1 ELSE 0 END) AS bucket
        FROM embeddings),
      q AS (SELECT v AS qv, bucket AS qb FROM e WHERE vec_id = 0),
      probes AS (
        SELECT qv, unnest([qb, xor(qb, 8), xor(qb, 4), xor(qb, 2),
                           xor(qb, 1)]) AS pb
        FROM q)
      SELECT vec_id,
             round(list_sum(list_transform(generate_series(1, len(v)),
                     i -> v[i] * qv[i]))
                   / (sqrt(list_sum(list_transform(v, x -> x * x)))
                      * sqrt(list_sum(list_transform(qv, x -> x * x)))),
                   6) AS score
      FROM e JOIN probes ON e.bucket = probes.pb
      WHERE label = 3
      ORDER BY score DESC, vec_id LIMIT 10""")),

    // BATCHED ANN — the serve shape: top-k for a 20-query table in ONE
    // plan (one bucket equi-join + one rank window), not 20 single-query
    // calls. Hamming-1 multi-probe, the recall default.
    Q("sim8_batch_ann", (s, dir) => {
      val e = t(s, dir, "embeddings")
      Similarity.batchTopK(e, "vec_id", "embedding",
        e.filter(col("vec_id") < 20), "vec_id", "embedding",
        k = 10, bits = 4, probeHamming1 = true)
        .orderBy("qid", "rank")
    }, Some("""
      WITH e AS (
        SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
               (CASE WHEN embedding[1] > 0 THEN 8 ELSE 0 END
                + CASE WHEN embedding[2] > 0 THEN 4 ELSE 0 END
                + CASE WHEN embedding[3] > 0 THEN 2 ELSE 0 END
                + CASE WHEN embedding[4] > 0 THEN 1 ELSE 0 END) AS bucket,
               sqrt(list_sum(list_transform(CAST(embedding AS DOUBLE[]),
                 x -> x * x))) AS nrm
        FROM embeddings),
      q AS (SELECT vec_id AS qid, v AS qv, nrm AS qn, bucket AS qb
            FROM e WHERE vec_id < 20),
      probes AS (
        SELECT qid, qv, qn,
               unnest([qb, xor(qb, 8), xor(qb, 4), xor(qb, 2),
                       xor(qb, 1)]) AS pb
        FROM q),
      scored AS (
        SELECT p.qid, c.vec_id,
               round(list_sum(list_transform(
                   generate_series(1, len(c.v)),
                   i -> c.v[i] * p.qv[i])) / (c.nrm * p.qn), 6) AS score
        FROM e c JOIN probes p ON c.bucket = p.pb),
      ranked AS (
        SELECT qid, vec_id, score,
               row_number() OVER (PARTITION BY qid
                 ORDER BY score DESC, vec_id) AS rank
        FROM scored)
      SELECT qid, CAST(rank AS INTEGER) AS rank, vec_id, score
      FROM ranked WHERE rank <= 10 ORDER BY qid, rank""")),

    // The k-means OBJECTIVE graded beside sim5b's recall: mean squared
    // distance to the assigned centroid for the first-n seed vs the
    // 5-iteration Lloyd result, plus the improved flag — Lloyd must not
    // increase its own objective (KMeansSpec proves per-iteration
    // monotonicity; this pins the end-to-end number in the oracle gate).
    Q("sim5c_kmeans_distortion", (s, dir) => {
      val emb = t(s, dir, "embeddings")
      val seed = Similarity.trainCentroids(emb, "vec_id", "embedding",
        nlist = 8, iters = 0)
      val trained = Similarity.trainCentroids(emb, "vec_id", "embedding",
        nlist = 8, iters = 5)
      val d0 = Similarity.distortion(emb, "vec_id", "embedding", seed)
        .select(col("mean_sq_dist").as("__m0"))
      val d5 = Similarity.distortion(emb, "vec_id", "embedding", trained)
        .select(col("mean_sq_dist").as("__m5"))
      d0.crossJoin(broadcast(d5))
        .select(round(col("__m0"), 6).as("msd_first_n"),
          round(col("__m5"), 6).as("msd_trained"),
          (col("__m5") <= col("__m0")).as("improved"))
    }, Some(s"""
      WITH e AS (
        SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
      cent0 AS (
        SELECT CAST(vec_id AS INTEGER) AS cid, v AS cv
        FROM e WHERE vec_id < 8),${lloydCtes(5)},
      assignT AS (
        SELECT e.vec_id, c.cid AS cell
        FROM e CROSS JOIN cent5 c
        QUALIFY row_number() OVER (PARTITION BY e.vec_id ORDER BY
          list_sum(list_transform(generate_series(1, len(e.v)),
            i -> (e.v[i] - c.cv[i]) * (e.v[i] - c.cv[i]))), c.cid) = 1),
      d0 AS (
        SELECT avg(list_sum(list_transform(generate_series(1, len(e.v)),
                 i -> (e.v[i] - c.cv[i]) * (e.v[i] - c.cv[i])))) AS msd
        FROM e JOIN assign0 a USING (vec_id)
               JOIN cent0 c ON c.cid = a.cell),
      d5 AS (
        SELECT avg(list_sum(list_transform(generate_series(1, len(e.v)),
                 i -> (e.v[i] - c.cv[i]) * (e.v[i] - c.cv[i])))) AS msd
        FROM e JOIN assignT a USING (vec_id)
               JOIN cent5 c ON c.cid = a.cell)
      SELECT round(d0.msd, 6) AS msd_first_n,
             round(d5.msd, 6) AS msd_trained,
             d5.msd <= d0.msd AS improved
      FROM d0, d5""")),

    // AUTO-WIDENING filtered ANN: one call that fills k under any filter
    // selectivity — candidates across ALL probe radii, kept up to the
    // smallest radius whose cumulative count reaches k. sim6 stops at 4
    // rows, sim6b hard-codes radius 1; this picks the radius from the
    // data (radius-2+ capable) with no per-radius corpus rescan.
    Q("sim6c_filtered_autowiden", (s, dir) =>
      Similarity.filteredBucketedTopKAutoWiden(
        t(s, dir, "embeddings"), "vec_id", "embedding",
        queryId = 0L, k = 10, pred = col("label") === 3,
        bits = 4, maxRadius = 4),
      Some("""
      WITH e AS (
        SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v,
               (CASE WHEN embedding[1] > 0 THEN 8 ELSE 0 END
                + CASE WHEN embedding[2] > 0 THEN 4 ELSE 0 END
                + CASE WHEN embedding[3] > 0 THEN 2 ELSE 0 END
                + CASE WHEN embedding[4] > 0 THEN 1 ELSE 0 END) AS bucket
        FROM embeddings),
      q AS (SELECT v AS qv, bucket AS qb FROM e WHERE vec_id = 0),
      probes AS (
        SELECT qv, b AS pb,
               (d & 1) + ((d >> 1) & 1) + ((d >> 2) & 1) + ((d >> 3) & 1)
                 AS radius
        FROM (SELECT qv, b, xor(b, qb) AS d
              FROM q, UNNEST(generate_series(0, 15)) AS t(b))),
      cand AS (
        SELECT e.vec_id, e.v, p.qv, p.radius
        FROM e JOIN probes p ON e.bucket = p.pb
        WHERE e.label = 3),
      cutoff AS (
        SELECT coalesce(min(radius), 4) AS r
        FROM (SELECT radius, sum(n) OVER (ORDER BY radius) AS cum
              FROM (SELECT radius, count(*) AS n FROM cand
                    GROUP BY radius))
        WHERE cum >= 10)
      SELECT vec_id,
             round(list_sum(list_transform(generate_series(1, len(v)),
                     i -> v[i] * qv[i]))
                   / (sqrt(list_sum(list_transform(v, x -> x * x)))
                      * sqrt(list_sum(list_transform(qv, x -> x * x)))),
                   6) AS score
      FROM cand, cutoff WHERE radius <= r
      ORDER BY score DESC, vec_id LIMIT 10""")),

    // Language ID via marker-word heuristic.
    Q("tx1_lang_id", (s, dir) =>
      t(s, dir, "documents")
        .select(col("doc_id"), TA.langId(col("text")).as("pred_lang"))
        .orderBy("doc_id"),
      Some("""
      WITH c AS (
        SELECT doc_id,
          len(list_filter(string_split(text, ' '),
              x -> x IN ('the', 'of', 'and'))) AS c_en,
          len(list_filter(string_split(text, ' '),
              x -> x IN ('le', 'et', 'les'))) AS c_fr,
          len(list_filter(string_split(text, ' '),
              x -> x IN ('el', 'y', 'los'))) AS c_es,
          len(list_filter(string_split(text, ' '),
              x -> x IN ('der', 'und', 'die'))) AS c_de
        FROM documents)
      SELECT doc_id,
        CASE WHEN c_en > 0 AND c_en >= greatest(c_en, c_fr, c_es, c_de) THEN 'en'
             WHEN c_fr > 0 AND c_fr >= greatest(c_en, c_fr, c_es, c_de) THEN 'fr'
             WHEN c_es > 0 AND c_es >= greatest(c_en, c_fr, c_es, c_de) THEN 'es'
             WHEN c_de > 0 AND c_de >= greatest(c_en, c_fr, c_es, c_de) THEN 'de'
             ELSE 'und' END AS pred_lang
      FROM c ORDER BY doc_id""")),

    // Quality score: stopword ratio + punctuation density.
    Q("tx2_quality_score", (s, dir) =>
      t(s, dir, "documents")
        .select(col("doc_id"), TA.qualityScore(col("text")).as("quality"))
        .orderBy("doc_id"),
      Some("""
      SELECT doc_id,
        round((CAST(len(list_filter(string_split(text, ' '),
                 x -> x IN ('the', 'a', 'of', 'and', 'to', 'in'))) AS DOUBLE)
               / greatest(CAST(len(string_split(text, ' ')) AS DOUBLE), 1.0)) * 0.5
              + (1.0 - CAST(len(regexp_extract_all(text, '[^a-zA-Z0-9 ]')) AS DOUBLE)
                       / greatest(CAST(length(text) AS DOUBLE), 1.0)) * 0.5,
              4) AS quality
      FROM documents ORDER BY doc_id""")),

    // Quality deciles: ntile(10) over the tx2 score with a doc_id
    // tie-break (a deterministic total order is what makes ntile
    // cross-engine stable), then per-decile population + score range —
    // the "how much survives each quality cut" curation report. One
    // window sort + one aggregate; at 100 TB the same report comes off
    // the mergeable histogram (hq1) instead of the exact sort — this is
    // the exact-grade twin.
    Q("tx17_quality_deciles", (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.orderBy(col("quality"), col("doc_id"))
      t(s, dir, "documents")
        .select(col("doc_id"), TA.qualityScore(col("text")).as("quality"))
        .withColumn("decile", ntile(10).over(w))
        .groupBy("decile")
        .agg(count(lit(1)).as("n"),
          round(min("quality"), 4).as("q_min"),
          round(max("quality"), 4).as("q_max"))
        .orderBy("decile")
    }, Some("""
      WITH scored AS (
        SELECT doc_id,
          round((CAST(len(list_filter(string_split(text, ' '),
                   x -> x IN ('the', 'a', 'of', 'and', 'to', 'in'))) AS DOUBLE)
                 / greatest(CAST(len(string_split(text, ' ')) AS DOUBLE), 1.0)) * 0.5
                + (1.0 - CAST(len(regexp_extract_all(text, '[^a-zA-Z0-9 ]')) AS DOUBLE)
                         / greatest(CAST(length(text) AS DOUBLE), 1.0)) * 0.5,
                4) AS quality
        FROM documents)
      SELECT ntile AS decile, count(*) AS n,
             round(min(quality), 4) AS q_min, round(max(quality), 4) AS q_max
      FROM (SELECT quality, ntile(10) OVER (ORDER BY quality, doc_id) AS ntile
            FROM scored)
      GROUP BY 1 ORDER BY 1""")),

    // Token counting: whitespace + BPE-ish regex.
    Q("tx3_token_count", (s, dir) =>
      t(s, dir, "documents")
        .select(col("doc_id"),
          TA.tokenCount(col("text")).as("ws_tokens"),
          TA.bpeishTokenCount(col("text")).as("bpeish_tokens"))
        .orderBy("doc_id"),
      Some("""
      SELECT doc_id,
             len(string_split(text, ' ')) AS ws_tokens,
             len(regexp_extract_all(text, '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\s]'))
               AS bpeish_tokens
      FROM documents ORDER BY doc_id""")),

    // Fingerprint: md5 of normalized text.
    Q("tx4_fingerprint", (s, dir) =>
      t(s, dir, "documents")
        .select(col("doc_id"), TA.fingerprint(col("text")).as("fp"))
        .orderBy("doc_id"),
      Some("""
      SELECT doc_id,
             md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS fp
      FROM documents ORDER BY doc_id""")),

    // Repetition signals: type-token ratio + top-bigram fraction (word-level
    // Gopher-style quality filters).
    Q("tx6_repetition", (s, dir) =>
      TA.repetitionSignals(t(s, dir, "documents"), "doc_id", "text")
        .orderBy("doc_id"),
      Some("""
      WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
      tw AS (
        SELECT doc_id, count(*) AS n, count(DISTINCT tok) AS nd
        FROM (SELECT doc_id, unnest(ws) AS tok FROM w) GROUP BY doc_id),
      bgc AS (
        SELECT doc_id, bg, count(*) AS c
        FROM (SELECT doc_id, ws[i] || ' ' || ws[i+1] AS bg
              FROM w, UNNEST(generate_series(1, len(ws) - 1)) AS t(i)
              WHERE len(ws) >= 2)
        GROUP BY doc_id, bg),
      top AS (SELECT doc_id, max(c) AS mx, sum(c) AS tot FROM bgc
              GROUP BY doc_id)
      SELECT t.doc_id,
             round(CAST(nd AS DOUBLE) / n, 4) AS ttr,
             round(CAST(mx AS DOUBLE) / tot, 4) AS top_bigram_frac
      FROM tw t JOIN top USING (doc_id) ORDER BY doc_id""")),

    // PII scrubbing: typed redaction of emails/phones/SSNs. The corpus is
    // synthetic lorem text, so the query plants deterministic PII per doc
    // (both engines build the identical augmented string) and the scrub is
    // graded on redacted text + match count.
    Q("tx8_pii_scrub", (s, dir) => {
      val aug = concat(col("text"),
        lit(" contact u"), col("doc_id"), lit("@mail.example.org or 555-123-4567"),
        when(col("doc_id") % 3 === 0,
          concat(lit(" ssn 123-45-"),
            lpad((col("doc_id") % 10000).cast("string"), 4, "0")))
          .otherwise(lit("")))
      t(s, dir, "documents").select(col("doc_id"),
        graft.operators.TextAnalysis.piiCount(aug).as("n_pii"),
        graft.operators.TextAnalysis.piiRedact(aug).as("clean"))
        .orderBy("doc_id")
    }, Some(s"""
      WITH aug AS (
        SELECT doc_id,
               text || ' contact u' || CAST(doc_id AS VARCHAR)
                    || '@mail.example.org or 555-123-4567'
                    || CASE WHEN doc_id % 3 = 0
                         THEN ' ssn 123-45-' ||
                              lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
                         ELSE '' END AS t
        FROM documents)
      SELECT doc_id,
             len(regexp_extract_all(t, '${TAEmailRe}'))
               + len(regexp_extract_all(t, '${TAPhoneRe}'))
               + len(regexp_extract_all(t, '${TASsnRe}')) AS n_pii,
             regexp_replace(regexp_replace(regexp_replace(t,
               '${TASsnRe}', '<SSN>', 'g'),
               '${TAPhoneRe}', '<PHONE>', 'g'),
               '${TAEmailRe}', '<EMAIL>', 'g') AS clean
      FROM aug ORDER BY doc_id""")),

    // Top-k word trigrams per language — the vocabulary / shared-boilerplate
    // census a corpus audit starts from. Deterministic tie-break on the
    // n-gram string; the per-group top-k's rank filter pushes below the
    // shuffle as a partial WindowGroupLimit (sa3's PlanSpec-gated shape).
    Q("tx9_top_ngrams", (s, dir) =>
      TA.topNgrams(t(s, dir, "documents"), "text", "lang", n = 3, k = 10)
        .orderBy("grp", "rank"),
      Some("""
      WITH docs AS (SELECT lang, string_split(text, ' ') AS w FROM documents),
      grams AS (
        SELECT lang AS grp, w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS ngram
        FROM docs, UNNEST(generate_series(1, len(w) - 2)) AS t(i)
        WHERE len(w) >= 3),
      counted AS (
        SELECT grp, ngram, count(*) AS cnt FROM grams GROUP BY 1, 2)
      SELECT grp, ngram, cnt, rank FROM (
        SELECT grp, ngram, cnt,
               CAST(row_number() OVER (PARTITION BY grp
                 ORDER BY cnt DESC, ngram) AS INTEGER) AS rank
        FROM counted)
      WHERE rank <= 10
      ORDER BY grp, rank""")),

    // Top-3 characteristic terms per document by TF-IDF — keyword
    // extraction for corpus browsing/tagging. The rounded score is the
    // ORDER BY key (then the token) so the top-k cut is engine-portable;
    // the per-doc window pushes down as a partial WindowGroupLimit and the
    // document-frequency side is a dictionary-sized equi-join.
    Q("tx10_tfidf_terms", (s, dir) =>
      TA.tfidfTopTerms(t(s, dir, "documents"), "doc_id", "text", k = 3)
        .orderBy("doc_id", "rnk"),
      Some("""
      WITH toks AS (
        SELECT doc_id, unnest(string_split(text, ' ')) AS tok
        FROM documents),
      tf AS (SELECT doc_id, tok, count(*) AS tf FROM toks GROUP BY 1, 2),
      dfreq AS (
        SELECT tok, count(*) AS df FROM (SELECT DISTINCT doc_id, tok FROM toks)
        GROUP BY tok),
      n AS (SELECT count(*) AS n FROM documents),
      scored AS (
        SELECT t.doc_id, t.tok,
               round(t.tf * ln(CAST(n.n AS DOUBLE) / d.df), 6) AS tfidf
        FROM tf t JOIN dfreq d USING (tok), n),
      ranked AS (
        SELECT doc_id, tok, tfidf,
               CAST(row_number() OVER (PARTITION BY doc_id
                 ORDER BY tfidf DESC, tok) AS INTEGER) AS rnk
        FROM scored)
      SELECT doc_id, tok, tfidf, rnk FROM ranked WHERE rnk <= 3
      ORDER BY doc_id, rnk""")),

    // Unigram-LM mean log-probability per document — the perplexity-proxy
    // quality gate (CCNet's move, minus the neural LM): rare-token-heavy
    // documents score far below the corpus mode. One token-key shuffle;
    // the vocabulary is dictionary-sized and the total is a 1-row
    // broadcast.
    Q("tx13_unigram_logprob", (s, dir) =>
      TA.unigramLogProb(t(s, dir, "documents"), "doc_id", "text")
        .orderBy("doc_id"),
      Some("""
      WITH toks AS (
        SELECT doc_id, unnest(string_split(text, ' ')) AS tok
        FROM documents),
      vocab AS (SELECT tok, count(*) AS cnt FROM toks GROUP BY tok),
      tot AS (SELECT CAST(sum(cnt) AS BIGINT) AS n FROM vocab)
      SELECT doc_id,
             round(avg(ln(CAST(cnt AS DOUBLE) / n)), 6) AS mean_logp
      FROM toks JOIN vocab USING (tok), tot
      GROUP BY doc_id ORDER BY doc_id""")),

    // Bigram conditional log-prob — the LM-perplexity-style quality score
    // beside tx13's unigram: mean ln P(w_i | w_{i-1}) under the corpus's
    // own Laplace-smoothed bigram model. Catches coherent-word/incoherent-
    // pair token soup that unigram frequency passes. Docs with < 2 tokens
    // emit no row (no bigrams exist).
    Q("tx14_bigram_logprob", (s, dir) =>
      TA.bigramLogProb(t(s, dir, "documents"), "doc_id", "text")
        .orderBy("doc_id"),
      Some("""
      WITH d AS (SELECT doc_id, string_split(text, ' ') AS w
                 FROM documents),
      toks AS (SELECT doc_id, unnest(w) AS tok FROM d),
      vsz AS (SELECT count(DISTINCT tok) AS v FROM toks),
      bg AS (
        SELECT doc_id, w[i] AS w1, w[i] || ' ' || w[i+1] AS g
        FROM d, UNNEST(generate_series(1, len(w) - 1)) AS t(i)
        WHERE len(w) >= 2),
      bc AS (SELECT g, count(*) AS bc FROM bg GROUP BY g),
      pc AS (SELECT w1, count(*) AS pc FROM bg GROUP BY w1)
      SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
             round(avg(ln((bc + 1.0) / (pc + v))), 6) AS mean_logp
      FROM bg JOIN bc USING (g) JOIN pc USING (w1), vsz
      GROUP BY doc_id ORDER BY doc_id""")),

    // CCNet's perplexity bucketing: head/middle/tail terciles of the
    // bigram-LM score, cuts read off the mergeable 256-bin histogram —
    // the quality stratification CCNet ships, sort-free and engine-exact.
    Q("tx15_perplexity_buckets", (s, dir) =>
      TA.perplexityBuckets(t(s, dir, "documents"), "doc_id", "text",
        lo = -8.0, hi = 0.0, nBins = 4096)
        .orderBy("doc_id"),
      Some("""
      WITH d AS (SELECT doc_id, string_split(text, ' ') AS w
                 FROM documents),
      toks AS (SELECT doc_id, unnest(w) AS tok FROM d),
      vsz AS (SELECT count(DISTINCT tok) AS v FROM toks),
      bg AS (
        SELECT doc_id, w[i] AS w1, w[i] || ' ' || w[i+1] AS g
        FROM d, UNNEST(generate_series(1, len(w) - 1)) AS t(i)
        WHERE len(w) >= 2),
      bc AS (SELECT g, count(*) AS bc FROM bg GROUP BY g),
      pc AS (SELECT w1, count(*) AS pc FROM bg GROUP BY w1),
      lp AS (
        SELECT doc_id, round(avg(ln((bc + 1.0) / (pc + v))), 6)
                 AS mean_logp
        FROM bg JOIN bc USING (g) JOIN pc USING (w1), vsz
        GROUP BY doc_id),
      hist AS (
        SELECT CAST(least(greatest(floor((mean_logp - (-8.0))
                          / 0.001953125), 0), 4095) AS BIGINT) AS bin,
               count(*) AS cnt
        FROM lp GROUP BY bin),
      cum AS (
        SELECT bin, cnt,
               CAST(sum(cnt) OVER (ORDER BY bin ROWS BETWEEN UNBOUNDED
                 PRECEDING AND CURRENT ROW) AS BIGINT) AS cum,
               CAST(sum(cnt) OVER () AS BIGINT) AS n
        FROM hist),
      probes AS (SELECT unnest([0.333333, 0.666667]) AS q),
      ths AS (
        SELECT q, arg_min(round(-8.0 + 0.001953125 *
                 (bin + (q * n - (cum - cnt)) / cnt), 6), bin) AS est
        FROM cum, probes WHERE cum >= q * n GROUP BY q),
      thr AS (
        SELECT min(CASE WHEN q = 0.333333 THEN est END) AS t_lo,
               min(CASE WHEN q = 0.666667 THEN est END) AS t_hi
        FROM ths)
      SELECT lp.doc_id, lp.mean_logp,
             CASE WHEN mean_logp >= t_hi THEN 'head'
                  WHEN mean_logp >= t_lo THEN 'middle'
                  ELSE 'tail' END AS bucket,
             t_lo, t_hi
      FROM lp, thr ORDER BY doc_id""")),

    // Byte-level BPE training — the tokenizer the packed corpus (ck1/ck2)
    // is ultimately counted in. Six merge rounds over the distinct-word
    // frequency table; the graded result is the learned merge table
    // itself (rank, pair, merged symbol, weighted occurrence count).
    Q("tok1_bpe_train", (s, dir) =>
      graft.operators.BpeTokenizer
        .trainMerges(t(s, dir, "documents"), "text", ranks = 6)
        .orderBy("merge_rank"),
      Some(s"""
      WITH $BpeWf0Cte,${bpeCtes(6)}
      SELECT * FROM (
        ${(1 to 6).map(k =>
          s"SELECT $k AS merge_rank, l AS lhs, r AS rhs, l || r AS merged, pair_count FROM best$k")
          .mkString("\n        UNION ALL ")}
      ) u ORDER BY merge_rank""")),

    // Tokenize the corpus under the freshly trained merges: per doc the
    // total token count plus an md5 digest of the '|'-joined per-word
    // symbol strings — byte-exact grading of the full token stream.
    Q("tok2_bpe_tokenize", (s, dir) => {
      val merges = graft.operators.BpeTokenizer
        .trainMerges(t(s, dir, "documents"), "text", ranks = 6)
        .orderBy("merge_rank").collect()
        .map(r => (r.getString(1), r.getString(2))).toSeq
      graft.operators.BpeTokenizer
        .tokenizeDigest(t(s, dir, "documents"), "doc_id", "text", merges)
        .orderBy("doc_id")
    }, Some(s"""
      WITH $BpeWf0Cte,${bpeCtes(6)},
      dw AS (
        SELECT d.doc_id, u.i, d.ws[u.i] AS w0
        FROM (SELECT doc_id,
                     list_filter(string_split(text, ' '),
                                 x -> len(x) > 0) AS ws
              FROM documents) d,
             UNNEST(generate_series(1, len(d.ws))) AS u(i)),
      -- every doc word is in the trained word table by construction, so
      -- "apply the merges" = join the final merged symbol string by word
      tk AS (
        SELECT dw.doc_id, dw.i, wf6.s
        FROM dw JOIN wf6 ON wf6.w = dw.w0)
      SELECT doc_id,
             CAST(sum(len(string_split(trim(s), ' '))) AS BIGINT)
               AS n_tokens,
             md5(string_agg(s, '|' ORDER BY i)) AS tok_md5
      FROM tk GROUP BY doc_id ORDER BY doc_id""")),

    // Tokenizer fertility per language: tokens-per-word under the trained
    // merges — the number that tells you which languages your vocabulary
    // is taxing (high fertility = more sequence length per content word).
    // Reuses the tok2 apply path; one lang join + one rollup on top.
    Q("tok4_fertility", (s, dir) => {
      val docs = t(s, dir, "documents")
      val merges = graft.operators.BpeTokenizer
        .trainMerges(docs, "text", ranks = 6)
        .orderBy("merge_rank").collect()
        .map(r => (r.getString(1), r.getString(2))).toSeq
      graft.operators.BpeTokenizer
        .tokenizeDigest(docs, "doc_id", "text", merges)
        .join(docs.select(col("doc_id"), col("lang"),
          expr("size(filter(split(text, ' '), x -> length(x) > 0))")
            .as("n_words")), "doc_id")
        .groupBy("lang")
        .agg(sum("n_tokens").as("tokens"), sum("n_words").as("words"),
          round(sum("n_tokens") / sum("n_words").cast("double"), 6)
            .as("fertility"))
        .orderBy("lang")
    }, Some(s"""
      WITH $BpeWf0Cte,${bpeCtes(6)},
      dw AS (
        SELECT d.doc_id, u.i, d.ws[u.i] AS w0
        FROM (SELECT doc_id,
                     list_filter(string_split(text, ' '),
                                 x -> len(x) > 0) AS ws
              FROM documents) d,
             UNNEST(generate_series(1, len(d.ws))) AS u(i)),
      tk AS (
        SELECT dw.doc_id, dw.i, wf6.s
        FROM dw JOIN wf6 ON wf6.w = dw.w0)
      SELECT d.lang,
             CAST(sum(len(string_split(trim(tk.s), ' '))) AS BIGINT)
               AS tokens,
             CAST(count(*) AS BIGINT) AS words,
             round(CAST(sum(len(string_split(trim(tk.s), ' '))) AS DOUBLE)
                   / count(*), 6) AS fertility
      FROM tk JOIN documents d USING (doc_id)
      GROUP BY d.lang ORDER BY d.lang""")),

    // The batched trainer (2 merges per pair-count aggregation — half the
    // driver round-trips), graded against a DuckDB chain that mirrors the
    // batched selection exactly: even ranks pick the best symbol-disjoint
    // pair from the SAME pre-pass counts as the odd rank before them.
    // This is the SCALE.md "BPE training bound" production path, graded
    // rather than merely documented.
    Q("tok3_bpe_train_batched", (s, dir) =>
      graft.operators.BpeTokenizer
        .trainMergesBatched(t(s, dir, "documents"), "text", ranks = 6,
          batch = 2)
        .orderBy("merge_rank"),
      Some(s"""
      WITH $BpeWf0Cte,${bpeBatchCtes(6)}
      SELECT * FROM (
        ${(1 to 6).map(k =>
          s"SELECT $k AS merge_rank, l AS lhs, r AS rhs, l || r AS merged, pair_count FROM best$k")
          .mkString("\n        UNION ALL ")}
      ) u ORDER BY merge_rank""")),

    // Unicode NFC normalization (the native NormalizeNfc expression) —
    // ftfy-style canonical composition before any byte-keyed operator.
    // The corpus is pure ASCII (where NFC is the identity the fast path
    // exploits), so the grade first DECOMPOSES it — every 'e' becomes
    // 'e' + U+0301 — and then requires byte-exact recomposition: pre/post
    // byte counts prove the combining marks really collapsed (3 bytes ->
    // 2 per occurrence), and the md5 of the normalized bytes proves the
    // composed code points match DuckDB's nfc_normalize exactly.
    Q("tx16_nfc_normalize", (s, dir) => {
      val deco = replace(col("text"), lit("e"), lit("e\u0301"))
      t(s, dir, "documents").select(col("doc_id"),
        length(encode(deco, "UTF-8")).as("pre_bytes"),
        length(encode(graft.expressions.VecFns.nfc(deco), "UTF-8"))
          .as("post_bytes"),
        md5(hex(encode(graft.expressions.VecFns.nfc(deco), "UTF-8")))
          .as("nfc_md5"))
        .orderBy("doc_id")
    }, Some("""
      WITH deco AS (
        SELECT doc_id, replace(text, 'e', 'e' || chr(769)) AS d
        FROM documents)
      SELECT doc_id,
             CAST(octet_length(encode(d)) AS INTEGER) AS pre_bytes,
             CAST(octet_length(encode(nfc_normalize(d))) AS INTEGER)
               AS post_bytes,
             md5(hex(encode(nfc_normalize(d)))) AS nfc_md5
      FROM deco ORDER BY doc_id""")),

    // Gopher's duplicate-n-gram character fraction (n = 2, 3): how much of
    // each document the single most repeated word n-gram covers — the
    // repetition signal tx6's TTR misses when a long phrase loops.
    // Deterministic top pick (count desc, gram asc); short docs score 0.
    Q("tx12_dup_ngram_chars", (s, dir) =>
      TA.dupNgramCharFrac(t(s, dir, "documents"), "doc_id", "text",
        ns = Seq(2, 3))
        .orderBy("doc_id"),
      Some("""
      WITH d AS (SELECT doc_id, text, string_split(text, ' ') AS w
                 FROM documents),
      c2 AS (
        SELECT doc_id, g, count(*) AS cnt FROM (
          SELECT doc_id, w[i] || ' ' || w[i+1] AS g
          FROM d, UNNEST(generate_series(1, len(w) - 1)) AS t(i)
          WHERE len(w) >= 2)
        GROUP BY doc_id, g),
      t2 AS (
        SELECT doc_id, CAST(cnt * length(g) AS DOUBLE) AS cov,
               row_number() OVER (PARTITION BY doc_id
                 ORDER BY cnt DESC, g) AS rk
        FROM c2),
      c3 AS (
        SELECT doc_id, g, count(*) AS cnt FROM (
          SELECT doc_id, w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS g
          FROM d, UNNEST(generate_series(1, len(w) - 2)) AS t(i)
          WHERE len(w) >= 3)
        GROUP BY doc_id, g),
      t3 AS (
        SELECT doc_id, CAST(cnt * length(g) AS DOUBLE) AS cov,
               row_number() OVER (PARTITION BY doc_id
                 ORDER BY cnt DESC, g) AS rk
        FROM c3)
      SELECT d.doc_id,
             round(coalesce(a.cov, 0.0)
               / greatest(CAST(length(d.text) AS DOUBLE), 1.0), 6)
               AS dup2_frac,
             round(coalesce(b.cov, 0.0)
               / greatest(CAST(length(d.text) AS DOUBLE), 1.0), 6)
               AS dup3_frac
      FROM d
      LEFT JOIN (SELECT doc_id, cov FROM t2 WHERE rk = 1) a USING (doc_id)
      LEFT JOIN (SELECT doc_id, cov FROM t3 WHERE rk = 1) b USING (doc_id)
      ORDER BY d.doc_id""")),

    // Gopher-style quality-rule chain: per-rule boolean flags + the
    // conjunctive keep. Every ratio threshold is integer cross-multiplied
    // (3·n <= Σchars, not Σchars/n >= 3.0) so the flags are bit-exact
    // across engines, and Σchars is length(text) − (n−1) under the
    // single-space token convention — no second pass over the tokens.
    Q("tx11_quality_rules", (s, dir) =>
      TA.gopherRules(t(s, dir, "documents"), "doc_id", "text")
        .orderBy("doc_id"),
      Some("""
      WITH f AS (
        SELECT doc_id, string_split(text, ' ') AS w,
               CAST(len(string_split(text, ' ')) AS BIGINT) AS n,
               CAST(length(text) - (len(string_split(text, ' ')) - 1)
                 AS BIGINT) AS sum_chars
        FROM documents),
      r AS (
        SELECT doc_id,
          n >= 5 AND n <= 5000 AS r_len,
          sum_chars >= n * 3 AND sum_chars <= n * 10 AS r_word_len,
          CAST(len(list_filter(w, x -> regexp_matches(x, '[a-zA-Z]')))
            AS BIGINT) * 5 >= n * 4 AS r_alpha,
          CAST(len(list_filter(w, x -> regexp_matches(x, '^[0-9]+$')))
            AS BIGINT) * 5 <= n AS r_numeric,
          CAST(len(list_distinct(list_filter(w,
            x -> x IN ('the', 'a', 'of', 'and', 'to', 'in'))))
            AS BIGINT) >= 2 AS r_stop
        FROM f)
      SELECT doc_id, r_len, r_word_len, r_alpha, r_numeric, r_stop,
             r_len AND r_word_len AND r_alpha AND r_numeric AND r_stop
               AS keep
      FROM r ORDER BY doc_id""")),

    // Sharded inverted index (search support): posting lists at
    // (term, doc-range shard) grain so a hot term is many bounded rows,
    // never one unbounded list; df-gated by a window sum over the term's
    // shards. Graded on the comma-joined sorted posting string, so a lost
    // or misordered posting grades red.
    Q("ix1_inverted_index", (s, dir) =>
      graft.operators.Indexing.invertedIndex(
        t(s, dir, "documents"), "doc_id", "text", minDf = 5, shardSize = 100)
        .orderBy("term", "shard"),
      Some("""
      WITH posting AS (
        SELECT DISTINCT tok AS term, doc_id
        FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS tok
              FROM documents)),
      g AS (
        SELECT term, doc_id // 100 AS shard, count(*) AS n_docs,
               string_agg(CAST(doc_id AS VARCHAR), ',' ORDER BY doc_id)
                 AS postings
        FROM posting GROUP BY 1, 2),
      tot AS (
        SELECT term, shard, n_docs, postings,
               CAST(sum(n_docs) OVER (PARTITION BY term) AS BIGINT) AS df
        FROM g)
      SELECT term, shard, df, n_docs, postings FROM tot WHERE df >= 5
      ORDER BY term, shard""")),

    // Positional-index phrase search — the serve path ix1 promises: each
    // phrase word's posting list is filtered scan-side, consecutive
    // positions intersect via equi-join on (doc, pos − offset); shuffle ∝
    // matched postings, never the corpus. Graded on per-doc hit counts.
    Q("ix2_phrase_query", (s, dir) =>
      graft.operators.Indexing.phraseSearch(
        t(s, dir, "documents"), "doc_id", "text", Seq("table", "hash"))
        .orderBy("doc_id"),
      Some("""
      WITH p AS (
        SELECT doc_id, i AS pos, w[i] AS term
        FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
             UNNEST(generate_series(1, len(w))) AS t(i)),
      m AS (
        SELECT a.doc_id
        FROM p a JOIN p b ON b.doc_id = a.doc_id AND b.pos = a.pos + 1
        WHERE a.term = 'table' AND b.term = 'hash')
      SELECT doc_id, CAST(count(*) AS BIGINT) AS n_hits
      FROM m GROUP BY doc_id ORDER BY doc_id""")),

    // Fixed-size token chunks with overlap (64-token windows, stride 48) —
    // the context-window shaping step before embedding or training. Pure
    // per-row array slicing, no shuffle; graded on the chunk text itself,
    // so an off-by-one in the stride or slice bounds grades red.
    Q("ck1_token_chunks", (s, dir) =>
      graft.operators.Chunking.tokenChunks(
        t(s, dir, "documents"), "doc_id", "text", size = 64, overlap = 16)
        .orderBy("doc_id", "chunk_idx"),
      Some("""
      WITH d AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents)
      SELECT doc_id,
             CAST((i - 1) // 48 AS INTEGER) AS chunk_idx,
             CAST(len(list_slice(w, i, i + 63)) AS INTEGER) AS n_tokens,
             array_to_string(list_slice(w, i, i + 63), ' ') AS chunk_text
      FROM d, UNNEST(generate_series(1, greatest(len(w), 1), 48)) AS t(i)
      ORDER BY doc_id, chunk_idx""")),

    // GPT-style sequence packing (concat the corpus in doc_id order, cut
    // every 2048 tokens): each document's global token offset, its context
    // window, and whether it straddles a boundary. The global prefix sum
    // runs as a two-level scan (within-shard window + broadcast shard
    // offsets) so no document row crosses a single-partition window;
    // ChunkingSpec proves shard-size invariance.
    Q("ck2_sequence_packing", (s, dir) =>
      graft.operators.Chunking.packAssignments(
        t(s, dir, "documents"), "doc_id", "text", capacity = 2048)
        .orderBy("doc_id"),
      Some("""
      WITH tk AS (
        SELECT doc_id, len(string_split(text, ' ')) AS n_tokens
        FROM documents),
      c AS (
        SELECT doc_id, n_tokens,
               coalesce(sum(n_tokens) OVER (ORDER BY doc_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                 AS start_off
        FROM tk)
      SELECT doc_id, n_tokens,
             CAST(start_off AS BIGINT) AS start_off,
             CAST(start_off // 2048 AS BIGINT) AS pack_id,
             (start_off // 2048) <> ((start_off + n_tokens - 1) // 2048)
               AS spans_boundary
      FROM c ORDER BY doc_id""")),

    // Pack-efficiency read-out over ck2's assignments: apportion every
    // document's tokens to the context windows it overlaps and grade the
    // per-pack fill. Concat-and-cut tiles gaplessly, so every fill must
    // be exactly the capacity except the tail pack — the audit that
    // catches any prefix-sum arithmetic error as a fill <> 2048 — plus
    // docs-touching vs docs-starting per pack (the split-document cost
    // the trainer pays).
    Q("ck3_pack_efficiency", (s, dir) => {
      val cap = 2048L
      val a = graft.operators.Chunking.packAssignments(
        t(s, dir, "documents"), "doc_id", "text", capacity = cap)
      a.select(col("doc_id"), col("n_tokens"), col("start_off"),
          explode(expr(
            s"sequence(start_off div $cap, (start_off + n_tokens - 1) div $cap)"))
            .as("pack_id"))
        .withColumn("fill",
          least(col("start_off") + col("n_tokens"), (col("pack_id") + 1) * cap)
            - greatest(col("start_off"), col("pack_id") * cap))
        .groupBy("pack_id")
        .agg(count(lit(1)).as("n_docs"),
          sum("fill").as("fill_tokens"),
          sum(when(col("start_off") >= col("pack_id") * cap, 1).otherwise(0))
            .as("docs_started"),
          round(sum("fill") / lit(cap.toDouble), 6).as("utilization"))
        .orderBy("pack_id")
    }, Some("""
      WITH tk AS (
        SELECT doc_id, len(string_split(text, ' ')) AS n_tokens
        FROM documents),
      c AS (
        SELECT doc_id, n_tokens,
               CAST(coalesce(sum(n_tokens) OVER (ORDER BY doc_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                 AS BIGINT) AS start_off
        FROM tk),
      e AS (
        SELECT doc_id, n_tokens, start_off,
               unnest(generate_series(start_off // 2048,
                                      (start_off + n_tokens - 1) // 2048))
                 AS pack_id
        FROM c),
      f AS (
        SELECT pack_id,
               least(start_off + n_tokens, (pack_id + 1) * 2048)
                 - greatest(start_off, pack_id * 2048) AS fill,
               CASE WHEN start_off >= pack_id * 2048 THEN 1 ELSE 0 END
                 AS started
        FROM e)
      SELECT CAST(pack_id AS BIGINT) AS pack_id,
             CAST(count(*) AS BIGINT) AS n_docs,
             CAST(sum(fill) AS BIGINT) AS fill_tokens,
             CAST(sum(started) AS BIGINT) AS docs_started,
             round(sum(fill) / 2048.0, 6) AS utilization
      FROM f GROUP BY pack_id ORDER BY pack_id""")),

    // Corpus rollup: per predicted language, doc count + token-count mean /
    // exact interpolated median / p95 — the monitoring query a corpus run
    // reports; exact percentile so both engines agree bit for bit.
    Q("cs1_corpus_stats", (s, dir) => {
      val toks = TA.tokenCount(col("text")).cast("double")
      t(s, dir, "documents")
        .select(TA.langId(col("text")).as("pred_lang"), toks.as("nt"))
        .groupBy("pred_lang")
        .agg(count(lit(1)).as("n_docs"),
          round(avg(col("nt")), 4).as("avg_tokens"),
          expr("percentile(nt, 0.5)").as("med_tokens"),
          expr("percentile(nt, 0.95)").as("p95_tokens"))
        .orderBy("pred_lang")
    }, Some("""
      WITH c AS (
        SELECT doc_id,
          CAST(len(string_split(text, ' ')) AS DOUBLE) AS nt,
          len(list_filter(string_split(text, ' '),
              x -> x IN ('the', 'of', 'and'))) AS c_en,
          len(list_filter(string_split(text, ' '),
              x -> x IN ('le', 'et', 'les'))) AS c_fr,
          len(list_filter(string_split(text, ' '),
              x -> x IN ('el', 'y', 'los'))) AS c_es,
          len(list_filter(string_split(text, ' '),
              x -> x IN ('der', 'und', 'die'))) AS c_de
        FROM documents),
      l AS (
        SELECT nt,
          CASE WHEN c_en > 0 AND c_en >= greatest(c_en, c_fr, c_es, c_de) THEN 'en'
               WHEN c_fr > 0 AND c_fr >= greatest(c_en, c_fr, c_es, c_de) THEN 'fr'
               WHEN c_es > 0 AND c_es >= greatest(c_en, c_fr, c_es, c_de) THEN 'es'
               WHEN c_de > 0 AND c_de >= greatest(c_en, c_fr, c_es, c_de) THEN 'de'
               ELSE 'und' END AS pred_lang
        FROM c)
      SELECT pred_lang, count(*) AS n_docs,
             round(avg(nt), 4) AS avg_tokens,
             quantile_cont(nt, 0.5) AS med_tokens,
             quantile_cont(nt, 0.95) AS p95_tokens
      FROM l GROUP BY pred_lang ORDER BY pred_lang""")),

    // Feature-hashing embedding (hashing-trick vectorizer): ±tf into the
    // md5-selected dimension, L2-normalized — the training-free
    // text→vector bridge, graded densely as one row per (doc, dim) so
    // every coordinate is a scalar in the hash.
    Q("emb1_hashing_vectorizer", (s, dir) =>
      TA.hashingEmbedding(t(s, dir, "documents"), "doc_id", "text",
        dims = 16)
        .orderBy("doc_id", "dim"),
      Some("""
      WITH tf AS (
        SELECT doc_id, tok, count(*) AS tf
        FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS tok
              FROM documents)
        GROUP BY doc_id, tok),
      hashed AS (
        SELECT doc_id, tf,
               CAST(list_sum(list_transform(generate_series(1, 8), i ->
                 (strpos('0123456789abcdef', substr(md5(tok), i, 1)) - 1)
                 * (16.0 ** (8 - i)))) AS BIGINT) AS h
        FROM tf),
      sums AS (
        SELECT doc_id, CAST(h % 16 AS INTEGER) AS bucket,
               sum(CASE WHEN (h // 16) % 2 = 1 THEN tf ELSE -tf END) AS v
        FROM hashed GROUP BY 1, 2),
      grid AS (
        SELECT doc_id, i AS bucket
        FROM documents, UNNEST(generate_series(0, 15)) AS t(i)),
      dense AS (
        SELECT g.doc_id, g.bucket, coalesce(s.v, 0) AS v
        FROM grid g
        LEFT JOIN sums s ON s.doc_id = g.doc_id AND s.bucket = g.bucket),
      nrm AS (SELECT doc_id, sqrt(sum(v * v)) AS nrm FROM dense
              GROUP BY doc_id)
      SELECT d.doc_id, CAST(d.bucket AS INTEGER) AS dim,
             round(d.v / greatest(n.nrm, 1e-12), 6) AS value
      FROM dense d JOIN nrm n USING (doc_id)
      ORDER BY doc_id, dim""")),

    // Trained quality classifier (fastText/DCLM shape): logistic
    // regression over 32 hashed token-count features, THREE full-batch
    // gradient steps from w=0 reproduced in the oracle as an unrolled CTE
    // chain — the first TRAINED-model grade beside sim5b's k-means.
    // Engine-exactness comes from the fast sigmoid (algebraic, no libm)
    // and 2^-20-grid gradient terms (order-invariant exact sums); see
    // Classifier.scala.
    Q("ml1_logreg_quality", (s, dir) =>
      Classifier.logRegScores(t(s, dir, "documents"), "doc_id", "text",
        label = when(col("source") === "src0", 1.0).otherwise(0.0),
        dims = 32, iters = 3, lr = 0.5)
        .orderBy("doc_id"),
      Some(s"""
      WITH $MlScoredCte
      SELECT doc_id, score, prob, predicted, label
      FROM mlscored ORDER BY doc_id""")),

    // Classifier-gated selection (FineWeb-Edu / DCLM shape): keep the top
    // 25% of the corpus by trained-model score. The threshold is read off
    // hq1's mergeable 256-bin score histogram — one aggregation over the
    // data, windows over bins only, 1-row scalar gate back — never a
    // global sort.
    Q("ml2_classifier_gate", (s, dir) =>
      Classifier.classifierGate(t(s, dir, "documents"), "doc_id", "text",
        label = when(col("source") === "src0", 1.0).otherwise(0.0),
        keepFraction = 0.25, lo = -64.0, hi = 0.0)
        .orderBy("doc_id"),
      Some(s"""
      WITH $MlScoredCte,
      hist AS (
        SELECT CAST(least(greatest(floor((score - (-64.0)) / 0.25), 0),
                          255) AS BIGINT) AS bin, count(*) AS cnt
        FROM mlscored GROUP BY bin),
      cum AS (
        SELECT bin, cnt,
               CAST(sum(cnt) OVER (ORDER BY bin ROWS BETWEEN UNBOUNDED
                 PRECEDING AND CURRENT ROW) AS BIGINT) AS cum,
               CAST(sum(cnt) OVER () AS BIGINT) AS n
        FROM hist),
      thr AS (
        SELECT arg_min(round(-64.0 + 0.25 *
                 (bin + (0.75 * n - (cum - cnt)) / cnt), 6), bin) AS thr
        FROM cum WHERE cum >= 0.75 * n)
      SELECT s.doc_id, s.score, s.prob, s.label, t.thr
      FROM mlscored s, thr t WHERE s.score >= t.thr
      ORDER BY s.doc_id""")),

    // Reliability-diagram calibration audit of ml1's scores: per predicted-
    // probability decile, mean prediction vs observed positive rate and the
    // |gap| — the check a production gate runs before treating classifier
    // scores as probabilities. One nBins-state aggregation.
    Q("ml3_calibration", (s, dir) =>
      Classifier.calibrationBins(
        Classifier.logRegScores(t(s, dir, "documents"), "doc_id", "text",
          label = when(col("source") === "src0", 1.0).otherwise(0.0),
          dims = 32, iters = 3, lr = 0.5))
        .orderBy("bin"),
      Some(s"""
      WITH $MlScoredCte,
      cal AS (
        SELECT least(CAST(floor(prob * 10) AS INTEGER), 9) AS bin,
               prob, label
        FROM mlscored),
      agg AS (
        SELECT bin, CAST(count(*) AS BIGINT) AS n,
               round(avg(prob), 6) AS mean_prob,
               round(avg(CAST(label AS DOUBLE)), 6) AS pos_rate
        FROM cal GROUP BY bin)
      SELECT bin, n, mean_prob, pos_rate,
             round(abs(mean_prob - pos_rate), 6) AS gap
      FROM agg ORDER BY bin""")),

    // Source-drift PSI monitor: per source, the population-stability index
    // of its token-count distribution vs the whole corpus over fixed-width
    // bins (Laplace-smoothed). The per-ingest-batch query that catches a
    // broken scraper / truncation bug as a number with standard thresholds
    // (<0.1 stable, >0.25 action). Bin contributions sum in bin order via
    // a sequential fold in both engines, so the double sum grades.
    Q("cs2_source_psi", (s, dir) =>
      TA.sourceDriftPsi(t(s, dir, "documents"), "source", "text",
        binWidth = 8, maxBin = 16),
      Some("""
      WITH b AS (
        SELECT source,
               least(CAST(floor(len(string_split(text, ' ')) / 8)
                     AS INTEGER), 16) AS bin
        FROM documents),
      sb AS (SELECT source, bin, count(*) AS c_sb FROM b GROUP BY 1, 2),
      st AS (SELECT source, count(*) AS n_s FROM b GROUP BY 1),
      ab AS (SELECT bin, count(*) AS c_b FROM b GROUP BY 1),
      nt AS (SELECT count(*) AS n FROM b),
      grid AS (
        SELECT source, n_s, i AS bin
        FROM st, UNNEST(generate_series(0, 16)) AS t(i)),
      c AS (
        SELECT g.source, g.n_s, g.bin,
               ((coalesce(sb.c_sb, 0) + 1) / (g.n_s + 17.0)
                - (coalesce(ab.c_b, 0) + 1) / (nt.n + 17.0))
               * ln(((coalesce(sb.c_sb, 0) + 1) / (g.n_s + 17.0))
                    / ((coalesce(ab.c_b, 0) + 1) / (nt.n + 17.0)))
                 AS contrib
        FROM grid g
        LEFT JOIN sb ON sb.source = g.source AND sb.bin = g.bin
        LEFT JOIN ab ON ab.bin = g.bin
        CROSS JOIN nt)
      SELECT source, CAST(n_s AS BIGINT) AS n_docs,
             round(list_sum(list(contrib ORDER BY bin)), 4) AS psi
      FROM c GROUP BY source, n_s ORDER BY source""")),

    // Zipf rank-frequency audit: OLS slope/intercept of ln(freq) vs
    // ln(rank) over the top-500 words — natural corpora fit slope ≈ −1;
    // a synthetic or template-heavy corpus shows up as a flat or kinked
    // fit. One aggregation over the bounded top-k (regr_slope is native
    // in both engines).
    Q("cs4_zipf_slope", (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val top = t(s, dir, "documents")
        .select(explode(split(col("text"), " ")).as("w"))
        .filter(length(col("w")) > 0)
        .groupBy("w").agg(count(lit(1)).as("cnt"))
        .orderBy(desc("cnt"), asc("w")).limit(500)
        .withColumn("rank",
          row_number().over(Window.orderBy(desc("cnt"), asc("w"))))
      top.agg(count(lit(1)).as("n_words"),
        round(regr_slope(log(col("cnt")), log(col("rank"))), 6)
          .as("zipf_slope"),
        round(regr_intercept(log(col("cnt")), log(col("rank"))), 6)
          .as("zipf_intercept"))
    }, Some("""
      WITH tw AS (
        SELECT w, CAST(count(*) AS BIGINT) AS cnt
        FROM (SELECT unnest(string_split(text, ' ')) AS w FROM documents)
        WHERE len(w) > 0 GROUP BY w),
      top AS (
        SELECT w, cnt, row_number() OVER (ORDER BY cnt DESC, w) AS rank
        FROM tw QUALIFY row_number() OVER (ORDER BY cnt DESC, w) <= 500)
      SELECT CAST(count(*) AS BIGINT) AS n_words,
             round(regr_slope(ln(cnt), ln(rank)), 6) AS zipf_slope,
             round(regr_intercept(ln(cnt), ln(rank)), 6) AS zipf_intercept
      FROM top""")),

    // Benchmark decontamination: distinct shared word 5-grams between each
    // training doc and a pseudo eval set (doc_id % 41 = 0). Eval shingles
    // broadcast; only contaminated docs emit rows.
    Q("tx7_contamination", (s, dir) => {
      val d = t(s, dir, "documents")
      Dedup.contaminationOverlap(
        d.filter(col("doc_id") % 41 =!= 0),
        d.filter(col("doc_id") % 41 === 0),
        "doc_id", "text", n = 5)
        .orderBy("doc_id")
    }, Some("""
      WITH docs AS (SELECT doc_id, string_split(text, ' ') AS w
                    FROM documents),
      sh AS (
        SELECT DISTINCT doc_id,
               w[i] || ' ' || w[i+1] || ' ' || w[i+2] || ' ' || w[i+3]
                    || ' ' || w[i+4] AS sh
        FROM docs, UNNEST(generate_series(1, len(w) - 4)) AS t(i)
        WHERE len(w) >= 5),
      ev AS (SELECT DISTINCT sh FROM sh WHERE doc_id % 41 = 0),
      corp AS (SELECT * FROM sh WHERE doc_id % 41 <> 0)
      SELECT c.doc_id, count(*) AS shared_ngrams
      FROM corp c JOIN ev USING (sh)
      GROUP BY c.doc_id ORDER BY doc_id""")),

    // Deterministic train/val/test split: md5-fraction of the doc id, same
    // label for the same row in any engine / any run.
    Q("sa1_hash_split", (s, dir) => {
      val key = col("doc_id").cast("string")
      t(s, dir, "documents").select(col("doc_id"),
        round(graft.operators.Sampling.hashFraction(key), 6).as("frac"),
        graft.operators.Sampling.splitLabel(key).as("split"))
        .orderBy("doc_id")
    }, Some("""
      WITH f AS (
        SELECT doc_id,
               list_sum(list_transform(generate_series(1, 8), i ->
                 (strpos('0123456789abcdef',
                         substr(md5(CAST(doc_id AS VARCHAR)), i, 1)) - 1)
                 * (16.0 ** (8 - i)))) / 4294967296.0 AS frac
        FROM documents)
      SELECT doc_id, round(frac, 6) AS frac,
             CASE WHEN frac < 0.8 THEN 'train'
                  WHEN frac < 0.9 THEN 'val'
                  ELSE 'test' END AS split
      FROM f ORDER BY doc_id""")),

    // Deterministic stratified downsampling: per-source keep fractions,
    // keep/drop decided by the id hash so incremental loads agree.
    Q("sa2_stratified_sample", (s, dir) =>
      graft.operators.Sampling.stratifiedKeep(
        t(s, dir, "documents"), col("doc_id").cast("string"), col("source"),
        Map("src0" -> 0.2, "src1" -> 0.5, "src2" -> 0.0))
        .select(col("doc_id"), col("source"))
        .orderBy("doc_id"),
      Some("""
      WITH f AS (
        SELECT doc_id, source,
               list_sum(list_transform(generate_series(1, 8), i ->
                 (strpos('0123456789abcdef',
                         substr(md5(CAST(doc_id AS VARCHAR)), i, 1)) - 1)
                 * (16.0 ** (8 - i)))) / 4294967296.0 AS frac
        FROM documents)
      SELECT doc_id, source FROM f
      WHERE frac < CASE source WHEN 'src0' THEN 0.2 WHEN 'src1' THEN 0.5
                               WHEN 'src2' THEN 0.0 ELSE 1.0 END
      ORDER BY doc_id""")),

    // Temperature-scaled source mixing (alpha = 0.5, target 300 docs):
    // p_s ∝ √n_s flattens the source distribution — the multilingual /
    // multi-source upsampling move — and each row keeps deterministically
    // by its md5 fraction, so the sampled mixture is reproducible
    // row-for-row. Graded on the surviving rows AND the computed keep
    // probability.
    Q("sa4_temperature_mix", (s, dir) =>
      graft.operators.Sampling.temperatureMix(
        t(s, dir, "documents"), col("doc_id").cast("string"), col("source"),
        alpha = 0.5, targetTotal = 300)
        .select(col("doc_id"), col("source"), col("keep_p"))
        .orderBy("doc_id"),
      Some("""
      WITH cnt AS (SELECT source, count(*) AS n_s FROM documents
                   GROUP BY source),
      z AS (SELECT sum(power(n_s, 0.5)) AS z FROM cnt),
      p AS (SELECT source,
              least(1.0, 300.0 * power(n_s, 0.5) / z.z / n_s) AS kp
            FROM cnt, z),
      f AS (
        SELECT doc_id, d.source, kp,
               list_sum(list_transform(generate_series(1, 8), i ->
                 (strpos('0123456789abcdef',
                         substr(md5(CAST(doc_id AS VARCHAR)), i, 1)) - 1)
                 * (16.0 ** (8 - i)))) / 4294967296.0 AS frac
        FROM documents d JOIN p USING (source))
      SELECT doc_id, source, round(kp, 6) AS keep_p FROM f
      WHERE frac < kp ORDER BY doc_id""")),

    // Epoch-aware importance RESAMPLING — the upsampling half sa4 lacks
    // (DoReMi/FineWeb source reweighting): per-doc emission rate
    // multiplier·N·√n_s/Z/n_s may exceed 1, so small high-value sources
    // repeat for whole epochs; the fractional remainder resolves by md5
    // hash fraction (no rand() — identical copies on every run/engine).
    // alpha is pinned at 0.5: sqrt is correctly rounded in both engines,
    // general pow is only ~1-ulp reproducible.
    Q("sa11_epoch_resample", (s, dir) =>
      graft.operators.Sampling.epochResample(
        t(s, dir, "documents"), col("doc_id").cast("string"), col("source"),
        alpha = 0.5, multiplier = 2.0)
        .select(col("doc_id"), col("source"), col("copy"), col("rate"))
        .orderBy("doc_id", "copy"),
      Some("""
      WITH cnt AS (SELECT source, count(*) AS n_s FROM documents
                   GROUP BY source),
      tot AS (SELECT sum(n_s) AS n_tot, sum(power(n_s, 0.5)) AS z FROM cnt),
      r AS (SELECT source,
              2.0 * n_tot * power(n_s, 0.5) / z / n_s AS rate
            FROM cnt, tot),
      f AS (
        SELECT doc_id, d.source, rate,
               list_sum(list_transform(generate_series(1, 8), i ->
                 (strpos('0123456789abcdef',
                         substr(md5(CAST(doc_id AS VARCHAR)), i, 1)) - 1)
                 * (16.0 ** (8 - i)))) / 4294967296.0 AS frac
        FROM documents d JOIN r USING (source)),
      c AS (
        SELECT doc_id, source, rate,
               CAST(floor(rate) AS BIGINT)
                 + CASE WHEN frac < rate - floor(rate) THEN 1 ELSE 0 END
                 AS n_copies
        FROM f)
      SELECT doc_id, source, CAST(t.copy AS INTEGER) AS copy,
             round(rate, 6) AS rate
      FROM c, UNNEST(generate_series(1, CAST(n_copies AS INTEGER))) AS t(copy)
      WHERE n_copies >= 1
      ORDER BY doc_id, copy""")),

    // Deterministic global shuffle + shard export: every doc gets a
    // reproducible pseudorandom position (md5 fraction), 16 equal-width
    // fraction cuts make the shards (no global count), within-shard order
    // is (fraction, key) — the write shape itself: one exchange + local
    // sort, never a global sort.
    Q("sa5_shard_shuffle", (s, dir) =>
      graft.operators.Sampling.shardShuffle(t(s, dir, "documents"),
        col("doc_id").cast("string"), nShards = 16)
        .select(col("shard"), col("pos"), col("doc_id"))
        .orderBy("shard", "pos"),
      Some("""
      WITH f AS (
        SELECT doc_id,
               list_sum(list_transform(generate_series(1, 8), i ->
                 (strpos('0123456789abcdef',
                         substr(md5(CAST(doc_id AS VARCHAR)), i, 1)) - 1)
                 * (16.0 ** (8 - i)))) / 4294967296.0 AS frac
        FROM documents)
      SELECT CAST(floor(frac * 16) AS INTEGER) AS shard,
             CAST(row_number() OVER (
               PARTITION BY CAST(floor(frac * 16) AS INTEGER)
               ORDER BY frac, CAST(doc_id AS VARCHAR)) AS BIGINT) - 1
               AS pos,
             doc_id
      FROM f ORDER BY shard, pos""")),

    // Efraimidis–Spirakis A-Res weighted sampling without replacement:
    // top-50 docs by u^(1/n_tokens) — inclusion odds proportional to
    // token count ("sample long docs more"), fully deterministic (md5
    // fraction, no rand()), one scan + TakeOrderedAndProject.
    Q("sa6_weighted_sample", (s, dir) => {
      val toks = filter(split(col("text"), " "), x => length(x) > 0)
      val base = t(s, dir, "documents")
        .select(col("doc_id"), size(toks).as("n_tokens"))
        .withColumn("k0", graft.operators.Sampling.aresKey(
          col("doc_id").cast("string"), col("n_tokens").cast("double")))
      base.orderBy(desc("k0"), asc("doc_id")).limit(50)
        .select(col("doc_id"), col("n_tokens"),
          round(col("k0"), 6).as("ares_key"))
        .orderBy(desc("ares_key"), asc("doc_id"))
    }, Some("""
      WITH w AS (
        SELECT doc_id,
               CAST(len(list_filter(string_split(text, ' '),
                                    x -> len(x) > 0)) AS INTEGER)
                 AS n_tokens,
               list_sum(list_transform(generate_series(1, 8), i ->
                 (strpos('0123456789abcdef',
                         substr(md5(CAST(doc_id AS VARCHAR)), i, 1)) - 1)
                 * (16.0 ** (8 - i)))) / 4294967296.0 AS u
        FROM documents),
      top AS (
        SELECT doc_id, n_tokens, u ** (1.0 / n_tokens) AS k0
        FROM w
        QUALIFY row_number() OVER (ORDER BY u ** (1.0 / n_tokens) DESC,
                                   doc_id) <= 50)
      SELECT doc_id, n_tokens, round(k0, 6) AS ares_key
      FROM top ORDER BY ares_key DESC, doc_id""")),

    // Split-leakage audit: near-dup candidate pairs (dd2's 4-band MinHash)
    // whose two sides landed in DIFFERENT train/val/test splits — the
    // contamination a hash split cannot prevent (near-dups hash apart) and
    // every eval pipeline must measure. Full split×split matrix with the
    // off-diagonal flagged.
    Q("sa7_split_leakage", (s, dir) => {
      val docs = t(s, dir, "documents")
      val sh = Dedup.shingleSet(docs, "doc_id", "text")
      val pairs = Dedup.lshCandidatePairs(
        Dedup.minhashSignatures(sh, "doc_id", bands = 4), "doc_id")
      val splits = docs.select(col("doc_id"),
        graft.operators.Sampling.splitLabel(col("doc_id").cast("string"))
          .as("split"))
      pairs
        .join(splits.select(col("doc_id").as("doc_a"),
          col("split").as("sa")), "doc_a")
        .join(splits.select(col("doc_id").as("doc_b"),
          col("split").as("sb")), "doc_b")
        .select(least(col("sa"), col("sb")).as("split_lo"),
          greatest(col("sa"), col("sb")).as("split_hi"))
        .groupBy("split_lo", "split_hi")
        .agg(count(lit(1)).as("n_pairs"))
        .withColumn("leaky", col("split_lo") =!= col("split_hi"))
        .orderBy("split_lo", "split_hi")
    }, Some(s"""
      WITH $MinhashPairsCte,
      f AS (
        SELECT doc_id,
               list_sum(list_transform(generate_series(1, 8), i ->
                 (strpos('0123456789abcdef',
                         substr(md5(CAST(doc_id AS VARCHAR)), i, 1)) - 1)
                 * (16.0 ** (8 - i)))) / 4294967296.0 AS frac
        FROM documents),
      sp AS (
        SELECT doc_id, CASE WHEN frac < 0.8 THEN 'train'
                            WHEN frac < 0.9 THEN 'val'
                            ELSE 'test' END AS split
        FROM f),
      lab AS (
        SELECT least(a.split, b.split) AS split_lo,
               greatest(a.split, b.split) AS split_hi
        FROM pairs p JOIN sp a ON a.doc_id = p.doc_a
                     JOIN sp b ON b.doc_id = p.doc_b)
      SELECT split_lo, split_hi, CAST(count(*) AS BIGINT) AS n_pairs,
             split_lo <> split_hi AS leaky
      FROM lab GROUP BY 1, 2 ORDER BY 1, 2""")),

    // BM25 ranked retrieval over the token postings: the index SERVE path
    // beside ix1's build and ix2's phrase intersection. One token-stream
    // scan feeds doc lengths and the query-filtered tf table; ranking
    // ends in a top-k (TakeOrderedAndProject), never a global sort.
    Q("ix3_bm25_topk", (s, dir) =>
      graft.operators.Indexing.bm25TopK(t(s, dir, "documents"), "doc_id",
        "text", queryTerms = Seq("spark", "shuffle", "broadcast"), k = 10)
        .orderBy(col("score").desc, col("doc_id")),
      Some("""
      WITH toks AS (
        SELECT doc_id, unnest(string_split(text, ' ')) AS term
        FROM documents),
      lens AS (SELECT doc_id, count(*) AS len FROM toks GROUP BY doc_id),
      stats AS (SELECT count(*) AS n_docs, avg(len) AS avglen FROM lens),
      tf AS (SELECT doc_id, term, count(*) AS tf FROM toks
             WHERE term IN ('spark', 'shuffle', 'broadcast')
             GROUP BY doc_id, term),
      dfs AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
      scored AS (
        SELECT tf.doc_id,
               sum(ln((stats.n_docs - dfs.df + 0.5) / (dfs.df + 0.5) + 1.0)
                   * tf.tf * 2.2
                   / (tf.tf + 1.2 * (0.25 + 0.75 * lens.len / stats.avglen)))
                 AS score
        FROM tf JOIN dfs USING (term) JOIN lens USING (doc_id), stats
        GROUP BY tf.doc_id)
      SELECT doc_id, round(score, 6) AS score FROM scored
      ORDER BY round(score, 6) DESC, doc_id LIMIT 10""")),

    // Class rebalancing by deterministic undersampling: every language
    // keeps exactly min-class-count docs, chosen by md5-fraction rank
    // (not arrival order, not rand()) — the imbalanced-corpus equalizer
    // before training. One window rank per class + a 1-row min-count
    // broadcast; the kept doc set is layout-invariant and re-runnable.
    Q("sa8_class_rebalance", (s, dir) => {
      val key = col("doc_id").cast("string")
      val docs = t(s, dir, "documents")
        .select(col("doc_id"), col("lang"),
          graft.operators.Sampling.hashFraction(key).as("__frac"))
      val minN = docs.groupBy("lang").agg(count(lit(1)).as("__n"))
        .agg(min("__n").as("__min"))
      val w = Window.partitionBy("lang").orderBy(col("__frac"), col("doc_id"))
      docs.withColumn("__rn", row_number().over(w))
        .crossJoin(broadcast(minN))
        .filter(col("__rn") <= col("__min"))
        .select(col("doc_id"), col("lang"))
        .orderBy("doc_id")
    }, Some("""
      WITH f AS (
        SELECT doc_id, lang,
               list_sum(list_transform(generate_series(1, 8), i ->
                 (strpos('0123456789abcdef',
                         substr(md5(CAST(doc_id AS VARCHAR)), i, 1)) - 1)
                 * (16.0 ** (8 - i)))) / 4294967296.0 AS frac
        FROM documents),
      m AS (SELECT min(n) AS mn
            FROM (SELECT count(*) AS n FROM documents GROUP BY lang)),
      r AS (SELECT doc_id, lang,
                   row_number() OVER (PARTITION BY lang
                                      ORDER BY frac, doc_id) AS rn
            FROM f)
      SELECT doc_id, lang FROM r, m WHERE rn <= mn ORDER BY doc_id""")),

    // The full curation run, composed end to end like pipe5 composes the
    // calendar lifecycle: quality + language gate -> exact dedup (min-id
    // representative) -> near-dup drop (higher id of any pair at jaccard
    // >= 0.5) -> benchmark decontamination (any shared 5-gram with the
    // doc_id%41 eval set) -> deterministic split label. One graded answer
    // over every stage's already-proven semantics.
    Q("pipe6_curation", (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val d = t(s, dir, "documents")
      val base = d.filter(col("doc_id") % 41 =!= 0)
      val quality = base.filter(
        TA.qualityScore(col("text")) >= 0.5 &&
          TA.langId(col("text")) === "en")
      // the deduped gate output feeds the near-dup pass, the survivor
      // anti-join, and (via survivors) decontamination — pinned, so the
      // quality+langId+window lineage runs once
      val exact = quality
        // internal group key only (oracle partitions by its own digest;
        // group identity is all that matters): hash128 — whole-text keys
        // are a corpus-sized universe (r15)
        .withColumn("__h", Dedup.hash128(col("text")))
        .withColumn("__m", min(col("doc_id")).over(Window.partitionBy("__h")))
        .filter(col("doc_id") === col("__m")).drop("__h", "__m")
        .localCheckpoint()
      // `exact` is already one row per distinct text, so nearDupPairs'
      // own rep-collapse window would be the identity — the OnReps form
      // skips that second full corpus window (r15, guide §2.4)
      val losers = Dedup.nearDupPairsOnReps(exact, "doc_id", "text",
        threshold = 0.5)
        .select(col("doc_b").as("doc_id")).distinct()
      val survivors = exact.join(losers, Seq("doc_id"), "left_anti")
      val cont = Dedup.contaminationOverlap(survivors,
        d.filter(col("doc_id") % 41 === 0), "doc_id", "text", n = 5)
      survivors.join(cont.select("doc_id"), Seq("doc_id"), "left_anti")
        .select(col("doc_id"),
          graft.operators.Sampling.splitLabel(col("doc_id").cast("string"))
            .as("split"))
        .orderBy("doc_id")
    }, Some("""
      WITH quality AS (
        SELECT doc_id, text FROM documents
        WHERE doc_id % 41 <> 0
          AND round((CAST(len(list_filter(string_split(text, ' '),
                   x -> x IN ('the', 'a', 'of', 'and', 'to', 'in'))) AS DOUBLE)
                 / greatest(CAST(len(string_split(text, ' ')) AS DOUBLE), 1.0)) * 0.5
                + (1.0 - CAST(len(regexp_extract_all(text, '[^a-zA-Z0-9 ]')) AS DOUBLE)
                         / greatest(CAST(length(text) AS DOUBLE), 1.0)) * 0.5,
                4) >= 0.5
          AND (SELECT CASE
                 WHEN c_en > 0 AND c_en >= greatest(c_en, c_fr, c_es, c_de) THEN 'en'
                 WHEN c_fr > 0 AND c_fr >= greatest(c_en, c_fr, c_es, c_de) THEN 'fr'
                 WHEN c_es > 0 AND c_es >= greatest(c_en, c_fr, c_es, c_de) THEN 'es'
                 WHEN c_de > 0 AND c_de >= greatest(c_en, c_fr, c_es, c_de) THEN 'de'
                 ELSE 'und' END
               FROM (SELECT
                 len(list_filter(string_split(text, ' '),
                     x -> x IN ('the', 'of', 'and'))) AS c_en,
                 len(list_filter(string_split(text, ' '),
                     x -> x IN ('le', 'et', 'les'))) AS c_fr,
                 len(list_filter(string_split(text, ' '),
                     x -> x IN ('el', 'y', 'los'))) AS c_es,
                 len(list_filter(string_split(text, ' '),
                     x -> x IN ('der', 'und', 'die'))) AS c_de)) = 'en'),
      exact AS (
        SELECT doc_id, text FROM (
          SELECT doc_id, text,
                 min(doc_id) OVER (PARTITION BY md5(text)) AS m
          FROM quality) WHERE doc_id = m),
      docs AS (SELECT doc_id, string_split(text, ' ') AS w FROM exact),
      sh AS (
        SELECT DISTINCT doc_id, w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS sh
        FROM docs, UNNEST(generate_series(1, len(w) - 2)) AS t(i)
        WHERE len(w) >= 3),
      sig AS (
        SELECT doc_id, band, min(substr(md5(sh), band * 8 + 1, 8)) AS mh
        FROM sh, UNNEST([0, 1, 2, 3]) AS b(band)
        GROUP BY doc_id, band),
      cand AS (
        SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM sig a JOIN sig b
          ON a.band = b.band AND a.mh = b.mh AND a.doc_id < b.doc_id),
      cnt AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
      inter AS (
        SELECT c.doc_a, c.doc_b, count(*) AS shared
        FROM cand c
        JOIN sh x ON x.doc_id = c.doc_a
        JOIN sh y ON y.doc_id = c.doc_b AND y.sh = x.sh
        GROUP BY c.doc_a, c.doc_b),
      losers AS (
        SELECT DISTINCT i.doc_b AS doc_id
        FROM inter i
        JOIN cnt ca ON ca.doc_id = i.doc_a
        JOIN cnt cb ON cb.doc_id = i.doc_b
        WHERE round(CAST(shared AS DOUBLE) / (ca.n + cb.n - shared), 4) >= 0.5),
      survivors AS (
        SELECT e.doc_id, e.text FROM exact e
        WHERE NOT EXISTS (SELECT 1 FROM losers l WHERE l.doc_id = e.doc_id)),
      sdocs AS (SELECT doc_id, string_split(text, ' ') AS w FROM survivors),
      s5 AS (
        SELECT DISTINCT doc_id,
               w[i] || ' ' || w[i+1] || ' ' || w[i+2] || ' ' || w[i+3]
                    || ' ' || w[i+4] AS sh
        FROM sdocs, UNNEST(generate_series(1, len(w) - 4)) AS t(i)
        WHERE len(w) >= 5),
      edocs AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents
                WHERE doc_id % 41 = 0),
      e5 AS (
        SELECT DISTINCT w[i] || ' ' || w[i+1] || ' ' || w[i+2] || ' '
                    || w[i+3] || ' ' || w[i+4] AS sh
        FROM edocs, UNNEST(generate_series(1, len(w) - 4)) AS t(i)
        WHERE len(w) >= 5),
      contaminated AS (
        SELECT DISTINCT s5.doc_id FROM s5 JOIN e5 USING (sh)),
      clean AS (
        SELECT s.doc_id FROM survivors s
        WHERE NOT EXISTS (SELECT 1 FROM contaminated c
                          WHERE c.doc_id = s.doc_id)),
      f AS (
        SELECT doc_id,
               list_sum(list_transform(generate_series(1, 8), i ->
                 (strpos('0123456789abcdef',
                         substr(md5(CAST(doc_id AS VARCHAR)), i, 1)) - 1)
                 * (16.0 ** (8 - i)))) / 4294967296.0 AS frac
        FROM clean)
      SELECT doc_id,
             CASE WHEN frac < 0.8 THEN 'train'
                  WHEN frac < 0.9 THEN 'val'
                  ELSE 'test' END AS split
      FROM f ORDER BY doc_id""")),

    // Curation v2 — the round-7 stages composed end to end, as pipe6
    // composes the round-4 ones: Gopher rule gate → transitive-cluster
    // dedup (connected components over the LSH candidate graph; only the
    // min-id representative of each cluster survives, via an anti-join on
    // the non-root nodes) → temperature-scaled source mixing → split
    // label. The split hash is salted differently from the mix hash —
    // reusing one fraction for two keep/route decisions would correlate
    // them (with keep_p < 0.8 every kept doc would land in 'train').
    Q("pipe8_curation_v2", (s, dir) => {
      val docs = t(s, dir, "documents")
      // Gopher gate as a FILTER (per-row rules), not the old gate-frame
      // self-join — one scan, zero exchanges, same survivors (r15 §2.4)
      val gated = TA.gopherFilter(docs, "text")
        .select(col("doc_id"), col("source"), col("text"))
        .localCheckpoint()
      val sh = Dedup.shingleMultiset(gated, "doc_id", "text")
      val sig = Dedup.minhashSignatures(sh, "doc_id", bands = 4)
        .localCheckpoint()
      val cc = Components.connectedComponents(
        Dedup.lshCandidatePairs(sig, "doc_id"), "doc_a", "doc_b")
      val reps = gated.join(cc, gated("doc_id") === cc("node"), "left_anti")
        .select(col("doc_id"), col("source"))
      graft.operators.Sampling.temperatureMix(reps, col("doc_id").cast("string"),
        col("source"), alpha = 0.5, targetTotal = 200)
        .select(col("doc_id"), col("source"), col("keep_p"),
          graft.operators.Sampling.splitLabel(
            concat(lit("split:"), col("doc_id").cast("string"))).as("split"))
        .orderBy("doc_id")
    }, Some("""
      WITH RECURSIVE f AS (
        SELECT doc_id, source, text, string_split(text, ' ') AS w,
               CAST(len(string_split(text, ' ')) AS BIGINT) AS n,
               CAST(length(text) - (len(string_split(text, ' ')) - 1)
                 AS BIGINT) AS sum_chars
        FROM documents),
      gated AS (
        SELECT doc_id, source, text FROM f
        WHERE n >= 5 AND n <= 5000
          AND sum_chars >= n * 3 AND sum_chars <= n * 10
          AND CAST(len(list_filter(w, x -> regexp_matches(x, '[a-zA-Z]')))
            AS BIGINT) * 5 >= n * 4
          AND CAST(len(list_filter(w, x -> regexp_matches(x, '^[0-9]+$')))
            AS BIGINT) * 5 <= n
          AND CAST(len(list_distinct(list_filter(w,
            x -> x IN ('the', 'a', 'of', 'and', 'to', 'in'))))
            AS BIGINT) >= 2),
      docs2 AS (SELECT doc_id, string_split(text, ' ') AS w FROM gated),
      sh2 AS (
        SELECT DISTINCT doc_id, w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS sh
        FROM docs2, UNNEST(generate_series(1, len(w) - 2)) AS t(i)
        WHERE len(w) >= 3),
      sig2 AS (
        SELECT doc_id, band, min(substr(md5(sh), band * 8 + 1, 8)) AS mh
        FROM sh2, UNNEST([0, 1, 2, 3]) AS b(band)
        GROUP BY doc_id, band),
      pairs2 AS (
        SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM sig2 a JOIN sig2 b
          ON a.band = b.band AND a.mh = b.mh AND a.doc_id < b.doc_id),
      edges AS (
        SELECT doc_a AS u, doc_b AS v FROM pairs2
        UNION ALL SELECT doc_b, doc_a FROM pairs2),
      reach(u, v) AS (
        SELECT doc_id, doc_id FROM gated
        UNION
        SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u),
      comp AS (SELECT u AS doc_id, min(v) AS rep FROM reach GROUP BY u),
      reps AS (
        SELECT g.doc_id, g.source FROM gated g
        JOIN comp c USING (doc_id) WHERE c.rep = g.doc_id),
      cnt AS (SELECT source, count(*) AS n_s FROM reps GROUP BY source),
      z AS (SELECT sum(power(n_s, 0.5)) AS z FROM cnt),
      p AS (SELECT source,
              least(1.0, 200.0 * power(n_s, 0.5) / z.z / n_s) AS kp
            FROM cnt, z),
      mixed AS (
        SELECT r.doc_id, r.source, kp,
               list_sum(list_transform(generate_series(1, 8), i ->
                 (strpos('0123456789abcdef',
                         substr(md5(CAST(r.doc_id AS VARCHAR)), i, 1)) - 1)
                 * (16.0 ** (8 - i)))) / 4294967296.0 AS mix_frac,
               list_sum(list_transform(generate_series(1, 8), i ->
                 (strpos('0123456789abcdef',
                         substr(md5('split:' || CAST(r.doc_id AS VARCHAR)),
                           i, 1)) - 1)
                 * (16.0 ** (8 - i)))) / 4294967296.0 AS split_frac
        FROM reps r JOIN p USING (source))
      SELECT doc_id, source, round(kp, 6) AS keep_p,
             CASE WHEN split_frac < 0.8 THEN 'train'
                  WHEN split_frac < 0.9 THEN 'val'
                  ELSE 'test' END AS split
      FROM mixed WHERE mix_frac < kp ORDER BY doc_id""")),

    // Curation v3 — the round-8 stages composed end to end, disjoint from
    // pipe8's: segment-level dedup (docs reassembled from surviving
    // 20-token spans; hollowed-out docs dropped) → URL canonicalization
    // dedup (planted messy URLs, min-id survives) → hashing-embedding
    // near-dup drop (16-dim vectorizer on the CLEANED text; L2-normalized
    // so cosine = dot; sign-bucketed pairs ≥ 0.9 drop the larger id) →
    // deterministic split. Graded on the surviving ids, their kept-segment
    // counts, and the split — every stage's decisions feed the hash.
    Q("pipe9_curation_v3", (s, dir) => {
      val docs = t(s, dir, "documents")
      // `source` rides segmentDedupText's reassembly join (carry) instead
      // of a second corpus join on doc_id (r15, guide §2.4)
      val seg = Dedup.segmentDedupText(docs, "doc_id", "text", segTokens = 20,
          carry = Seq("source"))
        .filter(col("kept_segs") > 0)
      val plantedUrl = concat(
        when(col("doc_id") % 2 === 0, lit("HTTPS://WWW."))
          .otherwise(lit("https://")),
        col("source"), lit(".example.com/cat/"),
        expr("doc_id div 20") % 5,
        lit("?utm_campaign=c"), col("doc_id"),
        lit("&id="), expr("doc_id div 20") % 3)
      val urlKept = seg
        .withColumn("__canon", TA.canonicalizeUrl(plantedUrl))
        .withColumn("__m",
          min(col("doc_id")).over(Window.partitionBy(col("__canon"))))
        .filter(col("doc_id") === col("__m"))
        .drop("__canon", "__m")
        .localCheckpoint()
      val vecs = TA.hashingEmbedding(urlKept, "doc_id", "text_clean",
          dims = 16)
        .groupBy("doc_id")
        .agg(array_sort(collect_list(struct(col("dim"), col("value"))))
          .as("__t"))
        .select(col("doc_id"),
          transform(col("__t"), x => x.getField("value")).as("v"))
        .withColumn("bucket", Similarity.signBucket(col("v"), 4))
      val a = vecs.select(col("doc_id").as("doc_a"), col("v").as("va"),
        col("bucket"))
      val b = vecs.select(col("doc_id").as("doc_b"), col("v").as("vb"),
        col("bucket"))
      val drops = a.join(b, "bucket").filter(col("doc_a") < col("doc_b"))
        .withColumn("cos",
          round(Similarity.dot(col("va"), col("vb")), 6))
        .filter(col("cos") >= 0.9)
        .select(col("doc_b").as("doc_id")).distinct()
      urlKept.join(drops, Seq("doc_id"), "left_anti")
        .select(col("doc_id"), col("kept_segs"),
          graft.operators.Sampling.splitLabel(col("doc_id").cast("string"))
            .as("split"))
        .orderBy("doc_id")
    }, Some("""
      WITH d0 AS (
        SELECT doc_id, source, string_split(text, ' ') AS w FROM documents),
      segs AS (
        SELECT doc_id, i AS seg_idx,
               array_to_string(list_slice(w, i * 20 + 1, i * 20 + 20), ' ')
                 AS seg
        FROM d0, UNNEST(generate_series(0,
          greatest(CAST(ceil(len(w) / 20.0) AS BIGINT), 1) - 1)) AS t(i)),
      keep AS (
        SELECT doc_id, seg_idx, seg,
               row_number() OVER (PARTITION BY md5(seg)
                                  ORDER BY doc_id, seg_idx) = 1 AS k
        FROM segs),
      re AS (
        SELECT doc_id, count(*) AS kept_segs,
               string_agg(seg, ' ' ORDER BY seg_idx) AS clean
        FROM keep WHERE k GROUP BY doc_id),
      c1 AS (
        SELECT d0.doc_id, d0.source, re.kept_segs, re.clean
        FROM d0 JOIN re USING (doc_id)),
      u AS (
        SELECT doc_id,
               (CASE WHEN doc_id % 2 = 0 THEN 'HTTPS://WWW.'
                     ELSE 'https://' END)
               || source || '.example.com/cat/' || (doc_id // 20) % 5
               || '?utm_campaign=c' || doc_id
               || '&id=' || (doc_id // 20) % 3 AS url
        FROM c1),
      canon AS (
        SELECT doc_id,
               lower(regexp_extract(url, '^([^:/?#]+)://', 1)) || '://'
               || regexp_replace(lower(regexp_extract(url,
                    '^[^:/?#]+://([^/?#]+)', 1)), '^www\.', '')
               || regexp_replace(regexp_extract(url,
                    '^[^:/?#]+://[^/?#]+([^?#]*)', 1), '/$', '')
               || '?' || array_to_string(list_sort(list_filter(
                    string_split(regexp_extract(url, '\?([^#]*)', 1), '&'),
                    p -> p <> '' AND NOT starts_with(p, 'utm_'))), '&')
                 AS canon_url
        FROM u),
      c2 AS (
        SELECT c1.* FROM c1 JOIN (
          SELECT doc_id FROM (
            SELECT doc_id,
                   min(doc_id) OVER (PARTITION BY canon_url) AS m
            FROM canon) WHERE doc_id = m) kk USING (doc_id)),
      tf AS (
        SELECT doc_id, tok, count(*) AS tf
        FROM (SELECT doc_id, unnest(string_split(clean, ' ')) AS tok
              FROM c2)
        GROUP BY doc_id, tok),
      hashed AS (
        SELECT doc_id, tf,
               CAST(list_sum(list_transform(generate_series(1, 8), i ->
                 (strpos('0123456789abcdef', substr(md5(tok), i, 1)) - 1)
                 * (16.0 ** (8 - i)))) AS BIGINT) AS h
        FROM tf),
      sums AS (
        SELECT doc_id, CAST(h % 16 AS INTEGER) AS bucket,
               sum(CASE WHEN (h // 16) % 2 = 1 THEN tf ELSE -tf END) AS v
        FROM hashed GROUP BY 1, 2),
      grid AS (
        SELECT doc_id, i AS bucket
        FROM c2, UNNEST(generate_series(0, 15)) AS t(i)),
      dense AS (
        SELECT g.doc_id, g.bucket, coalesce(s.v, 0) AS v
        FROM grid g
        LEFT JOIN sums s ON s.doc_id = g.doc_id AND s.bucket = g.bucket),
      nrm AS (SELECT doc_id, sqrt(sum(v * v)) AS nrm FROM dense
              GROUP BY doc_id),
      vals AS (
        SELECT d.doc_id, d.bucket AS dim,
               round(d.v / greatest(n.nrm, 1e-12), 6) AS value
        FROM dense d JOIN nrm n USING (doc_id)),
      vec AS (
        SELECT doc_id, list(value ORDER BY dim) AS v FROM vals
        GROUP BY doc_id),
      bkt AS (
        SELECT doc_id, v,
               (CASE WHEN v[1] > 0 THEN 8 ELSE 0 END
                + CASE WHEN v[2] > 0 THEN 4 ELSE 0 END
                + CASE WHEN v[3] > 0 THEN 2 ELSE 0 END
                + CASE WHEN v[4] > 0 THEN 1 ELSE 0 END) AS bucket
        FROM vec),
      drops AS (
        SELECT DISTINCT b.doc_id
        FROM bkt a JOIN bkt b
          ON a.bucket = b.bucket AND a.doc_id < b.doc_id
        WHERE round(list_sum(list_transform(generate_series(1, 16),
                i -> a.v[i] * b.v[i])), 6) >= 0.9),
      reps AS (
        SELECT doc_id, kept_segs FROM c2
        WHERE doc_id NOT IN (SELECT doc_id FROM drops)),
      f AS (
        SELECT doc_id, kept_segs,
               list_sum(list_transform(generate_series(1, 8), i ->
                 (strpos('0123456789abcdef',
                         substr(md5(CAST(doc_id AS VARCHAR)), i, 1)) - 1)
                 * (16.0 ** (8 - i)))) / 4294967296.0 AS frac
        FROM reps)
      SELECT doc_id, CAST(kept_segs AS BIGINT) AS kept_segs,
             CASE WHEN frac < 0.8 THEN 'train'
                  WHEN frac < 0.9 THEN 'val'
                  ELSE 'test' END AS split
      FROM f ORDER BY doc_id""")),

    // pipe10 — the FULL production curation superset: Gopher gate →
    // segment dedup → URL dedup → exact dedup → transitive LSH-cluster
    // dedup → decontamination → temperature mix → salted split → sequence
    // packing, each stage consuming the previous stage's survivors
    // (operators/CurationPipeline.scala; pipe6/8/9 grade subsets of these
    // stages — this composition grades all of them through one hash,
    // including the pack offsets, which pin the exact final kept SET and
    // its order). Oracle: the stage fragments composed the same way.
    Q("pipe10_curation_full", (s, dir) =>
      graft.operators.CurationPipeline.full(t(s, dir, "documents"))
        .orderBy("doc_id"),
      Some("""
      WITH RECURSIVE f AS (
        SELECT doc_id, source, text, string_split(text, ' ') AS w,
               CAST(len(string_split(text, ' ')) AS BIGINT) AS n,
               CAST(length(text) - (len(string_split(text, ' ')) - 1)
                 AS BIGINT) AS sum_chars
        FROM documents WHERE doc_id % 41 <> 0),
      gated AS (
        SELECT doc_id, source, text FROM f
        WHERE n >= 5 AND n <= 5000
          AND sum_chars >= n * 3 AND sum_chars <= n * 10
          AND CAST(len(list_filter(w, x -> regexp_matches(x, '[a-zA-Z]')))
            AS BIGINT) * 5 >= n * 4
          AND CAST(len(list_filter(w, x -> regexp_matches(x, '^[0-9]+$')))
            AS BIGINT) * 5 <= n
          AND CAST(len(list_distinct(list_filter(w,
            x -> x IN ('the', 'a', 'of', 'and', 'to', 'in'))))
            AS BIGINT) >= 2),
      d0 AS (SELECT doc_id, source, string_split(text, ' ') AS w
             FROM gated),
      segs AS (
        SELECT doc_id, i AS seg_idx,
               array_to_string(list_slice(w, i * 20 + 1, i * 20 + 20), ' ')
                 AS seg
        FROM d0, UNNEST(generate_series(0,
          greatest(CAST(ceil(len(w) / 20.0) AS BIGINT), 1) - 1)) AS t(i)),
      keep AS (
        SELECT doc_id, seg_idx, seg,
               row_number() OVER (PARTITION BY md5(seg)
                                  ORDER BY doc_id, seg_idx) = 1 AS k
        FROM segs),
      re AS (
        SELECT doc_id, count(*) AS kept_segs,
               string_agg(seg, ' ' ORDER BY seg_idx) AS clean
        FROM keep WHERE k GROUP BY doc_id),
      c1 AS (
        SELECT d0.doc_id, d0.source, re.kept_segs, re.clean
        FROM d0 JOIN re USING (doc_id)),
      urls AS (
        SELECT doc_id,
               (CASE WHEN doc_id % 2 = 0 THEN 'HTTPS://WWW.'
                     ELSE 'https://' END)
               || source || '.example.com/cat/' || (doc_id // 20) % 5
               || '?utm_campaign=c' || doc_id
               || '&id=' || (doc_id // 20) % 3 AS url
        FROM c1),
      canon AS (
        SELECT doc_id,
               lower(regexp_extract(url, '^([^:/?#]+)://', 1)) || '://'
               || regexp_replace(lower(regexp_extract(url,
                    '^[^:/?#]+://([^/?#]+)', 1)), '^www\.', '')
               || regexp_replace(regexp_extract(url,
                    '^[^:/?#]+://[^/?#]+([^?#]*)', 1), '/$', '')
               || '?' || array_to_string(list_sort(list_filter(
                    string_split(regexp_extract(url, '\?([^#]*)', 1), '&'),
                    p -> p <> '' AND NOT starts_with(p, 'utm_'))), '&')
                 AS canon_url
        FROM urls),
      c2 AS (
        SELECT c1.* FROM c1 JOIN (
          SELECT doc_id FROM (
            SELECT doc_id,
                   min(doc_id) OVER (PARTITION BY canon_url) AS m
            FROM canon) WHERE doc_id = m) kk USING (doc_id)),
      c3 AS (
        SELECT doc_id, source, kept_segs, clean FROM (
          SELECT c2.*, min(doc_id) OVER (PARTITION BY md5(clean)) AS m
          FROM c2) WHERE doc_id = m),
      docs2 AS (SELECT doc_id, string_split(clean, ' ') AS w FROM c3),
      sh2 AS (
        SELECT DISTINCT doc_id, w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS sh
        FROM docs2, UNNEST(generate_series(1, len(w) - 2)) AS t(i)
        WHERE len(w) >= 3),
      sig2 AS (
        SELECT doc_id, band, min(substr(md5(sh), band * 8 + 1, 8)) AS mh
        FROM sh2, UNNEST([0, 1, 2, 3]) AS b(band)
        GROUP BY doc_id, band),
      pairs2 AS (
        SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM sig2 a JOIN sig2 b
          ON a.band = b.band AND a.mh = b.mh AND a.doc_id < b.doc_id),
      edges AS (
        SELECT doc_a AS u, doc_b AS v FROM pairs2
        UNION ALL SELECT doc_b, doc_a FROM pairs2),
      reach(u, v) AS (
        SELECT doc_id, doc_id FROM c3
        UNION
        SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u),
      comp AS (SELECT u AS doc_id, min(v) AS rep FROM reach GROUP BY u),
      reps AS (
        SELECT c3.* FROM c3
        JOIN comp USING (doc_id) WHERE comp.rep = c3.doc_id),
      sdocs AS (SELECT doc_id, string_split(clean, ' ') AS w FROM reps),
      s5 AS (
        SELECT DISTINCT doc_id,
               w[i] || ' ' || w[i+1] || ' ' || w[i+2] || ' ' || w[i+3]
                    || ' ' || w[i+4] AS sh
        FROM sdocs, UNNEST(generate_series(1, len(w) - 4)) AS t(i)
        WHERE len(w) >= 5),
      edocs AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents
                WHERE doc_id % 41 = 0),
      e5 AS (
        SELECT DISTINCT w[i] || ' ' || w[i+1] || ' ' || w[i+2] || ' '
                    || w[i+3] || ' ' || w[i+4] AS sh
        FROM edocs, UNNEST(generate_series(1, len(w) - 4)) AS t(i)
        WHERE len(w) >= 5),
      contaminated AS (
        SELECT DISTINCT s5.doc_id FROM s5 JOIN e5 USING (sh)),
      cleaned AS (
        SELECT r.* FROM reps r
        WHERE NOT EXISTS (SELECT 1 FROM contaminated c
                          WHERE c.doc_id = r.doc_id)),
      cnt AS (SELECT source, count(*) AS n_s FROM cleaned GROUP BY source),
      z AS (SELECT sum(power(n_s, 0.5)) AS z FROM cnt),
      p AS (SELECT source,
              least(1.0, 200.0 * power(n_s, 0.5) / z.z / n_s) AS kp
            FROM cnt, z),
      mixed AS (
        SELECT c.doc_id, c.source, c.kept_segs, c.clean, kp,
               list_sum(list_transform(generate_series(1, 8), i ->
                 (strpos('0123456789abcdef',
                         substr(md5(CAST(c.doc_id AS VARCHAR)), i, 1)) - 1)
                 * (16.0 ** (8 - i)))) / 4294967296.0 AS mix_frac,
               list_sum(list_transform(generate_series(1, 8), i ->
                 (strpos('0123456789abcdef',
                         substr(md5('split:' || CAST(c.doc_id AS VARCHAR)),
                           i, 1)) - 1)
                 * (16.0 ** (8 - i)))) / 4294967296.0 AS split_frac
        FROM cleaned c JOIN p USING (source)),
      kept AS (SELECT * FROM mixed WHERE mix_frac < kp),
      tk AS (
        SELECT doc_id, source, kept_segs, kp, split_frac,
               len(string_split(clean, ' ')) AS n_tokens
        FROM kept),
      c4 AS (
        SELECT *, coalesce(sum(n_tokens) OVER (ORDER BY doc_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                 AS start_off
        FROM tk)
      SELECT doc_id, source, CAST(kept_segs AS BIGINT) AS kept_segs,
             round(kp, 6) AS keep_p,
             CASE WHEN split_frac < 0.8 THEN 'train'
                  WHEN split_frac < 0.9 THEN 'val'
                  ELSE 'test' END AS split,
             CAST(n_tokens AS BIGINT) AS n_tokens,
             CAST(start_off AS BIGINT) AS start_off,
             CAST(start_off // 2048 AS BIGINT) AS pack_id,
             (start_off // 2048) <> ((start_off + n_tokens - 1) // 2048)
               AS spans_boundary
      FROM c4 ORDER BY doc_id""")),

    // KMV distinct sketch vs exact: per source, estimate distinct tokens
    // from a 25-value mergeable sketch. Deterministic (md5 fractions), so
    // the oracle reproduces the exact estimate — both sides dedup by the
    // hash fraction itself.
    Q("ks1_kmv_distinct", (s, dir) => {
      val toks = t(s, dir, "documents").select(col("source"),
        explode(split(col("text"), " ")).as("tok"))
        .withColumn("frac",
          graft.operators.Sampling.hashFraction(col("tok")))
      toks.groupBy("source").agg(
        countDistinct(col("frac")).as("exact_distinct"),
        round(graft.expressions.VecFns.kmvDistinct(col("frac"), 25), 4)
          .as("kmv_estimate"))
        .orderBy("source")
    }, Some("""
      WITH toks AS (
        SELECT source, unnest(string_split(text, ' ')) AS tok
        FROM documents),
      f AS (
        SELECT DISTINCT source,
               list_sum(list_transform(generate_series(1, 8), i ->
                 (strpos('0123456789abcdef', substr(md5(tok), i, 1)) - 1)
                 * (16.0 ** (8 - i)))) / 4294967296.0 AS frac
        FROM toks),
      st AS (
        SELECT source, count(*) AS nd, list_sort(list(frac)) AS fr
        FROM f GROUP BY source)
      SELECT source, CAST(nd AS BIGINT) AS exact_distinct,
             round(CASE WHEN nd < 25 THEN CAST(nd AS DOUBLE)
                        ELSE 24.0 / fr[25] END, 4) AS kmv_estimate
      FROM st ORDER BY source""")),

    // KMV set-operation estimates: per-language k-min-values sketches of
    // the token space, then pairwise union cardinality ((k-1)/kth) and
    // Jaccard (shared fraction of the combined top-k) — the mergeable-
    // sketch path to "how much vocabulary do these corpora share" at
    // 100 TB, where the exact pair join is the thing you can't afford.
    // Both the estimates AND their exact counterparts are graded, so the
    // oracle pins estimator math, not just plumbing. The pair join is a
    // bounded cross of one 25-double row per language (5 rows/side).
    Q("ks3_kmv_set_ops", (s, dir) => {
      val k = 25
      val f = t(s, dir, "documents").select(col("lang"),
        explode(split(col("text"), " ")).as("tok"))
        .withColumn("frac", graft.operators.Sampling.hashFraction(col("tok")))
        .select("lang", "frac").distinct()
      val w = Window.partitionBy("lang").orderBy("frac")
      val per = f.withColumn("rn", row_number().over(w))
        .groupBy("lang").agg(
          sort_array(collect_list(when(col("rn") <= k, col("frac")))).as("fr"),
          count(lit(1)).as("nd"))
      val inter = f.select(col("lang").as("lang_a"), col("frac"))
        .join(f.select(col("lang").as("lang_b"), col("frac")), "frac")
        .filter(col("lang_a") < col("lang_b"))
        .groupBy("lang_a", "lang_b").agg(count(lit(1)).as("n_inter"))
      per.select(col("lang").as("lang_a"), col("fr").as("fr_a"),
          col("nd").as("nd_a"))
        .join(per.select(col("lang").as("lang_b"), col("fr").as("fr_b"),
          col("nd").as("nd_b")), col("lang_a") < col("lang_b"))
        .join(inter, Seq("lang_a", "lang_b"), "left")
        .withColumn("comb",
          expr(s"slice(array_sort(array_union(fr_a, fr_b)), 1, $k)"))
        .withColumn("exact_union",
          col("nd_a") + col("nd_b") - coalesce(col("n_inter"), lit(0L)))
        .select(col("lang_a"), col("lang_b"),
          round(lit((k - 1).toDouble) / expr(s"element_at(comb, $k)"), 4)
            .as("kmv_union"),
          round(expr(("size(filter(comb, x -> array_contains(fr_a, x)" +
            " AND array_contains(fr_b, x)))")).cast("double") / k, 4)
            .as("kmv_jaccard"),
          col("exact_union"),
          round(coalesce(col("n_inter"), lit(0L)).cast("double") /
            col("exact_union"), 4).as("exact_jaccard"))
        .orderBy("lang_a", "lang_b")
    }, Some("""
      WITH toks AS (
        SELECT lang, unnest(string_split(text, ' ')) AS tok FROM documents),
      f AS (
        SELECT DISTINCT lang,
               list_sum(list_transform(generate_series(1, 8), i ->
                 (strpos('0123456789abcdef', substr(md5(tok), i, 1)) - 1)
                 * (16.0 ** (8 - i)))) / 4294967296.0 AS frac
        FROM toks),
      per AS (
        SELECT lang, count(*) AS nd,
               list_slice(list_sort(list(frac)), 1, 25) AS fr
        FROM f GROUP BY lang),
      inter AS (
        SELECT a.lang AS lang_a, b.lang AS lang_b, count(*) AS n_inter
        FROM f a JOIN f b ON a.frac = b.frac AND a.lang < b.lang
        GROUP BY 1, 2),
      pairs AS (
        SELECT a.lang AS lang_a, b.lang AS lang_b, a.fr AS fr_a, b.fr AS fr_b,
               a.nd AS nd_a, b.nd AS nd_b
        FROM per a JOIN per b ON a.lang < b.lang)
      SELECT lang_a, lang_b,
             round(24.0 / comb[25], 4) AS kmv_union,
             round(len(list_filter(comb, x -> list_contains(fr_a, x)
                     AND list_contains(fr_b, x))) / 25.0, 4) AS kmv_jaccard,
             CAST(nd_a + nd_b - coalesce(n_inter, 0) AS BIGINT) AS exact_union,
             round(coalesce(n_inter, 0)
                   / CAST(nd_a + nd_b - coalesce(n_inter, 0) AS DOUBLE), 4)
               AS exact_jaccard
      FROM (SELECT *, list_slice(list_sort(list_distinct(fr_a || fr_b)), 1, 25)
                      AS comb
            FROM pairs LEFT JOIN inter USING (lang_a, lang_b))
      ORDER BY lang_a, lang_b""")),

    // Count-min sketch heavy-hitter audit: a 4×512 mergeable sketch
    // (fixed-size shuffle state, the vocabulary-free path to corpus word
    // stats at 100 TB) probed at the top-20 true words — estimate, truth,
    // and the provably-nonnegative overcount. Hash rows are disjoint
    // 8-hex-digit md5 slices, mirrored digit-for-digit in the oracle.
    Q("ks2_countmin_hh", (s, dir) =>
      graft.operators.CountMin.heavyHitterAudit(
        t(s, dir, "documents"), "text", d = 4, width = 512, k = 20)
        .orderBy(desc("true_cnt"), asc("word")),
      Some("""
      WITH tw AS (
        SELECT word, CAST(count(*) AS BIGINT) AS true_cnt
        FROM (SELECT unnest(string_split(text, ' ')) AS word
              FROM documents)
        WHERE len(word) > 0 GROUP BY word),
      cells AS (
        SELECT j,
               CAST(list_sum(list_transform(generate_series(1, 8), i ->
                 (strpos('0123456789abcdef',
                         substr(md5(word), j * 8 + i, 1)) - 1)
                 * (16.0 ** (8 - i)))) AS BIGINT) % 512 AS bucket,
               CAST(sum(true_cnt) AS BIGINT) AS cell_count
        FROM tw, UNNEST([0, 1, 2, 3]) AS t(j)
        GROUP BY 1, 2),
      probes AS (
        SELECT word, true_cnt FROM tw
        QUALIFY row_number() OVER (ORDER BY true_cnt DESC, word) <= 20),
      lk AS (
        SELECT p.word, p.true_cnt, t.j,
               CAST(list_sum(list_transform(generate_series(1, 8), i ->
                 (strpos('0123456789abcdef',
                         substr(md5(p.word), t.j * 8 + i, 1)) - 1)
                 * (16.0 ** (8 - i)))) AS BIGINT) % 512 AS bucket
        FROM probes p, UNNEST([0, 1, 2, 3]) AS t(j))
      SELECT lk.word, lk.true_cnt,
             min(c.cell_count) AS est_cnt,
             min(c.cell_count) - lk.true_cnt AS overcount
      FROM lk JOIN cells c ON c.j = lk.j AND c.bucket = lk.bucket
      GROUP BY lk.word, lk.true_cnt
      ORDER BY true_cnt DESC, word""")),

    // Deterministic k-per-group sample: hash-ranked reservoir shape, same
    // k rows per source in any engine / any run.
    Q("sa3_group_sample", (s, dir) =>
      graft.operators.Sampling.groupSample(
        t(s, dir, "documents"), col("doc_id").cast("string"), col("source"),
        k = 25)
        .select(col("doc_id"), col("source"))
        .orderBy("doc_id"),
      Some("""
      WITH f AS (
        SELECT doc_id, source,
               list_sum(list_transform(generate_series(1, 8), i ->
                 (strpos('0123456789abcdef',
                         substr(md5(CAST(doc_id AS VARCHAR)), i, 1)) - 1)
                 * (16.0 ** (8 - i)))) / 4294967296.0 AS frac
        FROM documents),
      r AS (
        SELECT doc_id, source,
               row_number() OVER (PARTITION BY source
                                  ORDER BY frac, CAST(doc_id AS VARCHAR))
                 AS rk
        FROM f)
      SELECT doc_id, source FROM r WHERE rk <= 25 ORDER BY doc_id""")),

    // Multimodal plumbing: binary payload + typed metadata (the real
    // raster decode path is graded by mm3 below; compressed codecs stay
    // out of scope — no media libraries in this container).
    Q("mm1_binary_meta", (s, dir) =>
      Multimodal.packBinary(t(s, dir, "documents"), "doc_id", "text",
        mime = "text/plain")
        .select(col("media_id"), col("mime"), col("nbytes"), col("digest"),
          hex(substring(col("payload"), 1, 8)).as("head8"))
        .orderBy("media_id"),
      Some("""
      SELECT doc_id AS media_id, 'text/plain' AS mime,
             octet_length(encode(text)) AS nbytes, md5(text) AS digest,
             substr(hex(encode(text)), 1, 16) AS head8
      FROM documents ORDER BY media_id""")),

    // Frame sampling (1→N generator over a binary payload): every 2nd
    // 16-byte frame, graded on the frame text (the corpus is ASCII, so the
    // oracle slices the string where Spark slices the bytes).
    Q("mm2_frame_sample", (s, dir) => {
      val media = Multimodal.packBinary(t(s, dir, "documents"), "doc_id",
        "text", mime = "text/plain")
      Multimodal.frameSample(media, frameBytes = 16, everyNth = 2)
        .select(col("media_id"), col("frame_idx"), col("ts_ms"),
          col("frame").cast("string").as("frame_txt"))
        .orderBy("media_id", "frame_idx")
    }, Some("""
      WITH f AS (
        SELECT doc_id, text, length(text) // 16 AS nf FROM documents)
      SELECT doc_id AS media_id, CAST(fi AS INTEGER) AS frame_idx,
             CAST(fi * 40 AS BIGINT) AS ts_ms,
             substr(text, CAST(fi * 16 + 1 AS INTEGER), 16) AS frame_txt
      FROM f, UNNEST(generate_series(0, CAST(nf - 1 AS BIGINT), 2)) AS t(fi)
      WHERE nf >= 1
      ORDER BY media_id, frame_idx""")),

    // REAL decode, graded on decoded pixel output: each doc's text bytes
    // become an actual netpbm P6 image (fixed width 8, height from byte
    // length, pixels = text bytes cycled), PpmCodec parses the payload
    // back — header tokens, the single post-maxval whitespace byte, raw
    // raster — and the grade is the EXACT per-channel byte sums plus the
    // byte sum of a real nearest-neighbor half-resolution resize. The
    // oracle recomputes all of it from the source BYTES — hex(encode(text))
    // decoded into a per-doc byte list — so it agrees with the Spark
    // side's raw-UTF-8 cycling on any corpus, not just ASCII (a char-based
    // substr would silently diverge on multibyte text); a header-parse or
    // pixel-offset bug moves an integer and the hash goes red.
    Q("mm3_ppm_decode", (s, dir) =>
      Multimodal.ppmStats(
        Multimodal.ppmFromText(t(s, dir, "documents"), "doc_id", "text",
          width = 8))
        .orderBy("media_id"),
      Some("""
      WITH d AS (
        SELECT doc_id, hex(encode(text)) AS hx,
               octet_length(encode(text)) AS n
        FROM documents WHERE octet_length(encode(text)) > 0),
      dims AS (
        SELECT doc_id, n, 8 AS w, 1 + (n % 16) AS h,
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
      sums AS (
        SELECT doc_id, w, h,
               CAST(sum(CASE WHEN i % 3 = 0 THEN b ELSE 0 END) AS BIGINT)
                 AS sum_r,
               CAST(sum(CASE WHEN i % 3 = 1 THEN b ELSE 0 END) AS BIGINT)
                 AS sum_g,
               CAST(sum(CASE WHEN i % 3 = 2 THEN b ELSE 0 END) AS BIGINT)
                 AS sum_b
        FROM px GROUP BY doc_id, w, h),
      halfs AS (
        SELECT doc_id, CAST(sum(b) AS BIGINT) AS half_sum FROM (
          SELECT dims.doc_id,
                 bts[CAST((((y * h // greatest(h // 2, 1)) * 8 + 2 * x) * 3
                           + c) % n AS INTEGER) + 1] AS b
          FROM dims,
               UNNEST(generate_series(0, 3)) AS tx(x),
               UNNEST(generate_series(0, greatest(h // 2, 1) - 1)) AS ty(y),
               UNNEST([0, 1, 2]) AS tc(c))
        GROUP BY doc_id)
      SELECT s.doc_id AS media_id, s.w AS width, s.h AS height,
             s.sum_r, s.sum_g, s.sum_b, hf.half_sum
      FROM sums s JOIN halfs hf USING (doc_id)
      ORDER BY media_id""")),

    // mm4 — the ENCODER path graded, closing mm3's loop: decode → NN
    // half-resize → RE-ENCODE with the real P6 writer, graded on the
    // re-encoded size and an md5 over the emitted payload's uppercase hex
    // (header bytes included — the oracle rebuilds the identical hex from
    // the source text bytes, so a header-format or raster-offset bug in
    // the encoder moves the digest). MultimodalSpec additionally asserts
    // the re-encoded payload decodes back to the resized raster.
    Q("mm4_ppm_reencode", (s, dir) =>
      Multimodal.ppmResizeReencode(
        Multimodal.ppmFromText(t(s, dir, "documents"), "doc_id", "text",
          width = 8))
        .orderBy("media_id"),
      Some("""
      WITH d AS (
        SELECT doc_id, hex(encode(text)) AS hx,
               octet_length(encode(text)) AS n
        FROM documents WHERE octet_length(encode(text)) > 0),
      dims AS (
        SELECT doc_id, n, 8 AS w, 1 + (n % 16) AS h,
               list_transform(generate_series(1, n), i ->
                 (strpos('0123456789ABCDEF', substr(hx,
                     CAST(2 * i - 1 AS INTEGER), 1)) - 1) * 16
                 + strpos('0123456789ABCDEF', substr(hx,
                     CAST(2 * i AS INTEGER), 1)) - 1) AS bts
        FROM d),
      rdims AS (
        SELECT doc_id, n, w, h, greatest(w // 2, 1) AS rw,
               greatest(h // 2, 1) AS rh, bts
        FROM dims),
      px AS (
        SELECT doc_id, rw, rh, (y * rw + x) * 3 + c AS i,
               bts[CAST((((y * h // rh) * w + (x * w // rw)) * 3 + c) % n
                   AS INTEGER) + 1] AS b
        FROM rdims,
             UNNEST(generate_series(0, rw - 1)) AS tx(x),
             UNNEST(generate_series(0, rh - 1)) AS ty(y),
             UNNEST([0, 1, 2]) AS tc(c)),
      hexpix AS (
        SELECT doc_id, rw, rh,
               string_agg(substr('0123456789ABCDEF',
                            CAST(b // 16 AS INTEGER) + 1, 1)
                          || substr('0123456789ABCDEF',
                            CAST(b % 16 AS INTEGER) + 1, 1),
                          '' ORDER BY i) AS pixhex
        FROM px GROUP BY doc_id, rw, rh),
      enc AS (
        SELECT doc_id AS media_id, rw, rh,
               hex(encode('P6' || chr(10) || rw || ' ' || rh || chr(10)
                 || '255' || chr(10))) || pixhex AS full_hex,
               CAST(octet_length(encode('P6' || chr(10) || rw || ' ' || rh
                 || chr(10) || '255' || chr(10))) + rw * rh * 3 AS BIGINT)
                 AS nbytes2
        FROM hexpix)
      SELECT media_id, rw, rh, nbytes2, md5(full_hex) AS enc_hex_md5
      FROM enc ORDER BY media_id""")),

    // mm5 — COMPRESSED-format decode: the same deterministic raster rides
    // a full PNG transcode (Paeth scanline filters + zlib chunks, the
    // hand-rolled PngCodec) and the grade is the decoded raster's channel
    // sums + pixel-hex md5. PNG is lossless, so the oracle recomputes the
    // identical numbers straight from the source bytes; the PNG layer
    // cancels arithmetically but every graded integer crossed it — a
    // filter/zlib/CRC bug throws or moves the hash.
    Q("mm5_png_roundtrip", (s, dir) =>
      Multimodal.pngRoundtripStats(
        Multimodal.ppmFromText(t(s, dir, "documents"), "doc_id", "text",
          width = 8))
        .orderBy("media_id"),
      Some("""
      WITH d AS (
        SELECT doc_id, hex(encode(text)) AS hx,
               octet_length(encode(text)) AS n
        FROM documents WHERE octet_length(encode(text)) > 0),
      dims AS (
        SELECT doc_id, n, 8 AS w, 1 + (n % 16) AS h,
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
               string_agg(substr('0123456789ABCDEF',
                            CAST(b // 16 AS INTEGER) + 1, 1)
                          || substr('0123456789ABCDEF',
                            CAST(b % 16 AS INTEGER) + 1, 1),
                          '' ORDER BY i) AS pixhex
        FROM px GROUP BY doc_id, w, h)
      SELECT doc_id AS media_id, w AS width, h AS height,
             sum_r, sum_g, sum_b, md5(pixhex) AS pix_hex_md5
      FROM agg ORDER BY media_id""")),

    // REAL audio decode — RIFF/WAVE 16-bit PCM: documents become stereo
    // WAV payloads (text-derived samples with negative values, LIST
    // chunks planted on even ids so the parser must walk chunks), parsed
    // back by the real decoder; per-channel sums, frame count and peak
    // grade against sample arithmetic rebuilt from the source bytes. An
    // endianness, sign, or chunk-offset bug moves a graded integer.
    Q("mm6_wav_stats", (s, dir) =>
      Multimodal.wavStats(
        Multimodal.wavFromText(t(s, dir, "documents"), "doc_id", "text"))
        .orderBy("media_id"),
      Some("""
      WITH d AS (
        SELECT doc_id, hex(encode(text)) AS hx,
               octet_length(encode(text))
                 - (octet_length(encode(text)) % 2) AS m
        FROM documents WHERE octet_length(encode(text)) >= 2),
      bts AS (
        SELECT doc_id, m,
               list_transform(generate_series(1, m), i ->
                 (strpos('0123456789ABCDEF', substr(hx,
                     CAST(2 * i - 1 AS INTEGER), 1)) - 1) * 16
                 + strpos('0123456789ABCDEF', substr(hx,
                     CAST(2 * i AS INTEGER), 1)) - 1) AS b
        FROM d),
      sv AS (
        SELECT doc_id, m, i,
               b[CAST(i AS INTEGER) + 1]
                 + 256 * ((b[CAST((i + 1) % m AS INTEGER) + 1] * 3 + i)
                          % 256) AS v0
        FROM bts, UNNEST(generate_series(0, m - 1)) AS t(i)),
      sgn AS (
        SELECT doc_id, m, i,
               CASE WHEN v0 >= 32768 THEN v0 - 65536 ELSE v0 END AS v
        FROM sv)
      SELECT doc_id AS media_id, 8000 AS sample_rate, 2 AS channels,
             CAST(m / 2 AS BIGINT) AS n_frames,
             CAST(sum(CASE WHEN i % 2 = 0 THEN v ELSE 0 END) AS BIGINT)
               AS sum_l,
             CAST(sum(CASE WHEN i % 2 = 1 THEN v ELSE 0 END) AS BIGINT)
               AS sum_r,
             CAST(max(abs(v)) AS INTEGER) AS peak
      FROM sgn GROUP BY doc_id, m ORDER BY media_id""")),

    // MM8 — silence / energy profiling over REAL decoded PCM: the audio
    // analog of tx2's text-quality gate — a training pipeline drops or
    // trims clips that are mostly silence. Left-channel samples are cut
    // into 16-sample windows; window energy Σv² stays EXACT in int64, a
    // window below 4e9 is silent, and the longest silent run is a
    // gaps-and-islands scan. The oracle rebuilds the identical samples
    // from the source text (mm6's reconstruction) and replays the same
    // window algebra in SQL, so a decode, windowing, or run-length bug
    // moves a graded integer. Executor-side per partition; the only
    // corpus-grain work is the decode scan itself.
    Q("mm8_wav_silence", (s, dir) =>
      Multimodal.wavSilence(
        Multimodal.wavFromText(t(s, dir, "documents"), "doc_id", "text"))
        .orderBy("media_id"),
      Some("""
      WITH d AS (
        SELECT doc_id, hex(encode(text)) AS hx,
               octet_length(encode(text))
                 - (octet_length(encode(text)) % 2) AS m
        FROM documents WHERE octet_length(encode(text)) >= 2),
      bts AS (
        SELECT doc_id, m,
               list_transform(generate_series(1, m), i ->
                 (strpos('0123456789ABCDEF', substr(hx,
                     CAST(2 * i - 1 AS INTEGER), 1)) - 1) * 16
                 + strpos('0123456789ABCDEF', substr(hx,
                     CAST(2 * i AS INTEGER), 1)) - 1) AS b
        FROM d),
      sv AS (
        SELECT doc_id, m, i,
               b[CAST(i AS INTEGER) + 1]
                 + 256 * ((b[CAST((i + 1) % m AS INTEGER) + 1] * 3 + i)
                          % 256) AS v0
        FROM bts, UNNEST(generate_series(0, m - 1)) AS t(i)
        WHERE i % 2 = 0),
      sgn AS (
        SELECT doc_id, i // 2 AS li,
               CASE WHEN v0 >= 32768 THEN v0 - 65536 ELSE v0 END AS v
        FROM sv),
      tot AS (
        SELECT doc_id, count(*) AS nl,
               sum(CAST(v AS HUGEINT) * v) AS energy_l
        FROM sgn GROUP BY 1),
      en AS (
        SELECT doc_id, li // 16 AS w, count(*) AS c,
               sum(CAST(v AS HUGEINT) * v) AS e
        FROM sgn GROUP BY 1, 2),
      sil AS (
        SELECT doc_id, w FROM en WHERE c = 16 AND e < 4000000000),
      sc AS (SELECT doc_id, count(*) AS s_cnt FROM sil GROUP BY 1),
      mr AS (
        SELECT doc_id, max(cnt) AS max_run FROM (
          SELECT doc_id, g, count(*) AS cnt FROM (
            SELECT doc_id,
                   w - row_number() OVER (PARTITION BY doc_id ORDER BY w)
                     AS g
            FROM sil) GROUP BY doc_id, g) GROUP BY doc_id)
      SELECT t.doc_id AS media_id,
             CAST(t.nl // 16 AS BIGINT) AS n_windows,
             CAST(coalesce(sc.s_cnt, 0) AS BIGINT) AS silent_windows,
             CAST(coalesce(mr.max_run, 0) AS BIGINT) AS max_silent_run,
             CAST(t.energy_l AS BIGINT) AS energy_l
      FROM tot t
      LEFT JOIN sc ON sc.doc_id = t.doc_id
      LEFT JOIN mr ON mr.doc_id = t.doc_id
      ORDER BY media_id""")),

    // DD24 — external cluster-quality metrics for the LSH dup clusters:
    // purity (each cluster's majority truth class) and inverse purity
    // (each truth class's best cluster), with exact byte-identical text
    // groups as ground truth — the evaluation half that dd9 (clusters)
    // and dd23 (blocking recall) don't grade: does transitive LSH
    // closure MERGE documents that aren't actually duplicates? Both
    // numerators are integer max-overlap sums; purity/inverse/F1 are
    // scaled integer divisions — no floats at all. Cost is dd9's
    // component pipeline plus two bounded (cluster × class) aggregates.
    Q("dd24_cluster_purity", (s, dir) => {
      val docs = t(s, dir, "documents")
      val sh = Dedup.shingleMultiset(docs, "doc_id", "text")
      val sig = Dedup.minhashSignatures(sh, "doc_id", bands = 4)
        .localCheckpoint()
      val cc = Components.connectedComponents(
        Dedup.lshCandidatePairs(sig, "doc_id"), "doc_a", "doc_b")
      // class identity only (never emitted): hash128 — whole-text class
      // keys are a corpus-sized universe (r15)
      val assign = docs.select(col("doc_id"),
          Dedup.hash128(col("text")).as("tkey"))
        .join(cc, docs("doc_id") === cc("node"), "left")
        .select(docs("doc_id"),
          coalesce(col("component"), docs("doc_id")).as("cluster_id"),
          col("tkey"))
      val ct = assign.groupBy("cluster_id", "tkey")
        .agg(count(lit(1)).as("cnt"))
        .localCheckpoint() // feeds both max-overlap sums
      val pur = ct.groupBy("cluster_id").agg(max("cnt").as("m"))
        .agg(count(lit(1)).as("n_clusters"), sum("m").as("pnum"))
      val inv = ct.groupBy("tkey").agg(max("cnt").as("m"))
        .agg(count(lit(1)).as("n_classes"), sum("m").as("inum"))
      val n = assign.agg(count(lit(1)).as("n_docs"))
      n.crossJoin(broadcast(pur)).crossJoin(broadcast(inv))
        .selectExpr("n_docs", "n_clusters", "n_classes",
          "pnum * 1000000L div n_docs AS purity_e6",
          "inum * 1000000L div n_docs AS inverse_e6",
          "2L * pnum * inum * 1000000L div ((pnum + inum) * n_docs) " +
            "AS f1_e6")
    }, Some(s"""
      WITH RECURSIVE $MinhashPairsCte,
      edges AS (
        SELECT doc_a AS u, doc_b AS v FROM pairs
        UNION ALL SELECT doc_b, doc_a FROM pairs),
      reach(u, v) AS (
        SELECT doc_id, doc_id FROM documents
        UNION
        SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u),
      comp AS (SELECT u AS doc_id, min(v) AS cluster_id FROM reach GROUP BY u),
      assign AS (
        SELECT d.doc_id, c.cluster_id, md5(d.text) AS tkey
        FROM documents d JOIN comp c ON c.doc_id = d.doc_id),
      ct AS (
        SELECT cluster_id, tkey, count(*) AS cnt
        FROM assign GROUP BY 1, 2),
      pur AS (
        SELECT count(*) AS n_clusters, sum(m) AS pnum FROM (
          SELECT cluster_id, max(cnt) AS m FROM ct GROUP BY 1)),
      inv AS (
        SELECT count(*) AS n_classes, sum(m) AS inum FROM (
          SELECT tkey, max(cnt) AS m FROM ct GROUP BY 1)),
      nn AS (SELECT count(*) AS n_docs FROM assign)
      SELECT CAST(n_docs AS BIGINT) AS n_docs,
             CAST(n_clusters AS BIGINT) AS n_clusters,
             CAST(n_classes AS BIGINT) AS n_classes,
             CAST(pnum * 1000000 // n_docs AS BIGINT) AS purity_e6,
             CAST(inum * 1000000 // n_docs AS BIGINT) AS inverse_e6,
             CAST(2 * pnum * inum * 1000000 // ((pnum + inum) * n_docs)
               AS BIGINT) AS f1_e6
      FROM nn, pur, inv""")),

    // ML14 — chance-corrected gate metrics at the 0.5 decision threshold:
    // the confusion counts plus MCC, balanced accuracy, and Cohen's kappa
    // — the three numbers that stay honest under class imbalance, where
    // ml13's raw precision/recall sweep can look great by majority-class
    // luck. Confusion cells are exact BIGINT sums off ml1's shared scored
    // frame; MCC's four-factor denominator is composed as a PRODUCT OF
    // SQRTS (the BIGINT product overflows at ~n^4) and kappa rides the
    // same floor(1e6·double) move — `div` is avoided on the possibly-
    // NEGATIVE numerators because Spark `div` truncates toward zero while
    // engines with floor-division semantics round down. One aggregate
    // row; cost is ml1's scoring pass.
    Q("ml14_mcc_gate", (s, dir) => {
      val sc = Classifier.logRegScores(t(s, dir, "documents"), "doc_id",
        "text", label = when(col("source") === "src0", 1.0).otherwise(0.0),
        dims = 32, iters = 3, lr = 0.5)
      sc.agg(
          sum(when(col("predicted") && col("label") === 1, 1L)
            .otherwise(0L)).as("tp"),
          sum(when(col("predicted") && col("label") === 0, 1L)
            .otherwise(0L)).as("fp"),
          sum(when(!col("predicted") && col("label") === 1, 1L)
            .otherwise(0L)).as("fn"),
          sum(when(!col("predicted") && col("label") === 0, 1L)
            .otherwise(0L)).as("tn"))
        .selectExpr("tp", "fp", "fn", "tn",
          "CASE WHEN (tp + fp) * (tp + fn) = 0 OR " +
            "(tn + fp) * (tn + fn) = 0 THEN 0L ELSE " +
            "CAST(floor(1.0e6 * (CAST(tp * tn - fp * fn AS DOUBLE) / " +
            "(sqrt(CAST(tp + fp AS DOUBLE)) * " +
            "sqrt(CAST(tp + fn AS DOUBLE)) * " +
            "sqrt(CAST(tn + fp AS DOUBLE)) * " +
            "sqrt(CAST(tn + fn AS DOUBLE))))) AS BIGINT) END AS mcc_e6",
          "CASE WHEN tp + fn = 0 OR tn + fp = 0 THEN 0L ELSE " +
            "CAST(floor(1.0e6 * 0.5 * (CAST(tp AS DOUBLE) / (tp + fn) + " +
            "CAST(tn AS DOUBLE) / (tn + fp))) AS BIGINT) END AS bal_acc_e6",
          "CASE WHEN (tp + fp) * (fp + tn) + (tp + fn) * (fn + tn) = 0 " +
            "THEN 0L ELSE " +
            "CAST(floor(1.0e6 * (CAST(2 * (tp * tn - fp * fn) AS DOUBLE) / " +
            "CAST((tp + fp) * (fp + tn) + (tp + fn) * (fn + tn) " +
            "AS DOUBLE))) AS BIGINT) END AS kappa_e6")
    }, Some(s"""
      WITH $MlScoredCte,
      conf AS (
        SELECT sum(CASE WHEN predicted AND label = 1 THEN 1 ELSE 0 END)
                 AS tp,
               sum(CASE WHEN predicted AND label = 0 THEN 1 ELSE 0 END)
                 AS fp,
               sum(CASE WHEN NOT predicted AND label = 1 THEN 1 ELSE 0 END)
                 AS fn,
               sum(CASE WHEN NOT predicted AND label = 0 THEN 1 ELSE 0 END)
                 AS tn
        FROM mlscored)
      SELECT CAST(tp AS BIGINT) AS tp, CAST(fp AS BIGINT) AS fp,
             CAST(fn AS BIGINT) AS fn, CAST(tn AS BIGINT) AS tn,
             CASE WHEN (tp + fp) * (tp + fn) = 0 OR
                       (tn + fp) * (tn + fn) = 0 THEN CAST(0 AS BIGINT) ELSE
               CAST(floor(1.0e6 * (CAST(tp * tn - fp * fn AS DOUBLE) /
                 (sqrt(CAST(tp + fp AS DOUBLE)) *
                  sqrt(CAST(tp + fn AS DOUBLE)) *
                  sqrt(CAST(tn + fp AS DOUBLE)) *
                  sqrt(CAST(tn + fn AS DOUBLE))))) AS BIGINT) END AS mcc_e6,
             CASE WHEN tp + fn = 0 OR tn + fp = 0 THEN CAST(0 AS BIGINT) ELSE
               CAST(floor(1.0e6 * 0.5 * (CAST(tp AS DOUBLE) / (tp + fn) +
                 CAST(tn AS DOUBLE) / (tn + fp))) AS BIGINT) END
               AS bal_acc_e6,
             CASE WHEN (tp + fp) * (fp + tn) + (tp + fn) * (fn + tn) = 0
               THEN CAST(0 AS BIGINT) ELSE
               CAST(floor(1.0e6 * (CAST(2 * (tp * tn - fp * fn) AS DOUBLE) /
                 CAST((tp + fp) * (fp + tn) + (tp + fn) * (fn + tn)
                 AS DOUBLE))) AS BIGINT) END AS kappa_e6
      FROM conf""")),

    // DD26 — band-agreement spectrum of the LSH candidate set: for every
    // dd2 candidate pair, in HOW MANY of the 4 bands do the signatures
    // collide — the vote histogram that says whether the S-curve is
    // operating at its cliff (most pairs collide in exactly 1 band ⟹
    // threshold-marginal candidates) or saturated (4-band agreement ⟹
    // near-identical docs dd17's curve places far above threshold). Same
    // self-join as dd2 but keeping the per-pair band COUNT before
    // distinct-ing it away; all integer counts + one scaled share.
    Q("dd26_band_agreement", (s, dir) => {
      val sig = Dedup.minhashSignatures(
        Dedup.shingleMultiset(t(s, dir, "documents"), "doc_id", "text"),
        "doc_id", bands = 4)
        .localCheckpoint() // both sides of the band join
      val a = sig.select(col("doc_id").as("doc_a"), col("band"), col("mh"))
      val b = sig.select(col("doc_id").as("doc_b"), col("band"), col("mh"))
      val votes = a.join(b, Seq("band", "mh"))
        .filter(col("doc_a") < col("doc_b"))
        .groupBy("doc_a", "doc_b").agg(count(lit(1)).as("votes"))
      val hist = votes.groupBy("votes").agg(count(lit(1)).as("n_pairs"))
      hist.crossJoin(broadcast(
          hist.agg(sum("n_pairs").as("total_pairs"))))
        .selectExpr("votes", "n_pairs", "total_pairs",
          "n_pairs * 1000000L div total_pairs AS share_e6")
        .orderBy("votes")
    }, Some(s"""
      WITH ${shingleCte("")},
      sig AS (
        SELECT doc_id, band, min(substr(md5(sh), band * 8 + 1, 8)) AS mh
        FROM sh, UNNEST([0, 1, 2, 3]) AS b(band)
        GROUP BY doc_id, band),
      pv AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS votes
        FROM sig a JOIN sig b
          ON a.band = b.band AND a.mh = b.mh AND a.doc_id < b.doc_id
        GROUP BY 1, 2),
      hist AS (SELECT votes, count(*) AS n_pairs FROM pv GROUP BY 1),
      tp AS (SELECT sum(n_pairs) AS total_pairs FROM hist)
      SELECT CAST(h.votes AS BIGINT) AS votes,
             CAST(h.n_pairs AS BIGINT) AS n_pairs,
             CAST(t.total_pairs AS BIGINT) AS total_pairs,
             CAST(h.n_pairs * 1000000 // t.total_pairs AS BIGINT)
               AS share_e6
      FROM hist h, tp t ORDER BY votes""")),

    // IX6 — SymSpell spell suggestions: distance-≤1 vocabulary matches
    // for probe terms via the DELETE-VARIANT index — match iff probe =
    // term, term ∈ deletes(probe), or probe ∈ deletes(term); never the
    // delete∩delete case (that's distance 2). The scale trick IS the
    // query shape: the vocabulary explodes to O(len) delete keys ONCE
    // (an index build), each lookup touches only its own O(len) keys —
    // no scan of the vocabulary per probe, no quadratic edit-distance
    // sweep; dist is re-verified with levenshtein() on the few
    // candidates. Probes: 'mergee' (insert), 'sor' (delete), 'zzz'
    // (no match, drops out).
    Q("ix6_symspell_suggest", (s, dir) => {
      import s.implicits._
      val vocab = t(s, dir, "documents")
        .select(explode(split(col("text"), " ")).as("term"))
        .groupBy("term").agg(count(lit(1)).as("freq"))
        .localCheckpoint() // feeds self keys + delete keys
      def deletes(df: org.apache.spark.sql.DataFrame, c: String) = df
        .select(col(c), explode(sequence(lit(1), length(col(c))))
          .as("i"))
        // substr via SQL — functions.substring only takes literal ints
        .selectExpr(c,
          s"concat(substr($c, 1, i - 1), substr($c, i + 1, 1000)) AS key")
      val probes = Seq("mergee", "sor", "zzz").toDF("probe")
      val pKeys = probes.select(col("probe"), col("probe").as("key"),
          lit(true).as("pself"))
        .unionByName(deletes(probes, "probe")
          .select(col("probe"), col("key"), lit(false).as("pself")))
      val vKeys = vocab.select(col("term"), col("term").as("key"),
          lit(true).as("vself"))
        .unionByName(deletes(vocab.select("term"), "term")
          .select(col("term"), col("key"), lit(false).as("vself")))
      pKeys.join(vKeys, "key")
        .filter(col("pself") || col("vself"))
        .select("probe", "term").distinct()
        .join(vocab, "term")
        .select(col("probe"), col("term"), col("freq"),
          levenshtein(col("probe"), col("term")).cast("long").as("dist"))
        .orderBy("probe", "term")
    }, Some("""
      WITH vocab AS (
        SELECT term, count(*) AS freq FROM (
          SELECT unnest(string_split(text, ' ')) AS term FROM documents)
        GROUP BY term),
      probes AS (SELECT unnest(['mergee', 'sor', 'zzz']) AS probe),
      pk AS (
        SELECT probe, probe AS key, true AS pself FROM probes
        UNION ALL
        SELECT probe, substr(probe, 1, i - 1) || substr(probe, i + 1, 1000)
               AS key, false
        FROM probes, UNNEST(generate_series(1, len(probe))) AS t(i)),
      vk AS (
        SELECT term, term AS key, true AS vself FROM vocab
        UNION ALL
        SELECT term, substr(term, 1, i - 1) || substr(term, i + 1, 1000)
               AS key, false
        FROM vocab, UNNEST(generate_series(1, len(term))) AS t(i)),
      cand AS (
        SELECT DISTINCT pk.probe, vk.term
        FROM pk JOIN vk ON vk.key = pk.key
        WHERE pk.pself OR vk.vself)
      SELECT c.probe, c.term, CAST(v.freq AS BIGINT) AS freq,
             CAST(levenshtein(c.probe, c.term) AS BIGINT) AS dist
      FROM cand c JOIN vocab v ON v.term = c.term
      ORDER BY c.probe, c.term""")),

    // ML15 — Kolmogorov–Smirnov discrimination of ml1's classifier:
    // max |CDF_pos − CDF_neg| over the score axis — the threshold-free
    // separation statistic credit models report alongside AUC (ml9),
    // with the argmax score being the natural operating threshold. The
    // sup runs over DISTINCT scores with both CDFs as cumulative windows,
    // and the comparison is EXACT integer cross-multiplication
    // (|cpos·nn − cneg·np|) — no float CDFs, so the argmax and the
    // statistic both hash-grade. Deterministic tie-break: smallest score.
    Q("ml15_score_ks", (s, dir) => {
      val sc = Classifier.logRegScores(t(s, dir, "documents"), "doc_id",
        "text", label = when(col("source") === "src0", 1.0).otherwise(0.0),
        dims = 32, iters = 3, lr = 0.5)
        .select(col("score"), col("label"))
      val perScore = sc.groupBy("score")
        .agg(sum(when(col("label") === 1, 1L).otherwise(0L)).as("p"),
          sum(when(col("label") === 0, 1L).otherwise(0L)).as("q"))
      val w = Window.orderBy("score")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val tot = perScore.agg(sum("p").as("np"), sum("q").as("nq"))
      perScore
        .select(col("score"), sum("p").over(w).as("cp"),
          sum("q").over(w).as("cq"))
        .crossJoin(broadcast(tot))
        .selectExpr("score", "np", "nq",
          "abs(cp * nq - cq * np) AS num")
        .orderBy(col("num").desc, col("score"))
        .limit(1)
        .selectExpr("np AS n_pos", "nq AS n_neg",
          "score AS ks_threshold",
          "num * 1000000L div (np * nq) AS ks_e6")
    }, Some(s"""
      WITH $MlScoredCte,
      ps AS (
        SELECT score,
               sum(CASE WHEN label = 1 THEN 1 ELSE 0 END) AS p,
               sum(CASE WHEN label = 0 THEN 1 ELSE 0 END) AS q
        FROM mlscored GROUP BY score),
      tot AS (SELECT sum(p) AS np, sum(q) AS nq FROM ps),
      cum AS (
        SELECT score,
               sum(p) OVER (ORDER BY score ROWS BETWEEN UNBOUNDED
                 PRECEDING AND CURRENT ROW) AS cp,
               sum(q) OVER (ORDER BY score ROWS BETWEEN UNBOUNDED
                 PRECEDING AND CURRENT ROW) AS cq
        FROM ps),
      d AS (
        SELECT score, t.np, t.nq, abs(cp * t.nq - cq * t.np) AS num
        FROM cum, tot t)
      SELECT CAST(np AS BIGINT) AS n_pos, CAST(nq AS BIGINT) AS n_neg,
             score AS ks_threshold,
             CAST(num * 1000000 // (np * nq) AS BIGINT) AS ks_e6
      FROM d ORDER BY num DESC, score LIMIT 1"""))
  )
}
