package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.operators.{TextAnalysis => TA}

/** The full production curation superset (pipe10): every curation stage the
  * engine implements, composed in the order a real pretraining-data run
  * applies them —
  *
  *   1. Gopher rule gate (tx11's rules)
  *   2. segment-level exact dedup, hollowed-out docs dropped (dd11)
  *   3. URL canonicalization dedup (dd12's planted messy URLs)
  *   4. whole-document exact dedup on the CLEANED text (dd1)
  *   5. transitive MinHash-LSH cluster dedup — connected components over
  *      the candidate graph, min-id representative survives (dd2 + dd9)
  *   6. decontamination against the held-out eval slice (tx7)
  *   7. temperature-scaled source mixing (sa4) + salted split label (sa1)
  *   8. sequence packing over the final kept set (ck2)
  *
  * Each stage consumes the previous stage's survivors, so the composition
  * grades every stage's drop/keep decision through one hash. pipe6/8/9
  * each graded a subset of these stages; this is the superset.
  *
  * Scale shape: the composition inherits each stage's own 100 TB posture
  * (hash-bucket windows, candidate-restricted equi-joins, broadcast eval
  * shingles, tiny mixture aggregates, two-level pack prefix sum) — no
  * stage introduces a join or shuffle the standalone operator doesn't
  * have. Stage outputs that feed multiple consumers (or an iterative
  * stage) are pinned, so no stage's lineage replays an earlier stage's
  * work.
  *
  * [[stages]] exposes the cumulative survivor frame after every stage for
  * per-stage wall attribution (recorded in SCALE.md "pipe10 (round 10)").
  */
object CurationPipeline {

  /** (stageName, survivors-after-stage), in pipeline order. `docs` must
    * have doc_id, source, text; the eval slice (doc_id % 41 == 0) is held
    * out of the corpus and used as the decontamination reference. */
  def stages(docs: DataFrame): Seq[(String, DataFrame)] = {
    val base = docs.filter(col("doc_id") % 41 =!= 0)
    // 1. Gopher gate — applied as a FILTER (the rules are per-row
    // expressions), not the old gate-frame self-join: one scan, zero
    // exchanges, identical survivors (r15, guide §2.4)
    val gated = TA.gopherFilter(base, "text")
      .select(col("doc_id"), col("source"), col("text"))
      .localCheckpoint()
    // 2. segment dedup; docs hollowed to zero surviving segments drop.
    // `source` rides the reassembly join (carry) instead of a second
    // corpus join on doc_id (r15)
    val seg = Dedup.segmentDedupText(gated, "doc_id", "text", segTokens = 20,
        carry = Seq("source"))
      .filter(col("kept_segs") > 0)
    // 3. URL canonicalization dedup (dd12's planted messy URLs: scheme /
    // WWW case noise, utm_ params, per-doc cache-buster; min-id survives
    // per canonical URL)
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
    // 4. whole-document exact dedup on the cleaned text (internal group
    // key only — hash128: the whole-text key universe is corpus-sized,
    // where a 64-bit collision silently drops a distinct doc; r15)
    val exact = urlKept
      .withColumn("__h", Dedup.hash128(col("text_clean")))
      .withColumn("__m", min(col("doc_id")).over(Window.partitionBy("__h")))
      .filter(col("doc_id") === col("__m")).drop("__h", "__m")
      .localCheckpoint()
    // 5. transitive LSH-cluster dedup: only cluster representatives (the
    // min-id node, which connectedComponents never lists as a non-root)
    // survive the anti-join
    val sig = Dedup.minhashSignatures(
      Dedup.shingleMultiset(exact, "doc_id", "text_clean"),
      "doc_id", bands = 4)
      .localCheckpoint()
    val cc = Components.connectedComponents(
      Dedup.lshCandidatePairs(sig, "doc_id"), "doc_a", "doc_b")
    val reps = exact.join(cc, exact("doc_id") === cc("node"), "left_anti")
      .localCheckpoint()
    // 6. decontamination: any 5-gram shared with the eval slice drops the doc
    val cont = Dedup.contaminationOverlap(
      reps.select(col("doc_id"), col("text_clean").as("text")),
      docs.filter(col("doc_id") % 41 === 0), "doc_id", "text", n = 5)
    val clean = reps.join(cont.select("doc_id"), Seq("doc_id"), "left_anti")
      .localCheckpoint()
    // 7. temperature mix + split; the split hash is salted differently
    // from the mix hash (pipe8's rationale: one fraction for two
    // keep/route decisions would correlate them)
    val mixed = Sampling.temperatureMix(clean,
      col("doc_id").cast("string"), col("source"), alpha = 0.5,
      targetTotal = 200)
      .select(col("doc_id"), col("source"), col("kept_segs"),
        col("text_clean"), col("keep_p"),
        Sampling.splitLabel(
          concat(lit("split:"), col("doc_id").cast("string"))).as("split"))
      .localCheckpoint()
    // 8. sequence packing over the final kept set
    val packed = Chunking.packAssignments(mixed, "doc_id", "text_clean",
      capacity = 2048)
    val out = mixed.join(packed, "doc_id")
      .select(col("doc_id"), col("source"), col("kept_segs"), col("keep_p"),
        col("split"), col("n_tokens"), col("start_off"), col("pack_id"),
        col("spans_boundary"))
    Seq(
      "1_gopher_gate" -> gated,
      "2_segment_dedup" -> seg,
      "3_url_dedup" -> urlKept,
      "4_exact_dedup" -> exact,
      "5_lsh_components" -> reps,
      "6_decontaminate" -> clean,
      "7_mix_split" -> mixed,
      "8_pack" -> out)
  }

  /** The composed pipeline output (survivors with mixture probability,
    * split label, and pack assignment). */
  def full(docs: DataFrame): DataFrame = stages(docs).last._2
}
