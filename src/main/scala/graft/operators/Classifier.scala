package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Trained quality classifier — the fastText/DCLM shape every modern
  * curation pipeline runs: logistic regression over hashed token-count
  * features, trained full-batch for a FIXED number of gradient steps and
  * then scored over the whole corpus. Model quality is whatever the
  * labels make of it; what this operator pins down is the distributed
  * TRAINING loop as exact, deterministic dataframe arithmetic:
  *
  *  - **fast sigmoid** `0.5 + 0.5·z/(1+|z|)` instead of `1/(1+exp(−z))`:
  *    algebraic (one IEEE division), so every engine computes the
  *    bit-identical value — `exp` is libm-dependent and would let the
  *    oracle drift by an ulp.
  *  - **grid-quantized gradient terms**: each per-doc contribution is
  *    snapped to the 2⁻²⁰ grid (`floor(r·x·2²⁰ + ½)/2²⁰`, magnitudes
  *    ≤ 2⁷), so partial sums stay exactly representable and the
  *    accumulated gradient is IDENTICAL under any partition layout or
  *    merge order — the determinism trick data-parallel training uses,
  *    here buying a hash-exact DuckDB oracle (ml1) for a trained model.
  *
  * Scale shape: the model (dims doubles) lives on the driver like
  * [[Similarity.trainCentroids]]' centroids — per step one broadcast-in-
  * literal pass over the corpus and one mergeable
  * [[graft.expressions.VecSumAgg]]; no per-row driver work, no shuffle
  * beyond the feature build's two token aggregations. Features hash
  * tokens into `dims` counts with emb1's binning (md5 first-8-hex), so
  * the feature build is scan-side and the dense vector is map-assembled
  * per doc, never a dims-row join at scale.
  */
object Classifier {

  private val Pow = 1048576.0 // 2^20 — the gradient grid

  /** Per-doc dense hashed-count features: (idCol, y, x[dims]). */
  def hashedFeatures(docs: DataFrame, idCol: String, textCol: String,
                     label: Column, dims: Int): DataFrame = {
    val tf = docs
      .select(col(idCol), explode(Dedup.tokens(col(textCol))).as("tok"))
      .groupBy(col(idCol), col("tok")).agg(count(lit(1)).as("tf"))
      .withColumn("bucket",
        (conv(substring(md5(col("tok").cast("binary")), 1, 8), 16, 10)
          .cast("long") % dims).cast("int"))
    val packed = tf.groupBy(col(idCol), col("bucket"))
      .agg(sum(col("tf")).cast("double").as("cnt"))
      .groupBy(col(idCol))
      .agg(map_from_entries(collect_list(struct(col("bucket"), col("cnt"))))
        .as("__m"))
    docs.select(col(idCol), label.cast("double").as("y"))
      .join(packed, Seq(idCol), "left")
      .select(col(idCol), col("y"),
        transform(sequence(lit(0), lit(dims - 1)), d =>
          coalesce(element_at(col("__m"), d.cast("int")), lit(0.0))).as("x"))
  }

  /** The algebraic sigmoid (see object doc). */
  private def fastSigmoid(z: Column): Column =
    lit(0.5) + lit(0.5) * z / (lit(1.0) + abs(z))

  /** Train `iters` full-batch gradient steps from w=0, then score every
    * document: (idCol, score, prob, predicted, label). `label` must be a
    * 0/1 expression over `docs`' columns. */
  def logRegScores(docs: DataFrame, idCol: String, textCol: String,
                   label: Column, dims: Int = 32, iters: Int = 3,
                   lr: Double = 0.5): DataFrame = {
    require(dims > 0 && iters >= 0, s"bad dims=$dims iters=$iters")
    // the feature frame feeds iters+1 passes
    val f = hashedFeatures(docs, idCol, textCol, label, dims)
      .localCheckpoint()
    val n = f.count().toDouble
    var w = Array.fill(dims)(0.0)
    var k = 0
    while (k < iters) {
      val wc = array(w.map(lit).toIndexedSeq: _*)
      val z = graft.expressions.VecFns.dot(wc, col("x"))
      val r = fastSigmoid(z) - col("y")
      val term = transform(col("x"), xi =>
        floor(r * xi * lit(Pow) + lit(0.5)) / lit(Pow))
      val g = f.select(term.as("__t"))
        .agg(graft.expressions.VecFns.vecSum(col("__t")).as("__g"))
        .head().getSeq[Double](0)
      // driver-side model update over dims doubles — same left-to-right
      // association as the oracle's (lr * g[j]) / n
      w = Array.tabulate(dims)(j => w(j) - lr * g(j) / n)
      k += 1
    }
    val wc = array(w.map(lit).toIndexedSeq: _*)
    val z = graft.expressions.VecFns.dot(wc, col("x"))
    val s = fastSigmoid(z)
    f.select(col(idCol), round(z, 6).as("score"),
      round(s, 6).as("prob"), (s >= 0.5).as("predicted"),
      col("y").cast("int").as("label"))
  }

  /** Classifier-gated corpus selection — the FineWeb-Edu / DCLM curation
    * step: train (via [[logRegScores]]), score every document, keep the
    * top `keepFraction` by score. The top-fraction cut does NOT sort the
    * corpus: the threshold comes from [[Quantiles.histQuantiles]]' bounded
    * 256-cell mergeable score histogram (one aggregation over the data,
    * windows over bins only), then broadcasts back as a 1-row scalar gate.
    * Kept mass is `keepFraction` to within one bin's granularity — the
    * honest price of the sort-free plan, and the same trade every
    * histogram-thresholded production selector makes.
    *
    * Output: (idCol, score, prob, label, thr) for kept docs. */
  def classifierGate(docs: DataFrame, idCol: String, textCol: String,
                     label: Column, keepFraction: Double = 0.25,
                     dims: Int = 32, iters: Int = 3, lr: Double = 0.5,
                     lo: Double = -8.0, hi: Double = 8.0,
                     nBins: Int = 256): DataFrame = {
    require(keepFraction > 0.0 && keepFraction < 1.0,
      s"keepFraction must be in (0, 1), got $keepFraction")
    // scored feeds the histogram AND the gate — materialize once
    val scored = logRegScores(docs, idCol, textCol, label, dims, iters, lr)
      .localCheckpoint()
    val thr = Quantiles.histQuantiles(scored, "score", lo, hi, nBins,
      qs = Seq(1.0 - keepFraction)).select(col("est").as("thr"))
    scored.crossJoin(broadcast(thr))
      .filter(col("score") >= col("thr"))
      .select(col(idCol), col("score"), col("prob"), col("label"),
        col("thr"))
  }

  /** Reliability-diagram calibration audit over a scored output
    * ([[logRegScores]] shape): bucket predicted probability into `nBins`
    * equal bins and compare the mean prediction against the observed
    * positive rate per bin — the per-bin |gap| is what a production gate
    * monitors before trusting the scores as probabilities. One mergeable
    * aggregation over the scores; state is `nBins` rows. */
  def calibrationBins(scored: DataFrame, probCol: String = "prob",
                      labelCol: String = "label",
                      nBins: Int = 10): DataFrame =
    scored.withColumn("bin",
        least(floor(col(probCol) * nBins).cast("int"), lit(nBins - 1)))
      .groupBy("bin")
      .agg(count(lit(1)).as("n"),
        round(avg(col(probCol)), 6).as("mean_prob"),
        round(avg(col(labelCol).cast("double")), 6).as("pos_rate"))
      .withColumn("gap", round(abs(col("mean_prob") - col("pos_rate")), 6))

  /** Mean log-loss of the scored output under the fast sigmoid — the
    * objective the spec gates monotone improvement on. Clamped away from
    * 0/1 so the log stays finite. */
  def meanLogLoss(scored: DataFrame): Double = {
    val p = least(greatest(col("prob"), lit(1e-9)), lit(1.0 - 1e-9))
    scored.agg(avg(
      -(col("label") * log(p) + (lit(1.0) - col("label")) * log(lit(1.0) - p))
    ).as("ll")).head().getDouble(0)
  }
}
