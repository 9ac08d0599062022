package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.operators.{BpeTokenizer, Chunking, Components, Dedup, HashMode, Indexing, Similarity, TextAnalysis}

/** Scale-sweep smoke: runs the heavy LLM-layer operators on the documents
  * corpus at 1× and on a 10× synthetic enlargement, and reports the wall
  * ratio per operator. The enlargement tags every token per copy
  * (`regexp_replace`), so the 10 copies are semantically DISTINCT documents
  * — the corpus is genuinely 10× more data, not 10 collisions of the same
  * data — which makes a super-linear ratio (≫ 10×) a red flag for a
  * data-dependent quadratic (hot LSH buckets, candidate-pair blowups) that
  * a fixed-SF bench cannot see. Both corpora are materialized eagerly
  * before timing so synthesis cost stays outside the measurement.
  *
  * A second, duplication-PRESERVING enlargement (`x10dup`: one suffix tag
  * token per copy, so copies share their substrings/shingles) drives the
  * two output-shaped operators the token-tagged corpus zeroes out: dd10's
  * fingerprint join/cap and tx7's contamination overlap only produce rows
  * when duplication is real, and real duplicated data is exactly what
  * copies-sharing-substrings looks like. dd10's stop-fingerprint cap
  * scales with the copy factor there — the cap is a corpus-fraction knob
  * (like a stopword df threshold), so a fixed absolute df at 10× data
  * would be 10× stricter, not the same filter.
  *
  * `runMain graft.ScaleSweep [sfDir] [mode] [onlyCsv]`, mode one of:
  *  - `llm` (default): the LLM-layer operators below, then the
  *    duplication-preserving section; `onlyCsv` filters to the named ops;
  *  - `dup`: only the duplication-preserving section;
  *  - `inc`: dd13's store-at-rest incremental screen (store signatures
  *    materialized untimed, the batch join timed);
  *  - `vec`: the vector family on perturbed embedding copies;
  *  - `pipe`: [[graft.operators.CurationPipeline]] per-stage walls;
  *  - `graph`, `behavior`, `skew`, `prefix`: see [[SweepExtras]].
  * The copy factor is SPARK_GRAFT_SWEEP_FACTOR (default 10; 30 gives a
  * second scaling interval). Results recorded in SCALE.md.
  */
object ScaleSweep {

  /** Best of two runs of `thunk` (wall seconds) and its row count. */
  private[graft] def time(thunk: () => Long): (Double, Long) = {
    var best = Double.MaxValue; var rows = 0L
    (1 to 2).foreach { _ =>
      val t0 = System.nanoTime()
      rows = thunk()
      best = math.min(best, (System.nanoTime() - t0) / 1e9)
    }
    (best, rows)
  }

  private[graft] def header(factor: Int): Unit =
    println(f"${"op"}%-20s ${"t1x"}%8s ${s"t${factor}x"}%8s ${"ratio"}%6s  rows1x/rows${factor}x")

  private[graft] def row(name: String, t1: Double, r1: Long,
                         tN: Double, rN: Long): Unit =
    println(f"$name%-20s $t1%8.2f $tN%8.2f ${tN / t1}%6.1f  $r1/$rN")

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse(
      sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    val spark = Session.local()
    spark.sparkContext.setLogLevel("WARN")

    val mode = args.drop(1).headOption.getOrElse("llm")
    // fail fast on a typo'd mode: an unrecognized argument must not fall
    // through the guards below and silently run only the tail sections
    require(Set("llm", "dup", "inc", "vec", "pipe",
        "graph", "behavior", "skew", "prefix").contains(mode),
      s"unknown mode '$mode' (expected llm|dup|inc|vec|pipe|graph|behavior|skew|prefix)")
    val only = args.drop(2).headOption.map(_.split(",").toSet)
    val factor = sys.env.getOrElse("SPARK_GRAFT_SWEEP_FACTOR", "10").toInt
    require(factor >= 2, s"sweep factor must be >= 2, got $factor")
    // round-12 modes (VERDICT r11 items 4/5) live in SweepExtras
    if (mode == "graph") {
      SweepExtras.runGraph(spark, sfDir, factor, only); spark.stop(); return
    }
    if (mode == "behavior") {
      SweepExtras.runBehavior(spark, sfDir, factor, only); spark.stop(); return
    }
    if (mode == "skew") {
      SweepExtras.runSkew(spark, sfDir, factor); spark.stop(); return
    }
    if (mode == "prefix") {
      SweepExtras.runPrefix(spark, sfDir, factor, only); spark.stop(); return
    }

    if (mode == "pipe") {
      // pipe10 per-stage wall attribution: stage outputs checkpoint
      // lazily, so counting the cumulative survivor frames IN ORDER
      // isolates each stage's marginal cost — by the time stage k is
      // timed, its inputs are already materialized. (Stages without a
      // checkpoint of their own — url dedup, the final pack join — fold
      // their window/join into the next timed row.)
      val docs = spark.read.parquet(s"$sfDir/documents.parquet")
        .select(col("doc_id"), col("source"), col("text"))
        .repartition(spark.sparkContext.defaultParallelism)
        .localCheckpoint(eager = true)
      println(f"${"stage"}%-20s ${"wall_s"}%8s ${"rows"}%10s")
      graft.operators.CurationPipeline.stages(docs).foreach {
        case (name, df) =>
          val t0 = System.nanoTime()
          val rows = df.count()
          println(
            f"$name%-20s ${(System.nanoTime() - t0) / 1e9}%8.2f $rows%10d")
      }
      spark.stop()
      return
    }

    val base = spark.read.parquet(s"$sfDir/documents.parquet")
      .select(col("doc_id"), col("text"))
      .repartition(spark.sparkContext.defaultParallelism)
      .localCheckpoint(eager = true)

    val evalDocs = base.filter(col("doc_id") % 41 === 0)

    // fixed tokenizer for the tok2 apply-only row, trained untimed at 1×
    lazy val tokMerges = BpeTokenizer.trainMerges(base, "text", ranks = 6)
      .orderBy("merge_rank").collect()
      .map(r => (r.getString(1), r.getString(2))).toSeq

    val ops: Seq[(String, DataFrame => DataFrame)] = Seq(
      "dd1_exact" -> (d => Dedup.exactDupFlags(d, "doc_id", "text")),
      "dd2_minhash_lsh" -> { d =>
        val sh = Dedup.shingleMultiset(d, "doc_id", "text")
        Dedup.lshCandidatePairs(
          Dedup.minhashSignatures(sh, "doc_id", bands = 4), "doc_id")
      },
      "dd3_jaccard" -> { d =>
        val sh = Dedup.shingleSet(d, "doc_id", "text")
          .localCheckpoint(eager = false)
        val sig = Dedup.minhashSignatures(sh, "doc_id", bands = 1)
        Dedup.jaccardOnCandidates(
          Dedup.lshCandidatePairs(sig, "doc_id"), sh, "doc_id")
      },
      "dd4_simhash" -> (d => Dedup.simhash32(d, "doc_id", "text")),
      "dd6_neardup" -> (d =>
        Dedup.nearDupPairs(d, "doc_id", "text", threshold = 0.5)),
      "dd7_simhash_pairs" -> (d =>
        Dedup.simhashNearDupPairs(d, "doc_id", "text")),
      "dd7b_simhash64" -> (d =>
        Dedup.simhashNearDupPairs(d, "doc_id", "text", bits = 64)),
      "tx5_winnow_md5" -> (d =>
        TextAnalysis.winnowingFingerprints(d, "doc_id", "text")),
      "tx5b_winnow_xx" -> (d =>
        TextAnalysis.winnowingFingerprints(d, "doc_id", "text",
          mode = HashMode.XxHash64)),
      "tx6_repetition" -> (d =>
        TextAnalysis.repetitionSignals(d, "doc_id", "text")),
      "tx7_contamination" -> (d =>
        Dedup.contaminationOverlap(d, evalDocs, "doc_id", "text", n = 5)),
      // source proxy: doc_id % 20 (the sweep corpus drops the source col)
      "dd8_cross_source" -> (d =>
        Dedup.crossSourceDupMatrix(
          d.withColumn("src", concat(lit("s"), col("doc_id") % 20)),
          "doc_id", "text", "src", prefixTokens = Some(5))),
      "tx9_top_ngrams" -> (d =>
        TextAnalysis.topNgrams(
          d.withColumn("grp", concat(lit("g"), col("doc_id") % 5)),
          "text", "grp", n = 3, k = 10)),
      // iterative: rounds run inside the timed window (the checksum action
      // per round is part of the operator's real cost)
      "dd9_components" -> { d =>
        val sh = Dedup.shingleMultiset(d, "doc_id", "text")
        val sig = Dedup.minhashSignatures(sh, "doc_id", bands = 4)
          .localCheckpoint(eager = false)
        Components.connectedComponents(
          Dedup.lshCandidatePairs(sig, "doc_id"), "doc_a", "doc_b")
      },
      "tx10_tfidf" -> (d =>
        TextAnalysis.tfidfTopTerms(d, "doc_id", "text", k = 3)),
      "tx11_rules" -> (d => TextAnalysis.gopherRules(d, "doc_id", "text")),
      "ix1_inv_index" -> (d => Indexing.invertedIndex(d, "doc_id", "text")),
      "ck1_chunks" -> (d => Chunking.tokenChunks(d, "doc_id", "text")),
      "ck2_packing" -> (d => Chunking.packAssignments(d, "doc_id", "text")),
      "dd10_fp_matches" -> (d =>
        TextAnalysis.fingerprintMatchPairs(d, "doc_id", "text",
          minShared = 10, maxDf = 20)),
      "tx13_unigram_lp" -> (d =>
        TextAnalysis.unigramLogProb(d, "doc_id", "text")),
      // trainer: the 6-rank driver loop (pair-count aggs + 1-row argmax
      // collects) runs INSIDE the timed window — that loop is the operator
      "tok1_train" -> (d => BpeTokenizer.trainMerges(d, "text", ranks = 6)),
      // apply-only, production shape: a FIXED merge table (trained on the
      // 1× corpus untimed) tokenizes whatever corpus arrives
      "tok2_tokenize" -> { d =>
        BpeTokenizer.tokenizeDigest(d, "doc_id", "text", tokMerges) },
      "tx14_bigram_lp" -> (d =>
        TextAnalysis.bigramLogProb(d, "doc_id", "text")),
      "dd11_segment" -> (d =>
        Dedup.segmentDedup(d, "doc_id", "text")),
      "dd16_dup_spans" -> (d =>
        Dedup.duplicatedSpans(d, "doc_id", "text")),
      "dd14_containment" -> { d =>
        val sh = Dedup.shingleSet(d, "doc_id", "text")
          .localCheckpoint(eager = false)
        val sig = Dedup.minhashSignatures(sh, "doc_id", bands = 4)
        Dedup.containmentOnCandidates(
          Dedup.lshCandidatePairs(sig, "doc_id"), sh, "doc_id")
      },
      "emb1_hashing" -> (d =>
        TextAnalysis.hashingEmbedding(d, "doc_id", "text")),
      // label proxy: doc_id % 20 (the sweep corpus drops the source col)
      "ml1_logreg" -> (d =>
        graft.operators.Classifier.logRegScores(d, "doc_id", "text",
          when(col("doc_id") % 20 === 0, 1.0).otherwise(0.0))),
      "ml2_clf_gate" -> (d =>
        graft.operators.Classifier.classifierGate(d, "doc_id", "text",
          when(col("doc_id") % 20 === 0, 1.0).otherwise(0.0),
          keepFraction = 0.25, lo = -64.0, hi = 0.0)),
      "tx15_ppl_buckets" -> (d =>
        TextAnalysis.perplexityBuckets(d, "doc_id", "text",
          lo = -8.0, hi = 0.0, nBins = 4096)),
      "sa5_shard_shuffle" -> (d =>
        graft.operators.Sampling.shardShuffle(d,
          col("doc_id").cast("string"), nShards = 16)),
      // source proxy as in dd8 (sweep corpus drops the source column)
      "cs2_psi" -> (d =>
        TextAnalysis.sourceDriftPsi(
          d.withColumn("src", concat(lit("s"), col("doc_id") % 20)),
          "src", "text")),
      // NAIVE incremental dedup: store signatures recomputed inside the
      // timed window — the anti-pattern dd13's design claim is measured
      // against (see the `inc` section below for the store-at-rest shape)
      "dd13_naive" -> { d =>
        val sigOf = (x: DataFrame) => Dedup.minhashSignatures(
          Dedup.shingleMultiset(x, "doc_id", "text"), "doc_id", bands = 4)
        val batch = d.filter(col("doc_id") % 5 === 0)
        sigOf(batch)
          .join(sigOf(d.filter(col("doc_id") % 5 =!= 0))
            .select(col("doc_id").as("store_id"), col("band"), col("mh")),
            Seq("band", "mh"))
          .groupBy("doc_id").agg(countDistinct(col("store_id")).as("n"))
      },
      // sketch state is d×w regardless of corpus size — the ratio should
      // track the scan, not the vocabulary growth
      "ks2_countmin" -> (d =>
        graft.operators.CountMin.heavyHitterAudit(d, "text")),
      // one scan + TakeOrderedAndProject: the weighted sample's cost is
      // the scan; the top-k never globally sorts
      "sa6_weighted" -> { d =>
        val toks = filter(split(col("text"), " "), x => length(x) > 0)
        d.select(col("doc_id"), size(toks).as("n_tokens"))
          .withColumn("k0", graft.operators.Sampling.aresKey(
            col("doc_id").cast("string"), col("n_tokens").cast("double")))
          .orderBy(desc("k0"), asc("doc_id")).limit(50)
      },
      // batched trainer: same 6 merges as tok1_train in HALF the driver
      // round-trips — the row prices what batching saves at fixed ranks
      "tok3_train_batched" -> (d =>
        BpeTokenizer.trainMergesBatched(d, "text", ranks = 6, batch = 2)),
      // bloom incremental dedup: the store bitset builds inside the timed
      // window (in production it amortizes across batches), then probe +
      // confirm — the ratio should track the store scan, the join side
      // stays |dups| + FP-sized
      "dd18_bloom" -> { d =>
        val keyOf = conv(substring(md5(col("text")), 1, 15), 16, 10)
          .cast("long")
        graft.operators.BloomDedup.flagNew(
          d.filter(col("doc_id") % 5 =!= 0),
          d.filter(col("doc_id") % 5 === 0), keyOf)
      },
      // Levenshtein verifier over LSH candidates: cost ∝ candidate pairs
      // (duplicate mass), with the threshold bail-out bounding each
      // distance at O(len·d)
      "dd19_lev_verify" -> { d =>
        val sh = Dedup.shingleMultiset(d, "doc_id", "text")
        val sig = Dedup.minhashSignatures(sh, "doc_id", bands = 4)
          .localCheckpoint(eager = false)
        val texts = d.select(col("doc_id"), col("text"))
        Dedup.lshCandidatePairs(sig, "doc_id")
          .join(texts.select(col("doc_id").as("doc_a"),
            col("text").as("text_a")), "doc_a")
          .join(texts.select(col("doc_id").as("doc_b"),
            col("text").as("text_b")), "doc_b")
          .withColumn("dist",
            levenshtein(col("text_a"), col("text_b"), 15))
          .filter(col("dist") >= 0)
      },
      // 5 pagerank rounds over the chain+hub fixture graph: per round one
      // node-keyed join + one groupBy-sum; 10× nodes → 10× edges, the
      // ratio should be linear-ish with the per-round plan overhead
      // amortized
      "pr1_pagerank" -> { d =>
        val ids = d.select(col("doc_id"))
        val chain = ids.filter(col("doc_id") % 100 =!= 0)
          .select(col("doc_id").as("a"), (col("doc_id") - 1).as("b"))
        val hub = ids.filter(col("doc_id") % 10 =!= 0)
          .select(col("doc_id").as("a"),
            (col("doc_id") - col("doc_id") % 10).as("b"))
        Components.pageRank(chain.unionByName(hub), "a", "b",
          ids, "doc_id", iters = 5)
      },
      // BM25 serve: one token-stream scan + postings-sized joins + top-k
      "ix3_bm25" -> (d => Indexing.bm25TopK(d, "doc_id", "text",
        Seq("spark", "shuffle", "broadcast"), k = 10)))

    def timeOn(fn: DataFrame => DataFrame, d: DataFrame): (Double, Long) =
      time(() => fn(d).count())

    header(factor)

    if (mode == "vec") {
      // The vector family's 1×-vs-10× rows: embeddings enlarged with a
      // deterministic per-copy, per-dimension perturbation (index-keyed
      // offsets — no RNG), so copies are DISTINCT vectors with shifted
      // sign buckets / cells, not 10 collisions of the same point.
      val ebase = spark.read.parquet(s"$sfDir/embeddings.parquet")
        .select(col("vec_id"), col("embedding"), col("label"))
        .repartition(spark.sparkContext.defaultParallelism)
        .localCheckpoint(eager = true)
      val e10 = (0 until factor).map { i =>
        ebase.select((col("vec_id") + lit(i * 100_000_000L)).as("vec_id"),
          zip_with(col("embedding"),
            transform(col("embedding"), (_, j) =>
              (((lit(i * 7) + j) % 5 - lit(2)).cast("float")) * lit(0.01f)),
            (x, dlt) => x + dlt).as("embedding"),
          col("label"))
      }.reduce(_ unionByName _)
        .repartition(spark.sparkContext.defaultParallelism)
        .localCheckpoint(eager = true)
      val vops: Seq[(String, DataFrame => DataFrame)] = Seq(
        "dd5_cos_neardup" -> (e =>
          Similarity.cosineNearDupPairs(e, "vec_id", "embedding", 0.3)),
        "sim2_lsh_topk" -> (e =>
          Similarity.bucketedTopK(e, "vec_id", "embedding", 0L, 10)),
        "sim4_ivf_topk" -> (e =>
          Similarity.ivfTopK(e, "vec_id", "embedding", 0L, 10)),
        "sim7_ivfpq_topk" -> (e =>
          Similarity.ivfPqTopK(e, "vec_id", "embedding", 0L, 10)),
        "sim5_recall_audit" -> (e =>
          Similarity.annRecallAtK(e, "vec_id", "embedding")),
        "sim8_batch_topk" -> (e =>
          Similarity.batchTopK(e, "vec_id", "embedding",
            e.filter(col("vec_id") < 20), "vec_id", "embedding", k = 10)),
        "vq1_sq_audit" -> (e =>
          Similarity.scalarQuantizationError(e, "vec_id", "embedding")),
        "vq2_pq_audit" -> (e =>
          Similarity.productQuantizationError(e, "vec_id", "embedding")),
        "sim9_binary_rerank" -> (e =>
          Similarity.binaryRerankRecallAtK(e, "vec_id", "embedding")),
        // scan-side arithmetic only — the projection row is the linearity
        // baseline every ANN row is compared against
        "rp1_project" -> (e =>
          graft.operators.RandomProjection.project(
            e, "vec_id", "embedding", 16, 64)),
        "sim10_rp_rerank" -> (e =>
          Similarity.rpRerankRecallAtK(e, "vec_id", "embedding")))
      vops.filter { case (name, _) => only.forall(_.contains(name)) }
        .foreach { case (name, fn) =>
          fn(ebase).count() // warm
          val (t1, r1) = timeOn(fn, ebase)
          val (t10, r10) = timeOn(fn, e10)
          row(name, t1, r1, t10, r10)
        }
      // dd15 semantic dedup: the fixed-nlist row shows the within-cell
      // quadratic honestly (10× data in the SAME 8 cells is ~100× pair
      // work); the nlist-scaled row is the documented 100-TB path —
      // nlist grows with the corpus so cell size stays constant and the
      // sweep should fall back toward linear.
      if (only.forall(_.contains("dd15_semantic"))) {
        val fixed = (e: DataFrame) =>
          Similarity.semanticDedup(e, "vec_id", "embedding")
        fixed(ebase).count() // warm
        val (t1, r1) = timeOn(fixed, ebase)
        val (t10, r10) = timeOn(fixed, e10)
        row("dd15_semantic", t1, r1, t10, r10)
        val scaled = (e: DataFrame) =>
          Similarity.semanticDedup(e, "vec_id", "embedding",
            nlist = 8 * factor)
        val (ts, rs) = timeOn(scaled, e10)
        row("dd15_nlist_scaled", t1, r1, ts, rs)
        // sample-trained + scaled cells: the production path — centroid
        // training cost is bounded by the sample, cell size bounded by
        // nlist, so this row should return toward linear
        val sampled = (e: DataFrame) =>
          Similarity.semanticDedup(e, "vec_id", "embedding",
            nlist = 8 * factor, trainFraction = 0.1)
        val (tp, rp) = timeOn(sampled, e10)
        row("dd15_sample_train", t1, r1, tp, rp)
      }

      // Planted DEGENERATE bucket: 10k byte-identical copies of vector 0.
      // This is dd5's worst case — without the exact-first guard the hot
      // sign bucket alone is 10⁸ 64-dim cosines with full vectors carried
      // through the self-join; with it, the group collapses to ONE rep
      // cosine and the remaining wall is the output-proportional member
      // expansion (the ~5·10⁷ intra-group pairs the pair-list contract
      // owes the caller anyway, as bare longs).
      if (only.forall(_.contains("dd5_hot10k"))) {
        val v0 = ebase.filter(col("vec_id") === 0L).select(col("embedding"))
        // vec_id 0 missing at this SF would leave planted == ebase and a
        // vacuous ~1.0 ratio that LOOKS like the guard works — fail instead
        require(v0.count() == 1,
          s"dd5_hot10k needs exactly one vec_id=0 row in $sfDir")
        val hot = spark.range(1, 10001)
          .select((col("id") + lit(200_000_000L)).as("vec_id"))
          .crossJoin(broadcast(v0))
          .withColumn("label", lit(9))
        val planted = ebase.unionByName(hot)
          .repartition(spark.sparkContext.defaultParallelism)
          .localCheckpoint(eager = true)
        val fn = (e: DataFrame) =>
          Similarity.cosineNearDupPairs(e, "vec_id", "embedding", 0.3)
        val (t1, r1) = timeOn(fn, ebase)
        val (th, rh) = timeOn(fn, planted)
        row("dd5_hot10k", t1, r1, th, rh)
      }
      spark.stop()
      return
    }

    if (mode == "inc") {
      // dd13's DESIGN shape: the store's signature table is AT REST
      // (materialized untimed), the day's batch hashes and joins into it —
      // the timed number is the true per-day cost. Contrast with the
      // `dd13_naive` row of the llm sweep, which re-hashes the store
      // inside the window.
      val x10 = (0 until factor).map { i =>
        base.select((col("doc_id") + lit(i * 100_000_000L)).as("doc_id"),
          regexp_replace(col("text"), "(^| )", "$1c" + i).as("text"))
      }.reduce(_ unionByName _)
        .repartition(spark.sparkContext.defaultParallelism)
        .localCheckpoint(eager = true)
      val sigOf = (x: DataFrame) => Dedup.minhashSignatures(
        Dedup.shingleMultiset(x, "doc_id", "text"), "doc_id", bands = 4)
      def incremental(d: DataFrame): (DataFrame => DataFrame) = {
        val storeSig = sigOf(d.filter(col("doc_id") % 5 =!= 0))
          .select(col("doc_id").as("store_id"), col("band"), col("mh"))
          .localCheckpoint(eager = true) // the at-rest signature table
        _ => sigOf(d.filter(col("doc_id") % 5 === 0))
          .join(storeSig, Seq("band", "mh"))
          .groupBy("doc_id").agg(countDistinct(col("store_id")).as("n"))
      }
      val f1 = incremental(base)
      val f10 = incremental(x10)
      f1(base).count() // warm
      val (t1, r1) = timeOn(f1, base)
      val (t10, r10) = timeOn(f10, x10)
      row("dd13_incremental", t1, r1, t10, r10)
      spark.stop()
      return
    }

    if (mode == "llm") {
      val x10 = (0 until factor).map { i =>
        base.select((col("doc_id") + lit(i * 100_000_000L)).as("doc_id"),
          // tag every token so copies share no shingles with each other
          regexp_replace(col("text"), "(^| )", "$1c" + i).as("text"))
      }.reduce(_ unionByName _)
        .repartition(spark.sparkContext.defaultParallelism)
        .localCheckpoint(eager = true)
      ops.filter { case (name, _) => only.forall(_.contains(name)) }
        .foreach { case (name, fn) =>
          fn(base).count() // warm codegen/JIT on the small corpus
          val (t1, r1) = timeOn(fn, base)
          val (t10, r10) = timeOn(fn, x10)
          row(name, t1, r1, t10, r10)
        }
    }

    if (mode == "llm" && only.isDefined) { spark.stop(); return }

    // Duplication-preserving section: copies share their substrings, so
    // dd10/tx7 produce real output at 10× (the token-tagged corpus above
    // makes every fingerprint carry the copy tag and zeroes both).
    val x10dup = (0 until factor).map { i =>
      base.select((col("doc_id") + lit(i * 100_000_000L)).as("doc_id"),
        concat(col("text"), lit(s" copytag$i")).as("text"))
    }.reduce(_ unionByName _)
      .repartition(spark.sparkContext.defaultParallelism)
      .localCheckpoint(eager = true)
    // (name, copyFactor => op): dd10's df cap scales with the copy factor —
    // a stop-fingerprint threshold is a fraction of the corpus, and the
    // dup corpus multiplies every df by exactly the copy count
    val dupOps: Seq[(String, Int => DataFrame => DataFrame)] = Seq(
      "dd10_fp_dup" -> (scale => d =>
        TextAnalysis.fingerprintMatchPairs(d, "doc_id", "text",
          minShared = 10, maxDf = 20 * scale)),
      "tx7_contam_dup" -> (_ => d =>
        Dedup.contaminationOverlap(d, evalDocs, "doc_id", "text", n = 5)))
    dupOps.filter { case (name, _) => only.forall(_.contains(name)) }
      .foreach { case (name, mk) =>
      mk(1)(base).count() // warm
      val (t1, r1) = timeOn(mk(1), base)
      val (t10, r10) = timeOn(mk(factor), x10dup)
      row(name, t1, r1, t10, r10)
    }
    spark.stop()
  }
}
