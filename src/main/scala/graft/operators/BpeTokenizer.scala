package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Byte-level BPE tokenizer — trainer and scan-side apply.
  *
  * The canonical training-data operation the pipelines feed: learn the
  * top-R byte-pair merges from the corpus (GPT-2/LLaMA-style byte-level
  * BPE, word-boundary variant), then tokenize every document under the
  * learned merge table.
  *
  * Representation: a word's symbol sequence is a space-delimited sentinel
  * string of two-digit uppercase hex bytes — "hello" ⇒ " 68 65 6C 6C 6F ".
  * Delimiters make symbol boundaries unambiguous (a merged symbol "6C6C"
  * can never be confused with the adjacent pair " 6C 6C "), and bytes (not
  * chars) keep the whole path binary-exact for multibyte text.
  *
  * Merge application is ONE regexp pass " l r(?= )" → " lr": the
  * lookahead asserts the right symbol boundary WITHOUT consuming the
  * delimiter space, so the very next occurrence in a boundary-sharing run
  * is still matchable and a single left-to-right `replaceAll` IS exact
  * greedy BPE (a plain " l r " → " lr " replace chain is NOT — it skips
  * every other match inside same-symbol runs like "ll", converging to a
  * non-canonical pairing). Merging (l, r) can never create a new (l, r)
  * adjacency (lr ≠ l and lr ≠ r for non-empty symbols), so one pass is
  * also the fixpoint. BpeSpec proves the pass ≡ a direct JVM greedy
  * reference on random and adversarial (single-repeated-byte) words; the
  * DuckDB oracle, whose RE2 has no lookahead, mirrors greedy instead via
  * an exact run-parity window formulation (take a match at i only when
  * l ≠ r, or when i sits at an odd offset inside its run of l's).
  *
  * Scale shape (100 TB): training never touches the corpus after one
  * word-frequency aggregation — the R merge iterations run over the
  * DISTINCT-word table (bounded vocabulary, the same bounded-state
  * argument as [[Similarity.trainCentroids]]'s centroid set), each
  * iteration one mergeable pair-count aggregation plus a collect of its
  * top rows and a scan-side rewrite, lineage cut per iteration by a pin.
  * Apply is pure per-row string work under the tiny driver-held merge
  * list — zero joins, zero shuffles, fully codegen.
  *
  * Reference scope: the reference engine has no tokenizer; this is part of
  * the beyond-reference LLM-pipeline layer (see SURVEY.md §2 addendum).
  */
object BpeTokenizer {

  /** " 68 65 6C 6C 6F " — byte symbols of a non-empty, space-free word. */
  def symbolize(c: Column): Column =
    concat(lit(" "), regexp_replace(hex(encode(c, "UTF-8")), "(..)", "$1 "))

  /** One merge rule applied greedily left-to-right (exact BPE semantics,
    * see class doc). Symbols are hex digits — regex-metacharacter-free by
    * construction, so l/r embed into the pattern verbatim. */
  def applyMerge(s: Column, l: String, r: String): Column =
    regexp_replace(s, s" $l $r(?= )", s" $l$r")

  /** Each pass costs one driver round-trip (a collect of the pair-count
    * table's top rows), one merge rank per pass when unbatched —
    * negligible for small rank counts, but a 50k-rank production vocabulary
    * would mean 50k sequential driver round-trips over the word table. Cap
    * the driver-loop shape here; the production path for large vocabularies
    * is sample-trained merges on a frequency-capped word table (same
    * trade-off as [[Similarity.semanticDedup]]'s `trainFraction`), batching
    * ranks per pass — see SCALE.md. */
  val MaxDriverLoopRanks = 256

  /** Learn the top-`ranks` byte-pair merges from the corpus: split
    * `textCol` on single spaces, aggregate the distinct-word frequency
    * table once, then per rank count occurrence-weighted adjacent symbol
    * pairs, take the argmax (ties: count desc, then lexicographic (l, r) —
    * deterministic across layouts), and rewrite the word table under the
    * winning merge. Returns (merge_rank, lhs, rhs, merged, pair_count),
    * `ranks` rows. Fails fast if the corpus exhausts its pairs early —
    * callers pick `ranks` ≪ total byte mass.
    *
    * This is [[trainMergesBatched]] at `batch = 1`: a pass that picks one
    * pair takes the first of its (count desc, l, r)-ordered candidates,
    * which is the argmax, and checkpoints the word table after it. */
  def trainMerges(docs: DataFrame, textCol: String, ranks: Int): DataFrame =
    trainMergesBatched(docs, textCol, ranks, batch = 1)

  /** Batched variant of [[trainMerges]] — the SCALE.md "BPE training
    * bound" production path made real. Each pass aggregates the pair-count
    * table ONCE and merges up to `batch` mutually symbol-disjoint pairs
    * from it (greedy in (count desc, l, r) order), cutting driver
    * round-trips from `ranks` to ceil(ranks / batch).
    *
    * Why disjoint: merging (l1, r1) perturbs only the counts of pairs that
    * share a symbol with it (and births pairs involving the new symbol
    * l1r1), so a second pick whose symbols are disjoint from every earlier
    * pick in the pass still has exactly its pre-pass count when its turn
    * comes — the batch is order-insensitive WITHIN the evidence it was
    * selected on. Batched training is NOT guaranteed identical to the
    * sequential trainer in general (a pair born of merge k can out-count
    * the batch's later picks); that is the standard large-vocabulary
    * trade-off, and the graded oracle mirrors the batched semantics
    * exactly rather than pretending otherwise.
    *
    * Reported pair_count per merge is its pre-pass count — the selection
    * evidence. Fails fast when a pass cannot find any disjoint pair inside
    * the collected candidate prefix (`candidateCap` rows — far beyond any
    * real corpus's need at small batch sizes). */
  def trainMergesBatched(docs: DataFrame, textCol: String, ranks: Int,
                         batch: Int, candidateCap: Int = 256): DataFrame = {
    require(batch >= 1, "batch must be >= 1")
    require(math.ceil(ranks.toDouble / batch) <= MaxDriverLoopRanks,
      s"$ranks ranks / batch $batch exceeds the $MaxDriverLoopRanks " +
        "driver-round-trip cap; raise batch or sample-train (SCALE.md)")
    val spark = docs.sparkSession
    import spark.implicits._
    var wf = docs
      .select(explode(split(col(textCol), " ")).as("w"))
      .filter(length(col("w")) > 0)
      .groupBy("w").agg(count(lit(1)).as("cnt"))
      .select(symbolize(col("w")).as("s"), col("cnt"))
      .localCheckpoint()
    val merges = Seq.newBuilder[(Int, String, String, String, Long)]
    var k = 1
    while (k <= ranks) {
      val want = math.min(batch, ranks - k + 1)
      val toks = split(trim(col("s")), " ")
      val top = wf
        .select(col("cnt"), explode(zip_with(
          slice(toks, lit(1), size(toks) - 1),
          slice(toks, lit(2), size(toks) - 1),
          (a, b) => struct(a.as("l"), b.as("r")))).as("p"))
        .groupBy(col("p.l").as("l"), col("p.r").as("r"))
        .agg(sum("cnt").as("pair_count"))
        .orderBy(desc("pair_count"), asc("l"), asc("r"))
        .limit(candidateCap).collect()
      require(top.nonEmpty, s"corpus exhausted its byte pairs at rank $k")
      val used = scala.collection.mutable.Set.empty[String]
      val picked = scala.collection.mutable.ArrayBuffer
        .empty[(String, String, Long)]
      val it = top.iterator
      while (picked.size < want && it.hasNext) {
        val row = it.next()
        val (l, r) = (row.getString(0), row.getString(1))
        if (!used(l) && !used(r)) {
          picked += ((l, r, row.getLong(2))); used += l; used += r
        }
      }
      require(picked.nonEmpty,
        s"no symbol-disjoint pair among the top $candidateCap at rank $k")
      picked.foreach { case (l, r, c) =>
        merges += ((k, l, r, l + r, c))
        wf = wf.withColumn("s", applyMerge(col("s"), l, r))
        k += 1
      }
      wf = wf.localCheckpoint()
    }
    merges.result().toDF("merge_rank", "lhs", "rhs", "merged", "pair_count")
  }

  /** Tokenize every document under a fixed merge list (applied in rank
    * order inside each word) and digest the result: one row per doc with
    * the total token count and the md5 of the '|'-joined per-word symbol
    * strings — a byte-exact, gradeable fingerprint of the full token
    * stream without shipping it. */
  def tokenizeDigest(docs: DataFrame, idCol: String, textCol: String,
                     merges: Seq[(String, String)]): DataFrame = {
    val words = filter(split(col(textCol), " "), w => length(w) > 0)
    val syms = transform(words, w =>
      merges.foldLeft(symbolize(w)) { case (acc, (l, r)) =>
        applyMerge(acc, l, r) })
    docs.select(col(idCol),
      aggregate(syms, lit(0L),
        (acc, x) => acc + size(split(trim(x), " "))).as("n_tokens"),
      md5(array_join(syms, "|")).as("tok_md5"))
  }
}
