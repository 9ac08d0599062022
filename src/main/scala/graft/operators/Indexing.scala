package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Sharded inverted index over the whitespace-token vocabulary: for each
  * term with corpus document frequency ≥ minDf, the posting list of doc
  * ids, stored at (term, doc-range shard) grain.
  *
  * Scale design: the shard key caps every output row at `shardSize`
  * postings, so a stop-word-grade hot term becomes many bounded rows
  * instead of one unboundedly long list — the classic skew killer for
  * collect_list-style index builds; a term lookup is still one term-key
  * scan. The df gate is a window sum over the term's shard rows (one hash
  * shuffle on the term key, no second corpus scan).
  */
object Indexing {

  def invertedIndex(docs: DataFrame, idCol: String, textCol: String,
                    minDf: Long = 5, shardSize: Long = 100): DataFrame = {
    val posting = docs
      .select(col(idCol).cast("long").as("doc_id"),
        explode(Dedup.tokens(col(textCol))).as("term"))
      .distinct()
      .withColumn("shard", expr(s"doc_id div $shardSize"))
    posting.groupBy("term", "shard")
      .agg(count(lit(1)).as("n_docs"),
        array_join(transform(array_sort(collect_list(col("doc_id"))),
          _.cast("string")), ",").as("postings"))
      .withColumn("df", sum(col("n_docs")).over(Window.partitionBy("term")))
      .filter(col("df") >= minDf)
      .select("term", "shard", "df", "n_docs", "postings")
  }

  /** Positional-index phrase search — the serve path [[invertedIndex]]'s
    * structure promises: (term, doc, pos) postings, each phrase word's
    * posting list filtered out scan-side (the selective index access),
    * then consecutive positions intersected by equi-join on
    * (doc, pos − offset). Shuffle is ∝ the matched postings, never the
    * corpus. Returns (doc_id, n_hits) per document containing the
    * phrase. */
  def phraseSearch(docs: DataFrame, idCol: String, textCol: String,
                   phrase: Seq[String]): DataFrame = {
    require(phrase.size >= 2, "a 1-word phrase is a plain posting lookup")
    val pos = docs.select(col(idCol).cast("long").as("doc_id"),
      posexplode(Dedup.tokens(col(textCol))).as(Seq("pos", "term")))
    val first = pos.filter(col("term") === phrase.head)
      .select(col("doc_id"), col("pos"))
    val matched = phrase.zipWithIndex.tail.foldLeft(first) {
      case (acc, (w, i)) =>
        acc.join(pos.filter(col("term") === w)
          .select(col("doc_id"), (col("pos") - i).as("pos")),
          Seq("doc_id", "pos"))
    }
    matched.groupBy("doc_id").agg(count(lit(1)).as("n_hits"))
  }

  /** BM25 ranked retrieval (Lucene-flavored): for a bounded query-term
    * set, score(d) = Σ_t idf(t) · tf·(k1+1) / (tf + k1·(1−b+b·len/avglen))
    * with idf = ln((N − df + ½)/(df + ½) + 1) — nonnegative for every df.
    *
    * Scale shape: the token stream is scanned ONCE; doc lengths and the
    * (N, avglen) corpus scalars come from keyed/1-row aggregates, the
    * per-(doc, term) tf table is filtered to the query terms scan-side
    * (postings-sized, not corpus-sized), and the final ranking is a
    * TakeOrderedAndProject top-k, never a global sort. */
  def bm25TopK(docs: DataFrame, idCol: String, textCol: String,
               queryTerms: Seq[String], k: Int = 10,
               k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    val toks = docs.select(col(idCol).cast("long").as("doc_id"),
      explode(Dedup.tokens(col(textCol))).as("term"))
      .localCheckpoint() // feeds lengths + the tf table
    val lens = toks.groupBy("doc_id").agg(count(lit(1)).as("len"))
    val stats = lens.agg(count(lit(1)).as("n_docs"), avg("len").as("avglen"))
    val tf = toks.filter(col("term").isin(queryTerms: _*))
      .groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
    val dfs = tf.groupBy("term").agg(count(lit(1)).as("df"))
    tf.join(dfs, "term").join(lens, "doc_id")
      .crossJoin(broadcast(stats))
      .withColumn("idf",
        log((col("n_docs") - col("df") + 0.5) / (col("df") + 0.5) + 1.0))
      .withColumn("part",
        col("idf") * col("tf") * (k1 + 1.0) /
          (col("tf") + lit(k1) * (lit(1.0 - b) +
            lit(b) * col("len") / col("avglen"))))
      .groupBy("doc_id").agg(round(sum("part"), 6).as("score"))
      .orderBy(col("score").desc, col("doc_id"))
      .limit(k)
  }
}
