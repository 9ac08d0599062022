package graft.operators

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.TestSpark

/** Laws for the round-7 curation additions that grade only through SQL
  * oracles elsewhere: temperature mixing (mixture shape + determinism),
  * the inverted index (posting completeness vs a brute-force scan), and
  * TF-IDF (sanity of the idf direction). */
class CurationOpsSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private val docs = (1 to 400).map { i =>
    val src = if (i <= 300) "big" else "small"
    (i.toLong, src, s"tok$i shared common words the a of tok${i % 7}")
  }.toDF("doc_id", "source", "text")

  test("temperatureMix flattens the source distribution deterministically") {
    val out = Sampling.temperatureMix(docs, col("doc_id").cast("string"),
      col("source"), alpha = 0.5, targetTotal = 200)
    val kept = out.groupBy("source").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    // alpha=0.5 gives the small source a larger keep PROBABILITY:
    // p_small/n_small > p_big/n_big even though fewer rows survive overall
    val pBig = kept("big").toDouble / 300
    val pSmall = kept("small").toDouble / 100
    assert(pSmall > pBig,
      s"temperature should upsample the small source: $kept")
    // deterministic: same rows on re-run and under a different layout
    val again = Sampling.temperatureMix(docs.repartition(13),
      col("doc_id").cast("string"), col("source"), 0.5, 200)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(again == out.select("doc_id").collect().map(_.getLong(0)).toSet)
  }

  test("epochResample upsamples the small source for whole epochs, " +
    "deterministically and near the doc budget") {
    val out = Sampling.epochResample(docs, col("doc_id").cast("string"),
      col("source"), alpha = 0.5, multiplier = 2.0)
    // expected rate_s = 2·400·√n_s/Z/n_s with Z = √300+√100
    val z = math.sqrt(300) + math.sqrt(100)
    val rateBig = 2.0 * 400 * math.sqrt(300) / z / 300
    val rateSmall = 2.0 * 400 * math.sqrt(100) / z / 100
    assert(rateSmall > 1.0 && rateSmall > rateBig,
      s"small source must repeat for epochs: $rateSmall vs $rateBig")
    val copies = out.groupBy("source").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    // per source, copy totals land within ±10% of rate·n (hash-uniform
    // rounding of the fractional remainder)
    assert(math.abs(copies("big") - rateBig * 300) <= 0.1 * rateBig * 300,
      s"big-source copies off budget: $copies")
    assert(math.abs(copies("small") - rateSmall * 100) <= 0.1 * rateSmall * 100,
      s"small-source copies off budget: $copies")
    // every doc emits at least floor(rate) copies, and copy indices are
    // dense 1..n per doc
    val perDoc = out.groupBy("doc_id").agg(
      count(lit(1)).as("n"), max("copy").as("mx"), min("copy").as("mn"))
    assert(perDoc.filter(col("n") =!= col("mx") || col("mn") =!= 1)
      .isEmpty, "copy indices must be dense 1..n")
    val floorSmall = math.floor(rateSmall).toLong
    assert(perDoc.join(docs.filter(col("source") === "small"), "doc_id")
      .filter(col("n") < floorSmall).isEmpty,
      s"small-source docs must emit >= $floorSmall copies")
    // layout-invariant: identical (doc_id, copy) multiset on a re-run
    val again = Sampling.epochResample(docs.repartition(13),
      col("doc_id").cast("string"), col("source"), 0.5, 2.0)
      .select("doc_id", "copy").collect()
      .map(r => (r.getLong(0), r.getInt(1))).toSet
    assert(again == out.select("doc_id", "copy").collect()
      .map(r => (r.getLong(0), r.getInt(1))).toSet)
  }

  test("invertedIndex postings are complete, sorted, and df-consistent") {
    val idx = Indexing.invertedIndex(docs, "doc_id", "text",
      minDf = 2, shardSize = 50)
    val rows = idx.collect()
    // brute force: term -> set of docs containing it
    val truth = docs.collect().flatMap { r =>
      r.getString(2).split(" ", -1).distinct.map(tok => tok -> r.getLong(0))
    }.groupBy(_._1).map { case (t, xs) => t -> xs.map(_._2).toSet }
    rows.groupBy(_.getString(0)).foreach { case (term, shards) =>
      val posted = shards.flatMap(_.getString(4).split(",").map(_.toLong))
      assert(posted.toSet == truth(term), s"term=$term postings differ")
      assert(shards.forall { s =>
        val p = s.getString(4).split(",").map(_.toLong)
        p.sameElements(p.sorted) && p.length == s.getLong(3)
      }, s"term=$term shard postings unsorted or miscounted")
      assert(shards.map(_.getLong(2)).distinct.length == 1 &&
        shards.head.getLong(2) == truth(term).size,
        s"term=$term df disagrees with the brute-force document count")
    }
    // the df gate keeps exactly the terms at or above the floor
    assert(rows.map(_.getString(0)).toSet ==
      truth.filter(_._2.size >= 2).keySet)
  }

  test("fingerprintMatchPairs equals the brute-force fingerprint " +
    "intersection under the df cap") {
    val corpus = Seq(
      (1L, "the quick brown fox jumps over the lazy dog again and again ok"),
      (2L, "the quick brown fox jumps over the lazy dog again and again no"),
      (3L, "completely unrelated text with different characters entirely"),
      (4L, "the quick brown fox jumps over something else entirely today"))
      .toDF("doc_id", "text")
    val fps = TextAnalysis.winnowingFingerprints(corpus, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getString(1)))
    val df = fps.groupBy(_._2).map { case (f, xs) => f -> xs.length }
    val byDoc = fps.groupBy(_._1).map { case (d, xs) =>
      d -> xs.map(_._2).filter(df(_) <= 3).toSet }
    val want = (for {
      a <- byDoc.keys; b <- byDoc.keys if a < b
      shared = (byDoc(a) & byDoc(b)).size if shared >= 2
    } yield (a, b, shared.toLong)).toSet
    val got = TextAnalysis.fingerprintMatchPairs(corpus, "doc_id", "text",
      minShared = 2, maxDf = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(got == want)
    assert(got.exists(p => p._1 == 1L && p._2 == 2L),
      "near-identical docs must match")
  }

  test("tfidf ranks a doc-unique token above corpus-wide boilerplate") {
    val top = TextAnalysis.tfidfTopTerms(docs, "doc_id", "text", k = 1)
      .filter(col("doc_id") === 42).collect()
    assert(top.length == 1)
    // 'tok42' appears in one doc; 'common'/'shared'/stopwords in all 400
    assert(top.head.getString(1) == "tok42", top.head.toString)
  }

  test("gopherRules thresholds are integer-exact at their boundaries") {
    val cases = Seq(
      // 5 tokens of mean word length exactly 3 (sum_chars = 15 = 3*5) with
      // two stopwords: every rule sits ON its boundary and must pass
      (1L, "the and abc def ghi", true),
      // 4 tokens: one under the token floor
      (2L, "the and abc defg", false),
      // mean word length just under 3: 5 tokens, sum_chars 14
      (3L, "the and abc de fgh", false),
      // numeric fraction exactly 1/5 (the allowed maximum)
      (4L, "the and abc defgh 12345", true),
      // numeric fraction 2/5: over
      (5L, "the and abcdef 12 345", false),
      // only one distinct stopword (repeated): stop rule fails
      (6L, "the the abc def ghi", false))
      .toDF("doc_id", "text", "want")
    val got = TextAnalysis.gopherRules(cases, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getBoolean(6)).toMap
    val want = cases.collect().map(r => r.getLong(0) -> r.getBoolean(2)).toMap
    assert(got == want)
  }

  test("dupNgramCharFrac scores a looping phrase near 1 and unique text 0") {
    val cases = Seq(
      (1L, Seq.fill(10)("spam ham").mkString(" ")),   // 'spam ham' loops
      (2L, "every word here is completely different today"),
      (3L, "x"))                                      // too short for n=2
      .toDF("doc_id", "text")
    val got = TextAnalysis.dupNgramCharFrac(cases, "doc_id", "text",
      ns = Seq(2)).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    // 'spam ham' x10 covers 80 of 89 chars
    assert(got(1L) > 0.85, s"looping doc scored ${got(1L)}")
    // every bigram of doc 2 is unique: top covers one bigram's chars only
    assert(got(2L) < 0.5, s"unique-text doc scored ${got(2L)}")
    assert(got(3L) == 0.0)
  }

  test("unigramLogProb ranks rare-token docs below common-token docs") {
    val corpus = (1 to 99).map(i => (i.toLong, "common words only here"))
      .toDF("doc_id", "text")
      .union(Seq((100L, "zzyzx qwtpq vvkjx bbnmz")).toDF("doc_id", "text"))
    val got = TextAnalysis.unigramLogProb(corpus, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(got(100L) < got(1L) - 3.0,
      s"rare-token doc should score far lower: ${got(100L)} vs ${got(1L)}")
    // all common docs share one score (same tokens, same model)
    assert((1 to 99).map(i => got(i.toLong)).distinct.size == 1)
  }

  test("perplexityBuckets labels are threshold-consistent terciles") {
    val real = graft.queries.Tables.t(spark, "/root/testdata/sf0.001",
      "documents")
    val out = TextAnalysis.perplexityBuckets(real, "doc_id", "text",
      lo = -8.0, hi = 0.0, nBins = 4096).collect()
    val tLo = out.head.getAs[Double]("t_lo")
    val tHi = out.head.getAs[Double]("t_hi")
    assert(tLo <= tHi)
    out.foreach { r =>
      val lp = r.getAs[Double]("mean_logp")
      val expect = if (lp >= tHi) "head"
                   else if (lp >= tLo) "middle" else "tail"
      assert(r.getAs[String]("bucket") == expect, s"inconsistent: $r")
    }
    // with 4096 bins the tercile masses stay within bin granularity
    val sizes = out.groupBy(_.getAs[String]("bucket")).map(_._2.length)
    assert(sizes.max - sizes.min < out.length / 4,
      s"terciles should be near-balanced: $sizes")
  }

  test("shardShuffle partitions the corpus into dense, balanced shards") {
    val out = Sampling.shardShuffle(docs, col("doc_id").cast("string"), 16)
      .localCheckpoint()
    assert(out.count() == 400 &&
      out.select("doc_id").distinct().count() == 400,
      "every row lands in exactly one shard")
    val per = out.groupBy("shard")
      .agg(count(lit(1)).as("n"), min("pos").as("lo"), max("pos").as("hi"))
      .collect()
    per.foreach { r =>
      assert(r.getAs[Long]("lo") == 0L &&
        r.getAs[Long]("hi") == r.getAs[Long]("n") - 1,
        s"positions must be dense from 0: $r")
    }
    val sizes = per.map(_.getAs[Long]("n"))
    assert(sizes.max < 3 * (400 / 16),
      s"hash-uniform shards must stay balanced: ${sizes.toSeq.sorted}")
  }

  test("shardShuffle is partition-layout invariant (reproducible export)") {
    def run(d: org.apache.spark.sql.DataFrame) =
      Sampling.shardShuffle(d, col("doc_id").cast("string"), 16)
        .select("shard", "pos", "doc_id")
        .orderBy("shard", "pos").collect().toSeq
    assert(run(docs.coalesce(1)) == run(docs.repartition(13)),
      "a re-run on any layout must reproduce byte-identical shards")
  }
}
