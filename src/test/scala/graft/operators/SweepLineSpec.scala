package graft.operators

import org.scalatest.funsuite.AnyFunSuite
import graft.TestSpark

/** `SweepLine.concurrency` laws: hand-computed fixture, bucket-size
  * invariance (the two-level prefix sum must not depend on the shard
  * layout), and conservation (final running sum returns to zero).
  */
class SweepLineSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark

  // [0,10] [5,15] [10,20] [30,30]: overlap at t=10 is 3 (touching counts,
  // inclusive convention), the singleton is isolated.
  private def fixture() = {
    val s = spark
    import s.implicits._
    Seq((0L, 10L), (5L, 15L), (10L, 20L), (30L, 30L)).toDF("s", "e")
  }

  test("hand fixture: peak is 3 at t=10, isolated singleton reaches 1") {
    val conc = SweepLine.concurrency(fixture(), "s", "e", bucket = 7L)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(conc.map(_._3).max == 3L)
    assert(conc.filter(_._3 == 3L).map(_._1).min == 10L)
    // after every interval closes the sweep returns to zero
    assert(conc.maxBy(c => (c._1, -c._2))._3 == 0L)
    // the singleton's start sees concurrency 1
    assert(conc.exists(c => c._1 == 30L && c._3 == 1L))
  }

  test("bucket-size invariance: same aggregate answers for any shard size") {
    val base = SweepLine.concurrency(fixture(), "s", "e", bucket = 1L)
      .groupBy("t").max("conc").collect()
      .map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1).toSeq
    Seq(2L, 5L, 1000L).foreach { b =>
      val got = SweepLine.concurrency(fixture(), "s", "e", bucket = b)
        .groupBy("t").max("conc").collect()
        .map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1).toSeq
      assert(got == base, s"bucket=$b diverged")
    }
  }
}
