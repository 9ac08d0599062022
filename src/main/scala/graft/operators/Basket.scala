package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Market-basket association rules: for every pair of items that co-occur
  * in enough baskets, the classic support / confidence / lift triple — the
  * co-purchase, co-click, and related-document primitive.
  *
  * Scale design: pair generation is the quadratic hazard (a basket of k
  * items emits k·(k−1)/2 pairs), so two guards run BEFORE the self-join:
  *   1. a frequent-item gate (`minItemCount`) — Apriori's first level:
  *      a pair can only be frequent if both items are, so infrequent items
  *      are dropped from the pair join entirely;
  *   2. an oversized-basket cap (`maxBasketSize`) — a degenerate hot basket
  *      (a crawler session touching 100k items) would alone emit 5·10⁹
  *      pairs; such baskets are statistically meaningless for rules and are
  *      dropped, bounding per-basket work at maxBasketSize².
  * The pair join itself is an equi-join on the basket id (shuffle keyed on
  * basket), the item-count joins are dim-sized, and the basket total is a
  * 1-row broadcast — no all-pairs stage anywhere.
  */
object Basket {

  /** `items`: one row per (basket, item) occurrence (duplicates collapse).
    * Returns one row per ordered pair `p1 < p2` with `co >= minPairCount`:
    * (p1, p2, co, c1, c2, confidence = co/c1, lift = co·N/(c1·c2)), where
    * N is the number of distinct baskets surviving the size cap.
    *
    * r15 shape (guide §2.4, VERDICT r14 item 5), result-identical:
    *   - ONE `groupBy(basket).collect_set` replaces the (basket, item)
    *     `distinct` AND the basket-size window (two exchanges → one;
    *     collect_set dedupes within the basket, the cap reads the array
    *     length, N becomes a plain row count instead of countDistinct);
    *   - pair generation expands each basket's SORTED frequent-item array
    *     locally instead of self-joining `frequent` on the basket id —
    *     the join materialized exactly these C(k,2) rows per basket while
    *     exchanging (and sorting) the postings twice; the array form emits
    *     the identical pair multiset through zero additional exchanges.
    *   Per-basket memory is bounded by the cap either way (the old window
    *   buffered the same basket's rows in WindowExec). */
  def associationRules(items: DataFrame, basketCol: String, itemCol: String,
                       minItemCount: Long, minPairCount: Long,
                       maxBasketSize: Int = 1000): DataFrame = {
    val baskets = items
      .select(col(basketCol).as("basket"), col(itemCol).as("item"))
      .filter(col("basket").isNotNull && col("item").isNotNull)
      .groupBy("basket").agg(collect_set(col("item")).as("__items"))
      .filter(size(col("__items")) <= maxBasketSize)
      .localCheckpoint() // feeds N, item counts, and pair gen
    val nBaskets = baskets.agg(count(lit(1)).as("n_baskets"))
    val sized = baskets.select(col("basket"),
      explode(col("__items")).as("item"))
    val itemCounts = sized.groupBy("item").agg(count(lit(1)).as("cnt"))
      .filter(col("cnt") >= minItemCount)
    val frequent = sized.join(itemCounts, "item")
      .select(col("basket"), col("item"), col("cnt"))
    // sort_array orders by item (unique within a basket), so x before y
    // in the array means p1 < p2 — the same ordered pairs the old
    // `l.join(r, basket).filter(p1 < p2)` emitted, with their counts
    val fitems = frequent.groupBy("basket")
      .agg(sort_array(collect_list(struct(col("item"), col("cnt"))))
        .as("xs"))
    val pairs = fitems.select(explode(expr(
      """flatten(transform(xs, (x, i) ->
           transform(slice(xs, i + 2, size(xs)), y ->
             named_struct('p1', x.item, 'p2', y.item,
                          'c1', x.cnt, 'c2', y.cnt))))""")).as("p"))
      .select(col("p.p1").as("p1"), col("p.p2").as("p2"),
        col("p.c1").as("c1"), col("p.c2").as("c2"))
    pairs.groupBy("p1", "p2", "c1", "c2").agg(count(lit(1)).as("co"))
      .filter(col("co") >= minPairCount)
      .crossJoin(broadcast(nBaskets))
      .select(col("p1"), col("p2"), col("co"), col("c1"), col("c2"),
        round(col("co") / col("c1"), 4).as("confidence"),
        round((col("co") * col("n_baskets")) / (col("c1") * col("c2")), 4)
          .as("lift"))
  }
}
