package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.operators.Components
import ScaleSweep.{header, row, time}

/** Round-12 sweep modes (VERDICT r11 items 4 and 5): measured 1×-vs-N×
  * rows for the graph family (`graph`), the market-basket / session-path
  * behavior family (`behavior`), and the hot-symbol skew validation for
  * the load layer's AQE claim (`skew`), and the two-level prefix-sum
  * operators (`prefix`). Dispatched from
  * [[graft.ScaleSweep]]; results recorded in SCALE.md.
  */
object SweepExtras {

  // ---------------------------------------------------------------- graph

  /** Chain+hub synthetic graph sized off the corpus: node i has a chain
    * edge to i−1 (cut every 100 nodes, so component height is bounded)
    * plus a hub edge to its decade head — |E| ≈ 1.9·|V|, so the N× graph
    * has N× nodes AND N× edges. Every op runs a FIXED round count with
    * per-round lineage cuts, so the expected wall shape is
    * rounds × (per-round join ∝ |E|) + constant per-round plan overhead;
    * ratio ≤ data ratio is the bar, with overhead-dominated small-1×
    * runs reading BELOW the data ratio.
    */
  def runGraph(spark: SparkSession, sfDir: String, factor: Int,
               only: Option[Set[String]]): Unit = {
    val par = spark.sparkContext.defaultParallelism
    val nDocs = spark.read.parquet(s"$sfDir/documents.parquet").count()
    val n1 = nDocs * 10 // ~600k nodes at sf0.1: data-dominated, not overhead
    def graph(n: Long): DataFrame = {
      val ids = spark.range(1, n + 1).select(col("id"))
      val chain = ids.filter(col("id") % 100 =!= 0)
        .select(col("id").as("a"), (col("id") - 1).as("b"))
      val hub = ids.filter(col("id") % 10 =!= 0)
        .select(col("id").as("a"), (col("id") - col("id") % 10).as("b"))
      chain.unionByName(hub).repartition(par).localCheckpoint(eager = true)
    }
    def nodesOf(n: Long): DataFrame =
      spark.range(0, n + 1).select(col("id").as("node"))
        .repartition(par).localCheckpoint(eager = true)
    val (e1, v1) = (graph(n1), nodesOf(n1))
    val (eN, vN) = (graph(n1 * factor), nodesOf(n1 * factor))

    val ops: Seq[(String, (DataFrame, DataFrame) => DataFrame)] = Seq(
      "pr1_pagerank" -> ((e, v) =>
        Components.pageRank(e, "a", "b", v, "node", iters = 5)),
      "gr2_bfs_levels" -> ((e, v) =>
        Components.bfsLevels(e, "a", "b",
          v.filter(col("node") % 1000 === 0), "node", maxRounds = 8)),
      "gr3_k_core" -> ((e, _) => Components.kCore(e, "a", "b", k = 3, rounds = 5)),
      "gr4_label_prop" -> ((e, _) =>
        Components.labelPropagation(e, "a", "b", rounds = 3)))

    header(factor)
    ops.filter { case (n, _) => only.forall(_.contains(n)) }
      .foreach { case (name, fn) =>
        fn(e1, v1).count() // warm
        val (t1, r1) = time(() => fn(e1, v1).count())
        val (tN, rN) = time(() => fn(eN, vN).count())
        row(name, t1, r1, tN, rN)
      }
  }

  // ------------------------------------------------------------- behavior

  /** mb1/mb2 over lineitem baskets and w10 session paths over events.
    *
    * The N× basket corpus shifts `l_orderkey` (N× baskets, SAME item
    * space), so every item's support multiplies by exactly N — the
    * support thresholds are corpus-fraction knobs (like dd10's df cap)
    * and scale with the copy factor, keeping the frequent-item/pair/triple
    * SETS identical across scales. Work ∝ baskets at fixed frequent sets:
    * the linearity bar is ratio ≤ N.
    *
    * The N× event stream shifts `user_id`/`event_id` (N× users, same
    * per-user session structure), so every corpus-sized shuffle keys on
    * user_id and the path table multiplies by N.
    */
  def runBehavior(spark: SparkSession, sfDir: String, factor: Int,
                  only: Option[Set[String]]): Unit = {
    val par = spark.sparkContext.defaultParallelism
    val items1 = spark.read.parquet(s"$sfDir/lineitem.parquet")
      .select(col("l_orderkey").as("basket"), col("l_partkey").as("item"))
      .repartition(par).localCheckpoint(eager = true)
    val itemsN = (0 until factor).map(i =>
      items1.select((col("basket") + lit(i * 1_000_000_000L)).as("basket"),
        col("item")))
      .reduce(_ unionByName _)
      .repartition(par).localCheckpoint(eager = true)

    val ev1 = graft.queries.Tables.t(spark, sfDir, "events")
      .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
      .repartition(par).localCheckpoint(eager = true)
    val evN = (0 until factor).map(i =>
      ev1.select((col("user_id") + lit(i * 1_000_000_000L)).as("user_id"),
        col("ts"), (col("event_id") + lit(i * 1_000_000_000L)).as("event_id"),
        col("event_type")))
      .reduce(_ unionByName _)
      .repartition(par).localCheckpoint(eager = true)

    def mb1(d: DataFrame, scale: Int): DataFrame =
      graft.operators.Basket.associationRules(d, "basket", "item",
        minItemCount = 20 * scale, minPairCount = 2 * scale,
        maxBasketSize = 1000)

    // the registered mb2 shape: Apriori level 3 with candidates from the
    // frequent-pair self-join, thresholds as corpus fractions
    def mb2(d: DataFrame, scale: Int): DataFrame = {
      val b = d.distinct().localCheckpoint(eager = false)
      val frequent = b.groupBy("item").agg(count(lit(1)).as("cnt"))
        .filter(col("cnt") >= 20 * scale).select("item")
      val bf = b.join(frequent, "item").select("basket", "item")
        .localCheckpoint(eager = false)
      val l = bf.select(col("basket"), col("item").as("p1"))
      val r = bf.select(col("basket"), col("item").as("p2"))
      val fp = l.join(r, Seq("basket")).filter(col("p1") < col("p2"))
        .groupBy("p1", "p2").agg(count(lit(1)).as("co"))
        .filter(col("co") >= 2 * scale).select("p1", "p2")
        .localCheckpoint(eager = false)
      val cand = fp.select(col("p1").as("i1"), col("p2").as("i2"))
        .join(fp.select(col("p1").as("i1"), col("p2").as("i3")), Seq("i1"))
        .filter(col("i2") < col("i3"))
        .join(fp.select(col("p1").as("i2"), col("p2").as("i3")),
          Seq("i2", "i3"))
      cand
        .join(bf.select(col("basket"), col("item").as("i1")), "i1")
        .join(bf.select(col("basket"), col("item").as("i2")),
          Seq("basket", "i2"))
        .join(bf.select(col("basket"), col("item").as("i3")),
          Seq("basket", "i3"))
        .groupBy("i1", "i2", "i3").agg(count(lit(1)).as("co"))
        .filter(col("co") >= 2 * scale)
    }

    // the registered w10 shape: 30-min session split, first-5 paths
    def w10(d: DataFrame, scale: Int): DataFrame = {
      import org.apache.spark.sql.expressions.Window
      val wOrd = Window.partitionBy("user_id").orderBy("ts", "event_id")
      d.withColumn("__gap",
          when(lag("ts", 1).over(wOrd).isNull ||
            col("ts").cast("long") - lag("ts", 1).over(wOrd).cast("long")
              > 1800, 1).otherwise(0))
        .withColumn("__sess", sum("__gap").over(
          wOrd.rowsBetween(Window.unboundedPreceding, 0)))
        .withColumn("__rn", row_number().over(
          Window.partitionBy("user_id", "__sess").orderBy("ts", "event_id")))
        .filter(col("__rn") <= 5)
        .groupBy("user_id", "__sess")
        .agg(concat_ws(">", transform(
          array_sort(collect_list(struct(col("__rn"), col("event_type")))),
          x => x.getField("event_type"))).as("path"))
        .groupBy("path").agg(count(lit(1)).as("n_sessions"))
        .filter(col("n_sessions") >= 2 * scale)
    }

    val ops: Seq[(String, (DataFrame, Int) => DataFrame, DataFrame, DataFrame)] =
      Seq(("mb1_assoc_rules", mb1 _, items1, itemsN),
          ("mb2_freq_triples", mb2 _, items1, itemsN),
          ("w10_session_paths", w10 _, ev1, evN))

    header(factor)
    ops.filter { case (n, _, _, _) => only.forall(_.contains(n)) }
      .foreach { case (name, fn, b1, bN) =>
        fn(b1, 1).count() // warm
        val (t1, r1) = time(() => fn(b1, 1).count())
        val (tN, rN) = time(() => fn(bN, factor).count())
        row(name, t1, r1, tN, rN)
      }
  }

  // ----------------------------------------------------------------- skew

  /** Hot-symbol skew validation for the load layer's "AQE handles it"
    * claim (SCALE.md "Load layer"; VERDICT r11 item 5). Fixture: a
    * calendar store where ONE symbol carries 30% of all rows, vs a
    * uniform store of identical size; the incoming/window side has one
    * row per symbol. Both K5 (`slideForward`) and J2
    * (`supersededCleanup`) join equi-keyed on the symbol with the date
    * range as residual, so the hot store partition is ~30% of the
    * shuffle — exactly the shape AQE's OptimizeSkewedJoin splits.
    *
    * Two mechanisms are measured separately:
    *   - BROADCAST: when the small side fits (it does here, as in
    *     production daily runs), AQE/planner broadcasts it and symbol
    *     skew is irrelevant — no shuffle of the store at all. This is
    *     the default-config row.
    *   - SMJ + skew split: with broadcast disabled (the both-sides-large
    *     backfill shape), the sort-merge path must split the hot
    *     partition. Rows print the wall with skewJoin ON vs OFF plus the
    *     number of skewed-split reads in the final adaptive plan.
    *
    * Skew thresholds are scaled to the fixture size (default trigger is
    * 256 MB — production-partition-sized); the values used are printed so
    * SCALE.md records them.
    */
  def runSkew(spark: SparkSession, sfDir: String, factor: Int): Unit = {
    val par = spark.sparkContext.defaultParallelism
    val nSyms = 5000
    // `pad` makes a row ~120 bytes so the hot partition clears the (scaled)
    // skew threshold by a wide margin without needing 10^8 rows
    def store(n: Long, hot: Boolean): DataFrame =
      spark.range(0, n)
        .select(
          (if (hot) when(col("id") % 10 < 3, lit("HOT"))
            .otherwise(concat(lit("S"), col("id") % nSyms))
          else concat(lit("S"), col("id") % nSyms)).as("act_symbol"),
          date_add(lit("2020-01-01").cast("date"),
            (col("id") % 2000).cast("int")).as("date"),
          sha2(col("id").cast("string"), 256).as("pad"))
        .repartition(par).localCheckpoint(eager = true)
    def incoming(): DataFrame =
      spark.range(0, nSyms)
        .select(concat(lit("S"), col("id")).as("act_symbol"),
          date_add(lit("2025-05-01").cast("date"),
            (col("id") % 30).cast("int")).as("date"))
        .unionByName(spark.range(0, 1)
          .select(lit("HOT").as("act_symbol"),
            lit("2025-05-15").cast("date").as("date")))
        .withColumn("pad", sha2(col("act_symbol"), 256))
        .localCheckpoint(eager = true)

    val n1 = 400_000L
    val inc = incoming()
    val fixtures = Seq(
      ("uniform_1x", store(n1, hot = false)),
      (s"uniform_${factor}x", store(n1 * factor, hot = false)),
      (s"hot30_${factor}x", store(n1 * factor, hot = true)))

    def k5(st: DataFrame): DataFrame =
      graft.operators.LoadOps.slideForward(st, inc, "act_symbol", "date",
        windowDays = 3650)
    def j2(st: DataFrame): DataFrame =
      graft.operators.LoadOps.supersededCleanup(
        st.select("act_symbol", "date"),
        inc.select(col("act_symbol"), col("date")))

    // Execute the frame's OWN plan (df.count() would wrap it in a fresh
    // aggregate QueryExecution and leave this one un-run, is FinalPlan=false),
    // then read the finalized adaptive plan for skew-split evidence.
    def runAndInspect(df: DataFrame): (Long, Int) = {
      val plan = df.queryExecution.executedPlan
      val rows = plan.execute().count()
      val s = plan.toString
      val splits = "skewed=(\\d+)".r.findAllMatchIn(s).map(_.group(1).toInt).sum +
        "\\bskew=true\\b".r.findAllIn(s).length
      (rows, splits)
    }

    def run(label: String, mk: DataFrame => DataFrame): Unit = {
      println(s"-- $label --")
      println(f"${"fixture"}%-14s ${"mode"}%-22s ${"wall_s"}%8s ${"rows"}%10s  skewed_reads")
      fixtures.foreach { case (fname, st) =>
        Seq(("broadcast_default", "10MB", "true"),
            ("smj_skew_on", "-1", "true"),
            ("smj_skew_off", "-1", "false")).foreach {
          case (mname, bcast, skewOn) =>
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", bcast)
            spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", bcast)
            spark.conf.set("spark.sql.adaptive.skewJoin.enabled", skewOn)
            val df = mk(st)
            val t0 = System.nanoTime()
            val (rows, splits) = runAndInspect(df)
            val wall = (System.nanoTime() - t0) / 1e9
            println(f"$fname%-14s $mname%-22s $wall%8.2f $rows%10d  $splits")
        }
      }
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "10MB")
      spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "10MB")
      spark.conf.set("spark.sql.adaptive.skewJoin.enabled", "true")
    }

    // thresholds scaled to the fixture (defaults trigger at 256 MB
    // partitions — right for production, unreachable in a local sweep)
    spark.conf.set(
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "2m")
    spark.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "1m")
    spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "2")
    println("skew knobs: threshold=2m advisory=1m factor=2 " +
      s"(defaults 256m/64m/5; fixture: ${n1}×{1,$factor} rows, " +
      s"hot symbol = 30% of store)")
    run("K5 slideForward (left_anti on symbol, date-range residual)", k5)
    run("J2 supersededCleanup (equi on symbol, range residual)", j2)
  }

  // ------------------------------------------------------- prefix sums

  /** Two-level distributed prefix-sum operators on synthetic tables sized
    * off the corpus: `SweepLine.concurrency` over interval sets and
    * `Ranking.globalRowNumber` over skew-free key sets, each at 1× and
    * N×, plus the NAIVE single-partition global-window rank at both sizes
    * — the row that shows WHY the two-level layout exists (the naive plan
    * drags every row through one task; its wall should grow with data at
    * single-thread speed while the sharded rank rides the cluster).
    * Expected shape for the two-level ops: ratio ≤ data ratio (shuffle-
    * and scan-dominated, no quadratic anywhere).
    */
  def runPrefix(spark: SparkSession, sfDir: String, factor: Int,
                only: Option[Set[String]]): Unit = {
    import org.apache.spark.sql.expressions.Window
    import graft.operators.{Ranking, SweepLine}
    val par = spark.sparkContext.defaultParallelism
    val nDocs = spark.read.parquet(s"$sfDir/documents.parquet").count()
    val n1 = nDocs * 200 // ~1M intervals at sf0.1: data-dominated
    def intervals(n: Long): DataFrame =
      spark.range(0, n).select(
        ((col("id") * 2654435761L) % 31536000L).as("st"),
        (col("id") % 7200L).as("len"))
        .select(col("st"), (col("st") + col("len")).as("en"))
        .repartition(par).localCheckpoint(eager = true)
    def keys(n: Long): DataFrame =
      spark.range(0, n).select(col("id"),
        ((col("id") * 22695477L) % 1048576L).as("key"))
        .repartition(par).localCheckpoint(eager = true)
    val (iv1, ivN) = (intervals(n1), intervals(n1 * factor))
    val (k1, kN) = (keys(n1), keys(n1 * factor))
    def sweep(df: DataFrame): Long =
      SweepLine.concurrency(df, "st", "en", bucket = 86400L)
        .agg(max("conc"), sum("delta")).collect()(0).getLong(1) + df.count()
    def rank2(df: DataFrame): Long =
      Ranking.globalRowNumber(df, col("key"), col("id"))
        .agg(sum("rn")).collect()(0).getLong(0)
    def rankNaive(df: DataFrame): Long =
      df.withColumn("rn", row_number().over(
        Window.orderBy(col("key"), col("id"))).cast("long"))
        .agg(sum("rn")).collect()(0).getLong(0)
    header(factor)
    Seq[(String, DataFrame => Long)](
      ("sweep_concurrency", sweep),
      ("rank_two_level", rank2),
      ("rank_naive_window", rankNaive)).foreach { case (name, f) =>
      if (only.forall(_.contains(name))) {
        val (t1, r1) = time(() => f(if (name == "sweep_concurrency") iv1 else k1))
        val (tN, rN) = time(() => f(if (name == "sweep_concurrency") ivN else kN))
        row(name, t1, r1, tN, rN)
      }
    }
  }
}
