package graft

/** Per-round benchmark main: times registered queries at the given SF and
  * prints one JSON line per completed pass (cumulative best-so-far) plus a
  * short summary line last. Failures are reported per query (never folded
  * into a fake fast timing).
  *
  * Tiers (BENCH.md "Core tier", round 13 — the r12 driver run timed out at
  * 463 queries × 4 executions):
  *   - default (the per-round driver invocation sets no env): the
  *     `BenchCore` representative core (127 queries), min of 2 timed passes
  *     — sized to finish well inside the driver's window.
  *   - `SPARK_GRAFT_BENCH_FULL=1`: the full registry, min of 3 — the
  *     committed cross-round artifact (`bench/bench_r{N}.json`).
  *   - `SPARK_GRAFT_BENCH_ONLY=q1,q2`: explicit subset for local
  *     adjudication probes (artifact routed to `_probe.json`).
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Session.local()
    // ERROR, not WARN: the driver's BENCH record is a TAIL of the merged
    // stdout+stderr (~2 KB), and WindowExec's per-query single-partition
    // warnings are prolific enough to push the cumulative total/summary
    // lines out of that window — the per-pass emission only helps if the
    // lines stay in the tail. The same warnings remain visible in Verify
    // runs and ad-hoc locals, which WARN elsewhere.
    spark.sparkContext.setLogLevel("ERROR")
    // untimed warmup: open every table once so the first timed query does
    // not absorb file-listing/footer-read/codegen costs that belong to none
    // of them
    Seq("region", "nation", "customer", "supplier", "part", "orders",
      "lineitem", "events", "documents", "embeddings").foreach { t =>
      try graft.queries.Tables.t(spark, sfDir, t).count()
      catch { case _: Throwable => () }
    }
    // materialize path-based fixtures (s5/k2b/st3) untimed, so the fixture
    // build cost lands in none of the timed queries
    try graft.queries.Fixtures.ensureAll(spark, sfDir)
    catch { case _: Throwable => () }
    // Explicit subset for targeted local adjudication runs (comma-separated
    // query names); the per-round driver run never sets this.
    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY")
      .map(_.split(',').map(_.trim).filter(_.nonEmpty).toSet)
    val full = sys.env.get("SPARK_GRAFT_BENCH_FULL").contains("1")
    // Audit-tier queries (full-corpus S-curve / copy-detection audits) are
    // correctness-graded by Verify but skipped in the timed bench — each
    // has a registered sampled twin (dd17b/dd10b) carrying the bench
    // datapoint, per BENCH.md "audit tier". Naming them in
    // SPARK_GRAFT_BENCH_ONLY times them: an explicit list bypasses this.
    val auditTier = Set("dd17_lsh_scurve", "dd10_fingerprint_matches")
    val tier =
      if (only.isDefined) "probe" else if (full) "full" else "core"
    val selected = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => only.forall(_.contains(n)) }
      .filter { case (n, _) => only.isDefined || !auditTier.contains(n) }
      .filter { case (n, _) => tier != "core" ||
        graft.queries.BenchCore.names.contains(n) }
    // min of N timed passes: 2 in core (driver) mode — the window is the
    // binding constraint there — 3 otherwise, overridable for local runs.
    val runs = sys.env.get("SPARK_GRAFT_BENCH_RUNS").map(_.toInt)
      .getOrElse(if (tier == "core") 2 else 3)
    // steady-state warmup: one untimed pass of every query AT THE
    // BENCHMARKED SF. This fills the codegen cache and — critically —
    // drives the per-document parse/hash methods past the C2 invocation
    // threshold (~15k calls), which a smaller-SF warmup never reaches; the
    // first timed run would otherwise absorb tier-up compilation mid-query.
    // Same amortization a long-lived cluster gets for free; every timed
    // number below still includes all data-proportional work at this SF.
    //
    // SKIPPED in core (driver) mode: there, timed pass 1 doubles as the
    // warmup — its JIT-inflated numbers are discarded by min() against
    // pass 2, which is the same steady state a separate warmup would
    // deliver, at one full pass less wall-clock. A degraded-host window
    // measured 1073 s for warmup + 2 passes of the 127-query core — too
    // close to the bound that killed r12's driver run; two passes with
    // pass-1-as-warmup is ~690 s on the same box (BENCH.md "Core tier").
    if (tier != "core") selected.foreach { case (_, fn) =>
      spark.sharedState.cacheManager.clearCache()
      try fn(spark, sfDir).count()
      catch { case _: Throwable => () }
    }
    // Core mode: targeted untimed warm of ONLY the JIT-sensitive family
    // (VERDICT r13 #2 / OPTIMIZATION_r14.md "measurement fix"). Pass-1-as-
    // warmup leaves the per-document parse/hash methods short of the C2
    // invocation threshold for exactly the u*/pipe* queries — the r13
    // driver artifact recorded pipe1f at 11.09 s vs the same code's 1.31 s
    // steady state, and pass 2's min() can still land mid-tier-up
    // compilation. One untimed execution of this 23-query family (tens of
    // seconds — NOT the full-registry warm that overran the r12 window)
    // reaches steady state; every timed number below still includes all
    // data-proportional work at this SF. r15 (ADVICE r14): the family is
    // the EXPLICIT BenchCore.warmNames list — the exact set the r14 name
    // prefixes matched — so a future query sharing a prefix cannot
    // silently join it, nor a renamed member silently leave it.
    if (tier == "core") selected
      .filter { case (n, _) => graft.queries.BenchCore.warmNames.contains(n) }
      .foreach { case (_, fn) =>
        spark.sharedState.cacheManager.clearCache()
        try fn(spark, sfDir).count()
        catch { case _: Throwable => () }
      }
    val timings = scala.collection.mutable.LinkedHashMap[String, Double]()
    val errors = scala.collection.mutable.LinkedHashMap[String, String]()
    val artifactPath = resolveArtifactPath(tier)
    def emit(pass: Int): Unit = {
      // Cumulative best-so-far after EVERY pass (monotone): even a
      // timeout mid-pass leaves the previous pass's complete, bindable
      // record on stdout and in the artifact file (r12's driver run
      // timed out with nothing parseable — VERDICT r12 #1a).
      val qs = timings.map { case (k, v) => s""""$k":$v""" }
        .mkString("{", ",", "}")
      val es = errors.map { case (k, v) => s""""$k":"$v"""" }
        .mkString("{", ",", "}")
      val total = timings.values.sum
      val line = s"""{"metric":"total","value":$total,"unit":"sec"""" +
        s""","tier":"$tier","pass":$pass,"runs":$runs,"queries":$qs""" +
        s""","errors":$es,"sf":"$sfDir"}"""
      println(line)
      val artifact = persist(artifactPath, line)
      // Short summary line LAST each pass: the driver records the TAIL of
      // stdout (~2 KB), which the ~4 KB per-query line above always
      // overruns — printed after it, this line is whole inside any tail
      // window. Named "total_summary" (not "total") so no consumer —
      // first-match, last-match, or tail — can bind it as the complete
      // record; it also names the committed artifact with the full map.
      println(s"""{"metric":"total_summary","value":$total,"unit":"sec"""" +
        s""","n":${timings.size},"tier":"$tier","pass":$pass""" +
        s""","runs":$runs,"sf":"$sfDir","artifact":"$artifact"}""")
    }
    // min of N timed runs, INTERLEAVED round-robin across the selection:
    // pass 1 times every query, then pass 2, … On a shared VM a noisy
    // window (neighbor steal, GC storm, page-cache churn) spans minutes —
    // back-to-back per-query repeats all land inside it and the "min"
    // inherits the noise for exactly the queries that ran then (round 8's
    // uniformly inflated artifact). Interleaving decorrelates session heat
    // from query identity. Each timed run still starts cold on the cache
    // manager — queries that cache intermediates must not leave storage
    // pinned for their successors.
    (1 to runs).foreach { pass =>
      selected.foreach { case (name, fn) =>
        spark.sharedState.cacheManager.clearCache()
        val t0 = System.nanoTime()
        try {
          fn(spark, sfDir).count()
          val dt = (System.nanoTime() - t0) / 1e9
          timings(name) = math.min(timings.getOrElse(name, Double.MaxValue), dt)
          errors.remove(name)
        } catch {
          case e: Throwable => if (!timings.contains(name))
            errors(name) = Option(e.getMessage).getOrElse(e.getClass.getName)
              .replaceAll("[\\\\\"\\n\\r\\t]", " ").take(160)
        }
      }
      System.err.println(s"bench pass $pass/$runs done")
      emit(pass)
    }
    spark.stop()
  }

  /** Artifact destination under `bench/` in-repo. The driver's BENCH tail
    * truncates the stdout line at ~2 KB, which hides half the registry; the
    * committed artifact is the durable record (BENCH.md). N = max round seen
    * in existing BENCH_r\*.json artifacts + 1, overridable via
    * SPARK_GRAFT_BENCH_OUT (full path) for ad-hoc local runs. Tier-suffixed
    * so runs cannot clobber each other's records: a BENCH_ONLY probe landed
    * on the round artifact twice in r12 before the `_probe` split, and the
    * driver's core-tier run must not overwrite the committed full-coverage
    * `bench_r{N}.json`. */
  private def resolveArtifactPath(tier: String): java.nio.file.Path = {
    import java.nio.file.Paths
    val repo = Paths.get(sys.env.getOrElse("SPARK_GRAFT_REPO", "/root/repo"))
    sys.env.get("SPARK_GRAFT_BENCH_OUT").map(Paths.get(_)).getOrElse {
      val rounds = Option(repo.toFile.list()).getOrElse(Array.empty[String])
        .flatMap { n => "^BENCH_r(\\d+)\\.json$".r.findFirstMatchIn(n).map(_.group(1).toInt) }
      val n = if (rounds.isEmpty) 0 else rounds.max + 1
      val suffix = tier match {
        case "probe" => "_probe"
        case "core"  => "_core"
        case _       => ""
      }
      repo.resolve(f"bench/bench_r$n%02d$suffix.json")
    }
  }

  /** Write (overwrite) the timing line to the artifact path; returns the
    * written path (or "unpersisted" on failure) for the stdout summary. */
  private def persist(out: java.nio.file.Path, line: String): String = {
    import java.nio.file.Files
    try {
      Files.createDirectories(out.getParent)
      Files.write(out, (line + "\n").getBytes("UTF-8"))
      System.err.println(s"bench artifact written: $out")
      out.toString
    } catch {
      case e: Throwable =>
        System.err.println(s"bench persist failed: $e"); "unpersisted"
    }
  }
}
