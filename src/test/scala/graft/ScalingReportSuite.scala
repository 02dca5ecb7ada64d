package graft

import java.nio.file.{Files, Paths}

import graft.queries.Inventory

/** Measured scaling curves across the three driver SFs (0.001 → 0.01 →
  * 0.1: two decades of data growth) for one representative query per
  * operator family, regenerated into `target/SCALING.md` (README's
  * "Running" section gives the `cp` that refreshes the committed copy).
  *
  * What this is evidence OF: the structural 100 TB argument lives in
  * PlanSpec (no CartesianProduct / data-sized BNLJ / unpartitioned
  * corpus windows anywhere in the gated plans) — plan shape is the
  * primary survival proof because a 32-thread single JVM cannot
  * exhibit cluster-scale shuffle behavior. What plan shape CANNOT
  * catch is accidental super-linear work inside a structurally fine
  * plan (an O(n²) expression fold, a per-row re-scan, an index that
  * degenerates with corpus growth). A measured time-vs-data curve
  * does: anything super-linear shows α ≫ 1 over the 0.01→0.1 decade.
  *
  * Honest caveats, stated in the artifact: fixed JVM/planning overhead
  * DEFLATES α at these sizes (a quarter-second query is mostly
  * constant cost), so α is a one-sided guard — small α does not prove
  * O(n), but α near 2 reliably flags O(n²). Timings are min-of-3 on a
  * machine whose ambient load swings (BASELINE.md); the suite asserts
  * the guard bound, not the exact numbers.
  */
class ScalingReportSuite extends SparkSuite {

  private val sfs = Seq("0.001", "0.01", "0.1")
  private def dir(sf: String) = s"/root/testdata/sf$sf"

  /** One representative per family, biased toward the family's
    * heaviest gated query (bench_out.json) so the curve measures the
    * operator, not the session. */
  private val picks: Seq[(String, String)] = Seq(
    "a1_group_count_avg" -> "aggregation",
    "j1_inner_join" -> "join",
    "w2_sessionize" -> "window",
    "t3_funnel" -> "temporal",
    "dedup_minhash_lsh" -> "dedup",
    "sim_knn_ivf" -> "ANN",
    "text_char_lm" -> "text",
    "text_bpe_encode" -> "tokenizer",
    "cur_pack_sequences" -> "curation",
    "cur_epoch_shuffle" -> "shuffle-order",
    "g2_pagerank" -> "graph",
    "cdc_apply" -> "CDC",
    "mm_dedup_image" -> "multimodal",
    "text_bpe_train" -> "tokenizer-train",
    "sim_kmeans_train" -> "ANN-train")

  /** Super-linearity guard on the 0.01→0.1 decade: α = log10(t₀.₁/t₀.₀₁).
    * Linear scaling with zero overhead is α = 1; measured fixed costs
    * push real α well below 1 here, so 1.35 leaves noise headroom
    * while still failing anything quadratic (α → 2). */
  private val AlphaBound = 1.35

  /** Written under `target/`, never over the tracked `SCALING.md`. */
  private val Report = Paths.get("target", "SCALING.md")

  test("per-family scaling curves stay sub-quadratic; regenerate SCALING.md") {
    val fns = picks.map { case (name, _) => name -> Inventory.byName(name).run }
    // per SF: min of 3 forced materializations (Bench's noop-sink path)
    val bySf: Map[String, Map[String, Double]] = sfs.map { sf =>
      sf -> Bench.timeQueries(spark, dir(sf), fns, runs = 3)
        .map(r => r.name -> Bench.best(r.secs)).toMap
    }.toMap

    val rowCounts = Seq("lineitem", "events", "documents").map { t =>
      t -> sfs.map(sf =>
        sf -> spark.read.parquet(s"${dir(sf)}/$t.parquet").count()).toMap
    }

    val lines = scala.collection.mutable.ArrayBuffer[String](
      "# SCALING — measured time-vs-data curves per operator family",
      "",
      "Regenerated by `ScalingReportSuite` (fails the build if any",
      "family's 0.01→0.1 decade exponent exceeds " + AlphaBound + ").",
      "α = log10(t(sf0.1)/t(sf0.01)) over a 10× data decade: linear",
      "work is α = 1, quadratic α → 2. Fixed JVM/planning overhead",
      "deflates α at these sizes, so α is a ONE-SIDED super-linearity",
      "guard — the structural 100 TB argument (no products, no",
      "data-sized broadcasts, no unpartitioned corpus windows) is",
      "PlanSpec's sweep; this artifact catches super-linear work",
      "hiding inside a structurally clean plan. Timings: min of 3",
      "noop-sink materializations (Bench's estimator) on local[32].",
      "",
      "Data decades (rows): " + rowCounts.map { case (t, m) =>
        s"$t ${sfs.map(m(_)).mkString(" → ")}" }.mkString("; "),
      "",
      "| query | family | t(sf0.001) | t(sf0.01) | t(sf0.1) | decade × | α | verdict |",
      "|---|---|---|---|---|---|---|---|")

    val failures = scala.collection.mutable.ArrayBuffer[String]()
    picks.foreach { case (name, family) =>
      val t = sfs.map(bySf(_)(name))
      assert(t.forall(_ >= 0), s"$name failed at some SF: $t")
      val ratio = t(2) / t(1)
      val alpha = math.log10(ratio)
      val verdict =
        if (alpha > AlphaBound) { failures += name; "FAIL super-linear" }
        else if (alpha <= 0.15) "overhead-bound"
        else if (alpha <= 1.05) "sub-linear"
        else "~linear"
      lines += f"| $name | $family | ${t(0)}%.3f s | ${t(1)}%.3f s " +
        f"| ${t(2)}%.3f s | ${ratio}%.2f× | $alpha%.2f | $verdict |"
    }

    Files.createDirectories(Report.getParent)
    Files.write(Report, (lines.mkString("\n") + "\n").getBytes("UTF-8"))
    assert(failures.isEmpty,
      s"super-linear decade exponent (α > $AlphaBound): $failures")
  }

  /** VERDICT r17 item 4: the whole point of summary routing is a
    * corpus-INDEPENDENT serve cost, so that claim must be a measured,
    * build-failing fact — not prose. The gated entry's own timing
    * cannot show it (its run() includes the corpus-proportional store
    * BUILD), so this test builds + registers once per SF untimed, then
    * times ONLY re-materializations of the returned routed dashboard:
    * SummaryRewrite re-plans each one onto the |keys|-row summary ⋈
    * |keys|-row dim (PlanSpec pins base-unscanned), so the decade
    * exponent must sit at the noise floor. Declared AFTER the family
    * sweep so its row appends to the regenerated SCALING.md. */
  test("routed-MV serve cost is corpus-independent; append its row to SCALING.md") {
    val ServeAlphaBound = 0.2
    def measure(): Seq[Double] = sfs.map { sf =>
      // build base/summary/dim and register (untimed, corpus-sized)
      val df = Inventory.byName("cdc_mv_routed_dashboard").run(spark, dir(sf))
      (1 to 5).map { _ =>
        spark.catalog.clearCache()
        val t0 = System.nanoTime()
        df.write.format("noop").mode("overwrite").save()
        (System.nanoTime() - t0) / 1e9
      }.min
    }
    // the serve is a fixed-size summary scan (~0.2 s, mostly planning
    // overhead), so a single ambient-load spike between the sf0.01 and
    // sf0.1 measurements can fake a 1.6× "growth"; adjudicate once by
    // re-measuring before failing the build, keeping the min per SF
    // across attempts
    var ts = measure()
    if (math.log10(ts(2) / ts(1)) > ServeAlphaBound)
      ts = ts.zip(measure()).map { case (a, b) => math.min(a, b) }
    val ratio = ts(2) / ts(1)
    val alpha = math.log10(ratio)
    val Marker = "| cdc_mv_routed_dashboard (serve only) |"
    val row = f"$Marker routed-MV " +
      f"| ${ts(0)}%.3f s | ${ts(1)}%.3f s | ${ts(2)}%.3f s " +
      f"| $ratio%.2f× | $alpha%.2f | corpus-independent serve |"
    val note = "\nRouted-MV serve row: store build (corpus-sized, amortized" +
      "\nacross every dashboard refresh) is excluded; the timed query is" +
      "\nthe re-materialized routed dashboard, which scans only the" +
      "\n|keys|-row summary and dim (PlanSpec pins base-unscanned). Its" +
      "\nguard bound is α ≤ " + ServeAlphaBound + " — serve cost must not grow with the" +
      "\ncorpus at all, which is the entire value of the MV loop.\n"
    // idempotent append: running just this test against an
    // already-annotated report replaces the old row/note instead of
    // accumulating duplicates
    Files.createDirectories(Report.getParent)
    val prior =
      if (Files.exists(Report)) new String(Files.readAllBytes(Report), "UTF-8")
      else ""
    val base = prior
      .split("\n").takeWhile(l => !l.startsWith(Marker)).mkString("\n")
      .stripLineEnd + "\n"
    Files.write(Report, (base + row + "\n" + note).getBytes("UTF-8"))
    assert(alpha <= ServeAlphaBound,
      f"routed serve cost grew across the decade (α = $alpha%.2f > " +
        f"$ServeAlphaBound): ${ts.mkString(", ")}")
  }
}
