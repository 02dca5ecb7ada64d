package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

object Bench {

  /** One query's measurements: per-run wall seconds and the 1-minute
    * system load average read IMMEDIATELY BEFORE each run. The load
    * column is what makes the artifact self-defending: BENCH_r11's
    * driver capture implied 10–25× regressions that an idle
    * re-measurement refuted — with the load recorded alongside each
    * timing, a contaminated run carries its own explanation and the
    * reader never has to re-measure to adjudicate. */
  final case class QueryRuns(name: String, secs: Seq[Double],
                             loads: Seq[Double], extras: Int = 0)

  /** 1-minute load average from /proc/loadavg; -1 when unreadable
    * (non-Linux dev box) — a sentinel, never a fake-zero "idle". */
  def readLoadAvg(): Double =
    try {
      val src = scala.io.Source.fromFile("/proc/loadavg")
      try src.getLines().next().split(" ")(0).toDouble
      finally src.close()
    } catch { case _: Throwable => -1.0 }

  /** Time one full materialization per query (noop sink forces every
    * output column; count() would let Catalyst prune expensive
    * projections away). Cache is cleared between runs: operators
    * that cache internally (the dedup shingle indexes) must not
    * subsidize later queries or accumulate storage memory across the
    * full inventory in one JVM.
    *
    * Noise discipline (this box's wall clock swings ±50%: the same
    * binary measured 458 s / 162 s / 70 s across three round-6 runs,
    * and the r11 driver capture inflated a block of queries 3–25×):
    *
    *   - each query runs `runs` times; the reported number is the MIN
    *     (the standard noise-resistant estimator of query cost), with
    *     the raw per-run timings kept alongside;
    *   - the inventory is INTERLEAVED, not inner-looped: pass p runs
    *     the whole list rotated by p·n/runs positions, so a load spike
    *     spanning a time window lands on DIFFERENT queries in each
    *     pass — back-to-back inner runs would both sit inside the same
    *     spike and min-of-k could not absorb it;
    *   - the load average before every run is recorded per timing.
    *
    * A failed query must be VISIBLE in the result (-1 timing), never a
    * normal-looking fast number — a silently-swallowed failure is
    * indistinguishable from a fast run. A failure on ANY pass marks the
    * query failed (-1, skipped in later passes). (BenchSuite feeds a
    * deliberately-broken query and asserts the -1 + errors contract.) */
  def timeQueries(spark: SparkSession, sfDir: String,
                  queries: Seq[(String, (SparkSession, String) => DataFrame)],
                  runs: Int = 3): Seq[QueryRuns] = {
    val n = queries.size
    val secs = scala.collection.mutable.LinkedHashMap(
      queries.map { case (name, _) =>
        name -> scala.collection.mutable.ArrayBuffer.empty[Double] }: _*)
    val loads = scala.collection.mutable.LinkedHashMap(
      queries.map { case (name, _) =>
        name -> scala.collection.mutable.ArrayBuffer.empty[Double] }: _*)
    val failed = scala.collection.mutable.Set.empty[String]
    for (p <- 0 until runs) {
      val rot = if (n == 0) 0 else (p.toLong * n / runs).toInt % n
      val pass = queries.drop(rot) ++ queries.take(rot)
      pass.foreach { case (name, fn) =>
        if (!failed(name)) {
          spark.catalog.clearCache()
          loads(name) += readLoadAvg()
          val t0 = System.nanoTime()
          try {
            fn(spark, sfDir).write.format("noop").mode("overwrite").save()
            secs(name) += (System.nanoTime() - t0) / 1e9
          } catch {
            case e: Throwable =>
              System.err.println(
                s"bench: query '$name' FAILED: ${e.getClass.getName}: ${e.getMessage}")
              failed += name
              secs(name) += -1.0
          }
        }
      }
    }
    queries.map { case (name, _) =>
      QueryRuns(name, secs(name).toSeq, loads(name).toSeq) }
  }

  /** Min over a query's runs; -1 (failure) if any run failed. */
  def best(timings: Seq[Double]): Double =
    if (timings.exists(_ < 0)) -1.0 else timings.min

  /** The min is CONFIRMED when a second independent run lands within
    * `settleRatio` of it: the two smallest runs agreeing is the classic
    * stability criterion for the min estimator — one clean run could be
    * a fluke window, two agreeing clean runs are the query's floor.
    * (Sustained uniform load can confirm an inflated floor; the
    * per-run `loads` column stays in the artifact precisely so that
    * case remains adjudicable.) */
  def minConfirmed(ts: Seq[Double], settleRatio: Double = 1.25): Boolean = {
    val ok = ts.filter(_ >= 0).sorted
    ok.size >= 2 && (ok(0) == 0.0 || ok(1) <= ok(0) * settleRatio)
  }

  /** Queries whose run history does NOT pin their cost: max/min spread
    * above `ratio` (ambient load touched some run) AND the min
    * unconfirmed (no second run corroborates the floor — r16: a spread
    * whose min two runs agree on is evidence, not suspicion, so it no
    * longer flags). The min is still the reported number — this list
    * marks where it rests on a single sample. */
  def suspects(results: Seq[QueryRuns], ratio: Double = 3.0,
               settleRatio: Double = 1.25): Seq[String] =
    results.collect {
      case QueryRuns(name, ts, _, _)
        if ts.forall(_ >= 0) && ts.nonEmpty && ts.min > 0 &&
          ts.max / ts.min > ratio && !minConfirmed(ts, settleRatio) => name
    }

  /** Self-healing under load (VERDICT r15 task 5): give every
    * still-suspect query up to `maxExtra` additional timed runs until
    * its min is confirmed (or the spread drops below the flag ratio, or
    * the cap is hit). Extra runs append to the query's history — raw
    * timings and loads stay complete — and the count is recorded per
    * query, so the artifact says exactly how much re-measurement each
    * number needed. Rounds iterate across the suspect SET (one extra
    * run each, re-classify, repeat): a load spike spanning one round
    * lands on different queries in the next, the same interleaving
    * argument as [[timeQueries]]' rotated passes. */
  def settleSuspects(spark: SparkSession, sfDir: String,
                     queries: Seq[(String, (SparkSession, String) => DataFrame)],
                     results: Seq[QueryRuns], maxExtra: Int = 3,
                     ratio: Double = 3.0, settleRatio: Double = 1.25)
  : Seq[QueryRuns] = {
    val fns = queries.toMap
    val state = scala.collection.mutable.LinkedHashMap(
      results.map(r => r.name -> r): _*)
    var round = 0
    var open = suspects(state.values.toSeq, ratio, settleRatio)
      .filter(fns.contains)
    while (round < maxExtra && open.nonEmpty) {
      open.foreach { name =>
        val r = state(name)
        spark.catalog.clearCache()
        val load = readLoadAvg()
        val t0 = System.nanoTime()
        // a failed settle run must NOT poison a query whose gating
        // passes all succeeded (best() treats any -1 as query failure)
        // — drop the sample, keep the attempt count; the query stays
        // suspect and retries until the cap
        try {
          fns(name)(spark, sfDir).write.format("noop")
            .mode("overwrite").save()
          val sec = (System.nanoTime() - t0) / 1e9
          state(name) = r.copy(secs = r.secs :+ sec,
            loads = r.loads :+ load, extras = r.extras + 1)
        } catch {
          case e: Throwable =>
            System.err.println(s"bench: settle run of '$name' FAILED: " +
              s"${e.getClass.getName}: ${e.getMessage}")
            state(name) = r.copy(extras = r.extras + 1)
        }
      }
      round += 1
      open = suspects(state.values.toSeq, ratio, settleRatio)
        .filter(fns.contains)
    }
    state.values.toSeq
  }

  /** The driver's one-line JSON contract: `queries` carries the
    * per-query MIN across runs, `runs` the raw timings behind it,
    * `loads` the 1-min load average before each run (same order),
    * `load_suspect` the queries whose spread exceeds 3× (min still
    * reported — the list says WHERE to look, the loads say WHY);
    * `value` the total of the mins; failed queries are -1 in `queries`
    * and listed by name in `errors` (excluded from the total).
    *
    * `warmupSec`: wall seconds of the untimed shared-table warm-up
    * (−1 when not measured, e.g. unit tests). Reported as a separate
    * NON-GATING field: the one-off build cost excluded from every
    * timed entry must stay visible and adjudicable — without it the
    * totals silently stopped being comparable to pre-r13 rounds
    * (ADVICE r13). `warmupErrors`: the warm-up steps that failed
    * ([[warmUp]]), listed in `errors` as `warmup:<step>`. */
  def toJson(results: Seq[QueryRuns], sfDir: String,
             warmupSec: Double = -1.0,
             warmupErrors: Seq[String] = Nil): String = {
    val mins = results.map(r => r.name -> best(r.secs))
    val qs = mins.map { case (k, v) => "\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    val raw = results.map(r =>
      "\"" + r.name + "\":" + r.secs.mkString("[", ",", "]"))
      .mkString("{", ",", "}")
    val ld = results.map(r =>
      "\"" + r.name + "\":" + r.loads.mkString("[", ",", "]"))
      .mkString("{", ",", "}")
    val sus = suspects(results).map("\"" + _ + "\"").mkString("[", ",", "]")
    val extras = results.filter(_.extras > 0)
      .map(r => "\"" + r.name + "\":" + r.extras).mkString("{", ",", "}")
    val failed = errorsJson(mins, warmupErrors)
    val total = mins.map(_._2).filter(_ >= 0).sum
    s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,""" +
      s""""runs":$raw,"loads":$ld,"load_suspect":$sus,""" +
      s""""settle_extras":$extras,""" +
      s""""warmup_sec":$warmupSec,"errors":$failed,"sf":"$sfDir"}"""
  }

  /** Tail-survivable summary line: the round driver keeps only the last
    * ~2 KB of stdout, and the full JSON for 206 queries is far larger —
    * BENCH_r08/r09 both came back `"parsed": null` with ~75% of
    * per-query numbers lost. This line honors the driver's
    * `{"metric","value","unit","queries","sf"}` schema but carries only
    * the `topN` most expensive mins (bounded size regardless of
    * inventory growth), plus a pointer to the committed full artifact
    * and the suspect COUNT (names live in the full file). */
  def toSummaryJson(results: Seq[QueryRuns], sfDir: String,
                    fullFile: String, topN: Int = 20,
                    warmupErrors: Seq[String] = Nil): String = {
    val mins = results.map(r => r.name -> best(r.secs))
    val top = mins.filter(_._2 >= 0).sortBy(-_._2).take(topN)
      .map { case (k, v) => "\"" + k + "\":" + v }.mkString("{", ",", "}")
    val failed = errorsJson(mins, warmupErrors)
    val total = mins.map(_._2).filter(_ >= 0).sum
    s"""{"metric":"total","value":$total,"unit":"sec","queries":$top,""" +
      s""""queries_truncated":true,"n_queries":${results.size},""" +
      s""""n_load_suspect":${suspects(results).size},""" +
      s""""queries_full":"$fullFile","errors":$failed,"sf":"$sfDir"}"""
  }

  /** The `errors` array: failed queries, then failed warm-up steps. */
  private def errorsJson(mins: Seq[(String, Double)],
                         warmupErrors: Seq[String]): String =
    (mins.collect { case (k, v) if v < 0 => k } ++
      warmupErrors.map("warmup:" + _))
      .map("\"" + _ + "\"").mkString("[", ",", "]")

  /** Warm-up: JVM/codegen/classloading dominate the first query in a
    * fresh session, so one untimed run of the cheapest scan query makes
    * per-query numbers reflect query cost. */
  val scalarWarmup: Seq[(String, (SparkSession, String) => Any)] = Seq(
    ("a3_scalar_count", (s: SparkSession, d: String) =>
      SparkEntry.queries("a3_scalar_count")(s, d)
        .write.format("noop").mode("overwrite").save()))

  /** Shared-table warm-up: the shared tables are built once per
    * (JVM, sfDir) by whichever derived entry runs first — INSIDE that
    * entry's timer. Building them untimed keeps first-pass attribution
    * honest even at runs=1 (min-of-1 cannot absorb a build pass;
    * ADVICE r12). */
  val sharedTableWarmup: Seq[(String, (SparkSession, String) => Any)] =
    graft.queries.DedupOps.sharedTables :+
      (("curatedSurvivors", graft.queries.CurationOps.curatedSurvivors _))

  /** Run each warm-up step on its own and return the names of the ones
    * that failed, each also printed to stderr. A failed step must stay
    * visible: swallowed, a broken shared-table build would land
    * silently inside the first timed entry that reads the table. */
  def warmUp(spark: SparkSession, sfDir: String,
             steps: Seq[(String, (SparkSession, String) => Any)]): Seq[String] =
    steps.flatMap { case (name, step) =>
      try { step(spark, sfDir); None }
      catch {
        case e: Throwable =>
          System.err.println(s"bench: warm-up step '$name' FAILED: " +
            s"${e.getClass.getName}: ${e.getMessage}")
          Some(name)
      }
    }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val runsRaw = sys.env.getOrElse("SPARK_GRAFT_BENCH_RUNS", "3")
    val runs = runsRaw.toIntOption.getOrElse(
      sys.error(s"SPARK_GRAFT_BENCH_RUNS must be an integer, got '$runsRaw'"))
    require(runs >= 1, s"SPARK_GRAFT_BENCH_RUNS must be >= 1, got $runs")
    val spark = graft.core.Sessions.local("graft-bench")

    val scalarFailed = warmUp(spark, sfDir, scalarWarmup)
    // the shared-table build's wall time is MEASURED and published as
    // warmup_sec: an untimed-but-invisible build cost would make totals
    // incomparable across rounds (ADVICE r13)
    val warmT0 = System.nanoTime()
    val warmupErrors =
      scalarFailed ++ warmUp(spark, sfDir, sharedTableWarmup)
    val warmupSec = (System.nanoTime() - warmT0) / 1e9

    // dev iteration aid: SPARK_GRAFT_BENCH_ONLY=q1,q2 times a subset
    // (the driver never sets it — full inventory is the default)
    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY")
      .map(_.split(',').map(_.trim).filter(_.nonEmpty).toSet)
    val selected = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => only.forall(_.contains(n)) }
    val measured = timeQueries(spark, sfDir, selected, runs)
    // self-healing settle pass: still-suspect queries get bounded extra
    // runs until their min is confirmed — the artifact converges toward
    // idle-run mins even on a loaded box, no manual confirmation run
    val maxExtraRaw = sys.env.getOrElse("SPARK_GRAFT_BENCH_SETTLE", "3")
    val maxExtra = maxExtraRaw.toIntOption.getOrElse(
      sys.error(s"SPARK_GRAFT_BENCH_SETTLE must be an integer, got " +
        s"'$maxExtraRaw'"))
    val results =
      if (maxExtra <= 0) measured
      else settleSuspects(spark, sfDir, selected, measured, maxExtra)
    val full = toJson(results, sfDir, warmupSec, warmupErrors)
    // full artifact → committed file (survives regardless of stdout
    // truncation); overridable for tests
    val outFile = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "bench_out.json")
    java.nio.file.Files.writeString(java.nio.file.Paths.get(outFile), full + "\n")
    // full line first (complete when stdout is kept whole), compact
    // summary LAST so a 2 KB tail capture always parses the totals
    println(full)
    println(toSummaryJson(results, sfDir, outFile,
      warmupErrors = warmupErrors))
    spark.stop()
  }
}
