package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** The bench gate's integrity contract: a failing query can never
  * impersonate a fast run, the reported number is the min over
  * repeated INTERLEAVED runs (noise resistance), and the artifact is
  * self-defending against ambient load — every timing carries the
  * load average measured before it, and spread-contaminated queries
  * are flagged by name. */
class BenchSuite extends SparkSuite {
  import spark.implicits._

  test("a deliberately-broken query records -1 and lands in the errors list") {
    val good = (s: SparkSession, _: String) => {
      import s.implicits._
      Seq(1, 2, 3).toDF("x")
    }
    val broken = (_: SparkSession, _: String) =>
      throw new RuntimeException("boom")
    val results = Bench.timeQueries(spark, "/tmp/unused",
      Seq("q_ok" -> good, "q_broken" -> broken))
    val byName = results.map(r => r.name -> r.secs).toMap
    assert(Bench.best(byName("q_ok")) >= 0.0)
    assert(Bench.best(byName("q_broken")) === -1.0)

    val json = Bench.toJson(results, "/tmp/unused")
    assert(json.contains(""""errors":["q_broken"]"""))
    assert(json.contains(""""q_broken":-1"""))
    // the total excludes the failure instead of silently absorbing it
    assert(json.contains(s""""value":${Bench.best(byName("q_ok"))}"""))
    // the untimed warm-up cost is a visible (non-gating) field: -1
    // sentinel when unmeasured, the measured wall seconds in main()
    assert(json.contains(""""warmup_sec":-1"""))
    assert(Bench.toJson(results, "/tmp/unused", 12.5)
      .contains(""""warmup_sec":12.5"""))
  }

  test("a failed warm-up step is reported on stderr and listed as warmup:<step> in the one JSON line") {
    val steps = Bench.scalarWarmup ++ Bench.sharedTableWarmup
    val failed = Bench.warmUp(spark, "/nonexistent/sf", steps)
    // every step reads the missing data dir, so every step fails — and
    // each failure is a name, not a swallowed exception
    assert(failed === steps.map(_._1))
    assert(failed.contains("clusterLabels") && failed.contains("curatedSurvivors"))
    val json = Bench.toJson(Nil, "/nonexistent/sf", 1.0, failed)
    assert(!json.contains("\n"))
    assert(json.contains(failed.map("\"warmup:" + _ + "\"")
      .mkString(""""errors":[""", ",", "]")))
    assert(Bench.toSummaryJson(Nil, "/nonexistent/sf", "unused",
      warmupErrors = failed).contains("\"warmup:a3_scalar_count\""))
    // a warm-up that succeeds reports nothing
    assert(Bench.warmUp(spark, "/nonexistent/sf",
      Seq(("ok", (_: SparkSession, _: String) => ()))).isEmpty)
  }

  test("runtime failures (not just construction) also surface as -1") {
    val lazyBoom = (s: SparkSession, _: String) => {
      import s.implicits._
      Seq("not-a-number").toDF("v").selectExpr("CAST(v AS INT) + 1 AS n")
        .filter($"n" > 0) // ANSI cast throws at EXECUTION, not planning
    }
    val results = Bench.timeQueries(spark, "/tmp/unused", Seq("q_lazy" -> lazyBoom))
    assert(Bench.best(results.head.secs) === -1.0)
  }

  test("each query runs `runs` times; the min is reported; raw runs AND loads are kept") {
    val good = (s: SparkSession, _: String) => {
      import s.implicits._
      Seq(1, 2, 3).toDF("x")
    }
    val results = Bench.timeQueries(spark, "/tmp/unused",
      Seq("q_ok" -> good), runs = 3)
    val r = results.head
    assert(r.secs.length === 3)
    assert(r.secs.forall(_ >= 0.0))
    assert(Bench.best(r.secs) === r.secs.min)
    // one load reading per run, taken on this Linux box → real values
    assert(r.loads.length === 3)
    assert(r.loads.forall(_ >= 0.0))

    val json = Bench.toJson(results, "/tmp/unused")
    // the min lands in `queries`, the raw spread in `runs`, the
    // per-run load context in `loads`
    assert(json.contains(s""""queries":{"q_ok":${r.secs.min}}"""))
    assert(json.contains(s""""runs":{"q_ok":[${r.secs.mkString(",")}]}"""))
    assert(json.contains(s""""loads":{"q_ok":[${r.loads.mkString(",")}]}"""))
  }

  test("passes are interleaved across the inventory, not inner-looped per query") {
    // a load spike spans a TIME window; if a query's runs are
    // back-to-back, both sit inside the spike and min-of-k cannot
    // absorb it. Contract: in every pass the full inventory runs
    // before any query's next run starts, and pass p is rotated so
    // the same time window lands on different queries.
    val order = scala.collection.mutable.ArrayBuffer.empty[String]
    def q(name: String) = (s: SparkSession, _: String) => {
      order += name
      import s.implicits._
      Seq(1).toDF("x")
    }
    val names = Seq("qa", "qb", "qc")
    Bench.timeQueries(spark, "/tmp/unused",
      names.map(n => n -> q(n)), runs = 3)
    assert(order.length === 9)
    val passes = order.grouped(3).toSeq
    // every pass covers the whole inventory once …
    passes.foreach(p => assert(p.toSet === names.toSet))
    // … and consecutive passes start at a different rotation
    assert(passes.map(_.head).distinct.length > 1,
      s"all passes ran in the same order: $passes")
  }

  test("load-suspect flagging: a >3x spread with an UNCONFIRMED min is named; two agreeing mins clear the flag") {
    val quiet = Bench.QueryRuns("q_quiet", Seq(1.0, 1.1, 0.9), Seq(0.1, 0.2, 0.1))
    // one spike but the two smallest runs agree within 25% — the min is
    // corroborated, so the spread is evidence of a spike, not suspicion
    // about the number (r16 confirmation semantics)
    val confirmed = Bench.QueryRuns("q_confirmed",
      Seq(0.5, 12.3, 0.6), Seq(0.1, 31.0, 0.2))
    // spread AND no second run near the min — the reported number
    // rests on a single sample: flagged
    val loaded = Bench.QueryRuns("q_loaded",
      Seq(0.5, 12.3, 2.0), Seq(0.1, 31.0, 18.0))
    val dead = Bench.QueryRuns("q_dead", Seq(-1.0), Seq(0.1))
    assert(Bench.suspects(Seq(quiet, confirmed, loaded, dead))
      === Seq("q_loaded"))
    val json = Bench.toJson(Seq(quiet, confirmed, loaded, dead), "/tmp/unused")
    assert(json.contains(""""load_suspect":["q_loaded"]"""))
    // the suspect's reported number is still the noise-resistant min
    assert(json.contains(""""q_loaded":0.5"""))
    // the contaminated run's load is right there in the artifact —
    // the reader adjudicates without re-measuring
    assert(json.contains(""""q_loaded":[0.1,31.0,18.0]"""))
    // a failed query is an error, never a "suspect"
    assert(json.contains(""""errors":["q_dead"]"""))
  }

  test("settle pass: induced load-like spread converges without a manual confirmation run; a never-stable query hits the cap and stays flagged") {
    // q_spiky: the first two runs land in a simulated load window (2 s),
    // later runs see the idle floor (0.2 s) — after timeQueries it is
    // suspect (spread 10x, min unconfirmed); settleSuspects must re-run
    // it until a second ~0.2 s sample confirms the min
    val calls = new java.util.concurrent.atomic.AtomicInteger(0)
    val spiky = (s: SparkSession, _: String) => {
      val n = calls.incrementAndGet()
      Thread.sleep(if (n <= 2) 600 else 60)
      import s.implicits._
      Seq(1).toDF("x")
    }
    val qs = Seq("q_spiky" -> spiky)
    val measured = Bench.timeQueries(spark, "/tmp/unused", qs, runs = 2)
    assert(Bench.suspects(measured).nonEmpty === false ||
      Bench.suspects(measured) === Seq("q_spiky"))
    // force the suspect state deterministically (both timed runs inside
    // the "load window")
    val forced = measured.map(r => r.copy(secs = Seq(0.6, 6.2),
      loads = Seq(9.0, 9.0)))
    assert(Bench.suspects(forced) === Seq("q_spiky"))
    val settled = Bench.settleSuspects(spark, "/tmp/unused", qs, forced,
      maxExtra = 4)
    val r = settled.head
    assert(Bench.suspects(settled).isEmpty,
      s"settle did not converge: ${r.secs}")
    assert(r.extras >= 1 && r.extras <= 4)
    assert(Bench.best(r.secs) < 0.6, s"min did not reach the idle floor: ${r.secs}")
    val json = Bench.toJson(settled, "/tmp/unused")
    assert(json.contains(s""""settle_extras":{"q_spiky":${r.extras}}"""))

    // a query whose every run draws a fresh random-ish cost never
    // confirms: the cap bounds the extra work and the flag SURVIVES —
    // honest non-convergence, not a silent clear
    val bump = new java.util.concurrent.atomic.AtomicInteger(0)
    val unstable = (s: SparkSession, _: String) => {
      // strictly decreasing by >25% per call: no two runs ever agree
      val n = bump.incrementAndGet()
      Thread.sleep(math.max(3000 / (1 << math.min(n, 8)), 1))
      import s.implicits._
      Seq(1).toDF("x")
    }
    val qs2 = Seq("q_unstable" -> unstable)
    val forced2 = Seq(Bench.QueryRuns("q_unstable", Seq(2.0, 30.0),
      Seq(9.0, 9.0)))
    val settled2 = Bench.settleSuspects(spark, "/tmp/unused", qs2, forced2,
      maxExtra = 3)
    assert(settled2.head.extras === 3, "cap not honored")
    assert(Bench.suspects(settled2) === Seq("q_unstable"),
      "non-converged query was silently cleared")
  }

  test("summary line stays tail-sized for a 200-query inventory and carries the totals") {
    // the driver keeps only the last ~2 KB of stdout; the summary line
    // must fit that window no matter how large the inventory grows,
    // while still honoring the {"metric","value","unit","queries","sf"}
    // schema and pointing at the committed full artifact
    val results: Seq[Bench.QueryRuns] =
      (1 to 200).map(i => Bench.QueryRuns(f"query_with_a_long_name_$i%03d",
        Seq(i / 7.0, i / 6.5), Seq(0.1, 0.1))) :+
        Bench.QueryRuns("q_broken", Seq(-1.0), Seq(0.1))
    val s = Bench.toSummaryJson(results, "/root/testdata/sf0.1", "bench_out.json")
    assert(s.length < 1800, s"summary is ${s.length} bytes — exceeds the tail budget")
    val total = results.map(r => Bench.best(r.secs)).filter(_ >= 0).sum
    assert(s.contains(s""""value":$total"""))
    assert(s.contains(""""metric":"total""""))
    assert(s.contains(""""queries_full":"bench_out.json""""))
    assert(s.contains(""""errors":["q_broken"]"""))
    assert(s.contains(""""n_queries":201"""))
    assert(s.contains(""""n_load_suspect":0"""))
    // the compact map keeps the MOST EXPENSIVE mins (the ones worth
    // reading first), not an arbitrary prefix
    assert(s.contains("query_with_a_long_name_200"))
    assert(!s.contains("query_with_a_long_name_001"))
  }

  test("a failure stops further runs for that query (no wasted re-runs of a broken plan)") {
    var calls = 0
    val broken = (_: SparkSession, _: String) => {
      calls += 1
      throw new RuntimeException("boom")
    }
    Bench.timeQueries(spark, "/tmp/unused", Seq("q_broken" -> broken), runs = 3)
    assert(calls === 1)
  }
}
