package graft

import org.apache.spark.sql.catalyst.expressions.Alias
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Filter, LogicalPlan, Project}
import org.apache.spark.sql.execution.datasources.LogicalRelation
import org.apache.spark.sql.functions._

import graft.plans.{MvRegistry, SummaryRewrite}

/** Transparent summary routing (plans/SummaryRewrite): an Aggregate
  * over a registered base parquet table re-plans onto the maintained
  * summary — same answer, |keys|-row scan — and every shape the
  * summary cannot PROVABLY answer stays on the base. */
class SummaryRewriteSpec extends SparkSuite {

  import spark.implicits._

  /** Root paths scanned by a plan's relations. */
  private def scannedPaths(df: org.apache.spark.sql.DataFrame): Seq[String] =
    relationPaths(df.queryExecution.optimizedPlan)

  private def relationPaths(plan: LogicalPlan): Seq[String] =
    plan.collect {
      case lr: LogicalRelation => lr.relation match {
        case fs: org.apache.spark.sql.execution.datasources.HadoopFsRelation =>
          fs.location.rootPaths.map(_.toString)
        case _ => Nil
      }
    }.flatten

  private def fixture(): (String, String) = {
    val base = tmpDir("mv-base"); val mv = tmpDir("mv-sum")
    (0L until 1000L)
      .map(i => (s"t${i % 5}", i % 7, if (i % 11 == 0) null
        else java.lang.Long.valueOf(i)))
      .toDF("event_type", "junk", "v_micro")
      .write.mode("overwrite").parquet(base)
    spark.read.parquet(base)
      .groupBy("event_type")
      .agg(count(lit(1)).as("cnt"), sum("v_micro").as("sum_v"),
        count("v_micro").as("nn_v"), min("v_micro").as("min_v"),
        max("v_micro").as("max_v"))
      .write.mode("overwrite").parquet(mv)
    (base, mv)
  }

  private def register(base: String, mv: String): Unit =
    MvRegistry.register(spark, "file:" + base, MvRegistry.Summary(
      mv, Seq("event_type"), "cnt",
      sums = Map("v_micro" -> "sum_v"), nns = Map("v_micro" -> "nn_v"),
      mins = Map("v_micro" -> "min_v"), maxs = Map("v_micro" -> "max_v")))

  test("count+sum at the summary grain re-plans onto the summary, same answer") {
    val (base, mv) = fixture()
    val q = () => spark.read.parquet(base)
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"), sum("v_micro").as("s"),
        count(col("v_micro")).as("nn"), avg("v_micro").as("a"),
        min("v_micro").as("lo"), max("v_micro").as("hi"))
      .orderBy("event_type")
    val expect = q().collect() // registry empty: computed from base
    register(base, mv)
    try {
      val routed = q()
      val paths = scannedPaths(routed)
      assert(paths.exists(_.contains(mv)), s"summary not scanned: $paths")
      assert(!paths.exists(_.contains(base)), s"base still scanned: $paths")
      assert(routed.collect() === expect)
      // downstream operators survive the switch (exprIds preserved):
      // the post-aggregate filter + projection resolve and agree
      val downstream = q().filter(col("n") > 100L)
        .select(col("event_type"), (col("s") / col("n")).as("avg"))
      assert(downstream.collect().length === 5)
    } finally MvRegistry.clear()
  }

  test("optimizing a routed aggregate launches no Spark job: the summary is read with the schema taken at registration") {
    val (base, mv) = fixture()
    val q = spark.read.parquet(base).groupBy("event_type")
      .agg(count(lit(1)).as("n"), sum("v_micro").as("s"),
        min("v_micro").as("lo"))
    register(base, mv)
    try {
      assert(jobsDuring(q.queryExecution.optimizedPlan) === 0)
      val paths = relationPaths(q.queryExecution.optimizedPlan)
      assert(paths.exists(_.contains(mv)), s"summary not scanned: $paths")
      assert(!paths.exists(_.contains(base)), s"base still scanned: $paths")
    } finally MvRegistry.clear()
  }

  test("top-k dashboard shape: ORDER BY agg output + LIMIT above the aggregate routes; TakeOrderedAndProject sits over the summary scan") {
    val (base, mv) = fixture()
    def q() = spark.read.parquet(base)
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"), sum("v_micro").as("s"))
      .orderBy(col("n").desc, col("event_type"))
      .limit(3)
    val expect = q().collect()
    register(base, mv)
    try {
      val routed = q()
      val paths = scannedPaths(routed)
      assert(paths.exists(_.contains(mv)), s"summary not scanned: $paths")
      assert(!paths.exists(_.contains(base)), s"base still scanned: $paths")
      // the Sort+Limit must stay the top-k physical form (per-partition
      // k + k-row driver merge), now over |keys| summary rows
      assert(routed.queryExecution.executedPlan.toString
          .contains("TakeOrderedAndProject"),
        routed.queryExecution.executedPlan.toString)
      assert(routed.collect() === expect)
    } finally MvRegistry.clear()
  }

  test("HAVING shape: a Filter on aggregate output routes and splits the groups non-vacuously") {
    val (base, mv) = fixture()
    def q() = spark.read.parquet(base)
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"), sum("v_micro").as("s"))
      .filter(col("s") % 5 === 0) // HAVING on the served SUM
      .orderBy("event_type")
    val expect = q().collect()
    // the predicate must actually split (1 of 5 fixture sums ≡ 0 mod 5)
    assert(expect.nonEmpty && expect.length < 5,
      s"vacuous HAVING fixture: ${expect.length} of 5 groups kept")
    register(base, mv)
    try {
      val routed = q()
      val paths = scannedPaths(routed)
      assert(paths.exists(_.contains(mv)), s"summary not scanned: $paths")
      assert(!paths.exists(_.contains(base)), s"base still scanned: $paths")
      assert(routed.collect() === expect)
    } finally MvRegistry.clear()
  }

  test("share-of-total shape: an unpartitioned window above the aggregate routes onto the |keys|-row summary") {
    val (base, mv) = fixture()
    def q() = spark.read.parquet(base)
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"))
      .withColumn("share_ppm", expr("(n * 1000000) DIV SUM(n) OVER ()"))
      .orderBy("event_type")
    val expect = q().collect()
    assert(expect.map(_.getLong(2)).sum === 1000000L) // exact ppm total
    register(base, mv)
    try {
      val routed = q()
      val paths = scannedPaths(routed)
      assert(paths.exists(_.contains(mv)), s"summary not scanned: $paths")
      assert(!paths.exists(_.contains(base)), s"base still scanned: $paths")
      assert(routed.collect() === expect)
    } finally MvRegistry.clear()
  }

  test("composite grain: exact, reordered, SUBSET, and global groupings all route") {
    // summary at the (event_type, junk) grain — every served function
    // is a re-aggregation, so any subset of the grain (any order, down
    // to the global ⟨⟩ grain) is exactly answerable from the summary
    val base = tmpDir("mv2-base"); val mv = tmpDir("mv2-sum")
    (0L until 1000L)
      .map(i => (s"t${i % 5}", i % 7, if (i % 11 == 0) null
        else java.lang.Long.valueOf(i)))
      .toDF("event_type", "junk", "v_micro")
      .write.mode("overwrite").parquet(base)
    spark.read.parquet(base)
      .groupBy("event_type", "junk")
      .agg(count(lit(1)).as("cnt"), sum("v_micro").as("sum_v"),
        count("v_micro").as("nn_v"), min("v_micro").as("min_v"),
        max("v_micro").as("max_v"))
      .write.mode("overwrite").parquet(mv)
    def agg(df: org.apache.spark.sql.RelationalGroupedDataset) =
      df.agg(count(lit(1)).as("n"), sum("v_micro").as("s"),
        count(col("v_micro")).as("nn"), avg("v_micro").as("a"),
        min("v_micro").as("lo"), max("v_micro").as("hi"))
    val shapes: Seq[() => org.apache.spark.sql.DataFrame] = Seq(
      () => agg(spark.read.parquet(base).groupBy("event_type", "junk"))
        .orderBy("event_type", "junk"),                    // exact grain
      () => agg(spark.read.parquet(base).groupBy("junk", "event_type"))
        .orderBy("junk", "event_type"),                    // reordered
      () => agg(spark.read.parquet(base).groupBy("junk")).orderBy("junk"),
      () => agg(spark.read.parquet(base).groupBy("event_type"))
        .orderBy("event_type"),                            // strict subsets
      () => agg(spark.read.parquet(base).groupBy()))       // global ⟨⟩
    val expect = shapes.map(q => q().collect()) // registry empty
    MvRegistry.register(spark, "file:" + base, MvRegistry.Summary(
      mv, Seq("event_type", "junk"), "cnt",
      sums = Map("v_micro" -> "sum_v"), nns = Map("v_micro" -> "nn_v"),
      mins = Map("v_micro" -> "min_v"), maxs = Map("v_micro" -> "max_v")))
    try {
      shapes.zip(expect).foreach { case (q, exp) =>
        val routed = q()
        val paths = scannedPaths(routed)
        assert(paths.exists(_.contains(mv)), s"summary not scanned: $paths")
        assert(!paths.exists(_.contains(base)), s"base still scanned: $paths")
        assert(routed.collect() === exp)
      }
      // COUNT(DISTINCT …) at a coarser grain: the summary holds one row
      // per existing (event_type, junk) combo, so distinct sets of any
      // expression over grain columns route exactly — the bare column,
      // an f(grain), and a multi-argument tuple
      val cd = () => spark.read.parquet(base).groupBy("event_type")
        .agg(countDistinct(col("junk")).as("d"), count(lit(1)).as("n"),
          countDistinct(expr("junk % 3")).as("dm"),
          countDistinct(col("event_type"), col("junk")).as("dt"),
          // grain-expression extremes: no registered max column needed
          max(expr("junk * 2")).as("mj"),
          min(col("junk")).as("nj"))
        .orderBy("event_type")
      MvRegistry.clear()
      val exp = cd().collect()
      MvRegistry.register(spark, "file:" + base, MvRegistry.Summary(
        mv, Seq("event_type", "junk"), "cnt",
        sums = Map("v_micro" -> "sum_v"), nns = Map("v_micro" -> "nn_v"),
        mins = Map("v_micro" -> "min_v"), maxs = Map("v_micro" -> "max_v")))
      val routed = cd()
      assert(scannedPaths(routed).exists(_.contains(mv)))
      assert(!scannedPaths(routed).exists(_.contains(base)))
      assert(routed.collect() === exp)
      assert(routed.collect().forall(_.getLong(1) === 7L)) // 7 junk values
    } finally MvRegistry.clear()
  }

  test("grain-column filters transfer to the summary; non-grain filters still bail") {
    // summary at the (event_type, junk) grain again — a predicate over
    // grain columns is constant within each group, so WHERE + GROUP BY
    // at/below the grain routes with the filter applied to the summary
    val base = tmpDir("mvf-base"); val mv = tmpDir("mvf-sum")
    (0L until 1000L)
      .map(i => (s"t${i % 5}", i % 7, if (i % 11 == 0) null
        else java.lang.Long.valueOf(i)))
      .toDF("event_type", "junk", "v_micro")
      .write.mode("overwrite").parquet(base)
    spark.read.parquet(base)
      .groupBy("event_type", "junk")
      .agg(count(lit(1)).as("cnt"), sum("v_micro").as("sum_v"),
        count("v_micro").as("nn_v"))
      .write.mode("overwrite").parquet(mv)
    def q(shape: org.apache.spark.sql.DataFrame =>
        org.apache.spark.sql.DataFrame) = () =>
      shape(spark.read.parquet(base))
    val routable = Seq(
      // filter on the grouping grain itself
      q(_.filter(col("event_type") =!= "t3").groupBy("event_type")
        .agg(count(lit(1)).as("n"), sum("v_micro").as("s"))
        .orderBy("event_type")),
      // filter on the OTHER grain column while grouping by a subset
      q(_.filter(col("junk") >= 2 && col("junk") < 5).groupBy("event_type")
        .agg(count(lit(1)).as("n")).orderBy("event_type")),
      // filtered GLOBAL aggregate, including the empty-selection case
      q(_.filter(col("event_type") === "t1" && col("junk") === 6)
        .groupBy().agg(count(lit(1)).as("n"), sum("v_micro").as("s"))),
      q(_.filter(col("event_type") === "no_such_type")
        .groupBy().agg(count(lit(1)).as("n"))))
    val expect = routable.map(f => f().collect()) // registry empty
    MvRegistry.register(spark, "file:" + base, MvRegistry.Summary(
      mv, Seq("event_type", "junk"), "cnt",
      sums = Map("v_micro" -> "sum_v"), nns = Map("v_micro" -> "nn_v")))
    try {
      routable.zip(expect).foreach { case (f, exp) =>
        val routed = f()
        val paths = scannedPaths(routed)
        assert(paths.exists(_.contains(mv)), s"summary not scanned: $paths")
        assert(!paths.exists(_.contains(base)), s"base still scanned: $paths")
        assert(routed.collect() === exp)
      }
      // a filter touching a NON-grain column needs row-level data the
      // summary lost — stays on the base
      val bail = spark.read.parquet(base)
        .filter(col("v_micro") > 500L)
        .groupBy("event_type").agg(count(lit(1)).as("n"))
      assert(scannedPaths(bail).exists(_.contains(base)))
      assert(!scannedPaths(bail).exists(_.contains(mv)))
      // a non-deterministic filter must not be re-evaluated over |keys|
      // rows — stays on the base (a vacuously-true rand() < 2.0 probe
      // would be ELIMINATED by the optimizer before this rule runs,
      // which routes correctly — so probe with a real coin flip)
      val nd = spark.read.parquet(base)
        .filter(rand(7) < 0.5)
        .groupBy("event_type").agg(count(lit(1)).as("n"))
      assert(!scannedPaths(nd).exists(_.contains(mv)))
    } finally MvRegistry.clear()
  }

  test("multi-root relations never route, even when the FIRST root is registered") {
    // spark.read.parquet(registeredBase, other) reads the UNION of two
    // roots; answering it from one root's summary would silently drop
    // the other root's rows — the exact wrong-answer mode the rule's
    // conservative contract forbids
    val (base, mv) = fixture()
    val other = tmpDir("mv-other")
    Seq(("t0", 0, 5L), ("t9", 1, 7L))
      .toDF("event_type", "junk", "v_micro")
      .write.mode("overwrite").parquet(other)
    register(base, mv)
    try {
      val q = spark.read.parquet(base, other)
        .groupBy("event_type").agg(count(lit(1)).as("n"))
      val paths = scannedPaths(q)
      assert(!paths.exists(_.contains(mv)), s"summary wrongly used: $paths")
      // and the answer includes BOTH roots' rows
      val n = q.filter(col("event_type") === "t0")
        .collect().head.getLong(1)
      assert(n === 201) // 200 from base + 1 from other
    } finally MvRegistry.clear()
  }

  test("star join: aggregate over base ⋈ dim routes the base side to the summary, keeps the dim join") {
    val (base, mv) = fixture()
    val dim = tmpDir("mv-dim")
    Seq(("t0", "alpha"), ("t1", "beta"), ("t2", "gamma"), ("zzz", "none"))
      .toDF("k", "label").write.mode("overwrite").parquet(dim)
    def q() = spark.read.parquet(base)
      .join(spark.read.parquet(dim), col("event_type") === col("k"))
      .groupBy("event_type", "label")
      .agg(count(lit(1)).as("n"), sum("v_micro").as("s"),
        count(col("v_micro")).as("nn"), avg("v_micro").as("a"),
        min("v_micro").as("lo"), max("v_micro").as("hi"))
      .orderBy("event_type")
    val expect = q().collect() // registry empty: computed from base
    register(base, mv)
    try {
      val routed = q()
      val paths = scannedPaths(routed)
      assert(paths.exists(_.contains(mv)), s"summary not scanned: $paths")
      assert(!paths.exists(_.contains(base)), s"base still scanned: $paths")
      assert(paths.exists(_.contains(dim)), s"dim join dropped: $paths")
      assert(routed.collect() === expect)
      // grouping by the DIM side only also routes (base key not grouped)
      val dimOnly = () => spark.read.parquet(base)
        .join(spark.read.parquet(dim), col("event_type") === col("k"))
        .groupBy("label").agg(count(lit(1)).as("n"), sum("v_micro").as("s"))
        .orderBy("label")
      MvRegistry.clear()
      val exp2 = dimOnly().collect()
      register(base, mv)
      val routed2 = dimOnly()
      assert(scannedPaths(routed2).exists(_.contains(mv)))
      assert(!scannedPaths(routed2).exists(_.contains(base)))
      assert(routed2.collect() === exp2)
    } finally MvRegistry.clear()
  }

  test("star join: duplicate-key (exploding) dim stays exact — multiplicity is grain-constant") {
    val (base, mv) = fixture()
    val dim = tmpDir("mv-dimdup")
    // t0 matches THREE dim rows, t1 two, t2 one — count/sum/avg must
    // scale with multiplicity identically on both plans
    Seq(("t0", "a"), ("t0", "b"), ("t0", "c"), ("t1", "d"), ("t1", "e"),
      ("t2", "f")).toDF("k", "label").write.mode("overwrite").parquet(dim)
    def q() = spark.read.parquet(base)
      .join(spark.read.parquet(dim), col("event_type") === col("k"))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"), sum("v_micro").as("s"),
        avg("v_micro").as("a"), min("v_micro").as("lo"))
      .orderBy("event_type")
    val expect = q().collect()
    register(base, mv)
    try {
      val routed = q()
      assert(scannedPaths(routed).exists(_.contains(mv)))
      assert(!scannedPaths(routed).exists(_.contains(base)))
      assert(routed.collect() === expect)
    } finally MvRegistry.clear()
  }

  test("star join bail battery: non-grain key and non-inner bail; dim-column aggregates route via the cnt fold, never name-hijacked") {
    val (base, mv) = fixture()
    val dim = tmpDir("mv-dimbail")
    // dim carries a column NAMED v_micro — aggregating it must never
    // hijack the summary's sum_v mapping (attribute fence, not names)
    Seq(("t0", 10L, 100L), ("t1", 20L, 200L))
      .toDF("k", "junk2", "v_micro")
      .write.mode("overwrite").parquet(dim)
    register(base, mv)
    try {
      val b1 = spark.read.parquet(base); val d1 = spark.read.parquet(dim)
      val b2 = spark.read.parquet(base); val d2 = spark.read.parquet(dim)
      val bails = Seq(
        // join key is NOT a grain column
        b1.join(d1, b1("v_micro") === d1("junk2"))
          .groupBy("event_type").agg(count(lit(1)).as("n")),
        // base on the RIGHT of a left join: the null-extended rows are
        // the LEFT side's, with NO summary row backing them — Σcnt
        // would undercount, so that side is never searched
        d2.join(b2, d2("k") === b2("event_type"), "left")
          .groupBy("k").agg(count(lit(1)).as("n")),
        // full outer: null extension on the base side again
        b2.join(d2, b2("event_type") === d2("k"), "full")
          .groupBy("event_type").agg(count(lit(1)).as("n")))
      bails.foreach { df =>
        val paths = scannedPaths(df)
        assert(paths.exists(_.contains(base)), s"expected base scan: $paths")
        assert(!paths.exists(_.contains(mv)), s"summary wrongly used: $paths")
      }
      // SUM over a DIM column: multiplicity-linear via the summary's
      // cnt (each summary row fans out per dim match exactly like the
      // base's joined multiplicity) — ROUTES, and the answer must be
      // the dim value times the base row count, never a hijacked
      // summary sum. Sharpest form: the dim column is literally named
      // v_micro, a registered base value column.
      val b4 = spark.read.parquet(base); val d4 = spark.read.parquet(dim)
      val collide = b4.join(d4, b4("event_type") === d4("k"))
        .groupBy(b4("event_type"))
        .agg(sum(d4("v_micro")).as("s"))
      val paths4 = scannedPaths(collide)
      assert(paths4.exists(_.contains(mv)), s"dim sum not routed: $paths4")
      assert(!paths4.exists(_.contains(base)), s"base still scanned: $paths4")
      // ground truth: dim v_micro per match × 200 base rows per type —
      // a sum_v hijack would return the summary's value sums instead
      val got = collide.orderBy("event_type").collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(got("t0") === 200L * 100L) // 200 base rows × dim v 100
      assert(got("t1") === 200L * 200L)
    } finally MvRegistry.clear()
  }

  test("LEFT join with the base on the left routes: null extension is grain-constant, unmatched grains survive") {
    // the reference's own flagship batch shape (read_delta.py:285 is a
    // LEFT join): fact LEFT JOIN dim, aggregated — the base keeps every
    // row whether or not the dim matches, and the null-extended rows'
    // multiplicity (exactly 1) is as grain-constant as the matched
    // fan-out, so the whole served grammar carries over
    val (base, mv) = fixture()
    val dim = tmpDir("mv-left-dim")
    // dim covers t0/t1 only (t2..t4 null-extend) and DUPLICATES t0
    // (fan-out 2) — both multiplicity regimes in one query
    Seq(("t0", 10L), ("t0", 11L), ("t1", 20L))
      .toDF("k", "attr").write.mode("overwrite").parquet(dim)
    val b = spark.read.parquet(base); val d = spark.read.parquet(dim)
    // grouped by a COMPUTED dim expression (coalesce of the
    // null-extended attribute): the analyzer extracts it into a
    // Project above the join, which the rewrite inlines — the
    // unmatched grains land in the -1 group identically on base and
    // summary plans
    def q() = b.join(d, b("event_type") === d("k"), "left")
      .groupBy(coalesce(d("attr"), lit(-1L)).as("grp"))
      .agg(count(lit(1)).as("n"), sum(b("v_micro")).as("s"),
        avg(b("v_micro")).as("a"), min(b("v_micro")).as("lo"),
        max(b("v_micro")).as("hi"),
        countDistinct(b("event_type")).as("d"),
        sum(d("attr")).as("sd"))
      .orderBy("grp")
    // and the nested shape: (base LEFT dim) INNER dim2 — the left join
    // sits inside an inner tree, both rebuilt around the summary
    val dim2 = tmpDir("mv-left-dim2")
    Seq((10L, "x"), (11L, "y"))
      .toDF("a2", "tag").write.mode("overwrite").parquet(dim2)
    def q2() = b.join(d, b("event_type") === d("k"), "left")
      .join(spark.read.parquet(dim2), d("attr") === col("a2"))
      .groupBy("tag")
      .agg(count(lit(1)).as("n"), sum(b("v_micro")).as("s"))
      .orderBy("tag")
    val expect = q().collect(); val expect2 = q2().collect()
    register(base, mv)
    try {
      val routed = q()
      val paths = scannedPaths(routed)
      assert(paths.exists(_.contains(mv)), s"summary not scanned: $paths")
      assert(!paths.exists(_.contains(base)), s"base still scanned: $paths")
      assert(paths.exists(_.contains(dim)), s"dim join dropped: $paths")
      assert(routed.collect() === expect)
      // the null-extended group (-1) must be present and exact
      assert(expect.exists(_.getLong(0) == -1L),
        "fixture lost its unmatched grains — the test is vacuous")
      val routed2 = q2()
      val paths2 = scannedPaths(routed2)
      assert(paths2.exists(_.contains(mv)) && !paths2.exists(_.contains(base)),
        s"nested left-in-inner tree not routed: $paths2")
      assert(routed2.collect() === expect2)
      // a LEFT-join condition referencing a base NON-grain column still
      // bails (multiplicity would be row-dependent)
      val bail = b.join(d, b("v_micro") === d("attr"), "left")
        .groupBy("event_type").agg(count(lit(1)).as("n"))
      assert(scannedPaths(bail).exists(_.contains(base)))
      assert(!scannedPaths(bail).exists(_.contains(mv)))
    } finally MvRegistry.clear()
  }

  test("GROUP BY f(grain) over a STAR JOIN routes — the rollup × dim dashboard shape; the shadowing fence holds through the inlined project") {
    // the analyzer extracts computed groupings into a Project ABOVE the
    // join; the rewrite inlines it (inlineTopProjects) so the rollup ×
    // dim shape routes instead of bailing on a blocked findBase
    val (base, mv) = fixture()
    val dim = tmpDir("mv-starroll-dim")
    Seq(("t0", 0), ("t1", 1), ("t2", 0), ("t3", 1), ("t4", 0))
      .toDF("k", "parity").write.mode("overwrite").parquet(dim)
    def q() = spark.read.parquet(base)
      .join(spark.read.parquet(dim), col("event_type") === col("k"))
      .groupBy(expr("substring(event_type, 2, 1)").as("sfx"),
        col("parity"))
      .agg(count(lit(1)).as("n"), sum("v_micro").as("s"),
        avg("v_micro").as("a"), max("v_micro").as("hi"),
        sum(expr("parity * 2")).as("sp"))
      .orderBy("sfx", "parity")
    val expect = q().collect()
    register(base, mv)
    try {
      val routed = q()
      val paths = scannedPaths(routed)
      assert(paths.exists(_.contains(mv)), s"summary not scanned: $paths")
      assert(!paths.exists(_.contains(base)), s"base still scanned: $paths")
      assert(paths.exists(_.contains(dim)), s"dim join dropped: $paths")
      assert(routed.collect() === expect)
      // the r13 shadowing hazard must STILL bail when the computed
      // grouping (inlined from above the join) references a computed
      // projection BELOW the join that shadows the grain column
      val shadowed = spark.read.parquet(base)
        .select(upper(col("event_type")).as("event_type"), col("v_micro"))
        .join(spark.read.parquet(dim)
          .select(upper(col("k")).as("k"), col("parity")),
          col("event_type") === col("k"))
        .groupBy(expr("substring(event_type, 2, 1)").as("sfx"))
        .agg(count(lit(1)).as("n"))
      val sp = scannedPaths(shadowed)
      assert(sp.exists(_.contains(base)),
        s"shadowed computed grouping must bail to the base: $sp")
      assert(!sp.exists(_.contains(mv)),
        s"raw summary silently served a shadowed computed grouping: $sp")
    } finally MvRegistry.clear()
  }

  test("GROUP BY f(grain) routes — the date_trunc-style rollup; non-grain expression groupings bail") {
    // composite (event_type, junk) grain; groupings are EXPRESSIONS
    // over grain columns — evaluating f per summary row ≡ per base row
    // within the group, so the summary re-aggregates under f exactly
    val base = tmpDir("mvge-base"); val mv = tmpDir("mvge-sum")
    (0L until 1000L)
      .map(i => (s"t${i % 5}", i % 7, if (i % 11 == 0) null
        else java.lang.Long.valueOf(i)))
      .toDF("event_type", "junk", "v_micro")
      .write.mode("overwrite").parquet(base)
    spark.read.parquet(base)
      .groupBy("event_type", "junk")
      .agg(count(lit(1)).as("cnt"), sum("v_micro").as("sum_v"),
        count("v_micro").as("nn_v"), min("v_micro").as("min_v"),
        max("v_micro").as("max_v"))
      .write.mode("overwrite").parquet(mv)
    def q() = spark.read.parquet(base)
      .groupBy(expr("substring(event_type, 2, 1)").as("sfx"),
        expr("junk % 2").as("par"))
      .agg(count(lit(1)).as("n"), sum("v_micro").as("s"),
        avg("v_micro").as("a"), max("v_micro").as("hi"))
      .orderBy("sfx", "par")
    val expect = q().collect() // registry empty
    MvRegistry.register(spark, "file:" + base, MvRegistry.Summary(
      mv, Seq("event_type", "junk"), "cnt",
      sums = Map("v_micro" -> "sum_v"), nns = Map("v_micro" -> "nn_v"),
      mins = Map("v_micro" -> "min_v"), maxs = Map("v_micro" -> "max_v")))
    try {
      val routed = q()
      val paths = scannedPaths(routed)
      assert(paths.exists(_.contains(mv)), s"summary not scanned: $paths")
      assert(!paths.exists(_.contains(base)), s"base still scanned: $paths")
      assert(routed.collect() === expect)
      // a grouping expression over a NON-grain column needs row-level
      // data — stays on the base
      val bail = spark.read.parquet(base)
        .groupBy(expr("v_micro % 2").as("p"))
        .agg(count(lit(1)).as("n"))
      assert(scannedPaths(bail).exists(_.contains(base)))
      assert(!scannedPaths(bail).exists(_.contains(mv)))
    } finally MvRegistry.clear()
  }

  test("FILTER (WHERE grain-pred) aggregates route; base non-grain filter predicates bail") {
    // composite (event_type, junk) grain — the pivot/conditional-agg
    // dashboard shape: every FILTER predicate below touches grain
    // columns only, so it transfers to the summary fold verbatim
    val base = tmpDir("mvflt-base"); val mv = tmpDir("mvflt-sum")
    (0L until 1000L)
      .map(i => (s"t${i % 5}", i % 7, if (i % 11 == 0) null
        else java.lang.Long.valueOf(i)))
      .toDF("event_type", "junk", "v_micro")
      .write.mode("overwrite").parquet(base)
    spark.read.parquet(base)
      .groupBy("event_type", "junk")
      .agg(count(lit(1)).as("cnt"), sum("v_micro").as("sum_v"),
        count("v_micro").as("nn_v"), min("v_micro").as("min_v"),
        max("v_micro").as("max_v"))
      .write.mode("overwrite").parquet(mv)
    def q() = spark.read.parquet(base)
      .groupBy("event_type")
      .agg(
        expr("sum(v_micro) FILTER (WHERE junk < 3)").as("s"),
        expr("count(*) FILTER (WHERE junk IN (1, 2))").as("n"),
        expr("count(v_micro) FILTER (WHERE junk <> 0)").as("nn"),
        expr("avg(v_micro) FILTER (WHERE junk <> 0)").as("a"),
        expr("min(v_micro) FILTER (WHERE junk >= 2)").as("lo"),
        expr("count(DISTINCT junk) FILTER (WHERE junk <> 4)").as("d"))
      .orderBy("event_type")
    val expect = q().collect() // registry empty
    MvRegistry.register(spark, "file:" + base, MvRegistry.Summary(
      mv, Seq("event_type", "junk"), "cnt",
      sums = Map("v_micro" -> "sum_v"), nns = Map("v_micro" -> "nn_v"),
      mins = Map("v_micro" -> "min_v"), maxs = Map("v_micro" -> "max_v")))
    try {
      val routed = q()
      val paths = scannedPaths(routed)
      assert(paths.exists(_.contains(mv)), s"summary not scanned: $paths")
      assert(!paths.exists(_.contains(base)), s"base still scanned: $paths")
      assert(routed.collect() === expect)
      // a FILTER predicate over a NON-grain column needs row-level
      // data the summary lost — stays on the base
      val bail = spark.read.parquet(base)
        .groupBy("event_type")
        .agg(expr("count(*) FILTER (WHERE v_micro > 500)").as("n"))
      assert(scannedPaths(bail).exists(_.contains(base)))
      assert(!scannedPaths(bail).exists(_.contains(mv)))
    } finally MvRegistry.clear()
  }

  test("snowflake: a two-dim inner-join chain routes; non-equi grain range conditions route; base-non-grain conditions bail") {
    val (base, mv) = fixture()
    val dim1 = tmpDir("mv-sf-d1"); val dim2 = tmpDir("mv-sf-d2")
    Seq(("t0", "alpha", 1L), ("t1", "beta", 1L), ("t2", "gamma", 2L),
      ("t3", "delta", 2L))
      .toDF("k", "label", "r").write.mode("overwrite").parquet(dim1)
    Seq((1L, "east"), (2L, "west"))
      .toDF("r2", "region").write.mode("overwrite").parquet(dim2)
    def chain() = spark.read.parquet(base)
      .join(spark.read.parquet(dim1), col("event_type") === col("k"))
      .join(spark.read.parquet(dim2), col("r") === col("r2"))
      .groupBy("region", "label")
      .agg(count(lit(1)).as("n"), sum("v_micro").as("s"),
        avg("v_micro").as("a"))
      .orderBy("region", "label")
    val expectChain = chain().collect()
    // non-equi: a RANGE condition on the grain column (string band
    // membership) — multiplicity is still a pure function of the grain
    val dimR = tmpDir("mv-sf-dr")
    Seq(("t0", "t1", "low"), ("t2", "t4", "high"))
      .toDF("lo", "hi", "band").write.mode("overwrite").parquet(dimR)
    def ranged() = spark.read.parquet(base)
      .join(spark.read.parquet(dimR),
        col("event_type") >= col("lo") && col("event_type") <= col("hi"))
      .groupBy("band")
      .agg(count(lit(1)).as("n"), sum("v_micro").as("s"))
      .orderBy("band")
    val expectRanged = ranged().collect()
    register(base, mv)
    try {
      val routedChain = chain()
      val p1 = scannedPaths(routedChain)
      assert(p1.exists(_.contains(mv)), s"summary not scanned: $p1")
      assert(!p1.exists(_.contains(base)), s"base still scanned: $p1")
      assert(p1.exists(_.contains(dim1)) && p1.exists(_.contains(dim2)),
        s"dim joins dropped: $p1")
      assert(routedChain.collect() === expectChain)

      val routedRanged = ranged()
      val p2 = scannedPaths(routedRanged)
      assert(p2.exists(_.contains(mv)), s"summary not scanned: $p2")
      assert(!p2.exists(_.contains(base)), s"base still scanned: $p2")
      assert(routedRanged.collect() === expectRanged)

      // a condition referencing a base NON-grain column makes the
      // multiplicity row-dependent — must stay on the base
      val b = spark.read.parquet(base); val d = spark.read.parquet(dimR)
      val bail = b.join(d, b("v_micro") >= lit(500L) &&
          b("event_type") >= d("lo"))
        .groupBy("band").agg(count(lit(1)).as("n"))
      assert(scannedPaths(bail).exists(_.contains(base)))
      assert(!scannedPaths(bail).exists(_.contains(mv)))
    } finally MvRegistry.clear()
  }

  test("staleness guard: a base write after registerFresh bails routing until re-registration") {
    val (base, mv) = fixture()
    def q() = spark.read.parquet(base)
      .groupBy("event_type").agg(count(lit(1)).as("n"),
        sum("v_micro").as("s")).orderBy("event_type")
    MvRegistry.register(spark, "file:" + base, MvRegistry.Summary(
      mv, Seq("event_type"), "cnt",
      sums = Map("v_micro" -> "sum_v"), nns = Map("v_micro" -> "nn_v")))
    try {
      // fresh: routes
      assert(scannedPaths(q()).exists(_.contains(mv)))
      // base moves on (append) — the registered summary now LAGS: the
      // guard must bail to the base scan, and the answer must include
      // the appended rows (a stale summary would miss them)
      Seq(("t0", 99, java.lang.Long.valueOf(1000000L)))
        .toDF("event_type", "junk", "v_micro")
        .write.mode("append").parquet(base)
      val afterAppend = q()
      assert(scannedPaths(afterAppend).exists(_.contains(base)),
        "stale summary must not serve")
      assert(!scannedPaths(afterAppend).exists(_.contains(mv)))
      val t0 = afterAppend.collect().find(_.getString(0) == "t0").get
      assert(t0.getLong(1) === 201) // 200 + the appended row
      // maintenance refreshes the summary and re-registers → routes again
      spark.read.parquet(base).groupBy("event_type")
        .agg(count(lit(1)).as("cnt"), sum("v_micro").as("sum_v"),
          count("v_micro").as("nn_v"), min("v_micro").as("min_v"),
          max("v_micro").as("max_v"))
        .write.mode("overwrite").parquet(mv + "2")
      MvRegistry.register(spark, "file:" + base, MvRegistry.Summary(
        mv + "2", Seq("event_type"), "cnt",
        sums = Map("v_micro" -> "sum_v"), nns = Map("v_micro" -> "nn_v")))
      val rerouted = q()
      assert(scannedPaths(rerouted).exists(_.contains(mv + "2")))
      assert(rerouted.collect().find(_.getString(0) == "t0").get
        .getLong(1) === 201)
    } finally MvRegistry.clear()
  }

  test("randomized law: routed ≡ unrouted over the served shape grammar (direct + star + left-join star, filters, FILTER clauses, f(grain), HAVING)") {
    import org.scalacheck.{Gen, Prop, Test => SCTest}
    // one corpus + summary + dim for all cases
    val base = tmpDir("mvlaw-base"); val mv = tmpDir("mvlaw-sum")
    val dim = tmpDir("mvlaw-dim")
    (0L until 400L)
      .map(i => (s"t${i % 4}", i % 5, if (i % 7 == 0) null
        else java.lang.Long.valueOf(i % 97)))
      .toDF("g1", "g2", "v")
      .write.mode("overwrite").parquet(base)
    spark.read.parquet(base)
      .groupBy("g1", "g2")
      .agg(count(lit(1)).as("cnt"), sum("v").as("sum_v"),
        count("v").as("nn_v"), min("v").as("min_v"), max("v").as("max_v"))
      .write.mode("overwrite").parquet(mv)
    // duplicate keys on purpose: multiplicity must never matter
    Seq(("t0", "a"), ("t0", "b"), ("t1", "c"), ("t2", "d"), ("t9", "e"))
      .toDF("k", "label").write.mode("overwrite").parquet(dim)

    val genGrouping: Gen[Seq[org.apache.spark.sql.Column]] =
      Gen.someOf(Seq(
        col("g1"), col("g2"),
        expr("substring(g1, 2, 1)").as("sfx"),
        expr("g2 % 2").as("par"))).map(_.toSeq)
    val genAgg: Gen[Seq[org.apache.spark.sql.Column]] =
      Gen.atLeastOne(Seq(
        count(lit(1)).as("n"),
        sum("v").as("s"),
        count(col("v")).as("nn"),
        avg("v").as("a"),
        min("v").as("lo"),
        max("v").as("hi"),
        countDistinct(col("g2")).as("d"),
        countDistinct(expr("substring(g1, 2, 1)")).as("df"),
        countDistinct(col("g1"), col("g2")).as("d2"),
        min(expr("substring(g1, 2, 1)")).as("glo"),
        max(expr("g2 * 10")).as("ghi"),
        sum(expr("g2 * 3")).as("gs"),
        count(expr("nullif(g2, 3)")).as("gc"),
        avg(expr("nullif(g2, 3)")).as("ga"),
        expr("sum(v) FILTER (WHERE g2 < 3)").as("sf"),
        expr("count(*) FILTER (WHERE g1 <> 't2')").as("nf"))).map(_.toSeq)
    val genFilter: Gen[Option[org.apache.spark.sql.Column]] =
      Gen.oneOf(None, Some(col("g1") =!= "t3"), Some(col("g2") >= 1),
        Some(col("g1") === "t0" && col("g2") < 4))
    // none = direct aggregate; inner = star; left = the base-left
    // LEFT-join star (t3 has no dim row → null-extended label group)
    val genJoin: Gen[String] = Gen.oneOf("none", "inner", "left")
    // HAVING: a Filter ABOVE the Aggregate on an aggregate output —
    // outside the rewritten subtree, resolved via preserved exprIds
    val genHaving: Gen[Option[Long]] =
      Gen.oneOf(None, Some(1L), Some(20L), Some(60L))

    def run(groups: Seq[org.apache.spark.sql.Column],
            aggs: Seq[org.apache.spark.sql.Column],
            filter: Option[org.apache.spark.sql.Column],
            join: String, having: Option[Long]): Set[Seq[Any]] = {
      val scan0 = spark.read.parquet(base)
      val scan = filter.fold(scan0)(scan0.filter)
      val src = if (join == "none") scan
      else scan.join(spark.read.parquet(dim), col("g1") === col("k"),
        join)
      val grouped = if (join != "none")
        src.groupBy(groups :+ col("label"): _*)
      else if (groups.isEmpty) src.groupBy()
      else src.groupBy(groups: _*)
      val aggsH =
        if (having.isDefined) aggs :+ count(lit(1)).as("hn") else aggs
      val out = grouped.agg(aggsH.head, aggsH.tail: _*)
      having.fold(out)(t => out.filter(col("hn") >= t))
        .collect().map(_.toSeq.map {
          case d: Double => math.round(d * 1e9) // tolerate fold-order ulps
          case x => x
        }).toSet
    }

    val prop = Prop.forAll(genGrouping, genAgg, genFilter, genJoin,
      genHaving) { (groups, aggs, filter, join, having) =>
        MvRegistry.clear()
        val expected = run(groups, aggs, filter, join, having)
        MvRegistry.register(spark, "file:" + base, MvRegistry.Summary(
          mv, Seq("g1", "g2"), "cnt",
          sums = Map("v" -> "sum_v"), nns = Map("v" -> "nn_v"),
          mins = Map("v" -> "min_v"), maxs = Map("v" -> "max_v")))
        val routed = try run(groups, aggs, filter, join, having)
        finally MvRegistry.clear()
        Prop.propBoolean(routed == expected) :|
          s"groups=$groups aggs=$aggs filter=$filter join=$join " +
          s"having=$having\nrouted=$routed\nexpected=$expected"
    }
    val res = SCTest.check(
      SCTest.Parameters.default
        .withMinSuccessfulTests(30)
        .withInitialSeed(org.scalacheck.rng.Seed(1337L)), prop)
    assert(res.passed, res.status.toString)
  }

  test("unanswerable shapes bail to the base: filter, avg, distinct, other grain") {
    val (base, mv) = fixture()
    register(base, mv)
    try {
      val reads = Seq(
        // filtered: the summary has no row-level data
        spark.read.parquet(base).filter(col("junk") === 3)
          .groupBy("event_type").agg(count(lit(1)).as("n")),
        // aggregate over an UNregistered column
        spark.read.parquet(base)
          .groupBy("event_type").agg(avg("junk").as("a")),
        // distinct count: never answerable from cnt/sum
        spark.read.parquet(base)
          .groupBy("event_type").agg(countDistinct(col("junk")).as("d")),
        // different grain
        spark.read.parquet(base)
          .groupBy("junk").agg(count(lit(1)).as("n")))
      reads.foreach { df =>
        val paths = scannedPaths(df)
        assert(paths.exists(_.contains(base)), s"expected base scan: $paths")
        assert(!paths.exists(_.contains(mv)), s"summary wrongly used: $paths")
      }
      // and the null-sum subtlety: a SUM the rewrite does serve keeps
      // SUM's null semantics because the summary row itself carries a
      // null sum for all-null groups (maintainAggregate's nnCol rule)
      val s = spark.read.parquet(base).groupBy("event_type")
        .agg(sum("v_micro").as("s")).orderBy("event_type").collect()
      MvRegistry.clear()
      val direct = spark.read.parquet(base).groupBy("event_type")
        .agg(sum("v_micro").as("s")).orderBy("event_type").collect()
      assert(s === direct)
    } finally MvRegistry.clear()
  }

  test("a computed projection shadowing a grain column below the join bails — never silently serves the raw summary") {
    // ADVICE r13 (high): upper(event_type) AS event_type below the join
    // has the grain column's NAME and TYPE, so every name/type-based
    // check passes — only the exprId-level alias fence can catch that
    // the join/grouping value is COMPUTED, not the scan column
    val (base, mv) = fixture()
    val dim = tmpDir("mv-shadow-dim")
    // dim keys = UPPERCASE type names: the computed join matches them,
    // the raw summary column would match none (or different rows)
    (0 until 5).map(i => (s"T$i", i)).toDF("k", "attr")
      .write.mode("overwrite").parquet(dim)
    val q = () => spark.read.parquet(base)
      .select(upper(col("event_type")).as("event_type"), col("v_micro"))
      .join(spark.read.parquet(dim), col("event_type") === col("k"))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"), sum("v_micro").as("s"))
      .orderBy("event_type")
    val expect = q().collect() // registry empty
    assert(expect.nonEmpty)    // non-vacuous: the computed join matches
    register(base, mv)
    try {
      val routed = q()
      val paths = scannedPaths(routed)
      assert(paths.exists(_.contains(base)),
        s"expected bail to base scan: $paths")
      assert(!paths.exists(_.contains(mv)),
        s"raw summary silently replaced the computed projection: $paths")
      assert(routed.collect() === expect)
      // an inner join with NO condition has no path conditions either,
      // yet the alias still sits below a join: the fence must hold
      val cross = () => spark.read.parquet(base)
        .select(upper(col("event_type")).as("event_type"), col("v_micro"))
        .join(spark.read.parquet(dim).filter(col("attr") < 2))
        .groupBy("event_type").agg(count(lit(1)).as("n"))
        .orderBy("event_type")
      val crossRouted = cross()
      assert(scannedPaths(crossRouted).exists(_.contains(base)))
      assert(!scannedPaths(crossRouted).exists(_.contains(mv)))
      MvRegistry.clear()
      val crossExpect = cross().collect()
      assert(crossExpect.nonEmpty)
      register(base, mv)
      assert(crossRouted.collect() === crossExpect)
      // same shadowing with no join at all: the alias is substituted
      // and the summary re-grouped by upper(grain) — served, and exact
      val g = () => spark.read.parquet(base)
        .select(upper(col("event_type")).as("event_type"), col("v_micro"))
        .groupBy("event_type").agg(count(lit(1)).as("n"))
        .orderBy("event_type")
      MvRegistry.clear()
      val gExpect = g().collect()
      register(base, mv)
      val gRouted = g()
      assert(scannedPaths(gRouted).exists(_.contains(mv)))
      assert(!scannedPaths(gRouted).exists(_.contains(base)))
      assert(gRouted.collect() === gExpect)
      // an alias BELOW a grain Filter (Aggregate ← Filter ← aliasing
      // Project ← base). The optimizer pushes such a Filter under the
      // Project, so the rule is applied to the analyzed plan itself: a
      // grain filter and grouping reached through the alias route; a
      // non-grain column reached through an alias (the filter's output
      // no longer carries the scan column) bails
      val shapes = Seq(
        spark.read.parquet(base)
          .select(upper(col("event_type")).as("et"), col("v_micro"))
          .filter(col("et") =!= "T0")
          .groupBy("et").agg(count(lit(1)).as("n"), sum("v_micro").as("s"))
          .orderBy("et") -> true,
        spark.read.parquet(base)
          .select((col("junk") + 1).as("j"), col("event_type"))
          .filter(col("event_type") =!= "t0")
          .groupBy("j").agg(count(lit(1)).as("n"))
          .orderBy("j") -> false)
      shapes.foreach { case (df, serves) =>
        val analyzed = df.queryExecution.analyzed
        assert(analyzed.collectFirst {
          case Aggregate(_, _, Filter(_, Project(pl, _)), _)
            if pl.exists(_.isInstanceOf[Alias]) => ()
        }.isDefined, analyzed)
        val qe = spark.sessionState.executePlan(SummaryRewrite(analyzed))
        val paths = relationPaths(qe.optimizedPlan)
        assert(paths.exists(_.contains(mv)) === serves, paths)
        assert(paths.exists(_.contains(base)) === !serves, paths)
        MvRegistry.clear()
        val expect = df.collect()
        assert(expect.nonEmpty)
        register(base, mv)
        assert(qe.executedPlan.executeCollectPublic() === expect)
      }
    } finally MvRegistry.clear()
  }

  test("HAVING composes with every routed shape: the post-aggregate filter survives the rewrite") {
    val (base, mv) = fixture()
    val dim = tmpDir("mv-having-dim")
    (0 until 5).map(i => (s"t$i", i % 2)).toDF("k", "parity")
      .write.mode("overwrite").parquet(dim)
    // one query per served grammar row, each with a HAVING (a Filter
    // above the Aggregate — outside the rewritten subtree, resolved via
    // the preserved output exprIds)
    val shapes: Seq[() => org.apache.spark.sql.DataFrame] = Seq(
      // direct grain + HAVING on a served aggregate
      () => spark.read.parquet(base).groupBy("event_type")
        .agg(count(lit(1)).as("n"), sum("v_micro").as("s"))
        .filter(col("n") > 150L).orderBy("event_type"),
      // star + HAVING on the dim-grouped count
      () => spark.read.parquet(base)
        .join(spark.read.parquet(dim), col("event_type") === col("k"))
        .groupBy("parity").agg(count(lit(1)).as("n"), avg("v_micro").as("a"))
        .filter(col("n") > 100L).orderBy("parity"),
      // f(grain) rollup + HAVING
      () => spark.read.parquet(base)
        .groupBy(substring(col("event_type"), 2, 1).as("sfx"))
        .agg(count(lit(1)).as("n")).filter(col("n") >= 200L).orderBy("sfx"),
      // FILTER clause + HAVING on it
      () => spark.read.parquet(base).groupBy("event_type")
        .agg(expr("count(*) FILTER (WHERE event_type <> 't0')").as("cf"))
        .filter(col("cf") > 0L).orderBy("event_type"),
      // COUNT(DISTINCT grain) at the global grain + HAVING
      () => spark.read.parquet(base).groupBy()
        .agg(countDistinct(col("event_type")).as("d"), count(lit(1)).as("n"))
        .filter(col("d") >= 5L))
    val expect = shapes.map(q => q().collect()) // registry empty
    register(base, mv)
    try {
      shapes.zip(expect).foreach { case (q, exp) =>
        val routed = q()
        val paths = scannedPaths(routed)
        assert(paths.exists(_.contains(mv)), s"summary not scanned: $paths")
        assert(!paths.exists(_.contains(base)), s"base still scanned: $paths")
        assert(routed.collect() === exp)
      }
      // SQL HAVING referencing an aggregate NOT in the select list (the
      // analyzer appends it to the Aggregate and strips it above)
      spark.read.parquet(base).createOrReplaceTempView("mv_having_base")
      val sql = () => spark.sql(
        """SELECT event_type, sum(v_micro) AS s FROM mv_having_base
           GROUP BY 1 HAVING count(*) > 150 ORDER BY 1""")
      MvRegistry.clear()
      val sqlExpect = sql().collect()
      register(base, mv)
      val routedSql = sql()
      assert(scannedPaths(routedSql).exists(_.contains(mv)))
      assert(!scannedPaths(routedSql).exists(_.contains(base)))
      assert(routedSql.collect() === sqlExpect)
    } finally MvRegistry.clear()
  }

  test("explainRoute names the route taken and every conservative bail reason") {
    val (base, mv) = fixture()
    register(base, mv)
    try {
      val routed = spark.read.parquet(base).groupBy("event_type")
        .agg(count(lit(1)).as("n"))
      assert(MvRegistry.explainRoute(routed)
        .exists(_.startsWith("routed(direct")))
      val nonGrainFilter = spark.read.parquet(base)
        .filter(col("junk") === 3)
        .groupBy("event_type").agg(count(lit(1)).as("n"))
      assert(MvRegistry.explainRoute(nonGrainFilter)
        .exists(_.contains("filter references a non-grain column")))
      val unservedAgg = spark.read.parquet(base)
        .groupBy("event_type").agg(avg("junk").as("a"))
      assert(MvRegistry.explainRoute(unservedAgg)
        .exists(_.contains("not answerable")))
      // stale: write to the base AFTER a tokened registration
      MvRegistry.clear()
      MvRegistry.register(spark, "file:" + base, MvRegistry.Summary(
        mv, Seq("event_type"), "cnt",
        sums = Map("v_micro" -> "sum_v"), nns = Map("v_micro" -> "nn_v")))
      Seq(("t0", 0, 1L)).toDF("event_type", "junk", "v_micro")
        .write.mode("append").parquet(base)
      assert(MvRegistry.explainRoute(routed)
        .exists(_.contains("stale")))
      // no registered base at all
      MvRegistry.clear()
      assert(MvRegistry.explainRoute(routed) ===
        Seq("no aggregate over a registered base reached SummaryRewrite"))
    } finally MvRegistry.clear()
  }

  test("refreshSummary: stale bail, Δ-fold repair, routing resumes — one operation") {
    val base = tmpDir("mvr-base"); val mv = tmpDir("mvr-sum")
    def rows(lo: Long, hi: Long) = (lo until hi)
      .map(i => (s"t${i % 5}", if (i % 11 == 0) null
        else java.lang.Long.valueOf(i)))
      .toDF("event_type", "v_micro")
    rows(0, 800).write.mode("overwrite").parquet(base)
    spark.read.parquet(base).groupBy("event_type")
      .agg(count(lit(1)).as("cnt"), count(col("v_micro")).as("n_nonnull"),
        sum("v_micro").as("sum_micro"))
      .write.mode("overwrite").parquet(mv)
    MvRegistry.register(spark, "file:" + base, MvRegistry.Summary(
      mv, Seq("event_type"), "cnt",
      sums = Map("v_micro" -> "sum_micro"),
      nns = Map("v_micro" -> "n_nonnull")))
    val q = () => spark.read.parquet(base).groupBy("event_type")
      .agg(count(lit(1)).as("n"), sum("v_micro").as("s"),
        count(col("v_micro")).as("nn"), avg("v_micro").as("a"))
      .orderBy("event_type")
    try {
      assert(scannedPaths(q()).exists(_.contains(mv))) // fresh: routes
      // the base write that strands the summary
      rows(800, 1000).write.mode("append").parquet(base)
      val stale = q()
      assert(scannedPaths(stale).exists(_.contains(base)),
        "stale summary must bail to the base scan")
      val expect = stale.collect() // correct either way — from the base
      // ONE repair call: fold the append's changelog, re-stamp, re-route
      val nextPath = graft.pipeline.IncrementalFinal.refreshSummary(
        spark, "file:" + base, mv,
        rows(800, 1000).withColumn("sign", lit(1L)), Seq("event_type"))
      val routed = q()
      val paths = scannedPaths(routed)
      assert(paths.exists(_.contains(nextPath)),
        s"refreshed summary version not scanned: $paths")
      assert(!paths.exists(_.contains(base)),
        s"base still scanned after refresh: $paths")
      assert(routed.collect() === expect) // fold ≡ recompute
      // idempotence of the repair: same delta fold onto the same stale
      // summary lands on the same version path with the same content
      val again = graft.pipeline.IncrementalFinal.refreshSummary(
        spark, "file:" + base, mv,
        rows(800, 1000).withColumn("sign", lit(1L)), Seq("event_type"))
      assert(again === nextPath)
      assert(q().collect() === expect)
    } finally MvRegistry.clear()
  }

  test("multiple rollup grains per base: each query routes to a summary that serves it; same-grain re-registration replaces") {
    val base = tmpDir("mvmulti-base")
    val mvT = tmpDir("mvmulti-type"); val mvJ = tmpDir("mvmulti-junk")
    val mvT2 = tmpDir("mvmulti-type2")
    (0L until 900L)
      .map(i => (s"t${i % 5}", i % 7, if (i % 11 == 0) null
        else java.lang.Long.valueOf(i)))
      .toDF("event_type", "junk", "v_micro")
      .write.mode("overwrite").parquet(base)
    def summarize(grain: String, out: String): Unit =
      spark.read.parquet(base).groupBy(grain)
        .agg(count(lit(1)).as("cnt"), count(col("v_micro")).as("nn_v"),
          sum("v_micro").as("sum_v"))
        .write.mode("overwrite").parquet(out)
    summarize("event_type", mvT); summarize("junk", mvJ)
    summarize("event_type", mvT2)
    def reg(grain: String, mv: String): Unit =
      MvRegistry.register(spark, "file:" + base, MvRegistry.Summary(
        mv, Seq(grain), "cnt",
        sums = Map("v_micro" -> "sum_v"), nns = Map("v_micro" -> "nn_v")))
    val qT = () => spark.read.parquet(base).groupBy("event_type")
      .agg(count(lit(1)).as("n"), sum("v_micro").as("s"))
      .orderBy("event_type")
    val qJ = () => spark.read.parquet(base).groupBy("junk")
      .agg(count(lit(1)).as("n"), avg("v_micro").as("a")).orderBy("junk")
    val qBoth = () => spark.read.parquet(base)
      .groupBy("event_type", "junk").agg(count(lit(1)).as("n"))
    val expT = qT().collect(); val expJ = qJ().collect()
    val expBoth = qBoth().collect().map(_.toSeq).toSet
    reg("event_type", mvT); reg("junk", mvJ)
    try {
      // each query picks the summary whose grain serves it
      val rT = qT(); val pT = scannedPaths(rT)
      assert(pT.exists(_.contains(mvT)) && !pT.exists(_.contains(mvJ)) &&
        !pT.exists(_.contains(base)), s"$pT")
      assert(rT.collect() === expT)
      val rJ = qJ(); val pJ = scannedPaths(rJ)
      assert(pJ.exists(_.contains(mvJ)) && !pJ.exists(_.contains(mvT)) &&
        !pJ.exists(_.contains(base)), s"$pJ")
      assert(rJ.collect() === expJ)
      // a grain NEITHER summary holds bails to the base — never a
      // wrong-grain serve
      val rB = qBoth()
      assert(scannedPaths(rB).exists(_.contains(base)))
      assert(rB.collect().map(_.toSeq).toSet === expBoth)
      // the decision log names both attempts for the bailing query
      val explain = MvRegistry.explainRoute(qBoth())
      assert(explain.count(_.startsWith("bail(")) >= 2, explain)
      // same-grain re-registration REPLACES: the event_type queries now
      // read the new summary version, not the stale first one
      reg("event_type", mvT2)
      val pT2 = scannedPaths(qT())
      assert(pT2.exists(_.contains(mvT2)), s"$pT2")
      assert(!pT2.exists(p => p.contains(mvT) && !p.contains(mvT2)),
        s"stale same-grain summary still served: $pT2")
      assert(qT().collect() === expT)
    } finally MvRegistry.clear()
  }

  test("randomized refresh law: fold ≡ recompute over random append/retract deltas; extremes stay routed through retractions") {
    import org.scalacheck.{Gen, Prop, Test => SCTest}
    import graft.pipeline.IncrementalFinal
    var caseId = 0
    val genCase = for {
      n <- Gen.choose(30, 70)
      baseRows <- Gen.listOfN(n, Gen.zip(Gen.oneOf("a", "b", "c", "d"),
        Gen.option(Gen.choose(-50L, 50L))))
      nIns <- Gen.choose(1, 12)
      insRows <- Gen.listOfN(nIns, Gen.zip(Gen.oneOf("a", "b", "c", "e"),
        Gen.option(Gen.choose(-50L, 50L))))
      retractIdx <- Gen.someOf(0 until n)
    } yield (baseRows, insRows, retractIdx.toSet)

    def df(rows: Seq[(String, Option[Long])]) = rows
      .map { case (g, v) => (g, v.map(java.lang.Long.valueOf).orNull) }
      .toDF("g", "v_micro")
    def norm(rows: Array[org.apache.spark.sql.Row]) = rows
      .map(_.toSeq.map {
        case d: Double => math.round(d * 1e9)
        case x => x
      }).toSet

    val prop = Prop.forAll(genCase) { case (baseRows, insRows, rIdx) =>
      caseId += 1
      val base = tmpDir(s"mvrlaw-$caseId-base")
      val mv = tmpDir(s"mvrlaw-$caseId-sum")
      df(baseRows).write.mode("overwrite").parquet(base)
      spark.read.parquet(base).groupBy("g")
        .agg(count(lit(1)).as("cnt"), count(col("v_micro")).as("n_nonnull"),
          sum("v_micro").as("sum_micro"), min("v_micro").as("min_v"),
          max("v_micro").as("max_v"))
        .write.mode("overwrite").parquet(mv)
      MvRegistry.clear()
      MvRegistry.register(spark, "file:" + base, MvRegistry.Summary(
        mv, Seq("g"), "cnt",
        sums = Map("v_micro" -> "sum_micro"),
        nns = Map("v_micro" -> "n_nonnull"),
        mins = Map("v_micro" -> "min_v"), maxs = Map("v_micro" -> "max_v")))
      // the base write: retracted rows removed, inserts appended
      val v2 = baseRows.zipWithIndex.collect {
        case (r, i) if !rIdx(i) => r } ++ insRows
      df(v2).write.mode("overwrite").parquet(base)
      val delta = df(baseRows.zipWithIndex.collect {
          case (r, i) if rIdx(i) => r })
        .withColumn("sign", lit(-1L))
        .unionByName(df(insRows).withColumn("sign", lit(1L)))
      val nextPath = IncrementalFinal.refreshSummary(spark, "file:" + base,
        mv, delta, Seq("g"))
      val q = () => spark.read.parquet(base).groupBy("g")
        .agg(count(lit(1)).as("n"), sum("v_micro").as("s"),
          count(col("v_micro")).as("nn"), avg("v_micro").as("a"))
      val qmm = () => spark.read.parquet(base).groupBy("g")
        .agg(min("v_micro").as("lo"), max("v_micro").as("hi"))
      val routed = norm(q().collect())
      val routedMm = norm(qmm().collect())
      val mmPaths = scannedPaths(qmm())
      MvRegistry.clear()
      val expect = norm(q().collect())
      val expectMm = norm(qmm().collect())
      // extremes stay ROUTED whatever the delta: insert-only folds
      // exactly, extreme-deleting deltas repair through the dirty-key
      // targeted rescan inside the refresh — either way the query
      // reads the refreshed summary version, never the base
      val okPaths = mmPaths.exists(_.contains(nextPath)) &&
        !mmPaths.exists(_.contains(base))
      Prop.propBoolean(
        routed == expect && routedMm == expectMm && okPaths) :|
        s"retractions=${rIdx.size} mmPaths=$mmPaths\n" +
        s"routed=$routed\nexpect=$expect\n" +
        s"routedMm=$routedMm\nexpectMm=$expectMm"
    }
    val res = SCTest.check(
      SCTest.Parameters.default
        .withMinSuccessfulTests(12)
        .withInitialSeed(org.scalacheck.rng.Seed(4242L)), prop)
    assert(res.passed, res.status.toString)
  }

  test("refreshSummary extremes: insert-only deltas keep MIN/MAX routed exactly; retracting a current extreme repairs via the dirty-key rescan and STAYS routed") {
    import graft.pipeline.IncrementalFinal
    def fixtureMm(tag: String): (String, String) = {
      val base = tmpDir(s"mvmm-$tag-base"); val mv = tmpDir(s"mvmm-$tag-sum")
      (0L until 600L)
        .map(i => (s"t${i % 5}", if (i % 11 == 0) null
          else java.lang.Long.valueOf(i % 97)))
        .toDF("event_type", "v_micro")
        .write.mode("overwrite").parquet(base)
      spark.read.parquet(base).groupBy("event_type")
        .agg(count(lit(1)).as("cnt"), count(col("v_micro")).as("n_nonnull"),
          sum("v_micro").as("sum_micro"), min("v_micro").as("min_v"),
          max("v_micro").as("max_v"))
        .write.mode("overwrite").parquet(mv)
      MvRegistry.register(spark, "file:" + base, MvRegistry.Summary(
        mv, Seq("event_type"), "cnt",
        sums = Map("v_micro" -> "sum_micro"),
        nns = Map("v_micro" -> "n_nonnull"),
        mins = Map("v_micro" -> "min_v"), maxs = Map("v_micro" -> "max_v")))
      (base, mv)
    }
    def mmQuery(base: String) = () => spark.read.parquet(base)
      .groupBy("event_type")
      .agg(min("v_micro").as("lo"), max("v_micro").as("hi"),
        count(lit(1)).as("n"))
      .orderBy("event_type")

    // INSERT-ONLY append: extremes fold exactly (one value below every
    // existing min, one above every max, plus a brand-new key)
    val (b1, m1) = fixtureMm("ins")
    try {
      val appendRows = Seq(("t0", java.lang.Long.valueOf(-5L)),
        ("t1", java.lang.Long.valueOf(500L)),
        ("t9", java.lang.Long.valueOf(7L)))
        .toDF("event_type", "v_micro")
      appendRows.write.mode("append").parquet("file:" + b1)
      val next = IncrementalFinal.refreshSummary(spark, "file:" + b1, m1,
        appendRows.withColumn("sign", lit(1L)), Seq("event_type"))
      val routed = mmQuery(b1)()
      val paths = scannedPaths(routed)
      assert(paths.exists(_.contains(next)),
        s"refreshed summary not scanned for MIN/MAX: $paths")
      assert(!paths.exists(_.contains(b1)), s"base still scanned: $paths")
      MvRegistry.clear()
      assert(routed.collect() === mmQuery(b1)().collect()) // ≡ recompute
    } finally MvRegistry.clear()

    // RETRACTION OF A CURRENT EXTREME: the sharpest IVM case — (key,
    // min, max) state alone cannot answer it; refreshSummary marks the
    // grain dirty (maintainMinMax), rescans ONLY that grain's base
    // rows, and the extremes STAY routed with the exact repaired value.
    // Controlled values so the expected repair is explicit.
    val b2 = tmpDir("mvmm-ret-base"); val m2 = tmpDir("mvmm-ret-sum")
    try {
      Seq(("a", 1L), ("a", 5L), ("a", 9L), ("b", 2L), ("b", 4L))
        .toDF("event_type", "v_micro")
        .write.mode("overwrite").parquet(b2)
      spark.read.parquet(b2).groupBy("event_type")
        .agg(count(lit(1)).as("cnt"), count(col("v_micro")).as("n_nonnull"),
          sum("v_micro").as("sum_micro"), min("v_micro").as("min_v"),
          max("v_micro").as("max_v"))
        .write.mode("overwrite").parquet(m2)
      MvRegistry.register(spark, "file:" + b2, MvRegistry.Summary(
        m2, Seq("event_type"), "cnt",
        sums = Map("v_micro" -> "sum_micro"),
        nns = Map("v_micro" -> "n_nonnull"),
        mins = Map("v_micro" -> "min_v"), maxs = Map("v_micro" -> "max_v")))
      // delete a's current MAX (9) and b's current MIN (2) — both
      // grains turn dirty; the post-change corpus is the new base
      Seq(("a", 1L), ("a", 5L), ("b", 4L))
        .toDF("event_type", "v_micro")
        .write.mode("overwrite").parquet(b2)
      val delta = Seq(("a", 9L, -1L), ("b", 2L, -1L))
        .toDF("event_type", "v_micro", "sign")
      val next = IncrementalFinal.refreshSummary(spark, "file:" + b2, m2,
        delta, Seq("event_type"))
      val mm = mmQuery(b2)()
      val paths = scannedPaths(mm)
      assert(paths.exists(_.contains(next)),
        s"extremes must stay ROUTED through a retraction: $paths")
      assert(!paths.exists(_.contains(b2)),
        s"base still scanned after the dirty-key repair: $paths")
      val rows = mm.collect().map(r =>
        r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
      assert(rows("a") === ((1L, 5L)), "a's max must repair 9 → 5")
      assert(rows("b") === ((4L, 4L)), "b's min must repair 2 → 4")
      MvRegistry.clear()
      assert(mm.collect() === mmQuery(b2)().collect()) // ≡ recompute
    } finally MvRegistry.clear()
  }

  test("refreshSummary on a COMPOSITE grain: extremes repair per (g1, g2) cell through the dirty-key rescan and stay routed") {
    import graft.pipeline.IncrementalFinal
    val base = tmpDir("mvmm2-base"); val mv = tmpDir("mvmm2-sum")
    // two-column grain; only (a, 1)'s max and (b, 2)'s min are deleted —
    // every other cell must keep its folded extremes untouched
    Seq(("a", 1L, 1L), ("a", 1L, 9L), ("a", 2L, 5L),
      ("b", 1L, 3L), ("b", 2L, 2L), ("b", 2L, 8L))
      .toDF("g1", "g2", "v_micro")
      .write.mode("overwrite").parquet(base)
    spark.read.parquet(base).groupBy("g1", "g2")
      .agg(count(lit(1)).as("cnt"), count(col("v_micro")).as("n_nonnull"),
        sum("v_micro").as("sum_micro"), min("v_micro").as("min_v"),
        max("v_micro").as("max_v"))
      .write.mode("overwrite").parquet(mv)
    MvRegistry.register(spark, "file:" + base, MvRegistry.Summary(
      mv, Seq("g1", "g2"), "cnt",
      sums = Map("v_micro" -> "sum_micro"),
      nns = Map("v_micro" -> "n_nonnull"),
      mins = Map("v_micro" -> "min_v"), maxs = Map("v_micro" -> "max_v")))
    try {
      Seq(("a", 1L, 1L), ("a", 2L, 5L), ("b", 1L, 3L), ("b", 2L, 8L))
        .toDF("g1", "g2", "v_micro")
        .write.mode("overwrite").parquet(base)
      val delta = Seq(("a", 1L, 9L, -1L), ("b", 2L, 2L, -1L))
        .toDF("g1", "g2", "v_micro", "sign")
      val next = IncrementalFinal.refreshSummary(spark, "file:" + base,
        mv, delta, Seq("g1", "g2"))
      val q = () => spark.read.parquet(base).groupBy("g1", "g2")
        .agg(count(lit(1)).as("n"), min("v_micro").as("lo"),
          max("v_micro").as("hi"))
        .orderBy("g1", "g2")
      val routed = q()
      val paths = scannedPaths(routed)
      assert(paths.exists(_.contains(next)) &&
        !paths.exists(_.contains(base)), s"$paths")
      val got = routed.collect()
        .map(r => (r.getString(0), r.getLong(1)) ->
          (r.getLong(3), r.getLong(4))).toMap
      assert(got(("a", 1L)) === ((1L, 1L))) // max 9 repaired away
      assert(got(("b", 2L)) === ((8L, 8L))) // min 2 repaired away
      assert(got(("a", 2L)) === ((5L, 5L)))
      assert(got(("b", 1L)) === ((3L, 3L)))
      MvRegistry.clear()
      assert(routed.collect() === q().collect()) // ≡ recompute
    } finally MvRegistry.clear()
  }

  test("refreshSummary chains from the REGISTERED version — a second refresh passing the original path never drops the first delta; a same-token re-run is a no-op") {
    // ADVICE r14 (medium): the fold's previous state must be the
    // registered summary, not the caller-supplied path — otherwise
    // refresh₂(originalPath) silently drops Δ₁ while stamping a fresh
    // token (stale-serving as 'fresh', the exact failure the token
    // protocol exists to prevent)
    import graft.pipeline.IncrementalFinal
    val base = tmpDir("mvchain-base"); val mv = tmpDir("mvchain-sum")
    def rows(lo: Long, hi: Long) = (lo until hi)
      .map(i => (s"t${i % 3}", java.lang.Long.valueOf(i)))
      .toDF("event_type", "v_micro")
    rows(0, 300).write.mode("overwrite").parquet(base)
    spark.read.parquet(base).groupBy("event_type")
      .agg(count(lit(1)).as("cnt"), count(col("v_micro")).as("n_nonnull"),
        sum("v_micro").as("sum_micro"))
      .write.mode("overwrite").parquet(mv)
    MvRegistry.register(spark, "file:" + base, MvRegistry.Summary(
      mv, Seq("event_type"), "cnt",
      sums = Map("v_micro" -> "sum_micro"),
      nns = Map("v_micro" -> "n_nonnull")))
    val q = () => spark.read.parquet(base).groupBy("event_type")
      .agg(count(lit(1)).as("n"), sum("v_micro").as("s"))
      .orderBy("event_type")
    try {
      // refresh #1: append Δ₁, fold
      rows(300, 400).write.mode("append").parquet(base)
      val p1 = IncrementalFinal.refreshSummary(spark, "file:" + base, mv,
        rows(300, 400).withColumn("sign", lit(1L)), Seq("event_type"))
      // refresh #2 passes the ORIGINAL path (the natural caller bug):
      // the fold must still chain from p1's registered state, keeping Δ₁
      rows(400, 500).write.mode("append").parquet(base)
      val p2 = IncrementalFinal.refreshSummary(spark, "file:" + base, mv,
        rows(400, 500).withColumn("sign", lit(1L)), Seq("event_type"))
      assert(p2 !== p1)
      val routed = q()
      val paths = scannedPaths(routed)
      assert(paths.exists(_.contains(p2)), s"v2 summary not scanned: $paths")
      assert(!paths.exists(_.contains(base)), s"base still scanned: $paths")
      val got = routed.collect()
      MvRegistry.clear()
      assert(got === q().collect(),
        "chained refresh dropped a delta — wrong aggregates served as fresh")
      // same-token RE-RUN (the crash-after-commit re-delivery): must be
      // a NO-OP — folding the same delta again would double-count it
      MvRegistry.register(spark, "file:" + base, MvRegistry.Summary(
        p2, Seq("event_type"), "cnt",
        sums = Map("v_micro" -> "sum_micro"),
        nns = Map("v_micro" -> "n_nonnull")))
      val p3 = IncrementalFinal.refreshSummary(spark, "file:" + base, mv,
        rows(400, 500).withColumn("sign", lit(1L)), Seq("event_type"))
      assert(p3 === p2, "same-token re-run must not re-fold")
      val again = q()
      assert(scannedPaths(again).exists(_.contains(p2)))
      assert(again.collect() === got)
    } finally MvRegistry.clear()
  }

  test("multi-rollup cost choice: when two rollups serve, the one with fewer registered rows wins; explainRoute logs the decision") {
    val base = tmpDir("mvcost-base")
    val mvFine = tmpDir("mvcost-fine"); val mvCoarse = tmpDir("mvcost-coarse")
    (0L until 900L)
      .map(i => (s"t${i % 3}", i % 50, java.lang.Long.valueOf(i)))
      .toDF("event_type", "junk", "v_micro")
      .write.mode("overwrite").parquet(base)
    // FINE grain (event_type, junk): 150 rows — serves the event_type
    // query (grain superset re-aggregates); registered FIRST
    spark.read.parquet(base).groupBy("event_type", "junk")
      .agg(count(lit(1)).as("cnt"), count(col("v_micro")).as("nn_v"),
        sum("v_micro").as("sum_v"))
      .write.mode("overwrite").parquet(mvFine)
    // COARSE grain (event_type): 3 rows — also serves, 50× cheaper
    spark.read.parquet(base).groupBy("event_type")
      .agg(count(lit(1)).as("cnt"), count(col("v_micro")).as("nn_v"),
        sum("v_micro").as("sum_v"))
      .write.mode("overwrite").parquet(mvCoarse)
    // the row counts come from the summaries' own footers at registration
    def reg(grain: Seq[String], mv: String): Unit =
      MvRegistry.register(spark, "file:" + base, MvRegistry.Summary(
        mv, grain, "cnt",
        sums = Map("v_micro" -> "sum_v"), nns = Map("v_micro" -> "nn_v")))
    val q = () => spark.read.parquet(base).groupBy("event_type")
      .agg(count(lit(1)).as("n"), sum("v_micro").as("s"))
      .orderBy("event_type")
    val expect = q().collect()
    reg(Seq("event_type", "junk"), mvFine) // first-registered
    reg(Seq("event_type"), mvCoarse)
    try {
      val routed = q()
      val paths = scannedPaths(routed)
      assert(paths.exists(_.contains(mvCoarse)),
        s"cheapest serving summary not picked: $paths")
      assert(!paths.exists(_.contains(mvFine)),
        s"finer (50×-bigger) rollup picked despite the row counts: $paths")
      assert(routed.collect() === expect)
      val explain = MvRegistry.explainRoute(q())
      assert(explain.exists(l => l.startsWith("choice(") &&
        l.contains("rows=3")), explain)
    } finally MvRegistry.clear()
  }

  test("a non-LongType cnt column bails the multiplicity-linear folds conservatively — never a mistyped plan") {
    // ADVICE r14 (low): the cnt fold builds post-analysis expressions
    // (Multiply/If over mvCnt) that assume BIGINT; an INT-cnt summary
    // must keep the query on the base, not fail at runtime
    val base = tmpDir("mvint-base"); val mv = tmpDir("mvint-sum")
    (0L until 400L)
      .map(i => (s"t${i % 4}", i % 5, java.lang.Long.valueOf(i)))
      .toDF("event_type", "junk", "v_micro")
      .write.mode("overwrite").parquet(base)
    spark.read.parquet(base).groupBy("event_type", "junk")
      .agg(count(lit(1)).cast("int").as("cnt"),
        count(col("v_micro")).as("nn_v"), sum("v_micro").as("sum_v"))
      .write.mode("overwrite").parquet(mv)
    MvRegistry.register(spark, "file:" + base, MvRegistry.Summary(
      mv, Seq("event_type", "junk"), "cnt",
      sums = Map("v_micro" -> "sum_v"), nns = Map("v_micro" -> "nn_v")))
    try {
      // multiplicity-linear folds (SUM/COUNT/AVG over a grain
      // expression) need cnt BIGINT: with INT cnt they must BAIL — and
      // the answers must come out right off the base
      val linear = () => spark.read.parquet(base).groupBy("event_type")
        .agg(sum(expr("junk * 3")).as("gs"), count(expr("nullif(junk, 3)")).as("gc"),
          avg(expr("junk * 2")).as("ga"))
        .orderBy("event_type")
      val lr = linear()
      assert(scannedPaths(lr).exists(_.contains(base)),
        "INT-cnt summary must not serve the cnt-multiplying folds")
      val got = lr.collect()
      MvRegistry.clear()
      assert(got === linear().collect())
      // while Σcnt folds (COUNT(*)) widen through Sum and still serve
      MvRegistry.register(spark, "file:" + base, MvRegistry.Summary(
        mv, Seq("event_type", "junk"), "cnt",
        sums = Map("v_micro" -> "sum_v"), nns = Map("v_micro" -> "nn_v")))
      val cnt = () => spark.read.parquet(base).groupBy("event_type")
        .agg(count(lit(1)).as("n"), sum("v_micro").as("s"))
        .orderBy("event_type")
      val cr = cnt()
      assert(scannedPaths(cr).exists(_.contains(mv)),
        s"Σcnt over an integral cnt must still route: ${scannedPaths(cr)}")
      val cgot = cr.collect()
      MvRegistry.clear()
      assert(cgot === cnt().collect())
    } finally MvRegistry.clear()
  }

  // ------------------------------------------- distinct-sketch routing

  /** Base with a value column `uid` whose per-grain distinct-hash sets
    * fit a k = 64 sketch (37 distinct uids per type), plus the summary
    * extended with that VERIFIED sketch column. */
  private def distinctFixture(): (String, String) = {
    val base = tmpDir("mvd-base"); val mv = tmpDir("mvd-sum")
    (0L until 1000L)
      .map(i => (s"t${i % 5}",
        if (i % 11 == 0) null else java.lang.Long.valueOf(i % 7),
        if (i % 13 == 0) null else java.lang.Long.valueOf(i % 37)))
      .toDF("event_type", "v_micro", "uid")
      .write.mode("overwrite").parquet(base)
    graft.functions.Kmv.withHash(spark.read.parquet(base), "uid", "__h")
      .groupBy("event_type")
      .agg(count(lit(1)).as("cnt"), sum("v_micro").as("sum_v"),
        count("v_micro").as("nn_v"),
        expr(graft.functions.Kmv.sketchSparkSql("__h", 64)).as("kmv_uid"))
      .write.mode("overwrite").parquet(mv)
    (base, mv)
  }

  private def registerDistinct(base: String, mv: String,
                               licensed: Boolean): Unit =
    MvRegistry.register(spark, "file:" + base, MvRegistry.Summary(
      mv, Seq("event_type"), "cnt",
      sums = Map("v_micro" -> "sum_v"), nns = Map("v_micro" -> "nn_v"),
      distincts = if (licensed) Map("uid" -> "kmv_uid") else Map.empty))

  test("COUNT(DISTINCT value-col) routes through the verified sketch at the grain and globally; the license check gates k") {
    val (base, mv) = distinctFixture()
    // the build-time license: k = 64 holds (37 distinct per grain),
    // k = 8 saturates and must refuse
    assert(graft.pipeline.IncrementalFinal.verifiedDistinctLicense(
      spark.read.parquet(base), Seq("event_type"), "uid", 64))
    assert(!graft.pipeline.IncrementalFinal.verifiedDistinctLicense(
      spark.read.parquet(base), Seq("event_type"), "uid", 8))
    val qGrain = () => spark.read.parquet(base).groupBy("event_type")
      .agg(count(lit(1)).as("n"), countDistinct(col("uid")).as("nd"),
        count(col("v_micro")).as("nn"))
      .orderBy("event_type")
    val qGlobal = () => spark.read.parquet(base)
      .agg(countDistinct(col("uid")).as("nd"))
    val eGrain = qGrain().collect(); val eGlobal = qGlobal().collect()
    registerDistinct(base, mv, licensed = true)
    try {
      for ((q, e) <- Seq((qGrain, eGrain), (qGlobal, eGlobal))) {
        val routed = q()
        val paths = scannedPaths(routed)
        assert(paths.exists(_.contains(mv)), s"summary not scanned: $paths")
        assert(!paths.exists(_.contains(base)), s"base still scanned: $paths")
        assert(routed.collect() === e)
      }
    } finally MvRegistry.clear()
  }

  test("COUNT(DISTINCT) with no registered sketch column bails to the base — never a silent approximation") {
    val (base, mv) = distinctFixture()
    registerDistinct(base, mv, licensed = false)
    try {
      val q = spark.read.parquet(base).groupBy("event_type")
        .agg(countDistinct(col("uid")).as("nd"))
      assert(scannedPaths(q).exists(_.contains(base)),
        s"unlicensed distinct must scan the base: ${scannedPaths(q)}")
      // while the count/sum shapes on the SAME registration still route
      val served = spark.read.parquet(base).groupBy("event_type")
        .agg(count(lit(1)).as("n"))
      assert(scannedPaths(served).exists(_.contains(mv)),
        s"count must still route: ${scannedPaths(served)}")
    } finally MvRegistry.clear()
  }

  test("star shape: COUNT(DISTINCT) through a duplicate-key dim join is multiplicity-invariant") {
    val (base, mv) = distinctFixture()
    // t1 matches TWO identical dim rows → its rows join with
    // multiplicity 2 inside group B; array_distinct must collapse the
    // replicated sketches while COUNT(*) doubles
    val dim = Seq(("t0", "A"), ("t1", "B"), ("t1", "B"), ("t2", "C"),
      ("t3", "D"), ("t4", "E")).toDF("event_type", "label")
    def q() = spark.read.parquet(base).join(dim, Seq("event_type"))
      .groupBy("label")
      .agg(count(lit(1)).as("n"), countDistinct(col("uid")).as("nd"))
      .orderBy("label")
    val expect = q().collect()
    registerDistinct(base, mv, licensed = true)
    try {
      val routed = q()
      val paths = scannedPaths(routed)
      assert(paths.exists(_.contains(mv)), s"summary not scanned: $paths")
      assert(!paths.exists(_.contains(base)), s"base still scanned: $paths")
      assert(routed.collect() === expect)
    } finally MvRegistry.clear()
  }

  test("refreshSummary distincts: insert-only deltas keep COUNT(DISTINCT) routed exactly; a retraction repairs via the dirty rescan and STAYS routed") {
    import graft.pipeline.IncrementalFinal
    val base = tmpDir("mvdx-base"); val mv = tmpDir("mvdx-sum")
    Seq(("a", 1L, 10L), ("a", 2L, 11L), ("a", 3L, 10L),
      ("b", 4L, 20L), ("b", 5L, 21L))
      .toDF("event_type", "v_micro", "uid")
      .write.mode("overwrite").parquet(base)
    graft.functions.Kmv.withHash(spark.read.parquet(base), "uid", "__h")
      .groupBy("event_type")
      .agg(count(lit(1)).as("cnt"), count(col("v_micro")).as("n_nonnull"),
        sum("v_micro").as("sum_micro"),
        expr("array_sort(collect_set(__h))").as("kmv_uid"))
      .write.mode("overwrite").parquet(mv)
    MvRegistry.register(spark, "file:" + base, MvRegistry.Summary(
      mv, Seq("event_type"), "cnt",
      sums = Map("v_micro" -> "sum_micro"),
      nns = Map("v_micro" -> "n_nonnull"),
      distincts = Map("uid" -> "kmv_uid")))
    def q() = spark.read.parquet(base).groupBy("event_type")
      .agg(countDistinct(col("uid")).as("nd"), count(lit(1)).as("n"))
      .orderBy("event_type")
    def asMap(rows: Array[org.apache.spark.sql.Row]) =
      rows.map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    try {
      // INSERT-ONLY: a gains a new uid, b a DUPLICATE uid (no distinct
      // growth), c is born — the clean fold must stay routed and exact
      val ins = Seq(("a", 6L, 12L), ("b", 7L, 20L), ("c", 8L, 30L))
        .toDF("event_type", "v_micro", "uid")
      ins.write.mode("append").parquet("file:" + base)
      val next = IncrementalFinal.refreshSummary(spark, "file:" + base, mv,
        ins.withColumn("sign", lit(1L)), Seq("event_type"))
      val routed = q()
      val paths = scannedPaths(routed)
      assert(paths.exists(_.contains(next)),
        s"refreshed summary not scanned for COUNT(DISTINCT): $paths")
      assert(!paths.exists(_.contains(base)), s"base still scanned: $paths")
      val got = asMap(routed.collect())
      assert(got === Map("a" -> ((3L, 4L)), "b" -> ((2L, 3L)),
        "c" -> ((1L, 1L))))
      MvRegistry.clear()
      assert(got === asMap(q().collect())) // ≡ recompute

      // RETRACTION of uid 11's LAST copy in a: the grain goes dirty,
      // the rescan reads ONLY a's post-change rows, and COUNT(DISTINCT)
      // stays routed with the repaired set
      MvRegistry.register(spark, "file:" + base, MvRegistry.Summary(
        next, Seq("event_type"), "cnt",
        sums = Map("v_micro" -> "sum_micro"),
        nns = Map("v_micro" -> "n_nonnull"),
        distincts = Map("uid" -> "kmv_uid")))
      Seq(("a", 1L, 10L), ("a", 3L, 10L), ("a", 6L, 12L),
        ("b", 4L, 20L), ("b", 5L, 21L), ("b", 7L, 20L), ("c", 8L, 30L))
        .toDF("event_type", "v_micro", "uid")
        .write.mode("overwrite").parquet(base)
      val delta = Seq(("a", 2L, 11L, -1L))
        .toDF("event_type", "v_micro", "uid", "sign")
      val next2 = IncrementalFinal.refreshSummary(spark, "file:" + base,
        next, delta, Seq("event_type"))
      val routed2 = q()
      val paths2 = scannedPaths(routed2)
      assert(paths2.exists(_.contains(next2)),
        s"COUNT(DISTINCT) must stay routed through a retraction: $paths2")
      assert(!paths2.exists(_.contains(base)),
        s"base still scanned after the dirty repair: $paths2")
      val got2 = asMap(routed2.collect())
      assert(got2 === Map("a" -> ((2L, 3L)), "b" -> ((2L, 3L)),
        "c" -> ((1L, 1L))))
      MvRegistry.clear()
      assert(got2 === asMap(q().collect())) // ≡ recompute
    } finally MvRegistry.clear()
  }

  test("type fences (review r18): a DECIMAL sum whose re-sum would widen " +
       "bails with the answer intact; a mis-registered non-numeric sum " +
       "column bails AVG to the base instead of casting") {
    // decimal base: Sum(Decimal(12,2)) -> Decimal(22,2) in the query;
    // the summary column holds that widened type, but re-summing it
    // would widen AGAIN (Decimal(32,2)) under the preserved exprId —
    // the fence must bail (base scanned), never emit the mis-typed plan
    val base = tmpDir("mv-dec-base"); val mv = tmpDir("mv-dec-sum")
    (0L until 100L)
      .map(i => (s"t${i % 3}", BigDecimal(i).setScale(2)))
      .toDF("event_type", "amount")
      .select(col("event_type"),
        col("amount").cast("decimal(12,2)").as("amount"))
      .write.mode("overwrite").parquet(base)
    spark.read.parquet(base).groupBy("event_type")
      .agg(count(lit(1)).as("cnt"), sum("amount").as("sum_a"),
        count("amount").as("nn_a"))
      .write.mode("overwrite").parquet(mv)
    MvRegistry.register(spark, "file:" + base, MvRegistry.Summary(
      mv, Seq("event_type"), "cnt",
      sums = Map("amount" -> "sum_a"), nns = Map("amount" -> "nn_a")))
    try {
      val q = spark.read.parquet(base).groupBy("event_type")
        .agg(sum("amount").as("s")).orderBy("event_type")
      val paths = scannedPaths(q)
      assert(paths.exists(_.contains(base)),
        s"decimal SUM routed through the widening re-sum: $paths")
      // the answer is right either way — the fence is about plan types
      assert(q.collect().map(_.get(1).toString).length === 3)

      // mis-registration: sums pointing at a STRING column must bail
      // AVG (a cast would silently null out the numerator)
      val mvBad = tmpDir("mv-dec-bad")
      spark.read.parquet(base).groupBy("event_type")
        .agg(count(lit(1)).as("cnt"),
          concat_ws(",", collect_list(col("amount"))).as("sum_a"),
          count("amount").as("nn_a"))
        .write.mode("overwrite").parquet(mvBad)
      MvRegistry.clear()
      MvRegistry.register(spark, "file:" + base, MvRegistry.Summary(
        mvBad, Seq("event_type"), "cnt",
        sums = Map("amount" -> "sum_a"), nns = Map("amount" -> "nn_a")))
      val qc = spark.read.parquet(base).groupBy("event_type")
        .agg(avg("amount").as("a"))
      val pc = scannedPaths(qc)
      assert(pc.exists(_.contains(base)),
        s"AVG routed through a STRING summary column: $pc")
    } finally MvRegistry.clear()
  }
}
