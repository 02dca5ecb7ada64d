package graft

import org.apache.spark.sql.functions._

import graft.pipeline.IncrementalFinal

/** Partition-granular incremental rebuild of `final`: only partitions in
  * the incoming batch are replaced; history survives untouched. */
class IncrementalFinalSuite extends SparkSuite {

  import spark.implicits._

  private val employees = Seq(
    (1, 52000, "BU1", "CDI"), (2, 61000, "BU2", "CDD"))
    .toDF("id_employee", "gross_salary", "business_unity", "constract_type")

  private def acts(rows: (Int, String, Int)*) =
    rows.toSeq.toDF("id_employee", "start_datetime", "activity_duration")

  test("second batch overwrites only its own date partitions") {
    val out = tmpDir("incr-final")
    // day 1 and day 2
    IncrementalFinal.upsertBatch(spark, employees, acts(
      (1, "2024-04-01 10:00:00", 30),
      (1, "2024-04-02 10:00:00", 40),
      (2, "2024-04-01 11:00:00", 50)), out)
    val v1 = spark.read.parquet(out)
    assert(v1.count() === 3)

    // re-process day 2 with corrected data + a new day 3
    IncrementalFinal.upsertBatch(spark, employees, acts(
      (1, "2024-04-02 10:00:00", 99),
      (2, "2024-04-03 09:00:00", 20)), out)
    val v2 = spark.read.parquet(out).cache()

    // day 1 untouched, day 2 replaced (new duration), day 3 added
    assert(v2.filter(col("activity_date") === "2024-04-01").count() === 2)
    val day2 = v2.filter(col("activity_date") === "2024-04-02")
      .select("mean_duration").as[Double].collect()
    assert(day2.toSeq === Seq(99.0))
    assert(v2.filter(col("activity_date") === "2024-04-03").count() === 1)
    v2.unpersist()
  }

  test("re-running the same batch is idempotent") {
    val out = tmpDir("incr-idem")
    val batch = acts((1, "2024-04-05 08:00:00", 10), (2, "2024-04-05 09:00:00", 20))
    IncrementalFinal.upsertBatch(spark, employees, batch, out)
    val first = spark.read.parquet(out).collect().toSet
    IncrementalFinal.upsertBatch(spark, employees, batch, out)
    assert(spark.read.parquet(out).collect().toSet === first)
  }

  private def changesetOf(rows: (Int, String, Int)*) =
    graft.pipeline.JoinPipeline.employeeProjection(employees)
      .join(IncrementalFinal.aggregateBatch(acts(rows: _*)), Seq("id_employee"))

  test("mergeChangeset: keyed update-or-insert, untouched rows AND partitions survive, idempotent") {
    val out = tmpDir("incr-merge")
    // seed: both employees on day 1 and day 2
    IncrementalFinal.upsertBatch(spark, employees, acts(
      (1, "2024-04-01 10:00:00", 30), (2, "2024-04-01 11:00:00", 50),
      (1, "2024-04-02 10:00:00", 40), (2, "2024-04-02 11:00:00", 60)), out)
    // prove cost ∝ touched partitions: day-1 files must not be rewritten
    val day1 = new java.io.File(out, "activity_date=2024-04-01")
    val before = day1.listFiles().filter(_.getName.endsWith(".parquet"))
      .map(f => f.getName -> f.lastModified).toMap
    assert(before.nonEmpty)

    // changeset: UPDATE employee 1 on day 2, INSERT employee 2 on day 3
    IncrementalFinal.mergeChangeset(spark, changesetOf(
      (1, "2024-04-02 10:00:00", 99), (2, "2024-04-03 09:00:00", 20)), out)

    val v = spark.read.parquet(out).cache()
    def mean(date: String, emp: Int): Seq[Double] =
      v.filter(col("activity_date") === date && col("id_employee") === emp)
        .select("mean_duration").as[Double].collect().toSeq
    assert(v.filter(col("activity_date") === "2024-04-01").count() === 2) // day 1 intact
    assert(mean("2024-04-02", 1) === Seq(99.0)) // updated in place
    assert(mean("2024-04-02", 2) === Seq(60.0)) // partition-mate SURVIVES the merge
    assert(mean("2024-04-03", 2) === Seq(20.0)) // inserted, new partition
    val snapshot = v.collect().toSet
    v.unpersist()
    // day-1 partition files untouched (partition pruning + dynamic overwrite)
    val after = day1.listFiles().filter(_.getName.endsWith(".parquet"))
      .map(f => f.getName -> f.lastModified).toMap
    assert(after === before, "merge rewrote an untouched partition")

    // merge(C) ∘ merge(C) ≡ merge(C)
    IncrementalFinal.mergeChangeset(spark, changesetOf(
      (1, "2024-04-02 10:00:00", 99), (2, "2024-04-03 09:00:00", 20)), out)
    assert(spark.read.parquet(out).collect().toSet === snapshot)
  }

  test("mergeChangeset on an empty table is a plain first write") {
    val out = tmpDir("incr-merge-empty")
    IncrementalFinal.mergeChangeset(spark, changesetOf(
      (1, "2024-04-10 08:00:00", 15)), out)
    val v = spark.read.parquet(out)
    assert(v.count() === 1)
    assert(v.select("mean_duration").as[Double].head() === 15.0)
  }

  test("maintainJoinBucketed ≡ maintainJoin ≡ re-join on random two-sided " +
    "changelogs; untouched bucket files are never rewritten") {
    import scala.util.Random
    val rnd = new Random(20260814L)
    val state = tmpDir("ivm-join-state")
    val keys = 0L until 10L
    // PK-keyed sides: ≤ 1 row per key per side (maintainJoin's contract)
    var aCur: Map[Long, Long] = keys.filter(_ => rnd.nextBoolean())
      .map(k => k -> rnd.nextLong(1000)).toMap
    var bCur: Map[Long, String] = keys.filter(_ => rnd.nextBoolean())
      .map(k => k -> s"b${rnd.nextInt(100)}").toMap
    def aDf(m: Map[Long, Long]) = m.toSeq.toDF("k", "aid")
    def bDf(m: Map[Long, String]) = m.toSeq.toDF("k", "bname")
    def join(a: Map[Long, Long], b: Map[Long, String]) =
      a.keySet.intersect(b.keySet).map(k => (k, a(k), b(k)))

    var view = aDf(aCur).join(bDf(bCur), Seq("k"))
    IncrementalFinal.seedJoinView(view, Seq("k"), state, nBuckets = 8)
    assert(IncrementalFinal.readJoinView(spark, state).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSet ===
      join(aCur, bCur))

    for (batch <- 1L to 4L) {
      // random two-sided changes: deletes, updates (retract+insert),
      // births — on BOTH sides in the same batch
      val dA = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Long)]
      val dB = scala.collection.mutable.ArrayBuffer.empty[(Long, String, Long)]
      var aNext = aCur; var bNext = bCur
      keys.filter(_ => rnd.nextInt(3) == 0).foreach { k =>
        aCur.get(k) match {
          case Some(old) =>
            dA += ((k, old, -1L)); aNext -= k
            if (rnd.nextBoolean()) {
              val v = rnd.nextLong(1000)
              dA += ((k, v, 1L)); aNext += (k -> v)
            }
          case None =>
            val v = rnd.nextLong(1000)
            dA += ((k, v, 1L)); aNext += (k -> v)
        }
      }
      keys.filter(_ => rnd.nextInt(3) == 0).foreach { k =>
        bCur.get(k) match {
          case Some(old) =>
            dB += ((k, old, -1L)); bNext -= k
            if (rnd.nextBoolean()) {
              val v = s"b${rnd.nextInt(100)}"
              dB += ((k, v, 1L)); bNext += (k -> v)
            }
          case None =>
            val v = s"b${rnd.nextInt(100)}"
            dB += ((k, v, 1L)); bNext += (k -> v)
        }
      }
      val dAdf = dA.toSeq.toDF("k", "aid", "sign")
      val dBdf = dB.toSeq.toDF("k", "bname", "sign")
      val expect = join(aNext, bNext)
      // pure-DataFrame maintenance agrees with recompute …
      val pure = IncrementalFinal
        .maintainJoin(view, aDf(aCur), bDf(bCur), dAdf, dBdf, Seq("k"))
      assert(pure.collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSet ===
        expect, s"maintainJoin diverged at batch $batch")
      // … and the bucketed merge materializes the SAME view
      IncrementalFinal.maintainJoinBucketed(state, aDf(aCur), bDf(bCur),
        dAdf, dBdf, Seq("k"), batchId = batch, nBuckets = 8)
      assert(IncrementalFinal.readJoinView(spark, state).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSet ===
        expect, s"maintainJoinBucketed diverged at batch $batch")
      view = pure.localCheckpoint(true)
      aCur = aNext; bCur = bNext
    }

    // Δ-proportionality on disk: a single-key update touches ONLY that
    // key's bucket — every other bucket's files are bit-unrewritten
    val k0 = join(aCur, bCur).headOption.map(_._1).getOrElse {
      // ensure at least one joined key exists for the probe
      aCur += (0L -> 1L); bCur += (0L -> "b0")
      IncrementalFinal.maintainJoinBucketed(state, aDf(aCur - 0L),
        bDf(bCur - 0L), Seq((0L, 1L, 1L)).toDF("k", "aid", "sign"),
        Seq((0L, "b0", 1L)).toDF("k", "bname", "sign"),
        Seq("k"), batchId = 5L, nBuckets = 8)
      0L
    }
    val touchedBucket = spark.range(1)
      .select(pmod(xxhash64(lit(k0)), lit(8)).as("b")).head().getLong(0)
    def fileTimes(): Map[String, Long] = new java.io.File(state).listFiles()
      .filter(_.getName.startsWith("__graft_bucket="))
      .flatMap(d => d.listFiles().filter(_.getName.endsWith(".parquet"))
        .map(f => s"${d.getName}/${f.getName}" -> f.lastModified))
      .toMap
    val before = fileTimes()
    val dAup = Seq((k0, aCur(k0), -1L), (k0, 4242L, 1L))
      .toDF("k", "aid", "sign")
    IncrementalFinal.maintainJoinBucketed(state, aDf(aCur), bDf(bCur),
      dAup, Seq.empty[(Long, String, Long)].toDF("k", "bname", "sign"),
      Seq("k"), batchId = 6L, nBuckets = 8)
    val after = fileTimes()
    val changed = after.keySet.union(before.keySet)
      .filter(f => before.get(f) != after.get(f))
    assert(changed.forall(_.startsWith(s"__graft_bucket=$touchedBucket/")),
      s"untouched buckets rewritten: $changed (touched=$touchedBucket)")
    // and the update landed
    assert(IncrementalFinal.readJoinView(spark, state)
      .filter(col("k") === k0).select("aid").as[Long].collect().toSeq ===
      Seq(4242L))
  }

  test("maintainLeftJoinBucketed ≡ maintainLeftJoin ≡ re-left-join on random " +
    "two-sided changelogs, including null-extension transitions") {
    import scala.util.Random
    val rnd = new Random(8141226L)
    val state = tmpDir("ivm-ljoin-state")
    val keys = 0L until 10L
    var aCur: Map[Long, Long] = keys.filter(_ => rnd.nextBoolean())
      .map(k => k -> rnd.nextLong(1000)).toMap
    var bCur: Map[Long, String] = keys.filter(_ => rnd.nextBoolean())
      .map(k => k -> s"b${rnd.nextInt(100)}").toMap
    def aDf(m: Map[Long, Long]) = m.toSeq.toDF("k", "aid")
    def bDf(m: Map[Long, String]) = m.toSeq.toDF("k", "bname")
    def leftJoin(a: Map[Long, Long], b: Map[Long, String]) =
      a.map { case (k, aid) => (k, aid, b.get(k)) }.toSet
    def viewSet(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1),
        if (r.isNullAt(2)) None else Some(r.getString(2)))).toSet

    var view = aDf(aCur).join(bDf(bCur), Seq("k"), "left")
    IncrementalFinal.seedJoinView(view, Seq("k"), state, nBuckets = 8)
    assert(viewSet(IncrementalFinal.readJoinView(spark, state)) ===
      leftJoin(aCur, bCur))

    for (batch <- 1L to 4L) {
      val dA = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Long)]
      val dB = scala.collection.mutable.ArrayBuffer.empty[(Long, String, Long)]
      var aNext = aCur; var bNext = bCur
      keys.filter(_ => rnd.nextInt(3) == 0).foreach { k =>
        aCur.get(k) match {
          case Some(old) =>
            dA += ((k, old, -1L)); aNext -= k
            if (rnd.nextBoolean()) {
              val v = rnd.nextLong(1000)
              dA += ((k, v, 1L)); aNext += (k -> v)
            }
          case None =>
            val v = rnd.nextLong(1000)
            dA += ((k, v, 1L)); aNext += (k -> v)
        }
      }
      // B-side churn drives BOTH null-extension transitions: a key
      // gaining its first match (retract null-extended) and losing its
      // last (reinstate it)
      keys.filter(_ => rnd.nextInt(3) == 0).foreach { k =>
        bCur.get(k) match {
          case Some(old) =>
            dB += ((k, old, -1L)); bNext -= k
            if (rnd.nextBoolean()) {
              val v = s"b${rnd.nextInt(100)}"
              dB += ((k, v, 1L)); bNext += (k -> v)
            }
          case None =>
            val v = s"b${rnd.nextInt(100)}"
            dB += ((k, v, 1L)); bNext += (k -> v)
        }
      }
      val dAdf = dA.toSeq.toDF("k", "aid", "sign")
      val dBdf = dB.toSeq.toDF("k", "bname", "sign")
      val expect = leftJoin(aNext, bNext)
      val pure = IncrementalFinal
        .maintainLeftJoin(view, aDf(aCur), bDf(bCur), dAdf, dBdf, Seq("k"))
      assert(viewSet(pure) === expect,
        s"maintainLeftJoin diverged at batch $batch")
      IncrementalFinal.maintainLeftJoinBucketed(state, aDf(aCur),
        bDf(bCur), dAdf, dBdf, Seq("k"), batchId = batch, nBuckets = 8)
      assert(viewSet(IncrementalFinal.readJoinView(spark, state)) ===
        expect, s"maintainLeftJoinBucketed diverged at batch $batch")
      view = pure.localCheckpoint(true)
      aCur = aNext; bCur = bNext
    }
  }

  test("maintainAggregate ≡ recompute: inserts, retractions, key death, key birth, NULL-mass retraction") {
    // base rows per key k: (k, value-or-null)
    val base = Seq(
      ("a", Some(10L)), ("a", Some(20L)), ("a", None),
      ("b", Some(5L)),
      ("c", None), ("c", Some(7L))).map { case (k, v) => (k, v) }
      .toDF("k", "v_micro")
    val baseAgg = base.groupBy("k").agg(
      count(lit(1)).as("cnt"),
      count(col("v_micro")).as("n_nonnull"),
      sum(col("v_micro")).as("sum_micro"))
    // Δ: insert into a; kill b entirely; retract c's ONLY non-null row
    // (sum must go to NULL, not 0); birth new key d
    val delta = Seq(
      ("a", Some(30L), 1L),
      ("b", Some(5L), -1L),
      ("c", Some(7L), -1L),
      ("d", Some(9L), 1L), ("d", None, 1L))
      .toDF("k", "v_micro", "sign")
    val got = IncrementalFinal.maintainAggregate(baseAgg, delta, Seq("k"))
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), if (r.isNullAt(3)) None else Some(r.getLong(3)))).toMap
    assert(got("a") === (4L, Some(60L)))
    assert(!got.contains("b"))            // count hit 0 → key leaves state
    assert(got("c") === (1L, None))       // null row remains, SUM is NULL
    assert(got("d") === (2L, Some(9L)))   // key born from the delta alone
    // and the folded state equals a from-scratch recompute of the
    // post-change multiset
    val finalRows = Seq(
      ("a", Some(10L)), ("a", Some(20L)), ("a", None), ("a", Some(30L)),
      ("c", None), ("d", Some(9L)), ("d", None))
      .toDF("k", "v_micro")
    val re = finalRows.groupBy("k").agg(
      count(lit(1)).as("cnt"), sum(col("v_micro")).as("sum_micro"))
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), if (r.isNullAt(2)) None else Some(r.getLong(2)))).toMap
    assert(got.view.mapValues(identity).toMap === re)
  }

  test("maintainMinMax: inserts improve in place; only extreme-touching retractions go dirty") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, lit}
    val base = Seq(
      ("a", 1L), ("a", 5L), ("a", 9L),   // delete interior → clean
      ("b", 2L), ("b", 8L),              // delete the min → dirty
      ("c", 3L), ("c", 7L),              // duplicate-min bait below
      ("c", 3L),
      ("d", 4L))                         // untouched key
      .toDF("k", "v")
    val baseMm = base.groupBy("k")
      .agg(org.apache.spark.sql.functions.min("v").as("min_v"),
        org.apache.spark.sql.functions.max("v").as("max_v"))
    val delta = Seq(
      ("a", 5L, -1L),   // interior retraction: exact in place
      ("a", 0L, 1L),    // insert improving the min: exact in place
      ("b", 2L, -1L),   // retracts b's minimum → dirty
      ("c", 3L, -1L),   // retracts ONE copy of a duplicated min →
                        // conservatively dirty (rescan confirms 3)
      ("e", 6L, 1L), ("e", 2L, 1L)) // new key: extremes of inserts
      .toDF("k", "v", "sign")
    val got = IncrementalFinal
      .maintainMinMax(baseMm, delta, Seq("k"), valueCol = "v")
      .collect().map(r => r.getString(0) ->
        (if (r.isNullAt(1)) None else Some(r.getLong(1)),
          if (r.isNullAt(2)) None else Some(r.getLong(2)),
          r.getBoolean(3))).toMap
    assert(got("a") === ((Some(0L), Some(9L), false)))
    assert(got("b") === ((None, None, true)))
    assert(got("c") === ((None, None, true)))
    assert(got("d") === ((Some(4L), Some(4L), false)))
    assert(got("e") === ((Some(2L), Some(6L), false)))
    // the composed protocol: targeted rescan of dirty keys ≡ recompute
    val post = Seq(("b", 8L), ("c", 3L), ("c", 7L)).toDF("k", "v")
    val rescanned = post.join(
        Seq("b", "c").toDF("k"), Seq("k"), "left_semi")
      .groupBy("k")
      .agg(org.apache.spark.sql.functions.min("v").as("min_v"),
        org.apache.spark.sql.functions.max("v").as("max_v"))
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(rescanned === Map("b" -> ((8L, 8L)), "c" -> ((3L, 7L))))
  }

  test("maintainMinMax: a grain with no stored extreme goes dirty on a non-null retraction in the same delta") {
    import spark.implicits._
    val baseMm = Seq(("g", None: Option[Long], None: Option[Long]),
        ("n", None, None))
      .toDF("k", "min_v", "max_v")      // grains whose values are all NULL
    val delta = Seq(
      ("f", Some(5L), 1L), ("f", Some(7L), 1L), // new key: insert 5 and 7,
      ("f", Some(5L), -1L),                     // retract 5 → max is 7, not 5
      ("g", Some(3L), 1L), ("g", Some(3L), -1L), // all-NULL grain, same shape
      ("h", Some(4L), 1L), ("h", None, -1L),    // a NULL retraction bounds nothing
      ("n", None, -1L))
      .toDF("k", "v", "sign")
    val got = IncrementalFinal
      .maintainMinMax(baseMm, delta, Seq("k"), valueCol = "v")
      .collect().map(r => r.getString(0) ->
        (Option(r.get(1)), Option(r.get(2)), r.getBoolean(3))).toMap
    assert(got("f") === ((None, None, true)))
    assert(got("g") === ((None, None, true)))
    assert(got("h") === ((Some(4L), Some(4L), false)))
    assert(got("n") === ((None, None, false)))
  }

  test("maintainDistinct: insert-only grains fold the hash-set union exactly; any retraction goes dirty; new keys born clean") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, lit, expr}
    val base = Seq(
      ("a", Some("u1")), ("a", Some("u2")), ("a", None), // null never counted
      ("b", Some("u1")), ("b", Some("u3")),
      ("c", Some("u4")))                                 // untouched key
      .toDF("k", "uid")
    val baseSk = graft.functions.Kmv.withHash(base, "uid", "__h")
      .groupBy("k").agg(expr("array_sort(collect_set(__h))").as("kmv"))
    val delta = Seq(
      ("a", Some("u2"), 1L),  // re-insert of a PRESENT value: no growth
      ("a", Some("u9"), 1L),  // genuinely new value
      ("a", None, 1L),        // null insert: never enters the set
      ("b", Some("u1"), -1L), // retraction → dirty (last copy undecidable)
      ("d", Some("u7"), 1L))  // key born from the delta alone
      .toDF("k", "uid", "sign")
    val m = IncrementalFinal.maintainDistinct(baseSk, delta, Seq("k"),
      sketchCol = "kmv", valueCol = "uid")
    val got = m.collect().map(r => r.getString(0) ->
      (if (r.isNullAt(1)) None else Some(r.getSeq[Long](1).size),
        r.getBoolean(2))).toMap
    assert(got("a") === ((Some(3), false))) // {u1,u2,u9} — dup + null absorbed
    assert(got("b") === ((None, true)))     // retraction: rescan required
    assert(got("c") === ((Some(1), false))) // untouched
    assert(got("d") === ((Some(1), false))) // new key: sketch of its inserts
    // the composed protocol ≡ recompute over the post-change multiset
    // (clean folds counted from state, dirty keys rescanned from post)
    val post = Seq( // base minus b's u1, plus the inserts
      ("a", "u1"), ("a", "u2"), ("a", "u2"), ("a", "u9"),
      ("b", "u3"), ("c", "u4"), ("d", "u7")).toDF("k", "uid")
    val rescan = post.join(m.filter(col("dirty")).select("k"),
        Seq("k"), "left_semi")
      .groupBy("k")
      .agg(org.apache.spark.sql.functions.countDistinct(col("uid")).as("nd"))
    val clean = m.filter(!col("dirty"))
      .select(col("k"), org.apache.spark.sql.functions.size(col("kmv"))
        .cast("long").as("nd"))
    val composed = clean.unionByName(rescan)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val re = post.groupBy("k")
      .agg(org.apache.spark.sql.functions.countDistinct(col("uid")).as("nd"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(composed === re)
  }

  test("NULL grain keys are first-class across every fold (review r18): " +
       "aggregate/minmax/distinct folds meet their state row, the left " +
       "join emits null-key A rows null-extended, and mergeChangeset " +
       "upserts the null partition without clobbering it") {
    // maintainAggregate: retract against the NULL grain must reach its
    // state row (a null-unsafe join would keep cnt=2 and drop the delta)
    val base = Seq((None: Option[String], 10L), (None, 20L), (Some("a"), 1L))
      .toDF("k", "v_micro")
    val baseAgg = base.groupBy("k").agg(
      count(lit(1)).as("cnt"), count(col("v_micro")).as("n_nonnull"),
      sum(col("v_micro")).as("sum_micro"))
    val delta = Seq((None: Option[String], 10L, -1L))
      .toDF("k", "v_micro", "sign")
    val got = IncrementalFinal.maintainAggregate(baseAgg, delta, Seq("k"))
      .collect().map(r => Option(r.getString(0)) ->
        (r.getLong(1), r.getLong(3))).toMap
    assert(got(None) === ((1L, 20L)))     // folded, not stale 2/30
    assert(got(Some("a")) === ((1L, 1L)))

    // maintainMinMax: a retraction of the null grain's minimum must
    // flag ITS row dirty (null-unsafe: never flagged, stale extreme)
    val mmBase = Seq((None: Option[String], 1L), (None, 9L), (Some("a"), 5L))
      .toDF("k", "v").groupBy("k")
      .agg(org.apache.spark.sql.functions.min("v").as("min_v"),
        org.apache.spark.sql.functions.max("v").as("max_v"))
    val mm = IncrementalFinal.maintainMinMax(mmBase,
        Seq((None: Option[String], 1L, -1L)).toDF("k", "v", "sign"),
        Seq("k"), valueCol = "v")
      .collect().map(r => Option(r.getString(0)) -> r.getBoolean(3)).toMap
    assert(mm(None) === true)
    assert(mm(Some("a")) === false)

    // maintainDistinct: an insert into the null grain folds into ITS
    // sketch (null-unsafe: a second null-key row with just the insert)
    val skBase = graft.functions.Kmv.withHash(
        Seq((None: Option[String], "u1"), (Some("a"), "u2")).toDF("k", "uid"),
        "uid", "__h")
      .groupBy("k").agg(expr("array_sort(collect_set(__h))").as("kmv"))
    val sk = IncrementalFinal.maintainDistinct(skBase,
        Seq((None: Option[String], "u9", 1L)).toDF("k", "uid", "sign"),
        Seq("k"), sketchCol = "kmv", valueCol = "uid")
      .collect().map(r => Option(r.getString(0)) -> r.getSeq[Long](1).size)
      .toMap
    assert(sk === Map(None -> 2, Some("a") -> 1))

    // maintainLeftJoin: inserting an A row with a NULL join key must
    // emit it null-extended (SQL join semantics), not vanish
    val aOld = Seq(("x", 1L)).toDF("key", "a_payload")
    val bOld = Seq(("x", 100L)).toDF("key", "b_pk")
    val view = aOld.join(bOld, Seq("key"), "left_outer")
    val dA = Seq((None: Option[String], 2L, 1L))
      .toDF("key", "a_payload", "sign")
    val dB = Seq.empty[(String, Long, Long)].toDF("key", "b_pk", "sign")
    val v2 = IncrementalFinal.maintainLeftJoin(view, aOld, bOld, dA, dB,
      Seq("key"))
    val fromScratch = aOld
      .unionByName(Seq((None: Option[String], 2L)).toDF("key", "a_payload"))
      .join(bOld, Seq("key"), "left_outer")
    assert(v2.collect().toSet === fromScratch.collect().toSet)
    // and retracting it again removes exactly that row
    val v3 = IncrementalFinal.maintainLeftJoin(v2, aOld.unionByName(
        Seq((None: Option[String], 2L)).toDF("key", "a_payload")),
      bOld,
      Seq((None: Option[String], 2L, -1L)).toDF("key", "a_payload", "sign"),
      dB, Seq("key"))
    assert(v3.collect().toSet === view.collect().toSet)

    // mergeChangeset: an update keyed (employee, NULL date) must replace
    // its own row and keep the null partition's OTHER rows (isin(null)
    // would silently delete them via the dynamic overwrite)
    val out = tmpDir("incr-null-date")
    def finalRow(id: Int, d: Option[String], n: Long) =
      (id, d.map(java.sql.Date.valueOf), n)
    Seq(finalRow(1, None, 10L), finalRow(2, None, 20L),
        finalRow(1, Some("2024-04-01"), 30L))
      .toDF("id_employee", "activity_date", "count_activity")
      .write.mode("overwrite").partitionBy("activity_date").parquet(out)
    IncrementalFinal.mergeChangeset(spark,
      Seq(finalRow(1, None, 99L))
        .toDF("id_employee", "activity_date", "count_activity"), out)
    // partitionBy moves activity_date last on disk; read by name
    val byKey = spark.read.parquet(out)
      .select("id_employee", "activity_date", "count_activity")
      .collect().map(r => (r.getInt(0), Option(r.getDate(1)).map(_.toString),
        r.getLong(2))).toSet
    assert(byKey === Set((1, None, 99L), (2, None, 20L),
      (1, Some("2024-04-01"), 30L)))
  }
}
