package graft

import org.apache.spark.sql.functions._

import graft.operators.{AsOfJoin, RangeJoin}

/** AS-OF and range join semantics on hand-built fixtures. */
class TemporalJoinSpec extends SparkSuite {

  import spark.implicits._

  private def ts(s: String) = java.sql.Timestamp.valueOf(s)

  test("asof: latest right row at-or-before each left row; null when none") {
    val left = Seq(
      (1L, ts("2024-01-01 10:00:00"), 101L),
      (1L, ts("2024-01-01 12:00:00"), 102L),
      (2L, ts("2024-01-01 09:00:00"), 201L)) // user 2 has no clicks
      .toDF("user_id", "ts", "event_id")
    val right = Seq(
      (1L, ts("2024-01-01 09:30:00"), 11L),
      (1L, ts("2024-01-01 10:00:00"), 12L), // equal ts: inclusive match
      (1L, ts("2024-01-01 11:59:00"), 13L))
      .toDF("user_id", "ts", "event_id")

    val got = AsOfJoin.latestPrior(left, right, "user_id", "ts",
      Seq("event_id"), Seq("event_id"), "event_id")
      .collect().map(r => r.getLong(2) -> Option(r.get(3)).map(_.asInstanceOf[Long]))
      .toMap
    assert(got(101L) === Some(12L)) // 10:00 right row matches inclusively
    assert(got(102L) === Some(13L)) // latest before noon
    assert(got(201L) === None)      // no right rows for user 2
  }

  test("asof forward + nearest: direction mirror, tie prefers prior, equal-ts inclusive") {
    val left = Seq(
      (1L, ts("2024-01-01 10:00:00"), 101L),  // exactly between two clicks
      (1L, ts("2024-01-01 12:00:00"), 102L),  // only prior exists
      (1L, ts("2024-01-01 08:00:00"), 103L))  // only next exists
      .toDF("user_id", "ts", "event_id")
    val right = Seq(
      (1L, ts("2024-01-01 09:00:00"), 11L),
      (1L, ts("2024-01-01 11:00:00"), 12L))
      .toDF("user_id", "ts", "event_id")

    val fwd = AsOfJoin.earliestNext(left, right, "user_id", "ts",
      Seq("event_id"), Seq("event_id"), "event_id")
      .collect().map(r => r.getLong(2) -> Option(r.get(3))).toMap
    assert(fwd(101L) === Some(12L)) // earliest at-or-after 10:00
    assert(fwd(102L) === None)      // nothing after 12:00
    assert(fwd(103L) === Some(11L))

    val near = AsOfJoin.nearest(left, right, "user_id", "ts",
      Seq("event_id"), Seq("event_id"), "event_id")
      .collect().map(r => r.getLong(2) -> Option(r.get(3))).toMap
    assert(near(101L) === Some(11L)) // exact tie (1h both ways) → PRIOR wins
    assert(near(102L) === Some(12L)) // only prior
    assert(near(103L) === Some(11L)) // only next
  }

  test("asof: all carried right columns come from the same matched row") {
    val left = Seq((1L, ts("2024-01-01 10:00:00"), 1L)).toDF("user_id", "ts", "event_id")
    val right = Seq(
      (1L, ts("2024-01-01 09:00:00"), 5L, "early"),
      (1L, ts("2024-01-01 09:30:00"), 6L, null))
      .toDF("user_id", "ts", "event_id", "tag")
    val r = AsOfJoin.latestPrior(left, right, "user_id", "ts",
      Seq("event_id"), Seq("event_id", "tag"), "event_id").head()
    // matched row is the 09:30 one: id 6 AND its null tag — not a mix
    assert(r.getAs[Long]("asof_event_id") === 6L)
    assert(r.getAs[String]("asof_tag") === null)
  }

  test("asof: a non-numeric tiebreak fails loudly instead of casting to NULL") {
    val left = Seq((1L, ts("2024-01-01 10:00:00"), 1L)).toDF("user_id", "ts", "event_id")
    val right = Seq((1L, ts("2024-01-01 09:00:00"), "row-a"))
      .toDF("user_id", "ts", "tag")
    val e = intercept[IllegalArgumentException] {
      AsOfJoin.latestPrior(left, right, "user_id", "ts",
        Seq("event_id"), Seq("tag"), "tag")
    }
    assert(e.getMessage.contains("tag") && e.getMessage.contains("numeric"))
  }

  test("range join: bucketed pairs equal the naive theta join") {
    val rnd = new scala.util.Random(3)
    val rows = (0 until 300).map { i =>
      (i.toLong % 7, new java.sql.Timestamp(
        ts("2024-01-01 00:00:00").getTime + rnd.nextInt(6 * 3600) * 1000L), i.toLong)
    }
    val df = rows.toDF("user_id", "ts", "event_id")
    val gapUs = 300L * 1000000L // 5 minutes

    val banded = RangeJoin.withinGapPairs(df, "user_id", "ts", "event_id", gapUs)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val naive = df.as("a").join(df.as("b"),
        col("a.user_id") === col("b.user_id") &&
          col("a.event_id") < col("b.event_id") &&
          abs(unix_micros(col("a.ts")) - unix_micros(col("b.ts"))) <= gapUs)
      .select(col("a.event_id"), col("b.event_id"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(naive.nonEmpty)
    assert(banded === naive)
  }

  test("interval overlap: canonical-bucket pairs equal the naive theta join, exactly once") {
    val rnd = new scala.util.Random(11)
    // random intervals up to 3 buckets long, plus touching / empty edges
    val left = ((0 until 120).map { i =>
      val s = rnd.nextInt(5000).toLong
      (i.toLong, s, s + 1 + rnd.nextInt(300).toLong)
    } :+ ((900L, 100L, 100L))) // empty: never matches
      .toDF("id_l", "start_l", "end_l")
    val right = (0 until 80).map { j =>
      val s = rnd.nextInt(5000).toLong
      (j.toLong, s, s + 1 + rnd.nextInt(300).toLong)
    }.toDF("id_r", "start_r", "end_r")

    val got = RangeJoin.intervalOverlap(left, right, bucketUs = 128L)
      .select("id_l", "id_r").collect().map(r => (r.getLong(0), r.getLong(1)))
    // exactly once per qualifying pair — no dedup shuffle to hide doubles
    assert(got.length === got.toSet.size)
    val naive = left.as("a").join(right.as("b"),
        col("a.start_l") < col("a.end_l") && // empty intervals never match
          col("a.start_l") < col("b.end_r") && col("b.start_r") < col("a.end_l"))
      .select(col("a.id_l"), col("b.id_r"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(naive.nonEmpty)
    assert(got.toSet === naive)
    // half-open semantics: touching intervals [0,10) and [10,20) don't match
    val touch = RangeJoin.intervalOverlap(
      Seq((1L, 0L, 10L)).toDF("id_l", "start_l", "end_l"),
      Seq((2L, 10L, 20L)).toDF("id_r", "start_r", "end_r"), 8L)
    assert(touch.count() === 0L)
  }

  test("funnel: order matters, ties don't advance, stages are greedy-earliest") {
    def ts(s: Long) = new java.sql.Timestamp(s * 1000L)
    val events = Seq(
      // user 1: full ordered funnel
      (1L, ts(10), "view"), (1L, ts(20), "click"), (1L, ts(30), "purchase"),
      // user 2: purchase BEFORE click → stage stops at click
      (2L, ts(10), "view"), (2L, ts(15), "purchase"), (2L, ts(20), "click"),
      // user 3: click at the SAME ts as view → strict ordering rejects it
      (3L, ts(10), "view"), (3L, ts(10), "click"),
      // user 4: only clicks → stage 0
      (4L, ts(5), "click"), (4L, ts(6), "click"),
      // user 5: two views; funnel anchors on the EARLIEST, later click counts
      (5L, ts(10), "view"), (5L, ts(40), "view"), (5L, ts(20), "click")
    ).toDF("user_id", "ts", "event_type")
    val out = graft.operators.Funnel
      .stages(events, Seq("view", "click", "purchase"))
      .collect().map(r => r.getLong(0) -> r.getAs[Long]("stage")).toMap
    assert(out === Map(1L -> 3L, 2L -> 2L, 3L -> 1L, 4L -> 0L, 5L -> 2L))
    // reached timestamps are the greedy-earliest chain for user 1
    val u1 = graft.operators.Funnel
      .stages(events, Seq("view", "click", "purchase"))
      .filter(col("user_id") === 1L).head()
    assert(u1.getTimestamp(2) === ts(10) && u1.getTimestamp(3) === ts(20)
      && u1.getTimestamp(4) === ts(30))
  }

  test("funnel: maxPerStep bounds a pathological user's state without changing sane users") {
    def ts(s: Long) = new java.sql.Timestamp(s * 1000L)
    // user 9 is the bot: 10_000 views then one click — unbounded
    // collect_list state without the cap. user 1 is an ordinary funnel.
    val bot = (1 to 10000).map(i => (9L, ts(i.toLong), "view")) :+
      ((9L, ts(20000L), "click"))
    val sane = Seq((1L, ts(10), "view"), (1L, ts(20), "click"),
      (1L, ts(30), "purchase"))
    val events = (bot ++ sane).toDF("user_id", "ts", "event_type")
    val capped = graft.operators.Funnel
      .stages(events, Seq("view", "click", "purchase"), maxPerStep = Some(50))
      .collect().map(r => r.getLong(0) -> r.getAs[Long]("stage")).toMap
    // the bot's qualifying chain (first view → later click) survives the
    // cap — its earliest 50 views include t₁ — and the sane user is
    // untouched
    assert(capped === Map(1L -> 3L, 9L -> 2L))
    // documented trade: a chain that only continues past the cap undercounts
    val lateOnly = ((1 to 100).map(i => (7L, ts(i.toLong), "view")) :+
      ((7L, ts(5L), "click"))).toDF("user_id", "ts", "event_type")
    val under = graft.operators.Funnel
      .stages(lateOnly, Seq("click", "view"), maxPerStep = Some(3))
      .collect().map(r => r.getLong(0) -> r.getAs[Long]("stage")).toMap
    // click at t=5 then views at 1..100: uncapped reaches stage 2 via the
    // first view AFTER t=5 (t=6); capped keeps views t=1,2,3 only → stage 1
    assert(under === Map(7L -> 1L))
  }
}
