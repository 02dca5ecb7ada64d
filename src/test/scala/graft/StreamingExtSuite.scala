package graft

import java.nio.file.{Files, Paths, StandardOpenOption}

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{OutputMode, StreamingQuery}

import graft.streaming.{DriftMonitor, Monitor, StreamingDedup, WindowedStats}

/** Beyond-parity streaming surface: watermarked event-time windows,
  * streaming dedup (built-in + custom state), listener-based monitoring.
  *
  * Batch boundaries are made deterministic by writing each input file
  * only AFTER `processAllAvailable()` drained the previous one (same-mtime
  * files can land in one micro-batch regardless of maxFilesPerTrigger;
  * SURVEY §7.4-R4 wall-clock-free streaming tests). */
class StreamingExtSuite extends SparkSuite {

  import spark.implicits._

  private var seq = 0
  private def feed(dir: String, q: StreamingQuery, lines: Seq[String]): Unit = {
    seq += 1
    Files.write(Paths.get(dir, f"b$seq%03d.json"),
      lines.mkString("\n").getBytes("UTF-8"), StandardOpenOption.CREATE)
    q.processAllAvailable()
  }

  test("stream-static join enriches the CDC stream through a broadcast dimension") {
    val in = tmpDir("ss-in"); val cp = tmpDir("ss-cp")
    Fixtures.writeCdcFixture(in)
    // the dimension is a plain batch frame: Spark re-plans it per
    // micro-batch, broadcast keeps the stream side shuffle-free — the
    // standard enrichment shape at scale (dim fits, facts stream)
    val dim = Fixtures.employees(spark).select(col("id_employee"), col("business_unity"))
    val enriched = graft.streaming.CdcIngest
      .parseEnvelope(spark.readStream.format("text").load(in))
      .join(broadcast(dim), Seq("id_employee"), "left")
    val q = enriched.writeStream.format("memory").queryName("ss_enriched")
      .outputMode("append").option("checkpointLocation", cp)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    q.awaitTermination()
    val rows = spark.table("ss_enriched").collect()
    assert(rows.length === 5)
    assert(rows.forall(_.getAs[String]("business_unity") != null)) // all enriched
  }

  test("stream-static outlier alerting: precomputed stats broadcast per micro-batch, state-free") {
    import spark.implicits._
    val in = tmpDir("out-in"); val cp = tmpDir("out-cp")
    // history: group 'a' tightly centered at 10.0 → σ ≈ 0.1
    val hist = (Seq.fill(50)(("a", 10.0)) ++ Seq(("a", 10.5), ("a", 9.5)))
      .toDF("event_type", "value")
    val st = graft.operators.Outliers.stats(hist, "event_type", "value")
    val src = spark.readStream
      .schema("event_type STRING, value DOUBLE")
      .json(in)
    val q = graft.operators.Outliers
      .flaggedStream(src, st, "event_type", "value", z = 3)
      .writeStream.format("memory").queryName("out_flags")
      .outputMode("append").option("checkpointLocation", cp)
      .start()
    // 10.1 is ~1σ (no alert); 50.0 is far out (alert); unknown group drops
    feed(in, q, Seq(
      """{"event_type":"a","value":10.1}""",
      """{"event_type":"a","value":50.0}""",
      """{"event_type":"zzz","value":50.0}"""))
    feed(in, q, Seq("""{"event_type":"a","value":9.9}""",
      """{"event_type":"a","value":-40.0}"""))
    q.stop()
    val flagged = spark.table("out_flags")
      .select("event_type", "value").as[(String, Double)].collect().toSet
    assert(flagged === Set(("a", 50.0), ("a", -40.0)))
  }

  test("session windows in streaming mode: gap-separated sessions emit after the watermark") {
    val in = tmpDir("sess-in")
    def ev(ts: String, u: Long, v: Double) =
      s"""{"ts":"$ts","user_id":$u,"value":$v}"""
    val src = spark.readStream
      .schema("ts timestamp, user_id bigint, value double").json(in)
    // the named streaming twin of the batch w2_sessionize gap-split —
    // closed sessions finalize as the watermark passes their end
    val q = graft.streaming.Sessionize.sessions(src)
      .writeStream.format("memory").queryName("sess_out")
      .outputMode(OutputMode.Append).start()
    try {
      // user 1: two events 5 min apart (one session), then a 2-hour jump
      // that advances the watermark far past the session's end → emit
      feed(in, q, Seq(
        ev("2024-04-18 10:00:00", 1, 2.0),
        ev("2024-04-18 10:05:00", 1, 3.0)))
      feed(in, q, Seq(ev("2024-04-18 12:30:00", 1, 1.0)))
      feed(in, q, Seq(ev("2024-04-18 15:00:00", 1, 1.0))) // close the 12:30 session too
      val got = spark.table("sess_out")
        .orderBy("session_start")
        .collect().map(r => (r.getTimestamp(1).toString,
          r.getTimestamp(2).toString, r.getLong(3), r.getDouble(4)))
      assert(got.length >= 2)
      // merged 2-event session; end = last event + 30 min gap
      assert(got(0) === ("2024-04-18 10:00:00.0", "2024-04-18 10:35:00.0", 2L, 5.0))
      assert(got(1) === ("2024-04-18 12:30:00.0", "2024-04-18 13:00:00.0", 1L, 1.0))
    } finally q.stop()
  }

  test("Sessionize: batch run of the same plan emits every session and " +
       "agrees with the streaming emissions") {
    import spark.implicits._
    val batch = Seq(
      ("2024-04-18 10:00:00", 1L, 2.0),
      ("2024-04-18 10:05:00", 1L, 3.0),
      ("2024-04-18 12:30:00", 1L, 1.0),
      ("2024-04-18 15:00:00", 1L, 1.0),
      ("2024-04-18 10:10:00", 2L, 7.0))
      .toDF("ts", "user_id", "value")
      .withColumn("ts", col("ts").cast("timestamp"))
    val got = graft.streaming.Sessionize.sessions(batch)
      .orderBy("user_id", "session_start")
      .collect().map(r => (r.getLong(0), r.getTimestamp(1).toString,
        r.getLong(3), r.getDouble(4)))
    // batch emits ALL sessions (nothing stays open): the two the stream
    // closed, plus the stream's still-open 15:00 tail and user 2
    assert(got.toSeq === Seq(
      (1L, "2024-04-18 10:00:00.0", 2L, 5.0),
      (1L, "2024-04-18 12:30:00.0", 1L, 1.0),
      (1L, "2024-04-18 15:00:00.0", 1L, 1.0),
      (2L, "2024-04-18 10:10:00.0", 1L, 7.0)))
  }

  test("Sessionize: an in-flight session survives a kill-and-restart " +
       "through the checkpoint") {
    val in = tmpDir("sesscp-in"); val cp = tmpDir("sesscp-cp")
    val out = tmpDir("sesscp-out")
    def ev(ts: String, u: Long, v: Double) =
      s"""{"ts":"$ts","user_id":$u,"value":$v}"""
    def src = spark.readStream
      .schema("ts timestamp, user_id bigint, value double").json(in)
    // a FILE sink: the memory sink refuses checkpoint recovery (it is
    // not fault-tolerant) — recovery semantics need a real sink, the
    // same pairing a production run would use
    def start() = graft.streaming.Sessionize.sessions(src)
      .writeStream.format("parquet").option("path", out)
      .outputMode(OutputMode.Append)
      .option("checkpointLocation", cp).start()
    // phase 1: open a session (nothing closes — watermark stays behind),
    // then KILL the query with the session still in state
    val q1 = start()
    try feed(in, q1, Seq(
      ev("2024-04-18 10:00:00", 1, 2.0),
      ev("2024-04-18 10:05:00", 1, 3.0)))
    finally q1.stop()
    // phase 2: a FRESH query instance on the same checkpoint must
    // extend that session (10:10 is within the 30-min gap of its end)
    // and close it when 13:00 advances the watermark past it. If state
    // were lost, the emitted session would start at 10:10 with n=1.
    val q2 = start()
    try {
      feed(in, q2, Seq(ev("2024-04-18 10:10:00", 1, 5.0)))
      feed(in, q2, Seq(ev("2024-04-18 13:00:00", 1, 1.0)))
      val got = spark.read.parquet(out)
        .orderBy("session_start")
        .collect().map(r => (r.getTimestamp(1).toString,
          r.getTimestamp(2).toString, r.getLong(3), r.getDouble(4)))
      assert(got.nonEmpty)
      assert(got(0) ===
        ("2024-04-18 10:00:00.0", "2024-04-18 10:40:00.0", 3L, 10.0))
    } finally q2.stop()
  }

  test("tumbling windows aggregate per type; batch and stream plans agree") {
    val events = Seq(
      ("2024-04-18 10:05:00", "click", 1.0),
      ("2024-04-18 10:55:00", "click", 2.0),
      ("2024-04-18 10:30:00", "view", 10.0),
      ("2024-04-18 11:10:00", "click", 4.0))
      .toDF("ts_s", "event_type", "value")
      .select(col("ts_s").cast("timestamp").as("ts"), col("event_type"), col("value"))

    val got = WindowedStats.tumblingTypeCounts(events)
      .orderBy("window_start", "event_type")
      .collect()
      .map(r => (r.getTimestamp(0).toString, r.getString(2), r.getLong(3), r.getDouble(4)))

    assert(got === Array(
      ("2024-04-18 10:00:00.0", "click", 2L, 3.0),
      ("2024-04-18 10:00:00.0", "view", 1L, 10.0),
      ("2024-04-18 11:00:00.0", "click", 1L, 4.0)))
  }

  test("watermark finalizes closed windows and drops too-late data in append mode") {
    val in = tmpDir("ws-in")
    def ev(ts: String, t: String, v: Double) =
      s"""{"ts":"$ts","event_type":"$t","value":$v}"""

    val src = spark.readStream.schema("ts timestamp, event_type string, value double")
      .json(in)
    val q = WindowedStats.tumblingTypeCounts(src, "1 hour", "10 minutes")
      .writeStream.format("memory").queryName("ws_windows")
      .outputMode(OutputMode.Append).start()
    try {
      // batch 1: window-10:00 clicks + an 11:30 event → watermark after
      // this batch = 11:20, closing window [10:00, 11:00).
      feed(in, q, Seq(
        ev("2024-04-18 10:05:00", "click", 1.0),
        ev("2024-04-18 10:20:00", "click", 2.0),
        ev("2024-04-18 11:30:00", "view", 5.0)))
      // batch 2: a 10:15 event behind the watermark → dropped; the 13:00
      // event pushes the watermark past 11:00's window too.
      feed(in, q, Seq(
        ev("2024-04-18 10:15:00", "click", 100.0),
        ev("2024-04-18 13:00:00", "view", 7.0)))
    } finally q.stop()

    val rows = spark.table("ws_windows")
      .select("window_start", "event_type", "n_events", "sum_value")
      .collect()
      .map(r => (r.getTimestamp(0).toString, r.getString(1), r.getLong(2), r.getDouble(3)))
      .toSet
    // the 10:00 click window emitted with ONLY the on-time rows
    assert(rows.contains(("2024-04-18 10:00:00.0", "click", 2L, 3.0)))
    assert(!rows.exists { case (_, t, _, s) => t == "click" && s == 103.0 })
  }

  test("dropDuplicatesWithinWatermark: first sighting wins across batches") {
    val docs = Seq(
      (1L, "the quick brown fox", "2024-04-18 10:00:00"),
      (2L, "the  quick   brown fox", "2024-04-18 10:01:00"), // ws-normalized dup
      (3L, "something else entirely", "2024-04-18 10:02:00"))
      .toDF("doc_id", "text", "ts_s")
      .select(col("doc_id"), col("text"), col("ts_s").cast("timestamp").as("ts"))
    // fingerprint projection feeding the streaming variant: 2 distinct keys
    assert(StreamingDedup.fingerprinted(docs).select("fp").distinct().count() === 2)

    val in = tmpDir("sd-in")
    def doc(id: Long, text: String, ts: String) =
      s"""{"doc_id":$id,"text":"$text","ts":"$ts"}"""
    val src = spark.readStream.schema("doc_id long, text string, ts timestamp")
      .json(in)
    val q = StreamingDedup.exactWithinWatermark(src)
      .writeStream.format("memory").queryName("sd_wm")
      .outputMode(OutputMode.Append).start()
    try {
      feed(in, q, Seq(doc(1, "the quick brown fox", "2024-04-18 10:00:00")))
      feed(in, q, Seq(
        doc(2, "the  quick   brown fox", "2024-04-18 10:01:00"),
        doc(3, "something else entirely", "2024-04-18 10:02:00")))
    } finally q.stop()

    val ids = spark.table("sd_wm").select("doc_id").as[Long].collect().sorted
    assert(ids === Array(1L, 3L)) // doc 2's fingerprint already seen in batch 1
  }

  test("flatMapGroupsWithState dedup emits first sighting only, with monitor attached") {
    val in = tmpDir("sf-in")
    def doc(id: Long, text: String, ts: String) =
      s"""{"doc_id":$id,"text":"$text","ts":"$ts"}"""

    val monitor = Monitor.attach(spark)
    val src = spark.readStream.schema("doc_id long, text string, ts timestamp")
      .json(in)
    val q = StreamingDedup.exactStateful(src)
      .writeStream.format("memory").queryName("sd_state")
      .outputMode(OutputMode.Append).start()
    try {
      feed(in, q, Seq(
        doc(10, "alpha beta gamma", "2024-04-18 10:00:00"),
        doc(11, "alpha  beta gamma", "2024-04-18 10:00:30"))) // same-batch dup
      feed(in, q, Seq(
        doc(12, "alpha beta gamma", "2024-04-18 10:01:00"),   // cross-batch dup
        doc(13, "delta epsilon", "2024-04-18 10:02:00")))
    } finally q.stop()

    val ids = spark.table("sd_state").select("doc_id").as[Long].collect().sorted
    assert(ids === Array(10L, 13L))
    // the listener saw every input row without re-reading the sink
    assert(monitor.totalInputRows === 4L)
    assert(monitor.history.map(_.numInputRows).sum === 4L)
    spark.streams.removeListener(monitor)
  }

  test("streaming heavy hitters: bounded state per group, counts accumulate across batches") {
    val in = tmpDir("hh-in")
    val src = spark.readStream.format("text").load(in).as[String]
    val q = graft.streaming.StreamingHeavyHitters.track(src, groups = 4, k = 3)
      .writeStream.format("memory").queryName("hh")
      .outputMode(OutputMode.Update).start()
    try {
      feed(in, q, Seq.fill(10)("hot") ++ Seq("a", "b"))
      feed(in, q, Seq.fill(10)("hot") ++ Seq("c", "d", "e", "f"))
    } finally q.stop()

    val rows = spark.table("hh").collect()
      .map(r => (r.getAs[Int]("group"), r.getAs[String]("tok"), r.getAs[Long]("est")))
    // latest estimate per token = the last emission (update mode re-emits)
    val latest = rows.zipWithIndex
      .groupBy(x => (x._1._1, x._1._2))
      .map { case (_, v) => v.maxBy(_._2)._1 }
    // the heavy token is tracked across batches with est ≤ 20 true and
    // within the MG bound for its group's stream
    val hot = latest.find(_._2 == "hot").get
    assert(hot._3 <= 20L && hot._3 >= 20L - 20L / 4)
    // state is bounded: every emission batch carries ≤ k rows per group
    rows.groupBy(_._1).foreach { case (_, grpRows) =>
      assert(grpRows.map(_._2).distinct.length <= 3 + 3) // ≤ k live + evicted re-emits
    }
  }

  test("stream-stream join: purchases match clicks within the window, state evicted") {
    val cin = tmpDir("sj-c"); val pin = tmpDir("sj-p")
    def ev(id: Long, user: Long, ts: String) =
      s"""{"event_id":$id,"user_id":$user,"ts":"$ts"}"""
    val clicks = spark.readStream
      .schema("event_id long, user_id long, ts timestamp").json(cin)
    val purchases = spark.readStream
      .schema("event_id long, user_id long, ts timestamp").json(pin)
    val q = graft.streaming.StreamJoin.clicksBeforePurchase(clicks, purchases)
      .writeStream.format("memory").queryName("sj_out")
      .outputMode("append").start()
    try {
      seq += 1
      java.nio.file.Files.write(java.nio.file.Paths.get(cin, f"c$seq%03d.json"),
        Seq(ev(1, 7, "2024-01-01 10:00:00"),   // in window of purchase 100
            ev(2, 7, "2024-01-01 09:40:00"),   // too early (> 10 min before)
            ev(3, 8, "2024-01-01 10:01:00")).mkString("\n").getBytes)
      q.processAllAvailable()
      seq += 1
      java.nio.file.Files.write(java.nio.file.Paths.get(pin, f"p$seq%03d.json"),
        Seq(ev(100, 7, "2024-01-01 10:05:00"),
            ev(101, 9, "2024-01-01 10:06:00")).mkString("\n").getBytes)
      q.processAllAvailable()
    } finally q.stop()

    val got = spark.table("sj_out")
      .select("purchase_id", "click_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got === Set((100L, 1L))) // user 7 in-window click only
  }

  test("stream-stream LEFT OUTER join: unmatched purchases emit null-padded after watermark") {
    val cin = tmpDir("sjo-c"); val pin = tmpDir("sjo-p")
    def ev(id: Long, user: Long, ts: String) =
      s"""{"event_id":$id,"user_id":$user,"ts":"$ts"}"""
    val clicks = spark.readStream
      .schema("event_id long, user_id long, ts timestamp").json(cin)
    val purchases = spark.readStream
      .schema("event_id long, user_id long, ts timestamp").json(pin)
    val q = graft.streaming.StreamJoin.clicksBeforePurchaseOuter(clicks, purchases)
      .writeStream.format("memory").queryName("sjo_out")
      .outputMode("append").start()
    try {
      seq += 1
      java.nio.file.Files.write(java.nio.file.Paths.get(cin, f"c$seq%03d.json"),
        Seq(ev(1, 7, "2024-01-01 10:00:00")).mkString("\n").getBytes)
      q.processAllAvailable()
      seq += 1
      java.nio.file.Files.write(java.nio.file.Paths.get(pin, f"p$seq%03d.json"),
        Seq(ev(100, 7, "2024-01-01 10:05:00"),   // matched by click 1
            ev(101, 9, "2024-01-01 10:06:00")).mkString("\n").getBytes)  // no click
      q.processAllAvailable()
      // advance BOTH watermarks far past purchase 101's match window so
      // the engine can prove no click will ever arrive and release the
      // null-padded row
      seq += 1
      java.nio.file.Files.write(java.nio.file.Paths.get(cin, f"c$seq%03d.json"),
        Seq(ev(2, 50, "2024-01-01 11:00:00")).mkString("\n").getBytes)
      java.nio.file.Files.write(java.nio.file.Paths.get(pin, f"p$seq%03d.json"),
        Seq(ev(200, 51, "2024-01-01 11:00:00")).mkString("\n").getBytes)
      q.processAllAvailable()
      q.processAllAvailable()
    } finally q.stop()

    val got = spark.table("sjo_out")
      .select("purchase_id", "click_id").collect()
      .map(r => (r.getLong(0), if (r.isNullAt(1)) None else Some(r.getLong(1))))
      .toSet
    // 100 matched; 101 emitted null-padded once the watermark passed
    assert(got.contains((100L, Some(1L))))
    assert(got.contains((101L, None)))
  }

  test("streaming CDC state: latest image wins, tombstones apply, late data ignored") {
    import graft.streaming.StreamingCdcState
    import graft.streaming.StreamingCdcState.Image
    val in = tmpDir("cdcst-in"); val cp = tmpDir("cdcst-cp")
    val src = spark.readStream
      .schema("id LONG, payload STRING, tsMs LONG, deleted BOOLEAN")
      .json(in).as[StreamingCdcState.Change]
    val q = StreamingCdcState.run(src, "cdc_state_images", cp)
    try {
      feed(in, q, Seq(
        """{"id":1,"payload":"a","tsMs":10,"deleted":false}""",
        """{"id":2,"payload":"b","tsMs":10,"deleted":false}"""))
      // update 1, tombstone 2, new key 3 — all in one batch
      feed(in, q, Seq(
        """{"id":1,"payload":"a2","tsMs":20,"deleted":false}""",
        """{"id":2,"payload":"b","tsMs":30,"deleted":true}""",
        """{"id":3,"payload":"c","tsMs":5,"deleted":false}"""))
      // a LATE change for key 1 (ts 15 < held 20) must not regress it
      feed(in, q, Seq(
        """{"id":1,"payload":"old","tsMs":15,"deleted":false}"""))
    } finally q.stop()
    val images = spark.table("cdc_state_images").as[Image].collect()
    val current = images.groupBy(_.id).map { case (k, v) =>
      k -> v.maxBy(_.tsMs) }
    assert(current(1L) === Image(1L, "a2", 20L, false)) // late row ignored
    assert(current(2L).deleted)                         // tombstone applied
    assert(current(3L) === Image(3L, "c", 5L, false))
    // the live table = latest non-deleted images
    assert(current.values.filterNot(_.deleted).map(_.id).toSet === Set(1L, 3L))
  }

  test("streaming quantiles: histogram state folds across batches within the bin-width bound") {
    import graft.streaming.StreamingQuantiles
    import graft.streaming.StreamingQuantiles.QuantileState
    val in = tmpDir("sq-in"); val cp = tmpDir("sq-cp")
    val src = spark.readStream.schema("key STRING, vMicro LONG")
      .json(in).as[StreamingQuantiles.Obs]
    // p50 over micro-points, bin width 10 → error ≤ 10 micro
    val q = StreamingQuantiles.run(src, 0.5, 10L, "sq_out", cp)
    def row(k: String, v: Long) = s"""{"key":"$k","vMicro":$v}"""
    try {
      feed(in, q, (1L to 50L).map(v => row("a", v * 7)))   // 7..350
      feed(in, q, (51L to 100L).map(v => row("a", v * 7))) // + 357..700
      feed(in, q, Seq(row("b", -25), row("b", 5)))          // negatives bin correctly
    } finally q.stop()
    val states = spark.table("sq_out").as[QuantileState].collect()
    val a = states.filter(s => s.key == "a" && s.n == 100L).head
    // exact p50 of 7..700 step 7 is 350/353.5 — the histogram answer
    // must land within one bin width above the true value
    assert(a.qMicro >= 350L && a.qMicro <= 360L, a.toString)
    val b = states.filter(s => s.key == "b" && s.n == 2L).head
    assert(b.qMicro <= -10L, s"negative values must not collapse into bin 0: $b")
    // batch-slicing invariance: all 100 'a' points in ONE batch give the
    // same final answer the two-batch feed gave
    val in2 = tmpDir("sq-in2"); val cp2 = tmpDir("sq-cp2")
    val src2 = spark.readStream.schema("key STRING, vMicro LONG")
      .json(in2).as[StreamingQuantiles.Obs]
    val q2 = StreamingQuantiles.run(src2, 0.5, 10L, "sq_out2", cp2)
    try feed(in2, q2, (1L to 100L).map(v => row("a", v * 7)))
    finally q2.stop()
    val a2 = spark.table("sq_out2").as[QuantileState].collect()
      .filter(s => s.key == "a" && s.n == 100L).head
    assert(a2.qMicro === a.qMicro)
  }

  test("streaming quantiles: histogram state survives kill-and-restart from checkpoint") {
    import graft.streaming.StreamingQuantiles
    import graft.streaming.StreamingQuantiles.QuantileState
    val in = tmpDir("sqr-in"); val cp = tmpDir("sqr-cp")
    val out = tmpDir("sqr-out") + "/q"
    def src() = spark.readStream.schema("key STRING, vMicro LONG")
      .json(in).as[StreamingQuantiles.Obs]
    def runIt() = StreamingQuantiles.quantileStream(src(), 0.5, 10L)
      .writeStream.outputMode("update")
      .foreachBatch { (b: org.apache.spark.sql.Dataset[QuantileState], _: Long) =>
        b.write.mode("append").parquet(out)
      }
      .option("checkpointLocation", cp).start()
    def row(v: Long) = s"""{"key":"a","vMicro":$v}"""
    val q1 = runIt()
    try feed(in, q1, (1L to 50L).map(v => row(v * 7)))
    finally q1.stop() // kill mid-stream
    val q2 = runIt()  // resume: the histogram must still hold 50 points
    try feed(in, q2, (51L to 100L).map(v => row(v * 7)))
    finally q2.stop()
    val states = spark.read.parquet(out).as[QuantileState].collect()
    val fin = states.filter(_.n == 100L)
    assert(fin.nonEmpty, s"recovered state lost pre-kill points: ${states.toSeq}")
    // same answer the uninterrupted two-batch feed produces (350..360 band)
    assert(fin.head.qMicro === 360L, fin.head.toString)
  }

  test("streaming CDC state survives kill-and-restart from checkpoint") {
    // The mapGroupsWithState analogue of CdcIngestSuite's exactly-once
    // re-run: stop the query mid-stream, start a FRESH query instance
    // against the SAME checkpoint, and prove the restored per-key state
    // still enforces latest-image-wins — a late change older than the
    // pre-kill image must be ignored by the resumed query, and a
    // pre-kill tombstone must still shadow its key.
    import graft.streaming.StreamingCdcState
    import graft.streaming.StreamingCdcState.Image
    val in = tmpDir("cdcrec-in"); val cp = tmpDir("cdcrec-cp")
    val out = tmpDir("cdcrec-out") + "/images"
    def source() = spark.readStream
      .schema("id LONG, payload STRING, tsMs LONG, deleted BOOLEAN")
      .json(in).as[StreamingCdcState.Change]

    val q1 = StreamingCdcState.runToParquet(source(), out, cp)
    try {
      feed(in, q1, Seq(
        """{"id":1,"payload":"a","tsMs":10,"deleted":false}""",
        """{"id":2,"payload":"b","tsMs":10,"deleted":false}"""))
      feed(in, q1, Seq(
        """{"id":1,"payload":"a2","tsMs":20,"deleted":false}""",
        """{"id":2,"payload":"b","tsMs":30,"deleted":true}"""))
    } finally q1.stop() // kill

    // resume: new query object, same sink dir, same checkpoint
    val q2 = StreamingCdcState.runToParquet(source(), out, cp)
    try {
      // late update for key 1 (15 < recovered 20) and a genuine update
      // for key 3 (new key) — only the recovered state can tell them apart
      feed(in, q2, Seq(
        """{"id":1,"payload":"late","tsMs":15,"deleted":false}""",
        """{"id":3,"payload":"c","tsMs":40,"deleted":false}"""))
      // a post-tombstone ts tie for key 2: deleted wins ties, so the
      // recovered tombstone must survive an equal-ts non-delete
      feed(in, q2, Seq(
        """{"id":2,"payload":"resurrect","tsMs":30,"deleted":false}"""))
    } finally q2.stop()

    val images = spark.read.parquet(out).as[Image].collect()
    val current = images.groupBy(_.id).map { case (k, v) =>
      k -> v.maxBy(i => (i.tsMs, i.deleted)) }
    assert(current(1L) === Image(1L, "a2", 20L, false)) // pre-kill image held
    assert(current(2L) === Image(2L, "b", 30L, true))   // tombstone survived
    assert(current(3L) === Image(3L, "c", 40L, false))  // new key applied
  }

  private val uniformRef = Seq(("click", Seq(0.25, 0.25, 0.25, 0.25)))
    .toDF("event_type", "p_ref")

  test("DriftMonitor: TVD is exact per window; matched windows pass, shifted windows flag") {
    val ev = Seq(
      // 10:00 window — one value per bin of the [0,100)/4 grid: TVD 0
      ("2024-04-18 10:05:00", "click", 10.0),
      ("2024-04-18 10:15:00", "click", 35.0),
      ("2024-04-18 10:25:00", "click", 60.0),
      ("2024-04-18 10:35:00", "click", 85.0),
      // 11:00 window — all mass in bin 0 (and one below-lo clamp):
      // TVD = ½(|1−.25| + 3·.25) = 0.75
      ("2024-04-18 11:05:00", "click", 5.0),
      ("2024-04-18 11:15:00", "click", -3.0),
      ("2024-04-18 11:25:00", "click", 12.0),
      ("2024-04-18 11:35:00", "click", 24.9))
      .toDF("ts_s", "event_type", "value")
      .select(col("ts_s").cast("timestamp").as("ts"),
        col("event_type"), col("value"))
    val got = DriftMonitor
      .drift(ev, uniformRef, 4, 0.0, 100.0, "1 hour", threshold = 0.2)
      .orderBy("window_start")
      .collect()
      .map(r => (r.getTimestamp(0).toString, r.getLong(3),
        r.getDouble(4), r.getBoolean(5)))
    assert(got === Array(
      ("2024-04-18 10:00:00.0", 4L, 0.0, false),
      ("2024-04-18 11:00:00.0", 4L, 0.75, true)))
    // ONE aggregation in the plan — the append-mode-safe histogram fold
    val aggs = DriftMonitor
      .drift(ev, uniformRef, 4, 0.0, 100.0, "1 hour", 0.2)
      .queryExecution.optimizedPlan.collect {
        case a: org.apache.spark.sql.catalyst.plans.logical.Aggregate => a
      }
    assert(aggs.size == 1, s"expected 1 aggregate, got ${aggs.size}")
  }

  test("DriftMonitor guards: zero-width grids are rejected; an off-grid reference row fails loudly") {
    // hi == lo would make the bin width 0 and silently null every
    // histogram cell — rejected at entry
    intercept[IllegalArgumentException] {
      DriftMonitor.binOf(col("value"), 4, 50.0, 50.0)
    }
    intercept[IllegalArgumentException] {
      DriftMonitor.binOf(col("value"), 4, 60.0, 50.0)
    }
    // a reference whose p_ref is NOT on the nBins grid would silently
    // truncate in zip_with and produce a wrong TVD — the embedded
    // guard fails the query instead
    val ev = Seq(("2024-04-18 10:05:00", "click", 10.0))
      .toDF("ts_s", "event_type", "value")
      .select(col("ts_s").cast("timestamp").as("ts"),
        col("event_type"), col("value"))
    val badRef = Seq(("click", Seq(0.5, 0.5)))
      .toDF("event_type", "p_ref") // 2 entries on a 4-bin grid
    val e = intercept[Exception] {
      DriftMonitor.drift(ev, badRef, 4, 0.0, 100.0, "1 hour", 0.2).collect()
    }
    def msgs(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ msgs(t.getCause)
    assert(msgs(e).exists(_.contains("p_ref must have 4 entries")),
      s"wrong failure: ${msgs(e)}")
  }

  test("DriftMonitor streaming: closed windows emit their drift verdict in append mode") {
    val in = tmpDir("drift-in")
    def ev(ts: String, v: Double) =
      s"""{"ts":"$ts","event_type":"click","value":$v}"""
    val src = spark.readStream
      .schema("ts timestamp, event_type string, value double")
      .json(in)
      .withWatermark("ts", "10 minutes")
    val q = DriftMonitor
      .drift(src, uniformRef, 4, 0.0, 100.0, "1 hour", threshold = 0.2)
      .writeStream.format("memory").queryName("drift_windows")
      .outputMode(OutputMode.Append).start()
    try {
      // batch 1: an in-distribution 10:00 window
      feed(in, q, Seq(ev("2024-04-18 10:05:00", 10.0),
        ev("2024-04-18 10:15:00", 35.0),
        ev("2024-04-18 10:25:00", 60.0),
        ev("2024-04-18 10:35:00", 85.0)))
      // batch 2: a drifted 11:00 window; its tail event pushes the
      // watermark past the 10:00 window, closing it
      feed(in, q, Seq(ev("2024-04-18 11:05:00", 1.0),
        ev("2024-04-18 11:15:00", 2.0),
        ev("2024-04-18 11:45:00", 3.0)))
      // batch 3: watermark pusher closing the 11:00 window
      feed(in, q, Seq(ev("2024-04-18 13:00:00", 50.0)))
    } finally q.stop()
    val rows = spark.table("drift_windows")
      .select("window_start", "n_events", "tvd", "drifted")
      .collect()
      .map(r => (r.getTimestamp(0).toString, r.getLong(1),
        r.getDouble(2), r.getBoolean(3))).toSet
    assert(rows.contains(("2024-04-18 10:00:00.0", 4L, 0.0, false)))
    assert(rows.contains(("2024-04-18 11:00:00.0", 3L, 0.75, true)))
  }

  test("StreamingIvm: versioned folds survive re-delivery and restart; state ≡ recompute") {
    import graft.streaming.StreamingIvm
    val in = tmpDir("ivm-in"); val state = tmpDir("ivm-state")
    val cp = tmpDir("ivm-cp")
    def src = spark.readStream
      .schema("k string, v_micro long, sign long").json(in)
    def stateMap() = StreamingIvm.readState(spark, state).get
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2),
          if (r.isNullAt(3)) None else Some(r.getLong(3)))).toMap

    val q = StreamingIvm.attach(src, state, Seq("k"))
      .option("checkpointLocation", cp).start()
    try {
      feed(in, q, Seq(
        """{"k":"a","v_micro":10,"sign":1}""",
        """{"k":"a","v_micro":20,"sign":1}""",
        """{"k":"b","v_micro":5,"sign":1}"""))
      feed(in, q, Seq(
        """{"k":"a","v_micro":10,"sign":-1}""",
        """{"k":"b","v_micro":null,"sign":1}""",
        """{"k":"c","v_micro":7,"sign":1}"""))
    } finally q.stop()
    val afterTwo = stateMap()
    assert(afterTwo === Map(
      "a" -> ((1L, 1L, Some(20L))),
      "b" -> ((2L, 1L, Some(5L))),
      "c" -> ((1L, 1L, Some(7L)))))

    // AT-LEAST-ONCE re-delivery: re-run the LAST batch (same id, same
    // data) exactly as a post-crash retry would — the versioned fold
    // recomputes v=1 from v=0, so the state must not change
    import spark.implicits._
    val redelivered = Seq(("a", Some(10L), -1L), ("b", None, 1L),
      ("c", Some(7L), 1L)).toDF("k", "v_micro", "sign")
    StreamingIvm.applyBatch(spark, state, Seq("k"))(redelivered, 1L)
    assert(stateMap() === afterTwo, "re-delivered batch corrupted state")

    // restart on the same checkpoint: the next batch continues from
    // the surviving state; retracting a's last row kills the key and
    // retracting b's null row drops its non-null... no: null retraction
    // lowers cnt only (nn untouched by a null retraction)
    val q2 = StreamingIvm.attach(src, state, Seq("k"))
      .option("checkpointLocation", cp).start()
    try {
      feed(in, q2, Seq(
        """{"k":"a","v_micro":20,"sign":-1}""",
        """{"k":"b","v_micro":null,"sign":-1}"""))
    } finally q2.stop()
    assert(stateMap() === Map(
      "b" -> ((1L, 1L, Some(5L))),
      "c" -> ((1L, 1L, Some(7L)))),
      "post-restart fold diverged from recompute")
    // three committed versions, ascending batch ids
    assert(StreamingIvm.versions(spark, state) === Seq(0L, 1L, 2L))
  }

  test("StreamingIvm: NULL grain keys fold into their own state row in " +
       "the extremes and distinct arms, and a narrowed re-attach fails " +
       "loudly instead of dropping maintained columns (review r18)") {
    import spark.implicits._
    import graft.streaming.StreamingIvm
    val state = tmpDir("ivm-null-state")
    // batch 0: a null-keyed insert ALONGSIDE a named key, extremes +
    // sketch maintained — the null grain must come out with real
    // min/max and a 1-element sketch, not NULL/empty (the null-unsafe
    // left_outer would null-pad it)
    val b0 = Seq(
      (None: Option[String], 10L, "u1", 1L),
      (Some("a"), 5L, "u2", 1L)).toDF("k", "v_micro", "uid", "sign")
    StreamingIvm.applyBatch(spark, state, Seq("k"), extremes = true,
      distinctCol = Some("uid"))(b0, 0L)
    val st = StreamingIvm.readState(spark, state).get
      .collect().map(r => Option(r.getString(0)) ->
        ((r.getLong(4), r.getLong(5)), r.getSeq[Long](6).size)).toMap
    assert(st(None) === (((10L, 10L), 1)))
    assert(st(Some("a")) === (((5L, 5L), 1)))
    // batch 1 improves the null grain's extremes and grows its sketch
    StreamingIvm.applyBatch(spark, state, Seq("k"), extremes = true,
      distinctCol = Some("uid"))(
      Seq((None: Option[String], 3L, "u9", 1L))
        .toDF("k", "v_micro", "uid", "sign"), 1L)
    val st2 = StreamingIvm.readState(spark, state).get
      .collect().map(r => Option(r.getString(0)) ->
        ((r.getLong(4), r.getLong(5)), r.getSeq[Long](6).size)).toMap
    assert(st2(None) === (((3L, 10L), 2)))
    // narrowed re-attach: folding the same state WITHOUT extremes or
    // the sketch must fail loudly, not commit a version that drops them
    val e = intercept[IllegalArgumentException] {
      StreamingIvm.applyBatch(spark, state, Seq("k"))(
        Seq((Some("a"), 1L, "u3", 1L)).toDF("k", "v_micro", "uid", "sign"),
        2L)
    }
    assert(e.getMessage.contains("extremes"), e.getMessage)
  }

  test("StreamingMv: routed dashboard stays fresh over the live stream; foreign base writes bail; kill/restart + re-delivery idempotent; routed ≡ recompute after every batch") {
    import graft.streaming.StreamingMv
    import graft.plans.MvRegistry
    val in = tmpDir("smv-in"); val state = tmpDir("smv-state")
    val cp = tmpDir("smv-cp")
    val cfg = StreamingMv.Config(Seq("k"))
    def src = spark.readStream.schema("k string, v_micro long").json(in)
    def scanned(df: org.apache.spark.sql.DataFrame): Seq[String] =
      df.queryExecution.optimizedPlan.collect {
        case lr: org.apache.spark.sql.execution.datasources.LogicalRelation =>
          lr.relation match {
            case fs: org.apache.spark.sql.execution.datasources.HadoopFsRelation =>
              fs.location.rootPaths.map(_.toString)
            case _ => Nil
          }
      }.flatten
    // the test's own ledger of fed rows — the independent recompute
    val ledger = scala.collection.mutable.ArrayBuffer[(String, Option[Long])]()
    def expected: Map[String, (Long, Long, Option[Long])] =
      ledger.groupBy(_._1).map { case (k, rs) =>
        val vs = rs.flatMap(_._2)
        k -> ((rs.size.toLong, vs.size.toLong,
          if (vs.isEmpty) None else Some(vs.sum)))
      }
    def dashMap(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2),
          if (r.isNullAt(3)) None else Some(r.getLong(3))))).toMap
    def assertRouted(): Unit = {
      val df = StreamingMv.dashboard(spark, state, cfg)
        .select("k", "cnt", "n_nonnull", "sum_micro")
      val paths = scanned(df)
      assert(paths.exists(_.contains("smv-state") &&
        paths.exists(_.contains("/summary/"))),
        s"dashboard not served from the summary: $paths")
      assert(!paths.exists(_.endsWith("/docs")),
        s"dashboard still scans the corpus: $paths")
      assert(dashMap(df) === expected, "routed dashboard != ledger")
    }
    try {
      val q = StreamingMv.attach(src, state, cfg)
        .option("checkpointLocation", cp).start()
      try {
        feed(in, q, Seq(
          """{"k":"a","v_micro":10}""",
          """{"k":"a","v_micro":20}""",
          """{"k":"b","v_micro":5}"""))
        ledger ++= Seq("a" -> Some(10L), "a" -> Some(20L), "b" -> Some(5L))
        assertRouted()
        feed(in, q, Seq(
          """{"k":"b","v_micro":null}""",
          """{"k":"c","v_micro":7}"""))
        ledger ++= Seq("b" -> None, "c" -> Some(7L))
        assertRouted()
      } finally q.stop()

      // a FOREIGN base write (outside the loop) must bail routing to
      // the corpus scan — never stale-serve the summary
      Seq(("z", Some(99L))).toDF("k", "v_micro")
        .write.mode("overwrite")
        .parquet(s"${StreamingMv.docsDir(state)}/batch=999")
      val stale = StreamingMv.dashboard(spark, state, cfg)
        .select("k", "cnt", "n_nonnull", "sum_micro")
      assert(scanned(stale).exists(_.endsWith("/docs")),
        s"foreign base write did not bail routing: ${scanned(stale)}")
      val withZ = dashMap(stale)
      assert(withZ("z") === ((1L, 1L, Some(99L))),
        "corpus-scan fallback missed the foreign row")
      // removing the foreign partition restores the exact registered
      // file listing — the token matches again and routing resumes
      // WITHOUT any re-registration (the bail is reversible, not
      // sticky). The operational reconcile for a write that should
      // stay is the batch refreshSummary path.
      val fs = new org.apache.hadoop.fs.Path(state)
        .getFileSystem(spark.sessionState.newHadoopConf())
      fs.delete(new org.apache.hadoop.fs.Path(
        s"${StreamingMv.docsDir(state)}/batch=999"), true)
      assertRouted()

      // AT-LEAST-ONCE re-delivery of the last stream batch (same id,
      // same data): corpus overwrite of its own subdir + versioned
      // re-fold from the same predecessor — the answer must not change
      // and routing must come back up (re-registration re-stamps)
      StreamingMv.foldBatch(spark, state, cfg)(
        Seq(("b", None: Option[Long]), ("c", Some(7L)))
          .toDF("k", "v_micro"), 1L)
      assertRouted()

      // kill/restart on the same checkpoint: the registry died with
      // the "process" (cleared below), so the dashboard conservatively
      // scans the corpus until the first post-restart fold re-registers
      MvRegistry.clear()
      val cold = StreamingMv.dashboard(spark, state, cfg)
        .select("k", "cnt", "n_nonnull", "sum_micro")
      assert(scanned(cold).exists(_.endsWith("/docs")),
        "unregistered dashboard must scan the corpus")
      assert(dashMap(cold) === expected,
        "corpus scan diverged from the ledger")
      val q2 = StreamingMv.attach(src, state, cfg)
        .option("checkpointLocation", cp).start()
      try {
        feed(in, q2, Seq("""{"k":"a","v_micro":1}"""))
        ledger += ("a" -> Some(1L))
        assertRouted()
      } finally q2.stop()
    } finally MvRegistry.clear()
  }

  // The name predates the dirty-grain rule: a retraction fails the fold
  // only when it leaves a grain dirty (it touches the grain's current
  // extreme, or the grain has no stored extreme); any other retraction
  // folds exactly.
  test("StreamingMv extremes: min/max fold monotone over insert batches; routed ≡ recompute; a retraction fails the fold loudly") {
    import graft.streaming.{StreamingIvm, StreamingMv}
    import graft.plans.MvRegistry
    val state = tmpDir("smv-mm")
    val cfg = StreamingMv.Config(Seq("k"), extremes = true)
    def scanned(df: org.apache.spark.sql.DataFrame): Seq[String] =
      df.queryExecution.optimizedPlan.collect {
        case lr: org.apache.spark.sql.execution.datasources.LogicalRelation =>
          lr.relation match {
            case fs: org.apache.spark.sql.execution.datasources.HadoopFsRelation =>
              fs.location.rootPaths.map(_.toString)
            case _ => Nil
          }
      }.flatten
    try {
      StreamingMv.foldBatch(spark, state, cfg)(
        Seq(("a", Some(5L)), ("a", Some(9L)), ("b", Some(2L)))
          .toDF("k", "v_micro"), 0L)
      StreamingMv.foldBatch(spark, state, cfg)(
        Seq(("a", Some(1L)), ("b", None: Option[Long]), ("b", Some(7L)),
          ("c", Some(4L))).toDF("k", "v_micro"), 1L)
      def mm(df: org.apache.spark.sql.DataFrame) = df.orderBy("k")
        .select("k", "min_micro", "max_micro").collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toList
      val dash = StreamingMv.dashboard(spark, state, cfg)
      // cross-batch extremes exact; nulls skipped; singleton min==max
      assert(mm(dash) ===
        List(("a", 1L, 9L), ("b", 2L, 7L), ("c", 4L, 4L)))
      // and the extremes are SERVED from the stream-maintained summary
      val paths = scanned(dash)
      assert(paths.exists(_.contains("/summary/")),
        s"extremes dashboard not served from the summary: $paths")
      assert(!paths.exists(_.endsWith("/docs")),
        s"extremes dashboard still scans the corpus: $paths")
      // re-delivery of batch 1 changes nothing (monotone fold from the
      // same predecessor version)
      StreamingMv.foldBatch(spark, state, cfg)(
        Seq(("a", Some(1L)), ("b", None: Option[Long]), ("b", Some(7L)),
          ("c", Some(4L))).toDF("k", "v_micro"), 1L)
      assert(mm(StreamingMv.dashboard(spark, state, cfg)) ===
        List(("a", 1L, 9L), ("b", 2L, 7L), ("c", 4L, 4L)))
      // a retraction that touches neither of its grain's extremes folds
      // exactly: the committed state ≡ recompute over the remaining rows
      StreamingIvm.applyBatch(spark,
        StreamingMv.summaryDir(state), Seq("k"), extremes = true)(
        Seq(("a", 5L, -1L)).toDF("k", "v_micro", "sign"), 2L)
      def rows(df: org.apache.spark.sql.DataFrame) = df.orderBy("k")
        .select("k", "cnt", "n_nonnull", "sum_micro", "min_micro",
          "max_micro").collect().map(_.toSeq).toList
      assert(rows(StreamingIvm.readState(spark,
          StreamingMv.summaryDir(state)).get) ===
        rows(Seq(("a", Some(9L)), ("a", Some(1L)), ("b", Some(2L)),
          ("b", None: Option[Long]), ("b", Some(7L)), ("c", Some(4L)))
          .toDF("k", "v_micro").groupBy("k").agg(
            count(lit(1)).as("cnt"), count("v_micro").as("n_nonnull"),
            sum("v_micro").as("sum_micro"), min("v_micro").as("min_micro"),
            max("v_micro").as("max_micro"))))
      // a retraction of a grain's current extreme cannot fold from state
      // — loud failure, not a silently-wrong extreme
      val e = intercept[Exception] {
        StreamingIvm.applyBatch(spark,
          StreamingMv.summaryDir(state), Seq("k"), extremes = true)(
          Seq(("a", 9L, -1L)).toDF("k", "v_micro", "sign"), 5L)
      }
      def msgs(t: Throwable): Seq[String] =
        Option(t).toSeq.flatMap(x =>
          Option(x.getMessage).toSeq ++ msgs(x.getCause))
      assert(msgs(e).exists(_.contains("insert-only")), msgs(e).mkString)
      // the failed fold left no committed v=5 state
      assert(!StreamingIvm.versions(spark,
        StreamingMv.summaryDir(state)).contains(5L))
      // a grain new to the batch that inserts 5 and 7 and retracts 5 has
      // no stored extreme to bound the retraction: dirty, so it fails too
      // rather than commit min_micro = 5
      val e2 = intercept[Exception] {
        StreamingIvm.applyBatch(spark,
          StreamingMv.summaryDir(state), Seq("k"), extremes = true)(
          Seq(("d", 5L, 1L), ("d", 7L, 1L), ("d", 5L, -1L))
            .toDF("k", "v_micro", "sign"), 6L)
      }
      assert(msgs(e2).exists(_.contains("insert-only")), msgs(e2).mkString)
      assert(!StreamingIvm.versions(spark,
        StreamingMv.summaryDir(state)).contains(6L))
    } finally MvRegistry.clear()
  }

  test("StreamingMv distinct: hash-set union folds exactly over insert batches (dups and nulls absorbed); routed ≡ recompute; a retraction fails the fold loudly") {
    import graft.streaming.{StreamingIvm, StreamingMv}
    import graft.plans.MvRegistry
    val state = tmpDir("smv-dx")
    val cfg = StreamingMv.Config(Seq("k"), distinctCol = Some("uid"))
    def scanned(df: org.apache.spark.sql.DataFrame): Seq[String] =
      df.queryExecution.optimizedPlan.collect {
        case lr: org.apache.spark.sql.execution.datasources.LogicalRelation =>
          lr.relation match {
            case fs: org.apache.spark.sql.execution.datasources.HadoopFsRelation =>
              fs.location.rootPaths.map(_.toString)
            case _ => Nil
          }
      }.flatten
    def nd(df: org.apache.spark.sql.DataFrame) = df.orderBy("k")
      .select("k", "n_distinct").collect()
      .map(r => (r.getString(0), r.getLong(1))).toList
    try {
      StreamingMv.foldBatch(spark, state, cfg)(
        Seq(("a", Some(5L), Some("u1")), ("a", Some(9L), Some("u2")),
          ("b", Some(2L), Some("u1")))
          .toDF("k", "v_micro", "uid"), 0L)
      StreamingMv.foldBatch(spark, state, cfg)(
        Seq(("a", Some(1L), Some("u2")), // cross-batch DUP: no growth
          ("b", None: Option[Long], None: Option[String]), // null uid
          ("b", Some(7L), Some("u9")), ("c", Some(4L), Some("u1")))
          .toDF("k", "v_micro", "uid"), 1L)
      val dash = StreamingMv.dashboard(spark, state, cfg)
      assert(nd(dash) === List(("a", 2L), ("b", 2L), ("c", 1L)))
      // COUNT(DISTINCT) is SERVED from the stream-maintained summary
      val paths = scanned(dash)
      assert(paths.exists(_.contains("/summary/")),
        s"distinct dashboard not served from the summary: $paths")
      assert(!paths.exists(_.endsWith("/docs")),
        s"distinct dashboard still scans the corpus: $paths")
      // re-delivery of batch 1 changes nothing (set union from the
      // same predecessor version)
      StreamingMv.foldBatch(spark, state, cfg)(
        Seq(("a", Some(1L), Some("u2")),
          ("b", None: Option[Long], None: Option[String]),
          ("b", Some(7L), Some("u9")), ("c", Some(4L), Some("u1")))
          .toDF("k", "v_micro", "uid"), 1L)
      assert(nd(StreamingMv.dashboard(spark, state, cfg)) ===
        List(("a", 2L), ("b", 2L), ("c", 1L)))
      // and ≡ recompute off the corpus dir once routing is cleared
      MvRegistry.clear()
      assert(nd(StreamingMv.dashboard(spark, state, cfg)) ===
        List(("a", 2L), ("b", 2L), ("c", 1L)))
      // a retraction cannot fold a distinct set — loud failure, not a
      // silently-stale count (repair is the batch refreshSummary path)
      val e = intercept[Exception] {
        StreamingIvm.applyBatch(spark,
          StreamingMv.summaryDir(state), Seq("k"),
          distinctCol = Some("uid"))(
          Seq(("a", 9L, "u2", -1L)).toDF("k", "v_micro", "uid", "sign"), 5L)
      }
      def msgs(t: Throwable): Seq[String] =
        Option(t).toSeq.flatMap(x =>
          Option(x.getMessage).toSeq ++ msgs(x.getCause))
      assert(msgs(e).exists(_.contains("insert-only")), msgs(e).mkString)
      assert(!StreamingIvm.versions(spark,
        StreamingMv.summaryDir(state)).contains(5L))
    } finally MvRegistry.clear()
  }

  test("crawl pipeline: LSH probe → label fold → survivors compose end-to-end; " +
    "kill-and-restart resumes mid-crawl; re-delivery is idempotent") {
    import graft.operators.Dedup
    import graft.streaming.{CrawlDedup, StreamingIvm}
    val in = tmpDir("crawl-in"); val cp = tmpDir("crawl-cp")
    val state = tmpDir("crawl-state")
    // all five matrix pieces in ONE job: LSH pairs → labels → survivors,
    // plus the ExactSubstr window fold and the SemDeDup survivor fold
    val substr = Some(CrawlDedup.SubstrStage(4))
    val semantic = Some(CrawlDedup.SemanticStage("emb",
      Array(Array(1f, 0f), Array(0f, 1f)), 0.99))
    def src = spark.readStream
      .schema("doc_id long, text string, emb array<double>").json(in)
    def start() = CrawlDedup.attach(src, state, 3, 0.5,
        substr = substr, semantic = semantic)
      .option("checkpointLocation", cp).start()

    // crawl day 1: an exact dup, a near dup, a distinct doc
    val q1 = start()
    try feed(in, q1, Seq(
      """{"doc_id":1,"text":"the quick brown fox jumps over the lazy dog","emb":[1.0,0.0]}""",
      """{"doc_id":2,"text":"the quick brown fox jumps over the lazy dog","emb":[0.999,0.02]}""",
      """{"doc_id":3,"text":"the quick brown fox jumps over the lazy cat","emb":[0.8,0.6]}""",
      """{"doc_id":4,"text":"completely different content about spark engines here","emb":[0.0,1.0]}"""))
    finally q1.stop() // kill mid-crawl

    // crawl day 2 resumes from the checkpoint + versioned state: a
    // cross-batch dup of cluster 1, a near dup of doc 4, a new singleton
    val q2 = start()
    try feed(in, q2, Seq(
      """{"doc_id":5,"text":"the  quick   brown fox jumps over the lazy dog","emb":[1.0,0.005]}""",
      """{"doc_id":6,"text":"completely different content about spark engines today","emb":[0.01,1.0]}""",
      """{"doc_id":7,"text":"nothing like anything else in this corpus at all","emb":[0.6,0.8]}"""))
    finally q2.stop()

    def labelMap() = CrawlDedup.labels(spark, state).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val expect = Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 5L -> 1L,
      4L -> 4L, 6L -> 4L, 7L -> 7L)
    assert(labelMap() === expect)
    assert(CrawlDedup.survivors(spark, state).collect()
      .map(_.getLong(0)).toSet === Set(1L, 4L, 7L))
    // the deduplicated-corpus reader: survivor docs with full payloads
    val sd = CrawlDedup.survivorDocs(spark, state).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("text")).toMap
    assert(sd.keySet === Set(1L, 4L, 7L))
    assert(sd(1L).startsWith("the quick brown fox"))

    // the composed streaming fold ≡ one-shot batch recompute over the
    // full corpus with EXACT pairs (the usual LSH-recall-at-0.5 gate)
    val all = Seq(
      (1L, "the quick brown fox jumps over the lazy dog", Seq(1.0, 0.0)),
      (2L, "the quick brown fox jumps over the lazy dog", Seq(0.999, 0.02)),
      (3L, "the quick brown fox jumps over the lazy cat", Seq(0.8, 0.6)),
      (4L, "completely different content about spark engines here", Seq(0.0, 1.0)),
      (5L, "the  quick   brown fox jumps over the lazy dog", Seq(1.0, 0.005)),
      (6L, "completely different content about spark engines today", Seq(0.01, 1.0)),
      (7L, "nothing like anything else in this corpus at all", Seq(0.6, 0.8))
    ).toDF("doc_id", "text", "emb")
    val batchExpect = Dedup.connectedComponents(all, "doc_id",
        Dedup.ngramJaccardPairs(all, 3, 0.5))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(labelMap() === batchExpect)

    // ExactSubstr stage: whole-corpus maximal spans ≡ one-shot recompute
    def spanSet(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSet
    val spansExpect = spanSet(Dedup.spansFromWindows(
      Dedup.duplicatedWindows(all, 4), 4))
    assert(spansExpect.nonEmpty) // docs 1/2/5 share whole-doc spans
    assert(spanSet(CrawlDedup.duplicateSpans(spark, state, 4))
      === spansExpect)

    // SemDeDup stage: survivor fold ≡ one-shot recompute; doc 2 evicted
    // by 1, doc 5 cross-evicted by base survivor 1, doc 6 by 4
    def semSet() = CrawlDedup.semanticSurvivors(spark, state).collect()
      .map(_.getLong(0)).toSet
    import graft.operators.SemanticDedup
    val cents = Array(Array(1f, 0f), Array(0f, 1f))
    val semExpect = SemanticDedup.survivors(
        SemanticDedup.assignCells(
          all.select($"doc_id".as("vec_id"),
            $"emb".cast("array<float>").as("embedding")), cents), 0.99)
      .collect().map(_.getLong(0)).toSet
    assert(semSet() === semExpect)
    assert(semSet() === Set(1L, 3L, 4L, 7L))

    // at-least-once re-delivery: re-run the LAST batch (same id, same
    // rows) exactly as a post-crash retry would — every state write is
    // keyed by batchId, so nothing may change in ANY stage
    val lastV = StreamingIvm.versions(spark, s"$state/labels").last
    CrawlDedup.applyBatch(spark, state, 3, 0.5,
      substr = Some(CrawlDedup.SubstrStage(4)),
      semantic = Some(CrawlDedup.SemanticStage("emb", cents, 0.99)))(
      all.filter($"doc_id" >= 5L), lastV)
    assert(labelMap() === expect, "re-delivered crawl batch corrupted state")
    assert(CrawlDedup.survivors(spark, state).collect()
      .map(_.getLong(0)).toSet === Set(1L, 4L, 7L))
    assert(spanSet(CrawlDedup.duplicateSpans(spark, state, 4))
      === spansExpect, "re-delivery corrupted substr state")
    assert(semSet() === semExpect, "re-delivery corrupted semantic state")

    // both crawl days' docs and band rows are committed append-only state
    val fs = new org.apache.hadoop.fs.Path(state)
      .getFileSystem(spark.sessionState.newHadoopConf())
    Seq("docs", "bands", "subwins", "semassigned").foreach { d =>
      val names = fs.listStatus(new org.apache.hadoop.fs.Path(s"$state/$d"))
        .map(_.getPath.getName).filter(_.startsWith("batch=")).sorted
      assert(names.length === 2, s"$d: ${names.toSeq}")
    }
  }

  test("crawl retention: a long run keeps <= keepVersions label/stats/survivor dirs; the fold still equals recompute after pruning") {
    import graft.operators.{Dedup, SemanticDedup}
    import graft.streaming.{CrawlDedup, StreamingIvm}
    val state = tmpDir("crawlret-state")
    // five single-doc crawl days: two near-dup chains + a singleton,
    // embeddings alternating between two cells
    val days = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta", Seq(1.0, 0.0)),
      (2L, "alpha beta gamma delta epsilon zeta eta iota", Seq(0.999, 0.01)),
      (3L, "one two three four five six seven eight", Seq(0.0, 1.0)),
      (4L, "alpha beta gamma delta epsilon zeta eta kappa", Seq(0.6, 0.8)),
      (5L, "one two three four five six seven nine", Seq(0.01, 1.0)))
    val cents = Array(Array(1f, 0f), Array(0f, 1f))
    val stages = (Some(CrawlDedup.SubstrStage(4)),
      Some(CrawlDedup.SemanticStage("emb", cents, 0.99)))
    days.zipWithIndex.foreach { case ((id, text, emb), b) =>
      CrawlDedup.applyBatch(spark, state, 3, 0.5, keepVersions = 2,
        substr = stages._1, semantic = stages._2)(
        Seq((id, text, emb)).toDF("doc_id", "text", "emb"), b.toLong)
    }
    // bounded state: each versioned family holds exactly keepVersions
    // committed dirs after five folds
    Seq("labels", "substats", "semsurv").foreach { d =>
      assert(StreamingIvm.versions(spark, s"$state/$d") === Seq(3L, 4L),
        d)
    }
    // the surviving fold is still exactly the recompute
    val all = days.toDF("doc_id", "text", "emb")
    val labelExpect = Dedup.connectedComponents(all, "doc_id",
        Dedup.ngramJaccardPairs(all, 3, 0.5))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(CrawlDedup.labels(spark, state).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap === labelExpect)
    val spansExpect = Dedup.spansFromWindows(
        Dedup.duplicatedWindows(all, 4), 4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3))).toSet
    assert(CrawlDedup.duplicateSpans(spark, state, 4).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3))).toSet === spansExpect)
    val semExpect = SemanticDedup.survivors(
        SemanticDedup.assignCells(
          all.select($"doc_id".as("vec_id"),
            $"emb".cast("array<float>").as("embedding")), cents), 0.99)
      .collect().map(_.getLong(0)).toSet
    assert(CrawlDedup.semanticSurvivors(spark, state).collect()
      .map(_.getLong(0)).toSet === semExpect)
    // re-delivery after pruning still folds from the surviving
    // predecessor (v=3) and changes nothing
    CrawlDedup.applyBatch(spark, state, 3, 0.5, keepVersions = 2,
      substr = stages._1, semantic = stages._2)(
      Seq(days(4)).toDF("doc_id", "text", "emb"), 4L)
    assert(CrawlDedup.labels(spark, state).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap === labelExpect)
  }

  test("crawl re-crawl: a doc_id arriving again in a LATER batch is " +
       "dropped (first crawl wins) — survivorDocs stays duplicate-free " +
       "and window stats single-count (review r18)") {
    import graft.streaming.CrawlDedup
    val state = tmpDir("crawlre-state")
    val d1 = (1L, "alpha beta gamma delta epsilon zeta eta theta")
    val d2 = (2L, "one two three four five six seven eight")
    CrawlDedup.applyBatch(spark, state, 3, 0.5,
      substr = Some(CrawlDedup.SubstrStage(4)))(
      Seq(d1).toDF("doc_id", "text"), 0L)
    // batch 1 re-crawls doc 1 (same id, same content) beside new doc 2
    CrawlDedup.applyBatch(spark, state, 3, 0.5,
      substr = Some(CrawlDedup.SubstrStage(4)))(
      Seq(d1, d2).toDF("doc_id", "text"), 1L)
    // the "deduplicated corpus" must hold ONE payload row per survivor
    // — before the fix the append-only docs partitions accumulated both
    // crawls and the semi-join kept them both
    val sd = CrawlDedup.survivorDocs(spark, state).collect()
    assert(sd.length === 2, sd.mkString(", "))
    assert(sd.map(_.getLong(0)).toSet === Set(1L, 2L))
    // and the re-crawl fabricated no duplicated-substring spans: doc 1's
    // windows were counted once, so nothing in this corpus is duplicated
    assert(CrawlDedup.duplicateSpans(spark, state, 4).collect().isEmpty)
  }

  test("crawl compaction: closed batch partitions fold into compact=<b>; readers are bit-identical across a compaction; re-delivery across it is idempotent; subdir count stays bounded over 3x the interval") {
    import graft.operators.{Dedup, SemanticDedup}
    import graft.streaming.{CrawlDedup, StreamingIvm}
    val state = tmpDir("crawlcomp-state")
    val cents = Array(Array(1f, 0f), Array(0f, 1f))
    val stages = (Some(CrawlDedup.SubstrStage(4)),
      Some(CrawlDedup.SemanticStage("emb", cents, 0.99)))
    // 9 single-doc crawl days over 3× the compaction interval: two
    // near-dup families CROSSING compaction boundaries (the probe must
    // find their earlier members in the compacted band state) plus
    // singletons
    def day(i: Long): (Long, String, Seq[Double]) = {
      // families at Jaccard ≈ 0.9 (one differing trailing token over a
      // long shared prefix — the same regime the other crawl tests
      // use, where the deterministic 16×4 LSH finds every pair);
      // singletons share NO token with anything
      val text = (i % 3) match {
        case 0 => "alpha beta gamma delta epsilon zeta eta theta iota " +
          s"kappa lambda mu nu xi omicron pi rho sigma tau upsilon w$i"
        case 1 => "one two three four five six seven eight nine ten " +
          s"eleven twelve thirteen fourteen fifteen sixteen seventeen w$i"
        case _ => (0 until 12).map(k => s"u${i}t$k").mkString(" ")
      }
      (i + 1, text, if (i % 2 == 0) Seq(1.0, 0.0) else Seq(0.0, 1.0))
    }
    def fold(b: Long, d: (Long, String, Seq[Double])): Unit =
      CrawlDedup.applyBatch(spark, state, 3, 0.5, keepVersions = 2,
        substr = stages._1, semantic = stages._2, compactEvery = 3)(
        Seq(d).toDF("doc_id", "text", "emb"), b)
    (0L until 9L).foreach(b => fold(b, day(b)))

    val fs = new org.apache.hadoop.fs.Path(state)
      .getFileSystem(spark.sessionState.newHadoopConf())
    def subdirs(d: String) = fs
      .listStatus(new org.apache.hadoop.fs.Path(s"$state/$d")).toSeq
      .map(_.getPath.getName).sorted
    // bounded layout: after 9 folds with compactEvery=3 each append-only
    // family holds ONE compact partition (from the b=6 compaction,
    // covering batches 0..5) + the open batches 6..8 — never one subdir
    // per trigger forever
    Seq("docs", "bands", "subwins", "semassigned").foreach { d =>
      val names = subdirs(d)
      assert(names.count(_.startsWith("compact=")) === 1, s"$d: $names")
      assert(names.count(_.startsWith("batch=")) <= 3, s"$d: $names")
      assert(!names.exists(_.startsWith("_compacting=")), s"$d: $names")
    }

    def labelMap() = CrawlDedup.labels(spark, state).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    def spanSet() = CrawlDedup.duplicateSpans(spark, state, 4).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSet
    def semSet() = CrawlDedup.semanticSurvivors(spark, state).collect()
      .map(_.getLong(0)).toSet
    def docSet() = CrawlDedup.survivorDocs(spark, state).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("text")).toMap

    // the streamed fold ≡ one-shot recompute over all nine docs — the
    // probes that crossed the two compactions lost nothing
    val all = (0L until 9L).map(day).toDF("doc_id", "text", "emb")
    val labelExpect = Dedup.connectedComponents(all, "doc_id",
        Dedup.ngramJaccardPairs(all, 3, 0.5))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(labelMap() === labelExpect)
    val before = (labelMap(), spanSet(), semSet(), docSet())

    // a standalone compaction sweep (all closed batches): every reader
    // must return BIT-IDENTICAL results — probe-after ≡ probe-before
    Seq("docs", "bands", "subwins", "semassigned").foreach(d =>
      CrawlDedup.compactAppendOnly(spark, s"$state/$d", 9L))
    assert((labelMap(), spanSet(), semSet(), docSet()) === before,
      "a compaction changed reader results")
    Seq("docs", "bands", "subwins", "semassigned").foreach { d =>
      assert(subdirs(d).filter(_.startsWith("batch=")).isEmpty,
        s"$d: ${subdirs(d)}")
    }
    // crash window between the compact commit and the subdir prune: a
    // STALE batch subdir the newest compact already covers must be
    // IGNORED by every reader, never double-read — plant one containing
    // garbage rows and assert nothing changes
    (0L until 9L).map(day).take(1)
      .map { case (id, tx, _) => (id + 9000L, "garbage " + tx) }
      .toDF("doc_id", "text")
      .write.mode("overwrite").parquet(s"$state/docs/batch=0")
    assert((labelMap(), docSet()) === ((before._1, before._4)),
      "a compact-covered stale subdir leaked into reader results")
    fs.delete(new org.apache.hadoop.fs.Path(s"$state/docs/batch=0"), true)

    // foreign/hand-made subdirs (ADVICE r15): a non-numeric `batch=tmp`
    // under a state dir must be IGNORED by readers AND by the
    // compaction prune — not abort the fold with NumberFormatException
    fs.mkdirs(new org.apache.hadoop.fs.Path(s"$state/docs/batch=tmp"))
    fs.mkdirs(new org.apache.hadoop.fs.Path(s"$state/labels/v=scratch"))
    assert((labelMap(), docSet()) === ((before._1, before._4)),
      "a foreign non-numeric subdir changed reader results")
    CrawlDedup.compactAppendOnly(spark, s"$state/docs", 9L)
    assert(fs.exists(
        new org.apache.hadoop.fs.Path(s"$state/docs/batch=tmp")),
      "compaction pruned a foreign non-numeric subdir")
    fs.delete(new org.apache.hadoop.fs.Path(s"$state/docs/batch=tmp"),
      true)
    fs.delete(new org.apache.hadoop.fs.Path(s"$state/labels/v=scratch"),
      true)

    // batch 9 lands a compaction trigger (9 % 3 == 0) AND new content;
    // re-delivering it re-runs compaction + fold — nothing may change
    fold(9L, day(9L))
    val after9 = (labelMap(), spanSet(), semSet(), docSet())
    assert(after9._1.keySet.contains(10L))
    fold(9L, day(9L)) // the post-crash retry
    assert((labelMap(), spanSet(), semSet(), docSet()) === after9,
      "re-delivery across a compaction corrupted state")
    // and the total fold is STILL the exact recompute
    val all10 = (0L until 10L).map(day).toDF("doc_id", "text", "emb")
    val expect10 = Dedup.connectedComponents(all10, "doc_id",
        Dedup.ngramJaccardPairs(all10, 3, 0.5))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(labelMap() === expect10)
    val semExpect10 = SemanticDedup.survivors(
        SemanticDedup.assignCells(
          all10.select($"doc_id".as("vec_id"),
            $"emb".cast("array<float>").as("embedding")), cents), 0.99)
      .collect().map(_.getLong(0)).toSet
    assert(semSet() === semExpect10)
    val spansExpect10 = Dedup.spansFromWindows(
        Dedup.duplicatedWindows(all10, 4), 4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3))).toSet
    assert(spanSet() === spansExpect10)
  }

  test("crawl image stage: perceptual signatures probe across batches and a compaction; labels ≡ one-shot recompute; re-delivery idempotent") {
    import graft.operators.{Dedup, Multimodal}
    import graft.streaming.CrawlDedup
    val state = tmpDir("crawlimg-state")
    // a pattern rendered at any block-aligned scale hashes identically
    // — cross-batch "resized re-encodes" are the planted duplicates
    def pat(patternId: Long, px: Int): Array[Byte] = Multimodal
      .syntheticPatternImages(spark, Seq(patternId).toDF("doc_id"), px)
      .collect().head.getAs[Array[Byte]]("payload")
    // (doc, patternId, px): 4↔1 and 5↔2 are cross-batch twins; 7↔3
    // crosses the b=2 COMPACTION of the signature state
    val batches: Seq[Seq[(Long, Long, Int)]] = Seq(
      Seq((1L, 1L, 8), (2L, 2L, 8)),
      Seq((3L, 3L, 8), (4L, 1L, 16)),
      Seq((5L, 2L, 32), (6L, 6L, 8)),
      Seq((7L, 3L, 16)))
    def df(rows: Seq[(Long, Long, Int)]) = rows
      .map { case (id, p, px) => (id, s"unique text u${id}a u${id}b", pat(p, px)) }
      .toDF("doc_id", "text", "payload")
    def fold(b: Long): Unit =
      CrawlDedup.applyBatch(spark, state, 3, 0.9, keepVersions = 2,
        image = Some(CrawlDedup.ImageStage("payload")), compactEvery = 2)(
        df(batches(b.toInt)), b)
    (0L until 4L).foreach(fold)

    def labelMap() = CrawlDedup.imageLabels(spark, state).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val expect = Map(1L -> 1L, 4L -> 1L, 2L -> 2L, 5L -> 2L,
      3L -> 3L, 7L -> 3L, 6L -> 6L)
    assert(labelMap() === expect)
    // ≡ one-shot recompute over all seven payloads
    val all = df(batches.flatten)
    val sigsAll = Multimodal.imageSignature(spark,
      all.select(col("doc_id"), col("payload")))
    val recompute = Dedup.connectedComponents(sigsAll.select("doc_id"),
        "doc_id", Dedup.hammingPairsFromSigs(sigsAll, "sig", 3))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(labelMap() === recompute)
    // the b=2 compaction folded the signature partitions
    val fs = new org.apache.hadoop.fs.Path(state)
      .getFileSystem(spark.sessionState.newHadoopConf())
    val names = fs.listStatus(
        new org.apache.hadoop.fs.Path(s"$state/imgsigs")).toSeq
      .map(_.getPath.getName)
    assert(names.count(_.startsWith("compact=")) === 1, names)
    // re-delivery of the final batch changes nothing
    fold(3L)
    assert(labelMap() === expect, "re-delivered image batch corrupted state")
  }

  test("crawl video stage: min-wise frame signatures probe across batches and a compaction; labels ≡ one-shot recompute; re-delivery idempotent") {
    import graft.operators.{Dedup, Multimodal}
    import graft.streaming.CrawlDedup
    val state = tmpDir("crawlvid-state")
    // a pattern rendered at any block-aligned scale (and any trailing
    // trim that keeps the argmin frame) hashes identically — the
    // cross-batch "re-uploaded / trimmed" planted duplicates
    def pat(patternId: Long, px: Int, frames: Int): Array[Byte] = Multimodal
      .syntheticPatternVideos(spark, Seq(patternId).toDF("doc_id"), px, frames)
      .collect().head.getAs[Array[Byte]]("payload")
    // (doc, patternId, px, frames): 4↔1 is a resized re-encode twin,
    // 5↔2 a pixel-doubled one; 7↔3 crosses the b=2 COMPACTION of the
    // signature state. All full-length so the min-wise law is exact.
    val batches: Seq[Seq[(Long, Long, Int, Int)]] = Seq(
      Seq((1L, 1L, 8, 4), (2L, 2L, 8, 4)),
      Seq((3L, 3L, 8, 4), (4L, 1L, 16, 4)),
      Seq((5L, 2L, 32, 4), (6L, 6L, 8, 4)),
      Seq((7L, 3L, 16, 4)))
    def df(rows: Seq[(Long, Long, Int, Int)]) = rows
      .map { case (id, p, px, fr) =>
        (id, s"unique text u${id}a u${id}b", pat(p, px, fr)) }
      .toDF("doc_id", "text", "payload")
    def fold(b: Long): Unit =
      CrawlDedup.applyBatch(spark, state, 3, 0.9, keepVersions = 2,
        video = Some(CrawlDedup.VideoStage("payload")), compactEvery = 2)(
        df(batches(b.toInt)), b)
    (0L until 4L).foreach(fold)

    def labelMap() = CrawlDedup.videoLabels(spark, state).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val expect = Map(1L -> 1L, 4L -> 1L, 2L -> 2L, 5L -> 2L,
      3L -> 3L, 7L -> 3L, 6L -> 6L)
    assert(labelMap() === expect)
    // ≡ one-shot recompute over all seven containers
    val all = df(batches.flatten)
    val sigsAll = Multimodal.videoSignature(spark,
      all.select(col("doc_id"), col("payload")))
    val recompute = Dedup.connectedComponents(sigsAll.select("doc_id"),
        "doc_id", Dedup.hammingPairsFromSigs(sigsAll, "sig", 3))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(labelMap() === recompute)
    // the b=2 compaction folded the signature partitions
    val fs = new org.apache.hadoop.fs.Path(state)
      .getFileSystem(spark.sessionState.newHadoopConf())
    val names = fs.listStatus(
        new org.apache.hadoop.fs.Path(s"$state/vidsigs")).toSeq
      .map(_.getPath.getName)
    assert(names.count(_.startsWith("compact=")) === 1, names)
    // re-delivery of the final batch changes nothing
    fold(3L)
    assert(labelMap() === expect, "re-delivered video batch corrupted state")
  }

  test("crawl audio stage: envelope signatures probe across batches and a compaction; labels ≡ one-shot recompute; re-delivery idempotent") {
    import graft.operators.{Dedup, Multimodal}
    import graft.streaming.CrawlDedup
    val state = tmpDir("crawlaud-state")
    // a pattern rendered at any frames-per-segment is the SAME envelope
    // — cross-batch "time-stretched re-encodes" are the planted dups
    def pat(patternId: Long, per: Int): Array[Byte] = Multimodal
      .syntheticPatternAudio(spark, Seq(patternId).toDF("doc_id"), 57, per)
      .collect().head.getAs[Array[Byte]]("payload")
    // (doc, patternId, per): 4↔1 and 5↔2 are cross-batch stretched
    // twins; 7↔3 crosses the b=2 COMPACTION of the signature state
    val batches: Seq[Seq[(Long, Long, Int)]] = Seq(
      Seq((1L, 1L, 32), (2L, 2L, 32)),
      Seq((3L, 3L, 32), (4L, 1L, 64)),
      Seq((5L, 2L, 96), (6L, 6L, 32)),
      Seq((7L, 3L, 64)))
    def df(rows: Seq[(Long, Long, Int)]) = rows
      .map { case (id, p, per) =>
        (id, s"unique text u${id}a u${id}b", pat(p, per)) }
      .toDF("doc_id", "text", "payload")
    def fold(b: Long): Unit =
      CrawlDedup.applyBatch(spark, state, 3, 0.9, keepVersions = 2,
        audio = Some(CrawlDedup.AudioStage("payload")), compactEvery = 2)(
        df(batches(b.toInt)), b)
    (0L until 4L).foreach(fold)

    def labelMap() = CrawlDedup.audioLabels(spark, state).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val expect = Map(1L -> 1L, 4L -> 1L, 2L -> 2L, 5L -> 2L,
      3L -> 3L, 7L -> 3L, 6L -> 6L)
    assert(labelMap() === expect)
    // ≡ one-shot recompute over all seven payloads
    val all = df(batches.flatten)
    val sigsAll = Multimodal.audioSignature(spark,
      all.select(col("doc_id"), col("payload")))
    val recompute = Dedup.connectedComponents(sigsAll.select("doc_id"),
        "doc_id", Dedup.hammingPairsFromSigs(sigsAll, "sig", 3))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(labelMap() === recompute)
    // the b=2 compaction folded the signature partitions
    val fs = new org.apache.hadoop.fs.Path(state)
      .getFileSystem(spark.sessionState.newHadoopConf())
    val names = fs.listStatus(
        new org.apache.hadoop.fs.Path(s"$state/audsigs")).toSeq
      .map(_.getPath.getName)
    assert(names.count(_.startsWith("compact=")) === 1, names)
    // re-delivery of the final batch changes nothing
    fold(3L)
    assert(labelMap() === expect, "re-delivered audio batch corrupted state")
  }

  test("StreamingIvm retention: long runs keep <= keepVersions dirs; " +
    "re-delivery still folds after pruning; half-written versions are invisible") {
    import graft.streaming.StreamingIvm
    import spark.implicits._
    val state = tmpDir("ivm-ret")
    def batchDf(i: Long) =
      Seq(("k", Some(i), 1L)).toDF("k", "v_micro", "sign")
    def fold(b: Long) =
      StreamingIvm.applyBatch(spark, state, Seq("k"))(batchDf(b), b)
    (0L until 6L).foreach(fold)

    // disk holds exactly the newest 3 version dirs — a long-running
    // stream's state storage is bounded, not one-full-copy-per-batch
    val p = new org.apache.hadoop.fs.Path(state)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    def versionDirs() = fs.listStatus(p).toSeq
      .map(_.getPath.getName).filter(_.startsWith("v=")).sorted
    assert(versionDirs() === Seq("v=3", "v=4", "v=5"))
    assert(StreamingIvm.versions(spark, state) === Seq(3L, 4L, 5L))
    // the surviving state is the fold of ALL six batches
    def stateRow() = StreamingIvm.readState(spark, state).get
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(3))).toSeq
    assert(stateRow() === Seq(("k", 6L, 15L)))

    // re-delivery of the LAST batch after pruning: its predecessor
    // (v=4) survived pruning, so the retry recomputes v=5
    // bit-identically
    fold(5L)
    assert(stateRow() === Seq(("k", 6L, 15L)),
      "re-delivered batch corrupted state after pruning")
    assert(versionDirs() === Seq("v=3", "v=4", "v=5"))

    // a half-written version (no _SUCCESS marker — a fold that died
    // mid-write) is not observable as state
    val half = new org.apache.hadoop.fs.Path(p, "v=7")
    fs.mkdirs(half)
    val out = fs.create(new org.apache.hadoop.fs.Path(half, "part-0.parquet"))
    out.write(Array[Byte](1, 2, 3)); out.close()
    assert(StreamingIvm.versions(spark, state) === Seq(3L, 4L, 5L),
      "marker-less directory leaked into the version list")
    assert(stateRow() === Seq(("k", 6L, 15L)),
      "readState observed a half-written version")
  }
}
