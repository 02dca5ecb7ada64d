package graft.queries

import org.apache.spark.sql.{Column, DataFrame, RelationalGroupedDataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, IntegerType, LongType}

import graft.core.{Materialize, Tables}
import graft.pipeline.IncrementalFinal
import graft.plans.MvRegistry
import graft.streaming.{CdcApply, StreamingMv}

/** CDC-apply inventory: the gate-expressible face of
  * [[graft.streaming.CdcApply]]. The `events` table stands in for an
  * accumulated changelog: a deterministic op rule (`event_id % 7 = 0` →
  * delete) splits it into upserts and tombstones, keyed by `user_id` and
  * ordered by (`ts`, `event_id`) — the same latest-image-minus-deletes
  * semantics the streaming suite replays over runRouted's real routed
  * output.
  */
object CdcOps {

  /** `value` as exact integer micro-points (determinism rule 2). */
  private def vMicro: Column =
    floor(col("value") * lit(1e6)).cast(LongType).as("v_micro")

  private def typeMicro(s: SparkSession, dir: String): DataFrame =
    Tables(s, dir, "events").select(col("event_type"), vMicro)

  private def avgMicro: Column = avg(col("v_micro")).as("avg_micro")

  /** The v_micro summary columns — row count, non-null count, sum — then
    * `more`: what every routed MV keeps per grain, and the head of the
    * aggregates its dashboards ask for. */
  private def summarize(g: RelationalGroupedDataset, more: Column*)
  : DataFrame = {
    val aggs = Seq(count(lit(1)).as("cnt"),
      count(col("v_micro")).as("n_nonnull"),
      sum(col("v_micro")).as("sum_micro")) ++ more
    g.agg(aggs.head, aggs.tail: _*)
  }

  /** The 90/10 changelog over events: `event_id % 10 != 9` is the
    * persisted base; the delta inserts the rest (sign +1) and retracts
    * the base's `event_id % 7 = 0` rows (sign −1). */
  private def changelog(ev: DataFrame): (DataFrame, DataFrame) = {
    val base = ev.filter(col("event_id") % 10 =!= 9)
    (base, ev.filter(col("event_id") % 10 === 9)
      .withColumn("sign", lit(1L))
      .unionByName(base.filter(col("event_id") % 7 === 0)
        .withColumn("sign", lit(-1L))))
  }

  /** The row set after [[changelog]] applies. */
  private def postChange(ev: DataFrame): DataFrame =
    ev.filter((col("event_id") % 10 === 9) ||
      (col("event_id") % 10 =!= 9 && col("event_id") % 7 =!= 0))

  /** A routed entry's state in its [[Scratch.entryDir]]: the corpus in
    * `base`, each summary in its own subdir, the dim (if any) in `dim`. */
  private final case class RoutedMv(s: SparkSession, root: String,
                                    dimJoin: Option[String]) {
    def base: String = s"$root/base"
    def summary: String = s"$root/summary"
    /** The registry key ([[StreamingMv.qualified]]). */
    def registered: String = StreamingMv.qualified(s, base)
    /** The corpus the entry's query scans (⋈ the dim on
      * `event_type = k` when there is one), listed when called, so it
      * sees every base write before it. */
    def corpus: DataFrame = dimJoin.fold(s.read.parquet(base))(how =>
      s.read.parquet(base)
        .join(s.read.parquet(s"$root/dim"), col("event_type") === col("k"), how))
  }

  private def at(grain: String*): Seq[(String, Seq[String])] =
    Seq("summary" -> grain)

  /** The routed-MV fixture. Writes `base`, then one summary per `grains`
    * entry (subdir → grain) — `summary` when given, else [[summarize]]
    * of `base` at the grain — then `dim`, then registers each summary
    * with a fresh base-version token: v_micro's sum and non-null columns
    * when `base` carries v_micro, plus what `more` adds (applied at
    * registration, after every write). */
  private def routedMv(s: SparkSession, dir: String, kind: String,
                       base: DataFrame,
                       grains: Seq[(String, Seq[String])] = at("event_type"),
                       summary: Option[DataFrame] = None,
                       dim: Option[DataFrame] = None,
                       dimJoin: String = "inner",
                       more: MvRegistry.Summary => MvRegistry.Summary = identity)
  : RoutedMv = {
    val mv = RoutedMv(s, Scratch.entryDir(kind, dir), dim.map(_ => dimJoin))
    base.write.mode("overwrite").parquet(mv.base)
    grains.foreach { case (sub, g) =>
      summary.getOrElse(summarize(base.groupBy(g.map(col): _*)))
        .write.mode("overwrite").parquet(s"${mv.root}/$sub")
    }
    dim.foreach(_.write.mode("overwrite").parquet(s"${mv.root}/dim"))
    val micro = base.columns.contains("v_micro")
    grains.foreach { case (sub, g) =>
      MvRegistry.register(s, mv.registered, more(MvRegistry.Summary(
        s"${mv.root}/$sub", g, "cnt",
        sums = if (micro) Map("v_micro" -> "sum_micro") else Map.empty,
        nns = if (micro) Map("v_micro" -> "n_nonnull") else Map.empty)))
    }
    mv
  }

  /** The dim beside a routed summary: event_type (as `k`) → its name
    * length, a stand-in for any small attribute dim. */
  private def typeLenDim(ev: DataFrame, evenOnly: Boolean = false)
  : DataFrame = {
    val ks = ev.select(col("event_type").as("k")).distinct()
    (if (evenOnly) ks.filter(length(col("k")) % 2 === 0) else ks)
      .select(col("k"), length(col("k")).cast(IntegerType).as("type_len"))
  }

  /** Registers the `kmv_user` sketch for COUNT(DISTINCT user_id) only
    * if the build's license verifies (checked at registration). */
  private def licensedDistinct(ev: DataFrame, grain: Seq[String], k: Int)
  : MvRegistry.Summary => MvRegistry.Summary = m => m.copy(distincts =
    if (IncrementalFinal.verifiedDistinctLicense(ev, grain, "user_id", k))
      Map("user_id" -> "kmv_user")
    else Map.empty)

  /** Delivers `ev` as three micro-batches (`event_id % 3`) through
    * [[StreamingMv.foldBatch]] into the entry's state dir; returns the
    * dir. `ev` is materialized once (r19): each fold filters it — a
    * real stream receives each batch exactly once, and the checkpoint
    * simulates that arrival instead of re-scanning events per
    * micro-batch. */
  private def streamed(s: SparkSession, dir: String, kind: String,
                       cfg: StreamingMv.Config, ev: DataFrame): String = {
    val state = Scratch.entryDir(kind, dir)
    val batches = Materialize(ev)
    (0L until 3L).foreach { b =>
      StreamingMv.foldBatch(s, state, cfg)(
        batches.filter(col("event_id") % 3 === b).drop("event_id"), b)
    }
    state
  }

  val entries: Seq[Entry] = Seq(

    // current-state materialization: latest change per user wins; users
    // whose latest change is a delete are absent. Spark side = ONE hash
    // aggregate (partial max_by) — the oracle states the same argmax
    // relationally via row_number.
    Entry(
      "cdc_apply",
      (s, dir) => {
        val ev = Tables(s, dir, "events")
          .select(col("user_id"), col("event_id"), col("ts"),
            col("event_type"), col("value"))
        CdcApply.currentState(
          upserts    = ev.filter(col("event_id") % 7 =!= 0),
          tombstones = ev.filter(col("event_id") % 7 === 0),
          keyCols = Seq("user_id"), orderCols = Seq("ts", "event_id"))
          .orderBy("user_id")
      },
      Some("""WITH c AS (
                SELECT user_id, event_id, ts, event_type, value,
                       (event_id % 7 = 0) AS is_delete
                FROM events),
              r AS (
                SELECT *, ROW_NUMBER() OVER (
                  PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rk
                FROM c)
              SELECT user_id, event_id, ts, event_type, value
              FROM r WHERE rk = 1 AND NOT is_delete
              ORDER BY user_id""")),

    // SCD2 history: every upsert opens a version valid until the key's
    // next change; a trailing delete closes the range and leaves the key
    // with no current version. ONE window over (key, order) — history
    // inherently needs per-key order; the oracle states the identical
    // LEAD-before-filter semantics.
    Entry(
      "cdc_scd2",
      (s, dir) => {
        val ev = Tables(s, dir, "events")
          .select(col("user_id"), col("event_id"), col("ts"), col("value"))
        CdcApply.scd2History(
          upserts    = ev.filter(col("event_id") % 7 =!= 0),
          tombstones = ev.filter(col("event_id") % 7 === 0),
          keyCols = Seq("user_id"), orderCols = Seq("ts", "event_id"),
          tsCol = "ts")
          .orderBy("user_id", "valid_from", "event_id")
      },
      Some("""WITH c AS (
                SELECT user_id, event_id, ts, value,
                       (event_id % 7 = 0) AS is_delete
                FROM events),
              w AS (
                SELECT *, LEAD(ts) OVER (
                  PARTITION BY user_id ORDER BY ts, event_id) AS valid_to
                FROM c)
              SELECT user_id, event_id, ts, value,
                     ts AS valid_from, valid_to,
                     (valid_to IS NULL) AS is_current
              FROM w WHERE NOT is_delete
              ORDER BY user_id, valid_from, event_id""")),

    // ⊕ time travel: table state AS OF 2024-01-15 — the row image whose
    // SCD2 validity interval covers the instant; keys deleted before it
    // are absent because their tombstone closed the interval. The
    // lookup Delta's VERSION AS OF serves, over plain parquet.
    Entry(
      "cdc_state_asof",
      (s, dir) => {
        val ev = Tables(s, dir, "events")
          .select(col("user_id"), col("event_id"), col("ts"), col("value"))
        CdcApply.stateAt(
          upserts    = ev.filter(col("event_id") % 7 =!= 0),
          tombstones = ev.filter(col("event_id") % 7 === 0),
          keyCols = Seq("user_id"), orderCols = Seq("ts", "event_id"),
          tsCol = "ts",
          at = to_timestamp(lit("2024-01-15 00:00:00")))
          .orderBy("user_id")
      },
      Some("""WITH c AS (
                SELECT user_id, event_id, ts, value,
                       (event_id % 7 = 0) AS is_delete
                FROM events),
              w AS (
                SELECT *, LEAD(ts) OVER (
                  PARTITION BY user_id ORDER BY ts, event_id) AS valid_to
                FROM c)
              SELECT user_id, event_id, ts, value
              FROM w
              WHERE NOT is_delete
                AND ts <= TIMESTAMP '2024-01-15 00:00:00'
                AND (valid_to IS NULL
                     OR valid_to > TIMESTAMP '2024-01-15 00:00:00')
              ORDER BY user_id""")),

    // ⊕ snapshot reconciliation report: two deterministic "versions" of
    // the events table (drop-every-5th vs drop-every-3rd with every-7th
    // value perturbed) diffed by key — added/removed/changed/unchanged
    // counts, the anti-entropy check after a backfill or replicated
    // apply. Value comparison is null-safe column equality (Spark `<=>`
    // ≡ DuckDB IS NOT DISTINCT FROM), never a stringified row hash, so
    // doubles compare bit-exactly on both engines.
    Entry(
      "cdc_table_diff",
      (s, dir) => {
        val ev = Tables(s, dir, "events")
          .select(col("event_id"), col("user_id"), col("event_type"),
            col("value"))
        val old = ev.filter(col("event_id") % 5 =!= 0)
        val nw = ev.filter(col("event_id") % 3 =!= 0)
          .withColumn("value",
            when(col("event_id") % 7 === 0, col("value") + lit(1.0))
              .otherwise(col("value")))
        CdcApply.snapshotDiff(old, nw, Seq("event_id"))
          .groupBy("status").agg(count(lit(1)).as("n_rows"))
          .orderBy("status")
      },
      Some("""WITH ev AS (
                SELECT event_id, user_id, event_type, value FROM events),
              o AS (SELECT * FROM ev WHERE event_id % 5 <> 0),
              n AS (
                SELECT event_id, user_id, event_type,
                       CASE WHEN event_id % 7 = 0 THEN value + 1.0
                            ELSE value END AS value
                FROM ev WHERE event_id % 3 <> 0)
              SELECT CASE
                       WHEN o.event_id IS NULL THEN 'added'
                       WHEN n.event_id IS NULL THEN 'removed'
                       WHEN (o.user_id IS DISTINCT FROM n.user_id)
                         OR (o.event_type IS DISTINCT FROM n.event_type)
                         OR (o.value IS DISTINCT FROM n.value)
                         THEN 'changed'
                       ELSE 'unchanged' END AS status,
                     CAST(COUNT(*) AS BIGINT) AS n_rows
              FROM o FULL OUTER JOIN n ON o.event_id = n.event_id
              GROUP BY 1 ORDER BY status""")),

    // ⊕ incremental aggregate maintenance: yesterday's partials (ships
    // before the cutoff) merged with today's delta (at/after it) must
    // equal the from-scratch aggregate — the algebraic-merge property
    // every incremental ETL relies on. Spark computes the two partials
    // SEPARATELY and re-aggregates their union (the real incremental
    // topology: base partials would be read from yesterday's state
    // table); the oracle aggregates the whole table directly. Counts
    // and integer quantity sums are exact longs, so merge ≡ recompute
    // bit-for-bit.
    Entry(
      "cdc_incr_agg",
      (s, dir) => {
        val cutoff = to_timestamp(lit("1999-01-01 00:00:00"))
        val li = Tables(s, dir, "lineitem")
          .select(col("l_returnflag"), col("l_shipdate"),
            col("l_quantity").cast("long").as("q"))
        def partial(df: org.apache.spark.sql.DataFrame) = df
          .groupBy("l_returnflag")
          .agg(count(lit(1)).as("n"), sum("q").as("sum_qty"))
        partial(li.filter(col("l_shipdate") < cutoff))
          .unionByName(partial(li.filter( // null ship dates ride the delta
            col("l_shipdate") >= cutoff || col("l_shipdate").isNull)))
          .groupBy("l_returnflag")
          .agg(sum("n").as("n"), sum("sum_qty").as("sum_qty"))
          .orderBy("l_returnflag")
      },
      Some("""SELECT l_returnflag, CAST(COUNT(*) AS BIGINT) AS n,
                     CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT)
                       AS sum_qty
              FROM lineitem
              GROUP BY 1 ORDER BY l_returnflag""")),

    // ⊕ at-least-once replay idempotence, IN the gate: the whole routed
    // changelog delivered TWICE (the retry/redeploy case every
    // at-least-once transport produces) must materialize the exact
    // state a single delivery does — so the oracle is cdc_apply's
    // single-delivery SQL verbatim. Holds because currentState is an
    // argmax: duplicates tie on the full (ts, event_id) order with
    // identical payloads, so whichever copy wins, the row is the same.
    Entry(
      "cdc_replay_idempotent",
      (s, dir) => {
        val ev = Tables(s, dir, "events")
          .select(col("user_id"), col("event_id"), col("ts"),
            col("event_type"), col("value"))
        val ups = ev.filter(col("event_id") % 7 =!= 0)
        val dels = ev.filter(col("event_id") % 7 === 0)
        CdcApply.currentState(
          upserts    = ups.unionByName(ups),
          tombstones = dels.unionByName(dels),
          keyCols = Seq("user_id"), orderCols = Seq("ts", "event_id"))
          .orderBy("user_id")
      },
      Some("""WITH c AS (
                SELECT user_id, event_id, ts, event_type, value,
                       (event_id % 7 = 0) AS is_delete
                FROM events),
              r AS (
                SELECT *, ROW_NUMBER() OVER (
                  PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rk
                FROM c)
              SELECT user_id, event_id, ts, event_type, value
              FROM r WHERE rk = 1 AND NOT is_delete
              ORDER BY user_id""")),

    // ⊕ event-time lateness profile: per event, how far its event time
    // lags the per-key max already ingested (arrival order = event_id,
    // the monotone ingest id) — bucketed on the power-of-two second
    // scale (bit length, no libm). THE report that sizes a watermark:
    // the tail bucket is the lateness your delay threshold must absorb,
    // and everything beyond it is what dropDuplicatesWithinWatermark
    // would lose. Per-key windows (the scalable form — a global arrival
    // order would funnel one partition); integer µs throughout.
    Entry(
      "cdc_lateness_profile",
      (s, dir) => {
        val W = org.apache.spark.sql.expressions.Window
        val w = W.partitionBy("user_id").orderBy("event_id")
          .rowsBetween(W.unboundedPreceding, -1)
        Tables(s, dir, "events")
          .filter(col("user_id").isNotNull && col("ts").isNotNull)
          .select(col("user_id"), col("event_id"),
            unix_micros(col("ts")).as("ts_us"))
          .withColumn("late_us", max("ts_us").over(w) - col("ts_us"))
          .filter(col("late_us").isNotNull) // first arrival per key
          .withColumn("bucket",
            when(col("late_us") <= 0, lit(0L))
              .otherwise(length(bin(expr("late_us div 1000000")))
                .cast("long")))
          .groupBy("bucket")
          .agg(count(lit(1)).as("n_events"),
            max(col("late_us")).as("max_late_us"))
          .orderBy("bucket")
      },
      Some("""WITH e AS (
                SELECT user_id, event_id, epoch_us(ts) AS ts_us
                FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL),
              l AS (
                SELECT user_id, event_id,
                       MAX(ts_us) OVER (PARTITION BY user_id
                         ORDER BY event_id
                         ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                         - ts_us AS late_us
                FROM e),
              b AS (
                SELECT CASE WHEN late_us <= 0 THEN 0
                            ELSE CAST(LENGTH(BIN(late_us // 1000000))
                                   AS BIGINT) END AS bucket,
                       late_us
                FROM l WHERE late_us IS NOT NULL)
              SELECT bucket, CAST(COUNT(*) AS BIGINT) AS n_events,
                     MAX(late_us) AS max_late_us
              FROM b GROUP BY 1 ORDER BY bucket""")),

    // ⊕ incremental VIEW maintenance: fold a signed changelog (90% of
    // events = the persisted base aggregate; the rest = inserts, plus
    // retractions of the base's event_id%7 rows) into per-type
    // count/sum state WITHOUT rescanning the base — then prove the
    // folded state ≡ a from-scratch group-by over the post-change row
    // set (the oracle recomputes; Spark maintains). Exact integer
    // micro-point sums make increment and recompute commute
    // bit-for-bit; a separate non-null count preserves SUM's NULL
    // semantics under total retraction (IncrementalFinal
    // .maintainAggregate). At 100 TB: refresh cost |Δ| + a |keys| join,
    // not a base scan.
    Entry(
      "cdc_ivm_agg",
      (s, dir) => {
        val (base, delta) = changelog(Tables(s, dir, "events")
          .select(col("event_type"), col("event_id"), vMicro))
        IncrementalFinal.maintainAggregate(
            summarize(base.groupBy("event_type")), delta, Seq("event_type"))
          .select(col("event_type"), col("cnt"),
            (col("sum_micro").cast(DoubleType) / lit(1e6)).as("sum_value"))
          .orderBy("event_type")
      },
      Some("""SELECT event_type, CAST(COUNT(*) AS BIGINT) AS cnt,
                     CAST(CAST(SUM(CAST(FLOOR(value * 1e6) AS BIGINT))
                               AS BIGINT) AS DOUBLE) / 1e6 AS sum_value
              FROM events
              WHERE (event_id % 10 = 9)
                 OR (event_id % 10 != 9 AND event_id % 7 != 0)
              GROUP BY 1 ORDER BY 1""")),

    // ⊕ incremental view maintenance for a JOIN (the pair to
    // cdc_ivm_agg): keep V = orders ⋈ customer current while BOTH
    // sides change in one batch — late orders arrive, stale orders
    // retract, and a slice of customers is re-segmented
    // (retract-old + insert-new, the changelog form). The delta rule
    // ΔV = ΔA⋈B ∪ A⋈ΔB ∪ ΔA⋈ΔB with multiplying signs, then a net-sign
    // reduction (IncrementalFinal.maintainJoin); the oracle RE-JOINS
    // the post-change bases from scratch — maintain ≡ recompute is the
    // whole point. At 100 TB the delta joins touch |Δ| keys against
    // bucketed bases; base never joins base again.
    Entry(
      "cdc_ivm_join",
      (s, dir) => {
        val orders = Tables(s, dir, "orders")
          .select(col("o_custkey").as("custkey"), col("o_orderkey"),
            col("o_totalprice"))
        val cust = Tables(s, dir, "customer")
          .select(col("c_custkey").as("custkey"), col("c_mktsegment"))
        val aOld = orders.filter(col("o_orderkey") % 10 =!= 9)
        val dA = orders.filter(col("o_orderkey") % 10 === 9)
          .withColumn("sign", lit(1L))
          .unionByName(aOld.filter(col("o_orderkey") % 100 === 7)
            .withColumn("sign", lit(-1L)))
        val changed = cust.filter(col("custkey") % 50 === 3)
        val dB = changed.withColumn("sign", lit(-1L))
          .unionByName(changed
            .withColumn("c_mktsegment", lit("REASSIGNED"))
            .withColumn("sign", lit(1L)))
        val view = aOld.join(cust, Seq("custkey"))
        IncrementalFinal
          .maintainJoin(view, aOld, cust, dA, dB, Seq("custkey"))
          .orderBy("o_orderkey")
      },
      Some("""WITH a AS (
                SELECT o_custkey AS custkey, o_orderkey, o_totalprice
                FROM orders
                WHERE (o_orderkey % 10 = 9)
                   OR (o_orderkey % 10 != 9 AND o_orderkey % 100 != 7)),
              b AS (
                SELECT c_custkey AS custkey,
                       CASE WHEN c_custkey % 50 = 3 THEN 'REASSIGNED'
                            ELSE c_mktsegment END AS c_mktsegment
                FROM customer)
              SELECT custkey, o_orderkey, o_totalprice, c_mktsegment
              FROM a JOIN b USING (custkey)
              ORDER BY o_orderkey""")),

    // ⊕ MIN/MAX IVM — the aggregate that is NOT self-maintainable
    // under retraction, gated as its full protocol: maintain what the
    // algebra can (inserts only improve extremes), flag keys whose
    // retracted values touched an extreme as DIRTY, then rescan base
    // rows for the dirty keys ONLY (semi-join probe, Δ-proportional)
    // and prove the composed result ≡ a full recompute over the
    // post-change rows. `was_dirty` is emitted so the oracle also
    // pins WHICH keys took the rescan path — the protocol, not just
    // the answer.
    Entry(
      "cdc_ivm_minmax",
      (s, dir) => {
        val ev = Tables(s, dir, "events")
          .select(col("event_type"), col("event_id"), vMicro)
        val (base, delta) = changelog(ev)
        val baseMm = base.groupBy("event_type")
          .agg(min(col("v_micro")).as("min_v"), max(col("v_micro")).as("max_v"))
        val m = IncrementalFinal.maintainMinMax(baseMm, delta,
          Seq("event_type"), valueCol = "v_micro")
        val clean = m.filter(!col("dirty"))
          .select(col("event_type"), col("min_v"), col("max_v"),
            col("dirty").as("was_dirty"))
        val rescan = postChange(ev)
          .join(m.filter(col("dirty")).select("event_type"),
            Seq("event_type"), "left_semi")
          .groupBy("event_type")
          .agg(min(col("v_micro")).as("min_v"), max(col("v_micro")).as("max_v"))
          .withColumn("was_dirty", lit(true))
        clean.unionByName(rescan)
          .select(col("event_type"),
            (col("min_v").cast(DoubleType) / lit(1e6)).as("min_value"),
            (col("max_v").cast(DoubleType) / lit(1e6)).as("max_value"),
            col("was_dirty"))
          .orderBy("event_type")
      },
      Some("""WITH ev AS (
                SELECT event_type, event_id,
                       CAST(FLOOR(value * 1e6) AS BIGINT) AS v
                FROM events),
              base AS (SELECT * FROM ev WHERE event_id % 10 != 9),
              post AS (
                SELECT * FROM ev
                WHERE (event_id % 10 = 9)
                   OR (event_id % 10 != 9 AND event_id % 7 != 0)),
              bmm AS (
                SELECT event_type, MIN(v) AS bmin, MAX(v) AS bmax
                FROM base GROUP BY 1),
              dels AS (
                SELECT event_type, MIN(v) AS dmin, MAX(v) AS dmax
                FROM base WHERE event_id % 7 = 0 GROUP BY 1),
              dirty AS (
                SELECT b.event_type,
                       COALESCE(d.dmin <= b.bmin OR d.dmax >= b.bmax,
                                FALSE) AS was_dirty
                FROM bmm b LEFT JOIN dels d USING (event_type))
              SELECT p.event_type,
                     CAST(MIN(p.v) AS DOUBLE) / 1e6 AS min_value,
                     CAST(MAX(p.v) AS DOUBLE) / 1e6 AS max_value,
                     -- LEFT join: a type living only in delta inserts
                     -- has no base row, and the maintenance side emits
                     -- it CLEAN (extremes of its inserts) — the oracle
                     -- must model the new-key path too
                     COALESCE(dirty.was_dirty, FALSE) AS was_dirty
              FROM post p LEFT JOIN dirty USING (event_type)
              GROUP BY p.event_type, dirty.was_dirty
              ORDER BY p.event_type""")),

    // ⊕ distinct-license SATURATION telemetry (VERDICT r17 item 5):
    // verifiedDistinctLicense refuses registration when a grain
    // saturates, but at 100 TB the operational risk is the license
    // silently expiring BETWEEN builds — this report publishes, per
    // report key over the a29 sketch grain (type × day, k = 64): cell
    // count, the fullest cell's distinct-hash count, its ppm fill of
    // k, the minimum margin to the k boundary, a saturated flag
    // (license (a) tripwire) and a per-cell injectivity flag (license
    // (b) tripwire). Exact integer arithmetic over the replayable
    // 48-bit md5 family end-to-end, so the gate hashes the whole
    // report; DistinctOverlapSpec drives the operator across the
    // boundary itself with planted exactly-k / k+1 fixtures. Cost: one
    // base pass + a |cells|-row rollup — rides the sketch build's scan.
    Entry(
      "cdc_distinct_license_report",
      (s, dir) => IncrementalFinal.distinctLicenseReport(
          Tables(s, dir, "events")
            .select(col("event_type"), to_date(col("ts")).as("day"),
              col("user_id")),
          Seq("event_type"), Seq("day"), "user_id", 64)
        .orderBy("event_type"),
      Some(s"""WITH h AS (
                 SELECT event_type, CAST(ts AS DATE) AS day, user_id,
                        ${graft.functions.Kmv.hashDuckSql("user_id")} AS __h
                 FROM events WHERE user_id IS NOT NULL),
               cells AS (
                 SELECT event_type, day,
                        CAST(COUNT(DISTINCT __h) AS BIGINT) AS ndh,
                        CAST(COUNT(DISTINCT user_id) AS BIGINT) AS ndv
                 FROM h GROUP BY 1, 2)
               SELECT event_type,
                      CAST(COUNT(*) AS BIGINT) AS n_cells,
                      CAST(MAX(ndh) AS BIGINT) AS max_fill,
                      CAST((MAX(ndh) * 1000000) // 64 AS BIGINT)
                        AS max_fill_ppm,
                      CAST(MIN(64 - ndh) AS BIGINT) AS min_margin,
                      MAX(ndh) > 64 AS saturated,
                      MIN(CASE WHEN ndh = ndv THEN 1 ELSE 0 END) = 1
                        AS injective_cells
               FROM cells GROUP BY 1 ORDER BY event_type""")),

    // ⊕ DISTINCT-set IVM — the other aggregate that is NOT
    // self-maintainable under retraction (a distinct set carries no
    // multiplicities, so "was that the value's last copy?" is
    // undecidable from state), gated as its full dirty-key protocol
    // like cdc_ivm_minmax: insert-only grains fold their hash-set
    // union EXACTLY (set union commutes with recomputation); grains
    // with any retraction go dirty and rescan base rows for those keys
    // only. Deletes deliberately target TWO of the five types, so both
    // the clean fold path and the dirty rescan path are exercised and
    // the oracle pins WHICH keys took which path. Counts are distinct
    // 48-bit md5 hashes ≡ distinct values on this data (the license
    // cdc_mv_routed_distinct verifies); the oracle counts raw values.
    Entry(
      "cdc_ivm_distinct",
      (s, dir) => {
        val ev = Tables(s, dir, "events")
          .select(col("event_type"), col("event_id"), col("user_id"))
        val base = ev.filter(col("event_id") % 10 =!= 9)
        val baseSk = graft.functions.Kmv.withHash(base, "user_id", "__h")
          .groupBy("event_type")
          .agg(expr("array_sort(collect_set(__h))").as("kmv"))
        val del = base.filter(col("event_id") % 7 === 0 &&
          col("event_type").isin("click", "error"))
        val delta = ev.filter(col("event_id") % 10 === 9)
          .withColumn("sign", lit(1L))
          .unionByName(del.withColumn("sign", lit(-1L)))
        val m = IncrementalFinal.maintainDistinct(baseSk, delta,
          Seq("event_type"), sketchCol = "kmv", valueCol = "user_id")
        val post = ev.filter((col("event_id") % 10 === 9) ||
          (col("event_id") % 10 =!= 9 &&
            !(col("event_id") % 7 === 0 &&
              col("event_type").isin("click", "error"))))
        val clean = m.filter(!col("dirty"))
          .select(col("event_type"),
            size(col("kmv")).cast(LongType).as("n_users"),
            col("dirty").as("was_dirty"))
        val rescan = graft.functions.Kmv.withHash(post, "user_id", "__h")
          .join(m.filter(col("dirty")).select("event_type"),
            Seq("event_type"), "left_semi")
          .groupBy("event_type")
          .agg(countDistinct(col("__h")).cast(LongType).as("n_users"))
          .withColumn("was_dirty", lit(true))
        clean.unionByName(rescan).orderBy("event_type")
      },
      Some("""WITH post AS (
                SELECT event_type, user_id FROM events
                WHERE (event_id % 10 = 9)
                   OR (event_id % 10 != 9 AND NOT (event_id % 7 = 0
                       AND event_type IN ('click', 'error')))),
              dels AS (
                SELECT DISTINCT event_type FROM events
                WHERE event_id % 10 != 9 AND event_id % 7 = 0
                  AND event_type IN ('click', 'error'))
              SELECT p.event_type,
                     CAST(COUNT(DISTINCT p.user_id) AS BIGINT) AS n_users,
                     (d.event_type IS NOT NULL) AS was_dirty
              FROM post p LEFT JOIN dels d USING (event_type)
              GROUP BY p.event_type, d.event_type
              ORDER BY p.event_type""")),

    // ⊕ HISTOGRAM IVM — the percentile store (a30) maintained through a
    // signed changelog, completing the capability triptych: count/sum
    // (cdc_ivm_agg) and bucket-count histograms are SELF-maintainable
    // (a bucket count is just a count at the (key, bucket) grain, so
    // retractions fold exactly — no dirty protocol), while extremes
    // (cdc_ivm_minmax) and distinct sets (cdc_ivm_distinct) need the
    // dirty-key rescan. The fold reuses maintainAggregate verbatim at
    // the finer grain; the percentile readout (integer rank math,
    // cum·100 ≥ N·q) runs over the MAINTAINED state and the oracle
    // recomputes from the post-change rows — one hash proves
    // fold ≡ recompute through the whole histogram → percentile chain.
    // At 100 TB: refresh cost |Δ| + a |keys×buckets| join; percentile
    // serving never reopens raw data.
    Entry(
      "cdc_ivm_histogram",
      (s, dir) => {
        val (base, delta) = changelog(Tables(s, dir, "events")
          .filter(col("value").isNotNull)
          .select(col("event_type"), col("event_id"),
            expr(MicroGrid.sparkSql).as("bucket")))
        val baseHist = base.groupBy("event_type", "bucket").agg(
          count(lit(1)).as("cnt"),
          count(col("bucket")).as("n_nonnull"),
          sum(col("bucket")).as("sum_micro"))
        val maintained = IncrementalFinal.maintainAggregate(baseHist,
          delta.withColumn("v_micro", col("bucket")), Seq("event_type", "bucket"))
        MicroGrid.percentiles(maintained, "event_type", n = "cnt")
          .orderBy("event_type")
      },
      Some(s"""WITH post AS (
                SELECT event_type,
                       ${MicroGrid.duckSql}
                         AS bucket
                FROM events
                WHERE value IS NOT NULL
                  AND ((event_id % 10 = 9)
                    OR (event_id % 10 != 9 AND event_id % 7 != 0))),
              hist AS (
                SELECT event_type, bucket, CAST(COUNT(*) AS BIGINT) AS n
                FROM post GROUP BY 1, 2),
              cum AS (
                SELECT event_type, bucket, n,
                       SUM(n) OVER (PARTITION BY event_type
                                    ORDER BY bucket) AS cum,
                       SUM(n) OVER (PARTITION BY event_type) AS tot
                FROM hist)
              SELECT event_type, CAST(MAX(tot) AS BIGINT) AS n_values,
                     CAST(MIN(CASE WHEN cum * 100 >= tot * 50
                                   THEN bucket END) * 10 AS BIGINT)
                       AS p50_lo,
                     CAST(MIN(CASE WHEN cum * 100 >= tot * 95
                                   THEN bucket END) * 10 AS BIGINT)
                       AS p95_lo
              FROM cum GROUP BY event_type
              ORDER BY event_type""")),

    // ⊕ LEFT-join IVM — the transition case the inner rule can't
    // express: customers for a slice of orders are MISSING from the
    // base (null-extended rows), the batch inserts some of them (first
    // match appears → the null-extended tuple must retract) and
    // deletes others (last match gone → it must reappear), while
    // orders also arrive and retract. Maintained via the
    // affected-keys algebra (IncrementalFinal.maintainLeftJoin: ΔN
    // computed over keys(ΔA) ∪ keys(ΔB) only — semi-join probes into
    // the bases, nothing re-joins base against base); oracle re-LEFT-
    // joins the post-change bases from scratch.
    Entry(
      "cdc_ivm_left_join",
      (s, dir) => {
        val orders = Tables(s, dir, "orders")
          .select(col("o_custkey").as("custkey"), col("o_orderkey"),
            col("o_totalprice"))
        val cust = Tables(s, dir, "customer")
          .select(col("c_custkey").as("custkey"), col("c_mktsegment"))
        val aOld = orders.filter(col("o_orderkey") % 10 =!= 9)
        val dA = orders.filter(col("o_orderkey") % 10 === 9)
          .withColumn("sign", lit(1L))
          .unionByName(aOld.filter(col("o_orderkey") % 100 === 7)
            .withColumn("sign", lit(-1L)))
        val bOld = cust.filter(col("custkey") % 40 =!= 1)
        val dB = cust.filter(col("custkey") % 40 === 1)
          .withColumn("sign", lit(1L))             // first match appears
          .unionByName(bOld.filter(col("custkey") % 50 === 3)
            .withColumn("sign", lit(-1L)))         // last match vanishes
        val view = aOld.join(bOld, Seq("custkey"), "left")
        IncrementalFinal
          .maintainLeftJoin(view, aOld, bOld, dA, dB, Seq("custkey"))
          .orderBy("o_orderkey")
      },
      Some("""WITH a AS (
                SELECT o_custkey AS custkey, o_orderkey, o_totalprice
                FROM orders
                WHERE (o_orderkey % 10 = 9)
                   OR (o_orderkey % 10 != 9 AND o_orderkey % 100 != 7)),
              b AS (
                SELECT c_custkey AS custkey, c_mktsegment
                FROM customer
                WHERE (c_custkey % 40 = 1)
                   OR (c_custkey % 40 != 1 AND c_custkey % 50 != 3))
              SELECT custkey, o_orderkey, o_totalprice, c_mktsegment
              FROM a LEFT JOIN b USING (custkey)
              ORDER BY o_orderkey""")),

    // ⊕ backfill planner: source partitions (event days) minus the
    // target's existing partitions (a deterministic hole rule stands in
    // for the target listing), grouped into CONTIGUOUS date ranges via
    // gaps-and-islands (day − row_number collapses a run to one group
    // key) — a backfill scheduler wants "3 ranges of N days", never a
    // day-per-job list. |distinct days| rows after the first distinct:
    // every step downstream is partition-metadata-sized at any corpus
    // scale.
    Entry(
      "cdc_backfill_plan",
      (s, dir) => {
        import org.apache.spark.sql.expressions.Window
        val days = Tables(s, dir, "events")
          .filter(col("ts").isNotNull)
          .select(to_date(col("ts")).as("day")).distinct()
        val missing = days.filter(
          dayofmonth(col("day")) >= 7 && dayofmonth(col("day")) % 7 <= 2)
        missing
          .withColumn("rn", row_number().over(Window.orderBy("day")))
          .withColumn("grp", date_sub(col("day"), col("rn")))
          .groupBy("grp")
          .agg(min(col("day")).as("backfill_start"),
            max(col("day")).as("backfill_end"),
            count(lit(1)).as("n_days"))
          .select("backfill_start", "backfill_end", "n_days")
          .orderBy("backfill_start")
      },
      Some("""WITH days AS (
                SELECT DISTINCT CAST(ts AS DATE) AS day
                FROM events WHERE ts IS NOT NULL),
              missing AS (
                SELECT day FROM days
                WHERE dayofmonth(day) >= 7 AND dayofmonth(day) % 7 <= 2),
              g AS (
                SELECT day,
                       CAST(day - ROW_NUMBER() OVER (ORDER BY day)
                            * INTERVAL 1 DAY AS DATE) AS grp
                FROM missing)
              SELECT MIN(day) AS backfill_start, MAX(day) AS backfill_end,
                     CAST(COUNT(*) AS BIGINT) AS n_days
              FROM g GROUP BY grp
              ORDER BY backfill_start""")),

    // ⊕ the MV loop closed end-to-end: IVM maintains the summary
    // (IncrementalFinal.maintainAggregate — the cdc_ivm_agg machinery),
    // MvRegistry registers it for the persisted base corpus, and the
    // returned query is a PLAIN aggregate over the BASE that
    // SummaryRewrite transparently re-plans onto the |keys|-row summary
    // (PlanSpec asserts the summary scan replaced the base scan). The
    // oracle recomputes from the raw rows — so this single gate proves
    // maintain ≡ recompute AND routed ≡ recompute in one answer. At
    // 100 TB: the query author writes groupBy over the corpus and pays
    // |keys| rows, with maintenance cost |Δ| per refresh.
    Entry(
      "cdc_mv_routed",
      (s, dir) => {
        val ev = Tables(s, dir, "events")
          .select(col("event_type"), col("event_id"), vMicro)
        val (baseRows, delta) = changelog(ev)
        // the registered BASE the query scans is the post-change corpus;
        // its summary is MAINTAINED from the pre-change aggregate + the
        // changelog — never recomputed from the corpus. Registration
        // stamps the base-version token: routing is now CONDITIONAL on
        // the summary being current — any later base write bails to
        // the corpus scan until re-registration
        val mv = routedMv(s, dir, "mv",
          postChange(ev).select("event_type", "v_micro"),
          summary = Some(IncrementalFinal.maintainAggregate(
            summarize(baseRows.groupBy("event_type")), delta,
            Seq("event_type"))))
        summarize(mv.corpus.groupBy("event_type"), avgMicro)
          .orderBy("event_type")
      },
      Some("""WITH base AS (
                SELECT event_type,
                       CAST(FLOOR(value * 1e6) AS BIGINT) AS v_micro
                FROM events
                WHERE (event_id % 10 = 9)
                   OR (event_id % 10 != 9 AND event_id % 7 != 0))
              SELECT event_type, CAST(COUNT(*) AS BIGINT) AS cnt,
                     CAST(COUNT(v_micro) AS BIGINT) AS n_nonnull,
                     CAST(SUM(v_micro) AS BIGINT) AS sum_micro,
                     AVG(v_micro) AS avg_micro
              FROM base GROUP BY 1 ORDER BY 1""")),

    // ⊕ the MV loop STREAMED end-to-end (VERDICT r15 task 3): the
    // events corpus arrives as three deterministic micro-batches
    // through StreamingMv.foldBatch — per batch the rows land as a
    // corpus partition, the +1 changelog folds into the
    // batchId-versioned summary (StreamingIvm's at-least-once-safe
    // protocol), and the summary re-registers with a fresh token. The
    // returned dashboard is a PLAIN aggregate over the corpus dir that
    // SummaryRewrite serves from the stream-maintained summary
    // (PlanSpec-asserted). The oracle recomputes from raw events, so
    // this one gate proves 3-batch fold ≡ recompute AND routed ≡
    // recompute over the streaming state. Re-running the entry
    // re-delivers every batch — idempotent by the versioned protocol,
    // which the gate therefore also exercises. At 100 TB: per batch
    // cost ∝ batch + |Δ keys|, dashboard cost |keys| — the corpus is
    // scanned by nobody.
    Entry(
      "cdc_mv_streamed",
      (s, dir) => {
        val cfg = StreamingMv.Config(Seq("k"))
        StreamingMv.dashboard(s, streamed(s, dir, "smv", cfg,
            Tables(s, dir, "events")
              .select(col("event_type").as("k"), vMicro, col("event_id"))),
          cfg).orderBy("k")
      },
      Some("""SELECT event_type AS k, CAST(COUNT(*) AS BIGINT) AS cnt,
                     CAST(COUNT(v_micro) AS BIGINT) AS n_nonnull,
                     CAST(SUM(v_micro) AS BIGINT) AS sum_micro,
                     AVG(v_micro) AS avg_micro
              FROM (SELECT event_type,
                           CAST(FLOOR(value * 1e6) AS BIGINT) AS v_micro
                    FROM events)
              GROUP BY 1 ORDER BY 1""")),

    // ⊕ the streamed MV loop maintaining the FULL aggregate surface:
    // same 3-batch fold as cdc_mv_streamed with extremes enabled —
    // MIN/MAX fold monotone under the loop's insert-only signs (the
    // fold would take a retraction exactly unless it touched its
    // grain's current extreme, or the grain had none stored, which
    // fails the fold; that repair is the
    // batch refreshSummary path, gated separately). The routed
    // dashboard serves count/sum/avg AND min/max from the
    // stream-maintained |keys|-row summary; the oracle recomputes all
    // six from raw events, so one hash certifies fold ≡ recompute ≡
    // routed across the whole surface.
    Entry(
      "cdc_mv_streamed_minmax",
      (s, dir) => {
        val cfg = StreamingMv.Config(Seq("k"), extremes = true)
        StreamingMv.dashboard(s, streamed(s, dir, "smvmm", cfg,
            Tables(s, dir, "events")
              .select(col("event_type").as("k"), vMicro, col("event_id"))),
          cfg).orderBy("k")
      },
      Some("""SELECT event_type AS k, CAST(COUNT(*) AS BIGINT) AS cnt,
                     CAST(COUNT(v_micro) AS BIGINT) AS n_nonnull,
                     CAST(SUM(v_micro) AS BIGINT) AS sum_micro,
                     AVG(v_micro) AS avg_micro,
                     MIN(v_micro) AS min_micro,
                     MAX(v_micro) AS max_micro
              FROM (SELECT event_type,
                           CAST(FLOOR(value * 1e6) AS BIGINT) AS v_micro
                    FROM events)
              GROUP BY 1 ORDER BY 1""")),

    // ⊕ the streamed MV loop maintaining a DISTINCT sketch: same
    // 3-batch fold with `distinctCol` set — per batch the user_id
    // hash-set union folds into the versioned summary (exact under the
    // loop's insert-only signs: set union commutes with recompute; any
    // retraction in a grain with a sketch fails the fold, batch-local
    // hash injectivity is asserted per fold), and the routed dashboard
    // serves COUNT(DISTINCT user_id) alongside count/sum/avg from the
    // |keys|-row stream-maintained summary. The oracle recomputes the
    // distinct count from raw events, so one hash certifies
    // stream-fold ≡ recompute ≡ routed for the aggregate plain
    // summaries can never serve. At 100 TB: per batch cost ∝ batch
    // hashes + |Δ keys| array unions; the dashboard's distinct-user
    // panel — the classic corpus-rescanner — reads |keys| rows.
    Entry(
      "cdc_mv_streamed_distinct",
      (s, dir) => {
        val cfg = StreamingMv.Config(Seq("k"),
          distinctCol = Some("user_id"))
        StreamingMv.dashboard(s, streamed(s, dir, "smvdx", cfg,
            Tables(s, dir, "events")
              .select(col("event_type").as("k"), vMicro, col("user_id"),
                col("event_id"))),
          cfg).orderBy("k")
      },
      Some("""SELECT event_type AS k, CAST(COUNT(*) AS BIGINT) AS cnt,
                     CAST(COUNT(v_micro) AS BIGINT) AS n_nonnull,
                     CAST(SUM(v_micro) AS BIGINT) AS sum_micro,
                     AVG(v_micro) AS avg_micro,
                     CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_distinct
              FROM (SELECT event_type, user_id,
                           CAST(FLOOR(value * 1e6) AS BIGINT) AS v_micro
                    FROM events)
              GROUP BY 1 ORDER BY 1""")),

    // ⊕ the streamed MV loop maintaining the PERCENTILE store (VERDICT
    // r17 item 3): the fixed-grid histogram is a COUNT summary at the
    // bucket-augmented grain — bucket is just another key column — so
    // the identical StreamingMv fold maintains it with zero new
    // machinery: per batch the (k, bucket) counts fold under the
    // batchId-versioned protocol and re-register for the corpus path.
    // The dashboard below is a30's readout tower (cum/tot windows +
    // integer rank math, cum·100 ≥ N·q) over a PLAIN (k, bucket) count
    // aggregate on the corpus dir; SummaryRewrite reroutes that inner
    // aggregate onto the |k×buckets|-row stream-maintained summary, so
    // the whole percentile panel — the reference's repeated monitoring
    // aggregate (SaveDelta.scala:236-242) — never reopens the stream's
    // corpus (PlanSpec pins the summary-only scan). The oracle
    // recomputes p50/p95 from raw events, so one hash proves 3-batch
    // fold ≡ recompute ≡ routed through the whole histogram →
    // percentile chain. Grid = a30's shifted v_micro DIV 10⁷ (positive
    // operand ⇒ DIV ≡ //). At 100 TB: per batch cost ∝ batch +
    // |Δ (k, bucket)| cells, dashboard cost |k×buckets| rows (bounded
    // by the fixed grid), corpus scanned by nobody.
    Entry(
      "cdc_mv_streamed_percentile",
      (s, dir) => {
        val state = streamed(s, dir, "smvpct",
          StreamingMv.Config(Seq("k", "bucket")),
          Tables(s, dir, "events").filter(col("value").isNotNull)
            .select(col("event_type").as("k"),
              expr(MicroGrid.sparkSql).as("bucket"), vMicro,
              col("event_id")))
        MicroGrid.percentiles(s.read.parquet(StreamingMv.docsDir(state))
            .groupBy("k", "bucket")
            .agg(count(lit(1)).as("n")), "k")
          .orderBy("k")
      },
      Some(s"""WITH ev AS (
                SELECT event_type AS k,
                       ${MicroGrid.duckSql} AS bucket
                FROM events WHERE value IS NOT NULL),
              h AS (
                SELECT k, bucket, CAST(COUNT(*) AS BIGINT) AS n
                FROM ev GROUP BY 1, 2),
              cum AS (
                SELECT k, bucket, n,
                       SUM(n) OVER (PARTITION BY k ORDER BY bucket) AS cum,
                       SUM(n) OVER (PARTITION BY k) AS tot
                FROM h),
              p AS (
                SELECT k, MAX(tot) AS nv,
                       MIN(CASE WHEN cum * 100 >= tot * 50
                                THEN bucket END) AS p50b,
                       MIN(CASE WHEN cum * 100 >= tot * 95
                                THEN bucket END) AS p95b
                FROM cum GROUP BY 1)
              SELECT k, CAST(nv AS BIGINT) AS n_values,
                     CAST(p50b * 10 AS BIGINT) AS p50_lo,
                     CAST(p95b * 10 AS BIGINT) AS p95_lo
              FROM p ORDER BY k""")),

    // ⊕ the dashboard TOP-K shape routed (VERDICT r15 task 4): the
    // reference's flagship panel — top-5 groups by count
    // (SaveDelta.scala:236-242, A2/O1) — is an aggregate + ORDER BY
    // aggregate output + LIMIT. SummaryRewrite rewrites the inner
    // Aggregate onto the |keys|-row summary (exprIds preserved, so the
    // Sort/Limit above re-resolve untouched) and the physical plan
    // stays TakeOrderedAndProject — per-partition k + a k-row driver
    // merge, now over |keys| summary rows instead of the corpus
    // (PlanSpec asserts both). Deterministic total order: cnt DESC then
    // event_type — the grain key breaks count ties.
    Entry(
      "cdc_mv_routed_topk",
      (s, dir) => routedMv(s, dir, "mvtopk", typeMicro(s, dir)).corpus
        .groupBy("event_type")
        .agg(count(lit(1)).as("cnt"),
          sum(col("v_micro")).as("sum_micro"))
        .orderBy(col("cnt").desc, col("event_type"))
        .limit(5),
      Some("""SELECT event_type, CAST(COUNT(*) AS BIGINT) AS cnt,
                     CAST(SUM(CAST(FLOOR(value * 1e6) AS BIGINT)) AS BIGINT) AS sum_micro
              FROM events GROUP BY 1
              ORDER BY cnt DESC, event_type LIMIT 5""")),

    // ⊕ the HAVING dashboard shape routed: aggregate + Filter on the
    // AGGREGATE OUTPUT (SQL HAVING). SummaryRewrite rewrites the inner
    // Aggregate onto the |keys|-row summary with exprIds preserved, so
    // the Filter above re-resolves untouched and evaluates per summary
    // row — zero base I/O (PlanSpec pins summary-only scan). The
    // predicate is pure integer arithmetic on the served count, so the
    // oracle replays it bit-exactly and it splits the groups
    // non-vacuously at any corpus size (mod-7 band, spec-pinned
    // non-vacuity on the fixture).
    Entry(
      "cdc_mv_routed_having",
      (s, dir) => routedMv(s, dir, "mvhav", typeMicro(s, dir)).corpus
        .groupBy("event_type")
        .agg(count(lit(1)).as("cnt"),
          sum(col("v_micro")).as("sum_micro"))
        .filter(col("cnt") % 7 < 4)
        .orderBy("event_type"),
      Some("""SELECT event_type, CAST(COUNT(*) AS BIGINT) AS cnt,
                     CAST(SUM(CAST(FLOOR(value * 1e6) AS BIGINT)) AS BIGINT) AS sum_micro
              FROM events GROUP BY 1
              HAVING (COUNT(*) % 7) < 4 ORDER BY event_type""")),

    // ⊕ the SHARE-OF-TOTAL dashboard shape routed: an unpartitioned
    // window above the aggregate (share = cnt·10⁶ ÷ Σcnt, integer
    // division both engines evaluate identically). The window is pure
    // post-processing over the aggregate OUTPUT — after routing it runs
    // over |keys| summary rows, not the corpus, which is why this is
    // the one place an empty partitionSpec is scale-safe (PlanSpec
    // allowlists it as aggregate-bounded and pins the summary-only
    // scan).
    Entry(
      "cdc_mv_routed_share",
      (s, dir) => routedMv(s, dir, "mvshare", typeMicro(s, dir)).corpus
        .groupBy("event_type")
        .agg(count(lit(1)).as("cnt"))
        .withColumn("share_ppm",
          expr("(cnt * 1000000) DIV SUM(cnt) OVER ()").cast(LongType))
        .orderBy("event_type"),
      // rule-6 cast discipline: SUM(BIGINT) widens to HUGEINT in DuckDB
      // and `//` inherits it; an uncast emit hash-diverges on harnesses
      // that render HUGEINT via decimal128. CAST pins int64 both sides.
      Some("""SELECT event_type, cnt,
                     CAST((cnt * 1000000) // SUM(cnt) OVER () AS BIGINT) AS share_ppm
              FROM (SELECT event_type, CAST(COUNT(*) AS BIGINT) AS cnt
                    FROM events GROUP BY 1)
              ORDER BY event_type""")),

    // ⊕ COUNT(DISTINCT) routing — the one dashboard aggregate that
    // still re-opened the corpus (VERDICT r16 item 3): the summary is
    // extended with a VERIFIED distinct-sketch column (the complete
    // distinct-hash set of user_id per grain — an unsaturated
    // functions.Kmv sketch) and SummaryRewrite serves
    // COUNT(DISTINCT user_id) as |∪ sketches|. The license is CHECKED
    // at build (IncrementalFinal.verifiedDistinctLicense: no grain
    // saturated + md5₄₈ injective on the observed values), never
    // assumed — an unlicensed build registers no distincts entry and
    // the query bails to the corpus scan rather than serve a wrong
    // count. The oracle is the PLAIN COUNT(DISTINCT) over raw rows, so
    // this one gate proves sketch-build ≡ routed-serve ≡ recompute.
    // At 100 TB the routed plan reads |keys| rows × (≤ k)-long arrays;
    // PlanSpec pins the summary-only scan.
    Entry(
      "cdc_mv_routed_distinct",
      (s, dir) => {
        val k = 16384
        val ev = Tables(s, dir, "events")
          .select(col("event_type"), col("user_id"), vMicro)
        routedMv(s, dir, "mvdistinct", ev,
            summary = Some(summarize(
              graft.functions.Kmv.withHash(ev, "user_id", "__h")
                .groupBy("event_type"),
              expr(graft.functions.Kmv.sketchSparkSql("__h", k))
                .as("kmv_user"))),
            more = licensedDistinct(ev, Seq("event_type"), k))
          .corpus
          .groupBy("event_type")
          .agg(count(lit(1)).as("cnt"),
            countDistinct(col("user_id")).as("n_users"))
          .orderBy("event_type")
      },
      Some("""SELECT event_type, CAST(COUNT(*) AS BIGINT) AS cnt,
                     CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users
              FROM events GROUP BY 1 ORDER BY event_type""")),

    // ⊕ PERCENTILE dashboard routing — the a30 histogram store made
    // TRANSPARENT: the per-(type, day, bucket) count summary registers
    // against the bucketed corpus, and the dashboard below is a PLAIN
    // p50/p95 readout over the BASE — inner aggregate at the
    // duplicate-free subset grain (type, bucket), cum/total windows
    // partitioned by type, integer rank math on top. SummaryRewrite
    // reroutes the inner aggregate onto the |cells|-row summary with
    // exprIds preserved, so the whole window+readout tower above
    // re-resolves untouched — the classic "percentile panels rescan
    // the corpus" dashboard reads |type×day×bucket| rows instead (the
    // windows are bounded per type by the fixed grid). The oracle
    // recomputes from raw events, so one hash proves store-build ≡
    // routed-readout ≡ recompute; PlanSpec pins the summary-only scan.
    Entry(
      "cdc_mv_routed_percentile",
      (s, dir) => {
        val ev = Tables(s, dir, "events").filter(col("value").isNotNull)
          .select(col("event_type"), to_date(col("ts")).as("day"),
            expr(MicroGrid.sparkSql)
              .as("bucket"))
        val mv = routedMv(s, dir, "mvpct", ev,
          at("event_type", "day", "bucket"),
          summary = Some(ev.groupBy("event_type", "day", "bucket")
            .agg(count(lit(1)).as("cnt"))))
        MicroGrid.percentiles(mv.corpus
            .groupBy("event_type", "bucket")
            .agg(count(lit(1)).as("n")), "event_type")
          .orderBy("event_type")
      },
      Some(s"""WITH ev AS (
                SELECT event_type,
                       ${MicroGrid.duckSql}
                         AS bucket
                FROM events WHERE value IS NOT NULL),
              h AS (
                SELECT event_type, bucket, CAST(COUNT(*) AS BIGINT) AS n
                FROM ev GROUP BY 1, 2),
              cum AS (
                SELECT event_type, bucket, n,
                       SUM(n) OVER (PARTITION BY event_type
                                    ORDER BY bucket) AS cum,
                       SUM(n) OVER (PARTITION BY event_type) AS tot
                FROM h),
              p AS (
                SELECT event_type, MAX(tot) AS nv,
                       MIN(CASE WHEN cum * 100 >= tot * 50
                                THEN bucket END) AS p50b,
                       MIN(CASE WHEN cum * 100 >= tot * 95
                                THEN bucket END) AS p95b
                FROM cum GROUP BY 1)
              SELECT event_type, CAST(nv AS BIGINT) AS n_values,
                     CAST(p50b * 10 AS BIGINT) AS p50_lo,
                     CAST(p95b * 10 AS BIGINT) AS p95_lo
              FROM p ORDER BY event_type""")),

    // ⊕ distinct ROLLUP routing — the persisted-reality form of the
    // sketch column: summaries live at a FINE grain (type × day, the
    // grain the daily maintenance loop writes), dashboards ask at a
    // COARSER one. COUNT(DISTINCT) cannot re-aggregate from per-cell
    // counts (distinct is not additive — THE reason plain rollup MVs
    // can't serve it); the sketch union CAN: the rewrite collects the
    // type's day-cell hash sets, flattens, dedups, sizes — exact under
    // the same verified license. This gate exercises the union-merge
    // across cells in the driver's hash check (the plain
    // cdc_mv_routed_distinct covers the single-cell case). At 100 TB:
    // |type×day| summary rows scanned, corpus opened by nobody.
    Entry(
      "cdc_mv_routed_distinct_rollup",
      (s, dir) => {
        val k = 16384
        val ev = Tables(s, dir, "events")
          .select(col("event_type"), to_date(col("ts")).as("day"),
            col("user_id"))
        routedMv(s, dir, "mvdxroll", ev, at("event_type", "day"),
            summary = Some(graft.functions.Kmv.withHash(ev, "user_id", "__h")
              .groupBy("event_type", "day").agg(
                count(lit(1)).as("cnt"),
                expr(graft.functions.Kmv.sketchSparkSql("__h", k))
                  .as("kmv_user"))),
            more = licensedDistinct(ev, Seq("event_type", "day"), k))
          .corpus
          .groupBy("event_type")
          .agg(count(lit(1)).as("cnt"),
            countDistinct(col("user_id")).as("n_users"))
          .orderBy("event_type")
      },
      Some("""SELECT event_type, CAST(COUNT(*) AS BIGINT) AS cnt,
                     CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users
              FROM events GROUP BY 1 ORDER BY event_type""")),

    // ⊕ star-join routing: the dashboard shape one notch wider than
    // cdc_mv_routed — a plain aggregate over `base ⋈ dim` (join key =
    // the summary grain) grouped by a DIM attribute. SummaryRewrite
    // re-plans the BASE side onto the |keys|-row summary and keeps the
    // dim join; the answer is exact for any dim multiplicity because
    // every served function is multiplicity-linear at the grain. The
    // oracle recomputes from raw rows, so this one gate proves
    // maintain ≡ recompute AND star-routed ≡ recompute. At 100 TB the
    // corpus is never opened: summary ⋈ dim is |keys| × |dim|-sized.
    Entry(
      "cdc_mv_routed_star",
      (s, dir) => {
        val ev = typeMicro(s, dir)
        val mv = routedMv(s, dir, "mvstar", ev, dim = Some(typeLenDim(ev)))
        summarize(mv.corpus.groupBy("type_len"), avgMicro)
          .orderBy("type_len")
      },
      Some("""WITH base AS (
                SELECT event_type,
                       CAST(FLOOR(value * 1e6) AS BIGINT) AS v_micro
                FROM events),
              dim AS (
                SELECT DISTINCT event_type AS k,
                       CAST(length(event_type) AS INTEGER) AS type_len
                FROM base)
              SELECT d.type_len, CAST(COUNT(*) AS BIGINT) AS cnt,
                     CAST(COUNT(b.v_micro) AS BIGINT) AS n_nonnull,
                     CAST(SUM(b.v_micro) AS BIGINT) AS sum_micro,
                     AVG(b.v_micro) AS avg_micro
              FROM base b JOIN dim d ON b.event_type = d.k
              GROUP BY 1 ORDER BY 1""")),

    // ⊕ the FULL dashboard stack composed over one routed aggregate:
    // base ⋈ dim (star), GROUP BY dim attribute, HAVING on the count,
    // ORDER BY the count, LIMIT — every post-aggregate shape this
    // round and the star rewrite in a single plan. SummaryRewrite
    // replaces only the base side; the dim join, the Filter, the Sort
    // and the Limit all re-resolve over the |keys|-row rewrite
    // (PlanSpec pins summary-scanned + base-unscanned + the top-k
    // physical operator). This is the query a BI tool actually emits.
    Entry(
      "cdc_mv_routed_dashboard",
      (s, dir) => {
        val ev = typeMicro(s, dir)
        routedMv(s, dir, "mvdash", ev, dim = Some(typeLenDim(ev))).corpus
          .groupBy("type_len")
          .agg(count(lit(1)).as("cnt"),
            sum(col("v_micro")).as("sum_micro"))
          .filter(col("cnt") % 5 < 3)
          .orderBy(col("cnt").desc, col("type_len"))
          .limit(3)
      },
      Some("""WITH base AS (
                SELECT event_type,
                       CAST(FLOOR(value * 1e6) AS BIGINT) AS v_micro
                FROM events),
              dim AS (
                SELECT DISTINCT event_type AS k,
                       CAST(length(event_type) AS INTEGER) AS type_len
                FROM base)
              SELECT d.type_len, CAST(COUNT(*) AS BIGINT) AS cnt,
                     CAST(SUM(b.v_micro) AS BIGINT) AS sum_micro
              FROM base b JOIN dim d ON b.event_type = d.k
              GROUP BY 1
              HAVING (COUNT(*) % 5) < 3
              ORDER BY cnt DESC, type_len LIMIT 3""")),

    // ⊕ rollup routing: GROUP BY f(grain) through the summary — the
    // time-series dashboard shape. The summary is maintained at DAY
    // grain; the query groups the BASE corpus by MONTH (substring of
    // the day string), and SummaryRewrite substitutes the analyzer's
    // extracted grouping expression back to the grain column, routes
    // to the |days|-row summary, and re-aggregates under the same
    // expression. Oracle recomputes from raw events. At 100 TB this is
    // the difference between scanning the event corpus and scanning
    // one row per day.
    Entry(
      "cdc_mv_routed_rollup",
      (s, dir) => {
        val mv = routedMv(s, dir, "mvroll", Tables(s, dir, "events")
          .where(col("ts").isNotNull)
          .select(date_format(col("ts"), "yyyy-MM-dd").as("day"), vMicro),
          at("day"))
        // week-of-month: a non-trivial f(grain) at this corpus's one-
        // month span (month rollup would collapse to a single group)
        summarize(mv.corpus
            .groupBy(expr("substring(day, 1, 7)").as("month"),
              expr("CAST((CAST(substring(day, 9, 2) AS INT) - 1) DIV 7 AS INT)")
                .as("wk")), avgMicro)
          .orderBy("month", "wk")
      },
      Some("""WITH base AS (
                SELECT strftime(ts, '%Y-%m-%d') AS day,
                       CAST(FLOOR(value * 1e6) AS BIGINT) AS v_micro
                FROM events WHERE ts IS NOT NULL)
              SELECT substring(day, 1, 7) AS month,
                     CAST((CAST(substring(day, 9, 2) AS INTEGER) - 1) // 7
                       AS INTEGER) AS wk,
                     CAST(COUNT(*) AS BIGINT) AS cnt,
                     CAST(COUNT(v_micro) AS BIGINT) AS n_nonnull,
                     CAST(SUM(v_micro) AS BIGINT) AS sum_micro,
                     AVG(v_micro) AS avg_micro
              FROM base GROUP BY 1, 2 ORDER BY 1, 2""")),

    // ⊕ the stale→refresh→re-route cycle end-to-end: register a fresh
    // summary, APPEND to the base (routing now bails on the changed
    // version token — never stale-serving), then repair with
    // IncrementalFinal.refreshSummary: ONE operation that folds the
    // append's changelog into the summary (Δ-proportional, base never
    // rescanned), persists a new summary version, and re-stamps the
    // token so routing resumes. The returned aggregate routes to the
    // REFRESHED summary (PlanSpec asserts the version-suffixed path is
    // the one scanned); the oracle recomputes from raw rows, so the
    // gate proves fold ≡ recompute through the full repair cycle.
    // (Reference analog: the daily join_tables rerun,
    // airflow/dags/rewrite_delta_dag.py:27-53 — a from-scratch daily
    // rebuild; here the repair touches |Δ| + |keys| rows.)
    Entry(
      "cdc_mv_refresh",
      (s, dir) => {
        val ev = Tables(s, dir, "events")
          .select(col("event_type"), col("event_id"), vMicro)
        val mv = routedMv(s, dir, "mvrefresh",
          ev.filter(col("event_id") % 10 =!= 9).select("event_type", "v_micro"))
        // the later base write that makes the registration stale
        val appendRows = ev.filter(col("event_id") % 10 === 9)
          .select("event_type", "v_micro")
        appendRows.write.mode("append").parquet(mv.base)
        // the one-call repair: fold the append's changelog, re-stamp
        IncrementalFinal.refreshSummary(s, mv.registered, mv.summary,
          appendRows.withColumn("sign", lit(1L)), Seq("event_type"))
        summarize(mv.corpus.groupBy("event_type"), avgMicro)
          .orderBy("event_type")
      },
      Some("""WITH base AS (
                SELECT event_type,
                       CAST(FLOOR(value * 1e6) AS BIGINT) AS v_micro
                FROM events)
              SELECT event_type, CAST(COUNT(*) AS BIGINT) AS cnt,
                     CAST(COUNT(v_micro) AS BIGINT) AS n_nonnull,
                     CAST(SUM(v_micro) AS BIGINT) AS sum_micro,
                     AVG(v_micro) AS avg_micro
              FROM base GROUP BY 1 ORDER BY 1""")),

    // ⊕ multi-rollup routing: a base keeps TWO maintained summaries
    // (day grain for time series, type grain for breakdowns) —
    // registered under the same base path, keyed by grain. The
    // returned type-grain query must route THROUGH the type summary
    // even though the day summary is registered first (the rewrite
    // tries each and takes the smallest that provably serves; the
    // day-grain attempt bails on the grouping check). PlanSpec asserts
    // the /type summary is the scanned relation; the oracle recomputes
    // from raw rows.
    Entry(
      "cdc_mv_routed_multi",
      (s, dir) => {
        val mv = routedMv(s, dir, "mvmulti", Tables(s, dir, "events")
            .where(col("ts").isNotNull)
            .select(col("event_type"),
              date_format(col("ts"), "yyyy-MM-dd").as("day"), vMicro),
          Seq("day" -> Seq("day"), "type" -> Seq("event_type")))
        summarize(mv.corpus.groupBy("event_type"), avgMicro)
          .orderBy("event_type")
      },
      Some("""WITH base AS (
                SELECT event_type,
                       CAST(FLOOR(value * 1e6) AS BIGINT) AS v_micro
                FROM events WHERE ts IS NOT NULL)
              SELECT event_type, CAST(COUNT(*) AS BIGINT) AS cnt,
                     CAST(COUNT(v_micro) AS BIGINT) AS n_nonnull,
                     CAST(SUM(v_micro) AS BIGINT) AS sum_micro,
                     AVG(v_micro) AS avg_micro
              FROM base GROUP BY 1 ORDER BY 1""")),

    // ⊕ LEFT-join star routing: the reference's OWN flagship batch
    // aggregate is a LEFT join (read_delta.py:285 — employees LEFT JOIN
    // the activity rollup), and until r15 any left join bailed to the
    // corpus scan. With the base on the LEFT and a grain-bound key,
    // null extension preserves the routing invariant (each unmatched
    // grain's multiplicity is exactly 1 — still grain-constant, and the
    // dim columns null-extend identically in both plans), so the whole
    // served fold grammar carries over. The dim here covers only the
    // even-length type names: click/error rows have NO dim match and
    // land in the COALESCEd -1 group — the oracle recomputes the same
    // left join from raw rows, so the gate proves routed ≡ recompute
    // INCLUDING the null-extended group. PlanSpec asserts the summary
    // replaced the base scan while the dim join survived.
    Entry(
      "cdc_mv_routed_left",
      (s, dir) => {
        val ev = typeMicro(s, dir)
        // the dim misses the odd-length type names on purpose: the
        // left join's null extension must survive the rewrite
        val mv = routedMv(s, dir, "mvleft", ev,
          dim = Some(typeLenDim(ev, evenOnly = true)), dimJoin = "left")
        summarize(mv.corpus.groupBy("type_len"), avgMicro)
          // the COALESCE sits ABOVE the aggregate (outside the rewritten
          // subtree): deterministic output without a null sort-order
          // dependency between the two engines
          .select(coalesce(col("type_len"), lit(-1)).as("type_len"),
            col("cnt"), col("n_nonnull"), col("sum_micro"),
            col("avg_micro"))
          .orderBy("type_len")
      },
      Some("""WITH base AS (
                SELECT event_type,
                       CAST(FLOOR(value * 1e6) AS BIGINT) AS v_micro
                FROM events),
              dim AS (
                SELECT DISTINCT event_type AS k,
                       CAST(length(event_type) AS INTEGER) AS type_len
                FROM base WHERE length(event_type) % 2 = 0)
              SELECT COALESCE(d.type_len, -1) AS type_len,
                     CAST(COUNT(*) AS BIGINT) AS cnt,
                     CAST(COUNT(b.v_micro) AS BIGINT) AS n_nonnull,
                     CAST(SUM(b.v_micro) AS BIGINT) AS sum_micro,
                     AVG(b.v_micro) AS avg_micro
              FROM base b LEFT JOIN dim d ON b.event_type = d.k
              GROUP BY d.type_len ORDER BY 1""")),

    // ⊕ retraction-safe extremes through the refresh cycle: the summary
    // serves MIN/MAX, and the base write DELETES every per-type maximum
    // — the one change (key, min, max) state alone cannot repair.
    // refreshSummary folds the retraction changelog, maintainMinMax
    // marks exactly the extreme-losing grains DIRTY, and a targeted
    // rescan of those grains' base rows (semi-join pruned — untouched
    // grains never read) repairs the extremes, which STAY ROUTED: the
    // returned MIN/MAX query reads the refreshed summary version, never
    // the corpus (PlanSpec-asserted). The oracle recomputes the same
    // delete from raw rows — fold + dirty-rescan ≡ recompute. Before
    // r15 any retraction dropped the extreme registrations (correct but
    // deletion-heavy CDC feeds silently lost extreme routing).
    Entry(
      "cdc_mv_refresh_retraction",
      (s, dir) => {
        val ev = typeMicro(s, dir)
        def extremes = Seq(min(col("v_micro")).as("min_micro"),
          max(col("v_micro")).as("max_micro"))
        val mv = routedMv(s, dir, "mvretr", ev,
          summary = Some(summarize(ev.groupBy("event_type"), extremes: _*)),
          more = _.copy(mins = Map("v_micro" -> "min_micro"),
            maxs = Map("v_micro" -> "max_micro")))
        // the base write: delete every row holding its type's CURRENT
        // maximum (ties included — the retraction the summary's stored
        // max cannot survive without a rescan). Retraction set and
        // post-delete corpus are materialized EAGERLY before the
        // in-place overwrite (lineage must not reach back into the
        // files being replaced — mergeChangeset's rule).
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy("event_type")
        val v1 = s.read.parquet(mv.base)
          .withColumn("_mx", max(col("v_micro")).over(w))
        val retracted = Materialize(v1.filter(col("v_micro") === col("_mx"))
          .select("event_type", "v_micro"))
        val v2 = Materialize(v1
          .filter(col("v_micro").isNull || col("v_micro") < col("_mx"))
          .select("event_type", "v_micro"))
        v2.write.mode("overwrite").parquet(mv.base)
        // ONE repair call: fold the retraction changelog, dirty-rescan
        // the extreme-losing grains, re-stamp — extremes stay routed
        IncrementalFinal.refreshSummary(s, mv.registered, mv.summary,
          retracted.withColumn("sign", lit(-1L)), Seq("event_type"))
        summarize(mv.corpus.groupBy("event_type"), avgMicro +: extremes: _*)
          .orderBy("event_type")
      },
      Some("""WITH v1 AS (
                SELECT event_type,
                       CAST(FLOOR(value * 1e6) AS BIGINT) AS v_micro
                FROM events),
              mx AS (
                SELECT event_type, MAX(v_micro) AS m FROM v1 GROUP BY 1),
              base AS (
                SELECT v1.event_type, v1.v_micro
                FROM v1 JOIN mx ON v1.event_type = mx.event_type
                WHERE v1.v_micro IS NULL OR v1.v_micro < mx.m)
              SELECT event_type, CAST(COUNT(*) AS BIGINT) AS cnt,
                     CAST(COUNT(v_micro) AS BIGINT) AS n_nonnull,
                     CAST(SUM(v_micro) AS BIGINT) AS sum_micro,
                     AVG(v_micro) AS avg_micro,
                     CAST(MIN(v_micro) AS BIGINT) AS min_micro,
                     CAST(MAX(v_micro) AS BIGINT) AS max_micro
              FROM base GROUP BY 1 ORDER BY 1"""))
  )
}
