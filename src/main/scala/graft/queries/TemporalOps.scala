package graft.queries

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, DoubleType, LongType}

import graft.core.Tables
import graft.operators.{AsOfJoin, RangeJoin}

/** Temporal join inventory (⊕ beyond reference parity): AS-OF and range
  * joins over `events` — the two operators the builder prompt names as
  * missing from stock Spark, both oracle-checked against DuckDB's native
  * `ASOF JOIN` / inequality join.
  */
object TemporalOps {

  val entries: Seq[Entry] = Seq(

    // For each purchase, the user's latest click at-or-before it.
    Entry(
      "t1_asof_join",
      (s, dir) => {
        val ev = Tables(s, dir, "events")
        val purchases = ev.filter(col("event_type") === "purchase")
        val clicks    = ev.filter(col("event_type") === "click")
        AsOfJoin.latestPrior(purchases, clicks, "user_id", "ts",
          leftCols = Seq("event_id"), rightCols = Seq("event_id"),
          rightTiebreak = "event_id")
          .select(col("user_id"), col("event_id").as("purchase_id"),
            col("asof_event_id").as("click_id"))
      },
      // correlated-subquery oracle rather than DuckDB's native ASOF:
      // same semantics, but with an explicit (ts DESC, event_id DESC)
      // tiebreak — ASOF picks an arbitrary row among equal-ts matches,
      // which would make the hash gate flaky if the fixture ever grew
      // tied click timestamps.
      Some("""SELECT p.user_id, p.event_id AS purchase_id,
                     (SELECT c.event_id FROM events c
                      WHERE c.event_type = 'click' AND c.user_id = p.user_id
                        AND c.ts <= p.ts
                      ORDER BY c.ts DESC, c.event_id DESC LIMIT 1) AS click_id
              FROM events p WHERE p.event_type = 'purchase'""")),

    // Same-user event pairs within 10 minutes of each other.
    Entry(
      "t2_range_join",
      (s, dir) => RangeJoin.withinGapPairs(
        Tables(s, dir, "events"), "user_id", "ts", "event_id",
        maxGapUs = 600L * 1000000L),
      Some("""SELECT a.user_id, a.event_id AS id_a, b.event_id AS id_b,
                     ABS(epoch_us(a.ts) - epoch_us(b.ts)) AS gap_us
              FROM events a JOIN events b
                ON a.user_id = b.user_id AND a.event_id < b.event_id
              WHERE ABS(epoch_us(a.ts) - epoch_us(b.ts)) <= 600000000""")),

    // ordered funnel view → click → purchase per user: greedy earliest
    // chain with strictly increasing ts. Spark side = ONE shuffle on
    // user_id + a per-user fold over sorted event structs; the oracle
    // states the identical semantics as chained MIN self-joins — the
    // independent relational formulation, not a transliteration.
    Entry(
      "t3_funnel",
      (s, dir) => graft.operators.Funnel.stages(
          Tables(s, dir, "events"), Seq("view", "click", "purchase"))
        .orderBy("user_id"),
      Some("""WITH v AS (
                SELECT user_id, MIN(ts) AS t1 FROM events
                WHERE event_type = 'view' GROUP BY 1),
              c AS (
                SELECT e.user_id, MIN(e.ts) AS t2 FROM events e
                JOIN v ON e.user_id = v.user_id AND e.ts > v.t1
                WHERE e.event_type = 'click' GROUP BY 1),
              p AS (
                SELECT e.user_id, MIN(e.ts) AS t3 FROM events e
                JOIN c ON e.user_id = c.user_id AND e.ts > c.t2
                WHERE e.event_type = 'purchase' GROUP BY 1),
              u AS (
                SELECT DISTINCT user_id FROM events
                WHERE event_type IN ('view', 'click', 'purchase'))
              SELECT u.user_id,
                     CAST(CASE WHEN p.user_id IS NOT NULL THEN 3
                               WHEN c.user_id IS NOT NULL THEN 2
                               WHEN v.user_id IS NOT NULL THEN 1
                               ELSE 0 END AS BIGINT) AS stage,
                     v.t1, c.t2, p.t3
              FROM u
                LEFT JOIN v ON u.user_id = v.user_id
                LEFT JOIN c ON u.user_id = c.user_id
                LEFT JOIN p ON u.user_id = p.user_id
              ORDER BY u.user_id""")),

    // weekly cohort retention: users grouped by the week of their first
    // event, counted distinct per week offset — the classic cohort
    // table. Week offsets via exact integer µs division (both sides
    // truncate to Monday-start weeks in pinned UTC, so gaps are exact
    // multiples of 604800e6 µs). Shape: one distinct shuffle on
    // (user, week), one per-user min, tiny cohort-grid aggregate.
    Entry(
      "t4_retention",
      (s, dir) => {
        val w = Tables(s, dir, "events")
          .select(col("user_id"), date_trunc("week", col("ts")).as("wk"))
          .distinct()
        val first = w.groupBy("user_id").agg(min(col("wk")).as("cohort_week"))
        w.join(first, "user_id")
          .select(col("cohort_week"),
            expr("(unix_micros(wk) - unix_micros(cohort_week)) DIV 604800000000")
              .as("week_offset"),
            col("user_id"))
          .groupBy("cohort_week", "week_offset")
          .agg(count_distinct(col("user_id")).cast(LongType).as("n_users"))
          .orderBy("cohort_week", "week_offset")
      },
      Some("""WITH w AS (
                -- DuckDB's date_trunc('week') yields a DATE; Spark's a
                -- timestamp — cast so the gate renders both identically
                SELECT DISTINCT user_id,
                       CAST(date_trunc('week', ts) AS TIMESTAMP) AS wk
                FROM events),
              f AS (SELECT user_id, MIN(wk) AS cohort_week FROM w GROUP BY 1)
              SELECT f.cohort_week,
                     (epoch_us(w.wk) - epoch_us(f.cohort_week)) // 604800000000
                       AS week_offset,
                     CAST(COUNT(DISTINCT w.user_id) AS BIGINT) AS n_users
              FROM w JOIN f ON w.user_id = f.user_id
              GROUP BY 1, 2 ORDER BY 1, 2""")),

    // funnel conversion report: per stage, users reaching it and the
    // fraction of entrants — the published artifact on top of t3's
    // per-user stages. The per-stage sweep explodes each user into the
    // stages they reached; the entrant denominator broadcasts (1 row).
    Entry(
      "t5_funnel_rates",
      (s, dir) => {
        val st = graft.operators.Funnel.stages(
          Tables(s, dir, "events"), Seq("view", "click", "purchase"))
        val counts = st
          .select(explode(sequence(lit(1L), lit(3L))).as("stage_n"), col("stage"))
          .groupBy("stage_n")
          .agg(sum(when(col("stage") >= col("stage_n"), 1L).otherwise(0L))
            .cast(LongType).as("n_users"))
        val entered = counts.filter(col("stage_n") === 1L)
          .select(col("n_users").as("entered"))
        counts.crossJoin(broadcast(entered))
          .select(col("stage_n"), col("n_users"),
            (col("n_users").cast("double") / col("entered").cast("double"))
              .as("frac"))
          .orderBy("stage_n")
      },
      Some("""WITH v AS (
                SELECT user_id, MIN(ts) AS t1 FROM events
                WHERE event_type = 'view' GROUP BY 1),
              c AS (
                SELECT e.user_id, MIN(e.ts) AS t2 FROM events e
                JOIN v ON e.user_id = v.user_id AND e.ts > v.t1
                WHERE e.event_type = 'click' GROUP BY 1),
              p AS (
                SELECT e.user_id, MIN(e.ts) AS t3 FROM events e
                JOIN c ON e.user_id = c.user_id AND e.ts > c.t2
                WHERE e.event_type = 'purchase' GROUP BY 1),
              u AS (
                SELECT DISTINCT user_id FROM events
                WHERE event_type IN ('view', 'click', 'purchase')),
              st AS (
                SELECT u.user_id,
                       CASE WHEN p.user_id IS NOT NULL THEN 3
                            WHEN c.user_id IS NOT NULL THEN 2
                            WHEN v.user_id IS NOT NULL THEN 1
                            ELSE 0 END AS stage
                FROM u
                  LEFT JOIN v ON u.user_id = v.user_id
                  LEFT JOIN c ON u.user_id = c.user_id
                  LEFT JOIN p ON u.user_id = p.user_id),
              ks AS (SELECT unnest(generate_series(1, 3)) AS stage_n),
              counts AS (
                SELECT ks.stage_n,
                       CAST(SUM(CASE WHEN st.stage >= ks.stage_n THEN 1 ELSE 0 END)
                         AS BIGINT) AS n_users
                FROM ks, st GROUP BY ks.stage_n)
              SELECT stage_n, n_users,
                     CAST(n_users AS DOUBLE) /
                       CAST((SELECT n_users FROM counts WHERE stage_n = 1) AS DOUBLE)
                       AS frac
              FROM counts ORDER BY stage_n""")),

    // last-touch attribution: each purchase credits the item of the
    // user's latest click at-or-before it (AS-OF join), then revenue
    // rolls up per item. Unattributed purchases land in the -1 bucket so
    // nothing silently drops and the sort key stays non-nullable.
    // Composition of t1's operator — one union'd window pass, one
    // aggregate; the oracle is the correlated-subquery formulation with
    // t1's explicit (ts DESC, event_id DESC) tiebreak. Revenue sums the
    // double `value` as floor-scaled BIGINT micro-points divided back to
    // DOUBLE (DECIMAL intermediates diverge across DuckDB versions via
    // the double→decimal cast — see text_bm25_topk).
    Entry(
      "t7_attribution",
      (s, dir) => {
        val ev = Tables(s, dir, "events")
          .select(col("user_id"), col("ts"), col("event_id"), col("event_type"),
            col("value"),
            get_json_object(col("props"), "$.k").cast(LongType).as("item"))
        val purchases = ev.filter(col("event_type") === "purchase")
        val clicks    = ev.filter(col("event_type") === "click")
        AsOfJoin.latestPrior(purchases, clicks, "user_id", "ts",
            leftCols = Seq("event_id", "value"), rightCols = Seq("item"),
            rightTiebreak = "event_id")
          .select(coalesce(col("asof_item"), lit(-1L)).as("item"), col("value"))
          .groupBy("item")
          .agg(count(lit(1)).as("n_purchases"),
            (sum(floor(col("value") * lit(1e6)).cast(LongType))
              .cast(DoubleType) / lit(1e6)).as("revenue"))
          .orderBy("item")
      },
      Some("""WITH ev AS (
                SELECT user_id, ts, event_id, event_type, value,
                       CAST(props->>'$.k' AS BIGINT) AS item
                FROM events),
              attr AS (
                SELECT COALESCE(
                         (SELECT c.item FROM ev c
                          WHERE c.event_type = 'click'
                            AND c.user_id = p.user_id AND c.ts <= p.ts
                          ORDER BY c.ts DESC, c.event_id DESC LIMIT 1),
                         -1) AS item,
                       p.value
                FROM ev p WHERE p.event_type = 'purchase')
              SELECT item, COUNT(*) AS n_purchases,
                     CAST(CAST(SUM(CAST(FLOOR(value * 1e6) AS BIGINT))
                               AS BIGINT) AS DOUBLE) / 1e6 AS revenue
              FROM attr GROUP BY item ORDER BY item""")),

    // ⊕ change-point detection: top-3 mean-shift split days of the
    // daily event-count series, scored by the exact scaled-integer
    // between-means gap (operators/Outliers.changePoints — the same
    // no-division discipline as the z² outlier test). The series is
    // days-sized before any window touches it; raw events contribute
    // one partial-agg scan.
    Entry(
      "t6_change_point",
      (s, dir) => {
        val daily = Tables(s, dir, "events")
          .filter(col("ts").isNotNull)
          .groupBy(to_date(col("ts")).as("day"))
          .agg(count(lit(1)).as("n"))
        graft.operators.Outliers.changePoints(daily, "day", "n", k = 3)
      },
      Some("""WITH daily AS (
                SELECT CAST(ts AS DATE) AS day, CAST(COUNT(*) AS BIGINT) AS v
                FROM events WHERE ts IS NOT NULL GROUP BY 1),
              ser AS (
                SELECT day AS split_at, v,
                       CAST(ROW_NUMBER() OVER (ORDER BY day) AS BIGINT) AS i,
                       CAST(SUM(v) OVER (ORDER BY day
                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                         AS BIGINT) AS s,
                       CAST(SUM(v) OVER () AS BIGINT) AS t,
                       CAST(COUNT(*) OVER () AS BIGINT) AS cnt
                FROM daily)
              SELECT split_at, i AS n_before, (cnt - i) AS n_after,
                     s AS sum_before, (t - s) AS sum_after,
                     (ABS(s * (cnt - i) - (t - s) * i) * 1000000)
                       // (i * (cnt - i)) AS score
              FROM ser WHERE i < cnt
              ORDER BY score DESC, split_at ASC LIMIT 3""")),

    // ⊕ first-order Markov transition matrix over per-user event-type
    // sequences — the sequence-model prior a behavioral pipeline trains
    // (and the input to next-event prediction baselines). One window
    // shuffle on user builds the (src, dst) stream; the matrix is
    // |types|² rows, so the row-probability window runs on a tiny
    // relation. P(dst|src) is an IEEE ratio of two exact counts —
    // deterministic on both engines.
    Entry(
      "t8_markov_transitions",
      (s, dir) => {
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy("user_id").orderBy(col("ts"), col("event_id"))
        Tables(s, dir, "events")
          .filter(col("user_id").isNotNull)
          .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
          .withColumn("dst_type", lead(col("event_type"), 1).over(w))
          .filter(col("dst_type").isNotNull)
          .groupBy(col("event_type").as("src_type"), col("dst_type"))
          .agg(count(lit(1)).as("n"))
          .withColumn("p", col("n").cast("double") /
            sum("n").over(org.apache.spark.sql.expressions.Window
              .partitionBy("src_type")).cast("double"))
          .orderBy("src_type", "dst_type")
      },
      Some("""WITH e AS (
                SELECT user_id, ts, event_id, event_type
                FROM events WHERE user_id IS NOT NULL),
              tr AS (
                SELECT event_type AS src_type,
                       LEAD(event_type) OVER (PARTITION BY user_id
                         ORDER BY ts, event_id) AS dst_type
                FROM e),
              c AS (
                SELECT src_type, dst_type, CAST(COUNT(*) AS BIGINT) AS n
                FROM tr WHERE dst_type IS NOT NULL GROUP BY 1, 2)
              SELECT src_type, dst_type, n,
                     CAST(n AS DOUBLE) /
                       CAST(SUM(n) OVER (PARTITION BY src_type) AS DOUBLE) AS p
              FROM c ORDER BY src_type, dst_type""")),

    // ⊕ OHLC bars: per user-day open/high/low/close of `value` — the
    // time-series downsampling every metrics store serves. ONE hash
    // aggregate, no window: open/close are argmin/argmax over the
    // lexicographic struct (ts, event_id, value) — first/last with a
    // total tiebreak — so the whole bar costs a single partial-agg
    // shuffle however many events a day holds. Values pass through
    // untouched (bit-exact doubles); the oracle states first/last as
    // QUALIFY row_number over the same total order.
    Entry(
      "t9_ohlc",
      (s, dir) => {
        val e = Tables(s, dir, "events")
          .filter(col("user_id").isNotNull && col("ts").isNotNull)
          .select(col("user_id"), to_date(col("ts")).as("day"),
            col("value"),
            struct(col("ts"), col("event_id"), col("value")).as("k"))
        e.groupBy("user_id", "day")
          .agg(
            min("k").getField("value").as("open"),
            max(col("value")).as("high"),
            min(col("value")).as("low"),
            max("k").getField("value").as("close"),
            count(lit(1)).as("n_events"))
          .orderBy("user_id", "day")
      },
      Some("""WITH e AS (
                SELECT user_id, CAST(ts AS DATE) AS day, ts, event_id, value
                FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL),
              o AS (
                SELECT user_id, day, value AS open FROM e
                QUALIFY ROW_NUMBER() OVER (PARTITION BY user_id, day
                  ORDER BY ts, event_id) = 1),
              c AS (
                SELECT user_id, day, value AS close FROM e
                QUALIFY ROW_NUMBER() OVER (PARTITION BY user_id, day
                  ORDER BY ts DESC, event_id DESC) = 1),
              hl AS (
                SELECT user_id, day, MAX(value) AS high, MIN(value) AS low,
                       CAST(COUNT(*) AS BIGINT) AS n_events
                FROM e GROUP BY 1, 2)
              SELECT user_id, day, open, high, low, close, n_events
              FROM hl JOIN o USING (user_id, day) JOIN c USING (user_id, day)
              ORDER BY user_id, day""")),

    // ⊕ gaps-and-islands on the calendar: each user's distinct active
    // days compressed to contiguous [start, end] runs — the classic
    // day − row_number() grouping key (consecutive days share it,
    // integer date arithmetic on both engines). The streak/coverage
    // report behind "active N days in a row", and the complement of
    // w2's timestamp-gap sessionization: islands quantize to DAYS, so
    // a 11:59 pm → 12:01 am pair stays one island however small the
    // gap, where a session would split on any 30-minute lull.
    Entry(
      "t11_activity_islands",
      (s, dir) => {
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy("user_id").orderBy("day")
        Tables(s, dir, "events")
          .filter(col("user_id").isNotNull && col("ts").isNotNull)
          .select(col("user_id"), to_date(col("ts")).as("day")).distinct()
          .withColumn("grp", date_sub(col("day"), row_number().over(w)))
          .groupBy("user_id", "grp")
          .agg(min("day").as("start_day"), max("day").as("end_day"),
            count(lit(1)).as("n_days"))
          .select("user_id", "start_day", "end_day", "n_days")
          .orderBy("user_id", "start_day")
      },
      Some("""WITH d AS (
                SELECT DISTINCT user_id, CAST(ts AS DATE) AS day
                FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL),
              g AS (
                SELECT user_id, day,
                       day - CAST(ROW_NUMBER() OVER (PARTITION BY user_id
                         ORDER BY day) AS INTEGER) AS grp
                FROM d)
              SELECT user_id, MIN(day) AS start_day, MAX(day) AS end_day,
                     CAST(COUNT(*) AS BIGINT) AS n_days
              FROM g GROUP BY user_id, grp
              ORDER BY user_id, start_day""")),

    // ⊕ tolerance-bounded AS-OF join (pandas merge_asof's `tolerance`):
    // t1's latest-prior click, nulled when older than 5 minutes — a
    // stale quote/click must not attribute. Because AS-OF picks the
    // NEWEST prior match, staleness of that one row decides for all
    // (every other candidate is older), so the bound is a post-filter
    // on the matched timestamp — no second join, same one-shuffle plan
    // as t1. The µs comparison is integer on both engines.
    Entry(
      "t12_asof_tolerance",
      (s, dir) => {
        val ev = Tables(s, dir, "events")
        val purchases = ev.filter(col("event_type") === "purchase")
        val clicks    = ev.filter(col("event_type") === "click")
        AsOfJoin.latestPrior(purchases, clicks, "user_id", "ts",
            leftCols = Seq("event_id"), rightCols = Seq("event_id", "ts"),
            rightTiebreak = "event_id")
          .select(col("user_id"), col("event_id").as("purchase_id"),
            when(unix_micros(col("ts")) - unix_micros(col("asof_ts"))
                   <= 300000000L,
              col("asof_event_id")).as("click_id"))
      },
      Some("""SELECT p.user_id, p.event_id AS purchase_id,
                     (SELECT c.event_id FROM events c
                      WHERE c.event_type = 'click' AND c.user_id = p.user_id
                        AND c.ts <= p.ts
                        AND epoch_us(p.ts) - epoch_us(c.ts) <= 300000000
                      ORDER BY c.ts DESC, c.event_id DESC LIMIT 1) AS click_id
              FROM events p WHERE p.event_type = 'purchase'""")),

    // ⊕ time-series resample + gap-fill (LOCF): regularize each user's
    // irregular event stream onto a daily grid and carry the last
    // observation forward — the feature-engineering step every
    // training-data timeline needs before windowed models. Last-per-day
    // is a deterministic row_number argmax (ts, event_id tiebreak); the
    // grid is sequence()+explode per user (|days| rows, never a
    // cross-join against a calendar table); LOCF is one
    // last(ignoreNulls) running window. The filled value rides as exact
    // micro-points until one emit division. Two narrow shuffles
    // (user_id×day agg, user_id window) over a grid whose size is
    // users×days — at 100 TB the grid is still tiny next to the events
    // it summarizes, and the events table is read ONCE.
    Entry(
      "t13_gapfill",
      (s, dir) => {
        import org.apache.spark.sql.expressions.Window
        val ev = Tables(s, dir, "events")
          .filter(col("value").isNotNull)
          .select(col("user_id"), to_date(col("ts")).as("day"),
            unix_micros(col("ts")).as("ts_us"), col("event_id"),
            floor(col("value") * lit(1e6)).cast(LongType).as("v"))
        val wDay = Window.partitionBy("user_id", "day")
          .orderBy(desc("ts_us"), desc("event_id"))
        val daily = ev.withColumn("rn", row_number().over(wDay))
          .filter(col("rn") === 1)
          .select(col("user_id"), col("day"), col("v"))
        val grid = ev.groupBy("user_id")
          .agg(min(col("day")).as("d0"), max(col("day")).as("d1"))
          .select(col("user_id"),
            explode(sequence(col("d0"), col("d1"), expr("interval 1 day")))
              .as("day"))
        val wLocf = Window.partitionBy("user_id").orderBy("day")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        grid.join(daily, Seq("user_id", "day"), "left")
          .select(col("user_id"), col("day"),
            col("v").isNotNull.as("observed"),
            (last(col("v"), ignoreNulls = true).over(wLocf)
              .cast(DoubleType) / lit(1e6)).as("value_locf"))
          .orderBy("user_id", "day")
      },
      Some("""WITH e AS (
                SELECT user_id, CAST(ts AS DATE) AS day, epoch_us(ts) AS ts_us,
                       event_id, CAST(FLOOR(value * 1e6) AS BIGINT) AS v
                FROM events WHERE value IS NOT NULL),
              daily AS (
                SELECT user_id, day, v FROM (
                  SELECT user_id, day, v,
                         ROW_NUMBER() OVER (PARTITION BY user_id, day
                           ORDER BY ts_us DESC, event_id DESC) AS rn
                  FROM e) WHERE rn = 1),
              span AS (SELECT user_id, MIN(day) AS d0, MAX(day) AS d1
                       FROM e GROUP BY 1),
              grid AS (
                SELECT user_id,
                       CAST(UNNEST(generate_series(CAST(d0 AS TIMESTAMP),
                         CAST(d1 AS TIMESTAMP), INTERVAL 1 DAY)) AS DATE) AS day
                FROM span)
              SELECT g.user_id, g.day,
                     d.v IS NOT NULL AS observed,
                     CAST(LAST_VALUE(d.v IGNORE NULLS) OVER (
                       PARTITION BY g.user_id ORDER BY g.day
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                       AS DOUBLE) / 1e6 AS value_locf
              FROM grid g
              LEFT JOIN daily d ON g.user_id = d.user_id AND g.day = d.day
              ORDER BY g.user_id, g.day""")),

    // ⊕ time-weighted average (TWAP): Σ vᵢ·Δtᵢ / ΣΔtᵢ per user, where
    // each observation holds until the next one — the right mean for
    // irregularly-sampled series (the arithmetic mean over-weights
    // bursts). Every product is exact integer (micro-points × µs,
    // accumulated in DECIMAL(38,0): one month of µs × 1e6-scaled values
    // overflows 2⁶³ per ~10 rows), one lead() over the same single
    // user_id shuffle. The numerator exceeds 2⁵³, so it is emitted via
    // Exact.bigColToDouble's 2⁵²-split (the direct wide-int→double cast
    // measurably diverged by 1 ulp between engines). Equal-ts ties get
    // Δt = 0 via the event_id tiebreak — they weigh nothing, matching
    // the hold-until-next semantics.
    Entry(
      "t14_twap",
      (s, dir) => {
        import org.apache.spark.sql.expressions.Window
        val d38 = DecimalType(38, 0)
        val w = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
        val ev = Tables(s, dir, "events")
          .filter(col("value").isNotNull && col("user_id").isNotNull &&
            col("ts").isNotNull)
          .select(col("user_id"), col("event_id"),
            unix_micros(col("ts")).as("ts_us"),
            floor(col("value") * lit(1e6)).cast(LongType).as("v"))
        ev.withColumn("dt", lead(col("ts_us"), 1).over(w) - col("ts_us"))
          .filter(col("dt").isNotNull)
          .groupBy("user_id")
          .agg(sum(col("v").cast(d38) * col("dt").cast(d38)).as("num"),
            sum(col("dt")).as("den"))
          .filter(col("den") > 0)
          .select(col("user_id"),
            (Exact.bigColToDouble("num") / col("den").cast(DoubleType) /
              lit(1e6)).as("twap"))
          .orderBy("user_id")
      },
      Some(s"""WITH e AS (
                SELECT user_id, event_id, epoch_us(ts) AS ts_us,
                       CAST(FLOOR(value * 1e6) AS BIGINT) AS v
                FROM events
                WHERE value IS NOT NULL AND user_id IS NOT NULL
                  AND ts IS NOT NULL),
              seg AS (
                SELECT user_id, v,
                       LEAD(ts_us, 1) OVER (PARTITION BY user_id
                         ORDER BY ts_us, event_id) - ts_us AS dt
                FROM e),
              g AS (
                SELECT user_id, SUM(CAST(v AS HUGEINT) * dt) AS num,
                       CAST(SUM(dt) AS BIGINT) AS den
                FROM seg WHERE dt IS NOT NULL GROUP BY 1)
              SELECT user_id,
                     ${Exact.bigSqlToDouble("num")}
                       / CAST(den AS DOUBLE) / 1e6 AS twap
              FROM g WHERE den > 0 ORDER BY user_id""")),

    // ⊕ forward AS-OF (merge_asof direction='forward'): each purchase's
    // EARLIEST click at-or-after it — t1's mirror, same union + one
    // descending-window plan, same greatest-tiebreak tie contract.
    Entry(
      "t15_asof_forward",
      (s, dir) => {
        val ev = Tables(s, dir, "events")
        val purchases = ev.filter(col("event_type") === "purchase")
        val clicks    = ev.filter(col("event_type") === "click")
        AsOfJoin.earliestNext(purchases, clicks, "user_id", "ts",
          leftCols = Seq("event_id"), rightCols = Seq("event_id"),
          rightTiebreak = "event_id")
          .select(col("user_id"), col("event_id").as("purchase_id"),
            col("asof_event_id").as("click_id"))
      },
      Some("""SELECT p.user_id, p.event_id AS purchase_id,
                     (SELECT c.event_id FROM events c
                      WHERE c.event_type = 'click' AND c.user_id = p.user_id
                        AND c.ts >= p.ts
                      ORDER BY c.ts ASC, c.event_id DESC LIMIT 1) AS click_id
              FROM events p WHERE p.event_type = 'purchase'""")),

    // ⊕ nearest AS-OF (merge_asof direction='nearest'): prior or next
    // click, whichever is closer in µs; an exact tie prefers the prior
    // (a pinned contract — partitioning must not decide ties). Both
    // directional picks ride ONE union shuffle as two window columns
    // (plan-asserted single hash exchange), never a theta join; the
    // oracle states the same choice rule over the two correlated picks.
    Entry(
      "t16_asof_nearest",
      (s, dir) => {
        val ev = Tables(s, dir, "events")
        val purchases = ev.filter(col("event_type") === "purchase")
        val clicks    = ev.filter(col("event_type") === "click")
        AsOfJoin.nearest(purchases, clicks, "user_id", "ts",
          leftCols = Seq("event_id"), rightCols = Seq("event_id"),
          rightTiebreak = "event_id")
          .select(col("user_id"), col("event_id").as("purchase_id"),
            col("asof_event_id").as("click_id"))
          .orderBy("user_id", "purchase_id")
      },
      Some("""WITH p AS (
                SELECT user_id, event_id, ts, epoch_us(ts) AS ts_us
                FROM events WHERE event_type = 'purchase'),
              ch AS (
                SELECT p.user_id, p.event_id,
                       (SELECT c.event_id FROM events c
                        WHERE c.event_type = 'click' AND c.user_id = p.user_id
                          AND c.ts <= p.ts
                        ORDER BY c.ts DESC, c.event_id DESC LIMIT 1) AS prior_id,
                       (SELECT epoch_us(c.ts) FROM events c
                        WHERE c.event_type = 'click' AND c.user_id = p.user_id
                          AND c.ts <= p.ts
                        ORDER BY c.ts DESC, c.event_id DESC LIMIT 1) AS prior_us,
                       (SELECT c.event_id FROM events c
                        WHERE c.event_type = 'click' AND c.user_id = p.user_id
                          AND c.ts >= p.ts
                        ORDER BY c.ts ASC, c.event_id DESC LIMIT 1) AS next_id,
                       (SELECT epoch_us(c.ts) FROM events c
                        WHERE c.event_type = 'click' AND c.user_id = p.user_id
                          AND c.ts >= p.ts
                        ORDER BY c.ts ASC, c.event_id DESC LIMIT 1) AS next_us,
                       p.ts_us
                FROM p)
              SELECT user_id, event_id AS purchase_id,
                     CASE WHEN next_id IS NULL THEN prior_id
                          WHEN prior_id IS NOT NULL
                               AND ts_us - prior_us <= next_us - ts_us
                            THEN prior_id
                          ELSE next_id END AS click_id
              FROM ch ORDER BY user_id, purchase_id""")),

    // ⊕ merged-interval coverage (active-time accounting): treat each
    // event as a 5-minute activity interval and report, per user, the
    // UNION length of all intervals — overlaps must not double-count,
    // which is the classic sweep: an interval opens a new island iff it
    // starts after the running max of previous ends; islands then
    // aggregate to (min start, max end). Two windows + one aggregate
    // over the same single user_id shuffle; every quantity exact µs.
    Entry(
      "t17_interval_coverage",
      (s, dir) => {
        import org.apache.spark.sql.expressions.Window
        val span = 300000000L // 5 min in µs
        val wPrev = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
          .rowsBetween(Window.unboundedPreceding, -1)
        val wCum = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        val iv = Tables(s, dir, "events")
          .filter(col("user_id").isNotNull && col("ts").isNotNull)
          .select(col("user_id"), col("event_id"),
            unix_micros(col("ts")).as("ts_us"),
            (unix_micros(col("ts")) + lit(span)).as("end_us"))
        iv.withColumn("prev_max_end", max(col("end_us")).over(wPrev))
          .withColumn("opens",
            when(col("prev_max_end").isNull ||
              col("ts_us") > col("prev_max_end"), 1L).otherwise(0L))
          .withColumn("island", sum(col("opens")).over(wCum))
          .groupBy("user_id", "island")
          .agg(min(col("ts_us")).as("i_start"), max(col("end_us")).as("i_end"))
          .groupBy("user_id")
          .agg(count(lit(1)).as("n_islands"),
            sum(col("i_end") - col("i_start")).as("covered_us"))
          .orderBy("user_id")
      },
      Some("""WITH iv AS (
                SELECT user_id, event_id, epoch_us(ts) AS ts_us,
                       epoch_us(ts) + 300000000 AS end_us
                FROM events
                WHERE user_id IS NOT NULL AND ts IS NOT NULL),
              m AS (
                SELECT user_id, event_id, ts_us, end_us,
                       MAX(end_us) OVER (PARTITION BY user_id
                         ORDER BY ts_us, event_id
                         ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                         AS prev_max_end
                FROM iv),
              o AS (
                SELECT user_id, event_id, ts_us, end_us,
                       CASE WHEN prev_max_end IS NULL
                              OR ts_us > prev_max_end THEN 1 ELSE 0 END
                         AS opens
                FROM m),
              isl AS (
                SELECT user_id, ts_us, end_us,
                       SUM(opens) OVER (PARTITION BY user_id
                         ORDER BY ts_us, event_id
                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                         AS island
                FROM o),
              g AS (
                SELECT user_id, island, MIN(ts_us) AS i_start,
                       MAX(end_us) AS i_end
                FROM isl GROUP BY 1, 2)
              SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_islands,
                     CAST(SUM(i_end - i_start) AS BIGINT) AS covered_us
              FROM g GROUP BY 1 ORDER BY user_id""")),

    // ⊕ per-group OLS trend at arbitrary time spacing — "is this metric
    // drifting, and how fast" per event_type, the monitoring question
    // w7's fixed-window rolling slope cannot answer. Built-in
    // regr_slope is a partitioning-dependent double recurrence
    // (irreproducible across cluster resizes — the a22 argument), so
    // slope comes from exact integer moments: x = whole seconds since
    // the group's first event (a same-key window min, so the window
    // and the aggregate share ONE exchange), y = value micro-points;
    // Σx, Σy, Σxy, Σx² in DECIMAL(38,0); slope and intercept emitted
    // through the 2⁵²-split (rule 6) and IEEE ops mirrored on both
    // engines. Map-side partials; corr-at-scale cost = one scan.
    // Envelope (every intermediate exact, both engines): n ≤ 10⁵ per
    // group with |x| < 2²⁵ s (≈1 yr) and |yµ| < 2⁴⁰ keeps the worst
    // composite (numv ≈ n·Σxy + Σx·Σy < 2⁹⁹) inside both
    // DECIMAL(38,0) and Exact's 2¹⁰⁵ split bound, and the BIGINT sums
    // Σx < 2⁴², Σy < 2⁵⁷ far from 2⁶³. BEYOND it the engines fail
    // differently (DuckDB raises on the HUGEINT→BIGINT cast, non-ANSI
    // Spark wraps) — so at larger per-group cardinality coarsen x
    // (minutes/hours) or pre-bucket the series first; exactness, not
    // scale, is what caps n here.
    Entry(
      "t18_group_trend",
      (s, dir) => {
        import org.apache.spark.sql.expressions.Window
        val d38 = DecimalType(38, 0)
        val ev = Tables(s, dir, "events").filter(col("value").isNotNull)
          .select(col("event_type"), unix_micros(col("ts")).as("us"),
            floor(col("value") * lit(1e4)).cast(LongType).as("ymu"))
          .withColumn("mn",
            min(col("us")).over(Window.partitionBy("event_type")))
          .select(col("event_type"),
            expr("(us - mn) DIV 1000000").as("x"), col("ymu"))
        val x38 = col("x").cast(d38)
        val y38 = col("ymu").cast(d38)
        ev.groupBy("event_type")
          .agg(count(lit(1)).as("n"),
            sum(col("x")).as("sx"), sum(col("ymu")).as("sy"),
            sum(x38 * y38).as("sxy"), sum(x38 * x38).as("sxx"))
          .withColumn("numv", col("n").cast(d38) * col("sxy") -
            col("sx").cast(d38) * col("sy").cast(d38))
          .withColumn("denv", col("n").cast(d38) * col("sxx") -
            col("sx").cast(d38) * col("sx").cast(d38))
          .withColumn("slope",
            when(col("denv") === 0, lit(null).cast(DoubleType))
              .otherwise(Exact.bigColToDouble("numv") /
                Exact.bigColToDouble("denv") / lit(1e4)))
          .select(col("event_type"), col("n"), col("slope"),
            when(col("slope").isNull, lit(null).cast(DoubleType))
              .otherwise((Exact.bigColToDouble("sy") / lit(1e4) -
                col("slope") * Exact.bigColToDouble("sx")) /
                col("n").cast(DoubleType)).as("intercept"))
          .orderBy("event_type")
      },
      Some(s"""WITH e AS (
                 SELECT event_type, epoch_us(ts) AS us,
                        CAST(FLOOR(value * 1e4) AS BIGINT) AS ymu
                 FROM events WHERE value IS NOT NULL),
               w AS (
                 SELECT event_type,
                        (us - MIN(us) OVER (PARTITION BY event_type))
                          // 1000000 AS x,
                        ymu
                 FROM e),
               m AS (
                 SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
                        CAST(SUM(x) AS BIGINT) AS sx,
                        CAST(SUM(ymu) AS BIGINT) AS sy,
                        SUM(CAST(x AS HUGEINT) * ymu) AS sxy,
                        SUM(CAST(x AS HUGEINT) * x) AS sxx
                 FROM w GROUP BY 1),
               d AS (
                 SELECT event_type, n,
                        CAST(n AS HUGEINT) * sxy
                          - CAST(sx AS HUGEINT) * sy AS numv,
                        CAST(n AS HUGEINT) * sxx
                          - CAST(sx AS HUGEINT) * sx AS denv,
                        sx, sy
                 FROM m),
               s AS (
                 SELECT event_type, n, sx, sy,
                        CASE WHEN denv = 0 THEN NULL
                          ELSE ${Exact.bigSqlToDouble("numv")} /
                               ${Exact.bigSqlToDouble("denv")} / 1e4
                        END AS slope
                 FROM d)
               SELECT event_type, n, slope,
                      CASE WHEN slope IS NULL THEN NULL
                        ELSE (${Exact.bigSqlToDouble("sy")} / 1e4 -
                              slope * ${Exact.bigSqlToDouble("sx")})
                             / CAST(n AS DOUBLE)
                      END AS intercept
               FROM s ORDER BY event_type""")),

    // ⊕ frequent-sequence mining: top-10 within-session event-type
    // TRIGRAMS by support — the sequential-pattern step past
    // t8_markov_transitions' bigram matrix (behavioral motifs,
    // curriculum/funnel hypotheses come from exactly this readout).
    // Scale: ONE user-keyed window shuffle does everything — session
    // ids fold from the same lag/cumsum pass w2 uses, and the trigram
    // is two LEADs over the SAME window carrying (sid, type) structs,
    // with session membership enforced by comparing the led sids (so
    // no second (user, sid)-keyed exchange exists at any size). The
    // aggregate output is ≤ |types|³ rows; top-10 is
    // TakeOrderedAndProject with a total (n desc, s1, s2, s3)
    // tie-break. Gap threshold 30 min, exact µs integer arithmetic.
    Entry(
      "t19_top_sequences",
      (s, dir) => {
        import org.apache.spark.sql.expressions.Window
        val wU = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
        val wRun = wU.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        Tables(s, dir, "events")
          .filter(col("user_id").isNotNull && col("ts").isNotNull)
          .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
          .withColumn("new_sess",
            when(lag(col("ts"), 1).over(wU).isNull ||
              unix_micros(col("ts")) - unix_micros(lag(col("ts"), 1).over(wU))
                >= lit(1800000000L), 1L).otherwise(0L))
          .withColumn("sid", sum(col("new_sess")).over(wRun))
          .withColumn("t2", lead(struct(col("sid"), col("event_type")), 1).over(wU))
          .withColumn("t3", lead(struct(col("sid"), col("event_type")), 2).over(wU))
          .filter(col("t2.sid") === col("sid") && col("t3.sid") === col("sid"))
          .groupBy(col("event_type").as("s1"),
            col("t2.event_type").as("s2"), col("t3.event_type").as("s3"))
          .agg(count(lit(1)).cast(LongType).as("n"))
          .orderBy(desc("n"), asc("s1"), asc("s2"), asc("s3"))
          .limit(10)
      },
      Some("""WITH e AS (
                SELECT user_id, ts, event_id, event_type FROM events
                WHERE user_id IS NOT NULL AND ts IS NOT NULL),
              marks AS (
                SELECT user_id, ts, event_id, event_type,
                       CASE WHEN LAG(ts) OVER w IS NULL
                              OR ts - LAG(ts) OVER w >= INTERVAL 30 MINUTE
                            THEN 1 ELSE 0 END AS new_sess
                FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
              sids AS (
                SELECT user_id, ts, event_id, event_type,
                       SUM(new_sess) OVER (PARTITION BY user_id
                         ORDER BY ts, event_id
                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                         AS sid
                FROM marks),
              tri AS (
                SELECT sid, event_type AS s1,
                       LEAD(sid, 1) OVER w AS sid2,
                       LEAD(event_type, 1) OVER w AS s2,
                       LEAD(sid, 2) OVER w AS sid3,
                       LEAD(event_type, 2) OVER w AS s3
                FROM sids
                WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id))
              SELECT s1, s2, s3, CAST(COUNT(*) AS BIGINT) AS n
              FROM tri WHERE sid2 = sid AND sid3 = sid
              GROUP BY 1, 2, 3
              ORDER BY n DESC, s1 ASC, s2 ASC, s3 ASC LIMIT 10""")),

    // ⊕ day-of-week seasonality profile + anomaly census — the
    // decomposition behind "is Tuesday always like this": per
    // (event_type, weekday) the day count, event mass, its ppm share
    // of the type's total, and how many individual days deviate from
    // their weekday's mean by more than 50%. EVERYTHING is integer
    // arithmetic: the share is a DIV-ppm, and the deviation test
    // |n·d − s|·2 > s is the cross-multiplied form of
    // |n − s/d| > (s/d)/2, so no rational mean is ever materialized
    // and both engines decide every flag identically (weekday = Spark
    // weekday() ≡ DuckDB isodow − 1, Monday = 0). Shape: one
    // (type, day)-grain aggregate over the corpus, then ≤ |types|·7-row
    // joins — the daily relation is date-bounded whatever the corpus.
    Entry(
      "t20_seasonal_profile",
      (s, dir) => {
        val daily = Tables(s, dir, "events")
          .filter(col("ts").isNotNull)
          .select(col("event_type"), to_date(col("ts")).as("day"),
            expr("weekday(ts)").cast(LongType).as("dow"))
          .groupBy("event_type", "day", "dow")
          .agg(count(lit(1)).as("n"))
        val dowAgg = daily.groupBy("event_type", "dow")
          .agg(sum(col("n")).as("sv"), count(lit(1)).as("d"))
        val typeTotal = daily.groupBy("event_type")
          .agg(sum(col("n")).as("t"))
        daily.join(dowAgg, Seq("event_type", "dow"))
          .groupBy("event_type", "dow")
          .agg(max(col("d")).cast(LongType).as("n_days"),
            max(col("sv")).cast(LongType).as("n_events"),
            sum(when(abs(col("n") * col("d") - col("sv")) * 2 > col("sv"),
              1L).otherwise(0L)).cast(LongType).as("n_anomalous_days"))
          .join(broadcast(typeTotal), "event_type")
          .select(col("event_type"), col("dow"), col("n_days"),
            col("n_events"),
            expr("(n_events * 1000000L) DIV t").cast(LongType)
              .as("share_ppm"),
            col("n_anomalous_days"))
          .orderBy("event_type", "dow")
      },
      Some("""WITH daily AS (
                SELECT event_type, CAST(ts AS DATE) AS day,
                       CAST(isodow(ts) - 1 AS BIGINT) AS dow,
                       CAST(COUNT(*) AS BIGINT) AS n
                FROM events WHERE ts IS NOT NULL
                GROUP BY 1, 2, 3),
              dw AS (
                SELECT event_type, dow,
                       CAST(SUM(n) AS BIGINT) AS sv,
                       CAST(COUNT(*) AS BIGINT) AS d
                FROM daily GROUP BY 1, 2),
              tt AS (
                SELECT event_type, CAST(SUM(n) AS BIGINT) AS t
                FROM daily GROUP BY 1),
              a AS (
                SELECT daily.event_type, daily.dow,
                       MAX(dw.d) AS n_days, MAX(dw.sv) AS n_events,
                       CAST(SUM(CASE WHEN ABS(daily.n * dw.d - dw.sv) * 2
                                          > dw.sv
                                     THEN 1 ELSE 0 END) AS BIGINT)
                         AS n_anomalous_days
                FROM daily JOIN dw USING (event_type, dow)
                GROUP BY 1, 2)
              SELECT a.event_type, a.dow,
                     CAST(a.n_days AS BIGINT) AS n_days,
                     CAST(a.n_events AS BIGINT) AS n_events,
                     CAST((a.n_events * 1000000) // tt.t AS BIGINT)
                       AS share_ppm,
                     a.n_anomalous_days
              FROM a JOIN tt USING (event_type)
              ORDER BY a.event_type, a.dow"""))
  )
}
