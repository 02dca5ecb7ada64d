package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.core.{Materialize, Tables}

/** Relational operator inventory (SURVEY.md §2.1–§2.8) re-expressed over
  * the driver's TPC-H-ish tables.
  *
  * Scale notes (100 TB design intent, validated on local[32]):
  *   - group-bys rely on Catalyst partial aggregation (map-side combine);
  *   - the dimension side of every join here (region/nation/customer at
  *     these SFs, or the aggregated side) is broadcast when small — AQE
  *     picks broadcast-hash automatically, no hint needed below the
  *     threshold; we hint `broadcast()` only where smallness is structural
  *     (region=5 rows, nation=25) rather than data-dependent;
  *   - top-k compiles to TakeOrderedAndProject (no global sort);
  *   - ORDER BY appears only where it is semantic (top-k, LIMIT probes)
  *     or free (tiny aggregate outputs): the gate canonicalizes rows, and
  *     a global sort of a large result is exactly the operator you avoid
  *     at 100 TB.
  */
object Relational {
  private val D18_2 = DecimalType(18, 2)

  val entries: Seq[Entry] = Seq(

    // S3 parquet scan + P4 column-pruning projection (read_delta.py:261).
    Entry(
      "s3_scan_projection",
      (s, dir) => Tables(s, dir, "customer")
        .select("c_custkey", "c_acctbal", "c_mktsegment"),
      Some("""SELECT c_custkey, c_acctbal, c_mktsegment
              FROM customer"""),
      "column pruning reaches the scan: ReadSchema has exactly 3 columns"),

    // P3 not-null filter (SaveDelta.scala:149) + predicate pushdown.
    Entry(
      "p3_notnull_filter",
      (s, dir) => Tables(s, dir, "events")
        .filter(col("event_id").isNotNull && col("props").isNotNull)
        .select("event_id", "user_id", "event_type", "value"),
      Some("""SELECT event_id, user_id, event_type, value
              FROM events
              WHERE event_id IS NOT NULL AND props IS NOT NULL"""),
      "IsNotNull lands in PushedFilters of the parquet scan"),

    // A1 group-by count + avg (read_delta.py:114-127).
    // avg goes through an exact integer micro-point sum, then one double
    // division — order-insensitive, so partial aggregation stays enabled.
    // Double sums use floor-scaled BIGINT micro-points (never a DECIMAL
    // intermediate: the double→decimal cast rounds differently across
    // DuckDB versions — VERDICT r8 §wrong-1), divided back to DOUBLE at
    // emit: both engines run the identical floor, exact integer sum, and
    // one IEEE division.
    Entry(
      "a1_group_count_avg",
      (s, dir) => Tables(s, dir, "lineitem")
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
          count(lit(1)).as("count_items"),
          (sum(floor(col("l_quantity") * lit(1e2)).cast(LongType))
            .cast(DoubleType) / lit(1e2)).as("sum_qty"),
          (sum(floor(col("l_extendedprice") * lit(1e4)).cast(LongType))
            .cast(DoubleType) / lit(1e4) /
            count(lit(1)).cast(DoubleType)).as("mean_price"))
        .orderBy("l_returnflag", "l_linestatus"),
      Some("""SELECT l_returnflag, l_linestatus,
                     COUNT(*) AS count_items,
                     CAST(CAST(SUM(CAST(FLOOR(l_quantity * 1e2) AS BIGINT))
                               AS BIGINT) AS DOUBLE) / 1e2 AS sum_qty,
                     CAST(CAST(SUM(CAST(FLOOR(l_extendedprice * 1e4) AS BIGINT))
                               AS BIGINT) AS DOUBLE) / 1e4
                       / CAST(COUNT(*) AS DOUBLE) AS mean_price
              FROM lineitem
              GROUP BY l_returnflag, l_linestatus
              ORDER BY l_returnflag, l_linestatus""")),

    // A2/O1 top-5 by count desc (SaveDelta.scala:236-242) →
    // TakeOrderedAndProject, with a tie-breaker for determinism.
    Entry(
      "a2_topk_by_count",
      (s, dir) => Tables(s, dir, "events")
        .groupBy("event_type")
        .agg(count(lit(1)).as("cnt"))
        .orderBy(desc("cnt"), asc("event_type"))
        .limit(5),
      Some("""SELECT event_type, COUNT(*) AS cnt
              FROM events GROUP BY event_type
              ORDER BY cnt DESC, event_type ASC LIMIT 5""")),

    // A3/A4 scalar count (sql_scripts.py:32; read_delta.py:52).
    Entry(
      "a3_scalar_count",
      (s, dir) => Tables(s, dir, "lineitem")
        .agg(count(lit(1)).as("n_rows")),
      Some("SELECT COUNT(*) AS n_rows FROM lineitem")),

    // A5 dashboard SUM metrics (superset slices 1-3): exact micro-point
    // sums (see a1 — DECIMAL intermediates diverge across DuckDB versions).
    Entry(
      "a5_sum_metrics",
      (s, dir) => Tables(s, dir, "orders")
        .agg(
          (sum(floor(col("o_totalprice") * lit(1e2)).cast(LongType))
            .cast(DoubleType) / lit(1e2)).as("sum_total"),
          count(lit(1)).as("n_orders")),
      Some("""SELECT CAST(CAST(SUM(CAST(FLOOR(o_totalprice * 1e2) AS BIGINT))
                              AS BIGINT) AS DOUBLE) / 1e2 AS sum_total,
                     COUNT(*) AS n_orders
              FROM orders""")),

    // A6 dashboard grouped counts (superset slices 4-6).
    Entry(
      "a6_group_counts",
      (s, dir) => Tables(s, dir, "orders")
        .groupBy("o_orderstatus")
        .agg(count(lit(1)).as("cnt"))
        .orderBy("o_orderstatus"),
      Some("""SELECT o_orderstatus, COUNT(*) AS cnt
              FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""")),

    // J1 inner equi-join on the key (read_delta.py:280). customer is the
    // dimension side; at 100 TB orders shuffles on o_custkey while
    // customer broadcasts if < threshold — leave strategy to AQE.
    Entry(
      "j1_inner_join",
      (s, dir) => {
        val orders   = Tables(s, dir, "orders")
        val customer = Tables(s, dir, "customer")
        orders.join(customer, orders("o_custkey") === customer("c_custkey"))
          .select("o_orderkey", "c_custkey", "c_mktsegment", "o_totalprice")
      },
      Some("""SELECT o_orderkey, c_custkey, c_mktsegment, o_totalprice
              FROM orders JOIN customer ON o_custkey = c_custkey""")),

    // J2 left outer join against an aggregate (read_delta.py:285):
    // customers with zero orders keep NULL count/sum — the aggregate side
    // shrinks to |customers| rows before the join (pre-aggregate, then
    // join: the shuffle moves the small aggregated side, not raw orders).
    Entry(
      "j2_left_join_agg",
      (s, dir) => {
        val customer = Tables(s, dir, "customer")
        val perCust = Tables(s, dir, "orders")
          .groupBy("o_custkey")
          .agg(
            count(lit(1)).as("count_orders"),
            (sum(floor(col("o_totalprice") * lit(1e2)).cast(LongType))
              .cast(DoubleType) / lit(1e2)).as("sum_total"))
        customer.join(perCust, customer("c_custkey") === perCust("o_custkey"), "left")
          .select(col("c_custkey"), col("c_name"),
            col("count_orders"), col("sum_total"))
      },
      Some("""SELECT c_custkey, c_name, count_orders, sum_total
              FROM customer LEFT JOIN (
                SELECT o_custkey, COUNT(*) AS count_orders,
                       CAST(CAST(SUM(CAST(FLOOR(o_totalprice * 1e2) AS BIGINT))
                                 AS BIGINT) AS DOUBLE) / 1e2 AS sum_total
                FROM orders GROUP BY o_custkey
              ) ON c_custkey = o_custkey""")),

    // J3 + F4 + F5: the canonical commute-prime CTE self-join
    // (README.md:141-164) transposed: CASE eligibility + ROUND(x*0.05, 2)
    // + derived total. ROUND is done on a DECIMAL (HALF_UP in both
    // engines); the double multiply itself is IEEE-deterministic.
    Entry(
      "j3_cte_prime",
      (s, dir) => {
        Tables(s, dir, "customer").createOrReplaceTempView("customer_v")
        s.sql("""
          WITH prime AS (
            SELECT c_custkey,
                   CASE WHEN c_acctbal > 0
                        THEN CAST(ROUND(CAST(c_acctbal * 0.05 AS DECIMAL(18,6)), 2) AS DECIMAL(18,2))
                        ELSE CAST(0 AS DECIMAL(18,2)) END AS prime
            FROM customer_v)
          SELECT c.c_custkey, c.c_name, c.c_acctbal,
                 CAST(p.prime AS DOUBLE) AS prime,
                 c.c_acctbal + CAST(p.prime AS DOUBLE) AS total_balance
          FROM customer_v c JOIN prime p ON c.c_custkey = p.c_custkey""")
      },
      Some("""WITH prime AS (
                SELECT c_custkey,
                       CASE WHEN c_acctbal > 0
                            THEN CAST(ROUND(CAST(c_acctbal * 0.05 AS DECIMAL(18,6)), 2) AS DECIMAL(18,2))
                            ELSE CAST(0 AS DECIMAL(18,2)) END AS prime
                FROM customer)
              SELECT c.c_custkey, c.c_name, c.c_acctbal,
                     CAST(p.prime AS DOUBLE) AS prime,
                     c.c_acctbal + CAST(p.prime AS DOUBLE) AS total_balance
              FROM customer c JOIN prime p ON c.c_custkey = p.c_custkey""")),

    // The fused form of J3 (SURVEY §2.4 note): the CTE only derives a
    // column, so a single projection replaces the self-join — this is the
    // plan we'd actually run at scale (zero joins, zero shuffles).
    Entry(
      "j3_fused_prime",
      (s, dir) => Tables(s, dir, "customer")
        .withColumn("prime",
          when(col("c_acctbal") > 0,
            round(col("c_acctbal").multiply(lit(0.05)).cast(DecimalType(18, 6)), 2)
              .cast(D18_2))
            .otherwise(lit(0).cast(D18_2)))
        .withColumn("total_balance",
          col("c_acctbal") + col("prime").cast(DoubleType))
        .withColumn("prime", col("prime").cast(DoubleType))
        .select("c_custkey", "c_name", "c_acctbal", "prime", "total_balance"),
      Some("""SELECT c_custkey, c_name, c_acctbal,
                     CAST(CASE WHEN c_acctbal > 0
                          THEN CAST(ROUND(CAST(c_acctbal * 0.05 AS DECIMAL(18,6)), 2) AS DECIMAL(18,2))
                          ELSE CAST(0 AS DECIMAL(18,2)) END AS DOUBLE) AS prime,
                     c_acctbal + CAST(
                       CASE WHEN c_acctbal > 0
                            THEN CAST(ROUND(CAST(c_acctbal * 0.05 AS DECIMAL(18,6)), 2) AS DECIMAL(18,2))
                            ELSE CAST(0 AS DECIMAL(18,2)) END AS DOUBLE) AS total_balance
              FROM customer""")),

    // Multi-way star join: lineitem ⋈ orders ⋈ customer ⋈ nation ⋈ region
    // with broadcast hints on the structurally tiny dims (region=5,
    // nation=25 rows at every SF — safe to pin).
    Entry(
      "j4_star_join",
      (s, dir) => {
        val li = Tables(s, dir, "lineitem")
        val o  = Tables(s, dir, "orders")
        val c  = Tables(s, dir, "customer")
        val n  = Tables(s, dir, "nation")
        val r  = Tables(s, dir, "region")
        li.join(o, li("l_orderkey") === o("o_orderkey"))
          .join(c, o("o_custkey") === c("c_custkey"))
          .join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
          .join(broadcast(r), n("n_regionkey") === r("r_regionkey"))
          .groupBy("r_name")
          .agg(
            count(lit(1)).as("n_items"),
            (sum(floor(col("l_extendedprice") * lit(1e4)).cast(LongType))
              .cast(DoubleType) / lit(1e4)).as("sum_price"))
          .orderBy("r_name")
      },
      Some("""SELECT r_name, COUNT(*) AS n_items,
                     CAST(CAST(SUM(CAST(FLOOR(l_extendedprice * 1e4) AS BIGINT))
                               AS BIGINT) AS DOUBLE) / 1e4 AS sum_price
              FROM lineitem
                JOIN orders   ON l_orderkey = o_orderkey
                JOIN customer ON o_custkey  = c_custkey
                JOIN nation   ON c_nationkey = n_nationkey
                JOIN region   ON n_regionkey = r_regionkey
              GROUP BY r_name ORDER BY r_name""")),

    // Semi/anti joins (beyond-reference completeness; SURVEY §2.4 notes
    // the reference has none — these are the scale-correct EXISTS forms).
    Entry(
      "j5_semi_join",
      (s, dir) => {
        val c = Tables(s, dir, "customer")
        val o = Tables(s, dir, "orders").filter(col("o_totalprice") > 400000)
        c.join(o, c("c_custkey") === o("o_custkey"), "left_semi")
          .select("c_custkey", "c_name")
      },
      Some("""SELECT c_custkey, c_name FROM customer
              WHERE EXISTS (SELECT 1 FROM orders
                            WHERE o_custkey = c_custkey AND o_totalprice > 400000)""")),

    Entry(
      "j6_anti_join",
      (s, dir) => {
        val c = Tables(s, dir, "customer")
        val o = Tables(s, dir, "orders")
        c.join(o, c("c_custkey") === o("o_custkey"), "left_anti")
          .select("c_custkey", "c_name")
      },
      Some("""SELECT c_custkey, c_name FROM customer
              WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)""")),

    // ⊕ Bloom-pruned semi-join: the sketch pre-filter for big ⋉ small
    // when the small side won't broadcast as a hash relation but its key
    // set fits a bitmap. Exact — survivors are verified with a real
    // left-semi join, so the oracle is the plain semi join; the win is
    // the shuffle carrying only the pruned fraction (operators/BloomJoin).
    Entry(
      "j8_bloom_semi",
      (s, dir) => {
        val orders = Tables(s, dir, "orders")
        val vip = Tables(s, dir, "customer").filter(col("c_acctbal") > 9000)
        graft.operators.BloomJoin.semiJoin(orders, vip, "o_custkey", "c_custkey")
          .select("o_orderkey", "o_custkey", "o_totalprice")
          .orderBy("o_orderkey")
      },
      Some("""SELECT o_orderkey, o_custkey, o_totalprice
              FROM orders
              WHERE o_custkey IN (SELECT c_custkey FROM customer
                                  WHERE c_acctbal > 9000)
              ORDER BY o_orderkey""")),

    // O3 limit probe with deterministic total order.
    Entry(
      "o3_limit",
      (s, dir) => Tables(s, dir, "orders")
        .select("o_orderkey", "o_orderstatus", "o_totalprice")
        .orderBy("o_orderkey")
        .limit(10),
      Some("""SELECT o_orderkey, o_orderstatus, o_totalprice
              FROM orders ORDER BY o_orderkey LIMIT 10""")),

    // ⊕ interval×interval overlap join: which hour windows does each
    // user session span — sessions (30-min session_window) joined to
    // the hour grid on [start, end) intersection via canonical-bucket
    // banding (operators/RangeJoin.intervalOverlap: equi-join on
    // bucket, each overlapping pair kept exactly once in the bucket
    // holding the later start — no theta join, no dedup shuffle). The
    // oracle states the same sessions (w2's gaps-and-islands form) with
    // a declarative overlap predicate.
    Entry(
      "j9_interval_overlap",
      (s, dir) => {
        val hourUs = 3600000000L
        val sess = Tables(s, dir, "events")
          .filter(col("user_id").isNotNull && col("ts").isNotNull)
          .groupBy(col("user_id"),
            session_window(col("ts"), "30 minutes").as("sw"))
          .agg(count(lit(1)).as("n_events"))
          .select(
            struct(col("user_id"),
              col("sw.start").as("session_start")).as("id_l"),
            unix_micros(col("sw.start")).as("start_l"),
            unix_micros(col("sw.end")).as("end_l"))
        val hours = Tables(s, dir, "events")
          .filter(col("ts").isNotNull)
          .select(date_trunc("hour", col("ts")).as("h")).distinct()
          .select(col("h").as("id_r"), unix_micros(col("h")).as("start_r"),
            (unix_micros(col("h")) + hourUs).as("end_r"))
        graft.operators.RangeJoin.intervalOverlap(sess, hours, hourUs)
          .select(col("id_l.user_id").as("user_id"),
            col("id_l.session_start").as("session_start"),
            col("id_r").as("hour_start"), col("overlap_us"))
          .orderBy("user_id", "session_start", "hour_start")
      },
      Some("""WITH e AS (
                SELECT user_id, ts FROM events
                WHERE user_id IS NOT NULL AND ts IS NOT NULL),
              marks AS (
                SELECT user_id, ts,
                       CASE WHEN LAG(ts) OVER w IS NULL
                              OR ts - LAG(ts) OVER w >= INTERVAL 30 MINUTE
                            THEN 1 ELSE 0 END AS new_sess
                FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
              sids AS (
                SELECT user_id, ts,
                       SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts
                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
                FROM marks),
              sess AS (
                SELECT user_id, MIN(ts) AS session_start,
                       MAX(ts) + INTERVAL 30 MINUTE AS session_end
                FROM sids GROUP BY user_id, sid),
              hours AS (
                SELECT DISTINCT date_trunc('hour', ts) AS h
                FROM events WHERE ts IS NOT NULL)
              SELECT s.user_id, s.session_start, h.h AS hour_start,
                     epoch_us(LEAST(s.session_end, h.h + INTERVAL 1 HOUR))
                       - epoch_us(GREATEST(s.session_start, h.h)) AS overlap_us
              FROM sess s JOIN hours h
                ON s.session_start < h.h + INTERVAL 1 HOUR
               AND h.h < s.session_end
              ORDER BY user_id, session_start, hour_start""")),

    // ⊕ salted skew join, gate-proven: orders (fact) joined to customer
    // (dim) through operators/Salting.saltedJoin — hot fact keys scatter
    // over 8 sub-keys, the dim side replicates 8× — then aggregated per
    // nation. The oracle IS the plain equi-join: salting is a physical
    // rebalance, never a semantic change, and this entry pins that
    // equivalence in the hash gate (the salt column must not leak, the
    // replication must not double-count).
    Entry(
      "j10_salted_join",
      (s, dir) => {
        val o = Tables(s, dir, "orders")
          .select(col("o_custkey").as("c_custkey"),
            col("o_orderkey"), col("o_totalprice"))
        val c = Tables(s, dir, "customer").select("c_custkey", "c_nationkey")
        graft.operators.Salting
          .saltedJoin(o, c, "c_custkey", salts = 8, saltBy = col("o_orderkey"))
          .groupBy("c_nationkey")
          .agg(count(lit(1)).as("n_orders"),
            (sum(floor(col("o_totalprice") * lit(1e4)).cast(LongType))
              .cast(DoubleType) / lit(1e4)).as("sum_price"))
          .orderBy("c_nationkey")
      },
      Some("""SELECT c_nationkey, CAST(COUNT(*) AS BIGINT) AS n_orders,
                     CAST(CAST(SUM(CAST(FLOOR(o_totalprice * 1e4) AS BIGINT))
                               AS BIGINT) AS DOUBLE) / 1e4 AS sum_price
              FROM orders JOIN customer ON o_custkey = c_custkey
              GROUP BY 1 ORDER BY c_nationkey""")),

    // Set op (beyond reference §2.8): distinct union of key spaces.
    Entry(
      "u1_union_distinct",
      (s, dir) => {
        val a = Tables(s, dir, "orders").select(col("o_custkey").as("custkey"))
        val b = Tables(s, dir, "customer").select(col("c_custkey").as("custkey"))
        a.union(b).distinct()
      },
      Some("""SELECT DISTINCT custkey FROM (
                SELECT o_custkey AS custkey FROM orders
                UNION ALL
                SELECT c_custkey AS custkey FROM customer)""")),

    // Rollup (beyond reference §2.5: no grouping sets there) — subtotal +
    // grand-total rows in one pass; NULL group markers match ANSI.
    Entry(
      "a8_rollup",
      (s, dir) => Tables(s, dir, "lineitem")
        .rollup("l_returnflag", "l_linestatus")
        .agg(
          count(lit(1)).as("cnt"),
          (sum(floor(col("l_quantity") * lit(1e2)).cast(LongType))
            .cast(DoubleType) / lit(1e2)).as("sum_qty")),
      Some("""SELECT l_returnflag, l_linestatus, COUNT(*) AS cnt,
                     CAST(CAST(SUM(CAST(FLOOR(l_quantity * 1e2) AS BIGINT))
                               AS BIGINT) AS DOUBLE) / 1e2 AS sum_qty
              FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)""")),

    // ⊕ CUBE: every grouping-set combination in one pass (partial
    // aggregation expands grouping ids map-side; one shuffle total —
    // the same property that makes rollup scale).
    Entry(
      "a12_cube",
      (s, dir) => Tables(s, dir, "orders")
        .cube("o_orderstatus", "o_orderpriority")
        .agg(count(lit(1)).as("cnt")),
      Some("""SELECT o_orderstatus, o_orderpriority, COUNT(*) AS cnt
              FROM orders GROUP BY CUBE (o_orderstatus, o_orderpriority)""")),

    // ⊕ explicit GROUPING SETS — the general form rollup/cube sugar over:
    // only the named sets are computed (here: pair, status, grand total
    // — skipping the priority-only set a cube would add). Same partial-
    // agg expansion as rollup, so it scales the same way.
    Entry(
      "a13_grouping_sets",
      (s, dir) => Tables(s, dir, "orders")
        .groupingSets(
          Seq(Seq(col("o_orderstatus"), col("o_orderpriority")),
            Seq(col("o_orderstatus")), Seq()),
          col("o_orderstatus"), col("o_orderpriority"))
        .agg(count(lit(1)).as("cnt")),
      Some("""SELECT o_orderstatus, o_orderpriority, COUNT(*) AS cnt
              FROM orders
              GROUP BY GROUPING SETS ((o_orderstatus, o_orderpriority),
                                      (o_orderstatus), ())""")),

    // ⊕ NULL-semantics battery: COALESCE / IS NULL / NULLIF / guarded
    // arithmetic — the constructs whose three-valued-logic corners break
    // ports silently; ×2 on a double is exponent arithmetic, bit-exact
    // on both engines.
    Entry(
      "f11_null_funcs",
      (s, dir) => Tables(s, dir, "events")
        .select(
          col("event_id"),
          coalesce(col("value"), lit(-1.0)).as("value_or_default"),
          isnull(col("value")).as("value_missing"),
          expr("nullif(event_type, 'click')").as("type_nullif"),
          when(col("value").isNotNull, col("value") * 2).otherwise(lit(0.0))
            .as("doubled_or_zero"))
        .orderBy("event_id"),
      Some("""SELECT event_id,
                     COALESCE(value, -1.0) AS value_or_default,
                     value IS NULL AS value_missing,
                     NULLIF(event_type, 'click') AS type_nullif,
                     CASE WHEN value IS NOT NULL THEN value * 2 ELSE 0.0 END AS doubled_or_zero
              FROM events ORDER BY event_id""")),

    // Approximate distinct count (HLL++) — the 100 TB cardinality
    // estimator (fixed-size sketch per group, mergeable across
    // partitions). The HLL++ estimate itself is engine-specific (DuckDB
    // cannot replay Spark's sketch bits), so the HASHED projection is
    // exact + verdict: the exact per-group distinct count beside a
    // `within_bound` BOOLEAN asserting |approx − exact| ≤ 5%·exact in
    // integer arithmetic (100·|Δ| ≤ 5·exact — the APPROX_BOUNDS.md
    // envelope, measured ≤ 0.7% on this data). The oracle recomputes
    // the exact side and states the verdict as TRUE — if the estimator
    // ever left its bound the Spark-side boolean flips and the hash
    // gate fails (the sim_recall_report brute-vs-ANN pattern; VERDICT
    // r17 item 1, retiring the last no_oracle rows). The exact
    // countDistinct here is the VERIFICATION HARNESS, not the
    // deployment shape: at 100 TB only the fixed-size HLL aggregate
    // runs (that is a9's whole point), and this gate is the evidence
    // that estimator stays inside its envelope.
    Entry(
      "a9_approx_distinct",
      (s, dir) => Tables(s, dir, "orders")
        .groupBy("o_orderstatus")
        .agg(
          approx_count_distinct(col("o_custkey"), 0.02).as("approx"),
          countDistinct(col("o_custkey")).as("exact_custs"))
        .select(col("o_orderstatus"),
          col("exact_custs").cast(LongType).as("exact_custs"),
          (abs(col("approx") - col("exact_custs")) * 100 <=
            col("exact_custs") * 5).as("within_bound"))
        .orderBy("o_orderstatus"),
      Some("""SELECT o_orderstatus,
                     CAST(COUNT(DISTINCT o_custkey) AS BIGINT) AS exact_custs,
                     TRUE AS within_bound
              FROM orders GROUP BY 1 ORDER BY o_orderstatus""")),

    // ⊕ re-aggregatable distinct-count store (Datasketches HLL): build
    // one sketch per (group, day) — the granularity you'd PERSIST — and
    // union-merge up to per-group totals without touching raw data
    // again. This is the incremental-distinct pattern at 100 TB: daily
    // sketch builds touch only that day's partition; any rollup
    // (weekly, all-time, cross-table) is a |sketches| merge. The HLL
    // estimate is engine-specific, so the HASHED projection carries
    // the exact distinct count plus TWO Spark-verified verdicts the
    // oracle states as TRUE (a9's exact+verdict pattern): merge
    // LOSSLESSNESS (union of daily sketches estimates identically to
    // the one-pass sketch — the property that makes the store
    // re-aggregatable at all) and the 3σ accuracy envelope
    // |merged − exact| ≤ 4.9%·exact (σ = 1.04/√2¹² at lgK 12), checked
    // in integer arithmetic (1000·|Δ| ≤ 49·exact). Either property
    // breaking flips a boolean and fails the hash gate. As with a9,
    // the exact side is the verification harness — the 100 TB
    // deployment persists and merges only the sketches.
    Entry(
      "a24_hll_reagg",
      (s, dir) => {
        val ev = Tables(s, dir, "events").filter(col("user_id").isNotNull)
        val merged = ev
          .groupBy(col("event_type"), to_date(col("ts")).as("day"))
          .agg(hll_sketch_agg(col("user_id"), lit(12)).as("sk"))
          .groupBy("event_type")
          .agg(count(lit(1)).as("n_daily_sketches"),
            hll_sketch_estimate(hll_union_agg(col("sk"), lit(false)))
              .as("m_est"))
        val direct = ev.groupBy("event_type")
          .agg(
            hll_sketch_estimate(hll_sketch_agg(col("user_id"), lit(12)))
              .as("d_est"),
            countDistinct(col("user_id")).as("exact_users"))
        merged.join(direct, Seq("event_type"))
          .select(col("event_type"),
            col("n_daily_sketches").cast(LongType).as("n_daily_sketches"),
            col("exact_users").cast(LongType).as("exact_users"),
            (col("m_est") === col("d_est")).as("merge_lossless"),
            (abs(col("m_est") - col("exact_users")) * 1000 <=
              col("exact_users") * 49).as("within_bound"))
          .orderBy("event_type")
      },
      Some("""SELECT event_type,
                     CAST(COUNT(DISTINCT CAST(ts AS DATE)) AS BIGINT)
                       AS n_daily_sketches,
                     CAST(COUNT(DISTINCT user_id) AS BIGINT) AS exact_users,
                     TRUE AS merge_lossless,
                     TRUE AS within_bound
              FROM events WHERE user_id IS NOT NULL
              GROUP BY 1 ORDER BY event_type""")),

    // ⊕ the FULLY-ORACLED twin of a24: the same per-(group, day)
    // sketch → merge → estimate pipeline, carried by a KMV sketch over
    // the replayable 48-bit md5 family instead of HLL — every step
    // (hash, k-smallest, union-merge, floor-division estimate) is exact
    // integer arithmetic both engines replay bit-for-bit, so the gate
    // hashes even the APPROXIMATE value (closing the class a9/a24 were
    // rows-only for; VERDICT r16 item 4). k = 64 deliberately SMALL so
    // the saturated (k−1)·2⁴⁸ DIV h₍ₖ₎ estimator branch actually fires
    // at gate scale (events has ~150 distinct users per type at
    // sf0.01); KmvSpec pins the exact-regime branch and the
    // merge-closure law separately, and APPROX_BOUNDS.md carries the
    // measured error envelope (RSE ≈ 1/√(k−2) ≈ 12.7%). At 100 TB the
    // shape is a24's: daily builds touch one day's partition, any
    // rollup is a |sketches|-row merge, per-group state is ≤ k longs.
    Entry(
      "a29_kmv_distinct",
      (s, dir) => {
        val k = 64
        val h = graft.functions.Kmv.withHash(
          Tables(s, dir, "events").filter(col("user_id").isNotNull)
            .select(col("event_type"), to_date(col("ts")).as("day"),
              col("user_id")),
          "user_id", "h")
        h.groupBy("event_type", "day")
          .agg(expr(graft.functions.Kmv.sketchSparkSql("h", k)).as("sk"))
          .groupBy("event_type")
          .agg(count(lit(1)).as("n_daily_sketches"),
            expr(graft.functions.Kmv.mergeSparkSql("sk", k)).as("m"))
          .select(col("event_type"), col("n_daily_sketches"),
            expr(graft.functions.Kmv.estimateSparkSql("m", k)).as("approx_users"))
          .orderBy("event_type")
      },
      Some(s"""WITH h AS (
                 SELECT event_type, CAST(ts AS DATE) AS day,
                        ${graft.functions.Kmv.hashDuckSql("user_id")} AS h
                 FROM events WHERE user_id IS NOT NULL),
               sk AS (
                 SELECT event_type, day,
                        ${graft.functions.Kmv.sketchDuckSql("h", 64)} AS sk
                 FROM h GROUP BY 1, 2),
               mg AS (
                 SELECT event_type,
                        CAST(COUNT(*) AS BIGINT) AS n_daily_sketches,
                        ${graft.functions.Kmv.mergeDuckSql("sk", 64)} AS m
                 FROM sk GROUP BY 1)
               SELECT event_type, n_daily_sketches,
                      ${graft.functions.Kmv.estimateDuckSql("m", 64)} AS approx_users
               FROM mg ORDER BY event_type""")),

    // ⊕ re-aggregatable PERCENTILE store — the t-digest-class capability
    // in its exactly-replayable form (VERDICT r16 item 6; GK precedent
    // a21 is the one-pass sketch, this is the PERSISTED shape): keep
    // per-(group, day) fixed-grid histograms — integer bucket = v_micro
    // DIV 10⁷, the batch-side twin of streaming/StreamingQuantiles'
    // state. The micro value is SHIFTED by +10¹³ (a multiple of the
    // divisor) before the division and the quotient re-offset by −10⁶,
    // so the DIV operand is non-negative for any value ≥ −10⁷ —
    // Spark's DIV truncates toward zero while DuckDB's // floors, and
    // they agree only on non-negative operands (the kmeansTrainMicro
    // shift discipline; ADVICE r17). Same shift in cdc_ivm_histogram
    // and cdc_mv_routed_percentile, which share this grid.
    // Rollups serve p50/p95 by MERGING histograms (bucket
    // count sums), never re-opening raw data. The query emits the
    // merged readout AND the one-pass readout side by side, so ONE hash
    // gate proves merge ≡ one-pass ≡ the DuckDB replay (the a24
    // lossless-merge law, here fully oracle-checked because the grid is
    // exact integers). Percentile rank math is integer-only:
    // bucket b is the q-th percentile iff cum(b)·100 ≥ N·q — no ceil,
    // no doubles. Readout grain: |types|×|buckets| rows through a
    // PARTITIONED window (bounded per group). At 100 TB: daily builds
    // touch one day's partition, any rollup (weekly, all-time) is a
    // |histograms|-row merge, state is ≤ |buckets| longs per cell.
    Entry(
      "a30_histogram_reagg",
      (s, dir) => {
        val ev = Tables(s, dir, "events").filter(col("value").isNotNull)
          .select(col("event_type"), to_date(col("ts")).as("day"),
            expr(MicroGrid.sparkSql)
              .as("bucket"))
        // the persisted shape: per-(group, day, bucket) counts
        val daily = ev.groupBy("event_type", "day", "bucket")
          .agg(count(lit(1)).as("n"))
        val merged = MicroGrid.percentiles(
          daily.groupBy("event_type", "bucket")
            .agg(sum("n").cast(LongType).as("n")), "event_type")
        val onePass = MicroGrid.percentiles(
          ev.groupBy("event_type", "bucket")
            .agg(count(lit(1)).cast(LongType).as("n")), "event_type",
          suffix = "_direct")
          .drop("n_values_direct")
        merged.join(onePass, Seq("event_type"))
          .orderBy("event_type")
      },
      Some(s"""WITH ev AS (
                SELECT event_type, CAST(ts AS DATE) AS day,
                       ${MicroGrid.duckSql}
                         AS bucket
                FROM events WHERE value IS NOT NULL),
              daily AS (
                SELECT event_type, day, bucket,
                       CAST(COUNT(*) AS BIGINT) AS n
                FROM ev GROUP BY 1, 2, 3),
              merged AS (
                SELECT event_type, bucket, CAST(SUM(n) AS BIGINT) AS n
                FROM daily GROUP BY 1, 2),
              cum AS (
                SELECT event_type, bucket, n,
                       SUM(n) OVER (PARTITION BY event_type
                                    ORDER BY bucket) AS cum,
                       SUM(n) OVER (PARTITION BY event_type) AS tot
                FROM merged),
              p AS (
                SELECT event_type,
                       MIN(CASE WHEN cum * 100 >= tot * 50
                                THEN bucket END) AS p50b,
                       MIN(CASE WHEN cum * 100 >= tot * 95
                                THEN bucket END) AS p95b,
                       MAX(tot) AS nv
                FROM cum GROUP BY 1)
              SELECT event_type, CAST(nv AS BIGINT) AS n_values,
                     CAST(p50b * 10 AS BIGINT) AS p50_lo,
                     CAST(p95b * 10 AS BIGINT) AS p95_lo,
                     CAST(p50b * 10 AS BIGINT) AS p50_lo_direct,
                     CAST(p95b * 10 AS BIGINT) AS p95_lo_direct
              FROM p ORDER BY event_type""")),

    // ⊕ θ-sketch SET OPERATIONS over the KMV family: distinct-audience
    // INTERSECTION between every event-type pair served from the
    // per-type sketches alone — a25's exact overlap matrix re-derived
    // without ever re-opening raw data (the audience-overlap question
    // sketch stores exist for). θ = min of the two sketches' thresholds
    // (full domain while complete), c = common hashes below θ, estimate
    // = c·2⁴⁸ DIV θ — all integers, both engines replay the whole
    // algebra bit-for-bit, so even the APPROXIMATE intersection is
    // hash-gated (the a29 discipline extended from cardinality to set
    // ops). Pairs form WITHOUT an inequality join: the ≤|types| sketch
    // rows pack into ONE sorted array and ordered pairs explode
    // map-side (a25's shape) — no BNLJ, no product, however many
    // groups. k = 64 so the scaled-estimate branch fires at gate scale;
    // KmvSpec pins the exact-regime branch (complete sketches → exact
    // intersection) and the error envelope on planted overlaps.
    Entry(
      "a31_kmv_intersect",
      (s, dir) => {
        val k = 64
        import graft.functions.Kmv
        val h = Kmv.withHash(
          Tables(s, dir, "events").filter(col("user_id").isNotNull)
            .select(col("event_type"), col("user_id")),
          "user_id", "h")
        val sk = h.groupBy("event_type")
          .agg(expr(Kmv.sketchSparkSql("h", k)).as("sk"))
        val pairs = sk
          .agg(array_sort(collect_list(struct(col("event_type"), col("sk"))))
            .as("all"))
          .select(explode(expr(
            """flatten(transform(all, (a, i) ->
                 transform(slice(all, i + 2, size(all)),
                           b -> named_struct('a', a, 'b', b))))""")).as("p"))
          .select(col("p.a.event_type").as("type_a"),
            col("p.b.event_type").as("type_b"),
            col("p.a.sk").as("ska"), col("p.b.sk").as("skb"))
        pairs
          .withColumn("theta",
            least(expr(Kmv.thetaSparkSql("ska", k)),
              expr(Kmv.thetaSparkSql("skb", k))).cast(LongType))
          .withColumn("n_common",
            expr(Kmv.commonBelowSparkSql("ska", "skb", "theta"))
              .cast(LongType))
          .select(col("type_a"), col("type_b"), col("theta"), col("n_common"),
            expr(Kmv.intersectEstimateSparkSql("n_common", "theta"))
              .as("approx_both"))
          .orderBy("type_a", "type_b")
      },
      Some(s"""WITH h AS (
                 SELECT event_type,
                        ${graft.functions.Kmv.hashDuckSql("user_id")} AS h
                 FROM events WHERE user_id IS NOT NULL),
               sk AS (
                 SELECT event_type,
                        ${graft.functions.Kmv.sketchDuckSql("h", 64)} AS sk
                 FROM h GROUP BY 1),
               pr AS (
                 SELECT a.event_type AS type_a, b.event_type AS type_b,
                        a.sk AS ska, b.sk AS skb,
                        LEAST(${graft.functions.Kmv.thetaDuckSql("a.sk", 64)},
                              ${graft.functions.Kmv.thetaDuckSql("b.sk", 64)})
                          AS theta
                 FROM sk a JOIN sk b ON a.event_type < b.event_type),
               c AS (
                 SELECT type_a, type_b, theta,
                        CAST(${graft.functions.Kmv
                          .commonBelowDuckSql("ska", "skb", "theta")}
                          AS BIGINT) AS n_common
                 FROM pr)
               SELECT type_a, type_b, theta, n_common,
                      ${graft.functions.Kmv
                        .intersectEstimateDuckSql("n_common", "theta")}
                        AS approx_both
               FROM c ORDER BY type_a, type_b""")),

    // Salted two-phase aggregate (SURVEY §7.5 skew path): result must be
    // identical to the plain GROUP BY — the salt only re-partitions.
    Entry(
      "skew_salted_agg",
      (s, dir) => {
        val ev = Tables(s, dir, "events")
          .select(col("event_id"), col("event_type"),
            floor(col("value") * lit(1e4)).cast(LongType).as("v"))
        graft.operators.Salting
          .saltedSumCount(ev, Seq("event_type"), "v", 8, col("event_id"))
          .select(col("event_type"), col("cnt"),
            (col("sum_v").cast(DoubleType) / lit(1e4)).as("sum_value"))
          .orderBy("event_type")
      },
      Some("""SELECT event_type, COUNT(*) AS cnt,
                     CAST(CAST(SUM(CAST(FLOOR(value * 1e4) AS BIGINT))
                               AS BIGINT) AS DOUBLE) / 1e4 AS sum_value
              FROM events GROUP BY event_type ORDER BY event_type""")),

    // ⊕ join-size pre-flight: estimate the output cardinality of a
    // planned join from per-key counts BEFORE running it — here the
    // quadratic-risk case, a self-join of lineitem on l_partkey
    // ("bought-together" analyses): est = Σ n_k², plus the top
    // contributing keys with their share. This is the instrument that
    // decides salting / AQE skew-join / broadcast before a 100 TB join:
    // the counts relation is |keys| rows from ONE partial-agg scan on
    // exactly the partitioning the real join would shuffle on, the
    // total is a one-row broadcast, and top-k compiles to
    // TakeOrderedAndProject. Complements skew_key_report (one-side
    // distribution) with the cross-side product estimate.
    Entry(
      "j11_join_size_estimate",
      (s, dir) => {
        val c = Tables(s, dir, "lineitem").groupBy("l_partkey")
          .agg(count(lit(1)).cast(LongType).as("n"))
        val tot = c.agg(sum(expr("n * n")).cast(LongType).as("est_total"))
        c.withColumn("n_sq", expr("n * n").cast(LongType))
          .crossJoin(broadcast(tot))
          .select(col("l_partkey"), col("n"), col("n_sq"), col("est_total"),
            (col("n_sq").cast(DoubleType) / col("est_total").cast(DoubleType))
              .as("pct"))
          .orderBy(desc("n"), asc("l_partkey")).limit(10)
      },
      Some("""WITH c AS (
                SELECT l_partkey, CAST(COUNT(*) AS BIGINT) AS n
                FROM lineitem GROUP BY 1),
              t AS (SELECT CAST(SUM(n * n) AS BIGINT) AS est_total FROM c)
              SELECT l_partkey, n, CAST(n * n AS BIGINT) AS n_sq, est_total,
                     CAST(n * n AS DOUBLE) / CAST(est_total AS DOUBLE) AS pct
              FROM c, t
              ORDER BY n DESC, l_partkey ASC LIMIT 10""")),

    // ⊕ skew diagnostics: the report run BEFORE deciding to salt — the
    // group-size distribution of a join/agg key (exact interpolated
    // percentiles over per-key counts) whose max/p50 ratio flags hot
    // keys. Two tiny aggregates; the counts relation is |keys| rows, so
    // this costs one partial-agg scan at any corpus size.
    Entry(
      "skew_key_report",
      (s, dir) => {
        val counts = Tables(s, dir, "orders")
          .groupBy("o_custkey").agg(count(lit(1)).as("n"))
        counts.agg(
          count(lit(1)).as("n_keys"),
          max(col("n")).as("max_n"),
          expr("percentile(n, 0.5)").as("p50"),
          expr("percentile(n, 0.99)").as("p99"))
      },
      Some("""WITH c AS (SELECT o_custkey, COUNT(*) AS n
                         FROM orders GROUP BY 1)
              SELECT COUNT(*) AS n_keys, CAST(MAX(n) AS BIGINT) AS max_n,
                     QUANTILE_CONT(n, 0.5) AS p50,
                     QUANTILE_CONT(n, 0.99) AS p99
              FROM c""")),

    // Full outer join (⊕): both unmatched sides survive with NULLs —
    // completes the join-type matrix (inner/left/semi/anti/cross live in
    // j1/j2/j5/j6/sim_knn_brute).
    Entry(
      "j7_full_outer",
      (s, dir) => {
        val hi = Tables(s, dir, "orders").filter(col("o_totalprice") > 400000)
          .groupBy("o_custkey").agg(count(lit(1)).as("n_big"))
        val c = Tables(s, dir, "customer").filter(col("c_acctbal") < 0)
          .select(col("c_custkey"), col("c_acctbal"))
        c.join(hi, c("c_custkey") === hi("o_custkey"), "full_outer")
          .select(col("c_custkey"), col("c_acctbal"), col("o_custkey"), col("n_big"))
      },
      Some("""SELECT c_custkey, c_acctbal, o_custkey, n_big
              FROM (SELECT c_custkey, c_acctbal FROM customer WHERE c_acctbal < 0) c
              FULL OUTER JOIN (
                SELECT o_custkey, COUNT(*) AS n_big FROM orders
                WHERE o_totalprice > 400000 GROUP BY o_custkey) o
              ON c_custkey = o_custkey""")),

    // Set ops beyond union (⊕): INTERSECT / EXCEPT with DISTINCT
    // semantics — both compile to aggregate + semi/anti join shapes.
    Entry(
      "u2_intersect",
      (s, dir) => {
        val a = Tables(s, dir, "orders").filter(col("o_totalprice") > 300000)
          .select(col("o_custkey").as("custkey"))
        val b = Tables(s, dir, "customer").filter(col("c_acctbal") > 0)
          .select(col("c_custkey").as("custkey"))
        a.intersect(b)
      },
      Some("""SELECT o_custkey AS custkey FROM orders WHERE o_totalprice > 300000
              INTERSECT
              SELECT c_custkey FROM customer WHERE c_acctbal > 0""")),

    Entry(
      "u3_except",
      (s, dir) => {
        val a = Tables(s, dir, "customer").select(col("c_custkey").as("custkey"))
        val b = Tables(s, dir, "orders").select(col("o_custkey").as("custkey"))
        a.except(b)
      },
      Some("""SELECT c_custkey AS custkey FROM customer
              EXCEPT
              SELECT o_custkey FROM orders""")),

    // ⊕ multiset set ops: INTERSECT ALL / EXCEPT ALL keep duplicate
    // multiplicity (min / truncated difference of per-value counts) —
    // the bag semantics reconciliation queries need when the column is
    // non-unique. Spark's intersectAll/exceptAll compile to a count-
    // aggregated join, not a row-pairing shuffle, so multiplicity
    // handling is one hash aggregate per side.
    Entry(
      "u4_intersect_all",
      (s, dir) => {
        val o = Tables(s, dir, "orders")
        o.filter(col("o_orderstatus") === "O")
          .select(col("o_custkey").as("custkey"))
          .intersectAll(o.filter(col("o_orderpriority") === "1-URGENT")
            .select(col("o_custkey").as("custkey")))
          .orderBy("custkey")
      },
      Some("""SELECT o_custkey AS custkey FROM orders WHERE o_orderstatus = 'O'
              INTERSECT ALL
              SELECT o_custkey FROM orders WHERE o_orderpriority = '1-URGENT'
              ORDER BY custkey""")),
    Entry(
      "u5_except_all",
      (s, dir) => {
        val o = Tables(s, dir, "orders")
        o.filter(col("o_orderstatus") === "O")
          .select(col("o_custkey").as("custkey"))
          .exceptAll(o.filter(col("o_orderpriority") === "1-URGENT")
            .select(col("o_custkey").as("custkey")))
          .orderBy("custkey")
      },
      Some("""SELECT o_custkey AS custkey FROM orders WHERE o_orderstatus = 'O'
              EXCEPT ALL
              SELECT o_custkey FROM orders WHERE o_orderpriority = '1-URGENT'
              ORDER BY custkey""")),

    // Pivot-style conditional aggregation (⊕): one row per group, one
    // column per category — FILTER aggregates, the dialect-portable form.
    Entry(
      "a10_pivot",
      (s, dir) => Tables(s, dir, "orders")
        .groupBy("o_orderpriority")
        .agg(
          count(when(col("o_orderstatus") === "F", 1)).as("n_f"),
          count(when(col("o_orderstatus") === "O", 1)).as("n_o"),
          count(when(col("o_orderstatus") === "P", 1)).as("n_p"))
        .orderBy("o_orderpriority"),
      Some("""SELECT o_orderpriority,
                     COUNT(*) FILTER (WHERE o_orderstatus = 'F') AS n_f,
                     COUNT(*) FILTER (WHERE o_orderstatus = 'O') AS n_o,
                     COUNT(*) FILTER (WHERE o_orderstatus = 'P') AS n_p
              FROM orders GROUP BY o_orderpriority
              ORDER BY o_orderpriority""")),

    // Exact median via interpolated percentile (⊕): both engines use
    // linear interpolation on the ordered set (percentile ≡ quantile_cont).
    Entry(
      "a11_median",
      (s, dir) => Tables(s, dir, "orders")
        .groupBy("o_orderstatus")
        .agg(expr("percentile(o_totalprice, 0.5)").as("median_price"))
        .orderBy("o_orderstatus"),
      Some("""SELECT o_orderstatus,
                     QUANTILE_CONT(o_totalprice, 0.5) AS median_price
              FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""")),

    // ⊕ tail-latency percentiles: exact interpolated p50/p95/p99 per
    // group (a11's percentile ≡ quantile_cont equivalence, swept across
    // the quantiles an ops dashboard publishes). Exact percentile sorts
    // within groups; at 100 TB swap in approx_percentile and take the
    // rows-only gate — this entry pins the exact semantics.
    Entry(
      "a15_percentiles",
      (s, dir) => Tables(s, dir, "events")
        .groupBy("event_type")
        .agg(
          expr("percentile(value, 0.5)").as("p50"),
          expr("percentile(value, 0.95)").as("p95"),
          expr("percentile(value, 0.99)").as("p99"))
        .orderBy("event_type"),
      Some("""SELECT event_type,
                     QUANTILE_CONT(value, 0.5) AS p50,
                     QUANTILE_CONT(value, 0.95) AS p95,
                     QUANTILE_CONT(value, 0.99) AS p99
              FROM events GROUP BY event_type ORDER BY event_type""")),

    // ⊕ approximate percentiles (Greenwald-Khanna sketch): the 100 TB
    // quantile path a15 points at — fixed-size mergeable sketch per
    // group, one partial-agg pass, NO within-group sort (exact
    // percentile must rank-pick, a full sort at corpus scale). GK
    // outputs are engine-specific, but its GUARANTEE is checkable
    // exactly: SOME rank of the returned element is within
    // n/accuracy (+1) of the target rank q·n. Under ties the element
    // occupies the whole rank INTERVAL [count(<v)+1, count(≤v)], so
    // the check is interval intersection — count(<v)+1 ≤ q·n + tol
    // AND count(≤v) ≥ q·n − tol — not a point check on count(≤v),
    // which would overshoot by up to multiplicity−1 and could fail a
    // spec-compliant GK output. So the HASHED projection is the exact
    // interpolated percentiles (the a15 pairing) plus a `within_bound`
    // BOOLEAN folding the three interval checks, each in integer
    // arithmetic (×1000 both sides: 1000·(r_lt+1) − 10·qpct·n ≤
    // n + 1000 ∧ 10·qpct·n − 1000·r_le ≤ n + 1000 ⇔ the interval
    // meets [q·n − tol, q·n + tol], tol = n/1000 + 1); the oracle
    // recomputes the exact side and states the verdict TRUE (a9's
    // pattern — a GK regression flips the boolean and fails the
    // hash). Shape: the per-group
    // sketch/exact aggregate is |groups| rows, broadcast back onto the
    // corpus for ONE rank-counting pass — two corpus scans total, no
    // window, no per-group sort beyond percentile's own rank-pick
    // (which the 100 TB deployment drops along with the verdict
    // column, keeping just the GK agg).
    Entry(
      "a21_approx_percentiles",
      (s, dir) => {
        val ev = Tables(s, dir, "events").filter(col("value").isNotNull)
        val st = ev.groupBy("event_type")
          .agg(
            count(lit(1)).as("n"),
            expr("approx_percentile(value, array(0.5, 0.95, 0.99), 1000)")
              .as("pa"),
            expr("percentile(value, array(0.5, 0.95, 0.99))").as("pe"))
          .select(col("event_type").as("g_type"), col("n"),
            element_at(col("pa"), 1).as("a50"),
            element_at(col("pa"), 2).as("a95"),
            element_at(col("pa"), 3).as("a99"),
            element_at(col("pe"), 1).as("p50"),
            element_at(col("pe"), 2).as("p95"),
            element_at(col("pe"), 3).as("p99"))
        def rankOk(rLt: Column, rLe: Column, qpct: Int): Column =
          (lit(1000L) * (rLt + 1L) - col("n") * (10L * qpct) <=
            col("n") + lit(1000L)) &&
            (col("n") * (10L * qpct) - lit(1000L) * rLe <=
              col("n") + lit(1000L))
        ev.select(col("event_type"), col("value"))
          .join(broadcast(st), col("event_type") === col("g_type"))
          .groupBy("event_type")
          .agg(
            max(col("n")).as("n"),
            max(col("p50")).as("p50"), max(col("p95")).as("p95"),
            max(col("p99")).as("p99"),
            sum(when(col("value") < col("a50"), 1L).otherwise(0L)).as("lt50"),
            sum(when(col("value") <= col("a50"), 1L).otherwise(0L)).as("le50"),
            sum(when(col("value") < col("a95"), 1L).otherwise(0L)).as("lt95"),
            sum(when(col("value") <= col("a95"), 1L).otherwise(0L)).as("le95"),
            sum(when(col("value") < col("a99"), 1L).otherwise(0L)).as("lt99"),
            sum(when(col("value") <= col("a99"), 1L).otherwise(0L)).as("le99"))
          .select(col("event_type"),
            col("n").cast(LongType).as("n_values"),
            col("p50"), col("p95"), col("p99"),
            (rankOk(col("lt50"), col("le50"), 50) &&
              rankOk(col("lt95"), col("le95"), 95) &&
              rankOk(col("lt99"), col("le99"), 99)).as("within_bound"))
          .orderBy("event_type")
      },
      Some("""SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_values,
                     QUANTILE_CONT(value, 0.5) AS p50,
                     QUANTILE_CONT(value, 0.95) AS p95,
                     QUANTILE_CONT(value, 0.99) AS p99,
                     TRUE AS within_bound
              FROM events WHERE value IS NOT NULL
              GROUP BY event_type ORDER BY event_type""")),

    // ⊕ fixed-width histogram of `value` per group: bin id from a single
    // double division + floor (bit-identical on both engines), then a
    // partial-agg count — the distribution report at any scale.
    Entry(
      "a16_value_histogram",
      (s, dir) => Tables(s, dir, "events")
        .filter(col("value").isNotNull)
        .select(col("event_type"), floor(col("value") / lit(25.0)).as("bin"))
        .groupBy("event_type", "bin")
        .agg(count(lit(1)).as("n"))
        .orderBy("event_type", "bin"),
      Some("""SELECT event_type, CAST(FLOOR(value / 25.0) AS BIGINT) AS bin,
                     COUNT(*) AS n
              FROM events WHERE value IS NOT NULL
              GROUP BY 1, 2 ORDER BY 1, 2""")),

    // ⊕ deterministic MODE: most frequent value per group as an argmax
    // over grouped counts with an explicit (n DESC, value ASC) tiebreak
    // — built-in mode() leaves ties engine-defined, which a hash gate
    // (and a reproducible pipeline) cannot accept. Tiny aggregate, then
    // a window over |groups| rows only.
    Entry(
      "a17_mode",
      (s, dir) => {
        import org.apache.spark.sql.expressions.Window
        val counts = Tables(s, dir, "orders")
          .groupBy("o_orderstatus", "o_orderpriority")
          .agg(count(lit(1)).as("n"))
        val w = Window.partitionBy("o_orderstatus")
          .orderBy(desc("n"), asc("o_orderpriority"))
        counts.withColumn("rn", row_number().over(w))
          .filter(col("rn") === 1)
          .select(col("o_orderstatus"),
            col("o_orderpriority").as("mode_priority"), col("n"))
          .orderBy("o_orderstatus")
      },
      Some("""WITH c AS (
                SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n
                FROM orders GROUP BY 1, 2),
              r AS (
                SELECT *, ROW_NUMBER() OVER (PARTITION BY o_orderstatus
                         ORDER BY n DESC, o_orderpriority ASC) AS rn
                FROM c)
              SELECT o_orderstatus, o_orderpriority AS mode_priority, n
              FROM r WHERE rn = 1 ORDER BY o_orderstatus""")),

    // ⊕ exact dispersion: population variance & stddev per group from
    // INTEGER moments — n, Σq, Σq² accumulate as exact longs (order-
    // insensitive), then var = (n·Σq² − (Σq)²)/n² is stated explicitly
    // as ONE IEEE division of two exactly-computed integers, and stddev
    // as its (correctly-rounded) sqrt. No Welford/streaming-moment
    // accumulation whose float roundoff differs by partitioning — two
    // runs on different cluster shapes are bit-identical. The Long
    // ACCUMULATORS hold to ~10⁹ rows of q ≤ 50, but the derived
    // products n·Σq² and (Σq)² would overflow 2⁶³ near 6·10⁷ rows —
    // so the variance expression forms them in DECIMAL(38,0) (Spark) /
    // HUGEINT (DuckDB), and the emit goes through Exact's 2⁵²-split
    // (rule 6: past ~2·10⁶ rows/group the derived moments exceed 2⁵³
    // and a direct wide-int→double cast is engine-defined rounding):
    // exact to ~10¹⁹ rows, correctly rounded at any size.
    Entry(
      "a18_variance_exact",
      (s, dir) => {
        val q = col("l_quantity").cast(LongType)
        val d38 = DecimalType(38, 0)
        Tables(s, dir, "lineitem")
          .groupBy("l_returnflag")
          .agg(count(lit(1)).as("n"), sum(q).as("sum_q"),
            sum(q * q).as("sumsq_q"))
          .withColumn("num",
            col("n").cast(d38) * col("sumsq_q").cast(d38) -
              col("sum_q").cast(d38) * col("sum_q").cast(d38))
          .withColumn("den", col("n").cast(d38) * col("n").cast(d38))
          .withColumn("var_pop",
            Exact.bigColToDouble("num") / Exact.bigColToDouble("den"))
          .withColumn("stddev_pop", sqrt(col("var_pop")))
          .select("l_returnflag", "n", "sum_q", "sumsq_q",
            "var_pop", "stddev_pop")
          .orderBy("l_returnflag")
      },
      Some(s"""WITH m AS (
                SELECT l_returnflag, CAST(COUNT(*) AS BIGINT) AS n,
                       CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT)
                         AS sum_q,
                       CAST(SUM(CAST(l_quantity AS BIGINT)
                              * CAST(l_quantity AS BIGINT)) AS BIGINT)
                         AS sumsq_q
                FROM lineitem GROUP BY 1),
              d AS (
                SELECT l_returnflag, n, sum_q, sumsq_q,
                       CAST(n AS HUGEINT) * sumsq_q
                         - CAST(sum_q AS HUGEINT) * sum_q AS num,
                       CAST(n AS HUGEINT) * n AS den
                FROM m)
              SELECT l_returnflag, n, sum_q, sumsq_q,
                     ${Exact.bigSqlToDouble("num")}
                       / ${Exact.bigSqlToDouble("den")} AS var_pop,
                     SQRT(${Exact.bigSqlToDouble("num")}
                       / ${Exact.bigSqlToDouble("den")}) AS stddev_pop
              FROM d ORDER BY l_returnflag""")),

    // ⊕ exact weighted average (VWAP shape): Σ(price·qty) / Σqty per
    // group, numerator accumulated as exact BIGINT micro-point×BIGINT
    // products (order-insensitive — a double Σ(p·q) would drift with
    // partition count; a DECIMAL intermediate diverges across DuckDB
    // versions, VERDICT r8 §wrong-1), denominator an exact long; the
    // emit is two IEEE divisions in a fixed order. Product envelope:
    // price·1e4 < 2³³, qty ≤ 50, rows·2³⁹ < 2⁶³ to ~10⁷ rows/group —
    // at larger scale widen the micro-points to DECIMAL(38,0).
    Entry(
      "a20_weighted_avg",
      (s, dir) => {
        val q = col("l_quantity").cast(LongType)
        Tables(s, dir, "lineitem")
          .groupBy("l_returnflag")
          .agg(
            sum(floor(col("l_extendedprice") * lit(1e4)).cast(LongType) * q)
              .as("wsum"),
            sum(q).as("sum_qty"))
          .select(col("l_returnflag"),
            (col("wsum").cast(DoubleType) / lit(1e4) /
              col("sum_qty").cast(DoubleType)).as("vwap"),
            col("sum_qty"))
          .orderBy("l_returnflag")
      },
      Some("""WITH m AS (
                SELECT l_returnflag,
                       SUM(CAST(FLOOR(l_extendedprice * 1e4) AS BIGINT)
                           * CAST(l_quantity AS BIGINT)) AS wsum,
                       CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT)
                         AS sum_qty
                FROM lineitem GROUP BY 1)
              SELECT l_returnflag,
                     CAST(wsum AS DOUBLE) / 1e4 / CAST(sum_qty AS DOUBLE)
                       AS vwap,
                     sum_qty
              FROM m ORDER BY l_returnflag""")),

    // ⊕ exact bivariate moments → correlation + covariance (extends
    // a18's exact-variance discipline to two variables): built-in
    // corr() is a running double recurrence whose rounding depends on
    // partitioning/order — ungateable AND irreproducible across
    // cluster resizes. Here every moment is an exact integer: qty as
    // BIGINT, price floor-scaled to 1e2 points, and ALL second-order
    // sums (Σxy, Σx², Σy²) accumulated in DECIMAL(38,0) (Σy² alone
    // overflows 2⁶³ past ~10⁵ rows/group; DECIMAL(38,0) holds to
    // ~10²³). The derived moments (n·Σxy−ΣxΣy etc.) exceed 2⁵³, so
    // every one is emitted through Exact.bigColToDouble's 2⁵²-split
    // (rule 6 — the direct wide-int→double cast is engine-defined
    // rounding), then one sqrt and one division, both IEEE-exact.
    // Map-side partial agg, one shuffle on the group key — corr at
    // 100 TB costs the same scan as a count.
    Entry(
      "a22_corr_exact",
      (s, dir) => {
        val d38 = DecimalType(38, 0)
        val x = col("l_quantity").cast(LongType)
        val y = floor(col("l_extendedprice") * lit(1e2)).cast(LongType)
        Tables(s, dir, "lineitem")
          .groupBy("l_returnflag")
          .agg(
            count(lit(1)).as("n"),
            sum(x).as("sx"), sum(y).as("sy"),
            sum(x.cast(d38) * y.cast(d38)).as("sxy"),
            sum(x.cast(d38) * x.cast(d38)).as("sxx"),
            sum(y.cast(d38) * y.cast(d38)).as("syy"))
          .withColumn("numv", col("n").cast(d38) * col("sxy") -
            col("sx").cast(d38) * col("sy").cast(d38))
          .withColumn("dx", col("n").cast(d38) * col("sxx") -
            col("sx").cast(d38) * col("sx").cast(d38))
          .withColumn("dy", col("n").cast(d38) * col("syy") -
            col("sy").cast(d38) * col("sy").cast(d38))
          .withColumn("n2", col("n").cast(d38) * col("n").cast(d38))
          .select(col("l_returnflag"), col("n"),
            (Exact.bigColToDouble("numv") /
              sqrt(Exact.bigColToDouble("dx") * Exact.bigColToDouble("dy")))
              .as("corr_qty_price"),
            (Exact.bigColToDouble("numv") / Exact.bigColToDouble("n2") /
              lit(1e2)).as("cov_pop"))
          .orderBy("l_returnflag")
      },
      Some(s"""WITH m AS (
                SELECT l_returnflag, CAST(COUNT(*) AS BIGINT) AS n,
                       CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sx,
                       CAST(SUM(CAST(FLOOR(l_extendedprice * 1e2) AS BIGINT))
                            AS BIGINT) AS sy,
                       SUM(CAST(l_quantity AS HUGEINT)
                           * CAST(FLOOR(l_extendedprice * 1e2) AS BIGINT)) AS sxy,
                       SUM(CAST(l_quantity AS HUGEINT)
                           * CAST(l_quantity AS BIGINT)) AS sxx,
                       SUM(CAST(CAST(FLOOR(l_extendedprice * 1e2) AS BIGINT)
                                AS HUGEINT)
                           * CAST(FLOOR(l_extendedprice * 1e2) AS BIGINT)) AS syy
                FROM lineitem GROUP BY 1),
              d AS (
                SELECT l_returnflag, n,
                       CAST(n AS HUGEINT) * sxy - CAST(sx AS HUGEINT) * sy
                         AS numv,
                       CAST(n AS HUGEINT) * sxx - CAST(sx AS HUGEINT) * sx
                         AS dx,
                       CAST(n AS HUGEINT) * syy - CAST(sy AS HUGEINT) * sy
                         AS dy,
                       CAST(n AS HUGEINT) * n AS n2
                FROM m)
              SELECT l_returnflag, n,
                     ${Exact.bigSqlToDouble("numv")} /
                       SQRT(${Exact.bigSqlToDouble("dx")}
                            * ${Exact.bigSqlToDouble("dy")})
                       AS corr_qty_price,
                     ${Exact.bigSqlToDouble("numv")} /
                       ${Exact.bigSqlToDouble("n2")} / 1e2 AS cov_pop
              FROM d ORDER BY l_returnflag""")),

    // Window functions (SURVEY §2.6: none needed for parity; first-class
    // here for the extension surface). row_number + running sum per user.
    Entry(
      "w1_window_rank",
      (s, dir) => {
        import org.apache.spark.sql.expressions.Window
        val w = Window.partitionBy("user_id").orderBy("event_id")
        Tables(s, dir, "events")
          .withColumn("rn", row_number().over(w))
          .withColumn("running_cnt",
            count(lit(1)).over(w.rowsBetween(Window.unboundedPreceding, 0)))
          .filter(col("rn") <= 3)
          .select("user_id", "event_id", "rn", "running_cnt")
      },
      Some("""SELECT user_id, event_id, rn, running_cnt FROM (
                SELECT user_id, event_id,
                       ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY event_id) AS rn,
                       COUNT(*) OVER (PARTITION BY user_id ORDER BY event_id
                                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS running_cnt
                FROM events)
              WHERE rn <= 3""")),

    // ⊕ window navigation battery: lag/lead + ntile + percent_rank over
    // a total order (event_id unique per user → deterministic).
    // percent_rank = (rank−1)/(n−1): one exact double division of small
    // ints, bit-identical on both engines.
    Entry(
      "w3_window_nav",
      (s, dir) => {
        import org.apache.spark.sql.expressions.Window
        val w = Window.partitionBy("user_id").orderBy("event_id")
        Tables(s, dir, "events")
          .select(
            col("user_id"), col("event_id"),
            lag("event_id", 1).over(w).as("prev_id"),
            lead("event_id", 1).over(w).as("next_id"),
            ntile(4).over(w).as("quartile"),
            percent_rank().over(w).as("pct_rank"))
          .orderBy("user_id", "event_id")
      },
      Some("""SELECT user_id, event_id,
                     LAG(event_id, 1) OVER w AS prev_id,
                     LEAD(event_id, 1) OVER w AS next_id,
                     CAST(NTILE(4) OVER w AS INTEGER) AS quartile,
                     PERCENT_RANK() OVER w AS pct_rank
              FROM events
              WINDOW w AS (PARTITION BY user_id ORDER BY event_id)
              ORDER BY user_id, event_id""")),

    // ⊕ time-RANGE window frame: per event, count and sum of `value`
    // over the user's trailing hour — the rolling-metric shape that a
    // ROWS frame cannot express under irregular event spacing. The frame
    // bound is integer µs on both sides (no interval-type coercion) and
    // the double sum uses floor-scaled BIGINT micro-points (the same
    // exact-integer discipline as text_bm25_topk — a DECIMAL
    // intermediate was measured to diverge across DuckDB versions via
    // the double→decimal cast), divided back to DOUBLE at emit: both
    // engines run the identical floor, exact integer sum, and one IEEE
    // division, so the hash is engine-version-independent. One shuffle
    // on user_id; at 100 TB a ts-sorted, user-bucketed events table
    // serves this without the sort.
    Entry(
      "w4_rolling_range",
      (s, dir) => {
        import org.apache.spark.sql.expressions.Window
        val w = Window.partitionBy("user_id").orderBy(col("ts_us"))
          .rangeBetween(-3600000000L, Window.currentRow)
        Tables(s, dir, "events")
          .select(col("user_id"), col("event_id"), unix_micros(col("ts")).as("ts_us"),
            floor(col("value") * lit(1e6)).cast(LongType).as("v_micro"))
          .select(col("user_id"), col("event_id"), col("ts_us"),
            count(lit(1)).over(w).as("n_1h"),
            (sum(col("v_micro")).over(w).cast(DoubleType) / lit(1e6)).as("sum_1h"))
      },
      Some("""SELECT user_id, event_id, epoch_us(ts) AS ts_us,
                     COUNT(*) OVER w AS n_1h,
                     CAST(CAST(SUM(CAST(FLOOR(value * 1e6) AS BIGINT)) OVER w
                               AS BIGINT) AS DOUBLE) / 1e6 AS sum_1h
              FROM events
              WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts)
                           RANGE BETWEEN 3600000000 PRECEDING
                                     AND CURRENT ROW)""")),

    // ⊕ sessionization via Spark's NATIVE session_window aggregate (the
    // same operator drives streaming sessionization with watermarks —
    // here in batch mode so the gate can check it). Session = events
    // per user separated by < 30 min; Spark's window is [start, end)
    // with end = last event + gap, so an event AT exactly gap distance
    // opens a new session — the oracle's gaps-and-islands form uses >=
    // to match. One shuffle on user_id; at 100 TB this is the shape a
    // ts-sorted, user-bucketed events table serves without a sort.
    Entry(
      "w2_sessionize",
      (s, dir) => Tables(s, dir, "events")
        .filter(col("user_id").isNotNull && col("ts").isNotNull)
        .groupBy(col("user_id"), session_window(col("ts"), "30 minutes").as("sw"))
        .agg(count(lit(1)).as("n_events"))
        .select(col("user_id"), col("sw.start").as("session_start"),
          col("sw.end").as("session_end"), col("n_events"))
        .orderBy("user_id", "session_start"),
      Some("""WITH e AS (
                SELECT user_id, ts FROM events
                WHERE user_id IS NOT NULL AND ts IS NOT NULL),
              marks AS (
                SELECT user_id, ts,
                       CASE WHEN LAG(ts) OVER w IS NULL
                              OR ts - LAG(ts) OVER w >= INTERVAL 30 MINUTE
                            THEN 1 ELSE 0 END AS new_sess
                FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
              sids AS (
                SELECT user_id, ts,
                       SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts
                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
                FROM marks)
              SELECT user_id,
                     MIN(ts) AS session_start,
                     MAX(ts) + INTERVAL 30 MINUTE AS session_end,
                     COUNT(*) AS n_events
              FROM sids GROUP BY user_id, sid
              ORDER BY user_id, session_start""")),

    // distribution window functions (⊕ completes the window family):
    // within-group cumulative distribution, percent rank, and quartile
    // of event value. The ORDER BY carries event_id as tiebreak so both
    // ranks and the ntile cut are total orders — cume_dist/percent_rank
    // reduce to exact integer ratios k/n and (k−1)/(n−1), the same IEEE
    // division on both engines. One shuffle on event_type.
    Entry(
      "w5_distribution",
      (s, dir) => {
        import org.apache.spark.sql.expressions.Window
        val w = Window.partitionBy("event_type")
          .orderBy(col("value"), col("event_id"))
        Tables(s, dir, "events")
          .filter(col("value").isNotNull)
          .select(col("event_id"), col("event_type"), col("value"),
            cume_dist().over(w).as("cd"),
            percent_rank().over(w).as("pr"),
            ntile(4).over(w).cast(LongType).as("quartile"))
          .orderBy("event_id")
      },
      Some("""SELECT event_id, event_type, value,
                     CUME_DIST() OVER w AS cd,
                     PERCENT_RANK() OVER w AS pr,
                     CAST(NTILE(4) OVER w AS BIGINT) AS quartile
              FROM events
              WHERE value IS NOT NULL
              WINDOW w AS (PARTITION BY event_type ORDER BY value, event_id)
              ORDER BY event_id""")),

    // ⊕ exponential moving average with EXACT integer arithmetic: the
    // classic recursive EWMA is IEEE-order-sensitive (a fold of doubles
    // whose rounding depends on evaluation order — ungateable), so this
    // is the truncated-geometric form: weights 2^(K-1-i) over the
    // trailing K=8 rows, normalizer 2^K−1. All weighting is BIGINT on
    // micro-points; ONE IEEE division by the exact constant 255e6 at
    // emit — bit-identical on both engines, and each term is a lag over
    // the same one user_id shuffle (no per-row subqueries). Rows before
    // the window fills are dropped (a partial window would change the
    // normalizer). At 100 TB: one window pass over a ts-sorted,
    // user-bucketed table, no extra shuffle vs any other window query.
    Entry(
      "w6_ewma",
      (s, dir) => {
        import org.apache.spark.sql.expressions.Window
        val k = 8
        val w = Window.partitionBy("user_id").orderBy("event_id")
        val ev = Tables(s, dir, "events")
          .filter(col("value").isNotNull && col("user_id").isNotNull)
          .select(col("user_id"), col("event_id"),
            floor(col("value") * lit(1e6)).cast(LongType).as("v"))
        val wsum = (0 until k).map { i =>
          coalesce(lag(col("v"), i).over(w), lit(0L)) * lit(1L << (k - 1 - i))
        }.reduce(_ + _)
        ev.select(col("user_id"), col("event_id"),
            row_number().over(w).as("rn"), wsum.as("wsum"))
          .filter(col("rn") >= k)
          .select(col("user_id"), col("event_id"),
            (col("wsum").cast(DoubleType) / lit(255e6)).as("ewma"))
          .orderBy("user_id", "event_id")
      },
      Some("""WITH e AS (
                SELECT user_id, event_id,
                       CAST(FLOOR(value * 1e6) AS BIGINT) AS v
                FROM events
                WHERE value IS NOT NULL AND user_id IS NOT NULL),
              l AS (
                SELECT user_id, event_id,
                       ROW_NUMBER() OVER w AS rn,
                       v * 128
                       + COALESCE(LAG(v, 1) OVER w, 0) * 64
                       + COALESCE(LAG(v, 2) OVER w, 0) * 32
                       + COALESCE(LAG(v, 3) OVER w, 0) * 16
                       + COALESCE(LAG(v, 4) OVER w, 0) * 8
                       + COALESCE(LAG(v, 5) OVER w, 0) * 4
                       + COALESCE(LAG(v, 6) OVER w, 0) * 2
                       + COALESCE(LAG(v, 7) OVER w, 0)  AS wsum
                FROM e WINDOW w AS (PARTITION BY user_id ORDER BY event_id))
              SELECT user_id, event_id,
                     CAST(CAST(wsum AS BIGINT) AS DOUBLE) / 255e6 AS ewma
              FROM l WHERE rn >= 8
              ORDER BY user_id, event_id""")),

    // ⊕ rolling least-squares slope over the trailing K=8 rows (the
    // exact trend detector behind per-entity drift alerts): with x
    // fixed at the window positions 0..7, the OLS slope reduces to
    // Σ wᵢ·yᵢ / 84 with integer weights wᵢ = 7−2i ∈ {±1,±3,±5,±7}.
    // The weights are 2·(x−x̄), so the dot product is 2·Sxy and the
    // divisor is 2·Sxx = 2·42 = 84 — pinned against Spark's own
    // covar_pop/var_pop slope in RelationalSpec. The statistic is a
    // BIGINT dot product over the SAME one user_id window as w6,
    // two exact-constant divisions at emit.
    // Partial windows are dropped (the weights assume K points).
    Entry(
      "w7_rolling_slope",
      (s, dir) => {
        import org.apache.spark.sql.expressions.Window
        val k = 8
        val w = Window.partitionBy("user_id").orderBy("event_id")
        val ev = Tables(s, dir, "events")
          .filter(col("value").isNotNull && col("user_id").isNotNull)
          .select(col("user_id"), col("event_id"),
            floor(col("value") * lit(1e6)).cast(LongType).as("v"))
        // lag i holds the row i steps back: weight 7−2i (newest ⇒ +7)
        val wsum = (0 until k).map { i =>
          coalesce(lag(col("v"), i).over(w), lit(0L)) * lit((7 - 2 * i).toLong)
        }.reduce(_ + _)
        ev.select(col("user_id"), col("event_id"),
            row_number().over(w).as("rn"), wsum.as("wsum"))
          .filter(col("rn") >= k)
          .select(col("user_id"), col("event_id"),
            (col("wsum").cast(DoubleType) / lit(84.0) / lit(1e6))
              .as("slope"))
          .orderBy("user_id", "event_id")
      },
      Some("""WITH e AS (
                SELECT user_id, event_id,
                       CAST(FLOOR(value * 1e6) AS BIGINT) AS v
                FROM events
                WHERE value IS NOT NULL AND user_id IS NOT NULL),
              l AS (
                SELECT user_id, event_id,
                       ROW_NUMBER() OVER w AS rn,
                       v * 7
                       + COALESCE(LAG(v, 1) OVER w, 0) * 5
                       + COALESCE(LAG(v, 2) OVER w, 0) * 3
                       + COALESCE(LAG(v, 3) OVER w, 0) * 1
                       + COALESCE(LAG(v, 4) OVER w, 0) * -1
                       + COALESCE(LAG(v, 5) OVER w, 0) * -3
                       + COALESCE(LAG(v, 6) OVER w, 0) * -5
                       + COALESCE(LAG(v, 7) OVER w, 0) * -7 AS wsum
                FROM e WINDOW w AS (PARTITION BY user_id ORDER BY event_id))
              SELECT user_id, event_id,
                     CAST(CAST(wsum AS BIGINT) AS DOUBLE) / 84.0 / 1e6
                       AS slope
              FROM l WHERE rn >= 8
              ORDER BY user_id, event_id""")),

    // distinct-audience overlap matrix between event types: for every
    // type pair (a < b), how many users did BOTH, plus each side's
    // distinct count and the Jaccard. The scale shape is deliberately
    // NOT the self-join the oracle uses: ONE user_id-keyed aggregate
    // collects each user's (bounded, ≤ #types) sorted type set, ordered
    // pairs explode map-side from that set, and the pair aggregate is
    // tiny (≤ types² rows) — the corpus is never joined against itself.
    // At 100 TB the per-type counts come from the same distinct pass and
    // broadcast onto the pair rows. (The sketch path for this — HLL
    // union via inclusion-exclusion — is audited against this exact
    // output in DistinctOverlapSpec.)
    Entry(
      "a25_distinct_overlap",
      (s, dir) => {
        val e = Tables(s, dir, "events")
          .filter(col("user_id").isNotNull && col("event_type").isNotNull)
          .select("user_id", "event_type")
        val perUser = e.groupBy("user_id")
          .agg(sort_array(collect_set(col("event_type"))).as("ts"))
        val pairs = perUser
          .select(explode(expr(
            """flatten(transform(ts, (a, i) ->
                 transform(slice(ts, i + 2, size(ts)),
                           b -> named_struct('ta', a, 'tb', b))))"""))
            .as("p"))
          .select(col("p.ta").as("type_a"), col("p.tb").as("type_b"))
        val overlap = pairs.groupBy("type_a", "type_b")
          .agg(count(lit(1)).cast(LongType).as("n_both"))
        val perType = e.distinct().groupBy("event_type")
          .agg(count(lit(1)).cast(LongType).as("nd"))
        overlap
          .join(broadcast(perType.select(
            col("event_type").as("type_a"), col("nd").as("n_a"))), "type_a")
          .join(broadcast(perType.select(
            col("event_type").as("type_b"), col("nd").as("n_b"))), "type_b")
          .select(col("type_a"), col("type_b"),
            col("n_a"), col("n_b"), col("n_both"),
            (col("n_both").cast(DoubleType) /
              (col("n_a") + col("n_b") - col("n_both")).cast(DoubleType))
              .as("jaccard"))
          .orderBy("type_a", "type_b")
      },
      Some("""WITH d AS (
                SELECT DISTINCT user_id, event_type FROM events
                WHERE user_id IS NOT NULL AND event_type IS NOT NULL),
              p AS (
                SELECT a.event_type AS type_a, b.event_type AS type_b,
                       CAST(COUNT(*) AS BIGINT) AS n_both
                FROM d a JOIN d b
                  ON a.user_id = b.user_id AND a.event_type < b.event_type
                GROUP BY 1, 2),
              c AS (
                SELECT event_type, CAST(COUNT(*) AS BIGINT) AS nd
                FROM d GROUP BY 1)
              SELECT type_a, type_b, ca.nd AS n_a, cb.nd AS n_b, n_both,
                     CAST(n_both AS DOUBLE) /
                       CAST(ca.nd + cb.nd - n_both AS DOUBLE) AS jaccard
              FROM p
              JOIN c ca ON ca.event_type = p.type_a
              JOIN c cb ON cb.event_type = p.type_b
              ORDER BY type_a, type_b""")),

    // ⊕ AMS second-moment sketch: F₂ = Σ n_k² (the self-join size
    // j11 computes exactly) from 125 signed BIGINT counters in ONE
    // pass — no per-key aggregate at all. The md5-bit sign family makes
    // the whole sketch ORACLE-CHECKABLE: every S_j, group sum, picked
    // median, and the exact F₂ are integers both engines compute
    // bit-identically; the emitted ratio documents the estimator's
    // accuracy on this corpus (AmsSketchSpec asserts its envelope and
    // mergeability). 100 TB story: j11's exact path shuffles |keys|
    // rows; this state is 125 longs, merged by addition — the pre-flight
    // you can afford on every candidate join key.
    Entry(
      "a26_ams_f2",
      (s, dir) => {
        import graft.operators.AmsSketch
        val e = Tables(s, dir, "events").filter(col("user_id").isNotNull)
          .select(col("user_id").cast(StringType).as("it"))
        val (groups, per) = (5, 25)
        // sketch arm and exact arm are independent one-row reductions
        // over the same projection, fused only at the final ratio —
        // overlap their corpus passes (guide §2.6, core.Materialize)
        val Seq(est, exact) = Materialize.all(
          AmsSketch.estimateF2(
            AmsSketch.signedSums(e, "it", groups * per), groups, per),
          e.groupBy("it").agg(count(lit(1)).as("n"))
            .agg(sum(expr("n * n")).cast(LongType).as("exact_f2")))
        est.crossJoin(broadcast(exact))
          .select(col("est_f2"), col("exact_f2"),
            (col("est_f2") / col("exact_f2").cast(DoubleType)).as("ratio"))
      },
      Some("""WITH e AS (
                SELECT md5(CAST(user_id AS VARCHAR)) AS h,
                       CAST(user_id AS VARCHAR) AS it
                FROM events WHERE user_id IS NOT NULL),
              reps AS (SELECT CAST(unnest(range(0, 125)) AS BIGINT) AS j),
              sg AS (
                SELECT j,
                       2 * ((strpos('0123456789abcdef',
                                    substring(h, CAST(1 + j // 4 AS INT), 1))
                             - 1)
                            // (CASE j % 4 WHEN 0 THEN 1 WHEN 1 THEN 2
                                           WHEN 2 THEN 4 ELSE 8 END) % 2)
                       - 1 AS sgn
                FROM e, reps),
              s AS (SELECT j, CAST(SUM(sgn) AS BIGINT) AS s
                    FROM sg GROUP BY j),
              g AS (SELECT j // 25 AS g, CAST(SUM(s * s) AS BIGINT) AS gs
                    FROM s GROUP BY 1),
              med AS (SELECT gs AS med_group_sum FROM g
                      ORDER BY gs LIMIT 1 OFFSET 2),
              ex AS (SELECT CAST(SUM(n * n) AS BIGINT) AS exact_f2
                     FROM (SELECT it, CAST(COUNT(*) AS BIGINT) AS n
                           FROM e GROUP BY 1))
              SELECT CAST(med_group_sum AS DOUBLE) / 25.0 AS est_f2,
                     exact_f2,
                     CAST(med_group_sum AS DOUBLE) / 25.0
                       / CAST(exact_f2 AS DOUBLE) AS ratio
              FROM med, ex""")),

    // ⊕ EXACT global quantiles via blocked rank-picks
    // (operators/ExactRank): the third point of the quantile triangle —
    // a15's percentile() is exact but buffers a whole group per agg
    // state, a21's GK sketch is bounded but approximate; this is exact
    // AND bounded. Grid-cell the value (monotone ⇒ cell-major order IS
    // value order), prefix-sum the ≤256-row cell counts, rank within
    // cells (partitioned window), pick ⌈q·n⌉ — no global sort, no
    // one-partition window, shuffles on the cell id only. Lower-discrete
    // convention: the emitted value is FROM the data, bit-stable across
    // engines (no interpolation arithmetic to disagree on).
    Entry(
      "a27_exact_quartiles",
      (s, dir) => {
        val li = Tables(s, dir, "lineitem")
          .select(expr("CAST(floor(l_extendedprice * 1e4) AS BIGINT)")
            .as("price_micro"))
        graft.operators.ExactRank
          .quantilePicks(li, "price_micro", Seq(0.25, 0.5, 0.75))
          .select(col("q"), col("rank"),
            (col("price_micro").cast(DoubleType) / lit(1e4)).as("price"))
          .orderBy("q")
      },
      Some("""WITH v AS (
                SELECT CAST(floor(l_extendedprice * 1e4) AS BIGINT) AS pm
                FROM lineitem),
              r AS (
                SELECT pm, ROW_NUMBER() OVER (ORDER BY pm) AS rank FROM v),
              n AS (SELECT COUNT(*) AS n FROM v)
              SELECT CAST(q AS DOUBLE) AS q, rank,
                     CAST(pm AS DOUBLE) / 1e4 AS price
              FROM r, n,
                   (VALUES (CAST(0.25 AS DOUBLE)), (CAST(0.5 AS DOUBLE)),
                           (CAST(0.75 AS DOUBLE))) AS qs(q)
              WHERE rank = CAST(CEIL(q * n) AS BIGINT)
              ORDER BY q""")),

    // ⊕ equi-DEPTH histogram (the pair to a16's equi-width): 8 buckets
    // of equal row mass with their value boundaries — what CBO column
    // statistics and z-order range-splits actually consume (equi-width
    // starves on skew: one hot cell, many empties). Built on the same
    // blocked exact-rank substrate as a27: bucket = ⌈rank·k/n⌉ in pure
    // integer arithmetic (identical on both engines), then a bounded
    // k-row aggregate. No global sort, no one-partition window.
    Entry(
      "a28_equidepth_bins",
      (s, dir) => {
        val ev = Tables(s, dir, "events")
          .filter(col("value").isNotNull)
          .select(expr("CAST(floor(value * 1e6) AS BIGINT)").as("v_micro"))
        graft.operators.ExactRank.withGlobalRank(ev, "v_micro")
          .withColumn("bin",
            expr("CAST((rank * 8 + _n - 1) DIV _n AS BIGINT)"))
          .groupBy("bin")
          .agg(
            (min(col("v_micro")).cast(DoubleType) / lit(1e6)).as("lo"),
            (max(col("v_micro")).cast(DoubleType) / lit(1e6)).as("hi"),
            count(lit(1)).cast(LongType).as("n_rows"))
          .orderBy("bin")
      },
      Some("""WITH v AS (
                SELECT CAST(floor(value * 1e6) AS BIGINT) AS vm
                FROM events WHERE value IS NOT NULL),
              r AS (
                SELECT vm, ROW_NUMBER() OVER (ORDER BY vm) AS rank,
                       COUNT(*) OVER () AS n
                FROM v),
              b AS (SELECT vm, (rank * 8 + n - 1) // n AS bin FROM r)
              SELECT CAST(bin AS BIGINT) AS bin,
                     CAST(MIN(vm) AS DOUBLE) / 1e6 AS lo,
                     CAST(MAX(vm) AS DOUBLE) / 1e6 AS hi,
                     CAST(COUNT(*) AS BIGINT) AS n_rows
              FROM b GROUP BY bin ORDER BY bin""")),

    // running DISTINCT count per group over time ("unique users seen to
    // date, per event type, per day") — the growth curve every
    // dashboard asks for. The naive form, COUNT(DISTINCT) over a
    // running window, Spark refuses outright and any engine pays
    // O(days·users) for; the scale shape is the FIRST-OCCURRENCE
    // decomposition: one (type, user) aggregate finds each user's
    // first-seen day, a tiny (type, day) count of debuts, and the
    // running sum is a window over ≤ |types|·|days| rows — corpus
    // touched once, cumulative work independent of corpus size.
    Entry(
      "w8_cumulative_distinct",
      (s, dir) => {
        import org.apache.spark.sql.expressions.Window
        val first = Tables(s, dir, "events")
          .filter(col("user_id").isNotNull)
          .select(col("event_type"), col("user_id"),
            to_date(col("ts")).as("day"))
          .groupBy("event_type", "user_id")
          .agg(min(col("day")).as("debut"))
        val daily = first.groupBy(col("event_type"), col("debut").as("day"))
          .agg(count(lit(1)).as("n_new_users"))
        val w = Window.partitionBy("event_type").orderBy("day")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        daily.select(col("event_type"), col("day"),
            col("n_new_users").cast(LongType).as("n_new_users"),
            sum(col("n_new_users")).over(w).cast(LongType).as("cum_users"))
          .orderBy("event_type", "day")
      },
      Some("""WITH first AS (
                SELECT event_type, user_id, MIN(CAST(ts AS DATE)) AS debut
                FROM events WHERE user_id IS NOT NULL
                GROUP BY event_type, user_id),
              daily AS (
                SELECT event_type, debut AS day, COUNT(*) AS n_new_users
                FROM first GROUP BY event_type, debut)
              SELECT event_type, day,
                     CAST(n_new_users AS BIGINT) AS n_new_users,
                     CAST(SUM(n_new_users) OVER (
                       PARTITION BY event_type ORDER BY day
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                       AS BIGINT) AS cum_users
              FROM daily ORDER BY event_type, day"""))
  )
}
