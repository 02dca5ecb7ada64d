package graft.queries

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, LongType}

import graft.core.{Materialize, Tables}
import graft.operators.Graph

/** Graph-analytics inventory (⊕ beyond reference parity) over the item
  * id carried in `events.props` (`{"k": <item>}`): co-occurrence and
  * PageRank on the per-user transition graph.
  *
  * Both gates are exact: co-occurrence runs with the cap above the true
  * per-user distinct count (self-join semantics), and PageRank is
  * fixed-point integer arithmetic, so the unrolled-CTE oracle matches
  * hash-for-hash — see `operators/Graph.scala`.
  */
object GraphOps {

  private val SCALE = 1000000000000L // one unit of PageRank mass

  /** The shared `(user_id, ts, event_id, item)` projection every graph
    * entry derives from `events.props` — with the JSON parse SPREAD
    * across cores (guide §2.5): the parse is the entries' heaviest
    * per-row stage, and a scan planned from few files would otherwise
    * serialize it on one task (profiled r18: 0.5 s single-task scan
    * stages repeated 2–3× per graph entry). The spread keys on
    * `user_id`, the column the transition window partitions by next,
    * so the window can reuse the partitioning. No-op when the scan
    * already plans ≥ defaultParallelism splits (corpus scale). */
  private def itemEvents(s: org.apache.spark.sql.SparkSession,
                         dir: String): org.apache.spark.sql.DataFrame =
    graft.core.Partitioning.spread(
        Tables(s, dir, "events")
          .select(col("user_id"), col("ts"), col("event_id"), col("props")),
        col("user_id"))
      .select(col("user_id"), col("ts"), col("event_id"),
        get_json_object(col("props"), "$.k").cast(LongType).as("item"))
      .filter(col("item").isNotNull)

  val entries: Seq[Entry] = Seq(

    // users-who-touched-both item pairs, top 20 by support. The operator
    // folds per-user capped item arrays and expands pairs map-side; the
    // oracle states the same semantics as the naive distinct self-join.
    Entry(
      "g1_item_cooccurrence",
      (s, dir) => {
        // spread the JSON parse (guide §2.5), keyed on the column the
        // co-occurrence fold groups by next — itemEvents' discipline
        val ev = graft.core.Partitioning.spread(
            Tables(s, dir, "events").select(col("user_id"), col("props")),
            col("user_id"))
          .select(col("user_id"),
            get_json_object(col("props"), "$.k").cast(LongType).as("item"))
        Graph.cooccurrence(ev, "user_id", "item", maxItemsPerUser = 1000)
          .orderBy(col("n_users").desc, col("item_a"), col("item_b"))
          .limit(20)
      },
      Some("""WITH it AS (
                SELECT DISTINCT user_id, CAST(props->>'$.k' AS BIGINT) AS item
                FROM events
                WHERE user_id IS NOT NULL AND (props->>'$.k') IS NOT NULL)
              SELECT a.item AS item_a, b.item AS item_b,
                     CAST(COUNT(*) AS BIGINT) AS n_users
              FROM it a JOIN it b
                ON a.user_id = b.user_id AND a.item < b.item
              GROUP BY 1, 2
              ORDER BY n_users DESC, item_a, item_b LIMIT 20""")),

    // 3 rounds of damping-0.85 PageRank over the per-user item
    // transition graph, exact fixed-point integers. The oracle unrolls
    // the identical recurrence as three CTE stages — the independent
    // relational formulation of the same iteration.
    Entry(
      "g2_pagerank",
      (s, dir) => {
        // one corpus pass: the parsed projection feeds 2+ scans
        // (count/nodes/edges or per-round jobs) — materialize once
        val ev = Materialize(itemEvents(s, dir))
        val edges = Graph.transitionEdges(ev, "user_id", "ts", "event_id", "item")
        val nodes = ev.select(col("item").as("node")).distinct()
        Graph.pageRank(nodes, edges, iterations = 3, scale = SCALE)
          .orderBy("node")
      },
      Some(s"""WITH ev AS (
                SELECT user_id, ts, event_id,
                       CAST(props->>'$$.k' AS BIGINT) AS item
                FROM events),
              ev2 AS (SELECT * FROM ev WHERE item IS NOT NULL),
              tr AS (
                SELECT item,
                       LAG(item) OVER (PARTITION BY user_id
                                       ORDER BY ts, event_id) AS prev
                FROM ev2),
              edges AS (
                SELECT prev AS src, item AS dst, CAST(COUNT(*) AS BIGINT) AS cnt
                FROM tr WHERE prev IS NOT NULL GROUP BY 1, 2),
              outdeg AS (
                SELECT src, CAST(SUM(cnt) AS BIGINT) AS out_cnt
                FROM edges GROUP BY 1),
              e AS (
                SELECT edges.src, edges.dst, edges.cnt, outdeg.out_cnt
                FROM edges JOIN outdeg USING (src)),
              nodes AS (SELECT DISTINCT item AS node FROM ev2),
              p AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM nodes),
              r0 AS (
                SELECT node, ${SCALE} // (SELECT n FROM p) AS pr FROM nodes),
              c1 AS (
                SELECT e.dst, SUM((r.pr * e.cnt) // e.out_cnt) AS s
                FROM e JOIN r0 r ON e.src = r.node GROUP BY 1),
              r1 AS (
                SELECT n.node,
                       (${15L * SCALE} // (100 * (SELECT n FROM p)))
                         + (85 * COALESCE(c.s, 0)) // 100 AS pr
                FROM nodes n LEFT JOIN c1 c ON n.node = c.dst),
              c2 AS (
                SELECT e.dst, SUM((r.pr * e.cnt) // e.out_cnt) AS s
                FROM e JOIN r1 r ON e.src = r.node GROUP BY 1),
              r2 AS (
                SELECT n.node,
                       (${15L * SCALE} // (100 * (SELECT n FROM p)))
                         + (85 * COALESCE(c.s, 0)) // 100 AS pr
                FROM nodes n LEFT JOIN c2 c ON n.node = c.dst),
              c3 AS (
                SELECT e.dst, SUM((r.pr * e.cnt) // e.out_cnt) AS s
                FROM e JOIN r2 r ON e.src = r.node GROUP BY 1),
              r3 AS (
                SELECT n.node,
                       (${15L * SCALE} // (100 * (SELECT n FROM p)))
                         + (85 * COALESCE(c.s, 0)) // 100 AS pr
                FROM nodes n LEFT JOIN c3 c ON n.node = c.dst)
              SELECT node, CAST(pr AS BIGINT) AS pr
              FROM r3 ORDER BY node""")),

    // personalized PageRank from seed items {0..4}: teleport mass
    // returns only to the seeds — "what does the neighborhood of these
    // items look like under random walks with restart". Same exact
    // fixed-point arithmetic, seeded r₀/teleport; oracle unrolls the
    // identical three rounds with the seed indicator as a CASE.
    Entry(
      "g3_ppr_seeded",
      (s, dir) => {
        // one corpus pass: the parsed projection feeds 2+ scans
        // (count/nodes/edges or per-round jobs) — materialize once
        val ev = Materialize(itemEvents(s, dir))
        val edges = Graph.transitionEdges(ev, "user_id", "ts", "event_id", "item")
        val nodes = ev.select(col("item").as("node")).distinct()
        val seeds = nodes.filter(col("node") < 5)
        Graph.personalizedPageRank(nodes, edges, seeds, iterations = 3,
            scale = SCALE)
          .orderBy("node")
      },
      Some(s"""WITH ev AS (
                SELECT user_id, ts, event_id,
                       CAST(props->>'$$.k' AS BIGINT) AS item
                FROM events),
              ev2 AS (SELECT * FROM ev WHERE item IS NOT NULL),
              tr AS (
                SELECT item,
                       LAG(item) OVER (PARTITION BY user_id
                                       ORDER BY ts, event_id) AS prev
                FROM ev2),
              edges AS (
                SELECT prev AS src, item AS dst, CAST(COUNT(*) AS BIGINT) AS cnt
                FROM tr WHERE prev IS NOT NULL GROUP BY 1, 2),
              outdeg AS (
                SELECT src, CAST(SUM(cnt) AS BIGINT) AS out_cnt
                FROM edges GROUP BY 1),
              e AS (
                SELECT edges.src, edges.dst, edges.cnt, outdeg.out_cnt
                FROM edges JOIN outdeg USING (src)),
              nodes AS (SELECT DISTINCT item AS node FROM ev2),
              seeds AS (SELECT node FROM nodes WHERE node < 5),
              sp AS (SELECT CAST(COUNT(*) AS BIGINT) AS ns FROM seeds),
              r0 AS (
                SELECT n.node,
                       CASE WHEN s.node IS NOT NULL
                            THEN ${SCALE} // (SELECT ns FROM sp)
                            ELSE 0 END AS pr
                FROM nodes n LEFT JOIN seeds s ON n.node = s.node),
              c1 AS (
                SELECT e.dst, SUM((r.pr * e.cnt) // e.out_cnt) AS s
                FROM e JOIN r0 r ON e.src = r.node GROUP BY 1),
              r1 AS (
                SELECT n.node,
                       CASE WHEN s.node IS NOT NULL
                            THEN ${15L * SCALE} // (100 * (SELECT ns FROM sp))
                            ELSE 0 END
                         + (85 * COALESCE(c.s, 0)) // 100 AS pr
                FROM nodes n
                  LEFT JOIN seeds s ON n.node = s.node
                  LEFT JOIN c1 c ON n.node = c.dst),
              c2 AS (
                SELECT e.dst, SUM((r.pr * e.cnt) // e.out_cnt) AS s
                FROM e JOIN r1 r ON e.src = r.node GROUP BY 1),
              r2 AS (
                SELECT n.node,
                       CASE WHEN s.node IS NOT NULL
                            THEN ${15L * SCALE} // (100 * (SELECT ns FROM sp))
                            ELSE 0 END
                         + (85 * COALESCE(c.s, 0)) // 100 AS pr
                FROM nodes n
                  LEFT JOIN seeds s ON n.node = s.node
                  LEFT JOIN c2 c ON n.node = c.dst),
              c3 AS (
                SELECT e.dst, SUM((r.pr * e.cnt) // e.out_cnt) AS s
                FROM e JOIN r2 r ON e.src = r.node GROUP BY 1),
              r3 AS (
                SELECT n.node,
                       CASE WHEN s.node IS NOT NULL
                            THEN ${15L * SCALE} // (100 * (SELECT ns FROM sp))
                            ELSE 0 END
                         + (85 * COALESCE(c.s, 0)) // 100 AS pr
                FROM nodes n
                  LEFT JOIN seeds s ON n.node = s.node
                  LEFT JOIN c3 c ON n.node = c.dst)
              SELECT node, CAST(pr AS BIGINT) AS pr
              FROM r3 ORDER BY node""")),

    // composed item-insights report: one row per item joining its
    // structural importance (3-round PageRank), attributed revenue
    // (AS-OF last-touch), and strongest co-occurrence partner (argmax
    // with an explicit tiebreak) — the dashboard artifact the graph +
    // temporal families exist to feed, verified against ONE composed
    // oracle restating all three branches relationally. Every branch
    // aggregates to item-sized relations before the final broadcast
    // joins; nothing corpus-sized crosses a join.
    Entry(
      "pipeline_item_insights",
      (s, dir) => {
        // one corpus pass (r18): the parsed projection feeds SIX plan
        // subtrees (PageRank nodes/edges/count, both as-of sides, the
        // co-occurrence fold) — spread the JSON parse across cores and
        // materialize it once, itemEvents' discipline plus the extra
        // columns this dashboard needs
        val ev = Materialize(graft.core.Partitioning.spread(
            Tables(s, dir, "events")
              .select(col("user_id"), col("ts"), col("event_id"),
                col("event_type"), col("value"), col("props")),
            col("user_id"))
          .select(col("user_id"), col("ts"), col("event_id"),
            col("event_type"), col("value"),
            get_json_object(col("props"), "$.k").cast(LongType).as("item")))
        val evi = ev.filter(col("item").isNotNull)
        // the three branches are INDEPENDENT item-sized reductions over
        // the one checkpointed corpus projection, but planned inside a
        // single final join they execute serially — each round's/branch's
        // broadcast build is a 1-task driver-future job, so the whole
        // dashboard ran as a ~5 s chain of single-task stages (profiled
        // r19 second pass). Materialize each branch from its own driver
        // thread (guide §2.6 "overlap independent jobs": actions are
        // only sequential because the driver calls them sequentially)
        // and join the item-sized results. Branch outputs are exact
        // integer/IEEE-deterministic reductions, so concurrency cannot
        // reorder anything observable.
        // the symmetric orientation rides ONE map-side explode instead
        // of a two-select self-union, so the pair subtree is consumed
        // once (same rows: each pair emits both directions either way)
        val sym = Graph.cooccurrence(evi, "user_id", "item",
            maxItemsPerUser = 1000)
          .select(explode(array(
            struct(col("item_a").as("node"), col("item_b").as("partner"),
              col("n_users")),
            struct(col("item_b").as("node"), col("item_a").as("partner"),
              col("n_users")))).as("s"))
          .select(col("s.node").as("node"), col("s.partner").as("partner"),
            col("s.n_users").as("n_users"))
        val Seq(pr, attr, top) = Materialize.all(
          Graph.pageRank(
            evi.select(col("item").as("node")).distinct(),
            Graph.transitionEdges(evi, "user_id", "ts", "event_id", "item"),
            iterations = 3, scale = SCALE),
          graft.operators.AsOfJoin.latestPrior(
              ev.filter(col("event_type") === "purchase"),
              ev.filter(col("event_type") === "click"),
              "user_id", "ts", leftCols = Seq("event_id", "value"),
              rightCols = Seq("item"), rightTiebreak = "event_id")
            .filter(col("asof_item").isNotNull)
            .groupBy(col("asof_item").as("node"))
            .agg(count(lit(1)).as("n_purchases"),
              (sum(floor(col("value") * lit(1e6)).cast(LongType))
                .cast(DoubleType) / lit(1e6)).as("revenue")),
          sym.groupBy("node")
            .agg(max(struct(col("n_users"), (-col("partner")).as("neg"),
              col("partner"))).as("m"))
            .select(col("node"), col("m.partner").as("top_partner"),
              col("m.n_users").as("partner_support")))
        pr.join(attr, Seq("node"), "left")
          .join(top, Seq("node"), "left")
          .select(col("node").as("item"), col("pr"),
            coalesce(col("n_purchases"), lit(0L)).as("n_purchases"),
            coalesce(col("revenue"), lit(0.0)).as("revenue"),
            coalesce(col("top_partner"), lit(-1L)).as("top_partner"),
            coalesce(col("partner_support"), lit(0L)).as("partner_support"))
          .orderBy("item")
      },
      Some(s"""WITH ev AS (
                SELECT user_id, ts, event_id, event_type, value,
                       CAST(props->>'$$.k' AS BIGINT) AS item
                FROM events),
              ev2 AS (SELECT * FROM ev WHERE item IS NOT NULL),
              tr AS (
                SELECT item,
                       LAG(item) OVER (PARTITION BY user_id
                                       ORDER BY ts, event_id) AS prev
                FROM ev2),
              edges AS (
                SELECT prev AS src, item AS dst, CAST(COUNT(*) AS BIGINT) AS cnt
                FROM tr WHERE prev IS NOT NULL GROUP BY 1, 2),
              outdeg AS (
                SELECT src, CAST(SUM(cnt) AS BIGINT) AS out_cnt
                FROM edges GROUP BY 1),
              e AS (
                SELECT edges.src, edges.dst, edges.cnt, outdeg.out_cnt
                FROM edges JOIN outdeg USING (src)),
              nodes AS (SELECT DISTINCT item AS node FROM ev2),
              p AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM nodes),
              r0 AS (
                SELECT node, ${SCALE} // (SELECT n FROM p) AS pr FROM nodes),
              c1 AS (
                SELECT e.dst, SUM((r.pr * e.cnt) // e.out_cnt) AS s
                FROM e JOIN r0 r ON e.src = r.node GROUP BY 1),
              r1 AS (
                SELECT n.node,
                       (${15L * 1000000000000L} // (100 * (SELECT n FROM p)))
                         + (85 * COALESCE(c.s, 0)) // 100 AS pr
                FROM nodes n LEFT JOIN c1 c ON n.node = c.dst),
              c2 AS (
                SELECT e.dst, SUM((r.pr * e.cnt) // e.out_cnt) AS s
                FROM e JOIN r1 r ON e.src = r.node GROUP BY 1),
              r2 AS (
                SELECT n.node,
                       (${15L * 1000000000000L} // (100 * (SELECT n FROM p)))
                         + (85 * COALESCE(c.s, 0)) // 100 AS pr
                FROM nodes n LEFT JOIN c2 c ON n.node = c.dst),
              c3 AS (
                SELECT e.dst, SUM((r.pr * e.cnt) // e.out_cnt) AS s
                FROM e JOIN r2 r ON e.src = r.node GROUP BY 1),
              r3 AS (
                SELECT n.node,
                       (${15L * 1000000000000L} // (100 * (SELECT n FROM p)))
                         + (85 * COALESCE(c.s, 0)) // 100 AS pr
                FROM nodes n LEFT JOIN c3 c ON n.node = c.dst),
              attr AS (
                SELECT (SELECT c.item FROM ev c
                        WHERE c.event_type = 'click'
                          AND c.user_id = p2.user_id AND c.ts <= p2.ts
                        ORDER BY c.ts DESC, c.event_id DESC LIMIT 1) AS node,
                       p2.value
                FROM ev p2 WHERE p2.event_type = 'purchase'),
              rev AS (
                SELECT node, CAST(COUNT(*) AS BIGINT) AS n_purchases,
                       CAST(CAST(SUM(CAST(FLOOR(value * 1e6) AS BIGINT))
                                 AS BIGINT) AS DOUBLE) / 1e6 AS revenue
                FROM attr WHERE node IS NOT NULL GROUP BY 1),
              it AS (
                SELECT DISTINCT user_id, item FROM ev2
                WHERE user_id IS NOT NULL),
              prs AS (
                SELECT a.item AS item_a, b.item AS item_b,
                       CAST(COUNT(*) AS BIGINT) AS n_users
                FROM it a JOIN it b
                  ON a.user_id = b.user_id AND a.item < b.item
                GROUP BY 1, 2),
              sym AS (
                SELECT item_a AS node, item_b AS partner, n_users FROM prs
                UNION ALL
                SELECT item_b, item_a, n_users FROM prs),
              top AS (
                SELECT node, partner AS top_partner,
                       n_users AS partner_support
                FROM (SELECT *, ROW_NUMBER() OVER (
                        PARTITION BY node
                        ORDER BY n_users DESC, partner ASC) AS rn
                      FROM sym)
                WHERE rn = 1)
              SELECT r3.node AS item, CAST(r3.pr AS BIGINT) AS pr,
                     CAST(COALESCE(rev.n_purchases, 0) AS BIGINT) AS n_purchases,
                     CAST(COALESCE(rev.revenue, 0) AS DOUBLE) AS revenue,
                     CAST(COALESCE(top.top_partner, -1) AS BIGINT) AS top_partner,
                     CAST(COALESCE(top.partner_support, 0) AS BIGINT)
                       AS partner_support
              FROM r3
                LEFT JOIN rev ON r3.node = rev.node
                LEFT JOIN top ON r3.node = top.node
              ORDER BY item""")),

    // per-item triangle participation over the undirected transition
    // graph — degree-ordered orientation means each triangle is built
    // from exactly one wedge at its min-(degree, id) corner; the oracle
    // restates the same orientation relationally. Exact counts, zeros
    // included, so the hash gate covers the empty-intersection rows too.
    Entry(
      "g4_triangles",
      (s, dir) => {
        val ev = itemEvents(s, dir)
        val edges = Graph.transitionEdges(ev, "user_id", "ts", "event_id", "item")
        Graph.triangleCounts(edges).orderBy("node")
      },
      Some("""WITH ev AS (
                SELECT user_id, ts, event_id,
                       CAST(props->>'$.k' AS BIGINT) AS item
                FROM events
                WHERE (props->>'$.k') IS NOT NULL),
              tr AS (
                SELECT item,
                       LAG(item) OVER (PARTITION BY user_id
                                       ORDER BY ts, event_id) AS prev
                FROM ev),
              ed AS (
                SELECT DISTINCT LEAST(prev, item) AS a,
                       GREATEST(prev, item) AS b
                FROM tr WHERE prev IS NOT NULL AND prev <> item),
              deg AS (
                SELECT node, CAST(COUNT(*) AS BIGINT) AS deg
                FROM (SELECT a AS node FROM ed
                      UNION ALL SELECT b FROM ed)
                GROUP BY 1),
              o AS (
                SELECT CASE WHEN da.deg < db.deg
                              OR (da.deg = db.deg AND ed.a < ed.b)
                            THEN ed.a ELSE ed.b END AS src,
                       CASE WHEN da.deg < db.deg
                              OR (da.deg = db.deg AND ed.a < ed.b)
                            THEN ed.b ELSE ed.a END AS dst,
                       CASE WHEN da.deg < db.deg
                              OR (da.deg = db.deg AND ed.a < ed.b)
                            THEN db.deg ELSE da.deg END AS ddeg
                FROM ed
                  JOIN deg da ON ed.a = da.node
                  JOIN deg db ON ed.b = db.node),
              wedge AS (
                SELECT o1.src AS u, o1.dst AS v, o2.dst AS w
                FROM o o1 JOIN o o2 ON o1.src = o2.src
                WHERE o1.ddeg < o2.ddeg
                   OR (o1.ddeg = o2.ddeg AND o1.dst < o2.dst)),
              tri AS (
                SELECT u, v, w FROM wedge
                JOIN o ON wedge.v = o.src AND wedge.w = o.dst),
              c AS (
                SELECT node, CAST(COUNT(*) AS BIGINT) AS n
                FROM (SELECT u AS node FROM tri
                      UNION ALL SELECT v FROM tri
                      UNION ALL SELECT w FROM tri)
                GROUP BY 1)
              SELECT deg.node, CAST(COALESCE(c.n, 0) AS BIGINT) AS n_triangles
              FROM deg LEFT JOIN c ON deg.node = c.node
              ORDER BY deg.node""")),

    // 3-hop BFS reach with exact minimum distances from a deterministic
    // seed set (items ≡ 0 mod 97) over the directed transition graph;
    // the oracle unrolls the same frontier recurrence as three
    // anti-joined CTE layers.
    Entry(
      "g5_khop_reach",
      (s, dir) => {
        // one corpus pass: the parsed projection feeds 2+ scans
        // (count/nodes/edges or per-round jobs) — materialize once
        val ev = Materialize(itemEvents(s, dir))
        val edges = Graph.transitionEdges(ev, "user_id", "ts", "event_id", "item")
        val seeds = ev.select(col("item").as("node")).distinct()
          .filter(col("node") % 97 === 0)
        Graph.kHopReach(edges, seeds, maxHops = 3).orderBy("node")
      },
      Some("""WITH ev AS (
                SELECT user_id, ts, event_id,
                       CAST(props->>'$.k' AS BIGINT) AS item
                FROM events
                WHERE (props->>'$.k') IS NOT NULL),
              tr AS (
                SELECT item,
                       LAG(item) OVER (PARTITION BY user_id
                                       ORDER BY ts, event_id) AS prev
                FROM ev),
              ed AS (
                SELECT DISTINCT prev AS src, item AS dst
                FROM tr WHERE prev IS NOT NULL),
              d0 AS (
                SELECT DISTINCT item AS node FROM ev WHERE item % 97 = 0),
              d1 AS (
                SELECT DISTINCT ed.dst AS node
                FROM ed JOIN d0 ON ed.src = d0.node
                WHERE ed.dst NOT IN (SELECT node FROM d0)),
              d2 AS (
                SELECT DISTINCT ed.dst AS node
                FROM ed JOIN d1 ON ed.src = d1.node
                WHERE ed.dst NOT IN (SELECT node FROM d0
                                     UNION ALL SELECT node FROM d1)),
              d3 AS (
                SELECT DISTINCT ed.dst AS node
                FROM ed JOIN d2 ON ed.src = d2.node
                WHERE ed.dst NOT IN (SELECT node FROM d0
                                     UNION ALL SELECT node FROM d1
                                     UNION ALL SELECT node FROM d2))
              SELECT node, CAST(dist AS BIGINT) AS dist FROM (
                SELECT node, 0 AS dist FROM d0
                UNION ALL SELECT node, 1 FROM d1
                UNION ALL SELECT node, 2 FROM d2
                UNION ALL SELECT node, 3 FROM d3)
              ORDER BY node""")),

    // ⊕ degree distribution in power-of-two buckets: the graph-shape
    // report read before choosing join strategies (a heavy tail ⇒ salt
    // or orient). Bucket = ⌊log₂ degree⌋ + 1, computed EXACTLY as the
    // bit length of the integer (LENGTH(BIN(d)) on both engines — no
    // libm log whose rounding could flip a power-of-two boundary).
    // Buckets are ≤ 64 rows however skewed the graph.
    Entry(
      "g6_degree_histogram",
      (s, dir) => {
        val ev = itemEvents(s, dir)
        val edges = Graph.transitionEdges(ev, "user_id", "ts", "event_id", "item")
        val simple = Graph.simpleUndirected(edges)
        simple.select(col("a").as("node"))
          .unionByName(simple.select(col("b").as("node")))
          .groupBy("node").agg(count(lit(1)).as("deg"))
          .groupBy(length(bin(col("deg"))).cast(LongType).as("bucket"))
          .agg(count(lit(1)).as("n_nodes"),
            min(col("deg")).as("min_degree"),
            max(col("deg")).as("max_degree"))
          .orderBy("bucket")
      },
      Some("""WITH ev AS (
                SELECT user_id, ts, event_id,
                       CAST(props->>'$.k' AS BIGINT) AS item
                FROM events
                WHERE (props->>'$.k') IS NOT NULL),
              tr AS (
                SELECT item,
                       LAG(item) OVER (PARTITION BY user_id
                                       ORDER BY ts, event_id) AS prev
                FROM ev),
              ed AS (
                SELECT DISTINCT LEAST(prev, item) AS a,
                       GREATEST(prev, item) AS b
                FROM tr WHERE prev IS NOT NULL AND prev <> item),
              deg AS (
                SELECT node, CAST(COUNT(*) AS BIGINT) AS deg
                FROM (SELECT a AS node FROM ed
                      UNION ALL SELECT b FROM ed)
                GROUP BY 1)
              SELECT CAST(LENGTH(BIN(deg)) AS BIGINT) AS bucket,
                     CAST(COUNT(*) AS BIGINT) AS n_nodes,
                     MIN(deg) AS min_degree, MAX(deg) AS max_degree
              FROM deg GROUP BY 1 ORDER BY bucket""")),

    // ⊕ bounded-radius communities: 3 rounds of synchronous min-label
    // propagation over the undirected transition graph — label(v) = min
    // node id within distance 3. The min update is what makes parallel
    // LPA deterministic (no tie-break luck), so the unrolled 3-round CTE
    // oracle matches hash-for-hash. Community sizes, not the raw label
    // table: the shape report that decides whether communities are
    // balanced enough to partition by.
    Entry(
      "g7_label_propagation",
      (s, dir) => {
        val ev = itemEvents(s, dir)
        val edges = Graph.transitionEdges(ev, "user_id", "ts", "event_id", "item")
        Graph.labelPropagation(edges, rounds = 3)
          .groupBy("label").agg(count(lit(1)).as("n_nodes"))
          .orderBy("label")
      },
      Some("""WITH ev AS (
                SELECT user_id, ts, event_id,
                       CAST(props->>'$.k' AS BIGINT) AS item
                FROM events
                WHERE (props->>'$.k') IS NOT NULL),
              tr AS (
                SELECT item,
                       LAG(item) OVER (PARTITION BY user_id
                                       ORDER BY ts, event_id) AS prev
                FROM ev),
              ed AS (
                SELECT DISTINCT prev AS a, item AS b
                FROM tr WHERE prev IS NOT NULL),
              nodes AS (
                SELECT a AS node FROM ed UNION SELECT b FROM ed),
              sym AS (
                SELECT a, b FROM ed
                UNION SELECT b, a FROM ed
                UNION SELECT node, node FROM nodes),
              l0 AS (SELECT node, node AS label FROM nodes),
              l1 AS (SELECT s.a AS node, MIN(l.label) AS label
                     FROM sym s JOIN l0 l ON l.node = s.b GROUP BY 1),
              l2 AS (SELECT s.a AS node, MIN(l.label) AS label
                     FROM sym s JOIN l1 l ON l.node = s.b GROUP BY 1),
              l3 AS (SELECT s.a AS node, MIN(l.label) AS label
                     FROM sym s JOIN l2 l ON l.node = s.b GROUP BY 1)
              SELECT label, CAST(COUNT(*) AS BIGINT) AS n_nodes
              FROM l3 GROUP BY 1 ORDER BY label""")),

    // ⊕ edge reciprocity: how much of the directed transition graph
    // flows both ways (A→B and B→A) — the one-number shape probe that
    // says whether sequences are back-and-forth loops or one-way
    // funnels. The reciprocated count is a self semi-join of the
    // distinct edge list on its own swap; ratio = IEEE division of two
    // exact counts. Self-loops are excluded (trivially reciprocal).
    Entry(
      "g8_reciprocity",
      (s, dir) => {
        val ev = itemEvents(s, dir)
        val ed = Graph.transitionEdges(ev, "user_id", "ts", "event_id", "item")
          .select("src", "dst").filter(col("src") =!= col("dst")).distinct()
        val rec = ed.join(ed.select(col("dst").as("src"), col("src").as("dst")),
          Seq("src", "dst"), "left_semi")
        ed.agg(count(lit(1)).as("n_edges"))
          .crossJoin(rec.agg(count(lit(1)).as("n_reciprocated")))
          .withColumn("reciprocity", col("n_reciprocated").cast("double") /
            col("n_edges").cast("double"))
      },
      Some("""WITH ev AS (
                SELECT user_id, ts, event_id,
                       CAST(props->>'$.k' AS BIGINT) AS item
                FROM events
                WHERE (props->>'$.k') IS NOT NULL),
              tr AS (
                SELECT item,
                       LAG(item) OVER (PARTITION BY user_id
                                       ORDER BY ts, event_id) AS prev
                FROM ev),
              ed AS (
                SELECT DISTINCT prev AS src, item AS dst
                FROM tr WHERE prev IS NOT NULL AND prev <> item),
              rec AS (
                SELECT * FROM ed
                WHERE EXISTS (SELECT 1 FROM ed e2
                              WHERE e2.src = ed.dst AND e2.dst = ed.src))
              SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM ed) AS n_edges,
                     (SELECT CAST(COUNT(*) AS BIGINT) FROM rec)
                       AS n_reciprocated,
                     CAST((SELECT COUNT(*) FROM rec) AS DOUBLE) /
                       CAST((SELECT COUNT(*) FROM ed) AS DOUBLE)
                       AS reciprocity""")),

    // ⊕ structural link prediction: neighbor-set Jaccard between item
    // pairs — J(N(a), N(b)) over the undirected transition graph, the
    // classic related-items / missing-edge score computed purely from
    // topology (no embeddings). Candidates come from the WEDGE join
    // (pairs sharing ≥1 neighbor — never the |V|² cross space), common
    // counts partial-aggregate, and the score is one IEEE division of
    // exact counts. Hub nodes make the wedge join quadratic in their
    // degree — at 100 TB cap or sample hot neighbor lists first, the
    // same hot-key discipline as the shingle-DF cap.
    Entry(
      "g10_neighbor_jaccard",
      (s, dir) => {
        val ev = itemEvents(s, dir)
        val edges = Graph.transitionEdges(ev, "user_id", "ts", "event_id", "item")
        val simple = Graph.simpleUndirected(edges)
        val adj = simple.select(col("a").as("node"), col("b").as("nbr"))
          .unionByName(simple.select(col("b").as("node"), col("a").as("nbr")))
        val deg = adj.groupBy("node").agg(count(lit(1)).as("d"))
        val com = adj.as("x")
          .join(adj.as("y"),
            col("x.nbr") === col("y.nbr") && col("x.node") < col("y.node"))
          .groupBy(col("x.node").as("a"), col("y.node").as("b"))
          .agg(count(lit(1)).as("c"))
        com
          .join(deg.select(col("node").as("a"), col("d").as("da")), "a")
          .join(deg.select(col("node").as("b"), col("d").as("db")), "b")
          .withColumn("jaccard", col("c").cast("double") /
            (col("da") + col("db") - col("c")).cast("double"))
          .filter(col("jaccard") >= 0.25)
          .select("a", "b", "jaccard")
          .orderBy("a", "b")
      },
      Some("""WITH ev AS (
                SELECT user_id, ts, event_id,
                       CAST(props->>'$.k' AS BIGINT) AS item
                FROM events
                WHERE (props->>'$.k') IS NOT NULL),
              tr AS (
                SELECT item,
                       LAG(item) OVER (PARTITION BY user_id
                                       ORDER BY ts, event_id) AS prev
                FROM ev),
              ed AS (
                SELECT DISTINCT LEAST(prev, item) AS a,
                       GREATEST(prev, item) AS b
                FROM tr WHERE prev IS NOT NULL AND prev <> item),
              adj AS (
                SELECT a AS node, b AS nbr FROM ed
                UNION ALL SELECT b, a FROM ed),
              deg AS (
                SELECT node, CAST(COUNT(*) AS BIGINT) AS d
                FROM adj GROUP BY 1),
              com AS (
                SELECT x.node AS a, y.node AS b, CAST(COUNT(*) AS BIGINT) AS c
                FROM adj x JOIN adj y
                  ON x.nbr = y.nbr AND x.node < y.node
                GROUP BY 1, 2)
              SELECT a, b,
                     CAST(c AS DOUBLE) / (da.d + db.d - c) AS jaccard
              FROM com
                JOIN deg da ON a = da.node
                JOIN deg db ON b = db.node
              WHERE CAST(c AS DOUBLE) / (da.d + db.d - c) >= 0.25
              ORDER BY a, b""")),

    // ⊕ degree-distribution report: power-of-two bucketed out-degree
    // histogram of the customer→order graph — the pre-flight that sizes
    // every other graph job (hub count decides salting; bucket spread
    // decides PR iteration cost). Two tiny aggregates (|nodes| then
    // |buckets| rows); the log₂ bucket is LENGTH(BIN(d)) — pure integer
    // string ops, no libm log.
    Entry(
      "g11_degree_distribution",
      (s, dir) => Tables(s, dir, "orders")
        .groupBy("o_custkey")
        .agg(count(lit(1)).as("d"))
        .withColumn("bucket", length(bin(col("d"))).cast(LongType))
        .groupBy("bucket")
        .agg(count(lit(1)).as("n_nodes"), max(col("d")).as("max_degree"))
        .orderBy("bucket"),
      Some("""WITH deg AS (
                SELECT o_custkey, CAST(COUNT(*) AS BIGINT) AS d
                FROM orders GROUP BY 1)
              SELECT CAST(LENGTH(BIN(d)) AS BIGINT) AS bucket,
                     CAST(COUNT(*) AS BIGINT) AS n_nodes,
                     MAX(d) AS max_degree
              FROM deg GROUP BY 1 ORDER BY bucket""")),

    // ⊕ k-core extraction: 8 synchronous peel rounds at k=8 over the
    // support-filtered (cnt ≥ 3) undirected transition graph — the
    // densest-region extractor behind web-graph curation (keep the
    // well-linked core, shed the peripheral fringe). The operator
    // early-exits at the fixed point, which is BIT-IDENTICAL to running
    // all 8 rounds (a no-op peel round proves every later round
    // identical), so the oracle can unroll exactly 8 rounds of the same
    // recurrence. Output: surviving nodes with their degree in the final
    // induced subgraph.
    Entry(
      "g12_kcore",
      (s, dir) => {
        val ev = itemEvents(s, dir)
        val edges = Graph.transitionEdges(ev, "user_id", "ts", "event_id", "item")
          .filter(col("cnt") >= 3)
        Graph.kCorePeel(edges, k = 8, rounds = 8).orderBy("node")
      },
      Some {
        val rounds = (1 to 8).map { r =>
          s"""d$r AS (
                SELECT s.u AS node, COUNT(*) AS deg
                FROM sym s JOIN n${r - 1} x ON s.u = x.node
                           JOIN n${r - 1} y ON s.v = y.node
                GROUP BY 1),
              n$r AS (SELECT node FROM d$r WHERE deg >= 8)"""
        }.mkString(",\n              ")
        s"""WITH ev AS (
                SELECT user_id, ts, event_id,
                       CAST(props->>'$$.k' AS BIGINT) AS item
                FROM events
                WHERE (props->>'$$.k') IS NOT NULL),
              tr AS (
                SELECT item,
                       LAG(item) OVER (PARTITION BY user_id
                                       ORDER BY ts, event_id) AS prev
                FROM ev),
              edges AS (
                SELECT prev AS src, item AS dst, CAST(COUNT(*) AS BIGINT) AS cnt
                FROM tr WHERE prev IS NOT NULL GROUP BY 1, 2),
              ed AS (
                SELECT DISTINCT LEAST(src, dst) AS a, GREATEST(src, dst) AS b
                FROM edges WHERE src <> dst AND cnt >= 3),
              sym AS (SELECT a AS u, b AS v FROM ed
                      UNION ALL SELECT b, a FROM ed),
              n0 AS (SELECT DISTINCT u AS node FROM sym),
              $rounds
              SELECT s.u AS node, CAST(COUNT(*) AS BIGINT) AS deg
              FROM sym s JOIN n8 x ON s.u = x.node
                         JOIN n8 y ON s.v = y.node
              GROUP BY 1 ORDER BY node"""
      }),

    // ⊕ HITS hub/authority scores: 2 rounds of the mutual-reinforcement
    // recurrence over the directed weighted transition graph, exact
    // max-normalized integer arithmetic (see Graph.hits — the ranking is
    // identical under any monotone normalization, and integer scores
    // make the unrolled oracle hash-exact). Hubs are "items that lead to
    // important items"; authorities are "items important items lead to".
    Entry(
      "g13_hits",
      (s, dir) => {
        // one corpus pass: the parsed projection feeds 2+ scans
        // (count/nodes/edges or per-round jobs) — materialize once
        val ev = Materialize(itemEvents(s, dir))
        val edges = Graph.transitionEdges(ev, "user_id", "ts", "event_id", "item")
        val nodes = ev.select(col("item").as("node")).distinct()
        Graph.hits(nodes, edges, iterations = 2, scale = 1000000L)
          .orderBy("node")
      },
      Some {
        val half = (src: String, dst: String, prev: String, out: String) =>
          s"""${out}r AS (
                SELECT e.$src AS node, SUM(p.s * e.cnt) AS r
                FROM edges e JOIN $prev p ON p.node = e.$dst GROUP BY 1),
              $out AS (
                SELECT node,
                       (r * 1000000) // (SELECT MAX(r) FROM ${out}r) AS s
                FROM ${out}r)"""
        val iter = Seq(
          half("src", "dst", "a0", "h1"), half("dst", "src", "h1", "a1"),
          half("src", "dst", "a1", "h2"), half("dst", "src", "h2", "a2"))
          .mkString(",\n              ")
        s"""WITH ev AS (
                SELECT user_id, ts, event_id,
                       CAST(props->>'$$.k' AS BIGINT) AS item
                FROM events
                WHERE (props->>'$$.k') IS NOT NULL),
              tr AS (
                SELECT item,
                       LAG(item) OVER (PARTITION BY user_id
                                       ORDER BY ts, event_id) AS prev
                FROM ev),
              edges AS (
                SELECT prev AS src, item AS dst, CAST(COUNT(*) AS BIGINT) AS cnt
                FROM tr WHERE prev IS NOT NULL GROUP BY 1, 2),
              nodes AS (SELECT DISTINCT item AS node FROM ev),
              a0 AS (SELECT node, CAST(1000000 AS HUGEINT) AS s FROM nodes),
              $iter
              SELECT n.node, CAST(COALESCE(h2.s, 0) AS BIGINT) AS hub,
                     CAST(COALESCE(a2.s, 0) AS BIGINT) AS auth
              FROM nodes n
                LEFT JOIN h2 ON n.node = h2.node
                LEFT JOIN a2 ON n.node = a2.node
              ORDER BY n.node"""
      }),

    // ⊕ degree assortativity: Pearson correlation of endpoint degrees
    // over the symmetrized stubs of the undirected transition graph —
    // THE one-number topology probe (assortative: hubs link hubs,
    // social-graph-like; disassortative: hubs link leaves, web/crawl-
    // like — decides whether hub-salting or leaf-pruning is the right
    // skew treatment downstream). Exact integer moments in
    // DECIMAL(38,0), rule-6 emit — the a22_corr discipline on graph
    // structure. Two graph-sized joins + one scalar aggregate.
    Entry(
      "g14_assortativity",
      (s, dir) => {
        import org.apache.spark.sql.types.DecimalType
        val d38 = DecimalType(38, 0)
        val ev = itemEvents(s, dir)
        val edges = Graph.transitionEdges(ev, "user_id", "ts", "event_id", "item")
        val simple = Graph.simpleUndirected(edges)
        val stubs = simple.select(col("a").as("u"), col("b").as("v"))
          .unionByName(simple.select(col("b").as("u"), col("a").as("v")))
        val deg = stubs.groupBy(col("u").as("node"))
          .agg(count(lit(1)).cast(LongType).as("d"))
        val x = col("du")
        val y = col("dv")
        stubs
          .join(deg.select(col("node").as("u"), col("d").as("du")), "u")
          .join(deg.select(col("node").as("v"), col("d").as("dv")), "v")
          .agg(
            count(lit(1)).as("n_stubs"),
            sum(x).as("sx"), sum(y).as("sy"),
            sum(x.cast(d38) * y.cast(d38)).as("sxy"),
            sum(x.cast(d38) * x.cast(d38)).as("sxx"),
            sum(y.cast(d38) * y.cast(d38)).as("syy"))
          .withColumn("numv", col("n_stubs").cast(d38) * col("sxy") -
            col("sx").cast(d38) * col("sy").cast(d38))
          .withColumn("dx", col("n_stubs").cast(d38) * col("sxx") -
            col("sx").cast(d38) * col("sx").cast(d38))
          .withColumn("dy", col("n_stubs").cast(d38) * col("syy") -
            col("sy").cast(d38) * col("sy").cast(d38))
          .select(col("n_stubs"),
            // a REGULAR graph (all degrees equal, dx = dy = 0) has no
            // defined assortativity — emit NULL, mirrored in the
            // oracle; ANSI's double division would otherwise abort
            when(col("dx") === 0 || col("dy") === 0,
              lit(null).cast(DoubleType))
              .otherwise(Exact.bigColToDouble("numv") /
                sqrt(Exact.bigColToDouble("dx") * Exact.bigColToDouble("dy")))
              .as("assortativity"))
      },
      Some(s"""WITH ev AS (
                SELECT user_id, ts, event_id,
                       CAST(props->>'$$.k' AS BIGINT) AS item
                FROM events
                WHERE (props->>'$$.k') IS NOT NULL),
              tr AS (
                SELECT item,
                       LAG(item) OVER (PARTITION BY user_id
                                       ORDER BY ts, event_id) AS prev
                FROM ev),
              ed AS (
                SELECT DISTINCT LEAST(prev, item) AS a,
                       GREATEST(prev, item) AS b
                FROM tr WHERE prev IS NOT NULL AND prev <> item),
              stubs AS (SELECT a AS u, b AS v FROM ed
                        UNION ALL SELECT b, a FROM ed),
              deg AS (
                SELECT u AS node, CAST(COUNT(*) AS BIGINT) AS d
                FROM stubs GROUP BY 1),
              m AS (
                SELECT CAST(COUNT(*) AS BIGINT) AS n_stubs,
                       CAST(SUM(da.d) AS BIGINT) AS sx,
                       CAST(SUM(db.d) AS BIGINT) AS sy,
                       SUM(CAST(da.d AS HUGEINT) * db.d) AS sxy,
                       SUM(CAST(da.d AS HUGEINT) * da.d) AS sxx,
                       SUM(CAST(db.d AS HUGEINT) * db.d) AS syy
                FROM stubs
                  JOIN deg da ON stubs.u = da.node
                  JOIN deg db ON stubs.v = db.node),
              f AS (
                SELECT n_stubs,
                       CAST(n_stubs AS HUGEINT) * sxy
                         - CAST(sx AS HUGEINT) * sy AS numv,
                       CAST(n_stubs AS HUGEINT) * sxx
                         - CAST(sx AS HUGEINT) * sx AS dx,
                       CAST(n_stubs AS HUGEINT) * syy
                         - CAST(sy AS HUGEINT) * sy AS dy
                FROM m)
              SELECT n_stubs,
                     CASE WHEN dx = 0 OR dy = 0 THEN NULL
                          ELSE ${Exact.bigSqlToDouble("numv")} /
                            sqrt(${Exact.bigSqlToDouble("dx")}
                                 * ${Exact.bigSqlToDouble("dy")}) END
                       AS assortativity
              FROM f""")),

    // ⊕ weighted shortest paths (bounded-horizon Bellman-Ford) — the
    // min-plus completion of g5's hop-count BFS: edge cost
    // 1 + 10⁶ DIV cnt makes well-trodden transitions cheap (cnt ≥ 1 by
    // construction, so the floor division is over positives and DIV ≡
    // //), seeds are the same deterministic item ≡ 0 mod 97 set, and
    // three synchronous relaxations give the exact cheapest ≤3-edge
    // path cost per reached node. Every value is an exact non-negative
    // integer, so the oracle's three unrolled min-plus CTE rounds match
    // hash-for-hash. Per round: one dist⋈edges equi-join + a min
    // aggregate — graph-sized, never path-enumerating.
    Entry(
      "g15_sssp",
      (s, dir) => {
        // one corpus pass: the parsed projection feeds 2+ scans
        // (count/nodes/edges or per-round jobs) — materialize once
        val ev = Materialize(itemEvents(s, dir))
        val edges = Graph
          .transitionEdges(ev, "user_id", "ts", "event_id", "item")
          .select(col("src"), col("dst"),
            (lit(1L) + expr("1000000L DIV cnt")).as("cost"))
        val seeds = ev.select(col("item").as("node")).distinct()
          .filter(col("node") % 97 === 0)
        Graph.ssspRounds(edges, seeds, rounds = 3).orderBy("node")
      },
      Some("""WITH ev AS (
                SELECT user_id, ts, event_id,
                       CAST(props->>'$.k' AS BIGINT) AS item
                FROM events
                WHERE (props->>'$.k') IS NOT NULL),
              tr AS (
                SELECT item,
                       LAG(item) OVER (PARTITION BY user_id
                                       ORDER BY ts, event_id) AS prev
                FROM ev),
              ec AS (
                SELECT prev AS src, item AS dst,
                       1 + 1000000 // COUNT(*) AS cost
                FROM tr WHERE prev IS NOT NULL GROUP BY 1, 2),
              d0 AS (
                SELECT DISTINCT item AS node, CAST(0 AS BIGINT) AS dist
                FROM ev WHERE item % 97 = 0),
              d1 AS (
                SELECT node, MIN(dist) AS dist FROM (
                  SELECT node, dist FROM d0
                  UNION ALL
                  SELECT e.dst AS node, d.dist + e.cost AS dist
                  FROM d0 d JOIN ec e ON e.src = d.node) GROUP BY 1),
              d2 AS (
                SELECT node, MIN(dist) AS dist FROM (
                  SELECT node, dist FROM d1
                  UNION ALL
                  SELECT e.dst AS node, d.dist + e.cost AS dist
                  FROM d1 d JOIN ec e ON e.src = d.node) GROUP BY 1),
              d3 AS (
                SELECT node, MIN(dist) AS dist FROM (
                  SELECT node, dist FROM d2
                  UNION ALL
                  SELECT e.dst AS node, d.dist + e.cost AS dist
                  FROM d2 d JOIN ec e ON e.src = d.node) GROUP BY 1)
              SELECT node, CAST(dist AS BIGINT) AS dist
              FROM d3 ORDER BY node"""))
  )
}
