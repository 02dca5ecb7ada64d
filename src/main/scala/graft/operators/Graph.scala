package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

import graft.core.Materialize

/** Graph analytics over edge lists derived from event streams (⊕ beyond
  * reference parity — the reference has no graph surface; this family
  * serves the "what content leads to what" questions a training-data
  * pipeline asks of its crawl/interaction logs).
  *
  * Design notes for 100 TB:
  *   - The raw event volume never reaches the iterative stage: edges
  *     aggregate to ≤ |items|² weighted rows and ranks to |items| rows,
  *     so iteration cost is graph-sized, not log-sized.
  *   - PageRank runs in EXACT scaled-integer arithmetic (fixed-point
  *     longs, floor division over positives). Distributed summation
  *     order can therefore never perturb a single bit — two runs are
  *     byte-comparable, and the unrolled-CTE oracle matches hash-for-hash
  *     (the same determinism discipline as the rest of the inventory).
  *   - Co-occurrence folds each user's items into ONE capped array
  *     instead of self-joining the (user, item) stream — the classic
  *     quadratic-on-bot-users blowup is bounded by `maxItemsPerUser`.
  */
object Graph {

  /** Per-user consecutive-item transition edges `(src, dst, cnt)`.
    * One window shuffle on `userCol` (ordered by `tsCol`, tie-broken by
    * `tieCol` so the edge list is deterministic under equal timestamps),
    * then a partial-aggregated count.
    */
  def transitionEdges(
      events: DataFrame,
      userCol: String,
      tsCol: String,
      tieCol: String,
      itemCol: String): DataFrame = {
    val w = Window.partitionBy(userCol).orderBy(col(tsCol), col(tieCol))
    events
      .filter(col(itemCol).isNotNull)
      .select(col(userCol), col(itemCol), lag(col(itemCol), 1).over(w).as("__prev"))
      .filter(col("__prev").isNotNull)
      .groupBy(col("__prev").as("src"), col(itemCol).as("dst"))
      .agg(count(lit(1)).cast(LongType).as("cnt"))
  }

  /** Weighted PageRank over `(src, dst, cnt)` edges: `iterations`
    * driver-coordinated rounds at damping 0.85 in exact fixed-point
    * arithmetic (`scale` = one unit of rank mass):
    *
    *   r₀ = scale DIV N
    *   rₖ₊₁(t) = (15·scale) DIV (100·N)  +  (85 · Σ_{s→t} rₖ(s)·cnt DIV out(s)) DIV 100
    *
    * Every division is a floor over positives, so Spark's `DIV` and
    * DuckDB's `//` agree exactly. Dangling mass (nodes without
    * out-edges) leaks, as in the simplified formulation — stated
    * semantics, identical on both sides.
    *
    * Shape per round: ranks ⋈ edges on src (AQE broadcasts the rank side
    * when the node set is small), partial-agg sum on dst, left join back
    * to the node set. `nodes` must have a single `node` column. For deep
    * iteration counts, truncate lineage as `Dedup.connectedComponents`
    * does; the typical 3–20 rounds here don't need it.
    */
  def pageRank(
      nodes: DataFrame,
      edges: DataFrame,
      iterations: Int,
      scale: Long = 1000000000000L,
      tolerance: Option[Long] = None): DataFrame = {
    val n = nodes.count() // scalar driver action over the tiny node set
    require(n > 0, "pageRank needs a non-empty node set")
    val seeded = nodes.select(col("node"),
      lit(scale / n).as("__r0"),
      lit((15L * scale) / (100L * n)).as("__tele"))
    prIterate(seeded, edges, iterations, tolerance)._1
  }

  /** [[pageRank]] with convergence early-exit, returning
    * `(ranks, roundsExecuted)`. Stops as soon as one round changes no
    * node's rank by more than `tolerance` rank-mass units. At the
    * default tolerance 0 the result is BIT-IDENTICAL to running all
    * `maxIterations` rounds: ranks are exact fixed-point integers, so
    * rₖ₊₁ == rₖ for every node makes every later round a no-op — the
    * exit only skips provably-identical work (this is why the exact
    * integer formulation buys more than cross-engine determinism).
    * Each round is materialized: the delta check
    * forces a job anyway, and the checkpoint truncates the
    * join-per-round lineage that deep iteration counts would otherwise
    * stack into one giant plan. Costs one extra scalar aggregate per
    * round — worth it from ~4 rounds up or whenever convergence is
    * plausible; for a fixed shallow unroll use [[pageRank]]. */
  def pageRankConverged(
      nodes: DataFrame,
      edges: DataFrame,
      maxIterations: Int,
      scale: Long = 1000000000000L,
      tolerance: Long = 0L): (DataFrame, Int) = {
    val n = nodes.count()
    require(n > 0, "pageRankConverged needs a non-empty node set")
    val seeded = nodes.select(col("node"),
      lit(scale / n).as("__r0"),
      lit((15L * scale) / (100L * n)).as("__tele"))
    prIterate(seeded, edges, maxIterations, Some(tolerance))
  }

  /** Personalized (topic-sensitive) PageRank: teleport mass returns only
    * to `seeds` (single `node` column) instead of uniformly — the
    * trust-propagation / recommendation variant. Same exact fixed-point
    * recurrence with
    *   r₀(t) = scale DIV |S| for t ∈ S, else 0
    *   teleport(t) = (15·scale) DIV (100·|S|) for t ∈ S, else 0.
    */
  def personalizedPageRank(
      nodes: DataFrame,
      edges: DataFrame,
      seeds: DataFrame,
      iterations: Int,
      scale: Long = 1000000000000L): DataFrame = {
    // defensive seed hygiene (review r18, matching kHopReach/ssspRounds):
    // a duplicate seed row would BOTH inflate |S| (shrinking every
    // seed's share) and fan out the nodes left-join, duplicating that
    // node's rank row through every round; a seed absent from `nodes`
    // would be counted in |S| while its teleport mass silently
    // vanishes. Restrict to in-graph distinct seeds before counting.
    val seedSet = seeds.select(col("node")).distinct()
      .join(nodes.select(col("node")), Seq("node"), "left_semi")
    val nSeeds = seedSet.count()
    require(nSeeds > 0,
      "personalizedPageRank needs a non-empty seed set present in nodes")
    val seeded = nodes
      .join(seedSet.select(col("node"), lit(true).as("__seed")),
        Seq("node"), "left")
      .select(col("node"),
        when(col("__seed"), lit(scale / nSeeds)).otherwise(lit(0L)).as("__r0"),
        when(col("__seed"), lit((15L * scale) / (100L * nSeeds)))
          .otherwise(lit(0L)).as("__tele"))
    prIterate(seeded, edges, iterations, None)._1
  }

  /** The shared rank iteration over `(node, __r0, __tele)`: per round,
    * ranks ⋈ edges on src, partial-agg sum on dst, left join back.
    *
    * The per-edge contribution `pr * cnt` is formed in DECIMAL(38,0)
    * before the floor-divide: with scale=1e12 rank mass, a Long product
    * would overflow 2⁶³ for any edge weight cnt ≳ 9·10⁶ (ANSI mode
    * aborts, non-ANSI silently wraps) — in DECIMAL the product holds to
    * cnt ≲ 10²⁵ and the DIV result is a node's rank mass, which always
    * fits back in a Long (≤ scale · |V|). */
  private def prIterate(
      seeded: DataFrame,
      edges: DataFrame,
      iterations: Int,
      tolerance: Option[Long]): (DataFrame, Int) = {
    require(iterations >= 1, s"iterations must be >= 1, got $iterations")
    tolerance.foreach(t =>
      require(t >= 0, s"tolerance must be >= 0, got $t"))
    val out = edges.groupBy("src").agg(sum(col("cnt")).cast(LongType).as("out_cnt"))
    // the unrolled multi-round plan repeats this join per round, but
    // ReusedExchange already shares the underlying scan/shuffle across
    // rounds — an eager localCheckpoint here was MEASURED SLOWER at
    // sf0.1 (materialization cost > savings), so the relation stays lazy
    val e = edges.join(out, "src")
    var ranks = seeded.select(col("node"), col("__r0").as("pr"))
    var round = 0
    var converged = false
    while (round < iterations && !converged) {
      val sums = e
        .join(ranks, e("src") === ranks("node"))
        .select(col("dst"),
          expr("(CAST(pr AS DECIMAL(38,0)) * CAST(cnt AS DECIMAL(38,0)))" +
            " DIV out_cnt").cast(LongType).as("contrib"))
        .groupBy("dst")
        .agg(sum(col("contrib")).cast(LongType).as("s"))
      val next = seeded
        .join(sums, seeded("node") === sums("dst"), "left")
        .select(seeded("node"),
          (col("__tele") + expr("(85 * coalesce(s, 0L)) DIV 100"))
            .cast(LongType).as("pr"))
      ranks = tolerance match {
        case None => next
        case Some(tol) =>
          // materialize the round (the delta check forces a job anyway;
          // the checkpoint truncates the join-per-round lineage), then
          // one scalar aggregate: the largest per-node rank move. At
          // tol = 0 a zero delta proves the integer fixed point — every
          // remaining round would be bit-identical, so skipping them is
          // exact, not approximate.
          val mat = Materialize(next)
          val delta = mat.as("a")
            .join(ranks.as("b"), col("a.node") === col("b.node"))
            .agg(max(abs(col("a.pr") - col("b.pr"))).as("d"))
            .collect()(0)
          converged = delta.isNullAt(0) || delta.getLong(0) <= tol
          mat
      }
      round += 1
    }
    (ranks, round)
  }

  /** The undirected SIMPLE graph induced by `(src, dst)` pairs: one
    * `(a ≤ b)` row per unordered endpoint pair — direction, weights,
    * duplicates, nulls, and self-loops dropped. The shared first step
    * of [[triangleCounts]], [[kCorePeel]], and the GraphOps stub
    * queries (review r16: five inlined copies had started to drift on
    * the null filter). */
  def simpleUndirected(edges: DataFrame): DataFrame =
    edges
      .select(least(col("src"), col("dst")).as("a"),
        greatest(col("src"), col("dst")).as("b"))
      .filter(col("a").isNotNull && col("b").isNotNull && col("a") =!= col("b"))
      .distinct()

  /** Per-node triangle counts over the undirected simple graph induced
    * by `(src, dst)` pairs (direction, weights, and self-loops ignored).
    * Returns EVERY node of the simple graph with its exact triangle
    * participation count, zeros included.
    *
    * Degree-ordered orientation ("compact-forward"): each undirected
    * edge points from its lower-(degree, id) endpoint to the higher.
    * Every triangle then has exactly ONE wedge rooted at its
    * minimum-(degree, id) vertex, so
    *
    *   wedges = oriented ⋈ oriented on the shared source
    *   closed = wedges ⋈ oriented on the (v, w) closing edge
    *
    * counts each triangle exactly once, and per-node counts fall out of
    * unpivoting the three corners. The orientation is the 100 TB
    * property: out-neighborhoods are bounded by O(√m) on ANY graph —
    * a celebrity node's edges all point INTO it, so the wedge join's
    * fan-out is carried by low-degree sources and never explodes
    * quadratically on a hub. Three shuffles total (degree agg, wedge
    * join on src, closing join); all joins are on the edge relation,
    * never on raw events.
    */
  def triangleCounts(edges: DataFrame): DataFrame = {
    // simple/deg/oriented each feed 3 downstream consumers (the degree
    // joins, both wedge sides, the closing edge, the final zero-fill) —
    // left lazy, one action re-derived the whole corpus-side edge
    // pipeline per consumer and the duplicated subtrees dominated the
    // plan (r19 profile: 2.8 s wall, 1.3 s stage-sum — the gap was
    // planning). Materialize each ONCE: all three are graph-sized, the
    // same class as [[kCorePeel]]'s per-round checkpoints.
    val simple = Materialize(simpleUndirected(edges))
    val deg = Materialize(simple.select(col("a").as("node"))
      .unionByName(simple.select(col("b").as("node")))
      .groupBy("node").agg(count(lit(1)).cast(LongType).as("deg")))
    // orient a↔b from the smaller (deg, id) to the larger, carrying the
    // destination's order key for the wedge ordering below
    val aFirst = col("da") < col("db") ||
      (col("da") === col("db") && col("a") < col("b"))
    val oriented = Materialize(simple
      .join(deg.select(col("node").as("a"), col("deg").as("da")), "a")
      .join(deg.select(col("node").as("b"), col("deg").as("db")), "b")
      .select(
        when(aFirst, col("a")).otherwise(col("b")).as("src"),
        when(aFirst, col("b")).otherwise(col("a")).as("dst"),
        when(aFirst, col("db")).otherwise(col("da")).as("ddeg")))
    val o1 = oriented.select(col("src"), col("dst").as("v"),
      col("ddeg").as("dv"))
    val o2 = oriented.select(col("src"), col("dst").as("w"),
      col("ddeg").as("dw"))
    val wedges = o1.join(o2, Seq("src"))
      .filter(col("dv") < col("dw") ||
        (col("dv") === col("dw") && col("v") < col("w")))
      .select(col("src").as("u"), col("v"), col("w"))
    // (v, w) is already in orientation order, so the closing edge — if
    // present — is exactly the oriented row (src = v, dst = w)
    val closing = oriented.select(col("src").as("v"), col("dst").as("w"))
    val triangles = wedges.join(closing, Seq("v", "w"))
    val corners = triangles.select(col("u").as("node"))
      .unionByName(triangles.select(col("v").as("node")))
      .unionByName(triangles.select(col("w").as("node")))
      .groupBy("node").agg(count(lit(1)).cast(LongType).as("n"))
    deg.join(corners, Seq("node"), "left")
      .select(col("node"), coalesce(col("n"), lit(0L)).as("n_triangles"))
  }

  /** Exact minimum hop distance from `seeds` (single `node` column) to
    * every node reachable within `maxHops` DIRECTED hops over
    * `(src, dst)` edges. Driver-coordinated BFS: round i joins only the
    * depth-(i−1) frontier against the edge list — a frontier-sized
    * shuffle, not a graph-sized one — anti-joins nodes already reached
    * (so each node keeps its first, minimal depth), and unions the new
    * layer in. Lineage depth is `maxHops`; for deep walks truncate with
    * `Materialize` as `Dedup.connectedComponents` does — the typical
    * 2–6 hop neighborhood queries here don't need it.
    */
  def kHopReach(edges: DataFrame, seeds: DataFrame, maxHops: Int): DataFrame = {
    require(maxHops >= 1, s"maxHops must be >= 1, got $maxHops")
    val e = edges.select(col("src"), col("dst"))
      .filter(col("src").isNotNull && col("dst").isNotNull)
      .distinct()
    var reached = seeds.select(col("node")).distinct()
      .withColumn("dist", lit(0L))
    // name-based using-column joins throughout: after round 1 the
    // frontier's lineage contains the edge relation itself, so
    // dataset-qualified references would be ambiguous self-joins
    var frontier = reached.select(col("node").as("src"))
    for (i <- 1 to maxHops) {
      val next = frontier.join(e, Seq("src"))
        .select(col("dst").as("node")).distinct()
        .join(reached.select("node"), Seq("node"), "left_anti")
        .withColumn("dist", lit(i.toLong))
      reached = reached.unionByName(next)
      frontier = next.select(col("node").as("src"))
    }
    reached
  }

  /** Weighted single-source(-set) shortest paths by synchronous
    * Bellman-Ford: `rounds` min-plus relaxations over `(src, dst,
    * cost)` edges from a seed set at distance 0 —
    *
    *   d₀(v)   = 0 for seeds, unreached otherwise
    *   dᵢ(v)   = min( dᵢ₋₁(v), min_{(u,v)} dᵢ₋₁(u) + cost(u, v) )
    *
    * After k rounds d(v) is EXACTLY the cheapest cost over paths of
    * ≤ k edges (the bounded-horizon form — run to |V|−1 rounds for the
    * unbounded classic). Costs must be non-negative integers, so every
    * relaxation is exact min-plus arithmetic both engines replay — the
    * unrolled-CTE oracle of `g15_sssp` matches hash-for-hash, the
    * [[kHopReach]] discipline generalized from hop counts to weights.
    *
    * Shape per round: one dist⋈edges equi-join on src + a min
    * aggregate — both graph-sized, never path-enumerating (min-plus
    * collapses path explosion the way MIN does for [[labelPropagation]];
    * duplicate edges are harmless for the same reason). Dist state is
    * materialized per round so k rounds don't stack join lineage.
    * Newly reached nodes enter the relation as relaxation finds them;
    * unreached nodes stay absent (no ∞ sentinel to disagree on). */
  def ssspRounds(edgesWithCost: DataFrame, seeds: DataFrame,
                 rounds: Int): DataFrame = {
    require(rounds >= 1, s"rounds must be >= 1, got $rounds")
    // cost contract enforcement: a null cost is treated like a null
    // endpoint (the edge is ABSENT — otherwise NULL propagates into
    // dist sums and a node reachable only via such an edge surfaces
    // with dist NULL instead of being missing), but a NEGATIVE cost
    // fails LOUDLY: it breaks the ≤-k-edges optimality argument the
    // oracle replays, and silently dropping the edge would return a
    // plausible-looking but wrong distance map (the
    // assert_true-guard discipline of StreamingIvm's fold arms)
    val ecLazy = edgesWithCost.select(col("src"), col("dst"),
        when(col("cost").isNull, lit(null))
          .otherwise(when(assert_true(col("cost") >= 0,
            lit("ssspRounds: negative edge cost violates the " +
              "non-negative min-plus contract")).isNull,
            col("cost"))).as("cost"))
      .filter(col("src").isNotNull && col("dst").isNotNull &&
        col("cost").isNotNull)
    // materialize the edge relation ONCE for multi-round runs: unlike a
    // lazy unroll inside one job (where ReusedExchange shares the scan),
    // each round below ends in an ACTION (the per-round checkpoint), so
    // a lazy `ec` re-derives the whole upstream edge plan — corpus scan,
    // window, aggregate — in EVERY round's job (profiled r18: three
    // identical 0.53 s derivation stages in g15_sssp's three rounds).
    // Same measured rationale as kCorePeel's eager edge checkpoint.
    val ec = if (rounds >= 2) Materialize(ecLazy) else ecLazy
    var d = seeds.select(col("node")).distinct()
      .withColumn("dist", lit(0L))
    for (_ <- 1 to rounds) {
      // using-column join: after round 1 the dist lineage contains the
      // edge relation, so qualified references would self-join-collide
      val relax = d.select(col("node").as("src"), col("dist"))
        .join(ec, Seq("src"))
        .select(col("dst").as("node"), (col("dist") + col("cost")).as("dist"))
      d = Materialize(d.unionByName(relax)
        .groupBy("node").agg(min(col("dist")).as("dist")))
    }
    d
  }

  /** Synchronous min-label propagation: `rounds` LPA rounds with the
    * deterministic min-label update. Every node starts labeled with its
    * own id; each round every node relabels to the MINIMUM label in its
    * closed undirected neighborhood (itself + neighbors). After k
    * rounds, `label(v)` = min node id within graph distance k of `v` —
    * the bounded-radius community detector (run to a fixed point it
    * converges to connected components; the fixed small `rounds` keeps
    * one community from swallowing a long chain, the usual LPA use).
    *
    * The min update makes LPA — normally notorious for nondeterministic
    * tie-breaks under parallel execution — fully deterministic and
    * order-insensitive, so results are reproducible across cluster
    * sizes and the unrolled-CTE oracle matches exactly.
    *
    * Shape per round: one equi-join of the (self-looped, symmetrized)
    * edge list with the label set on the neighbor column + a partial-agg
    * min — both shuffles are graph-sized, never log-sized. Duplicate
    * edges are left in place rather than `distinct()`-ed away: MIN is
    * duplicate-insensitive, and skipping the dedup saves a full shuffle
    * of the edge list.
    */
  def labelPropagation(edges: DataFrame, rounds: Int): DataFrame = {
    require(rounds >= 1, s"rounds must be >= 1, got $rounds")
    val e = edges.select(col("src").as("a"), col("dst").as("b"))
      .filter(col("a").isNotNull && col("b").isNotNull)
    val nodes = e.select(col("a").as("node"))
      .unionByName(e.select(col("b").as("node"))).distinct()
    val sym = e
      .unionByName(e.select(col("b").as("a"), col("a").as("b")))
      .unionByName(nodes.select(col("node").as("a"), col("node").as("b")))
    // name-based using-column joins: after round 1 the label set's
    // lineage contains sym itself (same ambiguity note as kHopReach)
    var labels = nodes.withColumn("label", col("node"))
    for (_ <- 1 to rounds) {
      labels = sym
        .join(labels.select(col("node").as("b"), col("label")), Seq("b"))
        .groupBy(col("a").as("node")).agg(min("label").as("label"))
    }
    labels
  }

  /** Unordered item co-occurrence: for each item pair, the number of
    * users who touched both. The naive form — self-joining the distinct
    * `(user, item)` stream on user — shuffles a pair stream that grows
    * quadratically on heavy users. This fold instead groups each user's
    * DISTINCT items into one sorted array capped at `maxItemsPerUser`
    * (one shuffle, bounded per-key state), expands pairs MAP-SIDE with
    * array HOFs, and partial-aggregates the counts. With the cap at or
    * above the true per-user distinct count the result is exactly the
    * self-join semantics (the gate runs it that way); below it, the
    * kept items are the smallest by sort order — a deterministic,
    * documented truncation.
    */
  def cooccurrence(
      df: DataFrame,
      userCol: String,
      itemCol: String,
      maxItemsPerUser: Int): DataFrame = {
    require(maxItemsPerUser >= 2, s"maxItemsPerUser must be >= 2, got $maxItemsPerUser")
    df.select(col(userCol).as("user"), col(itemCol).as("item"))
      .filter(col("user").isNotNull && col("item").isNotNull)
      .distinct()
      .groupBy("user")
      .agg(slice(sort_array(collect_set(col("item"))), 1, maxItemsPerUser).as("items"))
      .select(explode(expr(
        """flatten(transform(items, (x, i) ->
          |  transform(slice(items, i + 2, size(items) - i - 1),
          |            y -> struct(x AS item_a, y AS item_b))))""".stripMargin)).as("p"))
      .groupBy(col("p.item_a").as("item_a"), col("p.item_b").as("item_b"))
      .agg(count(lit(1)).cast(LongType).as("n_users"))
  }

  /** k-core of the undirected simple graph induced by `(src, dst)` pairs
    * (direction, weights, self-loops ignored — same graph as
    * [[triangleCounts]]): `rounds` SYNCHRONOUS peel rounds, each removing
    * every node whose degree in the current induced subgraph is < `k`.
    * Returns the surviving nodes with their degree in the FINAL induced
    * subgraph. Run to a fixed point this is exactly the classic k-core
    * (the densest-region extractor behind web-graph curation: keep the
    * well-linked core, shed the peripheral spam/orphan fringe); the fixed
    * `rounds` bound makes the result a deterministic function of
    * (graph, k, rounds) that an unrolled-CTE oracle can restate.
    *
    * `earlyExit = true` stops as soon as a round removes nothing — the
    * peel set is monotone decreasing, so a no-op round proves the fixed
    * point and every remaining round is IDENTICAL (bit-exact skip, the
    * same argument as [[pageRankConverged]] at tolerance 0). Each round
    * is materialized (the exit check forces a job
    * anyway; the checkpoint truncates the join-per-round lineage).
    *
    * Shape per round: the symmetrized edge list semi-joins the alive set
    * on BOTH endpoints (alive is node-sized — AQE broadcasts it once it
    * shrinks), then one partial-agg degree count. Work is edge-sized per
    * round and only shrinks; nothing is ever log-sized.
    */
  def kCorePeel(
      edges: DataFrame,
      k: Int,
      rounds: Int,
      earlyExit: Boolean = true): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    require(rounds >= 1, s"rounds must be >= 1, got $rounds")
    val simple = simpleUndirected(edges)
    // materialize the graph-sized edge list ONCE: unlike the pure-lazy
    // PageRank unroll (where ReusedExchange shares the scan inside one
    // job), the peel loop runs an ACTION per round — without this
    // checkpoint every round's two semi-joins would re-derive the edge
    // list from the corpus-sized upstream (measured 3.75 s → the edge
    // derivation dominating a 100-node peel at sf0.1)
    val sym = Materialize(simple.select(col("a").as("u"), col("b").as("v"))
      .unionByName(simple.select(col("b").as("u"), col("a").as("v"))))
    def inducedDegrees(alive: DataFrame): DataFrame = sym
      .join(alive.select(col("node").as("u")), Seq("u"))
      .join(alive.select(col("node").as("v")), Seq("v"))
      .groupBy(col("u").as("node"))
      .agg(count(lit(1)).cast(LongType).as("deg"))
    var alive = sym.select(col("u").as("node")).distinct()
    var aliveCount = if (earlyExit) alive.count() else -1L
    var round = 0
    var converged = false
    while (round < rounds && !converged) {
      val next = Materialize(inducedDegrees(alive)
        .filter(col("deg") >= k)
        .select("node"))
      if (earlyExit) {
        val n = next.count()
        converged = n == aliveCount // peel only shrinks: equal ⇒ fixed point
        aliveCount = n
      }
      alive = next
      round += 1
    }
    inducedDegrees(alive)
  }

  /** HITS hub/authority scores over directed weighted `(src, dst, cnt)`
    * edges: `iterations` synchronous rounds of the mutual-reinforcement
    * recurrence in EXACT scaled-integer arithmetic —
    *
    *   auth₀(v) = scale
    *   hubᵢ(u)  = norm( Σ_{u→v} authᵢ₋₁(v)·cnt )
    *   authᵢ(v) = norm( Σ_{u→v} hubᵢ(u)·cnt )
    *
    * with norm(x) = (x·scale) DIV max(x) — max-normalization instead of
    * the textbook L² norm, because it keeps every value a positive
    * integer (floor division over positives agrees exactly between
    * engines; the score RANKING is identical under any monotone
    * normalization, which is all hub/authority scores mean). Products
    * form in DECIMAL(38,0) — Σ auth·cnt reaches scale·Σcnt, past a Long
    * for heavy graphs — and the normalized scores fall back into Longs
    * (≤ scale by construction). The max normalizer can never be 0 on a
    * non-empty edge set (review r16): each half-round's max-score node
    * holds exactly `scale`, is by construction an edge endpoint on the
    * side the next half-round joins, and cnt ≥ 1 — so every subsequent
    * raw-sum relation contains a row ≥ scale and its max is positive;
    * with no edges at all the sum relations are empty and no division
    * is ever evaluated. Returns every node of `nodes` with
    * `hub`/`auth` (0 for nodes with no out-/in-edges). Shape per round:
    * two edge⋈score joins + two partial-agg sums + two 1-row max
    * aggregates broadcast back — graph-sized, never log-sized.
    *
    * Each half-round's raw sum relation is MATERIALIZED (eager
    * `Materialize`, r19): the relation feeds both the 1-row max
    * normalizer and the normalized projection, and every later
    * half-round nests the earlier ones — left lazy, the plan doubled
    * per half-round (16 copies of the edge subtree at 2 iterations)
    * and planning alone cost ~1.9 s of a 4 s query at sf0.1. The
    * checkpoint is node-sized per half-round, the same
    * materialize-per-round discipline as [[kCorePeel]]; the edge
    * relation is checkpointed once for the same reason.
    */
  def hits(
      nodes: DataFrame,
      edges: DataFrame,
      iterations: Int,
      scale: Long = 1000000L): DataFrame = {
    require(iterations >= 1, s"iterations must be >= 1, got $iterations")
    val d38 = "DECIMAL(38,0)"
    // the non-zero-normalizer proof above rests on cnt ≥ 1 — ENFORCE it
    // rather than assume it (ADVICE r16): a zero/negative weight would
    // make the max normalizer zero or negative, aborting under ANSI or
    // silently diverging from the recurrence the scaladoc states. Rows
    // with cnt < 1 have no meaning in a positive-weight mutual-
    // reinforcement model, so they are dropped at the edge projection.
    val e = Materialize(edges.select(col("src"), col("dst"), col("cnt"))
      .filter(col("cnt") >= 1)) // consumed by every half-round
    // (score · cnt) summed per endpoint, then max-normalized to `scale`
    def halfRound(scores: DataFrame, joinOn: String, groupAs: String): DataFrame = {
      val raw = Materialize(e
        .join(scores.withColumnRenamed("node", joinOn)
          .withColumnRenamed("s", "__s"), Seq(joinOn))
        .groupBy(col(groupAs).as("node"))
        .agg(sum(expr(s"CAST(__s AS $d38) * CAST(cnt AS $d38)")).as("r")))
      val m = raw.agg(max(col("r")).as("__m"))
      raw.crossJoin(broadcast(m))
        .select(col("node"),
          expr(s"(r * CAST($scale AS $d38)) DIV __m").cast(LongType).as("s"))
    }
    var auth = nodes.select(col("node"), lit(scale).as("s"))
    var hub: DataFrame = null
    for (_ <- 1 to iterations) {
      hub = halfRound(auth, "dst", "src")   // hub(u) ← Σ auth(v)·cnt
      auth = halfRound(hub, "src", "dst")   // auth(v) ← Σ hub(u)·cnt
    }
    nodes
      .join(hub.withColumnRenamed("s", "hub"), Seq("node"), "left")
      .join(auth.withColumnRenamed("s", "auth"), Seq("node"), "left")
      .select(col("node"),
        coalesce(col("hub"), lit(0L)).as("hub"),
        coalesce(col("auth"), lit(0L)).as("auth"))
  }
}
