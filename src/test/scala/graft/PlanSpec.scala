package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.ExplainMode

import graft.queries.Inventory

/** Physical-plan shape assertions for the scale-critical queries: the
  * properties that make these plans survive a 100× scale-up are tested
  * here, not just eyeballed in `.explain` once.
  *
  * All plans are built against sf0.001 — plan SHAPE (pushdown, pruning,
  * join strategy, shuffle count) is what's asserted; sizes only matter
  * where noted (broadcast thresholds, which the hinted joins pin
  * structurally).
  */
class PlanSpec extends SparkSuite {

  private val sfDir = "/root/testdata/sf0.001"

  private def plan(name: String): String =
    formatted(Inventory.byName(name).run(spark, sfDir))

  private def formatted(df: DataFrame): String =
    df.queryExecution.explainString(ExplainMode.fromString("formatted"))

  /** Occurrences of a node type, counted from the detail-section headers
    * (`(6) Window`) — tree-summary prefixes differ by join position
    * (`+-` vs `:-`), and each node also appears once in the summary. */
  private def nodeCount(p: String, node: String): Int =
    p.linesIterator.count(_.trim.matches(s"""\\(\\d+\\) $node( .*)?"""))

  test("sweep: no gated plan windows over an unbounded unpartitioned input") {
    // an unpartitioned Window moves ALL data to one task — the classic
    // silent scale-killer. Sweep every declared query's optimized plan;
    // the only unpartitioned windows allowed are those whose input an
    // aggregation has already bounded (block/bucket totals, per-day
    // rollups — cardinality independent of corpus size). The allowlist
    // is exact-match: a NEW unpartitioned window anywhere fails, and a
    // fixed one must be removed here.
    val allow = Map(
      // prefix sums over per-bucket/per-block token totals: bounded by
      // bucket grid / |corpus tokens|/2^20 by construction (the
      // three-level prefix design — Curation.scala)
      "cur_token_budget" -> "window over per-bucket totals",
      "cur_pps_sample" -> "window over per-block totals",
      "cur_epoch_shuffle" -> "prefix sum over the 256-row bucket-count table",
      "a27_exact_quartiles" -> "prefix sum over the 256-row cell-count table",
      "a28_equidepth_bins" -> "prefix sum over the 256-row cell-count table",
      "pipeline_curate_full" -> "budget stage's per-bucket totals window",
      "pipeline_curate_cdc" -> "budget stage's per-bucket totals window",
      // per-class / per-source count tables: |langs| / |sources| rows
      "cur_oversample_balance" -> "global max over per-lang counts",
      "cur_mixture_sample" -> "total over per-source counts",
      // day-grain series: ≤ one row per day whatever the corpus
      "t6_change_point" -> "change-point scan over the daily series",
      "cdc_backfill_plan" -> "gaps-and-islands over distinct days",
      // fixed 16-bucket grid whatever the corpus (width from max doc_id)
      "text_vocab_growth" -> "cumulative over the fixed 16-bucket grid",
      // share-of-total above a ROUTED aggregate: the window input is
      // the |keys|-row summary re-aggregation, never the corpus
      "cdc_mv_routed_share" -> "total over the routed |keys|-row aggregate")
    val offenders = Inventory.all.flatMap { e =>
      val lp = e.run(spark, sfDir).queryExecution.optimizedPlan
      val bad = lp.collect {
        case w: org.apache.spark.sql.catalyst.plans.logical.Window
          if w.partitionSpec.isEmpty => w
      }
      if (bad.nonEmpty) Some(e.name) else None
    }.toSet
    assert(offenders === allow.keySet,
      s"unpartitioned-window drift: unexpected=${offenders -- allow.keySet} " +
        s"stale-allowlist=${allow.keySet -- offenders}")
    // detector self-check: a deliberately unpartitioned window over raw
    // rows MUST be caught by the same collect pattern
    import org.apache.spark.sql.expressions.{Window => W}
    val regress = Inventory.byName("s3_scan_projection").run(spark, sfDir)
      .withColumn("rn", org.apache.spark.sql.functions.row_number()
        .over(W.orderBy("c_custkey")))
    val caught = regress.queryExecution.optimizedPlan.collect {
      case w: org.apache.spark.sql.catalyst.plans.logical.Window
        if w.partitionSpec.isEmpty => w
    }
    assert(caught.nonEmpty, "sweep detector failed to catch a planted regression")
  }

  test("sweep: no gated physical plan has a CartesianProduct; BNLJ only with bounded broadcast sides") {
    // the two physical shapes that kill a 100 TB run outright. VERDICT
    // r9 audited all recorded plans by hand (zero CartesianProduct; every
    // BroadcastNestedLoopJoin had a constant-size side) — this sweep is
    // that audit as a permanent gate. Exact-match allowlist: each entry
    // names WHY its broadcast side is bounded; a new BNLJ anywhere else
    // fails, and a fixed one must be removed here.
    val bnljAllow = Map(
      // one-row corpus/scalar aggregates crossJoin(broadcast(...))
      "a26_ams_f2" -> "one-row median-of-means correction",
      "cur_pps_sample" -> "one-row grand-total row",
      "dedup_threshold_sweep" -> "one-row pair-total row",
      "g8_reciprocity" -> "one-row edge-total row",
      "j11_join_size_estimate" -> "one-row sum-of-squares row",
      "q12_freshness" -> "one-row now() anchor",
      "t5_funnel_rates" -> "one-row step-total row",
      "text_bm25_topk" -> "one-row corpus stats (N, avgdl)",
      "text_freq_cm" -> "one-row sketch-total row",
      "text_vocab_growth" -> "one-row max-doc-id width row",
      "cur_temperature_mixture" -> "one-row Σ√n weight-total row",
      "g13_hits" -> "one-row max-score normalizer per half-round",
      "sim_pca_power" -> "one-row ∞-norm normalizer per round",
      "a27_exact_quartiles" -> "one-row min/max/count stats row",
      "a28_equidepth_bins" -> "one-row min/max/count stats row",
      "dedup_embed_cosine" -> "declared brute baseline: broadcast-tiny query set",
      "sim_knn_brute" -> "declared brute baseline: broadcast-tiny query set",
      "sim_hard_negatives" -> "declared brute baseline: broadcast-tiny anchor set",
      "sim_knn_jl_rerank" -> "JL candidate pass: broadcast-tiny query set",
      "sim_jl_distortion" -> "JL audit pair pass: broadcast-tiny query set",
      "sim_range_search" -> "declared brute baseline: broadcast-tiny query set",
      // sim_recall_report / sim_hybrid_search: their brute arms now
      // materialize at construction behind core.Materialize (r19 second pass) —
      // the returned plan joins LogicalRDD handles, so the arms' BNLJ
      // no longer appears here; the brute shape itself stays pinned by
      // the sim_knn_brute / dedup_embed_cosine allowlist rows above
      "sim_matryoshka_recall" -> "both brute arms: broadcast-tiny query set",
      "sim_ivf_balance" -> "one-row corpus-total row",
      "q15_benford_profile" -> "one-row table-total row")
    val cart = scala.collection.mutable.ArrayBuffer[String]()
    val bnlj = scala.collection.mutable.ArrayBuffer[String]()
    Inventory.all.foreach { e =>
      val p = e.run(spark, sfDir).queryExecution.sparkPlan.toString
      if (p.contains("CartesianProduct")) cart += e.name
      if (p.contains("BroadcastNestedLoopJoin")) bnlj += e.name
    }
    assert(cart.isEmpty, s"CartesianProduct in gated plans: $cart")
    assert(bnlj.toSet === bnljAllow.keySet,
      s"BNLJ drift: unexpected=${bnlj.toSet -- bnljAllow.keySet} " +
        s"stale-allowlist=${bnljAllow.keySet -- bnlj.toSet}")
  }

  test("column pruning reaches the parquet scan (s3: 3-column ReadSchema)") {
    val p = plan("s3_scan_projection")
    val readSchema = p.linesIterator.find(_.contains("ReadSchema")).get
    assert(readSchema.contains("c_custkey") && readSchema.contains("c_acctbal")
      && readSchema.contains("c_mktsegment"))
    // the other 5 customer columns must NOT be read off disk
    assert(!readSchema.contains("c_name") && !readSchema.contains("c_address")
      && !readSchema.contains("c_comment"))
  }

  test("not-null predicates land in PushedFilters (p3)") {
    val p = plan("p3_notnull_filter")
    val pushed = p.linesIterator.find(_.contains("PushedFilters")).get
    assert(pushed.contains("IsNotNull(event_id)"))
    assert(pushed.contains("IsNotNull(props)"))
  }

  test("structurally tiny dims broadcast in the star join (j4)") {
    val p = plan("j4_star_join")
    assert(p.contains("BroadcastHashJoin"))
    // nation & region sides arrive via broadcast exchange, not shuffle
    assert("BroadcastExchange".r.findAllIn(p).size >= 2)
  }

  test("top-k compiles to TakeOrderedAndProject, not a global sort (a2)") {
    val p = plan("a2_topk_by_count")
    assert(p.contains("TakeOrderedAndProject"))
    assert(!p.contains("GlobalSort"))
  }

  test("the fused prime projection has zero shuffles (j3_fused vs j3_cte)") {
    val fused = plan("j3_fused_prime")
    assert(!fused.contains("Exchange"),
      "single-pass derived column must not shuffle")
    // while the literal CTE form self-joins (1+ exchange unless broadcast)
    val cte = plan("j3_cte_prime")
    assert(cte.contains("Join"))
  }

  test("pre-aggregation runs before the left join, with partial aggregates (j2)") {
    val p = plan("j2_left_join_agg")
    // partial + final hash aggregation (map-side combine before shuffle)
    assert("HashAggregate".r.findAllIn(p).size >= 2)
    assert(p.contains("partial_count") || p.contains("Partial"))
  }

  test("group-by aggregation keeps whole-stage codegen on the scan side (a1)") {
    // AQE inserts codegen stages as they execute — run first, then the
    // final plan marks codegen'd nodes with `*(n)`
    val df = Inventory.byName("a1_group_count_avg").run(spark, sfDir)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("isFinalPlan=true"))
    assert(p.contains("*("), "no whole-stage-codegen stage in the plan")
    assert(p.contains("HashAggregate"))
  }

  test("exact dedup is one shuffle on the fingerprint, never the text (dedup_exact)") {
    val p = Inventory.byName("dedup_exact").run(spark, sfDir)
      .queryExecution.executedPlan.toString
    // exactly one hash shuffle (partial agg → shuffle on fp → final agg);
    // the orderBy adds a range exchange, which is not a hash repartition
    val hashExchanges = p.linesIterator.filter(l =>
      l.contains("Exchange hashpartitioning")).toSeq
    assert(hashExchanges.size === 1, p)
    assert(hashExchanges.head.contains("fp#"))
    // the shuffled payload is the fingerprint, never the document text
    assert(!hashExchanges.head.contains("text#"))
  }

  test("semi and anti joins stay semi/anti in the physical plan (j5/j6)") {
    assert(plan("j5_semi_join").contains("LeftSemi"))
    assert(plan("j6_anti_join").contains("LeftAnti"))
  }

  test("scalar count aggregates without reading any data columns (a3)") {
    val p = plan("a3_scalar_count")
    val readSchema = p.linesIterator.find(_.contains("ReadSchema")).get
    // count(1) needs zero columns: parquet row-group metadata drives it
    assert(readSchema.contains("struct<>"))
  }

  test("as-of join is ONE shuffle on the key, no theta join (t1)") {
    val p = Inventory.byName("t1_asof_join").run(spark, sfDir)
      .queryExecution.executedPlan.toString
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"as-of must not degenerate to a product:\n$p")
    // the union-window form shuffles once on the key; no join operator at all
    assert(!p.contains("SortMergeJoin") && !p.contains("ShuffledHashJoin"))
    assert(p.linesIterator.count(_.contains("Exchange hashpartitioning")) === 1, p)
  }

  test("sketch aggregates stay ObjectHashAggregate — no sort-based fallback") {
    // the raised fallback threshold in Sessions is what keeps the typed
    // MinHash sketch on the hash path; a regression here silently turns
    // every signature build into sort-based aggregation
    val p = graft.operators.Dedup
      .minhashSignatureArray(graft.core.Tables(spark, sfDir, "documents"), 3, 64)
      .queryExecution.executedPlan.toString
    assert(p.contains("ObjectHashAggregate"), p)
    assert(!p.contains("SortAggregate"), p)
  }

  test("LSH cosine dedup never builds the O(n²) pair join (dedup_embed_cosine_lsh)") {
    val p = Inventory.byName("dedup_embed_cosine_lsh").run(spark, sfDir)
      .queryExecution.executedPlan.toString
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      s"the gated scale path must stay bucketed (band-key equi-joins only):\n$p")
    // while the declared-brute baseline entry IS the nested-loop pair walk
    val brute = Inventory.byName("dedup_embed_cosine").run(spark, sfDir)
      .queryExecution.executedPlan.toString
    assert(brute.contains("BroadcastNestedLoopJoin") || brute.contains("CartesianProduct"))
  }

  test("domain cap pushes a partial top-N below the shuffle (cur_domain_cap)") {
    val p = plan("cur_domain_cap")
    // WindowGroupLimit before the exchange: each map task forwards at
    // most N rows per domain — the property that makes the cap scale
    assert(p.contains("WindowGroupLimit"), p)
  }

  test("the composed curation pipeline never degenerates to a product (pipeline_curate)") {
    val p = Inventory.byName("pipeline_curate").run(spark, sfDir)
      .queryExecution.executedPlan.toString
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("the FULL curation chain composes without products or a corpus-wide funnel (pipeline_curate_full)") {
    val p = Inventory.byName("pipeline_curate_full").run(spark, sfDir)
      .queryExecution.executedPlan.toString
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
    // no corpus global sort: the one rangepartitioning exchange is the
    // final determinism ORDER BY of the gated entry
    assert(p.linesIterator.count(_.contains("Exchange rangepartitioning")) === 1, p)
    // every single-partition funnel must sit directly above an
    // AGGREGATE (domain counts for the mixture rates, bucket totals
    // for the token-budget prefix, bloom-filter runtime-filter builds)
    // — bounded-cardinality inputs by construction. A SinglePartition
    // exchange fed by raw rows would mean one of the six stages
    // serializes the corpus through a single task.
    val lines = p.linesIterator.toArray
    lines.zipWithIndex.filter(_._1.contains("Exchange SinglePartition"))
      .foreach { case (_, i) =>
        assert(lines.slice(i + 1, i + 4).exists(_.contains("Aggregate")),
          s"SinglePartition exchange at line $i is not fed by an aggregate:\n" +
            lines.slice(i - 3, i + 4).mkString("\n"))
      }
    // survivors/decontamination/selection arrive as semi joins
    assert(p.contains("LeftSemi"), p)
  }

  test("the CDC-chunked chain keeps the same shape: no product, map-side chunk tail (pipeline_curate_cdc)") {
    val p = Inventory.byName("pipeline_curate_cdc").run(spark, sfDir)
      .queryExecution.executedPlan.toString
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
    // the CDC tail adds NO shuffle beyond the fixed-grid chain's: the
    // only rangepartitioning is still the final determinism sort
    assert(p.linesIterator.count(_.contains("Exchange rangepartitioning")) === 1, p)
    val lines = p.linesIterator.toArray
    lines.zipWithIndex.filter(_._1.contains("Exchange SinglePartition"))
      .foreach { case (_, i) =>
        assert(lines.slice(i + 1, i + 4).exists(_.contains("Aggregate")),
          s"SinglePartition exchange at line $i is not fed by an aggregate:\n" +
            lines.slice(i - 3, i + 4).mkString("\n"))
      }
    assert(p.contains("LeftSemi"), p)
  }

  test("range join is an equi-join on (key, bucket), not a product (t2)") {
    val p = Inventory.byName("t2_range_join").run(spark, sfDir)
      .queryExecution.executedPlan.toString
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"range join must stay hash-partitioned:\n$p")
    assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin")
      || p.contains("BroadcastHashJoin"), p)
  }

  test("repetition stats are map-side: one scan, no aggregate, only the determinism sort shuffles") {
    // executedPlan.toString prints each node once (formatted mode lists
    // tree + detail, double-counting node names)
    val p = Inventory.byName("text_repetition").run(spark, sfDir)
      .queryExecution.executedPlan.toString
    // the sorted-run fold lives in a projection, not an aggregation —
    // the explode→groupBy→window alternative would shuffle every token
    assert(!p.contains("HashAggregate") && !p.contains("SortAggregate")
      && !p.contains("ObjectHashAggregate"), p)
    // two Exchanges: the doc-bounded Tables.spread fan-out (round
    // robin, |docs| rows — NOT a token shuffle) and the
    // rangepartitioning of the final ORDER BY
    assert("Exchange".r.findAllIn(p).size === 2, p)
    assert(p.contains("RoundRobinPartitioning") && p.contains("rangepartitioning"), p)
  }

  test("decontamination is equi-joins end to end, never a product (cur_decontaminate)") {
    val p = Inventory.byName("cur_decontaminate").run(spark, sfDir)
      .queryExecution.executedPlan.toString
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
    // probe overlap is a semi/anti join chain on hashed shingles
    assert(p.contains("LeftSemi") && p.contains("LeftAnti"), p)
  }

  test("incremental dedup stays equi-joined on shingles, never a product (dedup_incremental)") {
    val p = Inventory.byName("dedup_incremental").run(spark, sfDir)
      .queryExecution.executedPlan.toString
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("mixture sampling is a broadcast filter join over the corpus (cur_mixture_sample)") {
    val p = Inventory.byName("cur_mixture_sample").run(spark, sfDir)
      .queryExecution.executedPlan.toString
    // the tiny rate table must arrive via broadcast — a shuffle of the
    // corpus to meet 20 rate rows would be the wrong plan at any scale
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("token-budget selection never global-sorts the corpus (cur_token_budget)") {
    val p = Inventory.byName("cur_token_budget").run(spark, sfDir)
      .queryExecution.executedPlan.toString
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
    // the only single-partition window runs over the ≤10k aggregated
    // bucket rows (SinglePartition AFTER a HashAggregate), never over
    // raw documents: every Window over docs is partitioned by qb
    assert(p.contains("Window"), p)
  }

  test("cdc apply is one partial-aggregated shuffle on the key — no window sort, no join (cdc_apply)") {
    val p = plan("cdc_apply")
    // the changelog shuffles ONCE, on the key's hashpartitioning (plus
    // the gate's determinism rangepartitioning for the final orderBy) —
    // formatted mode puts Exchange arguments on their own line, so count
    // the partitioning tokens, not the operator lines
    assert("hashpartitioning".r.findAllIn(p).size === 1, p)
    assert("rangepartitioning".r.findAllIn(p).size === 1, p)
    // partial max_by runs map-side before that shuffle: at most one
    // candidate row per (task, key) moves, never the change history
    // (struct-buffer max_by aggregates sort-based — still partial+final)
    assert(p.contains("partial_max_by"), p)
    assert("SortAggregate".r.findAllIn(p).size >= 2, p)
    // and the argmax is NOT the row_number formulation (which would sort
    // every change) or any join (bare "Join" would match array_join —
    // name the physical operators)
    assert(!p.contains("Window"), p)
    assert(!p.contains("SortMergeJoin") && !p.contains("BroadcastHashJoin")
      && !p.contains("ShuffledHashJoin") && !p.contains("NestedLoopJoin"), p)
  }

  test("bloom semi-join prunes the big side MAP-SIDE before the verify join (j8)") {
    val p = plan("j8_bloom_semi")
    // the verify join is a real semi join...
    assert(p.contains("LeftSemi"), p)
    // ...and the bloom predicate (seeded xxhash64 probes) sits in a
    // Filter on the scan side, so pruned rows never reach the join —
    // that Filter is what shrinks the shuffle at scale
    assert(p.contains("xxhash64"), p)
    assert(!p.contains("NestedLoopJoin"), p)
  }

  test("co-occurrence folds per-user arrays — pair expansion is map-side, no self-join (g1)") {
    val p = plan("g1_item_cooccurrence")
    assert(!p.contains("SortMergeJoin") && !p.contains("BroadcastHashJoin")
      && !p.contains("ShuffledHashJoin") && !p.contains("NestedLoopJoin"), p)
    // top-k with tiebreak compiles to TakeOrderedAndProject, not a global sort
    assert(p.contains("TakeOrderedAndProject"), p)
  }

  test("pagerank iterates equi-joins only — no product anywhere in 3 rounds (g2)") {
    val p = plan("g2_pagerank")
    assert(!p.contains("NestedLoopJoin") && !p.contains("CartesianProduct"), p)
  }

  test("OHLC bars are ONE hash aggregate — no window sort anywhere (t9)") {
    val p = plan("t9_ohlc")
    // open/close come from argmin/argmax struct aggregates, so the plan
    // must contain no Window operator — struct min/max lowers to
    // SortAggregate (partial + final, still ONE shuffle on the keys)
    assert(!p.contains("Window"), p)
    assert(p.contains("SortAggregate") || p.contains("HashAggregate"), p)
    assert(p.contains("partial_min"), p) // map-side combine is present
  }

  test("interval overlap join is an equi-join on the bucket, never a product (j9)") {
    val p = plan("j9_interval_overlap")
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("neighbor-Jaccard candidates come from the wedge equi-join, not |V|² (g10)") {
    val p = plan("g10_neighbor_jaccard")
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("oversampling replicates map-side: broadcast join + Generate, no extra shuffle (cur_oversample_balance)") {
    val p = plan("cur_oversample_balance")
    assert(p.contains("Generate"), p)          // the explode(sequence) fan-out
    assert(p.contains("BroadcastHashJoin"), p) // rep factors arrive broadcast
  }

  test("the kNN graph equi-joins probes to cells — corpus never broadcasts as a product (sim_knn_graph)") {
    val p = plan("sim_knn_graph")
    assert(!p.contains("NestedLoopJoin") && !p.contains("CartesianProduct"), p)
  }

  test("EWMA is all lags over ONE user_id window — a single shuffle, no join (w6)") {
    val p = plan("w6_ewma")
    // the K lag terms must share one Window operator over one exchange;
    // a per-term self-join would scale as K scans
    assert(nodeCount(p, "Window") === 1, p)
    assert(!p.contains("Join"), p)
    // one hash exchange (the user_id window); the only other exchange is
    // the rangepartitioning determinism sort
    assert("hashpartitioning\\(".r.findAllIn(p).size === 1, p)
  }

  test("gap-fill grid joins per-day lasts — no calendar product, LOCF in one window (t13)") {
    val p = plan("t13_gapfill")
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    assert(p.contains("Generate"), p) // the sequence() grid explode
  }

  test("approx percentiles aggregate the GK sketch with map-side partials — no sort, no window (a21)") {
    val p = plan("a21_approx_percentiles")
    assert(!p.contains("Window"), p)
    assert(p.contains("partial_approx_percentile"), p) // sketch merges, not row sorts
  }

  test("per-group top-k pushes a WindowGroupLimit below the exchange (w1)") {
    // rank-filter top-k must not sort whole partitions: Spark's
    // WindowGroupLimit forwards only k rows per key from each map task
    val p = plan("w1_window_rank")
    assert(p.contains("WindowGroupLimit"), p)
  }

  test("table checksum is one partial-agg pass — digests never shuffle row-wise (q11)") {
    val p = plan("q11_table_checksum")
    assert(p.contains("partial_sum") || p.contains("partial_count"), p)
    assert(!p.contains("Window") && !p.contains("Join"), p)
  }

  test("nearest as-of is ONE union shuffle carrying both window passes — no join at all (t16)") {
    val p = plan("t16_asof_nearest")
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("Join"), p) // r9 shipped a back-join; fused away
    assert(nodeCount(p, "Window") === 2, p)
    // both windows hang off the SAME hash exchange (the second only
    // re-sorts in place); the sole other exchange is the determinism
    // ORDER BY's range partitioning
    assert(nodeCount(p, "Exchange") === 2, p)
    assert(p.contains("hashpartitioning") && p.contains("rangepartitioning"), p)
  }

  test("PPS sample: the only product is the broadcast one-row total; prefix windows are blocked (cur_pps_sample)") {
    val p = plan("cur_pps_sample")
    assert(!p.contains("CartesianProduct"), p)
    // the single BNLJ is the 1-row total broadcast — a corpus-sized
    // product would be a second one
    assert(nodeCount(p, "BroadcastNestedLoopJoin") === 1, p)
  }

  test("IVM maintenance joins two aggregates — no window, no rescan topology (cdc_ivm_agg)") {
    val p = plan("cdc_ivm_agg")
    assert(p.contains("FullOuter"), p)
    assert(!p.contains("Window"), p)
  }

  test("the registered summary scan replaces the base corpus scan (cdc_mv_routed)") {
    // the gated MV query registers its IVM-maintained summary and
    // returns a plain aggregate over the BASE corpus — the optimizer
    // must have re-planned it onto the summary: |keys| rows scanned,
    // the corpus not even opened
    val df = Inventory.byName("cdc_mv_routed").run(spark, sfDir)
    val paths = df.queryExecution.optimizedPlan.collect {
      case lr: org.apache.spark.sql.execution.datasources.LogicalRelation =>
        lr.relation match {
          case fs: org.apache.spark.sql.execution.datasources.HadoopFsRelation =>
            fs.location.rootPaths.map(_.toString)
          case _ => Nil
        }
    }.flatten
    assert(paths.nonEmpty && paths.forall(_.contains("graft_mv")), paths)
    assert(paths.exists(_.endsWith("/summary")),
      s"summary not scanned: $paths")
    assert(!paths.exists(_.endsWith("/base")),
      s"base corpus still scanned after routing: $paths")
  }

  test("top-k routing: TakeOrderedAndProject sits over the summary scan, never the base (cdc_mv_routed_topk)") {
    val df = Inventory.byName("cdc_mv_routed_topk").run(spark, sfDir)
    val paths = df.queryExecution.optimizedPlan.collect {
      case lr: org.apache.spark.sql.execution.datasources.LogicalRelation =>
        lr.relation match {
          case fs: org.apache.spark.sql.execution.datasources.HadoopFsRelation =>
            fs.location.rootPaths.map(_.toString)
          case _ => Nil
        }
    }.flatten
    assert(paths.exists(_.endsWith("/summary")),
      s"summary not scanned: $paths")
    assert(!paths.exists(_.endsWith("/base")),
      s"base corpus still scanned after top-k routing: $paths")
    // Sort+Limit must compile to the top-k operator (per-partition k +
    // k-row driver merge), not a global sort — now over |keys| rows
    assert(df.queryExecution.executedPlan.toString
        .contains("TakeOrderedAndProject"),
      df.queryExecution.executedPlan.toString)
  }

  test("streamed MV loop: the dashboard scans the stream-maintained summary, never the corpus (cdc_mv_streamed, _minmax, _distinct, _percentile)") {
    for (name <- Seq("cdc_mv_streamed", "cdc_mv_streamed_minmax",
        "cdc_mv_streamed_distinct", "cdc_mv_streamed_percentile",
        "sim_kmeans_streamed")) {
      val df = Inventory.byName(name).run(spark, sfDir)
      val paths = df.queryExecution.optimizedPlan.collect {
        case lr: org.apache.spark.sql.execution.datasources.LogicalRelation =>
          lr.relation match {
            case fs: org.apache.spark.sql.execution.datasources.HadoopFsRelation =>
              fs.location.rootPaths.map(_.toString)
            case _ => Nil
          }
      }.flatten
      assert(paths.exists(_.contains("/summary/v=")),
        s"$name: stream-maintained summary not scanned: $paths")
      assert(!paths.exists(_.endsWith("/docs")),
        s"$name: corpus still scanned after streamed-MV routing: $paths")
    }
  }

  test("having/share/dashboard routing: post-aggregate shapes run over the summary scan, never the base") {
    for (name <- Seq("cdc_mv_routed_having", "cdc_mv_routed_share",
        "cdc_mv_routed_dashboard", "cdc_mv_routed_percentile")) {
      val df = Inventory.byName(name).run(spark, sfDir)
      val paths = df.queryExecution.optimizedPlan.collect {
        case lr: org.apache.spark.sql.execution.datasources.LogicalRelation =>
          lr.relation match {
            case fs: org.apache.spark.sql.execution.datasources.HadoopFsRelation =>
              fs.location.rootPaths.map(_.toString)
            case _ => Nil
          }
      }.flatten
      assert(paths.exists(_.endsWith("/summary")),
        s"$name: summary not scanned: $paths")
      assert(!paths.exists(_.endsWith("/base")),
        s"$name: base corpus still scanned after routing: $paths")
      if (name == "cdc_mv_routed_dashboard") {
        // the dim join survives the rewrite and Sort+Limit stays the
        // top-k physical form over the |keys|-row rewrite
        assert(paths.exists(_.endsWith("/dim")),
          s"$name: dim table lost in the rewrite: $paths")
        assert(df.queryExecution.executedPlan.toString
            .contains("TakeOrderedAndProject"),
          df.queryExecution.executedPlan.toString)
      }
    }
  }

  test("distinct routing: COUNT(DISTINCT) serves from the sketch column over the summary scan, never the base (cdc_mv_routed_distinct)") {
    val df = Inventory.byName("cdc_mv_routed_distinct").run(spark, sfDir)
    val paths = df.queryExecution.optimizedPlan.collect {
      case lr: org.apache.spark.sql.execution.datasources.LogicalRelation =>
        lr.relation match {
          case fs: org.apache.spark.sql.execution.datasources.HadoopFsRelation =>
            fs.location.rootPaths.map(_.toString)
          case _ => Nil
        }
    }.flatten
    assert(paths.exists(_.endsWith("/summary")),
      s"summary not scanned: $paths")
    assert(!paths.exists(_.endsWith("/base")),
      s"base corpus still scanned after distinct routing: $paths")
  }

  test("star-join routing: summary replaces the base side, the dim join survives (cdc_mv_routed_star)") {
    val df = Inventory.byName("cdc_mv_routed_star").run(spark, sfDir)
    val paths = df.queryExecution.optimizedPlan.collect {
      case lr: org.apache.spark.sql.execution.datasources.LogicalRelation =>
        lr.relation match {
          case fs: org.apache.spark.sql.execution.datasources.HadoopFsRelation =>
            fs.location.rootPaths.map(_.toString)
          case _ => Nil
        }
    }.flatten
    assert(paths.exists(_.endsWith("/summary")),
      s"summary not scanned: $paths")
    assert(paths.exists(_.endsWith("/dim")), s"dim join dropped: $paths")
    assert(!paths.exists(_.endsWith("/base")),
      s"base corpus still scanned after star routing: $paths")
    // the dim join is still a JOIN in the physical plan (not collapsed)
    assert(df.queryExecution.executedPlan.toString.contains("Join"),
      "expected a physical join of summary and dim")
  }

  test("rollup routing: month grouping scans the day summary, never the base (cdc_mv_routed_rollup)") {
    val df = Inventory.byName("cdc_mv_routed_rollup").run(spark, sfDir)
    val paths = df.queryExecution.optimizedPlan.collect {
      case lr: org.apache.spark.sql.execution.datasources.LogicalRelation =>
        lr.relation match {
          case fs: org.apache.spark.sql.execution.datasources.HadoopFsRelation =>
            fs.location.rootPaths.map(_.toString)
          case _ => Nil
        }
    }.flatten
    assert(paths.exists(_.endsWith("/summary")),
      s"summary not scanned: $paths")
    assert(!paths.exists(_.endsWith("/base")),
      s"base corpus still scanned after rollup routing: $paths")
  }

  test("dedup_minhash_lsh reads the shared signature table: no in-plan sketch aggregate (dedup_minhash_lsh)") {
    // r13 measured this entry re-sketching the corpus per run — the
    // MinHashSketch udaf planned as ObjectHashAggregate nodes. The
    // shared materialization replaces the sketch subtree with a parquet
    // scan of (doc_id, sig); any ObjectHashAggregate reappearing here
    // means the share regressed
    val p = plan("dedup_minhash_lsh")
    assert(!p.contains("ObjectHashAggregate"), p)
  }

  test("multi-rollup routing: the type query scans the TYPE summary, not the day summary or the base (cdc_mv_routed_multi)") {
    val df = Inventory.byName("cdc_mv_routed_multi").run(spark, sfDir)
    val paths = df.queryExecution.optimizedPlan.collect {
      case lr: org.apache.spark.sql.execution.datasources.LogicalRelation =>
        lr.relation match {
          case fs: org.apache.spark.sql.execution.datasources.HadoopFsRelation =>
            fs.location.rootPaths.map(_.toString)
          case _ => Nil
        }
    }.flatten
    assert(paths.exists(_.endsWith("/type")),
      s"type summary not scanned: $paths")
    assert(!paths.exists(_.endsWith("/day")),
      s"wrong-grain day summary scanned: $paths")
    assert(!paths.exists(_.endsWith("/base")),
      s"base corpus still scanned: $paths")
  }

  test("refresh routing: the query scans the REFRESHED summary version, not the stale one, never the base (cdc_mv_refresh)") {
    val df = Inventory.byName("cdc_mv_refresh").run(spark, sfDir)
    val paths = df.queryExecution.optimizedPlan.collect {
      case lr: org.apache.spark.sql.execution.datasources.LogicalRelation =>
        lr.relation match {
          case fs: org.apache.spark.sql.execution.datasources.HadoopFsRelation =>
            fs.location.rootPaths.map(_.toString)
          case _ => Nil
        }
    }.flatten
    // refreshSummary persists the fold as summary-v<token-prefix>: the
    // routed scan must read THAT version — the pre-append summary would
    // be a stale serve, the base a failed re-route
    assert(paths.exists(p => p.contains("/summary-v")),
      s"refreshed summary version not scanned: $paths")
    assert(!paths.exists(_.endsWith("/summary")),
      s"stale pre-refresh summary scanned: $paths")
    assert(!paths.exists(_.endsWith("/base")),
      s"base corpus still scanned after refresh re-route: $paths")
  }

  test("left-join star routing: summary replaces the base, the LEFT dim join survives (cdc_mv_routed_left)") {
    val df = Inventory.byName("cdc_mv_routed_left").run(spark, sfDir)
    val paths = df.queryExecution.optimizedPlan.collect {
      case lr: org.apache.spark.sql.execution.datasources.LogicalRelation =>
        lr.relation match {
          case fs: org.apache.spark.sql.execution.datasources.HadoopFsRelation =>
            fs.location.rootPaths.map(_.toString)
          case _ => Nil
        }
    }.flatten
    assert(paths.exists(_.endsWith("/summary")),
      s"summary not scanned: $paths")
    assert(paths.exists(_.endsWith("/dim")), s"dim join dropped: $paths")
    assert(!paths.exists(_.endsWith("/base")),
      s"base corpus still scanned after left-join routing: $paths")
    // the join stays LEFT OUTER in the physical plan — the optimizer
    // must not have narrowed the null-extended group away
    assert(df.queryExecution.sparkPlan.toString.contains("LeftOuter"),
      df.queryExecution.sparkPlan.toString)
  }

  test("retraction refresh: MIN/MAX scan the REFRESHED summary version, never the base (cdc_mv_refresh_retraction)") {
    val df = Inventory.byName("cdc_mv_refresh_retraction").run(spark, sfDir)
    val paths = df.queryExecution.optimizedPlan.collect {
      case lr: org.apache.spark.sql.execution.datasources.LogicalRelation =>
        lr.relation match {
          case fs: org.apache.spark.sql.execution.datasources.HadoopFsRelation =>
            fs.location.rootPaths.map(_.toString)
          case _ => Nil
        }
    }.flatten
    assert(paths.exists(_.contains("/summary-v")),
      s"refreshed summary version not scanned: $paths")
    assert(!paths.exists(_.endsWith("/summary")),
      s"stale pre-refresh summary scanned: $paths")
    assert(!paths.exists(_.endsWith("/base")),
      s"base corpus still scanned — extremes lost their routing: $paths")
  }

  test("Lloyd step assigns map-side: no join anywhere before the (cell,dim) aggregate (sim_kmeans_step)") {
    val p = plan("sim_kmeans_step")
    assert(!p.contains("Join"), p) // codebook is a literal; assignment never joins
    assert(p.contains("Generate"), p) // the dim explode
  }

  test("TWAP is one lead() window into one partial aggregate (t14)") {
    val p = plan("t14_twap")
    assert(nodeCount(p, "Window") === 1, p)
    assert(p.contains("partial_sum"), p)
    assert(!p.contains("Join"), p)
  }
}
