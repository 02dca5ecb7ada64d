package graft.pipeline

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.Materialize

/** Incremental, partition-granular rebuild of the `final` table
  * (SURVEY §7.5): the reference rewrites the WHOLE joined table on every
  * DAG run (`read_delta.py:217-222`, `mode("overwrite")`) — at 100 TB
  * that is a full-table shuffle and rewrite per day.
  *
  * Here `final` is date-partitioned and rebuilt with DYNAMIC partition
  * overwrite: only the partitions present in the incoming batch are
  * replaced; untouched history is never read, shuffled, or rewritten.
  * Re-running the same batch is idempotent (same partitions, same
  * content), which is the batch analogue of the streaming sink's
  * exactly-once contract.
  */
object IncrementalFinal {

  /** The changelog's sign (+1 insert / −1 retraction of a row the state
    * HAS counted) and value columns, and the summary state's count,
    * non-null count and sum: one set of names for every fold here and
    * for the streaming state ([[graft.streaming.StreamingIvm]]). */
  private[graft] val SignCol = "sign"
  private[graft] val ValueCol = "v_micro"
  private[graft] val CntCol = "cnt"
  private[graft] val NnCol = "n_nonnull"
  private[graft] val SumCol = "sum_micro"

  /** Per-(employee, activity-date) aggregate of one incoming batch. */
  def aggregateBatch(activities: DataFrame): DataFrame =
    activities
      .withColumn("activity_date", to_date(col("start_datetime")))
      .groupBy("id_employee", "activity_date")
      .agg(
        count(lit(1)).as("count_activity"),
        avg("activity_duration").as("mean_duration"))

  /** Join the batch aggregate with the dimensions and overwrite ONLY the
    * touched date partitions of `finalPath`. */
  def upsertBatch(spark: SparkSession, employees: DataFrame,
                  batchActivities: DataFrame, finalPath: String): Unit = {
    val byDay = aggregateBatch(batchActivities)
    val joined = JoinPipeline.employeeProjection(employees)
      .join(byDay, Seq("id_employee"))
    // per-WRITER dynamic mode — a session-conf flip would race
    // concurrent writes in a shared session (review r18)
    joined.write
      .mode(SaveMode.Overwrite)
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("activity_date")
      .parquet(finalPath)
  }

  /** Keyed MERGE into the persisted `final` table: update-or-insert the
    * `changeset` rows on (`id_employee`, `activity_date`) — the step
    * [[upsertBatch]]'s partition-granular overwrite cannot express (it
    * replaces WHOLE partitions, so a changeset touching one employee on a
    * busy day would drop that day's other rows). This is the parquet
    * stand-in for Delta's `MERGE INTO` on the batch layer, the twin of
    * [[graft.streaming.CdcApply]] on the streaming one.
    *
    * Cost ∝ touched partitions: the existing side is read with a
    * partition-value filter (partition pruning — untouched dates are
    * never opened), rows being updated are dropped with an anti join
    * against the changeset's keys (broadcast: a changeset is small by
    * construction), and only the touched date partitions are rewritten
    * via dynamic partition overwrite. Untouched history is never read,
    * shuffled, or rewritten.
    *
    * Idempotent by construction: merge(C) ∘ merge(C) ≡ merge(C) — the
    * second application anti-joins away exactly the rows the first one
    * wrote and re-inserts them unchanged (suite-pinned).
    *
    * `changeset` must carry the full `final` row schema (including
    * `activity_date`). The read-modify-write of a touched partition is
    * not atomic under concurrent writers — single-writer-per-table is
    * this parquet layout's standing contract (same as upsertBatch; a
    * transaction log is what Delta would add). */
  def mergeChangeset(spark: SparkSession, changeset: DataFrame,
                     finalPath: String): Unit = {
    val p = new org.apache.hadoop.fs.Path(finalPath)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    // an absent OR empty directory is a first write (no schema to read)
    val exists = fs.exists(p) && fs.listStatus(p).nonEmpty
    val merged = if (!exists) changeset else {
      // touched partition values: a changeset covers few dates — this
      // collect is bounded by the batch's date span, not table size.
      // NULL-date handling is explicit: isin(null) evaluates to NULL
      // and would EXCLUDE every existing row of the null partition
      // from `kept` while dynamic overwrite still rewrites that
      // partition — deleting its untouched rows, exactly the
      // whole-partition clobber this function exists to prevent
      // (review r18). The anti join is null-safe for the same reason:
      // the merge is a keyed UPSERT, so a changeset row for
      // (employee, NULL-date) must REPLACE its existing row, not
      // duplicate beside it.
      val touched = changeset.select("activity_date").distinct()
        .collect().map(_.get(0))
      val nonNullTouched = touched.filter(_ != null)
      val inTouched = {
        val base =
          if (nonNullTouched.isEmpty) lit(false)
          else col("activity_date").isin(nonNullTouched.toIndexedSeq: _*)
        if (touched.contains(null)) base || col("activity_date").isNull
        else base
      }
      val existing = spark.read.parquet(finalPath).filter(inTouched)
      val ck = broadcast(changeset
        .select(col("id_employee").as("__ck_id"),
          col("activity_date").as("__ck_date"))
        .distinct())
      val kept = existing.join(ck,
          col("id_employee") <=> col("__ck_id") &&
            col("activity_date") <=> col("__ck_date"),
          "left_anti")
      // materialize before overwriting the partitions we just read —
      // lineage must not reach back into the files being replaced
      Materialize(
        kept.unionByName(changeset.select(existing.columns.toIndexedSeq.map(col): _*)))
    }
    // per-WRITER dynamic mode (same rationale as upsertBatch)
    merged.write
      .mode(SaveMode.Overwrite)
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("activity_date")
      .parquet(finalPath)
  }

  /** Null-safe keyed merge of a state relation with a delta rollup —
    * the join every IVM fold here goes through. Spark's USING-join
    * matches keys with plain EqualTo, so a NULL grain key — a
    * legitimate GROUP BY group that recompute keeps as a first-class
    * row — would never meet its own state row: the state row would
    * keep its stale aggregate and the delta row would be filtered or
    * null-padded, silently diverging from the recompute the gates pin
    * (review r18). The condition here is `<=>` per key and the output
    * key is COALESCE(state, delta); non-key columns of the two sides
    * must be disjoint (every fold's delta columns are underscored). */
  private[graft] def keyMergeNullSafe(left: DataFrame, right: DataFrame,
                                      keyCols: Seq[String],
                                      joinType: String): DataFrame = {
    val l = left.alias("__ivm_l")
    val r = right.alias("__ivm_r")
    val cond = keyCols.map(k =>
      col(s"__ivm_l.$k") <=> col(s"__ivm_r.$k")).reduce(_ && _)
    val others = (left.columns ++ right.columns).toIndexedSeq
      .filterNot(keyCols.contains)
    require(others.distinct.size == others.size,
      s"keyMergeNullSafe: non-key columns must be disjoint, got $others")
    l.join(r, cond, joinType)
      .select(keyCols.map(k =>
        coalesce(col(s"__ivm_l.$k"), col(s"__ivm_r.$k")).as(k)) ++
        others.map(col): _*)
  }

  /** Null-safe LEFT-SEMI / LEFT-ANTI by key — the probe shape of the
    * dirty-key rescans and tombstone suppression. Same rationale as
    * [[keyMergeNullSafe]]: a NULL grain key must meet (or suppress)
    * its own row (review r18). Output = `left`'s columns unchanged. */
  private[graft] def keySemiNullSafe(left: DataFrame, right: DataFrame,
                                     keyCols: Seq[String],
                                     anti: Boolean = false): DataFrame = {
    val l = left.alias("__ivm_sl")
    val r = right.alias("__ivm_sr")
    val cond = keyCols.map(k =>
      col(s"__ivm_sl.$k") <=> col(s"__ivm_sr.$k")).reduce(_ && _)
    l.join(r, cond, if (anti) "left_anti" else "left_semi")
  }


  /** Incremental VIEW maintenance for self-maintainable aggregates
    * (count + sum): fold a signed changelog into an existing per-key
    * aggregate state WITHOUT rescanning the base — the aggregate
    * analogue of [[mergeChangeset]]'s row-level MERGE. At 100 TB the
    * base aggregate is a persisted table of |keys| rows; maintenance
    * cost is |delta| + one join on the touched keys, vs a full
    * base rescan per refresh.
    *
    * `delta` rows carry [[SignCol]] and [[ValueCol]]; both sums are
    * exact integers (micro-points upstream), so increments commute with
    * recomputation bit-for-bit — the gate (`cdc_ivm_agg`) proves
    * maintain(base, Δ) ≡
    * group-by over the post-change row set. Keys whose count reaches 0
    * leave the state. The state carries a NON-NULL count ([[NnCol]])
    * alongside the row count: SUM over a group whose non-null mass was
    * entirely retracted must be NULL on recompute, and count+sum alone
    * cannot distinguish that from an exact-zero sum — the classic IVM
    * subtlety that silently corrupts null semantics when skipped. */
  def maintainAggregate(baseAgg: DataFrame, delta: DataFrame,
                        keyCols: Seq[String]): DataFrame = {
    val deltaAgg = delta.groupBy(keyCols.map(col): _*)
      .agg(sum(col(SignCol)).as("d_cnt"),
        sum(when(col(ValueCol).isNotNull, col(SignCol))).as("d_nn"),
        sum(col(SignCol) * col(ValueCol)).as("d_sum"))
    keyMergeNullSafe(baseAgg, deltaAgg, keyCols, "full_outer")
      .select(keyCols.map(col) ++ Seq(
        (coalesce(col(CntCol), lit(0L)) + coalesce(col("d_cnt"), lit(0L)))
          .as(CntCol),
        (coalesce(col(NnCol), lit(0L)) + coalesce(col("d_nn"), lit(0L)))
          .as(NnCol),
        (coalesce(col(SumCol), lit(0L)) + coalesce(col("d_sum"), lit(0L)))
          .as("sum0")): _*)
      .filter(col(CntCol) > 0)
      .withColumn(SumCol, when(col(NnCol) > 0, col("sum0")))
      .drop("sum0")
  }

  /** The stale→refresh→re-route cycle as ONE operation — the repair
    * [[graft.plans.MvRegistry.register]]'s freshness bail demands: when a
    * base write lands after registration, every candidate rewrite
    * bails to the corpus scan until the summary is repaired, and this
    * is the repair. Folds `delta` (the signed changelog of that base
    * write) into the registered summary via [[foldSummary]] — never
    * rescanning the base — persists the result as a NEW summary
    * version, and re-registers with the CURRENT base token so routing
    * resumes. (Reference analog: the daily `join_tables` rerun,
    * `airflow/dags/rewrite_delta_dag.py:27-53`, which re-derives its
    * summary from scratch each day; here the refresh is Δ-proportional.)
    *
    * The new version is written beside the old
    * (`<stem>-v<token-prefix>`, stem = `summaryPath` with any previous
    * version suffix stripped — the plain-parquet stand-in for a
    * lakehouse snapshot): in-flight readers of the old files are never
    * disturbed, and re-running the same refresh lands on the same path.
    * The token is read BEFORE the fold — if yet another base write
    * races in between, the stamped token mismatches at query time and
    * routing bails again (conservative, never stale-serving).
    *
    * CHAINING contract (ADVICE r14, medium): the fold's previous state
    * is the REGISTERED summary (its registered path, read with its
    * registered schema), never the caller-supplied `summaryPath` — a
    * second refresh that passed the original path would silently drop
    * the first delta while stamping a fresh token, serving wrong
    * aggregates as "fresh". `summaryPath` only names the version stem.
    * Re-running a refresh whose fold already committed (registered
    * token == current base token) is a NO-OP returning the serving
    * path: by the registration contract the summary already reflects
    * this exact base version, so folding the delta again would
    * double-count it.
    *
    * Returns the refreshed summary path. Requires a summary registered
    * for `basePath` whose maintained columns are [[CntCol]], [[NnCol]]
    * and [[SumCol]] and whose delta retractions target base-counted
    * rows only (the changelog contract).
    * Registered MIN/MAX columns STAY ROUTED through retractions:
    * insert-only (and non-extreme-deleting) deltas fold exactly via
    * [[maintainMinMax]]'s least/greatest arm, and deltas that retract a
    * current extreme mark exactly those grains DIRTY — a targeted base
    * rescan of the dirty keys alone (semi-join pruned; the base must
    * carry `keyCols` + [[ValueCol]]) recomputes their extremes. Cost is
    * Δ-proportional plus the dirty-key rescan; a pure append never
    * touches the base. The min/max registrations are dropped only when
    * the summary does not carry both extreme columns for [[ValueCol]]
    * (extremes of OTHER columns would need their deltas too) — then
    * MIN/MAX queries bail to the base scan rather than ever serving a
    * wrong extreme. Registered DISTINCT-sketch columns follow the same
    * protocol via [[maintainDistinct]]: insert-only grains fold their
    * hash-set union exactly, grains with retractions rescan, and the
    * registration drops (COUNT(DISTINCT) bails to the base) whenever
    * the summary or the delta lacks a sketched column. */
  def refreshSummary(spark: SparkSession, basePath: String,
                     summaryPath: String, delta: DataFrame,
                     keyCols: Seq[String]): String = {
    // several rollup grains may be registered per base — refresh the one
    // whose grain matches this fold's keys (register replaces same-grain)
    val registered = graft.plans.MvRegistry.lookup(basePath)
      .find(_.summary.groupCols.toSet == keyCols.toSet).getOrElse(sys.error(
        s"refreshSummary: no summary with grain $keyCols registered " +
          s"for base $basePath"))
    val reg = registered.summary
    val tok = graft.plans.MvRegistry.baseVersionToken(spark, basePath)
    val stem = summaryPath.replaceAll("-v[0-9a-f]{12}$", "")
    val nextPath = s"$stem-v${tok.take(12)}"
    if (registered.token == tok) {
      // the registered summary already reflects THIS base version —
      // re-applying the delta would double-fold (idempotent re-run)
      val fs = new org.apache.hadoop.fs.Path(nextPath)
        .getFileSystem(spark.sessionState.newHadoopConf())
      return if (fs.exists(new org.apache.hadoop.fs.Path(nextPath)))
        nextPath else summaryPath
    }
    val prev = registered.read(spark)
    // single-value-column guard (review r18): this refresh maintains
    // exactly ONE (cnt, nn, sum) triple — a registration carrying
    // MORE sum/nn columns would lose every other column from the
    // persisted chain while the registration still advertises them:
    // those dashboards would silently degrade to permanent base scans
    // after the first refresh with no way to recover the column. Fail
    // loudly instead; multi-column summaries refresh by rebuild (or
    // one refresh per column over a delta carrying that column).
    require(reg.sums.values.toSet.subsetOf(Set(SumCol)) &&
      reg.nns.values.toSet.subsetOf(Set(NnCol)),
      s"refreshSummary: registration for $basePath carries sum/nn " +
        s"columns ${reg.sums.values ++ reg.nns.values} beyond this " +
        s"refresh's ($SumCol, $NnCol) — the fold would drop them from " +
        "the persisted summary while the registration still advertises " +
        "them; rebuild the summary or refresh per column")
    // Extremes and distinct sketches stay routed through retractions:
    // the fold flags the grains a retraction leaves unrepairable from
    // state, and ONLY those grains rescan the base (semi-join pruned —
    // untouched grains never read). Extremes are kept only with BOTH
    // extreme columns registered for [[ValueCol]]; sketches only when
    // the summary carries every registered sketch column and the delta
    // every sketched base column — otherwise the registration drops
    // them and MIN/MAX or COUNT(DISTINCT) bails to the base scan rather
    // than ever serving a stale value. (License residual documented at
    // maintainDistinct: cross-increment hash collisions; the periodic
    // compaction pass re-runs verifiedDistinctLicense.)
    val minColOpt = reg.mins.get(ValueCol)
    val maxColOpt = reg.maxs.get(ValueCol)
    val keepMm =
      (reg.mins.keys ++ reg.maxs.keys).forall(_ == ValueCol) &&
        minColOpt.exists(prev.columns.contains) &&
        maxColOpt.exists(prev.columns.contains)
    val keepDx = reg.distincts.nonEmpty &&
      reg.distincts.values.forall(prev.columns.contains) &&
      reg.distincts.keys.forall(delta.columns.contains)
    val next = foldSummary(Some(prev), delta, keyCols,
      if (keepMm) Some(minColOpt.get -> maxColOpt.get) else None,
      if (keepDx) reg.distincts.toSeq else Nil)(
      repairDirty(spark, basePath, keyCols, _, _, _)(_))
    next.write.mode(SaveMode.Overwrite).parquet(nextPath)
    graft.plans.MvRegistry.register(spark, basePath, reg.copy(
      path = nextPath,
      mins = if (keepMm) reg.mins else Map.empty,
      maxs = if (keepMm) reg.maxs else Map.empty,
      distincts = if (keepDx) reg.distincts else Map.empty), Some(tok))
    nextPath
  }

  /** One fold of the signed changelog `delta` into summary state — the
    * step [[refreshSummary]] and the streaming fold
    * ([[graft.streaming.StreamingIvm.applyBatch]]) share: [[CntCol]],
    * [[NnCol]] and [[SumCol]] through [[maintainAggregate]]; when
    * `extremes` names the state's (min, max) columns, the extremes of
    * [[ValueCol]] through [[maintainMinMax]]; and each (value column,
    * sketch column) of `sketches` through [[maintainDistinct]]. With no
    * `prev` the fold starts from an empty state (the delta's keys, every
    * state column NULL), so the names and types of a first state come
    * from this one definition. Output: keyCols, the three aggregate
    * columns, then the extremes, then the sketches.
    *
    * The callers differ only in `resolve`, applied once per extremes or
    * sketch state: it receives the state folded so far, the maintained
    * state (keyCols, the columns named in the renames, and a `dirty`
    * flag per grain), the renames to the state's column names, and the
    * recompute of that state from base rows; it returns the state so
    * far with the renamed columns appended. [[refreshSummary]] rescans
    * the base on the dirty grains ([[repairDirty]]); the streaming fold
    * fails the commit on them. */
  private[graft] def foldSummary(prev: Option[DataFrame], delta: DataFrame,
                                 keyCols: Seq[String],
                                 extremes: Option[(String, String)],
                                 sketches: Seq[(String, String)])
                                (resolve: (DataFrame, DataFrame,
                                  Seq[(String, String)],
                                  DataFrame => DataFrame) => DataFrame)
  : DataFrame = {
    val stateCols = Seq(CntCol, NnCol, SumCol) ++
      extremes.toSeq.flatMap { case (mn, mx) => Seq(mn, mx) } ++
      sketches.map(_._2)
    val state = prev.getOrElse(stateCols.foldLeft(
      delta.select(keyCols.map(col): _*).limit(0))(_.withColumn(_, lit(null))))
    val folded = maintainAggregate(state, delta, keyCols)
    val withMm = extremes.fold(folded) { case (mn, mx) =>
      resolve(folded,
        maintainMinMax(state.select((keyCols.map(col) :+
          col(mn).as("_mm_min") :+ col(mx).as("_mm_max")): _*), delta,
          keyCols, "_mm_min", "_mm_max", ValueCol),
        Seq("_mm_min" -> mn, "_mm_max" -> mx),
        _.groupBy(keyCols.map(col): _*)
          .agg(min(col(ValueCol)).as("_mm_min"),
            max(col(ValueCol)).as("_mm_max")))
    }
    sketches.foldLeft(withMm) { case (acc, (vCol, skCol)) =>
      resolve(acc,
        maintainDistinct(state.select(
          (keyCols.map(col) :+ col(skCol).as("__dx_sk")): _*), delta,
          keyCols, sketchCol = "__dx_sk", valueCol = vCol),
        Seq("__dx_sk" -> skCol),
        // a dirty grain whose remaining values are all null yields no
        // recompute group — the left merge leaves its sketch NULL,
        // which the routed fold reads as zero distincts (collect_list
        // skips nulls): exactly COUNT(DISTINCT) = 0
        rows => graft.functions.Kmv.withHash(
            rows.filter(col(vCol).isNotNull), vCol, "__h")
          .groupBy(keyCols.map(col): _*)
          .agg(expr("array_sort(collect_set(__h))").as("__dx_sk")))
    }
  }

  /** [[refreshSummary]]'s dirty-key repair, shared by its MIN/MAX and
    * distinct-sketch state: `maintained` (keyCols, the state columns
    * named in `renames`, and a `dirty` flag) is materialized — the
    * dirty probe and the merge both consume it. The probe is
    * |keys|-bounded and delta-gated: with no dirty key (a pure append,
    * or a delete that missed every extreme) nothing is rescanned;
    * otherwise the base is rescanned on the dirty keys only and
    * `rescan` recomputes the state from those rows. The repaired state
    * is left-merged into `acc`, each state column renamed per
    * `renames`. */
  private def repairDirty(spark: SparkSession, basePath: String,
                          keyCols: Seq[String], acc: DataFrame,
                          maintained: DataFrame,
                          renames: Seq[(String, String)])
                         (rescan: DataFrame => DataFrame): DataFrame = {
    val m = Materialize(maintained)
    val dirtyKeys = m.filter(col("dirty")).select(keyCols.map(col): _*)
    val state = (keyCols ++ renames.map(_._1)).map(col)
    val resolved =
      if (dirtyKeys.limit(1).count() == 0L) m.select(state: _*)
      else m.filter(!col("dirty")).select(state: _*)
        .unionByName(rescan(keySemiNullSafe(
          spark.read.parquet(basePath), dirtyKeys, keyCols)))
    keyMergeNullSafe(acc, resolved, keyCols, "left")
      .select((acc.columns.toIndexedSeq.map(col) ++
        renames.map { case (c, to) => col(c).as(to) }): _*)
  }

  /** MIN/MAX IVM with the honest dirty-key protocol. Extremes are NOT
    * self-maintainable under retraction: deleting the current minimum
    * cannot be repaired from (key, min, max) state alone — the new
    * minimum lives in the base. Pretending otherwise is how IVM
    * implementations silently corrupt; the industrial answer is the
    * RESCAN SET: maintain what is maintainable, and return exactly the
    * keys that need a (targeted, delta-proportional) base rescan.
    *
    *   inserts  : new_min = least(old_min, min inserted) — always exact
    *   deletes  : if any retracted value ≤ old_min (or ≥ old_max) the
    *              key is DIRTY — conservative on duplicates (deleting
    *              one copy of a duplicated minimum still flags, and the
    *              rescan simply confirms the value)
    *   no extreme stored (a new key, or only NULLs so far): any
    *              non-null retraction retracts a value inserted in the
    *              same delta → DIRTY; otherwise the extremes of its
    *              inserts
    *
    * Output: (keys…, min_v, max_v, dirty) — dirty rows carry NULL
    * extremes; the caller rescans base rows on those keys only (the
    * gated `cdc_ivm_minmax` composes maintenance + targeted rescan and
    * proves the result ≡ full recompute). Keys whose rows are all
    * retracted must be dropped by the caller's count state
    * ([[maintainAggregate]] owns liveness). */
  def maintainMinMax(baseMm: DataFrame, delta: DataFrame,
                     keyCols: Seq[String],
                     minCol: String = "min_v", maxCol: String = "max_v",
                     valueCol: String = "v"): DataFrame = {
    val dAgg = delta.groupBy(keyCols.map(col): _*)
      .agg(
        min(when(col(SignCol) > 0, col(valueCol))).as("_ins_min"),
        max(when(col(SignCol) > 0, col(valueCol))).as("_ins_max"),
        min(when(col(SignCol) < 0, col(valueCol))).as("_del_min"),
        max(when(col(SignCol) < 0, col(valueCol))).as("_del_max"))
    keyMergeNullSafe(baseMm, dAgg, keyCols, "full_outer")
      // no non-null retraction → clean; one on a grain with no stored
      // extreme (new to this delta, or all-NULL so far) retracts a value
      // inserted in this same delta → dirty, the stored NULL bounds nothing
      .withColumn("dirty", col("_del_min").isNotNull &&
        (col(minCol).isNull || col("_del_min") <= col(minCol) ||
          col("_del_max") >= col(maxCol)))
      .select(keyCols.map(col) ++ Seq(
        when(!col("dirty"), least(col(minCol), col("_ins_min"))).as(minCol),
        when(!col("dirty"), greatest(col(maxCol), col("_ins_max"))).as(maxCol),
        col("dirty")): _*)
  }

  /** The EXACT-license check behind [[graft.plans.MvRegistry.Summary]]'s
    * `distincts` registration — run at summary BUILD time (the build
    * already scans the base, so the two verification aggregates ride
    * the same data): a distinct-sketch column may serve
    * COUNT(DISTINCT `valueCol`) exactly iff
    *
    *   (a) UNSATURATED: every grain's distinct-hash count ≤ k, so each
    *       sketch array is its grain's COMPLETE distinct-hash set
    *       (unions at any coarser grain are then complete too), and
    *   (b) INJECTIVE: the 48-bit md5 family is collision-free on the
    *       OBSERVED value set — count of distinct hashes equals count
    *       of distinct values globally (global, not per-grain: coarser
    *       rollups union hashes ACROSS grains, so cross-grain
    *       collisions must be ruled out as well).
    *
    * This is the sketch-then-verify discipline (`a26_ams_f2` /
    * `text_freq_cm` precedent): the sketch serves, the exact check
    * licenses. Returns false → do NOT register the distincts entry;
    * distinct queries then bail to the base scan, never serve a wrong
    * count. Collision odds make (b) fail ~never (n²/2⁴⁹), but "~never"
    * is not a correctness argument — the check is. */
  def verifiedDistinctLicense(base: DataFrame, keyCols: Seq[String],
                              valueCol: String, k: Int): Boolean = {
    val hashed = graft.functions.Kmv.withHash(
      base.select((keyCols :+ valueCol).map(col): _*)
        .filter(col(valueCol).isNotNull),
      valueCol, "__h")
    // ONE base pass (r18): the per-grain saturation max and the global
    // injectivity counts previously ran as two separate scan+aggregate
    // jobs over the same rows; a ROLLUP computes both grains in one.
    // grouping_id() disambiguates a genuinely-NULL grain key (gid 0)
    // from the rollup's grand-total row (gid all-ones), so NULL-keyed
    // grains still count toward per-grain saturation exactly as the
    // old groupBy did.
    val gidAll = (1L << keyCols.size) - 1
    val grains = hashed.rollup(keyCols.map(col): _*)
      .agg(countDistinct(col("__h")).as("__ndh"),
        countDistinct(col(valueCol)).as("__ndv"),
        grouping_id().as("__gid"))
    val row = grains.agg(
      max(when(col("__gid") === 0L, col("__ndh"))).as("m"),
      max(when(col("__gid") === gidAll, col("__ndh"))).as("h"),
      max(when(col("__gid") === gidAll, col("__ndv"))).as("v")).head()
    val maxPerGrain = if (row.isNullAt(0)) 0L else row.getLong(0)
    val h = if (row.isNullAt(1)) 0L else row.getLong(1)
    val v = if (row.isNullAt(2)) 0L else row.getLong(2)
    maxPerGrain <= k && h == v
  }

  /** Saturation telemetry for the distinct-sketch license (VERDICT r17
    * item 5): [[verifiedDistinctLicense]] REFUSES registration when a
    * grain saturates, but at 100 TB the operational risk is the license
    * silently expiring between builds — nothing reported HOW CLOSE live
    * grains were to the k boundary. This report publishes, per
    * `reportCols` key: the number of sketch cells at the
    * `reportCols ++ cellCols` sketch grain, the fullest cell's
    * distinct-hash count (`max_fill`), its ppm fill of k, the minimum
    * margin to the k boundary (negative ⇒ already over), whether any
    * cell is saturated (license (a) broken — the next
    * verifiedDistinctLicense run will refuse), and whether hashing
    * stayed injective WITHIN each cell (a per-cell tripwire for license
    * (b); the license check itself remains authoritative — it verifies
    * injectivity globally, which per-cell equality does not imply).
    * Everything is exact integer arithmetic over the replayable 48-bit
    * md5 family, so the gate hash-checks the whole report. Cost: one
    * base pass + a |cells|-row rollup — the same shape as the sketch
    * build it audits, and at 100 TB it rides the build's scan. */
  def distinctLicenseReport(base: DataFrame, reportCols: Seq[String],
                            cellCols: Seq[String], valueCol: String,
                            k: Int): DataFrame = {
    import org.apache.spark.sql.types.LongType
    require(k >= 1, s"k must be >= 1, got $k")
    val hashed = graft.functions.Kmv.withHash(
      base.filter(col(valueCol).isNotNull), valueCol, "__h")
    val cells = hashed
      .groupBy((reportCols ++ cellCols).map(col): _*)
      .agg(countDistinct(col("__h")).as("__ndh"),
        countDistinct(col(valueCol)).as("__ndv"))
    cells.groupBy(reportCols.map(col): _*)
      .agg(
        count(lit(1)).cast(LongType).as("n_cells"),
        max(col("__ndh")).cast(LongType).as("max_fill"),
        min(lit(k.toLong) - col("__ndh")).cast(LongType).as("min_margin"),
        max(when(col("__ndh") > k, 1L).otherwise(0L)).as("__sat"),
        min(when(col("__ndh") === col("__ndv"), 1L).otherwise(0L))
          .as("__inj"))
      .select((reportCols.map(col) ++ Seq(
        col("n_cells"), col("max_fill"),
        expr(s"(max_fill * 1000000L) DIV ${k}L").cast(LongType)
          .as("max_fill_ppm"),
        col("min_margin"),
        (col("__sat") === 1L).as("saturated"),
        (col("__inj") === 1L).as("injective_cells"))): _*)
  }

  /** Distinct-sketch IVM with the dirty-key protocol
    * ([[maintainMinMax]]'s shape — distinct sets, like extremes, are
    * NOT self-maintainable under retraction: the sketch carries no
    * multiplicities, so "did this delete remove the LAST copy of its
    * value?" is undecidable from state alone):
    *
    *   inserts  : sketch(grain) ← sketch ∪ {hashes of inserted values}
    *              — exact, set union commutes with recomputation
    *   deletes  : the grain goes DIRTY (conservative: under the
    *              changelog contract every retraction targets a
    *              base-counted row, so its hash IS in the sketch and
    *              might be the value's last copy)
    *   new keys : sketch of their inserts; a retraction in the same
    *              delta makes them DIRTY like any other grain
    *
    * Output: (keys…, `sketchCol`, dirty) — dirty rows carry NULL
    * sketches; the caller rescans base rows on those keys only (the
    * gated `cdc_ivm_distinct` composes maintenance + targeted rescan
    * and proves the result ≡ full recompute). The union is kept WHOLE
    * (no k-slice): a clean fold that grows a grain past its build-time
    * k has outgrown the exact license — the caller re-verifies via
    * [[verifiedDistinctLicense]] before re-registering, exactly as
    * [[refreshSummary]] re-stamps tokens. Residual honesty: a fold
    * preserves license (b) modulo hash collisions BETWEEN increments
    * (old values are gone; only their hashes remain), the same
    * n²/2⁴⁹ envelope the build check closed — a strict deployment
    * re-runs the license check on its periodic compaction pass. */
  def maintainDistinct(baseSk: DataFrame, delta: DataFrame,
                       keyCols: Seq[String],
                       sketchCol: String = "kmv",
                       valueCol: String = "v"): DataFrame = {
    val dAgg = graft.functions.Kmv
      .withHash(delta, valueCol, "__h")
      .groupBy(keyCols.map(col): _*)
      .agg(
        expr(s"array_sort(collect_set(CASE WHEN $SignCol > 0 " +
          "THEN __h END))").as("__ins_sk"),
        (sum(when(col(SignCol) < 0, lit(1L)).otherwise(lit(0L))) > 0)
          .as("__any_del"))
    val empty = "CAST(array() AS ARRAY<BIGINT>)"
    keyMergeNullSafe(baseSk, dAgg, keyCols, "full_outer")
      .withColumn("dirty", coalesce(col("__any_del"), lit(false)))
      .select(keyCols.map(col) ++ Seq(
        when(!col("dirty"), expr(
          s"""array_sort(array_distinct(concat(
              coalesce($sketchCol, $empty),
              coalesce(__ins_sk, $empty))))""")).as(sketchCol),
        col("dirty")): _*)
  }

  /** Incremental VIEW maintenance for an inner equi-JOIN — the join
    * half of the IVM pair ([[maintainAggregate]] is the aggregate
    * half): keep V = A ⋈ B current under signed changelogs of BOTH
    * sides without re-joining the bases. The classic delta rule,
    * with both deltas applied in one step:
    *
    *   ΔV = ΔA ⋈ B  ∪  A ⋈ ΔB  ∪  ΔA ⋈ ΔB     (signs multiply)
    *   V' = reduce(V ∪ ΔV)                      (net sign per tuple)
    *
    * The third term is the one hand-rolled "refresh the changed rows"
    * jobs forget: a row inserted into A this batch must also see the
    * rows inserted into B this batch.
    *
    * Cost at 100 TB: the delta joins touch |Δ|·matching keys — ΔA
    * joins the (persisted, bucketed) base B on the key, never
    * base ⋈ base — and the final reduction groups V ∪ ΔV. (This
    * DataFrame-pure formulation re-reduces the whole view; the
    * persisted deployment is [[maintainJoinBucketed]], which applies
    * the SAME ΔV via a keyed merge into bucketed view state —
    * [[graft.streaming.CdcApply]]'s touched-buckets-only shape — so
    * the reduction, too, becomes Δ-proportional. The algebra is
    * identical; only the materialization differs.) An update
    * is retract-old + insert-new (the changelog form CdcApply's op
    * routing emits), so payload changes net the old tuple to 0 and
    * keep the new one; signed multiset algebra needs no special
    * update case.
    *
    * Contract: `aOld`/`bOld` are the PRE-batch bases; deltas carry
    * [[SignCol]] (+1/−1); apart from `key`, A-columns and B-columns are
    * disjoint; inputs are PK-keyed changelogs (CdcApply's contract) so
    * net multiplicities are 0 or 1 — tuples with net sign ≤ 0 leave
    * the view. The gate (`cdc_ivm_join`) proves maintain ≡ re-join of
    * the post-change bases; the PropertySpec law does the same on
    * random changelogs. */
  def maintainJoin(view: DataFrame, aOld: DataFrame, bOld: DataFrame,
                   dA: DataFrame, dB: DataFrame,
                   key: Seq[String]): DataFrame = {
    val outCols = view.columns.toSeq
    view.withColumn("_m", lit(1))
      .unionByName(innerJoinDelta(aOld, bOld, dA, dB, key, outCols))
      .groupBy(outCols.map(col): _*)
      .agg(sum(col("_m")).as("_net"))
      .filter(col("_net") > 0)
      .drop("_net")
  }

  /** The signed INNER-join view delta (`outCols` :+ `_m`): the three
    * classic delta-rule terms, shared by [[maintainJoin]] (whole-view
    * reduction) and [[maintainJoinBucketed]] (keyed merge) exactly as
    * [[leftJoinDelta]] is shared by the left-outer pair — one
    * definition, so a delta-rule fix can never land in one
    * materialization and not the other (review r18). */
  private def innerJoinDelta(aOld: DataFrame, bOld: DataFrame,
                             dA: DataFrame, dB: DataFrame,
                             key: Seq[String],
                             outCols: Seq[String]): DataFrame = {
    def term(l: DataFrame, r: DataFrame, s: org.apache.spark.sql.Column) =
      l.join(r, key).withColumn("_m", s)
        .select(outCols.map(col) :+ col("_m"): _*)
    val sA = col(SignCol)
    val sB = col(s"${SignCol}_b")
    val dBr = dB.withColumnRenamed(SignCol, s"${SignCol}_b")
    term(dA, bOld, sA)
      .unionByName(term(aOld, dBr, sB))
      .unionByName(term(dA, dBr, sA * sB))
  }

  /** Seed the PERSISTED view state [[maintainJoinBucketed]] maintains:
    * write the initial view into [[graft.streaming.CdcApply]]'s
    * hash-bucketed layout with the version column the incremental
    * merges order by. `batchId` must precede every later merge's. */
  def seedJoinView(view: DataFrame, key: Seq[String], statePath: String,
                   batchId: Long = 0L, nBuckets: Int = 16): Unit = {
    val seeded = view.withColumn("__graft_v", lit(batchId))
    graft.streaming.CdcApply.mergeIntoBucketedState(
      seeded, seeded.limit(0), key, Seq("__graft_v"), statePath, nBuckets)
  }

  /** Δ-proportional MATERIALIZATION of [[maintainJoin]]: the same
    * three delta terms, applied to a persisted, hash-bucketed view
    * table through [[graft.streaming.CdcApply.mergeIntoBucketedState]]
    * instead of re-reducing the whole view. This is the composition
    * [[maintainJoin]]'s scaladoc promises: at 100 TB the pure-DataFrame
    * form's final `groupBy(V ∪ ΔV)` touches |V| every batch; here the
    * net ΔV (delta-sized) becomes keyed upserts + tombstones and ONLY
    * the buckets containing changed keys are read or rewritten —
    * untouched bucket files are not even opened (suite pins this with
    * an mtime snapshot, and pins merge-materialized ≡ maintainJoin on
    * random two-sided changelogs).
    *
    * ΔV tuples with net sign > 0 upsert their key's row; keys whose ΔV
    * is pure retraction (net < 0 with no replacement tuple) tombstone.
    * Under [[maintainJoin]]'s PK-keyed contract (≤ 1 view row per key)
    * this keyed form carries exactly the multiset algebra's content.
    * `batchId` must increase across merges (the bucketed state's
    * monotone-ingestion contract); seed first with [[seedJoinView]]. */
  def maintainJoinBucketed(statePath: String, aOld: DataFrame,
                           bOld: DataFrame, dA: DataFrame, dB: DataFrame,
                           key: Seq[String], batchId: Long,
                           nBuckets: Int = 16): Unit = {
    val aCols = aOld.columns.toSeq
    val outCols = aCols ++ bOld.columns.toSeq.filterNot(key.contains)
    val net = innerJoinDelta(aOld, bOld, dA, dB, key, outCols)
      .groupBy(outCols.map(col): _*)
      .agg(sum(col("_m")).as("_net"))
    mergeNetDelta(net, key, statePath, batchId, nBuckets)
  }

  /** Apply a net-signed view delta (`_net` per output tuple) through
    * the bucketed keyed merge: net > 0 tuples upsert their key's row;
    * keys whose delta is pure retraction tombstone. Correct under the
    * PK-keyed contract (≤ 1 view row per key). */
  private def mergeNetDelta(net: DataFrame, key: Seq[String],
                            statePath: String, batchId: Long,
                            nBuckets: Int): Unit = {
    val upserts = net.filter(col("_net") > 0).drop("_net")
      .withColumn("__graft_v", lit(batchId))
    // pure retractions: the key's old row leaves and nothing replaces
    // it this batch — a negative tuple alongside an upsert is the
    // retract-old half of an update, which the upsert's argmax already
    // supersedes
    // null-safe tombstone suppression (review r18): an UPDATE of a
    // NULL-key row nets {old: −1, new: +1}; a null-unsafe anti join
    // would emit BOTH the upsert and a tombstone at the same version
    // and max_by's tie would make the row's survival nondeterministic
    val dead = keySemiNullSafe(
      net.filter(col("_net") < 0).select(key.map(col): _*),
      net.filter(col("_net") > 0).select(key.map(col): _*),
      key, anti = true)
    val schema = upserts.schema
    val tombstones = dead.select(upserts.columns.toIndexedSeq.map(c =>
      if (key.contains(c)) col(c)
      else if (c == "__graft_v") lit(batchId).as(c)
      else lit(null).cast(schema(c).dataType).as(c)): _*)
    graft.streaming.CdcApply.mergeIntoBucketedState(
      upserts, tombstones, key, Seq("__graft_v"), statePath, nBuckets)
  }

  /** The LEFT-outer twin of [[maintainJoinBucketed]]: the SAME signed
    * delta [[maintainLeftJoin]] reduces against the whole view —
    * matched delta-rule terms plus the affected-keys null-extension
    * delta — applied as a keyed merge instead. A key's transition
    * null-extended ↔ matched is retract-old + insert-new in the delta,
    * which the merge expresses as one upsert; only a key leaving A
    * entirely tombstones. Cost ∝ |Δ| + touched buckets, identical
    * algebra (suite pins merge-materialized ≡ maintainLeftJoin ≡
    * re-left-join on random two-sided changelogs). */
  def maintainLeftJoinBucketed(statePath: String, aOld: DataFrame,
                               bOld: DataFrame, dA: DataFrame,
                               dB: DataFrame, key: Seq[String],
                               batchId: Long, nBuckets: Int = 16): Unit = {
    val aCols = aOld.columns.toSeq
    val outCols = aCols ++ bOld.columns.toSeq.filterNot(key.contains)
    val bTypes = bOld.schema.fields.map(f => f.name -> f.dataType).toMap
    val net = leftJoinDelta(aOld, bOld, dA, dB, key, outCols, aCols, bTypes)
      .groupBy(outCols.map(col): _*)
      .agg(sum(col("_m")).as("_net"))
    mergeNetDelta(net, key, statePath, batchId, nBuckets)
  }

  /** The materialized view kept by [[seedJoinView]] +
    * [[maintainJoinBucketed]] (layout columns dropped). */
  def readJoinView(spark: SparkSession, statePath: String): DataFrame =
    graft.streaming.CdcApply.readState(spark, statePath).drop("__graft_v")

  /** LEFT-OUTER join IVM — the genuinely hard case [[maintainJoin]]'s
    * inner algebra cannot express: when a key gains its FIRST match the
    * null-extended tuple must retract, and when it loses its LAST the
    * tuple must reappear. The matched part follows the inner delta rule
    * unchanged; the null-extended part is maintained by the
    * AFFECTED-KEYS argument:
    *
    *   N(A, B) = { a ⋈ NULLs : cnt_B(a.key) = 0 } changes only for
    *   keys touched by ΔA or ΔB — so ΔN = N(A', B')|T − N(A, B)|T
    *   computed over T = keys(ΔA) ∪ keys(ΔB) only.
    *
    * Everything is Δ-proportional: T is delta-sized, `aOld`/`bOld` are
    * probed with semi-joins on T (bucketed bases at scale), and match
    * counts are computed on T alone — the bases never re-join.
    *
    * Contracts on top of [[maintainJoin]]'s: B's payload must include a
    * column that is non-null on real rows (its PK — so a null-extended
    * tuple can never collide with a matched tuple in the reduction),
    * and `view` is the PRE-batch LEFT join. PropertySpec pins
    * maintain ≡ from-scratch left re-join on random two-sided
    * changelogs, including 0→match and match→0 transitions. */
  def maintainLeftJoin(view: DataFrame, aOld: DataFrame, bOld: DataFrame,
                       dA: DataFrame, dB: DataFrame,
                       key: Seq[String]): DataFrame = {
    val outCols = view.columns.toSeq
    val aCols = aOld.columns.toSeq
    val bTypes = view.schema.fields.map(f => f.name -> f.dataType).toMap
    view.withColumn("_m", lit(1))
      .unionByName(leftJoinDelta(aOld, bOld, dA, dB, key, outCols, aCols,
        bTypes))
      .groupBy(outCols.map(col): _*)
      .agg(sum(col("_m")).as("_net"))
      .filter(col("_net") > 0)
      .drop("_net")
  }

  /** The signed LEFT-join view delta (`outCols` :+ `_m`): matched
    * delta-rule terms plus the affected-keys null-extension delta —
    * shared by [[maintainLeftJoin]] (whole-view reduction) and
    * [[maintainLeftJoinBucketed]] (keyed merge). */
  private def leftJoinDelta(aOld: DataFrame, bOld: DataFrame,
                            dA: DataFrame, dB: DataFrame,
                            key: Seq[String],
                            outCols: Seq[String], aCols: Seq[String],
                            bTypes: Map[String, org.apache.spark.sql.types.DataType])
  : DataFrame = {
    def nullExtend(a: DataFrame) = a.select(
      outCols.map(c => if (aCols.contains(c)) col(c)
      else lit(null).cast(bTypes(c)).as(c)) :+ col("_m"): _*)

    // NULL-key rows short-circuit the key machinery (review r18): an A
    // row with a NULL join key never matches ANY B row under SQL join
    // semantics, so its view row is null-extended unconditionally —
    // its delta is just its signed null-extension (the null-unsafe
    // semi-joins below would otherwise drop it entirely, silently
    // diverging from the from-scratch LEFT JOIN). B rows with NULL
    // keys match nothing and never affect the view at all.
    val nullKey = key.map(col(_).isNull).reduce(_ || _)
    val dAnull = dA.filter(nullKey)
    val dA2 = dA.filter(!nullKey)
    val dB2 = dB.filter(!nullKey)
    val dNullExt = nullExtend(dAnull
      .withColumnRenamed(SignCol, "_m")
      .select(aCols.map(col) :+ col("_m"): _*))

    // matched part: the inner delta rule over the non-null-key deltas
    val dInner = innerJoinDelta(aOld, bOld, dA2, dB2, key, outCols)

    // null-extended part, over the affected (non-null) keys T only
    val touched = dA2.select(key.map(col): _*)
      .unionByName(dB2.select(key.map(col): _*)).distinct()
    val aOldT = aOld.join(touched, key, "left_semi")
    val cntOld = bOld.join(touched, key, "left_semi")
      .groupBy(key.map(col): _*).agg(count(lit(1)).as("_cold"))
    val cntNew = cntOld
      .join(dB2.groupBy(key.map(col): _*).agg(sum(col(SignCol)).as("_d")),
        key, "full_outer")
      .select(key.map(col) :+
        (coalesce(col("_cold"), lit(0L)) + coalesce(col("_d"), lit(0L)))
          .as("_cnew"): _*)
    val unmatchedOld = touched.join(cntOld, key, "left_anti")
      .select(key.map(col): _*) // keys with zero old matches
    val unmatchedNew = cntNew.filter(col("_cnew") <= 0)
      .select(key.map(col): _*)
      .unionByName(touched.join(cntNew, key, "left_anti")
        .select(key.map(col): _*)) // keys dB never mentions, cntOld absent
    // −N_old|T : every OLD a row on a key that HAD no match
    val nOld = nullExtend(
      aOldT.join(unmatchedOld, key, "left_semi").withColumn("_m", lit(-1L)))
    // +N_new|T : every NEW a row (old rows + signed deltas) on a key
    // that HAS no match now — a-row signs carry through
    val aNewT = aOldT.withColumn("_m", lit(1L))
      .unionByName(dA2.withColumnRenamed(SignCol, "_m"))
    val nNew = aNewT.join(unmatchedNew, key, "left_semi")
      .select(aCols.map(col) :+ col("_m"): _*)
    dInner.unionByName(nOld.unionByName(nullExtend(nNew)))
      .unionByName(dNullExt)
  }
}
