package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, SaveMode}
import org.apache.spark.sql.functions._

import graft.core.Materialize

/** CDC apply: materialize the CURRENT state of a table from its routed
  * change log — the parquet stand-in for Delta's `MERGE INTO` that
  * [[CdcIngest.runRouted]]'s tombstone table exists to feed. The
  * reference pipeline is insert-only and drops deletes on the floor
  * (`/root/reference/spark/SaveDelta.scala:149`); any real CDC consumer
  * with updates/deletes needs this step: latest row image per key wins,
  * and a key whose latest change is a delete is absent.
  *
  * Shape: tag each side, union, ONE hash aggregate on the key taking
  * `max_by(row-image-struct, change-order-struct)` — partial aggregation
  * applies (each map task keeps one candidate row per key), so the single
  * shuffle carries at most one row per (task, key), never the change
  * history. No window, no sort, no join: at 100 TB of changelog this is
  * strictly cheaper than the row_number-over-key formulation (which
  * shuffles EVERY change to sort it) while computing the same argmax.
  *
  * Ordering: `orderCols` must totally order changes within a key —
  * Debezium's `ts_ms` is millisecond-granular, so real deployments
  * append the log offset/LSN as a tiebreak (the suite uses `ts_ms`
  * alone with distinct values). Struct comparison is lexicographic in
  * column order.
  *
  * Idempotence: the operator is a pure function of the accumulated
  * (upserts, tombstones) tables, so replaying it — or re-appending the
  * same at-least-once batch before it — yields the identical state:
  * duplicate rows share their (key, order) coordinates and the argmax is
  * unchanged. That is exactly the downstream-dedup contract runRouted's
  * scaladoc promises.
  */
object CdcApply {

  /** Current state: one row per live key — the key's latest row image by
    * `orderCols`, omitted when that latest change is a tombstone.
    * `upserts` and `tombstones` must share a schema (runRouted's two
    * outputs do by construction); output schema = that schema. */
  def currentState(upserts: DataFrame, tombstones: DataFrame,
                   keyCols: Seq[String], orderCols: Seq[String]): DataFrame = {
    require(keyCols.nonEmpty, "need at least one key column")
    require(orderCols.nonEmpty, "need at least one ordering column")
    val cols = upserts.columns.toSeq
    require(tombstones.columns.toSeq == cols,
      s"changelog sides must share a schema: $cols vs ${tombstones.columns.toSeq}")
    val tagged = upserts.withColumn("__graft_deleted", lit(false))
      .unionByName(tombstones.withColumn("__graft_deleted", lit(true)))
    val image = struct((cols :+ "__graft_deleted").map(col): _*)
    val order = struct(orderCols.map(col): _*)
    tagged
      .groupBy(keyCols.map(col): _*)
      .agg(max_by(image, order).as("__latest"))
      .where(!col("__latest.__graft_deleted"))
      .select(cols.map(c => col(s"__latest.`$c`").as(c)): _*)
  }

  /** Incremental fold of ONE new batch into a previously materialized
    * state: `state' = currentState(state ∪ batch)` — the daily-apply
    * shape, costing one shuffle over |state| + |batch| with no changelog
    * re-read (the accumulated upsert/tombstone tables never re-enter the
    * plan).
    *
    * Contract: batch changes must order AFTER everything already folded
    * into `state` (monotone ingestion — what a checkpointed streaming
    * source guarantees). A deleted key is ABSENT from state, so an
    * out-of-order batch carrying an older upsert for it would wrongly
    * resurrect the key; conversely an out-of-order older tombstone
    * loses to the state row's newer order key and is ignored. Both are
    * the standard incremental-materialization trade — replay from the
    * full changelog ([[currentState]]) when ingestion order broke. */
  def applyBatch(state: DataFrame, upserts: DataFrame, tombstones: DataFrame,
                 keyCols: Seq[String], orderCols: Seq[String]): DataFrame =
    currentState(state.unionByName(upserts), tombstones, keyCols, orderCols)

  /** Continuous apply against a PERSISTED, hash-bucketed state table:
    * fold one batch of routed changes into the parquet state at
    * `statePath`, rewriting ONLY the buckets containing batch keys.
    *
    * The state is partitioned by `__graft_bucket = pmod(xxhash64(key),
    * nBuckets)` — a deterministic function of the key, so a batch's
    * touched-bucket set is computable map-side and every untouched
    * bucket's files are never read, shuffled, or rewritten (the same
    * cost-∝-touched-partitions contract as
    * [[graft.pipeline.IncrementalFinal.mergeChangeset]], with hash
    * buckets standing in for date partitions because CDC keys have no
    * natural range). Within the touched buckets the fold is
    * [[applyBatch]]: argmax per key over (existing state ∪ batch
    * upserts) minus keys whose latest change is a batch tombstone —
    * deletes REMOVE rows from the persisted state, which plain
    * append/overwrite sinks cannot express. Same monotone-ingestion
    * contract as [[applyBatch]]; same single-writer contract as every
    * parquet-backed mutable table here (Delta's transaction log is the
    * upgrade path).
    *
    * First call against an absent/empty `statePath` seeds the table from
    * the batch alone. `nBuckets` is a LAYOUT constant: changing it
    * re-keys the partitioning, so pick once per table (it must divide
    * hot batches well — 256–4096 at warehouse scale). */
  def mergeIntoBucketedState(upserts: DataFrame, tombstones: DataFrame,
                             keyCols: Seq[String], orderCols: Seq[String],
                             statePath: String, nBuckets: Int = 16): Unit = {
    require(nBuckets >= 1, s"nBuckets must be >= 1, got $nBuckets")
    val spark = upserts.sparkSession
    val bucket = pmod(xxhash64(keyCols.map(col): _*), lit(nBuckets))
    val p = new org.apache.hadoop.fs.Path(statePath)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    val exists = fs.exists(p) && fs.listStatus(p).nonEmpty
    // touched buckets: a bounded collect (≤ nBuckets values)
    val touched = upserts.select(bucket.as("b"))
      .unionByName(tombstones.select(bucket.as("b")))
      .distinct().collect().map(_.getLong(0))
    val next = if (!exists) {
      currentState(upserts, tombstones, keyCols, orderCols)
    } else {
      val state = spark.read.parquet(statePath)
        .filter(col("__graft_bucket").isin(touched.toIndexedSeq: _*))
        .drop("__graft_bucket")
      applyBatch(state, upserts, tombstones, keyCols, orderCols)
    }
    // materialize before overwriting the bucket files we just read
    val out = Materialize(next.withColumn("__graft_bucket", bucket))
    // per-WRITER dynamic mode, not the session conf: mutating the
    // session global around the write races any concurrent write in a
    // shared session — an unrelated full-table overwrite issued while
    // this merge holds the conf at "dynamic" silently becomes a
    // partial overwrite (review r18)
    out.write.mode(org.apache.spark.sql.SaveMode.Overwrite)
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("__graft_bucket").parquet(statePath)
    // dynamic overwrite only replaces partitions PRESENT in the output:
    // a bucket whose every key was deleted this batch produces no rows,
    // so its stale directory must be dropped explicitly or the deleted
    // rows would survive (spec-pinned)
    if (exists) {
      val live = out.select("__graft_bucket").distinct()
        .collect().map(_.getLong(0)).toSet
      touched.filterNot(live).foreach { b =>
        fs.delete(new org.apache.hadoop.fs.Path(p, s"__graft_bucket=$b"), true)
      }
    }
    // schema marker: one empty, schema-bearing file in the reserved
    // bucket -1 (pmod yields 0..n-1, so no real batch ever touches it).
    // It keeps the table readable when a batch deletes every live row —
    // a fully wiped state is still a TABLE, not a schema error.
    val marker = new org.apache.hadoop.fs.Path(p, "__graft_bucket=-1")
    if (!fs.exists(marker))
      out.drop("__graft_bucket").limit(0).repartition(1)
        .write.mode(SaveMode.Overwrite).parquet(marker.toString)
  }

  /** Read the materialized state back (layout column dropped). */
  def readState(spark: org.apache.spark.sql.SparkSession, statePath: String): DataFrame =
    spark.read.parquet(statePath).drop("__graft_bucket")

  /** Table state AS OF an instant — the time-travel lookup Delta's
    * `VERSION AS OF` serves, over a plain parquet changelog: the SCD2
    * version whose validity interval covers `at` (keys whose latest
    * change before `at` is a delete are absent, because the tombstone
    * closed their last interval). The filter is a map-side predicate
    * over the history; for repeated lookups at 100 TB, WRITE the
    * [[scd2History]] once (partitioned by month of `valid_from`) and
    * serve every AS-OF query from that table instead of re-windowing
    * the changelog.
    */
  def stateAt(upserts: DataFrame, tombstones: DataFrame,
              keyCols: Seq[String], orderCols: Seq[String],
              tsCol: String, at: Column): DataFrame =
    scd2History(upserts, tombstones, keyCols, orderCols, tsCol)
      .where(col("valid_from") <= at &&
        (col("valid_to").isNull || col("valid_to") > at))
      .drop("valid_from", "valid_to", "is_current")

  /** SCD-type-2 history materialization — the versioned complement of
    * [[currentState]]: every upsert opens a version valid from its own
    * `tsCol` until the key's NEXT change (upsert or tombstone) closes
    * it; `valid_to` is null on the open (current) version, and a key
    * whose last change is a delete has no current version (the delete
    * closes the range but emits no row of its own). This is the
    * dimension-history table a warehouse keeps next to the current
    * snapshot.
    *
    * Shape: one window over (key, orderCols) — the single inherent
    * shuffle (history needs per-key order); `lead` runs BEFORE deletes
    * are filtered so a tombstone's timestamp closes its predecessor.
    * Output = upsert schema + (valid_from, valid_to, is_current). */
  def scd2History(upserts: DataFrame, tombstones: DataFrame,
                  keyCols: Seq[String], orderCols: Seq[String],
                  tsCol: String): DataFrame = {
    require(keyCols.nonEmpty, "need at least one key column")
    require(orderCols.nonEmpty, "need at least one ordering column")
    val cols = upserts.columns.toSeq
    require(tombstones.columns.toSeq == cols,
      s"changelog sides must share a schema: $cols vs ${tombstones.columns.toSeq}")
    require(cols.contains(tsCol), s"$tsCol must be a changelog column")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(keyCols.map(col): _*)
      .orderBy(orderCols.map(col): _*)
    upserts.withColumn("__graft_deleted", lit(false))
      .unionByName(tombstones.withColumn("__graft_deleted", lit(true)))
      .withColumn("valid_to", lead(col(tsCol), 1).over(w))
      .where(!col("__graft_deleted"))
      .select(cols.map(col) ++ Seq(
        col(tsCol).as("valid_from"),
        col("valid_to"),
        col("valid_to").isNull.as("is_current")): _*)
  }

  /** Snapshot reconciliation: per-key status of `newDf` against `oldDf`
    * — `added` / `removed` / `changed` / `unchanged` — the anti-entropy
    * check run after a migration, backfill, or replicated CDC apply to
    * prove two table versions agree (and quantify exactly how they
    * don't). One full-outer shuffle join on the key; all value
    * comparison is null-safe column equality (`<=>`), never a
    * row-to-string hash — so float columns compare bit-exactly and
    * no formatting ambiguity (double rendering, null encoding) can
    * fake a diff. Compared columns = non-key columns present on BOTH
    * sides; columns only one side has are ignored (schema migration
    * tolerant). Rows with a null key never match anything and surface
    * as `removed` + `added` — keys are expected non-null.
    *
    * Output: the key columns (coalesced across sides) + `status`.
    * Aggregate by `status` for the reconciliation report; filter
    * `status <> 'unchanged'` and re-join for the repair stream.
    */
  def snapshotDiff(oldDf: DataFrame, newDf: DataFrame,
                   keyCols: Seq[String]): DataFrame = {
    require(keyCols.nonEmpty, "need at least one key column")
    require(keyCols.forall(oldDf.columns.contains) &&
      keyCols.forall(newDf.columns.contains),
      s"key columns $keyCols must exist on both sides")
    val valCols = oldDf.columns.filterNot(keyCols.contains)
      .filter(newDf.columns.contains).toSeq
    // explicit presence markers, NOT key-nullness: a null-keyed row is
    // still a row of its side (it surfaces as removed/added, never as
    // the other side's phantom)
    val o = oldDf.withColumn("__graft_in_old", lit(true)).as("o")
    val n = newDf.withColumn("__graft_in_new", lit(true)).as("n")
    val keyEq = keyCols.map(k => col(s"o.$k") === col(s"n.$k")).reduce(_ && _)
    val changed = valCols.map(c => !(col(s"o.$c") <=> col(s"n.$c")))
      .reduceOption(_ || _).getOrElse(lit(false))
    o.join(n, keyEq, "full_outer").select(
      keyCols.map(k => coalesce(col(s"o.$k"), col(s"n.$k")).as(k)) :+
        when(col("__graft_in_old").isNull, lit("added"))
          .when(col("__graft_in_new").isNull, lit("removed"))
          .when(changed, lit("changed"))
          .otherwise(lit("unchanged")).as("status"): _*)
  }
}
