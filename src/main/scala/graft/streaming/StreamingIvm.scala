package graft.streaming

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

import graft.pipeline.IncrementalFinal
import graft.plans.MvRegistry

/** Streaming IVM: fold a CONTINUOUS signed changelog into persisted
  * per-key aggregate state — [[IncrementalFinal.foldSummary]]
  * driven by Structured Streaming's `foreachBatch`, with the state
  * protocol that survives failure re-delivery.
  *
  * The trap this module exists for: `foreachBatch` is AT-LEAST-once —
  * a crash between the state write and the checkpoint commit re-runs
  * the same (batchId, data), and a naive read-fold-overwrite applies
  * the delta TWICE. The fix is batchId-VERSIONED state:
  *
  *   - state lives in `stateDir/v=<batchId>/` (parquet);
  *   - batch b folds the latest version STRICTLY BELOW b — never
  *     "the latest", which on re-delivery is b's own possibly
  *     half-written output — and overwrites `v=b` deterministically;
  *   - re-running batch b therefore recomputes `v=b` from the same
  *     predecessor and the same input: idempotent by construction,
  *     whether the first attempt died before, during, or after its
  *     write.
  *
  * Each version is a FULL state copy: the state is not bucketed by
  * key, so a fold rewrites every key, not only those its delta hits.
  * Bucketing it as [[CdcApply.mergeIntoBucketedState]] does, with
  * per-bucket version manifests, is not implemented. Suite proves:
  * multi-batch folding ≡ recompute, re-delivery idempotence, and
  * restart-from-checkpoint continuation on the surviving state. */
object StreamingIvm {

  /** Committed versions [[applyBatch]] keeps: the newest, its
    * predecessor (re-delivery folds from it) and one more. */
  private val KeepVersions = 3

  /** Committed state versions (batch ids), ascending. Only directories
    * carrying parquet's `_SUCCESS` marker count: a fold that died
    * mid-write leaves a marker-less directory, and an external
    * `readState(None)` must never observe that half-written latest
    * version as state. */
  def versions(spark: SparkSession, stateDir: String): Seq[Long] = {
    val p = new Path(stateDir)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    if (!fs.exists(p)) Seq.empty
    else fs.listStatus(p).toSeq
      .filter(st => fs.exists(new Path(st.getPath, "_SUCCESS")))
      .flatMap(st => // foreign `v=scratch` subdirs are ignored, not a
        scala.util.Try( // NumberFormatException abort (ADVICE r15)
          st.getPath.getName.stripPrefix("v=").toLong).toOption
          .filter(_ => st.getPath.getName.startsWith("v=")))
      .sorted
  }

  /** The state as of the latest version strictly below `beforeBatch`
    * (all versions when None); empty schema-less None if no state. Read
    * with the schema in its footers, so no schema-inference job runs. */
  def readState(spark: SparkSession, stateDir: String,
                beforeBatch: Option[Long] = None): Option[DataFrame] = {
    val vs = versions(spark, stateDir)
    val eligible = beforeBatch.fold(vs)(b => vs.filter(_ < b))
    eligible.lastOption.map { v =>
      val dir = s"$stateDir/v=$v"
      spark.read.schema(MvRegistry.footers(spark, dir)._2).parquet(dir)
    }
  }

  /** The foreachBatch body: fold `batch` (rows with `keyCols`, `sign`,
    * `v_micro`, and the sketched column) into `stateDir` under the
    * versioned protocol. Public so tests can drive re-delivery
    * explicitly.
    *
    * The fold is [[IncrementalFinal.foldSummary]] — the same one
    * [[IncrementalFinal.refreshSummary]] runs — with MIN/MAX of
    * `v_micro` (`extremes`) in `min_micro`/`max_micro` and the hash-set
    * sketch of `distinctCol` in `kmv_distinct`. What differs is the
    * dirty grain: a retraction that touches a grain's current extreme
    * (or finds none stored: a grain new to the batch, or all-NULL so
    * far), or any retraction in a grain with a sketch, leaves that grain
    * unrepairable from state, and with no base to rescan here the fold
    * fails the commit plan (`assert_true`, so no `_SUCCESS` marker is
    * written) instead of serving a wrong value; repair such summaries
    * through refreshSummary. A retraction that touches neither folds
    * exactly.
    *
    * Retention: after a successful write of `v=b`, versions older than
    * the newest [[KeepVersions]] are deleted — without this, every batch
    * writes a FULL state copy and storage grows without bound at
    * streaming cadence (and `versions()` pays O(#batches) listStatus
    * per fold). The just-written version's PREDECESSOR survives
    * pruning, because an at-least-once re-delivery of batch b re-folds
    * from the latest version strictly below b — pruning it would break
    * the idempotence the whole protocol exists for. */
  def applyBatch(spark: SparkSession, stateDir: String,
                 keyCols: Seq[String], extremes: Boolean = false,
                 distinctCol: Option[String] = None)
                (batch: DataFrame, batchId: Long): Unit = {
    val prev = readState(spark, stateDir, Some(batchId))
    // state-shape guard, BOTH directions (review r18): folding with a
    // NARROWER config than the state was built with would commit a
    // version that silently drops the maintained min/max/kmv columns —
    // the state could then no longer be repaired incrementally. And a
    // WIDER config against narrower state is semantically unsound, not
    // just unresolvable: pre-existing keys' historical values were
    // never tracked, so a mid-stream extremes/sketch column could only
    // claim batch-local extremes as corpus extremes — served as exact.
    // Turning the columns on requires a rebuild from the corpus (the
    // refreshSummary path), so an existing mismatched state fails
    // loudly here in either direction. (With no state yet the fold
    // starts empty with this fold's config, so both checks pass.)
    def shapeGuard(configured: Boolean, col0: String, what: String,
                   enable: String): Unit = prev.foreach { base =>
      require(configured || !base.columns.contains(col0),
        s"StreamingIvm: state under $stateDir carries $what but this " +
          s"fold runs without it — the commit would drop the column(s); " +
          enable)
      require(!configured || base.columns.contains(col0),
        s"StreamingIvm: fold configured with $what but the state under " +
          s"$stateDir was built without it — pre-existing keys' history " +
          "was never tracked, so folding forward would serve batch-local " +
          "values as corpus-wide; rebuild the state (refreshSummary " +
          "path) to turn the column on")
    }
    shapeGuard(extremes, "min_micro", "extremes (min_micro/max_micro)",
      "pass extremes=true")
    shapeGuard(distinctCol.isDefined, "kmv_distinct",
      "a distinct sketch (kmv_distinct)", "pass the sketched column")
    val insertOnly = assert_true(!col("dirty"), lit("StreamingIvm: the " +
      "streaming fold is insert-only for extremes and sketches — a " +
      "retraction touched a grain's current extreme or its sketch; " +
      "repair through IncrementalFinal.refreshSummary"))
    // with extremes, the fold's aggregate and MIN/MAX arms group the
    // same batch columns by key: shuffled once here, both read that
    // exchange within the one commit plan
    val delta =
      if (extremes) batch.repartition(keyCols.map(col): _*) else batch
    val folded = IncrementalFinal.foldSummary(prev, delta, keyCols,
      if (extremes) Some("min_micro" -> "max_micro") else None,
      distinctCol.map(_ -> "kmv_distinct").toSeq) { (acc, m, renames, _) =>
      IncrementalFinal.keyMergeNullSafe(acc, m, keyCols, "left")
        .select((acc.columns.toIndexedSeq.map(col) ++ renames.map {
          case (c, to) => when(insertOnly.isNull, col(c)).as(to) }): _*)
    }
    commitVersion(spark, stateDir,
      distinctCol.fold(folded)(injective(folded, batch, _)), batchId,
      KeepVersions)
  }

  /** Batch-wide hash injectivity of the sketched column, enforced inside
    * the commit plan: no hash of the batch's inserts may stand for two
    * values, GLOBALLY across keys — a per-key check would pass a
    * same-batch collision between values under DIFFERENT keys, and the
    * coarser-grain rollup that unions sketches ACROSS grains would then
    * undercount while served as exact (review r18). A hash whose inserts
    * carry two values (min ≠ max) is a guard row unioned into the write:
    * evaluating it fails the write before it can produce its _SUCCESS
    * marker; an injective batch adds no row. Cross-batch collisions
    * remain the documented n²/2⁴⁹ residual a periodic
    * verifiedDistinctLicense compaction pass closes. */
  private def injective(folded: DataFrame, batch: DataFrame,
                        dc: String): DataFrame = {
    val guard = assert_true(col("__lo") === col("__hi"), lit("StreamingIvm: " +
      "48-bit hash collision inside a batch — the distinct sketch would " +
      "undercount; re-key or widen the hash"))
    folded.unionByName(graft.functions.Kmv.withHash(
        batch.filter(col(IncrementalFinal.SignCol) > 0 && col(dc).isNotNull),
        dc, "__h")
      .groupBy("__h").agg(min(col(dc)).as("__lo"), max(col(dc)).as("__hi"))
      .filter(guard.isNotNull)
      .select(folded.schema.map(f => lit(null).cast(f.dataType).as(f.name)): _*))
  }

  /** ONE definition of the versioned-commit protocol, shared by
    * [[applyBatch]] and [[CrawlDedup]]'s versioned folds (review r18 —
    * the two inline copies had already drifted in prose and a protocol
    * fix would have landed in one): overwrite `stateDir/v=<batchId>`
    * straight from the fold's plan (no checkpoint first — see below)
    * → verify the _SUCCESS
    * commit marker (versions() treats the marker as the commit record;
    * a committer configured with marksuccessfuljobs=false would make
    * every committed version INVISIBLE and silently re-fold from empty
    * state — fail loudly instead, ADVICE r12) → prune to the newest
    * `keepVersions` COMMITTED versions (the just-written version's
    * predecessor always survives — re-delivery folds from it), also
    * sweeping marker-less half-written leftovers older than the
    * survivors. */
  def commitVersion(spark: SparkSession, stateDir: String, df: DataFrame,
                    batchId: Long, keepVersions: Int): Unit = {
    // No checkpoint before the write (r18): the fold's lineage reads
    // the PREDECESSOR version (`readState(Some(batchId))` selects
    // strictly below batchId), never `v=<batchId>` itself, so the
    // overwrite is read-free and the write can execute the fold plan
    // directly — the old eager localCheckpoint materialized every
    // committed state TWICE (once to executor storage, once reading it
    // back for parquet), one full extra pass per fold at any scale.
    df.write.mode(SaveMode.Overwrite).parquet(s"$stateDir/v=$batchId")
    val fsv = new Path(s"$stateDir/v=$batchId")
    val fs0 = fsv.getFileSystem(spark.sessionState.newHadoopConf())
    require(fs0.exists(new Path(fsv, "_SUCCESS")),
      s"StreamingIvm: state write v=$batchId produced no _SUCCESS " +
        "marker — the committer is configured with " +
        "marksuccessfuljobs=false; the versioned-fold protocol " +
        "cannot see commits without markers")
    val p = new Path(stateDir)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    val keep = versions(spark, stateDir).takeRight(keepVersions).toSet
    fs.listStatus(p).toSeq
      .filter { st =>
        val name = st.getPath.getName
        name.startsWith("v=") &&
          scala.util.Try(name.stripPrefix("v=").toLong).toOption
            .exists(v => !keep(v) && v < batchId)
      }
      .foreach(st => fs.delete(st.getPath, true))
  }

  /** Wire a changelog stream into the versioned fold. Caller starts
    * the returned writer with a checkpoint dir. `extremes` /
    * `distinctCol` must match how the state was built: attach used to
    * hardcode the plain-aggregate fold, so attaching to state
    * maintained WITH extremes or a sketch silently committed a
    * narrowed version that dropped the min/max/kmv columns — the
    * maintained extremes were lost without error (review r18). */
  def attach(changelog: DataFrame, stateDir: String, keyCols: Seq[String],
             extremes: Boolean = false, distinctCol: Option[String] = None)
  : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    changelog.writeStream.foreachBatch {
      (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], id: Long) =>
        applyBatch(batch.sparkSession, stateDir, keyCols,
          extremes = extremes, distinctCol = distinctCol)(batch.toDF(), id)
    }
}
