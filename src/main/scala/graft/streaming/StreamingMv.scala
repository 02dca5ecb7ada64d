package graft.streaming

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

import graft.pipeline.IncrementalFinal.{CntCol, NnCol, SignCol, SumCol, ValueCol}
import graft.plans.MvRegistry

/** The MV loop streamed end-to-end (VERDICT r15 task 3): one
  * `foreachBatch` job that keeps a ROUTED dashboard fresh over a live
  * insert stream — the reference's E1 streaming append
  * (`SaveDelta.scala:157-163`) joined to its E3 analytics, except the
  * dashboard query never rescans the corpus: each micro-batch
  *
  *   1. lands its rows as the corpus partition `docs/batch=<b>`
  *      (overwrite-own-subdir, so at-least-once re-delivery is
  *      idempotent — [[CrawlDedup]]'s append-only discipline),
  *   2. folds the batch's +1 changelog into the per-key summary under
  *      [[StreamingIvm.applyBatch]]'s batchId-versioned protocol
  *      (re-delivery re-folds from the same predecessor version —
  *      never from its own half-written output),
  *   3. re-registers the version it just committed
  *      (`summary/v=<batchId>`) for the corpus path with a FRESH
  *      base-version token, so [[graft.plans.SummaryRewrite]] resumes
  *      routing plain aggregates over the corpus onto the |keys|-row
  *      summary.
  *
  * COMMIT ORDER is data-first (the versioned summary write is the
  * batch's commit mark, registration strictly after): a crash anywhere
  * leaves either a stale token or an unregistered summary, and both
  * make every candidate rewrite bail to the corpus scan — conservative,
  * never stale-serving. A restart loses the in-memory registry
  * entirely; queries scan the corpus until the first post-restart fold
  * re-registers. Deletes are not part of this loop by design: the
  * reference's CDC routes deletes to a tombstone table
  * ([[CdcIngest]]). The fold itself takes a retraction exactly unless
  * it touches a grain's current extreme (or the grain has none stored)
  * or its distinct sketch; such a grain fails the fold, and its repair
  * is the batch [[graft.pipeline.IncrementalFinal.refreshSummary]] path
  * (gated `cdc_mv_refresh_retraction`).
  *
  * At 100 TB: per batch the corpus write is ∝ batch, the fold is
  * |Δ keys|-proportional against |keys|-row state, and the dashboard
  * pays |keys| rows instead of the corpus — the whole point. The
  * plain-parquet corpus dir stands in for a lakehouse table (the
  * [[graft.core.Sinks]] Delta seam); snapshot isolation on the bail
  * path is what the Delta jar would add.
  */
object StreamingMv {

  /** The summary grain + maintained columns this loop serves:
    * count / non-null count / sum over `v_micro` at `keyCols` — the
    * [[graft.pipeline.IncrementalFinal.maintainAggregate]] contract —
    * plus MIN/MAX when `extremes` is set. With `distinctCol` set, the
    * loop also maintains that column's distinct hash-set sketch and
    * registers it, so the routed dashboard serves
    * COUNT(DISTINCT distinctCol) from the |keys|-row summary. The loop
    * only inserts, and inserts fold exactly (min/max improve in place,
    * set union commutes with recompute); a retraction fed to the same
    * fold ([[StreamingIvm.applyBatch]]) folds exactly unless it touches
    * a grain's current extreme (or the grain has none stored) or its
    * sketch, which fails the fold —
    * that repair is the batch
    * [[graft.pipeline.IncrementalFinal.refreshSummary]] path. */
  final case class Config(keyCols: Seq[String], extremes: Boolean = false,
                          distinctCol: Option[String] = None)

  def docsDir(stateDir: String): String = s"$stateDir/docs"
  def summaryDir(stateDir: String): String = s"$stateDir/summary"

  /** The registered base path (registration and the routed query must
    * agree on it byte-for-byte). Qualified through the Hadoop
    * filesystem rather than a hardcoded "file:" prefix: with a
    * RELATIVE stateDir the literal prefix would register
    * "file:work/…" while the scan's rootPath resolves to
    * "file:/cwd/work/…" — the registry would never hit and every
    * dashboard would silently rescan the corpus forever; on a
    * non-local default filesystem the bogus file: path would crash the
    * fold's token stamp (review r18). makeQualified yields exactly the
    * string the scan's rootPath prints in both cases. */
  def basePath(spark: SparkSession, stateDir: String): String =
    qualified(spark, docsDir(stateDir))

  /** `path` qualified through its Hadoop filesystem — the form every
    * registry key must take (see [[basePath]]); for an absolute local
    * path, exactly `"file:" + path`. */
  def qualified(spark: SparkSession, path: String): String = {
    val p = new Path(path)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    fs.makeQualified(p).toString
  }

  /** The foreachBatch body — public so tests can drive re-delivery and
    * crash windows explicitly. `batch` carries `keyCols` + `v_micro`
    * (+ `distinctCol`) insert rows. */
  def foldBatch(spark: SparkSession, stateDir: String, cfg: Config)
               (batch: DataFrame, batchId: Long): Unit = {
    // 1. corpus partition first (re-delivery overwrites its own subdir;
    //    readers of the whole dir see at worst an extra not-yet-folded
    //    partition, which only matters on the bail path). The fold then
    //    reads the JUST-WRITTEN partition back (r18): the batch is
    //    evaluated exactly once — the write — and the corpus bytes and
    //    the folded delta are the same bytes by construction, which the
    //    old eager localCheckpoint only approximated while costing one
    //    extra materialization pass per fold.
    //    The read-back takes the written frame's schema, so it needs no
    //    schema-inference job.
    val part = s"${docsDir(stateDir)}/batch=$batchId"
    val written = batch.select((cfg.keyCols.map(col) :+ col(ValueCol)) ++
      cfg.distinctCol.filterNot(_ == ValueCol).map(col): _*)
    written.write.mode(SaveMode.Overwrite).parquet(part)
    val rows = spark.read.schema(written.schema).parquet(part)
    // 2. versioned summary fold — the commit mark
    StreamingIvm.applyBatch(spark, summaryDir(stateDir), cfg.keyCols,
      extremes = cfg.extremes, distinctCol = cfg.distinctCol)(
      rows.withColumn(SignCol, lit(1L)), batchId)
    // 3. routing resumes: register the version just committed for the
    //    corpus path with the CURRENT token (stamped from the files just
    //    written — any later corpus write bails routing until the next
    //    fold re-registers)
    MvRegistry.register(spark, basePath(spark, stateDir),
      MvRegistry.Summary(s"${summaryDir(stateDir)}/v=$batchId",
        cfg.keyCols, CntCol,
        sums = Map(ValueCol -> SumCol),
        nns = Map(ValueCol -> NnCol),
        mins = if (cfg.extremes) Map(ValueCol -> "min_micro")
               else Map.empty,
        maxs = if (cfg.extremes) Map(ValueCol -> "max_micro")
               else Map.empty,
        distincts = cfg.distinctCol.map(_ -> "kmv_distinct").toMap))
  }

  /** Wire an insert stream into the loop. Caller starts the returned
    * writer with a checkpoint dir. */
  def attach(inserts: DataFrame, stateDir: String, cfg: Config)
  : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    inserts.writeStream.foreachBatch {
      (b: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], id: Long) =>
        foldBatch(b.sparkSession, stateDir, cfg)(b.toDF(), id)
    }

  /** The dashboard query shape this loop keeps fresh: a PLAIN aggregate
    * over the corpus directory — [[graft.plans.SummaryRewrite]] decides
    * per query whether it serves from the summary (fresh) or the corpus
    * (stale/unregistered). */
  def dashboard(spark: SparkSession, stateDir: String, cfg: Config)
  : DataFrame = {
    val aggs = Seq(count(lit(1)).as(CntCol),
      count(col(ValueCol)).as(NnCol),
      sum(col(ValueCol)).as(SumCol),
      avg(col(ValueCol)).as("avg_micro")) ++
      (if (cfg.extremes)
        Seq(min(col(ValueCol)).as("min_micro"),
          max(col(ValueCol)).as("max_micro"))
      else Nil) ++
      cfg.distinctCol.map(c => countDistinct(col(c)).as("n_distinct"))
    spark.read.parquet(docsDir(stateDir))
      .groupBy(cfg.keyCols.map(col): _*)
      .agg(aggs.head, aggs.tail: _*)
  }
}
