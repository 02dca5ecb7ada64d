package graft.bench

import java.io.File

import scala.collection.mutable
import scala.util.Try

import org.apache.spark.BusDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd,
  SparkListenerJobStart, SparkListenerStageCompleted, SparkListenerTaskEnd}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.util.QueryExecutionListener

import graft.plans.MvRegistry

/** A closed wall-clock interval in epoch milliseconds. */
final case class Interval(start: Long, end: Long) {
  def length: Long = math.max(0L, end - start)
}

object Interval {
  /** Length of the union of `xs` clipped to `within`. */
  def covered(xs: Iterable[Interval], within: Interval): Long = {
    val clipped = xs.map(x => Interval(math.max(x.start, within.start),
      math.min(x.end, within.end))).filter(_.length > 0).toSeq.sortBy(_.start)
    var total = 0L
    var cur: Option[Interval] = None
    clipped.foreach { x =>
      cur match {
        case Some(c) if x.start <= c.end => cur = Some(Interval(c.start, math.max(c.end, x.end)))
        case Some(c) => total += c.length; cur = Some(x)
        case None => cur = Some(x)
      }
    }
    total + cur.map(_.length).getOrElse(0L)
  }
}

final class JobRec(val id: Int, val start: Long, val phase: String,
                   val stageIds: Seq[Int]) {
  var end: Long = -1L
  def interval: Interval = Interval(start, if (end < 0) start else end)
}

/** Task totals of one stage. Times are milliseconds except `cpuNs`. */
final class StageRec(val id: Int) {
  var submit = -1L
  var complete = -1L
  var tasks = 0
  var taskWallMs, runMs, cpuNs, gcMs, inputBytes, shuffleWrite, shuffleRead,
      maxTaskShuffleRead, fetchWaitMs, spillBytes, peakExecBytes, outBytes,
      outRecords = 0L
  def interval: Option[Interval] =
    if (submit >= 0 && complete >= submit) Some(Interval(submit, complete)) else None
}

final case class PlanPhase(name: String, start: Long, end: Long) {
  def interval: Interval = Interval(start, end)
}

/** Counts the files a physical plan's parquet scans read, looking
  * through adaptive query stages. */
object ScanFiles extends AdaptiveSparkPlanHelper {
  def apply(plan: SparkPlan): Long =
    collectWithSubqueries(plan) {
      case s: FileSourceScanExec => s.metrics.get("numFiles").map(_.value).getOrElse(0L)
    }.sum
}

/** The traced run's collector: scheduler events (jobs, stages, tasks)
  * and the planning phases of every executed query. Events arrive on
  * the listener-bus thread; the harness reads them only after
  * [[org.apache.spark.BusDrain]], then calls [[reset]]. */
final class Tracer extends SparkListener with QueryExecutionListener {
  val jobs = mutable.LinkedHashMap.empty[Int, JobRec]
  val stages = mutable.LinkedHashMap.empty[Int, StageRec]
  val phases = mutable.LinkedHashSet.empty[PlanPhase]
  var scanFiles = 0L

  def reset(): Unit = synchronized {
    jobs.clear(); stages.clear(); phases.clear(); scanFiles = 0L
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val phase = Option(e.properties)
      .flatMap(p => Option(p.getProperty(Tracer.PhaseKey))).getOrElse("other")
    jobs(e.jobId) = new JobRec(e.jobId, e.time, phase, e.stageIds)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.end = e.time)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val si = e.stageInfo
    val r = stages.getOrElseUpdate(si.stageId, new StageRec(si.stageId))
    r.submit = si.submissionTime.getOrElse(-1L)
    r.complete = si.completionTime.getOrElse(-1L)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val r = stages.getOrElseUpdate(e.stageId, new StageRec(e.stageId))
    r.tasks += 1
    r.taskWallMs += math.max(0L, e.taskInfo.finishTime - e.taskInfo.launchTime)
    val m = e.taskMetrics
    if (m != null) {
      r.runMs += m.executorRunTime
      r.cpuNs += m.executorCpuTime
      r.gcMs += m.jvmGCTime
      r.inputBytes += m.inputMetrics.bytesRead
      r.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      val read = m.shuffleReadMetrics.totalBytesRead
      r.shuffleRead += read
      r.maxTaskShuffleRead = math.max(r.maxTaskShuffleRead, read)
      r.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
      r.spillBytes += m.diskBytesSpilled
      r.peakExecBytes = math.max(r.peakExecBytes, m.peakExecutionMemory)
      r.outBytes += m.outputMetrics.bytesWritten
      r.outRecords += m.outputMetrics.recordsWritten
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    record(qe)

  override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit =
    record(qe)

  def record(qe: QueryExecution): Unit = synchronized {
    qe.tracker.phases.foreach { case (name, p) =>
      if (Tracer.PlanPhases(name)) phases += PlanPhase(name, p.startTimeMs, p.endTimeMs)
    }
    scanFiles += Try(ScanFiles(qe.executedPlan)).getOrElse(0L)
  }
}

object Tracer {
  /** Local property naming the harness step that started a job. */
  val PhaseKey = "graft.bench.phase"
  val PlanPhases = Set("analysis", "optimization", "planning")
}

/** Per-layer totals over the traced passes, and the spans behind them. */
final class Layers(cores: Int) {
  private val tracer = new Tracer
  val total = mutable.LinkedHashMap.empty[String, Double].withDefaultValue(0.0)
  private val spans = mutable.ArrayBuffer.empty[String]
  private val seenRdds = mutable.Set.empty[Int]
  private val skews = mutable.ArrayBuffer.empty[Double]
  private var nextSpan = 0
  private var routable, routed = 0
  private var busyMs, windowMs = 0L
  private var peakExecBytes = 0L
  var tmpPeakBytes = 0L

  def attach(spark: SparkSession): Unit = {
    BusDrain(spark.sparkContext)
    spark.sparkContext.addSparkListener(tracer)
    spark.listenerManager.register(tracer)
  }

  /** Called before each traced query, so a query that failed leaves
    * nothing behind for the next one. */
  def begin(spark: SparkSession): Unit = {
    BusDrain(spark.sparkContext)
    tracer.reset()
  }

  def detach(spark: SparkSession): Unit = {
    BusDrain(spark.sparkContext)
    spark.sparkContext.removeSparkListener(tracer)
    spark.listenerManager.unregister(tracer)
  }

  /** Records a span; its self time joins the kind's total unless the
    * caller totals that kind itself. */
  private def span(parent: Int, kind: String, name: String, iv: Interval,
                   selfMs: Long, addSelf: Boolean = true): Int = {
    val id = nextSpan
    nextSpan += 1
    spans += Json.obj(Seq("id" -> id.toString, "parent" -> parent.toString,
      "kind" -> Json.str(kind), "name" -> Json.str(name),
      "start_ms" -> iv.start.toString, "end_ms" -> iv.end.toString,
      "self_ms" -> selfMs.toString))
    if (addSelf) total(s"span.$kind.self_s") += selfMs / 1e3
    id
  }

  /** Folds one traced query into the totals: `q` is the whole query
    * step, `b` its `Entry.run` and `x` its noop write. */
  def sample(spark: SparkSession, df: DataFrame, tmp: File, query: String,
             pass: Int, buildS: Double,
             q: Interval, b: Interval, x: Interval): Unit = {
    val sc = spark.sparkContext
    BusDrain(sc)
    tracer.synchronized {
      df.queryExecution.tracker.phases.foreach { case (n, p) =>
        if (Tracer.PlanPhases(n)) tracer.phases += PlanPhase(n, p.startTimeMs, p.endTimeMs)
      }
      val phases = tracer.phases.toSeq.filter(p => p.end >= q.start && p.start <= q.end)
      val jobs = tracer.jobs.values.toSeq
      val stages = tracer.stages.values.toSeq

      total("queries.build_s") += buildS
      total("queries.build_jobs") += jobs.count(_.phase == "build")
      Tracer.PlanPhases.foreach { n =>
        total(s"plans.${n}_s") += Interval.covered(
          phases.filter(_.name == n).map(_.interval), q) / 1e3
      }
      total("sched.jobs") += jobs.size
      total("sched.stages") += stages.count(_.tasks > 0)
      total("sched.tasks") += stages.map(_.tasks).sum
      total("exec.run_s") += stages.map(_.runMs).sum / 1e3
      total("exec.cpu_s") += stages.map(_.cpuNs).sum / 1e9
      total("exec.gc_s") += stages.map(_.gcMs).sum / 1e3
      total("scan.input_mb") += stages.map(_.inputBytes).sum / 1e6
      total("scan.files") += tracer.scanFiles
      total("shuffle.write_mb") += stages.map(_.shuffleWrite).sum / 1e6
      total("shuffle.read_mb") += stages.map(_.shuffleRead).sum / 1e6
      total("shuffle.fetch_wait_s") += stages.map(_.fetchWaitMs).sum / 1e3
      total("mem.spill_mb") += stages.map(_.spillBytes).sum / 1e6
      total("sink.write_mb") += stages.map(_.outBytes).sum / 1e6
      total("sink.records") += stages.map(_.outRecords).sum
      stages.filter(s => s.tasks >= 2 && s.shuffleRead > 0).foreach(s =>
        skews += s.maxTaskShuffleRead.toDouble * s.tasks / s.shuffleRead)
      peakExecBytes = math.max(peakExecBytes, (0L +: stages.map(_.peakExecBytes)).max)
      busyMs += stages.map(_.taskWallMs).sum
      windowMs += b.length + x.length

      val qId = span(-1, "query", s"$query#$pass", q, q.length - b.length - x.length)
      Seq("build" -> b, "execute" -> x).foreach { case (kind, w) =>
        val kids = phases.map(_.interval).filter(i => i.start >= w.start && i.start < w.end) ++
          jobs.filter(_.phase == kind).map(_.interval)
        val id = span(qId, kind, query, w, w.length - Interval.covered(kids, w))
        phases.filter(p => p.start >= w.start && p.start < w.end).foreach(p =>
          span(id, "plan", p.name, p.interval, p.interval.length))
        jobs.filter(_.phase == kind).foreach { j =>
          val ivs = j.stageIds.flatMap(tracer.stages.get).flatMap(_.interval)
          val jId = span(id, "job", s"job ${j.id}", j.interval,
            j.interval.length - Interval.covered(ivs, j.interval))
          j.stageIds.flatMap(tracer.stages.get).foreach(s => s.interval.foreach(iv =>
            span(jId, "stage", s"stage ${s.id}", iv, iv.length, addSelf = false)))
          // stages of one job can overlap: their total is the wall time they cover
          total("span.stage.self_s") += Interval.covered(ivs, j.interval) / 1e3
        }
      }
    }
    val route = MvRegistry.explainRoute(df)
    if (route.exists(_.startsWith("candidate"))) routable += 1
    if (route.exists(_.startsWith("routed"))) routed += 1
    val fresh = sc.getRDDStorageInfo.filterNot(r => seenRdds(r.id))
    fresh.foreach(r => seenRdds += r.id)
    total("mat.count") += fresh.length
    total("mat.mb") += fresh.map(r => r.memSize + r.diskSize).sum / 1e6
    tmpPeakBytes = math.max(tmpPeakBytes, Harness.dirBytes(tmp))
  }

  /** Totals divided by the number of traced passes; ratios and peaks as is. */
  def perPass(passes: Int): Seq[(String, Double)] = {
    val n = math.max(passes, 1).toDouble
    val perRun = Set("core.session_s", "core.tables_s", "sink.tmp_mb", "trace.overhead_s")
    total.toSeq.map { case (k, v) => k -> (if (perRun(k)) v else v / n) } ++ Seq(
      "plans.route_hit_ratio" -> (if (routable == 0) 0.0 else routed.toDouble / routable),
      "sched.idle_core_ratio" ->
        (if (windowMs == 0) 0.0 else 1.0 - busyMs.toDouble / (cores * windowMs)),
      "shuffle.skew" -> (if (skews.isEmpty) 0.0 else Harness.median(skews.toSeq)),
      "mem.peak_exec_mb" -> peakExecBytes / 1e6)
  }

  def spansJson: String = spans.mkString("[\n", ",\n", "\n]")
}
