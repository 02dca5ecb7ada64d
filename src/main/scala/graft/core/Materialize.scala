package graft.core

import scala.concurrent.{Await, Future}
import scala.concurrent.duration.Duration
import scala.concurrent.ExecutionContext.Implicits.global

import org.apache.spark.sql.DataFrame

/** The one way graft materializes an intermediate: cuts its lineage so
  * later plans read the computed rows instead of re-running the subplan.
  *
  * Local vs reliable is decided here, once, from the session: when the
  * SparkContext has a checkpoint dir (Spark's own `spark.checkpoint.dir`
  * / `setCheckpointDir` deployment setting — HDFS/S3 on a real cluster)
  * the rows are written there as RELIABLE checkpoints, so losing an
  * executor recomputes from those files, never from the upstream plan.
  * Without one they are `localCheckpoint`ed — blocks on executor
  * storage, fastest, but a lost executor fails the job. Reliable
  * checkpoint files are removed only when the deployment also sets
  * `spark.cleaner.referenceTracking.cleanCheckpoints`. */
object Materialize {

  /** Materialize `df`. Eager (the default) runs a job now; lazy leaves
    * the first action on the returned handle to materialize it — right
    * only where the caller's own next action is that one action. */
  def apply(df: DataFrame, eager: Boolean = true): DataFrame =
    if (df.sparkSession.sparkContext.getCheckpointDir.isDefined)
      df.checkpoint(eager)
    else df.localCheckpoint(eager)

  /** Eagerly materialize INDEPENDENT branch plans from parallel driver
    * threads (optimization guide §2.6 "overlap independent jobs": Spark
    * happily runs several jobs at once inside one application — actions
    * are only sequential because the driver calls them sequentially).
    *
    * The problem this solves: a dashboard/report query whose final join
    * fuses k independent reductions plans as ONE action, and the serial
    * parts of each branch — broadcast-exchange builds are single-task
    * driver-future jobs, small-aggregate tails leave most cores idle —
    * CHAIN instead of overlapping (profiled on pipeline_item_insights:
    * a ~5 s serial chain of 1-task stages for three branches that
    * overlap to ~2.4 s). Materializing each branch eagerly from its own
    * driver thread lets one branch's tail back-fill another's, exactly
    * the guide's thread-pool pattern; the materialized handles then join
    * with flat lineage.
    *
    * Use ONLY for branches that are genuinely independent reductions to
    * SMALL relations (this is a materialization — right for key-sized
    * branch outputs, wrong for corpus-sized intermediates). Results are
    * unchanged by construction: each branch computes exactly the plan it
    * would compute serially, and materializing reorders nothing
    * observable (the inventory's determinism rules make every branch
    * output partition-invariant). A branch failure propagates from
    * Await exactly like the sequential form's action would.
    *
    * Returns the materialized handles in input order. */
  def all(dfs: DataFrame*): Seq[DataFrame] = {
    val fs = dfs.map(df => Future(apply(df)))
    fs.map(Await.result(_, Duration.Inf))
  }
}
