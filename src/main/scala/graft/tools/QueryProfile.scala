package graft.tools

import scala.collection.mutable

import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted}
import org.apache.spark.sql.SparkSession

import graft.core.Sessions
import graft.queries.Inventory

/** Per-query stage profiler (dev tool, not API): runs named inventory
  * queries against `$SPARK_GRAFT_SF_DIR` with a stage-metrics listener
  * and prints, per query, wall seconds plus the top stages by duration
  * with task count, shuffle read/write bytes, and spill — the local
  * substitute for the Spark UI (disabled in `Sessions`) that guide §1
  * asks us to read before touching anything.
  *
  * Usage: sbt "runMain graft.tools.QueryProfile q1 q2 ..."
  * (no args = the 25 most expensive queries from the last bench would
  * be nice, but keeping it explicit avoids a stale-file dependency).
  */
object QueryProfile {

  final case class StageRow(id: Int, name: String, secs: Double,
                            tasks: Int, shufReadMB: Double,
                            shufWriteMB: Double, inputMB: Double,
                            spillMB: Double)

  final class Collector extends SparkListener {
    val rows = mutable.ArrayBuffer.empty[StageRow]
    override def onStageCompleted(sc: SparkListenerStageCompleted): Unit = {
      val si = sc.stageInfo
      val m = si.taskMetrics
      val secs = (for {s <- si.submissionTime; e <- si.completionTime}
        yield (e - s) / 1e3).getOrElse(-1.0)
      rows += StageRow(si.stageId, si.name.takeWhile(_ != '\n'), secs,
        si.numTasks,
        m.shuffleReadMetrics.totalBytesRead / 1e6,
        m.shuffleWriteMetrics.bytesWritten / 1e6,
        m.inputMetrics.bytesRead / 1e6,
        (m.memoryBytesSpilled + m.diskBytesSpilled) / 1e6)
    }
  }

  def profile(spark: SparkSession, sfDir: String, name: String,
              runs: Int): Unit = {
    val fn = Inventory.byName(name).run
    val col = new Collector
    spark.sparkContext.addSparkListener(col)
    var best = Double.MaxValue
    var bestRows: Seq[StageRow] = Nil
    for (_ <- 1 to runs) {
      spark.catalog.clearCache()
      col.rows.clear()
      spark.sparkContext.setJobDescription(s"profile:$name")
      val t0 = System.nanoTime()
      fn(spark, sfDir).write.format("noop").mode("overwrite").save()
      val sec = (System.nanoTime() - t0) / 1e9
      // listener events are async; give the bus a moment to drain
      Thread.sleep(200)
      if (sec < best) { best = sec; bestRows = col.rows.toSeq }
    }
    spark.sparkContext.removeSparkListener(col)
    println(f"\n=== $name: best $best%.2f s over $runs run(s), " +
      f"${bestRows.size} stages, stage-sum ${bestRows.map(_.secs).sum}%.2f s ===")
    bestRows.sortBy(-_.secs).take(14).foreach { r =>
      println(f"  ${r.secs}%7.3f s  stage ${r.id}%4d  tasks=${r.tasks}%3d " +
        f"in=${r.inputMB}%8.1fMB sr=${r.shufReadMB}%8.2fMB " +
        f"sw=${r.shufWriteMB}%8.2fMB spill=${r.spillMB}%6.1fMB  ${r.name.take(60)}")
    }
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val runs = sys.env.getOrElse("SPARK_GRAFT_PROFILE_RUNS", "2").toInt
    val spark = Sessions.local("graft-profile")
    // same warm-up as Bench so first-query numbers aren't JVM noise
    graft.Bench.warmUp(spark, sfDir,
      graft.Bench.scalarWarmup ++ graft.Bench.sharedTableWarmup)
    args.foreach { q =>
      try profile(spark, sfDir, q, runs)
      catch { case t: Throwable =>
        println(s"=== $q FAILED: ${t.getClass.getName}: ${t.getMessage}") }
    }
    spark.stop()
  }
}
