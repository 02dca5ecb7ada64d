package graft

import org.apache.spark.{SparkEnv, SparkException}
import org.apache.spark.CheckpointDirs.withCheckpointDir
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD

import graft.core.Materialize

class MaterializeSpec extends SparkSuite {

  private def rows(df: DataFrame): Seq[Long] =
    df.collect().map(_.getLong(0)).toSeq.sorted

  /** Drop the executor blocks of the RDD a materialized handle reads,
    * as a lost executor would. */
  private def dropBlocks(m: DataFrame): Unit = {
    val ids = m.queryExecution.analyzed.collect { case r: LogicalRDD => r.rdd.id }
    assert(ids.size === 1)
    SparkEnv.get.blockManager.master.removeRdd(ids.head, blocking = true)
  }

  private def squares: DataFrame =
    spark.range(0, 200, 1, 4).selectExpr("id * id AS sq")

  test("without a checkpoint dir a dropped block fails the next action") {
    assert(spark.sparkContext.getCheckpointDir.isEmpty)
    val m = Materialize(squares)
    assert(rows(m) === (0L until 200L).map(i => i * i))
    dropBlocks(m)
    val ex = intercept[SparkException](m.collect())
    assert(ex.getMessage.contains("CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND"))
  }

  test("with a checkpoint dir a dropped block leaves the rows readable") {
    val dir = tmpDir("mat-ckpt")
    val m = withCheckpointDir(dir)(Materialize(squares))
    assert(spark.sparkContext.getCheckpointDir.isEmpty)
    assert(m.rdd.toDebugString.contains("ReliableCheckpointRDD"))
    val before = rows(m)
    dropBlocks(m)
    assert(rows(m) === before)
    assert(before === (0L until 200L).map(i => i * i))
  }

  test("all returns its handles in input order") {
    // the first branch is the largest, so it is not the first to finish
    val got = Materialize.all(
      spark.range(0, 5000, 1, 8).toDF(),
      spark.range(10, 12).toDF(),
      spark.range(100, 103).toDF())
    assert(got.map(rows) === Seq(
      (0L until 5000L), Seq(10L, 11L), Seq(100L, 101L, 102L)))
  }
}
