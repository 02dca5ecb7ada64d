package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

import graft.core.Sessions

/** Shared local session for all suites (one per test JVM; suites must not
  * stop it). */
object SparkSuite {
  lazy val session: SparkSession = Sessions.local("graft-test", "4")
}

trait SparkSuite extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSuite.session

  def tmpDir(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  /** Spark jobs started by `f` on this thread (and the threads it
    * spawns, which inherit the tagging local property). Listener events
    * arrive asynchronously but in order on one queue, so a sentinel job
    * run after `f` drains it: once the sentinel's start is seen, every
    * job `f` started has been counted. */
  def jobsDuring(f: => Any): Int = {
    val sc = spark.sparkContext
    val key = "graft.test.jobsDuring"
    val tag = java.util.UUID.randomUUID().toString
    val started = new java.util.concurrent.atomic.AtomicInteger
    val drained = new java.util.concurrent.CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).map(_.getProperty(key)) match {
          case Some(`tag`) => started.incrementAndGet()
          case Some(t) if t == s"$tag:sentinel" => drained.countDown()
          case _ =>
        }
    }
    sc.addSparkListener(listener)
    try {
      sc.setLocalProperty(key, tag)
      f
      sc.setLocalProperty(key, s"$tag:sentinel")
      sc.parallelize(Seq(1), 1).count()
      assert(drained.await(60, java.util.concurrent.TimeUnit.SECONDS),
        "the sentinel job's start never reached the listener")
      started.get
    } finally {
      sc.setLocalProperty(key, null)
      sc.removeSparkListener(listener)
    }
  }
}
