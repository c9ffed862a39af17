package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for all suites (one JVM-wide session, lazy). */
object TestSpark {
  lazy val spark: SparkSession = {
    val s = graft.core.Sessions.local(cores = 4, shufflePartitions = 4, appName = "graft-test")
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    s
  }
  val sfDir = "/root/testdata/sf0.001"
}

trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = TestSpark.spark
  def sfDir: String = TestSpark.sfDir

  /** Blocks until every listener event posted before the call has been
    * delivered. Listeners added through addSparkListener share one queue
    * that delivers events in post order, so once a marker job's start
    * reaches a listener added here, every earlier event has reached the
    * other listeners too. Jobs carrying `listenerDrainMarker` as their
    * description are the marker's own. */
  def drainListenerBus(): Unit = {
    val sc = spark.sparkContext
    val seen = new java.util.concurrent.CountDownLatch(1)
    val l = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        if (isDrainMarker(j)) seen.countDown()
    }
    sc.addSparkListener(l)
    try {
      sc.setJobDescription(listenerDrainMarker)
      try sc.parallelize(Seq(1), 1).count() finally sc.setJobDescription(null)
      assert(seen.await(60, java.util.concurrent.TimeUnit.SECONDS), "listener bus did not drain")
    } finally sc.removeSparkListener(l)
  }
  val listenerDrainMarker = "graft-test-listener-drain"
  def isDrainMarker(j: org.apache.spark.scheduler.SparkListenerJobStart): Boolean =
    j.properties != null &&
      j.properties.getProperty("spark.job.description") == listenerDrainMarker

  /** Assert a plan never falls back to a Cartesian product (scale gate for
    * every bucketed dedup/ANN operator, per VERDICT r1).
    */
  def assertNoCartesian(df: org.apache.spark.sql.DataFrame): Unit = {
    val physical = df.queryExecution.executedPlan.toString
    assert(!physical.contains("CartesianProduct"),
      s"plan contains CartesianProduct:\n$physical")
  }
}
