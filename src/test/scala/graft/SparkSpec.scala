package graft

import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for all specs (one JVM-wide session —
  * ScalaTest runs suites in the forked JVM sequentially).
  */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSpec.session
  val sfDir = "/root/testdata/sf0.001"
}

object SparkSpec {
  lazy val session: SparkSession = LocalSession(4)

  /** Jobs started by `body` on `spark`: a sentinel job runs after it,
    * and the listener bus has delivered every earlier job start once
    * the sentinel's start arrives (one ordered queue).
    */
  def jobsOf(spark: SparkSession)(body: => Unit): Int = {
    val jobs = new AtomicInteger(0)
    val sentinelSeen = new CountDownLatch(1)
    val sentinel = s"jobs-sentinel-${java.util.UUID.randomUUID()}"
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit = {
        val g = Option(js.properties).map(_.getProperty("spark.jobGroup.id")).orNull
        if (g == sentinel) sentinelSeen.countDown() else jobs.incrementAndGet()
        ()
      }
    }
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    try {
      body
      sc.setJobGroup(sentinel, "drain")
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
      assert(sentinelSeen.await(30, TimeUnit.SECONDS), "listener bus did not drain")
      jobs.get()
    } finally sc.removeSparkListener(listener)
  }
}
