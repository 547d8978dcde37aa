package graft

import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession

/** Counts the Spark jobs a block starts, for specs that pin job counts. */
object SparkJobs {

  /** Spark jobs started by `body` on this thread: counted by job group,
    * and closed by a sentinel job, so every start has reached the
    * listener when the count is read. */
  def during(spark: SparkSession)(body: => Unit): Int = {
    val sc = spark.sparkContext
    val group = s"jobs_probe_${System.nanoTime()}"
    val seen = new AtomicInteger()
    val closed = new CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).map(_.getProperty("spark.jobGroup.id")).foreach {
          case `group` => seen.incrementAndGet()
          case g if g == s"${group}_end" => closed.countDown()
          case _ =>
        }
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, "probe")
      try body finally sc.clearJobGroup()
      sc.setJobGroup(s"${group}_end", "sentinel")
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
      assert(closed.await(60, TimeUnit.SECONDS), "sentinel job never reached the listener")
      seen.get
    } finally sc.removeSparkListener(listener)
  }
}
