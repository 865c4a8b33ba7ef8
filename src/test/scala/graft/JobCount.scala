package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession

import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

/** Counts the Spark jobs a block of code starts. Listener events arrive
  * asynchronously but in order, so after the block one marker job runs and
  * the count is read once the listener has seen the marker start. */
object JobCount {
  private val Marker = "graft-jobcount-marker"

  def during(spark: SparkSession)(body: => Unit): Int = {
    val sc = spark.sparkContext
    val jobs = new AtomicInteger()
    val seenMarker = new CountDownLatch(1)
    val l = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        if (Option(j.properties).exists(p =>
            p.getProperty("spark.job.description") == Marker)) seenMarker.countDown()
        else jobs.incrementAndGet()
    }
    sc.addSparkListener(l)
    try {
      body
      sc.setJobDescription(Marker)
      try sc.parallelize(Seq(1), 1).count() finally sc.setJobDescription(null)
      assert(seenMarker.await(60, TimeUnit.SECONDS), "listener never saw the marker job")
      jobs.get
    } finally sc.removeSparkListener(l)
  }
}
