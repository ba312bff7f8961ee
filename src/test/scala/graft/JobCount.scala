package graft

import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession

/** Counts the Spark jobs started while a block runs. The listener bus is
  * asynchronous but delivers events in order, so a marker job run after
  * the block flushes it: once the marker's start arrives, every job the
  * block started has been counted. */
object JobCount {
  def apply(spark: SparkSession)(body: => Any): Int = {
    val sc = spark.sparkContext
    val jobs = new AtomicInteger
    val flushed = new CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit =
        if (Option(js.properties).exists(
              _.getProperty("spark.job.description") == "flush-marker"))
          flushed.countDown()
        else jobs.incrementAndGet()
    }
    sc.addSparkListener(listener)
    try {
      body
      sc.setJobDescription("flush-marker")
      try sc.parallelize(Seq(1)).count()
      finally sc.setJobDescription(null)
      assert(flushed.await(60, TimeUnit.SECONDS), "listener bus not flushed")
    } finally sc.removeSparkListener(listener)
    jobs.get
  }
}
