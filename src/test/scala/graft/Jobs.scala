package graft

import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession

/** Counts the Spark jobs a block of driver code starts. */
object Jobs {
  /** Jobs started while `body` runs. The listener bus is asynchronous but
    * delivers in order: once the start of a marker job run after `body`
    * arrives, so has every earlier one. */
  def of(spark: SparkSession)(body: => Unit): Int = {
    val sc = spark.sparkContext
    val n = new AtomicInteger(0)
    val drained = new CountDownLatch(1)
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).map(_.getProperty("graft.jobs")) match {
          case Some("body") => n.incrementAndGet(); ()
          case Some("marker") => drained.countDown()
          case _ => ()
        }
    }
    sc.addSparkListener(l)
    try {
      sc.setLocalProperty("graft.jobs", "body")
      body
      sc.setLocalProperty("graft.jobs", "marker")
      sc.parallelize(Seq(1), 1).count()
      assert(drained.await(60, TimeUnit.SECONDS), "listener bus stalled")
      n.get
    } finally {
      sc.setLocalProperty("graft.jobs", null)
      sc.removeSparkListener(l)
    }
  }
}
