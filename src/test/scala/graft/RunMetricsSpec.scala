package graft

import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.scheduler._
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.scalatest.funsuite.AnyFunSuite
import graft.util.RunMetrics

/** [[RunMetrics]] against a reference: a plain global listener with the
  * counters the old plan-dump main kept (jobs started, stages completed,
  * tasks, task time, shuffle bytes written) plus the spill the shuffle
  * spec counted, read once the bus has gone quiet. The reference's window
  * sits inside the measured body, so equal counts also show that the
  * marker jobs around the body are not counted. */
class RunMetricsSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  private val dir = TestSpark.sf

  private class Reference extends SparkListener {
    val jobs, jobEnds, stages, tasks, taskMs, written, spilled =
      new AtomicLong(0L)
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      jobs.incrementAndGet(); ()
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = {
      jobEnds.incrementAndGet(); ()
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      stages.incrementAndGet(); ()
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      tasks.incrementAndGet()
      if (e.taskInfo != null) taskMs.addAndGet(e.taskInfo.duration)
      val m = e.taskMetrics
      if (m != null) {
        written.addAndGet(m.shuffleWriteMetrics.bytesWritten)
        spilled.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
      }
      ()
    }
    private def counts =
      Seq(jobs, stages, tasks, taskMs, written, spilled).map(_.get)

    /** The counters once every started job has ended and nothing has
      * moved for three polls. */
    def quiet(): Seq[Long] = {
      var last = Seq.empty[Long]; var still = 0; var waited = 0
      while (still < 3 && waited < 30000) {
        Thread.sleep(100); waited += 100
        val now = counts
        if (now == last && jobEnds.get >= jobs.get) still += 1
        else { still = 0; last = now }
      }
      assert(still == 3, "the listener bus did not go quiet")
      last
    }
  }

  /** Max over the replays' progress events of Σ state rows. */
  private class Progress extends StreamingQueryListener {
    val started, terminated, maxRows = new AtomicLong(0L)
    override def onQueryStarted(
        e: StreamingQueryListener.QueryStartedEvent): Unit = {
      started.incrementAndGet(); ()
    }
    override def onQueryProgress(
        e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val rows = e.progress.stateOperators.map(_.numRowsTotal).sum
      maxRows.accumulateAndGet(rows, (a, b) => math.max(a, b)); ()
    }
    override def onQueryTerminated(
        e: StreamingQueryListener.QueryTerminatedEvent): Unit = {
      terminated.incrementAndGet(); ()
    }
  }

  private def withReference[T](body: Reference => T): T = {
    val ref = new Reference
    spark.sparkContext.addSparkListener(ref)
    try body(ref) finally spark.sparkContext.removeSparkListener(ref)
  }

  private def fields(r: RunMetrics.Record): Seq[Long] =
    Seq(r.jobs, r.stages, r.tasks, r.taskMs, r.shuffleWriteBytes,
      r.spillBytes)

  for (name <- Seq("q29_full_closure", "s08_knn_ivfpq",
      "st03_incr_dedup_stream"))
    test(s"$name: the record equals the reference listener's deltas") {
      val progress = new Progress
      spark.streams.addListener(progress)
      try withReference { ref =>
        val (want, rec) = RunMetrics.measure(spark) {
          val r0 = ref.quiet()
          SparkEntry.queries(name)(spark, dir)
            .write.format("noop").mode("overwrite").save()
          ref.quiet().zip(r0).map { case (a, b) => a - b }
        }
        info(s"$name: $rec")
        assert(fields(rec) == want)
        assert(rec.jobs > 0)
        if (name.startsWith("s08")) assert(rec.exportMs > 0L)
        if (name.startsWith("q29")) assert(rec.exportMs == 0L)
        if (name.startsWith("st")) {
          var waited = 0
          while (progress.terminated.get < progress.started.get &&
              waited < 30000) { Thread.sleep(100); waited += 100 }
          assert(progress.started.get > 0L)
          assert(progress.terminated.get == progress.started.get)
          assert(rec.stateRows == progress.maxRows.get)
          assert(rec.stateRows > 0L)
        } else assert(rec.stateRows == 0L)
      } finally spark.streams.removeListener(progress)
    }

  test("marker jobs are not counted, and export and state reports " +
      "outside a scope are no-ops") {
    RunMetrics.timeExport(Thread.sleep(20))
    RunMetrics.reportStateRows(99L)
    withReference { ref =>
      val r0 = ref.quiet()
      val ((), rec) = RunMetrics.measure(spark)(())
      val r1 = ref.quiet()
      assert(r1.head - r0.head == 2L, "two marker jobs ran")
      assert(rec == RunMetrics.Record(0L, 0L, 0L, 0L, 0L, 0L, 0L, 0L))
    }
    val ((), inner) = RunMetrics.measure(spark) {
      RunMetrics.timeExport(Thread.sleep(20))
      RunMetrics.reportStateRows(7L)
      RunMetrics.reportStateRows(3L)
      intercept[IllegalStateException](RunMetrics.measure(spark)(()))
      ()
    }
    assert(inner.exportMs >= 20L && inner.stateRows == 7L)
  }
}
