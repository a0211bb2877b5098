package graft.util

import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.{AtomicLong, AtomicReference}

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession

/** The run metrics of a block of driver code: the Spark jobs, stages and
  * tasks it started, their task time, shuffle writes and spills, plus the
  * time it spent exporting models ([[graft.sim.ModelStore.save]]) and the
  * largest streaming state it held (the gates' streaming runner).
  *
  * One listener per SparkContext does the counting. [[measure]] brackets
  * its body with two marker jobs, and the listener counts what arrives
  * between the opening marker's end and the closing marker's start. The
  * bus delivers a queue's events in the order they were posted, so once
  * the closing marker's start arrives every event of the body has been
  * counted, with no sleep. Jobs other threads start inside the window
  * count too: streaming micro-batches and broadcast exchanges run on
  * their own threads and belong to the body that started them. */
object RunMetrics {
  final case class Record(jobs: Long, stages: Long, tasks: Long,
      taskMs: Long, shuffleWriteBytes: Long, spillBytes: Long,
      exportMs: Long, stateRows: Long) {
    /** One JSON object, the field names in snake case. */
    def json: String = productElementNames.zip(productIterator).map {
      case (k, v) => s""""${k.replaceAll("([A-Z])", "_$1").toLowerCase}":$v"""
    }.mkString("{", ",", "}")
  }

  private final class Scope {
    /** jobs, stages, tasks, task ms, shuffle bytes written, bytes
      * spilled: written on the bus thread, read once `drained` opens */
    val counts = new Array[Long](6)
    val drained = new CountDownLatch(1)
    val exportNanos = new AtomicLong(0L)
    val stateRows = new AtomicLong(0L)
  }

  private val MarkerKey = "graft.runMetrics.marker"
  private val open = new AtomicReference[Scope](null)

  /** Callbacks of one listener run on one bus thread, in posting order. */
  private final class Listener extends SparkListener {
    private var opener = -1
    private var counting: Option[Scope] = None
    private def add(i: Int, n: Long): Unit =
      counting.foreach(_.counts(i) += n)

    override def onJobStart(e: SparkListenerJobStart): Unit =
      Option(e.properties).flatMap(p => Option(p.getProperty(MarkerKey)))
      match {
        case None => add(0, 1)
        case Some("open") => opener = e.jobId
        case Some(_) => // the closing marker
          counting.foreach(_.drained.countDown())
          counting = None
      }
    // the opening marker's own stage and task precede its end
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      if (e.jobId == opener) counting = Option(open.get)
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      add(1, 1)
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      add(2, 1)
      if (e.taskInfo != null) add(3, e.taskInfo.duration)
      val m = e.taskMetrics
      if (m != null) {
        add(4, m.shuffleWriteMetrics.bytesWritten)
        add(5, m.memoryBytesSpilled + m.diskBytesSpilled)
      }
    }
  }

  private var installedOn: SparkContext = null

  /** Adds the listener to `sc` unless it already has it. */
  private def setup(sc: SparkContext): Unit = synchronized {
    if (installedOn ne sc) {
      sc.addSparkListener(new Listener)
      installedOn = sc
    }
  }

  private def marker(sc: SparkContext, kind: String): Unit = {
    sc.setLocalProperty(MarkerKey, kind)
    try { sc.parallelize(Seq(1), 1).count(); () }
    finally sc.setLocalProperty(MarkerKey, null)
  }

  /** Runs `body` and returns its result with the run metrics it caused.
    * One scope is open at a time. */
  def measure[T](spark: SparkSession)(body: => T): (T, Record) = {
    val sc = spark.sparkContext
    setup(sc)
    val s = new Scope
    if (!open.compareAndSet(null, s))
      throw new IllegalStateException("a RunMetrics scope is already open")
    try {
      marker(sc, "open")
      val out = body
      marker(sc, "close")
      if (!s.drained.await(60, TimeUnit.SECONDS))
        throw new IllegalStateException("Spark listener bus stalled")
      val Array(jobs, stages, tasks, taskMs, written, spilled) = s.counts
      (out, Record(jobs, stages, tasks, taskMs, written, spilled,
        s.exportNanos.get / 1000000L, s.stateRows.get))
    } finally open.set(null)
  }

  /** Runs `body`, adding its wall time to the open scope's export time. */
  private[graft] def timeExport[T](body: => T): T = {
    val t0 = System.nanoTime()
    try body
    finally Option(open.get)
      .foreach(_.exportNanos.addAndGet(System.nanoTime() - t0))
  }

  /** Raises the open scope's state rows to `rows` if it held fewer. */
  private[graft] def reportStateRows(rows: Long): Unit =
    Option(open.get).foreach(
      _.stateRows.accumulateAndGet(rows, (a, b) => math.max(a, b)))
}
