package graftbench

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** One timed call into a layer. `parent` is 0 for an operation's root. */
final class Span(val id: Long, val name: String, val parent: Long,
                 val op: Int, val startNs: Long, val startMs: Long) {
  var endNs: Long = 0L
  var endMs: Long = 0L
}

/** Spark job counters, summed over the tasks of the job's stages. */
final class JobCounters(val group: String, val timeMs: Long) {
  var stages, tasks, runMs, cpuNs, gcMs, shuffleWrite, shuffleRead,
      spill, inputBytes, inputRecords, outputBytes, schedWaitMs = 0L
  var peakExecMem = 0L
}

/** Reads Spark's public listener events. Every job is kept with the job
  * group that was active when it was submitted; [[Tracer]] sets that group
  * to the id of the innermost open span. */
final class JobListener extends SparkListener {
  val jobs = new ConcurrentHashMap[Int, JobCounters]()
  private val stageJob = new ConcurrentHashMap[Int, Int]()
  private val stageSubmit = new ConcurrentHashMap[Int, java.lang.Long]()
  @volatile var lastEventMs: Long = System.currentTimeMillis()
  @volatile var started, ended = 0

  private def touch(): Unit = lastEventMs = System.currentTimeMillis()

  private def counters(stageId: Int): Option[JobCounters] =
    Option(stageJob.get(stageId)).flatMap(j => Option(jobs.get(j)))

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val group = Option(e.properties)
      .flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .getOrElse("")
    jobs.put(e.jobId, new JobCounters(group, e.time))
    e.stageIds.foreach(s => stageJob.putIfAbsent(s, e.jobId))
    started += 1
    touch()
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = { ended += 1; touch() }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = {
    val info = e.stageInfo
    stageSubmit.put(info.stageId,
      info.submissionTime.getOrElse(System.currentTimeMillis()): Long)
    counters(info.stageId).foreach(c => c.synchronized { c.stages += 1 })
    touch()
  }

  override def onTaskStart(e: SparkListenerTaskStart): Unit = {
    // Scheduling wait: the gap from stage submission to its first task.
    Option(stageSubmit.remove(e.stageId)).foreach { submit =>
      counters(e.stageId).foreach(c => c.synchronized {
        c.schedWaitMs += math.max(0L, e.taskInfo.launchTime - submit)
      })
    }
    touch()
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    counters(e.stageId).foreach(c => c.synchronized {
      c.tasks += 1
      if (m != null) {
        c.runMs += m.executorRunTime
        c.cpuNs += m.executorCpuTime
        c.gcMs += m.jvmGCTime
        c.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        c.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        c.spill += m.diskBytesSpilled
        c.inputBytes += m.inputMetrics.bytesRead
        c.inputRecords += m.inputMetrics.recordsRead
        c.outputBytes += m.outputMetrics.bytesWritten
        c.peakExecMem = math.max(c.peakExecMem, m.peakExecutionMemory)
      }
    })
    touch()
  }

  /** Waits until the asynchronous listener bus has delivered every event
    * of the jobs already run (no new event for `quietMs`). */
  def drain(quietMs: Long = 300, maxMs: Long = 10000): Unit = {
    val deadline = System.currentTimeMillis() + maxMs
    while (System.currentTimeMillis() < deadline &&
      (started != ended ||
        System.currentTimeMillis() - lastEventMs < quietMs))
      Thread.sleep(20)
  }
}

/** Spans around calls into the engine's public functions. Tracing is
  * switched per operation: when `enabled` is false, `span` only runs its
  * body. Spans stay in memory until the run ends. */
final class Tracer(sc: SparkContext) {
  val spans = ArrayBuffer.empty[Span]
  var enabled = false
  var op = -1
  private var stack: List[Span] = Nil
  private var nextId = 1L

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val s = new Span(nextId, name, stack.headOption.fold(0L)(_.id), op,
        System.nanoTime(), System.currentTimeMillis())
      nextId += 1
      spans += s
      stack = s :: stack
      sc.setJobGroup(Tracer.group(s.id), name)
      try body
      finally {
        s.endNs = System.nanoTime()
        s.endMs = System.currentTimeMillis()
        stack = stack.tail
        stack.headOption match {
          case Some(p) => sc.setJobGroup(Tracer.group(p.id), p.name)
          case None => sc.clearJobGroup()
        }
      }
    }

  /** The span each job belongs to: by job group when the job ran on a
    * traced thread, else (streaming micro-batches run on the query's own
    * thread, under its own group) the innermost span open at submit time. */
  def attribute(l: JobListener): Map[Long, Seq[JobCounters]] = {
    val byId = spans.map(s => s.id -> s).toMap
    def covering(t: Long): Option[Span] =
      spans.filter(s => s.startMs <= t && t <= s.endMs)
        .sortBy(s => -depth(s, byId)).headOption
    l.jobs.values.asScala.toSeq.flatMap { j =>
      val direct =
        if (j.group.startsWith(Tracer.Prefix))
          byId.get(j.group.stripPrefix(Tracer.Prefix).toLong)
        else if (j.group.isEmpty) None
        else covering(j.timeMs)
      direct.map(s => s.id -> j)
    }.groupMap(_._1)(_._2)
  }

  private def depth(s: Span, byId: Map[Long, Span]): Int =
    if (s.parent == 0L) 0 else 1 + depth(byId(s.parent), byId)
}

object Tracer {
  val Prefix = "graftbench-"
  def group(id: Long): String = Prefix + id
}
