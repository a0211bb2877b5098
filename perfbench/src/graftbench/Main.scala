package graftbench

import java.io.File
import java.lang.management.ManagementFactory
import java.util.{ArrayList => JList, LinkedHashMap => JMap}

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.sql.SparkSession

/** What one operation reports back: whether it completed, how many rows it
  * returned or processed, and the outputs the reference check needs. */
final case class OpResult(rows: Long, outputs: JMap[String, AnyRef])

/** A workload: untimed set-up and warm-up, then one operation at a time. */
trait Workload {
  def warmup(): Unit
  /** Runs operation `i`. Timed by the caller. */
  def op(i: Int): OpResult
  /** False once the workload has no further input for an operation. */
  def hasNext: Boolean = true
  /** Operations per mix. A workload whose operations come in fixed mixes
    * stops only between whole mixes, and a traced run traces whole mixes. */
  def mixSize: Int = 1
  /** Bookkeeping after a timed operation, outside its latency. */
  def afterOp(i: Int, out: JMap[String, AnyRef]): Unit = ()
  /** Whole-run outputs for the reference check, gathered after timing. */
  def finish(out: JMap[String, AnyRef]): Unit = ()
}

/** The benchmark's JVM side. Reads a JSON config written by
  * `perfbench/run.py`, runs one workload in a closed loop with one client
  * for the configured seconds, and writes per-operation latencies, outputs
  * and (when tracing) spans and Spark job counters as JSON. */
object Main {
  def main(args: Array[String]): Unit = {
    val Array(configPath, outPath) = args
    val mapper = new ObjectMapper()
    val cfg = mapper.readTree(new File(configPath))
    val cpus = cfg.get("cpus").asInt()
    val work = cfg.get("work").asText()
    val trace = cfg.get("trace").asBoolean()
    val seconds = cfg.get("seconds").asDouble()

    val spark = session(cpus, work)
    val sessionS = ManagementFactory.getRuntimeMXBean.getUptime / 1000.0
    val tracer = new Tracer(spark.sparkContext)
    val listener = new JobListener
    if (trace) spark.sparkContext.addSparkListener(listener)
    val workload: Workload = cfg.get("workload").asText() match {
      case "lookup" => new Lookup(spark, tracer, cfg)
      case "ingest_notify" => new IngestNotify(spark, tracer, cfg)
      case "corpus_dedup" => new CorpusDedup(spark, tracer, cfg)
      case w => throw new IllegalArgumentException(s"unknown workload $w")
    }
    workload.warmup()
    val setupS =
      ManagementFactory.getRuntimeMXBean.getUptime / 1000.0

    val gcBeans = ManagementFactory.getGarbageCollectorMXBeans.asScala
    def gcMs = gcBeans.map(_.getCollectionTime).sum
    val ops = new JList[AnyRef]()
    val loopStart = System.nanoTime()
    var i = 0
    val mix = workload.mixSize
    // Whole mixes only, and at least two of them, so that a slow first mix
    // does not leave the median resting on the coldest operations alone.
    while (workload.hasNext && (i % mix != 0 || i < 2 * mix ||
      (System.nanoTime() - loopStart) / 1e9 < seconds)) {
      // A traced run alternates traced and untraced mixes, so the tracing
      // overhead is measured within the run on the same operation kinds.
      tracer.enabled = trace && (i / mix) % 2 == 0
      tracer.op = i
      val rec = new JMap[String, AnyRef]()
      rec.put("i", Int.box(i))
      rec.put("traced", Boolean.box(tracer.enabled))
      val gc0 = gcMs
      val t0 = System.nanoTime()
      val result =
        try Right(tracer.span("op")(workload.op(i)))
        catch { case e: Exception => Left(e) }
      val ns = System.nanoTime() - t0
      tracer.enabled = false
      rec.put("ns", Long.box(ns))
      rec.put("gc_ms", Long.box(gcMs - gc0))
      result match {
        case Right(r) =>
          rec.put("ok", Boolean.box(true))
          rec.put("rows", Long.box(r.rows))
          rec.put("out", r.outputs)
          workload.afterOp(i, r.outputs)
        case Left(e) =>
          rec.put("ok", Boolean.box(false))
          rec.put("error", errorText(e))
      }
      ops.add(rec)
      i += 1
    }
    val loopS = (System.nanoTime() - loopStart) / 1e9

    val out = new JMap[String, AnyRef]()
    out.put("setup_s", Double.box(setupS))
    out.put("session_s", Double.box(sessionS))
    out.put("loop_s", Double.box(loopS))
    out.put("ops", ops)
    workload.finish(out)
    out.put("peak_rss_kb", Long.box(vmHwmKb()))
    if (trace) {
      listener.drain()
      out.put("spans", spansJson(tracer, listener))
    }
    mapper.writeValue(new File(outPath), out)
    spark.stop()
  }

  /** The session `graft.Bench` runs under, with Spark's local files kept
    * inside the benchmark's work directory. */
  def session(cpus: Int, work: String): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("graftbench")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.objectHashAggregate.sortBased.fallbackThreshold",
        "4096")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.ui.enabled", "false")
      .config("spark.driver.host", "localhost")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/spark-warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def errorText(e: Throwable): String = {
    val msg = Option(e.getMessage).getOrElse("").linesIterator
      .take(1).mkString
    s"${e.getClass.getName}: ${msg.take(300)}"
  }

  private def vmHwmKb(): Long =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:"))
      .map(_.replaceAll("[^0-9]", "").toLong).getOrElse(0L)

  private def spansJson(tracer: Tracer, l: JobListener): JList[AnyRef] = {
    val jobs = tracer.attribute(l)
    val out = new JList[AnyRef]()
    tracer.spans.foreach { s =>
      val m = new JMap[String, AnyRef]()
      m.put("id", Long.box(s.id))
      m.put("name", s.name)
      m.put("parent", Long.box(s.parent))
      m.put("op", Int.box(s.op))
      m.put("start_ns", Long.box(s.startNs))
      m.put("end_ns", Long.box(s.endNs))
      val js = jobs.getOrElse(s.id, Seq.empty)
      def sum(f: JobCounters => Long) = Long.box(js.map(f).sum)
      m.put("jobs", Long.box(js.size.toLong))
      m.put("stages", sum(_.stages))
      m.put("tasks", sum(_.tasks))
      m.put("task_run_ms", sum(_.runMs))
      m.put("task_cpu_ns", sum(_.cpuNs))
      m.put("task_gc_ms", sum(_.gcMs))
      m.put("shuffle_write_bytes", sum(_.shuffleWrite))
      m.put("shuffle_read_bytes", sum(_.shuffleRead))
      m.put("spill_bytes", sum(_.spill))
      m.put("input_bytes", sum(_.inputBytes))
      m.put("input_records", sum(_.inputRecords))
      m.put("output_bytes", sum(_.outputBytes))
      m.put("sched_wait_ms", sum(_.schedWaitMs))
      m.put("peak_exec_mem_bytes",
        Long.box(js.map(_.peakExecMem).foldLeft(0L)(math.max)))
      out.add(m)
    }
    out
  }

  // --------------------------------------------------------- json helpers

  def longs(n: JsonNode): Seq[Long] = n.elements().asScala.map(_.asLong()).toSeq
  def jlist(xs: Iterable[AnyRef]): JList[AnyRef] = {
    val l = new JList[AnyRef](); xs.foreach(l.add); l
  }
}
