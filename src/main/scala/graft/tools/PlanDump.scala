package graft.tools

/** r19 optimization instrument: for each named gate, dump the physical
  * plan (`explain("formatted")`) to a file and time `reps` noop-sink
  * executions under EXACTLY the bench session ([[graft.GraftSession]],
  * so a reading here is comparable to BENCH_LOCAL numbers). Args: sfDir
  * outDir reps query [query...]; `reps 0` dumps plans only.
  *
  * Per rep it prints wall seconds plus the overhead decomposition the
  * 17 MB gate inputs make decisive (at sf0.1 nearly all gate time is
  * FIXED cost, so knowing whether a second goes to driver planning,
  * task compute, or scheduling picks the right guide section):
  * `plan` = seconds to force queryExecution.executedPlan (analysis +
  * optimization + physical planning, driver-side), `jobs/stages/tasks`
  * = scheduler counts during the rep, `task_s` = summed executor task
  * time (task_s ≈ 32×wall ⇒ compute-bound; task_s ≪ wall ⇒ driver or
  * scheduling overhead). */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val outDir = args(1)
    val reps = args(2).toInt
    val names = args.drop(3)
    val spark = graft.GraftSession.local(graft.GraftSession.cpus(32))
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(outDir))

    val jobs = new java.util.concurrent.atomic.AtomicLong
    val stages = new java.util.concurrent.atomic.AtomicLong
    val tasks = new java.util.concurrent.atomic.AtomicLong
    val taskMs = new java.util.concurrent.atomic.AtomicLong
    val shufBytes = new java.util.concurrent.atomic.AtomicLong
    spark.sparkContext.addSparkListener(
      new org.apache.spark.scheduler.SparkListener {
        override def onJobStart(
            j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
          jobs.incrementAndGet()
        override def onStageCompleted(
            s: org.apache.spark.scheduler.SparkListenerStageCompleted)
            : Unit = stages.incrementAndGet()
        override def onTaskEnd(
            t: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit = {
          tasks.incrementAndGet()
          if (t.taskInfo != null)
            taskMs.addAndGet(t.taskInfo.duration)
          // r20: shuffle bytes WRITTEN — a plan property, near-
          // deterministic run to run (the ShuffleBytesSpec instrument),
          // so flat-wall optimizations that narrow exchanges are still
          // visible here
          if (t.taskMetrics != null)
            shufBytes.addAndGet(
              t.taskMetrics.shuffleWriteMetrics.bytesWritten)
        }
      })

    // same warmup discipline as Bench: JIT/codegen/footer costs land here
    try graft.SparkEntry.queries("q01_summary_agg")(spark, sfDir)
      .write.format("noop").mode("overwrite").save()
    catch { case _: Throwable => () }

    for (name <- names) {
      spark.sparkContext.setJobDescription(s"plandump: $name")
      val df = graft.SparkEntry.queries(name)(spark, sfDir)
      val plan = df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
      java.nio.file.Files.write(
        java.nio.file.Paths.get(outDir, s"$name.txt"),
        plan.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      val lines = (0 until reps).map { _ =>
        val p0 = System.nanoTime()
        // shuffle-byte window opens BEFORE construction: gates whose
        // operators materialize lazy checkpoints at plan time (AQE runs
        // a checkpoint's stages eagerly at toRdd) shuffle during
        // construction, and those bytes belong to the gate
        val b0 = shufBytes.get
        // fresh frame per rep: gates with model exports / stream sinks
        // re-run their full lifecycle like Bench does
        val d = graft.SparkEntry.queries(name)(spark, sfDir)
        d.queryExecution.executedPlan // force analysis+optimize+plan
        val p1 = System.nanoTime()
        val j0 = jobs.get; val s0 = stages.get
        val t0 = tasks.get; val m0 = taskMs.get
        d.write.format("noop").mode("overwrite").save()
        val e1 = System.nanoTime()
        // listener bus is async; give the byte counter a beat to drain
        Thread.sleep(300)
        f"wall=${(e1 - p0) / 1e9}%.2f plan=${(p1 - p0) / 1e9}%.2f " +
          f"jobs=${jobs.get - j0} stages=${stages.get - s0} " +
          f"tasks=${tasks.get - t0} task_s=${(taskMs.get - m0) / 1e3}%.1f " +
          f"shuf_kb=${(shufBytes.get - b0) / 1024}"
      }
      println(s"$name: ${lines.mkString(" | ")}")
    }
    spark.stop()
  }
}
