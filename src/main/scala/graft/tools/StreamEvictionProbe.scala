package graft.tools

import org.apache.spark.sql.functions._
import scala.jdk.CollectionConverters._

/** Steady-state eviction evidence for the stream-stream interval join
  * (st11's operator, `Streams.errorResolutionJoin`) — converts the r18
  * streaming-octave caveat ("st11's retained rows are the one-shot
  * replay artifact") into a measurement (args: sfDir [wmDelay]).
  *
  * A one-batch AvailableNow replay can never evict: Structured
  * Streaming advances the watermark only BETWEEN micro-batches, so the
  * 100x octave's 4.0M retained rows measured the replay shape, not the
  * operator. This probe replays the SAME events corpus as one
  * file-chunk PER DAY (`maxFilesPerTrigger=1`, day-ordered mtimes →
  * 30 day-ordered batches) with a short watermark delay, so the
  * event-time bounds evict between batches — the production steady
  * state. It prints the per-batch state-row series (expect
  * rise-then-plateau at ~one day of join-side rows, not the one-shot
  * linear pile-up) and proves output CORRECTNESS under eviction: the
  * matched-pair count must equal the batch interval join's.
  */
object StreamEvictionProbe {
  def main(args: Array[String]): Unit = {
    val dir = args(0)
    val wmDelay = if (args.length > 1) args(1) else "2 hours"
    val spark = graft.GraftSession.local(graft.GraftSession.cpus(32))
    val ev = graft.sources.Tables.events(spark, dir)
    val days = ev.select(date_format(col("ts"), "yyyy-MM-dd").as("day"))
      .distinct().orderBy("day").collect().map(_.getString(0))

    // day-ordered chunk files: sequential writes give increasing mtimes,
    // and the file source admits the OLDEST file first at
    // maxFilesPerTrigger=1 — so batches arrive in event-time day order
    val srcDir = java.nio.file.Files
      .createTempDirectory("graft_evict_src").toAbsolutePath
    val ckpt = java.nio.file.Files.createTempDirectory("graft_evict_ck")
    // the chunk dir is a full copy of the events corpus — failed runs
    // must clean it up too, or repeated octave sessions fill /tmp
    // (ADVICE r18); rmTree both on every exit path
    try {
    for ((day, i) <- days.zipWithIndex) {
      val tmp = java.nio.file.Files.createTempDirectory(srcDir, "w")
      ev.filter(date_format(col("ts"), "yyyy-MM-dd") === day)
        .coalesce(1).write.mode("overwrite").parquet(tmp.toString)
      val part = java.nio.file.Files.list(tmp).iterator().asScala
        .find(_.getFileName.toString.endsWith(".parquet")).get
      java.nio.file.Files.move(part,
        srcDir.resolve(f"chunk_$i%03d.parquet"))
      val walk = java.nio.file.Files.walk(tmp)
      try walk.iterator().asScala.toSeq.reverse
        .foreach(p => java.nio.file.Files.deleteIfExists(p))
      finally walk.close()
    }
    val schema = spark.read.parquet(srcDir.toString).schema
    val stream = graft.sources.Tables.normalizeTs(
      spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1").parquet(srcDir.toString))
    val joined = graft.streaming.Streams.errorResolutionJoin(stream,
      withinSec = 3600L, fixType = "purchase", wmDelay = Some(wmDelay))
    val q = joined.writeStream.format("memory").queryName("evict_probe")
      .outputMode("append")
      .option("checkpointLocation", ckpt.toString)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val series = q.recentProgress.toSeq
      .map(p => (p.batchId, p.stateOperators.map(_.numRowsTotal).sum))
      .filter(_._2 > 0)
    val streamedPairs = spark.table("evict_probe").count()
    val batchPairs = graft.streaming.Streams.errorResolutionJoin(
      ev, withinSec = 3600L, fixType = "purchase").count()
    val inputRows = ev
      .filter(col("event_type").isin("error", "purchase")).count()
    println(s"""{"dir":"$dir","wm_delay":"$wmDelay",""" +
      s""""days":${days.length},"join_side_rows":$inputRows,""" +
      s""""state_series":${series.map(_._2).mkString("[", ",", "]")},""" +
      s""""state_max":${(0L +: series.map(_._2)).max},""" +
      s""""streamed_pairs":$streamedPairs,"batch_pairs":$batchPairs}""")
    } finally {
      graft.sources.Warehouse.rmTree(srcDir.toFile)
      graft.sources.Warehouse.rmTree(ckpt.toFile)
    }
    spark.stop()
  }
}
