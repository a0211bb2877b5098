package graft.tools

import org.apache.spark.sql.functions._
import scala.jdk.CollectionConverters._

/** Steady-state eviction evidence for the keyed-TTL dedup state
  * (`Streams.firstPerFingerprintStreamTtl` — spec-pinned since r6 but
  * never octave-measured; VERDICT r18 item 4): the
  * [[StreamEvictionProbe]] chunked-replay discipline applied to a
  * keyed `flatMapGroupsWithState` gate, so EventTimeTimeout actually
  * fires between day-batches and the state plateau is measured, not
  * asserted (args: sfDir [ttlDays] [wmDelay] [skipOneShot]).
  *
  * Fixture: the events corpus re-keyed as a fingerprint stream whose
  * key domain CHURNS — the shape TTL retention exists for (a crawl
  * pipeline's content fingerprints are time-local; a domain that
  * never churns holds window ≈ lifetime state and TTL buys nothing,
  * which would measure the fixture, not the operator):
  *
  *  - day-local keys (the churn mass): fp = "d<day>-<h mod K>" with
  *    K ≈ dailyRows/3, so each key recurs ~3× INSIDE its day
  *    (within-window suppression exercised) and never again;
  *  - persistent keys (the re-admission witnesses): every 20th event
  *    maps instead to a 100-key pool recurring all month — admitted,
  *    suppressed for the TTL window, re-admitted past it, state
  *    removed by the watermark between visits.
  *
  * The probe replays 30 day-ordered chunks (maxFilesPerTrigger=1),
  * prints the per-batch state series (expect a plateau at
  * ≈ (ttl+1)·K + pool, flat — vs the one-shot replay's all-keys
  * retention), and proves output parity under eviction: the streamed
  * admission set must EQUAL a batch twin that folds the identical
  * per-(key, day-batch) admission rule ("earliest (ts, doc_id) row of
  * the batch admits iff no live admission within ttl; suppression
  * does not extend the window") — groupByKey.flatMapGroups over the
  * key's day-sorted rows, exact (doc_id, fp) set equality.
  * GRAFT_ST_PROVIDER applies (Streams.applyStateStoreProviderEnv), so
  * the same probe measures the HDFS and RocksDB state-store cost
  * classes head-to-head. */
object KeyedTtlProbe {
  def main(args: Array[String]): Unit = {
    val dir = args(0)
    val ttlDays = if (args.length > 1) args(1).toInt else 2
    // '_' stands for ' ' (sbt's batch runMain splits on spaces and
    // strips quotes, so "2 hours" cannot be passed literally)
    val wmDelay =
      if (args.length > 2) args(2).replace('_', ' ') else "2 hours"
    val skipOneShot = args.length > 3 && args(3) == "skipOneShot"
    val ttlMs = ttlDays * 86400L * 1000L
    val spark = graft.GraftSession.local(graft.GraftSession.cpus(32))
    graft.streaming.Streams.applyStateStoreProviderEnv(spark)
    import spark.implicits._
    import graft.streaming.Streams
    import graft.streaming.Streams.{DocFp, DocFpTs}

    val ev = graft.sources.Tables.events(spark, dir)
    val days = ev.select(date_format(col("ts"), "yyyy-MM-dd").as("day"))
      .distinct().orderBy("day").collect().map(_.getString(0))
    val rows = ev.count()
    val keysPerDay = math.max(10L, rows / days.length / 3L)

    // the churning fingerprint column (deterministic, partition-free)
    def fpCol = when(pmod(col("event_id"), lit(20L)) === 0L,
        concat(lit("p"), pmod(xxhash64(col("event_id")), lit(100L))))
      .otherwise(concat(lit("d"),
        date_format(col("ts"), "yyyyMMdd"), lit("-"),
        pmod(xxhash64(col("event_id"), lit(1)), lit(keysPerDay))))
    val fpRows = ev.select(col("event_id").as("doc_id"), fpCol.as("fp"),
      col("ts"))

    // day-ordered chunk files (the StreamEvictionProbe discipline:
    // sequential writes -> increasing mtimes -> oldest-first admission
    // at maxFilesPerTrigger=1 -> event-time day order)
    val srcDir = java.nio.file.Files
      .createTempDirectory("graft_ttl_src").toAbsolutePath
    val ckpt = java.nio.file.Files.createTempDirectory("graft_ttl_ck")
    val ckpt1 = java.nio.file.Files.createTempDirectory("graft_ttl_ck1")
    try {
      for ((day, i) <- days.zipWithIndex) {
        val tmp = java.nio.file.Files.createTempDirectory(srcDir, "w")
        fpRows.filter(date_format(col("ts"), "yyyy-MM-dd") === day)
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
      def replay(chunked: Boolean, ck: java.nio.file.Path)
          : (Seq[(Long, Long)], Long, Double) = {
        val reader = spark.readStream.schema(schema)
        val src = (if (chunked) reader.option("maxFilesPerTrigger", "1")
                   else reader).parquet(srcDir.toString)
        val out = Streams.firstPerFingerprintStreamTtl(
          src.withWatermark("ts", wmDelay).as[DocFpTs], ttlMs)
        val name = if (chunked) "ttl_chunked" else "ttl_oneshot"
        val t0 = System.nanoTime()
        val q = out.toDF().writeStream.format("memory").queryName(name)
          .outputMode("append")
          .option("checkpointLocation", ck.toString)
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .start()
        q.awaitTermination()
        val wall = (System.nanoTime() - t0) / 1e9
        val series = q.recentProgress.toSeq
          .map(p => (p.batchId, p.stateOperators.map(_.numRowsTotal).sum))
          .filter(_._2 > 0)
        (series, spark.table(name).count(), wall)
      }
      val (series, streamedCount, wallChunked) = replay(
        chunked = true, ckpt)
      val streamed = spark.table("ttl_chunked").as[DocFp]
        .collect().map(r => (r.doc_id, r.fp)).toSet

      // batch twin: identical admission rule folded per key over its
      // day-batches — earliest (ts, doc_id) of the day admits iff no
      // admission lives within ttl; suppression never extends it
      val twin = fpRows
        .select(col("doc_id"), col("fp"), col("ts"),
          date_format(col("ts"), "yyyy-MM-dd").as("day"))
        .as[(Long, String, java.sql.Timestamp, String)]
        .groupByKey(_._2)
        .flatMapGroups { (fp, it) =>
          val byDay = it.toArray.groupBy(_._4).toSeq.sortBy(_._1)
          var admitMs = 0L; var live = false
          val out = Seq.newBuilder[(Long, String)]
          for ((_, g) <- byDay) {
            val f = g.minBy(r => (r._3, r._1))(
              Ordering.Tuple2(Streams.TsOrdering, Ordering.Long))
            if (!live || f._3.getTime >= admitMs + ttlMs) {
              out += ((f._1, fp)); admitMs = f._3.getTime; live = true
            }
          }
          out.result().iterator
        }.collect().toSet

      val oneShot =
        if (skipOneShot) (-1L, -1.0)
        else { val (s1, _, w1) = replay(chunked = false, ckpt1)
          ((0L +: s1.map(_._2)).max, w1) }
      val plateau = (0L +: series.map(_._2)).max
      val parity = streamed == twin
      println(s"""{"dir":"$dir","ttl_days":$ttlDays,""" +
        s""""wm_delay":"$wmDelay","rows":$rows,"days":${days.length},""" +
        s""""keys_per_day":$keysPerDay,""" +
        s""""state_series":${series.map(_._2).mkString("[", ",", "]")},""" +
        s""""state_plateau":$plateau,""" +
        s""""one_shot_state":${oneShot._1},""" +
        f""""chunked_wall_sec":$wallChunked%.1f,""" +
        f""""one_shot_wall_sec":${oneShot._2}%.1f,""" +
        s""""streamed_admissions":$streamedCount,""" +
        s""""twin_admissions":${twin.size},"parity":$parity}""")
      require(parity, "streamed admission set != batch twin")
    } finally {
      graft.sources.Warehouse.rmTree(srcDir.toFile)
      graft.sources.Warehouse.rmTree(ckpt.toFile)
      graft.sources.Warehouse.rmTree(ckpt1.toFile)
    }
    spark.stop()
  }
}
