package graft.tools

import org.apache.spark.sql.functions._

/** Measurement probe for [[graft.sources.Warehouse.compactSalted]] vs
  * the q49 one-file-per-partition rewrite (args: sfDir [writers]) —
  * VERDICT r17 item 2's evidence.
  *
  * Builds q49's own fragmented fixture once (repartition(8) +
  * maxRecordsPerFile=256 — the rows/256 small-file layout), then times
  * three rewrites of the SAME input:
  *
  *  - `compact1`: the gate's one-file-per-day rewrite
  *    (`repartition(col("day"))`) — one writer TASK per day by
  *    construction, plus whatever day→shuffle-partition hash collisions
  *    stack two days on one task;
  *  - `salted`: [[graft.sources.Warehouse.compactSalted]] at `writers`
  *    tasks — every task carries every day, ≤ writers files/day;
  *  - the same pair on a SINGLE-DAY projection of the whole corpus —
  *    the "one partition exceeds one task's I/O budget" shape (a
  *    100 TB day): compact1 is exactly ONE writer task no matter the
  *    cluster, salted keeps all `writers`.
  *
  * Prints one JSON line with wall-clocks, per-day file-count maxima and
  * row conservation for the salted output (the layout contract: bound
  * AT MOST writers files/day, identical day dirs and totals).
  */
object CompactProbe {
  def main(args: Array[String]): Unit = {
    val dir = args(0)
    // `curve` mode (VERDICT r18 item 5): the salted single-day rewrite
    // timed at writers ∈ {1(=compact1), 4, 8, 16, 32} on one fixture —
    // names the local contention floor vs the task-count win so
    // Warehouse.derivedWriters' clamp rationale is measured, not
    // argued. Normal mode: the original two-fixture comparison.
    val curve = args.length > 1 && args(1) == "curve"
    val writers = if (args.length > 1 && !curve) args(1).toInt else 32
    val spark = graft.GraftSession.local(graft.GraftSession.cpus(32))
    def timed(f: => Unit): Double = {
      val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
    }
    val base = java.nio.file.Files
      .createTempDirectory("graft-compact-probe").toString
    // cleanup must also run on a FAILED leg (ADVICE r18): the fixture is
    // a full copy of the events corpus, and repeated octave runs that
    // die mid-leg would otherwise accumulate corpus-sized /tmp garbage
    try {
    val keyed = graft.sources.Tables.events(spark, dir)
      .withColumn("day", date_format(col("ts"), "yyyy-MM-dd"))
    val smallPath = s"$base/events_small"
    val tFixture = timed {
      keyed.repartition(8)
        .write.mode("overwrite").option("maxRecordsPerFile", 256)
        .partitionBy("day").parquet(smallPath)
    }
    val src = spark.read.parquet(smallPath)
    val nRows = src.count()

    if (curve) {
      val oneDay = src.withColumn("day", lit("2025-01-01"))
        .localCheckpoint()
      // untimed warmup rewrite: JIT + committer setup land here, not
      // on the first curve point
      graft.sources.Warehouse.compactSalted(
        oneDay.limit(50000), "day", col("event_id"), 4,
        Long.MaxValue, s"$base/warm")
      val t1 = timed {
        oneDay.repartition(col("day"))
          .write.mode("overwrite")
          .option("maxRecordsPerFile", Long.MaxValue)
          .partitionBy("day").parquet(s"$base/w1")
      }
      val points = Seq(4, 8, 16, 32).map { w =>
        val t = timed {
          graft.sources.Warehouse.compactSalted(oneDay, "day",
            col("event_id"), w, Long.MaxValue, s"$base/w$w")
        }
        val files = spark.read.parquet(s"$base/w$w")
          .select(col("_metadata.file_path")).distinct().count()
        (w, t, files)
      }
      val bytes = new java.io.File(s"$base/w1").listFiles()
        .filter(_.isDirectory).flatMap(_.listFiles())
        .filter(_.getName.endsWith(".parquet")).map(_.length).sum
      println(f"""{"dir":"$dir","mode":"curve","rows":$nRows,""" +
        f""""fixture_sec":$tFixture%.2f,"day_bytes":$bytes,""" +
        f""""derived_writers_512mb":${graft.sources.Warehouse
          .derivedWriters(bytes)},""" +
        f""""compact1_sec":$t1%.2f,""" +
        points.map { case (w, t, f) =>
          f""""salted_${w}_sec":$t%.2f,"salted_${w}_files":$f"""
        }.mkString(",") + "}")
      // the outer finally owns the fixture cleanup
      spark.stop()
      return
    }

    def fileStats(path: String): (Long, Long, Long) = {
      val f = spark.read.parquet(path)
        .select(col("day"), col("_metadata.file_path").as("__f"))
        .groupBy("day").agg(countDistinct(col("__f")).as("n"))
        .agg(max(col("n")), sum(col("n")), count(lit(1)))
        .head
      (f.getLong(0), f.getLong(1), f.getLong(2))
    }

    // full-fixture rewrites (30 days at every sf)
    val t1 = timed {
      src.repartition(col("day"))
        .write.mode("overwrite").option("maxRecordsPerFile", 1000000)
        .partitionBy("day").parquet(s"$base/compact1")
    }
    val tS = timed {
      graft.sources.Warehouse.compactSalted(src, "day", col("event_id"),
        writers, maxRecordsPerFile = 1000000L, s"$base/salted")
    }
    val (max1, tot1, days1) = fileStats(s"$base/compact1")
    val (maxS, totS, daysS) = fileStats(s"$base/salted")
    val rowsS = spark.read.parquet(s"$base/salted").count()

    // single-day fixture: the huge-partition shape this operator exists
    // for (q49's Scaladoc: "a 100 TB day does not [fit one task]") —
    // every row on one day value, so compact1 is ONE writer task for
    // the whole corpus regardless of cluster size while salted keeps
    // all `writers`. materialized so the WRITE is what's timed.
    val oneDay = src.withColumn("day", lit("2025-01-01"))
      .localCheckpoint()
    val t1s = timed {
      oneDay.repartition(col("day"))
        .write.mode("overwrite")
        .option("maxRecordsPerFile", Long.MaxValue)
        .partitionBy("day").parquet(s"$base/compact1_1d")
    }
    val tSs = timed {
      graft.sources.Warehouse.compactSalted(oneDay, "day",
        col("event_id"), writers,
        maxRecordsPerFile = Long.MaxValue, s"$base/salted_1d")
    }

    println(f"""{"dir":"$dir","rows":$nRows,"writers":$writers,""" +
      f""""fixture_sec":$tFixture%.2f,""" +
      f""""compact1_sec":$t1%.2f,"salted_sec":$tS%.2f,""" +
      f""""compact1_max_files_day":$max1,"salted_max_files_day":$maxS,""" +
      f""""compact1_total_files":$tot1,"salted_total_files":$totS,""" +
      f""""days":$days1,"salted_days":$daysS,"salted_rows":$rowsS,""" +
      f""""compact1_1day_sec":$t1s%.2f,"salted_1day_sec":$tSs%.2f}""")
    } finally graft.sources.Warehouse.rmTree(new java.io.File(base))
    spark.stop()
  }
}
