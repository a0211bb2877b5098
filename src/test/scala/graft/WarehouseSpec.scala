package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.sources.{Tables, Warehouse}

class WarehouseSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  private val dir = TestSpark.sf

  /** At sf0.001 everything broadcasts, hiding the bucketing: pin the
    * shuffle-join path (what a fact-fact join takes at scale) for the
    * duration of the assertion. */
  private def withShuffleJoins[A](body: => A): A = {
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try body
    finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("joining two tables bucketed on the key needs no shuffle at all") {
    val orders = Tables(spark, dir, "orders")
      .select("o_orderkey", "o_totalprice")
    val lineitem = Tables(spark, dir, "lineitem")
      .select("l_orderkey", "l_quantity")
    Warehouse.writeBucketed(orders, "wh_orders", Seq("o_orderkey"), 8)
    Warehouse.writeBucketed(lineitem, "wh_lineitem", Seq("l_orderkey"), 8)

    withShuffleJoins {
      val joined = spark.table("wh_lineitem")
        .join(spark.table("wh_orders"),
          col("l_orderkey") === col("o_orderkey"))
      val p = joined.queryExecution.executedPlan.toString
      assert(!p.contains("Exchange"),
        s"bucketed join must elide both exchanges:\n$p")

      // and it is still the same join result as the plain tables
      val plain = Tables(spark, dir, "lineitem")
        .join(Tables(spark, dir, "orders"),
          col("l_orderkey") === col("o_orderkey"))
      assert(joined.count() == plain.count())
    }
  }

  test("q35 gate: the bucketed join contributes zero exchanges — the " +
      "only one in the whole pipeline is the final aggregate's") {
    withShuffleJoins {
      val df = SparkEntry.queries("q35_bucketed_join")(spark, dir)
      val p = df.queryExecution.executedPlan.toString
      val exchanges = "Exchange hashpartitioning".r.findAllIn(p).size
      assert(exchanges == 1,
        s"expected only the aggregate exchange, got $exchanges:\n$p")
    }
  }

  test("a bucketed-to-unbucketed join shuffles only the unbucketed side") {
    withShuffleJoins {
      val part = Tables(spark, dir, "part").select("p_partkey", "p_name")
      val joined = spark.table("wh_lineitem").join(
        part, col("l_orderkey") === col("p_partkey"))
      val p = joined.queryExecution.executedPlan.toString
      val exchanges = "Exchange hashpartitioning".r.findAllIn(p).size
      assert(exchanges == 1,
        s"expected exactly one exchange (unbucketed side), got $exchanges:\n$p")
    }
  }

  test("dumpBatchedFiles emits exactly ONE parquet file per batch id, " +
      "each at most batchSize rows, in dump order, meta stripped") {
    // q31's logical chunking made physical (objects_per_report transport
    // files): the logical dumpBatched assignment is the oracle for the
    // file layout.
    import graft.ingest.Loader
    val events = Tables(spark, dir, "events")
      .select(col("event_id"), col("user_id"), col("event_type"),
        col("value"), col("ts"))
    val after = lit("2024-01-10 00:00:00").cast("timestamp")
    val until = lit("2024-01-20 00:00:00").cast("timestamp")
    val batchSize = 100
    val expected = Loader.dumpBatched(events, col("ts"), after, until,
        orderKey = Seq(col("event_id")), batchSize = batchSize)
      .select("event_id", "batch_id")
      .collect().map(r => (r.getLong(0), r.getLong(1)))
      .groupBy(_._2).view.mapValues(_.map(_._1).sorted.toSeq).toMap
    assert(expected.size >= 3, s"window too small: ${expected.size} batches")
    val out = java.nio.file.Files
      .createTempDirectory("graft-dump-files").toString
    Loader.dumpBatchedFiles(events, col("ts"), after, until,
      orderKey = Seq(col("event_id")), batchSize = batchSize, path = out,
      metaCols = Seq("ts"), withMetadata = false)
    val dirs = new java.io.File(out).listFiles
      .filter(f => f.isDirectory && f.getName.startsWith("batch_id="))
    assert(dirs.map(_.getName.stripPrefix("batch_id=").toLong).sorted.toSeq
      == expected.keys.toSeq.sorted,
      "file layout must carry exactly the logical batch ids")
    for (d <- dirs) {
      val id = d.getName.stripPrefix("batch_id=").toLong
      val parts = d.listFiles.filter(_.getName.endsWith(".parquet"))
      assert(parts.length == 1,
        s"batch $id must be ONE transport file, got ${parts.length}")
      val rows = spark.read.parquet(parts.head.getPath)
      assert(!rows.columns.contains("ts"),
        "withMetadata=false must strip the meta column from the files")
      val ids = rows.select("event_id").collect().map(_.getLong(0)).toSeq
      assert(ids.size <= batchSize, s"batch $id over batchSize: ${ids.size}")
      assert(ids == ids.sorted,
        s"batch $id rows must keep the dump order inside the file")
      assert(ids == expected(id),
        s"batch $id membership diverges from the logical dumpBatched")
    }
  }

  test("q50 z-order: buckets partition the corpus, bound both " +
      "dimensions, and the probe query skips most z buckets") {
    val out = SparkEntry.queries("q50_zorder_skip")(spark, dir).collect()
    val (summ, pts) = out.partition(_.getAs[Long]("bucket") == -1L)
    // both layouts partition every row
    for (layout <- Seq("zorder", "time")) {
      val total = summ.find(_.getAs[String]("layout") == layout).get
        .getAs[Long]("n_rows")
      val parts = pts.filter(_.getAs[String]("layout") == layout)
      assert(parts.map(_.getAs[Long]("n_rows")).sum == total,
        s"$layout buckets must partition the corpus")
      assert(parts.length > 1, s"$layout must actually split")
    }
    val zHits = summ.find(_.getAs[String]("layout") == "zorder").get
      .getAs[Long]("probe_hit")
    val tHits = summ.find(_.getAs[String]("layout") == "time").get
      .getAs[Long]("probe_hit")
    // top-3 z bits = (u15, d15, u14): the probe's u-quadrant is fixed,
    // so at most the two d-halves of that quadrant can hit
    assert(zHits <= 2, s"z-order must bound the user dimension: $zHits")
    assert(zHits < tHits,
      s"z-order must skip more than time layout ($zHits vs $tHits)")
    // every z bucket bounds the user range to at most ~a quadrant
    val maxU = pts.map(_.getAs[Long]("max_u")).max
    for (r <- pts.filter(_.getAs[String]("layout") == "zorder"))
      assert(r.getAs[Long]("max_u") - r.getAs[Long]("min_u") <=
        maxU / 4 + 2, s"z bucket ${r.getAs[Long]("bucket")} spans too " +
          s"much of u: ${r.getAs[Long]("min_u")}..${r.getAs[Long]("max_u")}")
  }

  test("compactSalted (q49's production variant): bounded parallel " +
      "files per day, rows and checksums conserved, day layout intact") {
    val writers = 4
    val out = java.nio.file.Files
      .createTempDirectory("graft_compact_salted_").toString
    val src = Tables.events(spark, TestSpark.sf)
      .withColumn("day", date_format(col("ts"), "yyyy-MM-dd"))
    Warehouse.compactSalted(src, "day", col("event_id"), writers,
      maxRecordsPerFile = 1000000L, outPath = out)
    val back = spark.read.parquet(out)
      .select(col("day").cast("string").as("day"), col("value"),
        col("_metadata.file_path").as("__f"))
      .groupBy("day")
      .agg(countDistinct(col("__f")).as("n_files"),
        count(lit(1)).as("n_rows"),
        sum(col("value").cast("decimal(18,2)")).cast("double").as("s"))
      .collect().map(r => r.getAs[String]("day") -> r).toMap
    val want = src.groupBy("day")
      .agg(count(lit(1)).as("n_rows"),
        sum(col("value").cast("decimal(18,2)")).cast("double").as("s"))
      .collect().map(r => r.getAs[String]("day") -> r).toMap
    assert(back.keySet == want.keySet, "day partition set changed")
    for ((day, r) <- back) {
      // the operator's contract is the UPPER bound only: at most
      // `writers` files per day (pmod residues can hash-collide onto
      // one task, and a partitioner change could legitimately yield 1
      // file for some day — ADVICE r17, so no per-day lower bound)
      assert(r.getAs[Long]("n_files") <= writers.toLong,
        s"$day: ${r.getAs[Long]("n_files")} files, want <= $writers")
      assert(r.getAs[Long]("n_rows") == want(day).getAs[Long]("n_rows"),
        s"$day: rows not conserved")
      assert(r.getAs[Double]("s") == want(day).getAs[Double]("s"),
        s"$day: checksum not conserved")
    }
    // parallel writers ENGAGED is a global property: across all days
    // the salted layout must produce more files than one-per-day
    // (sequential event_ids cover every residue, so under any sane
    // dispersion at least one day splits)
    assert(back.values.map(_.getAs[Long]("n_files")).sum >
      back.size.toLong,
      "salted layout degenerated to one file per day everywhere")
  }

  test("derivedWriters: ceil(partition bytes / target) clamped to " +
      "[1, maxWriters] — below-target partitions never salt") {
    import Warehouse.derivedWriters
    val mb = 1L << 20
    // under one target file -> 1 writer (salting buys nothing and
    // multiplies small files, the r18 tiny-day reading)
    assert(derivedWriters(0L) == 1)
    assert(derivedWriters(100 * mb) == 1)
    assert(derivedWriters(512 * mb) == 1)
    // the ceiling, exactly
    assert(derivedWriters(512 * mb + 1) == 2)
    assert(derivedWriters(5L * 1024 * mb) == 10)
    // the clamp: a 1 PB partition still caps at the cluster's writer
    // budget rather than exploding the shuffle width
    assert(derivedWriters(1L << 50) == 512)
    assert(derivedWriters(1L << 50, maxWriters = 64) == 64)
    // custom target: a 10 MB-file regime
    assert(derivedWriters(95 * mb, targetFileBytes = 10 * mb) == 10)
    intercept[IllegalArgumentException] { derivedWriters(-1L) }
    intercept[IllegalArgumentException] {
      derivedWriters(1L, targetFileBytes = 0L)
    }
  }

  test("q49 compaction: one file per day after, strictly fewer than " +
      "before, rows and checksums conserved") {
    val out = SparkEntry.queries("q49_compact")(spark, dir).collect()
    assert(out.length >= 5, s"expected a day per row, got ${out.length}")
    for (r <- out) {
      val day = r.getAs[String]("day")
      assert(r.getAs[Long]("n_files_compact") == 1L, s"$day: not 1 file")
      assert(r.getAs[Long]("n_files_small") > 1L,
        s"$day: the small layout must actually be fragmented")
      assert(r.getAs[Long]("n_rows") == r.getAs[Long]("n_rows_expected"),
        s"$day: rows not conserved")
      assert(r.getAs[Int]("compact_ok") == 1, s"$day: verdict not ok")
    }
  }
}
