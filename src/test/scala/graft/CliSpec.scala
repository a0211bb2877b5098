package graft

import org.scalatest.funsuite.AnyFunSuite

class CliSpec extends AnyFunSuite {
  // TestSpark owns the session; Cli.session getOrCreate's into it, so
  // dispatch runs against the shared local session
  lazy val spark = TestSpark.spark
  val sf = TestSpark.sf

  test("run executes a catalog gate and writes its parquet") {
    val out = java.nio.file.Files
      .createTempDirectory("graft-cli-run").toString
    val df = Cli.dispatch(Array("run", "q01_summary_agg", sf, out)).get
    val back = spark.read.parquet(s"$out/q01_summary_agg")
    assert(back.count() == df.count() && back.count() > 0)
  }

  test("explain prints a gate's formatted physical plan") {
    val out = new java.io.ByteArrayOutputStream
    Console.withOut(out)(Cli.dispatch(Array("explain", "q01_summary_agg", sf)))
    assert(out.toString.contains("== Physical Plan =="))
  }

  test("count is the q08 analog") {
    val df = Cli.dispatch(Array("count", sf)).get
    assert(df.columns.toSeq ==
      SparkEntry.queries("q08_count_objects")(spark, sf).columns.toSeq)
  }

  test("dump honors the (after, until] window bounds exactly") {
    import org.apache.spark.sql.functions._
    val out = java.nio.file.Files
      .createTempDirectory("graft-cli-dump").toString
    val all = Cli.dispatch(Array("dump", sf, s"$out/all")).get.count()
    val a = "2024-01-10T00:00:00"; val u = "2024-01-20T00:00:00"
    val some = Cli.dispatch(Array("dump", sf, s"$out/some", a, u)).get
    // EXACT bound semantics (dump_iter's window): exclusive lower,
    // inclusive upper — not just `some < all`
    val want = graft.sources.Tables.events(spark, sf)
      .filter(col("ts") > lit(a.replace('T', ' ')).cast("timestamp") &&
        col("ts") <= lit(u.replace('T', ' ')).cast("timestamp"))
      .count()
    assert(all > 0 && some.count() == want && want < all)
  }

  test("init/empty/cleanup: the warehouse lifecycle analogs") {
    import graft.sources.Warehouse
    val dir = java.nio.file.Files
      .createTempDirectory("graft-cli-wh")
    val wh = dir.resolve("wh").toString
    Cli.dispatch(Array("init", wh, "4.3"))
    assert(Warehouse.isInitialized(wh) && Warehouse.version(wh) == (4, 3))
    // initialized tables are schema'd and empty — queries plan normally
    val builds = spark.read.parquet(s"$wh/builds")
    assert(builds.count() == 0 &&
      builds.columns.contains("checkout_id"))
    // double-init refuses, like the reference without --ignore-initialized
    intercept[IllegalStateException] { Cli.dispatch(Array("init", wh)) }
    // load data in, then empty: data gone, schema + marker survive
    val rep = dir.resolve("r.json")
    java.nio.file.Files.writeString(rep,
      """{"version": {"major": 4, "minor": 3},
          "builds": [{"id": "b1", "checkout_id": "c1",
                      "origin": "o", "extra_col": "wide"}]}""")
    Cli.dispatch(Array("load", rep.toString, wh, "builds"))
    assert(spark.read.parquet(s"$wh/builds").count() == 1)
    Cli.dispatch(Array("empty", wh))
    val emptied = spark.read.parquet(s"$wh/builds")
    assert(emptied.count() == 0 && Warehouse.isInitialized(wh))
    // empty() keeps the CURRENT (widened) schema, not the core one
    assert(emptied.columns.contains("extra_col"))
    // cleanup deinitializes; empty on uninitialized refuses
    Cli.dispatch(Array("cleanup", wh))
    assert(!Warehouse.isInitialized(wh) &&
      !new java.io.File(wh, "builds").exists())
    intercept[IllegalArgumentException] { Cli.dispatch(Array("empty", wh)) }
  }

  test("readType merges mixed file schemas in a warehouse table dir " +
      "(append-widened files union with the init-time core file)") {
    import graft.sources.Warehouse
    val dir = java.nio.file.Files
      .createTempDirectory("graft-cli-wh-merge")
    val wh = dir.resolve("wh").toString
    Cli.dispatch(Array("init", wh, "4.3"))
    // append (not overwrite) a WIDER file beside the core file —
    // the ALTER TABLE ADD COLUMN shape the Scaladoc promises
    import spark.implicits._
    Seq(("b9", "c9", "o", "arm64", "wide"))
      .toDF("id", "checkout_id", "origin", "architecture", "extra_col")
      .write.mode("append").parquet(s"$wh/builds")
    val merged = Warehouse.readType(spark, wh, "builds")
    assert(merged.columns.contains("extra_col") &&
      merged.columns.contains("architecture"), // core col survives too
      s"union schema expected, got ${merged.columns.mkString(",")}")
    assert(merged.count() == 1)
    Cli.dispatch(Array("cleanup", wh))
  }

  test("schemas/upgrade/purge/ooquery: the remaining console analogs") {
    import org.apache.spark.sql.functions._
    // schemas prints the lineage (smoke: dispatch returns cleanly)
    assert(Cli.dispatch(Array("schemas")).isEmpty)
    val out = java.nio.file.Files
      .createTempDirectory("graft-cli-more").toString
    // upgrade from v1.0: latest adds status + score columns
    val up = Cli.dispatch(Array("upgrade", sf, s"$out/up", "1.0")).get
    assert(up.columns.contains("status") && up.columns.contains("score"))
    assert(spark.read.parquet(s"$out/up").count() ==
      graft.sources.Tables.events(spark, sf).count())
    // purge drops exactly the pre-cutoff rows
    val cut = "2024-01-10T00:00:00"
    val purged = Cli.dispatch(Array("purge", sf, s"$out/purged", cut)).get
    val want = graft.sources.Tables.events(spark, sf)
      .filter(col("ts") >= lit(cut.replace('T', ' ')).cast("timestamp"))
      .count()
    assert(purged.count() == want && want > 0)
    // ooquery matches q16's fixed pattern, and the '%' placeholder
    // consumes a CLI-supplied id list
    Cli.dispatch(Array("ooquery", sf, s"$out/oo",
      ">customer[21;22;23]>orders>lineitem#"))
    val viaCli = spark.read.parquet(s"$out/oo/lineitem")
    val viaGate = SparkEntry.queries("q16_pattern_query")(spark, sf)
    assert(viaCli.count() == viaGate.count() && viaGate.count() > 0)
    Cli.dispatch(Array("ooquery", sf, s"$out/oo2",
      ">customer%#", "21;22"))
    assert(spark.read.parquet(s"$out/oo2/customer").count() == 2)
  }

  test("load accepts a bare relative report filename") {
    val cwd = new java.io.File(".").getAbsoluteFile.getParentFile
    val f = java.io.File.createTempFile("graft-rel-", ".json", cwd)
    try {
      java.nio.file.Files.writeString(f.toPath,
        """{"version": {"major": 4, "minor": 3},
            "builds": [{"id": "b1", "origin": "o"}]}""")
      val out = java.nio.file.Files
        .createTempDirectory("graft-cli-rel").toString
      // pre-fix this NPE'd inside session(new File(path).getParent)
      Cli.dispatch(Array("load", f.getName, out, "builds"))
      assert(spark.read.parquet(s"$out/builds").count() == 1)
    } finally f.delete()
  }

  test("load ingests a JSON report per type; merge dedups across " +
      "reports") {
    val dir = java.nio.file.Files
      .createTempDirectory("graft-cli-load")
    def report(p: String, ids: Seq[Int]): String = {
      val f = dir.resolve(p)
      val builds = ids.map(i =>
        s"""{"id": "b$i", "origin": "o${i % 2}"}""").mkString(",")
      java.nio.file.Files.writeString(f,
        s"""{"version": {"major": 4, "minor": 3},
            "builds": [$builds]}""")
      f.toString
    }
    val r1 = report("r1.json", Seq(1, 2, 3))
    val r2 = report("r2.json", Seq(3, 4))
    val out = dir.resolve("wh").toString
    Cli.dispatch(Array("load", r1, out, "builds"))
    assert(spark.read.parquet(s"$out/builds").count() == 3)
    val mout = dir.resolve("merged").toString
    Cli.dispatch(Array("merge", mout, r1, r2))
    // b3 appears in both reports; exact-duplicate drop keeps one
    assert(spark.read.parquet(s"$mout/builds").count() == 4)
  }

  test("load upserts a second report into the warehouse: per id, each " +
      "field's latest non-null value, as upsertMerge over both reports") {
    import org.apache.spark.sql.functions._
    val dir = java.nio.file.Files.createTempDirectory("graft-cli-upsert")
    def report(p: String, builds: String): String = {
      val f = dir.resolve(p)
      java.nio.file.Files.writeString(f,
        s"""{"version": {"major": 4, "minor": 3}, "builds": [$builds]}""")
      f.toString
    }
    val r1 = report("r1.json",
      """{"id": "b1", "origin": "o", "architecture": "x86",
          "comment": "first"},
         {"id": "b2", "origin": "o", "architecture": null,
          "comment": "kept"},
         {"id": "b3", "origin": "o", "architecture": "arm"}""")
    val r2 = report("r2.json",
      """{"id": "b2", "origin": "p", "architecture": "riscv",
          "comment": null},
         {"id": "b3", "origin": null, "duration": 7},
         {"id": "b4", "origin": "p"}""")
    val wh = dir.resolve("wh").toString
    Cli.dispatch(Array("load", r1, wh, "builds"))
    Cli.dispatch(Array("load", r2, wh, "builds"))
    val fields = Seq("origin", "architecture", "comment", "duration")
    val log = Seq(r1, r2).zipWithIndex.map { case (p, i) =>
      graft.sources.Reports.read(spark, p, Seq("builds")).tables("builds")
        .withColumn("__src", lit(i))
    }.reduce(_.unionByName(_, allowMissingColumns = true))
    val want = graft.ingest.Loader.upsertMerge(log, Seq("id"),
      Seq(col("__src")), fields)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select(("id" +: fields).map(col): _*).orderBy("id").collect()
        .map(_.toSeq).toSeq
    val got = rows(spark.read.parquet(s"$wh/builds"))
    assert(got == rows(want))
    // a null in the later report never erases a loaded value
    assert(got.map(r => r(0) -> r(3)).toMap ==
      Map("b1" -> "first", "b2" -> "kept", "b3" -> null, "b4" -> null))
    // a column whose type clashes with the warehouse's fails, by name
    val r3 = report("r3.json", """{"id": "b5", "duration": "long"}""")
    val e = intercept[IllegalArgumentException] {
      Cli.dispatch(Array("load", r3, wh, "builds"))
    }
    assert(e.getMessage.contains("'duration'"))
    assert(spark.read.parquet(s"$wh/builds").count() == 4)
  }

  test("time is the kcidb-db-time analog: the warehouse clock, ISO " +
      "UTC, parseable and current") {
    val df = Cli.dispatch(Array("time", TestSpark.sf)).get
    val s = df.head().getString(0)
    val t = java.time.OffsetDateTime.parse(s)
    val now = java.time.OffsetDateTime.now(java.time.ZoneOffset.UTC)
    assert(math.abs(java.time.Duration.between(t, now).getSeconds) < 300,
      s"warehouse clock '$s' should be within minutes of wall time")
  }

  test("unknown query and bad usage fail loudly") {
    val e1 = intercept[IllegalArgumentException] {
      Cli.dispatch(Array("run", "nope", sf, "/tmp/x"))
    }
    assert(e1.getMessage.contains("unknown query"))
    val e2 = intercept[IllegalArgumentException] {
      Cli.dispatch(Array("frobnicate"))
    }
    assert(e2.getMessage.contains("usage:"))
  }
}
