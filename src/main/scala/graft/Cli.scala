package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Command-line surface mirroring the reference's entry points
  * (kcidb-query / kcidb-dump / kcidb-count, kcidb/misc.py:104-355):
  * the library is runnable the way a reference user runs theirs — one
  * command per job, parquet in/out, no session plumbing.
  *
  * {{{
  * sbt "runMain graft.Cli list"
  * sbt "runMain graft.Cli run q01_summary_agg /root/testdata/sf0.01 /tmp/out"
  * sbt "runMain graft.Cli explain q29_full_closure <sfDir>"
  * sbt "runMain graft.Cli count /root/testdata/sf0.01"
  * sbt "runMain graft.Cli dump /root/testdata/sf0.01 /tmp/dump \
  *      2024-01-10T00:00:00 2024-01-20T00:00:00"
  * }}}
  *
  * `run` executes any `SparkEntry.queries` gate (the full operator
  * catalog) and writes its result as parquet; `explain` prints a gate's
  * formatted physical plan; `count` prints the
  * kcidb-count analog (q08); `dump` is the windowed dump
  * (Loader.dumpWindow over the events table) with optional
  * (after, until] ISO bounds — exclusive lower, inclusive upper, the
  * reference's dump_iter window. `init`/`empty`/`cleanup` are the
  * kcidb-db-init/-empty/-cleanup analogs over the parquet warehouse
  * `load`/`merge` write (sources/Warehouse lifecycle); `load` upserts
  * into what the warehouse already holds. The session is
  * Verify/Bench's [[GraftSession]], so CLI results are the gate results.
  */
object Cli {

  private def gate(name: String): (SparkSession, String) => DataFrame =
    SparkEntry.queries.getOrElse(name, throw new IllegalArgumentException(
      s"unknown query '$name' — `list` prints the catalog"))

  private[graft] def session(sfDir: String): SparkSession = {
    System.setProperty("graft.gate.sfTag", new java.io.File(sfDir).getName)
    GraftSession.local(GraftSession.cpus(4))
  }

  /** Dispatch one command; returns the result frame for commands that
    * produce one (run/dump/count) so tests can assert without parsing
    * stdout. Throws IllegalArgumentException on bad usage — loud, like
    * the reference's argparse. */
  private[graft] def dispatch(args: Array[String]): Option[DataFrame] =
    args.toList match {
      case "list" :: Nil =>
        SparkEntry.queries.keys.toSeq.sorted.foreach(println)
        None
      case "run" :: name :: sfDir :: outDir :: Nil =>
        val df = gate(name)(session(sfDir), sfDir)
        df.write.mode("overwrite").parquet(s"$outDir/$name")
        println(s"$name -> $outDir/$name")
        Some(df)
      case "explain" :: name :: sfDir :: Nil =>
        val df = gate(name)(session(sfDir), sfDir)
        df.explain("formatted")
        Some(df)
      case "count" :: sfDir :: Nil =>
        val df = SparkEntry.queries("q08_count_objects")(
          session(sfDir), sfDir)
        df.show(100, truncate = false)
        Some(df)
      case "dump" :: sfDir :: outDir :: rest if rest.size <= 2 =>
        import org.apache.spark.sql.functions._
        val s = session(sfDir)
        val ev = graft.sources.Tables.events(s, sfDir)
        val after = rest.headOption.getOrElse("1970-01-01T00:00:00")
        val until = rest.lift(1).getOrElse("9999-01-01T00:00:00")
        val df = graft.ingest.Loader.dumpWindow(ev, col("ts"),
          lit(after.replace('T', ' ')).cast("timestamp"),
          lit(until.replace('T', ' ')).cast("timestamp"))
        df.write.mode("overwrite").parquet(outDir)
        println(s"dump ($after, $until] -> $outDir")
        Some(df)
      case "load" :: path :: outDir :: rest if rest.size <= 1 =>
        // kcidb-load: one report file (or same-shaped glob) upserted
        // into a per-type parquet warehouse
        val types = rest.headOption.getOrElse("checkouts,builds,tests")
          .split(",").toSeq
        // absolute parent: a bare relative filename has null getParent,
        // which would NPE inside session() instead of reading the file
        val s = session(new java.io.File(path).getAbsoluteFile.getParent)
        val rep = graft.sources.Reports.read(s, path, types)
        rep.tables.foreach { case (t, df) =>
          graft.sources.Warehouse.load(s, outDir, t, df)
          println(s"$t (v${rep.version._1}.${rep.version._2}) " +
            s"-> $outDir/$t")
        }
        require(rep.tables.nonEmpty,
          s"no report arrays among [${types.mkString(",")}] at $path")
        Some(rep.tables.values.head)
      case "merge" :: outDir :: paths if paths.size >= 2 =>
        // kcidb-merge: union reports per type, drop exact duplicates
        val s = session(
          new java.io.File(paths.head).getAbsoluteFile.getParent)
        val types = Seq("checkouts", "builds", "tests")
        val merged = graft.sources.Reports.merge(
          paths.map(p => graft.sources.Reports.read(s, p, types)))
        merged.foreach { case (t, df) =>
          df.write.mode("overwrite").parquet(s"$outDir/$t")
          println(s"$t -> $outDir/$t")
        }
        merged.values.headOption
      case "schemas" :: Nil =>
        // kcidb-db-schemas: the known schema-version lineage
        gates.QGates.eventsSchematic.history
          .foreach { case (ma, mi) => println(s"$ma.$mi") }
        None
      case "upgrade" :: sfDir :: outDir :: fromV :: Nil =>
        // kcidb-upgrade: lift data at an older schema version to the
        // latest via the inherit chain (Schematic.upgradeToLatest)
        val Array(ma, mi) = fromV.split("\\.")
        val s = session(sfDir)
        val df = gates.QGates.eventsSchematic.upgradeToLatest(
          graft.sources.Tables.events(s, sfDir), (ma.toInt, mi.toInt))
        df.write.mode("overwrite").parquet(outDir)
        println(s"events v$fromV -> " +
          s"v${gates.QGates.eventsSchematic.history.last._1}." +
          s"${gates.QGates.eventsSchematic.history.last._2} -> $outDir")
        Some(df)
      case "purge" :: sfDir :: outDir :: beforeIso :: Nil =>
        // kcidb-db-purge: drop rows that arrived before the timestamp
        import org.apache.spark.sql.functions._
        val s = session(sfDir)
        val df = graft.ingest.Loader.purge(
          graft.sources.Tables.events(s, sfDir), col("ts"),
          lit(beforeIso.replace('T', ' ')).cast("timestamp"))
        df.write.mode("overwrite").parquet(outDir)
        println(s"purged < $beforeIso -> $outDir")
        Some(df)
      case "ooquery" :: sfDir :: outDir :: pattern :: idLists =>
        // kcidb-oo-query: run a pattern string against the catalog;
        // one parquet dir per matched type. Optional trailing args are
        // `%` placeholder ID lists (`;`-separated ids, `,` fields).
        val s = session(sfDir)
        val lists = idLists.map(_.split(";").toSeq
          .map(_.split(",").toSeq))
        val m = graft.query.PatternQuery.runAll(s, sfDir,
          graft.model.TestCatalog.catalog, Seq(pattern), lists)
        m.foreach { case (t, df) =>
          df.write.mode("overwrite").parquet(s"$outDir/$t")
          println(s"$t -> $outDir/$t")
        }
        m.values.headOption
      case "init" :: whDir :: rest if rest.size <= 1 =>
        // kcidb-db-init: empty schema'd warehouse + version marker
        val v = rest.headOption.map { r =>
          val Array(ma, mi) = r.split("\\.")
          (ma.toInt, mi.toInt)
        }.getOrElse((4, 3))
        graft.sources.Warehouse.init(session(whDir), whDir, v)
        println(s"initialized $whDir at v${v._1}.${v._2}")
        None
      case "empty" :: whDir :: Nil =>
        // kcidb-db-empty: drop data, keep schemas + initialization
        graft.sources.Warehouse.empty(session(whDir), whDir)
        println(s"emptied $whDir")
        None
      case "cleanup" :: whDir :: Nil =>
        // kcidb-db-cleanup: deinitialize (tables + marker removed)
        graft.sources.Warehouse.cleanup(whDir)
        println(s"cleaned up $whDir")
        None
      case "time" :: sfDir :: Nil =>
        // kcidb-db-time (db/abstract.py:104-112, setup.py:92): the
        // WAREHOUSE clock, for scripting dump-after-last-run — the
        // engine's own current_timestamp(), evaluated in the session
        // (UTC), distinct from q11's first/last-modified DATA clock.
        val df = session(sfDir).sql(
          "SELECT date_format(current_timestamp(), " +
            "\"yyyy-MM-dd'T'HH:mm:ssXXX\") AS now_utc")
        println(df.head().getString(0))
        Some(df)
      case other =>
        throw new IllegalArgumentException(
          s"usage: list | run <query> <sfDir> <outDir> " +
            s"| explain <query> <sfDir> | count <sfDir> " +
            s"| dump <sfDir> <outDir> [afterIso untilIso] " +
            s"| load <reportJson> <outDir> [types] " +
            s"| merge <outDir> <reportJson> <reportJson>... " +
            s"| init <whDir> [major.minor] | empty <whDir> " +
            s"| cleanup <whDir> | time <sfDir> | schemas " +
            s"| upgrade <sfDir> <outDir> <fromMaj.Min> " +
            s"| purge <sfDir> <outDir> <beforeIso> " +
            s"| ooquery <sfDir> <outDir> <pattern> [idList...] " +
            s"(got: ${other.mkString(" ")})")
    }

  def main(args: Array[String]): Unit = { dispatch(args); () }
}
