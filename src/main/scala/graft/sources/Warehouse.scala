package graft.sources

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, lit, monotonically_increasing_id,
  pmod}
import org.apache.spark.sql.types.StructField

/** Bucketed warehouse tables: the co-located-join path promised in
  * SURVEY §5. Writing both sides of a recurring fact-fact join bucketed
  * (and sorted) by the join key lets the planner elide BOTH exchanges —
  * the join becomes a zip of pre-shuffled buckets, which at 100 TB turns
  * the recurring ETL join from the dominant shuffle into pure local work.
  * The one-time bucketing cost is the same shuffle the first join would
  * have paid anyway.
  */
object Warehouse {

  /** Write `df` as a bucketed+sorted parquet table in the session catalog.
    * `numBuckets` must match on both sides of an intended co-located join
    * (Spark only elides exchanges for equal bucket counts). */
  def writeBucketed(df: DataFrame, table: String,
                    bucketCols: Seq[String], numBuckets: Int): Unit = {
    val spark = df.sparkSession
    // A managed table's location can outlive its catalog entry (the
    // in-memory catalog forgets across sessions, the directory does not);
    // clear both so the write is a true overwrite.
    spark.sql(s"DROP TABLE IF EXISTS `$table`")
    val loc = new org.apache.hadoop.fs.Path(
      spark.conf.get("spark.sql.warehouse.dir"), table.toLowerCase)
    val fs = loc.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(loc)) { fs.delete(loc, true); () }
    df.write.mode("overwrite").format("parquet")
      .bucketBy(numBuckets, bucketCols.head, bucketCols.tail: _*)
      .sortBy(bucketCols.head, bucketCols.tail: _*)
      .saveAsTable(table)
  }

  /** Read a catalog table back (bucket metadata rides along). */
  def table(df: DataFrame, name: String): DataFrame =
    df.sparkSession.table(name)

  // -- Parquet-warehouse lifecycle: the kcidb-db-init / -empty /
  // -cleanup analogs (reference setup.py:84-88 entry points;
  // kcidb/db/__init__.py:102-146 Client.init/cleanup/empty) over the
  // per-type parquet directory the CLI's load/merge commands write.
  // "Initialized" is a version marker file plus one parquet dir per
  // object type; init refuses an initialized warehouse, empty/cleanup
  // refuse an uninitialized one — the reference's assertion discipline
  // surfaced as loud IllegalStateExceptions.

  /** Object types of a report warehouse (the reference I/O schema's
    * top-level arrays). */
  val ReportTypes: Seq[String] = Seq("checkouts", "builds", "tests")

  /** Minimal per-type schemas for an EMPTY initialized warehouse — the
    * id/linkage core of the reference I/O schema (io/schema/v04_03.py:
    * checkouts.id/origin/tree, builds.id→checkout_id, tests.id→
    * build_id/status/path). Loads widen them when read through
    * [[readType]], which sets `mergeSchema` explicitly (Spark's parquet
    * reader resolves a mixed-schema dir to ONE file's footer by
    * default) — with it, an empty core table plus loaded wide files
    * query as the union, like ALTER TABLE ADD COLUMN. */
  private def coreSchema(t: String): org.apache.spark.sql.types.StructType =
    org.apache.spark.sql.types.StructType(t match {
      case "checkouts" => Seq("id", "origin", "tree_name",
        "git_commit_hash").map(f =>
        org.apache.spark.sql.types.StructField(f,
          org.apache.spark.sql.types.StringType))
      case "builds" => Seq("id", "checkout_id", "origin",
        "architecture").map(f =>
        org.apache.spark.sql.types.StructField(f,
          org.apache.spark.sql.types.StringType))
      case "tests" => Seq("id", "build_id", "origin", "status",
        "path").map(f =>
        org.apache.spark.sql.types.StructField(f,
          org.apache.spark.sql.types.StringType))
      case other => throw new IllegalArgumentException(
        s"unknown warehouse type '$other' (want: $ReportTypes)")
    })

  /** Read one warehouse type table as the UNION of its file schemas.
    * `mergeSchema` is off by default in Spark, so a dir holding the
    * init-time core file plus wider loaded files would otherwise
    * resolve to a single footer's schema; the footer-merge cost is a
    * per-file metadata read, negligible against the scan. */
  def readType(spark: org.apache.spark.sql.SparkSession, dir: String,
               t: String): DataFrame =
    spark.read.option("mergeSchema", "true").parquet(s"$dir/$t")

  private def marker(dir: String) = new java.io.File(dir, "_graft_version")

  /** kcidb Client.is_initialized: the version marker decides. */
  def isInitialized(dir: String): Boolean = marker(dir).exists()

  /** The initialized warehouse's schema version (major, minor). */
  def version(dir: String): (Int, Int) = {
    require(isInitialized(dir), s"warehouse $dir is not initialized")
    val Array(ma, mi) = new String(java.nio.file.Files.readAllBytes(
      marker(dir).toPath), "UTF-8").trim.split("\\.")
    (ma.toInt, mi.toInt)
  }

  /** kcidb-db-init: create the warehouse at a schema version — one
    * EMPTY parquet table per type (schema'd, so queries against a fresh
    * warehouse plan normally and return zero rows) plus the version
    * marker. Refuses an already-initialized warehouse, as the
    * reference's init_main does without --ignore-initialized. */
  def init(spark: org.apache.spark.sql.SparkSession, dir: String,
           version: (Int, Int) = (4, 3)): Unit = {
    if (isInitialized(dir)) throw new IllegalStateException(
      s"warehouse $dir is already initialized")
    ReportTypes.foreach { t =>
      spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        coreSchema(t))
        // repartition(1), not coalesce: an empty RDD has ZERO
        // partitions and coalesce keeps that — no part file, no footer,
        // and the "initialized" table would be unreadable. repartition
        // materializes one empty partition → one schema-bearing file.
        .repartition(1).write.mode("overwrite").parquet(s"$dir/$t")
    }
    java.nio.file.Files.write(marker(dir).toPath,
      s"${version._1}.${version._2}\n".getBytes("UTF-8"))
    ()
  }

  /** kcidb-db-empty: remove all DATA, keep the initialized warehouse —
    * each type is rewritten as an empty frame with its CURRENT schema
    * (loaded wide columns survive as schema, as the reference's empty()
    * truncates tables without dropping them). */
  def empty(spark: org.apache.spark.sql.SparkSession, dir: String): Unit = {
    require(isInitialized(dir), s"warehouse $dir is not initialized")
    ReportTypes.filter(t => new java.io.File(dir, t).exists())
      .foreach { t =>
        val schema = readType(spark, dir, t).schema
        replaceType(dir, t, spark.createDataFrame(
          spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
          .repartition(1))
      }
  }

  /** kcidb-load into one type table, which the reference upserts
    * (db/sql/schema.py:235-287): the table's rows and the report's are
    * one submission log, the table's first and the report's after them
    * in read order, collapsed per `id` by
    * [[graft.ingest.Loader.upsertMerge]] — every other column keeps its
    * latest non-null value. A column only one side has is null on the
    * other; a column whose type differs between them fails loudly. */
  def load(spark: SparkSession, dir: String, t: String,
           report: DataFrame): Unit = {
    require(report.columns.contains("id"),
      s"the report's $t records carry no id column")
    val table =
      if (new java.io.File(dir, t).exists) Seq(readType(spark, dir, t))
      else Nil
    val fields = (table.flatMap(_.schema.fields) ++ report.schema.fields)
      .foldLeft(Vector.empty[StructField]) { (acc, f) =>
        acc.find(_.name == f.name) match {
          case None => acc :+ f
          case Some(g) if g.dataType == f.dataType => acc
          case Some(g) => throw new IllegalArgumentException(
            s"column '${f.name}' of $t is ${g.dataType.simpleString} in " +
              s"$dir but ${f.dataType.simpleString} in the report")
        }
      }
    def log(df: DataFrame, src: Int): DataFrame =
      df.select(fields.map(f =>
        (if (df.columns.contains(f.name)) col(f.name)
         else lit(null).cast(f.dataType)).as(f.name)) ++
        Seq(lit(src).as("__src"), monotonically_increasing_id().as("__pos"))
        : _*)
    val names = fields.map(_.name)
    replaceType(dir, t, graft.ingest.Loader.upsertMerge(
        (table.map(log(_, 0)) :+ log(report, 1)).reduce(_ union _),
        Seq("id"), Seq(col("__src"), col("__pos")), names.filter(_ != "id"))
      .select(names.map(col): _*))
  }

  /** Write `df` beside `$dir/$t` and swap it in: `df` may read the table
    * it replaces, so it is fully written before the old dir goes. */
  private def replaceType(dir: String, t: String, df: DataFrame): Unit = {
    val tmp = new java.io.File(dir, s".${t}_tmp")
    df.write.mode("overwrite").parquet(tmp.getPath)
    graft.util.deleteTree(new java.io.File(dir, t))
    require(tmp.renameTo(new java.io.File(dir, t)),
      s"could not swap the rewritten table into $dir/$t")
  }

  /** kcidb-db-cleanup: deinitialize — remove the type dirs and the
    * marker; the warehouse directory itself survives (it may be a
    * mount point, as the reference's database server does). */
  def cleanup(dir: String): Unit = {
    require(isInitialized(dir), s"warehouse $dir is not initialized")
    ReportTypes.foreach(t => graft.util.deleteTree(new java.io.File(dir, t)))
    marker(dir).delete()
    ()
  }

  /** Salted small-file compaction — the PRODUCTION variant of q49's
    * one-file-per-partition rewrite (the q49 Scaladoc's stated
    * parallelism ceiling, made code): a single output file per
    * partition value means a single writer TASK per partition value,
    * which is fine until one partition's bytes exceed one task's I/O
    * budget — a 100 TB day does. This path trades "exactly 1 file per
    * partition" for "at most `writers` files per partition": the
    * frame repartitions into `writers` tasks on a row-salt (NOT the
    * partition column — every task carries every partition value, so
    * each non-empty task streams one file per partition dir in
    * parallel — hash collisions between salt residues can leave some
    * of the `writers` tasks empty, so the bound is AT MOST `writers`
    * files and writers per partition), and `maxRecordsPerFile` still
    * caps individual file size. Layout semantics (the partitionBy dirs, row content,
    * per-partition totals) are IDENTICAL to the single-file rewrite —
    * only the file-count-per-partition changes from 1 to <= `writers`,
    * which is why q49's gate keeps the 1-file contract (bit-exact SQL
    * verifiability) while this is what a real cluster runs. */
  def compactSalted(df: DataFrame, partitionCol: String,
                    saltKey: Column, writers: Int,
                    maxRecordsPerFile: Long, outPath: String): Unit = {
    require(writers > 0, s"compactSalted: writers=$writers")
    df.repartition(writers, pmod(saltKey, lit(writers)))
      .write.mode("overwrite")
      .option("maxRecordsPerFile", maxRecordsPerFile)
      .partitionBy(partitionCol).parquet(outPath)
  }

  /** Derived writer count for [[compactSalted]] — the LshKnobs
    * discipline applied to the writer knob, so deployments size it
    * from the data instead of hand-picking: writers =
    * ceil(largest-partition bytes / target file bytes), clamped to
    * [1, maxWriters]. The rationale both ways:
    *
    *  - writers BELOW the ratio leave files over the target size and
    *    leave writer parallelism on the table exactly where the
    *    single-writer ceiling binds (the operator's reason to exist);
    *  - writers ABOVE it buy nothing once every file is under target
    *    (the r18 30-tiny-day reading: salting a partition that fits
    *    one task is ~1.2× pure overhead) and multiply the small-file
    *    count the compaction exists to remove — each non-empty task
    *    streams one file per partition value.
    *
    * `maxWriters` caps the shuffle width at the cluster's real writer
    * budget (executors × cores; the default matches a ~500-task
    * cluster, far above any local mode). The 512 MB default target
    * is the standard warehouse file size: big enough that footer/open
    * overhead amortizes, small enough that a file is a sane task unit
    * downstream. */
  def derivedWriters(partitionBytes: Long,
                     targetFileBytes: Long = 512L << 20,
                     maxWriters: Int = 512): Int = {
    require(partitionBytes >= 0,
      s"derivedWriters: partitionBytes=$partitionBytes")
    require(targetFileBytes > 0 && maxWriters >= 1,
      s"derivedWriters: targetFileBytes=$targetFileBytes " +
        s"maxWriters=$maxWriters")
    val w = partitionBytes / targetFileBytes +
      (if (partitionBytes % targetFileBytes == 0) 0L else 1L)
    math.min(maxWriters.toLong, math.max(1L, w)).toInt
  }
}
