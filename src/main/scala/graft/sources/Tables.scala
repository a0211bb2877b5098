package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Parquet table registry for the graft engine.
  *
  * Mirrors the role of kcidb's database table layer
  * (/root/reference/kcidb/db/sqlite/v04_00.py:164-243): a fixed catalog of
  * typed tables. Here each table is a parquet dataset under a scale-factor
  * directory; Spark's parquet source gives us predicate pushdown, column
  * pruning and vectorized reads for free, which is the 100 TB path (at scale
  * these directories are partitioned table roots, not single files).
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** Per-session RELATION cache (r19, guide §6's listing/schema-cache
    * class): `spark.read.parquet` pays ~100-200 ms of driver-side file
    * listing + footer schema inference PER CALL (~30 s across a full
    * 182-gate bench run), for a catalog of ten tables. Caching the
    * ANALYZED RELATION — a lazy plan, never data; every action still
    * scans the parquet — makes a repeated load free, exactly like a
    * catalog table. Keyed by (session, dir, name), and each entry holds
    * the leaf-file listing (path, size, mtime) it was read under: every
    * load re-lists the directory (no footer reads) and reads again when
    * the listing changed. Testdata dirs never change, but `Catalog.load`
    * sends warehouse dirs through here too, and those are rewritten in
    * place — a relation over the old files would fail its next scan
    * with FILE_NOT_EXIST. */
  private type Listing = Seq[(String, Long, Long)]
  private val relationCache =
    new java.util.concurrent.ConcurrentHashMap[
      (SparkSession, String, String), (Listing, DataFrame)]()

  /** Leaf files under `path` as (path, size, mtime); empty when the path
    * does not exist (the read then raises Spark's own error). */
  private def listing(spark: SparkSession, path: String): Listing = {
    val root = new org.apache.hadoop.fs.Path(path)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    def leaves(p: org.apache.hadoop.fs.Path): Listing =
      fs.listStatus(p).toSeq.flatMap { f =>
        if (f.isDirectory) leaves(f.getPath)
        else Seq((f.getPath.toString, f.getLen, f.getModificationTime))
      }
    try leaves(root).sorted
    catch { case _: java.io.FileNotFoundException => Seq.empty }
  }

  /** The RAW (un-normalized) cached relation — the streaming file
    * source peeks this schema, which must be the parquet's physical
    * shape, not the normalized one. */
  def raw(spark: SparkSession, dir: String, name: String): DataFrame = {
    val path = s"$dir/$name.parquet"
    val files = listing(spark, path)
    relationCache.compute((spark, dir, name), (_, cached) =>
      if (cached != null && cached._1 == files) cached
      else (files, spark.read.parquet(path)))._2
  }

  /** Every load dispatches through the table's shape normalizer, so NO
    * call site can see a generator-drifted physical type (the r11
    * lesson: `events.ts` silently became TIMESTAMP_NTZ and every raw
    * consumer threw at analysis time — the engine owns input-shape
    * totality, not the generator). */
  def apply(spark: SparkSession, dir: String, name: String): DataFrame = {
    val r = raw(spark, dir, name)
    name match {
      case "events" => normalizeTs(r)
      case "embeddings" => normalizeEmbedding(r)
      case _ => r
    }
  }

  /** Normalize an events-shaped frame's `ts` to a canonical session-tz
    * TIMESTAMP (µs) column, whatever parquet physical type the generator
    * used. Three input shapes are handled — the input-shape TOTALITY is
    * the contract (SmokeSpec asserts it), because the generator has
    * shipped all three across rounds:
    *   - LongType: epoch-nanos read via
    *     spark.sql.legacy.parquet.nanosAsLong=true. `div` is exact
    *     integer division (epoch-ns exceeds double's 2^53 exact range,
    *     so `/ 1000` in double could be off by one µs), matching
    *     DuckDB's ns→µs cast.
    *   - TimestampNTZType: parquet timestamp[us] with
    *     isAdjustedToUTC=false (Spark 4 infers NTZ). Cast to TIMESTAMP
    *     re-interprets the wall-clock in the session timezone — every
    *     graft session pins spark.sql.session.timeZone=UTC, so the
    *     epoch value is preserved exactly, matching DuckDB's naive
    *     TIMESTAMP epoch extraction.
    *   - TimestampType: already canonical.
    * Works on batch and streaming frames alike (pure projection). */
  def normalizeTs(raw: DataFrame): DataFrame =
    raw.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case org.apache.spark.sql.types.TimestampNTZType =>
        raw.withColumn("ts",
          col("ts").cast(org.apache.spark.sql.types.TimestampType))
      case _ => raw
    }

  /** Normalize an embeddings-shaped frame's `embedding` to the canonical
    * `array<float>` — the type every typed consumer compiles against
    * (Array[Float] encoders, the native Float vector expressions). A
    * generator drift to `list<double>` (or any numeric element) would
    * otherwise fail encoder resolution at analysis time in the whole
    * s/d-family — the same totality class as [[normalizeTs]]. Numeric
    * widening/narrowing is a cast; an already-float column passes
    * through untouched. */
  def normalizeEmbedding(raw: DataFrame): DataFrame =
    raw.schema("embedding").dataType match {
      case org.apache.spark.sql.types.ArrayType(
          org.apache.spark.sql.types.FloatType, _) => raw
      case org.apache.spark.sql.types.ArrayType(
          _: org.apache.spark.sql.types.NumericType, _) =>
        raw.withColumn("embedding", col("embedding").cast("array<float>"))
      case _ => raw
    }

  /** events.ts normalized to one canonical µs timestamp column
    * ([[normalizeTs]]) — makes every downstream window/dedup operator
    * engine-portable regardless of generator output shape.
    * ([[apply]] already normalizes; kept as the documented entry point
    * and for callers holding a raw frame.) */
  def events(spark: SparkSession, dir: String): DataFrame =
    apply(spark, dir, "events")
}
