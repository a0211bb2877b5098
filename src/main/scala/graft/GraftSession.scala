package graft

import org.apache.spark.sql.SparkSession

/** The one local session every graft main and spec runs under, so a CLI
  * result, a Verify dump, a Bench timing and a spec assertion all come
  * from the same engine settings. */
object GraftSession {
  /** `SPARK_GRAFT_CPUS` if set, else the caller's default core count. */
  def cpus(default: Int): Int =
    sys.env.get("SPARK_GRAFT_CPUS").fold(default)(_.toInt)

  def local(cpus: Int): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      // events.parquet carries ns timestamps; read as long and normalize
      // in graft.sources.Tables.events
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.adaptive.enabled", "true")
      // typed-buffer aggregates (datasketches hll_sketch_agg, k09) fall
      // back to SORT-BASED aggregation past 128 distinct groups per task
      // by default — k09's per-(series, day) pass holds 210, and at the
      // probe's third decade the fallback sorted the whole corpus (2.2x
      // wall, BENCHLOG r18). Raise the threshold: 4096 sketch buffers
      // (~4-16 KB dense each at lgK<=12) is tens of MB per task, far
      // under executor memory at 32 partitions.
      .config(graft.util.OhaHeadroom.Key, "4096")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
