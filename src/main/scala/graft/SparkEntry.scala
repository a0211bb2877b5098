package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.gates.Gate

/** Driver contract: one `queries` entry per operator in SURVEY.md §2, and
  * for each the DuckDB SQL its output must hash-match. Both maps come from
  * the one gate list in [[graft.gates.Gate.all]]. */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    queries("q01_summary_agg")(spark, "/root/testdata/sf0.001")

  def queries: Map[String, (SparkSession, String) => DataFrame] =
    Gate.all.map(g => g.name -> g.build).toMap

  /** [[queries]] filtered by the builder-side SPARK_GRAFT_ONLY env var
    * (comma-separated keys; absent = all — the driver never sets it).
    * Shared by Bench and Verify; unknown keys fail loudly instead of
    * silently selecting nothing. */
  private[graft] def querySubset
      : Map[String, (SparkSession, String) => DataFrame] =
    sys.env.get("SPARK_GRAFT_ONLY") match {
      case None => queries
      case Some(s) =>
        val want = s.split(",").map(_.trim).filter(_.nonEmpty).toSet
        require(want.nonEmpty,
          "SPARK_GRAFT_ONLY is set but names no queries (empty/whitespace)")
        val unknown = want -- queries.keySet
        require(unknown.isEmpty,
          s"SPARK_GRAFT_ONLY names unknown queries: ${unknown.mkString(",")}")
        queries.filter { case (k, _) => want(k) }
    }

  /** DuckDB-equivalent SQL per query (same parquet tables registered under
    * their bare names), rendered per call. */
  def oracleSql: Map[String, String] =
    Gate.all.map(g => g.name -> g.oracleSql).toMap
}
