package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the DuckDB compare. Gates that throw are
  * printed by name, and the run exits 1 after writing oracle_sql.json. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    // Pin the sf tag BEFORE any gate/oracle access: the exported-model
    // oracles (s07/s08/s09/st05) embed gates.Shared.gateModelSqlPath,
    // which must name the same per-sf dir the gates write this run.
    System.setProperty("graft.gate.sfTag", new java.io.File(sfDir).getName)
    val spark = GraftSession.local(GraftSession.cpus(4))
    new java.io.File(outDir).mkdirs()
    // Delete each query's target dir up front AND on failure: AQE can fail a
    // query in stage materialization before the overwrite clears the dir, and
    // a stale dump from a previous run would then masquerade as a pass.
    // SparkEntry.querySubset: optional SPARK_GRAFT_ONLY targeted re-dump
    // subset (absent = all, so driver gate runs always dump everything).
    val failed = SparkEntry.querySubset.toSeq.flatMap { case (name, fn) =>
      val target = new java.io.File(s"$outDir/$name")
      graft.util.deleteTree(target)
      try {
        fn(spark, sfDir).coalesce(1).write.mode("overwrite")
          .parquet(target.getPath)
        None
      } catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
        graft.util.deleteTree(target)
        Some(name)
      }
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
    if (failed.nonEmpty) {
      System.err.println(s"[verify] ${failed.size} gate(s) failed: " +
        failed.sorted.mkString(", "))
      sys.exit(1)
    }
  }
}
