package graft.tools

/** Dev tool: run a single SparkEntry query against a scale-factor dir and
  * dump it to parquet (args: queryName sfDir outPath [explain]). */
object RunOne {
  def main(args: Array[String]): Unit = {
    val name = args(0)
    val sfDir = args(1)
    val outPath = args(2)
    val spark = graft.GraftSession.local(8)
    val df = graft.SparkEntry.queries(name)(spark, sfDir)
    if (args.length > 3 && args(3) == "explain") df.explain("formatted")
    df.coalesce(1).write.mode("overwrite").parquet(outPath)
    spark.stop()
  }
}
