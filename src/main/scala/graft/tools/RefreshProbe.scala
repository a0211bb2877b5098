package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Octave probe for the incremental-maintenance REFRESH paths (VERDICT
  * r14 item 8): q45's rollup merge (operators/Ivm) and e04's AUC state
  * fold (operators/Eval) claim O(|delta| + |grid|) refresh BY
  * CONSTRUCTION — the base is read back as bounded state rows, never
  * rescanned. This measures it: the base state is fit+persisted from a
  * GROWN base dir (10x/30x ScaleUp octaves), then the refresh folds a
  * FIXED delta taken from the smallest dir. If the construction holds,
  * fit time grows with the base while refresh time stays flat.
  *
  * Args: deltaDir baseDir1 [baseDir2 ...] — prints one JSON line with
  * per-dir {fit_s, refresh_s, state_rows} for both operators.
  */
object RefreshProbe {
  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: RefreshProbe deltaDir baseDir...")
    val deltaDir = args(0)
    val baseDirs = args.drop(1).toSeq
    val spark = graft.GraftSession.local(graft.GraftSession.cpus(32))

    def timed(f: => Unit): Double = {
      val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
    }
    def noop(df: DataFrame): Unit =
      df.write.format("noop").mode("overwrite").save()

    import graft.operators.{Eval, Ivm}
    import graft.sim.ModelStore
    val split = lit(graft.SparkEntry.q45Split).cast("timestamp")
    def keyed(df: DataFrame): DataFrame =
      df.select(col("event_type"),
        date_format(col("ts"), "yyyy-MM-dd").as("day"), col("value"))
    def aucSt(df: DataFrame): DataFrame =
      Eval.aucState(df, graft.text.TextOps.wordCount(col("text")),
        col("lang") === "en")

    // the FIXED deltas: the smallest dir's post-split events / %4==3 docs
    val evDelta = graft.sources.Tables.events(spark, deltaDir)
      .filter(col("ts") >= split)
    val docDelta = graft.sources.Tables(spark, deltaDir, "documents")
      .filter(col("doc_id") % 4 === 3)

    val results = baseDirs.map { baseDir =>
      val tag = baseDir.replaceAll("[^A-Za-z0-9]", "_")
      val evBase = graft.sources.Tables.events(spark, baseDir)
        .filter(col("ts") < split)
      val docBase = graft.sources.Tables(spark, baseDir, "documents")
        .filter(col("doc_id") % 4 =!= 3)

      val q45Path = s"target/refresh_probe/$tag/rollup_state"
      val fitQ45 = timed {
        ModelStore.save(Ivm.rollupState(keyed(evBase),
          Seq(col("event_type"), col("day")), col("value")).coalesce(1),
          "rollup_state", q45Path)
      }
      val q45Rows = spark.read.parquet(q45Path).count()
      val refQ45 = timed {
        noop(Ivm.merge(spark.read.parquet(q45Path),
          Ivm.rollupState(keyed(evDelta),
            Seq(col("event_type"), col("day")), col("value")),
          Seq("event_type", "day")))
      }

      val e04Path = s"target/refresh_probe/$tag/auc_state"
      val fitE04 = timed {
        ModelStore.save(aucSt(docBase).coalesce(1), "auc_state", e04Path)
      }
      val e04Rows = spark.read.parquet(e04Path).count()
      val refE04 = timed {
        noop(Eval.aucFromState(Eval.aucMergeStates(
          ModelStore.load(spark, "auc_state", e04Path), aucSt(docDelta))))
      }
      f"""{"base":"$baseDir","q45_fit_s":$fitQ45%.3f,""" +
        f""""q45_state_rows":$q45Rows,"q45_refresh_s":$refQ45%.3f,""" +
        f""""e04_fit_s":$fitE04%.3f,"e04_state_rows":$e04Rows,""" +
        f""""e04_refresh_s":$refE04%.3f}"""
    }
    println(s"""{"probe":"refresh","delta":"$deltaDir",""" +
      s""""bases":[${results.mkString(",")}]}""")
    spark.stop()
  }
}
