package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Synthesizes a 10× scale probe directory from an existing testdata SF
  * (builder-side tool, not part of the driver contract): fact tables get
  * `copies` deterministic copies under shifted ids, dimensions copy
  * verbatim, and the copies are PERTURBED so the workload SHAPE is
  * preserved rather than its degeneracy amplified:
  *
  *  - documents: every token of copy k>0 gets an alnum suffix `xk` —
  *    injective per copy, so within-copy shingle/near-dup structure is
  *    preserved EXACTLY while cross-copy docs share no shingles (without
  *    this, every doc and its 9 clones form jaccard-1.0 pairs and the
  *    near-dup output grows quadratically by construction, which would
  *    measure the synthetic data, not the operator).
  *  - embeddings: copy k applies per-dimension sign flips derived from
  *    murmur3(k, i) — an orthogonal transform, so within-copy cosines are
  *    BIT-identical while cross-copy cosines collapse toward 0 (random
  *    sign sums), keeping kNN/near-dup structure per copy.
  *  - events/orders/lineitem: id-shifted copies (o_orderkey/l_orderkey
  *    share the shift so joins stay referentially intact; user_id shifts
  *    so per-key streaming state grows in KEYS, not per-key density).
  *  - copy 0 is byte-identical to the source, so fixed-seed gate queries
  *    (probe ids < 100, q22/q36 seeds, %10 eval splits) keep their
  *    semantics.
  */
object ScaleUp {
  def main(args: Array[String]): Unit = {
    val Array(srcDir, outDir) = args.take(2)
    val copies = if (args.length > 2) args(2).toInt else 10
    val spark = graft.GraftSession.local(graft.GraftSession.cpus(32))

    def copied(t: String): DataFrame =
      spark.read.parquet(s"$srcDir/$t.parquet")
        .select(col("*"), explode(sequence(lit(0), lit(copies - 1))).as("k"))

    def write(t: String)(df: DataFrame): Unit =
      df.drop("k").write.mode("overwrite").parquet(s"$outDir/$t.parquet")

    // dimensions: verbatim
    for (t <- Seq("region", "nation", "customer", "supplier", "part"))
      spark.read.parquet(s"$srcDir/$t.parquet")
        .write.mode("overwrite").parquet(s"$outDir/$t.parquet")

    val OFF = 10000000L // id shift per copy, far above any source max id

    write("documents")(copied("documents")
      .withColumn("doc_id", col("doc_id") + col("k") * OFF)
      .withColumn("text", when(col("k") === 0, col("text"))
        .otherwise(regexp_replace(col("text"), lit("(\\S+)"),
          concat(lit("$1x"), col("k").cast("string"))))))

    write("embeddings")(copied("embeddings")
      .withColumn("vec_id", col("vec_id") + col("k") * OFF)
      .withColumn("embedding", when(col("k") === 0, col("embedding"))
        .otherwise(expr(
          "transform(embedding, (x, i) -> " +
            "CASE WHEN pmod(hash(k, i), 2) = 0 THEN x ELSE -x END)"))))

    write("events")(copied("events")
      .withColumn("event_id", col("event_id") + col("k") * OFF)
      .withColumn("user_id", col("user_id") + col("k") * OFF))

    write("orders")(copied("orders")
      .withColumn("o_orderkey", col("o_orderkey") + col("k") * OFF))

    write("lineitem")(copied("lineitem")
      .withColumn("l_orderkey", col("l_orderkey") + col("k") * OFF))

    spark.stop()
  }
}
