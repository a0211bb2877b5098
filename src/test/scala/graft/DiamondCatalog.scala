package graft

import graft.model.{Catalog, GraftRelation, GraftType}

/** A synthetic diamond catalog, A → B, A → C, B → D, C → D, on a schema
  * that is NOT the testdata's: D is reached from A by two paths, and A
  * from D by two. Every type has one bigint id column.
  *
  *   ta: 1, 2
  *   tb: 10 → a 1, 11 → a 2
  *   tc: 20 → a 1, 21 → a 2
  *   td: 30 → (b 10, c 20), 31 → (b 10, c 21), 32 → (b 11, c 20)
  */
object DiamondCatalog {
  val catalog = new Catalog(
    types = Map(
      "ta" -> GraftType("ta", Seq("a_id")),
      "tb" -> GraftType("tb", Seq("b_id")),
      "tc" -> GraftType("tc", Seq("c_id")),
      "td" -> GraftType("td", Seq("d_id"))),
    relations = Seq(
      GraftRelation("ta", "tb", Seq("b_a")),
      GraftRelation("ta", "tc", Seq("c_a")),
      GraftRelation("tb", "td", Seq("d_b")),
      GraftRelation("tc", "td", Seq("d_c"))))

  /** Writes the four tables into a fresh temp dir and returns it. */
  def write(): String = {
    val spark = TestSpark.spark
    import spark.implicits._
    val tmp = java.nio.file.Files
      .createTempDirectory("graft-diamond").toString
    Seq(1L, 2L).toDF("a_id").write.parquet(s"$tmp/ta.parquet")
    Seq((10L, 1L), (11L, 2L)).toDF("b_id", "b_a")
      .write.parquet(s"$tmp/tb.parquet")
    Seq((20L, 1L), (21L, 2L)).toDF("c_id", "c_a")
      .write.parquet(s"$tmp/tc.parquet")
    Seq((30L, 10L, 20L), (31L, 10L, 21L), (32L, 11L, 20L))
      .toDF("d_id", "d_b", "d_c").write.parquet(s"$tmp/td.parquet")
    tmp
  }
}
