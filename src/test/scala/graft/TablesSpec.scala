package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.model.{Catalog, GraftType}
import graft.sources.Tables

/** The per-session relation cache in [[Tables]]: free for unchanged dirs,
  * and never stale after a dir is rewritten in place. */
class TablesSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  test("a Catalog read after an in-place dir rewrite sees the new rows") {
    val wh = java.nio.file.Files.createTempDirectory("graft-tables").toFile
    try {
      val path = new java.io.File(wh, "orders.parquet")
      val tmp = new java.io.File(wh, ".orders.tmp")
      def write(ids: Range): Unit = {
        spark.range(ids.start, ids.end).select(col("id").as("o_orderkey"))
          .write.mode("overwrite").parquet(tmp.getPath)
        graft.util.deleteTree(path)
        assert(tmp.renameTo(path))
      }
      val cat = new Catalog(
        Map("orders" -> GraftType("orders", Seq("o_orderkey"))), Seq.empty)
      def keys() = cat.load(spark, wh.getPath, "orders")
        .collect().map(_.getLong(0)).sorted.toSeq

      write(0 until 3)
      assert(keys() == Seq(0L, 1L, 2L))
      val first = Tables.raw(spark, wh.getPath, "orders")
      assert(Tables.raw(spark, wh.getPath, "orders") eq first,
        "an unchanged dir must reuse the cached relation")
      // the Warehouse idiom: write a sibling dir, swap it in
      write(10 until 14)
      assert(keys() == Seq(10L, 11L, 12L, 13L))
      assert(!(Tables.raw(spark, wh.getPath, "orders") eq first))
    } finally graft.util.deleteTree(wh)
  }
}
