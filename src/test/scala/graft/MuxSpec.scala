package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.sources.Mux

/** Mux member semantics (kcidb/db/mux.py analog): every member receives
  * the full batch at ITS schema version; queries serve from the first
  * member; member paths must be distinct. */
class MuxSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  private val dir = TestSpark.sf

  private def freshMembers() = {
    val root = java.nio.file.Files.createTempDirectory("graft-mux")
    Seq(Mux.Member(s"$root/m0", (2, 1)), Mux.Member(s"$root/m1", (1, 0)))
  }

  test("load fans the batch to every member at its own version; " +
      "query serves the first member") {
    val batch = graft.sources.Tables.events(spark, dir)
      .select("event_id", "user_id", "event_type", "value")
    val members = freshMembers()
    Mux.load(batch, gates.QGates.eventsSchematic, from = (1, 0), members,
      mode = "overwrite")
    val m0 = Mux.query(spark, members)
    val m1 = spark.read.parquet(members(1).path)
    // member schemas follow their declared versions
    assert(m0.columns.toSet ==
      Set("event_id", "user_id", "event_type", "value", "status", "score"),
      s"v2.1 member must carry the upgraded columns: ${m0.columns.toSeq}")
    assert(m1.columns.toSet ==
      Set("event_id", "user_id", "event_type", "value"),
      s"v1.0 member must stay at the legacy shape: ${m1.columns.toSeq}")
    // both members hold exactly the batch (same rows on shared columns)
    val key = Seq("event_id", "user_id", "event_type", "value")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select(key.map(col): _*).collect()
        .map(_.toSeq).toSet
    assert(rows(m0) == rows(batch) && rows(m1) == rows(batch),
      "every member must receive the full batch")
    // the v2.1 upgrade derived its columns by the schematic's rules
    assert(m0.filter(col("event_type") === "error" &&
      col("status") =!= "FAIL").count() == 0)
    assert(m0.filter(col("score") =!= col("value")).count() == 0,
      "upgrade-from-1.0 backfills score = value")
  }

  test("member paths must be distinct; downgrade members are rejected") {
    val batch = spark.range(3).select(col("id").as("event_id"),
      col("id").as("user_id"), lit("click").as("event_type"),
      lit(1.0).as("value"))
    val p = java.nio.file.Files.createTempDirectory("graft-mux-dup")
    intercept[IllegalArgumentException] {
      Mux.load(batch, gates.QGates.eventsSchematic, from = (1, 0),
        Seq(Mux.Member(s"$p/same", (2, 1)), Mux.Member(s"$p/same", (1, 0))))
    }
    // a member OLDER than the data has no downgrade chain
    intercept[IllegalArgumentException] {
      Mux.load(batch, gates.QGates.eventsSchematic, from = (2, 0),
        Seq(Mux.Member(s"$p/old", (1, 0))), mode = "overwrite")
    }
  }
}
