package graft

import org.scalatest.funsuite.AnyFunSuite

/** Pins every setting [[GraftSession.local]] applies, so the mains and
  * specs that share it cannot drift apart again. */
class GraftSessionSpec extends AnyFunSuite {

  test("local(n) applies the Bench/Verify session settings") {
    val spark = GraftSession.local(8)
    assert(spark eq TestSpark.spark, "one session per JVM")
    assert(spark.sparkContext.master == "local[8]")
    val conf = spark.conf
    assert(conf.get("spark.sql.shuffle.partitions") == "8")
    assert(conf.get("spark.sql.session.timeZone") == "UTC")
    assert(conf.get("spark.sql.legacy.parquet.nanosAsLong") == "true")
    assert(conf.get("spark.sql.adaptive.enabled") == "true")
    assert(conf.get(graft.util.OhaHeadroom.Key) == "4096")
    assert(spark.sparkContext.getConf.get("spark.sql.extensions") ==
      "graft.GraftExtensions")
    assert(spark.sparkContext.getConf.get("spark.ui.enabled") == "false")
    assert(spark.sparkContext.uiWebUrl.isEmpty)
    assert(org.apache.logging.log4j.LogManager.getRootLogger.getLevel ==
      org.apache.logging.log4j.Level.WARN)
    // the extension is live: its native SQL functions resolve
    assert(spark.sql("SELECT dot_product(array(1.0f, 2.0f), " +
      "array(3.0f, 4.0f))").head().getDouble(0) == 11.0)
  }
}
