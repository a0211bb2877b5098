package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

object TestSpark {
  lazy val spark: SparkSession = GraftSession.local(8)
  val sf = "/root/testdata/sf0.001"
}

class SmokeSpec extends AnyFunSuite {
  import graft.sources.Tables
  lazy val spark = TestSpark.spark

  test("all tables readable") {
    for (n <- Tables.names) {
      val df = Tables(spark, TestSpark.sf, n)
      assert(df.count() > 0, s"table $n empty")
    }
  }

  test("events ts normalizes to timestamp") {
    val ev = Tables.events(spark, TestSpark.sf)
    val t = ev.schema("ts").dataType.typeName
    assert(t == "timestamp", s"got $t")
    assert(ev.selectExpr("min(ts)").collect()(0).get(0) != null)
  }

  // The generator has shipped events.ts as epoch-nanos int64 (r1-r10) and
  // as timestamp[us] NTZ (r11) — normalizeTs must be TOTAL over every
  // parquet shape it could ship, preserving the epoch instant exactly.
  // Synthesizes all three shapes through a real parquet round-trip so the
  // spec fails loudly if a future data-shape drift reopens the r11 hole.
  test("ts normalization is total: ns-long, µs-NTZ and LTZ parquet " +
      "shapes all yield the same epoch instant") {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.types._
    import spark.implicits._
    val epochUs = 1735689600123456L // 2025-01-01T00:00:00.123456Z
    val dir = java.nio.file.Files
      .createTempDirectory("graft-ts-shapes").toString

    // shape 1: epoch-nanos as raw int64 (read back as LongType under
    // spark.sql.legacy.parquet.nanosAsLong sessions; the column IS long)
    Seq(epochUs * 1000L).toDF("ts").write.mode("overwrite")
      .parquet(s"$dir/ns_long")
    // shape 2: TIMESTAMP_NTZ — parquet timestamp[us] isAdjustedToUTC=false
    Seq(epochUs).toDF("us")
      .select(timestamp_micros(col("us")).cast(TimestampNTZType).as("ts"))
      .write.mode("overwrite").parquet(s"$dir/ntz")
    // shape 3: LTZ — parquet timestamp[us] isAdjustedToUTC=true
    Seq(epochUs).toDF("us")
      .select(timestamp_micros(col("us")).as("ts"))
      .write.mode("overwrite").parquet(s"$dir/ltz")

    for ((shape, expectType) <- Seq(
        ("ns_long", LongType), ("ntz", TimestampNTZType),
        ("ltz", TimestampType))) {
      val raw = spark.read.parquet(s"$dir/$shape")
      assert(raw.schema("ts").dataType == expectType,
        s"$shape read-back type drifted: ${raw.schema("ts").dataType}")
      val norm = Tables.normalizeTs(raw)
      assert(norm.schema("ts").dataType == TimestampType,
        s"$shape not normalized to TIMESTAMP")
      val gotUs = norm.select(unix_micros(col("ts"))).as[Long].head()
      assert(gotUs == epochUs,
        s"$shape epoch drifted: got $gotUs want $epochUs")
      // the downstream contract that broke in r11: epochSec must analyze
      val sec = norm.select(util.epochSec(col("ts"))).as[Long].head()
      assert(sec == epochUs / 1000000L, s"$shape epochSec: $sec")
    }
  }

  test("embedding normalization is total: float-list, double-list and " +
      "int-list parquet shapes all normalize to array<float>") {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.types._
    import spark.implicits._
    val dir = java.nio.file.Files
      .createTempDirectory("graft-emb-shapes").toString
    Seq((1L, Seq(1.5f, -2.0f, 0.25f), 0))
      .toDF("vec_id", "embedding", "label")
      .write.mode("overwrite").parquet(s"$dir/flt")
    Seq((1L, Seq(1.5d, -2.0d, 0.25d), 0))
      .toDF("vec_id", "embedding", "label")
      .write.mode("overwrite").parquet(s"$dir/dbl")
    Seq((1L, Seq(1, -2, 3), 0))
      .toDF("vec_id", "embedding", "label")
      .write.mode("overwrite").parquet(s"$dir/int")
    for (shape <- Seq("flt", "dbl", "int")) {
      val norm = Tables.normalizeEmbedding(spark.read.parquet(s"$dir/$shape"))
      assert(norm.schema("embedding").dataType ==
        ArrayType(FloatType, containsNull = true) ||
        norm.schema("embedding").dataType ==
        ArrayType(FloatType, containsNull = false),
        s"$shape not normalized: ${norm.schema("embedding").dataType}")
      // the typed-consumer contract: Array[Float] encoders must resolve
      val v = norm.select(col("embedding")).as[Array[Float]].head()
      assert(v.length == 3, s"$shape values: ${v.toSeq}")
      // and the native Float vector kernel must evaluate
      val c = norm.select(graft.functions.Vectors.cosine(
        col("embedding"), col("embedding"))).as[Double].head()
      assert(math.abs(c - 1.0) < 1e-6, s"$shape cosine: $c")
    }
  }
}
