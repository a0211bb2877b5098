package graft.gates

import org.apache.spark.sql.catalyst.expressions.XXH64
import org.apache.spark.unsafe.types.UTF8String
import org.scalatest.funsuite.AnyFunSuite

/** The oracle's engine-free XXH64 ([[EGates.xxh64Utf8]]), which supplies
  * the string stage of e08/st15's bootstrap coin. */
class XxHashSpec extends AnyFunSuite {
  test("xxh64Utf8 matches the published vector and Spark's XXH64") {
    assert(EGates.xxh64Utf8("", 0L) == 0xEF46DB3751D8E999L)
    val rnd = new scala.util.Random(13)
    // every length class of the tail walk and the 32-byte stripes, with
    // multi-byte UTF-8 characters mixed in
    for (n <- (0 to 80) ++ Seq(127, 128, 1000); seed <- Seq(0L, 42L, -7L)) {
      val s = Iterator.continually(
        if (rnd.nextInt(4) == 0) rnd.nextPrintableChar().toString
        else (0x80 + rnd.nextInt(0x3000)).toChar.toString).take(n).mkString
      assert(EGates.xxh64Utf8(s, seed) ==
        XXH64.hashUTF8String(UTF8String.fromString(s), seed), s"'$s' $seed")
    }
  }
}
