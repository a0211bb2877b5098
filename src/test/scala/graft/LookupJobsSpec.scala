package graft

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite
import graft.model.TestCatalog
import graft.query.PatternQuery
import graft.util.RunMetrics

/** Spark jobs per request, and classes compiled per request, for the
  * request shapes of perfbench's `lookup` workload, on sf0.001. A request
  * is the API call plus collecting every frame it returns. The second
  * request of a shape has other ids, and the walks it runs cross int refs
  * (c_nationkey, n_regionkey) as well as bigint ones. */
class LookupJobsSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._
  private val dir = TestSpark.sf
  private val cat = TestCatalog.catalog

  private def request(m: => Map[String, DataFrame]): Unit =
    m.values.foreach(_.collect())

  private def compiled(body: => Unit): Long = {
    val before = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    body
    CodegenMetrics.METRIC_COMPILATION_TIME.getCount - before
  }

  private val shapes: Seq[(String, Int, Seq[Long] => Map[String, DataFrame],
      Seq[Long], Seq[Long])] = Seq(
    ("children of one customer", 5, ids => cat.childrenClosure(spark, dir,
      Map("customer" -> ids.toDF("c_custkey"))), Seq(21L), Seq(22L)),
    (">customer[..]>orders>lineitem#", 4, ids => PatternQuery.run(spark, dir,
      cat, s">customer[${ids.mkString(";")}]>orders>lineitem#"),
      Seq(21L, 22L), Seq(23L)),
    (">orders[..]<*#", 6, ids => PatternQuery.run(spark, dir, cat,
      s">orders[${ids.mkString(";")}]<*#"), Seq(1L, 2L), Seq(3L)),
    ("the family of one order", 16, ids => cat.closure(spark, dir,
      Map("orders" -> ids.toDF("o_orderkey")), parents = true,
      children = true), Seq(1L), Seq(3L)))

  for ((name, bound, run, a, b) <- shapes)
    test(s"$name: at most $bound jobs, and new ids compile no new code") {
      request(run(a)) // loads the tables and compiles the request's classes
      val jobs = RunMetrics.measure(spark)(request(run(a)))._2.jobs
      assert(jobs <= bound, s"$jobs jobs")
      assert(compiled(request(run(b))) == 0)
    }
}
