package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}
import graft.functions.{CosineSim, DotProduct}

/** Session extension registering graft's native expressions as SQL
  * functions, so `spark.sql("SELECT cosine_sim(a, b) ...")` works in any
  * session built with `spark.sql.extensions=graft.GraftExtensions`
  * ([[GraftSession.local]] sets it).
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  private def fn2(name: String, clazz: String,
                  build: (Expression, Expression) => Expression) =
    (new FunctionIdentifier(name),
      new ExpressionInfo(clazz, name),
      (children: Seq[Expression]) => {
        require(children.length == 2, s"$name takes exactly 2 arguments")
        build(children(0), children(1))
      })

  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectFunction(fn2("cosine_sim",
      classOf[CosineSim].getName, CosineSim.apply))
    ext.injectFunction(fn2("dot_product",
      classOf[DotProduct].getName, DotProduct.apply))
    // srp_signatures(vec, nTables, bits): banded LSH signatures
    ext.injectFunction((new FunctionIdentifier("srp_signatures"),
      new ExpressionInfo(classOf[graft.functions.SrpSignatures].getName,
        "srp_signatures"),
      (children: Seq[Expression]) => {
        require(children.length == 3,
          "srp_signatures takes (vector, nTables, bits)")
        def intLit(e: Expression, what: String): Int = e match {
          case org.apache.spark.sql.catalyst.expressions.Literal(v: Int, _) => v
          case _ => throw new IllegalArgumentException(
            s"srp_signatures: $what must be an integer literal")
        }
        graft.functions.SrpSignatures(children(0),
          intLit(children(1), "nTables"), intLit(children(2), "bits"))
      }))
    // simhash_agg(hash): 64-bit SimHash aggregate over token hashes
    ext.injectFunction((new FunctionIdentifier("simhash_agg"),
      new ExpressionInfo(classOf[graft.functions.SimHashAgg].getName,
        "simhash_agg"),
      (children: Seq[Expression]) => {
        require(children.length == 1, "simhash_agg takes (tokenHash)")
        graft.functions.SimHashAgg(children.head).toAggregateExpression()
      }))
  }
}
