package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression, UnsafeArrayData, XXH64}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.hash.Murmur3_x86_32
import org.apache.spark.unsafe.types.UTF8String

/** A native expression over an `array<string>` column whose per-row work
  * is one call into [[MinHash]], from interpreted and generated code
  * alike. */
abstract class StringArrayKernel extends UnaryExpression {
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case other =>
      TypeCheckResult.DataTypeMismatch(
        errorSubClass = "UNEXPECTED_INPUT_TYPE",
        messageParameters = Map(
          "paramIndex" -> "1",
          "requiredType" -> "ARRAY<STRING>",
          "inputSql" -> child.sql,
          "inputType" -> other.sql))
  }
}

/** The DISTINCT word n-gram set of a token array: gram p joins tokens
  * p..p+n-1 with single spaces, for every position p = 1..max(|toks| −
  * n + 1, 1), so a document shorter than n tokens is one whole-document
  * gram and an empty token array is one empty gram (what
  * `Dedup.positionalGrams` explodes). Grams keep their first-occurrence
  * order.
  *
  * The SQL formulation (`array_distinct(transform(sequence(...), i ->
  * concat_ws(' ', slice(toks, i + 1, n))))`) is the higher-order-function
  * shape Catalyst inlines the tokenizer into; this kernel reads the token
  * array once per row. */
case class WordShingles(child: Expression, n: Int) extends StringArrayKernel {
  require(n > 0, s"shingle width must be positive: $n")

  override def prettyName: String = "word_shingles"
  override def dataType: DataType = ArrayType(StringType, containsNull = false)

  override def nullSafeEval(toks: Any): Any =
    MinHash.shingles(toks.asInstanceOf[ArrayData], n)

  override protected def doGenCode(ctx: CodegenContext,
                                   ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, toks => s"${MinHash.Obj}.shingles($toks, $n)")

  override protected def withNewChildInternal(c: Expression): WordShingles =
    copy(child = c)
}

/** k-permutation MinHash signature of a shingle set: sig[s] = min over
  * the set's grams g of h1(g) XOR rotl(h2(g), s), with h1 = Spark's
  * `hash(g)` (murmur3, seed 42) widened to long and h2 = `xxhash64(g)`
  * (seed 42). Each gram is hashed twice and the k permutations are
  * bitwise mixes. A null gram hashes as Spark hashes a null (the seed).
  * An empty set has no signature (null). */
case class MinHashSignature(child: Expression, k: Int)
    extends StringArrayKernel {
  require(k > 0, s"signature length must be positive: $k")

  override def prettyName: String = "minhash_signature"
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = true

  override def nullSafeEval(sh: Any): Any =
    MinHash.signature(sh.asInstanceOf[ArrayData], k)

  override protected def doGenCode(ctx: CodegenContext,
                                   ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, sh =>
      s"""${ev.value} = ${MinHash.Obj}.signature($sh, $k);
         |${ev.isNull} = ${ev.value} == null;""".stripMargin)

  override protected def withNewChildInternal(c: Expression): MinHashSignature =
    copy(child = c)
}

/** The loops behind [[WordShingles]] and [[MinHashSignature]]. */
object MinHash {
  private[functions] val Obj: String =
    MinHash.getClass.getName.stripSuffix("$") + "$.MODULE$"

  /** Seed of Spark's `hash` and `xxhash64`. */
  private val Seed = 42
  private val Space = UTF8String.fromString(" ")

  def shingles(toks: ArrayData, n: Int): ArrayData = {
    val len = toks.numElements()
    val set = new java.util.LinkedHashSet[UTF8String]()
    var p = 0
    while (p < math.max(len - (n - 1), 1)) {
      val gram = new Array[UTF8String](math.min(p + n, len) - p)
      var i = 0
      while (i < gram.length) {
        gram(i) = toks.getUTF8String(p + i)
        i += 1
      }
      // concat_ws semantics: null tokens are skipped; the result is a
      // fresh buffer, so it never aliases the input row
      set.add(UTF8String.concatWs(Space, gram: _*))
      p += 1
    }
    new GenericArrayData(set.toArray.asInstanceOf[Array[Any]])
  }

  def signature(sh: ArrayData, k: Int): ArrayData = {
    val m = sh.numElements()
    if (m == 0) return null
    val sig = Array.fill(k)(Long.MaxValue)
    var i = 0
    while (i < m) {
      var h1 = Seed.toLong
      var h2 = Seed.toLong
      if (!sh.isNullAt(i)) {
        val g = sh.getUTF8String(i)
        h1 = Murmur3_x86_32.hashUnsafeBytes(g.getBaseObject, g.getBaseOffset,
          g.numBytes, Seed).toLong
        h2 = XXH64.hashUnsafeBytes(g.getBaseObject, g.getBaseOffset,
          g.numBytes, Seed.toLong)
      }
      var s = 0
      while (s < k) {
        val v = h1 ^ java.lang.Long.rotateLeft(h2, s)
        if (v < sig(s)) sig(s) = v
        s += 1
      }
      i += 1
    }
    UnsafeArrayData.fromPrimitiveArray(sig)
  }
}
