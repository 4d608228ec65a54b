package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Native Catalyst expression: distinct character n-grams of a string
  * in one pass, SORTED ascending in UTF8String binary order (the
  * contract [[SortedInterSizeExpr]] relies on for its merge-walk
  * intersections — same order as `array_sort`).
  *
  * Replaces the hot-path composition
  * `array_distinct(transform(sequence(1, length(s)-n+1), i ->
  * substring(s, i, n)))` in the n-gram Jaccard dedup scan: the
  * composed form materializes a position array, evaluates a substring
  * expression tree per position, and re-scans the result for
  * distinctness — per-document O(len) short-lived arrays and
  * expression-eval overhead that dominates the gram-build stage at
  * sf0.1 (measured ~2 s of the scan). This expression walks the
  * UTF-8 bytes once, slices each window directly (same char units as
  * SQL `substring`), and dedups in a single hash set. Participates in
  * whole-stage codegen via a static call, like
  * [[RollingHashExpr]].
  */
case class NgramsExpr(child: Expression, n: Int) extends UnaryExpression {
  require(n >= 1, s"graft_ngrams: n must be >= 1, got $n")
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "graft_ngrams"

  override protected def nullSafeEval(input: Any): Any =
    NgramsExpr.grams(input.asInstanceOf[UTF8String], n)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.NgramsExpr.grams($c, $n)")

  override protected def withNewChildInternal(newChild: Expression): NgramsExpr =
    copy(child = newChild)
}

object NgramsExpr {
  /** Distinct n-grams over SQL character units (UTF-8 code points —
    * the same unit `substring`/`length` count, so the gram SET is
    * identical to the composed form), sorted ascending. Strings
    * shorter than n yield an empty array. */
  def grams(s: UTF8String, n: Int): ArrayData = {
    val bytes = s.getBytes
    val numChars = s.numChars()
    if (numChars < n) return new GenericArrayData(Array.empty[Any])
    // byte offset of each char start (+ end sentinel)
    val starts = new Array[Int](numChars + 1)
    var i = 0
    var b = 0
    while (i < numChars) {
      starts(i) = b
      b += UTF8String.numBytesForFirstByte(bytes(b))
      i += 1
    }
    starts(numChars) = bytes.length
    val seen = new java.util.HashSet[UTF8String]((numChars - n + 1) * 2)
    i = 0
    while (i <= numChars - n) {
      seen.add(UTF8String.fromBytes(bytes, starts(i), starts(i + n) - starts(i)))
      i += 1
    }
    val out = new Array[UTF8String](seen.size)
    seen.toArray(out)
    java.util.Arrays.sort(out.asInstanceOf[Array[Object]])
    new GenericArrayData(out.asInstanceOf[Array[Any]])
  }
}

object Ngrams {
  def ngrams(c: Column, n: Int): Column =
    org.apache.spark.sql.functions.call_function(
      "graft_ngrams", c, org.apache.spark.sql.functions.lit(n))
}
