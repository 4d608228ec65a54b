package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{DataType, LongType}

/** Native Catalyst expression: SimHash signature (Charikar 2002) from
  * an array of 64-bit token hashes in ONE pass.
  *
  * Replaces the hot-path composition
  * `aggregate(sequence(0, bits-1), 0L, (acc, i) -> acc +
  * IF(2*size(filter(hs, ...)) > size(hs), 1<<i, 0))`, which scans the
  * hash array once PER BIT (60 passes per document, each allocating a
  * filtered array). This expression keeps 60 counters and walks the
  * array once. Bit semantics are identical to the composed form —
  * per-bit majority over non-null hashes, denominator including null
  * elements exactly like `size(hs)` — so signatures are bit-equal and
  * the DuckDB oracles are unchanged. Participates in whole-stage
  * codegen via a static call, like [[RollingHashExpr]].
  */
case class SimhashExpr(child: Expression, bits: Int) extends UnaryExpression {
  require(bits >= 1 && bits <= 63, s"graft_simhash: bits must be in [1,63], got $bits")
  override def dataType: DataType = LongType
  override def prettyName: String = "graft_simhash"

  override protected def nullSafeEval(input: Any): Any =
    SimhashExpr.simhash(input.asInstanceOf[ArrayData], bits)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.SimhashExpr.simhash($c, $bits)")

  override protected def withNewChildInternal(newChild: Expression): SimhashExpr =
    copy(child = newChild)
}

object SimhashExpr {
  def simhash(arr: ArrayData, bits: Int): Long = {
    val n = arr.numElements()
    val counts = new Array[Int](bits)
    var i = 0
    while (i < n) {
      // null elements stay in the denominator (size(hs) semantics)
      // but never vote — matching the composed filter() form
      if (!arr.isNullAt(i)) {
        val h = arr.getLong(i)
        var b = 0
        while (b < bits) {
          counts(b) += ((h >>> b) & 1L).toInt
          b += 1
        }
      }
      i += 1
    }
    var sig = 0L
    var b = 0
    while (b < bits) {
      if (2 * counts(b) > n) sig |= (1L << b)
      b += 1
    }
    sig
  }
}

object Simhash {
  def simhash(hashes: Column, bits: Int): Column =
    org.apache.spark.sql.functions.call_function(
      "graft_simhash", hashes, org.apache.spark.sql.functions.lit(bits))
}
