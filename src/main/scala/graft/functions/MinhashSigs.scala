package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, LongType}

/** Native Catalyst expression: all `Portable.NumHashes` MinHash
  * signature values from an array of (mod-P) shingle hashes in ONE
  * pass.
  *
  * Replaces the composed form — `NumHashes` separate
  * `array_min(transform(hs, h -> (Aj*h + Bj) % P))` columns, i.e. 16
  * scans and 16 transformed-array allocations per document — with a
  * single walk keeping 16 running minima. Math is identical 64-bit
  * integer arithmetic (`A(j) < P`, `h < P`, so `A*h + B < P² + P`
  * fits a signed long exactly like the SQL bigint form), null
  * elements are skipped exactly like `array_min`, and an all-null /
  * empty input yields null signature values — so band keys are
  * byte-identical and the DuckDB oracles are unchanged. Participates
  * in whole-stage codegen via a static call. */
case class MinhashSigsExpr(child: Expression) extends UnaryExpression {
  override def dataType: DataType = ArrayType(LongType, containsNull = true)
  override def prettyName: String = "graft_minhash_sigs"

  override protected def nullSafeEval(input: Any): Any =
    MinhashSigsExpr.sigs(input.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.MinhashSigsExpr.sigs($c)")

  override protected def withNewChildInternal(newChild: Expression): MinhashSigsExpr =
    copy(child = newChild)
}

object MinhashSigsExpr {
  private val A: Array[Long] = graft.Portable.A.toArray
  private val B: Array[Long] = graft.Portable.B.toArray
  private val P: Long = graft.Portable.P

  def sigs(arr: ArrayData): ArrayData = {
    val k = A.length
    val mins = Array.fill(k)(Long.MaxValue)
    var any = false
    val n = arr.numElements()
    var i = 0
    while (i < n) {
      if (!arr.isNullAt(i)) { // array_min skips nulls
        any = true
        val h = arr.getLong(i)
        var j = 0
        while (j < k) {
          val v = (A(j) * h + B(j)) % P
          if (v < mins(j)) mins(j) = v
          j += 1
        }
      }
      i += 1
    }
    if (!any) new GenericArrayData(Array.fill[Any](k)(null))
    else new GenericArrayData(mins.map(Long.box(_): Any))
  }
}

object MinhashSigs {
  def sigs(hashes: Column): Column =
    org.apache.spark.sql.functions.call_function("graft_minhash_sigs", hashes)
}
