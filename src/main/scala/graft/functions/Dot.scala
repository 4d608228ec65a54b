package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType}

/** Native Catalyst expression: the double-array dot product
  * `graft_dot(a, b)` ≡
  * `aggregate(zip_with(a, b, (x, y) -> x * y), 0D, (acc, p) -> acc + p)`
  * — identical left-to-right accumulation order, so results are
  * BIT-IDENTICAL to the composed fold (and to the DuckDB oracles'
  * `list_reduce` twins), including the composed form's null
  * semantics: null array, mismatched lengths (zip_with pads with
  * null) or a null element all yield null.
  *
  * Replaces the composed form in every cosine/assignment hot path
  * (ANN re-rank, k-means assignment, IVF probe dots, cosine pair
  * verify, norm building as `graft_dot(v, v)`): Spark's higher-order
  * functions do not participate in whole-stage codegen — each
  * evaluation walks an interpreted lambda per element and
  * materializes the intermediate zipped array. This expression is a
  * single primitive loop invoked from generated code.
  */
case class DotExpr(left: Expression, right: Expression) extends BinaryExpression {
  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true // ragged/null-element inputs yield null
  override def prettyName: String = "graft_dot"

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(DoubleType, _), ArrayType(DoubleType, _)) =>
        TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"graft_dot requires two array<double> inputs, got ${l.catalogString}, ${r.catalogString} — " +
          "cast explicitly, e.g. transform(v, x -> CAST(x AS DOUBLE))")
    }

  override protected def nullSafeEval(a: Any, b: Any): Any =
    DotExpr.dot(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      s"""
      java.lang.Double ${ev.value}_r = graft.functions.DotExpr.dot($a, $b);
      if (${ev.value}_r == null) { ${ev.isNull} = true; }
      else { ${ev.value} = ${ev.value}_r.doubleValue(); }
      """
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): DotExpr =
    copy(left = newLeft, right = newRight)
}

object DotExpr {
  /** Left-to-right sum of element products; null on length mismatch or
    * null element (the zip_with/aggregate null semantics). */
  def dot(a: ArrayData, b: ArrayData): java.lang.Double = {
    val n = a.numElements()
    if (b.numElements() != n) return null
    var s = 0.0
    var i = 0
    while (i < n) {
      if (a.isNullAt(i) || b.isNullAt(i)) return null
      s += a.getDouble(i) * b.getDouble(i)
      i += 1
    }
    s
  }
}
