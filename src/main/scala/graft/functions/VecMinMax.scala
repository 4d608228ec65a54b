package graft.functions

import java.io.{ByteArrayInputStream, ByteArrayOutputStream, DataInputStream, DataOutputStream}

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._

/** Element-wise vector min/max as a native `TypedImperativeAggregate`:
  * `graft_vecminmax(v)` over an `array<double>` column returns
  * `struct(mins: array<double>, maxs: array<double>)` — per position,
  * exactly `min(v[i])` / `max(v[i])` of the posexplode +
  * groupBy(i) formulation it replaces. Min/max of doubles is exact
  * (no rounding, no merge-order sensitivity), so the result is
  * bit-identical to any evaluation order and to the DuckDB oracle.
  *
  * This is the scale shape for per-dimension quantizer calibration
  * (scalar quantization / SQ8): the posexplode formulation shuffles
  * corpus×dim rows, this aggregate ships ONE fixed-size dim-length
  * buffer per partition — partial aggregation reduces the exchange to
  * a single row.
  *
  * Ragged inputs: positions a row lacks contribute nothing; result
  * length is the max input length; a position with no contributions
  * evaluates to null elements. Null vectors are skipped; null and NaN
  * ELEMENTS are skipped (a NaN coordinate would poison the calibration
  * range — callers wanting NaN propagation should gate upstream).
  */
case class VecMinMax(
    child: Expression,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[VecMinMax.Buffer] {

  override def children: Seq[Expression] = Seq(child)
  override def nullable: Boolean = false
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(DoubleType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"graft_vecminmax requires array<double>, got ${other.catalogString} — " +
        "cast explicitly, e.g. transform(v, x -> CAST(x AS DOUBLE))")
  }
  override def dataType: DataType = StructType(Seq(
    StructField("mins", ArrayType(DoubleType)),
    StructField("maxs", ArrayType(DoubleType))))

  override def createAggregationBuffer(): VecMinMax.Buffer = new VecMinMax.Buffer()

  override def update(buf: VecMinMax.Buffer, input: InternalRow): VecMinMax.Buffer = {
    child.eval(input) match {
      case null => buf
      case arr: ArrayData =>
        val n = arr.numElements()
        buf.ensure(n)
        var i = 0
        while (i < n) {
          if (!arr.isNullAt(i)) buf.add(i, arr.getDouble(i))
          i += 1
        }
        buf
    }
  }

  override def merge(buf: VecMinMax.Buffer, other: VecMinMax.Buffer): VecMinMax.Buffer = {
    buf.ensure(other.length)
    var i = 0
    while (i < other.length) {
      if (other.seen(i)) { buf.add(i, other.mins(i)); buf.add(i, other.maxs(i)) }
      i += 1
    }
    buf
  }

  override def eval(buf: VecMinMax.Buffer): Any = {
    val mins = new Array[Any](buf.length)
    val maxs = new Array[Any](buf.length)
    var i = 0
    while (i < buf.length) {
      if (buf.seen(i)) { mins(i) = buf.mins(i); maxs(i) = buf.maxs(i) }
      i += 1
    }
    InternalRow(new GenericArrayData(mins), new GenericArrayData(maxs))
  }

  override def serialize(buf: VecMinMax.Buffer): Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    val out = new DataOutputStream(bos)
    out.writeInt(buf.length)
    var i = 0
    while (i < buf.length) {
      out.writeBoolean(buf.seen(i))
      out.writeDouble(buf.mins(i))
      out.writeDouble(buf.maxs(i))
      i += 1
    }
    out.flush(); bos.toByteArray
  }

  override def deserialize(bytes: Array[Byte]): VecMinMax.Buffer = {
    val in = new DataInputStream(new ByteArrayInputStream(bytes))
    val n = in.readInt()
    val buf = new VecMinMax.Buffer()
    buf.ensure(n)
    var i = 0
    while (i < n) {
      buf.seen(i) = in.readBoolean()
      buf.mins(i) = in.readDouble()
      buf.maxs(i) = in.readDouble()
      i += 1
    }
    buf
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): VecMinMax =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): VecMinMax =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(newChildren: IndexedSeq[Expression]): VecMinMax =
    copy(child = newChildren.head)
  override def prettyName: String = "graft_vecminmax"
}

object VecMinMax {
  /** Growable element-wise (min, max, seen) buffer. NaN never enters:
    * `add` uses `<`/`>` comparisons that are false for NaN on a seen
    * position, and the explicit NaN gate covers the first touch. */
  final class Buffer {
    var mins: Array[Double] = Array.empty
    var maxs: Array[Double] = Array.empty
    var seen: Array[Boolean] = Array.empty
    def length: Int = mins.length
    def ensure(n: Int): Unit =
      if (n > mins.length) {
        mins = java.util.Arrays.copyOf(mins, n)
        maxs = java.util.Arrays.copyOf(maxs, n)
        seen = java.util.Arrays.copyOf(seen, n)
      }
    def add(i: Int, x: Double): Unit = {
      if (java.lang.Double.isNaN(x)) return
      if (!seen(i)) { seen(i) = true; mins(i) = x; maxs(i) = x }
      else {
        if (x < mins(i)) mins(i) = x
        if (x > maxs(i)) maxs(i) = x
      }
    }
  }
}
