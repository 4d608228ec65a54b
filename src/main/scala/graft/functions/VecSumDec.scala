package graft.functions

import java.io.{ByteArrayInputStream, ByteArrayOutputStream, DataInputStream, DataOutputStream}
import java.math.{BigDecimal => JBigDecimal, BigInteger, RoundingMode}

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._

/** Element-wise decimal vector sum + per-position row count as a
  * native `TypedImperativeAggregate`: `graft_vecsum_dec(v)` over an
  * `array<double>` column returns
  * `struct(sum: array<decimal(38,12)>, cnt: array<bigint>)` holding,
  * per position, EXACTLY `sum(CAST(v[i] AS DECIMAL(28,12)))` and
  * `count(*)` of the posexplode + groupBy(group, i) formulation it
  * replaces — same per-element cast (shortest-repr double → scale-12
  * HALF_UP) and widened result type as Spark's decimal `sum`, so
  * centroid means built as `zip_with(sv.sum, sv.cnt, (x, c) ->
  * CAST(x AS DOUBLE) / c)` are bit-identical to the per-position
  * decimal mean, and merge-order-free (decimal addition is exact).
  * Carrying the per-position counts INSIDE the aggregate is what
  * keeps null and ragged inputs faithful: a row-level `count(*)`
  * divisor would count rows that contributed nothing to a position.
  *
  * This is the 100 TB path for centroid builds (k-means / IVF): the
  * posexplode formulation shuffles corpus×dim rows; this aggregate
  * ships ONE fixed-size (dim-length) buffer per partition per group —
  * partial aggregation reduces the exchange to cells×1 rows.
  *
  * Input typing: anything other than `array<double>` is an ANALYSIS
  * error with a cast hint — an `array<float>` embedding column read
  * through `getDouble` would reinterpret adjacent float pairs as
  * doubles, so the type gate refuses rather than guessing.
  *
  * Ragged inputs: positions a row lacks contribute to neither sum nor
  * count (exactly as posexplode produces no row for them); the result
  * length is the max input length. Null vectors are skipped entirely;
  * null ELEMENTS count a row (posexplode emits the row; its cast is
  * null) but add nothing to the sum. A position whose sum overflows
  * decimal(38,12) evaluates to a null element (Spark's non-ANSI sum
  * overflow behavior); a position with no contributions has sum null,
  * cnt 0 — a mean built over it divides null by zero and stays null.
  */
case class VecSumDec(
    child: Expression,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[VecSumDec.Buffer] {

  override def children: Seq[Expression] = Seq(child)
  override def nullable: Boolean = false
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(DoubleType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"graft_vecsum_dec requires array<double>, got ${other.catalogString} — " +
        "cast explicitly, e.g. transform(v, x -> CAST(x AS DOUBLE)) " +
        "(an array<float> column read as doubles would be reinterpreted, not widened)")
  }
  override def dataType: DataType = StructType(Seq(
    StructField("sum", ArrayType(DecimalType(38, 12))),
    StructField("cnt", ArrayType(LongType, containsNull = false))))

  override def createAggregationBuffer(): VecSumDec.Buffer = new VecSumDec.Buffer()

  override def update(buf: VecSumDec.Buffer, input: InternalRow): VecSumDec.Buffer = {
    child.eval(input) match {
      case null => buf
      case arr: ArrayData =>
        val n = arr.numElements()
        buf.ensure(n)
        var i = 0
        while (i < n) {
          buf.cnts(i) += 1
          if (!arr.isNullAt(i)) buf.add(i, VecSumDec.castToDec12(arr.getDouble(i)))
          i += 1
        }
        buf
    }
  }

  override def merge(buf: VecSumDec.Buffer, other: VecSumDec.Buffer): VecSumDec.Buffer = {
    buf.ensure(other.length)
    var i = 0
    while (i < other.length) {
      buf.add(i, other.sums(i))
      buf.cnts(i) += other.cnts(i)
      i += 1
    }
    buf
  }

  override def eval(buf: VecSumDec.Buffer): Any = {
    val sums = new Array[Any](buf.length)
    val cnts = new Array[Any](buf.length)
    var i = 0
    while (i < buf.length) {
      val s = buf.sums(i)
      sums(i) =
        if (s == null) null
        else {
          val d = org.apache.spark.sql.types.Decimal(scala.math.BigDecimal(s))
          // overflow → null element, matching non-ANSI decimal sum
          if (d.changePrecision(38, 12)) d else null
        }
      cnts(i) = buf.cnts(i)
      i += 1
    }
    InternalRow(new GenericArrayData(sums), new GenericArrayData(cnts))
  }

  override def serialize(buf: VecSumDec.Buffer): Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    val out = new DataOutputStream(bos)
    out.writeInt(buf.length)
    var i = 0
    while (i < buf.length) {
      val s = buf.sums(i)
      val b = if (s == null) Array.emptyByteArray
        else s.setScale(12).unscaledValue().toByteArray
      out.writeInt(if (s == null) -1 else b.length)
      out.write(b)
      out.writeLong(buf.cnts(i))
      i += 1
    }
    out.flush(); bos.toByteArray
  }

  override def deserialize(bytes: Array[Byte]): VecSumDec.Buffer = {
    val in = new DataInputStream(new ByteArrayInputStream(bytes))
    val n = in.readInt()
    val buf = new VecSumDec.Buffer()
    buf.ensure(n)
    var i = 0
    while (i < n) {
      val len = in.readInt()
      if (len >= 0) {
        val b = new Array[Byte](len); in.readFully(b)
        buf.sums(i) = new JBigDecimal(new BigInteger(b), 12)
      }
      buf.cnts(i) = in.readLong()
      i += 1
    }
    buf
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): VecSumDec =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): VecSumDec =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(newChildren: IndexedSeq[Expression]): VecSumDec =
    copy(child = newChildren.head)
  override def prettyName: String = "graft_vecsum_dec"
}

object VecSumDec {
  /** Growable element-wise (sum, count) buffer; `sums(i) == null`
    * means "no finite contribution yet" only before the first add
    * (zero-init), afterwards it holds the exact scale-12 decimal
    * sum. `cnts(i)` counts rows whose array covers position i. */
  final class Buffer {
    var sums: Array[JBigDecimal] = Array.empty
    var cnts: Array[Long] = Array.empty
    def length: Int = sums.length
    def ensure(n: Int): Unit =
      if (n > sums.length) {
        sums = java.util.Arrays.copyOf(sums, n)
        cnts = java.util.Arrays.copyOf(cnts, n)
      }
    def add(i: Int, v: JBigDecimal): Unit =
      if (v != null) sums(i) = if (sums(i) == null) v else sums(i).add(v)
  }

  /** `CAST(x AS DECIMAL(28,12))` exactly as Spark casts double →
    * decimal: shortest string representation, HALF_UP to scale 12,
    * null on precision overflow. */
  def castToDec12(x: Double): JBigDecimal = {
    if (java.lang.Double.isNaN(x) || java.lang.Double.isInfinite(x)) return null
    val d = new JBigDecimal(java.lang.Double.toString(x)).setScale(12, RoundingMode.HALF_UP)
    if (d.precision - d.scale > 28 - 12) null else d
  }
}
