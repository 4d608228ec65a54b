package graft.functions

import java.io.{ByteArrayInputStream, ByteArrayOutputStream, DataInputStream, DataOutputStream}
import java.math.{BigDecimal => JBigDecimal, BigInteger}

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._

/** Upper-triangle outer-product decimal sum as a native
  * `TypedImperativeAggregate` — the Gram/covariance building block:
  * `graft_outer_sum_dec(v)` over an `array<double>` column returns
  * `array<struct<i:bigint, j:bigint, sum:decimal(38,12), cnt:bigint>>`
  * with one entry per dimension pair `i ≤ j` (1-based, row-major),
  * where `sum` is EXACTLY `sum(CAST(v[i] * v[j] AS DECIMAL(28,12)))`
  * of the double-posexplode self-join formulation it replaces (the
  * per-pair product is the deterministic IEEE double product; the
  * decimal cast is Spark's shortest-repr HALF_UP — [[VecSumDec
  * .castToDec12]]) and `cnt` counts rows whose array covers both
  * positions. Decimal addition is exact, so the result is
  * merge-order-free — the covariance matrix is bit-identical under
  * any partitioning.
  *
  * This is the 100 TB path for second-moment builds (covariance /
  * whitening / PCA input): the posexplode² + self-join formulation
  * shuffles corpus×dim² rows; this aggregate ships ONE fixed-size
  * (dim(dim+1)/2) buffer per partition — partial aggregation reduces
  * the exchange to cells×partitions. Pair it with
  * [[VecSumDec]] in the same `agg()` for the first moment: both run
  * in the one corpus scan.
  *
  * Ragged inputs: a pair (i, j) counts a row iff the row's array
  * covers max(i, j); null ELEMENTS count the row but contribute no
  * product (either factor null → posexplode join emits a null
  * product). Growth re-maps the triangle in place (embedding corpora
  * are rectangular; the path exists for faithfulness, not speed). */
case class OuterSumDec(
    child: Expression,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[OuterSumDec.Buffer] {

  override def children: Seq[Expression] = Seq(child)
  override def nullable: Boolean = false
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(DoubleType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"graft_outer_sum_dec requires array<double>, got ${other.catalogString} — " +
        "cast explicitly, e.g. transform(v, x -> CAST(x AS DOUBLE))")
  }
  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("i", LongType, nullable = false),
    StructField("j", LongType, nullable = false),
    StructField("sum", DecimalType(38, 12)),
    StructField("cnt", LongType, nullable = false))))

  override def createAggregationBuffer(): OuterSumDec.Buffer = new OuterSumDec.Buffer()

  override def update(buf: OuterSumDec.Buffer, input: InternalRow): OuterSumDec.Buffer = {
    child.eval(input) match {
      case null => buf
      case arr: ArrayData =>
        val n = arr.numElements()
        buf.ensure(n)
        val xs = new Array[Double](n)
        val ok = new Array[Boolean](n)
        var i = 0
        while (i < n) {
          ok(i) = !arr.isNullAt(i)
          if (ok(i)) xs(i) = arr.getDouble(i)
          i += 1
        }
        i = 0
        while (i < n) {
          var j = i
          while (j < n) {
            val k = buf.cell(i, j)
            buf.cnts(k) += 1
            if (ok(i) && ok(j)) buf.add(k, VecSumDec.castToDec12(xs(i) * xs(j)))
            j += 1
          }
          i += 1
        }
        buf
    }
  }

  override def merge(buf: OuterSumDec.Buffer, other: OuterSumDec.Buffer): OuterSumDec.Buffer = {
    buf.ensure(other.dim)
    var i = 0
    while (i < other.dim) {
      var j = i
      while (j < other.dim) {
        val k = buf.cell(i, j)
        val ok = other.cell(i, j)
        buf.add(k, other.sums(ok))
        buf.cnts(k) += other.cnts(ok)
        j += 1
      }
      i += 1
    }
    buf
  }

  override def eval(buf: OuterSumDec.Buffer): Any = {
    val out = new Array[Any](buf.sums.length)
    var i = 0
    var k = 0
    while (i < buf.dim) {
      var j = i
      while (j < buf.dim) {
        val s = buf.sums(buf.cell(i, j))
        val dec =
          if (s == null) null
          else {
            val d = org.apache.spark.sql.types.Decimal(scala.math.BigDecimal(s))
            if (d.changePrecision(38, 12)) d else null
          }
        out(k) = InternalRow((i + 1).toLong, (j + 1).toLong, dec, buf.cnts(buf.cell(i, j)))
        j += 1
        k += 1
      }
      i += 1
    }
    new GenericArrayData(out)
  }

  override def serialize(buf: OuterSumDec.Buffer): Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    val out = new DataOutputStream(bos)
    out.writeInt(buf.dim)
    var k = 0
    while (k < buf.sums.length) {
      val s = buf.sums(k)
      val b = if (s == null) Array.emptyByteArray
        else s.setScale(12).unscaledValue().toByteArray
      out.writeInt(if (s == null) -1 else b.length)
      out.write(b)
      out.writeLong(buf.cnts(k))
      k += 1
    }
    out.flush(); bos.toByteArray
  }

  override def deserialize(bytes: Array[Byte]): OuterSumDec.Buffer = {
    val in = new DataInputStream(new ByteArrayInputStream(bytes))
    val d = in.readInt()
    val buf = new OuterSumDec.Buffer()
    buf.ensure(d)
    var k = 0
    while (k < buf.sums.length) {
      val len = in.readInt()
      if (len >= 0) {
        val b = new Array[Byte](len); in.readFully(b)
        buf.sums(k) = new JBigDecimal(new BigInteger(b), 12)
      }
      buf.cnts(k) = in.readLong()
      k += 1
    }
    buf
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): OuterSumDec =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): OuterSumDec =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(newChildren: IndexedSeq[Expression]): OuterSumDec =
    copy(child = newChildren.head)
  override def prettyName: String = "graft_outer_sum_dec"
}

object OuterSumDec {
  /** Row-major upper-triangle (sum, cnt) buffer over `dim` positions;
    * growth allocates the wider triangle and copies each old cell to
    * its new slot (old row-major order enumerated alongside). */
  final class Buffer {
    var dim: Int = 0
    var sums: Array[JBigDecimal] = Array.empty
    var cnts: Array[Long] = Array.empty
    /** index of pair (i, j), 0-based, requires i <= j < dim */
    def cell(i: Int, j: Int): Int = i * dim - i * (i - 1) / 2 + (j - i)
    def ensure(n: Int): Unit = if (n > dim) {
      val od = dim
      val oSums = sums
      val oCnts = cnts
      dim = n
      sums = new Array[JBigDecimal](n * (n + 1) / 2)
      cnts = new Array[Long](sums.length)
      var i = 0
      var ok = 0
      while (i < od) {
        var j = i
        while (j < od) {
          val nk = cell(i, j)
          sums(nk) = oSums(ok)
          cnts(nk) = oCnts(ok)
          ok += 1
          j += 1
        }
        i += 1
      }
    }
    def add(k: Int, v: JBigDecimal): Unit =
      if (v != null) sums(k) = if (sums(k) == null) v else sums(k).add(v)
  }
}
