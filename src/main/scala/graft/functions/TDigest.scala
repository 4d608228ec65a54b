package graft.functions

import java.io.{ByteArrayInputStream, ByteArrayOutputStream, DataInputStream, DataOutputStream}
import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._

/** t-digest buffer: the centroid list plus an unmerged tail, compressed
  * lazily (Dunning & Ertl 2019, arXiv:1902.04023 — the MERGING digest
  * variant: points/centroids are buffered and folded in sorted passes,
  * which is exactly Spark's partial/final aggregation shape). */
final class TDigestBuffer(val delta: Int) {
  /** (mean, weight) pairs, NOT necessarily sorted until compress. */
  val cs: ArrayBuffer[(Double, Long)] = ArrayBuffer.empty
  private val softLimit = 8 * delta

  def add(x: Double, w: Long): Unit = {
    cs += ((x, w))
    if (cs.length > softLimit) compress()
  }

  /** k1 scale function k(q) = δ/(2π)·asin(2q−1): its unit steps bound
    * centroid weight by ≈ 4·W·q(1−q)/δ — fine near the tails, coarse
    * in the middle, the t-digest accuracy profile. */
  private def kOf(q: Double): Double =
    delta / (2 * math.Pi) * math.asin(math.max(-1.0, math.min(1.0, 2 * q - 1)))
  private def kInv(k: Double): Double = {
    val s = math.sin(k * 2 * math.Pi / delta)
    (s + 1) / 2
  }

  def compress(): Unit = {
    if (cs.length <= 1) return
    val sorted = cs.sortBy(_._1)
    val total = sorted.iterator.map(_._2).sum.toDouble
    cs.clear()
    var accM = sorted.head._1
    var accW = sorted.head._2
    var wSoFar = 0L
    var qLimit = kInv(kOf(0.0) + 1.0)
    sorted.iterator.drop(1).foreach { case (m, w) =>
      val qNext = (wSoFar + accW + w) / total
      if (qNext <= qLimit) { // weighted-mean combine
        accM = (accM * accW + m * w) / (accW + w)
        accW += w
      } else {
        cs += ((accM, accW))
        wSoFar += accW
        qLimit = kInv(kOf(wSoFar / total) + 1.0)
        accM = m; accW = w
      }
    }
    cs += ((accM, accW))
  }
}

/** t-digest quantile sketch as a native `TypedImperativeAggregate`:
  * `graft_tdigest(x, delta)` folds a double column into ≤ ~2δ
  * (mean, weight) centroids — a KB-size MERGEABLE summary evaluated to
  * the sorted centroid array. This is the production
  * percentile-at-scale path next to `approx_quantiles`'s built-in GK
  * sketch: rank error ≈ q(1−q)/δ concentrates accuracy at the tails
  * (p99/p999 — the latency/quality-cutoff percentiles), each task
  * ships one fixed-size summary (never a per-group sort), and shard
  * digests union by concatenation + one compress — the mergeable-
  * summaries contract (`approx_tdigest_quantiles` gate +
  * `TDigestSpec` bounds/merge properties). */
case class TDigestAgg(
    child: Expression,
    delta: Int,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[TDigestBuffer] {

  override def children: Seq[Expression] = Seq(child)
  override def nullable: Boolean = false
  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("m", DoubleType), StructField("w", LongType))))

  override def createAggregationBuffer(): TDigestBuffer = new TDigestBuffer(delta)

  override def update(buf: TDigestBuffer, input: InternalRow): TDigestBuffer = {
    val v = child.eval(input)
    if (v != null) buf.add(v match {
      case d: Decimal => d.toDouble // Spark Decimal is not a java Number
      case n: Number  => n.doubleValue()
    }, 1L)
    buf
  }

  override def merge(buf: TDigestBuffer, other: TDigestBuffer): TDigestBuffer = {
    other.cs.foreach { case (m, w) => buf.cs += ((m, w)) }
    buf.compress()
    buf
  }

  override def eval(buf: TDigestBuffer): Any = {
    buf.compress()
    new GenericArrayData(buf.cs.sortBy(_._1).map { case (m, w) =>
      InternalRow(m, w)
    }.toArray[Any])
  }

  override def serialize(buf: TDigestBuffer): Array[Byte] = {
    buf.compress()
    val bos = new ByteArrayOutputStream()
    val out = new DataOutputStream(bos)
    out.writeInt(buf.delta); out.writeInt(buf.cs.length)
    buf.cs.foreach { case (m, w) => out.writeDouble(m); out.writeLong(w) }
    out.flush(); bos.toByteArray
  }

  override def deserialize(bytes: Array[Byte]): TDigestBuffer = {
    val in = new DataInputStream(new ByteArrayInputStream(bytes))
    val buf = new TDigestBuffer(in.readInt())
    val n = in.readInt()
    (0 until n).foreach(_ => buf.cs += ((in.readDouble(), in.readLong())))
    buf
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): TDigestAgg =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): TDigestAgg =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(newChildren: IndexedSeq[Expression]): TDigestAgg =
    copy(child = newChildren.head)
  override def prettyName: String = "graft_tdigest"
}

/** `graft_tdigest_quantile(centroids, q)`: quantile read-off from a
  * t-digest centroid array — linear interpolation between adjacent
  * centroid MIDPOINTS in cumulative-weight space (the published
  * estimator), clamped to the extreme centroid means. Scalar over a
  * metadata-scale array (≤ ~2δ entries), driver/readout-side by
  * design — CodegenFallback is fine off the hot path. */
case class TDigestQuantile(left: Expression, right: Expression)
  extends BinaryExpression with CodegenFallback {

  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true

  override def nullSafeEval(arr: Any, qv: Any): Any = {
    val a = arr.asInstanceOf[ArrayData]
    val q = qv match { // SQL literals like 0.5 arrive as Decimal
      case d: Decimal => d.toDouble
      case n: Number => n.doubleValue()
    }
    val n = a.numElements()
    if (n == 0) return null
    val ms = new Array[Double](n)
    val ws = new Array[Long](n)
    var i = 0
    var total = 0L
    while (i < n) {
      val row = a.getStruct(i, 2)
      ms(i) = row.getDouble(0); ws(i) = row.getLong(1)
      total += ws(i); i += 1
    }
    if (n == 1) return ms(0)
    val t = q * total
    // cumulative midpoints: centroid i is centered at cum_i + w_i/2
    var cum = 0L
    var prevMid = ws(0) / 2.0
    if (t <= prevMid) return ms(0)
    i = 1
    while (i < n) {
      cum += ws(i - 1)
      val mid = cum + ws(i) / 2.0
      if (t <= mid)
        return ms(i - 1) + (ms(i) - ms(i - 1)) * (t - prevMid) / (mid - prevMid)
      prevMid = mid; i += 1
    }
    ms(n - 1)
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): TDigestQuantile =
    copy(left = newLeft, right = newRight)
  override def prettyName: String = "graft_tdigest_quantile"
}
