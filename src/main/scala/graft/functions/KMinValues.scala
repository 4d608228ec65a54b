package graft.functions

import java.io.{ByteArrayInputStream, ByteArrayOutputStream, DataInputStream, DataOutputStream}
import scala.collection.mutable

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._

/** K-Minimum-Values (theta) distinct sketch as a native
  * `TypedImperativeAggregate` (Beyer et al. SIGMOD'07; the Theta
  * sketch framework of Dasgupta et al.): `graft_kmv(h, k)` keeps the
  * k SMALLEST DISTINCT values of a pre-hashed non-negative BIGINT
  * column — a KB-size summary supporting the SET ALGEBRA plain
  * distinct counters cannot: union (k smallest of the merged sets)
  * and intersection (theta intersection: survivors below
  * min(θ_a, θ_b)), the audience-overlap readout. At 100 TB the
  * shards exchange k longs, never rows, and — unlike order-sensitive
  * sketches — the k smallest distinct values are a UNIQUE set, so
  * the sketch is bit-identical under ANY partitioning/merge order.
  *
  * Input contract: values pre-hashed to uniform [0, 2^63), e.g.
  * `xxhash64(x) & 9223372036854775807`. Estimator (evaluated in plain
  * SQL over the returned sorted array): exact n when the set is not
  * full; else (k−1)/θ with θ = sk[k−1]/2^63. Gated by
  * `approx_set_overlap`; bounds + determinism in `KmvSpec`. */
case class KMinValues(
    child: Expression,
    k: Int,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[mutable.TreeSet[Long]] {

  override def children: Seq[Expression] = Seq(child)
  override def nullable: Boolean = false
  override def dataType: DataType = ArrayType(LongType)

  override def createAggregationBuffer(): mutable.TreeSet[Long] =
    mutable.TreeSet.empty[Long]

  private def add(buf: mutable.TreeSet[Long], v: Long): Unit =
    if (buf.size < k) buf += v
    else if (v < buf.last && !buf.contains(v)) { buf -= buf.last; buf += v }

  override def update(buf: mutable.TreeSet[Long], input: InternalRow): mutable.TreeSet[Long] = {
    val v = child.eval(input)
    if (v != null) add(buf, v.asInstanceOf[Long])
    buf
  }

  override def merge(buf: mutable.TreeSet[Long], other: mutable.TreeSet[Long]): mutable.TreeSet[Long] = {
    other.foreach(add(buf, _))
    buf
  }

  override def eval(buf: mutable.TreeSet[Long]): Any =
    new GenericArrayData(buf.toArray[Long].map(x => x: Any))

  override def serialize(buf: mutable.TreeSet[Long]): Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    val out = new DataOutputStream(bos)
    out.writeInt(buf.size)
    buf.foreach(out.writeLong)
    out.flush(); bos.toByteArray
  }

  override def deserialize(bytes: Array[Byte]): mutable.TreeSet[Long] = {
    val in = new DataInputStream(new ByteArrayInputStream(bytes))
    val n = in.readInt()
    val buf = mutable.TreeSet.empty[Long]
    (0 until n).foreach(_ => buf += in.readLong())
    buf
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): KMinValues =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): KMinValues =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(newChildren: IndexedSeq[Expression]): KMinValues =
    copy(child = newChildren.head)
  override def prettyName: String = "graft_kmv"
}

object KMinValues {
  /** 2^63 as a double — the hash-space width θ normalizes against. */
  val HashSpace: Double = 9223372036854775808.0

  /** SQL fragment: distinct estimate from a KMV array `sk` built with
    * capacity `k` — exact size when not full, else (k−1)/θ. */
  def estimateSql(sk: String, k: Int): String =
    s"""CASE WHEN size($sk) < $k THEN CAST(size($sk) AS DOUBLE)
        ELSE (CAST($k AS DOUBLE) - 1) / (CAST(element_at($sk, $k) AS DOUBLE) / ${HashSpace}D) END"""
}
