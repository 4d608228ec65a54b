package graft.functions

import java.io.{ByteArrayInputStream, ByteArrayOutputStream, DataInputStream, DataOutputStream}
import scala.collection.mutable

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Space-Saving heavy-hitter sketch as a native
  * `TypedImperativeAggregate` (Metwally et al. 2005): a bounded
  * (4k-entry) counter map per partition, mergeable, evaluated to the
  * top-k (token, count) pairs.
  *
  * This is the 100 TB path for corpus token frequency: instead of
  * shuffling every distinct token's partial count, each task ships one
  * fixed-size summary. Counts are exact whenever the distinct-token
  * count fits the capacity (asserted in TopKSketchSpec); otherwise
  * they are the standard Space-Saving overestimates.
  */
case class TopKSketch(
    child: Expression,
    k: Int,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[mutable.HashMap[String, Long]] {

  /** 16k counters: Space-Saving guarantees containment for any item
    * with true count > N/capacity, so the published "top-k tokens are
    * in the sketch" contract needs capacity comfortably above k — at
    * 4k a merge-order-dependent overestimate could displace a real
    * top-k item whose count sits near N/(4k). */
  private val capacity = math.max(k * 16, 64)

  override def children: Seq[Expression] = Seq(child)
  override def nullable: Boolean = false
  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("token", StringType), StructField("cnt", LongType))))

  override def createAggregationBuffer(): mutable.HashMap[String, Long] =
    mutable.HashMap.empty[String, Long]

  override def update(buf: mutable.HashMap[String, Long], input: InternalRow): mutable.HashMap[String, Long] = {
    val v = child.eval(input)
    if (v != null) add(buf, v.toString, 1L)
    buf
  }

  override def merge(buf: mutable.HashMap[String, Long], other: mutable.HashMap[String, Long]): mutable.HashMap[String, Long] = {
    other.foreach { case (t, c) => add(buf, t, c) }
    buf
  }

  private def add(buf: mutable.HashMap[String, Long], token: String, by: Long): Unit = {
    buf.get(token) match {
      case Some(c) => buf.update(token, c + by)
      case None if buf.size < capacity => buf.update(token, by)
      case None => // Space-Saving eviction: replace a minimum entry
        val (minT, minC) = buf.minBy { case (t, c) => (c, t) }
        buf.remove(minT)
        buf.update(token, minC + by)
    }
  }

  override def eval(buf: mutable.HashMap[String, Long]): Any = {
    val top = buf.toSeq.sortBy { case (t, c) => (-c, t) }.take(k)
    new GenericArrayData(top.map { case (t, c) =>
      InternalRow(UTF8String.fromString(t), c)
    }.toArray[Any])
  }

  override def serialize(buf: mutable.HashMap[String, Long]): Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    val out = new DataOutputStream(bos)
    out.writeInt(buf.size)
    buf.foreach { case (t, c) =>
      val b = t.getBytes("UTF-8")
      out.writeInt(b.length); out.write(b); out.writeLong(c)
    }
    out.flush(); bos.toByteArray
  }

  override def deserialize(bytes: Array[Byte]): mutable.HashMap[String, Long] = {
    val in = new DataInputStream(new ByteArrayInputStream(bytes))
    val n = in.readInt()
    val buf = mutable.HashMap.empty[String, Long]
    (0 until n).foreach { _ =>
      val len = in.readInt(); val b = new Array[Byte](len); in.readFully(b)
      buf.update(new String(b, "UTF-8"), in.readLong())
    }
    buf
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): TopKSketch =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): TopKSketch =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(newChildren: IndexedSeq[Expression]): TopKSketch =
    copy(child = newChildren.head)
  override def prettyName: String = "graft_topk_sketch"
}
