package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types._

/** Deterministic Bloom filter over 64-bit keys, as a native aggregate
  * (`graft_bloom_agg(h, mBits, k)` → binary blob) plus a codegen probe
  * (`graft_bloom_contains(blob, h)` → boolean).
  *
  * The blob is SELF-DESCRIBING — `[int k][long mBits][bitset words]`
  * big-endian — so the probe side needs no out-of-band parameters and
  * a blob built with one sizing can never be probed with another's
  * (the classic split-config Bloom bug). Bit positions come from
  * Kirsch–Mitzenmacher double hashing (h1 + i·h2 mod m) over two
  * splitmix64 finalizers of the key, so build and probe are pure
  * functions of (key, k, m): reproducible across runs, partitionings,
  * and merge orders (merge is bitwise OR — commutative/associative).
  *
  * Why this exists (the 100 TB decontamination shape): the exact
  * benchmark-shingle broadcast in `corpus_decontaminate` stops fitting
  * when the held-out set reaches GBs — a Bloom at ~10 bits/key is
  * 10–50× smaller than the UTF-8 shingle set AND probe is three
  * multiplies per hash instead of a hash-relation lookup. Because a
  * Bloom has NO false negatives, `prefilter → exact verify join`
  * returns exactly the exact-join answer: the corpus is never
  * shuffled (the prefilter is map-side), and only the tiny surviving
  * fraction reaches the verify join. False positives cost only verify
  * input volume, never correctness.
  *
  * Driver-collected alternative rejected: `DataFrameStatFunctions
  * .bloomFilter` materializes the filter on the driver and re-ships
  * it; this aggregate builds and merges the blob entirely on
  * executors, so it composes inside one job graph (a one-row
  * broadcast) like any other aggregate.
  */
object BloomBlob {
  val HeaderBytes: Int = 4 + 8

  def create(mBits: Long, k: Int): Array[Byte] = {
    require(k >= 1 && k <= 32, s"bloom k out of range: $k")
    require(mBits >= 64 && mBits % 64 == 0,
      s"bloom mBits must be a positive multiple of 64: $mBits")
    val b = new Array[Byte](HeaderBytes + (mBits / 64).toInt * 8)
    writeInt(b, 0, k)
    writeLong(b, 4, mBits)
    b
  }

  private def writeInt(b: Array[Byte], off: Int, v: Int): Unit = {
    b(off) = (v >>> 24).toByte; b(off + 1) = (v >>> 16).toByte
    b(off + 2) = (v >>> 8).toByte; b(off + 3) = v.toByte
  }
  private def writeLong(b: Array[Byte], off: Int, v: Long): Unit = {
    var i = 0
    while (i < 8) { b(off + i) = (v >>> (56 - 8 * i)).toByte; i += 1 }
  }
  private def readInt(b: Array[Byte], off: Int): Int =
    ((b(off) & 0xff) << 24) | ((b(off + 1) & 0xff) << 16) |
      ((b(off + 2) & 0xff) << 8) | (b(off + 3) & 0xff)
  private def readLong(b: Array[Byte], off: Int): Long = {
    var v = 0L; var i = 0
    while (i < 8) { v = (v << 8) | (b(off + i) & 0xffL); i += 1 }
    v
  }

  /** splitmix64 finalizer (Steele et al., JDK SplittableRandom). */
  private def mix(x0: Long): Long = {
    var x = x0 + 0x9E3779B97F4A7C15L
    x = (x ^ (x >>> 30)) * 0xBF58476D1CE4E5B9L
    x = (x ^ (x >>> 27)) * 0x94D049BB133111EBL
    x ^ (x >>> 31)
  }

  def add(blob: Array[Byte], key: Long): Unit = {
    val k = readInt(blob, 0); val m = readLong(blob, 4)
    val h1 = mix(key); val h2 = mix(key ^ 0x5851F42D4C957F2DL) | 1L
    var i = 0
    while (i < k) {
      val pos = java.lang.Math.floorMod(h1 + i * h2, m)
      val byteIdx = HeaderBytes + (pos >>> 3).toInt
      blob(byteIdx) = (blob(byteIdx) | (1 << (pos & 7).toInt)).toByte
      i += 1
    }
  }

  /** Probe — the ONE implementation both interpreted eval and
    * generated code call, so they cannot diverge. */
  def contains(blob: Array[Byte], key: Long): Boolean = {
    val k = readInt(blob, 0); val m = readLong(blob, 4)
    val h1 = mix(key); val h2 = mix(key ^ 0x5851F42D4C957F2DL) | 1L
    var i = 0
    while (i < k) {
      val pos = java.lang.Math.floorMod(h1 + i * h2, m)
      if ((blob(HeaderBytes + (pos >>> 3).toInt) & (1 << (pos & 7).toInt)) == 0)
        return false
      i += 1
    }
    true
  }

  def merge(a: Array[Byte], b: Array[Byte]): Array[Byte] = {
    require(a.length == b.length && readInt(a, 0) == readInt(b, 0) &&
      readLong(a, 4) == readLong(b, 4),
      "bloom merge across differently-sized filters")
    var i = HeaderBytes
    while (i < a.length) { a(i) = (a(i) | b(i)).toByte; i += 1 }
    a
  }
}

/** `graft_bloom_agg(hash, mBits, k)`: fold LongType keys into one
  * Bloom blob. Buffer = the blob itself (serialize is identity), so
  * map-side partials ship one fixed-size array per task regardless of
  * input volume — the defining property of the 100 TB build. */
case class BloomAgg(
    child: Expression,
    mBits: Long,
    k: Int,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[Array[Byte]] {

  override def children: Seq[Expression] = Seq(child)
  override def nullable: Boolean = false
  override def dataType: DataType = BinaryType

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case LongType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"graft_bloom_agg requires a bigint key, got ${other.catalogString} — " +
        "hash first, e.g. graft_bloom_agg(h60(x), 1048576, 5)")
  }

  override def createAggregationBuffer(): Array[Byte] = BloomBlob.create(mBits, k)

  override def update(buf: Array[Byte], input: InternalRow): Array[Byte] = {
    val v = child.eval(input)
    if (v != null) BloomBlob.add(buf, v.asInstanceOf[Long])
    buf
  }

  override def merge(buf: Array[Byte], other: Array[Byte]): Array[Byte] =
    BloomBlob.merge(buf, other)

  override def eval(buf: Array[Byte]): Any = buf
  override def serialize(buf: Array[Byte]): Array[Byte] = buf
  override def deserialize(bytes: Array[Byte]): Array[Byte] = bytes

  override def withNewMutableAggBufferOffset(newOffset: Int): BloomAgg =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): BloomAgg =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(newChildren: IndexedSeq[Expression]): BloomAgg =
    copy(child = newChildren.head)
  override def prettyName: String = "graft_bloom_agg"
}

/** `graft_bloom_contains(blob, hash)` — codegen probe; null-safe
  * (null blob or key → null, matching builtin predicate semantics). */
case class BloomContainsExpr(left: Expression, right: Expression) extends BinaryExpression {
  override def dataType: DataType = BooleanType
  override def nullable: Boolean = true
  override def prettyName: String = "graft_bloom_contains"

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (BinaryType, LongType) => TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"graft_bloom_contains requires (binary blob, bigint key), got " +
          s"${l.catalogString}, ${r.catalogString}")
    }

  override protected def nullSafeEval(blob: Any, key: Any): Any =
    BloomBlob.contains(blob.asInstanceOf[Array[Byte]], key.asInstanceOf[Long])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (blob, key) =>
      s"${ev.value} = graft.functions.BloomBlob.contains($blob, $key);")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): BloomContainsExpr =
    copy(left = newLeft, right = newRight)
}
