package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Native Catalyst expression: winnowed substring fingerprints
  * (Schleimer, Wilkerson & Aiken, SIGMOD'03) in one pass —
  * `graft_winnow(s, k, w)` returns the DISTINCT set (ascending) of
  * per-`w`-window minima over the h60 hashes of every `k`-char window
  * of `s`, where h60 is the engine's portable 60-bit md5 prefix
  * (`CAST(conv(substring(md5(substr(s,i,k)),1,15),16,10) AS BIGINT)`
  * — byte-identical values, asserted by the equivalence property
  * spec).
  *
  * Replaces the composed two-level `transform` form in the
  * repeated-substring scan: interpreted lambda evaluation pays a
  * UTF8String slice alloc + binary cast + hex encode + string-parse
  * `conv` per position. This expression hashes the UTF-8 bytes
  * directly (one thread-local MessageDigest, reset per window, no hex
  * round-trip) and takes window minima with a monotonic deque —
  * O(len) amortized instead of O(len·w) slice scans. Strings with
  * fewer than k + w − 1 chars yield an empty array (no full winnow
  * window — same rows the caller's length filter drops).
  */
case class WinnowExpr(child: Expression, k: Int, w: Int) extends UnaryExpression {
  require(k >= 2 && w >= 1, s"graft_winnow: need k >= 2, w >= 1, got k=$k w=$w")
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "graft_winnow"

  // the kernel reads the child as UTF8String — gate at analysis rather
  // than ClassCastException / janino failure at execution
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"graft_winnow requires a string input, got ${other.catalogString} — " +
        "cast explicitly, e.g. CAST(s AS STRING)")
  }

  override protected def nullSafeEval(input: Any): Any =
    WinnowExpr.fingerprints(input.asInstanceOf[UTF8String], k, w)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.WinnowExpr.fingerprints($c, $k, $w)")

  override protected def withNewChildInternal(newChild: Expression): WinnowExpr =
    copy(child = newChild)
}

object WinnowExpr {
  private val md5 = ThreadLocal.withInitial[java.security.MessageDigest](() =>
    java.security.MessageDigest.getInstance("MD5"))

  /** h60 of bytes[from, until): the first 15 hex chars of the md5 read
    * as a 60-bit integer == the big-endian first 8 digest bytes >>> 4. */
  private def h60(bytes: Array[Byte], from: Int, until: Int): Long = {
    val d = md5.get()
    d.reset()
    d.update(bytes, from, until - from)
    val dig = d.digest()
    var v = 0L
    var i = 0
    while (i < 8) { v = (v << 8) | (dig(i) & 0xffL); i += 1 }
    v >>> 4
  }

  def fingerprints(s: UTF8String, k: Int, w: Int): ArrayData = {
    val bytes = s.getBytes
    val numChars = s.numChars()
    val nGrams = numChars - k + 1
    if (nGrams < w) return new GenericArrayData(Array.empty[Long])
    // byte offset of each char start (+ end sentinel), as in NgramsExpr
    val starts = new Array[Int](numChars + 1)
    var i = 0
    var b = 0
    while (i < numChars) {
      starts(i) = b
      b += UTF8String.numBytesForFirstByte(bytes(b))
      i += 1
    }
    starts(numChars) = bytes.length
    val hs = new Array[Long](nGrams)
    i = 0
    while (i < nGrams) { hs(i) = h60(bytes, starts(i), starts(i + k)); i += 1 }
    // sliding-window minima via monotonic deque of indices (ascending
    // hash values front to back); distinct via hash set
    val seen = new java.util.HashSet[Long]()
    val deque = new Array[Int](nGrams)
    var head = 0
    var tail = 0 // exclusive
    i = 0
    while (i < nGrams) {
      while (tail > head && hs(deque(tail - 1)) >= hs(i)) tail -= 1
      deque(tail) = i; tail += 1
      if (deque(head) <= i - w) head += 1
      if (i >= w - 1) seen.add(hs(deque(head)))
      i += 1
    }
    val out = new Array[Long](seen.size)
    val it = seen.iterator()
    var j = 0
    while (it.hasNext) { out(j) = it.next(); j += 1 }
    java.util.Arrays.sort(out)
    new GenericArrayData(out)
  }
}

object Winnow {
  def fingerprints(c: Column, k: Int, w: Int): Column =
    org.apache.spark.sql.functions.call_function("graft_winnow", c,
      org.apache.spark.sql.functions.lit(k), org.apache.spark.sql.functions.lit(w))
}
