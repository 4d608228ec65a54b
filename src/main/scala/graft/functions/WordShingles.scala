package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Native Catalyst expression: `graft_word_shingles(s, k)` — the h60
  * hashes (ascending) of the DISTINCT word k-shingles of a
  * NORMALIZED text string, in one byte pass. Value-equivalent to the
  * composed
  * `transform(array_distinct(transform(sequence(...), i ->
  * concat_ws(' ', element_at(toks, i)...))), sh -> h60(sh))`
  * over `split(s, ' ')` (property-tested incl. multibyte), because a
  * k-word shingle of single-space-normalized text IS a contiguous
  * substring of it: the kernel collects word byte-offsets (0x20 never
  * occurs inside a UTF-8 multibyte sequence, so no char walk), dedups
  * windows by exact string content, and md5s each NEW window's byte
  * range directly (thread-local digest, no hex round-trip, no token
  * array, no concat_ws allocation per window).
  *
  * Why: the composed form evaluates an interpreted lambda per window
  * with k `element_at` calls, a `concat_ws` alloc, a binary→hex md5,
  * and a string-parsing `conv` — it dominated
  * `text_dup_ngram_fraction` the same way the pre-`graft_ngrams`
  * char-gram build dominated the Jaccard scan. Emitting 8-byte longs
  * (instead of ~30-char shingle strings) also shrinks the downstream
  * corpus-wide aggregate's exchange ~5×. Hashed counting stays
  * exact against the string oracle by construction: both engines md5
  * the same distinct strings, so any h60 collision merges the same
  * two shingles on both sides.
  *
  * Input contract: `s` is already whitespace-normalized (the engine's
  * `normText`). Fewer than k words yields an empty array (the rows a
  * caller's length filter would drop).
  */
case class WordShinglesExpr(child: Expression, k: Int) extends UnaryExpression {
  require(k >= 1, s"graft_word_shingles: need k >= 1, got $k")
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "graft_word_shingles"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"graft_word_shingles requires a string input, got ${other.catalogString} — " +
        "cast explicitly, e.g. CAST(s AS STRING)")
  }

  override protected def nullSafeEval(input: Any): Any =
    WordShinglesExpr.shingleHashes(input.asInstanceOf[UTF8String], k)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.WordShinglesExpr.shingleHashes($c, $k)")

  override protected def withNewChildInternal(newChild: Expression): WordShinglesExpr =
    copy(child = newChild)
}

object WordShinglesExpr {
  private val md5 = ThreadLocal.withInitial[java.security.MessageDigest](() =>
    java.security.MessageDigest.getInstance("MD5"))

  /** h60 of bytes[from, until) — top 60 bits of the md5 digest, the
    * engine's portable hash (== first 15 hex chars read base-16). */
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

  def shingleHashes(s: UTF8String, k: Int): ArrayData = {
    val bytes = s.getBytes
    val n = bytes.length
    // word start offsets in the single-space-normalized byte stream
    // (split(s, ' ') semantics: an empty string is ONE empty token)
    var words = 1
    var i = 0
    while (i < n) { if (bytes(i) == ' ') words += 1; i += 1 }
    if (words < k) return new GenericArrayData(Array.empty[Long])
    val starts = new Array[Int](words + 1) // + end sentinel (n + 1)
    starts(0) = 0
    var w = 1
    i = 0
    while (i < n) {
      if (bytes(i) == ' ') { starts(w) = i + 1; w += 1 }
      i += 1
    }
    starts(words) = n + 1 // pretend a trailing space so end(j) = starts(j+1) - 1
    val nShingles = words - k + 1
    // dedup by exact window content BEFORE hashing (md5 paid only for
    // new shingles) — matches array_distinct's string semantics
    val seen = new java.util.HashSet[String](nShingles * 2)
    val out = new java.util.ArrayList[java.lang.Long](nShingles)
    var j = 0
    while (j < nShingles) {
      val from = starts(j)
      val until = starts(j + k) - 1
      if (seen.add(new String(bytes, from, until - from, java.nio.charset.StandardCharsets.UTF_8)))
        out.add(h60(bytes, from, until))
      j += 1
    }
    val arr = new Array[Long](out.size)
    i = 0
    while (i < arr.length) { arr(i) = out.get(i); i += 1 }
    java.util.Arrays.sort(arr)
    new GenericArrayData(arr)
  }
}

object WordShingles {
  def hashes(c: Column, k: Int): Column =
    org.apache.spark.sql.functions.call_function("graft_word_shingles", c,
      org.apache.spark.sql.functions.lit(k))
}
