package graft.functions

import org.apache.spark.sql.{Column, GraftInternals}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Native Catalyst computation of the distinct word-k-gram hash array —
  * the hot scan-stage loop of every shingle-based dedup operator
  * (jaccard / minhash / simhash / LSH).
  *
  * Replaces the SQL chain
  * `array_distinct(transform(seq, i -> aggregate(slice(transform(split(
  * text,' '), w -> aggregate(transform(sequence(1,length(w)), ...)...)`:
  * higher-order functions are CodegenFallback, so that chain interpreted
  * ~5 lambda frames PER CHARACTER of every document (profiled ~20 CPU-s
  * for the 5,000-doc bench corpus; the single largest per-row cost on the
  * query surface). This expression makes one pass over the UTF-8 bytes in
  * whole-stage codegen.
  *
  * Value-exact contract (pinned byte-for-byte against the SQL chain by
  * OperatorsSpec's parity case, including unicode / empty-word edges):
  *  - words = `split(text, ' ')` with Java limit -1 (consecutive spaces
  *    yield empty words; trailing empties kept)
  *  - word hash = left fold of (a * 31 + codePoint) % P over the word's
  *    code points (ascii(substring(w,i,1)) = the i-th code point;
  *    an EMPTY word hashes to 0 — the SQL's descending sequence(1,0)
  *    quirk folds two ascii('') = 0 terms, which lands on the same 0)
  *  - shingle hash = left fold of (a * 31 + wordHash) % P over each
  *    k-window of word hashes; documents shorter than k words yield an
  *    empty array
  *  - result = distinct shingle hashes in first-occurrence order
  *    (array_distinct semantics)
  *
  * All arithmetic is non-negative 64-bit (P = 1e9+7, 31 * h + cp never
  * overflows), so `%` remainder agrees with the DuckDB oracle.
  */
case class ShingleHashes(child: Expression, k: Int)
  extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType if k >= 1 => TypeCheckResult.TypeCheckSuccess
    case StringType => TypeCheckResult.TypeCheckFailure(s"shingle_hashes needs k >= 1, got $k")
    case other => TypeCheckResult.TypeCheckFailure(
      s"shingle_hashes needs a string input, got ${other.simpleString}")
  }
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "shingle_hashes"

  override def nullSafeEval(s: Any): Any =
    TextHash.shingleHashes(s.asInstanceOf[UTF8String], k)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, x =>
      s"${ev.value} = graft.functions.TextHash.shingleHashes($x, $k);")

  override protected def withNewChildInternal(newChild: Expression): ShingleHashes =
    copy(child = newChild)
}

/** Native ordered document fingerprint — fold of (a*131 + wordHash) mod P
  * over the word sequence, the [[TextAnalysis.fingerprintSqlSpark]] value
  * computed in one codegen pass over the UTF-8 bytes (same motivation and
  * parity pinning as [[ShingleHashes]]; q_phash_neardup derives its phash
  * from this per-char fold inside its timed materialization). */
case class Fingerprint(child: Expression)
  extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"doc_fingerprint needs a string input, got ${other.simpleString}")
  }
  override def dataType: DataType = LongType
  override def prettyName: String = "doc_fingerprint"

  override def nullSafeEval(s: Any): Any =
    TextHash.fingerprint(s.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, x =>
      s"${ev.value} = graft.functions.TextHash.fingerprint($x);")

  override protected def withNewChildInternal(newChild: Expression): Fingerprint =
    copy(child = newChild)
}

object TextHash {
  final val P = 1000000007L

  /** Payload bits of the continuation byte at `j`, or 0 past the end of the
    * array: malformed input (a multi-byte sequence cut short by the end of
    * the text) must fold to some value, never read out of bounds. */
  @inline private def cont(bytes: Array[Byte], j: Int): Int =
    if (j < bytes.length) bytes(j) & 0x3F else 0

  /** One-pass distinct word-k-gram hashes over the UTF-8 bytes (static so
    * generated code calls it directly; see [[ShingleHashes]] for the
    * value contract). */
  def shingleHashes(text: UTF8String, k: Int): ArrayData = {
    val bytes = text.getBytes
    val n = bytes.length
    // word hashes: fold (a*31 + codePoint) % P per word, split on 0x20.
    // A 0x20 byte never occurs inside a multi-byte UTF-8 sequence, so the
    // byte-level split is exact.
    var wh = new Array[Long](math.max(8, n / 4))
    var nw = 0
    var h = 0L
    var i = 0
    while (i <= n) {
      if (i == n || bytes(i) == 0x20) {
        if (nw == wh.length) wh = java.util.Arrays.copyOf(wh, nw * 2)
        wh(nw) = h; nw += 1; h = 0L
        i += 1
      } else {
        val b0 = bytes(i) & 0xFF
        var cp = 0
        if (b0 < 0x80) { cp = b0; i += 1 }
        else if (b0 < 0xE0) { // 2-byte
          cp = ((b0 & 0x1F) << 6) | cont(bytes, i + 1); i += 2
        } else if (b0 < 0xF0) { // 3-byte
          cp = ((b0 & 0x0F) << 12) | (cont(bytes, i + 1) << 6) |
            cont(bytes, i + 2); i += 3
        } else { // 4-byte (0xF8-0xFF are invalid leads; read as 4-byte)
          cp = ((b0 & 0x07) << 18) | (cont(bytes, i + 1) << 12) |
            (cont(bytes, i + 2) << 6) | cont(bytes, i + 3); i += 4
        }
        if (i > n) i = n // a sequence cut short by the end still ends the word
        h = (h * 31 + cp) % P
      }
    }
    if (nw < k) return new GenericArrayData(Array.emptyLongArray)
    // k-window folds, distinct in first-occurrence order
    val out = new Array[Long](nw - k + 1)
    val seen = new java.util.HashSet[java.lang.Long](math.max(16, (nw - k + 1) * 2))
    var m = 0
    var w = 0
    while (w <= nw - k) {
      var s = 0L
      var j = 0
      while (j < k) { s = (s * 31 + wh(w + j)) % P; j += 1 }
      if (seen.add(s)) { out(m) = s; m += 1 }
      w += 1
    }
    new GenericArrayData(if (m == out.length) out else java.util.Arrays.copyOf(out, m))
  }

  /** Ordered document fingerprint: fold of (a*131 + wordHash) % P over the
    * words of `text` (split on single spaces, Java limit -1 — identical
    * word/code-point semantics to [[shingleHashes]]). */
  def fingerprint(text: UTF8String): Long = {
    val bytes = text.getBytes
    val n = bytes.length
    var fp = 0L
    var h = 0L
    var i = 0
    while (i <= n) {
      if (i == n || bytes(i) == 0x20) {
        fp = (fp * 131 + h) % P
        h = 0L
        i += 1
      } else {
        val b0 = bytes(i) & 0xFF
        var cp = 0
        if (b0 < 0x80) { cp = b0; i += 1 }
        else if (b0 < 0xE0) {
          cp = ((b0 & 0x1F) << 6) | cont(bytes, i + 1); i += 2
        } else if (b0 < 0xF0) {
          cp = ((b0 & 0x0F) << 12) | (cont(bytes, i + 1) << 6) |
            cont(bytes, i + 2); i += 3
        } else {
          cp = ((b0 & 0x07) << 18) | (cont(bytes, i + 1) << 12) |
            (cont(bytes, i + 2) << 6) | cont(bytes, i + 3); i += 4
        }
        if (i > n) i = n
        h = (h * 31 + cp) % P
      }
    }
    fp
  }

  /** Codegen'd distinct word-k-gram hash array of a text column. */
  def shingleHashArray(text: Column, k: Int): Column =
    GraftInternals.toColumn(ShingleHashes(GraftInternals.toExpr(text), k))

  /** Codegen'd ordered document fingerprint of a text column. */
  def fingerprintCol(text: Column): Column =
    GraftInternals.toColumn(Fingerprint(GraftInternals.toExpr(text)))
}
