package graft.catalyst

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Native engine-portable winnowing fingerprints (Schleimer et al.).
  *
  * One pass per document: lowercase, tokenize on ASCII whitespace runs,
  * build word k-grams, hash each gram with the PORTABLE 60-bit key (the
  * first 15 hex chars of md5 read as an integer — recomputable in DuckDB
  * as `CAST('0x' || substring(md5(gram),1,15) AS BIGINT)`), take the
  * minimum of each sliding window of `w` gram hashes, dedup, sort.
  *
  * Exists because the composed Column form (split → transform/slice →
  * md5 → transform/slice/array_min) re-evaluates the entire upstream
  * subtree inside every higher-order-function lambda invocation — each
  * window recomputes every gram's md5, turning an O(grams) document into
  * O(grams²) full-chain work, interpreted. This expression is the same
  * algorithm with the obvious single-pass cost, and it matches the
  * DuckDB oracle semantics exactly:
  *  - tokens: maximal runs of non-whitespace ([ \t\n\r\f]) in the
  *    lowercased text (RE2/Java `\s+` split with empties dropped)
  *  - fewer than k tokens collapse to one whole-doc gram; zero tokens
  *    yield zero fingerprints
  *  - fewer than w grams collapse to one (truncated) window
  */
case class PortableWinnow(child: Expression, k: Int, w: Int)
    extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType && k >= 1 && w >= 1) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"portable_winnow expects (string, k >= 1, w >= 1), got ${child.dataType.simpleString}, $k, $w")

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "portable_winnow"

  override def nullSafeEval(input: Any): Any =
    PortableWinnow.compute(input.asInstanceOf[UTF8String], k, w)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.catalyst.PortableWinnow.compute($c, $k, $w)")

  override protected def withNewChildInternal(newChild: Expression): PortableWinnow =
    copy(child = newChild)
}

object PortableWinnow {

  private val md5Local = new ThreadLocal[java.security.MessageDigest] {
    override def initialValue(): java.security.MessageDigest =
      java.security.MessageDigest.getInstance("MD5")
  }

  /** First 15 hex chars of md5(bytes) as a long — identical to Spark SQL
    * `conv(substring(md5(x),1,15),16,10)` and DuckDB
    * `CAST('0x'||substring(md5(x),1,15) AS BIGINT)`: the top 60 bits of
    * the digest.
    */
  private[graft] def portableHash(bytes: Array[Byte], len: Int): Long =
    portableHash(bytes, 0, len)

  private[graft] def portableHash(bytes: Array[Byte], off: Int, len: Int): Long = {
    val md = md5Local.get()
    md.reset()
    md.update(bytes, off, len)
    val d = md.digest()
    var acc = 0L
    var i = 0
    while (i < 8) { acc = (acc << 8) | (d(i) & 0xffL); i += 1 }
    acc >>> 4
  }

  def compute(input: UTF8String, k: Int, w: Int): ArrayData = {
    val toks = tokenize(input)
    if (toks.n == 0) return new GenericArrayData(Array.emptyLongArray)
    val gramHashes = gramHashesOf(toks, math.min(k, toks.n))
    val nGrams = gramHashes.length
    // sliding-window minima (monotonic deque, O(nGrams))
    val effW = math.min(w, nGrams)
    val nMins = nGrams - effW + 1
    val mins = new Array[Long](nMins)
    val deque = new Array[Int](nGrams)
    var head = 0
    var tail = 0 // deque of indices, values increasing head->tail
    var j = 0
    while (j < nGrams) {
      while (tail > head && gramHashes(deque(tail - 1)) >= gramHashes(j)) tail -= 1
      deque(tail) = j
      tail += 1
      if (deque(head) <= j - effW) head += 1
      if (j >= effW - 1) mins(j - effW + 1) = gramHashes(deque(head))
      j += 1
    }
    // distinct + sort
    java.util.Arrays.sort(mins)
    var uniq = 0
    var r = 0
    while (r < nMins) {
      if (r == 0 || mins(r) != mins(r - 1)) { mins(uniq) = mins(r); uniq += 1 }
      r += 1
    }
    new GenericArrayData(java.util.Arrays.copyOf(mins, uniq))
  }

  /** Lowercased UTF-8 bytes and the [start, end) ranges of their `n`
    * maximal non-whitespace runs. */
  private[catalyst] final class Tokens(val bytes: Array[Byte],
      val starts: Array[Int], val ends: Array[Int], val n: Int)

  private[catalyst] def tokenize(input: UTF8String): Tokens = {
    val bytes = input.toLowerCase.getBytes
    val len = bytes.length
    var starts = new Array[Int](16)
    var ends = new Array[Int](16)
    var nTok = 0
    var i = 0
    while (i < len) {
      while (i < len && isSpace(bytes(i))) i += 1
      val s = i
      while (i < len && !isSpace(bytes(i))) i += 1
      if (i > s) {
        if (nTok == starts.length) {
          starts = java.util.Arrays.copyOf(starts, nTok * 2)
          ends = java.util.Arrays.copyOf(ends, nTok * 2)
        }
        starts(nTok) = s
        ends(nTok) = i
        nTok += 1
      }
    }
    new Tokens(bytes, starts, ends, nTok)
  }

  /** [[portableHash]] of every window of `k` consecutive tokens joined by
    * ' ' (1 <= k <= toks.n): toks.n - k + 1 hashes in token order. */
  private[catalyst] def gramHashesOf(toks: Tokens, k: Int): Array[Long] = {
    val nGrams = toks.n - k + 1
    var maxGram = 0
    var g = 0
    while (g < nGrams) {
      var len = k - 1
      var t = g
      while (t < g + k) { len += toks.ends(t) - toks.starts(t); t += 1 }
      if (len > maxGram) maxGram = len
      g += 1
    }
    val out = new Array[Long](nGrams)
    val buf = new Array[Byte](maxGram)
    g = 0
    while (g < nGrams) {
      var pos = 0
      var t = g
      while (t < g + k) {
        if (t > g) { buf(pos) = ' '; pos += 1 }
        val l = toks.ends(t) - toks.starts(t)
        System.arraycopy(toks.bytes, toks.starts(t), buf, pos, l)
        pos += l
        t += 1
      }
      out(g) = portableHash(buf, pos)
      g += 1
    }
    out
  }

  private def isSpace(b: Byte): Boolean =
    b == ' ' || b == '\n' || b == '\t' || b == '\r' || b == '\f' || b == 0x0B
}
