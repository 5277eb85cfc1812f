package graft.catalyst

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Full Damerau-Levenshtein edit distance (Lowrance & Wagner 1975):
  * insert, delete, substitute, and TRANSPOSE of two adjacent symbols
  * each cost 1, with transposition allowed across intervening edits
  * (unlike the restricted OSA variant: full DL gives
  * dl("ca","abc") = 2, OSA 3). Spark ships only plain `levenshtein`;
  * transposition-aware distance is what name/identifier matching wants
  * — "recieve"/"receive" is ONE typo, not two.
  *
  * Codepoint-level over the full alphabet-map DP — O(|a|·|b|) time,
  * O(|a|·|b|) ints. This is a VERIFY kernel for candidate pairs that
  * already passed a blocking key (the q171 discipline); never call it
  * inside an unblocked pair join.
  *
  * Oracle note: DuckDB's `damerau_levenshtein` is the same full-DL
  * algorithm but BYTE-level (UTF-8), so cross-engine equality holds
  * exactly on ASCII data and diverges on multibyte text —
  * CatalystExprSpec pins the codepoint semantics; the declared query
  * runs on the ASCII name fixture.
  */
case class DamerauLevenshtein(left: Expression, right: Expression)
  extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (StringType, StringType) => TypeCheckResult.TypeCheckSuccess
      case _ => TypeCheckResult.TypeCheckFailure(
        s"damerau_levenshtein expects two strings, got " +
          s"${left.dataType.simpleString}, ${right.dataType.simpleString}")
    }

  override def dataType: DataType = LongType
  override def prettyName: String = "damerau_levenshtein"

  override def nullSafeEval(a: Any, b: Any): Any =
    DamerauLevenshtein.compute(a.asInstanceOf[UTF8String], b.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) =>
      s"graft.catalyst.DamerauLevenshtein.compute($a, $b)")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): DamerauLevenshtein =
    copy(left = newLeft, right = newRight)
}

object DamerauLevenshtein {

  def compute(ua: UTF8String, ub: UTF8String): Long =
    compute(codePoints(ua), codePoints(ub))

  /** The string's code points. ASCII fast path (numBytes == numChars ⟺
    * no multibyte sequences): read bytes directly, skipping the String +
    * codePoints() stream allocation that dominates on short
    * identifier-like inputs. Shared with [[JaroWinklerMicros]].
    */
  private[catalyst] def codePoints(u: UTF8String): Array[Int] = {
    val n = u.numBytes()
    if (n == u.numChars()) {
      val a = new Array[Int](n)
      var i = 0
      while (i < n) { a(i) = u.getByte(i) & 0xff; i += 1 }
      a
    } else u.toString.codePoints().toArray
  }

  private[catalyst] def compute(a: Array[Int], b: Array[Int]): Long = {
    val la = a.length
    val lb = b.length
    if (la == 0) return lb.toLong
    if (lb == 0) return la.toLong
    val inf = la + lb
    // d is (la+2) x (lb+2) with the standard +1 offset and an inf rim
    // row/column so the transposition lookup d(k)(l) is always in-bounds
    val d = Array.ofDim[Int](la + 2, lb + 2)
    d(0)(0) = inf
    var i = 0
    while (i <= la) { d(i + 1)(0) = inf; d(i + 1)(1) = i; i += 1 }
    var j = 0
    while (j <= lb) { d(0)(j + 1) = inf; d(1)(j + 1) = j; j += 1 }
    // last row index (1-based) where each symbol occurred in `a`
    val da = new java.util.HashMap[Int, Int]()
    i = 1
    while (i <= la) {
      var db = 0
      j = 1
      while (j <= lb) {
        val k = da.getOrDefault(b(j - 1), 0)
        val l = db
        var cost = 1
        if (a(i - 1) == b(j - 1)) { cost = 0; db = j }
        var m = d(i)(j) + cost                        // substitute / match
        val ins = d(i + 1)(j) + 1                     // insert
        if (ins < m) m = ins
        val del = d(i)(j + 1) + 1                     // delete
        if (del < m) m = del
        val tr = d(k)(l) + (i - 1 - k) + 1 + (j - 1 - l) // transpose
        if (tr < m) m = tr
        d(i + 1)(j + 1) = m
        j += 1
      }
      da.put(a(i - 1), i)
      i += 1
    }
    d(la + 1)(lb + 1).toLong
  }
}
