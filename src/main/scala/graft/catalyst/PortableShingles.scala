package graft.catalyst

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Ordered engine-portable k-gram hashes: lowercase, tokenize on ASCII
  * whitespace runs (empties dropped), hash each k-token gram with the
  * portable 60-bit md5 key ([[PortableWinnow.portableHash]]). Element i
  * (0-based) is the gram starting at token i+1 — `posexplode` recovers
  * span positions without carrying the token array through the explode.
  *
  * Exists for the duplicated-span operator (q66): the composed Column
  * form explodes start indices and re-slices/joins the full token array
  * per output row, pushing O(tokens²) bytes per document through the
  * projection. This is the same hashes in one fused pass — O(tokens)
  * bytes, codegen'd, md5 per gram being the only irreducible cost.
  *
  * Fewer than k tokens → empty array (no whole-doc collapse: a span
  * operator has nothing to mark in a sub-k document).
  */
case class PortableShingles(child: Expression, k: Int) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType && k >= 1) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"portable_shingles expects (string, k >= 1), got ${child.dataType.simpleString}, $k")

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "portable_shingles"

  override def nullSafeEval(input: Any): Any =
    PortableShingles.compute(input.asInstanceOf[UTF8String], k)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.catalyst.PortableShingles.compute($c, $k)")

  override protected def withNewChildInternal(newChild: Expression): PortableShingles =
    copy(child = newChild)
}

object PortableShingles {

  def compute(input: UTF8String, k: Int): ArrayData = {
    val toks = PortableWinnow.tokenize(input)
    if (toks.n < k) new GenericArrayData(Array.emptyLongArray)
    else new GenericArrayData(PortableWinnow.gramHashesOf(toks, k))
  }
}
