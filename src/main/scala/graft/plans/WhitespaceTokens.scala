package graft.plans

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, StringType}
import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.types.UTF8String

/** `java.util.StringTokenizer`'s default tokenization as one codegen'd
  * per-row expression: the non-empty runs of bytes between the five
  * ASCII delimiters {space, \t, \n, \r, \f}, as array<string>.
  *
  * A byte scan splits exactly where the character scan does: every
  * delimiter is ASCII, and every byte of a multi-byte UTF-8 sequence
  * is ≥ 0x80, so no delimiter byte occurs inside a character. Unicode
  * whitespace outside the five (U+00A0, U+2003, U+000B, …) stays in
  * its token, as it does for StringTokenizer.
  *
  * Why not `filter(split(text, regex), t => length(t) > 0)`: Spark's
  * `split` decodes each row to a Java String and runs `String.split`,
  * which recompiles this (non-single-char) pattern per call and
  * re-encodes every token; `filter` is a CodegenFallback that then
  * runs an interpreted lambda per token and keeps its whole operator
  * (the Generate, under explode) out of whole-stage codegen. Here each
  * row is scanned in place (no decode) and each token is copied once,
  * as `split` copies it, so the array owns its bytes after the input
  * row is reused.
  */
case class WhitespaceTokens(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"ws_tokens expects string, got ${other.simpleString}")
  }

  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "ws_tokens"

  override protected def nullSafeEval(input: Any): Any =
    WhitespaceTokens.tokenize(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => {
      s"${ev.value} = graft.plans.WhitespaceTokens.tokenize($c);"
    })

  override protected def withNewChildInternal(newChild: Expression): WhitespaceTokens =
    copy(child = newChild)
}

object WhitespaceTokens {

  // ' ' (0x20), or \t \n \r \f (0x09, 0x0A, 0x0D, 0x0C) — 0x09..0x0D
  // minus \u000B, which StringTokenizer does not split on
  private def isDelim(b: Byte): Boolean =
    b == ' ' || (b >= '\t' && b <= '\r' && b != 0x0b)

  def tokenize(text: UTF8String): ArrayData = {
    val base = text.getBaseObject
    val off = text.getBaseOffset
    val n = text.numBytes
    // pass 1 counts tokens, so the result array is sized once
    var count = 0
    var inToken = false
    var i = 0
    while (i < n) {
      val delim = isDelim(Platform.getByte(base, off + i))
      if (!delim && !inToken) count += 1
      inToken = !delim
      i += 1
    }
    // pass 2 copies them; every remaining token lies before byte n
    val out = new Array[Any](count)
    var k = 0
    i = 0
    while (k < count) {
      while (isDelim(Platform.getByte(base, off + i))) i += 1
      val start = i
      while (i < n && !isDelim(Platform.getByte(base, off + i))) i += 1
      val bytes = new Array[Byte](i - start)
      Platform.copyMemory(base, off + start, bytes, Platform.BYTE_ARRAY_OFFSET, bytes.length)
      out(k) = UTF8String.fromBytes(bytes)
      k += 1
    }
    new GenericArrayData(out)
  }
}
