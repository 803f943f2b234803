package graft.functions

import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.types.UTF8String

/** Native word shingles: every window of `n` consecutive single-space
  * tokens of a text, in ONE pass over its UTF-8 bytes.
  *
  * The composable form ([[graft.ext.TextOps.shinglesFold]]) splits the
  * text once per window inside a `transform` lambda — O(L²) per
  * document. Here the token boundaries are found once (byte 0x20
  * never occurs inside a multibyte UTF-8 sequence) and each window is
  * emitted as a byte slice of the text. `split(text, " ")` keeps empty
  * tokens, so `n` consecutive tokens joined by `" "` are exactly the
  * substring that spans them: the output equals the composable form's
  * by construction (asserted in TextOpsSpec), including a text of
  * fewer than `n` tokens → `[text]`, and null → null.
  */
case class WordShingles(child: Expression, n: Int) extends UnaryExpression {
  require(n >= 1, s"shingle size must be positive: $n")

  override def checkInputDataTypes()
  : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case StringType =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult
          .TypeCheckFailure(
            s"word shingles expect a string, got ${other.simpleString}")
    }

  override def dataType: DataType = ArrayType(StringType, containsNull = false)

  override protected def nullSafeEval(input: Any): Any = {
    // one copy of the text: the windows slice it, so they never point
    // into a row buffer the producer may reuse
    val bytes = input.asInstanceOf[UTF8String].getBytes
    val len = bytes.length
    // starts(t) = first byte of token t; token t ends at starts(t+1)-1
    var tokens = 1
    var i = 0
    while (i < len) { if (bytes(i) == ' ') tokens += 1; i += 1 }
    if (tokens < n)
      return new GenericArrayData(Array[Any](UTF8String.fromBytes(bytes)))
    val starts = new Array[Int](tokens + 1)
    var t = 1
    i = 0
    while (i < len) {
      if (bytes(i) == ' ') { starts(t) = i + 1; t += 1 }
      i += 1
    }
    starts(tokens) = len + 1
    val out = new Array[Any](tokens - n + 1)
    var w = 0
    while (w < out.length) {
      val from = starts(w)
      out(w) = UTF8String.fromAddress(bytes, Platform.BYTE_ARRAY_OFFSET + from,
        starts(w + n) - 1 - from)
      w += 1
    }
    new GenericArrayData(out)
  }

  override protected def doGenCode(ctx: CodegenContext,
                                   ev: ExprCode): ExprCode = {
    // one boxed call into the interpreted pass, as WinnowMinima does:
    // the loop is already a single primitive scan
    val self = ctx.addReferenceObj("shingles", this, classOf[WordShingles].getName)
    nullSafeCodeGen(ctx, ev, in => s"""
      ${ev.value} = (org.apache.spark.sql.catalyst.util.ArrayData)
        $self.nullSafeEvalPublic($in);""")
  }

  private[functions] def nullSafeEvalPublic(input: Any): Any =
    nullSafeEval(input)

  override protected def withNewChildInternal(
      newChild: Expression): WordShingles = copy(child = newChild)
}
