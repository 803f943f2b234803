package graft.functions

import java.security.MessageDigest
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression, UnsafeArrayData}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.types.UTF8String

/** Native 32-bit md5 prefix of every element of a string array: the
  * first 4 digest bytes as an unsigned long, which equals
  * `conv(substring(md5(x), 1, 8), 16, 10)` cast to long.
  *
  * The composable form ([[graft.ext.TextOps.md5PrefixesFold]]) runs an
  * interpreted lambda per element that renders the digest as 32 hex
  * characters, cuts 8 of them and parses them back through a decimal
  * string. Here each element is one digest call into a reused buffer.
  * A null element gives null, a null array null (asserted in
  * TextOpsSpec).
  */
case class Md5Prefix(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes()
  : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case ArrayType(StringType, _) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult
          .TypeCheckFailure(
            s"md5 prefix expects array<string>, got ${other.simpleString}")
    }

  override def dataType: DataType = ArrayType(LongType, containsNull = true)

  override protected def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[ArrayData]
    val n = arr.numElements()
    val md = Md5Prefix.digest.get()
    val buf = Md5Prefix.buffer.get()
    val out = new Array[Long](n)
    var nulls: Array[Boolean] = null
    var i = 0
    while (i < n) {
      if (arr.isNullAt(i)) {
        if (nulls == null) nulls = new Array[Boolean](n)
        nulls(i) = true
      } else {
        val s = arr.getUTF8String(i)
        s.getBaseObject match {
          case b: Array[Byte] =>
            md.update(b, (s.getBaseOffset - Platform.BYTE_ARRAY_OFFSET).toInt,
              s.numBytes())
          case _ => md.update(s.getBytes)
        }
        md.digest(buf, 0, 16)
        out(i) = ((buf(0) & 0xffL) << 24) | ((buf(1) & 0xffL) << 16) |
          ((buf(2) & 0xffL) << 8) | (buf(3) & 0xffL)
      }
      i += 1
    }
    if (nulls == null) UnsafeArrayData.fromPrimitiveArray(out)
    else new GenericArrayData(Array.tabulate[Any](n)(j =>
      if (nulls(j)) null else out(j)))
  }

  override protected def doGenCode(ctx: CodegenContext,
                                   ev: ExprCode): ExprCode = {
    val self = ctx.addReferenceObj("md5Prefix", this, classOf[Md5Prefix].getName)
    nullSafeCodeGen(ctx, ev, in => s"""
      ${ev.value} = (org.apache.spark.sql.catalyst.util.ArrayData)
        $self.nullSafeEvalPublic($in);""")
  }

  private[functions] def nullSafeEvalPublic(input: Any): Any =
    nullSafeEval(input)

  override protected def withNewChildInternal(
      newChild: Expression): Md5Prefix = copy(child = newChild)
}

object Md5Prefix {
  // one digest and one output buffer per thread: an expression
  // instance may be evaluated by several task threads
  private val digest = ThreadLocal.withInitial[MessageDigest](
    () => MessageDigest.getInstance("MD5"))
  private val buffer = ThreadLocal.withInitial[Array[Byte]](
    () => new Array[Byte](16))
}
