package graft.functions

import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.types.{DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** RFC-3986 percent-encoding of a path, keeping `:` and `/` unescaped —
  * the DRI identifier quoting rule (reference:
  * lambda_functions/tre-bagit-to-dri-sip/tre_bagit.py:76, which calls
  * urllib.parse.quote then restores ':'). Unreserved set matches Python's
  * `urllib.parse.quote`: ALPHA / DIGIT / '_' / '.' / '-' / '~', plus the
  * safe set ':' '/'. Hex digits uppercase, bytes are UTF-8.
  */
object PercentEncode {
  private val hex = "0123456789ABCDEF"

  def isSafe(b: Byte): Boolean = {
    val c = b.toChar
    (c >= 'A' && c <= 'Z') || (c >= 'a' && c <= 'z') ||
    (c >= '0' && c <= '9') ||
    c == '_' || c == '.' || c == '-' || c == '~' || c == ':' || c == '/'
  }

  def encode(s: String): String = {
    val bytes = s.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    val sb = new java.lang.StringBuilder(bytes.length + 8)
    var i = 0
    while (i < bytes.length) {
      val b = bytes(i)
      if (isSafe(b)) sb.append(b.toChar)
      else {
        sb.append('%')
        sb.append(hex((b >> 4) & 0xf))
        sb.append(hex(b & 0xf))
      }
      i += 1
    }
    sb.toString
  }
}

/** Catalyst expression wrapper so the encode stays inside the SQL engine
  * (no Scala-closure UDF serialization; eligible for constant folding).
  */
case class PercentEncodeExpr(child: Expression)
    extends UnaryExpression with CodegenFallback {
  override def dataType: DataType = StringType
  override def nullSafeEval(v: Any): Any =
    UTF8String.fromString(PercentEncode.encode(v.asInstanceOf[UTF8String].toString))
  override protected def withNewChildInternal(c: Expression): PercentEncodeExpr =
    copy(child = c)
  override def prettyName: String = "percent_encode"
}
