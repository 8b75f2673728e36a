package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types.{ArrayType, DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Runtime for [[AsciiTokens]] and [[TokenCounts]]: `[A-Za-z]`(`0-9`)
  * runs of a UTF-8 string. ASCII token classes are byte-safe in UTF-8
  * (continuation bytes are ≥ 0x80), and treating every other byte as
  * a delimiter is exactly the reference framework's tokenizer.
  * java.util.regex `split()` on the same class measured 58 s for a
  * 406 MB corpus; the byte scan is ~10× faster. */
object TokenUtil {
  /** The one token byte class: `[A-Za-z]`, plus `[0-9]` when
    * `includeDigits`. */
  @inline def isTokenByte(b: Byte, includeDigits: Boolean): Boolean =
    (b >= 'a' && b <= 'z') || (b >= 'A' && b <= 'Z') ||
      (includeDigits && b >= '0' && b <= '9')

  /** The token runs of `s` as an array of strings. It copies the line
    * out with `getBytes`, collects each run as a new `UTF8String` in a
    * per-line `ArrayList`, and copies that into the result array. */
  def tokens(s: UTF8String, includeDigits: Boolean): ArrayData = {
    val bytes = s.getBytes
    val out = new java.util.ArrayList[Any]()
    var i = 0
    var start = -1
    while (i < bytes.length) {
      if (isTokenByte(bytes(i), includeDigits)) { if (start < 0) start = i }
      else if (start >= 0) {
        out.add(UTF8String.fromBytes(bytes, start, i - start)); start = -1
      }
      i += 1
    }
    if (start >= 0) out.add(UTF8String.fromBytes(bytes, start, bytes.length - start))
    new GenericArrayData(out.toArray)
  }
}

/** `[A-Za-z]+` (or `[A-Za-z0-9]+`) token runs of a string column —
  * custom codegen expression replacing regex split on the wordcount
  * hot path (SURVEY.md §4/§5). */
case class AsciiTokens(child: Expression, includeDigits: Boolean)
    extends UnaryExpression {

  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "ascii_tokens"

  override def nullSafeEval(input: Any): Any =
    TokenUtil.tokens(input.asInstanceOf[UTF8String], includeDigits)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"graft.functions.TokenUtil.tokens($c, $includeDigits)")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object TokenCol {
  /** Letter runs (the `documents` tokenizer — matches the
    * `[^A-Za-z]+` split oracle). */
  def letterTokens(c: Column): Column =
    ColumnBridge.column(AsciiTokens(ColumnBridge.expression(c), includeDigits = false))

  /** DuckDB twin of [[letterTokens]] over the SQL expression `text`:
    * the `[^A-Za-z]+` split without the empty strings a leading or
    * trailing delimiter leaves (the scan never emits one). */
  def letterTokensSql(text: String): String =
    s"list_filter(string_split_regex($text, '[^A-Za-z]+'), x -> x <> '')"
}
