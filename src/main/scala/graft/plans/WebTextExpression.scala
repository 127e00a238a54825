package graft.plans

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenContext
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

import graft.plans.Kernel.{Call, NullIfNull, column}

/** Main-content extraction kernel ([[graft.functions.WebText
  * .mainContent]]) as a codegen expression: block-segmented
  * length/link-density classification in ONE kernel call per row —
  * the block explode→per-block-regex→re-agg formulation would shuffle
  * the corpus by ~block count and run its regexes as CodegenFallback
  * lambdas; this stays a narrow projection inside the scan's
  * whole-stage span. Returns struct(n_blocks INT, n_good INT,
  * main_text STRING). */
case class MainContent(child: Expression, minChars: Int)
    extends UnaryKernel("main_content", StringType, StructType(Seq(
      StructField("n_blocks", IntegerType, nullable = false),
      StructField("n_good", IntegerType, nullable = false),
      StructField("main_text", StringType, nullable = false)))) {
  override def nullSafeEval(v: Any): Any =
    graft.functions.WebText.mainContent(v.asInstanceOf[UTF8String], minChars)
  override def kernel(ctx: CodegenContext) = Call("graft.functions.WebText.mainContent", minChars)
}

/** HTML character-reference decode ([[graft.functions.HtmlEntities
  * .decode]]) as a codegen expression: numeric `&#D;`/`&#xH;` refs
  * decode to arbitrary code points, which no built-in chain can
  * express (Spark's `chr` is Latin-1-only), and the chained-replace
  * formulation re-scans the string once per named entity — this is
  * ONE pass per row inside the scan's whole-stage span. */
case class HtmlEntityDecode(child: Expression)
    extends UnaryKernel("html_entity_decode", StringType, StringType) {
  override def nullSafeEval(v: Any): Any =
    graft.functions.HtmlEntities.decode(v.asInstanceOf[UTF8String])
  override def kernel(ctx: CodegenContext) = Call("graft.functions.HtmlEntities.decode")
}

/** Legacy-charset decode ([[graft.functions.Charsets.decode]]) as a
  * codegen expression: Spark 4's `decode` whitelists 7 charsets, so
  * Shift_JIS / EUC-KR / GBK / Big5 pages (several % of the web;
  * dominant in the JP/KR/CN crawl segments) cannot decode through the
  * built-in — they would mojibake and poison lang-ID and quality
  * signals downstream. The charset LABEL is a per-row column (each
  * page declares its own); the result is NULL for labels neither the
  * WHATWG alias table nor the JVM knows, so the caller coalesces to
  * the WHATWG UTF-8 default as an explicit, testable fallback. */
case class CharsetDecode(left: Expression, right: Expression)
    extends BinaryKernel("charset_decode", (BinaryType, StringType), StringType, NullIfNull) {
  override def nullSafeEval(body: Any, label: Any): Any =
    graft.functions.Charsets.decode(
      body.asInstanceOf[Array[Byte]], label.asInstanceOf[UTF8String])
  override def kernel(ctx: CodegenContext) = Call("graft.functions.Charsets.decode")
}

object WebTextExpressions {
  /** Main-content extraction over a string column. */
  def mainContent(c: Column, minChars: Int = 25): Column = column(c)(MainContent(_, minChars))

  /** HTML character-reference decode over a string column. */
  def htmlEntityDecode(c: Column): Column = column(c)(HtmlEntityDecode(_))

  /** Legacy-charset decode of a binary column under a per-row label
    * column; null when the label is unknown. */
  def charsetDecode(body: Column, label: Column): Column =
    column(body, label)(CharsetDecode(_, _))
}
