package graft.plans

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenContext
import org.apache.spark.sql.types.{IntegerType, StringType}
import org.apache.spark.unsafe.types.UTF8String

import graft.plans.Kernel.{Call, column}

/** `regexp_count` without materializing the matches (optimization
  * guide §1.2, per-task work): Spark's built-in is an alias for
  * `size(regexp_extract_all(subject, regex, 0))`, allocating a
  * MatchResult + UTF8String per match and an array per row only to
  * take its length — for per-character classes that is an allocation
  * per character. This kernel runs the identical non-overlapping
  * `find()` walk and just counts. The pattern is compiled once on the
  * driver (the regex is a construction-time constant everywhere the
  * engine counts) and rides as a reference object. Result values are
  * bit-identical to the built-in: same engine, same match walk, same
  * int. Null text → null, as the built-in. */
case class RegexCount(child: Expression, regex: String)
    extends UnaryKernel("regex_count", StringType, IntegerType) {

  @transient private lazy val pattern: java.util.regex.Pattern =
    java.util.regex.Pattern.compile(regex)

  override def nullSafeEval(v: Any): Any =
    graft.functions.RegexOps.countMatches(v.asInstanceOf[UTF8String], pattern)
  override def kernel(ctx: CodegenContext) = Call("graft.functions.RegexOps.countMatches",
    reference(ctx, "pattern", pattern, "java.util.regex.Pattern"))
}

object RegexCountExpression {
  /** Count of non-overlapping matches of the CONSTANT `regex` in
    * `text` — a drop-in for `regexp_count(text, lit(regex))`. */
  def regexCount(text: Column, regex: String): Column = column(text)(RegexCount(_, regex))
}
