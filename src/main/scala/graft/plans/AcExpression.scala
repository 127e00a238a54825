package graft.plans

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenContext
import org.apache.spark.sql.types.{ArrayType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

import graft.functions.{AcAutomaton, AhoCorasick}
import graft.plans.Kernel.{Call, column}

/** One-pass Aho-Corasick scan (`ac_scan`): per-term occurrence counts
  * (array<long>, index-aligned with the automaton's term list) in a
  * single codegen kernel call — the term-count-independent scale path
  * for large blocklists. The automaton rides as an expression
  * reference object; its tables rebuild lazily per executor JVM. */
case class AcScan(child: Expression, ac: AcAutomaton)
    extends UnaryKernel("ac_scan", StringType, ArrayType(LongType, containsNull = false)) {
  override def nullSafeEval(v: Any): Any =
    AhoCorasick.scanCounts(v.asInstanceOf[UTF8String], ac)
  override def kernel(ctx: CodegenContext) = Call("graft.functions.AhoCorasick.scanCounts",
    reference(ctx, "acAutomaton", ac, "graft.functions.AcAutomaton"))
}

object AcExpression {
  def acScan(text: Column, ac: AcAutomaton): Column = column(text)(AcScan(_, ac))
}
