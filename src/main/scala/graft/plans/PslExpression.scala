package graft.plans

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenContext
import org.apache.spark.sql.types.{IntegerType, StringType}
import org.apache.spark.unsafe.types.UTF8String

import graft.functions.Psl
import graft.plans.Kernel.{Call, column}

/** Public-suffix label count of a host column under a [[Psl]] rule
  * set: the kernel half of the PSL-backed
  * [[graft.operators.WebClean.parseUrlsPsl]]. Returns an INT (never
  * null for non-null input — the default rule), so the registrable
  * site / public suffix strings derive from it with BUILT-IN slice /
  * array_join expressions and the null case ("host IS the public
  * suffix") is an ordinary `when` — no nullable custom codegen.
  *
  * The rule set rides as an expression reference object (the
  * [[HashGramLogit]] weights pattern): serialized once per executor
  * with the task binary, ≤ label-count hash probes per row, fully
  * inside whole-stage codegen. */
case class PslSuffixLabels(child: Expression, psl: Psl)
    extends UnaryKernel("psl_suffix_labels", StringType, IntegerType) {
  override def nullSafeEval(v: Any): Any = psl.suffixLabels(v.asInstanceOf[UTF8String])
  override def kernel(ctx: CodegenContext) =
    Call(reference(ctx, "psl", psl, "graft.functions.Psl") + ".suffixLabels")
}

object PslExpressions {
  /** Label count of `host`'s public suffix under `psl`. */
  def pslSuffixLabels(host: Column, psl: Psl): Column = column(host)(PslSuffixLabels(_, psl))
}
