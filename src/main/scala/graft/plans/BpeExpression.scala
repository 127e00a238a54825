package graft.plans

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenContext
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, StringType}
import org.apache.spark.unsafe.types.UTF8String

import graft.plans.Kernel.{Call, column}

/** One greedy left-to-right BPE merge pass over a symbol array:
  * `bpe_merge(syms, 'a', 'b')` replaces every non-overlapping adjacent
  * (a, b) with the concatenated symbol (kernel:
  * [[graft.functions.BpeOps.mergePass]]). Applied k times with the k
  * learned pairs this is the BPE ENCODE step; [[graft.operators.Bpe]]
  * drives the LEARN loop with it. Codegen: a single static kernel
  * call, so k chained merges stay one WholeStageCodegen projection. */
case class BpeMerge(arr: Expression, a: Expression, b: Expression)
    extends TernaryKernel(BpeMerge.name, (ArrayType(StringType), StringType, StringType),
      ArrayType(StringType, containsNull = true)) {
  override def first: Expression = arr
  override def second: Expression = a
  override def third: Expression = b
  override def nullSafeEval(arrV: Any, aV: Any, bV: Any): Any =
    graft.functions.BpeOps.mergePass(arrV.asInstanceOf[ArrayData],
      aV.asInstanceOf[UTF8String], bV.asInstanceOf[UTF8String])
  override def kernel(ctx: CodegenContext) = Call("graft.functions.BpeOps.mergePass")
}
object BpeMerge extends SqlFunction("bpe_merge") {
  def build(es: Seq[Expression]) = BpeMerge(es.head, es(1), es(2))
}

object BpeExpression {
  def bpeMerge(arr: Column, a: Column, b: Column): Column = column(arr, a, b)(BpeMerge(_, _, _))
}
