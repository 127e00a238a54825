package graft.plans

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenContext
import org.apache.spark.sql.types.{BooleanType, LongType}
import org.apache.spark.util.sketch.BloomFilter

import graft.plans.Kernel.{Call, column}

/** Membership probe of a driver-built [[BloomFilter]] against a bigint
  * column — the prefilter half of scalable decontamination (see
  * [[graft.operators.Decontaminate.decontaminateBloom]]).
  *
  * The filter rides into the task binary as a codegen reference object
  * (`BloomFilterImpl` is `java.io.Serializable`; this is the same
  * transport Spark's own runtime-filter bloom probes use), so the probe
  * stays inside the enclosing WholeStageCodegen span — one virtual call
  * per row against executor-local bits, no shuffle, no UDF. NO false
  * negatives by construction; false positives are the caller's
  * contract to resolve (decontaminateBloom re-verifies with an exact
  * join, so the composed result is exact).
  */
case class BloomMightContainLong(child: Expression, bloom: BloomFilter)
    extends UnaryKernel("bloom_might_contain", LongType, BooleanType) {
  override def nullSafeEval(v: Any): Any = bloom.mightContainLong(v.asInstanceOf[Long])
  override def kernel(ctx: CodegenContext) =
    Call(reference(ctx, "bloom", bloom, classOf[BloomFilter].getName) + ".mightContainLong")
}

object BloomExpression {
  /** `bloom.mightContainLong(c)` as a codegen Column predicate. */
  def mightContainLong(c: Column, bloom: BloomFilter): Column =
    column(c)(BloomMightContainLong(_, bloom))
}
