package graft.plans

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenContext
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

import graft.functions.FastText.FastTextModel
import graft.plans.Kernel.{Call, NullIfNull, column}

/** Subword-fastText argmax ([[graft.functions.FastText.argmax]]) as a
  * codegen expression: the whole bilinear inference — tokenize,
  * char-n-gram bucket ids via fastText's own hash, hidden-vector
  * accumulation, L output dot products, argmax — in ONE kernel call
  * per row inside the scan projection. The model travels via
  * [[ModelRef]]: sample-sized models ride the task binary as a
  * reference object; a published lid.176-class matrix (~126 MB) is
  * broadcast and materialized once per executor JVM instead of once
  * per task. Returns struct(idx INT, logit DOUBLE); null when the
  * text has no feature ids. */
case class FastTextArgmax(child: Expression,
                          model: Either[FastTextModel, Broadcast[FastTextModel]])
    extends UnaryKernel("fasttext_argmax", StringType, StructType(Seq(
      StructField("idx", IntegerType, nullable = false),
      StructField("logit", DoubleType, nullable = false))), NullIfNull) {
  override def nullSafeEval(v: Any): Any =
    graft.functions.FastText.argmax(v.asInstanceOf[UTF8String], ModelRef.get(model))
  override def kernel(ctx: CodegenContext) = Call("graft.functions.FastText.argmax",
    reference(ctx, "model", model, classOf[FastTextModel].getName))
}

object FastTextExpressions {
  /** Subword-fastText argmax over a string column. */
  def fastTextArgmax(c: Column, model: FastTextModel): Column = {
    // dominant payload: the (nwords + bucket) × dim input matrix plus
    // the L × dim output matrix, 8 bytes a cell
    val est = (model.input.length.toLong + model.output.length.toLong) *
      model.dim * 8L
    column(c)(FastTextArgmax(_, ModelRef.of(model, est)))
  }
}
