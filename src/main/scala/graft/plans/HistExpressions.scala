package graft.plans

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenContext
import org.apache.spark.sql.catalyst.trees.UnaryLike
import org.apache.spark.sql.types.{BinaryType, DataType, IntegerType, LongType}

import graft.functions.Hist
import graft.plans.Kernel.{Call, NullIf, column}

/** Log-bucketed histogram sketches as first-class binary columns — the
  * QUANTILE member of the sketch family ([[HllExpressions]] distinct,
  * [[CmsExpressions]] frequency). Same contract: built per corpus
  * release / group with map-side combine (one 15 KiB buffer per group
  * per task ships to the reduce, never the raw values), merged across
  * releases with `hist_union` without re-reading either corpus, and
  * every quantile replayable EXACTLY in the DuckDB oracle (integer
  * bucket map + integer rank — no doubles anywhere). SQL:
  * `hist_sketch(v)`, `hist_union(sk)`, `hist_quantile(sk, bp)`,
  * `hist_count(sk)`. */
case class HistSketchAgg(
    child: Expression,
    override val mutableAggBufferOffset: Int = 0,
    override val inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[Array[Long]] with UnaryLike[Expression] {

  override def dataType: DataType = BinaryType
  override def nullable: Boolean = false

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == LongType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"hist_sketch aggregates a nonnegative BIGINT column, got ${child.dataType}")

  override def createAggregationBuffer(): Array[Long] = Hist.emptyCounters()

  override def update(buffer: Array[Long], input: InternalRow): Array[Long] = {
    val v = child.eval(input)
    if (v != null) Hist.update(buffer, v.asInstanceOf[Long])
    buffer
  }

  override def merge(buffer: Array[Long], other: Array[Long]): Array[Long] = {
    Hist.merge(buffer, other)
    buffer
  }

  override def eval(buffer: Array[Long]): Any = Hist.toBytes(buffer)

  override def serialize(buffer: Array[Long]): Array[Byte] =
    Hist.toBytes(buffer)
  override def deserialize(storageFormat: Array[Byte]): Array[Long] =
    Hist.fromBytes(storageFormat)

  override def withNewMutableAggBufferOffset(newOffset: Int): HistSketchAgg =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): HistSketchAgg =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildInternal(newChild: Expression): HistSketchAgg =
    copy(child = newChild)
  override def prettyName: String = HistSketchAgg.name
}
object HistSketchAgg extends SqlFunction("hist_sketch") {
  def build(es: Seq[Expression]) = HistSketchAgg(es.head)
}

/** Union (elementwise counter sum) of already-built histogram
  * sketches; geometry rides in each header and must agree. */
case class HistUnionAgg(
    child: Expression,
    override val mutableAggBufferOffset: Int = 0,
    override val inputAggBufferOffset: Int = 0)
  extends SketchUnionAgg[Array[Long]] {

  override protected def read(bytes: Array[Byte]): Array[Long] = Hist.fromBytes(bytes)
  override protected def write(sketch: Array[Long]): Array[Byte] = Hist.toBytes(sketch)
  override protected def copyOf(sketch: Array[Long]): Array[Long] = sketch.clone()
  override protected def mergeInto(into: Array[Long], other: Array[Long]): Unit =
    Hist.merge(into, other)

  override def withNewMutableAggBufferOffset(newOffset: Int): HistUnionAgg =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): HistUnionAgg =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildInternal(newChild: Expression): HistUnionAgg =
    copy(child = newChild)
  override def prettyName: String = HistUnionAgg.name
}
object HistUnionAgg extends SqlFunction("hist_union") {
  def build(es: Seq[Expression]) = HistUnionAgg(es.head)
}

/** Quantile at integer basis points against a sketch column (scalar,
  * codegen): rank = ((N−1)·bp)/10000 integer-exact, answer = bucket
  * lower bound. NULL for an empty sketch. */
case class HistQuantile(left: Expression, right: Expression)
    extends BinaryKernel(HistQuantile.name, (BinaryType, IntegerType), LongType, NullIf("< 0L")) {
  override def nullSafeEval(sk: Any, bp: Any): Any = {
    val q = Hist.quantile(sk.asInstanceOf[Array[Byte]], bp.asInstanceOf[Int])
    if (q < 0L) null else q
  }
  override def kernel(ctx: CodegenContext) = Call("graft.functions.Hist.quantile")
}
object HistQuantile extends SqlFunction("hist_quantile") {
  def build(es: Seq[Expression]) = HistQuantile(es.head, es(1))
}

/** Total recorded count of a sketch column (scalar, codegen). */
case class HistCount(child: Expression)
    extends UnaryKernel(HistCount.name, BinaryType, LongType) {
  override def nullSafeEval(sk: Any): Any = Hist.count(sk.asInstanceOf[Array[Byte]])
  override def kernel(ctx: CodegenContext) = Call("graft.functions.Hist.count")
}
object HistCount extends SqlFunction("hist_count") {
  def build(es: Seq[Expression]) = HistCount(es.head)
}

object HistExpressions {

  def histSketch(c: Column): Column = column(c)(HistSketchAgg(_).toAggregateExpression())

  def histUnion(c: Column): Column = column(c)(HistUnionAgg(_).toAggregateExpression())

  def histQuantile(sketch: Column, bp: Column): Column =
    column(sketch, bp)(HistQuantile(_, _))

  def histCount(sketch: Column): Column = column(sketch)(HistCount(_))
}
