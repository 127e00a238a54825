package graft.plans

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenContext
import org.apache.spark.sql.catalyst.trees.UnaryLike
import org.apache.spark.sql.types.{BinaryType, DataType, LongType}

import graft.functions.Cms
import graft.plans.Kernel.{Call, column}

/** Count-min frequency sketches as first-class binary columns — the
  * approximate-COUNT companion to [[HllExpressions]]' distinct
  * sketch, same contract: built once per corpus release / group,
  * merged across releases with `cms_union` without re-reading either
  * corpus, and every estimate replayable in the DuckDB oracle
  * (splitmix row-hash chain + exact integer bucket sums). SQL:
  * `cms_sketch64(hash [, d, w])`, `cms_union(sk)`,
  * `cms_estimate(sk, hash)`. */
case class CmsSketchAgg(
    child: Expression,
    d: Int,
    w: Int,
    override val mutableAggBufferOffset: Int = 0,
    override val inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[Array[Long]] with UnaryLike[Expression] {

  Cms.requireGeometry(d, w)

  override def dataType: DataType = BinaryType
  override def nullable: Boolean = false

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == LongType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"cms_sketch64 aggregates a pre-hashed BIGINT column " +
        s"(e.g. cms_sketch64(fnv64(token))), got ${child.dataType}")

  override def createAggregationBuffer(): Array[Long] = Cms.emptyCounters(d, w)

  override def update(buffer: Array[Long], input: InternalRow): Array[Long] = {
    val v = child.eval(input)
    if (v != null) Cms.update(buffer, v.asInstanceOf[Long], d, w)
    buffer
  }

  override def merge(buffer: Array[Long], other: Array[Long]): Array[Long] = {
    Cms.merge(buffer, other)
    buffer
  }

  override def eval(buffer: Array[Long]): Any = Cms.toBytes(buffer, d, w)

  override def serialize(buffer: Array[Long]): Array[Byte] =
    Cms.toBytes(buffer, d, w)
  override def deserialize(storageFormat: Array[Byte]): Array[Long] =
    Cms.fromBytes(storageFormat)._3

  override def withNewMutableAggBufferOffset(newOffset: Int): CmsSketchAgg =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): CmsSketchAgg =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildInternal(newChild: Expression): CmsSketchAgg =
    copy(child = newChild)
  override def prettyName: String = CmsSketchAgg.name
}
object CmsSketchAgg extends SqlFunction("cms_sketch64") {
  def build(es: Seq[Expression]) = CmsSketchAgg(es.head,
    es.lift(1).fold(4)(intArg(_, "depth")), es.lift(2).fold(2048)(intArg(_, "width")))
}

/** Union (elementwise counter sum) of already-built sketches; the
  * geometry rides in each sketch's header and must agree. */
case class CmsUnionAgg(
    child: Expression,
    override val mutableAggBufferOffset: Int = 0,
    override val inputAggBufferOffset: Int = 0)
  extends SketchUnionAgg[(Int, Int, Array[Long])] {

  override protected def read(bytes: Array[Byte]): (Int, Int, Array[Long]) = Cms.fromBytes(bytes)
  override protected def write(sketch: (Int, Int, Array[Long])): Array[Byte] =
    Cms.toBytes(sketch._3, sketch._1, sketch._2)
  override protected def copyOf(sketch: (Int, Int, Array[Long])): (Int, Int, Array[Long]) =
    sketch.copy(_3 = sketch._3.clone())
  override protected def mergeInto(into: (Int, Int, Array[Long]),
                                   other: (Int, Int, Array[Long])): Unit = {
    require(into._1 == other._1 && into._2 == other._2, "cms_union: geometry mismatch " +
      s"(${into._1}x${into._2} vs ${other._1}x${other._2})")
    Cms.merge(into._3, other._3)
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): CmsUnionAgg =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): CmsUnionAgg =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildInternal(newChild: Expression): CmsUnionAgg =
    copy(child = newChild)
  override def prettyName: String = CmsUnionAgg.name
}
object CmsUnionAgg extends SqlFunction("cms_union") {
  def build(es: Seq[Expression]) = CmsUnionAgg(es.head)
}

/** Point frequency estimate of a pre-hashed key against a sketch
  * column (scalar, codegen): min over the d row counters. */
case class CmsEstimate(left: Expression, right: Expression)
    extends BinaryKernel(CmsEstimate.name, (BinaryType, LongType), LongType) {
  override def nullSafeEval(sk: Any, h: Any): Any =
    Cms.estimate(sk.asInstanceOf[Array[Byte]], h.asInstanceOf[Long])
  override def kernel(ctx: CodegenContext) = Call("graft.functions.Cms.estimate")
}
object CmsEstimate extends SqlFunction("cms_estimate") {
  def build(es: Seq[Expression]) = CmsEstimate(es.head, es(1))
}

object CmsExpressions {

  def cmsSketch64(c: Column, d: Int = 4, w: Int = 2048): Column =
    column(c)(CmsSketchAgg(_, d, w).toAggregateExpression())

  def cmsUnion(c: Column): Column = column(c)(CmsUnionAgg(_).toAggregateExpression())

  def cmsEstimate(sketch: Column, hash: Column): Column =
    column(sketch, hash)(CmsEstimate(_, _))
}
