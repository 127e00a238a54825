package graft.plans

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenContext
import org.apache.spark.sql.catalyst.trees.UnaryLike
import org.apache.spark.sql.types.{BinaryType, DataType, DoubleType, LongType}

import graft.functions.Hll
import graft.plans.Kernel.{Call, column}

/** Mergeable distinct-count sketches as FIRST-CLASS COLUMNS — the
  * custom-AGGREGATE capability (`TypedImperativeAggregate`) that the
  * scalar kernels in [[HashExpressions]] don't exercise.
  *
  * Why not Spark's built-in `hll_sketch_agg` (DataSketches HLL): that
  * sketch's hashing and register encoding are a black box to the
  * DuckDB oracle, so its estimates can only be rows-only checked. This
  * sketch ([[graft.functions.Hll]]) is built from oracle-replayable
  * parts — fnv64 pre-hash, top-p bucket bits, `bin()`-computable rank
  * window, exact power-of-two register sums — so the ESTIMATE ITSELF
  * is hash-checked against DuckDB (q_hll_card), and the binary sketch
  * column is a stable cross-release artifact: per-partition sketches
  * persisted with a corpus release merge with next release's via
  * `hll_union` without re-reading either corpus (the overlapCard
  * pattern at sketch cost instead of full-distinct cost).
  *
  * Aggregation runs in ObjectHashAggregateExec (the standard physical
  * home of imperative-buffer aggregates); per-group state is one
  * `2^p`-byte array, update is branch-free register max, and partial
  * aggregation (map-side combine) works as for any Spark aggregate —
  * the shuffle carries one sketch per group per map task, never rows.
  */
case class HllSketchAgg(
    child: Expression,
    p: Int,
    override val mutableAggBufferOffset: Int = 0,
    override val inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[Array[Byte]] with UnaryLike[Expression] {

  Hll.requireP(p)

  override def dataType: DataType = BinaryType
  override def nullable: Boolean = false

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == LongType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"hll_sketch64 aggregates a pre-hashed BIGINT column " +
        s"(e.g. hll_sketch64(fnv64(text), p)), got ${child.dataType}")

  override def createAggregationBuffer(): Array[Byte] =
    new Array[Byte](Hll.numRegisters(p))

  override def update(buffer: Array[Byte], input: InternalRow): Array[Byte] = {
    val v = child.eval(input)
    if (v != null) Hll.update(buffer, v.asInstanceOf[Long], p)
    buffer
  }

  override def merge(buffer: Array[Byte], other: Array[Byte]): Array[Byte] = {
    Hll.merge(buffer, other)
    buffer
  }

  override def eval(buffer: Array[Byte]): Any = buffer

  override def serialize(buffer: Array[Byte]): Array[Byte] = buffer
  override def deserialize(storageFormat: Array[Byte]): Array[Byte] = storageFormat

  override def withNewMutableAggBufferOffset(newOffset: Int): HllSketchAgg =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): HllSketchAgg =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildInternal(newChild: Expression): HllSketchAgg =
    copy(child = newChild)
  override def prettyName: String = HllSketchAgg.name
}
object HllSketchAgg extends SqlFunction("hll_sketch64") {
  def build(es: Seq[Expression]) =
    HllSketchAgg(es.head, es.lift(1).fold(9)(intArg(_, "precision")))
}

/** Union (bytewise register max) of already-built sketches — the
  * cross-release merge: estimate the distinct count of several corpus
  * releases from their persisted sketch columns without touching the
  * corpora. Null sketches (empty groups) are skipped.
  *
  * The GEOMETRY is read from the sketches themselves (register-array
  * length = 2^p), so `hll_union(sk)` works on sketches of any stored
  * precision without the caller tracking p out-of-band — the CMS
  * self-description contract. `p` is only the fallback geometry when
  * the input is EMPTY (eval then returns the all-zero sketch of 2^p
  * registers, whose estimate is 0); mismatched sketch widths fail
  * with the register-width message rather than merging misaligned
  * registers. */
case class HllUnionAgg(
    child: Expression,
    p: Int,
    override val mutableAggBufferOffset: Int = 0,
    override val inputAggBufferOffset: Int = 0)
  extends SketchUnionAgg[Array[Byte]] {

  Hll.requireP(p)

  override def nullable: Boolean = false

  override protected def read(bytes: Array[Byte]): Array[Byte] = bytes
  override protected def write(sketch: Array[Byte]): Array[Byte] = sketch
  override protected def copyOf(sketch: Array[Byte]): Array[Byte] = sketch.clone()
  override protected def mergeInto(into: Array[Byte], other: Array[Byte]): Unit =
    Hll.merge(into, other)
  override protected def empty: Any = new Array[Byte](Hll.numRegisters(p))

  override def withNewMutableAggBufferOffset(newOffset: Int): HllUnionAgg =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): HllUnionAgg =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildInternal(newChild: Expression): HllUnionAgg =
    copy(child = newChild)
  override def prettyName: String = HllUnionAgg.name
}
object HllUnionAgg extends SqlFunction("hll_union") {
  def build(es: Seq[Expression]) =
    HllUnionAgg(es.head, es.lift(1).fold(9)(intArg(_, "precision")))
}

/** Distinct-count estimate of a sketch column (scalar, codegen). */
case class HllEstimate(child: Expression)
    extends UnaryKernel(HllEstimate.name, BinaryType, DoubleType) {
  override def nullSafeEval(v: Any): Any = Hll.estimate(v.asInstanceOf[Array[Byte]])
  override def kernel(ctx: CodegenContext) = Call("graft.functions.Hll.estimate")
}
object HllEstimate extends SqlFunction("hll_estimate") {
  def build(es: Seq[Expression]) = HllEstimate(es.head)
}

object HllExpressions {

  /** Sketch aggregate over a pre-hashed bigint column. */
  def hllSketch64(c: Column, p: Int): Column =
    column(c)(HllSketchAgg(_, p).toAggregateExpression())

  /** Union aggregate over a sketch column. */
  def hllUnion(c: Column, p: Int): Column =
    column(c)(HllUnionAgg(_, p).toAggregateExpression())

  /** Estimate from a sketch column. */
  def hllEstimate(c: Column): Column = column(c)(HllEstimate(_))

  /** Convenience: estimated distinct of a pre-hashed bigint column. */
  def hllCountDistinct(c: Column, p: Int = 9): Column =
    hllEstimate(hllSketch64(c, p))
}
