package graft.plans

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.trees.UnaryLike
import org.apache.spark.sql.types.{BinaryType, DataType}

/** The union aggregate that every sketch family ([[HllUnionAgg]],
  * [[CmsUnionAgg]], [[HistUnionAgg]]) shares: it merges already-built
  * sketches (a binary column) into one, so corpus releases combine
  * without re-reading either corpus. Null sketches are skipped. The
  * buffer is `None` until the first sketch arrives; each family says
  * how its sketch decodes, encodes, copies and merges, and what empty
  * input evaluates to. */
abstract class SketchUnionAgg[S]
    extends TypedImperativeAggregate[Option[S]] with UnaryLike[Expression] {

  /** A stored sketch, decoded. */
  protected def read(bytes: Array[Byte]): S

  /** A sketch, encoded for storage. */
  protected def write(sketch: S): Array[Byte]

  /** A copy of `sketch` that the buffer may mutate. */
  protected def copyOf(sketch: S): S

  /** Fold `other` into `into` in place; fails when their geometries differ. */
  protected def mergeInto(into: S, other: S): Unit

  /** The result over no sketches. */
  protected def empty: Any = null

  override def dataType: DataType = BinaryType
  override def nullable: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == BinaryType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName expects a sketch (binary) column, got ${child.dataType}")

  override def createAggregationBuffer(): Option[S] = None

  private def add(buffer: Option[S], sketch: S): Option[S] = buffer match {
    case None => Some(copyOf(sketch))
    case Some(b) => mergeInto(b, sketch); buffer
  }

  override def update(buffer: Option[S], input: InternalRow): Option[S] =
    child.eval(input) match {
      case null => buffer
      case v => add(buffer, read(v.asInstanceOf[Array[Byte]]))
    }

  override def merge(buffer: Option[S], other: Option[S]): Option[S] =
    other.fold(buffer)(add(buffer, _))

  override def eval(buffer: Option[S]): Any = buffer.fold(empty)(write)

  override def serialize(buffer: Option[S]): Array[Byte] =
    buffer.fold(Array.emptyByteArray)(write)

  override def deserialize(bytes: Array[Byte]): Option[S] =
    if (bytes.isEmpty) None else Some(read(bytes))
}
