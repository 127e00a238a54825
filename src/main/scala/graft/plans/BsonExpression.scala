package graft.plans

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenContext
import org.apache.spark.sql.types.{BinaryType, StructType}

import graft.functions.BsonDecoder
import graft.plans.Kernel.{Call, NullIfNull, column}

/** `from_bson(doc, schema)` — decode a BSON document (full, or the
  * prefix-stripped body [[graft.sources.DumpSource]] emits) into a
  * struct, the binary twin of `from_json`. The schema-compiled
  * [[BsonDecoder]] is shipped as a codegen reference object and the
  * generated code is a single kernel call, so the decode stays inside
  * the enclosing WholeStageCodegen span (reference semantics:
  * mgo/bson unmarshal, ght2dm.go:277-315). Undecodable bytes yield a
  * NULL struct; unknown document fields are skipped (mgo's
  * unmarshal-into-struct behavior). */
case class FromBson(child: Expression, schema: StructType)
    extends UnaryKernel("from_bson", BinaryType, schema, NullIfNull) {
  // one decoder per expression instance, serialized to executors for
  // interpreted eval and referenced from generated code
  private lazy val decoder = new BsonDecoder(schema)

  override def nullSafeEval(v: Any): Any = decoder.decode(v.asInstanceOf[Array[Byte]])
  override def kernel(ctx: CodegenContext) =
    Call(reference(ctx, "bsonDecoder", decoder, classOf[BsonDecoder].getName) + ".decode")
}

object BsonFunctions {
  /** BSON document (binary) → struct column, like `from_json`. */
  def fromBson(c: Column, schema: StructType): Column = column(c)(FromBson(_, schema))
}
