package graft.plans

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.{Column, GraftSqlShim}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, ExpressionInfo, Literal, TernaryExpression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodeGenerator, CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types.{ArrayType, DataType}

/** What every graft scalar kernel expression shares, written once.
  *
  * A kernel is a Catalyst expression whose whole per-row work is one
  * static Scala call, so generated code stays inside the enclosing
  * WholeStageCodegen span. It states its SQL name, input and result
  * types, its Scala eval (`nullSafeEval`) and its static call
  * ([[kernel]]). This trait supplies the input-type check, the
  * generated code around the call (see [[Kernel.Result]]), the copy
  * with new children, and the transport of models and tables into
  * generated code ([[reference]]). Mix it in through [[UnaryKernel]],
  * [[BinaryKernel]] or [[TernaryKernel]]. */
trait Kernel extends Expression with Serializable {
  /** One type per child. An array type matches arrays of that element
    * type whatever their element nullability. */
  def inputTypes: Seq[DataType]

  /** What the generated code does with the call's return value. */
  def result: Kernel.Result

  /** The static call in generated code. Evaluated before the children's
    * code, so reference objects keep their slot order. */
  protected def kernel(ctx: CodegenContext): Kernel.Call

  override def nullable: Boolean = result.nullable || children.exists(_.nullable)

  override def checkInputDataTypes(): TypeCheckResult = {
    val got = children.map(_.dataType)
    if (got.length == inputTypes.length && inputTypes.zip(got).forall { case (w, g) => Kernel.accepts(w, g) })
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires ${Kernel.signature(inputTypes)}, got ${Kernel.signature(got)}")
  }

  abstract override def eval(input: InternalRow): Any = {
    val v = super.eval(input)
    if (result == Kernel.NewArray && v != null) new GenericArrayData(v) else v
  }

  /** Java for `call(children…, extra…)`, stored into `ev` as [[result]] says. */
  protected def store(ctx: CodegenContext, ev: ExprCode, call: Kernel.Call,
                      args: Seq[String]): String = {
    val c = s"${call.fn}(${(args ++ call.extra).mkString(", ")})"
    result match {
      case Kernel.Value => s"${ev.value} = $c;"
      case Kernel.NewArray =>
        s"${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData($c);"
      case Kernel.NullIfNull => s"\n${ev.value} = $c;\n${ev.isNull} = ${ev.value} == null;\n"
      case Kernel.NullIf(test) =>
        // fresh: over non-nullable children the block is inlined unbraced
        // into the shared method scope, where a fixed name would collide
        // when one projection calls the kernel twice
        val r = ctx.freshName("r")
        s"${CodeGenerator.javaType(dataType)} $r = $c;\n" +
          s"if ($r $test) { ${ev.isNull} = true; } else { ${ev.value} = $r; }\n"
    }
  }

  /** `obj` as a Java term of class `cls` in generated code. A plain
    * object, or a [[ModelRef]] `Left`, rides the task binary as a
    * reference object; a [[ModelRef]] `Right` broadcast is resolved
    * once per generated-class instance and then served from the
    * executor's broadcast cache. */
  protected def reference(ctx: CodegenContext, name: String, obj: Any, cls: String): String =
    obj match {
      case Right(bc: Broadcast[_]) =>
        val ref = ctx.addReferenceObj(s"${name}Bc", bc, classOf[Broadcast[_]].getName)
        ctx.addMutableState(cls, name, v => s"$v = ($cls) $ref.value();")
      case Left(model) => ctx.addReferenceObj(name, model, cls)
      case plain => ctx.addReferenceObj(name, plain, cls)
    }
}

object Kernel {
  /** What generated code does with a kernel's return value. */
  sealed abstract class Result(val nullable: Boolean) extends Serializable
  /** Stored as it is. */
  case object Value extends Result(false)
  /** A Java array, wrapped as `GenericArrayData` (eval too). */
  case object NewArray extends Result(false)
  /** `null` means SQL NULL. */
  case object NullIfNull extends Result(true)
  /** A primitive return for which the Java `test` (e.g. `< 0L`) holds
    * means SQL NULL; the kernel's eval applies the same test. */
  final case class NullIf(test: String) extends Result(true)

  /** A static call: the Java function (or `ref.method`), then the Java
    * arguments that follow the children's values. */
  final case class Call(fn: String, extra: Any*)

  private def accepts(want: DataType, got: DataType): Boolean = (want, got) match {
    case (ArrayType(w, _), ArrayType(g, _)) => accepts(w, g)
    case _ => want == got
  }

  private def signature(ts: Seq[DataType]): String = ts.map(_.catalogString).mkString("(", ", ", ")")

  private def expr(c: Column): Expression = GraftSqlShim.expression(c)

  /** The Column API form of an expression over Column arguments. */
  def column(c: Column)(f: Expression => Expression): Column =
    GraftSqlShim.column(f(expr(c)))
  def column(a: Column, b: Column)(f: (Expression, Expression) => Expression): Column =
    GraftSqlShim.column(f(expr(a), expr(b)))
  def column(a: Column, b: Column, c: Column)(
      f: (Expression, Expression, Expression) => Expression): Column =
    GraftSqlShim.column(f(expr(a), expr(b), expr(c)))
}

/** A one-input kernel. */
abstract class UnaryKernel(name: String, in: DataType, out: DataType,
                           val result: Kernel.Result = Kernel.Value)
    extends UnaryExpression with Kernel {
  override def prettyName: String = name
  override def dataType: DataType = out
  override def inputTypes: Seq[DataType] = Seq(in)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val call = kernel(ctx)
    nullSafeCodeGen(ctx, ev, c => store(ctx, ev, call, Seq(c)))
  }
  override protected def withNewChildInternal(c: Expression): Expression =
    legacyWithNewChildren(Vector(c))
}

/** A two-input kernel. */
abstract class BinaryKernel(name: String, in: (DataType, DataType), out: DataType,
                            val result: Kernel.Result = Kernel.Value)
    extends BinaryExpression with Kernel {
  override def prettyName: String = name
  override def dataType: DataType = out
  override def inputTypes: Seq[DataType] = Seq(in._1, in._2)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val call = kernel(ctx)
    nullSafeCodeGen(ctx, ev, (a, b) => store(ctx, ev, call, Seq(a, b)))
  }
  override protected def withNewChildrenInternal(a: Expression, b: Expression): Expression =
    legacyWithNewChildren(Vector(a, b))
}

/** A three-input kernel. */
abstract class TernaryKernel(name: String, in: (DataType, DataType, DataType),
                             out: DataType, val result: Kernel.Result = Kernel.Value)
    extends TernaryExpression with Kernel {
  override def prettyName: String = name
  override def dataType: DataType = out
  override def inputTypes: Seq[DataType] = Seq(in._1, in._2, in._3)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val call = kernel(ctx)
    nullSafeCodeGen(ctx, ev, (a, b, c) => store(ctx, ev, call, Seq(a, b, c)))
  }
  override protected def withNewChildrenInternal(
      a: Expression, b: Expression, c: Expression): Expression =
    legacyWithNewChildren(Vector(a, b, c))
}

/** A function callable from SQL: its name, which the expression it
  * builds also uses as `prettyName`, and how SQL arguments build it.
  * The companion object of each SQL-registered expression is one, and
  * [[GraftExtensions]] registers them. */
abstract class SqlFunction(val name: String) {
  def build(args: Seq[Expression]): Expression

  def info: ExpressionInfo = new ExpressionInfo(getClass.getName.stripSuffix("$"), name)

  /** A SQL argument that must be an integer literal (`what` names it
    * in the error). */
  protected def intArg(e: Expression, what: String): Int = e match {
    case Literal(v: Int, _) => v
    case other => throw new IllegalArgumentException(
      s"$name $what must be an integer literal, got $other")
  }
}
