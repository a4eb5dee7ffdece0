package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, Literal, RuntimeReplaceable}
import org.apache.spark.sql.catalyst.expressions.objects.StaticInvoke
import org.apache.spark.sql.catalyst.trees.UnaryLike
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types.{ArrayType, BooleanType, DataType, DoubleType, FloatType}

/** The one way a native kernel enters Catalyst. A kernel is a method
  * on a Scala object whose parameters are Catalyst's internal types
  * (`UTF8String`, `ArrayData`, `Array[Byte]`, primitives, an
  * `ObjectType` literal) and which returns SQL NULL as a `null` boxed
  * value. [[call]] wraps it in Spark's `StaticInvoke`: whole-stage
  * codegen emits one call per row to the object's static forwarder,
  * and interpreted evaluation (constant folding, `NO_CODEGEN`)
  * invokes the same method reflectively. A NULL argument gives NULL
  * without a call. Plans render the call as
  * `static_invoke(graft.functions.<Object>.<method>(…))`.
  */
private[graft] object Kernel {

  def call(obj: AnyRef, method: String, dataType: DataType,
           nullable: Boolean)(args: Column*): Column =
    ColumnBridge.column(StaticInvoke(obj.getClass, dataType, method,
      args.map(ColumnBridge.expression), returnNullable = nullable))

  /** The element-type flag of the vector kernels: `true` for an
    * ARRAY<FLOAT> column, `false` for ARRAY<DOUBLE>, a literal once
    * `v` is resolved. */
  def floatElements(v: Column): Column =
    ColumnBridge.column(FloatElements(ColumnBridge.expression(v)))

  /** ARRAY<FLOAT> or ARRAY<DOUBLE>: the vector kernels' input types. */
  val isVector: DataType => Boolean = {
    case ArrayType(FloatType | DoubleType, _) => true
    case _ => false
  }
}

/** See [[Kernel.floatElements]]. */
private[graft] case class FloatElements(child: Expression)
    extends RuntimeReplaceable with UnaryLike[Expression] {

  override lazy val replacement: Expression =
    Literal(child.dataType.asInstanceOf[ArrayType].elementType == FloatType)
  override def dataType: DataType = BooleanType
  override def nullable: Boolean = false
  override def prettyName: String = "float_elements"

  override def checkInputDataTypes(): TypeCheckResult =
    if (Kernel.isVector(child.dataType)) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName expects ARRAY<FLOAT|DOUBLE>, got ${child.dataType.sql}")

  override protected def withNewChildInternal(
      newChild: Expression): FloatElements = copy(child = newChild)
}

/** A native function under its SQL name
  * ([[graft.GraftExtensions.functions]]). Analysis checks each
  * argument type with `accepts` and names the function in any error;
  * the optimizer then swaps in `replacement`, the Column-API entry
  * point's own kernel call, so SQL and the Column API plan the same
  * expression.
  */
private[graft] case class SqlFunction(name: String, signature: String,
    accepts: Seq[DataType => Boolean], entry: Seq[Column] => Column,
    children: Seq[Expression]) extends RuntimeReplaceable {

  override lazy val replacement: Expression =
    ColumnBridge.expression(entry(children.map(ColumnBridge.column)))
  override def prettyName: String = name
  override protected def stringArgs: Iterator[Any] = children.iterator

  override def checkInputDataTypes(): TypeCheckResult =
    if (children.corresponds(accepts)((c, ok) => ok(c.dataType)))
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(s"$name expects $signature, got " +
      children.map(_.dataType.sql).mkString(", "))

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): SqlFunction =
    copy(children = newChildren)
}
