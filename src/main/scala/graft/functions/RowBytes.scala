package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.graftshim.Shims
import org.apache.spark.sql.types._

/** `unsafe_row_bytes(struct(cols…))`: the bytes the row of `cols` takes
  * in Spark's `UnsafeRow` format — what a checkpoint, cache block or
  * shuffle record of those columns holds, string and array payloads
  * included. Summed over a frame, it is the frame's materialized size;
  * the schema-width estimate (`EstimationUtils.getSizePerRow`) counts a
  * string as 20 bytes whatever it holds.
  *
  * Exact by construction for every type: a struct that is not already an
  * `UnsafeRow` goes through an `UnsafeProjection` built once per task, the
  * same conversion a checkpoint applies. Used by [[graft.ops.Pin.measured]]
  * inside an observed `sum`, so the size rides the materialization job. */
case class UnsafeRowBytes(child: Expression) extends UnaryExpression {

  override def dataType: DataType = LongType

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case _: StructType => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(s"$prettyName requires a struct, got $t")
  }

  @transient private lazy val project =
    UnsafeProjection.create(child.dataType.asInstanceOf[StructType])

  def compute(row: InternalRow): Long = row match {
    case u: UnsafeRow => u.getSizeInBytes.toLong
    case r => project(r).getSizeInBytes.toLong
  }

  override def nullSafeEval(input: Any): Any = compute(input.asInstanceOf[InternalRow])

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val self = ctx.addReferenceObj(prettyName, this, classOf[UnsafeRowBytes].getName)
    nullSafeCodeGen(ctx, ev, c => s"${ev.value} = $self.compute($c);")
  }

  override def prettyName: String = "unsafe_row_bytes"
  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object RowBytes {
  /** Per-row `UnsafeRow` bytes of `cols` ([[UnsafeRowBytes]]). */
  def unsafeRowBytes(cols: Column*): Column =
    Shims.column(UnsafeRowBytes(Shims.expression(org.apache.spark.sql.functions.struct(cols: _*))))
}
