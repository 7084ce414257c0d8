package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, TernaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.graftshim.Shims
import org.apache.spark.sql.types._

/** Codegen'd per-row media fingerprints — the Catalyst spelling of the
  * [[graft.ops.Multimodal]] stub decoders (VERDICT r7 #7's measured
  * migration attempt).
  *
  * The typed `mapPartitions` path pays a per-row object boundary: every
  * `MediaRow` is deserialized from Tungsten format into a case class
  * (bytes copied out, meta struct boxed) and the result re-serialized,
  * with `DeserializeToObject`/`SerializeFromObject` fencing the stage out
  * of WholeStageCodegen. These expressions run the SAME kernels
  * ([[graft.ops.Multimodal.ahashKernel]]/`mhashKernel` — shared code, so
  * the bits cannot diverge) as one virtual call per row inside the
  * generated stage: the binary payload is read straight from the unsafe
  * row, nothing else materializes. The `media_decode` scenario measures the two
  * spellings; SCALE.md §media-decode records the verdict.
  */
abstract class MediaHashExpression extends TernaryExpression {

  override def dataType: DataType = LongType

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    (first.dataType, second.dataType, third.dataType) match {
      case (BinaryType, IntegerType, IntegerType) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case t => org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires (binary, int, int), got $t")
    }

  /** The shared kernel (compiled Scala, one call per row). */
  def compute(bytes: Array[Byte], w: Int, h: Int): Long

  override def nullSafeEval(bytes: Any, w: Any, h: Any): Any =
    compute(bytes.asInstanceOf[Array[Byte]],
      w.asInstanceOf[Int], h.asInstanceOf[Int])

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val self = ctx.addReferenceObj(prettyName, this, classOf[MediaHashExpression].getName)
    nullSafeCodeGen(ctx, ev, (b, w, h) =>
      s"${ev.value} = $self.compute($b, $w, $h);")
  }
}

/** `img_ahash(bytes, w, h)`: mean-thresholded 64-bit average-hash of the
  * decoded image — bit-identical to [[graft.ops.Multimodal.imageAhash]]. */
case class ImageAhash(first: Expression, second: Expression, third: Expression)
  extends MediaHashExpression {
  override def prettyName: String = "img_ahash"
  override def compute(bytes: Array[Byte], w: Int, h: Int): Long =
    graft.ops.Multimodal.ahashKernel(bytes, w, h)
  override protected def withNewChildrenInternal(
      newFirst: Expression, newSecond: Expression, newThird: Expression): Expression =
    copy(first = newFirst, second = newSecond, third = newThird)
}

/** `img_mhash(bytes, w, h)`: median-thresholded 64-bit hash —
  * bit-identical to [[graft.ops.Multimodal.imageMhash]]. */
case class ImageMhash(first: Expression, second: Expression, third: Expression)
  extends MediaHashExpression {
  override def prettyName: String = "img_mhash"
  override def compute(bytes: Array[Byte], w: Int, h: Int): Long =
    graft.ops.Multimodal.mhashKernel(bytes, w, h)
  override protected def withNewChildrenInternal(
      newFirst: Expression, newSecond: Expression, newThird: Expression): Expression =
    copy(first = newFirst, second = newSecond, third = newThird)
}

object MediaExpressions {
  def img_ahash(bytes: Column, w: Column, h: Column): Column =
    Shims.column(ImageAhash(
      Shims.expression(bytes), Shims.expression(w), Shims.expression(h)))
  def img_mhash(bytes: Column, w: Column, h: Column): Column =
    Shims.column(ImageMhash(
      Shims.expression(bytes), Shims.expression(w), Shims.expression(h)))
}
