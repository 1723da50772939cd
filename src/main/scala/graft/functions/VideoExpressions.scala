package graft.functions

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{ExpectsInputTypes, Expression, QuaternaryExpression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.functions.call_function
import org.apache.spark.sql.types.{ArrayType, BinaryType, DataType, IntegerType}

/** Catalyst expressions for the video arm of the multimodal seam
  * ([[graft.multimodal.AviVideo]]) — scan-stage per-row container work
  * like [[WavPack]]/[[WavRms]], eval-based (genuine byte imperation).
  * The container walk is the cheap half of video processing; pixel
  * decoding of the extracted frame payloads stays behind the pluggable
  * [[graft.multimodal.MediaDecoder]] seam.
  */

/** `avi_pack(frames ARRAY<BINARY>, width INT, height INT, fps INT)` →
  * MJPEG AVI binary. The encode twin for oracled container roundtrips.
  */
case class AviPack(first: Expression, second: Expression,
    third: Expression, fourth: Expression)
    extends QuaternaryExpression with ExpectsInputTypes with CodegenFallback {
  override def prettyName: String = "avi_pack"
  override def inputTypes: Seq[DataType] =
    Seq(ArrayType(BinaryType), IntegerType, IntegerType, IntegerType)
  override def dataType: DataType = BinaryType
  override def nullSafeEval(frames: Any, w: Any, h: Any, fps: Any): Any = {
    val a = frames.asInstanceOf[ArrayData]
    graft.multimodal.AviVideo.pack(
      (0 until a.numElements()).map(a.getBinary),
      w.asInstanceOf[Int], h.asInstanceOf[Int], fps.asInstanceOf[Int])
  }
  override protected def withNewChildrenInternal(
      newFirst: Expression, newSecond: Expression,
      newThird: Expression, newFourth: Expression): AviPack =
    copy(first = newFirst, second = newSecond,
      third = newThird, fourth = newFourth)
}

/** `avi_frames(content BINARY)` → ARRAY<BINARY> of frame payloads in
  * file order (the RIFF `movi` chunk walk; dims/fps validated, loud on
  * non-AVI input).
  */
case class AviFrames(child: Expression)
    extends UnaryExpression with ExpectsInputTypes with CodegenFallback {
  override def prettyName: String = "avi_frames"
  override def inputTypes: Seq[DataType] = Seq(BinaryType)
  override def dataType: DataType = ArrayType(BinaryType, containsNull = false)
  override def nullSafeEval(content: Any): Any = {
    val (_, _, _, frames) =
      graft.multimodal.AviVideo.decode(content.asInstanceOf[Array[Byte]])
    new GenericArrayData(frames.toArray)
  }
  override protected def withNewChildInternal(newChild: Expression): AviFrames =
    copy(child = newChild)
}

object VideoExpressions {
  def register(spark: SparkSession): Unit = {
    VectorFunctions.registerIfAbsent(spark, "avi_pack",
      es => AviPack(es(0), es(1), es(2), es(3)))
    VectorFunctions.registerIfAbsent(spark, "avi_frames", es => AviFrames(es.head))
  }

  def aviPack(frames: Column, width: Column, height: Column, fps: Column): Column =
    call_function("avi_pack", frames, width, height, fps)
  def aviFrames(content: Column): Column = call_function("avi_frames", content)
}
