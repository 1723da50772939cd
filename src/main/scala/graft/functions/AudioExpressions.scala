package graft.functions

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, ExpectsInputTypes, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.functions.call_function
import org.apache.spark.sql.types.{ArrayType, BinaryType, DataType, DoubleType, IntegerType}

/** Catalyst expressions for the audio arm of the multimodal seam
  * ([[graft.multimodal.WavAudio]]) — scan-stage per-row codec work like
  * [[PdfExtract]]/[[XlsxExtract]], eval-based (genuine byte imperation).
  */

/** `wav_pack(samples ARRAY<INT>, sample_rate INT)` → PCM16 mono WAV
  * binary. The encode twin for oracled container roundtrips.
  */
case class WavPack(left: Expression, right: Expression)
    extends BinaryExpression with ExpectsInputTypes with CodegenFallback {
  override def prettyName: String = "wav_pack"
  override def inputTypes: Seq[DataType] = Seq(ArrayType(IntegerType), IntegerType)
  override def dataType: DataType = BinaryType
  override def nullSafeEval(samples: Any, rate: Any): Any = {
    val a = samples.asInstanceOf[ArrayData]
    graft.multimodal.WavAudio.pack(
      (0 until a.numElements()).map(a.getInt), rate.asInstanceOf[Int])
  }
  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): WavPack =
    copy(left = newLeft, right = newRight)
}

/** `wav_rms(content BINARY, frame_size INT)` → ARRAY<DOUBLE> of per-frame
  * RMS energy (decode + feature-extract in one scan-stage pass).
  */
case class WavRms(left: Expression, right: Expression)
    extends BinaryExpression with ExpectsInputTypes with CodegenFallback {
  override def prettyName: String = "wav_rms"
  override def inputTypes: Seq[DataType] = Seq(BinaryType, IntegerType)
  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)
  override def nullSafeEval(content: Any, frameSize: Any): Any = {
    val (_, samples) = graft.multimodal.WavAudio.decode(content.asInstanceOf[Array[Byte]])
    new GenericArrayData(
      graft.multimodal.WavAudio.frameRms(samples, frameSize.asInstanceOf[Int]))
  }
  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): WavRms =
    copy(left = newLeft, right = newRight)
}

object AudioExpressions {
  def register(spark: SparkSession): Unit = {
    VectorFunctions.registerIfAbsent(spark, "wav_pack", es => WavPack(es(0), es(1)))
    VectorFunctions.registerIfAbsent(spark, "wav_rms", es => WavRms(es(0), es(1)))
  }

  def wavPack(samples: Column, rate: Column): Column =
    call_function("wav_pack", samples, rate)
  def wavRms(content: Column, frameSize: Column): Column =
    call_function("wav_rms", content, frameSize)
}
