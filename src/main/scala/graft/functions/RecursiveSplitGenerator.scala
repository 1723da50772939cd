package graft.functions

import graft.transform.RecursiveSplitter
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.expressions.{Expression, Generator}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** The recursive splitter as a native Catalyst [[Generator]] —
  * `recursive_split(text, size, overlap)` yields one `(chunk_idx, chunk)`
  * row per chunk, like `posexplode` of the UDF result but without ever
  * materializing the chunk array as a Spark value or crossing the UDF
  * boxing boundary: rows stream straight out of the generator into the
  * downstream operator (SURVEY §4 optimization item 2).
  */
case class RecursiveSplitGenerator(
    child: Expression,
    sizeExpr: Expression,
    overlapExpr: Expression)
  extends Generator with CodegenFallback {

  @transient private lazy val chunkSize: Int =
    sizeExpr.eval(InternalRow.empty).asInstanceOf[Number].intValue()
  @transient private lazy val chunkOverlap: Int =
    overlapExpr.eval(InternalRow.empty).asInstanceOf[Number].intValue()

  override def children: Seq[Expression] = Seq(child, sizeExpr, overlapExpr)

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    import org.apache.spark.sql.catalyst.analysis.TypeCheckResult._
    if (child.dataType != StringType)
      TypeCheckFailure(s"recursive_split needs a string input, got ${child.dataType}")
    else if (!sizeExpr.foldable || !overlapExpr.foldable)
      TypeCheckFailure("chunk size/overlap must be literals")
    else TypeCheckSuccess
  }

  override def elementSchema: StructType = new StructType()
    .add("chunk_idx", IntegerType, nullable = false)
    .add("chunk", StringType, nullable = false)

  override def eval(input: InternalRow): IterableOnce[InternalRow] = {
    val t = child.eval(input)
    if (t == null) Iterator.empty
    else {
      val chunks = RecursiveSplitter.split(t.toString, chunkSize, chunkOverlap)
      chunks.iterator.zipWithIndex.map { case (c, i) =>
        InternalRow(i, UTF8String.fromString(c))
      }
    }
  }

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): Expression =
    copy(child = newChildren(0), sizeExpr = newChildren(1), overlapExpr = newChildren(2))
}

object RecursiveSplitGenerator {
  /** Registers `recursive_split(text, size, overlap)` (idempotent). */
  def register(spark: SparkSession): Unit =
    VectorFunctions.registerIfAbsent(spark, "recursive_split",
      es => RecursiveSplitGenerator(es(0), es(1), es(2)))
}
