package graft.functions

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult.{TypeCheckFailure, TypeCheckSuccess}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String
import org.apache.spark.util.sketch.CountMinSketch

/** Count-min-sketch table functions — the frequency analog of the HLL
  * sketch-table pattern (x7b): build per-group sketches in ONE corpus
  * pass with Spark's built-in `count_min_sketch` aggregate, persist them,
  * then MERGE and query the persisted sketches forever after without
  * rescanning the corpus. At 100 TB the corpus scan is the cost; a CMS is
  * a few hundred KB per group, and counter-wise merge is exact — merging
  * shard sketches yields byte-identical counters to one global sketch
  * (asserted in CmsSpec), so sketch tables compose across partitions,
  * days, and datasets.
  *
  * Spark ships the BUILD aggregate but no merge aggregate and no SQL
  * estimate accessor; these two close the loop:
  *  - [[CmsMerge]] `cms_merge(sketch)`: merges serialized sketches
  *    (same eps/confidence/seed enforced by the sketch library).
  *  - [[CmsEstimate]] `cms_estimate(sketch, item)`: point-frequency
  *    estimate (string or bigint item — hash-compatible with what
  *    `count_min_sketch` added). Deserialization is cached per sketch
  *    byte-array so a terms×sketch join pays one decode per sketch, not
  *    per row.
  *
  * Guarantee reminder: estimate >= true count always; estimate <= true +
  * eps·N with the sketch's confidence.
  */
case class CmsMerge(
    child: Expression,
    override val mutableAggBufferOffset: Int = 0,
    override val inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[Option[CountMinSketch]] {

  override def createAggregationBuffer(): Option[CountMinSketch] = None

  override def update(
      buf: Option[CountMinSketch],
      input: InternalRow): Option[CountMinSketch] = {
    child.eval(input) match {
      case null => buf
      case bytes: Array[Byte] =>
        val incoming = CountMinSketch.readFrom(bytes)
        buf match {
          case None => Some(incoming)
          case Some(acc) => Some(acc.mergeInPlace(incoming))
        }
    }
  }

  override def merge(
      buf: Option[CountMinSketch],
      other: Option[CountMinSketch]): Option[CountMinSketch] =
    (buf, other) match {
      case (Some(a), Some(b)) => Some(a.mergeInPlace(b))
      case (a, None) => a
      case (None, b) => b
    }

  override def eval(buf: Option[CountMinSketch]): Any =
    buf.map(_.toByteArray).orNull

  override def serialize(buf: Option[CountMinSketch]): Array[Byte] =
    buf.map(_.toByteArray).getOrElse(Array.emptyByteArray)

  override def deserialize(bytes: Array[Byte]): Option[CountMinSketch] =
    if (bytes.isEmpty) None else Some(CountMinSketch.readFrom(bytes))

  override def dataType: DataType = BinaryType
  override def nullable: Boolean = true
  override def children: Seq[Expression] = Seq(child)

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == BinaryType) TypeCheckSuccess
    else TypeCheckFailure(s"cms_merge input must be BINARY, got ${child.dataType}")

  override def prettyName: String = "cms_merge"

  override def withNewMutableAggBufferOffset(newOffset: Int): CmsMerge =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): CmsMerge =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): Expression =
    copy(child = newChildren.head)
}

/** `cms_estimate(sketch, item)` — see [[CmsMerge]]'s scaladoc. Eval-only
  * (CodegenFallback): the expression sits on sketch TABLES (rows = groups,
  * not corpus rows), never in a corpus-scan hot path.
  */
case class CmsEstimate(left: Expression, right: Expression)
  extends BinaryExpression with CodegenFallback {

  // one decode per distinct sketch byte-array instance; a join against a
  // sketch table re-presents the same array reference row after row
  @transient private var cachedBytes: Array[Byte] = _
  @transient private var cachedSketch: CountMinSketch = _

  private def sketchFor(bytes: Array[Byte]): CountMinSketch = {
    if (!(bytes eq cachedBytes)) {
      cachedSketch = CountMinSketch.readFrom(bytes)
      cachedBytes = bytes
    }
    cachedSketch
  }

  override protected def nullSafeEval(sketchBytes: Any, item: Any): Any = {
    val sk = sketchFor(sketchBytes.asInstanceOf[Array[Byte]])
    item match {
      // same hashing as the build aggregate: strings were added as UTF-8
      // bytes, longs via addLong
      case s: UTF8String => sk.estimateCount(s.getBytes)
      case l: java.lang.Long => sk.estimateCount(l)
      case other => throw new IllegalStateException(s"unreachable: $other")
    }
  }

  override def checkInputDataTypes(): TypeCheckResult =
    if (left.dataType != BinaryType)
      TypeCheckFailure(s"cms_estimate sketch must be BINARY, got ${left.dataType}")
    else if (right.dataType != StringType && right.dataType != LongType)
      TypeCheckFailure(s"cms_estimate item must be STRING or BIGINT, got ${right.dataType}")
    else TypeCheckSuccess

  override def dataType: DataType = LongType
  override def prettyName: String = "cms_estimate"
  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

object CmsFunctions {
  /** Registers `cms_merge(sketch)` and `cms_estimate(sketch, item)`
    * (idempotent).
    */
  def register(spark: SparkSession): Unit = {
    VectorFunctions.registerIfAbsent(spark, "cms_merge",
      es => CmsMerge(es.head).toAggregateExpression())
    VectorFunctions.registerIfAbsent(spark, "cms_estimate",
      es => CmsEstimate(es(0), es(1)))
  }
}
