package graft.functions

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._

import java.io.{ByteArrayInputStream, ByteArrayOutputStream, DataInputStream, DataOutputStream}
import scala.collection.mutable

/** Bounded top-k accumulator: keeps the k smallest `(dist, id)` pairs.
  *
  * This is the scale-safe replacement for `row_number().over(Window
  * .partitionBy(query))` batch kNN (SURVEY §4 item 3): as a
  * TypedImperativeAggregate it participates in partial aggregation, so each
  * map task reduces its slice of the index to a k-heap and the shuffle
  * carries only partitions×k rows per query — never the full scored index.
  * The window formulation shuffles *every* scored row and sorts each
  * query's entire result set on one partition; at 100 TB that is the
  * difference between a bounded merge and an unbounded sort.
  *
  * Determinism: ordering is lexicographic on (dist, id), ties included.
  */
case class TopKByDist(
    dist: Expression,
    id: Expression,
    kExpr: Expression,
    override val mutableAggBufferOffset: Int = 0,
    override val inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[mutable.PriorityQueue[(Double, Long)]] {

  private lazy val k: Int = kExpr.eval(InternalRow.empty) match {
    case i: Int => i
    case l: Long => l.toInt
    case other => throw new IllegalArgumentException(s"k must be an int literal, got $other")
  }

  // max-heap by (dist, id): the head is the worst kept pair
  private val ord: Ordering[(Double, Long)] = Ordering.Tuple2[Double, Long]

  override def createAggregationBuffer(): mutable.PriorityQueue[(Double, Long)] =
    mutable.PriorityQueue.empty[(Double, Long)](ord)

  private def offer(
      buf: mutable.PriorityQueue[(Double, Long)],
      pair: (Double, Long)): Unit = {
    // k <= 0 keeps nothing (rank <= 0 filters are legal SQL); the nonEmpty
    // guard also protects head-of-empty when k == 0
    if (buf.size < k) buf.enqueue(pair)
    else if (buf.nonEmpty && ord.lt(pair, buf.head)) {
      buf.dequeue(); buf.enqueue(pair)
    }
  }

  override def update(
      buf: mutable.PriorityQueue[(Double, Long)],
      input: InternalRow): mutable.PriorityQueue[(Double, Long)] = {
    val d = dist.eval(input)
    val i = id.eval(input)
    if (d != null && i != null) {
      offer(buf, (d.asInstanceOf[Double], i.asInstanceOf[Long]))
    }
    buf
  }

  override def merge(
      buf: mutable.PriorityQueue[(Double, Long)],
      other: mutable.PriorityQueue[(Double, Long)]): mutable.PriorityQueue[(Double, Long)] = {
    other.foreach(offer(buf, _))
    buf
  }

  override def eval(buf: mutable.PriorityQueue[(Double, Long)]): Any = {
    val sorted = buf.toArray.sorted(ord)
    new GenericArrayData(sorted.map { case (d, i) => InternalRow(d, i) })
  }

  override def serialize(buf: mutable.PriorityQueue[(Double, Long)]): Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    val out = new DataOutputStream(bos)
    out.writeInt(buf.size)
    buf.foreach { case (d, i) => out.writeDouble(d); out.writeLong(i) }
    out.flush()
    bos.toByteArray
  }

  override def deserialize(bytes: Array[Byte]): mutable.PriorityQueue[(Double, Long)] = {
    val in = new DataInputStream(new ByteArrayInputStream(bytes))
    val n = in.readInt()
    val buf = createAggregationBuffer()
    var j = 0
    while (j < n) { buf.enqueue((in.readDouble(), in.readLong())); j += 1 }
    buf
  }

  override def dataType: DataType = ArrayType(
    StructType(Seq(
      StructField("dist", DoubleType, nullable = false),
      StructField("id", LongType, nullable = false))),
    containsNull = false)

  override def nullable: Boolean = false
  override def children: Seq[Expression] = Seq(dist, id, kExpr)

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    import org.apache.spark.sql.catalyst.analysis.TypeCheckResult._
    if (dist.dataType != DoubleType)
      TypeCheckFailure(s"topk_by_dist dist must be DOUBLE, got ${dist.dataType}")
    else if (id.dataType != LongType)
      TypeCheckFailure(s"topk_by_dist id must be BIGINT, got ${id.dataType}")
    else if (!kExpr.foldable || kExpr.dataType != IntegerType)
      TypeCheckFailure("topk_by_dist k must be an INT literal")
    else TypeCheckSuccess
  }
  override def prettyName: String = "topk_by_dist"

  override def withNewMutableAggBufferOffset(newOffset: Int): TopKByDist =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): TopKByDist =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): Expression =
    copy(dist = newChildren(0), id = newChildren(1), kExpr = newChildren(2))
}

object TopKAggregate {
  /** Registers `topk_by_dist(dist, id, k)` (idempotent). */
  def register(spark: SparkSession): Unit =
    VectorFunctions.registerIfAbsent(spark, "topk_by_dist",
      es => TopKByDist(es(0), es(1), es(2)).toAggregateExpression())
}
