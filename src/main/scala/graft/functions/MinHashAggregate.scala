package graft.functions

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, XXH64}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._

import java.io.{ByteArrayInputStream, ByteArrayOutputStream, DataInputStream, DataOutputStream}

/** MinHash signature as ONE aggregate: the element-wise min over
  * `numHashes` permutation hashes of each shingle, kept in a single
  * `Array[Long]` buffer.
  *
  * This replaces the unrolled `min(xxhash64(__h, 0)), ...,
  * min(xxhash64(__h, 127))` aggregate list in `Dedup.signatureTable`:
  * at 128 permutations that shape's generated
  * `doAggregateWithKeysOutput` method exceeds Janino's 64 KB limit, so
  * EVERY signature pass (transient pairs, the at-rest store writer, the
  * streaming near-dup intake) silently fell back to interpreted
  * per-row evaluation of 128 aggregate update expressions — the exact
  * hot path a 100 TB crawl pays per document. Here each input row costs
  * one `XXH64.hashLong` plus a tight `numHashes`-step `hashInt` loop,
  * partial aggregation still applies (map-side signatures merge by
  * element-wise min, which is associative and commutative), and the
  * shuffle carries one array per doc per partition instead of 128
  * wide-row columns.
  *
  * Value parity is bit-exact with the unrolled shape: Spark's
  * `xxhash64(h: BIGINT, p: INT)` folds seed 42 through its children as
  * `hashInt(p, hashLong(h, 42))`, replicated here via the same public
  * `XXH64` kernel (a null `h` leaves the seed fold untouched, exactly
  * like the built-in). An empty buffer (possible only for a global
  * aggregate over zero rows — `signatureTable` always groups) yields
  * all-null elements, matching `min` over an empty input; the element
  * type stays nullable for schema parity with the old `array(min...)`
  * projection.
  */
case class MinHashSig(
    h: Expression,
    numHashesExpr: Expression,
    override val mutableAggBufferOffset: Int = 0,
    override val inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[Array[Long]] {

  private lazy val n: Int = numHashesExpr.eval(InternalRow.empty) match {
    case i: Int => i
    case l: Long => l.toInt
    case other =>
      throw new IllegalArgumentException(s"numHashes must be an int literal, got $other")
  }

  // length-0 array = "no rows seen yet" sentinel; real buffers allocate on
  // first update so serialize/merge can tell the two apart cheaply
  override def createAggregationBuffer(): Array[Long] = Array.emptyLongArray

  override def update(buf: Array[Long], input: InternalRow): Array[Long] = {
    val hv = h.eval(input)
    // faithful to xxhash64's null fold: a null child leaves the running
    // seed (42) unchanged, it does not null the result
    val base =
      if (hv == null) 42L else XXH64.hashLong(hv.asInstanceOf[Long], 42L)
    val out = if (buf.length == 0) Array.fill(n)(Long.MaxValue) else buf
    var p = 0
    while (p < n) {
      val v = XXH64.hashInt(p, base)
      if (v < out(p)) out(p) = v
      p += 1
    }
    out
  }

  override def merge(buf: Array[Long], other: Array[Long]): Array[Long] = {
    if (other.length == 0) buf
    else if (buf.length == 0) other
    else {
      var p = 0
      while (p < buf.length) {
        if (other(p) < buf(p)) buf(p) = other(p)
        p += 1
      }
      buf
    }
  }

  override def eval(buf: Array[Long]): Any =
    if (buf.length == 0) new GenericArrayData(new Array[Any](n))
    else new GenericArrayData(buf)

  override def serialize(buf: Array[Long]): Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    val out = new DataOutputStream(bos)
    out.writeInt(buf.length)
    var p = 0
    while (p < buf.length) { out.writeLong(buf(p)); p += 1 }
    out.flush()
    bos.toByteArray
  }

  override def deserialize(bytes: Array[Byte]): Array[Long] = {
    val in = new DataInputStream(new ByteArrayInputStream(bytes))
    val len = in.readInt()
    val buf = new Array[Long](len)
    var p = 0
    while (p < len) { buf(p) = in.readLong(); p += 1 }
    buf
  }

  override def dataType: DataType = ArrayType(LongType, containsNull = true)
  override def nullable: Boolean = false
  override def children: Seq[Expression] = Seq(h, numHashesExpr)

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    import org.apache.spark.sql.catalyst.analysis.TypeCheckResult._
    if (h.dataType != LongType)
      TypeCheckFailure(s"minhash_sig h must be BIGINT, got ${h.dataType}")
    else if (!numHashesExpr.foldable || numHashesExpr.dataType != IntegerType)
      TypeCheckFailure("minhash_sig numHashes must be an INT literal")
    else TypeCheckSuccess
  }
  override def prettyName: String = "minhash_sig"

  override def withNewMutableAggBufferOffset(newOffset: Int): MinHashSig =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): MinHashSig =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): Expression =
    copy(h = newChildren(0), numHashesExpr = newChildren(1))
}

/** Count of positions where two minhash signatures agree — the MinHash
  * jaccard estimator's numerator, as ONE compact codegen'd expression.
  *
  * Replaces the unrolled `when(element_at(a,i)===element_at(b,i),1)
  * .otherwise(0)` sum in `Dedup.nearDupesAgainstStoreEstimated`: that
  * 128-term tree was flat codegen on paper, but whole-stage fusion
  * inlines it into the upstream `distinct()` hash-aggregate's output
  * method, which then exceeds Janino's 64 KB limit and drops the whole
  * stage to interpreted — per candidate pair, the worst place to pay
  * interpreter rates. Null semantics are faithful to the unrolled shape:
  * a null array or null element contributes 0 matches (never null).
  * Positions past the shorter array count 0 — strictly more forgiving
  * than the unroll (whose ANSI `element_at` would throw), unreachable
  * for real signatures, which always carry exactly numHashes elements.
  */
case class SigMatchCount(left: Expression, right: Expression)
  extends org.apache.spark.sql.catalyst.expressions.BinaryExpression {

  override def dataType: DataType = LongType
  override def nullable: Boolean = false
  override def prettyName: String = "sig_match_count"

  override def eval(input: InternalRow): Any =
    SigMatchCount.count(
      left.eval(input).asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData],
      right.eval(input).asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData])

  override protected def doGenCode(
      ctx: org.apache.spark.sql.catalyst.expressions.codegen.CodegenContext,
      ev: org.apache.spark.sql.catalyst.expressions.codegen.ExprCode)
      : org.apache.spark.sql.catalyst.expressions.codegen.ExprCode = {
    import org.apache.spark.sql.catalyst.expressions.codegen.Block._
    import org.apache.spark.sql.catalyst.expressions.codegen.FalseLiteral
    val l = left.genCode(ctx)
    val r = right.genCode(ctx)
    ev.copy(
      code = code"""
        ${l.code}
        ${r.code}
        long ${ev.value} = graft.functions.SigMatchCount.count(
          ${l.isNull} ? null : ${l.value}, ${r.isNull} ? null : ${r.value});
      """,
      isNull = FalseLiteral)
  }

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    import org.apache.spark.sql.catalyst.analysis.TypeCheckResult._
    (left.dataType, right.dataType) match {
      case (ArrayType(LongType, _), ArrayType(LongType, _)) => TypeCheckSuccess
      case (a, b) =>
        TypeCheckFailure(s"sig_match_count needs two ARRAY<BIGINT>, got $a, $b")
    }
  }

  override protected def withNewChildrenInternal(
      l: Expression, r: Expression): Expression = copy(left = l, right = r)
}

object SigMatchCount {
  /** Shared by the interpreted path and generated Java. */
  def count(
      a: org.apache.spark.sql.catalyst.util.ArrayData,
      b: org.apache.spark.sql.catalyst.util.ArrayData): Long = {
    if (a == null || b == null) return 0L
    val n = math.min(a.numElements(), b.numElements())
    var c = 0L
    var i = 0
    while (i < n) {
      if (!a.isNullAt(i) && !b.isNullAt(i) && a.getLong(i) == b.getLong(i)) c += 1
      i += 1
    }
    c
  }
}

object MinHashAggregate {
  /** Registers `minhash_sig(h, numHashes)` and `sig_match_count(a, b)`
    * (idempotent).
    */
  def register(spark: SparkSession): Unit = {
    VectorFunctions.registerIfAbsent(spark, "minhash_sig",
      es => MinHashSig(es(0), es(1)).toAggregateExpression())
    VectorFunctions.registerIfAbsent(spark, "sig_match_count",
      es => SigMatchCount(es(0), es(1)))
  }
}
