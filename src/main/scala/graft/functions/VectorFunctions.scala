package graft.functions

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, ExpectsInputTypes, Expression}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.functions.call_function
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType}

/** Native Catalyst expressions for dense float-vector math.
  *
  * The reference scores query/chunk similarity inside Chroma (L2 distance,
  * `/root/reference/micro-infobot/app.py:130,223` — Chroma's default metric).
  * Here the vector is an `ARRAY<FLOAT>` column and the distance is a
  * codegen'd binary expression, so kNN scoring stays inside whole-stage
  * codegen (no UDF boxing, no higher-order-function allocation per row) —
  * this is the hot loop of a 100 TB similarity scan.
  */
abstract class VectorBinaryExpression extends BinaryExpression with ExpectsInputTypes {
  // Seq[DataType] <: Seq[AbstractDataType] (covariant override);
  // AbstractDataType itself is private[sql] in Spark 4.x.
  override def inputTypes: Seq[DataType] =
    Seq(ArrayType(FloatType), ArrayType(FloatType))
  override def dataType: DataType = DoubleType

  /** Java source computing the double result from ArrayData `a`, `b`. */
  protected def genLoop(a: String, b: String, result: String): String

  protected def evalLoop(a: ArrayData, b: ArrayData): Double

  override def nullSafeEval(l: Any, r: Any): Any =
    evalLoop(l.asInstanceOf[ArrayData], r.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => genLoop(a, b, ev.value.toString))
}

object VectorBinaryExpression {
  /** Mismatched dimensions are an error, never silent truncation (the
    * reference's numpy/Chroma path would raise too). Called from both the
    * interpreted path and generated Java (via the static forwarder).
    */
  def checkDims(a: ArrayData, b: ArrayData): Int = {
    val n = a.numElements()
    val m = b.numElements()
    if (n != m) {
      throw new IllegalArgumentException(
        s"vector dimension mismatch: $n vs $m")
    }
    n
  }
}

/** Euclidean (L2) distance — Chroma's default similarity metric. */
case class L2Distance(left: Expression, right: Expression) extends VectorBinaryExpression {
  override def prettyName: String = "l2_distance"
  override protected def evalLoop(a: ArrayData, b: ArrayData): Double = {
    val n = VectorBinaryExpression.checkDims(a, b)
    var s = 0.0
    var i = 0
    while (i < n) { val d = a.getFloat(i).toDouble - b.getFloat(i).toDouble; s += d * d; i += 1 }
    math.sqrt(s)
  }
  override protected def genLoop(a: String, b: String, result: String): String =
    s"""
       |int n = graft.functions.VectorBinaryExpression.checkDims($a, $b);
       |double s = 0.0;
       |for (int i = 0; i < n; i++) {
       |  double d = (double) $a.getFloat(i) - (double) $b.getFloat(i);
       |  s += d * d;
       |}
       |$result = Math.sqrt(s);
     """.stripMargin
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

/** Dot product of two float vectors. */
case class DotProduct(left: Expression, right: Expression) extends VectorBinaryExpression {
  override def prettyName: String = "dot_product"
  override protected def evalLoop(a: ArrayData, b: ArrayData): Double = {
    val n = VectorBinaryExpression.checkDims(a, b)
    var s = 0.0
    var i = 0
    while (i < n) { s += a.getFloat(i).toDouble * b.getFloat(i).toDouble; i += 1 }
    s
  }
  override protected def genLoop(a: String, b: String, result: String): String =
    s"""
       |int n = graft.functions.VectorBinaryExpression.checkDims($a, $b);
       |double s = 0.0;
       |for (int i = 0; i < n; i++) {
       |  s += (double) $a.getFloat(i) * (double) $b.getFloat(i);
       |}
       |$result = s;
     """.stripMargin
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

/** Cosine similarity; 0.0 when either vector has zero norm. */
case class CosineSimilarity(left: Expression, right: Expression) extends VectorBinaryExpression {
  override def prettyName: String = "cosine_similarity"
  override protected def evalLoop(a: ArrayData, b: ArrayData): Double = {
    val n = VectorBinaryExpression.checkDims(a, b)
    var dot = 0.0
    var na = 0.0
    var nb = 0.0
    var i = 0
    while (i < n) {
      val x = a.getFloat(i).toDouble
      val y = b.getFloat(i).toDouble
      dot += x * y; na += x * x; nb += y * y; i += 1
    }
    if (na == 0.0 || nb == 0.0) 0.0 else dot / (math.sqrt(na) * math.sqrt(nb))
  }
  override protected def genLoop(a: String, b: String, result: String): String =
    s"""
       |int n = graft.functions.VectorBinaryExpression.checkDims($a, $b);
       |double dot = 0.0, na = 0.0, nb = 0.0;
       |for (int i = 0; i < n; i++) {
       |  double x = (double) $a.getFloat(i);
       |  double y = (double) $b.getFloat(i);
       |  dot += x * y; na += x * x; nb += y * y;
       |}
       |$result = (na == 0.0 || nb == 0.0) ? 0.0 : dot / (Math.sqrt(na) * Math.sqrt(nb));
     """.stripMargin
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

/** L2 norm of a float vector: `sqrt(Σ x_i²)`, summed left-to-right from
  * 0.0 in double — bit-identical to the
  * `sqrt(aggregate(transform(vec, x²), 0.0, +))` HOF fold it replaced on
  * the RP-LSH normalization path ([[graft.ops.Ann]] `unitRows`), at
  * codegen throughput.
  */
case class VectorNorm(child: Expression)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression
    with ExpectsInputTypes {
  override def prettyName: String = "vector_norm"
  override def inputTypes: Seq[DataType] = Seq(ArrayType(FloatType))
  override def dataType: DataType = DoubleType
  override def nullSafeEval(input: Any): Any =
    VectorNorm.compute(input.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a =>
      s"${ev.value} = graft.functions.VectorNorm.compute($a);")
  override protected def withNewChildInternal(newChild: Expression): VectorNorm =
    copy(child = newChild)
}

object VectorNorm {
  def compute(a: ArrayData): Double = {
    val n = a.numElements()
    var s = 0.0
    var i = 0
    while (i < n) { val x = a.getFloat(i).toDouble; s += x * x; i += 1 }
    math.sqrt(s)
  }
}

/** Unit-normalized copy of a float vector as `ARRAY<DOUBLE>`: each
  * element divided by [[VectorNorm]]'s value — the same per-element
  * `x.cast(double) / norm` the `transform` HOF computed (zero-norm
  * vectors divide to the same ±Inf/NaN; callers filter them out first,
  * exactly as before). One static call per row building a primitive
  * double array — no per-element lambda dispatch.
  */
case class UnitVector(child: Expression)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression
    with ExpectsInputTypes {
  override def prettyName: String = "unit_vector"
  override def inputTypes: Seq[DataType] = Seq(ArrayType(FloatType))
  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)
  override def nullSafeEval(input: Any): Any =
    UnitVector.compute(input.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a =>
      s"${ev.value} = graft.functions.UnitVector.compute($a);")
  override protected def withNewChildInternal(newChild: Expression): UnitVector =
    copy(child = newChild)
}

object UnitVector {
  def compute(a: ArrayData): ArrayData = {
    val n = a.numElements()
    val norm = VectorNorm.compute(a)
    val out = new Array[Double](n)
    var i = 0
    while (i < n) { out(i) = a.getFloat(i).toDouble / norm; i += 1 }
    org.apache.spark.sql.catalyst.expressions.UnsafeArrayData.fromPrimitiveArray(out)
  }
}

/** [[UnitVector]] with FLOAT output — for feeding unit-normalized
  * vectors back into the ARRAY<FLOAT> operator surface (rpTopKBatch,
  * l2Distance) where the double variant would change the element type.
  * Precision note, stated plainly: each element rounds to float once
  * (IEEE nearest), so distances downstream are float-grade — the
  * callers re-verify with exact math on the shortlist.
  */
case class UnitVectorF(child: Expression)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression
    with ExpectsInputTypes {
  override def prettyName: String = "unit_vector_f"
  override def inputTypes: Seq[DataType] = Seq(ArrayType(FloatType))
  override def dataType: DataType = ArrayType(FloatType, containsNull = false)
  override def nullSafeEval(input: Any): Any =
    UnitVectorF.compute(input.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a =>
      s"${ev.value} = graft.functions.UnitVectorF.compute($a);")
  override protected def withNewChildInternal(newChild: Expression): UnitVectorF =
    copy(child = newChild)
}

object UnitVectorF {
  def compute(a: ArrayData): ArrayData = {
    val n = a.numElements()
    val norm = VectorNorm.compute(a)
    val out = new Array[Float](n)
    var i = 0
    while (i < n) { out(i) = (a.getFloat(i).toDouble / norm).toFloat; i += 1 }
    org.apache.spark.sql.catalyst.expressions.UnsafeArrayData.fromPrimitiveArray(out)
  }
}

/** Dot product of two DOUBLE vectors (the unit-vector verify in
  * [[graft.ops.Ann.cosinePairsRp]]): fold-left from 0.0 — bit-identical
  * to `aggregate(zip_with(a, b, _*_), 0.0, +)`, except mismatched
  * dimensions refuse loudly where zip_with padded nulls and silently
  * dropped the pair.
  */
case class DotProductDouble(left: Expression, right: Expression)
    extends BinaryExpression with ExpectsInputTypes {
  override def prettyName: String = "dot_product_d"
  override def inputTypes: Seq[DataType] =
    Seq(ArrayType(DoubleType), ArrayType(DoubleType))
  override def dataType: DataType = DoubleType
  override def nullSafeEval(l: Any, r: Any): Any =
    DotProductDouble.compute(l.asInstanceOf[ArrayData], r.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) =>
      s"${ev.value} = graft.functions.DotProductDouble.compute($a, $b);")
  override protected def withNewChildrenInternal(l: Expression, r: Expression): DotProductDouble =
    copy(left = l, right = r)
}

object DotProductDouble {
  def compute(a: ArrayData, b: ArrayData): Double = {
    val n = VectorBinaryExpression.checkDims(a, b)
    var s = 0.0
    var i = 0
    while (i < n) { s += a.getDouble(i) * b.getDouble(i); i += 1 }
    s
  }
}

/** One table's multi-projection RP-LSH band key (the banding engine
  * under [[graft.ops.Ann.rpBandKey]] — `a6`/`a3`/`cosinePairsRp`/
  * `rpTopKBatch`): `nProjs` quantized projections
  * `floor(⟨x, r⟩ / width)`, concatenated with "," — AND-amplification
  * MLlib's one-projection-per-table BucketedRandomProjectionLSH cannot
  * express.
  *
  * ONE static call per row from generated Java. The projection
  * coefficients are deterministic (`r(table, proj, dim)` from Spark's
  * own xxhash64 law over the literal 4-tuple — no fitted model, no
  * broadcast weights, reproducible across sessions) and are computed
  * ONCE per plan into a flat `double[]` shipped via `addReferenceObj`,
  * so NOTHING hashes per row. Two prior shapes both failed at this:
  * the `aggregate(zip_with(vec, sequence(...)))` HOF re-ran nProjs
  * interpreted folds per row (HOFs never enter whole-stage codegen —
  * the 27–57× class in PERF.md) and re-hashed every (table, proj, dim)
  * triple per row; the per-dim unrolled column tree was codegen on
  * paper but grew `dims × nProjs × nTables` Add nodes per select —
  * past janino's 64 KB method limit the WHOLE stage silently fell back
  * to the interpreter, which is how "flat codegen" can end up slower
  * than the HOF it replaced. A native expression is O(1) generated
  * bytes per call site regardless of dims.
  *
  * Bit-identical to both prior shapes on uniform-width input (pinned
  * in AnnSpec): same coefficient law, same fold-left-from-0.0
  * association, same floor/long/string/concat_ws composition. Rows
  * shorter than `dims` refuse loudly (the unrolled form's ANSI
  * element_at law); longer rows band on their first `dims` components
  * — callers probe the width once via `Ann.probeDims`.
  */
case class RpBandKeyExpr(
    child: Expression, dims: Int, table: Int, nProjs: Int,
    width: Double, seed: Long)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {
  import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
  import org.apache.spark.sql.catalyst.analysis.TypeCheckResult.{TypeCheckFailure, TypeCheckSuccess}

  override def prettyName: String = "rp_band_key"
  override def dataType: DataType = org.apache.spark.sql.types.StringType

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(FloatType, _) | ArrayType(DoubleType, _) => TypeCheckSuccess
    case other => TypeCheckFailure(
      s"rp_band_key needs ARRAY<FLOAT> or ARRAY<DOUBLE>, got $other")
  }

  private def isFloat: Boolean = child.dataType match {
    case ArrayType(FloatType, _) => true
    case _ => false
  }

  // computed once per (driver plan | deserialized task) — tiny
  // (nProjs × dims doubles), deterministic from the literals
  @transient private lazy val coefs: Array[Double] =
    RpBandKeyExpr.coefficients(seed, table, nProjs, dims)

  override def nullSafeEval(input: Any): Any =
    RpBandKeyExpr.compute(
      input.asInstanceOf[ArrayData], coefs, nProjs, dims, width, isFloat)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val cRef = ctx.addReferenceObj("rpCoefs", coefs, "double[]")
    nullSafeCodeGen(ctx, ev, a =>
      s"""${ev.value} = graft.functions.RpBandKeyExpr.compute(
         |  $a, $cRef, $nProjs, $dims, $width, $isFloat);""".stripMargin)
  }

  override protected def withNewChildInternal(newChild: Expression): RpBandKeyExpr =
    copy(child = newChild)
}

object RpBandKeyExpr {
  /** Deterministic pseudo-random coefficient in [-0.5, 0.5):
    * `pmod(xxhash64(seed, table, proj, dim), 1e5) / 1e5 - 0.5`,
    * evaluated through the SAME Catalyst expressions the per-row HOF
    * used (`XxHash64` over the literal 4-tuple, Long/Int/Int/Int typed),
    * so every value is bit-for-bit the one rows used to recompute.
    */
  def coefficients(seed: Long, table: Int, nProjs: Int, dims: Int): Array[Double] = {
    import org.apache.spark.sql.catalyst.expressions.{Literal, XxHash64}
    val out = new Array[Double](nProjs * dims)
    var p = 0
    while (p < nProjs) {
      var d = 0
      while (d < dims) {
        val h = XxHash64(
          Seq(Literal(seed), Literal(table), Literal(p), Literal(d)), 42L)
          .eval(null).asInstanceOf[Long]
        val m = ((h % 100000L) + 100000L) % 100000L // pmod law
        out(p * dims + d) = m / 100000.0 - 0.5
        d += 1
      }
      p += 1
    }
    out
  }

  /** Shared by the interpreted eval and the generated Java: per
    * projection, fold-left the first `dims` components against the
    * coefficient row from 0.0, quantize `floor(dot / width)` to long,
    * join with "," (the concat_ws law — no nulls to skip here).
    */
  def compute(arr: ArrayData, coefs: Array[Double], nProjs: Int,
      dims: Int, width: Double, isFloat: Boolean): org.apache.spark.unsafe.types.UTF8String = {
    val n = arr.numElements()
    if (n < dims) throw new IllegalArgumentException(
      s"rp_band_key: vector has $n dims, banding needs $dims — ragged " +
        "column (probe widths via Ann.probeDims)")
    val sb = new java.lang.StringBuilder(nProjs * 12)
    var p = 0
    while (p < nProjs) {
      var s = 0.0
      val off = p * dims
      var d = 0
      while (d < dims) {
        val x = if (isFloat) arr.getFloat(d).toDouble else arr.getDouble(d)
        s += x * coefs(off + d)
        d += 1
      }
      if (p > 0) sb.append(',')
      sb.append(math.floor(s / width).toLong)
      p += 1
    }
    org.apache.spark.unsafe.types.UTF8String.fromString(sb.toString)
  }
}

object VectorFunctions {

  /** Register `name` unless the session already has it — the one
    * registration path of every graft function. A session started through
    * [[graft.GraftExtensions]] holds every name from its start, so the
    * per-operation `register` calls add nothing there (replacing a
    * registered function logs a WARN per name and call).
    */
  private[graft] def registerIfAbsent(spark: SparkSession, name: String,
      builder: Seq[Expression] => Expression): Unit = {
    val reg = spark.sessionState.functionRegistry
    if (!reg.functionExists(org.apache.spark.sql.catalyst.FunctionIdentifier(name)))
      reg.createOrReplaceTempFunction(name, builder, "built-in")
  }

  /** Register the vector expressions in the session function registry so they
    * are callable from both the Column API (via [[l2Distance]] etc.) and SQL.
    * Idempotent.
    */
  def register(spark: SparkSession): Unit = {
    registerIfAbsent(spark, "l2_distance", es => L2Distance(es.head, es(1)))
    registerIfAbsent(spark, "dot_product", es => DotProduct(es.head, es(1)))
    registerIfAbsent(spark, "cosine_similarity", es => CosineSimilarity(es.head, es(1)))
    registerIfAbsent(spark, "vector_norm", es => VectorNorm(es.head))
    registerIfAbsent(spark, "unit_vector", es => UnitVector(es.head))
    registerIfAbsent(spark, "unit_vector_f", es => UnitVectorF(es.head))
    registerIfAbsent(spark, "dot_product_d", es => DotProductDouble(es.head, es(1)))
    registerIfAbsent(spark, "rp_band_key", buildRpBandKey)
    TopKAggregate.register(spark)
    CmsFunctions.register(spark)
    TextExpressions.register(spark)
    AudioExpressions.register(spark)
    VideoExpressions.register(spark)
  }

  /** Registry builder for [[RpBandKeyExpr]]: the 5 shape parameters
    * arrive as foldable literals from [[rpBandKey]] — evaluate them at
    * plan-build time (they parameterize the coefficient table, which
    * must be a plan constant).
    */
  private[graft] def buildRpBandKey(es: Seq[Expression]): Expression = {
    def i(e: Expression): Int = e.eval(null).asInstanceOf[Number].intValue
    RpBandKeyExpr(es.head, i(es(1)), i(es(2)), i(es(3)),
      es(4).eval(null).asInstanceOf[Number].doubleValue,
      es(5).eval(null).asInstanceOf[Number].longValue)
  }

  def rpBandKey(vec: Column, dims: Int, table: Int, nProjs: Int,
      width: Double, seed: Long): Column =
    call_function("rp_band_key", vec,
      org.apache.spark.sql.functions.lit(dims),
      org.apache.spark.sql.functions.lit(table),
      org.apache.spark.sql.functions.lit(nProjs),
      org.apache.spark.sql.functions.lit(width),
      org.apache.spark.sql.functions.lit(seed))

  def l2Distance(a: Column, b: Column): Column = call_function("l2_distance", a, b)
  def dotProduct(a: Column, b: Column): Column = call_function("dot_product", a, b)
  def cosineSimilarity(a: Column, b: Column): Column = call_function("cosine_similarity", a, b)
  def vectorNorm(a: Column): Column = call_function("vector_norm", a)
  def unitVector(a: Column): Column = call_function("unit_vector", a)
  def unitVectorF(a: Column): Column = call_function("unit_vector_f", a)
  def dotProductD(a: Column, b: Column): Column = call_function("dot_product_d", a, b)
}
