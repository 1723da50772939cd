package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Scalar quantization (SQ8) ANN — the third member of the quantized-scan
  * family next to [[Pq]] (PQ/IVFPQ) and [[Ann]] (LSH/RP/IVF): each
  * dimension is affinely mapped to one unsigned byte, so the index scan
  * reads 1 byte/dim instead of 4 (FAISS `ScalarQuantizer` QT_8bit with
  * per-dimension trained bounds; reference surface: the same
  * app.py:122-style dense-vector search the q-/a-series queries
  * re-express).
  *
  * Unlike PQ there is NO trained codebook — the "model" is the exact
  * per-dimension [min, max] over the index, two plain aggregates:
  * deterministic, partition-order-invariant, and recomputable verbatim
  * by a SQL oracle (which is why `a9_sq8_batch` can be DuckDB-oracled
  * end-to-end while the seeded-KMeans a7/a8 need golden pins).
  *
  *   - encode:  code_i = clamp(round((v_i − min_i) / scale_i), 0, 255),
  *     scale_i = (max_i − min_i) / 255 (0-range dims → code 0),
  *   - ADC scan: reconstruct v̂_i = min_i + code_i · scale_i and
  *     accumulate (q_i − v̂_i)² — flat per-row column algebra over the
  *     code array, whole-stage codegen, zero shuffle,
  *   - top-`rerank` shortlist per query (bounded-heap `topk_by_dist`
  *     aggregate — map-side k-heaps, the [[Ann.finishTopK]] shape), then
  *     exact-L2 re-rank of the shortlist against the full-precision
  *     vectors for the final k.
  *
  * Scale: bounds are 2·dims doubles on the driver; codes are a one-pass
  * projection of the index (4× smaller at rest, the 100 TB scan win);
  * queries broadcast; the only shuffles are the two k-heap aggregates
  * whose input is already partitions × rerank rows.
  *
  * Per-dim quantization error is bounded by scale_i/2, so
  * |dist²_adc − dist²| is bounded and recall@rerank is high at modest
  * rerank — quantified against the exact path in SqSpec.
  */
object Sq extends IndexLifecycle {
  protected def lifecycleIdCol: String = "vec_id"


  /** Exact per-dimension bounds of the index (the SQ8 "fit"). */
  final case class SqModel(mins: Array[Double], maxs: Array[Double]) {
    def dims: Int = mins.length
    def scales: Array[Double] =
      mins.indices.map(i => (maxs(i) - mins(i)) / 255.0).toArray
  }

  def fitBounds(
      index: DataFrame,
      vecCol: String = "embedding"): SqModel = {
    val dRow = index
      .agg(min(size(col(vecCol))).as("dmin"), max(size(col(vecCol))).as("dmax"))
      .head
    val dims = dRow.getInt(0)
    require(dims == dRow.getInt(1),
      s"fitBounds: ragged vector column $vecCol (${dRow.getInt(0)} vs ${dRow.getInt(1)})")
    val aggs = (0 until dims).flatMap(i => Seq(
      min(element_at(col(vecCol), i + 1).cast("double")).as(s"__mn$i"),
      max(element_at(col(vecCol), i + 1).cast("double")).as(s"__mx$i")))
    val row = index.agg(aggs.head, aggs.tail: _*).head
    SqModel(
      Array.tabulate(dims)(i => row.getDouble(2 * i)),
      Array.tabulate(dims)(i => row.getDouble(2 * i + 1)))
  }

  /** One-pass byte-code projection of the index: `(id, codes ARRAY<INT>)`.
    *
    * Unrolled to `dims` flat per-dimension columns (the measured
    * hashed-minhash lesson, PERF.md: HOF loops run in the expression
    * interpreter and re-traverse literal arrays per row; flat columns stay
    * inside whole-stage codegen). Zero-range dimensions fold to `lit(0)`
    * at PLAN time — the bounds are driver-known, so no per-row branch
    * survives.
    */
  def encode(
      index: DataFrame,
      model: SqModel,
      idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame = {
    val scales = model.scales
    val codes = Array.tabulate(model.dims) { i =>
      if (scales(i) == 0.0) lit(0)
      else least(greatest(round(
        (element_at(col(vecCol), i + 1).cast("double") - lit(model.mins(i))) /
          lit(scales(i))).cast("int"), lit(0)), lit(255))
    }
    index.select(col(idCol), array(codes.toIndexedSeq: _*).as("codes"))
  }

  /** Squared ADC distance between a full-precision query vector column and
    * a code array column, reconstructing through `model`'s affine map.
    *
    * Flat codegen sum over `dims` unrolled `(q_i − v̂_i)²` terms — same
    * left-to-right association as a sequential fold from 0.0, so the
    * result is bit-identical to the interpreted HOF formulation it
    * replaced, at codegen throughput (measured in PERF.md / ScaleSmoke).
    */
  def adcDist2(codes: Column, queryVec: Column, model: SqModel): Column = {
    require(model.dims > 0, "adcDist2 needs at least one dimension")
    val scales = model.scales
    val terms = Array.tabulate(model.dims) { i =>
      val vhat = lit(model.mins(i)) +
        element_at(codes, i + 1).cast("double") * lit(scales(i))
      val diff = element_at(queryVec, i + 1).cast("double") - vhat
      diff * diff
    }
    terms.reduce(_ + _)
  }

  /** Batch top-k: ADC scan of the codes for every query (broadcast cross
    * product — queries are the small side by construction), bounded-heap
    * shortlist of `rerank` per query, exact-L2 re-rank to the final `k`.
    *
    * Fits bounds + projects codes TRANSIENTLY — right when the corpus is
    * touched once. Repeated query batches should pay the fit+encode once
    * via [[writeCodes]]/[[sqProbe]] instead: the 1M-row tier measured the
    * per-batch fit+encode at ~183 s of which the ADC scan — the part SQ8
    * exists to accelerate — is ~1 s.
    */
  def sqTopKBatch(
      queries: DataFrame,
      index: DataFrame,
      k: Int,
      rerank: Int = 32,
      queryIdCol: String = "query_id",
      queryVecCol: String = "query_vec",
      idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame = {
    val model = fitBounds(index, vecCol)
    val codes = encode(index, model, idCol, vecCol)
    adcTopKBatch(queries, codes, model, index, k, rerank,
      queryIdCol, queryVecCol, idCol, vecCol)
  }

  /** The shared probe tail: ADC scan over an EXPLICIT code table →
    * bounded-heap shortlist → exact re-rank against the full-precision
    * vectors. [[sqTopKBatch]] feeds it transient codes; [[sqProbe]] feeds
    * it codes read from disk.
    */
  def adcTopKBatch(
      queries: DataFrame,
      codes: DataFrame,
      model: SqModel,
      index: DataFrame,
      k: Int,
      rerank: Int = 32,
      queryIdCol: String = "query_id",
      queryVecCol: String = "query_vec",
      idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame = {
    require(k <= rerank, s"sqTopKBatch: k $k must be <= rerank $rerank")
    val scored = codes
      .crossJoin(broadcast(queries.select(col(queryIdCol), col(queryVecCol))))
      .select(col(queryIdCol), col(idCol),
        adcDist2(col("codes"), col(queryVecCol), model).as("dist"))
    val shortlist = Ann.finishTopK(scored, rerank, queryIdCol, idCol)
    val exact = shortlist.select(col(queryIdCol), col(idCol))
      .join(index.select(col(idCol), col(vecCol)), Seq(idCol))
      .join(broadcast(queries.select(col(queryIdCol), col(queryVecCol))),
        Seq(queryIdCol))
      .withColumn("dist",
        graft.functions.VectorFunctions.l2Distance(col(vecCol), col(queryVecCol)))
    Ann.finishTopK(
      exact.select(col(queryIdCol), col(idCol), col("dist")),
      k, queryIdCol, idCol)
  }

  // ------------------------------------------------------------- at rest

  /** Persist the SQ8 index under `path` — the build-once half the sibling
    * index families already have ([[graft.search.Bm25.writeIndex]],
    * [[Hnsw.write]], [[Ann.writeIvf]]):
    *
    *   - `codes/`: `(id, codes ARRAY<INT>)` — the scan [[sqProbe]] reads
    *     INSTEAD of the vectors. In memory the ADC reads 1 value/dim; at
    *     rest parquet bit-packs the 0..255 values to ~1 byte/dim — the
    *     4× scan-width win that IS the index at 100 TB;
    *   - `model/`: one `(mins, maxs)` row — the 2·dims-double affine map
    *     every probe must reuse (codes are meaningless under re-fitted
    *     bounds, so the model travels with them).
    *
    * Returns the fitted model. Full lifecycle (the [[Ann.appendIvf]]/
    * [[graft.search.Bm25]] symmetry): [[appendCodes]] encodes new rows
    * through the FROZEN persisted bounds (with a drift guard),
    * [[deleteCodes]] tombstones, [[compactCodes]] purges. A rebuild here
    * replaces the whole index state, so the previous life's tombstone
    * sidecar and batch ledger go with it.
    */
  def writeCodes(
      index: DataFrame,
      path: String,
      idCol: String = "vec_id",
      vecCol: String = "embedding"): SqModel = {
    val spark = index.sparkSession
    import spark.implicits._
    Ann.requireIntegralId(index, idCol, "sq.writeCodes")
    val model = fitBounds(index, vecCol)
    // two independent writes into disjoint dirs — landed concurrently
    // (guide §2.6); same crash exposure as the sequential ordering
    Layout.mapConcurrently[() => Unit, Unit](Seq(
      () => encode(index, model, idCol, vecCol)
        .write.mode("overwrite").parquet(s"$path/codes"),
      () => Seq((model.mins.toSeq, model.maxs.toSeq)).toDF("mins", "maxs")
        .coalesce(1).write.mode("overwrite").parquet(s"$path/model")),
      parallelism = 2)(_())
    Layout.clearIndexSidecars(spark, path)
    model
  }

  /** Append a batch to a persisted SQ8 index THROUGH the frozen stored
    * bounds — the [[Ann.appendIvf]] law one family over: the quantizer
    * (here the per-dim affine map) is frozen at build time, so appended
    * rows encode O(batch) with no corpus re-fit and the codes stay
    * mutually comparable. Values outside the frozen bounds CLAMP (FAISS's
    * `ScalarQuantizer` contract), which skews their ADC distances; the
    * guard measures the batch's out-of-bounds VALUE fraction (cells, not
    * rows — in high dimensions nearly every new row exceeds SOME dim's
    * sample max by a hair, which is benign; a batch where whole
    * distributions moved is not) in one aggregate and refuses past
    * `maxOutOfBounds` — past that the bounds are stale and the honest
    * move is a rebuild, not a silent recall cliff. Idempotence is the
    * caller's contract; pair with [[Layout.ledgeredBatch]] for streaming
    * (the Hnsw/Bm25 recipe).
    */
  def appendCodes(
      spark: org.apache.spark.sql.SparkSession,
      batch: DataFrame,
      path: String,
      idCol: String = "vec_id",
      vecCol: String = "embedding",
      maxOutOfBounds: Double = 0.05): Unit = {
    Ann.requireIntegralId(batch, idCol, "sq.appendCodes")
    val model = loadModel(spark, path)
    // ONE batch pass for the dims check AND the out-of-bounds fraction
    // (guide §1.2 — this guard used to be two full aggregates over the
    // batch). The oob sum indexes every dim with element_at, which must
    // not be the thing that discovers a short vector, so it rides a
    // size-guarded branch (`when` evaluates only the taken arm per row);
    // the guarded value for a wrong-dims row never matters — the dims
    // require below fails the whole append from the same aggregate row.
    val oobCells = (0 until model.dims).map { i =>
      val x = element_at(col(vecCol), i + 1).cast("double")
      when(x < lit(model.mins(i)) || x > lit(model.maxs(i)), 1L).otherwise(0L)
    }.reduce(_ + _)
    val dRow = batch.agg(
      min(size(col(vecCol))).as("dmin"), max(size(col(vecCol))).as("dmax"),
      count(lit(1)).as("n"),
      sum(when(size(col(vecCol)) === model.dims, oobCells)
        .otherwise(lit(0L))).as("n_oob")).head
    if (dRow.getLong(2) == 0L) return // empty batch: nothing to encode
    require(dRow.getInt(0) == model.dims && dRow.getInt(1) == model.dims,
      s"sq.appendCodes: batch dims [${dRow.getInt(0)}, ${dRow.getInt(1)}] " +
        s"!= index dims ${model.dims}")
    val frac = dRow.getLong(3).toDouble / (dRow.getLong(2) * model.dims)
    require(frac <= maxOutOfBounds,
      f"sq.appendCodes: $frac%.3f of the batch's values fall outside the " +
        f"frozen per-dim bounds (> $maxOutOfBounds%.3f) — the stored " +
        "quantizer is stale for this data; rebuild via writeCodes instead " +
        "of appending clamped (silently skewed) codes")
    encode(batch, model, idCol, vecCol)
      .write.mode("append").parquet(s"$path/codes")
  }

  /** [[appendCodes]] under the batch ledger ([[Layout.ledgeredBatch]]) —
    * the streaming-maintenance wrapper (the [[Ann.appendIvfBatch]] law):
    * at-least-once micro-batch delivery converges to exactly-once code
    * growth; a replayed batch id no-ops against the marker. The frozen
    * bounds make replays trivially idempotent-in-value too — the same
    * batch always encodes to the same bytes. A bounds-drift refusal
    * inside [[appendCodes]] fails the streaming query loudly (correct:
    * the quantizer is stale for the stream and must be re-fit). The
    * residual crash window (codes appended, marker not yet written) is
    * closed by [[Layout.freshBatchRows]]: a replayed batch anti-joins
    * against ids already in `codes/` (id-range-pushed scan) and appends
    * nothing, so probes never see one id at two ranks. Append-only: a
    * known id re-sent with an UPDATED vector keeps its original code
    * silently ([[Layout.freshBatchRows]]) — update = tombstone + compact
    * + re-append. Returns true when the batch applied.
    */
  def appendCodesBatch(
      spark: org.apache.spark.sql.SparkSession,
      batch: DataFrame,
      path: String,
      batchId: Long,
      idCol: String = "vec_id",
      vecCol: String = "embedding",
      maxOutOfBounds: Double = 0.05): Boolean =
    ledgered(spark, path, batchId) {
      appendCodes(spark,
        Layout.freshBatchRows(spark, batch, s"$path/codes", idCol),
        path, idCol, vecCol, maxOutOfBounds)
      ()
    }

  /** Mark ids deleted (tombstone sidecar append — the shared stance:
    * probes exclude via [[Layout.excludeTombstoned]], [[compactCodes]]
    * purges; a delete is terminal until then).
    */
  def deleteCodes(
      spark: org.apache.spark.sql.SparkSession,
      path: String,
      ids: Seq[Long],
      idCol: String = "vec_id"): Unit =
    markDeleted(spark, path, ids, idCol)

  /** Fold tombstones into the code table (anti-join — scale-safe at any
    * tombstone count) and swap via the shared rename-aside protocol. The
    * bounds are untouched: the quantizer stays frozen, so surviving codes
    * remain valid verbatim. Returns (rows before, rows after).
    */
  def compactCodes(
      spark: org.apache.spark.sql.SparkSession,
      path: String,
      idCol: String = "vec_id"): (Long, Long) =
    Layout.compactKeyedTable(
      spark, s"$path/codes", s"$path/_tombstones", idCol, "sq.compactCodes")

  /** The `model/` row [[writeCodes]] fixes. */
  private val ModelDdl = "mins ARRAY<DOUBLE>, maxs ARRAY<DOUBLE>"

  def loadModel(spark: org.apache.spark.sql.SparkSession, path: String): SqModel = {
    val r = Layout.readTable(spark, ModelDdl, s"$path/model").head
    SqModel(r.getSeq[Double](0).toArray, r.getSeq[Double](1).toArray)
  }

  /** Probe a persisted SQ8 index: the ADC scan reads the at-rest codes —
    * NO bounds aggregate, NO re-projection of the corpus anywhere in the
    * plan (asserted in ExplainAudit) — then the usual shortlist + exact
    * re-rank against `index` (the full-precision vectors, touched only
    * for the queries × rerank shortlisted ids). Tombstoned ids
    * ([[deleteCodes]]) are excluded before the scan, so a deleted doc can
    * never reach the shortlist, until a [[compactCodes]] purges for real.
    */
  def sqProbe(
      spark: org.apache.spark.sql.SparkSession,
      path: String,
      queries: DataFrame,
      index: DataFrame,
      k: Int,
      rerank: Int = 32,
      queryIdCol: String = "query_id",
      queryVecCol: String = "query_vec",
      idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame = {
    val model = loadModel(spark, path)
    val codes = Layout.excludeTombstoned(
      spark, spark.read.parquet(s"$path/codes"), s"$path/_tombstones", idCol)
    adcTopKBatch(queries, codes, model, index, k, rerank,
      queryIdCol, queryVecCol, idCol, vecCol)
  }
}
