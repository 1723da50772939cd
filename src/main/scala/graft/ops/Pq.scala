package graft.ops

import org.apache.spark.ml.clustering.KMeans
import org.apache.spark.ml.functions.{array_to_vector, vector_to_array}
import org.apache.spark.ml.linalg.Vector
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Product quantization for memory-bound ANN (Jégou et al., "Product
  * Quantization for Nearest Neighbor Search", TPAMI 2011 — the public
  * algorithm behind FAISS's IVF-PQ indexes).
  *
  * Why it matters at 100 TB: a 64-d float embedding is 256 bytes; its PQ
  * code is `m` small ints (8 bytes at m=8) — a 32× smaller index that
  * scans memory-speed. The trade is approximate distances (quantization
  * error), recovered by an exact re-rank of the top candidates.
  *
  * Spark shapes, hot path UDF-free:
  *  - [[fit]]: `m` MLlib KMeans fits, one per subspace of `dims/m`
  *    components (each a distributed job over the corpus; seeded →
  *    deterministic). The model is `m × k × dims/m` floats — KBs, ships
  *    in closures.
  *  - [[encode]]: one-time, per-row argmin over `k` centroids per
  *    subspace (UDF — genuine imperative work, off the query path). The
  *    code table `(id, codes ARRAY<INT>)` is what gets persisted.
  *  - [[topKBatch]]: per-query ADC lookup tables are computed
  *    executor-side on the (broadcast-small) query table, then scoring is
  *    pure codegen column algebra — `aggregate(zip_with(codes, tables,
  *    element_at))` — over the code scan: no vectors move, no UDF in the
  *    per-row loop, heap top-k via the existing bounded-heap aggregate.
  *    Optional re-rank fetches true vectors for only `rerank × k`
  *    candidates per query and re-scores exactly.
  */
object Pq extends IndexLifecycle {
  protected def lifecycleIdCol: String = "vec_id"


  /** `codebooks(j)(c)` = centroid `c` of subspace `j`, length `dims/m`. */
  final case class PqModel(
      dims: Int,
      m: Int,
      k: Int,
      codebooks: Array[Array[Array[Float]]]) extends Serializable {
    def subDim: Int = dims / m

    /** Squared-L2 ADC tables for one query: `tables(j)(c)` = ‖q_j − c‖². */
    def adcTables(q: Array[Float]): Array[Array[Float]] =
      Array.tabulate(m) { j =>
        Array.tabulate(k) { c =>
          var s = 0.0f
          var i = 0
          while (i < subDim) {
            val d = q(j * subDim + i) - codebooks(j)(c)(i)
            s += d * d
            i += 1
          }
          s
        }
      }

    def encodeOne(v: Array[Float]): Array[Int] =
      Array.tabulate(m) { j =>
        var best = 0
        var bestD = Float.MaxValue
        var c = 0
        while (c < k) {
          var s = 0.0f
          var i = 0
          while (i < subDim) {
            val d = v(j * subDim + i) - codebooks(j)(c)(i)
            s += d * d
            i += 1
          }
          if (s < bestD) { bestD = s; best = c }
          c += 1
        }
        best
      }
  }

  /** Fit the `m` subspace codebooks. `k` must fit the corpus (MLlib
    * requires k ≤ distinct points; use small k on small fixtures).
    */
  def fit(
      emb: DataFrame,
      vecCol: String = "embedding",
      dims: Int = 64,
      m: Int = 8,
      k: Int = 256,
      seed: Long = 42L,
      maxIter: Int = 20): PqModel = {
    require(dims % m == 0, s"dims=$dims must divide into m=$m subspaces")
    val subDim = dims / m
    // cache once: all m fits iterate over the same projected corpus, and
    // without this each KMeans pass re-reads the source
    val cached = emb.select(transform(col(vecCol), _.cast("double")).as("__v"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val codebooks = (0 until m).map { j =>
        val sub = cached.select(
          array_to_vector(slice(col("__v"), j * subDim + 1, subDim)).as("__sub"))
        val model = new KMeans()
          .setK(k).setSeed(seed + j).setFeaturesCol("__sub").setMaxIter(maxIter)
          .fit(sub)
        model.clusterCenters.map(_.toArray.map(_.toFloat))
      }.toArray
      PqModel(dims, m, k, codebooks)
    } finally { cached.unpersist(); () }
  }

  /** Fit the codebooks on a BOUNDED, deterministically-chosen sample with
    * driver-side Lloyd's — the FAISS training shape, and the right one at
    * 100 TB: codebook quality saturates long before the sample does
    * (`m × k` centroids of `dims/m` components have only KBs of
    * parameters), so training on the full corpus buys nothing but
    * `m × maxIter` distributed passes. [[fit]] (MLlib over the corpus)
    * remains for when the corpus is the sample.
    *
    *  - Sample: top-`sampleCap` rows by `md5(id)` — a distributed
    *    TakeOrdered (map-side heaps, no global sort), deterministic and
    *    uniform, ≤ `sampleCap × dims` floats on the driver (16 MB at the
    *    64k default × 64-d).
    *  - Lloyd's per subspace: seeded kmeans++ init, empty clusters
    *    reseeded to the point farthest from its centroid — deterministic
    *    for a fixed seed, end to end.
    */
  def fitSampled(
      emb: DataFrame,
      idCol: String = "vec_id",
      vecCol: String = "embedding",
      dims: Int = 64,
      m: Int = 8,
      k: Int = 256,
      maxIter: Int = 20,
      sampleCap: Int = 65536,
      seed: Long = 42L): PqModel = {
    require(dims % m == 0, s"dims=$dims must divide into m=$m subspaces")
    val subDim = dims / m
    val sample: Array[Array[Float]] = emb
      .select(md5(col(idCol).cast("string")).as("__h"), col(vecCol))
      .orderBy(col("__h")).limit(sampleCap)
      .select(vecCol).collect()
      .map(_.getSeq[Float](0).toArray)
    require(sample.nonEmpty, "fitSampled: empty corpus")
    require(sample.length >= k,
      s"fitSampled: sample ${sample.length} < k=$k centroids")
    val codebooks = Array.tabulate(m) { j =>
      val pts = sample.map(v => java.util.Arrays.copyOfRange(v, j * subDim, (j + 1) * subDim))
      lloyd(pts, k, maxIter, seed + j)
    }
    PqModel(dims, m, k, codebooks)
  }

  /** Lloyd's over driver-local points: seeded kmeans++ init, a few
    * restarts, keep the lowest-inertia run — deterministic for a fixed
    * seed (a single draw can land in a visibly bad local optimum on
    * structureless data; restarts are cheap at driver scale). Shared with
    * [[Ann.buildIvfSampled]]: the IVF coarse quantizer is the same
    * bounded-parameter fit, one subspace, full dims.
    */
  private[ops] def lloyd(
      pts: Array[Array[Float]],
      k: Int,
      maxIter: Int,
      seed: Long,
      restarts: Int = 4): Array[Array[Float]] = {
    var best: Array[Array[Float]] = null
    var bestInertia = Double.MaxValue
    var r = 0
    while (r < restarts) {
      val (cent, inertia) = lloydOnce(pts, k, maxIter, seed + 7919L * r)
      if (inertia < bestInertia) { bestInertia = inertia; best = cent }
      r += 1
    }
    best
  }

  /** One Lloyd's run; returns (centroids, final inertia). */
  private def lloydOnce(
      pts: Array[Array[Float]],
      k: Int,
      maxIter: Int,
      seed: Long): (Array[Array[Float]], Double) = {
    val n = pts.length
    val d = pts(0).length
    def d2(a: Array[Float], b: Array[Float]): Float = {
      var s = 0.0f; var i = 0
      while (i < d) { val x = a(i) - b(i); s += x * x; i += 1 }
      s
    }
    // seeded kmeans++ init (deterministic for a fixed seed): weighted
    // sampling by squared distance to the nearest chosen centroid.
    // NOT maxmin/farthest-point — that deterministically elects outliers
    // as centroids and quantizes the bulk badly (measured on the 100-row
    // fixture: rerank recall 0.60 maxmin vs 0.80 kmeans++ with restarts,
    // MLlib-fit parity)
    val rnd = new scala.util.Random(seed)
    val cent = new Array[Array[Float]](k)
    cent(0) = pts(rnd.nextInt(n)).clone()
    val minD = new Array[Double](n)
    var p0 = 0
    while (p0 < n) { minD(p0) = d2(pts(p0), cent(0)); p0 += 1 }
    var ci = 1
    while (ci < k) {
      val total = minD.sum
      var pick = 0
      if (total > 0) {
        val r = rnd.nextDouble() * total
        var acc = 0.0; var q = 0
        pick = n - 1
        var found = false
        while (q < n && !found) {
          acc += minD(q); if (acc >= r) { pick = q; found = true }; q += 1
        }
      } else pick = rnd.nextInt(n) // all points identical: any index works
      cent(ci) = pts(pick).clone()
      var q = 0
      while (q < n) {
        val s = d2(pts(q), cent(ci)).toDouble
        if (s < minD(q)) minD(q) = s
        q += 1
      }
      ci += 1
    }
    val assign = new Array[Int](n)
    var iter = 0
    var moved = true
    while (iter < maxIter && moved) {
      moved = false
      var p = 0
      while (p < n) {
        var best = 0; var bestD = Float.MaxValue; var c = 0
        while (c < k) {
          val s = d2(pts(p), cent(c))
          if (s < bestD) { bestD = s; best = c }
          c += 1
        }
        if (assign(p) != best || iter == 0) { assign(p) = best; moved = true }
        p += 1
      }
      val sums = Array.ofDim[Double](k, d)
      val counts = new Array[Int](k)
      p = 0
      while (p < n) {
        val c = assign(p); counts(c) += 1
        var i = 0
        while (i < d) { sums(c)(i) += pts(p)(i); i += 1 }
        p += 1
      }
      var c = 0
      while (c < k) {
        if (counts(c) == 0) {
          // deterministic reseed: the point farthest from its own centroid
          var far = 0; var farD = -1.0f; var q = 0
          while (q < n) {
            val s = d2(pts(q), cent(assign(q)))
            if (s > farD) { farD = s; far = q }
            q += 1
          }
          cent(c) = pts(far).clone(); assign(far) = c
        } else {
          var i = 0
          while (i < d) { cent(c)(i) = (sums(c)(i) / counts(c)).toFloat; i += 1 }
        }
        c += 1
      }
      iter += 1
    }
    var inertia = 0.0
    var pi = 0
    while (pi < n) { inertia += d2(pts(pi), cent(assign(pi))); pi += 1 }
    (cent, inertia)
  }

  /** One-time index encode: `(idCol, codes ARRAY<INT>)`. */
  def encode(
      emb: DataFrame,
      model: PqModel,
      idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame = {
    val enc = udf { v: Seq[Float] => model.encodeOne(v.toArray) }
    emb.select(col(idCol), enc(col(vecCol)).as("codes"))
  }

  // ------------------------------------------------------------- at rest

  /** Persist codes + codebooks under `path` — the build-once half
    * ([[graft.ops.Sq.writeCodes]] is the SQ8 twin; see there for why the
    * model must travel with the codes). Layout:
    *   - `codes/`: `(id, codes ARRAY<INT>)` — the m-byte-per-row scan;
    *   - `codebooks/`: one `(j, c, centroid ARRAY<FLOAT>)` row per
    *     subspace-centroid (m·k rows, KBs);
    *   - `meta/`: `(dims, m, k)`.
    * Full lifecycle (the [[graft.ops.Sq]]/[[Ann.appendIvf]] symmetry):
    * [[appendCodes]] encodes new rows through the FROZEN persisted
    * codebooks, [[deleteCodes]] tombstones, [[compactCodes]] purges.
    * A rebuild here replaces the whole index state — the previous life's
    * tombstone sidecar and batch ledger go with it (re-fitted codebooks
    * invalidate old codes the same way FAISS re-training does).
    */
  def write(codes: DataFrame, model: PqModel, path: String): Unit = {
    val spark = codes.sparkSession
    import spark.implicits._
    // three independent writes into disjoint dirs — landed concurrently
    // (guide §2.6); same crash exposure as the sequential ordering (a
    // rebuild is a whole-state replace, no commit marker)
    val rows = for {
      j <- 0 until model.m
      c <- 0 until model.k
    } yield (j, c, model.codebooks(j)(c).toSeq)
    Layout.mapConcurrently[() => Unit, Unit](Seq(
      () => codes.write.mode("overwrite").parquet(s"$path/codes"),
      () => rows.toDF("j", "c", "centroid")
        .coalesce(1).write.mode("overwrite").parquet(s"$path/codebooks"),
      () => Seq((model.dims, model.m, model.k)).toDF("dims", "m", "k")
        .coalesce(1).write.mode("overwrite").parquet(s"$path/meta")),
      parallelism = 3)(_())
    Layout.clearIndexSidecars(spark, path)
  }

  // the `meta/` and `codebooks/` tables [[write]] fixes
  private val MetaDdl = "dims INT, m INT, k INT"
  private val CodebooksDdl = "j INT, c INT, centroid ARRAY<FLOAT>"

  /** The stored fine quantizer alone — the m·k codebook rows are
    * driver-bounded by construction. Shared by [[load]] (probe side) and
    * [[appendCodes]] (which must encode through the FROZEN codebooks
    * without paying the code-table read).
    */
  def loadModel(spark: org.apache.spark.sql.SparkSession, path: String): PqModel = {
    val meta = Layout.readTable(spark, MetaDdl, s"$path/meta").head
    val (dims, m, k) = (meta.getInt(0), meta.getInt(1), meta.getInt(2))
    val codebooks = Array.ofDim[Array[Float]](m, k)
    Layout.readTable(spark, CodebooksDdl, s"$path/codebooks").collect()
      .foreach(r => codebooks(r.getInt(0))(r.getInt(1)) = r.getSeq[Float](2).toArray)
    (0 until m).foreach { j =>
      (0 until k).foreach { c =>
        require(codebooks(j)(c) != null,
          s"pq.load: codebook entry ($j,$c) missing at $path — corrupt index")
      }
    }
    PqModel(dims, m, k, codebooks)
  }

  /** Load a persisted PQ index: (codes frame, model). Tombstoned ids
    * ([[deleteCodes]]) are excluded probe-side via the shared bounded
    * exclusion, so every consumer of the loaded codes — [[topKBatch]],
    * [[ivfPqTopKBatch]] — serves only live docs until a [[compactCodes]]
    * purges them for real.
    */
  def load(spark: org.apache.spark.sql.SparkSession, path: String): (DataFrame, PqModel) = {
    val model = loadModel(spark, path)
    val codes = spark.read.parquet(s"$path/codes")
    // the id column is whatever name the codes were encoded with (first
    // column by construction of encode's select)
    val idCol = codes.schema.fields.head.name
    (Layout.excludeTombstoned(spark, codes, s"$path/_tombstones", idCol), model)
  }

  /** Append a batch to a persisted PQ index THROUGH the frozen stored
    * codebooks — the [[Ann.appendIvf]] law for the fine quantizer: FAISS
    * trains once and `add()`s forever after; appended vectors encode
    * O(batch × m × k) with no re-fit and the codes stay mutually
    * comparable. Unlike SQ8 there is no clamp-drift failure mode — every
    * vector has SOME nearest centroid per subspace; distribution drift
    * degrades quantization error smoothly, which the exact re-rank
    * absorbs. The dims guard is loud: [[PqModel.encodeOne]] on a
    * wrong-width vector would throw row-by-row inside a task otherwise.
    * Idempotence is the caller's contract; pair with
    * [[Layout.ledgeredBatch]] for streaming (the Hnsw/Bm25 recipe).
    */
  def appendCodes(
      spark: org.apache.spark.sql.SparkSession,
      batch: DataFrame,
      path: String,
      idCol: String = "vec_id",
      vecCol: String = "embedding"): Unit = {
    // mirror sq.appendCodes: deleteCodes writes tombstones as LONGS and
    // load/compactCodes anti-join them against this column — with a
    // non-integral id, appends would succeed but deletes silently never
    // match, so refuse the append loudly instead
    Ann.requireIntegralId(batch, idCol, "pq.appendCodes")
    val model = loadModel(spark, path)
    val stats = batch.agg(
      min(size(col(vecCol))).as("dmin"), max(size(col(vecCol))).as("dmax"),
      count(lit(1)).as("n")).head
    if (stats.getLong(2) == 0L) return // empty batch: nothing to encode
    require(stats.getInt(0) == model.dims && stats.getInt(1) == model.dims,
      s"pq.appendCodes: batch dims [${stats.getInt(0)}, ${stats.getInt(1)}] " +
        s"!= index dims ${model.dims}")
    encode(batch, model, idCol, vecCol)
      .write.mode("append").parquet(s"$path/codes")
  }

  /** [[appendCodes]] under the batch ledger ([[Layout.ledgeredBatch]]) —
    * the streaming-maintenance wrapper (the [[Ann.appendIvfBatch]] law):
    * at-least-once micro-batch delivery converges to exactly-once code
    * growth; a replayed batch id no-ops against the marker. The frozen
    * codebooks make replays idempotent-in-value — the same batch always
    * encodes to the same codes. The residual crash window (codes appended,
    * marker not yet written) is closed by [[Layout.freshBatchRows]]: a
    * replayed batch anti-joins against ids already in `codes/`
    * (id-range-pushed scan) and appends nothing. Append-only: a known id
    * re-sent with an UPDATED vector keeps its original codes silently
    * ([[Layout.freshBatchRows]]) — update = tombstone + compact +
    * re-append. Returns true when the batch applied.
    */
  def appendCodesBatch(
      spark: org.apache.spark.sql.SparkSession,
      batch: DataFrame,
      path: String,
      batchId: Long,
      idCol: String = "vec_id",
      vecCol: String = "embedding"): Boolean =
    ledgered(spark, path, batchId) {
      appendCodes(spark,
        Layout.freshBatchRows(spark, batch, s"$path/codes", idCol),
        path, idCol, vecCol)
      ()
    }

  /** Mark ids deleted (tombstone sidecar append — probes exclude via
    * [[load]], [[compactCodes]] purges; a delete is terminal until then).
    */
  def deleteCodes(
      spark: org.apache.spark.sql.SparkSession,
      path: String,
      ids: Seq[Long],
      idCol: String = "vec_id"): Unit =
    markDeleted(spark, path, ids, idCol)

  /** Fold tombstones into the code table (anti-join — scale-safe at any
    * tombstone count) and swap via the shared rename-aside protocol. The
    * codebooks are untouched: the quantizer stays frozen, so surviving
    * codes remain valid verbatim. Returns (rows before, rows after).
    */
  def compactCodes(
      spark: org.apache.spark.sql.SparkSession,
      path: String,
      idCol: String = "vec_id"): (Long, Long) =
    Layout.compactKeyedTable(
      spark, s"$path/codes", s"$path/_tombstones", idCol, "pq.compactCodes")

  /** Batch ANN over PQ codes: one row per (query, rank ≤ k).
    *
    * `rerank = 0` returns ADC-ranked results (`dist` is the APPROXIMATE
    * squared distance). `rerank = r > 0` shortlists `r × k` per query by
    * ADC, joins ONLY those ids back to `emb` for true vectors, re-scores
    * exactly and returns true L2 in `dist` — the standard two-stage
    * PQ search; the full-vector fetch is bounded by queries × r × k rows.
    */
  def topKBatch(
      queries: DataFrame,
      codes: DataFrame,
      model: PqModel,
      k: Int,
      emb: DataFrame = null,
      rerank: Int = 4,
      queryIdCol: String = "query_id",
      queryVecCol: String = "query_vec",
      idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame = {
    require(rerank == 0 || emb != null,
      "rerank > 0 needs the full-vector table to re-score shortlisted candidates")
    val tablesUdf = udf { q: Seq[Float] =>
      model.adcTables(q.toArray).map(_.toSeq).toSeq
    }
    // tables computed once per query row (executor-side), then broadcast;
    // the per-code scoring below is pure codegen over the code scan
    val qTables = broadcast(
      queries.select(col(queryIdCol), col(queryVecCol),
        tablesUdf(col(queryVecCol)).as("__tables")))
    val scored = codes
      .crossJoin(qTables.select(col(queryIdCol), col("__tables")))
      .withColumn("dist", adcScore(col("codes"), col("__tables"), model.m))
    val shortN = if (rerank > 0) k * rerank else k
    val shortlist = Ann.finishTopK(
      scored.select(col(queryIdCol), col(idCol), col("dist")),
      shortN, queryIdCol, idCol)
    if (rerank == 0) shortlist
    else rerankExact(shortlist, queries, emb, k, queryIdCol, queryVecCol, idCol, vecCol)
  }

  /** ADC score Σⱼ tables[j][codes[j]] unrolled to `m` flat codegen terms
    * — the [[Sq.adcDist2]] recipe (interpreted HOF loops re-traverse the
    * arrays in the expression interpreter per row; flat columns stay
    * inside whole-stage codegen, measured 27× on the SQ8 twin). Same
    * left-to-right association as the `aggregate(zip_with(...))` fold it
    * replaced, with the fold's `0.0 +` prefix dropped — all terms are
    * ≥ 0 squared distances, so the sum is bit-identical and the a7/a8
    * golden pins stand.
    */
  private def adcScore(codes: Column, tables: Column, m: Int): Column =
    (0 until m).map { j =>
      element_at(element_at(tables, j + 1), element_at(codes, j + 1) + 1)
        .cast("double")
    }.reduce(_ + _)

  private def rerankExact(
      shortlist: DataFrame,
      queries: DataFrame,
      emb: DataFrame,
      k: Int,
      queryIdCol: String,
      queryVecCol: String,
      idCol: String,
      vecCol: String): DataFrame = {
    val exact = shortlist.select(col(queryIdCol), col(idCol))
      .join(emb.select(col(idCol), col(vecCol)), Seq(idCol))
      .join(broadcast(queries.select(col(queryIdCol), col(queryVecCol))),
        Seq(queryIdCol))
      .withColumn("dist",
        graft.functions.VectorFunctions.l2Distance(col(vecCol), col(queryVecCol)))
    Ann.finishTopK(
      exact.select(col(queryIdCol), col(idCol), col("dist")),
      k, queryIdCol, idCol)
  }

  /** IVF + PQ composed (the FAISS `IVFPQ` layout): IVF prunes WHICH rows
    * are scored (only the `nProbe` nearest lists per query), PQ shrinks
    * WHAT is scanned for them (codes, not vectors). At 100 TB this is the
    * layout that works: the coarse quantizer turns the scan into list
    * pruning (static partition pruning when the code table is written
    * `partitionBy(centroid_id)` like [[Ann.writeIvf]]), and each probed
    * list is read at PQ-code width.
    *
    * Inputs compose from the existing builders: `assigned`/`centroids`
    * from [[Ann.buildIvf]] (coarse lists), `codes`/`model` from
    * [[fit]]/[[encode]] (fine quantizer). Probing ALL lists makes this
    * exactly [[topKBatch]] (asserted in PqSpec).
    */
  def ivfPqTopKBatch(
      queries: DataFrame,
      assigned: DataFrame,
      centroids: DataFrame,
      codes: DataFrame,
      model: PqModel,
      k: Int,
      nProbe: Int = 4,
      emb: DataFrame = null,
      rerank: Int = 4,
      queryIdCol: String = "query_id",
      queryVecCol: String = "query_vec",
      idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame = {
    require(rerank == 0 || emb != null,
      "rerank > 0 needs the full-vector table to re-score shortlisted candidates")
    val tablesUdf = udf { q: Seq[Float] =>
      model.adcTables(q.toArray).map(_.toSeq).toSeq
    }
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(queryIdCol)).orderBy(col("cdist"), col("centroid_id"))
    val probes = queries
      .crossJoin(broadcast(centroids))
      .withColumn("cdist",
        graft.functions.VectorFunctions.l2Distance(col("centroid"), col(queryVecCol)))
      .withColumn("__r", row_number().over(w))
      .where(col("__r") <= nProbe)
      .select(col(queryIdCol), tablesUdf(col(queryVecCol)).as("__tables"),
        col("centroid_id"))
    // list membership prunes the candidate set BEFORE any scoring; the
    // surviving rows are scored from codes alone — vectors never move
    val scored = assigned.select(col(idCol), col("centroid_id"))
      .join(broadcast(probes), Seq("centroid_id"))
      .join(codes, Seq(idCol))
      .withColumn("dist", adcScore(col("codes"), col("__tables"), model.m))
    val shortN = if (rerank > 0) k * rerank else k
    val shortlist = Ann.finishTopK(
      scored.select(col(queryIdCol), col(idCol), col("dist")),
      shortN, queryIdCol, idCol)
    if (rerank == 0) shortlist
    else rerankExact(shortlist, queries, emb, k, queryIdCol, queryVecCol, idCol, vecCol)
  }
}
