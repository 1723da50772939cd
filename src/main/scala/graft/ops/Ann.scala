package graft.ops

import graft.functions.VectorFunctions
import graft.search.Knn
import org.apache.spark.ml.clustering.KMeans
import org.apache.spark.ml.feature.BucketedRandomProjectionLSH
import org.apache.spark.ml.linalg.{Vectors, Vector => MLVector}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Approximate nearest-neighbor search over an `ARRAY<FLOAT>` embedding
  * column (builder brief): brute-force is the exact baseline
  * ([[graft.search.Knn]]); the scale paths here trade recall for pruning.
  *
  * - LSH: random hyperplane projections bucket the index once; a query
  *   probes only its buckets. Index never re-shuffles per query.
  * - IVF: a KMeans coarse quantizer partitions the index by nearest
  *   centroid; a query scans only `nProbe` inverted lists. This is the
  *   layout a 100 TB index wants on disk: `partitionBy(centroid_id)` makes
  *   probing = partition pruning at the parquet scan.
  */
object Ann extends IndexLifecycle {
  protected def lifecycleIdCol: String = "vec_id"


  private val toMl = udf { a: Seq[Float] =>
    Vectors.dense(a.map(_.toDouble).toArray)
  }
  private val toArr = udf { v: MLVector => v.toArray.map(_.toFloat) }

  /** ids must be integral: a blind cast("long") would turn e.g. string ids
    * into nulls the top-k heap silently drops.
    */
  private[ops] def requireIntegralId(df: DataFrame, idCol: String, op: String): Unit = {
    val idType = df.schema(idCol).dataType
    require(
      idType == org.apache.spark.sql.types.LongType ||
        idType == org.apache.spark.sql.types.IntegerType,
      s"$op id column '$idCol' must be integral, got $idType")
  }

  /** Materialize a subtree ONCE before multiple consumers (the
    * double-execution class measured at −30% on a6) as an eager
    * `localCheckpoint`: executor-local blocks, fastest, but the lineage
    * is truncated, so an executor loss (spot nodes, dynamic allocation)
    * fails the job — the same trade as every other `localCheckpoint` in
    * the library. Blocks are freed by [[release]] or by ContextCleaner
    * when the frame is dropped. A frame that is already local (see
    * [[isLocal]]) is returned as is: pinning it again costs a job and
    * buys nothing.
    */
  private[graft] def materializeOnce(df: DataFrame): DataFrame =
    if (isLocal(df)) df else df.localCheckpoint(true)

  /** Free the blocks [[materializeOnce]] (or any `localCheckpoint`)
    * pinned under `df` once its consumers have run, instead of when
    * ContextCleaner next sees the frame collected. A checkpoint's blocks
    * live in the RDD its plan's `LogicalRDD` holds, not in the cache
    * manager, so `Dataset.unpersist()` alone cannot reach them; a
    * persisted frame is unpersisted too.
    */
  private[graft] def release(df: DataFrame): Unit = {
    df.queryExecution.analyzed.foreach {
      case lr: org.apache.spark.sql.execution.LogicalRDD =>
        lr.rdd.unpersist(blocking = false)
      case _ => ()
    }
    if (df.storageLevel != org.apache.spark.storage.StorageLevel.NONE)
      df.unpersist(blocking = false)
  }

  /** True when `df` reads nothing but driver rows (a `LocalRelation`) or
    * a materialized checkpoint, under column renames and literals only:
    * re-running such a plan per consumer re-reads pinned rows and
    * re-executes no subtree.
    */
  private[graft] def isLocal(df: DataFrame): Boolean = {
    import org.apache.spark.sql.catalyst.expressions.{Alias, Attribute, Literal}
    import org.apache.spark.sql.catalyst.plans.logical._
    def walk(p: LogicalPlan): Boolean = p match {
      case _: LocalRelation => true
      case r: org.apache.spark.sql.execution.LogicalRDD => r.rdd.isCheckpointed
      case Project(list, child) => list.forall {
        case _: Attribute | Alias(_: Attribute | _: Literal, _) => true
        case _ => false
      } && walk(child)
      case SubqueryAlias(_, child) => walk(child)
      case _ => false
    }
    walk(df.queryExecution.analyzed)
  }

  /** Broadcast a data-dependent candidate-id frame only while it provably
    * fits. The candidate set's size is |queries| × banding selectivity — a
    * mistuned bucketLength/width (or skewed data) degenerates the banding
    * and an unconditional `broadcast()` hint would then force an OOM-sized
    * driver collect. The probe scans at most `cap + 1` rows (limit pushes
    * down, never a full materialization); past the cap the join falls back
    * to a shuffle — slower, never fatal.
    */
  private def maybeBroadcast(candIds0: DataFrame, cap: Int): DataFrame = {
    // materialize the candidate subtree ONCE before the size probe: the
    // probe is an action, and without this the whole banding subtree runs
    // twice — once for the count, once for the real join (shuffle output
    // is not reused across jobs; measured 2.6 → 1.8 s warm on a6 at
    // sf0.1). The blocks are candidate-volume-sized (what the join must
    // consume anyway) and ContextCleaner frees them when the result frame
    // is dropped.
    val candIds = materializeOnce(candIds0)
    if (candIds.limit(cap + 1).count() <= cap) broadcast(candIds) else candIds
  }

  /** Shared batch finisher: (query_id, id, dist) candidate rows → bounded
    * heap per query → one row per (query, rank ≤ k).
    */
  private[ops] def finishTopK(
      scored: DataFrame, k: Int, queryIdCol: String, idCol: String): DataFrame =
    scored
      .groupBy(col(queryIdCol))
      .agg(call_function("topk_by_dist",
        col("dist"), col(idCol).cast("long"), lit(k)).as("topk"))
      .select(col(queryIdCol), posexplode(col("topk")).as(Seq("r", "hit")))
      .select(
        col(queryIdCol),
        (col("r") + 1).cast("int").as("rank"),
        col("hit.id").as(idCol),
        col("hit.dist").as("dist"))

  // ----------------------------------------------------------------- LSH

  /** Fit a bucketed-random-projection model (L2 LSH) on the index. */
  def fitLsh(
      index: DataFrame,
      vecCol: String = "embedding",
      bucketLength: Double = 2.0,
      numHashTables: Int = 4): (DataFrame, BucketedRandomProjectionLSHModelWrapper) = {
    val withMl = index.withColumn("__ml", toMl(col(vecCol)))
    val lsh = new BucketedRandomProjectionLSH()
      .setInputCol("__ml").setOutputCol("__hashes")
      .setBucketLength(bucketLength).setNumHashTables(numHashTables)
      .setSeed(42L)
    val model = lsh.fit(withMl)
    (model.transform(withMl), new BucketedRandomProjectionLSHModelWrapper(model))
  }

  /** Single-query ANN top-k through the fitted LSH model. */
  def lshTopK(
      hashed: DataFrame,
      model: BucketedRandomProjectionLSHModelWrapper,
      queryVec: Array[Float],
      k: Int,
      idCol: String = "vec_id"): DataFrame = {
    val q = Vectors.dense(queryVec.map(_.toDouble))
    model.underlying.approxNearestNeighbors(hashed, q, k, "dist")
      .select(col(idCol), round(col("dist"), 6).as("dist"))
  }

  /** Batch ANN: many queries against a fitted LSH index in ONE join — the
    * LSH analog of [[graft.search.Knn.topKBatch]]. Per-query
    * `approxNearestNeighbors` re-plans the index scan for every query; at
    * 100 TB with a query *table* the right shape is:
    *
    *  1. hash the queries through the already-fitted model (transform only,
    *     no fit — queries must live in the index's hash space);
    *  2. explode both sides' hash tables to `(band, bucket)` keys;
    *  3. equi-join on the key, query side broadcast (queries ≪ index, so
    *     the index never shuffles for the join);
    *  4. exact distance on the candidates (codegen, map-side — the shuffle
    *     that follows carries only `(query_id, id, dist)` scalars);
    *  5. dedup multi-band collisions, then bounded-heap top-k per query.
    *
    * Recall = P(any of the `numHashTables` bands collide); tune
    * `bucketLength`/`numHashTables` at fit time, not here.
    *
    * CAVEAT (measured, 1M × 64 queries, PERF.md): MLlib's model hashes
    * with ONE projection per table, so each band keeps a large slice of
    * the index and the candidate set barely shrinks — this path exists for
    * compatibility with a fitted `BucketedRandomProjectionLSH` model.
    * Prefer [[rpTopKBatch]] (AND-amplified multi-projection keys, ~100×
    * faster probe at the same recall) when you control the hashing.
    */
  def lshTopKBatch(
      queries: DataFrame,
      hashed: DataFrame,
      model: BucketedRandomProjectionLSHModelWrapper,
      k: Int,
      queryIdCol: String = "query_id",
      queryVecCol: String = "query_vec",
      idCol: String = "vec_id",
      vecCol: String = "embedding",
      maxBroadcastCandidates: Int = 4000000): DataFrame = {
    requireIntegralId(hashed, idCol, "lshTopKBatch")
    import org.apache.spark.ml.functions.vector_to_array
    val qHashed = model.underlying
      .transform(queries.withColumn("__ml", toMl(col(queryVecCol))))
    def bands(df: DataFrame, keep: Seq[Column]): DataFrame =
      df.select(keep :+ posexplode(col("__hashes")).as(Seq("band", "__hv")): _*)
        .withColumn("__bucket", element_at(vector_to_array(col("__hv")), 1))
        .drop("__hv")
    // The probe join moves ONLY (id, band, bucket) — never the vectors.
    // Exploding the index bands WITH the embedding column attached pushes
    // |index| × numHashTables full vectors through the join and costs more
    // than the distances it saves; candidates here are two longs per row.
    val qBands = bands(qHashed, Seq(col(queryIdCol)))
    val iBands = bands(hashed, Seq(col(idCol)))
    val candIds = iBands
      .join(broadcast(qBands), Seq("band", "__bucket"))
      .select(col(queryIdCol), col(idCol))
      .distinct()
    // Fetch each surviving candidate's vector once (candidates ≪ index by
    // construction — that is the point of LSH — so they broadcast, guarded
    // against degenerate banding), score against the broadcast query
    // vectors, heap-topk per query.
    val cands = hashed
      .select(col(idCol), col(vecCol))
      .join(maybeBroadcast(candIds, maxBroadcastCandidates), Seq(idCol))
      .join(broadcast(queries.select(col(queryIdCol), col(queryVecCol))),
        Seq(queryIdCol))
      .withColumn("dist", VectorFunctions.l2Distance(col(vecCol), col(queryVecCol)))
      .select(col(queryIdCol), col(idCol), col("dist"))
    finishTopK(cands, k, queryIdCol, idCol)
  }

  // --------------------------------------------- multi-projection RP-LSH

  /** One table's band key: AND-combination of `nProjs` quantized
    * projections, `floor(⟨x, r⟩ / width)` each, concatenated — each added
    * projection multiplies bucket selectivity, the AND-amplification
    * MLlib's BucketedRandomProjectionLSH (one projection per table)
    * cannot express.
    *
    * Native codegen since round 9: ONE static call per row through
    * [[graft.functions.RpBandKeyExpr]] — deterministic coefficients
    * (same xxhash64 law the per-row HOF recomputed) built once per plan
    * into a flat `double[]`, so nothing hashes per row and the generated
    * bytes per call site are O(1) regardless of dims. (A per-dim
    * unrolled column tree was tried first and REJECTED: at
    * `dims × nProjs × nTables` Add nodes per select it crossed janino's
    * 64 KB method limit and the whole stage silently fell back to the
    * interpreter.) Bit-identical keys, pinned against the HOF twin in
    * AnnSpec.
    *
    * `dims` must be the vector width; vectors shorter than `dims` refuse
    * loudly at key time, longer ones band on their first `dims`
    * components — callers probe it once via [[probeDims]].
    */
  def rpBandKey(vec: Column, dims: Int, table: Int, nProjs: Int, width: Double,
      seed: Long = 42L): Column =
    graft.functions.VectorFunctions.rpBandKey(vec, dims, table, nProjs, width, seed)

  /** The pre-round-9 interpreted-HOF band key, kept ONLY as the
    * bit-equality twin for AnnSpec/ScaleSmoke A/Bs of [[rpBandKey]].
    */
  private[graft] def rpBandKeyHof(vec: Column, table: Int, nProjs: Int,
      width: Double, seed: Long = 42L): Column = {
    def rCoef(p: Int, dim: Column): Column =
      pmod(xxhash64(lit(seed), lit(table), lit(p), dim), lit(100000L)) /
        lit(100000.0) - lit(0.5)
    val projs = (0 until nProjs).map { p =>
      val dot = aggregate(
        zip_with(vec, sequence(lit(0), size(vec) - 1),
          (x, d) => x.cast("double") * rCoef(p, d)),
        lit(0.0), (acc, v) => acc + v)
      floor(dot / lit(width)).cast("long").cast("string")
    }
    concat_ws(",", projs: _*)
  }

  /** Vector width probe for the native banding: min/max of `size(vecCol)`
    * over a bounded sample (1024 rows — one tiny job, not a corpus
    * pass). Uniform widths (every sane embedding table) resolve from any
    * sample; a ragged column either refuses here or fails loudly at key
    * time ([[graft.functions.RpBandKeyExpr]] refuses rows shorter than
    * `dims`). Empty frame → 0 dims (the banding of zero rows).
    */
  private[ops] def probeDims(df: DataFrame, vecCol: String, op: String): Int = {
    val r = df.select(size(col(vecCol)).as("__n")).limit(1024)
      .agg(min(col("__n")), max(col("__n"))).head
    if (r.isNullAt(0)) 0
    else {
      require(r.getInt(0) == r.getInt(1),
        s"$op: ragged vector column $vecCol (${r.getInt(0)} vs ${r.getInt(1)} " +
          "dims in the probe sample) — the flat banding indexes every dim")
      r.getInt(0)
    }
  }

  /** Banded index for [[rpTopKBatch]]: one `(id, band, __key)` row per
    * (vector, table). Compute ONCE and persist (or write to a parquet
    * "bands" sidecar next to the index — it is pure column algebra, so it
    * also maintains incrementally with the index): the banding is the
    * expensive half (nTables × nProjs hashed projections per row), the
    * probe is cheap.
    */
  def rpIndexBands(
      index: DataFrame,
      idCol: String = "vec_id",
      vecCol: String = "embedding",
      nTables: Int = 8,
      nProjs: Int = 3,
      width: Double = 0.5,
      seed: Long = 42L): RpBands = {
    val dims = probeDims(index, vecCol, "rpIndexBands")
    RpBands(
      index.select(col(idCol), posexplode(
        array((0 until nTables).map(t =>
          rpBandKey(col(vecCol), dims, t, nProjs, width, seed)): _*)).as(Seq("band", "__key"))),
      nTables, nProjs, width, seed, dims)
  }

  /** Batch ANN via multi-projection random-projection LSH — the fully
    * Spark-native alternative to [[lshTopKBatch]].
    *
    * Why it exists: profiling at 1M × 64 queries showed MLlib's BRP-LSH
    * tables (one projection each, OR-combined) keep ~5% of the index per
    * band — candidates shrink ~6× while the probe joins cost more than the
    * distances saved. Classic E2LSH fixes this with `nProjs` projections
    * AND-ed per table (selectivity fⁿ, recall recovered by OR over
    * `nTables`); this implements exactly that as codegen column algebra —
    * no fit, no model broadcast, deterministic from `seed`.
    *
    * Plan shape matches [[lshTopKBatch]]: narrow (id, band, key) explode,
    * broadcast probe join, candidate-id dedup, vectors fetched once,
    * bounded-heap top-k.
    */
  def rpTopKBatch(
      queries: DataFrame,
      index: DataFrame,
      k: Int,
      nTables: Int = 8,
      nProjs: Int = 3,
      width: Double = 0.5,
      seed: Long = 42L,
      queryIdCol: String = "query_id",
      queryVecCol: String = "query_vec",
      idCol: String = "vec_id",
      vecCol: String = "embedding",
      indexBands: Option[RpBands] = None,
      maxBroadcastCandidates: Int = 4000000): DataFrame = {
    requireIntegralId(index, idCol, "rpTopKBatch")
    // mismatched quantization would band-join almost nothing and silently
    // return near-empty results — refuse instead
    // query keys must live in the index's band space: same dims (the
    // distance step enforces equality anyway — shorter queries fail at
    // key time, which is earlier and louder)
    val probedDims = probeDims(index, vecCol, "rpTopKBatch")
    indexBands.foreach { b =>
      // dims gets the same loud refusal as the other four quantization
      // params: bands built from a different-width index would put the
      // query keys in a silently DISJOINT band space (empty results)
      require(
        b.nTables == nTables && b.nProjs == nProjs &&
          b.width == width && b.seed == seed && b.dims == probedDims,
        s"precomputed index bands were built with (nTables=${b.nTables}, " +
          s"nProjs=${b.nProjs}, width=${b.width}, seed=${b.seed}, " +
          s"dims=${b.dims}) but the probe asked for " +
          s"($nTables, $nProjs, $width, $seed, dims=$probedDims)")
    }
    // the band space's dims: the precomputed bands' if supplied (they are
    // the space the query keys must land in), else the probed index's
    val qDims = indexBands.map(_.dims).getOrElse(probedDims)
    val qBands = queries.select(col(queryIdCol), posexplode(
      array((0 until nTables).map(t =>
        rpBandKey(col(queryVecCol), qDims, t, nProjs, width, seed)): _*))
      .as(Seq("band", "__key")))
    val iBands = indexBands.map(_.bands).getOrElse(
      rpIndexBands(index, idCol, vecCol, nTables, nProjs, width, seed).bands)
    val candIds = iBands
      .join(broadcast(qBands), Seq("band", "__key"))
      .select(col(queryIdCol), col(idCol))
      .distinct()
    val cands = index
      .select(col(idCol), col(vecCol))
      .join(maybeBroadcast(candIds, maxBroadcastCandidates), Seq(idCol))
      .join(broadcast(queries.select(col(queryIdCol), col(queryVecCol))),
        Seq(queryIdCol))
      .withColumn("dist", VectorFunctions.l2Distance(col(vecCol), col(queryVecCol)))
      .select(col(queryIdCol), col(idCol), col("dist"))
    finishTopK(cands, k, queryIdCol, idCol)
  }

  // ------------------------------------------------------------ kNN join

  /** Exact k-nearest-neighbor JOIN: the top-k L2 neighbors for EVERY row
    * (self excluded) — the all-rows primitive under SemDeDup-style
    * clustering, kNN classification, and kNN-LM datastore builds, distinct
    * from the query-batch shape ([[rpTopKBatch]]) whose query side is
    * small. Output: `(query_id, rank, idCol, dist)`, rank 1..k ordered by
    * (dist, id) — deterministic ties.
    *
    * The self-product is broadcast-nested-loop work: O(n²) distance
    * evaluations. The guard refuses past `maxExactRows` (the d4 lesson: a
    * job that never finishes is worse than one that refuses) — above it,
    * use [[knnJoinRp]], which bands first.
    */
  def knnJoinExact(
      emb: DataFrame,
      k: Int,
      idCol: String = "vec_id",
      vecCol: String = "embedding",
      maxExactRows: Int = 1 << 16): DataFrame = {
    requireIntegralId(emb, idCol, "knnJoinExact")
    val n = emb.limit(maxExactRows + 1).count()
    require(n <= maxExactRows,
      s"knnJoinExact would evaluate >${maxExactRows.toLong * maxExactRows} " +
        s"distances over $n+ rows — use knnJoinRp (banded) for tables past " +
        s"maxExactRows=$maxExactRows")
    val q = emb.select(col(idCol).as("query_id"), col(vecCol).as("__qvec"))
    val scored = emb
      .select(col(idCol), col(vecCol))
      .crossJoin(broadcast(q))
      .where(col(idCol) =!= col("query_id"))
      .withColumn("dist", VectorFunctions.l2Distance(col(vecCol), col("__qvec")))
      .select(col("query_id"), col(idCol), col("dist"))
    finishTopK(scored, k, "query_id", idCol)
  }

  /** Banded k-nearest-neighbor JOIN — the scale path of [[knnJoinExact]].
    *
    * Every row's RP band keys ([[rpBandKey]]: nProjs projections AND-ed
    * per table, OR over nTables) self-join on `(band, key)`, so a row only
    * meets candidates sharing a band — the shuffle moves `(id, band, key)`
    * rows, never vectors. Candidates then fetch vectors via two id-keyed
    * joins and reduce through the bounded per-row heap. Recall is the RP
    * collision bound (see [[cosinePairsRp]]); precision is exact — every
    * emitted distance is truly computed.
    *
    * The `repartition(band, key)` pins an Exchange at the fan-out so both
    * sides of the self-join reuse ONE banding pass (the measured 4×
    * re-execution lesson in PERF.md). Hot buckets past `maxBucketSize`
    * are dropped before the quadratic join with the same cutoff law as
    * [[graft.ops.Dedup.hammingPairs]]; rows left with no candidates
    * (possible for isolates in sparse band space) emit nothing — callers
    * needing total coverage re-probe the missing ids through
    * [[rpTopKBatch]] with a wider `width`.
    */
  def knnJoinRp(
      emb: DataFrame,
      k: Int,
      idCol: String = "vec_id",
      vecCol: String = "embedding",
      nTables: Int = 8,
      nProjs: Int = 3,
      width: Double = 0.5,
      seed: Long = 42L,
      maxBucketSize: Long = 1L << 20): DataFrame = {
    requireIntegralId(emb, idCol, "knnJoinRp")
    val bands = rpIndexBands(emb, idCol, vecCol, nTables, nProjs, width, seed)
      .bands
      .repartition(col("band"), col("__key"))
    val hot = bands.groupBy("band", "__key")
      .agg(count(lit(1)).as("n"))
      .where(col("n") > maxBucketSize)
      .select("band", "__key")
    val cold = bands.join(broadcast(hot), Seq("band", "__key"), "left_anti")
    val l = cold.select(col(idCol).as("query_id"), col("band"), col("__key"))
    val r = cold.select(col(idCol).as("__nid"), col("band"), col("__key"))
    val candIds = l.join(r, Seq("band", "__key"))
      .where(col("query_id") =!= col("__nid"))
      .select(col("query_id"), col("__nid"))
      .distinct()
    val scored = candIds
      .join(emb.select(col(idCol).as("query_id"), col(vecCol).as("__qvec")),
        Seq("query_id"))
      .join(emb.select(col(idCol).as("__nid"), col(vecCol).as("__nvec")),
        Seq("__nid"))
      .withColumn("dist", VectorFunctions.l2Distance(col("__nvec"), col("__qvec")))
      .select(col("query_id"), col("__nid").as(idCol), col("dist"))
    finishTopK(scored, k, "query_id", idCol)
  }

  /** kNN classification by majority vote: label each query by the most
    * common label among its retrieved neighbors — the lightweight
    * embedding-space classifier behind FineWeb-edu-style quality scoring
    * and weak-label bootstrapping ([[graft.ops.QualityModel.weakLabels]]'
    * geometric sibling).
    *
    * Deliberately takes a HIT LIST, not vectors: any retrieval path
    * produces one — [[graft.search.Knn.topKBatch]] (exact),
    * [[rpTopKBatch]]/[[ivfTopKBatch]] (banded/pruned), [[knnJoinExact]]/
    * [[knnJoinRp]] (all-rows) — so the vote composes with whichever
    * recall/cost point the caller already chose.
    *
    * Vote law: max votes, ties to the smallest label (deterministic).
    * The vote aggregate is hits-sized (queries × k), never corpus-sized;
    * the per-query window sorts at most k distinct labels.
    */
  def majorityVote(
      hits: DataFrame,
      labels: DataFrame,
      queryIdCol: String = "query_id",
      idCol: String = "vec_id",
      labelCol: String = "label"): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(queryIdCol))
      .orderBy(col("votes").desc, col(labelCol))
    hits
      .join(labels.select(col(idCol), col(labelCol)), Seq(idCol))
      .groupBy(col(queryIdCol), col(labelCol))
      .agg(count(lit(1)).as("votes"))
      .withColumn("__rn", row_number().over(w))
      .where(col("__rn") === 1)
      .select(col(queryIdCol), col(labelCol).as("pred_label"), col("votes"))
  }

  /** Unit-normalize an `ARRAY<FLOAT>` embedding column to `ARRAY<DOUBLE>`
    * (zero vectors dropped — cosine is undefined for them). Codegen since
    * round 9 ([[VectorFunctions.vectorNorm]]/[[VectorFunctions.unitVector]]
    * — bit-identical to the `transform`/`aggregate` folds they replaced;
    * this corpus-wide pass paid the interpreted-HOF tax on every row).
    */
  private def unitRows(emb: DataFrame, idCol: String, vecCol: String): DataFrame =
    emb.where(VectorFunctions.vectorNorm(col(vecCol)) > 0)
      .select(col(idCol), VectorFunctions.unitVector(col(vecCol)).as("__unit"))

  /** Cosine near-dup pairs via multi-projection RP-LSH banding — the scale
    * path [[graft.ops.Dedup.cosinePairsAuto]] escalates to.
    *
    * Shape: normalize to the unit sphere (cos ⇔ L2: ‖a−b‖² = 2−2cos), band
    * each vector with [[rpBandKey]] (nProjs quantized projections AND-ed
    * per table, OR over nTables tables), self-join on `(band, key)` moving
    * only `(id, band, key)`, then verify every candidate with the EXACT
    * cosine — precision is exact by construction, only recall is
    * approximate.
    *
    * Recall: a true pair at distance d* = √(2−2·minCos) collides per
    * projection with probability ≈ 1 − E|Δ|/w where Δ ~ N(0, d*²/12); with
    * the default `width` = d* that is ≈ 0.77 per projection, ≈ 0.45 per
    * 3-projection table, and 1−(1−0.45)¹² ≈ 0.999 over 12 tables. Pairs
    * ABOVE the threshold are closer and collide more. Asserted ≥ 0.9
    * against the exact path in AnnSpec. Selectivity sharpens as minCos → 1
    * (dedup regime); at loose thresholds (≲ 0.5) banding keeps most of the
    * index — that is inherent to LSH, not a tuning failure.
    *
    * Hot-bucket guard: same cutoff as [[Dedup.simhashPairs]] — buckets past
    * `maxBucketSize` are dropped before the quadratic self-join (mass exact
    * dups belong to exact dedup first).
    *
    * Selectivity-probe fallback: at loose thresholds the slabs are wide,
    * most of the index lands in a handful of buckets, and the band
    * self-join generates nearly ALL pairs anyway — plus the explode,
    * shuffle, and distinct that the exact broadcast product never pays
    * (measured: 70 s/run banding vs sub-second exact on 2k×64 at minCos
    * 0.4). So before joining, ONE aggregate over the (already needed)
    * bucket counts estimates the candidate mass Σ n·(n−1)/2; if it is at
    * least `exactFallbackBar` of the full n·(n−1)/2 and the table fits
    * the broadcast product (`maxExactRows`), the exact path runs instead —
    * same output, strictly less work, and recall becomes 1.0. Banding is
    * kept for the regime it exists for: selective buckets on data too big
    * to cross. `exactFallbackBar <= 0` disables the probe (tests force the
    * banding branch with it).
    *
    * Supersedes [[cosinePairsLsh]] (MLlib BRP: ONE projection per table, no
    * AND-amplification — measured ~32% recall at minCos 0.4 on the fixture
    * where this path exceeds 90%).
    */
  def cosinePairsRp(
      emb: DataFrame,
      idCol: String = "vec_id",
      vecCol: String = "embedding",
      minCos: Double = 0.95,
      nTables: Int = 12,
      nProjs: Int = 3,
      width: Option[Double] = None,
      seed: Long = 42L,
      maxBucketSize: Long = 1L << 20,
      exactFallbackBar: Double = 0.25,
      maxExactRows: Int = 1 << 18): DataFrame = {
    val dStar = math.sqrt(math.max(1e-12, 2.0 - 2.0 * minCos))
    val w = width.getOrElse(dStar)
    val unit = unitRows(emb, idCol, vecCol)
    val dims = probeDims(emb, vecCol, "cosinePairsRp")
    val banded = unit.select(col(idCol), posexplode(
      array((0 until nTables).map(t => rpBandKey(col("__unit"), dims, t, nProjs, w, seed)): _*))
      .as(Seq("band", "__key")))
    val counts = banded.groupBy("band", "__key").agg(count(lit(1)).as("n"))
    // When the probe runs, its ONE aggregation job also collects the
    // hot-bucket key list (bounded: a key only qualifies past
    // maxBucketSize rows, so there are at most n/maxBucketSize of them) —
    // the banding branch then reuses that snapshot as a local relation
    // instead of recomputing the counts shuffle a second time for the
    // hot filter.
    val hotSnapshot: Option[DataFrame] =
      if (exactFallbackBar > 0) {
        val nRows = emb.limit(maxExactRows + 1).count()
        if (nRows <= maxExactRows) {
          val probeRow = counts.agg(
            sum(when(col("n") <= maxBucketSize, col("n") * (col("n") - 1)))
              .cast("double"),
            collect_list(when(col("n") > maxBucketSize,
              struct(col("band"), col("__key"))))).head
          // candMass double-counts pairs colliding in several tables — that
          // is deliberate: it is the JOIN-ROW volume the banding path would
          // actually materialize, the honest cost to compare against one
          // full product
          val candMass = if (probeRow.isNullAt(0)) 0.0 else probeRow.getDouble(0) / 2.0
          val exactMass = nRows.toDouble * (nRows - 1) / 2.0
          if (candMass >= exactFallbackBar * exactMass) {
            return Dedup.cosinePairsExactUnchecked(emb, idCol, vecCol, minCos)
              .orderBy(col("id_a"), col("id_b"))
          }
          val hotRows = probeRow.getSeq[org.apache.spark.sql.Row](1)
          Some(emb.sparkSession.createDataFrame(
            new java.util.ArrayList(java.util.Arrays.asList(hotRows: _*)),
            org.apache.spark.sql.types.StructType(
              counts.schema.fields.take(2))))
        } else None
      } else None
    val hot = hotSnapshot.getOrElse(
      counts
        .where(col("n") > maxBucketSize)
        .select("band", "__key"))
    val cold = banded.join(broadcast(hot), Seq("band", "__key"), "left_anti")
    val candPairs = cold.select(col(idCol).as("id_a"), col("band"), col("__key"))
      .join(cold.select(col(idCol).as("id_b"), col("band"), col("__key")),
        Seq("band", "__key"))
      .where(col("id_a") < col("id_b"))
      .select("id_a", "id_b")
      .distinct()
    // exact verify — PERF.md's "the exact-verify step carries the cost"
    // regime: codegen dot product (bit-identical to the zip_with fold),
    // not an interpreted HOF per candidate pair
    candPairs
      .join(unit.select(col(idCol).as("id_a"), col("__unit").as("__ua")), Seq("id_a"))
      .join(unit.select(col(idCol).as("id_b"), col("__unit").as("__ub")), Seq("id_b"))
      .withColumn("cos", VectorFunctions.dotProductD(col("__ua"), col("__ub")))
      .where(col("cos") >= minCos)
      .select(col("id_a"), col("id_b"), round(col("cos"), 6).as("cos"))
      .orderBy(col("id_a"), col("id_b"))
  }

  /** Cosine near-dup pairs at scale: normalize to the unit sphere (cos sim
    * ⇔ L2 dist: ‖a−b‖² = 2−2cos), then LSH `approxSimilarityJoin`. Kept for
    * compatibility with a fitted MLlib model; prefer [[cosinePairsRp]] —
    * MLlib hashes with one projection per table, so recall at a given
    * candidate volume is strictly worse (no AND-amplification).
    */
  def cosinePairsLsh(
      emb: DataFrame,
      idCol: String = "vec_id",
      vecCol: String = "embedding",
      minCos: Double = 0.95,
      bucketLength: Double = 0.5,
      numHashTables: Int = 4): DataFrame = {
    // normalize via the codegen UnitVector (bit-identical to the
    // transform/aggregate HOF pair it replaced — PERF.md §11c's 27-57×
    // regime); the Vectors.dense closure UDF survives only at the MLlib
    // model boundary, whose VectorUDT input the API forces
    val normed = emb
      .where(VectorFunctions.vectorNorm(col(vecCol)) > 0)
      .select(col(idCol),
        udf { a: Seq[Double] => Vectors.dense(a.toArray) }
          .apply(VectorFunctions.unitVector(col(vecCol))).as("__ml"))
    val lsh = new BucketedRandomProjectionLSH()
      .setInputCol("__ml").setOutputCol("__hashes")
      .setBucketLength(bucketLength).setNumHashTables(numHashTables)
      .setSeed(42L)
    val model = lsh.fit(normed)
    val maxL2 = math.sqrt(math.max(0.0, 2.0 - 2.0 * minCos))
    model.approxSimilarityJoin(normed, normed, maxL2, "l2")
      .select(
        col(s"datasetA.$idCol").as("id_a"),
        col(s"datasetB.$idCol").as("id_b"),
        round(lit(1.0) - col("l2") * col("l2") / 2.0, 6).as("cos"))
      .where(col("id_a") < col("id_b"))
      .orderBy(col("id_a"), col("id_b"))
  }

  // ----------------------------------------------------------------- IVF

  /** Build an IVF index: KMeans coarse centroids + per-vector assignment.
    * Returns (assigned index with `centroid_id`, centroid table). Persist
    * the assigned index `partitionBy("centroid_id")` and probing becomes
    * parquet partition pruning.
    */
  def buildIvf(
      index: DataFrame,
      vecCol: String = "embedding",
      nLists: Int = 16): (DataFrame, DataFrame) = {
    val withMl = index.withColumn("__ml", toMl(col(vecCol)))
    // coarse quantizer: cluster quality barely moves recall past ~10
    // iterations, and build time is dominated by the fit
    val km = new KMeans().setK(nLists).setSeed(42L).setMaxIter(10)
      .setFeaturesCol("__ml").setPredictionCol("centroid_id")
    val model = km.fit(withMl)
    val spark = index.sparkSession
    import spark.implicits._
    val centroids = model.clusterCenters.zipWithIndex
      .map { case (c, i) => (i, c.toArray.map(_.toFloat)) }
      .toSeq.toDF("centroid_id", "centroid")
    (model.transform(withMl).drop("__ml"), centroids)
  }

  /** [[buildIvf]] with the coarse quantizer trained on a BOUNDED,
    * deterministically-chosen sample via driver-side Lloyd's
    * ([[Pq.lloyd]]) — the FAISS training shape, and the right one at
    * 100 TB: `nLists` centroids are KBs of parameters, so a full-corpus
    * distributed KMeans only adds `maxIter` cluster passes. Sample =
    * top-`sampleCap` rows by `md5(id)` (distributed TakeOrdered, no
    * global sort); assignment is a one-time per-row argmin over the
    * (closure-shipped, KB-sized) centroids — same pattern as
    * [[Pq.encode]]. Seeded kmeans++ init: deterministic end to end.
    */
  def buildIvfSampled(
      index: DataFrame,
      idCol: String = "vec_id",
      vecCol: String = "embedding",
      nLists: Int = 16,
      maxIter: Int = 20,
      sampleCap: Int = 65536,
      seed: Long = 42L): (DataFrame, DataFrame) = {
    val sample: Array[Array[Float]] = index
      .select(md5(col(idCol).cast("string")).as("__h"), col(vecCol))
      .orderBy(col("__h")).limit(sampleCap)
      .select(vecCol).collect()
      .map(_.getSeq[Float](0).toArray)
    require(sample.length >= nLists,
      s"buildIvfSampled: sample ${sample.length} < nLists=$nLists")
    val cents = Pq.lloyd(sample, nLists, maxIter, seed)
    val spark = index.sparkSession
    import spark.implicits._
    val centroids = cents.zipWithIndex
      .map { case (c, i) => (i, c) }.toSeq.toDF("centroid_id", "centroid")
    (index.withColumn("centroid_id", assignUdf(cents)(col(vecCol))), centroids)
  }

  /** Nearest-centroid assignment (float-accumulated squared L2, ties to
    * the smallest centroid id) — the single assignment law shared by
    * [[buildIvfSampled]] and [[appendIvf]] (through the PERSISTED
    * quantizer), so where a vector lives never depends on which code
    * path routed it.
    */
  private def assignUdf(cents: Array[Array[Float]]) =
    udf { v: Seq[Float] =>
      var best = 0; var bestD = Float.MaxValue; var c = 0
      while (c < cents.length) {
        var s = 0.0f; var i = 0
        val cent = cents(c)
        while (i < cent.length) { val d = v(i) - cent(i); s += d * d; i += 1 }
        if (s < bestD) { bestD = s; best = c }
        c += 1
      }
      best
    }

  /** Persist an IVF index partitioned by centroid: probing N lists becomes
    * parquet partition pruning — the on-disk layout a 100 TB ANN index
    * wants (each query touches nProbe directories, not the full scan).
    */
  def writeIvf(assigned: DataFrame, centroids: DataFrame, path: String): Unit = {
    // two independent writes into disjoint dirs — landed concurrently
    // (guide §2.6); a rebuild is a whole-state replace with no commit
    // marker, so the crash exposure is the sequential ordering's
    Layout.mapConcurrently[() => Unit, Unit](Seq(
      () => assigned.write.mode("overwrite")
        .partitionBy("centroid_id").parquet(s"$path/lists"),
      () => centroids.select(col("centroid_id").cast("int"),
          col("centroid").cast("array<float>"))
        .write.mode("overwrite").parquet(s"$path/centroids")),
      parallelism = 2)(_())
    // rebuild = whole-state replace: drop the previous life's
    // _tombstones sidecar and batches ledger (Layout.clearIndexSidecars
    // scaladoc has the failure modes)
    Layout.clearIndexSidecars(assigned.sparkSession, path)
  }

  /** Load a persisted IVF index: (lists, centroids). Tombstoned ids
    * ([[deleteIvf]]) are excluded probe-side via the shared bounded
    * exclusion ([[Layout.excludeTombstoned]]) until a [[compactIvf]]
    * purges them for real.
    */
  def loadIvf(spark: SparkSession, path: String): (DataFrame, DataFrame) =
    (Layout.excludeTombstoned(
      spark, spark.read.parquet(s"$path/lists"), s"$path/_tombstones", "vec_id"),
      Layout.readTable(spark, CentroidsDdl, s"$path/centroids"))

  /** The coarse-quantizer table [[writeIvf]] fixes — also the HNSW
    * router's, which [[buildIvfSampled]] trains. */
  private[ops] val CentroidsDdl = "centroid_id INT, centroid ARRAY<FLOAT>"

  /** The stored coarse quantizer, positionally indexed by centroid_id. */
  private def loadIvfCentroids(spark: SparkSession, path: String): Array[Array[Float]] = {
    val rows = Layout.readTable(spark, CentroidsDdl, s"$path/centroids")
      .collect().sortBy(_.getInt(0))
    rows.zipWithIndex.foreach { case (r, i) =>
      require(r.getInt(0) == i,
        s"loadIvf: centroid ids not dense at $path (${r.getInt(0)} at position $i)")
    }
    rows.map(_.getSeq[Float](1).toArray)
  }

  /** Append new vectors to a persisted IVF index THROUGH the stored
    * quantizer — the FAISS law: the coarse quantizer is FROZEN at train
    * time, appended vectors route through it and the lists grow, visible
    * to probes immediately. Assignment is the same float-accumulated
    * argmin as the build (centroid floats round-trip parquet exactly),
    * so a seed+append index is value-identical to a one-shot build with
    * the same centroids — pinned by `a5b` reusing a5's golden verbatim.
    * Idempotence is the caller's contract; pair with
    * [[Layout.ledgeredBatch]] for streaming (the Hnsw/Bm25 recipe).
    */
  def appendIvf(
      spark: SparkSession,
      index: DataFrame,
      path: String,
      idCol: String = "vec_id",
      vecCol: String = "embedding"): Unit = {
    requireIntegralId(index, idCol, "appendIvf")
    val cents = loadIvfCentroids(spark, path)
    index.withColumn("centroid_id", assignUdf(cents)(col(vecCol)))
      .write.mode("append").partitionBy("centroid_id").parquet(s"$path/lists")
  }

  /** Mark ids deleted (sidecar append — the Bm25/Hnsw stance: probes
    * exclude, [[compactIvf]] purges; a delete is terminal until then).
    */
  def deleteIvf(spark: SparkSession, path: String, ids: Seq[Long]): Unit =
    markDeleted(spark, path, ids)

  /** Fold tombstones into the lists (anti join — scale-safe at any
    * tombstone count, unlike the probe-side exclusion) through the shared
    * keyed-table compact ([[Layout.compactKeyedTable]], which keeps the
    * `centroid_id` partitioning). Centroids are untouched: the quantizer
    * stays frozen. Returns (rows before, rows after).
    */
  def compactIvf(spark: SparkSession, path: String): (Long, Long) =
    Layout.compactKeyedTable(
      spark, s"$path/lists", s"$path/_tombstones", "vec_id", "compactIvf")

  /** [[appendIvf]] under the batch ledger ([[Layout.ledgeredBatch]]) —
    * the streaming-maintenance wrapper, completing the trio with
    * [[graft.search.Bm25.appendIndexBatch]] and [[Hnsw.appendBatch]]:
    * at-least-once micro-batch delivery converges to exactly-once list
    * growth (a replayed batch id no-ops against the marker). The residual
    * crash window (lists appended, marker not yet written) is closed by
    * [[Layout.freshBatchRows]]: the replay's rows anti-join against the
    * ids already in the lists (id-range-pushed scan, micro-batch-bounded)
    * so re-applying the batch appends nothing — the probe hot path needs
    * no duplicate folding. Same append-only contract as every ledgered
    * family: a known id re-sent with an UPDATED vector is silently kept
    * at its ORIGINAL value (see [[Layout.freshBatchRows]]) — updates are
    * tombstone + compact + re-append, never a blind re-send. Returns
    * true iff the batch was applied (false = already ledgered).
    */
  def appendIvfBatch(
      spark: SparkSession,
      index: DataFrame,
      path: String,
      batchId: Long,
      idCol: String = "vec_id",
      vecCol: String = "embedding"): Boolean =
    ledgered(spark, path, batchId) {
      appendIvf(spark,
        Layout.freshBatchRows(spark, index, s"$path/lists", idCol),
        path, idCol, vecCol)
      ()
    }

  /** Small-file maintenance for the IVF lists — the [[graft.search.Bm25
    * .mergeSegments]]/[[Hnsw.mergeSegments]] analog this layout needs
    * once a streaming sink feeds it: every [[appendIvf]] leaves one file
    * per touched centroid partition, and a year of micro-batches is a
    * footer-read tax on every probe. Each `centroid_id=` partition
    * directory is folded INDEPENDENTLY by the size-tiered
    * [[Layout.compactSmallFiles]] (merge set chosen from the file LISTING
    * — only size-peer small files are rewritten, settled files move by
    * rename; this per-partition unit
    * of work is also what bounds a 100 TB maintenance pass). The
    * `_tombstones` sidecar lives at `path/`, not inside the partitions,
    * and the rewrite preserves rows verbatim — probe-side exclusion is
    * unaffected, and [[compactIvf]] remains the pass that folds deletes
    * for real. Single-writer, same rename-aside window as every compact
    * here. Returns per-centroid (filesBefore, filesAfter) for the
    * partitions that were rewritten.
    */
  def compactIvfLists(
      spark: SparkSession,
      path: String,
      targetBytes: Long = 128L << 20): Map[Int, (Int, Int)] = {
    val lists = new org.apache.hadoop.fs.Path(s"$path/lists")
    val fs = lists.getFileSystem(spark.sessionState.newHadoopConf())
    fs.listStatus(lists).toSeq
      .filter(s => s.isDirectory && s.getPath.getName.startsWith("centroid_id="))
      .flatMap { p =>
        // size-tiered (round-14): only size-peer small files rewrite;
        // settled list files hop by rename — per-partition fold cost
        // tracks the fresh appends, not the accumulated list
        val st = Layout.compactSmallFiles(spark, p.getPath.toString, targetBytes)
        if (st.filesAfter < st.filesBefore)
          Some(p.getPath.getName.stripPrefix("centroid_id=").toInt ->
            (st.filesBefore, st.filesAfter))
        else None
      }.toMap
  }

  /** Batch IVF: a query *table* probed in one pass. Per query, rank the
    * centroids (tiny broadcast cross join: |queries| × nLists rows) and
    * keep the `nProbe` nearest; join the probe list back to the assigned
    * index on `centroid_id` with the probe side broadcast — the index
    * never shuffles, and each index row is scored only against the queries
    * that probe its list. Bounded-heap top-k finishes per query.
    *
    * vs [[ivfTopK]]: the single-query path prunes partitions (each query
    * touches nProbe directories); the batch path amortizes ONE index scan
    * across all queries, which is the right trade once the union of probe
    * lists approaches the whole index.
    */
  def ivfTopKBatch(
      assigned: DataFrame,
      centroids: DataFrame,
      queries: DataFrame,
      k: Int,
      nProbe: Int = 4,
      queryIdCol: String = "query_id",
      queryVecCol: String = "query_vec",
      idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame = {
    requireIntegralId(assigned, idCol, "ivfTopKBatch")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(queryIdCol)).orderBy(col("cdist"), col("centroid_id"))
    val probes = queries
      .crossJoin(broadcast(centroids))
      .withColumn("cdist",
        VectorFunctions.l2Distance(col("centroid"), col(queryVecCol)))
      .withColumn("__r", row_number().over(w))
      .where(col("__r") <= nProbe)
      .select(col(queryIdCol), col(queryVecCol), col("centroid_id"))
    val cands = assigned
      .join(broadcast(probes), Seq("centroid_id"))
      .withColumn("dist", VectorFunctions.l2Distance(col(vecCol), col(queryVecCol)))
      .select(col(queryIdCol), col(idCol), col("dist"))
    finishTopK(cands, k, queryIdCol, idCol)
  }

  /** IVF query: rank centroids by distance to the query, then scan only
    * the `nProbe` nearest lists. The probe ids (≤ nLists ints) are
    * resolved on the driver so the list filter is a *literal* predicate —
    * on a centroid-partitioned index that is static partition pruning,
    * guaranteed at plan time (a semi-join would rely on DPP heuristics).
    */
  def ivfTopK(
      assigned: DataFrame,
      centroids: DataFrame,
      queryVec: Array[Float],
      k: Int,
      nProbe: Int = 4,
      idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame = {
    val probeIds = centroids
      .withColumn("cdist", VectorFunctions.l2Distance(col("centroid"), typedlit(queryVec)))
      .orderBy(col("cdist"), col("centroid_id"))
      .limit(nProbe)
      .select("centroid_id")
      .collect()
      .map(_.getInt(0))
    val candidates = assigned.where(col("centroid_id").isin(probeIds.map(Int.box): _*))
    Knn.topKWithScore(candidates, queryVec, k, idCol, vecCol)
  }
}

/** Thin serializable handle so callers don't need the mllib type. */
class BucketedRandomProjectionLSHModelWrapper(
    val underlying: org.apache.spark.ml.feature.BucketedRandomProjectionLSHModel)
  extends Serializable

/** Precomputed RP-LSH index banding with the parameters that produced it —
  * [[Ann.rpTopKBatch]] refuses a probe whose quantization doesn't match
  * (the keys would silently join nothing). Persist `bands` (or write it as
  * a parquet sidecar next to the index) to amortize the banding cost.
  */
case class RpBands(bands: org.apache.spark.sql.DataFrame,
    nTables: Int, nProjs: Int, width: Double, seed: Long, dims: Int)
