package graft.ops

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** Sharded HNSW graph ANN — the graph-walk member of the ANN family next
  * to the bucketing/quantization members ([[Ann]] LSH/RP/IVF, [[Pq]],
  * [[Sq]]). This is the index Chroma actually keeps under the reference's
  * `collection.query` surface (hnswlib; reference surface:
  * /root/reference/micro-infobot/app.py:130's similarity_search), so it
  * closes the one breadth gap the ANN family had left.
  *
  * A sequential graph walk does not distribute, so the Spark-first shape is
  * the segment model every distributed HNSW deployment uses (Vespa, Milvus,
  * Lucene 9 KNN): shard the corpus into `numShards` independent graphs,
  * build each graph inside ONE task (`groupByKey(shard).flatMapGroups` —
  * the build is a single pass over the shard, no shuffle beyond the shard
  * exchange), probe every shard with the broadcast query batch, and merge
  * per-shard top-k lists with the bounded-heap `topk_by_dist` aggregate
  * (map-side k-heaps; the [[Ann.finishTopK]] shape). Probe cost is
  * queries × shards graph walks of ~ef·log(n/shards) distance evaluations
  * — each walk is independent, so a 1000-executor cluster runs one shard
  * per task slot. The only scale constraint is that ONE shard's vectors +
  * adjacency fit one executor (choose numShards so a shard is ~10–50M
  * vectors at 100 TB); the merge moves queries × shards × k rows.
  *
  * Algorithm: Malkov & Yashunin, "Efficient and robust approximate nearest
  * neighbor search using Hierarchical Navigable Small World graphs" (2016)
  * — geometric level assignment (mL = 1/ln M), greedy descent through the
  * upper layers, beam search (`efConstruction`/`efSearch`) at each target
  * layer, bidirectional links pruned to Mmax per node (2M at layer 0).
  * Everything is deterministic: levels come from a splitmix of (seed, id),
  * shard membership from xxhash64(id) mod numShards, insertion order is
  * the shard sorted by id, and every heap orders by (dist, id) — so the
  * whole operator is core-count-invariant and golden-pinnable
  * (`a12`/`a13`; recall bound vs exact kNN lives in HnswSpec).
  *
  * At-rest half ([[write]]/[[probe]]/[[append]]): adjacency rows
  * `(shard, id, vec, level, links[level][...])` as Parquet partitioned by
  * shard — a probe rebuilds each shard graph from adjacency (no
  * re-insertion) inside its task. Appends follow the Lucene/FAISS segment
  * law: a NEW set of shards built from only the new rows, probed alongside
  * the old ones and merged by the same top-k — never an in-place graph
  * mutation (reference analog: Chroma's `add` re-indexes into segments the
  * same way).
  */
object Hnsw extends IndexLifecycle {
  protected def lifecycleIdCol: String = "id"


  /** Graph hyper-parameters. `m`: max links per node per layer (2m at
    * layer 0); `efConstruction`/`efSearch`: beam widths; `numShards`:
    * independent graphs (one build/probe task each); `seed`: level PRNG.
    */
  final case class Params(
      m: Int = 8,
      efConstruction: Int = 80,
      efSearch: Int = 48,
      numShards: Int = 4,
      seed: Long = 42L)

  /** One node's at-rest adjacency: `links(l)` = neighbor ids at layer l. */
  final case class HnswRow(
      shard: Int, id: Long, vec: Array[Float], level: Int,
      links: Seq[Seq[Long]])

  private val MaxLevel = 24
  private val MaxBatchQueries = 65536

  // ------------------------------------------------------------- graph

  /** In-memory single-shard graph. Internal indexes are Ints; `search`
    * returns global ids. Not thread-safe; lives inside one task.
    */
  private final class ShardGraph(m: Int, efC: Int, seed: Long) {
    private val mMax0 = 2 * m
    private val mL = 1.0 / math.log(m.toDouble)
    private val ids = mutable.ArrayBuffer.empty[Long]
    private val vecs = mutable.ArrayBuffer.empty[Array[Float]]
    private val levels = mutable.ArrayBuffer.empty[Int]
    // links(node)(layer) = neighbor indexes
    private val links = mutable.ArrayBuffer.empty[Array[mutable.ArrayBuffer[Int]]]
    private var entry = -1
    private var maxLevel = -1

    def size: Int = ids.length

    private def d2(a: Array[Float], b: Array[Float]): Double = {
      var s = 0.0; var i = 0
      while (i < a.length) { val d = a(i).toDouble - b(i).toDouble; s += d * d; i += 1 }
      s
    }

    /** Deterministic geometric level from (seed, id): splitmix64 → U(0,1]
      * → floor(−ln U · mL). The standard HNSW distribution with the RNG
      * replaced by a hash so insertion is order- and replay-invariant.
      */
    private def levelOf(id: Long): Int = {
      var z = id + seed * 0x9e3779b97f4a7c15L
      z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
      z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
      z = z ^ (z >>> 31)
      val u = ((z >>> 11).toDouble + 1.0) / (1L << 53).toDouble
      math.min(MaxLevel, (-math.log(u) * mL).toInt)
    }

    /** (dist², idx) ascending by (dist, idx) — the deterministic order every
      * candidate list uses.
      */
    private def ordered(c: mutable.ArrayBuffer[(Double, Int)]): mutable.ArrayBuffer[(Double, Int)] =
      c.sortInPlace()(Ordering.Tuple2(Ordering.Double.TotalOrdering, Ordering.Int))

    /** Beam search at one layer: returns up to `ef` nearest (dist², idx),
      * ascending. Classic SEARCH-LAYER with a visited bitset and two heaps;
      * heap orders include idx so ties resolve identically on every run.
      */
    private def searchLayer(q: Array[Float], eps: Seq[Int], ef: Int, layer: Int)
        : mutable.ArrayBuffer[(Double, Int)] = {
      val visited = new java.util.BitSet(size)
      // candidates: nearest first; results: farthest first, bounded to ef
      val cand = mutable.PriorityQueue.empty[(Double, Int)](
        Ordering.Tuple2(Ordering.Double.TotalOrdering, Ordering.Int).reverse)
      val res = mutable.PriorityQueue.empty[(Double, Int)](
        Ordering.Tuple2(Ordering.Double.TotalOrdering, Ordering.Int))
      eps.foreach { ep =>
        if (!visited.get(ep)) {
          visited.set(ep)
          val d = d2(q, vecs(ep))
          cand.enqueue((d, ep)); res.enqueue((d, ep))
        }
      }
      while (cand.nonEmpty) {
        val (dc, c) = cand.dequeue()
        if (res.length >= ef && dc > res.head._1) { cand.clear() }
        else {
          val nbrs = links(c)(layer)
          var i = 0
          while (i < nbrs.length) {
            val e = nbrs(i)
            if (!visited.get(e)) {
              visited.set(e)
              val d = d2(q, vecs(e))
              if (res.length < ef || d < res.head._1 ||
                (d == res.head._1 && e < res.head._2)) {
                cand.enqueue((d, e)); res.enqueue((d, e))
                if (res.length > ef) res.dequeue()
              }
            }
            i += 1
          }
        }
      }
      ordered(mutable.ArrayBuffer.from(res))
    }

    private def greedyStep(q: Array[Float], ep: Int, layer: Int): Int = {
      var cur = ep
      var curD = d2(q, vecs(cur))
      var improved = true
      while (improved) {
        improved = false
        val nbrs = links(cur)(layer)
        var i = 0
        while (i < nbrs.length) {
          val e = nbrs(i)
          val d = d2(q, vecs(e))
          if (d < curD || (d == curD && e < cur)) { curD = d; cur = e; improved = true }
          i += 1
        }
      }
      cur
    }

    private def capOf(layer: Int): Int = if (layer == 0) mMax0 else m

    /** Malkov Alg. 4 neighbor selection (keepPrunedConnections variant):
      * take candidates nearest-first, but admit one only if it is closer
      * to the base point than to every already-admitted neighbor —
      * otherwise an admitted node already "covers" it and the slot is
      * better spent on a BRIDGE edge toward a different region. Plain
      * nearest-m selection disconnects graphs whose shard holds several
      * tight clusters (the routed-sharding regime): every link lands
      * inside the base's own cluster and pruning severs the only
      * inter-cluster paths. Unfilled slots backfill from the pruned list
      * in (dist, idx) order, so selection stays deterministic.
      */
    private def selectHeuristic(
        cands: mutable.ArrayBuffer[(Double, Int)], cap: Int): mutable.ArrayBuffer[Int] = {
      val res = mutable.ArrayBuffer.empty[Int]
      val pruned = mutable.ArrayBuffer.empty[Int]
      var i = 0
      while (i < cands.length && res.length < cap) {
        val (d, e) = cands(i)
        val covered = res.exists(r => d2(vecs(e), vecs(r)) < d)
        if (covered) pruned += e else res += e
        i += 1
      }
      var j = 0
      while (res.length < cap && j < pruned.length) { res += pruned(j); j += 1 }
      res
    }

    /** Keep node's layer links within the cap via the same heuristic,
      * relative to the node itself.
      */
    private def prune(node: Int, layer: Int): Unit = {
      val l = links(node)(layer)
      val cap = capOf(layer)
      if (l.length > cap) {
        val scored = ordered(l.map(e => (d2(vecs(node), vecs(e)), e)))
        links(node)(layer) = selectHeuristic(scored, cap)
      }
    }

    def insert(id: Long, vec: Array[Float]): Unit = {
      val lvl = levelOf(id)
      val idx = size
      ids += id; vecs += vec; levels += lvl
      links += Array.fill(lvl + 1)(mutable.ArrayBuffer.empty[Int])
      if (entry < 0) { entry = idx; maxLevel = lvl; return }
      var ep = entry
      var lc = maxLevel
      while (lc > lvl) { ep = greedyStep(vec, ep, lc); lc -= 1 }
      lc = math.min(lvl, maxLevel)
      var eps = Seq(ep)
      while (lc >= 0) {
        val cands = searchLayer(vec, eps, efC, lc)
        val neigh = selectHeuristic(cands, m)
        neigh.foreach { e =>
          links(idx)(lc) += e
          links(e)(lc) += idx
          prune(e, lc)
        }
        eps = cands.map(_._2).toSeq
        lc -= 1
      }
      if (lvl > maxLevel) { maxLevel = lvl; entry = idx }
    }

    /** Top-k (id, dist²) for one query, (dist, id)-ordered. */
    def search(q: Array[Float], k: Int, ef: Int): Seq[(Long, Double)] = {
      if (entry < 0) return Seq.empty
      var ep = entry
      var lc = maxLevel
      while (lc > 0) { ep = greedyStep(q, ep, lc); lc -= 1 }
      searchLayer(q, Seq(ep), math.max(ef, k), 0)
        .take(k).map { case (d, i) => (ids(i), d) }.toSeq
    }

    /** How many of this shard's ids satisfy `p` (tombstone over-fetch). */
    def countIds(p: Long => Boolean): Int = ids.count(p)

    /** At-rest adjacency rows for [[write]] (links as global ids). */
    def toRows(shard: Int): Iterator[HnswRow] =
      ids.indices.iterator.map { i =>
        HnswRow(shard, ids(i), vecs(i), levels(i),
          links(i).map(_.map(ids(_)).toSeq).toSeq)
      }

    /** Rebuild from at-rest adjacency (no re-insertion). Rows must all
      * belong to one shard; sorted by id for a stable idx assignment.
      * Entry point = highest level, smallest id — the same node the
      * builder ended with, since the builder only promotes on a STRICTLY
      * higher level and ids insert in ascending order.
      */
    def loadRows(rows: Seq[HnswRow]): this.type = {
      val sorted = rows.sortBy(_.id)
      val idxOf = sorted.iterator.zipWithIndex.map { case (r, i) => r.id -> i }.toMap
      sorted.foreach { r =>
        val i = size
        ids += r.id; vecs += r.vec; levels += r.level
        links += r.links.map(ns => mutable.ArrayBuffer.from(ns.map(idxOf))).toArray
        if (r.level > maxLevel || (r.level == maxLevel && (entry < 0 || r.id < ids(entry)))) {
          maxLevel = r.level; entry = i
        }
      }
      this
    }
  }

  // ----------------------------------------------------------- operators

  private def collectQueries(
      queries: DataFrame, queryIdCol: String, queryVecCol: String): Array[(Long, Array[Float])] = {
    val qs = queries.select(col(queryIdCol).cast("long"), col(queryVecCol))
      .limit(MaxBatchQueries + 1).collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
    require(qs.length <= MaxBatchQueries,
      s"hnsw batch: more than $MaxBatchQueries queries — shard the query set")
    qs.sortBy(_._1)
  }

  /** Per-shard candidates → global (query_id, rank, id, dist) top-k via the
    * bounded-heap aggregate (dist = true L2, matching the a-family). A
    * candidate id can arrive from several segments (replayed appends, or
    * the same id legitimately re-added before a compact) — fold to
    * min(d2) per (query, id) first so the top-k never lists an id twice;
    * the fold input is queries × shards × k rows, never corpus-sized.
    */
  private def mergeTopK(cands: DataFrame, k: Int, idCol: String): DataFrame =
    Ann.finishTopK(
      cands.groupBy(col("query_id"), col(idCol))
        .agg(min(col("d2")).as("d2"))
        .select(col("query_id"), col(idCol), sqrt(col("d2")).as("dist")),
      k, "query_id", idCol)

  /** Build transient shard graphs and answer the query batch in the same
    * pass: one shard exchange, one graph build + probe task per shard,
    * then the k-heap merge. For build-once-probe-forever, use
    * [[write]]/[[probe]].
    */
  def hnswTopKBatch(
      queries: DataFrame,
      index: DataFrame,
      k: Int,
      params: Params = Params(),
      queryIdCol: String = "query_id",
      queryVecCol: String = "query_vec",
      idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame = {
    val spark = index.sparkSession
    import spark.implicits._
    Ann.requireIntegralId(index, idCol, "hnswTopKBatch")
    val qb = spark.sparkContext.broadcast(
      collectQueries(queries, queryIdCol, queryVecCol))
    val p = params
    val sharded: Dataset[(Int, Long, Array[Float])] = index
      .select(
        pmod(xxhash64(col(idCol)), lit(p.numShards)).cast("int").as("shard"),
        col(idCol).cast("long").as("id"), col(vecCol).as("vec"))
      .as[(Int, Long, Array[Float])]
    sharded.groupByKey(_._1)
      .flatMapGroups { (_, rows) =>
        val g = new ShardGraph(p.m, p.efConstruction, p.seed)
        rows.toArray.sortBy(_._2).foreach { case (_, id, vec) => g.insert(id, vec) }
        qb.value.iterator.flatMap { case (qid, qv) =>
          g.search(qv, k, p.efSearch).map { case (id, d2) => (qid, id, d2) }
        }
      }
      .toDF("query_id", idCol, "d2")
      .transform(mergeTopK(_, k, idCol))
  }

  /** Single-query convenience (the app.py:130 shape): top-k (vec_id, dist). */
  def hnswTopK(
      index: DataFrame,
      query: Array[Float],
      k: Int,
      params: Params = Params(),
      idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame = {
    val spark = index.sparkSession
    import spark.implicits._
    hnswTopKBatch(
      Seq((0L, query)).toDF("query_id", "query_vec"),
      index, k, params, idCol = idCol, vecCol = vecCol)
      .select(col(idCol), col("dist"))
  }

  // ------------------------------------------------------------- at rest

  private def metaPath(path: String) = s"$path/meta"
  private def segPath(path: String) = s"$path/segments"

  // The columns [[write]] fixes for `meta/` and `segments/` ([[HnswRow]];
  // `shard` is the partition directory), read through Layout.readTable.
  private val MetaDdl =
    "m INT, ef_construction INT, ef_search INT, num_shards INT, seed BIGINT"
  private val SegmentDdl =
    "id BIGINT, vec ARRAY<FLOAT>, level INT, links ARRAY<ARRAY<BIGINT>>, shard INT"

  /** Shared build: a `(shard, id, vec)` frame → at-rest adjacency rows,
    * one graph per shard built inside its task (sorted by id for the
    * deterministic insertion order every path relies on).
    */
  private def buildSegments(sharded: DataFrame, p: Params): DataFrame = {
    val spark = sharded.sparkSession
    import spark.implicits._
    sharded
      .as[(Int, Long, Array[Float])]
      .groupByKey(_._1)
      .flatMapGroups { (shard, it) =>
        val g = new ShardGraph(p.m, p.efConstruction, p.seed)
        it.toArray.sortBy(_._2).foreach { case (_, id, vec) => g.insert(id, vec) }
        g.toRows(shard)
      }
      .toDF()
  }

  /** Build shard graphs and persist adjacency as Parquet partitioned by
    * shard (one directory per shard → a probe's shard task reads exactly
    * its own files). `meta/` holds the params the probe must reuse (m and
    * seed are baked into the stored links; efSearch is re-tunable).
    */
  def write(
      index: DataFrame,
      path: String,
      params: Params = Params(),
      idCol: String = "vec_id",
      vecCol: String = "embedding"): Unit = {
    val spark = index.sparkSession
    import spark.implicits._
    Ann.requireIntegralId(index, idCol, "hnsw.write")
    val p = params
    // two independent writes into disjoint dirs — landed concurrently
    // (guide §2.6); same crash exposure as the sequential ordering (a
    // rebuild is a whole-state replace, no commit marker)
    Layout.mapConcurrently[() => Unit, Unit](Seq(
      () => buildSegments(
        index.select(
          pmod(xxhash64(col(idCol)), lit(p.numShards)).cast("int").as("shard"),
          col(idCol).cast("long").as("id"), col(vecCol).as("vec")),
        p).write.partitionBy("shard").mode("overwrite").parquet(segPath(path)),
      () => Seq((p.m, p.efConstruction, p.efSearch, p.numShards, p.seed))
        .toDF("m", "ef_construction", "ef_search", "num_shards", "seed")
        .write.mode("overwrite").parquet(metaPath(path))),
      parallelism = 2)(_())
    // rebuild = whole-state replace: drop the previous life's
    // _tombstones sidecar and batches ledger (Layout.clearIndexSidecars
    // scaladoc has the failure modes)
    Layout.clearIndexSidecars(spark, path)
  }

  /** Append new vectors as NEW segment shards (Lucene/FAISS segment law:
    * never mutate a written graph — merging adjacency rows from two
    * builds into one graph would leave two disconnected components).
    * On a hash index, shard ids continue after the current maximum and
    * [[probe]] unions all segments transparently. On a ROUTED index, the
    * new segments are routed through the PERSISTED router and their
    * shard ids keep `shard mod numShards == centroid_id` (base is
    * aligned to a numShards multiple), so [[probeRouted]] includes every
    * generation of a probed cell — an appended vector is visible to
    * routed probes immediately, not only after a compact.
    * Idempotence is the caller's contract (append each batch once);
    * re-appending the same rows would create duplicate segments — the
    * same stance as [[graft.index.VectorIndex]] pre-epoch appends.
    */
  def append(
      spark: SparkSession,
      index: DataFrame,
      path: String,
      idCol: String = "vec_id",
      vecCol: String = "embedding"): Unit = {
    Ann.requireIntegralId(index, idCol, "hnsw.append")
    val p = loadMeta(spark, path)
    val maxShard = Layout.readTable(spark, SegmentDdl, segPath(path))
      .agg(max(col("shard"))).head.getInt(0)
    val rp = new org.apache.hadoop.fs.Path(routerPath(path))
    val fs = rp.getFileSystem(spark.sessionState.newHadoopConf())
    val sharded =
      if (!fs.exists(rp))
        index.select(
          (pmod(xxhash64(col(idCol)), lit(p.numShards)).cast("int") +
            lit(maxShard + 1)).as("shard"),
          col(idCol).cast("long").as("id"), col(vecCol).as("vec"))
      else {
        val base = (maxShard / p.numShards + 1) * p.numShards
        val route = routeUdf(loadCentroids(spark, path))
        index.select(
          (route(col(vecCol)) + lit(base)).as("shard"),
          col(idCol).cast("long").as("id"), col(vecCol).as("vec"))
      }
    buildSegments(sharded, p)
      .write.partitionBy("shard").mode("append").parquet(segPath(path))
  }

  /** [[append]] keyed by a batch id for streaming replay: a batch id
    * already in the `batches/` ledger is a no-op, so `foreachBatch`
    * re-delivery (at-least-once) converges to exactly-once segments. The
    * residual crash window (segments written, ledger row not yet) is
    * benign for correctness: probes fold duplicate ids to one hit
    * (mergeTopK) and the next [[compact]] folds duplicate rows away.
    * Returns true when the batch was applied.
    */
  def appendBatch(
      spark: SparkSession,
      index: DataFrame,
      path: String,
      batchId: Long,
      idCol: String = "vec_id",
      vecCol: String = "embedding"): Boolean =
    ledgered(spark, path, batchId) {
      append(spark, index, path, idCol, vecCol)
    }

  /** Tiered segment merge — the [[graft.search.Bm25.mergeSegments]]
    * sibling for the dense channel: re-insert the SMALLEST shard graphs
    * into one fresh generation (at most numShards new graphs) until at
    * most `targetShards` remain, leaving the big shards' files
    * untouched. A streaming-maintained index accrues numShards tiny
    * graphs per micro-batch; every probe pays a graph load + beam walk
    * PER SHARD forever, while [[compact]] re-inserts the whole corpus —
    * the wrong cost for retiring a kilobyte tail. Merge cost is
    * O(merged vectors × log), never O(corpus).
    *
    * Routing law preserved: hash indexes re-shard by `xxhash64(id) mod
    * numShards` above the current max (probes union all segments);
    * routed indexes re-route through the PERSISTED router onto a
    * numShards-aligned base, so `shard mod numShards == centroid_id`
    * still holds and [[probeRouted]] keeps seeing every generation of a
    * probed cell.
    *
    * Unlike BM25's commit-marker flip, HNSW needs no atomic swap: the
    * new generation is written BEFORE the merged shard directories are
    * dropped, and every probe folds duplicate ids to their best hit
    * (mergeTopK) — so a reader overlapping the merge, or a crash
    * between write and deletes, sees transient duplicates that are
    * VALUE-INVISIBLE, and [[compact]] folds stragglers physically
    * (dropDuplicates). Tombstones are not folded here — delete folding
    * stays compact's job, the Lucene merge/expungeDeletes split.
    * Graph-structure caveat, stated plainly: a merged graph is a NEW
    * graph over the same vectors; recall-at-fixed-efSearch changes
    * within the usual HNSW tolerance (under an exhaustive beam —
    * efSearch ≥ shard population, the oracle regime — results are
    * bit-identical, pinned in HnswSpec). Returns (shards before,
    * shards after).
    */
  def mergeSegments(
      spark: SparkSession,
      path: String,
      targetShards: Int = 32): (Int, Int) = {
    val p = loadMeta(spark, path)
    // merging k shards yields up to numShards FRESH ones, so a target
    // below numShards can never be reached — each pass would rewrite the
    // whole index forever without converging. A full rebuild is compact's
    // job.
    require(targetShards >= p.numShards,
      s"hnsw mergeSegments: targetShards $targetShards is below numShards " +
        s"${p.numShards} — a merge emits up to numShards fresh graphs and " +
        "cannot converge; use compact for a full rebuild")
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sessionState.newHadoopConf())
    // pick the merge set by ON-DISK bytes from the partition listing — no
    // data scan anywhere except the merged tail itself (vector rows are
    // fixed-width, so bytes rank populations faithfully)
    val segDir = new org.apache.hadoop.fs.Path(segPath(path))
    val counts = fs.listStatus(segDir).toSeq
      .filter(_.getPath.getName.startsWith("shard="))
      .map { st =>
        val shard = st.getPath.getName.stripPrefix("shard=").toInt
        val bytes = fs.listStatus(st.getPath).filter(_.isFile).map(_.getLen).sum
        shard -> bytes
      }.sortBy(x => (x._2, x._1))
    if (counts.length <= targetShards) return (counts.length, counts.length)
    // fold enough of the smallest to land at (or under) the target
    val k = math.min(counts.length, counts.length - targetShards + p.numShards)
    val mergeShards = counts.take(k).map(_._1).toSeq
    val maxShard = counts.map(_._1).max
    val vecs = Layout.readTable(spark, SegmentDdl, segPath(path))
      .where(col("shard").isin(mergeShards.map(x => x: Any): _*))
      .select(col("id"), col("vec"))
      .dropDuplicates("id", "vec") // replayed-append copies fold here
    val routed = fs.exists(new org.apache.hadoop.fs.Path(routerPath(path)))
    val sharded =
      if (!routed)
        vecs.select(
          (pmod(xxhash64(col("id")), lit(p.numShards)).cast("int") +
            lit(maxShard + 1)).as("shard"),
          col("id"), col("vec"))
      else {
        val base = (maxShard / p.numShards + 1) * p.numShards
        vecs.select(
          (routeUdf(loadCentroids(spark, path))(col("vec")) + lit(base)).as("shard"),
          col("id"), col("vec"))
      }
    // write the merged generation FIRST (the write is the barrier: once
    // it returns, the sources are redundant), then retire the sources
    buildSegments(sharded, p)
      .write.partitionBy("shard").mode("append").parquet(segPath(path))
    mergeShards.foreach { s =>
      fs.delete(new org.apache.hadoop.fs.Path(segPath(path), s"shard=$s"), true)
    }
    // post-merge count from the partition listing — no data scan
    (counts.length, shardValues(spark, path).size)
  }

  private def tombPath(path: String) = tombstonesPath(path)

  /** Mark ids deleted. Graphs are never rewritten (mark-delete, the
    * hnswlib/Lucene stance): probes keep TRAVERSING deleted nodes — they
    * remain useful bridges — but exclude them from results, over-fetching
    * to keep k filled. Contract: a delete is terminal for that id until a
    * [[compact]] purges the tombstones (compact drops the dead rows for
    * real); re-appending a deleted id before compacting leaves it hidden.
    * Tombstones are capped at ~4M per index — past that the broadcast
    * stops being free and the index is overdue for a compact anyway
    * (probes refuse loudly rather than degrade silently).
    */
  def delete(spark: SparkSession, path: String, ids: Seq[Long]): Unit =
    markDeleted(spark, path, ids)

  // ------------------------------------------------- routed (clustered)

  private def routerPath(path: String) = s"$path/router"

  /** Float-accumulated squared L2 — deliberately matching
    * [[Ann.buildIvfSampled]]'s assignment loop, so where a vector LIVES
    * (its float-assigned cell at write time) and how appends/compacts/
    * probes rank cells agree bit-for-bit on boundary vectors.
    */
  private def l2f(v: Seq[Float], cent: Array[Float]): Float = {
    var s = 0.0f
    var i = 0
    while (i < cent.length) { val d = v(i) - cent(i); s += d * d; i += 1 }
    s
  }

  private def loadCentroids(
      spark: SparkSession, path: String): Array[(Int, Array[Float])] =
    Layout.readTable(spark, Ann.CentroidsDdl, routerPath(path))
      .collect().map(r => (r.getInt(0), r.getSeq[Float](1).toArray))
      .sortBy(_._1)

  /** Nearest-centroid assignment, ties to the smallest centroid id. */
  private def routeUdf(cents: Array[(Int, Array[Float])]) =
    udf { v: Seq[Float] =>
      var best = cents.head._1
      var bestD = Float.MaxValue
      var c = 0
      while (c < cents.length) {
        val s = l2f(v, cents(c)._2)
        if (s < bestD) { bestD = s; best = cents(c)._1 }
        c += 1
      }
      best
    }

  /** The shard values [[probeRouted]] must read for a routed-cell set:
    * every segment generation whose `shard mod numShards` is a probed
    * cell. Shard values come from the partition directory names — no
    * data scan.
    */
  private def shardValues(spark: SparkSession, path: String): Seq[Int] = {
    val segDir = new org.apache.hadoop.fs.Path(segPath(path))
    val fs = segDir.getFileSystem(spark.sessionState.newHadoopConf())
    fs.listStatus(segDir).toSeq
      .map(_.getPath.getName)
      .filter(_.startsWith("shard="))
      .map(_.stripPrefix("shard=").toInt)
      .sorted
  }

  /** Routed sharding — the 100 TB probe path. Hash shards ([[write]])
    * force every probe to walk ALL shards; here shards come from the same
    * seeded coarse quantizer IVF uses ([[Ann.buildIvfSampled]]: bounded
    * deterministic sample, driver Lloyd's), the router (numShards
    * centroids, KBs) persists beside the segments, and [[probeRouted]]
    * walks only the `nProbe` shards nearest each query — static partition
    * pruning of the segment directories, the FAISS IVF-HNSW / Milvus
    * clustered-segment layout. Probe cost drops from shards× to nProbe×
    * graph walks; recall follows the IVF probe law (the true neighbor
    * must live in a probed cell), quantified in HnswSpec.
    */
  def writeRouted(
      index: DataFrame,
      path: String,
      params: Params = Params(),
      idCol: String = "vec_id",
      vecCol: String = "embedding",
      maxIter: Int = 20,
      sampleCap: Int = 65536): Unit = {
    val spark = index.sparkSession
    import spark.implicits._
    Ann.requireIntegralId(index, idCol, "hnsw.writeRouted")
    val p = params
    val (assigned, centroids) = Ann.buildIvfSampled(
      index, idCol, vecCol, nLists = p.numShards,
      maxIter = maxIter, sampleCap = sampleCap, seed = p.seed)
    buildSegments(
      assigned.select(col("centroid_id").cast("int").as("shard"),
        col(idCol).cast("long").as("id"), col(vecCol).as("vec")),
      p).write.partitionBy("shard").mode("overwrite").parquet(segPath(path))
    centroids.write.mode("overwrite").parquet(routerPath(path))
    Seq((p.m, p.efConstruction, p.efSearch, p.numShards, p.seed))
      .toDF("m", "ef_construction", "ef_search", "num_shards", "seed")
      .write.mode("overwrite").parquet(metaPath(path))
    Layout.clearIndexSidecars(spark, path) // rebuild = whole-state replace
  }

  /** Probe a routed index: each query walks only its `nProbe` nearest
    * shards (centroid distance, ties by shard id). The segment scan is
    * restricted to the UNION of routed shards before the group —
    * partition pruning at the file level — and inside a shard's task only
    * the queries routed there are searched.
    */
  def probeRouted(
      spark: SparkSession,
      path: String,
      queries: DataFrame,
      k: Int,
      nProbe: Int,
      efSearch: Int = -1,
      queryIdCol: String = "query_id",
      queryVecCol: String = "query_vec",
      idCol: String = "vec_id"): DataFrame = {
    import spark.implicits._
    require(nProbe >= 1, s"probeRouted: nProbe must be >= 1, got $nProbe")
    val meta = loadMeta(spark, path)
    val ef = if (efSearch > 0) efSearch else meta.efSearch
    val cents = loadCentroids(spark, path)
    // query → nProbe nearest CELLS (float accumulation, matching the
    // write-side assignment; ties to the smaller centroid id)
    val routed: Array[(Long, Array[Float], Array[Int])] =
      collectQueries(queries, queryIdCol, queryVecCol).map { case (qid, qv) =>
        val near = cents.map { case (cid, c) => (l2f(qv, c), cid) }
          .sorted.take(math.min(nProbe, cents.length)).map(_._2)
        (qid, qv, near)
      }
    // a probed CELL spans every segment generation with
    // shard mod numShards == cell (appends add aligned generations)
    val cells = routed.flatMap(_._3).toSet
    val wanted = shardValues(spark, path)
      .filter(s => cells.contains(s % meta.numShards))
    val nShards = meta.numShards
    val qb = spark.sparkContext.broadcast(routed)
    val tb = spark.sparkContext.broadcast(
      Layout.tombstonedIds(spark, tombPath(path), "id").toSet)
    Layout.readTable(spark, SegmentDdl, segPath(path))
      .where(col("shard").isin(wanted.map(Integer.valueOf): _*))
      .as[HnswRow]
      .groupByKey(_.shard)
      .flatMapGroups { (shard, rows) =>
        val g = new ShardGraph(meta.m, meta.efConstruction, meta.seed)
          .loadRows(rows.toSeq)
        val dead = tb.value
        // over-fetch only by the tombstones PRESENT IN THIS SHARD —
        // k + |global dead| would widen every shard's beam toward a
        // brute-force scan on a heavily-deleted index
        val fetch = k + (if (dead.isEmpty) 0 else g.countIds(dead.contains))
        val cell = shard % nShards
        qb.value.iterator
          .filter(_._3.contains(cell))
          .flatMap { case (qid, qv, _) =>
            g.search(qv, fetch, ef)
              .filter(h => !dead.contains(h._1)).take(k)
              .map { case (id, d2) => (qid, id, d2) }
          }
      }
      .toDF("query_id", idCol, "d2")
      .transform(mergeTopK(_, k, idCol))
  }

  /** Segment merge — the Lucene forceMerge step after a run of appends.
    * Every append leaves `numShards` NEW segments, so probe cost grows
    * linearly in the append count; compact re-extracts the vectors from
    * the at-rest adjacency, re-shards them to the canonical count
    * (through the persisted router when the index is routed, else by
    * hash), rebuilds fresh graphs, and swaps the segment directory
    * atomically-enough (materialize → sibling dir → rename old ASIDE →
    * rename new in → drop old; the rewrite's lineage reads the directory
    * it replaces, hence the up-front materialize). Meta and router are
    * untouched; the active
    * view is probe-equivalent (exact-ef probes identical, pinned in
    * HnswSpec). Returns (segments before, segments after).
    */
  def compact(spark: SparkSession, path: String): (Int, Int) = {
    import spark.implicits._
    val p = loadMeta(spark, path)
    val fs = new org.apache.hadoop.fs.Path(segPath(path))
      .getFileSystem(spark.sessionState.newHadoopConf())
    // snapshot sidecar FILES before the anti-join; spend exactly those
    // at the end, so a delete concurrent with this compact is kept for
    // the next one instead of silently revived
    val tombFiles = Layout.snapshotTombstoneFiles(fs, tombPath(path))
    // Layout.replaceDirs heals a crashed earlier compact before the read
    // below, then swaps the new generation in by rename-aside
    val counts = Layout.replaceDirs(fs, Seq(segPath(path))) { case Seq(staged) =>
    val segs = Layout.readTable(spark, SegmentDdl, segPath(path))
    val before = segs.select(col("shard")).distinct().count().toInt
    // replay-duplicated rows (appendBatch's crash window) fold away here;
    // a same-id row with DIFFERENT content is not an upsert and stays.
    // Tombstoned ids are purged for real (anti join — scale-safe at any
    // tombstone count, unlike the probe-side broadcast set).
    val vecs0 = segs.select(col("id"), col("vec")).dropDuplicates("id", "vec")
    val vecs =
      if (tombFiles.isEmpty) vecs0
      else vecs0.join(Layout.deadIds(spark, tombFiles, "id"), Seq("id"), "left_anti")
    val routed = fs.exists(new org.apache.hadoop.fs.Path(routerPath(path)))
    val sharded =
      if (!routed)
        vecs.select(
          pmod(xxhash64(col("id")), lit(p.numShards)).cast("int").as("shard"),
          col("id"), col("vec"))
      else
        vecs.select(
          routeUdf(loadCentroids(spark, path))(col("vec")).as("shard"),
          col("id"), col("vec"))
    val rebuilt = buildSegments(sharded, p).localCheckpoint(true)
    val after = rebuilt.select(col("shard")).distinct().count().toInt
    // same refusal as Bm25.compactIndex/Ann.compactIvf: compacting an
    // all-tombstoned index would swap in a data-file-less partitioned
    // dir probes cannot read
    require(after > 0,
      s"hnsw compact: every vector at $path is tombstoned — delete the " +
        "index directory instead of compacting to empty")
    rebuilt.write.partitionBy("shard").mode("overwrite").parquet(staged)
    (before, after)
    }
    Layout.spendTombstoneFiles(fs, tombPath(path), tombFiles)
    counts
  }

  def loadMeta(spark: SparkSession, path: String): Params = {
    val r = Layout.readTable(spark, MetaDdl, metaPath(path)).head
    Params(r.getAs[Int]("m"), r.getAs[Int]("ef_construction"),
      r.getAs[Int]("ef_search"), r.getAs[Int]("num_shards"), r.getAs[Long]("seed"))
  }

  /** Probe a persisted index: rebuild each shard graph FROM adjacency (no
    * re-insertion) inside its task and walk it for the broadcast query
    * batch. Every stored segment participates; the k-heap merge keeps the
    * global top-k. `efSearch` defaults to the stored value.
    */
  def probe(
      spark: SparkSession,
      path: String,
      queries: DataFrame,
      k: Int,
      efSearch: Int = -1,
      queryIdCol: String = "query_id",
      queryVecCol: String = "query_vec",
      idCol: String = "vec_id"): DataFrame = {
    import spark.implicits._
    val meta = loadMeta(spark, path)
    val ef = if (efSearch > 0) efSearch else meta.efSearch
    val qb = spark.sparkContext.broadcast(
      collectQueries(queries, queryIdCol, queryVecCol))
    val tb = spark.sparkContext.broadcast(
      Layout.tombstonedIds(spark, tombPath(path), "id").toSet)
    Layout.readTable(spark, SegmentDdl, segPath(path))
      .as[HnswRow]
      .groupByKey(_.shard)
      .flatMapGroups { (_, rows) =>
        val g = new ShardGraph(meta.m, meta.efConstruction, meta.seed)
          .loadRows(rows.toSeq)
        val dead = tb.value
        // over-fetch only by this shard's own tombstones (see probeRouted)
        val fetch = k + (if (dead.isEmpty) 0 else g.countIds(dead.contains))
        qb.value.iterator.flatMap { case (qid, qv) =>
          g.search(qv, fetch, ef)
            .filter(h => !dead.contains(h._1)).take(k)
            .map { case (id, d2) => (qid, id, d2) }
        }
      }
      .toDF("query_id", idCol, "d2")
      .transform(mergeTopK(_, k, idCol))
  }
}
