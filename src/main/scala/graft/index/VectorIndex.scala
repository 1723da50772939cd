package graft.index

import graft.embed.{Embedder, HashingTfIdfEmbedder}
import graft.transform.{Chunker, Sectionizer}
import graft.ops.Layout
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The "knowledge base": a persisted table of
  * `(chunk_id, doc_id, section, text, embedding ARRAY<FLOAT>)`.
  *
  * The reference's index build is `Chroma.from_documents(documents,
  * embeddings)` (`/root/reference/micro-infobot/app.py:130`) — an in-memory,
  * per-session store. Here the index *is* a DataFrame job: sectionize →
  * chunk → embed → write Parquet partitioned by `section`, so filtered
  * searches (app.py:150) become partition pruning at the scan, and the index
  * survives across jobs. Empty input produces an empty table, so downstream
  * searches return 0 rows — the same observable behavior as the reference's
  * `None` guard (app.py:139-140, 221-222).
  */
object VectorIndex {

  /** Full EP1 pipeline: docs(doc_id, text) -> index rows.
    *
    * Chunks are persisted (memory, spill-to-disk) because TF-IDF is
    * inherently two-pass — IDF statistics then embedding — and recomputing
    * sectionize+split for the second pass doubles the pipeline cost. The
    * cache lives until the session ends (the returned frame is lazy, so
    * there is no safe unpersist point inside build); callers building many
    * indexes in one session should `spark.catalog.clearCache()` between
    * builds.
    */
  def build(docs: DataFrame, dims: Int = 64): DataFrame = {
    val sections = Sectionizer.sectionize(docs)
    val chunks = Chunker.chunk(sections)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val embedder = new HashingTfIdfEmbedder(dims).fit(chunks, "chunk")
    embedder
      .embed(chunks, "chunk", "embedding")
      .select(
        // Stable surrogate id derived from the full (doc, pos, chunk) triple —
        // xxhash64 has no range assumptions (a long PDF can exceed 1000
        // paragraphs) and no partition-layout dependence like
        // monotonically_increasing_id.
        xxhash64(col("doc_id"), col("pos"), col("chunk_idx")).as("chunk_id"),
        col("doc_id"),
        col("section"),
        col("chunk").as("text"),
        col("embedding"))
  }

  def write(index: DataFrame, path: String): Unit =
    stored(index).write.mode("overwrite").partitionBy("section").parquet(path)

  def load(spark: SparkSession, path: String): DataFrame =
    Layout.readTable(spark, DataDdl, path)

  /** The stored row: [[graft.model.IndexedChunk]]'s columns plus the
    * nullable merge-on-read `epoch` ([[upsertDocs]]); `section` is the
    * partition directory. Files written before `epoch` existed read it as
    * null, which the resolution law reads as epoch 0.
    */
  private val DataDdl = org.apache.spark.sql.Encoders
    .product[graft.model.IndexedChunk].schema.add("epoch", "bigint").toDDL
  private val TombDdl = "doc_id BIGINT, tomb_epoch BIGINT"
  private val RetentionDdl = "retain_from BIGINT"

  /** Rows as the writers store them: ids as BIGINT, whatever integral
    * type the caller's doc ids carry, so [[DataDdl]] reads every file.
    */
  private def stored(rows: DataFrame): DataFrame =
    rows.withColumn("chunk_id", col("chunk_id").cast("long"))
      .withColumn("doc_id", col("doc_id").cast("long"))

  /** Fit the index embedder on a corpus — kept separate from [[build]] so
    * the SAME fitted instance can later embed deltas ([[append]]) and
    * query strings into the index's vector space.
    */
  def fit(docs: DataFrame, dims: Int = 64): HashingTfIdfEmbedder = {
    val chunks = Chunker.chunk(Sectionizer.sectionize(docs))
    new HashingTfIdfEmbedder(dims).fit(chunks, "chunk")
  }

  /** [[build]] with a pre-fitted embedder (no internal fit). */
  def buildWith(docs: DataFrame, embedder: Embedder): DataFrame = {
    val chunks = Chunker.chunk(Sectionizer.sectionize(docs))
    embedder
      .embed(chunks, "chunk", "embedding")
      .select(
        xxhash64(col("doc_id"), col("pos"), col("chunk_idx")).as("chunk_id"),
        col("doc_id"),
        col("section"),
        col("chunk").as("text"),
        col("embedding"))
  }

  /** Incremental maintenance: append newly-arrived docs to a persisted
    * index WITHOUT rebuilding — the operational path once the index is
    * 100 TB and the delta is megabytes.
    *
    * - `embedder` must be the instance fitted on the original corpus
    *   ([[fit]]): re-fitting on the delta would silently shift the vector
    *   space and corrupt every distance against pre-existing rows.
    * - Idempotent: chunks whose `chunk_id` already exists are dropped via
    *   a left-anti join against ONLY the sections the delta touches — the
    *   section list is resolved to literals, so the existing-id scan is
    *   static partition pruning over the touched directories, never a full
    *   index read.
    *
    * Returns the number of rows appended.
    */
  def append(
      spark: SparkSession,
      newDocs: DataFrame,
      path: String,
      embedder: Embedder): Long = {
    val delta = buildWith(newDocs, embedder)
      // re-ingesting the same doc twice in one delta must not double rows
      .dropDuplicates("chunk_id")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val touched = delta.select("section").distinct()
        .collect().map(_.getString(0)).toSeq
      // First append onto a not-yet-existing index is just a write. The
      // existence check is an explicit FS probe — catching AnalysisException
      // from load would also swallow real failures (corrupt directory,
      // schema drift) and silently skip the duplicate-chunk anti-join.
      val hPath = new org.apache.hadoop.fs.Path(path)
      val fs = hPath.getFileSystem(spark.sessionState.newHadoopConf())
      val fresh =
        if (fs.exists(hPath) && touched.nonEmpty) {
          val existing = load(spark, path)
          // a wrong-dims embedder (e.g. re-fit with different settings)
          // would append vectors that silently score garbage distances
          // against every pre-existing row — refuse instead
          existing.select(size(col("embedding"))).head(1).foreach { r =>
            require(r.getInt(0) == embedder.dims,
              s"index at $path holds ${r.getInt(0)}-d embeddings but the " +
                s"embedder produces ${embedder.dims}-d — append must use the " +
                "embedder fitted for this index")
          }
          val existingIds = existing
            .where(col("section").isin(touched.map(x => x: Any): _*))
            .select("chunk_id")
          delta.join(existingIds, Seq("chunk_id"), "left_anti")
        } else delta
      // The deduped frame's lineage references the index directory it is
      // about to append into. A persist() would make correctness depend on
      // cached partitions surviving until the write (an eviction mid-write
      // recomputes against the partially-appended directory and can
      // duplicate or drop delta rows). localCheckpoint(eager) materializes
      // the rows and TRUNCATES the lineage: after this line the write reads
      // checkpointed blocks only — if an executor holding them dies, the
      // job fails loudly instead of silently recomputing against mutated
      // input.
      val appended = fresh.localCheckpoint(true)
      val n = appended.count()
      if (n > 0)
        stored(appended).write.mode("append").partitionBy("section").parquet(path)
      n
    } finally delta.unpersist()
  }

  // ------------------------------------------------- merge-on-read (MoR)

  /** Updates and deletes on an append-only Parquet index, the lakehouse
    * merge-on-read pattern (Iceberg/Delta delete-vector design): writes
    * only ever APPEND — data files carry an `epoch` (caller-supplied
    * monotonic batch id, e.g. the streaming batchId), deletes append
    * `(doc_id, tomb_epoch)` rows to a `_tombstones/` sidecar (the `_`
    * prefix hides it from the index's own Parquet reader), and readers
    * resolve. A 100 TB index never rewrites for a deletion; `compact`
    * folds tombstones in when their count (not the index size) warrants.
    *
    * Resolution law ([[resolveActive]]): a row is dead iff its doc has a
    * tombstone with `tomb_epoch >= ` the row's epoch (rows from files
    * predating the epoch column resolve as epoch 0). Re-upserting a doc
    * AFTER deleting it therefore revives it — the new rows carry a higher
    * epoch — which is exactly upsert: delete-then-append in one batch.
    */
  def resolveActive(data: DataFrame, tombstones: DataFrame): DataFrame = {
    val tmax = tombstones.groupBy("doc_id").agg(max("tomb_epoch").as("__te"))
    data
      .join(tmax, Seq("doc_id"), "left")
      .where(col("__te").isNull ||
        coalesce(col("epoch"), lit(0L)) > col("__te"))
      .drop("__te")
  }

  /** Time travel over the MoR index (the Iceberg/Delta `AS OF` read):
    * the state the index had when epoch `asOf` was the newest batch.
    * Because writes only ever APPEND epoch-stamped rows and tombstones,
    * history is never destroyed until a [[compact]] folds it — so the
    * as-of view is just the resolution law over the generations with
    * epoch ≤ asOf (rows AND tombstones from later batches don't exist
    * yet in that world; pre-epoch files resolve as epoch 0 like
    * everywhere else). Scan cost: the epoch predicate prunes to the
    * asked-for generations' files via parquet column stats. Reads after
    * a compact only see the fold point onward — the usual lakehouse
    * retention trade, documented on [[compact]].
    */
  def resolveActiveAsOf(
      data: DataFrame, tombstones: DataFrame, asOf: Long): DataFrame =
    resolveActive(
      data.where(coalesce(col("epoch"), lit(0L)) <= asOf),
      tombstones.where(col("tomb_epoch") <= asOf))

  /** [[loadActive]] as of epoch `asOf` — see [[resolveActiveAsOf]].
    * After a [[compactRetain]], reads BELOW the retention horizon refuse
    * loudly (the folded generations no longer exist; a silent partial
    * view would be wrong, the Delta
    * timestamp-before-earliest-version error stance).
    */
  def loadActiveAsOf(spark: SparkSession, path: String, asOf: Long): DataFrame = {
    retentionHorizon(spark, path).foreach { h =>
      require(asOf >= h - 1,
        s"loadActiveAsOf: epoch $asOf predates the retention horizon $h — " +
          s"history below it was folded by compactRetain; earliest " +
          s"readable view is AS OF ${h - 1}")
    }
    resolveActiveAsOf(load(spark, path), readTombstones(spark, path), asOf)
  }

  private def retentionPath(path: String) = s"$path/_retention"

  /** The retention horizon written by [[compactRetain]], if any. */
  def retentionHorizon(spark: SparkSession, path: String): Option[Long] = {
    val p = new org.apache.hadoop.fs.Path(retentionPath(path))
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    if (!fs.exists(p)) None
    else Some(Layout.readTable(spark, RetentionDdl, retentionPath(path))
      .head.getLong(0))
  }

  private def tombPath(path: String) = s"$path/_tombstones"

  private def readTombstones(spark: SparkSession, path: String): DataFrame = {
    val p = new org.apache.hadoop.fs.Path(tombPath(path))
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    if (fs.exists(p)) Layout.readTable(spark, TombDdl, tombPath(path))
    else spark.range(0)
      .select(col("id").as("doc_id"), lit(0L).as("tomb_epoch"))
  }

  /** Tombstone whole docs at `epoch` — O(deleted docs) bytes written, no
    * data file touched.
    */
  def deleteDocs(
      spark: SparkSession, docIds: Seq[Long], path: String, epoch: Long): Unit = {
    import spark.implicits._
    docIds.toDF("doc_id").withColumn("tomb_epoch", lit(epoch))
      .coalesce(1).write.mode("append").parquet(tombPath(path))
  }

  /** Upsert docs at `epoch`: tombstone their old rows, append the rebuilt
    * chunks stamped with the same epoch (which out-lives the tombstone by
    * the `>` rule). `embedder` must be the index's fitted instance — same
    * contract as [[append]].
    */
  def upsertDocs(
      spark: SparkSession,
      docs: DataFrame,
      path: String,
      embedder: Embedder,
      epoch: Long): Long = {
    val built = buildWith(docs, embedder)
      .dropDuplicates("chunk_id")
      .withColumn("epoch", lit(epoch))
    // Idempotent under replay (a failed streaming batch re-runs with the
    // SAME epoch): rows already written AT THIS EPOCH are dropped before
    // the append. The existing-id scan filters on the epoch column, which
    // prunes to the replayed batch's own files via parquet column stats —
    // fresh epochs scan nothing.
    val hPath = new org.apache.hadoop.fs.Path(path)
    val fs = hPath.getFileSystem(spark.sessionState.newHadoopConf())
    val delta0 =
      if (fs.exists(hPath))
        built.join(load(spark, path).where(col("epoch") === epoch)
          .select("chunk_id"), Seq("chunk_id"), "left_anti")
      else built
    val delta = delta0.localCheckpoint(true)
    // Tombstone ids come from the INPUT doc set, not the built chunks: a
    // revision that chunks to zero rows (empty/whitespace text) must still
    // kill its prior generation — "arriving doc REPLACES its prior
    // revision" — and harvesting ids from `built` would re-run the whole
    // sectionize→chunk→embed pipeline a second time just for the ids.
    val ids = docs.select(col("doc_id").cast("long")).distinct()
      .collect().map(_.getLong(0)).toSeq
    // tombstone strictly below the new rows' epoch: kills every prior
    // generation, never the rows this batch appends; re-appending the
    // same tombstone on replay is harmless (resolution takes the max)
    deleteDocs(spark, ids, path, epoch - 1)
    val n = delta.count()
    if (n > 0)
      stored(delta).write.mode("append").partitionBy("section").parquet(path)
    n
  }

  /** Read the index with deletes resolved. Old files without the `epoch`
    * column surface it as null → epoch 0 under the resolution law.
    */
  def loadActive(spark: SparkSession, path: String): DataFrame =
    resolveActive(load(spark, path), readTombstones(spark, path))

  /** Fold tombstones into the data: rewrite active rows, clear the
    * sidecar. Run when the tombstone table — not the index — grows large;
    * the rewrite is the only full-index pass in the MoR lifecycle.
    */
  def compact(spark: SparkSession, path: String): Long = {
    import spark.implicits._
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sessionState.newHadoopConf())
    // rename-aside replacement (shared protocol — see Layout.replaceDirs,
    // which first heals a compact that crashed inside its swap window).
    // The `_tombstones` sidecar lives inside the old generation's
    // directory, so it is swapped out (spent) together with the rows it
    // resolved.
    Layout.replaceDirs(fs, Seq(path)) { case Seq(staged) =>
    val active = loadActive(spark, path).localCheckpoint(true)
    val n = active.count()
    active.write.mode("overwrite").partitionBy("section").parquet(staged)
    // a full compact spends EVERY tombstone, so AS OF below the newest
    // surviving epoch would silently serve a partial view (a doc whose
    // live row carries epoch 3 vanishes from AS OF 2 instead of showing
    // its prior revision). SPENT TOMBSTONE epochs bound the horizon too:
    // if the newest batch was a pure delete (tomb_epoch T above every
    // surviving row), AS OF epochs in [maxSurvivingEpoch, T-1] included
    // the doc pre-compact but would silently miss it after — exactly the
    // partial view the horizon exists to refuse. Record
    // max(maxSurvivingEpoch, max spent tomb_epoch) + 1, never below an
    // existing horizon, so loadActiveAsOf refuses those reads loudly,
    // exactly like compactRetain.
    val maxEpoch =
      active.agg(max(coalesce(col("epoch"), lit(0L)))).head match {
        case r if r.isNullAt(0) => 0L
        case r => r.getLong(0)
      }
    val maxTombEpoch =
      readTombstones(spark, path).agg(max(col("tomb_epoch"))).head match {
        case r if r.isNullAt(0) => Long.MinValue
        case r => r.getLong(0)
      }
    val horizon = math.max(
      retentionHorizon(spark, path).getOrElse(Long.MinValue),
      math.max(maxEpoch, maxTombEpoch) + 1)
    Seq(horizon).toDF("retain_from")
      .coalesce(1).write.parquet(s"$staged/_retention")
    n
    }
  }

  /** Retention-bounded compact — the Delta/Iceberg VACUUM analog
    * [[compact]] is not: fold only the generations OLDER than
    * `retainFrom` into a resolved base, keep every epoch ≥ `retainFrom`
    * (rows AND tombstones) untouched — so:
    *
    *   - `loadActive` and every `loadActiveAsOf(e)` with
    *     `e ≥ retainFrom − 1` return EXACTLY what they returned before
    *     the fold (base rows keep their original epoch stamps; a spent
    *     tombstone only ever killed rows the fold physically dropped,
    *     so dropping both together is resolution-invisible — pinned in
    *     VectorIndexSpec);
    *   - reads below the horizon REFUSE loudly (`_retention/` marker
    *     checked by [[loadActiveAsOf]]) instead of serving a silent
    *     partial view;
    *   - storage for dead generations and their tombstones is
    *     reclaimed, bounding what a 100 TB MoR index pays for history —
    *     the retention trade every lakehouse table makes, here as an
    *     explicit op instead of [[compact]]'s fold-everything.
    *
    * Same staged-dir + rename-aside crash discipline as compact (the
    * sidecars are staged INSIDE the new generation's directory, so the
    * swap is one rename). Returns (rows before, rows after).
    */
  def compactRetain(
      spark: SparkSession, path: String, retainFrom: Long): (Long, Long) = {
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sessionState.newHadoopConf())
    Layout.replaceDirs(fs, Seq(path)) { case Seq(staged) =>
    retentionHorizon(spark, path).foreach(h => require(retainFrom >= h,
      s"compactRetain: retainFrom $retainFrom is below the existing " +
        s"horizon $h — history there is already folded"))
    val data = load(spark, path)
    val before = data.count()
    val tombs = readTombstones(spark, path)
    // the folded base: rows alive at retainFrom-1, ORIGINAL epochs kept
    val base = resolveActive(
      data.where(coalesce(col("epoch"), lit(0L)) < retainFrom),
      tombs.where(col("tomb_epoch") < retainFrom))
    val kept = data.where(coalesce(col("epoch"), lit(0L)) >= retainFrom)
    val folded = base.unionByName(kept).localCheckpoint(true)
    val after = folded.count()
    // the compact-to-empty refusal law: a partitioned write of zero rows
    // emits no data files and the swapped-in dir cannot be read
    require(after > 0,
      s"compactRetain: no rows survive the fold at $path — delete the " +
        "index directory instead of compacting to empty")
    folded.write.mode("overwrite").partitionBy("section").parquet(staged)
    // surviving tombstones + the horizon marker ride INSIDE the staged
    // generation (underscore dirs are invisible to the parquet reader),
    // so the swap replaces data + sidecars in one rename
    val keptTombs = tombs.where(col("tomb_epoch") >= retainFrom)
      .localCheckpoint(true)
    if (keptTombs.count() > 0)
      keptTombs.coalesce(1).write.parquet(s"$staged/_tombstones")
    import spark.implicits._
    Seq(retainFrom).toDF("retain_from")
      .coalesce(1).write.parquet(s"$staged/_retention")
    (before, after)
    }
  }
}
