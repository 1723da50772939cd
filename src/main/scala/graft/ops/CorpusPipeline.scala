package graft.ops

import graft.index.VectorIndex
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The end-to-end training-data curation pipeline (builder brief): raw
  * docs → quality filter → exact dedup → near-dup drop → chunk/embed/index.
  *
  * Each stage is one of the already-audited operators; the composition
  * keeps their scale shapes (per-row scoring in the scan, one hash shuffle
  * for exact dedup, inverted-index join for near-dups, generator chunking).
  * The near-dup stage is doc-frequency bounded by default ([[AutoDocFreq]]):
  * an unbounded token self-join goes quadratic on the hottest posting list,
  * which is exactly the failure mode a 100 TB corpus hits first.
  */
object CorpusPipeline {

  /** Sentinel: derive the jaccard doc-frequency cutoff from corpus size
    * (5% of rows, floor 64). Tokens above the cutoff are stop tokens for
    * near-dup purposes — they carry no discriminating signal but dominate
    * the join cost.
    *
    * Resolving the sentinel costs ONE eager `count()` over the input at
    * call time (the cutoff must be a literal before the join is planned).
    * Pass an explicit `maxDocFreq` to keep `curate`/`funnel` fully lazy.
    */
  val AutoDocFreq: Long = -1L

  private def resolveDocFreq(docs: DataFrame, maxDocFreq: Long): Long =
    if (maxDocFreq == AutoDocFreq) math.max(64L, (docs.count() * 0.05).toLong)
    else maxDocFreq

  /** Curate a corpus: returns the surviving docs.
    *
    * `lmTarget`/`maxCrossEntropy` switch on the CCNet-style perplexity
    * gate ([[TextAnalytics.bigramLmScore]]): docs whose bigram-LM
    * cross-entropy against the trusted target corpus exceeds the ceiling
    * are dropped (anti-join on the scored ids). Off by default.
    *
    * `exactComponents = true` resolves near-dups by exact transitive
    * closure ([[Dedup.dropNearDupsCC]]) — one representative per connected
    * cluster — instead of the greedy single-pass keep-lowest (which keeps
    * both endpoints of a transitive chain like {(1,3),(2,3)}). The exact
    * variant costs O(cluster diameter) extra shuffle rounds;
    * `starComponents = true` resolves the same components by star
    * contraction (O(log n) rounds regardless of diameter — the choice for
    * web-scale dup graphs with long boilerplate chains).
    */
  def curate(
      docs: DataFrame,
      minQuality: Double = 0.5,
      nearDupMinSim: Double = 0.8,
      idCol: String = "doc_id",
      textCol: String = "text",
      maxDocFreq: Long = AutoDocFreq,
      exactComponents: Boolean = false,
      starComponents: Boolean = false,
      minCompressionRatio: Double = 0.0,
      scrub: Boolean = false,
      c4MinWords: Int = 0,
      lmTarget: Option[DataFrame] = None,
      maxCrossEntropy: Double = Double.MaxValue): DataFrame = {
    val bound = resolveDocFreq(docs, maxDocFreq)
    // optional scrub stage, FIRST (C4 ordering: clean the text, then let
    // the gates judge the cleaned text — a page whose only survivors are
    // chrome lines should fail the quality gate, and dedup should key on
    // what the trainer would actually see). Both rewrites are scan-stage
    // column algebra; off by default to keep the reference funnel
    // semantics (p1) unchanged.
    val cleaned0 =
      if (c4MinWords > 0)
        docs.withColumn(textCol, TextAnalytics.c4LineClean(col(textCol), c4MinWords))
      else docs
    val scrubbed =
      if (scrub) cleaned0.withColumn(textCol, TextAnalytics.redactPii(col(textCol)))
      else cleaned0
    // optional repetitiveness gate (Gopher-style): docs compressing below
    // the floor are boilerplate/spam. Off by default (0.0 passes all —
    // empty text is neutral 1.0 by contract, so it is never dropped here).
    val gated =
      if (minCompressionRatio > 0.0)
        scrubbed.where(TextAnalytics.compressionRatio(col(textCol)) >= minCompressionRatio)
      else scrubbed
    // optional CCNet perplexity gate: keep docs whose bigram-LM
    // cross-entropy vs the trusted target stays under the ceiling. The
    // model joins are the only addition to the funnel's plan; docs too
    // short to score (< 1 bigram) pass — perplexity carries no signal
    // there and the length gates already own that regime.
    val lmGated = lmTarget match {
      case Some(t) if maxCrossEntropy < Double.MaxValue =>
        val tooPerplexed = TextAnalytics
          .bigramLmScore(gated, t, idCol = idCol, textCol = textCol)
          .where(-col("logp_q").cast("double") / col("n_scored") / 1e6
            > maxCrossEntropy)
          .select(col(idCol))
        gated.join(tooPerplexed, Seq(idCol), "left_anti")
      case _ => gated
    }
    val quality = lmGated.where(TextAnalytics.qualityScore(col(textCol)) >= minQuality)
    val exact = Dedup.dedupExact(quality, idCol, textCol)
    val pairs = Dedup.jaccardPairs(exact, idCol, textCol, nearDupMinSim, bound)
    if (exactComponents || starComponents)
      Dedup.dropNearDupsCC(exact, pairs, idCol,
        maxIter = if (starComponents) 30 else 20, star = starComponents)
    else Dedup.dropNearDups(exact, pairs, idCol)
  }

  /** Per-stage survivor counts — the curation funnel report.
    *
    * Single-traversal shape: instead of four chained `.count()` actions
    * (which re-run quality scoring 4×, exact dedup 3×, the jaccard join 2×),
    * every row is annotated with its quality / exact-survivor flags, losers
    * of the near-dup join are marked via one left join, and all four counts
    * come out of a single aggregate. Requires `idCol` values to be unique
    * (they are re-joined by id), which every upstream source guarantees.
    */
  def funnel(
      docs: DataFrame,
      minQuality: Double = 0.5,
      nearDupMinSim: Double = 0.8,
      idCol: String = "doc_id",
      textCol: String = "text",
      maxDocFreq: Long = AutoDocFreq): DataFrame = {
    val bound = resolveDocFreq(docs, maxDocFreq)
    val q = col("__q")
    val flagged = docs.withColumn(
      "__q", TextAnalytics.qualityScore(col(textCol)) >= minQuality)
    // Rank within (quality, digest) so keep-first applies to quality
    // survivors exactly as dedupExact does on the filtered frame.
    val w = Window
      .partitionBy(q, md5(col(textCol).cast("binary")))
      .orderBy(col(idCol))
    val staged = flagged.withColumn("__e", q && row_number().over(w) === 1)
    val exact = staged.where(col("__e")).select(col(idCol), col(textCol))
    val pairs = Dedup.jaccardPairs(exact, idCol, textCol, nearDupMinSim, bound)
    val losers = pairs.select(col("id_b").as(idCol)).distinct()
      .withColumn("__loser", lit(true))
    staged
      .join(losers, Seq(idCol), "left")
      .agg(
        count(lit(1)).as("n_input"),
        sum(when(q, 1L).otherwise(0L)).as("n_quality"),
        sum(when(col("__e"), 1L).otherwise(0L)).as("n_exact"),
        sum(when(col("__e") && col("__loser").isNull, 1L).otherwise(0L))
          .as("n_near"))
  }

  /** Per-document disposition audit — the provenance table a training
    * pipeline persists next to the curated output (data cards, takedown
    * and contamination audits all ask "why is doc X out, and who kept
    * its content?"): `(doc_id, verdict, kept_by)` with verdict ∈
    * `kept | drop_quality | drop_exact_dup | drop_near_dup`.
    *
    * `kept_by` laws, stage by stage:
    *  - exact-dup loser → the keep-first digest keeper, `min(id)` over
    *    its quality-surviving digest group — PROVABLY the id
    *    [[Dedup.dedupExact]] keeps (its `row_number() = 1` under
    *    `orderBy(id)` IS the group minimum), pinned in DedupSpec;
    *  - near-dup loser → its smallest pair partner that itself SURVIVES
    *    the near-dup stage (so the named carrier is genuinely in the
    *    curated output); when every partner was also dropped (a strict
    *    similarity chain like (1,2),(2,3) without (1,3)), the smallest
    *    partner — itself dropped, where the carrier chain continues.
    *    One extra loser-set join, no transitive iteration: a full
    *    closure would re-run connected components, which the funnel's
    *    greedy keeper law deliberately does not use ([[curate]]'s
    *    `exactComponents` variant owns that trade);
    *  - quality drop / kept → null.
    *
    * Same single-traversal shape and exactly the same stage laws as
    * [[funnel]] — the GROUP BY(verdict) of this table equals the
    * funnel's stage counts (`p20`'s registration asserts it on every
    * run, and DedupSpec pins it).
    */
  def funnelAudit(
      docs: DataFrame,
      minQuality: Double = 0.5,
      nearDupMinSim: Double = 0.8,
      idCol: String = "doc_id",
      textCol: String = "text",
      maxDocFreq: Long = AutoDocFreq): DataFrame = {
    val bound = resolveDocFreq(docs, maxDocFreq)
    val q = col("__q")
    val flagged = docs.withColumn(
      "__q", TextAnalytics.qualityScore(col(textCol)) >= minQuality)
    val w = Window
      .partitionBy(q, md5(col(textCol).cast("binary")))
      .orderBy(col(idCol))
    val staged = flagged
      .withColumn("__e", q && row_number().over(w) === 1)
      .withColumn("__keeper",
        min(col(idCol)).over(Window.partitionBy(q, md5(col(textCol).cast("binary")))))
    val exact = staged.where(col("__e")).select(col(idCol), col(textCol))
    val pairs = Dedup.jaccardPairs(exact, idCol, textCol, nearDupMinSim, bound)
    // a near-dup loser's carrier: smallest SURVIVING pair partner, then
    // smallest partner as the chain fallback (see scaladoc). The loser
    // set is joined back onto the partner side to mark partners that are
    // themselves dropped.
    val loserAs = pairs.select(col("id_b").as("id_a")).distinct()
      .withColumn("__aLoser", lit(true))
    val nearKeeper = pairs
      .join(loserAs, Seq("id_a"), "left")
      .groupBy(col("id_b").as(idCol))
      .agg(
        min(when(col("__aLoser").isNull, col("id_a"))).as("__nkKept"),
        min(col("id_a")).as("__nkAny"))
      .withColumn("__nk", coalesce(col("__nkKept"), col("__nkAny")))
      .select(col(idCol), col("__nk"))
    staged.join(nearKeeper, Seq(idCol), "left")
      .select(
        col(idCol),
        when(!q, lit("drop_quality"))
          .when(!col("__e"), lit("drop_exact_dup"))
          .when(col("__nk").isNotNull, lit("drop_near_dup"))
          .otherwise(lit("kept")).as("verdict"),
        when(!q, lit(null).cast("long"))
          .when(!col("__e"), col("__keeper").cast("long"))
          .when(col("__nk").isNotNull, col("__nk").cast("long"))
          .otherwise(lit(null).cast("long")).as("kept_by"))
  }

  /** Streaming intake arm of [[curate]]: the gates that can run per-event
    * applied to a live document stream (`docs` must carry an event-time
    * `ts` column).
    *
    * - quality filter: stateless column algebra, free on a stream;
    * - dedup on the 64-bit SimHash signature within the watermark horizon:
    *   one state entry per distinct signature inside the horizon, so state
    *   is bounded by arrival rate × watermark. Signature equality catches
    *   exact duplicates AND token-reorder / whitespace / case variants —
    *   the hamming-0 slice of near-dup. This is deliberately a DROP-ON-
    *   COLLISION policy: two distinct documents whose token statistics
    *   collide to the same 64-bit signature lose one of the pair (no
    *   pairwise verification step exists in the streaming model); accept
    *   that rare false drop at intake, or dedup on `fingerprintMd5`
    *   instead for exact-only streaming dedup.
    *
    * Deeper near-dup (hamming > 0, jaccard) needs pairwise joins the
    * streaming model can't bound; that remains the periodic batch
    * compaction ([[curate]]) over the landed data — the standard
    * stream-ingest / batch-compact split for a 100 TB intake.
    */
  def streamingIntake(
      docs: DataFrame,
      minQuality: Double = 0.5,
      watermark: String = "2 hours",
      textCol: String = "text",
      scrub: Boolean = false,
      c4MinWords: Int = 0): DataFrame = {
    // same optional scrub stage as batch curate(), same order (clean →
    // mask → gate → dedup-on-cleaned-text); both rewrites are stateless
    // column algebra, so they compose into the streaming plan unchanged
    val cleaned0 =
      if (c4MinWords > 0)
        docs.withColumn(textCol, TextAnalytics.c4LineClean(col(textCol), c4MinWords))
      else docs
    val scrubbed =
      if (scrub) cleaned0.withColumn(textCol, TextAnalytics.redactPii(col(textCol)))
      else cleaned0
    scrubbed
      .where(TextAnalytics.qualityScore(col(textCol)) >= minQuality)
      .withColumn("__sig",
        Dedup.simhash(split(lower(trim(col(textCol))), "\\s+")))
      .withWatermark("ts", watermark)
      .dropDuplicatesWithinWatermark("__sig")
      .drop("__sig")
  }

  /** Full pipeline: curate then build the vector index. */
  def curateAndIndex(
      docs: DataFrame,
      minQuality: Double = 0.5,
      nearDupMinSim: Double = 0.8,
      maxDocFreq: Long = AutoDocFreq): DataFrame =
    VectorIndex.build(curate(docs, minQuality, nearDupMinSim, maxDocFreq = maxDocFreq))

  /** Terminal stage of the streaming ingest: append each micro-batch of
    * (curated) documents to a persisted vector index via `foreachBatch` +
    * [[VectorIndex.append]].
    *
    * Exactly-once without a transactional sink: `foreachBatch` delivers
    * at-least-once on failure/restart, but `append` derives chunk ids from
    * content position (`xxhash64(doc_id, pos, chunk_idx)`) and drops
    * already-present ids, so a re-delivered batch appends nothing — the
    * index converges to exactly-once. `embedder` must be the instance
    * fitted on the base corpus (shared vector space; see
    * [[VectorIndex.append]]).
    *
    * Compose upstream as `streamingIntake(stream) → streamingIndexSink`:
    * quality/dedup gates run per-event, the index grows per micro-batch,
    * and deeper near-dup stays with the periodic batch [[curate]].
    */
  def streamingIndexSink(
      docs: DataFrame,
      path: String,
      embedder: graft.embed.Embedder,
      checkpoint: String,
      idCol: String = "doc_id",
      textCol: String = "text"): org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    docs.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val delta = batch.select(col(idCol).as("doc_id"), col(textCol).as("text"))
        VectorIndex.append(batch.sparkSession, delta, path, embedder)
        ()
      }

  /** Streaming ANN-index maintenance: append each micro-batch of
    * embedded vectors to a persisted HNSW index as NEW segments
    * ([[graft.ops.Hnsw.appendBatch]] — the Lucene segment law; the index
    * must already exist via `Hnsw.write`/`writeRouted` on the seed
    * corpus). The streaming `batchId` keys the segment ledger, so
    * at-least-once re-delivery appends nothing on replay and the probe
    * view converges to exactly-once. Run [[graft.ops.Hnsw.compact]]
    * between batches (single-writer law, like a Lucene commit lock) when
    * the segment count grows past taste.
    */
  def streamingHnswSink(
      vectors: DataFrame,
      path: String,
      checkpoint: String,
      idCol: String = "vec_id",
      vecCol: String = "embedding",
      maintenance: Option[Layout.MaintenancePolicy] = None): org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    vectors.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val spark = batch.sparkSession
        graft.ops.Hnsw.appendBatch(
          spark, batch, path, batchId, idCol, vecCol)
        // runs-itself wiring (see streamingBm25Sink): HNSW's merge can
        // only converge to >= numShards fresh graphs, so the effective
        // merge target is clamped there — a policy maxSegments below
        // numShards still converges (to numShards) instead of looping
        maintenance.foreach { pol =>
          val shards = graft.ops.Hnsw.loadMeta(spark, path).numShards
          // the HNSW tombstone sidecar's own id column is "id" (not the
          // sink's vector id column)
          maintainIndex(spark, path, pol, idCol = "id",
            merge = Some(() => {
              graft.ops.Hnsw.mergeSegments(spark, path,
                math.max(pol.maxSegments, shards)); ()
            }),
            compact = Some(() => { graft.ops.Hnsw.compact(spark, path); () }))
          ()
        }
        ()
      }

  /** One intake batch against the persisted MinHash signature store —
    * the continuous-crawl front door, as a composable unit (the body of
    * [[streamingNearDupIntake]] and the `st12` batch twin):
    *
    *   1. drop arrivals that near-duplicate the CORPUS
    *      ([[Dedup.nearDupesAgainstStore]]; a re-arriving id never
    *      matches itself — the store probe excludes same-id pairs);
    *   2. resolve near-dups WITHIN the remaining batch
    *      ([[Dedup.minHashPairsHashed]] under the store's own
    *      shingle/hash/band law from `meta/`), keep-smallest-id: every
    *      `id_b` of a ≥threshold pair drops. Deliberately simpler than
    *      the d17 connected-components keeper — an intake batch is
    *      small, and the law must be cheap and oracle-reproducible;
    *   3. append the survivors' signatures to the store
    *      ([[Dedup.appendMinhash]], doc-idempotent), so the NEXT batch
    *      is checked against corpus + everything admitted before it.
    *
    * Returns the surviving docs. Replay-safe even without the ledger —
    * and not just per-id: the corpus-dup decision ignores store matches
    * against the BATCH'S OWN ids (a replay finds the first delivery's
    * admissions already stored; counting them as "corpus" would flip
    * within-batch keep/drop chains and admit docs the first delivery
    * rejected). With that exclusion the decision depends only on (batch
    * content, store-minus-this-batch), the within-batch resolution
    * recomputes identically, and the signature append is doc-idempotent
    * — so a replayed batch converges to the same survivor set.
    */
  def nearDupIntakeBatch(
      spark: org.apache.spark.sql.SparkSession,
      batch: DataFrame,
      storePath: String,
      idCol: String = "doc_id",
      textCol: String = "text",
      minJaccard: Double = 0.8,
      storeMaxBucketSize: Long = 1L << 20): DataFrame = {
    val meta = Dedup.readMinhashMeta(spark, storePath)
    val (shingleSize, numHashes, bands) =
      (meta.getInt(0), meta.getInt(1), meta.getInt(2))
    // the whole micro-batch runs in one partition while the REAL store
    // bytes (file listing) + the batch's shingle explode estimate fit one
    // (Layout.fitsOnePartition): the batch and every store read are
    // coalesced, so no step plans an exchange (measured 61 → 25 jobs,
    // 3.3 → 1.7 s warm per batch at sf0.1 against the cluster-constant
    // width). An unknown batch estimate or a grown store keeps the
    // session's width — same plan as before at scale.
    val single = Layout.onePartitionWhen(Layout.fitsOnePartition(spark,
      Layout.dirBytes(spark, storePath) + Dedup.shingleExplodeBytes(batch))) _
    val input = single(batch)
    // ONE shingle-explode and ONE signature aggregate for the whole
    // batch, materialized up front and shared by all three stages. The
    // unfused composition (probe → resolve → append as standalone calls)
    // re-derived explode+signatures per stage with its own checkpoint
    // each — at micro-batch scale that cascade of tiny jobs (~35/batch,
    // ~12 s of pure scheduling at sf0.1) IS the intake latency, not the
    // data. Checkpointing before the append also severs lineage from the
    // store this batch mutates (the VectorIndex.append swap discipline).
    val exploded = single(Ann.materializeOnce(single(
      Dedup.shingleExplode(batch, idCol, textCol, shingleSize)
        .repartition(col(idCol)))))
    val sigs = single(Ann.materializeOnce(
      Dedup.signatureTable(exploded, idCol, numHashes)))
    val batchBands = Dedup.bandsOfSigs(sigs, idCol, numHashes, bands)
    // 1. corpus near-dups. The hot-bucket guard is ON by default again
    // (it silently flipped off in round 9): since Dedup.guardHotBuckets
    // the size aggregate is restricted to the buckets THIS batch probes —
    // O(touched), not the corpus-wide pass that originally justified the
    // opt-out — so a degenerate stored bucket can no longer blow up the
    // candidate join on every intake batch. Pass <= 0 to opt out.
    // Each intermediate id SET below is materialized before reuse: these
    // batch-bounded sets sit at fan-out points (corpusDups feeds the
    // within-batch restriction AND the survivor anti-join; afterCorpusIds
    // restricts two part tables), and an unmaterialized reference
    // re-executes its ENTIRE upstream DAG per consumer — at micro-batch
    // scale, where every join side auto-broadcasts, that replication is
    // a cascade of broadcast-build jobs (measured: the probe/resolve DAG
    // re-ran ~4x, 167 jobs/batch). Checkpointed, each DAG runs once.
    val ownIds = input.select(col(idCol).as("corpus_id")).distinct()
    // the probe folds STRAIGHT into the after-corpus id set (round-16:
    // one checkpoint and one plan where corpusDups + afterCorpusIds were
    // two — the corpus-dup ids were only ever consumed as "batch minus
    // them", and `survivors` below re-derives the same set membership
    // via a semi-join on afterCorpusIds, set-identical because every
    // probe hit is a batch id)
    val afterCorpusIds = single(Ann.materializeOnce(
      input.select(idCol).distinct()
        .join(single(Dedup.storeProbeExact(spark, storePath,
            exploded.select(col(idCol).as("batch_id"), col("__h")),
            batchBands.select(col(idCol).as("batch_id"), col("band"), col("band_key")),
            minJaccard, storeMaxBucketSize))
          .join(broadcast(ownIds), Seq("corpus_id"), "left_anti")
          .select(col("batch_id").as(idCol)).distinct(),
          Seq(idCol), "left_anti")))
    // 2. within-batch resolve over the SAME parts, restricted to the
    // corpus survivors (shingling/signatures are per-doc, so filtering
    // the batch-wide tables is exactly re-deriving them from afterCorpus)
    val losers = single(Ann.materializeOnce(single(
      Dedup.pairsFromBanded(
        exploded.join(afterCorpusIds, Seq(idCol), "left_semi"),
        batchBands.join(afterCorpusIds, Seq(idCol), "left_semi")
          .repartition(col("band"), col("band_key")),
        idCol, minJaccard, maxBucketSize = 1L << 20)
        .select(col("id_b").cast(batch.schema(idCol).dataType).as(idCol))
        .distinct())))
    val survivors = single(Ann.materializeOnce(
      input.join(afterCorpusIds, Seq(idCol), "left_semi")
        .join(losers, Seq(idCol), "left_anti")))
    // 3. append the survivors through the docs/ ledger — the same parts
    // again, filtered to fresh ids (doc-idempotent, data before ledger)
    val existing = single(Dedup.readMinhashDocs(spark, storePath))
    val freshIds = single(Ann.materializeOnce(
      survivors.select(col(idCol).as("doc_id")).distinct()
        .join(existing, Seq("doc_id"), "left_anti")))
    if (freshIds.count() > 0)
      Dedup.appendPartsToStore(storePath, freshIds,
        exploded.select(col(idCol).as("doc_id"), col("__h"))
          .join(freshIds, Seq("doc_id"), "left_semi"),
        sigs.select(col(idCol).as("doc_id"), col("__sig"))
          .join(freshIds, Seq("doc_id"), "left_semi"),
        numHashes, bands)
    survivors
  }

  /** Streaming continuous-crawl intake over the signature store: each
    * micro-batch runs [[nearDupIntakeBatch]] under the batch ledger
    * ([[Layout.ledgeredBatch]] — at-least-once delivery converges to
    * exactly-once admissions) and lands its survivors in a per-batch
    * output directory (`batch=<id>/`, overwritten on replay, so the
    * residual crash window re-writes idempotently instead of
    * duplicating rows).
    */
  def streamingNearDupIntake(
      docs: DataFrame,
      storePath: String,
      outPath: String,
      checkpoint: String,
      idCol: String = "doc_id",
      textCol: String = "text",
      minJaccard: Double = 0.8,
      maintenance: Option[Layout.MaintenancePolicy] = None): org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    docs.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val spark = batch.sparkSession
        Layout.ledgeredBatch(spark, s"$storePath/batches", batchId) {
          nearDupIntakeBatch(spark, batch, storePath,
            idCol, textCol, minJaccard)
            .write.mode("overwrite").parquet(s"$outPath/batch=$batchId")
          ()
        }
        // runs-itself wiring (see streamingBm25Sink) — the 6th of the
        // seven maintained stores (round-11 missing #1): the signature
        // store has no segments, so the tombstone signal drives
        // compactMinhash (folds deletes across all four tables, d19c's
        // primitive) and the small-file signal drives compactMinhashFiles
        // (bin-packs the per-batch appends). Single-writer law holds:
        // foreachBatch is the store's only writer.
        maintenance.foreach { pol =>
          maintainIndex(spark, storePath, pol, idCol = "doc_id",
            compact = Some(() => { Dedup.compactMinhash(spark, storePath); () }),
            compactFiles = Some(() => {
              Dedup.compactMinhashFiles(spark, storePath,
                targetBytes = pol.smallFileBytes * 8); ()
            }))
          ()
        }
        ()
      }

  /** One streaming cache-intake micro-batch: [[graft.serve.SemanticCache
    * .intakeBatch]] against the persisted cache, dispositions landed at
    * `outPath/batch=<id>/` (overwritten on replay). Shared by
    * [[streamingCacheIntake]] and its registered batch twin (`st18`) so
    * the wrapper and the oracle-checked body can never drift.
    *
    * `cacheMaxEntries` weakens redelivery from identical to SELF-HEALING
    * convergence (see [[graft.serve.CachedRag.cachedRagBatchBody]]): a
    * replayed batch whose entries were evicted re-derives misses where
    * the first delivery saw hits, re-inserts them, and overwrites its
    * output dir with the new dispositions. Leave the cap `None` and
    * evict while quiesced when replays must be byte-identical.
    */
  def cacheIntakeBatchBody(
      spark: org.apache.spark.sql.SparkSession,
      batch: DataFrame,
      cachePath: String,
      outPath: String,
      batchId: Long,
      minCos: Double,
      idOffset: Long = 1000000L,
      cacheMaxEntries: Option[Int] = None,
      evictLru: Boolean = false,
      retainBatches: Option[Int] = None): Unit = {
    graft.serve.SemanticCache
      .intakeBatch(spark, batch, cachePath, minCos, idOffset)
      .write.mode("overwrite").parquet(s"$outPath/batch=$batchId")
    graft.serve.SemanticCache.afterBatch(spark, cachePath, outPath, batchId,
      cacheMaxEntries, evictLru, retainBatches)
  }

  /** Streaming semantic-cache intake — the serving tier's continuous
    * memoization loop (the [[streamingNearDupIntake]] shape): each
    * micro-batch of `(query_id, query_vec)` rows looks up against the
    * persisted cache, inserts its misses, and lands every disposition at
    * `outPath/batch=<id>/`. Deliberately NO batch ledger: intakeBatch is
    * replay-safe by construction (id-idempotent inserts + own-insertion
    * exclusion + the loud collision guard), so a re-delivered micro-batch
    * re-derives identical dispositions, appends nothing, and overwrites
    * its own output dir — at-least-once delivery converges to
    * exactly-once admissions without marker state. The cache bootstraps
    * from an absent `cachePath` (batch 0 inserts all its misses).
    */
  def streamingCacheIntake(
      queries: DataFrame,
      cachePath: String,
      outPath: String,
      checkpoint: String,
      minCos: Double = 0.95,
      idOffset: Long = 1000000L,
      cacheMaxEntries: Option[Int] = None,
      evictLru: Boolean = false,
      retainBatches: Option[Int] = None): org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    queries.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        cacheIntakeBatchBody(batch.sparkSession, batch, cachePath, outPath,
          batchId, minCos, idOffset, cacheMaxEntries, evictLru, retainBatches)
      }

  /** The auto-maintenance policy loop — the last gap between "has the
    * primitives" and "runs itself" at 100 TB: evaluate
    * [[Layout.maintenanceDue]] on an index path and run the family's own
    * actions for whatever the policy says is due, in the safe order —
    * MERGE first (folds small segments; value-invisible by the b10/a13b
    * contracts), COMPACT second (folds tombstones AND resets the segment
    * ledger in every family, so it subsumes a due merge it follows;
    * value-equal to a from-scratch build over the survivors by b8b/a9c),
    * file-compact last (bin-packs whatever small files remain; many
    * callers pass `None` because their compact already rewrites files).
    * Returns (status before, status after) so a scheduler can assert the
    * loop actually converged — a policy whose action doesn't clear its
    * own signal (e.g. a merge target above `maxSegments`) would
    * otherwise re-fire forever, silently.
    *
    * Wire it per index family with its own primitives, e.g. BM25:
    * {{{
    * CorpusPipeline.maintainIndex(spark, path,
    *   merge = Some(() => { Bm25.mergeSegments(spark, path); () }),
    *   compact = Some(() => Bm25.compactIndex(spark, path)))
    * }}}
    * and schedule it after each streaming micro-batch or on a timer —
    * the signals read layout metadata only, so an all-clear poll costs a
    * few listStatus calls.
    */
  def maintainIndex(
      spark: org.apache.spark.sql.SparkSession,
      path: String,
      policy: Layout.MaintenancePolicy = Layout.MaintenancePolicy(),
      totalIds: Option[Long] = None,
      idCol: String = "doc_id",
      segmentCount: Option[() => Int] = None,
      merge: Option[() => Unit] = None,
      compact: Option[() => Unit] = None,
      compactFiles: Option[() => Unit] = None): (Layout.MaintenanceStatus, Layout.MaintenanceStatus) = {
    // segmentCount is a THUNK: the family's own count must be re-read for
    // the after-status, or a caller-supplied snapshot would claim the
    // merge never converged
    def status() = Layout.maintenanceDue(
      spark, path, policy, totalIds, idCol, segmentCount.map(_.apply()))
    val before = status()
    if (before.mergeDue) merge.foreach(_.apply())
    if (before.compactDue) compact.foreach(_.apply())
    if (before.fileCompactDue) compactFiles.foreach(_.apply())
    (before, status())
  }

  /** Streaming sparse-index maintenance — the BM25 twin of
    * [[streamingHnswSink]], completing the streaming-maintenance story
    * for the hybrid stack's keyword channel: each micro-batch of docs
    * appends to a persisted BM25 index
    * ([[graft.search.Bm25.appendIndexBatch]], batch-ledgered so
    * at-least-once re-delivery converges to exactly-once postings; the
    * index must already exist via `Bm25.writeIndex`). Stats/df re-derive
    * at load from the per-segment ledgers, so probes see appended docs
    * immediately. Run [[graft.search.Bm25.compactIndex]] between batches
    * (single-writer law) when deletes accumulate.
    */
  def streamingBm25Sink(
      docs: DataFrame,
      path: String,
      checkpoint: String,
      idCol: String = "doc_id",
      textCol: String = "text",
      maintenance: Option[Layout.MaintenancePolicy] = None): org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    docs.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val spark = batch.sparkSession
        graft.search.Bm25.appendIndexBatch(
          spark, batch, path, batchId, idCol, textCol)
        // the RUNS-ITSELF wiring: after the batch applies, the policy
        // loop runs the family's own primitives when due — legal here
        // because foreachBatch is the index's single writer (the same
        // single-writer law every between-batches compact already
        // required). An all-clear poll is a few listStatus calls.
        maintenance.foreach { pol =>
          // the BM25 layout's tombstone sidecar column is always doc_id
          maintainIndex(spark, path, pol, idCol = "doc_id",
            merge = Some(() => {
              graft.search.Bm25.mergeSegments(spark, path, pol.maxSegments); ()
            }),
            compact = Some(() => {
              graft.search.Bm25.compactIndex(spark, path); ()
            }))
          ()
        }
        ()
      }

  /** Streaming IVF maintenance — the dense-vector twin of
    * [[streamingBm25Sink]], closing the last index family that could
    * not be stream-maintained: each micro-batch of vectors routes
    * through the PERSISTED frozen coarse quantizer
    * ([[graft.ops.Ann.appendIvfBatch]], batch-ledgered so at-least-once
    * re-delivery converges to exactly-once list growth; the index must
    * already exist via `Ann.writeIvf`). Appended vectors are visible to
    * probes immediately (list reads are plain parquet scans). Run
    * [[graft.ops.Ann.compactIvfLists]] between batches (single-writer
    * law) when per-partition small files accrue, and
    * [[graft.ops.Ann.compactIvf]] when deletes do.
    */
  def streamingIvfSink(
      vecs: DataFrame,
      path: String,
      checkpoint: String,
      idCol: String = "vec_id",
      vecCol: String = "embedding",
      maintenance: Option[Layout.MaintenancePolicy] = None): org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    vecs.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val spark = batch.sparkSession
        graft.ops.Ann.appendIvfBatch(
          spark, batch, path, batchId, idCol, vecCol)
        // runs-itself wiring (see streamingBm25Sink). IVF has no segment
        // growth (appends land inside the fixed centroid partitions), so
        // only the tombstone and small-file signals act: compactIvf folds
        // deletes, compactIvfLists bin-packs per-partition files
        maintenance.foreach { pol =>
          maintainIndex(spark, path, pol, idCol = "vec_id",
            compact = Some(() => { graft.ops.Ann.compactIvf(spark, path); () }),
            compactFiles = Some(() => {
              graft.ops.Ann.compactIvfLists(spark, path,
                targetBytes = pol.smallFileBytes * 8); ()
            }))
          ()
        }
        ()
      }

  /** Streaming SQ8-code maintenance — with this and [[streamingPqSink]],
    * EVERY index family in the engine is stream-maintainable
    * (BM25/HNSW/IVF/SQ8/PQ + the minhash store and the MoR index): each
    * micro-batch of vectors encodes O(batch) through the PERSISTED
    * frozen per-dim bounds ([[graft.ops.Sq.appendCodesBatch]],
    * batch-ledgered so at-least-once re-delivery converges to
    * exactly-once code growth; the index must already exist via
    * `Sq.writeCodes`). A bounds-drift refusal fails the query loudly —
    * the correct outcome when the stream's distribution has left the
    * frozen quantizer behind. Appended codes are visible to
    * [[graft.ops.Sq.sqProbe]] immediately (the ADC scan is a plain
    * parquet read).
    */
  def streamingSqSink(
      vecs: DataFrame,
      path: String,
      checkpoint: String,
      idCol: String = "vec_id",
      vecCol: String = "embedding",
      maintenance: Option[Layout.MaintenancePolicy] = None): org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    vecs.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val spark = batch.sparkSession
        graft.ops.Sq.appendCodesBatch(
          spark, batch, path, batchId, idCol, vecCol)
        // runs-itself wiring (see streamingBm25Sink): a flat codes table
        // has no segments — the tombstone signal drives compactCodes
        // (which also rewrites the small files its own appends accrue)
        maintenance.foreach { pol =>
          maintainIndex(spark, path, pol, idCol = "vec_id",
            compact = Some(() => { graft.ops.Sq.compactCodes(spark, path); () }),
            compactFiles = Some(() => {
              // size-tiered (round-14): settled code files hop by rename,
              // only the per-batch small appends rewrite
              Layout.compactSmallFiles(spark, s"$path/codes",
                targetBytes = pol.smallFileBytes * 8); ()
            }))
          ()
        }
        ()
      }

  /** Streaming PQ-code maintenance — see [[streamingSqSink]]; encodes
    * each micro-batch through the PERSISTED frozen codebooks
    * ([[graft.ops.Pq.appendCodesBatch]]).
    */
  def streamingPqSink(
      vecs: DataFrame,
      path: String,
      checkpoint: String,
      idCol: String = "vec_id",
      vecCol: String = "embedding",
      maintenance: Option[Layout.MaintenancePolicy] = None): org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    vecs.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val spark = batch.sparkSession
        graft.ops.Pq.appendCodesBatch(
          spark, batch, path, batchId, idCol, vecCol)
        // runs-itself wiring (see streamingBm25Sink): a flat codes table
        // has no segments — the tombstone signal drives compactCodes
        // (which also rewrites the small files its own appends accrue)
        maintenance.foreach { pol =>
          maintainIndex(spark, path, pol, idCol = "vec_id",
            compact = Some(() => { graft.ops.Pq.compactCodes(spark, path); () }),
            compactFiles = Some(() => {
              // size-tiered (round-14): settled code files hop by rename,
              // only the per-batch small appends rewrite
              Layout.compactSmallFiles(spark, s"$path/codes",
                targetBytes = pol.smallFileBytes * 8); ()
            }))
          ()
        }
        ()
      }

  /** Streaming UPSERT maintenance: like [[streamingIndexSink]] but each
    * arriving doc REPLACES its prior revision via the merge-on-read
    * tombstone path ([[graft.index.VectorIndex.upsertDocs]]) — the shape
    * a CDC / re-crawl feed needs, where the same doc_id recurs with new
    * content. The streaming `batchId` is the MoR epoch: monotonic across
    * restarts (Spark replays a failed batch with the SAME id), so
    * re-delivery tombstones and re-appends identically — the resolved
    * view is exactly-once even under at-least-once delivery.
    */
  def streamingUpsertSink(
      docs: DataFrame,
      path: String,
      embedder: graft.embed.Embedder,
      checkpoint: String,
      idCol: String = "doc_id",
      textCol: String = "text",
      maintenance: Option[Layout.MaintenancePolicy] = None): org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    docs.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val spark = batch.sparkSession
        val delta = batch.select(col(idCol).as("doc_id"), col(textCol).as("text"))
        // epoch 2·batchId+1 keeps upsert's internal epoch-1 tombstone
        // non-negative and strictly increasing across batches
        val epoch = 2 * batchId + 1
        VectorIndex.upsertDocs(spark, delta, path, embedder, epoch = epoch)
        // runs-itself wiring (see streamingBm25Sink) — the 7th and last
        // maintained store (round-11 missing #1): the MoR index's
        // tombstone signal drives compactRetain AT THE CURRENT EPOCH
        // (t8c's primitive) — every generation strictly below this batch
        // folds into the resolved base, this batch's own rows and the
        // AS OF view at `epoch` stay readable, and the spent tombstones
        // clear the signal. History below the horizon refuses loudly,
        // the documented retention trade. No file-compact arm: the
        // retention fold already rewrites the data files it keeps.
        maintenance.foreach { pol =>
          maintainIndex(spark, path, pol, idCol = "doc_id",
            compact = Some(() => {
              VectorIndex.compactRetain(spark, path, retainFrom = epoch); ()
            }))
          ()
        }
        ()
      }
}
