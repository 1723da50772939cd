package graft.ops

import graft.functions.VectorFunctions
import org.apache.spark.ml.feature.{CountVectorizer, CountVectorizerModel, MinHashLSH, NGram, RegexTokenizer}
import org.apache.spark.ml.linalg.{Vector => MLVector}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deduplication operators for LLM training-data pipelines (builder brief):
  * exact, MinHash+LSH, SimHash, n-gram Jaccard, embedding-cosine near-dup.
  *
  * Scale notes: every variant is bucketed or inverted-index shaped — the
  * all-pairs cross join never appears. Exact dedup shuffles once on the
  * content hash; MinHash/SimHash shuffle on band keys; Jaccard shuffles on
  * tokens with a document-frequency cutoff to bound the hottest key.
  */
object Dedup extends IndexLifecycle {
  protected def lifecycleIdCol: String = "doc_id"


  // ---------------------------------------------------------------- exact

  /** Exact duplicate groups: hash-groupBy on the full text digest.
    * Returns one row per duplicated digest with the member ids.
    */
  def exactDupGroups(docs: DataFrame, idCol: String = "doc_id",
      textCol: String = "text"): DataFrame =
    docs
      .groupBy(md5(col(textCol).cast("binary")).as("digest"))
      .agg(count(lit(1)).as("n"), sort_array(collect_list(col(idCol))).as("ids"))
      .where(col("n") > 1)
      .orderBy(col("digest"))

  /** Exact dedup keep-first: one survivor (min id) per distinct text. */
  def dedupExact(docs: DataFrame, idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(md5(col(textCol).cast("binary")))
      .orderBy(col(idCol))
    docs.withColumn("__rn", row_number().over(w)).where(col("__rn") === 1).drop("__rn")
  }

  /** Incremental exact dedup: the rows of a NEW batch whose text digest
    * does not already occur in an EXISTING corpus — the daily-increment
    * shape (dedup this week's crawl against the accumulated 100 TB corpus
    * without shuffling the corpus).
    *
    * Plan: the batch digests are condensed into a Bloom filter
    * (`DataFrameStatFunctions.bloomFilter`, ~1.2 MB per million keys at
    * fpp 0.01 — one batch pass, result is driver-side bytes shipped in
    * the task closure). The CORPUS scan then keeps only
    * probable-batch-digest rows — the true matches plus `fpp × |corpus|`
    * false positives — pruned AT SCAN STAGE with zero corpus shuffle.
    * Only that remnant becomes the (distinct, small) right side of the
    * anti join, which AQE broadcasts. A Bloom false positive costs one
    * extra candidate row; false negatives do not exist, so the result is
    * EXACT (asserted ≡ the naive anti join in DedupSpec).
    *
    * The membership probe is Catalyst's own codegen'd
    * `BloomFilterMightContain` (the expression behind Spark's runtime
    * shuffle-pruning filters), surfaced via
    * [[graft.functions.BloomFunctions]] with the filter bytes inlined as
    * a foldable literal — so the corpus scan is a fused
    * scan→xxhash64→bit-test pipeline with NO per-row UDF boxing (the
    * interpreter tax this repo measured at 27–57× elsewhere). The Bloom
    * key is `xxhash64(text)` (the long-key pairing the native expression
    * requires); exactness still rests on the md5 anti-join — the 64-bit
    * prefilter only ever widens the candidate set, and md5 is now
    * computed ONLY on the Bloom survivors instead of the whole corpus.
    */
  def dedupAgainstCorpus(
      batch: DataFrame,
      corpus: DataFrame,
      idCol: String = "doc_id",
      textCol: String = "text",
      fpp: Double = 0.01): DataFrame = {
    require(fpp > 0 && fpp < 1, s"dedupAgainstCorpus: fpp $fpp outside (0,1)")
    val spark = batch.sparkSession
    val digest = md5(col(textCol).cast("binary"))
    val key = xxhash64(col(textCol))
    val batchD = Ann.materializeOnce(
      batch.withColumn("__digest", digest).withColumn("__k", key))
    val nBatch = math.max(batchD.count(), 1L)
    graft.functions.BloomFunctions.requireBounded(nBatch, fpp)
    val bloom = batchD.stat.bloomFilter("__k", nBatch, fpp)
    val corpusHits = corpus
      .where(graft.functions.BloomFunctions.bloomMightContain(
        graft.functions.BloomFunctions.bloomLit(spark, bloom), key))
      .select(digest.as("__digest"))
      .distinct()
    batchD.join(corpusHits, Seq("__digest"), "left_anti")
      .drop("__digest", "__k")
  }

  // ----------------------------------------------- corpus-level line dedup

  /** Corpus-level duplicated-line removal — the CCNet / RefinedWeb
    * boilerplate pass (Wenzek et al. 2020 §3.1; Penedo et al. 2023 §3):
    * a line whose trimmed form occurs in more than `maxDf` DISTINCT
    * documents is boilerplate (nav menus, cookie banners, copyright
    * footers) and is removed from EVERY document carrying it — unlike
    * document-level near-dup, which keeps one survivor per group. Blank
    * lines are document structure, not content: never counted toward a
    * frequency, never dropped.
    *
    * Returns `(id, text, n_lines, n_dropped)` with the surviving lines
    * rejoined in their original order (`n_lines` counts the original
    * lines; a fully-boilerplate document survives with empty text so the
    * caller decides its fate).
    *
    * Scale: the line explode is scan-stage; the document-frequency count
    * is one shuffle on the line key. The drop list (`df > maxDf`) is
    * bounded by `total_line_instances / maxDf` — the same cardinality
    * argument as [[jaccardPairs]]' df cutoff — so it is the broadcast
    * side of the membership join (guarded: past `maxBroadcastLines`
    * entries it degrades to a shuffle join instead of a driver OOM; the
    * probe scans at most cap+1 rows). The rebuild groups on the document
    * id — one shuffle on an evenly distributed key.
    */
  def lineDedup(
      docs: DataFrame,
      maxDf: Int = 5,
      idCol: String = "doc_id",
      textCol: String = "text",
      maxBroadcastLines: Int = 4000000): DataFrame = {
    require(maxDf >= 1, s"lineDedup: maxDf $maxDf must be >= 1")
    val lines = docs
      .select(col(idCol),
        posexplode(split(coalesce(col(textCol), lit("")), "\n", -1))
          .as(Seq("__pos", "__line")))
      .withColumn("__key", trim(col("__line")))
    // materialized once: the broadcast-size probe below is an action, and
    // without this the line-frequency shuffle would run twice (the same
    // double-execution Ann.maybeBroadcast measures at −30%)
    val dropList = lines.where(col("__key") =!= "")
      .groupBy("__key").agg(countDistinct(col(idCol)).as("__df"))
      .where(col("__df") > maxDf)
      .select(col("__key"), lit(true).as("__dup"))
      .localCheckpoint(true)
    val guarded =
      if (dropList.limit(maxBroadcastLines + 1).count() <= maxBroadcastLines)
        broadcast(dropList)
      else dropList
    lines.join(guarded, Seq("__key"), "left")
      .groupBy(col(idCol))
      .agg(
        count(lit(1)).as("n_lines"),
        coalesce(sum(when(col("__dup"), lit(1L))), lit(0L)).as("n_dropped"),
        array_join(
          transform(
            array_sort(collect_list(
              when(col("__dup").isNull, struct(col("__pos"), col("__line"))))),
            s => s.getField("__line")),
          "\n").as(textCol))
      .select(col(idCol), col(textCol), col("n_lines"), col("n_dropped"))
  }

  // ------------------------------------------------------- MinHash + LSH

  /** Near-dup candidate pairs via MinHash LSH over word shingles.
    * `threshold` is Jaccard *distance* (1 − similarity). Deterministic:
    * fixed seed, CountVectorizer vocabulary ordered by (count, term).
    *
    * Plan: shingle (per-row) → sparse binary vector → MinHash signatures →
    * `approxSimilarityJoin` explodes band hashes and joins on them — the
    * classic band-bucket join, never all-pairs.
    */
  def minHashPairs(
      docs: DataFrame,
      idCol: String = "doc_id",
      textCol: String = "text",
      shingleSize: Int = 3,
      numHashTables: Int = 8,
      threshold: Double = 0.6): DataFrame = {
    val shingled = shingles(docs, textCol, shingleSize)
    val cv = new CountVectorizer()
      .setInputCol("__shingles").setOutputCol("__vec").setBinary(true)
    val model = cv.fit(shingled)
    val vecs = model.transform(shingled).where(nonEmptyVec(col("__vec")))
    val mh = new MinHashLSH()
      .setInputCol("__vec").setOutputCol("__sig")
      .setNumHashTables(numHashTables).setSeed(42L)
    val mhModel = mh.fit(vecs)
    mhModel
      .approxSimilarityJoin(vecs, vecs, threshold, "jaccard_dist")
      .select(
        col(s"datasetA.$idCol").as("id_a"),
        col(s"datasetB.$idCol").as("id_b"),
        round(col("jaccard_dist"), 6).as("jaccard_dist"))
      .where(col("id_a") < col("id_b"))
      .orderBy(col("id_a"), col("id_b"))
  }

  /** Vocabulary-FREE MinHash LSH near-dup pairs — the 100 TB shape of
    * [[minHashPairs]]. The MLlib path fits a `CountVectorizer` vocabulary,
    * i.e. a driver-held dictionary of every distinct shingle — fine at
    * fixture scale, impossible on an open-domain corpus where the shingle
    * space grows with the data. Production web dedup (Lee et al. 2022,
    * RefinedWeb) never materializes a vocabulary: shingles are HASHED, the
    * k-th "permutation" is a k-salted rehash, and the signature is the
    * per-permutation minimum. Everything here is scan-stage column algebra
    * (xxhash64 / transform / aggregate — codegen, no fit, no UDF, no
    * driver state):
    *
    *  1. shingle hashes: distinct word `shingleSize`-grams → `xxhash64`,
    *     EXPLODED to one row per (doc, shingle-hash) — rows, not arrays,
    *     so every downstream hash is a flat codegen expression (a nested
    *     `transform(…, p => aggregate(…))` formulation measured 250×
    *     slower: per-permutation array re-traversal in the interpreter),
    *  2. signature: one groupBy(id) with `numHashes` partial-aggregated
    *     `min(xxhash64(h, p))` columns — long-typed mins keep the whole
    *     aggregate on the codegen HashAggregate path (folding a
    *     `collect_set` into the same agg was measured 4× slower: one
    *     object-typed column demotes all 65 to ObjectHashAggregate), and
    *     map-side combine does the heavy hashing before the shuffle.
    *     Every signature consumer below shares this one exchange
    *     (ReuseExchange) — the scan+hash work runs once,
    *  3. banding: `bands` keys of `numHashes / bands` signature rows each
    *     (hashed to one long) → explode → hot-bucket-guarded self-join on
    *     any equal band — same guard discipline as [[hammingPairs]],
    *  4. verify candidates with the EXACT Jaccard over the distinct
    *     shingle-hash sets (arrays ride the join; collisions at 64 bits
    *     are negligible) and keep pairs ≥ `minJaccard` — precision is
    *     exact, recall is the banding probability 1−(1−j^r)^b (quantified
    *     against the exact ground truth in DedupSpec). The sets are
    *     collected ONLY for ids that survive banding (a semi-join on the
    *     candidate ids ahead of the `collect_set`) — at realistic dup
    *     density that is ~1% of the corpus, so the object-typed
    *     aggregation never touches the other 99%.
    *
    * One shuffle keyed on id for the signatures, one on (band, key) for
    * candidates, one on id for the verify joins; nothing all-pairs,
    * nothing fitted, nothing broadcast but the bounded hot-bucket drop
    * list.
    */
  def minHashPairsHashed(
      docs: DataFrame,
      idCol: String = "doc_id",
      textCol: String = "text",
      shingleSize: Int = 3,
      numHashes: Int = 128,
      bands: Int = 32,
      minJaccard: Double = 0.8,
      maxBucketSize: Long = 1L << 20): DataFrame = {
    require(numHashes % bands == 0,
      s"minHashPairsHashed: numHashes $numHashes must be a multiple of bands $bands")
    // The explicit repartitions are load-bearing: this DAG fans out (sigs
    // feeds banding AND the hot-bucket guard AND both self-join sides;
    // exploded feeds sigs AND the verify sets). Without an Exchange at
    // the fan-out points Spark re-executes the whole scan+tokenize+hash
    // subtree once PER consumer (measured 4×); with them, ReuseExchange
    // runs each map side once and every consumer reads the same shuffle
    // files — and the band self-join inherits (band, band_key)
    // partitioning, so it adds no shuffle of its own.
    val exploded = shingleExplode(docs, idCol, textCol, shingleSize)
      .repartition(col(idCol))
    val banded = bandTable(exploded, idCol, numHashes, bands)
      .repartition(col("band"), col("band_key"))
    pairsFromBanded(exploded, banded, idCol, minJaccard, maxBucketSize)
  }

  /** The band→guard→candidate→exact-verify core of [[minHashPairsHashed]],
    * over PRE-BUILT parts — `exploded` is `(idCol, __h)` and `banded` is
    * `(idCol, band, band_key)` already repartitioned on (band, band_key).
    * Split out so the fused intake path
    * ([[graft.ops.CorpusPipeline.nearDupIntakeBatch]]) can run the
    * within-batch resolve over the ONE materialized explode/signature
    * pass it shares with the store probe and the append, instead of
    * re-deriving all three per stage.
    */
  private[graft] def pairsFromBanded(
      exploded: DataFrame,
      banded: DataFrame,
      idCol: String,
      minJaccard: Double,
      maxBucketSize: Long): DataFrame = {
    val hot = banded.groupBy("band", "band_key")
      .agg(count(lit(1)).as("n"))
      .where(col("n") > maxBucketSize)
      .select("band", "band_key")
    val cold = banded.join(broadcast(hot), Seq("band", "band_key"), "left_anti")
    val cand = cold.select(col(idCol).as("id_a"), col("band"), col("band_key"))
      .join(cold.select(col(idCol).as("id_b"), col("band"), col("band_key")),
        Seq("band", "band_key"))
      .where(col("id_a") < col("id_b"))
      .select("id_a", "id_b")
      .distinct()
    val candIds = cand
      .select(explode(array(col("id_a"), col("id_b"))).as(idCol)).distinct()
    val sets = exploded.join(candIds, Seq(idCol), "left_semi")
      .groupBy(col(idCol)).agg(collect_set(col("__h")).as("__sh"))
    cand
      .join(sets.select(col(idCol).as("id_a"), col("__sh").as("__sha")), Seq("id_a"))
      .join(sets.select(col(idCol).as("id_b"), col("__sh").as("__shb")), Seq("id_b"))
      .withColumn("jaccard",
        size(array_intersect(col("__sha"), col("__shb"))).cast("double") /
          size(array_union(col("__sha"), col("__shb"))))
      .where(col("jaccard") >= minJaccard)
      .select(col("id_a"), col("id_b"), round(col("jaccard"), 6).as("jaccard"))
      .orderBy(col("id_a"), col("id_b"))
  }

  /** Distinct shingle-hash explode `(idCol, __h)` — the shared front of
    * the transient pair search ([[minHashPairsHashed]]) and the at-rest
    * signature store ([[writeMinhash]]/[[nearDupesAgainstStore]]). Empty
    * tokens dropped — same token-set semantics as [[jaccardPairs]], so
    * the exact-jaccard SQL can serve as the oracle at high thresholds.
    */
  private[graft] def shingleExplode(
      docs: DataFrame, idCol: String, textCol: String, shingleSize: Int): DataFrame = {
    val toks = filter(split(lower(trim(col(textCol))), "\\s+"),
      t => length(t) > 0)
    val sh = array_distinct(filter(
      transform(sequence(lit(0), greatest(size(toks) - shingleSize, lit(0))),
        i => when(i + shingleSize <= size(toks),
          xxhash64(concat_ws(" ",
            call_function("slice", toks, i + lit(1), lit(shingleSize)))))),
      h => h.isNotNull))
    docs.select(col(idCol), explode(sh).as("__h"))
  }

  /** Upper-bound bytes of [[shingleExplode]] over `docs` (4× the doc
    * frame's plan estimate) — the one-partition test
    * ([[Layout.fitsOnePartition]]) of every op whose shuffles carry
    * shingle rows: the minhash store's build and appends, the intake
    * batch, and the pair search feeding the component resolves.
    */
  private[graft] def shingleExplodeBytes(docs: DataFrame): BigInt = Layout.planBytes(docs) * 4

  /** `(idCol, __sig ARRAY<LONG>)` minhash signatures via the single
    * array-buffered [[graft.functions.MinHashSig]] aggregate. The
    * previous shape — `numHashes` unrolled `min(xxhash64(__h, p))`
    * columns folded by `array()` — blew Janino's 64 KB method limit at
    * 128 permutations, so every signature pass ran the interpreted
    * aggregate fallback; the typed aggregate is bit-identical in value
    * (same `hashInt(p, hashLong(h, 42))` algebra) and keeps partial
    * aggregation, with one array per doc on the shuffle.
    */
  private[graft] def signatureTable(
      exploded: DataFrame, idCol: String, numHashes: Int): DataFrame = {
    graft.functions.MinHashAggregate.register(exploded.sparkSession)
    exploded.groupBy(col(idCol))
      .agg(call_function("minhash_sig", col("__h"), lit(numHashes)).as("__sig"))
  }

  /** `(idCol, band, band_key)` straight from exploded shingles — the
    * transient path's composition of [[signatureTable]] + [[bandsOfSigs]].
    */
  private[graft] def bandTable(
      exploded: DataFrame, idCol: String, numHashes: Int, bands: Int): DataFrame =
    bandsOfSigs(signatureTable(exploded, idCol, numHashes), idCol, numHashes, bands)

  /** Band keys from a signature table (slice-hashed, `bands` keys of
    * `numHashes / bands` rows each) — the single banding law every
    * minhash consumer shares, split from [[signatureTable]] so store
    * paths can derive bands AND persist the signatures from ONE
    * aggregate pass: a batch banded today collides with a corpus banded
    * last month iff their signatures say so, never because a second
    * implementation drifted.
    */
  private[graft] def bandsOfSigs(
      sigs: DataFrame, idCol: String, numHashes: Int, bands: Int): DataFrame = {
    val r = numHashes / bands
    sigs.select(col(idCol),
      posexplode(transform(sequence(lit(0), lit(bands - 1)),
        b => xxhash64(call_function("slice", col("__sig"), b * lit(r) + 1, lit(r)))))
        .as(Seq("band", "band_key")))
  }

  // --------------------------------------------- at-rest signature store

  // Fixed store-table schemas: the write side pins these shapes, so
  // readers declare them (Layout.readTable) instead of paying a
  // footer-inference driver JOB per read — the intake path reads
  // meta+docs per micro-batch and the probes read bands/shingles/sigs
  // per call.
  private val MetaDdl = "shingle_size INT, num_hashes INT, bands INT"
  private val DocsDdl = "doc_id BIGINT"
  private val BandsDdl = "doc_id BIGINT, band INT, band_key BIGINT"
  private val SigsDdl = "doc_id BIGINT, __sig ARRAY<BIGINT>"
  private val ShinglesDdl = "doc_id BIGINT, __h BIGINT"

  /** The store's (shingle_size, num_hashes, bands) law row — schema'd
    * read shared with the fused intake path in
    * [[graft.ops.CorpusPipeline.nearDupIntakeBatch]].
    */
  private[graft] def readMinhashMeta(
      spark: org.apache.spark.sql.SparkSession,
      path: String): org.apache.spark.sql.Row =
    Layout.readTable(spark, MetaDdl, s"$path/meta")
      .select("shingle_size", "num_hashes", "bands").head

  /** The store's `docs/` append-idempotency ledger — schema'd read shared
    * with the fused intake path.
    */
  private[graft] def readMinhashDocs(
      spark: org.apache.spark.sql.SparkSession, path: String): DataFrame =
    Layout.readTable(spark, DocsDdl, s"$path/docs").select("doc_id")

  /** Persist the corpus's minhash state under `path` — the signature
    * store a continuous-crawl pipeline keeps so each NEW batch is
    * near-dup-checked against the corpus WITHOUT recomputing corpus
    * signatures (the incremental analog of [[dedupAgainstCorpus]]'s
    * exact path):
    *
    *   - `bands/`: `(doc_id, band, band_key)` — the banding join surface
    *     (numHashes/bands longs per doc, ~KB/doc at the defaults: far
    *     smaller than the text);
    *   - `shingles/`: `(doc_id, __h)` distinct shingle hashes — the
    *     exact-jaccard verify side, touched only for banding survivors;
    *   - `docs/`: the append idempotency ledger;
    *   - `meta/`: the (shingle_size, num_hashes, bands) law the batch
    *     side MUST reuse (probes refuse a drifted law loudly).
    */
  def writeMinhash(
      docs: DataFrame,
      path: String,
      idCol: String = "doc_id",
      textCol: String = "text",
      shingleSize: Int = 3,
      numHashes: Int = 128,
      bands: Int = 32): Unit = {
    require(numHashes % bands == 0,
      s"writeMinhash: numHashes $numHashes must be a multiple of bands $bands")
    val spark = docs.sparkSession
    import spark.implicits._
    // a store build whose shingle explode fits one partition
    // (Layout.fitsOnePartition) runs in one partition and plans no
    // exchange; above it, the shingles are exchanged once by doc id
    val single = Layout.onePartitionWhen(
      Layout.fitsOnePartition(spark, shingleExplodeBytes(docs))) _
    val exploded = single(Ann.materializeOnce(single(
      shingleExplode(docs, idCol, textCol, shingleSize)
        .repartition(col(idCol))
        .select(col(idCol).cast("long").as("doc_id"), col("__h")))))
    // ONE signature aggregate feeds both the band surface and the sigs/
    // table (the estimated-verify side) — materialized so neither write
    // re-runs it
    val sigs = single(Ann.materializeOnce(signatureTable(exploded, "doc_id", numHashes)))
    // the five table writes are independent jobs over materialized parts
    // into five disjoint dirs — landed concurrently (guide §2.6). A
    // rebuild is a whole-state replace with no commit marker, so a crash
    // mid-build leaves a partial store exactly as the sequential ordering
    // did; only the wall cost changes (max of the five, not the sum).
    // The docs/ ledger comes from the INPUT ids, not the exploded
    // shingles: a doc whose text yields zero shingles (empty text,
    // fewer tokens than shingleSize) has no banding surface but is
    // still PROCESSED — deriving the ledger from `exploded` would
    // re-ship it on every append forever
    Layout.mapConcurrently[() => Unit, Unit](Seq(
      () => bandsOfSigs(sigs, "doc_id", numHashes, bands)
        .write.mode("overwrite").parquet(s"$path/bands"),
      () => sigs.write.mode("overwrite").parquet(s"$path/sigs"),
      () => exploded.write.mode("overwrite").parquet(s"$path/shingles"),
      () => single(docs).select(col(idCol).cast("long").as("doc_id")).distinct()
        .write.mode("overwrite").parquet(s"$path/docs"),
      () => Seq((shingleSize, numHashes, bands))
        .toDF("shingle_size", "num_hashes", "bands")
        .coalesce(1).write.mode("overwrite").parquet(s"$path/meta")),
      parallelism = 5)(_())
    // rebuild = whole-state replace: a stale batches ledger would
    // silently no-op replayed batch ids against the fresh store
    Layout.clearIndexSidecars(spark, path)
  }

  /** Add a new batch to the store — appends only, doc-idempotent via the
    * ledger (pair with [[Layout.ledgeredBatch]] for streaming). Returns
    * newly stored docs.
    *
    * Crash-window analysis (tables append before the `docs/` ledger; a
    * crash between them makes the replay re-append): every duplicate is
    * an EXACT row copy, and every probe folds them — candidates are
    * `distinct()`, the exact verify aggregates `collect_set`, the
    * estimated verify `dropDuplicates` its sig rows, and the ledger
    * itself reads `distinct()` — so replay-duplicated rows are
    * value-invisible everywhere (the [[graft.ops.Hnsw.appendBatch]]
    * benign-window recipe; a future compact can fold them physically).
    */
  def appendMinhash(
      spark: org.apache.spark.sql.SparkSession,
      newDocs: DataFrame,
      path: String,
      idCol: String = "doc_id",
      textCol: String = "text"): Long = {
    val meta = Layout.readTable(spark, MetaDdl, s"$path/meta")
      .select("shingle_size", "num_hashes", "bands").head
    val existing = Layout.readTable(spark, DocsDdl, s"$path/docs").select("doc_id")
    // an append whose delta shingle explode + docs ledger bytes fit one
    // partition (Layout.fitsOnePartition) plans no exchange
    val single = Layout.onePartitionWhen(Layout.fitsOnePartition(spark,
      Layout.dirBytes(spark, s"$path/docs") + shingleExplodeBytes(newDocs))) _
    // materialize the fresh id set BEFORE any write: it is both the
    // return count and the ledger delta, and its lineage reads the
    // docs/ ledger the append below extends
    val fresh = single(Ann.materializeOnce(single(
      newDocs.withColumn("doc_id", col(idCol))
        .join(existing, Seq("doc_id"), "left_anti"))))
    // the ledger delta comes from the INPUT ids (see writeMinhash): a
    // zero-shingle doc must still be recorded as processed, or every
    // replay re-ships it and the ledger disagrees with the admitted set
    val freshIds = fresh.select("doc_id").distinct()
    val n = freshIds.count()
    if (n == 0) return 0L
    val exploded = single(Ann.materializeOnce(single(
      shingleExplode(fresh, "doc_id", textCol, meta.getInt(0))
        .repartition(col("doc_id")))))
    val sigs = single(Ann.materializeOnce(
      signatureTable(exploded, "doc_id", meta.getInt(1))))
    appendPartsToStore(path, freshIds, exploded, sigs,
      meta.getInt(1), meta.getInt(2))
    n
  }

  /** The four store appends of [[appendMinhash]] over PRE-BUILT,
    * ledger-filtered parts (`freshIds` = `doc_id`s not yet in `docs/`;
    * `exploded`/`sigs` restricted to them). Same crash-window discipline:
    * data tables append BEFORE the `docs/` ledger, so a crash between
    * them replays to exact row copies every probe folds. Ids land as
    * BIGINT whatever the caller's id type, the type the declared readers
    * expect.
    */
  private[graft] def appendPartsToStore(
      path: String,
      freshIds: DataFrame,
      exploded: DataFrame,
      sigs: DataFrame,
      numHashes: Int,
      bands: Int): Unit = {
    def stored(df: DataFrame) = df.withColumn("doc_id", col("doc_id").cast("long"))
    // the three DATA appends are order-free among themselves (the crash
    // law above only orders data-before-LEDGER), so they land
    // concurrently (guide §2.6); the docs/ ledger append stays strictly
    // last — it is what makes a replayed batch skip these ids
    Layout.mapConcurrently[() => Unit, Unit](Seq(
      () => bandsOfSigs(stored(sigs), "doc_id", numHashes, bands)
        .write.mode("append").parquet(s"$path/bands"),
      () => stored(sigs).write.mode("append").parquet(s"$path/sigs"),
      () => stored(exploded).write.mode("append").parquet(s"$path/shingles")),
      parallelism = 3)(_())
    stored(freshIds).write.mode("append").parquet(s"$path/docs")
  }

  /** The stored band surface with tombstoned docs excluded — every store
    * probe reads through this, so a deleted corpus doc can never again
    * count as a near-dup source (shared bounded exclusion,
    * [[Layout.excludeTombstoned]]).
    */
  private def storedBands(
      spark: org.apache.spark.sql.SparkSession, path: String): DataFrame =
    Layout.excludeTombstoned(spark,
      Layout.readTable(spark, BandsDdl, s"$path/bands"),
      s"$path/_tombstones", "doc_id")

  /** Mark corpus docs deleted in the signature store — the
    * [[graft.search.Bm25.deleteDocs]] / [[Hnsw.delete]] stance,
    * completing the store's lifecycle: no stored file is touched; every
    * probe ([[nearDupesAgainstStore]], [[nearDupesAgainstStoreEstimated]]
    * and through them [[graft.ops.CorpusPipeline.nearDupIntakeBatch]])
    * excludes the dead ids' bands, so a REMOVED corpus doc stops
    * suppressing arriving near-twins immediately. A delete is terminal
    * for that doc id until [[compactMinhash]] purges it (the `docs/`
    * ledger still holds the id, so a re-append is dropped) — the same
    * contract as the three index families.
    */
  def deleteMinhash(spark: org.apache.spark.sql.SparkSession,
      path: String, ids: Seq[Long]): Unit =
    markDeleted(spark, path, ids)

  /** Fold tombstones into the store for real: anti-join all four
    * doc-keyed tables (bands/sigs/shingles/docs — scale-safe at any
    * tombstone count, unlike the probe-side bounded exclusion) and swap
    * each via the shared rename-aside protocol. After compact the store
    * is value-identical to a from-scratch [[writeMinhash]] over the
    * surviving docs, and the dead ids may be re-appended (they left the
    * ledger). Tombstone files are snapshot-spent — a delete issued while
    * the compact runs survives for the next one. Returns
    * (docs before, docs after).
    */
  def compactMinhash(
      spark: org.apache.spark.sql.SparkSession, path: String): (Long, Long) = {
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sessionState.newHadoopConf())
    val tombFiles = Layout.snapshotTombstoneFiles(fs, s"$path/_tombstones")
    val dead = Layout.deadIds(spark, tombFiles, "doc_id")
    val tableDdl = Seq("bands" -> BandsDdl, "sigs" -> SigsDdl,
      "shingles" -> ShinglesDdl, "docs" -> DocsDdl)
    val counts = Layout.replaceDirs(fs, tableDdl.map(t => s"$path/${t._1}")) { stages =>
    // ONE ledger pass yields both counts (`dead` is distinct, so each
    // docs row matches at most one dead row: count(*) is the old two-job
    // `count()` and count(__dead) the old semi-join count)
    val cnt = Layout.readTable(spark, DocsDdl, s"$path/docs")
      .join(dead.withColumn("__dead", lit(1)), Seq("doc_id"), "left")
      .agg(count(lit(1)), count("__dead")).head
    val before = cnt.getLong(0)
    val after = before - cnt.getLong(1)
    require(after > 0,
      s"compactMinhash: every doc at $path is tombstoned — delete the " +
        "store directory instead of compacting to empty")
    // stage all four rewrites concurrently (independent reads into four
    // disjoint stages — guide §2.6); visibility flips only at the
    // sequential swaps after
    Layout.mapConcurrently(tableDdl.zip(stages), 4) { case ((t, ddl), staged) =>
      Layout.readTable(spark, ddl, s"$path/$t")
        .join(dead, Seq("doc_id"), "left_anti")
        .write.mode("overwrite").parquet(staged)
    }
    (before, after)
    }
    Layout.spendTombstoneFiles(fs, s"$path/_tombstones", tombFiles)
    counts
  }

  /** Small-file maintenance for the minhash store — the
    * [[graft.ops.Ann.compactIvfLists]] analog this layout needs once a
    * streaming intake feeds it: every [[appendMinhash]] (and every
    * intake batch through
    * [[graft.ops.CorpusPipeline.nearDupIntakeBatch]]) leaves one file
    * set per batch in each of the four tables, and a year of
    * micro-batches is a footer-read tax on every probe's band join and
    * verify scan. Each table is folded INDEPENDENTLY by the size-tiered
    * [[Layout.compactSmallFiles]] (merge set from the file LISTING — only
    * size-peer small files are rewritten; settled files move by rename,
    * and a table with nothing to merge is not touched). Rows are
    * preserved verbatim: the `_tombstones` sidecar lives at `path/`,
    * outside the four table dirs, so probe-side exclusion is unaffected
    * and [[compactMinhash]] remains the pass that folds deletes for
    * real. Single-writer, same rename-aside window as every compact
    * here. Returns per-table (filesBefore, filesAfter) for tables that
    * were rewritten.
    */
  def compactMinhashFiles(
      spark: org.apache.spark.sql.SparkSession,
      path: String,
      targetBytes: Long = 128L << 20): Map[String, (Int, Int)] =
    Seq("bands", "sigs", "shingles", "docs").flatMap { t =>
      // size-tiered (round-14): the settled seed files hop by rename;
      // only the per-batch small appends (size peers) rewrite
      val st = Layout.compactSmallFiles(spark, s"$path/$t", targetBytes)
      if (st.filesAfter < st.filesBefore) Some(t -> (st.filesBefore, st.filesAfter))
      else None
    }.toMap

  /** Near-dup pairs of `batch` against the PERSISTED corpus store:
    * `(batch_id, corpus_id, jaccard)` with jaccard ≥ `minJaccard`.
    *
    * The batch's shingles/signatures/bands compute in ONE transient pass
    * (the batch is the small side by construction); candidates come from
    * a band-key join of batch bands against the stored bands (hot
    * stored buckets guarded + dropped, the [[minHashPairsHashed]]
    * discipline), and only candidate ids' stored shingle sets are read
    * back for the exact-jaccard verify — so the corpus-sized tables are
    * touched only through the banding join and a semi-joined verify
    * read, never re-shingled. Precision is exact; recall is the banding
    * probability, same law as the transient path.
    *
    * Scale note, stated honestly: the verify read is a columnar SCAN of
    * `shingles/` (the semi-join filters after the scan — candidate ids
    * are arbitrary, so no partition layout prunes them). That is the
    * price of EXACT jaccard precision, and it is a narrow two-column
    * scan (~16 bytes/shingle), but at the point where it dominates the
    * probe, the standard trade is to verify by SIGNATURE-estimated
    * jaccard instead (the stored band source is already the signature) —
    * approximate precision for a corpus-scan-free probe. This operator
    * keeps the exact contract; callers at that scale should band tighter
    * (more bands × fewer rows) so fewer candidates reach the verify.
    */
  def nearDupesAgainstStore(
      spark: org.apache.spark.sql.SparkSession,
      batch: DataFrame,
      path: String,
      idCol: String = "doc_id",
      textCol: String = "text",
      minJaccard: Double = 0.8,
      maxBucketSize: Long = 1L << 20): DataFrame = {
    val meta = Layout.readTable(spark, MetaDdl, s"$path/meta")
      .select("shingle_size", "num_hashes", "bands").head
    val exploded = Ann.materializeOnce(
      shingleExplode(batch, idCol, textCol, meta.getInt(0))
        .repartition(col(idCol)).select(col(idCol).as("batch_id"), col("__h")))
    val batchBands = bandTable(exploded, "batch_id", meta.getInt(1), meta.getInt(2))
    storeProbeExact(spark, path, exploded, batchBands, minJaccard, maxBucketSize)
  }

  /** Stored band surface with degenerate (hot) buckets dropped, computed
    * O(touched) not O(corpus): a hot stored bucket only matters if THIS
    * batch probes it, so the size aggregate is restricted to the batch's
    * own (band, band_key) set — tiny broadcast semi-join, map-side filter
    * on the band scan, only touched groups shuffle. The probe pays ~one
    * extra read of the bands table its candidate join scans anyway, never
    * the corpus-wide groupBy the earlier guard paid (which is why intake
    * used to opt out, leaving the candidate join exposed to blowup on
    * every micro-batch). `maxBucketSize <= 0` still skips entirely for
    * pipelines that precompute the drop list offline.
    */
  private def guardHotBuckets(
      stored: DataFrame,
      batchBands: DataFrame,
      maxBucketSize: Long): DataFrame =
    if (maxBucketSize <= 0) stored
    else {
      val probed = batchBands.select("band", "band_key").distinct()
      val hot = stored
        .join(broadcast(probed), Seq("band", "band_key"), "left_semi")
        .groupBy("band", "band_key")
        .agg(count(lit(1)).as("n"))
        .where(col("n") > maxBucketSize)
        .select("band", "band_key")
      stored.join(broadcast(hot), Seq("band", "band_key"), "left_anti")
    }

  /** The band-join + exact-verify core of [[nearDupesAgainstStore]], over
    * PRE-BUILT batch parts — `exploded` is `(batch_id, __h)` and
    * `batchBands` is `(batch_id, band, band_key)`. Split out so the fused
    * intake path ([[graft.ops.CorpusPipeline.nearDupIntakeBatch]]) shares
    * ONE materialized explode/signature pass across the store probe, the
    * within-batch resolve and the append.
    */
  private[graft] def storeProbeExact(
      spark: org.apache.spark.sql.SparkSession,
      path: String,
      exploded: DataFrame,
      batchBands: DataFrame,
      minJaccard: Double,
      maxBucketSize: Long): DataFrame = {
    val stored = storedBands(spark, path)
    val guarded = guardHotBuckets(stored, batchBands, maxBucketSize)
    val cand = batchBands
      .join(guarded
          .select(col("doc_id").as("corpus_id"), col("band"), col("band_key")),
        Seq("band", "band_key"))
      .where(col("batch_id") =!= col("corpus_id"))
      .select("batch_id", "corpus_id")
      .distinct()
    val corpusSets = Layout.readTable(spark, ShinglesDdl, s"$path/shingles")
      .join(cand.select(col("corpus_id").as("doc_id")).distinct(),
        Seq("doc_id"), "left_semi")
      .groupBy("doc_id").agg(collect_set(col("__h")).as("__shc"))
    val batchSets = exploded
      .join(cand.select(col("batch_id")).distinct(), Seq("batch_id"), "left_semi")
      .groupBy("batch_id").agg(collect_set(col("__h")).as("__shb"))
    cand
      .join(batchSets, Seq("batch_id"))
      .join(corpusSets.select(col("doc_id").as("corpus_id"), col("__shc")),
        Seq("corpus_id"))
      .withColumn("jaccard",
        size(array_intersect(col("__shb"), col("__shc"))).cast("double") /
          size(array_union(col("__shb"), col("__shc"))))
      .where(col("jaccard") >= minJaccard)
      .select(col("batch_id"), col("corpus_id"), round(col("jaccard"), 6).as("jaccard"))
      .orderBy(col("batch_id"), col("corpus_id"))
  }

  /** The corpus-scan-FREE probe: jaccard estimated from the stored
    * SIGNATURES (matching minhash positions / numHashes — the unbiased
    * MinHash estimator) instead of the exact shingle-set verify. The
    * verify side reads `sigs/` — ONE narrow row per corpus doc, ~1000×
    * fewer rows than the shingle store — so this is the probe to run
    * when [[nearDupesAgainstStore]]'s exact-verify scan dominates.
    * Trade, stated plainly: precision is approximate (estimator stddev
    * ≈ sqrt(j(1−j)/numHashes), ~0.035 at j=0.8 with 128 hashes);
    * the estimate itself is hash-deterministic, so the output is
    * golden-pinnable and run-invariant. Returns
    * `(batch_id, corpus_id, est_matches, est_jaccard)` with
    * est_jaccard ≥ `minJaccardEst`.
    */
  def nearDupesAgainstStoreEstimated(
      spark: org.apache.spark.sql.SparkSession,
      batch: DataFrame,
      path: String,
      idCol: String = "doc_id",
      textCol: String = "text",
      minJaccardEst: Double = 0.8,
      maxBucketSize: Long = 1L << 20): DataFrame = {
    val meta = Layout.readTable(spark, MetaDdl, s"$path/meta")
      .select("shingle_size", "num_hashes", "bands").head
    val numHashes = meta.getInt(1)
    val batchSigs = Ann.materializeOnce(
      signatureTable(
        shingleExplode(batch, idCol, textCol, meta.getInt(0))
          .repartition(col(idCol)),
        idCol, numHashes)
        .select(col(idCol).as("batch_id"), col("__sig").as("__sigb")))
    val batchBands = bandsOfSigs(
      batchSigs.select(col("batch_id"), col("__sigb").as("__sig")),
      "batch_id", numHashes, meta.getInt(2))
    val stored = storedBands(spark, path)
    val guarded = guardHotBuckets(stored, batchBands, maxBucketSize)
    val cand = batchBands
      .join(guarded
          .select(col("doc_id").as("corpus_id"), col("band"), col("band_key")),
        Seq("band", "band_key"))
      .where(col("batch_id") =!= col("corpus_id"))
      .select("batch_id", "corpus_id")
      .distinct()
    // dropDuplicates: an appendMinhash replay inside its crash window
    // (tables appended, docs ledger not yet) leaves EXACT duplicate sig
    // rows; the exact probe is immune (collect_set), this one must fold
    // them or emit duplicate pairs. Duplicates are always exact row
    // copies (same doc → same signature), so any copy is the right one.
    val corpusSigs = Layout.readTable(spark, SigsDdl, s"$path/sigs")
      .join(cand.select(col("corpus_id").as("doc_id")).distinct(),
        Seq("doc_id"), "left_semi")
      .dropDuplicates("doc_id")
      .select(col("doc_id").as("corpus_id"), col("__sig").as("__sigc"))
    // matching-position count via the compact codegen'd sig_match_count
    // loop (a per-position when/sum unroll — the previous shape — gets
    // fused into the upstream distinct's hash-agg output method by
    // whole-stage codegen and blows Janino's 64 KB limit at 128 perms,
    // dropping the stage to interpreted; a zip_with/aggregate HOF would
    // pay allocation per pair)
    graft.functions.MinHashAggregate.register(spark)
    cand
      .join(batchSigs, Seq("batch_id"))
      .join(corpusSigs, Seq("corpus_id"))
      .withColumn("est_matches",
        call_function("sig_match_count", col("__sigb"), col("__sigc")))
      .withColumn("est_jaccard",
        round(col("est_matches").cast("double") / numHashes, 6))
      .where(col("est_jaccard") >= minJaccardEst)
      .select(col("batch_id"), col("corpus_id"),
        col("est_matches"), col("est_jaccard"))
      .orderBy(col("batch_id"), col("corpus_id"))
  }

  private def shingles(docs: DataFrame, textCol: String, n: Int): DataFrame = {
    val tok = new RegexTokenizer()
      .setInputCol(textCol).setOutputCol("__toks")
      .setPattern("\\s+").setToLowercase(true)
    val ng = new NGram().setN(n).setInputCol("__toks").setOutputCol("__shingles")
    ng.transform(tok.transform(docs))
  }

  private val nonEmptyVec = udf { v: MLVector => v.numNonzeros > 0 }

  // ------------------------------------------------------------- SimHash

  /** 64-bit SimHash of the token multiset, as the native codegen
    * expression [[graft.functions.SimHash64]]: one static call per row —
    * one pass over the tokens, 64 integer vote counters. Deterministic:
    * token hash is Spark's own xxhash64 law (seed 42, null token → the
    * seed), and the expression is bit-identical to the
    * `transform`/`aggregate` HOF formulation it replaced (pinned in
    * DedupSpec) for every non-null token array. ONE deliberate
    * deviation: a NULL array now hashes to NULL (standard null
    * propagation) where the HOF emitted 0 as a `when(null > 0)`
    * artifact — which silently collided null-text docs with empty-text
    * docs at signature 0. The old shape ran 64 interpreted `aggregate` passes per
    * document: Spark higher-order functions evaluate in the expression
    * interpreter, NOT in whole-stage codegen, the exact shape the
    * round-5 minhash rewrite measured at 57×. Runs per-document in `d6`
    * and per-event in [[CorpusPipeline.streamingIntake]].
    */
  def simhash(tokens: Column): Column = call_function("simhash64", tokens)

  /** The pre-round-9 interpreted-HOF formulation, kept ONLY as the
    * bit-equality twin for DedupSpec/ScaleSmoke A/Bs of [[simhash]].
    */
  private[graft] def simhashHof(tokens: Column): Column = {
    val hashes = transform(tokens, t => xxhash64(t))
    val bitVotes = transform(
      sequence(lit(0), lit(63)),
      i => {
        val votes = aggregate(
          hashes, lit(0L),
          (acc, h) =>
            acc + when(call_function("shiftright", h, i).bitwiseAND(1) === 1, 1L)
              .otherwise(-1L))
        when(votes > 0, call_function("shiftleft", lit(1L), i)).otherwise(lit(0L))
      })
    aggregate(bitVotes, lit(0L), (acc, b) => acc.bitwiseOR(b))
  }

  /** docs → (id, simhash, banded keys). Pairs within Hamming distance
    * `maxHamming` are found by joining on any equal band, then verified
    * with `bit_count(xor)` — bucketed join, no all-pairs. Recall guarantee
    * needs `maxHamming + 1` bands (pigeonhole: ≤ h differing bits over
    * h+1 bands ⇒ at least one band untouched), so the band layout adapts
    * to the requested distance (capped at 16 bands of ≥4 bits).
    *
    * Hot-bucket guard (`maxBucketSize`): the band self-join is quadratic in
    * the largest band bucket, and a degenerate signature (mass empty or
    * near-identical docs — e.g. a boilerplate page crawled a million times)
    * concentrates one bucket until the join is effectively all-pairs. Band
    * buckets holding more than `maxBucketSize` ids are dropped before the
    * join — the analog of [[jaccardPairs]]'s `maxDocFreq` posting-list
    * cutoff; the drop list is bounded by corpus_size / maxBucketSize, so it
    * stays broadcast-small at any corpus size. RECALL NOTE: a pair is lost
    * only if EVERY band it shares is hot, so the pigeonhole guarantee
    * weakens to "some shared band is cold". Mass exact duplicates (the
    * usual cause of a hot bucket) belong to [[dedupExact]] first — run it
    * before near-dup detection and the guard almost never fires.
    */
  def simhashPairs(
      docs: DataFrame,
      idCol: String = "doc_id",
      textCol: String = "text",
      maxHamming: Int = 3,
      maxBucketSize: Long = 1L << 20): DataFrame = {
    val withSig = docs.select(
      col(idCol),
      simhash(split(lower(trim(col(textCol))), "\\s+")).as("sig"))
    hammingPairs(withSig, idCol, "sig", maxHamming, maxBucketSize)
  }

  /** Pairs of 64-bit signatures within Hamming distance `maxHamming` —
    * the band join + exact-verify core shared by [[simhashPairs]] and
    * [[graft.multimodal.Multimodal.phashPairs]]. See [[simhashPairs]] for
    * the banding/pigeonhole and hot-bucket-guard discussion; this is that
    * code, hoisted so any 64-bit signature scheme can use it.
    */
  def hammingPairs(
      sigs: DataFrame,
      idCol: String,
      sigCol: String,
      maxHamming: Int,
      maxBucketSize: Long = 1L << 20): DataFrame = {
    val banded = hammingBanded(sigs, idCol, sigCol, maxHamming)
    val hot = banded.groupBy("band", "band_key")
      .agg(count(lit(1)).as("n"))
      .where(col("n") > maxBucketSize)
      .select("band", "band_key")
    val cold = banded.join(broadcast(hot), Seq("band", "band_key"), "left_anti")
    val a = cold.select(col(idCol).as("id_a"), col("sig").as("sig_a"),
      col("band"), col("band_key"))
    val b = cold.select(col(idCol).as("id_b"), col("sig").as("sig_b"),
      col("band"), col("band_key"))
    a.join(b, Seq("band", "band_key"))
      .where(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        bit_count(col("sig_a").bitwiseXOR(col("sig_b"))).cast("long").as("hamming"))
      .distinct()
      .where(col("hamming") <= maxHamming)
      .orderBy(col("id_a"), col("id_b"))
  }

  /** (id, sig, band, band_key) — the banded view [[hammingPairs]] joins on.
    * Band layout: `maxHamming + 1` bands so the pigeonhole guarantee holds
    * (≤ h differing bits over h+1 bands ⇒ at least one band untouched).
    */
  private[graft] def hammingBanded(
      sigs: DataFrame, idCol: String, sigCol: String, maxHamming: Int): DataFrame = {
    require(maxHamming >= 0 && maxHamming <= 15,
      s"maxHamming must be in [0, 15] for guaranteed banding recall, got $maxHamming")
    val nBands = maxHamming + 1
    val width = 64 / nBands // last band absorbs the remainder bits
    def bandKey(b: Int): Column = {
      val w = if (b == nBands - 1) 64 - width * (nBands - 1) else width
      val mask = if (w >= 64) -1L else (1L << w) - 1L
      call_function("shiftright", col("sig"), lit(b * width)).bitwiseAND(mask)
    }
    sigs.select(col(idCol), col(sigCol).as("sig"))
      .select(col(idCol), col("sig"),
        posexplode(array((0 until nBands).map(bandKey): _*))
          .as(Seq("band", "band_key")))
  }

  /** The band buckets [[hammingPairs]] WOULD drop at this `maxBucketSize` —
    * one row per hot bucket: (band, band_key, n). The guard's observable:
    * an empty result means the guard is inactive and pigeonhole recall is
    * exact; a non-empty one quantifies the blind spot (a pair is lost only
    * when EVERY band it shares is hot, and every id in a listed bucket is
    * a potential party to a lost pair). Callers that cannot tolerate
    * silent truncation check this first — typically by running
    * [[dedupExact]] on the ids in hot buckets (mass exact duplicates are
    * the usual cause) and re-running the near-dup pass on the survivors.
    */
  def hammingHotBuckets(
      sigs: DataFrame,
      idCol: String,
      sigCol: String,
      maxHamming: Int,
      maxBucketSize: Long = 1L << 20): DataFrame =
    hammingBanded(sigs, idCol, sigCol, maxHamming)
      .groupBy("band", "band_key")
      .agg(count(lit(1)).as("n"))
      .where(col("n") > maxBucketSize)
      .orderBy(col("band"), col("band_key"))

  /** [[hammingHotBuckets]] over simhash signatures — the drop-metric
    * companion of [[simhashPairs]], same signature construction.
    */
  def simhashHotBuckets(
      docs: DataFrame,
      idCol: String = "doc_id",
      textCol: String = "text",
      maxHamming: Int = 3,
      maxBucketSize: Long = 1L << 20): DataFrame = {
    val withSig = docs.select(
      col(idCol),
      simhash(split(lower(trim(col(textCol))), "\\s+")).as("sig"))
    hammingHotBuckets(withSig, idCol, "sig", maxHamming, maxBucketSize)
  }

  // ------------------------------------- exact-substring (span) dedup

  /** Exact duplicated-SPAN removal — the ExactSubstr half of Lee et al.
    * 2022 ("Deduplicating Training Data Makes Language Models Better",
    * arXiv:2107.06499): any token span of length ≥ `windowTokens` that
    * occurs more than once in the corpus keeps ONE occurrence and is
    * excised everywhere else — finer than document dedup (d1/d7: whole
    * documents) and stronger than the df signal (d11: reports, does not
    * rewrite). The paper builds a corpus suffix array; this re-expresses
    * the same contract relationally:
    *
    *  1. tokenize (whitespace; rebuild normalizes to single spaces),
    *  2. hash every `windowTokens`-token rolling window (md5 of the
    *     joined window — per-doc column algebra, scan-stage),
    *  3. rank window occurrences per hash — ONE shuffle keyed on the
    *     hash, the corpus-wide analog of the suffix-array sort; rank 1
    *     (md5-least doc, then first position) is the keeper, every later
    *     occurrence is a removal start,
    *  4. a token is excised iff a removal start lies within the
    *     preceding `windowTokens` positions — a bounded rows-frame
    *     window max per doc, no range join,
    *  5. rebuild surviving tokens in order (same pattern as
    *     [[lineDedup]]).
    *
    * A span of L ≥ W duplicated tokens is covered by ALL its length-W
    * subwindows, so the whole span is excised from non-keeper docs and
    * within-doc repeats keep their first occurrence. With 3+ documents
    * sharing overlapping but non-identical spans the keeper choice is
    * per-window, so slightly more than the minimal text can be excised —
    * never text that does not also survive elsewhere (the paper's
    * guarantee; the relational trade is documented here, tested in
    * DedupSpec).
    *
    * Scale: windows ≈ tokens, so stage 3 shuffles one (hash, doc, pos)
    * triple per corpus token — the same O(corpus) the suffix array
    * sorts, with Spark's shuffle machinery instead of external-memory
    * SA construction. Stages 4–5 shuffle on the doc id. No broadcast of
    * anything corpus-sized.
    */
  def exactSubstrDedup(
      docs: DataFrame,
      windowTokens: Int = 50,
      idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    require(windowTokens >= 2, s"exactSubstrDedup: windowTokens $windowTokens < 2")
    val W = windowTokens
    // empty/whitespace-only docs are dropped (a quality gate owns them);
    // everything else flows through even when shorter than one window
    val toks = docs
      .where(trim(coalesce(col(textCol), lit(""))) =!= "")
      .select(col(idCol), split(trim(col(textCol)), "\\s+").as("__toks"))
    // (id, pos, token) — every position, 0-based
    val positions = toks.select(col(idCol),
      posexplode(col("__toks")).as(Seq("pos", "token")))
    // (id, pos, whash) — one row per rolling window start
    val windows = toks
      .where(size(col("__toks")) >= W)
      .select(col(idCol), posexplode(
        transform(sequence(lit(0), size(col("__toks")) - W),
          // injective window encoding: hash each token to a fixed-width
          // value first, THEN join — a raw concat_ws(sep, tokens) is not
          // injective (a token may contain the separator, e.g. binary-ish
          // corpora), which would alias distinct windows and excise
          // spurious spans
          i => md5(concat_ws(",",
            transform(call_function("slice", col("__toks"), i + lit(1), lit(W)),
              t => xxhash64(t).cast("string")))
            .cast("binary"))))
        .as(Seq("pos", "whash")))
    val starts = windows
      .withColumn("__rk", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("whash"))
          .orderBy(md5(col(idCol).cast("string")), col(idCol), col("pos"))))
      .where(col("__rk") > 1) // every non-keeper occurrence starts an excision
      .select(col(idCol), col("pos"), lit(1).as("__rm"))
      .distinct() // several hashes can mark the same start
    val coverW = org.apache.spark.sql.expressions.Window
      .partitionBy(col(idCol)).orderBy(col("pos"))
      .rowsBetween(-(W - 1), 0)
    positions
      .join(starts, Seq(idCol, "pos"), "left")
      .withColumn("__cut",
        coalesce(max(col("__rm")).over(coverW) === 1, lit(false)))
      .groupBy(col(idCol))
      .agg(
        count(lit(1)).as("n_tokens"),
        coalesce(sum(when(col("__cut"), lit(1L))), lit(0L)).as("n_removed"),
        array_join(
          transform(
            array_sort(collect_list(
              when(!col("__cut"), struct(col("pos"), col("token"))))),
            s => s.getField("token")),
          " ").as(textCol))
      .select(col(idCol), col(textCol), col("n_tokens"), col("n_removed"))
  }

  // ------------------------------------------------- exact n-gram Jaccard

  /** Exact token-set Jaccard pairs ≥ `minSim` via inverted-index join:
    * explode distinct tokens, self-join on token, count co-occurrences,
    * Jaccard = |∩| / (|A|+|B|−|∩|). `maxDocFreq` drops stop-tokens whose
    * posting lists would otherwise quadratically dominate — the standard
    * scale guard for similarity self-joins.
    */
  def jaccardPairs(
      docs: DataFrame,
      idCol: String = "doc_id",
      textCol: String = "text",
      minSim: Double = 0.8,
      maxDocFreq: Long = Long.MaxValue): DataFrame = {
    val toks = docs.select(col(idCol).as("id"),
      explode(array_distinct(split(lower(trim(col(textCol))), "\\s+"))).as("tok"))
      .where(length(col("tok")) > 0)
    val filtered =
      if (maxDocFreq == Long.MaxValue) toks
      else {
        // Anti-join against the *drop* list (df > cutoff): stop tokens are
        // bounded by corpus_size / maxDocFreq, so the list stays broadcast-
        // small at any corpus size — the keep list is vocabulary-sized and
        // would not.
        val stop = toks.groupBy("tok").agg(count(lit(1)).as("df"))
          .where(col("df") > maxDocFreq)
        toks.join(broadcast(stop.select("tok")), Seq("tok"), "left_anti")
      }
    // sizes over the SAME (df-filtered) token space as the intersections —
    // mixing spaces understates similarity whenever the cutoff is active
    val sizes = filtered.groupBy("id").agg(count(lit(1)).as("sz"))
    val co = filtered.as("x").join(filtered.as("y"), Seq("tok"))
      .where(col("x.id") < col("y.id"))
      .groupBy(col("x.id").as("id_a"), col("y.id").as("id_b"))
      .agg(count(lit(1)).as("inter"))
    co
      .join(sizes.withColumnRenamed("id", "id_a").withColumnRenamed("sz", "sz_a"), "id_a")
      .join(sizes.withColumnRenamed("id", "id_b").withColumnRenamed("sz", "sz_b"), "id_b")
      .withColumn("jaccard",
        col("inter").cast("double") / (col("sz_a") + col("sz_b") - col("inter")))
      .where(col("jaccard") >= minSim)
      .select(col("id_a"), col("id_b"), round(col("jaccard"), 6).as("jaccard"))
      .orderBy(col("id_a"), col("id_b"))
  }

  /** Resolve near-dup candidate pairs into a deduplicated corpus: drop
    * every doc that appears as the higher id of any pair (greedy
    * keep-lowest — the standard single-pass approximation of
    * connected-component dedup; exact CC needs iterative min-propagation).
    * One anti join on the pair set.
    */
  def dropNearDups(
      docs: DataFrame,
      pairs: DataFrame,
      idCol: String = "doc_id"): DataFrame = {
    val losers = pairs.select(col("id_b").as(idCol)).distinct()
    docs.join(losers, Seq(idCol), "left_anti")
  }

  /** Upper-bound bytes of one row of [[connectedComponents]]' label and
    * edge frames (two longs plus row overhead). */
  private val CcEdgeRowBytes = 48L

  /** Exact connected components over the near-dup candidate pair graph:
    * returns `(id, comp)` where `comp` is the minimum id reachable through
    * any chain of pairs. Iterative min-label propagation — one keyed
    * shuffle per round, converging in O(cluster diameter) rounds, which
    * for near-dup graphs is small (dup clusters are dense); each round is
    * localCheckpoint'ed so the plan/lineage stays flat. For adversarial
    * long-chain graphs substitute the large-star/small-star O(log n)
    * variant; the per-round join shape is the same.
    *
    * vs [[dropNearDups]]: greedy keep-lowest drops only ids that appear as
    * `id_b`, so pairs {(1,3),(2,3)} keep BOTH 1 and 2 even though they are
    * transitively near each other through 3. Component resolution keeps
    * exactly one representative per transitive cluster.
    */
  def connectedComponents(
      pairs: DataFrame,
      maxIter: Int = 20,
      smallGraphCollect: Long = 0L): DataFrame = {
    // symmetrize in ONE pass over pairs: the union-of-swapped formulation
    // references the pairs subtree twice and evaluates the whole upstream
    // pipeline (banding, verify joins, ...) twice per materialization —
    // measured as 2x this query's wall-clock on minhash-derived pairs
    val edges = pairs
      .select(explode(array(
        struct(col("id_a").as("src"), col("id_b").as("dst")),
        struct(col("id_b").as("src"), col("id_a").as("dst")))).as("e"))
      .select(col("e.src").as("src"), col("e.dst").as("dst"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // Hybrid small-graph path (opt-in): each distributed round costs a
    // fixed multi-stage job (measured ~0.9 s/round on an 8k-edge graph —
    // scheduling, not data), so when the SYMMETRIZED edge set fits the
    // threshold, a driver union-find resolves the same min-label
    // components in microseconds. At 100 TB the pair set blows past any
    // sane threshold and the distributed loop below runs; near-dup edge
    // sets are pairs-after-banding, often thousands of rows even for
    // huge corpora, which is exactly the regime this serves. Bounded by
    // construction: the collect is refused-by-skip past the threshold.
    // full count, not limit-count: limit short-circuits and leaves the
    // persist unfilled, so any later consumer would recompute the whole
    // pairs pipeline a second time (measured 2x the query's wall-clock);
    // count() fills the cache the loop needs anyway — and the count is
    // also what sizes the distributed loop below
    val m = edges.count()
    if (smallGraphCollect > 0) {
      if (m <= smallGraphCollect) {
        val es = edges.collect().map(r => (r.getLong(0), r.getLong(1)))
        val parent = scala.collection.mutable.Map.empty[Long, Long]
        def find(x: Long): Long = {
          var r = x
          while (parent.getOrElse(r, r) != r) r = parent.getOrElse(r, r)
          var c = x // path compression
          while (parent.getOrElse(c, c) != r) {
            val next = parent.getOrElse(c, c); parent(c) = r; c = next
          }
          r
        }
        es.foreach { case (a, b) =>
          parent.getOrElseUpdate(a, a); parent.getOrElseUpdate(b, b)
          val (ra, rb) = (find(a), find(b))
          if (ra != rb) { // min root wins -> min-label components
            if (ra < rb) parent(rb) = ra else parent(ra) = rb
          }
        }
        val labels = parent.keys.toSeq.sorted.map(id => (id, find(id)))
        edges.unpersist()
        val spark = pairs.sparkSession
        import spark.implicits._
        return labels.toDF("id", "comp")
      }
    }
    // each round frees the previous round's checkpoint (Ann.release) —
    // without it, every round's label set would stay pinned in executor
    // storage for the life of the session
    // the rounds run in one partition while the counted edge set fits
    // one (Layout.fitsOnePartition): the labels' checkpoints keep it, so
    // no round plans an exchange; min-label propagation is
    // partition-invariant, so labels are identical either way
    val single = Layout.onePartitionWhen(Layout.fitsOnePartition(
      pairs.sparkSession, BigInt(m) * CcEdgeRowBytes)) _
    val loopEdges = single(edges)
    try {
      var labels = single(loopEdges.select(col("src").as("id")).distinct()
        .withColumn("comp", col("id"))
        .localCheckpoint(true))
      var converged = false
      var i = 0
      while (!converged && i < maxIter) {
        val nbrMin = loopEdges
          .join(labels.select(col("id").as("dst"), col("comp").as("dcomp")), "dst")
          .groupBy(col("src").as("id"))
          .agg(min(col("dcomp")).as("ncomp"))
        // The convergence marker rides along in the same job as the label
        // update (a prior version re-joined updated×labels per round just
        // to detect change — one extra shuffle for information the update
        // row already carries). The update is a left join of every label
        // with its neighbors' minimum, computed as one aggregate over
        // their union: a shuffle join of two one-partition sides would
        // exchange both (see HostGraph's sumByNode)
        val updated = single(labels.select(col("id"), col("comp"), col("comp").as("__old"))
          .union(nbrMin.select(col("id"), col("ncomp"), lit(null).cast(labels.schema("comp").dataType)))
          .groupBy("id")
          .agg(min(col("comp")).as("comp"), max(col("__old")).as("__old"))
          .select(col("id"), col("comp"), (col("comp") < col("__old")).as("__changed"))
          .localCheckpoint(true))
        converged = updated.where(col("__changed")).isEmpty
        Ann.release(labels)
        labels = updated.drop("__changed")
        i += 1
      }
      require(converged,
        s"connectedComponents did not converge in $maxIter rounds — raise " +
          "maxIter (cluster diameter exceeds it) or use a star-contraction variant")
      labels
    } finally edges.unpersist()
  }

  /** Exact connected components by alternating large-star / small-star
    * contraction (Kiveris et al., "Connected Components in MapReduce and
    * Beyond", SoCC'14) — the adversarial-chain escape hatch
    * [[connectedComponents]]'s scaladoc promises: min-label propagation
    * converges in O(component diameter) rounds, which a pathological
    * million-node chain turns into a million shuffles; star contraction
    * halves tree heights every alternation and converges in O(log n)
    * rounds on ANY graph shape.
    *
    * Per round (each a distinct + one keyed aggregate join, same shuffle
    * shape as a min-propagation round):
    *  - large-star: every node attaches its STRICTLY LARGER neighbors to
    *    its minimum neighborhood label m(u) = min(Γ(u) ∪ u);
    *  - small-star: every node attaches its ≤ neighbors and itself to m(u).
    * The fixed point is a forest of depth-1 stars rooted at each
    * component's minimum id — the same (id, comp=min reachable id)
    * contract as [[connectedComponents]] (equality asserted in DedupSpec;
    * registered as `d10_cc_star` against the same DuckDB recursive-CTE
    * oracle family as d9).
    *
    * Each round localCheckpoints (flat lineage) and frees the previous
    * round's blocks; convergence is an edge-set fixed-point check
    * (count equality + one-sided except).
    */
  def connectedComponentsStar(pairs: DataFrame, maxIter: Int = 30): DataFrame = {
    val nodes = pairs.select(col("id_a").as("id"))
      .union(pairs.select(col("id_b").as("id"))).distinct()
    // canonical undirected edges as (u = max, v = min); both star steps
    // preserve this orientation because they always attach to a minimum
    var edges = pairs
      .where(col("id_a") =!= col("id_b"))
      .select(greatest(col("id_a"), col("id_b")).as("u"),
        least(col("id_a"), col("id_b")).as("v"))
      .distinct()
      .localCheckpoint(true)
    // large-star: m over the SYMMETRIZED neighborhood; emitted (bigger
    // neighbor, m) keeps (u=max, v=min) since v > u >= m
    def largeStar(e: DataFrame): DataFrame = {
      val sym = e.select(col("u"), col("v"))
        .union(e.select(col("v").as("u"), col("u").as("v")))
      val m = sym.groupBy("u").agg(min(col("v")).as("mv"))
        .select(col("u"), least(col("u"), col("mv")).as("m"))
      sym.where(col("v") > col("u"))
        .join(m, Seq("u"))
        .where(col("v") =!= col("m"))
        .select(col("v").as("u"), col("m").as("v"))
        .distinct()
    }
    // small-star: neighbors in canonical orientation are exactly the ≤
    // ones; attach them and u itself to m = min(neighbors) (all < u)
    def smallStar(e: DataFrame): DataFrame = {
      val m = e.groupBy("u").agg(min(col("v")).as("m"))
      val moved = e.join(m, Seq("u"))
        .where(col("v") =!= col("m"))
        .select(col("v").as("u"), col("m").as("v"))
      moved.union(m.select(col("u"), col("m").as("v")))
        .where(col("u") =!= col("v"))
        .distinct()
    }
    var converged = false
    var i = 0
    // NOT run in one partition: a 1-partition plan measured 50% slower
    // here (the per-round count + exceptAll convergence actions and the
    // alternation's joins want the parallel rounds), unlike the
    // min-label loop in connectedComponents
    while (!converged && i < maxIter) {
      val next = smallStar(largeStar(edges)).localCheckpoint(true)
      converged = next.count() == edges.count() &&
        next.exceptAll(edges).isEmpty
      Ann.release(edges)
      edges = next
      i += 1
    }
    require(converged,
      s"connectedComponentsStar did not converge in $maxIter rounds " +
        "(theoretical bound is O(log n) alternations — raise maxIter)")
    nodes
      .join(edges.select(col("u").as("id"), col("v").as("root")), Seq("id"), "left")
      .select(col("id"), coalesce(col("root"), col("id")).as("comp"))
  }

  /** Near-dup resolution by exact transitive closure: keep one
    * representative (the minimum id) per connected component of the pair
    * graph. Docs not in any pair pass through untouched.
    *
    * The min-label path reads `docs` and `pairs` in one partition while
    * the docs' shingle explode fits one ([[Layout.fitsOnePartition]]):
    * every frame of the pair search is bounded by it, while the pair
    * graph's own join-product estimate is useless. The `star` path keeps
    * the session's width.
    */
  def dropNearDupsCC(
      docs: DataFrame,
      pairs: DataFrame,
      idCol: String = "doc_id",
      maxIter: Int = 20,
      star: Boolean = false): DataFrame = {
    // both algorithms return identical (id, comp=min id) labels; `star`
    // picks the O(log n)-round contraction for graphs whose diameter may
    // exceed maxIter propagation rounds (see connectedComponentsStar),
    // whose rounds measured 50% slower at a 1-partition plan
    val single = Layout.onePartitionWhen(
      !star && Layout.fitsOnePartition(docs.sparkSession, shingleExplodeBytes(docs))) _
    val labels =
      if (star) connectedComponentsStar(pairs, maxIter)
      else connectedComponents(single(pairs), maxIter)
    val losers = labels
      .where(col("id") =!= col("comp"))
      .select(col("id").as(idCol))
    single(docs).join(losers, Seq(idCol), "left_anti")
  }

  /** Quality-aware near-dup resolution: one keeper per connected
    * component, chosen as the HIGHEST-`scoreCol` member (ties → smallest
    * id) instead of the smallest id. Min-id keepers are arbitrary;
    * production dedup keeps the best copy — the cleanest extraction of a
    * page crawled five ways, the highest-quality revision of a forked
    * document (the RefinedWeb/FineWeb resolve rule).
    *
    * Emits EVERY doc with its component, score, and keep decision —
    * singletons keep themselves — so the caller can audit what a drop
    * decision cost, not just receive the survivors. Reads `docs` and
    * `pairs` in one partition while the docs' shingle explode fits one
    * (see [[dropNearDupsCC]]).
    */
  def resolveNearDupsBy(
      docs: DataFrame,
      pairs: DataFrame,
      idCol: String = "doc_id",
      scoreCol: String = "quality",
      maxIter: Int = 20,
      smallGraphCollect: Long = 0L): DataFrame = {
    val single = Layout.onePartitionWhen(
      Layout.fitsOnePartition(docs.sparkSession, shingleExplodeBytes(docs))) _
    val labels = connectedComponents(single(pairs), maxIter, smallGraphCollect)
    val labeled = single(docs)
      .select(col(idCol), col(scoreCol))
      .join(labels.withColumnRenamed("id", idCol), Seq(idCol), "left")
      .withColumn("comp", coalesce(col("comp"), col(idCol)))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("comp"))
      .orderBy(col(scoreCol).desc, col(idCol))
    labeled
      .withColumn("__rn", row_number().over(w))
      .withColumn("kept", col("__rn") === 1)
      .drop("__rn")
  }

  // -------------------------------------------- embedding cosine near-dup

  /** Top-N most-similar embedding pairs by cosine — the inspection variant
    * of [[cosinePairsExact]] (useful when no pair clears a dedup threshold).
    *
    * Routing: at or under `maxExactRows` this is the exact broadcast
    * product. Past the cap it does NOT refuse — it routes through
    * [[Ann.cosinePairsRp]]'s band-bucketed candidates at `bandMinCos`
    * (exact cosine is re-verified inside, so precision is exact) and takes
    * the global top-N. The banded route can only miss a top pair whose
    * cosine is below `bandMinCos` or that RP-LSH fails to band together —
    * and RP recall is highest exactly where top pairs live (high cosine),
    * so the routed answer matches the exact product in practice (asserted
    * on the fixture in DedupSpec). The default cap is deliberately small:
    * a 1M-row broadcast product is ~5.5×10¹¹ cosine evaluations — a job
    * that never finishes is worse than one that takes the banded route.
    */
  def cosineTopPairs(
      emb: DataFrame,
      idCol: String = "vec_id",
      vecCol: String = "embedding",
      topN: Int = 20,
      maxExactRows: Int = 1 << 16,
      bandMinCos: Double = 0.7): DataFrame = {
    val small = emb.limit(maxExactRows + 1).count() <= maxExactRows
    val scored =
      if (small) {
        val a = emb.select(col(idCol).as("id_a"), col(vecCol).as("va"))
        val b = emb.select(col(idCol).as("id_b"), col(vecCol).as("vb"))
        a.join(broadcast(b), col("id_a") < col("id_b"))
          .withColumn("cos", VectorFunctions.cosineSimilarity(col("va"), col("vb")))
          .select(col("id_a"), col("id_b"), round(col("cos"), 6).as("cos"))
      } else {
        // rp-band candidates → exact re-rank; the caller's cap rides along
        // so rp's own fallback cannot route back to the broadcast product
        // this branch just ruled out
        graft.ops.Ann.cosinePairsRp(emb, idCol, vecCol, minCos = bandMinCos,
          maxExactRows = maxExactRows)
      }
    scored
      .orderBy(col("cos").desc, col("id_a"), col("id_b"))
      .limit(topN)
  }

  /** Embedding near-dup pairs with cosine ≥ `minCos`. Exact variant: a
    * self equi-join on an LSH-free coarse key is impossible in general, so
    * this is the *small-side* exact path (broadcast one side); the scale
    * path is [[Ann.cosinePairsLsh]] (random-projection bucketed).
    */
  def cosinePairsExact(
      emb: DataFrame,
      idCol: String = "vec_id",
      vecCol: String = "embedding",
      minCos: Double = 0.95,
      maxExactRows: Int = 1 << 16): DataFrame = {
    requireSmall(emb, maxExactRows, "cosinePairsExact")
    cosinePairsExactUnchecked(emb, idCol, vecCol, minCos).orderBy(col("id_a"), col("id_b"))
  }

  /** [[cosinePairsExact]]'s pairs in no particular order, without its
    * size guard: a caller that promises an order sorts. */
  private[ops] def cosinePairsExactUnchecked(
      emb: DataFrame, idCol: String, vecCol: String, minCos: Double): DataFrame = {
    val a = emb.select(col(idCol).as("id_a"), col(vecCol).as("va"))
    val b = emb.select(col(idCol).as("id_b"), col(vecCol).as("vb"))
    a.join(broadcast(b), col("id_a") < col("id_b"))
      .withColumn("cos", VectorFunctions.cosineSimilarity(col("va"), col("vb")))
      .where(col("cos") >= minCos)
      .select(col("id_a"), col("id_b"), round(col("cos"), 6).as("cos"))
  }

  /** The exact cosine joins are O(n²): refuse inputs past `maxExactRows`
    * instead of silently launching a year-long job on a full corpus. The
    * probe scans at most `maxExactRows + 1` rows (never the whole table).
    */
  private def requireSmall(emb: DataFrame, maxExactRows: Int, op: String): Unit =
    require(emb.limit(maxExactRows + 1).count() <= maxExactRows,
      s"$op is the exact all-pairs path and the input exceeds " +
        s"maxExactRows=$maxExactRows; use Dedup.cosinePairsAuto or " +
        s"Ann.cosinePairsLsh for the bucketed scale path (or raise the cap)")

  // ------------------------------------------------- semantic (SemDeDup)

  /** Within-cluster embedding near-dup pairs — the SemDeDup candidate
    * generator (Abbas et al. 2023, "SemDeDup: Data-efficient learning at
    * web-scale through semantic deduplication", arXiv:2303.09540). The
    * corpus is coarse-clustered with the sampled k-means quantizer
    * ([[Ann.buildIvfSampled]] — centroids are KBs of parameters, fit on a
    * bounded deterministic sample), then pairs are scored ONLY inside each
    * cluster: one shuffle on `centroid_id`, and the quadratic term is
    * bounded by the largest cluster, never the corpus. Clusters are the
    * data-adaptive analog of [[simhashPairs]]'s band buckets; like every
    * bucketed candidate scheme the output is a strict SUBSET of the exact
    * pairs (candidates are verified with the true cosine — precision is
    * exact; recall loses only pairs the quantizer splits across clusters,
    * which at SemDeDup thresholds ≥0.9 are rare because near-identical
    * vectors land in the same cell; quantified in DedupSpec).
    *
    * Hot-cluster guard (`maxClusterSize`): a degenerate corpus (mass
    * identical embeddings) concentrates one cluster until the within-
    * cluster join is all-pairs; clusters past the cap are dropped from the
    * pair search — same discipline as the simhash band guard and jaccard's
    * document-frequency cutoff. Run [[dedupExact]] first and the guard
    * almost never fires.
    */
  def semanticPairs(
      emb: DataFrame,
      idCol: String = "vec_id",
      vecCol: String = "embedding",
      minCos: Double = 0.95,
      nClusters: Int = 16,
      maxClusterSize: Long = 1L << 20,
      sampleCap: Int = 65536,
      seed: Long = 42L): DataFrame = {
    val (assigned, _) =
      Ann.buildIvfSampled(emb, idCol, vecCol, nClusters, 20, sampleCap, seed)
    semanticPairsAssigned(assigned, idCol, vecCol, minCos, maxClusterSize)
  }

  private def semanticPairsAssigned(
      assigned: DataFrame, idCol: String, vecCol: String,
      minCos: Double, maxClusterSize: Long): DataFrame = {
    // drop list, not keep list: oversized clusters are bounded by
    // corpus_size / maxClusterSize, so the anti-join side stays broadcast-
    // small at any corpus size
    val hot = assigned.groupBy("centroid_id").agg(count(lit(1)).as("n"))
      .where(col("n") > maxClusterSize)
      .select("centroid_id")
    val cold = assigned.join(broadcast(hot), Seq("centroid_id"), "left_anti")
    val a = cold.select(col("centroid_id"), col(idCol).as("id_a"), col(vecCol).as("va"))
    val b = cold.select(col("centroid_id"), col(idCol).as("id_b"), col(vecCol).as("vb"))
    a.join(b, Seq("centroid_id"))
      .where(col("id_a") < col("id_b"))
      .withColumn("cos", VectorFunctions.cosineSimilarity(col("va"), col("vb")))
      .where(col("cos") >= minCos)
      .select(col("id_a"), col("id_b"), round(col("cos"), 6).as("cos"))
      .orderBy(col("id_a"), col("id_b"))
  }

  /** SemDeDup end-to-end: cluster → within-cluster pairs → exact connected
    * components → keep ONE representative per semantic-duplicate component.
    * `keepFarthestFromCentroid = true` is the paper's keeper rule (§3: keep
    * the example with LOWEST cosine similarity to its cluster centroid —
    * the most "atypical" member, which they found preserves downstream
    * accuracy best); `false` keeps the minimum id (the convention of
    * [[dropNearDupsCC]], handy when ids encode arrival order). Both rules
    * are deterministic (ties broken by id).
    */
  def semanticDedup(
      emb: DataFrame,
      idCol: String = "vec_id",
      vecCol: String = "embedding",
      minCos: Double = 0.95,
      nClusters: Int = 16,
      keepFarthestFromCentroid: Boolean = true,
      maxClusterSize: Long = 1L << 20,
      sampleCap: Int = 65536,
      seed: Long = 42L): DataFrame = {
    val (assigned, centroids) =
      Ann.buildIvfSampled(emb, idCol, vecCol, nClusters, 20, sampleCap, seed)
    val pairs =
      semanticPairsAssigned(assigned, idCol, vecCol, minCos, maxClusterSize)
    val labels = connectedComponents(pairs)
    val keepers =
      if (!keepFarthestFromCentroid)
        labels.groupBy("comp").agg(min(col("id")).as("keep"))
      else {
        // centroid table is nClusters rows — broadcast; struct ordering is
        // lexicographic, so min_by picks (lowest centroid-sim, then lowest id)
        val csim = assigned
          .join(broadcast(centroids), Seq("centroid_id"))
          .select(col(idCol).as("id"),
            VectorFunctions.cosineSimilarity(col(vecCol), col("centroid")).as("csim"))
        labels.join(csim, Seq("id"))
          .groupBy("comp")
          .agg(min_by(col("id"), struct(col("csim"), col("id"))).as("keep"))
      }
    // keepers is one row per dup COMPONENT — not broadcast-bounded on a
    // dup-heavy corpus; both sides key on comp, let AQE pick the strategy
    val losers = labels.join(keepers, Seq("comp"))
      .where(col("id") =!= col("keep"))
      .select(col("id").as(idCol))
    emb.join(losers, Seq(idCol), "left_anti")
  }

  /** [[cosinePairsAuto]]'s default cutover: the most rows the exact
    * all-pairs branch takes before banding. */
  private[graft] val MaxExactPairRows = 10000

  /** Size-guarded cosine near-dup pairs — the path callers should default
    * to. Exact O(n²) broadcast join only while the input provably fits
    * (`maxExactRows`); above that it auto-escalates to the AND/OR-amplified
    * RP-LSH banding ([[Ann.cosinePairsRp]], recall ≥ 0.9 asserted vs the
    * exact path in AnnSpec) so the all-pairs plan can never reach a
    * full-size corpus. The size probe is `limit(max+1).count()` — it scans
    * at most `maxExactRows + 1` rows, never the whole table.
    *
    * The two branches agree on every pair the banding recalls (candidates
    * are verified with the exact cosine); the exact branch is the recall
    * oracle (see AnnSpec).
    */
  def cosinePairsAuto(
      emb: DataFrame,
      idCol: String = "vec_id",
      vecCol: String = "embedding",
      minCos: Double = 0.95,
      maxExactRows: Int = MaxExactPairRows,
      nTables: Int = 12,
      nProjs: Int = 3): DataFrame =
    // one probe job decides the branch; the exact path is entered unchecked
    // so the same probe is not paid twice
    cosinePairsCounted(emb, emb.limit(maxExactRows + 1).count(), idCol,
      vecCol, minCos, maxExactRows, nTables, nProjs)
      .orderBy(col("id_a"), col("id_b"))

  /** [[cosinePairsAuto]] for a caller that already knows `emb`'s row
    * count (a driver-pinned serving batch): the branch is decided without
    * the probe job. The exact branch's pairs come in no particular order
    * (the serving resolve aggregates them; no range sort is paid).
    */
  private[graft] def cosinePairsCounted(
      emb: DataFrame,
      nRows: Long,
      idCol: String,
      vecCol: String,
      minCos: Double,
      maxExactRows: Int = MaxExactPairRows,
      nTables: Int = 12,
      nProjs: Int = 3): DataFrame = {
    if (nRows <= maxExactRows) cosinePairsExactUnchecked(emb, idCol, vecCol, minCos)
    // the caller's cap rides along: rp's own selectivity-probe fallback
    // must not route back to a broadcast product the caller already ruled
    // out by escalating here
    else graft.ops.Ann.cosinePairsRp(emb, idCol, vecCol, minCos, nTables, nProjs,
      maxExactRows = maxExactRows)
  }
}
