package graft.search

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.ops.Layout.readTable

/** Okapi BM25 keyword retrieval over an inverted-index table, plus
  * reciprocal-rank-fusion for hybrid (keyword + vector) search.
  *
  * The reference system retrieves purely by embedding similarity
  * (app.py:133-153); production RAG stacks pair that dense channel with a
  * sparse keyword channel and fuse ranks — BM25 (Robertson et al., TREC-3)
  * is the standard sparse scorer and RRF (Cormack et al., SIGIR 2009) the
  * standard fusion rule. Both are implemented as plain DataFrame algebra:
  *
  *   - The index is a TABLE (`postings(doc_id, term, tf, dl)` +
  *     `terms(term, df)`), not a service: built with two keyed shuffles,
  *     persisted as term-bucketed Parquet ([[writeIndex]]/[[loadIndex]]),
  *     incrementally appendable ([[appendIndex]]) — the same
  *     "index is a DataFrame" stance as [[graft.index.VectorIndex]].
  *   - Scoring a query batch touches ONLY postings holding the queries'
  *     terms: the per-term stats for the batch are collected onto the
  *     query side and broadcast, so the big postings table never
  *     shuffles — a broadcast-hash semi-join prunes it at scan stage.
  *   - Per-(query, doc) scores are exact integer algebra: each term's
  *     partial score is quantized to a 1e-6 grid (same recipe as DSIR /
  *     the bigram LM gate), so the sum is associative and the oracle can
  *     reproduce it bit-for-bit regardless of partitioning.
  *   - Top-k per query runs through the bounded-heap aggregate
  *     ([[graft.functions.TopKByDist]]): map-side k-heaps, the shuffle
  *     carries partitions×k rows, never the full scored candidate set.
  *
  * At 100 TB the postings table is the big side; everything query-sized
  * (terms, idf, rank lists) is driver-bounded by construction: a query
  * batch of q queries with ≤t terms each contributes q·t broadcast rows.
  */
object Bm25 extends graft.ops.IndexLifecycle {
  protected def lifecycleIdCol: String = "doc_id"


  /** Lowercase word tokens; the same closed token law the oracle reruns
    * (`[^a-z0-9]+` split on the lowercased text, empty tokens dropped,
    * null text → no tokens), evaluated by the codegen'd
    * [[graft.functions.WordTokens]] kernel.
    */
  def tokensCol(text: Column): Column =
    graft.functions.TextExpressions.wordTokens(text)

  /** Inverted index.
    *
    * @param postings one row per (doc_id, term): raw term frequency `tf`
    *                 and the document length `dl` denormalized onto every
    *                 row (the "norms" a Lucene segment stores per doc) so
    *                 scoring needs no join back to a corpus-sized table.
    *                 A loaded at-rest index additionally carries the
    *                 `bucket` partition column.
    * @param terms    one row per distinct term with its document frequency
    * @param nDocs    corpus document count (scalar)
    * @param avgDl    mean document length in tokens (scalar)
    * @param termBuckets when the index came from disk ([[loadIndex]]): the
    *                 term-bucket fan-out of the postings layout — probes
    *                 then join on (bucket, term) so partition pruning can
    *                 restrict the scan to the query terms' buckets
    */
  final case class Index(
      postings: DataFrame,
      terms: DataFrame,
      nDocs: Long,
      avgDl: Double,
      termBuckets: Option[Int] = None)

  /** Build the inverted index: ONE postings-sized keyed shuffle. `dl` is
    * computed on the un-exploded doc row (`size(tokens)`) and carried
    * through the explode, so the tf aggregate — grouping on
    * (doc_id, term, dl), where dl is functionally dependent on doc_id —
    * is the only exchange the postings need; the doc-partitioned window
    * this used to run (whose ClusteredDistribution(doc_id) a
    * HashPartitioning(doc_id, term) does NOT satisfy, costing a second
    * postings-sized Exchange) is gone. Plan shape pinned in ExplainAudit
    * (`b1`: no Window in the build) and Bm25Spec.
    * The term → df aggregate and the scalar (N, avgdl) aggregate read the
    * postings subtree, term-keyed — second keyed shuffle.
    */
  def buildIndex(docs: DataFrame, idCol: String, textCol: String): Index = {
    // materialized once: the (N, avgdl) scalar probe below is an action,
    // and terms/df plus every later probe read this same subtree — without
    // the checkpoint the tokenize+aggregate build re-runs per consumer
    // (the maybeBroadcast double-execution class, measured −30% there)
    val postings = graft.ops.Ann.materializeOnce(rawPostings(docs, idCol, textCol))
    val terms = postings.groupBy("term").agg(count(lit(1)).as("df"))
    // exactly two scalars cross the driver — bounded by construction
    val stats = postings
      .agg(count_distinct(col("doc_id")).as("n"), sum("tf").as("tot"))
      .head()
    val n = stats.getLong(0)
    Index(postings, terms, n, if (n == 0) 0.0 else stats.getLong(1).toDouble / n)
  }

  /** The in-memory postings of [[buildIndex]], aggregated on their
    * natural keys — see [[buildIndex]] for the single-exchange shape.
    */
  private[graft] def rawPostings(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docTerms(docs, idCol, textCol)
      .groupBy("doc_id", "dl", "term")
      .agg(count(lit(1)).as("tf"))
      .select("doc_id", "term", "tf", "dl")

  /** One `(doc_id, dl, term)` row per token occurrence, each doc
    * tokenized ONCE: `dl` is `size` of the same token array the explode
    * reads. The explode is the OUTER form (its empty-doc null row is
    * dropped right after) because Spark's `InferFiltersFromGenerate`
    * copies a plain explode's input into a `size(tokens) > 0` filter
    * below the projection, which evaluates the tokenizer a second time
    * per doc.
    */
  private def docTerms(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs
      .select(
        col(idCol).cast("long").as("doc_id"),
        tokensCol(col(textCol)).as("__toks"))
      .select(
        col("doc_id"),
        size(col("__toks")).cast("long").as("dl"),
        explode_outer(col("__toks")).as("term"))
      .where(col("term").isNotNull)

  /** The at-rest postings `(doc_id, term, tf, dl, bucket)` of
    * [[writeIndex]] and [[appendIndex]], behind ONE postings-sized
    * exchange that is already the write's bucket alignment: token rows
    * are hash-partitioned on `(bucket, salt)` (salt = doc hash mod
    * `filesPerBucket`), and the tf aggregate groups on
    * `(bucket, salt, doc_id, dl, term)` — a superset of the partitioning
    * keys, so it needs no exchange of its own (bucket and salt are
    * functions of term and doc_id: the values are the natural-key
    * aggregate's). Every partition holds whole `(bucket, salt)` groups,
    * so the partitioned write lands bucket-pure files, at most
    * `filesPerBucket` per bucket — exactly one at 1. The partition count
    * is `buckets × filesPerBucket`, capped at `width`. At `width` 1 the
    * caller passes `docs` in one partition ([[graft.ops.Layout.onePartitionWhen]])
    * and no exchange is planned: the build writes its bucket files from
    * one task instead of paying a task (conf deserialization, committer
    * set-up) per bucket, and AQE no stage job.
    */
  private[graft] def bucketedPostings(
      docs: DataFrame, idCol: String, textCol: String,
      termBuckets: Int, filesPerBucket: Int, width: Int): DataFrame = {
    val keyed = docTerms(docs, idCol, textCol)
      .withColumn("bucket", bucketCol(col("term"), termBuckets))
      .withColumn("__salt", pmod(xxhash64(col("doc_id")), lit(filesPerBucket)))
    (if (width == 1) keyed
     else keyed.repartition(math.min(termBuckets * filesPerBucket, width),
       col("bucket"), col("__salt")))
      .groupBy("bucket", "__salt", "doc_id", "dl", "term")
      .agg(count(lit(1)).as("tf"))
      .select("doc_id", "term", "tf", "dl", "bucket")
  }

  // ------------------------------------------------------------- at rest

  /** Term-bucket assignment — the partition key of the at-rest postings
    * layout. Hash-derived (xxhash64 mod nb), so it needs no vocabulary
    * coordination and an append lands its postings in the same buckets as
    * the original build.
    */
  private[graft] def bucketCol(term: Column, nb: Int): Column =
    pmod(xxhash64(term), lit(nb.toLong)).cast("int")

  /** Driver-side bucket ids for literal query terms (evaluated through the
    * SAME Catalyst expression as [[bucketCol]], so they cannot drift from
    * the written layout). No job: the projection over the local relation
    * folds on the driver, and the ids dedupe here (a `distinct()` would
    * plan an Aggregate, two AQE jobs per [[restrictToTerms]]).
    */
  def bucketsFor(spark: org.apache.spark.sql.SparkSession,
      terms: Seq[String], nb: Int): Seq[Int] = {
    import spark.implicits._
    if (terms.isEmpty) Seq.empty
    else terms.toDF("term").select(bucketCol(col("term"), nb).as("b"))
      .collect().map(_.getInt(0)).distinct.toSeq.sorted
  }

  /** Driver-side mirror of [[tokensCol]]'s token law (lowercase,
    * `[^a-z0-9]+` split) for literal query strings — the token alphabet is
    * ASCII, where JVM and Catalyst lowercasing agree.
    */
  def tokenize(text: String): Seq[String] =
    Option(text).getOrElse("").toLowerCase(java.util.Locale.ROOT)
      .split("[^a-z0-9]+").filter(_.nonEmpty).toSeq

  /** Persist the index under `path` as four Parquet tables — the same
    * "index is a table" stance as [[graft.index.VectorIndex]]:
    *
    *   - `postings/` partitioned by `(seg, bucket)` with `bucket` =
    *     hash(term) mod `termBuckets`, so a probe for a known term set
    *     is STATIC partition pruning over the touched bucket
    *     directories;
    *   - `terms/` per-segment (term, df) rows, re-aggregated on load
    *     (vocabulary-sized, far below postings);
    *   - `docs/` one (doc_id, dl) row per indexed doc — the append
    *     path's idempotency ledger;
    *   - `stats/` one (n_docs, tot_dl) row per segment, so load derives
    *     (N, avgdl) from segment-count-sized data instead of
    *     re-aggregating the corpus.
    *
    * Every write/append lands as a SEGMENT (`seg=N` partitions across
    * all four tables) whose `_commits/N` marker is written LAST — the
    * Lucene commit law. Readers see only committed segments, so a crash
    * anywhere between the four table writes leaves an invisible orphan
    * (reclaimed by [[compactIndex]]) and a replayed append re-ships the
    * docs cleanly as a NEW segment instead of silently doubling
    * tf/df/stats — the multi-table crash window the previous layout
    * documented away is closed structurally.
    *
    * Build once, probe forever: the 5M-doc tier in PERF.md measures the
    * build dominating end-to-end latency while probes take seconds — this
    * is the amortization boundary.
    */
  def writeIndex(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      path: String,
      termBuckets: Int = 64,
      filesPerBucket: Int = 1): Index = {
    require(termBuckets > 0, s"termBuckets must be positive, got $termBuckets")
    requireFilesPerBucket(filesPerBucket)
    val spark = docs.sparkSession
    import spark.implicits._
    // a build whose token explode fits one partition
    // (Layout.fitsOnePartition) reads `docs` in one partition and plans
    // no exchange: one job per query instead of one per shuffle stage;
    // above it, the bucket-aligned postings exchange takes the session's
    // width up to buckets × filesPerBucket
    val one = graft.ops.Layout.fitsOnePartition(spark, tokenExplodeBytes(docs))
    val width = if (one) 1 else spark.sessionState.conf.numShufflePartitions
    // ONE tokenize pass and ONE postings-sized exchange feed all four
    // tables, materialized once (the checkpoint keeps the
    // bucket-aligned partitioning the postings write needs), or every
    // write below re-runs the corpus build (the double-eval trap).
    // Postings write shape: the exchange is doc-salted, so every
    // output file is bucket-pure, at most filesPerBucket per bucket,
    // from at most buckets × filesPerBucket write tasks. At sf0.1 this
    // was 448 → 14 files and −25% write time; on object stores / HDFS,
    // bounding file count is what keeps the metadata layer alive at
    // 100 TB.
    val single = graft.ops.Layout.onePartitionWhen(one) _
    val bucketed = single(graft.ops.Ann.materializeOnce(bucketedPostings(
      single(docs), idCol, textCol, termBuckets, filesPerBucket, width)))
    // ONE postings aggregation feeds the docs/ table AND (N, tot_dl):
    // sum(tf) over a doc's postings is its token count (tf counts the
    // same token array dl sizes), so the stats fold rides the docs
    // ledger (doc-count-sized) instead of paying a second
    // postings-sized count_distinct pass
    val docsTbl = single(graft.ops.Ann.materializeOnce(
      bucketed.select("doc_id", "dl").distinct()))
    val stats = docsTbl.agg(count(lit(1)).as("n"), sum("dl").as("tot")).head()
    val n = stats.getLong(0)
    val totDl = if (n == 0) 0L else stats.getLong(1)
    // meta rides the same concurrent wave as the four segment tables
    // (guide §2.6 overlap): the commit marker below is still the LAST
    // write, so readers never see a half-built index — same crash
    // window as the sequential ordering, 5 small jobs' wall ≈ the max
    // instead of the sum
    graft.ops.Layout.mapConcurrently[() => Unit, Unit](Seq(
      () => writeSegment(spark, path, 0L, bucketed, docsTbl,
        n, totDl, overwrite = true),
      () => Seq(termBuckets).toDF("term_buckets")
        .coalesce(1).write.mode("overwrite").parquet(s"$path/meta")),
      parallelism = 2)(_())
    // every table is written: free both materializations now, not when
    // ContextCleaner next sees them collected (a build's checkpoints
    // would otherwise stay pinned into the next build)
    Seq(bucketed, docsTbl).foreach(graft.ops.Ann.release)
    resetCommits(spark, path, Seq(0L))
    // a rebuild replaces the WHOLE index state: the previous life's
    // _tombstones sidecar and batches ledger go with it, or loadIndex
    // would silently exclude fresh docs whose ids were once deleted
    // and appendIndexBatch would no-op previously used batch ids
    graft.ops.Layout.clearIndexSidecars(spark, path)
    // the driver already holds every load scalar: no read-back of meta
    // and stats (loadIndex's scan)
    committedIndex(spark, path, Seq(0L), termBuckets, n, totDl)
  }

  // ------------------------------------------------- segment commit law

  // Fixed table schemas: the writer side above pins these shapes, so
  // readers declare them (graft.ops.Layout.readTable) instead of
  // inferring — the at-rest probe batteries reload these tables on every
  // load/maintenance pass (measured: loadIndex 7 jobs → 3, 0.38 → 0.22 s
  // warm). `seg`/`bucket` are partition-directory values.
  private val MetaDdl = "term_buckets INT"
  private val PostingsDdl =
    "doc_id BIGINT, term STRING, tf BIGINT, dl BIGINT, seg INT, bucket INT"
  private val TermsDdl = "term STRING, df BIGINT, seg INT"
  private val DocsDdl = "doc_id BIGINT, dl BIGINT, seg INT"
  private val StatsDdl = "n_docs BIGINT, tot_dl BIGINT, seg INT"

  // Byte estimates for the writers' one-partition test
  // (graft.ops.Layout.fitsOnePartition), metadata-only upper bounds:
  // the token explode of a doc frame carries at most 3× its bytes, and
  // an at-rest posting row is ~32 B.
  private def tokenExplodeBytes(docs: DataFrame): BigInt = graft.ops.Layout.planBytes(docs) * 3
  private val PostingRowBytes = 32L

  private def requireFilesPerBucket(filesPerBucket: Int): Unit =
    require(filesPerBucket > 0, s"filesPerBucket must be positive, got $filesPerBucket")

  private def commitsPath(path: String) = s"$path/_commits"

  /** Committed segment ids, ascending — the reader's view boundary. */
  private[graft] def committedSegs(
      spark: org.apache.spark.sql.SparkSession, path: String): Seq[Long] = {
    val cp = new org.apache.hadoop.fs.Path(commitsPath(path))
    val fs = cp.getFileSystem(spark.sessionState.newHadoopConf())
    if (!fs.exists(cp)) Seq.empty
    else fs.listStatus(cp).toSeq.map(_.getPath.getName)
      .filter(n => n.nonEmpty && n.forall(_.isDigit)).map(_.toLong).sorted
  }

  /** Write the `_commits/<seg>` marker — the LAST write of every
    * appended segment.
    */
  private def commitSeg(
      spark: org.apache.spark.sql.SparkSession, path: String, seg: Long): Unit = {
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sessionState.newHadoopConf())
    fs.mkdirs(new org.apache.hadoop.fs.Path(commitsPath(path)))
    fs.create(new org.apache.hadoop.fs.Path(
      s"${commitsPath(path)}/$seg")).close()
  }

  /** Write the marker set `segs` into the `_commits` stage `staged`. */
  private def stageCommits(
      fs: org.apache.hadoop.fs.FileSystem, staged: String,
      segs: Seq[Long]): Unit = {
    fs.mkdirs(new org.apache.hadoop.fs.Path(staged))
    segs.foreach(s =>
      fs.create(new org.apache.hadoop.fs.Path(staged, s.toString)).close())
  }

  /** Replace the WHOLE committed-marker set in one rename-aside swap
    * ([[graft.ops.Layout.replaceDirs]] — atomic-enough: readers see
    * either the old set or the new set, never a partial one): writeIndex's
    * reset to `{0}`. [[compactIndex]] and [[mergeSegments]] stage their
    * marker set ([[stageCommits]]) inside their own replacement — the
    * merge's flip retires its sources and admits the merge result at
    * once (committing them separately would open a window where probes
    * double-count every merged doc).
    */
  private def resetCommits(
      spark: org.apache.spark.sql.SparkSession, path: String,
      segs: Seq[Long]): Unit = {
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sessionState.newHadoopConf())
    graft.ops.Layout.replaceDirs(fs, Seq(commitsPath(path))) {
      case Seq(staged) => stageCommits(fs, staged, segs)
    }
  }

  /** Next segment id: strictly above every committed marker AND every
    * existing (possibly orphaned, uncommitted) `seg=` partition dir, so
    * a replayed append never writes into an orphan's directory.
    */
  private def nextSegId(
      spark: org.apache.spark.sql.SparkSession, path: String): Long = {
    val pp = new org.apache.hadoop.fs.Path(s"$path/postings")
    val fs = pp.getFileSystem(spark.sessionState.newHadoopConf())
    val dirSegs =
      if (!fs.exists(pp)) Seq.empty
      else fs.listStatus(pp).toSeq.map(_.getPath.getName)
        .filter(_.startsWith("seg=")).map(_.stripPrefix("seg="))
        .filter(n => n.nonEmpty && n.forall(_.isDigit)).map(_.toLong)
    ((committedSegs(spark, path) ++ dirSegs) :+ -1L).max + 1
  }

  /** The four table writes of one segment (`postings` materialized and
    * bucket-aligned; `docsTbl` the pre-materialized `(doc_id, dl)` ledger
    * rows; marker NOT written here — callers commit last). The writes land
    * CONCURRENTLY (guide §2.6): they are independent jobs over already
    * materialized inputs targeting four disjoint directories, and the
    * `_commits/<seg>` marker — the only thing that makes them visible —
    * is written by the caller strictly after all four return, so the
    * crash window is identical to the sequential ordering (an invisible
    * orphan either way) while the wall cost of the three small ledger
    * writes hides under the postings write.
    */
  private def writeSegment(
      spark: org.apache.spark.sql.SparkSession,
      path: String,
      seg: Long,
      postings: DataFrame,
      docsTbl: DataFrame,
      nDocs: Long,
      totDl: Long,
      overwrite: Boolean): Unit = {
    import spark.implicits._
    val mode = if (overwrite) "overwrite" else "append"
    graft.ops.Layout.mapConcurrently[() => Unit, Unit](Seq(
      () => postings.withColumn("seg", lit(seg))
        .write.mode(mode).partitionBy("seg", "bucket").parquet(s"$path/postings"),
      () => postings.groupBy("term").agg(count(lit(1)).as("df"))
        .withColumn("seg", lit(seg))
        .write.mode(mode).partitionBy("seg").parquet(s"$path/terms"),
      () => docsTbl.select("doc_id", "dl")
        .withColumn("seg", lit(seg))
        .write.mode(mode).partitionBy("seg").parquet(s"$path/docs"),
      () => Seq((nDocs, totDl)).toDF("n_docs", "tot_dl")
        .withColumn("seg", lit(seg))
        .coalesce(1).write.mode(mode).partitionBy("seg").parquet(s"$path/stats")),
      parallelism = 4)(_())
    ()
  }

  /** Load a persisted index. Postings stream straight off the bucketed
    * layout (no shuffle); terms re-aggregate their segments; (N, avgdl)
    * come from the segment stats — nothing corpus-sized is read until a
    * probe touches its buckets.
    *
    * Tombstoned docs ([[deleteDocs]]) are filtered from the postings at
    * scan stage (bounded id set, a `NOT IN` semi-filter pushed into the
    * scan subtree) so no probe can return a dead doc; df and (N, avgdl)
    * stay STALE until [[compactIndex]] — the Lucene between-merges
    * contract, documented there.
    */
  def loadIndex(spark: org.apache.spark.sql.SparkSession, path: String): Index = {
    val segs = committedSegs(spark, path)
    require(segs.nonEmpty,
      s"loadIndex: no committed segments at $path — incomplete write?")
    // ONE collected scan carries all three load scalars: the meta row and
    // the committed segments' stats rows (both segment-count-sized) in one
    // union, summed exactly here: no aggregate, so one job and no AQE
    // stages; with the declared schemas no footer-inference jobs precede
    // it (every at-rest probe battery pays this per load)
    val rows = readTable(spark, MetaDdl, s"$path/meta")
      .select(col("term_buckets"), lit(null).cast("long").as("n_docs"),
        lit(null).cast("long").as("tot_dl"))
      .union(readTable(spark, StatsDdl, s"$path/stats")
        .where(col("seg").isin(segs.map(x => x: Any): _*))
        .select(lit(null).cast("int").as("term_buckets"),
          col("n_docs"), col("tot_dl")))
      .collect()
    val (metaRows, statRows) = rows.partition(!_.isNullAt(0))
    require(metaRows.nonEmpty, s"loadIndex: no meta row at $path/meta")
    def total(i: Int): Long =
      statRows.foldLeft(0L)((acc, r) => Math.addExact(acc, r.getLong(i)))
    committedIndex(spark, path, segs, metaRows.head.getInt(0),
      total(1), total(2))
  }

  /** The index over the committed segments `segs` of `path`, from load
    * scalars the caller already holds ([[loadIndex]] scans them,
    * [[writeIndex]] just computed them).
    */
  private def committedIndex(
      spark: org.apache.spark.sql.SparkSession, path: String,
      segs: Seq[Long], nb: Int, n: Long, totDl: Long): Index = {
    // readers see COMMITTED segments only (static partition pruning on
    // seg): an append's crash orphans are invisible here
    val segFilter = col("seg").isin(segs.map(x => x: Any): _*)
    // shared probe-side exclusion (Layout.excludeTombstoned): bounded +
    // loud sidecar read, scan-stage NOT IN for small sets, broadcast
    // anti-join past 1024 ids
    val postings = graft.ops.Layout.excludeTombstoned(
      spark, readTable(spark, PostingsDdl, s"$path/postings").where(segFilter),
      tombPath(path), "doc_id")
    val terms = readTable(spark, TermsDdl, s"$path/terms").where(segFilter)
      .groupBy("term").agg(sum("df").cast("long").as("df"))
    Index(postings, terms, n, if (n == 0) 0.0 else totDl.toDouble / n, Some(nb))
  }

  /** Incrementally add `newDocs` to a persisted index — appends only, no
    * rewrite of existing postings (a doc's tf/dl rows are self-contained,
    * so new docs never touch old files; global stats re-derive at load
    * from the per-segment ledgers).
    *
    * Idempotent at DOC granularity: ids already in `docs/` are dropped
    * (keep-first, the [[graft.index.VectorIndex.append]] contract), so
    * re-shipping an overlapping delta cannot double-count tf or df. The
    * ledger scan is doc-count-sized, never postings-sized.
    *
    * Returns the number of newly indexed docs.
    */
  def appendIndex(
      spark: org.apache.spark.sql.SparkSession,
      newDocs: DataFrame,
      path: String,
      idCol: String,
      textCol: String): Long = {
    val nb = nBuckets(spark, path)
    val committed = committedSegs(spark, path)
    // the ledger reads COMMITTED docs only: ids shipped by a crashed
    // (uncommitted) append are re-indexed cleanly as a NEW segment
    val existing = readTable(spark, DocsDdl, s"$path/docs")
      .where(col("seg").isin(committed.map(x => x: Any): _*))
      .select("doc_id")
    // an append whose delta token explode + ledger bytes fit one
    // partition (Layout.fitsOnePartition) reads both in one partition
    // and plans no exchange (see writeIndex)
    val one = graft.ops.Layout.fitsOnePartition(spark,
      graft.ops.Layout.dirBytes(spark, s"$path/docs") + tokenExplodeBytes(newDocs))
    val single = graft.ops.Layout.onePartitionWhen(one) _
    val fresh = single(newDocs)
      .withColumn("doc_id", col(idCol).cast("long"))
      .join(single(existing), Seq("doc_id"), "left_anti")
    // materialize ONCE before any write: the delta's lineage reads the
    // docs/ ledger this append is about to extend (same swap discipline
    // as VectorIndex.append), and the four writes below must not each
    // re-run the tokenize+aggregate build. One bucket-aligned exchange:
    // one file per (seg, bucket)
    val postings = single(graft.ops.Ann.materializeOnce(bucketedPostings(fresh,
      "doc_id", textCol, nb, filesPerBucket = 1,
      width = if (one) 1 else spark.sessionState.conf.numShufflePartitions)))
    // one aggregation feeds the docs/ ledger AND (n, tot_dl) — the same
    // sum(tf) == sum(dl) fusion as writeIndex (one postings pass, not two)
    val docsTbl = single(graft.ops.Ann.materializeOnce(
      postings.select("doc_id", "dl").distinct()))
    val stats = docsTbl.agg(count(lit(1)).as("n"), sum("dl").as("tot")).head()
    val n = stats.getLong(0)
    if (n == 0) return 0L
    // all four tables land under seg=<id>; the commit marker goes LAST,
    // so a crash anywhere above leaves an invisible orphan, never a
    // half-applied append readers can see
    val seg = nextSegId(spark, path)
    writeSegment(spark, path, seg, postings, docsTbl,
      n, stats.getLong(1), overwrite = false)
    Seq(postings, docsTbl).foreach(graft.ops.Ann.release)
    commitSeg(spark, path, seg)
    n
  }

  private def tombPath(path: String) = tombstonesPath(path)

  private def nBuckets(
      spark: org.apache.spark.sql.SparkSession, path: String): Int =
    readTable(spark, MetaDdl, s"$path/meta").head.getInt(0)

  /** Mark docs deleted in a persisted index — the [[Hnsw.delete]] /
    * Lucene mark-delete stance: no postings file is touched; [[loadIndex]]
    * filters the dead docs' postings out of every probe, while df / N /
    * avgdl stay STALE until [[compactIndex]] folds the tombstones in
    * (exactly Lucene's docFreq-includes-deletes behavior between
    * deleteDocuments and a segment merge). Contract mirrors the sibling
    * families: a delete is terminal for that doc_id until a compact —
    * re-appending it earlier is dropped by the append ledger — and the
    * probe-side tombstone set is capped (~4M) with a loud refusal, past
    * which the index is overdue for a compact anyway.
    */
  def deleteDocs(spark: org.apache.spark.sql.SparkSession,
      path: String, ids: Seq[Long]): Unit =
    markDeleted(spark, path, ids)

  /** Fold tombstones into the at-rest index: rewrite the four tables
    * without the dead docs — postings drop their rows, df/docs/stats
    * recompute exactly — and swap each directory via the shared
    * rename-aside protocol ([[graft.ops.Layout.replaceDirs]]; single-writer
    * contract). After compact the index is VALUE-IDENTICAL to a
    * from-scratch [[writeIndex]] over the surviving docs (a doc's
    * postings are self-contained, df/stats are plain re-aggregates) —
    * oracled end-to-end by `b8` and pinned in Bm25Spec. Returns
    * (docs before, docs after).
    */
  def compactIndex(
      spark: org.apache.spark.sql.SparkSession,
      path: String,
      filesPerBucket: Int = 1): (Long, Long) = {
    requireFilesPerBucket(filesPerBucket)
    import spark.implicits._
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sessionState.newHadoopConf())
    // snapshot the sidecar's FILES before the anti-join: a deleteDocs
    // issued while this compact runs lands new part files that survive
    // the spend below, instead of being silently revived by a
    // whole-directory delete
    val tombFiles = graft.ops.Layout.snapshotTombstoneFiles(fs, tombPath(path))
    val dead = graft.ops.Layout.deadIds(spark, tombFiles, "doc_id")
    // the four tables, then the commit reset, replaced in that order by
    // the shared protocol — which first heals any of the five that an
    // earlier crash left inside its swap window
    val counts = graft.ops.Layout.replaceDirs(fs,
        Seq("postings", "terms", "docs", "stats").map(t => s"$path/$t") :+
          commitsPath(path)) { case Seq(postingsS, termsS, docsS, statsS, commitsS) =>
    val committed = committedSegs(spark, path)
    require(committed.nonEmpty,
      s"compactIndex: no committed segments at $path")
    val segFilter = col("seg").isin(committed.map(x => x: Any): _*)
    // compact is a full-index rewrite: sized from the index's real bytes
    // (one partition only while the whole index fits one)
    val single = graft.ops.Layout.onePartitionWhen(graft.ops.Layout.fitsOnePartition(
      spark, graft.ops.Layout.dirBytes(spark, path))) _
    // anti joins, not broadcast sets: compact is the path that must stay
    // scale-safe at ANY tombstone count (the probe-side cap does not
    // apply here — same split as Hnsw.compact vs its probes). Orphan
    // (uncommitted) segments are excluded from the rewrite and vanish
    // with the directory swap — compact is also the orphan reclaimer.
    val live = single(graft.ops.Ann.materializeOnce(single(
      readTable(spark, PostingsDdl, s"$path/postings")
        .where(segFilter).drop("seg")
        .join(dead, Seq("doc_id"), "left_anti"))))
    // one postings aggregation feeds the rewritten docs/ ledger AND
    // (n, tot_dl) — the writeIndex fusion (sum(dl) over the ledger ==
    // sum(tf) over postings)
    val docsTbl = single(graft.ops.Ann.materializeOnce(
      live.select("doc_id", "dl").distinct()))
    val stats = docsTbl.agg(count(lit(1)).as("n"), sum("dl").as("tot")).head()
    // `before` from the per-segment stats ledger, not a distinct+count
    // over the corpus-sized docs/ table: committed segments hold disjoint
    // doc ids (the append ledger's law), so sum(n_docs) IS the distinct
    // count — segment-count-sized input instead of a corpus scan+shuffle
    // (the guide's "don't pay a pass for a number a ledger already holds")
    val before = single(readTable(spark, StatsDdl, s"$path/stats").where(segFilter))
      .agg(coalesce(sum("n_docs"), lit(0L)).cast("long")).head.getLong(0)
    val n = stats.getLong(0)
    // refuse compacting to EMPTY: a dynamically-partitioned write of zero
    // rows emits no data files, and swapping that in leaves a postings/
    // dir schema inference cannot read — the index would be bricked, not
    // empty. Deleting everything means deleting the index.
    require(n > 0,
      s"compactIndex: every doc at $path is tombstoned — delete the index " +
        "directory instead of compacting to empty")
    // same write-parallelism/file-count knob as writeIndex: 1 file per
    // bucket by default; raise filesPerBucket to keep read parallelism
    // after compacting a many-bucket index (5M-doc tier: the 1-file
    // layout probed 27.7 s vs 19.2 s on the 8-file layout — fewer
    // splits, fewer parallel readers)
    // the four staged rewrites are independent jobs over the
    // materialized `live`/`docsTbl` into four disjoint stages — landed
    // concurrently (guide §2.6); visibility still flips only at the
    // sequential swaps after, so the crash window is unchanged
    graft.ops.Layout.mapConcurrently[() => Unit, Unit](Seq(
      () => live.repartition(nBuckets(spark, path) * filesPerBucket,
          col("bucket"), pmod(xxhash64(col("doc_id")), lit(filesPerBucket)))
        .withColumn("seg", lit(0L))
        .write.mode("overwrite").partitionBy("seg", "bucket")
        .parquet(postingsS),
      () => live.groupBy("term").agg(count(lit(1)).as("df"))
        .withColumn("seg", lit(0L))
        .write.mode("overwrite").partitionBy("seg").parquet(termsS),
      () => docsTbl.select("doc_id", "dl")
        .withColumn("seg", lit(0L))
        .write.mode("overwrite").partitionBy("seg").parquet(docsS),
      () => Seq((n, if (n == 0) 0L else stats.getLong(1)))
        .toDF("n_docs", "tot_dl")
        .withColumn("seg", lit(0L))
        .coalesce(1).write.mode("overwrite").partitionBy("seg")
        .parquet(statsS)),
      parallelism = 4)(_())
    // between the table swaps and the commit reset, readers filtering on
    // the OLD committed ids over the new seg=0-only tables still see
    // exactly the compacted data (seg 0 is always in the committed set;
    // extra ids match no partitions) — benign window
    stageCommits(fs, commitsS, Seq(0L))
    (before, n)
    }
    // spend exactly the snapshotted files — deleteDocs concurrent with
    // this compact keeps its (unfolded) tombstones for the next one
    graft.ops.Layout.spendTombstoneFiles(fs, tombPath(path), tombFiles)
    counts
  }

  /** Tiered segment merge — the Lucene merge-policy half [[compactIndex]]
    * deliberately is not: fold the SMALLEST committed segments into one
    * new segment until at most `targetSegments` remain, leaving the big
    * segments' files untouched. A streaming-maintained index accrues one
    * segment per micro-batch; without merging, every probe pays
    * per-segment file overhead and the terms/stats re-aggregation
    * forever, while a full [[compactIndex]] rewrite is O(corpus) — the
    * wrong maintenance cost for retiring kilobyte-sized tail segments
    * out of a 100 TB index. Merging by ascending doc count means bytes
    * rewritten ≈ the small tail, never the big head (Lucene's tiered
    * policy premise).
    *
    * VALUE-INVISIBLE to every probe, by construction: postings rows are
    * doc-self-contained (re-homed under the new seg id unchanged), the
    * merged segment's df/docs/stats are exact sums of its sources'
    * ledgers (doc ids are disjoint across committed segments — the
    * append ledger's law — so df adds), and the commit flip retires the
    * sources and admits the merge in ONE rename-aside swap
    * ([[graft.ops.Layout.replaceDirs]]): readers see the old segment set
    * or the new one, never both (which would double-count every merged
    * doc). A crash
    * before the flip leaves an invisible orphan; the sources' retired
    * files become garbage reclaimed by the next [[compactIndex]].
    *
    * Tombstones are NOT folded here (they are probe-side state shared by
    * ALL segments; deciding which rows a merge spent would need a
    * membership check against every unmerged segment) — delete folding
    * stays [[compactIndex]]'s job, exactly Lucene's expungeDeletes vs
    * merge split. Returns (segments before, segments after).
    */
  def mergeSegments(
      spark: org.apache.spark.sql.SparkSession,
      path: String,
      targetSegments: Int = 8,
      filesPerBucket: Int = 1): (Int, Int) = {
    require(targetSegments >= 1,
      s"mergeSegments: targetSegments must be >= 1, got $targetSegments")
    requireFilesPerBucket(filesPerBucket)
    import spark.implicits._
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sessionState.newHadoopConf())
    // the commit flip's replacement heals a crashed earlier flip BEFORE
    // the marker set is read
    graft.ops.Layout.replaceDirs(fs, Seq(commitsPath(path))) { case Seq(staged) =>
    val committed = committedSegs(spark, path)
    if (committed.size <= targetSegments) return (committed.size, committed.size)
    // per-segment doc counts from the stats ledger — segment-count-sized,
    // nothing postings-sized is read to pick the merge set
    val committedFilter = col("seg").isin(committed.map(x => x: Any): _*)
    // seg is a partition column and infers as int — cast before collect
    val sizes = readTable(spark, StatsDdl, s"$path/stats").where(committedFilter)
      .groupBy(col("seg").cast("long").as("seg"))
      .agg(sum("n_docs").cast("long").as("n"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val merge = committed.sortBy(s => (sizes.getOrElse(s, 0L), s))
      .take(committed.size - targetSegments + 1)
    val keep = committed.filterNot(merge.contains)
    val segFilter = col("seg").isin(merge.map(x => x: Any): _*)
    val newSeg = nextSegId(spark, path)
    // postings: re-home the merge set's rows under the new seg id — a
    // partition-pruned read of exactly the merged segments' directories,
    // re-aligned to the bucket layout (same write-parallelism knob as
    // writeIndex/compactIndex)
    // the four re-homed writes are invisible until the commit flip below
    // (new seg id, uncommitted), so they land CONCURRENTLY (guide §2.6) —
    // same crash window as the sequential ordering, the three tiny
    // ledger-algebra writes hide under the postings re-home.
    // terms/docs/stats: exact ledger algebra over the merged segments —
    // no tokenization, no corpus read
    val st = readTable(spark, StatsDdl, s"$path/stats").where(segFilter)
      .agg(sum("n_docs").cast("long"), sum("tot_dl").cast("long")).head
    // the re-home is sized from the merged segments' ledgered token
    // count (tot_dl ≈ postings rows) — exactly the tiered-merge premise
    // that bytes rewritten track the small tail, never the whole index
    val single = graft.ops.Layout.onePartitionWhen(graft.ops.Layout.fitsOnePartition(
      spark, BigInt(st.getLong(1)) * PostingRowBytes)) _
    graft.ops.Layout.mapConcurrently[() => Unit, Unit](Seq(
      () => readTable(spark, PostingsDdl, s"$path/postings")
        .where(segFilter).drop("seg")
        .repartition(nBuckets(spark, path) * filesPerBucket,
          col("bucket"), pmod(xxhash64(col("doc_id")), lit(filesPerBucket)))
        .withColumn("seg", lit(newSeg))
        .write.mode("append").partitionBy("seg", "bucket").parquet(s"$path/postings"),
      () => single(readTable(spark, TermsDdl, s"$path/terms").where(segFilter))
        .groupBy("term").agg(sum("df").cast("long").as("df"))
        .withColumn("seg", lit(newSeg))
        .write.mode("append").partitionBy("seg").parquet(s"$path/terms"),
      () => readTable(spark, DocsDdl, s"$path/docs")
        .where(segFilter).drop("seg")
        .withColumn("seg", lit(newSeg))
        .write.mode("append").partitionBy("seg").parquet(s"$path/docs"),
      () => Seq((st.getLong(0), st.getLong(1))).toDF("n_docs", "tot_dl")
        .withColumn("seg", lit(newSeg))
        .coalesce(1).write.mode("append").partitionBy("seg").parquet(s"$path/stats")),
      parallelism = 4)(_())
    // the one-flip commit: sources out, merge result in. Segments
    // committed by an APPEND while this merge rewrote its tail must
    // survive the flip, so the marker set is re-listed here — everything
    // committed since entry rides along. The residual window (an append
    // committing between this re-list and the swap) is the
    // single-maintainer contract every compact in the repo documents;
    // unlike them, a lost marker here is silent (the batch ledger
    // already recorded the batch), so the re-list shrinks that window
    // from the whole rewrite to one listStatus round-trip.
    val lateCommits = committedSegs(spark, path)
      .filterNot(merge.contains).filterNot(keep.contains)
    stageCommits(fs, staged, (keep ++ lateCommits :+ newSeg).sorted.distinct)
    (committed.size, keep.size + lateCommits.size + 1)
    }
  }

  /** [[appendIndex]] keyed by a batch id for streaming replay (the
    * [[Hnsw.appendBatch]] recipe): a batch id already in the `batches/`
    * ledger is a no-op, so `foreachBatch` at-least-once re-delivery
    * converges to exactly-once postings. Crash windows compose cleanly
    * with the segment commit law: a crash INSIDE appendIndex leaves an
    * uncommitted orphan (invisible, replay re-ships the docs as a new
    * segment); a crash between the segment COMMIT and the batch-ledger
    * row makes the replayed appendIndex a doc-ledger no-op (all ids
    * committed) — neither window can double tf/df/stats. Returns true
    * when the batch applied.
    */
  def appendIndexBatch(
      spark: org.apache.spark.sql.SparkSession,
      newDocs: DataFrame,
      path: String,
      batchId: Long,
      idCol: String,
      textCol: String): Boolean =
    ledgered(spark, path, batchId) {
      appendIndex(spark, newDocs, path, idCol, textCol)
      ()
    }

  /** Restrict a loaded index to the buckets holding `queryTerms` — a
    * static partition-pruning filter on the postings scan (the plan's
    * `PartitionFilters: [array_contains([...], bucket)]`), so a probe
    * reads ONLY the query terms' bucket directories. The bucket set rides
    * as one array literal, which generated code holds by reference: an
    * INT `isin` (or `InSet`, to which Spark unwraps a cast) compiles its
    * values into a `switch`, in the pruning predicate and in the filter
    * the optimizer infers on the query-term side — new code for every
    * new term set. No-op on an in-memory index.
    */
  def restrictToTerms(index: Index, queryTerms: Seq[String]): Index =
    index.termBuckets match {
      case Some(nb) =>
        val bs = bucketsFor(index.postings.sparkSession, queryTerms, nb)
        index.copy(postings =
          if (bs.isEmpty) index.postings.where(lit(false))
          else index.postings.where(array_contains(typedLit(bs.toArray), col("bucket"))))
      case None => index
    }

  /** BM25 top-k for a query TABLE in one pass over the (term-pruned)
    * postings. `queries(query_id, query_text)`; returns
    * `(query_id, rank, doc_id, score)` with rank 1..k ordered by
    * (score desc, doc_id asc) — integer-quantized scores make the order
    * exactly reproducible.
    *
    * Each distinct query term scores once per occurrence-holding doc
    * (query-side term multiplicity is ignored, the Lucene convention).
    */
  def topKBatch(
      queries: DataFrame,
      index: Index,
      k: Int,
      k1: Double = 1.2,
      b: Double = 0.75): DataFrame =
    scoreTermTable(
      queries.select(
        col("query_id").cast("long"),
        explode(array_distinct(tokensCol(col("query_text")))).as("term")),
      index, k, k1, b)

  /** Score an explicit `(query_id, term)` table — the shared engine under
    * [[topKBatch]] (terms tokenized from query text) and [[topKBatchPrf]]
    * (terms expanded by feedback). Scoring law as documented on the class.
    */
  def scoreTermTable(
      qTerms: DataFrame,
      index: Index,
      k: Int,
      k1: Double = 1.2,
      b: Double = 0.75): DataFrame = {
    // idf on the query side: terms(df) is corpus-vocabulary-sized, the
    // semi-join against the tiny broadcast query-term set prunes it before
    // anything moves; result is q·t rows, re-broadcast to the postings scan
    val n = lit(index.nDocs.toDouble)
    val qIdf = index.terms
      .join(broadcast(qTerms), Seq("term"))
      .withColumn("idf_scaled",
        round(log((n - col("df") + 0.5) / (col("df") + 0.5) + 1.0) * 1e6)
          .cast("long"))
      .select("query_id", "term", "idf_scaled")
    val tfNorm = col("tf").cast("double") * lit(k1 + 1.0) /
      (col("tf").cast("double") +
        lit(k1) * (lit(1.0 - b) + lit(b) * col("dl").cast("double") / lit(index.avgDl)))
    // bucketed (at-rest) postings join on (bucket, term) — the partition
    // column in the join key lets dynamic partition pruning skip bucket
    // directories even when the caller didn't restrictToTerms first
    val pruned = index.termBuckets match {
      case Some(nb) =>
        index.postings.join(
          broadcast(qIdf.withColumn("bucket", bucketCol(col("term"), nb))),
          Seq("bucket", "term"))
      case None => index.postings.join(broadcast(qIdf), Seq("term"))
    }
    val partials = pruned
      .select(
        col("query_id"), col("doc_id"),
        round(col("idf_scaled").cast("double") * tfNorm).cast("long").as("part"))
    val scored = partials
      .groupBy("query_id", "doc_id")
      .agg(sum("part").as("score_scaled"))
    scored
      .groupBy("query_id")
      .agg(call_function("topk_by_dist",
        -col("score_scaled").cast("double"), col("doc_id"), lit(k)).as("topk"))
      .select(col("query_id"), posexplode(col("topk")).as(Seq("r", "hit")))
      .select(
        col("query_id"),
        (col("r") + 1).cast("int").as("rank"),
        col("hit.id").as("doc_id"),
        (-col("hit.dist")).cast("long").as("score_scaled"),
        (-col("hit.dist") / 1e6).as("score"))
  }

  /** Pseudo-relevance feedback (Rocchio 1971 / RM3-lite): run the query,
    * harvest the `fbTerms` highest-mass terms from its top `fbDocs`
    * results, union them with the original terms, rescore. The classic
    * zero-supervision recall lever for sparse retrieval — vocabulary
    * mismatch ("car" vs "automobile") is bridged by whatever the first
    * pass DID find.
    *
    * Feedback mass is the summed raw tf over the feedback docs, ties to
    * the lexicographically smaller term — integers, deterministic, and
    * cheaply reproducible by the oracle. All intermediates are
    * query-batch-sized: first-pass hits (q × fbDocs), their postings
    * (fbDocs docs' worth), the expanded term table (q × (t + fbTerms)).
    */
  def topKBatchPrf(
      queries: DataFrame,
      index: Index,
      k: Int,
      fbDocs: Int = 3,
      fbTerms: Int = 5,
      k1: Double = 1.2,
      b: Double = 0.75): DataFrame = {
    val origTerms = queries.select(
      col("query_id").cast("long"),
      explode(array_distinct(tokensCol(col("query_text")))).as("term"))
    val first = scoreTermTable(origTerms, index, fbDocs, k1, b)
      .select("query_id", "doc_id")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("query_id").orderBy(col("fb_tf").desc, col("term"))
    val fb = index.postings
      .join(broadcast(first), Seq("doc_id"))
      .groupBy("query_id", "term")
      .agg(sum("tf").as("fb_tf"))
      .withColumn("__rn", row_number().over(w))
      .where(col("__rn") <= fbTerms)
      .select("query_id", "term")
    val expanded = origTerms.unionByName(fb).distinct()
    scoreTermTable(expanded, index, k, k1, b)
  }

  /** Reciprocal-rank fusion (Cormack et al. 2009): fuse any number of
    * per-query rank lists `(query_id, doc_id, rank)` into one list scored
    * by Σ 1/(rrfK + rank). The per-list contribution is computed as the
    * integer `1e9 div (rrfK + rank)` so the fused score is an exact
    * integer sum — associative, partition-invariant, oracle-reproducible.
    * Output: `(query_id, rank, doc_id, rrf_scaled)`, rank 1..k by
    * (rrf desc, doc_id asc).
    *
    * Rank lists are query-batch-sized (q·k rows each), so the union and
    * re-aggregation never touch corpus-scale data.
    */
  def rrfFuse(lists: Seq[DataFrame], k: Int, rrfK: Int = 60): DataFrame = {
    require(lists.nonEmpty, "rrfFuse needs at least one rank list")
    val contribs = lists
      .map(_.select(
        col("query_id").cast("long"),
        col("doc_id").cast("long"),
        floor(lit(1000000000L) / (lit(rrfK.toLong) + col("rank").cast("long")))
          .as("contrib")))
      .reduce(_ unionByName _)
    contribs
      .groupBy("query_id", "doc_id")
      .agg(sum("contrib").as("rrf_scaled"))
      .groupBy("query_id")
      .agg(call_function("topk_by_dist",
        -col("rrf_scaled").cast("double"), col("doc_id"), lit(k)).as("topk"))
      .select(col("query_id"), posexplode(col("topk")).as(Seq("r", "hit")))
      .select(
        col("query_id"),
        (col("r") + 1).cast("int").as("rank"),
        col("hit.id").as("doc_id"),
        (-col("hit.dist")).cast("long").as("rrf_scaled"))
  }

  // ------------------------------------------------------------- phrase

  /** Exact phrase search — the positional gap a bag-of-words index leaves:
    * `(query_id, phrase)` → `(query_id, doc_id, n_matches)` for every doc
    * whose token stream contains the phrase's tokens ADJACENTLY in order
    * ([[tokensCol]] tokenization on both sides, so "data-stream!" matches
    * "Data stream").
    *
    * The scale plan is the classic two-phase phrase query: (1) PRUNE —
    * each phrase picks its rarest term (min document frequency, ties by
    * term) and the candidate set is that term's postings rows, a
    * broadcast semi-join that touches no non-matching doc; (2) VERIFY —
    * only candidates re-tokenize and count adjacency windows
    * (`n_matches`). Phrases are a driver-side batch (like every query
    * batch here); candidate volume is bounded by the rarest term's df —
    * the reason the rarest term, not the first, anchors the prune.
    * Empty/stopword-only phrases are refused loudly (a phrase of only
    * ultra-common terms must degrade to cost, never to wrong results).
    */
  def phraseMatches(
      docs: DataFrame,
      phrases: Seq[(Long, String)],
      idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    // document frequency of the PHRASES' OWN terms only — a scan-stage
    // filter before a terms-count-sized aggregate, never the full
    // postings build (measured: the full rawPostings shuffle tripled the
    // 2M-doc tier's cost for df values of which only |phrase terms| are
    // read)
    def scanDf(wanted: Seq[String]): Map[String, Long] =
      docs.select(tokensCol(col(textCol)).as("__toks"))
        .select(explode(array_distinct(
          filter(col("__toks"), t => t.isin(wanted: _*)))).as("term"))
        .groupBy("term").agg(count(lit(1)).as("df"))
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    phraseMatchesWith(docs, phrases, scanDf, idCol, textCol)
  }

  /** [[phraseMatches]] with the df lookup served by a persisted index's
    * `terms` table instead of a corpus scan — the one-scan phrase path
    * PERF.md promised once an at-rest index exists: anchor selection
    * reads vocabulary-sized data (semi-joined to the phrase terms, a
    * driver-bounded handful of rows), so the ONLY corpus pass left is
    * the candidate tokenize. Anchors are identical to the scan path by
    * construction (the index's df IS the corpus df for any indexed
    * term), so output is value-equal — b7's oracle applies verbatim.
    */
  def phraseMatchesIndexed(
      docs: DataFrame,
      index: Index,
      phrases: Seq[(Long, String)],
      idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    def indexDf(wanted: Seq[String]): Map[String, Long] = {
      val spark = docs.sparkSession
      import spark.implicits._
      index.terms
        .join(broadcast(wanted.toDF("term")), Seq("term"))
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    }
    phraseMatchesWith(docs, phrases, indexDf, idCol, textCol)
  }

  /** Shared two-phase engine: PRUNE on the rarest term (df via `dfOf`),
    * VERIFY adjacency on candidates only — see [[phraseMatches]] for the
    * scale plan.
    */
  private def phraseMatchesWith(
      docs: DataFrame,
      phrases: Seq[(Long, String)],
      dfOf: Seq[String] => Map[String, Long],
      idCol: String,
      textCol: String): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    require(phrases.nonEmpty, "phraseMatches: empty phrase batch")
    val qtoks: Seq[(Long, Seq[String])] =
      phrases.map { case (qid, p) => (qid, tokenize(p)) }
    qtoks.foreach { case (qid, ts) =>
      require(ts.nonEmpty, s"phraseMatches: phrase $qid tokenizes to nothing")
    }
    val wanted = qtoks.flatMap(_._2).distinct
    val toks = docs.select(
      col(idCol).cast("long").as("doc_id"), tokensCol(col(textCol)).as("__toks"))
    val dfMap = dfOf(wanted)
    val anchors = qtoks.map { case (qid, ts) =>
      val anchor = ts.minBy(t => (dfMap.getOrElse(t, 0L), t))
      (qid, anchor, ts)
    }
    val anchorDf = anchors.toDF("query_id", "__anchor", "__qtoks")
    // candidates: one more scan, anchors broadcast (tiny nested-loop of
    // |phrases| membership probes per doc); only matches reach the
    // adjacency count. The count itself is the codegen'd PhraseCount
    // expression — one static-call loop per candidate row, replacing the
    // interpreted nested-sequence HOF this repo measured in the 27–57×
    // class (A/B with a deliberately COMMON anchor in ScaleSmoke, where
    // the rarest-term prune cannot bound the candidate set)
    toks
      .join(broadcast(anchorDf), array_contains(col("__toks"), col("__anchor")))
      .withColumn("n_matches",
        graft.functions.TextExpressions.phraseCount(col("__toks"), col("__qtoks")))
      .where(col("n_matches") >= 1)
      .select(col("query_id"), col("doc_id"), col("n_matches"))
  }

  // ---------------------------------------------------------------- BM25F

  /** One retrieval field for [[bm25fTopKBatch]]: its text column, its
    * weight (title ≫ body is the classic setting), and its own length
    * normalization `b` (titles are short and uniform → lower b).
    */
  final case class Field(textCol: String, weight: Double, b: Double = 0.75)

  /** BM25F fielded ranking (Robertson/Zaragoza/Taylor, CIKM 2004 — the
    * "simple BM25F"): per-field term frequencies are length-normalized
    * and weight-scaled FIRST, then the k1 saturation curve is applied
    * ONCE to the combined pseudo-frequency —
    *
    *   tf̃(t,d) = Σ_f w_f · tf_f / (1 − b_f + b_f · dl_f/avgdl_f)
    *   score(q,d) = Σ_t idf(t) · tf̃·(k1+1) / (k1 + tf̃)
    *
    * which is the paper's point: summing per-field BM25 scores saturates
    * each field separately, so two weak field matches outscore one strong
    * one; combining frequencies BEFORE saturation preserves the
    * eliteness model. idf uses WHOLE-document df (a doc counts once if
    * the term appears in any field). With one field at weight 1 this
    * reduces exactly to [[topKBatch]]'s law (pinned in Bm25Spec).
    *
    * Determinism/oracle shape (the house BM25 recipe): idf is quantized
    * to the 1e-6 integer grid, per-term parts round to longs, the
    * per-doc score is an exact integer sum — `b11`'s DuckDB oracle
    * recomputes field splitting, tf/df/dl, and every double in the same
    * association order, hash-exactly.
    *
    * Scale: one scan of the fielded docs (token arrays + per-field dl
    * computed BEFORE the explode and carried through — the
    * [[rawPostings]] single-exchange shape, field-tagged), per-field tfs
    * pivoted by exact conditional sums, query side broadcast; the only
    * shuffles are the (doc, term) tf aggregate, the df aggregate, and
    * the final per-query k-heap.
    */
  def bm25fTopKBatch(
      queries: DataFrame,
      docs: DataFrame,
      fields: Seq[Field],
      k: Int,
      idCol: String = "doc_id",
      k1: Double = 1.2): DataFrame = {
    require(fields.nonEmpty, "bm25fTopKBatch needs at least one field")
    val nf = fields.size
    // token arrays + per-field dl on the unexploded row
    val base = graft.ops.Ann.materializeOnce(docs.select(
      (col(idCol).cast("long").as("doc_id") +:
        fields.zipWithIndex.map { case (f, i) =>
          tokensCol(col(f.textCol)).as(s"__ts$i") }): _*)
      .select(
        (col("doc_id") +:
          (0 until nf).map(i => col(s"__ts$i")) ++:
          (0 until nf).map(i => size(col(s"__ts$i")).cast("long").as(s"__dl$i"))): _*))
    // exactly 2·nf+1 scalars cross the driver — bounded by construction
    val statsRow = base.agg(
      count(lit(1)).as("n"),
      (0 until nf).map(i => sum(col(s"__dl$i")).as(s"t$i")): _*).head
    val nDocs = statsRow.getLong(0)
    require(nDocs > 0, "bm25fTopKBatch: empty corpus")
    val avgDl = (0 until nf).map(i => statsRow.getLong(i + 1).toDouble / nDocs)
    // field-tagged explode; (doc, dl*) carried through so the tf pivot is
    // the single postings-sized exchange (the rawPostings shape)
    val dlCols = (0 until nf).map(i => col(s"__dl$i"))
    val tagged = base.select(
      (col("doc_id") +: dlCols) :+
        posexplode(array((0 until nf).map(i => col(s"__ts$i")): _*))
          .as(Seq("__f", "__ftoks")): _*)
      .select((col("doc_id") +: dlCols) :+ col("__f") :+
        explode(col("__ftoks")).as("term"): _*)
    val grid = tagged
      .groupBy((col("doc_id") +: dlCols) :+ col("term"): _*)
      .agg(
        coalesce(sum(when(col("__f") === 0, 1L)), lit(0L)).as("__tf0"),
        (1 until nf).map(i =>
          coalesce(sum(when(col("__f") === i, 1L)), lit(0L)).as(s"__tf$i")): _*)
    val postings = graft.ops.Ann.materializeOnce(grid)
    scoreFieldedGrid(queries, postings, nDocs, avgDl,
      fields.map(f => (f.weight, f.b)), k, k1)
  }

  /** The shared BM25F scorer over a fielded grid `(doc_id, term,
    * __tf0.., __dl0..)` — fed the FULL grid by [[bm25fTopKBatch]]
    * (transient build) and the query-term-pruned grid by
    * [[bm25fProbeAtRest]]. df comes from the grid itself, so the pruned
    * path yields the same per-term values as the full one. tf̃ is a
    * FIXED fold over fields (field 0 first): both engines sum the same
    * expression tree, no aggregation-order float hazard; parts land on
    * the house 1e-6 integer grid so per-doc sums are exact.
    */
  private def scoreFieldedGrid(
      queries: DataFrame,
      grid: DataFrame,
      nDocs: Long,
      avgDl: Seq[Double],
      fields: Seq[(Double, Double)],
      k: Int,
      k1: Double): DataFrame = {
    val nf = fields.size
    val qTerms = queries.select(
      col("query_id").cast("long"),
      explode(array_distinct(tokensCol(col("query_text")))).as("term"))
    val df = grid.groupBy("term").agg(count(lit(1)).as("df"))
    val qIdf = df
      .join(broadcast(qTerms), Seq("term"))
      .withColumn("idf_scaled",
        round(log((lit(nDocs.toDouble) - col("df") + 0.5) / (col("df") + 0.5) + 1.0) * 1e6)
          .cast("long"))
      .select("query_id", "term", "idf_scaled")
    val tfTilde = (0 until nf).map { i =>
      val (w, b) = fields(i)
      lit(w) * col(s"__tf$i").cast("double") /
        (lit(1.0 - b) + lit(b) * col(s"__dl$i").cast("double") / lit(avgDl(i)))
    }.reduce(_ + _)
    val sat = tfTilde * lit(k1 + 1.0) / (lit(k1) + tfTilde)
    val parts = grid
      .join(broadcast(qIdf), Seq("term"))
      .select(col("query_id"), col("doc_id"),
        round(col("idf_scaled").cast("double") * sat).cast("long").as("part"))
    parts
      .groupBy("query_id", "doc_id")
      .agg(sum("part").as("score_scaled"))
      .groupBy("query_id")
      .agg(call_function("topk_by_dist",
        -col("score_scaled").cast("double"), col("doc_id"), lit(k)).as("topk"))
      .select(col("query_id"), posexplode(col("topk")).as(Seq("r", "hit")))
      .select(
        col("query_id"),
        (col("r") + 1).cast("int").as("rank"),
        col("hit.id").as("doc_id"),
        (-col("hit.dist")).cast("long").as("score_scaled"),
        (-col("hit.dist") / 1e6).as("score"))
  }

  /** One at-rest field for [[bm25fProbeAtRest]]: a [[writeIndex]] layout
    * path plus this probe's (weight, b).
    */
  final case class FieldIndex(path: String, weight: Double, b: Double = 0.75)

  /** The per-doc `(doc_id, dl)` rows of a persisted index — committed
    * segments only, tombstones excluded (the same read discipline as
    * [[loadIndex]]'s postings). One row per doc by the `docs/` ledger's
    * idempotency contract.
    */
  private def loadDocDls(
      spark: org.apache.spark.sql.SparkSession, path: String): DataFrame = {
    val segs = committedSegs(spark, path)
    graft.ops.Layout.excludeTombstoned(
      spark,
      readTable(spark, DocsDdl, s"$path/docs")
        .where(col("seg").isin(segs.map(x => x: Any): _*)),
      tombPath(path), "doc_id")
      .select("doc_id", "dl")
  }

  /** BM25F over PERSISTED per-field indexes — the Lucene stance realized
    * with the existing segmented layout: each field is its own
    * [[writeIndex]] index (so the FULL lifecycle — ledgered appends,
    * tombstone deletes, tiered merges, compacts — is inherited verbatim,
    * per field), and the fielded probe composes them at query time:
    * per-field postings pruned to the query terms (bucket partition
    * pruning when laid out), tf pivot by exact conditional sums, dl per
    * (doc, field) from the live postings, the combined-before-saturation
    * scoring of [[bm25fTopKBatch]] via [[scoreFieldedGrid]].
    *
    * Contract, loudly checked where cheap: every field index must be
    * built over the SAME doc set (equal committed nDocs), and a doc must
    * have ≥1 token in EVERY field (the dl joins are inner — a doc with
    * an empty field has no dl row and silently drops; filter such docs
    * out upstream or give them a placeholder token). Delete semantics
    * follow [[deleteDocs]]/`b8`: stats stay stale until compact (the
    * Lucene between-merges contract), postings — and therefore tf, df
    * and dl here — are live-only.
    *
    * Scale: the per-field postings scans are term-pruned; the dl joins
    * stream the corpus-sized postings past a BROADCAST of the (tiny,
    * query-term-bounded) grid; a serving deployment would additionally
    * cache the per-field dl frames across query batches.
    */
  def bm25fProbeAtRest(
      spark: org.apache.spark.sql.SparkSession,
      fields: Seq[FieldIndex],
      queries: DataFrame,
      k: Int,
      k1: Double = 1.2): DataFrame = {
    require(fields.nonEmpty, "bm25fProbeAtRest needs at least one field")
    val idxs = fields.map(f => loadIndex(spark, f.path))
    require(idxs.map(_.nDocs).distinct.size == 1,
      s"bm25fProbeAtRest: field indexes disagree on corpus size " +
        s"(${idxs.map(_.nDocs).mkString(", ")}) — every field index must " +
        "be built over the SAME doc set")
    // cross-field tombstone consistency (round-10 advice): a doc deleted
    // in SOME field indexes but not all would silently vanish from every
    // probe through the inner dl join — not as a delete, as a dropped
    // row indistinguishable from an empty-field doc. The sidecar id sets
    // are bounded by the probe-side cap (and memoized on file signature), so the
    // comparison is a cheap driver set-diff; refuse loudly instead.
    val deadSets = fields.map(f =>
      graft.ops.Layout.tombstonedIds(spark, tombPath(f.path), "doc_id").toSet)
    if (deadSets.distinct.size > 1) {
      val union = deadSets.reduce(_ union _)
      val partial = union.filterNot(id => deadSets.forall(_.contains(id)))
      throw new IllegalArgumentException(
        s"bm25fProbeAtRest: doc(s) ${partial.toSeq.sorted.take(10).mkString(", ")} " +
          "are tombstoned in some field indexes but not all — delete every " +
          "doc in EVERY field (deleteDocs per field path) or compact the " +
          "fields to a consistent state before probing")
    }
    val termSet = queries.select(
      explode(array_distinct(tokensCol(col("query_text")))).as("term")).distinct()
    // driver-side bucket restriction (restrictToTerms' literal pruning):
    // the query batch is bounded by contract, so its distinct terms are a
    // driver-sized collect, and the resulting `bucket IN (...)` is STATIC
    // partition pruning — without it each field probe scanned all bucket
    // directories (measured 2/3 of the 1M-doc fielded probe)
    val termSeq = termSet.collect().map(_.getString(0)).toSeq
    val tagged = idxs.zipWithIndex.map { case (idx0, i) =>
      val idx = restrictToTerms(idx0, termSeq)
      val pruned = idx.termBuckets match {
        case Some(nb) => idx.postings.join(
          broadcast(termSet.withColumn("bucket", bucketCol(col("term"), nb))),
          Seq("bucket", "term"))
        case None => idx.postings.join(broadcast(termSet), Seq("term"))
      }
      pruned.select(col("doc_id"), col("term"), lit(i).as("__f"), col("tf"))
    }.reduce(_ unionByName _)
    // materialized ONCE: slim is term-bounded tiny, but its subtree holds
    // BOTH postings scans, and every consumer below (each dl fold's
    // broadcast build, the scorer's df aggregate, the scorer's parts
    // join) would re-execute it — measured 4 postings scans per probe
    // before the checkpoint (the maybeBroadcast double-execution class)
    val slim = graft.ops.Ann.materializeOnce(tagged
      .groupBy("doc_id", "term")
      .agg(
        coalesce(sum(when(col("__f") === 0, col("tf"))), lit(0L)).as("__tf0"),
        (1 until idxs.size).map(i =>
          coalesce(sum(when(col("__f") === i, col("tf"))), lit(0L)).as(s"__tf$i")): _*))
    // per-field dl from the at-rest `docs/` ledger (one committed,
    // tombstone-excluded row per doc — doc-sized scan, NO postings
    // distinct: the first cut's postings-sized dedup shuffle was 2/3 of
    // the 1M-doc probe), streamed past the broadcast term-bounded grid
    val grid = graft.ops.Ann.materializeOnce(
      fields.zipWithIndex.foldLeft(slim) { case (g, (f, i)) =>
        loadDocDls(spark, f.path).select(col("doc_id"), col("dl").as(s"__dl$i"))
          .join(broadcast(g), Seq("doc_id"))
      })
    scoreFieldedGrid(queries, grid, idxs.head.nDocs, idxs.map(_.avgDl),
      fields.map(f => (f.weight, f.b)), k, k1)
  }
}
