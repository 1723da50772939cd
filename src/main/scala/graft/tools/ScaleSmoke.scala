package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Big-corpus perf tier: the five scale-critical plans at 10–50M rows —
  * far past the sf0.1 bench (whose 130 queries all finish in ≤3.4 s and no
  * longer stress the scale paths). Everything is synthesized with column
  * algebra (no files): deterministic xxhash64-derived words/vectors with
  * planted duplicates, so candidate volumes are realistic and expected
  * outputs are checkable.
  *
  * Opt-in:  SPARK_DRIVER_MEM=48g sbt "runMain graft.tools.ScaleSmoke"
  * Scale:   SPARK_GRAFT_SCALE=0.1 shrinks every row count 10x (CI-sized).
  *
  * Each section prints `name  rows  seconds  out-rows` and asserts the
  * plan stays bucketed (no cartesian / nested-loop product) — numbers are
  * recorded in PERF.md per round.
  */
object ScaleSmoke {
  def main(args: Array[String]): Unit = {
    val scale = sys.env.getOrElse("SPARK_GRAFT_SCALE", "1.0").toDouble
    val spark = SparkSession.builder()
      .master(s"local[${sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")}]")
      // the conf path (not withExtensions): only there does the extension
      // floor the generated-class cache before the first plan compiles
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.sql.shuffle.partitions", "64")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    def n(base: Long): Long = math.max(1000L, (base * scale).toLong)

    def assertBucketed(df: DataFrame, label: String): Unit = {
      val plan = df.queryExecution.executedPlan.toString
      assert(!plan.contains("CartesianProduct"), s"$label: cartesian in plan")
      assert(!plan.contains("BroadcastNestedLoopJoin"), s"$label: BNLJ in plan")
    }

    def time(label: String, rows: Long)(f: => Long): Unit = {
      val t0 = System.nanoTime()
      val out = f
      println(f"$label%-28s ${rows}%12d rows ${(System.nanoTime() - t0) / 1e9}%8.2f s  ($out out)")
    }

    // deterministic word-salad text: `len` words hashed from (base, pos).
    // Rows where id % 200 < 2 form near-dup PAIRS (share a base, one word
    // mutated) — ~1% of the corpus, realistic dup density.
    def synthDocs(rows: Long, len: Int): DataFrame =
      spark.range(rows).select(
        col("id").as("doc_id"),
        pmod(col("id"), lit(8)).cast("string").as("source"),
        concat_ws(" ",
          transform(sequence(lit(0), lit(len - 1)),
            i => when(i === 0, concat(lit("w"), pmod(xxhash64(col("id"), i), lit(1000000))))
              .otherwise(concat(lit("w"), pmod(xxhash64(
                when(pmod(col("id"), lit(200)) < 2,
                  col("id") - pmod(col("id"), lit(200)))
                  .otherwise(col("id")), i), lit(1000000))))))
          .as("text"))

    def clusteredVecs(rows: Long, dims: Int, seedOff: Int, idCol: String, vecCol: String) =
      spark.range(rows).select(
        col("id").as(idCol),
        transform(sequence(lit(0), lit(dims - 1)),
          i => ((pmod(xxhash64(pmod(col("id"), lit(1024)), i), lit(1000)) / 1000.0) +
            (pmod(xxhash64(col("id") + seedOff, i), lit(100)) / 100.0 - 0.5) * 0.1)
            .cast("float")).as(vecCol))

    // SPARK_GRAFT_SMOKE_ONLY=sq8,pagerank re-runs a subset of tiers.
    val only: Option[Set[String]] =
      sys.env.get("SPARK_GRAFT_SMOKE_ONLY").map(_.split(",").toSet)
    def section(name: String)(body: => Unit): Unit =
      if (only.forall(_.contains(name))) body

    println(s"== ScaleSmoke (scale=$scale) ==")

    // 1. rp-batch ANN: 10M x 32-d clustered index, 64 queries, k=10
    section("rp_batch_ann") {
      val rows = n(10000000L)
      val index = clusteredVecs(rows, 32, 7777, "vec_id", "embedding")
      val queries = clusteredVecs(64, 32, 555001, "query_id", "query_vec")
      val out = graft.ops.Ann.rpTopKBatch(queries, index, k = 10,
        nTables = 8, nProjs = 3, width = 0.12)
      assertBucketed(out, "rp_batch_ann")
      time("rp_batch_ann", rows) { out.count() }
    }

    // 2. vocabulary-free minhash near-dup pairs: 10M docs, ~50k planted pairs
    section("minhash") {
      val rows = n(10000000L)
      val out = graft.ops.Dedup.minHashPairsHashed(synthDocs(rows, 25),
        shingleSize = 1, numHashes = 64, bands = 16, minJaccard = 0.8)
      assertBucketed(out, "minhash_hashed_pairs")
      val expected = rows / 200 // one planted pair per 200 ids
      time(s"minhash_hashed_pairs", rows) {
        val c = out.count()
        assert(c >= (expected * 0.95).toLong && c <= (expected * 1.05).toLong,
          s"planted-pair count off: got $c expected ~$expected")
        c
      }

      // 2b. the at-rest split: persist the signatures once, then probe a
      // 100k ARRIVING BATCH against them — the continuous-crawl shape,
      // where the alternative is re-running the full pair search per
      // batch. The batch reuses synthDocs' planted-dup law (ids % 200 <
      // 2 share a base), so expected hits are the planted twins whose
      // partner landed in the store.
      val storePath = java.nio.file.Files
        .createTempDirectory("graft_smoke_mh").toString + "/idx"
      val corpus = synthDocs(rows, 25).where(pmod(col("doc_id"), lit(200)) =!= 1)
      val batch = synthDocs(rows, 25).where(pmod(col("doc_id"), lit(200)) === 1)
        .limit(100000)
      time("minhash_write_store", rows) {
        graft.ops.Dedup.writeMinhash(corpus, storePath,
          shingleSize = 1, numHashes = 64, bands = 16)
        rows
      }
      // dense stress probe: EVERY batch doc is a planted twin, so all
      // 100k reach the exact verify — the worst-case verify volume
      time("minhash_probe_dense_100k", 100000L) {
        val c = graft.ops.Dedup.nearDupesAgainstStore(
          spark, batch, storePath, minJaccard = 0.8).count()
        assert(c > 0, "planted twins must surface from the store")
        c
      }
      // realistic probe: ~1% dup density (1k planted twins + 99k novel
      // docs whose ids lie past the store, so they collide with nothing)
      // — the verify side shrinks with the candidates, leaving the band
      // join as the floor; this is the serving-shape number
      val realistic = batch.limit(1000).unionByName(
        synthDocs(rows + 99000L, 25).where(col("doc_id") >= rows))
      time("minhash_probe_1pct_100k", 100000L) {
        val c = graft.ops.Dedup.nearDupesAgainstStore(
          spark, realistic, storePath, minJaccard = 0.8).count()
        assert(c > 0 && c <= 2500, s"expected ~1k planted hits, got $c")
        c
      }
      // signature-estimated probe: the corpus-scan-free verify (sigs/ is
      // one narrow row per doc vs ~25 shingle rows) — the floor when the
      // exact verify dominates
      time("minhash_probe_1pct_est", 100000L) {
        val c = graft.ops.Dedup.nearDupesAgainstStoreEstimated(
          spark, realistic, storePath, minJaccardEst = 0.8).count()
        assert(c > 0 && c <= 2500, s"expected ~1k planted hits, got $c")
        c
      }
    }

    // 3. exact-substring span dedup: 2M docs x 30 tokens -> 22M windows
    section("exact_substr") {
      val rows = n(2000000L)
      val out = graft.ops.Dedup.exactSubstrDedup(synthDocs(rows, 30),
        windowTokens = 20)
      assertBucketed(out, "exact_substr_dedup")
      time("exact_substr_dedup", rows) { out.count() }
    }

    // 3b. incremental exact dedup: 100k batch vs 20M corpus — same-run
    // A/B of the corpus-side Bloom probe, closure-UDF (the old shape) vs
    // Catalyst's codegen'd BloomFilterMightContain (the current one).
    // Results must be identical; only the corpus scan's per-row cost
    // differs.
    section("bloom") {
      val rows = n(20000000L)
      // materialize the corpus to parquet so the A/B measures the PROBE
      // (scan + membership test), not 2x the deterministic text synthesis
      val corpusDir = java.nio.file.Files
        .createTempDirectory("graft_smoke_bloom").toString + "/corpus"
      synthDocs(rows, 15).write.parquet(corpusDir)
      val corpus = spark.read.parquet(corpusDir)
      // half the batch re-ships corpus texts (dups), half is novel
      val batch = synthDocs(rows + 50000L, 15)
        .where(col("doc_id") < 50000 || col("doc_id") >= rows)
      val native = graft.ops.Dedup.dedupAgainstCorpus(batch, corpus)
      assertBucketed(native, "bloom_dedup_native")
      // warm each arm once before timing: a single cold run measures the
      // one-time codegen compile, not the per-row probe (the first
      // native sample pays ~2 s of janino on a fresh JVM)
      var nNative = native.count()
      time("bloom_dedup_native", rows) {
        nNative = native.count(); nNative
      }
      // the pre-round-8 shape: same bloom bits, probed through a Scala
      // UDF on the corpus side (per-row boxing + interpreter round-trip)
      def udfTwin(): Long = {
        val digest = md5(col("text").cast("binary"))
        val batchD = batch.withColumn("__digest", digest)
        val bloom = batchD.stat.bloomFilter("__digest", 100000L, 0.01)
        val bc = spark.sparkContext.broadcast(bloom)
        val mightMatch = udf((d: String) => d != null && bc.value.mightContainString(d))
        val hits = corpus.select(digest.as("__digest"))
          .where(mightMatch(col("__digest"))).distinct()
        batchD.join(hits, Seq("__digest"), "left_anti").count()
      }
      assert(udfTwin() == nNative, s"UDF twin drifted vs $nNative") // warm
      time("bloom_dedup_udf", rows) { udfTwin() }
      // the isolated filter cost (the part the native expression buys):
      // corpus scan + membership test only, no downstream join
      val bfNat = batch.select(xxhash64(col("text")).as("__k"))
        .stat.bloomFilter("__k", 100000L, 0.01)
      val natFilter = corpus.where(graft.functions.BloomFunctions.bloomMightContain(
        graft.functions.BloomFunctions.bloomLit(spark, bfNat), xxhash64(col("text"))))
      natFilter.count() // warm
      time("bloom_filter_native_only", rows) { natFilter.count() }
      val bfStr = batch.select(md5(col("text").cast("binary")).as("__d"))
        .stat.bloomFilter("__d", 100000L, 0.01)
      val bcS = spark.sparkContext.broadcast(bfStr)
      val mmS = udf((d: String) => d != null && bcS.value.mightContainString(d))
      val udfFilter = corpus.select(md5(col("text").cast("binary")).as("__d"))
        .where(mmS(col("__d")))
      udfFilter.count() // warm
      time("bloom_filter_udf_only", rows) { udfFilter.count() }
      org.apache.commons.io.FileUtils.deleteQuietly(
        new java.io.File(corpusDir).getParentFile)
    }

    // 4. stratified sample at 50M rows, 100 strata x 1000 docs
    section("stratified") {
      val rows = n(50000000L)
      val docs = spark.range(rows).select(col("id").as("doc_id"),
        pmod(col("id"), lit(100)).cast("string").as("stratum"))
      val out = graft.ops.TrainingData.stratifiedSampleLarge(
        docs, "stratum", perStratum = 1000)
      assertBucketed(out, "stratified_sample_large")
      time("stratified_sample_large", rows) {
        val c = out.count()
        assert(c == 100 * 1000L, s"expected exactly 100k sampled, got $c")
        c
      }
    }

    // 5. token-budget mixture: 20M docs x 10 tokens across 8 sources
    section("token_mixture") {
      val rows = n(20000000L)
      val budgets = (0 until 8).map(s => s.toString -> 1000000L).toMap
      val out = graft.ops.TrainingData.tokenMixture(
        synthDocs(rows, 10), "source", budgets)
      assertBucketed(out, "token_mixture")
      time("token_mixture", rows) { out.count() }
    }

    // 6. BM25: index 5M docs x 25 words, score a 64-query batch at k=10.
    // The term-pruned probe must touch only postings of the queries'
    // terms — wall-clock is dominated by the one-time index build
    section("bm25_batch") {
      val rows = n(5000000L)
      val docs = synthDocs(rows, 25)
      val idx = graft.search.Bm25.buildIndex(docs, "doc_id", "text")
      val queries = spark.range(64).select(
        col("id").as("query_id"),
        concat_ws(" ",
          transform(sequence(lit(0), lit(4)),
            i => concat(lit("w"), pmod(xxhash64(col("id") * 37 + 5, i),
              lit(1000000))))).as("query_text"))
      val out = graft.search.Bm25.topKBatch(queries, idx, k = 10)
      assertBucketed(out, "bm25_batch")
      time("bm25_batch", rows) { out.count() }
    }

    // 6b. BM25 at rest: persist the 5M-doc index term-bucketed, probe it
    // FROM DISK with the scan restricted to the query terms' buckets —
    // the amortization boundary writeIndex exists for (build once, probe
    // forever; compare bm25_write_index vs bm25_at_rest_probe)
    section("bm25_at_rest") {
      val rows = n(5000000L)
      val path = java.nio.file.Files
        .createTempDirectory("graft_scale_bm25").toString + "/idx"
      time("bm25_write_index", rows) {
        // filesPerBucket is the write-parallelism knob: 1 (the fixture
        // default) means one task per bucket — 64 tasks over 125M
        // postings measured 134 s against 45 s for the pre-alignment
        // write's 4096 small files. 8 gives 512 bucket-pure tasks:
        // parallel encoding without the small-files regression.
        graft.search.Bm25.writeIndex(
          synthDocs(rows, 25), "doc_id", "text", path, termBuckets = 64,
          filesPerBucket = 8)
        rows
      }
      val idx = graft.search.Bm25.loadIndex(spark, path)
      val queries = spark.range(64).select(
        col("id").as("query_id"),
        concat_ws(" ",
          transform(sequence(lit(0), lit(4)),
            i => concat(lit("w"), pmod(xxhash64(col("id") * 37 + 5, i),
              lit(1000000))))).as("query_text"))
      val qTerms = queries.collect()
        .flatMap(r => graft.search.Bm25.tokenize(r.getString(1))).toSeq.distinct
      val restricted = graft.search.Bm25.restrictToTerms(idx, qTerms)
      val out = graft.search.Bm25.topKBatch(queries, restricted, k = 10)
      assertBucketed(out, "bm25_at_rest_probe")
      time("bm25_at_rest_probe", rows) { out.count() }

      // 6c. the delete lifecycle at the same scale: tombstone 100k docs
      // (mark-delete — O(deleted) bytes written, probes exclude at scan
      // stage via the broadcast anti-join branch), probe the marked
      // index, then compact (the full-rewrite cost a maintainer pays
      // ONCE per tombstone accumulation, not per probe)
      time("bm25_delete_100k_mark", rows) {
        graft.search.Bm25.deleteDocs(spark, path,
          (0L until 100000L).map(_ * 7L % rows).distinct)
        rows
      }
      time("bm25_probe_after_delete", rows) {
        val marked = graft.search.Bm25.restrictToTerms(
          graft.search.Bm25.loadIndex(spark, path), qTerms)
        graft.search.Bm25.topKBatch(queries, marked, k = 10).count()
      }
      time("bm25_compact_100k_dead", rows) {
        // filesPerBucket matches the write: keep the 8-file-per-bucket
        // read parallelism through the rewrite
        val (b, a) = graft.search.Bm25.compactIndex(spark, path, filesPerBucket = 8)
        assert(b - a > 90000, s"compact purged too few docs: $b -> $a")
        rows
      }
      time("bm25_probe_after_compact", rows) {
        val compacted = graft.search.Bm25.restrictToTerms(
          graft.search.Bm25.loadIndex(spark, path), qTerms)
        graft.search.Bm25.topKBatch(queries, compacted, k = 10).count()
      }
      org.apache.commons.io.FileUtils.deleteQuietly(
        new java.io.File(path).getParentFile)
    }

    // 6d. tiered segment merge: a streaming-maintained index accrues one
    // segment per micro-batch — 64 tail segments here over a 2M-doc seed.
    // Measure the probe on the fragmented index, the merge itself
    // (rewrites ONLY the tail — bytes ≈ the appended docs, never the
    // seed), and the probe after. The delta is the per-probe tax
    // fragmentation charges until a merge runs.
    section("bm25_merge") {
      val rows = n(2000000L)
      val appended = 64 * 2000L
      val path = java.nio.file.Files
        .createTempDirectory("graft_scale_bm25m").toString + "/idx"
      val all = synthDocs(rows + appended, 25)
      time("bm25m_write_seed", rows) {
        graft.search.Bm25.writeIndex(
          all.where(col("doc_id") < rows), "doc_id", "text", path,
          termBuckets = 64, filesPerBucket = 8)
        rows
      }
      time("bm25m_append_64_batches", appended) {
        (0 until 64).foreach { b =>
          graft.search.Bm25.appendIndex(spark,
            all.where(col("doc_id") >= rows + b * 2000L &&
              col("doc_id") < rows + (b + 1) * 2000L),
            path, "doc_id", "text")
        }
        appended
      }
      val queries = spark.range(64).select(
        col("id").as("query_id"),
        concat_ws(" ",
          transform(sequence(lit(0), lit(4)),
            i => concat(lit("w"), pmod(xxhash64(col("id") * 37 + 5, i),
              lit(1000000))))).as("query_text"))
      val qTerms = queries.collect()
        .flatMap(r => graft.search.Bm25.tokenize(r.getString(1))).toSeq.distinct
      def probe(label: String): Long = {
        val idx = graft.search.Bm25.restrictToTerms(
          graft.search.Bm25.loadIndex(spark, path), qTerms)
        graft.search.Bm25.topKBatch(queries, idx, k = 10).count()
      }
      var fragmented = 0L
      time("bm25m_probe_65_segments", rows) { fragmented = probe("frag"); fragmented }
      time("bm25m_merge_to_8", appended) {
        val (b, a) = graft.search.Bm25.mergeSegments(
          spark, path, targetSegments = 8, filesPerBucket = 8)
        assert(b == 65 && a == 8, s"expected 65 -> 8 segments, got $b -> $a")
        appended
      }
      time("bm25m_probe_8_segments", rows) {
        val c = probe("merged")
        assert(c == fragmented, s"merge changed probe cardinality: $c vs $fragmented")
        c
      }
      org.apache.commons.io.FileUtils.deleteQuietly(
        new java.io.File(path).getParentFile)
    }

    // 7. banded kNN join: top-5 neighbors for EVERY row of a 1M x 32-d
    // index with ~15-member natural clusters — the all-rows shape (a10's
    // scale path). Candidate volume for a kNN join is tables x N x
    // cluster-size by construction; a coarser cluster structure (the 2k-
    // member clusters of tier 1) makes ANY all-rows join intrinsically
    // quadratic-within-cluster and belongs to semantic dedup, not kNN
    section("knn_join") {
      val rows = n(1000000L)
      val index = spark.range(rows).select(
        col("id").as("vec_id"),
        transform(sequence(lit(0), lit(31)),
          i => ((pmod(xxhash64(pmod(col("id"), lit(65536)), i), lit(1000)) / 1000.0) +
            (pmod(xxhash64(col("id") + 7777, i), lit(100)) / 100.0 - 0.5) * 0.1)
            .cast("float")).as("embedding"))
      val out = graft.ops.Ann.knnJoinRp(index, k = 5,
        nTables = 4, nProjs = 3, width = 0.12, maxBucketSize = 100000)
      assertBucketed(out, "knn_join_rp")
      time("knn_join_rp", rows) { out.count() }
    }

    // 8. SQ8 at 1M x 32-d: end-to-end batch (encode + ADC scan + exact
    // re-rank), then an A/B of the ADC expression itself — flat codegen
    // columns (current) vs the interpreted-HOF formulation it replaced —
    // on the same persisted codes. The two sums must agree BITWISE (same
    // fold association), so the A/B also proves the rewrite is
    // value-invisible at scale.
    section("sq8") {
      val rows = n(1000000L)
      val index = clusteredVecs(rows, 32, 31337, "vec_id", "embedding")
      val queries = clusteredVecs(64, 32, 424242, "query_id", "query_vec")
      val out = graft.ops.Sq.sqTopKBatch(queries, index, k = 10, rerank = 32)
      // NOT assertBucketed: the ADC scan's plan is DELIBERATELY a
      // BroadcastNestedLoopJoin — the 64-row query batch broadcasts and
      // every code row streams past it once (that IS the flat scan SQ8
      // exists for; the broadcast side is query-batch-bounded, never
      // data-sized). Guard only against the unbounded shape.
      val sqPlan = out.queryExecution.executedPlan.toString
      assert(!sqPlan.contains("CartesianProduct"), "sq8_batch: cartesian in plan")
      assert(sqPlan.contains("BroadcastNestedLoopJoin"),
        "sq8_batch: expected the broadcast ADC scan shape")
      time("sq8_batch", rows) {
        val c = out.count(); assert(c == 64 * 10, s"expected 640 hits, got $c"); c
      }

      val model = graft.ops.Sq.fitBounds(index, "embedding")
      val codes = graft.ops.Sq.encode(index, model, "vec_id", "embedding")
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      codes.count()
      val scored = codes.crossJoin(
        broadcast(queries.select(col("query_id"), col("query_vec"))))
      // the pre-round-6 interpreted shape, reconstructed for measurement
      def hofAdc(cs: org.apache.spark.sql.Column,
          qv: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
        val mn = array(model.mins.map(lit).toIndexedSeq: _*)
        val sc = array(model.scales.map(lit).toIndexedSeq: _*)
        aggregate(sequence(lit(1), lit(model.dims)), lit(0.0), (acc, i) => {
          val vhat = element_at(mn, i) +
            element_at(cs, i).cast("double") * element_at(sc, i)
          val diff = element_at(qv, i).cast("double") - vhat
          acc + diff * diff
        })
      }
      var flatSum = 0.0
      var hofSum = 0.0
      time("sq8_adc_flat_codegen", rows * 64) {
        flatSum = scored.select(sum(
          graft.ops.Sq.adcDist2(col("codes"), col("query_vec"), model)))
          .head.getDouble(0)
        rows * 64
      }
      time("sq8_adc_interpreted_hof", rows * 64) {
        hofSum = scored.select(sum(hofAdc(col("codes"), col("query_vec"))))
          .head.getDouble(0)
        rows * 64
      }
      assert(flatSum == hofSum,
        s"flat-codegen ADC must be bit-identical to the HOF fold: $flatSum vs $hofSum")
      codes.unpersist()

      // at-rest split: write codes once, then the probe-only cost — the
      // serving economics. The round-6 tier showed fit+encode dominating
      // the end-to-end (~183 s) while the ADC scan is ~1 s; writeCodes
      // amortizes exactly that.
      val sqPath = java.nio.file.Files
        .createTempDirectory("graft_smoke_sq").toString + "/idx"
      time("sq8_write_codes", rows) {
        graft.ops.Sq.writeCodes(index, sqPath, "vec_id", "embedding")
        rows
      }
      time("sq8_probe_at_rest", rows) {
        val c = graft.ops.Sq.sqProbe(
          spark, sqPath, queries, index, k = 10, rerank = 32).count()
        assert(c == 64 * 10, s"expected 640 hits, got $c")
        c
      }
    }

    // 9. host-graph PageRank: ~10M-edge graph over 1M nodes, 10 integer-
    // grid rounds. 10% of edges point at node 0 (the planted hub), which
    // must finish with the top rank. With edges pre-partitioned by src
    // (prepEdges), per-round shuffle volume is rank-table-sized — the
    // ExplainAudit p17_iteration_shape pin, here timed at scale.
    section("pagerank") {
      val edgeRows = n(10000000L)
      val nodeCount = math.max(1000L, edgeRows / 10)
      val e = spark.range(edgeRows).select(
        pmod(col("id"), lit(nodeCount)).as("src"),
        when(pmod(col("id"), lit(10)) === 0, lit(0L))
          .otherwise(pmod(xxhash64(col("id")), lit(nodeCount))).as("dst"))
      time("pagerank_10_rounds", edgeRows) {
        val ranks = graft.ops.HostGraph.pageRank(e, iterations = 10)
        val top = ranks.orderBy(col("rank_scaled").desc).head
        assert(top.getLong(0) == 0L,
          s"planted hub (node 0) must rank first, got $top")
        ranks.count()
      }
      // TrustRank from 100 seed hosts: same iteration plan + a seed base
      // vector; the planted sink (node 0, linked from everywhere incl.
      // seed out-edges) must still surface. HITS runs 8 auth+hub rounds
      // over BOTH cached edge layouts.
      time("trustrank_10_rounds", edgeRows) {
        val seeds = spark.range(100).select(col("id").as("node"))
        val ranks = graft.ops.HostGraph.trustRank(e, seeds, iterations = 10)
        val top = ranks.orderBy(col("rank_scaled").desc).head
        assert(top.getLong(0) == 0L,
          s"planted sink must top trustRank, got $top")
        ranks.count()
      }
      time("hits_8_rounds", edgeRows) {
        val ha = graft.ops.HostGraph.hits(e, iterations = 8)
        val topAuth = ha.orderBy(col("auth_scaled").desc).head
        assert(topAuth.getLong(0) == 0L,
          s"planted sink must top authority, got $topAuth")
        ha.count()
      }
    }

    // 9b. exact phrase search at 2M docs: planted phrase "p0 p1 p2" in
    // every 1000th doc; the rarest-term prune must bound the verify side
    // to those docs (+ hash collisions), so the adjacency HOF never sees
    // the corpus.
    section("phrase") {
      val rows = n(2000000L)
      val docs = synthDocs(rows, 25).withColumn("text",
        when(pmod(col("doc_id"), lit(1000)) === 0,
          concat(col("text"), lit(" zq0phrase zq1marker zq2tail")))
          .otherwise(col("text")))
      val expected = (rows + 999) / 1000
      time("phrase_match_planted", rows) {
        val out = graft.search.Bm25.phraseMatches(
          docs, Seq((0L, "zq0phrase zq1marker zq2tail")))
        val c = out.count()
        assert(c == expected, s"expected $expected planted matches, got $c")
        c
      }

      // 9c. A/B the adjacency VERIFY itself under a COMMON anchor — the
      // regime the rarest-term prune deliberately lets "degrade to cost":
      // every doc ends in " zqca zqcb", the candidate set is the whole
      // corpus, and each candidate pays the verify over its full token
      // array. Old = the interpreted nested-sequence HOF phraseMatches
      // shipped through round 6; new = the codegen'd PhraseCount static
      // loop. Same candidates, counts asserted identical.
      val common = docs.withColumn("text",
        concat(col("text"), lit(" zqca zqcb")))
      val cand = common.select(col("doc_id"),
          graft.search.Bm25.tokensCol(col("text")).as("__toks"))
        .withColumn("__qtoks", array(lit("zqca"), lit("zqcb")))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      cand.count() // isolate the verify cost from the tokenize scan
      var hofTotal = 0L
      time("phrase_verify_hof", rows) {
        hofTotal = cand.withColumn("n",
          when(size(col("__toks")) < size(col("__qtoks")), lit(0)).otherwise(
            size(filter(
              sequence(lit(1), size(col("__toks")) - size(col("__qtoks")) + 1),
              i => size(filter(
                sequence(lit(0), size(col("__qtoks")) - 1),
                j => element_at(col("__toks"), (i + j).cast("int")) ===
                  element_at(col("__qtoks"), (j + 1).cast("int"))))
                === size(col("__qtoks"))))))
          .agg(sum(col("n"))).head.getLong(0)
        hofTotal
      }
      time("phrase_verify_codegen", rows) {
        val c = cand.withColumn("n",
          graft.functions.TextExpressions.phraseCount(col("__toks"), col("__qtoks")))
          .agg(sum(col("n"))).head.getLong(0)
        assert(c == hofTotal, s"codegen verify drifted: $c vs $hofTotal")
        c
      }
      cand.unpersist()
      time("phrase_match_common_anchor", rows) {
        val out = graft.search.Bm25.phraseMatches(common, Seq((0L, "zqca zqcb")))
        val c = out.count()
        assert(c == rows, s"expected $rows common-anchor matches, got $c")
        c
      }

      // 9d. phrase over the PERSISTED index: df for anchor selection from
      // the terms table instead of a corpus scan — drops one of the two
      // tokenizing passes (build timed separately; it amortizes over
      // every phrase batch)
      val phIdx = java.nio.file.Files
        .createTempDirectory("graft_smoke_ph").toString + "/idx"
      time("phrase_bm25_write_for_df", rows) {
        graft.search.Bm25.writeIndex(docs, "doc_id", "text", phIdx,
          termBuckets = 64)
        rows
      }
      time("phrase_match_indexed_df", rows) {
        val out = graft.search.Bm25.phraseMatchesIndexed(
          docs, graft.search.Bm25.loadIndex(spark, phIdx),
          Seq((0L, "zq0phrase zq1marker zq2tail")))
        val c = out.count()
        assert(c == expected, s"expected $expected planted matches, got $c")
        c
      }
    }

    // 10. sharded HNSW at 1M x 32-d: at-rest build (16 segment graphs,
    // one task each — the shard population ~62k is the per-executor
    // memory unit that must be sized at 100 TB), then a 64-query probe
    // from adjacency. The planted-cluster check: every query is a member
    // of a ~1k-member cluster (ids ≡ qid mod 1024), so its top-10 must
    // come back cluster-pure.
    section("hnsw") {
      val rows = n(1000000L)
      val index = clusteredVecs(rows, 32, 8181, "vec_id", "embedding")
      val path = java.nio.file.Files
        .createTempDirectory("graft_smoke_hnsw").toString + "/idx"
      val p = graft.ops.Hnsw.Params(
        m = 12, efConstruction = 100, efSearch = 80, numShards = 16)
      time("hnsw_write_index", rows) {
        graft.ops.Hnsw.write(index, path, p)
        spark.read.parquet(s"$path/segments").count()
      }
      val queries = index.where(col("vec_id") < 64)
        .select(col("vec_id").as("query_id"), col("embedding").as("query_vec"))
      val out = graft.ops.Hnsw.probe(spark, path, queries, 10)
      assertBucketed(out, "hnsw_probe")
      def purity(hits: Array[org.apache.spark.sql.Row], label: String): Long = {
        assert(hits.length == 64 * 10, s"$label: expected 640 hits, got ${hits.length}")
        val impure = hits.count(r => (r.getLong(1) - r.getLong(0)) % 1024 != 0)
        assert(impure.toDouble / hits.length <= 0.05,
          s"$label: cluster purity violated: $impure/${hits.length} off-cluster")
        hits.length
      }
      time("hnsw_at_rest_probe", rows) {
        purity(out.select(col("query_id"), col("vec_id")).collect(), "hash")
      }

      // routed twin on the same corpus: probes walk nProbe=4 of 16 shards
      // instead of all 16 — same planted-purity bar, ~4x less walk work
      val rpath = java.nio.file.Files
        .createTempDirectory("graft_smoke_hnsw_rt").toString + "/idx"
      time("hnsw_routed_write", rows) {
        graft.ops.Hnsw.writeRouted(index, rpath, p)
        spark.read.parquet(s"$rpath/segments").count()
      }
      time("hnsw_routed_probe_np4", rows) {
        purity(graft.ops.Hnsw.probeRouted(spark, rpath, queries, 10, nProbe = 4)
          .select(col("query_id"), col("vec_id")).collect(), "routed")
      }

      // 10b. tiered merge (bm25_merge's dense sibling): 32 micro-batch
      // appends leave 16 + 32x16 = 528 tiny graphs on the hash index;
      // probe pays a graph load per shard. Merge folds the tail back —
      // cost O(appended vectors) — and the probe recovers.
      val appended = 32 * 2000L
      val delta = clusteredVecs(rows + appended, 32, 8181, "vec_id", "embedding")
        .where(col("vec_id") >= rows)
      time("hnswm_append_32_batches", appended) {
        (0 until 32).foreach { b =>
          graft.ops.Hnsw.append(spark,
            delta.where(col("vec_id") >= rows + b * 2000L &&
              col("vec_id") < rows + (b + 1) * 2000L), path)
        }
        appended
      }
      time("hnswm_probe_528_shards", rows) {
        purity(graft.ops.Hnsw.probe(spark, path, queries, 10)
          .select(col("query_id"), col("vec_id")).collect(), "frag")
      }
      time("hnswm_merge_to_32", appended) {
        val (b, a) = graft.ops.Hnsw.mergeSegments(spark, path, targetShards = 32)
        assert(a <= 32, s"expected <=32 shards after merge, got $b -> $a")
        appended
      }
      time("hnswm_probe_merged", rows) {
        purity(graft.ops.Hnsw.probe(spark, path, queries, 10)
          .select(col("query_id"), col("vec_id")).collect(), "merged")
      }
    }

    // 11. round-9 codegen A/Bs: the three interpreted-HOF hot paths
    // rewritten onto codegen expressions, measured against their HOF
    // twins SAME-RUN on identical synthesized data. Equality is asserted
    // in-tier (checksum of every produced value), bit-identity is pinned
    // row-by-row in AnnSpec/DedupSpec. HOFs evaluate in the expression
    // interpreter (never whole-stage codegen) — the 27–57× class.
    // 12. round-10 additions at scale: BM25F fielded (per-field at-rest
    // layouts composed at probe time) and the semantic cache's exact-vs-
    // banded A/B — hits are planted exact duplicates, so banded recall on
    // them is guaranteed (identical band keys) and the two paths must
    // agree on every hit disposition.
    section("round10") {
      // 12a. BM25F: 1M two-field docs (short weighted title, long body),
      // both field indexes persisted, fielded probe composed from disk.
      val rows = n(1000000L)
      val docs = synthDocs(rows, 25)
        .select(col("doc_id"),
          concat(lit("title w"),
            pmod(xxhash64(col("doc_id") + 11), lit(1000000))).as("title"),
          col("text").as("body"))
      val bPath = java.nio.file.Files
        .createTempDirectory("graft_scale_bm25f").toString
      time("bm25f_write_2_fields", rows) {
        graft.search.Bm25.writeIndex(docs, "doc_id", "title", s"$bPath/title")
        graft.search.Bm25.writeIndex(docs, "doc_id", "body", s"$bPath/body")
        rows
      }
      // one title-field token (the title hash of doc id*151) + 3 body-family
      // tokens per query. Deliberately NO corpus-wide stopword: an
      // every-doc term is legitimate BM25F work (idf ≈ 0) but measures a
      // degenerate query, not the fielded probe (first cut measured 15 s
      // of scoring the literal token "title" against all 1M titles)
      val queries = spark.range(64).select(
        col("id").as("query_id"),
        concat_ws(" ",
          concat(lit("w"), pmod(xxhash64(col("id") * 151 + 11), lit(1000000))),
          transform(sequence(lit(0), lit(2)),
            i => concat(lit("w"), pmod(xxhash64(col("id") * 37 + 5, i),
              lit(1000000))))).as("query_text"))
      var fieldedOut: DataFrame = null
      time("bm25f_probe_construct", rows) {
        fieldedOut = graft.search.Bm25.bm25fProbeAtRest(spark,
          Seq(graft.search.Bm25.FieldIndex(s"$bPath/title", 2.5, 0.6),
            graft.search.Bm25.FieldIndex(s"$bPath/body", 1.0, 0.75)),
          queries, k = 10)
        rows
      }
      assertBucketed(fieldedOut, "bm25f_probe")
      time("bm25f_probe_at_rest", rows) { fieldedOut.count() }

      // 12b. semantic cache: 1M-entry cache, 64 queries of which half are
      // planted EXACT duplicates of cache entries (the re-asked-question
      // case) — exact broadcast scan vs banded RP path, same-run.
      val cacheRows = n(1000000L)
      val cache = clusteredVecs(cacheRows, 32, 4242, "cache_id", "embedding")
        .localCheckpoint(true)
      val dup = cache.where(pmod(col("cache_id"), lit(31250)) === 0)
        .select((col("cache_id") + 10000000L).as("query_id"),
          col("embedding").as("query_vec"))
      val fresh = clusteredVecs(32, 32, 99991, "query_id", "query_vec")
        .select(col("query_id") + 20000000L, col("query_vec"))
        .toDF("query_id", "query_vec")
      val qs = dup.unionByName(fresh).localCheckpoint(true)
      var exactHits = Set.empty[Long]
      var bandedHits = Set.empty[Long]
      time("semcache_exact_1m", cacheRows) {
        val r = graft.serve.SemanticCache.lookup(qs, cache, minCos = 0.999)
          .where(col("hit")).select("query_id").collect().map(_.getLong(0))
        exactHits = r.toSet; r.length
      }
      time("semcache_banded_1m", cacheRows) {
        val r = graft.serve.SemanticCache.lookupBanded(qs, cache, minCos = 0.999)
          .where(col("hit")).select("query_id").collect().map(_.getLong(0))
        bandedHits = r.toSet; r.length
      }
      assert(dup.select("query_id").collect().map(_.getLong(0))
        .forall(bandedHits.contains),
        "banded path must find every planted exact duplicate")
      assert(bandedHits.subsetOf(exactHits),
        "banded hits must be a subset of exact hits (precision law)")
    }

    section("round11") {
      // 13a. semantic-cache INTAKE at micro-batch scale: persisted 1M
      // cache, one 100k-query batch with 1% planted in-batch duplicate
      // pairs and 1% exact re-asks of cache entries. The pre-round-11
      // shape would pay a 10^11-pair exact lookup plus a 10^10-pair
      // within-batch nested loop; both now auto-route through the banded
      // paths. Vectors are RANDOM per distinct question (the realistic
      // cache shape — a clustered synthetic at cos 0.999 floods the band
      // join with same-cluster candidates banding cannot separate, which
      // is an ANN-threshold mismatch, not a serving workload).
      def randVec(idExpr: org.apache.spark.sql.Column, seed: Long) =
        transform(sequence(lit(0), lit(31)),
          i => (pmod(xxhash64(idExpr, i, lit(seed)), lit(1000000)) / 1000000.0)
            .cast("float"))
      val cacheRows = n(1000000L)
      val scPath = java.nio.file.Files
        .createTempDirectory("graft_scale_intake").toString + "/cache"
      spark.range(cacheRows).select(
        col("id").as("cache_id"), randVec(col("id"), 4242L).as("embedding"))
        .write.parquet(scPath)
      val batchRows = n(100000L)
      // id % 100 == 1: exact twin of id - 1 (in-batch loser, winner);
      // id % 100 == 2: exact re-ask of cache entry id % cacheRows
      val eff = when(pmod(col("id"), lit(100)) === 1, col("id") - 1)
        .otherwise(col("id"))
      val intakeBatchDf = spark.range(batchRows).select(
        (col("id") + 10000000L).as("query_id"),
        when(pmod(col("id"), lit(100)) === 2,
          randVec(pmod(col("id"), lit(cacheRows)), 4242L))
          .otherwise(randVec(eff + 777000000L, 20252025L)).as("query_vec"))
        .localCheckpoint(true)
      var disp: DataFrame = null
      time("semcache_intake_100k", batchRows) {
        disp = graft.serve.SemanticCache.intakeBatch(
          spark, intakeBatchDf, scPath, minCos = 0.999)
          .localCheckpoint(true)
        disp.count()
      }
      val twinHits = disp.where(col("hit") &&
        pmod(col("query_id"), lit(100)) === 1).count()
      assert(twinHits == batchRows / 100,
        s"every planted in-batch twin must hit its winner: $twinHits of ${batchRows / 100}")
      val cacheHits = disp.where(col("hit") &&
        pmod(col("query_id"), lit(100)) === 2).count()
      assert(cacheHits == batchRows / 100,
        s"every planted re-asked question must hit the cache: $cacheHits")
      val stored1 = spark.read.parquet(scPath).count()
      time("semcache_intake_replay", batchRows) {
        graft.serve.SemanticCache.intakeBatch(
          spark, intakeBatchDf, scPath, minCos = 0.999).count()
      }
      assert(spark.read.parquet(scPath).count() == stored1,
        "a replayed intake batch must not grow the cache")

      // 13b. per-source calibration at 5M rows × 5k sources — the regime
      // the literal when-chain made pathological (a 5000-deep expression
      // tree); the broadcast cut join must make it one aggregate + one
      // broadcast join.
      val calRows = n(5000000L)
      time("calibrate_5m_5k_sources", calRows) {
        val df = spark.range(calRows).select(
          col("id").as("doc_id"),
          pmod(xxhash64(col("id")), lit(5000)).cast("string").as("source"),
          (pmod(xxhash64(col("id"), lit(7)), lit(1000000)) / 1e6).as("score"))
        graft.ops.TextAnalytics
          .calibrateScoresApprox(df, "source", "score", keepFrac = 0.5)
          .where(col("keep")).count()
      }
    }

    section("round12") {
      def randVec(idExpr: org.apache.spark.sql.Column, seed: Long) =
        transform(sequence(lit(0), lit(31)),
          i => (pmod(xxhash64(idExpr, i, lit(seed)), lit(1000000)) / 1000000.0)
            .cast("float"))
      // 14a. the COMPOSED cached-RAG loop at the banded regime (round-11
      // verdict #1's done-criterion): 100k-query batch against a
      // persisted 1M answer-bearing cache — 10^11 batch × cache pairs,
      // the product the pre-round-12 exact-pinned lookup was measured to
      // OOM on. The shared router sends the loop's lookup AND its
      // intake down the deep-AND banded path; the hit-answer fetch rides
      // the IN pushdown. 1% exact re-asks of cache entries must be
      // served from the STORE at cost 0.
      val cacheRows = n(1000000L)
      val ragCache = java.nio.file.Files
        .createTempDirectory("graft_scale_crag").toString + "/cache"
      spark.range(cacheRows).select(
        col("id").as("cache_id"), randVec(col("id"), 4242L).as("embedding"),
        concat(lit("stored answer "), col("id")).as("answer"))
        .write.parquet(ragCache)
      val batchRows = n(100000L)
      val ragBatch = spark.range(batchRows).select(
        (col("id") + 10000000L).as("query_id"),
        concat(lit("question "), col("id")).as("question"),
        when(pmod(col("id"), lit(100)) === 2,
          randVec(pmod(col("id"), lit(cacheRows)), 4242L))
          .otherwise(randVec(col("id") + 777000000L, 20252025L)).as("query_vec"))
        .localCheckpoint(true)
      val answerMisses: DataFrame => DataFrame = missQ =>
        missQ.select(col("query_id"), col("question"),
          concat(lit("computed: "), col("question")).as("answer"),
          lit(0.5).as("cost"))
      var served: DataFrame = null
      time("cachedrag_100k_x_1m", batchRows) {
        served = graft.serve.CachedRag.cachedAnswerBatch(
          spark, ragBatch, ragCache, minCos = 0.999, answerMisses)
          .localCheckpoint(true)
        served.count()
      }
      val reAsks = served.where(pmod(col("query_id"), lit(100)) === 2)
      val servedFromStore = reAsks.where(col("hit") && col("cost") === 0.0 &&
        col("answer").startsWith("stored answer")).count()
      assert(servedFromStore == batchRows / 100,
        s"every planted re-ask must be served from the store at cost 0: " +
          s"$servedFromStore of ${batchRows / 100}")

      // 14b. cutoff eviction at a multi-million cap (round-11 verdict
      // #3's done-criterion): the orderBy+limit shape funneled the WHOLE
      // store through a single-partition GlobalLimit and broadcast
      // `cap` ids; the cutoff shape is one percentile + one exact count
      // + a scan-stage filter.
      val evictRows = n(4000000L)
      val evPath = java.nio.file.Files
        .createTempDirectory("graft_scale_evict").toString + "/cache"
      spark.range(evictRows).select(
        col("id").as("cache_id"),
        transform(sequence(lit(0), lit(7)),
          i => (pmod(xxhash64(col("id"), i), lit(1000)) / 1000.0).cast("float"))
          .as("embedding"),
        concat(lit("ans "), col("id")).as("answer"))
        .write.parquet(evPath)
      val cap = (evictRows * 3 / 4).toInt
      time("evict_cutoff_4m_to_3m", evictRows) {
        val (b, a) = graft.serve.SemanticCache.evictCache(spark, evPath, cap)
        assert(b == evictRows && a == cap, s"evict law drifted: $b -> $a")
        a
      }
      val minKept = spark.read.parquet(evPath)
        .agg(min(col("cache_id"))).head.getLong(0)
      assert(minKept == evictRows - cap,
        s"FIFO keep law: min kept id must be ${evictRows - cap}, got $minKept")

      // 14c. LRU eviction at the same cap scale: the 3M-entry store from
      // 14b plus a synthetic disposition history refreshing its OLDEST
      // million (one batch dir — recency folds as one cache-bounded
      // aggregate + a driver-sized histogram + an id cutoff within the
      // single -1 band). Cap 2M keeps the refreshed million PLUS the
      // youngest million of the never-served band — exactly the set FIFO
      // would get wrong.
      val lruDisp = java.nio.file.Files
        .createTempDirectory("graft_scale_lru").toString + "/disp"
      val lo = evictRows - cap // 14b's min kept id
      val refreshedHi = lo + cap / 3
      spark.range(lo, refreshedHi).select(
        col("id").as("cache_id"), lit(true).as("hit"), lit(0.0).as("cost"))
        .write.parquet(s"$lruDisp/batch=1")
      val lruCap = (cap * 2 / 3).toInt
      time("evict_lru_3m_to_2m", cap.toLong) {
        val (b, a) = graft.serve.SemanticCache
          .evictCacheLru(spark, evPath, lruDisp, lruCap)
        assert(b == cap && a == lruCap, s"LRU evict law drifted: $b -> $a")
        a
      }
      val keptLru = spark.read.parquet(evPath)
      val nRefreshed = keptLru
        .where(col("cache_id") >= lo && col("cache_id") < refreshedHi).count()
      assert(nRefreshed == cap / 3,
        s"every refreshed entry must survive the LRU cap: $nRefreshed")
      val minBand = keptLru.where(col("cache_id") >= refreshedHi)
        .agg(min(col("cache_id"))).head.getLong(0)
      assert(minBand == evictRows - (lruCap - cap / 3),
        s"the never-served band must keep its youngest ids FIFO: $minBand")

      // 14d. one chat TURN against session-scale conversational state: a
      // 2M-session memory table (8M rows — every session two remembered
      // turns, landed in the round-13 BUCKETED layout) served a
      // 1k-session batch. The turn's memory read targets the arriving
      // sessions' bucket dirs and pushes the session ids into those
      // scans (the round-12 chatTurn fix — the pre-fix shape scanned
      // and checkpointed ALL sessions' history every turn), so the turn
      // costs the BATCH, not the state. Every prompt must carry its
      // session's 4 remembered rows (3 + 2·4 = 11).
      val nSessions = n(2000000L)
      val chatRoot = java.nio.file.Files
        .createTempDirectory("graft_scale_chat").toString
      val memDir = s"$chatRoot/memory"
      spark.range(nSessions).select(
        concat(lit("s"), col("id")).as("session_id"),
        explode(sequence(lit(0L), lit(3L))).as("turn"))
        .select(col("session_id"), col("turn"),
          when(pmod(col("turn"), lit(2)) === 0, "user").otherwise("assistant").as("role"),
          concat(lit("remembered message "), col("turn")).as("content"))
        .withColumn("sbucket", graft.serve.ChatRag.bucketExpr(16))
        .write.partitionBy("sbucket").parquet(memDir)
      // record the fan-out this direct write used — a markerless
      // bucketed table refuses at read (the count cannot be inferred)
      val memFs12 = new org.apache.hadoop.fs.Path(memDir)
        .getFileSystem(spark.sessionState.newHadoopConf())
      memFs12.mkdirs(new org.apache.hadoop.fs.Path(s"$memDir/_nbuckets"))
      memFs12.create(
        new org.apache.hadoop.fs.Path(s"$memDir/_nbuckets/16"), true).close()
      def chatBatch(qidOff: Long) = spark.range(1000).select(
        concat(lit("s"), col("id") * (nSessions / 1000)).as("session_id"),
        (col("id") + qidOff).as("query_id"),
        concat(lit("chat question "), col("id")).as("question"),
        randVec(col("id") + 999000000L, 77L).as("query_vec"))
        .localCheckpoint(true)
      def oneTurn(label: String, qidOff: Long,
          maintenance: Option[graft.ops.Layout.MaintenancePolicy] = None): DataFrame = {
        var turn: DataFrame = null
        time(label, 1000L) {
          turn = graft.serve.ChatRag.chatTurn(spark, chatBatch(qidOff),
            memDir, s"$chatRoot/cache", minCos = 0.999,
            answerMisses, maintenance = maintenance).localCheckpoint(true)
          turn.count()
        }
        turn
      }
      val turn = oneTurn("chat_turn_1k_x_2m_sessions", 50000000L)
      val okPrompts = turn.where(col("n_prompt_msgs") === 11 && col("turn") === 4).count()
      assert(okPrompts == 1000L,
        s"every prompt must carry its session's remembered rows: $okPrompts of 1000")

      // 14e. the round-12 done-criterion: the SAME turn cost class after
      // hundreds of accumulated per-turn append files. 300 single-turn
      // appends land as 300 one-file commits spread over the 16 bucket
      // dirs (one task per session — byte-identical to chatTurn's write
      // path), then a turn must still cost the batch; the maintenance
      // turn folds each bucket with the policy's file-compact arm and
      // the post-fold turn re-checks. Re-asked vectors hit turn 1's
      // minted entries at cost 0, so what these turns measure is exactly
      // the memory read + append under file accumulation.
      spark.range(300).select(
        concat(lit("old"), col("id")).as("session_id"),
        explode(sequence(lit(0L), lit(1L))).as("turn"))
        .select(col("session_id"), col("turn"),
          when(col("turn") === 0, "user").otherwise("assistant").as("role"),
          lit("accumulated prior turn").as("content"))
        .repartition(300, col("session_id"))
        .withColumn("sbucket", graft.serve.ChatRag.bucketExpr(16))
        .write.mode("append").partitionBy("sbucket").parquet(memDir)
      val t2 = oneTurn("chat_turn_after_300_files", 51000000L)
      assert(t2.where(col("n_prompt_msgs") === 15 && col("turn") === 6).count() == 1000L,
        "turn-2 prompts must carry 6 remembered rows")
      // the due signal is now PER BUCKET (round-13 verdict #1a), so the
      // threshold scopes to a bucket dir's own count: ~19 of the 300
      // accumulated files land in each of the 16 buckets
      val pol = graft.ops.Layout.MaintenancePolicy(maxSmallFiles = 8)
      val t3 = oneTurn("chat_turn_fold", 52000000L, maintenance = Some(pol))
      assert(t3.where(col("turn") === 8).count() == 1000L)
      val fs = new org.apache.hadoop.fs.Path(memDir)
        .getFileSystem(spark.sessionState.newHadoopConf())
      val dataFiles = {
        val it = fs.listFiles(new org.apache.hadoop.fs.Path(memDir), true)
        var nF = 0
        while (it.hasNext) {
          val f = it.next()
          val nm = f.getPath.getName
          if (!nm.startsWith("_") && !nm.startsWith(".") && f.getLen > 0) nF += 1
        }
        nF
      }
      assert(dataFiles < 300,
        s"the policy must fold the accumulated turn files: $dataFiles remain")
      val t4 = oneTurn("chat_turn_post_fold", 53000000L)
      assert(t4.where(col("n_prompt_msgs") === 23 && col("turn") === 10).count() == 1000L,
        "the fold must not lose a remembered row")

      // 14f. the round-13 done-criterion for the tiered fold: cost tracks
      // the FRESH small-file bytes, not the settled state. Two dirs carry
      // the SAME 128 fresh small files over a 1× vs 10× settled base —
      // compactSmallFiles must rewrite the same bytes on both (settled
      // files hop by metadata-only rename, never read), so the fold time
      // stays flat as the base grows 10×.
      def mkTier(name: String, settledParts: Int): String = {
        val dir = s"$chatRoot/$name"
        // sha2 payload: dictionary-resistant, so each settled part lands
        // well above the 4 MB tier boundary (~15 MB) instead of snappy
        // compressing below it
        spark.range(settledParts * 200000L).select(
          col("id").as("session_id"),
          concat(sha2(col("id").cast("string"), 256),
            sha2(concat(lit("x"), col("id")), 256)).as("content"))
          .repartition(settledParts)
          .write.parquet(dir)
        spark.range(128L * 2000).select(
          col("id").as("session_id"),
          concat(lit("fresh small-file row "), col("id")).as("content"))
          .repartition(128)
          .write.mode("append").parquet(dir)
        dir
      }
      val tier1 = mkTier("fold_tier_1x", 2)
      val tier10 = mkTier("fold_tier_10x", 20)
      val preRows1 = spark.read.parquet(tier1).count()
      val preRows10 = spark.read.parquet(tier10).count()
      var st1: graft.ops.Layout.TieredCompactStats = null
      var st10: graft.ops.Layout.TieredCompactStats = null
      time("tiered_fold_1x_base", 128L * 2000) {
        st1 = graft.ops.Layout.compactSmallFiles(spark, tier1,
          targetBytes = 4L << 20)
        st1.filesAfter.toLong
      }
      time("tiered_fold_10x_base", 128L * 2000) {
        st10 = graft.ops.Layout.compactSmallFiles(spark, tier10,
          targetBytes = 4L << 20)
        st10.filesAfter.toLong
      }
      assert(st1.rewrittenBytes == st10.rewrittenBytes,
        s"the settled base leaked into the fold: ${st1.rewrittenBytes} vs " +
          s"${st10.rewrittenBytes} bytes rewritten")
      assert(st10.untouchedFiles >= 20,
        s"the 10x settled base must hop untouched: ${st10.untouchedFiles}")
      assert(spark.read.parquet(tier1).count() == preRows1 &&
        spark.read.parquet(tier10).count() == preRows10,
        "tiered fold must preserve every row")
    }

    section("round12b") {
      // 15a. WARC write→parse at corpus scale: 2M synthetic docs
      // (~realistic 40-word pages) sharded into 256 gzip-per-record
      // blobs — the Common Crawl layout — then streamed back through
      // the parser + mojibake-safe decode. The parallel unit is the
      // blob (≙ file), so throughput scales with cores; the roundtrip
      // count is the correctness assert.
      val wRows = n(2000000L)
      val wRecs = synthDocs(wRows, 40).select(
        pmod(col("doc_id"), lit(256)).cast("long").as("shard"),
        concat(lit("http://c.local/doc/"), col("doc_id")).as("uri"),
        concat(lit("urn:g:"), col("doc_id")).as("rid"),
        encode(col("text"), "UTF-8").as("payload"))
      var blobs: DataFrame = null
      time("warc_write_gz", wRows) {
        blobs = graft.ingest.Warc
          .toWarcBlobs(wRecs, "shard", "uri", "rid", "payload")
          .localCheckpoint(true)
        blobs.count()
      }
      val gzMb = blobs.agg(sum(length(col("content")))).head.getLong(0) / 1e6
      val parsed = graft.ingest.Warc.responseText(
        graft.ingest.Warc.parseBlobs(blobs, "content"))
      assertBucketed(parsed, "warc_parse")
      var parsedN = 0L
      time("warc_parse_decode", wRows) { parsedN = parsed.count(); parsedN }
      assert(parsedN == wRows, s"warc roundtrip lost rows: $parsedN of $wRows")
      println(f"   (archive size: $gzMb%.0f MB gzipped)")

      // 15b. MMR over the banded fetch route: 10k queries diversified
      // against a 1M-vector index — the fetch (rpTopKBatch) carries the
      // corpus cost, the greedy stage adds one query-keyed pass over
      // fetchK=32 candidates per query. Deep-AND banding (8×6): the
      // clustered synthetic corpus under the shallow 8×3 default admits
      // bucket-sized candidate sets (measured: a 79 GB sort spill at
      // this query count) — the same dense-data lesson as the semantic
      // cache's banded route.
      val mQ = n(10000L); val mIdx = n(1000000L)
      val idx = clusteredVecs(mIdx, 32, 7, "vec_id", "embedding")
        .localCheckpoint(true)
      val mq = clusteredVecs(mQ, 32, 99, "query_id", "query_vec")
      val mmr = graft.search.Mmr.mmrTopKBatch(
        mq, idx, k = 8, fetchK = 32, approx = true, idCol = "vec_id",
        nTables = 8, nProjs = 6)
      var mmrN = 0L
      time("mmr_banded_10k_x_1m", mQ) { mmrN = mmr.count(); mmrN }
      assert(mmrN > 0 && mmrN <= mQ * 8, s"mmr row count off: $mmrN")
    }

    section("round12c") {
      // 16a. PMI collocations at corpus scale: 10M docs × 25 tokens —
      // the bigram explode is ~240M rows through one keyed aggregate;
      // the planted near-dup pairs (~1%) are the repeated-bigram mass
      // that survives the prune
      val cRows = n(10000000L)
      val cd = synthDocs(cRows, 25).localCheckpoint(true)
      val coll = graft.ops.TextAnalytics.collocations(cd, minPairCount = 2L)
      assertBucketed(coll, "collocations")
      var nColl = 0L
      time("collocations_10m_docs", cRows) { nColl = coll.count(); nColl }
      assert(nColl > 0, "planted dup-doc bigrams must survive the prune")

      // 16b. ROUGE-2 at eval-set scale: 1M (candidate, reference) pairs
      // of ~25-token texts — pair-local grams, one (pair, gram) shuffle;
      // identical-prefix pairs so overlap is non-trivial end to end
      val rRows = n(1000000L)
      val rp = synthDocs(rRows, 25)
        .select(col("doc_id").as("pair_id"), col("text").as("candidate"),
          concat(col("text"), lit(" tail alpha beta")).as("reference"))
        .localCheckpoint(true)
      val rn = graft.serve.GenEval.rougeN(rp, 2)
      assertBucketed(rn, "rouge")
      var rOut = 0L
      time("rouge2_1m_pairs", rRows) { rOut = rn.count(); rOut }
      assert(rOut == rRows, s"every pair must emit a row: $rOut of $rRows")
    }

    section("codegen_ab") {
      // 11a. rp banding: 10M x 32-d, 8 tables x 3 projs — the banding
      // engine under a6/a3/cosinePairsRp/rpTopKBatch. The flat form
      // inlines driver-computed coefficients; the HOF form re-hashed
      // every (table, proj, dim) per row inside an interpreted fold.
      val rows = n(10000000L)
      val vecs = clusteredVecs(rows, 32, 7777, "vec_id", "embedding")
        .localCheckpoint(true) // isolate the A/B from synthesis cost
      def bandChecksum(key: Int => org.apache.spark.sql.Column): Long =
        vecs.select(xxhash64(
          (0 until 8).map(t => key(t)): _*).as("h"))
          // bit_xor, not sum: summing 10M xxhash64 longs overflows under
          // ANSI; xor is an exact, overflow-free equality checksum
          .agg(expr("bit_xor(h)")).head.getLong(0)
      var flatSum = 0L; var hofSum = 0L
      time("rp_band_flat_8x3", rows) {
        flatSum = bandChecksum(t =>
          graft.ops.Ann.rpBandKey(col("embedding"), 32, t, 3, 0.12)); rows
      }
      time("rp_band_hof_8x3", rows) {
        hofSum = bandChecksum(t =>
          graft.ops.Ann.rpBandKeyHof(col("embedding"), t, 3, 0.12)); rows
      }
      assert(flatSum == hofSum, "flat banding diverged from the HOF twin")

      // 11b. simhash: 10M docs x 25 tokens — one static call per row vs
      // 64 interpreted aggregate passes per document.
      val docs = synthDocs(rows, 25)
        .select(col("doc_id"),
          split(lower(trim(col("text"))), "\\s+").as("toks"))
        .localCheckpoint(true)
      var fastSum = 0L; var hofSimSum = 0L
      time("simhash_expr", rows) {
        fastSum = docs.select(graft.ops.Dedup.simhash(col("toks")).as("s"))
          .agg(expr("bit_xor(s)")).head.getLong(0); rows
      }
      time("simhash_hof", rows) {
        hofSimSum = docs.select(graft.ops.Dedup.simhashHof(col("toks")).as("s"))
          .agg(expr("bit_xor(s)")).head.getLong(0); rows
      }
      assert(fastSum == hofSimSum, "simhash expression diverged from the HOF twin")

      // 11c. the RP cosine pipeline's per-row normalize + per-pair
      // verify dot: 5M unit pairs — the wide-slab regime where PERF.md
      // says the exact verify carries the cost.
      val prows = n(5000000L)
      val pairs = clusteredVecs(prows, 32, 91, "id", "va")
        .withColumn("vb", col("va"))
        .localCheckpoint(true)
      def unitHof(c: org.apache.spark.sql.Column) = {
        val norm = sqrt(aggregate(transform(c, x => x.cast("double") * x.cast("double")),
          lit(0.0), (a, b) => a + b))
        transform(c, x => x.cast("double") / norm)
      }
      var dSum = 0.0; var dHofSum = 0.0
      time("unit_dot_expr", prows) {
        dSum = pairs.select(graft.functions.VectorFunctions.dotProductD(
          graft.functions.VectorFunctions.unitVector(col("va")),
          graft.functions.VectorFunctions.unitVector(col("vb"))).as("d"))
          .agg(sum("d")).head.getDouble(0); prows
      }
      time("unit_dot_hof", prows) {
        dHofSum = pairs.select(aggregate(
          zip_with(unitHof(col("va")), unitHof(col("vb")), _ * _),
          lit(0.0), (a, b) => a + b).as("d"))
          .agg(sum("d")).head.getDouble(0); prows
      }
      assert(math.abs(dSum - dHofSum) < 1e-6 * prows,
        s"codegen unit/dot diverged from the HOF twin: $dSum vs $dHofSum")
    }

    section("round13") {
      // 17. the web-corpus front door AT SCALE — ep8/st21's composed
      // shape driven end to end at crawl size: 2M response records in
      // 256 gzip-per-record archives (the 15a layout) parsed, decoded,
      // markup-stripped, sectionized, chunked, embedded through a FROZEN
      // TF-IDF fit (production freezes the embedder before the landing
      // stream starts; the fit itself is one bounded-sample pass), and
      // MoR-upserted as one ingest wave. Proves the pipeline's only
      // shuffle is the sectionizer's doc-keyed window + the write — the
      // parse/decode/strip stretch is the audited one-task-per-archive
      // shape.
      val iRows = n(2000000L)
      val iRecs = synthDocs(iRows, 40).select(
        pmod(col("doc_id"), lit(256)).cast("long").as("shard"),
        concat(lit("http://c.local/doc/"), col("doc_id")).as("uri"),
        concat(lit("urn:g:"), col("doc_id")).as("rid"),
        encode(concat(lit("<html><body><pre>"), col("text"),
          lit("</pre></body></html>")), "UTF-8").as("payload"))
      val iBlobs = graft.ingest.Warc.toWarcBlobs(
        iRecs, "shard", "uri", "rid", "payload",
        contentType = "text/html; charset=utf-8").localCheckpoint(true)
      iBlobs.count()
      def corpus = graft.ingest.Warc.responseText(
        graft.ingest.Warc.parseBlobs(iBlobs, "content"))
        .select(
          element_at(split(col("target_uri"), "/"), -1).cast("long").as("doc_id"),
          graft.ingest.TextSources.stripMarkup(col("text")).as("text"))
      assertBucketed(corpus, "warc_to_index corpus stretch")
      val fitted = graft.index.VectorIndex.fit(
        corpus.where(pmod(col("doc_id"), lit(20)) === 0)) // 5% fit sample
      val w2iPath = java.nio.file.Files
        .createTempDirectory("graft_scale_w2i").toString + "/idx"
      time("warc_to_index_2m", iRows) {
        graft.index.VectorIndex.upsertDocs(spark, corpus, w2iPath, fitted,
          epoch = 1)
      }
      val nActive = graft.index.VectorIndex.loadActive(spark, w2iPath).count()
      assert(nActive >= iRows,
        s"the ingested corpus must be fully indexed: $nActive chunks for $iRows docs")
    }

    section("round14") {
      // 18. memory-lifecycle ops at deployment scale: an 8M-row memory
      // table (2M sessions × 4 rows, 64 buckets). The claims under time:
      //   - deleteSessions costs the VICTIMS' bucket dirs, not the state
      //     (100 victims spread over ≤64 of 64 buckets — but a 256-bucket
      //     table would touch ≤100/256th; the per-dir rewrite is the unit);
      //   - pruneIdleSessions sweeps every bucket once (one filter-rewrite
      //     per dir holding idle sessions);
      //   - rebucketMemoryTable is the documented full-state rewrite —
      //     recorded so the "rare explicit action" claim has a number.
      val nSessions = n(2000000L)
      val memRoot = java.nio.file.Files
        .createTempDirectory("graft_scale_mlc").toString
      val mem = s"$memRoot/memory"
      spark.range(nSessions).select(
        concat(lit("s"), col("id")).as("session_id"),
        explode(sequence(lit(0L), lit(3L))).as("turn"))
        .select(col("session_id"), col("turn"),
          when(pmod(col("turn"), lit(2)) === 0, "user").otherwise("assistant").as("role"),
          concat(lit("remembered message "), col("turn")).as("content"),
          // stamped ages: half the sessions idle (ts 1000), half live (2000)
          when(pmod(crc32(col("session_id").cast("binary")), lit(2)) === 0,
            lit(1000L)).otherwise(lit(2000L)).as("ts"))
        .withColumn("sbucket", graft.serve.ChatRag.bucketExpr(64))
        .write.partitionBy("sbucket").parquet(mem)
      // record the fan-out the way chatTurn-created tables carry it —
      // deleteSessions targets victim buckets ONLY through this marker
      // (a markerless table gets the correct-but-full sweep)
      val memFs = new org.apache.hadoop.fs.Path(mem)
        .getFileSystem(spark.sessionState.newHadoopConf())
      memFs.mkdirs(new org.apache.hadoop.fs.Path(s"$mem/_nbuckets"))
      memFs.create(new org.apache.hadoop.fs.Path(s"$mem/_nbuckets/64"), true)
        .close()
      val victims = (0 until 100).map(i => s"s${i * (nSessions / 100)}")
      var removed = 0L
      time("memory_delete_100_of_2m", nSessions) {
        removed = graft.serve.ChatRag.deleteSessions(spark, mem, victims)
        removed
      }
      assert(removed == 400L, s"100 sessions x 4 rows must go: $removed")
      var pruned = 0L
      time("memory_prune_idle_half", nSessions) {
        pruned = graft.serve.ChatRag.pruneIdleSessions(spark, mem,
          beforeTs = 1500L)
        pruned
      }
      assert(pruned > 0 && pruned < nSessions * 4,
        s"the idle half must go, the live half stay: $pruned")
      val liveRows = nSessions * 4 - removed - pruned
      time("memory_rebucket_64_to_256", nSessions) {
        graft.serve.ChatRag.rebucketMemoryTable(spark, mem, newBuckets = 256)
        1L
      }
      assert(graft.serve.PartitionedTable.read(spark, mem)
        .count() == liveRows, "the resize must be row-exact")
    }

    section("round15") {
      // 19. chat-log retention on the day= layout (round-14 verdict #1):
      // a horizon advance must cost the freshly-retired days, not the
      // log. Two logs carry the SAME per-day volume over a 1× vs 10× day
      // count; pruning ONE day from each must cost the same (one
      // footer-metadata count + one partition rename — no data page).
      val logRoot = java.nio.file.Files
        .createTempDirectory("graft_scale_log").toString
      val rowsPerDay = n(200000L)
      def mkLog(name: String, days: Int): String = {
        val dir = s"$logRoot/$name"
        val rows = spark.range(days * rowsPerDay).select(
          concat(lit("u"), pmod(col("id"), lit(1000))).as("user"),
          concat(lit("message "), col("id")).as("message"),
          concat(lit("response "), col("id")).as("response"),
          (expr(s"id div ${rowsPerDay}L") * lit(100L) +
            pmod(col("id"), lit(100))).cast("long").as("ts"))
        graft.serve.ChatLog.append(rows, dir, dayWidth = 100L)
        dir
      }
      val log1 = mkLog("log_1x", 10)
      val log10 = mkLog("log_10x", 100)
      var p1 = 0L; var p10 = 0L
      time("chatlog_prune_day_1x", rowsPerDay) {
        p1 = graft.serve.ChatLog.pruneBefore(spark, log1, beforeTs = 100L)
        p1
      }
      time("chatlog_prune_day_10x", rowsPerDay) {
        p10 = graft.serve.ChatLog.pruneBefore(spark, log10, beforeTs = 100L)
        p10
      }
      assert(p1 == rowsPerDay && p10 == rowsPerDay,
        s"each prune retires exactly day 0: $p1 / $p10 of $rowsPerDay")
      val fsLog = new org.apache.hadoop.fs.Path(log10)
        .getFileSystem(spark.sessionState.newHadoopConf())
      assert(!fsLog.exists(new org.apache.hadoop.fs.Path(s"$log10/day=0")) &&
        fsLog.exists(new org.apache.hadoop.fs.Path(s"$log10/day=1")))
      // deleteUsers sweeps only LIVE partitions (99 remaining days here;
      // on a retention-bounded deployment that is the window, not the
      // log's lifetime) — recorded so the bounded-by-horizon claim has a
      // number
      time("chatlog_delete_user_10x", rowsPerDay * 99) {
        graft.serve.ChatLog.deleteUsers(spark, log10, Seq("u5"))
      }

      // 20. recency-gated idle retention (round-14 verdict #2): a firing
      // with nothing idle must read sidecars only — flat in state size —
      // vs the pre-sidecar full-state scan. The full-scan firing
      // BOOTSTRAPS the sidecars it lacked, so the third firing is gated
      // again: legacy tables pay the old cost exactly once.
      val nS = n(2000000L)
      val mem2 = s"$logRoot/memory_live"
      spark.range(nS).select(
        concat(lit("s"), col("id")).as("session_id"),
        explode(sequence(lit(0L), lit(3L))).as("turn"))
        .select(col("session_id"), col("turn"),
          when(pmod(col("turn"), lit(2)) === 0, "user").otherwise("assistant").as("role"),
          concat(lit("remembered message "), col("turn")).as("content"),
          lit(2000L).as("ts")) // everyone live: the no-idle steady state
        .withColumn("sbucket", graft.serve.ChatRag.bucketExpr(64))
        .write.partitionBy("sbucket").parquet(mem2)
      val memFs2 = new org.apache.hadoop.fs.Path(mem2)
        .getFileSystem(spark.sessionState.newHadoopConf())
      memFs2.mkdirs(new org.apache.hadoop.fs.Path(s"$mem2/_nbuckets"))
      memFs2.create(new org.apache.hadoop.fs.Path(s"$mem2/_nbuckets/64"), true)
        .close()
      time("recency_bootstrap_2m", nS) {
        graft.serve.ChatRag.refreshRecencySidecars(spark, mem2); nS
      }
      time("prune_noidle_gated", nS) {
        graft.serve.ChatRag.pruneIdleSessions(spark, mem2, beforeTs = 1500L)
      }
      // strip the sidecars: the legacy shape pays the full scan once...
      new org.apache.hadoop.fs.Path(mem2)
        .getFileSystem(spark.sessionState.newHadoopConf())
      memFs2.listStatus(new org.apache.hadoop.fs.Path(mem2)).toSeq
        .filter(e => e.isDirectory && e.getPath.getName.startsWith("sbucket="))
        .foreach(e => memFs2.delete(
          new org.apache.hadoop.fs.Path(e.getPath, "_recency"), true))
      time("prune_noidle_fullscan", nS) {
        graft.serve.ChatRag.pruneIdleSessions(spark, mem2, beforeTs = 1500L)
      }
      // ...and that scan left snapshots behind — gated again
      time("prune_noidle_regated", nS) {
        graft.serve.ChatRag.pruneIdleSessions(spark, mem2, beforeTs = 1500L)
      }
      // 20b. the STEADY state the gate is advertised for: sessions stay
      // live, so the gate never triggers a scan and refresh never runs —
      // per-turn deltas must FOLD (appendDelta's log merge), or the
      // sidecar re-accumulates O(total turns) of files and the "free"
      // firing degrades with uptime. 2000 simulated turns against one
      // bucket, then the same no-idle firing: file count bounded, cost
      // flat vs prune_noidle_gated above.
      val hot = memFs2.listStatus(new org.apache.hadoop.fs.Path(mem2)).toSeq
        .filter(e => e.isDirectory && e.getPath.getName.startsWith("sbucket="))
        .head.getPath
      time("recency_2000_turn_deltas", 2000L) {
        for (i <- 0 until 2000)
          graft.serve.RecencySidecar.appendDelta(memFs2, hot,
            Seq((s"s${i % 500}", Some(2000L + i))), bootstrap = false)
        2000L
      }
      val sidecarFiles = memFs2.listStatus(
        new org.apache.hadoop.fs.Path(hot, "_recency")).length
      assert(sidecarFiles <= 40,
        s"2000 turn deltas must fold, not accumulate: $sidecarFiles files")
      time("prune_noidle_steady_state", nS) {
        graft.serve.ChatRag.pruneIdleSessions(spark, mem2, beforeTs = 1500L)
      }
    }

    spark.stop()
  }
}
