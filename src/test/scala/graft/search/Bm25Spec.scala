package graft.search

import graft.SparkSpec
import org.apache.spark.sql.functions._

class Bm25Spec extends SparkSpec {
  import spark.implicits._

  private def corpus = Seq(
    (0L, "apple banana apple"),
    (1L, "banana cherry"),
    (2L, "cherry cherry cherry durian"),
    (3L, "apple banana cherry durian elderberry")).toDF("doc_id", "text")

  test("index carries tf, denormalized dl, df, and corpus stats") {
    val idx = Bm25.buildIndex(corpus, "doc_id", "text")
    assert(idx.nDocs == 4L)
    assert(idx.avgDl == (3 + 2 + 4 + 5).toDouble / 4)
    val p = idx.postings.collect().map(r =>
      (r.getLong(0), r.getString(1)) -> (r.getLong(2), r.getLong(3))).toMap
    assert(p((0L, "apple")) == (2L, 3L)) // tf 2, dl 3
    assert(p((2L, "cherry")) == (3L, 4L))
    val df = idx.terms.collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(df == Map(
      "apple" -> 2L, "banana" -> 3L, "cherry" -> 3L,
      "durian" -> 2L, "elderberry" -> 1L))
  }

  test("scores match a driver-side recomputation of the BM25 formula") {
    val idx = Bm25.buildIndex(corpus, "doc_id", "text")
    val qs = Seq((0L, "apple cherry")).toDF("query_id", "query_text")
    val got = Bm25.topKBatch(qs, idx, k = 10)
      .select("doc_id", "score_scaled")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

    // independent recomputation, same quantization law
    val tfdl = Map( // (doc, term) -> (tf, dl)
      (0L, "apple") -> (2L, 3L), (2L, "cherry") -> (3L, 4L),
      (1L, "cherry") -> (1L, 2L), (3L, "apple") -> (1L, 5L),
      (3L, "cherry") -> (1L, 5L))
    val df = Map("apple" -> 2L, "cherry" -> 3L)
    val n = 4.0; val avgdl = 14.0 / 4
    def idfScaled(t: String): Long =
      math.round(math.log((n - df(t) + 0.5) / (df(t) + 0.5) + 1.0) * 1e6)
    def part(t: String, doc: Long): Long = {
      val (tf, dl) = tfdl((doc, t))
      math.round(idfScaled(t).toDouble *
        (tf.toDouble * 2.2 / (tf.toDouble + 1.2 * (0.25 + 0.75 * dl / avgdl))))
    }
    val want = Map(
      0L -> part("apple", 0L),
      1L -> part("cherry", 1L),
      2L -> part("cherry", 2L),
      3L -> (part("apple", 3L) + part("cherry", 3L)))
    assert(got == want)
  }

  test("rarer terms score higher at equal tf/dl, and k bounds the list") {
    val idx = Bm25.buildIndex(corpus, "doc_id", "text")
    // elderberry df=1 vs banana df=3, both tf=1 in doc 3
    val qs = Seq((0L, "elderberry"), (1L, "banana")).toDF("query_id", "query_text")
    val byQ = Bm25.topKBatch(qs, idx, k = 1)
      .select("query_id", "doc_id", "score_scaled")
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(byQ(0L)._1 == 3L)
    // doc 3 holds both terms at tf=1 with the same dl — isolate idf ordering
    val qBanana = Bm25.topKBatch(qs, idx, k = 10)
      .where(col("query_id") === 1 && col("doc_id") === 3)
      .select("score_scaled").as[Long].head()
    assert(byQ(0L)._2 > qBanana,
      "df=1 term must outscore df=3 term on the same (tf, dl)")
  }

  test("empty/no-hit queries return no rows, not nulls") {
    val idx = Bm25.buildIndex(corpus, "doc_id", "text")
    val qs = Seq((0L, "zucchini"), (1L, "")).toDF("query_id", "query_text")
    assert(Bm25.topKBatch(qs, idx, k = 5).count() == 0)
  }

  test("topKBatch result is partition-invariant") {
    val idx7 = Bm25.buildIndex(corpus.repartition(7), "doc_id", "text")
    val idx1 = Bm25.buildIndex(corpus.coalesce(1), "doc_id", "text")
    val qs = Seq((0L, "apple cherry durian")).toDF("query_id", "query_text")
    val a = Bm25.topKBatch(qs, idx7, 10).orderBy("rank").collect().toSeq
    val b = Bm25.topKBatch(qs, idx1, 10).orderBy("rank").collect().toSeq
    assert(a == b)
  }

  test("scoring plan: postings join is broadcast, top-k is a partial heap") {
    val idx = Bm25.buildIndex(corpus, "doc_id", "text")
    val qs = Seq((0L, "apple")).toDF("query_id", "query_text")
    val plan = Bm25.topKBatch(qs, idx, k = 3).queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"),
      "query-term idf table must broadcast to the postings scan")
    assert(plan.contains("partial_topk_by_dist"),
      "per-query top-k must run as a partial (map-side) heap aggregate")
  }

  test("rrfFuse: hand-checked fusion, ties by doc_id, k bound") {
    val l1 = Seq((0L, 10L, 1), (0L, 11L, 2), (0L, 12L, 3))
      .toDF("query_id", "doc_id", "rank")
    val l2 = Seq((0L, 11L, 1), (0L, 13L, 2))
      .toDF("query_id", "doc_id", "rank")
    val got = Bm25.rrfFuse(Seq(l1, l2), k = 3)
      .select("rank", "doc_id", "rrf_scaled")
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2))).toSeq
    def c(r: Int): Long = 1000000000L / (60 + r)
    // 11: ranks 2+1 -> c(2)+c(1); 10: c(1); 13: c(2); 12: c(3) (cut by k=3)
    assert(got == Seq(
      (1, 11L, c(2) + c(1)),
      (2, 10L, c(1)),
      (3, 13L, c(2))))
  }

  test("PRF bridges vocabulary mismatch the plain query cannot") {
    val c = Seq(
      (0L, "car engine wheel"),
      (1L, "automobile engine wheel"),
      (2L, "automobile garage repair"),
      (3L, "banana fruit")).toDF("doc_id", "text")
    val idx = Bm25.buildIndex(c, "doc_id", "text")
    val qs = Seq((0L, "car")).toDF("query_id", "query_text")
    val plain = Bm25.topKBatch(qs, idx, k = 4)
      .select("doc_id").as[Long].collect().toSet
    assert(plain == Set(0L), "only the literal term matches without feedback")
    val prf = Bm25.topKBatchPrf(qs, idx, k = 4, fbDocs = 1, fbTerms = 3)
    val prfDocs = prf.select("doc_id").as[Long].collect().toSet
    // doc 0's feedback terms (car, engine, wheel) reach doc 1
    assert(prfDocs.contains(1L), s"feedback must surface doc 1, got $prfDocs")
    // the original-term match still dominates the expanded ranking
    val top = prf.where(col("rank") === 1).select("doc_id").as[Long].head()
    assert(top == 0L)
  }

  test("at rest: write/load round-trip is value-invisible") {
    val path = tempDir("graft_bm25_rt").toString + "/idx"
    val mem = Bm25.buildIndex(corpus, "doc_id", "text")
    val disk = Bm25.writeIndex(corpus, "doc_id", "text", path, termBuckets = 4)
    assert(disk.nDocs == mem.nDocs)
    assert(disk.avgDl == mem.avgDl)
    assert(disk.termBuckets.contains(4))
    val pMem = mem.postings.collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3))).toSet
    val pDisk = disk.postings.select("doc_id", "term", "tf", "dl").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3))).toSet
    assert(pDisk == pMem)
    val tMem = mem.terms.collect().map(r => (r.getString(0), r.getLong(1))).toSet
    val tDisk = disk.terms.collect().map(r => (r.getString(0), r.getLong(1))).toSet
    assert(tDisk == tMem)
    // probing the loaded index scores identically to the in-memory one
    val qs = Seq((0L, "apple cherry")).toDF("query_id", "query_text")
    val a = Bm25.topKBatch(qs, mem, 10).orderBy("rank").collect().toSeq
    val b = Bm25.topKBatch(qs, Bm25.loadIndex(spark, path), 10)
      .orderBy("rank").collect().toSeq
    assert(a == b)
  }

  test("at rest: append merges stats/df exactly and is doc-idempotent") {
    val path = tempDir("graft_bm25_app").toString + "/idx"
    Bm25.writeIndex(corpus, "doc_id", "text", path, termBuckets = 4)
    val delta = Seq(
      (2L, "overlapping doc must be ignored"),
      (4L, "fig apple grape"),
      (5L, "grape grape banana")).toDF("doc_id", "text")
    assert(Bm25.appendIndex(spark, delta, path, "doc_id", "text") == 2L,
      "only the two new docs may be indexed")
    // re-shipping the same delta is a no-op at doc granularity
    assert(Bm25.appendIndex(spark, delta, path, "doc_id", "text") == 0L)
    val appended = Bm25.loadIndex(spark, path)
    // ground truth: a fresh build over the union corpus
    val full = Bm25.buildIndex(
      corpus.union(Seq((4L, "fig apple grape"), (5L, "grape grape banana"))
        .toDF("doc_id", "text")), "doc_id", "text")
    assert(appended.nDocs == full.nDocs)
    assert(appended.avgDl == full.avgDl)
    assert(appended.terms.collect().map(r => (r.getString(0), r.getLong(1))).toSet
      == full.terms.collect().map(r => (r.getString(0), r.getLong(1))).toSet)
    val qs = Seq((0L, "apple grape")).toDF("query_id", "query_text")
    assert(Bm25.topKBatch(qs, appended, 10).orderBy("rank").collect().toSeq
      == Bm25.topKBatch(qs, full, 10).orderBy("rank").collect().toSeq,
      "scores after append must equal a from-scratch build")
  }

  test("delete hides docs (stale stats — Lucene law); compact equals from-scratch") {
    val path = tempDir("graft_bm25_del").toString + "/idx"
    Bm25.writeIndex(corpus, "doc_id", "text", path, termBuckets = 4)
    Bm25.deleteDocs(spark, path, Seq(1L, 2L))
    val marked = Bm25.loadIndex(spark, path)
    // mark-delete phase: dead docs' postings filtered, STATS STALE — so
    // scoring equals "full index scoring minus dead docs, re-topk"
    val qs = Seq((0L, "banana cherry")).toDF("query_id", "query_text")
    val got = Bm25.topKBatch(qs, marked, 10)
      .select("doc_id").as[Long].collect().toSet
    assert(!got.contains(1L) && !got.contains(2L), s"dead docs served: $got")
    val full = Bm25.buildIndex(corpus, "doc_id", "text")
    val expect = Bm25.topKBatch(qs, full, 10)
      .where(!col("doc_id").isin(1L, 2L))
      .select("doc_id", "score_scaled").as[(Long, Long)].collect().toSet
    val gotScores = Bm25.topKBatch(qs, marked, 10)
      .select("doc_id", "score_scaled").as[(Long, Long)].collect().toSet
    assert(gotScores == expect,
      "mark-delete must score with stale df/N (full-index scores minus dead)")
    // stats are stale by contract until compact
    assert(marked.nDocs == 4L)
    // delete is terminal pre-compact: re-appending doc 1 is dropped by
    // the doc ledger
    assert(Bm25.appendIndex(spark,
      Seq((1L, "banana cherry")).toDF("doc_id", "text"), path, "doc_id", "text") == 0L)
    // COMPACT phase: postings/df/docs/stats now equal a from-scratch
    // build over the survivors
    val (before, after) = Bm25.compactIndex(spark, path)
    assert(before == 4L && after == 2L, s"expected 4 -> 2 docs, got $before -> $after")
    val compacted = Bm25.loadIndex(spark, path)
    val scratch = Bm25.buildIndex(
      corpus.where(!col("doc_id").isin(1L, 2L)), "doc_id", "text")
    assert(compacted.nDocs == scratch.nDocs)
    assert(compacted.avgDl == scratch.avgDl)
    assert(compacted.terms.collect().map(r => (r.getString(0), r.getLong(1))).toSet
      == scratch.terms.collect().map(r => (r.getString(0), r.getLong(1))).toSet,
      "compact must correct df exactly")
    assert(Bm25.topKBatch(qs, compacted, 10).orderBy("rank").collect().toSeq
      == Bm25.topKBatch(qs, scratch, 10).orderBy("rank").collect().toSeq,
      "post-compact scores must equal a from-scratch build")
    // compact spends the tombstones: doc 1 can now be re-indexed (revive)
    assert(Bm25.appendIndex(spark,
      Seq((1L, "banana cherry")).toDF("doc_id", "text"), path, "doc_id", "text") == 1L)
    assert(Bm25.topKBatch(qs, Bm25.loadIndex(spark, path), 10)
      .select("doc_id").as[Long].collect().toSet.contains(1L))
  }

  test("phraseMatchesIndexed: index-served df is value-identical to the scan path") {
    val path = tempDir("graft_bm25_ph").toString + "/idx"
    Bm25.writeIndex(corpus, "doc_id", "text", path, termBuckets = 4)
    val idx = Bm25.loadIndex(spark, path)
    // mixed batch: a phrase whose rarest term is unambiguous, one where
    // the df tie must break lexicographically, and one with a term the
    // index never saw (df 0 both ways)
    val phrases = Seq(
      (0L, "apple banana"), (1L, "cherry cherry"), (2L, "durian zzz-unseen"))
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("query_id", "doc_id")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(rows(Bm25.phraseMatchesIndexed(corpus, idx, phrases)) ==
      rows(Bm25.phraseMatches(corpus, phrases)),
      "index-served anchors must reproduce the scan path exactly")
  }

  test("segment commit law: an uncommitted append is invisible and replays cleanly") {
    val path = tempDir("graft_bm25_seg").toString + "/idx"
    Bm25.writeIndex(corpus, "doc_id", "text", path, termBuckets = 4)
    val delta = Seq((4L, "fig grape"), (5L, "grape melon")).toDF("doc_id", "text")
    assert(Bm25.appendIndex(spark, delta, path, "doc_id", "text") == 2L)
    // simulate the crash-before-commit end state: the segment's tables
    // are on disk but its _commits marker is not
    val seg = Bm25.committedSegs(spark, path).max
    assert(seg > 0L)
    new java.io.File(s"$path/_commits/$seg").delete()
    // readers see only committed segments: the orphan is invisible
    val rolled = Bm25.loadIndex(spark, path)
    assert(rolled.nDocs == 4L, "uncommitted append must not be visible")
    assert(rolled.terms.where(col("term") === "grape").count() == 0)
    // the replayed delivery re-ships the docs as a NEW segment — and the
    // result must equal a from-scratch build: nothing double-counted
    // even though the orphan's postings rows still sit on disk
    assert(Bm25.appendIndex(spark, delta, path, "doc_id", "text") == 2L)
    val healed = Bm25.loadIndex(spark, path)
    val scratch = Bm25.buildIndex(corpus.union(delta), "doc_id", "text")
    assert(healed.nDocs == scratch.nDocs)
    assert(healed.avgDl == scratch.avgDl)
    assert(healed.terms.collect().map(r => (r.getString(0), r.getLong(1))).toSet
      == scratch.terms.collect().map(r => (r.getString(0), r.getLong(1))).toSet,
      "df must not double-count through the crash+replay")
    val qs = Seq((0L, "grape apple")).toDF("query_id", "query_text")
    assert(Bm25.topKBatch(qs, healed, 10).orderBy("rank").collect().toSeq
      == Bm25.topKBatch(qs, scratch, 10).orderBy("rank").collect().toSeq)
    // compact reclaims the orphan rows physically
    Bm25.compactIndex(spark, path)
    assert(Bm25.committedSegs(spark, path) == Seq(0L))
    assert(Bm25.topKBatch(qs, Bm25.loadIndex(spark, path), 10)
      .orderBy("rank").collect().toSeq
      == Bm25.topKBatch(qs, scratch, 10).orderBy("rank").collect().toSeq)
  }

  test("appendIndexBatch is idempotent per batch id (streaming ledger law)") {
    val path = tempDir("graft_bm25_ab").toString + "/idx"
    Bm25.writeIndex(corpus, "doc_id", "text", path, termBuckets = 4)
    val delta = Seq((4L, "fig grape"), (5L, "grape melon")).toDF("doc_id", "text")
    assert(Bm25.appendIndexBatch(spark, delta, path, 1L, "doc_id", "text"))
    // replayed delivery: the batch ledger short-circuits before any write
    assert(!Bm25.appendIndexBatch(spark, delta, path, 1L, "doc_id", "text"))
    val idx = Bm25.loadIndex(spark, path)
    assert(idx.nDocs == 6L, "replay must not double-count docs")
    assert(graft.ops.Layout.ledgeredBatchIds(spark, s"$path/batches").size == 1)
  }

  test("writeIndex rebuild clears the previous life's tombstones and batch ledger") {
    val path = tempDir("graft_bm25_rb").toString + "/idx"
    Bm25.writeIndex(corpus, "doc_id", "text", path, termBuckets = 4)
    Bm25.deleteDocs(spark, path, Seq(0L))
    val delta = Seq((4L, "fig grape")).toDF("doc_id", "text")
    assert(Bm25.appendIndexBatch(spark, delta, path, 1L, "doc_id", "text"))
    // REBUILD at the same path: doc 0 must be alive in the fresh index
    // (no inherited tombstone) and batch id 1 must apply again (no
    // inherited ledger)
    Bm25.writeIndex(corpus, "doc_id", "text", path, termBuckets = 4)
    val idx = Bm25.loadIndex(spark, path)
    assert(idx.nDocs == 4L)
    val qs = Seq((0L, "apple")).toDF("query_id", "query_text")
    val hits = Bm25.topKBatch(qs, idx, 10)
      .select("doc_id").as[Long].collect().toSet
    assert(hits.contains(0L),
      s"rebuilt index must serve the once-deleted doc 0: $hits")
    assert(Bm25.appendIndexBatch(spark, delta, path, 1L, "doc_id", "text"),
      "a batch id consumed by the previous life must apply to the rebuilt index")
  }

  test("mergeSegments: tiered merge is value-invisible, flips commits atomically") {
    val path = tempDir("graft_bm25_mrg").toString + "/idx"
    Bm25.writeIndex(corpus, "doc_id", "text", path, termBuckets = 4)
    Bm25.appendIndex(spark, Seq((4L, "fig grape")).toDF("doc_id", "text"),
      path, "doc_id", "text")
    Bm25.appendIndex(spark, Seq((5L, "grape melon apple")).toDF("doc_id", "text"),
      path, "doc_id", "text")
    Bm25.appendIndex(spark, Seq((6L, "melon cherry")).toDF("doc_id", "text"),
      path, "doc_id", "text")
    assert(Bm25.committedSegs(spark, path).size == 4)
    val qs = Seq((0L, "apple cherry"), (1L, "grape melon"))
      .toDF("query_id", "query_text")
    def probe() = Bm25.topKBatch(qs, Bm25.loadIndex(spark, path), 10)
      .select("query_id", "rank", "doc_id", "score_scaled")
      .collect().map(_.toString).sorted.toSeq
    val preMerge = probe()
    val preIdx = Bm25.loadIndex(spark, path)

    // the three smallest segments (the appends) fold into one; the seed
    // segment's files are untouched
    val (b4, a2) = Bm25.mergeSegments(spark, path, targetSegments = 2)
    assert((b4, a2) == ((4, 2)), s"expected 4 -> 2 segments, got $b4 -> $a2")
    val segs = Bm25.committedSegs(spark, path)
    assert(segs.size == 2 && segs.contains(0L),
      s"the big seed segment must survive unmerged: $segs")
    // value-invisible: same hits, same integer scores, same corpus stats
    assert(probe() == preMerge, "merge changed probe results")
    val postIdx = Bm25.loadIndex(spark, path)
    assert(postIdx.nDocs == preIdx.nDocs && postIdx.avgDl == preIdx.avgDl)
    assert(postIdx.terms.collect().map(_.toString).sorted.toSeq ==
      preIdx.terms.collect().map(_.toString).sorted.toSeq,
      "merged df ledger must equal the exact sum of its sources")

    // below the target: no-op
    assert(Bm25.mergeSegments(spark, path, targetSegments = 2) == ((2, 2)))
    // deletes compose: mark-delete still hides through the merged segment
    Bm25.deleteDocs(spark, path, Seq(5L))
    val hits = Bm25.topKBatch(qs, Bm25.loadIndex(spark, path), 10)
      .select("doc_id").as[Long].collect().toSet
    assert(!hits.contains(5L), "tombstone must exclude through a merged segment")
    // and a later FULL compact (spends tombstones) equals from-scratch
    Bm25.compactIndex(spark, path)
    val fresh = tempDir("graft_bm25_mrg_f").toString + "/idx"
    Bm25.writeIndex(Seq(
      (0L, "apple banana apple"), (1L, "banana cherry"),
      (2L, "cherry cherry cherry durian"),
      (3L, "apple banana cherry durian elderberry"),
      (4L, "fig grape"), (6L, "melon cherry")).toDF("doc_id", "text"),
      "doc_id", "text", fresh, termBuckets = 4)
    val gotC = Bm25.topKBatch(qs, Bm25.loadIndex(spark, path), 10)
      .select("query_id", "rank", "doc_id", "score_scaled")
      .collect().map(_.toString).sorted.toSeq
    val wantC = Bm25.topKBatch(qs, Bm25.loadIndex(spark, fresh), 10)
      .select("query_id", "rank", "doc_id", "score_scaled")
      .collect().map(_.toString).sorted.toSeq
    assert(gotC == wantC, "merge + compact must equal a from-scratch build")
  }

  test("hybrid at-rest serving: a doc deleted in BOTH channels leaves the fusion") {
    // the b6/ep4 staleness gap round 6 flagged, closed end to end: after
    // Bm25.deleteDocs + Hnsw.delete, neither channel may resurrect the
    // doc through the fused rank list
    val root = tempDir("graft_hyb_del").toString
    Bm25.writeIndex(corpus, "doc_id", "text", s"$root/bm25", termBuckets = 4)
    val emb = corpus.select(col("doc_id").as("vec_id"),
      transform(sequence(lit(0), lit(7)),
        i => (col("doc_id") * 10 + i).cast("float")).as("embedding"))
    graft.ops.Hnsw.write(emb, s"$root/hnsw",
      graft.ops.Hnsw.Params(m = 4, efConstruction = 40, efSearch = 100, numShards = 2))
    def fused(): Set[Long] = {
      val qText = Seq((1L, "banana cherry")).toDF("query_id", "query_text")
      val sparse = Bm25.topKBatch(qText, Bm25.loadIndex(spark, s"$root/bm25"), 4)
        .select("query_id", "doc_id", "rank")
      val qVec = emb.where(col("vec_id") === 1)
        .select(col("vec_id").as("query_id"), col("embedding").as("query_vec"))
      val dense = graft.ops.Hnsw.probe(spark, s"$root/hnsw", qVec, 4)
        .select(col("query_id"), col("vec_id").as("doc_id"), col("rank"))
      Bm25.rrfFuse(Seq(sparse, dense), k = 4)
        .select("doc_id").as[Long].collect().toSet
    }
    assert(fused().contains(1L), "premise: doc 1 serves from both channels")
    Bm25.deleteDocs(spark, s"$root/bm25", Seq(1L))
    graft.ops.Hnsw.delete(spark, s"$root/hnsw", Seq(1L))
    val after = fused()
    assert(!after.contains(1L), s"deleted doc served through the fusion: $after")
  }

  test("streamingBm25Sink: micro-batches append exactly once") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlC = spark.sqlContext
    val tmp = tempDir("graft_bm25_sink").toString
    val path = s"$tmp/idx"
    Bm25.writeIndex(corpus, "doc_id", "text", path, termBuckets = 4)
    val mem = MemoryStream[(Long, String)]
    val q = graft.ops.CorpusPipeline.streamingBm25Sink(
      mem.toDF().toDF("doc_id", "text"), path, s"$tmp/ckpt").start()
    try {
      mem.addData((4L, "fig grape kiwi"))
      q.processAllAvailable()
      mem.addData((5L, "melon grape"))
      q.processAllAvailable()
      val idx = Bm25.loadIndex(spark, path)
      assert(idx.nDocs == 6L)
      val qs = Seq((0L, "kiwi melon")).toDF("query_id", "query_text")
      val hits = Bm25.topKBatch(qs, idx, 10)
        .select("doc_id").as[Long].collect().toSet
      assert(hits == Set(4L, 5L), s"streamed docs must be searchable: $hits")
      assert(graft.ops.Layout.ledgeredBatchIds(spark, s"$path/batches").size == 2)
    } finally q.stop()
  }

  test("streamingBm25Sink with a maintenance policy merges itself under segment growth") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlC = spark.sqlContext
    val tmp = tempDir("graft_bm25_selfmx").toString
    val path = s"$tmp/idx"
    Bm25.writeIndex(corpus, "doc_id", "text", path, termBuckets = 4)
    val policy = graft.ops.Layout.MaintenancePolicy(
      maxSegments = 2, maxTombstones = 1L << 20, maxSmallFiles = 100000)
    val mem = MemoryStream[(Long, String)]
    val q = graft.ops.CorpusPipeline.streamingBm25Sink(
      mem.toDF().toDF("doc_id", "text"), path, s"$tmp/ckpt",
      maintenance = Some(policy)).start()
    try {
      // three appended segments on top of the seed: without maintenance
      // this leaves 4; the policy loop must fold to <= 2 by the end
      mem.addData((4L, "fig grape kiwi"))
      q.processAllAvailable()
      mem.addData((5L, "melon grape"))
      q.processAllAvailable()
      mem.addData((6L, "papaya kiwi"))
      q.processAllAvailable()
      val status = graft.ops.Layout.maintenanceDue(spark, path, policy)
      assert(!status.mergeDue && status.segments <= 2,
        s"the sink must have maintained itself: $status")
      // every streamed doc survives the merges and serves
      val idx = Bm25.loadIndex(spark, path)
      assert(idx.nDocs == 7L)
      val hits = Bm25.topKBatch(
        Seq((0L, "kiwi melon papaya")).toDF("query_id", "query_text"), idx, 10)
        .select("doc_id").as[Long].collect().toSet
      assert(hits == Set(4L, 5L, 6L), s"maintained index must serve streamed docs: $hits")
    } finally q.stop()
  }

  test("at rest: probe restricted to query terms prunes bucket partitions") {
    val path = tempDir("graft_bm25_prune").toString + "/idx"
    Bm25.writeIndex(corpus, "doc_id", "text", path, termBuckets = 8)
    val idx = Bm25.loadIndex(spark, path)
    val qs = Seq((0L, "apple cherry")).toDF("query_id", "query_text")
    val restricted = Bm25.restrictToTerms(idx, Bm25.tokenize("apple cherry"))
    val probe = Bm25.topKBatch(qs, restricted, 10)
    val plan = probe.queryExecution.executedPlan.toString
    assert(plan.linesIterator.exists(l =>
      l.contains("PartitionFilters:") && l.contains("bucket#")),
      s"postings scan must carry a bucket partition filter:\n$plan")
    // pruning must be value-invisible
    assert(probe.orderBy("rank").collect().toSeq
      == Bm25.topKBatch(qs, idx, 10).orderBy("rank").collect().toSeq)
    // and restricting to an unindexed vocabulary yields no rows
    val none = Bm25.restrictToTerms(idx, Seq("zucchini"))
    assert(Bm25.topKBatch(
      Seq((0L, "zucchini")).toDF("query_id", "query_text"), none, 5).count() == 0)
  }

  /** Every physical node of `p`, through adaptive plans, query stages
    * and subqueries. */
  private def planNodes(
      p: org.apache.spark.sql.execution.SparkPlan): Seq[org.apache.spark.sql.execution.SparkPlan] = {
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    val inner = p match {
      case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
      case q: QueryStageExec => Seq(q.plan)
      case _ => p.children ++ p.subqueries
    }
    p +: inner.flatMap(planNodes)
  }

  /** The executed plans of every query `body` runs on this session. */
  private def executedPlans(body: => Unit): Seq[org.apache.spark.sql.execution.SparkPlan] = {
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[
      org.apache.spark.sql.execution.SparkPlan]()
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(f: String,
          qe: org.apache.spark.sql.execution.QueryExecution, ns: Long): Unit = {
        plans.add(qe.executedPlan); ()
      }
      override def onFailure(f: String,
          qe: org.apache.spark.sql.execution.QueryExecution, e: Exception): Unit = ()
    }
    org.apache.spark.ListenerBusDrain.drain(spark.sparkContext)
    spark.listenerManager.register(listener)
    try {
      body
      org.apache.spark.ListenerBusDrain.drain(spark.sparkContext)
    } finally spark.listenerManager.unregister(listener)
    import scala.jdk.CollectionConverters._
    plans.asScala.toSeq
  }

  test("index build plan: no window stage, one postings exchange") {
    // buildIndex checkpoints the postings (the probe/terms/stats reuse),
    // which hides the build plan — assert on the raw build subtrees, the
    // plans the checkpoints materialize: the in-memory build's natural-key
    // aggregate and the at-rest build's bucket-aligned one
    for (raw <- Seq(Bm25.rawPostings(corpus, "doc_id", "text"),
        Bm25.bucketedPostings(corpus, "doc_id", "text", 8, 2,
          spark.sessionState.conf.numShufflePartitions))) {
      val plan = raw.queryExecution.executedPlan.toString
      assert(!plan.contains("Window ["),
        s"dl must come from size(tokens), not a doc-partitioned window:\n$plan")
      assert(plan.linesIterator.count(_.contains("Exchange hashpartitioning")) == 1,
        s"postings must need exactly one keyed exchange:\n$plan")
    }
    // and the built index serves from the materialization, not a rebuild
    val idx = Bm25.buildIndex(corpus, "doc_id", "text")
    assert(idx.postings.queryExecution.analyzed.collect {
      case _: org.apache.spark.sql.execution.LogicalRDD => true
    }.nonEmpty, "postings must read the checkpointed build")
    // writeIndex end to end: every query it runs reads one checkpointed
    // tokenize pass — no columnar cache, no interpreted lambda, and the
    // tokenizer evaluated exactly once over the doc scan (no inferred
    // size(tokens) > 0 filter re-tokenizing below the explode)
    // (from a file scan: over a local relation the tokenizer would fold
    // into the driver-side LocalTableScan)
    val dir = tempDir("graft_bm25_plan")
    corpus.write.parquet(s"$dir/docs")
    val docs = spark.read.parquet(s"$dir/docs")
    val plans = executedPlans {
      Bm25.writeIndex(docs, "doc_id", "text", s"$dir/idx", termBuckets = 4)
    }
    val nodes = plans.flatMap(planNodes)
    assert(plans.nonEmpty)
    assert(!nodes.exists(
      _.isInstanceOf[org.apache.spark.sql.execution.columnar.InMemoryTableScanExec]),
      s"writeIndex must not scan an InMemoryRelation:\n${plans.mkString("\n")}")
    def exprs[T](f: PartialFunction[org.apache.spark.sql.catalyst.expressions.Expression, T]) =
      nodes.flatMap(_.expressions.flatMap(_.collect(f)))
    assert(exprs {
      case l: org.apache.spark.sql.catalyst.expressions.LambdaFunction => l
    }.isEmpty, s"writeIndex must run no lambdafunction:\n${plans.mkString("\n")}")
    assert(exprs { case w: graft.functions.WordTokens => w }.size == 1,
      s"the doc scan must tokenize once:\n${plans.mkString("\n")}")
  }

  test("at rest: postings write one file per (seg, bucket) at filesPerBucket = 1") {
    val docs = (0L until 200L).map(i => (i, s"w${i % 37} w${i % 11} common x$i"))
      .toDF("doc_id", "text")
    for (fpb <- Seq(1, 3)) {
      val path = s"${tempDir("graft_bm25_files")}/idx"
      Bm25.writeIndex(docs, "doc_id", "text", path, termBuckets = 8, filesPerBucket = fpb)
      val bucketDirs = new java.io.File(s"$path/postings/seg=0").listFiles()
        .filter(_.getName.startsWith("bucket="))
      assert(bucketDirs.length == 8, s"every bucket holds postings: ${bucketDirs.toSeq}")
      bucketDirs.foreach { d =>
        val n = d.listFiles().count(_.getName.endsWith(".parquet"))
        if (fpb == 1) assert(n == 1, s"$d: $n files, want 1")
        else assert(n >= 1 && n <= fpb, s"$d: $n files, want 1..$fpb")
      }
    }
    // every writer of the layout refuses a non-positive file count
    val path = s"${tempDir("graft_bm25_files")}/idx"
    Seq(() => Bm25.writeIndex(docs, "doc_id", "text", path, filesPerBucket = 0),
      () => Bm25.compactIndex(spark, path, filesPerBucket = 0),
      () => Bm25.mergeSegments(spark, path, filesPerBucket = 0)).foreach { op =>
      val e = intercept[IllegalArgumentException](op())
      assert(e.getMessage.contains("filesPerBucket"), e.getMessage)
    }
  }

  test("rrfFuse single-list fusion preserves the input order") {
    val l = Seq((5L, 1L, 1), (5L, 2L, 2), (5L, 3L, 3))
      .toDF("query_id", "doc_id", "rank")
    val got = Bm25.rrfFuse(Seq(l), k = 3)
      .orderBy("rank").select("doc_id").as[Long].collect().toSeq
    assert(got == Seq(1L, 2L, 3L))
  }

  test("phraseMatches: adjacency in order, not bag-of-words co-occurrence") {
    val d = Seq(
      (0L, "the quick brown fox jumps"),
      (1L, "brown quick the fox"), // all terms present, wrong order
      (2L, "a Quick-Brown thing and quick brown again"), // 2 matches, mixed case/punct
      (3L, "quick stop then brown"), // adjacent nowhere
      (4L, "short")).toDF("doc_id", "text")
    val out = Bm25.phraseMatches(d, Seq((10L, "Quick Brown!")))
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(1), r.getLong(2))).toSeq
    assert(out == Seq((0L, 1L), (2L, 2L)), s"got $out")
  }

  test("phraseMatches: single-token phrase counts term frequency; overlaps counted") {
    val d = Seq((0L, "go go go"), (1L, "stop")).toDF("doc_id", "text")
    val single = Bm25.phraseMatches(d, Seq((1L, "go"))).collect()
    assert(single.length == 1 && single.head.getLong(2) == 3L)
    // overlapping windows each count: "go go go" contains "go go" twice
    val overlap = Bm25.phraseMatches(d, Seq((2L, "go go"))).collect()
    assert(overlap.length == 1 && overlap.head.getLong(2) == 2L)
  }

  test("phraseMatches: phrase longer than the doc matches nothing; guards refuse") {
    val d = Seq((0L, "tiny doc")).toDF("doc_id", "text")
    assert(Bm25.phraseMatches(d, Seq((1L, "tiny doc overflow phrase"))).isEmpty)
    intercept[IllegalArgumentException] {
      Bm25.phraseMatches(d, Seq((1L, "!!! ...")))
    }
    intercept[IllegalArgumentException] {
      Bm25.phraseMatches(d, Seq.empty)
    }
  }

  test("phraseMatches: multiple phrases route through their own rarest anchors") {
    val d = Seq(
      (0L, "alpha beta gamma"),
      (1L, "alpha alpha alpha"),
      (2L, "beta gamma delta")).toDF("doc_id", "text")
    val out = Bm25.phraseMatches(d,
      Seq((1L, "alpha beta"), (2L, "beta gamma"), (3L, "gamma delta")))
      .orderBy("query_id", "doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(out == Seq((1L, 0L), (2L, 0L), (2L, 2L), (3L, 2L)), s"got $out")
  }

  test("bm25f with one field at weight 1 reduces exactly to plain BM25") {
    val idx = Bm25.buildIndex(corpus, "doc_id", "text")
    val qs = Seq((0L, "apple cherry"), (1L, "banana durian"))
      .toDF("query_id", "query_text")
    val plain = Bm25.topKBatch(qs, idx, k = 10)
      .select("query_id", "rank", "doc_id", "score_scaled")
      .collect().map(_.toString).sorted.toSeq
    val fielded = Bm25.bm25fTopKBatch(qs, corpus,
      Seq(Bm25.Field("text", 1.0, 0.75)), k = 10)
      .select("query_id", "rank", "doc_id", "score_scaled")
      .collect().map(_.toString).sorted.toSeq
    assert(fielded == plain,
      "single-field BM25F must be bit-identical to the BM25 law")
  }

  test("bm25f: title weight promotes a title match over a longer body match") {
    // doc 10 has the term only in its (short, weighted) title; doc 11 only
    // in a long body. Combined-before-saturation + weight must rank 10 first
    val docs = Seq(
      (10L, "quantum widgets", "a body about unrelated filler words here"),
      (11L, "other things", "quantum appears within a much longer body " +
        "of prose that mentions quantum twice among many other words"),
      (12L, "nothing", "completely unrelated text")
    ).toDF("doc_id", "title", "body")
    val qs = Seq((0L, "quantum")).toDF("query_id", "query_text")
    val got = Bm25.bm25fTopKBatch(qs, docs,
      Seq(Bm25.Field("title", 2.5, 0.6), Bm25.Field("body", 1.0, 0.75)), k = 3)
      .select("rank", "doc_id").as[(Int, Long)].collect().toMap
    assert(got(1) == 10L, s"title match must outrank body match: $got")
    assert(got(2) == 11L)
    assert(!got.values.toSet.contains(12L), "no-match doc must not appear")
  }

  test("bm25f: a doc matching in BOTH fields outranks either single-field match") {
    val docs = Seq(
      (1L, "alpha topic", "alpha discussed in the body as well"),
      (2L, "alpha topic", "body about something else entirely"),
      (3L, "other title", "alpha discussed in the body as well")
    ).toDF("doc_id", "title", "body")
    val qs = Seq((0L, "alpha")).toDF("query_id", "query_text")
    val got = Bm25.bm25fTopKBatch(qs, docs,
      Seq(Bm25.Field("title", 2.5, 0.6), Bm25.Field("body", 1.0, 0.75)), k = 3)
      .select("rank", "doc_id").as[(Int, Long)].collect().toMap
    assert(got(1) == 1L, s"both-fields match must rank first: $got")
  }

  test("bm25f at rest: probe over per-field indexes equals the transient build; deletes are live-only") {
    val docs = Seq(
      (1L, "alpha topic", "alpha discussed in the body as well"),
      (2L, "alpha topic", "body about something else entirely"),
      (3L, "other title", "alpha discussed in the body as well"),
      (4L, "gamma title", "unrelated body prose entirely")
    ).toDF("doc_id", "title", "body")
    val specs = Seq(("title", 2.5, 0.6), ("body", 1.0, 0.75))
    val tmp = tempDir("graft_bm25f_ar").toString
    Bm25.writeIndex(docs, "doc_id", "title", s"$tmp/title")
    Bm25.writeIndex(docs, "doc_id", "body", s"$tmp/body")
    val qs = Seq((0L, "alpha body")).toDF("query_id", "query_text")
    val transient = Bm25.bm25fTopKBatch(qs, docs,
      specs.map(f => Bm25.Field(f._1, f._2, f._3)), k = 10)
      .select("query_id", "rank", "doc_id", "score_scaled")
      .collect().map(_.toString).toSeq
    val atRest = Bm25.bm25fProbeAtRest(spark,
      Seq(Bm25.FieldIndex(s"$tmp/title", 2.5, 0.6),
        Bm25.FieldIndex(s"$tmp/body", 1.0, 0.75)), qs, k = 10)
      .select("query_id", "rank", "doc_id", "score_scaled")
      .collect().map(_.toString).toSeq
    assert(atRest == transient,
      "at-rest fielded probe must be value-identical to the transient build")
    // tombstone doc 1 in BOTH field indexes: it vanishes from results,
    // df/tf re-derive live, stats stay stale (b8 contract)
    Bm25.deleteDocs(spark, s"$tmp/title", Seq(1L))
    Bm25.deleteDocs(spark, s"$tmp/body", Seq(1L))
    val afterDel = Bm25.bm25fProbeAtRest(spark,
      Seq(Bm25.FieldIndex(s"$tmp/title", 2.5, 0.6),
        Bm25.FieldIndex(s"$tmp/body", 1.0, 0.75)), qs, k = 10)
      .select("doc_id").as[Long].collect().toSet
    assert(!afterDel.contains(1L), "tombstoned doc must not be served")
    assert(afterDel.contains(2L) && afterDel.contains(3L))
  }

  test("bm25f at rest refuses a doc tombstoned in SOME but not ALL field indexes") {
    val docs = Seq(
      (1L, "alpha topic", "alpha discussed in the body as well"),
      (2L, "alpha topic", "body about something else entirely"),
      (3L, "other title", "alpha discussed in the body as well")
    ).toDF("doc_id", "title", "body")
    val tmp = tempDir("graft_bm25f_xdel").toString
    Bm25.writeIndex(docs, "doc_id", "title", s"$tmp/title")
    Bm25.writeIndex(docs, "doc_id", "body", s"$tmp/body")
    val qs = Seq((0L, "alpha body")).toDF("query_id", "query_text")
    def fieldIdxs = Seq(Bm25.FieldIndex(s"$tmp/title", 2.5, 0.6),
      Bm25.FieldIndex(s"$tmp/body", 1.0, 0.75))
    // delete doc 1 in ONE field only: the probe must refuse loudly — the
    // inner dl join would otherwise drop the doc silently, which reads
    // as a delete nobody issued
    Bm25.deleteDocs(spark, s"$tmp/title", Seq(1L))
    val e = intercept[IllegalArgumentException] {
      Bm25.bm25fProbeAtRest(spark, fieldIdxs, qs, k = 10)
    }
    assert(e.getMessage.contains("not all") && e.getMessage.contains("1"))
    // completing the delete in the other field restores the live-only
    // probe (the existing b11b law)
    Bm25.deleteDocs(spark, s"$tmp/body", Seq(1L))
    val served = Bm25.bm25fProbeAtRest(spark, fieldIdxs, qs, k = 10)
      .select("doc_id").as[Long].collect().toSet
    assert(served == Set(2L, 3L), s"consistent tombstones must probe live-only: $served")
  }

  test("bm25f at rest refuses field indexes built over different doc sets") {
    val a = Seq((1L, "alpha", "beta")).toDF("doc_id", "title", "body")
    val b = Seq((1L, "alpha", "beta"), (2L, "gamma", "delta"))
      .toDF("doc_id", "title", "body")
    val tmp = tempDir("graft_bm25f_ref").toString
    Bm25.writeIndex(a, "doc_id", "title", s"$tmp/title")
    Bm25.writeIndex(b, "doc_id", "body", s"$tmp/body")
    val qs = Seq((0L, "alpha")).toDF("query_id", "query_text")
    val e = intercept[IllegalArgumentException] {
      Bm25.bm25fProbeAtRest(spark,
        Seq(Bm25.FieldIndex(s"$tmp/title", 2.5, 0.6),
          Bm25.FieldIndex(s"$tmp/body", 1.0, 0.75)), qs, k = 10)
    }
    assert(e.getMessage.contains("SAME doc set"))
  }

  test("writeIndex job budget: a build that fits one partition runs 8 jobs") {
    // every job is one of the build's own actions (its two checkpoints,
    // the stats fold, the table writes): a one-partition build plans no
    // exchange, so AQE adds no stage job. An exchange that creeps back
    // into the build adds one and fails here.
    val path = tempDir("graft_bm25_jobs").toString + "/idx"
    val (_, n) = org.apache.spark.ListenerBusDrain.jobsOf(spark.sparkContext)(
      Bm25.writeIndex(corpus, "doc_id", "text", path, termBuckets = 4))
    assert(n == 8, s"writeIndex ran $n jobs")
  }
}
