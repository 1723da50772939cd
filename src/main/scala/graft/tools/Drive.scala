package graft.tools

import graft.functions.VectorFunctions
import graft.index.VectorIndex
import graft.search.Knn
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Dev drive: exercises the library end-to-end on the sf0.001 fixtures.
  * Usage: sbt "runMain graft.tools.Drive [sfDir]"
  */
object Drive {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val spark = SparkSession.builder()
      .master("local[8]")
      .config("spark.sql.shuffle.partitions", "8")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    VectorFunctions.register(spark)

    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
    val q = emb.where(col("vec_id") === 7).select(col("embedding")).head
      .getSeq[Float](0).toArray

    println("== topKWithScore k=3 (query = vec_id 7's own embedding) ==")
    Knn.topKWithScore(emb, q, 3, idCol = "vec_id")
      .select("vec_id", "label", "dist").show(false)

    println("== topKFiltered label=3 k=2 ==")
    Knn.topKFiltered(emb, q, 2, col("label") === 3, idCol = "vec_id")
      .select("vec_id", "label", "dist").show(false)

    println("== hierarchical coarse=3 fine=2 over label ==")
    Knn.hierarchical(emb, q, sectionCol = "label", idCol = "vec_id")
      .select("label", "vec_id", "dist", "rank").show(false)

    println("== normalizeScores on top-3 ==")
    Knn.normalizeScores(Knn.topKWithScore(emb, q, 3, idCol = "vec_id"))
      .select("vec_id", "dist", "importance_pct").show(false)

    println("== dimension-mismatch probe (should raise) ==")
    try {
      emb.select(VectorFunctions.l2Distance(
        col("embedding"), typedlit(Array(1.0f, 2.0f)))).show(1)
      println("!! NO ERROR RAISED — BUG")
    } catch {
      case e: Throwable =>
        println(s"raised as expected: ${e.getClass.getSimpleName}: " +
          Option(e.getMessage).getOrElse("").linesIterator.take(3).mkString(" | "))
    }

    println("== VectorIndex.build on documents (EP1 pipeline) ==")
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    val index = VectorIndex.build(docs)
    index.cache()
    println(s"index rows: ${index.count()}")
    println(s"distinct chunk_id: ${index.select("chunk_id").distinct().count()}")
    index.show(3, 60)

    println("== batch LSH ANN (3-query table, one band-bucket join) ==")
    val (hashed, model) = graft.ops.Ann.fitLsh(emb, numHashTables = 8)
    val qs = emb.where(col("vec_id").isin(3, 7, 11))
      .select(col("vec_id").as("query_id"), col("embedding").as("query_vec"))
    graft.ops.Ann.lshTopKBatch(qs, hashed, model, 3)
      .orderBy("query_id", "rank").show(false)

    println("== batch IVF ANN (same query table, one index pass) ==")
    val (assigned, cents) = graft.ops.Ann.buildIvfSampled(emb, nLists = 8)
    graft.ops.Ann.ivfTopKBatch(assigned, cents, qs, 3, nProbe = 3)
      .orderBy("query_id", "rank").show(false)

    println("== RP-LSH batch ANN (AND-amplified keys, no fit) ==")
    graft.ops.Ann.rpTopKBatch(qs, emb, 3, nTables = 16, nProjs = 2, width = 1.0)
      .orderBy("query_id", "rank").show(false)

    println("== size-guarded cosine pairs (escalates past maxExactRows) ==")
    graft.ops.Dedup.cosinePairsAuto(emb, minCos = 0.4, maxExactRows = 10000)
      .show(5, false)

    println("== streaming session memory, batch twin (first 6 rows) ==")
    val eventsRaw = spark.read.parquet(s"$sfDir/events.parquet")
    val msgs = (if (eventsRaw.schema("ts").dataType ==
        org.apache.spark.sql.types.LongType)
      eventsRaw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
    else eventsRaw.withColumn("ts", col("ts").cast("timestamp")))
      .where(col("user_id").isin(1, 2))
      .select(col("user_id").cast("string").as("session_id"), col("ts"),
        when(col("event_type").isin("click", "view"), "user")
          .otherwise("assistant").as("role"),
        concat(col("event_type"), lit(":"), coalesce(col("props"), lit("")))
          .as("content"))
    graft.ops.StreamingOps.streamingMemory(msgs).toDF()
      .orderBy("session_id", "turn").show(6, 40)

    println("== incremental index append (delta in the original space) ==")
    val idxPath = java.nio.file.Files
      .createTempDirectory("graft_drive_idx").toString + "/idx"
    val baseDocs = docs.where(col("doc_id") < 300)
    val fitted = graft.index.VectorIndex.fit(baseDocs)
    graft.index.VectorIndex.write(
      graft.index.VectorIndex.buildWith(baseDocs, fitted), idxPath)
    val n1 = graft.index.VectorIndex.append(
      spark, docs.where(col("doc_id") >= 250), idxPath, fitted)
    val n2 = graft.index.VectorIndex.append(
      spark, docs.where(col("doc_id") >= 250), idxPath, fitted)
    println(s"appended $n1 new chunks; idempotent re-append added $n2 (expect 0)")

    println("== Word2Vec embedder through the Embedder seam ==")
    val corpus = docs.limit(50).select(col("doc_id"), col("text").as("chunk"))
    val w2v = new graft.embed.Word2VecEmbedder(16).fit(corpus, "chunk")
    w2v.embed(corpus, "chunk", "embedding")
      .select(col("doc_id"), slice(col("embedding"), 1, 4).as("embedding_head"))
      .show(3, false)

    println("== PDF ingestion: synthesize -> binaryFile scan -> extract ==")
    val pdfDir = java.nio.file.Files.createTempDirectory("graft_drive_pdf")
    docs.limit(3).select("doc_id", "text").collect().foreach { r =>
      java.nio.file.Files.write(
        pdfDir.resolve(f"doc_${r.getLong(0)}%03d.pdf"),
        graft.ingest.PdfText.synthesize(
          Seq(s"DOC ${r.getLong(0)}", r.getString(1).take(120)),
          compress = r.getLong(0) % 2 == 0))
    }
    graft.ingest.TextSources.pdfDocs(
        graft.ingest.TextSources.readRaw(spark, pdfDir.toString))
      .select(col("source"), substring(col("text"), 1, 60).as("text_head"))
      .orderBy("source").show(3, false)

    println("== product quantization: codes + ADC search + exact re-rank ==")
    val pqModel = graft.ops.Pq.fitSampled(emb, dims = 64, m = 8, k = 8)
    val pqCodes = graft.ops.Pq.encode(emb, pqModel)
    val pqQs = emb.where(col("vec_id").isin(3, 7))
      .select(col("vec_id").as("query_id"), col("embedding").as("query_vec"))
    graft.ops.Pq.topKBatch(pqQs, pqCodes, pqModel, k = 3, emb = emb, rerank = 8)
      .orderBy("query_id", "rank").show(6, false)

    println("== star-contraction connected components (300-node chain) ==")
    import spark.implicits._
    val chain = (1L until 300L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val comps = graft.ops.Dedup.connectedComponentsStar(chain, maxIter = 12)
    println(s"chain components: ${comps.select("comp").distinct().count()} (expect 1)")

    println("== training-data assembly: sample -> mixture -> split -> shard -> pack ==")
    val sampleEq = graft.ops.TrainingData.stratifiedSample(docs, "lang", 15)
      .select("doc_id").collect().map(_.getLong(0)).toSet ==
      graft.ops.TrainingData.stratifiedSampleLarge(docs, "lang", 15)
        .select("doc_id").collect().map(_.getLong(0)).toSet
    println(s"pre-filtered large-stratum sample identical to full rank: $sampleEq (expect true)")
    val mixed = graft.ops.TrainingData.sourceMixture(
      docs, "source", Map("src0" -> 0.4, "src1" -> 0.4, "src2" -> 0.2), total = 60L)
    val split = graft.ops.TrainingData.hashSplit(mixed, valFrac = 0.1)
    val sharded = graft.ops.TrainingData.shardAssign(
      split.where(col("split") === "train"), nShards = 4)
    graft.ops.TrainingData.concatPack(sharded, capacity = 1024L,
        groupCols = Seq("shard"))
      .groupBy("shard")
      .agg(count(lit(1)).as("docs"), sum("n_tokens").as("tokens"),
        (max(col("start_bin")) + 1).as("windows"))
      .orderBy("shard").show(4, false)

    println("== C4-style scrub: pii redaction + line-level boilerplate filter ==")
    val page = "HOME ABOUT\nAccept cookies\nWrite to ops@corp.example or " +
      "call (415) 555-0199 about the quarterly report today.\nSign up"
    spark.range(1).select(
        graft.ops.TextAnalytics.c4LineClean(
          graft.ops.TextAnalytics.redactPii(lit(page))).as("cleaned"),
        graft.ops.TextAnalytics.piiCount(lit(page)).as("n_pii"))
      .show(1, false)

    println("== decontamination: eval-vs-train trigram overlap ==")
    graft.ops.TrainingData.contamination(
        docs.where(col("doc_id") % 10 =!= 0),
        docs.where(col("doc_id") % 10 === 0).limit(20), n = 3)
      .orderBy(desc("share")).show(3, false)

    println("== corpus line dedup (injected boilerplate dropped) ==")
    val noisy = docs.select(col("doc_id"),
      concat_ws("\n", lit("Home | About | Contact"), col("text"),
        lit("(c) 2026 Example Corp")).as("text"))
    graft.ops.Dedup.lineDedup(noisy, maxDf = 5)
      .agg(sum("n_dropped").as("lines_dropped"),
        sum(when(col("text") === "", 1)).as("emptied_docs"))
      .show(1, false)

    println("== incremental dedup vs corpus (bloom-prefiltered, exact) ==")
    val recrawl = docs.where(col("doc_id") < 30)
      .withColumn("doc_id", col("doc_id") + 100000)
      .unionByName(docs.where(col("doc_id") >= 480)
        .withColumn("doc_id", col("doc_id") + 200000)
        .withColumn("text", concat(col("text"), lit(" [rev 2]"))))
    val fresh = graft.ops.Dedup.dedupAgainstCorpus(recrawl, docs)
    println(s"batch ${recrawl.count()} -> new ${fresh.count()} (expect 20)")

    println("== token-budget mixture (budgets in tokens, md5 order) ==")
    graft.ops.TrainingData.tokenMixture(
        docs, "source", Map("src0" -> 500L, "src1" -> 800L, "src2" -> 100000L))
      .groupBy("source")
      .agg(count(lit(1)).as("docs"), sum("n_tokens").as("tokens"))
      .orderBy("source").show(4, false)

    println("== z-order layout: 2-D box file skipping vs single-column sort ==")
    val pts = spark.range(4096).select(
      col("id"),
      pmod(xxhash64(col("id")), lit(256)).as("x"),
      pmod(xxhash64(col("id"), lit(1)), lit(256)).as("y"))
    val zed = pts.withColumn("__z",
      graft.ops.Layout.zValue(Seq(col("x"), col("y")), 8))
    val box = Map("x" -> (32L, 63L), "y" -> (96L, 127L))
    val zHit = graft.ops.Layout.filesOverlapping(
      graft.ops.Layout.clusteringStats(zed, "__z", Seq("x", "y"), 64, "id"), box)
    val xHit = graft.ops.Layout.filesOverlapping(
      graft.ops.Layout.clusteringStats(pts, "x", Seq("x", "y"), 64, "id"), box)
    println(s"1/64 box reads $zHit/64 z-ordered files vs $xHit/64 x-sorted")

    println("== CMS sketch table: merged estimates vs exact counts ==")
    val sketches = graft.ops.TextAnalytics.termSketches(docs, "source")
    val topTerms = docs
      .select(explode(
        org.apache.spark.sql.functions.split(lower(trim(col("text"))), "\\s+"))
        .as("term"))
      .where(length(col("term")) > 0)
      .groupBy("term").agg(count(lit(1)).as("exact_cnt"))
      .orderBy(desc("exact_cnt"), col("term")).limit(5)
    graft.ops.TextAnalytics.cmsTermEstimates(sketches, topTerms)
      .orderBy(desc("exact_cnt")).show(5, false)

    println("== exact-substring span dedup (Lee et al. ExactSubstr) ==")
    val spanned = docs.select(col("doc_id"), concat_ws(" ", col("text"),
      when(col("doc_id") % 4 === 0,
        lit("standard legal disclaimer applies to this document in full"))).as("text"))
    graft.ops.Dedup.exactSubstrDedup(spanned, windowTokens = 8)
      .agg(sum("n_removed").as("tokens_excised"),
        sum(when(col("n_removed") > 0, 1)).as("docs_touched"))
      .show(1, false)

    println("== perceptual-hash media near-dup (dHash + banded hamming join) ==")
    val phPairs = graft.multimodal.Multimodal.phashPairs(
      graft.multimodal.Multimodal.fromDocuments(docs), maxHamming = 3)
    println(s"phash near-dup pairs at hamming<=3: ${phPairs.count()}")

    println("== URL curation: blocklist + per-domain cap ==")
    val urled = docs.select(col("doc_id"), concat(lit("https://site"),
      (col("doc_id") % 37).cast("string"), lit(".com/articles/"),
      col("doc_id").cast("string")).as("url"))
    val blocked = {
      import spark.implicits._
      Seq("site1.com", "site2.com").toDF("domain")
    }
    val gated = graft.ops.UrlCuration.domainCap(
      graft.ops.UrlCuration.applyBlocklist(urled, "url", blocked), "url", 3)
    println(s"${urled.count()} docs -> ${gated.count()} after blocklist + cap 3/domain")

    println("== sharded HNSW: write segments -> append -> compact -> routed probe ==")
    val hnswPath = java.nio.file.Files
      .createTempDirectory("graft_drive_hnsw").toString + "/idx"
    val hp = graft.ops.Hnsw.Params(m = 8, efConstruction = 80,
      efSearch = 64, numShards = 4)
    graft.ops.Hnsw.writeRouted(emb.where(col("vec_id") < 400), hnswPath, hp)
    graft.ops.Hnsw.append(spark, emb.where(col("vec_id") >= 400), hnswPath)
    val (segsBefore, segsAfter) = graft.ops.Hnsw.compact(spark, hnswPath)
    val qs3 = emb.where(col("vec_id").isin(3, 7, 11))
      .select(col("vec_id").as("query_id"), col("embedding").as("query_vec"))
    println(s"segments $segsBefore -> $segsAfter after compact")
    graft.ops.Hnsw.probeRouted(spark, hnswPath, qs3, 3, nProbe = 2)
      .orderBy("query_id", "rank").show(9, false)

    println("== xlsx roundtrip (S6: pack a grid, extract it back) ==")
    graft.functions.TextExpressions.register(spark)
    docs.limit(3).select(col("doc_id"),
      graft.functions.TextExpressions.xlsxExtract(
        graft.functions.TextExpressions.xlsxPack(array(
          array(lit("doc"), lit("lang")),
          array(col("doc_id").cast("string"), col("lang"))))).as("xlsx_text"))
      .show(3, false)

    println("== host-graph authority: PageRank / TrustRank(seeds 0-2) / HITS ==")
    val hostEdges = docs.select((col("doc_id") % 37).as("src"),
      ((col("doc_id") * 7 + 3) % 37).as("dst"))
    val pr = graft.ops.HostGraph.pageRank(hostEdges, 10)
      .orderBy(desc("rank_scaled")).limit(3)
    val tr = {
      import spark.implicits._
      graft.ops.HostGraph.trustRank(hostEdges, Seq(0L, 1L, 2L).toDF("node"), 10)
        .orderBy(desc("rank_scaled")).limit(3)
    }
    pr.show(3, false)
    tr.show(3, false)
    graft.ops.HostGraph.hits(hostEdges, 8)
      .orderBy(desc("auth_scaled")).limit(3).show(3, false)

    println("== round-7 at-rest lifecycles (SQ8 / BM25 delete+compact / rerank / as-of) ==")
    locally {
      import graft.search.Bm25
      val root = java.nio.file.Files.createTempDirectory("graft_drive_r7").toString
      // SQ8: write codes once, probe from disk
      graft.ops.Sq.writeCodes(emb, s"$root/sq8")
      val qs3 = emb.where(col("vec_id").isin(3, 7, 11))
        .select(col("vec_id").as("query_id"), col("embedding").as("query_vec"))
      graft.ops.Sq.sqProbe(spark, s"$root/sq8", qs3, emb, k = 3, rerank = 16)
        .orderBy("query_id", "rank").show(9, false)
      // BM25: write → delete → mark-delete probe → compact → probe
      Bm25.writeIndex(docs, "doc_id", "text", s"$root/bm25", termBuckets = 8)
      Bm25.deleteDocs(spark, s"$root/bm25", Seq(3L))
      val qt = {
        import spark.implicits._
        Seq((0L, "spark window merge")).toDF("query_id", "query_text")
      }
      println("mark-delete probe (doc 3 must be absent):")
      Bm25.topKBatch(qt, Bm25.loadIndex(spark, s"$root/bm25"), 5)
        .orderBy("rank").show(5, false)
      val (nb, na) = Bm25.compactIndex(spark, s"$root/bm25")
      println(s"compact: $nb -> $na docs; post-compact probe:")
      Bm25.topKBatch(qt, Bm25.loadIndex(spark, s"$root/bm25"), 5)
        .orderBy("rank").show(5, false)
      // second-stage rerank over a BM25 first stage
      val hits = Bm25.topKBatch(qt, Bm25.loadIndex(spark, s"$root/bm25"), 10)
        .select("query_id", "doc_id", "rank")
      graft.serve.Reranker.rerankTopK(
        hits, qt, docs.select("doc_id", "text"), graft.serve.OverlapReranker, k = 3)
        .orderBy("rank").show(3, false)
      // MoR time travel: as-of 0 predates an epoch-1 delete
      val idxPath = s"$root/mor"
      val d6 = docs.limit(6).select("doc_id", "text")
      val embedder = VectorIndex.fit(d6)
      VectorIndex.append(spark, d6, idxPath, embedder)
      VectorIndex.deleteDocs(spark, Seq(0L, 1L), idxPath, epoch = 1)
      println(s"now-view rows: ${VectorIndex.loadActive(spark, idxPath).count()}, " +
        s"as-of-0 rows: ${VectorIndex.loadActiveAsOf(spark, idxPath, 0L).count()}")

      // round 11: the cached-RAG serving loop end to end — batch 1 seeds
      // the answer cache through the miss pipeline, batch 2 re-asks the
      // same questions and is served ENTIRELY from the store at cost 0,
      // then the cache is capped (FIFO) and a takedown delete lands
      val cache = s"$root/anscache"
      val askTwice = emb.where(col("vec_id").isin(3, 7, 11))
        .join(docs, col("vec_id") === col("doc_id"))
        .select(col("vec_id").as("query_id"), col("text").as("question"),
          col("embedding").as("query_vec"))
      val echoMisses: org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame =
        m => graft.serve.EchoAnswerer
          .answer(m.withColumn("context", col("question")), "question", "context")
          .withColumn("cost", lit(0.01))
          .select("query_id", "question", "answer", "cost")
      println("cached-RAG batch 1 (all miss -> answered + admitted):")
      graft.serve.CachedRag
        .cachedAnswerBatch(spark, askTwice, cache, 0.95, echoMisses)
        .select("query_id", "hit", "cache_id", "cost").orderBy("query_id").show(3)
      println("cached-RAG batch 2 (re-asked -> served from the store at cost 0):")
      graft.serve.CachedRag.cachedAnswerBatch(spark,
        askTwice.select((col("query_id") + 100).as("query_id"),
          col("question"), col("query_vec")),
        cache, 0.95, echoMisses)
        .select("query_id", "hit", "cache_id", "cost").orderBy("query_id").show(3)
      val (cb, ca) = graft.serve.SemanticCache.evictCache(spark, cache, maxEntries = 2)
      println(s"cache evicted (FIFO by minted id): $cb -> $ca entries")
      // round 12: index-rebuild invalidation — answers minted before the
      // watermark are stale (wrong, not merely numerous) and swept
      val (ib, ia) = graft.serve.SemanticCache
        .invalidateCacheBefore(spark, cache, minCacheId = 1000011L)
      println(s"cache invalidated below mint watermark 1000011: $ib -> $ia entries")

      // round 12: the CHAT composition around the cached loop, the
      // observability report, and LRU eviction from the disposition
      // history. Turn 0: two sessions miss and admit; turn 1: session 1
      // RE-ASKS — served from the store at cost 0 with a prompt that
      // carries the remembered turn (3 -> 7 messages). The report prices
      // what the hit avoided; LRU keeps the REFRESHED entry where FIFO
      // would have kept the younger minted id.
      println("== round-12: chat-RAG turns + cache report + LRU eviction ==")
      val chatCache = s"$root/chatcache"
      val chatMem = s"$root/chatmem"
      val chatDisp = s"$root/chatdisp"
      val ask2 = emb.where(col("vec_id").isin(3, 7))
        .join(docs, col("vec_id") === col("doc_id"))
        .select(when(col("vec_id") === 3, "s1").otherwise("s2").as("session_id"),
          col("vec_id").as("query_id"), col("text").as("question"),
          col("embedding").as("query_vec"))
      val t0 = graft.serve.ChatRag.chatTurn(
        spark, ask2, chatMem, chatCache, 0.95, echoMisses)
      t0.select("session_id", "turn", "hit", "cost", "n_prompt_msgs")
        .orderBy("session_id").show(2)
      val t1 = graft.serve.ChatRag.chatTurn(
        spark, ask2.where(col("session_id") === "s1")
          .select(col("session_id"), (col("query_id") + 100).as("query_id"),
            col("question"), col("query_vec")),
        chatMem, chatCache, 0.95, echoMisses)
      t1.select("session_id", "turn", "hit", "cost", "n_prompt_msgs").show(1)
      val dispCols = Seq("query_id", "cache_id", "hit", "cost")
      t0.select(dispCols.map(col): _*).write.parquet(s"$chatDisp/batch=0")
      t1.select(dispCols.map(col): _*).write.parquet(s"$chatDisp/batch=1")
      println("cache report over the landed dispositions:")
      graft.serve.SemanticCache.cacheReport(
        spark.read.parquet(chatDisp)).orderBy("batch").show(2, false)
      val (lb, la) = graft.serve.SemanticCache
        .evictCacheLru(spark, chatCache, chatDisp, maxEntries = 1)
      val survivor = spark.read.parquet(chatCache)
        .select("cache_id").head.getLong(0)
      println(s"LRU evicted $lb -> $la: survivor $survivor " +
        "(the REFRESHED entry; FIFO would have kept 1000007)")

      // round 12: DPR hard-negative mining — per query the nearest
      // corpus vectors EXCLUDING its positives (itself here)
      println("== round-12: hard-negative mining (top-3 excluding self) ==")
      graft.ops.TrainingData.hardNegatives(
        emb.where(col("vec_id").isin(3, 7))
          .select(col("vec_id").as("query_id"), col("embedding").as("query_vec")),
        emb.select(col("vec_id").as("doc_id"), col("embedding")),
        emb.where(col("vec_id").isin(3, 7))
          .select(col("vec_id").as("query_id"), col("vec_id").as("doc_id")),
        k = 3)
        .orderBy("query_id", "rank").show(6, false)

      // round 12: MMR diversity re-rank (the LangChain
      // max_marginal_relevance_search shape) — reversed-embedding
      // queries (a corpus-member query degenerates every stage-2 score
      // to an exact-zero tie), k=3 of 8 fetched, lambda 0.5
      println("== round-12: MMR diversity re-rank (k=3, fetchK=8) ==")
      graft.search.Mmr.mmrTopKBatch(
        emb.where(col("vec_id").isin(3, 7))
          .select(col("vec_id").as("query_id"),
            reverse(col("embedding")).as("query_vec")),
        emb, k = 3, fetchK = 8, idCol = "vec_id")
        .orderBy("query_id", "rank").show(6, false)

      // round 12: WARC roundtrip — documents shard into gzip-per-record
      // archives (the Common Crawl layout) and stream back through the
      // parser + mojibake-safe decode
      println("== round-12: WARC ingest roundtrip (4 gz shards) ==")
      val wdocs = spark.read.parquet(s"$sfDir/documents.parquet")
      val wrecs = wdocs.select(
        (col("doc_id") % 4).cast("long").as("shard"),
        concat(lit("http://corpus.local/doc/"), col("doc_id")).as("uri"),
        concat(lit("urn:graft:doc:"), col("doc_id")).as("rid"),
        encode(col("text"), "UTF-8").as("payload"))
      val wblobs = graft.ingest.Warc.toWarcBlobs(wrecs, "shard", "uri", "rid", "payload")
      val parsed = graft.ingest.Warc.responseText(
        graft.ingest.Warc.parseBlobs(wblobs, "content"))
      println(s"records roundtripped: ${parsed.count()} of ${wdocs.count()} docs")
      parsed.select("target_uri", "n_bytes").orderBy("target_uri").show(3, false)

      // round 12: JSONL arm — PERMISSIVE parse with the corrupt-line audit
      println("== round-12: JSONL ingest (audit contract) ==")
      val jlines = wdocs
        .select(to_json(struct(col("doc_id"), col("lang"), col("text"))).as("line"))
        .unionByName(Seq("definitely not json").toDF("line"))
      val jparsed = graft.ingest.TextSources.parseJsonlLines(jlines, "line",
        org.apache.spark.sql.types.StructType.fromDDL(
          "doc_id BIGINT, lang STRING, text STRING"))
      val nCorrupt = jparsed.where(col("_corrupt_record").isNotNull).count()
      println(s"parsed: ${jparsed.count()} lines, $nCorrupt corrupt (audited, not dropped)")

      // round 13: the chat-memory lifecycle — bucketed layout, policy
      // fold, rebuild invalidation, disposition retention
      println("== round-13: chat memory lifecycle + cache invalidation + retention ==")
      val c13root = java.nio.file.Files.createTempDirectory("graft_drive13").toString
      val (c13mem, c13cache, c13disp) =
        (s"$c13root/mem", s"$c13root/cache", s"$c13root/disp")
      val echoM: org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame =
        missQ => missQ.select(col("query_id"), col("question"),
          concat(lit("computed: "), col("question")).as("answer"),
          lit(0.5).as("cost"))
      val pol13 = graft.ops.Layout.MaintenancePolicy(
        maxSmallFiles = 3, smallFileBytes = 1L << 20)
      import spark.implicits._
      (0 until 6).foreach { i =>
        val v = Array(math.cos(i * 0.7).toFloat, math.sin(i * 0.7).toFloat)
        graft.serve.ChatRag.chatTurn(spark,
          Seq(("drive-s1", 900L + i, s"drive q $i", v))
            .toDF("session_id", "query_id", "question", "query_vec"),
          c13mem, c13cache, minCos = 0.999, echoM, maintenance = Some(pol13))
          .write.mode("overwrite").parquet(s"$c13disp/batch=$i")
      }
      val memRows = spark.read.parquet(c13mem).count()
      val bucket = graft.serve.ChatRag.sessionBucket("drive-s1", 16)
      val bucketFiles = new java.io.File(s"$c13mem/sbucket=$bucket")
        .listFiles().count(f => f.isFile && !f.getName.startsWith("_") &&
          !f.getName.startsWith(".") && f.length > 0)
      println(s"6 turns -> $memRows memory rows in sbucket=$bucket " +
        s"($bucketFiles files after the policy fold)")
      // rebuild invalidation: sweep everything minted before the horizon
      val (invB, invA) = graft.serve.SemanticCache
        .invalidateCacheBefore(spark, c13cache, 1000903L)
      println(s"invalidateCacheBefore: $invB -> $invA entries (pre-rebuild mints swept)")
      // retention: fold recency, prune the folded early history
      graft.serve.SemanticCache.evictCacheLru(spark, c13cache, c13disp,
        maxEntries = 2)
      val (prB, prA) = graft.serve.SemanticCache
        .pruneDispositions(spark, c13disp, retainFrom = 4L)
      println(s"pruneDispositions: $prB -> $prA batch dirs (folded history retired)")
      val report = graft.serve.SemanticCache.cacheReport(
        graft.serve.SemanticCache.readDispositions(spark, c13disp, fromBatch = 4L))
      report.orderBy("batch").show(false)

      // round-14 memory lifecycle: widen the fan-out mid-life (recorded
      // marker replaced, history intact), forget a session (c15's law:
      // the return is brand-new), retire idle sessions by ts horizon
      println("== memory lifecycle: rebucket -> forget -> idle retention ==")
      graft.serve.ChatRag.rebucketMemoryTable(spark, c13mem, newBuckets = 64)
      val postResize = graft.serve.ChatRag.chatTurn(spark,
        Seq(("drive-s1", 990L, "post-resize q",
          Array(math.cos(99.0).toFloat, math.sin(99.0).toFloat)))
          .toDF("session_id", "query_id", "question", "query_vec"),
        c13mem, c13cache, minCos = 0.999, echoM)
        .select("turn").as[Long].head()
      println(s"rebucket 16->64: next turn continues at $postResize")
      val gone = graft.serve.ChatRag.deleteSessions(spark, c13mem,
        Seq("drive-s1"))
      val back = graft.serve.ChatRag.chatTurn(spark,
        Seq(("drive-s1", 991L, "after forget",
          Array(math.cos(77.0).toFloat, math.sin(77.0).toFloat)))
          .toDF("session_id", "query_id", "question", "query_vec"),
        c13mem, c13cache, minCos = 0.999, echoM, turnTs = Some(1500L))
        .select("turn").as[Long].head()
      println(s"deleteSessions removed $gone rows; returning session starts at turn $back")
      // an idle session whose newest turn predates the horizon
      graft.serve.ChatRag.chatTurn(spark,
        Seq(("drive-idle", 992L, "stale session",
          Array(math.cos(55.0).toFloat, math.sin(55.0).toFloat)))
          .toDF("session_id", "query_id", "question", "query_vec"),
        c13mem, c13cache, minCos = 0.999, echoM, turnTs = Some(500L)).count()
      val idlePruned = graft.serve.ChatRag.pruneIdleSessions(spark, c13mem,
        beforeTs = 1000L)
      println(s"pruneIdleSessions(ts<1000) retired $idlePruned rows " +
        s"(${graft.serve.PartitionedTable.read(spark, c13mem).count()} remain)")
      // the round-15 observability row: what an operator reads before
      // choosing the next lifecycle action
      val rep = graft.serve.ChatRag.memoryReport(spark, c13mem).head()
      println(s"memoryReport: sessions=${rep.getLong(0)} rows=${rep.getLong(1)} " +
        s"nbuckets=${rep.getLong(5)} horizon=${rep.getLong(6)} files=${rep.getLong(8)}")

      println("== chat-log day= layout: append -> prune (partition drop) -> forget ==")
      val dayLog = s"$c13root/daylog"
      import graft.serve.ChatLog
      ChatLog.append(Seq(
        ("drive-u1", "old question", "old answer", 10L),
        ("drive-u2", "mid question", "mid answer", 150L),
        ("drive-u1", "new question", "new answer", 250L))
        .toDF("user", "message", "response", "ts"), dayLog, dayWidth = 100L)
      val logPruned = ChatLog.pruneBefore(spark, dayLog, beforeTs = 100L)
      val logForgot = ChatLog.deleteUsers(spark, dayLog, Seq("drive-u2"))
      println(s"pruneBefore dropped day 0 ($logPruned rows, footer-counted); " +
        s"deleteUsers forgot $logForgot; " +
        s"${spark.read.parquet(dayLog).count()} survive in " +
        s"day dirs; vacuum swept " +
        s"${graft.ops.Layout.vacuum(spark, dayLog)} leftover groups")
    }

    spark.stop()
  }
}
