package graft.serve

import graft.SparkSpec
import org.apache.spark.ListenerBusDrain
import org.apache.spark.sql.functions._

class ServingSpec extends SparkSpec {
  import spark.implicits._

  test("context assembly joins hits ascending by distance with newline") {
    val hits = Seq(
      (0L, 2.0, "far chunk"),
      (0L, 1.0, "near chunk"),
      (1L, 0.5, "other query")
    ).toDF("query_id", "dist", "text")
    val got = ContextAssembly.assemble(hits).orderBy("query_id")
      .as[(Long, String)].collect().toSeq
    assert(got == Seq((0L, "near chunk\nfar chunk"), (1L, "other query")))
  }

  test("assembleAll falls back to the reference no-info string") {
    val queries = Seq(1L, 2L).toDF("query_id")
    val hits = Seq((1L, 1.0, "hit")).toDF("query_id", "dist", "text")
    val got = ContextAssembly.assembleAll(queries, hits).orderBy("query_id")
      .as[(Long, String)].collect().toSeq
    assert(got == Seq((1L, "hit"), (2L, "No hay información relevante.")))
  }

  test("prompt assembly faithful mode duplicates every history turn (reference bug)") {
    val history = Seq(("s1", 0L, "user", "hello"), ("s1", 1L, "assistant", "hi"))
      .toDF("session_id", "turn", "role", "content")
    val queries = Seq(("s1", "next?", "the ctx")).toDF("session_id", "question", "context")
    val msgs = PromptAssembly.messages(history, queries, faithful = true)
      .orderBy("msg_idx").as[(String, Long, String, String)].collect().toSeq
    val roles = msgs.map(m => (m._3, m._4))
    assert(roles == Seq(
      ("system", Config.SystemPrompt),
      ("user", "hello"), ("assistant", "hello"),
      ("user", "hi"), ("assistant", "hi"),
      ("user", "next?"),
      ("system", "Context:\nthe ctx")))
  }

  test("prompt assembly correct mode keeps stored roles") {
    val history = Seq(("s1", 0L, "user", "hello"), ("s1", 1L, "assistant", "hi"))
      .toDF("session_id", "turn", "role", "content")
    val queries = Seq(("s1", "next?", "ctx")).toDF("session_id", "question", "context")
    val msgs = PromptAssembly.messages(history, queries, faithful = false)
      .orderBy("msg_idx").as[(String, Long, String, String)].collect().toSeq
    assert(msgs.map(_._3) == Seq("system", "user", "assistant", "user", "system"))
  }

  test("prompt assembly works with empty history") {
    val history = Seq.empty[(String, Long, String, String)]
      .toDF("session_id", "turn", "role", "content")
    val queries = Seq(("s1", "q?", "ctx")).toDF("session_id", "question", "context")
    val msgs = PromptAssembly.messages(history, queries)
      .orderBy("msg_idx").as[(String, Long, String, String)].collect().toSeq
    assert(msgs.map(_._3) == Seq("system", "user", "system"))
  }

  test("payload shape is an ordered array of (role, content) structs") {
    val history = Seq(("s1", 0L, "user", "hello"))
      .toDF("session_id", "turn", "role", "content")
    val queries = Seq(("s1", "q?", "ctx")).toDF("session_id", "question", "context")
    val payload = PromptAssembly.asPayload(
      PromptAssembly.messages(history, queries, faithful = false))
    val arr = payload.select("messages").head.getSeq[org.apache.spark.sql.Row](0)
    assert(arr.map(_.getString(0)) == Seq("system", "user", "user", "system"))
  }

  test("memory append produces the two next-turn rows") {
    val rows = SessionMemory.appendRows(spark, "s1", 4L, "q", "a")
      .as[(String, Long, String, String)].collect().toSeq
    assert(rows == Seq(("s1", 4L, "user", "q"), ("s1", 5L, "assistant", "a")))
  }

  test("cost model matches reference pricing (app.py:276)") {
    val df = Seq((1000L, 500L)).toDF("pt", "ct")
    val cost = Costing.withCost(df, col("pt"), col("ct")).select("cost").as[Double].head()
    assert(math.abs(cost - (1000 * 1e-5 + 500 * 3e-5)) < 1e-12)
  }

  test("latency is the timestamp delta in seconds") {
    val df = Seq(("2024-01-01 00:00:00.000", "2024-01-01 00:00:01.500"))
      .toDF("a", "b")
      .select(to_timestamp($"a").as("a"), to_timestamp($"b").as("b"))
    val sec = df.select(Costing.latencySec($"a", $"b")).as[Double].head()
    assert(math.abs(sec - 1.5) < 1e-9)
  }

  test("chat-log batch sink appends across writes") {
    val out = tempDir("chatlog_batch").toString
    val r1 = ChatLog.record(
      Seq(("u1", "hi")).toDF("u", "m"), col("u"), col("m"), lit("ok"),
      lit("2024-02-01 00:00:00"))
    val r2 = ChatLog.record(
      Seq(("u2", "again")).toDF("u", "m"), col("u"), col("m"), lit("ok2"),
      lit("2024-02-01 00:01:00"))
    ChatLog.append(r1, out)
    ChatLog.append(r2, out)
    val logged = spark.read.parquet(out)
    assert(logged.count() == 2)
    // the day= layout column rides reads after the data columns (a string
    // ts can't derive a day — these rows age into the null partition)
    assert(logged.columns.toSeq == Seq("user", "message", "response", "ts", "day"))
    assert(logged.select("response").as[String].collect().toSet == Set("ok", "ok2"))
  }

  test("echo answerer is grounded in the top context line") {
    val df = Seq((0L, "what?", "line one\nline two")).toDF("query_id", "question", "context")
    val ans = EchoAnswerer.answer(df, "question", "context").select("answer").as[String].head()
    assert(ans == s"[${Config.AgentName}] line one")
  }

  test("OverlapReranker: distinct-token overlap, duplicates and case folded") {
    val pairs = Seq(
      (1L, "Apple banana CHERRY", "apple APPLE apple pie"), // {apple} -> 1
      (1L, "Apple banana CHERRY", "banana cherry durian"), //  {banana,cherry} -> 2
      (1L, "Apple banana CHERRY", "unrelated words only")) //  {} -> 0
      .toDF("query_id", "query_text", "text")
    val got = OverlapReranker.score(pairs, "query_text", "text")
      .select("text", "rr_score").as[(String, Long)].collect().toMap
    assert(got("apple APPLE apple pie") == 1L)
    assert(got("banana cherry durian") == 2L)
    assert(got("unrelated words only") == 0L)
  }

  test("rerankTopK: rescored order with the (score, first-stage rank, id) tie law") {
    val hits = Seq(
      (1L, 10L, 1), (1L, 20L, 2), (1L, 30L, 3), (1L, 40L, 4))
      .toDF("query_id", "doc_id", "rank")
    val queries = Seq((1L, "apple banana")).toDF("query_id", "query_text")
    val docs = Seq(
      (10L, "nothing relevant"), //        score 0
      (20L, "apple banana both"), //       score 2 -> new rank 1
      (30L, "apple only here"), //         score 1, first-stage rank 3
      (40L, "banana only here")) //        score 1, first-stage rank 4 -> ties
      .toDF("doc_id", "text")
    val out = Reranker.rerankTopK(hits, queries, docs, OverlapReranker, k = 3)
      .orderBy("rank")
      .select("rank", "doc_id", "rr_score").as[(Int, Long, Long)].collect().toSeq
    // tie between 30 and 40 breaks on the FIRST-STAGE rank (3 before 4)
    assert(out == Seq((1, 20L, 2L), (2, 30L, 1L), (3, 40L, 1L)), s"got $out")
  }

  test("semantic cache: exact hit, tie on smallest cache_id, sub-threshold miss, empty cache") {
    import org.apache.spark.sql.functions.col
    val v1 = Array(1.0f, 0.0f)
    val v2 = Array(0.0f, 1.0f)
    val vm = Array(1.0f, 1.0f) // cos 0.7071 to both axes — below 0.95
    val qs = Seq((100L, v1), (101L, vm)).toDF("query_id", "query_vec")
    // two cache entries IDENTICAL to v1 (ids 7 and 3): tie must break to 3
    val cache = Seq((7L, v1), (3L, v1), (9L, v2)).toDF("cache_id", "embedding")
    val got = SemanticCache.lookup(qs, cache, minCos = 0.95)
      .collect().map(r => r.getLong(0) ->
        (if (r.isNullAt(1)) None else Some(r.getLong(1)), r.getBoolean(3))).toMap
    assert(got(100L) == (Some(3L), true), s"tie must break to smallest id: $got")
    assert(got(101L) == (None, false), "sub-threshold query must be a MISS row")
    // empty cache: every query is a miss, none dropped
    val none = SemanticCache.lookup(qs, cache.where(col("cache_id") < 0), minCos = 0.95)
    assert(none.count() == 2 && none.where(col("hit")).count() == 0)
  }

  test("semantic cache banded scale path: exact-duplicate hits guaranteed, dispositions match exact lookup") {
    import org.apache.spark.sql.functions.col
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val qs = emb.where(col("vec_id") % 11 === 3)
      .select(col("vec_id").as("query_id"), col("embedding").as("query_vec"))
    val cache = emb.where(col("vec_id") % 7 === 0)
      .select(col("vec_id").as("cache_id"), col("embedding"))
    def dispositions(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => r.getLong(0) ->
        (if (r.isNullAt(1)) None else Some(r.getLong(1)), r.getBoolean(3))).toMap
    val exact = dispositions(SemanticCache.lookup(qs, cache, minCos = 0.95))
    val banded = dispositions(SemanticCache.lookupBanded(qs, cache, minCos = 0.95))
    // precision: every banded hit is an exact hit with the same cache id
    banded.foreach { case (q, (cid, hit)) =>
      if (hit) assert(exact(q) == ((cid, true)), s"banded false positive at $q") }
    // cos=1 hits (exact duplicates) MUST all be found — identical band
    // keys collide in every table, the re-asked-question guarantee
    val selfHits = exact.collect { case (q, (Some(cid), true)) if q == cid => q }
    selfHits.foreach { q =>
      assert(banded(q)._2, s"exact-duplicate hit $q must never be missed") }
    // on this fixture every exact hit IS a self-duplicate, so the full
    // disposition maps agree
    assert(banded == exact)
  }

  test("cache intake: misses inserted, replay converges, next batch hits admissions") {
    import org.apache.spark.sql.functions.col
    val v1 = Array(1.0f, 0.0f); val v2 = Array(0.0f, 1.0f); val v3 = Array(0.6f, 0.8f)
    val tmp = tempDir("graft_ci").toString + "/cache"
    Seq((7L, v1)).toDF("cache_id", "embedding").write.parquet(tmp)
    val b1 = Seq((100L, v1), (101L, v2)).toDF("query_id", "query_vec")
    val d1 = SemanticCache.intakeBatch(spark, b1, tmp, minCos = 0.95)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getBoolean(3))).toMap
    assert(d1(100L) == (7L, true), "exact dup must hit the seed cache")
    assert(d1(101L) == (1000101L, false), "miss must carry its new cache id")
    // replay of batch 1: SAME dispositions (own insertions excluded from
    // the lookup), no duplicate cache rows
    val d1r = SemanticCache.intakeBatch(spark, b1, tmp, minCos = 0.95)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getBoolean(3))).toMap
    assert(d1r == d1, "a replayed batch must re-derive identical dispositions")
    val stored = spark.read.parquet(tmp)
    assert(stored.count() == 2 && stored.select("cache_id").distinct().count() == 2,
      "replay must not duplicate cache entries")
    // batch 2: the re-asked question hits batch 1's admission; a novel
    // one misses and is admitted in turn
    val b2 = Seq((200L, v2), (201L, v3)).toDF("query_id", "query_vec")
    val d2 = SemanticCache.intakeBatch(spark, b2, tmp, minCos = 0.95)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getBoolean(3))).toMap
    assert(d2(200L) == (1000101L, true), s"re-asked question must hit the admission: $d2")
    assert(d2(201L) == (1000201L, false))
    assert(spark.read.parquet(tmp).count() == 3)
  }

  test("cache intake: a batch of identical questions inserts ONE entry, losers hit the winner") {
    import org.apache.spark.sql.functions.col
    val v1 = Array(1.0f, 0.0f); val v2 = Array(0.0f, 1.0f)
    val tmp = tempDir("graft_ci_wb").toString + "/cache"
    Seq((7L, v2)).toDF("cache_id", "embedding").write.parquet(tmp)
    // three copies of the same novel question + one distinct novel one
    val b1 = Seq((100L, v1), (101L, v1), (102L, v1), (103L, Array(0.8f, -0.6f)))
      .toDF("query_id", "query_vec")
    def disp(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => r.getLong(0) -> (r.getLong(1), r.getBoolean(3))).toMap
    val d1 = disp(SemanticCache.intakeBatch(spark, b1, tmp, minCos = 0.95))
    assert(d1(100L) == (1000100L, false), "smallest id wins and inserts")
    assert(d1(101L) == (1000100L, true), s"in-batch dup must hit the winner's entry: $d1")
    assert(d1(102L) == (1000100L, true))
    assert(d1(103L) == (1000103L, false))
    val stored = spark.read.parquet(tmp)
    assert(stored.count() == 3, "ONE entry for the triplet, one for the novel, one seed")
    // replay re-derives identical dispositions and inserts nothing
    assert(disp(SemanticCache.intakeBatch(spark, b1, tmp, minCos = 0.95)) == d1)
    assert(spark.read.parquet(tmp).count() == 3)
    // in-batch cos is reported for the losers (exact dup -> 1.0)
    val cos101 = SemanticCache.intakeBatch(spark, b1, tmp, minCos = 0.95)
      .where(col("query_id") === 101).select("cos").head.getDouble(0)
    assert(cos101 == 1.0)
  }

  test("cache intake: chain tails promote (served hits always within minCos of their entry)") {
    // a ~ b, b ~ c, but a !~ c: keep-smallest would point c at a's entry
    // below threshold; the law promotes c to its own insert instead
    val a = Array(1.0f, 0.0f)
    val deg = math.toRadians(14.0) // cos 14deg ~ .970 >= .95; cos 28deg ~ .883 < .95
    val b = Array(math.cos(deg).toFloat, math.sin(deg).toFloat)
    val c = Array(math.cos(2 * deg).toFloat, math.sin(2 * deg).toFloat)
    val tmp = tempDir("graft_ci_chain").toString + "/cache"
    val batch = Seq((1L, a), (2L, b), (3L, c)).toDF("query_id", "query_vec")
    val d = SemanticCache.intakeBatch(spark, batch, tmp, minCos = 0.95)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getBoolean(3))).toMap
    assert(d(1L) == (1000001L, false), "no smaller partner: winner")
    assert(d(2L) == (1000001L, true), "direct pair: hits the winner")
    assert(d(3L) == (1000003L, false), s"chain tail must PROMOTE, not hit sub-threshold: $d")
    assert(spark.read.parquet(tmp).count() == 2)
  }

  test("cache intake: bootstraps an absent store path (no pre-seeding required)") {
    val tmp = tempDir("graft_ci_boot").toString + "/cache"
    val b1 = Seq((1L, Array(1.0f, 0.0f))).toDF("query_id", "query_vec")
    val d1 = SemanticCache.intakeBatch(spark, b1, tmp, minCos = 0.95)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getBoolean(3))).toMap
    assert(d1(1L) == (1000001L, false))
    assert(spark.read.parquet(tmp).count() == 1, "batch 1 must insert into the fresh store")
  }

  test("cache intake: id collision with a DIFFERENT embedding fails loudly, replays don't") {
    val v1 = Array(1.0f, 0.0f); val v2 = Array(0.0f, 1.0f)
    val tmp = tempDir("graft_ci_clash").toString + "/cache"
    // seed an entry squatting on the id batch query 500 would mint
    Seq((1000500L, v1)).toDF("cache_id", "embedding").write.parquet(tmp)
    // replay-shaped reuse (same embedding) is legal and converges
    val ok = SemanticCache.intakeBatch(spark,
      Seq((500L, v1)).toDF("query_id", "query_vec"), tmp, minCos = 0.95)
    assert(ok.count() == 1 && spark.read.parquet(tmp).count() == 1)
    // a different embedding under the same minted id is a collision
    val err = intercept[IllegalArgumentException] {
      SemanticCache.intakeBatch(spark,
        Seq((500L, v2)).toDF("query_id", "query_vec"), tmp, minCos = 0.95)
    }
    assert(err.getMessage.contains("collision"))
  }

  test("cache intake: forced banded route derives the same dispositions as the exact route") {
    import org.apache.spark.sql.functions.col
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    def freshCache(): String = {
      val tmp = tempDir("graft_ci_route").toString + "/cache"
      emb.where(col("vec_id") % 7 === 0)
        .select(col("vec_id").as("cache_id"), col("embedding")).write.parquet(tmp)
      tmp
    }
    val batch = emb.where(col("vec_id") % 11 === 3)
      .select(col("vec_id").as("query_id"), col("embedding").as("query_vec"))
    def disp(maxExact: Long) = SemanticCache
      .intakeBatch(spark, batch, freshCache(), minCos = 0.95,
        maxExactProduct = maxExact)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getBoolean(3))).toMap
    val exact = disp(Long.MaxValue)
    val banded = disp(0L) // every pair product exceeds 0: banded lookup
    assert(banded == exact,
      "the banded intake route must serve every exact-duplicate hit and admit the same misses")
  }

  test("streamingCachedRag: hits served from store, misses answered + admitted, redelivery converges") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlC = spark.sqlContext
    val tmp = tempDir("graft_scrag").toString
    val (cache, out) = (s"$tmp/cache", s"$tmp/out")
    val v1 = Array(1.0f, 0.0f); val v2 = Array(0.0f, 1.0f)
    Seq((7L, v1, "stored answer one")).toDF("cache_id", "embedding", "answer")
      .write.parquet(cache)
    // deterministic miss pipeline: echo the question as the answer, flat cost
    val answerMisses: org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame =
      missQ => missQ.select(col("query_id"), col("question"),
        concat(lit("computed: "), col("question")).as("answer"),
        lit(0.5).as("cost"))
    val mem = MemoryStream[(Long, String, Array[Float])]
    val q = CachedRag.streamingCachedRag(
      mem.toDF().toDF("query_id", "question", "query_vec"),
      cache, out, s"$tmp/ckpt", answerMisses).start()
    try {
      mem.addData(Seq((1L, "q one", v1), (2L, "q two", v2))) // hit seed, miss
      q.processAllAvailable()
      mem.addData(Seq((10L, "q two again", v2))) // hits batch 0's admission
      q.processAllAvailable()
      def disp() = spark.read.parquet(out)
        .select("batch", "query_id", "answer", "hit", "cache_id", "cost")
        .collect().map(r => (r.getInt(0), r.getLong(1)) ->
          (r.getString(2), r.getBoolean(3), r.getLong(4), r.getDouble(5))).toMap
      val d = disp()
      assert(d((0, 1L)) == ("stored answer one", true, 7L, 0.0),
        s"hit must serve the STORED answer at cost 0: $d")
      assert(d((0, 2L)) == ("computed: q two", false, 1000002L, 0.5))
      assert(d((1, 10L)) == ("computed: q two", true, 1000002L, 0.0),
        s"a re-asked question must be served batch 0's stored answer: $d")
      // redelivery of batch 0's EXACT body: dispositions re-derived
      // identically (own-id exclusion), sink dir overwritten, no growth
      CachedRag.cachedRagBatchBody(spark,
        Seq((1L, "q one", v1), (2L, "q two", v2))
          .toDF("query_id", "question", "query_vec"),
        cache, out, 0L, minCos = 0.95, answerMisses)
      assert(disp() == d, "a redelivered micro-batch must converge")
      assert(spark.read.parquet(cache).count() == 2)
    } finally q.stop()
  }

  test("cache eviction: FIFO by minted id, at-cap no-op, evicted question re-admits") {
    import org.apache.spark.sql.functions.col
    val tmp = tempDir("graft_ci_evict").toString + "/cache"
    val vecs = (1L to 6L).map(i =>
      (i, Array(math.cos(i * 0.7).toFloat, math.sin(i * 0.7).toFloat), s"ans $i"))
    vecs.toDF("cache_id", "embedding", "answer").write.parquet(tmp)
    // at cap: no rewrite
    assert(SemanticCache.evictCache(spark, tmp, maxEntries = 6) == ((6L, 6L)))
    assert(spark.read.parquet(tmp).count() == 6)
    // over cap: the LOWEST (oldest-minted) ids go
    assert(SemanticCache.evictCache(spark, tmp, maxEntries = 4) == ((6L, 4L)))
    val kept = spark.read.parquet(tmp).select("cache_id")
      .collect().map(_.getLong(0)).toSet
    assert(kept == Set(3L, 4L, 5L, 6L), s"FIFO must keep the highest ids: $kept")
    // the swapped store still SERVES (lookup + intake both read it)
    val reAsk = Seq((100L, vecs(0)._2)).toDF("query_id", "query_vec") // evicted 1
    val d = SemanticCache.intakeBatch(spark, reAsk, tmp, minCos = 0.95)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getBoolean(3))).toMap
    assert(d(100L) == (1000100L, false),
      "an evicted question must MISS and re-admit — the loop heals itself")
    assert(spark.read.parquet(tmp).count() == 5)
  }

  test("cache delete: takedown removes entries physically, refuses to empty, no-ops on unknown ids") {
    val tmp = tempDir("graft_ci_del").toString + "/cache"
    Seq((1L, Array(1.0f, 0.0f), "a"), (2L, Array(0.0f, 1.0f), "b"))
      .toDF("cache_id", "embedding", "answer").write.parquet(tmp)
    assert(SemanticCache.deleteCacheEntries(spark, tmp, Seq(2L, 99L)) == ((2L, 1L)))
    val left = spark.read.parquet(tmp).select("cache_id")
      .collect().map(_.getLong(0)).toSet
    assert(left == Set(1L))
    assert(SemanticCache.deleteCacheEntries(spark, tmp, Nil) == ((1L, 1L)))
    val e = intercept[IllegalArgumentException] {
      SemanticCache.deleteCacheEntries(spark, tmp, Seq(1L))
    }
    assert(e.getMessage.contains("every entry"))
    assert(spark.read.parquet(tmp).count() == 1, "a refused delete leaves the store intact")
  }

  test("invalidateCacheBefore: stale-mint sweep, boundary survives, no-op never rewrites, heals on re-ask") {
    val tmp = tempDir("graft_ci_inval").toString + "/cache"
    Seq(
      (100L, Array(1.0f, 0.0f), "old a"),
      (200L, Array(0.0f, 1.0f), "old b"),
      (1000005L, Array(0.6f, 0.8f), "new c"))
      .toDF("cache_id", "embedding", "answer").write.parquet(tmp)
    // watermark at or below the oldest entry: declared no-op, no rewrite
    assert(SemanticCache.invalidateCacheBefore(spark, tmp, 50L) == ((3L, 3L)))
    // the rebuild sweep: strictly-older mints go, the boundary id stays
    assert(SemanticCache.invalidateCacheBefore(spark, tmp, 200L) == ((3L, 2L)))
    assert(spark.read.parquet(tmp).select("cache_id")
      .as[Long].collect().toSet == Set(200L, 1000005L))
    // an invalidated question re-asked is a MISS against the new state
    // and re-admits under its fresh minted id — the self-healing loop
    val reask = Seq((7L, Array(1.0f, 0.0f), "re-answered"))
      .toDF("query_id", "query_vec", "answer")
    val disp = SemanticCache.intakeBatch(spark, reask, tmp, minCos = 0.95,
      carryCols = Seq("answer"))
    assert(disp.where($"hit").count() == 0)
    assert(spark.read.parquet(tmp).select("cache_id")
      .as[Long].collect().toSet == Set(200L, 1000005L, 1000007L))
    // a watermark past every entry refuses loudly (takedown's law)
    val e = intercept[IllegalArgumentException] {
      SemanticCache.invalidateCacheBefore(spark, tmp, 99999999L)
    }
    assert(e.getMessage.contains("would empty"))
    assert(spark.read.parquet(tmp).count() == 3,
      "a refused invalidation leaves the store intact")
  }

  test("cachedAnswerBatch: forced banded route serves identical dispositions (RAG-body route parity)") {
    // round-11 verdict #1's done-criterion: the composed serving loop now
    // routes through the SAME exact-vs-banded chooser as the intake, and
    // on a cos-1 re-ask fixture the two routes are value-equal (the c11b
    // recipe applied to the RAG body). The fixture's store and batch size
    // the pass to ONE shuffle partition, so this also pins the banded
    // route's checkpoint-rejoin plan keeping AQE at the one-partition
    // threshold (only the exact route may drop it)
    import org.apache.spark.sql.functions.col
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val answerMisses: org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame =
      missQ => missQ.select(col("query_id"), col("question"),
        concat(lit("computed: "), col("question")).as("answer"),
        lit(0.5).as("cost"))
    def run(maxExact: Long): Map[Long, (String, Boolean, Long, Double)] = {
      val tmp = tempDir("graft_crag_route").toString + "/cache"
      emb.where(col("vec_id") % 7 === 0)
        .select(col("vec_id").as("cache_id"), col("embedding"),
          concat(lit("seed "), col("vec_id")).as("answer")).write.parquet(tmp)
      val batch = emb.where(col("vec_id") % 11 === 3)
        .select(col("vec_id").as("query_id"),
          concat(lit("question "), col("vec_id")).as("question"),
          col("embedding").as("query_vec"))
      CachedRag.cachedAnswerBatch(spark, batch, tmp, minCos = 0.95,
        answerMisses, maxExactProduct = maxExact)
        .collect().map(r => r.getLong(0) ->
          (r.getString(2), r.getBoolean(3), r.getLong(4), r.getDouble(5))).toMap
    }
    val exact = run(Long.MaxValue)
    val banded = run(0L)
    assert(banded == exact,
      "the banded RAG body must serve every exact-duplicate hit, answer and " +
        s"admit the same misses: $banded vs $exact")
    assert(exact.values.exists(_._2) && exact.values.exists(!_._2),
      "fixture must exercise both hit and miss arms")
  }

  test("idCutoff: exact keep counts even when the percentile seed is coarse") {
    import org.apache.spark.sql.functions.col
    val ids = spark.range(1000).select(col("id").as("cache_id"))
    // accuracy=10 forces large rank error, exercising BOTH correction
    // branches across the sweep; the law must hold regardless of seed
    for (keepN <- Seq(1L, 7L, 250L, 500L, 993L, 999L)) {
      val cutoff = SemanticCache.idCutoff(ids, 1000L, keepN, accuracy = 10)
      assert(cutoff == 1000L - keepN,
        s"keepN=$keepN: cutoff $cutoff must be the keepN-th highest id")
      assert(ids.where(col("cache_id") >= cutoff).count() == keepN)
    }
  }

  test("cache eviction boundary: cap 1 keeps exactly the newest entry") {
    val tmp = tempDir("graft_ci_evict1").toString + "/cache"
    (1L to 5L).map(i => (i, Array(i.toFloat, 1.0f), s"ans $i"))
      .toDF("cache_id", "embedding", "answer").write.parquet(tmp)
    assert(SemanticCache.evictCache(spark, tmp, maxEntries = 1) == ((5L, 1L)))
    val kept = spark.read.parquet(tmp).select("cache_id")
      .collect().map(_.getLong(0)).toSet
    assert(kept == Set(5L), s"cap 1 must keep only the newest minted id: $kept")
  }

  test("LRU eviction: a hit refreshes, an unhit entry ages out, absent history degrades to FIFO") {
    import org.apache.spark.sql.functions.col
    val tmp = tempDir("graft_ci_lru").toString
    val cache = s"$tmp/cache"
    val disp = s"$tmp/disp"
    def seed(): Unit = {
      (1L to 3L).map(i => (i, Array(i.toFloat, 1.0f), s"ans $i"))
        .toDF("cache_id", "embedding", "answer")
        .write.mode("overwrite").parquet(cache)
    }
    seed()
    // disposition history: batch 1 HIT entry 1 (refreshing it); 2 and 3
    // were never served from → they age as -1, FIFO among themselves
    Seq((1L, true, 1L)).toDF("cache_id", "hit", "batch")
      .write.partitionBy("batch").parquet(disp)
    assert(SemanticCache.evictCacheLru(spark, cache, disp, maxEntries = 2) == ((3L, 2L)))
    val kept = spark.read.parquet(cache).select("cache_id")
      .collect().map(_.getLong(0)).toSet
    assert(kept == Set(1L, 3L),
      s"the refreshed entry survives, the oldest unhit one ages out: $kept")
    // at cap: no-op
    assert(SemanticCache.evictCacheLru(spark, cache, disp, maxEntries = 2) == ((2L, 2L)))
    // absent history: pure FIFO (newest minted ids kept)
    seed()
    assert(SemanticCache.evictCacheLru(spark, cache, s"$tmp/nope", maxEntries = 2) == ((3L, 2L)))
    val fifo = spark.read.parquet(cache).select("cache_id")
      .collect().map(_.getLong(0)).toSet
    assert(fifo == Set(2L, 3L), s"no history means FIFO: $fifo")
  }

  test("cacheReport: hit rate and the paid/avoided cost ledger on the nano grid") {
    val disp = Seq(
      // batch 1: one priced miss (minting 1000001), one seed hit
      (1000001L, false, 0.5, 1L),
      (7L, true, 0.0, 1L),
      // batch 2: a hit on the minted entry (avoids its 0.5), a seed hit
      // (no priced history -> avoids 0), one more priced miss
      (1000001L, true, 0.0, 2L),
      (7L, true, 0.0, 2L),
      (1000005L, false, 0.25, 2L)
    ).toDF("cache_id", "hit", "cost", "batch")
    val got = SemanticCache.cacheReport(disp).orderBy("batch")
      .as[(Long, Long, Long, Long, Double, Long, Long)].collect().toSeq
    assert(got == Seq(
      (1L, 2L, 1L, 1L, 0.5, 500000000L, 0L),
      (2L, 3L, 2L, 1L, 0.666667, 250000000L, 500000000L)),
      s"report mismatch: $got")
  }

  test("chatTurn: memory composes — prompts grow, a re-ask hits at cost 0, appends land") {
    import org.apache.spark.sql.functions.col
    val tmp = tempDir("graft_chat").toString
    val (cache, mem) = (s"$tmp/cache", s"$tmp/mem")
    val v1 = Array(1.0f, 0.0f)
    val answerMisses: org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame =
      missQ => missQ.select(col("query_id"), col("question"),
        concat(lit("computed: "), col("question")).as("answer"),
        lit(0.5).as("cost"))
    val t0 = ChatRag.chatTurn(spark,
      Seq(("s1", 1L, "q one", v1)).toDF("session_id", "query_id", "question", "query_vec"),
      mem, cache, minCos = 0.95, answerMisses)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getString(4), r.getBoolean(5), r.getLong(6), r.getDouble(7), r.getLong(8)))
    assert(t0.toSeq == Seq(("s1", 0L, 1L, "computed: q one", false, 1000001L, 0.5, 3L)),
      s"turn 0: empty history -> 3-message prompt, miss answered: ${t0.toSeq}")
    val m0 = spark.read.parquet(mem).orderBy("turn")
      .select("session_id", "turn", "role", "content")
      .as[(String, Long, String, String)].collect().toSeq
    assert(m0 == Seq(("s1", 0L, "user", "q one"),
      ("s1", 1L, "assistant", "computed: q one")),
      s"C4 append law: $m0")
    // turn 1: the SAME question re-asked — hit at cost 0, prompt now
    // carries the remembered turn (3 + 2 faithful replays x 2 rows = 7)
    val t1 = ChatRag.chatTurn(spark,
      Seq(("s1", 5L, "q one", v1)).toDF("session_id", "query_id", "question", "query_vec"),
      mem, cache, minCos = 0.95, answerMisses)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getString(4), r.getBoolean(5), r.getLong(6), r.getDouble(7), r.getLong(8)))
    assert(t1.toSeq == Seq(("s1", 2L, 5L, "computed: q one", true, 1000001L, 0.0, 7L)),
      s"turn 1: hit served from store, prompt grew by the memory: ${t1.toSeq}")
    assert(spark.read.parquet(mem).count() == 4L,
      "each turn appends its (question, answer) pair")
  }

  test("LRU recency fold is incremental: folded history survives pruned batch dirs") {
    // the sidecar law: once a batch dir is folded into _recency/state,
    // the dir itself may be PRUNED — recency lives on. Without the
    // sidecar the second eviction below would see no history at all and
    // FIFO would keep the wrong entry.
    val tmp = tempDir("graft_ci_lruinc").toString
    val (cache, disp) = (s"$tmp/cache", s"$tmp/disp")
    (1L to 3L).map(i => (i, Array(i.toFloat, 1.0f), s"ans $i"))
      .toDF("cache_id", "embedding", "answer").write.parquet(cache)
    Seq((1L, true, 1L)).toDF("cache_id", "hit", "batch")
      .write.partitionBy("batch").parquet(disp)
    assert(SemanticCache.evictCacheLru(spark, cache, disp, maxEntries = 2) == ((3L, 2L)))
    val fs = new org.apache.hadoop.fs.Path(disp)
      .getFileSystem(spark.sessionState.newHadoopConf())
    assert(fs.exists(new org.apache.hadoop.fs.Path(s"$disp/_recency/state")),
      "the fold must land the recency sidecar")
    // prune the folded dir; evict again — entry 1's refresh must be
    // remembered from the sidecar, so it beats the younger never-used 3
    fs.delete(new org.apache.hadoop.fs.Path(s"$disp/batch=1"), true)
    assert(SemanticCache.evictCacheLru(spark, cache, disp, maxEntries = 1) == ((2L, 1L)))
    val kept = spark.read.parquet(cache).select("cache_id")
      .collect().map(_.getLong(0)).toSet
    assert(kept == Set(1L),
      s"recency must survive pruning via the sidecar (FIFO would keep 3): $kept")
    // idempotent re-fold: a marker at the water line folds nothing new
    assert(SemanticCache.foldRecency(spark, disp)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap == Map(1L -> 1L))
  }

  test("pruneDispositions: folded dirs retire, LRU/report unchanged, below-horizon reads refuse") {
    import org.apache.spark.sql.functions.col
    val root = tempDir("graft_prune").toString
    val disp = s"$root/disp"
    (1 to 4).foreach { b =>
      Seq((100L + b, b % 2 == 0, 0.25))
        .toDF("cache_id", "hit", "cost")
        .write.parquet(s"$disp/batch=$b")
    }
    // unfolded dirs refuse by default — their recency would silently age
    val e = intercept[IllegalArgumentException] {
      SemanticCache.pruneDispositions(spark, disp, retainFrom = 3L)
    }
    assert(e.getMessage.contains("not folded"), e.getMessage)
    // fold, then prune batches 1-2
    val folded = SemanticCache.foldRecency(spark, disp)
      .orderBy("cache_id").as[(Long, Long)].collect().toSeq
    val (before, after) =
      SemanticCache.pruneDispositions(spark, disp, retainFrom = 3L)
    assert((before, after) == ((4, 2)))
    // the folded recency is INTACT — pruned dirs' last_use lives in state
    val refolded = SemanticCache.foldRecency(spark, disp)
      .orderBy("cache_id").as[(Long, Long)].collect().toSeq
    assert(refolded == folded, s"pruning changed recency: $refolded vs $folded")
    // the report over the retained window is computable and correct
    val report = SemanticCache.cacheReport(
      SemanticCache.readDispositions(spark, disp, fromBatch = 3L))
      .orderBy("batch").select("batch", "n_queries").as[(Long, Long)]
      .collect().toSeq
    assert(report == Seq((3L, 1L), (4L, 1L)))
    // below-horizon reads refuse loudly instead of a silent partial ledger
    val e2 = intercept[IllegalArgumentException] {
      SemanticCache.readDispositions(spark, disp, fromBatch = 1L)
    }
    assert(e2.getMessage.contains("pruned"), e2.getMessage)
    // idempotent + monotone: re-pruning at the same horizon is a no-op
    assert(SemanticCache.pruneDispositions(spark, disp, 3L) == ((2, 2)))
    // a never-folded deployment can opt out of the fold requirement
    val (b2, a2) = SemanticCache.pruneDispositions(spark, disp,
      retainFrom = 4L, requireFolded = false)
    assert((b2, a2) == ((2, 1)))
  }

  test("foldRecency: markers without a state table reset the water (swap-crash recovery)") {
    // a crash inside the state swap's rename window leaves the markers
    // but no state — trusting the water mark then would age every
    // previously-folded entry to -1 (inverting LRU for the hot set);
    // the fold must instead refold every dir still on disk
    val disp = tempDir("graft_foldrec").toString + "/disp"
    Seq((5L, true, 2L)).toDF("cache_id", "hit", "batch")
      .write.partitionBy("batch").parquet(disp)
    def fold() = SemanticCache.foldRecency(spark, disp)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(fold() == Map(5L -> 2L))
    val fs = new org.apache.hadoop.fs.Path(disp)
      .getFileSystem(spark.sessionState.newHadoopConf())
    fs.delete(new org.apache.hadoop.fs.Path(s"$disp/_recency/state"), true)
    assert(fold() == Map(5L -> 2L),
      "a lost state table must refold the on-disk dirs, not trust the stale water")
    // the refold's newest dir (2) was already marked: the marker must
    // survive it, or pruning the folded dir refuses as "not folded"
    assert(SemanticCache.pruneDispositions(spark, disp, 3L) == ((1, 0)))
  }

  test("chatTurn refuses two questions for one session in a single turn") {
    val tmp = tempDir("graft_chat_2q").toString
    val answerMisses: org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame =
      missQ => missQ.select(col("query_id"), col("question"),
        col("question").as("answer"), lit(0.5).as("cost"))
    val e = intercept[IllegalArgumentException] {
      ChatRag.chatTurn(spark,
        Seq(("s1", 1L, "q one", Array(1.0f, 0.0f)),
          ("s1", 2L, "q two", Array(0.0f, 1.0f)))
          .toDF("session_id", "query_id", "question", "query_vec"),
        s"$tmp/mem", s"$tmp/cache", minCos = 0.95, answerMisses)
    }
    assert(e.getMessage.contains("one question per session"),
      s"the contract must refuse loudly: ${e.getMessage}")
  }

  test("chatTurn memoryWindow: the prompt is bounded by the c9 law, the log and turn numbers are not") {
    import org.apache.spark.sql.functions.col
    val tmp = tempDir("graft_chat_win").toString
    val (cache, mem) = (s"$tmp/cache", s"$tmp/mem")
    val v1 = Array(1.0f, 0.0f)
    val answerMisses: org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame =
      missQ => missQ.select(col("query_id"), col("question"),
        concat(lit("computed: "), col("question")).as("answer"),
        lit(0.5).as("cost"))
    def ask(qid: Long, window: Option[(Int, Long)]) = ChatRag.chatTurn(spark,
      Seq(("s1", qid, "q one", v1)).toDF("session_id", "query_id", "question", "query_vec"),
      mem, cache, minCos = 0.95, answerMisses, memoryWindow = window)
      .select("turn", "n_prompt_msgs").as[(Long, Long)].head()
    assert(ask(1L, None) == ((0L, 3L)))
    assert(ask(2L, None) == ((2L, 7L)))
    // turn 3 unwindowed would carry 4 remembered rows (3 + 2*4 = 11);
    // the c9 window keeps the newest 2 rows -> 3 + 2*2 = 7. Turn
    // numbering still rides the FULL log (turn 4, not a renumber).
    assert(ask(3L, Some((2, 1000L))) == ((4L, 7L)),
      "the window must bound the prompt without renumbering the conversation")
    assert(spark.read.parquet(mem).count() == 6L,
      "the log keeps every turn — only the prompt is windowed")
  }

  test("chat memory lifecycle: turns accumulate files, the policy folds them, values unchanged") {
    // round-12 verdict #1: the memory table was the one store with no
    // lifecycle — one file per turn forever. With the policy wired, N
    // turns converge to a bounded file count per bucket dir, and neither
    // the log nor the dispositions change.
    import org.apache.spark.sql.functions.col
    val tmp = tempDir("graft_chat_maint").toString
    val (cache, mem) = (s"$tmp/cache", s"$tmp/mem")
    val answerMisses: org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame =
      missQ => missQ.select(col("query_id"), col("question"),
        concat(lit("computed: "), col("question")).as("answer"),
        lit(0.5).as("cost"))
    val pol = graft.ops.Layout.MaintenancePolicy(
      maxSmallFiles = 3, smallFileBytes = 1L << 20)
    val nTurns = 8
    (0 until nTurns).foreach { i =>
      // distinct questions so every turn is a miss (vectors far apart)
      val v = Array(math.cos(i * 0.5).toFloat, math.sin(i * 0.5).toFloat)
      val out = ChatRag.chatTurn(spark,
        Seq(("s1", 100L + i, s"q $i", v))
          .toDF("session_id", "query_id", "question", "query_vec"),
        mem, cache, minCos = 0.999, answerMisses, maintenance = Some(pol))
        .select("turn", "n_prompt_msgs").as[(Long, Long)].head()
      assert(out == ((2L * i, 3L + 4L * i)),
        s"turn $i drifted under maintenance: $out")
    }
    // the log is complete and correctly numbered
    val log = spark.read.parquet(mem)
      .select("session_id", "turn", "role", "content")
      .orderBy("turn").as[(String, Long, String, String)].collect().toSeq
    assert(log.size == 2 * nTurns)
    assert(log.map(_._2) == (0L until 2L * nTurns))
    assert(log.map(_._3) == (0 until nTurns).flatMap(_ => Seq("user", "assistant")))
    // and the policy folded the per-turn files: without it, s1's bucket
    // dir would hold nTurns files; the compact bin-packs them
    val fs = new org.apache.hadoop.fs.Path(mem)
      .getFileSystem(spark.sessionState.newHadoopConf())
    val bucket = new org.apache.hadoop.fs.Path(
      mem, s"sbucket=${graft.serve.ChatRag.sessionBucket("s1", 16)}")
    val files = fs.listStatus(bucket).count { f =>
      val n = f.getPath.getName
      f.isFile && !n.startsWith("_") && !n.startsWith(".")
    }
    assert(files < nTurns && files <= pol.maxSmallFiles + 2,
      s"policy never folded the per-turn appends: $files files")
  }

  test("chat memory bucketing: reads touch only the arriving sessions' bucket dirs") {
    import org.apache.spark.sql.functions.col
    val tmp = tempDir("graft_chat_bkt").toString
    val (cache, mem) = (s"$tmp/cache", s"$tmp/mem")
    val answerMisses: org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame =
      missQ => missQ.select(col("query_id"), col("question"),
        concat(lit("computed: "), col("question")).as("answer"),
        lit(0.5).as("cost"))
    // two sessions landing in DIFFERENT buckets (4-bucket table)
    val ids = Seq("s1", "s2", "s3", "s4", "s5")
    val (a, b) = {
      val byB = ids.groupBy(graft.serve.ChatRag.sessionBucket(_, 4))
      val two = byB.values.take(2).toSeq
      (two.head.head, two(1).head)
    }
    def ask(sid: String, qid: Long, v: Array[Float]) = ChatRag.chatTurn(spark,
      Seq((sid, qid, s"q of $sid $qid", v))
        .toDF("session_id", "query_id", "question", "query_vec"),
      mem, cache, minCos = 0.999, answerMisses, memoryBuckets = 4)
      .select("turn", "n_prompt_msgs").as[(Long, Long)].head()
    assert(ask(a, 1L, Array(1.0f, 0.0f)) == ((0L, 3L)))
    assert(ask(b, 2L, Array(0.0f, 1.0f)) == ((0L, 3L)))
    // session a's second turn must see ONLY its own history (2 rows -> 7)
    assert(ask(a, 3L, Array(0.7f, 0.7f)) == ((2L, 7L)))
    // the two sessions landed in separate bucket dirs
    val fs = new org.apache.hadoop.fs.Path(mem)
      .getFileSystem(spark.sessionState.newHadoopConf())
    val buckets = fs.listStatus(new org.apache.hadoop.fs.Path(mem)).toSeq
      .filter(e => e.isDirectory && e.getPath.getName.startsWith("sbucket="))
      .map(_.getPath.getName).sorted
    assert(buckets == Seq(
      s"sbucket=${graft.serve.ChatRag.sessionBucket(a, 4)}",
      s"sbucket=${graft.serve.ChatRag.sessionBucket(b, 4)}").sorted.distinct,
      s"unexpected bucket dirs: $buckets")
  }

  test("chat memory fan-out is a table constant: a mismatched memoryBuckets param cannot lose history") {
    import org.apache.spark.sql.functions.col
    val tmp = tempDir("graft_chat_nb").toString
    val (cache, mem) = (s"$tmp/cache", s"$tmp/mem")
    val answerMisses: org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame =
      missQ => missQ.select(col("query_id"), col("question"),
        concat(lit("computed: "), col("question")).as("answer"),
        lit(0.5).as("cost"))
    def ask(qid: Long, buckets: Int) = ChatRag.chatTurn(spark,
      Seq(("s1", qid, s"q $qid", Array(math.cos(qid).toFloat, math.sin(qid).toFloat)))
        .toDF("session_id", "query_id", "question", "query_vec"),
      mem, cache, minCos = 0.999, answerMisses, memoryBuckets = buckets)
      .select("turn", "n_prompt_msgs").as[(Long, Long)].head()
    assert(ask(1L, 16) == ((0L, 3L)))
    // a later caller passing a DIFFERENT fan-out: the recorded table
    // constant wins — without it, the read would recompute buckets mod 3,
    // miss s1's dir, and silently restart the conversation at turn 0
    assert(ask(2L, 3) == ((2L, 7L)),
      "the recorded bucket count must win over the parameter")
    assert(ask(3L, 64) == ((4L, 11L)))
  }

  test("chat memory legacy layout: a flat pre-bucketing table keeps working") {
    import org.apache.spark.sql.functions.col
    val tmp = tempDir("graft_chat_legacy").toString
    val (cache, mem) = (s"$tmp/cache", s"$tmp/mem")
    // a table written by the PRE-layout code: flat files at the root
    Seq(("s1", 0L, "user", "old q"), ("s1", 1L, "assistant", "old a"))
      .toDF("session_id", "turn", "role", "content")
      .coalesce(1).write.parquet(mem)
    val answerMisses: org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame =
      missQ => missQ.select(col("query_id"), col("question"),
        concat(lit("computed: "), col("question")).as("answer"),
        lit(0.5).as("cost"))
    val out = ChatRag.chatTurn(spark,
      Seq(("s1", 9L, "new q", Array(1.0f, 0.0f)))
        .toDF("session_id", "query_id", "question", "query_vec"),
      mem, cache, minCos = 0.95, answerMisses)
      .select("turn", "n_prompt_msgs").as[(Long, Long)].head()
    // history seen (turn continues at 2, prompt carries 2 remembered rows)
    assert(out == ((2L, 7L)), s"legacy history lost: $out")
    // the append stayed FLAT — no sbucket dirs were mixed into the table
    val fs = new org.apache.hadoop.fs.Path(mem)
      .getFileSystem(spark.sessionState.newHadoopConf())
    assert(!fs.listStatus(new org.apache.hadoop.fs.Path(mem)).exists(e =>
      e.isDirectory && e.getPath.getName.startsWith("sbucket=")),
      "legacy tables must not grow partition dirs")
    assert(spark.read.parquet(mem).count() == 4L)
  }

  private def echoMisses: org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame =
    missQ => missQ.select(col("query_id"), col("question"),
      concat(lit("computed: "), col("question")).as("answer"),
      lit(0.5).as("cost"))

  test("deleteSessions: only the victim's rows go; untouched buckets keep their files; return is brand-new") {
    import org.apache.spark.sql.functions.col
    val tmp = tempDir("graft_chat_del").toString
    val (cache, mem) = (s"$tmp/cache", s"$tmp/mem")
    // three sessions: victim + a BUCKET-MATE (same dir — the rewrite must
    // keep it) + one in a different dir (must stay byte-untouched)
    val ids = (0 until 64).map(i => s"s$i")
    val victim = ids.head
    val vb = ChatRag.sessionBucket(victim, 4)
    val mate = ids.tail.find(ChatRag.sessionBucket(_, 4) == vb).get
    val other = ids.tail.find(ChatRag.sessionBucket(_, 4) != vb).get
    def ask(sid: String, qid: Long) = ChatRag.chatTurn(spark,
      Seq((sid, qid, s"q $sid $qid",
        Array(math.cos(qid).toFloat, math.sin(qid).toFloat)))
        .toDF("session_id", "query_id", "question", "query_vec"),
      mem, cache, minCos = 0.999, echoMisses, memoryBuckets = 4)
      .select("turn", "n_prompt_msgs").as[(Long, Long)].head()
    assert(ask(victim, 1L) == ((0L, 3L)))
    assert(ask(victim, 2L) == ((2L, 7L)))
    assert(ask(mate, 3L) == ((0L, 3L)))
    assert(ask(other, 4L) == ((0L, 3L)))
    val fs = new org.apache.hadoop.fs.Path(mem)
      .getFileSystem(spark.sessionState.newHadoopConf())
    def files(b: Int): Seq[(String, Long)] =
      fs.listStatus(new org.apache.hadoop.fs.Path(mem, s"sbucket=$b")).toSeq
        .filter(f => f.isFile && !f.getPath.getName.startsWith("_") &&
          !f.getPath.getName.startsWith("."))
        .map(f => (f.getPath.getName, f.getLen)).sorted
    val otherFiles = files(ChatRag.sessionBucket(other, 4))
    assert(ChatRag.deleteSessions(spark, mem, Seq(victim)) == 4L)
    // the mate (same bucket) survives the rewrite; the other bucket's
    // files were never touched — same names, same lengths
    val left = spark.read.parquet(mem)
      .select("session_id", "turn").as[(String, Long)].collect().toSet
    assert(left == Set((mate, 0L), (mate, 1L), (other, 0L), (other, 1L)),
      s"wrong survivors: $left")
    assert(files(ChatRag.sessionBucket(other, 4)) == otherFiles,
      "a bucket with no deleted session must stay byte-untouched")
    // the returning victim is BRAND-NEW: turn numbering restarts at 0,
    // empty prompt history
    assert(ask(victim, 9L) == ((0L, 3L)),
      "a deleted-then-returning session must serve as brand-new")
    // deleting an id that never existed is a quiet no-op
    assert(ChatRag.deleteSessions(spark, mem, Seq("never-seen")) == 0L)
    // legacy flat tables refuse with the migration pointer
    val legacy = s"$tmp/legacy"
    Seq(("s1", 0L, "user", "old")).toDF("session_id", "turn", "role", "content")
      .coalesce(1).write.parquet(legacy)
    val e = intercept[IllegalArgumentException] {
      ChatRag.deleteSessions(spark, legacy, Seq("s1"))
    }
    assert(e.getMessage.contains("rebucketMemoryTable"))
  }

  test("deleteSessions: a markerless bucketed table gets the full sweep — never a part-miss") {
    import org.apache.spark.sql.functions.col
    val tmp = tempDir("graft_chat_delnm").toString
    val mem = s"$tmp/mem"
    // written directly with partitionBy under an 8-way fan-out and NO
    // _nbuckets marker: targeting via any trusted parameter could hash
    // the victim to the wrong dir and silently part-miss the delete —
    // the fallback sweeps every bucket dir instead
    Seq(("s1", 0L, "user", "a"), ("s1", 1L, "assistant", "b"),
      ("s2", 0L, "user", "c"), ("s2", 1L, "assistant", "d"))
      .toDF("session_id", "turn", "role", "content")
      .withColumn("sbucket", ChatRag.bucketExpr(8))
      .write.partitionBy("sbucket").parquet(mem)
    assert(ChatRag.deleteSessions(spark, mem, Seq("s2")) == 2L)
    val left = spark.read.parquet(mem)
      .select("session_id").as[String].collect().toSet
    assert(left == Set("s1"), s"victim gone, survivor intact: $left")
    // and a chat TURN on the markerless table refuses loudly: the
    // fan-out cannot be inferred from a parameter, and freezing a wrong
    // guess would silently split every session's history
    val e = intercept[IllegalArgumentException] {
      ChatRag.chatTurn(spark,
        Seq(("s1", 7L, "q", Array(1.0f, 0.0f)))
          .toDF("session_id", "query_id", "question", "query_vec"),
        mem, s"$tmp/cache", minCos = 0.999, echoMisses)
    }
    assert(e.getMessage.contains("_nbuckets"), e.getMessage)
  }

  test("deletion is null-safe: null-keyed rows survive deleteSessions and deleteUsers") {
    import org.apache.spark.sql.functions.col
    val tmp = tempDir("graft_null_del").toString
    // memory table with a null-session row sharing the victim's bucket
    // set (the full sweep visits every dir): `!isin` alone is NULL for a
    // null key — the row would silently vanish and inflate the count
    val mem = s"$tmp/mem"
    Seq((Option("s1"), 0L, "user", "a"), (Option("s1"), 1L, "assistant", "b"),
      (Option.empty[String], 0L, "user", "orphan"))
      .toDF("session_id", "turn", "role", "content")
      .withColumn("sbucket",
        coalesce(ChatRag.bucketExpr(4), lit(0)))
      .write.partitionBy("sbucket").parquet(mem)
    assert(ChatRag.deleteSessions(spark, mem, Seq("s1")) == 2L,
      "the count must not include the null-keyed row")
    assert(spark.read.parquet(mem).where(col("session_id").isNull)
      .count() == 1L, "the null-keyed row must survive")
    // chat log twin
    val log = s"$tmp/log"
    Seq((Option("alice"), "hi", "r", 1L), (Option.empty[String], "sys", "r", 2L))
      .toDF("user", "message", "response", "ts")
      .coalesce(1).write.parquet(log)
    assert(ChatLog.deleteUsers(spark, log, Seq("alice")) == 1L)
    assert(spark.read.parquet(log).where(col("user").isNull).count() == 1L,
      "the null-user record must survive the rewrite")
  }

  test("rebucketMemoryTable: widen fan-out — replay identical, one marker, ledger preserved, turns continue") {
    import org.apache.spark.sql.functions.col
    val tmp = tempDir("graft_chat_rb").toString
    val (cache, mem) = (s"$tmp/cache", s"$tmp/mem")
    def ask(sid: String, qid: Long, buckets: Int) = ChatRag.chatTurn(spark,
      Seq((sid, qid, s"q $sid $qid",
        Array(math.cos(qid).toFloat, math.sin(qid).toFloat)))
        .toDF("session_id", "query_id", "question", "query_vec"),
      mem, cache, minCos = 0.999, echoMisses, memoryBuckets = buckets)
      .select("turn", "n_prompt_msgs").as[(Long, Long)].head()
    assert(ask("sA", 1L, 4) == ((0L, 3L)))
    assert(ask("sB", 2L, 4) == ((0L, 3L)))
    val fs = new org.apache.hadoop.fs.Path(mem)
      .getFileSystem(spark.sessionState.newHadoopConf())
    // a stream ledger marker must ride the migration
    fs.mkdirs(new org.apache.hadoop.fs.Path(s"$mem/_batches"))
    fs.create(new org.apache.hadoop.fs.Path(s"$mem/_batches/3"), true).close()
    val before = spark.read.parquet(mem)
      .select("session_id", "turn", "role", "content")
      .as[(String, Long, String, String)].collect().sorted.toSeq
    ChatRag.rebucketMemoryTable(spark, mem, newBuckets = 16)
    val after = spark.read.parquet(mem)
      .select("session_id", "turn", "role", "content")
      .as[(String, Long, String, String)].collect().sorted.toSeq
    assert(after == before, "replay must be identical across the resize")
    // exactly ONE recorded fan-out — the new one
    val markers = fs.listStatus(new org.apache.hadoop.fs.Path(s"$mem/_nbuckets"))
      .map(_.getPath.getName).toSeq
    assert(markers == Seq("16"), s"markers after resize: $markers")
    assert(fs.exists(new org.apache.hadoop.fs.Path(s"$mem/_batches/3")),
      "the stream ledger must survive the resize")
    // the dirs are the NEW hashing; turns continue (recorded 16 wins even
    // though the caller still passes 4)
    val dirs = fs.listStatus(new org.apache.hadoop.fs.Path(mem)).toSeq
      .filter(e => e.isDirectory && e.getPath.getName.startsWith("sbucket="))
      .map(_.getPath.getName).toSet
    assert(dirs == Set("sA", "sB").map(s =>
      s"sbucket=${ChatRag.sessionBucket(s, 16)}"), s"dirs: $dirs")
    assert(ask("sA", 5L, 4) == ((2L, 7L)),
      "history must survive the resize and the stale caller parameter")
  }

  test("rebucketMemoryTable: migrates a legacy flat table (the from-nothing special case)") {
    import org.apache.spark.sql.functions.col
    val tmp = tempDir("graft_chat_mig").toString
    val (cache, mem) = (s"$tmp/cache", s"$tmp/mem")
    Seq(("s1", 0L, "user", "old q"), ("s1", 1L, "assistant", "old a"),
      ("s2", 0L, "user", "other q"), ("s2", 1L, "assistant", "other a"))
      .toDF("session_id", "turn", "role", "content")
      .coalesce(1).write.parquet(mem)
    ChatRag.rebucketMemoryTable(spark, mem, newBuckets = 8)
    val fs = new org.apache.hadoop.fs.Path(mem)
      .getFileSystem(spark.sessionState.newHadoopConf())
    assert(fs.exists(new org.apache.hadoop.fs.Path(s"$mem/_nbuckets/8")))
    val back = spark.read.parquet(mem)
      .select("session_id", "turn", "role", "content")
      .as[(String, Long, String, String)].collect().sorted.toSeq
    assert(back == Seq(("s1", 0L, "user", "old q"),
      ("s1", 1L, "assistant", "old a"), ("s2", 0L, "user", "other q"),
      ("s2", 1L, "assistant", "other a")),
      s"migration must be byte-faithful: $back")
    // subsequent turns ride the bucketed (maintained) arm: turn numbering
    // continues and the append lands in s1's bucket dir
    val out = ChatRag.chatTurn(spark,
      Seq(("s1", 9L, "new q", Array(1.0f, 0.0f)))
        .toDF("session_id", "query_id", "question", "query_vec"),
      mem, cache, minCos = 0.999, echoMisses)
      .select("turn", "n_prompt_msgs").as[(Long, Long)].head()
    assert(out == ((2L, 7L)))
    val b1 = new org.apache.hadoop.fs.Path(
      mem, s"sbucket=${ChatRag.sessionBucket("s1", 8)}")
    assert(spark.read.parquet(b1.toString)
      .where(col("turn") === 2L).count() == 1L,
      "post-migration appends must land bucketed")
  }

  test("pruneIdleSessions: newest-turn horizon; live sessions keep old rows; untimed sessions kept") {
    import org.apache.spark.sql.functions.col
    val tmp = tempDir("graft_chat_idle").toString
    val (cache, mem) = (s"$tmp/cache", s"$tmp/mem")
    def ask(sid: String, qid: Long, ts: Option[Long]) = ChatRag.chatTurn(spark,
      Seq((sid, qid, s"q $sid $qid",
        Array(math.cos(qid).toFloat, math.sin(qid).toFloat)))
        .toDF("session_id", "query_id", "question", "query_vec"),
      mem, cache, minCos = 0.999, echoMisses, turnTs = ts).count()
    ask("idle", 1L, Some(1000L))
    ask("live", 2L, Some(1000L))
    ask("untimed", 3L, None) // the pre-stamp legacy row shape
    ask("live", 4L, Some(2000L))
    assert(ChatRag.pruneIdleSessions(spark, mem, beforeTs = 1500L) == 2L)
    val left = spark.read.option("mergeSchema", "true").parquet(mem)
      .groupBy("session_id").count()
      .as[(String, Long)].collect().toMap
    // live keeps ALL FOUR rows — max(ts)=2000 governs, the ts=1000 pair
    // is not clipped; untimed is conservatively kept; idle is gone
    assert(left == Map("live" -> 4L, "untimed" -> 2L), s"wrong state: $left")
    // audit horizon recorded (digit-named, max wins)
    val fs = new org.apache.hadoop.fs.Path(mem)
      .getFileSystem(spark.sessionState.newHadoopConf())
    assert(fs.exists(new org.apache.hadoop.fs.Path(s"$mem/_retention/1500")))
    // idempotent: nothing left below the horizon
    assert(ChatRag.pruneIdleSessions(spark, mem, beforeTs = 1500L) == 0L)
    // a pruned session that returns is brand-new
    assert(ChatRag.chatTurn(spark,
      Seq(("idle", 9L, "back", Array(1.0f, 0.0f)))
        .toDF("session_id", "query_id", "question", "query_vec"),
      mem, cache, minCos = 0.999, echoMisses)
      .select("turn").as[Long].head() == 0L)
  }

  test("ChatLog.deleteUsers: filter-rewrite with sidecars preserved; streaming-sink dirs refuse") {
    import org.apache.spark.sql.functions.col
    val tmp = tempDir("graft_log_del").toString
    val log = s"$tmp/log"
    ChatLog.append(Seq(("alice", "hi", "hello", 1L), ("bob", "yo", "hey", 2L))
      .toDF("user", "message", "response", "ts"), log)
    ChatLog.append(Seq(("alice", "more", "sure", 3L))
      .toDF("user", "message", "response", "ts"), log)
    val fs = new org.apache.hadoop.fs.Path(log)
      .getFileSystem(spark.sessionState.newHadoopConf())
    // a root sidecar must ride the rewrite
    fs.mkdirs(new org.apache.hadoop.fs.Path(s"$log/_batches"))
    fs.create(new org.apache.hadoop.fs.Path(s"$log/_batches/1"), true).close()
    assert(ChatLog.deleteUsers(spark, log, Seq("alice")) == 2L)
    val left = spark.read.parquet(log)
      .select("user", "message").as[(String, String)].collect().toSeq
    assert(left == Seq(("bob", "yo")), s"wrong survivors: $left")
    assert(fs.exists(new org.apache.hadoop.fs.Path(s"$log/_batches/1")),
      "sidecars must survive the rewrite")
    // absent user: quiet no-op, no rewrite
    assert(ChatLog.deleteUsers(spark, log, Seq("carol")) == 0L)
    // emptied log: dir + sidecars remain, data gone, next append works
    assert(ChatLog.deleteUsers(spark, log, Seq("bob")) == 1L)
    assert(fs.exists(new org.apache.hadoop.fs.Path(s"$log/_batches/1")))
    intercept[Exception] { spark.read.parquet(log).collect() } // loudly empty
    ChatLog.append(Seq(("dave", "new", "ok", 9L))
      .toDF("user", "message", "response", "ts"), log)
    assert(spark.read.parquet(log).count() == 1L)
    // a FileStreamSink dir refuses: its metadata log pins the file set
    val sink = s"$tmp/sink"
    Seq(("x", "m", "r", 1L)).toDF("user", "message", "response", "ts")
      .write.parquet(sink)
    fs.mkdirs(new org.apache.hadoop.fs.Path(s"$sink/_spark_metadata"))
    val e = intercept[IllegalArgumentException] {
      ChatLog.deleteUsers(spark, sink, Seq("x"))
    }
    assert(e.getMessage.contains("_spark_metadata"))
  }

  test("ChatLog.pruneBefore: ts horizon retires old records; null ts conservatively kept") {
    import org.apache.spark.sql.functions.col
    val tmp = tempDir("graft_log_ret").toString
    val log = s"$tmp/log"
    ChatLog.append(Seq(("a", "old", "r1", Some(100L)), ("b", "new", "r2", Some(900L)),
      ("c", "untimed", "r3", None))
      .toDF("user", "message", "response", "ts"), log)
    assert(ChatLog.pruneBefore(spark, log, beforeTs = 500L) == 1L)
    val left = spark.read.parquet(log).select("user").as[String].collect().toSet
    assert(left == Set("b", "c"),
      s"old goes, new and untimed stay: $left")
    val fs = new org.apache.hadoop.fs.Path(log)
      .getFileSystem(spark.sessionState.newHadoopConf())
    assert(fs.exists(new org.apache.hadoop.fs.Path(s"$log/_retention/500")))
    // idempotent + the marker survives a later deleteUsers swap
    assert(ChatLog.pruneBefore(spark, log, beforeTs = 500L) == 0L)
    assert(ChatLog.deleteUsers(spark, log, Seq("c")) == 1L)
    assert(fs.exists(new org.apache.hadoop.fs.Path(s"$log/_retention/500")),
      "the retention marker must ride the deleteUsers sidecar copy")
  }

  test("recency sidecar: tracked from birth, gates idle-retention scans, scan-equivalent, rebuilt on rewrite") {
    import org.apache.spark.sql.functions.col
    val tmp = tempDir("graft_recency").toString
    val (cache, mem) = (s"$tmp/cache", s"$tmp/mem")
    def ask(sid: String, qid: Long, ts: Option[Long]) = ChatRag.chatTurn(spark,
      Seq((sid, qid, s"q $sid $qid",
        Array(math.cos(qid).toFloat, math.sin(qid).toFloat)))
        .toDF("session_id", "query_id", "question", "query_vec"),
      mem, cache, minCos = 0.999, echoMisses, memoryBuckets = 4,
      turnTs = ts).count()
    ask("idle", 1L, Some(1000L))
    ask("live", 2L, Some(1000L))
    ask("mixed", 3L, Some(800L))
    ask("mixed", 4L, None) // newest activity untimed — never prunable
    ask("live", 5L, Some(2000L))
    val conf = spark.sessionState.newHadoopConf()
    val fs = new org.apache.hadoop.fs.Path(mem).getFileSystem(conf)
    def bucketDirs(root: String) =
      fs.listStatus(new org.apache.hadoop.fs.Path(root)).toSeq
        .filter(e => e.isDirectory && e.getPath.getName.startsWith("sbucket="))
        .map(_.getPath)
    assert(bucketDirs(mem).forall(d => RecencySidecar.isTracked(fs, d)),
      "chatTurn-born buckets must be tracked from birth")
    // the folded state mirrors the appends: max stamp + untimed flag
    val states = bucketDirs(mem).map(d => RecencySidecar.readState(fs, d))
      .reduce(_ ++ _)
    assert(states("live") == RecencySidecar.State(Some(2000L), untimed = false))
    assert(states("mixed") == RecencySidecar.State(Some(800L), untimed = true))
    // EQUIVALENCE: an untracked byte-identical clone prunes the same
    val clone = s"$tmp/clone"
    org.apache.hadoop.fs.FileUtil.copy(fs, new org.apache.hadoop.fs.Path(mem),
      fs, new org.apache.hadoop.fs.Path(clone), false, true, conf)
    bucketDirs(clone).foreach(d =>
      fs.delete(RecencySidecar.dir(d), true))
    val prunedTracked = ChatRag.pruneIdleSessions(spark, mem, beforeTs = 1500L)
    val prunedScan = ChatRag.pruneIdleSessions(spark, clone, beforeTs = 1500L)
    assert(prunedTracked == prunedScan && prunedTracked == 2L,
      s"sidecar-gated and full-scan prunes must agree: $prunedTracked vs $prunedScan")
    def survivors(root: String) = spark.read.option("mergeSchema", "true")
      .parquet(root).select("session_id").as[String].collect().toSet
    assert(survivors(mem) == survivors(clone) &&
      survivors(mem) == Set("live", "mixed"))
    // the scan BOOTSTRAPS the clone's sidecars — later firings are gated
    assert(bucketDirs(clone).forall(d => RecencySidecar.isTracked(fs, d)),
      "a scanned bucket must leave a recomputed snapshot behind")
    // deleteSessions rebuilds the sidecar of the bucket it swaps
    assert(ChatRag.deleteSessions(spark, mem, Seq("live")) == 4L)
    val afterDelete = bucketDirs(mem).map(d => RecencySidecar.readState(fs, d))
      .reduce(_ ++ _)
    assert(!afterDelete.contains("live"),
      s"the rebuilt sidecar must forget the deleted session: $afterDelete")
    assert(afterDelete.contains("mixed"))
    // GATING, white-box: a no-idle firing touches no data file
    val solo = s"$tmp/solo"
    Seq(("s", 0L, "user", "x", Some(100L)))
      .toDF("session_id", "turn", "role", "content", "ts")
      .withColumn("sbucket", ChatRag.bucketExpr(2))
      .write.partitionBy("sbucket").parquet(solo)
    fs.mkdirs(new org.apache.hadoop.fs.Path(s"$solo/_nbuckets"))
    fs.create(new org.apache.hadoop.fs.Path(s"$solo/_nbuckets/2"), true).close()
    ChatRag.refreshRecencySidecars(spark, solo)
    val sdir = new org.apache.hadoop.fs.Path(
      solo, s"sbucket=${ChatRag.sessionBucket("s", 2)}")
    def dataFiles = fs.listStatus(sdir).toSeq
      .filter(f => f.isFile && !f.getPath.getName.startsWith("_") &&
        !f.getPath.getName.startsWith("."))
      .map(f => (f.getPath.getName, f.getLen, f.getModificationTime)).sorted
    val before = dataFiles
    assert(ChatRag.pruneIdleSessions(spark, solo, beforeTs = 50L) == 0L)
    assert(dataFiles == before, "a no-idle firing must not touch data files")
    // force the impossible stale-HIGH state to PROVE the gate consults
    // the sidecar (the write ordering forbids this arising naturally): a
    // crafted snapshot + header claiming the only session is fresh
    val rdir = RecencySidecar.dir(sdir)
    fs.listStatus(rdir).foreach(f => fs.delete(f.getPath, false))
    def put(name: String, content: String): Unit = {
      val out = fs.create(new org.apache.hadoop.fs.Path(rdir, name), true)
      out.write(content.getBytes("UTF-8")); out.close()
    }
    put("99.snap", "E\t9999\t0\ts\n")
    put("99.hdr", "H\t9999\n")
    assert(ChatRag.pruneIdleSessions(spark, solo, beforeTs = 200L) == 0L,
      "a header with no candidates must suppress the scan")
    // a headerless snap (torn hdr write) falls back to the full fold —
    // same verdict here, at the old cost
    fs.delete(new org.apache.hadoop.fs.Path(rdir, "99.hdr"), false)
    assert(ChatRag.pruneIdleSessions(spark, solo, beforeTs = 200L) == 0L,
      "a torn header must fall back to the full fold, never misfire")
    // the repair action rebuilds from data; retention then fires
    ChatRag.refreshRecencySidecars(spark, solo)
    assert(ChatRag.pruneIdleSessions(spark, solo, beforeTs = 200L) == 1L)
  }

  test("recency sidecar: steady-state deltas fold — file count bounded, state and gate preserved") {
    // the no-idle steady state: sessions stay live, so the gate never
    // triggers a scan and refresh never runs — without the appendDelta
    // fold, one log file accumulates per turn FOREVER and both the gate
    // and the append degrade back to O(total turns)
    val tmp = tempDir("graft_recfold").toString
    val bucket = new org.apache.hadoop.fs.Path(s"$tmp/sbucket=0")
    val fs = bucket.getFileSystem(spark.sessionState.newHadoopConf())
    fs.mkdirs(bucket)
    for (i <- 0 until 48) {
      RecencySidecar.appendDelta(fs, bucket, Seq(
        ("a", Some(100L + i)),
        ("b", if (i % 2 == 0) None else Some(50L + i))), bootstrap = true)
    }
    val logCount = fs.listStatus(RecencySidecar.dir(bucket)).toSeq
      .count(_.getPath.getName.endsWith(".log"))
    assert(logCount <= 34,
      s"48 appends must fold, not accumulate 48 logs: $logCount")
    // the folded state is EXACTLY the unfolded fold: max ts, untimed OR'd
    // (the mixed session proves a fold can't collapse the two facts)
    val st = RecencySidecar.readState(fs, bucket)
    assert(st("a") == RecencySidecar.State(Some(147L), untimed = false), st)
    assert(st("b") == RecencySidecar.State(Some(97L), untimed = true), st)
    // the gate reads the same truth through the merged logs
    assert(RecencySidecar.hasCandidate(fs, bucket, horizon = 120L),
      "b's max stamp 97 < 120: candidates exist")
    assert(!RecencySidecar.hasCandidate(fs, bucket, horizon = 45L),
      "no stamped record below 45 exists anywhere: the merged logs must " +
        "not manufacture one")
  }

  test("ChatLog day assignment floors negative ts — pruneBefore can retire pre-epoch rows") {
    // SQL div truncates toward zero: a negative ts would land in day 0,
    // ABOVE pruneBefore's floorDiv horizon, surviving every prune
    val tmp = tempDir("graft_negday").toString
    val log = s"$tmp/log"
    val rows = Seq(("u1", "old", "r", -100L), ("u2", "new", "r", 2500L))
      .toDF("user", "message", "response", "ts")
    ChatLog.append(rows, log, dayWidth = 1000L)
    val fs = new org.apache.hadoop.fs.Path(log)
      .getFileSystem(spark.sessionState.newHadoopConf())
    assert(fs.exists(new org.apache.hadoop.fs.Path(s"$log/day=-1")),
      "ts=-100 at width 1000 floors to day -1, not day 0")
    // a width-ALIGNED horizon drops the negative day with zero reads —
    // the exact case trunc-day placement would silently survive
    assert(ChatLog.pruneBefore(spark, log, beforeTs = 0L, tsCol = "ts") == 1L)
    val left = spark.read.parquet(log).select("user").as[String].collect().toSeq
    assert(left == Seq("u2"), s"the pre-epoch row must be gone: $left")
  }

  test("streamingChatRag: bad retention windows refuse at construction, not inside the first micro-batch") {
    val dummy = Seq((1L, "q")).toDF("query_id", "question")
    val e1 = intercept[IllegalArgumentException] {
      ChatRag.streamingChatRag(dummy, "/tmp/nope_mem", "/tmp/nope_cache",
        "/tmp/nope_out", "/tmp/nope_ck", echoMisses, minCos = 0.999,
        chatLogPath = Some("/tmp/nope_log"), chatLogRetainFor = Some(-5L))
    }
    assert(e1.getMessage.contains("chatLogRetainFor"))
    val e2 = intercept[IllegalArgumentException] {
      ChatRag.streamingChatRag(dummy, "/tmp/nope_mem", "/tmp/nope_cache",
        "/tmp/nope_out", "/tmp/nope_ck", echoMisses, minCos = 0.999,
        memoryRetainFor = Some(0L))
    }
    assert(e2.getMessage.contains("memoryRetainFor"))
  }

  test("memoryReport: table stats + markers in one row; empty and legacy tables report, never refuse") {
    import org.apache.spark.sql.functions.col
    val tmp = tempDir("graft_memrep").toString
    // a nonexistent table reports zeros/nulls — the report is how an
    // operator ASKS what exists
    val r0 = ChatRag.memoryReport(spark, s"$tmp/nope").head()
    assert(r0.getLong(0) == 0L && r0.getLong(1) == 0L &&
      r0.isNullAt(5) && r0.isNullAt(6) && r0.getLong(8) == 0L)
    val mem = s"$tmp/mem"
    Seq(("s1", 0L, "user", "a", Some(1000L)),
      ("s1", 1L, "assistant", "b", Some(1000L)),
      ("s2", 0L, "user", "c", Option.empty[Long]))
      .toDF("session_id", "turn", "role", "content", "ts")
      .withColumn("sbucket", ChatRag.bucketExpr(4))
      .write.partitionBy("sbucket").parquet(mem)
    val fs = new org.apache.hadoop.fs.Path(mem)
      .getFileSystem(spark.sessionState.newHadoopConf())
    fs.mkdirs(new org.apache.hadoop.fs.Path(s"$mem/_nbuckets"))
    fs.create(new org.apache.hadoop.fs.Path(s"$mem/_nbuckets/4"), true).close()
    val r1 = ChatRag.memoryReport(spark, mem).head()
    assert(r1.getLong(0) == 2L && r1.getLong(1) == 3L && r1.getLong(2) == 1L,
      s"sessions/rows/untimed: $r1")
    assert(r1.getLong(3) == 1000L && r1.getLong(4) == 1000L)
    assert(r1.getLong(5) == 4L, "the recorded fan-out")
    assert(r1.isNullAt(6), "no retention horizon before any prune")
    assert(r1.getLong(7) > 0L && r1.getLong(8) > 0L && r1.getLong(9) > 0L,
      s"layout metadata (bucket dirs/files/bytes) must be populated: $r1")
    // the horizon column reflects the max _retention marker after a prune
    assert(ChatRag.pruneIdleSessions(spark, mem, beforeTs = 1500L) == 2L)
    val r2 = ChatRag.memoryReport(spark, mem).head()
    assert(r2.getLong(6) == 1500L && r2.getLong(0) == 1L,
      s"post-prune report: $r2")
  }

  test("ChatLog day layout: pruneBefore drops whole partitions metadata-only, rewrites only the boundary day") {
    import org.apache.spark.sql.functions.col
    val tmp = tempDir("graft_log_day").toString
    val log = s"$tmp/log"
    // width 100 (a logical-clock "day"): ts 10/50 → day 0, 110 → day 1,
    // 250 → day 2, None → the null partition
    ChatLog.append(Seq(("a", "d0a", "r", Some(10L)), ("a", "d0b", "r", Some(50L)),
      ("b", "d1", "r", Some(110L)))
      .toDF("user", "message", "response", "ts"), log, dayWidth = 100L)
    // second append: the RECORDED width wins over a drifted parameter
    ChatLog.append(Seq(("c", "d2", "r", Some(250L)),
      ("n", "untimed", "r", Option.empty[Long]))
      .toDF("user", "message", "response", "ts"), log, dayWidth = 7L)
    val fs = new org.apache.hadoop.fs.Path(log)
      .getFileSystem(spark.sessionState.newHadoopConf())
    def dayDir(n: String) = new org.apache.hadoop.fs.Path(log, s"day=$n")
    assert(fs.exists(dayDir("0")) && fs.exists(dayDir("1")) &&
      fs.exists(dayDir("2")) && fs.exists(dayDir("__HIVE_DEFAULT_PARTITION__")),
      "appends must land in ts-derived day partitions (recorded width wins)")
    def filesOf(d: String): Seq[(String, Long)] =
      fs.listStatus(dayDir(d)).toSeq
        .filter(f => f.isFile && !f.getPath.getName.startsWith("_") &&
          !f.getPath.getName.startsWith("."))
        .map(f => (f.getPath.getName, f.getLen)).sorted
    val d2Before = filesOf("2")
    // horizon 150: day 0 drops WHOLE (2 rows, footer-counted, never a
    // data-page read); day 1 is the boundary (110 < 150 goes — emptied,
    // so the dir retires); day 2 and the null partition are untouched
    assert(ChatLog.pruneBefore(spark, log, beforeTs = 150L) == 3L)
    assert(!fs.exists(dayDir("0")) && !fs.exists(dayDir("1")))
    assert(filesOf("2") == d2Before,
      "an above-horizon partition must stay byte-untouched")
    assert(fs.exists(dayDir("__HIVE_DEFAULT_PARTITION__")),
      "null-ts rows are conservatively kept")
    assert(fs.exists(new org.apache.hadoop.fs.Path(s"$log/_retention/150")))
    // idempotent; a width-ALIGNED horizon needs zero boundary rewrites
    assert(ChatLog.pruneBefore(spark, log, beforeTs = 150L) == 0L)
    assert(ChatLog.pruneBefore(spark, log, beforeTs = 200L) == 0L)
    assert(filesOf("2") == d2Before)
    val left = spark.read.parquet(log).select("message")
      .as[String].collect().toSet
    assert(left == Set("d2", "untimed"), s"wrong survivors: $left")
    // deleteUsers rewrites only live partitions; root sidecars untouched
    assert(ChatLog.deleteUsers(spark, log, Seq("c")) == 1L)
    assert(!fs.exists(dayDir("2")), "an emptied partition retires")
    assert(fs.exists(new org.apache.hadoop.fs.Path(s"$log/_retention/200")) &&
      fs.exists(new org.apache.hadoop.fs.Path(s"$log/_daywidth/100")),
      "partition rewrites must never touch root sidecars")
    // a markerless table with day= dirs refuses (the width cannot be
    // verified against how rows were assigned — wrong math over-deletes)
    val rogue = s"$tmp/rogue"
    Seq(("x", "m", "r", 10L)).toDF("user", "message", "response", "ts")
      .withColumn("day", lit(0L)).write.partitionBy("day").parquet(rogue)
    val e = intercept[IllegalArgumentException] {
      ChatLog.pruneBefore(spark, rogue, beforeTs = 5L)
    }
    assert(e.getMessage.contains("_daywidth"), e.getMessage)
  }

  test("ChatLog.repartitionByDay: migrates a legacy flat log; retention then drops partitions") {
    import org.apache.spark.sql.functions.col
    val tmp = tempDir("graft_log_mig").toString
    val log = s"$tmp/log"
    // the legacy flat shape (pre-layout writer)
    Seq(("a", "old", "r", 10L), ("b", "mid", "r", 150L), ("c", "new", "r", 290L))
      .toDF("user", "message", "response", "ts")
      .coalesce(1).write.parquet(log)
    val fs = new org.apache.hadoop.fs.Path(log)
      .getFileSystem(spark.sessionState.newHadoopConf())
    fs.mkdirs(new org.apache.hadoop.fs.Path(s"$log/_batches"))
    fs.create(new org.apache.hadoop.fs.Path(s"$log/_batches/5"), true).close()
    val before = spark.read.parquet(log)
      .select("user", "message", "response", "ts")
      .as[(String, String, String, Long)].collect().sorted.toSeq
    ChatLog.repartitionByDay(spark, log, dayWidth = 100L)
    assert(fs.exists(new org.apache.hadoop.fs.Path(s"$log/_daywidth/100")))
    assert(fs.exists(new org.apache.hadoop.fs.Path(s"$log/_batches/5")),
      "the stream ledger must ride the migration")
    val after = spark.read.parquet(log)
      .select("user", "message", "response", "ts")
      .as[(String, String, String, Long)].collect().sorted.toSeq
    assert(after == before, "migration must be value-faithful")
    assert(fs.exists(new org.apache.hadoop.fs.Path(s"$log/day=0")) &&
      fs.exists(new org.apache.hadoop.fs.Path(s"$log/day=1")) &&
      fs.exists(new org.apache.hadoop.fs.Path(s"$log/day=2")))
    // retention is now a partition drop; appends continue partitioned
    assert(ChatLog.pruneBefore(spark, log, beforeTs = 100L) == 1L)
    assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$log/day=0")))
    ChatLog.append(Seq(("d", "later", "r", 310L))
      .toDF("user", "message", "response", "ts"), log)
    assert(spark.read.parquet(s"$log/day=3").count() == 1L,
      "post-migration appends must honor the recorded width")
  }

  test("ChatLog.compactSmallDayFiles: the hot day folds, cold days settle, values invariant") {
    import org.apache.spark.sql.functions.col
    val tmp = tempDir("graft_logfold").toString
    val log = s"$tmp/log"
    // 20 appends into the same hot day (+ one cold day) = 21 tiny files
    (1 to 20).foreach { i =>
      ChatLog.append(Seq((s"u$i", s"m$i", "r", 100L + i))
        .toDF("user", "message", "response", "ts"), log, dayWidth = 100L)
    }
    ChatLog.append(Seq(("u0", "cold", "r", 950L))
      .toDF("user", "message", "response", "ts"), log, dayWidth = 100L)
    val fs = new org.apache.hadoop.fs.Path(log)
      .getFileSystem(spark.sessionState.newHadoopConf())
    def filesIn(d: String): Int =
      fs.listStatus(new org.apache.hadoop.fs.Path(log, d)).count { f =>
        val n = f.getPath.getName
        f.isFile && !n.startsWith("_") && !n.startsWith(".") && f.getLen > 0
      }
    assert(filesIn("day=1") == 20, "one file per append before the fold")
    val before = spark.read.parquet(log)
      .select("user", "message", "ts").as[(String, String, Long)]
      .collect().sorted.toSeq
    val pol = graft.ops.Layout.MaintenancePolicy(maxSmallFiles = 8)
    assert(ChatLog.compactSmallDayFiles(spark, log, pol) == 1,
      "only the hot day trips its own due signal")
    assert(filesIn("day=1") <= 8, s"the fold must bound the hot day: ${filesIn("day=1")}")
    assert(filesIn("day=9") == 1, "the cold day is untouched")
    val after = spark.read.parquet(log)
      .select("user", "message", "ts").as[(String, String, Long)]
      .collect().sorted.toSeq
    assert(after == before, "the fold is value-invisible")
    // residue law: a folded day cannot re-trip the signal
    assert(ChatLog.compactSmallDayFiles(spark, log, pol) == 0)
  }

  test("ChatLog.report: log stats + layout metadata; legacy and empty logs report, never refuse") {
    import org.apache.spark.sql.functions.col
    val tmp = tempDir("graft_logrep").toString
    // nonexistent: zeros/nulls
    val r0 = ChatLog.report(spark, s"$tmp/nope").head()
    assert(r0.getLong(0) == 0L && r0.isNullAt(8) && r0.getLong(10) == 0L)
    // day-partitioned log with a null-ts row and a prune behind it
    val log = s"$tmp/log"
    ChatLog.append(Seq(("a", "m1", "r", Some(110L)), ("b", "m2", "r", Some(250L)),
      ("a", "m3", "r", Option.empty[Long]))
      .toDF("user", "message", "response", "ts"), log, dayWidth = 100L)
    ChatLog.pruneBefore(spark, log, beforeTs = 100L)
    val r1 = ChatLog.report(spark, log).head()
    assert(r1.getLong(0) == 3L && r1.getLong(1) == 2L && r1.getLong(2) == 1L,
      s"rows/users/untimed: $r1")
    assert(r1.getLong(3) == 110L && r1.getLong(4) == 250L)
    assert(r1.getLong(5) == 2L && r1.getLong(6) == 1L && r1.getLong(7) == 2L,
      s"day range (null partition not a day): $r1")
    assert(r1.getLong(8) == 100L && r1.getLong(9) == 100L,
      s"recorded width + horizon: $r1")
    assert(r1.getLong(10) > 0L && r1.getLong(11) > 0L)
    // legacy flat log: data stats populated, day columns null
    val flat = s"$tmp/flat"
    Seq(("x", "m", "r", 5L)).toDF("user", "message", "response", "ts")
      .coalesce(1).write.parquet(flat)
    val r2 = ChatLog.report(spark, flat).head()
    assert(r2.getLong(0) == 1L && r2.getLong(5) == 0L && r2.isNullAt(8),
      s"legacy log reports with null layout columns: $r2")
  }

  test("crashed retire/swap leftovers: the next lifecycle op heals or sweeps them (ADVICE r14)") {
    import org.apache.spark.sql.functions.col
    val tmp = tempDir("graft_crash").toString
    val mem = s"$tmp/mem"
    Seq(("s1", 0L, "user", "keep"), ("s2", 0L, "user", "forget"))
      .toDF("session_id", "turn", "role", "content")
      .withColumn("sbucket", ChatRag.bucketExpr(4))
      .write.partitionBy("sbucket").parquet(mem)
    val fs = new org.apache.hadoop.fs.Path(mem)
      .getFileSystem(spark.sessionState.newHadoopConf())
    fs.mkdirs(new org.apache.hadoop.fs.Path(s"$mem/_nbuckets"))
    fs.create(new org.apache.hadoop.fs.Path(s"$mem/_nbuckets/4"), true).close()
    // simulate a RETIRE crash: the victim bucket renamed aside, the
    // delete never ran — the forgotten rows linger in the hidden sibling
    val b2 = new org.apache.hadoop.fs.Path(
      mem, s"sbucket=${ChatRag.sessionBucket("s2", 4)}")
    val aside = new org.apache.hadoop.fs.Path(
      mem, s".${b2.getName}.__old")
    assume(b2.getName != s"sbucket=${ChatRag.sessionBucket("s1", 4)}",
      "fixture premise: victim and survivor hash apart")
    fs.rename(b2, aside)
    assert(fs.exists(aside) && !fs.exists(b2))
    // the retried delete reports 0 (the data is already out of the live
    // view) but MUST sweep the aside — before the fix it returned 0 and
    // left the remnant forever
    assert(ChatRag.deleteSessions(spark, mem, Seq("s2")) == 0L)
    assert(!fs.exists(aside),
      "a retried delete must remove the crashed retire's remnant")
    // simulate a crashed SWAP WINDOW (rewrite path): live absent, aside +
    // complete stage present — the next op must FINISH the swap, not sweep
    val b1 = new org.apache.hadoop.fs.Path(
      mem, s"sbucket=${ChatRag.sessionBucket("s1", 4)}")
    val staged = new org.apache.hadoop.fs.Path(mem, s".${b1.getName}.__compact")
    val aside1 = new org.apache.hadoop.fs.Path(mem, s".${b1.getName}.__old")
    spark.read.parquet(b1.toString).write.parquet(staged.toString)
    fs.rename(b1, aside1)
    assert(ChatRag.deleteSessions(spark, mem, Seq("nobody")) == 0L)
    assert(fs.exists(b1) && !fs.exists(aside1) && !fs.exists(staged),
      "the healed swap must restore the staged generation")
    assert(spark.read.parquet(mem).select("content").as[String]
      .collect().toSet == Set("keep"), "no rows lost across the heal")
    // rebucket crash: table root absent mid-swap, staged generation
    // complete (data + _nbuckets) — the retry heals and proceeds
    val rootStage = new org.apache.hadoop.fs.Path(
      new org.apache.hadoop.fs.Path(mem).getParent, ".mem.__compact")
    val rootAside = new org.apache.hadoop.fs.Path(
      new org.apache.hadoop.fs.Path(mem).getParent, ".mem.__old")
    spark.read.parquet(mem).drop("sbucket")
      .withColumn("sbucket", ChatRag.bucketExpr(8))
      .write.partitionBy("sbucket").parquet(rootStage.toString)
    fs.mkdirs(new org.apache.hadoop.fs.Path(rootStage, "_nbuckets"))
    fs.create(new org.apache.hadoop.fs.Path(rootStage, "_nbuckets/8"), true)
      .close()
    fs.rename(new org.apache.hadoop.fs.Path(mem), rootAside)
    ChatRag.rebucketMemoryTable(spark, mem, newBuckets = 8)
    assert(spark.read.parquet(mem).count() == 1L,
      "the healed rebucket must serve the staged generation")
    assert(fs.listStatus(new org.apache.hadoop.fs.Path(s"$mem/_nbuckets"))
      .map(_.getPath.getName).toSeq == Seq("8"))
    // the chat log runs the same layout code, so it has the same crash
    // signatures: a day dir left retired-aside is swept by the next
    // pruneBefore or deleteUsers
    val log = s"$tmp/log"
    ChatLog.append(Seq(("a", "m1", "r", 110L), ("b", "m2", "r", 250L),
      ("c", "m3", "r", 350L)).toDF("user", "message", "response", "ts"),
      log, dayWidth = 100L)
    def logAside(day: Int) = {
      val live = new org.apache.hadoop.fs.Path(log, s"day=$day")
      val aside = new org.apache.hadoop.fs.Path(log, s".day=$day.__old")
      fs.rename(live, aside)
      aside
    }
    val day1 = logAside(1)
    assert(ChatLog.pruneBefore(spark, log, beforeTs = 200L) == 0L)
    assert(!fs.exists(day1), "a retried prune must remove the crashed retire's remnant")
    val day3 = logAside(3)
    assert(ChatLog.deleteUsers(spark, log, Seq("c")) == 0L)
    assert(!fs.exists(day3), "a retried delete must remove the crashed retire's remnant")
    assert(spark.read.parquet(log).select("message").as[String]
      .collect().toSeq == Seq("m2"))
    // repartitionByDay crash: log root absent mid-swap, staged generation
    // complete (day dirs + _daywidth) — the retry finishes the swap
    val flat = s"$tmp/flatlog"
    Seq(("x", "f1", "r", 10L), ("y", "f2", "r", 120L))
      .toDF("user", "message", "response", "ts").coalesce(1).write.parquet(flat)
    val logStage = new org.apache.hadoop.fs.Path(tmp, ".flatlog.__compact")
    spark.read.parquet(flat).withColumn("day", expr("ts div 100"))
      .write.partitionBy("day").parquet(logStage.toString)
    fs.mkdirs(new org.apache.hadoop.fs.Path(logStage, "_daywidth"))
    fs.create(new org.apache.hadoop.fs.Path(logStage, "_daywidth/100"), true)
      .close()
    fs.rename(new org.apache.hadoop.fs.Path(flat),
      new org.apache.hadoop.fs.Path(tmp, ".flatlog.__old"))
    ChatLog.repartitionByDay(spark, flat, dayWidth = 100L)
    assert(spark.read.parquet(flat).select("message").as[String]
      .collect().toSet == Set("f1", "f2"), "the healed migration serves every row")
    assert(fs.listStatus(new org.apache.hadoop.fs.Path(s"$flat/_daywidth"))
      .map(_.getPath.getName).toSeq == Seq("100"))
    assert(fs.exists(new org.apache.hadoop.fs.Path(s"$flat/day=1")),
      "the log is day-partitioned after the retry")
  }

  test("pruneIdleSessions: mixed stamping keeps the session (any null ts = age unknown)") {
    import org.apache.spark.sql.functions.col
    val tmp = tempDir("graft_mixed").toString
    val mem = s"$tmp/mem"
    // s1: an OLD stamped turn plus a NEWER untimed one (turnTsOf returned
    // None for that batch) — max(ts) over the stamped subset says idle,
    // but the untimed row may be its newest activity; s2: fully stamped
    // and stale — prunable
    Seq((("s1"), 0L, "user", "old", Some(100L)),
      (("s1"), 2L, "user", "recent but untimed", Option.empty[Long]),
      (("s2"), 0L, "user", "stale", Some(100L)))
      .toDF("session_id", "turn", "role", "content", "ts")
      .withColumn("sbucket", ChatRag.bucketExpr(4))
      .write.partitionBy("sbucket").parquet(mem)
    val fs = new org.apache.hadoop.fs.Path(mem)
      .getFileSystem(spark.sessionState.newHadoopConf())
    fs.mkdirs(new org.apache.hadoop.fs.Path(s"$mem/_nbuckets"))
    fs.create(new org.apache.hadoop.fs.Path(s"$mem/_nbuckets/4"), true).close()
    assert(ChatRag.pruneIdleSessions(spark, mem, beforeTs = 500L) == 1L,
      "only the fully-stamped stale session is prunable")
    val left = spark.read.parquet(mem).select("session_id")
      .as[String].collect().toSet
    assert(left == Set("s1"),
      "a mixed-stamping session must survive — its age is unknown")
    // marker-first: the horizon is recorded even by a no-op re-run
    assert(ChatRag.pruneIdleSessions(spark, mem, beforeTs = 600L) == 0L)
    assert(fs.exists(new org.apache.hadoop.fs.Path(s"$mem/_retention/600")),
      "the audit marker must advance even when nothing pruned")
  }

  test("streamingChatRag: turns accumulate memory across micro-batches, ledger blocks re-runs") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.functions.col
    implicit val sqlC = spark.sqlContext
    val tmp = tempDir("graft_schat").toString
    val (cache, mem, out) = (s"$tmp/cache", s"$tmp/mem", s"$tmp/out")
    val v1 = Array(1.0f, 0.0f)
    val answerMisses: org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame =
      missQ => missQ.select(col("query_id"), col("question"),
        concat(lit("computed: "), col("question")).as("answer"),
        lit(0.5).as("cost"))
    val stream = MemoryStream[(String, Long, String, Array[Float])]
    val q = ChatRag.streamingChatRag(
      stream.toDF().toDF("session_id", "query_id", "question", "query_vec"),
      mem, cache, out, s"$tmp/ckpt", answerMisses,
      turnTsOf = id => Some(1000L + id)).start()
    try {
      stream.addData(("s1", 1L, "q one", v1)) // turn 0: miss, answered
      q.processAllAvailable()
      stream.addData(("s1", 5L, "q one", v1)) // turn 1: re-ask, hit at cost 0
      q.processAllAvailable()
      val disp = spark.read.parquet(out)
        .select("batch", "session_id", "turn", "hit", "cost", "n_prompt_msgs")
        .collect().map(r => r.getInt(0) ->
          (r.getLong(2), r.getBoolean(3), r.getDouble(4), r.getLong(5))).toMap
      assert(disp(0) == (0L, false, 0.5, 3L), s"turn 0 drifted: $disp")
      assert(disp(1) == (2L, true, 0.0, 7L),
        s"turn 1 must hit at cost 0 with the remembered prompt: $disp")
      assert(spark.read.parquet(mem).count() == 4L,
        "two turns append four memory rows")
      // turnTsOf stamped each batch's appends — the retention age signal
      assert(spark.read.parquet(mem).groupBy("ts").count()
        .as[(Long, Long)].collect().toMap == Map(1000L -> 2L, 1001L -> 2L),
        "per-batch turnTsOf must stamp the memory appends")
      // the ledger refuses a completed batch outright
      assert(!graft.ops.Layout.ledgeredBatch(spark, s"$mem/_batches", 0L) {
        fail("a ledgered batch must never re-run")
      })
    } finally q.stop()
  }

  test("streamingChatRag with chatLogPath: every turn logs (the reference's trail); retention bounds the log") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.functions.col
    implicit val sqlC = spark.sqlContext
    val tmp = tempDir("graft_schatlog").toString
    val (cache, mem, out, log) = (s"$tmp/cache", s"$tmp/mem", s"$tmp/out", s"$tmp/log")
    val v1 = Array(1.0f, 0.0f); val v2 = Array(0.0f, 1.0f)
    val answerMisses: org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame =
      missQ => missQ.select(col("query_id"), col("question"),
        concat(lit("computed: "), col("question")).as("answer"),
        lit(0.5).as("cost"))
    val stream = MemoryStream[(String, Long, String, Array[Float])]
    // width 100, keep 150, poll every batch; clock = 100·(batchId+1)
    val q = ChatRag.streamingChatRag(
      stream.toDF().toDF("session_id", "query_id", "question", "query_vec"),
      mem, cache, out, s"$tmp/ckpt", answerMisses,
      maintenanceEvery = 1,
      turnTsOf = id => Some(100L * (id + 1)),
      chatLogPath = Some(log), chatLogWidth = 100L,
      chatLogRetainFor = Some(150L)).start()
    try {
      stream.addData(("s1", 1L, "q one", v1)) // batch 0 @ ts 100
      q.processAllAvailable()
      val fs = new org.apache.hadoop.fs.Path(log)
        .getFileSystem(spark.sessionState.newHadoopConf())
      assert(fs.exists(new org.apache.hadoop.fs.Path(s"$log/day=1")),
        "the turn must land in the C5 log, day-partitioned")
      val first = spark.read.parquet(log)
        .select("user", "message", "response", "ts")
        .as[(String, String, String, Long)].head()
      assert(first == (("s1", "q one", "computed: q one", 100L)),
        s"the log record is the reference's (user, message, response, ts) shape: $first")
      // batches 1..3 advance the clock to ts 400 → horizon 250 → day 1 drops
      stream.addData(("s1", 2L, "q two", v2)); q.processAllAvailable()
      stream.addData(("s1", 3L, "q three", v1)); q.processAllAvailable()
      stream.addData(("s1", 4L, "q four", v2)); q.processAllAvailable()
      assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$log/day=1")),
        "the loop's own retention poll must drop below-horizon days")
      val msgs = spark.read.parquet(log).select("message")
        .as[String].collect().toSet
      assert(msgs == Set("q three", "q four"),
        s"the stream's log stays horizon-bounded: $msgs")
      // the memory table is untouched by log retention — all four turns
      assert(spark.read.parquet(mem).count() == 8L)
    } finally q.stop()
  }

  test("streamingChatRag with memoryRetainFor: the loop ages its own memory state") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.functions.col
    implicit val sqlC = spark.sqlContext
    val tmp = tempDir("graft_schatret").toString
    val (cache, mem, out) = (s"$tmp/cache", s"$tmp/mem", s"$tmp/out")
    val v1 = Array(1.0f, 0.0f); val v2 = Array(0.0f, 1.0f)
    val answerMisses: org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame =
      missQ => missQ.select(col("query_id"), col("question"),
        concat(lit("computed: "), col("question")).as("answer"),
        lit(0.5).as("cost"))
    val stream = MemoryStream[(String, Long, String, Array[Float])]
    // clock = 100·(batchId+1); keep 150 → by batch 3 (ts 400, horizon
    // 250) a session silent since batch 0 (ts 100) is idle
    val q = ChatRag.streamingChatRag(
      stream.toDF().toDF("session_id", "query_id", "question", "query_vec"),
      mem, cache, out, s"$tmp/ckpt", answerMisses,
      maintenanceEvery = 1,
      turnTsOf = id => Some(100L * (id + 1)),
      memoryRetainFor = Some(150L)).start()
    try {
      stream.addData(("gone", 1L, "only turn", v1), ("alive", 2L, "t0", v2))
      q.processAllAvailable()
      stream.addData(("alive", 3L, "t1", v1)); q.processAllAvailable()
      stream.addData(("alive", 4L, "t2", v2)); q.processAllAvailable()
      stream.addData(("alive", 5L, "t3", v1)); q.processAllAvailable()
      val left = spark.read.option("mergeSchema", "true").parquet(mem)
        .groupBy("session_id").count().as[(String, Long)].collect().toMap
      // "gone" (newest ts 100 < the batch-3 horizon 250) was retired by
      // the loop's own poll; "alive" keeps its FULL history (max ts
      // governs — old rows of a live session are never clipped)
      assert(left == Map("alive" -> 8L),
        s"the loop must age its own state: $left")
      // the loop advanced the retention marker (marker-first law)
      val fs = new org.apache.hadoop.fs.Path(mem)
        .getFileSystem(spark.sessionState.newHadoopConf())
      assert(fs.listStatus(new org.apache.hadoop.fs.Path(s"$mem/_retention"))
        .map(_.getPath.getName.toLong).max == 250L)
    } finally q.stop()
  }

  test("streamingCachedRag with evictLru: the refreshed entry survives the cap") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.functions.col
    implicit val sqlC = spark.sqlContext
    val tmp = tempDir("graft_scrag_lru").toString
    val (cache, out) = (s"$tmp/cache", s"$tmp/out")
    val (v1, v2, v3) = (Array(1.0f, 0.0f), Array(0.0f, 1.0f), Array(0.6f, 0.8f))
    val answerMisses: org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame =
      missQ => missQ.select(col("query_id"), col("question"),
        concat(lit("computed: "), col("question")).as("answer"),
        lit(0.5).as("cost"))
    val stream = MemoryStream[(Long, String, Array[Float])]
    val q = CachedRag.streamingCachedRag(
      stream.toDF().toDF("query_id", "question", "query_vec"),
      cache, out, s"$tmp/ckpt", answerMisses,
      cacheMaxEntries = Some(2), evictLru = true).start()
    try {
      stream.addData(Seq((1L, "q one", v1), (2L, "q two", v2))) // both admit
      q.processAllAvailable()
      // batch 1: a NEW question (third entry) + a re-ask refreshing 1000001
      stream.addData(Seq((3L, "q three", v3), (10L, "q one again", v1)))
      q.processAllAvailable()
      val kept = spark.read.parquet(cache).select("cache_id")
        .collect().map(_.getLong(0)).toSet
      assert(kept == Set(1000001L, 1000003L),
        s"LRU must keep the refreshed entry (FIFO would keep 1000002): $kept")
    } finally q.stop()
  }

  test("streamingCachedRag retainBatches: the loop retires its own folded history, recency intact") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.functions.col
    implicit val sqlC = spark.sqlContext
    val tmp = tempDir("graft_scrag_ret").toString
    val (cache, out) = (s"$tmp/cache", s"$tmp/out")
    val answerMisses: org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame =
      missQ => missQ.select(col("query_id"), col("question"),
        concat(lit("computed: "), col("question")).as("answer"),
        lit(0.5).as("cost"))
    def v(i: Int) = Array(math.cos(i * 0.7).toFloat, math.sin(i * 0.7).toFloat)
    val stream = MemoryStream[(Long, String, Array[Float])]
    val q = CachedRag.streamingCachedRag(
      stream.toDF().toDF("query_id", "question", "query_vec"),
      cache, out, s"$tmp/ckpt", answerMisses,
      cacheMaxEntries = Some(3), evictLru = true,
      retainBatches = Some(2)).start()
    try {
      // b0/b1 insert; b2 RE-ASKS the first question (refreshing 1000001's
      // recency); b3 fills the cap and prunes dirs 0-1; b4 crosses the
      // cap — the LRU must evict 1000002 and keep 1000001, whose
      // refresh now lives only in the recency FOLD (its minting dir was
      // pruned, its refreshing dir goes next)
      Seq((1L, "q a", v(0)), (2L, "q b", v(1)), (50L, "q a again", v(0)),
        (3L, "q c", v(3)), (4L, "q d", v(4))).foreach { row =>
        stream.addData(row)
        q.processAllAvailable()
      }
      val fs = new org.apache.hadoop.fs.Path(out)
        .getFileSystem(spark.sessionState.newHadoopConf())
      val dirs = fs.listStatus(new org.apache.hadoop.fs.Path(out)).toSeq
        .filter(e => e.isDirectory && e.getPath.getName.startsWith("batch="))
        .map(_.getPath.getName).sorted
      assert(dirs == Seq("batch=3", "batch=4"),
        s"only the retention window may remain: $dirs")
      val kept = spark.read.parquet(cache).select("cache_id")
        .collect().map(_.getLong(0)).toSet
      assert(kept == Set(1000001L, 1000003L, 1000004L),
        s"LRU must keep the refreshed entry and evict 1000002: $kept")
      // below-horizon reads refuse; the retained window reports fine
      intercept[IllegalArgumentException] {
        SemanticCache.readDispositions(spark, out, fromBatch = 0L)
      }
      assert(SemanticCache.cacheReport(
        SemanticCache.readDispositions(spark, out, fromBatch = 3L)).count() == 2)
    } finally q.stop()
  }

  test("streamingCachedRag ledgered mode: a completed batch never re-runs a live answerer") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.functions.col
    implicit val sqlC = spark.sqlContext
    val tmp = tempDir("graft_scrag_led").toString
    val (cache, out) = (s"$tmp/cache", s"$tmp/out")
    // a NON-deterministic answerer (the live-LLM stand-in): each pipeline
    // construction stamps a fresh generation counter into the answer
    val calls = new java.util.concurrent.atomic.AtomicInteger(0)
    val answerMisses: org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame =
      missQ => {
        val n = calls.incrementAndGet()
        missQ.select(col("query_id"), col("question"),
          concat(lit(s"gen $n: "), col("question")).as("answer"),
          lit(0.5).as("cost"))
      }
    val stream = MemoryStream[(Long, String, Array[Float])]
    val q = CachedRag.streamingCachedRag(
      stream.toDF().toDF("query_id", "question", "query_vec"),
      cache, out, s"$tmp/ckpt", answerMisses, ledgered = true).start()
    try {
      stream.addData((1L, "q one", Array(1.0f, 0.0f)))
      q.processAllAvailable()
      val ans = spark.read.parquet(s"$out/batch=0").select("answer")
        .head.getString(0)
      assert(ans == "gen 1: q one", s"first delivery answers live: $ans")
      // a re-delivered batch id must refuse outright — with a live model,
      // re-running would produce "gen 2" answers and divergent output
      assert(!graft.ops.Layout.ledgeredBatch(spark, s"$out/_batches", 0L) {
        fail("a ledgered serving batch must never re-run")
      })
      assert(spark.read.parquet(cache).count() == 1)
    } finally q.stop()
  }

  // the fused disposition pass's edges: each pins the exact dispositions
  private def passRows(df: org.apache.spark.sql.DataFrame) =
    df.collect().map(r => r.getLong(0) ->
      (r.getString(2), r.getBoolean(3), r.getLong(4), r.getDouble(5))).toMap

  private def echoPriced(calls: java.util.concurrent.atomic.AtomicInteger)
      : org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame =
    missQ => {
      calls.incrementAndGet()
      missQ.select(col("query_id"), col("question"),
        concat(lit("computed: "), col("question")).as("answer"), lit(0.5).as("cost"))
    }

  test("cachedAnswerBatch all-hit batch: answerMisses never runs, answers come from the store") {
    val cache = tempDir("graft_pass_hit").toString + "/cache"
    Seq((7L, Array(1.0f, 0.0f), "stored seven"), (8L, Array(0.0f, 1.0f), "stored eight"))
      .toDF("cache_id", "embedding", "answer").write.parquet(cache)
    val calls = new java.util.concurrent.atomic.AtomicInteger(0)
    val got = passRows(CachedRag.cachedAnswerBatch(spark,
      Seq((1L, "q one", Array(1.0f, 0.0f)), (2L, "q two", Array(0.0f, 2.0f)))
        .toDF("query_id", "question", "query_vec"), cache, 0.95, echoPriced(calls)))
    assert(got == Map(1L -> ("stored seven", true, 7L, 0.0),
      2L -> ("stored eight", true, 8L, 0.0)), s"all-hit dispositions: $got")
    assert(calls.get == 0, "an all-hit batch must not run the miss pipeline")
    assert(spark.read.parquet(cache).count() == 2, "hits never insert")
  }

  test("cachedAnswerBatch all-miss batch with in-batch near-duplicates: one insert, the loser hits the winner") {
    val cache = tempDir("graft_pass_dup").toString + "/cache"
    val calls = new java.util.concurrent.atomic.AtomicInteger(0)
    val got = passRows(CachedRag.cachedAnswerBatch(spark,
      Seq((5L, "q five", Array(1.0f, 0.0f)), (6L, "q six", Array(0.99f, 0.05f)))
        .toDF("query_id", "question", "query_vec"), cache, 0.95, echoPriced(calls)))
    // both miss the (absent) store and are answered; 6 is 5's in-batch
    // near-duplicate, so it hits 5's freshly minted entry
    assert(got == Map(5L -> ("computed: q five", false, 1000005L, 0.5),
      6L -> ("computed: q six", true, 1000005L, 0.5)), s"all-miss dispositions: $got")
    assert(calls.get == 1)
    val stored = spark.read.parquet(cache)
    assert(stored.select("cache_id", "answer").as[(Long, String)].collect().toSeq ==
      Seq((1000005L, "computed: q five")), "ONE entry for the near-duplicate pair")
  }

  test("cachedAnswerBatch replayed batch: identical dispositions through own-id exclusion") {
    val cache = tempDir("graft_pass_replay").toString + "/cache"
    Seq((7L, Array(1.0f, 0.0f), "stored seven")).toDF("cache_id", "embedding", "answer")
      .write.parquet(cache)
    val batch = Seq((1L, "q one", Array(1.0f, 0.0f)), (2L, "q two", Array(0.0f, 1.0f)),
      (3L, "q three", Array(0.0f, 1.0f))).toDF("query_id", "question", "query_vec")
    val calls = new java.util.concurrent.atomic.AtomicInteger(0)
    val first = passRows(CachedRag.cachedAnswerBatch(spark, batch, cache, 0.95, echoPriced(calls)))
    assert(first == Map(1L -> ("stored seven", true, 7L, 0.0),
      2L -> ("computed: q two", false, 1000002L, 0.5),
      3L -> ("computed: q three", true, 1000002L, 0.5)), s"first delivery: $first")
    // the replay finds its own insertion 1000002 in the raw store; the
    // own-id exclusion hides it, so 2 and 3 miss again exactly as before
    val replay = passRows(CachedRag.cachedAnswerBatch(spark, batch, cache, 0.95, echoPriced(calls)))
    assert(replay == first, s"a replayed batch must re-derive its dispositions: $replay")
    assert(spark.read.parquet(cache).count() == 2, "the replay inserts nothing")
  }

  test("route gate: the footer bound takes the exact visible count's route just above and below it") {
    val cache = tempDir("graft_pass_route").toString + "/cache"
    // 4 raw rows in two files; 2 of them are this batch's own minted ids
    // (a crash-replay), so the visible store holds 2
    Seq((7L, Array(1.0f, 0.0f)), (8L, Array(0.0f, 1.0f))).toDF("cache_id", "embedding")
      .write.parquet(cache)
    Seq((1000001L, Array(0.6f, 0.8f)), (1000002L, Array(0.8f, 0.6f)))
      .toDF("cache_id", "embedding").write.mode("append").parquet(cache)
    val store = SemanticCache.listStore(spark, cache)
    val (nBatch, visible) = (2L, 2L)
    def routed(maxExact: Long): (Boolean, Boolean) = {
      var counted = false
      val n = SemanticCache.routeStoreCount(spark, store, nBatch, maxExact) {
        counted = true; visible
      }
      val exact = SemanticCache.isExactRoute(nBatch, n, maxExact)
      assert(exact == SemanticCache.isExactRoute(nBatch, visible, maxExact),
        s"maxExact $maxExact: the gate's route must be the exact visible count's")
      (exact, counted)
    }
    // at the bound (2 × 4 raw rows = 8): the footers prove the exact
    // route, no count job
    assert(routed(8L) == ((true, false)))
    // just above it (7 < 8): the raw rows no longer prove it, the exact
    // visible count decides — exact (2 × 2 = 4 ≤ 7), the first delivery's
    // route, where the raw count alone would have banded the replay
    assert(routed(7L) == ((true, true)))
    assert(routed(3L) == ((false, true)))
  }

  test("intakeBatch job budget: one micro-batch stays within its scheduling budget") {
    // the round-11 hygiene note: intakeBatch fires several driver actions
    // per micro-batch (the lookup, the in-batch resolve, the collision
    // guard, the insert). Each is cheap, but at second-scale micro-batches
    // the job-scheduling overhead compounds — this pins the TOTAL job
    // count (body + one consumer action) so a refactor that quietly adds
    // per-batch jobs fails loudly instead of surfacing as st18 latency.
    val tmp = tempDir("graft_ci_budget").toString + "/cache"
    Seq((7L, Array(1.0f, 0.0f), "seed")).toDF("cache_id", "embedding", "answer")
      .write.parquet(tmp)
    val batch = Seq(
      (1L, Array(1.0f, 0.0f)), (2L, Array(0.0f, 1.0f)), (3L, Array(0.6f, 0.8f))
    ).toDF("query_id", "query_vec")
    val (_, n) = ListenerBusDrain.jobsOf(spark.sparkContext) {
      SemanticCache.intakeBatch(spark, batch, tmp, minCos = 0.95).collect()
    }
    info(s"intakeBatch micro-batch issued $n jobs")
    // measured 9: the routed lookup (3), the two misses' in-batch resolve
    // (4), the collision read and the insert — the batch is already local
    // and the footer bound skips the visible count; +1 headroom for jitter
    assert(n <= 10, s"intake job budget blown: $n jobs for one micro-batch")
  }

  test("cachedAnswerBatch job budget: one serving micro-batch stays pinned") {
    // the composed loop runs the intake's tail PLUS its own (answer
    // pipeline, hit-answer read) — pin the total so a refactor that
    // quietly adds per-batch driver actions fails loudly instead of
    // surfacing as st19 latency (the intakeBatch budget's rationale, one
    // level up)
    val tmp = tempDir("graft_crag_budget").toString + "/cache"
    Seq((7L, Array(1.0f, 0.0f), "seed answer"))
      .toDF("cache_id", "embedding", "answer").write.parquet(tmp)
    val batch = Seq(
      (1L, "q one", Array(1.0f, 0.0f)),  // hit on the seed
      (2L, "q two", Array(0.0f, 1.0f))   // miss -> answered + admitted
    ).toDF("query_id", "question", "query_vec")
    def echoMisses(missQ: org.apache.spark.sql.DataFrame) =
      missQ.select(col("query_id"), col("question"),
        concat(lit("ans "), col("question")).as("answer"),
        lit(0.01).as("cost"))
    val (_, n) = ListenerBusDrain.jobsOf(spark.sparkContext) {
      CachedRag.cachedAnswerBatch(spark, batch, tmp, minCos = 0.95,
        echoMisses).collect()
    }
    info(s"cachedAnswerBatch micro-batch issued $n jobs")
    // measured 6: the routed lookup (3), the collision read, the insert
    // and the hit answers' read — a single miss has no in-batch pair to
    // resolve; +2 headroom for jitter
    assert(n <= 8, s"serving-loop job budget blown: $n jobs")
  }

  test("chatTurn job budget: one full chat turn stays pinned") {
    // the composition's whole per-turn driver-action cost — the number
    // st20's latency is made of: the cache pass's jobs plus the turn's
    // own history aggregate and bucketed append.
    val tmp = tempDir("graft_ct_budget").toString
    val (cache, mem) = (s"$tmp/cache", s"$tmp/mem")
    val batch = Seq(
      ("s1", 1L, "q one", Array(1.0f, 0.0f)),
      ("s2", 2L, "q two", Array(0.0f, 1.0f))
    ).toDF("session_id", "query_id", "question", "query_vec")
    def echoMisses(missQ: org.apache.spark.sql.DataFrame) =
      missQ.select(col("query_id"), col("question"),
        concat(lit("ans "), col("question")).as("answer"),
        lit(0.01).as("cost"))
    val (_, n) = ListenerBusDrain.jobsOf(spark.sparkContext) {
      ChatRag.chatTurn(spark, batch, mem, cache, minCos = 0.95, echoMisses)
        .collect()
    }
    info(s"chatTurn issued $n jobs")
    // measured 6 (two-miss bootstrap turn, nothing to read yet): the
    // in-batch resolve (4), the cache insert and the memory append; +4
    // headroom
    assert(n <= 10, s"chat-turn job budget blown: $n jobs")
  }

  test("cache intake: carryCols persist payload columns on inserted entries") {
    import org.apache.spark.sql.functions.col
    val tmp = tempDir("graft_ci_carry").toString + "/cache"
    val b1 = Seq((1L, Array(1.0f, 0.0f), "ans one"), (2L, Array(0.0f, 1.0f), "ans two"))
      .toDF("query_id", "query_vec", "answer")
    SemanticCache.intakeBatch(spark, b1, tmp, minCos = 0.95, carryCols = Seq("answer"))
    val stored = spark.read.parquet(tmp)
    assert(stored.columns.toSet == Set("cache_id", "embedding", "answer"))
    val got = stored.select("cache_id", "answer")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got == Map(1000001L -> "ans one", 1000002L -> "ans two"))
    // a later batch HIT can be served from the stored payload
    val d2 = SemanticCache.intakeBatch(spark,
      Seq((10L, Array(1.0f, 0.0f), "unused")).toDF("query_id", "query_vec", "answer"),
      tmp, minCos = 0.95, carryCols = Seq("answer"))
    val hit = d2.where(col("hit")).select("cache_id").head.getLong(0)
    assert(hit == 1000001L)
  }
}
