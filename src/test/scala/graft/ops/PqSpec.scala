package graft.ops

import graft.SparkSpec
import graft.search.Knn
import org.apache.spark.sql.functions._

/** Product quantization: encode shape/determinism, ADC table math vs a
  * driver-side recomputation, recall with and without exact re-rank, and
  * the hot-path plan shape (codegen scoring over codes, no vector scan).
  */
class PqSpec extends SparkSpec {
  import spark.implicits._

  private lazy val emb = spark.read
    .parquet("/root/testdata/sf0.001/embeddings.parquet")

  // small fixture (100 rows): modest codebooks so KMeans has enough points
  private lazy val model = Pq.fit(emb, dims = 64, m = 8, k = 8)
  private lazy val codes = Pq.encode(emb, model)
    .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)

  private lazy val queries = emb
    .where($"vec_id".isin(3L, 7L, 11L))
    .select($"vec_id".as("query_id"), $"embedding".as("query_vec"))

  test("encode: m codes per row, all in [0, k), deterministic across calls") {
    val rows = codes.select("codes").as[Seq[Int]].collect()
    assert(rows.nonEmpty)
    assert(rows.forall(c => c.length == 8 && c.forall(x => x >= 0 && x < 8)))
    val again = Pq.encode(emb, Pq.fit(emb, dims = 64, m = 8, k = 8), "vec_id")
      .select("vec_id", "codes").as[(Long, Seq[Int])].collect().toMap
    val first = codes.join(emb.select("vec_id"), Seq("vec_id"))
      .select("vec_id", "codes").as[(Long, Seq[Int])].collect().toMap
    assert(again == first, "seeded fit+encode must be reproducible")
  }

  test("ADC distance equals the driver-side table-lookup recomputation") {
    val q = emb.where($"vec_id" === 7).select("embedding").as[Array[Float]].head()
    val tables = model.adcTables(q)
    val sparkDist = Pq.topKBatch(
      queries.where($"query_id" === 7), codes, model, k = 600, rerank = 0)
      .select("vec_id", "dist").as[(Long, Double)].collect().toMap
    assert(sparkDist.size == 500, "k past corpus size returns every row scored")
    val codeMap = codes.as[(Long, Seq[Int])].collect().toMap
    codeMap.foreach { case (id, cs) =>
      val expected = cs.zipWithIndex.map { case (c, j) => tables(j)(c).toDouble }.sum
      assert(math.abs(sparkDist(id) - expected) < 1e-4,
        s"vec $id: spark=${sparkDist(id)} expected=$expected")
    }
  }

  test("self-query lands on itself; rerank yields exact distances and high recall") {
    val exact = queries.select("query_id", "query_vec").as[(Long, Array[Float])]
      .collect().map { case (qid, qv) =>
        qid -> Knn.topKWithScore(emb, qv, 5, idCol = "vec_id")
          .select("vec_id", "dist").as[(Long, Double)].collect().toSeq
      }.toMap
    // ADC-only: quantization error allowed, but rank 1 must be the query
    // vector itself — its own code is the per-subspace argmin, so its ADC
    // distance is the global minimum (ties excepted)
    val adcTop = Pq.topKBatch(queries, codes, model, k = 5, rerank = 0)
      .where($"rank" === 1).select("query_id", "vec_id").as[(Long, Long)]
      .collect().toMap
    adcTop.foreach { case (qid, top1) => assert(top1 == qid, s"q$qid adc top1=$top1") }
    // Re-rank recovers the exact ORDER AND DISTANCES of whatever the ADC
    // shortlist caught; with finer codebooks (k=32) and a 20x shortlist
    // the recall vs brute force must be high. (Exact-equality of the full
    // top-k is NOT a PQ guarantee — the shortlist is approximate.)
    val fine = Pq.fit(emb, dims = 64, m = 8, k = 32)
    val fineCodes = Pq.encode(emb, fine)
    val reranked = Pq.topKBatch(queries, fineCodes, fine, k = 5, emb = emb, rerank = 20)
      .orderBy("query_id", "rank")
      .select("query_id", "vec_id", "dist").as[(Long, Long, Double)].collect()
      .groupBy(_._1).view.mapValues(_.map(t => (t._2, t._3)).toSeq).toMap
    val recalls = reranked.map { case (qid, hits) =>
      val exactIds = exact(qid).map(_._1).toSet
      // every returned distance is the TRUE L2 (matches brute force when
      // the id appears in both lists)
      val exactDist = exact(qid).toMap
      hits.foreach { case (id, d) =>
        exactDist.get(id).foreach(ed => assert(math.abs(d - ed) < 1e-6,
          s"q$qid id $id rerank dist $d != exact $ed"))
      }
      hits.count(h => exactIds.contains(h._1)).toDouble / 5
    }
    val mean = recalls.sum / recalls.size
    assert(mean >= 0.8, s"mean recall@5 after rerank = $mean")
  }

  test("hot path scans codes only: no vector column, heap aggregate, broadcast queries") {
    val plan = Pq.topKBatch(queries, codes, model, k = 5, rerank = 0)
      .queryExecution.executedPlan.toString
    assert(plan.contains("topk_by_dist"), "bounded-heap aggregate must finish top-k")
    assert(plan.contains("BroadcastNestedLoopJoin") || plan.contains("BroadcastExchange"),
      "query tables must broadcast")
    assert(!plan.contains("CartesianProduct"), s"no shuffled cartesian:\n${plan.take(1500)}")
  }

  test("at rest: write/load round-trip is value-identical to the transient path") {
    val path = tempDir("graft_pq").toString + "/idx"
    Pq.write(codes, model, path)
    val (loadedCodes, loadedModel) = Pq.load(spark, path)
    assert(loadedModel.dims == model.dims && loadedModel.m == model.m &&
      loadedModel.k == model.k)
    assert(loadedModel.codebooks.flatten.flatten.toSeq ==
      model.codebooks.flatten.flatten.toSeq,
      "persisted codebooks must round-trip exactly")
    def rows(df: org.apache.spark.sql.DataFrame) = df
      .select("query_id", "rank", "vec_id")
      .as[(Long, Int, Long)].collect().toSeq.sorted
    assert(rows(Pq.topKBatch(queries, loadedCodes, loadedModel,
        k = 5, emb = emb, rerank = 8)) ==
      rows(Pq.topKBatch(queries, codes, model, k = 5, emb = emb, rerank = 8)),
      "probe over persisted codes must equal the transient path")
  }

  test("ADC flat unroll is bit-identical to the interpreted HOF fold") {
    // the adcScore rewrite's premise: same operand sequence, same
    // left-to-right association, so distances (not just ranks) agree
    // exactly with the aggregate(zip_with(...)) formulation it replaced
    val m = model // local: the udf must not capture the suite instance
    val tablesUdf = udf { q: Seq[Float] =>
      m.adcTables(q.toArray).map(_.toSeq).toSeq
    }
    val qt = queries.select(col("query_id"), tablesUdf(col("query_vec")).as("__tables"))
    val both = codes.crossJoin(broadcast(qt))
      .withColumn("hof",
        aggregate(
          zip_with(col("codes"), col("__tables"),
            (c, t) => element_at(t, c + 1).cast("double")),
          lit(0.0), (a, b) => a + b))
      .join(Pq.topKBatch(queries, codes, model, k = 400, rerank = 0)
          .withColumnRenamed("dist", "flat"),
        Seq("query_id", "vec_id"))
    val mismatches = both.where(col("hof") =!= col("flat")).count()
    assert(mismatches == 0, s"$mismatches ADC distances drifted from the HOF fold")
  }

  test("IVFPQ: probing all lists equals plain PQ; fewer lists prune candidates") {
    val (assigned, centroids) = Ann.buildIvf(emb, nLists = 4)
    val all = Pq.ivfPqTopKBatch(queries, assigned, centroids, codes, model,
      k = 5, nProbe = 4, emb = emb, rerank = 8)
      .select("query_id", "rank", "vec_id").as[(Long, Int, Long)].collect().toSet
    val plain = Pq.topKBatch(queries, codes, model, k = 5, emb = emb, rerank = 8)
      .select("query_id", "rank", "vec_id").as[(Long, Int, Long)].collect().toSet
    assert(all == plain, "nProbe = nLists must reduce to the full PQ scan")
    // nProbe=1 restricts scoring to one list's membership per query
    val one = Pq.ivfPqTopKBatch(queries, assigned, centroids, codes, model,
      k = 5, nProbe = 1, emb = emb, rerank = 8)
    val rows = one.select("query_id", "rank", "vec_id").as[(Long, Int, Long)].collect()
    assert(rows.nonEmpty && rows.groupBy(_._1).forall(_._2.length <= 5))
    // each query's hits must come from its single probed list
    val listOf = assigned.select("vec_id", "centroid_id").as[(Long, Int)]
      .collect().toMap
    val probedList = rows.groupBy(_._1).view.mapValues(_.map(r => listOf(r._3)).toSet)
    probedList.foreach { case (qid, lists) =>
      assert(lists.size == 1, s"q$qid drew hits from lists $lists with nProbe=1")
    }
  }

  test("fitSampled: deterministic, valid codebooks, same search quality contract") {
    val m1 = Pq.fitSampled(emb, dims = 64, m = 8, k = 8, maxIter = 10)
    val m2 = Pq.fitSampled(emb, dims = 64, m = 8, k = 8, maxIter = 10)
    assert(m1.codebooks.flatten.flatten.toSeq == m2.codebooks.flatten.flatten.toSeq,
      "sample-trained codebooks must be bit-reproducible")
    assert(m1.codebooks.length == 8 && m1.codebooks.forall(_.length == 8)
      && m1.codebooks.forall(_.forall(_.length == 8)))
    // same contracts as the MLlib fit: self-top1 under ADC, recall with rerank
    val sCodes = Pq.encode(emb, m1)
    val adcTop = Pq.topKBatch(queries, sCodes, m1, k = 1, rerank = 0)
      .select("query_id", "vec_id").as[(Long, Long)].collect()
    adcTop.foreach { case (qid, hit) => assert(hit == qid, s"q$qid ADC top-1 $hit") }
    val exact = queries.select("query_id", "query_vec").as[(Long, Array[Float])]
      .collect().map { case (qid, qv) =>
        qid -> Knn.topKWithScore(emb, qv, 5, idCol = "vec_id")
          .select("vec_id").as[Long].collect().toSet
      }.toMap
    val rr = Pq.topKBatch(queries, sCodes, m1, k = 5, emb = emb, rerank = 8)
      .select("query_id", "vec_id").as[(Long, Long)].collect()
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val recall = exact.keys.toSeq.map(q =>
      (rr(q) intersect exact(q)).size.toDouble / exact(q).size).sum / exact.size
    assert(recall >= 0.8 - 1e-9, s"sampled-fit rerank recall $recall")
    // sampleCap smaller than the corpus still trains a usable model
    val capped = Pq.fitSampled(emb, dims = 64, m = 8, k = 8, maxIter = 10, sampleCap = 64)
    assert(capped.codebooks.forall(_.length == 8))
    intercept[IllegalArgumentException] {
      Pq.fitSampled(emb, dims = 64, m = 8, k = 256, sampleCap = 64) // k > sample
    }
  }

  test("lifecycle: append encodes through the FROZEN codebooks; delete hides; compact purges") {
    val path = tempDir("graft_pq_lc").toString + "/idx"
    val seed = emb.where(col("vec_id") < 300)
    val m = Pq.fitSampled(seed, dims = 64, m = 8, k = 8, maxIter = 10)
    Pq.write(Pq.encode(seed, m), m, path)
    Pq.appendCodes(spark, emb.where(col("vec_id") >= 300), path)
    // grown code table == one-shot encode of ALL rows under the SEED
    // codebooks: appended rows route through the persisted fine
    // quantizer, never a re-fit (parquet float round-trip is exact)
    val grown = spark.read.parquet(s"$path/codes")
      .as[(Long, Seq[Int])].collect().toMap
    val oneShot = Pq.encode(emb, m).as[(Long, Seq[Int])].collect().toMap
    assert(grown == oneShot, "append must encode through the frozen persisted codebooks")
    // a wrong-width batch refuses loudly instead of failing inside a task
    val e = intercept[IllegalArgumentException] {
      Pq.appendCodes(spark,
        emb.withColumn("embedding", slice(col("embedding"), 1, 32)), path)
    }
    assert(e.getMessage.contains("dims"), s"unexpected: ${e.getMessage}")
    def probe(): Map[Long, Seq[Long]] = {
      val (codes2, m2) = Pq.load(spark, path)
      Pq.topKBatch(queries, codes2, m2, k = 5, emb = emb, rerank = 8)
        .select("query_id", "rank", "vec_id").as[(Long, Int, Long)].collect()
        .groupBy(_._1).view.mapValues(_.sortBy(_._2).map(_._3).toSeq).toMap
    }
    val full = probe()
    // delete query 3's top hit (itself): every consumer of load() must
    // exclude it — it can no longer reach the ADC scan at all
    val top = full(3L).head
    Pq.deleteCodes(spark, path, Seq(top))
    val afterDel = probe()
    assert(!afterDel.values.exists(_.contains(top)), s"deleted id $top still served")
    assert(afterDel(3L).take(4) == full(3L).filterNot(_ == top).take(4),
      "surviving ranks must be the undisturbed tail")
    // compact purges for real, spends the sidecar, view unchanged
    val (before, after) = Pq.compactCodes(spark, path)
    assert(before == 500L && after == 499L, s"expected 500 -> 499, got $before -> $after")
    assert(!new java.io.File(s"$path/_tombstones").exists(),
      "compact must spend the tombstone sidecar")
    assert(probe() == afterDel, "compaction must not change the active view")
    // rebuild clears the previous life's sidecars: the once-deleted id
    // serves again
    Pq.write(Pq.encode(emb, m), m, path)
    assert(probe() == full, "rebuild must not inherit the old tombstones")
  }

  test("streamingPqSink: micro-batches encode through the frozen codebooks exactly once") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlC = spark.sqlContext
    val tmp = tempDir("graft_pq_sink").toString
    val path = s"$tmp/idx"
    val seed = emb.where(col("vec_id") < 300)
    val m = Pq.fitSampled(seed, dims = 64, m = 8, k = 8, maxIter = 10)
    Pq.write(Pq.encode(seed, m), m, path)
    assert(Pq.appendCodesBatch(spark,
      emb.where(col("vec_id") >= 300 && col("vec_id") < 320), path, 7L))
    assert(!Pq.appendCodesBatch(spark, // at-least-once redelivery
      emb.where(col("vec_id") >= 300 && col("vec_id") < 320), path, 7L),
      "replayed batch id must no-op against the marker ledger")
    val mem = MemoryStream[(Long, Array[Float])]
    val q = graft.ops.CorpusPipeline.streamingPqSink(
      mem.toDF().toDF("vec_id", "embedding"), path, s"$tmp/ckpt").start()
    try {
      val tail = emb.where(col("vec_id") >= 320)
        .select("vec_id", "embedding").as[(Long, Array[Float])].collect()
      mem.addData(tail.filter(_._1 < 400).toSeq: _*)
      q.processAllAvailable()
      mem.addData(tail.filter(_._1 >= 400).toSeq: _*)
      q.processAllAvailable()
      val (codes2, _) = Pq.load(spark, path)
      val grown = codes2.as[(Long, Seq[Int])].collect().toMap
      val oneShot = Pq.encode(emb, m).as[(Long, Seq[Int])].collect().toMap
      assert(grown == oneShot,
        "streamed codes must equal the one-shot encode under the seed codebooks")
    } finally q.stop()
  }

  test("streamingPqSink maintenance: a firing file-compact signal bin-packs codes/ mid-stream") {
    // PQ arm of the SqSpec regression for the s"$$path/codes"
    // literal-dollar bug: maxSmallFiles is small enough that the
    // file-compact action actually RUNS (the prior sink tests never
    // fired it, so the relative-path target was untested).
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlC = spark.sqlContext
    val tmp = tempDir("graft_pq_fcx").toString
    val path = s"$tmp/idx"
    val seed = emb.where(col("vec_id") < 300)
    val m = Pq.fitSampled(seed, dims = 64, m = 8, k = 8, maxIter = 10)
    Pq.write(Pq.encode(seed, m), m, path)
    val policy = graft.ops.Layout.MaintenancePolicy(
      maxSegments = 1000, maxTombstones = 1L << 20, maxSmallFiles = 2)
    val mem = MemoryStream[(Long, Array[Float])]
    val q = graft.ops.CorpusPipeline.streamingPqSink(
      mem.toDF().toDF("vec_id", "embedding"), path, s"$tmp/ckpt",
      maintenance = Some(policy)).start()
    try {
      val tail = emb.where(col("vec_id") >= 300)
        .select("vec_id", "embedding").as[(Long, Array[Float])].collect()
      mem.addData(tail.filter(_._1 < 400).toSeq: _*)
      q.processAllAvailable() // with the bug: dies HERE on "$path/codes"
      mem.addData(tail.filter(_._1 >= 400).toSeq: _*)
      q.processAllAvailable()
      val fs = new org.apache.hadoop.fs.Path(path)
        .getFileSystem(spark.sessionState.newHadoopConf())
      val codeFiles = fs.listStatus(new org.apache.hadoop.fs.Path(s"$path/codes"))
        .count { st =>
          val n = st.getPath.getName
          st.isFile && !n.startsWith("_") && !n.startsWith(".")
        }
      assert(codeFiles <= 2,
        s"the fired file-compact must have bin-packed codes/ ($codeFiles files)")
      val (codes2, _) = Pq.load(spark, path)
      val grown = codes2.as[(Long, Seq[Int])].collect().toMap
      val oneShot = Pq.encode(emb, m).as[(Long, Seq[Int])].collect().toMap
      assert(grown == oneShot, "file compaction must not change the encoded rows")
    } finally q.stop()
  }

  test("appendCodesBatch: crash-window replay (codes written, marker missing) appends nothing") {
    // ledgeredBatch's residual window, PQ arm (the SqSpec twin)
    val path = tempDir("graft_pq_cw").toString + "/idx"
    val seed = emb.where(col("vec_id") < 300)
    val m = Pq.fitSampled(seed, dims = 64, m = 8, k = 8, maxIter = 10)
    Pq.write(Pq.encode(seed, m), m, path)
    Pq.appendCodes(spark, emb.where(col("vec_id") >= 300 && col("vec_id") < 400), path)
    assert(Pq.appendCodesBatch(spark, emb.where(col("vec_id") >= 300), path, 1L))
    val codes = spark.read.parquet(s"$path/codes")
    assert(codes.count() == emb.count() &&
      codes.select("vec_id").distinct().count() == emb.count(),
      "crash-window rows must not duplicate; fresh rows must still append")
  }

  test("compression: codes are 32x smaller than raw vectors at m=8/64-d") {
    // structural claim pinned as arithmetic so a schema change that widens
    // the code column (e.g. LONG codes) fails loudly
    val codeBytes = 8 * 4   // m ints (Spark arrays of INT)
    val rawBytes = 64 * 4   // 64 floats
    assert(rawBytes / codeBytes >= 8)
  }
}
