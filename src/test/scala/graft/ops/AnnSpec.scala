package graft.ops

import graft.SparkSpec
import graft.search.Knn
import org.apache.spark.sql.functions.{aggregate, col, lit, row_number, sqrt, transform, zip_with}

class AnnSpec extends SparkSpec {
  import spark.implicits._

  private lazy val emb = spark.read
    .parquet("/root/testdata/sf0.001/embeddings.parquet")

  private lazy val qv: Array[Float] = emb
    .where($"vec_id" === 7).select("embedding").as[Array[Float]].head()

  private lazy val exactTop10: Seq[Long] =
    Knn.topK(emb, qv, 10, idCol = "vec_id").select("vec_id").as[Long].collect().toSeq

  test("LSH ANN achieves recall@10 >= 0.5 vs exact") {
    val (hashed, model) = Ann.fitLsh(emb, numHashTables = 8)
    val approx = Ann.lshTopK(hashed, model, qv, 10)
      .select("vec_id").as[Long].collect().toSet
    val recall = exactTop10.count(approx.contains).toDouble / 10
    assert(recall >= 0.5, s"recall=$recall")
  }

  test("IVF with all lists probed equals exact search") {
    val (assigned, centroids) = Ann.buildIvf(emb, nLists = 4)
    val got = Ann.ivfTopK(assigned, centroids, qv, 10, nProbe = 4)
      .select("vec_id").as[Long].collect().toSeq
    assert(got == exactTop10)
  }

  test("sampled IVF build: same exact-equivalence contract, deterministic") {
    val (assigned, centroids) = Ann.buildIvfSampled(emb, nLists = 4)
    val got = Ann.ivfTopK(assigned, centroids, qv, 10, nProbe = 4)
      .select("vec_id").as[Long].collect().toSeq
    assert(got == exactTop10, "all lists probed must equal exact search")
    // deterministic across builds (hash-chosen sample, RNG-free Lloyd's)
    val (assigned2, centroids2) = Ann.buildIvfSampled(emb, nLists = 4)
    assert(centroids.collect().map(_.toString).sorted.toSeq ==
      centroids2.collect().map(_.toString).sorted.toSeq)
    assert(assigned.select("vec_id", "centroid_id").collect().map(_.toString).sorted.toSeq ==
      assigned2.select("vec_id", "centroid_id").collect().map(_.toString).sorted.toSeq)
    // a sample smaller than the corpus still yields valid full-coverage lists
    val (a3, c3) = Ann.buildIvfSampled(emb, nLists = 4, sampleCap = 32)
    assert(a3.count() == emb.count() && c3.count() == 4)
  }

  test("persisted IVF index prunes partitions when probing") {
    val (assigned, centroids) = Ann.buildIvf(emb, nLists = 4)
    val path = tempDir("graft_ivf").toString
    Ann.writeIvf(assigned, centroids, path)
    val (lists, cents) = Ann.loadIvf(spark, path)
    val got = Ann.ivfTopK(lists, cents, qv, 10, nProbe = 4)
      .select("vec_id").as[Long].collect().toSeq
    assert(got == exactTop10)
    // probing 1 list must statically prune at the scan
    val probe1 = Ann.ivfTopK(lists, cents, qv, 10, nProbe = 1)
    val plan = probe1.queryExecution.executedPlan.toString
    val pf = "PartitionFilters: \\[[^\\]]*\\(centroid_id".r
    assert(pf.findFirstIn(plan).isDefined,
      s"expected static partition pruning in:\n${plan.take(2000)}")
  }

  test("IVF lifecycle: append through the frozen quantizer; delete hides; compact purges") {
    val (assigned, centroids) = Ann.buildIvfSampled(emb, nLists = 4)
    val path = tempDir("graft_ivf_lc").toString
    // seed + append must equal the one-shot build (the a5b premise): the
    // persisted centroids route appended vectors identically
    Ann.writeIvf(assigned.where(col("vec_id") < 60), centroids, path)
    Ann.appendIvf(spark, emb.where(col("vec_id") >= 60), path)
    val (lists, cents) = Ann.loadIvf(spark, path)
    val oneShot = assigned.select("vec_id", "centroid_id")
      .as[(Long, Int)].collect().toMap
    val grown = lists.select("vec_id", "centroid_id")
      .as[(Long, Int)].collect().toMap
    assert(grown == oneShot, "appended assignments must match the one-shot build")
    val got = Ann.ivfTopK(lists, cents, qv, 10, nProbe = 4)
      .select("vec_id").as[Long].collect().toSeq
    assert(got == exactTop10)
    // delete hides the top hit; probes over the loaded index exclude it
    val top = exactTop10.head
    Ann.deleteIvf(spark, path, Seq(top))
    val (lists2, cents2) = Ann.loadIvf(spark, path)
    val afterDel = Ann.ivfTopK(lists2, cents2, qv, 10, nProbe = 4)
      .select("vec_id").as[Long].collect().toSeq
    assert(!afterDel.contains(top), s"deleted id $top still served")
    assert(afterDel == exactTop10.filterNot(_ == top) ++
      afterDel.filterNot(exactTop10.contains), "remaining order must be undisturbed")
    // compact purges for real and spends the sidecar
    val (before, after) = Ann.compactIvf(spark, path)
    assert(before == 500L && after == 499L, s"expected 500 -> 499 rows, got $before -> $after")
    assert(!new java.io.File(s"$path/_tombstones").exists())
    val (lists3, cents3) = Ann.loadIvf(spark, path)
    assert(Ann.ivfTopK(lists3, cents3, qv, 10, nProbe = 4)
      .select("vec_id").as[Long].collect().toSeq == afterDel,
      "compaction must not change the active view")
  }

  test("appendIvfBatch: ledgered replay no-ops; compactIvfLists bin-packs value-invisibly") {
    val (assigned, centroids) = Ann.buildIvfSampled(emb, nLists = 4)
    val path = tempDir("graft_ivf_lb").toString
    Ann.writeIvf(assigned.where(col("vec_id") < 60), centroids, path)
    assert(Ann.appendIvfBatch(spark,
      emb.where(col("vec_id") >= 60 && col("vec_id") < 200), path, 1L))
    assert(!Ann.appendIvfBatch(spark, // at-least-once redelivery
      emb.where(col("vec_id") >= 60 && col("vec_id") < 200), path, 1L),
      "replayed batch id must no-op against the marker ledger")
    assert(Ann.appendIvfBatch(spark, emb.where(col("vec_id") >= 200), path, 2L))
    val (lists, cents) = Ann.loadIvf(spark, path)
    assert(lists.count() == 500L, "a replayed append must not duplicate rows")
    val oneShot = assigned.select("vec_id", "centroid_id")
      .as[(Long, Int)].collect().toMap
    assert(lists.select("vec_id", "centroid_id").as[(Long, Int)].collect().toMap
      == oneShot, "ledgered appends must route like the one-shot build")
    // small-file maintenance: seed + two appends leave several files per
    // touched centroid partition; bin-packing folds them per partition
    // (merge set from the listing) and the probe is value-invisible
    val before = Ann.ivfTopK(lists, cents, qv, 10, nProbe = 4)
      .select("vec_id").as[Long].collect().toSeq
    val packed = Ann.compactIvfLists(spark, path)
    assert(packed.nonEmpty, "expected at least one partition to need packing")
    assert(packed.forall { case (_, (b, a)) => a < b })
    val (lists2, cents2) = Ann.loadIvf(spark, path)
    assert(lists2.count() == 500L)
    assert(Ann.ivfTopK(lists2, cents2, qv, 10, nProbe = 4)
      .select("vec_id").as[Long].collect().toSeq == before,
      "file packing must not change any probe value")
  }

  test("appendIvfBatch: crash-window replay (data written, marker missing) appends nothing") {
    // the residual ledgeredBatch window: the append's data write landed
    // but the driver died before the marker. The streaming restart
    // redelivers the batch under a NEW attempt — freshBatchRows must
    // drop the already-present ids so the replay is row-exact idempotent,
    // while genuinely new ids in the same delivery still land
    val (assigned, centroids) = Ann.buildIvfSampled(emb, nLists = 4)
    val path = tempDir("graft_ivf_cw").toString
    Ann.writeIvf(assigned.where(col("vec_id") < 60), centroids, path)
    // simulate the crash: raw append (the data half), no ledger marker
    Ann.appendIvf(spark, emb.where(col("vec_id") >= 60 && col("vec_id") < 200), path)
    // replayed delivery: same rows PLUS the next range, one ledgered batch
    assert(Ann.appendIvfBatch(spark,
      emb.where(col("vec_id") >= 60 && col("vec_id") < 300), path, 1L))
    val (lists, _) = Ann.loadIvf(spark, path)
    assert(lists.count() == 300L,
      "crash-window rows must not duplicate; fresh rows must still append")
    assert(lists.select("vec_id").distinct().count() == 300L)
    // and a second crash window whose replay carries ONLY dead rows:
    // the ledgered re-delivery must mark the batch applied yet add nothing
    assert(Ann.appendIvfBatch(spark,
      emb.where(col("vec_id") >= 300 && col("vec_id") < 450), path, 2L))
    Ann.appendIvf(spark, emb.where(col("vec_id") >= 450), path) // second crash
    assert(Ann.appendIvfBatch(spark, emb.where(col("vec_id") >= 450), path, 3L))
    val (lists2, _) = Ann.loadIvf(spark, path)
    assert(lists2.count() == 500L && lists2.select("vec_id").distinct().count() == 500L)
  }

  test("streamingIvfSink: micro-batches route through the frozen quantizer exactly once") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlC = spark.sqlContext
    val tmp = tempDir("graft_ivf_sink").toString
    val path = s"$tmp/idx"
    val (assigned, centroids) = Ann.buildIvfSampled(emb, nLists = 4)
    Ann.writeIvf(assigned.where(col("vec_id") < 400), centroids, path)
    val mem = MemoryStream[(Long, Array[Float], Int)]
    val q = graft.ops.CorpusPipeline.streamingIvfSink(
      mem.toDF().toDF("vec_id", "embedding", "label"), path, s"$tmp/ckpt").start()
    try {
      val tail = emb.where(col("vec_id") >= 400)
        .select("vec_id", "embedding", "label")
        .as[(Long, Array[Float], Int)].collect()
      mem.addData(tail.filter(_._1 < 450).toSeq: _*)
      q.processAllAvailable()
      mem.addData(tail.filter(_._1 >= 450).toSeq: _*)
      q.processAllAvailable()
      val (lists, _) = Ann.loadIvf(spark, path)
      assert(lists.count() == 500L)
      assert(lists.select("vec_id", "centroid_id").as[(Long, Int)].collect().toMap
        == assigned.select("vec_id", "centroid_id").as[(Long, Int)].collect().toMap,
        "streamed vectors must route like the one-shot build")
      assert(graft.ops.Layout.ledgeredBatchIds(spark, s"$path/batches").size == 2)
    } finally q.stop()
  }

  test("streamingIvfSink with a maintenance policy compacts tombstones away mid-stream") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlC = spark.sqlContext
    val tmp = tempDir("graft_ivf_selfmx").toString
    val path = s"$tmp/idx"
    val (assigned, centroids) = Ann.buildIvfSampled(emb, nLists = 4)
    Ann.writeIvf(assigned.where(col("vec_id") < 450), centroids, path)
    // an out-of-band delete lands in the sidecar; the NEXT micro-batch's
    // policy pass must fold it physically (maxTombstones = 0: any dead
    // id makes compact due)
    Ann.deleteIvf(spark, path, Seq(7L, 11L))
    val policy = graft.ops.Layout.MaintenancePolicy(
      maxSegments = 1000, maxTombstones = 0, maxSmallFiles = 100000)
    val mem = MemoryStream[(Long, Array[Float], Int)]
    val q = graft.ops.CorpusPipeline.streamingIvfSink(
      mem.toDF().toDF("vec_id", "embedding", "label"), path, s"$tmp/ckpt",
      maintenance = Some(policy)).start()
    try {
      mem.addData(emb.where(col("vec_id") >= 450)
        .select("vec_id", "embedding", "label")
        .as[(Long, Array[Float], Int)].collect().toSeq: _*)
      q.processAllAvailable()
      val status = graft.ops.Layout.maintenanceDue(spark, path, policy, idCol = "vec_id")
      assert(status.tombstones == 0 && !status.compactDue,
        s"the sink must have compacted the sidecar away: $status")
      val (lists, _) = Ann.loadIvf(spark, path)
      val ids = lists.select("vec_id").as[Long].collect().toSet
      assert(!ids.contains(7L) && !ids.contains(11L), "dead ids physically purged")
      assert(ids.contains(499L), "the streamed batch survives the compact")
      assert(lists.count() == 498L) // 450 seed - 2 dead + 50 streamed
    } finally q.stop()
  }

  test("writeIvf rebuild clears the previous life's tombstones and batch ledger") {
    val (assigned, centroids) = Ann.buildIvfSampled(emb, nLists = 4)
    val path = tempDir("graft_ivf_rb").toString
    Ann.writeIvf(assigned, centroids, path)
    val top = exactTop10.head
    Ann.deleteIvf(spark, path, Seq(top))
    assert(Layout.ledgeredBatch(spark, s"$path/batches", 7L) {})
    // REBUILD at the same path: the new index must not inherit the old
    // delete (the top hit is alive again) nor the old batch ledger (a
    // replayed batch id applies against the fresh index)
    Ann.writeIvf(assigned, centroids, path)
    val (lists, cents) = Ann.loadIvf(spark, path)
    val got = Ann.ivfTopK(lists, cents, qv, 10, nProbe = 4)
      .select("vec_id").as[Long].collect().toSeq
    assert(got == exactTop10,
      s"rebuilt index must serve the once-deleted id $top: $got")
    assert(Layout.ledgeredBatchIds(spark, s"$path/batches").isEmpty,
      "the batches ledger must not survive a rebuild")
  }

  test("batch LSH ANN: recall@10 >= 0.9 vs exact batch kNN") {
    val (hashed, model) = Ann.fitLsh(emb, numHashTables = 16)
    val qs = emb.where($"vec_id".isin(3L, 7L, 11L))
      .select($"vec_id".as("query_id"), $"embedding".as("query_vec"))
    def byQuery(df: org.apache.spark.sql.DataFrame): Map[Long, Set[Long]] =
      df.select("query_id", "vec_id").as[(Long, Long)].collect()
        .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val approx = byQuery(Ann.lshTopKBatch(qs, hashed, model, 10))
    val exact = byQuery(Knn.topKBatch(qs, emb, 10, idCol = "vec_id"))
    val recalls = exact.map { case (q, ids) =>
      ids.count(approx.getOrElse(q, Set.empty).contains).toDouble / ids.size
    }
    val mean = recalls.sum / recalls.size
    assert(mean >= 0.9, s"mean recall=$mean per-query=$recalls")
  }

  test("cosinePairsRp: loose threshold triggers the exact-product fallback (result == exact)") {
    // the registered a3 configuration (minCos 0.4): slabs are wide, the
    // band self-join would materialize ~all pairs plus LSH overhead — the
    // selectivity probe must route to the exact product, making the result
    // EQUAL (not approximate) and the work strictly smaller
    val exact = Dedup.cosinePairsExact(emb, minCos = 0.4, maxExactRows = 1 << 20)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    val rp = Ann.cosinePairsRp(emb, minCos = 0.4)
    val got = rp.select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(got == exact, s"fallback output must equal the exact pairs; " +
      s"missing=${exact.diff(got).take(5)} extra=${got.diff(exact).take(5)}")
  }

  test("cosinePairsRp: banding branch (probe disabled) — recall >= 0.9, " +
    "exact precision, no cartesian") {
    val exact = Dedup.cosinePairsExact(emb, minCos = 0.4, maxExactRows = 1 << 20)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    val rp = Ann.cosinePairsRp(emb, minCos = 0.4, exactFallbackBar = 0.0)
    val got = rp.select("id_a", "id_b").as[(Long, Long)].collect().toSet
    // precision is exact by construction: every candidate is verified with
    // the true cosine, so the output must be a subset of the exact pairs
    assert(got.subsetOf(exact), s"false positives: ${got.diff(exact)}")
    val recall = if (exact.isEmpty) 1.0
      else got.count(exact.contains).toDouble / exact.size
    assert(recall >= 0.9, s"recall=$recall (${got.size}/${exact.size})")
    val plan = rp.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"),
      s"banded pairs join must not be all-pairs:\n${plan.take(2000)}")
  }

  test("cosinePairsRp: a table past maxExactRows keeps the banding branch") {
    // the scale gate: when the table cannot be the build side of a
    // broadcast product, the probe must short-circuit (ONE limit-count,
    // no mass aggregate) and band regardless of threshold
    val rp = Ann.cosinePairsRp(emb, minCos = 0.95, maxExactRows = 100)
    val plan = rp.queryExecution.executedPlan.toString
    assert(!plan.contains("BroadcastNestedLoopJoin") && !plan.contains("CartesianProduct"),
      s"past maxExactRows the banding branch is mandatory:\n${plan.take(2000)}")
    // and the pairs it does emit are verified-true pairs
    val exact = Dedup.cosinePairsExact(emb, minCos = 0.95, maxExactRows = 1 << 20)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    val got = rp.select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(got.subsetOf(exact))
  }

  test("batch LSH ANN dedups multi-band collisions: ranks are 1..k distinct ids") {
    val (hashed, model) = Ann.fitLsh(emb, numHashTables = 8)
    val qs = emb.where($"vec_id".isin(3L, 7L))
      .select($"vec_id".as("query_id"), $"embedding".as("query_vec"))
    val rows = Ann.lshTopKBatch(qs, hashed, model, 5)
      .select("query_id", "rank", "vec_id").as[(Long, Int, Long)].collect()
    rows.groupBy(_._1).foreach { case (q, hits) =>
      assert(hits.map(_._2).sorted.toSeq == (1 to hits.length),
        s"query $q ranks not contiguous: ${hits.toSeq}")
      assert(hits.map(_._3).distinct.length == hits.length,
        s"query $q returned duplicate ids: ${hits.toSeq}")
    }
  }

  test("RP-LSH batch: decent recall, narrow probe plan, deterministic") {
    val qs = emb.where($"vec_id".isin(3L, 7L, 11L))
      .select($"vec_id".as("query_id"), $"embedding".as("query_vec"))
    def byQuery(df: org.apache.spark.sql.DataFrame): Map[Long, Set[Long]] =
      df.select("query_id", "vec_id").as[(Long, Long)].collect()
        .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val rp = Ann.rpTopKBatch(qs, emb, 10, nTables = 16, nProjs = 2, width = 1.0)
    val approx = byQuery(rp)
    val exact = byQuery(Knn.topKBatch(qs, emb, 10, idCol = "vec_id"))
    val recalls = exact.map { case (q, ids) =>
      ids.count(approx.getOrElse(q, Set.empty).contains).toDouble / ids.size
    }
    val mean = recalls.sum / recalls.size
    assert(mean >= 0.8, s"mean recall=$mean per-query=$recalls")
    // deterministic: same seed, same result
    val again = byQuery(Ann.rpTopKBatch(qs, emb, 10, nTables = 16, nProjs = 2, width = 1.0))
    assert(approx == again)
    // plan: broadcast probe joins, no cartesian, heap aggregate
    val plan = rp.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), s"no broadcast hash join:\n$plan")
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"),
      s"must never degrade to all-pairs:\n$plan")
    assert(plan.contains("ObjectHashAggregate"), s"no heap aggregate:\n$plan")
  }

  test("rpTopKBatch refuses precomputed bands with mismatched quantization") {
    val qs = emb.where($"vec_id" === 7L)
      .select($"vec_id".as("query_id"), $"embedding".as("query_vec"))
    val bands = Ann.rpIndexBands(emb, nTables = 4, nProjs = 2, width = 1.0)
    val e = intercept[IllegalArgumentException] {
      Ann.rpTopKBatch(qs, emb, 5, nTables = 8, nProjs = 2, width = 1.0,
        indexBands = Some(bands))
    }
    assert(e.getMessage.contains("nTables"))
  }

  test("batch IVF with all lists probed equals exact batch kNN") {
    val (assigned, centroids) = Ann.buildIvf(emb, nLists = 4)
    val qs = emb.where($"vec_id".isin(3L, 7L, 11L))
      .select($"vec_id".as("query_id"), $"embedding".as("query_vec"))
    val got = Ann.ivfTopKBatch(assigned, centroids, qs, 10, nProbe = 4)
      .select("query_id", "rank", "vec_id").as[(Long, Int, Long)]
      .collect().sortBy(r => (r._1, r._2)).toSeq
    val exact = Knn.topKBatch(qs, emb, 10, idCol = "vec_id")
      .select("query_id", "rank", "vec_id").as[(Long, Int, Long)]
      .collect().sortBy(r => (r._1, r._2)).toSeq
    assert(got == exact)
  }

  test("batch ANN plan audit: broadcast probe joins, bounded-heap agg, no blowups") {
    val qs = emb.where($"vec_id".isin(3L, 7L))
      .select($"vec_id".as("query_id"), $"embedding".as("query_vec"))
    val (hashed, model) = Ann.fitLsh(emb, numHashTables = 4)
    val lshPlan = Ann.lshTopKBatch(qs, hashed, model, 5)
      .queryExecution.executedPlan.toString
    // the candidate join must be a hash join on (band, bucket) with the
    // query side broadcast — the index never shuffles for the join
    assert(lshPlan.contains("BroadcastHashJoin"), s"no broadcast hash join:\n$lshPlan")
    assert(!lshPlan.contains("CartesianProduct") &&
      !lshPlan.contains("BroadcastNestedLoopJoin"),
      s"batch LSH must never degrade to all-pairs:\n$lshPlan")
    // top-k via the bounded-heap aggregate (object hash agg), not a sort
    assert(lshPlan.contains("ObjectHashAggregate"), s"no heap aggregate:\n$lshPlan")

    val (assigned, cents) = Ann.buildIvf(emb, nLists = 4)
    val ivfPlan = Ann.ivfTopKBatch(assigned, cents, qs, 5, nProbe = 2)
      .queryExecution.executedPlan.toString
    // candidates come from a broadcast hash join on centroid_id; the only
    // nested-loop join allowed is the |queries| × nLists probe ranking
    assert(ivfPlan.contains("BroadcastHashJoin"), s"no broadcast hash join:\n$ivfPlan")
    assert(ivfPlan.contains("ObjectHashAggregate"), s"no heap aggregate:\n$ivfPlan")
  }

  test("IVF probing fewer lists keeps decent recall and prunes work") {
    val (assigned, centroids) = Ann.buildIvf(emb, nLists = 8)
    val got = Ann.ivfTopK(assigned, centroids, qv, 10, nProbe = 2)
      .select("vec_id").as[Long].collect().toSet
    val recall = exactTop10.count(got.contains).toDouble / 10
    assert(recall >= 0.5, s"recall=$recall")
    assert(assigned.select("centroid_id").distinct().count() > 2)
  }

  test("knnJoinExact: every row gets k ranked neighbors, never itself") {
    val joined = Ann.knnJoinExact(emb, k = 3)
    val rows = joined.collect()
    val n = emb.count()
    assert(rows.length == n * 3, s"expected ${n * 3} rows, got ${rows.length}")
    assert(rows.forall(r => r.getLong(0) != r.getLong(2)), "self in neighbor list")
    // per-query ranks are exactly 1..3 with nondecreasing distance
    rows.groupBy(_.getLong(0)).foreach { case (q, rs) =>
      val sorted = rs.sortBy(_.getInt(1))
      assert(sorted.map(_.getInt(1)).toSeq == Seq(1, 2, 3), s"ranks for $q")
      val d = sorted.map(_.getDouble(3))
      assert(d(0) <= d(1) && d(1) <= d(2), s"distances unordered for $q")
    }
  }

  test("knnJoinExact matches the window-rank formulation exactly") {
    val viaJoin = Ann.knnJoinExact(emb, k = 2)
      .select("query_id", "rank", "vec_id").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    val q = emb.select(col("vec_id").as("query_id"),
      col("embedding").as("query_vec"))
    val viaWindow = graft.search.Knn.topKBatchWindow(q, emb, 3, idCol = "vec_id")
      .where(col("vec_id") =!= col("query_id")) // window keeps self at rank 1
      .withColumn("rank", row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy("query_id").orderBy(col("dist"), col("vec_id"))))
      .where(col("rank") <= 2)
      .select("query_id", "rank", "vec_id").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    assert(viaJoin == viaWindow)
  }

  test("knnJoinExact refuses past maxExactRows") {
    intercept[IllegalArgumentException] {
      Ann.knnJoinExact(emb, k = 3, maxExactRows = 10)
    }
  }

  test("knnJoinRp: recall >= 0.8 vs exact, no cartesian, deterministic") {
    val exact = Ann.knnJoinExact(emb, k = 3)
      .select("query_id", "vec_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val rp = Ann.knnJoinRp(emb, k = 3, nTables = 12, nProjs = 2, width = 4.0)
    val got = rp.select("query_id", "vec_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = exact.count(got.contains).toDouble / exact.size
    assert(recall >= 0.8, s"recall=$recall")
    val plan = rp.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"), "banded join must not cross")
    assert(plan.contains("partial_topk_by_dist"), "heap agg must be partial")
    val got2 = Ann.knnJoinRp(emb, k = 3, nTables = 12, nProjs = 2, width = 4.0)
      .select("query_id", "vec_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == got2, "banded kNN join must be deterministic")
  }

  test("majorityVote: hand-checked votes, ties to the smallest label") {
    val hits = Seq(
      (0L, 10L, 1), (0L, 11L, 2), (0L, 12L, 3), // labels 7, 7, 9 -> 7
      (1L, 10L, 1), (1L, 12L, 2) //                labels 7, 9 tie -> 7
    ).toDF("query_id", "vec_id", "rank")
    val labels = Seq((10L, 7), (11L, 7), (12L, 9)).toDF("vec_id", "label")
    val got = Ann.majorityVote(hits, labels)
      .collect().map(r => r.getLong(0) -> (r.getInt(1), r.getLong(2))).toMap
    assert(got == Map(0L -> (7, 2L), 1L -> (7, 1L)))
  }

  test("majorityVote over the exact batch path labels the fixture sanely") {
    val qs = emb.where(col("vec_id") % 5 === 0)
      .select(col("vec_id").as("query_id"), col("embedding").as("query_vec"))
    val index = emb.where(col("vec_id") % 5 =!= 0)
    val hits = Knn.topKBatch(qs, index, 5, idCol = "vec_id")
    val preds = Ann.majorityVote(hits, index.select("vec_id", "label"))
    assert(preds.count() == qs.count(), "exactly one prediction per query")
    // votes are bounded by k and at least ceil(k / #distinct-labels) > 0
    assert(preds.agg(org.apache.spark.sql.functions.max("votes")).head.getLong(0) <= 5)
  }

  test("flat rpBandKey is bit-identical to the interpreted HOF twin") {
    // the round-9 unroll (driver-computed coefficients inlined as
    // literals, fold-left from 0.0) must reproduce the
    // aggregate(zip_with(...)) formulation EXACTLY — the a6/a3 goldens
    // rest on it. Swept across tables, projection counts and widths.
    val dims = emb.select(org.apache.spark.sql.functions.size($"embedding"))
      .head().getInt(0)
    for (t <- Seq(0, 3, 11); nProjs <- Seq(1, 3); width <- Seq(0.5, 1.0)) {
      val diverged = emb.select(
        Ann.rpBandKey($"embedding", dims, t, nProjs, width).as("flat"),
        Ann.rpBandKeyHof($"embedding", t, nProjs, width).as("hof"))
        .where(!($"flat" <=> $"hof")).count()
      assert(diverged == 0, s"t=$t nProjs=$nProjs width=$width")
    }
  }

  test("codegen vector_norm / unit_vector / dot_product_d equal the HOF folds bitwise") {
    import graft.functions.VectorFunctions
    val hofNorm = sqrt(aggregate(
      transform($"embedding", x => x.cast("double") * x.cast("double")),
      lit(0.0), (a, b) => a + b))
    assert(emb.select(VectorFunctions.vectorNorm($"embedding").as("a"),
        hofNorm.as("b")).where(!($"a" <=> $"b")).count() == 0,
      "vector_norm diverged from the fold")
    val hofUnit = transform($"embedding", x => x.cast("double") / hofNorm)
    assert(emb.where(VectorFunctions.vectorNorm($"embedding") > 0)
        .select(VectorFunctions.unitVector($"embedding").as("a"), hofUnit.as("b"))
        .where(!($"a" <=> $"b")).count() == 0,
      "unit_vector diverged from the transform")
    // dot over unit pairs: compare against the zip_with fold on a small
    // cross of unit vectors
    val u = emb.limit(20)
      .select($"vec_id", VectorFunctions.unitVector($"embedding").as("u"))
    val pairs = u.select($"vec_id".as("ia"), $"u".as("ua"))
      .crossJoin(u.select($"vec_id".as("ib"), $"u".as("ub")))
    assert(pairs.select(
        VectorFunctions.dotProductD($"ua", $"ub").as("a"),
        aggregate(zip_with($"ua", $"ub", _ * _), lit(0.0), (x, y) => x + y).as("b"))
        .where(!($"a" <=> $"b")).count() == 0,
      "dot_product_d diverged from the zip_with fold")
  }

  test("knnJoinRp hot-bucket guard drops degenerate buckets, not the job") {
    // identical vectors: every row lands in one bucket per table
    val dup = Seq.tabulate(40)(i => (i.toLong, Array.fill(8)(1.0f)))
      .toDF("vec_id", "embedding")
    val out = Ann.knnJoinRp(dup, k = 2, nTables = 2, nProjs = 2,
      width = 1.0, maxBucketSize = 10)
    assert(out.count() == 0, "all buckets hot -> no candidates, no blowup")
  }
}
