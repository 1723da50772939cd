package graft.ops

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Sharded HNSW: recall vs exact kNN, determinism / partition invariance,
  * at-rest round-trip equivalence, segment appends, edge cases.
  */
class HnswSpec extends SparkSpec {
  import spark.implicits._

  private val dims = 16

  // deterministic clustered vectors (32 planted clusters), 600 rows
  private def vecs(rows: Int, seedOff: Int) =
    spark.range(rows).select(
      col("id").as("vec_id"),
      transform(sequence(lit(0), lit(dims - 1)),
        i => ((pmod(xxhash64(pmod(col("id"), lit(32)), i), lit(1000)) / 1000.0) +
          (pmod(xxhash64(col("id") + seedOff, i), lit(100)) / 100.0 - 0.5) * 0.1)
          .cast("float").as("x")).as("embedding"))

  private lazy val emb = vecs(600, 99).cache()
  private lazy val qs = emb.where(col("vec_id").isin(3, 77, 191, 404))
    .select(col("vec_id").as("query_id"), col("embedding").as("query_vec"))

  private def exactTopK(k: Int) = {
    val scored = emb.crossJoin(
      qs.select(col("query_id"), col("query_vec")))
      .withColumn("dist",
        graft.functions.VectorFunctions.l2Distance(col("embedding"), col("query_vec")))
      .select(col("query_id"), col("vec_id"), col("dist"))
    Ann.finishTopK(scored, k, "query_id", "vec_id")
      .select(col("query_id"), col("vec_id"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
  }

  test("recall@10 vs exact kNN is >= 0.9 on clustered data") {
    val exact = exactTopK(10)
    val got = Hnsw.hnswTopKBatch(qs, emb, 10,
      Hnsw.Params(m = 8, efConstruction = 80, efSearch = 64, numShards = 4))
      .select(col("query_id"), col("vec_id"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = got.intersect(exact).size.toDouble / exact.size
    assert(recall >= 0.9, s"recall $recall")
    assert(got.size == exact.size, "every query must receive a full k list")
  }

  test("deterministic and partition-count invariant (the a12 pin premise)") {
    val p = Hnsw.Params(numShards = 3)
    def run(parts: Int) =
      Hnsw.hnswTopKBatch(qs, emb.repartition(parts), 5, p)
        .orderBy("query_id", "rank")
        .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSeq
    assert(run(1) == run(7) && run(7) == run(4))
  }

  test("at-rest probe returns exactly the transient build's results") {
    val path = tempDir("graft_hnsw").toString + "/idx"
    val p = Hnsw.Params(m = 8, efConstruction = 80, efSearch = 64, numShards = 4)
    Hnsw.write(emb, path, p)
    val transient =
      Hnsw.hnswTopKBatch(qs, emb, 10, p).orderBy("query_id", "rank").collect().toSeq
    val probed =
      Hnsw.probe(spark, path, qs, 10).orderBy("query_id", "rank").collect().toSeq
    assert(probed == transient,
      "adjacency round-trip must be value-invisible")
  }

  test("append adds new segments: new ids reachable, old results unchanged") {
    val path = tempDir("graft_hnsw_app").toString + "/idx"
    val p = Hnsw.Params(m = 8, efConstruction = 80, efSearch = 64, numShards = 2)
    Hnsw.write(emb, path, p)
    val before = Hnsw.probe(spark, path, qs, 5)
      .orderBy("query_id", "rank").collect().toSeq

    // duplicate vec 77 under a fresh id — after append it must tie its twin
    val twin = emb.where(col("vec_id") === 77)
      .select((col("vec_id") + 10000).as("vec_id"), col("embedding"))
    Hnsw.append(spark, twin, path)

    val q77 = qs.where(col("query_id") === 77)
    val after = Hnsw.probe(spark, path, q77, 2).collect()
      .map(r => r.getLong(2)).toSet
    assert(after == Set(77L, 10077L), s"twin must surface, got $after")

    // a query far from the appended vector is unaffected
    val q3before = before.filter(_.getLong(0) == 3L)
    val q3after = Hnsw.probe(spark, path, qs.where(col("query_id") === 3), 5)
      .orderBy("query_id", "rank").collect().toSeq
    assert(q3after == q3before)
  }

  test("mergeSegments: tail shards fold into one generation, exact under exhaustive beam") {
    val path = tempDir("graft_hnsw_mrg").toString + "/idx"
    // exhaustive beam (efSearch >= total population) => probe is exact
    // kNN regardless of graph structure — the a12/a13 oracle regime, so
    // merge must be BIT-invisible here
    val p = Hnsw.Params(m = 8, efConstruction = 80, efSearch = 2048, numShards = 2)
    Hnsw.write(emb.where(col("vec_id") < 450), path, p)
    (0 until 3).foreach { b =>
      Hnsw.append(spark, emb.where(col("vec_id") >= 450 + b * 50 &&
        col("vec_id") < 500 + b * 50), path)
    }
    val shards0 = spark.read.parquet(s"$path/segments")
      .select("shard").distinct().count().toInt
    assert(shards0 == 8, s"expected 2 seed + 3x2 append shards, got $shards0")
    val before = Hnsw.probe(spark, path, qs, 10)
      .orderBy("query_id", "rank").collect().toSeq

    val (b8, after) = Hnsw.mergeSegments(spark, path, targetShards = 4)
    assert(b8 == 8 && after <= 4, s"expected 8 -> <=4 shards, got $b8 -> $after")
    // the two big seed shards must survive untouched (smallest-first law)
    val remaining = spark.read.parquet(s"$path/segments")
      .select(col("shard").cast("int")).distinct().as[Int].collect().toSet
    assert(remaining.contains(0) && remaining.contains(1),
      s"seed shards must survive unmerged: $remaining")
    val afterRows = Hnsw.probe(spark, path, qs, 10)
      .orderBy("query_id", "rank").collect().toSeq
    assert(afterRows == before, "merge changed exhaustive-beam results")
    // below target: no-op
    assert(Hnsw.mergeSegments(spark, path, targetShards = 4) == ((after, after)))
    // a target below numShards can never converge (each merge emits up
    // to numShards fresh graphs): loud refusal, not an eternal rewrite
    val e = intercept[IllegalArgumentException] {
      Hnsw.mergeSegments(spark, path, targetShards = 1)
    }
    assert(e.getMessage.contains("cannot converge"))
    // deletes compose through a merged generation
    val top = before.head.getLong(2)
    Hnsw.delete(spark, path, Seq(top))
    val hits = Hnsw.probe(spark, path, qs, 10)
      .select("vec_id").as[Long].collect().toSet
    assert(!hits.contains(top), "tombstone must exclude through merged shards")
  }

  test("mergeSegments on a routed index keeps the cell-alignment law") {
    val path = tempDir("graft_hnsw_mrgr").toString + "/idx"
    val p = Hnsw.Params(m = 8, efConstruction = 80, efSearch = 2048, numShards = 4)
    Hnsw.writeRouted(emb.where(col("vec_id") < 500), path, p)
    (0 until 2).foreach { b =>
      Hnsw.append(spark, emb.where(col("vec_id") >= 500 + b * 50 &&
        col("vec_id") < 550 + b * 50), path)
    }
    val before = Hnsw.probeRouted(spark, path, qs, 10, nProbe = 4)
      .orderBy("query_id", "rank").collect().toSeq
    // nProbe=1 walks ONE cell — its results depend on cell membership,
    // so it pins that merge re-routes vectors onto the same cells
    val before1 = Hnsw.probeRouted(spark, path, qs, 10, nProbe = 1)
      .orderBy("query_id", "rank").collect().toSeq
    val (b0, a0) = Hnsw.mergeSegments(spark, path, targetShards = 6)
    assert(a0 < b0, s"merge must shrink the shard count: $b0 -> $a0")
    // exhaustive nProbe + exhaustive beam: still exact, so bit-identical
    val afterRows = Hnsw.probeRouted(spark, path, qs, 10, nProbe = 4)
      .orderBy("query_id", "rank").collect().toSeq
    assert(afterRows == before, "routed merge changed exhaustive results")
    val after1 = Hnsw.probeRouted(spark, path, qs, 10, nProbe = 1)
      .orderBy("query_id", "rank").collect().toSeq
    assert(after1 == before1, "merge must keep the cell-alignment law")
  }

  test("single-query hnswTopK: self is rank 1 at distance 0") {
    val q = emb.where(col("vec_id") === 191)
      .select("embedding").head.getSeq[Float](0).toArray
    val top = Hnsw.hnswTopK(emb, q, 3).collect()
    assert(top.head.getLong(0) == 191L)
    assert(top.head.getDouble(1) == 0.0)
    assert(top.length == 3)
  }

  test("tiny shards and k > shard size degrade gracefully") {
    val small = vecs(6, 99)
    val out = Hnsw.hnswTopKBatch(
      small.select(col("vec_id").as("query_id"), col("embedding").as("query_vec")),
      small, 10, Hnsw.Params(numShards = 4))
    // every vector exists somewhere: k capped by corpus size, not by shard
    val counts = out.groupBy("query_id").count().collect().map(_.getLong(1)).toSet
    assert(counts == Set(6L), s"expected all 6 per query, got $counts")
  }

  test("a12 oracle premise: exact vs brute force on the sf0.001 fixture") {
    // the a12/a13 DuckDB oracle is brute force; this pins the premise that
    // at efSearch=200 >= any shard's population the walk returns the exact
    // top-5 on the real fixture (not just the synthetic corpus above)
    val fx = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val fq = fx.where(col("vec_id").isin(3, 7, 11))
      .select(col("vec_id").as("query_id"), col("embedding").as("query_vec"))
    val scored = fx.crossJoin(fq)
      .withColumn("dist",
        graft.functions.VectorFunctions.l2Distance(col("embedding"), col("query_vec")))
      .select(col("query_id"), col("vec_id"), col("dist"))
    val exact = Ann.finishTopK(scored, 5, "query_id", "vec_id")
      .orderBy("query_id", "rank")
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSeq
    val got = Hnsw.hnswTopKBatch(fq, fx, 5,
      Hnsw.Params(m = 8, efConstruction = 80, efSearch = 200, numShards = 4))
      .orderBy("query_id", "rank")
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSeq
    assert(got == exact)
  }

  test("routed: nProbe=all with exhaustive ef is exact; nProbe=1 recalls the cluster") {
    val path = tempDir("graft_hnsw_rt").toString + "/idx"
    val p = Hnsw.Params(m = 8, efConstruction = 80, efSearch = 400, numShards = 4)
    Hnsw.writeRouted(emb, path, p)
    val exact = exactTopK(10)
    // all shards probed + ef >= any shard population => exact, the a14 law
    val all = Hnsw.probeRouted(spark, path, qs, 10, nProbe = 4)
      .select(col("query_id"), col("vec_id"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(all == exact, "nProbe=all must equal brute force at exhaustive ef")
    // clustered data: the single nearest cell holds most true neighbors
    val one = Hnsw.probeRouted(spark, path, qs, 10, nProbe = 1)
      .select(col("query_id"), col("vec_id"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = one.intersect(exact).size.toDouble / exact.size
    assert(recall >= 0.8, s"nProbe=1 recall $recall")
  }

  test("routed probe scans only the routed shard directories") {
    val path = tempDir("graft_hnsw_pr").toString + "/idx"
    Hnsw.writeRouted(emb, path, Hnsw.Params(numShards = 4))
    val q1 = qs.where(col("query_id") === 3)
    val out = Hnsw.probeRouted(spark, path, q1, 5, nProbe = 1)
    val scan = out.queryExecution.executedPlan.toString
    // partition pruning: the parquet scan's partition filter pins shard
    assert(scan.linesIterator.exists(l =>
      l.contains("PartitionFilters") && l.contains("shard")), scan.take(800))
    assert(out.count() == 5)
  }

  test("compact merges append segments back to the canonical shard count") {
    val path = tempDir("graft_hnsw_cp").toString + "/idx"
    val p = Hnsw.Params(m = 8, efConstruction = 80, efSearch = 400, numShards = 2)
    Hnsw.write(emb.where(col("vec_id") < 300), path, p)
    Hnsw.append(spark, emb.where(col("vec_id") >= 300 && col("vec_id") < 450), path)
    Hnsw.append(spark, emb.where(col("vec_id") >= 450), path)
    val preCompact = Hnsw.probe(spark, path, qs, 10)
      .orderBy("query_id", "rank").collect().toSeq
    val (before, after) = Hnsw.compact(spark, path)
    assert(before == 6 && after == 2, s"expected 6 -> 2 segments, got $before -> $after")
    val postCompact = Hnsw.probe(spark, path, qs, 10)
      .orderBy("query_id", "rank").collect().toSeq
    // exhaustive ef: both probes are exact, so the view must be identical
    assert(postCompact == preCompact, "compaction must not change the active view")
  }

  test("compact swap: stale __old crash leftover is cleaned, view stays intact") {
    val path = tempDir("graft_hnsw_sw").toString + "/idx"
    val p = Hnsw.Params(m = 8, efConstruction = 80, efSearch = 400, numShards = 2)
    Hnsw.write(emb.where(col("vec_id") < 300), path, p)
    Hnsw.append(spark, emb.where(col("vec_id") >= 300), path)
    val pre = Hnsw.probe(spark, path, qs, 10).orderBy("query_id", "rank").collect().toSeq
    // simulate the crash-leftover of an earlier rename-aside swap: a stale
    // segments.__old directory must be dropped, never resurrected
    val stale = new java.io.File(s"$path/segments.__old/junk")
    stale.getParentFile.mkdirs()
    java.nio.file.Files.writeString(stale.toPath, "stale")
    Hnsw.compact(spark, path)
    assert(!new java.io.File(s"$path/segments.__old").exists(),
      "stale __old dir must be cleaned by the swap")
    assert(!new java.io.File(s"$path/segments.__compact").exists())
    val post = Hnsw.probe(spark, path, qs, 10).orderBy("query_id", "rank").collect().toSeq
    assert(post == pre, "swap must leave the active view probe-identical")
  }

  test("routed append: new vectors visible to routed probes BEFORE any compact") {
    val path = tempDir("graft_hnsw_rta").toString + "/idx"
    val p = Hnsw.Params(m = 8, efConstruction = 80, efSearch = 400, numShards = 4)
    Hnsw.writeRouted(emb.where(col("vec_id") < 500), path, p)
    // append a twin of vector 77 under a new id — it must route to 77's
    // cell and surface at nProbe=1 immediately (round-6 regression: hash
    // sharding put appended segments outside every routed cell)
    val twin = emb.where(col("vec_id") === 77)
      .select((col("vec_id") + 20000).as("vec_id"), col("embedding"))
    Hnsw.append(spark, twin, path)
    val q77 = qs.where(col("query_id") === 77)
    val top2 = Hnsw.probeRouted(spark, path, q77, 2, nProbe = 1)
      .collect().map(_.getLong(2)).toSet
    assert(top2 == Set(77L, 20077L), s"appended twin must surface, got $top2")
    // segment ids stay cell-aligned: shard mod numShards == centroid id
    val shards = spark.read.parquet(s"$path/segments")
      .select(col("shard").cast("int")).distinct().collect().map(_.getInt(0))
    assert(shards.exists(_ >= 4), "append must create NEW segment generations")
    // nProbe=all across generations: every query still gets its full k
    // and the appended twin ties its original at the top for query 77
    val all = Hnsw.probeRouted(spark, path, qs, 10, nProbe = 4)
    val counts = all.groupBy("query_id").count().collect()
      .map(_.getLong(1)).toSet
    assert(counts == Set(10L), s"full k across generations, got $counts")
    val top77 = all.where(col("query_id") === 77)
      .orderBy("rank").limit(2).collect().map(_.getLong(2)).toSet
    assert(top77 == Set(77L, 20077L))
  }

  test("compact re-routes through the persisted router on a routed index") {
    val path = tempDir("graft_hnsw_cpr").toString + "/idx"
    val p = Hnsw.Params(m = 8, efConstruction = 80, efSearch = 400, numShards = 4)
    Hnsw.writeRouted(emb.where(col("vec_id") < 500), path, p)
    Hnsw.append(spark, emb.where(col("vec_id") >= 500), path)
    val (before, after) = Hnsw.compact(spark, path)
    assert(before > 4 && after <= 4, s"got $before -> $after")
    // routed probing still prunes and the full-probe view stays exact
    val exact = exactTopK(10)
    val got = Hnsw.probeRouted(spark, path, qs, 10, nProbe = 4)
      .select(col("query_id"), col("vec_id"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == exact)
  }

  test("appendBatch is idempotent per batch id; duplicate segments never duplicate hits") {
    val path = tempDir("graft_hnsw_ab").toString + "/idx"
    val p = Hnsw.Params(m = 8, efConstruction = 80, efSearch = 400, numShards = 2)
    Hnsw.write(emb.where(col("vec_id") < 500), path, p)
    val batch = emb.where(col("vec_id") >= 500)
    assert(Hnsw.appendBatch(spark, batch, path, batchId = 1L))
    val segs = spark.read.parquet(s"$path/segments").count()
    // replay of the SAME batch id: no-op
    assert(!Hnsw.appendBatch(spark, batch, path, batchId = 1L))
    assert(spark.read.parquet(s"$path/segments").count() == segs)
    // the st16 physical-duplication law, asserted HERE instead of inside
    // the benched registration (the p20 lesson): after a replayed
    // delivery the graph holds exactly one node row per vector id
    val nodes = spark.read.parquet(s"$path/segments")
      .agg(count(lit(1)).as("n"), countDistinct(col("id")).as("d")).head
    assert(nodes.getLong(0) == nodes.getLong(1),
      s"replayed HNSW batch duplicated segments: ${nodes.getLong(0)} node " +
        s"rows over ${nodes.getLong(1)} distinct ids")
    // simulate the crash window: the same segment rows appended WITHOUT a
    // ledger row (batch 2 re-adds batch 1's vectors) — a probe must still
    // list each id once, at its true rank
    assert(Hnsw.appendBatch(spark, batch, path, batchId = 2L))
    val hits = Hnsw.probe(spark, path, qs, 10).collect()
    assert(hits.length == 4 * 10)
    val perQuery = hits.groupBy(_.getLong(0)).values
    assert(perQuery.forall(h => h.map(_.getLong(2)).distinct.length == h.length),
      "duplicate segments must not produce duplicate hits")
    // compact folds the duplicated rows away entirely
    Hnsw.compact(spark, path)
    val ids = spark.read.parquet(s"$path/segments").select("id")
    assert(ids.count() == ids.distinct().count())
  }

  test("streamingHnswSink: micro-batches append segments exactly once") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlC = spark.sqlContext
    val tmp = tempDir("graft_hnsw_sink").toString
    val path = s"$tmp/idx"
    val p = Hnsw.Params(m = 8, efConstruction = 80, efSearch = 400, numShards = 2)
    Hnsw.write(emb.where(col("vec_id") < 550), path, p)
    val mem = MemoryStream[(Long, Array[Float])]
    val q = CorpusPipeline.streamingHnswSink(
      mem.toDF().toDF("vec_id", "embedding"), path, s"$tmp/ckpt").start()
    try {
      val late = emb.where(col("vec_id") >= 550)
        .collect().map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
      mem.addData(late.take(25).toIndexedSeq)
      q.processAllAvailable()
      mem.addData(late.drop(25).toIndexedSeq)
      q.processAllAvailable()
      // the streamed vectors are live: probing for one of them finds it
      val probe = emb.where(col("vec_id") === 580)
        .select(col("vec_id").as("query_id"), col("embedding").as("query_vec"))
      val top = Hnsw.probe(spark, path, probe, 1).head
      assert(top.getLong(2) == 580L && top.getDouble(3) == 0.0)
      assert(graft.ops.Layout.ledgeredBatchIds(spark, s"$path/batches").size == 2)
    } finally q.stop()
  }

  test("streamingHnswSink with a maintenance policy folds shard generations") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlC = spark.sqlContext
    val tmp = tempDir("graft_hnsw_selfmx").toString
    val path = s"$tmp/idx"
    val p = Hnsw.Params(m = 8, efConstruction = 80, efSearch = 400, numShards = 2)
    Hnsw.write(emb.where(col("vec_id") < 550), path, p)
    // each appended micro-batch adds numShards fresh graphs; the policy
    // folds back toward max(maxSegments, numShards)
    val policy = graft.ops.Layout.MaintenancePolicy(
      maxSegments = 3, maxTombstones = 1L << 20, maxSmallFiles = 100000)
    val mem = MemoryStream[(Long, Array[Float])]
    val q = CorpusPipeline.streamingHnswSink(
      mem.toDF().toDF("vec_id", "embedding"), path, s"$tmp/ckpt",
      maintenance = Some(policy)).start()
    try {
      val late = emb.where(col("vec_id") >= 550)
        .collect().map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
      mem.addData(late.take(25).toIndexedSeq)
      q.processAllAvailable()
      mem.addData(late.drop(25).toIndexedSeq)
      q.processAllAvailable()
      val status = graft.ops.Layout.maintenanceDue(spark, path, policy)
      assert(status.segments <= 3,
        s"the sink must have folded its shard generations: $status")
      // exhaustive-beam probe: every vector, seed or streamed, still found
      val probe = emb.where(col("vec_id") === 580)
        .select(col("vec_id").as("query_id"), col("embedding").as("query_vec"))
      val top = Hnsw.probe(spark, path, probe, 1).head
      assert(top.getLong(2) == 580L && top.getDouble(3) == 0.0)
    } finally q.stop()
  }

  test("delete hides ids with full k, compact purges, re-append revives") {
    val path = tempDir("graft_hnsw_del").toString + "/idx"
    val p = Hnsw.Params(m = 8, efConstruction = 80, efSearch = 400, numShards = 2)
    Hnsw.write(emb, path, p)
    val exact = exactTopK(10)
    // exact top-13 baseline (exhaustive ef), then delete the top hit of
    // query 77 (itself) plus two of its neighbors — ranks 8-10 must
    // backfill from the 11th-13th nearest
    val q77exact13 = Hnsw.probe(spark, path, qs.where(col("query_id") === 77), 13)
      .orderBy("rank").collect().map(_.getLong(2))
    val q77exact = q77exact13.take(10)
    val dead = q77exact.take(3)
    Hnsw.delete(spark, path, dead.toSeq)
    val hits = Hnsw.probe(spark, path, qs.where(col("query_id") === 77), 10)
      .orderBy("rank").collect().map(_.getLong(2))
    assert(hits.length == 10, "k must stay filled past the deletions")
    assert(hits.toSet.intersect(dead.toSet).isEmpty, "deleted ids must not surface")
    // exhaustive ef: the post-delete view is exactly the exact view minus dead
    assert(hits.toSeq == q77exact13.filterNot(dead.contains).take(10).toSeq)
    // compact purges the rows and the sidecar
    Hnsw.compact(spark, path)
    assert(!new java.io.File(s"$path/_tombstones").exists())
    val idsAtRest = spark.read.parquet(s"$path/segments")
      .select("id").collect().map(_.getLong(0)).toSet
    assert(dead.forall(!idsAtRest.contains(_)), "compact must purge dead rows")
    // re-append after compact revives
    Hnsw.append(spark, emb.where(col("vec_id").isin(dead.map(Long.box).toSeq: _*)), path)
    val revived = Hnsw.probe(spark, path, qs.where(col("query_id") === 77), 10)
      .orderBy("rank").collect().map(_.getLong(2))
    assert(revived.toSeq == q77exact.take(10).toSeq,
      "post-revive view must equal the original exact view")
    // routed probe honors tombstones too
    val rpath = tempDir("graft_hnsw_delr").toString + "/idx"
    Hnsw.writeRouted(emb, rpath, p)
    Hnsw.delete(spark, rpath, Seq(77L))
    val rhits = Hnsw.probeRouted(spark, rpath, qs.where(col("query_id") === 77), 5, nProbe = 4)
      .collect().map(_.getLong(2)).toSet
    assert(!rhits.contains(77L) && rhits.size == 5)
  }

  test("levels follow the geometric law: most nodes at level 0, few high") {
    // indirect but structural: a corpus of 600 with m=8 should produce a
    // multi-level graph whose stored max level is small (< 8) and whose
    // level-0 population dominates
    val path = tempDir("graft_hnsw_lvl").toString + "/idx"
    Hnsw.write(emb, path, Hnsw.Params(numShards = 1))
    val levels = spark.read.parquet(s"$path/segments")
      .groupBy("level").count().collect()
      .map(r => (r.getInt(0), r.getLong(1))).toMap
    assert(levels.keys.max < 8, s"suspicious max level ${levels.keys.max}")
    assert(levels(0).toDouble / levels.values.sum > 0.7,
      s"level-0 share ${levels(0).toDouble / levels.values.sum}")
    // link caps respected at rest: per-layer adjacency <= 2m
    val overCap = spark.read.parquet(s"$path/segments")
      .select(explode(col("links")).as("nbrs"))
      .where(size(col("nbrs")) > 16).count()
    assert(overCap == 0, "layer adjacency exceeds 2m")
  }
}
