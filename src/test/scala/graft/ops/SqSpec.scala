package graft.ops

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** SQ8 scalar quantization: quantization error bounds, shortlist recall
  * vs the exact path (the a9 oracle's premise), determinism, plan shape.
  */
class SqSpec extends SparkSpec {
  import spark.implicits._

  private val dims = 16
  private lazy val emb = {
    // deterministic clustered vectors, 400 rows
    spark.range(400).select(
      col("id").as("vec_id"),
      transform(sequence(lit(0), lit(dims - 1)),
        i => ((pmod(xxhash64(pmod(col("id"), lit(32)), i), lit(1000)) / 1000.0) +
          (pmod(xxhash64(col("id") + 99, i), lit(100)) / 100.0 - 0.5) * 0.1)
          .cast("float").as("x")).as("embedding"))
  }

  test("encode/decode roundtrip error is bounded by scale/2 per dimension") {
    val model = Sq.fitBounds(emb)
    assert(model.dims == dims)
    val codes = Sq.encode(emb, model)
    val joined = emb.join(codes, "vec_id").collect()
    val scales = model.scales
    joined.foreach { r =>
      val v = r.getSeq[Float](r.fieldIndex("embedding"))
      val c = r.getSeq[Int](r.fieldIndex("codes"))
      (0 until dims).foreach { i =>
        val vhat = model.mins(i) + c(i) * scales(i)
        val tol = math.max(scales(i) / 2, 1e-12) * (1 + 1e-9)
        assert(math.abs(v(i) - vhat) <= tol,
          s"dim $i: v=${v(i)} vhat=$vhat scale=${scales(i)}")
        assert(c(i) >= 0 && c(i) <= 255)
      }
    }
  }

  test("bounds are exact aggregates: fit is partition-count invariant") {
    val m1 = Sq.fitBounds(emb.repartition(1))
    val m17 = Sq.fitBounds(emb.repartition(17))
    assert(m1.mins.toSeq == m17.mins.toSeq && m1.maxs.toSeq == m17.maxs.toSeq)
  }

  test("ADC shortlist contains the true top-k; re-ranked output is exact") {
    val qs = emb.where(col("vec_id").isin(5, 71, 222))
      .select(col("vec_id").as("query_id"), col("embedding").as("query_vec"))
    val k = 5
    val got = Sq.sqTopKBatch(qs, emb, k = k, rerank = 48)
      .select("query_id", "rank", "vec_id")
      .as[(Long, Int, Long)].collect()
      .groupBy(_._1).view.mapValues(_.sortBy(_._2).map(_._3).toSeq).toMap
    // exact brute force per query, double math, (dist, id) tie order
    val all = emb.collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).map(_.toDouble).toArray).toMap
    def exactTopK(q: Long): Seq[Long] =
      all.toSeq.map { case (id, v) =>
        val d = math.sqrt(all(q).zip(v).map { case (a, b) => (a - b) * (a - b) }.sum)
        (d, id)
      }.sortBy(identity).take(k).map(_._2)
    Seq(5L, 71L, 222L).foreach { q =>
      assert(got(q) == exactTopK(q),
        s"q=$q sq8=${got(q)} exact=${exactTopK(q)}")
    }
    // determinism
    val again = Sq.sqTopKBatch(qs, emb, k = k, rerank = 48)
      .select("query_id", "rank", "vec_id")
      .as[(Long, Int, Long)].collect().toSeq.sorted
    assert(again == Sq.sqTopKBatch(qs, emb, k = k, rerank = 48)
      .select("query_id", "rank", "vec_id")
      .as[(Long, Int, Long)].collect().toSeq.sorted)
  }

  test("at rest: writeCodes/loadModel/sqProbe round-trip is value-identical") {
    val path = tempDir("graft_sq").toString + "/idx"
    val written = Sq.writeCodes(emb, path)
    val loaded = Sq.loadModel(spark, path)
    assert(loaded.mins.toSeq == written.mins.toSeq &&
      loaded.maxs.toSeq == written.maxs.toSeq,
      "persisted bounds must round-trip exactly")
    val qs = emb.where(col("vec_id").isin(5, 71, 222))
      .select(col("vec_id").as("query_id"), col("embedding").as("query_vec"))
    def rows(df: org.apache.spark.sql.DataFrame) = df
      .select("query_id", "rank", "vec_id")
      .as[(Long, Int, Long)].collect().toSeq.sorted
    assert(rows(Sq.sqProbe(spark, path, qs, emb, k = 5, rerank = 48)) ==
      rows(Sq.sqTopKBatch(qs, emb, k = 5, rerank = 48)),
      "persisted-code probe must equal the transient path")
    // probe plan must not re-encode: the clamp chain (least(greatest(...)
    // is the encode's signature and may not appear anywhere in the probe
    val plan = Sq.sqProbe(spark, path, qs, emb, k = 5, rerank = 48)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("least(greatest("),
      s"probe re-encodes the corpus:\n${plan.take(1500)}")
    assert(plan.contains("Scan parquet") || plan.contains("FileScan parquet"),
      "probe must read the at-rest codes")
  }

  test("lifecycle: append encodes through the FROZEN bounds; delete hides; compact purges") {
    val path = tempDir("graft_sq_lc").toString + "/idx"
    val seed = emb.where(col("vec_id") < 300)
    val model = Sq.writeCodes(seed, path)
    Sq.appendCodes(spark, emb.where(col("vec_id") >= 300), path)
    // grown code table == one-shot encode of ALL rows under the SEED
    // bounds (the a5b law for the affine quantizer): appended rows route
    // through the persisted model, never a re-fit
    val grown = spark.read.parquet(s"$path/codes")
      .as[(Long, Seq[Int])].collect().toMap
    val oneShot = Sq.encode(emb, model).as[(Long, Seq[Int])].collect().toMap
    assert(grown == oneShot, "append must encode through the frozen persisted bounds")
    val loaded = Sq.loadModel(spark, path)
    assert(loaded.mins.toSeq == model.mins.toSeq,
      "append must not touch the stored bounds")
    val qs = emb.where(col("vec_id").isin(5, 71, 222))
      .select(col("vec_id").as("query_id"), col("embedding").as("query_vec"))
    def probe(): Map[Long, Seq[Long]] =
      Sq.sqProbe(spark, path, qs, emb, k = 5, rerank = 48)
        .select("query_id", "rank", "vec_id").as[(Long, Int, Long)].collect()
        .groupBy(_._1).view.mapValues(_.sortBy(_._2).map(_._3).toSeq).toMap
    val full = probe()
    // delete query 5's top hit (itself): the probe must exclude it and
    // leave the remaining order undisturbed
    val top = full(5L).head
    Sq.deleteCodes(spark, path, Seq(top))
    val afterDel = probe()
    assert(!afterDel.values.exists(_.contains(top)), s"deleted id $top still served")
    assert(afterDel(5L).take(4) == full(5L).filterNot(_ == top).take(4),
      "surviving ranks must be the undisturbed tail")
    // compact purges for real, spends the sidecar, and the view is unchanged
    val (before, after) = Sq.compactCodes(spark, path)
    assert(before == 400L && after == 399L, s"expected 400 -> 399, got $before -> $after")
    assert(!new java.io.File(s"$path/_tombstones").exists(),
      "compact must spend the tombstone sidecar")
    assert(probe() == afterDel, "compaction must not change the active view")
  }

  test("streamingSqSink: micro-batches encode through the frozen bounds exactly once") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlC = spark.sqlContext
    val tmp = tempDir("graft_sq_sink").toString
    val path = s"$tmp/idx"
    val seed = emb.where(col("vec_id") < 300)
    val model = Sq.writeCodes(seed, path)
    // ledgered replay no-ops before the sink even enters the picture
    assert(Sq.appendCodesBatch(spark,
      emb.where(col("vec_id") >= 300 && col("vec_id") < 320), path, 99L))
    assert(!Sq.appendCodesBatch(spark,
      emb.where(col("vec_id") >= 300 && col("vec_id") < 320), path, 99L),
      "replayed batch id must no-op against the marker ledger")
    val mem = MemoryStream[(Long, Array[Float])]
    val q = graft.ops.CorpusPipeline.streamingSqSink(
      mem.toDF().toDF("vec_id", "embedding"), path, s"$tmp/ckpt").start()
    try {
      val tail = emb.where(col("vec_id") >= 320)
        .select("vec_id", "embedding").as[(Long, Array[Float])].collect()
      mem.addData(tail.filter(_._1 < 360).toSeq: _*)
      q.processAllAvailable()
      mem.addData(tail.filter(_._1 >= 360).toSeq: _*)
      q.processAllAvailable()
      val grown = spark.read.parquet(s"$path/codes")
        .as[(Long, Seq[Int])].collect().toMap
      val oneShot = Sq.encode(emb, model).as[(Long, Seq[Int])].collect().toMap
      assert(grown == oneShot,
        "streamed codes must equal the one-shot encode under the seed bounds")
    } finally q.stop()
  }

  test("streamingSqSink maintenance: a firing file-compact signal bin-packs codes/ mid-stream") {
    // Regression for the s"$$path/codes" literal-dollar interpolation bug:
    // the file-compact action targeted the RELATIVE path "$path/codes", so
    // the first micro-batch whose fileCompactDue fired threw on listFiles
    // and killed the streaming query. The prior sink tests parked the
    // signal at maxSmallFiles = 100000; this one makes it FIRE.
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlC = spark.sqlContext
    val tmp = tempDir("graft_sq_fcx").toString
    val path = s"$tmp/idx"
    val model = Sq.writeCodes(emb.where(col("vec_id") < 300), path)
    // every parquet file here is tiny, so smallFiles counts ALL data files
    // under the index root (codes + model): with maxSmallFiles = 2 the
    // signal is due as soon as appends accrue a third file
    val policy = graft.ops.Layout.MaintenancePolicy(
      maxSegments = 1000, maxTombstones = 1L << 20, maxSmallFiles = 2)
    val mem = MemoryStream[(Long, Array[Float])]
    val q = graft.ops.CorpusPipeline.streamingSqSink(
      mem.toDF().toDF("vec_id", "embedding"), path, s"$tmp/ckpt",
      maintenance = Some(policy)).start()
    try {
      val tail = emb.where(col("vec_id") >= 300)
        .select("vec_id", "embedding").as[(Long, Array[Float])].collect()
      mem.addData(tail.filter(_._1 < 350).toSeq: _*)
      q.processAllAvailable() // with the bug: dies HERE on "$path/codes"
      mem.addData(tail.filter(_._1 >= 350).toSeq: _*)
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
      val grown = spark.read.parquet(s"$path/codes")
        .as[(Long, Seq[Int])].collect().toMap
      val oneShot = Sq.encode(emb, model).as[(Long, Seq[Int])].collect().toMap
      assert(grown == oneShot,
        "file compaction must not change the encoded rows")
    } finally q.stop()
  }

  test("appendCodesBatch: crash-window replay (codes written, marker missing) appends nothing") {
    // ledgeredBatch's residual window: the codes landed but the marker
    // didn't. The redelivered batch must fold to zero new rows
    // (freshBatchRows) while genuinely new ids in the same delivery land
    val path = tempDir("graft_sq_cw").toString + "/idx"
    Sq.writeCodes(emb.where(col("vec_id") < 200), path)
    Sq.appendCodes(spark, emb.where(col("vec_id") >= 200 && col("vec_id") < 300), path)
    assert(Sq.appendCodesBatch(spark, emb.where(col("vec_id") >= 200), path, 1L))
    val codes = spark.read.parquet(s"$path/codes")
    assert(codes.count() == 400L && codes.select("vec_id").distinct().count() == 400L,
      "crash-window rows must not duplicate; fresh rows must still append")
  }

  test("appendCodes refuses a batch drifted outside the frozen bounds") {
    val path = tempDir("graft_sq_oob").toString + "/idx"
    Sq.writeCodes(emb.where(col("vec_id") < 300), path)
    val drifted = emb.where(col("vec_id") >= 300)
      .withColumn("embedding",
        transform(col("embedding"), x => (x + lit(10.0f)).cast("float")))
    val e = intercept[IllegalArgumentException] {
      Sq.appendCodes(spark, drifted, path)
    }
    assert(e.getMessage.contains("outside the frozen"),
      s"unexpected message: ${e.getMessage}")
    // and an empty batch is a clean no-op
    Sq.appendCodes(spark, emb.where(lit(false)), path)
    assert(spark.read.parquet(s"$path/codes").count() == 300L)
  }

  test("writeCodes rebuild clears the previous life's tombstones and batch ledger") {
    val path = tempDir("graft_sq_rb").toString + "/idx"
    Sq.writeCodes(emb, path)
    Sq.deleteCodes(spark, path, Seq(5L))
    assert(Layout.ledgeredBatch(spark, s"$path/batches", 7L) {})
    Sq.writeCodes(emb, path)
    val qs = emb.where(col("vec_id") === 5)
      .select(col("vec_id").as("query_id"), col("embedding").as("query_vec"))
    val got = Sq.sqProbe(spark, path, qs, emb, k = 1, rerank = 8)
      .select("vec_id").as[Long].collect().toSeq
    assert(got == Seq(5L), s"rebuilt index must serve the once-deleted id: $got")
    assert(Layout.ledgeredBatchIds(spark, s"$path/batches").isEmpty,
      "the batches ledger must not survive a rebuild")
  }

  test("plan: broadcast query side only; no shuffled cartesian") {
    val qs = emb.limit(3)
      .select(col("vec_id").as("query_id"), col("embedding").as("query_vec"))
    val plan = Sq.sqTopKBatch(qs, emb, k = 3, rerank = 8)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"),
      s"SQ8 scan must broadcast queries, not shuffle a cartesian:\n$plan")
    assert(plan.contains("BroadcastNestedLoopJoin") || plan.contains("BroadcastExchange"),
      s"expected a broadcast query side:\n$plan")
  }
}
