package graft.index

import graft.SparkSpec

class VectorIndexSpec extends SparkSpec {
  import spark.implicits._

  private def docs(ids: Range) = ids.map { i =>
    val section = if (i % 2 == 0) "SECTION ALPHA" else "SECTION BETA"
    (i.toLong, s"$section\n\nparagraph about topic $i with enough words to survive chunking")
  }.toDF("doc_id", "text")

  test("append adds only new chunks, idempotently") {
    val path = tempDir("graft_idx_append").toString + "/idx"
    val base = docs(0 until 20)
    val embedder = VectorIndex.fit(base)
    VectorIndex.write(VectorIndex.buildWith(base, embedder), path)
    val n0 = VectorIndex.load(spark, path).count()

    val delta = docs(15 until 30) // 5 already-indexed docs + 10 new
    val appended = VectorIndex.append(spark, delta, path, embedder)
    val after = VectorIndex.load(spark, path)
    assert(after.count() == n0 + appended)
    val expectedNew = VectorIndex.buildWith(docs(20 until 30), embedder).count()
    assert(appended == expectedNew,
      s"overlapping docs must contribute nothing: $appended vs $expectedNew")
    assert(after.select("chunk_id").distinct().count() == after.count())
    // idempotent: re-appending the same delta is a no-op
    assert(VectorIndex.append(spark, delta, path, embedder) == 0L)
  }

  test("append embeds the delta in the ORIGINAL corpus space") {
    val path = tempDir("graft_idx_space").toString + "/idx"
    val base = docs(0 until 10)
    val embedder = VectorIndex.fit(base)
    VectorIndex.write(VectorIndex.buildWith(base, embedder), path)
    VectorIndex.append(spark, docs(10 until 12), path, embedder)
    // doc 0's rows re-built standalone with the same fitted embedder must
    // equal what the index holds — same IDF statistics, same space
    val fromIndex = VectorIndex.load(spark, path)
      .where($"doc_id" === 0).select("chunk_id", "embedding")
      .as[(Long, Seq[Float])].collect().toMap
    val rebuilt = VectorIndex.buildWith(docs(0 until 1), embedder)
      .select("chunk_id", "embedding")
      .as[(Long, Seq[Float])].collect().toMap
    assert(fromIndex == rebuilt)
  }

  test("append refuses an embedder with mismatched dimensions") {
    val path = tempDir("graft_idx_dims").toString + "/idx"
    val base = docs(0 until 10)
    val embedder64 = VectorIndex.fit(base)
    VectorIndex.write(VectorIndex.buildWith(base, embedder64), path)
    val embedder16 = new graft.embed.HashingTfIdfEmbedder(16)
      .fit(graft.transform.Chunker.chunk(
        graft.transform.Sectionizer.sectionize(base)), "chunk")
    val e = intercept[IllegalArgumentException] {
      VectorIndex.append(spark, docs(10 until 12), path, embedder16)
    }
    assert(e.getMessage.contains("64-d"))
  }

  test("first append onto a missing path bootstraps the index") {
    val path = tempDir("graft_idx_boot").toString + "/fresh"
    val d = docs(0 until 5)
    val embedder = VectorIndex.fit(d)
    val n = VectorIndex.append(spark, d, path, embedder)
    assert(n > 0)
    assert(VectorIndex.load(spark, path).count() == n)
  }

  test("time travel: loadActiveAsOf reproduces every epoch's snapshot until compact") {
    import org.apache.spark.sql.functions.col
    val path = tempDir("graft_idx_asof").toString + "/idx"
    val d = docs(0 until 4)
    val embedder = VectorIndex.fit(d)
    def snap(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
      df.select("chunk_id", "doc_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    VectorIndex.append(spark, d, path, embedder) // pre-epoch files → epoch 0
    val atAppend = snap(VectorIndex.loadActive(spark, path))
    VectorIndex.deleteDocs(spark, Seq(1L), path, epoch = 1)
    val atDelete = snap(VectorIndex.loadActive(spark, path))
    VectorIndex.upsertDocs(spark,
      Seq((1L, "SECTION ALPHA\n\nrevived second revision body"))
        .toDF("doc_id", "text"), path, embedder, epoch = 2)
    val atUpsert = snap(VectorIndex.loadActive(spark, path))
    // every historical view reproduces the snapshot captured at the time
    assert(snap(VectorIndex.loadActiveAsOf(spark, path, 0L)) == atAppend,
      "as-of 0 must predate the delete")
    assert(snap(VectorIndex.loadActiveAsOf(spark, path, 1L)) == atDelete,
      "as-of 1 must see the delete but not the revival")
    assert(snap(VectorIndex.loadActiveAsOf(spark, path, 2L)) == atUpsert)
    assert(snap(VectorIndex.loadActiveAsOf(spark, path, 99L)) == atUpsert,
      "as-of past the newest epoch is the current view")
    // compact folds history: the as-of-0 world is no longer recoverable,
    // but the CURRENT view is unchanged — the lakehouse retention trade
    VectorIndex.compact(spark, path)
    assert(snap(VectorIndex.loadActiveAsOf(spark, path, 99L)) == atUpsert)
    // and the fold is RECORDED: a full compact writes the retention
    // horizon (max surviving epoch + 1), so reads below it refuse
    // loudly instead of serving a silent partial view
    assert(VectorIndex.retentionHorizon(spark, path).contains(3L))
    val e = intercept[IllegalArgumentException] {
      VectorIndex.loadActiveAsOf(spark, path, 1L)
    }
    assert(e.getMessage.contains("retention horizon"))
  }

  test("compact horizon covers a pure-delete newest epoch") {
    // if the newest batch was a delete (tomb_epoch above every surviving
    // row's epoch), the horizon must be tombEpoch + 1, not
    // maxSurvivingEpoch + 1: AS OF epochs in [maxSurviving, tombEpoch-1]
    // included the doc pre-compact, so admitting them after the fold
    // would serve exactly the silent partial view the guard refuses
    val path = tempDir("graft_idx_deltomb").toString + "/idx"
    val d = docs(0 until 4)
    val embedder = VectorIndex.fit(d)
    VectorIndex.append(spark, d, path, embedder) // pre-epoch files → epoch 0
    VectorIndex.deleteDocs(spark, Seq(1L), path, epoch = 5)
    val atDelete = VectorIndex.loadActive(spark, path).count()
    VectorIndex.compact(spark, path)
    assert(VectorIndex.loadActive(spark, path).count() == atDelete)
    assert(VectorIndex.retentionHorizon(spark, path).contains(6L),
      "horizon must spend the tombstone's epoch, not just surviving rows'")
    val e = intercept[IllegalArgumentException] {
      VectorIndex.loadActiveAsOf(spark, path, 3L) // pre-compact: doc 1 alive
    }
    assert(e.getMessage.contains("retention horizon"))
  }

  test("compactRetain: history above the horizon exact, below refused, storage folded") {
    import org.apache.spark.sql.functions.col
    val path = tempDir("graft_idx_ret").toString + "/idx"
    val d = docs(0 until 4)
    val embedder = VectorIndex.fit(d)
    def snap(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
      df.select("chunk_id", "doc_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    VectorIndex.append(spark, d, path, embedder) // epoch 0 (pre-epoch files)
    VectorIndex.deleteDocs(spark, Seq(1L), path, epoch = 1)
    VectorIndex.upsertDocs(spark,
      Seq((1L, "SECTION ALPHA\n\nrevived second revision body"))
        .toDF("doc_id", "text"), path, embedder, epoch = 2)
    VectorIndex.upsertDocs(spark,
      Seq((2L, "SECTION BETA\n\nthird revision of document two"))
        .toDF("doc_id", "text"), path, embedder, epoch = 3)
    val at2 = snap(VectorIndex.loadActiveAsOf(spark, path, 2L))
    val at3 = snap(VectorIndex.loadActiveAsOf(spark, path, 3L))
    val now = snap(VectorIndex.loadActive(spark, path))
    val rawBefore = VectorIndex.load(spark, path).count()

    // fold everything below epoch 3: epochs 0-2 collapse to the resolved
    // base, epoch-3 rows and any tombstones >= 3 survive untouched
    val (before, after) = VectorIndex.compactRetain(spark, path, retainFrom = 3L)
    assert(before == rawBefore && after < before,
      s"fold must reclaim dead generations: $before -> $after")
    assert(snap(VectorIndex.loadActive(spark, path)) == now,
      "current view must survive the fold")
    assert(snap(VectorIndex.loadActiveAsOf(spark, path, 3L)) == at3)
    assert(snap(VectorIndex.loadActiveAsOf(spark, path, 2L)) == at2,
      "AS OF horizon-1 is the earliest exact view")
    // below the horizon: loud refusal, not a silent partial view
    val e = intercept[IllegalArgumentException] {
      VectorIndex.loadActiveAsOf(spark, path, 1L)
    }
    assert(e.getMessage.contains("retention horizon"))
    // horizon is monotonic: folding below it refuses
    intercept[IllegalArgumentException] {
      VectorIndex.compactRetain(spark, path, retainFrom = 2L)
    }
    // the lifecycle continues above the horizon: a later delete + as-of
    VectorIndex.deleteDocs(spark, Seq(2L), path, epoch = 4)
    assert(snap(VectorIndex.loadActive(spark, path))
      .forall(_._2 != 2L), "post-fold delete must hide doc 2")
    assert(snap(VectorIndex.loadActiveAsOf(spark, path, 3L)) == at3,
      "pre-delete view stays exact above the horizon")
  }

  test("MoR lifecycle: delete hides, upsert revives, compact folds") {
    import org.apache.spark.sql.functions.col
    val path = tempDir("graft_idx_mor").toString + "/idx"
    val d = docs(0 until 6)
    val embedder = VectorIndex.fit(d)
    VectorIndex.append(spark, d, path, embedder)
    val full = VectorIndex.loadActive(spark, path).count()
    assert(full > 0)

    // delete docs 0 and 1 — no data file rewritten, rows disappear
    VectorIndex.deleteDocs(spark, Seq(0L, 1L), path, epoch = 1)
    val afterDelete = VectorIndex.loadActive(spark, path)
    assert(afterDelete.where(col("doc_id").isin(0L, 1L)).count() == 0)
    assert(afterDelete.count() < full)
    // raw (unresolved) index still holds every row — append-only
    assert(VectorIndex.load(spark, path).count() == full)

    // upsert doc 0 with NEW text: revived, with the new content only
    val d0v2 = Seq((0L, "SECTION ALPHA\n\nentirely new second revision text body"))
      .toDF("doc_id", "text")
    val up = VectorIndex.upsertDocs(spark, d0v2, path, embedder, epoch = 2)
    assert(up > 0)
    val afterUpsert = VectorIndex.loadActive(spark, path)
    assert(afterUpsert.where(col("doc_id") === 0L).count() == up,
      "only the revision's rows may be active for doc 0")
    assert(afterUpsert.where(col("doc_id") === 1L).count() == 0,
      "doc 1 stays deleted")

    // upserting an existing (never-deleted) doc replaces its rows too
    val d2v2 = Seq((2L, "SECTION ALPHA\n\nreplacement body for document two"))
      .toDF("doc_id", "text")
    val up2 = VectorIndex.upsertDocs(spark, d2v2, path, embedder, epoch = 3)
    val doc2 = VectorIndex.loadActive(spark, path).where(col("doc_id") === 2L)
    assert(doc2.count() == up2)

    // compact: same active view, tombstones gone, raw == active
    val before = VectorIndex.loadActive(spark, path)
      .select("chunk_id").collect().map(_.getLong(0)).toSet
    val n = VectorIndex.compact(spark, path)
    assert(n == before.size)
    val after = VectorIndex.loadActive(spark, path)
      .select("chunk_id").collect().map(_.getLong(0)).toSet
    assert(after == before, "compaction must not change the active view")
    assert(VectorIndex.load(spark, path).count() == n,
      "after compaction raw == active")
  }

  test("upsertDocs is idempotent under same-epoch replay") {
    import org.apache.spark.sql.functions.col
    val path = tempDir("graft_idx_replay").toString + "/idx"
    val d = docs(0 until 4)
    val embedder = VectorIndex.fit(d)
    VectorIndex.append(spark, d, path, embedder)
    val rev = Seq((1L, "SECTION BETA\n\nrevised body for document one"))
      .toDF("doc_id", "text")
    VectorIndex.upsertDocs(spark, rev, path, embedder, epoch = 5)
    val once = VectorIndex.loadActive(spark, path)
      .select("chunk_id").collect().map(_.getLong(0)).sorted.toSeq
    // streaming replay: the SAME batch re-runs with the SAME epoch
    val reAppended = VectorIndex.upsertDocs(spark, rev, path, embedder, epoch = 5)
    assert(reAppended == 0, "replayed rows must not re-append")
    val twice = VectorIndex.loadActive(spark, path)
      .select("chunk_id").collect().map(_.getLong(0)).sorted.toSeq
    assert(twice == once, "active view must be identical after replay")
  }

  test("streamingUpsertSink: later revisions replace earlier ones") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.functions.col
    implicit val sqlC = spark.sqlContext
    val tmp = tempDir("graft_upsink").toString
    val path = s"$tmp/idx"
    val fitted = VectorIndex.fit(docs(0 until 4))
    val mem = MemoryStream[(Long, String)]
    val q = graft.ops.CorpusPipeline.streamingUpsertSink(
      mem.toDF().toDF("doc_id", "text"), path, fitted, s"$tmp/ckpt").start()
    try {
      mem.addData((0L, "SECTION ALPHA\n\nfirst crawl of document zero"))
      q.processAllAvailable()
      mem.addData((0L, "SECTION ALPHA\n\nsecond crawl entirely different text"))
      q.processAllAvailable()
      val active = VectorIndex.loadActive(spark, path)
      val texts = active.where(col("doc_id") === 0L)
        .select("text").collect().map(_.getString(0))
      assert(texts.nonEmpty && texts.forall(_.contains("second crawl")),
        s"only the latest revision may be active, got ${texts.toSeq}")
      // raw retains both generations — append-only
      assert(VectorIndex.load(spark, path).count() > active.count())
    } finally q.stop()
  }

  test("streamingUpsertSink with a maintenance policy folds history as it streams") {
    // the 7th and last maintained store (round-11 missing #1): each
    // upsert batch writes tombstones; maxTombstones = 0 makes the sink's
    // policy pass run compactRetain at the batch's own epoch — the
    // resolved view is unchanged, the sidecar is spent, dead generations
    // are reclaimed, and reads below the horizon refuse loudly
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.functions.col
    implicit val sqlC = spark.sqlContext
    val tmp = tempDir("graft_upsink_mx").toString
    val path = s"$tmp/idx"
    val fitted = VectorIndex.fit(docs(0 until 4))
    val policy = graft.ops.Layout.MaintenancePolicy(
      maxSegments = 1000, maxTombstones = 0, maxSmallFiles = 100000)
    val mem = MemoryStream[(Long, String)]
    val q = graft.ops.CorpusPipeline.streamingUpsertSink(
      mem.toDF().toDF("doc_id", "text"), path, fitted, s"$tmp/ckpt",
      maintenance = Some(policy)).start()
    try {
      mem.addData((0L, "SECTION ALPHA\n\nfirst crawl of document zero"))
      q.processAllAvailable()
      mem.addData((0L, "SECTION ALPHA\n\nsecond crawl entirely different text"))
      q.processAllAvailable()
      val active = VectorIndex.loadActive(spark, path)
      val texts = active.where(col("doc_id") === 0L)
        .select("text").collect().map(_.getString(0))
      assert(texts.nonEmpty && texts.forall(_.contains("second crawl")),
        s"only the latest revision may be active, got ${texts.toSeq}")
      val status = graft.ops.Layout.maintenanceDue(
        spark, path, policy, idCol = "doc_id")
      assert(status.tombstones == 0 && !status.compactDue,
        s"the sink must have folded its own tombstones: $status")
      // history below the fold is physically gone: raw == active
      assert(VectorIndex.load(spark, path).count() == active.count(),
        "dead generations must be reclaimed by the retention fold")
      // the horizon refuses a pre-fold AS OF instead of a partial view
      val h = VectorIndex.retentionHorizon(spark, path)
      assert(h.contains(3L), s"horizon must sit at the last batch's epoch: $h")
      val e = intercept[IllegalArgumentException] {
        VectorIndex.loadActiveAsOf(spark, path, 1L).count()
      }
      assert(e.getMessage.contains("retention horizon"))
    } finally q.stop()
  }

  test("upsert with an empty revision still replaces the prior generation") {
    import org.apache.spark.sql.functions.col
    val path = tempDir("graft_idx_emptyrev").toString + "/idx"
    val d = docs(0 until 4)
    val embedder = VectorIndex.fit(d)
    VectorIndex.append(spark, d, path, embedder)
    // the new revision chunks to ZERO rows — the upsert contract is
    // "arriving doc REPLACES its prior revision", so the old rows must
    // still be tombstoned even though nothing is appended
    val rev = Seq((1L, "   ")).toDF("doc_id", "text")
    val n = VectorIndex.upsertDocs(spark, rev, path, embedder, epoch = 7)
    assert(n == 0, s"whitespace revision must append nothing, got $n")
    val active = VectorIndex.loadActive(spark, path)
    assert(active.where(col("doc_id") === 1L).count() == 0,
      "empty revision must still kill the prior generation")
    assert(active.where(col("doc_id") =!= 1L).count() > 0,
      "other docs must be untouched")
  }

  test("compact interleaved with upserts preserves epoch fencing") {
    import org.apache.spark.sql.functions.col
    val path = tempDir("graft_idx_ccompact").toString + "/idx"
    val d = docs(0 until 4)
    val embedder = VectorIndex.fit(d)
    VectorIndex.append(spark, d, path, embedder)
    val rev5 = Seq((1L, "SECTION BETA\n\nrevision five body for document one"))
      .toDF("doc_id", "text")
    VectorIndex.upsertDocs(spark, rev5, path, embedder, epoch = 5)
    val activeBefore = VectorIndex.loadActive(spark, path)
      .select("chunk_id").collect().map(_.getLong(0)).toSet
    VectorIndex.compact(spark, path)
    // 1. compaction preserves the epoch column: a REPLAY of the epoch-5
    // batch after an interleaved compaction must still be a no-op (if
    // compact dropped epochs, the same-epoch anti-join would find
    // nothing and the replay would double every row)
    assert(VectorIndex.upsertDocs(spark, rev5, path, embedder, epoch = 5) == 0,
      "epoch-5 replay after compaction must not re-append")
    assert(VectorIndex.loadActive(spark, path)
      .select("chunk_id").collect().map(_.getLong(0)).toSet == activeBefore)
    // 2. later epochs still fence correctly across the compaction
    val rev6 = Seq((1L, "SECTION BETA\n\nrevision six entirely new body"))
      .toDF("doc_id", "text")
    assert(VectorIndex.upsertDocs(spark, rev6, path, embedder, epoch = 6) > 0)
    val texts = VectorIndex.loadActive(spark, path)
      .where(col("doc_id") === 1L).select("text")
      .collect().map(_.getString(0))
    assert(texts.nonEmpty && texts.forall(_.contains("revision six")),
      s"post-compact upsert must replace, got ${texts.toSeq}")
  }

  test("crash-simulated partial batch + compact + replay converges") {
    import org.apache.spark.sql.functions.{col, lit}
    val path = tempDir("graft_idx_crash").toString + "/idx"
    val d = docs(0 until 4)
    val embedder = VectorIndex.fit(d)
    VectorIndex.append(spark, d, path, embedder)
    // simulate a batch that crashed mid-write: the tombstone landed and
    // PART of the delta (one chunk row) was appended before the failure
    val rev = Seq((2L, "SECTION ALPHA\n\nrevision body long enough to chunk"))
      .toDF("doc_id", "text")
    val fullDelta = VectorIndex.buildWith(rev, embedder)
      .withColumn("epoch", lit(9L))
    VectorIndex.deleteDocs(spark, Seq(2L), path, epoch = 8)
    fullDelta.limit(1).write.mode("append").partitionBy("section").parquet(path)
    // an out-of-band compaction folds the partial state in
    VectorIndex.compact(spark, path)
    // the streaming engine replays the batch at the SAME epoch: the
    // surviving partial rows are dropped by the same-epoch anti-join and
    // only the missing remainder appends — the active view converges to
    // exactly one full revision, no duplicates
    VectorIndex.upsertDocs(spark, rev, path, embedder, epoch = 9)
    val active = VectorIndex.loadActive(spark, path).where(col("doc_id") === 2L)
    val expected = VectorIndex.buildWith(rev, embedder)
      .select("chunk_id").collect().map(_.getLong(0)).toSet
    assert(active.select("chunk_id").collect().map(_.getLong(0)).toSet
      == expected, "replay after crash+compact must converge to the revision")
    assert(active.count() == expected.size, "no duplicate chunk rows")
  }

  // build, upsert and delete, then leave a compact's crash signature by
  // hand: a complete compacted generation at `stageName`, the live dir
  // already renamed aside to `.idx.__old`; compact must restore the rows
  private def compactAfterSwapCrash(stageName: String): Unit = {
    val dir = tempDir("graft_idx_swapcrash")
    val path = dir.toString + "/idx"
    val d = docs(0 until 6)
    val embedder = VectorIndex.fit(d)
    VectorIndex.append(spark, d, path, embedder)
    VectorIndex.upsertDocs(spark,
      Seq((2L, "SECTION ALPHA\n\nsecond revision body for document two"))
        .toDF("doc_id", "text"), path, embedder, epoch = 1)
    VectorIndex.deleteDocs(spark, Seq(0L, 3L), path, epoch = 2)
    def activeRows(p: String) =
      VectorIndex.loadActive(spark, p).collect().map(_.toString).sorted.toSeq
    val before = activeRows(path)
    val copy = dir.toString + "/copy"
    org.apache.commons.io.FileUtils.copyDirectory(
      new java.io.File(path), new java.io.File(copy))
    VectorIndex.compact(spark, copy)
    java.nio.file.Files.move(
      java.nio.file.Paths.get(copy), dir.resolve(stageName))
    java.nio.file.Files.move(
      java.nio.file.Paths.get(path), dir.resolve(".idx.__old"))
    VectorIndex.compact(spark, path)
    assert(activeRows(path) == before)
    Seq(".idx.__old", ".idx.__compact", "idx.__compact").foreach(n =>
      assert(!java.nio.file.Files.exists(dir.resolve(n)), s"$n left behind"))
  }

  test("compact heals a compact that crashed between the swap renames") {
    compactAfterSwapCrash(".idx.__compact")
  }

  test("compact heals a crashed compact that staged at the visible sibling") {
    // the staging name compact used before it moved to the hidden sibling
    compactAfterSwapCrash("idx.__compact")
  }

  test("resolveActive epoch law: tombstone kills <= epoch, revives above") {
    import org.apache.spark.sql.functions.{col, lit}
    val data = Seq(
      (10L, 1L, Some(0L)), // killed by tomb@1
      (11L, 1L, Some(1L)), // killed by tomb@1 (>= rule: 1 <= 1)
      (12L, 1L, Some(2L)), // survives (2 > 1)
      (13L, 2L, None) //      pre-epoch file (null -> 0), killed by tomb@0
    ).map { case (c, d, e) => (c, d, e.map(Long.box).orNull) }
      .toDF("chunk_id", "doc_id", "epoch")
      .select(col("chunk_id"), col("doc_id"), col("epoch").cast("long"))
    val tombs = Seq((1L, 1L), (2L, 0L)).toDF("doc_id", "tomb_epoch")
    val active = VectorIndex.resolveActive(data, tombs)
      .select("chunk_id").collect().map(_.getLong(0)).toSet
    assert(active == Set(12L))
    // no tombstones at all -> everything active
    val none = tombs.where(lit(false))
    assert(VectorIndex.resolveActive(data, none).count() == 4)
  }

  test("a built store writes embedding as an optional list of required floats") {
    val path = tempDir("graft_idx_footer").toString + "/idx"
    VectorIndex.write(VectorIndex.build(docs(0 until 6)), path)
    val root = new org.apache.hadoop.fs.Path(path)
    val fs = root.getFileSystem(spark.sessionState.newHadoopConf())
    val it = fs.listFiles(root, true)
    val files = Iterator.continually(it).takeWhile(_.hasNext).map(_.next())
      .filter(_.getPath.getName.endsWith(".parquet")).toSeq
    assert(files.nonEmpty)
    graft.ops.Layout.readFooters(spark, files.iterator, rowGroups = false).foreach { footer =>
      val schema = footer.getFileMetaData.getSchema
      assert(schema.getType(schema.getFieldIndex("embedding")).toString.replaceAll("\\s+", " ") ==
        "optional group embedding (LIST) { repeated group list { required float element; } }")
    }
    assert(graft.ops.Layout.footerSchema(spark, files)("embedding") ==
      org.apache.spark.sql.types.StructField("embedding",
        org.apache.spark.sql.types.ArrayType(org.apache.spark.sql.types.FloatType, false)))
  }
}
