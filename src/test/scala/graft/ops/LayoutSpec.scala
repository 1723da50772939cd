package graft.ops

import graft.SparkSpec
import org.apache.spark.sql.functions._

class LayoutSpec extends SparkSpec {
  import spark.implicits._

  test("zValue: hand-checked Morton interleave") {
    // x=0b101 (5), y=0b011 (3): morton bits y2 x2 y1 x1 y0 x0 = 0 1 1 0 1 1 = 0b011011 = 27
    val r = Seq((5L, 3L)).toDF("x", "y")
      .select(Layout.zValue(Seq(col("x"), col("y")), 3).as("z"))
      .as[Long].head()
    assert(r == 27L)
  }

  test("zValue: identity for one column, masks out-of-range bits") {
    val one = Seq((13L)).toDF("x")
      .select(Layout.zValue(Seq(col("x")), 8).as("z")).as[Long].head()
    assert(one == 13L)
    // value 0b1_0000_0001 with bits=8 keeps only the low 8 bits
    val masked = Seq((257L)).toDF("x")
      .select(Layout.zValue(Seq(col("x")), 8).as("z")).as[Long].head()
    assert(masked == 1L)
  }

  test("zValue: locality — nearby points share high bits, bounds enforced") {
    intercept[IllegalArgumentException] {
      Layout.zValue(Seq(col("a"), col("b")), 32) // 64 bits > 63
    }
    // the z range of a small box is bounded: all 4 points of a 2x2 box at
    // (100,200) fall within one 4-aligned z run
    val zs = Seq((100L, 200L), (101L, 200L), (100L, 201L), (101L, 201L))
      .toDF("x", "y")
      .select(Layout.zValue(Seq(col("x"), col("y")), 10).as("z"))
      .as[Long].collect().sorted
    assert(zs.last - zs.head == 3L, s"2x2 aligned box must be one z run: ${zs.toSeq}")
  }

  test("zValue is pure column algebra (codegen, no UDF)") {
    val df = spark.range(100).select(col("id").as("x"), (col("id") * 7 % 100).as("y"))
    val plan = df.select(Layout.zValue(Seq(col("x"), col("y")), 8))
      .queryExecution.executedPlan.toString
    assert(!plan.contains("BatchEvalPython") && !plan.contains("ScalaUDF"), plan)
  }

  test("z-order layout prunes 2-D boxes; single-column sort does not") {
    // deterministic pseudo-uniform 2-D points
    val pts = spark.range(4096).select(
      col("id"),
      pmod(xxhash64(col("id")), lit(256)).as("x"),
      pmod(xxhash64(col("id"), lit(1)), lit(256)).as("y"))
    val z = pts.withColumn("__z", Layout.zValue(Seq(col("x"), col("y")), 8))
    val nFiles = 64
    val box = Map("x" -> (32L, 63L), "y" -> (96L, 127L)) // 1/64 of the plane
    val zStats = Layout.clusteringStats(z, "__z", Seq("x", "y"), nFiles, "id")
    val xStats = Layout.clusteringStats(pts, "x", Seq("x", "y"), nFiles, "id")
    val zHit = Layout.filesOverlapping(zStats, box)
    val xHit = Layout.filesOverlapping(xStats, box)
    // x-sorted layout: y min/max spans ~everything per file, so every file
    // whose x range overlaps survives (~1/8 of files x full y). z-order
    // confines both dims: a 1/64 box touches a handful of files.
    assert(zHit * 2 <= xHit,
      s"z-order must at least halve files read: z=$zHit vs x-sort=$xHit of $nFiles")
    assert(zHit <= nFiles / 4, s"z-order read $zHit of $nFiles files for a 1/64 box")
  }

  test("zValueRanked: skewed domains bucket evenly before interleave") {
    // x heavily skewed (quadratic), y uniform: ranked z still clusters
    val pts = spark.range(1024).select(
      col("id"),
      (col("id") * col("id")).as("x"), // skewed domain
      pmod(xxhash64(col("id")), lit(1024)).as("y"))
    val ranked = Layout.zValueRanked(pts, Seq("x", "y"), bits = 4, tieBreak = "id")
    assert(ranked.columns.contains("__z"))
    val bounds = ranked.agg(min("__z"), max("__z")).head()
    assert(bounds.getLong(0) >= 0L && bounds.getLong(1) < (1L << 8))
    // deterministic: same input -> same keys
    val again = Layout.zValueRanked(pts, Seq("x", "y"), bits = 4, tieBreak = "id")
    assert(ranked.select("id", "__z").collect().sortBy(_.getLong(0)).toSeq ==
      again.select("id", "__z").collect().sortBy(_.getLong(0)).toSeq)
  }

  test("writeZOrdered: round-trips with nFiles files, rows intact") {
    val dir = tempDir("graft_zorder").toString
    val pts = spark.range(512).select(
      col("id"),
      pmod(xxhash64(col("id")), lit(64)).as("x"),
      pmod(xxhash64(col("id"), lit(1)), lit(64)).as("y"))
    val z = pts.withColumn("__z", Layout.zValue(Seq(col("x"), col("y")), 6))
    Layout.writeZOrdered(z, "__z", nFiles = 8, path = s"$dir/t")
    val back = spark.read.parquet(s"$dir/t")
    assert(back.count() == 512)
    assert(back.select("id").as[Long].collect().sorted.toSeq == (0L until 512L))
    val files = new java.io.File(s"$dir/t").listFiles().count(_.getName.endsWith(".parquet"))
    assert(files == 8, s"expected 8 data files, got $files")
  }

  // ---- size-tiered minor compaction (round-13 verdict #1) ----

  private def dataFiles(path: String): Seq[(String, Long)] =
    new java.io.File(path).listFiles().toSeq
      .filter(f => f.isFile && !f.getName.startsWith("_") &&
        !f.getName.startsWith(".") && f.length > 0)
      .map(f => (f.getName, f.length)).sortBy(_._1)

  test("compactSmallFiles: size peers merge; settled and lone-class bases hop untouched") {
    val dir = tempDir("graft_tiered").toString
    val path = s"$dir/t"
    // a SETTLED file (>= targetBytes) and a sub-target MERGED BASE in its
    // own size class — the two shapes a fold must never rewrite
    spark.range(10000).select(sha2(col("id").cast("string"), 256).as("v"))
      .coalesce(1).write.mode("append").parquet(path)
    spark.range(1000).select(sha2(col("id").cast("string"), 256).as("v"))
      .coalesce(1).write.mode("append").parquet(path)
    // 10 fresh single-row appends: size peers (the per-turn append shape)
    (0 until 10).foreach { i =>
      spark.range(i, i + 1).select(lit(s"row $i").as("v"))
        .coalesce(1).write.mode("append").parquet(path)
    }
    val before = dataFiles(path)
    assert(before.size == 12, s"setup: ${before.size} files")
    val target = 256L << 10
    val bases = before.filter(_._2 >= 10000L) // the settled + mid files
    assert(bases.size == 2, s"setup: base files not distinguishable: $before")
    val freshBytes = before.filter(_._2 < 10000L).map(_._2).sum

    val st = Layout.compactSmallFiles(spark, path, targetBytes = target)
    assert(st.filesBefore == 12 && st.filesAfter == 3,
      s"expected 12 -> 3 (settled + base + one merged), got $st")
    assert(st.rewrittenBytes == freshBytes,
      s"fold cost must be the fresh bytes only: ${st.rewrittenBytes} vs $freshBytes")
    assert(st.untouchedFiles == 2, s"both bases must hop untouched: $st")
    val after = dataFiles(path)
    // the bases survive by NAME and LENGTH — moved, never rewritten
    bases.foreach { case (n, len) =>
      assert(after.contains((n, len)), s"base $n was rewritten: $after")
    }
    val back = spark.read.parquet(path)
    assert(back.count() == 11010, "every row must survive the fold")

    // idempotent: nothing left to merge (each class a singleton)
    val again = Layout.compactSmallFiles(spark, path, targetBytes = target)
    assert(again.rewrittenBytes == 0L && again.filesAfter == 3,
      s"second fold must no-op: $again")
  }

  test("compactSmallFiles: refuses nested dirs, tombstone sidecars, and a missing dir") {
    val dir = tempDir("graft_tiered_ref").toString
    val nested = s"$dir/nested"
    spark.range(3).withColumn("p", col("id") % 2)
      .write.partitionBy("p").parquet(nested)
    val e1 = intercept[IllegalArgumentException] {
      Layout.compactSmallFiles(spark, nested)
    }
    assert(e1.getMessage.contains("subdirectories"))
    val mor = s"$dir/mor"
    spark.range(3).coalesce(1).write.parquet(mor)
    spark.range(1).selectExpr("0 AS doc_id", "1 AS tomb_epoch")
      .coalesce(1).write.parquet(s"$mor/_tombstones")
    val e2 = intercept[IllegalArgumentException] {
      Layout.compactSmallFiles(spark, mor)
    }
    assert(e2.getMessage.contains("_tombstones"))
    val e3 = intercept[IllegalArgumentException] {
      Layout.compactSmallFiles(spark, s"$dir/nope")
    }
    assert(e3.getMessage.contains("does not exist"))
  }

  test("compactSmallFiles: heals a crash between live-aside and the final rename") {
    val dir = tempDir("graft_tiered_heal").toString
    val path = s"$dir/t"
    spark.range(5000).select(sha2(col("id").cast("string"), 256).as("v"))
      .coalesce(1).write.mode("append").parquet(path)
    (0 until 4).foreach { i =>
      spark.range(i, i + 1).select(lit(s"fresh $i").as("v"))
        .coalesce(1).write.mode("append").parquet(path)
    }
    val smalls = dataFiles(path).filter(_._2 < 10000L).map(_._1)
    val base = dataFiles(path).filter(_._2 >= 10000L)
    assert(smalls.size == 4 && base.size == 1)
    // hand-build the crashed state the protocol can leave: committed
    // stage (merged outputs + _consumed manifest), live renamed aside
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sessionState.newHadoopConf())
    val staged = s"$dir/.t.__compact"
    spark.read.parquet(smalls.map(n => s"$path/$n"): _*)
      .coalesce(1).localCheckpoint(true)
      .write.parquet(staged)
    val out = fs.create(new org.apache.hadoop.fs.Path(staged, "_consumed"), true)
    out.write(smalls.sorted.mkString("\n").getBytes("UTF-8")); out.close()
    assert(fs.rename(new org.apache.hadoop.fs.Path(path),
      new org.apache.hadoop.fs.Path(s"$dir/.t.__old")))
    // the live dir is ABSENT (a reader fails loudly, never sees partial
    // data); the next fold call heals deterministically via the manifest
    val st = Layout.compactSmallFiles(spark, path, targetBytes = 256L << 10)
    val after = dataFiles(path)
    assert(after.contains(base.head), s"healed dir lost the base: $after")
    assert(!after.map(_._1).exists(smalls.contains),
      "consumed inputs must not resurrect")
    assert(spark.read.parquet(path).count() == 5004,
      "heal must recover every row")
    assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$dir/.t.__old")) &&
      !fs.exists(new org.apache.hadoop.fs.Path(staged)))
    assert(!new java.io.File(s"$path/_consumed").exists(),
      "the manifest must not linger in the live dir")
    assert(st.rewrittenBytes == 0L,
      s"post-heal there is nothing left to merge: $st")
  }

  test("compactSmallFiles mergeSchema: straddling appends keep late columns") {
    val dir = tempDir("graft_tiered_ms").toString
    val path = s"$dir/t"
    spark.range(5).toDF("id").coalesce(1).write.mode("append").parquet(path)
    spark.range(5, 10).selectExpr("id", "id * 2 AS epoch")
      .coalesce(1).write.mode("append").parquet(path)
    spark.range(10, 15).toDF("id").coalesce(1).write.mode("append").parquet(path)
    Layout.compactSmallFiles(spark, path, targetBytes = 1L << 20)
    val back = spark.read.option("mergeSchema", "true").parquet(path)
    assert(back.columns.toSet == Set("id", "epoch"))
    assert(back.count() == 15 && back.where(col("epoch").isNotNull).count() == 5)
  }

  test("dueSubdirs: the per-bucket signal fires only on the accumulating bucket") {
    val dir = tempDir("graft_due").toString
    val root = s"$dir/mem"
    def appendN(bucket: Int, n: Int): Unit =
      (0 until n).foreach { i =>
        spark.range(i, i + 1).toDF("id").coalesce(1)
          .write.mode("append").parquet(s"$root/sbucket=$bucket")
      }
    appendN(0, 5) // trips maxSmallFiles = 3
    appendN(1, 2) // under
    // bucket 2 holds one BIG file (>= smallFileBytes): never small
    spark.range(40000).select(sha2(col("id").cast("string"), 256).as("v"))
      .coalesce(1).write.parquet(s"$root/sbucket=2")
    // ledger markers and hidden sidecars are not data files
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sessionState.newHadoopConf())
    fs.mkdirs(new org.apache.hadoop.fs.Path(s"$root/_batches"))
    fs.create(new org.apache.hadoop.fs.Path(s"$root/_batches/7"), true).close()
    val pol = Layout.MaintenancePolicy(
      maxSmallFiles = 3, smallFileBytes = 512L << 10)
    val due = Layout.dueSubdirs(spark, root, pol, "sbucket=")
    assert(due.size == 1 && due.head.endsWith("sbucket=0"),
      s"only the accumulating bucket is due: $due")
    // a missing root is quiet (new table, nothing to maintain)
    assert(Layout.dueSubdirs(spark, s"$dir/nope", pol, "sbucket=").isEmpty)
  }

  test("ledgeredBatch: marker ledger survives a crash-left empty dir, replays no-op") {
    val dir = tempDir("graft_ledger").toString
    val ledger = s"$dir/batches"
    // a crash during the old parquet ledger's FIRST write left an
    // existing-but-footerless dir that wedged every replay on schema
    // inference; with marker files an empty (or junk-holding) dir is
    // just "no batches applied yet"
    val fs = new org.apache.hadoop.fs.Path(ledger)
      .getFileSystem(spark.sessionState.newHadoopConf())
    fs.mkdirs(new org.apache.hadoop.fs.Path(ledger))
    fs.create(new org.apache.hadoop.fs.Path(ledger, "_SUCCESS")).close() // junk
    var applied = 0
    assert(Layout.ledgeredBatch(spark, ledger, 3L) { applied += 1 })
    assert(!Layout.ledgeredBatch(spark, ledger, 3L) { applied += 1 })
    assert(Layout.ledgeredBatch(spark, ledger, 4L) { applied += 1 })
    assert(applied == 2)
    assert(Layout.ledgeredBatchIds(spark, ledger) == Seq(3L, 4L))
  }

  test("ledgeredBatch: legacy parquet ledger migrates to markers, no silent replay") {
    // pre-round-8 ledgers were a parquet table of batch_id rows; the
    // marker read (fs.exists) cannot see them, so without migration a
    // streaming replay would re-apply every previously applied batch —
    // duplicate segments, doc-id disjointness violated
    val dir = tempDir("graft_ledger_mig").toString
    val ledger = s"$dir/batches"
    Seq(7L, 9L).toDF("batch_id").coalesce(1).write.parquet(ledger)
    var applied = 0
    assert(!Layout.ledgeredBatch(spark, ledger, 7L) { applied += 1 },
      "a batch id ledgered by the LEGACY format must no-op after migration")
    assert(!Layout.ledgeredBatch(spark, ledger, 9L) { applied += 1 })
    assert(Layout.ledgeredBatch(spark, ledger, 10L) { applied += 1 })
    assert(applied == 1)
    assert(Layout.ledgeredBatchIds(spark, ledger) == Seq(7L, 9L, 10L))
    // the dir is now a pure marker ledger: no parquet files remain
    val fs = new org.apache.hadoop.fs.Path(ledger)
      .getFileSystem(spark.sessionState.newHadoopConf())
    assert(fs.listStatus(new org.apache.hadoop.fs.Path(ledger))
      .forall(!_.getPath.getName.endsWith(".parquet")))
  }

  test("excludeTombstoned: int-typed sidecar ids exclude without ClassCastException") {
    val dir = tempDir("graft_tomb_int").toString
    // ids 1 and 3 (one repeated) in an INT id column, an earlier writer's shape
    def intSidecar(at: String): String = {
      Seq(1, 3, 3).toDF("id").write.parquet(s"$at/_tombstones"); s"$at/_tombstones"
    }
    val tomb = intSidecar(dir)
    val df = spark.range(5).toDF("id")
    val live = Layout.excludeTombstoned(spark, df, tomb, "id")
      .select("id").as[Long].collect().toSet
    assert(live == Set(0L, 2L, 4L))
    // the compact side reads the same sidecar through the same reader:
    // distinct ids, widened to BIGINT
    val fs = new org.apache.hadoop.fs.Path(tomb)
      .getFileSystem(spark.sessionState.newHadoopConf())
    val dead = Layout.deadIds(spark, Layout.snapshotTombstoneFiles(fs, tomb), "id")
    assert(dead.schema("id").dataType == org.apache.spark.sql.types.LongType)
    assert(dead.as[Long].collect().sorted.toSeq == Seq(1L, 3L))
    assert(Layout.deadIds(spark, Nil, "id").count() == 0L)
    // a keyed-table compact folds it
    val data = s"$dir/codes"
    spark.range(5).toDF("id").write.parquet(data)
    assert(Layout.compactKeyedTable(spark, data, tomb, "id", "compact") == ((5L, 3L)))
    assert(spark.read.parquet(data).as[Long].collect().toSet == Set(0L, 2L, 4L))
    assert(!fs.exists(new org.apache.hadoop.fs.Path(tomb)), "the sidecar is spent")
    // and so do an HNSW probe and compact
    val hnsw = s"$dir/hnsw"
    val vecs = spark.range(5).select(col("id").as("vec_id"),
      array(col("id").cast("float"), lit(0f)).as("embedding"))
    Hnsw.write(vecs, hnsw, Hnsw.Params(numShards = 1))
    intSidecar(hnsw)
    val q = Seq((0L, Seq(0f, 0f))).toDF("query_id", "query_vec")
    assert(Hnsw.probe(spark, hnsw, q, 5).select("vec_id").as[Long].collect().toSet ==
      Set(0L, 2L, 4L))
    Hnsw.compact(spark, hnsw)
    assert(spark.read.parquet(s"$hnsw/segments").select("id").as[Long].collect().toSet ==
      Set(0L, 2L, 4L))
  }

  test("excludeTombstoned: a delete after a cached load is visible (cache invalidates)") {
    val dir = tempDir("graft_tomb_cache").toString
    val tomb = s"$dir/_tombstones"
    Seq(1L).toDF("id").write.mode("append").parquet(tomb)
    val df = spark.range(5).toDF("id")
    assert(Layout.excludeTombstoned(spark, df, tomb, "id")
      .select("id").as[Long].collect().toSet == Set(0L, 2L, 3L, 4L))
    // second load hits the memoized dead set (same file signature)
    assert(Layout.excludeTombstoned(spark, df, tomb, "id")
      .select("id").as[Long].collect().toSet == Set(0L, 2L, 3L, 4L))
    // a new delete lands a new part file — signature changes, set refreshes
    Seq(4L).toDF("id").write.mode("append").parquet(tomb)
    assert(Layout.excludeTombstoned(spark, df, tomb, "id")
      .select("id").as[Long].collect().toSet == Set(0L, 2L, 3L))
  }

  test("spendTombstoneFiles: deletes issued mid-compact survive the spend") {
    val dir = tempDir("graft_tomb_spend").toString
    val tomb = s"$dir/_tombstones"
    Seq(1L).toDF("id").coalesce(1).write.mode("append").parquet(tomb)
    val fs = new org.apache.hadoop.fs.Path(tomb)
      .getFileSystem(spark.sessionState.newHadoopConf())
    // compact starts: snapshots the sidecar's current files
    val snapshot = Layout.snapshotTombstoneFiles(fs, tomb)
    assert(snapshot.nonEmpty)
    // a delete arrives WHILE the compact runs (new part files)
    Seq(9L).toDF("id").coalesce(1).write.mode("append").parquet(tomb)
    // compact finishes: spends only what it folded in
    Layout.spendTombstoneFiles(fs, tomb, snapshot)
    val remaining = Layout.excludeTombstoned(spark, spark.range(12).toDF("id"), tomb, "id")
      .select("id").as[Long].collect().toSet
    assert(!remaining.contains(9L), "the mid-compact delete must survive the spend")
    assert(remaining.contains(1L), "the folded tombstone is spent")
    // spending the rest empties and removes the sidecar dir
    Layout.spendTombstoneFiles(fs, tomb, Layout.snapshotTombstoneFiles(fs, tomb))
    assert(!fs.exists(new org.apache.hadoop.fs.Path(tomb)))
  }

  test("maintenanceDue: threshold laws are exact boundaries, metadata-only signals") {
    import java.nio.file.Files
    val fsOf = (d: String) => new org.apache.hadoop.fs.Path(d)
      .getFileSystem(spark.sessionState.newHadoopConf())
    val policy = Layout.MaintenancePolicy(
      maxSegments = 3, maxTombstones = 4, maxTombstoneFraction = 0.5,
      maxSmallFiles = 2, smallFileBytes = 1L << 20)
    // a bare dir: nothing due
    val clean = tempDir("graft_mx_clean").toString
    val s0 = Layout.maintenanceDue(spark, clean, policy)
    assert(!s0.anyDue && s0.segments == 1 && s0.tombstones == 0)
    // segments via _commits markers: due strictly PAST the max
    val seg = tempDir("graft_mx_seg").toString
    val fs = fsOf(seg)
    fs.mkdirs(new org.apache.hadoop.fs.Path(s"$seg/_commits"))
    (0 until 3).foreach(i =>
      fs.create(new org.apache.hadoop.fs.Path(s"$seg/_commits/$i")).close())
    assert(!Layout.maintenanceDue(spark, seg, policy).mergeDue, "at max: not due")
    fs.create(new org.apache.hadoop.fs.Path(s"$seg/_commits/3")).close()
    val s1 = Layout.maintenanceDue(spark, seg, policy)
    assert(s1.mergeDue && s1.segments == 4, "past max: merge due")
    // the HNSW convention: segments/shard=N partition dirs
    val hn = tempDir("graft_mx_hnsw").toString
    (0 until 5).foreach(i =>
      fsOf(hn).mkdirs(new org.apache.hadoop.fs.Path(s"$hn/segments/shard=$i")))
    assert(Layout.maintenanceDue(spark, hn, policy).segments == 5)
    // the caller's own count wins over every heuristic
    assert(Layout.maintenanceDue(spark, hn, policy,
      segmentCount = Some(2)).segments == 2)
    // tombstones: absolute budget, then the fraction law when totalIds known
    val tb = tempDir("graft_mx_tomb").toString
    Seq(1L, 2L, 3L, 4L).toDF("doc_id").write.parquet(s"$tb/_tombstones")
    assert(!Layout.maintenanceDue(spark, tb, policy).compactDue, "at budget: not due")
    assert(Layout.maintenanceDue(spark, tb, policy,
      totalIds = Some(8L)).compactDue, "4/8 dead >= 0.5: fraction law fires")
    Seq(5L).toDF("doc_id").write.mode("append").parquet(s"$tb/_tombstones")
    assert(Layout.maintenanceDue(spark, tb, policy).compactDue, "past budget: due")
    // small files: sidecars/ledgers/staging don't count
    val sf = tempDir("graft_mx_files").toString
    Seq(1L).toDF("x").repartition(2).write.parquet(s"$sf/data")
    assert(!Layout.maintenanceDue(spark, sf, policy).fileCompactDue)
    Seq(2L).toDF("x").write.parquet(s"$sf/data2")
    val s2 = Layout.maintenanceDue(spark, sf, policy)
    assert(s2.fileCompactDue && s2.smallFiles > 2, s"small files: $s2")
    Seq(9L).toDF("doc_id").write.parquet(s"$sf/_tombstones") // hidden: not counted
    assert(Layout.maintenanceDue(spark, sf, policy).smallFiles == s2.smallFiles)
  }

  test("maintainIndex policy loop on a real BM25 index: actions fire and converge") {
    import graft.search.Bm25
    val docs = (1L to 40L).map(i => (i, s"token$i shared corpus words"))
      .toDF("doc_id", "text")
    val path = tempDir("graft_mx_loop").toString + "/idx"
    Bm25.writeIndex(docs.where(col("doc_id") <= 10), "doc_id", "text", path)
    (1 to 3).foreach { b =>
      Bm25.appendIndexBatch(spark,
        docs.where(col("doc_id") > b * 10 && col("doc_id") <= (b + 1) * 10),
        path, b.toLong, "doc_id", "text")
    }
    // small-file signal parked out of the way: a term-BUCKETED index at
    // toy scale is legitimately many tiny files — this test pins the
    // merge/compact laws
    val policy = Layout.MaintenancePolicy(
      maxSegments = 3, maxTombstones = 2, maxSmallFiles = 100000)
    val (before, after) = graft.ops.CorpusPipeline.maintainIndex(
      spark, path, policy,
      merge = Some(() => { Bm25.mergeSegments(spark, path, targetSegments = 2); () }),
      compact = Some(() => Bm25.compactIndex(spark, path)))
    assert(before.mergeDue && before.segments == 4)
    assert(!after.anyDue && after.segments <= 3, s"merge must converge: $after")
    // now trip the tombstone budget: compact fires and folds the ledger
    Bm25.deleteDocs(spark, path, Seq(1L, 2L, 3L))
    val (b2, a2) = graft.ops.CorpusPipeline.maintainIndex(
      spark, path, policy,
      merge = Some(() => { Bm25.mergeSegments(spark, path, targetSegments = 2); () }),
      compact = Some(() => Bm25.compactIndex(spark, path)))
    assert(b2.compactDue && b2.tombstones == 3)
    assert(!a2.anyDue && a2.tombstones == 0, s"compact must converge: $a2")
    // the maintained index still serves, minus the deleted docs
    val idx = Bm25.loadIndex(spark, path)
    val hits = Bm25.topKBatch(Seq((0L, "token5 token1 shared")).toDF("query_id", "query_text"),
      Bm25.restrictToTerms(idx, Seq("token5", "token1", "shared")), k = 40)
      .select("doc_id").as[Long].collect().toSet
    assert(hits.contains(5L) && !hits.contains(1L))
  }

  test("clearIndexSidecars: removes tombstones and batch ledger, tolerates absence") {
    val dir = tempDir("graft_sidecar_clear").toString
    Seq(1L).toDF("id").write.parquet(s"$dir/_tombstones")
    assert(Layout.ledgeredBatch(spark, s"$dir/batches", 0L) {})
    Layout.clearIndexSidecars(spark, dir)
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sessionState.newHadoopConf())
    assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$dir/_tombstones")))
    assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$dir/batches")))
    Layout.clearIndexSidecars(spark, dir) // idempotent on a clean dir
  }

  test("replaceDirs sweeps a legacy VISIBLE .__compact leftover before staging") {
    // ADVICE r11: round 11 moved staging to the hidden dot-prefixed
    // sibling, but a pre-round-11 crash could have stranded a visible
    // `<dataPath>.__compact` — unswept, it would sit there forever and be
    // parsed as a partition value inside a partitioned read root
    import spark.implicits._
    val tmp = tempDir("graft_legacy_stg").toString
    val data = s"$tmp/codes"
    (1L to 40L).map(i => (i, s"row $i")).toDF("vec_id", "payload")
      .repartition(8).write.parquet(data)
    val fs = new org.apache.hadoop.fs.Path(data)
      .getFileSystem(spark.sessionState.newHadoopConf())
    val legacy = new org.apache.hadoop.fs.Path(s"$data.__compact")
    fs.mkdirs(legacy)
    fs.create(new org.apache.hadoop.fs.Path(legacy, "stranded")).close()
    assert(Layout.compactKeyedTable(spark, data, s"$tmp/_tombstones",
      "vec_id", "compact") == ((40L, 40L)))
    assert(!fs.exists(legacy), "the legacy visible staging must be swept")
    assert(spark.read.parquet(data).count() == 40L)
  }

  test("one swap protocol: no store stages or swaps outside Layout.replaceDirs") {
    // every store rewrite heals, stages and swaps through
    // Layout.replaceDirs; a hand-built swap elsewhere skips the heal of a
    // crash inside an earlier swap window and strands its new generation
    import scala.jdk.CollectionConverters._
    val root = java.nio.file.Paths.get("src/main/scala")
    assert(java.nio.file.Files.isDirectory(root),
      s"source root not found under ${root.toAbsolutePath}")
    val banned = Seq("swapDir(", "compactStaging(", ".__compact\"", ".__staged\"")
    val walk = java.nio.file.Files.walk(root)
    val hits = try walk.iterator().asScala.toSeq
      .filter(f => f.toString.endsWith(".scala") &&
        !f.endsWith(java.nio.file.Paths.get("graft/ops/Layout.scala")))
      .flatMap { f =>
        java.nio.file.Files.readAllLines(f).asScala.zipWithIndex.flatMap {
          case (line, i) => banned.filter(line.contains).map(b => s"$f:${i + 1}: $b")
        }
      }
    finally walk.close()
    assert(hits.isEmpty, s"swap protocol built outside Layout:\n${hits.mkString("\n")}")
  }

  test("one footer reader: ParquetFileReader.open only inside Layout.readFooters") {
    // the one-argument open parses a fresh Hadoop conf per footer and
    // ignores the session's settings; every footer read goes through the
    // reader that holds the session conf
    import scala.jdk.CollectionConverters._
    val root = java.nio.file.Paths.get("src/main/scala")
    assert(java.nio.file.Files.isDirectory(root),
      s"source root not found under ${root.toAbsolutePath}")
    val layout = java.nio.file.Paths.get("graft/ops/Layout.scala")
    val walk = java.nio.file.Files.walk(root)
    val hits = try walk.iterator().asScala.toSeq
      .filter(_.toString.endsWith(".scala"))
      .flatMap { f =>
        val lines = java.nio.file.Files.readAllLines(f).asScala.toIndexedSeq
        lines.indices.filter(i => lines(i).contains("ParquetFileReader.open(")).filterNot { i =>
          val before = lines.take(i)
          f.endsWith(layout) && before.lastIndexWhere(_.contains("def ")) ==
            before.lastIndexWhere(_.contains("def readFooters("))
        }.map(i => s"$f:${i + 1}")
      }
    finally walk.close()
    assert(hits.isEmpty, s"footer reads outside Layout.readFooters:\n${hits.mkString("\n")}")
  }

  test("readFooters: summed row count and merged schema match Spark's reads of a mixed-schema dir") {
    val dir = tempDir("graft_footers").toString + "/t"
    Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("id", "s").write.parquet(dir)
    Seq((4L, 0.5)).toDF("id", "x").write.mode("append").parquet(dir)
    spark.range(5, 105).select(col("id"), (col("id") % 7).cast("int").as("k"))
      .repartition(3).write.mode("append").parquet(dir)
    val p = new org.apache.hadoop.fs.Path(dir)
    val files = p.getFileSystem(spark.sessionState.newHadoopConf()).listStatus(p).toSeq
      .filter(f => f.isFile && f.getPath.getName.endsWith(".parquet"))
    assert(files.size >= 5)
    val rows = Layout.readFooters(spark, files.iterator, rowGroups = true)
      .map(Layout.footerRows).sum
    assert(rows == spark.read.parquet(dir).count())
    assert(rows == 104L)
    // without row groups the footer still carries the schema, not the count
    assert(Layout.readFooters(spark, files.iterator, rowGroups = false)
      .map(Layout.footerRows).sum == 0L)
    // a file read makes every column nullable; the footers keep the writer's
    val merged = spark.read.option("mergeSchema", "true").parquet(dir).schema
    assert(org.apache.spark.sql.types.StructType(Layout.footerSchema(spark, files)
      .fields.map(_.copy(nullable = true))) == merged)
    assert(merged.fieldNames.toSet == Set("id", "s", "x", "k"))
  }

  test("one declared-schema reader: no mergeSchema, readTable or tombstone read outside its owner") {
    // library-written store tables read through Layout.readTable under
    // their declared columns, and tombstone sidecars through Layout's one
    // reader; only the conversation stores' PartitionedTable.read still
    // merges footer schemas
    import scala.jdk.CollectionConverters._
    val root = java.nio.file.Paths.get("src/main/scala")
    assert(java.nio.file.Files.isDirectory(root),
      s"source root not found under ${root.toAbsolutePath}")
    val layout = java.nio.file.Paths.get("graft/ops/Layout.scala")
    val walk = java.nio.file.Files.walk(root)
    val hits = try walk.iterator().asScala.toSeq
      .filter(_.toString.endsWith(".scala"))
      .flatMap { f =>
        val lines = java.nio.file.Files.readAllLines(f).asScala.toIndexedSeq
        lines.indices.flatMap { i =>
          val line = lines(i)
          // the mergeSchema read must sit directly under
          // `def read(` inside `object PartitionedTable`
          def inPartitionedTableRead = {
            val before = lines.take(i)
            before.lastIndexWhere(_.contains("def ")) ==
              before.lastIndexWhere(_.contains("def read(")) &&
              before.lastIndexWhere(_.contains("object ")) ==
              before.lastIndexWhere(_.contains("object PartitionedTable"))
          }
          val bad =
            (if (line.contains("\"mergeSchema\"") && !inPartitionedTableRead)
              Seq("\"mergeSchema\"") else Nil) ++
            (if (!f.endsWith(layout))
              Seq("def readTable", "loadTombstones", "MaxTombstones")
                .filter(line.contains)
            else Nil)
          bad.map(b => s"$f:${i + 1}: $b")
        }
      }
    finally walk.close()
    assert(hits.isEmpty, s"store reads outside their one reader:\n${hits.mkString("\n")}")
  }

  test("shuffle sizing lives in the ops: no registry scope, no bare size multiplier") {
    // a library caller of an op runs at the width the bench measures
    // only while the op owns its sizing; every byte estimate is a named
    // per-store-family estimate, declared beside that family's writer
    import scala.jdk.CollectionConverters._
    val root = java.nio.file.Paths.get("src/main/scala")
    assert(java.nio.file.Files.isDirectory(root),
      s"source root not found under ${root.toAbsolutePath}")
    val registry = Seq(java.nio.file.Paths.get("graft/SparkEntry.scala"),
      java.nio.file.Paths.get("graft/tools"))
    val sized = "(?:planBytes|dirBytes)\\("
    val literalProduct = (s"$sized(?:[^()]|\\([^()]*\\))*\\)\\)?\\s*\\*\\s*\\d|" +
      s"\\d\\s*\\*\\s*(?:BigInt\\()?[\\w.]*$sized").r
    val namedEstimate = "def \\w+Bytes\\(".r
    val walk = java.nio.file.Files.walk(root)
    val hits = try walk.iterator().asScala.toSeq
      .filter(_.toString.endsWith(".scala"))
      .flatMap { f =>
        val rel = root.relativize(f)
        java.nio.file.Files.readAllLines(f).asScala.zipWithIndex.flatMap {
          case (line, i) =>
            val scope =
              if (registry.exists(rel.startsWith) && line.contains("fitsOnePartition"))
                Seq("fitsOnePartition") else Nil
            val bare =
              if (literalProduct.findFirstIn(line).isDefined &&
                namedEstimate.findFirstIn(line).isEmpty) Seq("bare size multiplier")
              else Nil
            (scope ++ bare).map(b => s"$f:${i + 1}: $b")
        }
      }
    finally walk.close()
    assert(hits.isEmpty, s"shuffle sizing outside the ops' named estimates:\n${hits.mkString("\n")}")
  }

  test("no library code writes the session conf: conf writes live only in the tools") {
    // concurrent callers share one session, so a library write of its
    // conf leaks into every other caller's plans; the tools own their
    // sessions. GraftExtensions' setIfMissing floor is the one conf write
    // the library keeps, and it writes nothing a caller already set
    import scala.jdk.CollectionConverters._
    val root = java.nio.file.Paths.get("src/main/scala")
    assert(java.nio.file.Files.isDirectory(root),
      s"source root not found under ${root.toAbsolutePath}")
    val tools = java.nio.file.Paths.get("graft/tools")
    val write = "conf\\.set\\(|conf\\.unset\\(|setConf\\(".r
    val walk = java.nio.file.Files.walk(root)
    val hits = try walk.iterator().asScala.toSeq
      .filter(f => f.toString.endsWith(".scala") && !root.relativize(f).startsWith(tools))
      .flatMap { f =>
        java.nio.file.Files.readAllLines(f).asScala.zipWithIndex.collect {
          case (line, i) if write.findFirstIn(line).isDefined => s"$f:${i + 1}: $line"
        }
      }
    finally walk.close()
    assert(hits.isEmpty, s"session conf written outside the tools:\n${hits.mkString("\n")}")
  }

  test("vacuum: heals committed crashed swaps, sweeps condemned/uncommitted siblings, never touches live data") {
    val tmp = tempDir("graft_vacuum").toString
    val root = new org.apache.hadoop.fs.Path(s"$tmp/table")
    val fs = root.getFileSystem(spark.sessionState.newHadoopConf())
    fs.mkdirs(root)
    def touch(p: org.apache.hadoop.fs.Path, names: String*): Unit = {
      fs.mkdirs(p); names.foreach(n =>
        fs.create(new org.apache.hadoop.fs.Path(p, n), true).close())
    }
    def child(n: String) = new org.apache.hadoop.fs.Path(root, n)
    // A: crashed TIERED FOLD — live absent, aside holds consumed inputs
    // (a, b) + an untouched file (c), committed stage holds the merged
    // output + the _consumed manifest. Heal must hop c, drop a/b.
    touch(child(".partA.__old"), "a", "b", "c")
    touch(child(".partA.__compact"), "merged")
    val mf = fs.create(new org.apache.hadoop.fs.Path(
      child(".partA.__compact"), "_consumed"), true)
    mf.write("a\nb".getBytes("UTF-8")); mf.close()
    // B: crashed SWAPDIR window — live absent, stage complete + aside.
    // Heal must install the stage and drop the aside.
    touch(child(".partB.__old"), "old_gen")
    touch(child(".partB.__compact"), "new_gen")
    // C: crashed RETIRE — live absent, aside only (condemned rows). Sweep.
    touch(child(".partC.__old"), "condemned")
    // D: uncommitted stage, no live, no aside. Sweep.
    touch(child(".partD.__compact"), "half_written")
    // E: live PRESENT with superseded siblings — live data untouched,
    // siblings swept.
    touch(child("partE"), "live_data")
    touch(child(".partE.__old"), "superseded")
    touch(child(".partE.__compact"), "stale_stage")
    // F: crash inside the swap window of a release that staged at the
    // VISIBLE `partF.__compact` — live absent, hidden aside, visible
    // stage. Heal must install the stage, not read the crash as a retire.
    touch(child(".partF.__old"), "old_gen")
    touch(child("partF.__compact"), "new_gen")
    // G: the same crash of BM25's commit reset, which staged at the
    // visible `_commits.__staged`
    touch(child("._commits.__old"), "0", "1", "2")
    touch(child("_commits.__staged"), "0")
    assert(Layout.vacuum(spark, s"$tmp/table") == 7)
    // visible names only: the local ChecksumFileSystem shadows every file
    // with a .crc sibling
    def names(p: org.apache.hadoop.fs.Path): Set[String] =
      if (!fs.exists(p)) Set.empty
      else fs.listStatus(p).map(_.getPath.getName)
        .filterNot(_.startsWith(".")).toSet
    assert(names(child("partA")) == Set("merged", "c"),
      s"tiered heal must hop the untouched file: ${names(child("partA"))}")
    assert(names(child("partB")) == Set("new_gen"))
    assert(!fs.exists(child("partC")) && !fs.exists(child(".partC.__old")))
    assert(!fs.exists(child(".partD.__compact")) && !fs.exists(child("partD")))
    assert(names(child("partE")) == Set("live_data"))
    assert(names(child("partF")) == Set("new_gen"),
      s"the visible stage must be installed: ${names(child("partF"))}")
    assert(names(child("_commits")) == Set("0"))
    val leftovers = fs.listStatus(root).map(_.getPath.getName)
      .filter(_.contains("__")).toSeq
    assert(leftovers.isEmpty, s"no hidden sibling survives a vacuum: $leftovers")
    // idempotent; and a vacuumed-away root heals too (rebucket crash):
    // live absent + complete staged sibling of the ROOT
    assert(Layout.vacuum(spark, s"$tmp/table") == 0)
    val rootAside = new org.apache.hadoop.fs.Path(s"$tmp/.table.__old")
    val rootStage = new org.apache.hadoop.fs.Path(s"$tmp/.table.__compact")
    touch(rootStage, "staged_gen")
    fs.rename(root, rootAside)
    Layout.vacuum(spark, s"$tmp/table")
    assert(names(root).contains("staged_gen") && !fs.exists(rootAside),
      "a crashed whole-table swap must heal from the root's own siblings")
  }

  private def partitions = spark.conf.get("spark.sql.shuffle.partitions")

  test("fitsOnePartition: the advisory size fits, one byte more or an unknown estimate does not") {
    val advisory = spark.sessionState.conf.getConf(
      org.apache.spark.sql.internal.SQLConf.ADVISORY_PARTITION_SIZE_IN_BYTES)
    assert(Layout.fitsOnePartition(spark, BigInt(1024)))
    assert(Layout.fitsOnePartition(spark, BigInt(advisory)))
    assert(!Layout.fitsOnePartition(spark, BigInt(advisory) + 1))
    // the plan-stat default for a frame Catalyst cannot bound
    assert(!Layout.fitsOnePartition(spark, BigInt(Long.MaxValue)))
    // a frame that fits is read in one partition: its keyed aggregate
    // plans no exchange and keeps the ambient plan's values
    val multi = tempDir("graft_one").toString + "/t"
    spark.range(100).selectExpr("id % 7 AS k", "id AS v").repartition(3)
      .write.parquet(multi)
    val df = spark.read.parquet(multi)
    val one = Layout.onePartitionWhen(fits = true)(df).groupBy("k").agg(sum("v").as("s"))
    assert(!one.queryExecution.executedPlan.toString.contains("Exchange"),
      s"a one-partition input must plan no exchange:\n${one.queryExecution.executedPlan}")
    def values(f: org.apache.spark.sql.DataFrame) =
      f.collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1).toSeq
    assert(values(one) == values(df.groupBy("k").agg(sum("v").as("s"))))
    assert(Layout.onePartitionWhen(fits = false)(df) eq df)
    // planBytes: a parquet-backed frame reports a real (small) size; an
    // unresolvable estimate reports the safe huge default
    val tmp2 = tempDir("graft_wss").toString
    spark.range(100).toDF("id").write.mode("overwrite").parquet(s"$tmp2/t")
    val pb = Layout.planBytes(spark.read.parquet(s"$tmp2/t"))
    assert(pb > 0 && pb < BigInt(advisory),
      s"parquet-backed planBytes must be the real file size, got $pb")
  }

  test("a sized op held mid-body leaves the session's width and AQE to other threads") {
    val (cur, aqe) = (partitions, spark.conf.get("spark.sql.adaptive.enabled"))
    assume(cur.toInt > 1, s"needs a session wider than 1 partition, got $cur")
    import java.util.concurrent.TimeUnit
    LayoutSpecHold.arm()
    // local mode runs the tasks in this JVM: the first row's text blocks
    // inside writeIndex's first job until the latch opens
    val held = udf((s: String) => { LayoutSpecHold.hold(); s }).asNondeterministic()
    val docs = spark.range(8).select(col("id").as("doc_id"),
      held(concat(lit("apple banana "), col("id").cast("string"))).as("text"))
    assert(Layout.fitsOnePartition(spark, Layout.planBytes(docs)))
    val path = tempDir("graft_held").toString + "/idx"
    val err = new java.util.concurrent.atomic.AtomicReference[Throwable]()
    val writer = new Thread(() =>
      try graft.search.Bm25.writeIndex(docs, "doc_id", "text", path, termBuckets = 4)
      catch { case e: Throwable => err.set(e) })
    writer.start()
    try {
      assert(LayoutSpecHold.entered.await(120, TimeUnit.SECONDS),
        "writeIndex never reached its first job")
      assert(partitions == cur, s"another thread saw $partitions shuffle partitions, not $cur")
      assert(spark.conf.get("spark.sql.adaptive.enabled") == aqe)
      spark.range(100).groupBy(col("id") % 7).count().queryExecution.executedPlan match {
        case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
          val widths = a.executedPlan.collect {
            case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec =>
              e.outputPartitioning.numPartitions
          }
          assert(widths == Seq(cur.toInt), s"a groupBy planned meanwhile had widths $widths")
        case p => fail(s"a groupBy planned meanwhile was not adaptive:\n$p")
      }
    } finally {
      LayoutSpecHold.release.countDown()
      writer.join(120000)
    }
    assert(!writer.isAlive, "writeIndex hung")
    Option(err.get).foreach(e => throw e)
    assert(graft.search.Bm25.loadIndex(spark, path).nDocs == 8L)
  }
}

/** The latch a held op's UDF waits on: a top-level object, so the task's
  * deserialized closure reaches the test's instance instead of a copy. */
private object LayoutSpecHold {
  @volatile var entered = new java.util.concurrent.CountDownLatch(1)
  @volatile var release = new java.util.concurrent.CountDownLatch(1)
  def arm(): Unit = {
    entered = new java.util.concurrent.CountDownLatch(1)
    release = new java.util.concurrent.CountDownLatch(1)
  }
  def hold(): Unit = {
    entered.countDown()
    release.await(120, java.util.concurrent.TimeUnit.SECONDS)
    ()
  }
}
