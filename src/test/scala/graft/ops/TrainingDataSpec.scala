package graft.ops

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

class TrainingDataSpec extends SparkSpec {
  import spark.implicits._

  private def corpus(n: Int): DataFrame =
    spark.range(n).select(
      col("id").as("doc_id"),
      concat(lit("doc text body number "), col("id").cast("string"),
        lit(" with some shared filler words")).as("text"),
      (col("id") % 3).cast("string").as("lang"),
      concat(lit("src"), (col("id") % 4).cast("string")).as("source"))

  // ---------------------------------------------------------- sampling

  test("stratifiedSample: exact quota per stratum, deterministic, subset") {
    val docs = corpus(90)
    val s1 = TrainingData.stratifiedSample(docs, "lang", 10)
    val s2 = TrainingData.stratifiedSample(docs, "lang", 10)
    val counts = s1.groupBy("lang").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(counts == Map("0" -> 10L, "1" -> 10L, "2" -> 10L))
    assert(s1.select("doc_id").collect().toSet ==
      s2.select("doc_id").collect().toSet, "same sample across runs")
    assert(s1.join(docs, Seq("doc_id"), "left_anti").count() == 0, "subset of input")
  }

  test("clusterBalancedSample: quota per cluster, md5-least law, deterministic") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val s1 = TrainingData.clusterBalancedSample(emb, k = 4, perCluster = 10)
    // exact quota wherever the cluster is big enough; never exceeded
    val (assigned, _) = Ann.buildIvfSampled(emb, nLists = 4)
    val sizes = assigned.groupBy("centroid_id").count().collect()
      .map(r => r.getInt(0) -> r.getLong(1)).toMap
    val got = s1.groupBy("centroid_id").count().collect()
      .map(r => r.getInt(0) -> r.getLong(1)).toMap
    sizes.foreach { case (c, n) =>
      assert(got(c) == math.min(n, 10L), s"cluster $c: ${got(c)} of $n")
    }
    // the selected ids ARE the md5-least of each cluster — recomputed with
    // an independent MessageDigest, not Spark's md5
    def md5hex(s: String): String =
      java.security.MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8"))
        .map("%02x".format(_)).mkString
    val byCluster = assigned.select("vec_id", "centroid_id").as[(Long, Int)]
      .collect().groupBy(_._2)
    val want = byCluster.values.flatMap { rows =>
      rows.map(_._1).sortBy(id => (md5hex(id.toString), id)).take(10).toSeq
    }.toSet
    assert(s1.select("vec_id").as[Long].collect().toSet == want)
    // deterministic across invocations
    val s2 = TrainingData.clusterBalancedSample(emb, k = 4, perCluster = 10)
    assert(s2.select("vec_id").as[Long].collect().toSet == want)
  }

  test("stratifiedSample: stratum smaller than quota kept whole") {
    val counts = TrainingData.stratifiedSample(corpus(9), "lang", 10)
      .groupBy("lang").count().collect().map(_.getLong(1))
    assert(counts.forall(_ == 3L))
  }

  test("stratifiedSampleLarge: identical sample to the full-rank path") {
    val docs = corpus(3000)
    val full = TrainingData.stratifiedSample(docs, "lang", 15)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val pre = TrainingData.stratifiedSampleLarge(docs, "lang", 15)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(pre == full, "pre-filtered variant must return the identical sample")
    // small strata (size < quota) are kept whole through the frac>=1 branch
    val tiny = TrainingData.stratifiedSampleLarge(corpus(9), "lang", 10)
    assert(tiny.count() == 9)
  }

  test("sourceMixture: floor(weight*total) quotas, unmapped strata dropped") {
    val docs = corpus(100) // 25 docs per src0..src3
    val out = TrainingData.sourceMixture(
      docs, "source", Map("src0" -> 0.2, "src1" -> 0.05), total = 100L)
    val counts = out.groupBy("source").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    // src0 quota 20 (<25), src1 quota 5, src2/src3 absent from weights
    assert(counts == Map("src0" -> 20L, "src1" -> 5L))
  }

  test("sourceMixture: quota above stratum size keeps the stratum whole") {
    val counts = TrainingData.sourceMixture(
      corpus(8), "source", Map("src0" -> 1.0), total = 100L)
      .groupBy("source").count().collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(counts == Map("src0" -> 2L))
  }

  test("temperatureMixture: alpha flattens toward uniform, quotas exact") {
    // skewed corpus: src0 has 160 docs, src1 40, src2 10
    val docs = (0L until 210L).map(i =>
      (i, if (i < 160) "src0" else if (i < 200) "src1" else "src2", s"d$i"))
      .toDF("doc_id", "source", "text")
    def quotas(alpha: Double): Map[String, Long] =
      TrainingData.temperatureMixture(docs, "source", alpha, total = 100L)
        .groupBy("source").count().collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
    // alpha=1 ~ proportional: quota_i = floor(100 * n_i / 210)
    val prop = quotas(1.0)
    assert(prop == Map("src0" -> 76L, "src1" -> 19L, "src2" -> 4L), s"$prop")
    // alpha=0.3 flattens: head shrinks, tail grows, order preserved
    val flat = quotas(0.3)
    assert(flat("src0") < prop("src0") && flat("src2") > prop("src2"), s"$flat")
    assert(flat("src0") > flat("src1") && flat("src1") > flat("src2"), s"$flat")
    assert(flat.values.sum <= 100, s"floor quotas must not exceed total: $flat")
    // exact quota recomputation: w6 = round(n^0.3 * 1e6), q = 100*w6 div
    // tot, capped by the stratum size (kept whole, never replicated)
    val sizes = Map("src0" -> 160L, "src1" -> 40L, "src2" -> 10L)
    val w6 = sizes.map { case (k, n) =>
      k -> math.round(math.pow(n.toDouble, 0.3) * 1e6) }
    val tot6 = w6.values.sum
    val expect = w6.map { case (k, v) => k -> math.min(100L * v / tot6, sizes(k)) }
    assert(flat == expect, s"$flat vs $expect")
    // deterministic selection: same ids both runs
    val a = TrainingData.temperatureMixture(docs, "source", 0.3, 100L)
      .select("doc_id").as[Long].collect().sorted.toSeq
    val b = TrainingData.temperatureMixture(docs, "source", 0.3, 100L)
      .select("doc_id").as[Long].collect().sorted.toSeq
    assert(a == b && a.nonEmpty)
  }

  test("hashSplit: partition of the corpus, fraction near target, stable ids") {
    val docs = corpus(2000)
    val out = TrainingData.hashSplit(docs, valFrac = 0.1)
    assert(out.count() == 2000)
    val nVal = out.where(col("split") === "val").count()
    assert(nVal > 100 && nVal < 300, s"10% of 2000 expected ~200, got $nVal")
    // a doc's split depends only on its id: same ids in a different corpus
    // land identically
    val again = TrainingData.hashSplit(docs.where(col("doc_id") < 500), 0.1)
    val full = out.where(col("doc_id") < 500)
      .select("doc_id", "split").collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    again.collect().foreach(r =>
      assert(full(r.getAs[Long]("doc_id")) == r.getAs[String]("split")))
  }

  test("hashSplit: degenerate fractions") {
    val docs = corpus(50)
    assert(TrainingData.hashSplit(docs, 0.0).where(col("split") === "val").count() == 0)
    assert(TrainingData.hashSplit(docs, 1.0).where(col("split") === "train").count() == 0)
  }

  test("shardAssign: shards in range, deterministic, hash-balanced") {
    val out = TrainingData.shardAssign(corpus(4096), nShards = 8)
    val counts = out.groupBy("shard").count().collect()
      .map(r => r.getInt(0) -> r.getLong(1)).toMap
    assert(counts.keySet.subsetOf((0 until 8).toSet))
    // hash-uniform: no shard more than 2x the mean
    assert(counts.values.max < 2 * 4096 / 8)
    assert(counts.values.sum == 4096L)
    intercept[IllegalArgumentException] {
      TrainingData.shardAssign(corpus(10), nShards = 7) // 7 does not divide 256
    }
  }

  // ---------------------------------------------------------- packing

  test("concatPack: contiguous tape per group, exact bin math") {
    val docs = Seq(
      (0L, "a", 1000L), (1L, "a", 1500L), (2L, "a", 100L), (3L, "a", 0L),
      (4L, "b", 5000L))
      .toDF("doc_id", "grp", "toks")
    val out = TrainingData.concatPack(docs, capacity = 2048L,
        groupCols = Seq("grp"), tokensCol = col("toks"))
      .orderBy("grp", "doc_id")
      .select("doc_id", "offset", "start_bin", "offset_in_bin", "n_bins")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    assert(out(0) == ((0L, 0L, 0L, 0L, 1L)))          // [0,1000) in bin 0
    assert(out(1) == ((1L, 1000L, 0L, 1000L, 2L)))    // [1000,2500) spans bins 0-1
    assert(out(2) == ((2L, 2500L, 1L, 452L, 1L)))     // [2500,2600) in bin 1
    assert(out(3) == ((3L, 2600L, 1L, 552L, 1L)))     // zero-token doc: 1 bin
    assert(out(4) == ((4L, 0L, 0L, 0L, 3L)))          // group b: own tape, 3 bins
  }

  test("concatPack: offsets reconstruct the token total; windows stay full") {
    val docs = corpus(300)
    val out = TrainingData.concatPack(docs, capacity = 64L, groupCols = Seq("lang"))
    val byGroup = out.groupBy("lang")
      .agg(max(col("offset") + col("n_tokens")).as("tape"),
        sum("n_tokens").as("total"))
      .collect()
    byGroup.foreach(r => assert(r.getLong(1) == r.getLong(2), "tape length = token sum"))
    assert(out.where(col("offset_in_bin") < 0 || col("offset_in_bin") >= 64).count() == 0)
    intercept[IllegalArgumentException] {
      TrainingData.concatPack(docs, 64L, groupCols = Seq.empty)
    }
  }

  test("property: concatPack matches a sequential reference on random tapes") {
    val rnd = new scala.util.Random(42)
    val rows = (0 until 400).map { i =>
      (i.toLong, s"g${rnd.nextInt(5)}", rnd.nextInt(4) match {
        case 0 => 0L // zero-token docs are legal
        case _ => rnd.nextInt(5000).toLong
      })
    }
    val cap = 1024L
    val out = TrainingData.concatPack(
        rows.toDF("doc_id", "grp", "toks"), cap, Seq("grp"), tokensCol = col("toks"))
      .select("grp", "doc_id", "offset", "start_bin", "offset_in_bin", "n_bins")
      .collect()
      .map(r => (r.getString(0), r.getLong(1)) ->
        (r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5))).toMap
    // sequential reference: walk each group in doc_id order, carry offset
    rows.groupBy(_._2).foreach { case (g, docs) =>
      var off = 0L
      docs.sortBy(_._1).foreach { case (id, _, toks) =>
        val startBin = off / cap
        val endBin = math.max(off + toks - 1, off) / cap
        assert(out((g, id)) == ((off, startBin, off - startBin * cap, endBin - startBin + 1)),
          s"mismatch at group $g doc $id")
        off += toks
      }
    }
  }

  test("shardManifest: totals agree with direct aggregation and packing") {
    val docs = corpus(500)
    val sharded = TrainingData.shardAssign(docs, nShards = 4)
    val man = TrainingData.shardManifest(sharded, capacity = 64L)
      .collect().map(r => r.getInt(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    assert(man.values.map(_._1).sum == 500L)
    // window count per shard equals the packed tape's last bin + 1
    val packed = TrainingData.concatPack(sharded, 64L, Seq("shard"))
      .groupBy("shard")
      .agg(max(expr("(`offset` + greatest(n_tokens, 1) - 1) div 64")).as("last_bin"))
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    man.foreach { case (shard, (_, toks, _, windows)) =>
      assert(windows == (toks + 63) / 64, s"ceil mismatch shard $shard")
      assert(windows == packed(shard) + 1 || toks == 0,
        s"manifest windows vs packed tape mismatch for shard $shard")
    }
  }

  // ------------------------------------------- n-grams / decontamination

  private val phraseDocs = Seq(
    (0L, "the quick brown fox jumps over the lazy dog"),
    (1L, "a quick brown fox appeared in the garden today"),
    (2L, "quick brown fox sightings are common here now"),
    (3L, "completely unrelated text about spark partitions"),
    (4L, "")).toDF("doc_id", "text")

  test("repeatedNgrams: cross-document phrase found with exact df") {
    val out = TrainingData.repeatedNgrams(phraseDocs, n = 3, minDocs = 3L)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(out == Map("quick brown fox" -> 3L))
    // below the cutoff: nothing from the singleton docs
    val loose = TrainingData.repeatedNgrams(phraseDocs, n = 3, minDocs = 2L)
      .collect().map(_.getString(0)).toSet
    assert(loose.contains("quick brown fox"))
    assert(!loose.exists(_.contains("unrelated")))
  }

  test("ngramSets: dedup within doc, case-folded, short docs contribute nothing") {
    val docs = Seq((0L, "Ha ha HA ha"), (1L, "one")).toDF("doc_id", "text")
    val grams = TrainingData.ngramSets(docs, n = 2).collect()
      .map(r => (r.getLong(0), r.getString(1)))
    assert(grams.toSet == Set((0L, "ha ha")), "within-doc repeats collapse; 1-token doc empty")
  }

  test("contamination: eval doc sharing a train phrase flagged, clean doc absent") {
    val train = phraseDocs.where(col("doc_id").isin(0L, 3L))
    val eval = phraseDocs.where(col("doc_id").isin(1L, 2L, 4L))
      .unionByName(Seq((9L, "totally novel words nowhere else written")).toDF("doc_id", "text"))
    val out = TrainingData.contamination(train, eval, n = 3)
      .collect().map(r => (r.getAs[Long]("eval_id"), r.getAs[Long]("n_shared"))).toMap
    // docs 1 and 2 share the "quick brown fox" trigram with train doc 0
    assert(out.keySet == Set(1L, 2L))
    assert(out.values.forall(_ >= 1L))
    // share column bounded by 1
    val shares = TrainingData.contamination(train, eval, n = 3)
      .select("share").collect().map(_.getDouble(0))
    assert(shares.forall(s => s > 0 && s <= 1.0))
  }

  test("contamination plan: eval grams are the broadcast side") {
    val train = phraseDocs.where(col("doc_id") =!= 4L)
    val plan = TrainingData.contamination(train, phraseDocs.limit(2), n = 3)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin") || plan.contains("BroadcastExchange"),
      s"expected broadcast join in:\n$plan")
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"))
  }

  test("writeShards/loadShards: layout round-trips, one shard reads pruned") {
    val tmp = tempDir("graft_shards").toString
    val sharded = TrainingData.shardAssign(corpus(200), nShards = 4)
    TrainingData.writeShards(sharded, tmp, capacity = 64L, nShards = 4)
    val (docs, manifest) = TrainingData.loadShards(spark, tmp)
    assert(docs.count() == 200 && manifest.count() == 4)
    // manifest totals match a direct recount of the written data
    val direct = docs.groupBy("shard").count().collect()
      .map(r => r.getInt(0) -> r.getLong(1)).toMap
    manifest.collect().foreach { r =>
      assert(r.getLong(1) == direct(r.getInt(0)), s"shard ${r.getInt(0)} doc count")
    }
    // single-shard read prunes partitions at the scan
    val plan = docs.where(col("shard") === 2)
      .queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters: [isnotnull(shard") ||
      plan.contains("PartitionFilters: [shard"), s"no pruning in:\n${plan.take(800)}")
  }

  // --------------------------------------------------------- epoch mixture

  test("epochMixture: integer epochs replicate exactly, unmapped strata drop") {
    val docs = corpus(100) // 25 docs per src0..src3
    val out = TrainingData.epochMixture(docs, "source",
      Map("src0" -> 2.0, "src1" -> 1.0, "src3" -> 0.0))
    val counts = out.groupBy("source").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(counts == Map("src0" -> 50L, "src1" -> 25L))
    // copy indexes are dense 0..floor(ep)-1 per doc
    val copies = out.where(col("source") === "src0").groupBy("doc_id")
      .agg(sort_array(collect_list(col("copy"))).as("cs"))
      .select("cs").collect().map(_.getSeq[Int](0).toSeq).toSet
    assert(copies == Set(Seq(0, 1)))
  }

  test("epochMixture: fractional epoch takes a uniform deterministic subset") {
    val docs = corpus(400) // 100 docs per source
    val out = TrainingData.epochMixture(docs, "source", Map("src0" -> 1.5))
    val n = out.count()
    // 100 full copies + Binomial(100, 0.5) extras
    assert(n > 125 && n < 175, s"expected ~150 rows, got $n")
    val again = TrainingData.epochMixture(docs, "source", Map("src0" -> 1.5))
    assert(out.select("doc_id", "copy").collect().map(_.toString).sorted.toSeq ==
      again.select("doc_id", "copy").collect().map(_.toString).sorted.toSeq)
    // sub-1 epoch: plain downsample, every kept row is copy 0
    val frac = TrainingData.epochMixture(docs, "source", Map("src1" -> 0.3))
    val m = frac.count()
    assert(m > 15 && m < 45, s"expected ~30 rows, got $m")
    assert(frac.where(col("copy") =!= 0).count() == 0)
    intercept[IllegalArgumentException] {
      TrainingData.epochMixture(docs, "source", Map("src0" -> 65.0))
    }
  }

  // ------------------------------------------------ importance resampling

  private lazy val dsirTarget = Seq(
    (100L, "alpha physics equations describe quantum fields and alpha particles"),
    (101L, "alpha decay emits alpha particles from quantum nuclei"),
    (102L, "quantum field equations govern alpha interactions")
  ).toDF("doc_id", "text")

  private lazy val dsirRaw = {
    val alphaish = Seq(
      (0L, "alpha particles and quantum fields in physics equations"),
      (1L, "quantum alpha decay equations for alpha particles"),
      (2L, "alpha interactions govern quantum field physics"))
    val betaish = (10L until 40L).map(i =>
      (i, s"cooking recipe number $i uses butter flour sugar and eggs"))
    (alphaish ++ betaish).toDF("doc_id", "text")
  }

  test("hashedGramBuckets: multiset counts over unigrams + bigrams") {
    val docs = Seq((0L, "a a a"), (1L, ""), (2L, "x y")).toDF("doc_id", "text")
    val rows = TrainingData.hashedGramBuckets(docs, nBuckets = 8192)
      .collect().map(r => (r.getLong(0), r.getLong(2)))
    // doc 0: unigram "a" x3 + bigram "a a" x2; doc 1 empty; doc 2: x, y, "x y"
    assert(rows.filter(_._1 == 0L).map(_._2).sorted.toSeq == Seq(2L, 3L))
    assert(!rows.exists(_._1 == 1L))
    assert(rows.filter(_._1 == 2L).map(_._2).sum == 3L)
    // buckets stay in range
    val buckets = TrainingData.hashedGramBuckets(docs, nBuckets = 16)
      .select("bucket").collect().map(_.getLong(0))
    assert(buckets.forall(b => b >= 0 && b < 16))
  }

  test("importanceWeights: target-domain docs outweigh off-domain docs") {
    val w = TrainingData.importanceWeights(dsirRaw, dsirTarget, nBuckets = 8192)
      .collect().map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("logw_q")).toMap
    assert(w.size == 33, "every non-empty raw doc gets a weight")
    val alphaMin = (0L to 2L).map(w).min
    val betaMax = (10L until 40L).map(w).max
    assert(alphaMin > betaMax,
      s"alpha-domain docs must outweigh recipes: alphaMin=$alphaMin betaMax=$betaMax")
  }

  test("importanceResample: Gumbel top-k prefers the target lookalikes, deterministic") {
    val sel = TrainingData.importanceResample(dsirRaw, dsirTarget, k = 3, nBuckets = 8192)
    val ids = sel.select("doc_id").collect().map(_.getLong(0)).toSet
    // logw gap between domains is tens of 1e6-grid units; Gumbel noise is
    // O(1e6) — selection must be exactly the three alpha docs
    assert(ids == Set(0L, 1L, 2L), s"selected $ids")
    val again = TrainingData.importanceResample(dsirRaw, dsirTarget, k = 3, nBuckets = 8192)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(again == ids)
    // k past the corpus returns every weighted doc, ranked
    assert(TrainingData.importanceResample(dsirRaw, dsirTarget, k = 1000).count() == 33)
  }

  // ----------------------------------------------------- token mixture

  test("tokenMixture: exclusive-prefix budget rule, md5 order, strata rules") {
    val docs = corpus(40) // sources src0..src3, 10 docs each, 10 tokens per doc
    val out = TrainingData.tokenMixture(docs, "source",
      Map("src0" -> 25L, "src1" -> 1000L, "src2" -> 0L))
    val by = out.groupBy("source")
      .agg(count(lit(1)).as("n"), sum("n_tokens").as("toks"))
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    // src0: exclusive prefix sums 0/10/20 < 25 → exactly 3 docs (one-doc
    // overshoot: 30 tokens against a 25 budget); src1's huge budget keeps
    // the stratum whole; src2's zero budget and unmapped src3 vanish
    assert(by == Map("src0" -> ((3L, 30L)), "src1" -> ((10L, 100L))), s"got $by")

    // the three src0 winners are the md5-least ids — recomputed here with
    // java.security MessageDigest, independent of Spark's md5
    def md5hex(s: String): String =
      java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    val expected = (0 until 40).filter(_ % 4 == 0).map(_.toLong)
      .sortBy(id => md5hex(id.toString)).take(3).toSet
    val got = out.where(col("source") === "src0")
      .select("doc_id").as[Long].collect().toSet
    assert(got == expected, s"got $got expected $expected")
  }

  test("tokenMixture: deterministic across runs; never replicates; subset of input") {
    val docs = corpus(60)
    val m = Map("src0" -> 55L, "src1" -> 70L, "src2" -> 5L, "src3" -> 95L)
    val a = TrainingData.tokenMixture(docs, "source", m)
    val b = TrainingData.tokenMixture(docs, "source", m)
    assert(a.select("doc_id").as[Long].collect().sorted.toSeq ==
      b.select("doc_id").as[Long].collect().sorted.toSeq)
    assert(a.count() == a.select("doc_id").distinct().count())
    assert(a.join(docs, Seq("doc_id"), "left_anti").count() == 0)
    // a 5-token budget still admits the first doc (exclusive prefix 0 < 5)
    assert(a.where(col("source") === "src2").count() == 1)
  }

  test("hardNegatives: positives excluded exactly, ranks dense, no-positive queries get plain top-k") {
    // vectors on a line: distance order from query q is |i - q|
    val emb = spark.range(10).select(
      col("id").as("doc_id"),
      array(col("id").cast("float"), lit(0.0f)).as("embedding"))
    val qs = Seq((100L, Array(0.0f, 0.0f)), (200L, Array(9.0f, 0.0f)))
      .toDF("query_id", "query_vec")
    // query 100's positives CROWD its top (docs 0 and 1 are ranks 1-2);
    // query 200 has none
    val pos = Seq((100L, 0L), (100L, 1L)).toDF("query_id", "doc_id")
    val got = TrainingData.hardNegatives(qs, emb, pos, k = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(got == Set(
      (100L, 1L, 2L), (100L, 2L, 3L), (100L, 3L, 4L), // raw ranks 3-5, re-ranked dense
      (200L, 1L, 9L), (200L, 2L, 8L), (200L, 3L, 7L)), // plain top-k, nothing excluded
      s"hard-negative law drifted: $got")
    // the fetch-depth guard: a query whose positives are unbounded refuses
    val wide = spark.range(20000).select(lit(1L).as("query_id"), col("id").as("doc_id"))
    val e = intercept[IllegalArgumentException] {
      TrainingData.hardNegatives(qs, emb, wide, k = 3)
    }
    assert(e.getMessage.contains("bounded"))
    // the banded route: a width generous enough that every point shares
    // band keys makes the candidate set total — the approx fetch must
    // then equal the exact route bit for bit (and positives can never
    // leak in on EITHER route, the anti-join is downstream of the fetch)
    val approx = TrainingData.hardNegatives(qs, emb, pos, k = 3,
      approx = true, width = 20.0)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(approx == got,
      s"total-candidate banding must reproduce the exact route: $approx")
  }
}
