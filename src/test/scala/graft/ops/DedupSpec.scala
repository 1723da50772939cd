package graft.ops

import graft.SparkSpec
import org.apache.spark.ListenerBusDrain
import org.apache.spark.sql.functions._

class DedupSpec extends SparkSpec {
  import spark.implicits._

  private lazy val docs = Seq(
    (1L, "the quick brown fox jumps over the lazy dog"),
    (2L, "the quick brown fox jumps over the lazy dog"),  // exact dup of 1
    (3L, "the quick brown fox jumps over a lazy dog"),    // near dup
    (4L, "completely different words entirely unrelated zebra"),
    (5L, "the quick brown fox leaps over the lazy dog")   // near dup
  ).toDF("doc_id", "text")

  test("exact dup groups find the identical pair only") {
    val groups = Dedup.exactDupGroups(docs).collect()
    assert(groups.length == 1)
    assert(groups(0).getAs[scala.collection.Seq[Long]]("ids").toSeq == Seq(1L, 2L))
  }

  test("dedupExact keeps the lowest id per text") {
    val kept = Dedup.dedupExact(docs).select("doc_id").as[Long].collect().toSet
    assert(kept == Set(1L, 3L, 4L, 5L))
  }

  test("jaccard pairs find near-dups, not the unrelated doc") {
    val pairs = Dedup.jaccardPairs(docs, minSim = 0.5)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(pairs.contains((1L, 2L)))
    assert(pairs.contains((1L, 3L)))
    assert(!pairs.exists { case (a, b) => a == 4L || b == 4L })
  }

  test("jaccard value is exactly |inter|/|union|") {
    val j = Dedup.jaccardPairs(docs, minSim = 0.0)
      .where($"id_a" === 1 && $"id_b" === 3)
      .select("jaccard").as[Double].head()
    // sets: {the,quick,brown,fox,jumps,over,lazy,dog} (8) vs same minus
    // "the"->"a" wait: {the,quick,brown,fox,jumps,over,a,lazy,dog} (9)
    // inter = 8, union = 9
    assert(math.abs(j - 8.0 / 9.0) < 1e-6)
  }

  test("maxDocFreq cutoff drops hot tokens from candidate generation") {
    val pairs = Dedup.jaccardPairs(docs, minSim = 0.0, maxDocFreq = 1)
    // every token shared by >1 doc is cut: no co-occurrences remain
    assert(pairs.count() == 0)
  }

  test("minhash candidates include the exact duplicate pair") {
    val pairs = Dedup.minHashPairs(docs, shingleSize = 1, threshold = 0.5)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(pairs.contains((1L, 2L)))
  }

  test("simhash: identical docs hash identically, near-dups are close") {
    val sigs = docs.select($"doc_id",
      Dedup.simhash(split(lower(trim($"text")), "\\s+")).as("sig"))
      .as[(Long, Long)].collect().toMap
    assert(sigs(1L) == sigs(2L))
    def hamming(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    assert(hamming(sigs(1L), sigs(3L)) < hamming(sigs(1L), sigs(4L)))
  }

  test("simhash codegen expression is bit-identical to the interpreted HOF twin") {
    // the round-9 rewrite (one static call per row) must reproduce the
    // 64-interpreted-aggregates formulation EXACTLY — including empty
    // token arrays (0), null tokens inside the array (hash = the seed,
    // like xxhash64(NULL)), and a null array (null)
    val fixture = spark.read
      .parquet("/root/testdata/sf0.001/documents.parquet")
      .select($"doc_id", split(lower(trim($"text")), "\\s+").as("toks"))
      .unionByName(Seq(
        (9001L, Seq.empty[String]),
        (9002L, Seq("a", null, "b")),
        (9003L, null)
      ).toDF("doc_id", "toks"))
    val both = fixture.select(
      $"doc_id",
      Dedup.simhash($"toks").as("fast"),
      Dedup.simhashHof($"toks").as("hof"))
    assert(both.where($"toks".isNotNull && !($"fast" <=> $"hof")).count() == 0,
      "codegen simhash diverged from the HOF formulation")
    // deliberate deviation: a NULL array hashes to NULL (standard null
    // propagation) where the HOF emitted 0 as a when(null > 0) artifact —
    // which silently COLLIDED null-text docs with empty-text docs (sig 0)
    val nulls = both.where($"doc_id" === 9003L).select("fast").collect()
    assert(nulls.head.isNullAt(0), "null token array must hash to null")
    assert(both.where($"doc_id" === 9001L).select("fast")
      .as[Long].head() == 0L, "empty token array must hash to 0")
  }

  test("simhash banded pairs find the identical pair with hamming 0") {
    val pairs = Dedup.simhashPairs(docs, maxHamming = 0)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(pairs == Set((1L, 2L)))
  }

  test("simhash banding recall holds for maxHamming beyond 3 (adaptive bands)") {
    // near-dups 1-3 and 1-5 differ by one token; their simhashes may differ
    // in >3 bits spread across bands — the adaptive band count must still
    // surface every pair the hamming filter would accept
    val within8 = docs.select($"doc_id",
      Dedup.simhash(split(lower(trim($"text")), "\\s+")).as("sig"))
      .as[(Long, Long)].collect()
      .combinations(2)
      .collect { case Array((a, sa), (b, sb))
        if java.lang.Long.bitCount(sa ^ sb) <= 8 => (a min b, a max b) }
      .toSet
    val found = Dedup.simhashPairs(docs, maxHamming = 8)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(found == within8, s"banding missed ${within8 -- found}")
  }

  test("simhash hot-bucket guard bounds a degenerate mass-duplicate corpus") {
    // 300 identical boilerplate docs concentrate every band bucket; without
    // the guard the band self-join emits 300·299/2 = 44850 pairs from that
    // bucket alone. The guard drops buckets past maxBucketSize, so the
    // candidate volume stays bounded while pairs in cold buckets survive.
    val boiler = (1L to 300L).map(i =>
      (i, "the same boilerplate page content repeated everywhere forever"))
    val near = Seq(
      (1001L, "completely distinct article about orchard harvesting methods and tools"),
      (1002L, "completely distinct article about orchard harvesting methods and gear"))
    val corpus = (boiler ++ near).toDF("doc_id", "text")
    val guarded = Dedup.simhashPairs(corpus, maxHamming = 8, maxBucketSize = 50)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(!guarded.exists { case (a, b) => a <= 300L && b <= 300L },
      "mass-dup bucket must be cut by the guard")
    assert(guarded.size <= 10, s"candidate volume must stay bounded, got ${guarded.size}")
    // the genuinely-near pair lives in cold buckets and must survive (gated
    // on its actual hamming distance, same as the adaptive-band test)
    val sigs = corpus.where($"doc_id" > 1000L).select($"doc_id",
      Dedup.simhash(split(lower(trim($"text")), "\\s+")).as("sig"))
      .as[(Long, Long)].collect().toMap
    if (java.lang.Long.bitCount(sigs(1001L) ^ sigs(1002L)) <= 8)
      assert(guarded.contains((1001L, 1002L)),
        "cold-bucket near-dup pair must survive the guard")
    // default cap is inactive on sane corpora: the tiny docs fixture's
    // output is unchanged
    val pairs = Dedup.simhashPairs(docs, maxHamming = 0)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(pairs == Set((1L, 2L)))
  }

  test("hot-bucket guard recall contract: loss is exactly the all-hot-band pairs, " +
    "and hammingHotBuckets reports the blind spot") {
    // True near-dups INSIDE a hot bucket are the guard's blind spot: a
    // pair is lost iff every band it shares is hot. Construct that worst
    // case deliberately — 20 identical signatures (every shared band hot
    // at cap 10) plus a cold near pair — and verify the recall loss is
    // exactly the hot-cluster pairs, no more, and that the drop metric
    // makes the loss observable rather than silent.
    val hotCluster = (1L to 20L).map(i => (i, 0x0123456789abcdefL))
    val coldPair = Seq((101L, 0x7777000011112222L), (102L, 0x7777000011112223L))
    val loner = Seq((201L, -0x123456789abcdL))
    val sigs = (hotCluster ++ coldPair ++ loner).toDF("vec_id", "sig")

    def brute(h: Int): Set[(Long, Long)] = {
      val all = hotCluster ++ coldPair ++ loner
      (for {
        (a, sa) <- all; (b, sb) <- all
        if a < b && java.lang.Long.bitCount(sa ^ sb) <= h
      } yield (a, b)).toSet
    }
    val truth = brute(2)
    val found = Dedup.hammingPairs(sigs, "vec_id", "sig", maxHamming = 2,
      maxBucketSize = 10)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    val lost = truth -- found
    // loss = exactly the 20·19/2 hot-cluster pairs; the cold pair survives
    assert(lost == truth.filter { case (a, b) => a <= 20L && b <= 20L },
      s"recall loss must be confined to the hot cluster; lost=$lost")
    assert(found.contains((101L, 102L)), "cold near pair must survive")
    assert(lost.size == 190)
    // the drop metric quantifies the blind spot: 3 bands (maxHamming=2),
    // each with one 20-member bucket past the cap of 10
    val hot = Dedup.hammingHotBuckets(sigs, "vec_id", "sig", maxHamming = 2,
      maxBucketSize = 10)
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2)))
    assert(hot.length == 3 && hot.forall(_._3 == 20L),
      s"expected 3 hot 20-member buckets, got ${hot.toSeq}")
    // and with the guard above the cluster size nothing is dropped:
    // metric empty, recall exact (the pigeonhole guarantee intact)
    assert(Dedup.hammingHotBuckets(sigs, "vec_id", "sig", 2, 25).isEmpty)
    val full = Dedup.hammingPairs(sigs, "vec_id", "sig", 2, 25)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(full == truth)
  }

  // ---- quantitative candidate-quality harness: the approximate detectors
  // measured against the exact token-jaccard ground truth on the real
  // fixture (same corpus slice as the registered d3/d5/d6 queries).

  private lazy val fixtureDocs = spark.read
    .parquet("/root/testdata/sf0.001/documents.parquet")
    .where($"doc_id" < 100).select($"doc_id", $"text")

  test("minhash candidates: precision/recall vs exact jaccard on the fixture") {
    // shingleSize=1 puts MinHash in the SAME token-set space jaccardPairs
    // measures, so exact pairs at sim >= 0.6 are the ground truth for the
    // registered d5 threshold (jaccard distance 0.4)
    val exact = Dedup.jaccardPairs(fixtureDocs, minSim = 0.6)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(exact.nonEmpty, "fixture must contain near-dup pairs at sim >= 0.6")
    val mh = Dedup.minHashPairs(fixtureDocs, shingleSize = 1, threshold = 0.4)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    val recall = exact.count(mh.contains).toDouble / exact.size
    val precision = if (mh.isEmpty) 1.0 else mh.count(exact.contains).toDouble / mh.size
    // recall: P(candidate at sim 0.6) = 1 - 0.4^8 ≈ 0.999 with 8 tables;
    // precision: approxSimilarityJoin verifies the TRUE distance on every
    // candidate, so misses come only from tokenizer edge cases
    assert(recall >= 0.9, s"minhash recall=$recall (|exact|=${exact.size}, |mh|=${mh.size})")
    assert(precision >= 0.9, s"minhash precision=$precision (|mh|=${mh.size})")
  }

  test("signature store: incremental near-dup equals the cross-split exact pairs") {
    // corpus (ids % 3 != 0) persisted once; the batch (% 3 == 0) probes
    // the store — output must match the exact cross-split jaccard (the
    // d19 premise: banding recall ≈ 1 at j >= 0.8 with 32x4 bands)
    val path = tempDir("graft_mh_store").toString + "/idx"
    val corpus = fixtureDocs.where($"doc_id" % 3 =!= 0)
    val batch = fixtureDocs.where($"doc_id" % 3 === 0)
    Dedup.writeMinhash(corpus, path, shingleSize = 1, numHashes = 128, bands = 32)
    val got = Dedup.nearDupesAgainstStore(spark, batch, path, minJaccard = 0.8)
      .select("batch_id", "corpus_id").as[(Long, Long)].collect().toSet
    // exact ground truth: full-fixture exact pairs restricted to the split
    val exact = Dedup.jaccardPairs(fixtureDocs, minSim = 0.8)
      .select("id_a", "id_b").as[(Long, Long)].collect()
      .flatMap { case (a, b) => Seq((a, b), (b, a)) }
      .filter { case (x, y) => x % 3 == 0 && y % 3 != 0 }.toSet
    assert(exact.nonEmpty, "fixture must contain cross-split near-dups")
    assert(got == exact, s"store probe drifted: extra ${got.diff(exact).take(5)}, " +
      s"missing ${exact.diff(got).take(5)}")
    // append is doc-idempotent: re-shipping stored docs adds nothing,
    // genuinely new docs extend the store and become findable
    assert(Dedup.appendMinhash(spark, corpus, path) == 0L)
    val novel = Seq((9001L, "alpha beta gamma delta epsilon zeta"),
      (9002L, "totally unrelated content here")).toDF("doc_id", "text")
    assert(Dedup.appendMinhash(spark, novel, path) == 2L)
    val probe = Seq((8001L, "alpha beta gamma delta epsilon zeta"))
      .toDF("doc_id", "text")
    val hit = Dedup.nearDupesAgainstStore(spark, probe, path, minJaccard = 0.8)
      .select("corpus_id").as[Long].collect().toSeq
    assert(hit == Seq(9001L), s"appended twin must be found: $hit")
  }

  test("compactMinhashFiles bin-packs the four tables value-invisibly") {
    // seed + several appends leave one file set per batch in each table;
    // packing folds them per table (merge set from the listing) without
    // moving a single probe value — deletes stay in the sidecar, so the
    // tombstoned exclusion survives the rewrite verbatim
    val path = tempDir("graft_mh_pack").toString + "/idx"
    Dedup.writeMinhash(fixtureDocs.where($"doc_id" % 3 =!= 0), path,
      shingleSize = 1, numHashes = 128, bands = 32)
    for (b <- 0 until 3)
      Dedup.appendMinhash(spark,
        Seq((9100L + b, s"novel content batch $b words here")).toDF("doc_id", "text"),
        path)
    Dedup.deleteMinhash(spark, path, Seq(9101L))
    val batch = fixtureDocs.where($"doc_id" % 3 === 0)
    def probe(): Set[(Long, Long)] =
      Dedup.nearDupesAgainstStore(spark, batch, path, minJaccard = 0.8)
        .select("batch_id", "corpus_id").as[(Long, Long)].collect().toSet
    val before = probe()
    val packed = Dedup.compactMinhashFiles(spark, path, targetBytes = Long.MaxValue)
    assert(packed.nonEmpty, "expected at least one table to need packing")
    assert(packed.forall { case (_, (b, a)) => a < b })
    assert(probe() == before, "file packing must not change any probe value")
    // the sidecar is untouched: the tombstoned doc still cannot suppress
    val twin = Seq((8101L, "novel content batch 1 words here")).toDF("doc_id", "text")
    assert(Dedup.nearDupesAgainstStore(spark, twin, path, minJaccard = 0.8)
      .where($"corpus_id" === 9101L).count() == 0,
      "deleted corpus doc must stay excluded after packing")
  }

  test("estimated store probe: exact twins hit all positions, error law holds") {
    val path = tempDir("graft_mh_est").toString + "/idx"
    val corpus = fixtureDocs.where($"doc_id" % 3 =!= 0)
    val batch = fixtureDocs.where($"doc_id" % 3 === 0)
    Dedup.writeMinhash(corpus, path, shingleSize = 1, numHashes = 128, bands = 32)
    val est = Dedup.nearDupesAgainstStoreEstimated(
      spark, batch, path, minJaccardEst = 0.8)
      .select("batch_id", "corpus_id", "est_matches")
      .as[(Long, Long, Long)].collect()
    // identical token sets estimate jaccard 1 exactly: every position of
    // the two signatures is the same min
    val exactPairs = Dedup.jaccardPairs(fixtureDocs, minSim = 0.999)
      .select("id_a", "id_b").as[(Long, Long)].collect()
      .flatMap { case (a, b) => Seq((a, b), (b, a)) }
      .filter { case (x, y) => x % 3 == 0 && y % 3 != 0 }.toSet
    assert(exactPairs.nonEmpty)
    val full = est.filter(_._3 == 128L).map(p => (p._1, p._2)).toSet
    assert(exactPairs.subsetOf(full),
      s"exact twins must match on every position: missing ${exactPairs.diff(full).take(5)}")
    // every estimated hit is a genuinely similar pair: exact jaccard at
    // least threshold − 4σ (σ = sqrt(j(1−j)/128) ≈ 0.035)
    val exactJ = Dedup.jaccardPairs(fixtureDocs, minSim = 0.0)
      .select("id_a", "id_b", "jaccard").collect()
      .flatMap(r => Seq(((r.getLong(0), r.getLong(1)), r.getDouble(2)),
        ((r.getLong(1), r.getLong(0)), r.getDouble(2)))).toMap
    est.foreach { case (b, c, _) =>
      val j = exactJ.getOrElse((b, c), 0.0)
      assert(j >= 0.8 - 0.14, s"estimated hit ($b,$c) has exact jaccard $j")
    }
    // hash-deterministic: a rerun is value-identical (the golden premise)
    val again = Dedup.nearDupesAgainstStoreEstimated(
      spark, batch, path, minJaccardEst = 0.8)
      .select("batch_id", "corpus_id", "est_matches")
      .as[(Long, Long, Long)].collect()
    assert(est.toSeq == again.toSeq)
  }

  test("minHashPairsHashed: precision exact, recall vs exact jaccard on the fixture") {
    // same token-set space as jaccardPairs at shingleSize=1; the exact
    // pairs at sim >= 0.6 are the ground truth. Precision is exact BY
    // CONSTRUCTION (candidates are verified with the true jaccard over the
    // shingle-hash sets), so every returned pair must be in the exact set;
    // recall is the banding probability 1-(1-j^r)^b — with 32 bands of 4
    // rows, P(candidate | j=0.6) ≈ 0.99.
    val exact = Dedup.jaccardPairs(fixtureDocs, minSim = 0.6)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(exact.nonEmpty)
    val got = Dedup.minHashPairsHashed(fixtureDocs, shingleSize = 1,
      numHashes = 128, bands = 32, minJaccard = 0.6)
      .select("id_a", "id_b", "jaccard").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    val gotPairs = got.map(p => (p._1, p._2)).toSet
    assert(gotPairs.subsetOf(exact),
      s"verified pairs must all be exact-true: extras ${gotPairs.diff(exact).take(5)}")
    val recall = exact.count(gotPairs.contains).toDouble / exact.size
    assert(recall >= 0.9, s"hashed-minhash recall=$recall " +
      s"(|exact|=${exact.size}, |got|=${gotPairs.size})")
    // determinism: no fitted state, so a rerun is value-identical
    val again = Dedup.minHashPairsHashed(fixtureDocs, shingleSize = 1,
      numHashes = 128, bands = 32, minJaccard = 0.6)
      .select("id_a", "id_b", "jaccard").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(got.toSeq == again.toSeq)
    // plan hygiene: band-bucket join, never a cross product
    val plan = Dedup.minHashPairsHashed(fixtureDocs, shingleSize = 1)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"),
      s"hashed minhash must stay bucketed:\n$plan")
    // the two explicit repartitions are load-bearing (without an Exchange
    // at the fan-outs, Spark re-runs the scan+hash subtree per consumer —
    // measured 4x; see PERF.md round-5): pin their presence
    assert("REPARTITION_BY_COL".r.findAllIn(plan).size >= 2,
      s"fan-out repartitions missing — signature subtree no longer shared:\n$plan")
  }

  test("simhash pairs: lossless banding and discriminative signatures on the fixture") {
    // Simhash's metric is HAMMING distance, not jaccard — on long docs a
    // 10% token change can flip many marginal majority bits, so
    // "jaccard >= 0.9 => hamming <= 8" does NOT hold (measured: ~4% of the
    // j>=0.9 pairs sit within hamming 8 on this fixture). The honest
    // quantitative claims are the two below.
    val sigs = fixtureDocs.select($"doc_id",
      Dedup.simhash(split(lower(trim($"text")), "\\s+")).as("sig"))
      .as[(Long, Long)].collect()
    // (1) the banded join is LOSSLESS vs its own metric: it returns exactly
    // the brute-force hamming <= 8 pairs (pigeonhole band guarantee, here
    // verified against all 4950 driver-side pairs of the fixture slice)
    val brute = sigs.combinations(2).collect {
      case Array((a, sa), (b, sb))
        if java.lang.Long.bitCount(sa ^ sb) <= 8 => (a min b, a max b)
    }.toSet
    val sh = Dedup.simhashPairs(fixtureDocs, maxHamming = 8)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(sh == brute,
      s"banding must be exact vs brute force: missed ${brute.diff(sh).take(5)}, " +
        s"extra ${sh.diff(brute).take(5)}")
    assert(sh.nonEmpty, "fixture slice must contain hamming<=8 pairs")
    // (2) the signature DISCRIMINATES: high-jaccard pairs sit far closer in
    // hamming space than unrelated pairs
    val sigMap = sigs.toMap
    def meanHamming(pairs: Set[(Long, Long)]): Double =
      pairs.toSeq.map { case (a, b) =>
        java.lang.Long.bitCount(sigMap(a) ^ sigMap(b)).toDouble
      }.sum / pairs.size
    val verySim = Dedup.jaccardPairs(fixtureDocs, minSim = 0.9)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(verySim.nonEmpty)
    val allPairs = sigs.map(_._1).combinations(2)
      .map { case Array(a, b) => (a min b, a max b) }.toSet
    val unrelated = allPairs.diff(
      Dedup.jaccardPairs(fixtureDocs, minSim = 0.3)
        .select("id_a", "id_b").as[(Long, Long)].collect().toSet)
    val (simMean, farMean) = (meanHamming(verySim), meanHamming(unrelated))
    assert(simMean + 8 <= farMean,
      s"j>=0.9 pairs mean hamming $simMean must sit well below unrelated $farMean")
  }

  test("star-contraction CC equals min-propagation CC and handles long chains") {
    // same labels as the O(diameter) min-propagation on a real pair graph
    val pairs = Dedup.jaccardPairs(fixtureDocs, minSim = 0.6)
    val viaProp = Dedup.connectedComponents(pairs)
      .select("id", "comp").as[(Long, Long)].collect().toSet
    val viaStar = Dedup.connectedComponentsStar(pairs)
      .select("id", "comp").as[(Long, Long)].collect().toSet
    assert(viaProp.nonEmpty && viaStar == viaProp,
      s"star labels diverge: ${viaStar.diff(viaProp).take(5)} vs ${viaProp.diff(viaStar).take(5)}")
    // a 300-node path graph has diameter 299 — min-propagation's worst
    // case — but star contraction halves tree heights per alternation and
    // must land the whole chain on node 1 within O(log n) rounds
    val chain = (1L until 300L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val labels = Dedup.connectedComponentsStar(chain, maxIter = 12)
      .select("id", "comp").as[(Long, Long)].collect()
    assert(labels.length == 300)
    assert(labels.forall(_._2 == 1L),
      s"chain must collapse to component 1, got ${labels.filter(_._2 != 1L).take(5).toSeq}")
    // two disjoint components stay disjoint
    val two = Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("id_a", "id_b")
    val twoLabels = Dedup.connectedComponentsStar(two)
      .select("id", "comp").as[(Long, Long)].collect().toMap
    assert(twoLabels == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 10L -> 10L, 11L -> 10L))
  }

  test("hybrid small-graph CC equals the distributed loop exactly") {
    val pairs = Dedup.jaccardPairs(fixtureDocs, minSim = 0.6)
    val dist = Dedup.connectedComponents(pairs)
      .select("id", "comp").as[(Long, Long)].collect().toSet
    val fast = Dedup.connectedComponents(pairs, smallGraphCollect = 1L << 20)
      .select("id", "comp").as[(Long, Long)].collect().toSet
    assert(fast == dist, s"union-find diverges: ${fast.diff(dist).take(5)}")
    // chain + disjoint island, the min-label worst cases
    val chain = ((1L until 50L).map(i => (i, i + 1)) :+ (100L, 101L))
      .toDF("id_a", "id_b")
    val got = Dedup.connectedComponents(chain, smallGraphCollect = 1L << 20)
      .select("id", "comp").as[(Long, Long)].collect().toMap
    assert((1L to 50L).forall(got(_) == 1L))
    assert(got(100L) == 100L && got(101L) == 100L)
    // a threshold BELOW the edge count must fall through to the loop
    // (short-diameter graph: the loop converges well inside maxIter)
    val two = Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("id_a", "id_b")
    val viaLoop = Dedup.connectedComponents(two, smallGraphCollect = 3L)
      .select("id", "comp").as[(Long, Long)].collect().toMap
    val viaFast = Dedup.connectedComponents(two, smallGraphCollect = 1L << 20)
      .select("id", "comp").as[(Long, Long)].collect().toMap
    assert(viaLoop == viaFast &&
      viaLoop == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 10L -> 10L, 11L -> 10L))
  }

  test("resolveNearDupsBy keeps the best-scoring member, not the min id") {
    val docs = Seq(
      (1L, 0.2), (2L, 0.9), (3L, 0.5), // one component, 2 is best
      (7L, 0.1), //                       singleton keeps itself
      (8L, 0.4), (9L, 0.4) //             score tie -> min id 8 wins
    ).toDF("doc_id", "quality")
    val pairs = Seq((1L, 2L), (2L, 3L), (8L, 9L)).toDF("id_a", "id_b")
    val got = Dedup.resolveNearDupsBy(docs, pairs)
      .select("doc_id", "comp", "kept")
      .as[(Long, Long, Boolean)].collect().toSet
    assert(got == Set(
      (1L, 1L, false), (2L, 1L, true), (3L, 1L, false),
      (7L, 7L, true),
      (8L, 8L, true), (9L, 8L, false)))
    // same labels through the union-find fast path
    val fast = Dedup.resolveNearDupsBy(docs, pairs, smallGraphCollect = 1L << 20)
      .select("doc_id", "comp", "kept")
      .as[(Long, Long, Boolean)].collect().toSet
    assert(fast == got)
  }

  test("dropNearDups keeps the lowest id of each near-dup pair") {
    val pairs = Dedup.jaccardPairs(docs, minSim = 0.5)
    val kept = Dedup.dropNearDups(docs, pairs).select("doc_id").as[Long].collect().toSet
    // 2,3,5 are all near-dups of 1 (higher ids drop); 4 is unrelated
    assert(kept == Set(1L, 4L))
  }

  test("curation pipeline: funnel is monotonic and stages compose") {
    val corpus = docs.unionByName(
      Seq((10L, "the quick brown fox jumps over the lazy dog")) // extra exact dup
        .toDF("doc_id", "text"))
    val funnel = CorpusPipeline.funnel(corpus, minQuality = 0.0, nearDupMinSim = 0.9)
      .as[(Long, Long, Long, Long)].head()
    val (in, q, ex, near) = funnel
    assert(in == 6 && q == 6)
    assert(ex == 4)   // two exact dups of doc 1 die
    assert(near <= ex && near >= 1)
    val survivors = CorpusPipeline.curate(corpus, 0.0, 0.9)
      .select("doc_id").as[Long].collect().toSet
    assert(survivors.size.toLong == near)
    assert(survivors.contains(4L)) // the unrelated doc always survives
  }

  test("funnel single-pass equals the four-action reference computation") {
    val corpus = docs.unionByName(
      Seq((10L, "the quick brown fox jumps over the lazy dog"),
          (11L, "zeta eta theta iota kappa"))
        .toDF("doc_id", "text"))
    for (cutoff <- Seq(Long.MaxValue, 3L)) {
      val got = CorpusPipeline
        .funnel(corpus, 0.0, 0.9, maxDocFreq = cutoff)
        .as[(Long, Long, Long, Long)].head()
      // reference computation: four independent actions over the stages
      val quality = corpus.where(TextAnalytics.qualityScore($"text") >= 0.0)
      val exact = Dedup.dedupExact(quality)
      val pairs = Dedup.jaccardPairs(exact, minSim = 0.9, maxDocFreq = cutoff)
      val near = Dedup.dropNearDups(exact, pairs)
      val want = (corpus.count(), quality.count(), exact.count(), near.count())
      assert(got == want, s"cutoff=$cutoff")
    }
  }

  test("funnelAudit: dispositions match funnel counts; keeper laws hold stage by stage") {
    // token sets engineered so the near-dup pairs are EXACTLY
    // (1,2), (2,4), (3,4) at jaccard >= 0.8 (each adjacent pair shares
    // 18 of 22 distinct tokens = 0.818; every other pair is <= 0.667):
    // losers {2, 4}; doc 4's partners are {2 (itself dropped), 3 (kept)}
    val t = (1 to 20).map(i => s"t$i")
    val u = (1 to 6).map(i => s"u$i")
    def txt(ts: Seq[String]) = ts.mkString(" ")
    val corpus = Seq(
      1L -> txt(t.take(20)),
      2L -> txt(t.take(18) ++ u.take(2)),
      4L -> txt(t.take(16) ++ u.slice(2, 4) ++ u.take(2)),
      3L -> txt(t.take(14) ++ u.slice(4, 6) ++ u.slice(2, 4) ++ u.take(2)),
      10L -> txt(t.take(20)), // exact dup of 1
      11L -> txt(t.take(20))  // exact dup of 1
    ).toDF("doc_id", "text")
    val audit = CorpusPipeline
      .funnelAudit(corpus, minQuality = 0.0, nearDupMinSim = 0.8)
      .collect().map(r => r.getLong(0) ->
        (r.getString(1), if (r.isNullAt(2)) None else Some(r.getLong(2)))).toMap
    // exact-dup kept_by IS dedupExact's survivor (row_number-first == min id)
    val exactKept = Dedup.dedupExact(corpus.where($"doc_id".isin(1L, 10L, 11L)))
      .select("doc_id").as[Long].head()
    assert(audit(10L) == ("drop_exact_dup", Some(exactKept)))
    assert(audit(11L) == ("drop_exact_dup", Some(exactKept)))
    // near-dup keeper law: doc 2's only partner (1) is kept; doc 4 must
    // name its smallest SURVIVING partner (3), not the smaller dropped
    // one (2) — the advisor's chain critique
    assert(audit(1L) == ("kept", None))
    assert(audit(3L) == ("kept", None))
    assert(audit(2L) == ("drop_near_dup", Some(1L)))
    assert(audit(4L) == ("drop_near_dup", Some(3L)))
    // strict chain (1,2),(2,3)-shaped fallback: drop doc 3's pair with 4
    // by removing doc 3 — then 4's only partner is the dropped 2, and
    // kept_by falls back to it (the carrier chain continues there)
    val chained = CorpusPipeline
      .funnelAudit(corpus.where($"doc_id" =!= 3L), minQuality = 0.0,
        nearDupMinSim = 0.8)
      .collect().map(r => r.getLong(0) ->
        (r.getString(1), if (r.isNullAt(2)) None else Some(r.getLong(2)))).toMap
    assert(chained(4L) == ("drop_near_dup", Some(2L)),
      s"chain fallback must name the dropped partner: ${chained(4L)}")
    // GROUP BY(verdict) == the funnel's stage counts, including a
    // quality-failing doc
    val withBad = corpus.unionByName(Seq(20L -> "??!").toDF("doc_id", "text"))
    val audited = CorpusPipeline
      .funnelAudit(withBad, minQuality = 0.5, nearDupMinSim = 0.8)
      .groupBy("verdict").count()
      .as[(String, Long)].collect().toMap
    val (in, q, ex, near) = CorpusPipeline
      .funnel(withBad, minQuality = 0.5, nearDupMinSim = 0.8)
      .as[(Long, Long, Long, Long)].head()
    assert(audited.values.sum == in)
    assert(audited.getOrElse("drop_quality", 0L) == in - q)
    assert(audited.getOrElse("drop_exact_dup", 0L) == q - ex)
    assert(audited.getOrElse("drop_near_dup", 0L) == ex - near)
    assert(audited.getOrElse("kept", 0L) == near)
  }

  test("funnel runs as one traversal (bounded job count, not 4 chained actions)") {
    // AQE materializes every exchange as its own job, which hides the
    // action count; with it off, jobs ≈ actions + broadcast builds.
    val corpus = docs
    val aqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    val (_, jobs) =
      try ListenerBusDrain.jobsOf(spark.sparkContext) {
        CorpusPipeline.funnel(corpus, 0.0, 0.9, maxDocFreq = 1000L).head()
      } finally spark.conf.set("spark.sql.adaptive.enabled", aqe)
    // one aggregate action + ≤5 broadcast builds (stop tokens, 2× sizes,
    // losers); the old shape was 4 full-pipeline actions (quality ×4,
    // dedup ×3, jaccard ×2), i.e. 4 aggregate actions before broadcasts
    assert(jobs <= 6, s"funnel used $jobs jobs")
  }

  test("nearDupIntakeBatch runs fused (bounded job count, shared parts)") {
    // the round-9 fusion: ONE shingle-explode + ONE signature aggregate
    // shared by store probe, within-batch resolve and append, and every
    // batch-bounded id set CHECKPOINTED at its fan-out point. The unfused
    // composition re-executed the probe/resolve DAGs per consumer — at
    // micro-batch scale each replica is a cascade of broadcast-build
    // jobs (measured same-run: 156 jobs / ~31 s per batch unfused vs
    // 59 / ~7 s fused). AQE off so exchange
    // materialization doesn't hide the action count.
    val tmp = tempDir("graft_ndi_jobs").toString + "/store"
    Dedup.writeMinhash(
      Seq((100L, "alpha beta gamma delta epsilon"),
        (101L, "one two three four five six")).toDF("doc_id", "text"),
      tmp, shingleSize = 1, numHashes = 128, bands = 32)
    val batch = Seq(
      (1L, "alpha beta gamma delta epsilon"), // corpus dup → dropped
      (2L, "completely novel content here"),
      (3L, "completely novel content here")   // in-batch twin of 2 → dropped
    ).toDF("doc_id", "text")
    val aqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    val (survivors, jobs) =
      try ListenerBusDrain.jobsOf(spark.sparkContext) {
        CorpusPipeline.nearDupIntakeBatch(spark, batch, tmp)
      } finally spark.conf.set("spark.sql.adaptive.enabled", aqe)
    assert(jobs <= 80, s"intake used $jobs jobs — the fused path regressed " +
      "(59 at fusion time; the unfused shape was 156)")
    assert(survivors.select("doc_id").as[Long].collect().toSet == Set(2L))
    assert(spark.read.parquet(s"$tmp/docs").select("doc_id")
      .as[Long].collect().toSet == Set(100L, 101L, 2L))
  }

  test("dropNearDupsCC sizes itself: a plain call runs d9's registered job count") {
    // the op owns its shuffle sizing, so a library caller runs what the
    // registered query measures; with the sizing in the registry the
    // plain call ran 23 jobs against the registered 18 on sf0.01
    val dir = tempDir("graft_d9_jobs").toString
    (0L until 80L).map(i => (i, s"shared words for cluster ${i % 7} and more of them " +
        (if (i % 3 == 0) "" else s"tail$i")))
      .toDF("doc_id", "text").write.parquet(s"$dir/documents.parquet")
    def run(body: => org.apache.spark.sql.DataFrame) =
      ListenerBusDrain.jobsOf(spark.sparkContext)(body.collect().toSeq)
    val (registered, registeredJobs) =
      run(graft.SparkEntry.queries("d9_cc_resolution")(spark, dir))
    val (plain, plainJobs) = run {
      val docs = spark.read.parquet(s"$dir/documents.parquet").where(col("doc_id") < 60)
      Dedup.dropNearDupsCC(docs, Dedup.jaccardPairs(docs, minSim = 0.8))
        .select("doc_id").orderBy("doc_id")
    }
    assert(plain == registered)
    assert(plain.size < 60, "the fixture must hold near-dup components")
    assert(plainJobs == registeredJobs,
      s"plain dropNearDupsCC ran $plainJobs jobs, the registered d9 $registeredJobs")
  }

  test("connected components resolve transitive near-dup chains exactly") {
    // two components: {1,2,3} connected only through 3, and a 4-chain
    // {10,11,12,13}; greedy keep-lowest would keep both 1 AND 2
    val pairs = Seq(
      (1L, 3L), (2L, 3L),
      (10L, 11L), (11L, 12L), (12L, 13L)
    ).toDF("id_a", "id_b")
    val comps = Dedup.connectedComponents(pairs)
      .as[(Long, Long)].collect().toMap
    assert(comps == Map(1L -> 1L, 2L -> 1L, 3L -> 1L,
      10L -> 10L, 11L -> 10L, 12L -> 10L, 13L -> 10L))

    val corpus = Seq(1L, 2L, 3L, 10L, 11L, 12L, 13L, 99L)
      .map(i => (i, s"doc $i")).toDF("doc_id", "text")
    val kept = Dedup.dropNearDupsCC(corpus, pairs)
      .select("doc_id").as[Long].collect().toSet
    assert(kept == Set(1L, 10L, 99L),
      s"one representative per component + untouched singleton, got $kept")
    // greedy differs on exactly the transitive case
    val greedy = Dedup.dropNearDups(corpus, pairs)
      .select("doc_id").as[Long].collect().toSet
    assert(greedy == Set(1L, 2L, 10L, 99L))
  }

  test("curate with exactComponents keeps one representative per cluster") {
    // 1/2/3 transitively near through shared vocabulary; quality passes all
    val base = "a reasonably long body of plain words repeated enough " * 10
    val corpus = Seq(
      (1L, base + "alpha"),
      (2L, base + "beta"),
      (3L, base + "alpha beta"),
      (4L, ("entirely different vocabulary about orchard harvesting " * 12))
    ).toDF("doc_id", "text")
    val greedy = CorpusPipeline.curate(corpus, minQuality = 0.3, nearDupMinSim = 0.9,
      maxDocFreq = 1000L)
      .select("doc_id").as[Long].collect().toSet
    val exact = CorpusPipeline.curate(corpus, minQuality = 0.3, nearDupMinSim = 0.9,
      maxDocFreq = 1000L, exactComponents = true)
      .select("doc_id").as[Long].collect().toSet
    assert(exact.subsetOf(greedy))
    assert(exact.contains(4L) && exact.contains(1L))
    // star contraction resolves the SAME components — identical survivors
    val star = CorpusPipeline.curate(corpus, minQuality = 0.3, nearDupMinSim = 0.9,
      maxDocFreq = 1000L, starComponents = true)
      .select("doc_id").as[Long].collect().toSet
    assert(star == exact, s"star survivors $star must equal propagation $exact")
  }

  test("cosine near-dup pairs over embeddings") {
    val emb = Seq(
      (1L, Array(1f, 0f, 0f)),
      (2L, Array(0.99f, 0.1f, 0f)),
      (3L, Array(0f, 1f, 0f))
    ).toDF("vec_id", "embedding")
    val pairs = Dedup.cosinePairsExact(emb, minCos = 0.9)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(pairs == Set((1L, 2L)))
  }

  test("cosinePairsAuto under the guard equals the exact path") {
    val emb = Seq(
      (1L, Array(1f, 0f, 0f)),
      (2L, Array(0.99f, 0.1f, 0f)),
      (3L, Array(0f, 1f, 0f))
    ).toDF("vec_id", "embedding")
    val auto = Dedup.cosinePairsAuto(emb, minCos = 0.9, maxExactRows = 10)
      .collect().toSeq
    val exact = Dedup.cosinePairsExact(emb, minCos = 0.9).collect().toSeq
    assert(auto == exact)
  }

  test("exact cosine joins refuse inputs past maxExactRows") {
    val emb = (1L to 30L).map(i => (i, Array(i.toFloat, 1f)))
      .toDF("vec_id", "embedding")
    val e = intercept[IllegalArgumentException] {
      Dedup.cosinePairsExact(emb, minCos = 0.5, maxExactRows = 10)
    }
    assert(e.getMessage.contains("cosinePairsAuto"))
  }

  test("cosineTopPairs past the cap routes to the banded path and matches exact top-N") {
    // 40 clustered unit-ish vectors: the top pairs are the within-cluster
    // near-identical ones, i.e. exactly where RP-LSH recall peaks
    val emb = (1L to 40L).map { i =>
      val base = if (i % 2 == 0) Array(1f, 0.02f * (i % 5), 0f, 0.1f)
      else Array(0f, 0.1f, 1f, 0.02f * (i % 7))
      (i, base)
    }.toDF("vec_id", "embedding")
    val exact = Dedup.cosineTopPairs(emb, topN = 8, maxExactRows = 1 << 16)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    val routed = Dedup.cosineTopPairs(emb, topN = 8, maxExactRows = 10)
    val plan = routed.queryExecution.executedPlan.toString
    assert(!plan.contains("BroadcastNestedLoopJoin"),
      s"past-cap top-pairs must not cross-product:\n$plan")
    val got = routed.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    assert(got == exact, s"banded route diverged:\ngot $got\nexp $exact")
  }

  test("cosinePairsAuto past the guard escalates: no all-pairs join in the plan") {
    // 24 near-identical unit-ish vectors, guard set to 10 → LSH branch
    val emb = (1L to 24L).map { i =>
      (i, Array(1f, (i % 3) * 0.01f, (i % 5) * 0.01f, 0.1f))
    }.toDF("vec_id", "embedding")
    val big = Dedup.cosinePairsAuto(emb, minCos = 0.95, maxExactRows = 10)
    val plan = big.queryExecution.executedPlan.toString
    assert(!plan.contains("BroadcastNestedLoopJoin"),
      s"escalated path must not contain the all-pairs join:\n${plan.take(2000)}")
    assert(!plan.contains("CartesianProduct"),
      s"escalated path must not contain a cartesian product:\n${plan.take(2000)}")
    // and it still finds real near-dups (every vector here is ~parallel)
    assert(big.count() > 0)
  }

  // ------------------------------------------------------------ SemDeDup

  // 3 tight semantic clusters + 2 far singletons in 8-d: within-group
  // cosines ≈ 0.9999, cross-group cosines = 0
  private def semJitter(base: Array[Float], eps: Float, at: Int): Array[Float] =
    base.zipWithIndex.map { case (x, i) => if (i == at) x + eps else x }

  private lazy val semEmb = {
    val a = Array(10f, 0f, 0f, 0f, 0f, 0f, 0f, 0f)
    val b = Array(0f, 10f, 0f, 0f, 0f, 0f, 0f, 0f)
    val c = Array(0f, 0f, 10f, 0f, 0f, 0f, 0f, 0f)
    Seq(
      (0L, a), (1L, semJitter(a, 0.1f, 1)), (2L, semJitter(a, 0.2f, 2)),
      (10L, b), (11L, semJitter(b, 0.1f, 3)),
      (20L, c), (21L, semJitter(c, 0.1f, 5)), (22L, semJitter(c, 0.15f, 6)),
      (30L, Array(0f, 0f, 0f, 10f, 0f, 0f, 0f, 0f)),
      (40L, Array(0f, 0f, 0f, 0f, 10f, 0f, 0f, 0f))
    ).toDF("vec_id", "embedding")
  }

  test("semanticPairs on well-separated clusters equals the exact pairs") {
    val sem = Dedup.semanticPairs(semEmb, minCos = 0.99, nClusters = 5)
      .collect().map(_.toString).toSeq
    val exact = Dedup.cosinePairsExact(semEmb, minCos = 0.99)
      .collect().map(_.toString).toSeq
    // recall 1.0 here (near-identical vectors share a k-means cell) and
    // precision is exact by construction (candidates verified with the
    // true cosine) — so the two outputs must be identical
    assert(sem == exact && sem.size == 7, s"sem=$sem exact=$exact")
  }

  test("semanticDedup keeps one representative per semantic component") {
    val kept = Dedup.semanticDedup(semEmb, minCos = 0.99, nClusters = 5,
      keepFarthestFromCentroid = false)
      .select("vec_id").as[Long].collect().toSet
    assert(kept == Set(0L, 10L, 20L, 30L, 40L))
  }

  test("semanticDedup paper rule keeps the member farthest from its centroid") {
    // 2-member group: v2 = (10,3,…) is MORE aligned with the midpoint
    // centroid (10,1.5,…) than v1 = (10,0,…), so the paper rule must keep
    // v1 (lowest centroid cosine) even though v2 has the smaller id
    val emb = Seq(
      (1L, Array(10f, 3f, 0f, 0f)),
      (2L, Array(10f, 0f, 0f, 0f)),
      (7L, Array(0f, 0f, 10f, 0f)),
      (8L, Array(0f, 0f, 0f, 10f))
    ).toDF("vec_id", "embedding")
    val kept = Dedup.semanticDedup(emb, idCol = "vec_id", minCos = 0.95,
      nClusters = 3, keepFarthestFromCentroid = true)
      .select("vec_id").as[Long].collect().toSet
    assert(kept == Set(2L, 7L, 8L), s"kept=$kept")
    val keptMin = Dedup.semanticDedup(emb, idCol = "vec_id", minCos = 0.95,
      nClusters = 3, keepFarthestFromCentroid = false)
      .select("vec_id").as[Long].collect().toSet
    assert(keptMin == Set(1L, 7L, 8L), s"keptMin=$keptMin")
  }

  test("semanticPairs hot-cluster guard bounds a degenerate corpus") {
    val degenerate = (1L to 100L).map(i => (i, Array(1f, 1f, 0f, 0f)))
      .toDF("vec_id", "embedding")
    // every point lands in one cluster; past the cap it is dropped whole
    val guarded = Dedup.semanticPairs(degenerate, minCos = 0.9,
      nClusters = 2, maxClusterSize = 10)
    assert(guarded.count() == 0)
    // without the cap the same corpus is all-pairs within the cluster
    val unguarded = Dedup.semanticPairs(degenerate, minCos = 0.9, nClusters = 2)
    assert(unguarded.count() == 100L * 99 / 2)
  }

  test("semanticPairs plan: equi-join on the cell key, never all-pairs") {
    val plan = Dedup.semanticPairs(semEmb, minCos = 0.99, nClusters = 5)
      .queryExecution.executedPlan.toString
    assert(plan.contains("centroid_id"), "join must key on the k-means cell")
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      s"within-cell join degraded to all-pairs:\n${plan.take(2000)}")
  }

  test("semanticPairs is deterministic across runs") {
    val r1 = Dedup.semanticPairs(semEmb, minCos = 0.99, nClusters = 5)
      .collect().map(_.toString).toSeq
    val r2 = Dedup.semanticPairs(semEmb, minCos = 0.99, nClusters = 5)
      .collect().map(_.toString).toSeq
    assert(r1 == r2)
  }

  // ------------------------------------------------ corpus line dedup

  test("lineDedup: shared boilerplate dropped everywhere, payload and blanks kept") {
    val d = Seq(
      (1L, "Menu | Home\nunique payload one\n\n(c) corp"),
      (2L, "Menu | Home\nunique payload two\n(c) corp"),
      (3L, "Menu | Home\nunique payload three\n(c) corp"),
      (4L, "unique payload four\n(c) corp")
    ).toDF("doc_id", "text")
    val out = Dedup.lineDedup(d, maxDf = 2).orderBy("doc_id").collect()
    // "Menu | Home" df=3 > 2 and "(c) corp" df=4 > 2 → dropped from every
    // doc; payload lines df=1 kept; the blank line is structure, kept
    assert(out.map(_.getString(1)).toSeq == Seq(
      "unique payload one\n", "unique payload two",
      "unique payload three", "unique payload four"))
    assert(out.map(_.getLong(2)).toSeq == Seq(4L, 3L, 3L, 2L), "n_lines")
    assert(out.map(_.getLong(3)).toSeq == Seq(2L, 2L, 2L, 1L), "n_dropped")
  }

  test("lineDedup: df counts distinct documents — within-doc repetition alone survives") {
    val d = Seq((1L, "echo\necho\necho"), (2L, "other")).toDF("doc_id", "text")
    val out = Dedup.lineDedup(d, maxDf = 1).orderBy("doc_id").collect()
    assert(out(0).getString(1) == "echo\necho\necho")
    assert(out(0).getLong(3) == 0L)
  }

  test("lineDedup: every instance of a boilerplate line goes, trim-normalized; " +
    "a fully-boilerplate doc survives with empty text") {
    val d = Seq(
      (1L, "echo\npayload\n  echo  "),
      (2L, "echo\nother"),
      (3L, "echo")
    ).toDF("doc_id", "text")
    val out = Dedup.lineDedup(d, maxDf = 1).orderBy("doc_id").collect()
    assert(out(0).getString(1) == "payload")
    assert(out(0).getLong(3) == 2L, "both instances incl. the padded one")
    assert(out(1).getString(1) == "other")
    assert(out(2).getString(1) == "" && out(2).getLong(3) == 1L)
  }

  test("lineDedup plan: the drop list is the broadcast side") {
    val d = Seq((1L, "a\nb"), (2L, "a\nc")).toDF("doc_id", "text")
    val plan = Dedup.lineDedup(d, maxDf = 1).queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), s"expected broadcast membership join:\n$plan")
  }

  // --------------------------------------------- incremental corpus dedup

  test("dedupAgainstCorpus: only genuinely new texts survive") {
    val batch = Seq(
      (10L, "the quick brown fox jumps over the lazy dog"), // dup of corpus 1/2
      (11L, "a genuinely new document about spark")
    ).toDF("doc_id", "text")
    val out = Dedup.dedupAgainstCorpus(batch, docs)
      .select("doc_id").as[Long].collect().toSet
    assert(out == Set(11L))
  }

  test("dedupAgainstCorpus: exact under heavy bloom false positives (≡ naive anti join)") {
    val corpus = spark.range(200)
      .select(col("id").as("doc_id"), concat(lit("corpus doc "), col("id")).as("text"))
    val batch = spark.range(150, 250)
      .select(col("id").as("doc_id"),
        when(col("id") < 200, concat(lit("corpus doc "), col("id")))
          .otherwise(concat(lit("fresh doc "), col("id"))).as("text"))
    // fpp 0.3 forces plenty of bloom false positives through the prefilter;
    // the confirmation join must still make the result exact
    val got = Dedup.dedupAgainstCorpus(batch, corpus, fpp = 0.3)
      .select("doc_id").as[Long].collect().toSet
    val naive = batch.join(corpus.select("text"), Seq("text"), "left_anti")
      .select("doc_id").as[Long].collect().toSet
    assert(got == naive && got == (200L until 250L).toSet)
  }

  test("dedupAgainstCorpus: all-dup batch comes back empty, columns preserved") {
    val batch = docs.withColumn("doc_id", col("doc_id") + 100)
    val out = Dedup.dedupAgainstCorpus(batch, docs)
    assert(out.count() == 0)
    assert(out.columns.toSeq == Seq("doc_id", "text"))
  }

  // -------------------------------------------- exact-substring dedup

  private def substrOut(rows: Seq[(Long, String)], w: Int): Map[Long, (String, Long, Long)] =
    Dedup.exactSubstrDedup(rows.toDF("doc_id", "text"), windowTokens = w)
      .collect().map(r => r.getLong(0) ->
        ((r.getString(1), r.getLong(2), r.getLong(3)))).toMap

  test("exactSubstrDedup: shared span excised everywhere but the keeper") {
    // docs 1 and 2 share the 4-token span "the quick brown fox"; W=3 means
    // every 3-subwindow of it is duplicated. md5("1") < md5("2"), so doc 1
    // keeps the span and doc 2 loses exactly those 4 tokens
    val out = substrOut(Seq(
      (1L, "intro one the quick brown fox outro one"),
      (2L, "intro two words the quick brown fox tail")), w = 3)
    assert(out(1L) == (("intro one the quick brown fox outro one", 8L, 0L)))
    assert(out(2L) == (("intro two words tail", 8L, 4L)))
  }

  test("exactSubstrDedup: window encoding is injective for separator-bearing tokens") {
    // binary-ish corpus: "ab c" and "a bc" are DIFFERENT
    // 2-token windows, but a raw concat_ws("", tokens) encodes both
    // as abc — the pre-fix aliasing excised doc 2 spuriously.
    // Per-token hashing keeps them distinct: nothing is removed.
    val out = substrOut(Seq(
      (1L, "ab c"),
      (2L, "a bc")), w = 2)
    assert(out(1L)._3 == 0L, s"doc 1 lost tokens: ${out(1L)}")
    assert(out(2L)._3 == 0L, s"doc 2 lost tokens: ${out(2L)}")
  }

  test("exactSubstrDedup: within-doc repeat keeps the first occurrence") {
    val out = substrOut(Seq(
      (7L, "alpha beta gamma delta MID alpha beta gamma delta")), w = 4)
    assert(out(7L) == (("alpha beta gamma delta MID", 9L, 4L)))
  }

  test("exactSubstrDedup: spans longer than one window are fully excised") {
    // a 6-token shared span with W=3: subwindow coverage must remove all 6
    // tokens from the non-keeper, not just the first window
    val span = "one two three four five six"
    val out = substrOut(Seq(
      (1L, s"keep $span"),
      (2L, s"drop $span end")), w = 3)
    val keeperHas = out(1L)._1.contains(span) || out(2L)._1.contains(span)
    assert(keeperHas, s"one copy must survive: $out")
    val (kept, lost) = if (out(1L)._1.contains(span)) (out(1L), out(2L)) else (out(2L), out(1L))
    assert(lost._3 == 6L, s"all 6 span tokens excised from the non-keeper: $out")
    assert(kept._3 == 0L)
  }

  test("exactSubstrDedup: docs shorter than a window and unique docs untouched") {
    val out = substrOut(Seq(
      (1L, "tiny doc"),
      (2L, "a perfectly unique sentence with no duplicate spans at all")), w = 5)
    assert(out(1L) == (("tiny doc", 2L, 0L)))
    assert(out(2L)._3 == 0L)
    assert(out(2L)._1 == "a perfectly unique sentence with no duplicate spans at all")
  }

  test("exactSubstrDedup: whitespace normalization, empty docs dropped, determinism") {
    val rows = Seq((1L, "  a   b\tc  "), (2L, "   "), (3L, "x y z"))
    val out = substrOut(rows, w = 2)
    assert(!out.contains(2L), "whitespace-only doc dropped")
    assert(out(1L) == (("a b c", 3L, 0L)))
    val again = substrOut(rows, w = 2)
    assert(out == again)
  }

  test("minhash store delete hides partners; compact purges and equals from-scratch") {
    val path = tempDir("graft_mh_del").toString + "/idx"
    val corpus = fixtureDocs.where($"doc_id" % 3 =!= 0)
    val batch = fixtureDocs.where($"doc_id" % 3 === 0)
    Dedup.writeMinhash(corpus, path, shingleSize = 1, numHashes = 128, bands = 32)
    val full = Dedup.nearDupesAgainstStore(spark, batch, path, minJaccard = 0.8)
      .select("batch_id", "corpus_id").as[(Long, Long)].collect().toSet
    assert(full.nonEmpty, "fixture must contain cross-split near-dups")
    // delete every corpus doc that partnered a batch doc: the probe must
    // go silent immediately (probe-side exclusion, no file rewritten)
    val partners = full.map(_._2).toSeq.sorted
    Dedup.deleteMinhash(spark, path, partners)
    val afterDel = Dedup.nearDupesAgainstStore(spark, batch, path, minJaccard = 0.8)
      .select("batch_id", "corpus_id").as[(Long, Long)].collect().toSet
    assert(afterDel.isEmpty, s"deleted partners still matched: ${afterDel.take(5)}")
    // a deleted id is terminal until compact: re-append is ledger-dropped
    assert(Dedup.appendMinhash(spark,
      fixtureDocs.where(col("doc_id") === partners.head), path) == 0L)
    // compact purges physically and equals a from-scratch store over the
    // survivors (probe AND table contents)
    val (before, after) = Dedup.compactMinhash(spark, path)
    assert(before - after == partners.size.toLong,
      s"expected ${partners.size} purged, got $before -> $after")
    val fresh = tempDir("graft_mh_del_f").toString + "/idx"
    Dedup.writeMinhash(corpus.where(!col("doc_id").isin(partners: _*)), fresh,
      shingleSize = 1, numHashes = 128, bands = 32)
    def probeAll(p: String) =
      Dedup.nearDupesAgainstStore(spark, batch, p, minJaccard = 0.8)
        .collect().map(_.toString).sorted.toSeq
    assert(probeAll(path) == probeAll(fresh))
    assert(spark.read.parquet(s"$path/docs").select("doc_id").as[Long]
      .collect().toSet ==
      spark.read.parquet(s"$fresh/docs").select("doc_id").as[Long].collect().toSet)
    // after compact the id left the ledger: a re-append revives it
    assert(Dedup.appendMinhash(spark,
      fixtureDocs.where(col("doc_id") === partners.head), path) == 1L)
    val revived = Dedup.nearDupesAgainstStore(spark, batch, path, minJaccard = 0.8)
      .select("corpus_id").as[Long].collect().toSet
    assert(revived.contains(partners.head), "re-appended doc must match again")
  }

  test("minhash store ledger records zero-shingle docs (no eternal replay)") {
    val path = tempDir("graft_mh_ledger").toString + "/idx"
    Dedup.writeMinhash(
      Seq((1L, "alpha beta gamma"), (2L, "")).toDF("doc_id", "text"),
      path, shingleSize = 3, numHashes = 128, bands = 32)
    // the EMPTY doc has no shingles at shingleSize=3 but was processed:
    // the ledger must say so, or every future append re-ships it
    assert(spark.read.parquet(s"$path/docs")
      .select("doc_id").as[Long].collect().toSet == Set(1L, 2L))
    // append with one zero-shingle doc and one normal doc: both count,
    // both enter the ledger, and a replay is a full no-op
    val batch = Seq((3L, "xy"), (4L, "delta epsilon zeta eta theta"))
      .toDF("doc_id", "text")
    assert(Dedup.appendMinhash(spark, batch, path) == 2L)
    assert(spark.read.parquet(s"$path/docs")
      .select("doc_id").as[Long].collect().toSet == Set(1L, 2L, 3L, 4L))
    assert(Dedup.appendMinhash(spark, batch, path) == 0L,
      "replayed batch must be a ledger no-op, including the zero-shingle doc")
  }

  test("minhash store built from an INT doc_id: append, probe and delete read it back") {
    // the declared readers expect BIGINT ids: a store written with the
    // caller's INT column uncast failed every later read
    val path = tempDir("graft_mh_int").toString + "/idx"
    val intDocs = fixtureDocs.select(col("doc_id").cast("int").as("doc_id"), col("text"))
    val corpus = intDocs.where(col("doc_id") % 3 =!= 0)
    val batch = intDocs.where(col("doc_id") % 3 === 0)
    Dedup.writeMinhash(corpus.where(col("doc_id") % 2 === 0), path,
      shingleSize = 1, numHashes = 128, bands = 32)
    val appended = Dedup.appendMinhash(spark, corpus.where(col("doc_id") % 2 =!= 0), path)
    assert(appended == corpus.where(col("doc_id") % 2 =!= 0).count())
    def probe() = Dedup.nearDupesAgainstStore(spark, batch, path, minJaccard = 0.8)
      .select(col("batch_id").cast("long"), col("corpus_id").cast("long"))
      .as[(Long, Long)].collect().toSet
    val pairs = probe()
    // the same probe over a store built from the BIGINT ids
    val longPath = tempDir("graft_mh_long").toString + "/idx"
    Dedup.writeMinhash(fixtureDocs.where($"doc_id" % 3 =!= 0), longPath,
      shingleSize = 1, numHashes = 128, bands = 32)
    assert(pairs.nonEmpty && pairs == Dedup.nearDupesAgainstStore(spark,
        fixtureDocs.where($"doc_id" % 3 === 0), longPath, minJaccard = 0.8)
      .select("batch_id", "corpus_id").as[(Long, Long)].collect().toSet)
    Dedup.deleteMinhash(spark, path, pairs.map(_._2).toSeq)
    assert(probe().isEmpty, "deleted partners must stop matching")
    Seq("docs", "bands", "sigs", "shingles").foreach { t =>
      assert(spark.read.parquet(s"$path/$t").schema("doc_id").dataType ==
        org.apache.spark.sql.types.LongType, s"$t stores BIGINT ids")
    }
  }
}
