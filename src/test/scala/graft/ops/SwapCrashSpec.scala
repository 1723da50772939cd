package graft.ops

import graft.SparkSpec
import graft.search.Bm25
import graft.serve.SemanticCache
import org.apache.spark.sql.functions._

/** A crash between the two renames of a store rewrite's swap leaves the
  * live dir ABSENT: the old generation renamed aside to `.X.__old`, the
  * complete new generation at the stage. Every store that swaps must heal
  * that state on its next rewrite — for the hidden `.X.__compact` stage
  * of [[Layout.replaceDirs]] and for the visible `X.__compact` stage that
  * earlier releases wrote — and end with the same rows as a run that
  * never crashed.
  */
class SwapCrashSpec extends SparkSpec {
  import spark.implicits._

  /** One swapping op: `build` a store at a path, `run` the op on it,
    * `target` names the dir the crash hits, `rows` reads the store. */
  private case class Store(
      op: String,
      build: String => Unit,
      run: String => Unit,
      target: String => String,
      rows: String => Seq[String])

  private lazy val emb = spark.range(40).select(
    col("id").as("vec_id"),
    transform(sequence(lit(0), lit(7)),
      i => (pmod(xxhash64(col("id"), i), lit(1000)) / 1000.0).cast("float"))
      .as("embedding"))

  private lazy val docs = (1L to 12L)
    .map(i => (i, s"doc$i shared words token${i % 3} tail$i"))
    .toDF("doc_id", "text")

  /** Every row of the tables under `path` (`""` = the path itself), as
    * JSON tagged by table, sorted. */
  private def tables(names: String*)(path: String): Seq[String] =
    names.flatMap { t =>
      spark.read.parquet(if (t.isEmpty) path else s"$path/$t")
        .select(to_json(struct(col("*")))).as[String].collect()
        .map(r => s"$t $r")
    }.sorted

  private val stores = Seq(
    Store("Bm25.compactIndex",
      p => {
        Bm25.writeIndex(docs.where(col("doc_id") <= 8), "doc_id", "text", p)
        Bm25.appendIndexBatch(spark, docs.where(col("doc_id") > 8), p, 1L,
          "doc_id", "text")
        Bm25.deleteDocs(spark, p, Seq(2L, 10L))
      },
      p => { Bm25.compactIndex(spark, p); () },
      p => s"$p/postings",
      p => tables("postings", "terms", "docs", "stats")(p) :+
        s"_commits ${Bm25.committedSegs(spark, p)}"),
    Store("Hnsw.compact",
      p => {
        Hnsw.write(emb, p, Hnsw.Params(m = 4, efConstruction = 16, numShards = 2))
        Hnsw.delete(spark, p, Seq(3L, 17L))
      },
      p => { Hnsw.compact(spark, p); () },
      p => s"$p/segments",
      p => spark.read.parquet(s"$p/segments")
        .select(to_json(struct(col("shard"), col("id"), col("vec"))))
        .as[String].collect().toSeq.sorted),
    Store("Ann.compactIvf",
      p => {
        val (assigned, centroids) = Ann.buildIvf(emb, nLists = 4)
        Ann.writeIvf(assigned, centroids, p)
        Ann.deleteIvf(spark, p, Seq(3L, 17L))
      },
      p => { Ann.compactIvf(spark, p); () },
      p => s"$p/lists",
      tables("lists")),
    Store("Sq.compactCodes",
      p => { Sq.writeCodes(emb, p); Sq.deleteCodes(spark, p, Seq(3L, 17L)) },
      p => { Sq.compactCodes(spark, p); () },
      p => s"$p/codes",
      tables("codes")),
    Store("Pq.compactCodes",
      p => {
        val m = Pq.fitSampled(emb, dims = 8, m = 2, k = 4, maxIter = 5)
        Pq.write(Pq.encode(emb, m), m, p)
        Pq.deleteCodes(spark, p, Seq(3L, 17L))
      },
      p => { Pq.compactCodes(spark, p); () },
      p => s"$p/codes",
      tables("codes")),
    Store("Dedup.compactMinhash",
      p => {
        Dedup.writeMinhash(docs, p, shingleSize = 1, numHashes = 32, bands = 8)
        Dedup.deleteMinhash(spark, p, Seq(2L, 10L))
      },
      p => { Dedup.compactMinhash(spark, p); () },
      p => s"$p/bands",
      tables("bands", "sigs", "shingles", "docs")),
    Store("SemanticCache.evictCache",
      p => (1L to 6L).map(i =>
          (i, Array(math.cos(i * 0.7).toFloat, math.sin(i * 0.7).toFloat), s"ans $i"))
        .toDF("cache_id", "embedding", "answer").write.parquet(p),
      p => { SemanticCache.evictCache(spark, p, maxEntries = 4); () },
      p => p,
      tables("")))

  private val stages = Seq[(String, String => String)](
    "visible stage of earlier releases" -> (t => s"$t.__compact"),
    "hidden stage" -> (t => Layout.swapSiblings(new org.apache.hadoop.fs.Path(t))._1.toString))

  for (s <- stores; (signature, stageOf) <- stages)
    test(s"${s.op} heals a crash between the swap renames ($signature)") {
      import java.nio.file.{Files, Paths}
      val dir = tempDir("graft_swap_crash").toString
      val (path, ref) = (s"$dir/store", s"$dir/ref")
      s.build(path)
      org.apache.commons.io.FileUtils.copyDirectory(
        new java.io.File(path), new java.io.File(ref))
      s.run(ref)
      val expected = s.rows(ref)
      // the crash: the op's complete new generation of the target is at
      // its stage, and the live target is already renamed aside
      val target = s.target(path)
      Files.move(Paths.get(s.target(ref)), Paths.get(stageOf(target)))
      Files.move(Paths.get(target), Paths.get(
        Layout.swapSiblings(new org.apache.hadoop.fs.Path(target))._2.toString))
      s.run(path)
      assert(s.rows(path) == expected)
      val leftovers = new java.io.File(target).getParentFile.list()
        .filter(_.contains("__")).toSeq
      assert(leftovers.isEmpty, s"swap siblings left behind: $leftovers")
    }
}
