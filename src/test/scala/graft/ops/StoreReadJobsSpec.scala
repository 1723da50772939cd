package graft.ops

import graft.SparkSpec
import graft.index.VectorIndex
import org.apache.spark.ListenerBusDrain
import org.apache.spark.sql.functions._

/** Spark jobs per store op on small stores. Every table whose columns the
  * library's own writer fixes is read under its declared schema
  * ([[Layout.readTable]]), so none of these ops pays the footer-reading
  * job a schema-less `spark.read.parquet` runs. The counts are pinned
  * exactly: a reader that goes back to inferring its schema adds a job
  * and fails here. With inferred reads they were 6, 15, 2 and 4.
  */
class StoreReadJobsSpec extends SparkSpec {
  import spark.implicits._

  private def jobs[T](body: => T): Int =
    ListenerBusDrain.jobsOf(spark.sparkContext)(body)._2

  private val dims = 16
  private lazy val emb = spark.range(80).select(
    col("id").as("vec_id"),
    transform(sequence(lit(0), lit(dims - 1)),
      i => (pmod(xxhash64(col("id"), i), lit(1000)) / 1000.0).cast("float"))
      .as("embedding")).cache()

  test("VectorIndex.loadActive(..).count() with a tombstone sidecar") {
    val path = tempDir("graft_jobs_vi").toString + "/idx"
    val docs = (0 until 6).map(i => (i.toLong,
      s"SECTION S${i % 2}\n\nparagraph about topic $i with words enough to chunk"))
      .toDF("doc_id", "text")
    val embedder = VectorIndex.fit(docs)
    VectorIndex.write(VectorIndex.buildWith(docs, embedder), path)
    VectorIndex.deleteDocs(spark, Seq(1L), path, epoch = 1)
    val n = jobs(VectorIndex.loadActive(spark, path).count())
    assert(n == 4, s"loadActive(..).count() ran $n jobs")
  }

  test("Hnsw.compact with a tombstone sidecar") {
    val path = tempDir("graft_jobs_hnsw").toString + "/idx"
    Hnsw.write(emb, path, Hnsw.Params(numShards = 2))
    Hnsw.delete(spark, path, Seq(3L))
    val n = jobs(Hnsw.compact(spark, path))
    assert(n == 13, s"Hnsw.compact ran $n jobs")
  }

  test("Sq.loadModel") {
    val path = tempDir("graft_jobs_sq").toString + "/idx"
    Sq.writeCodes(emb, path)
    val n = jobs(Sq.loadModel(spark, path))
    assert(n == 1, s"Sq.loadModel ran $n jobs")
  }

  test("Pq.loadModel") {
    val path = tempDir("graft_jobs_pq").toString + "/idx"
    val model = Pq.fit(emb, dims = dims, m = 4, k = 4)
    Pq.write(Pq.encode(emb, model), model, path)
    val n = jobs(Pq.loadModel(spark, path))
    assert(n == 2, s"Pq.loadModel ran $n jobs")
  }
}
