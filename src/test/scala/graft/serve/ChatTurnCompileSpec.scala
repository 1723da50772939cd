package graft.serve

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** A warm chat turn compiles no generated code of its own: its per-turn
  * values (new query and cache ids, the turn's timestamp, the BM25
  * probe's bucket set) reach the plans as data or by reference, never as
  * literals inlined into generated source. Spark sizes its generated-
  * class cache once per JVM and the shared test session starts without
  * the extension, so the turns run in a forked JVM
  * ([[ChatTurnCompileProbe]]), as in `graft.CodegenReuseSpec`.
  */
class ChatTurnCompileSpec extends AnyFunSuite {

  /** The one class a warm turn still compiles, per BM25 probe: Spark's
    * dynamic partition pruning of the postings scan (`Bm25.scoreTermTable`
    * joins on the `bucket` partition column) turns the buckets it
    * collects at run time into an INT `InSet`, whose pruning predicate
    * compiles them into a `switch`. */
  val DynamicPruningPerProbe = 1L

  test("warm chat turns with new ids and a new turnTs compile only the BM25 probe's dynamic pruning") {
    val perTurn = graft.ForkedProbe.run(ChatTurnCompileProbe, ChatTurnCompileProbe.Marker)
      .split(" ").map(_.toLong).toSeq
    info(s"classes compiled per turn: ${perTurn.mkString(", ")}")
    assert(perTurn.size == ChatTurnCompileProbe.Turns)
    assert(perTurn.drop(2).forall(_ <= DynamicPruningPerProbe),
      s"warm turns 3 and 4 compiled ${perTurn.drop(2).mkString(" and ")} classes; " +
        s"the only source left is the BM25 probe's dynamic partition pruning " +
        s"($DynamicPruningPerProbe per probe)")
  }
}

/** Forked by [[ChatTurnCompileSpec]]: a session started through the
  * `spark.sql.extensions` conf runs [[Turns]] chat turns over a seeded
  * cache — each with new query ids, a new `turnTs`, the chat log and the
  * memory fold on, one re-ask hit and two misses answered from a
  * term-pruned BM25 probe — and prints how many classes each turn
  * compiled.
  */
object ChatTurnCompileProbe {
  val Turns = 4
  val Marker = "compiled per turn:"

  /** A question's 8-dim vector: equal questions share it, distinct ones
    * sit far below the 0.95 hit threshold. */
  private def vec(q: String): Array[Float] = {
    val r = new scala.util.Random(q.hashCode.toLong)
    Array.fill(8)(r.nextGaussian().toFloat)
  }

  def main(args: Array[String]): Unit = {
    val spark = SparkSession.builder()
      .master("local[2]")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.sql.shuffle.partitions", "2")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("graft_turn_compile")
    try {
      val (cache, memory, log) = (s"$root/cache", s"$root/memory", s"$root/log")
      Seq((900000L, vec("seeded question"), "[seeded] answer"))
        .toDF("cache_id", "embedding", "answer").write.parquet(cache)
      val bm25 = s"$root/bm25"
      graft.search.Bm25.writeIndex((0 until 40).map(d => (d.toLong,
          s"doc $d question ${d % 5}-${d % 3} topic${d % 7} term${d * 13 % 17}"))
        .toDF("doc_id", "text"), "doc_id", "text", bm25, termBuckets = 16)
      // each turn's questions hold new terms, so each probe prunes the
      // postings to a new bucket set
      def answerMisses(m: DataFrame): DataFrame = {
        val qs = m.select(col("query_id"), col("question").as("query_text"))
        val terms = qs.collect().toSeq.flatMap(r => graft.search.Bm25.tokenize(r.getString(1)))
        val top = graft.search.Bm25.topKBatch(qs, graft.search.Bm25.restrictToTerms(
            graft.search.Bm25.loadIndex(spark, bm25), terms.distinct), k = 1)
          .select(col("query_id"), col("doc_id"))
        m.join(top, Seq("query_id"), "left").select(col("query_id"), col("question"),
          concat(lit("ans "), col("question"), lit(" doc "), coalesce(col("doc_id"), lit(-1L)))
            .as("answer"), lit(0.01).as("cost"))
      }
      val policy = graft.ops.Layout.MaintenancePolicy(maxSmallFiles = 1)
      val counts = (0 until Turns).map { t =>
        // two returning sessions, one new; the first asks a question
        // asked before (a hit), the rest ask new ones
        val reask = if (t == 0) "seeded question" else s"question ${t - 1}-1 topic${t - 1}"
        val asks = Seq(("s0", reask), ("s1", s"question $t-1 topic$t"),
          (s"new$t", s"question $t-2 term${3 * t} term${3 * t + 1} term${3 * t + 2}"))
        val batch = asks.zipWithIndex.map { case ((sid, q), k) =>
          (sid, 100L * (t + 1) + k, q, vec(q))
        }.toDF("session_id", "query_id", "question", "query_vec")
        val before = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
        ChatRag.chatTurn(spark, batch, memory, cache, minCos = 0.95, answerMisses,
          memoryBuckets = 4, maintenance = Some(policy),
          turnTs = Some(1767225600000L + t * 60000L), chatLog = Some(log)).collect()
        ChatLog.compactSmallDayFiles(spark, log, policy)
        CodegenMetrics.METRIC_COMPILATION_TIME.getCount - before
      }
      println(s"$Marker ${counts.mkString(" ")}")
    } finally {
      spark.stop()
      org.apache.hadoop.fs.FileUtil.fullyDelete(root.toFile)
    }
  }
}
