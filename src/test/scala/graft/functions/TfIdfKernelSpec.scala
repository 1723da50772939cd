package graft.functions

import java.lang.Float.floatToRawIntBits
import java.lang.Double.doubleToRawLongBits

import graft.SparkSpec
import graft.embed.HashingTfIdfEmbedder
import org.apache.spark.ListenerBusDrain
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.ml.feature.{HashingTF, IDF, RegexTokenizer}
import org.apache.spark.ml.linalg.Vector
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** TfIdfEmbed: the compiled TF-IDF kernel behind [[HashingTfIdfEmbedder]]
  * against its reference law, MLlib's `RegexTokenizer("\\s+", lowercase)`
  * → `HashingTF(dims)` → `IDF` → `toFloat` composition: every vector bit
  * for bit and the fitted idf weights exactly, generated and interpreted.
  */
class TfIdfKernelSpec extends SparkSpec {
  import spark.implicits._

  private val hand: Seq[String] = Seq(
    // every Java \s byte, single and in runs, leading and trailing
    "a b\tc\nd\u000be\ff\rg",
    " \t\n\u000b\f\rlead and trail \r\f\u000b\n\t ",
    "Run\t\t\tOf  \n\n Separators",
    // look-alikes that are not \s: NBSP, EM SPACE, 0x1C-0x1F, NEL, U+2028
    "nbsp\u00a0em\u2003fs\u001cgs\u001drs\u001eus\u001f nel\u0085ls\u2028end",
    "",
    " ",
    "\t\n\r ",
    "The Quick BROWN fox, jumps over 42 lazy-dogs; v2.0 (beta)!",
    "\u0130stanbul D\u0130YARBAKIR", // LATIN CAPITAL I WITH DOT ABOVE
    "Kelvin 5\u212a run \u212aelvin", // KELVIN SIGN
    "Stra\u00dfe STRA\u1e9eE stra\u00dfe", // sharp s, capital sharp s
    "\u039f\u0394\u039f\u03a3 \u03a3\u0399\u03a3\u03a5\u03a6\u039f\u03a3. \u03a3", // final sigma
    "emoji \ud83d\ude00 splits\ud83d\ude00here \ud83d\udc4d\ud83c\udffd",
    "\u00c0\u00c9\u00ce\u00f5\u00dc Caf\u00c9 \u041f\u0420\u0418\u0412\u0415\u0422 \u041c\u0438\u0440",
    "ABC\u00c0DEF ascii UPPER then \u00e9")

  /** In the style of `WordTokensSpec.randomText`, over \s bytes, their
    * look-alikes and case-mapping edge characters. */
  private def randomText(rnd: scala.util.Random): String = {
    val pool = Vector("a", "Z", "q", "M", "I", "0", "7", " ", "-", ".", "\t", "\n",
      "\u000b", "\f", "\r", "\u00a0", "\u2003", "\u001c", "\u00e9", "\u00df", "\u03a3",
      "\u65e5", "\ud83d\ude00", "\u212a", "\u0130", "\u0131", "\u00c0")
    Iterator.fill(1 + rnd.nextInt(400))(pool(rnd.nextInt(pool.size))).mkString
  }

  /** The sf0.01 chunks `t6_embed` embeds (its committed t4 golden). */
  private lazy val fixtureChunks: Seq[String] =
    spark.read.parquet("fixtures/t4_chunks_sf001.parquet").select("chunk").as[String]
      .collect().toSeq

  private def frame(texts: Seq[String]): DataFrame =
    // through a shuffle, so the projection runs in a real (generated or
    // interpreted) stage instead of folding over the local relation
    texts.zipWithIndex.map { case (t, i) => (i, t) }.toDF("id", "text").repartition(3)

  private lazy val cases: DataFrame = {
    val rnd = new scala.util.Random(17)
    frame(hand ++ Seq.fill(60)(randomText(rnd)) ++ fixtureChunks)
  }

  /** The MLlib composition: fitted idf weights and each row's vector. */
  private def reference(df: DataFrame, dims: Int): (Array[Double], Map[Int, Array[Float]]) = {
    val tokens = new RegexTokenizer().setInputCol("text").setOutputCol("tokens")
      .setPattern("\\s+").setToLowercase(true).transform(df)
    val tf = new HashingTF().setInputCol("tokens").setOutputCol("tf")
      .setNumFeatures(dims).transform(tokens)
    val model = new IDF().setInputCol("tf").setOutputCol("tfidf").fit(tf)
    val toFloat = udf { v: Vector => v.toArray.map(_.toFloat) }
    (model.idf.toArray, vectors(model.transform(tf).select(col("id"), toFloat(col("tfidf")))))
  }

  private def vectors(df: DataFrame): Map[Int, Array[Float]] =
    df.collect().map(r => r.getInt(0) -> r.getSeq[Float](1).toArray).toMap

  /** The kernel's idf weights, vectors and executed plan. */
  private def kernel(df: DataFrame, dims: Int): (Array[Double], Map[Int, Array[Float]], String) = {
    val e = new HashingTfIdfEmbedder(dims).fit(df, "text")
    val q = e.embed(df, "text", "embedding").select("id", "embedding")
    (e.idf, vectors(q), q.queryExecution.executedPlan.toString)
  }

  /** Kernel and reference agree bit for bit; returns the kernel's plan. */
  private def check(df: DataFrame, dims: Int, rows: Int): String = {
    val (refIdf, refVecs) = reference(df, dims)
    val (idf, vecs, plan) = kernel(df, dims)
    assert(idf.map(doubleToRawLongBits).toSeq == refIdf.map(doubleToRawLongBits).toSeq,
      s"dims $dims: idf ${idf.toSeq} vs reference ${refIdf.toSeq}")
    assert(vecs.size == rows && vecs.keySet == refVecs.keySet)
    vecs.foreach { case (id, v) =>
      assert(v.length == dims)
      assert(v.map(floatToRawIntBits).toSeq == refVecs(id).map(floatToRawIntBits).toSeq,
        s"dims $dims, row $id: kernel ${v.toSeq} vs reference ${refVecs(id).toSeq}")
    }
    plan
  }

  private def rows = hand.size + 60 + fixtureChunks.size

  private def withConf[T](kvs: (String, String)*)(body: => T): T = {
    val prev = kvs.map { case (k, _) => k -> spark.conf.getOption(k) }
    kvs.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  for (dims <- Seq(16, 64)) {
    test(s"kernel equals the MLlib composition bit for bit, dims $dims (generated code)") {
      val plan = check(cases, dims, rows)
      assert(plan.linesIterator.exists(l => l.contains("*(") && l.contains("tfidf_embed(")),
        s"the kernel must run inside whole-stage codegen:\n$plan")
    }

    test(s"kernel equals the MLlib composition bit for bit, dims $dims (interpreted)") {
      withConf("spark.sql.codegen.wholeStage" -> "false",
          "spark.sql.codegen.factoryMode" -> "NO_CODEGEN") {
        check(cases, dims, rows)
      }
    }
  }

  test("under a Turkish default locale the kernel still equals the MLlib composition") {
    val texts = Seq("TITLE IN CAPITALS", "Iowa ISLAND \u0130zmir \u0131s\u0131k",
      "plain ascii only", "MIXED I i \u0130 \u0131 \u00c9")
    val prev = java.util.Locale.getDefault
    java.util.Locale.setDefault(java.util.Locale.forLanguageTag("tr-TR"))
    try {
      check(frame(texts), 16, texts.size)
      // the locale matters: ASCII 'I' lowercases to dotless i here
      assert("I".toLowerCase() == "\u0131")
    } finally java.util.Locale.setDefault(prev)
  }

  test("null text raises on fit and on embed, as the tokenizer does") {
    val withNull = Seq(Some("a b"), None).toDF("text")
    intercept[Exception](new HashingTfIdfEmbedder(16).fit(withNull, "text"))
    val e = new HashingTfIdfEmbedder(16).fit(Seq("a b").toDF("text"), "text")
    intercept[Exception](e.embed(withNull.repartition(2), "text", "embedding").collect())
  }

  test("fit is one job, embed none before an action, a fit and two materialized embeds three") {
    val sc = spark.sparkContext
    val chunks = spark.read.parquet("fixtures/t4_chunks_sf001.parquet")
    val (e, fitJobs) = ListenerBusDrain.jobsOf(sc)(new HashingTfIdfEmbedder(64).fit(chunks, "chunk"))
    val (_, embedJobs) = ListenerBusDrain.jobsOf(sc)(e.embed(chunks, "chunk", "embedding"))
    // the perfbench corpus_build embed span: fit, then chunk and doc vectors
    val (_, shapeJobs) = ListenerBusDrain.jobsOf(sc) {
      val f = new HashingTfIdfEmbedder(64).fit(chunks, "chunk")
      f.embed(chunks, "chunk", "embedding").localCheckpoint(true)
      f.embed(chunks.select(col("doc_id").as("vec_id"), col("chunk")), "chunk", "embedding")
        .localCheckpoint(true)
    }
    assert((fitJobs, embedJobs, shapeJobs) == ((1, 0, 3)))
  }

  test("a refit over another corpus compiles no new class") {
    val counts = graft.ForkedProbe.run(EmbedCompileProbe, EmbedCompileProbe.Marker)
      .split(" ").map(_.toLong).toSeq
    info(s"classes compiled by the first and second fit and embed: ${counts.mkString(", ")}")
    assert(counts.size == 2 && counts(0) > 0,
      s"the first pass must compile its classes: ${counts.mkString(", ")}")
    assert(counts(1) == 0L, s"the second pass over another corpus compiled ${counts(1)} classes")
  }
}

/** Forked by [[TfIdfKernelSpec]]: a session started through the
  * `spark.sql.extensions` conf fits and embeds one corpus, then another
  * (the perfbench embed span's shape: fit over materialized chunks, then
  * two materialized embeds), and prints how many classes each pass
  * compiled.
  */
object EmbedCompileProbe {
  val Marker = "compiled per pass:"

  def main(args: Array[String]): Unit = {
    val spark = SparkSession.builder()
      .master("local[2]")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.sql.shuffle.partitions", "2")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    import spark.implicits._
    try {
      def pass(seed: Int): Long = {
        val rnd = new scala.util.Random(seed)
        val words = Vector("spark", "Shuffle", "STAGE", "pond", "duck", "plan", "caf\u00e9")
        val chunks = (0 until 50).map { i =>
          (i.toLong, Seq.fill(5 + rnd.nextInt(20))(words(rnd.nextInt(words.size))).mkString(" "))
        }.toDF("doc_id", "chunk").localCheckpoint(true)
        val before = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
        val e = new HashingTfIdfEmbedder(64).fit(chunks, "chunk")
        e.embed(chunks, "chunk", "embedding")
          .select(xxhash64(col("doc_id")).as("chunk_id"), col("embedding"))
          .localCheckpoint(true)
        e.embed(chunks.select(col("doc_id").as("vec_id"), col("chunk")), "chunk", "embedding")
          .select("vec_id", "embedding").localCheckpoint(true)
        CodegenMetrics.METRIC_COMPILATION_TIME.getCount - before
      }
      println(s"$Marker ${pass(1)} ${pass(2)}")
    } finally spark.stop()
  }
}
