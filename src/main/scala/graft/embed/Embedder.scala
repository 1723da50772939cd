package graft.embed

import graft.functions.TfIdfEmbed
import org.apache.spark.ml.feature.{RegexTokenizer, Word2Vec, Word2VecModel}
import org.apache.spark.ml.linalg.Vector
import org.apache.spark.sql.{DataFrame, ExpressionColumn}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StringType

/** Pluggable embedding stage.
  *
  * The reference embeds chunks with a remote OpenAI model
  * (`/root/reference/micro-infobot/app.py:122`, text-embedding-ada-002,
  * 1536-d). That is an external-call boundary, so the engine keeps the stage
  * behind this trait; [[HttpEmbedder]] is the remote-API binding (batched
  * `mapPartitions` POSTs), and the default implementation is a fully
  * deterministic, offline hashed TF-IDF ([[HashingTfIdfEmbedder]]) producing
  * `ARRAY<FLOAT>` — same column shape as the 64-d fixture embeddings, so the
  * search operators are embedder-agnostic.
  *
  * Scale: the hashing is stateless (no vocabulary broadcast); `fit` is one
  * treeAggregate of per-bucket document counts over the corpus, and the
  * fitted state bound into each embedding plan is `dims` doubles — both
  * scale to arbitrary corpus size.
  */
trait Embedder extends Serializable {
  def dims: Int

  /** Adds `outCol: ARRAY<FLOAT>` computed from `textCol`. */
  def embed(df: DataFrame, textCol: String = "chunk", outCol: String = "embedding"): DataFrame
}

/** Deterministic TF-IDF embedder. `fit` once on the corpus, reuse for queries.
  *
  * Its law is MLlib's `RegexTokenizer("\\s+", lowercase)` → `HashingTF(dims)`
  * → `IDF` → float composition, bit for bit; one compiled expression
  * ([[graft.functions.TfIdfEmbed]]) computes it in one pass per row, and
  * `fit` aggregates the same per-row counts.
  */
class HashingTfIdfEmbedder private (val dims: Int, weights: Option[Array[Double]])
    extends Embedder {

  def this(dims: Int = 64) = this(dims, None)

  /** The fitted idf weights, one per bucket. */
  private[graft] def idf: Array[Double] =
    weights.getOrElse(throw new IllegalStateException("call fit(corpus) before embed"))

  /** Fit the IDF statistics on a corpus; returns an embedder that reuses them
    * (required so query-time embeddings live in the same space as the index).
    * One job: a treeAggregate of `(m, df[dims])` over the text column's
    * internal rows, with `idf(j) = log((m + 1) / (df(j) + 1))`, as
    * `mllib.feature.IDF` computes it.
    */
  def fit(corpus: DataFrame, textCol: String = "chunk"): HashingTfIdfEmbedder = {
    val text = corpus.select(col(textCol))
    require(text.schema.head.dataType.isInstanceOf[StringType],
      s"$textCol must be a string column, got ${text.schema.head.dataType.catalogString}")
    val freq = text.queryExecution.toRdd.treeAggregate(new TfIdfEmbed.DocFreq(dims))(
      (acc, row) => acc.add(row.getUTF8String(0)), (a, b) => a.merge(b))
    new HashingTfIdfEmbedder(dims, Some(freq.idf))
  }

  override def embed(df: DataFrame, textCol: String, outCol: String): DataFrame =
    df.withColumn(outCol,
      ExpressionColumn(TfIdfEmbed(ExpressionColumn.expression(col(textCol)), idf)))
}

/** Seeded Word2Vec embedder — the second implementation behind [[Embedder]],
  * proving the seam: downstream operators (index build, kNN, ANN) never know
  * which embedder produced the `ARRAY<FLOAT>` column.
  *
  * Determinism: fixed seed, ONE training partition, corpus sorted before
  * fit — Word2Vec's SGD visits rows in partition order, so both row order
  * and partitioning must be pinned for bit-reproducible vectors across
  * differently-parallel sessions. At real scale you trade this determinism
  * back for throughput by raising `numPartitions` (Hogwild-style updates
  * make the fit order-dependent again); the *transform* side is stateless
  * either way and scales freely.
  */
class Word2VecEmbedder(val dims: Int = 64, model: Option[Word2VecModel] = None)
    extends Embedder {

  private def tokenizer(inputCol: String) = new RegexTokenizer()
    .setInputCol(inputCol)
    .setOutputCol("__tokens")
    .setPattern("\\s+")
    .setToLowercase(true)

  def fit(corpus: DataFrame, textCol: String = "chunk"): Word2VecEmbedder = {
    // The SGD pass needs ONE partition in a globally fixed order. A naive
    // sort.coalesce(1) pipelines the coalesce into the sort stage and the
    // sort itself runs as a single task; materializing the sorted result
    // first (localCheckpoint) keeps the sort parallel, and the subsequent
    // coalesce(1) concatenates the range-partitioned output in partition
    // order — still globally sorted. Rows tying on textCol are byte-equal
    // strings, so their relative order cannot change the token sequence.
    // The 1-partition FIT remains inherently serial and size-bound — that
    // is the determinism trade; raise numPartitions to trade it back for
    // throughput (Hogwild updates make the fit order-dependent again).
    val pinned = corpus.select(textCol).sort(textCol).localCheckpoint(true).coalesce(1)
    val toks = tokenizer(textCol).transform(pinned)
    val w2v = new Word2Vec()
      .setInputCol("__tokens").setOutputCol("__vec")
      .setVectorSize(dims).setSeed(42L)
      .setMinCount(1).setMaxIter(1).setNumPartitions(1)
    new Word2VecEmbedder(dims, Some(w2v.fit(toks)))
  }

  private val toFloatArray = udf { v: Vector => v.toArray.map(_.toFloat) }

  override def embed(df: DataFrame, textCol: String, outCol: String): DataFrame = {
    val m = model.getOrElse(
      throw new IllegalStateException("call fit(corpus) before embed"))
    m.transform(tokenizer(textCol).transform(df))
      .withColumn(outCol, toFloatArray(col("__vec")))
      .drop("__tokens", "__vec")
  }
}
