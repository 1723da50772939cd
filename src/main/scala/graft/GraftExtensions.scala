package graft

import graft.functions.{CosineSimilarity, DotProduct, L2Distance, RecursiveSplitGenerator, TopKByDist, WindowTopKRewrite}
import org.apache.spark.SparkEnv
import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

/** Session-extension injector: makes every graft function available on any
  * session started with
  * `--conf spark.sql.extensions=graft.GraftExtensions` — the deployment
  * path for a shared cluster, where per-session `register()` calls don't
  * reach SQL-only users (JDBC/Thrift, notebooks).
  *
  * On that path it also floors the driver's generated-class cache at
  * [[GraftExtensions.CodegenCacheFloor]] (see there).
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  override def apply(ext: SparkSessionExtensions): Unit = {
    GraftExtensions.floorCodegenCache()

    def info(name: String, usage: String) =
      new ExpressionInfo("graft", null, name, usage, "", "", "", "", "", "", "built-in")

    ext.injectFunction((
      FunctionIdentifier("l2_distance"),
      info("l2_distance", "l2_distance(a, b) - Euclidean distance of two float vectors"),
      (es: Seq[Expression]) => L2Distance(es.head, es(1))))
    ext.injectFunction((
      FunctionIdentifier("dot_product"),
      info("dot_product", "dot_product(a, b) - dot product of two float vectors"),
      (es: Seq[Expression]) => DotProduct(es.head, es(1))))
    ext.injectFunction((
      FunctionIdentifier("cosine_similarity"),
      info("cosine_similarity", "cosine_similarity(a, b) - cosine of two float vectors"),
      (es: Seq[Expression]) => CosineSimilarity(es.head, es(1))))
    ext.injectFunction((
      FunctionIdentifier("topk_by_dist"),
      info("topk_by_dist", "topk_by_dist(dist, id, k) - k smallest (dist, id) pairs"),
      (es: Seq[Expression]) => TopKByDist(es(0), es(1), es(2)).toAggregateExpression()))
    // conf-gated (spark.graft.rewriteWindowTopK): window-rank top-k →
    // bounded-heap aggregate
    ext.injectOptimizerRule(_ => WindowTopKRewrite)

    ext.injectFunction((
      FunctionIdentifier("recursive_split"),
      info("recursive_split",
        "recursive_split(text, size, overlap) - recursive chunk generator"),
      (es: Seq[Expression]) => RecursiveSplitGenerator(es(0), es(1), es(2))))

    ext.injectFunction((
      FunctionIdentifier("pdf_extract"),
      info("pdf_extract", "pdf_extract(content) - text of a text-only PDF binary"),
      (es: Seq[Expression]) => graft.functions.PdfExtract(es.head)))
    ext.injectFunction((
      FunctionIdentifier("compression_ratio"),
      info("compression_ratio",
        "compression_ratio(text) - deflate ratio; 1.0 for empty/null"),
      (es: Seq[Expression]) => graft.functions.CompressionRatio(es.head)))

    ext.injectFunction((
      FunctionIdentifier("xlsx_extract"),
      info("xlsx_extract", "xlsx_extract(content) - flattened cell text of an xlsx binary"),
      (es: Seq[Expression]) => graft.functions.XlsxExtract(es.head)))
    ext.injectFunction((
      FunctionIdentifier("xlsx_pack"),
      info("xlsx_pack", "xlsx_pack(grid) - minimal xlsx binary from ARRAY<ARRAY<STRING>>"),
      (es: Seq[Expression]) => graft.functions.XlsxPack(es.head)))

    ext.injectFunction((
      FunctionIdentifier("phrase_count"),
      info("phrase_count",
        "phrase_count(tokens, phrase) - adjacent in-order occurrences of phrase in tokens"),
      (es: Seq[Expression]) => graft.functions.PhraseCount(es(0), es(1))))

    ext.injectFunction((
      FunctionIdentifier("wav_pack"),
      info("wav_pack", "wav_pack(samples, rate) - PCM16 mono WAV binary from ARRAY<INT>"),
      (es: Seq[Expression]) => graft.functions.WavPack(es(0), es(1))))
    ext.injectFunction((
      FunctionIdentifier("wav_rms"),
      info("wav_rms", "wav_rms(content, frame_size) - per-frame RMS energy of a PCM16 WAV"),
      (es: Seq[Expression]) => graft.functions.WavRms(es(0), es(1))))

    ext.injectFunction((
      FunctionIdentifier("avi_pack"),
      info("avi_pack",
        "avi_pack(frames, w, h, fps) - MJPEG AVI binary from ARRAY<BINARY> frames"),
      (es: Seq[Expression]) => graft.functions.AviPack(es(0), es(1), es(2), es(3))))
    ext.injectFunction((
      FunctionIdentifier("avi_frames"),
      info("avi_frames", "avi_frames(content) - frame payloads of an AVI binary"),
      (es: Seq[Expression]) => graft.functions.AviFrames(es.head)))

    ext.injectFunction((
      FunctionIdentifier("simhash64"),
      info("simhash64", "simhash64(tokens) - 64-bit SimHash of a token array"),
      (es: Seq[Expression]) => graft.functions.SimHash64(es.head)))
    ext.injectFunction((
      FunctionIdentifier("word_tokens"),
      info("word_tokens",
        "word_tokens(text) - lowercase [a-z0-9] word tokens; empty for null"),
      (es: Seq[Expression]) => graft.functions.WordTokens(es.head)))
    ext.injectFunction((
      FunctionIdentifier("vector_norm"),
      info("vector_norm", "vector_norm(vec) - L2 norm of a float vector"),
      (es: Seq[Expression]) => graft.functions.VectorNorm(es.head)))
    ext.injectFunction((
      FunctionIdentifier("unit_vector"),
      info("unit_vector",
        "unit_vector(vec) - unit-normalized copy of a float vector as ARRAY<DOUBLE>"),
      (es: Seq[Expression]) => graft.functions.UnitVector(es.head)))
    ext.injectFunction((
      FunctionIdentifier("unit_vector_f"),
      info("unit_vector_f",
        "unit_vector_f(vec) - unit-normalized copy of a float vector as ARRAY<FLOAT>"),
      (es: Seq[Expression]) => graft.functions.UnitVectorF(es.head)))
    ext.injectFunction((
      FunctionIdentifier("dot_product_d"),
      info("dot_product_d", "dot_product_d(a, b) - dot product of two double vectors"),
      (es: Seq[Expression]) => graft.functions.DotProductDouble(es(0), es(1))))
    ext.injectFunction((
      FunctionIdentifier("rp_band_key"),
      info("rp_band_key",
        "rp_band_key(vec, dims, table, nProjs, width, seed) - multi-projection RP-LSH band key"),
      graft.functions.VectorFunctions.buildRpBandKey _))

    ext.injectFunction((
      FunctionIdentifier("minhash_sig"),
      info("minhash_sig",
        "minhash_sig(h, numHashes) - element-wise-min MinHash signature of shingle hashes"),
      (es: Seq[Expression]) =>
        graft.functions.MinHashSig(es(0), es(1)).toAggregateExpression()))
    ext.injectFunction((
      FunctionIdentifier("sig_match_count"),
      info("sig_match_count",
        "sig_match_count(a, b) - matching positions of two BIGINT minhash signatures"),
      (es: Seq[Expression]) => graft.functions.SigMatchCount(es(0), es(1))))

    ext.injectFunction((
      FunctionIdentifier("cms_merge"),
      info("cms_merge", "cms_merge(sketch) - merge count-min sketches (binary)"),
      (es: Seq[Expression]) =>
        graft.functions.CmsMerge(es.head).toAggregateExpression()))
    ext.injectFunction((
      FunctionIdentifier("cms_estimate"),
      info("cms_estimate",
        "cms_estimate(sketch, item) - point-frequency estimate from a CMS"),
      (es: Seq[Expression]) => graft.functions.CmsEstimate(es(0), es(1))))
  }
}

object GraftExtensions {

  /** Floor for `spark.sql.codegen.cache.maxEntries`, the size of the
    * JVM-wide LRU of compiled generated classes (Spark's default: 100).
    * One engine operation needs more distinct classes than that — counted
    * with `CodegenMetrics.METRIC_COMPILATION_TIME`, a warm `chatTurn`
    * compiles about 177 and a corpus build about 130 — so at the default
    * every class is evicted before its next use and each operation pays
    * its code generation again (about 8.4 ms per class). 1024 is about
    * 5.8× the largest measured working set (177 classes). PERF.md,
    * "Generated-class cache: one operation's working set", has the
    * compile counts at both sizes and the end-to-end A/B.
    */
  val CodegenCacheFloor = 1024

  private val CodegenCacheKey = "spark.sql.codegen.cache.maxEntries"

  /** Set the floor on the live SparkConf unless the deployment set the
    * key itself (an explicit value always wins, in either direction).
    *
    * It takes effect on the `spark.sql.extensions` conf path only: there
    * Spark applies the extensions after the new SparkContext exists and
    * before `SharedState` clones its conf, and `CodeGenerator` sizes its
    * cache once per JVM, at its first use, from that conf. On the
    * builder-time `withExtensions(new GraftExtensions()(_))` path,
    * `apply` runs before the context is created (there is no `SparkEnv`
    * yet, or it belongs to a context that has already generated code), so
    * the floor cannot reach the cache there; this object does not try to
    * force `CodeGenerator`'s initialisation.
    *
    * Executors on a cluster build their own cache from their own
    * SparkConf, which this driver-side call does not reach: cluster
    * deployments set `spark.sql.codegen.cache.maxEntries` in
    * spark-defaults.
    */
  private def floorCodegenCache(): Unit =
    Option(SparkEnv.get).foreach(
      _.conf.setIfMissing(CodegenCacheKey, CodegenCacheFloor.toString))
}
