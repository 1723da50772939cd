package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import scala.collection.mutable.ArrayBuffer
import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.json4s._
import org.json4s.jackson.{JsonMethods, Serialization}

import graft.embed.HashingTfIdfEmbedder
import graft.index.VectorIndex
import graft.ingest.{PdfText, TextSources, Warc, XlsxText}
import graft.ops.{CorpusPipeline, Hnsw, Layout}
import graft.search.Bm25
import graft.serve.{ChatLog, ChatRag, ContextAssembly, Costing, EchoAnswerer, OverlapReranker, Reranker}
import graft.transform.{Chunker, Sectionizer}

final case class Doc(doc_id: Long, text: String, lang: String, source: String, format: String)

/** One benchmark run: read the seeded plan, set up, run the workload's
  * operations in a closed loop for the given number of seconds, check
  * every operation's output, and write the raw record to
  * `<run-dir>/result.json` (the Python front end turns it into metrics).
  *
  * Usage: `perfbench.Main <workload> <run-dir> <seconds> <trace 0|1> <cpus>`
  */
object Main {
  private implicit val formats: Formats = DefaultFormats

  val Dims = 64
  val SetupRepeats = 3
  val HnswParams = Hnsw.Params(m = 8, efConstruction = 80, efSearch = 64, numShards = 4)
  val TermBuckets = 16

  def main(args: Array[String]): Unit = {
    val Array(workload, runDir, seconds, trace, cpus) = args
    val plan = JsonMethods.parse(new String(Files.readAllBytes(Paths.get(runDir, "plan.json")), UTF_8))
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName(s"perfbench-$workload")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.local.dir", s"$runDir/spark-local")
      .config("spark.sql.warehouse.dir", s"$runDir/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val out = try {
      val run = new Run(spark, workload, runDir, plan, seconds.toDouble, trace == "1")
      run.execute()
    } finally spark.stop()
    Files.write(Paths.get(runDir, "result.json"), Serialization.write(out).getBytes(UTF_8))
  }

  /** graft.Bench's contention canary, the same fixed CPU-bound query:
    * 400M xxhash64 folds, no I/O, no shuffle. Returns (wall s, process
    * CPU s). */
  def canary(spark: SparkSession): (Double, Double) = {
    val t0 = System.nanoTime()
    val c0 = cpuNanos()
    spark.range(400000000L).selectExpr("bit_xor(xxhash64(id))").collect()
    ((System.nanoTime() - t0) / 1e9, (cpuNanos() - c0) / 1e9)
  }

  private val osBean = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  /** CPU time of this process, all threads (user + system), in ns. Time a
    * thread waits for a CPU, to other threads or to the host, is not
    * charged to it; JIT and GC threads are. */
  def cpuNanos(): Long = osBean.getProcessCpuTime

  /** Steal time of the whole machine so far, in ms summed over its CPUs:
    * time the hypervisor ran something else while a vCPU had work
    * (/proc/stat, 10 ms ticks). It counts toward wall time, not CPU time. */
  def stealMs(): Long = {
    val f = new String(Files.readAllBytes(Paths.get("/proc/stat")), UTF_8)
      .linesIterator.next().trim.split("\\s+")
    if (f.length > 8) f(8).toLong * 10L else 0L
  }

  /** Peak resident set of this process (VmHWM), in MB. */
  def peakRssMb(): Double = {
    val line = scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).getOrElse("VmHWM: 0 kB")
    line.split("\\s+")(1).toDouble / 1024.0
  }

  def num(r: Row, field: String): Double = r.get(r.fieldIndex(field)) match {
    case n: Number => n.doubleValue
    case other => throw new IllegalStateException(s"$field is not numeric: $other")
  }

  def normalize(s: String): String = s.split("\\s+").filter(_.nonEmpty).mkString(" ")
}

/** Operation outcome. `ms` (wall), `cpuMs` (process CPU, all threads) and
  * `stealMs` (machine steal) cover the timed part; checks run after it. */
final case class OpRecord(i: Int, kind: String, ms: Double, ok: Boolean,
    error: String, items: Long, warmup: Boolean = false, cpuMs: Double = 0.0,
    stealMs: Double = 0.0)

object ClosedLoop {
  private implicit val formats: Formats = DefaultFormats

  def msg(e: Throwable): String =
    s"${e.getClass.getSimpleName}: ${Option(e.getMessage).getOrElse("")}".take(300)

  /** Run `ops` in order: the leading `warmup` ones unconditionally, then
    * `beforeWindow`, then the rest while `seconds` have not passed. `exec`
    * returns the operation's item count and its output check; only the
    * execution is timed. */
  def run(ops: Seq[JValue], seconds: Double, tr: Tracer,
      exec: (JValue, Int) => (Long, () => Unit),
      beforeWindow: () => Unit = () => ()): Seq[OpRecord] = {
    val out = ArrayBuffer.empty[OpRecord]
    val warm = ops.takeWhile(o => (o \ "warmup").extractOpt[Boolean].contains(true)).size
    var deadline = Long.MaxValue
    var i = 0
    while (i < ops.size && System.nanoTime() < deadline) {
      if (i == warm) {
        beforeWindow()
        deadline = System.nanoTime() + (seconds * 1e9).toLong
      }
      val op = ops(i)
      val kind = (op \ "kind").extract[String]
      val isWarm = i < warm
      tr.op = if (isWarm) -1L else i.toLong
      // every operation starts on a collected heap, so no operation pays
      // for the garbage of the ones before it
      System.gc()
      val s0 = Main.stealMs()
      val t0 = System.nanoTime()
      val c0 = Main.cpuNanos()
      def timed(ok: Boolean, error: String, items: Long) = {
        val t1 = System.nanoTime()
        OpRecord(i, kind, (t1 - t0) / 1e6, ok, error, items, isWarm,
          (Main.cpuNanos() - c0) / 1e6, (Main.stealMs() - s0).toDouble)
      }
      out += (try {
        val (items, check) = exec(op, i)
        val rec = timed(ok = true, "", items)
        try { check(); rec }
        catch { case NonFatal(e) => rec.copy(ok = false, error = s"check: ${msg(e)}") }
      } catch {
        case NonFatal(e) => timed(ok = false, msg(e), 0L)
      })
      tr.op = -1L
      i += 1
    }
    tr.drain()
    out.toSeq
  }
}

final class Run(spark: SparkSession, workload: String, runDir: String,
    plan: JValue, seconds: Double, traced: Boolean) {
  import Main._
  import spark.implicits._

  private implicit val formats: Formats = DefaultFormats
  private val tr = new Tracer(spark.sparkContext, traced)
  private val docs: Vector[Doc] = (plan \ "docs").extract[Vector[Doc]]
  private val ops: Vector[JValue] = (plan \ "ops").children.toVector
  private val extra = plan \ "extra"
  private val records = ArrayBuffer.empty[OpRecord]
  // the canary runs warm, right before the measured window and after it
  private var canaryBefore = (Double.NaN, Double.NaN)
  private val stats = scala.collection.mutable.LinkedHashMap.empty[String, Any]
  // JVM uptime (s) at the end of each phase of the run
  private val phases = scala.collection.mutable.LinkedHashMap("session" -> uptimeS())
  private def uptimeS(): Double = java.lang.management.ManagementFactory.getRuntimeMXBean.getUptime / 1000.0
  private val fs = org.apache.hadoop.fs.FileSystem.getLocal(spark.sessionState.newHadoopConf())

  private def dir(name: String): String = Paths.get(runDir, name).toString
  private def textBytes(ds: Iterable[Doc]): Long = ds.iterator.map(_.text.getBytes(UTF_8).length.toLong).sum
  private def docsDf(ds: Seq[Doc]): DataFrame =
    ds.map(d => (d.doc_id, d.text, d.lang, d.source)).toDF("doc_id", "text", "lang", "source")
  private def bytesUnder(paths: String*): Long = paths.map { p =>
    val hp = new org.apache.hadoop.fs.Path(p)
    if (fs.exists(hp)) fs.getContentSummary(hp).getLength else 0L
  }.sum
  private def dataFilesUnder(paths: String*): Long = paths.map { p =>
    val hp = new org.apache.hadoop.fs.Path(p)
    if (!fs.exists(hp)) 0L
    else {
      val it = fs.listFiles(hp, true)
      var n = 0L
      while (it.hasNext) {
        val f = it.next()
        val rel = f.getPath.toString.stripPrefix(fs.makeQualified(hp).toString)
        if (!rel.split('/').exists(s => s.startsWith("_") || s.startsWith(".")) && f.getLen > 0) n += 1
      }
      n
    }
  }.sum
  private def rmrf(p: String): Unit = fs.delete(new org.apache.hadoop.fs.Path(p), true)
  private def materialize(df: DataFrame): DataFrame = df.localCheckpoint(true)

  /** Set up `SetupRepeats` times, each from scratch; the last state is
    * kept. The first repeat carries the cold start; the front end reports
    * the median. */
  private def setup(body: Int => Unit): Unit = {
    val times = (0 until SetupRepeats).map { k =>
      val t0 = System.nanoTime()
      val c0 = cpuNanos()
      body(k)
      ((System.nanoTime() - t0) / 1e9, (cpuNanos() - c0) / 1e9)
    }
    phases("setup") = uptimeS()
    stats("setup_wall_s") = times.map(_._1)
    stats("setup_cpu_s") = times.map(_._2)
  }

  /** The closed loop: one client, each operation waits for the previous
    * one. Operations flagged `warmup` lead the plan and run first, outside
    * the measured window (they carry the JIT and codegen warm-up); then the
    * canary runs and operations run until `seconds` have passed. Every
    * attempted operation, warm-up included, yields exactly one record; a
    * throw or a failed check marks it failed, it is never dropped. */
  private def loop(exec: (JValue, Int) => (Long, () => Unit)): Unit =
    records ++= ClosedLoop.run(ops, seconds, tr, exec,
      () => { phases("warmup") = uptimeS(); canaryBefore = canary(spark); phases("canary") = uptimeS() })

  private def checkThat(cond: Boolean, what: => String): Unit =
    if (!cond) throw new IllegalStateException(what)

  def execute(): Map[String, Any] = {
    workload match {
      case "corpus_build" => corpusBuild()
      case "chat_session" => chatSession()
      case "store_churn" => storeChurn()
      case w => throw new IllegalArgumentException(s"unknown workload $w")
    }
    phases("window") = uptimeS()
    tr.detach()
    val canaryAfter = canary(spark)
    phases("canary_after") = uptimeS()
    Map(
      "workload" -> workload,
      "canary_s" -> Seq(canaryBefore._1, canaryAfter._1),
      "canary_cpu_s" -> Seq(canaryBefore._2, canaryAfter._2),
      "peak_rss_mb" -> peakRssMb(),
      "records" -> records.toSeq.map(r => Map("i" -> r.i, "kind" -> r.kind,
        "ms" -> r.ms, "cpu_ms" -> r.cpuMs, "steal_ms" -> r.stealMs, "ok" -> r.ok,
        "error" -> r.error, "items" -> r.items, "warmup" -> r.warmup)),
      "stats" -> stats.toMap,
      "phases_s" -> phases.toMap,
      "spans" -> tr.export)
  }

  // ------------------------------------------------------------ corpus_build

  private def html(text: String): String =
    text.split("\n\n").map(p => if (p == p.toUpperCase) s"<h1>$p</h1>" else s"<p>$p</p>")
      .mkString("<html><body>", "\n\n", "</body></html>")

  /** The landing directory in mixed formats, written with the library's
    * own writers: gzip WARC shards, one PDF and one XLSX per document,
    * and a JSONL file. */
  private def writeLanding(root: String): Unit = {
    def put(rel: String, bytes: Array[Byte]): Unit = {
      val p = Paths.get(root, rel)
      Files.createDirectories(p.getParent)
      Files.write(p, bytes)
    }
    val byFormat = docs.groupBy(_.format)
    val warc = byFormat.getOrElse("warc", Vector.empty)
      .map(d => ((d.doc_id % 4).toInt, s"http://bench.local/doc/${d.doc_id}",
        s"<urn:perfbench:${d.doc_id}>", html(d.text).getBytes(UTF_8)))
      .toDF("shard", "uri", "record_id", "payload")
    Warc.toWarcBlobs(warc, "shard", "uri", "record_id", "payload",
      contentType = "text/html; charset=utf-8").collect().foreach { r =>
      put(s"warc/shard-${r.getString(0)}.warc.gz", r.getAs[Array[Byte]](1))
    }
    byFormat.getOrElse("pdf", Vector.empty).foreach { d =>
      put(f"pdf/doc-${d.doc_id}%06d.pdf", PdfText.synthesize(d.text.split("\n").toSeq))
    }
    byFormat.getOrElse("xlsx", Vector.empty).foreach { d =>
      put(f"xlsx/doc-${d.doc_id}%06d.xlsx", XlsxText.pack(d.text.split("\n\n").toSeq.map(Seq(_))))
    }
    val jsonl = byFormat.getOrElse("jsonl", Vector.empty).map { d =>
      Serialization.write(Map("doc_id" -> d.doc_id, "text" -> d.text, "lang" -> d.lang,
        "source" -> d.source))
    }
    put("jsonl/docs.jsonl", jsonl.mkString("", "\n", "\n").getBytes(UTF_8))
  }

  private val idFromPath = regexp_extract(col("source"), "doc-(\\d+)\\.", 1).cast("long")

  /** One full build: raw files → extracted, unioned corpus → sections and
    * chunks → fitted embedder and vectors → BM25, vector and HNSW stores. */
  private def build(landing: String, out: String): DataFrame = {
    val corpus = tr.span("ingest", "ingest.read_extract_union") {
      val warc = Warc.responseText(Warc.readWarc(spark, s"$landing/warc"))
        .select(regexp_extract(col("target_uri"), "/doc/(\\d+)$", 1).cast("long").as("doc_id"),
          TextSources.stripMarkup(col("text")).as("text"), lit("warc").as("format"))
      val pdf = TextSources.pdfDocs(TextSources.readRaw(spark, s"$landing/pdf"))
        .select(idFromPath.as("doc_id"), col("text"), lit("pdf").as("format"))
      val xlsx = TextSources.xlsxDocs(TextSources.readRaw(spark, s"$landing/xlsx"))
        .select(idFromPath.as("doc_id"), col("text"), lit("xlsx").as("format"))
      val jsonl = TextSources.jsonlDocs(spark, s"$landing/jsonl",
          org.apache.spark.sql.types.StructType.fromDDL("doc_id BIGINT, text STRING, lang STRING, source STRING"))
        .select(col("doc_id"), col("text"), lit("jsonl").as("format"))
      materialize(TextSources.unionCorpus(warc, pdf, xlsx, jsonl))
    }
    val chunks = tr.span("transform", "transform.sectionize_chunk") {
      materialize(Chunker.chunk(Sectionizer.sectionize(corpus)))
    }
    val (rows, docVecs) = tr.span("embed", "embed.fit_embed") {
      val emb = new HashingTfIdfEmbedder(Dims).fit(chunks, "chunk")
      val rows = materialize(emb.embed(chunks, "chunk", "embedding").select(
        xxhash64(col("doc_id"), col("pos"), col("chunk_idx")).as("chunk_id"),
        col("doc_id"), col("section"), col("chunk").as("text"), col("embedding")))
      val vecs = materialize(emb.embed(corpus.select(col("doc_id").as("vec_id"),
        col("text").as("chunk")), "chunk", "embedding").select("vec_id", "embedding"))
      (rows, vecs)
    }
    tr.span("index", "index.bm25") {
      Bm25.writeIndex(corpus, "doc_id", "text", s"$out/bm25", termBuckets = TermBuckets)
    }
    tr.span("index", "index.vector") { VectorIndex.write(rows, s"$out/vec") }
    tr.span("index", "index.hnsw") { Hnsw.write(docVecs, s"$out/hnsw", HnswParams) }
    corpus
  }

  private def corpusBuild(): Unit = {
    setup { k =>
      val landing = dir(s"landing$k")
      rmrf(landing)
      writeLanding(landing)
      if (k > 0) rmrf(dir(s"landing${k - 1}"))
    }
    val landing = dir(s"landing${SetupRepeats - 1}")
    val expectPerFormat = docs.groupBy(_.format).map { case (f, ds) => f -> ds.size.toLong }
    val byId = docs.map(d => d.doc_id -> d).toMap
    val rng = new scala.util.Random((plan \ "seed").extract[Long])
    val storeRatios = ArrayBuffer.empty[Double]
    val corpusBytes = textBytes(docs)
    loop { (op, i) =>
      val out = dir(s"build$i")
      val corpus = build(landing, out)
      (docs.size.toLong, () => {
        try {
          val idx = Bm25.loadIndex(spark, s"$out/bm25")
          checkThat(idx.nDocs == docs.size, s"bm25 indexed ${idx.nDocs} docs, generated ${docs.size}")
          val vecIds = VectorIndex.load(spark, s"$out/vec").select("doc_id").distinct()
            .as[Long].collect().toSeq
          val perFormat = vecIds.groupBy(id => byId.get(id).map(_.format).getOrElse("?"))
            .map { case (f, ids) => f -> ids.size.toLong }
          checkThat(perFormat == expectPerFormat,
            s"indexed per format $perFormat, generated $expectPerFormat")
          val sample = rng.shuffle(docs.map(_.doc_id)).take(8)
          val got = corpus.where(col("doc_id").isin(sample: _*)).select("doc_id", "format", "text")
            .collect()
          checkThat(got.length == sample.size, s"sampled ${sample.size} docs, extracted ${got.length}")
          got.foreach { r =>
            val d = byId(r.getLong(0))
            checkThat(r.getString(1) == d.format && normalize(r.getString(2)) == normalize(d.text),
              s"doc ${d.doc_id} (${d.format}) extracted text differs from its source")
          }
          storeRatios += bytesUnder(s"$out/bm25", s"$out/vec", s"$out/hnsw").toDouble / corpusBytes
        } finally rmrf(out)
      })
    }
    stats("store_bytes_per_live_byte") = storeRatios.toSeq
    stats("user_text_bytes") = corpusBytes * records.count(!_.warmup)
  }

  // ------------------------------------------------------------ chat_session

  private def chatSession(): Unit = {
    val docsPath = dir("docs")
    val bm25 = dir("bm25")
    val hnsw = dir("hnsw")
    val cache = dir("cache")
    val memory = dir("memory")
    val log = dir("chatlog")
    var embedder: HashingTfIdfEmbedder = null
    val seeded = (extra \ "seed_cache").extract[Seq[String]]
    setup { _ =>
      Seq(docsPath, bm25, hnsw, cache, memory, log).foreach(rmrf)
      docsDf(docs).write.parquet(docsPath)
      val d = spark.read.parquet(docsPath)
      Bm25.writeIndex(d, "doc_id", "text", bm25, termBuckets = TermBuckets)
      embedder = VectorIndex.fit(d, Dims)
      Hnsw.write(docVectors(d, embedder), hnsw, HnswParams)
      embedder.embed(seeded.zipWithIndex.map { case (q, k) => (900000L + k, q) }
          .toDF("cache_id", "question"), "question", "embedding")
        .select(col("cache_id"), col("embedding"),
          concat(lit("[seeded] "), col("question")).as("answer"))
        .write.parquet(cache)
    }
    val corpus = spark.read.parquet(docsPath).select("doc_id", "text")
    // fold a bucket or day dir as soon as it holds two small files, so
    // every turn does the same kind of maintenance work
    val policy = Layout.MaintenancePolicy(maxSmallFiles = 1)
    val turnTs0 = 1767225600000L
    val histRows = scala.collection.mutable.Map.empty[String, Long]
    val lastTurn = scala.collection.mutable.Map.empty[String, Long]
    var lookups = 0L
    var hits = 0L
    var storedBytes = 0L
    var measuredBytes = 0L

    // the miss pipeline chatTurn calls back into: real hybrid retrieval
    // over the at-rest stores, forced inside its own probe span
    val answerMisses: DataFrame => DataFrame = missQ => tr.span("probe", "probe.answer_misses") {
      val missRows = missQ.select("query_id", "question", "query_vec").collect()
      val q = spark.createDataFrame(java.util.Arrays.asList(missRows: _*),
        missQ.select("query_id", "question", "query_vec").schema)
      val qText = q.select(col("query_id"), col("question").as("query_text"))
      val terms = missRows.flatMap(r => Bm25.tokenize(r.getString(1))).distinct.toSeq
      val sparse = Bm25.topKBatch(qText,
        Bm25.restrictToTerms(Bm25.loadIndex(spark, bm25), terms), k = 20)
        .select("query_id", "doc_id", "rank")
      val dense = Hnsw.probe(spark, hnsw, q.select("query_id", "query_vec"), 20)
        .select(col("query_id"), col("vec_id").as("doc_id"), col("rank"))
      val fused = Bm25.rrfFuse(Seq(sparse, dense), k = 10)
      val top = Reranker.rerankTopK(fused, qText, corpus, OverlapReranker, k = 4)
      val hits4 = top.join(corpus, Seq("doc_id"))
        .select(col("query_id"), col("text"), col("rank").cast("double").as("dist"))
      val answered = EchoAnswerer.answer(
        ContextAssembly.assembleAll(q.select("query_id", "question"), hits4), "question", "context")
      val priced = Costing.withCost(answered
          .withColumn("prompt_tokens", graft.ops.TextAnalytics.tokenCount(col("question")) +
            graft.ops.TextAnalytics.tokenCount(col("context")))
          .withColumn("completion_tokens", graft.ops.TextAnalytics.tokenCount(col("answer"))),
        col("prompt_tokens"), col("completion_tokens"))
        .select(col("query_id"), col("question"), col("answer"), round(col("cost"), 8).as("cost"))
      // one job forces the answers; the callback hands back a local frame
      val rows = priced.collect()
      tr.resultRows(rows.length.toLong)
      spark.createDataFrame(java.util.Arrays.asList(rows: _*), priced.schema)
    }

    loop { (op, i) =>
      val rows = (op \ "rows").children
      val measured = !(op \ "warmup").extractOpt[Boolean].contains(true)
      val qs = rows.map(r => ((r \ "session_id").extract[String], (r \ "query_id").extract[Long],
        (r \ "question").extract[String]))
      val batch = tr.span("embed", "embed.questions") {
        materialize(embedder.embed(qs.toDF("session_id", "query_id", "question"),
          "question", "query_vec"))
      }
      val served = tr.span("serve", "serve.chat_turn") {
        ChatRag.chatTurn(spark, batch, memory, cache, minCos = 0.95, answerMisses,
          memoryBuckets = 4, turnTs = Some(turnTs0 + (op \ "turn").extract[Long] * 60000L),
          chatLog = Some(log))
          .collect()
      }
      tr.span("maintain", "maintain.memory_log_fold") {
        Layout.compactSmallFilesAll(spark, Layout.dueSubdirs(spark, memory, policy, "sbucket="),
          targetBytes = policy.smallFileBytes * 8)
        ChatLog.compactSmallDayFiles(spark, log, policy)
      }
      (rows.size.toLong, () => {
        val bySession = served.map(r => r.getAs[String]("session_id") -> r).toMap
        checkThat(bySession.size == rows.size, s"turn served ${bySession.size} of ${rows.size} sessions")
        rows.foreach { r =>
          val sid = (r \ "session_id").extract[String]
          val got = bySession(sid)
          val hist = histRows.getOrElse(sid, 0L)
          val expTurn = lastTurn.get(sid).map(_ + 2).getOrElse(0L)
          if (measured) {
            lookups += 1
            if (got.getAs[Boolean]("hit")) hits += 1
          }
          if ((r \ "reask").extract[Boolean])
            checkThat(got.getAs[Boolean]("hit") && num(got, "cost") == 0.0,
              s"planned re-ask in session $sid was not a cost-0 hit")
          checkThat(num(got, "n_prompt_msgs") == 3 + 2 * hist,
            s"session $sid: n_prompt_msgs ${num(got, "n_prompt_msgs")}, expected ${3 + 2 * hist}")
          checkThat(num(got, "turn") == expTurn,
            s"session $sid: turn ${num(got, "turn")}, expected $expTurn")
          histRows(sid) = hist + 2
          lastTurn(sid) = expTurn
          val bytes = got.getAs[String]("question").getBytes(UTF_8).length +
            Option(got.getAs[String]("answer")).map(_.getBytes(UTF_8).length).getOrElse(0)
          storedBytes += bytes
          if (measured) measuredBytes += bytes
        }
      })
    }
    stats("lookups") = lookups
    stats("hits") = hits
    stats("state_files") = dataFilesUnder(memory, cache, log)
    stats("store_bytes") = bytesUnder(memory, cache, log)
    stats("live_bytes") = storedBytes
    stats("user_text_bytes") = measuredBytes
  }

  // ------------------------------------------------------------- store_churn

  private def storeChurn(): Unit = {
    val bm25 = dir("bm25")
    val vec = dir("vec")
    val hnsw = dir("hnsw")
    val nInit = (extra \ "initial_docs").extract[Int]
    val initial = docs.take(nInit)
    var embedder: HashingTfIdfEmbedder = null
    setup { _ =>
      Seq(bm25, vec, hnsw).foreach(rmrf)
      val d = docsDf(initial)
      Bm25.writeIndex(d, "doc_id", "text", bm25, termBuckets = TermBuckets)
      embedder = VectorIndex.fit(d, Dims)
      VectorIndex.write(VectorIndex.buildWith(d, embedder).withColumn("epoch", lit(0L)), vec)
      Hnsw.write(docVectors(d, embedder), hnsw, HnswParams)
    }
    val live = scala.collection.mutable.LinkedHashSet.empty[Long] ++= initial.map(_.doc_id)
    val deleted = scala.collection.mutable.Set.empty[Long]
    val bm25Policy = Layout.MaintenancePolicy(maxSegments = 4, maxTombstoneFraction = 0.05)
    val hnswPolicy = Layout.MaintenancePolicy(maxSegments = 16, maxTombstoneFraction = 0.05)
    var writtenText = 0L
    val files = ArrayBuffer.empty[Long]

    def maintain(): Unit = tr.span("maintain", "maintain.policy") {
      CorpusPipeline.maintainIndex(spark, bm25, bm25Policy, totalIds = Some(live.size.toLong),
        merge = Some(() => { Bm25.mergeSegments(spark, bm25, targetSegments = 2); () }),
        compact = Some(() => { Bm25.compactIndex(spark, bm25); () }))
      CorpusPipeline.maintainIndex(spark, hnsw, hnswPolicy, totalIds = Some(live.size.toLong),
        idCol = "id",
        merge = Some(() => { Hnsw.mergeSegments(spark, hnsw, targetShards = 8); () }),
        compact = Some(() => { Hnsw.compact(spark, hnsw); () }))
      CorpusPipeline.maintainIndex(spark, vec, bm25Policy, totalIds = Some(live.size.toLong),
        compact = Some(() => { VectorIndex.compact(spark, vec); () }))
      ()
    }

    loop { (op, i) =>
      val kind = (op \ "kind").extract[String]
      kind match {
        case "append" =>
          val ids = (op \ "ids").extract[Seq[Long]]
          val add = ids.map(id => docs(id.toInt))
          val d = docsDf(add)
          val vecs = tr.span("embed", "embed.new_docs") { materialize(docVectors(d, embedder)) }
          tr.span("maintain", "maintain.append") {
            Bm25.appendIndex(spark, d, bm25, "doc_id", "text")
            VectorIndex.upsertDocs(spark, d, vec, embedder, (op \ "epoch").extract[Long])
            Hnsw.append(spark, vecs, hnsw)
          }
          live ++= ids
          maintain()
          writtenText += textBytes(add)
          (ids.size.toLong, () => ())
        case "delete" =>
          val ids = (op \ "ids").extract[Seq[Long]]
          tr.span("maintain", "maintain.delete") {
            Bm25.deleteDocs(spark, bm25, ids)
            VectorIndex.deleteDocs(spark, ids, vec, (op \ "epoch").extract[Long])
            Hnsw.delete(spark, hnsw, ids)
          }
          live --= ids
          deleted ++= ids
          maintain()
          (ids.size.toLong, () => ())
        case "probe" =>
          val queries = (op \ "queries").children.zipWithIndex.map { case (q, k) =>
            (k.toLong, (q \ "text").extract[String], (q \ "expect").extractOpt[Long])
          }
          val got = probe(queries.map(q => (q._1, q._2)), bm25, hnsw, embedder)
          (queries.size.toLong, () => {
            files += dataFilesUnder(bm25, vec, hnsw)
            val back = got.groupBy(_._1).map { case (q, hs) => q -> hs.map(_._2).toSet }
            val dead = got.map(_._2).filter(deleted.contains)
            checkThat(dead.isEmpty, s"probe returned deleted ids ${dead.distinct.mkString(",")}")
            queries.foreach { case (q, _, expect) =>
              expect.foreach(e => checkThat(back.getOrElse(q, Set.empty).contains(e),
                s"probe with doc $e's own text did not return it"))
            }
          })
      }
    }
    stats("store_bytes") = bytesUnder(bm25, vec, hnsw)
    stats("live_bytes") = textBytes(live.toSeq.map(id => docs(id.toInt)))
    stats("user_text_bytes") = writtenText
    stats("files_per_probe") = files.toSeq
    finalCompactionCheck(bm25, live.toSeq)
  }

  private def docVectors(d: DataFrame, emb: HashingTfIdfEmbedder): DataFrame =
    emb.embed(d.select(col("doc_id").as("vec_id"), col("text").as("chunk")), "chunk", "embedding")
      .select("vec_id", "embedding")

  /** Hybrid probe at rest: BM25 top-k and HNSW top-k fused by RRF.
    * Returns (query_id, doc_id) for the fused top-10. */
  private def probe(queries: Seq[(Long, String)], bm25: String, hnsw: String,
      emb: HashingTfIdfEmbedder): Seq[(Long, Long)] = {
    val qText = queries.toDF("query_id", "query_text")
    val qVec = tr.span("embed", "embed.queries") {
      materialize(emb.embed(qText, "query_text", "query_vec").select("query_id", "query_vec"))
    }
    tr.span("probe", "probe.hybrid_at_rest") {
      val terms = queries.flatMap(q => Bm25.tokenize(q._2)).distinct
      val sparse = Bm25.topKBatch(qText,
        Bm25.restrictToTerms(Bm25.loadIndex(spark, bm25), terms), k = 10)
        .select("query_id", "doc_id", "rank")
      val dense = Hnsw.probe(spark, hnsw, qVec, 10)
        .select(col("query_id"), col("vec_id").as("doc_id"), col("rank"))
      val out = Bm25.rrfFuse(Seq(sparse, dense), k = 10).select("query_id", "doc_id")
        .as[(Long, Long)].collect().toSeq
      tr.resultRows(out.size.toLong)
      out
    }
  }

  /** `compactIndex`'s documented law: after compaction the index is
    * value-identical to a from-scratch `writeIndex` over the surviving
    * docs. Checked untimed on a fixed probe set; counted as one
    * operation. */
  private def finalCompactionCheck(bm25: String, survivors: Seq[Long]): Unit = {
    val probes = (extra \ "final_probes").extract[Seq[String]]
    val t0 = System.nanoTime()
    val rec = try {
      Bm25.compactIndex(spark, bm25)
      val fresh = dir("bm25_fresh")
      Bm25.writeIndex(docsDf(survivors.map(id => docs(id.toInt))), "doc_id", "text", fresh,
        termBuckets = TermBuckets)
      val q = probes.zipWithIndex.map { case (t, k) => (k.toLong, t) }.toDF("query_id", "query_text")
      def topk(path: String) = Bm25.topKBatch(q, Bm25.loadIndex(spark, path), k = 10)
        .select("query_id", "rank", "doc_id", "score").collect().map(_.toString).toSeq.sorted
      val (a, b) = (topk(bm25), topk(fresh))
      val ok = a == b && a.nonEmpty
      OpRecord(records.size, "final_check", (System.nanoTime() - t0) / 1e6, ok,
        if (ok) "" else s"check: compacted top-k differs from a fresh build (${a.size} vs ${b.size} rows)", probes.size.toLong)
    } catch {
      case NonFatal(e) =>
        OpRecord(records.size, "final_check", (System.nanoTime() - t0) / 1e6, ok = false,
          ClosedLoop.msg(e), 0L)
    }
    records += rec
  }
}
