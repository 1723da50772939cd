package graft.functions

import org.apache.spark.sql.{Column, ExpressionColumn, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, ExpectsInputTypes, Expression, UnaryExpression, UnsafeArrayData}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, CodegenFallback, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.{ArrayData, CollationSupport, GenericArrayData}
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.functions.call_function
import org.apache.spark.sql.types.{ArrayType, BinaryType, DataType, DoubleType, FloatType, LongType, StringType}
import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.hash.Murmur3_x86_32
import org.apache.spark.unsafe.types.UTF8String

/** Catalyst expressions for the imperative text operators, so SQL-only
  * deployments (`spark.sql.extensions=graft.GraftExtensions`) reach them
  * without a Scala UDF registration step: `SELECT pdf_extract(content)`,
  * `SELECT compression_ratio(text)`. Both are eval-based
  * ([[CodegenFallback]]): the per-row work is genuine byte-level
  * imperation (inflate, deflate, PDF scan) that gains nothing from
  * generated Java, and a fallback expression still pipelines inside the
  * scan stage.
  */
case class PdfExtract(child: Expression)
    extends UnaryExpression with ExpectsInputTypes with CodegenFallback {
  override def prettyName: String = "pdf_extract"
  override def inputTypes: Seq[DataType] = Seq(BinaryType)
  override def dataType: DataType = StringType
  override def nullSafeEval(input: Any): Any =
    UTF8String.fromString(graft.ingest.PdfText.extract(input.asInstanceOf[Array[Byte]]))
  override protected def withNewChildInternal(newChild: Expression): PdfExtract =
    copy(child = newChild)
}

/** Deflate compression ratio of a string — see
  * [[graft.ops.TextAnalytics.compressionRatio]] for the curation
  * semantics. Null and empty input are NEUTRAL (1.0), not null: curation
  * gates on "ratio too low" must not silently drop empty rows here.
  */
case class CompressionRatio(child: Expression)
    extends UnaryExpression with ExpectsInputTypes with CodegenFallback {
  override def prettyName: String = "compression_ratio"
  override def inputTypes: Seq[DataType] = Seq(StringType)
  override def dataType: DataType = DoubleType
  override def nullable: Boolean = false

  override def eval(input: InternalRow): Any = {
    val v = child.eval(input)
    if (v == null) 1.0
    else CompressionRatio.ratio(v.asInstanceOf[UTF8String].toString)
  }
  override protected def withNewChildInternal(newChild: Expression): CompressionRatio =
    copy(child = newChild)
}

object CompressionRatio {
  def ratio(text: String): Double = {
    val raw = text.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    if (raw.isEmpty) 1.0
    else {
      val d = new java.util.zip.Deflater(java.util.zip.Deflater.DEFAULT_COMPRESSION)
      d.setInput(raw); d.finish()
      val out = new java.io.ByteArrayOutputStream(raw.length / 2 + 32)
      val buf = new Array[Byte](8192)
      while (!d.finished()) {
        val k = d.deflate(buf)
        out.write(buf, 0, k)
      }
      d.end()
      math.rint(out.size.toDouble / raw.length * 1e6) / 1e6
    }
  }
}

/** XLSX → flattened text ([[graft.ingest.XlsxText.extract]] — the S6 arm
  * the reference accepts but never processes). Per-row unzip + StAX walk,
  * pipelined inside the scan stage like [[PdfExtract]].
  */
case class XlsxExtract(child: Expression)
    extends UnaryExpression with ExpectsInputTypes with CodegenFallback {
  override def prettyName: String = "xlsx_extract"
  override def inputTypes: Seq[DataType] = Seq(BinaryType)
  override def dataType: DataType = StringType
  override def nullSafeEval(input: Any): Any =
    UTF8String.fromString(graft.ingest.XlsxText.extract(input.asInstanceOf[Array[Byte]]))
  override protected def withNewChildInternal(newChild: Expression): XlsxExtract =
    copy(child = newChild)
}

/** ARRAY<ARRAY<STRING>> cell grid → a minimal real xlsx container
  * ([[graft.ingest.XlsxText.pack]]). Exists so tests and the s6 roundtrip
  * query can synthesize genuine workbooks distributively — the encode
  * twin of [[XlsxExtract]], same stance as the synthetic-image seam the
  * m-series uses.
  */
case class XlsxPack(child: Expression)
    extends UnaryExpression with ExpectsInputTypes with CodegenFallback {
  import org.apache.spark.sql.catalyst.util.ArrayData
  override def prettyName: String = "xlsx_pack"
  override def inputTypes: Seq[DataType] =
    Seq(org.apache.spark.sql.types.ArrayType(
      org.apache.spark.sql.types.ArrayType(StringType)))
  override def dataType: DataType = BinaryType
  override def nullSafeEval(input: Any): Any = {
    val grid = input.asInstanceOf[ArrayData]
    val rows = (0 until grid.numElements()).map { ri =>
      val r = grid.getArray(ri)
      (0 until r.numElements()).map { ci =>
        val v = r.getUTF8String(ci)
        if (v == null) "" else v.toString
      }
    }
    graft.ingest.XlsxText.pack(rows)
  }
  override protected def withNewChildInternal(newChild: Expression): XlsxPack =
    copy(child = newChild)
}

/** Count of ADJACENT in-order occurrences of `phrase` inside `tokens`
  * (both `ARRAY<STRING>`) — the verify half of
  * [[graft.search.Bm25.phraseMatches]], as a genuinely codegen'd loop.
  * The formulation it replaces — a nested
  * `size(filter(sequence(...), i => size(filter(sequence(...), j => ...))))`
  * HOF — ran in the EXPRESSION INTERPRETER at O(positions × phrase_len)
  * per candidate with a materialized index array per row, the exact class
  * this repo measured at 27× (SQ8 ADC) and 57× (hashed minhash); a phrase
  * of common terms makes the candidate set huge and every candidate paid
  * interpreter rates over its full token array. Here the generated code is
  * one static call per row into a tight JVM loop (the
  * [[VectorBinaryExpression]] static-forwarder pattern) — A/B'd with a
  * deliberately common anchor at the 2M-doc tier in ScaleSmoke/PERF.md.
  * An empty phrase counts 0 (callers refuse it upstream); overlapping
  * occurrences count individually, matching the HOF law.
  */
case class PhraseCount(left: Expression, right: Expression)
    extends BinaryExpression with ExpectsInputTypes {
  override def prettyName: String = "phrase_count"
  override def inputTypes: Seq[DataType] =
    Seq(ArrayType(StringType), ArrayType(StringType))
  override def dataType: DataType = LongType

  override def nullSafeEval(toks: Any, phrase: Any): Any =
    PhraseCount.count(toks.asInstanceOf[ArrayData], phrase.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) =>
      s"${ev.value} = graft.functions.PhraseCount.count($a, $b);")

  override protected def withNewChildrenInternal(l: Expression, r: Expression): PhraseCount =
    copy(left = l, right = r)
}

object PhraseCount {
  /** Shared by the interpreted eval and the generated Java (static call —
    * no boxing, no per-element expression dispatch).
    */
  def count(toks: ArrayData, phrase: ArrayData): Long = {
    val n = toks.numElements()
    val m = phrase.numElements()
    if (m == 0 || m > n) return 0L
    var cnt = 0L
    var i = 0
    val limit = n - m
    while (i <= limit) {
      var j = 0
      var ok = true
      while (ok && j < m) {
        val x = if (toks.isNullAt(i + j)) null else toks.getUTF8String(i + j)
        val y = if (phrase.isNullAt(j)) null else phrase.getUTF8String(j)
        ok = x != null && y != null && x.equals(y)
        j += 1
      }
      if (ok) cnt += 1
      i += 1
    }
    cnt
  }
}

/** 64-bit SimHash of a token array (Charikar 2002 — the near-dup
  * signature under [[graft.ops.Dedup.simhash]]): per bit, the majority
  * vote of that bit over the tokens' xxhash64 values; ties and empty
  * input → 0. Token hash is Spark's OWN xxhash64 law
  * (`XxHash64Function`, seed 42; null token → the seed, exactly like
  * `xxhash64(NULL)`), so the result is bit-identical to the
  * `transform`/`aggregate` higher-order formulation it replaced — which
  * ran 64 interpreted `aggregate` passes per document in the expression
  * interpreter (HOFs do not participate in whole-stage codegen; the
  * class this repo measured at 27–57×). Here the whole signature is ONE
  * static call per row from generated Java: one pass over the tokens,
  * 64 integer vote counters, no per-element expression dispatch.
  */
case class SimHash64(child: Expression)
    extends UnaryExpression with ExpectsInputTypes {
  override def prettyName: String = "simhash64"
  override def inputTypes: Seq[DataType] = Seq(ArrayType(StringType))
  override def dataType: DataType = LongType

  override def nullSafeEval(tokens: Any): Any =
    SimHash64.compute(tokens.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a =>
      s"${ev.value} = graft.functions.SimHash64.compute($a);")

  override protected def withNewChildInternal(newChild: Expression): SimHash64 =
    copy(child = newChild)
}

object SimHash64 {
  /** Shared by the interpreted eval and the generated Java. The bit vote
    * uses `(h >> b) & 1`, which equals the logical-shift formulation for
    * every b in [0, 64) — same law as the SQL `shiftright` the HOF
    * version used.
    */
  def compute(tokens: ArrayData): Long = {
    val n = tokens.numElements()
    val counts = new Array[Int](64)
    var i = 0
    while (i < n) {
      val h =
        if (tokens.isNullAt(i)) 42L // xxhash64(NULL) returns the seed
        else org.apache.spark.sql.catalyst.expressions.XxHash64Function
          .hash(tokens.getUTF8String(i), StringType, 42L)
      var b = 0
      while (b < 64) {
        if (((h >> b) & 1L) == 1L) counts(b) += 1 else counts(b) -= 1
        b += 1
      }
      i += 1
    }
    var r = 0L
    var b = 0
    while (b < 64) {
      if (counts(b) > 0) r |= 1L << b
      b += 1
    }
    r
  }
}

/** Lowercase word tokens of a string: the token law every text operator
  * shares ([[graft.search.Bm25.tokensCol]] — BM25 build, append and
  * probe, the overlap reranker, snippets, generation eval, text
  * analytics). The law is the reference composition
  * `filter(split(lower(coalesce(t, '')), '[^a-z0-9]+'), t -> length(t) > 0)`:
  * null and empty input give an empty array, never null.
  *
  * The composition it replaces ran its `filter` lambda in the expression
  * interpreter (higher-order functions do not take part in whole-stage
  * codegen) and its regex split per row. Here the generated code is one
  * static call per row ([[WordTokens.tokens]]): a byte scan that emits
  * the ASCII letter/digit runs, lowercased. A row holding any non-ASCII
  * byte takes the exact reference computation instead — Spark's own
  * `lower` (same collation and ICU case-mapping switch as `Lower`), then
  * the same `[a-z0-9]` run scan over the lowered bytes — so characters
  * whose lowercase is ASCII (U+212A KELVIN SIGN → `k`) tokenize exactly
  * as the reference does.
  */
case class WordTokens(child: Expression)
    extends UnaryExpression with ExpectsInputTypes {
  override def prettyName: String = "word_tokens"
  override def inputTypes: Seq[DataType] = Seq(StringType)
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def nullable: Boolean = false

  private def collationId: Int = child.dataType.asInstanceOf[StringType].collationId
  // read once per expression instance, like `Lower`
  private lazy val useICU: Boolean =
    SQLConf.get.getConf(SQLConf.ICU_CASE_MAPPINGS_ENABLED)

  override def eval(input: InternalRow): Any =
    WordTokens.tokens(child.eval(input).asInstanceOf[UTF8String], collationId, useICU)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val c = child.genCode(ctx)
    ev.copy(code = code"""
      ${c.code}
      ${classOf[ArrayData].getName} ${ev.value} = graft.functions.WordTokens.tokens(
        ${c.isNull} ? null : ${c.value}, $collationId, $useICU);""",
      isNull = FalseLiteral)
  }

  override protected def withNewChildInternal(newChild: Expression): WordTokens =
    copy(child = newChild)
}

object WordTokens {
  private val NoTokens = new GenericArrayData(Array.empty[Any])

  /** Shared by the interpreted eval and the generated Java. */
  def tokens(s: UTF8String, collationId: Int, useICU: Boolean): ArrayData =
    if (s == null) NoTokens
    else {
      val fast = runs(s, ascii = true)
      if (fast != null) fast
      else runs(CollationSupport.Lower.exec(s, collationId, useICU), ascii = false)
    }

  /** The `[a-z0-9]` runs of `s` as tokens. With `ascii`, `s` is raw
    * input: `[A-Z]` also belongs to a run and is lowercased, and the
    * first non-ASCII byte aborts the scan (null — the caller lowers the
    * row through Spark). Without it, `s` is already lowered and every
    * byte outside `[a-z0-9]` (UTF-8 continuation and lead bytes
    * included) separates, as the reference split does.
    */
  private def runs(s: UTF8String, ascii: Boolean): ArrayData = {
    val n = s.numBytes()
    val out = scala.collection.mutable.ArrayBuffer.empty[Any]
    var start = 0
    var i = 0
    while (i <= n) {
      val b: Byte = if (i < n) s.getByte(i) else 0
      if (b < 0 && ascii) return null
      val inRun = (b >= 'a' && b <= 'z') || (b >= '0' && b <= '9') ||
        (ascii && b >= 'A' && b <= 'Z')
      if (!inRun) {
        if (i > start) out += lowerAscii(s, start, i)
        start = i + 1
      }
      i += 1
    }
    if (out.isEmpty) NoTokens else new GenericArrayData(out.toArray)
  }

  private def lowerAscii(s: UTF8String, from: Int, until: Int): UTF8String = {
    val bytes = new Array[Byte](until - from)
    var j = 0
    while (j < bytes.length) {
      val b = s.getByte(from + j)
      bytes(j) = if (b >= 'A' && b <= 'Z') (b + ('a' - 'A')).toByte else b
      j += 1
    }
    UTF8String.fromBytes(bytes)
  }
}

/** TF-IDF vector of a string: the kernel of
  * [[graft.embed.HashingTfIdfEmbedder]]. The law is MLlib's composition
  * `RegexTokenizer(pattern = "\\s+", toLowercase)` → `HashingTF(dims)` →
  * `IDFModel` → `toFloat`: the runs of the lowercased text between Java
  * `\s` characters, each hashed by `HashingTF`'s murmur3 (seed 42) into
  * one of `dims` buckets, the bucket counts times the fitted `idf`
  * weights. Null text raises, as the tokenizer does; the column stays
  * nullable, as the MLlib column was, so a written vector store keeps its
  * optional list type.
  *
  * The composition it replaces ran four Scala UDFs per row, with two
  * `Vector` round trips and a `String` per token. Here the generated code
  * is one static call per row ([[TfIdfEmbed.embed]]): copy the bytes,
  * lowercase ASCII in place, hash each run of non-separator bytes where
  * it lies and count into a `double[dims]`. A row holding any non-ASCII
  * byte takes the exact path instead: Java's `toLowerCase()` under the
  * default locale, as the tokenizer lowers (final sigma, U+0130), then
  * the same scan over its UTF-8 bytes. So does every row under a Turkish
  * or Azerbaijani default locale, where ASCII `I` lowercases to `ı`.
  * `idf` is bound by reference, so a refit compiles no new class.
  */
case class TfIdfEmbed(child: Expression, idf: Array[Double])
    extends UnaryExpression with ExpectsInputTypes {
  override def prettyName: String = "tfidf_embed"
  override def inputTypes: Seq[DataType] = Seq(StringType)
  override def dataType: DataType = ArrayType(FloatType, containsNull = false)
  override def nullable: Boolean = true
  override protected def stringArgs: Iterator[Any] = Iterator(child, idf.length)

  override def eval(input: InternalRow): Any =
    TfIdfEmbed.embed(child.eval(input).asInstanceOf[UTF8String], idf)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val c = child.genCode(ctx)
    val idfRef = ctx.addReferenceObj("idf", idf, "double[]")
    ev.copy(code = code"""
      ${c.code}
      ${classOf[ArrayData].getName} ${ev.value} = graft.functions.TfIdfEmbed.embed(
        ${c.isNull} ? null : ${c.value}, $idfRef);""",
      isNull = FalseLiteral)
  }

  override protected def withNewChildInternal(newChild: Expression): TfIdfEmbed =
    copy(child = newChild)
}

object TfIdfEmbed {
  /** `HashingTF`'s murmur3 seed. */
  private val Seed = 42

  /** Shared by the interpreted eval and the generated Java. */
  def embed(s: UTF8String, idf: Array[Double]): ArrayData = {
    val tf = new Array[Double](idf.length)
    count(s, tf)
    val out = new Array[Float](tf.length)
    var j = 0
    while (j < out.length) {
      out(j) = (tf(j) * idf(j)).toFloat
      j += 1
    }
    UnsafeArrayData.fromPrimitiveArray(out)
  }

  /** Adds the token counts of `s` into `tf`, one bucket per element. */
  private def count(s: UTF8String, tf: Array[Double]): Unit = {
    if (s == null) throw new IllegalArgumentException("tfidf_embed: the text is null")
    val b = new Array[Byte](s.numBytes())
    s.writeToMemory(b, Platform.BYTE_ARRAY_OFFSET)
    if (lowerAscii(b) && !specialLowercase) countRuns(b, tf)
    else countRuns(s.toString.toLowerCase().getBytes(java.nio.charset.StandardCharsets.UTF_8), tf)
  }

  /** Lowercases `[A-Z]` in place; false at the first non-ASCII byte. */
  private def lowerAscii(b: Array[Byte]): Boolean = {
    var i = 0
    while (i < b.length) {
      val c = b(i)
      if (c < 0) return false
      if (c >= 'A' && c <= 'Z') b(i) = (c + ('a' - 'A')).toByte
      i += 1
    }
    true
  }

  /** The default locale lowercases ASCII `I` to a dotless `ı`. */
  private def specialLowercase: Boolean = {
    val lang = java.util.Locale.getDefault.getLanguage
    lang == "tr" || lang == "az"
  }

  /** Counts the runs of `b` between Java `\s` bytes (0x20, 0x09–0x0D).
    * UTF-8 never encodes a non-ASCII character with an ASCII byte, so the
    * byte runs are the tokenizer's character runs.
    */
  private def countRuns(b: Array[Byte], tf: Array[Double]): Unit = {
    var start = 0
    var i = 0
    while (i <= b.length) {
      if (i == b.length || b(i) == ' ' || (b(i) >= '\t' && b(i) <= '\r')) {
        if (i > start) {
          val h = Murmur3_x86_32.hashUnsafeBytes2(
            b, Platform.BYTE_ARRAY_OFFSET + start, i - start, Seed)
          val raw = h % tf.length
          tf(if (raw < 0) raw + tf.length else raw) += 1.0
        }
        start = i + 1
      }
      i += 1
    }
  }

  /** The document frequencies of a corpus: `m` texts, and per bucket
    * the number of texts that hold it — `mllib.feature.IDF`'s aggregate,
    * over the same [[count]].
    */
  final class DocFreq(dims: Int) extends Serializable {
    private var m = 0L
    private val df = new Array[Long](dims)
    @transient private lazy val tf = new Array[Double](dims)

    def add(s: UTF8String): DocFreq = {
      count(s, tf)
      var j = 0
      while (j < dims) {
        if (tf(j) > 0) {
          df(j) += 1
          tf(j) = 0
        }
        j += 1
      }
      m += 1
      this
    }

    def merge(o: DocFreq): DocFreq = {
      var j = 0
      while (j < dims) {
        df(j) += o.df(j)
        j += 1
      }
      m += o.m
      this
    }

    /** `log((m + 1) / (df + 1))` per bucket, as `mllib.feature.IDF`. */
    def idf: Array[Double] = {
      if (m == 0) throw new IllegalStateException("Haven't seen any document yet.")
      df.map(d => math.log((m + 1.0) / (d + 1.0)))
    }
  }
}

object TextExpressions {
  def register(spark: SparkSession): Unit = {
    VectorFunctions.registerIfAbsent(spark, "pdf_extract", es => PdfExtract(es.head))
    VectorFunctions.registerIfAbsent(spark, "compression_ratio",
      es => CompressionRatio(es.head))
    VectorFunctions.registerIfAbsent(spark, "xlsx_extract", es => XlsxExtract(es.head))
    VectorFunctions.registerIfAbsent(spark, "xlsx_pack", es => XlsxPack(es.head))
    VectorFunctions.registerIfAbsent(spark, "phrase_count",
      es => PhraseCount(es.head, es(1)))
    VectorFunctions.registerIfAbsent(spark, "simhash64", es => SimHash64(es.head))
    VectorFunctions.registerIfAbsent(spark, "word_tokens", es => WordTokens(es.head))
  }

  def pdfExtract(c: Column): Column = call_function("pdf_extract", c)
  def compressionRatio(c: Column): Column = call_function("compression_ratio", c)
  def xlsxExtract(c: Column): Column = call_function("xlsx_extract", c)
  def xlsxPack(c: Column): Column = call_function("xlsx_pack", c)
  def phraseCount(tokens: Column, phrase: Column): Column =
    call_function("phrase_count", tokens, phrase)
  /** [[WordTokens]] over `text`; built as an expression instance, so it
    * needs no registration in the calling session.
    */
  def wordTokens(text: Column): Column =
    ExpressionColumn(WordTokens(ExpressionColumn.expression(text)))
}
