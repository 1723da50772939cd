package graft.ingest

import graft.SparkSpec
import org.apache.spark.sql.functions._

import java.nio.file.Files

class TextSourcesSpec extends SparkSpec {
  import spark.implicits._

  test("stripMarkup removes tags, scripts, styles, comments; decodes entities") {
    val cases = Seq(
      ("<p>hello</p>", "hello"),
      ("<a href=\"x\">link</a> tail", "link tail"),
      ("<script>var x = 1;</script>kept", "kept"),
      ("<style>p{color:red}</style>kept", "kept"),
      ("<!-- hidden -->shown", "shown"),
      ("a &amp; b &lt;c&gt; &quot;d&quot; &#39;e&#39; f&nbsp;g", "a & b <c> \"d\" 'e' f g"),
      ("&amp;lt;", "&lt;"), // decode &amp; last: no double-decode
      ("<b>x</b><i>y</i>", "xy") // text nodes concatenated, no separator
    )
    val df = cases.toDF("html", "expected")
    val got = df.select(TextSources.stripMarkup($"html").as("clean"), $"expected")
      .as[(String, String)].collect()
    got.foreach { case (clean, exp) => assert(clean == exp) }
  }

  test("binaryFile dispatch reads a raw dir and routes by extension (S1/S2)") {
    val dir = tempDir("graft_ingest").toFile
    Files.writeString(new java.io.File(dir, "a.html").toPath,
      "<html><body><p>doc a</p></body></html>")
    Files.writeString(new java.io.File(dir, "b.xml").toPath,
      "<?xml version=\"1.0\"?><r><t>doc b</t></r>")
    Files.writeString(new java.io.File(dir, "c.txt").toPath, "plain text")
    val raw = TextSources.readRaw(spark, dir.getAbsolutePath)
    assert(raw.count() == 3)
    assert(raw.select("ext").as[String].collect().toSet == Set("html", "xml", "txt"))
    val docs = TextSources.htmlDocs(raw)
    val texts = docs.select("text").as[String].collect().toSet
    assert(texts == Set("doc a", "doc b"))
    // doc ids are stable content-independent path hashes
    assert(docs.select("doc_id").distinct().count() == 2)
  }

  test("CSV reader with header + schema inference (S5 relational path)") {
    val dir = tempDir("graft_csv").toFile
    Files.writeString(new java.io.File(dir, "t.csv").toPath,
      "id,name,score\n1,alpha,2.5\n2,beta,4.0\n")
    val df = spark.read
      .option("header", "true").option("inferSchema", "true")
      .csv(dir.getAbsolutePath)
    assert(df.schema.map(f => (f.name, f.dataType.simpleString)).toSeq ==
      Seq(("id", "int"), ("name", "string"), ("score", "double")))
    // and the lossy flatten-to-text on top of it (app.py:204-205 semantics)
    val block = TextSources.flattenTable(df, "id").select("text").as[String].head()
    assert(block == "id name score\n1 alpha 2.5\n2 beta 4.0")
  }

  test("analytics are null-safe: null text scores as an empty document") {
    import graft.ops.TextAnalytics
    val df = Seq((1L, null: String), (2L, "real text here")).toDF("doc_id", "text")
    val got = TextAnalytics.analyze(df)
      .select("doc_id", "n_tokens", "quality")
      .as[(Long, Long, Double)].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap
    assert(got(1L)._1 == 0L)
    // empty doc: punct term (1-0)*0.1 + tokScore fallback 0.5*0.2 = 0.2
    assert(got(1L)._2 == 0.2)
    assert(got(2L)._1 == 3L)
  }

  test("flattenRows stringifies every column in order") {
    val df = Seq((1, "x", 2.5)).toDF("a", "b", "c")
    val got = TextSources.flattenRows(df).select("line").as[String].head()
    assert(got == "1 x 2.5")
  }

  test("flattenTable emits header + ordered rows") {
    val df = Seq((2, "two"), (1, "one")).toDF("k", "v")
    val got = TextSources.flattenTable(df, "k").select("text").as[String].head()
    assert(got == "k v\n1 one\n2 two")
  }

  test("unionCorpus aligns schemas by name and keeps all rows") {
    val a = Seq((1L, "t1")).toDF("doc_id", "text")
    val b = Seq(("t2", 2L)).toDF("text", "doc_id") // reversed column order
    val u = TextSources.unionCorpus(a, b)
    assert(u.count() == 2)
    assert(u.select("doc_id").as[Long].collect().toSet == Set(1L, 2L))
  }

  private val jsonlSchema = org.apache.spark.sql.types.StructType.fromDDL(
    "doc_id BIGINT, lang STRING, text STRING")

  test("jsonlDocs: explicit schema, corrupt lines audited not dropped") {
    val dir = tempDir("jsonl").toFile
    try {
      java.nio.file.Files.write(
        new java.io.File(dir, "part0.jsonl").toPath,
        Seq(
          """{"doc_id": 1, "lang": "en", "text": "line one\nwith newline"}""",
          """not json at all""",
          """{"doc_id": 2, "lang": "es", "text": "dos"}""",
          """{"doc_id": 3, "lang": "en", "text": "truncat""" // unclosed
        ).mkString("\n").getBytes("UTF-8"))
      val got = TextSources.jsonlDocs(spark, dir.getAbsolutePath, jsonlSchema)
      assert(got.schema.fieldNames.toSeq ==
        Seq("doc_id", "lang", "text", "_corrupt_record"))
      val good = got.where($"_corrupt_record".isNull)
        .select("doc_id", "lang", "text")
        .as[(Long, String, String)].collect().sortBy(_._1)
      assert(good.toSeq == Seq(
        (1L, "en", "line one\nwith newline"), (2L, "es", "dos")))
      // the audit projection must touch a data column too — Spark's
      // QUERY_ONLY_CORRUPT_RECORD_COLUMN guard refuses corrupt-only
      // queries over raw files (documented on jsonlDocs)
      val bad = got.where($"_corrupt_record".isNotNull)
        .select($"_corrupt_record", $"doc_id")
        .as[(String, Option[Long])].collect().sortBy(_._1)
      assert(bad.length == 2)
      assert(bad.exists(_._1.startsWith("not json")))
      assert(bad.exists(_._1.contains("truncat")))
      // corrupt rows carry no parsed fields
      assert(bad.forall(_._2.isEmpty))
    } finally { dir.listFiles().foreach(_.delete()); dir.delete() }
  }

  test("parseJsonlLines: to_json roundtrip is identity; audit column law") {
    val docs = Seq((10L, "en", "a\nb"), (11L, "fr", "c")).toDF("doc_id", "lang", "text")
    val lines = docs.select(to_json(struct($"doc_id", $"lang", $"text")).as("line"))
      .union(Seq("""{"doc_id": 12, "lang": "xx"""").toDF("line"))
    val parsed = TextSources.parseJsonlLines(lines, "line", jsonlSchema)
    val good = parsed.where($"_corrupt_record".isNull)
      .select("doc_id", "lang", "text").as[(Long, String, String)]
      .collect().sortBy(_._1)
    assert(good.toSeq == Seq((10L, "en", "a\nb"), (11L, "fr", "c")))
    assert(parsed.where($"_corrupt_record".isNotNull).count() == 1)
  }

  test("jsonl arms refuse a schema that already claims the audit column") {
    intercept[IllegalArgumentException] {
      TextSources.parseJsonlLines(
        Seq("x").toDF("line"), "line",
        org.apache.spark.sql.types.StructType.fromDDL(
          "_corrupt_record STRING, a BIGINT"))
    }
    intercept[IllegalArgumentException] {
      TextSources.jsonlDocs(spark, "/nonexistent",
        org.apache.spark.sql.types.StructType.fromDDL(
          "_corrupt_record STRING, a BIGINT"))
    }
  }
}
