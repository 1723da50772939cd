package graft.ingest

import graft.SparkSpec
import java.nio.charset.StandardCharsets
import org.apache.spark.sql.functions._

class WarcSpec extends SparkSpec {
  import spark.implicits._

  private def rec(id: Int, body: String, wtype: String = "response") =
    Warc.WarcRecord(wtype, s"urn:graft:$id", s"http://x.local/doc/$id",
      "text/plain; charset=utf-8", body.getBytes(StandardCharsets.UTF_8))

  test("roundtrip identity, plain and gzip-per-record") {
    val rs = Seq(rec(1, "hello"), rec(2, "wörld ünïcode"), rec(3, ""))
    for (gz <- Seq(false, true)) {
      val parsed = Warc.parseAll(Warc.writeRecords(rs.iterator, gz))
      assert(parsed.map(_.recordId) == rs.map(_.recordId))
      assert(parsed.map(_.targetUri) == rs.map(_.targetUri))
      parsed.zip(rs).foreach { case (p, r) =>
        assert(java.util.Arrays.equals(p.payload, r.payload))
      }
    }
  }

  test("binary-safe payload (CRLF pairs and gzip magic inside the body)") {
    val tricky = Array[Byte](0x1f, 0x8b.toByte, '\r', '\n', '\r', '\n',
      'W', 'A', 'R', 'C', '/', 0, -1, 0x42)
    val r = Warc.WarcRecord("resource", "urn:graft:bin", "", "", tricky)
    for (gz <- Seq(false, true)) {
      val parsed = Warc.parseAll(Warc.writeRecords(Iterator(r, rec(9, "tail")), gz))
      assert(parsed.length == 2)
      assert(java.util.Arrays.equals(parsed.head.payload, tricky))
      assert(parsed(1).recordId == "urn:graft:9")
    }
  }

  test("UTF-8 header values (non-ASCII target URIs) roundtrip intact") {
    val r = Warc.WarcRecord("response", "urn:graft:u",
      "http://例え.jp/ページ?q=ñandú", "text/plain", "x".getBytes)
    for (gz <- Seq(false, true)) {
      val parsed = Warc.parseAll(Warc.writeRecords(Iterator(r), gz))
      assert(parsed.head.targetUri == "http://例え.jp/ページ?q=ñandú")
    }
  }

  test("empty blob parses to zero records") {
    assert(Warc.parseAll(Array.emptyByteArray).isEmpty)
  }

  test("malformed archives refuse loudly") {
    // truncated payload
    val good = Warc.writeRecords(Iterator(rec(1, "0123456789")), gzipPerRecord = false)
    intercept[IllegalArgumentException] {
      Warc.parseAll(good.dropRight(7)) // cuts into the payload
    }
    // missing Content-Length
    val noLen = ("WARC/1.0\r\nWARC-Type: response\r\n\r\n")
      .getBytes(StandardCharsets.US_ASCII)
    intercept[IllegalArgumentException] { Warc.parseAll(noLen) }
    // not a WARC stream at all
    intercept[IllegalArgumentException] {
      Warc.parseAll("HTTP/1.1 200 OK\r\n\r\n".getBytes(StandardCharsets.US_ASCII))
    }
    // folded header lines are unsupported, not silently misparsed
    val folded = ("WARC/1.0\r\nWARC-Type: response\r\n  continued\r\n" +
      "Content-Length: 0\r\n\r\n\r\n\r\n").getBytes(StandardCharsets.US_ASCII)
    intercept[IllegalArgumentException] { Warc.parseAll(folded) }
  }

  test("gzip members with FEXTRA/FNAME/FCOMMENT/FHCRC header fields parse (RFC 1952 walk)") {
    // our writer never emits these optional fields, but crawls in the
    // wild do (wget writes FNAME) — the strict reader's header walk must
    // skip them exactly, or every such archive would refuse at the door
    val record = Warc.writeRecords(Iterator(rec(1, "flagged member payload")),
      gzipPerRecord = false)
    val deflater = new java.util.zip.Deflater(
      java.util.zip.Deflater.DEFAULT_COMPRESSION, true)
    deflater.setInput(record); deflater.finish()
    val comp = new java.io.ByteArrayOutputStream()
    val buf = new Array[Byte](4096)
    while (!deflater.finished()) comp.write(buf, 0, deflater.deflate(buf))
    deflater.end()
    val crc = new java.util.zip.CRC32; crc.update(record)
    val out = new java.io.ByteArrayOutputStream()
    // header: magic, CM=8, FLG = FHCRC|FEXTRA|FNAME|FCOMMENT (0x1E)
    out.write(Array[Byte](0x1f, 0x8b.toByte, 8, 0x1e, 0, 0, 0, 0, 0, 0x03))
    out.write(Array[Byte](4, 0)) // XLEN = 4 (LE)
    out.write("EXTR".getBytes("US-ASCII")) // FEXTRA payload
    out.write("a-file-name.warc".getBytes("US-ASCII")); out.write(0) // FNAME
    out.write("a comment".getBytes("US-ASCII")); out.write(0) // FCOMMENT
    // FHCRC = low 16 bits of CRC32 over all header bytes so far, LE
    val hcrc = new java.util.zip.CRC32; hcrc.update(out.toByteArray)
    val fhcrcAt = out.size() // offset of the FHCRC field, for the negative case
    out.write(Array[Byte](
      (hcrc.getValue & 0xff).toByte, ((hcrc.getValue >> 8) & 0xff).toByte))
    out.write(comp.toByteArray)
    def le32(v: Long): Array[Byte] = Array(
      (v & 0xff).toByte, ((v >> 8) & 0xff).toByte,
      ((v >> 16) & 0xff).toByte, ((v >> 24) & 0xff).toByte)
    out.write(le32(crc.getValue))
    out.write(le32(record.length.toLong))
    val parsed = Warc.parseAll(out.toByteArray)
    assert(parsed.length == 1 && parsed.head.recordId == "urn:graft:1")
    assert(new String(parsed.head.payload, StandardCharsets.UTF_8) ==
      "flagged member payload")
    // reserved FLG bits refuse loudly
    val reserved = out.toByteArray.clone()
    reserved(3) = 0xe0.toByte
    val e = intercept[IllegalArgumentException] { Warc.parseAll(reserved) }
    assert(e.getMessage.contains("reserved"))
    // a corrupted FHCRC refuses loudly (no-silent-corruption contract:
    // every header field is verified, not just walked)
    val badHcrc = out.toByteArray.clone()
    badHcrc(fhcrcAt) = (badHcrc(fhcrcAt) ^ 0xff).toByte
    val e2 = intercept[IllegalArgumentException] { Warc.parseAll(badHcrc) }
    assert(e2.getMessage.contains("header CRC16 mismatch"))
  }

  test("mid-archive gzip member corruption refuses — never a silent prefix") {
    // GZIPInputStream treats a corrupt member HEADER mid-archive as EOF:
    // without the leftover-bytes check, a 3-member archive whose middle
    // member's magic is damaged parses to record 1 with no error
    val rs = Seq(rec(1, "alpha"), rec(2, "bravo"), rec(3, "charlie"))
    val blob = Warc.writeRecords(rs.iterator, gzipPerRecord = true)
    // locate the SECOND member's gzip magic (0x1f 0x8b) and damage it
    var second = -1
    var seen = 0
    var i = 0
    while (i < blob.length - 1 && second < 0) {
      if ((blob(i) & 0xff) == 0x1f && (blob(i + 1) & 0xff) == 0x8b) {
        seen += 1
        if (seen == 2) second = i
        i += 2
      } else i += 1
    }
    assert(second > 0, "test setup: no second gzip member found")
    val corrupt = blob.clone()
    corrupt(second) = 0x00
    val e = intercept[IllegalArgumentException] { Warc.parseAll(corrupt) }
    assert(e.getMessage.contains("corrupt gzip member"))
    // and the clean archive still parses all three
    assert(Warc.parseAll(blob).map(_.recordId) == rs.map(_.recordId))
  }

  test("readWarc: one task per file via binaryFile, gzip detected per file") {
    val dir = tempDir("warcspec").toFile
    try {
      java.nio.file.Files.write(
        new java.io.File(dir, "a.warc").toPath,
        Warc.writeRecords(Iterator(rec(1, "plain one"), rec(2, "plain two")),
          gzipPerRecord = false))
      java.nio.file.Files.write(
        new java.io.File(dir, "b.warc.gz").toPath,
        Warc.writeRecords(Iterator(rec(3, "gz three")), gzipPerRecord = true))
      // a decoy the glob must skip
      java.nio.file.Files.write(
        new java.io.File(dir, "notes.txt").toPath, "nope".getBytes)
      val got = Warc.readWarc(spark, dir.getAbsolutePath)
        .select("record_id", "target_uri").as[(String, String)]
        .collect().sortBy(_._1)
      assert(got.map(_._1).toSeq ==
        Seq("urn:graft:1", "urn:graft:2", "urn:graft:3"))
      assert(got.forall { case (id, uri) => uri.endsWith(id.split(':').last) })
    } finally {
      dir.listFiles().foreach(_.delete()); dir.delete()
    }
  }

  test("parseBlobs carries provenance columns through") {
    val blob = Warc.writeRecords(Iterator(rec(5, "five")), gzipPerRecord = true)
    val df = Seq(("shard-a", 42L, blob)).toDF("shard", "gen", "content")
    val out = Warc.parseBlobs(df).select("shard", "gen", "record_id")
      .as[(String, Long, String)].collect()
    assert(out.toSeq == Seq(("shard-a", 42L, "urn:graft:5")))
  }

  test("responseText keeps responses only and decodes UTF-8") {
    val rs = Seq(rec(1, "texto en español"), rec(2, "req", wtype = "request"))
    val blob = Warc.writeRecords(rs.iterator, gzipPerRecord = false)
    val df = Warc.parseBlobs(Seq(Tuple1(blob)).toDF("content"))
    val out = Warc.responseText(df)
      .select("record_id", "text", "n_bytes").as[(String, String, Long)].collect()
    assert(out.length == 1)
    assert(out.head._1 == "urn:graft:1")
    assert(out.head._2 == "texto en español")
    assert(out.head._3 == "texto en español".getBytes(StandardCharsets.UTF_8).length)
  }

  test("streaming intake: waves land once, a restart never re-ingests") {
    val root = tempDir("warcstream").toFile
    val landing = new java.io.File(root, "landing"); landing.mkdirs()
    val out = new java.io.File(root, "corpus").getAbsolutePath
    val ckpt = new java.io.File(root, "ckpt").getAbsolutePath
    def drop(name: String, ids: Seq[Int]): Unit =
      java.nio.file.Files.write(
        new java.io.File(landing, name).toPath,
        Warc.writeRecords(ids.iterator.map(i => rec(i, s"body $i")),
          gzipPerRecord = true))
    def startQuery() =
      Warc.corpusSink(
        Warc.responseText(
          Warc.readWarcStream(spark, landing.getAbsolutePath))
          .select("record_id", "target_uri", "text"),
        out, ckpt).start()
    try {
      drop("w1.warc.gz", Seq(1, 2))
      val q1 = startQuery()
      q1.processAllAvailable()
      drop("w2.warc.gz", Seq(3))
      q1.processAllAvailable()
      q1.stop()
      assert(spark.read.parquet(out).count() == 3)
      // a file landed while the query is DOWN is picked up on restart
      // from the same checkpoint — and nothing already seen re-ingests
      drop("w3.warc.gz", Seq(4, 5))
      val q2 = startQuery()
      q2.processAllAvailable()
      q2.stop()
      val rows = spark.read.parquet(out)
        .select("record_id").as[String].collect().sorted.toSeq
      assert(rows == Seq(1, 2, 3, 4, 5).map(i => s"urn:graft:$i"))
    } finally {
      def rm(f: java.io.File): Unit = {
        Option(f.listFiles()).foreach(_.foreach(rm)); f.delete(); ()
      }
      rm(root)
    }
  }

  test("property: random archives roundtrip exactly (seeded, 200 cases)") {
    val rnd = new scala.util.Random(421L)
    val types = Vector("response", "request", "metadata", "resource", "conversion")
    (1 to 200).foreach { i =>
      val n = rnd.nextInt(6) // 0..5 records, empty archives included
      val rs = (0 until n).map { j =>
        val payload = new Array[Byte](rnd.nextInt(512))
        rnd.nextBytes(payload) // arbitrary bytes — CRLFs, gzip magic, anything
        Warc.WarcRecord(
          types(rnd.nextInt(types.length)),
          s"urn:graft:$i:$j",
          if (rnd.nextBoolean()) s"http://h$i.local/p$j?q=ü${rnd.nextInt(10)}" else "",
          if (rnd.nextBoolean()) "application/octet-stream" else "",
          payload)
      }
      val gz = rnd.nextBoolean()
      val parsed = Warc.parseAll(Warc.writeRecords(rs.iterator, gz))
      assert(parsed.length == rs.length, s"case $i (gz=$gz)")
      parsed.zip(rs).foreach { case (p, r) =>
        assert(p.warcType == r.warcType && p.recordId == r.recordId &&
          p.targetUri == r.targetUri && p.contentType == r.contentType &&
          java.util.Arrays.equals(p.payload, r.payload), s"case $i (gz=$gz)")
      }
    }
  }

  test("property: any truncation parses to a record prefix or refuses — never garbage") {
    // the crash-mid-write / torn-download contract: a cut archive must
    // either yield exactly the records before the cut or throw loudly
    val rnd = new scala.util.Random(422L)
    val rs = (0 until 4).map(j => rec(j, s"payload body $j with some length"))
    for (gz <- Seq(false, true); _ <- 1 to 100) {
      val full = Warc.writeRecords(rs.iterator, gz)
      val cut = rnd.nextInt(full.length) // strictly shorter than full
      val got =
        try Right(Warc.parseAll(full.take(cut)))
        catch {
          case _: IllegalArgumentException | _: NumberFormatException |
               _: java.io.IOException => Left(())
        }
      got match {
        case Left(_) => // loud refusal: fine
        case Right(parsed) =>
          assert(parsed.length < rs.length, s"cut=$cut gz=$gz parsed all?")
          parsed.zip(rs).foreach { case (p, r) =>
            assert(p.recordId == r.recordId &&
              java.util.Arrays.equals(p.payload, r.payload),
              s"cut=$cut gz=$gz yielded a non-prefix record")
          }
      }
    }
  }

  test("responseText repairs invalid UTF-8 instead of throwing") {
    // a real crawl always carries mojibake; decode('UTF-8') would raise
    // MALFORMED_CHARACTER_CODING and kill the job on the first bad page
    val bad = Warc.WarcRecord("response", "urn:graft:bad", "http://x/bad",
      "text/plain", Array[Byte](0x68, 0xff.toByte, 0x69))
    val blob = Warc.writeRecords(Iterator(bad), gzipPerRecord = true)
    val out = Warc.responseText(Warc.parseBlobs(Seq(Tuple1(blob)).toDF("content")))
      .select("text").as[String].head()
    assert(out == "h�i")
  }
}
