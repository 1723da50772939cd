package graft.ingest

import java.nio.charset.StandardCharsets.ISO_8859_1

import graft.SparkSpec

/** [[PdfText]] against hand-built PDFs exercising the ISO 32000 corners
  * the extractor claims: literal-string escapes and nesting, octal codes,
  * hex strings, UTF-16BE strings, TJ kerning gaps, Flate streams, direct
  * and indirect /Length, encryption refusal, and the synthesize⇄extract
  * round-trip end-to-end through the binaryFile scan.
  */
class PdfTextSpec extends SparkSpec {
  import spark.implicits._

  private def wrap(content: String): Array[Byte] = {
    val c = content.getBytes(ISO_8859_1)
    (s"%PDF-1.4\n4 0 obj << /Length ${c.length} >> stream\n" +
      content + "\nendstream endobj\ntrailer << /Root 1 0 R >>\n%%EOF\n")
      .getBytes(ISO_8859_1)
  }

  test("plain Tj strings with escapes, nesting, and octal codes") {
    val pdf = wrap("""BT (Hello \(nested\) \\slash\\ \101\102C) Tj ET""")
    assert(PdfText.extract(pdf) == """Hello (nested) \slash\ ABC""")
    // balanced parens nest WITHOUT escaping per spec 7.3.4.2
    assert(PdfText.extract(wrap("BT (a (b) c) Tj ET")) == "a (b) c")
  }

  test("hex strings, odd-length padding, and UTF-16BE BOM strings") {
    assert(PdfText.extract(wrap("BT <48656C6C6F> Tj ET")) == "Hello")
    // odd digit count: final digit padded with 0 -> 0x40 = '@'
    assert(PdfText.extract(wrap("BT <4> Tj ET")) == "@")
    // FEFF BOM switches to UTF-16BE: 00C9 = É
    assert(PdfText.extract(wrap("BT <FEFF00C9> Tj ET")) == "É")
  }

  test("TJ arrays: concatenation plus space at kerning gaps <= -180") {
    val pdf = wrap("BT [(Hel) -20 (lo) -250 (world)] TJ ET")
    assert(PdfText.extract(pdf) == "Hello world")
  }

  test("line structure from T*, quote operators, and vertical Td") {
    val pdf = wrap("BT (line one) Tj T* (line two) Tj 0 -14 Td (line three) Tj ET")
    assert(PdfText.extract(pdf) == "line one\nline two\nline three")
    // horizontal-only Td does NOT break the line
    val horiz = wrap("BT (left) Tj 100 0 Td (right) Tj ET")
    assert(PdfText.extract(horiz) == "leftright")
    val quote = wrap("BT (first) Tj (second) ' ET")
    assert(PdfText.extract(quote) == "first\nsecond")
  }

  test("FlateDecode streams inflate; corrupt deflate data is skipped not fatal") {
    val good = PdfText.synthesize(Seq("compressed body text"), compress = true)
    assert(PdfText.extract(good) == "compressed body text")
    assert(new String(good, ISO_8859_1).contains("/FlateDecode"))
    val corrupt = ("%PDF-1.4\n4 0 obj << /Filter /FlateDecode /Length 8 >> stream\n" +
      "XXXXXXXX" + "\nendstream endobj\n%%EOF\n").getBytes(ISO_8859_1)
    assert(PdfText.extract(corrupt) == "")
  }

  test("indirect /Length reference resolves; missing length falls back to endstream") {
    val content = "BT (indirect length works) Tj ET"
    val pdf = (s"%PDF-1.4\n4 0 obj << /Length 7 0 R >> stream\n" +
      content + "\nendstream endobj\n7 0 obj 32 endobj\n%%EOF\n").getBytes(ISO_8859_1)
    assert(content.length == 32)
    assert(PdfText.extract(pdf) == "indirect length works")
    val noLen = ("%PDF-1.4\n4 0 obj << >> stream\n" +
      content + "\nendstream endobj\n%%EOF\n").getBytes(ISO_8859_1)
    assert(PdfText.extract(noLen) == "indirect length works")
  }

  test("non-text streams (images, fonts) are skipped, text still extracted") {
    // a PDF whose first stream is binary junk (an image XObject shape)
    // and whose second carries the text: extraction must skip the junk —
    // including bytes that happen to contain 'BT' — and not crash
    val junk = Array.tabulate[Byte](256)(i => i.toByte) ++ "BT not ops".getBytes(ISO_8859_1)
    val content = "BT (text survives) Tj ET"
    val pdf = (new StringBuilder)
      .append("%PDF-1.4\n")
      .append(s"6 0 obj << /Subtype /Image /Length ${junk.length} >> stream\n")
      .append(new String(junk, ISO_8859_1))
      .append("\nendstream endobj\n")
      .append(s"4 0 obj << /Length ${content.length} >> stream\n")
      .append(content)
      .append("\nendstream endobj\n%%EOF\n")
      .toString.getBytes(ISO_8859_1)
    assert(PdfText.extract(pdf) == "text survives")
  }

  test("refusals: non-PDF bytes and encrypted PDFs fail loudly") {
    intercept[IllegalArgumentException] {
      PdfText.extract("plain text file".getBytes(ISO_8859_1))
    }
    val enc = ("%PDF-1.4\ntrailer << /Encrypt 9 0 R /Root 1 0 R >>\n%%EOF\n")
      .getBytes(ISO_8859_1)
    intercept[IllegalArgumentException] { PdfText.extract(enc) }
  }

  test("synthesize round-trips multi-line text, both compressed and plain") {
    val lines = Seq("TITLE LINE", "alpha beta gamma", "", "second paragraph")
    for (compress <- Seq(false, true)) {
      val got = PdfText.extract(PdfText.synthesize(lines, compress))
      // empty line carries no glyphs: text-only extraction cannot see a
      // blank line between T* advances (documented approximation)
      assert(got == "TITLE LINE\nalpha beta gamma\nsecond paragraph",
        s"compress=$compress got=$got")
    }
  }

  test("end-to-end: .pdf files through binaryFile scan and extension dispatch") {
    val dir = tempDir("graft_pdf_e2e")
    java.nio.file.Files.write(dir.resolve("a.pdf"),
      PdfText.synthesize(Seq("doc a body"), compress = true))
    java.nio.file.Files.write(dir.resolve("b.pdf"),
      PdfText.synthesize(Seq("doc b body"), compress = false))
    java.nio.file.Files.write(dir.resolve("c.html"),
      "<html><body>ignored here</body></html>".getBytes(ISO_8859_1))
    val out = TextSources.pdfDocs(TextSources.readRaw(spark, dir.toString))
      .select($"text").as[String].collect().sorted.toSeq
    assert(out == Seq("doc a body", "doc b body"))
  }
}
