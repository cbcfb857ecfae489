package graft.pdf

import org.scalatest.funsuite.AnyFunSuite

/** Fixture-driven tests for the from-scratch PDF reader — one test per
  * FIXTURES.md §4 row. Expected text is known by construction.
  */
class PdfSpec extends AnyFunSuite {

  private def pageTexts(bytes: Array[Byte]): Vector[String] = {
    val doc = PdfDocument.load(bytes)
    doc.pages.map(p => ContentText.extractPageText(doc, p))
  }

  private def latin1(s: String): Array[Byte] = s.getBytes(java.nio.charset.StandardCharsets.ISO_8859_1)

  /** A classic-xref PDF from object bodies (ISO-8859-1 source). Each
    * update is appended as an incremental update (§7.5.6): its objects,
    * an xref section listing only them, and a trailer whose /Prev links
    * the previous section. `extraXref` is appended to the first xref
    * section's subsections. */
  private def rawPdf(base: Seq[(Int, String)], updates: Seq[Seq[(Int, String)]] = Nil,
      extraXref: Int => String = _ => ""): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream
    def w(s: String): Unit = out.write(latin1(s))
    w("%PDF-1.7\n")
    val size = (base ++ updates.flatten).map(_._1).max + 1
    var prev = -1
    (base +: updates).zipWithIndex.foreach { case (objs, sec) =>
      val offs = objs.map { case (n, body) => val o = out.size; w(s"$n 0 obj\n$body\nendobj\n"); n -> o }
      val xrefAt = out.size
      w("xref\n")
      offs.foreach { case (n, o) => w(f"$n 1\n$o%010d 00000 n \n") }
      if (sec == 0) w(extraXref(offs.head._2))
      w(s"trailer\n<< /Size $size /Root 1 0 R${if (prev >= 0) s" /Prev $prev" else ""} >>\n")
      w(s"startxref\n$xrefAt\n%%EOF\n")
      prev = xrefAt
    }
    out.toByteArray
  }

  private def streamObj(content: String): String =
    s"<< /Length ${latin1(content).length} >>\nstream\n$content\nendstream"

  /** A simple font whose code 0x41 ('A') shows `glyph`. */
  private def fontShowingAAs(glyph: String): String =
    s"<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica /Encoding << /Differences [65 /$glyph] >> >>"

  /** Objects 1-4 of a one-page document whose /Font resources are
    * `fonts` (PDF source). */
  private def onePage(fonts: String, content: String): Seq[(Int, String)] = Seq(
    1 -> "<< /Type /Catalog /Pages 2 0 R >>",
    2 -> "<< /Type /Pages /Kids [3 0 R] /Count 1 >>",
    3 -> s"<< /Type /Page /Parent 2 0 R /Contents 4 0 R /Resources << /Font << $fonts >> >> >>",
    4 -> streamObj(content))

  test("incremental update: two xref sections linked by /Prev, the newer section's object wins") {
    val base = onePage("/F1 5 0 R", PdfBuilder.tjLine("old text")) :+ (5 -> fontShowingAAs("B"))
    val update = Seq(4 -> streamObj(PdfBuilder.tjLine("new text A")))
    // the update lists only object 4: the rest resolve through /Prev
    assert(pageTexts(rawPdf(base)) == Vector("old text"))
    assert(pageTexts(rawPdf(base, Seq(update))) == Vector("new text B"))
    // a second update overrides the first, and both override the base
    val update2 = Seq(4 -> streamObj(PdfBuilder.tjLine("newest")))
    assert(pageTexts(rawPdf(base, Seq(update, update2))) == Vector("newest"))
    // within one section, the later entry for an object wins
    val twice = base :+ (4 -> streamObj(PdfBuilder.tjLine("listed last")))
    assert(pageTexts(rawPdf(twice)) == Vector("listed last"))
    assert(pageTexts(rawPdf(twice, Seq(update))) == Vector("new text B"))
  }

  test("page inheritance: /Resources and /MediaBox reach a page through an intermediate /Pages node; the page's own entry wins") {
    val pdf = rawPdf(Seq(
      1 -> "<< /Type /Catalog /Pages 2 0 R >>",
      2 -> "<< /Type /Pages /Kids [3 0 R] /Count 2 /Resources << /Font << /F1 6 0 R >> >> /MediaBox [0 0 100 100] >>",
      3 -> "<< /Type /Pages /Parent 2 0 R /Kids [4 0 R 5 0 R] /Count 2 /MediaBox [0 0 200 200] >>",
      4 -> "<< /Type /Page /Parent 3 0 R /Contents 7 0 R >>",
      5 -> ("<< /Type /Page /Parent 3 0 R /Contents 7 0 R /MediaBox [0 0 300 300] " +
        "/Resources << /Font << /F1 8 0 R >> >> >>"),
      6 -> fontShowingAAs("B"),
      7 -> streamObj(PdfBuilder.tjLine("A")),
      8 -> fontShowingAAs("C")))
    val doc = PdfDocument.load(pdf)
    def box(p: PDict): Vector[Long] = p.m("MediaBox") match {
      case PArr(xs) => xs.flatMap(_.asInt)
      case other    => fail(s"MediaBox $other")
    }
    assert(doc.pages.map(p => ContentText.extractPageText(doc, p)) == Vector("B", "C"))
    assert(box(doc.pages(0)) == Vector(0L, 0L, 200L, 200L)) // the nearer ancestor wins
    assert(box(doc.pages(1)) == Vector(0L, 0L, 300L, 300L)) // the page's own entry wins
    assert(doc.pagesWithNums.map(_._1) == Vector(4, 5))
    // a page that lacks no inherited entry is the parsed object itself
    assert(doc.pages(1) eq doc.getObject(5))
    assert(!(doc.pages(0) eq doc.getObject(4)))
  }

  test("hostile xref: a subsection starting at object 2,000,000,000 loads without allocating by object number") {
    val hostile = rawPdf(onePage("/F1 5 0 R", PdfBuilder.tjLine("still readable")) :+ (5 -> fontShowingAAs("B")),
      extraXref = first => f"2000000000 2\n$first%010d 00000 n \n$first%010d 00000 n \n" +
        f"2147483647 2\n$first%010d 00000 n \n$first%010d 00000 n \n")
    val tmx = java.lang.management.ManagementFactory.getThreadMXBean
      .asInstanceOf[com.sun.management.ThreadMXBean]
    val tid = Thread.currentThread.getId
    val a0 = tmx.getThreadAllocatedBytes(tid)
    val doc = PdfDocument.load(hostile)
    assert(doc.pages.map(p => ContentText.extractPageText(doc, p)) == Vector("still readable"))
    assert(tmx.getThreadAllocatedBytes(tid) - a0 < (4L << 20), "allocation must not scale with object numbers")
    // the entries point at object 1's header: a declared parse error
    intercept[PdfParseException](doc.getObject(2000000000))
    intercept[PdfParseException](doc.getObject(2000000001))
    intercept[PdfParseException](doc.getObject(Int.MaxValue))
    assert(doc.getObject(1999999999) == PNull)
  }

  test("name escapes: /F#31 selects the same font as /F1, /F10 does not") {
    val pdf = rawPdf(onePage("/F1 5 0 R /F10 6 0 R",
      "BT /F#31 12 Tf 72 720 Td (A) Tj /F10 12 Tf 0 -20 Td (A) Tj /F1 12 Tf 0 -20 Td (A) Tj ET") ++
      Seq(5 -> fontShowingAAs("B"), 6 -> fontShowingAAs("C")))
    assert(pageTexts(pdf) == Vector("B\nC\nB"))
    assert(new Lexer(latin1("/F#31")).parseObject() == PName("F1"))
  }

  test("names are bytes (§7.3.5): raw high bytes decode as ISO-8859-1, equal to their #xx escapes, and never collide") {
    assert(new Lexer(latin1("/Caf\u00e9")).parseObject() == PName("Caf\u00e9"))
    assert(new Lexer(latin1("/Caf#E9")).parseObject() == PName("Caf\u00e9"))
    assert(new Lexer(latin1("/Caf\u00e8")).parseObject() != new Lexer(latin1("/Caf\u00e9")).parseObject())
    // two fonts whose names differ only in a high byte stay two fonts
    val pdf = rawPdf(onePage("/Caf\u00e9 5 0 R /Caf\u00e8 6 0 R",
      "BT /Caf\u00e9 12 Tf 72 720 Td (A) Tj /Caf\u00e8 12 Tf 0 -20 Td (A) Tj /Caf#E9 12 Tf 0 -20 Td (A) Tj ET") ++
      Seq(5 -> fontShowingAAs("B"), 6 -> fontShowingAAs("C")))
    assert(pageTexts(pdf) == Vector("B\nC\nB"))
  }

  test("pdf_single_tj: classic xref, uncompressed Tj") {
    val b = PdfBuilder.simple(Seq(PdfBuilder.tjLine("Hello pdfz")))
    assert(pageTexts(b) == Vector("Hello pdfz"))
  }

  test("pdf_two_pages: FlateDecode'd streams, page order") {
    val b = PdfBuilder.simple(Seq(
      PdfBuilder.tjLine("page one text"),
      PdfBuilder.tjLine("page two text")), flate = true)
    assert(pageTexts(b) == Vector("page one text", "page two text"))
  }

  test("pdf_tj_array: kerning numbers insert nothing") {
    val b = PdfBuilder.simple(Seq(PdfBuilder.tjArray(Seq("Hel", "lo"))))
    assert(pageTexts(b) == Vector("Hello"))
  }

  test("pdf_objstm: object stream + xref stream with predictor 12") {
    val b = PdfBuilder.objStm(PdfBuilder.tjLine("Hello pdfz"))
    assert(pageTexts(b) == Vector("Hello pdfz"))
  }

  test("pdf_multiline: Td-moved lines join with newline (pinned rule)") {
    val b = PdfBuilder.simple(Seq(PdfBuilder.multiLine(Seq("First line", "Second line"))))
    assert(pageTexts(b) == Vector("First line\nSecond line"))
  }

  test("pdf_with_images: images never contribute to text") {
    val b = PdfBuilder.withImages("text beside images")
    assert(pageTexts(b) == Vector("text beside images"))
    val doc = PdfDocument.load(b)
    assert(ContentText.pageImageNames(doc, doc.pages.head) == Vector("Im0", "Im1", "Im2", "Im3"))
  }

  test("pdf_corrupt: truncated xref throws PdfParseException") {
    assertThrows[PdfParseException] {
      PdfDocument.load(PdfBuilder.corrupt()).pages
    }
  }

  test("literal string escapes and nested parens") {
    val b = PdfBuilder.simple(Seq(PdfBuilder.tjLine("a(b)c\\d")))
    assert(pageTexts(b) == Vector("a(b)c\\d"))
  }

  test("10-page doc: ascending page order, distinct texts") {
    val pages = (1 to 10).map(i => PdfBuilder.tjLine(s"page $i"))
    assert(pageTexts(PdfBuilder.simple(pages, flate = true)) ==
      (1 to 10).map(i => s"page $i").toVector)
  }

  test("quote operator moves to next line then shows") {
    val content = "BT /F1 12 Tf 14 TL 72 720 Td (first) Tj (second) ' ET"
    assert(pageTexts(PdfBuilder.simple(Seq(content))) == Vector("first\nsecond"))
  }

  test("show operators read their own operand type: an array under Tj/'/\", a string under TJ, show nothing") {
    val content = "BT /F1 12 Tf 14 TL 72 720 Td (a) Tj 0 -20 Td [(x)] Tj (y) TJ [(z)] ' 0 0 [(w)] \" [(b)] TJ ET"
    assert(pageTexts(PdfBuilder.simple(Seq(content))) == Vector("a\nb"))
  }

  test("a dict of 100k entries parses in linear time; a later duplicate key wins") {
    val n = 100000
    val src = (0 until n).map(i => s"/K$i $i").mkString("<< ", " ", " /K7 (last) /K99999 (end) >>")
    val t0 = System.nanoTime
    val d = new Lexer(latin1(src)).parseObject().asInstanceOf[PDict]
    assert((System.nanoTime - t0) / 1e9 < 5.0, "a large dict must not cost a scan per entry")
    assert(d.m.size == n)
    assert(d.m("K0") == PInt(0) && d.m("K12345") == PInt(12345))
    assert(d.m("K7").asInstanceOf[PStr].asLatin1 == "last" && d.m("K99999").asInstanceOf[PStr].asLatin1 == "end")
    // the last duplicate wins below the hashing threshold too
    assert(new Lexer(latin1("<< /A 1 /B 2 /A 3 >>")).parseObject() == PDict(Map("A" -> PInt(3), "B" -> PInt(2))))
  }

  test("hex strings decode") {
    val content = "BT /F1 12 Tf 72 720 Td <48656C6C6F> Tj ET"
    assert(pageTexts(PdfBuilder.simple(Seq(content))) == Vector("Hello"))
  }

  test("filters: ascii85 + runlength + hex round-trips") {
    val data = "The quick brown fox".getBytes("ISO-8859-1")
    assert(Filters.asciiHexDecode(data.map(b => f"$b%02X").mkString.getBytes) sameElements data)
    val rle = Array[Byte](3, 'a', 'b', 'c', 'd', (257 - 250).toByte) // literal run only check
    assert(Filters.runLengthDecode(Array[Byte](3, 'a', 'b', 'c', 'd', -128.toByte)) sameElements
      Array[Byte]('a', 'b', 'c', 'd'))
  }

  test("predictor 12 round-trip (via builder's Up-encoder)") {
    // objStm() exercises encode; decode correctness is implied by the
    // objstm test, but pin unpredict directly too:
    val rows = Array[Byte](1, 2, 3, 4, 5, 6, 7, 8, 9) // 3 rows x 3 cols
    val enc = {
      val out = new java.io.ByteArrayOutputStream()
      var prior = new Array[Byte](3)
      rows.grouped(3).foreach { r =>
        out.write(2)
        r.zip(prior).foreach { case (c, p) => out.write((c - p) & 0xff) }
        prior = r
      }
      out.toByteArray
    }
    assert(Filters.unpredict(enc, 12, 1, 8, 3) sameElements rows)
  }

  test("ToUnicode CMap bfchar/bfrange decode") {
    val cmap =
      """/CIDInit /ProcSet findresource begin
        |begincmap
        |1 begincodespacerange <00> <FF> endcodespacerange
        |2 beginbfchar <41> <0061> <42> <0062> endbfchar
        |1 beginbfrange <50> <52> <0070> endbfrange
        |endcmap end end""".stripMargin.getBytes("ISO-8859-1")
    val dec = ContentText.parseToUnicode(cmap)
    assert(dec.decode(Array[Byte](0x41, 0x42)) == "ab")
    assert(dec.decode(Array[Byte](0x50, 0x51, 0x52)) == "pqr")
  }

  test("ToUnicode CMap with 2-byte codespace (CID/Identity-H shape)") {
    val cmap =
      """/CIDInit /ProcSet findresource begin
        |begincmap
        |1 begincodespacerange <0000> <FFFF> endcodespacerange
        |2 beginbfchar <0041> <0078> <0102> <0079> endbfchar
        |1 beginbfrange <0200> <0202> <0041> endbfrange
        |endcmap end end""".stripMargin.getBytes("ISO-8859-1")
    val dec = ContentText.parseToUnicode(cmap)
    // 2-byte codes: 0x0041 -> 'x', 0x0102 -> 'y', range 0x0200.. -> 'A'..
    assert(dec.decode(Array[Byte](0x00, 0x41, 0x01, 0x02)) == "xy")
    assert(dec.decode(Array[Byte](0x02, 0x00, 0x02, 0x02)) == "AC")
  }

  test("encoding /Differences remap") {
    val table = Array.fill[String](256)("")
    // exercised through fontDecoder with a dict-encoded font
    val b = PdfBuilder.simple(Seq(PdfBuilder.tjLine("AZ")))
    val doc = PdfDocument.load(b)
    val font = PDict(Map(
      "Type" -> PName("Font"),
      "Encoding" -> PDict(Map(
        "Differences" -> PArr(Vector(PInt(65), PName("zero"), PName("one")))))))
    val dec = ContentText.fontDecoder(doc, font)
    assert(dec.decode("ABC".getBytes) == "01C")
  }

  test("font decoders are memoized per document: one build serves every page") {
    // a dict-encoded font forces a real decoder build (256-entry table
    // + /Differences applied); pre-cache that ran once PER PAGE
    val pdf = PdfBuilder.simple(
      Seq(PdfBuilder.tjLine("AB"), PdfBuilder.tjLine("BA")),
      fontExtra = "/Encoding << /Differences [ 65 /zero /one ] >>")
    val doc = PdfDocument.load(pdf)
    val texts = doc.pages.map(p => ContentText.extractPageText(doc, p))
    assert(texts == Vector("01", "10"))
    assert(doc.fontDecoderCache.size == 1)
    val built = doc.fontDecoderCache.values.iterator.next()
    ContentText.extractPageText(doc, doc.pages.head)
    assert(doc.fontDecoderCache.size == 1 &&
      (doc.fontDecoderCache.values.iterator.next() eq built))
  }

  test("StandardEncoding high range decodes per Annex D (quotes at 047/140, publishing glyphs)") {
    // bytes: 0x27 quoteright, 0xAA quotedblleft, 0xBA quotedblright,
    // 0xB1 endash, 0xB2 dagger, 0xB7 bullet, 0xFB germandbls, 0xF1 ae
    val raw = "std \u0027\u00AA\u00BA\u00B1\u00B2\u00B7\u00FB\u00F1"
    val pdf = PdfBuilder.simple(Seq(PdfBuilder.tjLine(raw)))
    val doc = PdfDocument.load(pdf)
    val (text, unmapped) = ContentText.extractPageTextCounted(doc, doc.pages.head)
    assert(text == "std ’“”–†•ßæ")
    assert(unmapped == 0L)
  }

  test("MacRomanEncoding high range decodes per Annex D") {
    // 0x80 Adieresis, 0x8E eacute, 0xA5 bullet, 0xD0 endash,
    // 0xD2/0xD3 double quotes, 0xA7 germandbls, 0xBE ae
    val raw = "mac \u0080\u008E\u00A5\u00D0\u00D2\u00D3\u00A7\u00BE"
    val pdf = PdfBuilder.simple(Seq(PdfBuilder.tjLine(raw)),
      fontExtra = "/Encoding /MacRomanEncoding")
    val doc = PdfDocument.load(pdf)
    val (text, unmapped) = ContentText.extractPageTextCounted(doc, doc.pages.head)
    assert(text == "mac Äé•–“”ßæ")
    assert(unmapped == 0L)
  }

  test("WinAnsiEncoding is complete: Latin-1 block, 8x page, bullet-fill for unused codes") {
    // 0x8A Scaron, 0xE9 eacute, 0x91/0x92 curly quotes, 0x96 endash,
    // 0xDF germandbls, 0xE6 ae, and UNUSED 0x81 -> bullet (footnote 3),
    // 0xA0 nbsp-duplicate -> space, 0xAD soft-hyphen-duplicate -> '-'
    val raw = "win \u008A\u00E9\u0091\u0092\u0096\u00DF\u00E6 \u0081\u00A0\u00AD"
    val pdf = PdfBuilder.simple(Seq(PdfBuilder.tjLine(raw)),
      fontExtra = "/Encoding /WinAnsiEncoding")
    val doc = PdfDocument.load(pdf)
    val (text, unmapped) = ContentText.extractPageTextCounted(doc, doc.pages.head)
    assert(text == "win Šé‘’–ßæ • -")
    assert(unmapped == 0L)
  }

  test("Type0 /UniJIS-UCS2-H predefined CMap: UCS-2 codes decode without any ToUnicode") {
    // codes ARE UCS-2: 65E5 672C 8A9E = CJK, 0020 004A 0050 = " JP"
    val content = "BT /F1 12 Tf 72 720 Td <65E5672C8A9E0020004A0050> Tj ET"
    val pdf = PdfBuilder.simple(Seq(content),
      fontExtra = "/Subtype /Type0 /Encoding /UniJIS-UCS2-H")
    assert(pageTexts(pdf) == Vector("日本語 JP"))
    // the whole UCS2 family routes the same way
    Seq("UniGB-UCS2-H", "UniCNS-UCS2-V", "UniKS-UCS2-H").foreach { n =>
      assert(ContentText.predefinedCMap(n) == ContentText.Ucs2Decoder)
    }
  }

  test("Type0 /Identity-H without ToUnicode: CIDs are glyph indices — counted unmapped, 2-byte framing kept") {
    val content = "BT /F1 12 Tf 72 720 Td <000100020003> Tj ET"
    val pdf = PdfBuilder.simple(Seq(content),
      fontExtra = "/Subtype /Type0 /Encoding /Identity-H")
    val doc = PdfDocument.load(pdf)
    val (text, unmapped) = ContentText.extractPageTextCounted(doc, doc.pages.head)
    assert(text == "���")
    assert(unmapped == 3L)
  }

  test("Type0 with an unsupported predefined CMap is a DECLARED failure, fail-soft upstream") {
    val content = "BT /F1 12 Tf 72 720 Td <0041> Tj ET"
    val pdf = PdfBuilder.simple(Seq(content),
      fontExtra = "/Subtype /Type0 /Encoding /90ms-RKSJ-H")
    val doc = PdfDocument.load(pdf)
    val e = intercept[PdfParseException](
      ContentText.extractPageText(doc, doc.pages.head))
    assert(e.getMessage.contains("90ms-RKSJ-H"))
    // the extraction core converts it to an error record, never silence
    val b64 = java.util.Base64.getEncoder.encodeToString(pdf)
    val res = graft.engine.Extractor.extractDoc(
      graft.core.model.InterleavedDoc("d1",
        Seq(graft.core.model.RawSpan("pdf_bytes", b64, "", 0))),
      graft.core.model.ExtractOptions())
    assert(res.doc.isEmpty && res.error.exists(_.contains("CMap")))
  }

  test("encoding-undefined codes decode as U+FFFD and are COUNTED, never silently dropped") {
    // StandardEncoding leaves 0xFF and 0x7F undefined
    val raw = "x\u00FFy\u007Fz"
    val pdf = PdfBuilder.simple(Seq(PdfBuilder.tjLine(raw)))
    val doc = PdfDocument.load(pdf)
    val (text, unmapped) = ContentText.extractPageTextCounted(doc, doc.pages.head)
    assert(text == "x�y�z")
    assert(unmapped == 2L)
    // and the metric reaches the extraction core's DocResult
    val b64 = java.util.Base64.getEncoder.encodeToString(pdf)
    val res = graft.engine.Extractor.extractDoc(
      graft.core.model.InterleavedDoc("d1",
        Seq(graft.core.model.RawSpan("pdf_bytes", b64, "", 0))),
      graft.core.model.ExtractOptions())
    assert(res.unmappedCodes == 2L)
  }

  test("inline image BI..ID..EI: binary data skipped at token boundaries, text unharmed") {
    // binary payload contains unbalanced parens, a '(Tj' decoy, and a
    // fake 'EIx' (EI followed by a REGULAR char is not a terminator);
    // the real terminator is ' EI ' at a token boundary
    val binary = "\u00ff\u0000((Tj EIx)\u0001\u00fe"
    val content = PdfBuilder.tjLine("before image") +
      s" BI /W 4 /H 2 /BPC 8 /CS /G ID $binary EI " +
      PdfBuilder.tjLine("after image", y = 700)
    val pdf = PdfBuilder.simple(Seq(content))
    val doc = PdfDocument.load(pdf)
    val text = ContentText.extractPageText(doc, doc.pages.head)
    assert(text.contains("before image") && text.contains("after image"))
    assert(!text.contains("Tj"), "binary decoy must not leak into text")
  }

  test("pdf_form_xobject: Do of a /Subtype /Form contributes its text (extension), parity stays blind") {
    val pdf = PdfBuilder.withFormXObject("body text", "letterhead stamp")
    val doc = PdfDocument.load(pdf)
    // extension mode: the form's text lands inline at the Do point,
    // on its own line (different Td y)
    assert(ContentText.extractPageText(doc, doc.pages.head, recurseForms = true)
      == "body text\nletterhead stamp")
    // parity default: page-stream-only, like the reference's lopdf walk
    assert(ContentText.extractPageText(doc, doc.pages.head) == "body text")
  }

  test("pdf_form_nested: a form Do'ing a second form recurses; inner /Resources inherit (§8.10.1)") {
    val pdf = PdfBuilder.withFormXObject("body", "outer form",
      nestedText = Some("inner form"))
    val doc = PdfDocument.load(pdf)
    assert(ContentText.extractPageText(doc, doc.pages.head, recurseForms = true)
      == "body\nouter form\ninner form")
  }

  test("pdf_form_cycle: a self-referencing form TERMINATES — visited guard drops the recursive Do") {
    val pdf = PdfBuilder.withFormXObject("body", "once only", cyclic = true)
    val doc = PdfDocument.load(pdf)
    assert(ContentText.extractPageText(doc, doc.pages.head, recurseForms = true)
      == "body\nonce only")
  }

  test("pdf_meta_textstring: UTF-16BE-with-BOM branch, PDFDoc branch, undefined code -> U+FFFD") {
    // BOM branch: FE FF then UTF-16BE payload
    val u16 = Array[Byte](0xFE.toByte, 0xFF.toByte, 0x00, 0x41, 0x00, 0xE9.toByte)
    assert(PdfMeta.decodeTextString(u16) == "A\u00E9")
    // PDFDoc branch: ASCII + 0o240 = Euro (Annex D.3)
    val pd = "Ja".getBytes("ISO-8859-1") ++ Array[Byte](0xA0.toByte)
    assert(PdfMeta.decodeTextString(pd) == "Ja\u20AC")
    // 0o255 is UNDEFINED in PDFDocEncoding (unlike WinAnsi): U+FFFD
    assert(PdfMeta.decodeTextString(Array[Byte](0xAD.toByte)) == "\uFFFD")
  }

  test("pdf_meta_info: /Info entries decode per branch; absent entries are None") {
    val pdf = PdfBuilder.withInfoAndLinks(Seq("m"),
      Seq("Title" -> PdfBuilder.utf16Bytes("T\u00E9st"),
        "Author" -> PdfBuilder.latin1Bytes("J\u00A0D"),
        "Producer" -> PdfBuilder.latin1Bytes("graft")),
      Seq(Seq.empty), decoys = false)
    val info = PdfMeta.info(PdfDocument.load(pdf))
    assert(info.title.contains("T\u00E9st"))
    assert(info.author.contains("J\u20ACD"))
    assert(info.producer.contains("graft"))
    assert(info.subject.isEmpty && info.keywords.isEmpty && info.creationDate.isEmpty)
  }

  test("pdf_meta_links: URI links per page, rect corner order normalized, decoys skipped") {
    val pdf = PdfBuilder.withInfoAndLinks(
      Seq("p0", "p1"), Seq("Producer" -> PdfBuilder.latin1Bytes("x")),
      Seq(Seq(("https://a.example/one", (10, 20, 110, 40)),
              // corner-reversed on write: extraction must normalize
              ("https://a.example/two", (115, 45, 15, 25))),
          Seq(("https://a.example/three", (30, 40, 200, 60)))))
    val links = PdfMeta.links(PdfDocument.load(pdf))
    assert(links == Vector(
      PdfMeta.Link(0, 10, 20, 110, 40, "https://a.example/one"),
      PdfMeta.Link(0, 15, 25, 115, 45, "https://a.example/two"),
      PdfMeta.Link(1, 30, 40, 200, 60, "https://a.example/three")))
  }

  test("pdf_meta_encrypted: Algorithm-1 string decryption - info and links plaintext under all 3 ciphers") {
    for (enc <- Seq(PdfBuilder.EncRc4, PdfBuilder.EncAes, PdfBuilder.EncAes256)) {
      val pdf = PdfBuilder.withInfoAndLinks(Seq("m"),
        Seq("Title" -> PdfBuilder.utf16Bytes("Tést"),
          "Author" -> PdfBuilder.latin1Bytes("J D")),
        Seq(Seq(("https://a.example/enc", (10, 20, 110, 40)))),
        decoys = true, enc = Some(enc))
      // sanity: neither the title bytes nor the URI appear in clear
      val raw = new String(pdf, java.nio.charset.StandardCharsets.ISO_8859_1)
      assert(!raw.contains("a.example/enc"), s"$enc: URI must be ciphertext")
      val doc = PdfDocument.load(pdf)
      assert(doc.isEncrypted)
      val info = PdfMeta.info(doc)
      assert(info.title.contains("Tést"), s"$enc title")
      assert(info.author.contains("J€D"), s"$enc author")
      assert(PdfMeta.links(doc) ==
        Vector(PdfMeta.Link(0, 10, 20, 110, 40, "https://a.example/enc")), s"$enc links")
    }
  }

  test("pdf_meta_encrypted: a doc with NO info/links still reads empty, never throws") {
    val doc = PdfDocument.load(PdfBuilder.withEncryption(aes = false))
    assert(doc.isEncrypted)
    assert(PdfMeta.info(doc) == PdfMeta.DocInfo(None, None, None, None, None, None))
    assert(PdfMeta.links(doc).isEmpty)
    assert(PdfMeta.outline(doc).isEmpty)
  }

  test("pdf_outline: pre-order flattening, levels, both title/dest branches, named dest -> -1") {
    val pdf = PdfBuilder.withOutline(
      Seq("p0", "p1", "p2"),
      Seq((0, "S\u00E9c one", 0), // UTF-16 branch, direct /Dest
          (1, "kid (a)", 2),      // literal-escape branch, /GoTo /D
          (1, "kid b", 1),
          (0, "Sec two", 2),
          (0, "Annex", -1)))      // named dest: out of scope -> -1
    val got = PdfMeta.outline(PdfDocument.load(pdf))
    assert(got == Vector(
      PdfMeta.OutlineItem(0, 0, "S\u00E9c one", 0),
      PdfMeta.OutlineItem(1, 1, "kid (a)", 2),
      PdfMeta.OutlineItem(2, 1, "kid b", 1),
      PdfMeta.OutlineItem(3, 0, "Sec two", 2),
      PdfMeta.OutlineItem(4, 0, "Annex", -1)))
  }

  test("pdf_outline: NAMED destinations resolve - /Names tree (strings), catalog /Dests (names), absent -> -1") {
    // same tree routed through named forms: item 0 (string, /Names
    // name tree with /Limits kids), items 1-2 (strings via /GoTo /D),
    // item 3 (name object, catalog /Dests dict-wrapped /D), item 4
    // ("nowhere", absent from both maps) \u2014 pages must be identical,
    // with and without encryption
    val items = Seq((0, "S\u00E9c one", 0), (1, "kid (a)", 2), (1, "kid b", 1),
      (0, "Sec two", 2), (0, "Annex", -1))
    val expect = Vector(0, 2, 1, 2, -1)
    for (enc <- Seq(None, Some(PdfBuilder.EncAes))) {
      val pdf = PdfBuilder.withOutline(Seq("p0", "p1", "p2"), items,
        namedDests = true, enc = enc)
      val got = PdfMeta.outline(PdfDocument.load(pdf))
      assert(got.map(_.page) == expect, s"enc=$enc")
      assert(got.map(_.title) == items.map(_._2).toVector, s"enc=$enc titles")
    }
  }

  test("pdf_formfields: qualified names, FT/V inheritance, widget kids skipped, value-less -> None") {
    val pdf = PdfBuilder.withAcroForm(Seq("p0"), Seq(
      (0, "grp", Some("Tx"), Some("inherited")), // non-terminal: V inherits down
      (1, "a", None, None),                      // takes parent's Tx AND value
      (1, "b", None, Some("own")),               // own value wins
      (0, "radio", Some("Btn"), Some("/Off")),   // name-object value
      (0, "untyped", None, Some("x"))))          // no FT anywhere: skipped
    val got = PdfMeta.formFields(PdfDocument.load(pdf))
    assert(got == Vector(
      PdfMeta.FormField(0, "grp.a", "Tx", Some("inherited")),
      PdfMeta.FormField(1, "grp.b", "Tx", Some("own")),
      PdfMeta.FormField(2, "radio", "Btn", Some("/Off"))))
  }

  test("pdf_formfields: encrypted AcroForm decodes names and values (AES-128 strings)") {
    val pdf = PdfBuilder.withAcroForm(Seq("p0"), Seq(
      (0, "grpé", Some("Tx"), Some("inherited")),
      (1, "a", None, None)), enc = Some(PdfBuilder.EncAes))
    val doc = PdfDocument.load(pdf)
    assert(doc.isEncrypted)
    assert(PdfMeta.formFields(doc) ==
      Vector(PdfMeta.FormField(0, "grpé.a", "Tx", Some("inherited"))))
  }

  test("pdf_formfields: a /Kids cycle is a declared parse error, not a hang") {
    val pdf = PdfBuilder.withAcroForm(Seq("p0"),
      Seq((0, "g", Some("Tx"), None), (1, "a", None, Some("v"))))
    val txt = new String(pdf, java.nio.charset.StandardCharsets.ISO_8859_1)
    // field objects: 6 = g, 7 = a (one page). Point a's Kids back at g
    // via same-length rewrite of its /Parent link
    val looped = txt.replace("/T (a) /V (v) /Parent 6 0 R",
      "/T (a) /V (v) /Kids [6 0 R]")
    assert(looped != txt && looped.length == txt.length, "same-length rewrite required")
    val doc = PdfDocument.load(looped.getBytes(java.nio.charset.StandardCharsets.ISO_8859_1))
    intercept[PdfParseException] { PdfMeta.formFields(doc) }
  }

  test("pdf_pagelabels: range selection, styles, defaults; /Kids number tree; encrypted labels") {
    // roman/letter formatters pinned directly (subtractive edges,
    // the doubled-letter rollover past z)
    assert(PdfMeta.roman(4) == "iv" && PdfMeta.roman(9) == "ix")
    assert(PdfMeta.roman(14) == "xiv" && PdfMeta.roman(40) == "xl")
    assert(PdfMeta.roman(1999) == "mcmxcix")
    assert(PdfMeta.letters(26) == "z" && PdfMeta.letters(27) == "aa")
    assert(PdfMeta.letters(28) == "bb" && PdfMeta.letters(53) == "aaa")
    val pdf = PdfBuilder.withPageLabels(
      (0 until 5).map(i => s"p$i"),
      Seq((0, Some("r"), None, None),           // default St=1: i, ii
        (2, Some("D"), Some("B-"), Some(7)),    // B-7, B-8
        (4, None, Some("blank "), None)))       // prefix only
    val got = PdfMeta.pageLabels(PdfDocument.load(pdf))
    assert(got == Vector(0 -> "i", 1 -> "ii", 2 -> "B-7", 3 -> "B-8", 4 -> "blank "))
    // the same ranges split across a 2-level /Kids number tree
    // (§7.9.7) yield identical labels — with and without encryption
    for (enc <- Seq(None, Some(PdfBuilder.EncRc4), Some(PdfBuilder.EncAes256))) {
      val kidsPdf = PdfBuilder.withPageLabels(
        (0 until 5).map(i => s"p$i"),
        Seq((0, Some("r"), None, None),
          (2, Some("D"), Some("B-"), Some(7)),
          (4, None, Some("blank "), None)),
        kidsTree = true, enc = enc)
      assert(PdfMeta.pageLabels(PdfDocument.load(kidsPdf)) == got, s"enc=$enc")
    }
    // a tree missing the mandated page-0 range would make early
    // pages' labels a guess — declared error, never a wrong label
    intercept[PdfParseException] {
      PdfMeta.pageLabels(PdfDocument.load(PdfBuilder.withPageLabels(
        Seq("p0", "p1"), Seq((1, Some("D"), None, None)))))
    }
    // an unknown numbering style must not silently degrade to
    // prefix-only
    intercept[PdfParseException] {
      PdfMeta.pageLabels(PdfDocument.load(PdfBuilder.withPageLabels(
        Seq("p0"), Seq((0, Some("Q"), None, None)))))
    }
  }

  test("pdf_outline: /Next cycle is a declared parse error, not a hang") {
    // hand-build: two items whose /Next links point at each other
    val pdf = PdfBuilder.withOutline(Seq("p0"), Seq((0, "A", 0), (0, "B", 0)))
    val txt = new String(pdf, java.nio.charset.StandardCharsets.ISO_8859_1)
    // one page -> outline root is object 6, items 7 (A) and 8 (B):
    // rewrite B's /Prev back-link into a /Next loop via a same-length
    // edit (xref offsets stay valid)
    val looped = txt.replace("/Prev 7 0 R", "/Next 7 0 R")
    assert(looped != txt, "fixture must contain the /Prev link to rewrite")
    val doc = PdfDocument.load(looped.getBytes(java.nio.charset.StandardCharsets.ISO_8859_1))
    intercept[PdfParseException] { PdfMeta.outline(doc) }
  }
}
