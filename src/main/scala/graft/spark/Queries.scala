package graft.spark

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.core.model._
import graft.functions.{TextFunctions => TF, VectorFunctions => VF}
import graft.operators.{Dedup, Multimodal, Similarity}

/** The engine's query surface — one entry per operator in SURVEY.md §2
  * plus the training-data-pipeline operators (dedup, similarity
  * search, text analysis, multimodal plumbing). Every SQL-expressible
  * query has an exact DuckDB twin in [[Oracles]]; cross-engine
  * exactness rules (md5-only hashing, integer permille/cents/milliunit
  * arithmetic, deterministic ORDER BY) are described in
  * [[graft.functions.TextFunctions]] / [[graft.functions.VectorFunctions]].
  */
object Queries {

  private def rd(s: SparkSession, dir: String, name: String): DataFrame =
    graft.io.Parquet.read(s, s"$dir/$name.parquet")

  /** Money doubles → exact integer cents/permille (HALF_UP both engines). */
  private def cents(c: Column): Column = round(c * 100).cast("long")
  private def permille(c: Column): Column = round(c * 1000).cast("long")

  // ===================================================================
  // Reference-pipeline relational operators (SURVEY.md §2) over the
  // interleaved corpus (fixed deterministic parquet, see
  // InterleavedTable.VerifyPath — the DuckDB oracle reads the same file)
  // ===================================================================

  /** T1 analog: explode spans with position (posexplode ≡ aligned
    * UNNEST). Span text reduced to (len, md5) so output stays small. */
  def pdfzExplode(s: SparkSession, dir: String): DataFrame = {
    val docs = InterleavedTable.readVerifyCorpus(s)
    docs
      .select(col("doc_id"), posexplode(col("spans")).as(Seq("pos", "span")))
      .select(col("doc_id"), col("pos"), col("span.kind").as("kind"),
        col("span.media_ref").as("media_ref"),
        length(col("span.text")).as("text_len"), md5(col("span.text")).as("text_md5"))
      .orderBy("doc_id", "pos")
  }

  /** P1+P2 analog: page-range filter with the reference's start-page
    * off-by-one (effective start = max(1, s-1), SURVEY.md §2.6.2) and
    * emitted-page limit clamped to the total (§2.6.3). Spans play the
    * role of 1-based pages (page_num = pos+1); s=3, pageCount=2. */
  def pdfzPageWindow(s: SparkSession, dir: String): DataFrame = {
    val startPage = 3; val pageCount = 2
    val docs = InterleavedTable.readVerifyCorpus(s)
    val pages = docs
      .select(col("doc_id"), size(col("spans")).as("total"),
        posexplode(col("spans")).as(Seq("pos", "span")))
      .withColumn("page_num", col("pos") + 1)
      .withColumn("page_limit",
        when(lit(pageCount) === 0 || lit(pageCount) > col("total"), col("total"))
          .otherwise(lit(pageCount)))
      .where(col("page_num") >= math.max(1, startPage - 1)) // parity off-by-one
    val w = Window.partitionBy("doc_id").orderBy("page_num")
    pages.withColumn("rk", row_number().over(w))
      .where(col("rk") <= col("page_limit"))
      .select(col("doc_id"), col("page_num"), col("span.kind").as("kind"),
        md5(col("span.text")).as("text_md5"))
      .orderBy("doc_id", "page_num")
  }

  /** T10 analog: ordered per-doc reassembly (collect_list over order ≡
    * string_agg ORDER BY). Pieces are md5 prefixes of span text. */
  def pdfzReassemble(s: SparkSession, dir: String): DataFrame = {
    val docs = InterleavedTable.readVerifyCorpus(s)
    docs
      .select(col("doc_id"), posexplode(col("spans")).as(Seq("pos", "span")))
      .select(col("doc_id"), col("pos"), substring(md5(col("span.text")), 1, 8).as("piece"))
      .groupBy("doc_id")
      .agg(array_join(
        transform(array_sort(collect_list(struct(col("pos"), col("piece")))),
          x => x.getField("piece")), " ").as("assembled"))
      .orderBy("doc_id")
  }

  /** P6 analog: resume anti-join — pending = input buckets NOT in the
    * committed set (0..5 of 16 md5-nibble buckets). The committed side
    * is metadata-small → broadcast, never a corpus shuffle. */
  def pdfzResumeAntijoin(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val docs = InterleavedTable.readVerifyCorpus(s)
      .withColumn("bucket", conv(substring(md5(col("doc_id")), 1, 1), 16, 10).cast("int"))
    val committed = (0 to 5).toDF("bucket")
    docs.join(broadcast(committed), Seq("bucket"), "left_anti")
      .groupBy("bucket")
      .agg(count(lit(1)).as("pending_docs"), sum(size(col("spans"))).cast("long").as("pending_spans"))
      .orderBy("bucket")
  }

  /** A1/A2 analog: lineage-style progress metrics per bucket with the
    * reference's integer-percent arithmetic (page*100/total, floored). */
  def pdfzProgress(s: SparkSession, dir: String): DataFrame = {
    val docs = InterleavedTable.readVerifyCorpus(s)
      .withColumn("bucket", conv(substring(md5(col("doc_id")), 1, 1), 16, 10).cast("int"))
    val per = docs.groupBy("bucket")
      .agg(count(lit(1)).as("doc_count"), sum(size(col("spans"))).cast("long").as("span_count"))
    per.withColumn("pct_of_corpus",
        floor(col("doc_count") * 100 / sum(col("doc_count")).over(Window.partitionBy())).cast("long"))
      .orderBy("bucket")
  }

  /** P4+P8 analog: engine dispatch (case-insensitive whitelist) and
    * model-tag normalization (append ":latest" iff no ":"). */
  def pdfzDispatch(s: SparkSession, dir: String): DataFrame =
    rd(s, dir, "documents")
      .withColumn("engine",
        when(col("doc_id") % 3 === 0, "Tesseract")
          .when(col("doc_id") % 3 === 1, "OLLAMA").otherwise("gpt"))
      .select(col("doc_id"), lower(col("engine")).as("engine_norm"),
        lower(col("engine")).isin("tesseract", "ollama").cast("int").as("supported"),
        when(col("source").contains(":"), col("source"))
          .otherwise(concat(col("source"), lit(":latest"))).as("model_tag"))
      .orderBy("doc_id")

  /** S6/T4-T6 analog: materialize embedded PDF images — every decode
    * class produces real PNG bytes (JPEG via the JDK codec for DCT,
    * guessed-container + rotate90 quirk for Flate, /ColorSpace raw
    * pixels otherwise) with the reference's `{id}_{page}_{i}.png` name
    * formula. Output restricted to the oracle-expressible columns;
    * payload bytes are pinned by unit tests (PdfImagesSpec). */
  def pdfzImages(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val docs = InterleavedTable.readVerifyCorpus(s)
    docs.select(col("doc_id"), col("spans")).as[InterleavedDoc]
      .mapPartitions { it =>
        it.flatMap { d =>
          d.spans.iterator.filter(_.kind == "pdf_bytes").flatMap { sp =>
            try graft.pdf.PdfImages
              .documentImages(d.doc_id, java.util.Base64.getDecoder.decode(sp.text))
              .map(im => (d.doc_id, im.name, im.format, im.width, im.height))
            catch { case scala.util.control.NonFatal(_) => Vector.empty }
          }
        }
      }
      .toDF("doc_id", "media_ref", "format", "width", "height")
      .orderBy("doc_id", "media_ref")
  }

  /** CCITT G4 fax decode, ORACLE-pinned: 20 deterministic scanned-fax
    * PDFs (pattern white iff (x + 2y + id) mod 4 ≠ 0, per-id dims) are
    * built in-query, their `/CCITTFaxDecode` XObjects decoded by the
    * from-spec [[graft.pdf.CcittFax]] T.6 decoder (payload bytes come
    * from the JDK's INDEPENDENT T.6 encoder), and the DuckDB twin
    * recomputes dims + the black-pixel count analytically from the
    * same formula — a wrong run-table entry or mode bug flips the
    * count. The reference errors "Unsupported filter" on this entire
    * image class (mod.rs:163-165). */
  def pdfzImagesFax(s: SparkSession, dir: String): DataFrame =
    blackPixels(s, 20, "fax") { id =>
      graft.pdf.PdfBuilder.withCcittImagePattern(8 + (id % 5).toInt, 6 + (id % 3).toInt,
        (x, y) => (x + 2 * y + id) % 4 != 0)
    }

  /** One `(id, media_ref, width, height, black_px)` row per image of each
    * of `n` built documents (`<prefix><id>` for id 0 until n), its black
    * pixels counted in the decoded PNG, ordered by id. */
  private def blackPixels(s: SparkSession, n: Long, prefix: String)(pdf: Long => Array[Byte]): DataFrame = {
    import s.implicits._
    s.range(n).repartition(4).flatMap { id =>
      graft.pdf.PdfImages.documentImages(f"$prefix$id%04d", pdf(id)).map { im =>
        val (pw, ph, rgba) = graft.pdf.PdfImages.decodePng(im.bytes).get
        val black = (0 until pw * ph).count(i => (rgba(i * 4) & 0xff) == 0)
        (id, im.name, im.width, im.height, black.toLong)
      }
    }
    .toDF("id", "media_ref", "width", "height", "black_px")
    .orderBy("id")
  }

  /** JBIG2 image decode, oracle-pinned like [[pdfzImagesFax]]: 20
    * deterministic bilevel images through BOTH coding modes — even ids
    * MMR (payload from the JDK's independent T.6 encoder), odd ids
    * arithmetic (MQ coder pinned byte-exact against the published
    * ITU-T T.88 H.2 vector; templates rotate, every 4th id TPGDON) —
    * embedded as real `/JBIG2Decode` XObjects and decoded through the
    * full PDF + segment + region stack. The DuckDB twin recomputes
    * dims and black-pixel counts analytically from the same pattern
    * formula. The reference errors "Unsupported filter" on this whole
    * class (mod.rs:163-165). */
  def pdfzImagesJbig2(s: SparkSession, dir: String): DataFrame =
    blackPixels(s, 20, "jb") { id =>
      graft.pdf.PdfBuilder.withJbig2ImagePattern(10 + (id % 6).toInt, 7 + (id % 4).toInt,
        (x, y) => (2 * x + y + id) % 5 == 0,
        mmr = id % 2 == 0, template = ((id / 2) % 4).toInt, tpgdon = id % 4 == 1)
    }

  /** JBIG2 SCANNED-TEXT decode, oracle-pinned: 12 deterministic pages
    * through the symbol-dictionary + text-region path (T.88 §6.5/§6.4
    * arithmetic form — Annex A integer procedures, IAID tree,
    * height-class symbol decode over one shared MQ stream, strip-walk
    * placement), embedded as real `/JBIG2Decode` XObjects. Glyphs and
    * instance layout are closed-form ([[graft.pdf.PdfBuilder
    * .withJbig2TextPattern]]), so the DuckDB twin recomputes the
    * black-pixel counts analytically. */
  def pdfzImagesJbig2Text(s: SparkSession, dir: String): DataFrame =
    blackPixels(s, 12, "tx")(id => graft.pdf.PdfBuilder.withJbig2TextPattern(id, 8 + (id % 3).toInt))

  /** JBIG2 scanned-text in HUFFMAN form (SDHUFF/SBHUFF = 1): the same
    * closed-form glyph pattern as [[pdfzImagesJbig2Text]], coded
    * through standard tables B.1-B.5 (symbol dict: DH/DW/BMSIZE/EX),
    * self-describing CUSTOM table segments (text region FS/DS/DT) and
    * the §7.4.3.1.2 runcode symbol-ID table; collective bitmaps
    * alternate uncompressed (even ids) and MMR (odd ids — the
    * JDK-cross-validated T.6 path). Page bits — and so the analytic
    * black counts — are identical to the arithmetic twin. */
  def pdfzImagesJbig2Huff(s: SparkSession, dir: String): DataFrame =
    blackPixels(s, 12, "hx") { id =>
      graft.pdf.PdfBuilder.withJbig2TextPattern(id, 8 + (id % 3).toInt,
        huffman = true, huffMmr = id % 2 == 1)
    }

  /** ANNEX-D SIMPLE-FONT ENCODINGS, oracle-pinned: deterministic
    * one-page documents cycling StandardEncoding (implicit base),
    * /MacRomanEncoding and /WinAnsiEncoding, each showing high-range
    * bytes whose Unicode decode is fixed by the published ISO 32000-1
    * Annex D.2 table ([[graft.pdf.Encodings]]) — including Standard's
    * 047→quoteright deviation, WinAnsi's bullet-fill and footnote
    * duplicates, and one encoding-UNDEFINED code per standard/mac doc
    * so the visible-degradation contract (U+FFFD + `unmapped_codes`
    * count, never a silent drop) is witnessed engine-to-engine. The
    * DuckDB twin recomputes the expected text md5s from the same
    * closed-form strings. */
  def pdfzEncodings(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    s.range(24).repartition(4).map { id =>
      val (mode, fontExtra, raw) = (id % 4) match {
        case 0 => ("standard", "",
          "std \u0027\u00AA\u00BA\u00B1\u00B2\u00B7\u00FB\u00F1\u00FF")
        case 1 => ("macroman", "/Encoding /MacRomanEncoding",
          "mac \u0080\u008E\u00A5\u00D0\u00D2\u00D3\u00A7\u00BE\u00F0")
        case 2 => ("winansi", "/Encoding /WinAnsiEncoding",
          "win \u008A\u00E9\u0091\u0092\u0096\u00DF\u00E6 \u0081\u00A0\u00AD")
        case _ => ("ucs2", "/Subtype /Type0 /Encoding /UniJIS-UCS2-H",
          "ucs2 日本語")
      }
      val content =
        if (mode == "ucs2") {
          // UCS2-family CMap: the 2-byte CODES are UCS-2 — show the
          // UTF-16BE bytes as one hex string (no embedded ToUnicode)
          val hex = (raw + s" #$id")
            .getBytes(java.nio.charset.StandardCharsets.UTF_16BE)
            .map(b => f"${b & 0xff}%02X").mkString
          s"BT /F1 12 Tf 72 720 Td <$hex> Tj ET"
        } else graft.pdf.PdfBuilder.tjLine(raw + s" #$id")
      val pdf = graft.pdf.PdfBuilder.simple(Seq(content), fontExtra = fontExtra)
      val doc = graft.pdf.PdfDocument.load(pdf)
      val (text, unmapped) =
        graft.pdf.ContentText.extractPageTextCounted(doc, doc.pages.head)
      (id, mode, text, unmapped)
    }.toDF("id", "mode", "text", "unmapped")
      .select(col("id"), col("mode"), md5(col("text")).as("text_md5"), col("unmapped"))
      .orderBy("id")
  }

  /** FORM-XOBJECT text extraction, oracle-pinned (DECLARED EXTENSION
    * — the reference's lopdf `extract_text` walks only the page's own
    * content streams, engine/mod.rs:100-103): deterministic documents
    * cycling the three form topologies — a plain form, a depth-2
    * nested chain (inner form inheriting resources per §8.10.1), and
    * a SELF-REFERENCING form whose recursive `Do` the visited guard
    * must drop. Both the extension decode (forms recursed) and the
    * parity decode (page-stream-only) are emitted, witnessing that
    * parity semantics stay untouched while the extension sees the
    * stamp text. The DuckDB twin recomputes both md5s from the same
    * closed-form strings. */
  def pdfzFormText(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    s.range(12).repartition(4).map { id =>
      val page = s"body text $id"
      val form = s"stamp ${id * 7}"
      val (mode, pdf) = (id % 3) match {
        case 0 => ("plain", graft.pdf.PdfBuilder.withFormXObject(page, form))
        case 1 => ("nested", graft.pdf.PdfBuilder.withFormXObject(page, form,
          nestedText = Some(s"inner ${id + 100}")))
        case _ => ("cyclic", graft.pdf.PdfBuilder.withFormXObject(page, form,
          cyclic = true))
      }
      val doc = graft.pdf.PdfDocument.load(pdf)
      val ext = graft.pdf.ContentText.extractPageText(doc, doc.pages.head,
        recurseForms = true)
      val par = graft.pdf.ContentText.extractPageText(doc, doc.pages.head)
      (id, mode, ext, par)
    }.toDF("id", "mode", "ext", "par")
      .select(col("id"), col("mode"),
        md5(col("ext")).as("form_text_md5"),
        md5(col("par")).as("parity_text_md5"))
      .orderBy("id")
  }

  /** DOCUMENT-OUTLINE (bookmark) extraction, oracle-pinned (DECLARED
    * EXTENSION — the reference reads page text only): 12 three-page
    * documents, each with 2+id%3 top-level sections of (id+s)%3
    * children — pre-order flattening, nesting levels, both §7.9.2.2
    * title branches (even sections UTF-16BE-with-BOM é titles, odd
    * sections escaped literals with parens), both destination forms
    * (direct /Dest arrays on sections, /A /GoTo /D actions on
    * children), and a trailing named-destination appendix that must
    * surface as page -1, never a guess. The live catalog is written
    * last with a decoy object-1 catalog carrying no /Outlines — a
    * reader keying on object order instead of /Root sees nothing.
    * The DuckDB twin regenerates (ord, level, title, page) closed
    * form: a wrong pre-order, level, title byte or page link flips
    * the hash. */
  def pdfzOutline(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    s.range(18).repartition(4).flatMap { id =>
      val nSec = 2 + (id % 3).toInt
      val items = (0 until nSec).flatMap { sIdx =>
        val nc = ((id + sIdx) % 3).toInt
        val secTitle =
          if (sIdx % 2 == 0) s"S\u00E9ance $id.$sIdx" else s"Sec ($id.$sIdx)"
        (0, secTitle, sIdx % 3) +: (0 until nc).map { k =>
          (1, s"Item $id.$sIdx.$k", (sIdx + k + 1) % 3)
        }
      } :+ ((0, s"Appendix $id", -1))
      // ids 12-17 route every destination through NAMED forms (name
      // tree + catalog /Dests); 15-17 additionally encrypt the doc
      // (cycling the 3 ciphers) \u2014 resolved pages must be identical
      val pdf = graft.pdf.PdfBuilder.withOutline(
        Seq(s"outline a $id", s"outline b $id", s"outline c $id"), items,
        namedDests = id >= 12, enc = if (id >= 15) metaEncFor(id) else None)
      graft.pdf.PdfMeta.outline(graft.pdf.PdfDocument.load(pdf)).map { o =>
        (id, o.ord, o.level, o.title, o.page)
      }
    }.toDF("id", "ord", "lvl", "title", "page")
      .orderBy("id", "ord")
  }

  /** PAGE-LABEL extraction, oracle-pinned (DECLARED EXTENSION): 12
    * six-page documents with three /PageLabels ranges — lower/upper
    * roman from a varying /St, decimal with a non-ASCII prefix, and
    * (even ids) letter labels STARTING PAST z to pin the doubled-
    * letter rollover (aa, bb, …) vs (odd ids) a style-less prefix-
    * only range. The DuckDB twin regenerates every label closed-form
    * (roman via the subtractive formula for n ≤ 39, letters via
    * repeat). */
  def pdfzPagelabels(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    s.range(16).repartition(4).flatMap { id =>
      val styleA = if (id % 2 == 0) "r" else "R"
      val tail: (Int, Option[String], Option[String], Option[Int]) =
        if (id % 2 == 0) (4, Some("a"), None, Some(25 + id.toInt))
        else (4, None, Some("x-"), None)
      // ids 12-15 split the ranges across a 2-level /Kids NUMBER TREE
      // (\u00A77.9.7); 12-14 additionally encrypt (prefixes are strings) \u2014
      // labels must be identical either way
      val pdf = graft.pdf.PdfBuilder.withPageLabels(
        (0 until 6).map(p => s"pl $id page $p"),
        Seq((0, Some(styleA), None, Some(1 + (id % 3).toInt)),
          (2, Some("D"), Some(s"A\u00E9-"), Some(5 + (id % 5).toInt)),
          tail),
        kidsTree = id >= 12, enc = if (id < 15) metaEncFor(id) else None)
      graft.pdf.PdfMeta.pageLabels(graft.pdf.PdfDocument.load(pdf)).map {
        case (pg, label) => (id, pg, label)
      }
    }.toDF("id", "page", "label")
      .orderBy("id", "page")
  }

  /** ACROFORM field extraction, oracle-pinned (DECLARED EXTENSION):
    * 12 documents with interactive-form field trees — qualified-name
    * assembly across nested fields, /FT inheritance (children carry
    * no /FT of their own), text-string AND name-object values, an
    * always-present widget kid that must read as presentation rather
    * than a child field, a value-less field surfacing NULL, and both
    * §7.9.2.2 string spellings in names and values. The DuckDB twin
    * regenerates the terminal-field rows closed form. */
  def pdfzFormfields(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    s.range(16).repartition(4).flatMap { id =>
      val nTop = 1 + (id % 3).toInt
      val hasKid = id % 2 == 1
      val top0 =
        if (hasKid)
          Seq((0, s"fld\u00E9${id}_0", Some("Tx"), None),
            (1, "k0", None, Some(s"kv\u00E9$id.0")))
        else Seq((0, s"fld\u00E9${id}_0", Some("Tx"), Some(s"v$id.0")))
      val rest = (1 until nTop).map { t =>
        if (t == 1) (0, s"fld${id}_1", Some("Btn"), Some("/On1"))
        else (0, s"fld\u00E9${id}_2", Some("Tx"), None)
      }
      val pdf = graft.pdf.PdfBuilder.withAcroForm(
        Seq(s"form doc $id"), top0 ++ rest, enc = metaEncFor(id))
      graft.pdf.PdfMeta.formFields(graft.pdf.PdfDocument.load(pdf)).map { f =>
        (id, f.ord, f.name, f.ft, f.value)
      }
    }.toDF("id", "ord", "name", "ft", "val")
      .orderBy("id", "ord")
  }

  /** DOCUMENT-INFORMATION metadata extraction, oracle-pinned
    * (DECLARED EXTENSION — the reference reads page text only): 12
    * documents with trailer /Info dictionaries exercising BOTH
    * §7.9.2.2 text-string branches — /Title as UTF-16BE hex with BOM
    * (é through the Unicode path), /Author as PDFDocEncoding with a
    * high byte (0o240 → the Annex-D Euro) — plus ASCII subject/
    * producer, the §7.9.4 date form, and /Keywords present only on
    * even ids (absent entries surface as NULL, not ""). The DuckDB
    * twin recomputes every string closed-form (chr() codepoints, so
    * a wrong encoding-table byte flips the compare). */
  def pdfzMetadata(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    s.range(16).repartition(4).map { id =>
      val B = graft.pdf.PdfBuilder
      val info0 = Seq(
        "Title" -> B.utf16Bytes(s"Title\u00E9 doc $id"),
        "Author" -> B.latin1Bytes(s"J\u00A0Smith $id"), // 0xA0 = PDFDoc Euro
        "Subject" -> B.latin1Bytes(s"subject ${id * 3}")) ++
        (if (id % 2 == 0) Seq("Keywords" -> B.latin1Bytes(s"k$id corpus"))
         else Seq.empty) ++ Seq(
        "Producer" -> B.latin1Bytes(s"graft ${id % 5}"),
        "CreationDate" -> B.latin1Bytes(s"D:2026081${id % 10}120000Z"))
      val pdf = B.withInfoAndLinks(Seq(s"meta body $id"), info0,
        Seq(Seq.empty), decoys = false, enc = metaEncFor(id))
      val info = graft.pdf.PdfMeta.info(graft.pdf.PdfDocument.load(pdf))
      (id, info.title, info.author, info.subject, info.keywords,
        info.producer, info.creationDate)
    }.toDF("id", "title", "author", "subject", "keywords", "producer",
        "creation_date")
      .orderBy("id")
  }

  /** Encrypted-mode selector shared by the five metadata-family
    * queries: ids past the plaintext dozen cycle the three cipher
    * families the `pdfz_encrypted` oracle pins \u2014 RC4-128 (R3),
    * AES-128 (V4 /AESV2) and AES-256 (V5/R6 /AESV3). Output rows are
    * IDENTICAL to what the same id would yield unencrypted: Algorithm
    * 1 string decryption must be transparent, so the oracle formulas
    * simply extend their range. */
  private def metaEncFor(id: Long): Option[graft.pdf.PdfBuilder.EncKind] =
    if (id < 12) None
    else Some((id % 3) match {
      case 0L => graft.pdf.PdfBuilder.EncRc4
      case 1L => graft.pdf.PdfBuilder.EncAes
      case _  => graft.pdf.PdfBuilder.EncAes256
    })

  /** LINK-ANNOTATION extraction, oracle-pinned (DECLARED EXTENSION):
    * 12 two-page documents; page 0 carries id%3 URI links (the k=1
    * rect written corner-REVERSED — extraction must normalize to
    * min/max per §12.5.2) plus two decoys a correct reader skips (a
    * /Text note and a URI-less /GoTo link), page 1 one more link. The
    * DuckDB twin regenerates the full (doc, page, rect, uri) edge set
    * closed-form. */
  def pdfzLinks(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    s.range(16).repartition(4).flatMap { id =>
      val p0 = (0 until (id % 3).toInt).map { k =>
        val r = (10 + 5 * k, 20, 110 + 5 * k, 40)
        val rect = if (k == 1) (r._3, r._4, r._1, r._2) else r
        (s"https://ex.org/d$id/l$k", rect)
      }
      val p1 = Seq((s"https://ex.org/d$id/p1", (30, 40, 200, 60)))
      val pdf = graft.pdf.PdfBuilder.withInfoAndLinks(
        Seq(s"links a $id", s"links b $id"),
        Seq("Producer" -> graft.pdf.PdfBuilder.latin1Bytes(s"graft links $id")),
        Seq(p0, p1), enc = metaEncFor(id))
      graft.pdf.PdfMeta.links(graft.pdf.PdfDocument.load(pdf)).map { l =>
        (id, l.page, math.round(l.x0), math.round(l.y0),
          math.round(l.x1), math.round(l.y1), l.uri)
      }
    }.toDF("id", "page", "x0", "y0", "x1", "y1", "uri")
      .orderBy("id", "page", "uri")
  }

  /** ENCRYPTED-PDF extraction, oracle-pinned: 12 documents through
    * the ISO 32000 standard security handler (empty user password —
    * the openable-but-encrypted web-PDF class the reference fails
    * on), ids cycling RC4-128 (R3), AES-128-CBC (R4 /AESV2) and
    * AES-256 (PDF 2.0 V5/R6 /AESV3 with the Algorithm-2.B hardened
    * hash);
    * per-object keys, /O /U and the file key all computed from the
    * spec's algorithms ([[graft.pdf.PdfCrypt]]), ciphers = the JDK's
    * independent implementations. The DuckDB twin recomputes the
    * expected page-text md5s from the same closed-form strings — a
    * wrong key-derivation byte turns the decrypted stream to noise
    * and flips every hash. */
  def pdfzEncrypted(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    s.range(16).repartition(4).flatMap { id =>
      val texts = Seq(s"page alpha $id", s"page beta ${id * id}")
      // ids 0-11: the no-password-openable class; 12-15: non-empty
      // passwords (user-opened per cipher, and owner-opened via the
      // Algorithm-7 recovery path)
      val (mode, pdf, pw) =
        if (id < 12) (id % 3) match {
          case 0 => ("rc4", graft.pdf.PdfBuilder.withEncryption(aes = false, texts), "")
          case 1 => ("aes", graft.pdf.PdfBuilder.withEncryption(aes = true, texts), "")
          case _ => ("aes256", graft.pdf.PdfBuilder.withEncryptionR6(texts), "")
        } else id.toLong match {
          case 12L => ("rc4_pw",
            graft.pdf.PdfBuilder.withEncryption(aes = false, texts, userPw = s"pw$id"), s"pw$id")
          case 13L => ("aes_pw",
            graft.pdf.PdfBuilder.withEncryption(aes = true, texts, userPw = s"pw$id"), s"pw$id")
          case 14L => ("aes256_pw",
            graft.pdf.PdfBuilder.withEncryptionR6(texts, userPw = s"pw$id"), s"pw$id")
          case _ => ("owner_pw",
            graft.pdf.PdfBuilder.withEncryption(aes = false, texts,
              userPw = "someuser", ownerPw = s"own$id"), s"own$id")
        }
      val doc = graft.pdf.PdfDocument.load(pdf,
        pw.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      doc.pages.zipWithIndex.map { case (p, i) =>
        (id, mode, i + 1, graft.pdf.ContentText.extractPageText(doc, p).trim)
      }
    }
    .toDF("id", "mode", "page", "text")
    .select(col("id"), col("mode"), col("page"), md5(col("text")).as("text_md5"))
    .orderBy("id", "page")
  }

  /** HTML boilerplate strip, ORACLE-pinned (north_rule "HTML
    * boilerplate strip, DOM heuristics"): deterministic HTML documents
    * exercising the classifier's branches — nav/head/script stripping,
    * entity decoding, block segmentation, the >0.5 link-density drop,
    * and media-span extraction in document order — are built in-query
    * and run through [[graft.html.Boilerplate.extract]]; the DuckDB
    * twin constructs the EXPECTED pieces from the same template (the
    * rules are deterministic, so the expected output is closed-form).
    * Every id's link-dense div must vanish and the remaining pieces
    * must land at exact positions or the hash flips. */
  def htmlBoilerplate(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    s.range(40).repartition(4).flatMap { id =>
      val html =
        s"""<html><head><title>skip me</title></head><body>
           |<nav>Site <a href="/">navigation</a> junk</nav>
           |<h1>Doc $id &amp; title</h1>
           |<p>alpha$id beta</p>
           |<div><a href="/a">l1</a> <a href="/b">l2</a> yes</div>
           |<img src="img$id.png">
           |<script>var x = "<p>not content</p>";</script>
           |<p>gamma ${id % 7}</p>
           |</body></html>""".stripMargin
      graft.html.Boilerplate.extract(html).zipWithIndex.map {
        case (graft.html.Boilerplate.TextPiece(t), i) => (id, i, "text", t)
        case (graft.html.Boilerplate.MediaPiece(src), i) => (id, i, "media", src)
      }
    }
    .toDF("id", "pos", "kind", "content")
    .orderBy("id", "pos")
  }

  /** HTML LINK-EDGE extraction, oracle-pinned: the document→web edge
    * set from anchors ([[graft.html.Boilerplate.links]]) — the HTML
    * analog of `pdfz_links`. 40 documents exercising: a nav anchor
    * (boilerplate-flagged), an entity-bearing content anchor, a
    * quoted and an UNQUOTED href, a footer anchor (flagged), an
    * empty-href non-edge, and a script-string decoy `<a>` that must
    * never parse. The DuckDB twin regenerates the full (id, ord,
    * href, anchor, boiler) set closed-form. */
  def htmlLinks(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    s.range(40).repartition(4).flatMap { id =>
      val html =
        s"""<html><head><title>skip</title></head><body>
           |<nav>Site <a href="/nav$id">home $id</a> junk</nav>
           |<p>see <a href="https://ex.org/d$id">doc &amp; more</a> inline</p>
           |<div><a href="/a$id">l one</a> <a href=/b$id>l2</a></div>
           |<script>var s = "<a href='/fake'>never</a>";</script>
           |<footer><a href="/legal">terms</a></footer>
           |<a href="">not an edge</a>
           |</body></html>""".stripMargin
      graft.html.Boilerplate.links(html).zipWithIndex.map { case (l, i) =>
        (id, i, l.href, l.anchor, if (l.boilerplate) 1 else 0)
      }
    }.toDF("id", "ord", "href", "anchor", "boiler")
      .orderBy("id", "ord")
  }

  /** S8 analog: point lookup of one document's content (`GET
    * /content/:id`) — partition-prunable scan, no shuffle. */
  def pdfzPointLookup(s: SparkSession, dir: String): DataFrame = {
    val docs = InterleavedTable.readVerifyCorpus(s)
    docs.where(col("doc_id") === "doc00000123")
      .select(col("doc_id"), size(col("spans")).as("n_spans"),
        md5(array_join(transform(col("spans"), x => x.getField("text")), "|")).as("content_md5"))
  }

  // ===================================================================
  // Analytic operators (scan/filter/agg/join/window/time-window) —
  // the general-purpose query layer, TPC-H-shaped
  // ===================================================================

  /** Pricing summary (TPC-H Q1 shape): scan+filter+hash-agg, exact
    * integer cents/permille arithmetic. */
  def q1Pricing(s: SparkSession, dir: String): DataFrame =
    rd(s, dir, "lineitem")
      .where(col("l_shipdate") <= lit("2000-12-31").cast("timestamp"))
      .groupBy("l_returnflag", "l_linestatus")
      .agg(
        sum(round(col("l_quantity")).cast("long")).as("sum_qty"),
        sum(cents(col("l_extendedprice"))).as("sum_base_cents"),
        sum(cents(col("l_extendedprice")) * (lit(1000L) - permille(col("l_discount"))))
          .as("rev_micros"),
        count(lit(1)).as("n"))
      .orderBy("l_returnflag", "l_linestatus")

  /** Shipping-priority revenue (TPC-H Q3 shape): selective dim filter →
    * broadcast join → agg → top-10. The customer side is filtered and
    * broadcast; only lineitem (the fact table) streams. */
  def q3TopOrders(s: SparkSession, dir: String): DataFrame = {
    val cust = rd(s, dir, "customer").where(col("c_mktsegment") === "BUILDING")
      .select("c_custkey")
    val ord = rd(s, dir, "orders")
      .where(col("o_orderdate") < lit("1998-01-01").cast("timestamp"))
      .select("o_orderkey", "o_custkey")
    val li = rd(s, dir, "lineitem")
      .select(col("l_orderkey"),
        (cents(col("l_extendedprice")) * (lit(1000L) - permille(col("l_discount")))).as("rev"))
    li.join(ord.join(broadcast(cust), col("o_custkey") === col("c_custkey")),
        col("l_orderkey") === col("o_orderkey"))
      .groupBy("l_orderkey")
      .agg(sum(col("rev")).as("rev_micros"), count(lit(1)).as("n_lines"))
      .orderBy(col("rev_micros").desc, col("l_orderkey"))
      .limit(10)
  }

  /** Region revenue (TPC-H Q5 shape): star join fact⋈orders⋈customer⋈
    * nation⋈region with all dims broadcast. */
  def q5RegionRevenue(s: SparkSession, dir: String): DataFrame = {
    val li = rd(s, dir, "lineitem").select(col("l_orderkey"),
      (cents(col("l_extendedprice")) * (lit(1000L) - permille(col("l_discount")))).as("rev"))
    val ord = rd(s, dir, "orders").select("o_orderkey", "o_custkey")
    val cust = rd(s, dir, "customer").select("c_custkey", "c_nationkey")
    val nat = rd(s, dir, "nation").select("n_nationkey", "n_name", "n_regionkey")
    val reg = rd(s, dir, "region").select("r_regionkey", "r_name")
    li.join(ord, col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(cust), col("o_custkey") === col("c_custkey"))
      .join(broadcast(nat), col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(reg), col("n_regionkey") === col("r_regionkey"))
      .groupBy("r_name", "n_name")
      .agg(sum(col("rev")).as("rev_micros"), count(lit(1)).as("n_lines"))
      .orderBy("r_name", "n_name")
  }

  /** Top-3 orders per customer by price (window row_number, the
    * limit-per-group pattern of reference op P2 generalized). */
  def qWindowTopN(s: SparkSession, dir: String): DataFrame = {
    val ord = rd(s, dir, "orders")
      .select(col("o_custkey"), col("o_orderkey"), cents(col("o_totalprice")).as("price_cents"))
    val w = Window.partitionBy("o_custkey").orderBy(col("price_cents").desc, col("o_orderkey"))
    ord.withColumn("rk", row_number().over(w)).where(col("rk") <= 3)
      .orderBy("o_custkey", "rk")
  }

  /** Hourly tumbling-window aggregation over the events stream table
    * (batch twin of the Structured Streaming windowed agg). */
  def qEventsHourly(s: SparkSession, dir: String): DataFrame =
    rd(s, dir, "events")
      .groupBy(date_format(col("ts"), "yyyy-MM-dd HH:00").as("hour"), col("event_type"))
      .agg(count(lit(1)).as("n"), sum(permille(col("value"))).as("value_permille"))
      .orderBy("hour", "event_type")

  /** WATERMARKED hourly aggregation, batch REPLAY twin: arrival order
    * is event time plus a deterministic 0-2h per-event jitter (an
    * out-of-order log — the testdata's event_id order is fully sorted,
    * which would make the late path vacuous); the watermark is the
    * running max event time of prior arrivals minus 1 hour, and a row
    * older than the watermark at its arrival is LATE and dropped —
    * exactly Structured Streaming's `withWatermark("ts","1 hour")`
    * semantics, replayed losslessly so the DuckDB oracle can verify
    * the late-drop rule (~31% of sf0.01 rows drop).
    *
    * ==== WARNING — verification twin ONLY, never compose into a
    * production pipeline ====
    * The `Window.orderBy(arr, event_id)` below is GLOBAL: replaying a
    * global watermark is inherently sequential (every arrival's
    * horizon depends on every prior arrival), so this plan runs the
    * whole log through ONE task. That is acceptable only because this
    * query exists to let DuckDB replay Structured Streaming's
    * late-drop rule losslessly at oracle scale. The 10^12-row path for
    * these semantics is the streaming query itself
    * ([[graft.streaming.ExtractStream.eventsHourly]] with
    * `withWatermark`), whose state is partitioned by group key. */
  def qEventsHourlyLate(s: SparkSession, dir: String): DataFrame = {
    val ev = rd(s, dir, "events")
      .select(col("event_id"), col("ts"), col("event_type"), col("value"))
      .withColumn("tms", unix_millis(col("ts").cast("timestamp")))
      .withColumn("arr", col("tms") + pmod(col("event_id") * lit(2654435761L), lit(7200000L)))
    val w = Window.orderBy("arr", "event_id").rowsBetween(Window.unboundedPreceding, -1)
    ev.withColumn("hor", max(col("tms")).over(w) - lit(3600000L))
      .where(col("hor").isNull || col("tms") >= col("hor"))
      .groupBy(date_format(col("ts"), "yyyy-MM-dd HH:00").as("hour"), col("event_type"))
      .agg(count(lit(1)).as("n"), sum(permille(col("value"))).as("value_permille"))
      .orderBy("hour", "event_type")
  }

  /** Sessionization: per-user session count with a 30-minute
    * inactivity gap (lag + cumulative flag — the standard formulation). */
  def qEventsSessions(s: SparkSession, dir: String): DataFrame = {
    val ev = rd(s, dir, "events")
      .select(col("user_id"),
        unix_millis(col("ts").cast("timestamp")).as("tms"), col("event_id"))
    val w = Window.partitionBy("user_id").orderBy("tms", "event_id")
    ev.withColumn("prev", lag(col("tms"), 1).over(w))
      .withColumn("new_sess",
        when(col("prev").isNull || col("tms") - col("prev") > 1800000L, 1L).otherwise(0L))
      .groupBy("user_id")
      .agg(sum(col("new_sess")).as("sessions"), count(lit(1)).as("events"))
      .orderBy("user_id")
  }

  /** Sessionization via Spark's native `session_window` (dynamic-gap
    * merging windows — the same operator the streaming face uses in
    * [[graft.streaming.ExtractStream.eventsSessions]]): one row per
    * (user, session) with start/end/events. Merge rule pinned by the
    * DuckDB gaps-and-islands twin: two events fuse iff their gap is
    * STRICTLY below 30 minutes (window end is exclusive), and the
    * session end is last-event + gap. Times emitted as epoch millis
    * (exact integers in both engines). */
  def qEventsSessionWindows(s: SparkSession, dir: String): DataFrame =
    rd(s, dir, "events")
      .select(col("user_id"), col("ts").cast("timestamp").as("ts"))
      .groupBy(session_window(col("ts"), "30 minutes"), col("user_id"))
      .agg(count(lit(1)).as("events"))
      .select(col("user_id"),
        unix_millis(col("session_window.start")).as("session_start_ms"),
        unix_millis(col("session_window.end")).as("session_end_ms"),
        col("events"))
      .orderBy("user_id", "session_start_ms")

  /** Hierarchical totals via ROLLUP (absent from the reference —
    * SURVEY.md §2.7 — present here for analytic completeness). */
  def qRollup(s: SparkSession, dir: String): DataFrame =
    rd(s, dir, "lineitem")
      .rollup("l_returnflag", "l_linestatus")
      .agg(count(lit(1)).as("n"), sum(round(col("l_quantity")).cast("long")).as("sum_qty"))
      .select(coalesce(col("l_returnflag"), lit("ALL")).as("rf"),
        coalesce(col("l_linestatus"), lit("ALL")).as("ls"), col("n"), col("sum_qty"))
      .orderBy("rf", "ls")

  /** Exact per-group order statistics via window rank — the lower
    * median of order price per priority, deterministic in both engines
    * (no percentile-interpolation semantics to disagree on: rank
    * (n+1)/2 of the (price, orderkey)-sorted group). */
  def qMedian(s: SparkSession, dir: String): DataFrame = {
    val ord = rd(s, dir, "orders")
      .select(col("o_orderpriority"), col("o_orderkey"), cents(col("o_totalprice")).as("price_cents"))
    val w = Window.partitionBy("o_orderpriority").orderBy(col("price_cents"), col("o_orderkey"))
    ord.withColumn("rk", row_number().over(w))
      .withColumn("n", count(lit(1)).over(Window.partitionBy("o_orderpriority")))
      .where(col("rk") === floor((col("n") + lit(1)) / lit(2))) // integer lower-median rank
      .select(col("o_orderpriority"), col("price_cents").as("median_cents"), col("n"))
      .orderBy("o_orderpriority")
  }

  /** Full CUBE over (returnflag, linestatus) — every grouping-set
    * combination plus grand total (extends [[qRollup]]'s hierarchy to
    * the cross-product; absent from the reference, SURVEY.md §2.7). */
  def qCube(s: SparkSession, dir: String): DataFrame =
    rd(s, dir, "lineitem")
      .cube("l_returnflag", "l_linestatus")
      .agg(count(lit(1)).as("n"), sum(round(col("l_quantity")).cast("long")).as("sum_qty"))
      .select(coalesce(col("l_returnflag"), lit("ALL")).as("rf"),
        coalesce(col("l_linestatus"), lit("ALL")).as("ls"), col("n"), col("sum_qty"))
      .orderBy("rf", "ls")

  /** Pivot: per-user event counts fanned into one column per event
    * type (fixed vocabulary so the twin is plain conditional
    * aggregation — the relational core of PIVOT). */
  def qPivot(s: SparkSession, dir: String): DataFrame = {
    val types = Seq("click", "error", "purchase", "signup", "view")
    rd(s, dir, "events")
      .groupBy("user_id")
      .pivot("event_type", types)
      .agg(count(lit(1)))
      .na.fill(0L, types)
      .orderBy("user_id")
  }

  /** Set operation: customers active before 1996 EXCEPT those still
    * active after 2000 (churned-customer detection shape). */
  def qSetOps(s: SparkSession, dir: String): DataFrame = {
    val ord = rd(s, dir, "orders")
    val early = ord.where(col("o_orderdate") < lit("1996-01-01").cast("timestamp"))
      .select(col("o_custkey")).distinct()
    val late = ord.where(col("o_orderdate") >= lit("2000-01-01").cast("timestamp"))
      .select(col("o_custkey")).distinct()
    early.except(late).orderBy("o_custkey")
  }

  /** Orders priced above their priority group's average — the
    * correlated-scalar-subquery shape, decorrelated as a window
    * (integer-exact: price·n > group total avoids float averages). */
  def qAboveGroupAvg(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("o_orderpriority")
    rd(s, dir, "orders")
      .select(col("o_orderkey"), col("o_orderpriority"), cents(col("o_totalprice")).as("price_cents"))
      .withColumn("grp_total", sum(col("price_cents")).over(w))
      .withColumn("grp_n", count(lit(1)).over(w))
      .where(col("price_cents") * col("grp_n") > col("grp_total"))
      .select("o_orderkey", "o_orderpriority", "price_cents")
      .orderBy("o_orderkey")
  }

  /** As-of join: every click event enriched with the user's most
    * recent prior (or simultaneous) signup event — the point-in-time
    * join Spark lacks as a built-in, one shuffle+sort (see
    * [[graft.operators.AsOfJoin]]); DuckDB's native ASOF JOIN is the
    * oracle twin. */
  def qAsof(s: SparkSession, dir: String): DataFrame = {
    val ev = rd(s, dir, "events")
      .select(col("event_id"), col("user_id"),
        unix_millis(col("ts").cast("timestamp")).as("tms"), col("event_type"))
    val clicks = ev.where(col("event_type") === "click").drop("event_type")
    // unique right rows per (user, time): deterministic tie-break
    val signups = ev.where(col("event_type") === "signup")
      .groupBy("user_id", "tms").agg(max("event_id").as("signup_id"))
    graft.operators.AsOfJoin.asOf(clicks, signups,
        keys = Seq("user_id"), timeCol = "tms", payloadCols = Seq("signup_id"))
      .orderBy("event_id")
  }

  /** AS-OF join, MULTI-payload + null-payload witness: same shape as
    * [[qAsof]] but the right side carries TWO payload columns, one of
    * which (`k_val`) is deterministically NULL on every third signup.
    * This is the oracle pin for [[graft.operators.AsOfJoin]]'s
    * single-struct payload fill: with per-column fill, a left row
    * whose latest right row has k_val NULL would backfill k_val from
    * an OLDER right row (mixing values from different right rows) —
    * visible here as a hash mismatch vs DuckDB's native ASOF JOIN,
    * which [[qAsof]]'s single never-null payload could not detect. */
  def qAsofMulti(s: SparkSession, dir: String): DataFrame = {
    val ev = rd(s, dir, "events")
      .select(col("event_id"), col("user_id"),
        unix_millis(col("ts").cast("timestamp")).as("tms"), col("event_type"))
    val clicks = ev.where(col("event_type") === "click").drop("event_type")
    val signups = ev.where(col("event_type") === "signup")
      .groupBy("user_id", "tms").agg(max("event_id").as("signup_id"))
      .withColumn("k_val",
        when(col("signup_id") % 3 === 0, lit(null).cast("long"))
          .otherwise(col("signup_id") % 97))
    graft.operators.AsOfJoin.asOf(clicks, signups,
        keys = Seq("user_id"), timeCol = "tms", payloadCols = Seq("signup_id", "k_val"))
      .orderBy("event_id")
  }

  /** Semi-structured extraction: JSON props column → typed field,
    * aggregated per event type. */
  def qEventsJson(s: SparkSession, dir: String): DataFrame =
    rd(s, dir, "events")
      .select(col("event_type"), get_json_object(col("props"), "$.k").cast("long").as("k"))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"), sum(col("k")).as("sum_k"), max(col("k")).as("max_k"))
      .orderBy("event_type")

  // ===================================================================
  // Training-data pipeline: dedup / similarity / text analysis
  // ===================================================================

  /** documents ∪ mutated copies (doc_id+100000, first token dropped) —
    * the deterministic near-duplicate testbed used by the dedup
    * queries; same construction in the DuckDB oracle. */
  private[spark] def docsPlus(s: SparkSession, dir: String): DataFrame = {
    val d = rd(s, dir, "documents").select("doc_id", "text")
    d.unionAll(d.select((col("doc_id") + 100000).as("doc_id"),
      expr("substring(text, instr(text, ' ') + 1)").as("text")))
  }

  /** Exact dedup by content fingerprint — groups with ≥2 members. */
  def dedupExact(s: SparkSession, dir: String): DataFrame =
    Dedup.exactGroups(docsPlus(s, dir))
      .where(col("dup_count") >= 2)
      .orderBy("fp")

  /** MinHash+LSH candidate pairs (8 hashes, 4 bands × 2 rows). */
  def dedupMinhashLsh(s: SparkSession, dir: String): DataFrame =
    Dedup.minhashLshPairs(docsPlus(s, dir), shingleN = 3, numHashes = 8, bands = 4)
      .orderBy("a_id", "b_id")

  /** Linear star-pairs LSH variant (the 10^12-doc path — all-pairs
    * output is quadratic in duplicate-cluster size). */
  def dedupMinhashStar(s: SparkSession, dir: String): DataFrame =
    Dedup.minhashLshStarPairs(docsPlus(s, dir), shingleN = 3, numHashes = 8, bands = 4)
      .orderBy("a_id", "b_id")

  /** Exact 3-gram Jaccard pairs ≥ 0.5 (permille-integer). */
  def dedupJaccard(s: SparkSession, dir: String): DataFrame =
    Dedup.ngramJaccardPairs(docsPlus(s, dir), shingleN = 3, minPermille = 500)
      .orderBy("a_id", "b_id")

  /** DF-capped 3-gram Jaccard (the 10^12-doc path): shingles with
    * document frequency > 10 are dropped before the self-join, bounding
    * per-shingle join fan-out at df² ≤ 100 rows — the hot-shingle
    * defense the uncapped variant lacks. Jaccard is exact over the
    * surviving shingle sets. */
  def dedupJaccardCapped(s: SparkSession, dir: String): DataFrame =
    Dedup.ngramJaccardPairs(docsPlus(s, dir), shingleN = 3, minPermille = 500, maxDf = 10)
      .orderBy("a_id", "b_id")

  /** Asymmetric CONTAINMENT pairs ≥ 0.8 over the near-duplicate
    * testbed: the mutated copies (first token dropped) are ~fully
    * contained in their originals — high containment, while the
    * symmetric Jaccard of the same pairs can sit lower. One ordered
    * row per direction. */
  def dedupContainment(s: SparkSession, dir: String): DataFrame =
    Dedup.ngramContainmentPairs(docsPlus(s, dir), shingleN = 3, minPermille = 800)
      .orderBy("src_id", "dst_id")

  /** KMV (bottom-k minimum values) DISTINCT-COUNT sketch vs the exact
    * count, per doc_id-bucket: 64 smallest distinct 52-bit md5-prefix
    * hashes of the tokens (native mergeable aggregate, O(k) memory in
    * every buffer) → integer estimate floor(63·2^52 / h_(64)); the
    * DuckDB twin recomputes the identical k values and estimate. The
    * bounded-memory cardinality operator for 10^12-row groups — the
    * exact column is here to make the accuracy visible, not part of
    * the scale path. */
  def textDistinctKmv(s: SparkSession, dir: String): DataFrame = {
    val k = 64
    val num = 63L * (1L << 52)
    rd(s, dir, "documents")
      .select((col("doc_id") % 8).as("bucket"), explode(split(col("text"), " ")).as("t"))
      .select(col("bucket"), col("t"),
        conv(substring(md5(col("t")), 1, 13), 16, 10).cast("long").as("hv"))
      .groupBy("bucket")
      .agg(TF.bottomKDistinct(col("hv"), k).as("kmv"),
        countDistinct(col("t")).as("exact_distinct"))
      .select(col("bucket"),
        when(size(col("kmv")) < k, size(col("kmv")).cast("long"))
          .otherwise(expr(s"$num div element_at(kmv, $k)")).as("kmv_estimate"),
        col("exact_distinct"))
      .orderBy("bucket")
  }

  /** INCREMENTAL exact dedup — the daily-increment shape: a NEW batch
    * deduplicates against the already-ingested corpus without pairwise
    * rescans. The existing side contributes only its DISTINCT
    * fingerprint projection (at 10^12 docs this is the fp index a real
    * pipeline maintains incrementally, not a corpus scan per batch);
    * the incoming batch anti-joins on fp, then keep-min dedups within
    * itself. Here: docs < 250 are "already ingested", the docsPlus
    * testbed rows ≥ 250 (mutated near-dup copies included) arrive as
    * the new batch. */
  def dedupIncremental(s: SparkSession, dir: String): DataFrame = {
    val existingFp = rd(s, dir, "documents")
      .where(col("doc_id") < 250)
      .select(TF.fingerprint(col("text")).as("fp")).distinct()
    val incoming = docsPlus(s, dir).where(col("doc_id") >= 250)
      .select(col("doc_id"), TF.fingerprint(col("text")).as("fp"))
    incoming.join(existingFp, Seq("fp"), "left_anti")
      .groupBy("fp").agg(min("doc_id").as("doc_id"))
      .select("doc_id", "fp")
      .orderBy("doc_id")
  }

  /** Bloom-membership incremental dedup flags, oracle-pinned: the
    * corpus collapses to a 4096-bit position set; batch docs (true
    * duplicates via doc_id%7, non-duplicate shifted copies via
    * doc_id%11) are flagged iff all 3 salted-hash bits are occupied.
    * The DuckDB twin replays the md5-positional bit layout, so the
    * deterministic FALSE POSITIVES (bloom_hit=1, exact_dup=0) match
    * row for row — the witness that the one-sided-error contract
    * holds. Runs the opt-in [[Dedup.bloomIncrementalExact]] witness
    * path; the production pre-filter ([[Dedup.bloomIncrementalFlags]])
    * never joins the corpus fingerprint set at all. */
  def dedupBloomIncremental(s: SparkSession, dir: String): DataFrame = {
    val docs = rd(s, dir, "documents").select("doc_id", "text")
    val batch = docs.where(col("doc_id") % 7 === 0)
      .unionAll(docs.where(col("doc_id") % 11 === 0)
        .select((col("doc_id") + 100000).as("doc_id"),
          expr("substring(text, instr(text, ' ') + 1)").as("text")))
    Dedup.bloomIncrementalExact(docs, batch).orderBy("doc_id")
  }

  /** SimHash near-dup pairs (32-bit sketch, hamming ≤ 3, 8-bit block
    * index — no all-pairs join). */
  def dedupSimhash(s: SparkSession, dir: String): DataFrame =
    Dedup.simhashPairs(docsPlus(s, dir), maxHamming = 3)
      .orderBy("a_id", "b_id")

  /** Linear-output SimHash star pairs: members pair only with their
    * 8-bit-block bucket's canonical member (canon side broadcasts —
    * ≤1024 rows), first-match dedup — the giant-cluster scale path. */
  def dedupSimhashStar(s: SparkSession, dir: String): DataFrame =
    Dedup.simhashStarPairs(docsPlus(s, dir), maxHamming = 3)
      .orderBy("a_id", "b_id")

  /** 64-bit SimHash near-dup pairs (two 32-bit halves, 16-bit block
    * index — the dense-corpus scale path: 15× fewer candidate probes
    * than the 32-bit index at sf0.1 and far more discriminative
    * matches). */
  def dedupSimhash64(s: SparkSession, dir: String): DataFrame =
    Dedup.simhash64Pairs(docsPlus(s, dir), maxHamming = 3)
      .orderBy("a_id", "b_id")

  /** Embedding near-dup pairs over the perturbed-copy testbed
    * ([[embeddingTestbed]]): sign-LSH bucketed, exact integer cosine
    * ≥ 0.80 test. */
  def dedupEmbedding(s: SparkSession, dir: String): DataFrame =
    Dedup.embeddingNearDupPairsQ(embeddingTestbed(s, dir).withColumn("tbl", lit(0)), tPct = 80)
      .orderBy("a_id", "b_id")

  /** Linear-output embedding near-dup: same testbed as
    * [[dedupEmbedding]], star pattern — each vector verified only
    * against its bucket's canonical member (canon side broadcasts). */
  def dedupEmbeddingStar(s: SparkSession, dir: String): DataFrame =
    Dedup.embeddingNearDupStarPairsQ(embeddingTestbed(s, dir), tPct = 80)
      .orderBy("a_id", "b_id")

  /** The embeddings ∪ perturbed copies (vec_id+100000, first component
    * zeroed, the original's sign-LSH bucket) as `(vec_id, bucket, qv)`,
    * which both embedding near-dup queries pair. */
  private def embeddingTestbed(s: SparkSession, dir: String): DataFrame = {
    val base = rd(s, dir, "embeddings").select(col("vec_id"),
      VF.signBucket(col("embedding"), 4).as("bucket"),
      VF.quantize(col("embedding")).as("qv"))
    val mut = base.select((col("vec_id") + 100000).as("vec_id"), col("bucket"),
      transform(col("qv"), (x, i) => when(i === 0, lit(0L)).otherwise(x)).as("qv"))
    base.unionAll(mut)
  }

  /** END-TO-END cleaning pipeline over the near-duplicate testbed —
    * the composition a training-data user actually runs: quality
    * filter (heuristic bucket ≥ 2) → MinHash-LSH star pairs →
    * connected components → keep each cluster's min doc_id (docs in
    * no pair keep themselves). Output: the surviving representative
    * corpus. Every stage is one of this library's operators; the
    * DuckDB twin replays the whole composition. */
  def pipelineCleanCorpus(s: SparkSession, dir: String): DataFrame = {
    val quality = docsPlus(s, dir).where(TF.qualityBucket(col("text")) >= 2)
    val comp = starComponents(quality)
    quality.join(comp, Seq("doc_id"), "left")
      .where(coalesce(col("component"), col("doc_id")) === col("doc_id"))
      .select(col("doc_id"))
      .orderBy("doc_id")
  }

  /** COMPOSED CURATION pipeline — the full representative-selection
    * shape real corpus curation runs, three operators chained:
    * (1) near-dup clusters (MinHash-LSH star pairs → components) are
    * resolved to their BEST member ([[Dedup.keepBestPerCluster]],
    * quality-then-token-count score); (2) kept representatives pass
    * the quality gate; (3) each survivor carries its RESIDUAL
    * exact-substring duplication against the whole corpus
    * ([[Dedup.dupSpanCoverage]]) — the provenance column downstream
    * span-cutting consumes. Every stage is the splittable shape its
    * operator documents (struct-max agg, map-side quality, sparse
    * span sweep); the joins key on doc_id. The DuckDB twin replays
    * all three stages from the shared CTE chains. */
  def pipelineCurate(s: SparkSession, dir: String): DataFrame = {
    val docs = docsPlus(s, dir)
    val best = Dedup.keepBestPerCluster(docs, starComponents(docs), keepBestScore)
    val kept = docs
      .join(best.select(col("keep_id").as("doc_id"), col("cluster"),
        col("best_score")), Seq("doc_id"))
      .where(TF.qualityBucket(col("text")) >= 2)
    val cov = Dedup.dupSpanCoverage(docs, minTokens = 15, maxPermille = 300)
      .select("doc_id", "n_tokens", "dup_permille")
    kept.join(cov, Seq("doc_id"))
      .select("doc_id", "cluster", "best_score", "n_tokens", "dup_permille")
      .orderBy("doc_id")
  }

  /** CORPUS-HEALTH REPORT, one row per language — the summary a
    * curation run publishes with its output (dataset cards and the
    * CCNet/RefinedWeb-style per-shard stats tables): document and
    * token counts, exact-duplicate document count (fingerprint occurs
    * ≥2 corpus-wide) and the quality-gate pass count, all
    * integer-exact. Shape at 100 TB: every per-doc column is map-side
    * (fingerprint/quality/token count are single-pass expressions);
    * one fingerprint aggregation (the inherent dedup shuffle), its
    * ≥2 survivors joined back (the post-dedup minority), then ONE
    * #langs-row aggregation — the corpus text shuffles zero times. */
  def pipelineReport(s: SparkSession, dir: String): DataFrame = {
    val docs = rd(s, dir, "documents").select("doc_id", "lang", "text")
    val perDoc = docs.select(col("doc_id"), col("lang"),
      TF.tokenCount(col("text")).cast("long").as("toks"),
      TF.qualityBucket(col("text")).as("q"),
      TF.fingerprint(col("text")).as("fp"))
    val dupFp = perDoc.groupBy("fp").agg(count(lit(1)).as("n"))
      .where(col("n") >= 2)
      .select(col("fp"), lit(1L).as("is_dup"))
    perDoc.join(dupFp, Seq("fp"), "left")
      .groupBy("lang")
      .agg(count(lit(1)).as("n_docs"),
        sum(col("toks")).as("n_tokens"),
        sum(coalesce(col("is_dup"), lit(0L))).as("n_dup_docs"),
        sum(when(col("q") >= 2, 1L).otherwise(0L)).as("n_quality_ge2"))
      .orderBy("lang")
  }

  /** Connected components over the MinHash-LSH star pairs — the
    * keep-min union pass of the dedup pipeline (3 BSP min-propagation
    * rounds, deterministic; the DuckDB twin replays the same rounds). */
  def dedupComponents(s: SparkSession, dir: String): DataFrame =
    starComponents(docsPlus(s, dir)).orderBy("doc_id")

  /** Three min-propagation rounds over the MinHash-LSH star pairs of
    * `docs`: the clusters the components, keep-best and pipeline queries
    * share. checkpointRounds: identical labels, but the star-pair
    * generation materializes once instead of re-deriving per BSP round
    * (measured 3.24 → 2.05 s on the components query alone at sf0.1). */
  private def starComponents(docs: DataFrame): DataFrame =
    Dedup.components(Dedup.minhashLshStarPairs(docs, shingleN = 3, numHashes = 8, bands = 4),
      iterations = 3, checkpointRounds = true)

  /** Connected components via ALTERNATING LARGE-STAR/SMALL-STAR rounds
    * over the same MinHash-LSH star edges as [[dedupComponents]] — the
    * O(log n)-round scale path (edge set contracts toward min-rooted
    * stars each round, vs min-propagation's O(diameter) rounds over a
    * constant-size edge set). 2 rounds already converge on this
    * testbed (star-pair graphs are near-stars by construction; even 1
    * round matches the fixpoint — measured), so the query runs 2 and
    * its output equals [[dedupComponents]]'s fixpoint; the DuckDB twin
    * replays the identical schedule. The operator's default stays 3 —
    * the round count is the scale knob for high-diameter graphs. */
  def dedupComponentsStar(s: SparkSession, dir: String): DataFrame =
    Dedup.componentsStar(
        Dedup.minhashLshStarPairs(docsPlus(s, dir), shingleN = 3, numHashes = 8, bands = 4),
        rounds = 2)
      .orderBy("doc_id")

  /** Benchmark decontamination over the shifted-copy corpus: the
    * "evaluation set" is every 97th original document; training docs
    * (originals + shifted copies) sharing any 13-gram with it are the
    * removal list. Both the eval docs themselves AND their shifted
    * copies are flagged (the copy shares all interior 13-grams) —
    * exactly the leak class decontamination exists to catch. Plan:
    * eval shingles broadcast; corpus never shuffles
    * ([[Dedup.benchmarkContamination]]). */
  def dedupDecontaminate(s: SparkSession, dir: String): DataFrame =
    Dedup.benchmarkContamination(
        docsPlus(s, dir),
        rd(s, dir, "documents").where(col("doc_id") % 97 === 0).select("doc_id", "text"))
      .orderBy("doc_id")

  /** Content-defined-chunking dedup over the shifted-copy corpus —
    * the workload CDC exists for: every +100000 copy drops its first
    * token, so FIXED-size chunks would misalign over the whole
    * document, while CDC boundaries (local-content function) re-sync
    * at the first boundary token and every later chunk matches
    * verbatim. Output = duplicate chunks (df ≥ 2) with occurrence
    * stats; the DuckDB twin replays hash, boundaries, window and
    * reassembly exactly ([[Dedup.cdcChunkDuplicates]]). */
  def dedupCdcChunks(s: SparkSession, dir: String): DataFrame =
    Dedup.cdcChunkDuplicates(docsPlus(s, dir)).orderBy("chunk_fp")

  /** Exact-substring duplicate SPANS over the shifted-copy corpus —
    * the ExactSubstr criterion (Lee et al. 2022): maximal runs of
    * ≥ 15 tokens whose text recurs anywhere in the corpus, with
    * positions. The +100000 copies drop their first token, so each
    * original/copy pair shares its whole suffix — expect one long
    * run per member (plus any organic repeats); the DuckDB twin
    * replays gram hashing, the position-frequency threshold and the
    * gaps-and-islands merge exactly
    * ([[Dedup.exactSubstringSpans]]). */
  def dedupExactSubstring(s: SparkSession, dir: String): DataFrame =
    Dedup.exactSubstringSpans(docsPlus(s, dir), minTokens = 15)
      .orderBy("doc_id", "start_pos")

  /** KEEP-BEST cluster resolution over the MinHash-LSH near-dup
    * clusters — the representative-selection step real cleaning
    * pipelines run after components (keep the highest-QUALITY member,
    * not the min id): score = quality bucket (×100000) then token
    * count, ties toward the smallest doc_id. Originals beat their
    * first-token-dropped copies on token count, so the kept member is
    * content-determined, and the argmax is a splittable struct-max
    * aggregation, not a per-cluster window
    * ([[Dedup.keepBestPerCluster]]). */
  def dedupKeepBest(s: SparkSession, dir: String): DataFrame = {
    val docs = docsPlus(s, dir)
    Dedup.keepBestPerCluster(docs, starComponents(docs), keepBestScore).orderBy("cluster")
  }

  /** The keep-best score: quality bucket (×100000), then token count. */
  private[graft] def keepBestScore: Column =
    TF.qualityBucket(col("text")).cast("long") * 100000L + size(split(col("text"), " "))

  /** Per-doc duplicated-token coverage from the exact-substring spans
    * — interval-union length of each doc's maximal duplicated runs,
    * as a permille of its token count, with the ≤300‰ keep flag
    * ([[Dedup.dupSpanCoverage]]). Every +100000 copy shares its whole
    * suffix with its original, so both members of a pair report
    * near-total coverage while organic docs report 0. */
  def textDupCoverage(s: SparkSession, dir: String): DataFrame =
    Dedup.dupSpanCoverage(docsPlus(s, dir), minTokens = 15, maxPermille = 300)
      .orderBy("doc_id")

  /** Connected components on a HIGH-DIAMETER graph — chains of up to
    * 32 consecutive doc_ids — where [[Dedup.componentsStar]]'s
    * O(log n) round count actually BINDS: 5 alternating rounds label
    * a diameter-31 chain that per-hop min-propagation needs 31 BSP
    * rounds for (the near-star graphs of [[dedupComponentsStar]]
    * converge in 1). Edge construction is a projection + semi-join
    * existence check — no window, no global sort, scales as a plain
    * equi-join; the DuckDB twin replays the identical 5-round
    * schedule. */
  def dedupComponentsStarChain(s: SparkSession, dir: String): DataFrame =
    Dedup.componentsStar(docChains(rd(s, dir, "documents")), rounds = 5).orderBy("doc_id")

  /** The diameter-31 chain graph both chain queries label: an edge
    * (i, i+1) for every present doc_id pair inside each 32-id block of
    * `docs`. */
  private[graft] def docChains(docs: DataFrame): DataFrame = {
    val ids = docs.select(col("doc_id"))
    val cand = ids.where(col("doc_id") % 32 =!= 31)
      .select(col("doc_id").as("a_id"), (col("doc_id") + 1).as("b_id"))
    cand.join(ids.select(col("doc_id").as("b_id")), Seq("b_id"), "left_semi")
      .select("a_id", "b_id")
  }

  /** CONVERGENCE-ADAPTIVE components over the same diameter-31 chain
    * graph as [[dedupComponentsStarChain]] — the production shape when
    * the graph's diameter is unknown:
    * [[Dedup.componentsStarAdaptive]] runs large-star/small-star
    * rounds until the edge set reaches its fixpoint (a converged
    * min-rooted star forest reproduces itself exactly) instead of a
    * caller-guessed schedule, and SURFACES the data-dependent round
    * count as a `rounds_used` output column — the lineage/metrics
    * contract the fixed-round twin can't carry. On this chain the
    * schedule is 5 productive rounds + 1 confirming no-op = 6; the
    * DuckDB twin replays the rounds AND detects the first
    * round-over-round fixpoint with the same count + set-difference
    * probes, so `rounds_used` itself is oracle-checked, not asserted. */
  def dedupComponentsStarAdaptive(s: SparkSession, dir: String): DataFrame = {
    val (labels, rounds) = Dedup.componentsStarAdaptive(docChains(rd(s, dir, "documents")), maxRounds = 8)
    labels.withColumn("rounds_used", lit(rounds)).orderBy("doc_id")
  }

  /** MinHash CLUSTER signatures: element-wise min of member signatures
    * per bucket — the signature-merge that lets re-clustering run over
    * cluster representatives instead of members (custom ArrayMinAgg
    * aggregate: built-ins can't express element-wise array min with
    * map-side combine at arbitrary signature width). The signature
    * array is projected to an md5 of its joined elements so the
    * driver's pandas hash-compare sees a scalar column (array-typed
    * outputs are unhashable there); the md5 pins every element. */
  def dedupClusterSigs(s: SparkSession, dir: String): DataFrame =
    rd(s, dir, "documents")
      // cheap equivalent of mh.isNotNull (null ⟺ < 3 tokens): keeps the
      // interpreted signature expression single-evaluation per row
      .where(size(split(col("text"), " ")) >= 3)
      .select((col("doc_id") % 16).as("bucket"), TF.minhashSigs(col("text"), 3, 8).as("mh"))
      .groupBy("bucket")
      .agg(TF.arrayMinAgg(col("mh")).as("sig_arr"))
      .select(col("bucket"), md5(array_join(col("sig_arr"), "|")).as("cluster_sig"))
      .orderBy("bucket")

  /** Brute-force top-5 neighbors by exact integer dot product for the
    * first 8 vectors (the ANN correctness baseline). */
  def simTopkBrute(s: SparkSession, dir: String): DataFrame = {
    val emb = rd(s, dir, "embeddings")
    Similarity.bruteForceTopK(emb.where(col("vec_id") < 8), emb, k = 5)
      .orderBy("query_id", "rnk")
  }

  /** Sign-LSH-bucketed top-5 (the scale path: per-bucket search). */
  def simTopkLsh(s: SparkSession, dir: String): DataFrame = {
    val emb = rd(s, dir, "embeddings")
    Similarity.lshTopK(emb.where(col("vec_id") < 8), emb, k = 5, lshBits = 4)
      .orderBy("query_id", "rnk")
  }

  /** Multi-table LSH top-5: two independent bucket tables (dims 1-4 and
    * 5-8) — recall recovery for pairs straddling one table's
    * hyperplanes, still never all-pairs. */
  def simTopkLshMulti(s: SparkSession, dir: String): DataFrame = {
    val emb = rd(s, dir, "embeddings")
    Similarity.lshTopKMulti(emb.where(col("vec_id") < 8), emb, k = 5,
        lshBits = 4, tables = 2)
      .orderBy("query_id", "rnk")
  }

  /** IVF (inverted-file) top-5: items partitioned into inverted lists
    * by nearest deterministic coarse centroid (exact integer L2²);
    * each query probes its 2 nearest of 8 lists. */
  def simTopkIvf(s: SparkSession, dir: String): DataFrame = {
    val emb = rd(s, dir, "embeddings")
    Similarity.ivfTopK(emb.where(col("vec_id") < 8), emb, k = 5,
        numCentroids = 8, nProbe = 2)
      .orderBy("query_id", "rnk")
  }

  /** IVF with LEARNED centroids: 2 deterministic Lloyd iterations
    * (integer floor-of-mean centroids, map-side nearest-centroid
    * assignment — no n×C window) from the same seeds; the DuckDB twin
    * replays the exact iterations. */
  def simTopkIvfKmeans(s: SparkSession, dir: String): DataFrame = {
    val emb = rd(s, dir, "embeddings")
    Similarity.ivfTopKKmeans(emb.where(col("vec_id") < 8), emb, k = 5,
        numCentroids = 8, nProbe = 2, iterations = 2)
      .orderBy("query_id", "rnk")
  }

  /** IVF-ADC product-quantization top-5 (Jégou et al. 2011): coarse
    * IVF probe (8 lists, 2 probed) + items stored as 4 subspace CODES
    * (16-codeword deterministic codebooks); queries score via an
    * asymmetric-distance lookup table — no full-width vector at scan
    * time. Exact integer replay in the DuckDB twin. */
  def simTopkPq(s: SparkSession, dir: String): DataFrame = {
    val emb = rd(s, dir, "embeddings")
    Similarity.ivfPqTopK(emb.where(col("vec_id") < 8), emb, k = 5,
        numCentroids = 8, nProbe = 2, numSub = 4, codebookSize = 16)
      .orderBy("query_id", "rnk")
  }

  /** [[simTopkPq]] with LEARNED codebooks: 2 per-subspace Lloyd
    * iterations from the same seeds (integer floor-of-mean codewords,
    * map-side nearest-codeword assignment); the DuckDB twin replays the
    * exact training rounds, so one drifted codeword flips the compare. */
  def simTopkPqKmeans(s: SparkSession, dir: String): DataFrame = {
    val emb = rd(s, dir, "embeddings")
    Similarity.ivfPqTopKKmeans(emb.where(col("vec_id") < 8), emb, k = 5,
        numCentroids = 8, nProbe = 2, numSub = 4, codebookSize = 16,
        iterations = 2)
      .orderBy("query_id", "rnk")
  }

  /** Two-stage retrieval: PQ top-20 shortlist, exact integer dot
    * re-rank to top-5 — recall follows stage 1's recall@20 while the
    * corpus-side cost stays the compressed-code scan. */
  def simTopkPqRerank(s: SparkSession, dir: String): DataFrame = {
    val emb = rd(s, dir, "embeddings")
    Similarity.ivfPqTopKRerank(emb.where(col("vec_id") < 8), emb, k = 5,
        shortlist = 20, numCentroids = 8, nProbe = 2, numSub = 4,
        codebookSize = 16)
      .orderBy("query_id", "rnk")
  }

  /** Per-document text statistics: token counts, stopword/length
    * ratios (permille/centichar integers), quality bucket. */
  def textStats(s: SparkSession, dir: String): DataFrame =
    rd(s, dir, "documents").select(col("doc_id"),
        TF.tokenCount(col("text")).cast("long").as("n_tokens"),
        TF.distinctTokenCount(col("text")).cast("long").as("n_distinct"),
        TF.stopRatioPermille(col("text")).as("stop_pm"),
        TF.meanTokenLenCenti(col("text")).as("tok_len_centi"),
        TF.qualityBucket(col("text")).as("quality"))
      .orderBy("doc_id")

  /** TF-IDF top terms: per document, the 3 highest-scoring tokens by
    * an integer-exact tf-idf (score = floor(tf·10^6 / df) — df is the
    * corpus document frequency; the log-free variant keeps the ranking
    * deterministic across engines). Shape at scale: one explode + two
    * hash aggregations (both with map-side partials), a join on token
    * (df is one row per distinct token), and a final top-3 window that
    * rides Spark's WindowGroupLimit pushdown. */
  def textTfidfTop3(s: SparkSession, dir: String): DataFrame = {
    val tok = rd(s, dir, "documents")
      .select(col("doc_id"), explode(split(col("text"), " ")).as("token"))
    val tf = tok.groupBy("doc_id", "token").agg(count(lit(1)).as("tf"))
    val df = tok.select("doc_id", "token").distinct()
      .groupBy("token").agg(count(lit(1)).as("df"))
    val w = Window.partitionBy("doc_id")
      .orderBy(col("score").desc, col("token"))
    tf.join(df, "token")
      .withColumn("score", floor(col("tf") * lit(1000000L) / col("df")).cast("long"))
      .withColumn("rk", row_number().over(w))
      .where(col("rk") <= 3)
      .select(col("doc_id"), col("rk"), col("token"), col("tf"), col("df"), col("score"))
      .orderBy("doc_id", "rk")
  }

  /** Deterministic STRATIFIED SAMPLING for training-data curation:
    * per-quality-bucket keep rates (q3→100%, q2→50%, q1→10%, q0→1%)
    * applied via a pure hash of doc_id (md5-prefix mod 1000) — no
    * randomness, so the sample is reproducible across runs/engines and
    * task retries are idempotent; entirely map-side (no shuffle before
    * the final ordering). */
  def sampleStratified(s: SparkSession, dir: String): DataFrame = {
    val keepPm = when(col("quality") === 3, 1000)
      .when(col("quality") === 2, 500)
      .when(col("quality") === 1, 100)
      .otherwise(10)
    rd(s, dir, "documents")
      .select(col("doc_id"), TF.qualityBucket(col("text")).as("quality"))
      .withColumn("h", graft.operators.Sampling.permilleHash(col("doc_id")))
      .where(col("h") < keepPm)
      .select("doc_id", "quality", "h")
      .orderBy("doc_id")
  }

  /** Ordered FUNNEL view→click→purchase over the events table
    * ([[graft.operators.Funnel]]): per user the first view, the first
    * click strictly after it, the first purchase strictly after that,
    * and the reached depth — first-qualifying-time semantics, exactly
    * replayed by the DuckDB twin. */
  def qEventsFunnel(s: SparkSession, dir: String): DataFrame = {
    val ev = rd(s, dir, "events")
      .select(col("user_id"), col("event_type"),
        unix_millis(col("ts").cast("timestamp")).as("tms"))
    graft.operators.Funnel.funnel(ev, Seq("view", "click", "purchase"))
      .orderBy("user_id")
  }

  /** [[qEventsFunnel]] with a 24-hour CONVERSION WINDOW — the
    * standard product-analytics parameter: each stage must land
    * within `maxGap` of the previous one (first stage unbounded),
    * first-qualifying-time preserved under the constraint. On the
    * testbed corpus the window produces a real drop-off curve
    * (90/35/25 users at depths 1/2/3 at sf0.01 vs everyone converting
    * unbounded), exactly replayed by the DuckDB twin. */
  def qEventsFunnelWindow(s: SparkSession, dir: String): DataFrame = {
    val ev = rd(s, dir, "events")
      .select(col("user_id"), col("event_type"),
        unix_millis(col("ts").cast("timestamp")).as("tms"))
    graft.operators.Funnel.funnel(ev, Seq("view", "click", "purchase"),
        maxGapMs = Some(86400000L))
      .orderBy("user_id")
  }

  /** WEEKLY cohort retention over the events table
    * ([[graft.operators.Funnel.retention]]): users cohorted by the
    * epoch-week of their first event, each (cohort, period_offset)
    * row counting users active that many weeks later — floor-integer
    * throughout, exactly replayed by the DuckDB twin. */
  def qEventsRetention(s: SparkSession, dir: String): DataFrame = {
    val ev = rd(s, dir, "events")
      .select(col("user_id"), unix_millis(col("ts").cast("timestamp")).as("tms"))
    graft.operators.Funnel.retention(ev, periodMs = 604800000L)
      .orderBy("cohort", "period_offset")
  }

  /** Integer fixed-point PAGERANK (3 damped rounds) over a
    * deterministic synthetic link graph on the documents table: each
    * doc links to (7·id+3) mod n (a permutation — keeps the graph
    * strongly connected-ish) and to (id²+1) mod n (quadratic — skewed
    * in-degree, some nodes orphaned), self-loops dropped. Micro-unit
    * ranks with floor arithmetic ([[graft.operators.Graphs]]), so the
    * DuckDB twin replays all three rounds to the exact integer. */
  def graphPagerank(s: SparkSession, dir: String): DataFrame = {
    val docs = rd(s, dir, "documents").select("doc_id")
    // the synthetic-edge modulus n = |docs| stays IN the plan (a
    // broadcast one-row count frame) — no eager driver-side action at
    // query-construction time, and one corpus scan feeds both edge
    // families via explode instead of a two-scan union
    val nDf = docs.agg(count(lit(1)).as("n"))
    val edges = docs.crossJoin(broadcast(nDf))
      .select(col("doc_id").as("src"),
        explode(array((col("doc_id") * 7 + 3) % col("n"),
          (col("doc_id") * col("doc_id") + 1) % col("n"))).as("dst"))
      .where(col("src") =!= col("dst"))
    graft.operators.Graphs.pageRank(edges, iterations = 3)
      .orderBy("id")
  }

  /** CONVERGENCE-ADAPTIVE PageRank with DANGLING redistribution over
    * a sink-bearing variant of the synthetic graph (ids % 5 = 0 emit
    * no edges — 20% pure sinks, so the dangling term moves real
    * mass): rounds run to an exact integer fixpoint or the
    * maxIterations=6 cap, `rounds_used` on every row; the DuckDB twin
    * replays all 6 rounds and detects the fixpoint with the identical
    * count + set-difference probes. */
  def graphPagerankAdaptive(s: SparkSession, dir: String): DataFrame = {
    val docs = rd(s, dir, "documents").select("doc_id")
    val nDf = docs.agg(count(lit(1)).as("n"))
    val edges = docs.crossJoin(broadcast(nDf))
      .where(col("doc_id") % 5 =!= 0)
      .select(col("doc_id").as("src"),
        explode(array((col("doc_id") * 7 + 3) % col("n"),
          (col("doc_id") * col("doc_id") + 1) % col("n"))).as("dst"))
      .where(col("src") =!= col("dst"))
    val (ranks, used) = graft.operators.Graphs.pageRankAdaptive(edges,
      maxIterations = 6, redistributeDangling = true)
    ranks.withColumn("rounds_used", lit(used)).orderBy("id")
  }

  /** TEMPERATURE (α = 1/2) mixture sampling by language — the
    * multilingual corpus-balancing rule (Conneau et al. 2020 §3.1):
    * the dominant language is downsampled so kept counts follow
    * n_lang^(1/2); the smallest language is kept whole. The keep
    * predicate is exact integer (h²·n_g < n_min·10⁶ — no sqrt), so
    * the DuckDB twin replays the identical kept set. */
  def sampleTemperature(s: SparkSession, dir: String): DataFrame =
    graft.operators.Sampling.temperatureSample(
        rd(s, dir, "documents").select("doc_id", "lang"), byCol = "lang")
      .orderBy("doc_id")

  /** REPETITION signals (the Gopher-rules family, Rae et al. 2021,
    * re-expressed integer-exact over token streams): per document the
    * most-frequent-token share, the duplicate-token share and the
    * most-frequent-bigram share, all in permille — the standard
    * boilerplate/spam detectors a curation pipeline thresholds on.
    * Shape at scale: two explode + hash-agg chains (map-side partials
    * collapse a doc's repeated tokens before the shuffle), one join on
    * doc_id. */
  /** Sequence-packing manifest over the documents table (128-token
    * sequences, 8 shards — [[graft.operators.Packing.sequencePack]]):
    * the loader-facing concat-and-chunk layout, DuckDB-replayed
    * exactly (shard assignment, per-shard running offsets,
    * doc→sequence intersections). */
  def pipelineSeqPack(s: SparkSession, dir: String): DataFrame =
    graft.operators.Packing.sequencePack(
        rd(s, dir, "documents").select("doc_id", "text"), seqLen = 128, nShards = 8)
      .orderBy("shard", "seq_idx", "doc_id")

  /** GOPHER-style document quality RULES (Rae et al. 2021, appendix A
    * — the published rule set modern pipelines start from), integer-
    * exact so the DuckDB twin replays each flag bit-identically:
    * word-count window [50, 100k]; mean word length in [3, 10] chars
    * (as 3n ≤ sum_chars ≤ 10n — sum of token chars is
    * `length(text) - (n-1)` since tokens split on single spaces);
    * symbol-to-word ratio ('#' + '...') ≤ 1/10; ≥ 80%% of words
    * contain an alphabetic char; ≥ 2 distinct members of the
    * published 8-stop-word list. Line-shape rules (bullet/ellipsis
    * line ratios) need line structure this corpus doesn't carry —
    * scoped out, documented. All map-side column work; no shuffle but
    * the final sort. */
  def textGopherQuality(s: SparkSession, dir: String): DataFrame = {
    val d = rd(s, dir, "documents").select(col("doc_id"), col("text"))
    val toks = split(col("text"), " ")
    val stop = array(Seq("the", "be", "to", "of", "and", "that", "have", "with")
      .map(lit): _*)
    val base = d.select(col("doc_id"),
      size(toks).as("n_words"),
      (length(col("text")) - (size(toks) - 1)).as("word_chars"),
      (length(col("text")) - length(expr("replace(text, '#', '')"))).as("n_hash"),
      expr("CAST((length(text) - length(replace(text, '...', ''))) div 3 AS INT)")
        .as("n_ellipsis"),
      expr("size(filter(split(text, ' '), t -> t rlike '[A-Za-z]'))").as("alpha_words"),
      size(filter(stop, w => array_contains(toks, w))).as("stopword_kinds"))
    base.select(col("*"),
        (col("n_words") >= 50 && col("n_words") <= 100000).cast("int").as("ok_word_count"),
        (col("word_chars") >= col("n_words") * 3 &&
          col("word_chars") <= col("n_words") * 10).cast("int").as("ok_mean_word_len"),
        ((col("n_hash") + col("n_ellipsis")) * 10 <= col("n_words")).cast("int")
          .as("ok_symbol_ratio"),
        (col("alpha_words") * 5 >= col("n_words") * 4).cast("int").as("ok_alpha"),
        (col("stopword_kinds") >= 2).cast("int").as("ok_stopwords"))
      .withColumn("gopher_pass",
        (col("ok_word_count") * col("ok_mean_word_len") * col("ok_symbol_ratio") *
          col("ok_alpha") * col("ok_stopwords")).cast("int"))
      .orderBy("doc_id")
  }

  def textRepetition(s: SparkSession, dir: String): DataFrame = {
    val docs = rd(s, dir, "documents")
    val tok = docs.select(col("doc_id"), explode(split(col("text"), " ")).as("t"))
    val tstats = tok.groupBy("doc_id", "t").agg(count(lit(1)).as("c"))
      .groupBy("doc_id").agg(max(col("c")).as("max_tok"),
        sum(col("c")).as("n_tok"), count(lit(1)).as("n_dist"))
    val g2 = docs.select(col("doc_id"), explode(TF.shingles(col("text"), 2)).as("g"))
      .groupBy("doc_id", "g").agg(count(lit(1)).as("c"))
      .groupBy("doc_id").agg(max(col("c")).as("max_g2"), sum(col("c")).as("n_g2"))
    tstats.join(g2, Seq("doc_id"), "left")
      .select(col("doc_id"),
        floor(col("max_tok") * 1000L / col("n_tok")).cast("long").as("top_tok_pm"),
        floor((col("n_tok") - col("n_dist")) * 1000L / col("n_tok")).cast("long").as("dup_tok_pm"),
        coalesce(floor(col("max_g2") * 1000L / col("n_g2")).cast("long"), lit(0L))
          .as("top_bigram_pm"))
      .orderBy("doc_id")
  }

  /** PII REDACTION: deterministic synthetic contact strings are spliced
    * into each document (the testdata carries no PII), then email and
    * phone patterns are counted and replaced — the scrubbing pass every
    * training-data pipeline runs before anything leaves the raw zone.
    * Regexes are kept to character classes + bounded quantifiers so the
    * Java (Spark) and RE2 (DuckDB) engines agree exactly; emails are
    * redacted BEFORE phones so digit runs inside addresses cannot
    * double-match. Map-side only — no shuffle before the final order. */
  def textRedactPii(s: SparkSession, dir: String): DataFrame = {
    val email = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,4}"
    val phone = "\\+?[0-9][0-9()\\- ]{6,}[0-9]"
    val spliced = concat(col("text"), lit(" contact user"),
      col("doc_id").cast("string"), lit("@example.com or call +1-555-0"),
      (col("doc_id") % 1000).cast("string"), lit(" now"))
    rd(s, dir, "documents")
      .select(col("doc_id"), spliced.as("t2"))
      .select(col("doc_id"),
        size(regexp_extract_all(col("t2"), lit(email), lit(0))).cast("long").as("n_emails"),
        size(regexp_extract_all(col("t2"), lit(phone), lit(0))).cast("long").as("n_phones"),
        md5(regexp_replace(regexp_replace(col("t2"), email, "<EMAIL>"),
          phone, "<PHONE>")).as("redacted_md5"))
      .orderBy("doc_id")
  }

  /** BPE-ish token counting + both fingerprint families: set-based md5
    * (order-invariant) and rolling hash (order-sensitive). */
  def textTokensFp(s: SparkSession, dir: String): DataFrame =
    rd(s, dir, "documents").select(col("doc_id"),
        TF.bpeTokenCountApprox(col("text")).as("bpe_tokens"),
        TF.fingerprint(col("text")).as("fp_set"),
        TF.rollingFingerprint(col("text")).as("fp_rolling"))
      .orderBy("doc_id")

  /** Language-ID heuristic + content fingerprint + simhash sketch. */
  def textLangId(s: SparkSession, dir: String): DataFrame =
    rd(s, dir, "documents").select(col("doc_id"),
        TF.langIdHeuristic(col("text")).as("lang_pred"),
        TF.fingerprint(col("text")).as("fp"),
        TF.simhash32(col("text")).as("simhash"))
      .orderBy("doc_id")

  // ===================================================================
  // Extraction pipeline. The by-construction golden corpus IS the
  // oracle: it is staged as parquet (InterleavedTable.GoldenPath) so
  // the driver's DuckDB twin reads the expected output directly and
  // the comparison is hash-exact — extraction output must equal the
  // goldens span for span.
  // ===================================================================

  /** Flagship: extract the deterministic interleaved corpus and emit
    * one row per output span. Hash-exact oracle: DuckDB explodes the
    * golden parquet (extraction ≡ goldens by span-sequence equality). */
  def extractSpans(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val n = InterleavedTable.VerifyDocs
    InterleavedTable.ensureGoldenCorpus(s) // stage the oracle's side
    graft.streaming.ExtractStream.extract(s,
        InterleavedTable.generate(s, n).repartition(s.sparkContext.defaultParallelism).toDF())
      .flatMap(d => d.spans.map(sp => (d.doc_id, sp.order, sp.kind, sp.media_ref, sp.text)))
      .toDF("doc_id", "ord", "kind", "media_ref", "text")
      .select(col("doc_id"), col("ord"), col("kind"), col("media_ref"),
        md5(col("text")).as("text_md5"))
      .orderBy("doc_id", "ord")
  }

  /** Span-sequence parity vs the by-construction goldens: one summary
    * row; docs == matched ⟺ 100% span-sequence equality
    * (kind, text, media_ref, order). */
  def extractParity(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val n = InterleavedTable.VerifyDocs
    InterleavedTable.ensureGoldenCorpus(s) // stage the oracle's side
    val got = graft.streaming.ExtractStream.extract(s, InterleavedTable.generate(s, n).toDF())
    val exp = InterleavedTable.goldens(s, n)
    got.toDF("doc_id", "spans").as("g")
      .join(exp.toDF("doc_id", "spans").as("e"), Seq("doc_id"), "full_outer")
      .select(col("doc_id"),
        (col("g.spans") === col("e.spans")).cast("int").as("ok"))
      .agg(count(lit(1)).as("docs"), sum(col("ok")).as("matched"))
  }

  /** Streaming face, driven to completion as a batch check: the corpus
    * is staged as a file stream, extracted by the Structured Streaming
    * pipeline (exactly-once parquet sink + checkpoint), and the sink is
    * compared against the by-construction goldens. One summary row;
    * docs == matched ⟺ streaming output is span-sequence-equal. */
  def streamExtractParity(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val n = 200
    InterleavedTable.ensureGoldenCorpus(s) // stage the oracle's side
    val base = java.nio.file.Files.createTempDirectory("graft-stream-q").toString
    InterleavedTable.generate(s, n).repartition(4)
      .write.mode("overwrite").parquet(s"$base/corpus")
    graft.streaming.ExtractStream
      .run(s, s"$base/corpus", s"$base/out", s"$base/ck")
      .awaitTermination()
    val got = graft.io.Parquet.read(s, s"$base/out").as[ExtractedDoc]
    val exp = InterleavedTable.goldens(s, n)
    got.toDF("doc_id", "spans").as("g")
      .join(exp.toDF("doc_id", "spans").as("e"), Seq("doc_id"), "full_outer")
      .select((col("g.spans") === col("e.spans")).cast("int").as("ok"))
      .agg(count(lit(1)).as("docs"), sum(col("ok")).as("matched"))
  }

  /** Multimodal plumbing over OPAQUE payloads: the default
    * [[Multimodal.SniffDecoder]] finds no image magic in the synthetic
    * binary payloads and falls back to the deterministic stub — the
    * total-over-arbitrary-bytes path of the media stage (the REAL
    * image-decode path of the same decoder is pinned hash-exact by
    * [[mmDecodeReal]]). */
  def mmMediaFeatures(s: SparkSession, dir: String): DataFrame =
    Multimodal.extractFeatures(s, Multimodal.syntheticMedia(s, nDocs = 200, perDoc = 3))
      .toDF()
      .orderBy("doc_id", "media_ref")

  /** REAL image decode through the JDK codec, with a hash-exact
    * oracle: payloads are REAL PNG (our ISO 15948 encoder), BMP and
    * JPEG (ImageIO writers) bytes built deterministically from the
    * pixel formula gray(x,y,id) = (7x + 13y + 31·id) mod 256; the
    * decode stage sniffs the container and runs
    * [[graft.pdf.ImageCodec.decodeToRgba]] (javax.imageio) per
    * partition batch; the DuckDB twin recomputes format, decoded dims
    * and — for the LOSSLESS formats — the decoded-pixel channel sum
    * analytically from the same formula. JPEG is lossy by design:
    * dims are exact, the pixel sum is emitted as -1. This pins the
    * generic media-column decode as a real codec, not a stub. */
  def mmDecodeReal(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    s.range(60).repartition(8).map { id =>
      val w = 8 + (id % 5).toInt
      val h = 8 + ((id * 3) % 7).toInt
      val rgb = new Array[Byte](w * h * 3)
      var p = 0
      while (p < w * h) {
        val g = (((p % w) * 7 + (p / w) * 13 + id * 31) % 256).toInt
        rgb(p * 3) = g.toByte; rgb(p * 3 + 1) = g.toByte; rgb(p * 3 + 2) = g.toByte
        p += 1
      }
      val payload = (id % 3) match {
        case 0 =>
          val rgba = new Array[Byte](w * h * 4)
          var i = 0
          while (i < w * h) {
            rgba(i * 4) = rgb(i * 3); rgba(i * 4 + 1) = rgb(i * 3 + 1)
            rgba(i * 4 + 2) = rgb(i * 3 + 2); rgba(i * 4 + 3) = -1
            i += 1
          }
          graft.pdf.PdfImages.encodePng(w, h, rgba)
        case 1 => graft.pdf.ImageCodec.encodeBmpRgb(w, h, rgb)
        case _ => graft.pdf.ImageCodec.encodeJpegRgb(w, h, rgb)
      }
      (id, payload)
    }
    .mapPartitions { it => // batched REAL decode (one codec per batch)
      it.map { case (id, bytes) =>
        val fmt = graft.pdf.ImageCodec.sniffFormat(bytes).getOrElse("unknown")
        graft.pdf.ImageCodec.decodeToRgba(bytes) match {
          case Some((w, h, rgba)) =>
            val sum = if (fmt == "jpeg") -1L else {
              var s0 = 0L; var i = 0
              while (i < w * h) {
                s0 += (rgba(i * 4) & 0xff) + (rgba(i * 4 + 1) & 0xff) +
                  (rgba(i * 4 + 2) & 0xff)
                i += 1
              }
              s0
            }
            (id, fmt, w, h, sum)
          case None => (id, fmt, -1, -1, -1L)
        }
      }
    }
    .toDF("id", "format", "width", "height", "pix_sum")
    .orderBy("id")
  }

  /** End-to-end multimodal over REAL payloads: PDF image XObjects →
    * materialized PNG bytes (JPEG-DCT decoded via the JDK codec) →
    * batched per-partition feature decode with the real IHDR-parsing
    * [[Multimodal.PngMetaDecoder]]. */
  def mmPdfImageFeatures(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val docs = InterleavedTable.readVerifyCorpus(s)
    val media = docs.select(col("doc_id"), col("spans")).as[InterleavedDoc]
      .mapPartitions { it =>
        it.flatMap { d =>
          d.spans.iterator.filter(_.kind == "pdf_bytes").flatMap { sp =>
            try graft.pdf.PdfImages
              .documentImages(d.doc_id, java.util.Base64.getDecoder.decode(sp.text))
              .map(im => (d.doc_id, im.name, im.bytes))
            catch { case scala.util.control.NonFatal(_) => Vector.empty }
          }
        }
      }.toDF("doc_id", "media_ref", "payload")
    Multimodal.extractFeaturesWith(s, media, docId => new Multimodal.PngMetaDecoder(docId))
      .toDF()
      .select("doc_id", "media_ref", "format", "width", "height")
      .orderBy("doc_id", "media_ref")
  }

  /** Multimodal resize: PDF images resized to an 8×8 thumbnail — REAL
    * nearest-neighbor pixel math through our PNG codec (all four
    * materialized images per image doc are PNGs now, JPEG included). */
  def mmThumbnails(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val docs = InterleavedTable.readVerifyCorpus(s)
    docs.select(col("doc_id"), col("spans")).as[InterleavedDoc]
      .mapPartitions { it =>
        it.flatMap { d =>
          d.spans.iterator.filter(_.kind == "pdf_bytes").flatMap { sp =>
            try graft.pdf.PdfImages
              .documentImages(d.doc_id, java.util.Base64.getDecoder.decode(sp.text))
              .flatMap { im =>
                graft.pdf.PdfImages.resizePng(im.bytes, 8, 8).map { thumb =>
                  val meta = graft.pdf.PdfImages.pngMeta(thumb).get
                  (d.doc_id, im.name, meta._1, meta._2)
                }
              }
            catch { case scala.util.control.NonFatal(_) => Vector.empty }
          }
        }
      }
      .toDF("doc_id", "media_ref", "width", "height")
      .orderBy("doc_id", "media_ref")
  }

  /** Multimodal frame sampling over the synthetic video-like payloads:
    * every 2nd fixed-size frame chunk, max 4, md5-fingerprinted —
    * STUB decode (chunker), REAL plumbing; oracle reconstructs the
    * payload and chunks it in SQL. */
  /** REAL audio decode, oracle-pinned: deterministic 16-bit PCM WAV
    * fixtures (sample k of doc i = ((k*37 + i) % 2001) - 1000,
    * 256 interleaved samples, channels cycling 1/2, rate 8000+i)
    * through [[graft.operators.Multimodal.audioFeatures]]'s RIFF walk
    * + sample scan; the DuckDB twin recomputes every aggregate from
    * the same closed form — a header-parse or sample-decode slip
    * flips peak/sum exactly. */
  def mmAudioFeatures(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val media = s.range(60).map { i =>
      val channels = 1 + (i % 2).toInt
      val samples = Array.tabulate(256)(k => (((k * 37 + i) % 2001) - 1000).toShort)
      (f"au$i%08d", s"a_$i.wav",
        graft.media.Wav.encodePcm16(8000 + i.toInt, channels, samples))
    }.toDF("doc_id", "media_ref", "payload")
    Multimodal.audioFeatures(s, media).toDF().orderBy("doc_id")
  }

  /** Integer-autocorrelation pitch probe over synthesized PCM square
    * waves (period 4/6/8/10 frames + deterministic jitter): best_lag
    * recovers each wave's period, and every product is exact Long
    * arithmetic, so the DuckDB twin REPLAYS the full R(lag) surface —
    * samples, products, argmax — rather than trusting a closed form
    * ([[Multimodal.audioPitch]]). */
  def mmAudioPitch(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val media = s.range(48).map { i =>
      val halfP = 2 + (i % 4).toInt // period p = 4 + 2*(i%4)
      val samples = Array.tabulate(240) { k =>
        val sq = if ((k / halfP) % 2 == 0) 1000 else -1000
        (sq + (k * 7 + i.toInt) % 11 - 5).toShort
      }
      (f"ap$i%08d", s"p_$i.wav", graft.media.Wav.encodePcm16(8000, 1, samples))
    }.toDF("doc_id", "media_ref", "payload")
    Multimodal.audioPitch(s, media).toDF().orderBy("doc_id")
  }

  /** FRAMED audio features (short-time energy/ZCR/peak) over the
    * pitch fixtures' square-wave family, 60-sample windows → 4 full
    * windows of the 240-sample payloads; the DuckDB twin regenerates
    * every window's integers from the same closed form. */
  def mmAudioFrames(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val media = s.range(48).map { i =>
      val halfP = 2 + (i % 4).toInt
      val samples = Array.tabulate(240) { k =>
        val sq = if ((k / halfP) % 2 == 0) 1000 else -1000
        (sq + (k * 7 + i.toInt) % 11 - 5).toShort
      }
      (f"af$i%08d", s"f_$i.wav", graft.media.Wav.encodePcm16(8000, 1, samples))
    }.toDF("doc_id", "media_ref", "payload")
    Multimodal.audioFrames(s, media, frameLen = 60).toDF()
      .orderBy("doc_id", "frame_idx")
  }

  /** Integer GOERTZEL tone probes over framed WAV windows
    * ([[graft.operators.Multimodal.audioGoertzel]]): 48 payloads each
    * carrying a square tone whose fundamental lands on ONE of the
    * three probed bins (period 6/4/3 ↔ coefficient 1/0/−1 by id%3)
    * plus deterministic dither; every (frame, probe) emits the exact
    * recurrence states and bin power. The DuckDB twin recomputes the
    * same integers CLOSED-FORM via the periodic recurrence kernel —
    * an independent derivation, so a recurrence bug cannot hide. */
  def mmAudioGoertzel(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val media = s.range(48).map { i =>
      val samples = Array.tabulate(240) { k =>
        val tone = (i % 3) match {
          case 0L => if (k % 6 < 3) 800 else -800
          case 1L => if (k % 4 < 2) 800 else -800
          case _  => if (k % 3 == 0) 800 else -400
        }
        (tone + (k * 5 + i.toInt) % 7 - 3).toShort
      }
      (f"ag$i%08d", s"g_$i.wav", graft.media.Wav.encodePcm16(8000, 1, samples))
    }.toDF("doc_id", "media_ref", "payload")
    Multimodal.audioGoertzel(s, media, frameLen = 60).toDF()
      .orderBy("doc_id", "frame_idx", "coef")
  }

  /** IMAGE NEAR-DUP pairs by perceptual hash
    * ([[Multimodal.imagePhashPairs]]): 48 grayscale 16×16 PNGs in 16
    * groups of 3 — the base, a variant touching only an ODD-coordinate
    * pixel (invisible to the 2× nearest-neighbor resize → Hamming 0)
    * and a variant touching one SAMPLED cell (a small Hamming delta);
    * REAL decode through the JDK codec, banded 16-bit LSH with the
    * pigeonhole recall guarantee, exact bit_count verification. The
    * DuckDB twin replays pixels → cells → mean → hash halves → every
    * qualifying pair closed-form. */
  def dedupImagePhash(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val media = s.range(48).map { i =>
      val b = (i / 3).toInt; val v = (i % 3).toInt
      val rgba = new Array[Byte](16 * 16 * 4)
      for (y <- 0 until 16; x <- 0 until 16) {
        var g = (x * 7 + y * 13 + b * 31) % 200
        if (v == 1 && x == 1 && y == 1) g += 40
        if (v == 2 && x == 2 && y == 2) g += 40
        val p = (y * 16 + x) * 4
        rgba(p) = g.toByte; rgba(p + 1) = g.toByte
        rgba(p + 2) = g.toByte; rgba(p + 3) = -1
      }
      (f"img$i%08d", s"p_$i.png", graft.pdf.PdfImages.encodePng(16, 16, rgba))
    }.toDF("doc_id", "media_ref", "payload")
    Multimodal.imagePhashPairs(s, media, maxHamming = 3)
      .orderBy("a_id", "b_id")
  }

  def mmFrameSample(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // stub-path rows (non-BMFF payloads, fixed 32-byte chunks) plus
    // REAL demuxed rows: single-trak BMFF fixtures whose stbl sample
    // table (6 varying-size samples, one chunk, 25 fps) pins offsets,
    // sizes and timestamps closed-form for the DuckDB twin
    val stub = Multimodal.syntheticMedia(s, nDocs = 100, perDoc = 2)
    val mp4 = s.range(50).map { i =>
      val md = java.security.MessageDigest.getInstance("MD5")
      val samples = (0 until 6).map { j =>
        val hex = md.digest(s"$i:$j".getBytes("US-ASCII"))
          .map(b => f"${b & 0xff}%02x").mkString
        hex.substring(0, 20 + 4 * (j % 3)).getBytes("US-ASCII")
      }
      (f"vdoc$i%08d", s"v_$i.mp4", graft.media.Mp4Demux.buildFixture(samples))
    }.toDF("doc_id", "media_ref", "payload")
    Multimodal.sampleFrames(s, stub.unionByName(mp4),
        frameBytes = 32, stride = 2, maxFrames = 4)
      .toDF()
      .orderBy("doc_id", "media_ref", "frame_idx")
  }

  /** name → query. Keys match Oracles.sql keys (rows-only checks for
    * the extraction/multimodal entries, which SQL cannot express). */
  val all: Map[String, (SparkSession, String) => DataFrame] = Map(
    "pdfz_explode" -> (pdfzExplode _),
    "pdfz_page_window" -> (pdfzPageWindow _),
    "pdfz_reassemble" -> (pdfzReassemble _),
    "pdfz_resume_antijoin" -> (pdfzResumeAntijoin _),
    "pdfz_progress" -> (pdfzProgress _),
    "pdfz_dispatch" -> (pdfzDispatch _),
    "pdfz_point_lookup" -> (pdfzPointLookup _),
    "pdfz_images" -> (pdfzImages _),
    "pdfz_images_fax" -> (pdfzImagesFax _),
    "pdfz_images_jbig2" -> (pdfzImagesJbig2 _),
    "pdfz_images_jbig2_text" -> (pdfzImagesJbig2Text _),
    "pdfz_images_jbig2_huff" -> (pdfzImagesJbig2Huff _),
    "pdfz_encrypted" -> (pdfzEncrypted _),
    "pdfz_encodings" -> (pdfzEncodings _),
    "pdfz_form_text" -> (pdfzFormText _),
    "pdfz_metadata" -> (pdfzMetadata _),
    "pdfz_outline" -> (pdfzOutline _),
    "pdfz_formfields" -> (pdfzFormfields _),
    "pdfz_pagelabels" -> (pdfzPagelabels _),
    "pdfz_links" -> (pdfzLinks _),
    "html_boilerplate" -> (htmlBoilerplate _),
    "html_links" -> (htmlLinks _),
    "q1_pricing" -> (q1Pricing _),
    "q3_top_orders" -> (q3TopOrders _),
    "q5_region_revenue" -> (q5RegionRevenue _),
    "q_window_topn" -> (qWindowTopN _),
    "q_events_hourly" -> (qEventsHourly _),
    "q_events_hourly_late" -> (qEventsHourlyLate _),
    "q_events_sessions" -> (qEventsSessions _),
    "q_events_session_windows" -> (qEventsSessionWindows _),
    "q_rollup" -> (qRollup _),
    "q_cube" -> (qCube _),
    "q_median" -> (qMedian _),
    "q_pivot" -> (qPivot _),
    "q_setops" -> (qSetOps _),
    "q_above_group_avg" -> (qAboveGroupAvg _),
    "q_events_json" -> (qEventsJson _),
    "q_asof" -> (qAsof _),
    "q_asof_multi" -> (qAsofMulti _),
    "dedup_exact" -> (dedupExact _),
    "dedup_incremental" -> (dedupIncremental _),
    "dedup_bloom_incremental" -> (dedupBloomIncremental _),
    "dedup_minhash_lsh" -> (dedupMinhashLsh _),
    "dedup_minhash_star" -> (dedupMinhashStar _),
    "dedup_jaccard" -> (dedupJaccard _),
    "dedup_jaccard_capped" -> (dedupJaccardCapped _),
    "dedup_containment" -> (dedupContainment _),
    "dedup_simhash" -> (dedupSimhash _),
    "dedup_simhash_star" -> (dedupSimhashStar _),
    "dedup_simhash64" -> (dedupSimhash64 _),
    "dedup_embedding" -> (dedupEmbedding _),
    "dedup_embedding_star" -> (dedupEmbeddingStar _),
    "dedup_cluster_sigs" -> (dedupClusterSigs _),
    "dedup_components" -> (dedupComponents _),
    "dedup_components_star" -> (dedupComponentsStar _),
    "dedup_components_star_chain" -> (dedupComponentsStarChain _),
    "dedup_components_star_adaptive" -> (dedupComponentsStarAdaptive _),
    "dedup_cdc_chunks" -> (dedupCdcChunks _),
    "dedup_exact_substring" -> (dedupExactSubstring _),
    "dedup_keep_best" -> (dedupKeepBest _),
    "text_dup_coverage" -> (textDupCoverage _),
    "dedup_decontaminate" -> (dedupDecontaminate _),
    "pipeline_clean_corpus" -> (pipelineCleanCorpus _),
    "pipeline_curate" -> (pipelineCurate _),
    "pipeline_report" -> (pipelineReport _),
    "sim_topk_brute" -> (simTopkBrute _),
    "sim_topk_lsh" -> (simTopkLsh _),
    "sim_topk_lsh_multi" -> (simTopkLshMulti _),
    "sim_topk_ivf" -> (simTopkIvf _),
    "sim_topk_ivf_kmeans" -> (simTopkIvfKmeans _),
    "sim_topk_pq" -> (simTopkPq _),
    "sim_topk_pq_kmeans" -> (simTopkPqKmeans _),
    "sim_topk_pq_rerank" -> (simTopkPqRerank _),
    "text_stats" -> (textStats _),
    "text_distinct_kmv" -> (textDistinctKmv _),
    "text_tfidf_top3" -> (textTfidfTop3 _),
    "sample_stratified" -> (sampleStratified _),
    "sample_temperature" -> (sampleTemperature _),
    "graph_pagerank" -> (graphPagerank _),
    "graph_pagerank_adaptive" -> (graphPagerankAdaptive _),
    "q_events_funnel" -> (qEventsFunnel _),
    "q_events_funnel_window" -> (qEventsFunnelWindow _),
    "q_events_retention" -> (qEventsRetention _),
    "text_tokens_fp" -> (textTokensFp _),
    "text_repetition" -> (textRepetition _),
    "text_gopher_quality" -> (textGopherQuality _),
    "pipeline_seq_pack" -> (pipelineSeqPack _),
    "text_redact_pii" -> (textRedactPii _),
    "text_langid" -> (textLangId _),
    "extract_spans" -> (extractSpans _),
    "extract_parity" -> (extractParity _),
    "stream_extract_parity" -> (streamExtractParity _),
    "mm_media_features" -> (mmMediaFeatures _),
    "mm_decode_real" -> (mmDecodeReal _),
    "mm_pdf_image_features" -> (mmPdfImageFeatures _),
    "mm_thumbnails" -> (mmThumbnails _),
    "mm_frame_sample" -> (mmFrameSample _),
    "mm_audio_features" -> (mmAudioFeatures _),
    "mm_audio_pitch" -> (mmAudioPitch _),
    "mm_audio_frames" -> (mmAudioFrames _),
    "mm_audio_goertzel" -> (mmAudioGoertzel _),
    "dedup_image_phash" -> (dedupImagePhash _))
}
