package graft.engine

import java.util.Base64
import graft.core.model._
import graft.html.Boilerplate
import graft.pdf.{ContentText, PdfDocument, PdfParseException}

/** The per-document extraction core — the pure function at the heart
  * of the `mapPartitions` stage. Re-expresses the reference worker's
  * `MainEngine::run`/`extract_file` loop
  * (/root/reference/extractor/src/engine/mod.rs:27-94) with the parity
  * pins of SURVEY.md §2.6:
  *
  *  1. one text span per kept PDF page, ascending page order; OCR text
  *     computed (engine invoked) then dropped from spans;
  *  2. start-page off-by-one: requested start s keeps pages ≥ max(0,s-1)
  *     (`saturating_sub(1)` at engine/mod.rs:70 vs 1-based page nums);
  *  3. the page limit counts emitted pages and is clamped to the total
  *     page count (engine/mod.rs:63-68,79-83);
  *  4. page fragments would join with " " (engine/mod.rs:134) — our
  *     extractor emits one fragment per page, so this is an identity,
  *     as in the reference.
  *
  * Determinism: pure function of (doc, opts) — no wall-clock, no
  * randomness — so Spark task retries are idempotent (SURVEY.md §4.3).
  */
object Extractor {

  final case class DocResult(
      doc: Option[ExtractedDoc], // None => failed doc
      error: Option[String],
      spanCount: Int,
      bytesIn: Long,
      ocrChars: Long, // chars OCR'd then dropped (parity metric)
      unmappedCodes: Long = 0L) // font codes with no encoding entry (U+FFFD'd)

  /** One input span for the extraction core. For kind="pdf_bytes" the
    * payload arrives base64-DECODED in `pdfBytes` (and `text` is null):
    * the InternalRow fast path in [[graft.job.ExtractJob]] decodes
    * straight from the scan's UTF8 bytes, skipping two String copies of
    * the (dominant) payload; the typed path decodes from the String.
    * Either way the decode runs lazily inside [[extractCore]]'s
    * try/catch, so a bad payload stays a fail-soft "base64:" record. */
  final case class SpanIn(kind: String, text: String, pdfBytes: Array[Byte],
      media_ref: String)

  def extractDoc(in: InterleavedDoc, opts: ExtractOptions): DocResult =
    extractCore(in.doc_id,
      in.spans.sortBy(_.offset).iterator.map { r =>
        if (r.kind == "pdf_bytes")
          SpanIn(r.kind, null, Base64.getDecoder.decode(r.text), r.media_ref)
        else SpanIn(r.kind, r.text, null, r.media_ref)
      },
      bytesOf(in), opts)

  /** The extraction core over pre-shaped spans (see [[SpanIn]]);
    * `bytesIn` is the caller-computed input-size metric. */
  def extractCore(docId: String, spansIn: Iterator[SpanIn], bytesIn: Long,
      opts: ExtractOptions): DocResult = {
    val engineOrErr = OcrEngine.forName(opts.engine, opts.ocrModel)
    engineOrErr match {
      case Left(err) => DocResult(None, Some(err), 0, bytesIn, 0)
      case Right(engine) =>
        try {
          var order = 0
          var ocrChars = 0L
          var unmappedCodes = 0L
          // unknown-kind abort: flag + loop-exit instead of a non-local
          // `return` from a closure (exception-driven control flow in
          // the hottest loop, fragile under future catch edits)
          var failure: Option[String] = None
          val out = Vector.newBuilder[Span]
          def emit(kind: String, text: String, mediaRef: String, page: Int = 0): Unit = {
            out += Span(kind, text, mediaRef, order, page)
            order += 1
          }
          while (failure.isEmpty && spansIn.hasNext) {
            val raw = spansIn.next()
            raw.kind match {
              case "text" =>
                emit("text", raw.text, "")
              case "media" =>
                // media spans pass through; OCR is run (metrics only) and
                // its text dropped — parity pin 1
                engine.extractTextFromImage(raw.media_ref) match {
                  case Right(t) => ocrChars += t.length
                  case Left(_)  => // skip-and-continue, engine/mod.rs:118-127
                }
                emit("media", "", raw.media_ref)
              case "html" =>
                Boilerplate.extract(raw.text).foreach {
                  case Boilerplate.TextPiece(t)  => emit("text", t, "")
                  case Boilerplate.MediaPiece(s) => emit("media", "", s)
                }
              case "pdf_bytes" =>
                val doc = PdfDocument.load(raw.pdfBytes,
                  opts.password.map(_.getBytes(java.nio.charset.StandardCharsets.UTF_8))
                    .getOrElse(Array.emptyByteArray))
                val total = doc.pageCount
                // parity pin 3: clamp limit to total
                val pageLimit =
                  if (opts.pageCount == 0 || opts.pageCount > total) total else opts.pageCount
                // parity pin 2: saturating_sub(1) on the requested start
                val effStart =
                  if (opts.parityStartOffByOne) math.max(0, opts.startPage - 1) else opts.startPage
                var kept = 0
                var pageNum = 1
                while (pageNum <= total && kept < pageLimit) {
                  if (pageNum >= effStart) {
                    val page = doc.pages(pageNum - 1)
                    val (text, pageUnmapped) = ContentText.extractPageTextCounted(doc, page)
                    unmappedCodes += pageUnmapped
                    // image enumeration + OCR, text dropped (parity pin 1);
                    // media name formula mirrors engine/mod.rs:108
                    val nImages = ContentText.pageImageNames(doc, page).length
                    var i = 0
                    while (i < nImages) {
                      val ref = s"${docId}_${pageNum}_$i.png"
                      engine.extractTextFromImage(ref) match {
                        case Right(t) => ocrChars += t.length
                        case Left(_)  =>
                      }
                      i += 1
                    }
                    // original source page number rides the span — the
                    // reference's output carries page_num (mod.rs:90)
                    emit("text", text, "", page = pageNum)
                    kept += 1
                  }
                  pageNum += 1
                }
              case other =>
                failure = Some(s"unsupported span kind '$other'")
            }
          }
          failure match {
            case Some(err) => DocResult(None, Some(err), 0, bytesIn, ocrChars, unmappedCodes)
            case None =>
              val spans = out.result()
              DocResult(Some(ExtractedDoc(docId, spans)), None, spans.length,
                bytesIn, ocrChars, unmappedCodes)
          }
        } catch {
          case e: PdfParseException =>
            DocResult(None, Some(s"pdf: ${e.getMessage}"), 0, bytesIn, 0)
          case e: IllegalArgumentException =>
            DocResult(None, Some(s"base64: ${e.getMessage}"), 0, bytesIn, 0)
        }
    }
  }

  def bytesOf(in: InterleavedDoc): Long =
    in.spans.iterator.map(s => s.text.length.toLong + s.media_ref.length).sum
}
