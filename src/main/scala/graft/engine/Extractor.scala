package graft.engine

import java.util.Base64
import scala.collection.mutable
import graft.core.model._
import graft.html.Boilerplate
import graft.pdf.{ContentText, PdfDocument, PdfParseException}
import org.apache.spark.unsafe.types.UTF8String

/** The per-document extraction core — the pure function at the heart
  * of the extraction generator ([[graft.job.ExtractRows]]).
  * Re-expresses the reference worker's `MainEngine::run`/`extract_file` loop
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

  /** One document's spans on their way through [[extractInto]], in
    * buffers reused from document to document (one instance per
    * thread). Text values are Spark's UTF8Strings, so the row view
    * ([[graft.job.ExtractRows]]) never materializes a java.lang.String
    * for a passthrough span or a PDF page. Output span i has `kind(i)`,
    * `text(i)`, `ref(i)`, source page `page(i)` (0 when not from a PDF
    * page) and order i. */
  final class Doc {
    var id: UTF8String = _
    // input spans as (kind, text, ref) triples, and their keys
    // (offset << 32 | index), sorted: the spans in offset order
    private val in = mutable.ArrayBuffer.empty[AnyRef]
    private var keys = new Array[Long](8)
    // output spans as (kind, text, ref, page) quads
    private val out = mutable.ArrayBuffer.empty[AnyRef]
    var unmapped = 0L // font codes with no encoding entry (U+FFFD'd)
    var ocrChars = 0L // chars OCR'd then dropped (parity metric)
    private[engine] val pageOut = new ContentText.TextOut
    private var engine: (ExtractOptions, Either[String, OcrEngine]) = (null, null)

    def start(docId: UTF8String): Unit = { id = docId; in.clear(); out.clear(); unmapped = 0L; ocrChars = 0L }
    /** Drop this document's values: a row view's may pin its scan batch. */
    def release(): Unit = { id = null; in.clear(); out.clear() }

    /** Add an input span; spans are extracted in `offset` order, ties
      * in the order added. */
    def add(kind: String, text: UTF8String, ref: UTF8String, offset: Int): Unit = {
      val i = in.length / 3
      if (i == keys.length) keys = java.util.Arrays.copyOf(keys, 2 * i)
      keys(i) = (offset.toLong << 32) | i
      in += kind += text += ref
    }

    def size: Int = out.length / 4
    def kind(i: Int): String = out(4 * i).asInstanceOf[String]
    def text(i: Int): UTF8String = out(4 * i + 1).asInstanceOf[UTF8String]
    def ref(i: Int): UTF8String = out(4 * i + 2).asInstanceOf[UTF8String]
    def page(i: Int): Int = out(4 * i + 3).asInstanceOf[Integer]

    private[engine] def emit(kind: String, text: UTF8String, ref: UTF8String, page: Int): Unit =
      out += kind += text += ref += Integer.valueOf(page)
    private[engine] def fail(): Unit = out.clear()
    /** The input spans' indexes in offset order. */
    private[engine] def inOrder: Iterator[Int] = {
      val n = in.length / 3
      java.util.Arrays.sort(keys, 0, n)
      Iterator.range(0, n).map(keys(_).toInt) // the low 32 bits: the index
    }
    private[engine] def inKind(i: Int): String = in(3 * i).asInstanceOf[String]
    private[engine] def inText(i: Int): UTF8String = in(3 * i + 1).asInstanceOf[UTF8String]
    private[engine] def inRef(i: Int): UTF8String = in(3 * i + 2).asInstanceOf[UTF8String]

    /** The OCR engine `opts` names, built once while the options repeat. */
    private[engine] def engineFor(opts: ExtractOptions): Either[String, OcrEngine] = {
      if (opts != engine._1) engine = (opts, OcrEngine.forName(opts.engine, opts.ocrModel))
      engine._2
    }
  }

  private val docs = ThreadLocal.withInitial(() => new Doc)

  /** [[extractInto]] over typed values (tests, `graft.tools`, the
    * perfbench engine layer): Strings in and out, converted at this
    * boundary. No job path calls it. */
  def extractDoc(in: InterleavedDoc, opts: ExtractOptions): DocResult = {
    val d = docs.get
    d.start(UTF8String.fromString(in.doc_id))
    in.spans.foreach(r => d.add(r.kind, UTF8String.fromString(r.text), UTF8String.fromString(r.media_ref), r.offset))
    val err = extractInto(d, opts)
    val bytesIn = bytesOf(in)
    if (err != null) DocResult(None, Some(err), 0, bytesIn, d.ocrChars, d.unmapped)
    else {
      val spans = Vector.tabulate(d.size)(i =>
        Span(d.kind(i), d.text(i).toString, d.ref(i).toString, i, d.page(i)))
      DocResult(Some(ExtractedDoc(in.doc_id, spans)), None, spans.length, bytesIn,
        d.ocrChars, d.unmapped)
    }
  }

  /** The extraction core: `d`'s input spans → its output spans.
    * Returns null, or the error that failed the document (its output
    * then empty). A bad payload is a fail-soft "base64:"/"pdf:" error,
    * never a throw. */
  def extractInto(d: Doc, opts: ExtractOptions): String = {
    d.engineFor(opts) match {
      case Left(err) => err
      case Right(engine) =>
        try {
          // unknown-kind abort: flag + loop-exit instead of a non-local
          // `return` (exception-driven control flow in the hottest loop,
          // fragile under future catch edits)
          var failure: String = null
          val order = d.inOrder
          while (failure == null && order.hasNext) {
            val i = order.next()
            d.inKind(i) match {
              case "text" =>
                d.emit("text", d.inText(i), UTF8String.EMPTY_UTF8, 0)
              case "media" =>
                // media spans pass through; OCR is run (metrics only) and
                // its text dropped — parity pin 1
                engine.extractTextFromImage(d.inRef(i).toString) match {
                  case Right(t) => d.ocrChars += t.length
                  case Left(_)  => // skip-and-continue, engine/mod.rs:118-127
                }
                d.emit("media", UTF8String.EMPTY_UTF8, d.inRef(i), 0)
              case "html" =>
                Boilerplate.extract(d.inText(i).toString).foreach {
                  case Boilerplate.TextPiece(t)  => d.emit("text", UTF8String.fromString(t), UTF8String.EMPTY_UTF8, 0)
                  case Boilerplate.MediaPiece(m) => d.emit("media", UTF8String.EMPTY_UTF8, UTF8String.fromString(m), 0)
                }
              case "pdf_bytes" =>
                val doc = PdfDocument.load(base64(d.inText(i)),
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
                    d.unmapped += ContentText.pageText(doc, page, d.pageOut)
                    // image enumeration + OCR, text dropped (parity pin 1);
                    // media name formula mirrors engine/mod.rs:108
                    val nImages = ContentText.pageImageNames(doc, page).length
                    var k = 0
                    while (k < nImages) {
                      engine.extractTextFromImage(s"${d.id}_${pageNum}_$k.png") match {
                        case Right(t) => d.ocrChars += t.length
                        case Left(_)  =>
                      }
                      k += 1
                    }
                    // original source page number rides the span — the
                    // reference's output carries page_num (mod.rs:90)
                    d.emit("text", UTF8String.fromBytes(java.util.Arrays.copyOf(d.pageOut.bytes, d.pageOut.length)),
                      UTF8String.EMPTY_UTF8, pageNum)
                    kept += 1
                  }
                  pageNum += 1
                }
              case other =>
                failure = s"unsupported span kind '$other'"
            }
          }
          if (failure != null) d.fail()
          failure
        } catch {
          case e: PdfParseException =>
            d.fail(); d.unmapped = 0L; d.ocrChars = 0L
            s"pdf: ${e.getMessage}"
          case e: IllegalArgumentException =>
            d.fail(); d.unmapped = 0L; d.ocrChars = 0L
            s"base64: ${e.getMessage}"
        }
    }
  }

  /** The bytes of a base64 PDF payload, decoded in place: a ByteBuffer
    * over the row's backing array when it is on the heap, else a copy
    * of its bytes. IllegalArgumentException on bad base64. */
  private def base64(s: UTF8String): Array[Byte] = {
    val dec = Base64.getDecoder
    s.getBaseObject match {
      case a: Array[Byte] =>
        val at = (s.getBaseOffset - org.apache.spark.unsafe.Platform.BYTE_ARRAY_OFFSET).toInt
        val out = dec.decode(java.nio.ByteBuffer.wrap(a, at, s.numBytes))
        if (out.arrayOffset == 0 && out.remaining == out.array.length) out.array
        else java.util.Arrays.copyOfRange(out.array, out.arrayOffset + out.position,
          out.arrayOffset + out.limit)
      case _ => dec.decode(s.getBytes)
    }
  }

  def bytesOf(in: InterleavedDoc): Long =
    in.spans.iterator.map(s => s.text.length.toLong + s.media_ref.length).sum
}
