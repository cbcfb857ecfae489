package graft.pdf

import scala.collection.mutable

/** Content-stream text extraction (ISO 32000-1 §9): BT/ET, Tf, the
  * positioning family (Td, TD, T-star, TL, Tm), and the show operators
  * (Tj, TJ, quote, double-quote), with ToUnicode-CMap and base-encoding + /Differences
  * byte→char decode. Replaces what the reference gets from
  * `lopdf::Document::extract_text`
  * (/root/reference/extractor/src/engine/mod.rs:100-103) — rebuilt
  * from the spec, not translated.
  *
  * Line-reassembly pin (SURVEY.md §2.6.4, §7.4.1 — our oracle is
  * by-construction fixtures): a newline is emitted before a show
  * operation iff some text was already shown on the page AND the text
  * line's vertical position changed since the previous show. TJ
  * kerning numbers insert nothing. Multiple /Contents streams are
  * concatenated with a newline.
  */
object ContentText {

  /** Resolve a glyph name: Annex-D Latin set ([[Encodings.glyphChars]]),
    * then uniXXXX / uXXXX forms. */
  def glyphToChar(name: String): Option[Char] =
    Encodings.glyphChars.get(name).orElse {
      if (name.startsWith("uni") && name.length >= 7)
        try Some(Integer.parseInt(name.substring(3, 7), 16).toChar) catch { case _: Exception => None }
      else if (name.startsWith("u") && name.length >= 5 && name.length <= 7)
        try Some(Integer.parseInt(name.substring(1), 16).toChar) catch { case _: Exception => None }
      else None
    }

  private def baseTable(encoding: String): Array[String] = Encodings.forName(encoding)

  /** Shared default decoder (table is never mutated). */
  private val stdDecoder = TableDecoder(Encodings.standard)

  /** A page's text as UTF-8, appended char by char into one buffer
    * that is reused from page to page. The bytes equal Java's UTF-8
    * encoding of the String the chars form: a surrogate pair, even one
    * split across two appends, is one 4-byte sequence, and a lone
    * surrogate is '?'. Also tallies the codes the active encoding
    * leaves undefined: each decodes as U+FFFD — visible in the output —
    * and counts in `unmapped`, which rides the span metrics as
    * `unmapped_codes` (never a silent drop; cf. the declared-failure
    * posture of JBIG2/crypt). */
  final class TextOut {
    private var buf = new Array[Byte](256)
    private var len = 0
    private var high: Char = 0 // a high surrogate waiting for its low half
    var unmapped = 0L

    def clear(): Unit = {
      if (buf.length > (1 << 20)) buf = new Array[Byte](256) // give a huge page's buffer back
      len = 0; high = 0; unmapped = 0L
    }

    def append(c: Char): Unit = {
      if (len + 4 > buf.length) buf = java.util.Arrays.copyOf(buf, buf.length * 2)
      val h = high
      high = 0
      if (h != 0 && Character.isLowSurrogate(c)) {
        val cp = Character.toCodePoint(h, c)
        put(0xf0 | cp >> 18); put(0x80 | (cp >> 12 & 0x3f)); put(0x80 | (cp >> 6 & 0x3f)); put(0x80 | (cp & 0x3f))
      } else {
        if (h != 0) put('?')
        if (c < 0x80) put(c)
        else if (c < 0x800) { put(0xc0 | c >> 6); put(0x80 | (c & 0x3f)) }
        else if (Character.isHighSurrogate(c)) high = c
        else if (Character.isLowSurrogate(c)) put('?')
        else { put(0xe0 | c >> 12); put(0x80 | (c >> 6 & 0x3f)); put(0x80 | (c & 0x3f)) }
      }
    }
    private def put(b: Int): Unit = { buf(len) = b.toByte; len += 1 }

    def append(s: String): Unit = {
      var i = 0
      while (i < s.length) { append(s.charAt(i)); i += 1 }
    }

    /** A code the active encoding leaves undefined. */
    def undefined(): Unit = { append('\uFFFD'); unmapped += 1 }

    /** The output state; it changes with every append. */
    private[pdf] def mark: Long = (len.toLong << 16) | high
    private[pdf] def reset(m: Long): Unit = { len = (m >>> 16).toInt; high = (m & 0xffff).toChar }

    /** Ends the text: a high surrogate still waiting becomes '?'. */
    private def settle(): Unit = if (high != 0) { high = 0; append('?') }
    /** The text's UTF-8 bytes: the first [[length]] bytes of this array. */
    def bytes: Array[Byte] = { settle(); buf }
    def length: Int = { settle(); len }
    override def toString: String = new String(bytes, 0, length, java.nio.charset.StandardCharsets.UTF_8)
  }

  sealed trait FontDecoder {
    /** Append the text of one show-string to `out`. */
    def decode(bytes: Array[Byte], out: TextOut): Unit
    /** The text of one show-string (tests/CLI display). */
    final def decode(bytes: Array[Byte]): String = { val o = new TextOut; decode(bytes, o); o.toString }
  }

  /** Simple (1-byte) font via a 256-entry table. */
  final case class TableDecoder(table: Array[String]) extends FontDecoder {
    def decode(bytes: Array[Byte], out: TextOut): Unit = {
      var i = 0
      while (i < bytes.length) {
        val s = table(bytes(i) & 0xff)
        if (s.isEmpty) out.undefined() else out.append(s)
        i += 1
      }
    }
  }

  /** CMap-driven decoder (ToUnicode); codes are 1 or 2 bytes wide. The
    * mapped codes ascend in `codes`, with their text in `texts`. */
  final case class CMapDecoder(bytesPerCode: Int, codes: Array[Int], texts: Array[String],
      fallback: Array[String]) extends FontDecoder {
    def decode(bytes: Array[Byte], out: TextOut): Unit = {
      var i = 0
      while (i + bytesPerCode <= bytes.length) {
        var code = 0
        var j = 0
        while (j < bytesPerCode) { code = (code << 8) | (bytes(i + j) & 0xff); j += 1 }
        val at = java.util.Arrays.binarySearch(codes, code)
        if (at >= 0) out.append(texts(at))
        else {
          val viaTable = if (bytesPerCode == 1) fallback(code) else ""
          if (viaTable.isEmpty) out.undefined() else out.append(viaTable)
        }
        i += bytesPerCode
      }
      if (i < bytes.length) out.undefined() // trailing partial code
    }
  }

  /** Parse a ToUnicode CMap stream (§9.10.3): codespacerange width,
    * bfchar and bfrange (scalar-dst and array-dst forms). */
  def parseToUnicode(data: Array[Byte]): CMapDecoder = {
    val toks = new Lexer(data, 0).tokenizeContent()
    var width = 1
    val map = mutable.HashMap.empty[Int, String]
    def codeOf(s: PStr): Int = s.bytes.foldLeft(0)((a, b) => (a << 8) | (b & 0xff))
    def utf16(s: PStr): String = new String(s.bytes, java.nio.charset.StandardCharsets.UTF_16BE)
    var i = 0
    while (i < toks.length) {
      toks(i) match {
        case POp("begincodespacerange") =>
          var j = i + 1
          while (j < toks.length && toks(j) != POp("endcodespacerange")) {
            toks(j) match { case s: PStr => width = math.max(width, s.bytes.length); case _ => }
            j += 1
          }
          i = j
        case POp("beginbfchar") =>
          var j = i + 1
          while (j + 1 < toks.length && toks(j) != POp("endbfchar")) {
            (toks(j), toks(j + 1)) match {
              case (src: PStr, dst: PStr) => map(codeOf(src)) = utf16(dst); j += 2
              case _                      => j += 1
            }
          }
          i = j
        case POp("beginbfrange") =>
          var j = i + 1
          while (j + 2 < toks.length && toks(j) != POp("endbfrange")) {
            (toks(j), toks(j + 1), toks(j + 2)) match {
              case (lo: PStr, hi: PStr, dst: PStr) =>
                val l = codeOf(lo); val h = codeOf(hi)
                val base = utf16(dst)
                if (base.nonEmpty) {
                  var c = l
                  while (c <= h && c - l < 65536) {
                    val last = (base.last + (c - l)).toChar
                    map(c) = base.dropRight(1) + last
                    c += 1
                  }
                }
                j += 3
              case (lo: PStr, _: PStr, PArr(dsts)) =>
                val l = codeOf(lo)
                dsts.zipWithIndex.foreach {
                  case (s: PStr, k) => map(l + k) = utf16(s)
                  case _            =>
                }
                j += 3
              case _ => j += 1
            }
          }
          i = j
        case _ =>
      }
      i += 1
    }
    val codes = map.keys.toArray.sorted
    CMapDecoder(width, codes, codes.map(map), baseTable("StandardEncoding"))
  }

  /** UCS2-family predefined CMap (UniJIS-UCS2-H and friends, §9.7.5):
    * the 2-byte CODES of the content stream ARE UCS-2 values (the CMap
    * file maps them to CIDs; extraction inverts that for free), so a
    * CJK document without an embedded ToUnicode still yields text.
    * Surrogate-range and NUL codes are not UCS-2 characters → U+FFFD,
    * counted. */
  case object Ucs2Decoder extends FontDecoder {
    def decode(bytes: Array[Byte], out: TextOut): Unit = {
      var i = 0
      while (i + 2 <= bytes.length) {
        val code = ((bytes(i) & 0xff) << 8) | (bytes(i + 1) & 0xff)
        if (code == 0 || (code >= 0xD800 && code <= 0xDFFF)) out.undefined()
        else out.append(code.toChar)
        i += 2
      }
      if (i < bytes.length) out.undefined() // trailing partial code
    }
  }

  /** Identity-H/V without ToUnicode: codes are raw CIDs = glyph
    * indices of the embedded font program — there is no code→Unicode
    * mapping to invert, so every CID decodes U+FFFD and counts as
    * unmapped (the byte stream is still consumed two bytes at a time,
    * preserving character COUNT — never garbled as 1-byte chars). */
  case object IdentityCidDecoder extends FontDecoder {
    def decode(bytes: Array[Byte], out: TextOut): Unit =
      (0 until (bytes.length + 1) / 2).foreach(_ => out.undefined()) // a trailing partial code counts too
  }

  private val Ucs2Name = "Uni(?:JIS|GB|CNS|KS)-UCS2-[HV]".r

  /** Predefined CMap for a Type0 /Encoding NAME (§9.7.5.2): Identity,
    * the UCS2 family, else a DECLARED failure (the legacy charset
    * CMaps — 90ms-RKSJ etc. — need the Adobe CMap files; decoding
    * them as something else would be silently wrong). */
  def predefinedCMap(name: String): FontDecoder = name match {
    case "Identity-H" | "Identity-V" => IdentityCidDecoder
    case n if Ucs2Name.matches(n)    => Ucs2Decoder
    case other => throw new PdfParseException(
      s"unsupported predefined CMap /$other (declared, fail-soft)")
  }

  /** Build the decoder for one font dict (§9.6.6): ToUnicode first,
    * else (Type0) the predefined CMap named by /Encoding, else base
    * encoding + /Differences, else Standard ASCII table. */
  def fontDecoder(doc: PdfDocument, font: PDict): FontDecoder = {
    doc.dictGet(font, "ToUnicode") match {
      case s: PStream =>
        doc.streamData(s) match {
          case Right(d) => return parseToUnicode(d)
          case Left(_)  => // fall through
        }
      case _ =>
    }
    val isType0 = doc.dictGet(font, "Subtype") == PName("Type0")
    doc.dictGet(font, "Encoding") match {
      case PName(enc) if isType0 => predefinedCMap(enc)
      case PName(enc) => TableDecoder(baseTable(enc))
      case ed: PDict =>
        val base = doc.dictGet(ed, "BaseEncoding") match {
          case PName(b) => baseTable(b)
          case _        => baseTable("StandardEncoding")
        }
        val t = base.clone()
        doc.dictGet(ed, "Differences") match {
          case PArr(items) =>
            var code = 0
            items.foreach {
              case PInt(v)   => code = v.toInt
              case PName(g)  =>
                if (code >= 0 && code < 256)
                  t(code) = glyphToChar(g).map(_.toString).getOrElse("")
                code += 1
              case _ =>
            }
          case _ =>
        }
        TableDecoder(t)
      case _ => stdDecoder
    }
  }

  /** Depth cap on Form-XObject recursion (a hostile chain of forms
    * must terminate; real documents nest shallowly). */
  val MaxFormDepth = 8

  /** Extract the text of one page per the pinned reassembly rule. */
  def extractPageText(doc: PdfDocument, page: PDict,
      recurseForms: Boolean = false): String =
    extractPageTextCounted(doc, page, recurseForms)._1

  /** [[extractPageText]] plus the page's `unmapped_codes` count: a
    * String view of [[pageText]]. */
  def extractPageTextCounted(doc: PdfDocument, page: PDict,
      recurseForms: Boolean = false): (String, Long) = {
    val out = views.get
    val unmapped = pageText(doc, page, out, recurseForms)
    (out.toString, unmapped)
  }
  private val views = ThreadLocal.withInitial(() => new TextOut)

  /** The text of one page per the pinned reassembly rule, written as
    * UTF-8 into `out` (cleared first). Returns the page's
    * `unmapped_codes` count — bytes/CIDs the font's encoding left
    * undefined (decoded as U+FFFD, tallied so a Standard/MacRoman
    * high-range document degrades VISIBLY in metrics instead of
    * silently losing glyphs).
    *
    * `recurseForms = true` is a DECLARED EXTENSION: a `Do` of a
    * `/Subtype /Form` XObject executes the form's content stream at
    * that point (its own `/Resources`, falling back to the caller's
    * per §8.10.1; the current font carries in), so letterheads /
    * stamps / generated-PDF form text contributes. The parity default
    * stays page-stream-only, matching the reference's lopdf
    * `extract_text` blindness
    * (/root/reference/extractor/src/engine/mod.rs:100-103). Cycles
    * (self- or mutually-referencing forms) and chains deeper than
    * [[MaxFormDepth]] drop the recursive `Do` — never a hang. */
  def pageText(doc: PdfDocument, page: PDict, out: TextOut,
      recurseForms: Boolean = false): Long = {
    out.clear()
    val content: Array[Byte] = doc.dictGet(page, "Contents") match {
      case s: PStream => doc.streamData(s).getOrElse(Array.emptyByteArray)
      case PArr(xs) =>
        val streams = xs.map(doc.resolve).collect {
          case s: PStream => doc.streamData(s).getOrElse(Array.emptyByteArray)
        }
        if (streams.isEmpty) null
        else if (streams.length == 1) streams.head
        else {
          // §7.8.2: the division between streams is a token boundary
          val total = streams.map(_.length).sum + streams.length - 1
          val out = new Array[Byte](total)
          var p = 0
          streams.zipWithIndex.foreach { case (s, i) =>
            if (i > 0) { out(p) = '\n'; p += 1 }
            System.arraycopy(s, 0, out, p, s.length); p += s.length
          }
          out
        }
      case _ => null
    }
    if (content != null) {
      val it = interps.get
      it.start(doc, out, recurseForms)
      try it.walk(content, doc.dictGet(page, "Resources") match {
        case r: PDict => r
        case _        => null
      }, "", 0)
      finally it.start(null, null, recurse = false)
    }
    out.unmapped
  }
  private val interps = ThreadLocal.withInitial(() => new Interp)

  /** The content-stream interpreter of one thread, reused page after
    * page: the show state and the operand slots are its fields, tokens
    * stream from the lexer, and the per-stream state (font, decoder,
    * text position) lives in [[walk]]'s locals, so a page allocates no
    * interpreter scratch. */
  private final class Interp {
    private var doc: PdfDocument = _
    private var out: TextOut = _
    private var recurseForms = false
    // forms on the recursion STACK by object number — a self- or
    // mutually-referencing form terminates (the guard drops the Do)
    private val visiting = mutable.HashSet.empty[Int]
    // show-state is SHARED across the page and its forms (the form's
    // text lands inline at the Do point)
    private var hasShown = false
    private var lastShowY = 0.0
    // the operands of the pending operator: the first six and the last
    // (no operator reads more)
    private val ops = new Array[PdfObj](6)
    private var nOps = 0
    private var lastOp: PdfObj = PNull

    def start(d: PdfDocument, o: TextOut, recurse: Boolean): Unit = {
      doc = d; out = o; recurseForms = recurse
      visiting.clear(); hasShown = false; lastShowY = 0.0
      java.util.Arrays.fill(ops.asInstanceOf[Array[AnyRef]], null); nOps = 0; lastOp = PNull
    }

    private def op(i: Int): PdfObj = if (i < nOps) ops(i) else PNull
    private def num(i: Int): Double = op(i) match {
      case PInt(v)  => v.toDouble
      case PReal(v) => v
      case _        => 0.0
    }

    private def dictOf(res: PDict, key: String): Map[String, PdfObj] =
      if (res == null) Map.empty
      else doc.dictGet(res, key) match {
        case d: PDict => d.m
        case _        => Map.empty
      }

    /** The decoder of font resource `name`; the build (ToUnicode
      * inflate + CMap parse) is memoized per font object for the whole
      * document, since the same font serves every page. */
    private def decoderFor(fonts: Map[String, PdfObj], name: String): FontDecoder =
      doc.resolve(fonts.getOrElse(name, PNull)) match {
        case f: PDict =>
          val hit = doc.fontDecoderCache.get(f)
          if (hit != null) hit
          else {
            val built = fontDecoder(doc, f)
            doc.fontDecoderCache.put(f, built)
            built
          }
        case _ => stdDecoder
      }

    /** One show operator's string or TJ array, under the newline rule:
      * a newline goes before a non-empty show iff something was shown
      * already and the line moved since. */
    private def show(strs: PdfObj, dec: FontDecoder, lineY: Double): Unit = {
      val before = out.mark
      if (hasShown && lineY != lastShowY) out.append('\n')
      val atText = out.mark
      strs match {
        case s: PStr => dec.decode(s.bytes, out)
        case PArr(items) =>
          var i = 0
          while (i < items.length) {
            items(i) match { case s: PStr => dec.decode(s.bytes, out); case _ => }
            i += 1
          }
        case _ =>
      }
      if (out.mark == atText) out.reset(before) // nothing shown: no newline either
      else { hasShown = true; lastShowY = lineY }
    }

    def walk(content: Array[Byte], res: PDict, startFont: String, depth: Int): Unit = {
      // font name → decoder from THIS stream's /Resources /Font (forms
      // scope their own resources)
      val fonts = dictOf(res, "Font")
      val xobjs = if (recurseForms) dictOf(res, "XObject") else Map.empty[String, PdfObj]
      val lx = new Lexer(content, 0)
      var font = startFont
      var dec: FontDecoder = null
      var leading = 0.0
      var lineY = 0.0
      nOps = 0
      var t = lx.nextContentToken()
      while (t != null) {
        t match {
          case POp(name) =>
            name match {
              case "BT" => lineY = 0.0
              case "Tf" => op(0) match { case PName(n) => font = n; dec = null; case _ => () }
              case "TL" => if (nOps > 0) leading = num(0)
              case "Td" => if (nOps >= 2) lineY += num(1)
              case "TD" => if (nOps >= 2) { leading = -num(1); lineY += num(1) }
              case "Tm" => if (nOps >= 6) lineY = num(5)
              case "T*" => lineY -= leading
              case "Tj" | "'" | "\"" | "TJ" =>
                if (name == "'" || name == "\"") lineY -= leading
                // Tj, ' and " show a string, TJ an array (its kerning
                // numbers insert nothing); an operand of the other type
                // shows nothing. A font's decoder is built when it first
                // has a string to show
                val strs = if (name == "\"") lastOp else op(0)
                val hasStr = strs match {
                  case _: PStr     => name != "TJ"
                  case PArr(items) => name == "TJ" && items.exists(_.isInstanceOf[PStr])
                  case _           => false
                }
                if (hasStr) {
                  if (dec == null) dec = decoderFor(fonts, font)
                  show(strs, dec, lineY)
                }
              case "Do" if recurseForms =>
                op(0) match { case PName(n) => doForm(xobjs, n, res, font, depth); case _ => () }
              case _ => // graphics / color / marked-content operators: ignored
            }
            nOps = 0
            lastOp = PNull
          case operand =>
            if (nOps < ops.length) ops(nOps) = operand
            nOps += 1
            lastOp = operand
        }
        t = lx.nextContentToken()
      }
    }

    private def doForm(xobjs: Map[String, PdfObj], name: String, res: PDict, font: String,
        depth: Int): Unit = {
      val ref = xobjs.getOrElse(name, PNull)
      val objNum = ref match { case PRef(n, _) => n; case _ => -1 }
      doc.resolve(ref) match {
        case s: PStream if doc.dictGet(s.dict, "Subtype") == PName("Form") =>
          if (depth < MaxFormDepth && (objNum < 0 || visiting.add(objNum))) {
            try {
              val formRes = doc.dictGet(s.dict, "Resources") match {
                case r: PDict => r
                case _        => res // §8.10.1: absent → caller's scope
              }
              doc.streamData(s).foreach(d => walk(d, formRes, font, depth + 1))
            } finally if (objNum >= 0) visiting.remove(objNum)
          }
        case _ => () // image XObjects: handled by the media path
      }
    }
  }

  /** Enumerate image XObjects of a page in /Resources declaration
    * order (sorted by name for determinism). Mirrors what the
    * reference walks via `get_page_images`
    * (/root/reference/extractor/src/engine/mod.rs:105-108); per parity
    * pin SURVEY.md §2.6.1 these never reach the span output — used for
    * metrics and non-parity media accounting only. */
  def pageImageNames(doc: PdfDocument, page: PDict): Vector[String] =
    pageImageObjects(doc, page).map(_._1)

  /** Image XObjects of a page, (resource name, stream), in stable
    * name order — the enumeration `get_page_images` exposes to the
    * reference's image loop (engine/mod.rs:105-107). */
  def pageImageObjects(doc: PdfDocument, page: PDict): Vector[(String, PStream)] = {
    doc.dictGet(page, "Resources") match {
      case r: PDict => doc.dictGet(r, "XObject") match {
        case x: PDict =>
          x.m.toVector.sortBy(_._1).flatMap { case (name, ref) =>
            doc.resolve(ref) match {
              case s: PStream if doc.dictGet(s.dict, "Subtype") == PName("Image") =>
                Some(name -> s)
              case _ => None
            }
          }
        case _ => Vector.empty
      }
      case _ => Vector.empty
    }
  }
}
