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

  /** Per-extraction tally of codes the active encoding leaves
    * undefined. Each such code decodes as U+FFFD — visible in the
    * output — and increments this counter, which rides the span
    * metrics as `unmapped_codes` (never a silent drop; cf. the
    * declared-failure posture of JBIG2/crypt). */
  final class UnmappedCounter { var n: Long = 0L }

  sealed trait FontDecoder {
    def decode(bytes: Array[Byte], ctr: UnmappedCounter): String
    /** Count-free convenience (tests/CLI display); a fresh throwaway
      * counter per call — a shared sink would be cross-thread-mutable
      * state for no benefit. */
    final def decode(bytes: Array[Byte]): String = decode(bytes, new UnmappedCounter)
  }

  /** Simple (1-byte) font via a 256-entry table. */
  final case class TableDecoder(table: Array[String]) extends FontDecoder {
    def decode(bytes: Array[Byte], ctr: UnmappedCounter): String = {
      val sb = new java.lang.StringBuilder(bytes.length)
      var i = 0
      while (i < bytes.length) {
        val s = table(bytes(i) & 0xff)
        if (s.isEmpty) { sb.append('�'); ctr.n += 1 } else sb.append(s)
        i += 1
      }
      sb.toString
    }
  }

  /** CMap-driven decoder (ToUnicode); codes are 1 or 2 bytes wide. */
  final case class CMapDecoder(bytesPerCode: Int, map: Map[Int, String], fallback: Array[String])
      extends FontDecoder {
    def decode(bytes: Array[Byte], ctr: UnmappedCounter): String = {
      val sb = new java.lang.StringBuilder(bytes.length)
      var i = 0
      while (i + bytesPerCode <= bytes.length) {
        var code = 0
        var j = 0
        while (j < bytesPerCode) { code = (code << 8) | (bytes(i + j) & 0xff); j += 1 }
        map.get(code) match {
          case Some(s) => sb.append(s)
          case None =>
            val viaTable = if (bytesPerCode == 1) fallback(code) else ""
            if (viaTable.isEmpty) { sb.append('�'); ctr.n += 1 }
            else sb.append(viaTable)
        }
        i += bytesPerCode
      }
      if (i < bytes.length) { sb.append('�'); ctr.n += 1 } // trailing partial code
      sb.toString
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
    CMapDecoder(width, map.toMap, baseTable("StandardEncoding"))
  }

  /** UCS2-family predefined CMap (UniJIS-UCS2-H and friends, §9.7.5):
    * the 2-byte CODES of the content stream ARE UCS-2 values (the CMap
    * file maps them to CIDs; extraction inverts that for free), so a
    * CJK document without an embedded ToUnicode still yields text.
    * Surrogate-range and NUL codes are not UCS-2 characters → U+FFFD,
    * counted. */
  case object Ucs2Decoder extends FontDecoder {
    def decode(bytes: Array[Byte], ctr: UnmappedCounter): String = {
      val sb = new java.lang.StringBuilder(bytes.length / 2)
      var i = 0
      while (i + 2 <= bytes.length) {
        val code = ((bytes(i) & 0xff) << 8) | (bytes(i + 1) & 0xff)
        if (code == 0 || (code >= 0xD800 && code <= 0xDFFF)) { sb.append('�'); ctr.n += 1 }
        else sb.append(code.toChar)
        i += 2
      }
      if (i < bytes.length) { sb.append('�'); ctr.n += 1 } // trailing partial code
      sb.toString
    }
  }

  /** Identity-H/V without ToUnicode: codes are raw CIDs = glyph
    * indices of the embedded font program — there is no code→Unicode
    * mapping to invert, so every CID decodes U+FFFD and counts as
    * unmapped (the byte stream is still consumed two bytes at a time,
    * preserving character COUNT — never garbled as 1-byte chars). */
  case object IdentityCidDecoder extends FontDecoder {
    def decode(bytes: Array[Byte], ctr: UnmappedCounter): String = {
      val n = (bytes.length + 1) / 2 // a trailing partial code counts too
      ctr.n += n
      "�" * n
    }
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

  /** [[extractPageText]] plus the page's `unmapped_codes` count —
    * bytes/CIDs the font's encoding left undefined (decoded as U+FFFD,
    * tallied so a Standard/MacRoman high-range document degrades
    * VISIBLY in metrics instead of silently losing glyphs).
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
  def extractPageTextCounted(doc: PdfDocument, page: PDict,
      recurseForms: Boolean = false): (String, Long) = {
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
    if (content == null) return ("", 0L)

    val sb = new java.lang.StringBuilder
    val unmapped = new UnmappedCounter
    // show-state is SHARED across the page and its forms (the form's
    // text lands inline at the Do point); text-position state is
    // per-stream
    var lastShowY = 0.0
    var hasShown = false
    def show(text: String, lineY: Double): Unit = {
      if (text.nonEmpty) {
        if (hasShown && lineY != lastShowY) sb.append('\n')
        sb.append(text)
        hasShown = true
        lastShowY = lineY
      }
    }
    // forms on the recursion STACK by object number — a self- or
    // mutually-referencing form terminates (the guard drops the Do);
    // only a walk that recurses into forms needs one
    val visiting = if (recurseForms) mutable.HashSet.empty[Int] else null

    def mapOf(res: Option[PDict], key: String): Map[String, PdfObj] =
      res match {
        case Some(r) => doc.dictGet(r, key) match {
          case f: PDict => f.m
          case _        => Map.empty
        }
        case None => Map.empty
      }

    def walk(content: Array[Byte], res: Option[PDict], startFont: String,
        depth: Int): Unit = {
      // font name → decoder, resolved lazily from THIS stream's
      // /Resources /Font (forms scope their own resources)
      val fontDict = mapOf(res, "Font")
      val xobjDict =
        if (recurseForms) mapOf(res, "XObject") else Map.empty[String, PdfObj]
      val decoders = mutable.HashMap.empty[String, FontDecoder]
      def decoderFor(name: String): FontDecoder = {
        val known = decoders.getOrElse(name, null)
        if (known != null) known
        else {
          val d = doc.resolve(fontDict.getOrElse(name, PNull)) match {
            case f: PDict =>
              // doc-level memo: the same font object serves every page,
              // so the build (ToUnicode inflate + CMap parse) runs once
              // per document, not once per page
              val hit = doc.fontDecoderCache.get(f)
              if (hit != null) hit
              else {
                val built = fontDecoder(doc, f)
                doc.fontDecoderCache.put(f, built)
                built
              }
            case _ => stdDecoder
          }
          decoders(name) = d
          d
        }
      }

      val toks = new Lexer(content, 0).tokenizeContent()
      var curFont = startFont
      var leading = 0.0
      var lineY = 0.0
      val operands = mutable.ArrayBuffer.empty[PdfObj]
      def dec(s: PStr): String = decoderFor(curFont).decode(s.bytes, unmapped)
      def num(o: PdfObj): Double = o.asNum.getOrElse(0.0)

      def doForm(name: String): Unit = {
        val ref = xobjDict.get(name)
        val objNum = ref match { case Some(PRef(n, _)) => Some(n); case _ => None }
        ref.map(doc.resolve).foreach {
          case s: PStream if doc.dictGet(s.dict, "Subtype") == PName("Form") =>
            if (depth < MaxFormDepth && objNum.forall(visiting.add)) {
              try {
                val formRes = doc.dictGet(s.dict, "Resources") match {
                  case r: PDict => Some(r)
                  case _        => res // §8.10.1: absent → caller's scope
                }
                doc.streamData(s).foreach(d => walk(d, formRes, curFont, depth + 1))
              } finally objNum.foreach(visiting.remove)
            }
          case _ => () // image XObjects: handled by the media path
        }
      }

      // the first / last operand, PNull when there is none
      def first: PdfObj = if (operands.nonEmpty) operands(0) else PNull
      def last: PdfObj = if (operands.nonEmpty) operands(operands.length - 1) else PNull

      toks.foreach {
        case op: POp =>
          op.op match {
            case "BT" => lineY = 0.0
            case "ET" =>
            case "Tf" => first match { case PName(n) => curFont = n; case _ => () }
            case "TL" => if (operands.nonEmpty) leading = num(operands(0))
            case "Td" => if (operands.length >= 2) lineY += num(operands(1))
            case "TD" => if (operands.length >= 2) { leading = -num(operands(1)); lineY += num(operands(1)) }
            case "Tm" => if (operands.length >= 6) lineY = num(operands(5))
            case "T*" => lineY -= leading
            case "Tj" => first match { case s: PStr => show(dec(s), lineY); case _ => () }
            case "'" =>
              lineY -= leading
              first match { case s: PStr => show(dec(s), lineY); case _ => () }
            case "\"" =>
              lineY -= leading
              last match { case s: PStr => show(dec(s), lineY); case _ => () }
            case "TJ" =>
              first match {
                case PArr(items) =>
                  val text = items.collect { case s: PStr => dec(s) }.mkString // numbers: no space (pin)
                  show(text, lineY)
                case _ => ()
              }
            case "Do" if recurseForms =>
              first match { case PName(n) => doForm(n); case _ => () }
            case _ => // graphics / color / marked-content operators: ignored
          }
          operands.clear()
        case operand => operands += operand
      }
    }

    val pageRes = doc.dictGet(page, "Resources") match {
      case r: PDict => Some(r)
      case _        => None
    }
    walk(content, pageRes, "", 0)
    (sb.toString, unmapped.n)
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
