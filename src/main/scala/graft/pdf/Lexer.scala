package graft.pdf


/** Byte-level PDF lexer/parser (ISO 32000-1 §7.2-7.3), from scratch.
  *
  * One instance per buffer; `pos` is mutable. Used both for document
  * body objects and (via [[tokenizeContent]]) for content streams —
  * the same token grammar covers both (spec §7.8.2).
  */
final class Lexer(val buf: Array[Byte], var pos: Int = 0) {

  @inline def atEnd: Boolean = pos >= buf.length
  @inline private def cur: Int = if (pos < buf.length) buf(pos) & 0xff else -1
  @inline private def peek(k: Int): Int = if (pos + k < buf.length) buf(pos + k) & 0xff else -1

  @inline def isWs(c: Int): Boolean =
    c == 0x20 || c == 0x0a || c == 0x0d || c == 0x09 || c == 0x0c || c == 0x00
  @inline def isDelim(c: Int): Boolean =
    c == '(' || c == ')' || c == '<' || c == '>' || c == '[' || c == ']' ||
      c == '{' || c == '}' || c == '/' || c == '%'
  @inline def isRegular(c: Int): Boolean = c >= 0 && !isWs(c) && !isDelim(c)

  /** Skip whitespace and `%` comments (comment runs to EOL, §7.2.4). */
  def skipWs(): Unit = {
    var go = true
    while (go) {
      while (isWs(cur)) pos += 1
      if (cur == '%') {
        while (!atEnd && cur != 0x0a && cur != 0x0d) pos += 1
      } else go = false
    }
  }

  /** Skip ws, consume one keyword token, return its first byte only —
    * for single-letter keywords (xref 'n'/'f') without a String. */
  def readKeywordChar(): Int = {
    skipWs()
    val c0 = cur
    while (isRegular(cur)) pos += 1
    c0
  }

  /** True if the bytes at `pos` match `s` and the match ends at a
    * token boundary (non-regular char or EOF). */
  def peekKeyword(s: String): Boolean = {
    var i = 0
    while (i < s.length) {
      if (peek(i) != s.charAt(i)) return false
      i += 1
    }
    !isRegular(peek(s.length))
  }

  def expectKeyword(s: String): Unit = {
    skipWs()
    if (!peekKeyword(s)) throw new PdfParseException(s"expected '$s' at offset $pos")
    pos += s.length
  }

  /** Skip ws and parse a bare non-negative integer without boxing —
    * the xref fast path (two ints per entry over millions of entries). */
  def parsePrimInt(): Long = {
    skipWs()
    var v = 0L
    var digits = 0
    while (cur >= '0' && cur <= '9') { v = v * 10 + (cur - '0'); digits += 1; pos += 1 }
    if (digits == 0) throw new PdfParseException(s"expected integer at $pos")
    v
  }

  private def parseNumber(): PdfObj = {
    val start = pos
    var neg = false
    if (cur == '+' || cur == '-') { neg = cur == '-'; pos += 1 }
    var intPart = 0L
    var digits = 0
    while (cur >= '0' && cur <= '9') { intPart = intPart * 10 + (cur - '0'); digits += 1; pos += 1 }
    if (cur == '.') {
      // reals go through String.toDouble to keep exact JDK parse semantics
      pos += 1
      while (cur >= '0' && cur <= '9') pos += 1
      val s = new String(buf, start, pos - start, java.nio.charset.StandardCharsets.US_ASCII)
      if (s == "+." || s == "-." || s == ".")
        throw new PdfParseException(s"bad number at $start")
      PReal(s.toDouble)
    } else {
      if (digits == 0) throw new PdfParseException(s"bad number at $start")
      Lexer.intObj(if (neg) -intPart else intPart)
    }
  }

  private def parseName(): PName = {
    pos += 1 // '/'
    val start = pos
    var hasEscape = false
    while (isRegular(cur)) {
      if (cur == '#' && hexVal(peek(1)) >= 0 && hexVal(peek(2)) >= 0) { hasEscape = true; pos += 3 }
      else pos += 1
    }
    if (!hasEscape) {
      // §7.3.5: a name is a byte sequence; each byte maps to one char
      // (ISO-8859-1), the same decode the `#xx` path below applies
      val cached = Lexer.nameTable.get(buf, start, pos - start)
      if (cached != null) cached
      else PName(new String(buf, start, pos - start, java.nio.charset.StandardCharsets.ISO_8859_1))
    } else {
      pos = start
      val sb = new java.lang.StringBuilder
      while (isRegular(cur)) {
        if (cur == '#' && hexVal(peek(1)) >= 0 && hexVal(peek(2)) >= 0) {
          sb.append(((hexVal(peek(1)) << 4) | hexVal(peek(2))).toChar)
          pos += 3
        } else { sb.append(cur.toChar); pos += 1 }
      }
      PName(sb.toString)
    }
  }

  @inline private def hexVal(c: Int): Int =
    if (c >= '0' && c <= '9') c - '0'
    else if (c >= 'a' && c <= 'f') c - 'a' + 10
    else if (c >= 'A' && c <= 'F') c - 'A' + 10
    else -1

  private def parseLiteralString(): PStr = {
    pos += 1 // '('
    // fast path: no escape before the balancing ')' — the bytes are the
    // string's own, copied once
    val start = pos
    var p = pos
    var depth0 = 1
    while (p < buf.length && buf(p) != '\\' && depth0 > 0) {
      if (buf(p) == '(') depth0 += 1 else if (buf(p) == ')') depth0 -= 1
      p += 1
    }
    if (depth0 == 0) {
      pos = p
      return PStr(java.util.Arrays.copyOfRange(buf, start, p - 1))
    }
    val out = new java.io.ByteArrayOutputStream(32)
    var depth = 1
    while (depth > 0) {
      if (atEnd) throw new PdfParseException("unterminated string")
      val c = cur
      if (c == '\\') {
        pos += 1
        val e = cur
        e match {
          case 'n' => out.write('\n'); pos += 1
          case 'r' => out.write('\r'); pos += 1
          case 't' => out.write('\t'); pos += 1
          case 'b' => out.write(0x08); pos += 1
          case 'f' => out.write(0x0c); pos += 1
          case '(' => out.write('('); pos += 1
          case ')' => out.write(')'); pos += 1
          case '\\' => out.write('\\'); pos += 1
          case 0x0d => pos += 1; if (cur == 0x0a) pos += 1 // line continuation
          case 0x0a => pos += 1
          case d if d >= '0' && d <= '7' =>
            var v = 0; var n = 0
            while (n < 3 && cur >= '0' && cur <= '7') { v = v * 8 + (cur - '0'); pos += 1; n += 1 }
            out.write(v & 0xff)
          case _ => out.write(e); pos += 1 // unknown escape: keep char (spec)
        }
      } else if (c == '(') { depth += 1; out.write('('); pos += 1 }
      else if (c == ')') {
        depth -= 1
        if (depth > 0) out.write(')')
        pos += 1
      } else { out.write(c); pos += 1 }
    }
    PStr(out.toByteArray)
  }

  private def parseHexString(): PStr = {
    pos += 1 // '<'
    val out = new java.io.ByteArrayOutputStream(32)
    var hi = -1
    while (cur != '>') {
      if (atEnd) throw new PdfParseException("unterminated hex string")
      val v = hexVal(cur)
      if (v >= 0) {
        if (hi < 0) hi = v
        else { out.write((hi << 4) | v); hi = -1 }
      }
      pos += 1
    }
    if (hi >= 0) out.write(hi << 4) // odd count: pad 0 (§7.3.4.3)
    pos += 1 // '>'
    PStr(out.toByteArray)
  }

  private def parseDict(): PdfObj = {
    pos += 2 // '<<'
    // the entries collect in the thread's scratch arrays, above those
    // of any dict being parsed around this one, and are copied out once;
    // past ArrayMap.MaxLinear entries a hash map builder takes them over
    val s = Lexer.dictScratch.get
    val base = s.top
    var big: scala.collection.mutable.Builder[(String, PdfObj), Map[String, PdfObj]] = null
    try {
      skipWs()
      while (!(cur == '>' && peek(1) == '>')) {
        if (atEnd) throw new PdfParseException("unterminated dict")
        if (cur != '/') throw new PdfParseException(s"dict key must be a name at $pos")
        val k = parseName().v
        val v = parseObject()
        if (v != PNull) { // /K null ≡ absent (§7.3.7)
          if (big != null) big += (k -> v)
          else if (!s.put(base, k, v)) {
            big = scala.collection.immutable.HashMap.newBuilder[String, PdfObj]
            var i = base
            while (i < s.top) { big += (s.kv(i).asInstanceOf[String] -> s.kv(i + 1).asInstanceOf[PdfObj]); i += 2 }
            s.top = base
            big += (k -> v)
          }
        }
        skipWs()
      }
      pos += 2
      PDict(if (big != null) big.result() else ArrayMap.of(s.kv, base, s.top))
    } finally s.top = base
  }

  private def parseArray(): PArr = {
    pos += 1 // '['
    val items = Vector.newBuilder[PdfObj]
    skipWs()
    while (cur != ']') {
      if (atEnd) throw new PdfParseException("unterminated array")
      items += parseObject()
      skipWs()
    }
    pos += 1
    PArr(items.result())
  }

  /** Parse one object. After an integer, looks ahead for `gen R` to
    * produce an indirect reference (backtracks otherwise). */
  def parseObject(): PdfObj = {
    skipWs()
    cur match {
      case -1  => throw new PdfParseException("unexpected EOF")
      case '/' => parseName()
      case '(' => parseLiteralString()
      case '[' => parseArray()
      case '<' => if (peek(1) == '<') parseDict() else parseHexString()
      case c if c == '+' || c == '-' || c == '.' || (c >= '0' && c <= '9') =>
        val n = parseNumber()
        n match {
          case PInt(num) if num >= 0 =>
            // `gen R` lookahead on primitives: the generation is scanned,
            // not parsed into a PInt that is dropped on the (common)
            // backtrack. A real or a wrapped-negative generation is no
            // reference, as parseNumber would have decided.
            val save = pos
            skipWs()
            if (cur >= '0' && cur <= '9') {
              var gen = 0L
              while (cur >= '0' && cur <= '9') { gen = gen * 10 + (cur - '0'); pos += 1 }
              if (cur != '.' && gen >= 0) {
                skipWs()
                if (cur == 'R' && !isRegular(peek(1))) { pos += 1; PRef(num.toInt, gen.toInt) }
                else { pos = save; n }
              } else { pos = save; n }
            } else { pos = save; n }
          case _ => n
        }
      case 't' if peekKeyword("true")  => pos += 4; PBool(true)
      case 'f' if peekKeyword("false") => pos += 5; PBool(false)
      case 'n' if peekKeyword("null")  => pos += 4; PNull
      case c => throw new PdfParseException(s"unexpected byte '${c.toChar}' ($c) at $pos")
    }
  }

  /** Tokenize a content stream into operands + [[POp]] operators
    * (§7.8.2); see [[nextContentToken]]. */
  def tokenizeContent(): Vector[PdfObj] = {
    val out = Vector.newBuilder[PdfObj]
    var t = nextContentToken()
    while (t != null) { out += t; t = nextContentToken() }
    out.result()
  }

  /** The next operand or [[POp]] operator of a content stream, or null
    * at its end. Inline images (BI..EI) are skipped wholesale — they
    * carry no text. Malformed trailing bytes end the token stream
    * (fail-soft, mirroring the reference's skip-on-error posture,
    * /root/reference/extractor/src/engine/mod.rs:100-103). */
  def nextContentToken(): PdfObj = {
    var out: PdfObj = null
    var ok = true
    while (ok && out == null) {
      skipWs()
      if (atEnd) ok = false
      else {
        val c = cur
        try {
          if (c == '/' || c == '(' || c == '[' || c == '<' ||
              c == '+' || c == '-' || c == '.' || (c >= '0' && c <= '9')) {
            // content streams contain no indirect refs; a bare "R" after
            // two ints cannot occur, so parseObject's lookahead is safe
            out = parseObject()
          } else if (isRegular(c)) {
            val start = pos
            while (isRegular(cur)) pos += 1
            val len = pos - start
            val kw = Lexer.keywordTable.get(buf, start, len)
            if (kw != null) out = kw
            else if (len == 2 && buf(start) == 'B' && buf(start + 1) == 'I') {
              // skip inline image up to EI at a token boundary
              var done = false
              while (!done && pos < buf.length - 1) {
                if ((buf(pos) & 0xff) == 'E' && (buf(pos + 1) & 0xff) == 'I' &&
                    (pos + 2 >= buf.length || !isRegular(buf(pos + 2) & 0xff)) &&
                    (pos == 0 || isWs(buf(pos - 1) & 0xff))) {
                  pos += 2; done = true
                } else pos += 1
              }
              if (!done) ok = false
            } else out = POp(new String(buf, start, len, java.nio.charset.StandardCharsets.ISO_8859_1))
          } else ok = false
        } catch { case _: PdfParseException => ok = false }
      }
    }
    if (!ok) pos = buf.length // the stream ends here, also for later calls
    out
  }
}

object Lexer {
  /** Shared PName instances for the names that appear in essentially
    * every document — avoids a PName + String per dict key/value on
    * the million-object scan path. Lookups go by the name's bytes
    * (through a table built from this map once), so a name found here
    * allocates nothing; only a miss builds its String and PName. */
  val internedNames: java.util.HashMap[String, PName] = {
    val m = new java.util.HashMap[String, PName]()
    Seq(
      "Type", "Page", "Pages", "Kids", "Contents", "Resources", "Font",
      "Length", "Filter", "FlateDecode", "DCTDecode", "Root", "Size", "Prev",
      "Info", "N", "First", "XRef", "ObjStm", "Index", "W", "Subtype",
      "Image", "XObject", "MediaBox", "CropBox", "Rotate", "Parent", "Count",
      "Encoding", "BaseEncoding", "Differences", "ToUnicode", "WinAnsiEncoding",
      "StandardEncoding", "MacRomanEncoding", "Catalog", "DecodeParms", "DP",
      "Predictor", "Columns", "Colors", "BitsPerComponent", "Width", "Height",
      "ColorSpace", "DeviceRGB", "DeviceGray", "Name", "BaseFont", "F1", "F2",
      "F3", "Im0", "Im1", "Im2").foreach(n => m.put(n, PName(n)))
    m
  }

  /** Shared POp instances for the frequent content-stream operators.
    * Like [[internedNames]], looked up by the operator's bytes: a hit
    * allocates nothing, a miss builds one String and POp. */
  val internedOps: java.util.HashMap[String, POp] = {
    val m = new java.util.HashMap[String, POp]()
    Seq(
      "BT", "ET", "Tj", "TJ", "Td", "TD", "Tf", "Tm", "TL", "T*", "Tc", "Tw",
      "Tz", "Ts", "Tr", "'", "\"", "q", "Q", "cm", "re", "f", "W", "n", "S",
      "s", "g", "G", "rg", "RG", "k", "K", "gs", "Do", "m", "l", "c", "h",
      "w", "J", "j", "M", "d", "ri", "i", "BDC", "EMC", "BMC", "MP", "DP",
      "cs", "CS", "sc", "SC", "scn", "SCN").foreach(o => m.put(o, POp(o)))
    m
  }

  /** Shared PInt instances for the small integers content streams and
    * dicts are full of (coordinates, sizes, generation 0). */
  private val smallInts: Array[PInt] = Array.tabulate(1280)(i => PInt(i - 256L))
  private[pdf] def intObj(v: Long): PInt =
    if (v >= -256 && v < 1024) smallInts((v + 256).toInt) else PInt(v)

  private[pdf] val nameTable: ByteKeyTable[PName] = ByteKeyTable(internedNames)

  /** The entries of the dicts being parsed on one thread, innermost on
    * top, interleaved as in [[ArrayMap]]; `top` is the first free slot. */
  private[pdf] final class DictScratch {
    var kv = new Array[AnyRef](64)
    var top = 0

    /** Add an entry to the dict whose entries start at `base`; a later
      * duplicate key replaces the earlier value (§7.3.7 leaves it
      * undefined; the last one wins, as a map builder would). False,
      * adding nothing, for a new key once the dict holds
      * [[ArrayMap.MaxLinear]] entries: a larger dict is hashed. */
    def put(base: Int, k: String, v: PdfObj): Boolean = {
      var i = base
      while (i < top && !k.equals(kv(i))) i += 2
      if (i < top) { kv(i + 1) = v; true }
      else if (top - base == 2 * ArrayMap.MaxLinear) false
      else {
        if (top == kv.length) kv = java.util.Arrays.copyOf(kv, top * 2)
        kv(top) = k; kv(top + 1) = v; top += 2
        true
      }
    }
  }
  private[pdf] val dictScratch: ThreadLocal[DictScratch] = ThreadLocal.withInitial(() => new DictScratch)

  /** Content-stream keywords: the interned operators plus the three
    * keyword objects (§7.3.2, §7.3.9). */
  private[pdf] val keywordTable: ByteKeyTable[PdfObj] = {
    val m = new java.util.HashMap[String, PdfObj](internedOps)
    m.put("true", PBool(true)); m.put("false", PBool(false)); m.put("null", PNull)
    ByteKeyTable(m)
  }
}

/** Read-only open-addressing table from ISO-8859-1 byte strings to
  * values, probed with a byte range of a buffer so a lookup builds no
  * key. Fixed at construction; safe to share across threads. */
private[pdf] final class ByteKeyTable[V <: AnyRef] private (
    keys: Array[Array[Byte]], values: Array[AnyRef]) {

  /** The value for `buf(start until start + len)`, or null. */
  def get(buf: Array[Byte], start: Int, len: Int): V = {
    val mask = keys.length - 1
    var i = ByteKeyTable.hash(buf, start, len) & mask
    while (keys(i) != null) {
      if (java.util.Arrays.equals(keys(i), 0, keys(i).length, buf, start, start + len))
        return values(i).asInstanceOf[V]
      i = (i + 1) & mask
    }
    null.asInstanceOf[V]
  }
}

private[pdf] object ByteKeyTable {
  private def hash(b: Array[Byte], start: Int, len: Int): Int = {
    var h = len
    var i = start
    while (i < start + len) { h = h * 31 + b(i); i += 1 }
    h ^ (h >>> 16)
  }

  def apply[V <: AnyRef](m: java.util.Map[String, V]): ByteKeyTable[V] = {
    var cap = 16
    while (cap < m.size * 4) cap <<= 1 // load factor ≤ 1/4: short probes
    val keys = new Array[Array[Byte]](cap)
    val values = new Array[AnyRef](cap)
    m.forEach { (k, v) =>
      val kb = k.getBytes(java.nio.charset.StandardCharsets.ISO_8859_1)
      var i = hash(kb, 0, kb.length) & (cap - 1)
      while (keys(i) != null) i = (i + 1) & (cap - 1)
      keys(i) = kb; values(i) = v
    }
    new ByteKeyTable[V](keys, values)
  }
}
