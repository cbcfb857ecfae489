package graft.pdf

import scala.collection.mutable

/** From-scratch PDF document reader: xref table + xref-stream walk,
  * object-stream (/Type /ObjStm) decode, page-tree traversal — the
  * surface the reference reaches through `lopdf::Document::load` /
  * `get_pages` (/root/reference/extractor/src/engine/mod.rs:58,63,72),
  * re-implemented from ISO 32000-1 §7.5. No external parsing library.
  */
final class PdfDocument private (
    val buf: Array[Byte],
    xref: PdfDocument.XrefIndex,
    val trailer: PDict,
    password: Array[Byte]) {

  import PdfDocument._

  // parsed objects and the cycle guard, by xref slot (an object's
  // position in the index, so both are sized by the entries the file
  // lists, never by an object number)
  private val cache = new Array[PdfObj](xref.size)
  private val loading = new Array[Boolean](xref.size)
  private val objStmCache = mutable.HashMap.empty[Int, Array[PdfObj]]

  /** Font decoders memoized per font OBJECT for the document's
    * lifetime: fonts are shared across pages, but the decoder build
    * (ToUnicode CMap inflate + parse, or a 256-entry table with
    * /Differences applied) ran once per page before this cache — a
    * 32-page document re-inflated each font's ToUnicode stream 32
    * times. Keyed by instance identity: indirect fonts resolve to the
    * one cached [[PdfObj]], so identity is exact and cheaper than
    * structural equality; a (rare) direct font dict embedded per page
    * misses and just rebuilds, which is the pre-cache behavior.
    * Decoders are immutable; a document is driven by one task thread
    * (the fan-out path loads its own instance per chunk). */
  private[pdf] val fontDecoderCache =
    new java.util.IdentityHashMap[PDict, ContentText.FontDecoder]()

  /** Standard-security-handler decryption (ISO 32000-1 §7.6; empty
    * user password — [[PdfCrypt]]). Initialized EAGERLY so stream
    * parsing can consult it; while it is being built (resolving the
    * /Encrypt dict — a plain dict, which the spec forbids living in an
    * object stream) `cryptReady` is false and streams parse raw. A
    * non-empty-password or unsupported-scheme document throws the
    * declared [[PdfCrypt.PdfCryptException]] here, which document
    * loading surfaces fail-soft like any parse failure. */
  /** The /Encrypt dictionary's own object number: its strings (/O /U
    * /UE /OE /Perms) are NOT encrypted (§7.6.2) and must parse raw
    * even after the handler is live. -1 when direct or absent. */
  private val encryptObjNum: Int = trailer.get("Encrypt") match {
    case Some(PRef(n, _)) => n
    case _                => -1
  }

  private var cryptReady = false
  private val crypt: Option[PdfCrypt.StdSecurityHandler] = {
    val h = trailer.get("Encrypt") match {
      case None => None
      case Some(ref) =>
        val encDict = resolve(ref) match {
          case d: PDict => d
          case _ => throw new PdfParseException("/Encrypt is not a dictionary")
        }
        val id0 = resolve(trailer.get("ID").getOrElse(PNull)) match {
          case PArr(items) if items.nonEmpty => resolve(items.head) match {
            case PStr(bs) => bs
            case _ => Array.emptyByteArray
          }
          case _ => Array.emptyByteArray
        }
        Some(PdfCrypt.forDocument(encDict, id0, resolve, password))
    }
    cryptReady = true
    // objects resolved WHILE the handler was being built parsed raw
    // (cryptReady false) and were memoized; on an encrypted document a
    // hostile file could route /Encrypt or /ID resolution through an
    // object stream, leaving that ObjStm container cached undecrypted
    // — evict everything construction touched so post-init reads
    // re-parse with decryption (normally a fail-soft parse error, but
    // garbage must not stay cached)
    if (h.isDefined) { java.util.Arrays.fill(cache.asInstanceOf[Array[AnyRef]], null); objStmCache.clear() }
    h
  }

  /** True when the document has a standard-security handler. Both
    * stream payloads AND top-level strings decrypt (Algorithm 1), so
    * [[PdfMeta]] works on the encrypted class too. */
  def isEncrypted: Boolean = crypt.isDefined

  /** Algorithm 1 over every string nested in an indirect object's
    * body (§7.6.2: strings are encrypted with the same per-object
    * keys as streams). Streams are handled separately at slice time;
    * strings INSIDE object streams are already plaintext (the ObjStm
    * container decrypted as a stream) and never reach this. */
  private def decryptStrings(o: PdfObj, num: Int, gen: Int): PdfObj = o match {
    case PStr(b)   => PStr(crypt.get.decryptString(num, gen, b))
    case PArr(xs)  => PArr(xs.map(decryptStrings(_, num, gen)))
    case PDict(m)  => PDict(m.map { case (k, v) => k -> decryptStrings(v, num, gen) })
    case other     => other
  }

  def getObject(num: Int): PdfObj = {
    val slot = xref.slot(num)
    if (slot < 0) PNull
    else if (cache(slot) != null) cache(slot)
    else {
      if (loading(slot)) throw new PdfParseException(s"reference cycle at obj $num")
      loading(slot) = true
      val o =
        try {
          val e = xref.entries(slot)
          if (isDirect(e)) parseIndirectAt(high(e), num)
          else {
            val objs = objStmObjects(high(e))
            val idx = streamIndex(e)
            if (idx < objs.length) objs(idx) else PNull
          }
        } finally loading(slot) = false
      cache(slot) = o
      o
    }
  }

  /** Deref indirect references (transitively). */
  def resolve(o: PdfObj): PdfObj = o match {
    case PRef(n, _) => resolve(getObject(n))
    case x          => x
  }

  def dictGet(d: PDict, key: String): PdfObj = resolve(d.m.getOrElse(key, PNull))

  /** Decode a stream's payload through its filter chain. */
  def streamData(s: PStream): Either[String, Array[Byte]] =
    Filters.decode(s.dict, trimToLength(s), resolve)

  private def trimToLength(s: PStream): Array[Byte] = {
    val l = dictGet(s.dict, "Length").intOr(-1L).toInt
    if (l >= 0 && l < s.raw.length) s.raw.take(l)
    else s.raw // exact length (the common case), or none: no copy
  }

  private def parseIndirectAt(offset: Int, expectNum: Int): PdfObj = {
    if (offset < 0 || offset >= buf.length)
      throw new PdfParseException(s"xref offset $offset out of range for obj $expectNum")
    val lx = new Lexer(buf, offset)
    lx.skipWs()
    val n = lx.parseObject() match {
      case PInt(v)  => v
      case PReal(v) => v.toLong
      case _        => throw new PdfParseException(s"bad obj header at $offset")
    }
    val gen = lx.parseObject().intOr(0L).toInt
    lx.expectKeyword("obj")
    if (n != expectNum)
      throw new PdfParseException(s"xref points obj $expectNum at obj $n")
    val body = lx.parseObject()
    lx.skipWs()
    // the /Encrypt dictionary's own strings are never encrypted
    val decStr = cryptReady && crypt.isDefined && expectNum != encryptObjNum
    body match {
      case d: PDict if lx.peekKeyword("stream") =>
        lx.pos += "stream".length
        // EOL after 'stream': CRLF or LF (§7.3.8.1)
        if (lx.pos < buf.length && buf(lx.pos) == '\r') lx.pos += 1
        if (lx.pos < buf.length && buf(lx.pos) == '\n') lx.pos += 1
        val start = lx.pos
        // a negative /Length is as unusable as a wrong one: scan
        val l = dictGet(d, "Length").intOr(-1L)
        val end =
          if (l >= 0 && start + l <= buf.length && endstreamFollows(start + l.toInt)) start + l.toInt
          else findEndstream(start)
        val raw0 = buf.slice(start, end)
        // decrypt stream payloads (the one place obj/gen are in hand);
        // xref streams are never encrypted (§7.5.8.2)
        val isXrefStream = d.m.getOrElse("Type", PNull) == XRefType
        if (isXrefStream) PStream(d, raw0)
        else {
          val dd =
            if (decStr) decryptStrings(d, expectNum, gen).asInstanceOf[PDict]
            else d
          val raw =
            if (cryptReady && crypt.isDefined)
              crypt.get.decryptStream(expectNum, gen, raw0)
            else raw0
          PStream(dd, raw)
        }
      case other =>
        if (decStr) decryptStrings(other, expectNum, gen) else other
    }
  }

  private def endstreamFollows(at: Int): Boolean = {
    var p = at
    while (p < buf.length && (buf(p) == '\r' || buf(p) == '\n' || buf(p) == ' ')) p += 1
    p + Endstream.length <= buf.length &&
      java.util.Arrays.equals(buf, p, p + Endstream.length, Endstream, 0, Endstream.length)
  }

  private def findEndstream(start: Int): Int = {
    val pat = Endstream
    var p = start
    while (p <= buf.length - pat.length) {
      var i = 0
      while (i < pat.length && buf(p + i) == pat(i)) i += 1
      if (i == pat.length) {
        // back off trailing EOL before the keyword
        var e = p
        if (e > start && buf(e - 1) == '\n') e -= 1
        if (e > start && buf(e - 1) == '\r') e -= 1
        return e
      }
      p += 1
    }
    throw new PdfParseException("endstream not found")
  }

  /** Parse all objects packed in an object stream (§7.5.7), by index
    * within the stream (xref type-2 field 3). */
  private def objStmObjects(stmNum: Int): Array[PdfObj] =
    objStmCache.getOrElseUpdate(stmNum, {
      getObject(stmNum) match {
        case s: PStream =>
          val data = streamData(s) match {
            case Right(d) => d
            case Left(f)  => throw new PdfParseException(s"ObjStm with opaque filter $f")
          }
          val n = dictGet(s.dict, "N").asInt
            .getOrElse(throw new PdfParseException("ObjStm missing /N")).toInt
          val first = dictGet(s.dict, "First").asInt
            .getOrElse(throw new PdfParseException("ObjStm missing /First")).toInt
          // the header's offsets, grown as they parse: /N is the file's
          // claim, and a hostile one must not size an array
          val lx = new Lexer(data, 0)
          var offs = new Array[Int](math.max(0, math.min(n, 64)))
          var k = 0
          while (k < n) {
            lx.parseObject() // object number: the xref entry already names it
            if (k == offs.length) offs = java.util.Arrays.copyOf(offs, 2 * k)
            offs(k) = lx.parseObject().intOr(0L).toInt
            k += 1
          }
          val objs = new Array[PdfObj](k)
          var idx = 0
          while (idx < k) {
            lx.pos = first + offs(idx)
            if (lx.pos < 0) throw new PdfParseException(s"ObjStm $stmNum: object $idx before the stream")
            objs(idx) = lx.parseObject()
            idx += 1
          }
          objs
        case _ => throw new PdfParseException(s"obj $stmNum is not an ObjStm")
      }
    })

  // ---- page tree ----------------------------------------------------

  /** Leaf pages in document order, each with inheritable attributes
    * (/Resources /MediaBox /Rotate, §7.7.3.4) merged in. 1-based page
    * numbers follow from position (matching lopdf's BTreeMap order,
    * /root/reference/extractor/src/engine/mod.rs:72).
    */
  lazy val pages: Vector[PDict] = pagesWithNums.map(_._2)

  /** [[pages]] with each leaf's OBJECT NUMBER (-1 for a page written
    * inline in its parent's /Kids — non-conforming but parseable).
    * The number is the join key destinations and outline items use to
    * name a page (§12.3.2: a /Dest array's first element is a page
    * object reference). */
  lazy val pagesWithNums: Vector[(Int, PDict)] = {
    val root = dictGet(trailer, "Root") match {
      case d: PDict => d
      case _        => throw new PdfParseException("missing /Root catalog")
    }
    val top = dictGet(root, "Pages") match {
      case d: PDict => d
      case _        => throw new PdfParseException("missing /Pages")
    }
    val out = Vector.newBuilder[(Int, PDict)]
    val seen = mutable.HashSet.empty[Int]
    // inherited values by position in `Inheritable`; null = none
    def walk(node: PDict, num: Int, inherited: Array[PdfObj], depth: Int): Unit = {
      if (depth > 64) throw new PdfParseException("page tree too deep")
      dictGet(node, "Type") match {
        case PName("Page") =>
          out += ((num, withInherited(node, inherited)))
        case _ =>
          val inh = inheritFrom(node, inherited)
          dictGet(node, "Kids") match {
            case PArr(kids) =>
              kids.foreach { k =>
                val kidNum = k match {
                  case PRef(n, _) if !seen.add(n) =>
                    throw new PdfParseException("page tree cycle")
                  case PRef(n, _) => n
                  case _          => -1
                }
                resolve(k) match {
                  case kd: PDict => walk(kd, kidNum, inh, depth + 1)
                  case _         =>
                }
              }
            case _ => // intermediate node with no kids: nothing
          }
      }
    }
    walk(top, -1, new Array[PdfObj](Inheritable.length), 0)
    out.result()
  }

  /** `inherited` overridden by the node's own inheritable entries; the
    * same array when the node has none. */
  private def inheritFrom(node: PDict, inherited: Array[PdfObj]): Array[PdfObj] = {
    var out = inherited
    var i = 0
    while (i < Inheritable.length) {
      val v = node.m.getOrElse(Inheritable(i), null)
      if (v != null) {
        if (out eq inherited) out = inherited.clone()
        out(i) = v
      }
      i += 1
    }
    out
  }

  /** The leaf `node` plus each inherited entry it lacks (its own
    * entries win); the node itself when it lacks none. */
  private def withInherited(node: PDict, inherited: Array[PdfObj]): PDict = {
    var m = node.m
    var i = 0
    while (i < Inheritable.length) {
      if (inherited(i) != null && !m.contains(Inheritable(i))) m = m.updated(Inheritable(i), inherited(i))
      i += 1
    }
    if (m eq node.m) node else PDict(m)
  }

  def pageCount: Int = pages.length
}

object PdfDocument {

  /** The page attributes a leaf inherits from its ancestors (§7.7.3.4). */
  private val Inheritable = Array("Resources", "MediaBox", "Rotate", "CropBox")
  private val XRefType = PName("XRef")
  private val Startxref = "startxref".getBytes(java.nio.charset.StandardCharsets.US_ASCII)
  private val Endstream = "endstream".getBytes(java.nio.charset.StandardCharsets.US_ASCII)

  // An xref entry packed in one Long. In use (type 1): the byte offset
  // in the high 32 bits and bit 31 set. Compressed (type 2): the object
  // stream's number in the high 32 bits and the index within it in bits
  // 0-30 (a negative index, which names no object, is stored as
  // Int.MaxValue, which names none either).
  private final val DirectBit = 0x80000000L
  private def direct(offset: Int): Long = (offset.toLong << 32) | DirectBit
  private def inStream(stm: Int, idx: Int): Long =
    (stm.toLong << 32) | (if (idx < 0) Int.MaxValue else idx).toLong
  private def isDirect(e: Long): Boolean = (e & DirectBit) != 0
  private def high(e: Long): Int = (e >> 32).toInt
  private def streamIndex(e: Long): Int = (e & 0x7fffffffL).toInt

  /** The document's cross-reference index: object numbers ascending,
    * each with its packed entry, found by binary search. Built once
    * from every section; its size is the number of entries the file
    * lists, whatever the object numbers are. */
  private[pdf] final class XrefIndex(nums: Array[Int], val entries: Array[Long], val size: Int) {
    /** The position of `num`, negative when the index lacks it. */
    def slot(num: Int): Int = java.util.Arrays.binarySearch(nums, 0, size, num)
  }

  /** Collects the entries of every xref section, newest section first.
    * Within a section a later entry for the same object replaces an
    * earlier one; across sections the first (newest) section wins. */
  private final class XrefBuilder {
    private var nums = new Array[Int](16)
    private var entries = new Array[Long](16)
    private var n = 0
    private var sectionStarts = new Array[Int](4)
    private var sections = 0

    def startSection(): Unit = {
      if (sections == sectionStarts.length) sectionStarts = java.util.Arrays.copyOf(sectionStarts, 2 * sections)
      sectionStarts(sections) = n
      sections += 1
    }

    // grown as entries parse, never sized by a count the file claims
    def add(num: Int, e: Long): Unit = {
      if (n == nums.length) {
        nums = java.util.Arrays.copyOf(nums, 2 * n)
        entries = java.util.Arrays.copyOf(entries, 2 * n)
      }
      nums(n) = num; entries(n) = e; n += 1
    }

    /** End of the section that holds entry `i`. */
    private def sectionEnd(i: Int): Int = {
      var s = sections - 1
      while (sectionStarts(s) > i) s -= 1
      if (s + 1 < sections) sectionStarts(s + 1) else n
    }

    def result(): XrefIndex = {
      var ascending = true
      var i = 1
      while (ascending && i < n) { ascending = nums(i) > nums(i - 1); i += 1 }
      // ascending means no duplicates (the usual single section): as parsed
      if (ascending) new XrefIndex(nums, entries, n)
      else {
        // sort (number, arrival) pairs; per number keep the last entry
        // of the first section that lists it
        val keys = new Array[Long](n)
        i = 0
        while (i < n) { keys(i) = (nums(i).toLong << 32) | i; i += 1 }
        java.util.Arrays.sort(keys)
        val outNums = new Array[Int](n)
        val outEntries = new Array[Long](n)
        var m = 0
        i = 0
        while (i < n) {
          val num = (keys(i) >> 32).toInt
          var pick = (keys(i) & 0xffffffffL).toInt
          val end = sectionEnd(pick)
          i += 1
          while (i < n && (keys(i) >> 32).toInt == num) {
            val at = (keys(i) & 0xffffffffL).toInt
            if (at < end) pick = at
            i += 1
          }
          outNums(m) = num; outEntries(m) = entries(pick); m += 1
        }
        new XrefIndex(outNums, outEntries, m)
      }
    }
  }

  /** Load a document: locate `startxref`, walk the xref chain
    * (classic tables and/or xref streams, /Prev links), merge
    * trailers (§7.5.4-7.5.8). */
  def load(bytes: Array[Byte]): PdfDocument =
    load(bytes, Array.emptyByteArray)

  /** Load with a user-or-owner password for encrypted documents
    * ([[PdfCrypt.forDocument]]; empty = the no-password class). */
  def load(bytes: Array[Byte], password: Array[Byte]): PdfDocument = {
    val sxOff = lastIndexOf(bytes, Startxref, math.max(0, bytes.length - 2048))
    if (sxOff < 0) throw new PdfParseException("startxref not found")
    val lx = new Lexer(bytes, sxOff + Startxref.length)
    lx.skipWs()
    val firstXref = lx.parseObject().asInt
      .getOrElse(throw new PdfParseException("bad startxref offset")).toInt

    val xref = new XrefBuilder
    var trailer: Map[String, PdfObj] = null
    val visited = mutable.HashSet.empty[Int]
    var next = firstXref
    var more = true
    while (more && visited.add(next)) {
      xref.startSection()
      val sectionTrailer = parseXrefSection(bytes, next, xref)
      // earlier sections (parsed first) win — they are the newest
      if (trailer == null) trailer = sectionTrailer.m
      else sectionTrailer.m.foreach { case (k, v) =>
        if (!trailer.contains(k)) trailer += (k -> v)
      }
      sectionTrailer.m.getOrElse("Prev", PNull) match {
        case PInt(v)  => next = v.toInt
        case PReal(v) => next = v.toLong.toInt
        case _        => more = false
      }
    }
    new PdfDocument(bytes, xref.result(), PDict(trailer), password)
  }

  /** One xref section at `off`, classic `xref` table or xref stream:
    * its entries go to `xref`, its trailer dict is returned. */
  private def parseXrefSection(bytes: Array[Byte], off: Int, xref: XrefBuilder): PDict = {
    if (off < 0 || off >= bytes.length)
      throw new PdfParseException(s"xref offset $off out of range")
    val lx = new Lexer(bytes, off)
    lx.skipWs()
    if (lx.peekKeyword("xref")) {
      lx.pos += 4
      lx.skipWs()
      while (!lx.peekKeyword("trailer")) {
        val start = lx.parsePrimInt().toInt
        val count = lx.parsePrimInt().toInt
        var i = 0
        while (i < count) {
          val o = lx.parsePrimInt().toInt
          lx.parsePrimInt() // gen
          val kind = lx.readKeywordChar()
          if (kind == 'n') xref.add(start + i, direct(o))
          i += 1
        }
        lx.skipWs()
      }
      lx.pos += "trailer".length
      lx.parseObject() match {
        case d: PDict => d
        case _        => throw new PdfParseException("bad trailer dict")
      }
    } else {
      // xref stream: "N G obj << /Type /XRef ... >> stream"
      lx.parseObject(); lx.parseObject() // num gen
      lx.expectKeyword("obj")
      val d = lx.parseObject() match {
        case dd: PDict => dd
        case _         => throw new PdfParseException("xref stream: dict expected")
      }
      lx.skipWs()
      lx.expectKeyword("stream")
      if (lx.pos < bytes.length && bytes(lx.pos) == '\r') lx.pos += 1
      if (lx.pos < bytes.length && bytes(lx.pos) == '\n') lx.pos += 1
      val len = d.get("Length").flatMap(_.asInt)
        .getOrElse(throw new PdfParseException("xref stream needs direct /Length")).toInt
      val raw = bytes.slice(lx.pos, lx.pos + len)
      val data = Filters.decode(d, raw, identity) match {
        case Right(x) => x
        case Left(f)  => throw new PdfParseException(s"xref stream opaque filter $f")
      }
      val w = d.get("W") match {
        case Some(PArr(xs)) => xs.flatMap(_.asInt).map(_.toInt)
        case _              => throw new PdfParseException("xref stream missing /W")
      }
      if (w.length < 3) throw new PdfParseException("xref /W needs 3 fields")
      if (w.exists(_ < 0) || w.map(_.toLong).sum > Int.MaxValue)
        throw new PdfParseException(s"xref /W ${w.mkString(" ")} is no field layout")
      val size = d.get("Size").flatMap(_.asInt).getOrElse(0L).toInt
      val index: Vector[(Int, Int)] = d.get("Index") match {
        case Some(PArr(xs)) =>
          xs.flatMap(_.asInt).map(_.toInt).grouped(2).collect { case Seq(a, b) => (a, b) }.toVector
        case _ => Vector((0, size))
      }
      val rowLen = w.sum
      val (w0, w1, w2) = (w(0), w(1), w(2))
      def field(at: Int, width: Int): Long = {
        var v = 0L
        var j = 0
        while (j < width) { v = (v << 8) | (data(at + j) & 0xff); j += 1 }
        v
      }
      var p = 0
      index.foreach { case (start, count) =>
        var i = 0
        while (i < count && p + rowLen <= data.length) {
          val t = if (w0 == 0) 1L else field(p, w0) // default type 1 (§7.5.8.3)
          val f2 = field(p + w0, w1); val f3 = field(p + w0 + w1, w2)
          t match {
            case 1 => xref.add(start + i, direct(f2.toInt))
            case 2 => xref.add(start + i, inStream(f2.toInt, f3.toInt))
            case _ => // type 0 (free) or unknown: skip
          }
          p += rowLen
          i += 1
        }
      }
      d
    }
  }

  private def lastIndexOf(hay: Array[Byte], needle: Array[Byte], from: Int): Int = {
    var p = hay.length - needle.length
    while (p >= from) {
      var i = 0
      while (i < needle.length && hay(p + i) == needle(i)) i += 1
      if (i == needle.length) return p
      p -= 1
    }
    -1
  }
}
