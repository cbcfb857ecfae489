package graft.pdf

import java.io.ByteArrayOutputStream
import java.util.zip.Inflater

/** Stream filter decoders (ISO 32000-1 §7.4), from scratch on JDK
  * primitives. FlateDecode covers every fixture plus xref/object
  * streams; predictors 2 and 10-15 are required for xref streams
  * (SURVEY.md §7.4.2). Image-only filters (DCTDecode, JPXDecode) are
  * passed through opaque — the reference never surfaces decoded pixels
  * in its analytic output (SURVEY.md §2.6.1).
  */
object Filters {

  // Inflater is reused per thread: constructing one per stream costs a
  // native malloc/free, and the extraction hot path decodes millions of
  // streams per executor. (Primitive output buffer, no Scala generic
  // collections — ArrayBuffer[Byte] boxes into Array[AnyRef], 8× the
  // memory traffic, which measurably collapses >8-thread scaling.)
  private val localInflater: ThreadLocal[Inflater] =
    ThreadLocal.withInitial(() => new Inflater())
  private val localChunk: ThreadLocal[Array[Byte]] =
    ThreadLocal.withInitial(() => new Array[Byte](16384))

  def inflate(data: Array[Byte]): Array[Byte] = {
    val inf = localInflater.get()
    inf.reset()
    try {
      inf.setInput(data)
      val chunk = localChunk.get()
      // fast path: whole stream fits the scratch buffer in one call
      val n0 = inf.inflate(chunk)
      if (inf.finished()) return java.util.Arrays.copyOf(chunk, n0)
      val out = new ByteArrayOutputStream(math.max(256, data.length * 3))
      out.write(chunk, 0, n0)
      while (!inf.finished() && !inf.needsDictionary()) {
        val n = inf.inflate(chunk)
        if (n == 0 && inf.needsInput() && !inf.finished())
          throw new PdfParseException("truncated Flate stream")
        out.write(chunk, 0, n)
      }
      out.toByteArray
    } catch {
      case e: java.util.zip.DataFormatException =>
        throw new PdfParseException(s"bad Flate data: ${e.getMessage}")
    }
  }

  /** Undo PNG (10-15) / TIFF (2) predictors (§7.4.4.4). */
  def unpredict(data: Array[Byte], predictor: Int, colors: Int, bpc: Int, columns: Int): Array[Byte] = {
    if (predictor <= 1) return data
    val bpp = math.max(1, colors * bpc / 8)
    val rowLen = (columns * colors * bpc + 7) / 8
    if (predictor == 2) { // TIFF horizontal differencing (8-bit path)
      if (bpc != 8) throw new PdfParseException("TIFF predictor requires 8 bpc")
      val out = data.clone()
      var r = 0
      while (r + rowLen <= out.length) {
        var i = bpp
        while (i < rowLen) {
          out(r + i) = ((out(r + i) + out(r + i - bpp)) & 0xff).toByte
          i += 1
        }
        r += rowLen
      }
      out
    } else { // PNG predictors: per-row filter byte
      val stride = rowLen + 1
      val nRows = data.length / stride
      val out = new Array[Byte](nRows * rowLen)
      val prior = new Array[Byte](rowLen)
      var r = 0
      while (r < nRows) {
        val ft = data(r * stride) & 0xff
        val row = new Array[Byte](rowLen)
        System.arraycopy(data, r * stride + 1, row, 0, rowLen)
        var i = 0
        while (i < rowLen) {
          val raw = row(i) & 0xff
          val left = if (i >= bpp) row(i - bpp) & 0xff else 0
          val up = prior(i) & 0xff
          val upLeft = if (i >= bpp) prior(i - bpp) & 0xff else 0
          val v = ft match {
            case 0 => raw
            case 1 => raw + left
            case 2 => raw + up
            case 3 => raw + (left + up) / 2
            case 4 =>
              val p = left + up - upLeft
              val pa = math.abs(p - left); val pb = math.abs(p - up); val pc = math.abs(p - upLeft)
              raw + (if (pa <= pb && pa <= pc) left else if (pb <= pc) up else upLeft)
            case other => throw new PdfParseException(s"unknown PNG filter $other")
          }
          row(i) = (v & 0xff).toByte
          i += 1
        }
        System.arraycopy(row, 0, out, r * rowLen, rowLen)
        System.arraycopy(row, 0, prior, 0, rowLen)
        r += 1
      }
      out
    }
  }

  def asciiHexDecode(data: Array[Byte]): Array[Byte] = {
    val out = new ByteArrayOutputStream(data.length / 2 + 1)
    var hi = -1
    var i = 0
    var done = false
    while (i < data.length && !done) {
      val c = data(i) & 0xff
      if (c == '>') done = true
      else {
        val v =
          if (c >= '0' && c <= '9') c - '0'
          else if (c >= 'a' && c <= 'f') c - 'a' + 10
          else if (c >= 'A' && c <= 'F') c - 'A' + 10
          else -1
        if (v >= 0) { if (hi < 0) hi = v else { out.write((hi << 4) | v); hi = -1 } }
      }
      i += 1
    }
    if (hi >= 0) out.write(hi << 4)
    out.toByteArray
  }

  def ascii85Decode(data: Array[Byte]): Array[Byte] = {
    val out = new ByteArrayOutputStream(data.length * 4 / 5 + 4)
    var tuple = 0L; var n = 0; var i = 0; var done = false
    while (i < data.length && !done) {
      val c = data(i) & 0xff
      if (c == '~') done = true
      else if (c == 'z' && n == 0) { out.write(0); out.write(0); out.write(0); out.write(0) }
      else if (c >= '!' && c <= 'u') {
        tuple = tuple * 85 + (c - '!'); n += 1
        if (n == 5) {
          out.write(((tuple >> 24) & 0xff).toInt); out.write(((tuple >> 16) & 0xff).toInt)
          out.write(((tuple >> 8) & 0xff).toInt); out.write((tuple & 0xff).toInt)
          tuple = 0; n = 0
        }
      }
      i += 1
    }
    if (n > 1) { // partial group: pad with 'u', keep n-1 bytes
      var k = n
      while (k < 5) { tuple = tuple * 85 + 84; k += 1 }
      val bytes = Array(((tuple >> 24) & 0xff).toByte, ((tuple >> 16) & 0xff).toByte,
        ((tuple >> 8) & 0xff).toByte, (tuple & 0xff).toByte)
      out.write(bytes, 0, n - 1)
    }
    out.toByteArray
  }

  def runLengthDecode(data: Array[Byte]): Array[Byte] = {
    val out = new ByteArrayOutputStream(data.length * 2)
    var i = 0
    var done = false
    while (i < data.length && !done) {
      val len = data(i) & 0xff
      if (len == 128) done = true
      else if (len < 128) {
        val n = math.min(len + 1, data.length - i - 1)
        out.write(data, i + 1, n)
        i += 1 + (len + 1)
      } else {
        if (i + 1 < data.length) { val b = data(i + 1) & 0xff; var k = 0; while (k < 257 - len) { out.write(b); k += 1 } }
        i += 2
      }
    }
    out.toByteArray
  }

  /** LZWDecode (§7.4.4): variable-width MSB-first codes, 256 = clear
    * table, 257 = EOD; code width starts at 9 bits and widens at
    * 512/1024/2048 entries, one code EARLY when `earlyChange` = 1 (the
    * PDF default). Handles the KwKwK case (a code one past the table).
    * The reference decodes LZW streams through lopdf; legacy PDFs
    * still carry it. */
  def lzwDecode(data: Array[Byte], earlyChange: Int = 1): Array[Byte] = {
    val out = new ByteArrayOutputStream(math.max(256, data.length * 3))
    // dictionary of byte strings; slots 256/257 are control codes
    var dict = new Array[Array[Byte]](4096)
    var dictSize = 258
    def resetDict(): Unit = {
      var i = 0
      while (i < 256) { dict(i) = Array(i.toByte); i += 1 }
      dictSize = 258
    }
    resetDict()
    var width = 9
    var prev: Array[Byte] = null
    var bitBuf = 0L; var bitCnt = 0; var pos = 0
    var done = false
    while (!done) {
      while (bitCnt < width && pos < data.length) {
        bitBuf = (bitBuf << 8) | (data(pos) & 0xffL); bitCnt += 8; pos += 1
      }
      if (bitCnt < width) done = true // truncated tail: stop (fail-soft EOD)
      else {
        val code = ((bitBuf >> (bitCnt - width)) & ((1L << width) - 1)).toInt
        bitCnt -= width
        if (code == 256) { resetDict(); width = 9; prev = null }
        else if (code == 257) done = true
        else {
          val entry =
            if (code < dictSize && dict(code) != null) dict(code)
            else if (code == dictSize && prev != null) prev :+ prev(0) // KwKwK
            else throw new PdfParseException(s"bad LZW code $code (dict $dictSize)")
          out.write(entry, 0, entry.length)
          if (prev != null && dictSize < 4096) {
            dict(dictSize) = prev :+ entry(0)
            dictSize += 1
          }
          prev = entry
          if (width < 12 && dictSize + earlyChange >= (1 << width)) width += 1
        }
      }
    }
    out.toByteArray
  }

  /** Image filters passed through as opaque payloads at the STREAM
    * layer (the image path decodes them itself: DCT via the JDK codec
    * and CCITT G4 via the from-spec [[CcittFax]] decoder, see
    * [[PdfImages.decode]]; JPX/JBIG2 remain genuinely opaque — the
    * reference errors on them too, mod.rs:163-165). */
  val opaqueFilters: Set[String] = Set("DCTDecode", "DCT", "JPXDecode", "CCITTFaxDecode", "JBIG2Decode")

  /** Decode a stream's payload through its /Filter chain. `resolve`
    * dereferences indirect params. Returns Left(filterName) when the
    * terminal filter is image-opaque (payload stays raw). */
  def decode(dict: PDict, raw: Array[Byte], resolve: PdfObj => PdfObj): Either[String, Array[Byte]] = {
    val filters: Vector[String] = resolve(dict.m.getOrElse("Filter", PNull)) match {
      case PName(n)   => Vector(n)
      case PArr(xs)   => xs.map(x => resolve(x) match { case PName(n) => n; case _ => "" })
      case _          => Vector.empty
    }
    val dp = dict.m.getOrElse("DecodeParms", null)
    // a filter past the end of the list has no parameters (PNull)
    val parmsList: Vector[PdfObj] = resolve(if (dp != null) dp else dict.m.getOrElse("DP", PNull)) match {
      case d: PDict => Vector(d)
      case PArr(xs) => xs.map(resolve)
      case _        => Vector.empty
    }
    var cur = raw
    var i = 0
    while (i < filters.length) {
      val f = filters(i)
      val parms = if (i < parmsList.length) parmsList(i) else PNull
      f match {
        case "FlateDecode" | "Fl" =>
          cur = inflate(cur)
          parms match {
            case d: PDict =>
              val pred = resolve(d.get("Predictor").getOrElse(PInt(1))).asInt.getOrElse(1L).toInt
              val colors = resolve(d.get("Colors").getOrElse(PInt(1))).asInt.getOrElse(1L).toInt
              val bpc = resolve(d.get("BitsPerComponent").getOrElse(PInt(8))).asInt.getOrElse(8L).toInt
              val cols = resolve(d.get("Columns").getOrElse(PInt(1))).asInt.getOrElse(1L).toInt
              cur = unpredict(cur, pred, colors, bpc, cols)
            case _ =>
          }
        case "LZWDecode" | "LZW" =>
          val (early, pred, colors, bpc, cols) = parms match {
            case d: PDict => (
              resolve(d.get("EarlyChange").getOrElse(PInt(1))).asInt.getOrElse(1L).toInt,
              resolve(d.get("Predictor").getOrElse(PInt(1))).asInt.getOrElse(1L).toInt,
              resolve(d.get("Colors").getOrElse(PInt(1))).asInt.getOrElse(1L).toInt,
              resolve(d.get("BitsPerComponent").getOrElse(PInt(8))).asInt.getOrElse(8L).toInt,
              resolve(d.get("Columns").getOrElse(PInt(1))).asInt.getOrElse(1L).toInt)
            case _ => (1, 1, 1, 8, 1)
          }
          cur = unpredict(lzwDecode(cur, early), pred, colors, bpc, cols)
        case "ASCIIHexDecode" | "AHx" => cur = asciiHexDecode(cur)
        case "ASCII85Decode" | "A85"  => cur = ascii85Decode(cur)
        case "RunLengthDecode" | "RL" => cur = runLengthDecode(cur)
        case f if opaqueFilters.contains(f) => return Left(f)
        case other => throw new PdfParseException(s"unsupported filter $other")
      }
      i += 1
    }
    Right(cur)
  }
}
