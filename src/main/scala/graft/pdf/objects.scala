package graft.pdf

/** PDF object model for the from-scratch byte-level reader.
  *
  * Mirrors the object surface the reference uses through lopdf 0.34
  * (`lopdf::Document::load` at /root/reference/extractor/src/engine/mod.rs:58)
  * but is written from the public PDF 1.7 spec (ISO 32000-1 §7.3), not
  * translated from any library.
  */
sealed trait PdfObj {
  def asInt: Option[Long] = this match {
    case PInt(v)  => Some(v)
    case PReal(v) => Some(v.toLong)
    case _        => None
  }
  /** [[asInt]] without the Option: `default` when not a number. */
  private[pdf] def intOr(default: Long): Long = this match {
    case PInt(v)  => v
    case PReal(v) => v.toLong
    case _        => default
  }
  def asNum: Option[Double] = this match {
    case PInt(v)  => Some(v.toDouble)
    case PReal(v) => Some(v)
    case _        => None
  }
}

case object PNull extends PdfObj
final case class PBool(v: Boolean) extends PdfObj
final case class PInt(v: Long) extends PdfObj
final case class PReal(v: Double) extends PdfObj
/** String object; `bytes` are the decoded bytes (escapes/hex resolved). */
final case class PStr(bytes: Array[Byte]) extends PdfObj {
  def asLatin1: String = new String(bytes, java.nio.charset.StandardCharsets.ISO_8859_1)
}
final case class PName(v: String) extends PdfObj
final case class PArr(items: Vector[PdfObj]) extends PdfObj
final case class PDict(m: Map[String, PdfObj]) extends PdfObj {
  def get(key: String): Option[PdfObj] = m.get(key)
}
/** Stream object; `raw` is the undecoded stream payload. */
final case class PStream(dict: PDict, raw: Array[Byte]) extends PdfObj
/** Indirect reference `num gen R`. */
final case class PRef(num: Int, gen: Int) extends PdfObj
/** Content-stream operator keyword (only produced by `tokenizeContent`). */
final case class POp(op: String) extends PdfObj

class PdfParseException(msg: String) extends RuntimeException(msg)
