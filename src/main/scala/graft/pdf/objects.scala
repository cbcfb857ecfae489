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

/** The map of a parsed dict: keys and values interleaved in one array
  * (key i at 2i, its value at 2i + 1), searched linearly — dicts are
  * small and looked up by interned names — and built once, with no
  * per-entry tuple or trie node. Iterates in insertion order; equal to
  * any `Map` with the same entries. */
final class ArrayMap private (private val kv: Array[AnyRef])
    extends scala.collection.immutable.AbstractMap[String, PdfObj] {
  private def indexOf(k: String): Int = {
    var i = 0
    while (i < kv.length && !k.equals(kv(i))) i += 2
    if (i < kv.length) i else -1
  }
  def get(k: String): Option[PdfObj] = {
    val i = indexOf(k)
    if (i < 0) None else Some(kv(i + 1).asInstanceOf[PdfObj])
  }
  override def getOrElse[V1 >: PdfObj](k: String, default: => V1): V1 = {
    val i = indexOf(k)
    if (i < 0) default else kv(i + 1).asInstanceOf[PdfObj]
  }
  override def contains(k: String): Boolean = indexOf(k) >= 0
  override def size: Int = kv.length / 2
  def iterator: Iterator[(String, PdfObj)] =
    Iterator.range(0, kv.length, 2).map(i => (kv(i).asInstanceOf[String], kv(i + 1).asInstanceOf[PdfObj]))
  // edits are rare (trailer merging): they go through a hash map
  def removed(k: String): Map[String, PdfObj] =
    scala.collection.immutable.HashMap.from(this).removed(k)
  def updated[V1 >: PdfObj](k: String, v: V1): Map[String, V1] =
    scala.collection.immutable.HashMap.from[String, V1](this).updated(k, v)
}

object ArrayMap {
  /** Past this many entries a linear search loses to hashing. */
  private[pdf] val MaxLinear = 16

  /** The entries in `kv(from until to)`, interleaved as in [[ArrayMap]]
    * (keys distinct, at most [[MaxLinear]] of them). */
  def of(kv: Array[AnyRef], from: Int, to: Int): Map[String, PdfObj] =
    if (from == to) Map.empty else new ArrayMap(java.util.Arrays.copyOfRange(kv, from, to))

  /** `m` plus the entries of `kv(0 until to)`, keys new to `m`. */
  def plus(m: Map[String, PdfObj], kv: Array[AnyRef], to: Int): Map[String, PdfObj] = m match {
    case a: ArrayMap if a.kv.length + to <= 2 * MaxLinear =>
      val all = java.util.Arrays.copyOf(a.kv, a.kv.length + to)
      System.arraycopy(kv, 0, all, a.kv.length, to)
      new ArrayMap(all)
    case _ => m ++ (0 until to by 2).map(i => kv(i).asInstanceOf[String] -> kv(i + 1).asInstanceOf[PdfObj])
  }
}

/** Stream object; `raw` is the undecoded stream payload. */
final case class PStream(dict: PDict, raw: Array[Byte]) extends PdfObj
/** Indirect reference `num gen R`. */
final case class PRef(num: Int, gen: Int) extends PdfObj
/** Content-stream operator keyword (only produced by `nextContentToken`). */
final case class POp(op: String) extends PdfObj

class PdfParseException(msg: String) extends RuntimeException(msg)
