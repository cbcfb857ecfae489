package graft.functions

import java.nio.charset.StandardCharsets.UTF_8
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.types.{DataType, IntegerType}
import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.types.UTF8String

/** Word n-grams of a text walked over its own UTF-8 bytes — the shared
  * tokenizer of [[ShingleMd5s]], [[ShingleKeys]], [[MinHashSigs]] and
  * [[GramTokenCount]]. Semantics ≡ `text.toString.split(" ", -1)` with
  * each gram its tokens joined by one space and encoded as UTF-8:
  *
  *  - valid UTF-8 (`UTF8String.isValid`): tokens are the byte ranges
  *    between 0x20 bytes (a 0x20 byte never occurs inside a multi-byte
  *    character), so a gram is the byte range of the original text
  *    from its first token's start to its last token's end;
  *  - invalid UTF-8: the walk runs over `toString`'s re-encoding — the
  *    String route (malformed bytes become U+FFFD) — so every input
  *    hashes bit-identically to the String formulation.
  *
  * One walker per thread ([[GramWalker.get]]) owns the MD5 digest and
  * every buffer, so hashing a gram allocates nothing: only the caller's
  * output values are new objects. */
final class GramWalker {
  val md: java.security.MessageDigest = java.security.MessageDigest.getInstance("MD5")
  /** MD5 of the last [[digestGram]]. */
  val digest = new Array[Byte](16)
  /** Lowercase hex of the last [[hexGram]], as ASCII. */
  val hex = new Array[Byte](32)

  private var copyBuf = new Array[Byte](256)
  private var bytes: Array[Byte] = copyBuf
  private var base = 0
  // token k is [starts(k), starts(k + 1) - 1) in `bytes`; the sentinel
  // starts(tokens) sits one past the end, as if a space followed
  private var starts = new Array[Int](64)
  private var tokens = 0

  /** Tokenize `text`; returns its token count (≥ 1: "" is one empty
    * token, as in `split`). The walker reads the text's bytes in place
    * when they are on the heap, so `text` must outlive the walk. */
  def load(text: UTF8String): Int = {
    var len = text.numBytes
    if (!text.isValid) {
      bytes = text.toString.getBytes(UTF_8)
      base = 0
      len = bytes.length
    } else text.getBaseObject match {
      case a: Array[Byte] =>
        bytes = a
        base = (text.getBaseOffset - Platform.BYTE_ARRAY_OFFSET).toInt
      case _ =>
        if (copyBuf.length < len) copyBuf = new Array[Byte](math.max(len, 2 * copyBuf.length))
        text.writeToMemory(copyBuf, Platform.BYTE_ARRAY_OFFSET)
        bytes = copyBuf
        base = 0
    }
    tokens = 0
    addStart(base)
    val end = base + len
    var i = base
    while (i < end) {
      if (bytes(i) == ' ') addStart(i + 1)
      i += 1
    }
    addStart(end + 1)
    tokens -= 1
    tokens
  }

  private def addStart(at: Int): Unit = {
    if (tokens == starts.length) starts = java.util.Arrays.copyOf(starts, 2 * tokens)
    starts(tokens) = at
    tokens += 1
  }

  /** MD5 of the gram of `n` tokens starting at token `i` into [[digest]]. */
  def digestGram(i: Int, n: Int): Unit = {
    md.update(bytes, starts(i), starts(i + n) - 1 - starts(i))
    md.digest(digest, 0, 16)
  }

  /** [[digestGram]], then its lowercase hex into [[hex]]. */
  def hexGram(i: Int, n: Int): Unit = {
    digestGram(i, n)
    GramWalker.hexInto(digest, 0, 16, hex)
  }

  // distinct-digest set: open addressing over the digests' two longs;
  // a slot is taken in the current generation only, so no clearing
  private var setHi = new Array[Long](64)
  private var setLo = new Array[Long](64)
  private var setGen = new Array[Int](64)
  private var gen = 0

  /** Empty the distinct set, sized for `n` insertions. */
  def resetSet(n: Int): Unit = {
    var cap = setGen.length
    while (cap < 2 * n) cap *= 2
    if (cap != setGen.length) {
      setHi = new Array[Long](cap); setLo = new Array[Long](cap); setGen = new Array[Int](cap)
      gen = 0
    }
    gen += 1
    if (gen == Int.MaxValue) { java.util.Arrays.fill(setGen, 0); gen = 1 }
  }

  /** Add [[digest]] to the set; false when it was there already. */
  def addDigest(): Boolean = {
    val hi = GramWalker.longAt(digest, 0)
    val lo = GramWalker.longAt(digest, 8)
    val mask = setGen.length - 1
    var s = lo.toInt & mask
    while (setGen(s) == gen) {
      if (setHi(s) == hi && setLo(s) == lo) return false
      s = (s + 1) & mask
    }
    setGen(s) = gen; setHi(s) = hi; setLo(s) = lo
    true
  }
}

object GramWalker {
  private val walkers = ThreadLocal.withInitial(() => new GramWalker)

  /** This thread's walker. */
  def get(): GramWalker = walkers.get()

  private val HexChars = "0123456789abcdef".getBytes(java.nio.charset.StandardCharsets.US_ASCII)

  /** Lowercase hex of `d(from until from + n)` into `out(0 until 2n)`. */
  def hexInto(d: Array[Byte], from: Int, n: Int, out: Array[Byte]): Unit = {
    var i = 0
    while (i < n) {
      val b = d(from + i)
      out(i * 2) = HexChars((b >> 4) & 0xf)
      out(i * 2 + 1) = HexChars(b & 0xf)
      i += 1
    }
  }

  private[graft] def longAt(b: Array[Byte], at: Int): Long = {
    var v = 0L
    var i = at
    while (i < at + 8) { v = (v << 8) | (b(i) & 0xffL); i += 1 }
    v
  }
}

/** The token count of [[GramWalker]] ≡ `size(split(text, " "))`, without
  * the per-token strings `split` builds — the cheap "has a gram" guard
  * in front of [[MinHashSigs]]. */
final case class GramTokenCount(child: Expression)
    extends UnaryExpression with CodegenFallback {
  override def dataType: DataType = IntegerType
  override protected def nullSafeEval(input: Any): Any =
    GramWalker.get().load(input.asInstanceOf[UTF8String])
  override protected def withNewChildInternal(newChild: Expression): GramTokenCount =
    copy(child = newChild)
  override def prettyName: String = "gram_token_count"
}
