package graft.functions

import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Native MinHash signature: word `shingleN`-grams of a whitespace-
  * tokenized string → `numHashes` minhash values, each the MINIMUM of
  * `md5("k:" + md5hex(gram))` over all grams — computed in ONE tight
  * map-side pass per document, so the signature needs NO explode and
  * NO aggregation shuffle at all.
  *
  * Semantics are EXACTLY the relational formulation the DuckDB twins
  * use (explode(md5-hex shingles) → groupBy(doc).agg(min(md5(k:sh)))):
  * tokenization ≡ `split(text, " ")` with empties kept, gram text
  * joined by one space, inner md5 rendered as lowercase hex BEFORE the
  * outer keyed hash, min = lexicographic over hex ≡ unsigned byte-wise
  * over digests. Returns NULL when the doc has fewer than `shingleN`
  * tokens (the exploded formulation produced no row for such docs).
  *
  * Motivation ≡ [[TokenSimHash64]]/[[VectorDotQ]]: the relational form
  * is correct but pays an explode of ~|tokens| rows per doc plus a
  * hash-agg exchange; at 10^12 docs that shuffle is pure cost since
  * the signature is a per-row pure function.
  */
final case class MinHashSigs(child: Expression, shingleN: Int, numHashes: Int)
    extends UnaryExpression with CodegenFallback {

  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def nullable: Boolean = true

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    if (child.dataType == StringType)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
      s"minhash_sigs needs a string child, got ${child.dataType}")
  }

  // "$k:" as UTF-8, the prefix of hash k's key
  @transient private lazy val prefixes: Array[Array[Byte]] =
    Array.tabulate(numHashes)(k => s"$k:".getBytes(java.nio.charset.StandardCharsets.UTF_8))

  /** One gram walk: per gram one inner md5 rendered as hex, then one
    * keyed md5 per hash; the minima live in a per-thread buffer, so only
    * the output hex strings are allocated. */
  override protected def nullSafeEval(input: Any): Any = {
    val w = GramWalker.get()
    val nGrams = w.load(input.asInstanceOf[UTF8String]) - (shingleN - 1)
    if (nGrams <= 0) return null
    val md = w.md
    val mins = MinHashSigs.mins(numHashes)
    var i = 0
    while (i < nGrams) {
      w.hexGram(i, shingleN)
      var k = 0
      while (k < numHashes) {
        md.update(prefixes(k))
        md.update(w.hex)
        md.digest(w.digest, 0, 16)
        if (i == 0 || MinHashSigs.unsignedLt(w.digest, mins, 16 * k))
          System.arraycopy(w.digest, 0, mins, 16 * k, 16)
        k += 1
      }
      i += 1
    }
    val out = new Array[Any](numHashes)
    var k = 0
    while (k < numHashes) {
      val h = new Array[Byte](32)
      GramWalker.hexInto(mins, 16 * k, 16, h)
      out(k) = UTF8String.fromBytes(h)
      k += 1
    }
    new GenericArrayData(out)
  }

  override protected def withNewChildInternal(newChild: Expression): MinHashSigs =
    copy(child = newChild)
  override def prettyName: String = "minhash_sigs"
}

object MinHashSigs {
  /** The signature's running minima, 16 bytes per hash, one per thread. */
  private val minsBuf = ThreadLocal.withInitial(() => new Array[Byte](16 * 8))
  private def mins(numHashes: Int): Array[Byte] = {
    if (minsBuf.get().length < 16 * numHashes) minsBuf.set(new Array[Byte](16 * numHashes))
    minsBuf.get()
  }

  /** Lowercase hex of a digest, as ASCII bytes (md5's hex rendering). */
  private[functions] def hex(d: Array[Byte]): Array[Byte] = {
    val out = new Array[Byte](d.length * 2)
    GramWalker.hexInto(d, 0, d.length, out)
    out
  }

  /** Unsigned byte-wise `d < m(at until at + 16)` ≡ lexicographic order
    * of the hex rendering (hex is monotonic in the unsigned byte value). */
  private def unsignedLt(d: Array[Byte], m: Array[Byte], at: Int): Boolean = {
    var i = 0
    while (i < 16) {
      val di = d(i) & 0xff; val mi = m(at + i) & 0xff
      if (di != mi) return di < mi
      i += 1
    }
    false
  }
}
