package graft.props

import java.security.MessageDigest
import org.scalacheck.{Gen, Properties}
import org.scalacheck.Prop.forAll
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Literal
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.StringType
import org.apache.spark.unsafe.types.UTF8String
import graft.functions.{CdcChunks, GramTokenCount, MinHashSigs, ShingleKeys, ShingleMd5s,
  TokenSimHash64}

/** The native per-row kernels checked against independent, slow
  * reimplementations over the hex-STRING route (the production code
  * works on digest bytes) — any drift in tokenization, nibble order,
  * tie/empty handling, or min semantics shrinks to a small input.
  * Pure JVM: expressions evaluated via `eval` on Literal children, no
  * Spark session. (The DuckDB oracles cross-check the same semantics
  * engine-to-engine; these properties guard refactors at build time.)
  */
object NativeExprProperties extends Properties("graft.nativeexpr") {

  // tokens INCLUDING empties — split(" ", -1) semantics matter
  private val token: Gen[String] = Gen.oneOf(
    Gen.const(""),
    Gen.nonEmptyListOf(Gen.alphaNumChar).map(_.mkString.take(10)),
    Gen.const("naïve√"), // 2- and 3-byte UTF-8
    Gen.const("é"),
    Gen.const("a\uD83D\uDE00b"), // a 4-byte character between ASCII
    Gen.const("the"))
  // leading, trailing and doubled spaces; fewer tokens than n too
  private val text: Gen[String] = for {
    n <- Gen.chooseNum(0, 12)
    toks <- Gen.listOfN(n, token)
    pre <- Gen.oneOf("", " ", "  ")
    post <- Gen.oneOf("", " ", "  ")
  } yield pre + toks.mkString(" ") + post

  // invalid UTF-8 spliced into a text: a lead byte before a non-
  // continuation, a lone continuation byte, a truncated sequence, a
  // byte that never occurs, an overlong NUL and an encoded surrogate
  private val invalid: Seq[Array[Byte]] =
    Seq(Seq(0xC3, 0x28), Seq(0x80), Seq(0xE2, 0x82), Seq(0xFF), Seq(0xC0, 0x80),
      Seq(0xED, 0xA0, 0x80)).map(_.map(_.toByte).toArray)
  private val utf8: Gen[UTF8String] = Gen.frequency(
    2 -> text.map(UTF8String.fromString),
    // a view into a larger array (as a row's bytes are), spaces around
    1 -> text.map { t =>
      val b = t.getBytes("UTF-8")
      UTF8String.fromBytes("x y ".getBytes("UTF-8") ++ b ++ " z".getBytes("UTF-8"), 4, b.length)
    },
    1 -> (for {
      t <- text
      bad <- Gen.oneOf(invalid)
      at <- Gen.chooseNum(0, t.getBytes("UTF-8").length)
    } yield {
      val b = t.getBytes("UTF-8")
      UTF8String.fromBytes(b.take(at) ++ bad ++ b.drop(at))
    }))

  private def md5hex(s: String): String = {
    val d = MessageDigest.getInstance("MD5")
      .digest(s.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    d.map(b => f"${b & 0xff}%02x").mkString
  }

  private def refSimhash64(t: String): (Long, Long) = {
    val votes = new Array[Int](64)
    t.split(" ", -1).foreach { tok =>
      val hex = md5hex(tok)
      val vlo = java.lang.Long.parseLong(hex.substring(0, 8), 16)
      val vhi = java.lang.Long.parseLong(hex.substring(8, 16), 16)
      (0 until 32).foreach { b =>
        votes(b) += (if (((vlo >> b) & 1L) == 1L) 1 else -1)
        votes(32 + b) += (if (((vhi >> b) & 1L) == 1L) 1 else -1)
      }
    }
    val lo = (0 until 32).map(b => if (votes(b) > 0) 1L << b else 0L).sum
    val hi = (0 until 32).map(b => if (votes(32 + b) > 0) 1L << b else 0L).sum
    (lo, hi)
  }

  private def refShingles(t: String, n: Int): Seq[String] =
    t.split(" ", -1).toSeq.sliding(n).filter(_.size == n)
      .map(g => md5hex(g.mkString(" "))).toSeq

  private def lit(t: String) = Literal(UTF8String.fromString(t), StringType)
  private def lit(u: UTF8String) = Literal(u, StringType)

  private def unhex(h: String): Seq[Byte] =
    h.grouped(2).map(b => Integer.parseInt(b, 16).toByte).toSeq

  property("TokenSimHash64 == independent hex-string reimplementation") =
    forAll(text) { t =>
      val r = TokenSimHash64(lit(t)).eval(null).asInstanceOf[InternalRow]
      (r.getLong(0), r.getLong(1)) == refSimhash64(t)
    }

  // the byte walker against the String route, invalid UTF-8 included
  property("ShingleMd5s == sliding-window md5hex (incl. sub-n docs -> empty)") =
    forAll(utf8, Gen.chooseNum(1, 4)) { (u, n) =>
      val got = ShingleMd5s(lit(u), n).eval(null).asInstanceOf[ArrayData]
        .toArray[UTF8String](StringType).map(_.toString).toSeq
      got == refShingles(u.toString, n)
    }

  property("ShingleKeys == unhex of the md5hex shingles (distinct: deduplicated, first seen)") =
    forAll(utf8, Gen.chooseNum(1, 4)) { (u, n) =>
      def keys(distinct: Boolean): Seq[Seq[Byte]] = {
        val a = ShingleKeys(lit(u), n, distinct).eval(null).asInstanceOf[ArrayData]
        (0 until a.numElements()).map(i => a.getBinary(i).toSeq)
      }
      val ref = refShingles(u.toString, n).map(unhex)
      keys(distinct = false) == ref && keys(distinct = true) == ref.distinct
    }

  property("GramTokenCount == size(split(text, \" \"))") =
    forAll(utf8) { u =>
      GramTokenCount(lit(u)).eval(null) == u.toString.split(" ", -1).length
    }

  // slow reference: hex-string route, building chunks by the exclusive
  // running-sum convention the retired Window formulation used
  private def refCdc(t: String, divisor: Int): Seq[(String, Long)] = {
    val toks = t.split(" ", -1).toSeq
    val flags = toks.map(tok =>
      java.lang.Long.parseLong(md5hex(tok).substring(0, 8), 16) % divisor == 0)
    val chunkIdx = flags.scanLeft(0L)((acc, f) => if (f) acc + 1 else acc).init
    toks.zip(chunkIdx).groupBy(_._2).toSeq.sortBy(_._1).map { case (_, grp) =>
      (md5hex(grp.map(_._1).mkString(" ")), grp.size.toLong)
    }
  }

  property("CdcChunks == exclusive-running-sum chunk reference (fp, n_tokens, order)") =
    forAll(text, Gen.oneOf(1, 2, 3, 16)) { (t, d) =>
      val arr = CdcChunks(lit(t), d).eval(null).asInstanceOf[ArrayData]
      val got = (0 until arr.numElements()).map { i =>
        val r = arr.getStruct(i, 2)
        (r.getUTF8String(0).toString, r.getLong(1))
      }
      got == refCdc(t, d)
    }

  property("RollingFp == code-point left fold mod 2^31-1") =
    forAll(text) { t =>
      var h = 0L
      t.codePoints().forEach(cp => h = (h * 31L + cp) % 2147483647L)
      graft.functions.RollingFp(lit(t)).eval(null) == h
    }

  property("MinHashSigs == per-k min of md5hex(k:shingle); null below n tokens") =
    forAll(utf8, Gen.chooseNum(1, 3), Gen.chooseNum(1, 8)) { (u, n, k) =>
      val got = MinHashSigs(lit(u), n, k).eval(null)
      val sh = refShingles(u.toString, n)
      if (sh.isEmpty) got == null
      else {
        val exp = (0 until k).map(i => sh.map(s => md5hex(s"$i:$s")).min)
        got.asInstanceOf[ArrayData].toArray[UTF8String](StringType)
          .map(_.toString).toSeq == exp
      }
    }
}
