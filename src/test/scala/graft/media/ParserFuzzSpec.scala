package graft.media

import org.scalatest.funsuite.AnyFunSuite

/** Hostile-input smoke for the binary parsers: random and
  * mutated-valid bytes must produce a None or the DECLARED exception
  * type — never an uncontrolled error (OOM-scale allocation, infinite
  * loop, ArrayIndexOutOfBounds escaping the fail-soft contract). */
class ParserFuzzSpec extends AnyFunSuite {

  private val rnd = new scala.util.Random(1234)
  private def randomBytes(n: Int): Array[Byte] = {
    val b = new Array[Byte](n); rnd.nextBytes(b); b
  }

  test("Wav.decode: random and mutated-valid input → Some or None, never a throw") {
    (0 until 400).foreach { i =>
      Wav.decode(randomBytes(rnd.nextInt(200))) // must not throw
      val valid = Wav.encodePcm16(8000, 1, Array.tabulate(16)(_.toShort))
      val mut = valid.clone()
      mut(rnd.nextInt(mut.length)) = rnd.nextInt(256).toByte
      Wav.decode(mut)
      Wav.decode(valid.take(rnd.nextInt(valid.length)))
    }
  }

  test("Mp4Demux.demux: random and mutated-valid input → Some or None, never a throw; samples stay in-bounds") {
    // the in-bounds invariant is what keeps the consumer's
    // copyOfRange(bytes, offset.toInt, ...) total: every returned
    // sample must address real file bytes (no EOF overrun, no >2^31
    // offset a .toInt would truncate)
    def inBounds(bytes: Array[Byte]): Unit =
      Mp4Demux.demux(bytes).foreach(_.samples.foreach { s =>
        assert(s.offset >= 0L && s.size >= 0L &&
          s.offset + s.size <= bytes.length.toLong,
          s"sample out of bounds: off=${s.offset} size=${s.size} len=${bytes.length}")
      })
    val valid = Mp4Demux.buildFixture((0 until 4).map(j => s"s$j".getBytes))
    (0 until 400).foreach { i =>
      inBounds(randomBytes(rnd.nextInt(200)))
      val mut = valid.clone()
      mut(rnd.nextInt(mut.length)) = rnd.nextInt(256).toByte
      inBounds(mut)
      inBounds(valid.take(rnd.nextInt(valid.length)))
    }
  }

  test("PDF parser: seeded mutations of generated PDFs → a result or a fail-soft DocResult, never a throw") {
    import java.util.Base64
    import graft.core.model.{ExtractOptions, InterleavedDoc, RawSpan}
    import graft.engine.Extractor
    import graft.fixtures.InterleavedGen
    // an uncaught throwable here would fail a whole Spark task; the
    // contract is a DocResult, failed (doc = None, error set) or not
    val prng = new scala.util.Random(20261017)
    // every PDF style the generator makes (i mod 10 in 4..9; 9 is the
    // multi-page heavy document)
    val seeds = Vector(4L, 5L, 6L, 7L, 8L, 14L, 15L, 16L, 17L, 18L, 9L)
    val pdfs = seeds.map(i => Base64.getDecoder.decode(InterleavedGen.docWithGolden(i)._1.spans.head.text))
    val tokens = Vector("<<", ">>", "[", "]", "(", ")", "<", ">", "/", "R", "obj", "endobj",
      "stream", "endstream", "xref", "trailer", "startxref", "-1", "0", "2147483647",
      "99999999999999999999", "/Length", "/Prev", "/Kids", "/Type /Page", "/Filter /FlateDecode",
      "/W [1 2 1]", "/Index [2000000000 2]", "%", "\\", "#", "BT", "Tj", "1 0 R")
      .map(_.getBytes(java.nio.charset.StandardCharsets.ISO_8859_1))
    def mutate(src: Array[Byte]): Array[Byte] = prng.nextInt(3) match {
      case 0 => // byte flips
        val b = src.clone()
        (0 until 1 + prng.nextInt(8)).foreach { _ =>
          val at = prng.nextInt(b.length)
          b(at) = (if (prng.nextBoolean()) prng.nextInt(256) else b(at) ^ (1 << prng.nextInt(8))).toByte
        }
        b
      case 1 => // truncation: a prefix, or the file with a middle cut out
        val cut = prng.nextInt(src.length)
        if (prng.nextBoolean()) src.take(cut)
        else src.take(cut) ++ src.drop(cut + 1 + prng.nextInt(64))
      case _ => // token splice: insert or overwrite at a random position
        val t = tokens(prng.nextInt(tokens.length))
        val at = prng.nextInt(src.length)
        val keepFrom = if (prng.nextBoolean()) at else math.min(src.length, at + t.length)
        src.take(at) ++ " ".getBytes ++ t ++ " ".getBytes ++ src.drop(keepFrom)
    }
    val escaped = Vector.newBuilder[String]
    var failed = 0
    (0 until 10000).foreach { k =>
      val pdf = mutate(pdfs(k % pdfs.length))
      val doc = InterleavedDoc(f"fuzz$k%05d",
        Seq(RawSpan("pdf_bytes", Base64.getEncoder.encodeToString(pdf), "", 0)))
      try {
        val res = Extractor.extractDoc(doc, ExtractOptions())
        if (res.doc.isEmpty) {
          failed += 1
          assert(res.error.isDefined, s"mutation $k: a failed doc carries its error")
        }
      } catch {
        case t: Throwable => escaped += s"mutation $k: ${t.getClass.getName}: ${t.getMessage}"
      }
    }
    val esc = escaped.result()
    assert(esc.isEmpty, esc.take(10).mkString("\n"))
    assert(failed > 0, "the mutations must reach the fail-soft path")
  }

  test("JBIG2 Huffman parsers: random/mutated input → result or Jbig2Exception only") {
    import graft.pdf.Jbig2
    def only[T](body: => T): Unit =
      try { body; () } catch { case _: Jbig2.Jbig2Exception => () }
    val dictValid = Jbig2.encodeSymbolDictHuff(Vector(
      graft.pdf.Jbig2.Bitmap(3, 2, Array[Byte](1, 0, 1, 0, 1, 0))))
    val tabValid = Jbig2.fixtureDsTable
    (0 until 300).foreach { i =>
      only(Jbig2.parseTableSegment(randomBytes(12 + rnd.nextInt(40))))
      only(Jbig2.decodeSymbolDict(randomBytes(10 + rnd.nextInt(60))))
      val mutD = dictValid.clone()
      mutD(rnd.nextInt(mutD.length)) = rnd.nextInt(256).toByte
      only(Jbig2.decodeSymbolDict(mutD))
      val mutT = tabValid.clone()
      mutT(rnd.nextInt(mutT.length)) = rnd.nextInt(256).toByte
      only(Jbig2.parseTableSegment(mutT))
    }
  }
}
