package graft.props

import java.util.zip.Deflater
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalacheck.{Gen, Prop, Properties}
import org.scalacheck.Prop.forAll
import org.scalacheck.rng.Seed
import graft.core.model._
import graft.engine.Extractor
import graft.fixtures.InterleavedGen
import graft.html.Boilerplate
import graft.operators.{Dedup, Graphs, Similarity}
import graft.pdf.{ContentText, Filters, PdfBuilder, PdfDocument, PdfMeta, PdfParseException}

/** Property-based invariants (SURVEY.md §5.3): round-trip identities,
  * order/determinism laws, fail-soft totality. Pure JVM — no Spark
  * session — so these run in milliseconds and shrink well; the
  * exceptions, the round-loop laws at the end, run Spark jobs and so
  * check a fixed handful of seeded graphs once each.
  */
object EngineProperties extends Properties("graft.engine") {

  // printable-ASCII words without PDF string delimiters (those are
  // covered by targeted escape tests in PdfSpec)
  private val word: Gen[String] =
    Gen.nonEmptyListOf(Gen.alphaNumChar).map(_.mkString).map(_.take(12))
  private val line: Gen[String] =
    Gen.chooseNum(1, 8).flatMap(n => Gen.listOfN(n, word)).map(_.mkString(" "))
  private val pages: Gen[List[String]] =
    Gen.chooseNum(1, 12).flatMap(n => Gen.listOfN(n, line))

  property("pdf round-trip: build(texts) |> extract == texts (plain)") =
    forAll(pages) { texts =>
      val pdf = PdfBuilder.simple(texts.map(t => PdfBuilder.tjLine(t)))
      val doc = PdfDocument.load(pdf)
      val got = doc.pages.map(p => ContentText.extractPageText(doc, p))
      got == texts.toVector
    }

  property("pdf round-trip with FlateDecode") =
    forAll(pages) { texts =>
      val pdf = PdfBuilder.simple(texts.map(t => PdfBuilder.tjLine(t)), flate = true)
      val doc = PdfDocument.load(pdf)
      doc.pages.map(p => ContentText.extractPageText(doc, p)) == texts.toVector
    }

  // --- page text written once as UTF-8 (ContentText.TextOut) ---------
  // glyph texts: ASCII, multi-char, U+FFFD, a non-BMP surrogate pair,
  // and lone surrogates (Java's encoder writes '?' for each)
  private val glyph: Gen[String] = Gen.frequency(
    6 -> Gen.alphaNumChar.map(_.toString),
    2 -> Gen.oneOf("é", "ß", "日本", "\uFFFD", "ﬁ", "ffi", "\uD83D\uDE00", "a\uD83C\uDF89"),
    1 -> Gen.choose(0xD800, 0xDFFF).map(_.toChar.toString))
  private val byteStr: Gen[List[Int]] = Gen.listOf(Gen.choose(0, 255)).map(_.take(6))
  private def utf8Of(out: ContentText.TextOut): Seq[Byte] = out.bytes.take(out.length).toSeq
  private def javaUtf8(s: String): Seq[Byte] =
    org.apache.spark.unsafe.types.UTF8String.fromString(s).getBytes.toSeq
  private def utf16(bs: Array[Byte]): String =
    new String(bs, java.nio.charset.StandardCharsets.UTF_16BE)

  property("TableDecoder: UTF-8 text == UTF8String.fromString(the String decode)") =
    forAll(Gen.listOfN(256, Gen.frequency(1 -> Gen.const(""), 6 -> glyph)), Gen.listOf(byteStr)) {
      (table, shows) =>
        val out = new ContentText.TextOut
        val dec = ContentText.TableDecoder(table.toArray)
        shows.foreach(bs => dec.decode(bs.map(_.toByte).toArray, out))
        val t = table.toVector
        val ref = shows.flatten.map(b => if (t(b).isEmpty) "\uFFFD" else t(b)).mkString
        utf8Of(out) == javaUtf8(ref) && out.unmapped == shows.flatten.count(t(_).isEmpty)
    }

  /** A one-page PDF whose font /F1 carries `font` (and object 6, when
    * given, as a stream); `content` is the page's content stream. */
  private def onePagePdf(font: String, content: String, obj6: Option[Array[Byte]]): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream
    val offs = scala.collection.mutable.ArrayBuffer.empty[Int]
    def w(s: String): Unit = out.write(s.getBytes(java.nio.charset.StandardCharsets.ISO_8859_1))
    def obj(body: => Unit): Unit = { offs += out.size; w(s"${offs.size} 0 obj\n"); body; w("\nendobj\n") }
    def stream(data: Array[Byte]): Unit =
      obj { w(s"<< /Length ${data.length} >>\nstream\n"); out.write(data); w("\nendstream") }
    w("%PDF-1.7\n")
    obj(w("<< /Type /Catalog /Pages 2 0 R >>"))
    obj(w("<< /Type /Pages /Kids [3 0 R] /Count 1 >>"))
    obj(w("<< /Type /Page /Parent 2 0 R /Resources << /Font << /F1 4 0 R >> >> /Contents 5 0 R >>"))
    obj(w(s"<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica $font >>"))
    stream(content.getBytes(java.nio.charset.StandardCharsets.ISO_8859_1))
    obj6.foreach(stream)
    val xref = out.size
    w(s"xref\n0 ${offs.size + 1}\n0000000000 65535 f \n")
    offs.foreach(o => w(f"$o%010d 00000 n \n"))
    w(s"trailer\n<< /Size ${offs.size + 1} /Root 1 0 R >>\nstartxref\n$xref\n%%EOF\n")
    out.toByteArray
  }

  // one show operator: move to a new line first?, Tj (one string) or TJ
  private val showOp: Gen[(Boolean, Boolean, List[List[Int]])] =
    Gen.zip(Gen.oneOf(true, false), Gen.oneOf(true, false), Gen.nonEmptyListOf(byteStr).map(_.take(3)))
  // a bfrange destination whose last char sits just below a surrogate
  // boundary, so the range arithmetic walks into lone surrogates
  private val rangeBase: Gen[String] = Gen.oneOf(
    glyph,
    Gen.choose(0xD7E8, 0xD7FF).map(_.toChar.toString),
    Gen.choose(0xDFE8, 0xDFFF).map(c => "\uD83D" + c.toChar))

  property("page text: pageText's UTF-8 == UTF8String.fromString(the String page, same rules)") =
    forAll(Gen.oneOf(true, false),
      Gen.listOf(Gen.zip(Gen.choose(0, 255), glyph)),
      Gen.listOf(Gen.zip(Gen.choose(0, 255), Gen.choose(0, 40), rangeBase)),
      Gen.listOf(showOp).map(_.take(12))) { (useCMap, chars, ranges, shows) =>
      def hex(bs: Seq[Int]) = bs.map(b => f"$b%02X").mkString("<", "", ">")
      def hex16(s: String) = hex(s.getBytes(java.nio.charset.StandardCharsets.UTF_16BE).map(_ & 0xff))
      // the font, and a plain-Scala decode under today's rules
      val (font, obj6, decodeRef) =
        if (useCMap) {
          val map = scala.collection.mutable.HashMap.empty[Int, String]
          chars.foreach { case (c, t) => map(c) = utf16(t.getBytes(java.nio.charset.StandardCharsets.UTF_16BE)) }
          ranges.foreach { case (lo, len, b) =>
            val base = utf16(b.getBytes(java.nio.charset.StandardCharsets.UTF_16BE))
            (lo to math.min(255, lo + len)).foreach(c =>
              map(c) = base.dropRight(1) + (base.last + (c - lo)).toChar)
          }
          val cmap = "begincmap\n1 begincodespacerange <00> <FF> endcodespacerange\n" +
            s"${chars.size} beginbfchar " + chars.map { case (c, t) => hex(Seq(c)) + " " + hex16(t) }.mkString(" ") +
            " endbfchar\n" + s"${ranges.size} beginbfrange " + ranges.map { case (lo, len, b) =>
              hex(Seq(lo)) + " " + hex(Seq(math.min(255, lo + len))) + " " + hex16(b) }.mkString(" ") +
            " endbfrange\nendcmap"
          val std = graft.pdf.Encodings.standard
          ("/ToUnicode 6 0 R", Some(cmap.getBytes(java.nio.charset.StandardCharsets.ISO_8859_1)),
            (b: Int) => map.getOrElse(b, if (std(b).isEmpty) "\uFFFD" else std(b)))
        } else {
          val t = graft.pdf.Encodings.standard.clone()
          chars.foreach { case (c, g) => t(c) = g.head.toString }
          val diffs = chars.map { case (c, g) => f"$c /uni${g.head.toInt}%04X" }.mkString(" ")
          (s"/Encoding << /Differences [ $diffs ] >>", None,
            (b: Int) => if (t(b).isEmpty) "\uFFFD" else t(b))
        }
      val content = new StringBuilder("BT /F1 12 Tf 72 720 Td\n")
      val ref = new StringBuilder
      var lineY = 720.0; var lastY = 0.0; var shown = false
      shows.foreach { case (move, tj, strs) =>
        if (move) { content ++= "0 -14 Td\n"; lineY -= 14 }
        content ++= (if (tj) strs.map(hex).mkString("[", " -20 ", "] TJ\n") else hex(strs.head) + " Tj\n")
        val text = (if (tj) strs else strs.take(1)).flatten.map(decodeRef).mkString
        if (text.nonEmpty) {
          if (shown && lineY != lastY) ref += '\n'
          ref ++= text; shown = true; lastY = lineY
        }
      }
      content ++= "ET"
      val doc = PdfDocument.load(onePagePdf(font, content.toString, obj6))
      val out = new ContentText.TextOut
      ContentText.pageText(doc, doc.pages.head, out)
      utf8Of(out) == javaUtf8(ref.toString)
    }

  property("inflate is a left inverse of JDK deflate") =
    forAll(Gen.listOf(Gen.chooseNum(-128, 127).map(_.toByte))) { bytes =>
      val data = bytes.toArray
      val d = new Deflater()
      d.setInput(data); d.finish()
      val buf = new Array[Byte](data.length * 2 + 64)
      val n = d.deflate(buf)
      d.end()
      Filters.inflate(buf.take(n)).toSeq == data.toSeq
    }

  property("filters: asciiHex and ascii85 decode what the spec encodes") =
    forAll(Gen.listOf(Gen.chooseNum(-128, 127).map(_.toByte))) { bytes =>
      val data = bytes.toArray
      val hex = data.map(b => f"${b & 0xff}%02x").mkString + ">"
      Filters.asciiHexDecode(hex.getBytes) sameElements data
    }

  property("extractor: span order is always 0..n-1 contiguous") =
    forAll(Gen.chooseNum(0L, 5000L)) { i =>
      val (in, _) = InterleavedGen.docWithGolden(i)
      Extractor.extractDoc(in, ExtractOptions()).doc.forall { d =>
        d.spans.map(_.order) == d.spans.indices
      }
    }

  property("extractor: deterministic (task retry is idempotent)") =
    forAll(Gen.chooseNum(0L, 5000L)) { i =>
      val (in, _) = InterleavedGen.docWithGolden(i)
      Extractor.extractDoc(in, ExtractOptions()) ==
        Extractor.extractDoc(in, ExtractOptions())
    }

  property("extractor matches by-construction golden on any index") =
    forAll(Gen.chooseNum(0L, 20000L)) { i =>
      val (in, exp) = InterleavedGen.docWithGolden(i)
      Extractor.extractDoc(in, ExtractOptions()).doc.contains(exp)
    }

  property("page range/limit: kept pages = clamp(range ∩ [effStart, total])") =
    forAll(Gen.chooseNum(1, 10), Gen.chooseNum(0, 12), Gen.chooseNum(1, 8)) {
      (startPage, pageCount, total) =>
        val texts = (1 to total).map(p => s"page $p")
        val pdf = PdfBuilder.simple(texts.map(t => PdfBuilder.tjLine(t)))
        val in = InterleavedDoc("d", Seq(RawSpan("pdf_bytes", InterleavedGen.b64(pdf), "", 0)))
        val got = Extractor.extractDoc(in,
          ExtractOptions(startPage = startPage, pageCount = pageCount)).doc.get.spans
        val effStart = math.max(0, startPage - 1) // parity pin §2.6.2
        val limit = if (pageCount == 0 || pageCount > total) total else pageCount
        val expected = (1 to total).filter(_ >= effStart).take(limit).map(p => s"page $p")
        got.map(_.text) == expected
    }

  property("boilerplate: kept paragraph text survives in order") =
    forAll(Gen.chooseNum(1, 6).flatMap(n => Gen.listOfN(n, line))) { paras =>
      val html = "<html><body><nav>chrome</nav>" +
        paras.map(p => s"<p>$p</p>").mkString + "<footer>c</footer></body></html>"
      val got = Boilerplate.extract(html).collect { case Boilerplate.TextPiece(t) => t }
      got == paras
    }

  property("extractor is total on arbitrary junk pdf bytes (fail-soft, never throws)") =
    forAll(Gen.listOf(Gen.chooseNum(-128, 127).map(_.toByte))) { junk =>
      val in = InterleavedDoc("j",
        Seq(RawSpan("pdf_bytes", InterleavedGen.b64(junk.toArray), "", 0)))
      val r = Extractor.extractDoc(in, ExtractOptions())
      // either parses (unlikely) or reports a failure record — no throw
      r.doc.isDefined || r.error.isDefined
    }

  property("extractor is total under random byte mutations of VALID PDFs (deep fail-soft)") = {
    // junk bytes die at the header; mutations of a real document reach
    // the xref walker, ObjStm/xref-stream decode, filters, page tree,
    // and the content interpreter — every layer must fail soft
    val mutations = Gen.listOf(Gen.zip(Gen.chooseNum(0, Int.MaxValue), Gen.chooseNum(-128, 127)))
    forAll(pages, mutations, Gen.chooseNum(0, 2)) { (texts, muts, style) =>
      val pdf = style match {
        case 0 => PdfBuilder.simple(texts.map(t => PdfBuilder.tjLine(t)), flate = true)
        case 1 => PdfBuilder.objStm(PdfBuilder.tjLine(texts.head))
        case _ => PdfBuilder.withImages(texts.head)
      }
      muts.foreach { case (pos, b) => pdf(pos % pdf.length) = b.toByte }
      val in = InterleavedDoc("m",
        Seq(RawSpan("pdf_bytes", InterleavedGen.b64(pdf), "", 0)))
      val r = Extractor.extractDoc(in, ExtractOptions())
      r.doc.isDefined || r.error.isDefined
    }
  }

  property("PdfMeta is total under random mutations of metadata fixtures (declared errors only)") = {
    // the round-8 parse surface — /Info strings, link annotations,
    // outline + name trees, AcroForm trees, PageLabels number trees,
    // string decryption — must fail with the DECLARED PdfParseException
    // class (or succeed) on any byte corruption: no NPE, no match
    // error, no unbounded walk, no JDK crypto crash class
    val mutations = Gen.listOf(Gen.zip(Gen.chooseNum(0, Int.MaxValue), Gen.chooseNum(-128, 127)))
    forAll(mutations, Gen.chooseNum(0, 4)) { (muts, style) =>
      val pdf = style match {
        case 0 => PdfBuilder.withInfoAndLinks(Seq("m"),
          Seq("Title" -> PdfBuilder.utf16Bytes("Té"),
            "Author" -> PdfBuilder.latin1Bytes("J A")),
          Seq(Seq(("https://x.example/a", (1, 2, 3, 4)))))
        case 1 => PdfBuilder.withOutline(Seq("a", "b"),
          Seq((0, "s(é)", 0), (1, "k", 1), (0, "n", -1)), namedDests = true)
        case 2 => PdfBuilder.withPageLabels(Seq("p", "q", "r"),
          Seq((0, Some("r"), None, None), (2, Some("D"), Some("x-"), Some(3))),
          kidsTree = true)
        case 3 => PdfBuilder.withAcroForm(Seq("p"),
          Seq((0, "grp", Some("Tx"), Some("v")), (1, "kid", None, None)))
        case _ => PdfBuilder.withInfoAndLinks(Seq("m"),
          Seq("Author" -> PdfBuilder.latin1Bytes("J")),
          Seq(Seq(("https://e/x", (0, 0, 9, 9)))),
          enc = Some(PdfBuilder.EncAes))
      }
      muts.foreach { case (pos, b) => pdf(pos % pdf.length) = b.toByte }
      def total(f: PdfDocument => Any): Boolean =
        try { f(PdfDocument.load(pdf)); true }
        catch {
          case _: PdfParseException => true // the declared fail-soft class
          case _: Throwable         => false
        }
      total(PdfMeta.info) && total(PdfMeta.links) && total(PdfMeta.outline) &&
        total(PdfMeta.formFields) && total(PdfMeta.pageLabels)
    }
  }

  // each operator family runs ONE body (Rounds.iterate); the fixed
  // schedule is the adaptive twin with the stop test off, so on any
  // graph r fixed rounds equal the adaptive run capped at r rounds (an
  // early-converged adaptive run has reached a fixpoint that further
  // rounds reproduce). Spark jobs are slow, so instead of the default
  // 100 draws the law is checked on 6 seeded draws: each is a Proof,
  // so the runner evaluates it once.
  private lazy val spark = SparkSession.builder().master("local[2]")
    .config("spark.sql.shuffle.partitions", "2").config("spark.ui.enabled", "false")
    .getOrCreate()
  private val graph: Gen[(Seq[(Long, Long)], Int)] = for {
    n <- Gen.chooseNum(2, 12)
    m <- Gen.chooseNum(0, 16)
    edges <- Gen.listOfN(m, Gen.zip(Gen.chooseNum(0L, n - 1L), Gen.chooseNum(0L, n - 1L)))
    rounds <- Gen.chooseNum(1, 4)
  } yield (edges, rounds)

  property("round loop: fixed componentsStar/pageRank == adaptive twin capped at the same rounds") =
    Prop.all((1L to 6L).map { s =>
      val (edges, r) = graph.pureApply(Gen.Parameters.default, Seed(s))
      import spark.implicits._
      def rows(df: DataFrame) = df.collect().map(_.toSeq).toSet
      val pairs = edges.toDF("a_id", "b_id")
      val links = edges.toDF("src", "dst")
      Prop(rows(Dedup.componentsStar(pairs, rounds = r)) ==
        rows(Dedup.componentsStarAdaptive(pairs, maxRounds = r)._1) &&
        rows(Graphs.pageRank(links, iterations = r)) ==
          rows(Graphs.pageRankAdaptive(links, maxIterations = r)._1)) :| s"seed $s: $edges, r=$r"
    }: _*)

  // exact permille Jaccard and containment over sets of 3-grams
  // (tokens split on single spaces, empties kept, as ShingleMd5s),
  // shingles with df > cap dropped from every set: (jaccard rows,
  // containment rows) at ≥ m
  private def shingleJaccardRef(docs: Seq[(Long, String)], m: Int, cap: Int)
      : (Set[(Long, Long, Long)], Set[(Long, Long, Long)]) = {
    val raw = docs.map { case (id, t) =>
      id -> t.split(" ", -1).sliding(3).filter(_.length == 3).map(_.mkString(" ")).toSet }
    val df = raw.flatMap(_._2).groupBy(identity).map { case (s, xs) => s -> xs.size }
    val sets = raw.map { case (id, s) => id -> s.filter(df(_) <= cap) }.toMap
    val ids = sets.keys.toSeq.sorted
    val inter = for {
      a <- ids; b <- ids if a < b
      i = (sets(a) & sets(b)).size.toLong if i > 0
    } yield (a, b, i)
    val jac = inter.map { case (a, b, i) => (a, b, 1000L * i / (sets(a).size + sets(b).size - i)) }
    val con = inter.flatMap { case (a, b, i) =>
      Seq((a, b, 1000L * i / sets(a).size), (b, a, 1000L * i / sets(b).size)) }
    (jac.filter(_._3 >= m).toSet, con.filter(_._3 >= m).toSet)
  }

  // seeded corpora over a 3-word vocabulary, so shingles collide and
  // repeat within a doc; docs of 0-2 tokens have no shingle. Two fixed
  // docs put a pair exactly on the 1000·I = m·U boundary at m = 500
  // with U = |A| (B ⊂ A, the smaller id is A): I = 2 = ceil(500·4/1000)
  private val smallCorpus: Gen[Seq[(Long, String)]] = for {
    n <- Gen.chooseNum(3, 9)
    texts <- Gen.listOfN(n,
      Gen.chooseNum(0, 7).flatMap(k => Gen.listOfN(k, Gen.oneOf("a", "b", "c"))).map(_.mkString(" ")))
  } yield (Seq("p q r s t u", "p q r s") ++ texts).zipWithIndex.map { case (t, i) => (i + 1L, t) }

  property("jaccard/containment == plain-Scala exact permille over 3-gram sets (minPermille × maxDf grid)") =
    Prop.all((1L to 3L).map { s =>
      val docs = smallCorpus.pureApply(Gen.Parameters.default, Seed(s))
      import spark.implicits._
      import org.apache.spark.sql.functions.{col, lit}
      val frame = docs.toDF("doc_id", "text")
      val grid = for {
        cap <- Seq(1, 2, 3, Int.MaxValue); m <- Seq(-1, 0, 1, 333, 500, 667, 999, 1000)
      } yield (m, cap)
      // one action per draw: the grid's 64 queries as one union
      val got = grid.flatMap { case (m, cap) =>
        def tag(op: String, df: DataFrame) =
          df.select(lit(op).as("op"), lit(m).as("m"), lit(cap).as("cap"),
            col(df.columns(0)).as("x"), col(df.columns(1)).as("y"), col(df.columns(2)).as("pm"))
        Seq(tag("j", Dedup.ngramJaccardPairs(frame, 3, minPermille = m, maxDf = cap)),
          tag("c", Dedup.ngramContainmentPairs(frame, 3, minPermille = m, maxDf = cap)))
      }.reduce(_ unionAll _).collect()
        .groupBy(r => (r.getString(0), r.getInt(1), r.getInt(2)))
        .map { case (k, rs) => k -> rs.map(r => (r.getLong(3), r.getLong(4), r.getLong(5))).toSet }
      Prop.all(grid.map { case (m, cap) =>
        val (jac, con) = shingleJaccardRef(docs, m, cap)
        Prop(got.getOrElse(("j", m, cap), Set.empty) == jac &&
          got.getOrElse(("c", m, cap), Set.empty) == con) :| s"seed $s, m=$m, maxDf=$cap: $docs"
      }: _*)
    }: _*)

  // the floor-arithmetic ladder replayed in plain Scala, straight from
  // the Graphs scaladoc: returns (ranks, rounds used) — rounds stop at
  // the first round that changes no rank when `adaptive`
  private def replayLadder(edges: Seq[(Option[Long], Option[Long])], rounds: Int,
      d: Int, dangling: Boolean, adaptive: Boolean): (Map[Long, Long], Int) = {
    val e = edges.collect { case (Some(s), Some(t)) => (s, t) }
    val nodes = e.flatMap { case (s, t) => Seq(s, t) }.distinct
    val outdeg = e.groupBy(_._1).map { case (s, es) => s -> es.size.toLong }
    def round(r: Map[Long, Long]): Map[Long, Long] = {
      val share = if (!dangling || nodes.isEmpty) BigInt(0)
        else nodes.filterNot(outdeg.contains).map(v => BigInt(r(v))).sum / nodes.size
      val inflow = e.groupBy(_._2).map { case (t, in) =>
        t -> in.map { case (s, _) => BigInt(r(s) / outdeg(s)) }.sum }
      nodes.map(v => v -> ((1000L - d) * 1000L +
        (BigInt(d) * (inflow.getOrElse(v, BigInt(0)) + share) / 1000).toLong)).toMap
    }
    @annotation.tailrec def go(r: Map[Long, Long], used: Int): (Map[Long, Long], Int) =
      if (used == rounds) (r, used)
      else {
        val next = round(r)
        if (adaptive && next == r) (next, used + 1) else go(next, used + 1)
      }
    go(nodes.map(_ -> 1000000L).toMap, 0)
  }

  // seeded graphs with a guaranteed sink (node n), a duplicate edge
  // and null endpoints
  private def endpoint(hi: Long): Gen[Option[Long]] =
    Gen.frequency(9 -> Gen.chooseNum(0L, hi).map(Option(_)), 1 -> Gen.const(None))
  private val ladderGraph: Gen[(Seq[(Option[Long], Option[Long])], Int, Int)] = for {
    n <- Gen.chooseNum(2, 10)
    m <- Gen.chooseNum(0, 14)
    edges <- Gen.listOfN(m, Gen.zip(endpoint(n - 1L), endpoint(n.toLong)))
    rounds <- Gen.chooseNum(1, 10)
    d <- Gen.oneOf(850, 500, 1000)
  } yield ((Some(0L), Some(n.toLong)) +: (Some(1L), Some(0L)) +: (Some(1L), Some(0L)) +: edges, rounds, d)

  property("pageRank/pageRankAdaptive == the plain-Scala floor-arithmetic ladder (ranks and rounds_used)") =
    Prop.all((1L to 6L).map { s =>
      val (edges, r, d) = ladderGraph.pureApply(Gen.Parameters.default, Seed(s))
      import spark.implicits._
      val links = edges.toDF("src", "dst")
      def ranks(df: DataFrame) = df.collect().map(x => x.getLong(0) -> x.getLong(1)).toMap
      val fixed = ranks(Graphs.pageRank(links, iterations = r, dampingPermille = d)) ==
        replayLadder(edges, r, d, dangling = false, adaptive = false)._1
      val adaptive = Seq(false, true).forall { dl =>
        val (got, used) = Graphs.pageRankAdaptive(links, maxIterations = r,
          dampingPermille = d, redistributeDangling = dl)
        (ranks(got), used) == replayLadder(edges, r, d, dl, adaptive = true)
      }
      Prop(fixed && adaptive) :| s"seed $s: $edges, r=$r, d=$d"
    }: _*)

  // the IVF/PQ rules replayed in plain Scala over milliunit vectors:
  // L2² = |v|² - 2·v·c + |c|² with the dot over the common prefix,
  // nearest by (L2², id); Lloyd rounds keep each member group's floored
  // element-wise mean (a centroid without members drops out); scores
  // rank by (score desc, item id), an item never scoring against itself
  private type Vec = Vector[Long]
  private def dotL(a: Vec, b: Vec): Long = a.zip(b).map { case (x, y) => x * y }.sum
  private def byL2[K: Ordering](v: Vec, cs: Seq[(K, Vec)]): Seq[K] =
    cs.sortBy { case (id, c) => (dotL(v, v) - 2 * dotL(v, c) + dotL(c, c), id) }.map(_._1)
  private def lloyd[K: Ordering](vs: Seq[Vec], seed: Seq[(K, Vec)], rounds: Int): Seq[(K, Vec)] =
    (1 to rounds).foldLeft(seed) { (cs, _) =>
      if (cs.isEmpty) cs
      else vs.groupBy(byL2(_, cs).head).toSeq.map { case (id, ms) =>
        id -> ms.transpose.map(d => Math.floorDiv(d.sum, ms.size.toLong)).toVector }
    }
  private def subOf(v: Vec, m: Int, numSub: Int): Vec = {
    val d = v.size / numSub
    v.slice(m * d, m * d + d)
  }
  private def topK(scored: Seq[(Long, Long, Long)], k: Int): Seq[(Long, Long, Long, Int)] =
    scored.groupBy(_._1).toSeq.flatMap { case (_, rs) =>
      rs.sortBy(r => (-r._3, r._2)).take(k).zipWithIndex.map { case ((q, i, s), r) => (q, i, s, r + 1) }
    }.sortBy(r => (r._1, r._4))

  private final case class Index(items: Seq[(Long, Vec)], queries: Seq[(Long, Vec)], k: Int,
      numCentroids: Int, nProbe: Int, numSub: Int, codebookSize: Int, iterations: Int) {
    private def seeds(n: Int) = items.filter(_._1 < n)
    /** (query, item, score) over the lists each query probes. */
    private def probed(cents: Seq[(Long, Vec)], score: (Vec, Vec) => Long) =
      if (cents.isEmpty) Nil
      else {
        val list = items.map { case (i, v) => i -> byL2(v, cents).head }.toMap
        for {
          (q, qv) <- queries
          ps = byL2(qv, cents).take(nProbe).toSet
          (i, v) <- items if i != q && ps(list(i))
        } yield (q, i, score(qv, v))
      }
    def ivf(trained: Boolean): Seq[(Long, Long, Long, Int)] = {
      val cents = if (trained) lloyd(items.map(_._2), seeds(numCentroids), iterations) else seeds(numCentroids)
      topK(probed(cents, dotL), k)
    }
    def pq(trained: Boolean, kk: Int = k): Seq[(Long, Long, Long, Int)] = {
      val books = (0 until numSub).map { m =>
        val seed = seeds(codebookSize).map { case (i, v) => i.toInt -> subOf(v, m, numSub) }
        if (trained) lloyd(items.map(r => subOf(r._2, m, numSub)), seed, iterations) else seed
      }
      def adot(qv: Vec, v: Vec) = (0 until numSub).map { m =>
        val code = byL2(subOf(v, m, numSub), books(m)).head
        dotL(subOf(qv, m, numSub), books(m).find(_._1 == code).get._2)
      }.sum
      if (books.exists(_.isEmpty)) Nil else topK(probed(seeds(numCentroids), adot), kk)
    }
    /** PQ shortlist of `k + 2`, re-ranked by exact dot. */
    def rerank: Seq[(Long, Long, Long, Int)] = {
      val (qv, iv) = (queries.toMap, items.toMap)
      topK(pq(trained = false, k + 2).map { case (q, i, _, _) => (q, i, dotL(qv(q), iv(i))) }, k)
    }
  }

  // coordinates in {-1000, 0, 1000}, so equal distances and scores are
  // common; ids with a few gaps, so a seed id may be absent; queries
  // mostly from the items (self-matches to exclude) plus one outside;
  // nProbe mostly 1, so a list tie decides what a query sees, and
  // sometimes past the centroid count
  private val index: Gen[Index] = for {
    numSub <- Gen.chooseNum(1, 3)
    dim <- Gen.chooseNum(1, 2).map(_ * numSub)
    vec = Gen.listOfN(dim, Gen.chooseNum(-1, 1).map(_ * 1000L)).map(_.toVector)
    n <- Gen.chooseNum(12, 27)
    ids <- Gen.pick(n, 0L until n + 2L)
    vecs <- Gen.listOfN(n, vec)
    items = ids.toSeq.sorted.zip(vecs)
    fromItems <- Gen.chooseNum(2, 5).flatMap(Gen.pick(_, items))
    outside <- vec
    numCentroids <- Gen.chooseNum(2, 5)
    nProbe <- Gen.frequency(3 -> Gen.const(1), 1 -> Gen.chooseNum(2, numCentroids + 1))
    k <- Gen.chooseNum(2, 6)
    codebookSize <- Gen.chooseNum(2, 5)
    iterations <- Gen.chooseNum(1, 2)
  } yield Index(items, fromItems.toSeq :+ (1000L -> outside), k, numCentroids, nProbe, numSub,
    codebookSize, iterations)

  // 8 draws: reversing the tie rule (ties to the larger id) fails
  // draws 4, 5 and 8 for every operator and more for PQ alone
  property("IVF/PQ operators == the plain-Scala reference on tie-heavy integer embeddings") =
    Prop.all((1L to 8L).map { s =>
      val x = index.pureApply(Gen.Parameters.default, Seed(s))
      import spark.implicits._
      def frame(rows: Seq[(Long, Vec)]) =
        rows.map { case (id, v) => (id, v.map(c => (c / 1000).toFloat)) }.toDF("vec_id", "embedding")
      val (q, it) = (frame(x.queries), frame(x.items))
      def rows(df: DataFrame) = df.collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getInt(3))).toSeq.sortBy(r => (r._1, r._4))
      val got = Seq(
        rows(Similarity.ivfTopK(q, it, x.k, x.numCentroids, x.nProbe)) == x.ivf(trained = false),
        rows(Similarity.ivfTopKKmeans(q, it, x.k, x.numCentroids, x.nProbe, x.iterations)) ==
          x.ivf(trained = true),
        rows(Similarity.ivfPqTopK(q, it, x.k, x.numCentroids, x.nProbe, x.numSub, x.codebookSize)) ==
          x.pq(trained = false),
        rows(Similarity.ivfPqTopKKmeans(q, it, x.k, x.numCentroids, x.nProbe, x.numSub,
          x.codebookSize, x.iterations)) == x.pq(trained = true),
        rows(Similarity.ivfPqTopKRerank(q, it, x.k, x.k + 2, x.numCentroids, x.nProbe, x.numSub,
          x.codebookSize)) == x.rerank)
      Prop(got.forall(identity)) :| s"seed $s: [ivf, ivf_kmeans, pq, pq_kmeans, pq_rerank] = $got, $x"
    }: _*)
}
