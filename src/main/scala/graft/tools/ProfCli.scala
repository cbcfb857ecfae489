package graft.tools

import graft.core.model._
import graft.engine.Extractor
import graft.fixtures.InterleavedGen

/** Single-threaded micro-profiler for the extraction hot path — no
  * Spark, isolates per-document CPU cost by doc kind (the per-core
  * number that bounds cluster throughput), bytes allocated per
  * document, and the per-phase split (`load`, `load+pages`, `pageText`,
  * `flate`, `lexer`) of one heavy PDF, then a thread ladder up to the
  * host's core count.
  *
  * Usage: `runMain graft.tools.ProfCli [docs]` (default 1000). The
  * benchmark runs extraction under C1 (`-XX:TieredStopAtLevel=1`), so
  * compare allocation figures under that flag too: C1 does no escape
  * analysis, so every short-lived object is a heap allocation. */
object ProfCli {
  def main(args: Array[String]): Unit = {
    val n = args.headOption.map(_.toLong).getOrElse(1000L)
    // warmup (JIT)
    (0L until 400L).foreach(i =>
      Extractor.extractDoc(InterleavedGen.docWithGolden(i)._1, ExtractOptions()))

    var t0 = System.nanoTime()
    val docs = (1000L until 1000L + n).map(i => InterleavedGen.docWithGolden(i)._1)
    println(f"gen:     ${(System.nanoTime() - t0) / 1e9}%6.2f s for $n docs")

    t0 = System.nanoTime()
    var spans = 0
    docs.foreach(d => spans += Extractor.extractDoc(d, ExtractOptions()).spanCount)
    val sec = (System.nanoTime() - t0) / 1e9
    println(f"extract: $sec%6.2f s, $spans spans, ${n / sec}%.0f docs/s, ${spans / sec}%.0f spans/s (1 thread)")

    for (m <- 0 until 10) {
      val ds = (0L until 2 * n).filter(_ % 10 == m)
        .map(i => InterleavedGen.docWithGolden(i)._1)
      val t = System.nanoTime()
      var sp = 0
      ds.foreach(d => sp += Extractor.extractDoc(d, ExtractOptions()).spanCount)
      println(f"  mod $m: ${(System.nanoTime() - t) / 1e6 / ds.size}%8.3f ms/doc  (${sp / ds.size}%4d spans/doc)")
    }

    // allocation per doc (drives the GC/bandwidth ceiling below)
    val tmx = java.lang.management.ManagementFactory.getThreadMXBean
      .asInstanceOf[com.sun.management.ThreadMXBean]
    val tid = Thread.currentThread.getId
    val aDocs = (0L until 2000L).map(i => InterleavedGen.docWithGolden(i)._1).toArray
    aDocs.foreach(d => Extractor.extractDoc(d, ExtractOptions()))
    for (m <- Seq(4, 9)) {
      val ds = aDocs.zipWithIndex.filter(_._2 % 10 == m).map(_._1)
      val a0 = tmx.getThreadAllocatedBytes(tid)
      ds.foreach(d => Extractor.extractDoc(d, ExtractOptions()))
      println(f"  alloc mod $m: ${(tmx.getThreadAllocatedBytes(tid) - a0) / ds.length / 1024.0}%8.1f KB/doc")
    }

    // per-phase allocation for a heavy multi-page PDF
    {
      import graft.pdf.{ContentText, PdfDocument}
      val heavy = InterleavedGen.docWithGolden(9L)._1
      val bytes = java.util.Base64.getDecoder.decode(heavy.spans.head.text)
      def allocOf(tag: String, reps: Int)(f: => Unit): Unit = {
        (0 until 50).foreach(_ => f) // warm
        val a0 = tmx.getThreadAllocatedBytes(tid)
        val t0 = System.nanoTime()
        (0 until reps).foreach(_ => f)
        val us = (System.nanoTime() - t0) / 1e3 / reps
        println(f"  phase $tag%-18s ${(tmx.getThreadAllocatedBytes(tid) - a0) / reps / 1024.0}%8.2f KB $us%8.1f us")
      }
      allocOf("load", 200) { PdfDocument.load(bytes) }
      allocOf("load+pages", 200) { PdfDocument.load(bytes).pages }
      val doc = PdfDocument.load(bytes); val nPages = doc.pages.length
      allocOf(s"pageText x$nPages", 50) {
        val d = PdfDocument.load(bytes)
        d.pages.foreach(p => ContentText.extractPageText(d, p))
      }
      allocOf("fulldoc", 50) { Extractor.extractDoc(heavy, ExtractOptions()) }
      // finer split of the pageText phase on the loaded document:
      // stream decode (Flate) alone, then content lexing alone on the
      // pre-decoded bytes — extractPageText minus the sum is the
      // interpreter loop + font decode + string assembly
      import graft.pdf.{Lexer, PDict, PStream}
      val contents: Vector[PStream] = doc.pages.toVector.flatMap { p =>
        doc.dictGet(p, "Contents") match { case s: PStream => Some(s); case _ => None }
      }
      allocOf(s"flate   x$nPages", 100) {
        contents.foreach(s => doc.streamData(s))
      }
      val decoded = contents.map(s => doc.streamData(s).toOption.get)
      allocOf(s"lexer   x$nPages", 100) {
        decoded.foreach(b => new Lexer(b, 0).tokenizeContent())
      }
      allocOf(s"allText x$nPages", 100) {
        doc.pages.foreach(p => ContentText.extractPageText(doc, p))
      }
    }

    // multithreaded scaling (no Spark, extraction only — docs are
    // pre-generated): the machine's thread-scaling ceiling. The ladder
    // stops at the host's core count: more threads than cores measure
    // oversubscription, not the code.
    val pre = (0L until n).map(i => InterleavedGen.docWithGolden(i)._1).toArray
    val cores = Runtime.getRuntime.availableProcessors
    var base = 0.0
    for (threads <- Seq(1, 2, 4, 8, 16, 32).filter(_ <= cores)) {
      val per = (n / threads).toInt
      val t = System.nanoTime()
      val ts = (0 until threads).map { w =>
        val th = new Thread(() => {
          var i = w * per
          val end = i + per
          while (i < end) {
            Extractor.extractDoc(pre(i), ExtractOptions())
            i += 1
          }
        })
        th.start(); th
      }
      ts.foreach(_.join())
      val s = (System.nanoTime() - t) / 1e9
      val rate = per.toLong * threads / s
      if (threads == 1) base = rate
      println(f"  threads=$threads%2d: $rate%8.0f docs/s (${rate / base / threads * 100}%5.1f%% per-thread eff)")
    }
  }
}
