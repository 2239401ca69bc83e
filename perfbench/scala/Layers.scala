package perfbench

import scala.collection.mutable
import scala.util.control.NonFatal
import graft.pdf.{ContentInterp, FontInfo, Fonts, PdfDocument, PdfExtractor, PdfObj}
import graft.pdf.PdfObj._
import graft.html.{Elem, HtmlExtractor, HtmlParser}
import graft.job.{Assembly, Span}

/** The clock of the single-thread passes: CPU time of the calling
  * thread, so that neither GC pauses (the layered sequence allocates more
  * than the kernel) nor time the host steals land in a layer.
  */
object ThreadClock {
  private val bean = java.lang.management.ManagementFactory.getThreadMXBean
  def nanos(): Long = bean.getCurrentThreadCpuTime
}

/** Spans kept in memory: name, start, end, parent span and doc index,
  * on the `ThreadClock`. A disabled instance records nothing (the
  * untraced layered pass).
  */
final class Spans(enabled: Boolean) {
  private var n = 0
  private var names = new Array[String](4096)
  private var parents = new Array[Int](4096)
  private var docs = new Array[Int](4096)
  private var starts = new Array[Long](4096)
  private var ends = new Array[Long](4096)

  def open(name: String, parent: Int, doc: Int): Int =
    if (!enabled) -1
    else {
      if (n == names.length) {
        val c = n * 2
        names = java.util.Arrays.copyOf(names, c)
        parents = java.util.Arrays.copyOf(parents, c)
        docs = java.util.Arrays.copyOf(docs, c)
        starts = java.util.Arrays.copyOf(starts, c)
        ends = java.util.Arrays.copyOf(ends, c)
      }
      names(n) = name; parents(n) = parent; docs(n) = doc
      starts(n) = ThreadClock.nanos()
      n += 1
      n - 1
    }

  def close(id: Int): Unit = if (id >= 0) ends(id) = ThreadClock.nanos()

  def size: Int = n

  /** Self time of each span: its duration minus the part of it that its
    * direct children cover (children of one span never overlap here: the
    * pass is single-threaded).
    */
  def selfNanos: Array[Long] = {
    val self = Array.tabulate(n)(i => ends(i) - starts(i))
    var i = 0
    while (i < n) {
      if (parents(i) >= 0) self(parents(i)) -= ends(i) - starts(i)
      i += 1
    }
    self
  }

  /** Self time summed per span name, in ms. */
  def selfMsByName: Map[String, Double] = {
    val self = selfNanos
    (0 until n).groupBy(names(_)).map { case (k, ix) => k -> ix.map(self(_)).sum / 1e6 }
  }

  def write(path: String): Unit = {
    val f = new java.io.File(path)
    f.getParentFile.mkdirs()
    val w = new java.io.PrintWriter(new java.io.BufferedWriter(new java.io.FileWriter(f)))
    try {
      val self = selfNanos
      val t0 = if (n > 0) starts(0) else 0L
      w.println("span\tparent\tdoc\tname\tstart_ns\tend_ns\tself_ns")
      var i = 0
      while (i < n) {
        w.println(s"$i\t${parents(i)}\t${docs(i)}\t${names(i)}\t${starts(i) - t0}\t${ends(i) - t0}\t${self(i)}")
        i += 1
      }
    } finally w.close()
  }
}

/** Work counts of one layered pass. */
final class LayerCounts {
  var pdfDocs, pdfPages, contentBytes, fontsLoaded, charsOut = 0L
  var htmlDocs, htmlBlocks, htmlBlocksKept = 0L
}

/** Single-thread passes over a fixed sample of a workload's payloads.
  *
  * `kernel` calls the two extractors whole, as ExtractJob's map does.
  * `layered` calls the public functions of graft.pdf and graft.html one
  * layer at a time, in the order the extractors call them, with a span
  * around each call:
  *
  *   pdf:  new PdfDocument (xref) → doc.pages (pagetree) → per page:
  *         Fonts.load of the page fonts (fonts) → doc.pageContent
  *         (decode) → ContentInterp.runPage (interp)
  *   html: HtmlParser.decodeBytes (decode) → HtmlParser.tokenize
  *         (tokenize) → HtmlParser.parse (parse) →
  *         HtmlExtractor.extractFromString (extract)
  *
  * `parse` tokenizes again and `extractFromString` parses again, so the
  * tree layer is parse − tokenize and the classifier is extract − parse.
  * Both passes must give the same text and spans for every document.
  */
object Layers {

  /** Text and spans of one document, or its error message. */
  type Out = Either[String, (String, Seq[Span])]

  private def msg(e: Throwable): String = {
    val m = e.getMessage
    if (m == null) e.getClass.getSimpleName else m
  }

  private def guarded(f: => (String, Seq[Span])): Out =
    try Right(f)
    catch {
      case e: Throwable if NonFatal(e) || e.isInstanceOf[StackOverflowError] => Left(msg(e))
    }

  /** The whole extractor on one payload, as ExtractJob's map calls it. */
  def kernel(b: Array[Byte], inflater: java.util.zip.Inflater): Out =
    guarded {
      if (PdfExtractor.isPdf(b)) { val r = PdfExtractor.extract(b, inflater); (r.text, r.spans) }
      else { val r = HtmlExtractor.extract(b); (r.text, r.spans) }
    }

  /** The layer-by-layer sequence on payload `d`, one span per call. */
  def layered(b: Array[Byte], inflater: java.util.zip.Inflater, spans: Spans, d: Int,
              counts: LayerCounts): Out = {
    val root = spans.open("doc", -1, d)
    try guarded {
      if (PdfExtractor.isPdf(b)) pdf(b, inflater, spans, root, d, counts)
      else html(b, spans, root, d, counts)
    } finally spans.close(root)
  }

  @inline private def layer[A](spans: Spans, name: String, root: Int, d: Int)(f: => A): A = {
    val id = spans.open(name, root, d)
    try f finally spans.close(id)
  }

  /** PdfExtractor.extract's sequence (column-unaware, the default). */
  private def pdf(bytes: Array[Byte], inflater: java.util.zip.Inflater, spans: Spans,
                  root: Int, d: Int, c: LayerCounts): (String, Seq[Span]) = {
    c.pdfDocs += 1
    val doc = layer(spans, "pdf.xref", root, d)(new PdfDocument(bytes, inflater))
    val pages = layer(spans, "pdf.pagetree", root, d)(doc.pages)
    val fontCache = mutable.Map.empty[PdfObj, FontInfo]
    val warns = mutable.LinkedHashSet.empty[String]
    val sb = new java.lang.StringBuilder(1024)
    val out = Vector.newBuilder[Span]
    var emitted = 0
    pages.zipWithIndex.foreach { case (page, pageIdx) =>
      c.pdfPages += 1
      // the page's fonts go into the cache the interpreter reads; a font
      // that fails to load here is left out, so the interpreter loads it
      // again and handles the failure exactly as the extractor does
      layer(spans, "pdf.fonts", root, d) {
        doc.dictOf(page.resources.get("Font").getOrElse(PNull)).m.foreach { case (name, entry) =>
          if (!fontCache.contains(entry)) doc.resolve(entry) match {
            case fd: PDict =>
              try { fontCache(entry) = Fonts.load(doc, name, fd); c.fontsLoaded += 1 }
              catch { case NonFatal(_) => () }
            case _ => ()
          }
        }
      }
      val content = layer(spans, "pdf.decode", root, d)(doc.pageContent(page))
      c.contentBytes += content.length
      val (text, hid) = layer(spans, "pdf.interp", root, d) {
        if (content.isEmpty) ("", Vector.empty[(Int, Int)])
        else ContentInterp.runPage(doc, content, page.resources, fontCache, warns)
      }
      if (text.nonEmpty) {
        if (emitted > 0) sb.append(Assembly.UnitJoin)
        val start = sb.length
        sb.append(text)
        if (hid.isEmpty) out += Span(start, sb.length, pageIdx, "pdf-text")
        else {
          var pos = 0
          hid.foreach { case (hs, he) =>
            if (hs > pos) out += Span(start + pos, start + hs, pageIdx, "pdf-text")
            out += Span(start + hs, start + he, pageIdx, "pdf-text-hidden")
            pos = he
          }
          if (pos < text.length) out += Span(start + pos, start + text.length, pageIdx, "pdf-text")
        }
        emitted += 1
      }
    }
    val sawImage = warns.remove(ContentInterp.ImageSeen)
    if (sb.length == 0 && warns.nonEmpty) throw new RuntimeException(warns.head)
    if (sb.length == 0 && sawImage && pages.nonEmpty) throw new RuntimeException("no-text-layer")
    c.charsOut += sb.length
    (sb.toString, out.result())
  }

  private def html(bytes: Array[Byte], spans: Spans, root: Int, d: Int,
                   c: LayerCounts): (String, Seq[Span]) = {
    c.htmlDocs += 1
    val s = layer(spans, "html.decode", root, d)(HtmlParser.decodeBytes(bytes))
    layer(spans, "html.tokenize", root, d)(HtmlParser.tokenize(s))
    val tree = layer(spans, "html.parse", root, d)(HtmlParser.parse(s))
    val r = layer(spans, "html.extract", root, d)(HtmlExtractor.extractFromString(s))
    c.htmlBlocks += blockElems(tree)
    c.htmlBlocksKept += r.nBlocks
    (r.text, r.spans)
  }

  /** The tags that open a text block in HtmlExtractor's segmentation. */
  private val BlockTags = Set("p", "div", "section", "article", "h1", "h2", "h3", "h4", "h5",
    "h6", "li", "blockquote", "pre", "td", "th", "tr", "table", "ul", "ol", "dl", "dt", "dd",
    "main", "body", "figure", "figcaption", "address", "summary", "details")

  /** Block-opening elements in the tree: the candidate blocks. */
  private def blockElems(root: Elem): Int = {
    var n = 0
    val stack = mutable.Stack[Elem](root)
    while (stack.nonEmpty) {
      val e = stack.pop()
      if (BlockTags.contains(e.tag)) n += 1
      e.children.foreach { case c: Elem => stack.push(c); case _ => () }
    }
    n
  }
}

/** Layer attribution of one fixed sample. */
final case class LayerResult(metrics: Map[String, Double], kernelDocsPerSec: Double,
                             mismatches: Long, attributionFailures: Long, spans: Spans)

/** Runs each document of the sample, `Rounds` times, three ways: the
  * kernel, the layered sequence with spans off, and the layered sequence
  * with spans on. The three calls on one document follow each other (in
  * an order that rotates by round), so JIT, GC and co-tenant drift fall
  * on all three alike; each figure is the median over the rounds of its
  * sum over the sample, in thread CPU time.
  *
  * Checks: each document's layered text and spans equal the kernel's
  * (`trace.mismatches`), and the layer times add up to the kernel time
  * within `MaxLayerSumError` (`trace.layer_sum_frac`), so that no layer
  * figure comes from a different program than the one measured whole.
  */
object LayerPasses {
  val Rounds = 3
  val MaxLayerSumError = 0.15

  private val pdfLayers = Seq("xref", "pagetree", "fonts", "decode", "interp")

  def run(docs: IndexedSeq[Array[Byte]]): LayerResult = {
    val kernelS, plainS, tracedS = Vector.newBuilder[Double]
    val selfMs = Vector.newBuilder[Map[String, Double]]
    var mismatches = 0L
    var spans: Spans = null
    var counts: LayerCounts = null
    val inflater = new java.util.zip.Inflater()
    val off = new Spans(false)
    try (0 until Rounds).foreach { r =>
      spans = new Spans(true)
      counts = new LayerCounts
      val ns = new Array[Long](3)
      var bad = 0L
      docs.indices.foreach { d =>
        val b = docs(d)
        var kOut, tOut: Layers.Out = null
        (0 until 3).foreach { j =>
          val v = (j + r) % 3
          val t0 = ThreadClock.nanos()
          v match {
            case 0 => kOut = Layers.kernel(b, inflater)
            case 1 => Layers.layered(b, inflater, off, d, new LayerCounts)
            case _ => tOut = Layers.layered(b, inflater, spans, d, counts)
          }
          ns(v) += ThreadClock.nanos() - t0
        }
        if (kOut != tOut) bad += 1
      }
      kernelS += ns(0) / 1e9; plainS += ns(1) / 1e9; tracedS += ns(2) / 1e9
      selfMs += spans.selfMsByName
      mismatches = math.max(mismatches, bad)
    } finally inflater.end()
    val selfs = selfMs.result()
    def ms(name: String) = Measure.median(selfs.map(_.getOrElse(name, 0.0)))
    val pdf = pdfLayers.map(l => s"pdf.${l}_ms" -> ms(s"pdf.$l")).toMap
    val html = Map(
      "html.decode_ms" -> ms("html.decode"),
      "html.tokenize_ms" -> ms("html.tokenize"),
      "html.tree_ms" -> Measure.median(selfs.map(s =>
        s.getOrElse("html.parse", 0.0) - s.getOrElse("html.tokenize", 0.0))),
      "html.classify_ms" -> Measure.median(selfs.map(s =>
        s.getOrElse("html.extract", 0.0) - s.getOrElse("html.parse", 0.0))))
    val kernelMs = Measure.median(kernelS.result()) * 1e3
    val layerSumFrac = (pdf.values.sum + html.values.sum) / kernelMs
    val metrics = pdf ++ html ++ Map(
      "pdf.docs" -> counts.pdfDocs.toDouble, "pdf.pages" -> counts.pdfPages.toDouble,
      "pdf.content_bytes" -> counts.contentBytes.toDouble,
      "pdf.fonts_loaded" -> counts.fontsLoaded.toDouble,
      "pdf.chars_out" -> counts.charsOut.toDouble,
      "html.docs" -> counts.htmlDocs.toDouble, "html.blocks" -> counts.htmlBlocks.toDouble,
      "html.blocks_kept" -> counts.htmlBlocksKept.toDouble,
      "trace.layer_sum_frac" -> layerSumFrac,
      "trace.overhead_frac" -> (Measure.median(tracedS.result()) / Measure.median(plainS.result()) - 1.0),
      "trace.mismatches" -> mismatches.toDouble,
      "trace.spans" -> spans.size.toDouble)
    val attributionFailures = if (math.abs(layerSumFrac - 1.0) > MaxLayerSumError) 1L else 0L
    LayerResult(metrics, docs.size / (kernelMs / 1e3), mismatches, attributionFailures, spans)
  }
}
