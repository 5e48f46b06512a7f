package perfbench

import graft.core._
import graft.core.DocStructure.Document
import graft.core.PageItem.ItemGlyph
import graft.core.PObj.{PDict, PRef}
import graft.spark.{CorpusGen, Pipeline}

/** Single-threaded phase runner for the extraction kernel. It calls the
  * kernel's public entry points in the order `Pipeline.extractRowMode`
  * (tagged mode) does and times each step. Its text must equal
  * `extractRowMode`'s on every sampled doc, or its phase numbers are void. */
object CorePhases {
  val Phases = Seq("open", "pagetree", "decode", "font", "interp", "layout", "html")

  final case class DocRun(ok: Boolean, text: String, error: String, pages: Int, glyphs: Long,
      contentBytes: Long, phaseNs: Map[String, Long])

  final case class Result(sampleDocs: Int, kinds: Seq[String], reps: Int,
      phaseMs: Map[String, Double], rowModeMs: Double, coverage: Double,
      pages: Long, glyphs: Long, contentBytes: Long, errorDocs: Map[String, Long],
      allocBytesPerDoc: Double, docsPerS1t: Double, mismatches: Int)

  /** The first `n` rows of the workload's corpus range: the corpus's own
    * mix, half books and the light rows cycling through every kind. */
  def sample(base: Long, n: Int): Seq[CorpusGen.CorpusRow] =
    (base until base + n).map(i => CorpusGen.row(i, heavy = true))

  private def errorClass(msg: String): String = msg.takeWhile(c => c != ':').trim

  /** Per-doc phase clock: nanoseconds summed by phase. */
  final class Clock {
    val ns = scala.collection.mutable.Map[String, Long]().withDefaultValue(0L)
    def apply[A](phase: String)(body: => A): A = Trace.span("core", phase) {
      val t0 = System.nanoTime()
      try body finally ns(phase) += System.nanoTime() - t0
    }
  }

  def runDoc(r: CorpusGen.CorpusRow): DocRun = {
    val timed = new Clock
    val ns = timed.ns
    def fail(e: String, pages: Int) = DocRun(ok = false, null, e, pages, 0L, 0L, ns.toMap)
    val payload = if (r.html == null) Array.emptyByteArray else r.html
    try {
      if (payload.length > Pipeline.MaxPayloadBytes) fail("payload too large", 0)
      else if (Html.looksLikePdf(payload)) {
        timed("open")(DocStructure.openDocument(payload, None)) match {
          case Left(e) => fail(e.render, 0)
          case Right(doc) => pdf(doc, timed)
        }
      } else if (Html.looksLikeHtml(payload)) {
        val t = timed("html")(Html.extractHtml(payload))
        DocRun(ok = true, t, "", 1, 0L, 0L, ns.toMap)
      } else if (r.text != null) DocRun(ok = true, r.text, "", 1, 0L, 0L, ns.toMap)
      else fail("unrecognized payload", 0)
    } catch {
      case e: Throwable => fail(s"kernel exception: ${e.getClass.getSimpleName}", 0)
    }
  }

  private def pdf(doc: Document, t: Clock): DocRun = {
    val ns = t.ns
    val (refsE, structE) = t("pagetree")((DocStructure.pageRefs(doc), Structure.structTree(doc)))
    val pages = refsE.map(_.length).getOrElse(0)
    def fail(e: PdfError) = DocRun(ok = false, null, e.render, pages, 0L, 0L, ns.toMap)
    // taggedText checks the structure tree first, then the page tree
    structE match {
      case Left(e) => return fail(e)
      case _ => ()
    }
    val refs = refsE match {
      case Left(e) => return fail(e)
      case Right(rs) => rs
    }
    var contentBytes = 0L
    val inputs = t("decode") {
      refs.map(ref => Interp.pageInterpretInputs(doc, ref))
    }
    t("font") {
      for (Right((_, content, res)) <- inputs) {
        contentBytes += content.length
        val fd = res.get("/Font") match {
          case Some(PDict(d)) => Some(d)
          case Some(PRef(r)) => doc.findDictByRef(r)
          case _ => None
        }
        for (d <- fd; PRef(r) <- d.values) doc.fontInfoByRef(r)
      }
    }
    val items = t("interp") {
      val out = List.newBuilder[List[PageItem]]
      var err: PdfError = null
      val it = refs.iterator
      while (err == null && it.hasNext) Interp.interpretPageItems(doc, it.next()) match {
        case Right(x) => out += x
        case Left(e) => err = e
      }
      if (err == null) Right(out.result()) else Left(err)
    }
    items match {
      case Left(e) => fail(e)
      case Right(pageItems) =>
        val text = t("layout") {
          structE match {
            case Right(Some(root)) if Extract.taggedUsable(pageItems) =>
              Extract.assembleTagged(Layout.defaultOptions, root, refs, pageItems)
            case _ =>
              Layout.layoutDocumentFromPageLines(Layout.defaultOptions, pageItems.map(Layout.pageLinesRaw))
          }
        }
        val glyphs = pageItems.iterator.map(_.count(_.isInstanceOf[ItemGlyph]).toLong).sum
        DocRun(ok = true, text, "", pages, glyphs, contentBytes, ns.toMap)
    }
  }

  /** One warm round over the sample, then `reps` timed rounds; each round
    * runs the phase runner and then `extractRowMode` on every doc.
    * Phase times are medians over rounds of the per-round sums. */
  def run(base: Long, n: Int, reps: Int): Result = {
    val docs = sample(base, n)
    def rowMode(r: CorpusGen.CorpusRow) = Pipeline.extractRowMode(r.url, r.html, r.text, "tagged")
    docs.foreach { r => runDoc(r); rowMode(r) }
    val rounds = (1 to reps).map { rep =>
      Trace.span("bench", s"core round $rep") {
        val runs = docs.map(r => Trace.span("core", s"doc ${r.kind} ${r.url}")(runDoc(r)))
        val a0 = Jvm.threadAllocatedBytes()
        val t0 = System.nanoTime()
        val ref = docs.map(rowMode)
        val rowNs = System.nanoTime() - t0
        val alloc = Jvm.threadAllocatedBytes() - a0
        (runs, ref, rowNs, alloc)
      }
    }
    val (runs, ref, _, _) = rounds.last
    val mismatches = runs.zip(ref).count { case (a, b) => a.ok != b.ok || a.text != b.text }
    def median(xs: Seq[Double]): Double = { val s = xs.sorted; s(s.size / 2) }
    val phaseMs = Phases.map { p =>
      p -> median(rounds.map(_._1.map(_.phaseNs.getOrElse(p, 0L)).sum / 1e6))
    }.toMap
    val rowModeMs = median(rounds.map(_._3 / 1e6))
    val errors = runs.filter(!_.ok).groupBy(d => errorClass(d.error)).map { case (k, v) => k -> v.size.toLong }
    Result(docs.size, docs.map(_.kind).distinct, reps, phaseMs, rowModeMs,
      phaseMs.values.sum / rowModeMs, runs.map(_.pages.toLong).sum, runs.map(_.glyphs).sum,
      runs.map(_.contentBytes).sum, errors, median(rounds.map(_._4.toDouble)) / docs.size,
      docs.size / (rowModeMs / 1000.0), mismatches)
  }
}
