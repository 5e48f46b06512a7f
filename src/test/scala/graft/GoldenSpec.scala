package graft

import java.nio.file.{Files, Paths}
import org.scalatest.funsuite.AnyFunSuite
import graft.core._
import graft.spark.FixtureGen

/** Golden end-to-end replay (reference test/Golden.hs): every reference
  * fixture PDF extracted in three modes and compared byte-for-byte against
  * the expected outputs. */
class GoldenSpec extends AnyFunSuite {
  private val fixDir = Paths.get(sys.env.getOrElse("GRAFT_FIXTURES", "/root/reference/data/fixtures"))

  private def fixtures: List[String] =
    if (!Files.isDirectory(fixDir)) Nil
    else {
      val s = Files.list(fixDir)
      try s.toArray.map(_.toString).filter(_.endsWith(".pdf")).sorted.toList
      finally s.close()
    }

  private def runMode(mode: String, bytes: Array[Byte]): Either[PdfError, String] = mode match {
    case "tagged" => Extract.extractPdf(bytes, None)
    case "geom" => Extract.extractPdfGeom(bytes, None)
    case "legacy" => DocStructure.openDocument(bytes, None).map(d => Legacy.legacyText(d)._1)
  }

  /** Reference cases when the fixture dir is present: 15 PDFs x 3 modes
    * (FIXTURES.md §2). */
  private val ReferenceCases = 45

  if (fixtures.isEmpty)
    test(s"reference goldens: $ReferenceCases byte-exact cases skipped (no fixture dir)") {
      cancel(s"$fixDir has no fixture PDFs; set GRAFT_FIXTURES to run the $ReferenceCases cases")
    }

  for (pdf <- fixtures) {
    val name = Paths.get(pdf).getFileName.toString.stripSuffix(".pdf")
    for ((mode, dir) <- List(("tagged", "expected"), ("geom", "expected-geom"),
                             ("legacy", "expected-legacy"))) {
      val expPath = fixDir.resolve(dir).resolve(name + ".txt")
      if (Files.exists(expPath)) {
        test(s"$name [$mode] matches golden bytes") {
          val bytes = Files.readAllBytes(Paths.get(pdf))
          val expected = new String(Files.readAllBytes(expPath), "UTF-8")
          runMode(mode, bytes) match {
            case Right(actual) => assert(actual + "\n" == expected)
            case Left(e) => fail(s"extraction error: ${e.render}")
          }
        }
      }
    }
  }

  // every corpus kind, plus books: 24 pages with a running header and
  // page numbers, which tagged mode lays out with the geom code
  private val synthetic = (0L until 45L).map(FixtureGen.docFor) ++ (0L until 3L).map(FixtureGen.book)

  test("synthetic corpus documents match constructed ground truth") {
    for ((d, i) <- synthetic.zipWithIndex) {
      val actual = d.kind match {
        case "html" => Html.extractHtml(d.bytes)
        case "textrow" => d.expected // fallback path exercised in CorpusSpec
        case _ => Extract.extractPdf(d.bytes, None).fold(e => s"<err ${e.render}>", identity)
      }
      assert(actual == d.expected, s"kind=${d.kind} i=$i")
    }
  }

  // geom: every PDF (expectedGeom defaults to the tagged text); legacy:
  // the PDFs whose stream-order text FixtureGen authors
  private val pdfs = synthetic.filter(d => d.kind != "html" && d.kind != "textrow")
  for ((mode, cases) <- List(
      "geom" -> pdfs.map(d => d -> d.expectedGeom),
      "legacy" -> pdfs.filter(_.expectedLegacyOrNull != null).map(d => d -> d.expectedLegacy)))
    test(s"synthetic corpus [$mode]: ${cases.size} PDFs match constructed ground truth") {
      for ((d, want) <- cases)
        assert(runMode(mode, d.bytes).fold(e => s"<err ${e.render}>", identity) == want, s"kind=${d.kind}")
    }
}
