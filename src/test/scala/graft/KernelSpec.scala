package graft

import org.scalatest.funsuite.AnyFunSuite
import scala.collection.immutable.TreeMap
import graft.core._
import graft.core.PObj._

/** Unit tests mirroring the reference's test/Unit.hs groups: matrix algebra,
  * content-stream micro-programs against a stub font, layout heuristics,
  * number-lexer adversarial inputs, RC4 vectors, code splitting, CMaps. */
class KernelSpec extends AnyFunSuite {

  // ---- matrix algebra (Unit.hs:217-285) ----

  test("matrix identity and composition") {
    val m = Mat(2, 0, 0, 3, 5, 7)
    assert(m.multiply(Mat.identity) == m)
    assert(Mat.identity.multiply(m) == m)
    val t = Mat.translate(10, 20)
    assert(t.apply(1, 1) == ((11.0, 21.0)))
    // (A*B)*C == A*(B*C)
    val a = Mat(1, 2, 3, 4, 5, 6)
    val b = Mat(7, 8, 9, 1, 2, 3)
    val c = Mat(4, 5, 6, 7, 8, 9)
    val l = a.multiply(b).multiply(c)
    val r = a.multiply(b.multiply(c))
    assert(math.abs(l.a - r.a) < 1e-9 && math.abs(l.f - r.f) < 1e-9)
  }

  // ---- content-stream micro-programs (Unit.hs:315-362) ----

  private def stubDoc: DocStructure.Document =
    new DocStructure.Document("".getBytes, TreeMap.empty, Map.empty, None, Some(Map.empty))

  private def stubFont: FontInfo = FontInfo(
    Encoding.NullMap, Map.empty,
    simpleFirstChar = 65,
    simpleWidths = Vector(Some(600.0), Some(700.0)), // A=600, B=700
    Map.empty, Map.empty, FontInfo.DefaultVerticalW1,
    wmode = 0, bytesPerCode = 1, defaultWidth = 500, isType0 = false)

  private def interp(src: String): List[Glyph] =
    Interp.interpretContentItems(stubDoc, DocStructure.emptyDict,
      Map("/F1" -> stubFont), src.getBytes).collect {
      case PageItem.ItemGlyph(g) => g
    }

  test("Tj places a glyph with origin, width, size") {
    val gs = interp("BT /F1 10 Tf 100 700 Td (AB) Tj ET")
    assert(gs.length == 1)
    val g = gs.head
    assert(g.text == "AB")
    assert(g.x == 100.0 && g.y == 700.0)
    assert(math.abs(g.width - 13.0) < 1e-9) // (600+700)/1000*10
    assert(math.abs(g.size - 10.0) < 1e-9)
  }

  test("cm scale doubles device size and width") {
    val gs = interp("q 2 0 0 2 0 0 cm BT /F1 10 Tf 100 300 Td (A) Tj ET Q")
    assert(gs.length == 1)
    val g = gs.head
    assert(g.x == 200.0 && g.y == 600.0)
    assert(math.abs(g.size - 20.0) < 1e-9)
    assert(math.abs(g.width - 12.0) < 1e-9)
  }

  test("TJ kern advances the text matrix") {
    val gs = interp("BT /F1 10 Tf 0 0 Td [(A) -200 (B)] TJ ET")
    assert(gs.map(_.text) == List("A", "B"))
    assert(math.abs(gs(1).x - 8.0) < 1e-9) // 6 + 200/1000*10
  }

  test("literal strings: plain runs, escapes, nested parens, octal and high bytes") {
    def shown(lit: String): String =
      Interp.interpretContentItems(stubDoc, DocStructure.emptyDict, Map("/F1" -> stubFont),
        s"BT /F1 10 Tf 0 0 Td $lit Tj ET".getBytes("ISO-8859-1")).collect {
        case PageItem.ItemGlyph(g) => g.text
      }.mkString("|")
    assert(shown("(AB)") == "AB")
    assert(shown("()") == "")
    assert(shown("(A\\)B)") == "A)B")
    assert(shown("(A(B)C)") == "A(B)C")
    assert(shown("(x\\101\\1023y)") == "xABy") // extra octal digits are dropped
    assert(shown("(a\\qb)") == "a?b")
    assert(shown("(caf\u00e9)") == "caf\u00e9")
    assert(shown("(unterminated") == "")
  }

  test("q/Q restores the graphics state") {
    val gs = interp("q 2 0 0 2 0 0 cm Q BT /F1 10 Tf 50 50 Td (A) Tj ET")
    assert(gs.head.x == 50.0 && gs.head.size == 10.0)
  }

  test("leading-dot and negative-fraction numbers lex correctly") {
    val gs = interp("BT /F1 10 Tf 1 0 0 1 -.5 .25 Tm (A) Tj ET")
    assert(gs.head.x == -0.5 && gs.head.y == 0.25)
  }

  test("BDC/EMC marked content assigns MCIDs") {
    val gs = interp("/P <</MCID 3>> BDC BT /F1 10 Tf 0 0 Td (A) Tj ET EMC BT /F1 10 Tf 0 20 Td (B) Tj ET")
    assert(gs.head.mcid.contains(3))
    assert(gs(1).mcid.isEmpty)
  }

  test("word spacing applies to 1-byte code 32 only") {
    val gs = interp("BT /F1 10 Tf 5 Tw 0 0 Td (A B) Tj ET")
    // width = A(6) + space(500/1000*10 + 5) + B(7) = 23
    assert(math.abs(gs.head.width - 23.0) < 1e-9)
  }

  // ---- layout heuristics (Unit.hs:377-658) ----

  private def glyph(text: String, x: Double, y: Double, w: Double, size: Double): Glyph =
    Glyph(text, x, y, w, size, "/F1", 0, None)

  test("paragraph gap break at 1.6x typical leading") {
    val items: List[PageItem] =
      List(
        glyph("Line one", 72, 700, 40, 10),
        glyph("Line two", 72, 688, 40, 10),
        glyph("Line three", 72, 676, 40, 10),
        glyph("New para", 72, 640, 40, 10)).map(PageItem.ItemGlyph.apply)
    val paras = Layout.layoutParagraphs(Layout.defaultOptions, items)
    assert(paras == List("Line one Line two Line three", "New para"))
  }

  test("indent starts a new paragraph") {
    val items: List[PageItem] =
      List(
        glyph("First line", 72, 700, 40, 10),
        glyph("wrapped", 72, 688, 40, 10),
        glyph("Indented start", 85, 676, 40, 10)).map(PageItem.ItemGlyph.apply)
    val paras = Layout.layoutParagraphs(Layout.defaultOptions, items)
    assert(paras == List("First line wrapped", "Indented start"))
  }

  test("hyphen join drops the space") {
    assert(Layout.paraJoinSep("contin-", "uation") == "")
    assert(Layout.paraJoinSep("日本", "語") == "")
    assert(Layout.paraJoinSep("plain", "join") == " ")
  }

  test("intraLineSpace rules") {
    assert(Layout.intraLineSpace(3.1, 10, Some('a'), Some('b')) == " ")
    assert(Layout.intraLineSpace(2.0, 10, Some('語'), Some('日')) == "")
    assert(Layout.intraLineSpace(21, 10, Some('語'), Some('日')) == " ")
    assert(Layout.intraLineSpace(5, 10, Some('-'), Some('b')) == "")
  }

  test("header/footer strip removes repeated cores and bare page numbers") {
    def page(n: Int): List[Line] = List(
      Line(770, 72, 150, 10, 72, 0, "Running Header", Nil, lastSuper = false),
      Line(400, 72, 200, 12, 72, 0, s"Body text $n", Nil, lastSuper = false),
      Line(30, 300, 310, 10, 300, 0, n.toString, Nil, lastSuper = false))
    val stripped = Layout.stripHeadersFooters(4, List(page(1), page(2), page(3), page(4)))
    assert(stripped.forall(_.length == 1))
    assert(stripped.head.head.text == "Body text 1")
  }

  test("roman numeral page numbers normalize to #") {
    assert(Layout.normalizeHeaderFooterText("page xiv") == "page#")
    assert(Layout.isBarePageNumber(Layout.normalizeHeaderFooterText("42")))
    assert(Layout.isBarePageNumber(Layout.normalizeHeaderFooterText("3-4")))
    assert(!Layout.isBarePageNumber(Layout.normalizeHeaderFooterText("Chapter 3")))
  }

  test("endsWithTerminal unwinds closing chars") {
    assert(Layout.endsWithTerminal("done!"))
    assert(Layout.endsWithTerminal("「終わり。」"))
    assert(!Layout.endsWithTerminal("continues."))  // ASCII '.' is not terminal
    assert(!Layout.endsWithTerminal("open"))
  }

  // ---- number parsing adversarial (Unit.hs:1396-1423) ----

  test("adversarial number tokens do not crash the interpreter") {
    for (src <- List("BT . Tf ET", "BT - Tf ET", "BT -.5. Td ET", "BT 1..5 0 Td ET",
                     "BT /F1 10 Tf ( ", "<<>>", "[", "BT /F1 10 Tf 0 0 Td <41 Tj ET")) {
      Interp.interpretContentItems(stubDoc, DocStructure.emptyDict,
        Map("/F1" -> stubFont), src.getBytes)
    }
    succeed
  }

  // ---- encryption (EncryptSpec.hs:11-26) ----

  test("RC4 keystream for key 01..05 matches the spec vector") {
    val ks = Crypt.rc4KeyStream(Array[Byte](1, 2, 3, 4, 5), 5)
    assert(ks.map(b => f"${b & 0xff}%02X").mkString(" ") == "B2 39 63 05 F0")
  }

  test("AES-128-CBC object decryption round-trips") {
    // encrypt with javax.crypto the way a conforming writer would, then
    // decrypt through the kernel's Security path
    val sec = Security(revision = 4, version = 4,
      key = Array.tabulate[Byte](16)(i => (i * 7 + 3).toByte), keyLength = 16, aes = true)
    val objKey = Crypt.objectKey(sec, 12, 0)
    val plain = "Secret stream payload!".getBytes("ISO-8859-1")
    val iv = Array.tabulate[Byte](16)(i => (i * 11).toByte)
    val cipher = javax.crypto.Cipher.getInstance("AES/CBC/PKCS5Padding")
    cipher.init(javax.crypto.Cipher.ENCRYPT_MODE,
      new javax.crypto.spec.SecretKeySpec(objKey, "AES"),
      new javax.crypto.spec.IvParameterSpec(iv))
    val ct = iv ++ cipher.doFinal(plain)
    val out = Crypt.decryptString(sec, 12, 0, ct)
    assert(new String(out, "ISO-8859-1") == "Secret stream payload!")
  }

  // ---- code splitting (Unit.hs:1355-1394) ----

  test("UTF-16BE surrogate pairs combine into one code") {
    val codes = Interp.unicodeBytesToCodes(List(0xD8, 0x3D, 0xDE, 0x00)) // U+1F600
    assert(codes == List(0x1F600))
    assert(Interp.unicodeBytesToCodes(List(0x00, 0x41, 0x30, 0x42)) == List(0x41, 0x3042))
  }

  test("SJIS lead bytes pair; ASCII passes through") {
    assert(Interp.sjisBytesToCodes(List(0x41, 0x88, 0x9F, 0x42)) == List(0x41, 0x889F, 0x42))
  }

  test("JIS X 0208 codes resolve via the charset table") {
    assert(Interp.encodingUnicode(Encoding.JISmap, 0x467C) == "日")
    assert(Interp.encodingUnicode(Encoding.JISmap, 0x4B5C) == "本")
    assert(Interp.encodingUnicode(Encoding.JISmap, 0x386C) == "語")
  }

  test("Adobe-Japan1 CID map anchors") {
    val m = CharMaps.adobeJapan16Map
    assert(m(34) == "A")
    assert(m(780) == "\uff10") // fullwidth zero
    assert(m(842) == "\u3041") // small hiragana a
    assert(m(925) == "\u30a1") // small katakana a
    assert(m(1125) == "\u4e9c") // first level-1 kanji
    assert(m(3284) == "\u65e5") // sun/day
    assert(m(4090) == "\u5f0c") // first level-2 kanji
    // reference-map quirks the structural derivation missed
    assert(m(61) == "\u00a5") // JIS-Roman yen at backslash position
    assert(m(633) == "\u2003") // EM space, not ideographic space
    assert(m(713) == "\uffe0") // fullwidth cent
    // proportional/halfwidth variant range 96-632
    assert(m(390) == "\uff40") // halfwidth fullwidth-grave variant
    assert(m(500) == "\u254b") // box drawings heavy cross
    // supplement CIDs beyond 7477
    assert(m(7479) == "\u2500") // box drawings light horizontal
    assert(m(0) == "[NOTDEF]")
    assert(m.size == 17960)
  }

  test("Identity-H Adobe-Japan1 without ToUnicode: variant + supplement CIDs extract") {
    // CIDs 1125 (亜), 390 (variant range 96-632: halfwidth grave), 500 (╋),
    // 7479 (supplement: box light horizontal) as 2-byte codes.
    val hex = "0465" + "0186" + "01F4" + "1D37"
    val stream = s"BT /F1 12 Tf 72 720 Td <$hex> Tj ET\n"
    val objects = Seq(
      "<< /Type /Catalog /Pages 2 0 R >>",
      "<< /Type /Pages /Kids [3 0 R] /Count 1 >>",
      "<< /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792] " +
        "/Resources << /Font << /F1 5 0 R >> >> /Contents 4 0 R >>",
      s"<< /Length ${stream.length} >>\nstream\n${stream}endstream",
      "<< /Type /Font /Subtype /Type0 /BaseFont /TestMincho /Encoding /Identity-H " +
        "/DescendantFonts [6 0 R] >>",
      "<< /Type /Font /Subtype /CIDFontType0 /BaseFont /TestMincho " +
        "/CIDSystemInfo << /Registry (Adobe) /Ordering (Japan1) /Supplement 6 >> /DW 1000 >>")
    val doc = DocStructure.openDocument(classicPdf(objects), None).toOption.get
    val text = Extract.taggedText(doc).toOption.get
    assert(text == "亜｀╋─\n", text.map(_.toInt.toHexString).mkString(","))
  }

  /** Classic-xref PDF whose object i+1 is `objects(i)`; object 1 is the root. */
  private def classicPdf(objects: Seq[String]): Array[Byte] = {
    import java.nio.charset.StandardCharsets.ISO_8859_1
    val out = new scala.collection.mutable.ArrayBuffer[Byte]
    def bb(s: String): Array[Byte] = s.getBytes(ISO_8859_1)
    val offsets = new scala.collection.mutable.ArrayBuffer[Int]
    out ++= bb("%PDF-1.5\n%µ¶\n")
    for ((body, i) <- objects.zipWithIndex) {
      offsets += out.length
      out ++= bb(s"${i + 1} 0 obj\n$body\nendobj\n")
    }
    val xrefAt = out.length
    out ++= bb(s"xref\n0 ${objects.length + 1}\n0000000000 65535 f \n")
    for (off <- offsets) out ++= bb(f"$off%010d 00000 n \n")
    out ++= bb(s"trailer\n<< /Size ${objects.length + 1} /Root 1 0 R >>\nstartxref\n$xrefAt\n%%EOF\n")
    out.toArray
  }

  test("Tf resolves a name against the resources in force: a form's /F1 is not the page's") {
    def stream(s: String) = s"<< /Length ${s.length} >>\nstream\n${s}endstream"
    val page = "BT /F1 12 Tf 72 720 Td (A) Tj ET /Fm0 Do BT /F1 12 Tf 72 680 Td (A) Tj ET\n"
    val form = "BT /F1 12 Tf 72 700 Td (A) Tj ET\n"
    val doc = DocStructure.openDocument(classicPdf(Seq(
      "<< /Type /Catalog /Pages 2 0 R >>",
      "<< /Type /Pages /Kids [3 0 R] /Count 1 >>",
      "<< /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792] " +
        "/Resources << /Font << /F1 5 0 R >> /XObject << /Fm0 6 0 R >> >> /Contents 4 0 R >>",
      stream(page),
      "<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica " +
        "/Encoding << /Differences [65 /bullet] >> >>",
      s"<< /Type /XObject /Subtype /Form /BBox [0 0 612 792] " +
        s"/Resources << /Font << /F1 7 0 R >> >> /Length ${form.length} >>\nstream\n${form}endstream",
      "<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica >>")), None).toOption.get
    val texts = Interp.interpretPageItems(doc, 3).toOption.get.collect { case PageItem.ItemGlyph(g) => g.text }
    assert(texts == List("•", "A", "•"))
  }

  test("1-byte decode table equals codeToUnicode for every FixtureGen font, /Differences and ToUnicode") {
    import graft.spark.FixtureGen
    val fixtureFonts = ((0L until FixtureGen.kinds.length.toLong).map(FixtureGen.docFor) :+ FixtureGen.book(0))
      .flatMap(d => DocStructure.openDocument(d.bytes, None).toOption)
      .flatMap { doc =>
        doc.xref.keys.toSeq.sorted
          .filter(r => doc.findDictByRef(r).flatMap(_.get("/Type")).contains(PName("/Font")))
          .map(doc.fontInfoByRef)
      }
    assert(fixtureFonts.nonEmpty)
    val diff = FontInfo.empty.copy(encoding = Encoding.DiffEncoding(TreeMap(
      32 -> "/space", 65 -> "/A", 66 -> "/bullet", 67 -> "/uni263A", 68 -> "/uniZZ", 200 -> "/notaglyph")))
    val toUnicode = FontInfo.empty.copy(
      toUnicode = Map(65 -> "ｱ", 66 -> "fi", 255 -> "\uD83D\uDE00"))
    val others = Seq(diff, toUnicode,
      FontInfo.empty.copy(encoding = Encoding.WithCharSet("ZapfDingbats")),
      FontInfo.empty.copy(bytesPerCode = 2),
      FontInfo.empty.copy(encoding = Encoding.CIDmap("Adobe-Japan1"), bytesPerCode = 2, isType0 = true),
      FontInfo.empty.copy(encoding = Encoding.SJISmap))
    for (fi <- fixtureFonts ++ others) {
      // fill the table in reverse, then read every entry back from it
      for (c <- 255 to 0 by -1) fi.unicode(c)
      for (c <- 0 to 255) assert(fi.unicode(c) == Interp.codeToUnicode(fi, c), s"$fi code $c")
    }
  }

  // ---- ToUnicode CMap parsing (Cmap.hs behavior) ----

  test("bfchar and bfrange parse") {
    val cmap =
      """/CIDInit /ProcSet findresource begin
        |begincmap
        |1 begincodespacerange
        |<00> <FF>
        |endcodespacerange
        |2 beginbfchar
        |<41> <0061>
        |<42> <0062>
        |endbfchar
        |1 beginbfrange
        |<50> <52> <0070>
        |endbfrange
        |endcmap""".stripMargin
    val m = CMapParse.parseCMap(cmap.getBytes)
    assert(m(0x41) == "a" && m(0x42) == "b")
    assert(m(0x50) == "p" && m(0x51) == "q" && m(0x52) == "r")
  }

  // ---- filters ----

  test("ASCII85 decode with z shorthand") {
    // "z" -> four zero bytes
    assert(Filters.ascii85("z".getBytes).toList == List[Byte](0, 0, 0, 0))
    val roundtrip = Filters.ascii85("87cUR@<Q".getBytes) // "Hello" region
    assert(roundtrip.nonEmpty)
    // full group: standard high-to-low order ("87cUR" = "Hell")
    assert(Filters.ascii85("87cUR".getBytes).toList == "Hell".getBytes.toList)
    // reference quirk (DocumentStructure.hs:338): a PARTIAL final group
    // emits the LOW grpLen-1 bytes, not Adobe's high bytes — computed by
    // hand: "ab" + 'uuu' padding -> n, emit [(n>>? ) low byte only]
    locally {
      var n = 0L
      for (v <- Seq('a' - 33, 'u' - 33, 'u' - 33, 'u' - 33, 'u' - 33)) n = n * 85 + v
      assert(Filters.ascii85("a".getBytes).isEmpty) // grpLen 1 -> 0 bytes
      var n2 = 0L
      for (v <- Seq('a' - 33, 'b' - 33, 'u' - 33, 'u' - 33, 'u' - 33)) n2 = n2 * 85 + v
      assert(Filters.ascii85("ab".getBytes).toList ==
        List((n2 & 0xff).toByte)) // LOW byte — reference parity
      var n3 = 0L
      for (v <- Seq('a' - 33, 'b' - 33, 'c' - 33, 'u' - 33, 'u' - 33)) n3 = n3 * 85 + v
      assert(Filters.ascii85("abc".getBytes).toList ==
        List(((n3 >> 8) & 0xff).toByte, (n3 & 0xff).toByte))
    }
  }

  test("PNG Up predictor") {
    // rows of 3 cols: first row raw (filter 0), second row Up (filter 2)
    val data = Array[Byte](0, 1, 2, 3, 2, 1, 1, 1)
    val out = Filters.decodePngPredictors(data, 3).toOption.get
    assert(out.toList == List[Byte](1, 2, 3, 2, 3, 4))
  }

  test("PNG Average and Paeth predictors (roundtrip vs a reference encoder)") {
    // encode rows with each filter type's textbook definition, decode back
    val rnd = new scala.util.Random(11)
    val cols = 5
    val rows = 8
    val plain = Array.fill[Byte](rows * cols)(rnd.nextInt(256).toByte)
    def paeth(a: Int, b: Int, c: Int): Int = {
      val p = a + b - c
      val pa = math.abs(p - a); val pb = math.abs(p - b); val pc = math.abs(p - c)
      if (pa <= pb && pa <= pc) a else if (pb <= pc) b else c
    }
    val enc = new scala.collection.mutable.ArrayBuffer[Byte]
    for (y <- 0 until rows) {
      val filt = y % 5 // cycle through all five filter types
      enc += filt.toByte
      for (x <- 0 until cols) {
        val cur = plain(y * cols + x) & 0xff
        val left = if (x > 0) plain(y * cols + x - 1) & 0xff else 0
        val up = if (y > 0) plain((y - 1) * cols + x) & 0xff else 0
        val upLeft = if (x > 0 && y > 0) plain((y - 1) * cols + x - 1) & 0xff else 0
        val raw = filt match {
          case 0 => cur
          case 1 => cur - left
          case 2 => cur - up
          case 3 => cur - (left + up) / 2
          case _ => cur - paeth(left, up, upLeft)
        }
        enc += (raw & 0xff).toByte
      }
    }
    val out = Filters.decodePngPredictors(enc.toArray, cols).toOption.get
    assert(out.toList == plain.toList)
  }

  test("LZW decode: hand-packed 9-bit code vector") {
    // codes 256(Clear) 65 66 258 258 257(EOD) packed big-endian at 9 bits
    // decode to "ABABAB" (entry 258 = "AB" created by the decoder)
    val bytes = Array(0x80, 0x10, 0x48, 0x50, 0x28, 0x14, 0x04).map(_.toByte)
    val out = Filters.lzwDecode(bytes).toOption.get
    assert(new String(out, "ISO-8859-1") == "ABABAB")
  }

  test("LZW roundtrip crosses the 9->10 bit width boundary, both EarlyChange modes") {
    // >300 distinct two-byte transitions force table past 511 entries
    val data = Array.tabulate(4096)(i => ((i * 37 + (i / 256)) % 251).toByte)
    for (early <- Seq(0, 1)) {
      val enc = graft.spark.FixtureGen.lzwEncode(data, early)
      val dec = Filters.lzwDecode(enc, early).toOption.get
      assert(dec.toList == data.toList, s"earlyChange=$early mismatch")
    }
    // text-ish payload too
    val text = ("the quick brown fox jumps over the lazy dog " * 40).getBytes("ISO-8859-1")
    assert(Filters.lzwDecode(graft.spark.FixtureGen.lzwEncode(text)).toOption.get.toList
      == text.toList)
  }

  test("RunLengthDecode: literal, repeat and EOD") {
    // 3 -> copy 4 bytes; 254 -> repeat next byte 257-254=3 times; 128 EOD
    val enc = Array[Byte](3, 'a', 'b', 'c', 'd', 254.toByte, 'x', 128.toByte, 99)
    assert(new String(Filters.runLengthDecode(enc).toOption.get, "ISO-8859-1") == "abcdxxx")
    val data = "aaaaabcdefggggghhhh  trailing".getBytes("ISO-8859-1")
    val rt = Filters.runLengthDecode(graft.spark.FixtureGen.runLengthEncode(data)).toOption.get
    assert(rt.toList == data.toList)
  }

  test("LZW and RunLength fixture PDFs extract end-to-end") {
    for (d <- Seq(graft.spark.FixtureGen.lzwDoc(5), graft.spark.FixtureGen.runLengthDoc(5))) {
      val doc = DocStructure.openDocument(d.bytes, None).toOption.get
      assert(Extract.taggedText(doc) == Right(d.expected), d.kind)
    }
  }

  test("ASCIIHexDecode: whitespace, EOD marker, odd-digit padding") {
    assert(new String(Filters.asciiHex("48 65 6C\n6C 6F>".getBytes), "ISO-8859-1") == "Hello")
    assert(new String(Filters.asciiHex("4865 6C6C 6F7>trailing junk".getBytes), "ISO-8859-1") == "Hellop")
    assert(new String(Filters.asciiHex("486".getBytes), "ISO-8859-1") == "H`")
    // chained: hex-wrapped flate stream decodes through both filters
    val payload = "stream payload with words".getBytes("ISO-8859-1")
    val hexed = Filters.deflate(payload).map(b => f"${b & 0xff}%02x").mkString.getBytes
    val dict = scala.collection.immutable.TreeMap[String, PObj](
      "/Filter" -> PObj.PArray(Vector(PObj.PName("/ASCIIHexDecode"), PObj.PName("/FlateDecode"))))
    assert(Filters.decodeStreamBytes(dict, hexed).toOption.get.toList == payload.toList)
  }

  test("per-filter /DecodeParms: array form, /DP abbreviation, array predictor") {
    import PObj._
    import scala.collection.immutable.TreeMap
    def hexEnc(bs: Array[Byte]): Array[Byte] =
      bs.map(b => f"${b & 0xff}%02x").mkString.getBytes("ISO-8859-1")
    // long enough to cross the 9->10 bit width boundary, so a wrong
    // EarlyChange misaligns the code stream (the parms genuinely matter)
    val payload = Array.tabulate(4096)(i => ((i * 37 + (i / 256)) % 251).toByte)
    val enc = hexEnc(graft.spark.FixtureGen.lzwEncode(payload, 0))
    val dict = TreeMap[String, PObj](
      "/Filter" -> PArray(Vector(PName("/ASCIIHexDecode"), PName("/LZWDecode"))),
      "/DecodeParms" -> PArray(Vector(PNull, PDict(TreeMap("/EarlyChange" -> PNum(0))))))
    assert(Filters.decodeStreamBytes(dict, enc).toOption.get.toList == payload.toList)
    // /DP abbreviation, single-dict form
    val dict2 = TreeMap[String, PObj](
      "/Filter" -> PName("/LZWDecode"),
      "/DP" -> PDict(TreeMap("/EarlyChange" -> PNum(0))))
    assert(Filters.decodeStreamBytes(dict2, graft.spark.FixtureGen.lzwEncode(payload, 0))
      .toOption.get.toList == payload.toList)
    // array-form predictor parms at the filter's own index
    val predicted = Array[Byte](1, 1, 1, 1, 2, 1, 1, 1) // Sub row then Up row
    val dict3 = TreeMap[String, PObj](
      "/Filter" -> PArray(Vector(PName("/FlateDecode"))),
      "/DecodeParms" -> PArray(Vector(PDict(TreeMap(
        "/Predictor" -> PNum(12), "/Columns" -> PNum(3))))))
    assert(Filters.decodeStreamBytes(dict3, Filters.deflate(predicted)).toOption.get.toList
      == List[Byte](1, 2, 3, 2, 3, 4))
  }

  test("TIFF Predictor 2 undoes horizontal differencing (per-row, per-color)") {
    import PObj._
    import scala.collection.immutable.TreeMap
    val rnd = new scala.util.Random(67)
    for ((colors, cols) <- Seq((1, 7), (3, 5))) {
      val stride = cols * colors
      val raw = Array.fill[Byte](stride * 3)(rnd.nextInt(256).toByte)
      // independent reference differencing
      val enc = raw.clone()
      for (r <- 0 until 3; k <- stride * r + stride - 1 to stride * r + colors by -1)
        enc(k) = ((raw(k) & 0xff) - (raw(k - colors) & 0xff) & 0xff).toByte
      val dict = TreeMap[String, PObj](
        "/Filter" -> PName("/FlateDecode"),
        "/DecodeParms" -> PDict(TreeMap(
          "/Predictor" -> PNum(2), "/Columns" -> PNum(cols), "/Colors" -> PNum(colors))))
      assert(Filters.decodeStreamBytes(dict, Filters.deflate(enc)).toOption.get.toList
        == raw.toList, s"colors=$colors")
    }
    // sub-byte depths refuse rather than decode wrong
    val d16 = TreeMap[String, PObj](
      "/Filter" -> PName("/FlateDecode"),
      "/DecodeParms" -> PDict(TreeMap(
        "/Predictor" -> PNum(2), "/Columns" -> PNum(4), "/BitsPerComponent" -> PNum(4))))
    assert(Filters.decodeStreamBytes(d16, Filters.deflate(Array[Byte](1, 2))).isLeft)
  }

  test("PNG predictors honor /Colors and /BitsPerComponent (bpp-wide left)") {
    import PObj._
    import scala.collection.immutable.TreeMap
    // independent reference filter: encode raw rows with each predictor
    // using plain arithmetic, stride = ceil(cols*colors*bpc/8), left one
    // whole pixel (bpp bytes) back
    def encodeRows(raw: Array[Byte], stride: Int, bpp: Int, filt: Int): Array[Byte] = {
      val out = new scala.collection.mutable.ArrayBuffer[Byte]
      var r = 0
      while (r * stride < raw.length) {
        out += filt.toByte
        for (k <- 0 until stride) {
          val cur = raw(r * stride + k) & 0xff
          val left = if (k >= bpp) raw(r * stride + k - bpp) & 0xff else 0
          val up = if (r > 0) raw((r - 1) * stride + k) & 0xff else 0
          val ul = if (r > 0 && k >= bpp) raw((r - 1) * stride + k - bpp) & 0xff else 0
          val pred = filt match {
            case 0 => 0
            case 1 => left
            case 2 => up
            case 3 => (left + up) >> 1
            case 4 =>
              val p = left + up - ul
              val pa = math.abs(p - left); val pb = math.abs(p - up); val pc = math.abs(p - ul)
              if (pa <= pb && pa <= pc) left else if (pb <= pc) up else ul
          }
          out += ((cur - pred) & 0xff).toByte
        }
        r += 1
      }
      out.toArray
    }
    // crafted overflow parms must refuse, not wrap into a negative stride
    assert(Filters.decodePngPredictors(Array[Byte](1, 2, 3),
      Int.MaxValue, Int.MaxValue, 4).isLeft)
    assert(Filters.decodePngPredictors(Array[Byte](1, 2, 3), 4, 1, 64).isLeft)
    val rnd = new scala.util.Random(61)
    // RGB8 (bpp 3), Gray16 (bpp 2), RGB16 (bpp 6), and sub-byte Gray4
    // (bpp clamps to 1, stride = ceil(cols*4/8))
    for ((colors, bpc, cols) <- Seq((3, 8, 5), (1, 16, 4), (3, 16, 3), (1, 4, 10));
         filt <- 0 to 4) {
      val stride = (cols * colors * bpc + 7) / 8
      val bpp = math.max(1, (colors * bpc + 7) / 8)
      val raw = Array.fill[Byte](stride * 4)(rnd.nextInt(256).toByte)
      val enc = encodeRows(raw, stride, bpp, filt)
      val dict = TreeMap[String, PObj](
        "/Filter" -> PName("/FlateDecode"),
        "/DecodeParms" -> PDict(TreeMap(
          "/Predictor" -> PNum(15), "/Columns" -> PNum(cols),
          "/Colors" -> PNum(colors), "/BitsPerComponent" -> PNum(bpc))))
      assert(Filters.decodeStreamBytes(dict, Filters.deflate(enc)).toOption.get.toList
        == raw.toList, s"colors=$colors bpc=$bpc filt=$filt")
    }
  }

  test("Algorithm 2.B known-answer vectors (externally derived)") {
    // Pins hash2B against vectors computed by an INDEPENDENT spec-written
    // implementation (python `cryptography`/OpenSSL, tools provenance in
    // the round-3 notes) — the R6 fixture alone round-trips through the
    // same hash2B on both the write and read side, so a shared deviation
    // from ISO 32000-2 7.6.4.3.4 would otherwise be invisible.
    def hex(bs: Array[Byte]): String = bs.map(b => f"${b & 0xff}%02x").mkString
    assert(hex(Crypt.hash2B(6, Array.emptyByteArray,
      Array.tabulate[Byte](8)(_.toByte), Array.emptyByteArray))
      == "1403c04eb647d2e60452dfc4eb0a5e0cf322e8a83a759eabbd17d498a93ba041")
    assert(hex(Crypt.hash2B(6, "secret".getBytes("UTF-8"),
      Array.fill[Byte](8)(0x99.toByte), Array.tabulate[Byte](48)(_.toByte)))
      == "609eafadb8f57f181ed0486a5b6865548c38071fc118a71841f9bf8074eaac49")
    assert(hex(Crypt.hash2B(5, "pw5".getBytes("UTF-8"),
      Array.fill[Byte](8)(7), Array.emptyByteArray))
      == "3bbed735f662ea5280c1a662528c4bea116aea29f1819bb851350db4094fbd22")
  }

  test("V4/V5 /StrF /Identity leaves strings plaintext, streams stay encrypted") {
    for (d <- Seq(graft.spark.FixtureGen.encryptedAes(3),
                  graft.spark.FixtureGen.encryptedAes256(3))) {
      val doc = DocStructure.openDocument(d.bytes, None).toOption.get
      val encRef = doc.trailer.get("/Encrypt") match {
        case Some(PObj.PRef(n)) => n
        case other => fail(s"no /Encrypt ref in ${d.kind}: $other")
      }
      // parse the encrypt dict WITHOUT the document security (as
      // loadSecurity does) — objsByRef would "decrypt" /O and /U
      val enc = Lexer.collectPdfObjs(d.bytes).find(_._1 == encRef)
        .flatMap { case (n, body) =>
          DocStructure.findDict(Lexer.parsePdfObj(None, n, body)) }.get
      val base = Crypt.securityFromEncryptDict(enc, doc.trailer, None).get
      assert(base.strEncrypted && base.stmEncrypted, d.kind)
      val sec = Crypt.securityFromEncryptDict(
        enc + ("/StrF" -> PObj.PName("/Identity")), doc.trailer, None).get
      assert(!sec.strEncrypted && sec.stmEncrypted, d.kind)
      val plain = "plaintext string body".getBytes("ISO-8859-1")
      assert(Crypt.decryptString(sec, 4, 0, plain).toList == plain.toList, d.kind)
      assert(Crypt.decryptStream(sec, 4, 0, plain ++ plain).toList
        != (plain ++ plain).toList, d.kind)
    }
  }

  test("V4 dict with no /CF: absent /StmF defaults to Identity (ISO 32000-1 7.6.5)") {
    // a conforming writer that omits /CF //StmF //StrF intends Identity:
    // the plaintext streams must pass through, not be "decrypted" into
    // garbage. Real encrypting writers declare /CF, so the leniency branch
    // (absent /StmF but /CF present => encrypted) stays: previous test
    // pins that encryptedAes (with /CF) still treats streams as encrypted.
    val d = graft.spark.FixtureGen.encryptedNoCf(6)
    val doc = DocStructure.openDocument(d.bytes, None).toOption.get
    assert(doc.security.exists(s => !s.stmEncrypted && !s.strEncrypted))
    assert(Extract.taggedText(doc) == Right(d.expected))
  }

  test("V5 dict with no /CF: absent /StmF stays ENCRYPTED (no Identity leniency)") {
    // The V4 absent-/StmF => Identity default exists for pre-V4-style dicts
    // that never declared crypt filters; AES-256 exists only inside the
    // crypt-filter model, so a V5 dict omitting /CF is malformed — passing
    // ciphertext through as "plaintext" would emit garbage text rows.
    // Attempt AES-256 decryption instead.
    val d = graft.spark.FixtureGen.encryptedAes256(3)
    val doc = DocStructure.openDocument(d.bytes, None).toOption.get
    val encRef = doc.trailer.get("/Encrypt") match {
      case Some(PObj.PRef(n)) => n
      case other => fail(s"no /Encrypt ref: $other")
    }
    val enc = Lexer.collectPdfObjs(d.bytes).find(_._1 == encRef)
      .flatMap { case (n, body) =>
        DocStructure.findDict(Lexer.parsePdfObj(None, n, body)) }.get
    val stripped = enc - "/CF" - "/StmF" - "/StrF"
    val sec = Crypt.securityFromEncryptDict(stripped, doc.trailer, None).get
    assert(sec.version == 5 && sec.stmEncrypted && sec.strEncrypted)
  }

  test("AES-256 R6 fixture decrypts and extracts (empty user password)") {
    val d = graft.spark.FixtureGen.encryptedAes256(9)
    val doc = DocStructure.openDocument(d.bytes, None).toOption.get
    assert(doc.security.exists(s => s.revision == 6 && s.version == 5 && s.key.length == 32))
    assert(Extract.taggedText(doc) == Right(d.expected))
    // R<=4 behavior untouched: the R4 AES-128 fixture still round-trips
    val d4 = graft.spark.FixtureGen.encryptedAes(9)
    val doc4 = DocStructure.openDocument(d4.bytes, None).toOption.get
    assert(Extract.taggedText(doc4) == Right(d4.expected))
  }

  test("crypto dict values survive a FE FF prefix (lossy BOM decode rescued)") {
    // corpus indices whose derived /O //U //UE //OE or /Perms happens to
    // start FE FF: the lexer BOM-decodes such hex strings to text (parity
    // for TEXT strings), which mangles raw crypto bytes — the raw bytes
    // must be carried alongside. These five failed password validation in
    // the million-doc smoke before the fix.
    for (i <- Seq(448394L, 509669L, 798764L, 806489L, 882824L)) {
      val d = graft.spark.FixtureGen.encryptedAes256(i)
      val doc = DocStructure.openDocument(d.bytes, None).toOption.get
      assert(doc.security.exists(_.revision == 6), s"doc $i: security missing")
      assert(Extract.taggedText(doc) == Right(d.expected), s"doc $i")
    }
    // and the lexer keeps raw bytes on a BOM-decoded plain hex string
    Lexer.plainHexObj("FEFF00410042") match {
      case h: graft.core.PObj.PHex =>
        assert(h.hex == "AB")
        assert(h.rawBytes.map(_ & 0xff).toList ==
          List(0xfe, 0xff, 0x00, 0x41, 0x00, 0x42))
      case other => fail(s"expected PHex, got $other")
    }
    // FEFF partial-group parity (Object.hs:382-401): complete groups
    // decode, a trailing partial group is DROPPED, <4 digits after the
    // BOM keep the digits with the BOM stripped, a lone FEFF keeps all
    def hexOf(o: graft.core.PObj): String = o match {
      case h: graft.core.PObj.PHex => h.hex
      case other => fail(s"expected PHex, got $other")
    }
    assert(hexOf(Lexer.plainHexObj("FEFF004100")) == "A") // "00" tail dropped
    assert(hexOf(Lexer.plainHexObj("FEFF41")) == "41")    // BOM stripped
    assert(hexOf(Lexer.plainHexObj("FEFF")) == "FEFF")    // outer many1 fails
  }

  // ---- HTML stripper ----

  test("HTML boilerplate is dropped, entities decoded") {
    val html =
      """<html><head><title>T</title></head><body>
        |<nav>menu</nav><p>Caf&eacute;? No: caf&#233; &amp; more.</p>
        |<footer>foot</footer></body></html>""".stripMargin.replace("&eacute;", "&#xe9;")
    val out = Html.extractParagraphs(html)
    assert(out == List("Café? No: café & more."))
  }
}
