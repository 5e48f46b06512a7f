package graft

import org.scalatest.funsuite.AnyFunSuite
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import graft.core._

/** Property-based checks over the pure kernels (raw ScalaCheck generators
  * driven deterministically; the scalatest-plus bridge is not on the
  * classpath). */
class PropertySpec extends AnyFunSuite {

  private val Runs = 200

  private def forAll[A](g: Gen[A])(body: A => Unit): Unit = {
    var seed = Seed(20260816L)
    var i = 0
    while (i < Runs) {
      g.apply(Gen.Parameters.default, seed).foreach(body)
      seed = seed.next
      i += 1
    }
  }

  private def forAll[A, B](ga: Gen[A], gb: Gen[B])(body: (A, B) => Unit): Unit =
    forAll(Gen.zip(ga, gb)) { case (a, b) => body(a, b) }

  private def forAll[A, B, C](ga: Gen[A], gb: Gen[B], gc: Gen[C])(body: (A, B, C) => Unit): Unit =
    forAll(Gen.zip(ga, gb, gc)) { case (a, b, c) => body(a, b, c) }

  private val smallD = Gen.choose(-1000.0, 1000.0)
  private val matGen = for {
    a <- smallD; b <- smallD; c <- smallD; d <- smallD; e <- smallD; f <- smallD
  } yield Mat(a, b, c, d, e, f)

  test("matrix multiplication is associative (within fp tolerance)") {
    forAll(matGen, matGen, matGen) { (a, b, c) =>
      val l = a.multiply(b).multiply(c)
      val r = a.multiply(b.multiply(c))
      val scale = List(l.a, l.b, l.c, l.d, l.e, l.f).map(math.abs).max max 1.0
      assert(math.abs(l.a - r.a) / scale < 1e-9)
      assert(math.abs(l.f - r.f) / scale < 1e-9)
    }
  }

  test("identity is a two-sided unit") {
    forAll(matGen) { m =>
      assert(m.multiply(Mat.identity) == m && Mat.identity.multiply(m) == m)
    }
  }

  test("RC4 is an involution") {
    val byteArr = Gen.nonEmptyListOf(Gen.choose(Byte.MinValue, Byte.MaxValue)).map(_.toArray)
    forAll(byteArr, byteArr) { (key, data) =>
      assert(Crypt.rc4(key, Crypt.rc4(key, data)).toList == data.toList)
    }
  }

  test("AES object decryption inverts encryption for any payload") {
    val byteArr = Gen.listOf(Gen.choose(Byte.MinValue, Byte.MaxValue)).map(_.toArray)
    val sec = Security(4, 4, Array.tabulate[Byte](16)(i => (i * 13 + 1).toByte), 16, aes = true)
    forAll(byteArr, Gen.choose(1, 9999)) { (data, objNum) =>
      val key = Crypt.objectKey(sec, objNum, 0)
      val cipher = javax.crypto.Cipher.getInstance("AES/CBC/PKCS5Padding")
      cipher.init(javax.crypto.Cipher.ENCRYPT_MODE,
        new javax.crypto.spec.SecretKeySpec(key, "AES"),
        new javax.crypto.spec.IvParameterSpec(new Array[Byte](16)))
      val ct = new Array[Byte](16) ++ cipher.doFinal(data)
      assert(Crypt.decryptString(sec, objNum, 0, ct).toList == data.toList)
    }
  }

  test("UTF-16BE code splitting round-trips codepoints") {
    val cpGen = Gen.oneOf(
      Gen.choose(0x20, 0xD7FF), Gen.choose(0xE000, 0xFFFD), Gen.choose(0x10000, 0x10FFFF))
    forAll(Gen.listOf(cpGen)) { cps =>
      val bytes = cps.flatMap { cp =>
        new String(Character.toChars(cp)).getBytes("UTF-16BE").map(_ & 0xff).toList
      }
      assert(Interp.unicodeBytesToCodes(bytes) == cps)
    }
  }

  test("flate deflate/inflate round-trips") {
    val byteArr = Gen.listOf(Gen.choose(Byte.MinValue, Byte.MaxValue)).map(_.toArray)
    forAll(byteArr) { data =>
      assert(Filters.inflate(Filters.deflate(data)).toList == data.toList)
    }
  }

  test("reading order sort is a permutation and deterministic") {
    val lineGen = for {
      bl <- Gen.choose(0.0, 800.0)
      x <- Gen.choose(0.0, 600.0)
      t <- Gen.alphaStr
    } yield Line(bl, x, x + 10, 10, x, 0, t, Nil, lastSuper = false)
    forAll(Gen.listOf(lineGen)) { ls =>
      val sorted = Layout.sortLinesByReadingOrder(ls)
      assert(sorted.length == ls.length)
      assert(sorted.sortBy(l => (l.baseline, l.inlineStart, l.text)) ==
        ls.sortBy(l => (l.baseline, l.inlineStart, l.text)))
      assert(Layout.sortLinesByReadingOrder(ls) == sorted)
    }
  }

  /** The header/footer strip as written before it skipped Middle-band
    * lines: every line's text normalized eagerly, flags zipped back. The
    * reference `stripHeadersFooters` must agree with it on every page. */
  private def eagerStrip(pageCount: Int, pagesLines: List[List[Line]]): List[List[Line]] = {
    val threshold = math.max(3, math.min(math.ceil(0.2 * pageCount).toInt, 5))
    def band(extent: (Double, Double), l: Line): Int = {
      val (lo, hi) = extent
      val span = hi - lo
      if (span <= 0) 0
      else if (l.baseline >= hi - 0.15 * span) 1
      else if (l.baseline <= lo + 0.15 * span) -1
      else 0
    }
    val infos = pagesLines.filter(_.nonEmpty).map(ls => (ls, Layout.pageBaselineExtent(ls)))
    def repeated(b: Int): Set[String] =
      if (pageCount < 3) Set.empty
      else infos.flatMap { case (ls, e) => ls.filter(band(e, _) == b).map(l => Layout.headerFooterCore(l.text)) }
        .groupBy(identity).collect { case (core, hits) if hits.length >= threshold => core }.toSet
    val (repTop, repBottom) = (repeated(1), repeated(-1))
    pagesLines.map { ls =>
      if (ls.isEmpty) ls
      else {
        val extent = Layout.pageBaselineExtent(ls)
        val flags = ls.map { l =>
          val b = band(extent, l)
          val norm = Layout.normalizeHeaderFooterText(l.text)
          if (b == 0) false
          else if (Layout.isBarePageNumber(norm)) pageCount >= 2
          else (if (b == 1) repTop else repBottom).contains(norm.filter(_ != '#'))
        }
        if (ls.length <= 2) {
          if (flags.contains(true)) ls.zip(flags).collect { case (l, false) => l } else ls
        } else ls.zip(flags).collect { case (l, false) => l }
      }
    }
  }

  test("header/footer strip equals the eager formula on generated pages") {
    val text = Gen.frequency(
      3 -> Gen.oneOf("Running Header", "Chapter 3", "Corpus Book", "Page  7", "page xiv"),
      3 -> Gen.oneOf("12", "xiv", "3-4", "ii", "7/9", "iv.", "MMXXIV", "1 2"),
      1 -> Gen.oneOf("", " ", "#", "viiiiiii"),
      2 -> Gen.alphaNumStr.map(_.take(12)))
    val baseline = Gen.frequency(
      2 -> Gen.oneOf(770.0, 768.0), 2 -> Gen.oneOf(30.0, 24.0),
      3 -> Gen.choose(100.0, 700.0), 1 -> Gen.const(400.0))
    val line = for (bl <- baseline; x <- Gen.choose(50.0, 300.0); t <- text)
      yield Line(bl, x, x + 80, 10, x, 0, t, Nil, lastSuper = false)
    def at(bl: Double, t: String) = Line(bl, 72, 152, 10, 72, 0, t, Nil, lastSuper = false)
    // a book page: a running header, body lines, a page number at the foot
    val bookPage = for {
      head <- Gen.oneOf("Running Header", "Corpus Book")
      body <- Gen.choose(1, 5).flatMap(Gen.listOfN(_, Gen.choose(100.0, 700.0)))
      num <- Gen.oneOf(Gen.choose(1, 40).map(_.toString), Gen.oneOf("xiv", "ii", "page 9"))
    } yield at(770, head) :: body.map(at(_, "body text")) ::: List(at(24, num))
    val page = Gen.frequency(1 -> Gen.const(Nil), 3 -> Gen.choose(1, 2).flatMap(Gen.listOfN(_, line)),
      4 -> Gen.choose(3, 8).flatMap(Gen.listOfN(_, line)), 4 -> bookPage)
    val doc = for {
      n <- Gen.choose(0, 7)
      pages <- Gen.listOfN(n, page)
      count <- Gen.frequency(4 -> Gen.const(n), 1 -> Gen.choose(0, 7))
    } yield (count, pages)
    forAll(doc) { case (count, pages) =>
      assert(Layout.stripHeadersFooters(count, pages) == eagerStrip(count, pages), s"count=$count pages=$pages")
    }
    // the generator reaches the removal branches, not just the keep path
    val removed = (0 until Runs).count { i =>
      doc.apply(Gen.Parameters.default, Seed(i.toLong))
        .exists { case (c, ps) => Layout.stripHeadersFooters(c, ps) != ps }
    }
    assert(removed > Runs / 10, s"only $removed of $Runs generated docs lost a line")
  }

  test("layout scans equal the list formulas they replace") {
    val d = Gen.frequency(6 -> Gen.choose(-50.0, 800.0),
      1 -> Gen.oneOf(Double.NaN, 0.0, -0.0, Double.PositiveInfinity, Double.NegativeInfinity))
    val glyph = for (x <- d; y <- d; w <- d)
      yield Glyph("a", x, y, w, 10, "/F1", 0, None)
    def bits(p: (Double, Double)) =
      (java.lang.Double.doubleToRawLongBits(p._1), java.lang.Double.doubleToRawLongBits(p._2))
    forAll(Gen.nonEmptyListOf(glyph)) { gs =>
      val xs = gs.flatMap(g => List(g.x, g.x + g.width))
      val ys = gs.map(_.y)
      assert(bits(Layout.pageExtents(gs)) == bits((math.max(1, xs.max - xs.min), math.max(1, ys.max - ys.min))))
      val ls = gs.map(g => Line(g.y, g.x, g.x, 10, g.x, 0, "", Nil, lastSuper = false))
      assert(bits(Layout.pageBaselineExtent(ls)) == bits((ys.min, ys.max)))
    }
    val marker = Gen.listOf(Gen.oneOf(" ", "\u3000", "a", "z", "B", "1", "42", "123", "\u0663", ".", "x")).map(_.mkString)
    forAll(marker) { t =>
      val s = Util.stripStart(t)
      val lettered = s.headOption.exists(c => c >= 'a' && c <= 'z') &&
        Util.stripStart(s.drop(1)).headOption.contains('.')
      val ds = s.takeWhile(_.isDigit)
      val numbered = ds.nonEmpty && ds.length <= 2 && Util.stripStart(s.drop(ds.length)).headOption.contains('.')
      assert(Layout.listMarkerStart(Line(0, 0, 0, 10, 0, 0, t, Nil, lastSuper = false)) == (lettered || numbered), t)
    }
  }

  test("diff of identical paragraph lists is empty; deletions count bounded") {
    forAll(Gen.listOf(Gen.alphaStr)) { ps =>
      assert(Diff.diffParagraphs(ps, ps).isEmpty)
    }
    forAll(Gen.listOf(Gen.alphaStr), Gen.listOf(Gen.alphaStr)) { (a, b) =>
      val changes = Diff.diffParagraphs(a, b)
      assert(changes.length <= a.length + b.length)
    }
  }

  test("html entity decoding never throws and preserves plain text") {
    forAll(Gen.asciiPrintableStr) { s =>
      val noAmp = s.filter(_ != '&')
      assert(Html.decodeEntities(noAmp) == noAmp)
      Html.decodeEntities(s) // total
    }
  }

  test("Kmv.bulkAdd is equivalent to repeated add for any batch") {
    import graft.spark.Kmv
    val itemsGen = Gen.listOf(Gen.chooseNum(0, 5000).map(n => s"item-$n"))
    forAll(itemsGen, itemsGen) { (existing, batch) =>
      var viaAdd = Array.emptyLongArray
      for (it <- existing) viaAdd = Kmv.addItem(viaAdd, it)
      val state = viaAdd
      for (it <- batch) viaAdd = Kmv.addItem(viaAdd, it)
      val viaBulk = Kmv.bulkAdd(state, batch.map(Kmv.hash).toArray)
      assert(viaBulk.toList == viaAdd.toList,
        s"bulkAdd diverged (existing=${existing.length}, batch=${batch.length})")
    }
  }

  test("CCITT G4 encode/decode round-trips arbitrary bitmaps") {
    val bmGen = for {
      w <- Gen.chooseNum(1, 90)
      h <- Gen.chooseNum(1, 20)
      cells <- Gen.listOfN(w * h, Gen.oneOf(true, false))
    } yield (w, h, cells.grouped(w).map(_.toArray).toArray)
    forAll(bmGen) { case (w, h, bm) =>
      val dec = Ccitt.decodeG4(Ccitt.encodeG4(bm, w), w, h,
        blackIs1 = true, byteAlign = false)
      assert(dec.isRight, s"${w}x$h failed: $dec")
      val rowBytes = (w + 7) / 8
      val expected = bm.toList.flatMap { row =>
        val bs = new Array[Byte](rowBytes)
        for (x <- 0 until w if row(x))
          bs(x >> 3) = (bs(x >> 3) | (1 << (7 - (x & 7)))).toByte
        bs.toList
      }
      assert(dec.toOption.get.toList == expected, s"${w}x$h pixel mismatch")
    }
  }

  test("AVI demux is total over arbitrary bytes and mutated real containers") {
    val junk = Gen.chooseNum(0, 300).flatMap(n =>
      Gen.listOfN(n, Gen.chooseNum(-128, 127).map(_.toByte)).map(_.toArray))
    forAll(junk)(bs => graft.spark.Surfaces.demuxAvi(bs)) // must not throw
    val good = graft.spark.FixtureGen.mediaAvi(5L).bytes
    val mut = Gen.zip(Gen.chooseNum(0, good.length - 1), Gen.chooseNum(-128, 127))
    forAll(mut) { case (pos, v) =>
      val m = good.clone(); m(pos) = v.toByte
      graft.spark.Surfaces.demuxAvi(m) // single-byte corruption: no throw
    }
  }
}
