package graft.core

import scala.collection.immutable.TreeMap
import scala.collection.mutable
import PObj._
import XrefEntry._

/** Cross-reference / trailer parsing, the lazy object index, stream
  * decoding, and font/encoding resolution.
  *
  * Re-expression of /root/reference/src/PDF/DocumentStructure.hs and
  * Document.hs. The Haskell lazy object index becomes an explicitly
  * memoized resolver: only referenced objects are ever parsed (the
  * reference's key performance property, dev/performance-0.4.md:18-22).
  */
object DocStructure {
  type Dict = TreeMap[String, PObj]
  val emptyDict: Dict = TreeMap.empty

  // ---------- helpers ----------

  def findDict(objs: Seq[PObj]): Option[Dict] =
    objs.collectFirst { case PDict(d) => d }

  def findDictOfType(typename: String, objs: Seq[PObj]): Option[Dict] =
    findDict(objs).filter(_.get("/Type").contains(PName(typename)))

  @inline private def isSpaceChar(c: Int): Boolean =
    c == ' ' || c == '\t' || c == '\r' || c == '\n'

  // ---------- trailer / startxref ----------

  /** splitLastLine (DocumentStructure.hs:433-440): strip trailing EOLs, then
    * split at the last EOL. */
  private def splitLastLine(buf: Array[Byte], end: Int): (Int, Int, Int) = {
    // returns (sourceEnd, lineStart, lineEnd) over buf[0, end)
    var e = end
    while (e > 0 && { val c = buf(e - 1) & 0xff; c == 10 || c == 13 }) e -= 1
    var s = e
    while (s > 0 && { val c = buf(s - 1) & 0xff; c != 10 && c != 13 }) s -= 1
    (s, s, e)
  }

  private def isPdfEofLine(buf: Array[Byte], start: Int, end: Int): Boolean = {
    var i = start
    while (i < end && isSpaceChar(buf(i) & 0xff)) i += 1
    if (i + 5 > end) return false
    if (!"%%EOF".zipWithIndex.forall { case (c, k) => (buf(i + k) & 0xff) == c }) return false
    i += 5
    while (i < end) {
      if (!isSpaceChar(buf(i) & 0xff)) return false
      i += 1
    }
    true
  }

  /** startxref offset = digits at the start of the last line before %%EOF
    * (DocumentStructure.hs:442-446). */
  private def startxrefOffset(buf: Array[Byte], sourceEnd: Int): Option[Int] = {
    var e = sourceEnd
    while (e > 0 && isSpaceChar(buf(e - 1) & 0xff)) e -= 1
    var s = e
    while (s > 0 && { val c = buf(s - 1) & 0xff; c != 10 && c != 13 }) s -= 1
    var i = s
    while (i < e && isSpaceChar(buf(i) & 0xff)) i += 1
    var n = 0L
    var nd = 0
    while (i < e && buf(i) >= '0' && buf(i) <= '9') { n = n * 10 + (buf(i) - '0'); nd += 1; i += 1 }
    if (nd == 0) None else Some(n.toInt)
  }

  /** findTrailer' (DocumentStructure.hs:469-488): newest-first union over
    * the /Prev chain, merging hybrid /XRefStm tables. */
  def findTrailer(buf: Array[Byte]): Either[PdfError, (Dict, Map[Int, XrefEntry])] = {
    var end = buf.length
    while (true) {
      val (srcEnd, ls, le) = splitLastLine(buf, end)
      if (isPdfEofLine(buf, ls, le)) {
        startxrefOffset(buf, srcEnd) match {
          case None => return Left(PdfError.ParseError("invalid startxref"))
          case Some(off) =>
            return trailerDictXref(buf, off).flatMap { case (dict, xref0) =>
              mergeXrefStm(buf, dict, xref0).flatMap { xref =>
                val seen = scala.collection.mutable.HashSet(off)
                def chase(d: Dict, sofar: Map[Int, XrefEntry]): Either[PdfError, Map[Int, XrefEntry]] =
                  d.get("/Prev") match {
                    case Some(PNum(x)) if seen.add(Util.hsTruncate(x)) =>
                      trailerDictXref(buf, Util.hsTruncate(x)).flatMap { case (d2, x2) =>
                        mergeXrefStm(buf, d2, x2).flatMap { x2m =>
                          // newest wins: sofar entries take precedence
                          chase(d2, unionFirst(sofar, x2m))
                        }
                      }
                    case _ => Right(sofar) // no /Prev, or a /Prev cycle
                  }
                chase(dict, xref).map(x => (dict, x))
              }
            }
        }
      } else if (srcEnd == 0 && ls == le) {
        return Left(PdfError.BrokenXref("no %%EOF or startxref found"))
      } else {
        end = srcEnd
        if (end <= 0) return Left(PdfError.BrokenXref("no %%EOF or startxref found"))
      }
    }
    Left(PdfError.BrokenXref("unreachable"))
  }

  /** M.union semantics: left map wins on duplicate keys. */
  private def unionFirst(a: Map[Int, XrefEntry], b: Map[Int, XrefEntry]): Map[Int, XrefEntry] =
    b ++ a

  private def mergeXrefStm(buf: Array[Byte], dict: Dict,
      xref: Map[Int, XrefEntry]): Either[PdfError, Map[Int, XrefEntry]] =
    dict.get("/XRefStm") match {
      case Some(PNum(n)) =>
        xrefStreamAt(buf, Util.hsTruncate(n)).map { case (_, stm) => unionFirst(xref, stm) }
      case _ => Right(xref)
    }

  /** Dispatch classic table vs xref stream (DocumentStructure.hs:490-495). */
  def trailerDictXref(buf: Array[Byte], off: Int): Either[PdfError, (Dict, Map[Int, XrefEntry])] = {
    var i = math.max(0, math.min(off, buf.length))
    while (i < buf.length && Lexer.isPdfSpace(buf(i) & 0xff)) i += 1
    if (i + 4 <= buf.length && (buf(i) & 0xff) == 'x' && (buf(i + 1) & 0xff) == 'r' &&
        (buf(i + 2) & 0xff) == 'e' && (buf(i + 3) & 0xff) == 'f')
      classicXrefTrailer(buf, off)
    else xrefStreamAt(buf, off)
  }

  /** Classic `xref` table + `trailer` dict (DocumentStructure.hs:497-507, 620-665). */
  private def classicXrefTrailer(buf: Array[Byte], off: Int): Either[PdfError, (Dict, Map[Int, XrefEntry])] = {
    val trailerAt = Lexer.indexOfFrom(buf, off, "trailer")
    if (trailerAt < 0) return Left(PdfError.BrokenXref("no trailer keyword"))
    val cur = new Cursor(buf, trailerAt + 7)
    Lexer.dictionary(cur, None, 0) match {
      case Some(PDict(dict)) =>
        parseXrefTable(buf, off, trailerAt).map(x => (dict, x))
      case _ => Left(PdfError.ParseError("trailer dictionary"))
    }
  }

  /** parseXref (DocumentStructure.hs:620-665): subsections of 20-byte-ish
    * entries; keep in-use entries only. */
  def parseXrefTable(buf: Array[Byte], off: Int, limit: Int): Either[PdfError, Map[Int, XrefEntry]] = {
    val cur = new Cursor(buf, off)
    Lexer.skipSpaces(cur)
    if (!cur.consume("xref")) return Left(PdfError.BrokenXref("xref table: no keyword"))
    val out = Map.newBuilder[Int, XrefEntry]
    var any = false
    var go = true
    while (go) {
      val save = cur.pos
      Lexer.skipSpaces(cur)
      // subsection header: begin count
      var begin = 0L
      var nd = 0
      while (Lexer.isDigit(cur.peek)) { begin = begin * 10 + (cur.next() - '0'); nd += 1 }
      if (nd == 0) { cur.pos = save; go = false }
      else {
        Lexer.skipSpaces(cur)
        var count = 0L
        var cd = 0
        while (Lexer.isDigit(cur.peek)) { count = count * 10 + (cur.next() - '0'); cd += 1 }
        if (cd == 0) { cur.pos = save; go = false }
        else {
          Lexer.skipSpaces(cur)
          var k = 0
          while (k < count) {
            // 10-digit offset, spaces, 5-digit gen, spaces, 1-char status, spaces, EOL
            if (cur.pos + 10 > buf.length) return Left(PdfError.BrokenXref("xref entry truncated"))
            var offv = 0L
            var i = 0
            while (i < 10) { val c = cur.next(); if (c >= '0' && c <= '9') offv = offv * 10 + (c - '0'); i += 1 }
            Lexer.skipSpaces(cur)
            cur.pos = math.min(cur.pos + 5, buf.length)
            Lexer.skipSpaces(cur)
            val status = cur.next()
            Lexer.skipSpaces(cur)
            if (cur.consume("\r\n") || cur.consume("\n") || cur.consume("\r")) ()
            status match {
              case 'n' => out += (begin + k).toInt -> InFile(offv.toInt)
              case 'f' => ()
              case s => return Left(PdfError.BrokenXref(s"xref entry status neither f nor n: $s"))
            }
            k += 1
          }
          any = true
        }
      }
    }
    if (any) Right(out.result()) else Left(PdfError.BrokenXref("xref table: no subsections"))
  }

  /** xref stream object at offset (DocumentStructure.hs:509-618). */
  def xrefStreamAt(buf: Array[Byte], off: Int): Either[PdfError, (Dict, Map[Int, XrefEntry])] = {
    val cur = new Cursor(buf, math.max(0, math.min(off, buf.length)))
    Lexer.objectHeader(cur) match {
      case None => Left(PdfError.BrokenXref("xref stream: no object header"))
      case Some(_) =>
        Lexer.dictionary(cur, None, 0) match {
          case Some(PDict(dict)) =>
            Lexer.skipSpaces(cur)
            if (!cur.consume("stream")) return Left(PdfError.BrokenXref("xref stream: no stream"))
            if (cur.consume("\r\n") || cur.consume("\n") || cur.consume("\r")) ()
            val len = dict.get("/Length") match {
              case Some(PNum(n)) => Util.hsTruncate(n)
              case _ => return Left(PdfError.BrokenXref("xref stream without /Length"))
            }
            if (cur.pos + len > buf.length) return Left(PdfError.BrokenXref("xref stream truncated"))
            val raw = java.util.Arrays.copyOfRange(buf, cur.pos, cur.pos + len)
            xrefStreamToMap(dict, raw).map(m => (dict, m))
          case _ => Left(PdfError.BrokenXref("xref stream: expected dictionary"))
        }
    }
  }

  def xrefStreamToMap(dict: Dict, rawStream: Array[Byte]): Either[PdfError, Map[Int, XrefEntry]] = {
    val ws = dict.get("/W") match {
      case Some(PArray(Vector(PNum(a), PNum(b), PNum(c)))) =>
        (Util.hsTruncate(a), Util.hsTruncate(b), Util.hsTruncate(c))
      case _ => return Left(PdfError.MissingKey("/W", "xref stream"))
    }
    val sections: List[(Int, Int)] = dict.get("/Index") match {
      case Some(PArray(arr)) =>
        val nums = arr.collect { case PNum(n) => Util.hsTruncate(n) }
        if (nums.length != arr.length || nums.length % 2 != 0)
          return Left(PdfError.BrokenXref("malformed /Index in xref stream"))
        nums.grouped(2).map { case Vector(a, b) => (a, b) }.toList
      case _ => dict.get("/Size") match {
        case Some(PNum(s)) => List((0, Util.hsTruncate(s)))
        case _ => return Left(PdfError.MissingKey("/Size", "xref stream"))
      }
    }
    Filters.decodeStreamBytes(dict, rawStream).flatMap { raw =>
      val (w0, w1, w2) = ws
      val entryW = w0 + w1 + w2
      val out = Map.newBuilder[Int, XrefEntry]
      var pos = 0
      for ((start, count) <- sections; k <- 0 until count) {
        if (pos + entryW > raw.length)
          return Left(PdfError.BrokenXref("xref stream field truncated"))
        def field(w: Int): Int = {
          // overflow-safe: crafted /W widths must not wrap to negative offsets
          var v = 0L
          var i = 0
          while (i < w) {
            v = math.min((v << 8) + (raw(pos) & 0xff), Int.MaxValue.toLong)
            pos += 1
            i += 1
          }
          v.toInt
        }
        val typ = if (w0 == 0) 0 else field(w0)
        val f2 = field(w1)
        val f3 = field(w2)
        typ match {
          case 1 => out += (start + k) -> InFile(f2)
          case 2 => out += (start + k) -> InObjStm(f2, f3)
          case _ => ()
        }
      }
      Right(out.result())
    }
  }

  // ---------- object index / document ----------

  /** Single-read document handle (reference Document.hs:53-59) with
    * memoized object / stream / font caches. */
  final class Document(
      val bytes: Array[Byte],
      val trailer: Dict,
      val xref: Map[Int, XrefEntry],
      val security: Option[Security],
      eager: Option[Map[Int, List[PObj]]]) {

    private val objCache = new mutable.HashMap[Int, List[PObj]]
    private val objStmCache = new mutable.HashMap[Int, (List[(Int, Int)], Array[Byte])]
    private val streamCache = new mutable.HashMap[Int, Either[PdfError, Array[Byte]]]
    private val fontCache = new mutable.HashMap[Int, FontInfo]
    private val resolving = new mutable.HashSet[Int]

    /** findObjsByRef: lazy parse of the referenced object (buildIndex,
      * DocumentStructure.hs:112-139). */
    def objsByRef(n: Int): Option[List[PObj]] = eager match {
      case Some(m) => m.get(n)
      case None =>
        xref.get(n).map { entry =>
          objCache.getOrElseUpdate(n, {
            if (resolving.contains(n)) List(PNull) // cycle guard
            else {
              resolving += n
              try resolveEntry(n, entry)
              finally resolving -= n
            }
          })
        }
    }

    private def resolveEntry(objNum: Int, entry: XrefEntry): List[PObj] = entry match {
      case InFile(off) =>
        val body = Lexer.extractObjBody(bytes, off)
        Lexer.parsePdfObj(security, objNum, body)
      case InObjStm(cnum, idx) =>
        val (locations, body) = objStmCache.getOrElseUpdate(cnum, objStmBody(cnum))
        val off: Option[Int] = locations.drop(idx).headOption match {
          case Some((_, o)) => Some(o)
          case None => locations.find(_._1 == objNum).map(_._2)
        }
        off match {
          case Some(o) => parseObjStmObject(body, o)
          case None => List(PNull)
        }
    }

    private def objStmBody(cnum: Int): (List[(Int, Int)], Array[Byte]) = {
      val containerObjs = objsByRef(cnum).getOrElse(List(PNull))
      rawStreamOf(cnum, containerObjs) match {
        case Right(streamBytes) =>
          val first = findDict(containerObjs).flatMap(_.get("/First")).collect {
            case PNum(n) => Util.hsTruncate(n)
          }
          parseObjStmHeader(first, streamBytes).getOrElse((Nil, Array.emptyByteArray))
        case Left(_) => (Nil, Array.emptyByteArray)
      }
    }

    def findDictByRef(n: Int): Option[Dict] = objsByRef(n).flatMap(findDict)

    /** Memoized decrypt+decode of an object's stream (docStreamCache). */
    def rawStreamByRef(n: Int): Either[PdfError, Array[Byte]] =
      streamCache.getOrElseUpdate(n, {
        objsByRef(n) match {
          case Some(objs) => rawStreamOf(n, objs)
          case None => Left(PdfError.ParseError("No object with stream to be shown"))
        }
      })

    /** Decrypt-only stream bytes (no filter pass) — the container bytes a
      * filter would consume. The JPX header surface reads these: the
      * filter chain itself refuses /JPXDecode, but the undecoded payload
      * still carries the catalogue-able JP2/codestream headers. */
    def undecodedStreamByRef(n: Int): Either[PdfError, Array[Byte]] =
      objsByRef(n) match {
        case Some(objs) => objs.collectFirst { case PStream(s) => s } match {
          case Some(strm) => Right(security match {
            case Some(sec) => Crypt.decryptStream(sec, n, 0, strm)
            case None => strm
          })
          case None => Left(PdfError.ParseError("No object with stream to be shown"))
        }
        case None => Left(PdfError.MissingObject(n))
      }

    def rawStreamOf(objNum: Int, objs: List[PObj]): Either[PdfError, Array[Byte]] =
      objs.collectFirst { case PStream(s) => s } match {
        case Some(strm) =>
          val d = findDict(objs).getOrElse(emptyDict)
          val decrypted = security match {
            case Some(sec) => Crypt.decryptStream(sec, objNum, 0, strm)
            case None => strm
          }
          Filters.decodeStreamBytes(d, decrypted)
        case None => Left(PdfError.ParseError("No object with stream to be shown"))
      }

    /** Memoized per-ref FontInfo (docFontCache). */
    def fontInfoByRef(n: Int): FontInfo =
      fontCache.getOrElseUpdate(n,
        Fonts.fontInfoFromDict(this, findDictByRef(n).getOrElse(emptyDict)))

    /** The page tree walked once per document (see `DocStructure.pageRefs`). */
    lazy val pageRefs: Either[PdfError, List[Int]] = rootRef.map(pageRefsFromRoot(_, this))

    def rootRef: Either[PdfError, Int] = trailer.get("/Root") match {
      case Some(PRef(r)) => Right(r)
      case _ => Left(PdfError.MissingKey("/Root", "trailer"))
    }

    def infoDict: Either[PdfError, Dict] = trailer.get("/Info") match {
      case Some(PRef(r)) => findDictByRef(r).toRight(PdfError.MissingObject(r))
      case _ => Left(PdfError.MissingKey("/Info", "trailer"))
    }
  }

  /** openDocumentBytes (reference Document.hs:79-98): trailer+xref path with
    * eager whole-file scan fallback. */
  def openDocument(bytes: Array[Byte], password: Option[String]): Either[PdfError, Document] =
    findTrailer(bytes) match {
      case Right((trailer, xref)) =>
        loadSecurity(bytes, trailer, Some(xref), password).map { msec =>
          new Document(bytes, trailer, xref, msec, None)
        }
      case Left(_) =>
        // eager path: last-resort whole-file object scan
        findTrailerDictOnly(bytes).flatMap { trailer =>
          loadSecurity(bytes, trailer, None, password).flatMap { msec =>
            buildIndexEager(bytes, msec).map { objs =>
              new Document(bytes, trailer, Map.empty, msec, Some(objs))
            }
          }
        }
    }

  /** findTrailer (dict only) for the eager path. */
  private def findTrailerDictOnly(buf: Array[Byte]): Either[PdfError, Dict] = {
    var end = buf.length
    while (end > 0) {
      val (srcEnd, ls, le) = splitLastLine(buf, end)
      if (isPdfEofLine(buf, ls, le)) {
        return startxrefOffset(buf, srcEnd) match {
          case None => Left(PdfError.ParseError("invalid startxref"))
          case Some(off) => trailerDictXref(buf, off).map(_._1)
        }
      }
      if (srcEnd == 0 && ls == le) return Left(PdfError.BrokenXref("no %%EOF or startxref found"))
      end = srcEnd
    }
    Left(PdfError.BrokenXref("no %%EOF or startxref found"))
  }

  private def loadSecurity(bytes: Array[Byte], trailer: Dict,
      xref: Option[Map[Int, XrefEntry]], password: Option[String]): Either[PdfError, Option[Security]] =
    trailer.get("/Encrypt") match {
      case None => Right(None)
      case Some(PRef(ref)) =>
        val encDict: Option[Dict] = xref.flatMap(_.get(ref)).flatMap {
          case InFile(off) =>
            findDict(Lexer.parsePdfObj(None, ref, Lexer.extractObjBody(bytes, off)))
          case _ => None
        }.orElse {
          Lexer.collectPdfObjs(bytes).find(_._1 == ref)
            .flatMap { case (n, body) => findDict(Lexer.parsePdfObj(None, n, body)) }
        }
        encDict match {
          case Some(d) =>
            Crypt.securityFromEncryptDict(d, trailer, Some(password.getOrElse(""))) match {
              case Some(sec) => Right(Some(sec))
              case None => Left(PdfError.DecryptionError("invalid or missing password"))
            }
          case None => Left(PdfError.DecryptionError("invalid or missing password"))
        }
      case Some(_) => Left(PdfError.DecryptionError("invalid or missing password"))
    }

  /** buildIndexEager (DocumentStructure.hs:141-148). */
  def buildIndexEager(bytes: Array[Byte], msec: Option[Security]): Either[PdfError, Map[Int, List[PObj]]] = {
    val raw = Lexer.collectPdfObjs(bytes)
    if (raw.isEmpty) return Left(PdfError.BrokenXref("no objects found without xref"))
    val parsed = raw.map { case (n, body) => (n, Lexer.parsePdfObj(msec, n, body)) }
    // expandObjStm
    val out = List.newBuilder[(Int, List[PObj])]
    for ((n, objs) <- parsed) {
      findDictOfType("/ObjStm", objs) match {
        case None => out += ((n, objs))
        case Some(d) =>
          val first = d.get("/First").collect { case PNum(x) => Util.hsTruncate(x) }
          // decode the container stream
          val strm = objs.collectFirst { case PStream(s) => s }
          strm.foreach { s =>
            val decrypted = msec match {
              case Some(sec) => Crypt.decryptStream(sec, n, 0, s)
              case None => s
            }
            Filters.decodeStreamBytes(d, decrypted) match {
              case Right(body) =>
                parseObjStmHeader(first, body).foreach { case (locations, rest) =>
                  for ((r, o) <- locations) out += ((r, parseObjStmObject(rest, o)))
                }
              case Left(_) => ()
            }
          }
      }
    }
    Right(out.result().toMap)
  }

  /** ObjStm header: `/First` splits `objnum offset` pairs from the bodies
    * (DocumentStructure.hs:745-754; strict split fixed in CHANGELOG 0.4.6.3). */
  def parseObjStmHeader(first: Option[Int], s: Array[Byte]): Option[(List[(Int, Int)], Array[Byte])] = {
    def parsePairs(buf: Array[Byte]): Option[List[(Int, Int)]] = {
      val cur = new Cursor(buf)
      Lexer.skipSpaces(cur)
      val out = List.newBuilder[(Int, Int)]
      var count = 0
      var go = true
      while (go) {
        val save = cur.pos
        var r = 0L
        var rd = 0
        while (Lexer.isDigit(cur.peek)) { r = r * 10 + (cur.next() - '0'); rd += 1 }
        if (rd == 0) { cur.pos = save; go = false }
        else {
          Lexer.skipSpaces(cur)
          var o = 0L
          var od = 0
          while (Lexer.isDigit(cur.peek)) { o = o * 10 + (cur.next() - '0'); od += 1 }
          if (od == 0) { cur.pos = save; go = false }
          else {
            Lexer.skipSpaces(cur)
            out += ((r.toInt, o.toInt))
            count += 1
          }
        }
      }
      if (count == 0) None else Some(out.result())
    }
    first match {
      case Some(f) if f >= 0 && f <= s.length =>
        parsePairs(java.util.Arrays.copyOfRange(s, 0, f)).map(loc => (loc, s.drop(f)))
      case _ =>
        // no /First: greedy pair parse, remainder is the body
        val cur = new Cursor(s)
        Lexer.skipSpaces(cur)
        val out = List.newBuilder[(Int, Int)]
        var go = true
        var last = cur.pos
        while (go) {
          val save = cur.pos
          var r = 0L; var rd = 0
          while (Lexer.isDigit(cur.peek)) { r = r * 10 + (cur.next() - '0'); rd += 1 }
          if (rd == 0) { cur.pos = save; go = false }
          else {
            Lexer.skipSpaces(cur)
            var o = 0L; var od = 0
            while (Lexer.isDigit(cur.peek)) { o = o * 10 + (cur.next() - '0'); od += 1 }
            if (od == 0) { cur.pos = save; go = false }
            else { Lexer.skipSpaces(cur); out += ((r.toInt, o.toInt)); last = cur.pos }
          }
        }
        val loc = out.result()
        if (loc.isEmpty) None else Some((loc, s.drop(last)))
    }
  }

  /** ObjStm value parse: dict | array | string (DocumentStructure.hs:756-769). */
  def parseObjStmObject(body: Array[Byte], off: Int): List[PObj] = {
    if (off < 0 || off > body.length) return List(PNull)
    val sub = body.drop(off)
    val c1 = new Cursor(sub)
    Lexer.dictionary(c1, None, 0) match {
      case Some(o) => List(o)
      case None =>
        val c2 = new Cursor(sub)
        Lexer.array(c2, None, 0) match {
          case Some(o) => List(o)
          case None =>
            val c3 = new Cursor(sub)
            Lexer.literal(c3, None, 0) match {
              case Some(o) => List(o)
              case None => List(PNull)
            }
        }
    }
  }

  // ---------- resources / pages ----------

  def findResourcesDict(dict: Dict, doc: Document): Option[Dict] =
    dict.get("/Resources") match {
      case Some(PRef(x)) => doc.findDictByRef(x)
      case Some(PDict(d)) => Some(d)
      case _ => None
    }

  /** Page tree walk (reference Page.hs:131-145, plus the visited-set guard
    * SURVEY.md §2.b calls for: a malformed /Kids cycle must not recurse
    * forever). */
  def pageRefsFromRoot(parent: Int, doc: Document): List[Int] =
    pageRefsFromRoot(parent, doc, new scala.collection.mutable.HashSet[Int])

  private def pageRefsFromRoot(parent: Int, doc: Document,
      visited: scala.collection.mutable.HashSet[Int]): List[Int] = {
    if (!visited.add(parent)) return Nil // cycle guard
    doc.objsByRef(parent) match {
      case Some(os) =>
        findDictOfType("/Catalog", os) match {
          case Some(dict) => dict.get("/Pages") match {
            case Some(PRef(pr)) => pageRefsFromRoot(pr, doc, visited)
            case _ => Nil
          }
          case None => findDictOfType("/Pages", os) match {
            case Some(dict) => dict.get("/Kids") match {
              case Some(PArray(arr)) => Lexer.refsOf(arr).flatMap(k => pageRefsFromRoot(k, doc, visited))
              case _ => Nil
            }
            case None =>
              if (findDictOfType("/Page", os).isDefined) List(parent) else Nil
          }
        }
      case None => Nil
    }
  }

  def pageRefs(doc: Document): Either[PdfError, List[Int]] = doc.pageRefs
}
