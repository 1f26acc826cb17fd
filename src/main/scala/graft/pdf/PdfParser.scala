package graft.pdf

import scala.collection.mutable.{ArrayBuffer, HashMap => MHashMap}

/** Minimal from-scratch PDF reader (SURVEY.md §7.1 module 5; no PDFBox/Tika
  * jars exist in this sandbox). Covers the subset needed for text + link
  * extraction from real-world-shaped PDFs:
  *  - object scan (robust to classic xref tables AND xref streams: offsets
  *    are recovered by scanning `N G obj`, not by trusting the xref)
  *  - dict/array/name/number/string(hex+literal)/ref/bool/null values
  *  - streams with no filter or /FlateDecode (java.util.zip)
  *  - page tree walk, /Contents (single or array)
  *  - content-stream text ops: BT ET Tf Td TD TL T* Tm Tj ' " TJ
  *  - /Annots link annotations: /Subtype /Link, /Rect, /A /URI and /Dest
  * Never throws on malformed input past construction — callers wrap in the
  * R1 error-isolation path.
  */
object PdfParser {

  // ---- value model ----------------------------------------------------------
  sealed trait PVal
  final case class PNum(v: Double) extends PVal
  final case class PStr(v: String) extends PVal
  final case class PName(v: String) extends PVal
  final case class PBool(v: Boolean) extends PVal
  case object PNull extends PVal
  final case class PArr(items: Vector[PVal]) extends PVal
  final case class PDict(m: Map[String, PVal]) extends PVal {
    def get(k: String): Option[PVal] = m.get(k)
  }
  final case class PRef(num: Int, gen: Int) extends PVal
  final case class PStream(dict: PDict, raw: Array[Byte]) extends PVal

  final case class Word(text: String, x: Double, y: Double, w: Double, h: Double)
  final case class LinkAnnot(rect: (Double, Double, Double, Double),
      uri: String, destPage: Int)
  final case class Page(words: Vector[Word], annots: Vector[LinkAnnot],
      width: Double, height: Double)

  final class Doc(bytes: Array[Byte]) {
    private val offsets: Map[Int, Int] = scanObjects()
    private val cache = new MHashMap[Int, PVal]()

    private def scanObjects(): Map[Int, Int] = {
      // scan for "<num> <gen> obj" tokens; later definitions win (updates)
      val out = new MHashMap[Int, Int]()
      var i = 0
      val n = bytes.length
      while (i + 3 < n) {
        if (bytes(i) == 'o' && bytes(i + 1) == 'b' && bytes(i + 2) == 'j' &&
          (i + 3 >= n || !isRegular(bytes(i + 3)))) {
          // walk backwards: ws gen ws num
          var j = i - 1
          while (j >= 0 && isWs(bytes(j))) j -= 1
          val genEnd = j
          while (j >= 0 && isDigit(bytes(j))) j -= 1
          val genStart = j + 1
          if (genEnd >= genStart) {
            var k = j
            while (k >= 0 && isWs(bytes(k))) k -= 1
            val numEnd = k
            while (k >= 0 && isDigit(bytes(k))) k -= 1
            val numStart = k + 1
            if (numEnd >= numStart && (numStart == 0 || !isRegular(bytes(numStart - 1)))) {
              val num = new String(bytes, numStart, numEnd - numStart + 1).toInt
              out(num) = numStart
            }
          }
        }
        i += 1
      }
      out.toMap
    }

    def obj(num: Int): PVal = cache.getOrElseUpdate(num, {
      offsets.get(num) match {
        case None => PNull
        case Some(off) =>
          val lex = new Lexer(bytes, off)
          lex.readToken() // num
          lex.readToken() // gen
          lex.readToken() // obj
          lex.readValue(this)
      }
    })

    def resolve(v: PVal): PVal = v match {
      case PRef(n, _) => resolve(obj(n))
      case x          => x
    }

    def num(v: PVal): Double = resolve(v) match {
      case PNum(d) => d
      case _       => 0.0
    }

    private val infoKeys = Seq("Title", "Author", "Subject", "Keywords",
      "CreationDate", "ModDate")

    private def infoOf(inf: PDict): Map[String, String] =
      infoKeys.flatMap { k =>
        resolve(inf.get(k).getOrElse(PNull)) match {
          case PStr(s) if s.nonEmpty => Some(k -> s)
          case _                     => None
        }
      }.toMap

    /** Document information dictionary (trailer /Info -> Title/Author/
      * Subject/Keywords), the M1 metadata source for PDFs. The LAST
      * trailer wins (incremental-update semantics).
      *
      * PDF 1.5+ files that use cross-reference STREAMS carry no `trailer`
      * keyword (the trailer dict is folded into the xref stream object) —
      * for those, fall back to scanning indirect objects for a dict shaped
      * like /Info: at least one info key and none of the structural keys
      * that pages/outlines/annots carry (round 4; closes the ADVICE r2
      * limitation where such files silently yielded empty metadata). */
    def info(): Map[String, String] = {
      var idx = -1
      var i = 0
      val n = bytes.length
      while (i + 7 <= n) {
        if (bytes(i) == 't' && bytes(i + 1) == 'r' && bytes(i + 2) == 'a' &&
          bytes(i + 3) == 'i' && bytes(i + 4) == 'l' && bytes(i + 5) == 'e' &&
          bytes(i + 6) == 'r') idx = i
        i += 1
      }
      if (idx < 0) return infoFallback()
      try {
        val lex = new Lexer(bytes, idx + 7)
        lex.readValue(this) match {
          case d: PDict =>
            resolve(d.get("Info").getOrElse(PNull)) match {
              case inf: PDict => infoOf(inf)
              case _          => Map.empty
            }
          case _ => Map.empty
        }
      } catch { case t: Throwable if graft.extract.Extractor.documentError(t) => Map.empty }
    }

    /** Xref-stream fallback: lowest-numbered indirect object whose dict
      * carries at least one info key and no structural key. Applied ONLY
      * when no `trailer` keyword exists — a classic file with a genuinely
      * absent /Info must keep yielding empty metadata, not a guess. */
    private def infoFallback(): Map[String, String] = {
      val structural = Set("Type", "Parent", "Kids", "Contents", "Dest", "A")
      try {
        offsets.keys.toVector.sorted.iterator.map(obj).collectFirst {
          case d: PDict if infoKeys.exists(k => d.get(k).isDefined) &&
              !structural.exists(k => d.get(k).isDefined) => infoOf(d)
        }.getOrElse(Map.empty)
      } catch { case t: Throwable if graft.extract.Extractor.documentError(t) => Map.empty }
    }

    /** All pages in page-tree order; falls back to scanning every object
      * with /Type /Page when the catalog is unreachable. */
    def pages(): Vector[PDict] = {
      val out = new ArrayBuffer[PDict]()
      def walk(v: PVal): Unit = resolve(v) match {
        case d: PDict =>
          d.get("Type").map(resolve) match {
            case Some(PName("Pages")) =>
              resolve(d.get("Kids").getOrElse(PNull)) match {
                case PArr(kids) => kids.foreach(walk)
                case _          => ()
              }
            case Some(PName("Page")) => out += d
            case _                   => ()
          }
        case _ => ()
      }
      val catalog = offsets.keys.toVector.sorted.iterator
        .map(n => (n, obj(n)))
        .collectFirst {
          case (_, d: PDict) if d.get("Type").map(resolve).contains(PName("Catalog")) => d
        }
      catalog.flatMap(_.get("Pages")).foreach(walk)
      if (out.isEmpty) {
        // degraded: collect /Type /Page objects in object-number order
        offsets.keys.toVector.sorted.foreach { n =>
          obj(n) match {
            case d: PDict if d.get("Type").map(resolve).contains(PName("Page")) => out += d
            case _ => ()
          }
        }
      }
      out.toVector
    }

    def contentBytes(page: PDict): Array[Byte] = {
      def streamBytes(v: PVal): Array[Byte] = resolve(v) match {
        case PStream(d, raw) =>
          d.get("Filter").map(resolve) match {
            case Some(PName("FlateDecode")) => inflate(raw)
            case Some(PArr(fs)) if fs.map(resolve).contains(PName("FlateDecode")) => inflate(raw)
            case _ => raw
          }
        case _ => Array.emptyByteArray
      }
      resolve(page.get("Contents").getOrElse(PNull)) match {
        case PArr(items) => items.toArray.flatMap(streamBytes)
        case v           => streamBytes(v)
      }
    }

    def parsePage(page: PDict): Page = {
      val mb = resolve(page.get("MediaBox").getOrElse(PNull)) match {
        case PArr(Vector(a, b, c, d)) => (num(a), num(b), num(c), num(d))
        case _                        => (0.0, 0.0, 612.0, 792.0)
      }
      val words = ContentText.words(contentBytes(page), this)
      val annots = resolve(page.get("Annots").getOrElse(PNull)) match {
        case PArr(items) => items.flatMap { a =>
          resolve(a) match {
            case d: PDict if d.get("Subtype").map(resolve).contains(PName("Link")) =>
              val rect = resolve(d.get("Rect").getOrElse(PNull)) match {
                case PArr(Vector(x0, y0, x1, y1)) => (num(x0), num(y0), num(x1), num(y1))
                case _                            => (0.0, 0.0, 0.0, 0.0)
              }
              val action = resolve(d.get("A").getOrElse(PNull))
              val uri = action match {
                case ad: PDict if ad.get("S").map(resolve).contains(PName("URI")) =>
                  resolve(ad.get("URI").getOrElse(PNull)) match {
                    case PStr(u) => u
                    case _       => ""
                  }
                case _ => ""
              }
              val dest = action match {
                case ad: PDict if ad.get("S").map(resolve).contains(PName("GoTo")) =>
                  resolve(ad.get("D").getOrElse(PNull)) match {
                    case PArr(PRef(pn, _) +: _) =>
                      // dest page = index of that page object
                      pagesIndex.getOrElse(pn, 0)
                    case PNum(n) => n.toInt + 1
                    case _       => 0
                  }
                case _ => 0
              }
              if (uri.nonEmpty || dest > 0)
                Some(LinkAnnot(rect, uri, dest))
              else None
            case _ => None
          }
        }.toVector
        case _ => Vector.empty
      }
      Page(words, annots, mb._3 - mb._1, mb._4 - mb._2)
    }

    /** page object number -> 1-based page index (for GoTo dests). */
    lazy val pagesIndex: Map[Int, Int] = {
      val ps = pages()
      offsets.keys.toVector.sorted.flatMap { n =>
        obj(n) match {
          case d: PDict =>
            val idx = ps.indexWhere(_ eq d)
            if (idx >= 0) Some(n -> (idx + 1)) else None
          case _ => None
        }
      }.toMap
    }
  }

  def parse(bytes: Array[Byte]): Vector[Page] = {
    val doc = new Doc(bytes)
    doc.pages().map(doc.parsePage)
  }

  /** Pages plus the document information dictionary (trailer /Info) —
    * M1 metadata for the PDF branch. */
  def parseWithInfo(bytes: Array[Byte]): (Vector[Page], Map[String, String]) = {
    val doc = new Doc(bytes)
    (doc.pages().map(doc.parsePage), doc.info())
  }

  // ---- helpers --------------------------------------------------------------
  private[pdf] def isWs(b: Byte): Boolean =
    b == ' ' || b == '\n' || b == '\r' || b == '\t' || b == '\f' || b == 0
  private[pdf] def isDigit(b: Byte): Boolean = b >= '0' && b <= '9'
  private[pdf] def isDelim(b: Byte): Boolean =
    b == '(' || b == ')' || b == '<' || b == '>' || b == '[' || b == ']' ||
      b == '{' || b == '}' || b == '/' || b == '%'
  private[pdf] def isRegular(b: Byte): Boolean = !isWs(b) && !isDelim(b)

  private[pdf] def inflate(raw: Array[Byte]): Array[Byte] = {
    try {
      val inf = new java.util.zip.Inflater()
      inf.setInput(raw)
      val out = new java.io.ByteArrayOutputStream(raw.length * 4)
      val buf = new Array[Byte](8192)
      while (!inf.finished() && !inf.needsInput()) {
        val n = inf.inflate(buf)
        if (n == 0 && !inf.finished()) return out.toByteArray
        out.write(buf, 0, n)
      }
      inf.end()
      out.toByteArray
    } catch { case _: Exception => Array.emptyByteArray }
  }

  /** PDF object lexer/parser over a byte window. */
  final class Lexer(bytes: Array[Byte], var pos: Int) {
    private def n = bytes.length
    def skipWs(): Unit = {
      var go = true
      while (go && pos < n) {
        if (isWs(bytes(pos))) pos += 1
        else if (bytes(pos) == '%') { while (pos < n && bytes(pos) != '\n') pos += 1 }
        else go = false
      }
    }
    def readToken(): String = {
      skipWs()
      if (pos >= n) return ""
      val start = pos
      if (isDelim(bytes(pos))) {
        if (bytes(pos) == '<' && pos + 1 < n && bytes(pos + 1) == '<') { pos += 2; return "<<" }
        if (bytes(pos) == '>' && pos + 1 < n && bytes(pos + 1) == '>') { pos += 2; return ">>" }
        pos += 1
        return new String(bytes, start, 1)
      }
      while (pos < n && isRegular(bytes(pos))) pos += 1
      new String(bytes, start, pos - start)
    }

    def readValue(doc: Doc): PVal = {
      skipWs()
      if (pos >= n) return PNull
      bytes(pos) match {
        case '/' =>
          pos += 1
          val start = pos
          while (pos < n && isRegular(bytes(pos))) pos += 1
          PName(new String(bytes, start, pos - start))
        case '(' => readLiteralString()
        case '<' =>
          if (pos + 1 < n && bytes(pos + 1) == '<') readDict(doc)
          else readHexString()
        case '[' =>
          pos += 1
          val items = Vector.newBuilder[PVal]
          skipWs()
          while (pos < n && bytes(pos) != ']') {
            items += readValue(doc)
            skipWs()
          }
          if (pos < n) pos += 1
          PArr(items.result())
        case b if isDigit(b) || b == '+' || b == '-' || b == '.' =>
          // number, or "N G R" reference
          val save = pos
          val t1 = readToken()
          val save2 = pos
          val t2 = readToken()
          val t3 = readToken()
          if (t1.forall(c => c.isDigit) && t2.forall(c => c.isDigit) &&
            t2.nonEmpty && t3 == "R") {
            PRef(t1.toInt, t2.toInt)
          } else {
            pos = save2
            try PNum(t1.toDouble)
            catch { case _: NumberFormatException => pos = save + t1.length; PNull }
          }
        case _ =>
          val t = readToken()
          t match {
            case "true"  => PBool(true)
            case "false" => PBool(false)
            case "null"  => PNull
            case _       => PNull
          }
      }
    }

    private def readLiteralString(): PStr = {
      pos += 1 // (
      val sb = new StringBuilder
      var depth = 1
      while (pos < n && depth > 0) {
        val b = bytes(pos)
        if (b == '\\' && pos + 1 < n) {
          pos += 1
          bytes(pos) match {
            case 'n' => sb.append('\n'); case 'r' => sb.append('\r')
            case 't' => sb.append('\t'); case 'b' => sb.append('\b')
            case 'f' => sb.append('\f')
            case '(' => sb.append('('); case ')' => sb.append(')')
            case '\\' => sb.append('\\')
            case d if d >= '0' && d <= '7' =>
              var oct = (d - '0')
              var k = 0
              while (k < 2 && pos + 1 < n && bytes(pos + 1) >= '0' && bytes(pos + 1) <= '7') {
                pos += 1; oct = oct * 8 + (bytes(pos) - '0'); k += 1
              }
              sb.append(oct.toChar)
            case o => sb.append(o.toChar)
          }
          pos += 1
        } else if (b == '(') { depth += 1; sb.append('('); pos += 1 }
        else if (b == ')') {
          depth -= 1
          if (depth > 0) sb.append(')')
          pos += 1
        } else { sb.append((b & 0xff).toChar); pos += 1 }
      }
      PStr(sb.toString)
    }

    private def readHexString(): PStr = {
      pos += 1 // <
      val sb = new StringBuilder
      val hex = new StringBuilder
      while (pos < n && bytes(pos) != '>') {
        val c = (bytes(pos) & 0xff).toChar
        if (!c.isWhitespace) hex.append(c)
        pos += 1
      }
      if (pos < n) pos += 1
      if (hex.length % 2 == 1) hex.append('0')
      var i = 0
      while (i + 1 < hex.length + 1 && i + 2 <= hex.length) {
        try sb.append(Integer.parseInt(hex.substring(i, i + 2), 16).toChar)
        catch { case _: NumberFormatException => () }
        i += 2
      }
      PStr(sb.toString)
    }

    private def readDict(doc: Doc): PVal = {
      pos += 2 // <<
      val m = Map.newBuilder[String, PVal]
      var done = false
      while (!done && pos < n) {
        skipWs()
        if (pos + 1 < n && bytes(pos) == '>' && bytes(pos + 1) == '>') {
          pos += 2; done = true
        } else if (pos < n && bytes(pos) == '/') {
          pos += 1
          val start = pos
          while (pos < n && isRegular(bytes(pos))) pos += 1
          val key = new String(bytes, start, pos - start)
          m += (key -> readValue(doc))
        } else { pos += 1 } // skip garbage
      }
      val dict = PDict(m.result())
      // stream?
      val save = pos
      skipWs()
      if (pos + 6 <= n && new String(bytes, pos, 6) == "stream") {
        pos += 6
        if (pos < n && bytes(pos) == '\r') pos += 1
        if (pos < n && bytes(pos) == '\n') pos += 1
        val len = doc.num(dict.get("Length").getOrElse(PNull)).toInt
        val end =
          if (len > 0 && pos + len <= n) pos + len
          else {
            // scan for "endstream"
            var e = pos
            var found = -1
            while (found < 0 && e + 9 <= n) {
              if (bytes(e) == 'e' && new String(bytes, e, 9) == "endstream") found = e
              e += 1
            }
            if (found < 0) n else found
          }
        val raw = java.util.Arrays.copyOfRange(bytes, pos, end)
        pos = end
        PStream(dict, raw)
      } else { pos = save; dict }
    }
  }
}
