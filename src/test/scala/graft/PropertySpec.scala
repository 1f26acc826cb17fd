package graft

import org.scalatest.funsuite.AnyFunSuite
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import scala.collection.mutable.ArrayBuffer
import graft.extract.{Boilerplate, Extractor, Runs}
import graft.html.{Elem, HtmlParser, Node, TextNode}
import graft.model.Run

/** Property tests (SURVEY.md §5): the extractor is total, deterministic,
  * and its spans always form a sorted, non-overlapping index into the
  * extracted text — for arbitrary (including hostile) input.
  * (The scalatestplus bridge isn't in the offline cache, so samples are
  * drawn with raw ScalaCheck generators from a fixed seed.)
  */
class PropertySpec extends AnyFunSuite {
  import PropertySpec.Seg

  /** Deterministically sample `n` values from `gen` and assert `f` on each. */
  private def forAll[A](gen: Gen[A], n: Int = 200)(f: A => Unit): Unit = {
    var seed = Seed(42L)
    var i = 0
    var drawn = 0
    while (drawn < n && i < n * 3) { // some draws may fail; bound retries
      gen.apply(Gen.Parameters.default, seed) match {
        case Some(a) => f(a); drawn += 1
        case None    => ()
      }
      seed = seed.next
      i += 1
    }
    assert(drawn >= n / 2, s"generator too sparse: $drawn/$n samples")
  }

  private val tagNames = Gen.oneOf("p", "div", "b", "i", "a", "ul", "li",
    "table", "tr", "td", "h1", "h2", "h3", "span", "nav", "footer", "img",
    "br", "section", "pre", "blockquote", "script", "style")
  private val word = Gen.oneOf("alpha", "beta", "gamma", "x", "the quick",
    "&amp;", "&#65;", "&unknown;", "a|b", "• bullet", "UPPER", "")

  /** Random well-formed-ish fragments plus raw noise spliced in. */
  private val htmlGen: Gen[String] = {
    def node(depth: Int): Gen[String] =
      if (depth <= 0) word
      else Gen.frequency(
        3 -> word,
        1 -> Gen.const("<"), 1 -> Gen.const(">"), 1 -> Gen.const("</nope>"),
        1 -> Gen.const("<!-- c -->"), 1 -> Gen.const("<![CDATA[x]]>"),
        4 -> (for {
          t <- tagNames
          kids <- Gen.listOfN(3, node(depth - 1))
          href <- Gen.oneOf("", " href=\"www.x.com\"", " href=y", " class=\"nav\"",
            " alt=\"Some meaningful alt text\"")
        } yield s"<$t$href>${kids.mkString(" ")}</$t>"))
    Gen.listOfN(6, node(3)).map(parts => s"<body>${parts.mkString}</body>")
  }

  test("parser is total on arbitrary bytes") {
    forAll(Gen.asciiStr) { s => HtmlParser.parse(s); succeed }
  }

  test("extract is total and deterministic on generated HTML") {
    forAll(htmlGen) { html =>
      val bytes = html.getBytes("UTF-8")
      val a = Extractor.extract(bytes, "fb")
      val b = Extractor.extract(bytes, "fb")
      assert(a == b)
    }
  }

  test("spans are sorted, non-overlapping, in-bounds") {
    forAll(htmlGen) { html =>
      val r = Extractor.extract(html.getBytes("UTF-8"), "fb")
      val t = r.extractedText
      r.spans.foreach { s =>
        assert(s.start >= 0 && s.start < s.end && s.end <= t.length)
      }
      r.spans.sliding(2).foreach {
        case Vector(a, b) => assert(a.end <= b.start)
        case _            => ()
      }
    }
  }

  test("links always carry non-empty anchor and target") {
    forAll(htmlGen) { html =>
      val r = Extractor.extract(html.getBytes("UTF-8"), "fb")
      r.links.foreach { l =>
        assert(l.anchor.trim.nonEmpty && l.target.nonEmpty && l.page >= 1)
      }
    }
  }

  test("pdf route is total on arbitrary bytes after the magic prefix") {
    val pdfGen = Gen.listOf(Gen.chooseNum(0, 255)).map { bytes =>
      "%PDF-1.4".getBytes("ISO-8859-1") ++ bytes.map(_.toByte).toArray
    }
    forAll(pdfGen, 150) { bytes =>
      val r = Extractor.extract(bytes, "fb")
      assert(r.extractedText != null)
      r.spans.foreach(s => assert(s.start >= 0 && s.end <= r.extractedText.length))
    }
  }

  test("pdf parser is total on fragments of valid pdfs") {
    val (valid, _) = graft.pdf.PdfGen.synthPdf(13L, Array("alpha", "beta", "gamma"))
    forAll(Gen.chooseNum(5, valid.length), 100) { cut =>
      val r = Extractor.extract(java.util.Arrays.copyOf(valid, cut), "fb")
      assert(r.extractedText != null)
    }
  }

  test("synth corpus: every docId extracts cleanly at any id") {
    forAll(Gen.chooseNum(0L, 100000L)) { id =>
      val page = graft.synth.Synth.pageFor(id, "alpha beta gamma delta " * 8, "en")
      val r = Extractor.extract(page.html, page.text)
      assert(r.error == null)
      assert(r.extractedText.nonEmpty)
    }
  }

  // ---- link-density rule: the memoized classifier against a brute-force count

  private val densityContainers = Set("div", "section", "ul", "ol", "table", "header")

  /** (visible chars, chars under an <a>, words) of the subtree by a full
    * count: no early exit, no memo. */
  private def bruteCounts(el: Elem): (Int, Int, Int) = {
    var total = 0; var linked = 0; var words = 0
    def go(n: Node, inA: Boolean): Unit = n match {
      case t: TextNode =>
        var inWord = false
        t.value.foreach { c =>
          if (!Character.isWhitespace(c)) {
            total += 1
            if (inA) linked += 1
            if (!inWord) words += 1
            inWord = true
          } else inWord = false
        }
      case e: Elem => e.tag match {
        case "script" | "style" | "template" | "noscript" => ()
        case "a" => e.children.foreach(go(_, inA = true))
        case _   => e.children.foreach(go(_, inA))
      }
    }
    go(el, inA = false)
    (total, linked, words)
  }

  /** Rule 3 of [[Boilerplate]]: over half the visible chars under an <a>,
    * and under 50 words. */
  private def bruteLinkFurniture(el: Elem): Boolean = {
    val (total, linked, words) = bruteCounts(el)
    total > 0 && linked.toDouble / total > 0.5 && words < 50
  }

  /** Random attribute-free DOMs (so rule 3 decides every container):
    * container chains, <a>-wrapped containers, script text, and text runs
    * whose word counts put subtrees at 49, 50 and 51 words. */
  private def randomDom(r: java.util.Random): Elem = {
    val tags = Array("div", "section", "ul", "ol", "table", "header", "a", "a",
      "span", "b", "p", "li", "script")
    val wordCounts = Array(0, 1, 2, 7, 16, 17, 24, 25, 26, 33, 49, 50, 51)
    def text(): TextNode = {
      val n = wordCounts(r.nextInt(wordCounts.length))
      val sep = Array(" ", "  ", "\t", "\n ")
      val body = (1 to n).map(i => "w" * (1 + r.nextInt(3)) + i).mkString(sep(r.nextInt(sep.length)))
      new TextNode((if (r.nextBoolean()) " " else "") + body + (if (r.nextBoolean()) " " else ""))
    }
    def node(depth: Int): Elem = {
      val e = new Elem(tags(r.nextInt(tags.length)), Map.empty)
      if (r.nextInt(4) == 0 && depth < 60) e.children += node(depth + 1) // chains
      else (0 until r.nextInt(4)).foreach { _ =>
        if (depth >= 6 || r.nextBoolean()) e.children += text()
        else e.children += node(depth + 1)
      }
      e
    }
    val root = new Elem("div", Map.empty)
    (0 until 1 + r.nextInt(3)).foreach(_ => root.children += node(1))
    root
  }

  test("link density: memoized classifier matches a brute-force count on every container") {
    val r = new java.util.Random(7L)
    var checked = 0
    var furniture = 0
    val atBoundary = scala.collection.mutable.Map(49 -> 0, 50 -> 0, 51 -> 0)
    (1 to 800).foreach { i =>
      val root = randomDom(r)
      val preorder = (Iterator.single(root) ++ root.descendants)
        .filter(e => densityContainers.contains(e.tag)).toVector
      val expected = preorder.map(bruteLinkFurniture)
      // walk order (ancestors first), children first, and a shuffled order:
      // each reuses the memo of the earlier queries differently
      Seq(preorder.indices, preorder.indices.reverse,
        new scala.util.Random(r).shuffle(preorder.indices.toVector)
      ).foreach { order =>
        val classifier = new Boilerplate.Classifier()
        order.foreach { k =>
          assert(classifier.isBoilerplate(preorder(k)) == expected(k),
            s"dom $i, container $k (<${preorder(k).tag}>)")
        }
      }
      checked += preorder.size
      furniture += expected.count(identity)
      preorder.foreach { e =>
        val w = bruteCounts(e)._3
        if (atBoundary.contains(w)) atBoundary(w) += 1
      }
    }
    assert(checked > 3000 && furniture > 100 && atBoundary.values.forall(_ >= 10),
      s"checked $checked, furniture $furniture, containers at 49/50/51 words $atBoundary")
  }

  // ---- paragraph runs against a char-level reference ----------------------

  private def segNodes(s: Seg): Seq[Node] = {
    var nodes: Seq[Node] =
      new TextNode(s.text) +: (if (s.br) Seq(new Elem("br", Map.empty)) else Nil)
    def wrap(tag: String, attrs: Map[String, String]): Unit = {
      val e = new Elem(tag, attrs)
      e.children ++= nodes
      nodes = Seq(e)
    }
    if (s.link.nonEmpty) wrap("a", Map("href" -> s.link))
    if (s.italic) wrap("i", Map.empty)
    if (s.bold) wrap("b", Map.empty)
    nodes
  }

  /** The runs of `segs` by definition: tag every char (a <br> is a '\n')
    * with its segment's flags; with `collapse`, drop leading and trailing
    * whitespace and turn every other whitespace stretch into one ' ' with
    * the flags of its first char; then group equal flags. */
  private def referenceRuns(segs: Seq[Seg], collapse: Boolean): Vector[Run] = {
    val chars = segs.flatMap { s =>
      (s.text + (if (s.br) "\n" else "")).map(c => Run(c.toString, s.bold, s.italic, s.link))
    }
    def ws(i: Int) = Character.isWhitespace(chars(i).text.charAt(0))
    val kept = ArrayBuffer[Run]()
    var i = 0
    while (i < chars.length) {
      if (collapse && ws(i)) {
        var j = i
        while (j < chars.length && ws(j)) j += 1
        if (i > 0 && j < chars.length) kept += chars(i).copy(text = " ")
        i = j
      } else { kept += chars(i); i += 1 }
    }
    val runs = ArrayBuffer[Run]()
    kept.foreach { c =>
      if (runs.nonEmpty && runs.last.copy(text = c.text) == c)
        runs(runs.length - 1) = runs.last.copy(text = runs.last.text + c.text)
      else runs += c
    }
    runs.toVector
  }

  test("paragraph runs equal a char-level reference: whitespace collapse and format grouping") {
    val pieces = Array("a", "bc", "Word", " ", "  ", "\t", "\n", "\r", "\u2003", "\u00a0", "")
    val links = Array("", "", "https://a.example/1", "#top")
    val r = new java.util.Random(5L)
    var spaceAcrossFormats = 0
    (1 to 3000).foreach { n =>
      val segs = Vector.fill(1 + r.nextInt(6)) {
        Seg(Seq.fill(r.nextInt(4))(pieces(r.nextInt(pieces.length))).mkString,
          r.nextInt(3) == 0, r.nextInt(3) == 0, links(r.nextInt(links.length)),
          r.nextInt(5) == 0)
      }
      // a <p> collapses whitespace; a <pre> keeps it (and, unlike <p>, is
      // no block boundary that adds a '\n' at either end)
      Seq(true, false).foreach { collapse =>
        val p = new Elem(if (collapse) "p" else "pre", Map.empty)
        segs.foreach(s => p.children ++= segNodes(s))
        val expected = referenceRuns(segs, collapse)
        val joined = expected.map(_.text).mkString
        val clean = if (collapse) joined else joined.stripLineEnd
        val got = Runs.paragraphOf(p, verbatim = !collapse)
        if (clean.trim.isEmpty) assert(got.isEmpty, s"paragraph $n: $segs")
        else {
          assert(got.map(_.cleanText).contains(clean), s"paragraph $n: $segs")
          assert(got.map(_.runs).contains(expected), s"paragraph $n, collapse $collapse: $segs")
        }
        if (collapse) spaceAcrossFormats += expected.sliding(2).count {
          case Seq(a, b) => a.text.endsWith(" ") && !b.text.startsWith(" ")
          case _ => false
        }
      }
    }
    assert(spaceAcrossFormats > 500, s"only $spaceAcrossFormats spaces at a format change")
  }

  test("open elements: the per-tag index equals a brute-force scan of the stack") {
    val tags = Array("p", "li", "td", "tr", "table")
    val r = new java.util.Random(11L)
    var restored = 0 // pops that leave a lower open element of a popped tag
    (1 to 300).foreach { round =>
      val root = new Elem("#root", Map.empty)
      val open = new HtmlParser.OpenElements(root)
      val brute = ArrayBuffer[Elem](root)
      def bruteTop(t: String): Int = brute.lastIndexWhere(_.tag == t)
      def bruteCloseFrom(from: Int): Unit = {
        val popped = brute.drop(from).map(_.tag).toSet
        brute.dropRightInPlace(brute.length - from)
        restored += popped.count(t => bruteTop(t) > 0)
      }
      (1 to 200).foreach { step =>
        r.nextInt(10) match {
          case k if k < 5 =>
            val e = new Elem(tags(r.nextInt(tags.length)), Map.empty)
            open.push(e)
            brute += e
          case k if k < 7 =>
            val from = 1 + r.nextInt(brute.length)
            open.popTo(from)
            bruteCloseFrom(from)
          case _ =>
            val t = tags(r.nextInt(tags.length))
            val scope = Array.fill(r.nextInt(3))(tags(r.nextInt(tags.length)))
            open.closeInScope(t, scope)
            val at = bruteTop(t)
            if (at > 0 && scope.forall(bruteTop(_) < at)) bruteCloseFrom(at)
        }
        assert(open.last eq brute.last, s"round $round, step $step")
        tags.foreach(t => assert(open.top(t) == bruteTop(t), s"round $round, step $step, <$t>"))
      }
    }
    assert(restored > 1000, s"only $restored pops restored a lower same-tag entry")
  }

  // ---- fused hash-kernel laws (implementation-independent properties, on
  // top of the exact-equality pins in SparkJobsSpec) -----------------------

  private def minhashOf(tokens: Seq[String]): Seq[Long] =
    graft.plans.MinhashSigs.compute(
      new org.apache.spark.sql.catalyst.util.GenericArrayData(
        tokens.map(org.apache.spark.unsafe.types.UTF8String.fromString).toArray[Any]),
      3, 16).toSeq

  private def simhashOf(hs: Seq[Long]): Long =
    graft.plans.Simhash64.compute(
      new org.apache.spark.sql.catalyst.util.GenericArrayData(hs.toArray))

  test("minhash law: appending tokens only lowers signatures (min over a superset)") {
    val word = Gen.choose(1, 8).flatMap(n => Gen.listOfN(n, Gen.alphaChar).map(_.mkString))
    val gen = for {
      a <- Gen.choose(3, 25).flatMap(n => Gen.listOfN(n, word))
      b <- Gen.choose(0, 15).flatMap(n => Gen.listOfN(n, word))
    } yield (a, b)
    forAll(gen, 150) { case (a, b) =>
      // a has >= 3 tokens, so all of a's shingle windows survive the append
      val base = minhashOf(a)
      val ext = minhashOf(a ++ b)
      assert(base.zip(ext).forall { case (x, y) => y <= x },
        s"append raised a signature: $base -> $ext")
    }
  }

  test("minhash law: repeating one token adds no distinct shingles") {
    val word = Gen.choose(1, 8).flatMap(n => Gen.listOfN(n, Gen.alphaChar).map(_.mkString))
    forAll(Gen.zip(word, Gen.choose(3, 40)), 100) { case (w, n) =>
      assert(minhashOf(List.fill(n)(w)) == minhashOf(List.fill(3)(w)))
    }
  }

  test("simhash laws: order-invariant, uniform-duplication-invariant") {
    val gen = Gen.choose(1, 60).flatMap(n =>
      Gen.listOfN(n, Gen.choose(Long.MinValue, Long.MaxValue)))
    forAll(gen, 150) { hs =>
      val base = simhashOf(hs)
      assert(simhashOf(hs.reverse) == base, "reverse changed the fingerprint")
      assert(simhashOf(hs.sorted) == base, "sort changed the fingerprint")
      // duplicating every element doubles each bit count AND n: votes hold
      assert(simhashOf(hs ++ hs) == base, "uniform duplication changed the fingerprint")
    }
  }
}

object PropertySpec {
  /** One inline segment: `text` under the <b>/<i>/<a href> wrappers its
    * flags ask for, followed inside them by a <br> when `br`. */
  private final case class Seg(text: String, bold: Boolean, italic: Boolean,
      link: String, br: Boolean)
}
