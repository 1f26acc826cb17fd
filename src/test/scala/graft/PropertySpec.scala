package graft

import org.scalatest.funsuite.AnyFunSuite
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import graft.extract.{Boilerplate, Extractor}
import graft.html.{Elem, HtmlParser, Node, TextNode}

/** Property tests (SURVEY.md §5): the extractor is total, deterministic,
  * and its spans always form a sorted, non-overlapping index into the
  * extracted text — for arbitrary (including hostile) input.
  * (The scalatestplus bridge isn't in the offline cache, so samples are
  * drawn with raw ScalaCheck generators from a fixed seed.)
  */
class PropertySpec extends AnyFunSuite {

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
