package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.extract._
import graft.html.HtmlParser
import graft.model._

/** Ports of the reference's own unit tests (tests/test_hyperlink_extractor.py)
  * plus kernel unit coverage for the from-scratch parser and converters. */
class KernelSpec extends AnyFunSuite {

  // ---- fix_url: exact vectors from tests/test_hyperlink_extractor.py:13-44
  test("fix_url email") {
    assert(UrlFix.fixUrl("test@example.com") == "mailto:test@example.com")
  }
  test("fix_url web") {
    assert(UrlFix.fixUrl("www.example.com") == "https://www.example.com")
    assert(UrlFix.fixUrl("example.com") == "https://example.com")
    assert(UrlFix.fixUrl("https://example.com") == "https://example.com")
  }
  test("fix_url empty/null") {
    assert(UrlFix.fixUrl("") == "")
    assert(UrlFix.fixUrl(null) == null)
  }
  test("fix_url anchors, tel, unknown tld pass through") {
    assert(UrlFix.fixUrl("#section") == "#section")
    assert(UrlFix.fixUrl("tel:+4412345") == "tel:+4412345")
    assert(UrlFix.fixUrl("localhost/page") == "localhost/page")
    assert(UrlFix.fixUrl("example.io/x") == "https://example.io/x")
  }

  // ---- format_hyperlinks_section: tests/test_hyperlink_extractor.py:48-129
  test("hyperlinks section empty") {
    assert(Links.formatHyperlinksSection(Nil) == "")
  }
  test("hyperlinks section basic") {
    val links = Seq(
      LinkRow("", 1, "Example Link", "https://example.com"),
      LinkRow("", 1, "Another Link", "https://example.org"),
      LinkRow("", 2, "Page 2 Link", "https://test.com"))
    val r = Links.formatHyperlinksSection(links)
    assert(r.contains("## Hyperlinks in Document"))
    assert(r.contains("### Page 1"))
    assert(r.contains("### Page 2"))
    assert(r.contains("* [Example Link](https://example.com)"))
    assert(r.contains("* [Another Link](https://example.org)"))
    assert(r.contains("* [Page 2 Link](https://test.com)"))
    assert(r.startsWith("\n\n## Hyperlinks in Document\n"))
  }
  test("hyperlinks section duplicate keeps longer-and-contains text") {
    val links = Seq(
      LinkRow("", 1, "Short Text", "https://example.com"),
      LinkRow("", 1, "Longer and better description", "https://example.com"),
      LinkRow("", 2, "Page 2 Link", "https://example.com"))
    val r = Links.formatHyperlinksSection(links)
    // replacement needs longer AND contains — these differ, so first text wins
    assert(r.contains("* [Short Text](https://example.com)"))
    assert(r.contains("### Page 2"))
    assert(r.contains("* [Page 2 Link](https://example.com)"))
  }
  test("hyperlinks section replacement when longer text contains old") {
    val links = Seq(
      LinkRow("", 1, "Docs", "https://example.com"),
      LinkRow("", 1, "Docs and tutorials", "https://example.com"),
      LinkRow("", 1, "Link on page 1", "https://old.com"),
      LinkRow("", 1, "Real anchor", "https://old.com"))
    val r = Links.formatHyperlinksSection(links)
    assert(r.contains("* [Docs and tutorials](https://example.com)"))
    assert(!r.contains("* [Docs](https://example.com)"))
    assert(r.contains("* [Real anchor](https://old.com)")) // placeholder replaced
  }
  test("hyperlinks section missing fields") {
    val links = Seq(
      LinkRow("", 1, "Valid Link", "https://example.com"),
      LinkRow("", 1, "", "https://empty-text.com"),
      LinkRow("", 1, "No URL", ""),
      LinkRow("", 0, "No Page", "https://no-page.com"))
    val r = Links.formatHyperlinksSection(links)
    assert(r.contains("* [Valid Link](https://example.com)"))
    assert(!r.contains("empty-text.com"))
    assert(!r.contains("No URL"))
    assert(!r.contains("no-page.com"))
  }

  // ---- keep-longest dedup (hyperlink_extractor.py:172-195)
  test("dedup keeps longest anchor per (target,page)") {
    val d = Links.dedupKeepLongest(Seq(
      LinkRow("u", 1, "a", "https://x.com"),
      LinkRow("u", 1, "much longer anchor", "https://x.com"),
      LinkRow("u", 2, "other page", "https://x.com"),
      LinkRow("u", 1, "   ", "https://y.com")))
    assert(d == Vector(
      LinkRow("u", 1, "much longer anchor", "https://x.com"),
      LinkRow("u", 2, "other page", "https://x.com")))
  }

  // ---- bullet char strip (text_processor.py:423-441)
  test("bullet char strip") {
    assert(Runs.removeBulletChar("• item") == "item")
    assert(Runs.removeBulletChar("- dash item") == "dash item")
    assert(Runs.removeBulletChar("→   arrow") == "arrow")
    assert(Runs.removeBulletChar("no bullet") == "no bullet")
    assert(Runs.removeBulletChar("") == "")
  }

  // ---- emphasis assembly (markdown_converter.py:206-270)
  private def r(t: String, b: Boolean = false, i: Boolean = false, h: String = "") =
    Run(t, b, i, h)
  test("uniform bold wraps whole text") {
    assert(Markdown.buildFormattedText(Vector(r("all", b = true), r(" bold", b = true)),
      "all bold") == "**all bold**")
  }
  test("uniform bold+italic") {
    assert(Markdown.buildFormattedText(Vector(r("x", b = true, i = true)), "x") == "***x***")
  }
  test("same hyperlink across runs wraps whole text") {
    assert(Markdown.buildFormattedText(
      Vector(r("click ", h = "https://a.com"), r("here", h = "https://a.com")),
      "click here") == "[click here](https://a.com)")
  }
  test("bold + same hyperlink") {
    assert(Markdown.buildFormattedText(
      Vector(r("go", b = true, h = "https://a.com")), "go") == "[**go**](https://a.com)")
  }
  test("all bold with DIFFERENT hyperlinks loses links (reference quirk)") {
    assert(Markdown.buildFormattedText(
      Vector(r("a", b = true, h = "https://a.com"), r("b", b = true, h = "https://b.com")),
      "ab") == "**ab**")
  }
  test("mixed formatting goes per-run") {
    assert(Markdown.buildFormattedText(
      Vector(r("plain "), r("bold", b = true), r(" and "), r("link", h = "https://l.io")),
      "plain bold and link") == "plain **bold** and [link](https://l.io)")
  }

  // ---- paragraph structure (markdown_converter.py:121-155)
  test("bullet indentation 2 spaces per level") {
    val p = Paragraph("item", Vector(r("item")),
      Hints(2, isBullet = true, isNumbered = false,
        allCaps = false, likelyHeading = false))
    assert(Markdown.paragraphToMarkdown(p) == "    - item")
  }
  test("negative bullet level clamps to 0") {
    val p = Paragraph("item", Vector(r("item")),
      Hints(-1, isBullet = true, isNumbered = false,
        allCaps = false, likelyHeading = false))
    assert(Markdown.paragraphToMarkdown(p) == "- item")
  }
  test("numbered list") {
    val p = Paragraph("first", Vector(r("first")),
      Hints(-1, isBullet = false, isNumbered = true,
        allCaps = false, likelyHeading = false))
    assert(Markdown.paragraphToMarkdown(p) == "1. first")
  }
  test("likely heading short -> ##, long -> ###") {
    val short = Paragraph("Heading", Vector(r("Heading")),
      Hints(-1, false, false, allCaps = false, likelyHeading = true))
    assert(Markdown.paragraphToMarkdown(short) == "## Heading")
    val long = Paragraph("A much longer heading that exceeds thirty chars",
      Vector(r("A much longer heading that exceeds thirty chars")),
      Hints(-1, false, false, allCaps = false, likelyHeading = true))
    assert(Markdown.paragraphToMarkdown(long) == "### A much longer heading that exceeds thirty chars")
  }

  // ---- table markdown (markdown_converter.py:272-287)
  test("table with pipe escaping and separator") {
    val t = TableBlock("other", Vector(Vector("Name", "A|B"), Vector("x", "y")))
    assert(Markdown.tableToMarkdown(t) ==
      "| Name | A\\|B |\n| --- | --- |\n| x | y |\n")
  }

  // ---- alt text filter (content_extractor.py:158-213)
  test("meaningless alt text filtered") {
    assert(!Markdown.hasMeaningfulAltText("image1.png"))
    assert(!Markdown.hasMeaningfulAltText("picture2"))
    assert(!Markdown.hasMeaningfulAltText("42"))
    assert(!Markdown.hasMeaningfulAltText("img"))
    assert(!Markdown.hasMeaningfulAltText("Diagram"))
    assert(!Markdown.hasMeaningfulAltText("ab"))
    assert(Markdown.hasMeaningfulAltText("Sales growth chart for 2024"))
  }

  // ---- HTML parser basics
  test("parser handles nesting, entities, comments, implied closes") {
    val dom = HtmlParser.parse(
      "<html><body><p>a &amp; b<p>second<ul><li>one<li>two</ul>" +
        "<!-- hidden --><script>var x = '<p>not content</p>';</script></body></html>")
    val body = dom.find("body").get
    val ps = body.descendants.filter(_.tag == "p").toVector
    assert(ps.map(_.rawText) == Vector("a & b", "second"))
    val lis = body.descendants.filter(_.tag == "li").toVector
    assert(lis.map(_.rawText) == Vector("one", "two"))
    assert(!body.rawText.contains("not content"))
  }
  test("parser never throws on malformed input") {
    val nasty = Seq("", "<", "<<>>", "</nope>", "<a href=", "<p <p>", "<b>x",
      "<table><td>frag", "&#xZZ; &unknown; &#40;", "<div class=>y</div>",
      " <p></p>", "<p>unclosed <b>bold")
    nasty.foreach { s => HtmlParser.parse(s) } // must not throw
    assert(HtmlParser.parse("&#40;x&#41;").rawText == "(x)")
  }

  // ---- end-to-end extraction
  test("extract end-to-end: headings, lists, links, boilerplate stripped") {
    val html =
      """<html lang="en"><head><title>Doc Title</title>
        |<meta name="author" content="Jane Doe"><meta name="keywords" content="a,b">
        |</head><body>
        |<nav><a href="/">Home</a> <a href="/about">About</a></nav>
        |<main>
        |<h1>Main Heading</h1>
        |<h2>Sub heading</h2>
        |<p>First paragraph with <b>bold</b> and <a href="www.example.com">a link</a>.</p>
        |<ul><li>one</li><li>two<ul><li>nested</li></ul></li></ul>
        |<table><tr><th>K</th><th>V</th></tr><tr><td>a</td><td>b|c</td></tr></table>
        |<img alt="Architecture diagram of the system" src="x.png">
        |</main>
        |<footer><a href="/tos">Terms</a></footer>
        |</body></html>""".stripMargin
    val res = Extractor.extract(html.getBytes("UTF-8"), "fallback text")
    assert(res.error == null)
    val t = res.extractedText
    assert(t.contains("# Main Heading"))
    assert(t.contains("## Sub heading"))
    assert(t.contains("First paragraph with **bold** and [a link](https://www.example.com)."))
    assert(t.contains("- one"))
    assert(t.contains("  - nested"))
    assert(t.contains("| K | V |"))
    assert(t.contains("| a | b\\|c |"))
    assert(t.contains("![Architecture diagram of the system](image)"))
    assert(!t.contains("Home"))   // nav stripped
    assert(!t.contains("Terms"))  // footer stripped
    assert(res.meta.title == "Doc Title")
    assert(res.meta.author == "Jane Doe")
    assert(res.meta.htmlLang == "en")
    assert(res.links == Vector(LinkRow("", 1, "a link", "https://www.example.com")))
    // spans: sorted, non-overlapping, indexing into extracted_text
    val spans = res.spans
    assert(spans.nonEmpty)
    spans.sliding(2).foreach {
      case Vector(a, b) => assert(a.end <= b.start)
      case _            => ()
    }
    spans.foreach(s => assert(s.start >= 0 && s.end <= t.length && s.start < s.end))
  }

  test("extract multi-page doc emits page markers and per-page links") {
    val html =
      """<body>
        |<section class="page"><h1>Page One</h1><p><a href="https://x.com">X short</a></p></section>
        |<section class="page"><p>Second page text here with enough words to not be boilerplate.</p>
        |<p><a href="https://x.com">X anchor much longer</a></p></section>
        |</body>""".stripMargin
    val res = Extractor.extract(html.getBytes("UTF-8"), "")
    assert(res.extractedText.contains("<!-- Page 1 -->"))
    assert(res.extractedText.contains("<!-- Page 2 -->"))
    assert(res.links.toSet == Set(
      LinkRow("", 1, "X short", "https://x.com"),
      LinkRow("", 2, "X anchor much longer", "https://x.com")))
    assert(res.meta.pageCount == 2)
  }

  test("extract falls back to text column on empty html") {
    val res = Extractor.extract(Array.emptyByteArray, "plain text body")
    assert(res.extractedText == "plain text body")
    assert(res.spans == Vector(Span(0, 15, "fallback")))
  }

  test("extract falls back to the text column when the parse yields no content (R2)") {
    // html parses fine but every element is boilerplate -> zero content
    // blocks; the reference (powerpoint_processor.py:196-203) falls back to
    // the plain text with NO error recorded
    val html = "<html><body><nav>home products about contact</nav></body></html>"
    val res = Extractor.extract(html.getBytes("UTF-8"), "plain text body")
    assert(res.extractedText == "plain text body")
    assert(res.error == null)
    assert(res.spans == Vector(Span(0, 15, "fallback")))
  }

  test("extract handles megabyte-scale documents") {
    val sb = new StringBuilder("<html><body><main>")
    var i = 0
    while (i < 20000) {
      sb.append(s"<p>paragraph number $i with some repeated words and <b>bold</b> "
        + s"plus <a href=\"https://t$i.example.com\">link $i</a></p>")
      i += 1
    }
    sb.append("</main></body></html>")
    val bytes = sb.toString.getBytes("UTF-8") // ~2.5 MB
    val t0 = System.nanoTime()
    val r = Extractor.extract(bytes, "")
    val sec = (System.nanoTime() - t0) / 1e9
    assert(r.error == null)
    assert(r.extractedText.length > 1000000)
    assert(r.links.size == 20000)
    // meta_comment + marker + one span per paragraph + links_section
    assert(r.spans.size == 20003)
    assert(sec < 30, s"2.5MB doc took ${sec}s — superlinear blowup?")
  }

  test("extract is deterministic") {
    val html = "<body><h1>T</h1><p>para</p></body>".getBytes("UTF-8")
    val a = Extractor.extract(html, "")
    val b = Extractor.extract(html, "")
    assert(a == b)
  }

  // ---- X14 chart block: content_extractor.py:368-421 + markdown_converter.py:300-326
  test("chart block parses figure[data-chart] and renders the reference markdown") {
    val html = """<body><main><figure data-chart="bar">
      <figcaption>Quarterly throughput</figcaption>
      <table><tr><th>series</th><th>q1</th><th>q2</th><th>q3</th><th>q4</th><th>q5</th><th>q6</th></tr>
      <tr><td>ingest</td><td>1.5</td><td>2</td><td>3</td><td>4</td><td>5</td><td>6</td></tr>
      <tr><td>emit</td><td>9</td><td>8</td><td>7</td></tr></table></figure></main></body>"""
    val blocks = BlockWalker.walk(HtmlParser.parse(html).find("main").get)
    assert(blocks.size == 1)
    val c = blocks.head.asInstanceOf[ChartBlock]
    assert(c.chartType == "bar")
    assert(c.title == "Quarterly throughput")
    assert(c.categories == Vector("q1", "q2", "q3", "q4", "q5", "q6"))
    assert(c.series.map(_.name) == Vector("ingest", "emit"))
    val md = Markdown.chartToMarkdown(c)
    // exact reference shape: header lines, Data: entries with first-5 + "...",
    // and the DIAGRAM_CANDIDATE marker (markdown_converter.py:302-321)
    assert(md ==
      "**Chart: Quarterly throughput**\n" +
      "*Chart Type: bar*\n\n" +
      "Data:\n" +
      "- ingest: 1.5, 2, 3, 4, 5...\n" +
      "- emit: 9, 8, 7\n" +
      "\n<!-- DIAGRAM_CANDIDATE: chart, type=bar -->\n")
  }

  test("chart markdown: empty title verbatim, no-data chart, empty series name skipped, hyperlink wrap") {
    val noData = ChartBlock("other", "unknown", "Empty chart", Vector.empty, Vector.empty, "")
    assert(Markdown.chartToMarkdown(noData) ==
      "**Chart: Empty chart**\n*Chart Type: unknown*\n\n\n<!-- DIAGRAM_CANDIDATE: chart, type=unknown -->\n")
    val anon = ChartBlock("other", "line", "", Vector("x"),
      Vector(ChartSeries("", Vector("5")), ChartSeries("named", Vector("7"))), "")
    val md = Markdown.chartToMarkdown(anon)
    assert(md.startsWith("**Chart: **\n")) // empty title rendered verbatim (ref quirk)
    assert(!md.contains("- : "))            // unnamed series skipped (ref :307)
    assert(md.contains("- named: 7\n"))
    val linked = ChartBlock("other", "area", "L", Vector("a"),
      Vector(ChartSeries("s", Vector("1"))), "https://x.example.com")
    val lmd = Markdown.chartToMarkdown(linked)
    assert(lmd.startsWith("[**Chart: L**") && lmd.endsWith("](https://x.example.com)"))
  }

  // ---- X12 cell bulletization: content_extractor.py:344-360
  test("table cell with nested list bulletizes items with indent + bullet char") {
    val html = """<body><table><tr><th>k</th><th>v</th></tr>
      <tr><td>key</td><td>lead <ul><li>alpha x</li><li>beta y<ul><li>gamma z</li></ul></li></ul></td></tr>
      </table></body>"""
    val blocks = BlockWalker.walk(HtmlParser.parse(html).find("body").get)
    val t = blocks.collect { case b: TableBlock => b }.head
    assert(t.data(1) == Vector("key", "lead \u2022 alpha x \u2022 beta y   \u2022 gamma z"))
  }

  // ---- section dedup inside the RENDERED section
  // (tests/test_hyperlink_extractor.py:94-116 shape; the reference CODE keeps
  // the longer text only when it CONTAINS the old one — ported verbatim)
  test("rendered hyperlinks section keeps longest-containing anchor per url") {
    val links = Seq(
      LinkRow("", 1, "Short Text", "https://example.com"),
      LinkRow("", 1, "Short Text plus more detail", "https://example.com"),
      LinkRow("", 1, "Longer but unrelated description", "https://example.com"),
      LinkRow("", 2, "Page 2 Link", "https://example.com"))
    val out = Links.formatHyperlinksSection(links)
    assert(out.contains("* [Short Text plus more detail](https://example.com)"))
    assert(!out.contains("* [Short Text](https://example.com)"))
    assert(!out.contains("Longer but unrelated")) // no containment -> not better
    assert(out.contains("### Page 2"))
    assert(out.contains("* [Page 2 Link](https://example.com)"))
  }

  test("rendered hyperlinks section replaces placeholder anchors and skips invalid rows") {
    val links = Seq(
      LinkRow("", 3, "Link on page 3", "https://ph.example.com"),
      LinkRow("", 3, "Real anchor", "https://ph.example.com"),
      LinkRow("", 1, "", "https://empty-text.com"),
      LinkRow("", 1, "No URL", ""),
      LinkRow("", 0, "No Page", "https://no-page.com"))
    val out = Links.formatHyperlinksSection(links)
    assert(out.contains("* [Real anchor](https://ph.example.com)"))
    assert(!out.contains("Link on page 3]"))
    assert(!out.contains("empty-text.com") && !out.contains("No URL") && !out.contains("no-page.com"))
  }

  // ---- M2 + hyperlinks section + diagram report wired into the HTML output
  test("HTML output carries metadata comment, hyperlinks section and diagram report") {
    val html = ("""<html lang="en"><head><title>T1</title>""" +
      """<meta name="author" content="A. Author"></head><body><main>""" +
      """<h1>Start</h1><ul><li>Begin</li><li>Process step</li><li>Decision</li><li>End</li></ul>""" +
      """<table><tr><th>a</th><th>b</th></tr></table>""" +
      """<p>See <a href="https://x.example.com/d">the decision doc</a>.</p>""" +
      """</main></body></html>""").getBytes("UTF-8")
    val r = Extractor.extract(html, "")
    assert(r.error == null)
    assert(r.extractedText.startsWith("\n<!-- DOCUMENT METADATA:\nTitle: T1\nAuthor: A. Author\n"))
    assert(r.extractedText.contains("\n\n## Hyperlinks in Document\n\n### Page 1\n* [the decision doc](https://x.example.com/d)\n"))
    assert(r.extractedText.contains("## DIAGRAM ANALYSIS\n\n**Pages with potential diagrams:**\n"))
    assert(r.extractedText.contains("- Analysis method: structured_data_analysis"))
    // span bookkeeping: meta_comment first at offset 0, sections at the end,
    // body spans shifted — all non-overlapping and sorted
    val spans = r.spans
    assert(spans.head.kind == "meta_comment" && spans.head.start == 0)
    assert(spans.map(_.kind).count(_ == "links_section") == 1)
    assert(spans.map(_.kind).count(_ == "diagram_section") == 1)
    assert(spans.sliding(2).forall { case Seq(a, b) => a.end <= b.start; case _ => true })
    assert(spans.forall(s => s.start >= 0 && s.end <= r.extractedText.length))
  }

  // ---- A3/A7 positional analog: grid bonus + single-column penalty
  test("spatial layout analog: grid bonus for multi-level pages, single-column penalty for flat ones") {
    def score(html: String) = {
      val blocks = BlockWalker.walk(HtmlParser.parse(html).find("body").get)
      StructureScore.scorePage(PageBlocks(1, blocks))
    }
    // deep nesting (levels 0/1/2 = 0/457K/914K EMU): unique lefts >= 2 ->
    // grid_layout; left range 914400 >= 500K -> NO single-column penalty
    val nested = score("""<body><h1>Flow</h1>
      <ul><li>alpha beta</li><li>gamma delta<ul><li>eps zeta
      <ul><li>eta theta</li></ul></li></ul></li></ul>
      <p>plain closing paragraph here</p></body>""")
    assert(nested.reasons.contains("layout:grid_layout"), nested.reasons)
    assert(!nested.reasons.exists(_.startsWith("negatives")), nested.reasons)
    // flat page, >= 3 sized blocks all at level 0: left variance 0 < 500K
    // -> single-column -10, no layout tag
    val flat = score("""<body><h1>Title words</h1><p>first paragraph text</p>
      <p>second paragraph text</p><p>third paragraph text</p></body>""")
    assert(!flat.reasons.exists(_.startsWith("layout:")), flat.reasons)
    assert(flat.reasons.contains("negatives:-10"), flat.reasons)
  }

  // ---- A2 arrow-glyph analog (Rules 1/2 + structural flow bonus)
  test("arrow glyph counting and the block_arrows / line_ratio scoring legs") {
    import StructureScore.countArrows
    assert(countArrows("A -> B => C \u2192 D") == 3)
    assert(countArrows("A <-> B") == 1)   // digraph not double-counted
    assert(countArrows("a - b = c < d") == 0)
    assert(countArrows("") == 0 && countArrows(null) == 0)
    val html = """<body><p>go -> here</p><p>then => there</p><p>also \u2192 done</p></body>"""
    val blocks = BlockWalker.walk(HtmlParser.parse(html).find("body").get)
    val sc = StructureScore.scorePage(PageBlocks(1, blocks))
    assert(sc.reasons.contains("block_arrows:3"), sc.reasons)
    // 3 arrows / 3 elements = ratio 1.0 >= 0.5
    assert(sc.reasons.contains("line_ratio:1.0"), sc.reasons)
    assert(sc.reasons.exists(_.startsWith("flow_pattern:")), sc.reasons) // structural +15
  }

  // ---- M1 date metadata (metadata_extractor.py:154-190, 459-462 analog) ----
  test("date metadata: precedence and verbatim passthrough") {
    def metaOf(head: String): DocMeta = {
      val dom = HtmlParser.parse(s"<html><head>$head</head><body><p>hello world body</p></body></html>")
      Extractor.extractHtml(dom, "").meta
    }
    // article:published_time beats name=date beats dcterms.created
    val m1 = metaOf("""<meta name="date" content="2020-01-02">""" +
      """<meta property="article:published_time" content="2021-03-04T05:06:07+00:00">""" +
      """<meta name="dcterms.created" content="1999-01-01">""")
    assert(m1.createdDate == "2021-03-04T05:06:07+00:00")
    val m2 = metaOf("""<meta name="dcterms.created" content="1999-01-01">""" +
      """<meta name="date" content="2020-01-02">""")
    assert(m2.createdDate == "2020-01-02")
    // modified: article:modified_time > http-equiv last-modified > dcterms
    val m3 = metaOf("""<meta http-equiv="last-modified" content="Tue, 01 Feb 2022 10:00:00 GMT">""" +
      """<meta property="article:modified_time" content="2022-02-01T10:00:00Z">""")
    assert(m3.modifiedDate == "2022-02-01T10:00:00Z")
    // values pass through VERBATIM (reference: no date format conversion)
    val m4 = metaOf("""<meta name="date" content="January 5th, 2020 (approx)">""")
    assert(m4.createdDate == "January 5th, 2020 (approx)")
    assert(m4.modifiedDate == "")
  }

  test("core-props breadth metadata: precedence and verbatim passthrough (M1, round 4)") {
    def metaOf(head: String): DocMeta = {
      val dom = HtmlParser.parse(s"<html><head>$head</head><body><p>hello world body</p></body></html>")
      Extractor.extractHtml(dom, "").meta
    }
    // subject: name=subject beats dcterms.subject, either alone works
    val s1 = metaOf("""<meta name="dcterms.subject" content="dc subj">""" +
      """<meta name="subject" content="plain subj">""")
    assert(s1.subject == "plain subj")
    assert(metaOf("""<meta name="dcterms.subject" content="dc subj">""").subject == "dc subj")
    // category: article:section beats name=category
    val c1 = metaOf("""<meta name="category" content="cat-meta">""" +
      """<meta property="article:section" content="Tech">""")
    assert(c1.category == "Tech")
    assert(metaOf("""<meta name="category" content="cat-meta">""").category == "cat-meta")
    // last_modified_by: last-modified-by beats dcterms.contributor
    val l1 = metaOf("""<meta name="dcterms.contributor" content="Contrib">""" +
      """<meta name="last-modified-by" content="Editor X">""")
    assert(l1.lastModifiedBy == "Editor X")
    assert(metaOf("""<meta name="dcterms.contributor" content="Contrib">""").lastModifiedBy == "Contrib")
    // single-source fields, verbatim (incl. non-numeric revision — the
    // reference preserves original data types / strings)
    val m = metaOf("""<meta name="comments" content="a doc comment">""" +
      """<meta name="revision" content="v2-draft">""" +
      """<meta name="last-printed" content="2020-05-15 10:30:00">""")
    assert(m.comments == "a doc comment")
    assert(m.revision == "v2-draft")
    assert(m.lastPrinted == "2020-05-15 10:30:00")
    // file-section analogs: generator -> application, og:site_name -> company
    val f = metaOf("""<meta name="generator" content="somecms 2.1">""" +
      """<meta property="og:site_name" content="Example Press">""")
    assert(f.application == "somecms 2.1")
    assert(f.company == "Example Press")
    // absent => all empty
    val none = metaOf("")
    assert(none.subject == "" && none.comments == "" && none.category == "" &&
      none.lastModifiedBy == "" && none.revision == "" && none.lastPrinted == "" &&
      none.application == "" && none.company == "")
  }

  test("crawl date: warc_ts micros formatted like Python str(datetime), absent when unset") {
    assert(Fidelity.formatEpochUs(1700000000000000L) == "2023-11-14 22:13:20")
    val dom = HtmlParser.parse("<html><body><p>hello world body</p></body></html>")
    assert(Extractor.extractHtml(dom, "", -1L, 1700000000000000L).meta.crawlDate == "2023-11-14 22:13:20")
    assert(Extractor.extractHtml(dom, "").meta.crawlDate == "")
  }

  test("layout types: landmark tags deduped in first-appearance order") {
    val dom = HtmlParser.parse("<html><body><nav>n</nav><main><section><p>hello world body</p>" +
      "<table><tr><td>x</td></tr></table></section><section><figure>f</figure></section>" +
      "</main><footer>f</footer></body></html>")
    assert(Extractor.extractHtml(dom, "").meta.layoutTypes == "nav, main, section, table, figure, footer")
  }

  test("metadata comment renders date + structure sections in reference order") {
    val meta = DocMeta("T", "A", "", "", "en", 2,
      createdDate = "2021-01-01", modifiedDate = "2022-02-02",
      crawlDate = "2023-03-03 00:00:00", layoutTypes = "nav, main")
    val c = Fidelity.metadataComment(meta, 1048576L)
    assert(c == "\n<!-- DOCUMENT METADATA:\nTitle: T\nAuthor: A\nLanguage: en\n" +
      "Created Date: 2021-01-01\nLast Modified: 2022-02-02\nCrawl Date: 2023-03-03 00:00:00\n" +
      "File Size: 1.00 MB\nPages: 2\nLayout Types: nav, main\n-->\n")
    // breadth fields slot in reference order (:412-430 doc section,
    // :459-467 date section); revision is extracted but never rendered
    val full = meta.copy(subject = "S", category = "C", comments = "DC",
      lastModifiedBy = "LMB", lastPrinted = "2020-05-15 10:30:00", revision = "9")
    val c2 = Fidelity.metadataComment(full, 1048576L)
    assert(c2 == "\n<!-- DOCUMENT METADATA:\nTitle: T\nAuthor: A\nSubject: S\n" +
      "Category: C\nDocument Comments: DC\nLanguage: en\n" +
      "Created Date: 2021-01-01\nLast Modified: 2022-02-02\n" +
      "Last Modified By: LMB\nLast Printed: 2020-05-15 10:30:00\n" +
      "Crawl Date: 2023-03-03 00:00:00\n" +
      "File Size: 1.00 MB\nPages: 2\nLayout Types: nav, main\n-->\n")
    assert(!c2.contains("9"))
  }

  test("pyFormat1f: Python round-half-even (ADVICE r2)") {
    assert(Fidelity.pyFormat1f(0.25) == "0.2")
    assert(Fidelity.pyFormat1f(0.75) == "0.8")
    assert(Fidelity.pyFormat1f(0.35) == "0.3") // 0.35 is 0.34999... in binary, like Python
    assert(Fidelity.pyFormat1f(1.0) == "1.0")
    assert(Fidelity.pyFormat1f(2.0 / 3.0) == "0.7")
  }

  // ---- nesting depth: extraction is linear in depth and needs no deep stack

  private val deepPara = "<p>" + (1 to 36).map(i => s"word$i").mkString(" ") +
    """ see <a href="https://docs.example.com/guide">the guide</a></p>"""

  /** Hostile nesting shapes at depth `d`, after ROADMAP's hostile cases. */
  private def deepShapes(d: Int): Seq[(String, String)] = Seq(
    "div" -> ("<html><body>" + "<div>" * d + deepPara + "</div>" * d + "</body></html>"),
    "font" -> ("<html><body>" + """<font size="2">""" * d + deepPara + "</body></html>"),
    "b" -> ("<html><body><p>" + "<b>" * d + "bold words at the bottom</p></body></html>"),
    "ul" -> ("<html><body>" + "<ul><li>" * d + "innermost item" + "</li></ul>" * d +
      "</body></html>"),
    "stray" -> ("<html><body>" + "<div>" * d + deepPara + "</span>" * d + "</body></html>"))

  /** Run `f` on a thread with a 256 KB stack: deep input must not need more. */
  private def onSmallStack[A](f: => A): A = {
    var result: Either[Throwable, A] = null
    val t = new Thread(null, () => result = try Right(f) catch { case e: Throwable => Left(e) },
      "small-stack", 256L * 1024)
    t.start(); t.join()
    result.fold(e => throw e, identity)
  }

  /** Best of 3 wall-clock extractions of `html`, each without error. */
  private def minMs(html: Array[Byte]): Double = (1 to 3).map { _ =>
    val t0 = System.nanoTime()
    val r = Extractor.extract(html, "fb")
    val ms = (System.nanoTime() - t0) / 1e6
    assert(r.error == null, s"error: ${r.error}")
    ms
  }.min

  test("depth law: hostile nesting extracts without error in time linear in depth") {
    onSmallStack {
      val shallow = deepShapes(2000)
      val deep = deepShapes(16000).toMap
      shallow.foreach { case (_, h) => (1 to 5).foreach(_ => Extractor.extract(h.getBytes("UTF-8"), "fb")) }
      shallow.foreach { case (name, h) =>
        val t2k = minMs(h.getBytes("UTF-8"))
        val t16k = minMs(deep(name).getBytes("UTF-8"))
        assert(t16k <= 24 * t2k, f"$name: 16k levels took $t16k%.2f ms, 2k levels $t2k%.2f ms")
      }
    }
  }

  // ---- paragraph width: extraction is linear in the number of inline runs

  /** One paragraph of `n` same-format inline units: each merges into the
    * run before it. */
  private def wideShapes(n: Int): Seq[(String, String)] = Seq(
    "br" -> "a<br>", "span-space" -> "<span>w</span> ", "span" -> "<span>w</span>",
    "link" -> "<a href=/x>l</a>"
  ).map { case (name, unit) => name -> ("<html><body><p>" + unit * n + "</p></body></html>") }

  test("width law: a paragraph of same-format runs extracts in time linear in width") {
    val narrow = wideShapes(16000)
    val wide = wideShapes(128000).toMap
    narrow.foreach { case (_, h) => (1 to 5).foreach(_ => Extractor.extract(h.getBytes("UTF-8"), "fb")) }
    narrow.foreach { case (name, h) =>
      val t16k = minMs(h.getBytes("UTF-8"))
      val t128k = minMs(wide(name).getBytes("UTF-8"))
      assert(t128k <= 24 * t16k, f"$name: 128k units took $t128k%.2f ms, 16k units $t16k%.2f ms")
    }
  }

  test("nesting invariance: a wrapped paragraph extracts the same at any depth") {
    def afterMeta(html: String): String = {
      val r = Extractor.extract(html.getBytes("UTF-8"), "fb")
      assert(r.error == null, s"error: ${r.error}")
      r.extractedText.substring(r.spans.head.end) // the meta comment carries the byte size
    }
    def wrapped(name: String, d: Int): String = deepShapes(d).toMap.apply(name)
    onSmallStack {
      Seq("div", "font").foreach { name =>
        val flat = afterMeta(wrapped(name, 1))
        assert(flat.contains("word36 see [the guide](https://docs.example.com/guide)"), flat)
        Seq(100, 900, 5000).foreach(d => assert(afterMeta(wrapped(name, d)) == flat, s"$name depth $d"))
      }
    }
  }

  test("kernel fallback only on document errors; JVM and thread errors fail the task") {
    // a fallback row for an error that says nothing about the page would make
    // the same url extract differently between runs
    val document = Seq(new RuntimeException("bad page"), new IllegalArgumentException,
      new ArrayIndexOutOfBoundsException(3), new NumberFormatException, new StackOverflowError)
    val fatal = Seq(new OutOfMemoryError("Java heap space"), new InternalError,
      new InterruptedException, new NoClassDefFoundError("graft/html/Elem"),
      new LinkageError)
    document.foreach(t => assert(Extractor.documentError(t), s"$t must fall back"))
    fatal.foreach(t => assert(!Extractor.documentError(t), s"$t must fail the task"))
  }
}
