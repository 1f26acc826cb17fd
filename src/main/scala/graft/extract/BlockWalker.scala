package graft.extract

import scala.collection.mutable.ArrayBuffer
import graft.html.{Elem, Node, TextNode, TreeCursor}
import graft.model._

/** DOM -> ordered content blocks, the web analog of the reference's
  * slide -> shape-tree walk (accessibility_extractor_v2.py:321-379 document
  * order; content_extractor.py:17-100 block building). Document order IS
  * reading order (O1); no semantic reordering is applied to web pages — the
  * reference's O2 reorder is a placeholder-name quirk with no DOM analog.
  */
object BlockWalker {
  private val skipTags = Set("script", "style", "template", "noscript", "head",
    "meta", "link", "base", "iframe", "svg", "canvas", "video", "audio",
    "object", "embed", "button", "input", "select", "option", "textarea",
    "label", "form", "hr")
  private val inlineTags = Set("a", "b", "strong", "i", "em", "span", "code",
    "small", "sup", "sub", "u", "s", "abbr", "time", "mark", "cite", "q",
    "kbd", "samp", "var", "br", "wbr", "bdi", "bdo", "data", "dfn", "ins", "del")
  private val containerTags = Set("div", "section", "article", "main", "body",
    "figure", "figcaption", "details", "summary", "header", "blockquote",
    "address", "fieldset", "center", "font", "dl", "dt", "dd")

  def walk(root: Elem): Vector[Block] = {
    val blocks = new ArrayBuffer[Block]()
    val pending = new ArrayBuffer[Node]() // loose inline content buffer

    def flushPending(): Unit = {
      if (pending.nonEmpty) {
        val synth = new Elem("p", Map.empty)
        synth.children ++= pending
        pending.clear()
        Runs.paragraphOf(synth).foreach(p => blocks += TextBlock("content", Vector(p)))
      }
    }

    val boilerplate = new Boilerplate.Classifier()
    // children of every walked element in document order, on an explicit
    // stack; loose inline content between blocks collects in `pending`
    val cur = new TreeCursor(root)

    def handle(el: Elem): Unit = el.tag match {
      case t if skipTags.contains(t) => ()
      case t if boilerplate.isBoilerplate(el) => ()
      case "h1" =>
        Runs.paragraphOf(el).foreach(p => blocks += TextBlock("title", Vector(p)))
      case "h2" =>
        Runs.paragraphOf(el).foreach(p => blocks += TextBlock("subtitle", Vector(p)))
      case "h3" | "h4" | "h5" | "h6" =>
        Runs.paragraphOf(el).foreach { p =>
          blocks += TextBlock("content",
            Vector(p.copy(hints = p.hints.copy(likelyHeading = true))))
        }
      case "p" =>
        Runs.paragraphOf(el).foreach(p => blocks += TextBlock("content", Vector(p)))
      case "pre" =>
        Runs.paragraphOf(el, verbatim = true)
          .foreach(p => blocks += TextBlock("content", Vector(p)))
      case "ul" | "ol" =>
        val paras = listParagraphs(el, 0)
        if (paras.nonEmpty) blocks += TextBlock("content", paras)
      case "table" =>
        val data = tableData(el)
        if (data.nonEmpty) blocks += TableBlock("other", data)
      case "img" =>
        val alt = el.attr("alt")
        if (Markdown.hasMeaningfulAltText(alt))
          blocks += ImageBlock("other", alt.trim, "")
      case "a" =>
        val inner = linkedBlock(el)
        if (inner == null) pending += el
        else {
          val href = UrlFix.fixUrl(el.attr("href"))
          blocks += (if (inner.tag == "img") ImageBlock("other", inner.attr("alt").trim, href)
            else chartOf(inner, href))
        }
      case "figure" if el.attr("data-chart").nonEmpty =>
        blocks += chartOf(el, "")
      case t if containerTags.contains(t) => cur.descend(el)
      case t if inlineTags.contains(t) => pending += el
      case _ => cur.descend(el) // unknown tags: walk into, err on inclusion
        // (content_extractor.py:289-300: "err on the side of inclusion")
    }

    def isBlockImageAnchor(e: Elem): Boolean = e.tag == "a" && linkedBlock(e) != null

    while (cur.depth > 0) {
      cur.nextChild() match {
        case null =>
          flushPending()
          cur.ascend()
        case t: TextNode =>
          if (t.value.exists(!_.isWhitespace)) pending += t
        case e: Elem if inlineTags.contains(e.tag) && !isBlockImageAnchor(e) =>
          pending += e
        case e: Elem =>
          flushPending()
          handle(e)
      }
    }
    blocks.toVector
  }

  /** The block an <a> wraps, or null: when its sole significant child
    * (whitespace text aside) is a meaningful-alt <img>, it renders as a
    * linked image block (X13 hyperlink wrap); when it is a
    * `<figure data-chart>`, as a hyperlink-wrapped chart
    * (markdown_converter.py:323-325). */
  private def linkedBlock(a: Elem): Elem = {
    var sole: Node = null
    var n = 0
    a.children.foreach {
      case t: TextNode if t.value.forall(_.isWhitespace) => ()
      case c => sole = c; n += 1
    }
    sole match {
      case e: Elem if n == 1 &&
        ((e.tag == "img" && Markdown.hasMeaningfulAltText(e.attr("alt"))) ||
          (e.tag == "figure" && e.attr("data-chart").nonEmpty)) => e
      case _ => null
    }
  }

  /** <li> items (nested lists flatten in document order, level = nesting
    * depth) — the analog of bullet-level resolution X3-X5
    * (text_processor.py:193-285): <li> nesting depth is the level, <ol>
    * ancestry means numbered. */
  def listParagraphs(listEl: Elem, level: Int): Vector[Paragraph] = {
    val out = Vector.newBuilder[Paragraph]
    // frames alternate list, li, list, li, ...: a list at odd depth d sits
    // at level + d / 2
    val cur = new TreeCursor(listEl)
    while (cur.depth > 0) {
      val inList = cur.depth % 2 == 1
      cur.nextChild() match {
        case null => cur.ascend()
        case li: Elem if inList && li.tag == "li" =>
          val numbered = cur.current.tag == "ol"
          out ++= Runs.paragraphOf(li,
            isBullet = !numbered, isNumbered = numbered,
            bulletLevel = if (numbered) -1 else level + cur.depth / 2,
            stopAtNestedLists = true)
          cur.descend(li)
        case e: Elem if !inList && (e.tag == "ul" || e.tag == "ol") => cur.descend(e)
        case _ => ()
      }
    }
    out.result()
  }

  /** Table rows in document order; cell text is the normalized inline text
    * (content_extractor.py:334-366 analog: list-of-rows of strings). */
  def tableData(tableEl: Elem): Vector[Vector[String]] = {
    val rows = new ArrayBuffer[Vector[String]]()
    val cur = new TreeCursor(tableEl)
    while (cur.depth > 0) {
      cur.nextChild() match {
        case null => cur.ascend()
        case e: Elem if e.tag == "tr" =>
          val cells = e.children.collect {
            case c: Elem if c.tag == "td" || c.tag == "th" => cellContent(c)
          }.toVector
          if (cells.nonEmpty) rows += cells
        case e: Elem if e.tag == "thead" || e.tag == "tbody" || e.tag == "tfoot" =>
          cur.descend(e)
        case _ => ()
      }
    }
    rows.toVector
  }

  /** Cell content with list bulletization (content_extractor.py:344-360):
    * bullet paragraphs render as `"  "*level + "• " + text`, other
    * paragraphs as plain clean text, all joined with a single space. */
  private def cellContent(c: Elem): String = {
    val hasList = c.children.exists {
      case e: Elem => e.tag == "ul" || e.tag == "ol"
      case _       => false
    }
    if (!hasList) return Runs.paragraphOf(c).map(_.cleanText).getOrElse("")
    val parts = Vector.newBuilder[String]
    Runs.paragraphOf(c, stopAtNestedLists = true)
      .foreach(p => parts += p.cleanText)
    c.children.foreach {
      case e: Elem if e.tag == "ul" || e.tag == "ol" =>
        listParagraphs(e, 0).foreach { p =>
          parts += (if (p.hints.isBullet)
            ("  " * math.max(0, p.hints.bulletLevel)) + "• " + p.cleanText
          else p.cleanText)
        }
      case _ => ()
    }
    parts.result().filter(_.nonEmpty).mkString(" ")
  }

  /** X14 chart parse: `<figure data-chart="TYPE">` with optional
    * `<figcaption>` title and a data table whose header row carries the
    * categories (first cell is the series-name column header) and whose
    * body rows are one series each: name cell + value cells. */
  def chartOf(fig: Elem, hyperlink: String): ChartBlock = {
    val chartType = fig.attr("data-chart")
    val title = fig.find("figcaption")
      .flatMap(Runs.paragraphOf(_)).map(_.cleanText).getOrElse("")
    val data = fig.find("table").map(tableData).getOrElse(Vector.empty)
    val categories = data.headOption.map(_.drop(1)).getOrElse(Vector.empty)
    val series = data.drop(1).collect {
      case row if row.nonEmpty => ChartSeries(row.head, row.tail)
    }
    ChartBlock("other", chartType, title, categories, series, hyperlink)
  }
}
