package graft.html

import scala.collection.mutable.ArrayBuffer

/** Minimal from-scratch HTML DOM (no external parser jars exist in this
  * sandbox — SURVEY.md §7). Document order of children IS reading order
  * (the reference's O1 invariant, accessibility_extractor_v2.py:321-379:
  * "true reading order = element order in the XML tree").
  */
sealed trait Node
final class Elem(val tag: String, val attrs: Map[String, String]) extends Node {
  val children: ArrayBuffer[Node] = new ArrayBuffer[Node]()
  def attr(name: String): String = attrs.getOrElse(name, "")
  /** depth-first descendant elements, document order, self excluded */
  def descendants: Iterator[Elem] = new Iterator[Elem] {
    private val cur = new TreeCursor(Elem.this)
    private var upcoming = advance()
    private def advance(): Elem = {
      while (cur.depth > 0) {
        cur.nextChild() match {
          case null    => cur.ascend()
          case e: Elem => cur.descend(e); return e
          case _       => ()
        }
      }
      null
    }
    def hasNext: Boolean = upcoming != null
    def next(): Elem = { val e = upcoming; upcoming = advance(); e }
  }
  def find(t: String): Option[Elem] =
    if (tag == t) Some(this) else descendants.find(_.tag == t)
  /** concatenated decoded text of the subtree (raw, not normalized) */
  def rawText: String = {
    val sb = new StringBuilder
    val cur = new TreeCursor(this)
    while (cur.depth > 0) {
      cur.nextChild() match {
        case null        => cur.ascend()
        case t: TextNode => sb.append(t.value)
        case e: Elem     => cur.descend(e)
      }
    }
    sb.toString
  }
}
final class TextNode(val value: String) extends Node

/** Depth-first cursor over a DOM subtree with an explicit stack of
  * (element, next child) frames, so a walk's depth is bounded by the heap
  * rather than the thread stack. Starts with `root` as the only frame;
  * `depth` is the number of open frames (0 when the walk is done). */
final class TreeCursor(root: Elem) {
  private var elems = new Array[Elem](16)
  private var next = new Array[Int](16)
  private var size = 0
  descend(root)

  def depth: Int = size
  /** the element whose children are being visited */
  def current: Elem = elems(size - 1)
  /** the next child of `current`, or null when its children are exhausted */
  def nextChild(): Node = {
    val e = elems(size - 1)
    val i = next(size - 1)
    if (i < e.children.length) { next(size - 1) = i + 1; e.children(i) } else null
  }
  /** open `e` (normally the child just returned) as the new current element */
  def descend(e: Elem): Unit = {
    if (size == elems.length) {
      elems = java.util.Arrays.copyOf(elems, size * 2)
      next = java.util.Arrays.copyOf(next, size * 2)
    }
    elems(size) = e
    next(size) = 0
    size += 1
  }
  /** close `current` and return it */
  def ascend(): Elem = {
    size -= 1
    val e = elems(size)
    elems(size) = null
    e
  }
}

/** WHATWG-subset tokenizer + tree builder: tags, attributes
  * (quoted/unquoted/bare), decimal/hex/named entities, comments, doctype,
  * CDATA-as-comment, raw-text elements (script/style/textarea/template),
  * void elements, and the common implied end tags (p/li/td/th/tr/option).
  * Malformed input never throws — unknown constructs degrade to text
  * (reference R1 semantics: errors isolate per document,
  * file_converter.py:99-100).
  */
object HtmlParser {
  private val voidTags = Set("area", "base", "br", "col", "embed", "hr", "img",
    "input", "link", "meta", "param", "source", "track", "wbr")
  private val rawTextTags = Set("script", "style", "textarea", "template", "noscript")
  // block-ish tags whose <open> implies </p> (WHATWG "closing a p element")
  private val pClosers = Set("address", "article", "aside", "blockquote", "div",
    "dl", "fieldset", "figure", "footer", "form", "h1", "h2", "h3", "h4", "h5",
    "h6", "header", "hr", "main", "nav", "ol", "p", "pre", "section", "table", "ul")

  // scopes of the implied end tags: the open element is closed only when
  // no element of its scope sits above it (the #root at index 0 bounds
  // every scope and is never closed)
  private val listScope = Array("ul", "ol")
  private val cellScope = Array("tr", "table")
  private val rowScope = Array("table")
  private val selectScope = Array("select")
  private val paragraphScope = Array("body")

  /** The stack of open elements, with the index of the topmost open
    * element of each tag name and, per entry, the next lower entry of the
    * same tag. The element a close tag or an implied end tag ends is then
    * found in O(1) instead of by scanning the stack, so parsing stays
    * linear in nesting depth. The root (index 0) is never indexed. */
  private[graft] final class OpenElements(root: Elem) {
    private var elems = new Array[Elem](32)
    private var below = new Array[Int](32) // next lower index with the same tag, -1 = none
    // topmost open index per tag; a tag with none open has no entry
    private val tops = new java.util.HashMap[String, Integer]()
    private var size = 1
    elems(0) = root

    def last: Elem = elems(size - 1)

    /** index of the topmost open element with this tag, -1 when none is open */
    def top(tag: String): Int = {
      val t = tops.get(tag)
      if (t == null) -1 else t
    }

    def push(e: Elem): Unit = {
      if (size == elems.length) {
        elems = java.util.Arrays.copyOf(elems, size * 2)
        below = java.util.Arrays.copyOf(below, size * 2)
      }
      val prev = tops.put(e.tag, size)
      elems(size) = e
      below(size) = if (prev == null) -1 else prev
      size += 1
    }

    /** close every open element from index `from` up */
    def popTo(from: Int): Unit =
      while (size > from) {
        size -= 1
        if (below(size) < 0) tops.remove(elems(size).tag)
        else tops.put(elems(size).tag, below(size))
        elems(size) = null
      }

    /** close the topmost open `tag` unless an element of `scope` is above it */
    def closeInScope(tag: String, scope: Array[String]): Unit = {
      val t = top(tag)
      if (t > 0) {
        var bound = 0
        var k = 0
        while (k < scope.length) { bound = math.max(bound, top(scope(k))); k += 1 }
        if (t > bound) popTo(t)
      }
    }
  }

  def parse(html: String): Elem = {
    val root = new Elem("#root", Map.empty)
    val stack = new OpenElements(root)
    val n = html.length
    var i = 0
    val text = new StringBuilder

    def flushText(): Unit = {
      if (text.nonEmpty) {
        stack.last.children += new TextNode(Entities.decode(text.toString))
        text.clear()
      }
    }

    def impliedCloses(tag: String): Unit = tag match {
      // </li> implied by <li>; </td>/<th> by td/th/tr; </tr> by tr; </option> by option
      case "li" => stack.closeInScope("li", listScope)
      case "td" | "th" =>
        stack.closeInScope("td", cellScope); stack.closeInScope("th", cellScope)
      case "tr" =>
        stack.closeInScope("td", cellScope); stack.closeInScope("th", cellScope)
        stack.closeInScope("tr", rowScope)
      case "option" => stack.closeInScope("option", selectScope)
      case t if pClosers.contains(t) => stack.closeInScope("p", paragraphScope)
      case _ => ()
    }

    while (i < n) {
      val c = html.charAt(i)
      if (c == '<' && i + 1 < n) {
        val c1 = html.charAt(i + 1)
        if (c1 == '!') {
          flushText()
          if (html.startsWith("<!--", i)) {
            val end = html.indexOf("-->", i + 4)
            i = if (end < 0) n else end + 3
          } else { // doctype, CDATA, etc. — skip to '>'
            val end = html.indexOf('>', i)
            i = if (end < 0) n else end + 1
          }
        } else if (c1 == '?') { // processing instruction — skip
          flushText()
          val end = html.indexOf('>', i)
          i = if (end < 0) n else end + 1
        } else if (c1 == '/') {
          flushText()
          val end = html.indexOf('>', i)
          if (end < 0) { i = n }
          else {
            val name = html.substring(i + 2, end).trim.toLowerCase(java.util.Locale.ROOT)
            // pop to the matching open element if present; else ignore stray close
            val found = stack.top(name)
            if (found > 0) stack.popTo(found)
            i = end + 1
          }
        } else if (c1.isLetter) {
          flushText()
          // parse tag name
          var j = i + 1
          while (j < n && (html.charAt(j).isLetterOrDigit || html.charAt(j) == '-' ||
            html.charAt(j) == ':')) j += 1
          val tag = html.substring(i + 1, j).toLowerCase(java.util.Locale.ROOT)
          // parse attributes up to '>' (respecting quotes); most elements
          // carry none — avoid builder allocation for that case
          var attrs: Map[String, String] = null
          var selfClose = false
          var k = j
          var done = false
          while (k < n && !done) {
            while (k < n && html.charAt(k).isWhitespace) k += 1
            if (k >= n) done = true
            else html.charAt(k) match {
              case '>' => done = true; k += 1
              case '/' =>
                if (k + 1 < n && html.charAt(k + 1) == '>') { selfClose = true; done = true; k += 2 }
                else k += 1
              case _ =>
                // attribute name
                val ns = k
                while (k < n && !html.charAt(k).isWhitespace &&
                  html.charAt(k) != '=' && html.charAt(k) != '>' && html.charAt(k) != '/') k += 1
                val aname = html.substring(ns, k).toLowerCase(java.util.Locale.ROOT)
                while (k < n && html.charAt(k).isWhitespace) k += 1
                var avalue = ""
                if (k < n && html.charAt(k) == '=') {
                  k += 1
                  while (k < n && html.charAt(k).isWhitespace) k += 1
                  if (k < n && (html.charAt(k) == '"' || html.charAt(k) == '\'')) {
                    val q = html.charAt(k); k += 1
                    val vs = k
                    while (k < n && html.charAt(k) != q) k += 1
                    avalue = html.substring(vs, math.min(k, n))
                    if (k < n) k += 1
                  } else {
                    val vs = k
                    while (k < n && !html.charAt(k).isWhitespace && html.charAt(k) != '>') k += 1
                    avalue = html.substring(vs, k)
                  }
                }
                if (aname.nonEmpty) {
                  if (attrs == null) attrs = Map.empty
                  attrs = attrs.updated(aname, Entities.decode(avalue))
                }
            }
          }
          i = k
          impliedCloses(tag)
          val el = new Elem(tag, if (attrs == null) Map.empty else attrs)
          stack.last.children += el
          if (rawTextTags.contains(tag) && !selfClose) {
            // raw text: scan for the matching case-insensitive close tag.
            // script/style content is dropped (reference P6: non-content nodes
            // removed entirely, accessibility_extractor_v2.py:336-350 analog);
            // textarea/template content likewise never reaches extraction.
            val closeIdx = indexOfCloseTag(html, i, tag)
            i = if (closeIdx < 0) n else {
              val gt = html.indexOf('>', closeIdx)
              if (gt < 0) n else gt + 1
            }
          } else if (!selfClose && !voidTags.contains(tag)) {
            stack.push(el)
          }
        } else { text.append(c); i += 1 }
      } else { text.append(c); i += 1 }
    }
    flushText()
    root
  }

  private def indexOfCloseTag(html: String, from: Int, tag: String): Int = {
    val needle = "</" + tag
    var i = from
    val n = html.length
    while (i >= 0 && i < n) {
      i = html.indexOf('<', i)
      if (i < 0) return -1
      if (i + needle.length <= n &&
        html.regionMatches(true, i, needle, 0, needle.length)) {
        val after = i + needle.length
        if (after >= n || html.charAt(after) == '>' || html.charAt(after).isWhitespace)
          return i
      }
      i += 1
    }
    -1
  }
}
