package graft.extract

import scala.collection.mutable.ArrayBuffer
import graft.html.{Elem, TextNode, TreeCursor}
import graft.model.{Hints, Paragraph, Run}

/** Inline-content -> formatted runs, with HTML whitespace collapsing and the
  * reference's bullet-prefix handling:
  *  - bullet-char strip charset: text_processor.py:423-441 `_remove_bullet_char`
  *  - prefix-aware run trimming (clean text re-mapped onto runs, runs inside
  *    the stripped prefix dropped, boundary run trimmed): text_processor.py:287-349
  * Formatting flags come from tag ancestry (b/strong -> bold, i/em -> italic,
  * a[href] -> hyperlink via fix_url) — the DOM analog of
  * text_processor.py:373-421 `_extract_run_formatting`.
  */
object Runs {
  // exact charset of text_processor.py:441
  private val BulletPrefix = "^[•◦▪▫‣·○■□→►✓✗\\-\\*\\+※◆◇]\\s*".r

  def removeBulletChar(text: String): String =
    if (text == null || text.isEmpty) text
    else BulletPrefix.replaceFirstIn(text, "")

  private final case class Flags(bold: Boolean, italic: Boolean, link: String)

  // block-ish tags that, when (invalidly) nested inside inline content,
  // must still act as word separators — real-world HTML does this
  private val blockBoundary = Set("p", "div", "li", "ul", "ol", "tr", "td",
    "th", "table", "h1", "h2", "h3", "h4", "h5", "h6", "blockquote",
    "section", "article")

  /** The formatted runs of the inline subtree of `el` and their
    * concatenated text, built in one walk: each emitted char goes onto the
    * last run when its flags equal that run's, or starts a new run, so runs
    * are maximal stretches of equal formatting (DOM `<b>a</b><b>b</b>` is
    * one run) and `concat(runs.text) == text` holds (the X6
    * span-bookkeeping invariant).
    * `stopAtNestedLists`: when building an <li>'s own paragraph, nested
    * <ul>/<ol> children are separate items, not part of this run list.
    * `collapse`: HTML whitespace collapsing — leading and trailing
    * whitespace is dropped, and each stretch between two visible chars
    * becomes one ' ' in the flags where the stretch began (matches source
    * authoring: "with <b>bold</b>" keeps the space in the plain run).
    * Without it every char is kept as is (`<pre>`).
    */
  private def runsOf(el: Elem, stopAtNestedLists: Boolean,
      collapse: Boolean): (Vector[Run], String) = {
    val text = new java.lang.StringBuilder
    val starts = new ArrayBuffer[Int]() // offset in `text` of each run
    val runFlags = new ArrayBuffer[Flags]()
    var last: Flags = null // flags of the last run
    /** append chars [from, until) of `s`, all with flags `f` */
    def put(s: String, from: Int, until: Int, f: Flags): Unit =
      if (from < until) {
        if (f != last) { starts += text.length; runFlags += f; last = f }
        text.append(s, from, until)
      }
    // flags where the pending whitespace stretch began, null outside one
    var spaceFlags: Flags = null
    def emit(s: String, f: Flags): Unit =
      if (!collapse) put(s, 0, s.length, f)
      else {
        var i = 0
        while (i < s.length) {
          if (Character.isWhitespace(s.charAt(i))) {
            if (spaceFlags == null) spaceFlags = f
            i += 1
          } else {
            var j = i + 1 // the visible stretch [i, j) goes on in one append
            while (j < s.length && !Character.isWhitespace(s.charAt(j))) j += 1
            if (spaceFlags != null && text.length > 0) put(" ", 0, 1, spaceFlags)
            spaceFlags = null
            put(s, i, j, f)
            i = j
          }
        }
      }
    /** Emit what precedes `e`'s children; the flags of its children, or
      * null when its children are skipped. */
    def open(e: Elem, f: Flags): Flags = e.tag match {
      case "ul" | "ol" if stopAtNestedLists => null
      case "script" | "style" | "template" | "noscript" => null
      case "br" => emit("\n", f); null
      case "b" | "strong" => f.copy(bold = true)
      case "i" | "em"     => f.copy(italic = true)
      case "a" =>
        val href = UrlFix.fixUrl(e.attr("href"))
        if (href.nonEmpty) f.copy(link = href) else f
      case tag if blockBoundary.contains(tag) => emit("\n", f); f
      case _ => f
    }
    val rootFlags = open(el, Flags(bold = false, italic = false, link = ""))
    if (rootFlags != null) {
      // flags of each open element's children, parallel to the cursor's stack
      val flags = new ArrayBuffer[Flags]()
      flags += rootFlags
      val cur = new TreeCursor(el)
      while (cur.depth > 0) {
        val f = flags.last
        cur.nextChild() match {
          case null =>
            // a block boundary passes its own flags on unchanged
            if (blockBoundary.contains(cur.ascend().tag)) emit("\n", f)
            flags.remove(flags.length - 1)
          case t: TextNode => emit(t.value, f)
          case e: Elem =>
            val g = open(e, f)
            if (g != null) { cur.descend(e); flags += g }
        }
      }
    }
    val joined = text.toString
    val runs = Vector.tabulate(starts.length) { i =>
      val f = runFlags(i)
      val end = if (i + 1 < starts.length) starts(i + 1) else joined.length
      Run(joined.substring(starts(i), end), f.bold, f.italic, f.link)
    }
    (runs, joined)
  }

  /** Strip the bullet prefix from the combined text and re-map onto runs
    * (drop runs fully inside the prefix, trim the boundary run) —
    * text_processor.py:287-349 semantics.
    */
  private def stripPrefix(runs: Vector[Run], nDrop: Int): Vector[Run] = {
    if (nDrop <= 0) return runs
    var remaining = nDrop
    val out = Vector.newBuilder[Run]
    runs.foreach { r =>
      if (remaining >= r.text.length) remaining -= r.text.length
      else if (remaining > 0) { out += r.copy(text = r.text.substring(remaining)); remaining = 0 }
      else out += r
    }
    out.result()
  }

  /** Build one Paragraph from an element's inline content.
    * Returns None when the normalized clean text is empty (P2 empty-paragraph
    * filter, text_processor.py:90-92).
    */
  def paragraphOf(
      el: Elem,
      isBullet: Boolean = false,
      isNumbered: Boolean = false,
      bulletLevel: Int = -1,
      stopAtNestedLists: Boolean = false,
      verbatim: Boolean = false
  ): Option[Paragraph] = {
    val (runs, joined) = runsOf(el, stopAtNestedLists, collapse = !verbatim)
    val clean0 = if (verbatim) joined.stripLineEnd else removeBulletChar(joined)
    if (clean0.trim.isEmpty) return None
    val finalRuns =
      if (verbatim) runs
      else stripPrefix(runs, joined.length - clean0.length)
    // explicit list items / paragraphs are never headings; heading hints are
    // only assigned by the block walker for h3-h6 (X10 likely_heading path)
    val hints = Hints(bulletLevel, isBullet, isNumbered,
      allCaps = TextStats.isAllCaps(clean0), likelyHeading = false)
    Some(Paragraph(clean0, finalRuns, hints))
  }
}
