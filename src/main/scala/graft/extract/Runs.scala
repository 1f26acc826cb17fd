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

  /** Collect raw (unnormalized) runs from the inline subtree of `el`.
    * `stopAtNestedLists`: when building an <li>'s own paragraph, nested
    * <ul>/<ol> children are separate items, not part of this run list.
    */
  // block-ish tags that, when (invalidly) nested inside inline content,
  // must still act as word separators — real-world HTML does this
  private val blockBoundary = Set("p", "div", "li", "ul", "ol", "tr", "td",
    "th", "table", "h1", "h2", "h3", "h4", "h5", "h6", "blockquote",
    "section", "article")

  private def rawRuns(el: Elem, stopAtNestedLists: Boolean): Vector[(String, Flags)] = {
    val out = new ArrayBuffer[(String, Flags)]()
    /** Emit what precedes `e`'s children; the flags of its children, or
      * null when its children are skipped. */
    def open(e: Elem, f: Flags): Flags = e.tag match {
      case "ul" | "ol" if stopAtNestedLists => null
      case "script" | "style" | "template" | "noscript" => null
      case "br" => out += (("\n", f)); null
      case "b" | "strong" => f.copy(bold = true)
      case "i" | "em"     => f.copy(italic = true)
      case "a" =>
        val href = UrlFix.fixUrl(e.attr("href"))
        if (href.nonEmpty) f.copy(link = href) else f
      case tag if blockBoundary.contains(tag) => out += (("\n", f)); f
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
            if (blockBoundary.contains(cur.ascend().tag)) out += (("\n", f))
            flags.remove(flags.length - 1)
          case t: TextNode => if (t.value.nonEmpty) out += ((t.value, f))
          case e: Elem =>
            val g = open(e, f)
            if (g != null) { cur.descend(e); flags += g }
        }
      }
    }
    out.toVector
  }

  /** Collapse HTML whitespace across the whole run sequence while preserving
    * per-run boundaries, so `concat(runs.text) == cleanText` holds (the X6
    * span-bookkeeping invariant). Leading/trailing whitespace is trimmed.
    */
  /** Allocation fast path: collapse is the identity when every run is
    * non-empty, all whitespace is single plain ' ' chars, and the sequence
    * neither starts nor ends with whitespace. Most already-clean paragraphs
    * hit this and skip the per-run StringBuilder pass entirely (the
    * builders showed up as a top allocation site in kernel profiles). */
  private def isNormalized(raw: Vector[(String, Flags)]): Boolean = {
    var prevWs = true // a leading space must fail
    var i = 0
    while (i < raw.length) {
      val s = raw(i)._1
      if (s.isEmpty) return false // normalize drops empty runs
      var j = 0
      while (j < s.length) {
        val c = s.charAt(j)
        if (c == ' ') {
          if (prevWs) return false
          prevWs = true
        } else if (Character.isWhitespace(c)) return false
        else prevWs = false
        j += 1
      }
      i += 1
    }
    !prevWs // no trailing whitespace
  }

  private def normalize(raw: Vector[(String, Flags)]): Vector[(String, Flags)] = {
    if (raw.nonEmpty && isNormalized(raw)) return raw
    val builders = raw.map(_ => new StringBuilder)
    var pendingSpaceRun = -1 // run index of the first ws char of the current ws stretch
    var emittedAny = false
    var ri = 0
    while (ri < raw.length) {
      val (s, _) = raw(ri)
      var ci = 0
      while (ci < s.length) {
        val c = s.charAt(ci)
        if (Character.isWhitespace(c)) {
          if (pendingSpaceRun < 0) pendingSpaceRun = ri
        } else {
          if (pendingSpaceRun >= 0 && emittedAny) {
            // attach the single collapsed space to the run where the
            // whitespace stretch began (matches source authoring:
            // "with <b>bold</b>" keeps the space in the plain run)
            builders(pendingSpaceRun).append(' ')
          }
          pendingSpaceRun = -1
          emittedAny = true
          builders(ri).append(c)
        }
        ci += 1
      }
      ri += 1
    }
    raw.indices.iterator
      .map(i => (builders(i).toString, raw(i)._2))
      .filter(_._1.nonEmpty)
      .toVector
  }

  /** Merge adjacent runs with identical formatting (DOM `<b>a</b><b>b</b>`). */
  private def mergeAdjacent(runs: Vector[(String, Flags)]): Vector[(String, Flags)] = {
    if (runs.isEmpty) return runs
    // fast path: nothing adjacent shares flags -> identity, no buffer
    var i = 1
    var needsMerge = false
    while (i < runs.length && !needsMerge) {
      if (runs(i)._2 == runs(i - 1)._2) needsMerge = true
      i += 1
    }
    if (!needsMerge) return runs
    // one builder per group of equal-flag runs: re-concatenating the merged
    // prefix for each run would copy O(chars²) on a wide paragraph
    val out = Vector.newBuilder[(String, Flags)]
    val sb = new java.lang.StringBuilder
    var flags = runs.head._2
    runs.foreach { case (t, f) =>
      if (f != flags) { out += ((sb.toString, flags)); sb.setLength(0); flags = f }
      sb.append(t)
    }
    out += ((sb.toString, flags))
    out.result()
  }

  /** Strip the bullet prefix from the combined text and re-map onto runs
    * (drop runs fully inside the prefix, trim the boundary run) —
    * text_processor.py:287-349 semantics.
    */
  private def stripPrefix(runs: Vector[(String, Flags)], nDrop: Int): Vector[(String, Flags)] = {
    if (nDrop <= 0) return runs
    var remaining = nDrop
    val out = new ArrayBuffer[(String, Flags)]()
    runs.foreach { case (t, f) =>
      if (remaining >= t.length) remaining -= t.length
      else if (remaining > 0) { out += ((t.substring(remaining), f)); remaining = 0 }
      else out += ((t, f))
    }
    out.toVector
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
    val raw = rawRuns(el, stopAtNestedLists)
    val normalized =
      if (verbatim) raw.map { case (t, f) => (t, f) }.filter(_._1.nonEmpty)
      else normalize(raw)
    val merged = mergeAdjacent(normalized)
    val joined = merged.map(_._1).mkString
    val clean0 = if (verbatim) joined.stripLineEnd else removeBulletChar(joined)
    if (clean0.trim.isEmpty) return None
    val finalRuns =
      if (verbatim) merged
      else stripPrefix(merged, joined.length - clean0.length)
    val base = Hints.ofPlainText(clean0)
    val hints = base.copy(
      bulletLevel = bulletLevel,
      isBullet = isBullet,
      isNumbered = isNumbered,
      // explicit list items / paragraphs are never headings; heading hints are
      // only assigned by the block walker for h3-h6 (X10 likely_heading path)
      likelyHeading = false
    )
    Some(Paragraph(clean0, finalRuns.map { case (t, f) => Run(t, f.bold, f.italic, f.link) }, hints))
  }
}
