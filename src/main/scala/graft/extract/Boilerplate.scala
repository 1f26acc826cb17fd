package graft.extract

import graft.html.{Elem, TextNode, TreeCursor}

/** Boilerplate-vs-content classification for DOM blocks — the web analog of
  * the reference's meaningless-shape filter (content_extractor.py:255-300, P3)
  * using the Boilerpipe-style word/link-density math the reference applies in
  * its text-density scorer (diagram_analyzer.py:584-618, A5).
  *
  * Deterministic rules (order matters):
  *  1. tag in {nav, footer, aside} -> boilerplate (structural furniture)
  *  2. class/id contains a furniture token (nav, menu, footer, sidebar,
  *     breadcrumb, cookie, banner, advert/ad, social, share, related,
  *     comment, pagination, skip) -> boilerplate
  *  3. link-density rule: for container blocks, if >50% of the subtree's
  *     visible characters sit inside <a> AND the subtree has <50 words,
  *     it is link furniture -> boilerplate
  */
object Boilerplate {
  private val boilerTags = Set("nav", "footer", "aside")
  private val furnitureToken =
    ("(?i)(?:^|[\\s_-])(?:nav|navbar|menu|footer|sidebar|breadcrumbs?|cookie|banner|" +
      "advert(?:isement)?|ads?|social|share|sharing|related|comments?|pagination|skip)(?:$|[\\s_-])").r
  private val containerTags = Set("div", "section", "ul", "ol", "table", "header")
  /** the link-density rule looks at no more words than this */
  private final val WordLimit = 50

  /** Link-density counts of one container subtree: visible chars, visible
    * chars under an `<a>` inside the subtree, and words (whitespace-separated
    * runs within each text node); `words == WordLimit` means "at least". */
  private final class Counts(val chars: Int, val linked: Int, val words: Int)

  /** Classifies the elements of one DOM walk. Rule 3 needs the counts of a
    * container's whole subtree, and the walk asks for every container of a
    * nested chain. A count traversal stops once it has seen 50 words, but
    * that alone leaves a chain over fewer than 50 words quadratic in its
    * depth (each level re-walks the whole chain below it). So each
    * traversal also memoizes the containers inside it: those whose subtree
    * it finished (under 50 words) and those it proved to hold 50 words or
    * more; later traversals stop at a memoized container, and a chain costs
    * O(depth) in all. A subtree's counts do not depend on where it sits (an
    * `<a>` applies its link context when its own subtree completes), so the
    * memo holds for the whole walk; the DOM must not change during it.
    * Traversals use an explicit stack, so any nesting depth is safe. */
  final class Classifier {
    private val memo = new java.util.IdentityHashMap[Elem, Counts]()

    def isBoilerplate(el: Elem): Boolean = {
      if (boilerTags.contains(el.tag)) return true
      if (el.attrs.nonEmpty) {
        val marker = el.attr("class") + " " + el.attr("id")
        if (marker.trim.nonEmpty && furnitureToken.findFirstIn(marker).isDefined)
          return true
      }
      if (containerTags.contains(el.tag)) {
        val c = counts(el)
        // rule 3: >50% of the visible chars inside <a>, and under 50 words
        if (c.chars > 0 && c.linked.toDouble / c.chars > 0.5 && c.words < WordLimit)
          return true
      }
      false
    }

    // per open frame of a count traversal: chars, linked chars, and the
    // traversal's word count when the frame opened
    private var chars = new Array[Int](16)
    private var linked = new Array[Int](16)
    private var wordsAtOpen = new Array[Int](16)

    /** The counts of `root`'s subtree, in one traversal that stops once 50
      * words are seen (past that the link-density rule cannot fire). */
    private def counts(root: Elem): Counts = {
      val known = memo.get(root)
      if (known != null) return known
      var words = 0
      val cur = new TreeCursor(root)
      chars(0) = 0; linked(0) = 0; wordsAtOpen(0) = 0
      while (cur.depth > 0 && words < WordLimit) {
        val d = cur.depth - 1
        cur.nextChild() match {
          case null =>
            val e = cur.ascend()
            // an <a> links every visible char below it
            val ownLinked = if (e.tag == "a") chars(d) else linked(d)
            if (d == 0 || containerTags.contains(e.tag)) {
              val c = new Counts(chars(d), ownLinked, words - wordsAtOpen(d))
              if (containerTags.contains(e.tag)) memo.put(e, c)
              if (d == 0) return c
            }
            chars(d - 1) += chars(d)
            linked(d - 1) += ownLinked
          case t: TextNode =>
            val v = t.value
            var i = 0
            var inWord = false
            while (i < v.length && words < WordLimit) {
              if (!Character.isWhitespace(v.charAt(i))) {
                chars(d) += 1
                if (!inWord) words += 1
                inWord = true
              } else inWord = false
              i += 1
            }
          case e: Elem =>
            e.tag match {
              case "script" | "style" | "template" | "noscript" => ()
              case tag =>
                val c = if (containerTags.contains(tag)) memo.get(e) else null
                if (c != null) {
                  chars(d) += c.chars
                  linked(d) += c.linked
                  words += c.words
                } else {
                  if (d + 1 == chars.length) {
                    chars = java.util.Arrays.copyOf(chars, chars.length * 2)
                    linked = java.util.Arrays.copyOf(linked, linked.length * 2)
                    wordsAtOpen = java.util.Arrays.copyOf(wordsAtOpen, wordsAtOpen.length * 2)
                  }
                  cur.descend(e)
                  chars(d + 1) = 0
                  linked(d + 1) = 0
                  wordsAtOpen(d + 1) = words
                }
            }
        }
      }
      // stopped at the word limit: every open container whose own words
      // reached it holds at least that many
      val atLimit = new Counts(0, 0, WordLimit)
      while (cur.depth > 0) {
        val d = cur.depth - 1
        val e = cur.ascend()
        if (words - wordsAtOpen(d) >= WordLimit && containerTags.contains(e.tag))
          memo.put(e, atLimit)
      }
      atLimit
    }
  }
}
