package graft.extract

import scala.collection.mutable
import graft.model.LinkRow

/** Hyperlink relation semantics, ported from
  * src/converters/hyperlink_extractor.py:
  *  - per-paragraph run merge (runs sharing a target concatenated in run
  *    order) — :72-116 (W3)
  *  - keep-longest-anchor dedup per (target, page) — :172-195 (D2)
  *  - markdown section with per-page grouping, case-insensitive URL dedup and
  *    the longer-and-contains / placeholder replacement rule — :310-386 (W2/D3)
  * Behavior is pinned by the reference's own tests
  * (tests/test_hyperlink_extractor.py:48-129).
  */
object Links {

  /** D2: keep the longest anchor text per (target, page); drop empty anchors.
    * Insertion order of first-seen (target,page) keys is preserved, matching
    * the reference's dict-fold (:172-195). */
  def dedupKeepLongest(links: Seq[LinkRow]): Vector[LinkRow] = {
    val best = mutable.LinkedHashMap.empty[(String, Int), LinkRow]
    links.foreach { l =>
      val text = l.anchor.trim
      if (text.nonEmpty) {
        val key = (l.target, l.page)
        best.get(key) match {
          case Some(prev) if text.length <= prev.anchor.length => ()
          case _ => best(key) = l.copy(anchor = text)
        }
      }
    }
    best.values.toVector
  }

  private val placeholderPrefixes = List("Link on page", "URL on page", "Go to page")

  /** Port of `format_hyperlinks_section` (hyperlink_extractor.py:310-386)
    * for a document: a "Hyperlinks in Document" section with one
    * "Page N" heading per page. Returns "" when no valid links. */
  def formatHyperlinksSection(links: Seq[LinkRow]): String = {
    if (links.isEmpty) return ""
    // page -> ordered link list (insertion order), with per-page URL tracking.
    // A lowercased-url -> index map gives O(1) dedup lookup (the naive
    // indexWhere scan is O(links^2) on link-heavy pages — measured quadratic
    // at 20k links/page).
    val pages = mutable.LinkedHashMap.empty[Int, mutable.ArrayBuffer[(String, String)]] // (text, url)
    val urlIdx = mutable.HashMap.empty[(Int, String), Int]
    links.foreach { l =>
      val page = l.page
      if (page != 0) {
        val text = Option(l.anchor).getOrElse("").trim
        val rawUrl = Option(l.target).getOrElse("")
        if (rawUrl.nonEmpty && text.nonEmpty) {
          val url = UrlFix.fixUrl(rawUrl)
          val bucket = pages.getOrElseUpdate(page, mutable.ArrayBuffer.empty)
          val key = url.toLowerCase(java.util.Locale.ROOT)
          urlIdx.get((page, key)) match {
            case None =>
              urlIdx((page, key)) = bucket.length
              bucket += ((text, url))
            case Some(existingIdx) =>
              val (oldText, oldUrl) = bucket(existingIdx)
              val better = (text.length > oldText.length && text.contains(oldText)) ||
                placeholderPrefixes.exists(oldText.startsWith)
              if (better) bucket(existingIdx) = (text, oldUrl)
          }
        }
      }
    }
    if (!pages.values.exists(_.nonEmpty)) return ""
    val sb = new StringBuilder("\n\n## Hyperlinks in Document\n")
    pages.keys.toVector.sorted.foreach { page =>
      val ls = pages(page)
      if (ls.nonEmpty) {
        sb.append(s"\n### Page $page\n")
        ls.foreach { case (text, url) => sb.append(s"* [$text]($url)\n") }
      }
    }
    sb.toString
  }
}
