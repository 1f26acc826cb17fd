package graft.pdf

import scala.collection.mutable.ArrayBuffer
import graft.model._
import graft.extract.Links

/** PDF branch of the extraction dispatch (S4 magic-byte sniff -> S7 embedded
  * parser), reproducing the reference's PDF pipeline
  * (file_converter.py:143-222: text conversion, then
  * extract_pdf_hyperlinks + format_hyperlinks_section appended):
  *  - text: glyph-ordered page text with column detection
  *  - links: /Annots URI + GoTo annotations; anchor = words inside the
  *    rect inflated ±10pt, fallback "Link on page N" / "Go to page N"
  *    (hyperlink_extractor.py:224-271, X18)
  *  - regex URL pass over page text with ±50-char context window, skipped
  *    when the URL was already found via annotations on that page
  *    (hyperlink_extractor.py:273-302, X17/D4); context >100 chars or empty
  *    -> "URL on page N"
  *  - hyperlink section appended to the text (W2/D3 formatting)
  */
object PdfExtract {
  // exact pattern of hyperlink_extractor.py:277
  private val UrlPattern = """https?://(?:[-\w.]|(?:%[\da-fA-F]{2}))+""".r

  /** `warcTsUs` = the page's warc_ts in epoch micros (Long.MinValue =
    * absent) — fills meta.crawl_date exactly like the HTML path (round-5
    * review: the PDF branch previously dropped the timestamp, leaving
    * crawl_date empty for the whole PDF slice of a corpus; the field is
    * meta-only for PDFs — their text output carries no metadata comment,
    * so goldens are unaffected). */
  def extract(bytes: Array[Byte], textFallback: String,
      warcTsUs: Long = Long.MinValue): ExtractResult = {
    try {
      val (pages, info) = PdfParser.parseWithInfo(bytes)
      if (pages.isEmpty || pages.forall(_.words.isEmpty))
        return graft.extract.Extractor.fallback(textFallback, null)

      val links = new ArrayBuffer[LinkRow]()
      val pageTexts = pages.zipWithIndex.map { case (page, i) =>
        val pageNum = i + 1
        val text = ContentText.pageText(page)

        // annotation links (X18 rect-based anchor lookup)
        page.annots.foreach { a =>
          val (x0, y0, x1, y1) = a.rect
          val rx0 = x0 - 10; val ry0 = y0 - 10; val rx1 = x1 + 10; val ry1 = y1 + 10
          // word vertical extent: descent 0.2em below baseline, ascent 0.8em above
          val inRect = ContentText.orderWords(
            page.words.filter(w =>
              w.x < rx1 && w.x + w.w > rx0 && w.y - w.h * 0.2 < ry1 && w.y + w.h * 0.8 > ry0),
            page.width).flatten
          val anchorText = inRect.map(_.text).mkString(" ").trim
          if (a.uri.nonEmpty) {
            val anchor = if (anchorText.nonEmpty) anchorText else s"Link on page $pageNum"
            links += LinkRow("", pageNum, anchor, a.uri)
          } else if (a.destPage > 0) {
            val anchor = if (anchorText.nonEmpty) anchorText else s"Go to page ${a.destPage}"
            links += LinkRow("", pageNum, anchor, s"#page=${a.destPage}")
          }
        }

        // regex URL pass (X17), D4 dedup against annotation links of this page
        UrlPattern.findAllIn(text).toVector.distinct.foreach { url =>
          val already = links.exists(l => l.target == url && l.page == pageNum)
          if (!already) {
            val pos = text.indexOf(url)
            val start = math.max(0, pos - 50)
            val end = math.min(text.length, pos + url.length + 50)
            var context = text.substring(start, end).replace(url, "").trim
            if (context.length > 100 || context.isEmpty) context = s"URL on page $pageNum"
            links += LinkRow("", pageNum, context, url)
          }
        }
        text
      }

      // assemble: page texts joined "\n\n", hyperlink section appended
      val sb = new StringBuilder
      val spans = Vector.newBuilder[Span]
      pageTexts.foreach { t =>
        if (t.nonEmpty) {
          if (sb.nonEmpty) sb.append("\n\n")
          val start = sb.length
          sb.append(t)
          spans += Span(start, sb.length, "pdf_page")
        }
      }
      val section = Links.formatHyperlinksSection(links.toSeq)
      if (section.nonEmpty) {
        val start = sb.length
        sb.append(section)
        spans += Span(start, sb.length, "links_section")
      }
      // M1 metadata from the document information dictionary (trailer /Info).
      // /CreationDate and /ModDate pass through VERBATIM (D:YYYYMMDD...
      // strings) — same no-conversion policy as the HTML date metas
      // (metadata_extractor.py:164-168).
      val meta = DocMeta(
        title = info.getOrElse("Title", ""),
        author = info.getOrElse("Author", ""),
        description = "",
        keywords = info.getOrElse("Keywords", ""),
        htmlLang = "",
        pageCount = pages.size,
        createdDate = info.getOrElse("CreationDate", ""),
        modifiedDate = info.getOrElse("ModDate", ""),
        // round 4: /Subject maps to the dedicated subject field (was
        // previously shoehorned into description before DocMeta grew the
        // core-props breadth fields)
        subject = info.getOrElse("Subject", ""),
        crawlDate = if (warcTsUs == Long.MinValue) ""
                    else graft.extract.Fidelity.formatEpochUs(warcTsUs))
      ExtractResult(sb.toString, spans.result(), Links.dedupKeepLongest(links.toSeq),
        meta, Vector.empty, null)
    } catch {
      case e: Throwable if graft.extract.Extractor.documentError(e) =>
        graft.extract.Extractor.fallback(textFallback,
          s"pdf: ${e.getClass.getSimpleName}: ${Option(e.getMessage).getOrElse("")}")
    }
  }
}
