package graft.extract

import java.nio.charset.StandardCharsets
import scala.collection.mutable.ArrayBuffer
import graft.html.{Elem, HtmlParser, TreeCursor}
import graft.model._

/** The extraction kernel: one pure, deterministic, executor-local function
  * `extract(html: Array[Byte], text: String): ExtractResult` — the Spark-side
  * equivalent of the reference's whole per-file pipeline
  * (file_converter.py:64-100 -> powerpoint_processor.py:205-243), per
  * SURVEY.md §2.2 "the whole extraction kernel becomes one typed per-row
  * function". No subprocesses, no temp files (eliminates S5/S11 by design).
  *
  * Error semantics = R1 (file_converter.py:99-100): any document error
  * ([[Extractor.documentError]]) yields the `text` column as fallback
  * output plus a non-null `error`; the job never fails on a bad document.
  * Empty-parse fallback = R2 (powerpoint_processor.py:196-203): error
  * stays null, output falls back to the plain `text` column.
  */
object Extractor {

  /** `warcTsUs` = the page's warc_ts in epoch micros (Long.MinValue =
    * absent): surfaces as the `Crawl Date:` metadata-comment line, the
    * file-date analog of metadata_extractor.py:154-190 for web corpora.
    * `bodyOnly` = skip the prepended metadata comment and the appended
    * hyperlink/diagram sections (body markdown only — also the r1-shape
    * output, used by the bench to attribute section cost; HTML path only,
    * PDF output never carries the comment). */
  def extract(html: Array[Byte], text: String,
      warcTsUs: Long = Long.MinValue, bodyOnly: Boolean = false): ExtractResult = {
    try {
      if (html == null || html.isEmpty) return fallback(text, null)
      if (isPdf(html)) return graft.pdf.PdfExtract.extract(html, text, warcTsUs)
      val dom = HtmlParser.parse(new String(html, StandardCharsets.UTF_8))
      extractHtml(dom, text, html.length.toLong, warcTsUs, bodyOnly)
    } catch {
      case e: Throwable if documentError(e) =>
        fallback(text, s"${e.getClass.getSimpleName}: ${Option(e.getMessage).getOrElse("")}")
    }
  }

  /** Errors that belong to the document and become a fallback row: any
    * non-fatal exception, and a `StackOverflowError` (a page nested past
    * the thread stack). Other JVM errors (`OutOfMemoryError`,
    * `InternalError`), `InterruptedException` and `LinkageError` say
    * nothing about the page — a fallback row for them would make the same
    * url extract differently between runs — so they fail the task. */
  def documentError(t: Throwable): Boolean =
    scala.util.control.NonFatal(t) || t.isInstanceOf[StackOverflowError]

  def isPdf(bytes: Array[Byte]): Boolean =
    bytes.length >= 5 && bytes(0) == '%' && bytes(1) == 'P' &&
      bytes(2) == 'D' && bytes(3) == 'F' && bytes(4) == '-'

  private[graft] def fallback(text: String, error: String): ExtractResult = {
    val t = Option(text).getOrElse("")
    val spans = if (t.isEmpty) Vector.empty[Span] else Vector(Span(0, t.length, "fallback"))
    ExtractResult(t, spans, Vector.empty, DocMeta.empty, Vector.empty, error)
  }

  def extractHtml(dom: Elem, textFallback: String, sizeBytes: Long = -1L,
      warcTsUs: Long = Long.MinValue, bodyOnly: Boolean = false): ExtractResult = {
    val meta0 = metadataOf(dom)
    val body = dom.find("body").getOrElse(dom)
    // readability-style root preference: <main> / <article> when present
    val contentRoot =
      body.find("main").orElse(body.find("article")).getOrElse(body)
    val pageEls = collectPages(contentRoot)
    val pages: Vector[PageBlocks] =
      if (pageEls.nonEmpty)
        pageEls.zipWithIndex.map { case (el, i) => PageBlocks(i + 1, BlockWalker.walk(el)) }
      else Vector(PageBlocks(1, BlockWalker.walk(contentRoot)))

    val meta = meta0.copy(pageCount = pages.size,
      crawlDate = if (warcTsUs == Long.MinValue) ""
                  else Fidelity.formatEpochUs(warcTsUs),
      layoutTypes = layoutTypesOf(body))
    val (bodyText, bodySpans) = assemble(pages)
    // R2 strategy fallback: rich parse produced nothing -> plain text
    // column. "Nothing" = no span beyond the page markers assemble always
    // emits (round-5 review: the old bodyText.isEmpty test could never
    // fire — markers made the string non-empty even for a block-less doc,
    // leaving the documented fallback unreachable).
    if (bodySpans.forall(_.kind == "page_marker")) {
      val fb = fallback(textFallback, null)
      return fb.copy(meta = meta)
    }
    val links = collectLinks(pages)
    val scores = StructureScore.allPages(pages)
    if (bodyOnly)
      return ExtractResult(bodyText, bodySpans, links, meta, scores, null)

    // Final document assembly mirrors the reference's converted-output shape:
    //  1. metadata comment PREPENDED (metadata_extractor.py:334-380, M2)
    //  2. body markdown
    //  3. hyperlinks section appended (file_converter.py:179-190, W2/D3)
    //  4. diagram-analysis report appended with "\n\n"
    //     (powerpoint_processor.py:237-239 + diagram_analyzer.py:104-117)
    val sb = new StringBuilder
    val spans = Vector.newBuilder[Span]
    val metaComment = Fidelity.metadataComment(meta, sizeBytes)
    sb.append(metaComment)
    spans += Span(0, metaComment.length, "meta_comment")
    val off = metaComment.length
    sb.append(bodyText)
    bodySpans.foreach(s => spans += Span(s.start + off, s.end + off, s.kind))
    val linkSection = Links.formatHyperlinksSection(links)
    if (linkSection.nonEmpty) {
      val st = sb.length
      sb.append(linkSection)
      spans += Span(st, sb.length, "links_section")
    }
    val diag = StructureScore.diagramSection(scores)
    if (diag.nonEmpty) {
      val st = sb.length
      sb.append("\n\n").append(diag)
      spans += Span(st, sb.length, "diagram_section")
    }
    ExtractResult(sb.toString, spans.result(), links, meta, scores, null)
  }

  /** Multi-page docs: <section class="page"> elements (shallowest wins);
    * the analog of the reference's slide explode (F2). */
  private def collectPages(root: Elem): Vector[Elem] = {
    val out = new ArrayBuffer[Elem]()
    val cur = new TreeCursor(root)
    while (cur.depth > 0) {
      cur.nextChild() match {
        case null => cur.ascend()
        case e: Elem =>
          if (e.tag == "section" && hasClassToken(e, "page")) out += e
          else cur.descend(e)
        case _ => ()
      }
    }
    out.toVector
  }

  private def hasClassToken(e: Elem, token: String): Boolean =
    e.attr("class").split("\\s+").contains(token)

  /** Document assembly (markdown_converter.py:14-70, X15): page markers
    * exactly `\n<!-- Page N -->\n` (the reference's Slide marker, :28, with
    * our page container word), parts joined with "\n\n", empty parts
    * filtered. Span offsets are tracked during assembly — sorted and
    * non-overlapping by construction.
    */
  private def assemble(pages: Vector[PageBlocks]): (String, Vector[Span]) = {
    val sb = new StringBuilder
    val spans = Vector.newBuilder[Span]
    var first = true
    def appendPart(part: String, kind: String): Unit = {
      if (part.nonEmpty) {
        if (!first) sb.append("\n\n")
        first = false
        val start = sb.length
        sb.append(part)
        spans += Span(start, sb.length, kind)
      }
    }
    pages.foreach { page =>
      appendPart(s"\n<!-- Page ${page.pageNumber} -->\n", "page_marker")
      page.blocks.foreach { b =>
        val md = Markdown.blockToMarkdown(b)
        if (md.nonEmpty) appendPart(md, spanKind(b))
      }
    }
    (sb.toString, spans.result())
  }

  private def spanKind(b: Block): String = b match {
    case t: TextBlock =>
      if (t.role == "title") "title"
      else if (t.role == "subtitle") "subtitle"
      else if (t.paragraphs.exists(p => p.hints.isBullet || p.hints.isNumbered)) "list"
      else if (t.paragraphs.exists(_.hints.likelyHeading)) "heading"
      else "paragraph"
    case _: TableBlock => "table"
    case _: ImageBlock => "image"
    case _: ChartBlock => "chart"
  }

  /** Links relation: per-paragraph run merge by target in run order (W3,
    * hyperlink_extractor.py:72-116), then keep-longest dedup per
    * (target, page) (D2, :172-195). Image-block hyperlinks contribute with
    * the alt text as anchor (the reference's click-action links analog).
    */
  private def collectLinks(pages: Vector[PageBlocks]): Vector[LinkRow] = {
    val raw = new ArrayBuffer[LinkRow]()
    pages.foreach { page =>
      page.blocks.foreach {
        case t: TextBlock =>
          t.paragraphs.foreach { para =>
            // merge run texts sharing the same target, preserving run order
            val merged = scala.collection.mutable.LinkedHashMap.empty[String, StringBuilder]
            para.runs.foreach { r =>
              if (r.hyperlink.nonEmpty && r.text.nonEmpty)
                merged.getOrElseUpdate(r.hyperlink, new StringBuilder).append(r.text)
            }
            merged.foreach { case (target, anchor) =>
              raw += LinkRow("", page.pageNumber, anchor.toString, target)
            }
          }
        case i: ImageBlock if i.hyperlink.nonEmpty =>
          raw += LinkRow("", page.pageNumber, i.altText, i.hyperlink)
        case c: ChartBlock if c.hyperlink.nonEmpty && c.title.nonEmpty =>
          // chart click-action analog: the chart title is the anchor
          raw += LinkRow("", page.pageNumber, c.title, c.hyperlink)
        case _ => ()
      }
    }
    Links.dedupKeepLongest(raw.toSeq)
  }

  /** M1 analog (metadata_extractor.py:58-109 + 111-152 + 154-190 +
    * 216-219): <title>, <meta name=author|description|keywords>, html lang
    * attribute, the date metas, and the core-props breadth fields
    * (subject/comments/category/last_modified_by/revision/last_printed).
    * All values pass through VERBATIM (the reference does "no date format
    * conversion to maintain precision", :164-168 — same policy for every
    * field here). Precedence (first-listed wins, matching the reference's
    * core-props-first reads):
    *   created:  <meta property="article:published_time"> >
    *             <meta name="date"> > <meta name="dcterms.created">
    *   modified: <meta property="article:modified_time"> >
    *             <meta http-equiv="last-modified"> >
    *             <meta name="dcterms.modified">
    *   subject:  <meta name="subject"> > <meta name="dcterms.subject">
    *   category: <meta property="article:section"> > <meta name="category">
    *   last_modified_by: <meta name="last-modified-by"> >
    *             <meta name="dcterms.contributor">
    *   comments / revision / last_printed: <meta name="comments|revision|
    *             last-printed"> (single-source) */
  private def metadataOf(dom: Elem): DocMeta = {
    val htmlEl = dom.find("html")
    val head = dom.find("head")
    val title = head.flatMap(_.find("title")).orElse(dom.find("title"))
      .map(t => t.rawText.trim.replaceAll("\\s+", " ")).getOrElse("")
    var author = ""; var description = ""; var keywords = ""
    var comments = ""; var revision = ""; var lastPrinted = ""
    var application = ""; var company = ""
    // ranked candidates: value + precedence slot (lower = stronger)
    final class Ranked {
      var v = ""; private var rank = Int.MaxValue
      def offer(r: Int, x: String): Unit =
        if (x.nonEmpty && r < rank) { v = x; rank = r }
    }
    val created = new Ranked; val modified = new Ranked
    val subject = new Ranked; val category = new Ranked
    val lastModifiedBy = new Ranked
    val metaScope = head.getOrElse(dom)
    (Iterator.single(metaScope) ++ metaScope.descendants).foreach { e =>
      if (e.tag == "meta") {
        val name = e.attr("name").toLowerCase(java.util.Locale.ROOT)
        val prop = e.attr("property").toLowerCase(java.util.Locale.ROOT)
        val equiv = e.attr("http-equiv").toLowerCase(java.util.Locale.ROOT)
        val content = e.attr("content")
        name match {
          case "author"              => if (author.isEmpty) author = content
          case "description"         => if (description.isEmpty) description = content
          case "keywords"            => if (keywords.isEmpty) keywords = content
          case "comments"            => if (comments.isEmpty) comments = content
          case "revision"            => if (revision.isEmpty) revision = content
          case "last-printed"        => if (lastPrinted.isEmpty) lastPrinted = content
          case "generator"           => if (application.isEmpty) application = content
          case "date"                => created.offer(1, content)
          case "dcterms.created"     => created.offer(2, content)
          case "dcterms.modified"    => modified.offer(2, content)
          case "subject"             => subject.offer(0, content)
          case "dcterms.subject"     => subject.offer(1, content)
          case "category"            => category.offer(1, content)
          case "last-modified-by"    => lastModifiedBy.offer(0, content)
          case "dcterms.contributor" => lastModifiedBy.offer(1, content)
          case _                     => ()
        }
        prop match {
          case "article:published_time" => created.offer(0, content)
          case "article:modified_time"  => modified.offer(0, content)
          case "article:section"        => category.offer(0, content)
          case "og:site_name"           => if (company.isEmpty) company = content
          case _                        => ()
        }
        if (equiv == "last-modified") modified.offer(1, content)
      }
    }
    DocMeta(title, author, description, keywords,
      htmlEl.map(_.attr("lang")).getOrElse(""), 0,
      createdDate = created.v, modifiedDate = modified.v,
      subject = subject.v, comments = comments, category = category.v,
      lastModifiedBy = lastModifiedBy.v, revision = revision,
      lastPrinted = lastPrinted, application = application, company = company)
  }

  /** Structural-landmark tags present in the body, deduplicated, joined
    * ", " in first-appearance document order — the DOM analog of the
    * reference's layout_types summary (metadata_extractor.py:221-278,
    * `', '.join(set(layout_names))` made deterministic). */
  private val landmarkTags = Set("nav", "header", "main", "article",
    "section", "aside", "table", "figure", "form", "footer")

  private[graft] def layoutTypesOf(body: Elem): String = {
    val seen = scala.collection.mutable.LinkedHashSet.empty[String]
    (Iterator.single(body) ++ body.descendants).foreach { e =>
      if (landmarkTags.contains(e.tag)) seen += e.tag
    }
    seen.mkString(", ")
  }
}
