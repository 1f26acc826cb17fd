package graft.model

/** Core data model (SURVEY.md §1.3).
  *
  * The input table shape is fixed by BASELINE.json `input_hint`:
  * `pages(url STRING, warc_ts TIMESTAMP, html BINARY, text STRING, lang STRING)`.
  * The output invariant is `extracted(url, extracted_text, spans, error)` with
  * byte-identical `extracted_text` per url (BASELINE.json north_rule).
  *
  * Reference shapes these mirror (reference = scottish-james/full-text-extractor-v6,
  * read-only at /root/reference):
  *  - Document           -> PageRow            (src/converters/file_converter.py:64-100)
  *  - content block      -> Block              (src/processors/powerpoint/content_extractor.py:17-100)
  *  - paragraph/run      -> Paragraph/Run      (src/processors/powerpoint/text_processor.py:26-62)
  *  - hyperlink record   -> LinkRow            (src/converters/hyperlink_extractor.py:61-65)
  *  - metadata record    -> DocMeta            (src/processors/powerpoint/metadata_extractor.py:58-109)
  *  - diagram score      -> PageScore          (src/processors/powerpoint/diagram_analyzer.py:456-463)
  */
final case class PageRow(
    url: String,
    warc_ts: java.sql.Timestamp,
    html: Array[Byte],
    text: String,
    lang: String
)

/** Char-offset span into `extracted_text`; sorted, non-overlapping. */
final case class Span(start: Int, end: Int, kind: String)

/** One formatted run inside a paragraph.
  * Mirrors text_processor.py:373-421 `{text, bold, italic, hyperlink}`. */
final case class Run(text: String, bold: Boolean, italic: Boolean, hyperlink: String) {
  def isEmpty: Boolean = text.isEmpty
}

/** Paragraph hints (text_processor.py:443-475 analog). List items carry
  * their bullet level and kind; `likelyHeading` marks h3-h6 paragraphs (the
  * X10 likely_heading path), never list items or plain paragraphs. */
final case class Hints(
    bulletLevel: Int,       // -1 = none (text_processor.py:254-285)
    isBullet: Boolean,
    isNumbered: Boolean,
    allCaps: Boolean,       // TextStats.isAllCaps of the clean text
    likelyHeading: Boolean
)

final case class Paragraph(cleanText: String, runs: Vector[Run], hints: Hints)

/** Tagged-union content block (Spark mapping: sparse struct with `blockType`
  * discriminator, SURVEY.md §1.3). Only the fields of the active variant are
  * populated. Roles mirror accessibility_extractor_v2.py:216-231. */
sealed trait Block { def role: String }
final case class TextBlock(role: String, paragraphs: Vector[Paragraph]) extends Block
final case class TableBlock(role: String, data: Vector[Vector[String]]) extends Block
final case class ImageBlock(role: String, altText: String, hyperlink: String) extends Block

/** One chart data series (content_extractor.py:395-404 `{name, values}`);
  * values kept verbatim as strings — the HTML source carries the literal
  * rendering, so no float re-format divergence can occur. */
final case class ChartSeries(name: String, values: Vector[String])

/** X14 chart block (content_extractor.py:368-421): chart type + title +
  * categories + series. HTML analog: `<figure data-chart="...">` with a
  * figcaption title and a data table (first row = categories header). */
final case class ChartBlock(role: String, chartType: String, title: String,
    categories: Vector[String], series: Vector[ChartSeries],
    hyperlink: String) extends Block

final case class PageBlocks(pageNumber: Int, blocks: Vector[Block])

/** Hyperlink relation row (hyperlink_extractor.py:61-65 analog). */
final case class LinkRow(url: String, page: Int, anchor: String, target: String)

/** Document metadata struct (HTML analog of metadata_extractor.py:58-109):
  * <title>, <meta name=author|description|keywords>, lang attr, page count.
  *
  * Date fields (metadata_extractor.py:154-190 analog) carry the HTML meta
  * VALUES VERBATIM — the reference explicitly does "no date format
  * conversion to maintain precision" (:164-168), so the faithful DOM port
  * passes `<meta>` date strings through untouched. `crawlDate` is the
  * always-available file-date analog, formatted from the page's `warc_ts`.
  * `layoutTypes` is the layout_types analog (:221-278): the deduplicated
  * ", "-joined list of structural landmark tags present in the document
  * (the reference joins a Python set — nondeterministic order; this port
  * uses first-appearance document order, the deterministic refinement). */
final case class DocMeta(
    title: String,
    author: String,
    description: String,
    keywords: String,
    htmlLang: String,
    pageCount: Int,
    createdDate: String = "",
    modifiedDate: String = "",
    crawlDate: String = "",
    layoutTypes: String = "",
    // round 4, VERDICT r3 missing #1 — the remaining reference core-props
    // breadth (metadata_extractor.py:111-152 subject/comments/category,
    // :185-190 last_modified_by/last_printed, :216-219 revision), from
    // their HTML analogs (dcterms.*/article:*/named metas), VERBATIM like
    // the dates. `revision` is extracted but NOT rendered in the comment —
    // matching the reference, which extracts it (:216-219) and renders
    // only the document/date/file/presentation sections (:371-375).
    subject: String = "",
    comments: String = "",
    category: String = "",
    lastModifiedBy: String = "",
    revision: String = "",
    lastPrinted: String = "",
    // file-section analogs (metadata_extractor.py:524-528 `Created With:` /
    // `Company:`): <meta name="generator"> is the standard HTML analog of
    // the creating application; og:site_name of the publishing org
    application: String = "",
    company: String = ""
)

object DocMeta {
  val empty: DocMeta = DocMeta("", "", "", "", "", 0)
}

/** Per-page structure score (diagram_analyzer.py:456-463 analog) + the A1
  * per-page role counts (powerpoint_processor.py:315-342 get_processing_summary). */
final case class PageScore(
    page: Int,
    totalScore: Int,
    probability: Int,
    reasons: Vector[String],
    blockCount: Int,
    bulletCount: Int,
    titleCount: Int,
    subtitleCount: Int,
    contentCount: Int
)

/** Result of extracting one page row. `error` non-null => fallback path was
  * used (file_converter.py:99-100 error-isolation semantics: never fail). */
final case class ExtractResult(
    extractedText: String,
    spans: Vector[Span],
    links: Vector[LinkRow],
    meta: DocMeta,
    scores: Vector[PageScore],
    error: String // null when clean
)
