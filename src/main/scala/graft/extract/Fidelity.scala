package graft.extract

import graft.model._

/** Reference formatting and lookup tables the kernel and the queries
  * share: the metadata comment block (M2) with its MB (X23), datetime and
  * 1-dp renderings, and the input priority table `q_priority_order` reads
  * (S2/O4).
  */
object Fidelity {

  /** S2/O4: input priority table (config.py:78-92). Unknown kinds are
    * absent, and `q_priority_order` filters them out
    * (folder_processor.py:102-114). */
  val processingPriorities: Map[String, Int] = Map(
    "pptx" -> 1, "ppt" -> 1, "docx" -> 2, "doc" -> 2, "pdf" -> 3,
    "xlsx" -> 4, "xls" -> 4, "html" -> 5, "htm" -> 5,
    "csv" -> 6, "json" -> 6, "xml" -> 6, "zip" -> 7)

  /** X23: MB formatting — bytes/1024^2 at 2 decimals
    * (metadata_extractor.py:504-505). */
  def formatMb(bytes: Long): Double =
    math.round(bytes / 1048576.0 * 100.0) / 100.0

  /** Python f-string `:.1f` formatting: round-half-even over the EXACT
    * binary double (ADVICE r2 — Java String.format %.1f is HALF_UP, so 0.25
    * rendered '0.3' here vs '0.2' in the reference's reason tags). */
  def pyFormat1f(d: Double): String =
    new java.math.BigDecimal(d)
      .setScale(1, java.math.RoundingMode.HALF_EVEN).toPlainString

  private val tsFormatter = java.time.format.DateTimeFormatter
    .ofPattern("yyyy-MM-dd HH:mm:ss", java.util.Locale.ROOT)
    .withZone(java.time.ZoneOffset.UTC)

  /** Render an epoch-micros instant the way the reference's metadata
    * comment renders datetimes (metadata_extractor.py:459-462 interpolates
    * the datetime object — Python str() of a naive UTC datetime is
    * `yyyy-MM-dd HH:mm:ss`, plus `.ffffff` whenever microsecond != 0, which
    * Python renders and a zero microsecond field omits). ADVICE r3: the
    * micros suffix was previously dropped unconditionally — latent on the
    * second-aligned synthetic corpus, wrong for any real warc_ts. */
  def formatEpochUs(us: Long): String = {
    val base = tsFormatter.format(java.time.Instant.ofEpochSecond(
      Math.floorDiv(us, 1000000L)))
    val micros = Math.floorMod(us, 1000000L)
    if (micros == 0L) base
    else base + "." + String.format(java.util.Locale.ROOT, "%06d", Long.box(micros))
  }

  /** M2 analog: metadata prepended as an HTML comment block
    * (metadata_extractor.py:334-380 structure, our document fields).
    * Section order mirrors the reference's four format_* passes (:371-375):
    * document fields in the reference's field order (:412-430 — Title,
    * Author, Subject, Keywords, Category, `Document Comments:`, Language;
    * our HTML-specific Description slots before Keywords), then dates
    * (`Created Date:`/`Last Modified:`/`Last Modified By:`/`Last Printed:`
    * like :459-467, plus `Crawl Date:` — the always-available web-corpus
    * file date), then file info (`File Size: X.XX MB`, :503-505 — X23
    * formatMb wired), then structure (page count + `Layout Types:` like
    * :549-550). Revision is extracted into DocMeta but not rendered — the
    * reference extracts it (:216-219) without a format_* line.
    * Deterministic; only non-empty fields are emitted. */
  def metadataComment(meta: DocMeta, sizeBytes: Long = -1L): String = {
    val sb = new StringBuilder("\n<!-- DOCUMENT METADATA:\n")
    def add(k: String, v: String): Unit =
      if (v != null && v.nonEmpty) sb.append(s"$k: $v\n")
    add("Title", meta.title)
    add("Author", meta.author)
    add("Subject", meta.subject)
    add("Description", meta.description)
    add("Keywords", meta.keywords)
    add("Category", meta.category)
    add("Document Comments", meta.comments)
    add("Language", meta.htmlLang)
    add("Created Date", meta.createdDate)
    add("Last Modified", meta.modifiedDate)
    add("Last Modified By", meta.lastModifiedBy)
    add("Last Printed", meta.lastPrinted)
    add("Crawl Date", meta.crawlDate)
    if (sizeBytes >= 0)
      sb.append("File Size: ")
        .append(String.format(java.util.Locale.ROOT, "%.2f", Double.box(formatMb(sizeBytes))))
        .append(" MB\n")
    add("Created With", meta.application)
    add("Company", meta.company)
    if (meta.pageCount > 0) sb.append(s"Pages: ${meta.pageCount}\n")
    add("Layout Types", meta.layoutTypes)
    sb.append("-->\n")
    sb.toString
  }
}
