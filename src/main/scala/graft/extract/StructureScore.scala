package graft.extract

import graft.model._

/** Per-page structure ("diagram-likeness") scoring — the HTML analog of
  * src/processors/powerpoint/diagram_analyzer.py. The spatial/EMU rules have
  * no DOM equivalent; the text-driven rules port with their exact thresholds:
  *  - text density (avg words/para <= 5; >=70% -> +10, >=50% -> +5)  :584-618 (A5)
  *  - flow/action vocab (+20/+10; actions>=3 -> +10)                  :620-651 (A6)
  *  - negative indicators (>=2 paras >20 words -> -15;
  *    >80% bullets -> -10)                                            :653-695 (A7)
  *  - block-variety analog of shape variety (>=3 types -> +15,
  *    >=2 -> +10)                                                     :550-582 (A4)
  *  - score -> probability bucketing (95/75/40/10); report >= 40      :697-706 (A8)
  */
object StructureScore {
  private val flowKeywords =
    Array("start", "begin", "end", "finish", "process", "step", "decision")
  private val actionWords =
    Array("create", "update", "check", "verify", "send", "receive", "analyze")

  private val ArrowPattern =
    java.util.regex.Pattern.compile("[\u2190\u2191\u2192\u2193\u2194\u21d0\u21d2\u21d4\u25b6\u25ba]|<->|->|=>")

  /** Arrow tokens in flowed text — the A2 connector-arrow analog. The regex
    * alternation is longest-first at each position, so "<->" never double-
    * counts its "->" suffix. */
  def countArrows(s: String): Int = {
    if (s == null || s.isEmpty) return 0
    val m = ArrowPattern.matcher(s)
    var n = 0
    while (m.find()) n += 1
    n
  }

  /** Char size of a block — the 1-D "area" analog used for positions and
    * the size-consistency bonus. */
  private def blockChars(b: Block): Int = b match {
    case t: TextBlock  => t.paragraphs.iterator.map(_.cleanText.length).sum
    case t: TableBlock => t.data.iterator.map(_.iterator.map(_.length).sum).sum
    case i: ImageBlock => i.altText.length
    case c: ChartBlock =>
      c.title.length +
        c.series.iterator.map(s => s.name.length + s.values.iterator.map(_.length).sum).sum
  }

  /** Rule-by-rule port of `score_slide_for_diagram`
    * (diagram_analyzer.py:391-463), with the reference's exact reason-tag
    * format (`layout:grid_layout`, `variety:15`, ...). Connector ARROWS
    * use the glyph analog (countArrows); standalone connector LINES are
    * the one remaining no-DOM-analog skip (flowed HTML has no free-
    * floating line shapes), so `connector_lines` never fires and
    * line_ratio reduces to arrows/shapes.
    *
    * Positional analog (A3/A7, SURVEY §1.3): flowed text is 1-D, so
    * vertical position = char offset * 5715 EMU (an ~80-char line ≈ 457K
    * EMU of slide height) and horizontal position = bullet indent level *
    * 457200 EMU (a half-inch tab stop). The reference's EMU thresholds
    * then apply VERBATIM: 100K rounding for alignment buckets, 1M ranges
    * for spread, 500K left-variance for the single-column penalty. */
  def scorePage(page: PageBlocks): PageScore = {
    val blocks = page.blocks
    val textBlocks = blocks.collect { case t: TextBlock => t }
    val reasons = Vector.newBuilder[String]
    var score = 0

    // positioned "elements" mirror the reference's shapes: every paragraph
    // is one element (text boxes), non-text blocks are one element each
    val elems: Vector[(Int, Long)] = blocks.flatMap {
      case t: TextBlock =>
        t.paragraphs.iterator.filter(_.cleanText.nonEmpty).map(p =>
          (p.cleanText.length,
            math.max(p.hints.bulletLevel, 0).toLong * 457200L)).toVector
      case b =>
        val c = blockChars(b)
        if (c > 0) Vector((c, 0L)) else Vector.empty
    }
    val positions: Vector[(Long, Long)] = {
      var off = 0L
      elems.map { case (chars, left) =>
        val top = off * 5715L
        off += chars
        (top, left)
      }
    }

    // Rule 1 (A2 analog): connector ARROWS exist in flowed text as arrow
    // glyphs/digraphs (→, ⇒, ->, => ...) — counted across paragraph text
    // (diagram_analyzer.py:407-413). Standalone connector LINES have no
    // DOM analog and stay 0 (documented skip).
    val arrows = {
      var n = 0
      textBlocks.foreach(_.paragraphs.foreach { p =>
        n += StructureScore.countArrows(p.cleanText)
      })
      n
    }
    if (arrows > 0) { score += 20; reasons += s"block_arrows:$arrows" }

    // Rule 2: line-to-shape ratio, lines = 0 so ratio = arrows/shapes
    // (diagram_analyzer.py:416-421)
    if (elems.nonEmpty) {
      val lineRatio = arrows.toDouble / elems.size
      if (lineRatio >= 0.5) {
        score += 15
        // Python :.1f is round-half-even (ADVICE r2) — ported via pyFormat1f
        reasons += "line_ratio:" + Fidelity.pyFormat1f(lineRatio)
      }
    }

    // Rule 3 (A3): spatial layout (diagram_analyzer.py:515-548)
    if (positions.size >= 3) {
      val tops = positions.map(_._1)
      val lefts = positions.map(_._2)
      val uniqueTops = tops.map(t => math.round(t / 100000.0)).distinct.size
      val uniqueLefts = lefts.map(l => math.round(l / 100000.0)).distinct.size
      if (uniqueTops >= 2 && uniqueLefts >= 2) {
        score += 15; reasons += "layout:grid_layout"
      } else if (tops.max - tops.min > 1000000L && lefts.max - lefts.min > 1000000L) {
        score += 10; reasons += "layout:spread_layout"
      } // linear_layout scores 0 and (like the reference) gets no tag
    }

    // Rule 4 (A4): variety = kind diversity + size consistency (:550-582)
    var varietyScore = 0
    if (blocks.size >= 2) {
      val kinds = blocks.map {
        case _: TextBlock  => "text"
        case _: TableBlock => "table"
        case _: ImageBlock => "image"
        case _: ChartBlock => "chart"
      }.distinct
      if (kinds.size >= 3) varietyScore += 15
      else if (kinds.size >= 2) varietyScore += 10
      val sizes = elems.map(_._1)
      if (sizes.size >= 3) {
        val avg = sizes.sum.toDouble / sizes.size
        if (avg > 0 && sizes.iterator.map(s => math.abs(s - avg) / avg).max < 0.5)
          varietyScore += 5 // consistent sizing: process-flow indicator
      }
    }
    if (varietyScore > 0) { score += varietyScore; reasons += s"variety:$varietyScore" }

    // Rule 5 (A5): text density — share of blocks whose avg words/para <= 5
    var textScore = 0
    if (textBlocks.nonEmpty) {
      val shortCount = textBlocks.count { b =>
        val paras = b.paragraphs.filter(_.cleanText.nonEmpty)
        paras.nonEmpty && {
          val totalWords = paras.map(p => TextStats.wordCount(p.cleanText)).sum
          totalWords.toDouble / paras.size <= 5
        }
      }
      val ratio = shortCount.toDouble / textBlocks.size
      if (ratio >= 0.7) textScore = 10
      else if (ratio >= 0.5) textScore = 5
    }
    if (textScore > 0) { score += textScore; reasons += s"short_text:$textScore" }

    // Rule 6 (A6): flow vocabulary over concatenated lowercase text (:624-651)
    val allText = {
      val sb = new StringBuilder
      textBlocks.foreach(_.paragraphs.foreach(p =>
        sb.append(' ').append(p.cleanText.toLowerCase(java.util.Locale.ROOT))))
      sb.toString
    }
    var flowScore = 0
    val flowMatches = flowKeywords.count(allText.contains)
    val actionMatches = actionWords.count(allText.contains)
    if (flowMatches >= 2) flowScore += 20
    else if (flowMatches >= 1) flowScore += 10
    if (actionMatches >= 3) flowScore += 10
    // structural bonus: shapes connected by lines/arrows (:648-650)
    if (elems.size >= 3 && arrows > 0) flowScore += 15
    if (flowScore > 0) { score += flowScore; reasons += s"flow_pattern:$flowScore" }

    // Rule 7 (A7): negative indicators (:653-695), all three legs — long
    // paragraphs, bullet-heavy content, and the single-column left-variance
    // penalty via the positional analog
    var negScore = 0
    var longTextCount = 0
    var bulletCount = 0
    var totalParas = 0
    textBlocks.foreach(_.paragraphs.foreach { p =>
      if (p.cleanText.nonEmpty) {
        totalParas += 1
        if (TextStats.wordCount(p.cleanText) > 20) longTextCount += 1
        if (p.hints.isBullet) bulletCount += 1
      }
    })
    if (longTextCount >= 2) negScore -= 15
    if (totalParas > 0 && bulletCount.toDouble / totalParas > 0.8) negScore -= 10
    if (positions.size >= 3) {
      val lefts = positions.map(_._2)
      if (lefts.max - lefts.min < 500000L) negScore -= 10 // single column
    }
    if (negScore < 0) { score += negScore; reasons += s"negatives:$negScore" }

    // A8: probability bucketing (diagram_analyzer.py:697-706)
    val probability =
      if (score >= 60) 95
      else if (score >= 40) 75
      else if (score >= 20) 40
      else 10

    PageScore(page.pageNumber, score, probability, reasons.result(),
      blockCount = blocks.size, bulletCount = bulletCount,
      titleCount = textBlocks.count(_.role == "title"),
      subtitleCount = textBlocks.count(_.role == "subtitle"),
      contentCount = textBlocks.count(_.role == "content"))
  }

  /** All page scores (the sidecar carries every page; the reference's
    * report threshold — probability >= 40, diagram_analyzer.py:80,93 — is a
    * downstream filter, see SparkEntry "x_scores_reportable"). */
  def allPages(pages: Seq[PageBlocks]): Vector[PageScore] =
    pages.iterator.map(scorePage).toVector

  /** Diagram-analysis report rendered into the output document
    * (diagram_analyzer.py:104-117: probability/score/reasons per reported
    * page plus component counts and the analysis-method line). Returns ""
    * when no page reaches the 40% report threshold. */
  def diagramSection(scores: Seq[PageScore]): String = {
    val reportable = scores.filter(_.probability >= 40)
    if (reportable.isEmpty) return ""
    val sb = new StringBuilder("## DIAGRAM ANALYSIS\n\n")
    sb.append("**Pages with potential diagrams:**\n\n")
    reportable.foreach { s =>
      sb.append(s"- **Page ${s.page}**: ${s.probability}% probability ")
      sb.append(s"(Score: ${s.totalScore}) - ${s.reasons.mkString(", ")}\n")
      sb.append(s"  - Blocks: ${s.blockCount}, Bullets: ${s.bulletCount}\n")
      sb.append("  - Analysis method: structured_data_analysis\n\n")
    }
    sb.toString
  }
}
