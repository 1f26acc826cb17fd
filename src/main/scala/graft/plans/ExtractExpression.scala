package graft.plans

import org.apache.spark.sql.catalyst.expressions.{Expression, TernaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** The HOT-PATH extraction expression: the whole kernel result as ONE
  * Catalyst struct, shown in plans as `graft_extract_doc(html, text,
  * warc_ts)`. `Pipeline.extracted` builds it as a typed Column through
  * `GraftBridge.column` (there is no SQL function name to call). It
  * replaces a Scala UDF, removing the case-class-encoder serialize hop per
  * row on the hottest path; null handling is explicit below instead of
  * buried in the encoder.
  *
  * The kernel is a black box to codegen (`CodegenFallback`), but staying an
  * `Expression` keeps it inside the Project: column pruning, pushdown of
  * surrounding filters, and WholeStageCodegen of neighbors all hold.
  *
  * Null semantics (R1 error isolation, file_converter.py:99-100): null html
  * falls back to the text column; both null -> empty output; null warc_ts ->
  * no crawl date. The expression itself NEVER returns null or throws.
  *
  * Besides the kernel result, the struct carries `file_size`: the html's
  * byte length as BIGINT, NULL when html is NULL (what `length(html)`
  * gives), so a derived query reads the page size from the committed row
  * instead of re-reading the page. */
case class ExtractDoc(first: Expression, second: Expression, third: Expression)
    extends TernaryExpression with CodegenFallback {

  override def dataType: DataType = ExtractDoc.schema
  override def nullable: Boolean = false
  override def prettyName: String = "graft_extract_doc"

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    val tsOk = third.dataType == TimestampType || third.dataType == LongType ||
      third.dataType == TimestampNTZType
    if (first.dataType == BinaryType && second.dataType == StringType && tsOk)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
      s"$prettyName expects (BINARY, STRING, TIMESTAMP|LONG), got " +
        s"(${first.dataType}, ${second.dataType}, ${third.dataType})")
  }

  override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any = {
    val html = first.eval(input)
    val text = second.eval(input)
    val ts = third.eval(input)
    val htmlBytes = if (html == null) Array.emptyByteArray else html.asInstanceOf[Array[Byte]]
    val textStr = if (text == null) "" else text.toString
    val tsUs = if (ts == null) Long.MinValue else ts.asInstanceOf[Long]
    val row = ExtractDoc.toRow(graft.extract.Extractor.extract(htmlBytes, textStr, tsUs))
    if (html != null) row.setLong(23, htmlBytes.length.toLong)
    row
  }

  override protected def withNewChildrenInternal(
      f: Expression, s: Expression, t: Expression): ExtractDoc =
    copy(first = f, second = s, third = t)
}

object ExtractDoc {
  private def s(n: String) = StructField(n, StringType, nullable = false)
  private def i(n: String) = StructField(n, IntegerType, nullable = false)

  val spanType: StructType = StructType(Seq(i("start"), i("end"), s("kind")))
  val linkType: StructType = StructType(Seq(i("page"), s("anchor"), s("target")))
  val scoreType: StructType = StructType(Seq(i("page"), i("total_score"),
    i("probability"), i("block_count"), i("bullet_count"),
    i("n_titles"), i("n_subtitles"), i("n_content")))

  val schema: StructType = StructType(Seq(
    s("extracted_text"),
    StructField("spans", ArrayType(spanType, containsNull = false), nullable = false),
    StructField("links", ArrayType(linkType, containsNull = false), nullable = false),
    s("title"), s("author"), s("description"), s("keywords"), s("html_lang"),
    i("page_count"),
    s("created_date"), s("modified_date"), s("crawl_date"), s("layout_types"),
    StructField("scores", ArrayType(scoreType, containsNull = false), nullable = false),
    StructField("error", StringType, nullable = true),
    // round-4 M1 breadth fields (appended to keep earlier ordinals stable)
    s("subject"), s("comments"), s("category"),
    s("last_modified_by"), s("revision"), s("last_printed"),
    s("application"), s("company"),
    StructField("file_size", LongType, nullable = true)))

  /** ExtractResult -> InternalRow, written directly (no encoder);
    * `file_size` is left NULL. */
  def toRow(r: graft.model.ExtractResult): GenericInternalRow = {
    def u(x: String) = UTF8String.fromString(if (x == null) "" else x)
    val row = new GenericInternalRow(24)
    row.update(0, u(r.extractedText))
    row.update(1, new GenericArrayData(r.spans.map { sp =>
      val x = new GenericInternalRow(3)
      x.setInt(0, sp.start); x.setInt(1, sp.end); x.update(2, u(sp.kind)); x
    }.toArray[Any]))
    row.update(2, new GenericArrayData(r.links.map { l =>
      val x = new GenericInternalRow(3)
      x.setInt(0, l.page); x.update(1, u(l.anchor)); x.update(2, u(l.target)); x
    }.toArray[Any]))
    row.update(3, u(r.meta.title)); row.update(4, u(r.meta.author))
    row.update(5, u(r.meta.description)); row.update(6, u(r.meta.keywords))
    row.update(7, u(r.meta.htmlLang)); row.setInt(8, r.meta.pageCount)
    row.update(9, u(r.meta.createdDate)); row.update(10, u(r.meta.modifiedDate))
    row.update(11, u(r.meta.crawlDate)); row.update(12, u(r.meta.layoutTypes))
    row.update(13, new GenericArrayData(r.scores.map { sc =>
      val x = new GenericInternalRow(8)
      x.setInt(0, sc.page); x.setInt(1, sc.totalScore); x.setInt(2, sc.probability)
      x.setInt(3, sc.blockCount); x.setInt(4, sc.bulletCount)
      x.setInt(5, sc.titleCount); x.setInt(6, sc.subtitleCount)
      x.setInt(7, sc.contentCount); x
    }.toArray[Any]))
    row.update(14, if (r.error == null) null else u(r.error))
    row.update(15, u(r.meta.subject)); row.update(16, u(r.meta.comments))
    row.update(17, u(r.meta.category)); row.update(18, u(r.meta.lastModifiedBy))
    row.update(19, u(r.meta.revision)); row.update(20, u(r.meta.lastPrinted))
    row.update(21, u(r.meta.application)); row.update(22, u(r.meta.company))
    row
  }
}
