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
  * The struct is the committed row after its (url, warc_ts, lang) keys, so
  * this module alone declares the committed layout. Besides the kernel
  * result, `meta` carries `file_size`: the html's byte length as BIGINT,
  * NULL when html is NULL (what `length(html)` gives), so a derived query
  * reads the page size from the committed row instead of re-reading the
  * page. */
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
    ExtractDoc.toRow(graft.extract.Extractor.extract(htmlBytes, textStr, tsUs),
      if (html == null) null else java.lang.Long.valueOf(htmlBytes.length.toLong))
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

  val metaType: StructType = StructType(Seq(
    s("title"), s("author"), s("subject"), s("description"), s("keywords"),
    s("category"), s("comments"), s("html_lang"), i("page_count"),
    s("created_date"), s("modified_date"), s("last_modified_by"),
    s("revision"), s("last_printed"), s("application"), s("company"),
    s("crawl_date"), s("layout_types"),
    StructField("file_size", LongType, nullable = true)))

  val schema: StructType = StructType(Seq(
    s("extracted_text"),
    StructField("spans", ArrayType(spanType, containsNull = false), nullable = false),
    StructField("links", ArrayType(linkType, containsNull = false), nullable = false),
    StructField("meta", metaType, nullable = false),
    StructField("scores", ArrayType(scoreType, containsNull = false), nullable = false),
    StructField("error", StringType, nullable = true)))

  /** ExtractResult -> InternalRow, written directly (no encoder).
    * `fileSize` is `meta.file_size`: the html's byte length, null without
    * html. */
  def toRow(r: graft.model.ExtractResult, fileSize: java.lang.Long): GenericInternalRow = {
    def u(x: String) = UTF8String.fromString(if (x == null) "" else x)
    val m = r.meta
    val meta = new GenericInternalRow(Array[Any](
      u(m.title), u(m.author), u(m.subject), u(m.description), u(m.keywords),
      u(m.category), u(m.comments), u(m.htmlLang), m.pageCount,
      u(m.createdDate), u(m.modifiedDate), u(m.lastModifiedBy),
      u(m.revision), u(m.lastPrinted), u(m.application), u(m.company),
      u(m.crawlDate), u(m.layoutTypes), fileSize))
    new GenericInternalRow(Array[Any](
      u(r.extractedText),
      new GenericArrayData(r.spans.map { sp =>
        new GenericInternalRow(Array[Any](sp.start, sp.end, u(sp.kind)))
      }.toArray[Any]),
      new GenericArrayData(r.links.map { l =>
        new GenericInternalRow(Array[Any](l.page, u(l.anchor), u(l.target)))
      }.toArray[Any]),
      meta,
      new GenericArrayData(r.scores.map { sc =>
        new GenericInternalRow(Array[Any](sc.page, sc.totalScore, sc.probability,
          sc.blockCount, sc.bulletCount, sc.titleCount, sc.subtitleCount,
          sc.contentCount))
      }.toArray[Any]),
      if (r.error == null) null else u(r.error)))
  }
}
