package graft.plans

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** The page-tagged link lines of one markdown text in ONE pass —
  * `graft_paged_link_lines(text)` returns ARRAY<STRUCT<line_no: INT,
  * page: INT, line: STRING>> holding every line that contains `](`, in
  * order.
  *
  * Lines are the pieces of `split(text, "\n")` (trailing empty pieces
  * kept), `line_no` their 0-based position as `posexplode` numbers them.
  * `page` is the number on the last page-marker line at or above the line,
  * 1 if there is none. A marker is a line where `java.util.regex` `find()`
  * matches `^<!-- Page (\d+) -->$`, as `regexp_extract` matches it, and
  * whose number fits an INT; a larger number is not a marker, so the page
  * stays the previous one.
  *
  * A document's lines all sit in its one row, so this forward fill is a
  * per-row function: it needs no explode of every line and no shuffle by
  * url into a window. Null input null-propagates. */
case class PagedLinkLines(child: Expression)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {

  override def dataType: DataType = ArrayType(PagedLinkLines.lineType, containsNull = false)
  override def prettyName: String = "graft_paged_link_lines"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(s"$prettyName expects STRING, got $t")
  }

  override protected def nullSafeEval(input: Any): Any =
    PagedLinkLines.compute(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, e => s"${ev.value} = graft.plans.PagedLinkLines.compute($e);")

  override protected def withNewChildInternal(newChild: Expression): PagedLinkLines =
    copy(child = newChild)
}

object PagedLinkLines {
  val lineType: StructType = StructType(Seq(
    StructField("line_no", IntegerType, nullable = false),
    StructField("page", IntegerType, nullable = false),
    StructField("line", StringType, nullable = false)))

  private val marker = java.util.regex.Pattern.compile("^<!-- Page (\\d+) -->$")
  private val markerPrefix = "<!-- Page ".getBytes("UTF-8")

  private def startsWith(b: Array[Byte], from: Int, to: Int, p: Array[Byte]): Boolean =
    to - from >= p.length && {
      var i = 0
      while (i < p.length && b(from + i) == p(i)) i += 1
      i == p.length
    }

  private def hasLinkOpen(b: Array[Byte], from: Int, to: Int): Boolean = {
    var i = from
    while (i + 1 < to && !(b(i) == ']' && b(i + 1) == '(')) i += 1
    i + 1 < to
  }

  /** The marker's page number, or -1 when the line is no marker. Lines
    * are split on the byte '\n', which never occurs inside a multi-byte
    * UTF-8 sequence; only a line with the marker's prefix is decoded. */
  private def markerPage(b: Array[Byte], from: Int, to: Int): Int =
    if (!startsWith(b, from, to, markerPrefix)) -1
    else {
      val m = marker.matcher(new String(b, from, to - from, "UTF-8"))
      if (!m.find()) -1
      else try Integer.parseInt(m.group(1)) catch { case _: NumberFormatException => -1 }
    }

  def compute(text: UTF8String): ArrayData = {
    val b = text.getBytes
    val out = Vector.newBuilder[Any]
    var page = 1
    var lineNo = 0
    var from = 0
    while (from <= b.length) {
      var to = from
      while (to < b.length && b(to) != '\n') to += 1
      val p = markerPage(b, from, to)
      if (p >= 0) page = p
      else if (hasLinkOpen(b, from, to)) {
        val row = new GenericInternalRow(3)
        row.setInt(0, lineNo); row.setInt(1, page)
        row.update(2, UTF8String.fromBytes(java.util.Arrays.copyOfRange(b, from, to)))
        out += row
      }
      lineNo += 1
      from = to + 1
    }
    new GenericArrayData(out.result().toArray)
  }
}
