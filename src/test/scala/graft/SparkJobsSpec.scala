package graft

import java.nio.file.Files
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll
import graft.lake.{ResumableRun, SnapshotLog}
import graft.pipeline.Pipeline
import scala.jdk.CollectionConverters._

/** End-to-end Spark job tests: resumable lake runs, salting,
  * derived queries. One shared local session (startup is the expensive part). */
class SparkJobsSpec extends AnyFunSuite with BeforeAndAfterAll {

  /** The scans of an executed plan, inside adaptive query stages too. */
  private object ScanNodes extends org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper {
    def fileScans(plan: org.apache.spark.sql.execution.SparkPlan) =
      collect(plan) { case f: org.apache.spark.sql.execution.FileSourceScanExec => f }
  }

  private var spark: SparkSession = _

  override def beforeAll(): Unit = {
    spark = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
  }
  override def afterAll(): Unit = if (spark != null) spark.stop()

  private def tmp(): String =
    Files.createTempDirectory("graft-test").toString

  /** `f` with the given session confs set, restored afterwards. */
  private def withConf[T](kv: (String, String)*)(f: => T): T = {
    val saved = kv.map { case (k, _) => k -> spark.conf.getOption(k) }
    kv.foreach { case (k, v) => spark.conf.set(k, v) }
    try f finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None)    => spark.conf.unset(k)
    }
  }

  /** Spark jobs started while `f` ran. */
  private def jobsStarted(f: => Unit): Int = {
    val sc = spark.sparkContext
    val jobs = new java.util.concurrent.atomic.AtomicInteger()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    org.apache.spark.ListenerDrain(sc)
    sc.addSparkListener(listener)
    try f finally { org.apache.spark.ListenerDrain(sc); sc.removeSparkListener(listener) }
    jobs.get
  }

  /** The sf0.001 test tables (TESTDATA.md). */
  private val sf0001 = "/root/testdata/sf0.001"

  private def pages = Pipeline.pages(spark, sf0001).cache()

  /** The typed-Dataset formulation of the `pages` table: the independent
    * reference the DSv2 connector is cross-checked against. Catalyst cannot
    * prune or push through the map, so it is not a production path. */
  private def pagesTyped(sfDir: String) = {
    val sp = spark
    import sp.implicits._
    spark.read.parquet(s"$sfDir/documents.parquet")
      .select($"doc_id", $"text", $"lang")
      .as[(Long, String, String)]
      .map { case (id, text, lang) => graft.synth.Synth.pageFor(id, text, lang) }
      .toDF()
  }

  /** Per-bucket (url, lang, warc_ts) min/max of a table's committed rows
    * by an independent groupBy aggregation, in the manifest's form (warc_ts
    * in this session's UTC); buckets without rows have no entry. */
  private def aggregatedStats(dir: String): Map[Int, graft.lake.BucketStats] =
    spark.read.option("basePath", s"$dir/data").parquet(new SnapshotLog(dir).committedPaths(): _*)
      .groupBy(col("bucket"))
      .agg(min(col("url")), max(col("url")), min(col("lang")), max(col("lang")),
        date_format(min(col("warc_ts")), "yyyy-MM-dd HH:mm:ss"),
        date_format(max(col("warc_ts")), "yyyy-MM-dd HH:mm:ss"))
      .collect().map(r => r.getInt(0) -> graft.lake.BucketStats(r.getString(1),
        r.getString(2), r.getString(3), r.getString(4), r.getString(5), r.getString(6)))
      .toMap

  /** Commits bucket `b` of the default `nBuckets` spec, which `dir` does
    * not list yet, from a plain parquet write of its extracted rows: INT96
    * `warc_ts`, as tables staged before `MicrosParquet` hold it. */
  private def commitPlainBucket(dir: String, nBuckets: Int, b: Int): Unit = {
    val p = pages
    val bucket = Pipeline.saltedBucket(Pipeline.hotDomains(p).keySet, nBuckets)
    val log = new SnapshotLog(dir)
    val staged = log.stagingRoot()
    Pipeline.extracted(p.filter(bucket === b)).write.parquet(staged.toString)
    log.commit(Map(b -> staged), Map.empty, ResumableRun.readTable(spark, dir).schema)
  }

  test("resumable run: killed run resumes at bucket granularity, result equals full run") {
    val p = pages
    val nBuckets = 8

    // reference: one uninterrupted run
    val fullDir = tmp()
    val full = ResumableRun.run(spark, p, fullDir, nBuckets)
    assert(full == (0 until nBuckets).toVector)
    val fullRows = ResumableRun.readTable(spark, fullDir)
      .select("url", "extracted_text").collect()
      .map(r => (r.getString(0), r.getString(1))).toMap

    // "killed" run: only 3 buckets commit, then the process dies
    val dir = tmp()
    val first = ResumableRun.run(spark, p, dir, nBuckets, maxBuckets = 3)
    assert(first.size == 3)
    assert(new SnapshotLog(dir).committedBuckets() == first.toSet)

    // resume: processes exactly the remaining buckets
    val second = ResumableRun.run(spark, p, dir, nBuckets)
    assert(second.size == nBuckets - 3)
    assert((first ++ second).toSet == (0 until nBuckets).toSet)

    // third run: nothing left to do
    assert(ResumableRun.run(spark, p, dir, nBuckets).isEmpty)

    // content identical to the uninterrupted run (byte-identical per url)
    val resumedRows = ResumableRun.readTable(spark, dir)
      .select("url", "extracted_text").collect()
      .map(r => (r.getString(0), r.getString(1))).toMap
    assert(resumedRows == fullRows)
    assert(resumedRows.size == 500)

    // time travel: snapshot v1 (the "killed" run, one snapshot) sees
    // exactly the first 3 committed buckets' rows; latest (v2) sees all 500
    assert(new SnapshotLog(dir).latestVersion() == 2)
    val asOf1 = ResumableRun.readTable(spark, dir, version = Some(1))
    val expected1 = ResumableRun.readTable(spark, dir)
      .withColumn("b", Pipeline.saltedBucket(Pipeline.hotDomains(p).keySet, nBuckets))
      .filter(col("b").isin(first.map(Integer.valueOf): _*))
      .count()
    assert(asOf1.count() == expected1)
    assert(asOf1.count() < 500)
  }

  test("salted bucketing bounds hot-domain skew") {
    val p = pages
    val nBuckets = 16
    val hot = Pipeline.hotDomains(p)
    assert(hot.keySet == Set("big.example.com", "hub.example.org"),
      s"expected the synth hot domains, got $hot")
    // with salting: no bucket holds more than ~3x the mean
    val withB = p.withColumn("b", Pipeline.saltedBucket(hot.keySet, nBuckets))
    val sizes = withB.groupBy("b").count().collect().map(_.getLong(1))
    val mean = sizes.sum.toDouble / nBuckets
    assert(sizes.max < mean * 3, s"salted max=${sizes.max} mean=$mean")
    // without salting (domain hash only): the hot domains pile into 2 buckets
    val noSalt = p.withColumn("b", Pipeline.saltedBucket(Set.empty, nBuckets))
    val worst = noSalt.groupBy("b").count().collect().map(_.getLong(1)).max
    assert(worst > sizes.max, "salting should strictly reduce the max bucket")
  }

  test("two-pass markdown link re-extraction agrees with the kernel links table") {
    val extracted = Pipeline.extracted(pages).cache()
    val kernelLinks = Pipeline.linksTable(extracted)
      .filter(col("url").endsWith("/doc-7")) // 3-page doc, plain anchors
      .select("page", "anchor", "target").collect()
      .map(r => (r.getInt(0), r.getString(1), r.getString(2))).toSet
    // the appended "## Hyperlinks in Document" section re-lists body links
    // (the reference's app_v5 rescan sees them too); compare body-only here
    val twoPass = graft.ops.TwoPass.linksFromMarkdown(
        extracted.filter(col("url").endsWith("/doc-7"))
          .withColumn("extracted_text",
            substring_index(col("extracted_text"), "\n\n## Hyperlinks in Document", 1)))
      .select("page", "anchor", "target").collect()
      .map(r => (r.getInt(0), r.getString(1), r.getString(2))).toSet
    assert(kernelLinks.nonEmpty)
    assert(kernelLinks == twoPass)
  }

  test("x_meta_summary equals an independent recomputation (get_metadata_summary analog)") {
    val dir = "/root/testdata/sf0.001"
    val out = SparkEntry.queries("x_meta_summary")(spark, dir).collect()
      .map(r => r.getString(0) -> r).toMap
    assert(out.nonEmpty)
    // independent recomputation from the extracted table + page bytes,
    // driver-side (reference semantics: metadata_extractor.py:585-599 —
    // presence flags, 'Unknown' application default, Python round(x, 2)
    // i.e. HALF_EVEN on the binary double)
    val meta = Pipeline.extractedCommitted(spark, dir)
      .select(col("url"), col("meta.title"), col("meta.author"),
        col("meta.page_count"), col("meta.keywords"), col("meta.application"))
      .collect().map(r => r.getString(0) -> r).toMap
    val sizes = Pipeline.pages(spark, dir).select(col("url"), length(col("html")))
      .collect().map(r => r.getString(0) -> r.getInt(1)).toMap
    assert(out.keySet == meta.keySet)
    val flagCounts = Array(0, 0, 0) // has_title / has_author / has_keywords
    out.foreach { case (url, r) =>
      val m = meta(url)
      assert(r.getBoolean(1) == (m.getString(1) != ""), s"has_title($url)")
      assert(r.getBoolean(2) == (m.getString(2) != ""), s"has_author($url)")
      assert(r.getInt(3) == m.getInt(3), s"slide_count($url)")
      assert(r.getBoolean(6) == (m.getString(4) != ""), s"has_keywords($url)")
      // verbatim passthrough: the reference's 'Unknown' .get default is
      // dead code (the key is always initialized to '')
      assert(r.getString(7) == m.getString(5), s"application($url)")
      val expMb = new java.math.BigDecimal(sizes(url) / 1048576.0)
        .setScale(2, java.math.RoundingMode.HALF_EVEN).doubleValue()
      assert(math.abs(r.getDouble(8) - expMb) < 1e-9, s"file_size_mb($url)")
      if (r.getBoolean(1)) flagCounts(0) += 1
      if (r.getBoolean(2)) flagCounts(1) += 1
      if (r.getBoolean(6)) flagCounts(2) += 1
    }
    // at least one presence flag must show BOTH polarities in the corpus,
    // or the gate can't distinguish flags from constants (every synthetic
    // doc has a title, so the title flag alone is degenerate-true)
    assert(flagCounts.exists(c => c > 0 && c < out.size),
      s"all presence flags degenerate: ${flagCounts.mkString(",")} of ${out.size}")
  }

  /** Direct `Extractor.extract` calls over the sf0.001 pages: the
    * driver-side reference the x_* queries over the committed table are
    * pinned to, one result per page url. */
  private lazy val kernelRefs: Seq[(String, graft.model.ExtractResult)] =
    pages.select("url", "html", "text", "warc_ts").collect().toSeq.map { r =>
      r.getString(0) -> graft.extract.Extractor.extract(r.getAs[Array[Byte]](1),
        r.getString(2), r.getTimestamp(3).getTime * 1000L)
    }

  /** `query` at sf0.001 equals `want` as a row multiset, column names and
    * values both; the query must read the committed table through its
    * manifest file index. */
  private def assertQueryRows(query: String, columns: Seq[String], want: Seq[Seq[Any]]): Unit = {
    val df = SparkEntry.queries(query)(spark, "/root/testdata/sf0.001")
    val scans = df.queryExecution.sparkPlan.collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec => f.relation.location
    }
    assert(scans.nonEmpty && scans.forall(_.getClass.getSimpleName == "ManifestFileIndex"),
      s"$query scans $scans")
    assert(df.columns.toSeq == columns, s"$query columns")
    def key(row: Seq[Any]) = row.map(String.valueOf).mkString("\u0001")
    val got = df.collect().toSeq.map(r => key(r.toSeq)).sorted
    assert(want.nonEmpty, s"$query: empty reference")
    val same = got == want.map(key).sorted
    assert(same, s"$query: ${got.size} rows, reference ${want.size}")
  }

  test("x_links equals the links of direct Extractor.extract calls") {
    assertQueryRows("x_links", Seq("url", "page", "anchor", "target"),
      kernelRefs.flatMap { case (url, r) => r.links.map(l => Seq(url, l.page, l.anchor, l.target)) })
  }

  test("x_scores equals the page scores of direct Extractor.extract calls") {
    assertQueryRows("x_scores",
      Seq("url", "page", "total_score", "probability", "n_titles", "n_subtitles", "n_content"),
      kernelRefs.flatMap { case (url, r) => r.scores.map(sc => Seq(url, sc.page, sc.totalScore,
        sc.probability, sc.titleCount, sc.subtitleCount, sc.contentCount)) })
  }

  test("x_scores_reportable equals the direct page scores with probability >= 40") {
    val want = kernelRefs.flatMap { case (url, r) => r.scores.collect {
      case sc if sc.probability >= 40 => Seq(url, sc.page, sc.totalScore, sc.probability) } }
    assert(want.size < kernelRefs.map(_._2.scores.size).sum, "no score falls below the cut")
    assertQueryRows("x_scores_reportable", Seq("url", "page", "total_score", "probability"), want)
  }

  test("x_meta equals the metadata of direct Extractor.extract calls") {
    def round1(x: Double) =
      new java.math.BigDecimal(x).setScale(1, java.math.RoundingMode.HALF_UP).doubleValue()
    val want = kernelRefs.map { case (url, r) =>
      val m = r.meta
      val issues = Seq(m.title.isEmpty -> "No document title",
        m.author.isEmpty -> "No author information",
        (m.pageCount == 0) -> "No slides detected").collect { case (true, t) => t }
      Seq(url, m.title, m.author, m.subject, m.keywords, m.category, m.comments,
        m.pageCount, m.createdDate, m.modifiedDate, m.lastModifiedBy, m.revision,
        m.lastPrinted, m.application, m.company, m.crawlDate, m.layoutTypes,
        round1(Seq(m.title.nonEmpty, m.author.nonEmpty, m.pageCount > 0).count(identity) / 3.0 * 100.0),
        issues.mkString("; "),
        if (m.keywords.isEmpty) "Add keywords to improve searchability" else "")
    }
    // some derived column must take more than one value, or the check
    // cannot tell the derivation from a constant
    assert(Seq(17, 18, 19).exists(i => want.map(_(i)).distinct.size > 1))
    assertQueryRows("x_meta", Seq("url", "title", "author", "subject", "keywords",
      "category", "comments", "page_count", "created_date", "modified_date",
      "last_modified_by", "revision", "last_printed", "application", "company",
      "crawl_date", "layout_types", "completeness", "issues", "recommendations"), want)
  }

  test("x_content_stats equals text statistics of direct Extractor.extract calls") {
    def count(re: String, t: String) = re.r.findAllMatchIn(t).size.toLong
    val want = kernelRefs.map { case (url, r) =>
      val t = r.extractedText
      Seq(url, t.codePointCount(0, t.length).toLong,
        t.split("\\s+").count(_.nonEmpty).toLong,
        t.split("\n", -1).length.toLong,
        count("(?m)^#{1,6} ", t),
        count("\\[([^\\]]+)\\]\\(([^)]+)\\)", t),
        count("(?m)^\\s*- ", t))
    }
    Seq(4, 5, 6).foreach(i => assert(want.exists(_(i) != 0L), s"column $i is 0 on every page"))
    assertQueryRows("x_content_stats",
      Seq("url", "chars", "words", "lines", "headers", "links", "bullets"), want)
  }

  /** The two-pass links of one markdown text, recomputed on the driver:
    * split into lines, forward-fill the number of the last page-marker line
    * (1 before any; a number past Int.MaxValue marks nothing), then every
    * markdown link of each line with its emphasis-stripped anchor, skipping
    * empty parts and image pseudo-links. Rows are (url, page, anchor,
    * target). */
  private def twoPassLinks(url: String, text: String): Seq[Seq[Any]] = {
    val marker = java.util.regex.Pattern.compile("^<!-- Page (\\d+) -->$")
    val link = "\\[([^\\]]+)\\]\\(([^)]+)\\)".r
    val lines = text.split("\n", -1).toSeq
    val pages = lines.scanLeft(1) { (page, line) =>
      val m = marker.matcher(line)
      if (m.find()) m.group(1).toIntOption.getOrElse(page) else page
    }.tail
    lines.zip(pages).flatMap { case (line, page) =>
      link.findAllMatchIn(line).map(m => (m.group(1).replaceAll("\\*{1,3}", ""), m.group(2)))
        .collect { case (a, t) if a.nonEmpty && t.nonEmpty && t != "image" => Seq(url, page, a, t) }
    }
  }

  test("x_links_twopass equals a driver-side two-pass over the direct kernel texts") {
    val want = kernelRefs.flatMap { case (url, r) => twoPassLinks(url, r.extractedText) }
    assert(want.exists(_(1).asInstanceOf[Int] > 1), "no link below a page marker past page 1")
    assertQueryRows("x_links_twopass", Seq("url", "page", "anchor", "target"), want)
  }

  test("page markers: a number past Int.MaxValue marks nothing; a link right under a marker takes its page") {
    val sp = spark
    import sp.implicits._
    val html = "<html><body><p>&lt;!-- Page 2 --&gt;</p>" +
      "<p>See <a href=\"https://a.example/one\">one</a>.</p>" +
      "<p>&lt;!-- Page 99999999999 --&gt;</p>" +
      "<p>See <a href=\"https://a.example/two\">two</a>.</p></body></html>"
    val url = "https://hostile.example/p"
    val dir = tmp()
    ResumableRun.run(spark, Seq(graft.model.PageRow(url,
      java.sql.Timestamp.valueOf("2024-01-02 03:04:05"), html.getBytes("UTF-8"), "", "en")).toDF(),
      dir, nBuckets = 1)
    val table = ResumableRun.readTable(spark, dir)
    val text = table.select("extracted_text").head().getString(0)
    assert(text.split("\n").contains("<!-- Page 99999999999 -->"), text)
    val got = graft.ops.TwoPass.linksFromMarkdown(table)
      .select("url", "page", "anchor", "target").collect().toSeq.map(_.toSeq)
    assert(got.contains(Seq(url, 2, "two", "https://a.example/two")), got)
    assert(got.sortBy(_.mkString("\u0001")) == twoPassLinks(url, text).sortBy(_.mkString("\u0001")))
    // the kernel puts a blank line after every marker; a hand-built text
    // puts links directly under markers, one of them ending in "\r"
    val lines = "[a](x)\n<!-- Page 3 -->\n[b](y)\n<!-- Page 4 -->\r\n[c](z)\n" +
      "<!-- Page 2147483648 -->\n[d](w)\n"
    val direct = graft.ops.TwoPass.linksFromMarkdown(Seq(("u", lines)).toDF("url", "extracted_text"))
      .select("url", "page", "anchor", "target").collect().toSeq.map(_.toSeq)
    assert(direct == Seq(Seq("u", 1, "a", "x"), Seq("u", 3, "b", "y"), Seq("u", 4, "c", "z"),
      Seq("u", 4, "d", "w")), direct)
    assert(direct == twoPassLinks("u", lines))
  }

  test("graft_extract_doc Catalyst expression matches the kernel output") {
    val p = pages.limit(20)
    // direct kernel calls on the same rows — the ground truth the
    // expression must reproduce
    val rows = p.select("url", "html", "text", "warc_ts").collect().map { r =>
      (r.getString(0), r.getAs[Array[Byte]](1), r.getString(2),
        r.getTimestamp(3).getTime * 1000L)
    }
    // full-struct hot-path expression (what Pipeline.extracted plans):
    // kernel WITH warc_ts
    val viaDoc = Pipeline.extracted(p)
      .select("url", "extracted_text")
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    rows.foreach { case (url, html, text, tsUs) =>
      assert(viaDoc(url) == graft.extract.Extractor.extract(html, text, tsUs).extractedText,
        s"graft_extract_doc diverged for $url")
    }
    assert(viaDoc.size == 20)
  }

  test("graft_extract_doc null html / text / warc_ts follow the kernel fallbacks") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val page = pages.select("html", "text", "warc_ts").collect()
      .find { r =>
        val h = r.getAs[Array[Byte]](0)
        h != null && h.nonEmpty && !graft.extract.Extractor.isPdf(h)
      }.get
    val html = page.getAs[Array[Byte]](0)
    val text = page.getString(1)
    val ts = page.getTimestamp(2)
    val tsUs = ts.getTime * 1000L
    val schema = StructType(Seq(StructField("url", StringType),
      StructField("warc_ts", TimestampType), StructField("html", BinaryType),
      StructField("text", StringType), StructField("lang", StringType)))
    val in = spark.createDataFrame(java.util.Arrays.asList(
      Row("no-html", ts, null, text, "en"),
      Row("no-html-no-text", ts, null, null, "en"),
      Row("no-ts", null, html, text, "en"),
      Row("with-ts", ts, html, text, "en")), schema)
    val rows = Pipeline.extracted(in)
      .select(col("url"), col("extracted_text"), col("meta.crawl_date"), col("meta.file_size"))
      .collect()
    val out = rows.map(r => r.getString(0) -> (r.getString(1), r.getString(2))).toMap
    // the stored page size is the html's byte length, NULL without html
    val sizes = rows.map(r => r.getString(0) -> r.get(3)).toMap
    assert(sizes == Map("no-html" -> null, "no-html-no-text" -> null,
      "no-ts" -> html.length.toLong, "with-ts" -> html.length.toLong), sizes)
    val kernel = graft.extract.Extractor
    assert(out("no-html")._1 == kernel.extract(Array.empty[Byte], text, tsUs).extractedText)
    assert(out("no-html")._1 == text)
    assert(out("no-html-no-text")._1 == "")
    assert(out("no-ts")._1 == kernel.extract(html, text, Long.MinValue).extractedText)
    assert(out("no-ts")._2 == "" && !out("no-ts")._1.contains("Crawl Date"), out("no-ts"))
    // the same page with its warc_ts does carry the line, so the check above
    // is not vacuous
    assert(out("with-ts")._2.nonEmpty && out("with-ts")._1.contains("Crawl Date"), out("with-ts"))
  }

  test("DataSource V2 pages connector equals Pipeline.pages and prunes columns") {
    val dir = "/root/testdata/sf0.001"
    val dsv2 = spark.read.format("graft.sources.PagesDataSource")
      .option("path", dir).load()
    def key(df: org.apache.spark.sql.DataFrame) =
      df.selectExpr("url", "unix_micros(warc_ts) AS ts", "md5(html) AS h", "text", "lang")
        .collect().map(_.toSeq).toSet
    // cross-check against the INDEPENDENT typed-map formulation
    // (Pipeline.pages itself is the connector since round 4)
    assert(key(dsv2) == key(pagesTyped(dir)))
    // column pruning reaches the connector: html/text dropped from the scan
    val pruned = dsv2.select("url", "lang")
    val scanDesc = pruned.queryExecution.executedPlan.toString
    assert(scanDesc.contains("required=url,lang"), scanDesc)
    assert(pruned.count() == 500)
    // aggregates work over the connector
    val langs = dsv2.groupBy("lang").count().collect().map(_.getLong(1)).sum
    assert(langs == 500)
    // filters over the connector (evaluated by Spark after the scan) agree
    // with the same filters over the Dataset-map path
    val filtered = dsv2.filter(col("lang") === "en" &&
      col("url").startsWith("https://site-"))
    val expected = pagesTyped(dir)
      .filter(col("lang") === "en" && col("url").startsWith("https://site-"))
      .select("url").collect().map(_.getString(0)).toSet
    assert(filtered.select("url").collect().map(_.getString(0)).toSet == expected)
    assert(expected.nonEmpty)
  }

  test("the committed row schema: field order, types and nullability") {
    val schema = Pipeline.extracted(Pipeline.pages(spark, sf0001)).schema
    assert(schema.treeString.stripLineEnd ==
      """root
        | |-- url: string (nullable = true)
        | |-- warc_ts: timestamp (nullable = true)
        | |-- lang: string (nullable = true)
        | |-- extracted_text: string (nullable = false)
        | |-- spans: array (nullable = false)
        | |    |-- element: struct (containsNull = false)
        | |    |    |-- start: integer (nullable = false)
        | |    |    |-- end: integer (nullable = false)
        | |    |    |-- kind: string (nullable = false)
        | |-- links: array (nullable = false)
        | |    |-- element: struct (containsNull = false)
        | |    |    |-- page: integer (nullable = false)
        | |    |    |-- anchor: string (nullable = false)
        | |    |    |-- target: string (nullable = false)
        | |-- meta: struct (nullable = false)
        | |    |-- title: string (nullable = false)
        | |    |-- author: string (nullable = false)
        | |    |-- subject: string (nullable = false)
        | |    |-- description: string (nullable = false)
        | |    |-- keywords: string (nullable = false)
        | |    |-- category: string (nullable = false)
        | |    |-- comments: string (nullable = false)
        | |    |-- html_lang: string (nullable = false)
        | |    |-- page_count: integer (nullable = false)
        | |    |-- created_date: string (nullable = false)
        | |    |-- modified_date: string (nullable = false)
        | |    |-- last_modified_by: string (nullable = false)
        | |    |-- revision: string (nullable = false)
        | |    |-- last_printed: string (nullable = false)
        | |    |-- application: string (nullable = false)
        | |    |-- company: string (nullable = false)
        | |    |-- crawl_date: string (nullable = false)
        | |    |-- layout_types: string (nullable = false)
        | |    |-- file_size: long (nullable = true)
        | |-- scores: array (nullable = false)
        | |    |-- element: struct (containsNull = false)
        | |    |    |-- page: integer (nullable = false)
        | |    |    |-- total_score: integer (nullable = false)
        | |    |    |-- probability: integer (nullable = false)
        | |    |    |-- block_count: integer (nullable = false)
        | |    |    |-- bullet_count: integer (nullable = false)
        | |    |    |-- n_titles: integer (nullable = false)
        | |    |    |-- n_subtitles: integer (nullable = false)
        | |    |    |-- n_content: integer (nullable = false)
        | |-- error: string (nullable = true)""".stripMargin, schema.treeString)
  }

  test("pages connector sub-slices seed row groups for kernel parallelism") {
    val dir = "/root/testdata/sf0.001"
    // 500 seed rows at the 256-row default => 2 input partitions (round 4:
    // a single partition made small-corpus extraction single-threaded)
    val n = Pipeline.pages(spark, dir).rdd.getNumPartitions
    assert(n == 2, s"expected 2 slices for 500 rows @256, got $n")
  }

  test("bucketed tables co-locate the join: no Exchange on either side") {
    // the SCALE.md bucketing claim, demonstrated: two tables bucketBy'd on
    // the join key into the same bucket count join WITHOUT any shuffle —
    // the storage layout IS the partitioning (at 100 TB this is the
    // difference between a one-off layout cost and a per-query shuffle
    // of the fact table)
    val wh = tmp()
    spark.sql(s"CREATE DATABASE IF NOT EXISTS graft_bkt LOCATION '$wh'")
    try {
      spark.read.parquet("/root/testdata/sf0.001/orders.parquet")
        .write.bucketBy(8, "o_orderkey").sortBy("o_orderkey")
        .saveAsTable("graft_bkt.orders_b")
      spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
        .write.bucketBy(8, "l_orderkey").sortBy("l_orderkey")
        .saveAsTable("graft_bkt.lineitem_b")
      // hint("merge") keeps AQE from broadcasting the (tiny at test sf)
      // build side — at real scale both sides are fact-sized and SMJ is
      // what the bucketing exists for
      val j = spark.table("graft_bkt.orders_b").hint("merge")
        .join(spark.table("graft_bkt.lineitem_b"),
          col("o_orderkey") === col("l_orderkey"))
        .groupBy(col("o_orderpriority")).count()
      j.collect()
      val plan = j.queryExecution.executedPlan.toString
      assert(plan.contains("SortMergeJoin"), plan)
      assert(plan.contains("Bucketed: true"), plan)
      // neither join key is ever repartitioned — the bucketed layout IS the
      // partitioning (the only Exchange allowed is the groupBy above)
      assert(!plan.contains("Exchange hashpartitioning(o_orderkey") &&
        !plan.contains("Exchange hashpartitioning(l_orderkey"),
        s"bucketed join must not shuffle either side:\n$plan")
      // sanity: result matches the unbucketed computation
      val expected = spark.read.parquet("/root/testdata/sf0.001/orders.parquet")
        .join(spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet"),
          col("o_orderkey") === col("l_orderkey"))
        .groupBy(col("o_orderpriority")).count()
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(j.collect().map(r => r.getString(0) -> r.getLong(1)).toMap == expected)
    } finally {
      spark.sql("DROP TABLE IF EXISTS graft_bkt.orders_b")
      spark.sql("DROP TABLE IF EXISTS graft_bkt.lineitem_b")
      spark.sql("DROP DATABASE IF EXISTS graft_bkt")
    }
  }

  test("custom TopKPerKey operator matches the window formulation, without a Sort") {
    import org.apache.spark.sql.graftbridge.GraftBridge
    import org.apache.spark.sql.expressions.{Window => W}
    val orders = spark.read.parquet("/root/testdata/sf0.001/orders.parquet")
    val viaCustom = GraftBridge.topKPerKey(orders, Seq("o_custkey"), "o_totalprice", 3)
    // tie-safety: compare (custkey -> multiset of prices), not orderkeys
    val customSet = viaCustom.select("o_custkey", "o_totalprice").collect()
      .map(r => (r.getLong(0), r.getDouble(1))).groupBy(_._1)
      .view.mapValues(_.map(_._2).sorted.toSeq).toMap
    val w = W.partitionBy(col("o_custkey")).orderBy(col("o_totalprice").desc)
    val viaWindow = orders.withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 3).select("o_custkey", "o_totalprice").collect()
      .map(r => (r.getLong(0), r.getDouble(1))).groupBy(_._1)
      .view.mapValues(_.map(_._2).sorted.toSeq).toMap
    assert(customSet == viaWindow)
    // plan shape: map-side partial heap -> hash exchange -> final heap, and
    // NO Sort node (VERDICT r4 #5: at most k rows per key per input
    // partition cross the shuffle)
    val plan = viaCustom.queryExecution.executedPlan.toString
    assert(plan.contains("TopKPerKeyPartial"), s"missing map-side partial:\n$plan")
    assert(plan.contains("TopKPerKey"))
    assert(plan.contains("Exchange"))
    assert(!plan.contains("Sort"), s"custom top-k must not sort:\n$plan")
    // the exchange must sit BETWEEN final and partial (partial below it)
    val iFinal = plan.indexOf("TopKPerKey ")
    val iEx = plan.indexOf("Exchange")
    val iPartial = plan.indexOf("TopKPerKeyPartial")
    assert(iFinal >= 0 && iFinal < iEx && iEx < iPartial,
      s"expected final > Exchange > partial ordering:\n$plan")
    // memory fallback: with the partial capped to 4 keys, overflow-key rows
    // pass through un-heaped and the clustered final still prunes exactly
    spark.conf.set("spark.graft.topk.maxPartialKeys", "4")
    try {
      val viaCapped = GraftBridge.topKPerKey(orders, Seq("o_custkey"), "o_totalprice", 3)
        .select("o_custkey", "o_totalprice").collect()
        .map(r => (r.getLong(0), r.getDouble(1))).groupBy(_._1)
        .view.mapValues(_.map(_._2).sorted.toSeq).toMap
      assert(viaCapped == viaWindow, "capped partial changed the result")
    } finally spark.conf.unset("spark.graft.topk.maxPartialKeys")
    // k <= 0 is rejected at plan construction, not an executor NPE
    intercept[IllegalArgumentException] {
      GraftBridge.topKPerKey(orders, Seq("o_custkey"), "o_totalprice", 0)
    }
  }

  test("dd_embed_neardup (banded LSH + exact rerank) equals brute force, no BNLJ") {
    val dir = "/root/testdata/sf0.001"
    val lsh = SparkEntry.queries("dd_embed_neardup")(spark, dir)
    val plan = lsh.queryExecution.executedPlan.toString
    assert(!plan.contains("BroadcastNestedLoopJoin"),
      s"near-dup must not contain an all-pairs join:\n$plan")
    val got = lsh.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // brute force over the same twin-augmented corpus
    val e = graft.ops.Ann.withTwins(spark.read.parquet(s"$dir/embeddings.parquet"))
    val a = e.select(col("vec_id").as("a_id"), col("embedding").as("ae"))
    val b = e.select(col("vec_id").as("b_id"), col("embedding").as("be"))
    val brute = a.join(b, col("a_id") < col("b_id"))
      .withColumn("sim", graft.ops.Ann.cosine(col("ae"), col("be")))
      .filter(col("sim") >= 0.92)
      .select("a_id", "b_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == brute, s"LSH pair set diverged: missing=${(brute -- got).take(5)} extra=${(got -- brute).take(5)}")
    assert(got.size == 100) // one twin pair per vec_id % 5 == 0 in 500 vecs
    assert(got.forall { case (x, y) => y == x + graft.ops.Ann.TwinOffset })
  }

  test("ann_lsh surfaces the planted twin at rank 1 for every twinned query") {
    val out = SparkEntry.queries("ann_lsh")(spark, "/root/testdata/sf0.001")
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
    val rank1 = out.collect { case (q, 1, c) => q -> c }.toMap
    // queries are vec_id < 10; those with twins (vec_id % 5 == 0): 0 and 5
    Seq(0L, 5L).foreach { q =>
      assert(rank1.get(q).contains(q + graft.ops.Ann.TwinOffset),
        s"query $q: expected twin at rank 1, got ${rank1.get(q)}")
    }
  }

  test("ann_lsh rows agree with a driver-side brute-force cosine over the twin corpus") {
    val out = SparkEntry.queries("ann_lsh")(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3)))
    val vecs = graft.ops.Ann.withTwins(spark.read.parquet(s"$sf0001/embeddings.parquet"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Any](1)).toMap
    // CosineSim's loop, written again: None where the similarity is undefined
    def brute(a: Seq[Any], b: Seq[Any]): Option[Double] = {
      if (a == null || b == null) return None
      var dot = 0.0; var na = 0.0; var nb = 0.0
      var i = 0
      while (i < math.min(a.length, b.length)) {
        (a(i), b(i)) match {
          case (x: Double, y: Double) => dot += x * y; na += x * x; nb += y * y
          case _ => return None
        }
        i += 1
      }
      Some(dot / (math.sqrt(na) * math.sqrt(nb))).filterNot(_.isNaN)
    }
    def round4(d: Double) = BigDecimal(d).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    val byQuery = out.groupBy(_._1)
    assert(byQuery.keySet.subsetOf((0L until 10L).toSet), byQuery.keySet)
    var twins = 0
    (0L until 10L).foreach { q =>
      val rows = byQuery.getOrElse(q, Array.empty).sortBy(_._2)
      assert(rows.map(_._2).toSeq == (1 to rows.length), s"query $q ranks: ${rows.map(_._2).toSeq}")
      assert(rows.length <= 5, s"query $q: ${rows.length} rows")
      val sims = rows.map { case (_, _, c, sim) =>
        assert(c != q, s"query $q returned itself")
        val b = brute(vecs(q), vecs(c))
        assert(b.isDefined, s"query $q cand $c: undefined cosine in the output")
        assert(sim == round4(b.get), s"query $q cand $c: sim $sim, brute ${b.get}")
        (c, b.get)
      }
      sims.sliding(2).foreach {
        case Array((c1, s1), (c2, s2)) =>
          assert(s1 > s2 || (s1 == s2 && c1 < c2), s"query $q: ($c1, $s1) ranked before ($c2, $s2)")
        case _ => ()
      }
      val close = vecs.keys.filter(c => c != q && brute(vecs(q), vecs(c)).exists(_ >= 0.9)).toSet
      twins += close.size
      assert(close.subsetOf(sims.map(_._1).toSet), s"query $q missed ${close -- sims.map(_._1)}")
    }
    assert(twins == 2) // the planted twins of queries 0 and 5
  }

  test("ann_ivf recall@5 vs brute-force ann_topk is at least 0.65") {
    val dir = "/root/testdata/sf0.001"
    def top5(name: String): Map[Long, Set[Long]] =
      SparkEntry.queries(name)(spark, dir).collect()
        .map(r => (r.getLong(0), r.getLong(2)))
        .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val exact = top5("ann_topk")
    val ivf = top5("ann_ivf")
    val recalls = exact.map { case (q, t) => ivf.getOrElse(q, Set.empty).intersect(t).size / 5.0 }
    val mean = recalls.sum / recalls.size
    // VERDICT r5 #6: pinned just below the bracketed measurement (~0.74)
    // instead of the original 0.5 slack — a 30% recall regression (e.g.
    // nprobe dropping to 1, which measures 0.52) now fails the gate
    assert(mean >= 0.65, s"ann_ivf mean recall@5 = $mean (per-query: $recalls)")
  }

  test("dd_minhash_lsh and dd_simhash surface planted mutated-copy twins") {
    // The rows-only CI class that bit round 1's ann_lsh (recall silently 0):
    // plant near-duplicates — long docs with one appended token — and assert
    // both hash-banding queries still surface them (VERDICT r2 next-round #6).
    val dir = tmp()
    val base = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select("doc_id", "text")
    val twins = base
      .filter(col("doc_id") % 25 === 0)
      .filter(size(split(col("text"), "\\s+")) >= 60)
      .select((col("doc_id") + 100000L).as("doc_id"),
        concat(col("text"), lit(" zz")).as("text"))
    val planted = twins.select(col("doc_id") - 100000L).collect().map(_.getLong(0)).toSet
    assert(planted.size >= 5, s"gate corpus too small: $planted")
    base.unionAll(twins).write.mode("overwrite").parquet(s"$dir/documents.parquet")

    // minhash gate: every planted pair must appear among the LSH candidates
    // (one appended token on a 60+-token doc => shingle Jaccard >= 0.98,
    // per-4-row-band agreement ~0.93, miss probability ~2e-5 over 4 bands)
    val pairs = SparkEntry.queries("dd_minhash_lsh")(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    planted.foreach(id => assert(pairs.contains((id, id + 100000L)),
      s"dd_minhash_lsh missed planted twin pair ($id, ${id + 100000L})"))

    // dd_jaccard_lsh gate (round 4 — the scale path for exact Jaccard):
    // every planted pair must surface from the LSH candidates with its
    // EXACT 3-gram shingle Jaccard, and the value must equal an
    // INDEPENDENT string-shingle-set recomputation (the query works over
    // distinct shingle hashes; equality also certifies no collision)
    val jl = SparkEntry.queries("dd_jaccard_lsh")(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val textOf = base.unionAll(twins)
      .filter(col("doc_id").isin((planted ++ planted.map(_ + 100000L)).toSeq.map(Long.box): _*))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    def shset(t: String): Set[String] = {
      val w = t.split("\\s+").filter(_.nonEmpty)
      if (w.isEmpty) Set.empty else w.sliding(3).map(_.mkString(" ")).toSet
    }
    planted.foreach { id =>
      val j = jl.get((id, id + 100000L))
      assert(j.isDefined && j.get >= 0.9,
        s"dd_jaccard_lsh missed/underrated planted pair ($id): $j")
      val a = shset(textOf(id)); val b = shset(textOf(id + 100000L))
      val exact = a.intersect(b).size.toDouble / a.union(b).size
      assert(math.abs(j.get - exact) <= 5e-5,
        s"dd_jaccard_lsh($id) = ${j.get}, independent exact = $exact")
    }

    // simhash gate: twins stay within hamming distance 3 and (pigeonhole at
    // <=3 flipped bits over 4 bands) share at least one 16-bit band bucket
    val sh = SparkEntry.queries("dd_simhash")(spark, dir).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), (2 to 5).map(r.getLong))).toMap
    planted.foreach { id =>
      val (h1, b1) = sh(id); val (h2, b2) = sh(id + 100000L)
      val ham = java.lang.Long.bitCount(h1 ^ h2)
      assert(ham <= 3, s"simhash hamming($id, twin) = $ham")
      assert(b1.zip(b2).exists { case (x, y) => x == y },
        s"simhash twin $id shares no band bucket")
    }
  }

  test("LSH dedup collapses exact-duplicate clusters: candidates stay flat, pairs expand exactly") {
    // VERDICT r4 #2: a big exact-duplicate cluster (mirrors/boilerplate — the
    // dominant real-world web-dedup skew mode) must NOT produce |cluster|^2
    // candidate pairs in the band self-join. Plant a ~1000-copy cluster and
    // assert (a) the rep-level candidate relation is IDENTICAL to the
    // corpus without the copies (the cluster collapses onto its existing
    // representative), (b) the expanded output still contains every
    // within-cluster pair and every cross pair — same semantics as banding
    // every doc, minus the quadratic join.
    val dir = tmp()
    val base = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select("doc_id", "text")
    val srcRow = base.filter(size(split(col("text"), "\\s+")) >= 60)
      .orderBy("doc_id").limit(1).collect()(0)
    val srcId = srcRow.getLong(0)
    val copies = spark.range(1000)
      .select((col("id") + 200000L).as("doc_id"), lit(srcRow.getString(1)).as("text"))
    base.unionAll(copies).write.mode("overwrite").parquet(s"$dir/documents.parquet")

    def prep(d: org.apache.spark.sql.DataFrame) = d
      .select(col("doc_id"), col("text"),
        filter(split(col("text"), " "), x => length(x) > 0).as("t"))
      .filter(size(col("t")) > 0)
    val groupsBase = OpsQueries.minhashGroups(prep(base), 3, 16)
    val groupsBig = OpsQueries.minhashGroups(
      prep(spark.read.parquet(s"$dir/documents.parquet")), 3, 16)
    // the 1000 copies join srcId's content group: distinct-content count unchanged
    assert(groupsBig.count() == groupsBase.count())
    val clusterMembers = groupsBig.filter(col("doc_id") === srcId)
      .select(size(col("members"))).first.getInt(0)
    assert(clusterMembers >= 1001, s"cluster not collapsed onto $srcId: $clusterMembers")
    // rep-level band candidates: EXACTLY the no-copies candidate set ...
    val candBase = OpsQueries.repCandidates(
      OpsQueries.bandBuckets(groupsBase, 16, 4)).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val candBig = OpsQueries.repCandidates(
      OpsQueries.bandBuckets(groupsBig, 16, 4)).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    // ... plus the cluster rep's pair with itself, the one candidate that
    // carries all its within-cluster pairs
    assert(candBig == candBase + ((srcId, srcId)),
      s"planted copies changed the rep-level candidate set: ${candBig.size} vs ${candBase.size}")

    // expanded output: every within-cluster pair present, count exact
    val out = SparkEntry.queries("dd_minhash_lsh")(spark, dir)
    val inCluster = (id: org.apache.spark.sql.Column) =>
      id === srcId || (id >= 200000L && id < 201000L)
    val withinCount = out.filter(inCluster(col("a_id")) && inCluster(col("b_id"))).count()
    val n = clusterMembers.toLong
    assert(withinCount == n * (n - 1) / 2,
      s"expected ${n * (n - 1) / 2} within-cluster pairs, got $withinCount")
    assert(out.filter(col("a_id") === srcId && col("b_id") === 200000L).count() == 1)
    assert(out.filter(col("a_id") === 200000L && col("b_id") === 200001L).count() == 1)

    // dd_jaccard_lsh: within-cluster pairs carry jaccard exactly 1.0
    val jOut = SparkEntry.queries("dd_jaccard_lsh")(spark, dir)
      .filter(col("a_id") === 200000L && col("b_id") === 200001L).collect()
    assert(jOut.length == 1 && jOut(0).getDouble(2) == 1.0, jOut.mkString(";"))

    // embedding edition: 200 copies of one vector (ids chosen % 5 != 0 so
    // withTwins adds no twins for them) — output grows by exactly the
    // within-cluster pair count, candidates stay at the no-copies set size
    val eBase = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .select("vec_id", "embedding")
    val srcEmb = eBase.filter(col("vec_id") === 3L).select("embedding")
    val eCopies = spark.range(200).crossJoin(srcEmb)
      .select((col("id") * 5 + 300001L).as("vec_id"), col("embedding"))
    eBase.unionAll(eCopies).write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    val embOutBase = SparkEntry.queries("dd_embed_neardup")(spark, "/root/testdata/sf0.001").count()
    val embOut = SparkEntry.queries("dd_embed_neardup")(spark, dir)
    val m = 201L // vec 3 + 200 copies share one identical vector
    assert(embOut.count() == embOutBase + m * (m - 1) / 2,
      s"embed expansion off: ${embOut.count()} vs $embOutBase + ${m * (m - 1) / 2}")
    assert(embOut.filter(col("a_id") === 3L && col("b_id") === 300001L).count() == 1)
  }

  test("collapsed LSH banding equals direct banding of every doc (pair-set identity)") {
    // implementation-independent gate for the duplicate-cluster collapse:
    // on a corpus with duplicate clusters of sizes 1/2/3/7, the collapsed
    // pipeline's output pair set must EQUAL banding every doc directly
    // (the pre-round-5 formulation, reconstructed here from the same
    // primitives)
    val sp = spark
    import sp.implicits._
    val dir = tmp()
    val base = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select("doc_id", "text").filter(col("doc_id") < 120)
    val srcs = base.filter(size(split(col("text"), "\\s+")) >= 40)
      .orderBy("doc_id").limit(3).collect()
    assert(srcs.length == 3)
    val clusters = Seq(srcs(0) -> 1, srcs(1) -> 2, srcs(2) -> 6).zipWithIndex
      .flatMap { case ((r, n), ci) =>
        (0 until n).map(k => (500000L + ci * 1000L + k, r.getString(1)))
      }
    base.unionAll(clusters.toDF("doc_id", "text"))
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")

    val collapsed = SparkEntry.queries("dd_minhash_lsh")(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    // direct banding of EVERY doc (no collapse) — the reference formulation
    val nHashes = 16; val bandRows = 4
    val every = spark.read.parquet(s"$dir/documents.parquet")
      .select(col("doc_id"),
        filter(split(col("text"), " "), x => length(x) > 0).as("t"))
      .filter(size(col("t")) > 0)
      .select(col("doc_id"),
        OpsQueries.minhashFused(col("t"), 3, nHashes).as("sigs"),
        lit(null).cast("array<bigint>").as("members"))
    val direct = OpsQueries.repCandidates(
      OpsQueries.bandBuckets(every, nHashes, bandRows)).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(collapsed == direct,
      s"collapse changed the pair set: only-collapsed=${(collapsed -- direct).take(5)} " +
        s"only-direct=${(direct -- collapsed).take(5)}")
    // sanity: the planted clusters actually produced within-pairs
    assert(collapsed.contains((501000L, 501001L)) && collapsed.contains((502000L, 502005L)))
  }

  test("native graft_cosine matches the HOF formulation and plans into WholeStageCodegen") {
    val e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val x = e.select(col("vec_id").as("id"), col("embedding").as("ae"))
    val y = e.select((col("vec_id") - 1).as("id"), col("embedding").as("be"))
    val j = x.join(y, "id")
    val maxDiff = j.select(abs(graft.ops.Ann.cosine(col("ae"), col("be")) -
        References.cosineHof(col("ae"), col("be"))).as("d"))
      .agg(max(col("d"))).first.getDouble(0)
    assert(maxDiff <= 1e-12, s"native cosine diverged from HOF by $maxDiff")
    // the fused loop must sit INSIDE a WholeStageCodegen stage ("*(" marker);
    // run the query first so AQE materializes the FINAL plan (the lazy plan
    // prints isFinalPlan=false without codegen stage markers)
    val q = j.select(graft.ops.Ann.cosine(col("ae"), col("be")).as("s"))
    q.collect()
    val plan = q.queryExecution.executedPlan.toString
    assert(plan.split("\n").exists(l =>
      l.contains("graft_cosine") && l.trim.stripPrefix("+- ").startsWith("*(")), plan)
    // an undefined similarity is NULL: a null ELEMENT, or a zero norm;
    // non-null arrays of a containsNull=true type still compute exactly.
    // Codegen and interpreted eval agree on all three.
    val sp2 = spark
    import sp2.implicits._
    // (read back from parquet: a local relation's projection is folded
    // interpreted by the optimizer, whatever the codegen settings)
    val pairsDir = tmp()
    Seq((0, Seq[java.lang.Double](1.0, null), Seq[java.lang.Double](1.0, 2.0)),
      (1, Seq[java.lang.Double](0.0, 0.0), Seq[java.lang.Double](1.0, 2.0)),
      (2, Seq[java.lang.Double](1.0, 0.0), Seq[java.lang.Double](1.0, 0.0)))
      .toDF("i", "a", "b").write.mode("overwrite").parquet(pairsDir)
    val pairs = spark.read.parquet(pairsDir).orderBy("i")
    Seq("CODEGEN_ONLY", "NO_CODEGEN").foreach { mode =>
      withConf("spark.sql.codegen.factoryMode" -> mode,
          "spark.sql.codegen.wholeStage" -> (mode == "CODEGEN_ONLY").toString) {
        val nd = pairs.select(graft.ops.Ann.cosine(col("a"), col("b")).as("s")).collect()
        assert(nd(0).isNullAt(0) && nd(1).isNullAt(0), s"$mode: ${nd.mkString(";")}")
        assert(math.abs(nd(2).getDouble(0) - 1.0) < 1e-12, mode)
      }
    }
  }

  /** Asserts `Ann.bandedSigs` over `e` (n rows) equals the reference: band
    * b's r sign bits from a driver-side loop over each collected embedding,
    * plane b*r+j's dot accumulated in element order over min(len, dims)
    * elements. */
  private def assertHyperplaneSigs(e: DataFrame, n: Int): Unit = {
    val bands = 6; val r = 12; val dims = 64
    val fused = graft.ops.Ann.bandedSigs(e, bands, r, dims)
      .select("vec_id", "band", "sig").collect()
      .map(x => (x.getLong(0), x.getInt(1)) -> x.getInt(2)).toMap
    val unfused = e.collect().flatMap { row =>
      val v = row.getSeq[Float](1)
      (0 until bands).map { b =>
        val sig = (0 until r).foldLeft(0) { (bits, j) =>
          var dot = 0.0
          (0 until math.min(v.length, dims)).foreach(d =>
            dot += v(d).toDouble * graft.ops.Ann.hyperplaneSign(b * r + j, d))
          if (dot > 0) bits | (1 << j) else bits
        }
        (row.getLong(0), b) -> sig
      }
    }.toMap
    assert(fused.size == n * bands && unfused.size == n * bands)
    assert(fused == unfused)
  }

  test("fused HyperplaneSigs equals the per-band unfused signature formulation") {
    assertHyperplaneSigs(
      spark.read.parquet(s"$sf0001/embeddings.parquet").select("vec_id", "embedding"), 500)
  }

  test("HyperplaneSigs min-length semantics pinned against the unfused formulation on truncated embeddings") {
    // 48-of-64-dim arrays: the dots are min-length partial dots
    assertHyperplaneSigs(
      spark.read.parquet(s"$sf0001/embeddings.parquet").filter(col("vec_id") < 50)
        .select(col("vec_id"), slice(col("embedding"), 1, 48).as("embedding")), 50)
  }

  test("fused CentroidArgsort equals a driver-side (dot desc, index asc) sort") {
    // the reference: per collected embedding, k dots accumulated in element
    // order, then a sortWith on (dot desc, index asc). Ties are planted so
    // the tie rule is exercised: centroid 5 duplicates centroid 2 (tied on
    // every row), and an all-zero vector ties every centroid at 0
    val e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .select("vec_id", "embedding")
    val trained = graft.ops.Ann.trainCentroids(e, k = 16, iters = 1)
    val cents = trained.updated(5, trained(2).clone())
    val planted = e.unionAll(spark.range(1).select(lit(900001L).as("vec_id"),
      array_repeat(lit(0.0f), 64).as("embedding")))
    val fused = planted.select(col("vec_id"),
        graft.ops.Ann.centroidRanking(col("embedding"), cents).as("rk"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Int](1)).toMap
    val reference = planted.collect().map { row =>
      val v = row.getSeq[Float](1)
      val dots = cents.map { c =>
        var dot = 0.0
        (0 until math.min(v.length, c.length)).foreach(i => dot += v(i).toDouble * c(i))
        dot
      }
      row.getLong(0) -> (0 until cents.length).sortWith((a, b) =>
        dots(a) > dots(b) || (dots(a) == dots(b) && a < b))
    }.toMap
    assert(fused.size == 501)
    assert(fused == reference)
    assert(fused(900001L) == (0 until 16))
  }

  test("an undefined cosine (zero vector, null element) is in no ANN or near-dup row") {
    // an all-zero vector (0/0 with everything) and a copy of query vector 0
    // with one null element; ids % 5 != 0, so withTwins adds no twins of
    // them. A NaN similarity would pass the 0.92 cut and rank first.
    val dir = tmp()
    val e = spark.read.parquet(s"$sf0001/embeddings.parquet").select("vec_id", "embedding")
    val zero = spark.range(1).select(lit(700001L).as("vec_id"),
      array_repeat(lit(0.0f), 64).as("embedding"))
    val holed = e.filter(col("vec_id") === 0L).select(lit(700002L).as("vec_id"),
      transform(col("embedding"), (x, i) => when(i =!= 5, x)).as("embedding"))
    e.unionAll(zero).unionAll(holed).write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    val planted = Set(700001L, 700002L)
    Seq("ann_topk" -> Seq("cand_id"), "ann_lsh" -> Seq("cand_id"),
        "ann_ivf" -> Seq("cand_id"), "dd_embed_neardup" -> Seq("a_id", "b_id"))
      .foreach { case (q, ids) =>
        val rows = SparkEntry.queries(q)(spark, dir).collect()
        assert(rows.nonEmpty, q)
        val hits = rows.filter(r => ids.exists(c => planted(r.getAs[Long](c))))
        assert(hits.isEmpty, s"$q: ${hits.take(5).mkString("; ")}")
      }
    // the defined candidates still fill every query's five ranks
    assert(SparkEntry.queries("ann_topk")(spark, dir).count() == 50)
  }

  test("q_approx estimates within their stated error of the exact values") {
    // approx_count_distinct's default relative SD is 0.05 (HLL++): allow 3
    // SDs. approx_percentile at accuracy 1000 answers rank ceil(n/2) within
    // ceil(n/1000) ranks (Spark's QuantileSummaries target error is
    // ceil(relativeError * n)): some rank of the returned median, (count
    // below, count at or below], must lie that close. Prices carry 2
    // decimals, so +-0.005 buckets the rounded output exactly.
    Seq(sf0001, new java.io.File(sf0001).getParent + "/sf0.01").foreach { sf =>
      val li = spark.read.parquet(s"$sf/lineitem.parquet")
      val out = SparkEntry.queries("q_approx")(spark, sf).collect()
      assert(out.length == 3, sf)
      out.foreach { r =>
        val flag = r.getAs[String]("l_returnflag")
        val approx = r.getAs[Long]("approx_parts")
        val exact = r.getAs[Long]("exact_parts")
        assert(math.abs(approx - exact) <= 3 * 0.05 * exact, s"$sf $flag: $approx vs $exact")
        val m = r.getAs[Double]("approx_median_price")
        val g = li.filter(col("l_returnflag") === flag)
        val n = g.count()
        val target = (n + 1) / 2; val err = (n + 999) / 1000
        val below = g.filter(col("l_extendedprice") < m - 0.005).count()
        val atOrBelow = g.filter(col("l_extendedprice") <= m + 0.005).count()
        assert(below + 1 <= target + err && atOrBelow >= target - err,
          s"$sf $flag: median $m has rank ($below, $atOrBelow] of $n, target $target +- $err")
        assert(exact == g.select(col("l_partkey")).distinct().count(), s"$sf $flag")
      }
    }
  }

  test("extraction plan is a single narrow map stage (no shuffle)") {
    val plan = Pipeline.extracted(pages)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"extraction plan must not shuffle:\n$plan")
  }

  test("fused graft_simhash64 equals the 64-fold HOF formulation") {
    val sp = spark
    import sp.implicits._
    val d = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select(col("doc_id"),
        filter(split(col("text"), " "), x => length(x) > 0).as("t"))
      .withColumn("hashes", transform(col("t"), x => xxhash64(x)))
    val both = d.select(col("doc_id"),
      OpsQueries.simhashFused(col("hashes")).as("f"),
      References.simhashHof(col("hashes")).as("h")).cache()
    assert(both.count() == 500)
    assert(both.filter(col("f") =!= col("h")).count() == 0,
      "fused simhash diverged from the HOF formulation")
    // empty token list => all votes 0 => fingerprint 0 (typed Dataset: the
    // Seq[Long] encoder gives containsNull=false, which the expression now
    // REQUIRES — a containsNull array is an analysis error, ADVICE r4)
    val empty = Seq(Seq.empty[Long]).toDF("hashes")
      .select(OpsQueries.simhashFused(col("hashes")).as("f"))
      .first.getLong(0)
    assert(empty == 0L)
    // the stricter input check: containsNull=true arrays are rejected up
    // front instead of silently hashing garbage
    val err = intercept[Exception] {
      spark.sql("SELECT CAST(array() AS array<bigint>) AS hashes")
        .select(OpsQueries.simhashFused(col("hashes")).as("f")).collect()
    }
    assert(err.getMessage.contains("non-null elements"), err.getMessage)
    both.unpersist()
  }

  test("fused graft_band_hashes equals xxhash64 over each band's signature elements") {
    val sp = spark
    import sp.implicits._
    val toks = filter(split(col("text"), " "), x => length(x) > 0)
    val sigs = spark.read.parquet(s"$sf0001/documents.parquet")
      .select(col("doc_id"), OpsQueries.minhashFused(toks, 3, 16).as("sigs"))
      .unionAll(Seq((1L, Seq[java.lang.Long](1L, null, 3L, 4L, 5L, 6L))).toDF("doc_id", "sigs"))
    def hashes(nHashes: Int, rows: Int) = {
      import org.apache.spark.sql.graftbridge.GraftBridge
      sigs.select(col("doc_id"),
        GraftBridge.column(graft.plans.BandHashes(GraftBridge.expression(col("sigs")),
          nHashes / rows, rows)).as("f"),
        // the reference: Spark's own xxhash64, which skips a NULL argument
        array((0 until nHashes / rows).map(b => xxhash64((0 until rows).map(r =>
          try_element_at(col("sigs"), lit(b * rows + r + 1))): _*)): _*).as("r"))
    }
    Seq((16, 4), (6, 2), (16, 8)).foreach { case (n, rows) =>
      val both = hashes(n, rows)
      assert(both.count() == 501)
      val diff = both.filter(not(col("f") === col("r")))
      assert(diff.count() == 0, s"$n/$rows: " + diff.collect().take(3).mkString("; "))
    }
  }

  test("fused graft_minhash_sigs equals the pure-Column xxhash64 reference formulation") {
    val sp = spark
    import sp.implicits._
    val toks = filter(split(col("text"), " "), x => length(x) > 0)
    // real corpus docs + the short/empty edge cases the kernel must define
    val edge = Seq((100001L, "one"), (100002L, "two words"),
      (100003L, ""), (100004L, "   "), (100005L, "exactly three tokens"))
      .toDF("doc_id", "text")
    val d = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select(col("doc_id"), col("text")).unionAll(edge)
      .select(col("doc_id"), toks.as("t"))
    val both = d.select(col("doc_id"),
      OpsQueries.minhashFused(col("t"), 3, 16).as("f"),
      References.minhashRef(col("t"), 3, 16).as("r")).cache()
    assert(both.count() == 505)
    val diff = both.filter(not(col("f") === col("r")))
    assert(diff.count() == 0, diff.collect().take(3).mkString("; "))
    // empty docs carry the Long.MaxValue sentinel in every position
    val empty = both.filter(col("doc_id") >= 100003L && col("doc_id") <= 100004L)
      .select(col("f")).collect()
    assert(empty.length == 2 &&
      empty.forall(_.getSeq[Long](0).forall(_ == Long.MaxValue)))
    both.unpersist()
    // generic k (ADVICE r4): at k=5, docs with 1..4 tokens hit the
    // short-doc branch — fused and Column-reference formulations must agree
    // there too (the old reference silently emitted NO shingle for 3..4)
    val short5 = Seq((1L, "one"), (2L, "two words"), (3L, "exactly three tokens"),
      (4L, "now four whole tokens"), (5L, "and here five whole tokens"))
      .toDF("doc_id", "text")
      .select(col("doc_id"), toks.as("t"))
      .select(col("doc_id"),
        OpsQueries.minhashFused(col("t"), 5, 8).as("f"),
        References.minhashRef(col("t"), 5, 8).as("r"))
    val diff5 = short5.filter(not(col("f") === col("r")))
    assert(diff5.count() == 0, diff5.collect().mkString("; "))
    assert(short5.filter(size(col("f")) =!= 8).count() == 0)
  }

  /** One 66-bucket run shared by the two tests below: its directory, what
    * `run` returned, and the phases it reported. */
  private lazy val wideRun = {
    val dir = tmp()
    val phases = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    ResumableRun.onPhase = (ph: String, _: Double) => { phases.add(ph); () }
    val done = try ResumableRun.run(spark, pages, dir, 66) finally ResumableRun.onPhase = null
    (dir, done, phases.toArray.toSeq)
  }

  test("a 66-bucket run is one staging job and equals the single-job table") {
    val (dir, done, phases) = wideRun
    assert(done == (0 until 66).toVector)
    assert(phases.count(_ == "stage_write") == 1, s"phases: $phases")
    val got = ResumableRun.readTable(spark, dir)
      .select("url", "extracted_text").collect()
      .map(rw => (rw.getString(0), rw.getString(1))).toMap
    val expected = Pipeline.extracted(pages)
      .select("url", "extracted_text").collect()
      .map(rw => (rw.getString(0), rw.getString(1))).toMap
    assert(got == expected)
    // the whole run is one snapshot: version 1 lists every bucket
    val log = new SnapshotLog(dir)
    assert(log.latestVersion() == 1 && log.committedBuckets() == (0 until 66).toSet)
  }

  test("a 66-bucket run: footer stats equal a groupBy aggregation past bucket 64") {
    val (dir, _, _) = wideRun
    // footer stats equal an independent per-bucket aggregation over the
    // committed data (empty buckets: no entry), past bucket 64 too
    val agg = aggregatedStats(dir)
    assert(agg.keySet.exists(_ >= 64), "no rows beyond bucket 64")
    assert(new SnapshotLog(dir).bucketStats() == agg)
  }

  test("a NULL or out-of-range bucket fails the run and commits nothing") {
    val nBuckets = 4
    val valid = pmod(xxhash64(col("url")), lit(nBuckets))
    def raised(e: Throwable) = Iterator.iterate(e)(_.getCause).takeWhile(_ != null)
      .exists(t => Option(t.getMessage).exists(_.contains("bucketExpr must map every row")))
    Seq("NULL for lang en" -> when(col("lang") === "en", lit(null)).otherwise(valid),
        "nBuckets" -> lit(nBuckets)).foreach { case (name, spec) =>
      // a fresh run over every bucket, and a resumed run over a subset
      val fresh = tmp()
      val e1 = intercept[Exception](
        ResumableRun.run(spark, pages, fresh, nBuckets, bucketExpr = Some(spec)))
      assert(raised(e1), s"$name: $e1")
      assert(new SnapshotLog(fresh).latestVersion() == 0, name)
      val resumed = tmp()
      ResumableRun.run(spark, pages, resumed, nBuckets, maxBuckets = 1, bucketExpr = Some(valid))
      val e2 = intercept[Exception](
        ResumableRun.run(spark, pages, resumed, nBuckets, bucketExpr = Some(spec)))
      assert(raised(e2), s"$name resumed: $e2")
      val log = new SnapshotLog(resumed)
      assert(log.latestVersion() == 1 && log.committedBuckets() == Set(0), name)
    }
  }

  test("a 5 KB url gets exact or unknown url bounds, and its bucket is never pruned") {
    import graft.lake.ColBound
    val maxUrl = pages.agg(max(col("url"))).first().getString(0)
    val longUrl = maxUrl + "/" + "x" * 5000 // still the table's largest url
    val p = pages.withColumn("url",
      when(col("url") === maxUrl, lit(longUrl)).otherwise(col("url")))
    val dir = tmp()
    ResumableRun.run(spark, p, dir, nBuckets = 4)
    val log = new SnapshotLog(dir)
    val (stats, agg) = (log.bucketStats(), aggregatedStats(dir))
    assert(stats.keySet == agg.keySet)
    stats.foreach { case (b, s) =>
      val a = agg(b)
      assert(Set((a.urlMin, a.urlMax), ("", "")).contains((s.urlMin, s.urlMax)),
        s"bucket $b url bounds (${s.urlMin.take(40)}, ${s.urlMax.take(40)})")
      assert(s.copy(urlMin = a.urlMin, urlMax = a.urlMax) == a, s"bucket $b lang/ts bounds")
    }
    val b = agg.collectFirst { case (b, a) if a.urlMax == longUrl => b }.get
    assert(stats(b).urlMax.isEmpty, "parquet kept a min/max over 4 KB: the unknown path is untested")
    val (kept, _) = ResumableRun.prunedPaths(dir, Seq(ColBound("url", "=", longUrl)))
    assert(kept.contains(log.bucketDataDir(b).toString))
    assert(ResumableRun.readTable(spark, dir).filter(col("url") === longUrl).count() == 1)
  }

  test("INT96 and INT64-staged buckets read back like an all-INT96 copy") {
    import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName
    val dir = tmp()
    ResumableRun.run(spark, pages, dir, nBuckets = 4, maxBuckets = 3)
    val log = new SnapshotLog(dir)
    // bucket 3 from a plain write of this session: INT96 warc_ts
    commitPlainBucket(dir, nBuckets = 4, b = 3)
    assert(log.committedBuckets() == Set(0, 1, 2, 3))
    def tsTypes(b: Int): Set[PrimitiveTypeName] =
      SnapshotLog.parquetFiles(log.bucketDataDir(b)).map { f =>
        val file = new org.apache.parquet.io.LocalInputFile(f)
        val in = file.newStream()
        val schema = try org.apache.parquet.hadoop.ParquetFileReader.readFooter(file,
            org.apache.parquet.ParquetReadOptions.builder().build(), in).getFileMetaData.getSchema
          finally in.close()
        schema.getType(schema.getFieldIndex("warc_ts")).asPrimitiveType.getPrimitiveTypeName
      }.toSet
    assert(tsTypes(3) == Set(PrimitiveTypeName.INT96))
    (0 until 3).foreach(b => assert(tsTypes(b) == Set(PrimitiveTypeName.INT64), s"bucket $b"))
    val copy = tmp() + "/copy"
    Pipeline.extracted(pages).write.parquet(copy)
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect().toSeq.sortBy(_.getAs[String]("url"))
    val table = ResumableRun.readTable(spark, dir)
    assert(table.schema == spark.read.parquet(copy).schema)
    val (got, want) = (rows(table), rows(spark.read.parquet(copy)))
    assert(got.size == 500 && got == want)
  }

  test("resumable run on empty input commits empty buckets; readTable serves the manifest schema") {
    // an all-empty-bucket table has no parquet footers to infer a schema
    // from: the manifest carries it, and no bucket holds a file
    val dir = tmp()
    val none = pages.filter(lit(false))
    ResumableRun.run(spark, none, dir, nBuckets = 4)
    val log = new SnapshotLog(dir)
    assert(log.committedBuckets() == Set(0, 1, 2, 3))
    log.committedBuckets().foreach(b =>
      assert(SnapshotLog.parquetFiles(log.bucketDataDir(b)).isEmpty, s"bucket $b"))
    val t = ResumableRun.readTable(spark, dir)
    assert(t.count() == 0)
    assert(t.schema.fieldNames.toSet.contains("extracted_text"))
  }

  test("bucket-stats pruning skips whole buckets on a clustered column") {
    // VERDICT r4 #6: manifests record per-bucket (url, lang) min/max at
    // commit time; a read with a pushable bound opens only buckets whose
    // bounds may match. Pruning needs the column CLUSTERED with the bucket
    // (the Iceberg reality too), so give each lang its own domain — the
    // salted bucket is a domain hash, keeping each bucket lang-narrow.
    import graft.lake.ColBound
    val dir = tmp()
    val p = pages
    // partition spec clustering lang with the bucket (the configurable-spec
    // path — the default salted url-hash spec defeats min/max pruning by
    // construction, like any hash partitioning)
    ResumableRun.run(spark, p, dir, nBuckets = 16,
      bucketExpr = Some(pmod(xxhash64(col("lang")), lit(16))))
    val log = new SnapshotLog(dir)
    val stats = log.bucketStats()
    assert(stats.nonEmpty, "no bucket stats recorded at commit time")
    val langs = p.select("lang").distinct().collect().map(_.getString(0)).toSet
    assert(langs.size >= 3, s"corpus too monolingual for the gate: $langs")
    val target = langs.min
    val (kept, skipped) = ResumableRun.prunedPaths(dir, Seq(ColBound("lang", "=", target)))
    assert(skipped.nonEmpty, s"lang=$target pruned nothing: stats=$stats")
    assert(kept.size < log.committedPaths().size,
      s"pruned read must open fewer bucket paths (${kept.size} vs ${log.committedPaths().size})")
    // correctness: a filtered read of the table == the filter over a plain
    // parquet read of every committed bucket
    def plain(d: String) = spark.read.parquet(new SnapshotLog(d).committedPaths(): _*)
    val full = plain(dir)
      .filter(col("lang") === target).select("url").collect().map(_.getString(0)).toSet
    val pruned = ResumableRun.readTable(spark, dir)
      .filter(col("lang") === target).select("url").collect().map(_.getString(0)).toSet
    assert(full.nonEmpty && pruned == full)
    // a bound beyond every recorded max prunes every stats-bearing bucket;
    // the empty-survivor read still carries the table schema
    val beyond = "https://" + "\u007f" // > any "https://<ascii-domain>" url
    val (keptAll, _) = ResumableRun.prunedPaths(dir, Seq(ColBound("url", ">=", beyond)))
    assert(keptAll.size == log.committedPaths().size - stats.size)
    val none = ResumableRun.readTable(spark, dir)
      .filter(col("url") >= beyond && col("lang") === "zz")
    assert(none.count() == 0 && none.columns.contains("extracted_text"))
    // time travel to v1 still resolves (stats do not affect historical reads)
    assert(ResumableRun.readTable(spark, dir, version = Some(1)).count() >= 0)

    // time-range pruning: a crawl table partitioned by time window answers
    // "read the recent snapshot" without opening older buckets (warc_ts
    // bounds ride the manifests as fixed-width UTC strings)
    val dirT = tmp()
    ResumableRun.run(spark, p, dirT, nBuckets = 16,
      bucketExpr = Some(pmod(floor(col("warc_ts").cast("long") / 21600L), lit(16))))
    val cut = "2023-11-16 00:00:00" // corpus spans ~3.5 days from 2023-11-14
    val (keptT, skippedT) = ResumableRun.prunedPaths(dirT,
      Seq(ColBound("warc_ts", ">=", cut)))
    assert(skippedT.nonEmpty, "time cut pruned no buckets")
    assert(keptT.size < new SnapshotLog(dirT).committedPaths().size)
    val fullT = plain(dirT)
      .filter(col("warc_ts") >= lit(cut).cast("timestamp")).count()
    val prunedT = ResumableRun.readTable(spark, dirT)
      .filter(col("warc_ts") >= lit(cut).cast("timestamp")).count()
    assert(fullT > 0 && prunedT == fullT)
  }

  test("manifest reads equal plain parquet reads: schema, rows under filters, fewer files opened") {
    import java.time.Instant
    import org.apache.spark.sql.{Column, DataFrame}
    import graft.lake.ColBound
    def paths(dir: String) = new SnapshotLog(dir).committedPaths()
    def plain(dir: String) = spark.read.parquet(paths(dir): _*)
    def fileCount(dir: String, bucketDirs: Seq[String]) =
      bucketDirs.map(d => SnapshotLog.parquetFiles(java.nio.file.Paths.get(d)).size).sum
    /** Parquet files the executed scan of `df` read (Spark's "number of files read"). */
    def filesRead(df: DataFrame): Long = {
      df.collect()
      val scans = ScanNodes.fileScans(df.queryExecution.executedPlan)
      assert(scans.size == 1, s"scans: $scans")
      scans.head.metrics("numFiles").value
    }
    def rows(df: DataFrame) = df.collect().toSeq.map(_.toString).sorted

    // schema: a fresh table, and one whose bucket 3 holds INT96 warc_ts
    val fresh = tmp()
    ResumableRun.run(spark, pages, fresh, nBuckets = 4, maxBuckets = 3)
    assert(ResumableRun.readTable(spark, fresh).schema == plain(fresh).schema)
    commitPlainBucket(fresh, nBuckets = 4, b = 3)
    assert(ResumableRun.readTable(spark, fresh).schema == plain(fresh).schema)

    // a lang-clustered table, and a time-windowed one whose timestamps all
    // sit 0.9 s past a whole second, so each bucket's true warc_ts max lies
    // above its floored manifest bound
    val byLang = tmp()
    ResumableRun.run(spark, pages, byLang, nBuckets = 16,
      bucketExpr = Some(pmod(xxhash64(col("lang")), lit(16))))
    val byTime = tmp()
    ResumableRun.run(spark, pages.withColumn("warc_ts", timestamp_micros(unix_micros(col("warc_ts")) + 900000L)),
      byTime, nBuckets = 16, bucketExpr = Some(pmod(floor(col("warc_ts").cast("long") / 21600L), lit(16))))

    val langs = pages.select("lang").distinct().collect().map(_.getString(0)).sorted
    val (lo, mid, hi) = (langs.head, langs(langs.length / 2), langs.last)
    val urls = pages.select("url").orderBy("url").collect().map(_.getString(0))
    val tStats = new SnapshotLog(byTime).bucketStats()
    val (tb, ts) = tStats.minBy(_._2.tsMax)
    def instant(s: String) = java.time.LocalDateTime.parse(s.replace(' ', 'T'))
      .toInstant(java.time.ZoneOffset.UTC)
    val trueMax = instant(ts.tsMax).plusMillis(900)
    def at(i: Instant): Column = lit(java.sql.Timestamp.from(i))
    val justBelowMax = at(trueMax.minusMillis(200))
    val (l, u, t) = (col("lang"), col("url"), col("warc_ts"))
    val grid: Seq[(String, Column)] = Seq(
      "lang = mid" -> (l === mid), "lang < mid" -> (l < mid), "lang <= mid" -> (l <= mid),
      "lang > mid" -> (l > mid), "lang >= max" -> (l >= hi), "lang <= min" -> (l <= lo),
      "mid = lang" -> (lit(mid) === l), "max <= lang" -> (lit(hi) <= l),
      "lang IN" -> l.isin(lo, hi), "url IN (InSet)" -> u.isin(urls.take(12): _*),
      "lang IS NULL" -> l.isNull, "OR" -> (l === lo || u === urls.last),
      "NOT" -> not(l === mid), "url = " -> (u === urls(7)), "url < " -> (u < urls(100)),
      "url >= max" -> (u >= urls.last), "url > " -> (u > urls(400)),
      "non-ASCII url bound" -> (u >= "https://\u00e9"), "non-ASCII lang" -> (l < "\u00fcber"),
      "ts >= just below a true max" -> (t >= justBelowMax),
      "ts > just below a true max" -> (t > justBelowMax),
      "ts = true max" -> (t === at(trueMax)), "ts < just below" -> (t < justBelowMax),
      "ts <= just below" -> (t <= justBelowMax),
      "ts window and lang" -> (t >= at(trueMax.minusSeconds(86400)) && t <= justBelowMax && l === mid))
    Seq(byLang, byTime).foreach { dir =>
      grid.foreach { case (name, p) =>
        val (got, want) = (rows(ResumableRun.readTable(spark, dir).filter(p)), rows(plain(dir).filter(p)))
        val same = got == want
        assert(same, s"$name on $dir: ${got.size} rows, plain read ${want.size}")
      }
    }
    // test setup: bucket tb's last row sits 0.9 s past its floored bound
    assert(plain(byTime).filter(t === at(trueMax)).count() == 1, s"bucket $tb")

    // pruning opens fewer files than the table has, exactly those of the
    // buckets prunedPaths keeps; the ColBound shim reads the same rows
    val langBound = Seq(ColBound("lang", "=", mid))
    val pruned = ResumableRun.readTable(spark, byLang).filter(l === mid)
    assert(filesRead(pruned) == fileCount(byLang, ResumableRun.prunedPaths(byLang, langBound)._1))
    assert(filesRead(pruned) < fileCount(byLang, paths(byLang)))
    assert(rows(ResumableRun.readTablePruned(spark, byLang, langBound)) == rows(pruned))
    val cut = ColBound.warcTs(">=", trueMax)
    val recent = ResumableRun.readTable(spark, byTime).filter(t >= at(trueMax))
    assert(filesRead(recent) == fileCount(byTime, ResumableRun.prunedPaths(byTime, Seq(cut))._1))
    assert(filesRead(recent) < fileCount(byTime, paths(byTime)))
  }

  test("hash-distributed staging writes one file per bucket; observe-stats equal a recomputation") {
    val dir = tmp()
    ResumableRun.run(spark, pages, dir, nBuckets = 8)
    val log = new SnapshotLog(dir)
    // round 6: staging repartitions by bucket before the partitioned write
    // (Iceberg hash distribution), so each bucket dir holds at most one
    // data file instead of tasks-x-buckets fragments
    log.committedBuckets().foreach { b =>
      assert(SnapshotLog.parquetFiles(log.bucketDataDir(b)).size <= 1,
        s"bucket $b fragmented") }
    // manifest stats come from the staged files' parquet footers — they
    // must equal an independent aggregation over the committed data
    val stats = log.bucketStats()
    assert(stats.nonEmpty)
    assert(stats == aggregatedStats(dir))
  }

  test("time travel reads each version's rows; manifest expiry bounds the log") {
    val dir = tmp()
    val nBuckets = 4
    // one bucket per run: versions 1 to 4, and the row count after each
    val counts = (1 to nBuckets).map { _ =>
      ResumableRun.run(spark, pages, dir, nBuckets, maxBuckets = 1)
      ResumableRun.readTable(spark, dir).count()
    }
    val log = new SnapshotLog(dir)
    assert(log.latestVersion() == nBuckets && counts.last == pages.count())
    assert(counts.zip(counts.tail).forall { case (a, b) => a < b }, s"a run committed no rows: $counts")
    assert(log.bucketStats() == aggregatedStats(dir))
    // committed bucket dirs never change: every version reads its own rows
    (1 to nBuckets).foreach(v =>
      assert(ResumableRun.readTable(spark, dir, version = Some(v)).count() == counts(v - 1), s"v$v"))

    val removed = log.expireManifests(keepLast = 2)
    assert(removed == Vector(1, 2))
    assert(log.expireManifests(keepLast = 2).isEmpty, "a second expiry reported deleted versions")
    assert(ResumableRun.readTable(spark, dir).count() == counts.last) // LATEST untouched
    intercept[IllegalArgumentException] {
      ResumableRun.readTable(spark, dir, version = Some(removed.head))
    }
  }

  private val lshQueries =
    Seq("dd_minhash_lsh", "dd_jaccard_lsh", "dd_simhash", "dd_embed_neardup", "ann_lsh", "ann_ivf")

  /** `query` over `dir` run as the benchmark's serving loop runs it: an
    * observed row count into a no-op sink. */
  private def runToSink(query: String, dir: String): Unit = {
    val obs = org.apache.spark.sql.Observation()
    SparkEntry.queries(query)(spark, dir).observe(obs, count(lit(1)).as("n"))
      .write.format("noop").mode("overwrite").save()
    assert(obs.get("n").asInstanceOf[Long] > 0, s"$query: no rows")
  }

  test("the LSH/ANN queries run a fixed number of Spark jobs per execution") {
    val dir = sf0001
    lshQueries.foreach(runToSink(_, dir)) // ann_ivf trains its centroids once
    val jobs = lshQueries.map(q => q -> jobsStarted(runToSink(q, dir))).toMap
    assert(jobs == Map("dd_minhash_lsh" -> 6, "dd_jaccard_lsh" -> 7, "dd_simhash" -> 3,
      "dd_embed_neardup" -> 7, "ann_lsh" -> 5, "ann_ivf" -> 5), jobs)
  }

  test("building the ops queries over parquet inputs starts no job before an action") {
    val dir = sf0001
    SparkEntry.queries("ann_ivf")(spark, dir) // trains and memoizes its centroids
    val written = tmp() + "/documents.parquet"
    spark.read.parquet(s"$dir/documents.parquet").repartition(3).write.parquet(written)
    val building = jobsStarted {
      OpsQueries.queries.keys.foreach(q => SparkEntry.queries(q)(spark, dir).queryExecution.executedPlan)
      graft.ops.Multimodal.mediaTable(spark, dir).queryExecution.executedPlan
      OpsQueries.input(spark, written).queryExecution.executedPlan
    }
    assert(building == 0, s"$building jobs before any action")
  }

  test("footer schema equals the schema spark.read.parquet infers") {
    val sp = spark
    import sp.implicits._
    val written = tmp() + "/t.parquet"
    Seq((1L, "a", java.sql.Timestamp.valueOf("2024-01-02 03:04:05"), Seq(1.5f), Map("k" -> 2),
        BigDecimal("1.25"), (3, "x")))
      .toDF("id", "s", "ts", "floats", "m", "dec", "st")
      .select(col("id"), col("s"), col("ts"), col("floats"), col("m"), col("dec"), col("st"),
        array(struct(col("id").as("i"))).as("nested"))
      .repartition(2).write.parquet(written)
    // every pyarrow-written input table (no Spark schema in the footer;
    // events and lineitem hold timestamp[us]), a Spark-written directory,
    // and one Spark-written file
    val part = Files.list(java.nio.file.Paths.get(written)).iterator().asScala
      .find(_.getFileName.toString.endsWith(".parquet")).get.toString
    val inputs = Seq("customer", "documents", "embeddings", "events", "lineitem",
      "nation", "orders", "part", "region", "supplier").map(t => s"$sf0001/$t.parquet")
    (inputs ++ Seq(written, part)).foreach { p =>
      assert(ResumableRun.footerSchema(p) == spark.read.parquet(p).schema, p)
    }
  }

  /** sha256 of a frame's rows as sorted `Row.toString` lines. */
  private def rowsDigest(df: org.apache.spark.sql.DataFrame): String =
    java.security.MessageDigest.getInstance("SHA-256")
      .digest(df.collect().map(_.toString).sorted.mkString("\n").getBytes("UTF-8"))
      .map("%02x".format(_)).mkString

  test("the rewritten serve queries return the rows of their earlier formulation") {
    // digests of the rows each query's earlier formulation returned at
    // sf0.001: the LSH/ANN queries with checkpointed groups, broadcast member
    // joins and a separate within-cluster generate; x_links_twopass with a
    // url Window forward fill; x_meta_summary with a pages scan joined by url
    val dir = sf0001
    Map(
      "dd_minhash_lsh" -> (28, "4b69c98ddc7dd3a56a99ac7d4cce33746999a6bda961eb9c5d97a48870b01daa"),
      "dd_jaccard_lsh" -> (28, "adc3f694f3b06b369df5307801bd4402af8a598d74c91f5d73b90f27e2e0f2f2"),
      "dd_embed_neardup" -> (100, "80e5f3a838f12f471439abec7e5e37ea7d88c57254941df5266656fa0d7aaa51"),
      "ann_lsh" -> (27, "fed6b0bbf5bb65b7662ff4276a07da0b58738952cff0e2f69fad8ccd14e0b537"),
      "dd_simhash" -> (500, "463761f610482552077998f5fc8d81ff0c333e50b591774c24c787aee9f09da7"),
      "ann_ivf" -> (50, "f15f99195bba70ce07b25dd141e9ee48cb799a469d68f7c07ade585e31e28719"),
      "x_links_twopass" -> (1301, "6a7059506d53ba965328daaffa33b5fc3362af897d261f4ab4cac54e6cd1cf3c"),
      "x_meta_summary" -> (500, "fd1c9afa820f6938916f5a11c6c3af13c9871fc626c4e1b12bd0da719576e7f4")
    ).foreach { case (q, (n, digest)) =>
      val df = SparkEntry.queries(q)(spark, dir)
      assert(df.count() == n, q)
      assert(rowsDigest(df) == digest, q)
    }
  }

  /** Exact 3-gram shingle Jaccard of every sf0.001 doc pair (a < b) that
    * shares a shingle, brute force on the driver over the space-split
    * tokens the minhash queries shingle (a doc under 3 tokens is one
    * shingle). */
  private lazy val shingleJaccard: Map[(Long, Long), Double] = {
    val docs = spark.read.parquet(s"$sf0001/documents.parquet")
      .select("doc_id", "text").collect().map(r => r.getLong(0) -> r.getString(1))
    def shingles(t: String): Set[String] = {
      val w = t.split(" ").filter(_.nonEmpty)
      if (w.isEmpty) Set.empty else w.sliding(3).map(_.mkString(" ")).toSet
    }
    val sets = docs.map { case (id, t) => id -> shingles(t) }.filter(_._2.nonEmpty).sortBy(_._1)
    (for {
      i <- sets.indices; j <- i + 1 until sets.length
      (a, sa) = sets(i); (b, sb) = sets(j)
      inter = sa.intersect(sb).size
      if inter > 0
    } yield (a, b) -> inter.toDouble / (sa.size + sb.size - inter)).toMap
  }

  test("dd_jaccard_lsh: precision and recall against brute-force all-pairs shingle Jaccard") {
    val brute = shingleJaccard.map { case (p, j) =>
      p -> new java.math.BigDecimal(j).setScale(4, java.math.RoundingMode.HALF_UP).doubleValue()
    }.filter(_._2 >= 0.8)
    val got = SparkEntry.queries("dd_jaccard_lsh")(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(brute.nonEmpty)
    val hits = got.keySet.intersect(brute.keySet)
    // precision 1: every reported pair is a true pair with its exact value
    assert(hits == got.keySet, s"false pairs: ${(got.keySet -- brute.keySet).take(5)}")
    assert(hits.forall(p => got(p) == brute(p)), "jaccard values differ")
    // recall: at J >= 0.8 a pair misses all 4 bands of 4 rows with
    // probability <= (1 - 0.8^4)^4 = 0.12; these pairs sit far above it
    assert(hits.size == brute.size, s"recall ${hits.size} of ${brute.size}: " +
      s"missed ${(brute.keySet -- hits).take(5)}")
  }

  test("dd_minhash_lsh: precision and recall against brute-force all-pairs shingle Jaccard") {
    val got = SparkEntry.queries("dd_minhash_lsh")(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    // sf0.001 holds 28 pairs at J >= 0.85 and none in [0.15, 0.85); all 28
    // are the 28 candidates. A pair is a candidate with probability
    // 1 - (1 - J^4)^4 (4 bands of 4 rows): >= 0.88 at J >= 0.8, and
    // <= 0.23 at J < 0.5, <= 2e-3 at the 4 pairs with 0.05 <= J < 0.15
    val similar = shingleJaccard.filter(_._2 >= 0.8).keySet
    assert(similar.nonEmpty)
    assert(similar.subsetOf(got), s"recall: missed ${(similar -- got).take(5)}")
    val low = got.filter(p => shingleJaccard.getOrElse(p, 0.0) < 0.5)
    assert(low.isEmpty, s"precision: candidates below J 0.5: ${low.take(5)}")
  }

  test("dd_simhash: bands are the 16-bit slices of simhash; pairs within Hamming 3 share one") {
    val rows = SparkEntry.queries("dd_simhash")(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1), (2 to 5).map(r.getLong)))
    // pigeonhole: 3 differing bits leave at least one of 4 disjoint bands equal
    val near = for {
      i <- rows.indices; j <- i + 1 until rows.length
      d = java.lang.Long.bitCount(rows(i)._2 ^ rows(j)._2)
      if d <= 3
    } yield (rows(i), rows(j), d)
    assert(near.exists(_._3 > 0)) // sf0.001: 4, 5, 9 and 9 pairs at distance 0 to 3
    near.foreach { case ((a, _, ba), (b, _, bb), d) =>
      assert(ba.zip(bb).exists { case (x, y) => x == y }, s"($a, $b) at Hamming $d share no band")
    }
    rows.foreach { case (id, h, bands) =>
      assert(bands == (0 until 4).map(i => (h >>> (16 * i)) & 0xffffL), s"doc $id")
    }
  }
}
