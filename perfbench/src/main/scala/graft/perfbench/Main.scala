package graft.perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{Column, DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._
import graft.extract.{BlockWalker, Extractor}
import graft.html.HtmlParser
import graft.lake.{ColBound, ResumableRun}
import graft.model.PageRow
import graft.pdf.PdfExtract
import graft.pipeline.Pipeline

/** Layered benchmark: one JVM, `local[nproc]`, one driver thread issuing
  * operations in a closed loop (client count 1) through the program's public
  * entry points. `--trace 0` prints the end-to-end metrics; `--trace 1`
  * prints the per-layer metrics, measured from outside the program (a
  * SparkListener, `ResumableRun.onPhase`, and single-thread calls into the
  * kernel modules). See perfbench/README.md for what each metric means. */
object Main {

  val Workloads = Seq("ingest_web", "ingest_heavy", "serve_reads")
  /** Pages per ingest operation, and rows of the served table. */
  val WebBatch = 8000
  val HeavyBatch = 300
  val ServeDocs = 2000
  val ServeVecs = 1000
  val Buckets = 16
  val SetupPasses = 3
  /** Untimed ingest iterations between set-up and the timed loop. Commit,
    * read and query times fall over a JVM's first ~10 commits as the JIT
    * compiles Spark's per-job paths; with the 3 set-up commits these start
    * the timed loop near the plateau. */
  val WarmupIterations = 6
  /** Urls per ingest operation whose stored text is compared byte for byte
    * with a direct `Extractor.extract` call. */
  val SampleChecks = 32
  val ServeQueries = Seq("x_links", "x_scores", "x_scores_reportable",
    "x_links_twopass", "x_content_stats", "x_meta", "x_meta_summary",
    "dd_minhash_lsh", "dd_jaccard_lsh", "dd_simhash", "dd_embed_neardup",
    "ann_lsh", "ann_ivf")
  /** Kernel-profile sample size per workload (single thread). */
  val ProfileSample = Map("ingest_web" -> 1500, "ingest_heavy" -> 100, "serve_reads" -> 1500)

  final case class Opts(workload: String, seed: Long, seconds: Double,
      trace: Boolean, work: Path, cores: Int)

  def parse(args: Array[String]): Opts = {
    val m = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val wl = m.getOrElse("workload", "")
    require(Workloads.contains(wl), s"unknown workload '$wl' (one of ${Workloads.mkString(", ")})")
    Opts(wl, m("seed").toLong, m("seconds").toDouble, m.getOrElse("trace", "0") == "1",
      Paths.get(m("work")).toAbsolutePath,
      m.get("cores").map(_.toInt).getOrElse(Runtime.getRuntime.availableProcessors()))
  }

  def main(args: Array[String]): Unit = {
    val o = parse(args)
    val jvmStartMs = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime.toDouble
    val b = new Bench(o, jvmStartMs)
    try b.run() finally b.spark.stop()
  }

  def pct(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      val pos = q * (s.size - 1)
      val lo = pos.toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }
  def median(xs: Seq[Double]): Double = pct(xs, 0.5)

  def time[T](f: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = f
    (r, (System.nanoTime() - t0) / 1e9)
  }

  def tsUs(p: PageRow): Long = p.warc_ts.getTime * 1000L

  def storedBytes(tableDir: String): (Long, Int) = {
    val files = Files.walk(Paths.get(tableDir)).iterator().asScala
      .filter(f => Files.isRegularFile(f) && f.getFileName.toString.endsWith(".parquet")).toVector
    (files.map(Files.size).sum, files.size)
  }
}

/** One benchmark run. */
final class Bench(o: Main.Opts, jvmStartMs: Double) {
  import Main._

  private def say(s: String): Unit = println(s"[perfbench] $s")

  val (spark: SparkSession, firstJobS: Double) = {
    val (s, t1) = time(SparkSession.builder()
      .master(s"local[${o.cores}]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", o.cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", o.work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", o.work.resolve("warehouse").toString)
      .getOrCreate())
    s.sparkContext.setLogLevel("ERROR")
    val (_, t2) = time(s.range(1).count())
    (s, t1 + t2)
  }

  private val tracer = new Tracer
  private val listener = new StageListener
  if (o.trace) spark.sparkContext.addSparkListener(listener)

  // ---- samples ----------------------------------------------------------
  private val setupPassS = ArrayBuffer[Double]()
  private val buildDocsPerS = ArrayBuffer[Double]()
  private val commitS = ArrayBuffer[Double]()
  private val readMs = ArrayBuffer[Double]()
  /** (query name, seconds) of every timed query. */
  private val queryS = ArrayBuffer[(String, Double)]()
  private var attempted = 0
  /** Operations that threw or failed a check; each counts once. */
  private val failedOps = scala.collection.mutable.LinkedHashSet[String]()
  private var currentOp = ""
  private var setupOk = true
  private val failures = ArrayBuffer[String]()
  private var bytesRatio = Double.NaN
  private var bytesPerDoc = Double.NaN
  private var filesWritten = Double.NaN
  private val fallbackFrac = ArrayBuffer[Double]()
  private val fallbackByClass = ArrayBuffer[Map[String, Long]]()
  private var coldExtraS = Double.NaN
  private val buildS = ArrayBuffer[Double]()
  /** (op id, kind, name, traced, seconds) of every timed operation. */
  private val opLog = ArrayBuffer[(String, String, String, Boolean, Double)]()
  private val pruneMs = ArrayBuffer[Double]()
  private val openedFrac = ArrayBuffer[Double]()
  private val readRows = scala.collection.mutable.HashMap[String, Long]()
  private var kernelSample: Vector[PageRow] = Vector.empty
  private var opSeq = 0
  /** Operations issued inside the timed loop (not set-up or warm-up). */
  private val timedOps = scala.collection.mutable.HashSet[String]()
  private var inLoop = false

  /** Random source of the benchmark's own seeded choices: samples and the
    * read mix. */
  private def seededRandom() = new scala.util.Random(Gen.rng(o.seed, 97).nextLong())

  private def fail(opId: String, what: String): Unit = {
    failedOps += opId
    if (failures.size < 20) failures += what
  }

  /** Runs one timed operation under its own job group (the span id the
    * listener keys on). In traced runs every other operation is timed
    * without the phase hook, to estimate tracing overhead; a cycle of an odd
    * number of operations alternates which ones. Returns the
    * result (None if it threw) and the seconds it took. */
  private def op[T](kind: String, name: String)(body: => T): (Option[T], Double) = {
    opSeq += 1
    val id = s"op$opSeq"
    currentOp = id
    val traced = o.trace && opSeq % 2 == 1
    val phases = ArrayBuffer[(String, Double, Double)]()
    if (traced) ResumableRun.onPhase = (ph: String, s: Double) => {
      val end = tracer.nowMs
      phases += ((ph, end - s * 1000, end))
    }
    spark.sparkContext.setJobGroup(id, s"$kind:$name", interruptOnCancel = false)
    val start = tracer.nowMs
    val t0 = System.nanoTime()
    val r = try Some(body) catch {
      case e: Throwable =>
        fail(id, s"$kind $name threw ${e.getClass.getSimpleName}: ${e.getMessage}")
        None
    }
    val secs = (System.nanoTime() - t0) / 1e9
    val end = tracer.nowMs
    ResumableRun.onPhase = null
    spark.sparkContext.clearJobGroup()
    attempted += 1
    opLog += ((id, kind, name, traced, secs))
    if (inLoop) timedOps += id
    if (o.trace) {
      val sid = tracer.add(-1, id, kind, name, start, end)
      phases.foreach { case (ph, s, e) => tracer.add(sid, id, "phase", ph, s, e) }
    }
    (r, secs)
  }

  /** A check on the output of the operation that ran last. */
  private def check(ok: Boolean, what: => String): Unit = if (!ok) fail(currentOp, what)

  private def tableDir(name: String): String = o.work.resolve("tables").resolve(name).toString

  /** One read through the lake's pruned path: manifest pruning by
    * `bounds`, then the row filter, then count, checked against `expected`
    * (the input row count, or a full-scan count). Traced runs also time the
    * pruning plan on its own and record the buckets it opens. */
  private def read(table: String, name: String, bounds: Seq[ColBound], rowFilter: Column,
      expected: Long, timed: Boolean): Unit = {
    val (n, s) = op("read", name)(
      ResumableRun.readTablePruned(spark, table, bounds).filter(rowFilter).count())
    if (timed) readMs += s * 1000
    check(n.forall(_ == expected), s"read $name of $table: ${n.getOrElse(-1)} rows, expected $expected")
    if (o.trace && timed) {
      val id = opLog.last._1
      val ((kept, skipped), ps) = time(ResumableRun.prunedPaths(table, bounds))
      pruneMs += ps * 1000
      openedFrac += kept.size.toDouble / math.max(1, kept.size + skipped.size)
      n.foreach(v => readRows(id) = v)
    }
  }

  private def recordFallbacks(errors: Seq[String], rows: Long): Unit = {
    val byClass = errors.groupBy(_.takeWhile(_ != ':')).map { case (k, v) => k -> v.size.toLong }
    fallbackByClass += byClass
    fallbackFrac += errors.size.toDouble / math.max(1L, rows)
  }

  private def recordStorage(table: String, inputBytes: Long, docs: Int): Unit = {
    val (bytes, files) = storedBytes(table)
    bytesRatio = bytes.toDouble / inputBytes
    bytesPerDoc = bytes.toDouble / docs
    filesWritten = files
  }

  private def printProps(p: Gen.Props, hash: String): Unit = {
    say(s"input ${p.render}")
    say(s"input sha256=$hash")
  }

  def run(): Unit = {
    val rt = java.lang.management.ManagementFactory.getRuntimeMXBean
    say(s"host nproc=${o.cores} mem_total_kb=${memTotalKb()} max_heap_mb=${Runtime.getRuntime.maxMemory >> 20} " +
      s"jvm=${System.getProperty("java.version")} spark=${spark.version} " +
      s"""master=local[${o.cores}] jvm_flags="${rt.getInputArguments.asScala.filterNot(_.startsWith("--add-opens")).mkString(" ")}"""")
    say(s"workload=${o.workload} seed=${o.seed} seconds=${o.seconds} trace=${if (o.trace) 1 else 0} clients=1 loop=closed")
    o.workload match {
      case "ingest_web" => ingest(heavy = false)
      case "ingest_heavy" => ingest(heavy = true)
      case "serve_reads" => serve()
    }
    finish()
  }

  /** (steal, total) jiffies of all CPUs, from /proc/stat: the share of CPU
    * time the hypervisor gave to other guests during the run. */
  private def cpuSteal(): (Long, Long) =
    try {
      val f = Files.readAllLines(Paths.get("/proc/stat")).get(0).trim.split("\\s+").drop(1).map(_.toLong)
      (if (f.length > 7) f(7) else 0L, f.sum)
    } catch { case _: Throwable => (0L, 1L) }
  private val steal0 = cpuSteal()

  private def memTotalKb(): Long =
    try Files.readAllLines(Paths.get("/proc/meminfo")).asScala
      .find(_.startsWith("MemTotal:")).map(_.replaceAll("[^0-9]", "").toLong).getOrElse(-1L)
    catch { case _: Throwable => -1L }

  // ---- ingest_web / ingest_heavy ---------------------------------------
  private def ingest(heavy: Boolean): Unit = {
    val n = if (heavy) HeavyBatch else WebBatch
    val batchDir = o.work.resolve("inputs").resolve("batch").toString
    val ((inputProps, checkPages), genS) = time {
      val pages = if (heavy) Gen.heavyPages(o.seed, n) else Gen.webPages(o.seed, n)
      val props = Gen.props(pages)
      printProps(props, Gen.hashPages(pages))
      import spark.implicits._
      // the stored batch is 2 files per core, so every core has input
      spark.sparkContext.parallelize(pages, 2 * o.cores).toDF()
        .write.mode("overwrite").parquet(batchDir)
      val rnd = seededRandom()
      kernelSample = rnd.shuffle(pages).take(ProfileSample(o.workload)).toVector
      val checks = rnd.shuffle(pages).take(SampleChecks).toVector
      (props, checks)
    }
    say(f"input generated_and_stored_in_s=$genS%.3f (excluded from setup_s)")

    // set-up: SetupPasses commits of the batch into fresh tables; the first
    // is measured from JVM start (session start, first job, cold codegen)
    var linksExpected = -1L
    (1 to SetupPasses).foreach { k =>
      val dir = tableDir(s"setup-$k")
      val passStart = System.nanoTime()
      val (_, s) = op("setup", "commit")(ResumableRun.run(spark, spark.read.parquet(batchDir), dir, Buckets))
      recordSetupPass(k, s, passStart, genS)
      buildDocsPerS += n / s
      if (k == 1) {
        val rows = ResumableRun.readTable(spark, dir).count()
        if (rows != n) { setupOk = false; failures += s"setup commit rows $rows != $n" }
        linksExpected = Pipeline.linksTable(ResumableRun.readTable(spark, dir)).count()
      }
      graft.lake.SnapshotLog.deleteRecursively(Paths.get(dir))
    }
    // direct single-thread references for the byte-equality checks
    val refs = checkPages.map(p => p.url -> Extractor.extract(p.html, p.text, tsUs(p))).toMap

    // untimed iterations first, with every check, like serve_reads'
    // warm-up cycle (see WarmupIterations)
    def iteration(tag: String, timed: Boolean): Unit = {
      val dir = tableDir(tag)
      val (done, s) = op("commit", "commit")(ResumableRun.run(spark, spark.read.parquet(batchDir), dir, Buckets))
      val commitOp = currentOp
      if (done.isDefined) {
        if (timed) commitS += s
        read(dir, "read_all", Nil, lit(true), n, timed)
        val (links, qs) = op("query", "links")(Pipeline.linksTable(ResumableRun.readTable(spark, dir)).count())
        if (timed) queryS += (("links", qs))
        check(links.forall(_ == linksExpected), s"$tag: links rows ${links.getOrElse(-1)} != $linksExpected")
        checkSample(dir, refs, commitOp, n)
        recordStorage(dir, inputProps.bytes, n)
      }
      graft.lake.SnapshotLog.deleteRecursively(Paths.get(dir))
    }
    val (_, warmS) = time((1 to WarmupIterations).foreach(k => iteration(s"warm-$k", timed = false)))
    say(f"warm-up iterations=$WarmupIterations in $warmS%.3f s")
    val loopStart = System.nanoTime()
    inLoop = true
    var i = 1
    while (i == 1 || (System.nanoTime() - loopStart) / 1e9 < o.seconds) {
      iteration(s"op-$i", timed = true)
      i += 1
    }
    say(f"timed iterations=${i - 1} in ${(System.nanoTime() - loopStart) / 1e9}%.3f s")
  }

  /** Records set-up pass `k`, whose build took `s` seconds. Pass 1 counts
    * from JVM start, less the input generation time. */
  private def recordSetupPass(k: Int, s: Double, passStart: Long, genS: Double): Unit = {
    if (failedOps.nonEmpty) throw new IllegalStateException(s"set-up pass $k failed: ${failures.mkString("; ")}")
    if (k == 1) {
      val sinceJvm = (System.currentTimeMillis() - jvmStartMs) / 1000.0
      setupPassS += sinceJvm - genS
      say(f"setup pass 1: process start to ready ${sinceJvm - genS}%.3f s (build $s%.3f s, first job $firstJobS%.3f s)")
    } else {
      val total = (System.nanoTime() - passStart) / 1e9
      setupPassS += total
      say(f"setup pass $k: $total%.3f s")
    }
    buildS += s
    if (k == SetupPasses) coldExtraS = buildS.head - median(buildS.tail.toSeq)
  }

  /** One scan of the committed table for the sampled urls and every
    * fallback row: byte-compares the sample, and counts fallbacks by error
    * class. */
  private def checkSample(dir: String, refs: Map[String, graft.model.ExtractResult], opId: String,
      rows: Long): Unit = {
    val hit = ResumableRun.readTable(spark, dir)
      .filter(col("url").isin(refs.keys.toSeq: _*) || col("error").isNotNull)
      .select("url", "extracted_text", "error").collect()
    recordFallbacks(hit.flatMap(r => Option(r.getString(2))).toSeq, rows)
    val got = hit.filter(r => refs.contains(r.getString(0)))
      .map(r => r.getString(0) -> (r.getString(1), r.getString(2))).toMap
    refs.foreach { case (url, ref) =>
      got.get(url) match {
        case None => fail(opId, s"$opId: $url missing from the committed table")
        case Some((text, err)) =>
          if (text != ref.extractedText) fail(opId, s"$opId: extracted_text of $url differs from Extractor.extract")
          if ((err == null) != (ref.error == null)) fail(opId, s"$opId: error of $url: '$err' vs '${ref.error}'")
      }
    }
  }

  // ---- serve_reads -----------------------------------------------------
  private def serve(): Unit = {
    val genDir = o.work.resolve("inputs").resolve("serve").toString
    val ((props, pages), genS) = time {
      val docs = Gen.documents(o.seed, ServeDocs)
      val vecs = Gen.embeddings(o.seed, ServeVecs)
      val pages = docs.map(d => graft.synth.Synth.pageFor(d.docId, d.text, d.lang))
      val props = Gen.props(pages)
      printProps(props, Gen.hashTables(docs, vecs))
      import spark.implicits._
      // the pages source reads documents.parquet as one file, like the
      // tables it was written for
      def writeOneFile(df: DataFrame, name: String): Unit = {
        val tmp = s"$genDir/_$name"
        df.coalesce(1).write.mode("overwrite").parquet(tmp)
        val part = Files.list(Paths.get(tmp)).iterator().asScala
          .find(_.getFileName.toString.endsWith(".parquet")).get
        Files.move(part, Paths.get(s"$genDir/$name.parquet"))
        graft.lake.SnapshotLog.deleteRecursively(Paths.get(tmp))
      }
      writeOneFile(docs.map(d => (d.docId, d.text, d.lang, s"src${d.docId % 7}", d.text.length.toLong))
        .toDF("doc_id", "text", "lang", "source", "n_chars"), "documents")
      writeOneFile(vecs.map(v => (v.vecId, v.embedding.toSeq, v.label))
        .toDF("vec_id", "embedding", "label"), "embeddings")
      (props, pages)
    }
    kernelSample = seededRandom().shuffle(pages).take(ProfileSample(o.workload))
    say(f"input generated_and_stored_in_s=$genS%.3f (excluded from setup_s)")

    // set-up pass 1 builds the committed table the x_* queries read, through
    // Pipeline.extractedCommitted; passes 2.. rebuild it the same way
    // (ResumableRun over the pages source) into tables the reads use
    var table = ""
    (1 to SetupPasses).foreach { k =>
      val passStart = System.nanoTime()
      val (_, s) =
        if (k == 1) op("setup", "build")(Pipeline.extractedCommitted(spark, genDir))
        else {
          table = tableDir(s"serve-$k")
          op("setup", "build")(ResumableRun.run(spark, Pipeline.pages(spark, genDir), table, Buckets))
        }
      recordSetupPass(k, s, passStart, genS)
      buildDocsPerS += ServeDocs / s
      if (k > 2) graft.lake.SnapshotLog.deleteRecursively(Paths.get(tableDir(s"serve-${k - 1}")))
    }
    val rows = ResumableRun.readTable(spark, table).count()
    if (rows != ServeDocs) { setupOk = false; failures += s"served table rows $rows != $ServeDocs" }
    recordStorage(table, props.bytes, ServeDocs)
    recordFallbacks(ResumableRun.readTable(spark, table).filter(col("error").isNotNull)
      .select("error").collect().map(_.getString(0)).toSeq, ServeDocs)

    // seeded read mix: warc_ts ranges of 1-50% selectivity, half with a
    // lang equality bound; expected counts come from one full scan, counted
    // on the Spark driver
    val rnd = seededRandom()
    val base = java.time.Instant.ofEpochMilli(graft.synth.Synth.tsFor(0).getTime)
    val allRows = ResumableRun.readTable(spark, table).select("warc_ts", "lang").collect()
      .map(r => (r.getTimestamp(0).toInstant, r.getString(1)))
    val reads = (0 until 8).map { j =>
      val sel = Seq(0.01, 0.05, 0.2, 0.5)(j % 4)
      val span = math.max(1, (sel * ServeDocs).toInt)
      val startDoc = rnd.nextInt(ServeDocs - span + 1)
      val lo = base.plusSeconds(600L * startDoc)
      val hi = base.plusSeconds(600L * (startDoc + span - 1))
      val lang = if (j % 2 == 1) Some(Seq("en", "de", "fr", "es", "zh", "ja")(rnd.nextInt(6))) else None
      val bounds = Seq(ColBound.warcTs(">=", lo), ColBound.warcTs("<=", hi)) ++
        lang.map(l => ColBound("lang", "=", l))
      val f = lang.foldLeft(col("warc_ts") >= lit(java.sql.Timestamp.from(lo)) &&
        col("warc_ts") <= lit(java.sql.Timestamp.from(hi)))((c, l) => c && col("lang") === l)
      val name = f"read_${(sel * 100).toInt}%02dpct" + lang.map("_" + _).getOrElse("")
      val expected = allRows.count { case (ts, l) =>
        !ts.isBefore(lo) && !ts.isAfter(hi) && lang.forall(_ == l) }.toLong
      (s"$name#$j", bounds, f, expected)
    }
    val cycle = rnd.shuffle(reads.map(r => Left(r): Either[(String, Seq[ColBound], Column, Long), String]) ++
      ServeQueries.map(q => Right(q)))
    say(s"cycle: ${cycle.map(_.fold(_._1, identity)).mkString(" ")}")

    val firstCount = scala.collection.mutable.HashMap[String, Long]()
    def runCycle(timed: Boolean): Unit = cycle.foreach {
      case Left((name, bounds, f, expected)) => read(table, name, bounds, f, expected, timed)
      case Right(q) =>
        val (n, s) = op("query", q) {
          val obs = Observation()
          graft.SparkEntry.queries(q)(spark, genDir).observe(obs, count(lit(1)).as("n"))
            .write.format("noop").mode("overwrite").save()
          obs.get("n").asInstanceOf[Long]
        }
        if (timed) queryS += ((q, s))
        n.foreach { v =>
          val want = firstCount.getOrElseUpdate(q, v)
          check(v == want, s"query $q: $v rows, first cycle gave $want")
        }
        if (n.isEmpty) firstCount.getOrElseUpdate(q, -1L)
    }
    val (_, warmS) = time(runCycle(timed = false))
    say(f"warm-up cycle $warmS%.3f s (first-cycle counts: ${firstCount.toSeq.sorted.map(kv => s"${kv._1}=${kv._2}").mkString(" ")})")
    val loopStart = System.nanoTime()
    inLoop = true
    var cycles = 0
    while (cycles == 0 || (System.nanoTime() - loopStart) / 1e9 < o.seconds) {
      runCycle(timed = true)
      cycles += 1
    }
    say(f"timed cycles=$cycles in ${(System.nanoTime() - loopStart) / 1e9}%.3f s")
  }

  // ---- kernel layers (single thread, the workload's own pages) --------
  private def kernelProfile(): Map[String, Double] = {
    val sample = kernelSample
    val html = sample.filter(p => p.html != null && p.html.nonEmpty && !Extractor.isPdf(p.html))
    val pdf = sample.filter(p => p.html != null && Extractor.isPdf(p.html))
    def parse(p: PageRow) = HtmlParser.parse(new String(p.html, UTF_8))
    def us(f: => Any): Double = {
      val t0 = System.nanoTime()
      try f catch { case _: Throwable => () }
      (System.nanoTime() - t0) / 1e3
    }
    // cumulative stages, timed back to back on each document so JIT and
    // machine drift fall on all stages alike; two passes, the first warms up
    val (parseUs, walkUs, bodyUs, fullUs) = (0 until 2).map { _ =>
      val t = html.map { p =>
        (us(parse(p)),
          us { val d = parse(p); BlockWalker.walk(d.find("body").getOrElse(d)) },
          us(Extractor.extract(p.html, p.text, tsUs(p), bodyOnly = true)),
          us(Extractor.extract(p.html, p.text, tsUs(p))))
      }
      val k = math.max(1, t.size).toDouble
      (t.map(_._1).sum / k, t.map(_._2).sum / k, t.map(_._3).sum / k, t.map(_._4).sum / k)
    }.last
    val pdfUs = (0 until 2).map(_ =>
      pdf.map(p => us(PdfExtract.extract(p.html, p.text, tsUs(p)))).sum / math.max(1, pdf.size)).last
    val each = sample.map(p => us(Extractor.extract(p.html, p.text, tsUs(p))))
    Map("html.parse_us_per_doc" -> parseUs,
      "extract.walk_us_per_doc" -> (walkUs - parseUs),
      "extract.render_us_per_doc" -> (bodyUs - walkUs),
      "extract.sections_us_per_doc" -> (fullUs - bodyUs),
      "extract.doc_us_p50" -> pct(each, 0.5),
      "extract.doc_us_p99" -> pct(each, 0.99),
      "extract.doc_us_mean" -> each.sum / math.max(1, each.size),
      "pdf.extract_us_per_doc" -> pdfUs)
  }

  // ---- results ---------------------------------------------------------
  /** Heap in use after full collections. Spark's ContextCleaner frees
    * shuffle and checkpoint state asynchronously once a collection has
    * found their RDDs unreachable, so collect until the figure settles. */
  private def heapAfterGcMb(): Double = {
    val mem = java.lang.management.ManagementFactory.getMemoryMXBean
    def used(): Double = { System.gc(); mem.getHeapMemoryUsage.getUsed / 1048576.0 }
    var prev = used(); var cur = prev; var rounds = 0
    do { Thread.sleep(300); prev = cur; cur = used(); rounds += 1 }
    while (rounds < 10 && math.abs(cur - prev) > 0.5)
    cur
  }

  private def finish(): Unit = {
    kernelSample = if (o.trace) kernelSample else Vector.empty
    val layers = if (o.trace) perLayer() else Map.empty[String, (Double, String)]
    kernelSample = Vector.empty
    val heapMb = heapAfterGcMb()
    val e2e = Seq(
      ("setup_s", median(setupPassS.toSeq), "s", setupPassS.size),
      ("ingest_docs_per_s", median((if (commitS.nonEmpty) commitS.map(s => docsPerOp / s) else buildDocsPerS).toSeq), "1/s",
        if (commitS.nonEmpty) commitS.size else buildDocsPerS.size),
      ("read_ms_p50", pct(readMs.toSeq, 0.5), "ms", readMs.size),
      ("query_s_mean", queryMixS, "s", queryS.size),
      ("bytes_stored_per_input_byte", bytesRatio, "ratio", 1),
      ("retained_heap_mb", heapMb, "MB", 1))
    // printed, not gated: too few samples per run to repeat (README.md)
    val info = Seq(
      ("read_ms_p90", pct(readMs.toSeq, 0.9), "ms", readMs.size),
      ("query_s_p50", pct(queryS.map(_._2).toSeq, 0.5), "s", queryS.size),
      ("query_s_p90", pct(queryS.map(_._2).toSeq, 0.9), "s", queryS.size))
    (e2e ++ info).foreach { case (k, v, u, n) => say(f"metric $k = $v%.6f $u (n=$n)") }
    def show(xs: Seq[Double]) = xs.map(x => f"$x%.3f").mkString(" ")
    say(s"samples setup_pass_s=[${show(setupPassS.toSeq)}] commit_s=[${show(commitS.toSeq)}] " +
      s"read_ms=[${show(readMs.toSeq)}] query_s=[${show(queryS.map(_._2).toSeq)}] " +
      s"fallback_frac=[${fallbackFrac.map(x => f"$x%.4f").mkString(" ")}]")
    val steal1 = cpuSteal()
    say(f"host cpu_steal_share=${(steal1._1 - steal0._1).toDouble / math.max(1L, steal1._2 - steal0._2)}%.4f during the run")
    val fb = if (fallbackFrac.nonEmpty) median(fallbackFrac.toSeq) else 0.0
    say(f"metric fallback_frac = $fb%.6f ratio (n=${fallbackFrac.size})")
    val failed = failedOps.size
    say(f"metric failed_frac = ${failed.toDouble / math.max(1, attempted)}%.6f ratio (n=$attempted)")
    failures.foreach(f => say(s"FAILED $f"))
    val correct = failed == 0 && setupOk
    val metrics: Seq[(String, Double, String)] =
      if (o.trace) layers.toSeq.sortBy(_._1).map { case (k, (v, u)) => (k, v, u) }
      else e2e.map { case (k, v, u, _) => (k, v, u) }
    if (o.trace) metrics.foreach { case (k, v, u) => say(f"layer $k = $v%.6f $u") }
    val json = metrics.map { case (k, v, u) =>
      val num = if (v.isNaN || v.isInfinite) "0" else java.math.BigDecimal.valueOf(v).toPlainString
      s""""$k": {"value": $num, "unit": "$u"}"""
    }.mkString(", ")
    val line = s"""{"correct": $correct, "attempted": ${math.max(1, attempted)}, "failed": $failed, "metrics": {$json}}"""
    val results = o.work.resolve("results")
    Files.createDirectories(results)
    val tag = s"${o.workload}-seed${o.seed}-trace${if (o.trace) 1 else 0}"
    Files.write(results.resolve(s"$tag.json"), (line + "\n").getBytes(UTF_8))
    if (o.trace) Files.write(results.resolve(s"$tag-spans.json"), tracer.toJson.getBytes(UTF_8))
    println(line)
  }

  /** Mean over the distinct queries of each query's median latency: every
    * query of a mix weighs the same, and one slow sample moves only its own
    * query's median. */
  private def queryMixS: Double = {
    val perQuery = queryS.groupBy(_._1).values.map(xs => median(xs.map(_._2).toSeq))
    perQuery.sum / perQuery.size
  }

  private def docsPerOp: Double = if (o.workload == "ingest_heavy") HeavyBatch else WebBatch

  /** Per-layer metrics of a traced run. */
  private def perLayer(): Map[String, (Double, String)] = {
    // let the listener bus deliver the last events
    var last = -1; var quiet = 0
    while (quiet < 5) { Thread.sleep(100); val n = listener.jobs.size; if (n == last) quiet += 1 else { quiet = 0; last = n } }
    val opSpans = tracer.spans.filter(_.parent == -1).toVector
    opSpans.foreach(s => tracer.attachSpark(s, listener))
    val byId = opSpans.map(s => s.op -> s).toMap
    val out = scala.collection.mutable.LinkedHashMap[String, (Double, String)]()
    def put(k: String, v: Double, u: String): Unit = out(k) = (if (v.isNaN) 0.0 else v, u)

    val kernel = kernelProfile()
    kernel.foreach { case (k, v) => if (k != "extract.doc_us_mean") put(k, v, "us") }

    // commit operations: loop commits for ingest, set-up rebuilds for serve
    val commits = opLog.filter { case (_, k, nm, tr, _) =>
      tr && (k == "commit" || (o.workload == "serve_reads" && k == "setup" && nm == "build"))
    }.map(_._1).filter(id => id != "op1" && // op1 is the cold first build
      byId.contains(id) && tracer.children(byId(id).id).exists(_.kind == "phase"))
    val docs = if (o.workload == "serve_reads") ServeDocs.toDouble else docsPerOp
    def phaseS(ph: String) = median(commits.flatMap(id =>
      tracer.children(byId(id).id).filter(_.name == ph).map(_.ms / 1000)).toSeq)
    put("pipeline.hot_domains_s", phaseS("hot_domains"), "s")
    put("lake.stage_write_s", phaseS("stage_write"), "s")
    put("lake.stats_agg_s", phaseS("stats_agg"), "s")
    put("lake.commit_loop_s", phaseS("commit_loop"), "s")
    val stageWrite = commits.map { id =>
      val ph = tracer.children(byId(id).id).find(_.name == "stage_write")
      val st = listener.stagesOf(id).filter(s => ph.exists(p => s.startMs >= p.startMs - 1 && s.startMs <= p.endMs + 1))
      (st.filter(_.shuffleWrite > 0), st.filter(s => s.shuffleWrite == 0 && s.shuffleRead > 0))
    }
    val kStage = stageWrite.map(_._1)
    put("plans.kernel_stage_task_s", median(kStage.map(_.map(_.taskS).sum).toSeq), "s")
    put("plans.kernel_stage_cpu_s", median(kStage.map(_.map(_.cpuNs / 1e9).sum).toSeq), "s")
    put("plans.kernel_stage_skew", median(kStage.flatMap(_.map { s =>
      val t = s.taskRunMs.toSeq; if (t.isEmpty) Double.NaN else t.max / math.max(1e-9, median(t)) }).toSeq), "ratio")
    put("lake.write_stage_task_s", median(stageWrite.map(_._2.map(_.taskS).sum).toSeq), "s")
    val commitStages = commits.map(listener.stagesOf)
    put("spark.shuffle_write_bytes_per_doc", median(commitStages.map(_.map(_.shuffleWrite).sum / docs).toSeq), "bytes")
    put("spark.spill_bytes", median(commitStages.map(_.map(_.spill).sum.toDouble).toSeq), "bytes")
    put("spark.gc_s", median(commitStages.map(_.map(_.gcMs).sum / 1000.0).toSeq), "s")
    put("lake.files_written", filesWritten, "count")
    put("lake.bytes_stored_per_doc", bytesPerDoc, "bytes")
    put("fallback_frac", if (fallbackFrac.nonEmpty) median(fallbackFrac.toSeq) else 0.0, "ratio")
    val classes = fallbackByClass.lastOption.getOrElse(Map.empty)
    put("extract.fallback_docs", classes.values.sum.toDouble, "count")
    put("extract.fallback_docs_stack_overflow", classes.getOrElse("StackOverflowError", 0L).toDouble, "count")
    put("extract.fallback_docs_other", (classes - "StackOverflowError").values.sum.toDouble, "count")
    say(s"fallback classes: ${if (classes.isEmpty) "none" else classes.map { case (k, v) => s"$k=$v" }.mkString(" ")}")

    // reads
    val reads = opLog.filter(r => r._2 == "read" && r._4).map(_._1)
    put("lake.prune_plan_ms", if (pruneMs.nonEmpty) median(pruneMs.toSeq) else Double.NaN, "ms")
    put("lake.buckets_opened_frac", if (openedFrac.nonEmpty) median(openedFrac.toSeq) else 1.0, "ratio")
    put("lake.rows_scanned_per_row_returned", median(reads.flatMap { id =>
      val n = readRows.getOrElse(id, -1L)
      if (n > 0) Some(listener.stagesOf(id).map(_.inputRecords).sum.toDouble / n) else None
    }.toSeq), "ratio")
    put("lake.read_input_bytes", median(reads.map(id => listener.stagesOf(id).map(_.inputBytes).sum.toDouble).toSeq), "bytes")

    // queries
    ServeQueries.foreach { q =>
      val ids = opLog.filter(r => r._2 == "query" && r._3 == q && r._4)
      put(s"ops.${q}_s", median(ids.map(_._5).toSeq), "s")
      put(s"ops.${q}_shuffle_bytes", median(ids.map(r => listener.stagesOf(r._1).map(_.shuffleWrite).sum.toDouble).toSeq), "bytes")
    }

    put("setup.first_job_s", firstJobS, "s")
    put("setup.cold_commit_extra_s", coldExtraS, "s")

    // reconciliation: kernel µs/doc x docs vs the kernel stage's task time;
    // phases vs operation wall time
    val kernelTaskS = out("plans.kernel_stage_task_s")._1
    val kernelModelS = kernel("extract.doc_us_mean") * docs / 1e6
    put("reconcile.kernel_residual_frac", if (kernelTaskS > 0) (kernelTaskS - kernelModelS) / kernelTaskS else Double.NaN, "ratio")
    put("reconcile.phase_residual_frac", median(commits.map { id =>
      val s = byId(id); val ph = tracer.children(s.id).filter(_.kind == "phase").map(_.ms).sum
      (s.ms - ph) / s.ms }.toSeq), "ratio")
    say(f"reconcile kernel: ${kernel("extract.doc_us_mean")}%.1f us/doc x $docs%.0f docs / ${o.cores} cores = ${kernelModelS / o.cores}%.3f s " +
      f"vs kernel stage task time / cores = ${kernelTaskS / o.cores}%.3f s")

    // tracing overhead: traced vs untraced timed operations of one kind
    // (the serve query mix is left out: its two halves are different queries)
    val ratios = opLog.filter(r => timedOps.contains(r._1) &&
        !(o.workload == "serve_reads" && r._2 == "query")).groupBy(_._2).values.flatMap { rs =>
      val t = rs.filter(_._4).map(_._5); val u = rs.filterNot(_._4).map(_._5)
      if (t.nonEmpty && u.nonEmpty) Some(median(t.toSeq) / median(u.toSeq) - 1) else None
    }
    put("trace.overhead_frac", median(ratios.toSeq), "ratio")
    out.toMap
  }
}
