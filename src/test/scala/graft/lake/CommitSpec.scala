package graft.lake

import java.nio.file.{Files, Paths}
import java.nio.file.attribute.PosixFilePermissions
import java.util.concurrent.ConcurrentLinkedQueue
import scala.jdk.CollectionConverters._
import org.apache.hadoop.fs.{FileSystem, LocalFileSystem, Path}
import org.apache.spark.ListenerDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite
import graft.pipeline.Pipeline

/** The commit's fixed-cost paths: the one-action hot-domain pass, the
  * staging write's task layout (one job per run, one task per core at
  * most, each bucket in exactly one task) and the in-process permission
  * setting of staged files. */
class CommitSpec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _

  override def beforeAll(): Unit = {
    spark = SparkSession.builder()
      .master("local[4]")
      .appName("graft-commit-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
  }
  override def afterAll(): Unit = if (spark != null) spark.stop()

  private def tmp(): String = Files.createTempDirectory("graft-commit-test").toString

  private lazy val pages = Pipeline.pages(spark, "/root/testdata/sf0.001").cache()

  /** Records written by each task of the one stage that wrote records while
    * `f` ran (the staging write), zero-record tasks of that stage included. */
  private def writeStageTasks(f: => Unit): Vector[Long] = {
    val sc = spark.sparkContext
    val tasks = new ConcurrentLinkedQueue[(Int, Long)]()
    val listener = new SparkListener {
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
        if (e.taskMetrics != null)
          tasks.add(e.stageId -> e.taskMetrics.outputMetrics.recordsWritten)
    }
    ListenerDrain(sc)
    sc.addSparkListener(listener)
    try f finally { ListenerDrain(sc); sc.removeSparkListener(listener) }
    val writing = tasks.asScala.toVector.groupBy(_._1).filter(_._2.exists(_._2 > 0))
    assert(writing.size == 1, s"expected one stage writing records: $writing")
    writing.head._2.map(_._2)
  }

  /** The committed table's rows at `version` (the latest when `None`) as a
    * sorted multiset of strings. */
  private def tableRows(dir: String, version: Option[Int] = None): Vector[String] =
    ResumableRun.readTable(spark, dir, version).collect().map(_.toString).sorted.toVector

  /** Nothing is left under the table's `_tmp`, and `data/` holds exactly
    * the buckets the latest manifest lists. */
  private def assertSwept(dir: String, clue: String): Unit = {
    val left = Files.list(Paths.get(dir, "_tmp"))
    try assert(left.count() == 0, s"$clue: _tmp not swept") finally left.close()
    val data = Files.list(Paths.get(dir, "data"))
    val dirs = try data.iterator().asScala.map(_.getFileName.toString).toSet finally data.close()
    assert(dirs == new SnapshotLog(dir).committedBuckets().map(b => s"bucket=$b"),
      s"$clue: data/ holds unlisted buckets")
  }

  /** Spark jobs started while `f` ran. */
  private def jobsStarted(f: => Unit): Int = {
    val sc = spark.sparkContext
    val jobs = new java.util.concurrent.atomic.AtomicInteger()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    }
    ListenerDrain(sc)
    sc.addSparkListener(listener)
    try f finally { ListenerDrain(sc); sc.removeSparkListener(listener) }
    jobs.get
  }

  test("reading the committed table starts no job before an action; a pruned count none extra") {
    val dir = tmp()
    ResumableRun.run(spark, pages, dir, nBuckets = 16,
      bucketExpr = Some(pmod(xxhash64(col("lang")), lit(16))))
    val lang = col("lang") === "en"
    // schema, files and stats come from the manifest: nothing is inferred
    val planning = jobsStarted {
      val table = ResumableRun.readTable(spark, dir)
      assert(table.schema.fieldNames.contains("extracted_text"))
      table.filter(lang).queryExecution.executedPlan
    }
    assert(planning == 0, s"$planning jobs before any action")
    // a pruned count runs the jobs of a count over a parquet read with a
    // given schema, and no schema-inference job
    val paths = new SnapshotLog(dir).committedPaths()
    val schema = ResumableRun.readTable(spark, dir).schema
    var (n, want) = (0L, 0L)
    val read = jobsStarted { n = ResumableRun.readTable(spark, dir).filter(lang).count() }
    val given = jobsStarted { want = spark.read.schema(schema).parquet(paths: _*).filter(lang).count() }
    assert(n == want && n > 0)
    assert(read == given, s"pruned read: $read jobs, read with a given schema: $given")
  }

  test("hot-domain pass equals a brute-force groupBy/count/cut") {
    val sp = spark
    import sp.implicits._
    def brute(df: DataFrame, share: Double): Map[String, Long] = {
      val cut = math.max(1L, (df.count() * share).toLong)
      df.groupBy(Pipeline.domainOf.as("domain")).count()
        .filter(col("count") > cut).collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
    }
    def urls(domains: Seq[(String, Int)]): DataFrame =
      domains.flatMap { case (d, n) => (0 until n).map(i => s"https://$d/p$i") }.toDF("url")
    // 10,000 rows, cut 200: 49 domains of 201 rows — the most that can be
    // above the cut at this share — and 151 one-row domains
    val fortyNine = urls((0 until 49).map(i => s"hot$i.example" -> 201) ++
      (0 until 151).map(i => s"cold$i.example" -> 1))
    // 30 rows: 0.6 rows is clamped to a cut of 1, so every pair is hot
    val cutOne = urls((0 until 12).map(i => s"pair$i.example" -> 2) ++
      (0 until 6).map(i => s"one$i.example" -> 1))
    // 322 × (1/161) evaluates to 1.999…, so the cut is 1 and all 161
    // two-row domains are above it: ⌈1 / share⌉ hot domains
    val roundedDown = urls((0 until 161).map(i => s"twin$i.example" -> 2))
    val cases = Seq(("synth pages", pages, 0.02), ("49 above the cut", fortyNine, 0.02),
      ("cut of 1", cutOne, 0.02), ("empty", urls(Nil), 0.02),
      ("cut rounded down", roundedDown, 1.0 / 161))
    val sizes = cases.map { case (name, df, share) =>
      val (got, want) = (Pipeline.hotDomains(df, share), brute(df, share))
      if (got != want) fail(s"$name: missed ${(want.keySet -- got.keySet).size} " +
        s"of ${want.size} hot domains, wrong ${got.toSet -- want.toSet}")
      want.size
    }
    assert(sizes == Seq(2, 49, 12, 0, 161), "test inputs drifted")
  }

  test("staging writes through min(buckets, parallelism) tasks, each bucket in exactly one") {
    val p = math.min(16, spark.sparkContext.defaultParallelism)
    val bucket = Pipeline.saltedBucket(Pipeline.hotDomains(pages).keySet, 16)
    val perBucket = pages.groupBy(bucket.as("b")).count().collect()
      .map(r => r.getLong(0).toInt -> r.getLong(1)).toMap
    assert(perBucket.size == 16, s"test setup: an empty bucket in $perBucket")

    // a fresh 16-bucket run: one task per core, none of them idle
    val dir = tmp()
    val fresh = writeStageTasks(ResumableRun.run(spark, pages, dir, nBuckets = 16))
    assert(fresh.size == p, s"write tasks: $fresh")
    assert(fresh.forall(_ > 0), s"a write task wrote nothing: $fresh")
    assert(fresh.sum == perBucket.values.sum)
    val log = new SnapshotLog(dir)
    (0 until 16).foreach(b =>
      assert(SnapshotLog.parquetFiles(log.bucketDataDir(b)).size == 1, s"bucket $b files"))

    // a resumed run over a strided subset: one bucket per task, so each
    // task writes exactly one bucket's rows
    val strided = Vector(3, 7, 11, 15)
    val rest = (0 until 16).filterNot(strided.contains).toVector
    val dirR = tmp()
    val logR = new SnapshotLog(dirR)
    logR.init()
    ResumableRun.stageAndCommit(logR, Pipeline.extracted(pages.filter(bucket.isin(rest: _*)))
      .withColumn("bucket", bucket), rest)
    var resumed = Vector.empty[Int]
    val perTask = writeStageTasks { resumed = ResumableRun.run(spark, pages, dirR, nBuckets = 16) }
    assert(resumed == strided)
    assert(perTask.sorted == strided.map(perBucket).sorted, s"write tasks: $perTask")
    strided.foreach(b =>
      assert(SnapshotLog.parquetFiles(logR.bucketDataDir(b)).size == 1, s"bucket $b files"))
    assert(ResumableRun.readTable(spark, dirR).count() == perBucket.values.sum)
  }

  test("a 200-bucket run stages in one job: exactly one stage writes records") {
    val dir = tmp()
    var done = Vector.empty[Int]
    val perTask = writeStageTasks { done = ResumableRun.run(spark, pages, dir, nBuckets = 200) }
    assert(done == (0 until 200).toVector)
    assert(perTask.size == spark.sparkContext.defaultParallelism, s"write tasks: $perTask")
    assert(perTask.sum == pages.count())
    val log = new SnapshotLog(dir)
    assert(log.latestVersion() == 1 && log.manifest(1).buckets == (0 until 200).toSet)
    assert(ResumableRun.readTable(spark, dir).count() == pages.count())
  }

  test("every run adds one version listing all its buckets; v1 reads its own rows") {
    val dir = tmp()
    val bucket = Pipeline.saltedBucket(Pipeline.hotDomains(pages).keySet, 16)
    val first = ResumableRun.run(spark, pages, dir, nBuckets = 16, maxBuckets = 5)
    val v1Rows = tableRows(dir, Some(1))
    val rest = ResumableRun.run(spark, pages, dir, nBuckets = 16)
    assert(first.size == 5 && rest.size == 11)
    val log = new SnapshotLog(dir)
    assert(log.latestVersion() == 2)
    assert(log.manifest(1).buckets == first.toSet)
    assert(log.manifest(2).buckets == (0 until 16).toSet)
    // a reader pinned to v1 sees exactly the first run's rows and files
    def pinned = ResumableRun.readTable(spark, dir, version = Some(1))
    val firstRows = pages.filter(bucket.isin(first: _*)).count()
    assert(firstRows > 0 && pinned.count() == firstRows)
    val sameRows = tableRows(dir, Some(1)) == v1Rows
    assert(sameRows, "v1 reads other rows after the second run")
    val firstRunFiles = pinned.inputFiles.toSet
    assert(firstRunFiles.nonEmpty && firstRunFiles.forall(f =>
      first.exists(b => f.contains(s"/bucket=$b/"))), s"v1 reads $firstRunFiles")
  }

  test("a listed bucket whose dir is gone fails the read, naming bucket and version") {
    val dir = tmp()
    ResumableRun.run(spark, pages, dir, nBuckets = 4)
    val log = new SnapshotLog(dir)
    assert(log.committedBuckets() == Set(0, 1, 2, 3))
    SnapshotLog.deleteRecursively(log.bucketDataDir(2))
    val e = intercept[IllegalStateException](ResumableRun.readTable(spark, dir).count())
    assert(e.getMessage.contains("snapshot v1 lists bucket=2"), e.getMessage)
  }

  test("a run killed at any commit step resumes to the uninterrupted table") {
    val n = 8
    val ref = tmp()
    ResumableRun.run(spark, pages, ref, n)
    val (refRows, refStats) = (tableRows(ref), new SnapshotLog(ref).bucketStats())
    assert(refRows.size == pages.count() && refStats.size == n)
    /** `run` with `onPhase` set to `hook`: its throw kills the run. */
    def killedRun(dir: String)(hook: String => Unit): Unit = {
      ResumableRun.onPhase = (ph: String, _: Double) => hook(ph)
      try intercept[Exception](ResumableRun.run(spark, pages, dir, n))
      finally ResumableRun.onPhase = null
    }
    def killAfter(phase: String)(dir: String): Unit =
      killedRun(dir)(ph => if (ph == phase) throw new RuntimeException(s"killed after $ph"))
    // each kill follows a completed 3-bucket run (v1) and hits the second
    // run, which commits the other 5 buckets as v2
    val kills: Seq[(String, (String, Vector[Int]) => Unit)] = Seq(
      "after stage_write" -> ((dir, _) => killAfter("stage_write")(dir)),
      "after stats_agg" -> ((dir, _) => killAfter("stats_agg")(dir)),
      // the commit's third move finds no staged dir and fails: two of five
      // buckets are in data/, no manifest names them
      // a re-run with fewer buckets, which never re-commits the two moved
      // ones, must still sweep them from data/
      "mid-commit, 2 of 5 moved" -> { (dir, todo) =>
        killedRun(dir) { ph =>
          if (ph == "stats_agg") SnapshotLog.deleteRecursively(
            new SnapshotLog(dir).stagingRoot().resolve(s"bucket=${todo(2)}"))
        }
        assert(todo.take(2).forall(b => Files.exists(new SnapshotLog(dir).bucketDataDir(b))))
        assert(ResumableRun.run(spark, pages, dir, todo.head).isEmpty)
        assertSwept(dir, "mid-commit, re-run with fewer buckets")
      },
      "by hand: 4 of 5 moved, no manifest" -> { (dir, todo) =>
        killAfter("stats_agg")(dir)
        val log = new SnapshotLog(dir)
        todo.take(4).foreach(b =>
          Files.move(log.stagingRoot().resolve(s"bucket=$b"), log.bucketDataDir(b)))
      },
      "after commit_loop" -> ((dir, _) => killAfter("commit_loop")(dir)),
      "by hand: v2.json written, LATEST still 1" -> { (dir, _) =>
        ResumableRun.run(spark, pages, dir, n)
        Files.write(Paths.get(dir, "_snapshots", "LATEST"), "1".getBytes("UTF-8")) })
    kills.foreach { case (name, kill) =>
      val dir = tmp()
      val first = ResumableRun.run(spark, pages, dir, n, maxBuckets = 3)
      val todo = (0 until n).filterNot(first.contains).toVector
      kill(dir, todo)
      val log = new SnapshotLog(dir)
      assert(log.manifest(1).buckets == first.toSet, name)
      ResumableRun.run(spark, pages, dir, n)
      assert(log.latestVersion() == 2 && log.manifest(2).buckets == (0 until n).toSet, name)
      val sameRows = tableRows(dir) == refRows
      assert(sameRows, s"$name: rows differ from the uninterrupted run")
      assert(log.bucketStats() == refStats, name)
      assertSwept(dir, name)
    }
  }

  test("footer stats: UTF-8 byte order, floored seconds, unknown without min/max") {
    val sp = spark
    import sp.implicits._
    val (micros, int96) = (classOf[MicrosParquet].getName, "parquet")
    // each Seq is one file of (url, lang, warc_ts micros) rows
    def staged(files: Seq[(String, String, Option[Long])]*)(format: String) = {
      val dir = Paths.get(tmp(), "bucket=0")
      files.foreach { rows =>
        rows.toDF("url", "lang", "us").select($"url", $"lang", timestamp_micros($"us").as("warc_ts"))
          .coalesce(1).write.format(format).mode("append").save(dir.toString)
      }
      ResumableRun.footerStats(dir)
    }
    val a = Seq(("https://m.example/1", "en", Some(1700000000500000L)),
      ("https://\u00e9.example/", null, Some(-500000L)))
    val b = Seq(("https://a.example/", "de", Some(1700000100000000L)), ("https://z.example/", null, None))
    // é (0xC3 0xA9) sorts after z in UTF-8 bytes, before it as a signed byte;
    // -0.5 s floors to the second before the epoch
    assert(staged(a, b)(micros) == BucketStats("https://a.example/", "https://\u00e9.example/",
      "de", "en", "1969-12-31 23:59:59", "2023-11-14 22:15:00"))
    // a url over 4 KB drops the file's url min/max: unknown, not the other file's bounds
    val long = Seq(("https://b.example/" + "x" * 5000, "fr", Some(0L)))
    assert(staged(a, long)(micros) == BucketStats("", "", "en", "fr", "1969-12-31 23:59:59",
      "2023-11-14 22:13:20"))
    // all-NULL lang: no bounds; INT96 timestamps carry no min/max: unknown
    val nullLang = Seq(("https://c.example/", null, Some(0L)))
    assert(staged(nullLang)(micros) == BucketStats("https://c.example/", "https://c.example/",
      "", "", "1970-01-01 00:00:00", "1970-01-01 00:00:00"))
    assert(staged(a)(int96) == BucketStats("https://m.example/1", "https://\u00e9.example/",
      "en", "en", "", ""))
  }

  test("staged files, .crc sidecars and dirs get the default local FS's mode bits; checksums verify") {
    val dir = tmp()
    ResumableRun.run(spark, pages, dir, nBuckets = 4)
    // reference modes: a file and a directory written through the
    // session's default (cached, checksummed) local file system
    val conf = spark.sparkContext.hadoopConfiguration
    val fs = FileSystem.getLocal(conf)
    val ref = Paths.get(tmp(), "ref")
    fs.mkdirs(new Path(ref.resolve("d").toUri))
    fs.create(new Path(ref.resolve("f").toUri)).close()
    def mode(p: java.nio.file.Path) = PosixFilePermissions.toString(Files.getPosixFilePermissions(p))
    val (fileMode, crcMode, dirMode) =
      (mode(ref.resolve("f")), mode(ref.resolve(".f.crc")), mode(ref.resolve("d")))

    val verifying = new LocalFileSystem()
    verifying.initialize(java.net.URI.create("file:///"), conf)
    verifying.setVerifyChecksum(true)
    val log = new SnapshotLog(dir)
    assert(log.committedBuckets() == Set(0, 1, 2, 3))
    log.committedBuckets().foreach { b =>
      val bucketDir = log.bucketDataDir(b)
      assert(mode(bucketDir) == dirMode, s"bucket $b dir")
      val data = SnapshotLog.parquetFiles(bucketDir)
      assert(data.nonEmpty)
      data.foreach { f =>
        assert(mode(f) == fileMode, s"$f")
        val crc = f.resolveSibling(s".${f.getFileName}.crc")
        assert(Files.exists(crc), s"no checksum sidecar for $f")
        assert(mode(crc) == crcMode, s"$crc")
        val in = verifying.open(new Path(f.toUri))
        try in.readAllBytes() finally in.close() // ChecksumException on a mismatch
      }
    }
    assert(ResumableRun.readTable(spark, dir).count() == pages.count())
  }
}
