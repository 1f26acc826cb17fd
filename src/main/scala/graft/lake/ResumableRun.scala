package graft.lake

import java.nio.file.Path
import scala.jdk.CollectionConverters._
import org.apache.parquet.ParquetReadOptions
import org.apache.parquet.column.statistics.Statistics
import org.apache.parquet.conf.PlainParquetConfiguration
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.metadata.ParquetMetadata
import org.apache.parquet.io.LocalInputFile
import org.apache.parquet.io.api.Binary
import org.apache.parquet.schema.PrimitiveComparator
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, OutputWriterFactory}
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat, ParquetReadSupport, ParquetToSparkSchemaConverter}
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.{DataType, StructType}
import graft.pipeline.Pipeline

/** Resumable extraction run: pages are hashed into salted buckets
  * (Pipeline.saltedBucket), each run's buckets are extracted and committed
  * atomically via SnapshotLog, and a restarted run skips every committed
  * bucket — the BASELINE.json requirement "resumes from Iceberg snapshot
  * checkpoints so a killed run restarts at partition granularity".
  *
  * Every lake write goes through [[stageAndCommit]]: ONE job scans the
  * input once and shuffles its rows so each bucket lands whole in one of at
  * most one-per-core write tasks, which dynamic-partition-write them to
  * `_tmp/stage-<v>/bucket=N/` (one file per bucket, permission bits set
  * in-process by [[NioLocalFileSystem]]); each bucket's manifest stats are
  * then read from the footers of the files it staged, and the run's staged
  * bucket dirs are committed together in ONE snapshot. A run killed before
  * that snapshot's `LATEST` swap loses the whole run and commits none of
  * it; `maxBuckets` bounds how much work one run risks. A run commits only
  * buckets no manifest lists, and a committed bucket dir is never rewritten.
  * What killed runs left under `_tmp` and unlisted bucket dirs are swept
  * before staging (a run killed after its `LATEST` swap leaves a stage root
  * no later run reuses, so it would otherwise leak forever).
  */
object ResumableRun {

  /** Optional phase-timing hook (perfbench `--trace 1` times the phases
    * with it; CommitSpec kills runs through it after a chosen phase):
    * called with (phase, seconds) after each internal phase of a run. Null (the default) disables timing entirely —
    * production paths never set it, so the hot path pays one volatile read
    * per phase, not per row. */
  @volatile private[graft] var onPhase: (String, Double) => Unit = null

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
    * default is the skew-safe salted url-hash. A row it maps to NULL or
    * outside [0, nBuckets) fails the run before anything is committed.
    * Choose a spec that CLUSTERS the stats columns (e.g. a domain- or
    * lang-derived bucket) when manifest-stats pruning (a `.filter` on
    * [[readTable]]) matters for the table's query mix — hash buckets defeat
    * min/max pruning by construction, the same trade Iceberg documents for
    * partition spec + sort order. Returns the buckets processed this run. */
  def run(spark: SparkSession, pages: DataFrame, tableDir: String,
      nBuckets: Int, maxBuckets: Int = Int.MaxValue,
      bucketExpr: Option[org.apache.spark.sql.Column] = None): Vector[Int] = {
    import org.apache.spark.sql.functions.{coalesce, concat, lit, raise_error, when}
    val log = new SnapshotLog(tableDir)
    val todo = phase("log_init") {
      log.init()
      log.sweepStaleStages()
      val done = log.committedBuckets()
      (0 until nBuckets).filterNot(done.contains).take(maxBuckets).toVector
    }
    if (todo.isEmpty) return todo
    val b = phase("hot_domains") {
      bucketExpr.getOrElse(
        Pipeline.saltedBucket(Pipeline.hotDomains(pages).keySet, nBuckets))
    }
    // a row without a bucket in [0, nBuckets) would stage under a dir no
    // commit picks up (`bucket=__HIVE_DEFAULT_PARTITION__` for NULL) and
    // vanish from the table, so it fails the staging job instead
    val bucket = when(b.isNull || b < 0 || b >= nBuckets,
      raise_error(concat(lit(s"bucketExpr must map every row to [0, $nBuckets), got "),
        coalesce(b.cast("string"), lit("NULL"))))).otherwise(b)
    val input =
      if (todo.size == nBuckets) pages
      else pages.filter(bucket.isin(todo.map(Integer.valueOf): _*))
    // The bucket is a pure function of input columns, so it is (re)computed
    // on the extracted OUTPUT — the kernel column set stays clean and the
    // input needs no bucket column threaded through the kernel expression.
    stageAndCommit(log, Pipeline.extracted(input).withColumn("bucket", bucket), todo)
    todo
  }

  /** Stage `rows` (carrying a BIGINT or INT `bucket` column, every value in
    * `buckets`) in one job and commit all of `buckets` in one snapshot, each
    * with the min/max stats of the rows it staged, and the data files'
    * schema. A bucket with no rows commits an empty dir and no stats. */
  private[lake] def stageAndCommit(log: SnapshotLog, rows: DataFrame,
      buckets: Vector[Int]): Unit = {
    val stageRoot = log.stagingRoot()
    import org.apache.spark.sql.functions.{array_position, col, typedLit}
    val spark = rows.sparkSession
    // Each bucket goes whole to ONE write task before the dynamic-partition
    // write — the Iceberg write.distribution-mode analog. Without it every
    // task streams rows to up to one open file per bucket, so the staged
    // file count is tasks x buckets (measured 4x the write time at sf0.1
    // from per-file writer setup alone, and at corpus scale a small-files
    // explosion on the table). The task of a bucket is its index in
    // `buckets` mod P, P = min(bucket count, default parallelism): one task
    // per core at most, and every task gets a bucket. A hash of the bucket
    // id would leave tasks empty (murmur3 puts 16 bucket ids in only 10 of
    // 16 partitions, while every task pays its fixed start-up), and strided
    // resumed subsets such as {3, 7, 11, 15} would collide on an id mod P.
    val parts = math.min(buckets.size, spark.sparkContext.defaultParallelism)
    val task = ((array_position(typedLit(buckets.map(_.toLong)),
      col("bucket").cast("long")) - 1) % parts).cast("int")
    phase("stage_write") {
      rows.repartitionById(parts, task)
        .write.format(classOf[MicrosParquet].getName).options(NioLocalFileSystem.writeOptions)
        .mode("overwrite").partitionBy("bucket").save(stageRoot.toString)
    }
    val stats: Map[Int, BucketStats] = phase("stats_agg") {
      buckets.flatMap { b =>
        val staged = stageRoot.resolve(s"bucket=$b")
        // empty bucket: no dir, no bounds to record
        if (java.nio.file.Files.exists(staged)) Some(b -> footerStats(staged)) else None
      }.toMap
    }
    // schema of the staged DATA files (partitionBy moves `bucket` out), as
    // a parquet read of them reports it: every field nullable
    val dataSchema = org.apache.spark.sql.graftbridge.GraftBridge.asNullable(
      org.apache.spark.sql.types.StructType(rows.schema.filterNot(_.name == "bucket")))
    phase("commit_loop") {
      val staged = buckets.map(b => b -> stageRoot.resolve(s"bucket=$b")).toMap
      // a bucket with zero rows stages no dir: it commits an empty one, the
      // manifest carries the schema
      staged.foreach { case (b, dir) =>
        if (!stats.contains(b)) java.nio.file.Files.createDirectories(dir) }
      log.commit(staged, stats, dataSchema)
    }
    // only write-protocol leftovers (_SUCCESS) remain under the stage root
    SnapshotLog.deleteRecursively(stageRoot)
  }

  // built once: the no-argument builder loads a fresh Hadoop Configuration,
  // ~10 ms per footer
  private lazy val footerOptions =
    ParquetReadOptions.builder(new PlainParquetConfiguration()).build()

  private def footer(f: Path): ParquetMetadata = {
    val file = new LocalInputFile(f)
    val in = file.newStream()
    try ParquetFileReader.readFooter(file, footerOptions, in)
    finally in.close()
  }

  /** The schema `spark.read.parquet(path)` infers for a local parquet file,
    * or for a directory of parquet files that share one schema, read from
    * one footer on the driver: the Spark schema a Spark writer records in
    * the file's key-value metadata, else the converted parquet schema;
    * every field nullable, as a parquet read reports it. Inference itself
    * reads the footers in a Spark job; `spark.read.schema(footerSchema(p))`
    * starts none. */
  def footerSchema(path: String): StructType = {
    val p = java.nio.file.Paths.get(path)
    val file = if (java.nio.file.Files.isDirectory(p))
      SnapshotLog.parquetFiles(p).minOption
        .getOrElse(throw new IllegalArgumentException(s"no parquet file under $path"))
    else p
    val meta = footer(file).getFileMetaData
    val schema = Option(meta.getKeyValueMetaData.get(ParquetReadSupport.SPARK_METADATA_KEY))
      .map(DataType.fromJson(_).asInstanceOf[StructType])
      .getOrElse(new ParquetToSparkSchemaConverter(SQLConf.get).convert(meta.getSchema))
    org.apache.spark.sql.graftbridge.GraftBridge.asNullable(schema)
  }

  /** (url, lang, warc_ts) bounds of the parquet files in `dir`, folded over
    * the min/max every row group records in its file's footer — the Iceberg
    * per-file metrics, read instead of re-scanning rows. A column's bounds
    * are "" (unknown, never prunes) when no row holds a value, or when a
    * row group holds values but recorded no min/max: parquet drops them
    * for values over 4 KB, and INT96 timestamps never have them. warc_ts
    * is INT64 micros, rendered as whole UTC seconds, floored: a max of
    * 10 s stands for a true max below 11 s, which [[ColBound.prunes]]
    * allows for. */
  private[lake] def footerStats(dir: Path): BucketStats = {
    val chunks = SnapshotLog.parquetFiles(dir)
      .flatMap(f => footer(f).getBlocks.asScala.flatMap(_.getColumns.asScala))
    def bounds(column: String)(render: Any => String): (String, String) = {
      var lo, hi: Any = null
      var unknown = false
      chunks.filter(_.getPath.toDotString == column).foreach { c =>
        val s: Statistics[_] = c.getStatistics
        if (s.hasNonNullValue) {
          val cmp = s.comparator().asInstanceOf[PrimitiveComparator[Any]]
          if (lo == null || cmp.compare(s.genericGetMin, lo) < 0) lo = s.genericGetMin
          if (hi == null || cmp.compare(s.genericGetMax, hi) > 0) hi = s.genericGetMax
        } else if (!s.isNumNullsSet || s.getNumNulls < c.getValueCount) unknown = true
      }
      if (unknown || lo == null) ("", "") else (render(lo), render(hi))
    }
    val utf8 = (v: Any) => v.asInstanceOf[Binary].toStringUsingUTF8
    val (u0, u1) = bounds("url")(utf8)
    val (l0, l1) = bounds("lang")(utf8)
    val (t0, t1) = bounds("warc_ts")(v => ColBound.utcSeconds(v.asInstanceOf[java.lang.Long]))
    BucketStats(u0, u1, l0, l1, t0, t1)
  }

  /** The committed table as of manifest `version` (the latest when
    * `None`; the Iceberg `VERSION AS OF` analog — every manifest is kept
    * until `SnapshotLog.expireManifests`, and an expired version fails).
    * Schema, buckets and files come from the manifest through a
    * [[ManifestFileIndex]]: building the frame starts no Spark job and
    * infers nothing. A `.filter` on it prunes buckets by their manifest
    * stats. Committed bucket dirs are write-once, so a version reads back
    * exactly the rows it committed; a bucket dir the manifest lists but the
    * disk lacks fails the read. */
  def readTable(spark: SparkSession, tableDir: String,
      version: Option[Int] = None): DataFrame = {
    val index = ManifestFileIndex(tableDir, version)
    spark.baseRelationToDataFrame(HadoopFsRelation(index, index.partitionSchema,
      index.schema, None, new ParquetFileFormat, Map.empty)(spark))
  }

  /** Bucket paths that SURVIVE stats pruning under `bounds` (every
    * predicate is a conjunct): a bucket is skipped only when its manifest
    * min/max bounds prove no row can satisfy some bound — the decision a
    * `.filter` on [[readTable]] makes ([[ColBound.prunes]]). Buckets
    * without recorded stats are always kept. Returns (kept, skipped). */
  def prunedPaths(tableDir: String,
      bounds: Seq[ColBound]): (Vector[String], Vector[String]) = {
    val log = new SnapshotLog(tableDir)
    val m = log.manifest(log.latestVersion())
    val (skip, keep) = m.buckets.toVector.sorted.partition { b =>
      m.stats.get(b).exists(ColBound.prunes(_, bounds.map(Seq(_))))
    }
    (keep.map(b => log.bucketDataDir(b).toString),
      skip.map(b => log.bucketDataDir(b).toString))
  }

  /** The committed table filtered to the rows satisfying every bound:
    * [[readTable]] with the bounds as a `.filter`, which opens only the
    * buckets [[prunedPaths]] keeps. warc_ts bounds must be UTC-rendered —
    * build them with [[ColBound.warcTs]]. */
  def readTablePruned(spark: SparkSession, tableDir: String,
      bounds: Seq[ColBound]): DataFrame = {
    val table = readTable(spark, tableDir)
    if (bounds.isEmpty) table else table.filter(bounds.map(_.column).reduce(_ && _))
  }
}

/** The staging write's parquet: timestamps as INT64 micros, which parquet
  * footers carry min/max for (the INT96 default has none), so
  * [[ResumableRun.footerStats]] can read `warc_ts` bounds. A write option
  * cannot set this — `prepareWrite` copies the session's
  * `spark.sql.parquet.outputTimestampType` over it — and writing through a
  * session clone that sets it recompiled every generated class of the job
  * on each commit (9 per run, measured on Spark 4.1). Files read back as
  * plain parquet. */
private[lake] final class MicrosParquet extends ParquetFileFormat {
  override def prepareWrite(spark: SparkSession, job: org.apache.hadoop.mapreduce.Job,
      options: Map[String, String], dataSchema: org.apache.spark.sql.types.StructType)
      : OutputWriterFactory = {
    val writers = super.prepareWrite(spark, job, options, dataSchema)
    job.getConfiguration.set(SQLConf.PARQUET_OUTPUT_TIMESTAMP_TYPE.key, "TIMESTAMP_MICROS")
    writers
  }
}
