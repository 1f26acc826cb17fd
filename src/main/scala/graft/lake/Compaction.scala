package graft.lake

import java.nio.file.{Files, Path}
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.SparkSession

/** Small-file compaction for a committed table (the Iceberg `rewriteDataFiles`
  * analog — the first operational gap a long-lived 100 TB deployment hits
  * after resume correctness): every incremental commit and every appended
  * write adds files to a bucket, and a year of appends turns each bucket
  * into thousands of tiny parquet files whose open/footer cost dominates
  * scans.
  *
  * `compact` re-stages every bucket holding more than `maxFiles` data
  * files through [[ResumableRun.stageAndCommit]] — the same single
  * staging job as a normal run, so each rewritten bucket is one file with
  * stats read from its fresh footers — and re-commits them all in ONE
  * snapshot through the NORMAL protocol, single-writer like the rest of
  * the log (ADVICE r4: each bucket's swap is move-aside + move-in, so a
  * concurrent lister could still catch a brief not-found window between
  * the two renames; readers must resolve paths from a manifest before or
  * after the commit, never during). Each compaction appends one manifest
  * version. Time travel: all manifests remain readable, but versions
  * older than the compaction now resolve to the compacted files (the log
  * keeps manifests, not data copies — the documented SnapshotLog caveat,
  * same trade Iceberg makes once old files are expired). Pair with
  * `SnapshotLog.expireManifests` to bound manifest growth.
  */
object Compaction {

  /** Compact over-fragmented buckets; returns the buckets rewritten. */
  def compact(spark: SparkSession, tableDir: String, maxFiles: Int = 1): Vector[Int] = {
    val log = new SnapshotLog(tableDir)
    log.init()
    log.sweepStaleStages()
    val todo = log.committedBuckets().toVector.sorted
      .filter(b => parquetFiles(log.bucketDataDir(b)).size > maxFiles)
    if (todo.nonEmpty) // partition discovery under data/ yields the `bucket` column
      ResumableRun.stageAndCommit(log, spark.read.option("basePath", log.dataDir.toString)
        .parquet(todo.map(b => log.bucketDataDir(b).toString): _*), todo)
    todo
  }

  /** Data files of one committed bucket dir (parquet parts only). The
    * directory stream is closed eagerly (round-5 review: Files.list holds
    * an fd until GC; periodic compaction over many buckets would
    * accumulate them). */
  def parquetFiles(dir: Path): Vector[Path] =
    if (!Files.isDirectory(dir)) Vector.empty
    else {
      val s = Files.list(dir)
      try s.iterator().asScala.toVector
        .filter(_.getFileName.toString.endsWith(".parquet"))
      finally s.close()
    }
}
