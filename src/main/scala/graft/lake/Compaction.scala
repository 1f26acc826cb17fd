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
  * files through [[ResumableRun.stageAndCommit]] — the same hash-distributed
  * staging job as a normal run, so each rewritten bucket is one file with
  * freshly observed stats — and re-commits it through the NORMAL snapshot
  * protocol, single-writer like the rest of the log (ADVICE r4: the swap
  * is move-aside + move-in, so a concurrent lister could still catch a
  * brief not-found window between the two renames; readers must resolve
  * paths from a manifest before or after the commit, never during). Each
  * commit appends a new manifest version. Time travel: all manifests remain
  * readable, but versions older than the compaction now resolve to the
  * compacted files (the log keeps manifests, not data copies — the
  * documented SnapshotLog caveat, same trade Iceberg makes once old files
  * are expired). Pair with `SnapshotLog.expireManifests` to bound manifest
  * growth.
  */
object Compaction {

  /** Compact over-fragmented buckets; returns the buckets rewritten. */
  def compact(spark: SparkSession, tableDir: String, maxFiles: Int = 1): Vector[Int] = {
    val log = new SnapshotLog(tableDir)
    log.init()
    log.sweepStaleStages()
    val todo = log.committedBuckets().toVector.sorted
      .filter(b => parquetFiles(log.bucketDataDir(b)).size > maxFiles)
    todo.grouped(ResumableRun.maxObservedBuckets).foreach { chunk =>
      // partition discovery under data/ yields the `bucket` column
      val rows = spark.read.option("basePath", log.dataDir.toString)
        .parquet(chunk.map(b => log.bucketDataDir(b).toString): _*)
      ResumableRun.stageAndCommit(log, rows, chunk)
    }
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
