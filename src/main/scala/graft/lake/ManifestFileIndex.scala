package graft.lake

import java.nio.file.{Files, Path}
import java.nio.file.attribute.BasicFileAttributes
import org.apache.hadoop.fs.{FileStatus, Path => HPath}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.execution.datasources.{FileIndex, FileStatusWithMetadata, PartitionDirectory}
import org.apache.spark.sql.types.{StringType, StructType, TimestampType}
import org.apache.spark.unsafe.types.UTF8String

/** The committed table's files as of ONE manifest version, the file index
  * [[ResumableRun.readTable]] serves the table through: Spark's own parquet
  * scan reads them, so the vectorized reader and row-group pushdown stay.
  * The version, its buckets, their stats and the table schema are read from
  * the manifest once, when the index is built, and each bucket dir is
  * listed once, then; nothing infers a schema or lists again per read.
  *
  * [[listFiles]] prunes whole buckets: the scan's filters are translated
  * to [[ColBound]]s where they are `=`, `<`, `<=`, `>`, `>=` or `IN` between
  * `url`, `lang` or `warc_ts` and a literal, and a bucket is skipped when
  * its manifest stats prove a translated conjunct false
  * ([[ColBound.prunes]], the same decision as [[ResumableRun.prunedPaths]]).
  * Every other filter keeps every bucket; the scan applies all filters to
  * rows regardless. [[sizeInBytes]] and [[inputFiles]] cover every listed
  * file, pruned or not, as Spark's own index reports them. */
private[lake] final case class ManifestFileIndex(tableDir: String, version: Int,
    schema: StructType, buckets: Vector[(Int, Vector[FileStatus])],
    stats: Map[Int, BucketStats]) extends FileIndex {

  private def files = buckets.flatMap(_._2)

  override def rootPaths: Seq[HPath] = {
    val log = new SnapshotLog(tableDir)
    buckets.map(b => new HPath("file", null, log.bucketDataDir(b._1).toString))
  }

  override def listFiles(partitionFilters: Seq[Expression],
      dataFilters: Seq[Expression]): Seq[PartitionDirectory] = {
    val clauses = (partitionFilters ++ dataFilters).flatMap(ManifestFileIndex.clauses)
    val kept = buckets.filterNot { case (b, _) =>
      stats.get(b).exists(ColBound.prunes(_, clauses))
    }
    Seq(PartitionDirectory(InternalRow.empty, kept.flatMap(_._2).map(FileStatusWithMetadata(_))))
  }

  override def inputFiles: Array[String] = files.map(_.getPath.toUri.toString).toArray
  override def refresh(): Unit = ()
  override def sizeInBytes: Long = files.map(_.getLen).sum
  override def partitionSchema: StructType = new StructType()
}

private[lake] object ManifestFileIndex {

  /** The index of `tableDir` at `version` (the latest when `None`). */
  def apply(tableDir: String, version: Option[Int]): ManifestFileIndex = {
    val log = new SnapshotLog(tableDir)
    val v = version.getOrElse(log.latestVersion())
    require(v > 0, s"no committed snapshots under $tableDir")
    val m = log.manifest(v)
    val schema = m.schema.getOrElse(throw new IllegalStateException(
      s"snapshot v$v of $tableDir records no schema (committed before manifests " +
        "carried one); re-run its extraction into a new table"))
    val buckets = m.buckets.toVector.sorted.map(b => b -> listed(log.bucketDataDir(b), v))
    ManifestFileIndex(tableDir, v, schema, buckets, m.stats)
  }

  /** The data files of a bucket dir snapshot `v` lists. Every listed bucket
    * has a dir (an empty bucket commits an empty one), so a missing dir is
    * lost data, never zero rows. */
  private def listed(dir: Path, v: Int): Vector[FileStatus] = {
    if (!Files.isDirectory(dir)) throw new IllegalStateException(
      s"snapshot v$v lists ${dir.getFileName}, but its dir $dir is missing")
    SnapshotLog.parquetFiles(dir).sortBy(_.getFileName.toString).map { f =>
      val a = Files.readAttributes(f, classOf[BasicFileAttributes])
      new FileStatus(a.size, false, 1, a.size, a.lastModifiedTime.toMillis, new HPath(f.toUri))
    }
  }

  /** `e` split into conjuncts, each translated to the disjunction of bounds
    * it implies; a conjunct that does not translate is left out (it prunes
    * nothing). */
  def clauses(e: Expression): Seq[Seq[ColBound]] = e match {
    case And(l, r) => clauses(l) ++ clauses(r)
    case _ => anyOf(e).toSeq
  }

  private def anyOf(e: Expression): Option[Seq[ColBound]] = e match {
    case EqualTo(l, r) => compare(l, "=", r)
    case LessThan(l, r) => compare(l, "<", r)
    case LessThanOrEqual(l, r) => compare(l, "<=", r)
    case GreaterThan(l, r) => compare(l, ">", r)
    case GreaterThanOrEqual(l, r) => compare(l, ">=", r)
    case In(a: Attribute, list) if list.forall(_.isInstanceOf[Literal]) =>
      all(list.map(l => bound(a, "=", l.asInstanceOf[Literal].value)))
    case InSet(a: Attribute, set) => all(set.toSeq.map(bound(a, "=", _)))
    case _ => None
  }

  private val flipped = Map("=" -> "=", "<" -> ">", "<=" -> ">=", ">" -> "<", ">=" -> "<=")

  private def compare(l: Expression, op: String, r: Expression): Option[Seq[ColBound]] =
    ((l, r) match {
      case (a: Attribute, Literal(v, _)) => bound(a, op, v)
      case (Literal(v, _), a: Attribute) => bound(a, flipped(op), v)
      case _ => None
    }).map(Seq(_))

  private def all(bounds: Seq[Option[ColBound]]): Option[Seq[ColBound]] =
    if (bounds.nonEmpty && bounds.forall(_.isDefined)) Some(bounds.flatten) else None

  /** `a op v` as a bound on a stats column; a timestamp literal is floored
    * to the manifest's whole seconds. */
  private def bound(a: Attribute, op: String, v: Any): Option[ColBound] = (a.name, v) match {
    case ("url" | "lang", s: UTF8String) if a.dataType == StringType =>
      Some(ColBound(a.name, op, s.toString))
    case ("warc_ts", us: Long) if a.dataType == TimestampType =>
      Some(ColBound("warc_ts", op, ColBound.utcSeconds(us)))
    case _ => None
  }
}
