package graft.lake

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import scala.jdk.CollectionConverters._
import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.types.{DataType, StructType}

/** Iceberg-style snapshot commit log over plain parquet (SURVEY.md §7:
  * "parquet + a tiny self-written snapshot/manifest commit log giving atomic
  * commits + resume at partition granularity; swap-in of real Iceberg is a
  * config change if a runtime jar ever appears" — no Iceberg runtime exists
  * in this sandbox).
  *
  * Layout:
  *   <table>/data/bucket=<N>/          committed parquet for bucket N
  *   <table>/_snapshots/v<K>.json      manifest: all committed buckets at K,
  *                                     their stats, and the table schema
  *   <table>/_snapshots/LATEST         current manifest version (atomic swap)
  *
  * The manifest's `"schema"` is the data files' Spark schema
  * (`StructType.json`, as a JSON string), so readers build the table from
  * the manifest alone and never infer it from parquet footers. A bucket
  * with no rows commits an empty dir: the schema lives in the manifest,
  * not in a schema-only parquet file.
  *
  * Commit protocol, one snapshot per run (crash-safe on POSIX rename
  * semantics):
  *   1. one job writes every bucket of the run to
  *      <table>/_tmp/stage-<K>/bucket=<N>/
  *   2. each staged dir is atomically renamed to data/bucket=<N>/, which
  *      no manifest lists yet: a committed bucket dir is write-once
  *   3. one manifest v<K+1>.json listing every bucket is written, then
  *      LATEST is swapped via temp-file + ATOMIC_MOVE
  * A reader resolving LATEST sees all of a run or none of it. A killed run
  * leaves only _tmp garbage and un-referenced data dirs at worst; resume
  * sweeps both ([[sweepStaleStages]]), re-reads LATEST and re-stages every
  * bucket it does not list.
  */
final class SnapshotLog(tableDir: String) {
  private val root: Path = Paths.get(tableDir)
  private val snapsDir = root.resolve("_snapshots")
  private val dataDir = root.resolve("data")
  private val tmpDir = root.resolve("_tmp")

  def init(): Unit = {
    Files.createDirectories(snapsDir)
    Files.createDirectories(dataDir)
    Files.createDirectories(tmpDir)
  }

  def latestVersion(): Int = {
    val latest = snapsDir.resolve("LATEST")
    if (Files.exists(latest)) new String(Files.readAllBytes(latest)).trim.toInt
    else 0
  }

  /** Buckets committed as of the latest snapshot. */
  def committedBuckets(): Set[Int] = manifest(latestVersion()).buckets

  /** Per-bucket (url, lang, warc_ts) min/max stats recorded in the latest
    * manifest (the Iceberg file-skipping analog at bucket granularity).
    * Buckets committed before stats existed, or with no rows, simply have
    * no entry — readers treat missing stats as not-prunable. */
  def bucketStats(): Map[Int, BucketStats] = manifest(latestVersion()).stats

  /** Manifest version `v`, parsed once: buckets, stats and schema. Version
    * 0 is the empty table; an expired or never-written version fails. Every
    * manifest is retained until [[expireManifests]], so any historical
    * snapshot can be read back — the Iceberg `VERSION AS OF` analog. */
  private[lake] def manifest(v: Int): Manifest =
    if (v <= 0) Manifest(Set.empty, Map.empty, None)
    else {
      val path = snapsDir.resolve(s"v$v.json")
      require(Files.exists(path), s"no snapshot v$v under $snapsDir")
      SnapshotLog.parseManifest(new String(Files.readAllBytes(path), UTF_8))
    }

  def bucketDataDir(bucket: Int): Path = dataDir.resolve(s"bucket=$bucket")

  /** A scratch ROOT for one job staging many buckets at once via
    * `write.partitionBy("bucket")` — its `bucket=N` child dirs are then
    * published together by [[commit]]. Single-writer assumption (same as
    * the rest of the log): concurrent runs at the same version would
    * collide here. */
  def stagingRoot(): Path =
    tmpDir.resolve(s"stage-${latestVersion()}")

  /** Publish staged bucket dirs (bucket -> dir) and record them all in ONE
    * new snapshot.
    *
    * Committed bucket dirs are WRITE-ONCE: a bucket the latest manifest
    * already lists fails the commit before anything moves (the manifest is
    * checked, not the rename: a rename onto an existing EMPTY dir, the form
    * an empty bucket commits in, replaces it). A listed dir therefore never
    * changes, so a reader never races the writer on it and every manifest
    * version reads back exactly its own rows. The log is SINGLE-WRITER.
    *
    * `stats` are the min/max bounds of exactly the rows being committed; a
    * staged bucket without one (no rows, or bounds unknown) records none, so
    * it is never pruned. `schema` is the data files' schema.
    *
    * The new manifest lists every committed bucket, so each commit writes
    * O(B) manifest bytes for a B-bucket table — once per run, the bound of
    * Iceberg's one manifest list per write. */
  def commit(staged: Map[Int, Path], stats: Map[Int, BucketStats], schema: StructType): Unit = {
    val v0 = latestVersion()
    val prev = manifest(v0)
    val listed = staged.keySet.intersect(prev.buckets)
    if (listed.nonEmpty) throw new IllegalStateException(
      s"buckets ${listed.toVector.sorted.mkString(", ")} are already listed in snapshot v$v0 " +
        s"of $root; committed bucket dirs are write-once")
    staged.toVector.sortBy(_._1).foreach { case (bucket, dir) =>
      Files.move(dir, bucketDataDir(bucket), StandardCopyOption.ATOMIC_MOVE)
    }
    val next = Manifest(prev.buckets ++ staged.keySet, prev.stats ++ stats, Some(schema))
    val v = v0 + 1
    Files.write(snapsDir.resolve(s"v$v.json"), SnapshotLog.renderManifest(v, next).getBytes(UTF_8))
    val tmpLatest = snapsDir.resolve(s"LATEST.tmp")
    Files.write(tmpLatest, v.toString.getBytes(UTF_8))
    Files.move(tmpLatest, snapsDir.resolve("LATEST"),
      StandardCopyOption.ATOMIC_MOVE, StandardCopyOption.REPLACE_EXISTING)
  }

  /** Paths of all committed bucket dirs (for reading the table back). */
  def committedPaths(): Vector[String] =
    committedBuckets().toVector.sorted.map(b => bucketDataDir(b).toString)

  /** Remove what killed runs left behind. Under the single-writer rule
    * `_tmp` holds nothing but staging output, and a run killed after its
    * `LATEST` swap leaves a stage root no later run stages under again, so
    * every entry of `_tmp` is deleted. Then every `data/bucket=N` the latest
    * manifest does not list is deleted: a bucket never leaves a manifest, so
    * such a dir was moved in by a commit killed before its `LATEST` swap.
    * A later run with another `nBuckets` or `bucketExpr` might never commit
    * that bucket again, and a commit's rename onto it fails while it holds
    * files. */
  def sweepStaleStages(): Unit = {
    SnapshotLog.children(tmpDir).foreach(deleteRecursively)
    val listed = committedBuckets().map(b => s"bucket=$b")
    SnapshotLog.children(dataDir).filter { p =>
      val n = p.getFileName.toString
      n.startsWith("bucket=") && !listed.contains(n)
    }.foreach(deleteRecursively)
  }

  /** Expire old manifests, keeping the most recent `keepLast` versions (the
    * Iceberg `expireSnapshots` analog — the operational half of snapshot
    * maintenance, bounding `_snapshots/` growth on a long-lived table).
    * Time travel to an expired version then fails by design; LATEST and
    * data dirs are untouched. Returns the versions this call deleted. */
  def expireManifests(keepLast: Int): Vector[Int] = {
    require(keepLast >= 1, "must keep at least the latest manifest")
    (1 to latestVersion() - keepLast).toVector
      .filter(v => Files.deleteIfExists(snapsDir.resolve(s"v$v.json")))
  }

  private def deleteRecursively(p: Path): Unit = SnapshotLog.deleteRecursively(p)
}

/** One parsed manifest. `schema` is `None` only in the empty table and in
  * manifests written before the log recorded it. */
private[lake] final case class Manifest(buckets: Set[Int], stats: Map[Int, BucketStats],
    schema: Option[StructType])

/** Per-bucket column bounds recorded in a manifest at commit time — the
  * Iceberg per-file min/max stats analog, at the log's bucket granularity.
  * Bounds are the COMMITTED rows' actual min/max (inclusive). Timestamps
  * are fixed-width `yyyy-MM-dd HH:mm:ss` UTC strings, so lexicographic
  * comparison equals chronological comparison and the one string pruning
  * mechanism serves all three columns (the "read the November crawl
  * snapshot" query is the canonical time-range prune). */
final case class BucketStats(urlMin: String, urlMax: String,
    langMin: String, langMax: String, tsMin: String = "", tsMax: String = "")

/** A pushable bucket-pruning predicate: `col op value` with op in
  * {"=", "<", "<=", ">", ">="} over the stats-tracked columns ("url",
  * "lang", "warc_ts"). Pruning is CONSERVATIVE: a bucket is skipped only
  * when its recorded bounds prove no row can match; missing stats keep the
  * bucket. [[ManifestFileIndex]] derives these from a read's `.filter`
  * conjuncts; [[column]] turns one back into that filter.
  *
  * warc_ts CONTRACT (ADVICE r5): manifest timestamp bounds are rendered in
  * UTC (`yyyy-MM-dd HH:mm:ss`), so a warc_ts `value` MUST be the UTC
  * rendering of the intended instant — build it with [[ColBound.warcTs]]
  * from a [[java.time.Instant]] rather than a hand-formatted string. A
  * value rendered in the session time zone of a non-UTC session would
  * compare as a DIFFERENT instant than the row-level filter built from the
  * same string, and the prune could skip buckets the filter keeps. */
final case class ColBound(col: String, op: String, value: String) {
  require(col == "url" || col == "lang" || col == "warc_ts",
    s"no stats for column $col")
  require(Set("=", "<", "<=", ">", ">=").contains(op), s"unsupported op $op")

  /** True when `stats` PROVES no row of the bucket satisfies this bound.
    * String order: Spark compares strings by UTF-8 binary order while
    * Java's compareTo is UTF-16 code-unit order — identical for ASCII, so
    * pruning only engages when every operand is ASCII (else conservative).
    * warc_ts bounds and values are whole seconds, floored: a recorded max
    * of 10 s stands for a true max below 11 s, so a strict comparison on
    * warc_ts prunes only what its inclusive form prunes. */
  def prunes(stats: BucketStats): Boolean = {
    val (lo, hi) = col match {
      case "url" => (stats.urlMin, stats.urlMax)
      case "warc_ts" => (stats.tsMin, stats.tsMax)
      case _ => (stats.langMin, stats.langMax)
    }
    def ascii(s: String) = s.forall(_ < 128)
    val strict = col != "warc_ts"
    if (lo.isEmpty || hi.isEmpty) false // bounds unknown: keep the bucket
    else if (!ascii(lo) || !ascii(hi) || !ascii(value)) false
    else op match {
      case "=" => value < lo || value > hi
      case "<" => if (strict) lo >= value else lo > value
      case "<=" => lo > value // even the smallest row exceeds the bound
      case ">" => if (strict) hi <= value else hi < value
      case ">=" => hi < value // even the largest row is below the bound
    }
  }

  /** This bound as a row filter (warc_ts values read as UTC instants). */
  def column: org.apache.spark.sql.Column = {
    import org.apache.spark.sql.functions.{col => c, lit}
    val v = if (col == "warc_ts")
      lit(java.sql.Timestamp.from(java.time.Instant.from(ColBound.utcFmt.parse(value))))
    else lit(value)
    op match {
      case "=" => c(col) === v
      case "<" => c(col) < v
      case "<=" => c(col) <= v
      case ">" => c(col) > v
      case ">=" => c(col) >= v
    }
  }
}

object ColBound {
  private[lake] val utcFmt = java.time.format.DateTimeFormatter
    .ofPattern("yyyy-MM-dd HH:mm:ss", java.util.Locale.ROOT)
    .withZone(java.time.ZoneOffset.UTC)

  /** Timezone-proof warc_ts bound: renders `at` in UTC to match how
    * ResumableRun records manifest bounds, regardless of the session or
    * JVM time zone (ADVICE r5). Pair the row-level filter with the same
    * instant (e.g. `col("warc_ts") >= lit(Timestamp.from(at))`), never
    * with a re-parsed string. */
  def warcTs(op: String, at: java.time.Instant): ColBound =
    ColBound("warc_ts", op, utcFmt.format(at))

  /** Epoch micros as the manifest renders warc_ts: whole UTC seconds,
    * floored (pre-epoch values too). */
  private[lake] def utcSeconds(micros: Long): String =
    utcFmt.format(java.time.Instant.ofEpochSecond(Math.floorDiv(micros, 1000000L)))

  /** The one bucket-pruning decision: true when `stats` prove that no row
    * satisfies `clauses`, a conjunction of disjunctions of bounds. */
  def prunes(stats: BucketStats, clauses: Seq[Seq[ColBound]]): Boolean =
    clauses.exists(anyOf => anyOf.nonEmpty && anyOf.forall(_.prunes(stats)))
}

object SnapshotLog {
  /** Entries of `dir`; none when it is missing. The directory stream is
    * closed eagerly: `Files.list` holds an fd until GC. */
  private def children(dir: Path): Vector[Path] =
    if (!Files.isDirectory(dir)) Vector.empty
    else {
      val s = Files.list(dir)
      try s.iterator().asScala.toVector finally s.close()
    }

  /** Data files of one bucket dir (parquet parts only); none when the dir
    * is missing. */
  def parquetFiles(dir: Path): Vector[Path] =
    children(dir).filter(_.getFileName.toString.endsWith(".parquet"))

  def deleteRecursively(p: Path): Unit = {
    if (Files.exists(p)) {
      Files.walk(p).iterator().asScala.toVector.reverse.foreach(Files.delete)
    }
  }

  private val json = new ObjectMapper()

  /** Manifest `version` as JSON: `version`, the sorted `buckets`, `stats`
    * keyed by bucket with `url_min` … `ts_max`, and `schema` as a JSON
    * string. */
  private[lake] def renderManifest(version: Int, m: Manifest): String = {
    val root = json.createObjectNode().put("version", version)
    val buckets = root.putArray("buckets")
    m.buckets.toVector.sorted.foreach(b => buckets.add(b))
    val stats = root.putObject("stats")
    m.stats.toVector.sortBy(_._1).foreach { case (b, s) =>
      stats.putObject(b.toString).put("url_min", s.urlMin).put("url_max", s.urlMax)
        .put("lang_min", s.langMin).put("lang_max", s.langMax)
        .put("ts_min", s.tsMin).put("ts_max", s.tsMax)
    }
    m.schema.foreach(t => root.put("schema", t.json))
    json.writeValueAsString(root)
  }

  /** Parses what [[renderManifest]] writes. A missing `ts_min`/`ts_max`
    * (manifests written before timestamp bounds existed) reads as ""
    * (unknown, never prunes). */
  private[lake] def parseManifest(text: String): Manifest = {
    val root = json.readTree(text)
    val stats = root.path("stats").properties().asScala.map { e =>
      def field(k: String) = e.getValue.path(k).asText("")
      e.getKey.toInt -> BucketStats(field("url_min"), field("url_max"),
        field("lang_min"), field("lang_max"), field("ts_min"), field("ts_max"))
    }.toMap
    Manifest(root.path("buckets").elements().asScala.map(_.asInt).toSet, stats,
      Option(root.get("schema")).map(s => DataType.fromJson(s.asText).asInstanceOf[StructType]))
  }
}
