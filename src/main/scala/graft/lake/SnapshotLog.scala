package graft.lake

import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import scala.jdk.CollectionConverters._

/** Iceberg-style snapshot commit log over plain parquet (SURVEY.md §7:
  * "parquet + a tiny self-written snapshot/manifest commit log giving atomic
  * commits + resume at partition granularity; swap-in of real Iceberg is a
  * config change if a runtime jar ever appears" — no Iceberg runtime exists
  * in this sandbox).
  *
  * Layout:
  *   <table>/data/bucket=<N>/          committed parquet for bucket N
  *   <table>/_snapshots/v<K>.json      manifest: all committed buckets at K
  *   <table>/_snapshots/LATEST         current manifest version (atomic swap)
  *
  * Commit protocol (crash-safe on POSIX rename semantics):
  *   1. job writes bucket data to <table>/_tmp/stage-<K>/bucket=<N>/
  *   2. staged dir atomically renamed to data/bucket=<N>/
  *   3. new manifest v<K+1>.json written, then LATEST swapped via
  *      temp-file + ATOMIC_MOVE
  * A killed run leaves only _tmp garbage and an un-referenced data dir at
  * worst; resume re-reads LATEST and skips committed buckets.
  */
final class SnapshotLog(tableDir: String) {
  private val root: Path = Paths.get(tableDir)
  private val snapsDir = root.resolve("_snapshots")
  private[lake] val dataDir = root.resolve("data")
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
  def committedBuckets(): Set[Int] = committedBucketsAt(latestVersion())

  /** Per-bucket (url, lang) min/max stats recorded in the latest manifest
    * (VERDICT r4 #6 — the Iceberg file-skipping analog at bucket
    * granularity). Buckets committed before stats existed, or with no rows,
    * simply have no entry — readers treat missing stats as not-prunable. */
  def bucketStats(): Map[Int, BucketStats] = bucketStatsAt(latestVersion())

  def bucketStatsAt(v: Int): Map[Int, BucketStats] = {
    if (v <= 0) Map.empty
    else {
      val manifest = snapsDir.resolve(s"v$v.json")
      if (!Files.exists(manifest)) Map.empty
      else SnapshotLog.parseStats(new String(Files.readAllBytes(manifest), "UTF-8"))
    }
  }

  /** Time travel: buckets committed as of manifest version `v` (0 = empty
    * table). Every manifest is retained, so any historical snapshot can be
    * read back — the Iceberg `VERSION AS OF` analog. */
  def committedBucketsAt(v: Int): Set[Int] = {
    if (v <= 0) Set.empty
    else {
      val manifest = snapsDir.resolve(s"v$v.json")
      require(Files.exists(manifest), s"no snapshot v$v under $snapsDir")
      SnapshotLog.parseBuckets(new String(Files.readAllBytes(manifest), "UTF-8"))
    }
  }

  def bucketDataDir(bucket: Int): Path = dataDir.resolve(s"bucket=$bucket")

  /** A scratch ROOT for one job staging many buckets at once via
    * `write.partitionBy("bucket")` — each `bucket=N` child dir is then
    * committed individually with [[commitBucket]]. Single-writer assumption
    * (same as the rest of the log): concurrent runs at the same version
    * would collide here. */
  def stagingRoot(): Path =
    tmpDir.resolve(s"stage-${latestVersion()}")

  /** Publish a staged bucket dir and record it in a new snapshot.
    *
    * Consistency contract (ADVICE r4): the log is SINGLE-WRITER and readers
    * are expected to resolve paths via a manifest BEFORE the swap or AFTER
    * it — a reader listing the bucket dir during the swap can observe a
    * missing dir for the instant between the two renames. Re-commit moves
    * the old data ASIDE first and deletes it only after the new dir is in
    * place, so the not-found window is two renames, not a recursive delete
    * (the previous delete-then-move ordering left a half-deleted bucket
    * visible for the whole delete).
    *
    * `stats` are the min/max bounds of exactly the rows being committed
    * and replace the bucket's previous entry; `None` (no rows, or bounds
    * unknown) records none, so the bucket is never pruned.
    *
    * The previous manifest is read and parsed ONCE per commit (round-5
    * review — the per-field helper calls re-read it several times). Each
    * manifest still lists every committed bucket, so a B-bucket table
    * writes O(B) manifest bytes per commit — the same bound as Iceberg's
    * manifest lists, amortized there by multi-bucket commits, here by
    * [[ResumableRun]]'s chunked staging (many buckets per job, few
    * commits). */
  def commitBucket(bucket: Int, staged: Path,
      stats: Option[BucketStats] = None): Unit = {
    val v0 = latestVersion()
    val dest = bucketDataDir(bucket)
    if (Files.exists(dest)) { // idempotent re-commit: move aside, swap, drop
      val aside = tmpDir.resolve(s"replaced-$bucket-$v0")
      if (Files.exists(aside)) deleteRecursively(aside)
      Files.move(dest, aside, StandardCopyOption.ATOMIC_MOVE)
      Files.move(staged, dest, StandardCopyOption.ATOMIC_MOVE)
      deleteRecursively(aside)
    } else Files.move(staged, dest, StandardCopyOption.ATOMIC_MOVE)
    val json0 =
      if (v0 <= 0) ""
      else new String(Files.readAllBytes(snapsDir.resolve(s"v$v0.json")), "UTF-8")
    val newBuckets = SnapshotLog.parseBuckets(json0) + bucket
    val newStats = SnapshotLog.parseStats(json0) - bucket ++ stats.map(bucket -> _)
    val v = v0 + 1
    val json =
      s"""{"version":$v,"buckets":[${newBuckets.toVector.sorted.mkString(",")}],""" +
        s""""stats":{${SnapshotLog.encodeStats(newStats)}}}"""
    Files.write(snapsDir.resolve(s"v$v.json"), json.getBytes("UTF-8"))
    val tmpLatest = snapsDir.resolve(s"LATEST.tmp")
    Files.write(tmpLatest, v.toString.getBytes("UTF-8"))
    Files.move(tmpLatest, snapsDir.resolve("LATEST"),
      StandardCopyOption.ATOMIC_MOVE, StandardCopyOption.REPLACE_EXISTING)
  }

  /** Paths of all committed bucket dirs (for reading the table back). */
  def committedPaths(): Vector[String] =
    committedBuckets().toVector.sorted.map(b => bucketDataDir(b).toString)

  /** Paths as of snapshot `v` (time travel). NOTE: valid for buckets whose
    * data was not re-committed after v (re-commit replaces the bucket dir;
    * this log keeps manifests, not data copies — same caveat as expiring
    * snapshots in Iceberg). */
  def committedPathsAt(v: Int): Vector[String] =
    committedBucketsAt(v).toVector.sorted.map(b => bucketDataDir(b).toString)

  /** Recover from a commit killed mid-swap, then remove orphaned staging
    * dirs left under `_tmp` by runs killed during staging or the commit
    * loop (ADVICE r3): a restarted run computes a new stagingRoot from the
    * advanced version and would never clean the old one, leaking staged
    * parquet forever. Single-writer assumption (same as the rest of the
    * log).
    *
    * Recovery MUST run before deletion: a re-commit swap that died between
    * its two renames leaves the bucket's only committed data in
    * `replaced-<bucket>-<v>` with `data/bucket=<bucket>` missing — that
    * dir is the manifest's referenced data, not garbage, so it is MOVED
    * BACK first (round-5 review: the earlier indiscriminate sweep would
    * have destroyed it, turning a crash window into permanent loss).
    * `replaced-*` dirs whose bucket dir EXISTS are leftovers of a swap
    * that completed its second rename, and stage dirs (`stage-*`, and the
    * `<bucket>-<v>-stage` dirs older compactions staged into) are
    * re-creatable job output — both garbage. */
  def sweepStaleStages(): Unit =
    if (Files.exists(tmpDir)) {
      val stream = Files.list(tmpDir)
      val entries = try stream.iterator().asScala.toVector finally stream.close()
      val replaced = "replaced-(\\d+)-(\\d+)".r
      // ADVICE r5: if several replaced-<bucket>-<v> dirs for one bucket ever
      // coexist (two crashed re-commits without an intervening sweep), the
      // HIGHEST version is the newest committed data — restore that one and
      // let the generic sweep below collect the stale lower versions, so
      // filesystem listing order can never resurrect an old copy.
      entries.flatMap { p =>
        p.getFileName.toString match {
          case replaced(b, v) => Some((b.toInt, v.toInt, p))
          case _ => None
        }
      }.groupBy(_._1).foreach { case (b, dirs) =>
        if (!Files.exists(bucketDataDir(b)))
          Files.move(dirs.maxBy(_._2)._3, bucketDataDir(b),
            StandardCopyOption.ATOMIC_MOVE)
      }
      entries.filter { p =>
        val n = p.getFileName.toString
        Files.exists(p) && // not just restored above
          (n.startsWith("stage-") || n.endsWith("-stage") || n.startsWith("replaced-"))
      }.foreach(SnapshotLog.deleteRecursively)
    }

  /** Expire old manifests, keeping the most recent `keepLast` versions (the
    * Iceberg `expireSnapshots` analog — the operational half of snapshot
    * maintenance, bounding `_snapshots/` growth on a long-lived table).
    * Time travel to an expired version then fails by design; LATEST and
    * data dirs are untouched. Returns the versions removed. */
  def expireManifests(keepLast: Int): Vector[Int] = {
    require(keepLast >= 1, "must keep at least the latest manifest")
    val latest = latestVersion()
    val expired = (1 to latest - keepLast).toVector
    expired.foreach { v =>
      val p = snapsDir.resolve(s"v$v.json")
      if (Files.exists(p)) Files.delete(p)
    }
    expired
  }

  private def deleteRecursively(p: Path): Unit = SnapshotLog.deleteRecursively(p)
}

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
  * {"=", "<=", ">="} over the stats-tracked columns ("url", "lang",
  * "warc_ts"). Pruning is CONSERVATIVE: a bucket is skipped only when its
  * recorded bounds prove no row can match; missing stats keep the bucket.
  * Callers must still apply the row-level filter — pruning only shrinks
  * the scan.
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
  require(Set("=", "<=", ">=").contains(op), s"unsupported op $op")

  /** True when `stats` PROVES no row of the bucket satisfies this bound.
    * String order: Spark compares strings by UTF-8 binary order while
    * Java's compareTo is UTF-16 code-unit order — identical for ASCII, so
    * pruning only engages when every operand is ASCII (else conservative). */
  def prunes(stats: BucketStats): Boolean = {
    val (lo, hi) = col match {
      case "url" => (stats.urlMin, stats.urlMax)
      case "warc_ts" => (stats.tsMin, stats.tsMax)
      case _ => (stats.langMin, stats.langMax)
    }
    def ascii(s: String) = s.forall(_ < 128)
    if (lo.isEmpty || hi.isEmpty) false // bounds unknown: keep the bucket
    else if (!ascii(lo) || !ascii(hi) || !ascii(value)) false
    else op match {
      case "=" => value < lo || value > hi
      case "<=" => lo > value // even the smallest row exceeds the bound
      case ">=" => hi < value // even the largest row is below the bound
    }
  }
}

object ColBound {
  private val utcFmt = java.time.format.DateTimeFormatter
    .ofPattern("yyyy-MM-dd HH:mm:ss", java.util.Locale.ROOT)
    .withZone(java.time.ZoneOffset.UTC)

  /** Timezone-proof warc_ts bound: renders `at` in UTC to match how
    * ResumableRun records manifest bounds, regardless of the session or
    * JVM time zone (ADVICE r5). Pair the row-level filter with the same
    * instant (e.g. `col("warc_ts") >= lit(Timestamp.from(at))`), never
    * with a re-parsed string. */
  def warcTs(op: String, at: java.time.Instant): ColBound =
    ColBound("warc_ts", op, utcFmt.format(at))
}

object SnapshotLog {
  def deleteRecursively(p: Path): Unit = {
    if (Files.exists(p)) {
      Files.walk(p).iterator().asScala.toVector.reverse.foreach(Files.delete)
    }
  }

  private[lake] def esc(s: String): String =
    s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    }

  private def unesc(s: String): String = {
    val sb = new StringBuilder
    var i = 0
    while (i < s.length) {
      if (s.charAt(i) == '\\' && i + 1 < s.length) {
        s.charAt(i + 1) match {
          case 'u' if i + 5 < s.length =>
            sb.append(Integer.parseInt(s.substring(i + 2, i + 6), 16).toChar); i += 6
          case c => sb.append(c); i += 2
        }
      } else { sb.append(s.charAt(i)); i += 1 }
    }
    sb.toString
  }

  // the ts fields are optional in the pattern so manifests written before
  // timestamp bounds existed still parse (their ts bounds read as empty =
  // unknown, which pruning treats as not-prunable)
  /** The production stats encoder — also exercised directly by
    * SnapshotLogSpec's round-trip vectors so the test cannot drift from
    * the writer (round-5 review). */
  private[lake] def encodeStats(stats: Map[Int, BucketStats]): String =
    stats.toVector.sortBy(_._1).map { case (b, s) =>
      s""""$b":{"url_min":"${esc(s.urlMin)}","url_max":"${esc(s.urlMax)}",""" +
        s""""lang_min":"${esc(s.langMin)}","lang_max":"${esc(s.langMax)}",""" +
        s""""ts_min":"${esc(s.tsMin)}","ts_max":"${esc(s.tsMax)}"}"""
    }.mkString(",")

  /** Bucket list of a manifest json ({"version":K,"buckets":[1,2,3],...});
    * empty input parses as the empty table. */
  private[lake] def parseBuckets(json: String): Set[Int] =
    """"buckets"\s*:\s*\[([0-9,\s]*)\]""".r.findFirstMatchIn(json) match {
      case Some(g) =>
        g.group(1).split(",").map(_.trim).filter(_.nonEmpty).map(_.toInt).toSet
      case None => Set.empty
    }

  private val statsEntry =
    (""""(\d+)":\{"url_min":"((?:[^"\\]|\\.)*)","url_max":"((?:[^"\\]|\\.)*)",""" +
      """"lang_min":"((?:[^"\\]|\\.)*)","lang_max":"((?:[^"\\]|\\.)*)"""" +
      """(?:,"ts_min":"((?:[^"\\]|\\.)*)","ts_max":"((?:[^"\\]|\\.)*)")?\}""").r

  private[lake] def parseStats(json: String): Map[Int, BucketStats] =
    statsEntry.findAllMatchIn(json).map { m =>
      m.group(1).toInt -> BucketStats(unesc(m.group(2)), unesc(m.group(3)),
        unesc(m.group(4)), unesc(m.group(5)),
        Option(m.group(6)).map(unesc).getOrElse(""),
        Option(m.group(7)).map(unesc).getOrElse(""))
    }.toMap
}
