package graft.lake

import org.scalatest.funsuite.AnyFunSuite

/** Vectors for the manifest codec and the commit: manifests as the log
  * wrote them before its JSON went through Jackson must parse to the same
  * [[Manifest]], every manifest must survive a render/parse round trip
  * with hostile strings (quotes, backslashes, control chars — all legal in
  * real-crawl urls), a crash mid-swap must recover, and the pruning
  * predicate must stay conservative on non-ASCII and unknown bounds. */
class SnapshotLogSpec extends AnyFunSuite {
  import SnapshotLogSpec._

  /** `m` through the PRODUCTION renderer and parser, so writer drift fails
    * this spec instead of silently breaking real manifests. */
  private def roundTrip(m: Manifest): Manifest =
    SnapshotLog.parseManifest(SnapshotLog.renderManifest(7, m))

  test("stats escape/parse round-trips hostile strings") {
    val nasty = BucketStats(
      urlMin = """https://a.example/path?q="x"&b=\ slash""",
      urlMax = "https://z.example/\u0001control\nnewline",
      langMin = "de", langMax = "fr",
      tsMin = "2023-11-14 22:13:20", tsMax = "2023-11-18 09:33:20")
    assert(nasty.urlMax.count(_ < ' ') == 2) // the real U+0001 and newline
    val plain = BucketStats("https://a", "https://b", "en", "en")
    // as the earlier codec wrote it: a control char as a six-char unicode
    // escape, the schema escaped a second time inside its string
    val written = """{"version":2,"buckets":[3,11],"stats":{"3":{"url_min":""" +
      """"https://a.example/path?q=\"x\"&b=\\ slash","url_max":"https://z.example/""" +
      "\\u0001" + "control" + "\\u000a" + """newline","lang_min":"de","lang_max":"fr",""" +
      """"ts_min":"2023-11-14 22:13:20",""" +
      """"ts_max":"2023-11-18 09:33:20"},"11":{"url_min":"https://a","url_max":"https://b",""" +
      """"lang_min":"en","lang_max":"en","ts_min":"","ts_max":""}},"schema":""" + hostileSchemaJson + "}"
    val want = Manifest(Set(3, 11), Map(3 -> nasty, 11 -> plain), Some(hostileSchema))
    assert(SnapshotLog.parseManifest(written) == want)
    assert(roundTrip(want) == want)
  }

  test("stats parse round-trips bounds of several KB") {
    // a 5 KB url bound, and one made of escapes
    val long = BucketStats(urlMin = "https://l.example/" + "x" * 5000 + "?q=\"\\",
      urlMax = "https://m.example/" + "a\"" * 1500, langMin = "en", langMax = "en")
    val entry = """{"url_min":"https://l.example/""" + "x" * 5000 + """?q=\"\\",""" +
      """"url_max":"https://m.example/""" + """a\"""" * 1500 + """","lang_min":"en",""" +
      """"lang_max":"en","ts_min":"","ts_max":""}"""
    val written = s"""{"version":2,"buckets":[0,1],"stats":{"0":$entry,"1":$entry},""" +
      s""""schema":$hostileSchemaJson}"""
    val want = Manifest(Set(0, 1), Map(0 -> long, 1 -> long), Some(hostileSchema))
    assert(SnapshotLog.parseManifest(written) == want)
    assert(roundTrip(want) == want)
  }

  test("pre-timestamp manifests still parse (ts bounds read as unknown)") {
    val old = """{"version":2,"buckets":[0,4],"stats":{""" +
      """"4":{"url_min":"https://a","url_max":"https://b","lang_min":"en","lang_max":"fr"}}}"""
    val parsed = SnapshotLog.parseManifest(old)
    val stats = BucketStats("https://a", "https://b", "en", "fr", "", "")
    assert(parsed == Manifest(Set(0, 4), Map(4 -> stats), None))
    assert(roundTrip(parsed) == parsed)
    // unknown ts bounds never prune
    assert(!ColBound("warc_ts", ">=", "2024-01-01 00:00:00").prunes(stats))
  }

  test("manifest schema: recorded at commit, survives hostile field names") {
    import java.nio.file.Files
    val root = Files.createTempDirectory("snaplog-test")
    val log = new SnapshotLog(root.toString)
    log.init()
    def commit(buckets: Int*): Unit = {
      val staged = buckets.map { b =>
        val dir = root.resolve("_tmp").resolve(s"$b-stage")
        Files.createDirectories(dir)
        b -> dir
      }.toMap
      log.commit(staged, buckets.map(_ -> BucketStats("https://a", "https://b", "en", "en")).toMap,
        hostileSchema)
    }
    commit(0, 1)
    commit(2)
    assert(log.latestVersion() == 2)
    assert(log.manifest(1).schema.contains(hostileSchema) && log.manifest(2).schema.contains(hostileSchema))
    assert(log.manifest(1).buckets == Set(0, 1) && log.manifest(2).buckets == Set(0, 1, 2))
    assert(log.manifest(2).stats.size == 3)
    SnapshotLog.deleteRecursively(root)
  }

  test("mid-swap crash recovery: replaced-* restores a missing bucket dir, garbage still sweeps") {
    import java.nio.file.{Files, Paths, StandardCopyOption}
    val root = Files.createTempDirectory("snaplog-test")
    val log = new SnapshotLog(root.toString)
    log.init()
    // commit bucket 3 with one data file
    val staged = root.resolve("_tmp").resolve("3-0-stage")
    Files.createDirectories(staged)
    Files.write(staged.resolve("part-0.parquet"), "ORIGINAL".getBytes("UTF-8"))
    log.commit(Map(3 -> staged), Map.empty, hostileSchema)
    assert(log.committedBuckets() == Set(3))
    // simulate a re-commit killed BETWEEN its two renames: the committed
    // data sits in replaced-3-1, the bucket dir is gone, the new data is
    // still in its stage dir
    val aside = root.resolve("_tmp").resolve("replaced-3-1")
    Files.move(log.bucketDataDir(3), aside, StandardCopyOption.ATOMIC_MOVE)
    val deadStage = root.resolve("_tmp").resolve("3-1-stage")
    Files.createDirectories(deadStage)
    Files.write(deadStage.resolve("part-0.parquet"), "UNCOMMITTED".getBytes("UTF-8"))
    assert(!Files.exists(log.bucketDataDir(3)))

    log.sweepStaleStages()
    // the manifest-referenced data is BACK, byte-identical
    val restored = new String(Files.readAllBytes(
      log.bucketDataDir(3).resolve("part-0.parquet")), "UTF-8")
    assert(restored == "ORIGINAL")
    // the dead stage and the (now consumed) aside dir are gone
    assert(!Files.exists(deadStage) && !Files.exists(aside))

    // a replaced-* whose bucket dir EXISTS is a completed swap's leftover:
    // swept, and the live data untouched
    val leftover = root.resolve("_tmp").resolve("replaced-3-2")
    Files.createDirectories(leftover)
    Files.write(leftover.resolve("part-0.parquet"), "OLD".getBytes("UTF-8"))
    log.sweepStaleStages()
    assert(!Files.exists(leftover))
    assert(new String(Files.readAllBytes(
      log.bucketDataDir(3).resolve("part-0.parquet")), "UTF-8") == "ORIGINAL")
    SnapshotLog.deleteRecursively(root)
  }

  test("two coexisting replaced-* dirs: the HIGHEST version is restored, the stale one swept") {
    import java.nio.file.{Files, StandardCopyOption}
    val root = Files.createTempDirectory("snaplog-test")
    val log = new SnapshotLog(root.toString)
    log.init()
    val staged = root.resolve("_tmp").resolve("5-0-stage")
    Files.createDirectories(staged)
    Files.write(staged.resolve("part-0.parquet"), "V2".getBytes("UTF-8"))
    log.commit(Map(5 -> staged), Map.empty, hostileSchema)
    // simulate the ADVICE r5 scenario: an OLD crashed swap left replaced-5-1
    // (stale data), then a newer re-commit to the same bucket also crashed
    // mid-swap, leaving the current committed data in replaced-5-3
    val stale = root.resolve("_tmp").resolve("replaced-5-1")
    Files.createDirectories(stale)
    Files.write(stale.resolve("part-0.parquet"), "V1-STALE".getBytes("UTF-8"))
    Files.move(log.bucketDataDir(5), root.resolve("_tmp").resolve("replaced-5-3"),
      StandardCopyOption.ATOMIC_MOVE)
    log.sweepStaleStages()
    assert(new String(Files.readAllBytes(
      log.bucketDataDir(5).resolve("part-0.parquet")), "UTF-8") == "V2")
    assert(!Files.exists(stale))
    SnapshotLog.deleteRecursively(root)
  }

  test("ColBound.warcTs renders the instant in UTC regardless of JVM zone") {
    val at = java.time.Instant.parse("2023-11-14T22:13:20Z")
    assert(ColBound.warcTs(">=", at) ==
      ColBound("warc_ts", ">=", "2023-11-14 22:13:20"))
  }

  test("ColBound pruning truth table") {
    val s = BucketStats("https://c.example", "https://m.example", "de", "fr",
      "2023-11-14 00:00:00", "2023-11-15 00:00:00")
    // equality outside [min, max] prunes; inside keeps
    assert(ColBound("lang", "=", "zz").prunes(s))
    assert(ColBound("lang", "=", "aa").prunes(s))
    assert(!ColBound("lang", "=", "en").prunes(s))
    // <= below min prunes; >= above max prunes; overlapping keeps
    assert(ColBound("url", "<=", "https://a").prunes(s))
    assert(ColBound("url", ">=", "https://z").prunes(s))
    assert(!ColBound("url", ">=", "https://d").prunes(s))
    assert(ColBound("warc_ts", ">=", "2023-11-16 00:00:00").prunes(s))
    assert(!ColBound("warc_ts", ">=", "2023-11-14 12:00:00").prunes(s))
    // strict ops on strings prune at the bound itself
    assert(ColBound("lang", "<", "de").prunes(s) && !ColBound("lang", "<=", "de").prunes(s))
    assert(ColBound("lang", ">", "fr").prunes(s) && !ColBound("lang", ">=", "fr").prunes(s))
    // warc_ts bounds are floored seconds: a max of 00:00:00 may be 00:00:00.9,
    // so a strict comparison prunes only what the inclusive one does
    assert(!ColBound("warc_ts", ">", "2023-11-15 00:00:00").prunes(s))
    assert(ColBound("warc_ts", ">", "2023-11-15 00:00:01").prunes(s))
    assert(!ColBound("warc_ts", "<", "2023-11-14 00:00:00").prunes(s))
    assert(ColBound("warc_ts", "<", "2023-11-13 23:59:59").prunes(s))
    // non-ASCII operands: conservative, never prune
    assert(!ColBound("lang", "=", "über").prunes(s))
    // unsupported column / op rejected eagerly
    intercept[IllegalArgumentException](ColBound("html", "=", "x"))
    intercept[IllegalArgumentException](ColBound("url", "!=", "x"))
  }
}

object SnapshotLogSpec {
  import org.apache.spark.sql.types._

  val hostileSchema: StructType = StructType(Seq(StructField("url", StringType),
    StructField("q\"uote\\back\nslash", ArrayType(IntegerType, containsNull = true)),
    StructField("warc_ts", TimestampType)))

  /** [[hostileSchema]] as the earlier codec wrote its `"schema"` field:
    * `StructType.json`, escaped once more. */
  val hostileSchemaJson: String =
    """"{\"type\":\"struct\",\"fields\":[{\"name\":\"url\",\"type\":\"string\",""" +
      """\"nullable\":true,\"metadata\":{}},{\"name\":\"q\\\"uote\\\\back\\nslash\",""" +
      """\"type\":{\"type\":\"array\",\"elementType\":\"integer\",\"containsNull\":true},""" +
      """\"nullable\":true,\"metadata\":{}},{\"name\":\"warc_ts\",\"type\":\"timestamp\",""" +
      """\"nullable\":true,\"metadata\":{}}]}""""
}
