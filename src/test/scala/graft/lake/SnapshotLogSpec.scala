package graft.lake

import scala.jdk.CollectionConverters._
import org.scalatest.funsuite.AnyFunSuite

/** Vectors for the manifest codec and the commit: manifests as the log
  * wrote them before its JSON went through Jackson must parse to the same
  * [[Manifest]], every manifest must survive a render/parse round trip
  * with hostile strings (quotes, backslashes, control chars — all legal in
  * real-crawl urls), a commit must refuse a bucket a manifest already
  * lists, and the pruning predicate must stay conservative on non-ASCII
  * and unknown bounds. */
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

  test("commit of a listed bucket fails and nothing moves") {
    import java.nio.file.{Files, Path}
    val root = Files.createTempDirectory("snaplog-test")
    val log = new SnapshotLog(root.toString)
    log.init()
    def stage(name: String, content: Option[String]): Path = {
      val dir = root.resolve("_tmp").resolve(name)
      Files.createDirectories(dir)
      content.foreach(c => Files.write(dir.resolve("part-0.parquet"), c.getBytes("UTF-8")))
      dir
    }
    // v1: bucket 0 holds a file, bucket 1 is an empty dir; v2 adds bucket 2
    log.commit(Map(0 -> stage("a", Some("V1")), 1 -> stage("b", None)), Map.empty, hostileSchema)
    log.commit(Map(2 -> stage("c", Some("V2"))), Map.empty, hostileSchema)
    /** Every file and dir under the table, file contents included. */
    def tree(): Map[String, String] = {
      val s = Files.walk(root)
      try s.iterator().asScala.map { p =>
        root.relativize(p).toString ->
          (if (Files.isDirectory(p)) "<dir>" else new String(Files.readAllBytes(p), "UTF-8"))
      }.toMap finally s.close()
    }
    Seq("non-empty bucket" -> 0, "empty-dir bucket" -> 1).foreach { case (name, b) =>
      // an unlisted bucket in the same commit must not move either
      val staged = Map(b -> stage(s"listed-$b", Some("NEW")), 3 -> stage(s"unlisted-$b", Some("NEW")))
      val before = tree()
      assert(before.keySet.exists(_.startsWith("_snapshots/v")) && before.contains("_snapshots/LATEST"))
      val e = intercept[IllegalStateException](log.commit(staged, Map.empty, hostileSchema))
      assert(e.getMessage.contains(s"buckets $b are already listed in snapshot v2"), name)
      assert(tree() == before, name)
    }
    assert(log.latestVersion() == 2 && log.committedBuckets() == Set(0, 1, 2))
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
