package graft.ops

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** Multimodal columns for the training-data pipeline (builder mandate):
  * image/audio/video as opaque BINARY columns with typed metadata, plus
  * decode / feature-extract / resize / frame-sample operators.
  *
  * The real codec layer is STUBBED (no image/audio libraries exist in this
  * container): media bytes use a deterministic fake container format that
  * the "decoder" actually parses —
  *   IMG1 | w:2B big-endian | h:2B | payload (w*h/64 pseudo-random bytes)
  *   AUD1 | sample_rate/100:2B | n_samples/1000:2B | payload
  *   VID1 | n_frames:2B | fps:1B | payload
  * — so the Spark-side plumbing (schema, partitioning, batched
  * executor-local processing, operator signatures) is real and tested, and
  * swapping in a true codec is a function-body change only.
  *
  * The batched mapPartitions below is the Scala analog of the PySpark
  * `mapInPandas` pattern: one reusable "decoder context" per partition,
  * rows processed in batches — how a real codec (or model) would amortize
  * init cost per executor core.
  */
object Multimodal {

  final case class MediaRow(media_id: Long, media_type: String, media: Array[Byte])
  final case class MediaMeta(media_id: Long, media_type: String, format: String,
      width: Int, height: Int, sample_rate: Int, n_frames: Int, n_bytes: Long)
  final case class MediaFeatures(media_id: Long, features: Array[Double])
  final case class FrameSample(media_id: Long, frame_index: Int)

  // ---- deterministic synthesis (media table derived from embeddings ids) ---
  def widthFor(id: Long): Int = 64 + (id % 64).toInt
  def heightFor(id: Long): Int = 48 + (id % 48).toInt
  def sampleRateFor(id: Long): Int = (8000 + (id % 5) * 8000).toInt
  def nFramesFor(id: Long): Int = 16 + (id % 240).toInt

  def synthMedia(id: Long): MediaRow = {
    val kind = (id % 3) match {
      case 0 => "image"; case 1 => "audio"; case _ => "video"
    }
    val out = new java.io.ByteArrayOutputStream()
    def u16(v: Int): Unit = { out.write((v >> 8) & 0xff); out.write(v & 0xff) }
    var seed = id * 0x9e3779b97f4a7c15L + 7
    def nextByte(): Int = {
      seed ^= seed >>> 12; seed ^= seed << 25; seed ^= seed >>> 27
      ((seed * 0x2545f4914f6cdd1dL) >>> 56).toInt & 0xff
    }
    kind match {
      case "image" =>
        out.write("IMG1".getBytes("ASCII"))
        u16(widthFor(id)); u16(heightFor(id))
        val n = widthFor(id) * heightFor(id) / 64
        (0 until n).foreach(_ => out.write(nextByte()))
      case "audio" =>
        out.write("AUD1".getBytes("ASCII"))
        u16(sampleRateFor(id) / 100); u16(((id % 30) + 1).toInt)
        (0 until 256).foreach(_ => out.write(nextByte()))
      case _ =>
        out.write("VID1".getBytes("ASCII"))
        u16(nFramesFor(id)); out.write(24)
        (0 until 512).foreach(_ => out.write(nextByte()))
    }
    MediaRow(id, kind, out.toByteArray)
  }

  /** The media table: one row per embeddings row (keeps row counts tied to
    * the driver's scale factors). */
  def mediaTable(spark: SparkSession, sfDir: String): Dataset[MediaRow] = {
    import spark.implicits._
    graft.OpsQueries.input(spark, s"$sfDir/embeddings.parquet")
      .select($"vec_id").as[Long].map(synthMedia)
  }

  // ---- decode (stubbed codec, real container parsing) ----------------------
  private def u16(b: Array[Byte], i: Int): Int =
    ((b(i) & 0xff) << 8) | (b(i + 1) & 0xff)

  def decode(r: MediaRow): MediaMeta = {
    val b = r.media
    val magic = if (b.length >= 4) new String(b, 0, 4, "ASCII") else ""
    // header-length guards (round-5 review): a TRUNCATED container — valid
    // magic, short header — must take the graceful 'unknown' path like a
    // bad magic does, not crash the whole job with an out-of-bounds read
    // (R1-style robustness: one malformed blob never fails a task)
    magic match {
      case "IMG1" if b.length >= 8 => MediaMeta(r.media_id, r.media_type, "img1",
        u16(b, 4), u16(b, 6), 0, 0, b.length.toLong)
      case "AUD1" if b.length >= 6 => MediaMeta(r.media_id, r.media_type, "aud1",
        0, 0, u16(b, 4) * 100, 0, b.length.toLong)
      case "VID1" if b.length >= 6 => MediaMeta(r.media_id, r.media_type, "vid1",
        0, 0, 0, u16(b, 4), b.length.toLong)
      case _ => MediaMeta(r.media_id, r.media_type, "unknown", 0, 0, 0, 0, b.length.toLong)
    }
  }

  /** Batched executor-local decode — the mapInPandas-shaped operator: a
    * per-partition decoder context amortized over row batches. */
  def decodeAll(media: Dataset[MediaRow]): Dataset[MediaMeta] = {
    import media.sparkSession.implicits._
    media.mapPartitions { rows =>
      // per-partition "codec init" happens here (real codecs are expensive
      // to construct; the stub's context is trivial)
      rows.grouped(256).flatMap { batch => batch.iterator.map(decode) }
    }
  }

  /** Container header length by magic: IMG1 = 4+2+2, AUD1 = 4+2+2,
    * VID1 = 4+2+1, unknown = whole blob treated as payload-less. */
  def headerLen(media: Array[Byte]): Int =
    if (media.length < 4) media.length
    else new String(media, 0, 4, "ASCII") match {
      case "IMG1" | "AUD1" => 8
      case "VID1"          => 7
      case _               => media.length
    }

  /** 8-bin L1-normalized byte histogram of the PAYLOAD (header excluded) —
    * the pure per-row kernel behind mm_features, factored out so the unit
    * gate can cross-check it against an independent computation (round 4:
    * the previous inline loop skipped a constant 8 bytes, silently eating
    * the first payload byte of every video — VID1's header is 7 bytes). */
  def histogram8(media: Array[Byte]): Array[Double] = {
    val bins = new Array[Double](8)
    var i = headerLen(media)
    while (i < media.length) { bins((media(i) & 0xff) >> 5) += 1; i += 1 }
    val total = bins.sum
    if (total > 0) { var j = 0; while (j < 8) { bins(j) /= total; j += 1 } }
    bins
  }

  /** Feature extraction stub: 8-bin byte histogram of the payload,
    * L1-normalized — deterministic, shaped like an embedding head. */
  def features(media: Dataset[MediaRow]): Dataset[MediaFeatures] = {
    import media.sparkSession.implicits._
    media.mapPartitions { rows =>
      rows.map(r => MediaFeatures(r.media_id, histogram8(r.media)))
    }
  }

  /** Resize stub: halve image dims (header rewrite + payload subsample). */
  def resizeHalf(media: Dataset[MediaRow]): Dataset[MediaRow] = {
    import media.sparkSession.implicits._
    media.map { r =>
      if (r.media.length >= 8 && new String(r.media, 0, 4, "ASCII") == "IMG1") {
        val w = u16(r.media, 4) / 2
        val h = u16(r.media, 6) / 2
        val out = new java.io.ByteArrayOutputStream()
        out.write("IMG1".getBytes("ASCII"))
        out.write((w >> 8) & 0xff); out.write(w & 0xff)
        out.write((h >> 8) & 0xff); out.write(h & 0xff)
        var i = 8
        while (i < r.media.length) { out.write(r.media(i)); i += 4 } // 1-in-4 subsample
        r.copy(media = out.toByteArray)
      } else r
    }
  }

  /** Frame sampling for video rows: every `stride`-th frame index. */
  def frameSample(media: Dataset[MediaRow], stride: Int): Dataset[FrameSample] = {
    import media.sparkSession.implicits._
    media.flatMap { r =>
      if (r.media.length >= 7 && new String(r.media, 0, 4, "ASCII") == "VID1") {
        val frames = u16(r.media, 4)
        (0 until frames by stride).map(f => FrameSample(r.media_id, f))
      } else Seq.empty
    }
  }

  // ---- queries + oracles ----------------------------------------------------
  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // decode parses the binary; the ORACLE recomputes the same metadata
    // algebraically from media_id — a genuine cross-check of the parser
    "mm_decode" -> ((s: SparkSession, dir: String) => {
      decodeAll(mediaTable(s, dir)).toDF()
        .select(col("media_id"), col("media_type"), col("format"),
          col("width"), col("height"), col("sample_rate"), col("n_frames"))
        .orderBy("media_id")
    }),
    "mm_framesample" -> ((s: SparkSession, dir: String) => {
      frameSample(mediaTable(s, dir), 10).toDF()
        .select(col("media_id"), col("frame_index"))
        .orderBy("media_id", "frame_index")
    }),
    // rows-only: feature histograms and resize round-trip
    "mm_features" -> ((s: SparkSession, dir: String) => {
      features(mediaTable(s, dir)).toDF()
        .select(col("media_id"),
          round(element_at(col("features"), 1), 4).as("bin0"),
          round(element_at(col("features"), 8), 4).as("bin7"))
        .orderBy("media_id")
    }),
    "mm_resize" -> ((s: SparkSession, dir: String) => {
      decodeAll(resizeHalf(mediaTable(s, dir))).toDF()
        .filter(col("format") === "img1")
        .select(col("media_id"), col("width"), col("height"))
        .orderBy("media_id")
    })
  )

  def oracleSql: Map[String, String] = Map(
    "mm_decode" ->
      """SELECT vec_id AS media_id,
        | CASE vec_id % 3 WHEN 0 THEN 'image' WHEN 1 THEN 'audio' ELSE 'video' END AS media_type,
        | CASE vec_id % 3 WHEN 0 THEN 'img1' WHEN 1 THEN 'aud1' ELSE 'vid1' END AS format,
        | CAST(CASE WHEN vec_id % 3 = 0 THEN 64 + vec_id % 64 ELSE 0 END AS INT) AS width,
        | CAST(CASE WHEN vec_id % 3 = 0 THEN 48 + vec_id % 48 ELSE 0 END AS INT) AS height,
        | CAST(CASE WHEN vec_id % 3 = 1 THEN 8000 + (vec_id % 5) * 8000 ELSE 0 END AS INT) AS sample_rate,
        | CAST(CASE WHEN vec_id % 3 NOT IN (0, 1) THEN 16 + vec_id % 240 ELSE 0 END AS INT) AS n_frames
        |FROM embeddings ORDER BY media_id""".stripMargin,
    "mm_framesample" ->
      """SELECT vec_id AS media_id,
        |       CAST(UNNEST(RANGE(0, 16 + vec_id % 240, 10)) AS INT) AS frame_index
        |FROM embeddings WHERE vec_id % 3 NOT IN (0, 1)
        |ORDER BY media_id, frame_index""".stripMargin,
    "mm_resize" ->
      """SELECT vec_id AS media_id,
        | CAST((64 + vec_id % 64) // 2 AS INT) AS width,
        | CAST((48 + vec_id % 48) // 2 AS INT) AS height
        |FROM embeddings WHERE vec_id % 3 = 0 ORDER BY media_id""".stripMargin
  )
}
