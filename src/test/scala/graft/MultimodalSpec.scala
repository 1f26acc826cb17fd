package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.ops.Multimodal

class MultimodalSpec extends AnyFunSuite {

  test("media synthesis is deterministic and typed by id") {
    val a = Multimodal.synthMedia(42L)
    val b = Multimodal.synthMedia(42L)
    assert(a.media.sameElements(b.media))
    assert(Multimodal.synthMedia(0L).media_type == "image")
    assert(Multimodal.synthMedia(1L).media_type == "audio")
    assert(Multimodal.synthMedia(2L).media_type == "video")
  }

  test("decode parses the container headers it synthesized") {
    val img = Multimodal.decode(Multimodal.synthMedia(6L))
    assert(img.format == "img1")
    assert(img.width == Multimodal.widthFor(6L))
    assert(img.height == Multimodal.heightFor(6L))
    val aud = Multimodal.decode(Multimodal.synthMedia(7L))
    assert(aud.format == "aud1" && aud.sample_rate == Multimodal.sampleRateFor(7L))
    val vid = Multimodal.decode(Multimodal.synthMedia(8L))
    assert(vid.format == "vid1" && vid.n_frames == Multimodal.nFramesFor(8L))
  }

  test("decode tolerates garbage bytes") {
    val junk = Multimodal.MediaRow(9L, "image", Array[Byte](1, 2, 3))
    assert(Multimodal.decode(junk).format == "unknown")
  }

  test("decode tolerates truncated containers (valid magic, short header)") {
    // round-5 review: these crashed with ArrayIndexOutOfBoundsException
    // instead of taking the graceful 'unknown' path
    for (magic <- Seq("IMG1", "AUD1", "VID1")) {
      val bare = Multimodal.MediaRow(9L, "image", magic.getBytes("ASCII"))
      assert(Multimodal.decode(bare).format == "unknown", magic)
      val short = Multimodal.MediaRow(9L, "image", (magic + "\u0001").getBytes("ASCII"))
      assert(Multimodal.decode(short).format == "unknown", magic)
    }
  }

  test("mm_features byte histogram gated against an independent recomputation") {
    // the quality gate for the last rows-only query (VERDICT r3 #5): the
    // histogram kernel cross-checked bin-for-bin by a straightforward
    // reimplementation over the raw container bytes, all three media kinds
    Seq(0L, 1L, 2L, 5L, 23L, 166L).foreach { id =>
      val m = Multimodal.synthMedia(id)
      val hist = Multimodal.histogram8(m.media)
      assert(hist.length == 8)
      assert(math.abs(hist.sum - 1.0) < 1e-9, s"id=$id not L1-normalized")
      val hdr = new String(m.media, 0, 4, "ASCII") match {
        case "IMG1" | "AUD1" => 8
        case "VID1"          => 7
        case _               => m.media.length
      }
      val payload = m.media.drop(hdr)
      assert(payload.nonEmpty)
      val expected = payload.groupBy(b => (b & 0xff) >> 5)
        .view.mapValues(_.length.toDouble / payload.length).toMap
      (0 until 8).foreach { bin =>
        assert(math.abs(hist(bin) - expected.getOrElse(bin, 0.0)) < 1e-12,
          s"id=$id bin=$bin: ${hist(bin)} vs ${expected.getOrElse(bin, 0.0)}")
      }
    }
    // degenerate inputs: empty and unknown-magic blobs yield the zero vector
    assert(Multimodal.histogram8(Array.emptyByteArray).forall(_ == 0.0))
    assert(Multimodal.histogram8(Array[Byte](1, 2, 3)).forall(_ == 0.0))
  }
}
