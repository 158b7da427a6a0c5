package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.multimodal.{Mp4, Multimodal}

/** ISO-BMFF container parser (multimodal/Mp4.scala): writer↔parser
  * round-trip, sniffing, malformed-box rejection, and the feature
  * dispatch split (real container metadata for true MP4 payloads,
  * legacy stub path for opaque bytes). */
class Mp4Spec extends SparkSpecBase {

  test("writer output round-trips through the parser") {
    val payload = Array.tabulate[Byte](600)(i => (i * 13).toByte)
    val bytes = Mp4.encodeMp4Minimal(640, 360, durationMs = 2500, nSamples = 60,
      codec = "avc1", payload = payload)
    val info = Mp4.parseMp4(bytes)
    assert(info.majorBrand == "isom")
    assert(info.timescale == 1000)
    assert(math.abs(info.durationSeconds - 2.5) < 1e-9)
    assert(info.tracks.size == 1)
    val t = info.tracks.head
    assert(t.kind == "video" && t.codec == "avc1")
    assert(t.width == 640 && t.height == 360)
    assert(t.nSamples == 60 && t.id == 1)
  }

  test("sniff accepts real mp4, rejects opaque bytes and other media") {
    val real = Mp4.encodeMp4Minimal(32, 32, 1000, 10)
    assert(Mp4.looksLikeMp4(real))
    assert(!Mp4.looksLikeMp4(Array.tabulate[Byte](64)(i => (i * 3).toByte)))
    assert(!Mp4.looksLikeMp4(Array.emptyByteArray))
    val wav = Multimodal.encodeWavPcm16(Array.fill[Short](32)(100), 8000)
    assert(!Mp4.looksLikeMp4(wav))
  }

  test("a box overrunning its parent fails loudly") {
    val good = Mp4.encodeMp4Minimal(16, 16, 500, 4)
    // corrupt the moov size field (right after ftyp) to overrun the file
    val bad = good.clone()
    val moovOff = ((good(0) & 0xff) << 24) | ((good(1) & 0xff) << 16) |
      ((good(2) & 0xff) << 8) | (good(3) & 0xff)
    bad(moovOff) = 0x7f.toByte
    intercept[IllegalArgumentException](Mp4.parseMp4(bad))
    intercept[IllegalArgumentException](Mp4.parseMp4(Array[Byte](1, 2, 3)))
  }

  test("chunked writer: sample walk resolves multi-run stsc to ABSOLUTE offsets") {
    // 7 samples of distinct sizes over chunks of (2, 1, 3, 1) samples —
    // two stsc runs collapse to (1→2), (2→1), (3→3), (4→1) positions,
    // RLE'd to 4 runs of which none covers more than consecutive equal
    // counts; deltas RLE to (2×25, 3×40, 2×25)… here: mixed
    val sizes = Seq(30, 41, 52, 63, 74, 85, 96)
    val frames = sizes.map(n => Array.tabulate[Byte](n)(i => (i + n).toByte))
    val deltas = Seq(25, 25, 40, 40, 40, 25, 25)
    val bytes = Mp4.encodeMp4Chunked(32, 32, 1000, frames, Seq(2, 1, 3, 1), deltas)
    val (codec, samples) = Mp4.videoSampleTable(bytes).get
    assert(codec == "jpeg")
    assert(samples.map(_._2).toSeq == sizes)
    // absolute offsets: the payload really lives there — slice and compare
    samples.zip(frames).foreach { case ((off, sz), frame) =>
      assert(bytes.slice(off.toInt, off.toInt + sz).toSeq == frame.toSeq)
    }
    // contiguous packing: offsets are the size prefix-sum over the base
    val base = samples.head._1
    assert(samples.map(_._1 - base).toSeq ==
      sizes.scanLeft(0L)(_ + _).init)
    assert(Mp4.sampleDurations(bytes).get.toSeq == deltas)
  }

  test("chunked writer: a single chunk and single-run stts degenerate correctly") {
    val frames = Seq(Array[Byte](1, 2, 3), Array[Byte](4, 5))
    val bytes = Mp4.encodeMp4Chunked(8, 8, 500, frames, Seq(2), Seq(10, 10),
      codec = "avc1")
    val (codec, samples) = Mp4.videoSampleTable(bytes).get
    assert(codec == "avc1")
    assert(samples.map(_._2).toSeq == Seq(3, 2))
    assert(Mp4.sampleDurations(bytes).get.toSeq == Seq(10, 10))
  }

  test("chunked writer refuses a pattern that does not partition the samples") {
    val frames = Seq(Array[Byte](1), Array[Byte](2))
    intercept[IllegalArgumentException] {
      Mp4.encodeMp4Chunked(8, 8, 500, frames, Seq(3), Seq(10, 10))
    }
    intercept[IllegalArgumentException] {
      Mp4.encodeMp4Chunked(8, 8, 500, frames, Seq(2), Seq(10))
    }
  }
}
