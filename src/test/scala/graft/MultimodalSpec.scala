package graft

import graft.multimodal.Multimodal

class MultimodalSpec extends SparkSpecBase {
  import spark.implicits._

  /** (sample rate, channels) as the RIFF `fmt ` chunk records them. */
  private def wavHeader(bytes: Array[Byte]): (Int, Int) = {
    val buf = java.nio.ByteBuffer.wrap(bytes).order(java.nio.ByteOrder.LITTLE_ENDIAN)
    (buf.getInt(24), buf.getShort(22).toInt)
  }

  test("WAV round-trip: encode → decode matches hand-computed stats") {
    val samples = Array[Short](1000, -1000, 1000, -1000, 0, 500)
    val wav = Multimodal.encodeWavPcm16(samples, 8000)
    assert(wavHeader(wav) == (8000, 1))
    val s = Multimodal.wavSamples(wav).map(_.toDouble)
    assert(s.toSeq == samples.toSeq.map(_.toDouble))
    assert(math.abs(s.sum / s.length - 500.0 / 6) < 1e-9)
    assert(math.abs(math.sqrt(s.map(x => x * x).sum / s.length) -
      math.sqrt((4 * 1000.0 * 1000 + 500.0 * 500) / 6)) < 1e-9)
    // sign sequence (0 counts as non-negative): + - + - + + → 4 crossings
    assert(s.sliding(2).count(p => (p(0) >= 0) != (p(1) >= 0)) == 4)
    assert(s.map(math.abs).max == 1000.0)
  }

  test("WAV stereo: channel count and interleaved sample count survive") {
    val wav = Multimodal.encodeWavPcm16(Array[Short](1, 2, 3, 4, 5, 6), 44100, channels = 2)
    assert(wavHeader(wav) == (44100, 2))
    // stereo stays interleaved, in file order
    assert(Multimodal.wavSamples(wav).toSeq == Seq(1L, 2, 3, 4, 5, 6))
  }

  test("BMP round-trip: encode → decode matches hand-computed channel means") {
    // 3x2: width 3 forces a padded row (9 pixel bytes + 3 pad), so the
    // means only come out right if the decoder skips padding correctly
    val px = Array(
      Array((255, 0, 0), (0, 255, 0), (0, 0, 255)),
      Array((10, 20, 30), (40, 50, 60), (70, 80, 90)))
    val b = Multimodal.decodeBmp(Multimodal.encodeBmp24(3, 2, (x, y) => px(y)(x)))
    assert(b.width == 3 && b.height == 2)
    assert(math.abs(b.meanR - (255 + 10 + 40 + 70) / 6.0) < 1e-9)
    assert(math.abs(b.meanG - (255 + 20 + 50 + 80) / 6.0) < 1e-9)
    assert(math.abs(b.meanB - (255 + 30 + 60 + 90) / 6.0) < 1e-9)
    assert(math.abs(b.meanLuma - (0.299 * b.meanR + 0.587 * b.meanG + 0.114 * b.meanB)) < 1e-9)
  }

  test("malformed payloads fail loudly, not with fake features") {
    val junk = Array.tabulate[Byte](100)(_.toByte)
    val e1 = intercept[IllegalArgumentException](Multimodal.wavSamples(junk))
    assert(e1.getMessage.contains("RIFF"))
    val e2 = intercept[IllegalArgumentException](Multimodal.decodeBmp(junk))
    assert(e2.getMessage.contains("BM header"))
    // PCM-8 / float WAVs must be rejected, not misparsed
    val wav = Multimodal.encodeWavPcm16(Array[Short](1, 2), 8000)
    wav(20) = 3 // audioFormat = IEEE float
    val e3 = intercept[IllegalArgumentException](Multimodal.wavSamples(wav))
    assert(e3.getMessage.contains("PCM-16"))
  }

  test("crafted size/dimension fields trip the loud guards, not raw overflows") {
    // WAV data chunk declaring a near-Int.MaxValue size: must be the
    // contractual IllegalArgumentException, not an uncontrolled
    // IndexOutOfBounds from wrapped Int arithmetic
    val wav = Multimodal.encodeWavPcm16(Array[Short](1, 2, 3, 4), 8000)
    val wbuf = java.nio.ByteBuffer.wrap(wav).order(java.nio.ByteOrder.LITTLE_ENDIAN)
    wbuf.putInt(40, 0x7ffffff0) // data chunk size field
    val e1 = intercept[IllegalArgumentException](Multimodal.wavSamples(wav))
    assert(e1.getMessage.contains("overruns"))
    // BMP height = Int.MinValue: abs stays negative in Int — must fail,
    // not skip the pixel loop and return fake zero stats
    val bmp = Multimodal.encodeBmp24(2, 2, (_, _) => (1, 2, 3))
    val bbuf = java.nio.ByteBuffer.wrap(bmp).order(java.nio.ByteOrder.LITTLE_ENDIAN)
    bbuf.putInt(22, Int.MinValue)
    val e2 = intercept[IllegalArgumentException](Multimodal.decodeBmp(bmp))
    assert(e2.getMessage.contains("bad dimensions"))
    // BMP width where 24*width wraps Int: the row-size bound must hold
    val bmp2 = Multimodal.encodeBmp24(2, 2, (_, _) => (1, 2, 3))
    val bbuf2 = java.nio.ByteBuffer.wrap(bmp2).order(java.nio.ByteOrder.LITTLE_ENDIAN)
    bbuf2.putInt(18, 178956971)
    val e3 = intercept[IllegalArgumentException](Multimodal.decodeBmp(bmp2))
    assert(e3.getMessage.contains("overruns"))
    // width~Int.MaxValue × height 1.5e9: rowSizeL*height overflows LONG
    // (9.7e18 > Long.MaxValue), wrapping negative past the overrun check —
    // the division-form frame cap must trip instead of a raw AIOOBE
    val bmp3 = Multimodal.encodeBmp24(2, 2, (_, _) => (1, 2, 3))
    val bbuf3 = java.nio.ByteBuffer.wrap(bmp3).order(java.nio.ByteOrder.LITTLE_ENDIAN)
    bbuf3.putInt(18, Int.MaxValue)
    bbuf3.putInt(22, 1500000000)
    val e4 = intercept[IllegalArgumentException](Multimodal.decodeBmp(bmp3))
    assert(e4.getMessage.contains("frame too large"))
  }

  test("PNG round-trips: stats, RGBA channels, cross-container aHash identity") {
    val px = Array(
      Array((255, 255, 255), (10, 20, 30), (40, 50, 60)),
      Array((70, 80, 90), (255, 0, 0), (0, 0, 255)))
    val bytes = Multimodal.encodePng(3, 2, (x, y) => px(y)(x))
    val p = Multimodal.decodePng(bytes)
    assert(p.width == 3 && p.height == 2 && p.channels == 3)
    assert(math.abs(p.meanR - (255 + 10 + 40 + 70 + 255 + 0) / 6.0) < 1e-9)
    assert(math.abs(p.meanG - (255 + 20 + 50 + 80 + 0 + 0) / 6.0) < 1e-9)
    assert(math.abs(p.meanB - (255 + 30 + 60 + 90 + 0 + 255) / 6.0) < 1e-9)
    // RGBA: channel count visible, alpha ignored by the color means
    val rgba = Multimodal.encodePngRgba(3, 2, (x, y) => {
      val (r, g, b) = px(y)(x); (r, g, b, 128)
    })
    val p4 = Multimodal.decodePng(rgba)
    assert(p4.channels == 4 && math.abs(p4.meanR - p.meanR) < 1e-9
      && math.abs(p4.meanLuma - p.meanLuma) < 1e-9)
    // a PNG and a BMP of the same pixels hash IDENTICALLY — near-dup
    // detection is container-blind for images
    val bmp = Multimodal.encodeBmp24(3, 2, (x, y) => px(y)(x))
    assert(Multimodal.pngAHash(bytes) == Multimodal.bmpAHash(bmp))
    assert(Multimodal.pngAHash(rgba) == Multimodal.bmpAHash(bmp))
  }

  test("pngResize: box downscale preserves means and channel count, no-op within cap") {
    val big = Multimodal.encodePng(20, 10, (x, y) => (x * 12, y * 25, 128))
    assert(Multimodal.pngResize(big, 32) eq big) // within cap: unchanged
    val small = Multimodal.pngResize(big, 8)
    val p = Multimodal.decodePng(small)
    assert(p.width == 8 && p.height == 4 && p.channels == 3)
    val orig = Multimodal.decodePng(big)
    assert(math.abs(p.meanR - orig.meanR) < 8, s"${p.meanR} vs ${orig.meanR}")
    assert(math.abs(p.meanG - orig.meanG) < 8, s"${p.meanG} vs ${orig.meanG}")
    // RGBA: alpha plane is averaged, not dropped
    val bigA = Multimodal.encodePngRgba(20, 10, (x, y) => (x * 12, y * 25, 128, 200))
    val smallA = Multimodal.decodePngPixels(Multimodal.pngResize(bigA, 8))
    assert(smallA._3 == 4)
    val (sw, sh, sch, spx) = smallA
    (0 until sw * sh).foreach(i => assert((spx(i * sch + 3) & 0xff) == 200))
  }

  test("corrupt PNGs fail loudly at the violated guard, never as garbage pixels") {
    def patchIhdr(bytes: Array[Byte], dataOff: Int, v: Byte): Array[Byte] = {
      // IHDR layout: sig 8 | len@8 | 'IHDR'@12 | data@16..28 | crc@29
      val m = bytes.clone()
      m(16 + dataOff) = v
      val crc = new java.util.zip.CRC32
      crc.update(m, 12, 4 + 13)
      java.nio.ByteBuffer.wrap(m).putInt(29, crc.getValue.toInt)
      m
    }
    val good = Multimodal.encodePng(4, 3, (x, y) => (x * 40, y * 60, 128))
    // not a PNG at all
    val e1 = intercept[IllegalArgumentException](
      Multimodal.decodePng(Array.tabulate[Byte](64)(_.toByte)))
    assert(e1.getMessage.contains("signature"))
    // flipped payload byte → the chunk CRC catches it
    val flipped = good.clone()
    flipped(good.length - 15) = (flipped(good.length - 15) ^ 0x40).toByte
    val e2 = intercept[IllegalArgumentException](Multimodal.decodePng(flipped))
    assert(e2.getMessage.contains("CRC mismatch"))
    // interlaced and 16-bit declared in a CRC-consistent header
    val e3 = intercept[IllegalArgumentException](
      Multimodal.decodePng(patchIhdr(good, 12, 1)))
    assert(e3.getMessage.contains("interlaced"))
    val e4 = intercept[IllegalArgumentException](
      Multimodal.decodePng(patchIhdr(good, 8, 16)))
    assert(e4.getMessage.contains("truecolor"))
    // a WRONG-SIZED image (height lies): zlib stream length disagrees
    val e5 = intercept[IllegalArgumentException](
      Multimodal.decodePng(patchIhdr(good, 7, 9)))
    assert(e5.getMessage.contains("zlib") || e5.getMessage.contains("scanline"),
      e5.getMessage)
  }

  test("a JPEG and a BMP of the same pixels are cross-container near-dups") {
    import graft.multimodal.Jpeg
    val (w, h) = (32, 32)
    // structured image (not noise): JPEG quantization must not flip
    // enough aHash bits to break the pairing
    val px = Array.tabulate(h, w)((y, x) =>
      if ((x / 8 + y / 8) % 2 == 0) (220, 220, 220) else (30, 30, 30))
    val bmp = Multimodal.encodeBmp24(w, h, (x, y) => px(y)(x))
    val rgb = new Array[Byte](w * h * 3)
    for (y <- 0 until h; x <- 0 until w) {
      val o = (y * w + x) * 3
      rgb(o) = px(y)(x)._1.toByte; rgb(o + 1) = px(y)(x)._2.toByte
      rgb(o + 2) = px(y)(x)._3.toByte
    }
    val jpg = Jpeg.encodeJpeg(rgb, w, h, quality = 90)
    val ds = spark.createDataset(Seq(
      Multimodal.MediaRow(1L, "image", bmp, "bmp", w, h, 0),
      Multimodal.MediaRow(2L, "image", jpg, "jpeg", w, h, 0)))(
      org.apache.spark.sql.Encoders.product[Multimodal.MediaRow])
    val sigs = Multimodal.imageAHashes(ds).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(sigs.keySet == Set(1L, 2L))
    val hamming = java.lang.Long.bitCount(sigs(1L) ^ sigs(2L))
    assert(hamming <= 3, s"cross-container hamming $hamming")
    val pairs = Multimodal.imageNearDups(ds, maxHamming = 3).collect()
    assert(pairs.length == 1)
  }

  test("corrupt-past-the-sniff payloads stub/skip instead of failing the job") {
    import graft.multimodal.Jpeg
    // a baseline JPEG whose ENTROPY data is corrupt: looksDecodable only
    // sniffs markers up to the first SOF, so this passes the guard and
    // throws inside the decoder — the curation contract is stub, not crash
    val good = Jpeg.encodeJpeg(
      Array.tabulate[Byte](64 * 40 * 3)(i => (i % 251).toByte), 64, 40,
      quality = 95, restartInterval = 4)
    val sosAt = good.sliding(2).indexWhere(p =>
      (p(0) & 0xff) == 0xff && (p(1) & 0xff) == 0xda)
    var rstAt = sosAt + 2
    while (!((good(rstAt) & 0xff) == 0xff &&
      (good(rstAt + 1) & 0xff) >= 0xd0 && (good(rstAt + 1) & 0xff) <= 0xd7)) rstAt += 1
    val corrupt = good.clone()
    corrupt(rstAt + 1) = (0xd0 + ((good(rstAt + 1) & 0xff) - 0xd0 + 3) % 8).toByte
    assert(Jpeg.looksDecodable(corrupt), "corruption must be past the sniff")
    intercept[IllegalArgumentException](Jpeg.decodeJpeg(corrupt)) // loud direct path
    // an MP4 whose leading ftyp is fine but whose inner boxes overrun
    val badMp4 = java.nio.ByteBuffer.allocate(32)
      .putInt(16).put("ftypisom".getBytes("US-ASCII")).putInt(0)
      .putInt(0x7fffffff).put("moov".getBytes("US-ASCII")).array()
    assert(graft.multimodal.Mp4.looksLikeMp4(badMp4))
    intercept[IllegalArgumentException](graft.multimodal.Mp4.parseMp4(badMp4))
    val ds = spark.createDataset(Seq(
      Multimodal.MediaRow(1L, "image", corrupt, "jpeg", 64, 40, 0),
      Multimodal.MediaRow(2L, "video", badMp4, "mp4", 0, 0, 0)))(
      org.apache.spark.sql.Encoders.product[Multimodal.MediaRow])
    // the signature jobs SKIP the undecodable rows rather than dying
    assert(Multimodal.imageAHashes(ds).collect().isEmpty)
    assert(Multimodal.videoHashes(ds).collect().isEmpty)
  }

  test("AVI round-trip: encode → aviGrayPixels returns every frame in order") {
    // 2 gray frames, 3x2 (padded rows, same trap as the BMP round-trip)
    val f0 = Array(Array(255, 0, 128), Array(10, 40, 70))
    val f1 = Array(Array(0, 0, 0), Array(255, 255, 255))
    def gray(f: Array[Array[Int]]): (Int, Int) => (Int, Int, Int) =
      (x, y) => (f(y)(x), f(y)(x), f(y)(x))
    val avi = Multimodal.encodeAviDib(3, 2, Seq(gray(f0), gray(f1)), fps = 5)
    assert(Multimodal.aviGrayPixels(avi).toSeq ==
      (f0.flatten ++ f1.flatten).toSeq.map(_.toLong))
  }

  import MediaFixtures.{shot, encShot, randomFrame}

  test("AVI fingerprint: majority vote survives an edited frame, not a recut") {
    val rnd = new scala.util.Random(7)
    val base = shot(rnd, 5)
    val orig = Multimodal.aviFingerprint(encShot(base))
    // identical payload → identical fingerprint
    assert(Multimodal.aviFingerprint(encShot(base)) == orig)
    // one fully-replaced frame is outvoted by the other four
    val edited = base.map(_.map(_.clone())).clone()
    edited(2) = randomFrame(rnd)
    val editedFp = Multimodal.aviFingerprint(encShot(edited))
    assert(java.lang.Long.bitCount(orig ^ editedFp) <= 3,
      s"edited-frame hamming ${java.lang.Long.bitCount(orig ^ editedFp)}")
    // a different video is far away
    val otherFp = Multimodal.aviFingerprint(encShot(shot(rnd, 5)))
    assert(java.lang.Long.bitCount(orig ^ otherFp) > 10,
      s"unrelated hamming ${java.lang.Long.bitCount(orig ^ otherFp)}")
  }

  test("a top-down AVI hashes identically to its bottom-up twin") {
    val rnd = new scala.util.Random(13)
    val frames = shot(rnd, 3)
    val up = encShot(frames)
    // the SAME image content stored top-down: rows pre-flipped so the
    // stored byte order is top-first, then strf biHeight negated (the
    // spec's top-down marker)
    val down = encShot(frames.map(_.reverse))
    val buf = java.nio.ByteBuffer.wrap(down).order(java.nio.ByteOrder.LITTLE_ENDIAN)
    buf.putInt(180, -8) // strf biHeight (RIFF 12 + hdrl 12 + avih 64 + strl 12 + strh 64 + strf hdr 8 + 8)
    assert(Multimodal.aviFingerprint(down) == Multimodal.aviFingerprint(up),
      "orientation must be normalized, like bmpAHash")
    // strf/avih dimension disagreement is a loud failure, not a misread
    val bad = encShot(frames)
    java.nio.ByteBuffer.wrap(bad).order(java.nio.ByteOrder.LITTLE_ENDIAN)
      .putInt(176, 9) // strf biWidth
    val e = intercept[IllegalArgumentException](Multimodal.aviFingerprint(bad))
    assert(e.getMessage.contains("disagree"), e.getMessage)
  }

  test("videoHashes skips undecodable rows; videoNearDups pairs near-identical videos") {
    val rnd = new scala.util.Random(11)
    val frames = shot(rnd, 6)
    val tweaked = frames.map(_.map(_.clone())).clone()
    tweaked(3) = randomFrame(rnd)
    val unrelated = shot(rnd, 6)
    val ds = spark.createDataset(Seq(
      Multimodal.MediaRow(1L, "video", encShot(frames), "avi", 8, 8, 0),
      Multimodal.MediaRow(2L, "video", encShot(tweaked), "avi", 8, 8, 0),
      Multimodal.MediaRow(3L, "video", encShot(unrelated), "avi", 8, 8, 0),
      Multimodal.MediaRow(4L, "video", Array[Byte](1, 2, 3), "mp4", 0, 0, 0)))
    // one fingerprint per AVI row; the opaque mp4 row is skipped
    assert(Multimodal.videoHashes(ds).collect().map(_.getLong(0)).sorted.toSeq ==
      Seq(1L, 2L, 3L))
    val pairs = Multimodal.videoNearDups(ds)
      .select($"a_media_id", $"b_media_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs == Set((1L, 2L)), s"got $pairs")
  }

  test("MJPEG AVI: frames really decode through the JPEG codec") {
    import graft.multimodal.Jpeg
    val (w, h) = (32, 32)
    def card(shift: Int): Array[Byte] = {
      val rgb = new Array[Byte](w * h * 3)
      for (y <- 0 until h; x <- 0 until w) {
        val o = (y * w + x) * 3
        val v = if (((x + shift) / 8 + y / 8) % 2 == 0) 220 else 30
        rgb(o) = v.toByte; rgb(o + 1) = v.toByte; rgb(o + 2) = v.toByte
      }
      rgb
    }
    val j0 = Jpeg.encodeJpeg(card(0), w, h, quality = 90)
    val j1 = Jpeg.encodeJpeg(card(4), w, h, quality = 90)
    val avi = Multimodal.encodeAviMjpeg(w, h, Seq(j0, j0, j1), fps = 5)
    // REAL per-frame decode: the frames hash as the SAME JPEGs do
    // standalone, so the 2-of-3 majority vote is exactly j0's aHash — an
    // MJPEG video frame lands in the image signature space
    assert(Multimodal.jpegAHash(j0) != Multimodal.jpegAHash(j1))
    assert(Multimodal.aviFingerprint(avi) == Multimodal.jpegAHash(j0))
    // fingerprint is deterministic and far from an unrelated DIB video
    assert(Multimodal.aviFingerprint(avi) == Multimodal.aviFingerprint(avi.clone()))
    // a frame that is not a JPEG under the MJPG codec fails loudly
    val notJpeg = avi.clone()
    val moviAt = {
      var i = 12
      while (!(notJpeg(i) == '0' && notJpeg(i + 1) == '0' &&
        notJpeg(i + 2) == 'd' && notJpeg(i + 3) == 'c')) i += 1
      i
    }
    notJpeg(moviAt + 8) = 0 // clobber the frame's SOI marker
    val e = intercept[IllegalArgumentException](Multimodal.aviFingerprint(notJpeg))
    assert(e.getMessage.contains("SOI"), e.getMessage)
  }

  test("MJPEG MP4: sample table resolves frames, hashes match the AVI twin") {
    import graft.multimodal.{Jpeg, Mp4}
    val (w, h) = (24, 16)
    def frame(seed: Int): Array[Byte] = {
      val rgb = new Array[Byte](w * h * 3)
      for (y <- 0 until h; x <- 0 until w) {
        val o = (y * w + x) * 3
        val v = if (((x + seed) / 8 + y / 8) % 2 == 0) 200 else 40
        rgb(o) = v.toByte; rgb(o + 1) = v.toByte; rgb(o + 2) = v.toByte
      }
      Jpeg.encodeJpeg(rgb, w, h, quality = 90)
    }
    val j = Seq(frame(0), frame(8), frame(16))
    val mp4 = Mp4.encodeMp4Mjpeg(w, h, j)
    // the sample table hands back exactly the three JPEG payloads
    val Some((codec, samples)) = Mp4.videoSampleTable(mp4)
    assert(codec == "jpeg" && samples.length == 3)
    samples.zip(j).foreach { case ((off, sz), orig) =>
      assert(sz == orig.length)
      assert(java.util.Arrays.equals(
        java.util.Arrays.copyOfRange(mp4, off.toInt, off.toInt + sz), orig))
    }
    // ... and parseMp4 still reports the container metadata
    val info = Mp4.parseMp4(mp4)
    assert(info.tracks.head.codec == "jpeg" && info.tracks.head.nSamples == 3)
    // frame hashes via the MP4 path equal the SAME frames in an MJPEG AVI
    // and as standalone JPEGs — one signature space across containers
    val avi = Multimodal.encodeAviMjpeg(w, h, j, fps = 5)
    val ds = spark.createDataset(Seq(
      Multimodal.MediaRow(1L, "video", mp4, "mp4", w, h, 0),
      Multimodal.MediaRow(2L, "video", avi, "avi", w, h, 0),
      Multimodal.MediaRow(3L, "video", Array[Byte](1, 2, 3), "mp4", 0, 0, 0)))(
      org.apache.spark.sql.Encoders.product[Multimodal.MediaRow])
    val vh = Multimodal.videoHashes(ds).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(vh.keySet == Set(1L, 2L)) // opaque mp4 row skipped
    assert(vh(1L) == vh(2L))
    // videoNearDups pairs them
    val pairs = Multimodal.videoNearDups(ds)
      .select($"a_media_id", $"b_media_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs == Set((1L, 2L)), s"got $pairs")
  }

  test("malformed AVI payloads fail loudly, not with fake features") {
    val junk = Array.tabulate[Byte](100)(_.toByte)
    val e1 = intercept[IllegalArgumentException](Multimodal.aviFingerprint(junk))
    assert(e1.getMessage.contains("RIFF"))
    // a truncated movi list must trip the bounds walk, not overrun
    val avi = Multimodal.encodeAviDib(4, 4, Seq((_, _) => (1, 2, 3)))
    val cut = avi.take(avi.length - 10)
    val e2 = intercept[IllegalArgumentException](Multimodal.aviFingerprint(cut))
    assert(e2.getMessage.contains("overruns"), e2.getMessage)
    // frame-count mismatch between avih and movi is a loud failure
    val lying = avi.clone()
    val buf = java.nio.ByteBuffer.wrap(lying).order(java.nio.ByteOrder.LITTLE_ENDIAN)
    buf.putInt(48, 7) // avih dwTotalFrames (RIFF 12 + LIST hdr 12 + avih hdr 8 + 16)
    val e3 = intercept[IllegalArgumentException](Multimodal.aviFingerprint(lying))
    assert(e3.getMessage.contains("declares"), e3.getMessage)
  }

  test("tiny images hash by content, not by empty-block coincidence") {
    // 2x2 vertical vs horizontal split: with holes in the grid these
    // would collide within hamming<=4; with pixel replication they are
    // orthogonal structures far apart
    val v = Multimodal.encodeBmp24(2, 2,
      (x, _) => if (x == 0) (0, 0, 0) else (255, 255, 255))
    val hz = Multimodal.encodeBmp24(2, 2,
      (_, y) => if (y == 0) (255, 255, 255) else (0, 0, 0))
    assert(java.lang.Long.bitCount(
      Multimodal.bmpAHash(v) ^ Multimodal.bmpAHash(hz)) > 3)
    // and replication preserves structure: the 2x2 vertical split hashes
    // exactly like the 16x16 image with the same left-dark/right-bright form
    val big = Multimodal.encodeBmp24(16, 16,
      (x, _) => if (x < 8) (0, 0, 0) else (255, 255, 255))
    assert(Multimodal.bmpAHash(v) == Multimodal.bmpAHash(big))
  }

  test("bmpAHash: block structure, orientation invariance, noise tolerance") {
    // A: left half dark, right half bright → exactly the right-half bits
    val a = Multimodal.encodeBmp24(16, 16,
      (x, _) => if (x < 8) (0, 0, 0) else (255, 255, 255))
    val hashA = Multimodal.bmpAHash(a)
    val wantA = (0 until 64).filter(i => i % 8 >= 4).map(1L << _).sum
    assert(hashA == wantA, f"A=$hashA%016x want=$wantA%016x")
    // B: A with a couple of flipped pixels → hamming ≤ 3 of A
    val b = Multimodal.encodeBmp24(16, 16, (x, y) =>
      if ((x, y) == (2, 2)) (200, 200, 200)
      else if (x < 8) (0, 0, 0) else (255, 255, 255))
    assert(java.lang.Long.bitCount(hashA ^ Multimodal.bmpAHash(b)) <= 3)
    // C: top half bright → orthogonal structure, far from A
    val c = Multimodal.encodeBmp24(16, 16,
      (_, y) => if (y < 8) (255, 255, 255) else (0, 0, 0))
    assert(java.lang.Long.bitCount(hashA ^ Multimodal.bmpAHash(c)) > 3)
    // top-down storage of A (negative height, rows in image order) must
    // hash identically — orientation normalization
    val rowSize = ((24 * 16 + 31) / 32) * 4
    val td = a.clone()
    java.nio.ByteBuffer.wrap(td).order(java.nio.ByteOrder.LITTLE_ENDIAN)
      .putInt(22, -16)
    for (y <- 0 until 16) // reverse the stored row order
      System.arraycopy(a, 54 + (15 - y) * rowSize, td, 54 + y * rowSize, rowSize)
    assert(Multimodal.bmpAHash(td) == hashA)
  }

  test("imageNearDups pairs the near-identical images, not the different one") {
    def img(f: (Int, Int) => (Int, Int, Int)) = Multimodal.encodeBmp24(16, 16, f)
    val rows = Seq(
      Multimodal.MediaRow(1L, "image", img((x, _) => if (x < 8) (0, 0, 0) else (255, 255, 255)), "bmp", 16, 16, 0),
      Multimodal.MediaRow(2L, "image", img((x, y) =>
        if ((x, y) == (1, 1)) (50, 50, 50)
        else if (x < 8) (0, 0, 0) else (255, 255, 255)), "bmp", 16, 16, 0),
      Multimodal.MediaRow(3L, "image", img((_, y) => if (y < 8) (255, 255, 255) else (0, 0, 0)), "bmp", 16, 16, 0),
      Multimodal.MediaRow(4L, "audio", Multimodal.encodeWavPcm16(Array[Short](1, 2), 8000), "wav", 0, 0, 8000))
    val pairs = Multimodal.imageNearDups(spark.createDataset(rows), maxHamming = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs == Set((1L, 2L)), pairs.toString)
  }

  test("bmpResize: box-filter downscale with exact means, aspect cap, no-op") {
    // 16x16 half/half → 8: each 2x2 source box is uniform, so the target
    // pixels are exact
    val a = Multimodal.encodeBmp24(16, 16,
      (x, _) => if (x < 8) (10, 20, 30) else (200, 210, 220))
    val small = Multimodal.bmpResize(a, 8)
    val info = Multimodal.decodeBmp(small)
    assert(info.width == 8 && info.height == 8)
    assert(math.abs(info.meanR - (10 + 200) / 2.0) < 1e-9)
    assert(math.abs(info.meanB - (30 + 220) / 2.0) < 1e-9)
    // structure survives: aHash of the resized image stays near the original
    assert(java.lang.Long.bitCount(
      Multimodal.bmpAHash(a) ^ Multimodal.bmpAHash(small)) <= 3)
    // odd dims round up: 15x10 capped at 7 → 7x5
    val odd = Multimodal.bmpResize(
      Multimodal.encodeBmp24(15, 10, (_, _) => (1, 2, 3)), 7)
    val oi = Multimodal.decodeBmp(odd)
    assert(oi.width == 7 && oi.height == 5)
    // already small → unchanged payload
    assert(Multimodal.bmpResize(small, 8) eq small)
  }

  test("wavEnergyHash: silence/ramp extremes, noise tolerance, channel awareness") {
    def wav(samples: Array[Short], ch: Int = 1) =
      Multimodal.encodeWavPcm16(samples, 8000, ch)
    val rise28 = (1L << 28) - 1
    val dir56 = (1L << 56) - 1
    // true silence: flat profile at zero loudness → 0
    assert(Multimodal.wavEnergyHash(wav(Array.fill[Short](130)(0))) == 0L)
    // constant tone: no direction bits, but the loudness thermometer
    // keeps it FAR from silence (a flat loud clip is not a flat silent
    // one) — log2(501)/1.875 ≈ 4.78 → 4 thermometer bits
    val tone = Multimodal.wavEnergyHash(wav(Array.fill[Short](130)(500)))
    assert((tone & dir56) == 0L && java.lang.Long.bitCount(tone) == 4, tone.toString)
    // strictly rising amplitude: every rising bit set, no falling bits
    val ramp = Array.tabulate[Short](130)(i => (10 + i * 50).toShort)
    val rh = Multimodal.wavEnergyHash(wav(ramp))
    assert((rh & rise28) == rise28 && ((rh >> 28) & rise28) == 0L)
    // the falling clip carries the falling field — flat and falling
    // profiles must not share a fingerprint
    val fh = Multimodal.wavEnergyHash(wav(ramp.reverse))
    assert(((fh >> 28) & rise28) == rise28 && (fh & rise28) == 0L)
    // small noise: fingerprint moves a few bits at most
    val noisy = ramp.clone(); noisy(64) = (noisy(64) + 40).toShort
    assert(java.lang.Long.bitCount(
      Multimodal.wavEnergyHash(wav(ramp)) ^ Multimodal.wavEnergyHash(wav(noisy))) <= 3)
    // falling ramp: the opposite profile, far from the rising one
    assert(java.lang.Long.bitCount(
      Multimodal.wavEnergyHash(wav(ramp)) ^ Multimodal.wavEnergyHash(wav(ramp.reverse))) > 32)
    // stereo: duplicating the mono stream into both channels keeps the
    // energy profile, so the fingerprint is unchanged
    val stereo = ramp.flatMap(s => Array(s, s))
    assert(Multimodal.wavEnergyHash(wav(stereo, ch = 2)) ==
      Multimodal.wavEnergyHash(wav(ramp)))
  }

  test("audioNearDups pairs near-identical clips via the shared banded join") {
    val ramp = Array.tabulate[Short](260)(i => (10 + i * 25).toShort)
    val noisy = ramp.clone(); noisy(100) = (noisy(100) + 30).toShort
    val rows = Seq(
      Multimodal.MediaRow(1L, "audio", Multimodal.encodeWavPcm16(ramp, 8000), "wav", 0, 0, 8000),
      Multimodal.MediaRow(2L, "audio", Multimodal.encodeWavPcm16(noisy, 8000), "wav", 0, 0, 8000),
      Multimodal.MediaRow(3L, "audio", Multimodal.encodeWavPcm16(ramp.reverse, 8000), "wav", 0, 0, 8000),
      // flat clips at different levels: both have zero delta bits, and
      // the loudness thermometer must keep them from pairing
      Multimodal.MediaRow(4L, "audio",
        Multimodal.encodeWavPcm16(Array.fill[Short](260)(0), 8000), "wav", 0, 0, 8000),
      Multimodal.MediaRow(5L, "audio",
        Multimodal.encodeWavPcm16(Array.fill[Short](260)(800), 8000), "wav", 0, 0, 8000))
    val pairs = Multimodal.audioNearDups(spark.createDataset(rows), maxHamming = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs == Set((1L, 2L)), pairs.toString)
  }}
