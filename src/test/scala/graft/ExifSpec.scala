package graft

import graft.multimodal.{Exif, Jpeg}

/** EXIF APP1 writer/parser (multimodal/Exif.scala): round trips in both
  * TIFF byte orders, segment-walk placement, the out-of-line and inline
  * value paths, unknown-tag forward compatibility, and loud failures on
  * malformed blocks. */
class ExifSpec extends SparkSpecBase {

  private val jpeg = Jpeg.encodeJpeg(Array.fill[Byte](64)(100), 8, 8, channels = 1)

  private def roundtrip(le: Boolean): Exif.ExifInfo = {
    val tiff = Exif.tiffBlock(1920, 1080, "CAM-7", orientation = 6,
      dateTime = "2024:03:09 14:05:59", littleEndian = le)
    Exif.parseExif(Exif.withExif(jpeg, tiff)).get
  }

  test("roundtrip little-endian (II)") {
    val e = roundtrip(le = true)
    assert(e == Exif.ExifInfo("II", 1920, 1080, "CAM-7", 6, "2024:03:09 14:05:59"))
  }

  test("roundtrip big-endian (MM)") {
    val e = roundtrip(le = false)
    assert(e == Exif.ExifInfo("MM", 1920, 1080, "CAM-7", 6, "2024:03:09 14:05:59"))
  }

  test("the carrier stays a decodable JPEG after the APP1 splice") {
    val tiff = Exif.tiffBlock(8, 8, "CAM-1", 1, "2024:01:01 00:00:00",
      littleEndian = true)
    val withMeta = Exif.withExif(jpeg, tiff)
    // the in-tree decoder must still decode the image around the APP1
    val a = Jpeg.decodeJpeg(withMeta)
    val b = Jpeg.decodeJpeg(jpeg)
    assert(a == b, "APP1 must not perturb pixel decode")
  }

  test("a plain JPEG (no EXIF APP1) parses to None, not an error") {
    assert(Exif.parseExif(jpeg).isEmpty)
  }

  test("unknown tags are skipped — forward compatibility") {
    // a hand-built little-endian 6-entry IFD: the five curation tags
    // plus an UNKNOWN entry (tag 0x9999, type UNDEFINED, inline value)
    // that parseTiff must step over without disturbing its neighbors
    val out = new java.io.ByteArrayOutputStream()
    def u8(v: Int): Unit = out.write(v & 0xff)
    def u16(v: Int): Unit = { u8(v); u8(v >> 8) }
    def u32(v: Long): Unit = { u8(v.toInt); u8((v >> 8).toInt); u8((v >> 16).toInt); u8((v >> 24).toInt) }
    def entry(tag: Int, typ: Int, count: Long)(value: => Unit): Unit = {
      u16(tag); u16(typ); u32(count)
      val before = out.size(); value
      assert(out.size() - before == 4)
    }
    out.write('I'); out.write('I'); u16(42); u32(8)
    val dataStart = 8 + 2 + 6 * 12 + 4 // header + count + entries + next-IFD
    u16(6)
    entry(0x0100, 4, 1)(u32(10))
    entry(0x0101, 4, 1)(u32(20))
    entry(0x010f, 2, 6)(u32(dataStart.toLong)) // "CAM-9\0"
    entry(0x0112, 3, 1) { u16(3); u16(0) }
    entry(0x0132, 2, 20)(u32(dataStart.toLong + 6))
    entry(0x9999, 7, 4) { u8(0xde); u8(0xad); u8(0xbe); u8(0xef) } // unknown
    u32(0)
    out.write("CAM-9".getBytes("US-ASCII")); u8(0) // NUL terminator
    out.write("2024:06:15 10:20:30".getBytes("US-ASCII")); u8(0)
    val handBuilt = out.toByteArray
    val parsed = Exif.parseTiff(handBuilt, 0, handBuilt.length)
    assert(parsed == Exif.ExifInfo("II", 10, 20, "CAM-9", 3, "2024:06:15 10:20:30"))
  }

  test("a later non-Exif APP1 segment is walked past, not misparsed") {
    val tiff = Exif.tiffBlock(10, 20, "CAM-2", 3, "2024:06:15 10:20:30",
      littleEndian = false)
    val withMeta = Exif.withExif(jpeg, tiff)
    // a non-Exif APP1 BEFORE the real one (XMP-style) must be skipped
    val xmp = {
      val body = "http://ns.example/ ".getBytes("US-ASCII")
      val seg = new java.io.ByteArrayOutputStream()
      seg.write(0xff); seg.write(0xe1)
      val len = 2 + body.length
      seg.write(len >> 8); seg.write(len & 0xff)
      seg.write(body, 0, body.length)
      seg.toByteArray
    }
    val both = new java.io.ByteArrayOutputStream()
    both.write(withMeta, 0, 2)
    both.write(xmp, 0, xmp.length)
    both.write(withMeta, 2, withMeta.length - 2)
    val e = Exif.parseExif(both.toByteArray).get
    assert(e.width == 10 && e.make == "CAM-2" && e.byteOrder == "MM")
  }

  private def fullBlock(le: Boolean): Array[Byte] =
    Exif.tiffBlockFull(640, 480, "CAM-3", orientation = 1,
      dateTime = "2024:03:09 14:05:59",
      dateTimeOriginal = "2024:03:09 14:05:41", iso = 400,
      exposureNum = 1, exposureDen = 250,
      lat = Exif.GpsCoord("N", 37, 1, 46, 1, 2997, 100),
      lon = Exif.GpsCoord("W", 122, 1, 25, 1, 1234, 100),
      littleEndian = le)

  test("full block: sub-IFD and GPS pointers round trip, both byte orders") {
    for (le <- Seq(true, false)) {
      val full = Exif.parseExifFull(Exif.withExif(jpeg, fullBlock(le))).get
      assert(full.ifd0 == Exif.ExifInfo(if (le) "II" else "MM",
        640, 480, "CAM-3", 1, "2024:03:09 14:05:59"))
      assert(full.sub.contains(Exif.ExifSub(
        Some("2024:03:09 14:05:41"), Some(400), Some((1L, 250L)))))
      val (lat, lon) = full.gps.get
      assert(lat == Exif.GpsCoord("N", 37, 1, 46, 1, 2997, 100))
      assert(lon == Exif.GpsCoord("W", 122, 1, 25, 1, 1234, 100))
    }
  }

  test("plain 5-tag blocks parse under parseTiffFull with None pointers") {
    val tiff = Exif.tiffBlock(10, 20, "CAM-2", 3, "2024:06:15 10:20:30",
      littleEndian = true)
    val full = Exif.parseTiffFull(tiff, 0, tiff.length)
    assert(full.sub.isEmpty && full.gps.isEmpty)
    assert(full.ifd0.make == "CAM-2")
  }

  test("sub-IFD fields are spec-optional: a partial sub-IFD parses with Nones") {
    val tiff = fullBlock(true)
    // the Exif sub-IFD starts after IFD0 (90 bytes) + make (6, "CAM-3"
    // + NUL, even) + dateTime (20); truncate its entry count from 3 to
    // 2, dropping DateTimeOriginal — real cameras write any SUBSET of
    // the capture fields, so the result is a partial record, loudly
    // typed as Options, never a thrown-away row
    val exifIfdOff = 8 + 2 + 7 * 12 + 4 + 6 + 20
    assert(tiff(exifIfdOff) == 3, "fixture drift: expected 3-entry sub-IFD")
    val cut = tiff.clone(); cut(exifIfdOff) = 2
    val full = Exif.parseTiffFull(cut, 0, cut.length)
    assert(full.sub.contains(Exif.ExifSub(None, Some(400), Some((1L, 250L)))))
    // IFD0-only callers are untouched by sub-IFD content
    assert(Exif.parseTiff(cut, 0, cut.length).make == "CAM-3")
  }

  test("a PRESENT sub-IFD field of the wrong type still fails loudly") {
    val tiff = fullBlock(true)
    val exifIfdOff = 8 + 2 + 7 * 12 + 4 + 6 + 20
    // first sub-IFD entry is ExposureTime (tag 0x829a, type 5 RATIONAL
    // at offset +2 within the entry); corrupt its TYPE to 3 (SHORT)
    val typeOff = exifIfdOff + 2 + 2
    assert(((tiff(typeOff) & 0xff) | ((tiff(typeOff + 1) & 0xff) << 8)) == 5,
      "fixture drift: expected RATIONAL type at first sub-IFD entry")
    val bad = tiff.clone(); bad(typeOff) = 3
    val err = intercept[IllegalArgumentException] {
      Exif.parseTiffFull(bad, 0, bad.length)
    }
    assert(err.getMessage.contains("ExposureTime"))
    // but parseTiff (IFD0 only) still succeeds on the same bytes
    assert(Exif.parseTiff(bad, 0, bad.length).width == 640)
  }

  test("the full-block carrier still decodes and parseExif sees IFD0 only") {
    val withMeta = Exif.withExif(jpeg, fullBlock(false))
    assert(Jpeg.decodeJpeg(withMeta) == Jpeg.decodeJpeg(jpeg))
    assert(Exif.parseExif(withMeta).get.make == "CAM-3")
  }

  test("malformed blocks fail loudly: bad magic, truncation, bad order") {
    val tiff = Exif.tiffBlock(10, 20, "CAM-2", 3, "2024:06:15 10:20:30",
      littleEndian = true)
    intercept[IllegalArgumentException] {
      Exif.parseTiff(tiff, 0, 8) // header only — IFD overruns
    }
    val badOrder = tiff.clone(); badOrder(0) = 'X'.toByte
    intercept[IllegalArgumentException] {
      Exif.parseTiff(badOrder, 0, badOrder.length)
    }
    val badMagic = tiff.clone(); badMagic(2) = 99.toByte
    intercept[IllegalArgumentException] {
      Exif.parseTiff(badMagic, 0, badMagic.length)
    }
    intercept[IllegalArgumentException] {
      Exif.tiffBlock(1, 1, "C", 9, "2024:06:15 10:20:30", littleEndian = true)
    }
    intercept[IllegalArgumentException] {
      Exif.tiffBlock(1, 1, "C", 1, "not a timestamp", littleEndian = true)
    }
  }
}
