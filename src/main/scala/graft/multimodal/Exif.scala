package graft.multimodal

import java.io.ByteArrayOutputStream

/** EXIF metadata — writer and parser for the TIFF-structured APP1
  * segment of a JPEG, per the public specifications (EXIF 2.3 / CIPA
  * DC-008, which embeds a TIFF 6.0 IFD; ITU-T T.81 for the JPEG
  * segment stream it rides in).
  *
  * Why this exists: orientation, capture timestamp, camera make and
  * pixel dimensions are THE metadata a 100 TB media-curation pass
  * filters, dedups and shards on BEFORE scheduling any frame decode —
  * the same role the ISO-BMFF header walk (Mp4.scala) plays for video.
  * The judged query (`mm_image_exif`) synthesizes a closed-form EXIF
  * block per key, splices it into a REAL JPEG from the in-tree codec,
  * and parses it back; the oracle recomputes every field from the key.
  *
  * Both byte orders are implemented and judged (`II` little-endian and
  * `MM` big-endian, chosen per key) — endianness is where naive EXIF
  * readers break, and TIFF's header makes it explicit. ASCII values
  * longer than 4 bytes exercise the out-of-line value-offset path;
  * SHORT values exercise the left-justified inline path.
  */
object Exif {

  /** EXIF/TIFF tags used (public tag ids, TIFF 6.0 / EXIF 2.3). */
  val TagImageWidth = 0x0100
  val TagImageLength = 0x0101
  val TagMake = 0x010f
  val TagOrientation = 0x0112
  val TagDateTime = 0x0132
  val TagExifIfd = 0x8769 // pointer to the Exif sub-IFD (EXIF 2.3 §4.6.3)
  val TagGpsIfd = 0x8825 // pointer to the GPS IFD
  // Exif sub-IFD tags
  val TagExposureTime = 0x829a // RATIONAL
  val TagIso = 0x8827 // SHORT (ISOSpeedRatings / PhotographicSensitivity)
  val TagDateTimeOriginal = 0x9003 // ASCII 20
  // GPS IFD tags
  val TagGpsLatRef = 0x0001 // ASCII 2 ("N"/"S")
  val TagGpsLat = 0x0002 // RATIONAL count 3 (deg, min, sec)
  val TagGpsLonRef = 0x0003 // ASCII 2 ("E"/"W")
  val TagGpsLon = 0x0004 // RATIONAL count 3

  case class ExifInfo(byteOrder: String, width: Long, height: Long,
      make: String, orientation: Int, dateTime: String)

  /** The Exif sub-IFD's capture metadata (pointer tag 0x8769): the
    * fields a capture-time curation filter actually shards on —
    * cameras put DateTimeOriginal/ISO/exposure HERE, not in IFD0.
    * Every field is OPTIONAL per EXIF 2.3 (a real camera may write any
    * subset), so each surfaces as an Option; a PRESENT field of the
    * wrong TIFF type still fails loudly. Exposure is the raw TIFF
    * RATIONAL (num/den), not a lossy double. */
  case class ExifSub(dateTimeOriginal: Option[String], iso: Option[Int],
      exposure: Option[(Long, Long)])

  /** One GPS coordinate: hemisphere ref + the three RATIONALs (degrees,
    * minutes, seconds) exactly as stored. */
  case class GpsCoord(ref: String, degNum: Long, degDen: Long,
      minNum: Long, minDen: Long, secNum: Long, secDen: Long)

  /** IFD0 + the pointed-to Exif sub-IFD and GPS IFD (each None when the
    * pointer tag is absent). */
  case class ExifFull(ifd0: ExifInfo, sub: Option[ExifSub],
      gps: Option[(GpsCoord, GpsCoord)])

  // ---- writer ----

  private class W(le: Boolean) {
    val out = new ByteArrayOutputStream()
    def u8(v: Int): Unit = out.write(v & 0xff)
    def u16(v: Int): Unit =
      if (le) { u8(v); u8(v >> 8) } else { u8(v >> 8); u8(v) }
    def u32(v: Long): Unit =
      if (le) { u8(v.toInt); u8((v >> 8).toInt); u8((v >> 16).toInt); u8((v >> 24).toInt) }
      else { u8((v >> 24).toInt); u8((v >> 16).toInt); u8((v >> 8).toInt); u8(v.toInt) }
    def bytes(b: Array[Byte]): Unit = out.write(b, 0, b.length)
  }

  /** A minimal valid TIFF block (what sits after "Exif\0\0"): header +
    * one IFD with the five curation tags. `littleEndian` selects the
    * byte order ("II" vs "MM"). Strings land out-of-line after the IFD
    * (the >4-byte value-offset path); width/length are LONGs,
    * orientation a left-justified inline SHORT. */
  def tiffBlock(width: Long, height: Long, make: String, orientation: Int,
      dateTime: String, littleEndian: Boolean): Array[Byte] = {
    require(orientation >= 1 && orientation <= 8, s"bad orientation $orientation")
    // TIFF 6.0: values must begin on a WORD boundary, so odd-length
    // ASCII values carry a pad byte (not counted in the entry's count)
    // - round-14 review: without it, half the camera ids produced a
    // spec-violating odd DateTime offset strict external readers may
    // reject
    val makeB = (make + "\u0000").getBytes("US-ASCII")
    val makePad = makeB.length % 2
    val dtB = (dateTime + "\u0000").getBytes("US-ASCII")
    require(dtB.length == 20, s"DateTime must be 19 chars + NUL, got '$dateTime'")
    val n = 5 // IFD entries
    val ifdStart = 8L // right after the TIFF header
    val dataStart = ifdStart + 2 + n * 12 + 4 // count + entries + next-IFD
    val makeOff = dataStart
    val dtOff = dataStart + makeB.length + makePad
    val w = new W(littleEndian)
    // TIFF header
    w.bytes((if (littleEndian) "II" else "MM").getBytes("US-ASCII"))
    w.u16(42)
    w.u32(ifdStart)
    // IFD: entry count, then entries in ascending tag order (TIFF rule)
    w.u16(n)
    def entry(tag: Int, typ: Int, count: Long)(value: => Unit): Unit = {
      w.u16(tag); w.u16(typ); w.u32(count)
      val before = w.out.size()
      value
      require(w.out.size() - before == 4, s"tag $tag value field must be 4 bytes")
    }
    entry(TagImageWidth, 4, 1)(w.u32(width)) // LONG
    entry(TagImageLength, 4, 1)(w.u32(height)) // LONG
    entry(TagMake, 2, makeB.length.toLong)(w.u32(makeOff)) // ASCII, out of line
    entry(TagOrientation, 3, 1) { w.u16(orientation); w.u16(0) } // SHORT, inline left-justified
    entry(TagDateTime, 2, dtB.length.toLong)(w.u32(dtOff)) // ASCII, out of line
    w.u32(0) // no next IFD
    w.bytes(makeB)
    if (makePad == 1) w.u8(0) // word-alignment pad, outside the count
    w.bytes(dtB)
    w.out.toByteArray
  }

  /** [[tiffBlock]] extended with the pointer-tag structure real camera
    * JPEGs use (EXIF 2.3): IFD0 carries the five curation tags PLUS the
    * Exif sub-IFD pointer (0x8769) and GPS IFD pointer (0x8825); the
    * sub-IFD holds ExposureTime (RATIONAL — the remaining TIFF type),
    * ISO (SHORT) and DateTimeOriginal (ASCII 20); the GPS IFD holds the
    * two hemisphere refs (inline 2-byte ASCII) and the two
    * 3×RATIONAL coordinates (out-of-line, 24 bytes each). All offsets
    * are closed-form; values start on WORD boundaries per TIFF 6.0. */
  def tiffBlockFull(width: Long, height: Long, make: String, orientation: Int,
      dateTime: String, dateTimeOriginal: String, iso: Int,
      exposureNum: Long, exposureDen: Long,
      lat: GpsCoord, lon: GpsCoord, littleEndian: Boolean): Array[Byte] = {
    require(orientation >= 1 && orientation <= 8, s"bad orientation $orientation")
    require(iso >= 0 && iso <= 0xffff, s"ISO $iso out of SHORT range")
    require(lat.ref == "N" || lat.ref == "S", s"bad lat ref ${lat.ref}")
    require(lon.ref == "E" || lon.ref == "W", s"bad lon ref ${lon.ref}")
    val makeB = (make + "\u0000").getBytes("US-ASCII")
    val makePad = makeB.length % 2
    val dtB = (dateTime + "\u0000").getBytes("US-ASCII")
    require(dtB.length == 20, s"DateTime must be 19 chars + NUL, got '$dateTime'")
    val dtoB = (dateTimeOriginal + "\u0000").getBytes("US-ASCII")
    require(dtoB.length == 20,
      s"DateTimeOriginal must be 19 chars + NUL, got '$dateTimeOriginal'")
    val n0 = 7 // IFD0 entries
    val ifd0 = 8L
    val data0 = ifd0 + 2 + n0 * 12 + 4
    val makeOff = data0
    val dtOff = data0 + makeB.length + makePad
    val exifIfd = dtOff + 20
    val nE = 3 // Exif sub-IFD entries
    val dataE = exifIfd + 2 + nE * 12 + 4
    val expOff = dataE // RATIONAL: 8 bytes
    val dtoOff = dataE + 8
    val gpsIfd = dtoOff + 20
    val nG = 4
    val dataG = gpsIfd + 2 + nG * 12 + 4
    val latOff = dataG // 3 RATIONALs: 24 bytes
    val lonOff = dataG + 24
    val w = new W(littleEndian)
    w.bytes((if (littleEndian) "II" else "MM").getBytes("US-ASCII"))
    w.u16(42)
    w.u32(ifd0)
    def entry(tag: Int, typ: Int, count: Long)(value: => Unit): Unit = {
      w.u16(tag); w.u16(typ); w.u32(count)
      val before = w.out.size()
      value
      require(w.out.size() - before == 4, s"tag $tag value field must be 4 bytes")
    }
    def rational(num: Long, den: Long): Unit = { w.u32(num); w.u32(den) }
    // IFD0 (ascending tag order per the TIFF rule)
    w.u16(n0)
    entry(TagImageWidth, 4, 1)(w.u32(width))
    entry(TagImageLength, 4, 1)(w.u32(height))
    entry(TagMake, 2, makeB.length.toLong)(w.u32(makeOff))
    entry(TagOrientation, 3, 1) { w.u16(orientation); w.u16(0) }
    entry(TagDateTime, 2, dtB.length.toLong)(w.u32(dtOff))
    entry(TagExifIfd, 4, 1)(w.u32(exifIfd))
    entry(TagGpsIfd, 4, 1)(w.u32(gpsIfd))
    w.u32(0) // no next IFD
    w.bytes(makeB)
    if (makePad == 1) w.u8(0)
    w.bytes(dtB)
    // Exif sub-IFD
    w.u16(nE)
    entry(TagExposureTime, 5, 1)(w.u32(expOff)) // RATIONAL, out of line
    entry(TagIso, 3, 1) { w.u16(iso); w.u16(0) }
    entry(TagDateTimeOriginal, 2, dtoB.length.toLong)(w.u32(dtoOff))
    w.u32(0)
    rational(exposureNum, exposureDen)
    w.bytes(dtoB)
    // GPS IFD
    w.u16(nG)
    entry(TagGpsLatRef, 2, 2) { w.u8(lat.ref.charAt(0)); w.u8(0); w.u16(0) }
    entry(TagGpsLat, 5, 3)(w.u32(latOff))
    entry(TagGpsLonRef, 2, 2) { w.u8(lon.ref.charAt(0)); w.u8(0); w.u16(0) }
    entry(TagGpsLon, 5, 3)(w.u32(lonOff))
    w.u32(0)
    rational(lat.degNum, lat.degDen); rational(lat.minNum, lat.minDen)
    rational(lat.secNum, lat.secDen)
    rational(lon.degNum, lon.degDen); rational(lon.minNum, lon.minDen)
    rational(lon.secNum, lon.secDen)
    w.out.toByteArray
  }

  /** Splice an EXIF APP1 segment (marker 0xFFE1, "Exif\0\0" + TIFF
    * block) immediately after a JPEG's SOI — the standard placement.
    * The payload must be a real JPEG (leading SOI). */
  def withExif(jpeg: Array[Byte], tiff: Array[Byte]): Array[Byte] = {
    require(jpeg.length >= 2 &&
      (jpeg(0) & 0xff) == 0xff && (jpeg(1) & 0xff) == 0xd8,
      "withExif needs a JPEG (leading SOI)")
    val seg = new ByteArrayOutputStream()
    seg.write(0xff); seg.write(0xe1)
    val len = 2 + 6 + tiff.length // length field counts itself
    require(len <= 0xffff, "EXIF block too large for one APP1 segment")
    seg.write((len >> 8) & 0xff); seg.write(len & 0xff)
    seg.write("Exif".getBytes("US-ASCII")); seg.write(0); seg.write(0)
    seg.write(tiff, 0, tiff.length)
    val out = new ByteArrayOutputStream(jpeg.length + len + 2)
    out.write(jpeg, 0, 2)
    val s = seg.toByteArray
    out.write(s, 0, s.length)
    out.write(jpeg, 2, jpeg.length - 2)
    out.toByteArray
  }

  // ---- parser ----

  private def fail(msg: String): Nothing =
    throw new IllegalArgumentException(s"invalid EXIF: $msg")

  /** Walk the JPEG segment stream to the EXIF APP1's TIFF block: its
    * [start, end) when present, None on a plain JPEG; loud on a
    * malformed stream. Stops at SOS — EXIF precedes scan data by spec,
    * so entropy-coded bytes are never walked. The ONE segment walk
    * both entry points share. */
  private def findExifApp1(bytes: Array[Byte]): Option[(Int, Int)] = {
    if (bytes.length < 4 || (bytes(0) & 0xff) != 0xff || (bytes(1) & 0xff) != 0xd8)
      fail("missing SOI")
    var p = 2
    while (p + 4 <= bytes.length) {
      if ((bytes(p) & 0xff) != 0xff) fail(f"expected marker at $p, got 0x${bytes(p)}%02x")
      val m = bytes(p + 1) & 0xff
      if (m == 0xda || m == 0xd9) return None // SOS/EOI: no EXIF seen
      val len = ((bytes(p + 2) & 0xff) << 8) | (bytes(p + 3) & 0xff)
      if (len < 2 || p + 2 + len > bytes.length) fail(s"segment at $p overruns")
      if (m == 0xe1 && len >= 8 &&
          new String(bytes, p + 4, 4, "US-ASCII") == "Exif" &&
          bytes(p + 8) == 0 && bytes(p + 9) == 0)
        return Some((p + 10, p + 2 + len))
      p += 2 + len
    }
    None
  }

  /** Walk the JPEG segment stream to the EXIF APP1, then parse its TIFF
    * IFD0 (pointer tags not followed — see [[parseTiff]]). Returns
    * None when no EXIF APP1 exists (plain JPEG); fails loudly on a
    * malformed one. */
  def parseExif(bytes: Array[Byte]): Option[ExifInfo] =
    findExifApp1(bytes).map { case (s, e) => parseTiff(bytes, s, e) }

  /** Parse the TIFF block in bytes[start, end): header, first IFD, the
    * five curation tags — IFD0 ONLY, pointer tags are not followed
    * (callers that only want IFD0 must not be failed by sub-IFD
    * content). Unknown tags are skipped (forward-compatible, the TIFF
    * rule); missing IFD0 curation tags fail loudly. */
  def parseTiff(bytes: Array[Byte], start: Int, end: Int): ExifInfo =
    parseTiffImpl(bytes, start, end, followPointers = false).ifd0

  /** [[parseTiff]] plus the pointer-tag walk (the structure real camera
    * files use): when IFD0 carries the Exif sub-IFD pointer (0x8769)
    * the capture fields (DateTimeOriginal/ISO/ExposureTime) are parsed
    * from the POINTED-TO IFD; when it carries the GPS pointer (0x8825)
    * the two hemisphere refs and 3×RATIONAL coordinates are parsed.
    * Unknown tags are skipped in every IFD (forward compatibility).
    * Sub-IFD fields are OPTIONAL per the EXIF spec — a camera may
    * write any subset, so absence surfaces as None — but a PRESENT
    * field of the wrong type/shape fails loudly, and a GPS coordinate
    * surfaces only when its ref + full 3×RATIONAL set is present.
    * Pointer recursion is one level (EXIF's own structure) so a
    * crafted cyclic pointer cannot loop the parser. */
  def parseTiffFull(bytes: Array[Byte], start: Int, end: Int): ExifFull =
    parseTiffImpl(bytes, start, end, followPointers = true)

  private def parseTiffImpl(bytes: Array[Byte], start: Int, end: Int,
      followPointers: Boolean): ExifFull = {
    if (end - start < 8) fail("TIFF block too short")
    val order = new String(bytes, start, 2, "US-ASCII")
    val le = order match {
      case "II" => true
      case "MM" => false
      case other => fail(s"bad byte order '$other'")
    }
    // lower bounds too (round-14 review): a corrupt 32-bit offset cast
    // to a negative Int must fail loudly, not read bytes BEFORE the
    // TIFF block (which the upper-bound check alone would allow)
    def u16(o: Int): Int = {
      if (o < start || o + 2 > end) fail(s"u16 at $o out of [$start,$end)")
      val a = bytes(o) & 0xff; val b = bytes(o + 1) & 0xff
      if (le) (b << 8) | a else (a << 8) | b
    }
    def u32(o: Int): Long = {
      if (o < start || o + 4 > end) fail(s"u32 at $o out of [$start,$end)")
      val a = (bytes(o) & 0xffL); val b = (bytes(o + 1) & 0xffL)
      val c = (bytes(o + 2) & 0xffL); val d = (bytes(o + 3) & 0xffL)
      if (le) (d << 24) | (c << 16) | (b << 8) | a
      else (a << 24) | (b << 16) | (c << 8) | d
    }
    if (u16(start + 2) != 42) fail("bad TIFF magic")
    def ascii(count: Long, valueOff: Int): String = {
      // count includes the NUL; value inline when count <= 4, else offset.
      // Sanity-bound count FIRST: a corrupt 2^31-scale count casts to a
      // negative Int and would slip past an additive range check
      if (count < 1 || count > end - start) fail(s"ASCII count $count out of range")
      val o = if (count <= 4) valueOff else start + u32(valueOff).toInt
      if (o < start || o + count.toInt > end) fail("ASCII value out of range")
      new String(bytes, o, count.toInt - 1, "US-ASCII")
    }
    // RATIONAL values are 8 bytes so always out of line: the value field
    // is an offset to `count` (num, den) u32 pairs
    def rational(valueOff: Int, index: Int): (Long, Long) = {
      val o = start + u32(valueOff).toInt + 8 * index
      (u32(o), u32(o + 4))
    }
    // one IFD's entries: tag -> (type, count, value-field offset); the
    // tag walk itself skips nothing, so consumers decide what matters
    def walkIfd(ifd: Int): Map[Int, (Int, Long, Int)] = {
      val n = u16(ifd)
      val m = Map.newBuilder[Int, (Int, Long, Int)]
      var i = 0
      while (i < n) {
        val e = ifd + 2 + i * 12
        m += (u16(e) -> ((u16(e + 2), u32(e + 4), e + 8)))
        i += 1
      }
      m.result()
    }
    val ifd0 = walkIfd(start + u32(start + 4).toInt)
    def sized(tag: Int, what: String): Long = ifd0.get(tag) match {
      case Some((3, _, v)) => u16(v).toLong
      case Some((4, _, v)) => u32(v)
      case Some((typ, _, _)) => fail(s"$what type $typ")
      case None => fail(s"missing curation tag: $what")
    }
    val width = sized(TagImageWidth, "width")
    val height = sized(TagImageLength, "height")
    val orientation = ifd0.get(TagOrientation) match {
      case Some((3, _, v)) => u16(v)
      case Some((typ, _, _)) => fail(s"orientation type $typ")
      case None => fail("missing curation tag: orientation")
    }
    def asciiTag(m: Map[Int, (Int, Long, Int)], tag: Int, what: String): String =
      m.get(tag) match {
        case Some((2, count, v)) => ascii(count, v)
        case Some((typ, _, _)) => fail(s"$what type $typ")
        case None => fail(s"missing curation tag: $what")
      }
    val make = asciiTag(ifd0, TagMake, "make")
    val dateTime = asciiTag(ifd0, TagDateTime, "dateTime")
    val info = ExifInfo(order, width, height, make, orientation, dateTime)

    if (!followPointers) return ExifFull(info, None, None)

    def asciiOpt(m: Map[Int, (Int, Long, Int)], tag: Int, what: String): Option[String] =
      m.get(tag).map {
        case (2, count, v) => ascii(count, v)
        case (typ, _, _) => fail(s"$what type $typ")
      }
    val sub = ifd0.get(TagExifIfd).map { case (_, _, v) =>
      val m = walkIfd(start + u32(v).toInt)
      val dto = asciiOpt(m, TagDateTimeOriginal, "DateTimeOriginal")
      val iso = m.get(TagIso).map {
        case (3, _, vv) => u16(vv)
        case (typ, _, _) => fail(s"ISO type $typ")
      }
      val expo = m.get(TagExposureTime).map {
        case (5, 1L, vv) => rational(vv, 0)
        case (typ, c, _) => fail(s"ExposureTime type $typ count $c")
      }
      ExifSub(dto, iso, expo)
    }

    val gps = ifd0.get(TagGpsIfd).flatMap { case (_, _, v) =>
      val m = walkIfd(start + u32(v).toInt)
      // a coordinate surfaces only COMPLETE (ref + 3 RATIONALs); a GPS
      // IFD carrying just GPSVersionID (location services off — the
      // common case) yields None, while a PRESENT-but-malformed field
      // still fails loudly
      def coord(refTag: Int, valTag: Int, what: String,
          refs: Set[String]): Option[GpsCoord] =
        (asciiOpt(m, refTag, s"$what ref"), m.get(valTag)) match {
          case (Some(ref), Some((5, 3L, vv))) =>
            if (!refs.contains(ref)) fail(s"bad $what ref '$ref'")
            val (dn, dd) = rational(vv, 0)
            val (mn, md) = rational(vv, 1)
            val (sn, sd) = rational(vv, 2)
            if (dd == 0 || md == 0 || sd == 0) fail(s"$what zero denominator")
            Some(GpsCoord(ref, dn, dd, mn, md, sn, sd))
          case (Some(_), Some((typ, c, _))) => fail(s"$what type $typ count $c")
          case _ => None
        }
      for {
        lat <- coord(TagGpsLatRef, TagGpsLat, "latitude", Set("N", "S"))
        lon <- coord(TagGpsLonRef, TagGpsLon, "longitude", Set("E", "W"))
      } yield (lat, lon)
    }
    ExifFull(info, sub, gps)
  }

  /** [[parseExif]] returning the full pointer-walked record. */
  def parseExifFull(bytes: Array[Byte]): Option[ExifFull] =
    findExifApp1(bytes).map { case (s, e) => parseTiffFull(bytes, s, e) }
}
