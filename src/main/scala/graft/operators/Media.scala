package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.multimodal.Multimodal

/** Judged multimodal-column queries (SURVEY.md §2.13 / BASELINE.json
  * pillar "multimodal columns").
  *
  * DuckDB cannot decode media, so the judged contract uses the repo's
  * result-invisibility pattern (the `join_bucketed` / layout-lever
  * precedent): each row SYNTHESIZES deterministic media bytes from its
  * key on a closed-form integer lattice, round-trips them through the
  * real container codec ([[Multimodal.encodeBmp24]]→[[Multimodal
  * .bmpGrayPixels]], [[Multimodal.encodeWavPcm16]]→[[Multimodal
  * .wavSamples]]), and emits exact INTEGER features of the decoded
  * payload. The oracle recomputes the same integers from the key
  * directly (generate_series over the lattice formula) — so the
  * encode→decode hop must be bit-lossless to hash-match, which is
  * precisely the property that makes it a real codec test rather than
  * a formula echo.
  *
  * Scale shape: the codec work is per-row and embarrassingly parallel
  * (a UDF pair — the legitimate UDF case: container parsing is
  * imperative byte twiddling no Catalyst expression expresses), and
  * every FEATURE is computed by codegen'd higher-order functions over
  * the decoded array, so only the codec itself leaves codegen. At
  * 100 TB the identical plan maps over a binary `media` column read
  * from parquet instead of synthesized — decode cost dominates and
  * scales linearly with bytes, with no shuffle until the final
  * (tiny) ordered output.
  */
object Media {

  /** 8×8 gray pixel lattice for key `pk`: v(k) = (pk·37 + k·11) mod 256. */
  private val encodeImage = udf { (pk: Long) =>
    Multimodal.encodeBmp24(8, 8, (x, y) => {
      val k = y * 8 + x
      val v = ((pk * 37 + k * 11) % 256).toInt
      (v, v, v)
    })
  }
  private val decodeImage = udf { (bytes: Array[Byte]) =>
    Multimodal.bmpGrayPixels(bytes)
  }

  /** 256-sample PCM-16 lattice for key `ck`:
    * s(k) = ((ck·31 + k·17) mod 4001) − 2000 ∈ [−2000, 2000]. */
  private val encodeAudio = udf { (ck: Long) =>
    val samples = Array.tabulate(256) { k =>
      (((ck * 31 + k * 17) % 4001) - 2000).toShort
    }
    Multimodal.encodeWavPcm16(samples, sampleRate = 8000)
  }
  private val decodeAudio = udf { (bytes: Array[Byte]) =>
    Multimodal.wavSamples(bytes)
  }

  /** #193 judged image roundtrip + aHash: per part (p_partkey ≤ 200),
    * synthesize the 8×8 gray BMP, decode it back through the real BMP
    * parser, and emit exact integer features — pixel count/sum/min/max
    * and the average-hash as two 32-bit halves (bit k set iff
    * 64·v(k) > Σv, the integer-exact form of "pixel above mean"; two
    * halves because Σ 2^63 overflows signed BIGINT in both engines).
    * The oracle recomputes every integer from the lattice formula. */
  def mmImageAhash(s: SparkSession, d: String): DataFrame =
    Tables.part(s, d)
      .filter(col("p_partkey") <= 200)
      .select(col("p_partkey"))
      .withColumn("px", decodeImage(encodeImage(col("p_partkey"))))
      .withColumn("px_sum",
        aggregate(col("px"), lit(0L), (acc, x) => acc + x))
      .select(
        col("p_partkey"),
        size(col("px")).cast("long").as("n_px"),
        col("px_sum"),
        array_min(col("px")).as("px_min"),
        array_max(col("px")).as("px_max"),
        expr("aggregate(sequence(0, 31), CAST(0 AS BIGINT), (acc, k) -> " +
          "acc + IF(element_at(px, k + 1) * 64 > px_sum, " +
          "shiftleft(CAST(1 AS BIGINT), k), CAST(0 AS BIGINT)))")
          .as("ahash_lo"),
        expr("aggregate(sequence(32, 63), CAST(0 AS BIGINT), (acc, k) -> " +
          "acc + IF(element_at(px, k + 1) * 64 > px_sum, " +
          "shiftleft(CAST(1 AS BIGINT), k - 32), CAST(0 AS BIGINT)))")
          .as("ahash_hi"))
      .orderBy(col("p_partkey"))

  /** 8×8 gray lattice for the PNG query: v(k) = (pk·53 + k·29) mod 256
    * — different constants than the BMP lattice so the two image
    * queries cannot mask each other's failures. */
  private val encodePng = udf { (pk: Long) =>
    Multimodal.encodePng(8, 8, (x, y) => {
      val k = y * 8 + x
      val v = ((pk * 53 + k * 29) % 256).toInt
      (v, v, v)
    })
  }
  private val decodePng = udf { (bytes: Array[Byte]) =>
    Multimodal.pngGrayPixels(bytes)
  }

  /** 3-frame 8×8 gray video lattice for key `sk`: flat index
    * k = frame·64 + y·8 + x, v(k) = (sk·13 + k·7) mod 256. */
  private val encodeVideo = udf { (sk: Long) =>
    Multimodal.encodeAviDib(8, 8, (0 until 3).map { f =>
      (x: Int, y: Int) => {
        val k = f * 64 + y * 8 + x
        val v = ((sk * 13 + k * 7) % 256).toInt
        (v, v, v)
      }
    })
  }
  private val decodeVideo = udf { (bytes: Array[Byte]) =>
    Multimodal.aviGrayPixels(bytes)
  }

  /** #198 judged image roundtrip through the PNG codec — the HARD
    * image container (zlib deflate/inflate + the scanline filter
    * chain, vs BMP's raw pixel copy): same invisibility contract as
    * [[mmImageAhash]] on an independent lattice. Any filter-
    * reconstruction or inflate slip shifts px_sum/ahash and the hash
    * gate fails. */
  def mmImagePng(s: SparkSession, d: String): DataFrame =
    Tables.part(s, d)
      .filter(col("p_partkey") <= 200)
      .select(col("p_partkey"))
      .withColumn("px", decodePng(encodePng(col("p_partkey"))))
      .withColumn("px_sum",
        aggregate(col("px"), lit(0L), (acc, x) => acc + x))
      .select(
        col("p_partkey"),
        size(col("px")).cast("long").as("n_px"),
        col("px_sum"),
        array_min(col("px")).as("px_min"),
        array_max(col("px")).as("px_max"),
        expr("aggregate(sequence(0, 31), CAST(0 AS BIGINT), (acc, k) -> " +
          "acc + IF(element_at(px, k + 1) * 64 > px_sum, " +
          "shiftleft(CAST(1 AS BIGINT), k), CAST(0 AS BIGINT)))")
          .as("ahash_lo"),
        expr("aggregate(sequence(32, 63), CAST(0 AS BIGINT), (acc, k) -> " +
          "acc + IF(element_at(px, k + 1) * 64 > px_sum, " +
          "shiftleft(CAST(1 AS BIGINT), k - 32), CAST(0 AS BIGINT)))")
          .as("ahash_hi"))
      .orderBy(col("p_partkey"))

  /** #199 judged VIDEO roundtrip — the third modality under the
    * oracle: per supplier, synthesize a 3-frame 8×8 gray
    * uncompressed-DIB AVI, decode every frame back through the real
    * ISO-RIFF container parser, and emit exact integer features over
    * the concatenated frame pixels. `wsum` weights each pixel by its
    * 1-based FRAME number, so a container that returns the right
    * pixels in the wrong frame order (an index-table slip the
    * per-frame sums can't see) still fails the hash. `n_frames` comes
    * from the decoded length — a dropped or duplicated movi chunk
    * moves it. */
  def mmVideoFrames(s: SparkSession, d: String): DataFrame =
    Tables.supplier(s, d)
      .filter(col("s_suppkey") <= 200)
      .select(col("s_suppkey"))
      .withColumn("px", decodeVideo(encodeVideo(col("s_suppkey"))))
      .select(
        col("s_suppkey"),
        size(col("px")).cast("long").as("n_px"),
        (size(col("px")) / 64).cast("long").as("n_frames"),
        aggregate(col("px"), lit(0L), (acc, x) => acc + x).as("px_sum"),
        array_min(col("px")).as("px_min"),
        array_max(col("px")).as("px_max"),
        expr("aggregate(sequence(0, size(px) - 1), CAST(0 AS BIGINT), " +
          "(acc, k) -> acc + (CAST(k DIV 64 AS BIGINT) + 1L) * " +
          "element_at(px, k + 1))").as("wsum"))
      .orderBy(col("s_suppkey"))

  /** Deterministic single-video-track MP4 for key `sk`: every header
    * field a closed-form function of the key, so the oracle can
    * recompute all of them without parsing bytes. */
  private val encodeMp4 = udf { (sk: Long) =>
    val codecs = Array("avc1", "hvc1", "vp09", "av01")
    graft.multimodal.Mp4.encodeMp4Minimal(
      width = 16 + (sk % 16).toInt * 8,
      height = 16 + (sk % 9).toInt * 8,
      durationMs = 500 + sk * 37,
      nSamples = 1 + (sk % 30).toInt,
      codec = codecs((sk % 4).toInt))
  }
  private val parseMp4Meta = udf { (bytes: Array[Byte]) =>
    val info = graft.multimodal.Mp4.parseMp4(bytes)
    val t = info.tracks.head
    (info.majorBrand, info.timescale, info.tracks.size,
      t.kind, t.codec, t.width, t.height, t.timescale, t.duration,
      t.nSamples)
  }

  /** #206 judged MP4 METADATA (round-13, verdict gap #2 — the fifth and
    * last container format under the oracle, after BMP/PNG/WAV/AVI):
    * per supplier, synthesize a structurally valid ISO-BMFF box tree
    * whose every header field is a closed-form function of the key,
    * then parse it back through the real box walker
    * ([[graft.multimodal.Mp4.parseMp4]]: ftyp brand, mvhd timescale,
    * trak→tkhd 16.16 fixed-point dimensions, mdhd timescale/duration,
    * hdlr handler kind, stsd codec fourcc, stsz sample count) and emit
    * the exact integers/strings. The oracle recomputes each field from
    * the key formula — so any box-offset slip (version-dependent field
    * offsets, the 16.16 shift, the stsd entry header) changes a value
    * and fails the hash. This is exactly the metadata a 100 TB media
    * curation pass filters and joins on BEFORE scheduling any expensive
    * frame decode; the parse is per-row, embarrassingly parallel, no
    * shuffle until the bounded ordered output. */
  def mmVideoMp4Meta(s: SparkSession, d: String): DataFrame =
    Tables.supplier(s, d)
      .filter(col("s_suppkey") <= 200)
      .select(col("s_suppkey"))
      .withColumn("m", parseMp4Meta(encodeMp4(col("s_suppkey"))))
      .select(col("s_suppkey"),
        col("m._1").as("brand"),
        col("m._2").cast("long").as("mv_timescale"),
        col("m._3").cast("long").as("n_tracks"),
        col("m._4").as("kind"),
        col("m._5").as("codec"),
        col("m._6").cast("long").as("width"),
        col("m._7").cast("long").as("height"),
        col("m._8").cast("long").as("trk_timescale"),
        col("m._9").as("dur_ms"),
        col("m._10").cast("long").as("n_samples"))
      .orderBy(col("s_suppkey"))

  /** Deterministic multi-chunk MP4 for key `sk`: sample count, sizes,
    * time deltas, chunk pattern and codec all closed-form functions of
    * the key, so the oracle can replay every per-sample integer. */
  private val encodeMp4Samples = udf { (sk: Long) =>
    val n = 1 + (sk % 13).toInt
    val frames = Array.tabulate(n)(i =>
      Array.ofDim[Byte](20 + ((sk * 19 + i * 23) % 181).toInt))
    val deltas = Array.tabulate(n)(i => 40 + ((sk + i) % 7).toInt)
    val chunks = scala.collection.mutable.ArrayBuffer[Int]()
    var left = n
    var j = 0
    while (left > 0) {
      val c = math.min(left, 1 + ((sk + j) % 4).toInt)
      chunks += c; left -= c; j += 1
    }
    val codecs = Array("jpeg", "avc1", "hvc1", "av01")
    graft.multimodal.Mp4.encodeMp4Chunked(16, 16, 1000 + sk,
      frames.toSeq, chunks.toSeq, deltas.toSeq, codecs((sk % 4).toInt))
  }
  private val parseMp4Samples = udf { (bytes: Array[Byte]) =>
    val (codec, samples) = graft.multimodal.Mp4.videoSampleTable(bytes)
      .getOrElse(throw new IllegalArgumentException("no video sample table"))
    val deltas = graft.multimodal.Mp4.sampleDurations(bytes)
      .getOrElse(throw new IllegalArgumentException("no stts table"))
    require(deltas.length == samples.length,
      s"stts (${deltas.length}) and stsz (${samples.length}) disagree")
    val base = samples.head._1
    (codec, samples.zip(deltas).map { case ((off, sz), dur) =>
      (off - base, sz, dur)
    })
  }

  /** #217 judged MP4 SAMPLE-TABLE WALK (round-13 verdict #6 — ISO-BMFF
    * covered from brand to byte offsets): per supplier, synthesize a
    * MULTI-chunk MP4 whose stsz sizes, stsc samples-per-chunk runs,
    * stco chunk offsets and run-length-encoded stts time deltas are all
    * closed-form in the key, walk the four tables back through the real
    * parser ([[graft.multimodal.Mp4.videoSampleTable]] +
    * [[graft.multimodal.Mp4.sampleDurations]]), and emit ONE ROW PER
    * SAMPLE: mdat-relative byte offset, size, and time delta as exact
    * integers. Offsets are judged relative to sample 0 (the absolute
    * base is the moov's size — container bookkeeping the oracle
    * shouldn't replicate; Mp4Spec pins the absolute form), and because
    * chunks pack back-to-back, `rel_off` equals the size prefix-sum —
    * but only when the stsc run resolution assigns every sample to the
    * right chunk, so a run-arithmetic slip shifts offsets and fails the
    * hash. This walk is the exact scheduling input a 100 TB media scan
    * uses to fetch coded frames without decoding: per-row parse,
    * embarrassingly parallel, no shuffle until the bounded ordered
    * output. */
  def mmVideoMp4Samples(s: SparkSession, d: String): DataFrame =
    Tables.supplier(s, d)
      .filter(col("s_suppkey") <= 200)
      .select(col("s_suppkey"))
      .withColumn("p", parseMp4Samples(encodeMp4Samples(col("s_suppkey"))))
      .select(col("s_suppkey"), col("p._1").as("codec"),
        posexplode(col("p._2")).as(Seq("i", "t")))
      .select(col("s_suppkey"), col("codec"),
        col("i").cast("long").as("i"),
        col("t._1").as("rel_off"),
        col("t._2").cast("long").as("sz"),
        col("t._3").cast("long").as("dur"))
      .orderBy(col("s_suppkey"), col("i"))

  /** Deterministic EXIF'd JPEG for key `pk`: every tag a closed-form
    * key function; byte order alternates by key parity so BOTH TIFF
    * endiannesses are judged. The carrier is a real 8×8 grayscale JPEG
    * from the in-tree codec. */
  private val encodeExifJpeg = udf { (pk: Long) =>
    val tiff = graft.multimodal.Exif.tiffBlock(
      width = 100 + pk % 50,
      height = 80 + pk % 37,
      make = s"CAM-${pk % 13}",
      orientation = (1 + pk % 8).toInt,
      dateTime = f"2024:${1 + pk % 12}%02d:${1 + pk % 28}%02d " +
        f"${pk % 24}%02d:${pk % 60}%02d:${pk % 60}%02d",
      littleEndian = pk % 2 == 0)
    graft.multimodal.Exif.withExif(
      graft.multimodal.Jpeg.encodeJpeg(
        Array.fill(64)((pk % 256).toByte), 8, 8, channels = 1), tiff)
  }
  private val parseExifMeta = udf { (bytes: Array[Byte]) =>
    val e = graft.multimodal.Exif.parseExif(bytes)
      .getOrElse(throw new IllegalArgumentException("no EXIF APP1"))
    (e.byteOrder, e.width, e.height, e.make, e.orientation, e.dateTime)
  }

  /** #219 judged EXIF METADATA (round-14) — the image twin of the MP4
    * header walk: orientation, capture timestamp, camera make and tag
    * dimensions are what a 100 TB media-curation pass filters, shards
    * and dedups on BEFORE scheduling any pixel decode. Per part, a
    * closed-form EXIF 2.3 / TIFF 6.0 APP1 block is spliced into a REAL
    * JPEG from the in-tree codec and parsed back through the segment
    * walker + IFD reader ([[graft.multimodal.Exif]]); the oracle
    * recomputes every field from the key. Byte order alternates by key
    * parity, so a reader that only handles one endianness fails half
    * the rows; the Make/DateTime strings exercise the out-of-line
    * value-offset path and orientation the inline left-justified SHORT
    * — the three places naive EXIF readers break. Per-row parse, no
    * shuffle until the bounded ordered output. */
  def mmImageExif(s: SparkSession, d: String): DataFrame =
    Tables.part(s, d)
      .filter(col("p_partkey") <= 200)
      .select(col("p_partkey"))
      .withColumn("m", parseExifMeta(encodeExifJpeg(col("p_partkey"))))
      .select(col("p_partkey"),
        col("m._1").as("byte_order"),
        col("m._2").as("width"),
        col("m._3").as("height"),
        col("m._4").as("make"),
        col("m._5").cast("long").as("orientation"),
        col("m._6").as("dt"))
      .orderBy(col("p_partkey"))

  /** Deterministic full-structure EXIF'd JPEG for key `pk`: IFD0 plus
    * the Exif sub-IFD (DateTimeOriginal / ISO / ExposureTime RATIONAL)
    * and GPS IFD (hemisphere refs + 3×RATIONAL coordinates), every
    * value a closed-form key function and every RATIONAL denominator
    * non-trivial (so a parser that drops the den and reads only the
    * num fails). Byte order alternates by key parity. */
  private val encodeExifGpsJpeg = udf { (pk: Long) =>
    val tiff = graft.multimodal.Exif.tiffBlockFull(
      width = 100 + pk % 50,
      height = 80 + pk % 37,
      make = s"CAM-${pk % 13}",
      orientation = (1 + pk % 8).toInt,
      dateTime = f"2024:${1 + pk % 12}%02d:${1 + pk % 28}%02d " +
        f"${pk % 24}%02d:${pk % 60}%02d:${pk % 60}%02d",
      dateTimeOriginal = f"2023:${1 + pk % 12}%02d:${1 + pk % 28}%02d " +
        f"${pk % 24}%02d:${(pk * 7) % 60}%02d:${(pk * 11) % 60}%02d",
      iso = (100 * (1 + pk % 32)).toInt,
      exposureNum = 1 + pk % 3,
      exposureDen = 125 * (1 + pk % 16),
      lat = graft.multimodal.Exif.GpsCoord(
        if (pk % 3 == 0) "S" else "N",
        2 * (pk % 90), 2, 3 * (pk % 60), 3, 5 * ((pk * 37) % 6000), 500),
      lon = graft.multimodal.Exif.GpsCoord(
        if (pk % 5 == 0) "E" else "W",
        2 * (pk % 180), 2, 3 * ((pk * 13) % 60), 3, 5 * ((pk * 53) % 6000), 500),
      littleEndian = pk % 2 == 0)
    graft.multimodal.Exif.withExif(
      graft.multimodal.Jpeg.encodeJpeg(
        Array.fill(64)((pk % 256).toByte), 8, 8, channels = 1), tiff)
  }
  private val parseExifGps = udf { (bytes: Array[Byte]) =>
    val full = graft.multimodal.Exif.parseExifFull(bytes)
      .getOrElse(throw new IllegalArgumentException("no EXIF APP1"))
    val sub = full.sub.getOrElse(
      throw new IllegalArgumentException("no Exif sub-IFD"))
    // the fixture writes every optional field; absence here is a parse
    // fault, not spec tolerance
    val dto = sub.dateTimeOriginal.getOrElse(
      throw new IllegalArgumentException("no DateTimeOriginal"))
    val iso = sub.iso.getOrElse(
      throw new IllegalArgumentException("no ISO"))
    val (expoNum, expoDen) = sub.exposure.getOrElse(
      throw new IllegalArgumentException("no ExposureTime"))
    val (lat, lon) = full.gps.getOrElse(
      throw new IllegalArgumentException("no complete GPS coordinates"))
    // exact integer centi-arcseconds from the parsed RATIONALs (every
    // division exact by fixture construction) — float-free, so the
    // oracle comparison is an integer hash, not an epsilon
    def centi(c: graft.multimodal.Exif.GpsCoord): Long = {
      val v = c.degNum * 360000 / c.degDen + c.minNum * 6000 / c.minDen +
        c.secNum * 100 / c.secDen
      if (c.ref == "S" || c.ref == "W") -v else v
    }
    (full.ifd0.byteOrder, dto, iso, expoNum, expoDen, centi(lat), centi(lon))
  }

  /** #222 judged EXIF SUB-IFD + GPS WALK (round-15) — the pointer-tag
    * structure real camera JPEGs use: DateTimeOriginal, ISO and
    * exposure live in the Exif sub-IFD (tag 0x8769), coordinates in
    * the GPS IFD (0x8825) — the fields a capture-time/geo curation
    * filter actually shards on, and exactly where IFD0-only readers
    * come back empty. Per part, a closed-form full-structure APP1
    * block (both pointer IFDs, RATIONAL values with non-trivial
    * denominators — the remaining TIFF type) is spliced into a real
    * JPEG and parsed back through the recursive IFD walk; coordinates
    * are folded to exact integer centi-arcseconds so the oracle
    * comparison is float-free. Byte order alternates by key parity.
    * Per-row parse, no shuffle until the bounded ordered output. */
  def mmImageExifGps(s: SparkSession, d: String): DataFrame =
    Tables.part(s, d)
      .filter(col("p_partkey") <= 200)
      .select(col("p_partkey"))
      .withColumn("m", parseExifGps(encodeExifGpsJpeg(col("p_partkey"))))
      .select(col("p_partkey"),
        col("m._1").as("byte_order"),
        col("m._2").as("dto"),
        col("m._3").cast("long").as("iso"),
        col("m._4").as("expo_num"),
        col("m._5").as("expo_den"),
        col("m._6").as("lat_centisec"),
        col("m._7").as("lon_centisec"))
      .orderBy(col("p_partkey"))

  private val featureBmp = udf { (bytes: Array[Byte]) =>
    Multimodal.bmpGrayPixels(bytes).map(_.toLong).sum
  }
  private val featurePng = udf { (bytes: Array[Byte]) =>
    Multimodal.pngGrayPixels(bytes).map(_.toLong).sum
  }
  private val featureWav = udf { (bytes: Array[Byte]) =>
    Multimodal.wavSamples(bytes).map(s => s.toLong * s).sum
  }
  private val featureJpegExif = udf { (bytes: Array[Byte]) =>
    val e = graft.multimodal.Exif.parseExif(bytes)
      .getOrElse(throw new IllegalArgumentException("no EXIF APP1"))
    e.width * 10 + e.orientation
  }

  /** #225 judged MAGIC-BYTE SNIFF + ROUTE (round-15) — the crawl-corpus
    * entry point under the oracle: the layout writes one media object
    * per key (k%4 cycles BMP / PNG / PCM-16 WAV / EXIF'd JPEG, every
    * payload a closed-form key lattice) under a LYING file extension
    * (each format saved with the NEXT format's extension — the
    * extensions-lie reality of crawled data), and the read goes
    * through `Ingest.readMediaDirectory`'s magic-byte dispatch, which
    * must route every payload to the right decoder: BMP/PNG to pixel
    * sums, WAV to Σs² energy, JPEG to the EXIF width/orientation
    * parse. The oracle recomputes format, kind and feature from the
    * key alone, so one mis-sniffed file routes to the wrong decoder
    * and either throws or moves the feature. Extension-based routing
    * fails ALL 161 rows here, by construction. Per-file sniff is a
    * prefix comparison (content pruned to the compared bytes only at
    * the source level for the length guard; the sniff reads the row's
    * binary column) — embarrassingly parallel at 100 TB. */
  def mmSniffRoute(s: SparkSession, d: String): DataFrame = {
    val dir = LayoutLock.once("media_sniff", d, mkdirs = true) { out =>
      val lieExt = Map("bmp" -> "png", "png" -> "wav", "wav" -> "jpg", "jpeg" -> "bmp")
      (0 to 160).foreach { k =>
        val (fmt, bytes) = (k % 4) match {
          case 0 => ("bmp", Multimodal.encodeBmp24(8, 8, (x, y) => {
            val j = y * 8 + x
            val v = ((k * 37 + j * 11) % 256).toInt
            (v, v, v)
          }))
          case 1 => ("png", Multimodal.encodePng(8, 8, (x, y) => {
            val j = y * 8 + x
            val v = ((k * 53 + j * 29) % 256).toInt
            (v, v, v)
          }))
          case 2 => ("wav", Multimodal.encodeWavPcm16(
            Array.tabulate(256)(j => (((k * 31 + j * 17) % 4001) - 2000).toShort),
            sampleRate = 8000))
          case _ => ("jpeg", graft.multimodal.Exif.withExif(
            graft.multimodal.Jpeg.encodeJpeg(
              Array.fill(64)((k % 256).toByte), 8, 8, channels = 1),
            graft.multimodal.Exif.tiffBlock(
              width = 100 + k % 50, height = 80 + k % 37,
              make = s"CAM-${k % 13}", orientation = (1 + k % 8),
              dateTime = f"2024:${1 + k % 12}%02d:${1 + k % 28}%02d " +
                f"${k % 24}%02d:${k % 60}%02d:${k % 60}%02d",
              littleEndian = k % 2 == 0)))
        }
        java.nio.file.Files.write(
          java.nio.file.Paths.get(out, f"obj-$k%04d.${lieExt(fmt)}"), bytes)
      }
    }
    graft.sources.Ingest.readMediaDirectory(s, dir, glob = "obj-*")
      .withColumn("k", regexp_extract(col("path"), "obj-(\\d+)\\.", 1).cast("long"))
      .select(col("k"), col("format"), col("kind"),
        when(col("format") === "bmp", featureBmp(col("media")))
          .when(col("format") === "png", featurePng(col("media")))
          .when(col("format") === "wav", featureWav(col("media")))
          .when(col("format") === "jpeg", featureJpegExif(col("media")))
          .otherwise(lit(-1L)).as("feature"))
      .orderBy(col("k"))
  }

  /** Deterministic 8×8 gray BMP for the WebDataset sample of key `pk`
    * (independent lattice constants 41/23, so this row cannot mask the
    * other image rows' failures). */
  private val encodeWdsImage = udf { (pk: Long) =>
    Multimodal.encodeBmp24(8, 8, (x, y) => {
      val j = y * 8 + x
      val v = ((pk * 41 + j * 23) % 256).toInt
      (v, v, v)
    })
  }

  /** #227 judged WEBDATASET SHARD read (round-15) — the standard
    * multimodal-training container: `.tar` shards whose entries
    * `<key>.{bmp,txt,cls}` group into one SAMPLE per key (image +
    * caption + label). The layout writes three shards through the
    * hand-rolled ustar writer (`graft.sources.Tar`) with every entry a
    * closed-form key function; the read streams the shards, verifies
    * every header checksum, groups entries by key (a plain shuffle —
    * correctness must not depend on the convention's
    * consecutive-within-shard layout), decodes the BMP through the
    * real parser and emits per-sample pixel sum, caption and label.
    * The oracle rebuilds all three modalities from the key, so a
    * header-arithmetic slip, a padding error, an entry paired to the
    * wrong key, or a dropped shard moves the hash. Scale: shards are
    * the parallelism unit exactly as training loaders consume them. */
  def sourceTarWebdataset(s: SparkSession, d: String): DataFrame = {
    val dir = LayoutLock.once("wds_shards", d, mkdirs = true) { out =>
      val entries = Tables.part(s, d)
        .filter(col("p_partkey") <= 120)
        .select(col("p_partkey"))
        .select(explode(array(
          struct(format_string("%06d.bmp", col("p_partkey")).as("name"),
            encodeWdsImage(col("p_partkey")).as("content")),
          struct(format_string("%06d.txt", col("p_partkey")).as("name"),
            concat(lit("caption "), col("p_partkey"), lit(" alpha "),
              (col("p_partkey") * col("p_partkey")) % 9973)
              .cast("binary").as("content")),
          struct(format_string("%06d.cls", col("p_partkey")).as("name"),
            (col("p_partkey") % 10).cast("string").cast("binary")
              .as("content")))).as("e"))
        .select(col("e.name"), col("e.content"))
        .repartition(3, expr("substring(name, 1, 6)"))
        .sortWithinPartitions(col("name"))
      graft.sources.Tar.writeTar(entries, out)
    }
    graft.sources.Tar.readWebDataset(s, dir)
      .select(col("key").cast("long").as("k"),
        featureBmp(element_at(col("sample"), "bmp")).as("px_sum"),
        element_at(col("sample"), "txt").cast("string").as("caption"),
        element_at(col("sample"), "cls").cast("string").cast("long").as("label"))
      .withColumn("n_caption_chars", length(col("caption")).cast("long"))
      .orderBy(col("k"))
  }

  /** Deterministic 8×8 gray BMP for the pax WebDataset sample of key
    * `pk` (lattice 61/29 — independent of every other image row). */
  private val encodePaxWdsImage = udf { (pk: Long) =>
    Multimodal.encodeBmp24(8, 8, (x, y) => {
      val j = y * 8 + x
      val v = ((pk * 61 + j * 29) % 256).toInt
      (v, v, v)
    })
  }

  /** #234 judged PAX-FORMAT WebDataset read (round-16) — the tar
    * dialect third-party shards actually arrive in (pax extended
    * headers are python tarfile's DEFAULT output): every sample key is
    * a 107-char nested path that CANNOT fit ustar's 100-byte name
    * field, so each entry travels as a typeflag-`x` extended header
    * carrying the `path=` record plus a data entry under a truncated
    * name, and the reader must apply the override, never surface the
    * metadata entry as data, and group the full long keys. The judged
    * output pins `key_len` per sample (the closed-form length of the
    * FULL path — a truncated or un-overridden name moves it), plus the
    * usual pixel-sum/caption/label lattice. Before the typeflag
    * discipline landed, pax metadata entries would have surfaced as
    * ordinary rows and silently polluted samples. Scale: identical to
    * [[sourceTarWebdataset]] — shards are the parallelism unit. */
  def sourceTarPax(s: SparkSession, d: String): DataFrame = {
    val dir = LayoutLock.once("wds_pax", d, mkdirs = true) { out =>
      val key0 = format_string(
        "webdataset/shards/split-%d/category-%d/" + ("x" * 60) + "-%09d",
        col("p_partkey") % 4, col("p_partkey") % 7, col("p_partkey"))
      val entries = Tables.part(s, d)
        .filter(col("p_partkey") <= 120)
        .select(col("p_partkey"), key0.as("key0"))
        .select(explode(array(
          struct(concat(col("key0"), lit(".bmp")).as("name"),
            encodePaxWdsImage(col("p_partkey")).as("content")),
          struct(concat(col("key0"), lit(".txt")).as("name"),
            concat(lit("pax caption "), col("p_partkey"), lit(" omega "),
              (col("p_partkey") * col("p_partkey")) % 9973)
              .cast("binary").as("content")),
          struct(concat(col("key0"), lit(".cls")).as("name"),
            (col("p_partkey") % 10).cast("string").cast("binary")
              .as("content")))).as("e"))
        .select(col("e.name"), col("e.content"))
        .repartition(3, col("name"))
        .sortWithinPartitions(col("name"))
      graft.sources.Tar.writeTar(entries, out, pax = true)
    }
    graft.sources.Tar.readWebDataset(s, dir)
      .select(regexp_extract(col("key"), "-(\\d+)$", 1).cast("long").as("k"),
        length(col("key")).cast("long").as("key_len"),
        featureBmp(element_at(col("sample"), "bmp")).as("px_sum"),
        element_at(col("sample"), "txt").cast("string").as("caption"),
        element_at(col("sample"), "cls").cast("string").cast("long").as("label"))
      .orderBy(col("k"))
  }

  /** Deterministic media blob for ZIP entry of key `pk`: even keys an
    * 8×8 gray BMP (lattice 59/17), odd keys a 256-sample PCM-16 WAV
    * (lattice 43/19) — constants independent of every other media row. */
  private val encodeZipBlob = udf { (pk: Long) =>
    if (pk % 2 == 0)
      Multimodal.encodeBmp24(8, 8, (x, y) => {
        val j = y * 8 + x
        val v = ((pk * 59 + j * 17) % 256).toInt
        (v, v, v)
      })
    else
      Multimodal.encodeWavPcm16(
        Array.tabulate(256)(j => (((pk * 43 + j * 19) % 4001) - 2000).toShort),
        sampleRate = 8000)
  }

  /** #229 judged ZIP ARCHIVE ingest (round-15) — the third archive
    * family under the oracle (after tar shards and WARC), and the one
    * whose INTEGRITY check is part of the format: the layout writes
    * two deflate-method archives through the hand-rolled PKWARE codec
    * (`graft.sources.Zip`), every entry a closed-form media blob under
    * a deliberately meaningless `.bin` name; the read walks each
    * archive the way the format intends (EOCD scan → central
    * directory → per-entry seek + raw-inflate + CRC-32 verification),
    * sniffs each entry's format from MAGIC BYTES, routes to the right
    * decoder, and emits per-key format + feature. The oracle
    * recomputes both from the key, so a directory-offset slip, a CRC
    * accepted wrongly, an inflate error, or a mis-sniffed entry moves
    * the hash. Scale: one task per archive, entries fetched by
    * directory-driven seeks — media zips ship many archives by
    * construction. */
  def mmZipIngest(s: SparkSession, d: String): DataFrame = {
    val dir = LayoutLock.once("zip_media", d, mkdirs = true) { out =>
      val entries = Tables.part(s, d)
        .filter(col("p_partkey") <= 140)
        .select(format_string("blob-%04d.bin", col("p_partkey")).as("name"),
          encodeZipBlob(col("p_partkey")).as("content"))
        .repartition(2, col("name"))
      graft.sources.Zip.writeZip(entries, out, deflate = true)
    }
    val c = col("content")
    val fmt = when(substring(c, 1, 2) === lit("BM".getBytes("US-ASCII")), "bmp")
      .when(substring(c, 1, 4) === lit("RIFF".getBytes("US-ASCII")) &&
        substring(c, 9, 4) === lit("WAVE".getBytes("US-ASCII")), "wav")
      .otherwise("bin")
    graft.sources.Zip.readZip(s, dir)
      .withColumn("k", regexp_extract(col("name"), "blob-(\\d+)\\.", 1).cast("long"))
      .withColumn("format", fmt)
      .select(col("k"), col("format"),
        when(col("format") === "bmp", featureBmp(c))
          .when(col("format") === "wav", featureWav(c))
          .otherwise(lit(-1L)).as("feature"))
      .orderBy(col("k"))
  }

  /** #194 judged audio roundtrip + energy: per customer (c_custkey ≤
    * 200), synthesize 256 PCM-16 samples spanning the full signed
    * range, decode them back through the real WAV parser, and emit
    * exact integer features — sample count, energy Σs², peak |s|,
    * Σ|s|, first/last sample. The oracle recomputes every integer from
    * the lattice formula; a single byte-order or offset slip in the
    * container roundtrip flips `energy` by millions. */
  def mmAudioEnergy(s: SparkSession, d: String): DataFrame =
    Tables.customer(s, d)
      .filter(col("c_custkey") <= 200)
      .select(col("c_custkey"))
      .withColumn("smp", decodeAudio(encodeAudio(col("c_custkey"))))
      .select(
        col("c_custkey"),
        size(col("smp")).cast("long").as("n_samples"),
        aggregate(col("smp"), lit(0L), (acc, x) => acc + x * x).as("energy"),
        array_max(transform(col("smp"), x => abs(x))).as("peak_abs"),
        aggregate(col("smp"), lit(0L), (acc, x) => acc + abs(x)).as("sum_abs"),
        element_at(col("smp"), 1).as("s_first"),
        element_at(col("smp"), 256).as("s_last"))
      .orderBy(col("c_custkey"))
}
