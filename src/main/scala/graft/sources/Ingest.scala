package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StringType, StructField, StructType}

/** Ingestion edge: schema-declared CSV/JSON readers with malformed-record
  * quarantine, and a partitioned parquet sink — the reference's
  * "ingestor" surface re-expressed as Spark sources/sinks.
  *
  * Readers run PERMISSIVE with a corrupt-record column so one bad line
  * never fails a 100 TB load; `partitionValid` splits the quarantine off
  * as data, keeping the pipeline declarative end to end.
  */
object Ingest {

  val CorruptCol = "_corrupt_record"

  private def withCorrupt(schema: StructType): StructType =
    if (schema.fieldNames.contains(CorruptCol)) schema
    else schema.add(StructField(CorruptCol, StringType, nullable = true))

  /** Schema-enforced CSV read; malformed rows land in `_corrupt_record`. */
  def readCsv(spark: SparkSession, path: String, schema: StructType,
      header: Boolean = true): DataFrame =
    spark.read
      .schema(withCorrupt(schema))
      .option("header", header.toString)
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", CorruptCol)
      .csv(path)

  /** Streaming twin of `readCsv`: watch a directory of CSV files with the
    * same schema/quarantine contract (streaming sources need the explicit
    * schema — they cannot infer). */
  def readCsvStream(spark: SparkSession, dir: String, schema: StructType,
      header: Boolean = true): DataFrame =
    spark.readStream
      .schema(withCorrupt(schema))
      .option("header", header.toString)
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", CorruptCol)
      .csv(dir)

  /** Schema-enforced JSON-lines read with the same quarantine contract. */
  def readJson(spark: SparkSession, path: String, schema: StructType): DataFrame =
    spark.read
      .schema(withCorrupt(schema))
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", CorruptCol)
      .json(path)

  /** Split a permissively-read frame into (valid, quarantined). Valid rows
    * drop the corrupt column; quarantined rows keep the raw text for
    * replay/debugging.
    *
    * Deliberately uncached — an internal cache() would pin the whole raw
    * input in storage memory with no handle for the caller to unpersist.
    * Consequence (Spark restriction QUERY_ONLY_CORRUPT_RECORD_COLUMN): the
    * quarantine side must be consumed through full-row operations (write,
    * collect) — counting it alone is disallowed on an uncached raw scan;
    * count quarantined rows as total − valid (see `counts`) or cache the
    * input yourself with a lifetime you control. */
  def partitionValid(df: DataFrame): (DataFrame, DataFrame) = {
    val valid = df.filter(col(CorruptCol).isNull).drop(CorruptCol)
    val bad = df.filter(col(CorruptCol).isNotNull)
    (valid, bad)
  }

  /** (total, valid, quarantined) row counts for a permissively-read frame.
    * Spark refuses corrupt-column-only queries against a raw scan, and
    * column pruning reduces a filtered count to exactly that — so the
    * frame is cached for the duration of the two counts and unpersisted
    * before returning (scoped: no storage-memory leak survives the call). */
  def counts(df: DataFrame): (Long, Long, Long) = {
    val cached = df.cache()
    try {
      val total = cached.count()
      val valid = cached.filter(col(CorruptCol).isNull).count()
      (total, valid, total - valid)
    } finally cached.unpersist()
  }

  /** CSV sink — the write side of [[readCsv]]'s round trip. Headers on
    * by default so the files are self-describing; readers should still
    * pass the explicit schema (never infer at 100 TB — inference is a
    * full extra pass and a types lottery). */
  def writeCsv(df: DataFrame, path: String, header: Boolean = true): Unit =
    df.write.mode("overwrite").option("header", header.toString).csv(path)

  /** JSON-lines sink — the write side of [[readJson]]'s round trip.
    * JSON escaping makes arbitrary text (newlines, quotes, unicode)
    * line-safe, which CSV cannot promise without quoting discipline. */
  def writeJson(df: DataFrame, path: String): Unit =
    df.write.mode("overwrite").json(path)

  /** Partitioned parquet sink: at scale, partition columns (typically a
    * date derivative and/or key hash bucket) bound file listing and enable
    * partition pruning on read. */
  def writePartitioned(df: DataFrame, path: String, partitionCols: Seq[String]): Unit =
    df.write.mode("overwrite").partitionBy(partitionCols: _*).parquet(path)

  /** Partitioned ORC sink (same layout rationale as [[writePartitioned]]). */
  def writeOrcPartitioned(df: DataFrame, path: String,
      partitionCols: Seq[String]): Unit =
    df.write.mode("overwrite").partitionBy(partitionCols: _*).orc(path)

  /** Media-directory ingestion over Spark's `binaryFile` source: each
    * matching file becomes one row (path, modificationTime, length,
    * content), and the container format is sniffed from MAGIC BYTES —
    * never from the file extension, which a 100 TB crawl corpus lies
    * about constantly. Output matches `Multimodal.MediaRow`'s shape
    * (media_id = a deterministic 64-bit hash of the path, kind derived
    * from the sniffed format), ready for `MediaPipeline.curate`.
    * Unrecognized payloads tag as `bin` and are skipped by the
    * signature jobs downstream instead of failing the load.
    *
    * `binaryFile` is scan-parallel like any file source (one task per
    * file group) and prunes on the path glob; `maxBytes` guards a
    * single pathological object from OOMing an executor — the `length`
    * filter is PUSHED DOWN to the binaryFile source (length is one of
    * its pushdown columns), so oversize file CONTENT is never read
    * into memory. */
  def readMediaDirectory(spark: SparkSession, dir: String,
      glob: String = "*", maxBytes: Long = 64L * 1024 * 1024): DataFrame = {
    val sniff = {
      val c = col("content")
      // magic-byte dispatch, cheapest test first; substring is 1-based
      when(substring(c, 1, 4) === lit("RIFF".getBytes("US-ASCII")) &&
          substring(c, 9, 4) === lit("WAVE".getBytes("US-ASCII")), "wav")
        .when(substring(c, 1, 4) === lit("RIFF".getBytes("US-ASCII")) &&
          substring(c, 9, 4) === lit("AVI ".getBytes("US-ASCII")), "avi")
        .when(substring(c, 1, 2) === lit("BM".getBytes("US-ASCII")), "bmp")
        .when(substring(c, 1, 8) ===
          lit(Array[Byte](0x89.toByte, 'P', 'N', 'G', '\r', '\n', 0x1a, '\n')), "png")
        .when(substring(c, 1, 2) === lit(Array[Byte](0xff.toByte, 0xd8.toByte)), "jpeg")
        .when(substring(c, 5, 4) === lit("ftyp".getBytes("US-ASCII")), "mp4")
        .otherwise("bin")
    }
    val kind =
      when(col("format").isin("bmp", "png", "jpeg"), "image")
        .when(col("format") === "wav", "audio")
        .when(col("format").isin("avi", "mp4"), "video")
        .otherwise("binary")
    spark.read.format("binaryFile")
      .option("pathGlobFilter", glob)
      .load(dir)
      .filter(col("length") <= maxBytes)
      .withColumn("format", sniff)
      .select(
        xxhash64(col("path")).as("media_id"),
        kind.as("kind"),
        col("content").as("media"),
        col("format"),
        // dimension/rate metadata is unknown until decode — zeros keep
        // the row `.as[Multimodal.MediaRow]`-compatible (the extra
        // path/n_bytes columns are dropped by the encoder's by-name bind)
        lit(0).as("width"),
        lit(0).as("height"),
        lit(0).as("sample_rate"),
        col("path"),
        col("length").as("n_bytes"))
  }

}
