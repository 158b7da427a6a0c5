package org.apache.spark.graftbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}

import scala.collection.mutable

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Seeded, untimed generator of a device CSV export of RR-interval series.
  *
  * Every value derives from `xxhash64(seed, row id, salt)`, as in
  * `graft.GenSf`, so the export is the same at any parallelism. Series ids
  * are 1..series for every seed (the seed moves values, not the key
  * layout). Samples come at about 1 Hz, RR values stay within ±12% of the
  * median of their previous five samples, and series start within ten
  * minutes of 23:30 UTC so they cross midnight (two day partitions).
  *
  * Planted defects, recorded with their positions:
  *  - artifacts (~0.5%, never in the first 8 samples of a series): the value
  *    is replaced by one outside [Lo, Hi], so the cleaning stage must flag
  *    and interpolate it;
  *  - malformed lines (~0.1%): the value or the timestamp does not parse,
  *    so the ingest stage must quarantine the line.
  *
  * The same samples are written as one export file (`export.csv`) and as
  * `drops` time-ordered drop files for the streaming path, each with a
  * header line.
  */
object HrvExport {
  val Lo = 300.0
  val Hi = 2000.0
  val RollingN = 5

  final case class Sample(seriesId: Long, tsMs: Long, line: String,
      artifact: Boolean, malformed: Boolean)

  final case class Export(exportCsv: Path, dropFiles: Seq[Path],
      exportBytes: Long, rows: Long, valid: Long, malformed: Long, series: Long,
      artifacts: Seq[(Long, Long)], caveatRows: Seq[(Long, Long)],
      firstClean: (Long, Long))

  private def h(seed: Long, id: Column, salt: String): Column =
    xxhash64(lit(seed), id, lit(salt))

  private def ui(seed: Long, id: Column, salt: String, n: Long): Column =
    pmod(h(seed, id, salt), lit(n))

  def generate(spark: SparkSession, seed: Long, series: Int, samples: Int,
      drops: Int, dir: Path): Export = {
    val epochMs = 1704151800000L // 2024-01-01T23:30:00Z
    val n = series.toLong * samples
    val id = col("id")
    val sid = (id / samples).cast("long") + 1
    val k = pmod(id, lit(samples.toLong))
    val fmt = "yyyy-MM-dd'T'HH:mm:ss.SSS'Z'"
    val rows = spark.range(0L, n, 1L, 8).select(
        sid.as("sid"), k.as("k"),
        (lit(epochMs) + ui(seed, sid, "start", 600000L) + k * 1000L +
          ui(seed, id, "jitter", 500L)).as("ts_ms"),
        // per-series base RR 700..900 ms, a slow oscillation and ±30 ms noise
        round(lit(700.0) + ui(seed, sid, "base", 200L) +
          sin(k * (2 * math.Pi / 90)) * 40.0 +
          (ui(seed, id, "noise", 6001L) - 3000) / 100.0, 1).as("rr"),
        (ui(seed, id, "bad", 10000L) < 10).as("malformed"),
        (ui(seed, id, "art", 1000L) < 5 && k >= 8).as("art_hit"),
        ui(seed, id, "amag", 600L).as("amag"),
        (ui(seed, id, "asign", 2L) === 0).as("ahigh"),
        (ui(seed, id, "bkind", 2L) === 0).as("badvalue"))
      .withColumn("artifact", col("art_hit") && !col("malformed"))
      .withColumn("value",
        when(col("artifact") && col("ahigh"), lit(2400.0) + col("amag"))
          .when(col("artifact"), lit(100.0) + col("amag") / 4)
          .otherwise(col("rr")))
      .withColumn("ts_txt", date_format(timestamp_millis(col("ts_ms")), fmt))
      .withColumn("line",
        when(col("malformed") && col("badvalue"),
          concat_ws(",", col("sid").cast("string"), col("ts_txt"),
            concat(col("value").cast("string"), lit("x"))))
          .when(col("malformed"),
            concat_ws(",", col("sid").cast("string"), lit("not-a-time"),
              col("value").cast("string")))
          .otherwise(concat_ws(",", col("sid").cast("string"), col("ts_txt"),
            col("value").cast("string"))))
      .select("sid", "ts_ms", "line", "artifact", "malformed")
      .collect()
      .map(r => Sample(r.getLong(0), r.getLong(1), r.getString(2), r.getBoolean(3),
        r.getBoolean(4)))
      .sortBy(s => (s.tsMs, s.seriesId))

    Files.createDirectories(dir)
    val header = "series_id,ts,value"
    def writeLines(p: Path, ss: Seq[Sample]): Unit = {
      val sb = new StringBuilder(header).append('\n')
      ss.foreach(s => sb.append(s.line).append('\n'))
      Files.write(p, sb.toString.getBytes(UTF_8))
    }
    val exportCsv = dir.resolve("export.csv")
    writeLines(exportCsv, rows.toSeq)

    // time-ordered drops: equal slices of the export's time span
    val t0 = rows.head.tsMs
    val span = rows.last.tsMs - t0 + 1
    def dropOf(s: Sample): Int = ((s.tsMs - t0) * drops / span).toInt
    val byDrop = rows.toSeq.groupBy(dropOf)
    val dropDir = Files.createDirectories(dir.resolve("drops"))
    val dropFiles = (0 until drops).map { d =>
      val p = dropDir.resolve(f"drop-$d%05d.csv")
      writeLines(p, byDrop.getOrElse(d, Seq.empty))
      p
    }

    val valid = rows.filterNot(_.malformed)
    // Rows under the batch-boundary caveat of the streaming path: an
    // artifact with no clean sample of its series after it in the same drop
    // interpolates from its past neighbor only.
    val caveat = mutable.ArrayBuffer[(Long, Long)]()
    valid.groupBy(s => (dropOf(s), s.seriesId)).values.foreach { ss =>
      val ordered = ss.sortBy(_.tsMs)
      val lastClean = ordered.lastIndexWhere(!_.artifact)
      ordered.drop(lastClean + 1).foreach(s => caveat += ((s.seriesId, s.tsMs)))
    }
    Export(exportCsv, dropFiles, Files.size(exportCsv), rows.length,
      valid.length, rows.count(_.malformed), valid.map(_.seriesId).distinct.length,
      valid.filter(_.artifact).map(s => (s.seriesId, s.tsMs)).toSeq, caveat.toSeq,
      valid.find(!_.artifact).map(s => (s.seriesId, s.tsMs)).get)
  }

  /** Planted positions as a frame keyed like the pipeline's output. */
  def keys(spark: SparkSession, ks: Seq[(Long, Long)]): DataFrame = {
    import spark.implicits._
    ks.toDF("series_id", "ts_ms")
      .select(col("series_id"), timestamp_millis(col("ts_ms")).as("ts"))
  }

  def record(e: Export): Map[String, Any] = Map(
    "rows" -> e.rows, "valid" -> e.valid, "malformed" -> e.malformed,
    "series" -> e.series, "artifacts" -> e.artifacts.length,
    "caveat_rows" -> e.caveatRows.length, "export_bytes" -> e.exportBytes,
    "drops" -> e.dropFiles.length)
}
