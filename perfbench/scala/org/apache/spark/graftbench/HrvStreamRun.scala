package org.apache.spark.graftbench

import java.nio.file.{Files, Path, StandardCopyOption}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{median => _, _}

import graft.Pipeline

import org.apache.spark.graftbench.Harness._

/** Workload `hrv_stream`: the `hrv_batch` export cut into time-ordered file
  * drops and fed to `graft.Pipeline.ingestAndFeaturizeStream` in an open
  * loop: drop i is due at start + i × interval, whether or not earlier
  * drops have committed, with interval = seconds ÷ drops (0.5 s for 40
  * drops over 20 s). Latency of a drop runs from when it was due until the
  * micro-batch holding it commits, read from the stream's own checkpoint
  * (source log and commit log), so nothing inside the engine is timed.
  *
  * Warm-up (untimed for latency, reported as `warmup_s`): one
  * `ingestAndFeaturize` call over the same samples, whose output is the
  * reference for the check, and a short stream over the first drops fed
  * one at a time.
  */
object HrvStreamRun {
  val WarmDrops = 2
  val FeatureCols = Seq("f_delta", "f_cnt", "f_mean", "f_std", "f_min", "f_max", "f_rmssd")

  final case class StreamRun(wallS: Double, dropLatency: Seq[Double], batchDurations: Seq[Double],
      lateness: Seq[Double], batches: Int, committedDrops: Int, constructS: Double,
      constructJobs: Long,
      planningS: Double, addBatchS: Double, error: Option[String])

  /** Run one stream over `drops`, feeding them into the watched directory:
    * every `intervalS` seconds (open loop) or, with `intervalS` = 0, one at
    * a time after the previous one is processed (closed loop). */
  def stream(spark: SparkSession, drops: Seq[Path], dir: Path, intervalS: Double,
      trace: Trace, tag: String): StreamRun = {
    val in = Files.createDirectories(dir.resolve("in"))
    val staging = Files.createDirectories(dir.resolve("staging"))
    val out = dir.resolve("out")
    val ckpt = dir.resolve("checkpoint")
    val jobs0 = trace.jobsSoFar()
    val (q, construct) = trace.span("stream.start", tag = tag)(_ =>
      Pipeline.ingestAndFeaturizeStream(spark, in.toString, out.toString, ckpt.toString,
        HrvExport.Lo, HrvExport.Hi, HrvExport.RollingN))
    val constructJobs = trace.jobsSoFar() - jobs0
    val due = new Array[Long](drops.length)
    val written = new Array[Long](drops.length)
    val base = epochNs() + 200000000L
    var error: Option[String] = None
    try {
      drops.zipWithIndex.foreach { case (d, i) =>
        if (intervalS > 0) {
          due(i) = base + (i * intervalS * 1e9).toLong
          val wait = (due(i) - epochNs()) / 1000000L
          if (wait > 0) Thread.sleep(wait)
        } else due(i) = epochNs()
        val staged = staging.resolve(d.getFileName)
        Files.copy(d, staged, StandardCopyOption.REPLACE_EXISTING)
        Files.move(staged, in.resolve(d.getFileName), StandardCopyOption.ATOMIC_MOVE)
        written(i) = epochNs()
        if (intervalS <= 0) q.processAllAvailable()
      }
      q.processAllAvailable()
    } catch {
      case e: Throwable => error = Some(Option(e.getMessage).getOrElse(e.toString))
    } finally q.stop()

    // drop file -> batch id, from the file source's log (plain and .compact)
    val srcLog = ckpt.resolve("sources").resolve("0")
    val batchOf = dataFiles(srcLog).flatMap(f => Files.readAllLines(f).asScala.drop(1))
      .map(Json.read)
      .map(m => new java.io.File(new java.net.URI(m("path").toString)).getName ->
        m("batchId").toString.toLong)
      .toMap
    def mtimeNs(p: Path): Option[Long] =
      if (Files.exists(p)) Some(Files.getLastModifiedTime(p).to(java.util.concurrent.TimeUnit.NANOSECONDS))
      else None
    val committed = batchOf.values.toSeq.distinct.flatMap(b =>
      mtimeNs(ckpt.resolve("commits").resolve(b.toString)).map(b -> _)).toMap
    val started = committed.keys.flatMap(b =>
      mtimeNs(ckpt.resolve("offsets").resolve(b.toString)).map(b -> _)).toMap
    val lat = drops.indices.flatMap { i =>
      batchOf.get(drops(i).getFileName.toString).flatMap(committed.get)
        .map(c => (c - due(i)) / 1e9)
    }
    val progress = q.recentProgress.toSeq
    def dur(k: String) = progress.flatMap(p => Option(p.durationMs.get(k))).map(_.longValue).sum / 1e3
    StreamRun(
      wallS = if (committed.isEmpty) Double.NaN else (committed.values.max - due.head) / 1e9,
      dropLatency = lat,
      batchDurations = committed.keys.toSeq.flatMap(b => started.get(b).map(s => (committed(b) - s) / 1e9)),
      lateness = drops.indices.map(i => (written(i) - due(i)) / 1e9),
      batches = committed.size,
      committedDrops = lat.length,
      constructS = construct.seconds,
      constructJobs = constructJobs,
      planningS = dur("queryPlanning"),
      addBatchS = dur("addBatch"),
      error = error)
  }

  /** Rows whose `f_*` columns differ between the stream's output and the
    * batch reference: (outside the caveat, under the caveat). */
  def featureDiff(spark: SparkSession, streamed: DataFrame, reference: DataFrame,
      caveat: DataFrame): (Long, Long) = {
    def side(df: DataFrame, p: String) =
      df.select(col("series_id") +: col("ts") +: FeatureCols.map(c => col(c).as(p + c)): _*)
    val j = side(streamed, "s_").join(side(reference, "r_"), Seq("series_id", "ts"), "full_outer")
    val same = FeatureCols.map(c => col("s_" + c) <=> col("r_" + c)).reduce(_ && _)
    val diff = j.filter(!same).select("series_id", "ts").cache()
    try (diff.join(caveat, Seq("series_id", "ts"), "left_anti").count(),
      diff.join(caveat, Seq("series_id", "ts"), "left_semi").count())
    finally diff.unpersist()
  }

  def run(spark: SparkSession, o: Opts, cores: Int, trace: Trace): Result = {
    val e = HrvBatchRun.export(spark, o)
    val drops = e.dropFiles
    val ref = o.work.resolve("reference")

    // warm-up: the batch reference, then a short closed-loop stream
    val (refSummary, tRef) = timed(HrvBatchRun.call(spark, e, ref))
    val warm = stream(spark, drops.take(WarmDrops), o.work.resolve("warm"), 0.0, trace, "")
    val warmupS = tRef + warm.constructS + warm.batchDurations.sum

    val intervalS = o.seconds / drops.length
    val measureDir = o.work.resolve("stream")
    val m = stream(spark, drops, measureDir, intervalS, trace, "")
    val traced = if (trace.enabled) {
      // the traced stream runs after the untraced one, on fresh directories
      trace.fence(); trace.listener.get.reset()
      val t = stream(spark, drops, o.work.resolve("stream_traced"), intervalS, trace, "stream")
      trace.fence()
      Some(t)
    } else None

    val out = measureDir.resolve("out")
    val streamed = spark.read.parquet(out.resolve("sample_features").toString)
    val quarantined = dataFiles(out.resolve("quarantine")).count(_.toString.endsWith(".parquet")) match {
      case 0 => 0L
      case _ => spark.read.parquet(out.resolve("quarantine").toString).count()
    }
    val reference = spark.read.parquet(ref.resolve("sample_features").toString)
    val refShifted =
      if (o.perturb) reference.withColumn("f_mean", col("f_mean") + 1.0) else reference
    val (outside, underCaveat) =
      featureDiff(spark, streamed, refShifted, HrvExport.keys(spark, e.caveatRows))
    val rows = streamed.count()
    val wrong = if (o.perturb) 1 else 0
    val checks = Seq(
      HrvBatchRun.summaryCheck(refSummary, HrvBatchRun.expected(e, o.perturb)),
      Check("stream.all_drops_committed",
        m.error.isEmpty && m.committedDrops == drops.length + wrong,
        s"${m.committedDrops}/${drops.length} drops committed in ${m.batches} micro-batches" +
          m.error.map(x => s"; error: $x").getOrElse("")),
      Check("stream.rows", rows == e.valid + wrong && quarantined == e.malformed,
        s"$rows feature rows (want ${e.valid}), $quarantined quarantined (want ${e.malformed})"),
      Check("stream.features_equal_batch", outside == 0L,
        s"$outside rows differ outside the caveat; $underCaveat caveat rows differ " +
          s"(${e.caveatRows.length} under the caveat)"))

    val (layers, traceDetail) = traced.map { t =>
      val c = trace.listener.get.sum(_ => true)
      val sinkDir = o.work.resolve("stream_traced").resolve("out")
      val tail = sinkDir.resolve("state_tail")
      val tailBatches = if (Files.exists(tail)) Files.list(tail).iterator().asScala.toSeq else Seq.empty
      val tailBytes = tailBatches.flatMap(dataFiles).map(Files.size).sum
      (layerBlock(c, 1, t.wallS, cores) ++ Map(
        "entry.construct_s" -> t.constructS,
        "entry.construct_jobs" -> t.constructJobs.toDouble,
        "plan.plan_s" -> t.planningS,
        "trace.traced_wall_s" -> t.wallS,
        "trace.untraced_wall_s" -> m.wallS),
       Map("trace_overhead_s" -> (t.wallS - m.wallS), "layers_pipeline" -> Map(
        "stream.jobs_per_batch" -> c.jobs.toDouble / math.max(1, t.batches),
        "stream.state_tail_mb" -> tailBytes / 1048576.0 / math.max(1, tailBatches.length),
        "stream.add_batch_s" -> t.addBatchS,
        "sink.files" -> (dataFiles(sinkDir.resolve("sample_features")).length +
          dataFiles(sinkDir.resolve("quarantine")).length),
        "shuffle.spill_mb" -> c.spillBytes / 1048576.0)))
    }.getOrElse((Map.empty[String, Double], Map.empty[String, Any]))

    Result(
      metrics = Map(
        "warmup_s" -> warmupS,
        "wall_s" -> m.wallS,
        "query_p50_s" -> pct(m.batchDurations, 0.5),
        "query_p90_s" -> pct(m.batchDurations, 0.9),
        "batch_latency_p50_s" -> pct(m.dropLatency, 0.5),
        "batch_latency_p75_s" -> pct(m.dropLatency, 0.75)),
      layers = layers,
      attempted = 1L + m.batches,
      failed = checks.count(!_.ok).toLong,
      checks = checks,
      detail = Map("export" -> HrvExport.record(e), "drops" -> drops.length,
        "interval_s" -> intervalS, "micro_batches" -> m.batches,
        "drop_samples" -> m.dropLatency.length,
        "generator_late_p50_s" -> median(m.lateness), "generator_late_max_s" -> m.lateness.max,
        "caveat_rows_differing" -> underCaveat) ++ traceDetail)
  }
}
