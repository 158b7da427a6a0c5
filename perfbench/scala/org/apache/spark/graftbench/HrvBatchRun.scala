package org.apache.spark.graftbench

import java.nio.file.Path

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{median => _, _}

import graft.Pipeline
import graft.operators.{Features, Hrv}
import graft.sources.Ingest

import org.apache.spark.graftbench.Harness._

/** Workload `hrv_batch`: `graft.Pipeline.ingestAndFeaturize` over a seeded
  * device export of long RR series (`Series` series of `Samples` samples).
  * Two untimed warm-up calls, then calls back to back for the measured
  * seconds; every call's `Summary` and the last call's cleaned samples are
  * checked against what the generator planted.
  *
  * The traced run adds calls under a listener, then times the pipeline's
  * stages by prefix: the public `Ingest`/`Hrv`/`Features` calls composed as
  * `Pipeline` composes them, each prefix forced with a `noop` sink. A
  * stage's self time is its prefix minus the one it extends, and the
  * composition's output must equal the pipeline's.
  */
object HrvBatchRun {
  val Series = 8
  val Samples = 1250
  val Drops = 40

  /** (series, samples, drops) at the run's size. */
  def shape(o: Opts): (Int, Int, Int) = if (o.tiny) (4, 300, 8) else (Series, Samples, Drops)

  def export(spark: SparkSession, o: Opts): HrvExport.Export = {
    val (s, n, d) = shape(o)
    HrvExport.generate(spark, o.seed, s, n, d, o.work.resolve("export"))
  }

  def call(spark: SparkSession, e: HrvExport.Export, out: Path): Pipeline.Summary =
    Pipeline.ingestAndFeaturize(spark, e.exportCsv.toString, out.toString,
      HrvExport.Lo, HrvExport.Hi, HrvExport.RollingN)

  def expected(e: HrvExport.Export, perturb: Boolean): Pipeline.Summary =
    Pipeline.Summary(validRows = e.valid + (if (perturb) 1 else 0),
      quarantinedRows = e.malformed, series = e.series, featureRows = e.valid)

  /** Every planted artifact is present in the output, flagged, and its
    * `value_clean` is a plausible value, not the artifact. A perturbed run
    * also lists one clean sample as an artifact, which must fail. */
  def artifactCheck(spark: SparkSession, e: HrvExport.Export, out: Path,
      perturb: Boolean): Check = {
    val planted = if (perturb) e.artifacts :+ e.firstClean else e.artifacts
    val feats = spark.read.parquet(out.resolve("sample_features").toString)
    val joined = HrvExport.keys(spark, planted).join(feats, Seq("series_id", "ts"), "left")
    val bad = joined.filter(col("value").isNull || !col("is_outlier") ||
      col("value_clean") === col("value") ||
      col("value_clean") < HrvExport.Lo || col("value_clean") > HrvExport.Hi).count()
    Check("hrv.artifacts_cleaned", bad == 0L, s"${planted.length} planted, $bad survived")
  }

  def summaryCheck(got: Pipeline.Summary, want: Pipeline.Summary): Check =
    Check("hrv.summary", got == want, s"got $got, want $want")

  /** Rows of `a` not in `b` plus rows of `b` not in `a`. */
  def diffRows(a: DataFrame, b: DataFrame): Long =
    a.exceptAll(b).count() + b.exceptAll(a).count()

  private def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  def run(spark: SparkSession, o: Opts, cores: Int, trace: Trace): Result = {
    val e = export(spark, o)
    val want = expected(e, o.perturb)
    var attempted = 0L
    var failedCalls = 0L
    val summaryFails = Seq.newBuilder[Check]
    def checkedCall(out: Path): Double = {
      attempted += 1
      try {
        val (s, t) = timed(call(spark, e, out))
        val c = summaryCheck(s, want)
        if (!c.ok) summaryFails += c
        t
      } catch {
        case ex: Throwable =>
          failedCalls += 1
          System.err.println(s"[graftbench] pipeline call failed: ${ex.getMessage}")
          Double.NaN
      }
    }

    // two untimed calls: after one, the calls that follow still speed up
    val warmupS = Seq.fill(2)(checkedCall(o.work.resolve("warm"))).sum
    val out = o.work.resolve("out")
    val walls = repeatFor(o.seconds)(checkedCall(out)).filterNot(_.isNaN)
    val artifacts = artifactCheck(spark, e, out, o.perturb)

    var layers = Map.empty[String, Double]
    var traceDetail = Map.empty[String, Any]
    var traceChecks = Seq.empty[Check]
    if (trace.enabled) {
      val l = trace.listener.get
      trace.fence(); l.reset()
      val tOut = o.work.resolve("traced")
      var n = 0
      val traced = repeatFor(o.seconds) {
        n += 1
        trace.span("pipeline.call", tag = s"call:$n")(_ => checkedCall(tOut))._1
      }.filterNot(_.isNaN)
      trace.fence()
      val calls = l.sum(_.startsWith(Trace.TagPrefix + "call:"))
      val tracedWall = median(traced)
      val (stages, comp) = composition(spark, e, o, trace)
      traceChecks = Seq(comp)
      val sinkFiles = dataFiles(tOut.resolve("sample_features")).length +
        dataFiles(tOut.resolve("quarantine")).length
      layers = layerBlock(calls, traced.length, tracedWall, cores) ++ Map(
        "entry.construct_s" -> stages("construct"),
        "entry.construct_jobs" ->
          l.sum(_.endsWith(":stage:construct")).jobs / stages("rounds"),
        "plan.plan_s" -> stages("plan"),
        "trace.traced_wall_s" -> tracedWall,
        "trace.untraced_wall_s" -> median(walls))
      traceDetail = Map(
        "traced_calls" -> traced.length,
        "trace_overhead_s" -> (tracedWall - median(walls)),
        "layers_pipeline" -> Map(
          "ingest.read_s" -> stages("ingest"),
          "ingest.scan_ratio" -> calls.inputBytes.toDouble / traced.length / e.exportBytes,
          "hrv.clean_s" -> stages("clean"),
          "hrv.series_s" -> stages("series"),
          "features.rolling_s" -> stages("rolling"),
          "sink.write_s" -> stages("sink"),
          "sink.files" -> sinkFiles,
          "shuffle.spill_mb" -> calls.spillBytes / 1048576.0 / traced.length))
    }

    val checks = summaryFails.result().headOption.getOrElse(Check("hrv.summary", true,
      s"$attempted calls, want $want")) +: artifacts +: traceChecks
    Result(
      metrics = Map(
        "warmup_s" -> warmupS,
        "wall_s" -> median(walls),
        "query_p50_s" -> pct(walls, 0.5),
        "query_p90_s" -> pct(walls, 0.9),
        "batch_latency_p50_s" -> pct(walls, 0.5),
        "batch_latency_p75_s" -> pct(walls, 0.75)),
      layers = layers,
      attempted = attempted,
      failed = failedCalls + checks.count(!_.ok),
      checks = checks,
      detail = Map("export" -> HrvExport.record(e), "calls" -> walls.length,
        "call_walls" -> walls) ++ traceDetail)
  }

  /** Stage self times (median over rounds) from noop-forced prefixes, and
    * the check that the composition writes what the pipeline writes. */
  private def composition(spark: SparkSession, e: HrvExport.Export, o: Opts,
      trace: Trace): (Map[String, Double], Check) = {
    val csv = e.exportCsv.toString
    val cOut = o.work.resolve("composed")
    def ingest() = {
      val raw = Ingest.readCsv(spark, csv, Pipeline.rawSchema)
      val (valid, bad) = Ingest.partitionValid(raw)
      (raw, valid, bad)
    }
    def clean(valid: DataFrame) = Hrv.interpolateOutliers(
      Hrv.flagOutliers(valid, col("series_id"), col("ts"), col("ts"), col("value"),
        HrvExport.Lo, HrvExport.Hi),
      col("series_id"), col("ts"), col("ts"), col("value"))
    def roll(cleaned: DataFrame) = Features.rollingByRows(cleaned, col("series_id"),
      col("ts"), col("ts"), col("value_clean"), HrvExport.RollingN)
      .withColumn("day", to_date(col("ts")))
    def series(rolling: DataFrame) =
      Hrv.timeDomain(rolling, col("series_id"), col("ts"), col("ts"), col("value_clean"))
        .join(Hrv.poincare(rolling, col("series_id"), col("ts"), col("ts"),
          col("value_clean")), Seq("series_key"), "left_outer")

    def forced(name: String, parent: Long)(build: => DataFrame): Double =
      trace.span(name, parent, s"stage:$name") { _ =>
        val df = build
        df.queryExecution.executedPlan
        noop(df)
      }._2.seconds

    val rounds = repeatFor(o.seconds, atLeast = 1) {
        trace.span("composition.round") { rid =>
          val tIngest = trace.span("ingest", rid, "stage:ingest") { _ =>
            val (raw, valid, _) = ingest()
            noop(valid)
            Ingest.counts(raw)
          }._2.seconds
          val tClean = forced("clean", rid)(clean(ingest()._2))
          val tRoll = forced("rolling", rid)(roll(clean(ingest()._2)))
          val tSink = trace.span("sink", rid, "stage:sink") { _ =>
            val (_, valid, bad) = ingest()
            bad.write.mode("overwrite").parquet(cOut.resolve("quarantine").toString)
            Ingest.writePartitioned(roll(clean(valid)), cOut.resolve("sample_features").toString,
              Seq("day"))
          }._2.seconds
          val tSeries = forced("series", rid)(series(roll(clean(ingest()._2))))
          // construction and planning of the whole composition, once
          val (full, construct) = trace.span("construct", rid, "stage:construct")(_ =>
            series(roll(clean(ingest()._2))))
          val (_, tPlan) = timed(full.queryExecution.executedPlan)
          Map("ingest" -> tIngest, "clean" -> (tClean - tIngest),
            "rolling" -> (tRoll - tClean), "sink" -> (tSink - tRoll),
            "series" -> (tSeries - tRoll), "construct" -> construct.seconds, "plan" -> tPlan)
        }._1
    }
    val stages = rounds.head.keys.map(k => k -> median(rounds.map(_(k)))).toMap +
      ("rounds" -> rounds.length.toDouble)

    // the composition's tables equal the pipeline's (last traced call)
    series(roll(clean(ingest()._2))).write.mode("overwrite")
      .parquet(cOut.resolve("series_features").toString)
    val ref = o.work.resolve("traced")
    val diffs = Seq("sample_features", "series_features", "quarantine").map { t =>
      val mine = spark.read.parquet(cOut.resolve(t).toString)
      val theirs = spark.read.parquet(ref.resolve(t).toString)
      t -> diffRows(if (o.perturb) mine.limit(0) else mine, theirs)
    }
    (stages, Check("hrv.composition_equals_pipeline", diffs.forall(_._2 == 0L),
      diffs.map { case (t, d) => s"$t: $d rows differ" }.mkString(", ")))
  }
}
