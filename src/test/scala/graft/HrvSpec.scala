package graft

import org.apache.spark.sql.functions._

import graft.operators.Hrv

class HrvSpec extends SparkSpecBase {
  import spark.implicits._

  // An RR-interval-ish series for user 1 with one absolute outlier (5000)
  // and one jump artifact (1300 after 800 > 20%), plus a clean user 2.
  private lazy val rr = Seq(
    (1L, 1L, 800.0), (1L, 2L, 810.0), (1L, 3L, 5000.0), (1L, 4L, 820.0),
    (1L, 5L, 790.0), (1L, 6L, 1300.0), (1L, 7L, 805.0),
    (2L, 8L, 600.0), (2L, 9L, 610.0))
    .toDF("user_id", "event_id", "value")
    .withColumn("ts", timestamp_seconds($"event_id"))

  private def flagged = Hrv.flagOutliers(rr, $"user_id", $"ts", $"event_id",
    $"value", lo = 300, hi = 2000)

  test("outlier flags catch artifacts but not the recovery samples after them") {
    val m = flagged.collect().map(r => r.getLong(1) -> r.getBoolean(4)).toMap
    assert(m(3L)) // 5000 out of bounds
    assert(m(6L)) // 1300 deviates >20% from the rolling median (~810)
    // the samples right after each artifact compare against a robust
    // median, so they are NOT flagged:
    assert(!m(4L) && !m(7L))
    assert(!m(1L) && !m(2L) && !m(5L) && !m(8L) && !m(9L))
  }

  test("interpolation replaces outliers with clean-neighbor means") {
    val got = Hrv.interpolateOutliers(flagged, $"user_id", $"ts", $"event_id", $"value")
      .collect().map(r => r.getLong(1) -> r.getDouble(5)).toMap
    assert(got(3L) == (810.0 + 820.0) / 2) // clean neighbors id2=810, id4=820
    assert(got(6L) == (790.0 + 805.0) / 2) // clean neighbors id5=790, id7=805
    assert(got(1L) == 800.0) // untouched
  }

  test("time-domain block: rmssd/sdnn/pnn on a hand-checked series") {
    val simple = Seq((9L, 1L, 100.0), (9L, 2L, 160.0), (9L, 3L, 130.0))
      .toDF("user_id", "event_id", "value")
      .withColumn("ts", timestamp_seconds($"event_id"))
    val r = Hrv.timeDomain(simple, $"user_id", $"ts", $"event_id", $"value")
      .collect().head
    assert(r.getLong(1) == 3)
    assert(math.abs(r.getDouble(2) - 130.0) < 1e-12) // mean
    assert(math.abs(r.getDouble(4) - math.sqrt((3600.0 + 900.0) / 2)) < 1e-12) // rmssd
    assert(math.abs(r.getDouble(5) - 0.5) < 1e-12) // |60|>50, |−30|≤50 → 1 of 2
  }

  test("timeDomain shuffles the series exactly once (window partitioning reused)") {
    // regression guard for the alias-before-window fix: the group-by after
    // the window must reuse the window's hash exchange, not add a second
    val plan = Hrv.timeDomain(rr, $"user_id", $"ts", $"event_id", $"value")
      .queryExecution.executedPlan.toString
    val exchanges = "(?i)exchange hashpartitioning".r.findAllIn(plan).size
    assert(exchanges == 1, s"expected 1 hash exchange, got $exchanges in:\n$plan")
  }

  test("poincare sd1 equals stddev(diffs)/sqrt(2)") {
    val simple = Seq((9L, 1L, 100.0), (9L, 2L, 160.0), (9L, 3L, 130.0))
      .toDF("user_id", "event_id", "value")
      .withColumn("ts", timestamp_seconds($"event_id"))
    val r = Hrv.poincare(simple, $"user_id", $"ts", $"event_id", $"value").collect().head
    // diffs: 60, -30 → var_samp = 4050 → sd1 = sqrt(2025) = 45
    assert(math.abs(r.getDouble(1) - 45.0) < 1e-9)
    assert(r.getDouble(2) > 0)
  }

  test("band power peaks at the true frequency of a synthetic sinusoid") {
    val n = 256
    val f0 = 0.25 // Hz
    val rows = (0 until n).map { i =>
      val t = i.toDouble // 1 Hz sampling
      (7L, i.toLong, math.sin(2 * math.Pi * f0 * t))
    }
    val df = rows.toDF("user_id", "event_id", "value")
      .withColumn("ts", timestamp_seconds($"event_id"))
    val r = Hrv.bandPower(df, $"user_id", $"ts", $"value",
      freqsHz = Seq(0.05, 0.25, 0.40)).collect().head
    val powers = Seq(r.getDouble(1), r.getDouble(2), r.getDouble(3))
    assert(powers(1) > powers(0) * 10 && powers(1) > powers(2) * 10,
      s"expected a peak at 0.25Hz, got $powers")
  }

  test("csi/cvi/modified-csi on a hand-checked series") {
    val simple = Seq((9L, 1L, 100.0), (9L, 2L, 160.0), (9L, 3L, 130.0))
      .toDF("user_id", "event_id", "value")
      .withColumn("ts", timestamp_seconds($"event_id"))
    val r = Hrv.csiCviCents(simple, $"user_id", $"ts", $"event_id", $"value")
      .collect().head
    // diffs 60,-30 → sd1 = 45; sums 260,290 → sd2 = 15
    assert(math.abs(r.getDouble(1) - 15.0 / 45.0) < 1e-12) // csi
    assert(math.abs(r.getDouble(2) - math.log10(45.0 * 15.0 * 16)) < 1e-12) // cvi
    assert(math.abs(r.getDouble(3) - 20.0) < 1e-12) // 4·15²/45
  }

  test("csi/cvi null out on a constant-diff (sd1 = 0) series, not infinity") {
    val flat = Seq((9L, 1L, 100.0), (9L, 2L, 110.0), (9L, 3L, 120.0))
      .toDF("user_id", "event_id", "value")
      .withColumn("ts", timestamp_seconds($"event_id"))
    val r = Hrv.csiCviCents(flat, $"user_id", $"ts", $"event_id", $"value")
      .collect().head
    assert(r.isNullAt(1) && r.isNullAt(2) && r.isNullAt(3))
  }

  test("triangular index: n over peak bin count, integer-rounded") {
    // cents 100,100,900 at 800-cent bins → bins 0,0,1 → HTI = 3/2 = 1.5
    val df = Seq((9L, 1L, 1.0), (9L, 2L, 1.0), (9L, 3L, 9.0))
      .toDF("user_id", "event_id", "value")
    val r = Hrv.triangularIndexCents(df, $"user_id", $"value").collect().head
    assert(r.getLong(1) == 3 && r.getLong(2) == 2 && r.getLong(3) == 2)
    assert(r.getDouble(4) == 1.5)
  }

  test("tinn: separable argmin picks the best triangle base, hand-checked") {
    // user 9: histogram over bins 10..14 = [3, 0, 1, 6, 2] (peak X=13, Y=6)
    //   left errors: E(10)=198/9=22, E(11)=52/4=13, E(12)=10/1=10 → N*=12
    //   right: only candidate M=14 → TINN = (14-12)·8 = 16.0
    // user 8: single-bin series → both sides collapse to X → TINN 0
    val vals = Seq(80.0, 81.0, 82.0, 96.0,
      104.0, 104.5, 105.0, 105.5, 106.0, 107.0, 112.0, 113.0)
    val df = (vals.zipWithIndex.map { case (v, i) => (9L, i.toLong, v) } ++
      Seq((8L, 100L, 50.0), (8L, 101L, 51.0)))
      .toDF("user_id", "event_id", "value")
    val rows = Hrv.tinnCents(df, $"user_id", $"value")
      .orderBy($"series_key").collect()
    val u8 = rows(0); val u9 = rows(1)
    assert(u9.getLong(1) == 12 && u9.getLong(2) == 13) // n, peak_bin
    assert(u9.getLong(3) == 12 && u9.getLong(4) == 14) // N*, M*
    assert(u9.getDouble(5) == 16.0)
    assert(u8.getLong(3) == 6 && u8.getLong(4) == 6 && u8.getDouble(5) == 0.0)
  }

  test("time extras: median/range/CVs/rates on a hand-checked series") {
    val simple = Seq((9L, 1L, 100.0), (9L, 2L, 160.0), (9L, 3L, 130.0))
      .toDF("user_id", "event_id", "value")
      .withColumn("ts", timestamp_seconds($"event_id"))
    val r = Hrv.timeExtrasCents(simple, $"user_id", $"ts", $"event_id", $"value")
      .collect().head
    assert(r.getDouble(2) == 130.0 && r.getDouble(3) == 60.0) // median, range
    assert(r.getDouble(4) == 0.2308) // sdnn 30 / mean 130, rounded
    assert(r.getDouble(5) == 0.3649) // rmssd 47.43… / mean 130
    // 6000/v half-up per sample: 60, 38, 46 → mean half-up(144/3) = 48
    assert(r.getDouble(6) == 0.48 && r.getDouble(7) == 0.38 && r.getDouble(8) == 0.60)
  }

  test("time extras: zero-valued samples are excluded from the rate lattice") {
    val withZero = Seq((9L, 1L, 0.0), (9L, 2L, 100.0))
      .toDF("user_id", "event_id", "value")
      .withColumn("ts", timestamp_seconds($"event_id"))
    val r = Hrv.timeExtrasCents(withZero, $"user_id", $"ts", $"event_id", $"value")
      .collect().head
    assert(r.getLong(1) == 2)          // n counts the zero sample
    assert(r.getDouble(6) == 0.60)     // mean_hr over the 1 nonzero sample
  }

  test("ectopic rules: Malik and Kamath integer thresholds") {
    // 100→160: +60% (both rules); 160→130: −18.75% (neither: Malik needs
    // >20%, Kamath fall needs >24.5%)
    val simple = Seq((9L, 1L, 100.0), (9L, 2L, 160.0), (9L, 3L, 130.0))
      .toDF("user_id", "event_id", "value")
      .withColumn("ts", timestamp_seconds($"event_id"))
    val r = Hrv.ectopicCents(simple, $"user_id", $"ts", $"event_id", $"value")
      .collect().head
    assert(r.getLong(1) == 2 && r.getLong(2) == 1 && r.getLong(3) == 1)
    assert(r.getDouble(4) == 0.5)
  }

  test("rolling rmssd windows the successive differences per sample") {
    val simple = Seq((9L, 1L, 100.0), (9L, 2L, 160.0), (9L, 3L, 130.0))
      .toDF("user_id", "event_id", "value")
      .withColumn("ts", timestamp_seconds($"event_id"))
    val rows = Hrv.rollingRmssdCents(simple, $"user_id", $"ts", $"event_id",
        $"value", window = 2)
      .orderBy($"_tb").collect()
    assert(rows(0).isNullAt(3))                       // no diff in frame
    assert(rows(1).getDouble(3) == 60.0)              // sqrt(6000²/1)/100
    assert(math.abs(rows(2).getDouble(3) - math.sqrt((36e6 + 9e6) / 2) / 100) < 1e-12)
  }

  test("rolling rmssd shuffles the series exactly once") {
    val plan = Hrv.rollingRmssdCents(rr, $"user_id", $"ts", $"event_id", $"value")
      .queryExecution.executedPlan.toString
    val exchanges = "(?i)exchange hashpartitioning".r.findAllIn(plan).size
    assert(exchanges == 1, s"expected 1 hash exchange, got $exchanges in:\n$plan")
  }

  test("sdann/sdnn-index on hand-checked daily segments") {
    // day 1: 100,160 → segment mean 130.00, sdnn 42.43 (floor(4242.64+.5));
    // day 2: 150 (single sample → no sdnn, mean 150.00)
    val df = Seq(
      (9L, "2024-01-01 10:00:00", 100.0), (9L, "2024-01-01 11:00:00", 160.0),
      (9L, "2024-01-02 10:00:00", 150.0))
      .toDF("user_id", "t", "value")
      .withColumn("ts", to_timestamp($"t"))
    val r = Hrv.sdannCents(df, $"user_id", $"ts", $"value").collect().head
    assert(r.getLong(1) == 2 && r.getLong(2) == 1)
    // sdann = sqrt((2·(13000²+15000²) − 28000²)/2)/100 = sqrt(2e6)/100
    assert(math.abs(r.getDouble(3) - math.sqrt(2e6) / 100) < 1e-12)
    assert(r.getDouble(4) == 42.43)
  }

  test("fused feature table equals the single-feature judged queries column for column") {
    // the fusion contract: one shuffle for ten features, same values as
    // the separately-judged queries produce
    val ft = graft.operators.TrainingData.hrvFeatureTable(spark, sf())
    val rmssd = graft.operators.TrainingData.hrvRmssd(spark, sf())
    val poinc = graft.operators.TrainingData.hrvPoincare(spark, sf())
    val csi = graft.operators.TrainingData.hrvCsiCvi(spark, sf())
    assert(ft.select($"series_key", $"n", $"mean_nn", $"sdnn", $"rmssd", $"pnn")
      .collect().toSeq == rmssd.collect().toSeq)
    assert(ft.select($"series_key", $"sd1", $"sd2").collect().toSeq ==
      poinc.select($"series_key", $"sd1", $"sd2").collect().toSeq)
    assert(ft.select($"series_key", $"csi", $"cvi", $"modified_csi")
      .collect().toSeq == csi.collect().toSeq)
  }

  test("fused feature table computes ten features in a single shuffle") {
    val plan = Hrv.featureTableCents(rr, $"user_id", $"ts", $"event_id", $"value")
      .queryExecution.executedPlan.toString
    val exchanges = "(?i)exchange hashpartitioning".r.findAllIn(plan).size
    assert(exchanges == 1, s"expected 1 hash exchange, got $exchanges in:\n$plan")
  }

  test("interp resampling brackets each tick and interpolates exactly on the lattice") {
    // samples at t=0s (10.00) and t=10s (30.00); 4s grid → ticks 0,4,8
    // tick 0: on the sample → 10.00; tick 4: 10 + 20·(4/10) = 18.00;
    // tick 8: 10 + 20·(8/10) = 26.00
    val df = Seq((1L, 0L, 10.0), (1L, 10L, 30.0))
      .toDF("user_id", "sec", "value")
      .withColumn("ts", timestamp_seconds($"sec"))
    val got = Hrv.resampleInterpCents(df, $"user_id", $"ts", $"value", 4)
      .orderBy($"ts").collect().map(_.getDouble(2)).toSeq
    assert(got == Seq(10.0, 18.0, 26.0))
  }

  test("interp resampling half-ups a non-terminating rational onto the cent grid") {
    // samples 10.00 at t=0 and 10.01 at t=3; tick at t=1 → 10 + 0.01/3
    // = 1000.333… cents → half-up 1000 → 10.00; tick t=2 → 1000.67 →
    // 1001 → 10.01
    val df = Seq((1L, 0L, 10.0), (1L, 3L, 10.01))
      .toDF("user_id", "sec", "value")
      .withColumn("ts", timestamp_seconds($"sec"))
    val got = Hrv.resampleInterpCents(df, $"user_id", $"ts", $"value", 1)
      .orderBy($"ts").collect().map(_.getDouble(2)).toSeq
    assert(got == Seq(10.0, 10.0, 10.01, 10.01))
  }

  test("resample produces a uniform grid with last-observation-carried-forward") {
    val df = Seq(
      (1L, 0L, 10.0), (1L, 3L, 30.0), (1L, 10L, 99.0), // samples at t=0,3,10s
      (2L, 100L, 5.0))
      .toDF("user_id", "sec", "value")
      .withColumn("ts", timestamp_seconds($"sec"))
    val got = Hrv.resample(df, $"user_id", $"ts", $"value", stepSeconds = 2)
      .filter($"series_key" === 1)
      .orderBy($"ts")
      .collect().map(r => r.getDouble(2))
    // grid at 0,2,4,6,8,10s → carried values 10,10,30,30,30,99
    assert(got.toSeq == Seq(10.0, 10.0, 30.0, 30.0, 30.0, 99.0))
    val single = Hrv.resample(df, $"user_id", $"ts", $"value", stepSeconds = 2)
      .filter($"series_key" === 2).collect()
    assert(single.length == 1 && single.head.getDouble(2) == 5.0)
  }

  test("resample carries the larger value on an exact-timestamp tie and skips null samples") {
    // duplicate timestamp at t=4s: larger value (40.0) must carry, and a
    // null-valued sample at t=6s must be skipped, matching last(ignoreNulls)
    val df = Seq(
      (1L, 0L, Some(10.0)), (1L, 3L, Some(30.0)), (1L, 4L, Some(40.0)),
      (1L, 4L, Some(35.0)), (1L, 6L, None), (1L, 10L, Some(99.0)),
      (2L, 100L, Some(5.0)))
      .toDF("user_id", "sec", "value")
      .withColumn("ts", timestamp_seconds($"sec"))
    val got = Hrv.resample(df, $"user_id", $"ts", $"value", stepSeconds = 2)
      .filter($"series_key" === 1)
      .orderBy($"ts").collect().map(_.getDouble(2))
    // grid at 0,2,4,6,8,10s → carried values 10,10,40,40,40,99
    assert(got.toSeq == Seq(10.0, 10.0, 40.0, 40.0, 40.0, 99.0))
  }

  test("full pipeline runs on the events table") {
    val cleaned = Hrv.interpolateOutliers(
      Hrv.flagOutliers(Tables.events(spark, sf()), $"user_id", $"ts", $"event_id",
        $"value", lo = 0, hi = 1000),
      $"user_id", $"ts", $"event_id", $"value")
    val features = Hrv.timeDomain(cleaned, $"user_id", $"ts", $"event_id", $"value_clean")
    assert(features.count() == 15) // one row per user at sf0.001
    assert(features.filter($"rmssd".isNull || $"sdnn".isNull).count() == 0)
  }
}
