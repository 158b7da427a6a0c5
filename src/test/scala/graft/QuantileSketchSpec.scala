package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.GraftBridge

import graft.functions.QuantileSketch

/** Mergeable quantile sketch (§2.12 sketch family, round 9): the
  * relative-error contract vs exact nearest-rank quantiles, lossless
  * bit-identical merge, persistence round-trip, SQL surface, sign/zero
  * handling, saturation, and map-side combine shape. Deterministic —
  * the bucket index is a pure function of the value, so sketches are
  * bit-identical across runs and merge orders. */
class QuantileSketchSpec extends SparkSpecBase {
  import spark.implicits._

  private def exactNearestRank(sorted: Array[Double], q: Double): Double =
    sorted(math.max(1, math.ceil(q * sorted.length).toInt) - 1)

  test("estimates within the alpha relative-error bound vs exact ranks") {
    val e = Tables.events(spark, sf())
    val sk = e.agg(QuantileSketch.quantileSketch($"value").as("sk"))
    val sorted = e.select($"value").as[Double].collect().sorted
    for (q <- Seq(0.01, 0.1, 0.5, 0.9, 0.99)) {
      val est = sk.select(
        QuantileSketch.quantileEstimate($"sk", lit(q))).as[Double].head
      val exact = exactNearestRank(sorted, q)
      assert(math.abs(est - exact) <= QuantileSketch.Alpha * math.abs(exact) + 1e-12,
        s"q=$q est=$est exact=$exact")
    }
  }

  test("per-group sketches persisted, read back, merged == direct sketch") {
    val e = Tables.events(spark, sf())
    val dir = java.nio.file.Files.createTempDirectory("qsk").toString + "/sk"
    e.groupBy($"event_type")
      .agg(QuantileSketch.quantileSketch($"value").as("sk"))
      .write.parquet(dir)
    val merged = spark.read.parquet(dir)
      .agg(GraftBridge.column(QuantileSketch.QMergeAgg(GraftBridge.expression($"sk"))
        .toAggregateExpression()).as("sk"))
      .collect().head.getAs[Array[Byte]](0)
    val direct = e.agg(QuantileSketch.quantileSketch($"value").as("sk"))
      .collect().head.getAs[Array[Byte]](0)
    assert(java.util.Arrays.equals(merged, direct),
      "bucket-add merge must be bit-identical to sketching the union")
  }

  test("SQL surface: sketch, merge, estimate; arity guarded") {
    val s = enrichedSession()
    Tables.events(s, sf()).createOrReplaceTempView("events")
    val med = s.sql(
      """SELECT graft_quantile_estimate(graft_quantile_sketch(value), 0.5) AS m
        |FROM events""".stripMargin).as[Double].head
    val exact = exactNearestRank(
      Tables.events(spark, sf()).select($"value").as[Double].collect().sorted, 0.5)
    assert(math.abs(med - exact) <= QuantileSketch.Alpha * exact + 1e-12)
    val err = intercept[org.apache.spark.sql.AnalysisException] {
      s.sql("SELECT graft_quantile_estimate(x'00') FROM events").collect()
    }
    assert(err.getMessage.toLowerCase.contains("graft_quantile_estimate"))
  }

  test("signs, zeros, and sub-epsilon values walk in correct value order") {
    val df = Seq(-100.0, -1.0, 0.0, 1e-12, 2.0, 300.0).toDF("v")
    val sk = df.agg(QuantileSketch.quantileSketch($"v").as("sk"))
    val r = sk.select(
      QuantileSketch.quantileEstimate($"sk", lit(0.0)).as("q0"),
      QuantileSketch.quantileEstimate($"sk", lit(0.5)).as("q50"),
      QuantileSketch.quantileEstimate($"sk", lit(1.0)).as("q100"))
      .collect().head
    assert(math.abs(r.getDouble(0) + 100.0) <= 1.0, s"min ~ -100, got ${r.getDouble(0)}")
    // rank ceil(0.5*6)=3 → the zero bucket (0.0 and 1e-12 both land there)
    assert(r.getDouble(1) == 0.0, s"median of the 6-value set is the zero bucket")
    assert(math.abs(r.getDouble(2) - 300.0) <= 3.0, s"max ~ 300, got ${r.getDouble(2)}")
  }

  test("nulls and NaNs skipped; empty and null sketches yield null") {
    val sk = Seq(Some(5.0), None, Some(Double.NaN), Some(5.0)).toDF("v")
      .agg(QuantileSketch.quantileSketch($"v").as("sk"))
    val r = sk.select(
      QuantileSketch.quantileEstimate($"sk", lit(0.5)).as("m"),
      QuantileSketch.quantileEstimate(lit(null).cast("binary"), lit(0.5)).as("n"))
      .collect().head
    assert(math.abs(r.getDouble(0) - 5.0) <= 0.05, "only the two 5.0 rows count")
    assert(r.isNullAt(1))
    val empty = Seq.empty[Double].toDF("v")
      .agg(QuantileSketch.quantileSketch($"v").as("sk"))
      .select(QuantileSketch.quantileEstimate($"sk", lit(0.5)))
      .collect().head
    assert(empty.isNullAt(0), "empty sketch has no quantiles")
    val bad = intercept[Exception] {
      Seq(Array[Byte](1, 2, 3)).toDF("sk")
        .select(QuantileSketch.quantileEstimate($"sk", lit(0.5))).collect()
    }
    assert(bad.getMessage.contains("bytes"))
  }

  test("values beyond the bucket range saturate instead of failing") {
    val sk = Seq(1e12, 1e12, 1e12).toDF("v")
      .agg(QuantileSketch.quantileSketch($"v").as("sk"))
    val est = sk.select(QuantileSketch.quantileEstimate($"sk", lit(0.5)))
      .as[Double].head
    val top = QuantileSketch.representative(QuantileSketch.MaxIdx)
    assert(est == top, s"out-of-range values clamp to the top bucket ($top)")
  }

  test("EXACT regime: round(estimate) recovers integer values 1..49 exactly") {
    // the agg_quantile_sketch judged contract: integers 1..49 occupy
    // distinct γ-buckets (adjacent integers differ by ≥ 1 bucket index
    // for v ≤ 49 at α = 1%) and each bucket representative sits within
    // α·v ≤ 0.49 < 0.5 of its integer, so round() is lossless. Walk a
    // skewed multiset to exercise duplicate-heavy ranks.
    val values = (1 to 49).flatMap(v => Seq.fill(1 + v % 7)(v.toDouble))
    val df = values.toDF("v")
    val sk = df.agg(QuantileSketch.quantileSketch($"v").as("sk"))
    val sorted = values.toArray.sorted
    for (q <- Seq(0.0, 0.1, 0.25, 0.33, 0.5, 0.75, 0.9, 0.99, 1.0)) {
      val est = sk.select(
        QuantileSketch.quantileEstimate($"sk", lit(q))).as[Double].head
      val exact = exactNearestRank(sorted, q)
      assert(math.round(est).toDouble == exact,
        s"q=$q: round($est) must equal exact nearest-rank $exact")
    }
  }

  test("map-side combine: partial aggregation present in the plan") {
    val plan = Tables.events(spark, sf())
      .agg(QuantileSketch.quantileSketch($"value"))
      .queryExecution.executedPlan.toString
    assert(plan.contains("partial_graft_quantile_sketch"),
      s"sketch must combine map-side:\n$plan")
  }
}
