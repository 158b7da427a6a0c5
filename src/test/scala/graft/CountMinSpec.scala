package graft

import org.apache.spark.sql.functions._

import graft.functions.CountMin

/** Count-Min sketch aggregate (§2.12 sketch family, round 9): the
  * one-sided error contract, lossless merge, persistence round-trip,
  * SQL surface, map-side combine shape, and the skew-detection use the
  * sketch exists for. All deterministic — fixed hash seeds make
  * sketches bit-identical across runs and merge orders. */
class CountMinSpec extends SparkSpecBase {
  import spark.implicits._

  test("never undercounts, and overcounts within the d/w error bound") {
    val e = Tables.events(spark, sf())
    val n = e.count()
    val exact = e.groupBy($"user_id").agg(count(lit(1)).as("c"))
    val sketch = e.agg(CountMin.cmsSketch($"user_id").as("sk"))
    val probed = exact.crossJoin(sketch)
      .select($"user_id", $"c",
        CountMin.cmsEstimate($"sk", $"user_id").as("est"))
      .collect()
    assert(probed.nonEmpty)
    probed.foreach { r =>
      val (c, est) = (r.getLong(1), r.getLong(2))
      assert(est >= c, s"undercount for user ${r.get(0)}: est=$est < c=$c")
      // standard CM bound: overcount ≤ 2N/w with prob 1−2^−d; with d=4
      // rows the min over rows is far tighter in practice — assert the
      // loose deterministic-data bound
      assert(est <= c + 2 * n / CountMin.W + 1,
        s"overcount beyond bound for user ${r.get(0)}: est=$est c=$c n=$n")
    }
  }

  test("per-group sketches persisted, read back, merged == direct sketch") {
    val e = Tables.events(spark, sf())
    val dir = java.nio.file.Files.createTempDirectory("cms").toString + "/sk"
    e.groupBy($"event_type")
      .agg(CountMin.cmsSketch($"user_id").as("sk"))
      .write.parquet(dir)
    val merged = spark.read.parquet(dir)
      .agg(CountMin.cmsMerge($"sk").as("sk")).collect().head.getAs[Array[Byte]](0)
    val direct = e.agg(CountMin.cmsSketch($"user_id").as("sk"))
      .collect().head.getAs[Array[Byte]](0)
    assert(java.util.Arrays.equals(merged, direct),
      "counter-add merge must be bit-identical to sketching the union")
  }

  test("SQL surface: sketch, merge, estimate; arity guarded") {
    val s = enrichedSession()
    Tables.events(s, sf()).createOrReplaceTempView("events")
    val est = s.sql(
      """SELECT graft_cms_estimate(graft_cms_sketch(user_id), 3L) AS e
        |FROM events""".stripMargin).as[Long].head
    val exact = Tables.events(spark, sf())
      .filter($"user_id" === 3).count()
    assert(est >= exact)
    val err = intercept[org.apache.spark.sql.AnalysisException] {
      s.sql("SELECT graft_cms_estimate(x'00') FROM events").collect()
    }
    assert(err.getMessage.toLowerCase.contains("graft_cms_estimate"))
  }

  test("null values are skipped; null sketch/probe propagate null") {
    val sk = Seq(Some(1L), None, Some(1L)).toDF("v")
      .agg(CountMin.cmsSketch($"v").as("sk"))
    val r = sk.select(CountMin.cmsEstimate($"sk", lit(1L)).as("e"),
      CountMin.cmsEstimate($"sk", lit(null).cast("long")).as("n")).collect().head
    assert(r.getLong(0) == 2L, "two non-null rows of value 1")
    assert(r.isNullAt(1))
    // wrong sketch width fails loudly, never mis-estimates
    val bad = intercept[Exception] {
      Seq(Array[Byte](1, 2, 3)).toDF("sk")
        .select(CountMin.cmsEstimate($"sk", lit(1L))).collect()
    }
    assert(bad.getMessage.contains("bytes"))
  }

  test("map-side combine: partial aggregation present in the plan") {
    val plan = Tables.events(spark, sf())
      .agg(CountMin.cmsSketch($"user_id"))
      .queryExecution.executedPlan.toString
    assert(plan.contains("partial_graft_cms_sketch"),
      s"sketch must combine map-side:\n$plan")
  }

  test("skew detection: a planted hot key probes far above uniform keys") {
    val uniform = (1L to 2000L).map(i => i % 100)
    val hot = Seq.fill(5000)(7L)
    val df = (uniform ++ hot).toDF("k")
    val sk = df.agg(CountMin.cmsSketch($"k").as("sk"))
    val est = sk.select(
      CountMin.cmsEstimate($"sk", lit(7L)).as("hot"),
      CountMin.cmsEstimate($"sk", lit(8L)).as("cold")).collect().head
    assert(est.getLong(0) >= 5000L)
    assert(est.getLong(1) < 100L,
      "a cold key must not absorb the hot key's mass at d=4")
  }

  test("agg_cms_freq: the judged per-year-sketch/merge/probe pipeline is exact") {
    // the judged query's whole claim is the exact regime: the CMS
    // estimate for every (status, priority) key equals the plain
    // GROUP BY count, through the per-year sketch + merge path
    val est = graft.operators.Relational.aggCmsFreq(spark, sf())
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    val exact = Tables.orders(spark, sf())
      .groupBy($"o_orderstatus", $"o_orderpriority").count()
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(est == exact)
    assert(est.nonEmpty)
  }
}
