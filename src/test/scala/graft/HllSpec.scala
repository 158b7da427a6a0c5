package graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.GraftBridge

import graft.functions.Hll

/** Property suite for the hand-built HLL TypedImperativeAggregate
  * (functions/Hll.scala): estimates vs exact countDistinct, sketch
  * persistence + re-merge losslessness, SQL registration.
  * p=12 → theoretical relative error ~1.6%; assertions allow 5%.
  */
class HllSpec extends SparkSpecBase {
  import spark.implicits._

  /** The graft_hll_estimate expression over a sketch column. */
  private def estimate(c: Column): Column =
    GraftBridge.column(Hll.HllEstimate(GraftBridge.expression(c)))

  /** The graft_hll_sketch and graft_hll_merge aggregates. */
  private def sketch(c: Column): Column = GraftBridge.column(
    Hll.HllSketchAgg(Hll.hash64(GraftBridge.expression(c))).toAggregateExpression())
  private def merge(c: Column): Column = GraftBridge.column(
    Hll.HllMergeAgg(GraftBridge.expression(c)).toAggregateExpression())

  private def relErr(approx: Long, exact: Long): Double =
    math.abs(approx.toDouble - exact) / math.max(exact, 1L)

  test("estimate within 5% of exact countDistinct across cardinalities") {
    for (n <- Seq(10, 1000, 50000)) {
      val df = spark.range(0L, n.toLong).select(concat(lit("user_"), $"id").as("u"))
      val row = df.agg(
        Hll.hll($"u").as("approx"),
        countDistinct($"u").as("exact")).collect().head
      val (a, e) = (row.getLong(0), row.getLong(1))
      assert(relErr(a, e) < 0.05, s"n=$n approx=$a exact=$e")
    }
  }

  test("estimate on a real judged column (events.user_id)") {
    val row = Tables.events(spark, sf())
      .agg(Hll.hll($"user_id").as("a"), countDistinct($"user_id").as("e"))
      .collect().head
    assert(relErr(row.getLong(0), row.getLong(1)) < 0.05)
  }

  test("per-group sketches persisted then merged equal the direct estimate") {
    val ev = Tables.events(spark, sf())
    // per-event_type sketches — the "one sketch per partition/day" shape
    val sketches = ev.groupBy($"event_type")
      .agg(sketch($"user_id").as("sk"))
    assert(sketches.count() == 5)
    // round-trip through parquet: sketch is a plain binary column
    val dir = java.nio.file.Files.createTempDirectory("hll").toString
    sketches.write.mode("overwrite").parquet(dir)
    val merged = spark.read.parquet(dir)
      .agg(merge($"sk").as("m")).collect().head.getLong(0)
    val direct = ev.agg(Hll.hll($"user_id")).collect().head.getLong(0)
    // union of per-group sketches is LOSSLESS: must equal direct exactly
    assert(merged == direct, s"merged=$merged direct=$direct")
  }

  test("merge across a subset of sketches answers subset cardinality") {
    val ev = Tables.events(spark, sf())
    val sketches = ev.groupBy($"event_type").agg(sketch($"user_id").as("sk"))
    val subset = Seq("click", "view")
    val approx = sketches.filter($"event_type".isin(subset: _*))
      .agg(merge($"sk")).collect().head.getLong(0)
    val exact = ev.filter($"event_type".isin(subset: _*))
      .select(countDistinct($"user_id")).collect().head.getLong(0)
    assert(relErr(approx, exact) < 0.05, s"approx=$approx exact=$exact")
  }

  test("SQL registration: graft_hll / graft_hll_sketch / graft_hll_merge") {
    val s = spark.newSession()
    Hll.register(s)
    Tables.events(s, sf()).createOrReplaceTempView("hll_events")
    val a = s.sql("SELECT graft_hll(user_id) FROM hll_events").collect().head.getLong(0)
    val viaSketch = s.sql(
      """SELECT graft_hll_merge(sk) FROM
        |  (SELECT graft_hll_sketch(user_id) AS sk FROM hll_events GROUP BY event_type)
        |""".stripMargin).collect().head.getLong(0)
    assert(a == viaSketch)
    val exact = s.sql("SELECT count(DISTINCT user_id) FROM hll_events")
      .collect().head.getLong(0)
    assert(relErr(a, exact) < 0.05)
  }

  test("nulls are excluded, matching count(DISTINCT) semantics") {
    val df = Seq(Some("a"), Some("b"), None, None).toDF("v")
    val row = df.agg(Hll.hll($"v").as("h"), countDistinct($"v").as("e"))
      .collect().head
    assert(row.getLong(0) == 2L && row.getLong(1) == 2L,
      s"hll=${row.getLong(0)} exact=${row.getLong(1)}")
    // estimate of a persisted null sketch is null, wrong width fails loudly
    val withNull = Seq(Tuple1(Option.empty[Array[Byte]])).toDF("sk")
    assert(withNull.select(estimate($"sk")).collect().head.isNullAt(0))
    val bad = Seq(Tuple1(Array[Byte](1, 2, 3))).toDF("sk")
    val e = intercept[Exception](bad.select(estimate($"sk")).collect())
    assert(e.getMessage != null)
  }

  test("graft_hll_estimate: native expression, SQL round-trip, arity guard") {
    val s = spark.newSession()
    Hll.register(s)
    Tables.events(s, sf()).createOrReplaceTempView("hll_events")
    // decode of a persisted sketch equals the merge-of-one estimate
    val viaExpr = s.sql(
      """SELECT graft_hll_estimate(sk) FROM
        |  (SELECT graft_hll_sketch(user_id) AS sk FROM hll_events)
        |""".stripMargin).collect().head.getLong(0)
    val direct = s.sql("SELECT graft_hll(user_id) FROM hll_events")
      .collect().head.getLong(0)
    assert(viaExpr == direct, s"expr=$viaExpr direct=$direct")
    // the decode path is a native expression, never a UDF
    val plan = Tables.events(spark, sf())
      .groupBy($"event_type").agg(sketch($"user_id").as("sk"))
      .select(estimate($"sk"))
      .queryExecution.executedPlan.toString
    assert(!plan.contains("BatchEvalPython") && !plan.toLowerCase.contains("scalaudf"),
      plan.take(2000))
    // extra arguments fail at analysis time instead of being dropped
    for (fn <- Seq("graft_hll", "graft_hll_sketch", "graft_hll_merge",
        "graft_hll_estimate")) {
      val e = intercept[org.apache.spark.sql.AnalysisException](
        s.sql(s"SELECT $fn(user_id, event_type) FROM hll_events").collect())
      assert(e.getMessage.contains("1"), s"$fn: ${e.getMessage}")
    }
  }

  test("map-side combine shape: partial aggregation present in the plan") {
    val plan = Tables.events(spark, sf())
      .groupBy($"event_type").agg(Hll.hll($"user_id"))
      .queryExecution.executedPlan.toString
    // ObjectHashAggregate partial + final — the TypedImperativeAggregate path
    assert(plan.contains("ObjectHashAggregate"), plan.take(2000))
  }

  test("deterministic: same input twice gives identical estimate") {
    val d1 = Tables.documents(spark, sf()).agg(Hll.hll($"text")).collect().head.getLong(0)
    val d2 = Tables.documents(spark, sf()).agg(Hll.hll($"text")).collect().head.getLong(0)
    assert(d1 == d2)
  }
}
