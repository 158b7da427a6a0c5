package graft

import org.apache.spark.sql.functions._

import graft.plans.{AsofJoinStrategy, LatestPerKeyRule}

class GraftSessionSpec extends SparkSpecBase {

  test("enrich registers the UDAF and optimizer rule idempotently") {
    val s = spark.newSession()
    GraftSession.enrich(s)
    GraftSession.enrich(s) // second call must not double-register
    import s.implicits._
    // rmssd callable from SQL
    val r = Seq(3.0, -1.0).toDF("dv").agg(expr("rmssd(dv)")).collect().head.getDouble(0)
    assert(math.abs(r - math.sqrt(5.0)) < 1e-12)
    // the rule is installed exactly once
    assert(s.experimental.extraOptimizations.count(_ == LatestPerKeyRule) == 1)
    // the HLL family is callable from SQL after enrich
    val h = s.range(0, 1000)
      .selectExpr("graft_hll(id) AS a").collect().head.getLong(0)
    assert(math.abs(h - 1000.0) / 1000.0 < 0.05, s"graft_hll estimate $h")
  }

  test("builder carries the judged configuration") {
    // the shared session is built through GraftSession.builder(4)
    assert(spark.sparkContext.master == "local[4]")
    assert(spark.conf.get("spark.sql.shuffle.partitions") == "4")
    assert(spark.conf.get("spark.sql.session.timeZone") == "UTC")
    assert(spark.conf.get("spark.sql.parquet.outputTimestampType") == "TIMESTAMP_MICROS")
    assert(spark.conf.get("spark.sql.legacy.parquet.nanosAsLong") == "true")
    assert(spark.sparkContext.getConf.get("spark.ui.enabled") == "false")
  }

  test("the shared session carries no engine extensions") {
    enrichedSession() // enriching a sibling session must not leak into `spark`
    assert(spark.experimental.extraOptimizations.isEmpty,
      spark.experimental.extraOptimizations.mkString(", "))
    // an as-of join installs its own planner strategy on first use; it
    // plans only AsofJoin nodes, so it cannot change any other plan
    assert(spark.experimental.extraStrategies.forall(_ == AsofJoinStrategy),
      spark.experimental.extraStrategies.mkString(", "))
    val fns = spark.catalog.listFunctions().collect().map(_.name)
    assert(!fns.exists(n => n == "rmssd" || n.startsWith("graft_")),
      fns.filter(n => n == "rmssd" || n.startsWith("graft_")).mkString(", "))
  }
}
