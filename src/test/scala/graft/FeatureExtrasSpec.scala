package graft

import org.apache.spark.sql.functions._

import graft.operators.{Features, ScalableDedup}

class FeatureExtrasSpec extends SparkSpecBase {
  import spark.implicits._

  test("z-score anomaly flags a spike but not the steady state") {
    val vals = Seq.fill(20)(100.0) ++ Seq(100.5, 500.0, 99.5)
    val df = vals.zipWithIndex.map { case (v, i) => (1L, i.toLong, v) }
      .toDF("user_id", "event_id", "value")
      .withColumn("ts", timestamp_seconds($"event_id"))
    val got = Features.anomalyByZScore(df, $"user_id", $"ts", $"event_id",
      $"value", n = 10, k = 3.0)
      .orderBy($"event_id")
      .select($"event_id", $"a_anomaly").collect()
      .map(r => r.getLong(0) -> r.getBoolean(1)).toMap
    assert(got(21L)) // the 500 spike
    assert(!got(22L)) // the return to normal compares against a window that
                      // includes the spike's inflated stddev → not anomalous
    assert((0L to 20L).forall(i => !got(i)))
  }

  test("sessionized features match the judged session row shape") {
    val feats = Features.sessionized(Tables.events(spark, sf()),
      $"user_id", $"ts", $"event_id", $"value", gapSeconds = 1800)
    val judged = SparkEntry.queries("stream_session")(spark, sf())
    assert(feats.count() == judged.count()) // same sessionization
    val f = feats.agg(sum($"n")).collect().head.getLong(0)
    assert(f == Tables.events(spark, sf()).count()) // conservation
  }
}
