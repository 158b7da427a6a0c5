package graft

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.operators.Features

class FeaturesSpec extends SparkSpecBase {
  import spark.implicits._

  private lazy val ev = Tables.events(spark, sf())

  test("row-frame features match the judged moving-average query semantics") {
    val got = Features.rollingByRows(ev, $"user_id", $"ts", $"event_id",
      $"value", n = 5)
      .select($"user_id", $"event_id", round($"f_mean", 6).as("ma5"))
    val w = Window.partitionBy($"user_id").orderBy($"ts", $"event_id").rowsBetween(-4, 0)
    val want = ev.select($"user_id", $"event_id",
      round(avg($"value").over(w), 6).as("ma5"))
    assert(got.except(want).count() == 0 && want.except(got).count() == 0)
  }

  test("rolling rmssd on a hand-built series") {
    val df = Seq((1L, 1L, 1.0), (1L, 2L, 4.0), (1L, 3L, 2.0))
      .toDF("user_id", "event_id", "value")
      .withColumn("ts", timestamp_seconds($"event_id"))
    val got = Features.rollingByRows(df, $"user_id", $"ts", $"event_id",
      $"value", n = 3)
      .orderBy($"event_id")
      .select($"f_rmssd").collect()
    assert(got(0).isNullAt(0)) // no delta yet
    assert(math.abs(got(1).getDouble(0) - 3.0) < 1e-12) // sqrt(avg(9))
    assert(math.abs(got(2).getDouble(0) - math.sqrt((9.0 + 4.0) / 2)) < 1e-12)
  }

}
