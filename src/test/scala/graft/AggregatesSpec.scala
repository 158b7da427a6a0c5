package graft

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.Aggregates

/** RMSSD UDAF cross-checked against the expression form
  * sqrt(avg(dv*dv)) over the same lag-derived deltas (SURVEY.md §2.12). */
class AggregatesSpec extends SparkSpecBase {
  import spark.implicits._

  test("rmssd equals sqrt(avg(dv^2)) on the events table") {
    val s = spark.newSession()
    Aggregates.register(s)
    val w = Window.partitionBy($"user_id").orderBy($"ts", $"event_id")
    val dv = Tables.events(s, sf())
      .select($"user_id", ($"value" - lag($"value", 1).over(w)).as("dv"))
      .filter($"dv".isNotNull)
    val got = dv.groupBy($"user_id")
      .agg(expr("rmssd(dv)").as("r"), sqrt(avg($"dv" * $"dv")).as("want"))
      .select($"user_id", abs($"r" - $"want").as("err"))
      .agg(max($"err")).collect().head.getDouble(0)
    assert(got < 1e-9)
  }

  test("rmssd on a hand-computed fixture") {
    val s = spark.newSession()
    Aggregates.register(s)
    // diffs 3, -1 → rmssd = sqrt((9+1)/2) = sqrt(5)
    val r = s.createDataFrame(Seq(Tuple1(3.0), Tuple1(-1.0))).toDF("dv")
      .agg(expr("rmssd(dv)")).collect().head.getDouble(0)
    assert(math.abs(r - math.sqrt(5.0)) < 1e-12)
  }

  test("percentile_disc: ceil(q·n) element selection on hand fixtures") {
    // group A n=4 → indices ceil(1)=1, ceil(2)=2, ceil(3)=3;
    // group B n=5 → indices ceil(1.25)=2, ceil(2.5)=3, ceil(3.75)=4
    val rows = (1 to 4).map(q => ("A", q.toDouble)) ++
      (1 to 5).map(q => ("B", q.toDouble))
    val dir = java.nio.file.Files.createTempDirectory("pdisc").toString
    rows.toDF("l_returnflag", "l_quantity")
      .write.parquet(dir + "/lineitem.parquet")
    val got = graft.operators.Relational.aggPercentileDisc(spark, dir)
      .collect().map(r => r.getString(0) ->
        (r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    assert(got("A") == ((100L, 200L, 300L)))
    assert(got("B") == ((200L, 300L, 400L)))
  }

  test("weighted median: half-weight gate, exact even-split takes the lower value") {
    // A: weights 1/2/1 on prices 1/2/3 → half of 4 reached at price 2;
    // B: weights 2/2 on prices 1/3 → 2·cw == tw exactly at price 1 (the
    // ≥ gate takes the LOWER of the two weighted middles)
    val rows = Seq(("A", 1.00, 1.0), ("A", 2.00, 2.0), ("A", 3.00, 1.0),
      ("B", 1.00, 2.0), ("B", 3.00, 2.0))
    val dir = java.nio.file.Files.createTempDirectory("wmed").toString
    rows.toDF("l_returnflag", "l_extendedprice", "l_quantity")
      .write.parquet(dir + "/lineitem.parquet")
    val got = graft.operators.Relational.aggWeightedMedian(spark, dir)
      .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2))))
      .toMap
    assert(got == Map("A" -> ((4L, 200L)), "B" -> ((4L, 100L))))
  }
}
