package graft

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.plans.LatestPerKeyRule

/** The latest-per-key optimizer rule must rewrite the row_number window
  * pattern to a max_by aggregate without changing results — and must NOT
  * fire on the shapes where the rewrite is unsound (nullable ordering
  * key, global window). */
class LatestPerKeyRuleSpec extends SparkSpecBase {
  import spark.implicits._

  // the rule goes on a session of its own, never on the shared one
  private lazy val ruled = {
    val s = spark.newSession()
    LatestPerKeyRule.install(s)
    s
  }

  // primitive columns → non-nullable schema → rule is applicable
  private lazy val series = ruled.createDataFrame((1L to 300L)
    .map(i => (i % 7, i * 1000, i, i.toDouble / 3)))
    .toDF("k", "t", "id", "v")

  private def latestPerKeyDF = {
    val w = Window.partitionBy($"k").orderBy($"t".desc)
    series.withColumn("rn", row_number().over(w)).filter($"rn" === 1)
  }

  private def hasWindow(df: org.apache.spark.sql.DataFrame): Boolean =
    df.queryExecution.optimizedPlan.collect {
      case w: org.apache.spark.sql.catalyst.plans.logical.Window => w
    }.nonEmpty

  test("rule rewrites Window+Filter to an Aggregate with max_by") {
    val optimized = latestPerKeyDF.queryExecution.optimizedPlan
    assert(!hasWindow(latestPerKeyDF), s"window survived:\n$optimized")
    assert(optimized.toString.contains("max_by"))
  }

  test("rewritten plan returns the same rows as the window plan") {
    val got = latestPerKeyDF.select($"k", $"id")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val want = series.groupBy($"k").agg(max_by($"id", $"t").as("id"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == want)
  }

  test("nullable ordering key is left untouched (either direction)") {
    val ev = Tables.events(ruled, sf()).select($"user_id", $"ts", $"event_id")
    for (ord <- Seq($"ts".desc, $"ts".asc)) {
      val w = Window.partitionBy($"user_id").orderBy(ord)
      val df = ev.withColumn("rn", row_number().over(w)).filter($"rn" === 1)
      assert(hasWindow(df)) // ts is nullable → no rewrite
    }
  }

  test("global window (no partition keys) is left untouched") {
    val w = Window.orderBy($"t".desc)
    val df = series.withColumn("rn", row_number().over(w)).filter($"rn" === 1)
    assert(hasWindow(df)) // empty input would yield a phantom aggregate row
  }
}
