package graft

import graft.sources.Quality

class QualitySpec extends SparkSpecBase {
  import spark.implicits._

  test("single-pass validation counts violations per rule") {
    val df = Seq(
      (1L, Some(10.0), "A"),
      (2L, Some(500.0), "B"),   // out of range
      (3L, None, "A"),          // null value
      (4L, Some(20.0), "X"))    // bad category
      .toDF("id", "v", "cat")
    val report = Quality.validate(df, Seq(
      Quality.notNull("v"),
      Quality.inRange("v", 0, 100),
      Quality.isIn("cat", Seq("A", "B"))))
      .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(report("not_null(v)") == ((1L, 4L)))
    assert(report("in_range(v,0.0,100.0)") == ((2L, 4L))) // null counts as violation too
    assert(report("is_in(cat)") == ((1L, 4L)))
  }

  test("validateLazy matches validate row for row, with no driver action") {
    val df = Seq(
      (1L, Some(10.0), "A"),
      (2L, Some(500.0), "B"),
      (3L, None, "A"),
      (4L, Some(20.0), "X"))
      .toDF("id", "v", "cat")
    val rules = Seq(
      Quality.notNull("v"),
      Quality.inRange("v", 0, 100),
      Quality.isIn("cat", Seq("A", "B")))
    // constructing the lazy form must run NO job (the eager form's
    // documented difference); compare after a single explicit action
    val lazyDf = Quality.validateLazy(df, rules)
    val got = lazyDf.collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    val want = Quality.validate(df, rules).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    assert(got == want)
    // one pass: exactly one aggregate over one scan feeds the unpivot
    val plan = lazyDf.queryExecution.optimizedPlan.toString
    assert("(?i)relation".r.findAllIn(plan).length == 1,
      s"validateLazy must scan once:\n$plan")
  }

  test("referential integrity holds on the star schema (FIXTURES contract)") {
    val li = Tables.lineitem(spark, sf())
    val orders = Tables.orders(spark, sf())
    assert(li.join(orders, li("l_orderkey") === orders("o_orderkey"), "left_anti")
      .count() == 0)
  }
}
