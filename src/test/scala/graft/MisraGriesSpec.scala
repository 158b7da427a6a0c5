package graft

import org.apache.spark.sql.functions._

import graft.functions.MisraGries

/** Misra-Gries heavy-hitters summary (§2.12 sketch family, round 11):
  * exactness while distinct keys ≤ K (no truncation fires anywhere, err
  * stays 0), the lower-bound + error-band contract beyond it, guaranteed
  * presence of true heavy hitters, bit-identical persistence round trip,
  * and the per-group sketch → persisted → merged == direct shape in the
  * exact regime. */
class MisraGriesSpec extends SparkSpecBase {
  import spark.implicits._

  test("exact regime: estimates equal GROUP BY counts, err 0, merge-order-proof") {
    val e = Tables.events(spark, sf())
    val truth = e.groupBy($"event_type").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    // per-day partials merged, as the judged query does
    val merged = e.groupBy($"ts".cast("date").as("d"))
      .agg(MisraGries.mgSketch($"event_type").as("sk"))
      .agg(MisraGries.mgMerge($"sk").as("sk"))
    val got = merged.select(
        explode(lit(truth.keys.toSeq.sorted.toArray)).as("k"), $"sk")
      .select($"k", MisraGries.mgEstimate($"sk", $"k").as("n"),
        MisraGries.mgError($"sk").as("err"))
      .collect()
    got.foreach { r =>
      assert(r.getLong(2) == 0L, "exact regime must carry a zero error band")
      assert(r.getLong(1) == truth(r.getString(0)),
        s"exact-regime estimate for ${r.getString(0)}")
    }
    // direct one-shot sketch serializes bit-identical to the merged one
    val direct = e.agg(MisraGries.mgSketch($"event_type").as("sk"))
      .collect().head.getAs[Array[Byte]](0)
    val m = merged.collect().head.getAs[Array[Byte]](0)
    assert(java.util.Arrays.equals(direct, m),
      "exact-regime summaries are a pure function of the multiset")
  }

  test("beyond K: lower bounds within err, true heavy hitters never dropped") {
    // 200 distinct keys over K=64 counters; key "hot" holds ~1/3 of the
    // stream — far above n/(K+1), so MG must keep it
    val rows = (1 to 2000).map(i => s"k${i % 200}") ++ Seq.fill(1000)("hot")
    val df = rows.toDF("k")
    val sk = df.agg(MisraGries.mgSketch($"k").as("sk"))
    val est = sk.select(MisraGries.mgEstimate($"sk", lit("hot")).as("n"),
      MisraGries.mgError($"sk").as("err")).collect().head
    val (n, err) = (est.getLong(0), est.getLong(1))
    assert(n > 0, "a >n/(K+1) heavy hitter must survive truncation")
    assert(n <= 1000 && 1000 <= n + err,
      s"lower-bound contract: $n <= 1000 <= ${n + err}")
    // every tracked estimate is a lower bound on its true count
    val s = MisraGries.fromBytes(sk.collect().head.getAs[Array[Byte]](0))
    val truth = rows.groupBy(identity).view.mapValues(_.size.toLong).toMap
    s.counters.foreach { case (k, c) =>
      assert(c <= truth(k) && truth(k) <= c + s.err, s"band broken for $k")
    }
  }

  test("serialization round-trips counters and error exactly") {
    val s = new MisraGries.Summary
    Seq("a", "b", "a", "c", "a", "b").foreach(s.add(_, 1L))
    s.err = 7L
    val back = MisraGries.fromBytes(MisraGries.toBytes(s))
    assert(back.err == 7L)
    assert(back.counters.toMap == Map("a" -> 3L, "b" -> 2L, "c" -> 1L))
    assert(java.util.Arrays.equals(
      MisraGries.toBytes(back), MisraGries.toBytes(s)))
  }

  test("SQL surface: graft_mg_* registered and usable end to end") {
    val s = enrichedSession()
    Tables.events(s, sf()).createOrReplaceTempView("ev_mg")
    val r = s.sql(
      """SELECT graft_mg_estimate(sk, 'click') n, graft_mg_error(sk) e
        |FROM (SELECT graft_mg_merge(sk) sk
        |      FROM (SELECT graft_mg_sketch(event_type) sk
        |            FROM ev_mg GROUP BY user_id))""".stripMargin).collect().head
    val truth = Tables.events(spark, sf())
      .filter($"event_type" === "click").count()
    assert(r.getLong(0) == truth && r.getLong(1) == 0L)
  }
}
