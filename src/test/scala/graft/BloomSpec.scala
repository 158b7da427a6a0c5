package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.GraftBridge

import graft.functions.Bloom

/** Bloom filter aggregate (§2.12 sketch family, round 9): the
  * no-false-negative contract, bounded false-positive rate, lossless
  * bit-identical OR-merge, persistence round-trip, SQL surface, and the
  * semi-join pre-filter shape the filter exists for. Deterministic —
  * fixed hash seeds make filters bit-identical across runs and merge
  * orders. */
class BloomSpec extends SparkSpecBase {
  import spark.implicits._

  test("no false negatives; false positives bounded") {
    val keys = (0L until 5000L).toDF("k")
    val bloom = keys.agg(Bloom.bloomSketch($"k").as("b"))
    val present = keys.crossJoin(bloom)
      .filter(!Bloom.bloomContains($"b", $"k")).count()
    assert(present == 0L, "a bloom filter must never reject an inserted key")
    val absent = (1000000L until 1050000L).toDF("k").crossJoin(bloom)
      .filter(Bloom.bloomContains($"b", $"k")).count()
    // 5k keys in 2^20 bits with k=7 → theoretical fpp ~ 1e-13; even at
    // design capacity it is ~1%. Assert a loose 0.1% on this light load.
    assert(absent <= 50L, s"false-positive rate too high: $absent of 50000")
  }

  test("per-group filters persisted, read back, merged == direct filter") {
    val e = Tables.events(spark, sf())
    val dir = java.nio.file.Files.createTempDirectory("bloom").toString + "/b"
    e.groupBy($"event_type")
      .agg(Bloom.bloomSketch($"user_id").as("b"))
      .write.parquet(dir)
    val merged = spark.read.parquet(dir)
      .agg(GraftBridge.column(Bloom.BloomMergeAgg(GraftBridge.expression($"b"))
        .toAggregateExpression()).as("b")).collect().head.getAs[Array[Byte]](0)
    val direct = e.agg(Bloom.bloomSketch($"user_id").as("b"))
      .collect().head.getAs[Array[Byte]](0)
    assert(java.util.Arrays.equals(merged, direct),
      "bitwise-OR merge must be bit-identical to filtering the union")
  }

  test("SQL surface: sketch, merge, contains; arity guarded") {
    val s = enrichedSession()
    Tables.events(s, sf()).createOrReplaceTempView("events")
    val r = s.sql(
      """SELECT graft_bloom_contains(graft_bloom_sketch(user_id), 3L) AS hit,
        |       graft_bloom_contains(graft_bloom_sketch(user_id), 999999L) AS miss
        |FROM events""".stripMargin).collect().head
    assert(r.getBoolean(0), "user 3 exists at every sf")
    assert(!r.getBoolean(1), "a far-off key should not be present")
    val err = intercept[org.apache.spark.sql.AnalysisException] {
      s.sql("SELECT graft_bloom_contains(x'00') FROM events").collect()
    }
    assert(err.getMessage.toLowerCase.contains("graft_bloom_contains"))
  }

  test("nulls skipped on build; null filter/probe propagate null; bad width loud") {
    val b = Seq(Some(1L), None, Some(2L)).toDF("v")
      .agg(Bloom.bloomSketch($"v").as("b"))
    val r = b.select(
      Bloom.bloomContains($"b", lit(1L)).as("one"),
      Bloom.bloomContains($"b", lit(null).cast("long")).as("n")).collect().head
    assert(r.getBoolean(0))
    assert(r.isNullAt(1))
    val bad = intercept[Exception] {
      Seq(Array[Byte](1, 2, 3)).toDF("b")
        .select(Bloom.bloomContains($"b", lit(1L))).collect()
    }
    assert(bad.getMessage.contains("bytes"))
  }

  test("semi-join pre-filter: exact result, fact side cut before the join") {
    // the pattern the filter exists for: yesterday's keeper set persisted
    // as one bloom row; today's batch pre-filters against the stored bits
    // WITHOUT loading the keeper table, then the exact join runs on the
    // small superset. No false negatives → identical final result.
    val e = Tables.events(spark, sf())
    val keepers = e.filter($"event_type" === "purchase")
      .select($"user_id").distinct()
    val bloomRow = keepers.agg(Bloom.bloomSketch($"user_id").as("b"))
    val preFiltered = e.crossJoin(broadcast(bloomRow))
      .filter(Bloom.bloomContains($"b", $"user_id"))
      .drop("b")
    val viaBloom = preFiltered.join(keepers, Seq("user_id"), "left_semi").count()
    val exact = e.join(keepers, Seq("user_id"), "left_semi").count()
    assert(viaBloom == exact, "pre-filter must not drop any true match")
    assert(preFiltered.count() < e.count() || keepers.count() == e.select($"user_id").distinct().count(),
      "the pre-filter should cut the fact side unless every key is a keeper")
  }

  test("judged join_bloom_prefilter equals the plain semi-join aggregate") {
    // the judged invisibility contract, pinned engine-side too: routing
    // the fact scan through the bloom stage changes NOTHING in the result
    val viaBloom = operators.Relational.joinBloomPrefilter(spark, sf()).collect()
    val dim = Tables.orders(spark, sf())
      .filter($"o_orderpriority" === "1-URGENT").select($"o_orderkey")
    val plain = Tables.lineitem(spark, sf())
      .join(dim, $"l_orderkey" === $"o_orderkey", "left_semi")
      .groupBy($"l_returnflag")
      .agg(count(lit(1)).as("n_items"),
        sum($"l_quantity".cast("long")).as("sum_qty"))
      .orderBy($"l_returnflag").collect()
    assert(viaBloom.toSeq == plain.toSeq)
  }

  test("map-side combine: partial aggregation present in the plan") {
    val plan = Tables.events(spark, sf())
      .agg(Bloom.bloomSketch($"user_id"))
      .queryExecution.executedPlan.toString
    assert(plan.contains("partial_graft_bloom_sketch"),
      s"filter build must combine map-side:\n$plan")
  }
}
