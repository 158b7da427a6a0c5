package graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.GraftBridge

import graft.functions.Kmv

/** K-Minimum-Values sketch (§2.12 sketch family, round 9): exactness
  * below k, bounded estimation error above, the set-overlap (Jaccard)
  * estimate HLL cannot express, bit-identical merge, persistence, SQL
  * surface, and map-side combine shape. Deterministic — the k smallest
  * hashes of a set are a pure function of the set. */
class KmvSpec extends SparkSpecBase {
  import spark.implicits._

  /** The graft_kmv_jaccard expression over two sketch columns. */
  private def jaccard(a: Column, b: Column): Column =
    GraftBridge.column(Kmv.KmvJaccard(GraftBridge.expression(a),
      GraftBridge.expression(b)))

  test("exact below k; within ~3x standard error above") {
    val small = (1L to 500L).toDF("v")
      .agg(Kmv.kmvSketch($"v").as("sk"))
      .select(Kmv.kmvEstimate($"sk")).as[Long].head
    assert(small == 500L, "sets smaller than k are counted exactly")
    val n = 100000L
    val big = (1L to n).toDF("v")
      .agg(Kmv.kmvSketch($"v").as("sk"))
      .select(Kmv.kmvEstimate($"sk")).as[Long].head
    val se = n / math.sqrt(Kmv.K) // ~3.1% of n at k=1024
    assert(math.abs(big - n) <= 3 * se, s"estimate $big vs exact $n (se=$se)")
  }

  test("per-group sketches persisted, read back, merged == direct sketch") {
    val e = Tables.events(spark, sf())
    val dir = java.nio.file.Files.createTempDirectory("kmv").toString + "/sk"
    e.groupBy($"event_type")
      .agg(Kmv.kmvSketch($"user_id").as("sk"))
      .write.parquet(dir)
    val merged = spark.read.parquet(dir)
      .agg(GraftBridge.column(Kmv.KmvMergeAgg(GraftBridge.expression($"sk"))
        .toAggregateExpression()).as("sk")).collect().head.getAs[Array[Byte]](0)
    val direct = e.agg(Kmv.kmvSketch($"user_id").as("sk"))
      .collect().head.getAs[Array[Byte]](0)
    assert(java.util.Arrays.equals(merged, direct),
      "keep-k-smallest merge must be bit-identical to sketching the union")
  }

  test("jaccard from sketches: exact on subsketch sets, estimated when full") {
    // exact regime: both sets fit in their sketches entirely
    val a = (1L to 600L).toDF("v").agg(Kmv.kmvSketch($"v").as("a"))
    val b = (301L to 900L).toDF("v").agg(Kmv.kmvSketch($"v").as("b"))
    val exact = a.crossJoin(b)
      .select(jaccard($"a", $"b")).as[Double].head
    // |A∩B| = 300, |A∪B| = 900 → 1/3, computed over full samples
    assert(math.abs(exact - 300.0 / 900.0) < 1e-12,
      s"subsketch-regime jaccard must be exact, got $exact")
    // estimated regime: overlapping 100k-key sets, true J = 50k/150k
    val bigA = (1L to 100000L).toDF("v").agg(Kmv.kmvSketch($"v").as("a"))
    val bigB = (50001L to 150000L).toDF("v").agg(Kmv.kmvSketch($"v").as("b"))
    val est = bigA.crossJoin(bigB)
      .select(jaccard($"a", $"b")).as[Double].head
    val trueJ = 1.0 / 3.0
    assert(math.abs(est - trueJ) <= 3.0 / math.sqrt(Kmv.K) + 0.02,
      s"full-regime jaccard $est vs true $trueJ")
    // disjoint sets → 0
    val disjoint = a.crossJoin(
      (10000L to 10500L).toDF("v").agg(Kmv.kmvSketch($"v").as("b")))
      .select(jaccard($"a", $"b")).as[Double].head
    assert(disjoint == 0.0)
  }

  test("SQL surface: sketch, merge, estimate, jaccard; arity guarded") {
    val s = enrichedSession()
    Tables.events(s, sf()).createOrReplaceTempView("events")
    val r = s.sql(
      """SELECT graft_kmv_estimate(graft_kmv_sketch(user_id)) AS d,
        |       graft_kmv_jaccard(graft_kmv_sketch(user_id),
        |                         graft_kmv_sketch(user_id)) AS j
        |FROM events""".stripMargin).collect().head
    val exact = Tables.events(spark, sf())
      .select(countDistinct($"user_id")).as[Long].head
    assert(r.getLong(0) == exact, "below k the estimate is exact")
    assert(r.getDouble(1) == 1.0, "a set's overlap with itself is 1")
    val err = intercept[org.apache.spark.sql.AnalysisException] {
      s.sql("SELECT graft_kmv_jaccard(x'00') FROM events").collect()
    }
    assert(err.getMessage.toLowerCase.contains("graft_kmv_jaccard"))
  }

  test("nulls skipped; null sketch propagates null; bad bytes fail loudly") {
    val sk = Seq(Some(1L), None, Some(2L)).toDF("v")
      .agg(Kmv.kmvSketch($"v").as("sk"))
    val r = sk.select(Kmv.kmvEstimate($"sk").as("e"),
      Kmv.kmvEstimate(lit(null).cast("binary")).as("n")).collect().head
    assert(r.getLong(0) == 2L)
    assert(r.isNullAt(1))
    val bad = intercept[Exception] {
      Seq(Array[Byte](1, 2, 3)).toDF("sk")
        .select(Kmv.kmvEstimate($"sk")).collect()
    }
    assert(bad.getMessage.contains("bytes"))
  }

  test("map-side combine: partial aggregation present in the plan") {
    val plan = Tables.events(spark, sf())
      .agg(Kmv.kmvSketch($"user_id"))
      .queryExecution.executedPlan.toString
    assert(plan.contains("partial_graft_kmv_sketch"),
      s"sketch must combine map-side:\n$plan")
  }
}
