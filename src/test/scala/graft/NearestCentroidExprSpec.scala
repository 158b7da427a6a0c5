package graft

import org.apache.spark.sql.functions._

import graft.functions.{NearestCentroidExpr, VectorFunctions}

/** The fused native nearest_centroid must be result-identical to the
  * aggregate-HOF argmin fold it replaced — that fold routes every
  * IVFADC corpus assignment (judged ann_ivfpq_exact) and every IVF
  * index append, so any divergence moves judged ANN results or writes
  * vectors into the wrong list partition. */
class NearestCentroidExprSpec extends SparkSpecBase {
  import spark.implicits._

  private def cents(df: org.apache.spark.sql.DataFrame) = {
    // the ivfPqTopK shape: the centroid table collapsed to one sorted
    // struct array, broadcast-cross-joined onto every row
    df.agg(sort_array(collect_list(struct($"list_id", $"cv"))).as("_cents"))
  }

  test("identical to the HOF fold on real embeddings and KMeans centroids") {
    val emb = Tables.embeddings(spark, sf())
      .select($"vec_id", VectorFunctions.toDoubleVec($"embedding").as("v"))
    val coarse = graft.operators.Pq.trainCoarse(
      spark, Tables.embeddings(spark, sf()), "embedding", nlist = 8)
      .select($"list_id", $"cv")
    val diff = emb.crossJoin(broadcast(cents(coarse)))
      .select(
        NearestCentroidExpr.nearest_centroid($"v", $"_cents").as("fused"),
        NearestCentroidExpr.nearestCentroidHof($"v", $"_cents",
          "list_id", "cv").as("hof"))
      .filter(!($"fused" <=> $"hof"))
    assert(diff.count() == 0)
  }

  test("tie-break: first minimum in array order wins (strict <)") {
    // two centroids at the SAME point — the earlier array position
    // (smallest list_id under sort_array) must win, as the fold's
    // strict < dictates
    val c = Seq((7, Seq(1.0, 1.0)), (3, Seq(1.0, 1.0)), (9, Seq(0.0, 0.0)))
      .toDF("list_id", "cv")
    val got = Seq(Tuple1(Seq(1.0, 1.0))).toDF("v")
      .crossJoin(cents(c))
      .select(NearestCentroidExpr.nearest_centroid($"v", $"_cents"))
      .collect().head.getInt(0)
    assert(got == 3) // sort_array puts 3 before 7; strict < keeps it
  }

  test("null contract matches the HOF fold exactly") {
    // rows: null vec (→ -1, the seed), dim-mismatched centroid
    // (skipped), null centroid element (skipped), NaN element
    // (distance NaN, compares false, skipped)
    val df = spark.sql(
      """SELECT * FROM VALUES
        |  (array(0.0d, 0.0d),
        |   array(named_struct('id', 1, 'cv', array(5.0d, 5.0d)),
        |         named_struct('id', 2, 'cv', array(1.0d)),
        |         named_struct('id', 3, 'cv', array(cast('NaN' as double), 0.0d)),
        |         named_struct('id', 4, 'cv', array(0.0d, cast(NULL as double))))),
        |  (cast(NULL as array<double>),
        |   array(named_struct('id', 1, 'cv', array(0.0d, 0.0d)))),
        |  (array(0.0d, 0.0d),
        |   cast(NULL as array<struct<id:int, cv:array<double>>>)),
        |  (array(0.0d, 0.0d),
        |   array(named_struct('id', cast(NULL as int), 'cv', array(0.0d, 0.0d)),
        |         named_struct('id', 8, 'cv', array(9.0d, 9.0d))))
        |AS t(v, c)""".stripMargin)
    val rows = df.select(
        NearestCentroidExpr.nearest_centroid($"v", $"c").as("fused"),
        NearestCentroidExpr.nearestCentroidHof($"v", $"c", "id", "cv").as("hof"))
      .collect()
    rows.foreach { r =>
      val f = if (r.isNullAt(0)) null else r.get(0)
      val h = if (r.isNullAt(1)) null else r.get(1)
      assert(f == h, s"native $f != hof $h")
    }
    // and the concrete expectations, pinned
    assert(rows(0).getInt(0) == 1)  // only the well-formed centroid counts
    assert(rows(1).getInt(0) == -1) // null vec → the seed survives
    assert(rows(2).isNullAt(0))     // null centroid array → null
    assert(rows(3).isNullAt(0))     // winning null id stays null
  }

  test("interpreted eval path matches codegen (literal centroids, filter pushdown off)") {
    // centroids as a typed literal
    val cLit = typedLit(Seq((0, Seq(0.0, 0.0)), (1, Seq(10.0, 10.0))))
    val vs = Seq(Seq(1.0, 1.0), Seq(9.0, 9.0), Seq(4.9, 4.9)).map(Tuple1(_)).toDF("v")
    val expr = NearestCentroidExpr.nearest_centroid($"v", cLit)
    val got = vs.select(expr.as("a")).orderBy($"a").collect().map(_.getInt(0)).toSeq
    assert(got == Seq(0, 0, 1))
  }
}
