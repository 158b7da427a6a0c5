package graft

import org.apache.spark.sql.functions._

import graft.functions.SortedIntersectCountExpr.sorted_intersect_count
import graft.operators.{Decontaminate, ScalableDedup, TrainingData}

/** Pinned-hash MinHash-LSH (#109) and the sorted-merge intersection
  * expression it rescoring-relies on. */
class MinhashLshSpec extends SparkSpecBase {
  import spark.implicits._

  test("sorted_intersect_count equals size(array_intersect) on random sorted sets") {
    val rnd = new scala.util.Random(7)
    val rows = (1 to 200).map { _ =>
      val a = Seq.fill(rnd.nextInt(50))(rnd.nextInt(80).toLong).distinct.sorted
      val b = Seq.fill(rnd.nextInt(50))(rnd.nextInt(80).toLong).distinct.sorted
      (a, b)
    }
    val df = rows.toDF("a", "b")
    val bad = df.select(
        sorted_intersect_count($"a", $"b").as("fast"),
        size(array_intersect($"a", $"b")).cast("long").as("ref"))
      .filter($"fast" =!= $"ref")
    assert(bad.isEmpty, bad.collect().mkString(", "))
  }

  test("sorted_intersect_count: empty and null inputs") {
    val df = Seq(
      (Some(Seq.empty[Long]), Some(Seq(1L, 2L))),
      (None, Some(Seq(1L))),
      (Some(Seq(1L, 2L, 3L)), Some(Seq(1L, 2L, 3L)))
    ).toDF("a", "b")
    val got = df.select(sorted_intersect_count($"a", $"b")).collect()
    assert(got(0).getLong(0) == 0L)
    assert(got(1).isNullAt(0))
    assert(got(2).getLong(0) == 3L)
  }

  test("banded candidates are a superset of high-Jaccard pairs here, and each shares a band") {
    // at sf0.001, every pair the judged query emits (J >= 0.8) must be
    // an LSH candidate by construction; verify against the brute-force
    // high-Jaccard pair set that LSH found every one of them (recall=1
    // on THIS corpus — not a general LSH guarantee, but a regression
    // canary for the banding arithmetic)
    val docs = Tables.documents(spark, sf())
      .select(col("doc_id"),
        ScalableDedup.shingleHashes(Decontaminate.shingleSet("text", 4)).as("hs"))
      .cache()
    val a = docs.select($"doc_id".as("a_id"), $"hs".as("ha"))
    val b = docs.select($"doc_id".as("b_id"), $"hs".as("hb"))
    val brute = a.join(b, $"a_id" < $"b_id")
      .select($"a_id", $"b_id",
        (size(array_intersect($"ha", $"hb")).cast("double") /
          size(array_union($"ha", $"hb"))).as("j"))
      .filter($"j" >= 0.8)
      .select($"a_id", $"b_id")
    val cand = ScalableDedupSpec.minhashBandedCandidates(docs, "doc_id", "hs", 4, 4)
    val missed = brute.exceptAll(cand)
    assert(missed.isEmpty, s"high-J pairs missed by banding: ${missed.collect().mkString(",")}")
    docs.unpersist()
    ()
  }

  test("dedup_minhash_lsh plan: broadcast rescore joins, no nested loop, merge-count not array_intersect") {
    val p = TrainingData.dedupMinhashLsh(spark, sf())
      .queryExecution.executedPlan.toString
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"), p)
    assert("BroadcastHashJoin".r.findAllIn(p).size >= 2,
      s"rescore sides not broadcast:\n$p")
    assert(p.contains("sorted_intersect_count"),
      s"rescoring fell back off the sorted-merge expression:\n$p")
  }

  test("judged dedup_minhash_lsh equals the brute-force exact pairs at threshold") {
    // banding recall is 1.0 on this corpus (previous test), so the
    // judged output must equal brute-force exact Jaccard >= 0.8
    val docs = Tables.documents(spark, sf())
      .select(col("doc_id"),
        ScalableDedup.shingleHashes(Decontaminate.shingleSet("text", 4)).as("hs"))
    val a = docs.select($"doc_id".as("a_id"), $"hs".as("ha"))
    val b = docs.select($"doc_id".as("b_id"), $"hs".as("hb"))
    val brute = a.join(b, $"a_id" < $"b_id")
      .select($"a_id", $"b_id",
        round(size(array_intersect($"ha", $"hb")).cast("double") /
          size(array_union($"ha", $"hb")), 6).as("jac"))
      .filter($"jac" >= 0.8)
    val got = TrainingData.dedupMinhashLsh(spark, sf())
    assert(got.count() == brute.count())
    assert(got.exceptAll(brute).isEmpty && brute.exceptAll(got).isEmpty)
  }
}
