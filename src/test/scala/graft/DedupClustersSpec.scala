package graft

import org.apache.spark.sql.functions._

import graft.functions.TextFunctions
import graft.operators.{DedupClusters, ScalableDedup}

class DedupClustersSpec extends SparkSpecBase {
  import spark.implicits._

  test("components: chain and island resolve to min-id labels") {
    // 1-2, 2-3 form one component; 5-6 another; 9 appears only via 9-9? no — absent
    val pairs = Seq((1L, 2L), (2L, 3L), (5L, 6L)).toDF("a", "b")
    val comps = DedupClusters.connectedComponents(pairs, "a", "b")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(comps == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 5L -> 5L, 6L -> 5L))
  }

  test("components converge on a long chain (diameter > 1)") {
    val pairs = (1L until 12L).map(i => (i, i + 1)).toDF("a", "b")
    val comps = DedupClusters.connectedComponents(pairs, "a", "b")
      .collect().map(r => r.getLong(1)).distinct
    assert(comps.toSeq == Seq(1L))
  }

  test("non-convergence within maxIter throws instead of returning wrong labels") {
    // a chain of 8 needs ~log2(8)+1 rounds; maxIter=1 cannot converge
    val pairs = (1L until 8L).map(i => (i, i + 1)).toDF("a", "b")
    val e = intercept[IllegalStateException] {
      DedupClusters.connectedComponents(pairs, "a", "b", maxIter = 1,
        smallGraphEdges = 0)
    }
    assert(e.getMessage.contains("did not converge"))
  }

  test("long chain converges in O(log n) rounds, not O(diameter)") {
    // worst case for min-label propagation: a 64-node chain (diameter 63).
    // large-star/small-star must star-ify it in ~log2(64) rounds (+1 to
    // observe the fixpoint), far under the diameter
    val pairs = (1L until 64L).map(i => (i, i + 1)).toDF("a", "b")
    val (labels, rounds) =
      DedupClusters.connectedComponentsWithRounds(pairs, "a", "b",
        maxIter = 20, smallGraphEdges = 0)
    assert(labels.collect().map(_.getLong(1)).distinct.toSeq == Seq(1L))
    assert(rounds >= 1, "smallGraphEdges = 0 must force the contraction")
    assert(rounds <= 9, s"expected O(log n) rounds for a 64-chain, got $rounds")
    // the union-find fast path must land on the identical labels in 0 rounds
    val (fast, fastRounds) =
      DedupClusters.connectedComponentsWithRounds(pairs, "a", "b")
    assert(fastRounds == 0, "a 63-edge graph must take the fast path")
    assert(fast.collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq ==
      labels.collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq)
  }

  test("self-pairs and singleton components label themselves") {
    val pairs = Seq((7L, 7L), (1L, 2L)).toDF("a", "b")
    val comps = DedupClusters.connectedComponents(pairs, "a", "b")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(comps == Map(7L -> 7L, 1L -> 1L, 2L -> 1L))
  }

  test("random graphs match a driver-side union-find oracle") {
    for (seed <- Seq(1, 2, 3)) {
      val rnd = new scala.util.Random(seed)
      val n = 40
      val es = Seq.fill(60)((rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
        .filter { case (a, b) => a != b }
      // driver-side union-find as the oracle
      val parent = Array.tabulate(n)(identity)
      def find(x: Int): Int = { var r = x; while (parent(r) != r) r = parent(r); r }
      es.foreach { case (a, b) =>
        val (ra, rb) = (find(a.toInt), find(b.toInt))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      val nodes = es.flatMap(e => Seq(e._1, e._2)).distinct
      val want = nodes.map { id =>
        // min id in the component = repeatedly-compressed root (roots are
        // always the min because union always parents the larger root)
        id -> find(id.toInt).toLong
      }.toMap
      // both the fast path (default threshold) and the contraction
      // (threshold 0) must match the oracle
      val got = DedupClusters.connectedComponents(es.toDF("a", "b"), "a", "b")
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got == want, s"fast path, seed=$seed")
      val gotIter = DedupClusters.connectedComponents(es.toDF("a", "b"), "a", "b",
          smallGraphEdges = 0)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(gotIter == want, s"contraction, seed=$seed")
    }
  }

  test("keepers and replacement map") {
    val pairs = Seq((10L, 20L), (20L, 30L), (40L, 50L)).toDF("a", "b")
    val repl = DedupClusters.replacementMap(pairs, "a", "b")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(repl == Map(20L -> 10L, 30L -> 10L, 50L -> 40L))
  }

  test("end-to-end: simhash candidates cluster the exact duplicates") {
    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog again and again today"),
      (2L, "totally unrelated content concerning query engines and big shuffles"),
      (4L, "the quick brown fox jumps over the lazy dog again and again today"),
      (7L, "the quick brown fox jumps over the lazy dog again and again today"))
      .toDF("doc_id", "text")
      .withColumn("toks", TextFunctions.tokens($"text"))
    val pairs = ScalableDedup.simhashCandidates(docs, "doc_id", "toks", maxHamming = 3)
    val repl = DedupClusters.replacementMap(pairs, "a_id", "b_id")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(repl == Map(4L -> 1L, 7L -> 1L)) // 2 survives untouched
  }
}
