package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.functions.TextFunctions
import graft.operators.ScalableDedup

/** Banded MinHash candidates in one call, composed from the reached
  * forms: minima once, band signatures, then the bucket join. */
object ScalableDedupSpec {
  def minhashBandSignatures(df: DataFrame, idCol: String, hashCol: String,
      bands: Int, rowsPerBand: Int): DataFrame =
    ScalableDedup.minhashBandSignaturesFromMins(
      df.withColumn("_mh", ScalableDedup.minhashMins(col(hashCol), bands * rowsPerBand)),
      idCol, hashCol, "_mh", bands, rowsPerBand)

  def minhashBandedCandidates(df: DataFrame, idCol: String, hashCol: String,
      bands: Int, rowsPerBand: Int, maxBucketSize: Option[Int] = None): DataFrame =
    ScalableDedup.minhashBandedCandidatesFromSigs(
      minhashBandSignatures(df, idCol, hashCol, bands, rowsPerBand), idCol, maxBucketSize)
}

class ScalableDedupSpec extends SparkSpecBase {
  import spark.implicits._
  import ScalableDedupSpec._

  private lazy val docs = Seq(
    (1L, "the quick brown fox jumps over the lazy dog again and again today"),
    (2L, "the quick brown fox jumps over the lazy dog again and again tonight"), // near-dup of 1
    (3L, "completely different words about query engines and shuffles here now"),
    (4L, "the quick brown fox jumps over the lazy dog again and again today") // exact dup of 1
  ).toDF("doc_id", "text")
    .withColumn("toks", TextFunctions.tokens($"text"))

  test("simhash: identical docs identical, near-dups close, unrelated far") {
    val sig = docs.select($"doc_id", ScalableDedup.simhash("toks").as("s"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(sig(1L) == sig(4L))
    def ham(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    assert(ham(sig(1L), sig(2L)) < ham(sig(1L), sig(3L)))
  }

  test("simhash candidate pairs find the exact duplicate pair") {
    val pairs = ScalableDedup.simhashCandidates(docs, "doc_id", "toks", maxHamming = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((1L, 4L)))
    assert(!pairs.exists { case (a, b) => Set(a, b) == Set(1L, 3L) })
  }

  test("minhashBandedCandidates: empty hash sets drop out instead of sharing a bucket") {
    // an empty set has no shingles (Jaccard 0 against everything); before
    // the guard, concat_ws collapsed its all-null minhash band to the
    // shared signature "" — every empty doc colliding with every other
    // empty doc in EVERY band (O(k²) candidate blowup)
    val df = Seq(
      (1L, Seq.empty[Long]), (2L, Seq.empty[Long]), (3L, Seq.empty[Long]),
      (4L, Seq(5L, 7L, 9L)), (5L, Seq(5L, 7L, 9L))
    ).toDF("id", "hs")
    val cand = minhashBandedCandidates(df, "id", "hs",
        bands = 4, rowsPerBand = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(cand == Set((4L, 5L)),
      s"empty-set docs must never pair (got $cand)")
  }

  test("MinhashMinsExpr equals the composed array_min(transform) form bit for bit") {
    // the fused one-pass expression must reproduce the EXACT pinned
    // arithmetic the oracle replays — compare against the composed
    // formulation on real corpus shingle sets
    val hs = Tables.documents(spark, sf()).limit(150)
      .select($"doc_id",
        ScalableDedup.shingleHashes(
          graft.operators.Decontaminate.shingleSet("text", 4)).as("hs"))
    val k = 16
    val composed = (0 until k).map { i =>
      array_min(transform($"hs", h =>
        (h * lit(ScalableDedup.minhashA(i)) + lit(ScalableDedup.minhashB(i))) %
          lit(ScalableDedup.MinhashP)))
    }
    val both = hs.select($"doc_id",
      graft.functions.MinhashMinsExpr.minhash_mins($"hs",
        (0 until k).map(ScalableDedup.minhashA),
        (0 until k).map(ScalableDedup.minhashB),
        ScalableDedup.MinhashP).as("fused"),
      array(composed: _*).as("composed")).collect()
    assert(both.nonEmpty)
    both.foreach { r =>
      assert(r.getSeq[Long](1) == r.getSeq[Long](2),
        s"doc ${r.getLong(0)}: fused ${r.getSeq[Long](1)} != composed ${r.getSeq[Long](2)}")
    }
  }

  test("MinhashMinsExpr skips null slots exactly as the composed form does") {
    // a null element must not be read as 0 (which would inject b_j % p
    // as a spurious minimum) — the composed array_min(transform) skips
    // it, and the fused expression must agree on containsNull inputs
    val df = Seq((1L, Seq[Option[Long]](None, Some(9L), Some(5L))),
        (2L, Seq[Option[Long]](Some(7L), None, None)))
      .toDF("id", "hs")
    // degenerate ALL-null array: the fused form returns NULL (no usable
    // element — same as empty input), never Long.MaxValue sentinels
    val allNull = Seq((3L, Seq[Option[Long]](None, None))).toDF("id", "hs")
      .select(graft.functions.MinhashMinsExpr.minhash_mins($"hs",
        (0 until 4).map(ScalableDedup.minhashA),
        (0 until 4).map(ScalableDedup.minhashB),
        ScalableDedup.MinhashP).as("fused"))
      .collect()
    assert(allNull.head.isNullAt(0),
      s"all-null input must yield NULL, got ${allNull.head.get(0)}")
    val k = 4
    val composed = (0 until k).map { i =>
      array_min(transform($"hs", h =>
        (h * lit(ScalableDedup.minhashA(i)) + lit(ScalableDedup.minhashB(i))) %
          lit(ScalableDedup.MinhashP)))
    }
    df.select($"id",
        graft.functions.MinhashMinsExpr.minhash_mins($"hs",
          (0 until k).map(ScalableDedup.minhashA),
          (0 until k).map(ScalableDedup.minhashB),
          ScalableDedup.MinhashP).as("fused"),
        array(composed: _*).as("composed"))
      .collect().foreach { r =>
        assert(r.getSeq[Long](1) == r.getSeq[Long](2),
          s"id ${r.getLong(0)}: ${r.getSeq[Long](1)} != ${r.getSeq[Long](2)}")
      }
  }

  test("shingle_hash32 equals the composed shingleHashes(shingleSet) chain bit for bit") {
    // fused expression vs the string-churn chain, on the real corpus
    // PLUS the edge shapes (shorter-than-n, empty, multibyte unicode)
    val corpus = Tables.documents(spark, sf()).limit(150)
      .select($"doc_id".cast("string").as("id"), $"text")
    val edges = Seq(("e1", "abc"), ("e2", ""), ("e3", "日本語のテキストです"),
      ("e4", "exactly4"), ("e5", "aaaaaaaa")).toDF("id", "text")
    corpus.union(edges).select($"id",
        graft.functions.ShingleHash32Expr.shingle_hash32($"text", 4).as("fused"),
        ScalableDedup.shingleHashes(
          graft.operators.Decontaminate.shingleSet("text", 4)).as("composed"))
      .collect().foreach { r =>
        assert(r.getSeq[Long](1) == r.getSeq[Long](2),
          s"doc ${r.getString(0)}: ${r.getSeq[Long](1)} != ${r.getSeq[Long](2)}")
      }
  }

  test("dedup_minhash_lsh: shuffled rescore path is pair-identical to the broadcast path") {
    // the rescore joins carry no broadcast hint so AQE picks broadcast
    // vs shuffle by runtime size; past broadcast reach the id-keyed
    // shuffle join must produce the IDENTICAL judged pair set
    def run(): Set[(Long, Long, Double)] = graft.operators.TrainingData
      .dedupMinhashLsh(spark, sf()).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val broadcastPath = run()
    val conf = spark.conf
    val prev = conf.get("spark.sql.autoBroadcastJoinThreshold")
    val prevAqe = conf.get("spark.sql.adaptive.autoBroadcastJoinThreshold", prev)
    try {
      conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
      val shuffledPath = run()
      assert(shuffledPath == broadcastPath,
        "shuffled rescore diverged from broadcast rescore")
      assert(shuffledPath.nonEmpty)
    } finally {
      conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
      conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", prevAqe)
    }
  }

  test("minhashBandedCandidates maxBucketSize drops only degenerate buckets") {
    // 30 empty-ish identical docs share every band bucket (a
    // boilerplate cluster) — a cap below 30 must remove ALL their
    // pairs while keeping a genuine small-cluster pair intact
    val docs = ((1L to 30L).map(i => (i, "all these documents share the exact same boilerplate text")) ++
      Seq((31L, "one genuinely unique document about salmon migration patterns"),
          (32L, "one genuinely unique document about salmon migration patterns")))
      .toDF("doc_id", "text")
      .select($"doc_id",
        graft.functions.ShingleHash32Expr.shingle_hash32($"text", 4).as("hs"))
    def pairs(cap: Option[Int]) = minhashBandedCandidates(
        docs, "doc_id", "hs", bands = 4, rowsPerBand = 4, maxBucketSize = cap)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val uncapped = pairs(None)
    assert(uncapped.size == 30 * 29 / 2 + 1) // boilerplate clique + the true pair
    val capped = pairs(Some(10))
    assert(capped == Set((31L, 32L)),
      "cap must drop the 30-doc boilerplate clique and keep the 2-doc true pair")
  }

  test("maxBucketSize: a true pair INSIDE a dropped hot bucket survives " +
      "through an independent band (the recall argument, pinned)") {
    // the BASELINE.md independent-chance argument as a fixture: docs 1,2
    // are a true near-dup pair whose shingle sets CONTAIN the boilerplate
    // core shared by 50 other docs. Bands whose minhashes are all
    // core-determined put 1,2 in the 52-doc hot bucket — which the cap
    // drops, pair and all. Recall survives only because some OTHER band's
    // minhash is determined by the pair's shared distinctive suffix,
    // giving a bucket of exactly {1, 2} no cap touches. Hash functions
    // are pinned, so this is deterministic, not flaky.
    val core = (0 until 64).map(k => 100000L + k * 9973L)
    val suffix = (0 until 12).map(k => 900000L + k * 7919L)
    val rows =
      Seq((1L, core ++ suffix),                         // true pair...
          (2L, core ++ suffix.updated(11, 999999L))) ++ // ...one hash differs
      (10L until 60L).map(i => (i, core :+ (200000L + i))) // boilerplate
    val df = rows.toDF("doc_id", "hs")
    val bands = 8; val rpb = 2
    // the fixture must have teeth: (a) at least one hot band bucket
    // holds BOTH pair docs and 50 boilerplate docs...
    val sigs = minhashBandSignatures(df, "doc_id", "hs",
        bands, rpb)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getString(2)))
    val byBucket = sigs.groupBy(s => (s._2, s._3)).view
      .mapValues(_.map(_._1).toSet).toMap
    val hot = byBucket.filter(_._2.size > 10)
    assert(hot.exists(b => b._2.contains(1L) && b._2.contains(2L)),
      s"fixture lost its teeth: no hot bucket holds the pair; " +
        s"bucket sizes ${byBucket.values.map(_.size).toSeq.sorted.reverse.take(5)}")
    // ...and (b) some small bucket holds exactly the pair
    assert(byBucket.values.exists(_ == Set(1L, 2L)),
      "fixture lost its teeth: no pair-only bucket")
    // the cap drops every hot bucket, yet the pair is still found
    val capped = minhashBandedCandidates(df, "doc_id", "hs",
        bands, rpb, maxBucketSize = Some(10))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(capped.contains((1L, 2L)),
      s"true pair lost to the bucket cap: $capped")
    // and the cap genuinely bit: the 50-doc boilerplate clique is gone
    assert(!capped.exists { case (a, b) => a >= 10L && b >= 10L },
      s"boilerplate pairs survived the cap: ${capped.filter(_._1 >= 10L)}")
  }

  test("llm_lsh_append: incremental near-dup append equals the one-shot recompute") {
    // real corpus: the incremental decomposition (store ∪ delta bands,
    // delta-only candidate discovery) must reproduce the full pair set
    val full = graft.operators.TrainingData.dedupMinhashLsh(spark, sf())
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    val inc = graft.operators.TrainingData.llmLshAppend(spark, sf())
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    assert(inc == full)
    assert(full.nonEmpty)
  }

  test("llm_lsh_append: a cross-batch near-dup pair is found by the delta×store join") {
    // constructed corpus where the ONLY dup pair crosses the 60% id
    // split (base doc 2 vs delta doc 9): the pair can only come from
    // the delta⋈store candidate join, so this pins the path the real
    // table might not exercise
    val tmp = java.nio.file.Files.createTempDirectory("graft_lsh_append").toFile
    try {
      val texts = (1L to 10L).map { i =>
        // non-pair docs share almost no 4-char shingles (each repeats
        // its own token); 2 and 9 are identical → the only jac ≥ 0.8
        val t =
          if (i == 2 || i == 9) "the quick brown fox jumps over the lazy dog again and again"
          else Seq.fill(12)(s"tok${i}x").mkString(" ")
        (i, t)
      }
      texts.toDF("doc_id", "text").repartition(1)
        .write.mode("overwrite").parquet(s"$tmp/documents.parquet")
      val split = 10L * 3 / 5 // = 6: base ids < 6, delta ids >= 6
      assert(2 < split && 9 >= split)
      val pairs = graft.operators.TrainingData.llmLshAppend(spark, tmp.toString)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(pairs == Set((2L, 9L)))
      val full = graft.operators.TrainingData.dedupMinhashLsh(spark, tmp.toString)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(full == pairs)
    } finally {
      def rm(f: java.io.File): Unit = {
        Option(f.listFiles).foreach(_.foreach(rm)); f.delete(); ()
      }
      rm(tmp)
    }
  }
}
