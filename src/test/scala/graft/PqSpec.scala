package graft

import org.apache.spark.sql.functions._

import graft.operators.{Ann, Pq}

/** Product quantization (the ANN compression tier): code compactness and
  * determinism, shortlist+rerank recall against brute force, exactness
  * of the rerank values, and the persisted-code-table round trip. */
class PqSpec extends SparkSpecBase {
  import spark.implicits._

  private lazy val emb = Tables.embeddings(spark, sf()) // 500 × 64-dim
  private lazy val probes = emb.filter($"vec_id" < 5)
  private lazy val cb = Pq.train(spark, emb, "embedding", m = 8, k = 16)

  private def topkMap(df: org.apache.spark.sql.DataFrame): Map[Long, Seq[Long]] =
    df.select($"probe_id", $"nb", $"sim")
      .collect()
      .groupBy(_.getLong(0))
      .map { case (p, rows) =>
        p -> rows.sortBy(r => (-r.getDouble(2), r.getLong(1))).map(_.getLong(1)).toSeq
      }

  test("codes are m small ints per vector, deterministic across encodes") {
    val a = Pq.encode(emb, "embedding", cb)
      .select($"vec_id", $"codes").collect()
      .map(r => r.getLong(0) -> r.getSeq[Int](1)).toMap
    assert(a.values.forall(c => c.size == 8 && c.forall(i => i >= 0 && i < 16)),
      "every code must pick a real centroid in every subspace")
    val b = Pq.encode(emb, "embedding", cb)
      .select($"vec_id", $"codes").collect()
      .map(r => r.getLong(0) -> r.getSeq[Int](1)).toMap
    assert(a == b, "encoding is a pure function of (vector, codebook)")
  }

  test("shortlist + exact rerank recovers brute-force neighbors") {
    // 200 probes (1,000 neighbour slots), so the bound measures the
    // quantizer rather than the luck of a handful of probes
    val wide = emb.filter($"vec_id" < 200)
    val exact = topkMap(Ann.bruteForceTopK(emb, wide, "vec_id", "embedding", k = 5))
    val pq = topkMap(Pq.pqTopK(emb, wide, "vec_id", "embedding", cb,
      k = 5, shortlist = 50))
    assert(pq.keySet == exact.keySet)
    val recall = exact.map { case (p, nbs) =>
      pq(p).toSet.intersect(nbs.toSet).size.toDouble / nbs.size
    }.sum / exact.size
    info(f"PQ recall@5 at shortlist 50 over ${exact.size} probes: $recall%.3f")
    // a random 50-of-500 shortlist would give recall ~0.1; the ADC
    // shortlist must carry real signal even on unclustered N(0, 0.12)
    // vectors, and the rerank is exact on whatever the shortlist holds
    assert(recall >= 0.7, s"shortlist+rerank recall $recall < 0.7")
  }

  test("reranked sims equal the exact cosine for the pairs it returns") {
    val got = Pq.pqTopK(emb, probes, "vec_id", "embedding", cb, k = 5)
      .select($"probe_id", $"nb", $"sim")
    val truth = Ann.bruteForceTopK(emb, probes, "vec_id", "embedding", k = 499)
      .select($"probe_id", $"nb", $"sim".as("exact_sim"))
    val joined = got.join(truth, Seq("probe_id", "nb")).collect()
    assert(joined.nonEmpty)
    joined.foreach { r =>
      assert(math.abs(r.getDouble(2) - r.getDouble(3)) < 1e-9,
        s"rerank must be EXACT cosine, got ${r.getDouble(2)} vs ${r.getDouble(3)}")
    }
  }

  test("the code table round-trips through parquet and serves unchanged") {
    val dir = java.nio.file.Files.createTempDirectory("pq").toString + "/codes"
    Pq.encode(emb, "embedding", cb).select($"vec_id", $"codes")
      .write.parquet(dir)
    val reread = spark.read.parquet(dir)
      .collect().map(r => r.getLong(0) -> r.getSeq[Int](1)).toMap
    val direct = Pq.encode(emb, "embedding", cb)
      .select($"vec_id", $"codes").collect()
      .map(r => r.getLong(0) -> r.getSeq[Int](1)).toMap
    assert(reread == direct, "persisted codes must equal freshly-encoded ones")
  }

  test("IVFADC: routed ADC + rerank approximates brute force, scans a fraction") {
    val exact = topkMap(Ann.bruteForceTopK(emb, probes, "vec_id", "embedding", k = 5))
    val got = topkMap(Pq.ivfPqTopK(spark, emb, probes, "vec_id", "embedding",
      cb, nlist = 16, nprobe = 6, k = 5, shortlist = 50))
    assert(got.keySet == exact.keySet)
    val recall = exact.map { case (p, nbs) =>
      got(p).toSet.intersect(nbs.toSet).size.toDouble / nbs.size
    }.sum / exact.size
    // two stacked approximations (routing drops 10/16 lists, then the
    // ADC shortlist); on unclustered vectors routing is the lossy one —
    // assert clearly-above-random signal rather than near-exactness
    assert(recall >= 0.5, s"IVFADC recall $recall < 0.5")
    // and the full-probe configuration recovers the PQ-only result
    val full = topkMap(Pq.ivfPqTopK(spark, emb, probes, "vec_id", "embedding",
      cb, nlist = 16, nprobe = 16, k = 5, shortlist = 50))
    val pqOnly = topkMap(Pq.pqTopK(emb, probes, "vec_id", "embedding", cb,
      k = 5, shortlist = 50))
    assert(full == pqOnly,
      "probing every list must equal the unrouted ADC scan exactly")
  }

  test("shortlist recall is monotone in width and exact at full rerank") {
    // The judged ann_pq_rerank_exact row pins the shortlist = corpus
    // endpoint against the exact-KNN oracle; this property pins the
    // truncating regime on the same codebooks: widening the shortlist
    // only grows the ADC-ordered candidate prefix, and a superset can
    // never evict a true top-5 member from the exact-cosine rerank —
    // recall@5 is provably non-decreasing and ends at exactly 1.0.
    val exact = topkMap(Ann.bruteForceTopK(emb, probes, "vec_id", "embedding", k = 5))
    val n = emb.count().toInt
    val recalls = Seq(5, 20, 80, n).map { w =>
      w -> {
        val got = topkMap(Pq.pqTopK(emb, probes, "vec_id", "embedding", cb,
          k = 5, shortlist = w))
        exact.keys.toSeq.map { p =>
          got.getOrElse(p, Seq.empty).toSet.intersect(exact(p).toSet).size / 5.0
        }.sum / exact.size
      }
    }
    info("PQ recall@5 by shortlist width: " +
      recalls.map { case (w, r) => f"$w:$r%.2f" }.mkString(" "))
    recalls.sliding(2).foreach { case Seq((w0, r0), (w1, r1)) =>
      assert(r1 >= r0, s"recall fell from $r0 (w=$w0) to $r1 (w=$w1)")
    }
    assert(recalls.last._2 == 1.0, s"full-corpus shortlist must be exact: $recalls")
  }

  test("native PqEncodeExpr equals the independent HOF encode bit-for-bit") {
    val expr = Pq.encode(emb, "embedding", cb)
      .select($"vec_id", $"codes").collect()
      .map(r => r.getLong(0) -> r.getSeq[Int](1)).toMap
    val hof = Pq.encodeHof(emb, "embedding", cb)
      .select($"vec_id", $"codes").collect()
      .map(r => r.getLong(0) -> r.getSeq[Int](1)).toMap
    assert(expr == hof,
      "the fused codegen'd encode and the HOF formulation must agree " +
        "on every code (same normalize, same strict-< first-min argmin)")
  }

  test("native PqAdcExpr equals the HOF asymmetric distance bit-for-bit") {
    import graft.functions.VectorFunctions
    val vn = {
      val v = VectorFunctions.toDoubleVec($"embedding")
      val n = VectorFunctions.norm(v)
      when(n === 0d, v).otherwise(transform(v, x => x / n))
    }
    val coded = Pq.encode(emb, "embedding", cb)
      .select($"vec_id", vn.as("vp"), $"codes")
    val both = coded
      .withColumn("d_expr", graft.functions.PqExprs.pq_adc($"vp", $"codes", cb.books))
      .withColumn("d_hof", Pq.adcDistHof($"vp", $"codes", cb))
      .select($"vec_id", $"d_expr", $"d_hof").collect()
    assert(both.nonEmpty)
    both.foreach { r =>
      assert(java.lang.Double.doubleToLongBits(r.getDouble(1)) ==
        java.lang.Double.doubleToLongBits(r.getDouble(2)),
        s"ADC mismatch for ${r.getLong(0)}: ${r.getDouble(1)} vs ${r.getDouble(2)}")
    }
  }

  test("PQ expressions null out on malformed input instead of mis-scoring") {
    val bad = Seq((1L, Seq.fill(63)(0.5f))).toDF("vec_id", "embedding") // wrong dim
    val c = Pq.encode(bad, "embedding", cb).select($"codes").collect()
    assert(c.head.isNullAt(0), "length-mismatched vector must encode to null")
    val badCodes = Seq((Seq.fill(64)(0.5), Seq(0, 0, 0, 0, 0, 0, 0, 99)))
      .toDF("vp", "codes") // code 99 out of range for k=16
    val d = badCodes.select(
      graft.functions.PqExprs.pq_adc($"vp", $"codes", cb.books).as("d")).collect()
    assert(d.head.isNullAt(0), "out-of-range code must distance to null")
  }

  test("training rejects an empty corpus and a non-divisible dim") {
    val empty = Seq.empty[(Long, Seq[Float])].toDF("vec_id", "embedding")
    assertThrows[IllegalArgumentException] {
      Pq.train(spark, empty, "embedding")
    }
    assertThrows[IllegalArgumentException] {
      Pq.train(spark, emb, "embedding", m = 7) // 64 % 7 != 0
    }
  }

  test("coarse training rejects an empty corpus") {
    val empty = Seq.empty[(Long, Seq[Float])].toDF("vec_id", "embedding")
    assertThrows[IllegalArgumentException] {
      Pq.trainCoarse(spark, empty, "embedding")
    }
  }
}
