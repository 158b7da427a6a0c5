package graft

import org.apache.spark.sql.functions._

import graft.operators.Ann

class AnnSpec extends SparkSpecBase {
  import spark.implicits._

  private lazy val emb = Tables.embeddings(spark, sf()) // 500 × 64-dim
  private lazy val probes = emb.filter($"vec_id" < 5)

  private def topkMap(df: org.apache.spark.sql.DataFrame): Map[Long, Seq[Long]] =
    df.select($"probe_id", $"nb", $"sim")
      .collect()
      .groupBy(_.getLong(0))
      .map { case (p, rows) =>
        p -> rows.sortBy(r => (-r.getDouble(2), r.getLong(1))).map(_.getLong(1)).toSeq
      }

  test("brute force returns k neighbors per probe, self excluded, sim descending") {
    val got = Ann.bruteForceTopK(emb, probes, "vec_id", "embedding", k = 5)
    val m = topkMap(got)
    assert(m.keySet == Set(0L, 1L, 2L, 3L, 4L))
    assert(m.values.forall(_.size == 5))
    assert(m.forall { case (p, nbs) => !nbs.contains(p) })
  }

  /** Mean recall@5 of `approx` against brute force over the given probes. */
  private def recallAt5(approx: Map[Long, Seq[Long]], exact: Map[Long, Seq[Long]]): Double =
    exact.keys.toSeq.map { p =>
      approx.getOrElse(p, Seq.empty).toSet.intersect(exact(p).toSet).size.toDouble / 5.0
    }.sum / exact.size

  test("persisted IVF index equals brute force at full probe and prunes partitions") {
    import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    // AQE wraps materialized subtrees in QueryStageExec leaves; a plain
    // collect stops there, so descend explicitly
    def allScans(p: SparkPlan): Seq[FileSourceScanExec] = p match {
      case a: AdaptiveSparkPlanExec => allScans(a.executedPlan)
      case q: QueryStageExec => allScans(q.plan)
      case s: FileSourceScanExec => Seq(s)
      case other => other.children.flatMap(allScans)
    }
    val dir = java.nio.file.Files.createTempDirectory("ivfidx").toString + "/idx"
    Ann.buildIvfIndex(spark, emb, "vec_id", "embedding", dir, nlist = 8)
    val exact = topkMap(Ann.bruteForceTopK(emb, probes, "vec_id", "embedding", k = 5))
    // probing EVERY list makes the index exhaustive: exactly brute force
    val full = topkMap(Ann.ivfTopKIndexed(spark, dir, probes, "vec_id",
      "embedding", k = 5, nprobe = 8))
    assert(full == exact, "nprobe=nlist must equal brute force")
    // partial probe still finds a share of the true neighbors
    val approx = topkMap(Ann.ivfTopKIndexed(spark, dir, probes, "vec_id",
      "embedding", k = 5, nprobe = 4))
    assert(recallAt5(approx, exact) > 0.3, s"recall: ${recallAt5(approx, exact)}")
    // one probe at nprobe=1 reads ONE list partition, not the index
    val one = Ann.ivfTopKIndexed(spark, dir, emb.filter($"vec_id" === 0L),
      "vec_id", "embedding", k = 5, nprobe = 1)
    one.collect()
    val scans = allScans(one.queryExecution.executedPlan)
    val listScan = scans.find(_.metadata("Location").contains("/lists"))
      .getOrElse(fail(s"no lists scan among: ${scans.map(_.metadata("Location"))}"))
    assert(listScan.metrics("numPartitions").value == 1,
      s"expected 1 of 8 list partitions read, got " +
        s"${listScan.metrics("numPartitions").value}")
    // REBUILDING in place clears the whole lists tree: rows routed by the
    // replaced centroids must not survive beside the new ones
    emb.limit(3).write.parquet(s"$dir/lists/list_id=99")
    Ann.buildIvfIndex(spark, emb, "vec_id", "embedding", dir, nlist = 8)
    val listDirs = new java.io.File(s"$dir/lists").listFiles()
      .map(_.getName).filter(_.startsWith("list_id=")).sorted.toSeq
    assert(listDirs == (0 until 8).map(i => s"list_id=$i"), listDirs.mkString(","))
    assert(spark.read.parquet(s"$dir/lists").count() == emb.count())
  }

  test("indexed partial-probe recall is monotone in nprobe and exact at nprobe = nlist") {
    // The judged ann_ivf_exact row pins the nprobe = nlist endpoint
    // against the DuckDB exact-KNN oracle; this property pins the whole
    // approach path on the SAME persisted index: raising nprobe only
    // grows each probe's candidate list set (the routing keeps the np
    // nearest centroids, a prefix ordering), and a candidate superset
    // can never evict a true top-5 member — so recall@5 against the
    // exact answer is provably non-decreasing, ending at exactly 1.0.
    val dir = java.nio.file.Files.createTempDirectory("ivfmono").toString + "/idx"
    Ann.buildIvfIndex(spark, emb, "vec_id", "embedding", dir, nlist = 8)
    val exact = topkMap(Ann.bruteForceTopK(emb, probes, "vec_id", "embedding", k = 5))
    val recalls = Seq(1, 2, 4, 8).map { np =>
      np -> recallAt5(topkMap(Ann.ivfTopKIndexed(spark, dir, probes,
        "vec_id", "embedding", k = 5, nprobe = np)), exact)
    }
    info("indexed IVF recall@5 by nprobe: " +
      recalls.map { case (np, r) => f"$np:$r%.2f" }.mkString(" "))
    recalls.sliding(2).foreach { case Seq((np0, r0), (np1, r1)) =>
      assert(r1 >= r0, s"recall fell from $r0 (nprobe=$np0) to $r1 (nprobe=$np1)")
    }
    assert(recalls.last._2 == 1.0, s"nprobe = nlist must be exact: $recalls")
  }

  test("building an IVF index refuses vectors no list can hold and keeps the old index") {
    val dir = java.nio.file.Files.createTempDirectory("ivfbad").toString + "/idx"
    val good = emb.filter($"vec_id" < 100).select($"vec_id", $"embedding")
    Ann.buildIvfIndex(spark, good, "vec_id", "embedding", dir, nlist = 4)
    // inside the learning sample: a null, a short and a NaN-holding vector
    Seq(None, Some(Seq(1f, 2f)), Some(Seq.fill(63)(0.5f) :+ Float.NaN)).foreach { v =>
      val bad = Seq((9001L, v)).toDF("vec_id", "embedding")
      assertThrows[IllegalArgumentException] {
        Ann.buildIvfIndex(spark, good.unionByName(bad), "vec_id", "embedding", dir, nlist = 4)
      }
    }
    // outside it: a short vector whose hash ranks after more than
    // sampleCap(4) good rows, so only the assignment pass sees it
    val big = spark.range(6000).select($"id".as("vec_id"),
      array(sin($"id"), cos($"id")).as("embedding"))
    val h = xxhash64($"embedding")
    val cands = (0 until 100).map(i => (100000L + i, Seq(i.toDouble))).toDF("vec_id", "embedding")
    val last = cands.select($"vec_id", h).orderBy(h.desc).head()
    val rest = big.filter(h < last.getLong(1))
    assert(rest.count() > graft.functions.KMeansLocal.sampleCap(4))
    val e = intercept[IllegalArgumentException] {
      Ann.buildIvfIndex(spark, rest.unionByName(cands.filter($"vec_id" === last.getLong(0))),
        "vec_id", "embedding", dir, nlist = 4)
    }
    assert(e.getMessage.contains("no IVF list can hold it"), e.getMessage)
    // every refusal came before the old index was touched
    val exact = topkMap(Ann.bruteForceTopK(good, probes, "vec_id", "embedding", k = 5))
    assert(topkMap(Ann.ivfTopKIndexed(spark, dir, probes, "vec_id", "embedding",
      k = 5, nprobe = 4)) == exact)
  }

  test("building an IVF index rejects an empty corpus") {
    val empty = Seq.empty[(Long, Seq[Float])].toDF("vec_id", "embedding")
    val dir = java.nio.file.Files.createTempDirectory("ivfempty").toString + "/idx"
    assertThrows[IllegalArgumentException] {
      Ann.buildIvfIndex(spark, empty, "vec_id", "embedding", dir, nlist = 8)
    }
  }

}
