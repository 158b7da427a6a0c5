package graft

import org.apache.spark.sql.functions._

class CorpusPipelineSpec extends SparkSpecBase {
  import spark.implicits._

  private val long1 = ("the quick brown fox jumps over the lazy dog again and " +
    "again today with more useful words attached to make the quality score pass")
  private val long1Near = long1.replace("today", "tonight")
  private val long2 = ("completely different content about query engines big " +
    "shuffles broadcast joins and vectorized scans in a modern analytics stack")

  private def docs = Seq(
    (1L, long1),
    (2L, long1),        // exact dup of 1 → dropped at stage 3
    (3L, long1Near),    // near-dup of 1 → dropped at stage 4
    (4L, long2),
    (5L, "!!! ;;; ??? 123 456 ,,, ...") // no alpha, heavy punct: gated at stage 2
  ).toDF("doc_id", "text")

  test("curate drops low-quality, exact dups and near-dup cluster members") {
    val out = java.nio.file.Files.createTempDirectory("corpus").toString
    val s = CorpusPipeline.curate(spark, docs, out, minQuality = 0.2)
    assert(s.input == 5)
    assert(s.afterQuality == 4)       // doc 5 gated
    assert(s.afterExactDedup == 3)    // doc 2 deduped (keeper 1)
    assert(s.curated == 2)            // doc 3 clustered with 1, keeper 1 stays
    assert(s.nearDupMembersRemoved == 1)
    val kept = spark.read.parquet(s"$out/corpus")
      .select($"doc_id").collect().map(_.getLong(0)).toSet
    assert(kept == Set(1L, 4L))
    val stats = spark.read.parquet(s"$out/lang_stats")
    assert(stats.count() >= 1)
    assert(stats.columns.toSeq == Seq("lang_pred", "docs", "avg_quality", "avg_chars"))
  }

  test("curate with a benchmark quarantines contaminated docs and scrubs PII") {
    val piiDoc = long2 + " reach me at owner@example.net thanks"
    val docsPii = Seq((1L, long1), (4L, piiDoc)).toDF("doc_id", "text")
    // benchmark contains doc 1's exact text (containment 1.0 ≥ 0.8)
    val bench = Seq((900L, long1)).toDF("doc_id", "text")
    val out = java.nio.file.Files.createTempDirectory("hyg").toString
    val s = CorpusPipeline.curate(spark, docsPii, out, minQuality = 0.2,
      benchmark = Some(bench), redactPii = true)
    assert(s.decontaminated == 1)
    assert(s.curated == 1)
    val kept = spark.read.parquet(s"$out/corpus").select($"doc_id", $"text")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(kept.keySet == Set(4L))
    assert(kept(4L).contains("[EMAIL]") && !kept(4L).contains("example.net"))
  }

  test("curate is idempotent: curating a curated corpus removes nothing") {
    val out1 = java.nio.file.Files.createTempDirectory("corpus1").toString
    CorpusPipeline.curate(spark, docs, out1, minQuality = 0.2)
    val curated = spark.read.parquet(s"$out1/corpus").select($"doc_id", $"text")
    val out2 = java.nio.file.Files.createTempDirectory("corpus2").toString
    val s2 = CorpusPipeline.curate(spark, curated, out2, minQuality = 0.2)
    assert(s2.input == s2.curated)
  }

  test("append-mode dedup equals full-corpus curation across two batches") {
    // batch 2 exercises every append path: exact dup of history (16),
    // near-dup of history (17: same tokens as long2, reordered → SimHash
    // distance 0 but different content hash), a fresh doc (18), a
    // within-batch near-dup of it (19), and a low-quality doc (20)
    val long3 = ("fresh material describing streaming watermarks state stores " +
      "and session windows for large scale event processing pipelines here")
    // reordered tokens: same SimHash (distance 0), different content hash —
    // a guaranteed near-dup that is not an exact dup
    val long3Near = long3.split(" ").reverse.mkString(" ")
    val long2Shuffled = long2.split(" ").reverse.mkString(" ")
    val batch1 = docs
    val batch2 = Seq(
      (16L, long2),
      (17L, long2Shuffled),
      (18L, long3),
      (19L, long3Near),
      (20L, "??? !!! ;;; 000 111")
    ).toDF("doc_id", "text")

    // full-corpus reference over the union
    val full = java.nio.file.Files.createTempDirectory("full").toString
    CorpusPipeline.curate(spark, batch1.union(batch2), full, minQuality = 0.2)
    val wantIds = spark.read.parquet(s"$full/corpus")
      .select($"doc_id").collect().map(_.getLong(0)).toSet

    // incremental: batch 1 against an empty store, batch 2 against the
    // grown store
    val out1 = java.nio.file.Files.createTempDirectory("inc1").toString
    val s1 = CorpusPipeline.appendBatch(spark,
      CorpusPipeline.emptySignatureStore(spark), batch1, out1, minQuality = 0.2)
    val out2 = java.nio.file.Files.createTempDirectory("inc2").toString
    val s2 = CorpusPipeline.appendBatch(spark,
      spark.read.parquet(s"$out1/signatures"), batch2, out2, minQuality = 0.2)

    val gotIds =
      spark.read.parquet(s"$out1/accepted").select($"doc_id").collect().map(_.getLong(0)).toSet ++
      spark.read.parquet(s"$out2/accepted").select($"doc_id").collect().map(_.getLong(0)).toSet
    assert(gotIds == wantIds)
    assert(gotIds == Set(1L, 4L, 18L))
    assert(s1.accepted == 2 && s2.accepted == 1)
    assert(s2.afterQuality == 4)     // doc 20 gated
    assert(s2.newContent == 3)       // 16 dropped: content hash already in store
    assert(s2.dupOfHistory == 1)     // 17 matches history by signature
    // the store grows by every near-dup-stage doc, keepers or not
    assert(spark.read.parquet(s"$out2/signatures").count() == s1.newContent + s2.newContent)
  }

  test("append-mode drops a whole batch cluster that touches history") {
    // 30 and 31 are near-dups of each other AND of history docs (1 / 3).
    // Full-corpus clustering would fold both into doc 1's cluster — append
    // mode must drop BOTH, not elect 31 as a fresh cluster keeper
    val store0 = java.nio.file.Files.createTempDirectory("st0").toString
    CorpusPipeline.appendBatch(spark,
      CorpusPipeline.emptySignatureStore(spark), docs, store0, minQuality = 0.2)
    val batch = Seq(
      (30L, long1.split(" ").reverse.mkString(" ")),
      (31L, long1Near.split(" ").reverse.mkString(" "))
    ).toDF("doc_id", "text")
    val out = java.nio.file.Files.createTempDirectory("st1").toString
    val s = CorpusPipeline.appendBatch(spark,
      spark.read.parquet(s"$store0/signatures"), batch, out, minQuality = 0.2)
    assert(s.accepted == 0)
    assert(spark.read.parquet(s"$out/accepted").count() == 0)
  }

  test("appendBatch refuses to overwrite the store it is reading") {
    val dir = java.nio.file.Files.createTempDirectory("selfow").toString
    CorpusPipeline.appendBatch(spark,
      CorpusPipeline.emptySignatureStore(spark), docs, dir, minQuality = 0.2)
    val store = spark.read.parquet(s"$dir/signatures")
    val e = intercept[IllegalArgumentException] {
      CorpusPipeline.appendBatch(spark, store, docs, dir, minQuality = 0.2)
    }
    assert(e.getMessage.contains("fresh outDir"))
    // ancestry, not substrings: an outDir sharing a string PREFIX with the
    // store path (".../sig" vs ".../signatures") is a legal target
    val sib = s"$dir/sig"
    val s2 = CorpusPipeline.appendBatch(spark, store, docs, sib, minQuality = 0.2)
    assert(s2.accepted == 0) // the whole batch is already in history
    // a SYMLINK to the store dir must not slip past the guard either
    // (inputFiles reports resolved paths; the guard canonicalizes file://)
    val link = java.nio.file.Paths.get(
      java.nio.file.Files.createTempDirectory("lnk").toString, "alias")
    java.nio.file.Files.createSymbolicLink(link, java.nio.file.Paths.get(dir))
    val e2 = intercept[IllegalArgumentException] {
      CorpusPipeline.appendBatch(spark, store, docs, link.toString, minQuality = 0.2)
    }
    assert(e2.getMessage.contains("fresh outDir"))
  }

  test("curate runs over the judged documents table") {
    val out = java.nio.file.Files.createTempDirectory("corpusd").toString
    val s = CorpusPipeline.curate(spark, Tables.documents(spark, sf()), out)
    assert(s.curated > 0 && s.curated <= s.input)
  }

  test("curate guards only its write targets, not the whole output root") {
    import spark.implicits._
    val out = java.nio.file.Files.createTempDirectory("corpusroot").toString
    // raw input kept under the same root, BESIDE corpus/ and lang_stats/,
    // is a legal layout the guard must not reject
    docs.write.parquet(s"$out/raw")
    val s = CorpusPipeline.curate(spark, spark.read.parquet(s"$out/raw"), out)
    assert(s.curated > 0)
    // input under an actual write target still fails fast
    val e = intercept[IllegalArgumentException] {
      CorpusPipeline.curate(spark, spark.read.parquet(s"$out/corpus"), out)
    }
    assert(e.getMessage.contains("corpus"), e.getMessage)
    // hamming radius validation matches the media twin: negative radii
    // would silently disable near-dup removal, so they are rejected
    val e2 = intercept[IllegalArgumentException] {
      CorpusPipeline.curate(spark, docs, out, maxHamming = -1)
    }
    assert(e2.getMessage.contains("0..3"), e2.getMessage)
    val e3 = intercept[IllegalArgumentException] {
      CorpusPipeline.appendBatch(spark,
        CorpusPipeline.emptySignatureStore(spark), docs,
        java.nio.file.Files.createTempDirectory("nh").toString, maxHamming = -1)
    }
    assert(e3.getMessage.contains("0..3"), e3.getMessage)
  }
}
