package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.streaming.StreamingOps

/** Streaming twins run against a MemoryStream and must agree with their
  * batch forms over the same bounded input (SURVEY.md §2.9 / Phase 4). */
class StreamingOpsSpec extends SparkSpecBase {
  import spark.implicits._

  test("readDocumentsStream reads the real corpus file and annotates it") {
    val streamed = StreamingOps.annotateDocuments(
      StreamingOps.readDocumentsStream(spark, sf()))
      .select($"doc_id", $"n_chars", $"quality", $"lang_pred", $"fp")
    val q = streamed.writeStream.format("memory").queryName("t_docs")
      .outputMode("append").start()
    try q.processAllAvailable() finally q.stop()
    val got = spark.table("t_docs")
    val want = CorpusPipeline.annotate(Tables.documents(spark, sf()))
      .select($"doc_id", $"n_chars", $"quality", $"lang_pred", $"fp")
    assert(got.count() == want.count())
    assert(got.except(want).count() == 0 && want.except(got).count() == 0)
  }

  test("streaming corpus annotation equals the batch annotation row-for-row") {
    val docs = Seq(
      (1L, "the quick brown fox and the lazy dog", "en", "s", 36),
      (2L, "der hund und die katze", "de", "s", 22),
      (3L, "!!! ??? 123", "und", "s", 11))
    implicit val ctx = spark.sqlContext
    val ms = MemoryStream[(Long, String, String, String, Int)]
    val streamed = StreamingOps.annotateDocuments(
      ms.toDF().toDF("doc_id", "text", "lang", "source", "n_chars"))
    val q = streamed.writeStream.format("memory").queryName("t_corpus")
      .outputMode("append").start()
    try { ms.addData(docs: _*); q.processAllAvailable() } finally q.stop()
    val got = spark.table("t_corpus")
      .select($"doc_id", $"quality", $"lang_pred", $"fp")
    val want = StreamingOps.annotateDocuments(
      docs.toDF("doc_id", "text", "lang", "source", "n_chars"))
      .select($"doc_id", $"quality", $"lang_pred", $"fp")
    assert(got.count() == 3)
    assert(got.except(want).count() == 0 && want.except(got).count() == 0)
  }

  test("incremental MEDIA dedup stream drops cross-batch near-duplicates") {
    import graft.multimodal.Multimodal
    def bmp(f: (Int, Int) => (Int, Int, Int)) = Multimodal.encodeBmp24(16, 16, f)
    val imgA = bmp((x, _) => if (x < 8) (0, 0, 0) else (255, 255, 255))
    val imgANoisy = bmp((x, y) => if ((x, y) == (1, 1)) (40, 40, 40)
      else if (x < 8) (0, 0, 0) else (255, 255, 255))
    val imgOrtho = bmp((_, y) => if (y < 8) (255, 255, 255) else (0, 0, 0))
    val stateDir = java.nio.file.Files.createTempDirectory("incmedia").toString
    implicit val ctx = spark.sqlContext
    val ms = MemoryStream[(Long, String, Array[Byte], String, Int, Int, Int)]
    val q = StreamingOps.incrementalMediaDedupStream(
      ms.toDF().toDF("media_id", "kind", "media", "format",
        "width", "height", "sample_rate"), stateDir).start()
    try {
      ms.addData((1L, "image", imgA, "bmp", 16, 16, 0))
      q.processAllAvailable()
      ms.addData(
        (11L, "image", imgANoisy, "bmp", 16, 16, 0), // near-dup of history
        (12L, "image", imgOrtho, "bmp", 16, 16, 0))  // fresh keeper
      q.processAllAvailable()
    } finally q.stop()
    assert(spark.read.parquet(s"$stateDir/gen=0/accepted")
      .select($"media_id").as[Long].collect().toSeq == Seq(1L))
    assert(spark.read.parquet(s"$stateDir/gen=1/accepted")
      .select($"media_id").as[Long].collect().toSeq == Seq(12L))
    // delta layout: each generation stores only its own batch's rows
    assert(spark.read.parquet(s"$stateDir/gen=0/signatures").count() == 1)
    assert(spark.read.parquet(s"$stateDir/gen=1/signatures").count() == 2)
  }

  test("incrementalDedupStream over two micro-batches equals full-corpus curation") {
    val long1 = ("the quick brown fox jumps over the lazy dog again and " +
      "again today with more useful words attached to make the quality score pass")
    val long2 = ("completely different content about query engines big " +
      "shuffles broadcast joins and vectorized scans in a modern analytics stack")
    val long3 = ("fresh material describing streaming watermarks state stores " +
      "and session windows for large scale event processing pipelines here")
    val batch1 = Seq((1L, long1), (2L, long1),
      (3L, long1.replace("today", "tonight")), (4L, long2))
    val batch2 = Seq((16L, long2),                                 // exact dup of history
      (17L, long2.split(" ").reverse.mkString(" ")),               // near-dup of history
      (18L, long3),                                                // fresh keeper
      (19L, long3.split(" ").reverse.mkString(" ")))               // near-dup of 18

    val stateDir = java.nio.file.Files.createTempDirectory("incstream").toString
    implicit val ctx = spark.sqlContext
    val ms = MemoryStream[(Long, String)]
    val q = StreamingOps.incrementalDedupStream(
      ms.toDF().toDF("doc_id", "text"), stateDir).start()
    try {
      ms.addData(batch1: _*); q.processAllAvailable()
      ms.addData(batch2: _*); q.processAllAvailable()

      // delta layout: each generation holds only ITS batch's new
      // signatures (O(batch) written per micro-batch, not O(history))
      assert(spark.read.parquet(s"$stateDir/gen=0/signatures").count() == 3) // 1,3,4
      assert(spark.read.parquet(s"$stateDir/gen=1/signatures").count() == 3) // 17,18,19

      // replay idempotency: re-running batch 1 (same input, same gen dir,
      // store = generations strictly before it) reproduces identical output
      CorpusPipeline.appendBatch(spark,
        spark.read.parquet(s"$stateDir/gen=0/signatures"),
        batch2.toDF("doc_id", "text"), s"$stateDir/gen=1",
        deltaSignatures = true)
      val replayed = spark.read.parquet(s"$stateDir/gen=1/accepted")
        .select($"doc_id").collect().map(_.getLong(0)).toSet
      assert(replayed == Set(18L))
      assert(spark.read.parquet(s"$stateDir/gen=1/signatures").count() == 3)

      // compaction between micro-batches: gens 0..1 fold into the LOWEST
      // generation; the reader union is unchanged, accepted untouched
      val beforeUnion = spark.read
        .parquet(s"$stateDir/gen=0/signatures", s"$stateDir/gen=1/signatures")
        .collect().map(_.toSeq).toSet
      CorpusPipeline.compactSignatures(spark, stateDir, uptoGen = 1L)
      assert(!new java.io.File(s"$stateDir/gen=1/signatures").exists())
      assert(spark.read.parquet(s"$stateDir/gen=0/signatures")
        .collect().map(_.toSeq).toSet == beforeUnion)
      assert(spark.read.parquet(s"$stateDir/gen=1/accepted").count() == 1) // untouched
      // idempotent re-run (also the crash-recovery path)
      CorpusPipeline.compactSignatures(spark, stateDir, uptoGen = 1L)
      assert(spark.read.parquet(s"$stateDir/gen=0/signatures")
        .collect().map(_.toSeq).toSet == beforeUnion)

      // the stream must keep running against the compacted store: a
      // near-dup of batch-1 history is still caught, fresh text accepted
      val long4 = ("entirely novel sentences about columnar layouts page " +
        "indexes and dictionary encoded string blocks for analytics")
      ms.addData(Seq((26L, long1.split(" ").reverse.mkString(" ")), (27L, long4)): _*)
      q.processAllAvailable()
      assert(spark.read.parquet(s"$stateDir/gen=2/accepted")
        .select($"doc_id").collect().map(_.getLong(0)).toSet == Set(27L))
    } finally q.stop()

    val accepted = spark.read.parquet(s"$stateDir/gen=*/accepted")
      .select($"doc_id").collect().map(_.getLong(0)).toSet
    val full = java.nio.file.Files.createTempDirectory("incfull").toString
    CorpusPipeline.curate(spark,
      (batch1 ++ batch2 ++ Seq((26L, long1.split(" ").reverse.mkString(" ")),
        (27L, ("entirely novel sentences about columnar layouts page " +
          "indexes and dictionary encoded string blocks for analytics"))))
        .toDF("doc_id", "text"), full)
    val want = spark.read.parquet(s"$full/corpus")
      .select($"doc_id").collect().map(_.getLong(0)).toSet
    assert(accepted == want)
    assert(accepted == Set(1L, 4L, 18L, 27L))

    // lineage guard: a fresh checkpoint (batch ids restarting at 0) with
    // surviving future generations must fail fast, not mix lineages
    val ms2 = MemoryStream[(Long, String)]
    val q2 = StreamingOps.incrementalDedupStream(
      ms2.toDF().toDF("doc_id", "text"), stateDir).start()
    val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      try { ms2.addData(batch1: _*); q2.processAllAvailable() } finally q2.stop()
    }
    assert(e.getMessage.contains("Refusing to mix lineages")
      || Option(e.getCause).exists(_.getMessage.contains("Refusing to mix lineages")))
  }

  test("generationDirs names a stray non-numeric gen dir in its failure") {
    // the generation store's reader lists gen=<n> children through
    // PathGuard.generationDirs: a stray dir must name ITSELF, not die as
    // a bare NumberFormatException with no path context
    val dir = java.nio.file.Files.createTempDirectory("gendirs").toFile
    assert(new java.io.File(dir, "gen=0").mkdir())
    assert(new java.io.File(dir, "other").mkdir())
    assert(PathGuard.generationDirs(spark, dir.toString) == Seq(0L))
    assert(new java.io.File(dir, "gen=1.bak").mkdir())
    val e = intercept[IllegalArgumentException](
      PathGuard.generationDirs(spark, dir.toString))
    assert(e.getMessage.contains("gen=1.bak"), e.getMessage)
  }
}
