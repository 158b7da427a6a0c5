package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.streaming.StreamingOps

/** Streaming twins run against a MemoryStream and must agree with their
  * batch forms over the same bounded input (SURVEY.md §2.9 / Phase 4). */
class StreamingOpsSpec extends SparkSpecBase {
  import spark.implicits._

  // (event_id, sec, user_id, event_type, value)
  private val rows: Seq[(Long, Long, Long, String, Double)] = Seq(
    (1L, 0L, 1L, "click", 1.0),
    (2L, 600L, 1L, "click", 2.0),
    (3L, 3700L, 1L, "view", 3.0),     // next hour, new 30-min session
    (4L, 3800L, 2L, "click", 4.0),
    (5L, 90000L, 1L, "click", 5.0))   // next day

  private def eventsDF(df: DataFrame): DataFrame =
    df.select($"_1".as("event_id"), timestamp_seconds($"_2").as("ts"),
      $"_3".as("user_id"), $"_4".as("event_type"), $"_5".as("value"))

  private def runStream(out: DataFrame, name: String, mode: String): DataFrame = {
    val q = out.writeStream.format("memory").queryName(name).outputMode(mode).start()
    try q.processAllAvailable() finally q.stop()
    spark.table(name)
  }

  private def stream(): DataFrame = {
    implicit val ctx = spark.sqlContext
    val ms = MemoryStream[(Long, Long, Long, String, Double)]
    ms.addData(rows: _*)
    eventsDF(ms.toDF())
  }

  test("streaming tumbling matches the batch tumbling aggregate") {
    // complete mode: emit every window regardless of watermark progress
    val got = runStream(StreamingOps.tumbling(stream()), "t_tumb", "complete")
      .select($"wstart", $"event_type", $"c", $"s")
      .collect().map(r => (r.getTimestamp(0).getTime / 1000, r.getString(1), r.getLong(2), r.getDouble(3))).toSet
    val batch = eventsDF(rows.toDF())
      .groupBy(date_trunc("hour", $"ts").as("wstart"), $"event_type")
      .agg(count(lit(1)).as("c"), round(sum($"value"), 2).as("s"))
      .collect().map(r => (r.getTimestamp(0).getTime / 1000, r.getString(1), r.getLong(2), r.getDouble(3))).toSet
    assert(got == batch)
  }

  test("readStream over the real events parquet matches the batch tumbling counts") {
    val stream = StreamingOps.readEventsStream(spark, sf())
    val got = runStream(StreamingOps.tumbling(stream), "t_file", "complete")
    val batchTotal = Tables.events(spark, sf()).count()
    assert(got.agg(sum($"c")).collect().head.getLong(0) == batchTotal)
  }

  test("stateful sessions close on in-batch gaps and on event-time timeout") {
    implicit val ctx = spark.sqlContext
    val ms = MemoryStream[(Long, Long, Long, String, Double)]
    val out = StreamingOps.statefulSessions(eventsDF(ms.toDF()), gapSeconds = 1800,
      watermark = "0 seconds")
    val q = out.writeStream.format("memory").queryName("t_state").outputMode("append").start()
    try {
      // batch 1: user 1 has two candidate sessions (gap >30min between
      // them). The trailing no-data micro-batch advances the watermark to
      // 6000s, so the FIRST session (gap horizon 3400s) is already final
      // and emits; the second (horizon 7800s) must stay open.
      // (times start at 1000s: a row AT the initial watermark 0 is late)
      ms.addData((1L, 1000L, 1L, "click", 1.0), (2L, 1600L, 1L, "click", 1.0),
        (3L, 6000L, 1L, "click", 1.0))
      q.processAllAvailable()
      assert(spark.table("t_state").count() == 1)
      // batch 2 advances the watermark to 900000s → user 1's second
      // session emits; user 2's session stays open
      ms.addData((4L, 900000L, 2L, "click", 1.0))
      q.processAllAvailable()
      // batch 3 advances the watermark to 1800000s → user 2's 900000s
      // session emits; the newest session remains open at stop
      ms.addData((5L, 1800000L, 2L, "click", 1.0))
      q.processAllAvailable()
    } finally q.stop()
    val sessions = spark.table("t_state")
      .select($"user_id", $"n").collect().map(r => (r.getLong(0), r.getLong(1))).toSeq.sorted
    assert(sessions == Seq((1L, 1L), (1L, 2L), (2L, 1L)))
  }

  test("out-of-order event within the watermark merges two pending sessions") {
    implicit val ctx = spark.sqlContext
    val ms = MemoryStream[(Long, Long, Long, String, Double)]
    val out = StreamingOps.statefulSessions(eventsDF(ms.toDF()), gapSeconds = 1800,
      watermark = "1 day")
    val q = out.writeStream.format("memory").queryName("t_ooo").outputMode("append").start()
    try {
      // two spans 40 min apart: still two candidate sessions
      ms.addData((1L, 1000L, 1L, "click", 1.0), (2L, 3400L, 1L, "click", 1.0))
      q.processAllAvailable()
      // the bridging event arrives out of order (admissible: watermark is
      // a day behind) and welds them into one session
      ms.addData((3L, 2200L, 1L, "click", 1.0))
      q.processAllAvailable()
      // far-future event pushes the watermark past the merged session
      ms.addData((4L, 10000000L, 1L, "click", 1.0))
      q.processAllAvailable()
    } finally q.stop()
    val sessions = spark.table("t_ooo")
      .select($"n").collect().map(_.getLong(0)).toSeq
    assert(sessions == Seq(3L)) // ONE merged session, not two split ones
  }

  test("watermarked stream drops late rows behind the watermark") {
    implicit val ctx = spark.sqlContext
    val ms = MemoryStream[(Long, Long, Long, String, Double)]
    val agg = StreamingOps.tumbling(eventsDF(ms.toDF()), watermark = "1 hour")
    val q = agg.writeStream.format("memory").queryName("t_late").outputMode("append").start()
    try {
      ms.addData((1L, 90000L, 1L, "click", 1.0)) // advance watermark to 90000-3600
      q.processAllAvailable()
      ms.addData((2L, 0L, 1L, "click", 1.0))     // a day late → dropped
      q.processAllAvailable()
      ms.addData((3L, 200000L, 1L, "click", 1.0)) // close the first window
      q.processAllAvailable()
    } finally q.stop()
    val counts = spark.table("t_late").agg(sum($"c")).collect().head.getLong(0)
    assert(counts == 1) // only event 1's window emitted; the late row never counted
  }

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

  test("stateful as-of join is bit-identical to join_asof_native under " +
      "shuffled multi-batch delivery") {
    implicit val ctx = spark.sqlContext
    // the REAL judged input: every purchase/click of the sf events table,
    // delivered out of order across three interleaved micro-batches
    val all = Tables.events(spark, sf())
      .filter($"event_type".isin("purchase", "click"))
      .select($"event_id", unix_micros($"ts").as("us"), $"user_id",
        $"event_type")
      .as[(Long, Long, Long, String)].collect().toSeq
    val ms = MemoryStream[(Long, Long, Long, String)]
    val in = ms.toDF().select($"_1".as("event_id"),
      timestamp_micros($"_2").as("ts"), $"_3".as("user_id"),
      $"_4".as("event_type"))
    // fully SCRAMBLED delivery: batch k gets the rows with event_id ≡ k
    // (mod 3), so probes routinely arrive batches before their matching
    // reference and vice versa. A real deployment bounds disorder by the
    // watermark delay; 90 days covers this corpus' whole span, so NO row
    // is late and every instant seals only at the sentinel — the pure
    // buffering-and-fold correctness test.
    val out = StreamingOps.statefulAsofJoin(in, watermark = "90 days")
    val q = out.writeStream.format("memory").queryName("t_asof")
      .outputMode("append").start()
    try {
      for (k <- 0 until 3) {
        ms.addData(all.filter(_._1 % 3 == k): _*)
        q.processAllAvailable()
      }
      // far-future sentinel seals every real instant (excluded below)
      ms.addData((999999999L, all.map(_._2).max + 100L * 86400000000L,
        999999L, "purchase"))
      q.processAllAvailable()
    } finally q.stop()
    val got = spark.table("t_asof").filter($"user_id" =!= 999999L)
      .select($"purchase_id", $"user_id", $"click_id")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1),
        if (r.isNullAt(2)) -1L else r.getLong(2))).toSet
    val want = graft.operators.Relational.joinAsofNative(spark, sf())
      .collect()
      .map(r => (r.getLong(0), r.getLong(1),
        if (r.isNullAt(2)) -1L else r.getLong(2))).toSet
    // discriminating fixture: both matched and unmatched probes occur
    assert(want.exists(_._3 == -1L) && want.exists(_._3 != -1L))
    assert(got == want,
      s"stream-only: ${got -- want}; batch-only: ${want -- got}")

    // second fixture: realistic TIME-SLICED delivery under a tight
    // 1-hour watermark — rows must seal and emit PROGRESSIVELY, not
    // only at the sentinel, and still sum to the identical result
    val sorted = all.sortBy(_._2)
    val slices = sorted.grouped((sorted.size + 2) / 3).toSeq
    val ms2 = MemoryStream[(Long, Long, Long, String)]
    val in2 = ms2.toDF().select($"_1".as("event_id"),
      timestamp_micros($"_2").as("ts"), $"_3".as("user_id"),
      $"_4".as("event_type"))
    val out2 = StreamingOps.statefulAsofJoin(in2, watermark = "1 hour")
    val q2 = out2.writeStream.format("memory").queryName("t_asof2")
      .outputMode("append").start()
    var afterSlices = 0L
    try {
      slices.foreach { s =>
        // scrambled WITHIN the slice (id order ≠ time order), ordered
        // across slices — disorder bounded by the watermark, no drops
        ms2.addData(s.sortBy(_._1): _*)
        q2.processAllAvailable()
      }
      afterSlices = spark.table("t_asof2").count()
      ms2.addData((999999999L, all.map(_._2).max + 100L * 86400000000L,
        999999L, "purchase"))
      q2.processAllAvailable()
    } finally q2.stop()
    assert(afterSlices > 0, "nothing sealed before the sentinel — the " +
      "progressive-emission fixture lost its teeth")
    val got2 = spark.table("t_asof2").filter($"user_id" =!= 999999L)
      .select($"purchase_id", $"user_id", $"click_id")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1),
        if (r.isNullAt(2)) -1L else r.getLong(2))).toSet
    assert(got2 == want,
      s"stream-only: ${got2 -- want}; batch-only: ${want -- got2}")
  }
}
