package graft

import org.apache.spark.sql.functions._

import graft.functions.{Aggregates, TextAnalysis, TextFunctions}
import graft.multimodal.Multimodal
import graft.operators.{Ann, Features, Hrv, ScalableDedup}
import graft.streaming.StreamingOps

/** End-to-end tour of the engine's capability surface beyond the judged
  * queries, against the real testdata — the "does the library actually
  * drive" smoke for dedup, text analysis, ANN, the RMSSD UDAF, the
  * latest-per-key optimizer rule and the multimodal plumbing.
  *
  * Usage: runMain graft.Demo [sfDir]
  *
  * NOTE: the `collect()`/`first()`/`show()` calls below are DEMO-ONLY
  * driver actions on deliberately tiny results — don't lift them into
  * pipeline code; every production operator in `graft.operators` keeps
  * data distributed until the final bounded output.
  */
object Demo {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.001"
    val spark = GraftSession.builder()
      // the cluster deployment path: optimizer rules injected by config
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .getOrCreate()
    import spark.implicits._
    spark.sparkContext.setLogLevel("ERROR")

    // The synthetic corpus draws from a ~40-word vocabulary (FIXTURES.md),
    // so near-duplicate candidates are inherently quadratic in OUTPUT —
    // even 50 docs yield 732 pairs above 0.6 Jaccard. Cap the pairwise
    // demo stages at 500 docs so the tour stays a smoke, not a pair dump.
    val docs = Tables.documents(spark, sfDir).limit(500)
      .withColumn("toks", TextFunctions.tokenSet($"text"))
    val emb = Tables.embeddings(spark, sfDir)

    println(s"== graft demo on $sfDir ==")

    val mh = ScalableDedup.minhashCandidates(docs, "doc_id", "toks").count()
    println(s"minhash-LSH near-dup candidate pairs: $mh")

    val shPairs = ScalableDedup.simhashCandidates(
      docs.withColumn("toks", TextFunctions.tokens($"text")), "doc_id", "toks")
    println(s"simhash hamming<=3 candidate pairs:   ${shPairs.count()}")
    val repl = graft.operators.DedupClusters.replacementMap(shPairs, "a_id", "b_id")
    println(s"dedup clusters: ${repl.count()} docs would be replaced by a keeper")

    val nd = ScalableDedup.embeddingNearDup(emb, "vec_id", "embedding",
      minCosine = 0.8).count()
    println(s"embedding near-dup pairs (cos>=0.8):  $nd")

    val ta = docs.select(
      TextAnalysis.langId($"text").as("lang"),
      TextAnalysis.qualityScore($"text").as("q"),
      TextAnalysis.tokenCount($"text").as("n"))
    val taRow = ta.agg(count(lit(1)), round(avg($"q"), 3), round(avg($"n"), 1))
      .collect().head
    println(s"text analysis: docs=${taRow.get(0)} avgQuality=${taRow.get(1)} avgTokens=${taRow.get(2)}")

    val probes = emb.filter($"vec_id" < 3)
    val bruteTopk = Ann.bruteForceTopK(emb, probes, "vec_id", "embedding", k = 6)
    val brute = bruteTopk.count()
    val ivf = Ann.ivfTopK(spark, emb, probes, "vec_id", "embedding", k = 3,
      nlist = 8, nprobe = 3).count()
    val hard = Ann.hardNegatives(bruteTopk, k = 3, dupCosine = 0.95).count()
    println(s"ANN: brute-force rows=$brute ivf rows=$ivf hard-negatives rows=$hard")
    val idxDir = java.nio.file.Files.createTempDirectory("graft_demo_ivf").toString + "/idx"
    Ann.buildIvfIndex(spark, emb.filter($"vec_id" < 400), "vec_id", "embedding",
      idxDir, nlist = 8)
    Ann.appendToIvfIndex(spark, emb.filter($"vec_id" >= 400), "vec_id",
      "embedding", idxDir, generation = 1)
    val served = Ann.ivfTopKIndexed(spark, idxDir, probes, "vec_id", "embedding",
      k = 3, nprobe = 3).count()
    println(s"ANN index: built once + grown by one generation at $idxDir, " +
      s"served rows=$served (scan pruned to probed list partitions)")
    val ist = Ann.indexStats(spark, idxDir)
    println(f"ANN index stats: fitted=${ist.fittedRows} appended=${ist.appendedRows} " +
      f"listSkew=${ist.listSkew}%.2f rebuildRecommended=${ist.rebuildRecommended} " +
      "(the scaladoc's rebuild rule as a checkable flag)")

    // PQ compression tier (round 9): serve from 8-int codes, rerank exact
    val pqCb = graft.operators.Pq.train(spark, emb, "embedding", m = 8, k = 16)
    val pqRows = graft.operators.Pq.pqTopK(emb, probes, "vec_id", "embedding",
      pqCb, k = 3, shortlist = 50).count()
    println(s"ANN PQ: codebooks ${pqCb.m}x${pqCb.k} over dim ${pqCb.dim}, " +
      s"served rows=$pqRows from 8-int codes + exact rerank")

    Aggregates.register(spark)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"user_id").orderBy($"ts", $"event_id")
    val rm = Tables.events(spark, sfDir)
      .select($"user_id", ($"value" - lag($"value", 1).over(w)).as("dv"))
      .filter($"dv".isNotNull)
      .groupBy($"user_id").agg(expr("round(rmssd(dv), 3)").as("rmssd"))
    println(s"rmssd per user: ${rm.count()} rows, sample=${rm.orderBy($"user_id").first()}")

    // the rule arrives via spark.sql.extensions (no programmatic install);
    // non-nullable ordering key (the rule's soundness precondition)
    val latest = Tables.events(spark, sfDir)
      .select($"user_id", coalesce(unix_micros($"ts"), lit(0L)).as("tsm"), $"event_id")
      .withColumn("rn", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy($"user_id").orderBy($"tsm".desc)))
      .filter($"rn" === 1)
    val rewritten = latest.queryExecution.optimizedPlan.collect {
      case a: org.apache.spark.sql.catalyst.plans.logical.Aggregate => a
    }.nonEmpty
    println(s"latest-per-key rule rewrote window→aggregate: $rewritten (rows=${latest.count()})")

    // Native as-of join: each event finds its user's latest strictly
    // earlier event in one sorted-merge pass (no candidate-pair blow-up)
    val ev = Tables.events(spark, sfDir)
    val asofOut = graft.plans.AsofJoin(
      ev.select($"user_id", ($"ts" - expr("interval 1 microsecond")).as("pt"),
        $"event_id".as("probe_id")),
      ev.select($"user_id", $"ts".as("prev_ts"), $"event_id".as("prev_id")),
      Seq("user_id"), "pt", "prev_ts")
    val withPred = asofOut.filter($"prev_id".isNotNull).count()
    val native = asofOut.queryExecution.executedPlan.toString.contains("AsofJoin")
    println(s"native as-of join (planner strategy): $withPred/${asofOut.count()} events " +
      s"have a predecessor, exec=$native")

    val feat = Features.rollingByRows(Tables.events(spark, sfDir),
      $"user_id", $"ts", $"event_id", $"value", n = 5)
    println(s"rolling feature table: ${feat.count()} rows × ${feat.columns.length} cols " +
      s"(adds ${feat.columns.count(_.startsWith("f_"))} features)")
    val anomalies = Features.anomalyByZScore(Tables.events(spark, sfDir),
      $"user_id", $"ts", $"event_id", $"value", n = 20)
      .filter($"a_anomaly").count()
    val sessions = Features.sessionized(Tables.events(spark, sfDir),
      $"user_id", $"ts", $"event_id", $"value", gapSeconds = 1800).count()
    println(s"z-score anomalies: $anomalies | session feature rows: $sessions")

    val salted = graft.operators.SkewJoin.saltedInnerJoin(
      Tables.orders(spark, sfDir), Tables.customer(spark, sfDir),
      "o_custkey", "c_custkey", "o_orderkey", saltBuckets = 8)
    println(s"salted skew join: ${salted.count()} rows (matches plain inner join)")

    val cleaned = Hrv.interpolateOutliers(
      Hrv.flagOutliers(Tables.events(spark, sfDir), $"user_id", $"ts", $"event_id",
        $"value", lo = 0, hi = 1000),
      $"user_id", $"ts", $"event_id", $"value")
    val hrv = Hrv.timeDomain(cleaned, $"user_id", $"ts", $"event_id", $"value_clean")
      .join(Hrv.poincare(cleaned, $"user_id", $"ts", $"event_id", $"value_clean"), "series_key")
    println(s"HRV pipeline: ${hrv.count()} series → " +
      s"sample=${hrv.orderBy($"series_key").select($"series_key", round($"rmssd",2), round($"sd1",2)).first()}")
    val grid = Hrv.resample(cleaned, $"user_id", $"ts", $"value_clean", stepSeconds = 3600)
    println(s"resampled to 1h grid: ${grid.count()} ticks")

    val media = Multimodal.syntheticMedia(spark, 12)
    val feats = Multimodal.decodeFeatures(media, dim = 8)
    println(s"multimodal: decoded ${feats.count()} media rows → ${feats.first().features.length}-dim features")
    val frames = Multimodal.wavFrameFeatures(media, frameSize = 32, stride = 16)
    println(s"audio frames: ${frames.count()} frames from the real WAV rows " +
      s"(sample rms=${math.round(frames.first().rms)})")
    println(s"image aHash: ${Multimodal.imageAHashes(media).count()} signatures, " +
      s"${Multimodal.imageNearDups(media).count()} near-dup pairs (random images)")
    // real PNG codec: lossless round-trip, and the aHash is container-blind
    val pngDemo = Multimodal.encodePng(16, 9,
      (x, y) => (x * 16, y * 28, (x + y) * 10))
    val pngInfo = Multimodal.decodePng(pngDemo)
    val bmpTwin = Multimodal.encodeBmp24(16, 9,
      (x, y) => (x * 16, y * 28, (x + y) * 10))
    println(f"PNG codec: ${pngInfo.width}x${pngInfo.height} ch=${pngInfo.channels} " +
      f"meanLuma=${pngInfo.meanLuma}%.1f; aHash equals its BMP twin: " +
      s"${Multimodal.pngAHash(pngDemo) == Multimodal.bmpAHash(bmpTwin)} " +
      "(near-dup is container-blind)")
    println(s"audio fingerprints: ${Multimodal.audioHashes(media).count()} signatures, " +
      s"${Multimodal.audioNearDups(media).count()} near-dup pairs (random clips)")
    println(s"video fingerprints: ${Multimodal.videoHashes(media).count()} signatures " +
      s"from real AVI decode, ${Multimodal.videoFrameHashes(media).count()} frame hashes")
    val mediaOut = java.nio.file.Files.createTempDirectory("graft_demo_media").toString
    val mSum = graft.multimodal.MediaPipeline.curate(spark, media, mediaOut, maxSide = 256)
    println(s"media curation: $mSum")

    // physical layout levers: range-sorted files (disjoint per-file key
    // ranges feed row-group skipping) and small-file compaction
    val layDir = java.nio.file.Files.createTempDirectory("graft_demo_lay").toString
    val li = Tables.lineitem(spark, sfDir).select($"l_orderkey", $"l_extendedprice")
    graft.sources.Layout.saveRangeSorted(li, s"$layDir/sorted", 8, Seq("l_orderkey"))
    li.repartition(48).write.parquet(s"$layDir/frag")
    val nOut = graft.sources.Layout.compact(spark, s"$layDir/frag", s"$layDir/tight")
    val (fragB, fragN) = graft.sources.Layout.parquetFootprint(spark, s"$layDir/frag")
    println(s"layout: range-sorted into 8 files; compacted $fragN files " +
      s"(${fragB / 1024} KiB) -> $nOut")

    // end-to-end reference pipeline: raw CSV export → quarantine → clean →
    // rolling + HRV feature tables (see graft.Pipeline)
    val pipeDir = java.nio.file.Files.createTempDirectory("graft_demo_pipe").toFile
    val rawCsv = new java.io.File(pipeDir, "export.csv")
    val rows = (0 until 200).map { i =>
      val v = if (i % 37 == 0) 5000 else 700 + (i * 13) % 200
      f"${i % 4},2024-01-01 00:${i / 60}%02d:${i % 60}%02d,$v"
    }
    java.nio.file.Files.writeString(rawCsv.toPath,
      "series_id,ts,value\n" + rows.mkString("\n") + "\nbad,row,here\n")
    val pipe = Pipeline.ingestAndFeaturize(spark, rawCsv.getAbsolutePath,
      new java.io.File(pipeDir, "out").getAbsolutePath, lo = 300, hi = 2000)
    println(s"pipeline: valid=${pipe.validRows} quarantined=${pipe.quarantinedRows} " +
      s"series=${pipe.series} featureRows=${pipe.featureRows}")

    // training-data curation end to end over the judged corpus (capped:
    // the ~40-word-vocabulary corpus makes near-dup candidates quadratic,
    // same reason the dedup demos above cap their input)
    val corpusDir = java.nio.file.Files.createTempDirectory("graft_demo_corpus")
    val cur = CorpusPipeline.curate(spark,
      Tables.documents(spark, sfDir).limit(500), corpusDir.toString)
    println(s"corpus curation: ${cur.input} docs → quality ${cur.afterQuality} " +
      s"→ exact-dedup ${cur.afterExactDedup} → curated ${cur.curated} " +
      s"(${cur.nearDupMembersRemoved} near-dup cluster members removed)")

    // the same pipeline as a continuous file-watch stream
    val watchDir = new java.io.File(pipeDir, "incoming"); watchDir.mkdirs()
    java.nio.file.Files.writeString(new java.io.File(watchDir, "b1.csv").toPath,
      "series_id,ts,value\n0,2024-01-01 00:00:00,750\n0,2024-01-01 00:00:05,760\n")
    val sq = Pipeline.ingestAndFeaturizeStream(spark, watchDir.getAbsolutePath,
      new java.io.File(pipeDir, "stream_out").getAbsolutePath,
      new java.io.File(pipeDir, "ckpt").getAbsolutePath, lo = 300, hi = 2000)
    try {
      sq.processAllAvailable()
      java.nio.file.Files.writeString(new java.io.File(watchDir, "b2.csv").toPath,
        "series_id,ts,value\n1,2024-01-02 00:00:00,820\n")
      sq.processAllAvailable()
    } finally sq.stop()
    val streamedFeats = spark.read
      .parquet(new java.io.File(pipeDir, "stream_out/sample_features").getAbsolutePath).count()
    println(s"streaming pipeline: $streamedFeats feature rows across two file drops")

    val q = StreamingOps.tumbling(StreamingOps.readEventsStream(spark, sfDir))
      .writeStream.format("memory").queryName("demo_stream").outputMode("complete").start()
    try q.processAllAvailable() finally q.stop()
    val streamed = spark.table("demo_stream").agg(sum($"c")).collect().head.getLong(0)
    println(s"readStream over events.parquet → tumbling windows covering $streamed events")

    val topk = graft.functions.TopK.perKey(Tables.orders(spark, sfDir),
      "o_custkey", "o_totalprice", "o_orderkey", k = 3).count()
    println(s"aggregate top-3 orders per customer: $topk rows (map-side combinable)")

    val qs = StreamingOps.statefulSessions(StreamingOps.readEventsStream(spark, sfDir))
      .writeStream.format("memory").queryName("demo_sessions").outputMode("append").start()
    try qs.processAllAvailable() finally qs.stop()
    println(s"stateful streaming sessions closed in-stream: ${spark.table("demo_sessions").count()}")

    // stream-stream as-of: purchases enriched with the latest same-user
    // click at-or-before, sealed by the watermark (join_asof_native's twin)
    val qa = StreamingOps.statefulAsofJoin(
        StreamingOps.readEventsStream(spark, sfDir), watermark = "1 hour")
      .writeStream.format("memory").queryName("demo_asof").outputMode("append").start()
    try qa.processAllAvailable() finally qa.stop()
    val asofSealed = spark.table("demo_asof").count()
    val asofMatched = spark.table("demo_asof").filter($"click_id".isNotNull).count()
    println(s"stateful stream-stream as-of: $asofSealed purchases sealed, " +
      s"$asofMatched enriched with their latest prior click")

    // distributed global rank: no single-partition window anywhere
    // (persisted: the count and the top-row probe are two actions)
    val rankedCustomers = graft.operators.GlobalRank.withRank(
      Tables.customer(spark, sfDir).select($"c_custkey", $"c_acctbal"),
      "c_acctbal", desc = true, Seq($"c_acctbal".desc, $"c_custkey"), "r")
      .persist()
    println(s"GlobalRank over customers: ${rankedCustomers.count()} rows, " +
      s"top=${rankedCustomers.orderBy($"r").select($"c_custkey", $"r").first()}")
    rankedCustomers.unpersist()
    // heavy-hitter-safe rank on a bare value: computed from per-value
    // counts — no window task ever holds a hot value's row mass
    val rov = graft.operators.GlobalRank.rankOfValues(
      Tables.events(spark, sfDir).select($"event_id", $"value"),
      "value", desc = false, "r")
    println(s"rankOfValues over events: ${rov.count()} rows ranked via the " +
      "counts-only path (hot values collapse to one aggregate row)")

    // append-mode curation: batch 2 dedups against batch 1's signature
    // store only — the corpus itself is never re-clustered. Split by id
    // threshold, matching appendBatch's ids-grow-with-time contract
    val incDir = java.nio.file.Files.createTempDirectory("graft_demo_inc").toString
    val corpus = Tables.documents(spark, sfDir).limit(500).select($"doc_id", $"text")
    val cut = 250L
    val s1 = CorpusPipeline.appendBatch(spark,
      CorpusPipeline.emptySignatureStore(spark),
      corpus.filter($"doc_id" < cut), s"$incDir/g0")
    val s2 = CorpusPipeline.appendBatch(spark,
      spark.read.parquet(s"$incDir/g0/signatures"),
      corpus.filter($"doc_id" >= cut), s"$incDir/g1")
    println(s"incremental dedup: batch1 accepted ${s1.accepted}/${s1.batchInput}, " +
      s"batch2 accepted ${s2.accepted}/${s2.batchInput} " +
      s"(${s2.dupOfHistory} were near-dups of batch1's signature store)")

    // PII scrubbing + benchmark decontamination (training-data hygiene);
    // count only the EMAIL pattern so the injected count is exact
    val emailPattern = graft.functions.Redact.patterns.head._1
    val pii = corpus.select(
      regexp_count(concat($"text", lit(" mail me: someone@example.com")),
        lit(emailPattern)).as("hits"))
      .agg(sum($"hits")).collect().head.getLong(0)
    println(s"PII redaction: $pii synthetic emails detected and scrubbable in one map pass")
    val contam = graft.operators.Decontaminate.contaminated(
      corpus.filter($"doc_id" % 10 =!= 0), corpus.filter($"doc_id" % 10 === 0),
      "doc_id", "text", minContainment = 0.9).count()
    println(s"decontamination: $contam corpus docs >=90% shingle-contained in the benchmark split")

    // HLL sketch lifecycle (round 8): per-source sketches persisted as a
    // binary column, then a distinct-doc count answered from the stored
    // sketches alone — no rescan of the corpus
    val hllDir = java.nio.file.Files.createTempDirectory("graft_demo_hll").toString
    Tables.documents(spark, sfDir).groupBy($"source")
      .agg(graft.functions.Hll.hllSketch($"text").as("sk"))
      .write.mode("overwrite").parquet(hllDir)
    val fromSketches = spark.read.parquet(hllDir)
      .agg(graft.functions.Hll.hllMerge($"sk")).collect().head.getLong(0)
    val exactDocs = Tables.documents(spark, sfDir)
      .select(countDistinct($"text")).collect().head.getLong(0)
    println(s"HLL: distinct texts from persisted per-source sketches = $fromSketches " +
      s"(exact $exactDocs, ${graft.functions.Hll.M}-register sketch, no corpus rescan)")

    // quantile sketch lifecycle (round 9): per-type value distributions
    // persisted as a binary column, then p50/p99 over the WHOLE stream
    // answered from the stored sketches alone — no rescan
    val qskDir = java.nio.file.Files.createTempDirectory("graft_demo_qsk").toString
    Tables.events(spark, sfDir).groupBy($"event_type")
      .agg(graft.functions.QuantileSketch.quantileSketch($"value").as("sk"))
      .write.mode("overwrite").parquet(qskDir)
    val qRow = spark.read.parquet(qskDir)
      .agg(graft.functions.QuantileSketch.quantileMerge($"sk").as("sk"))
      .select(
        graft.functions.QuantileSketch.quantileEstimate($"sk", lit(0.5)).as("p50"),
        graft.functions.QuantileSketch.quantileEstimate($"sk", lit(0.99)).as("p99"))
      .collect().head
    val exactQ = Tables.events(spark, sfDir)
      .agg(expr("percentile(value, 0.5)"), expr("percentile(value, 0.99)"))
      .collect().head
    println(f"quantile sketch: p50=${qRow.getDouble(0)}%.2f p99=${qRow.getDouble(1)}%.2f " +
      f"from persisted per-type sketches (exact ${exactQ.getDouble(0)}%.2f/" +
      f"${exactQ.getDouble(1)}%.2f, no rescan)")

    // sequence packing (round 8): cut the corpus into ~256-token training
    // chunks on the distributed running total, then materialize the texts
    val packed = graft.operators.TrainingData.packChunks(
      Tables.documents(spark, sfDir).select($"doc_id", $"text"),
      "doc_id", "text", budget = 256)
    val pk = packed.agg(count(lit(1)), sum($"n_docs"), round(avg($"tokens"), 1))
      .collect().head
    println(s"sequence packing: ${pk.getLong(0)} chunks over ${pk.getLong(1)} docs, " +
      s"avg ${pk.get(2)} tokens/chunk (budget 256, docs never split)")

    // real media decode (round 8): a synthesized JPEG and a structurally
    // valid MP4 run the REAL codec paths inside decodeFeatures
    val jpgPixels = Array.tabulate[Byte](32 * 24 * 3)(i => (i % 251).toByte)
    val jpgRow = Multimodal.MediaRow(900L, "image",
      graft.multimodal.Jpeg.encodeJpeg(jpgPixels, 32, 24), "jpeg", 32, 24, 0)
    val mp4Row = Multimodal.MediaRow(901L, "video",
      graft.multimodal.Mp4.encodeMp4Minimal(640, 360, 5000, 120), "mp4", 640, 360, 0)
    val mediaFeats = Multimodal.decodeFeatures(
      spark.createDataset(Seq(jpgRow, mp4Row)), dim = 8).collect()
      .map(f => f.media_id -> f.features.take(4).mkString("[", ", ", "]")).toMap
    println(s"jpeg decode features (w,h,comps,meanR): ${mediaFeats(900L)}")
    println(s"mp4 container features (w,h,durSec,tracks): ${mediaFeats(901L)}")

    // round-9 closing capabilities: deterministic (oracle-judged)
    // MinHash-LSH over the whole corpus, and the iterative-graph pair
    val lsh = graft.operators.TrainingData.dedupMinhashLsh(spark, sfDir)
    println(s"pinned-hash MinHash-LSH (judged, whole corpus): ${lsh.count()} " +
      "near-dup pairs at exact Jaccard >= 0.8")
    val pr = graft.operators.Graph.graphPagerank(spark, sfDir)
      .orderBy($"rank".desc).first()
    println(s"pagerank over the trade graph: top node ${pr.getString(0)} " +
      s"(degree ${pr.getLong(1)}, rank ${pr.getDouble(2)})")

    spark.stop()
  }
}
