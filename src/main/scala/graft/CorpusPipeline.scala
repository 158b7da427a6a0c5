package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.{TextAnalysis, TextFunctions}
import graft.operators.{DedupClusters, ScalableDedup}

/** The training-data curation shape end to end, composed from the library
  * operators: annotate → quality-gate → exact dedup → near-dup cluster
  * removal → curated corpus + per-language stats.
  *
  * Stage scale behavior (each documented at its operator):
  *  1. annotation is ONE map pass (quality score, language id, rolling
  *     fingerprint, token array — all codegen'd Column expressions);
  *  2. the quality gate is a filter on that pass (no shuffle);
  *  3. exact dedup is the aggregate form (map-side-combinable group-by on
  *     md5(text) → min doc_id keeper — no full-row shuffle, no per-key
  *     sort) followed by a semi-join on the slim keeper-id column;
  *  4. near-dup removal shuffles on 16-bit SimHash bands
  *     (ScalableDedup.simhashCandidates — candidate pairs from bucket
  *     equi-joins, never all-pairs) and resolves duplicate CLUSTERS with
  *     large-star/small-star contraction (DedupClusters), dropping every
  *     non-keeper;
  *  5. optional hygiene: benchmark decontamination (Decontaminate —
  *     shingle equi-join) and PII scrubbing (Redact — codegen'd
  *     regexp chain);
  *  6. outputs are the curated corpus and a per-language stats rollup.
  *
  * Intermediate stages that feed multiple actions (two writes + the
  * summary counts) are persisted once and unpersisted on exit, so the
  * regex-heavy annotation pass runs once, not once per action.
  */
object CorpusPipeline {

  case class CurationSummary(input: Long, afterQuality: Long,
      afterExactDedup: Long, curated: Long, nearDupMembersRemoved: Long,
      decontaminated: Long = 0L)

  case class AppendSummary(batchInput: Long, afterQuality: Long,
      newContent: Long, dupOfHistory: Long, accepted: Long)

  /** The shared annotation stage (quality score, language id, rolling
    * fingerprint) — stateless Column maps. Used by both curate() and the
    * streaming twin (StreamingOps.annotateDocuments) so batch and stream
    * cannot drift. */
  def annotate(docs: DataFrame): DataFrame =
    docs.withColumn("quality", TextAnalysis.qualityScore(col("text")))
      .withColumn("lang_pred", TextAnalysis.langId(col("text")))
      .withColumn("fp", TextAnalysis.rollingFingerprint(col("text")))

  /** Curate a document table (must have `doc_id` long and `text` string).
    *
    * @param minQuality  quality-score gate in [0,1]
    * @param maxHamming  SimHash hamming radius treated as near-duplicate;
    *                    must be ≤ 3 (the 4-band pigeonhole guarantee in
    *                    ScalableDedup.simhashCandidates only holds there)
    * @param benchmark   optional eval set (doc_id, text): survivors whose
    *                    char-3-gram shingles are ≥ `minContainment`
    *                    contained in a benchmark doc are quarantined
    *                    (Decontaminate — shingle equi-join, no all-pairs)
    * @param redactPii   scrub emails/SSNs/cards/phones/IPs from the
    *                    output text (Redact — one codegen'd map pass)
    */
  def curate(spark: SparkSession, docs: DataFrame, outDir: String,
      minQuality: Double = 0.2, maxHamming: Int = 3,
      benchmark: Option[DataFrame] = None, minContainment: Double = 0.8,
      redactPii: Boolean = false): CurationSummary = {
    require(maxHamming >= 0 && maxHamming <= 3,
      s"maxHamming must be in 0..3 (SimHash 4-band pigeonhole), got $maxHamming")
    // overwrite must never delete the files the input is read from
    // (refresh-in-place would recompute over deleted sources). Only the
    // CONCRETE write targets are guarded — keeping e.g. raw input under
    // `$outDir/raw` beside the curated output is a legal layout.
    PathGuard.requireDisjointFromAll(spark, docs.inputFiles.toSeq,
      Seq(s"$outDir/corpus", s"$outDir/lang_stats"), "input corpus",
      "Curate into a directory whose corpus/lang_stats subdirs do not " +
        "hold the input.")
    // 1.+2. one-pass annotation (shared with the streaming twin), then
    // the quality gate
    val gated = annotate(docs)
      .withColumn("toks", TextFunctions.tokens(col("text")))
      .filter(col("quality") >= minQuality)
      .persist()
    try {
      // 3. exact dedup, deterministic keeper (min doc_id per content
      // hash), aggregate form + slim semi-join — see scaladoc
      val keepers = gated
        .groupBy(md5(col("text")).as("_h"))
        .agg(min(col("doc_id")).as("doc_id"))
        .select(col("doc_id"))
      val exact = gated.join(keepers, Seq("doc_id"), "left_semi").persist()
      try {
        // 4. near-dup clusters → keep one doc per cluster
        val pairs = ScalableDedup.simhashCandidates(
          exact.select(col("doc_id"), col("toks")), "doc_id", "toks", maxHamming)
        val repl = DedupClusters.replacementMap(pairs, "a_id", "b_id")
          .withColumnRenamed("id", "doc_id")
        // persisted: with a benchmark it feeds the decontamination
        // self-join, the anti-join, and the summary count
        val deduped = exact.join(repl, Seq("doc_id"), "left_anti")
          .drop("toks").persist()
        // 5. optional hygiene: benchmark decontamination, PII scrubbing
        val decontam = benchmark match {
          case Some(b) =>
            deduped.join(
              graft.operators.Decontaminate
                .contaminated(deduped, b, "doc_id", "text", 3, minContainment)
                .select(col("doc_id")),
              Seq("doc_id"), "left_anti")
          case None => deduped
        }
        val curated = (if (redactPii)
            decontam.withColumn("text", graft.functions.Redact.scrub(col("text")))
          else decontam).persist()
        try {
          // 6. outputs
          curated.write.mode("overwrite").parquet(s"$outDir/corpus")
          curated.groupBy(col("lang_pred"))
            .agg(count(lit(1)).as("docs"),
              round(avg(col("quality")), 4).as("avg_quality"),
              round(avg(length(col("text"))), 2).as("avg_chars"))
            .write.mode("overwrite").parquet(s"$outDir/lang_stats")
          val curatedN = curated.count()
          val dedupedN = if (benchmark.isEmpty) curatedN else deduped.count()
          CurationSummary(
            input = docs.count(),
            afterQuality = gated.count(),
            afterExactDedup = exact.count(),
            curated = curatedN,
            nearDupMembersRemoved = repl.count(),
            decontaminated = dedupedN - curatedN)
        } finally { curated.unpersist(); deduped.unpersist() }
      } finally exact.unpersist()
    } finally gated.unpersist()
  }

  /** Signature-store schema: one row per document ever admitted to the
    * near-dup stage — (doc_id, content hash, 64-bit SimHash). This is the
    * ONLY state append-mode curation keeps: at 100 TB you re-cluster
    * nothing; each new batch joins against ~24 bytes/doc of signatures. */
  def emptySignatureStore(spark: SparkSession): DataFrame = {
    import org.apache.spark.sql.types._
    spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      StructType(Seq(StructField("doc_id", LongType, nullable = false),
        StructField("_h", StringType, nullable = false),
        StructField("sig", LongType, nullable = false))))
  }

  /** Compact the per-generation signature DELTAS of a streaming store
    * (see StreamingOps.incrementalDedupStream): union every
    * `gen=g/signatures` with g ≤ `uptoGen` into a single baseline at the
    * LOWEST such generation and drop the other deltas. Folding into the
    * lowest generation keeps the reader contract intact for every batch
    * id the stream can still replay: any batch N > uptoGen unions
    * generations < N, which includes the baseline, and a replayed batch
    * only ever overwrites its OWN generation — never the baseline.
    * `accepted` outputs are never touched, and generations whose
    * signatures were folded away are simply skipped by the reader.
    *
    * `uptoGen` must be at most the stream's last COMMITTED batch id
    * minus one (a batch the stream can never replay); compaction must
    * not run concurrently with a micro-batch.
    *
    * Crash-safe: the consolidated store is staged (Spark _SUCCESS
    * marker, target generation encoded in the staging directory name)
    * before any delta is deleted; a re-run WITH THE SAME uptoGen
    * completes an interrupted compaction, and a run with a different
    * uptoGen fails fast instead of silently dropping the stranded
    * signatures.
    */
  def compactSignatures(spark: SparkSession, stateDir: String, uptoGen: Long): Unit = {
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(stateDir), spark.sparkContext.hadoopConfiguration)
    def sigPath(g: Long) = new org.apache.hadoop.fs.Path(s"$stateDir/gen=$g/signatures")
    val root = new org.apache.hadoop.fs.Path(stateDir)
    val stagedDirs = fs.listStatus(root).toSeq.map(_.getPath.getName)
      .filter(_.startsWith(".compact_upto="))
    val StagedName = """\.compact_upto=(\d+)_into=(\d+)""".r
    val other = stagedDirs.collect {
      case StagedName(u, _) if u.toLong != uptoGen => u.toLong
    }
    require(other.isEmpty,
      s"interrupted compaction found for uptoGen=${other.mkString(",")} under " +
        s"$stateDir — re-run compactSignatures with that uptoGen to complete " +
        "it before starting a new one (its staged union holds signatures " +
        "already removed from the generation dirs).")
    val gens = fs.listStatus(root).toSeq
      .filter(_.isDirectory)
      .map(_.getPath.getName)
      .collect { case s if s.startsWith("gen=") => s.stripPrefix("gen=").toLong }
      .filter(g => g <= uptoGen && fs.exists(sigPath(g)))
    // resume target comes from the staged name (the generation list may
    // already be partially deleted); a fresh run targets the lowest gen
    val resumed = stagedDirs.collectFirst {
      case n @ StagedName(u, into) if u.toLong == uptoGen =>
        (new org.apache.hadoop.fs.Path(s"$stateDir/$n"), into.toLong)
    }
    val (staged, into) = resumed match {
      case Some((p, i)) if fs.exists(new org.apache.hadoop.fs.Path(p, "_SUCCESS")) =>
        (p, i)
      case maybePartial =>
        // an incomplete staged write means no delta was deleted yet —
        // rebuild from scratch
        maybePartial.foreach { case (p, _) => fs.delete(p, true) }
        require(gens.nonEmpty, s"no signature generations <= $uptoGen under $stateDir")
        val i = gens.min
        val p = new org.apache.hadoop.fs.Path(s"$stateDir/.compact_upto=${uptoGen}_into=$i")
        spark.read.parquet(gens.map(g => sigPath(g).toString): _*)
          .write.mode("overwrite").parquet(p.toString)
        (p, i)
    }
    // deltas are redundant once the staged union committed; delete the
    // baseline target's old delta last and promote immediately
    (gens.filter(_ != into) :+ into).foreach { g =>
      require(fs.delete(sigPath(g), true) || !fs.exists(sigPath(g)),
        s"failed to remove ${sigPath(g)}")
    }
    fs.mkdirs(new org.apache.hadoop.fs.Path(s"$stateDir/gen=$into"))
    require(fs.rename(staged, sigPath(into)),
      s"failed to promote $staged to ${sigPath(into)}")
    ()
  }

  /** Append-mode curation: dedup an incoming batch against the HISTORICAL
    * signature store instead of re-clustering the whole corpus — the
    * natural 100 TB operating mode (history never re-shuffles; only its
    * signatures join the new batch on band buckets).
    *
    * Matches [[curate]] over the concatenated corpus whenever (a) batch
    * doc_ids are larger than historical ones (ids grow with time) and
    * (b) no new doc BRIDGES two previously-distinct history clusters —
    * append-mode never revokes an already-shipped keeper, which is the
    * operationally-wanted semantics (asserted against full-corpus
    * curation in CorpusPipelineSpec).
    *
    * Stages: quality gate → exact dedup (within batch, then anti-join on
    * the store's content hashes) → SimHash near-dup (band equi-join vs
    * the store AND within the batch; batch clusters touching history are
    * dropped entirely, remaining clusters keep min doc_id) → outputs
    * `outDir/accepted` (new curated docs) and `outDir/signatures`. Use a
    * fresh `outDir` per batch: parquet cannot overwrite the directory the
    * incoming `store` is being read from.
    *
    * @param deltaSignatures false (default): `outDir/signatures` is the
    *        FULL grown store — a self-contained snapshot, older
    *        generations deletable. true: it holds only THIS batch's new
    *        signatures, so each generation writes O(batch), not
    *        O(history) — the right mode for high-frequency streaming
    *        ingest, where the reader unions the generation deltas
    *        (see StreamingOps.incrementalDedupStream).
    */
  def appendBatch(spark: SparkSession, store: DataFrame, batch: DataFrame,
      outDir: String, minQuality: Double = 0.2, maxHamming: Int = 3,
      deltaSignatures: Boolean = false): AppendSummary = {
    require(maxHamming >= 0 && maxHamming <= 3,
      s"maxHamming must be in 0..3 (SimHash 4-band pigeonhole), got $maxHamming")
    // overwrite deletes target files before the union job reads them, so
    // writing the store onto its own input would silently drop all
    // history — the shared guard (scheme/authority + canonicalized
    // ancestry comparison) fails fast instead (graft.PathGuard)
    PathGuard.requireDisjoint(spark, store.inputFiles.toSeq, outDir,
      "signature store")
    PathGuard.requireDisjoint(spark, batch.inputFiles.toSeq, outDir, "input batch")
    val gated = annotate(batch)
      .withColumn("toks", TextFunctions.tokens(col("text")))
      .filter(col("quality") >= minQuality)
      .withColumn("_h", md5(col("text")))
      .withColumn("sig", ScalableDedup.simhash("toks"))
      .persist()
    try {
      // exact dedup: min-id keeper per content hash inside the batch,
      // then drop content the store has already seen. The store-side
      // check rides a Bloom pre-filter (functions/Bloom): the store's
      // hashes fold into ONE 128 KB filter row (map-side tree aggregate,
      // no store shuffle) broadcast over the batch; rows the filter
      // rejects are DEFINITELY new (no false negatives) and skip the
      // join entirely, so the exact anti-join only probes the ≤fpp
      // maybe-seen remainder — at 100 TB the history never shuffles for
      // exact dedup, it is map-scanned into the filter. (In streaming,
      // persist the filter and OR-merge each generation's instead of
      // rebuilding; past ~100k hashes per filter, partition the store
      // and build one filter per partition — saturation degrades fpp,
      // never correctness, because candidates still hit the exact join.)
      val keepIds = gated.groupBy(col("_h")).agg(min(col("doc_id")).as("doc_id"))
        .select(col("doc_id"))
      val storeHashes = store.select(col("_h"))
      val seenFilter = storeHashes
        .agg(graft.functions.Bloom.bloomSketch(col("_h")).as("_seen"))
      val flagged = gated
        .join(keepIds, Seq("doc_id"), "left_semi")
        .crossJoin(broadcast(seenFilter))
        .withColumn("_maybeSeen",
          graft.functions.Bloom.bloomContains(col("_seen"), col("_h")))
        .drop("_seen")
      // unionByName: the using-column anti join moves _h to the front
      val newContent = flagged.filter(!col("_maybeSeen")).drop("_maybeSeen")
        .unionByName(flagged.filter(col("_maybeSeen")).drop("_maybeSeen")
          .join(storeHashes.distinct(), Seq("_h"), "left_anti"))
        .persist()
      try {
        // near-dup vs history: band equi-join against the store, exact
        // hamming recheck — never all-pairs; both sides band through the
        // one shared definition in ScalableDedup
        val bNew = ScalableDedup.simhashBands(
          newContent.select(col("doc_id"), col("sig")), "sig", Seq("doc_id", "sig"))
        val bOld = ScalableDedup.simhashBands(
            store.select(col("doc_id").as("h_id"), col("sig")), "sig", Seq("h_id", "sig"))
          .withColumnRenamed("sig", "h_sig")
        val dupOfHistory = bNew.join(bOld, Seq("band", "bits"))
          .filter(bit_count(col("sig").bitwiseXOR(col("h_sig"))) <= maxHamming)
          .select(col("doc_id")).distinct().persist()
        try {
          // near-dup within the batch: cluster/taint/keep via the shared
          // append-mode keeper selection (DedupClusters.appendKeepers).
          // Reuses the persisted `sig` — the SimHash vote runs once per
          // doc, not once per consumer
          val pairs = ScalableDedup.simhashCandidatesFromSigs(
            newContent.select(col("doc_id"), col("sig")), "doc_id", "sig", maxHamming)
          val keepers = DedupClusters.appendKeepers(
            newContent, "doc_id", pairs, "a_id", "b_id", dupOfHistory)
          val accepted = newContent.join(keepers, Seq("doc_id"), "left_semi").persist()
          try {
            accepted.drop("toks", "_h", "sig")
              .write.mode("overwrite").parquet(s"$outDir/accepted")
            val newSigs = newContent.select(col("doc_id"), col("_h"), col("sig"))
            (if (deltaSignatures) newSigs else store.union(newSigs))
              .write.mode("overwrite").parquet(s"$outDir/signatures")
            AppendSummary(
              batchInput = batch.count(),
              afterQuality = gated.count(),
              newContent = newContent.count(),
              dupOfHistory = dupOfHistory.count(),
              accepted = accepted.count())
          } finally accepted.unpersist()
        } finally dupOfHistory.unpersist()
      } finally newContent.unpersist()
    } finally gated.unpersist()
  }
}
