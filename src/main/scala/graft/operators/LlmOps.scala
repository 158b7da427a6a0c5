package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables
import graft.functions.{TextFunctions, VectorFunctions}
import graft.functions.CosineSimilarityExpr.cosine_sim

/** LLM-training-data pipeline operators (SURVEY.md §2.10): exact and
  * near-duplicate detection, corpus statistics, n-grams, and embedding
  * similarity search.
  *
  * Scale notes: exact dedup is a hash group-by (shuffle on the content
  * hash — uniform by construction, no skew). The brute-force cosine and
  * Jaccard pair scans keep the small probe side broadcast so the big side
  * streams once; the 100 TB upgrade path for Jaccard (MinHash-LSH
  * banding) replaces the all-pairs join with an equi-join on bucket ids
  * — see graft.operators.ScalableDedup. Its hash functions are pinned,
  * so the banding is deterministic and judged: `dedup_minhash_lsh` and
  * `llm_lsh_append` run it against a DuckDB replay of the same bands.
  */
object LlmOps {

  /** #49 exact dedup map: content hash → duplicate count + keeper id. */
  def llmExactDedup(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .groupBy(md5(col("text")).as("h"))
      .agg(count(lit(1)).as("c"), min(col("doc_id")).as("keeper"))
      .orderBy(col("h"))

  /** #50 keep-first-by-key dedup with deterministic keeper (min id). */
  def llmDedupKeepFirst(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      .groupBy(col("user_id"), col("event_type"))
      .agg(min(col("event_id")).as("keeper"), count(lit(1)).as("dups"))
      .orderBy(col("user_id"), col("event_type"))

  /** #51 per-language corpus stats (doc count, avg chars, avg words). */
  def llmDocstats(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .groupBy(col("lang"))
      .agg(
        count(lit(1)).as("docs"),
        round(avg(col("n_chars")), 4).as("avg_chars"),
        round(avg(size(TextFunctions.tokens(col("text")))), 4).as("avg_words"))
      .orderBy(col("lang"))

  /** #52 top-30 word bigrams. The bigram list is built with higher-order
    * functions (no self-join on token position), then exploded and counted. */
  def llmNgrams(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .select(TextFunctions.tokens(col("text")).as("ws"))
      .filter(size(col("ws")) >= 2)
      .select(explode(TextFunctions.bigrams(col("ws"))).as("bg"))
      .groupBy(col("bg"))
      .agg(count(lit(1)).as("c"))
      .orderBy(col("c").desc, col("bg"))
      .limit(30)

  /** #53 brute-force cosine top-5 neighbors for 10 probe vectors. The
    * probe side (10 rows) broadcasts; the full embedding table streams
    * through one codegen'd pipeline computing dot products via
    * zip_with/aggregate. Top-k per probe is a row_number window over the
    * (tiny) candidate set. */
  def llmCosineTopk(s: SparkSession, d: String): DataFrame = {
    // cosine_sim is the fused native Catalyst expression — one register
    // loop per pair, no intermediate arrays, bit-identical to the
    // higher-order-function formulation (CosineSimilarityExprSpec).
    val emb = Tables.embeddings(s, d)
      .select(col("vec_id"), VectorFunctions.toDoubleVec(col("embedding")).as("v"))
    val a = emb.filter(col("vec_id") < 10)
      .select(col("vec_id").as("a_vid"), col("v").as("va"))
    val b = emb.select(col("vec_id").as("b_vid"), col("v").as("vb"))
    val pairs = broadcast(a).join(b, col("a_vid") < col("b_vid"))
      .select(col("a_vid").as("vec_id"), col("b_vid").as("nb"),
        round(cosine_sim(col("va"), col("vb")), 6).as("sim"))
    val w = Window.partitionBy(col("vec_id")).orderBy(col("sim").desc, col("nb"))
    pairs.withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 5)
      .drop("rn")
      .orderBy(col("vec_id"), col("sim").desc, col("nb"))
  }

  /** #54 per-label mean similarity to one probe vector (kNN-classifier
    * shape): the probe is a 1-row broadcast, similarity folds into a
    * partial+final average per label. */
  def llmKnnLabel(s: SparkSession, d: String): DataFrame = {
    val emb = Tables.embeddings(s, d)
      .select(col("vec_id"), col("label"),
        VectorFunctions.toDoubleVec(col("embedding")).as("v"))
    val probe = emb.filter(col("vec_id") === 0).select(col("v").as("probe"))
    emb.crossJoin(broadcast(probe))
      .groupBy(col("label"))
      .agg(count(lit(1)).as("c"),
        round(avg(cosine_sim(col("v"), col("probe"))), 6).as("avg_sim"))
      .orderBy(col("label"))
  }

  /** #89 end-to-end curation chain in one judged query — the composition
    * a pipeline actually ships: token stats → quality filters (length,
    * token count, lexical diversity) → exact dedup keep-first. Mirrors
    * the judgeable core of [[graft.CorpusPipeline]].curate. Every stage
    * is a map or a keyed operation: the stats/filters fuse into the scan
    * (one codegen stage, filters before any shuffle), the dedup keys on
    * the content hash — so the whole chain is one data shuffle plus the
    * presentation sort at any scale. */
  def llmCurateChain(s: SparkSession, d: String): DataFrame = {
    val toks = split(col("text"), " ")
    val w = Window.partitionBy(col("h")).orderBy(col("doc_id"))
    Tables.documents(s, d)
      .select(col("doc_id"), col("lang"), col("n_chars"),
        md5(col("text").cast("binary")).as("h"),
        size(toks).cast("long").as("n_tok"),
        size(array_distinct(toks)).cast("long").as("n_uniq"))
      .filter(col("n_chars").between(50, 2000)
        && col("n_tok").between(5, 500)
        && col("n_uniq") * lit(1.0) / col("n_tok") >= 0.3)
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("doc_id"), col("lang"), col("n_tok"))
      .orderBy(col("doc_id"))
  }

  /** #155 judged INCREMENTAL-APPEND invariance: split the corpus at 60%
    * of the id range into a historical base and an incoming delta, run
    * exact dedup the way [[graft.CorpusPipeline]].appendBatch does —
    * base keepers become the signature store; the delta dedups within
    * itself, then drops anything the store has seen via a broadcast
    * Bloom pre-filter (map-scanned history, no store shuffle) whose
    * maybe-seen remainder alone pays the exact anti-join — and judge
    * that base-keepers ∪ accepted-delta is BYTE-IDENTICAL to a one-shot
    * full recompute over the whole corpus (the oracle). The same
    * writer-side-invisibility trick as `join_bucketed`: the oracle
    * never sees the incremental machinery, only its output. The
    * identity holds because delta ids are strictly larger than base
    * ids (ids grow with time — appendBatch's documented contract), so
    * min-id-per-hash commutes with the split. A daily 100 TB pipeline
    * reruns exactly this shape: history is never re-shuffled, only its
    * one-row Bloom digest is broadcast. */
  def llmDedupAppend(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d).withColumn("_h", md5(col("text")))
    // one-row split point (3/5 of the max id) — broadcast, not collected
    val mx = docs.agg((max(col("doc_id")) * 3 / 5).as("_split"))
    // ONE materialization of the slim (doc_id, hash, split) projection:
    // the store, the Bloom digest, the anti-join and the final union
    // each consume it, and without the checkpoint every consumer
    // re-plans (and re-scans + re-hashes) the corpus subtree — the
    // audited plan went 15 → 9 exchanges (16 → 4 nested-loop
    // one-row-broadcast attaches). Only ids+hashes materialize,
    // never text: the honest stand-in for appendBatch's real operating
    // shape, where the signature store IS a materialized table
    val hashed = docs.select(col("doc_id"), col("_h"))
      .crossJoin(broadcast(mx)).localCheckpoint(true)
    val base = hashed.filter(col("doc_id") < col("_split"))
    val delta = hashed.filter(col("doc_id") >= col("_split"))
    val store = base.groupBy(col("_h")).agg(min(col("doc_id")).as("doc_id"))
    val deltaKeep = delta.groupBy(col("_h")).agg(min(col("doc_id")).as("doc_id"))
    val seen = store.agg(graft.functions.Bloom.bloomSketch(col("_h")).as("_seen"))
    val flagged = deltaKeep.crossJoin(broadcast(seen))
      .withColumn("_maybe",
        graft.functions.Bloom.bloomContains(col("_seen"), col("_h")))
      .drop("_seen")
    // Bloom-rejected rows are DEFINITELY new (no false negatives) and
    // skip the join; only the ≤fpp maybe-seen remainder probes history
    val accepted = flagged.filter(!col("_maybe")).drop("_maybe")
      .unionByName(flagged.filter(col("_maybe")).drop("_maybe")
        .join(store.select(col("_h")), Seq("_h"), "left_anti"))
    store.select(col("doc_id"), col("_h").as("h"))
      .unionByName(accepted.select(col("doc_id"), col("_h").as("h")))
      .orderBy(col("doc_id"))
  }

  /** #55 near-duplicate candidate pairs by token-set Jaccard > 0.6 over a
    * bounded probe set (doc_id < 50). Exact all-pairs on the probe window;
    * the scalable variant (MinHash banding) lives in ScalableDedup. */
  def llmMinhashJaccard(s: SparkSession, d: String): DataFrame = {
    val t = Tables.documents(s, d)
      .filter(col("doc_id") < 50)
      .select(col("doc_id"), TextFunctions.tokenSet(col("text")).as("toks"))
    val a = t.select(col("doc_id").as("a_id"), col("toks").as("ta"))
    val b = t.select(col("doc_id").as("b_id"), col("toks").as("tb"))
    broadcast(a).join(b, col("a_id") < col("b_id"))
      .select(col("a_id"), col("b_id"),
        round(TextFunctions.jaccard(col("ta"), col("tb")), 6).as("jac"))
      .filter(col("jac") > 0.6)
      .orderBy(col("a_id"), col("b_id"))
  }

  /** #151 deterministic IMPORTANCE SAMPLING of the corpus — the data-
    * mixing primitive that reweights a training set without an RNG:
    * each doc is kept iff a uniform hash draw over [0, 2000) lands
    * under its length-proportional weight min(n_chars, 2000), i.e.
    * P(keep) = weight/2000, but decided by md5 of a salted doc id, so
    * the sample is (a) reproducible run to run, (b) stable under
    * corpus re-partitioning/re-ordering, and (c) replayable by any
    * engine — the property `sample()`/rand() cannot give an oracle.
    * Pure integer compare: the hash is exact, the weight is an exact
    * long, no float anywhere. One scan, embarrassingly parallel, the
    * same recipe at 100 TB (per-row decision, no state). */
  def llmImportanceSample(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .withColumn("draw",
        pmod(conv(substring(md5(concat(lit("rs:"), col("doc_id"))), 1, 8), 16, 10)
          .cast("long"), lit(2000L)))
      .filter(col("draw") < least(col("n_chars"), lit(2000L)))
      .select(col("doc_id"), col("lang"), col("n_chars"), col("draw"))
      .orderBy(col("doc_id"))
}
