package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Text-analysis primitives for large-scale corpus curation: language
  * identification, quality scoring, token counting, and document
  * fingerprinting. Everything is a pure Column expression (codegen'd,
  * fully distributed, no UDFs), so each scales as a map over the corpus.
  */
object TextAnalysis {

  /** Whitespace token count (collapses runs of whitespace). */
  def tokenCount(text: Column): Column =
    size(split(trim(text), "\\s+")).cast("long")

  /** BPE-ish subword-boundary token count: alphanumeric runs and each
    * punctuation mark count separately — a cheap, deterministic proxy for
    * tokenizer-based counts when the real tokenizer is unavailable. */
  def bpeishTokenCount(text: Column): Column =
    size(regexp_extract_all(text, lit("[A-Za-z0-9]+|[^A-Za-z0-9\\s]"), lit(0))).cast("long")

  /** Per-language marker words for the n-gram/stopword language-ID
    * heuristic. Tiny on purpose: the mechanism (overlap scoring against
    * broadcastable marker sets) is the point; swap in real stopword lists
    * for production use. */
  private val markers: Map[String, Seq[String]] = Map(
    "en" -> Seq("the", "and", "of", "to", "in", "is", "that", "with"),
    "de" -> Seq("der", "die", "das", "und", "ist", "mit", "von", "nicht"),
    "es" -> Seq("el", "la", "los", "las", "de", "que", "es", "con"),
    "fr" -> Seq("le", "la", "les", "des", "est", "avec", "que", "pour"))

  /** Language-ID heuristic: CJK codepoints force "zh"; otherwise the
    * language whose marker-word set overlaps the token set most wins
    * ("und" — undetermined — when nothing overlaps). Deterministic
    * tie-break by language code. */
  def langId(text: Column): Column = {
    val toks = array_distinct(split(lower(text), "\\s+"))
    // score struct array: (overlap, lang) — array_max picks lexicographically
    // greatest (score first, then lang code), giving a deterministic argmax.
    val scored = array(markers.toSeq.sortBy(_._1).map { case (lang, ws) =>
      struct(size(array_intersect(toks, typedLit(ws))).as("score"), lit(lang).as("lang"))
    }: _*)
    val best = array_max(scored)
    when(regexp_count(text, lit("[\\u4e00-\\u9fff]")) > 0, "zh")
      .when(best.getField("score") > 0, best.getField("lang"))
      .otherwise("und")
  }

  /** Heuristic quality score in [0, 1]: rewards alphabetic content and
    * mid-range mean word length, penalizes very short documents and heavy
    * punctuation — the standard cheap pre-filter shape for corpus
    * curation pipelines. */
  def qualityScore(text: Column): Column = {
    val len = length(text).cast("double")
    val nAlpha = length(regexp_replace(text, "[^A-Za-z]", "")).cast("double")
    val nPunct = length(regexp_replace(text, "[^.,!?;:]", "")).cast("double")
    val words = tokenCount(text).cast("double")
    val meanWord = when(words > 0, nAlpha / words).otherwise(lit(0.0))
    val alphaRatio = when(len > 0, nAlpha / len).otherwise(lit(0.0))
    val punctRatio = when(len > 0, nPunct / len).otherwise(lit(0.0))
    val lenScore = least(len / 200.0, lit(1.0))
    val wordScore = lit(1.0) - least(abs(meanWord - 5.5) / 5.5, lit(1.0))
    val score = (alphaRatio * 0.4 + wordScore * 0.3 + lenScore * 0.2
      + (lit(1.0) - least(punctRatio * 5.0, lit(1.0))) * 0.1)
    round(greatest(lit(0.0), least(score, lit(1.0))), 6)
  }

  /** THE cross-engine 32-bit md5 bucket code: first 8 hex chars of
    * md5(x) as a long — computable identically in other engines (DuckDB:
    * `('0x'||substr(md5(x),1,8))::BIGINT`), unlike xxhash64. Every
    * md5-recipe consumer (token codes, fingerprints, train splits,
    * negative sampling) derives from this single definition. */
  def md5Bucket(c: Column): Column =
    conv(substring(md5(c), 1, 8), 16, 10).cast("long")

  /** Per-token 32-bit codes derived from md5 — unlike xxhash64 this hash
    * is computable identically in other engines (md5 is standardized), so
    * fingerprints built on it are cross-engine checkable. */
  def md5TokenCodes(tokens: Column): Column =
    transform(tokens, t => md5Bucket(t))

  /** Order-SENSITIVE rolling document fingerprint: polynomial hash
    * acc = (acc*31 + code) mod 1e9+7 over per-token md5-derived codes.
    * Two documents with the same words in different order get different
    * fingerprints. */
  def rollingFingerprint(text: Column): Column =
    aggregate(
      transform(split(text, " "), t => md5Bucket(t) % 65536L),
      lit(0L), (acc, x) => (acc * 31L + x) % 1000000007L)

  /** 32-bit SimHash over a column holding md5-derived token codes (see
    * md5TokenCodes): per-bit majority vote across tokens, ties → 0.
    * SQL-text form because the per-bit shift amount is a lambda variable
    * (the Scala `shiftright` only takes literal shifts). The xxhash64
    * 64-bit variant for pure-Spark pipelines is ScalableDedup.simhash. */
  def simhash32(codesField: String): Column = expr(
    s"""aggregate(sequence(0, 31), 0L,
          (acc, b) -> acc + IF(
            2 * size(filter($codesField, c -> (shiftright(c, b) & 1) = 1))
              > size($codesField),
            shiftleft(1L, b), 0L))""")

  /** TF-IDF term weights over a corpus: explode tokens → term frequency
    * per (doc, term) → document frequency per term (one aggregate, joined
    * back) → smoothed idf = ln((N+1)/(df+1)) + 1. Two shuffles total (by
    * (doc, term) and by term); the per-term document-frequency table is
    * tiny relative to the corpus and broadcasts at scale. */
  def tfidf(df: org.apache.spark.sql.DataFrame, docIdCol: String,
      textCol: String): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions.{broadcast, count => cnt}
    val n = df.count()
    val terms = df.select(col(docIdCol).as("doc_id"),
      explode(split(col(textCol), "\\s+")).as("term"))
    val tf = terms.groupBy(col("doc_id"), col("term")).agg(cnt(lit(1)).as("tf"))
    val docFreq = tf.groupBy(col("term"))
      .agg(countDistinct(col("doc_id")).as("df"))
    tf.join(broadcast(docFreq), "term")
      .withColumn("idf", log((lit(n.toDouble) + 1) / (col("df") + 1)) + 1)
      .withColumn("tfidf", col("tf") * col("idf"))
      .select(col("doc_id"), col("term"), col("tf"), col("df"), col("idf"), col("tfidf"))
  }
}
