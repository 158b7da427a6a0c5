package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.functions.{TextAnalysis, TextFunctions}

/** Judged training-data-pipeline queries (SURVEY.md §2.13): the oracle-
  * checked entry points for the text-analysis, fingerprinting, and dedup
  * primitives in graft.functions.TextAnalysis and graft.operators.Hrv.
  *
  * Everything here is a pure Column-expression map or aggregate over the
  * corpus — one scan, no UDFs, no driver-side loops — so each query is a
  * single embarrassingly-parallel stage (plus one shuffle where grouped).
  * Hash-parity with DuckDB pins the exact semantics of each primitive:
  * md5-derived token codes (standardized across engines, unlike
  * xxhash64), explicit rounding on every float, total ORDER BY.
  */
object TrainingData {

  /** #58 per-document quality score (TextAnalysis.qualityScore verbatim):
    * alphabetic ratio, mean word length, length and punctuation terms. */
  def textQuality(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .select(col("doc_id"), TextAnalysis.qualityScore(col("text")).as("quality"))
      .orderBy(col("doc_id"))
      .limit(300)

  /** #59 per-language token counting: whitespace tokens and the BPE-ish
    * subword proxy (alphanumeric runs + single punctuation marks). */
  def textTokencount(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .groupBy(col("lang"))
      .agg(
        count(lit(1)).as("docs"),
        sum(TextAnalysis.tokenCount(col("text"))).as("ws_tokens"),
        sum(TextAnalysis.bpeishTokenCount(col("text"))).as("bpeish_tokens"),
        round(avg(TextAnalysis.tokenCount(col("text"))), 4).as("avg_words"))
      .orderBy(col("lang"))

  /** #232 REAL HTML text extraction (round-16) — the step between a
    * crawl body and every downstream text feature, judged: each page is
    * a closed-form HTML document carrying a `<style>` block, TWO
    * `<script>` elements whose code contains bare `<`/`>` comparisons
    * (which a naive one-regex tag strip mangles into fake tags),
    * entities from the pinned common set, a double-encoded `&amp;lt;`
    * (must surface as the literal text `&lt;`, the single-decode-pass
    * contract), a comment whose content holds a bare `>` (the whole
    * comment must vanish — a naive tag strip leaves ` banner -->`
    * behind), and one entity OUTSIDE the set (`&#169;` — must pass
    * through verbatim, never silently mis-decode) around a real slice
    * of the document text. [[graft.functions.Html.extractText]] must
    * drop script/style CONTENT, strip the remaining tags, and decode
    * the entity chain in order; the oracle rebuilds the identical HTML
    * from doc_id+text and replays the extraction with
    * [[graft.functions.Html.duckExtractSql]] (generated from the same
    * entity table — single source of truth), so a kept script
    * fragment, a fused word, a wrong decode order, or a mis-decoded
    * exotic entity moves text and lengths and fails the hash. Pure
    * Column chain — whole-stage codegen, embarrassingly parallel. */
  def textHtmlExtract(s: SparkSession, d: String): DataFrame = {
    val docId = col("doc_id").cast("string")
    val html = concat(
      lit("<html><head><title>D"), docId,
      lit("</title><style type=\"text/css\">body { color: #"),
      (col("doc_id") % 1000).cast("string"),
      lit("; }</style></head><body><script src=\"app.js\"></script><script>var k = "),
      docId,
      lit("; if (k < 10 && k > 0) { trackPage(k); }</script><!-- ad slot "),
      (col("doc_id") % 5).cast("string"),
      lit(" > banner --><h1>Doc &quot;"), docId,
      lit("&quot;</h1><p>"), substring(col("text"), 1, 160),
      lit(" &amp; more &amp;lt; tail &lt;"),
      (col("doc_id") % 97).cast("string"),
      lit("&gt;&nbsp;&#169; end</p></body></html>"))
    Tables.documents(s, d)
      .select(col("doc_id"), html.as("html"))
      .select(col("doc_id"),
        length(col("html")).cast("long").as("n_chars_html"),
        graft.functions.Html.extractText(col("html")).as("text"))
      .withColumn("n_chars_text", length(col("text")).cast("long"))
      .withColumn("ws_tokens", TextAnalysis.tokenCount(col("text")).cast("long"))
      .orderBy(col("doc_id"))
      .limit(300)
  }

  /** #223 REAL subword tokenization (round-15): per-document BPE token
    * counts under the pinned in-repo merge table
    * ([[graft.functions.Bpe.Merges]] — the deterministic greedy encode
    * of Sennrich et al. 2016, compound merges included), replacing the
    * whitespace/regex proxies as the token length a training pipeline
    * actually budgets on. The oracle replays the SAME table as a
    * DuckDB `replace()` chain with placeholder chars (exact: SQL
    * replace is the same leftmost non-overlapping pass a merge rule
    * performs), so one wrong merge order, an overlapping-pair slip, or
    * a missed compound moves per-doc counts and fails the hash. The
    * engine side is a native codegen'd all-int expression — per-row
    * work is O(len × rules) with zero string churn, embarrassingly
    * parallel at 100 TB. */
  def textBpeTokencount(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .filter(col("doc_id") < 300)
      .select(col("doc_id"),
        graft.functions.Bpe.bpeTokenCount(lower(col("text")))
          .cast("long").as("bpe_tokens"),
        length(col("text")).cast("long").as("n_chars"))
      .withColumn("chars_per_token",
        round(col("n_chars").cast("double") / col("bpe_tokens"), 4))
      .orderBy(col("doc_id"))

  /** #231 BPE token SEQUENCE judged (round-15) — stronger than #223's
    * counts: per document, an order-sensitive rolling hash
    * (acc·31 + code mod 1e9+7, the repo's fingerprint convention) over
    * the encoded token sequence, with merged symbols mapped into the
    * SAME private-use codepoints the oracle's replace-chain
    * placeholders occupy — so both engines fold the very same
    * integers, and one token merged differently, out of place, or
    * reordered moves the hash even where counts collide. This is the
    * contract a tokenizer consumer actually needs: the SEQUENCE, not
    * its length. */
  def textBpeSequence(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .filter(col("doc_id") < 300)
      .select(col("doc_id"),
        graft.functions.Bpe.bpeTokenCount(lower(col("text")))
          .cast("long").as("bpe_tokens"),
        graft.functions.Bpe.bpeSequenceHash(lower(col("text"))).as("seq_hash"))
      .orderBy(col("doc_id"))

  /** #224 sequence packing on REAL token lengths (round-15): #78's
    * greedy chunk assignment re-budgeted on the BPE counts of #223 —
    * the packed-sequence table a training consumer would actually read
    * (budgeting on whitespace proxies misplaces chunk boundaries
    * wherever subword compression varies across documents, which is
    * exactly what differs across languages). Same distributed shape as
    * #78: the global running total is GlobalRank's bucketed prefix
    * sum, no single-partition window anywhere; the oracle's plain
    * `sum() OVER (ORDER BY)` over the replayed BPE counts must be
    * matched invisibly. */
  def llmPackBpe(s: SparkSession, d: String): DataFrame = {
    val budget = 512
    val docs = Tables.documents(s, d)
      .select(col("doc_id"),
        graft.functions.Bpe.bpeTokenCount(lower(col("text"))).as("tokens"))
    GlobalRank.runningTotal(docs, "doc_id", "tokens", "_cum")
      .select(col("doc_id"), col("tokens").cast("long").as("tokens"),
        floor((col("_cum") - col("tokens")).cast("double") / budget)
          .cast("long").as("chunk"),
        (col("_cum") - col("tokens") - floor((col("_cum") - col("tokens"))
          .cast("double") / budget).cast("long") * budget).cast("long").as("offset"))
      .orderBy(col("doc_id"))
      .limit(500)
  }

  /** #228 SUB-DOCUMENT exact dedup (round-15) — the RefinedWeb/FineWeb
    * recipe's within-corpus span dedup, distinct from every
    * document-level member of the family: documents split into
    * consecutive 10-word chunks, chunks deduped CORPUS-WIDE keep-first
    * (first occurrence by (doc_id, chunk index) wins — boilerplate
    * headers/footers repeated across pages are the target), and each
    * document reports how much of it survived plus an
    * order-insensitive md5 checksum of its kept chunks (so a
    * wrong-chunk keep moves the hash even when counts collide). Scale
    * shape (round 16 — the skew-safe form): keep-first is a
    * `groupBy(chunk).agg(min(struct(doc_id, idx)))` AGGREGATION, not a
    * chunk-partitioned window — same semantics (struct ordering is
    * (doc_id, idx), exactly the window's ORDER BY), but partial
    * map-side combine absorbs what a window sort serializes: a
    * pathologically hot chunk (site boilerplate repeated across
    * millions of docs) costs one partial min per map task instead of
    * one window partition holding every occurrence. Winners then
    * roll up per doc and join the per-doc totals on doc_id — every
    * exchange is a plain hash shuffle, never a cross product. */
  def dedupSubdoc(s: SparkSession, d: String): DataFrame = {
    val chunkWords = 10
    val chunks = Tables.documents(s, d)
      .select(col("doc_id"), split(col("text"), " ").as("ws"))
      .select(col("doc_id"),
        posexplode(expr(
          s"""transform(sequence(0, cast(ceil(size(ws) / $chunkWords.0) as int) - 1),
             |  i -> array_join(slice(ws, i * $chunkWords + 1, $chunkWords), ' '))"""
            .stripMargin)).as(Seq("idx", "chunk")))
    val winners = chunks
      .groupBy(col("chunk"))
      .agg(min(struct(col("doc_id"), col("idx"))).as("w"))
      .select(col("w.doc_id").as("doc_id"),
        graft.functions.TextAnalysis.md5Bucket(col("chunk")).as("h"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_kept"), sum(col("h")).as("kept_hash"))
    chunks
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_chunks"))
      .join(winners, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_chunks"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"),
        coalesce(col("kept_hash"), lit(0L)).as("kept_hash"))
      .withColumn("kept_ratio",
        round(col("n_kept").cast("double") / col("n_chunks"), 4))
      .orderBy(col("doc_id"))
  }

  /** #244 GLOBAL LINE-LEVEL dedup (round 17) — the CCNet recipe's
    * boilerplate-removal pass (Wenzek et al., LREC 2020: drop
    * duplicated paragraphs/lines ACROSS the corpus before any
    * document-level dedup; C4 applies the same idea to three-sentence
    * spans): every page splits into lines, a line is kept only at its
    * FIRST corpus-wide occurrence (ordered by (doc, position)), and
    * each page reports how many of its lines survived plus its
    * reassembled deduped text. The fixture is the `text_c4_filter`
    * posture — the OPERATOR is under judgment, the multi-line corpus
    * is a key function both engines rebuild identically: per-site nav
    * header / welcome / copyright lines (7 distinct bodies repeated
    * across ~43 pages each), two unique content lines per page, and a
    * GLOBALLY repeated newsletter line on every third page — the
    * exact Zipf shape (few boilerplate lines, massive repetition)
    * this pass exists for. Scale shape (the `dedupSubdoc` skew-safe
    * discipline): keep-first is `groupBy(line).agg(min(struct(k,
    * pos)))` — partial map-side combine absorbs the hot boilerplate
    * lines — and the winners join BACK on the UNIQUE (k, pos) key,
    * never on the line text, so a line repeated across millions of
    * pages costs one partial min per map task and never becomes a
    * join hot key. The reassembly groupBy rides the same (k) hash
    * shuffle. */
  def textLineDedup(s: SparkSession, d: String): DataFrame = {
    val k = col("p_partkey")
    val site = (k % 7).cast("string")
    val base = array(
      concat(lit("Home | About | Contact - site-"), site),
      concat(lit("welcome to site "), site, lit(" page")),
      concat(lit("unique content "), k.cast("string"), lit(" alpha "),
        ((k * 17) % 9973).cast("string")),
      concat(lit("body text "), k.cast("string"), lit(" beta "),
        ((k * 29) % 9973).cast("string")),
      concat(lit("copyright site-"), site))
    val withNews = concat(base,
      when(k % 3 === 0, array(lit("subscribe to our newsletter")))
        .otherwise(array().cast("array<string>")))
    val docs = Tables.part(s, d).filter(k <= 300)
      .select(k.as("k"), array_join(withNews, "\n").as("text"))
    val lines = docs.select(col("k"),
      posexplode(split(col("text"), "\n")).as(Seq("pos", "line")))
    val keepers = lines.groupBy(col("line"))
      .agg(min(struct(col("k"), col("pos"))).as("w"))
      .select(col("w.k").as("k"), col("w.pos").as("pos"),
        lit(true).as("keep"))
    lines.join(keepers, Seq("k", "pos"), "left")
      .withColumn("keep", coalesce(col("keep"), lit(false)))
      .groupBy(col("k"))
      .agg(count(lit(1)).as("n_lines"),
        sum(when(col("keep"), 1L).otherwise(0L)).as("n_kept"),
        array_join(
          transform(
            array_sort(collect_list(
              when(col("keep"), struct(col("pos"), col("line"))))),
            x => x.getField("line")),
          "\n").as("text_kept"))
      .orderBy(col("k"))
  }

  /** #248 C4 THREE-SENTENCE-SPAN dedup (round 17) — the exact recipe
    * of Raffel et al. 2020 §2.2 ("we discarded all but one of any
    * three-sentence span occurring more than once in the data set"),
    * DISTINCT from the line ([[textLineDedup]]) and fixed-chunk
    * ([[dedupSubdoc]]) members of the family because spans OVERLAP:
    * every consecutive sentence triple is a span, a span is a
    * duplicate unless it is the corpus-wide first occurrence (ordered
    * by (doc, start)), and a SENTENCE is removed when any duplicate
    * span covers it — so a repeated 3-sentence boilerplate block
    * disappears from every doc but the first while the unique
    * sentences around it survive. The fixture plants exactly that
    * shape: a per-site 3-sentence block between two unique sentences.
    * Scale shape: span formation is two `lead()`s over the per-doc
    * window (partitioned by doc — no global sort); keep-first is the
    * skew-safe `groupBy(span).agg(min(struct(k, pos)))` (map-side
    * partial combine absorbs hot boilerplate); the winner-filter join
    * is span-keyed but its build side is UNIQUE per span (one winner
    * row), so a hot span is pure probe-side skew — exactly the shape
    * AQE's skew-join split handles by replicating the one build row;
    * the final sentence-marking join is on the UNIQUE (k, pos) key. */
  def dedupC4Spans(s: SparkSession, d: String): DataFrame = {
    val k = col("p_partkey")
    val site = (k % 7).cast("string")
    val sents = array(
      concat(lit("intro "), k.cast("string"), lit(" alpha "),
        ((k * 7) % 9973).cast("string"), lit(".")),
      concat(lit("share a "), site, lit(".")),
      concat(lit("share b "), site, lit(".")),
      concat(lit("share c "), site, lit(".")),
      concat(lit("outro "), k.cast("string"), lit(" beta "),
        ((k * 11) % 9973).cast("string"), lit(".")))
    val docs = Tables.part(s, d).filter(k <= 300)
      .select(k.as("k"), sents.as("sents"))
    val sent = docs.select(col("k"),
      posexplode(col("sents")).as(Seq("pos", "line")))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("k")).orderBy(col("pos"))
    val spans = sent
      .withColumn("s1", lead(col("line"), 1).over(w))
      .withColumn("s2", lead(col("line"), 2).over(w))
      .filter(col("s2").isNotNull)
      .select(col("k"), col("pos"),
        concat_ws(" ", col("line"), col("s1"), col("s2")).as("span"))
    val winners = spans.groupBy(col("span"))
      .agg(min(struct(col("k"), col("pos"))).as("w"))
      .select(col("span"), col("w.k").as("wk"), col("w.pos").as("wpos"))
    val removedPos = spans.join(winners, Seq("span"))
      .filter(!(col("k") === col("wk") && col("pos") === col("wpos")))
      .select(col("k"),
        explode(array(col("pos"), col("pos") + 1, col("pos") + 2))
          .as("pos"))
      .distinct()
      .withColumn("removed", lit(true))
    sent.join(removedPos, Seq("k", "pos"), "left")
      .withColumn("removed", coalesce(col("removed"), lit(false)))
      .groupBy(col("k"))
      .agg(count(lit(1)).as("n_sentences"),
        sum(when(col("removed"), 1L).otherwise(0L)).as("n_removed"),
        array_join(
          transform(
            array_sort(collect_list(
              when(!col("removed"), struct(col("pos"), col("line"))))),
            x => x.getField("line")),
          " ").as("text_clean"))
      .orderBy(col("k"))
  }

  /** #60 language-ID confusion matrix: actual `lang` column vs the
    * marker-word heuristic (TextAnalysis.langId verbatim). */
  def textLangid(s: SparkSession, d: String): DataFrame =
    Par.widen(Tables.documents(s, d), col("doc_id"))
      .groupBy(col("lang"), TextAnalysis.langId(col("text")).as("pred"))
      .agg(count(lit(1)).as("c"))
      .orderBy(col("lang"), col("pred"))

  /** #60b corpus text normalization — the canonicalization pass every
    * training-data pipeline runs before hashing/dedup: lowercase,
    * strip non-alphanumerics (keeping spaces), collapse whitespace
    * runs, trim. Pure codegen'd expression chain, one map pass, no
    * shuffle beyond the output sort. */
  def textNormalize(s: SparkSession, d: String): DataFrame = {
    val norm = trim(regexp_replace(
      regexp_replace(lower(col("text")), "[^a-z0-9 ]", ""), " +", " "))
    Tables.documents(s, d)
      .filter(col("doc_id") < 200)
      .select(col("doc_id"), norm.as("norm"))
      .withColumn("n_norm", length(col("norm")))
      .orderBy(col("doc_id"))
  }

  /** #61 order-sensitive rolling fingerprint per document
    * (TextAnalysis.rollingFingerprint verbatim). */
  def textFingerprint(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .select(col("doc_id"), TextAnalysis.rollingFingerprint(col("text")).as("fp"))
      .orderBy(col("doc_id"))
      .limit(300)

  /** #62 32-bit SimHash signature + popcount per document over md5 token
    * codes (TextAnalysis.simhash32): the deterministic, cross-engine-
    * checkable twin of the xxhash64 production simhash. */
  def dedupSimhash(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .filter(col("doc_id") < 100)
      .withColumn("codes", TextAnalysis.md5TokenCodes(split(col("text"), " ")))
      .select(col("doc_id"), TextAnalysis.simhash32("codes").as("sig"))
      .withColumn("nbits", bit_count(col("sig")))
      .orderBy(col("doc_id"))

  /** #63 character-trigram Jaccard near-dup pairs over a bounded probe
    * window — shingle granularity below the word level, catching
    * near-dups that token-set Jaccard (#55) misses when words are edited
    * in place. All-pairs on the 40-doc probe set; the scale path bands
    * the same shingle hashes (ScalableDedup.minhashBandSignaturesFromMins). */
  def dedupNgramJaccard(s: SparkSession, d: String): DataFrame = {
    // the ONE cross-engine char-3-gram recipe (shared with Decontaminate)
    val sh = Decontaminate.shingleSet("text", 3)
    val t = Tables.documents(s, d)
      .filter(col("doc_id") < 40)
      .select(col("doc_id"), sh.as("sh"))
    val a = t.select(col("doc_id").as("a_id"), col("sh").as("sa"))
    val b = t.select(col("doc_id").as("b_id"), col("sh").as("sb"))
    broadcast(a).join(b, col("a_id") < col("b_id"))
      .select(col("a_id"), col("b_id"),
        round(TextFunctions.jaccard(col("sa"), col("sb")), 6).as("jac"))
      .filter(col("jac") >= 0.5)
      .orderBy(col("a_id"), col("b_id"))
  }

  /** #176 char-trigram CONTAINMENT near-dup pairs (Broder's asymmetric
    * resemblance): C(a→b) = |S(a)∩S(b)|/|S(a)| over the same 40-doc
    * probe window as #63 — the sub-document duplicate detector. Jaccard
    * misses a short doc pasted inside a long one (the union dilutes it);
    * containment reads 1.0 there. Ordered pairs (a≠b, both directions),
    * kept at ≥ 0.8. The containment ratio is a single division of exact
    * integer set sizes — identical doubles both engines, 6-dp round
    * safe (the #63 precedent). Scale path: the same shingle-hash LSH as
    * every dedup op (ScalableDedup.minhashBandSignaturesFromMins); containment
    * rescoring reuses the sorted-intersect counts with the ASYMMETRIC
    * denominator. */
  def dedupContainment(s: SparkSession, d: String): DataFrame = {
    val sh = Decontaminate.shingleSet("text", 3)
    val t = Tables.documents(s, d)
      .filter(col("doc_id") < 40)
      .select(col("doc_id"), sh.as("sh"))
    val a = t.select(col("doc_id").as("a_id"), col("sh").as("sa"))
    val b = t.select(col("doc_id").as("b_id"), col("sh").as("sb"))
    broadcast(a).join(b, col("a_id") =!= col("b_id"))
      .select(col("a_id"), col("b_id"),
        size(col("sa")).cast("long").as("n_a"),
        size(array_intersect(col("sa"), col("sb"))).cast("long").as("inter"))
      .withColumn("cont",
        round(col("inter").cast("double") / col("n_a").cast("double"), 6))
      .filter(col("cont") >= 0.8)
      .orderBy(col("a_id"), col("b_id"))
  }

  /** #66 embedding-cosine near-dup pairs over a bounded probe window —
    * the vector-space member of the dedup family (exact #49, token-set
    * Jaccard #55, SimHash #62, char-ngram #63). Probe side broadcasts;
    * cosine_sim is the fused native expression. */
  /** The ONE embedding near-dup pair recipe (probe bound, rounding,
    * threshold) shared by judged #66 and #84 — tuning it in one place
    * keeps both queries and their oracles in lockstep. */
  private def embeddingNearDupPairs(s: SparkSession, d: String): DataFrame = {
    import graft.functions.VectorFunctions
    import graft.functions.CosineSimilarityExpr.cosine_sim
    val emb = Tables.embeddings(s, d)
      .filter(col("vec_id") < 120)
      .select(col("vec_id"), VectorFunctions.toDoubleVec(col("embedding")).as("v"))
    val a = emb.select(col("vec_id").as("a_id"), col("v").as("va"))
    val b = emb.select(col("vec_id").as("b_id"), col("v").as("vb"))
    broadcast(a).join(b, col("a_id") < col("b_id"))
      .select(col("a_id"), col("b_id"),
        round(cosine_sim(col("va"), col("vb")), 6).as("cosine"))
      .filter(col("cosine") >= 0.3)
  }

  def dedupEmbedding(s: SparkSession, d: String): DataFrame =
    embeddingNearDupPairs(s, d)
      .orderBy(col("a_id"), col("b_id"))

  /** #86 (added round 9) corpus-LM quality score: each document's mean
    * unigram log-probability under the corpus's own token distribution
    * — the classic cheap perplexity proxy that flags gibberish /
    * boilerplate for filtering. Three stages, all reduced early: token
    * frequencies are one map-side-combinable aggregate (|vocab| rows),
    * the tokens⋈freq join broadcasts the tiny freq table, the corpus
    * total rides a broadcast 1-row cross join, and the per-doc mean is
    * one doc_id aggregate. At 100 TB the only fat shuffle is the freq
    * count over exploded tokens, which map-side combine collapses to
    * per-partition vocab size. */
  def textUnigramLogprob(s: SparkSession, d: String): DataFrame = {
    val tok = Tables.documents(s, d)
      .select(col("doc_id"), explode(split(col("text"), " ")).as("w"))
    val freq = tok.groupBy(col("w")).agg(count(lit(1)).as("c"))
    // total tokens = Σ freq counts — an aggregate over |vocab| rows, not
    // a third full scan+explode of the corpus
    val tot = freq.agg(sum(col("c")).as("n"))
    tok.join(broadcast(freq), "w")
      .crossJoin(broadcast(tot))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_tokens"),
        round(avg(log(col("c") / col("n"))), 4).as("avg_ll"))
      .orderBy(col("doc_id"))
  }

  /** #90 (added round 9) bigram-LM quality score — the context-aware
    * upgrade of [[textUnigramLogprob]]: each document's mean add-one-
    * smoothed bigram log-probability ln((c(w1,w2)+1)/(c(w1)+V)) under
    * the corpus's own statistics. A repeated-token doc scores HIGH on
    * unigrams but its unlikely transitions score LOW here — the
    * standard second filter for degenerate text. Stage shape: bigrams
    * come from a zip of two array slices (no positional self-join);
    * the bigram-type and unigram counts are map-side-combinable
    * aggregates bounded by vocabulary, both broadcast back; the vocab
    * size rides a 1-row broadcast; the per-doc mean is one doc_id
    * aggregate. At 100 TB the fat shuffles are the two count
    * aggregates, each collapsing to per-partition type counts. */
  def llmBigramLogprob(s: SparkSession, d: String): DataFrame = {
    val toks = Tables.documents(s, d)
      .select(col("doc_id"), split(col("text"), " ").as("l"))
    val pairs = toks.filter(size(col("l")) >= 2)
      .withColumn("a", slice(col("l"), lit(1), size(col("l")) - 1))
      .withColumn("b", slice(col("l"), lit(2), size(col("l")) - 1))
      .select(col("doc_id"), explode(arrays_zip(col("a"), col("b"))).as("p"))
      .select(col("doc_id"), col("p.a").as("w1"), col("p.b").as("w2"))
    val uni = toks.select(explode(col("l")).as("w1"))
      .groupBy(col("w1")).agg(count(lit(1)).as("c"))
    val vocab = uni.agg(count(lit(1)).as("v"))
    val bgc = pairs.groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("c2"))
    pairs.join(broadcast(bgc), Seq("w1", "w2"))
      .join(broadcast(uni), Seq("w1"))
      .crossJoin(broadcast(vocab))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_bigrams"),
        round(avg(log((col("c2") + 1.0) / (col("c") + col("v")))), 6).as("avg_lp"))
      .orderBy(col("doc_id"))
  }

  /** #85 (added round 9) overlapping sliding-window text chunking —
    * the RAG/pretraining prep step that turns documents into
    * fixed-size character windows with overlap (size 100, stride 80 →
    * 20-char overlap preserves context across boundaries). Window
    * starts run to the END of the document (a final shorter tail chunk
    * is emitted rather than dropping up to stride−1 trailing chars —
    * a full-windows-only bound loses document tails). One generator
    * expression per row (`sequence` → `explode`), then a codegen'd
    * substring — output volume is ⌈len/stride⌉ per doc, no shuffle at
    * all until the final presentation sort; at corpus scale chunking
    * is a pure map stage. */
  def llmChunkText(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .filter(col("doc_id") < 50)
      .select(col("doc_id"), col("text"),
        explode(sequence(lit(1), length(col("text")), lit(80))).as("p"))
      .select(col("doc_id"), col("p").cast("long").as("pos"),
        col("text").substr(col("p"), lit(100)).as("chunk"))
      .orderBy(col("doc_id"), col("pos"))

  /** #84 (added round 9) from near-dup PAIRS to duplicate CLUSTERS:
    * connected components over the embedding-cosine pair graph (#66's
    * edges), labeling every member with the smallest id reachable —
    * the step that turns pairwise similarity into one-keeper-per-group
    * dedup decisions. The Spark side runs the O(log n)
    * large-star/small-star contraction ([[DedupClusters]], the 100 TB
    * path — rounds grow with log(component size), never diameter);
    * the oracle reaches the same fixpoint by transitive-closure min
    * propagation (a recursive CTE) — tractable on the bounded probe
    * graph, and the labelings provably coincide: both assign each node
    * the minimum id of its component. */
  def dedupCcClusters(s: SparkSession, d: String): DataFrame = {
    // r17: checkpoint the pair set at the CALLER (the llm_dedup_clusters
    // pattern) — connectedComponents consumes it from two subtrees
    // (node list + oriented edges), and with the module's single-use
    // node checkpoint gone the un-materialized pipeline would re-run
    // its bounded-probe BNLJ in the final labels job
    val pairs = embeddingNearDupPairs(s, d).select(col("a_id"), col("b_id"))
      .localCheckpoint(true)
    DedupClusters.connectedComponents(pairs, "a_id", "b_id")
      .select(col("id"), col("comp").as("cluster_id"))
      .orderBy(col("id"))
  }

  /** #63c edit-distance (Levenshtein) near-dup pairs over a bounded
    * probe window — the character-level member of the dedup family,
    * catching transposition/typo-level duplicates that set-based
    * Jaccard scores as distant. Built on the codegen'd `levenshtein`
    * expression; all-pairs only on the ≤40-doc broadcast probe set
    * (the 100 TB path blocks candidates through MinHash banding —
    * ScalableDedup.minhashBandedCandidatesFromSigs — first, then scores
    * ONLY the candidate pairs with this same expression). */
  def dedupLevenshtein(s: SparkSession, d: String): DataFrame = {
    val t = Tables.documents(s, d)
      .filter(col("doc_id") < 40)
      .select(col("doc_id"), col("text"))
    val a = t.select(col("doc_id").as("a_id"), col("text").as("ta"))
    val b = t.select(col("doc_id").as("b_id"), col("text").as("tb"))
    // the 3-arg bounded form early-exits the DP once the distance
    // provably exceeds the threshold (returns -1 then) — O(k·min(n,m))
    // instead of O(n·m) per pair, the difference that matters when the
    // candidate-pair volume is real; exact distance is preserved for
    // every kept pair
    broadcast(a).join(b, col("a_id") < col("b_id"))
      .select(col("a_id"), col("b_id"),
        levenshtein(col("ta"), col("tb"), 100).as("dist"))
      .filter(col("dist") >= 0 && col("dist") <= 100)
      .orderBy(col("a_id"), col("b_id"))
  }

  /** #64 time-domain HRV feature block per user over the event stream:
    * count, mean, SDNN, RMSSD, pNN50 — the reference's signature
    * feature computation, oracle-checked. Judged through
    * [[Hrv.timeDomainCents]], the integer-cent-lattice form: the float
    * `Hrv.timeDomain` is order-of-summation-noisy at ~1e-13, which a
    * 17 MB bench never notices but a 10× (sf1) run caught — one user's
    * rmssd sat ON a 2-dp boundary and the engines rounded opposite
    * ways. On the cent lattice every aggregate is exact and the single
    * float step per output is identical on both engines. */
  def hrvRmssd(s: SparkSession, d: String): DataFrame =
    Hrv.timeDomainCents(Tables.events(s, d),
        col("user_id"), col("ts"), col("event_id"), col("value"))
      // mean_nn/pnn leave timeDomainCents ALREADY integer-rounded to
      // their grid (no float round may touch them — that is the point);
      // the sqrt outputs round here, on operand-identical doubles
      .select(col("series_key"), col("n"),
        col("mean_nn"),
        round(col("sdnn"), 2).as("sdnn"),
        round(col("rmssd"), 2).as("rmssd"),
        col("pnn"))
      .orderBy(col("series_key"))

  /** #71 Poincaré-plot descriptors per user: SD1/SD2 short/long-term
    * variability from the successive-pair identity, plus their ratio.
    * Completes the judged HRV block (time-domain #64, cleaning #68,
    * resampling #70). Judged through [[Hrv.poincareCents]] — exact
    * integer variance moments, one operand-identical float step per
    * output (round-11 proactive fix: same order-noise class as the
    * rmssd boundary flip the sf1 run caught). */
  def hrvPoincare(s: SparkSession, d: String): DataFrame =
    Hrv.poincareCents(Tables.events(s, d),
        col("user_id"), col("ts"), col("event_id"), col("value"))
      .select(col("series_key"),
        round(col("sd1"), 2).as("sd1"),
        round(col("sd2"), 2).as("sd2"),
        round(col("sd_ratio"), 2).as("sd_ratio"))
      .orderBy(col("series_key"))

  /** #163 Lorenz-plot autonomic indices per user (CSI / CVI / Modified
    * CSI — the seizure-detection feature triple of the reference's
    * domain), judged through [[Hrv.csiCviCents]]: exact integer variance
    * numerators, a fixed operand-identical float chain per output, 4-dp
    * round safe because all three are irrational off a measure-zero
    * set. */
  def hrvCsiCvi(s: SparkSession, d: String): DataFrame =
    Hrv.csiCviCents(Tables.events(s, d),
        col("user_id"), col("ts"), col("event_id"), col("value"))
      .select(col("series_key"),
        round(col("csi"), 4).as("csi"),
        round(col("cvi"), 4).as("cvi"),
        round(col("modified_csi"), 4).as("modified_csi"))
      .orderBy(col("series_key"))

  /** #164 geometrical HRV per user: the triangular index (n over the
    * peak histogram bin) on fixed 8.00-unit cent bins — all-integer
    * two-level aggregation, HTI integer-rounded on its 4-dp grid (a
    * count ratio is RATIONAL: float round is unsafe, see
    * [[Hrv.halfUp]]). */
  def hrvGeometry(s: SparkSession, d: String): DataFrame =
    Hrv.triangularIndexCents(Tables.events(s, d),
        col("user_id"), col("value"))
      .select(col("series_key"), col("n"), col("n_bins"),
        col("max_bin_count"), col("hti"))
      .orderBy(col("series_key"))

  /** #174 TINN per user — triangular interpolation of the NN histogram
    * (the second classic geometrical HRV feature next to HTI #164),
    * judged through [[Hrv.tinnCents]]: exact int64 side-error numerators
    * on the dense bin grid, argmin by operand-identical doubles with an
    * integer tiebreak, TINN = (M−N)·8.0 exact. */
  def hrvTinn(s: SparkSession, d: String): DataFrame =
    Hrv.tinnCents(Tables.events(s, d), col("user_id"), col("value"))
      .select(col("series_key"), col("n"), col("peak_bin"),
        col("n_left"), col("m_right"), col("tinn"))
      .orderBy(col("series_key"))

  /** #165 remaining time-domain HRV block per user: exact interpolated
    * median, range, CV-of-NN / CV-of-successive-differences, and the
    * inverse-rate view (mean/min/max "HR"), judged through
    * [[Hrv.timeExtrasCents]] — rates land on their own integer
    * centi-grid BEFORE aggregating, medians of integers interpolate
    * exactly, CVs are irrational ratios of operand-identical doubles. */
  def hrvTimeExtras(s: SparkSession, d: String): DataFrame =
    Hrv.timeExtrasCents(Tables.events(s, d),
        col("user_id"), col("ts"), col("event_id"), col("value"))
      .select(col("series_key"), col("n"), col("median_nn"),
        col("range_nn"), col("cvnni"), col("cvsd"),
        col("mean_hr"), col("min_hr"), col("max_hr"))
      .orderBy(col("series_key"))

  /** #166 ectopic-beat screening per user under the Malik (>20% vs
    * predecessor) and Kamath (rise >32.5% / fall >24.5%) rules, judged
    * through [[Hrv.ectopicCents]] — thresholds cross-multiplied into
    * exact integer compares, fraction integer-rounded on its grid. */
  def hrvEctopic(s: SparkSession, d: String): DataFrame =
    Hrv.ectopicCents(Tables.events(s, d),
        col("user_id"), col("ts"), col("event_id"), col("value"))
      .select(col("series_key"), col("n_pairs"), col("n_malik"),
        col("n_kamath"), col("pct_malik"))
      .orderBy(col("series_key"))

  /** #170 the FUSED per-user HRV feature table — the reference's
    * signature output artifact: the full canonical feature vector
    * (n, mean, SDNN, RMSSD, pNN, SD1, SD2, CSI, CVI, Modified CSI) in
    * ONE window pass + ONE aggregation, judged through
    * [[Hrv.featureTableCents]]. Every formula is the identical
    * cent-lattice form its single-feature judged query uses, so the
    * fusion — one shuffle for ten features instead of six — is
    * result-invisible, which is exactly what the oracle checks. */
  def hrvFeatureTable(s: SparkSession, d: String): DataFrame =
    Hrv.featureTableCents(Tables.events(s, d),
        col("user_id"), col("ts"), col("event_id"), col("value"))
      .select(col("series_key"), col("n"), col("mean_nn"),
        round(col("sdnn"), 2).as("sdnn"),
        round(col("rmssd"), 2).as("rmssd"),
        col("pnn"),
        round(col("sd1"), 2).as("sd1"),
        round(col("sd2"), 2).as("sd2"),
        round(col("csi"), 4).as("csi"),
        round(col("cvi"), 4).as("cvi"),
        round(col("modified_csi"), 4).as("modified_csi"))
      .orderBy(col("series_key"))

  /** #169 segment-based long-term HRV per user: SDANN + SDNN index on
    * daily segments, judged through [[Hrv.sdannCents]] — both
    * second-level aggregates run over integer-quantized per-segment
    * features, so there is NO order-sensitive float sum anywhere (the
    * hazard that makes naive SDANN un-oracle-able at scale). */
  def hrvSdann(s: SparkSession, d: String): DataFrame =
    Hrv.sdannCents(Tables.events(s, d),
        col("user_id"), col("ts"), col("value"))
      .select(col("series_key"), col("n_segments"), col("n_sdnn_segments"),
        round(col("sdann"), 2).as("sdann"), col("sdnn_index"))
      .orderBy(col("series_key"))

  /** #167 per-sample SLIDING-window RMSSD (trailing 60 samples) — the
    * reference pipeline's signature rolling-feature shape, judged
    * through [[Hrv.rollingRmssdCents]]: exact integer frame sums, one
    * float division + sqrt per row, 2-dp round safe (irrational).
    * Bounded to the first 40 users to keep the judged output polite;
    * the operator itself is unbounded. */
  def hrvRollingRmssd(s: SparkSession, d: String): DataFrame =
    Hrv.rollingRmssdCents(
        Tables.events(s, d).filter(col("user_id") < 40),
        col("user_id"), col("ts"), col("event_id"), col("value"), 60)
      .select(col("series_key"), col("_tb").as("event_id"),
        round(col("rmssd_roll"), 2).as("rmssd_60"))
      .orderBy(col("series_key"), col("event_id"))

  /** #72 grouped correlation/covariance between the sample value and the
    * JSON payload's k field — the bivariate member of the stats family
    * (#19 covers the univariate moments). Partial+final aggregate,
    * map-side combinable.
    *
    * Judged on the INTEGER-CENT lattice (round-11 sf1 lessons): the
    * float `corr`/`covar_samp` pair is summation-order-noisy, and at
    * 10× bench scale one group's covariance landed ON its 2-dp
    * boundary (engines rounded opposite ways) while another's
    * correlation rounded to IEEE −0.0 on DuckDB only. Here every sum
    * is an exact integer moment; the correlation pays one float
    * division over operand-identical doubles (irrational off a
    * measure-zero set — safe to round), and the covariance — an exact
    * RATIONAL that can sit exactly on the boundary — rounds in integer
    * space (half-away of num/den), so no engine ever rounds a float.
    * Overflow bound: n·Σck < 2⁶³ — holds to ~10⁶ rows per group at
    * this value domain; per-user groups are ~67 at every linear sf. */
  def aggCorr(s: SparkSession, d: String): DataFrame = {
    val base = Tables.events(s, d).select(col("user_id"),
      round(col("value") * 100).cast("long").as("c"),
      get_json_object(col("props"), "$.k").cast("long").as("k"))
    val g = base.groupBy(col("user_id")).agg(
      count(lit(1)).as("n"), sum(col("c")).as("sc"), sum(col("k")).as("sk"),
      sum(col("c") * col("k")).as("sck"), sum(col("c") * col("c")).as("scc"),
      sum(col("k") * col("k")).as("skk"))
    val num = col("n") * col("sck") - col("sc") * col("sk")
    val tc = col("n") * col("scc") - col("sc") * col("sc")
    val tk = col("n") * col("skk") - col("sk") * col("sk")
    val den = col("n") * (col("n") - 1)
    // half-away integer rounding of num/den via exact-multiple division
    val a = abs(num)
    val centsAbs = ((a * 2 + den) - pmod(a * 2 + den, den * 2)).cast("double")
      .divide((den * 2).cast("double")).cast("long")
    g.select(col("user_id"),
        when(tc > 0 && tk > 0,
          round(num.cast("double") /
            (sqrt(tc.cast("double")) * sqrt(tk.cast("double"))), 4)).as("corr_vk"),
        when(col("n") > 1,
          when(num < 0, -centsAbs).otherwise(centsAbs).cast("double") / 100.0)
          .as("covar_vk"))
      .orderBy(col("user_id"))
  }

  /** #70 LOCF resampling to a uniform hourly grid (Hrv.resample
    * verbatim): per-series tick explode between first and last sample,
    * union with the samples, one window pass carrying the most recent
    * value onto each tick — the classic pre-step for spectral analysis of
    * irregular series. Bounded to a 5-user probe window. */
  def hrvResample(s: SparkSession, d: String): DataFrame =
    Hrv.resample(Tables.events(s, d).filter(col("user_id") < 5),
        col("user_id"), col("ts"), col("value"), stepSeconds = 3600)
      .orderBy(col("series_key"), col("ts"))

  /** #171 LINEAR-interpolation resampling to the hourly grid — the
    * spectral-analysis pre-step, judged through
    * [[Hrv.resampleInterpCents]]: two native sorted-merge as-of passes
    * (backward + forward bracket per tick), then EXACT integer-lattice
    * interpolation — the rational (c0·(t1−tk) + c1·(tk−t0))/(t1−t0)
    * half-ups onto the cent grid in pure integer arithmetic; no float
    * ever touches the value path. */
  def hrvResampleInterp(s: SparkSession, d: String): DataFrame =
    Hrv.resampleInterpCents(Tables.events(s, d).filter(col("user_id") < 5),
        col("user_id"), col("ts"), col("value"), stepSeconds = 3600)
      .orderBy(col("series_key"), col("ts"))

  /** #173 character-distribution Shannon entropy per document (nats) —
    * the classic cheap quality/gibberish signal for training-data
    * curation (low entropy → repeated filler; high → random noise).
    * ent = ln(n) − Σ cnt·ln(cnt) / n over per-character counts: the
    * counts are exact integers, each row's cnt·ln(cnt) is an
    * operand-identical double in both engines, and the one
    * order-sensitive float sum (≈ tens of character classes, ~1e-15
    * relative) rounds at 4 dp — the `text_unigram_logprob` precedent.
    * Two-level map-side-combinable aggregation, probe window of 500
    * docs (the operator itself is corpus-wide). */
  def textCharEntropy(s: SparkSession, d: String): DataFrame = {
    val n = sum(col("cnt"))
    Tables.documents(s, d).filter(col("doc_id") < 500)
      .select(col("doc_id"), explode(split(col("text"), "")).as("ch"))
      .groupBy(col("doc_id"), col("ch")).agg(count(lit(1)).as("cnt"))
      .groupBy(col("doc_id"))
      .agg(
        n.as("n_chars"),
        count(lit(1)).as("n_distinct"),
        round(log(n.cast("double"))
          - sum(col("cnt").cast("double") * log(col("cnt").cast("double")))
            / n.cast("double"), 4).as("entropy"))
      .orderBy(col("doc_id"))
  }

  /** #183 repetition quality filter (the Gopher/MassiveText rule
    * family): per-document duplicate-BIGRAM fraction — the cheapest
    * reliable signal for boilerplate and degenerate generation loops
    * (`n_bigrams − n_distinct` over `n_bigrams`). Reported in basis
    * points computed ENTIRELY in integer space ((20000·dup + n) div 2n
    * is the half-up of 10000·dup/n), so the judged result has no float
    * anywhere. Every document computes its own row from its own text
    * via array expressions (split → adjacent-pair transform →
    * array_distinct) — a pure MAP over the corpus, zero shuffles at any
    * scale; the oracle builds the same bigrams through DuckDB's 1-based
    * list lambdas. */
  def textRepetition(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .select(col("doc_id"), split(col("text"), " ").as("tk"))
      .filter(size(col("tk")) >= 2)
      .withColumn("bg", expr(
        "transform(sequence(1, size(tk) - 1), " +
          "i -> concat(element_at(tk, i), ' ', element_at(tk, i + 1)))"))
      .select(col("doc_id"),
        size(col("tk")).cast("long").as("n_tokens"),
        size(col("bg")).cast("long").as("n_bigrams"),
        size(array_distinct(col("bg"))).cast("long").as("n_distinct"))
      .withColumn("dup_bp", expr(
        "(20000 * (n_bigrams - n_distinct) + n_bigrams) div (2 * n_bigrams)"))
      .orderBy(col("doc_id"))

  /** #241 FASTTEXT-STYLE QUALITY CLASSIFIER INFERENCE (round-16) —
    * the standard learned quality gate of public LLM-data pipelines
    * (CCNet, LLaMA, RedPajama all fastText-filter their crawl; the
    * model design is Joulin et al. 2016: hashed word n-gram features →
    * embedding/weight lookup → mean pool → linear readout). What the
    * judged row pins is the INFERENCE mechanics at corpus scale:
    * unigram + word-bigram features, feature hashing into a weight
    * table, mean pooling, sign readout — with a closed-form synthetic
    * weight sheet `w(feat) = md5_32(feat) % 2001 − 1000` standing in
    * for trained weights (md5-derived so the oracle computes the same
    * table; a production model swaps in a broadcast weight array, with
    * identical plan shape). All
    * arithmetic on the exact integer milli-lattice; the mean is two
    * chained float divisions per row, operand-identical in the oracle,
    * rounded at 6 dp. Scale shape: a pure per-document map —
    * the whole classifier is one projection, zero shuffles beyond the
    * ordered output; this is why fastText-grade filters are tractable
    * where transformer scoring is not. */
  def llmQualityClassifier(s: SparkSession, d: String): DataFrame = {
    val tk = split(col("text"), " ")
    val w = (c: Column) => TextAnalysis.md5Bucket(c) % 2001L - 1000L
    Tables.documents(s, d)
      .select(col("doc_id"), tk.as("tk"))
      .filter(size(col("tk")) >= 2)
      .select(col("doc_id"),
        size(col("tk")).cast("long").as("n_tok"),
        aggregate(transform(col("tk"), t => w(t)),
          lit(0L), (acc, x) => acc + x).as("uni"),
        aggregate(
          transform(expr(
            "transform(sequence(1, size(tk) - 1), " +
              "i -> concat(element_at(tk, i), ' ', element_at(tk, i + 1)))"),
            b => w(b)),
          lit(0L), (acc, x) => acc + x).as("bg"))
      .select(col("doc_id"),
        (col("n_tok") * 2 - 1).as("n_feats"),
        (col("uni") + col("bg")).as("score_milli"),
        round((col("uni") + col("bg")) /
          (col("n_tok") * 2 - 1).cast("double") / 1000.0, 6).as("score"),
        (col("uni") + col("bg") > 0).as("label"))
      .orderBy(col("doc_id"))
  }

  /** #242 DSIR IMPORTANCE WEIGHTS (round-16) — Data Selection via
    * Importance Resampling (Xie et al., NeurIPS 2023, public): score
    * every document by `log p_target(x) − log p_source(x)` under
    * hashed bag-of-ngram unigram models ESTIMATED FROM THE DATA — here
    * target = the `en` sub-corpus, source = everything else, features
    * hashed into 1024 buckets on the md5 lattice, add-1 smoothed
    * counts. This is the two-corpus CONTRAST selector the
    * [[llmQualityClassifier]] (fixed weight sheet) cannot express:
    * the weights come from the corpora themselves. Per-token terms
    * `ln(cT+1) − ln(cS+1)` are operand-identical in both engines;
    * the per-document sum is the ONE order-sensitive float fold
    * (~100 terms, ~1e-13 absolute), rounded at 4 dp — the
    * `text_char_entropy` precedent. Scale shape: the bucket-count
    * model is O(1024) rows — estimated with one map-side-combined
    * shuffle over each corpus, then BROADCAST to the scoring join, so
    * scoring a 100 TB corpus is explode → broadcast-hash-join →
    * per-doc re-aggregate, no large-table shuffle on the lookup. */
  def llmDsirWeight(s: SparkSession, d: String): DataFrame = {
    val docs = Par.widen(Tables.documents(s, d)
      .select(col("doc_id"), col("lang"), col("text")), col("doc_id"))
    val toks = docs
      .select(col("doc_id"), col("lang"), explode(split(col("text"), " ")).as("tok"))
      .withColumn("b", TextAnalysis.md5Bucket(col("tok")) % 1024L)
    val counts = toks
      .groupBy(col("b"))
      .agg(
        sum(when(col("lang") === "en", 1L).otherwise(0L)).as("ct"),
        sum(when(col("lang") =!= "en", 1L).otherwise(0L)).as("cs"))
    toks.join(broadcast(counts), Seq("b"))
      .groupBy(col("doc_id"), col("lang"))
      .agg(
        count(lit(1)).as("n_tok"),
        round(sum(log(col("ct") + 1) - log(col("cs") + 1)), 4).as("dsir_w"))
      .select(col("doc_id"), col("lang"), col("n_tok"), col("dsir_w"),
        (col("lang") === "en").as("is_target"))
      .orderBy(col("doc_id"))
  }

  /** The pinned Gopher stop-word set (Rae et al. 2021, "Scaling
    * Language Models: … Gopher", appendix A1.1: the, be, to, of, and,
    * that, have, with — a document must contain ≥2 to pass). */
  private val GopherStops = Seq("the", "be", "to", "of", "and", "that",
    "have", "with")

  /** #238 GOPHER QUALITY RULES (round-16) — the public MassiveText
    * document-quality gate (Rae et al. 2021 A1.1) judged per document,
    * in exact INTEGER basis points (no float anywhere, the
    * [[textRepetition]] discipline): word count in [50, 100k], mean
    * word length in [3, 10], ≥2 stop words from the pinned set, and
    * the repetition rule — the fraction of characters inside
    * occurrences of the single most frequent word BIGRAM ≤ 20%. The
    * top bigram needs a per-document mode: explode bigrams →
    * count per (doc, bigram) → keep rank 1 (ties broken
    * lexicographically so both engines pick the same bigram) → join
    * back to the per-document scalars. Scale shape: the explode is the
    * honest cost of n-gram statistics (rows × ~doc length, map-side
    * partial count absorbs the Zipf head before the shuffle); the
    * scalars branch is a pure map, and the join-back is keyed on
    * doc_id — the same partitioning the count shuffle already
    * established. */
  def textGopherQuality(s: SparkSession, d: String): DataFrame = {
    val tk = Par.widen(Tables.documents(s, d)
        .select(col("doc_id"), col("text")), col("doc_id"))
      .select(col("doc_id"), col("text"), split(col("text"), " ").as("tk"))
      .filter(size(col("tk")) >= 2)
    val base = tk.select(
      col("doc_id"),
      length(col("text")).cast("long").as("n_chars"),
      size(col("tk")).cast("long").as("n_words"),
      aggregate(transform(col("tk"), w => length(w)),
        lit(0L), (acc, x) => acc + x).as("word_chars"),
      size(filter(col("tk"), w => w.isin(GopherStops: _*)))
        .cast("long").as("stop_n"))
    val bg = tk
      .select(col("doc_id"), explode(expr(
        "transform(sequence(1, size(tk) - 1), " +
          "i -> concat(element_at(tk, i), ' ', element_at(tk, i + 1)))"))
        .as("bg"))
      .groupBy(col("doc_id"), col("bg")).agg(count(lit(1)).as("n"))
    val top = bg
      .withColumn("rn", row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy(col("doc_id"))
          .orderBy(col("n").desc, col("bg").asc)))
      .filter(col("rn") === 1)
      .select(col("doc_id"), col("bg").as("top_bg"), col("n").as("top_bg_n"))
    base.join(top, Seq("doc_id"))
      .withColumn("mean_len_bp",
        expr("10000 * word_chars div n_words"))
      .withColumn("top_frac_bp",
        expr("10000 * top_bg_n * length(top_bg) div n_chars"))
      .withColumn("keep",
        col("n_words").between(50, 100000) &&
          col("mean_len_bp").between(30000, 100000) &&
          col("stop_n") >= 2 && col("top_frac_bp") <= 2000)
      .select(col("doc_id"), col("n_words"), col("mean_len_bp"),
        col("stop_n"), col("top_bg"), col("top_bg_n"),
        col("top_frac_bp"), col("keep"))
      .orderBy(col("doc_id"))
  }

  /** #191 PREFIX dedup — duplicate-prologue detection: documents
    * sharing their first 8 tokens verbatim group under one md5 prefix
    * key (templated intros, mirrored articles, repeated boilerplate
    * openings — the cheap catch BEFORE shingle-level near-dup). One
    * map-side-combinable group-by on the 16-byte hash — shuffle
    * bounded by distinct prologues, never document bytes; md5 is the
    * cross-engine-standardized hash (the §2.13 convention). Emits the
    * collided groups with their deterministic keeper (min doc id). */
  def dedupPrefix(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .select(col("doc_id"), split(col("text"), " ").as("tk"))
      .filter(size(col("tk")) >= 8)
      .select(col("doc_id"),
        md5(concat_ws(" ", slice(col("tk"), 1, 8))).as("prefix_md5"))
      .groupBy(col("prefix_md5"))
      .agg(min(col("doc_id")).as("keeper"), count(lit(1)).as("n_docs"))
      .filter(col("n_docs") >= 2)
      .orderBy(col("prefix_md5"))

  /** #69 TF-IDF term weights (TextAnalysis.tfidf verbatim): term
    * frequency per (doc, term), document frequency per term over the
    * FULL corpus, smoothed idf = ln((N+1)/(df+1)) + 1. Output bounded to
    * a probe window of docs; the df table is corpus-wide. */
  def textTfidf(s: SparkSession, d: String): DataFrame =
    TextAnalysis.tfidf(Tables.documents(s, d), "doc_id", "text")
      .filter(col("doc_id") < 30)
      .select(col("doc_id"), col("term"), col("tf"), col("df"),
        round(col("idf"), 6).as("idf"), round(col("tfidf"), 6).as("tfidf"))
      .orderBy(col("doc_id"), col("term"))

  /** #249 BM25 RANKING (round 17) — the Robertson/Spärck Jones
    * probabilistic relevance function in its standard Okapi form
    * (k1 = 1.2, b = 0.75, Lucene's +1-smoothed idf), scored for a
    * fixed 4-term query over every document: the retrieval primitive
    * behind corpus search, near-duplicate triage and
    * retrieval-augmented sampling, and the lexical complement of the
    * judged tf-idf (#67) / cosine-ANN rows. Everything derives from
    * the corpus itself — per-term document frequencies, corpus size,
    * average document length — and the oracle recomputes the
    * identical formula (same operand order, same smoothing) in
    * DuckDB, rounded at 4 dp (the float-chain precedent of
    * `llm_quality_classifier`). Scale shape: term frequencies are
    * per-document Column lambdas (codegen, no explode for a FIXED
    * query); the corpus statistics collapse to ONE scalar row
    * broadcast back over the scan — scoring at 100 TB is a map pass
    * plus a 1-row broadcast, no shuffle on the document side. */
  def textBm25(s: SparkSession, d: String): DataFrame = {
    val terms = Seq("table", "spark", "value", "row")
    val k1 = 1.2; val b = 0.75
    val toks = split(lower(col("text")), " ")
    val base = Tables.documents(s, d).select(col("doc_id"),
      size(toks).cast("double").as("dl"),
      struct(terms.zipWithIndex.map { case (t, i) =>
        size(filter(toks, x => x === lit(t))).cast("double").as(s"tf$i")
      }: _*).as("tf"))
    val stats = base.agg(
      count(lit(1)).cast("double").as("n"),
      avg(col("dl")).as("avgdl"),
      struct(terms.indices.map { i =>
        sum(when(col(s"tf.tf$i") > 0, 1.0).otherwise(0.0)).as(s"df$i")
      }: _*).as("df"))
    val scored = base.crossJoin(broadcast(stats))
    val score = terms.indices.map { i =>
      val tf = col(s"tf.tf$i"); val df = col(s"df.df$i")
      val idf = log((col("n") - df + 0.5) / (df + 0.5) + 1.0)
      idf * (tf * (k1 + 1.0)) /
        (tf + lit(k1) * (lit(1.0) - b + lit(b) * col("dl") / col("avgdl")))
    }.reduce(_ + _)
    scored.select(col("doc_id"), col("dl").cast("long").as("dl"),
        round(score, 4).as("bm25"))
      .orderBy(col("doc_id"))
  }

  /** #68 artifact cleaning (Hrv.flagOutliers + interpolateOutliers
    * verbatim — the reference's signature cleaning step): flag samples
    * outside absolute bounds or deviating > 200% from the rolling median
    * of the previous 5 samples, then gap-fill flagged samples from the
    * nearest clean neighbors. One window pass per stage, all on the
    * user_id partitioning. */
  def hrvCleanInterp(s: SparkSession, d: String): DataFrame = {
    val flagged = Hrv.flagOutliers(Tables.events(s, d),
      col("user_id"), col("ts"), col("event_id"), col("value"),
      lo = 1.0, hi = 300.0, maxJumpFrac = 2.0, medianWindow = 5)
    Hrv.interpolateOutliers(flagged,
        col("user_id"), col("ts"), col("event_id"), col("value"))
      .select(col("event_id"), col("is_outlier"),
        round(col("value_clean"), 4).as("value_clean"))
      .orderBy(col("event_id"))
      .limit(1000)
  }

  /** #67 deterministic per-key argmax: each user's most frequent event
    * type (ties → lexicographically last type). Aggregate form via
    * `max_by` over a tie-proof (count, type) struct key — two map-side-
    * combinable shuffles and no full-table window sort, the same shape
    * plans.LatestPerKeyRule rewrites window argmaxes into. The oracle
    * states the identical semantics in the portable row_number form. */
  def aggArgmax(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      .groupBy(col("user_id"), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .groupBy(col("user_id"))
      .agg(
        max_by(col("event_type"), struct(col("n"), col("event_type"))).as("top_type"),
        max(col("n")).as("n_top"))
      .orderBy(col("user_id"))

  /** #73 deterministic stratified train/val/test split: each document is
    * assigned by a stable hash of its id (md5-derived bucket 0-99 →
    * 80/10/10), so the assignment is reproducible across engines and
    * runs, a document's split never changes as the corpus grows (append-
    * safe), and no shuffle is needed beyond the stats aggregate. The md5
    * recipe matches DuckDB's `('0x'||substr(md5(id),1,8))::BIGINT`
    * bit-for-bit (same recipe as the §2.13 token codes). */
  def llmTrainSplit(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .withColumn("b",
        TextAnalysis.md5Bucket(col("doc_id").cast("string")) % 100)
      .withColumn("split",
        when(col("b") < 80, lit("train"))
          .when(col("b") < 90, lit("val"))
          .otherwise(lit("test")))
      .groupBy(col("lang"), col("split"))
      .agg(count(lit(1)).as("n"), round(avg(col("n_chars")), 2).as("avg_chars"))
      .orderBy(col("lang"), col("split"))

  /** #210 URL CANONICALIZATION (round 13) — the crawl-dedup step that
    * runs BEFORE any text dedup: the same page arrives under
    * case-noisy hosts, explicit default ports, tracking parameters,
    * shuffled query order, and fragments, and must collapse to one
    * canonical key. Per part, a deliberately NOISY url is synthesized
    * (`HTTPS://W{k}.EXAMPLE.COM:443/...?utm_source=track&id=…&b=…#sec`)
    * and canonicalized entirely in codegen'd expressions: lowercase
    * scheme+host, default-port strip (Java URI's HOST excludes the
    * port), fragment drop (QUERY excludes the fragment), `utm_*`
    * tracking-parameter removal (higher-order `filter`), and
    * query-parameter SORT (`array_sort` — order-insensitive keys). The
    * oracle rebuilds the canonical string directly from the part
    * columns, so every normalization step must fire for the hash to
    * match — the [[graft.operators.Scalars.fnUrl]] invisibility trick
    * with the whole canonicalization chain on top. At 100 TB this is
    * the map-side key derivation feeding a `dedup_prefix`-style
    * group-by on canon — one pass, no shuffle of its own. */
  /** #239 C4 LINE-LEVEL CLEANING (round-16) — the public C4 recipe
    * (Raffel et al. 2020 §2.2) judged end to end on a closed-form
    * multi-line corpus built from `part` (the [[textUrlCanonical]]
    * posture: the OPERATOR is under judgment, the noisy input is a key
    * function both engines rebuild identically). Seven rotating line
    * templates exercise every rule arm: keep a line only if it ends in
    * terminal punctuation (`.` `!` `?` `"`), has ≥5 words, and does
    * not mention javascript; drop the whole page if any line carries
    * `lorem ipsum` or a `{`, or if fewer than 3 lines survive. Two
    * poison templates append ONLY on keys ≡0 mod 37 / mod 41, so the
    * corpus holds mostly-clean pages, line-starved pages, and poisoned
    * pages whose individually-clean lines must still vanish. All pure
    * Column lambdas (transform / filter / exists over one projection)
    * — whole-stage codegen, ZERO shuffles beyond the ordered output at
    * any corpus size. */
  def textC4Filter(s: SparkSession, d: String): DataFrame = {
    val k = col("p_partkey")
    val m = (k % 6) + lit(4)
    val mk = transform(sequence(lit(0L), m - 1), j => {
      val t = (k * 3 + j) % 7
      when(t === 0, concat(lit("page "), k.cast("string"), lit(" part "), j.cast("string"),
        lit(" carries several useful words.")))
        .when(t === 1, concat(lit("section "), j.cast("string"), lit(" of page "), k.cast("string"),
          lit(" reads cleanly today.")))
        .when(t === 2, concat(lit("entry "), j.cast("string"), lit(" on page "), k.cast("string"),
          lit(" closes with punctuation!")))
        .when(t === 3, concat(lit("does line "), j.cast("string"), lit(" of page "), k.cast("string"),
          lit(" end with a question?")))
        .when(t === 4, concat(lit("dangling line "), j.cast("string"), lit(" on page "), k.cast("string"),
          lit(" never ends")))
        .when(t === 5, concat(lit("please enable javascript to view item "),
          j.cast("string"), lit(".")))
        .otherwise(concat(lit("tiny note "), j.cast("string"), lit(".")))
    })
    val withPoison = concat(
      mk,
      when(k % 37 === 0, array(lit("lorem ipsum dolor sit amet.")))
        .otherwise(array().cast("array<string>")),
      when(k % 41 === 0,
        array(concat(lit("config { value: "), k.cast("string"), lit(" }."))))
        .otherwise(array().cast("array<string>")))
    val keepLine = (l: Column) =>
      l.rlike("[.!?\"]$") && size(split(l, " ")) >= 5 &&
        !l.contains("javascript")
    Tables.part(s, d)
      .filter(k <= 200)
      .select(k.as("k"), withPoison.as("lines"))
      .withColumn("kept", filter(col("lines"), keepLine))
      .withColumn("poisoned",
        exists(col("lines"), l => l.contains("lorem ipsum") || l.contains("{")))
      .select(col("k"),
        size(col("lines")).cast("long").as("n_lines"),
        size(col("kept")).cast("long").as("n_kept"),
        (!col("poisoned") && size(col("kept")) >= 3).as("page_kept"),
        when(!col("poisoned") && size(col("kept")) >= 3,
          array_join(col("kept"), " | ")).as("clean_text"))
      .orderBy(col("k"))
  }

  def textUrlCanonical(s: SparkSession, d: String): DataFrame = {
    val noisy = concat(
      lit("HTTPS://W"), (col("p_partkey") % 7).cast("string"),
      lit(".EXAMPLE.COM:443/cat/"),
      lower(replace(col("p_type"), lit(" "), lit("-"))),
      lit("/item?utm_source=track&utm_medium=cpc&id="),
      col("p_partkey").cast("string"),
      lit("&b="), replace(col("p_brand"), lit("#"), lit("-")),
      lit("#section-2"))
    val params = split(parse_url(col("url"), lit("QUERY")), "&")
    val kept = array_sort(filter(params, p => !p.startsWith("utm_")))
    Tables.part(s, d)
      .filter(col("p_partkey") <= 200)
      .select(col("p_partkey"), noisy.as("url"))
      .select(col("p_partkey"),
        concat(lit("https://"),
          lower(parse_url(col("url"), lit("HOST"))),
          parse_url(col("url"), lit("PATH")),
          lit("?"), array_join(kept, "&")).as("canon"))
      .orderBy(col("p_partkey"))
  }

  /** #75 PII redaction (added round 4): deterministic synthetic PII
    * (email/phone/SSN/IP derived from doc_id) appended to each document,
    * then scrubbed by [[graft.functions.Redact]]'s ordered regexp chain —
    * one codegen'd map pass, no UDF, no shuffle beyond the output sort.
    * The oracle replays the identical RE2-safe chain in DuckDB, so the
    * hash compare proves pattern-for-pattern parity. */
  def textPiiRedact(s: SparkSession, d: String): DataFrame = {
    import graft.functions.Redact
    val raw = Tables.documents(s, d)
      .filter(col("doc_id") < 200)
      .select(col("doc_id"), concat(
        col("text"),
        lit(" contact agent"), col("doc_id").cast("string"),
        lit("@example.com or 555-867-530"), pmod(col("doc_id"), lit(10)).cast("string"),
        lit(" ssn 123-45-678"), pmod(col("doc_id"), lit(10)).cast("string"),
        lit(" ip 10.0.0."), pmod(col("doc_id"), lit(256)).cast("string")).as("r"))
    raw.select(col("doc_id"),
        Redact.scrub(col("r")).as("redacted"),
        Redact.piiCount(col("r")).cast("long").as("pii_hits"))
      .orderBy(col("doc_id"))
  }

  /** #76 benchmark decontamination (added round 4): flag corpus docs
    * whose char-3-gram shingles are ≥80% contained in some "benchmark"
    * doc (every 10th document plays the benchmark). Runs the scalable
    * explode-shingle equi-join ([[Decontaminate.maxContainment]] — never
    * all-pairs) on a bounded window, mirroring the list-intersect oracle.
    * Filter on the ROUNDED value, matching the oracle's HAVING. */
  def textDecontaminate(s: SparkSession, d: String): DataFrame = {
    val docs = Par.widen(Tables.documents(s, d).filter(col("doc_id") < 200)
      .select(col("doc_id"), col("text")), col("doc_id"))
    val corpus = docs.filter(pmod(col("doc_id"), lit(10)) =!= 0)
    val bench = docs.filter(pmod(col("doc_id"), lit(10)) === 0)
    Decontaminate.maxContainment(corpus, bench, "doc_id", "text", n = 3)
      .select(col("doc_id"), round(col("containment"), 6).as("cont"))
      .filter(col("cont") >= 0.8)
      .orderBy(col("doc_id"))
  }

  /** #78 sequence packing (added round 8): the GPT-style pre-tokenization
    * packing pass — concatenate documents in corpus order and cut at a
    * fixed token budget; each doc gets the chunk it STARTS in
    * (chunk = floor(exclusive-prefix-tokens / budget)) plus its offset
    * inside that chunk. The global running total comes from
    * [[GlobalRank.runningTotal]]'s bucketed prefix sums — no
    * single-partition window anywhere (the oracle's plain
    * `sum() OVER (ORDER BY)` must be matched invisibly). */
  def llmPackSequences(s: SparkSession, d: String): DataFrame = {
    val budget = 256
    val docs = Tables.documents(s, d)
      .select(col("doc_id"), size(split(col("text"), " ")).as("tokens"))
    GlobalRank.runningTotal(docs, "doc_id", "tokens", "_cum")
      .select(col("doc_id"), col("tokens"),
        floor((col("_cum") - col("tokens")).cast("double") / budget)
          .cast("long").as("chunk"),
        (col("_cum") - col("tokens") - floor((col("_cum") - col("tokens"))
          .cast("double") / budget).cast("long") * budget).cast("long").as("offset"))
      .orderBy(col("doc_id"))
      .limit(500)
  }

  /** #77 contrastive negative sampling (added round 4): k deterministic
    * pseudo-random negatives per document for embedding-model training
    * pairs — negatives come from the standard md5-bucket recipe (same
    * hash as llm_train_split), so they are reproducible across engines
    * and runs for a FIXED corpus (the modulus is the live corpus count,
    * so negatives re-draw when the corpus grows — by design: they must
    * cover the whole current corpus; llm_train_split is the append-safe
    * member of the family). Doc_ids are contiguous 0..N-1, so a bucket
    * IS a document id; an accidental self-match remaps to the next id
    * (duplicate negatives across a doc's k draws are possible and
    * harmless — samplers re-draw, they don't guarantee distinctness).
    * One map pass over the bounded doc_id<100 window; the corpus count
    * contributes a two-stage aggregate exchange plus its broadcast, and
    * the output sort is the only row-scaling exchange. */
  def llmNegativeSample(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    val nDf = docs.agg(count(lit(1)).as("_c"))
    docs.select(col("doc_id")).filter(col("doc_id") < 100)
      .crossJoin(broadcast(nDf))
      .select(col("doc_id"), explode(sequence(lit(1), lit(3))).as("k"), col("_c"))
      .withColumn("h",
        TextAnalysis.md5Bucket(concat(col("doc_id").cast("string"), lit("-"),
          col("k").cast("string"))) % col("_c"))
      .select(col("doc_id"), col("k").cast("long").as("k"),
        when(col("h") === col("doc_id"), (col("h") + lit(1)) % col("_c"))
          .otherwise(col("h")).as("neg_id"))
      .orderBy(col("doc_id"), col("k"))
  }

  /** #65 pivot: order counts per priority × status, fixed column domain
    * (the relational reshape the DataFrame `pivot` API owns). Missing
    * combinations surface as 0, matching the conditional-sum oracle. */
  def aggPivot(s: SparkSession, d: String): DataFrame = {
    val p = Tables.orders(s, d)
      .groupBy(col("o_orderpriority"))
      .pivot("o_orderstatus", Seq("F", "O", "P"))
      .agg(count(lit(1)))
    p.select(col("o_orderpriority"),
        coalesce(col("F"), lit(0L)).as("F"),
        coalesce(col("O"), lit(0L)).as("O"),
        coalesce(col("P"), lit(0L)).as("P"))
      .orderBy(col("o_orderpriority"))
  }

  /** #197 DYNAMIC-domain pivot — the two-pass form users reach for when
    * the spread column's domain isn't known at authoring time: pass 1
    * collects the SORTED distinct domain (bounded — a pivot wider than
    * `maxDomain` columns is a schema bug, not a reshape, so fail loudly
    * instead of materializing a 10k-column plan), pass 2 pivots on it.
    * The collect is scalar-class driver traffic (≤ 20 short strings, the
    * same class as joinBloomPrefilter's one-row sketch); the data-sized
    * work is identical to [[aggPivot]]'s one shuffle. Sorting the
    * domain pins deterministic column order — `pivot` without an
    * explicit domain sorts too, but silently caps at
    * `spark.sql.pivotMaxValues`; the explicit pass makes the bound a
    * contract. Judged with a revenue measure per order-year so the
    * hash covers cell VALUES, not just counts. */
  def aggPivotDynamic(s: SparkSession, d: String): DataFrame = {
    val o = Tables.orders(s, d)
    val (wide, domain) = pivotDynamic(o,
      year(col("o_orderdate")).cast("long").as("yr"), "o_orderstatus",
      round(sum(col("o_totalprice")), 2))
    domain.foldLeft(wide) { (df, c) =>
        df.withColumn(c, coalesce(col(s"`$c`"), lit(0.0)))
      }
      .orderBy(col("yr"))
  }

  /** Generic two-pass dynamic pivot: pass 1 COLLECTS the sorted
    * distinct domain of `pivotCol` (bounded — a pivot wider than
    * `maxDomain` columns is a schema bug, not a reshape, so this fails
    * loudly instead of materializing a 10k-column plan; the collect is
    * scalar-class driver traffic and an EAGER construction-time action,
    * the joinBloomPrefilter contract), pass 2 pivots on it. Returns the
    * wide frame (missing cells null — fill is aggregate-specific, the
    * caller's choice) plus the discovered domain for deterministic
    * downstream column handling. */
  def pivotDynamic(df: DataFrame, groupCol: Column, pivotCol: String,
      aggExpr: Column, maxDomain: Int = 20): (DataFrame, Seq[String]) = {
    val domain = df.select(col(pivotCol).cast("string")).distinct()
      .orderBy(col(pivotCol))
      .limit(maxDomain + 1)
      .collect().map(_.getString(0)).toSeq
    // fail-loud domain hygiene (round-12 advice), matching the cap's
    // philosophy: a NULL pivot value would otherwise enter the domain
    // as a column literally named "null", and a backtick would break
    // every downstream backtick-quoted reference to the column — both
    // are schema bugs at the source, not reshapes this operator should
    // paper over. Callers with legitimate nulls bucket them first
    // (coalesce to a sentinel) so the choice is explicit.
    require(!domain.contains(null),
      s"pivot column '$pivotCol' contains NULL — coalesce to an explicit " +
        "sentinel before pivoting")
    domain.find(_.contains("`")).foreach { v =>
      throw new IllegalArgumentException(
        s"pivot domain value '$v' of '$pivotCol' contains a backtick — " +
          "unrepresentable as a quoted column name; sanitize the domain first")
    }
    require(domain.size <= maxDomain,
      s"pivot domain of '$pivotCol' exceeds $maxDomain values — " +
        "widen maxDomain deliberately or pre-bucket the column")
    (df.groupBy(groupCol).pivot(pivotCol, domain).agg(aggExpr), domain)
  }

  /** #65b unpivot (melt): the inverse reshape of [[aggPivot]] — wide
    * per-flag measure columns back to (metric, value) rows, the standard
    * step before feeding a generic metric store or long-format training
    * table. `Dataset.unpivot` expands in-plan (one Expand node, no
    * shuffle beyond the feeding aggregate); rounding happens on the wide
    * aggregate BEFORE the melt so both engines unpivot identical values. */
  def aggUnpivot(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d)
      .groupBy(col("l_returnflag"))
      .agg(round(sum(col("l_quantity")), 2).as("qty"),
        round(sum(col("l_extendedprice")), 2).as("price"))
      .unpivot(Array(col("l_returnflag")), Array(col("qty"), col("price")),
        "metric", "val")
      .orderBy(col("l_returnflag"), col("metric"))

  /** #61b winnowing fingerprint (the MOSS scheme: Schleimer/Wilkerson/
    * Aiken 2003): k-gram hashes (k=4) → per-window minimum over w=5
    * consecutive positions → the DISTINCT set of window minima is the
    * document's fingerprint. Guarantees every shared substring of length
    * ≥ w+k-1 contributes at least one shared fingerprint, at ~2/(w+1)
    * the density of full shingling — the sub-linear sketch used for
    * plagiarism/near-dup detection over code and text corpora. Judged
    * summary: fingerprint count + sum per document (the set itself is a
    * list cell, which the hash gate cannot compare).
    *
    * Scale shape: explode is a flatMap (no shuffle), the window is
    * per-document (partitionBy doc_id), and the final aggregate is
    * map-side combinable — one shuffle on doc_id end to end. Documents
    * shorter than w+k-1 = 8 chars have no full window and drop out,
    * identically in both engines. */
  def textWinnowFingerprint(s: SparkSession, d: String): DataFrame =
    winnowFingerprints(
        Tables.documents(s, d).filter(col("doc_id") < 50), "doc_id", "text")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_fp"), sum(col("fp")).as("fp_sum"))
      .orderBy(col("doc_id"))

  /** #63b winnow-fingerprint near-dup pairs: document pairs whose
    * fingerprint CONTAINMENT (shared fingerprints / smaller set) clears
    * 0.5, after dropping stop-fingerprints (those in > 10 docs — common
    * k-grams like "the " would otherwise pair everything with
    * everything, the same reason shingle joins drop stop shingles). The
    * whole pipeline is equi-joins and aggregates — candidate pairs come
    * from the fingerprint equi-join, never an all-pairs product, which
    * is what makes winnowing the sub-linear dedup path at corpus scale:
    * fingerprints are ~2/(w+1) the density of full shingles and the
    * stop-fingerprint cap bounds every join key's fan-out. The ratio
    * filter runs on the UNROUNDED integer-ratio double (bit-identical
    * across engines); the rounded value is only displayed. */
  def dedupWinnow(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val sel0 = winnowFingerprints(
      Tables.documents(s, d).filter(col("doc_id") < 120), "doc_id", "text")
    val stop = sel0.groupBy(col("fp")).agg(count(lit(1)).as("ndocs"))
      .filter(col("ndocs") <= 10)
    // the per-doc kept-fingerprint count rides along as a window over
    // the stop-filtered rows instead of a separate aggregate + two
    // attach joins: the stop join broadcasts (≤ one row per distinct
    // fingerprint), preserving sel0's doc_id partitioning, so the
    // count window adds no exchange — and the expensive
    // explode+window fingerprint lineage is computed twice (the two
    // self-join sides), not five times
    // r18: materialized — the self-join below reads `sel` twice, and
    // without the checkpoint the whole explode + per-doc window + stop
    // join + count window lineage ran once per side; both sides pay an
    // fp exchange either way (the window leaves hash(doc_id)), so the
    // checkpoint trades one extra tiny job for half the heavy lineage
    val sel = sel0.join(stop, "fp").select(col("doc_id"), col("fp"))
      .withColumn("c", count(lit(1)).over(Window.partitionBy(col("doc_id"))))
      .localCheckpoint(true)
    sel.select(col("doc_id").as("a_id"), col("fp"), col("c").as("ca"))
      .join(sel.select(col("doc_id").as("b_id"), col("fp").as("b_fp"), col("c").as("cb")),
        col("fp") === col("b_fp") && col("a_id") < col("b_id"))
      // ca/cb are constant per doc — max() just carries them through
      .groupBy(col("a_id"), col("b_id"))
      .agg(count(lit(1)).as("shared"), max(col("ca")).as("ca"), max(col("cb")).as("cb"))
      .withColumn("rawsim", col("shared").cast("double") / least(col("ca"), col("cb")))
      .filter(col("rawsim") >= 0.5)
      .select(col("a_id"), col("b_id"), col("shared"),
        round(col("rawsim"), 6).as("sim"))
      .orderBy(col("a_id"), col("b_id"))
  }

  /** The winnowing core behind [[textWinnowFingerprint]]: the DISTINCT
    * (idCol, fp) fingerprint set of each document — one row per selected
    * k-gram hash. Texts shorter than w+k-1 chars have no full window and
    * produce no rows. Reusable as the candidate-pair key for
    * fingerprint-overlap dedup (equi-join two fingerprint sets on `fp`,
    * the same banding shape as [[graft.operators.ScalableDedup]]). */
  def winnowFingerprints(docs: DataFrame, idCol: String, textCol: String,
      k: Int = 4, w: Int = 5): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val n = length(col(textCol))
    val positions = when(n >= k, sequence(lit(1), n - (k - 1)))
      .otherwise(array().cast("array<int>"))
    val winMin = Window.partitionBy(col(idCol)).orderBy(col("pos"))
      .rowsBetween(0, w - 1)
    docs
      .select(col(idCol), col(textCol), n.as("n"))
      .withColumn("pos", explode(positions))
      .select(col(idCol), col("n"), col("pos"),
        TextAnalysis.md5Bucket(expr(s"substring($textCol, pos, $k)")).as("hv"))
      .withColumn("wmin", min(col("hv")).over(winMin))
      // keep only full windows: last k-gram position is n-k+1, so the
      // last full-window start is n-k+1-(w-1)
      .filter(col("pos") <= col("n") - (k - 1) - (w - 1))
      .select(col(idCol), col("wmin").as("fp")).distinct()
  }

  /** #109 FULLY JUDGED MinHash-LSH near-dup dedup — the scale-path dedup
    * with the oracle caveat closed: [[ScalableDedup.minhashBandedCandidatesFromSigs]]
    * uses PINNED hash functions (one md5 per char-4-gram shingle → 32-bit
    * int, then 16 fixed (a·h+b) mod 2³¹−1 universal hashes — no seed, no
    * engine randomness, no floats), so DuckDB replays the identical
    * 4-band × 4-row banding and the identical candidate set. Exact
    * Jaccard over the hashed shingle sets is then scored ONLY on
    * candidates (int/int division — bit-exact on both engines) and
    * pairs at ≥0.8 survive. Over the WHOLE corpus, unbounded — the LSH
    * blocking is what makes that affordable: at sf0.1 the 12.5M
    * possible pairs become ~378k bucket candidates become 256 dup
    * pairs. The all-pairs judged twins (#55, #63) stay as the
    * bounded-probe ground truth; this is the one that runs at 100 TB. */
  def dedupMinhashLsh(s: SparkSession, d: String): DataFrame =
    minhashDupPairs(s, d).orderBy(col("a_id"), col("b_id"))

  /** #214 judged CAP-ON LSH dedup (round-14) — the configuration a
    * 100 TB run actually ships: [[dedupMinhashLsh]]'s exact pipeline
    * with the `maxBucketSize` quadratic-blowup guard ENABLED (buckets
    * over 10 members dropped before the self-join; the sf1 campaign
    * measured the need — boilerplate buckets grow with the corpus and
    * their pair count grows quadratically). The cap rule is an exact
    * deterministic count over pinned hashes, so the oracle replays it
    * with a per-bucket window count and the judged pair set is the
    * CAPPED pipeline's own output — closing the gap where the shipped
    * configuration was only property-tested. Cap = 10 genuinely fires
    * at every judged SF (max bucket 36/37/339 at sf0.001/0.01/0.1). */
  def dedupLshCapped(s: SparkSession, d: String): DataFrame =
    minhashDupPairs(s, d, maxBucketSize = Some(10))
      .orderBy(col("a_id"), col("b_id"))

  /** #154 the #109 pair set rolled into CLUSTERS — the judged form of
    * the full 100 TB dedup story: LSH candidates → exact rescoring →
    * connected components ([[DedupClusters]] large-star/small-star,
    * O(log n) rounds), each doc labeled with its cluster's min id. The
    * oracle replays the closure as a recursive CTE over the same pair
    * set. What `curate` does to drop duplicates is exactly this table
    * minus the keepers. */
  def llmDedupClusters(s: SparkSession, d: String): DataFrame =
    // the pair set is tiny (≤ hundreds of rows) but its pipeline is the
    // most expensive in the suite — materialize ONCE before the star
    // contraction's iterative actions re-derive it per round
    DedupClusters.connectedComponents(
        minhashDupPairs(s, d).localCheckpoint(true), "a_id", "b_id")
      .select(col("id").as("doc_id"), col("comp").as("cluster"))
      .orderBy(col("doc_id"))

  /** The unordered MinHash-LSH duplicate pair set shared by #109 and
    * #154 (see [[dedupMinhashLsh]] for the full design rationale). */
  private def minhashDupPairs(s: SparkSession, d: String,
      maxBucketSize: Option[Int] = None): DataFrame = {
    // ONE materialization of the hashed-shingle table: it feeds the band
    // signatures AND both rescoring sides — lazy, the per-doc md5
    // shingling would run three times. shingle_hash32 is the fused
    // one-expression form of shingleHashes(shingleSet(text, 4)) —
    // identical arithmetic (spec-pinned), no shingle-string or
    // hex-string churn. Par.widen lifts the per-shingle md5 work off the
    // single-task scan (r17: the one-row-group read serialized ~1.5M
    // md5s on one core); per-doc rows + integer hashes — partitioning
    // cannot perturb any value. r18: the 16 minhash minima are computed
    // HERE, inside the same materialization pass — the band self-join's
    // two sides otherwise re-ran MinhashMinsExpr over every hash set
    // once each (the dominant CPU of candidate generation, paid twice);
    // from the checkpoint, signature assembly is a cheap explode.
    val docs = Par.widen(Tables.documents(s, d)
        .select(col("doc_id"), col("text")), col("doc_id"))
      .select(col("doc_id"),
        graft.functions.ShingleHash32Expr.shingle_hash32(col("text"), 4).as("hs"))
      .withColumn("_mh", ScalableDedup.minhashMins(col("hs"), 16))
      .localCheckpoint(true)
    val cand = ScalableDedup.minhashBandedCandidatesFromSigs(
      ScalableDedup.minhashBandSignaturesFromMins(
        docs, "doc_id", "hs", "_mh", bands = 4, rowsPerBand = 4),
      "doc_id", maxBucketSize = maxBucketSize)
    rescoreMinhashPairs(docs, cand)
  }

  /** Exact-Jaccard rescoring of LSH candidate pairs against the hashed-
    * shingle table — the shared back half of [[dedupMinhashLsh]],
    * [[llmDedupClusters]] and [[llmLshAppend]] (`docs` = (doc_id, hs),
    * `cand` = (a_id, b_id)). */
  private def rescoreMinhashPairs(docs: DataFrame, cand: DataFrame): DataFrame = {
    // rescoring joins carry NO broadcast hint: AQE broadcasts the
    // hashed-doc side while its runtime size is under the threshold
    // (it is, at every test SF) and falls back to an id-keyed shuffle
    // join past broadcast reach — a forced hint would OOM the driver at
    // ~100× corpus (500k docs × ~300 ints ≈ 500 MB+), and the shuffled
    // plan is equivalent because the candidate set, not the corpus², is
    // the driven side either way (ScalableDedupSpec proves the shuffled
    // path pair-identical). Two exact-arithmetic prunings halve the
    // per-pair work: J ≤ min(|A|,|B|)/max(|A|,|B|), so 5·min < 4·max
    // rejects a pair on integer sizes BEFORE any intersection; and
    // |A∪B| = |A|+|B|−|A∩B|, so the union is never materialized (one
    // hash-set pass per pair instead of two)
    cand
      .join(docs.select(col("doc_id").as("a_id"), col("hs").as("ha"),
        size(col("hs")).as("na")), "a_id")
      .join(docs.select(col("doc_id").as("b_id"), col("hs").as("hb"),
        size(col("hs")).as("nb")), "b_id")
      .filter(least(col("na"), col("nb")) * 5 >= greatest(col("na"), col("nb")) * 4)
      // hashed-shingle arrays are sorted at construction, so the count
      // is a codegen'd two-pointer merge: no per-pair hash set, no
      // intersection array — the expression that makes exact rescoring
      // affordable at candidate volume
      .withColumn("inter",
        graft.functions.SortedIntersectCountExpr.sorted_intersect_count(
          col("ha"), col("hb")).cast("int"))
      .select(col("a_id"), col("b_id"),
        round(col("inter").cast("double") /
          (col("na") + col("nb") - col("inter")), 6).as("jac"))
      .filter(col("jac") >= 0.8)
  }

  /** #160 judged INCREMENTAL NEAR-DUP APPEND — the LSH sibling of
    * `llm_dedup_append`'s exact-hash invariance, i.e. the full daily
    * rerun of a 100 TB near-dup pipeline: split the corpus at 60% of
    * the id range into base and delta; the base's banded minhash
    * signatures are the persisted SIGNATURE STORE (here checkpointed —
    * in production a parquet table written once); the delta is banded
    * and candidate pairs come only from delta⋈delta and delta⋈store
    * band-bucket equi-joins — the base corpus is NEVER re-banded and
    * base⋈base pairs are never re-discovered (they are yesterday's
    * output). Exact rescoring runs per pair, so incremental pairs ∪
    * yesterday's pairs is provably the full recompute: full candidates
    * = (base∪delta)² bucket hits = base² ∪ (delta×base) ∪ delta², the
    * three joins this query issues. The oracle is the ONE-SHOT full
    * recompute (`dedup_minhash_lsh`'s SQL) — the incremental machinery
    * must be result-invisible, `join_bucketed`-style. Daily cost at
    * scale: band |delta| docs, join against a store that only ever
    * APPENDS — vs re-banding the whole corpus every day. */
  def llmLshAppend(s: SparkSession, d: String): DataFrame = {
    // Par.widen: same single-task-scan md5 lift as minhashDupPairs, and
    // (r18) the same mins-in-the-checkpoint move — the minima feed every
    // signature branch from one materialization
    val docs = Par.widen(Tables.documents(s, d)
        .select(col("doc_id"), col("text")), col("doc_id"))
      .select(col("doc_id"),
        graft.functions.ShingleHash32Expr.shingle_hash32(col("text"), 4).as("hs"))
      .withColumn("_mh", ScalableDedup.minhashMins(col("hs"), 16))
      .localCheckpoint(true)
    val mx = docs.agg((max(col("doc_id")) * 3 / 5).as("_split"))
    // the signature store and the delta's signatures, banded ONCE as a
    // single store-tagged table (checkpoint stands in for the parquet
    // tables appendBatch maintains). r18: this was two signature
    // checkpoints, each re-deriving the minhash minima from the hash
    // sets past the docs checkpoint — one materialization job and one
    // mins pass instead of two of each; the three band-join branches
    // below now read filtered slices of the same materialized table.
    val allSigs = ScalableDedup.minhashBandSignaturesFromMins(
        docs.crossJoin(broadcast(mx))
          .withColumn("_store", col("doc_id") < col("_split")),
        "doc_id", "hs", "_mh", bands = 4, rowsPerBand = 4,
        keep = Seq("_store", "_split"))
      .localCheckpoint(true)
    // ONE build side for all three band joins, UNFILTERED: the store/
    // delta cut is phrased as `b_id <?> _split` — a predicate that
    // references BOTH join sides (_split rides the probe row), so the
    // optimizer cannot push it below the broadcast, the three joins'
    // build subtrees stay IDENTICAL, and AQE's runtime exchange reuse
    // materializes the broadcast hash relation once instead of three
    // times (a probe-side `_store` flag got pushed into three distinct
    // build-side filters and defeated the reuse)
    val sigsB = allSigs.select(col("band").as("_kb"), col("sig").as("_ks"),
      col("doc_id").as("b_id"))
    def bandJoin(aSide: DataFrame, cond: Column): DataFrame =
      aSide.join(sigsB,
        col("band") === col("_kb") && col("sig") === col("_ks") && cond)
    val deltaA = allSigs.filter(!col("_store"))
      .select(col("band"), col("sig"), col("doc_id").as("a_id"), col("_split"))
    val storeA = allSigs.filter(col("_store"))
      .select(col("band"), col("sig"), col("doc_id").as("a_id"), col("_split"))
    val dd = bandJoin(deltaA,
        col("b_id") >= col("_split") && col("a_id") < col("b_id"))
      .select(col("a_id"), col("b_id"))
    // base ids < split ≤ delta ids, so store-side is always the a_id
    val ds = bandJoin(deltaA, col("b_id") < col("_split"))
      .select(least(col("a_id"), col("b_id")).as("a_id"),
        greatest(col("a_id"), col("b_id")).as("b_id"))
    // yesterday's pair set: in production read back from disk; computed
    // here (store⋈store) because a judged query owns no cross-run state
    val baseCand = bandJoin(storeA,
        col("b_id") < col("_split") && col("a_id") < col("b_id"))
      .select(col("a_id"), col("b_id"))
    // the three branches are disjoint by construction (base pairs are
    // base×base; every new candidate touches ≥1 delta doc), so one
    // distinct + ONE rescore pass over the union is row-identical to
    // rescoring each half and unioning the results — and it halves the
    // rescore join machinery (two docs-probe joins instead of four, one
    // candidate distinct instead of two). Production still unions
    // yesterday's RESCORED table from disk; this fusion exists only
    // because the judged self-contained form recomputes that half anyway.
    rescoreMinhashPairs(docs, dd.unionByName(ds).unionByName(baseCand).distinct())
      .orderBy(col("a_id"), col("b_id"))
  }

  /** #162 detrended fluctuation analysis per user (DFA1, Peng et al.
    * 1994) — the remaining classic nonlinear HRV feature next to
    * [[hrvSampen]]: integrate the series into a profile, split into
    * boxes of n ∈ {4, 8, 16} samples (the standard short-term α₁
    * scale range), least-squares-detrend each box, and measure the
    * RMS residual F(n); α₁ is the log-log slope of F against n. With
    * log-EQUISPACED scales the middle point cancels from the OLS
    * slope, so α₁ = ln(F₁₆/F₄)/(2·ln 2) — one fixed expression tree,
    * no aggregate over scales.
    *
    * Exactness discipline (the `agg_corr`/`hrv_sampen` recipe): the
    * profile is an integer-cent cumsum; mean subtraction is SKIPPED
    * because a per-box linear fit absorbs any constant-slope term
    * exactly (y_nosub = y_sub + x̄·t within a box — same residuals),
    * and each box's profile is shifted to its own start (again
    * fit-absorbed) so every per-box moment (Σz, Σz², Σtz) is an exact
    * int64 bounded by BOX size, not series length (|z| ≤ 16·max
    * cents ≈ 9·10⁵ → n·Σz² ≤ ~2·10¹⁴). Per-box RSS = (Dyy −
    * Dty²/Dtt)/n is one identical float tree over those exact
    * integers (Dtt = n²(n²−1)/12, a constant); only the cross-box
    * RSS sum is order-sensitive float addition (~1e-16 relative —
    * measured far from every 6-dp boundary at all SFs, the
    * `hrv_band_power` precedent). The 2·ln2 divisor is a pinned
    * decimal literal so both engines divide by the identical double.
    * Users shorter than 64 samples (< 4 boxes at n=16) drop out
    * identically on both engines. F is in CENTS. */
  def hrvDfa(s: SparkSession, d: String): DataFrame = {
    val wOrd = org.apache.spark.sql.expressions.Window
      .partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val wAll = org.apache.spark.sql.expressions.Window.partitionBy(col("user_id"))
    val cents = round(col("value") * 100).cast("long")
    val prof = Tables.events(s, d)
      .select(col("user_id"), col("ts"), col("event_id"), cents.as("c"))
      .withColumn("i", row_number().over(wOrd).cast("long"))
      .withColumn("y", sum(col("c")).over(
        wOrd.rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)))
      .withColumn("nn", count(lit(1)).over(wAll))
      .filter(col("nn") >= 64)
      .select(col("user_id"), col("i"), col("y"), col("nn"))
    val e = prof
      .withColumn("n", explode(array(lit(4L), lit(8L), lit(16L))))
      .filter(col("i") <= (col("nn") - pmod(col("nn"), col("n"))))
      .withColumn("b", ((col("i") - 1 - pmod(col("i") - 1, col("n"))) / col("n")).cast("long"))
      .withColumn("t", pmod(col("i") - 1, col("n")) + 1)
    val wBox = org.apache.spark.sql.expressions.Window
      .partitionBy(col("user_id"), col("n"), col("b")).orderBy(col("t"))
    val box = e
      .withColumn("z", col("y") - first(col("y")).over(wBox))
      .groupBy(col("user_id"), col("n"), col("b"))
      .agg(sum(col("z")).as("sy"), sum(col("z") * col("z")).as("syy"),
        sum(col("t") * col("z")).as("sty"))
    val st = ((col("n") * (col("n") + 1) - pmod(col("n") * (col("n") + 1), lit(2L))) / 2).cast("long")
    val dtt = {
      val q = col("n") * col("n") * (col("n") * col("n") - 1)
      ((q - pmod(q, lit(12L))) / 12).cast("long")
    }
    val dyy = col("n") * col("syy") - col("sy") * col("sy")
    val dty = col("n") * col("sty") - st * col("sy")
    val rss = (dyy.cast("double") - (dty.cast("double") * dty.cast("double"))
      / dtt.cast("double")) / col("n").cast("double")
    val f = box
      .withColumn("rss", rss)
      .groupBy(col("user_id"), col("n"))
      .agg(sqrt(sum(col("rss")) / count(lit(1))).as("fn"))
    f.groupBy(col("user_id"))
      .agg(
        max(when(col("n") === 4, col("fn"))).as("f4r"),
        max(when(col("n") === 8, col("fn"))).as("f8r"),
        max(when(col("n") === 16, col("fn"))).as("f16r"))
      .select(col("user_id"),
        round(col("f4r"), 6).as("f4"), round(col("f8r"), 6).as("f8"),
        round(col("f16r"), 6).as("f16"),
        round(log(col("f16r") / col("f4r")) / lit(1.3862943611198906), 6).as("alpha1"))
      .orderBy(col("user_id"))
  }

  /** #110 sample entropy per user (SampEn, m=1, r=20.0 in value units) —
    * the signature NONLINEAR HRV feature (Richman & Moorman 2000):
    * −ln(A/B), where B counts template pairs of length 1 within
    * tolerance and A the pairs still within tolerance at length 2; low
    * SampEn = regular series, high = complexity. The judged form is
    * exact end to end: values quantize to integer CENTS (2-dp data —
    * exact), the tolerance compare |cᵢ−cⱼ| ≤ 2000 is integer, A and B
    * are exact counts, and only the final −ln(A/B) is float (rounded
    * 6 dp, an off-lattice ratio-log — no boundary hazard).
    *
    * Scale shape: the O(n²) template comparison is per SERIES — a
    * self-join on the user key with i<j — so cost is Σ nᵤ², bounded by
    * the per-user series length, not corpus size; the join shuffles on
    * user_id once per side and each pair is one integer compare. */
  def hrvSampen(s: SparkSession, d: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val cents = round(col("value") * 100).cast("long")
    val base = Tables.events(s, d)
      .select(col("user_id"), col("ts"), col("event_id"), cents.as("c"))
      .withColumn("cn", lead(col("c"), 1).over(w))
      .withColumn("i", row_number().over(w))
      .filter(col("cn").isNotNull)
      .select(col("user_id"), col("c"), col("cn"), col("i"))
    val a = base.select(col("user_id"), col("i").as("ai"),
      col("c").as("ca"), col("cn").as("cna"))
    val b = base.select(col("user_id"), col("i").as("bi"),
      col("c").as("cb"), col("cn").as("cnb"))
    a.join(b, Seq("user_id")).filter(col("ai") < col("bi"))
      .groupBy(col("user_id"))
      .agg(
        sum(when(abs(col("ca") - col("cb")) <= 2000, 1L).otherwise(0L)).as("b_pairs"),
        sum(when(abs(col("ca") - col("cb")) <= 2000 &&
          abs(col("cna") - col("cnb")) <= 2000, 1L).otherwise(0L)).as("a_pairs"))
      .select(col("user_id"), col("b_pairs"), col("a_pairs"),
        when(col("a_pairs") > 0 && col("b_pairs") > 0,
          round(-log(col("a_pairs").cast("double") / col("b_pairs")), 6)).as("sampen"))
      .orderBy(col("user_id"))
  }

  /** #205 WINDOWED sample entropy (round-13, verdict "what's wrong" #3):
    * SampEn(m=1, r=20.00) per user per TUMBLING 32-beat box — the
    * bounded-window form that closes [[hrvSampen]]'s library hole: the
    * whole-series form is O(n²) in SERIES length (a year-long wearable
    * series blows up), while boxing caps every self-join bucket at 31
    * templates, so total pair volume is 31·(n/32)·15 ≈ 15n — LINEAR in
    * series length, the [[hrvRollingRmssd]] discipline applied to the
    * quadratic feature. Only COMPLETE boxes emit (a tail fragment's
    * entropy estimate is statistically meaningless and would make the
    * row set sf-fragile); template pairs never straddle a box edge
    * (the in-box position filter keeps the successor inside). Arithmetic
    * is the #110 exact regime: integer cents, integer tolerance
    * compares, exact A/B counts, one float −ln(A/B) rounded 6 dp.
    * Scale shape: one ranking window per user + a (user, box)-keyed
    * self-join — the join key now includes the box id, so even a
    * pathological single-user corpus shards across tasks instead of
    * collapsing into one quadratic bucket. */
  def hrvRollingSampen(s: SparkSession, d: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val boxed = Tables.events(s, d)
      .select(col("user_id"), col("ts"), col("event_id"),
        round(col("value") * 100).cast("long").as("c"))
      .withColumn("i", (row_number().over(w) - 1).cast("long"))
      .withColumn("cn", lead(col("c"), 1).over(w))
      .withColumn("box", expr("i div 32"))
      .withColumn("j", col("i") - col("box") * 32)
      // a template is the pair (c_i, c_{i+1}); keep it only when BOTH
      // beats sit in the same box (j ≤ 30) — 31 templates per full box
      .filter(col("cn").isNotNull && col("j") <= 30)
      .select(col("user_id"), col("box"), col("j"), col("c"), col("cn"))
      // r18: the full-box rule (31 templates per box) rides a window
      // count INSIDE the materialization — partitionBy(user_id, box) is
      // satisfied by the ranking window's hash(user_id) layout, so it
      // adds a sort but no exchange, and the post-checkpoint aggregate
      // + attach join it replaces (re-run by both self-join sides)
      // disappears. Same row set: the over-partition count equals the
      // group-by count it replaced.
      .withColumn("_nt", count(lit(1)).over(
        org.apache.spark.sql.expressions.Window
          .partitionBy(col("user_id"), col("box"))))
      .filter(col("_nt") === 31)
      .select(col("user_id"), col("box"), col("j"), col("c"), col("cn"))
      // consumed by both self-join sides — checkpoint the slim template
      // table so the scan + ranking window runs ONCE (hrvMse discipline)
      .localCheckpoint(true)
    val t = boxed
    val a = t.select(col("user_id"), col("box"), col("j").as("aj"),
      col("c").as("ca"), col("cn").as("cna"))
    val b = t.select(col("user_id"), col("box"), col("j").as("bj"),
      col("c").as("cb"), col("cn").as("cnb"))
    a.join(b, Seq("user_id", "box")).filter(col("aj") < col("bj"))
      .groupBy(col("user_id"), col("box"))
      .agg(
        sum(when(abs(col("ca") - col("cb")) <= 2000, 1L).otherwise(0L))
          .as("b_pairs"),
        sum(when(abs(col("ca") - col("cb")) <= 2000 &&
          abs(col("cna") - col("cnb")) <= 2000, 1L).otherwise(0L))
          .as("a_pairs"))
      .select(col("user_id"), col("box"), col("b_pairs"), col("a_pairs"),
        when(col("a_pairs") > 0 && col("b_pairs") > 0,
          round(-log(col("a_pairs").cast("double") / col("b_pairs")), 6))
          .as("sampen"))
      .orderBy(col("user_id"), col("box"))
  }

  /** #192 MULTISCALE entropy per user (Costa 2002) — SampEn(m=1) of the
    * coarse-grained series at scales τ = 1, 2, 4, the standard
    * complexity-vs-scale profile distinguishing true physiological
    * complexity (entropy sustained across scales) from uncorrelated
    * noise (entropy collapsing as τ grows). Exact on the ts_sax PAA
    * lattice: a full τ-window's coarse grain is kept as its int64 CENT
    * SUM (fixed denominator — never divided), and the tolerance compare
    * scales with it (|Σᵢ − Σⱼ| ≤ 2000·τ ⟺ |meanᵢ − meanⱼ| ≤ 20.00), so
    * A and B stay exact integer counts at every scale and only the
    * final −ln(A/B) is float (6 dp, off-lattice). τ=1 reduces to
    * #110's hrv_sampen arithmetic — the cross-query consistency anchor.
    * Scale shape: per-τ day-collapse is map-side combinable; the O(n²)
    * template self-join is per SERIES (Σ (n/τ)² per user, shrinking
    * quadratically with τ) on the user-key exchange. */
  def hrvMse(s: SparkSession, d: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    // checkpoint the slim (user, i, c) projection so the scan +
    // numbering window runs once; r18 FUSES the three per-τ chains into
    // ONE pass over a τ-exploded base (τ joins every key: group-by,
    // windows, self-join, final aggregate), so the seg-aggregate +
    // window + self-join machinery plans and shuffles once instead of
    // three times. The tolerance becomes the column τ·2000 — identical
    // exact-int arithmetic per (user, τ) slice, and the τ-keyed join
    // shards strictly finer than the per-branch user-keyed joins did.
    // r17 measured an earlier fusion attempt slower at sf0.1; this form
    // (explode BEFORE the segment group-by, one exchange for all three
    // scales) wins at both SFs — sf0.1 1.33→1.00 s, sf1 3.31→2.72 s,
    // exceptAll-identical output at both.
    val base = Tables.events(s, d)
      .select(col("user_id"), col("ts"), col("event_id"),
        round(col("value") * 100).cast("long").as("c"))
      .withColumn("i", (row_number().over(w) - 1).cast("long"))
      .select(col("user_id"), col("c"), col("i"))
      .localCheckpoint(true)
    val wSeg = org.apache.spark.sql.expressions.Window
      .partitionBy(col("user_id"), col("tau")).orderBy(col("seg"))
    val tol = col("tau") * 2000L
    val t = base
      .withColumn("tau", explode(array(lit(1L), lit(2L), lit(4L))))
      .groupBy(col("user_id"), col("tau"), expr("i div tau").as("seg"))
      .agg(sum(col("c")).as("y"), count(lit(1)).as("cnt"))
      .filter(col("cnt") === col("tau"))
      .withColumn("yn", lead(col("y"), 1).over(wSeg))
      .withColumn("j", row_number().over(wSeg))
      .filter(col("yn").isNotNull)
    val a = t.select(col("user_id"), col("tau"), col("j").as("aj"),
      col("y").as("ya"), col("yn").as("yna"))
    val b = t.select(col("user_id"), col("tau"), col("j").as("bj"),
      col("y").as("yb"), col("yn").as("ynb"))
    a.join(b, Seq("user_id", "tau")).filter(col("aj") < col("bj"))
      .groupBy(col("user_id"), col("tau"))
      .agg(
        sum(when(abs(col("ya") - col("yb")) <= tol, 1L).otherwise(0L))
          .as("b_pairs"),
        sum(when(abs(col("ya") - col("yb")) <= tol &&
          abs(col("yna") - col("ynb")) <= tol, 1L).otherwise(0L))
          .as("a_pairs"))
      .select(col("user_id"), col("tau"),
        col("b_pairs"), col("a_pairs"),
        when(col("a_pairs") > 0 && col("b_pairs") > 0,
          round(-log(col("a_pairs").cast("double") / col("b_pairs")), 6))
          .as("sampen"))
      .orderBy(col("user_id"), col("tau"))
  }

  /** #94 frequency-domain HRV band power per user (Hrv.bandPower): the
    * direct-periodogram sin/cos projections at the daily and hourly
    * frequencies, over mean-centered samples at their actual irregular
    * timestamps — the Lomb-Scargle-style spectral feature the reference
    * family computes (LF/HF-style band ratios), with no resampling and
    * no FFT, just map-side-combinable aggregates.
    *
    * Timestamps are shifted to per-series ELAPSED seconds before the
    * projection (min-over-key window): the trig argument then spans one
    * month instead of half a century of epoch seconds, keeping both
    * engines' range reduction in lockstep at the judged rounding. */
  def hrvBandPower(s: SparkSession, d: String): DataFrame = {
    val wk = org.apache.spark.sql.expressions.Window.partitionBy(col("user_id"))
    val shifted = Tables.events(s, d)
      .select(col("user_id"), col("ts"), col("value"))
      .withColumn("ts_rel", timestamp_micros(
        unix_micros(col("ts")) - min(unix_micros(col("ts"))).over(wk)))
    Hrv.bandPower(shifted, col("user_id"), col("ts_rel"), col("value"),
        freqsHz = Seq(1.0 / 86400, 1.0 / 3600))
      .select(col("series_key"),
        round(col("power_0"), 2).as("p_daily"),
        round(col("power_1"), 2).as("p_hourly"),
        round(col("power_0") / col("power_1"), 4).as("band_ratio"))
      .orderBy(col("series_key"))
  }
}
