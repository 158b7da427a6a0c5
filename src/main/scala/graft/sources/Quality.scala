package graft.sources

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Declarative data-quality expectations for ingestion gates.
  *
  * Row rules compile to one aggregate over one scan — `validate` counts
  * every rule's violations in a single pass however many rules are
  * declared, which is the only shape that works when the table is 100 TB
  * (N passes of a rule-per-scan validator would be N full reads).
  */
object Quality {

  /** A named row-level expectation: rows where `cond` is false (or null)
    * count as violations. */
  case class Rule(name: String, cond: Column)

  def notNull(c: String): Rule = Rule(s"not_null($c)", col(c).isNotNull)
  def inRange(c: String, lo: Double, hi: Double): Rule =
    Rule(s"in_range($c,$lo,$hi)", col(c).between(lo, hi))
  def matches(c: String, regex: String): Rule =
    Rule(s"matches($c)", col(c).rlike(regex))
  def isIn(c: String, allowed: Seq[String]): Rule =
    Rule(s"is_in($c)", col(c).isin(allowed: _*))

  /** Evaluate all rules in ONE pass; returns (rule, violations, total). */
  def validate(df: DataFrame, rules: Seq[Rule]): DataFrame = {
    require(rules.nonEmpty)
    val aggs = rules.map(r =>
      sum(when(coalesce(r.cond, lit(false)), 0L).otherwise(1L)).as(r.name)) :+
      count(lit(1)).as("_total")
    val row = df.agg(aggs.head, aggs.tail: _*).collect().head
    val total = row.getAs[Long]("_total")
    val spark = df.sparkSession
    import spark.implicits._
    rules.map(r => (r.name, row.getAs[Long](r.name), total))
      .toDF("rule", "violations", "total")
  }

  /** [[validate]] without the driver action: the same ONE-pass
    * aggregate, reshaped wide → (rule, violations, total) rows by an
    * in-plan unpivot (one Expand node) instead of a collect — the form
    * a registry/judged query wants (construction-side-effect-free,
    * composable downstream). Violations count rows where the rule is
    * false OR null, identical to [[validate]]. */
  def validateLazy(df: DataFrame, rules: Seq[Rule]): DataFrame = {
    require(rules.nonEmpty)
    val aggs = rules.map(r =>
      sum(when(coalesce(r.cond, lit(false)), 0L).otherwise(1L)).as(r.name)) :+
      count(lit(1)).as("_total")
    df.agg(aggs.head, aggs.tail: _*)
      .unpivot(Array(col("_total")), rules.map(r => col(s"`${r.name}`")).toArray,
        "rule", "violations")
      .select(col("rule"), col("violations"), col("_total").as("total"))
  }
}
