package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables

/** Window functions (SURVEY.md §2.5) — the heart of the reference's
  * feature-creation semantics: rolling statistics over per-key time order.
  *
  * All windows partition by the natural key (user/customer), so every
  * partition's state fits one task and the computation scales horizontally
  * with the number of keys. The two globally-ordered queries (#23, #29)
  * do NOT single-task-scan the table (the textbook scale-killer): #23
  * bounds the input first with a distributed top-k, #29 goes through
  * [[GlobalRank]] — range-bucketed distributed rank with prefix-sum
  * offsets. Neither plan contains a partition-less `Window` over an
  * unbounded input (asserted in GlobalRankSpec).
  *
  * Ordering is always (ts, event_id) / (key, tiebreak): FIXTURES.md calls
  * out order ties as the #1 source of oracle mismatches.
  */
object Windows {

  /** #22 top-3 orders per customer via row_number. row_number is cast to
    * long to match the oracle's BIGINT. */
  def winRankTopkPerGroup(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
    Tables.orders(s, d)
      .select(col("o_custkey"), col("o_orderkey"), col("o_totalprice"))
      .withColumn("rn", row_number().over(w).cast("long"))
      .filter(col("rn") <= 3)
      .orderBy(col("o_custkey"), col("rn"))
  }

  /** #23 global rank + dense_rank (two distinct orderings), LIMIT-bounded
    * to the top 100 by rank — so the scale-correct plan is distributed
    * top-k FIRST (TakeOrdered: per-partition partial top-100, tiny merge),
    * THEN rank the provably-≤100-row set. Both output columns equal their
    * whole-table values on that set:
    *
    *  - `r` ranks a UNIQUE ordering, so ranks 1..100 are exactly the
    *    top-100 rows;
    *  - `dr` dense-ranks round(acctbal) DESC, and round is monotone: every
    *    row outside the top set has acctbal ≤ the 100th acctbal, hence
    *    round ≤ every top row's round — so all distinct round values
    *    strictly above any top row's round come from top rows, and the
    *    dense index over the top set equals the global one.
    *
    * The windows that remain are over a GlobalLimit-bounded input — a
    * fixed 100 rows regardless of data volume, not a single-task scan of
    * the table (asserted in GlobalRankSpec). The general unbounded case is
    * [[GlobalRank]], showcased in [[winNtilePctrank]]. */
  def winRankDense(s: SparkSession, d: String): DataFrame = {
    val top = Tables.customer(s, d)
      .select(col("c_custkey"), col("c_acctbal"))
      .orderBy(col("c_acctbal").desc, col("c_custkey"))
      .limit(100)
    top
      .withColumn("r",
        rank().over(Window.orderBy(col("c_acctbal").desc, col("c_custkey"))).cast("long"))
      .withColumn("dr",
        dense_rank().over(Window.orderBy(round(col("c_acctbal"), 0).desc)).cast("long"))
      .orderBy(col("r"))
  }

  /** #23b (added round 4) UNBOUNDED global dense_rank on the fact table —
    * unlike #23 there is no LIMIT-by-rank to exploit (output is the first
    * 500 order keys, whose dense ranks depend on the WHOLE table), so
    * this genuinely exercises [[GlobalRank.denseRankOfValues]]: rank the
    * distinct rounded prices (rank == dense index on unique keys, via the
    * range-bucketed distributed rank) and join the index back. ~5k
    * distinct values at sf0.1, millions at 100 TB — either way the plan
    * has no partition-less window over unbounded input. */
  def winDenseRankGlobal(s: SparkSession, d: String): DataFrame = {
    val base = Tables.orders(s, d)
      .select(col("o_orderkey"), round(col("o_totalprice"), -2).as("_rv"))
    // ranks come from the WHOLE table; only the 500 output rows probe the
    // rank join (TakeOrdered first, then decorate — not the reverse)
    val probe = base.orderBy(col("o_orderkey")).limit(500)
    GlobalRank.denseRankOfValues(probe, "_rv", desc = true, "dr",
        valuesFrom = Some(base))
      .select(col("o_orderkey"), col("dr"))
      .orderBy(col("o_orderkey"))
  }

  /** #23c (added round 6) UNBOUNDED global rank on a STRING key — the
    * document-id/URL/content-hash ordering a curation pipeline needs
    * (e.g. "position of each doc in the corpus's content-hash order").
    * Strings have no `percentile_approx`, so the bucketing splits come
    * from a lazy bottom-k-by-hash sample of the distinct-value space
    * ([[GlobalRank.withRankStringSampled]] — a 1-row broadcast aggregate
    * inside the plan, ZERO driver actions, same shape as the numeric
    * path): no partition-less window, one bucket-id exchange. Ranks
    * depend on the WHOLE table; only the first 300 doc ids are
    * emitted. */
  def winRankStringGlobal(s: SparkSession, d: String): DataFrame = {
    val base = Tables.documents(s, d)
      .select(col("doc_id"), md5(col("text")).as("_k"))
    GlobalRank.withRankStringSampled(base, "_k", desc = false,
        Seq(col("_k"), col("doc_id")), "r")
      .select(col("doc_id"), col("r"))
      .orderBy(col("doc_id"))
      .limit(300)
  }

  /** #23d (added round 7) global `rank()` on a bare VALUE column through
    * the counts-only heavy-hitter-safe path
    * ([[GlobalRank.rankOfValues]]): rank ties share one rank value, so
    * the rank is recovered from per-value counts + the bucketed prefix
    * machinery over the VALUE TABLE — no window task ever holds more
    * than its bucket's distinct values, no matter how skewed the value
    * distribution (a 50 %-hot value collapses to one aggregate row;
    * pinned by metric in GlobalRankSpec). The row path ([[winRankDense]]
    * etc.) keeps ties correct by sending all tied rows through one
    * bucket — this form exists precisely so untrusted key distributions
    * cannot serialize a task. Ranks depend on the whole table; the
    * first 500 event ids are emitted. */
  def winRankValueGlobal(s: SparkSession, d: String): DataFrame =
    GlobalRank.rankOfValues(
        Tables.events(s, d).select(col("event_id"), col("value")),
        "value", desc = false, "r")
      .select(col("event_id"), col("r"))
      .orderBy(col("event_id"))
      .limit(500)

  /** #24 successive differences per key (RR-interval delta analogue). */
  def winLagLead(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    Tables.events(s, d)
      .select(col("user_id"), col("event_id"),
        round(col("value") - lag(col("value"), 1).over(w), 2).as("dv"),
        lead(col("event_type"), 1).over(w).as("nxt"))
      .orderBy(col("user_id"), col("event_id"))
      .limit(500)
  }

  /** #24b positional pick inside a full window frame: each customer's
    * third-ever order price via `nth_value` over an explicit
    * unbounded-both-ways ROWS frame (the default growing frame would
    * make the first two rows NULL — the classic nth_value trap).
    * Tie-safe ordering by (o_orderdate, o_orderkey); one row per
    * customer that actually has ≥3 orders. */
  def winNthValue(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_orderdate"), col("o_orderkey"))
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    Tables.orders(s, d)
      .filter(col("o_custkey") < 500)
      .select(col("o_custkey"),
        nth_value(col("o_totalprice"), 3).over(w).as("third_price"))
      .filter(col("third_price").isNotNull)
      .distinct()
      .orderBy(col("o_custkey"))
  }

  /** #24c IGNORE NULLS window navigation — forward-fill (`last_value
    * IGNORE NULLS` over a growing frame) and previous-non-null (`lag …
    * IGNORE NULLS`) of the purchase amount per user: the canonical
    * carry-forward primitive for sparse signals on a dense event
    * timeline (a training pipeline fills the "last purchase seen" feature
    * onto every intervening view/click row this way). Per-user
    * partitions, (ts, event_id) tie-safe order; values pass through
    * un-aggregated so no rounding is needed. */
  def winLagIgnoreNulls(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val purchase = when(col("event_type") === "purchase", col("value"))
    Tables.events(s, d)
      .filter(col("user_id") < 10)
      .select(col("user_id"), col("event_id"),
        last(purchase, ignoreNulls = true)
          .over(w.rowsBetween(Window.unboundedPreceding, 0)).as("last_purchase"),
        lag(purchase, 1, null, ignoreNulls = true).over(w).as("prev_purchase"))
      .orderBy(col("user_id"), col("event_id"))
  }

  /** #25b rolling exact median (5-row frame) per user — the robust
    * sibling of the moving average (#25): `percentile(value, 0.5)` as a
    * framed window aggregate, interpolating exactly like the oracle's
    * `quantile_cont`. Per-row cost is O(frame)=5 and partitions are
    * per-user — bounded by one key's event count, never global. */
  def winRollingMedian(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      .rowsBetween(-4, 0)
    Tables.events(s, d)
      .filter(col("user_id") < 10)
      .select(col("user_id"), col("event_id"),
        round(expr("percentile(value, 0.5)").over(w), 6).as("med5"))
      .orderBy(col("user_id"), col("event_id"))
  }

  /** #23e global `cume_dist` WITHOUT a single-partition window:
    * cume_dist(v) = rows(value <= v) / n, and rows(<= v) is exactly the
    * inclusive weighted prefix sum of the per-value counts in value
    * order — one window over the DISTINCT-value table (bounded by value
    * cardinality, never by row skew; a value owning half the data is
    * ONE row there — and here further bounded by the 2-dp value
    * LATTICE, see the in-body note; unbounded domains would use
    * [[GlobalRank.runningTotal]] over the same count table), then a
    * broadcast equi-join attaches the cumulative count back to the rows
    * and a broadcast 1-row total divides. The oracle uses the plain
    * global window; this distributed form must be invisible. */
  def winCumeDist(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d).select(col("event_id"), col("value"))
    val cum = cumeDistByValue(ev)
    // manual limit-through-join pushdown: the 500 output rows are fixed
    // by event_id alone and the attach join is ROW-PRESERVING (cum is
    // unique per value, the crossJoin side is one row), so TakeOrdered
    // runs against the bare scan and only 500 rows join the value
    // table — instead of the whole fact table shuffling into the join
    // to pick up a cd that's then discarded for all but 500 rows. The
    // full-corpus cume-dist machinery (counts + prefix sums) still runs
    // over every row; only the attach is pruned. Catalyst can't do this
    // itself (a limit below a join is unsound in general — it's the
    // uniqueness of cum's key that makes it exact here).
    val head = ev.orderBy(col("event_id")).limit(500)
    // the lattice-bounded cum table broadcasts — the 500-row head side
    // never shuffles at all
    head.join(broadcast(cum), Seq("value"))
      .select(col("event_id"),
        round(col("_cum").cast("double") / col("_n"), 6).as("cd"))
      .orderBy(col("event_id"))
  }

  /** Per-distinct-value cumulative/total counts `(value, _cum, _n)` —
    * the count-table core of the distributed cume_dist: prefix sums
    * DIRECTLY over the per-value count table. `value` is 2-dp data on a
    * bounded domain, so the count table is capped by the value LATTICE
    * cardinality (≤ ~50k rows at any corpus size — domain-bounded, not
    * data-bounded), and one single-partition window over it is cheaper
    * than the bucketed runningTotal machinery (splits sample + bucket
    * totals + repartition: 3 exchanges + 2 broadcasts for a table that
    * fits in one task).
    *
    * The boundedness assumption is ENFORCED, not trusted (round-12
    * advice): `_card` — the count-table row count — rides the SAME
    * Window node as the totals (identical ordering + frame, so it adds
    * a window FUNCTION, not a window node), and `_cum` routes through a
    * `raise_error` when `_card > maxDomain`. An unbounded value domain
    * therefore fails loudly at execution instead of silently planning
    * an ever-growing single-task window; such domains must use
    * [[GlobalRank.runningTotal]] over the same count table. The
    * grouping column is `_lat0` — deliberately NOT the `_b*` bucket-id
    * convention (those are bounded by a fixed bucket count by
    * construction; this is bounded by a DATA-domain contract, which is
    * exactly why it carries its own runtime guard). The plan-shape
    * audit (GlobalRankSpec) waives this window explicitly, citing this
    * guard.
    *
    * Guard-timing caveat (round-13 advice): the `raise_error` evaluates
    * per OUTPUT row, i.e. AFTER the single-partition window task has
    * already sorted the oversized count table — so a pathologically
    * unbounded domain can straggle or OOM that one task before the loud
    * failure fires. The guard bounds silent WRONGNESS (an ever-growing
    * single-task window silently becoming the plan), not worst-case
    * resource use on adversarial input. When the value domain is
    * untrusted, pre-check with a cheap `agg(countDistinct)` action
    * before planning this shape — not done here because the judged
    * caller's domain is lattice-bounded by construction and an eager
    * action inside a plan-builder would break composability. */
  private[graft] def cumeDistByValue(ev: DataFrame,
      maxDomain: Long = 100000L): DataFrame = {
    val counts = ev.select(col("value").as("_lat0"))
      .groupBy(col("_lat0")).agg(count(lit(1)).as("_c"))
    val wCum = Window.orderBy(col("_lat0"))
      .rowsBetween(Window.unboundedPreceding, 0)
    val wAll = Window.orderBy(col("_lat0"))
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    counts
      .withColumn("_cum", sum(col("_c")).over(wCum))
      .withColumn("_n", sum(col("_c")).over(wAll))
      .withColumn("_card", count(lit(1)).over(wAll))
      .select(col("_lat0").as("value"),
        when(col("_card") > lit(maxDomain),
          raise_error(concat(
            lit(s"cumeDistByValue: value domain exceeds $maxDomain distinct values ("),
            col("_card").cast("string"),
            lit(") — the lattice-bounded count-table window is unsafe; " +
              "use GlobalRank.runningTotal for unbounded domains")))
            .cast("long"))
          .otherwise(col("_cum")).as("_cum"),
        col("_n"))
  }

  /** #207 DECIMAL running balance (round-13) — the decimal family
    * ([[graft.operators.Scalars.fnDecimal]] / `agg_decimal_money`)
    * extended into window frames: a per-priority cumulative sum of
    * exact DECIMAL(12,2) order totals in key order — the running-
    * balance/ledger shape every money pipeline computes, where a float
    * window sum drifts with frame evaluation order and a decimal one
    * CANNOT. Spark widens the window sum like the aggregate
    * (DECIMAL(22,2)); the explicit DECIMAL(18,2) cast + string output
    * pins the value and scale across engines (the fnDecimal
    * convention). Partitioned window — no global ordering anywhere. */
  def winDecimalCumsum(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(col("o_orderpriority")).orderBy(col("o_orderkey"))
    Tables.orders(s, d)
      .filter(col("o_orderkey") <= 1000)
      .select(col("o_orderkey"), col("o_orderpriority"),
        col("o_totalprice").cast("decimal(12,2)").as("price_d"))
      .select(col("o_orderkey"), col("o_orderpriority"),
        sum(col("price_d")).over(w).cast("decimal(18,2)").cast("string")
          .as("running_total"))
      .orderBy(col("o_orderkey"))
  }

  /** #25 5-row moving average per key. */
  def winMovingAvg(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      .rowsBetween(-4, 0)
    Tables.events(s, d)
      .select(col("user_id"), col("event_id"),
        round(avg(col("value")).over(w), 6).as("ma5"))
      .orderBy(col("user_id"), col("event_id"))
      .limit(500)
  }

  /** #26 running total per key. */
  def winCumsum(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(col("o_custkey")).orderBy(col("o_orderdate"), col("o_orderkey"))
      .rowsBetween(Window.unboundedPreceding, 0)
    Tables.orders(s, d)
      .select(col("o_custkey"), col("o_orderkey"),
        round(sum(col("o_totalprice")).over(w), 2).as("cum"))
      .orderBy(col("o_custkey"), col("o_orderkey"))
      .limit(500)
  }

  /** #27 trailing 10-minute time-range frame per key. Spark range frames
    * need a numeric ordering key: order on epoch MICROseconds (not seconds —
    * second-granularity truncation would move the window boundary relative
    * to an interval-precise oracle) and bound the frame at ±600e6 µs. */
  def winRangeTime(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(unix_micros(col("ts")))
      .rangeBetween(-600000000L, 0)
    Tables.events(s, d)
      .select(col("event_id"), col("user_id"),
        count(lit(1)).over(w).as("c10m"))
      .orderBy(col("event_id"))
      .limit(500)
  }

  /** #27b (added round 9) VALUE-range frame: peers are rows whose
    * `value` lies within 50 of the current row's, per event type — the
    * numeric sibling of the time-range frame (#27), covering "how many
    * similar-magnitude events" banding. Expressed in SQL (like the
    * other SQL-native constructs) so the double-typed frame boundary is
    * the IDENTICAL IEEE subtraction the oracle computes — an exact
    * integer-cents re-keying was tried and differs at the frame edge,
    * because `v ≥ v_cur − 50.0` in doubles excludes a peer that integer
    * arithmetic includes when `v_cur − 50.0` rounds up. The value
    * aggregate over the frame is SUM, deliberately not AVG: `value` has
    * 2-decimal granularity, so a frame sum is an integer number of
    * cents (float error ≪ the 0.005 rounding boundary at round 2),
    * while an AVG divides by the peer count and lands EXACTLY ON the
    * .xx5 boundary (e.g. (8.93+8.94)/2), where the two engines' last
    * float bit rounds in opposite directions — caught flapping at
    * sf0.001. */
  def winRangeNumeric(s: SparkSession, d: String): DataFrame = {
    Tables.events(s, d).createOrReplaceTempView("events")
    s.sql("""SELECT event_id, event_type,
                    count(*) OVER w AS c50,
                    round(sum(value) OVER w, 2) AS s50
             FROM events
             WINDOW w AS (PARTITION BY event_type ORDER BY value
                          RANGE BETWEEN 50 PRECEDING AND CURRENT ROW)
             ORDER BY event_id LIMIT 500""")
  }

  /** #28 first/last value per key ordering; last_value needs the full frame
    * (default frame stops at CURRENT ROW). */
  def winFirstLast(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val wFull = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    Tables.events(s, d)
      .select(col("user_id"), col("event_id"),
        first(col("event_type")).over(w).as("f"),
        last(col("event_type")).over(wFull).as("l"))
      .orderBy(col("user_id"), col("event_id"))
      .limit(500)
  }

  /** #29 quartile bucket + percent_rank over a global ordering — derived
    * from a distributed unique-key rank ([[GlobalRank.withRank]]) plus the
    * total count: pr = (rank-1)/(n-1), ntile by the SQL first-tiles-get-
    * the-remainder rule ([[GlobalRank.ntileExpr]]). No partition-less
    * window; the count is a map-side-combinable aggregate.
    *
    * Plan-shape note: the BroadcastNestedLoopJoins in this plan are NOT
    * data-scale joins — each attaches a data-volume-INDEPENDENT frame
    * (the 1-row sampled-splits aggregate, the 1-row total count, and the
    * ≤`buckets`-row offsets prefix-sum theta self-join). The one
    * full-data movement is the single bucket-id exchange feeding the
    * per-bucket window. */
  def winNtilePctrank(s: SparkSession, d: String): DataFrame = {
    val base = Tables.customer(s, d).select(col("c_custkey"), col("c_acctbal"))
    // total count as a broadcast 1-row cross join — no separate action
    val nDf = base.agg(count(lit(1)).as("_n"))
    GlobalRank.withRank(base, "c_acctbal", desc = false,
        Seq(col("c_acctbal"), col("c_custkey")), "_rn")
      .crossJoin(broadcast(nDf))
      .select(col("c_custkey"),
        GlobalRank.ntileExpr(col("_rn"), col("_n"), 4).cast("long").as("q"),
        round(GlobalRank.percentRank(col("_rn"), col("_n")), 6).as("pr"))
      .orderBy(col("c_custkey"))
      .limit(200)
  }

  /** #104 running distinct count: after each event, how many DISTINCT
    * event types has this user produced so far — the vocabulary-growth /
    * feature-coverage curve (same shape as tracking distinct tokens
    * seen during a training-data scan). Two window passes: a per
    * (user, type) first-occurrence flag (row_number == 1), then a
    * cumulative sum of flags on the user ordering. The flag window keys
    * on (user_id, event_type) and the cumsum on user_id — two
    * exchanges, each O(1) per-row state; no distinct-set is ever
    * materialized per row, which is what makes the decomposition scale
    * (the naive collect_set-over-frame form carries the growing set
    * through every row). */
  /** #172 rolling Pearson correlation over the trailing 30 events per
    * user, between the sample value and the JSON payload's k field —
    * the bivariate member of the rolling-stat family (#93 is the
    * univariate z-score; `agg_corr` the whole-series correlation).
    * Exactness discipline: every frame moment (Σc, Σk, Σck, Σc², Σk²)
    * is an exact integer window sum on the cent/integer lattices, so
    * the correlation pays one fixed operand-identical float chain per
    * row; irrational → the 4-dp round is safe. Frames with fewer than
    * 10 rows or a degenerate variance emit null. One shuffle on the
    * user key; O(1) per-row frame state. */
  def winRollingCorr(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id")).rowsBetween(-29, 0)
    val base = Tables.events(s, d).filter(col("user_id") < 40)
      .select(col("user_id"), col("ts"), col("event_id"),
        round(col("value") * 100).cast("long").as("c"),
        get_json_object(col("props"), "$.k").cast("long").as("k"))
    val n = count(lit(1)).over(w)
    val sc = sum(col("c")).over(w); val sk = sum(col("k")).over(w)
    val sck = sum(col("c") * col("k")).over(w)
    val scc = sum(col("c") * col("c")).over(w)
    val skk = sum(col("k") * col("k")).over(w)
    val num = n * sck - sc * sk
    val tc = n * scc - sc * sc
    val tk = n * skk - sk * sk
    base.select(col("user_id").as("series_key"), col("event_id"),
        when(n >= 10 && tc > 0 && tk > 0,
          round(num.cast("double")
            / (sqrt(tc.cast("double")) * sqrt(tk.cast("double"))), 4))
          .as("corr_30"))
      .orderBy(col("series_key"), col("event_id"))
  }

  /** #177 EXCLUDE-CURRENT-ROW frame semantics (the SQL:2011 window
    * frame exclusion Spark's frame syntax lacks): leave-one-out sum /
    * count / mean over a centered ±10-row frame per user. Composed
    * Spark-first — the full-frame aggregate minus the current row's own
    * contribution is ALGEBRAICALLY the excluded frame for any
    * distributive aggregate — and judged against DuckDB's NATIVE
    * `EXCLUDE CURRENT ROW`, which proves the composition exact, the
    * `join_bucketed`-style invisibility trick for frame semantics.
    * Exact integer cent sums; the LOO mean is a RATIONAL
    * (Σc − c)/(n−1) → integer half-up on the 4-dp value grid. One
    * shuffle on the user key; O(1) frame state. */
  def winFrameExclude(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(col("series_key"))
      .orderBy(col("ts"), col("event_id")).rowsBetween(-10, 10)
    val c = round(col("value").cast("double") * 100).cast("long")
    Tables.events(s, d)
      .filter(col("user_id") < 40)
      .select(col("user_id").as("series_key"), col("ts"), col("event_id"),
        c.as("c"))
      // NULL-safe exclusion: subtract the current row's contribution
      // only when it actually contributed — sum skips NULLs, so a NULL
      // c must subtract 0 from the sum and 0 from the count (the
      // unconditional `- c` / `- 1` form would null the sum and
      // undercount by one on a NULL row). events.value is non-null in
      // this data, but the operator must not depend on that.
      .withColumn("sum_c",
        sum(col("c")).over(w) - coalesce(col("c"), lit(0L)))
      .withColumn("n_excl",
        count(col("c")).over(w) - col("c").isNotNull.cast("long"))
      .select(col("series_key"), col("event_id"), col("n_excl"),
        // single-row series: the excluded frame is EMPTY -> null sum,
        // matching the native EXCLUDE semantics (not 0)
        when(col("n_excl") > 0,
          col("sum_c").cast("double") / 100.0).as("sum_excl"),
        when(col("n_excl") > 0,
          Hrv.halfUp(col("sum_c") * 100L, col("n_excl")).cast("double")
            / 10000.0).as("loo_mean"))
      .orderBy(col("series_key"), col("event_id"))
  }

  /** #181 SQL:2011 GROUPS frame mode — `GROUPS BETWEEN 1 PRECEDING AND 1
    * FOLLOWING` over calendar-day peer groups: every event sees the cent
    * total of its own day plus the adjacent DISTINCT days, however many
    * rows each day holds. Spark's window frames stop at ROWS and RANGE,
    * so the GROUPS semantics is COMPOSED from what the engine has
    * (preference (a) of the custom-operator ladder): collapse to one row
    * per (user, day) — map-side combinable — run the ±1 frame as a
    * plain ROWS window over the collapsed table (its rows ARE the peer
    * groups, made equivalent by construction), and attach the result
    * back to events on the (user, day) key. The day table is
    * |users|·|days| — broadcast-sized here, co-partitioned on the same
    * user_id exchange at any scale. The oracle states the same frame
    * through DuckDB's dense_rank + RANGE machinery (native GROUPS is
    * unimplemented there too — two engines, two different compositions,
    * one judged answer). Exact integer cents end to end. */
  def winFrameGroups(s: SparkSession, d: String): DataFrame = {
    val base = Tables.events(s, d)
      .select(col("event_id"), col("user_id"), to_date(col("ts")).as("day"),
        round(col("value").cast("double") * 100).cast("long").as("c"))
    val wDays = Window.partitionBy(col("user_id")).orderBy(col("day"))
      .rowsBetween(-1, 1)
    val perDay = base.groupBy(col("user_id"), col("day"))
      .agg(sum(col("c")).as("day_sum"))
      .withColumn("grp_sum_cents", sum(col("day_sum")).over(wDays))
      .select(col("user_id"), col("day"), col("grp_sum_cents"))
    base.join(perDay, Seq("user_id", "day"))
      .select(col("event_id"), col("user_id"),
        col("day").cast("timestamp_ntz").as("day"), col("grp_sum_cents"))
      .orderBy(col("event_id"))
  }

  /** #189 DISTINCT count over a bounded frame (rolling event-type
    * variety per user, trailing 20 events) — `count(DISTINCT …) OVER`
    * is SQL the oracle states natively but Spark's window functions
    * refuse DISTINCT, so the engine composes it:
    * `size(array_distinct(collect_list(x) OVER frame))`. The state is
    * the BOUNDED frame itself (≤ 20 elements per row — same O(frame)
    * cost the native form pays), one window pass on the user exchange;
    * never collect an unbounded frame this way (the unbounded sibling
    * is #97's first-occurrence-flag cumsum, O(1) state). */
  def winDistinctFrame(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id")).rowsBetween(-19, 0)
    Tables.events(s, d).filter(col("user_id") < 40)
      .select(col("event_id"), col("user_id"),
        count(lit(1)).over(w).cast("long").as("n_frame"),
        size(array_distinct(collect_list(col("event_type")).over(w)))
          .cast("long").as("n_distinct"))
      .orderBy(col("event_id"))
  }

  def winRunningDistinct(s: SparkSession, d: String): DataFrame = {
    val wFirst = Window.partitionBy(col("user_id"), col("event_type"))
      .orderBy(col("ts"), col("event_id"))
    val wCum = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, 0)
    Tables.events(s, d)
      .filter(col("user_id") < 8)
      .withColumn("is_first",
        when(row_number().over(wFirst) === 1, 1L).otherwise(0L))
      .select(col("event_id"), col("user_id"),
        col("ts").cast("timestamp_ntz").as("ts"), col("event_type"),
        sum(col("is_first")).over(wCum).as("types_seen"))
      .orderBy(col("event_id"))
  }
}
