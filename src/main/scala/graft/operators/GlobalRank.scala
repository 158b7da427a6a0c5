package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Distributed global ranking — the scale-safe replacement for a
  * partition-less `Window.orderBy(...)` (which moves the whole input to a
  * single task, the textbook 100 TB scale-killer).
  *
  * Range-bucketed rank, ZERO driver actions + ONE full-data shuffle:
  *
  *  1. sample split points of the primary sort column as a LAZY
  *     `percentile_approx` aggregate, attached via a broadcast 1-row
  *     cross join (no driver action, and the broadcast exchange is
  *     reused across the branches that need it); split QUALITY only
  *     affects load balance, never rank values, because any
  *     deterministic monotone bucketing is exact — callers with domain
  *     knowledge can pass literal splits instead;
  *  2. assign each row a bucket with a deterministic monotone expression
  *     over the primary column ([[bucketExpr]]; rows that tie on the
  *     primary column always share a bucket, so rank ties never straddle
  *     a bucket boundary);
  *  3. per-bucket row counts via a map-side-combinable aggregate (shuffle
  *     payload = `buckets` rows, data-volume independent) and exclusive
  *     prefix sums via a window over that ≤ buckets-row counts frame
  *     (single-partition, but bounded by BUCKET COUNT, never data
  *     volume) — all lazy, no second driver action, no partition-less
  *     window over row-scale data anywhere;
  *  4. hash-repartition on the bucket id, rank inside each bucket with
  *     `Window.partitionBy(bucket)` (the repartition satisfies the
  *     window's ClusteredDistribution, so EnsureRequirements adds no
  *     further exchange), and add the bucket's offset via a broadcast
  *     join on the bucket id.
  *
  * `rank()` (ties allowed) decomposes as local-rank + preceding-bucket
  * count because equal sort keys share a bucket. `dense_rank` does NOT
  * decompose that way — use [[denseRankOfValues]] (rank the distinct
  * value table, where rank == dense index, and join back).
  *
  * HEAVY-HITTER CAVEAT (row path): ties must share a bucket, so a value
  * owning 50 % of the rows sends 50 % of the data through one bucket's
  * window task — correct, but serialized on that task. When the rank's
  * ORDER BY is exactly the value column, use [[rankOfValues]] instead:
  * it computes the same rank values from per-value counts (the hot value
  * collapses to one aggregate row; no window ever sees the hot mass).
  * Only a rank with tiebreak columns beyond the value genuinely needs
  * the row path under skew.
  * `percent_rank`/`ntile` derive from a unique-key rank plus the total
  * count ([[percentRank]], [[ntileExpr]] — count as a broadcast 1-row
  * cross join, so no extra action).
  *
  * Requires a deterministic input (the bucket-count branch and the rank
  * branch each scan it) and a non-null numeric primary column.
  */
object GlobalRank {

  /** A working-column name not colliding with anything in `df` (shared
    * with the other operators that add temp columns to caller frames). */
  private[operators] def fresh(df: DataFrame, base: String): String = {
    var n = base
    var i = 0
    while (df.columns.contains(n)) { i += 1; n = base + i }
    n
  }

  /** Deterministic monotone bucket id for `primary` given an ascending
    * array-literal of split points: the number of split points strictly on
    * the "sorts-before" side of the value. Equal values always map to
    * equal buckets. Works for any orderable element type whose Column
    * comparison matches Spark's sort order (numerics, strings — both
    * compare the way they sort). */
  private[operators] def bucketExprOf(primary: Column, arr: Column,
      desc: Boolean): Column = {
    val cnt =
      if (desc) size(filter(arr, s => s > primary))
      else size(filter(arr, s => s < primary))
    cnt.cast("int")
  }

  private[operators] def bucketExpr(primary: Column, splits: Array[Double],
      desc: Boolean): Column =
    if (splits.isEmpty) lit(0) else bucketExprOf(primary, lit(splits), desc)

  /** Adds global `rank()` over `sortCols` as `out` (long, 1-based) without
    * any single-partition window.
    *
    * @param primaryCol name of the leading sort column — must be numeric,
    *                   non-null, and the first entry of `sortCols`' order
    *                   (it drives bucketing; the full `sortCols` list
    *                   drives the within-bucket order)
    * @param desc       whether `primaryCol` sorts descending
    * @param sortCols   the complete ORDER BY of the rank
    * @param buckets    parallelism of the ranking shuffle (defaults to the
    *                   session's shuffle partitions)
    * @param splits     precomputed split points (any ascending array is
    *                   correct — e.g. uniform steps over a known score
    *                   domain); None derives them lazily inside the query
    */
  def withRank(df: DataFrame, primaryCol: String, desc: Boolean,
      sortCols: Seq[Column], out: String, buckets: Int = 0,
      splits: Option[Array[Double]] = None): DataFrame =
    withRankImpl(df, primaryCol, desc, sortCols, out, buckets, splits, None)

  private def withRankImpl(df: DataFrame, primaryCol: String, desc: Boolean,
      sortCols: Seq[Column], out: String, buckets: Int,
      splits: Option[Array[Double]], weight: Option[String]): DataFrame = {
    val spark = df.sparkSession
    val b = if (buckets > 0) buckets
      else spark.sessionState.conf.numShufflePartitions
    // collision-safe working name: the input may legitimately own _b etc.
    val bC = fresh(df, "_b")
    val bucketed = splits match {
      case Some(sp) =>
        df.withColumn(bC, bucketExpr(col(primaryCol), sp, desc))
      case None if b <= 1 =>
        // degenerate single bucket: an empty probability array would make
        // percentile_approx return null and null out every bucket id
        df.withColumn(bC, lit(0))
      case None =>
        // lazy sampled splits: a 1-row aggregate broadcast onto every row.
        // percentile_approx output is non-decreasing, which is all the
        // bucket expression needs (duplicate splits just skip bucket ids)
        val spC = fresh(df, "_gr_splits")
        val probs = array((1 until b).map(i => lit(i.toDouble / b)): _*)
        val splitsDf = df.agg(
          percentile_approx(col(primaryCol), probs, lit(1000)).as(spC))
        df.crossJoin(broadcast(splitsDf))
          .withColumn(bC, bucketExprOf(col(primaryCol), col(spC), desc))
          .drop(spC)
    }
    rankBucketed(bucketed, bC, sortCols, out,
      splits.map(sp => math.min(b, sp.length + 1)).getOrElse(b), weight)
  }

  /** [[withRank]] for a STRING primary column, with LAZY sampled splits
    * — the string analogue of the numeric path's `percentile_approx`
    * subtree, ZERO driver actions: bottom-k of the distinct values by
    * hash (a uniform value-space sample a heavy-hitter key cannot flood;
    * the limit is a distributed top-k) collapses to a sorted array in a
    * 1-row aggregate, broadcast onto every row by a cross join (computed
    * once — the exchange is reused across the count and rank branches,
    * pinned in GlobalRankSpec), and the every-n-th split points are read
    * from the array inside the bucket expression. Split quality only
    * moves load balance, never rank values.
    *
    * Null keys fail LOUDLY: a null never compares, so it would silently
    * land in bucket 0 — which under `desc` holds the TOP values, where
    * the window's nulls-last order would assign it a plausible-looking
    * but wrong global rank. */
  def withRankStringSampled(df: DataFrame, primaryCol: String, desc: Boolean,
      sortCols: Seq[Column], out: String, buckets: Int = 0,
      sampleSize: Int = 4096): DataFrame =
    withRankStringSampledImpl(df, primaryCol, desc, sortCols, out, buckets,
      sampleSize, None)

  private def withRankStringSampledImpl(df: DataFrame, primaryCol: String,
      desc: Boolean, sortCols: Seq[Column], out: String, buckets: Int,
      sampleSize: Int, weight: Option[String]): DataFrame = {
    val spark = df.sparkSession
    val b = if (buckets > 0) buckets
      else spark.sessionState.conf.numShufflePartitions
    val bC = fresh(df, "_b")
    val nullGuard = raise_error(lit(
      s"global string rank: null in '$primaryCol' (null keys have no " +
        "defined rank position; filter or coalesce them first)"))
    if (b <= 1)
      return rankBucketed(
        df.withColumn(bC,
          when(col(primaryCol).isNull, nullGuard).otherwise(lit(0))),
        bC, sortCols, out, 1, weight)
    val spC = fresh(df, "_gr_ssplits")
    val sampleDf = df.select(col(primaryCol).cast("string").as(spC))
      .where(col(spC).isNotNull)
      .distinct()
      .orderBy(xxhash64(col(spC)), col(spC))
      .limit(sampleSize)
      .agg(sort_array(collect_list(col(spC))).as(spC))
    val arr = col(spC)
    // positions 1-based: min(len-1, i*len/b) + 1, i = 1..b-1; the
    // greatest() keeps element_at legal on the empty-sample row, whose
    // branch the size()=0 guard never selects
    val splitArr = array_distinct(transform(sequence(lit(1), lit(b - 1)),
      i => element_at(arr,
        greatest(lit(1), least(size(arr),
          floor((i * size(arr)) / lit(b)).cast("int") + 1)))))
    val cnt = bucketExprOf(col(primaryCol), splitArr, desc)
    val bucketed = df.crossJoin(broadcast(sampleDf))
      .withColumn(bC,
        when(col(primaryCol).isNull, nullGuard)
          .otherwise(when(size(arr) === 0, lit(0)).otherwise(cnt).cast("int")))
      .drop(spC)
    rankBucketed(bucketed, bC, sortCols, out, b, weight)
  }

  /** Stages 3-4 of the plan in the object scaladoc, shared by the numeric
    * and string paths: per-bucket counts → exclusive prefix-sum offsets →
    * one bucket-id repartition → within-bucket window + broadcast offset
    * join. `bucketed` must carry a non-null int bucket column `bC` that is
    * monotone in the rank order and constant across rank ties. */
  private def rankBucketed(bucketed: DataFrame, bC: String,
      sortCols: Seq[Column], out: String, numParts: Int,
      weight: Option[String] = None): DataFrame = {
    val lrC = fresh(bucketed, "_lr")
    val offC = fresh(bucketed, "_off")
    val cntC = fresh(bucketed, "_c")
    // exclusive prefix sums of the per-bucket masses via a window over
    // the COUNTS frame: counts is at most `buckets` rows by construction
    // (bucket ids live in [0, buckets)), so the single-partition window
    // is data-volume INDEPENDENT — one task over ≤ buckets rows at any
    // scale, the same bounded-input exemption the plan audit
    // (PlanShapeSpec.boundedAggRoot) codifies. The window replaces the
    // previous counts⋈counts theta-join + re-aggregate: two fewer
    // stages per rank query, identical offsets. With a weight column
    // each bucketed row stands for `weight` original rows (the
    // counts-only heavy-hitter path — see [[rankOfValues]]).
    val mass = weight.map(wc => sum(col(wc))).getOrElse(count(lit(1)))
    val counts = bucketed.groupBy(col(bC)).agg(mass.as(cntC))
    val wOff = Window.orderBy(col(bC))
      .rowsBetween(Window.unboundedPreceding, -1)
    val offsets = counts
      .withColumn(offC, coalesce(sum(col(cntC)).over(wOff), lit(0L)))
      .select(col(bC), col(offC))
    val w = Window.partitionBy(col(bC)).orderBy(sortCols: _*)
    // weighted form: bucketed rows are UNIQUE in the sort order (one row
    // per distinct value by [[rankOfValues]]'s construction), so rank()
    // degenerates to row position and the weighted rank is 1 + the
    // exclusive running weight sum — SQL rank semantics ("1 + count of
    // rows sorting strictly before") recovered from aggregates alone
    val localRank = weight match {
      case None => rank().over(w).cast("long")
      case Some(wc) =>
        coalesce(sum(col(wc))
          .over(w.rowsBetween(Window.unboundedPreceding, -1)), lit(0L)) + lit(1L)
    }
    bucketed
      .repartition(math.max(1, numParts), col(bC))
      .withColumn(lrC, localRank)
      .join(broadcast(offsets), Seq(bC))
      .withColumn(out, col(lrC) + col(offC))
      .drop(bC, lrC, offC)
  }

  /** Global INCLUSIVE running total of `valueCol` in the ascending order
    * of a UNIQUE `orderCol` — `sum(v) OVER (ORDER BY o)` without the
    * single-partition window that form plans as. Same decomposition as
    * the rank family: range-bucket rows by sampled splits of `orderCol`,
    * per-bucket inclusive window sums (each task holds only its bucket),
    * exclusive bucket offsets from a bounded window prefix sum over the
    * ≤ b-row per-bucket totals, local + offset = global.
    *
    * The backbone of sequence packing (cut a corpus ordered by doc id at
    * token-budget boundaries: chunk = floor((cum − tokens) / budget)) and
    * of any global cumulative metric at scale.
    *
    * `orderCol` must be unique (ties make ROWS-frame cumsums
    * order-dependent) and non-null (fails loudly, same contract as the
    * rank family). */
  def runningTotal(df: DataFrame, orderCol: String, valueCol: String,
      out: String, buckets: Int = 0): DataFrame = {
    val spark = df.sparkSession
    val b = if (buckets > 0) buckets
      else spark.sessionState.conf.numShufflePartitions
    val bC = fresh(df, "_b")
    val guarded = when(col(orderCol).isNull, raise_error(lit(
        s"runningTotal: null in '$orderCol' (a null has no position in " +
          "the running order; filter it first)")))
      .otherwise(col(orderCol))
    // the guard must fire on EVERY branch — replacing orderCol with its
    // guarded form keeps the degenerate single-bucket path loud too
    val g = df.withColumn(orderCol, guarded)
    val bucketed =
      if (b <= 1) g.withColumn(bC, lit(0))
      else {
        val spC = fresh(df, "_rt_splits")
        val probs = array((1 until b).map(i => lit(i.toDouble / b)): _*)
        val splitsDf = df.agg(
          percentile_approx(col(orderCol), probs, lit(1000)).as(spC))
        g.crossJoin(broadcast(splitsDf))
          .withColumn(bC, bucketExprOf(col(orderCol), col(spC), desc = false))
          .drop(spC)
      }
    val offC = fresh(df, "_off")
    val totC = fresh(df, "_t")
    val lrC = fresh(df, "_lc")
    val totals = bucketed.groupBy(col(bC))
      .agg(sum(col(valueCol)).as(totC))
    // exclusive bucket offsets via a window over the ≤ b-row totals frame
    // — single-partition but bounded by bucket count, never data volume
    // (same replacement as rankBucketed's: two fewer stages than the
    // totals⋈totals theta-join + re-aggregate it supersedes)
    val wOff = Window.orderBy(col(bC))
      .rowsBetween(Window.unboundedPreceding, -1)
    val offsets = totals
      .withColumn(offC, coalesce(sum(col(totC)).over(wOff), lit(0L)))
      .select(col(bC), col(offC))
    val w = Window.partitionBy(col(bC)).orderBy(col(orderCol))
      .rowsBetween(Window.unboundedPreceding, 0)
    bucketed
      .repartition(math.max(1, b), col(bC))
      .withColumn(lrC, sum(col(valueCol)).over(w))
      .join(broadcast(offsets), Seq(bC))
      .withColumn(out, col(lrC) + col(offC))
      .drop(bC, lrC, offC)
  }

  /** Global `rank()` over a SINGLE value column, heavy-hitter-safe: SQL
    * rank ties share one rank value, so when the ORDER BY is exactly the
    * value column no row ever needs a per-row window — rank(v) = 1 +
    * count of rows whose value sorts strictly before v, recoverable from
    * aggregates alone. The plan: per-value counts (map-side combinable —
    * a value owning 50 % of the data collapses to ONE row in the partial
    * aggregate), then the bucketed machinery runs over the VALUE TABLE
    * with the counts as weights (each window task holds one row per
    * distinct value in its bucket, bounded by value cardinality, NEVER by
    * row skew), then an equi-join attaches the rank back to the rows.
    *
    * This is the special case [[withRank]] cannot exploit: with tiebreak
    * sort columns beyond the value, ranks are per-row distinct and the
    * hot value's rows genuinely need an in-value ordering — there the
    * row-path window applies (and a hot KEY means a hot bucket; see the
    * scaladoc above). Use THIS form whenever the rank is on the bare
    * value — corpus position by score, priority by count — and the key
    * distribution is untrusted.
    *
    * The join back is a plain equi-join: AQE broadcasts the value table
    * when it fits and splits skewed probe partitions otherwise
    * (skew-join applies to joins; a window's hot partition cannot be
    * split — that asymmetry is the whole point of this decomposition).
    *
    * Works for numeric AND string value columns (strings take the lazy
    * sampled-split path). Null values fail loudly — a null has no
    * defined rank position. */
  def rankOfValues(df: DataFrame, valueCol: String, desc: Boolean,
      out: String, buckets: Int = 0,
      splits: Option[Array[Double]] = None): DataFrame = {
    val cntC = fresh(df, "_vw")
    val guarded = when(col(valueCol).isNull, raise_error(lit(
        s"rankOfValues: null in '$valueCol' (null values have no defined " +
          "rank position; filter or coalesce them first)")))
      .otherwise(col(valueCol)).as(valueCol)
    // ONE materialization of the per-value count table: without it the
    // counts subtree (fact scan + groupBy) is PLANNED once per consumer
    // — the splits sample, the bucket totals, the per-bucket window and
    // the rank join-back — and the sf0.01 plan audit showed the fact
    // parquet scanned four times (9 exchanges; 4 after this). The
    // counts table is |distinct values|-sized, orders of magnitude
    // smaller than the data — the same trade winCumeDist documents.
    val counts = df.select(guarded).groupBy(col(valueCol))
      .agg(count(lit(1)).as(cntC))
      .localCheckpoint(true)
    val order = Seq(if (desc) col(valueCol).desc else col(valueCol).asc)
    val isString = df.schema(valueCol).dataType ==
      org.apache.spark.sql.types.StringType
    val ranked =
      if (isString)
        withRankStringSampledImpl(counts, valueCol, desc, order, out,
          buckets, sampleSize = 4096, weight = Some(cntC))
      else
        withRankImpl(counts, valueCol, desc, order, out, buckets, splits,
          weight = Some(cntC))
    // left join + loud failure, same contract as [[denseRankOfValues]]:
    // counts derive from df itself, so a missing rank can only mean a
    // NONDETERMINISTIC input (the frame is scanned by both the counts
    // branch and this probe side) — that must not silently null the rank
    df.join(ranked.drop(cntC), Seq(valueCol), "left")
      .withColumn(out, when(col(out).isNull, raise_error(concat(
          lit(s"rankOfValues: value of '$valueCol' missing from the counts " +
            "table — the input is nondeterministic across scans: "),
          col(valueCol).cast("string"))))
        .otherwise(col(out)))
  }

  /** Global `dense_rank()` over a single value column, scale-safe: rank
    * the DISTINCT values (where rank == dense index because keys are
    * unique) and equi-join the dense index back onto the rows. The
    * distinct-value table is small relative to data, so AQE turns the
    * join broadcast when it fits.
    *
    * @param valuesFrom optional frame the distinct-value RANKS are drawn
    *        from when it is wider than the rows being decorated — e.g.
    *        rank against the whole table but attach ranks only to a
    *        bounded probe subset, so the join probe side shrinks to the
    *        subset instead of the full table */
  def denseRankOfValues(df: DataFrame, valueCol: String, desc: Boolean,
      out: String, buckets: Int = 0,
      splits: Option[Array[Double]] = None,
      valuesFrom: Option[DataFrame] = None): DataFrame = {
    // checkpoint for the same reason as rankOfValues' counts table: the
    // distinct-value subtree otherwise re-plans (and re-scans the fact
    // table) once per consumer inside the bucketed-rank machinery
    val distinctVals = valuesFrom.getOrElse(df).select(col(valueCol)).distinct()
      .localCheckpoint(true)
    val ranked = withRank(distinctVals, valueCol, desc,
      Seq(if (desc) col(valueCol).desc else col(valueCol)), out, buckets, splits)
    // left join + loud failure instead of an inner join: df's values must
    // be a subset of valuesFrom, and a violation must not silently drop
    // rows (the error branch costs nothing when the contract holds).
    // Nulls are unsupported by contract (a null never equi-joins, even
    // when valuesFrom also holds null) — the coalesce keeps the error
    // message saying so instead of concat-nulling it to nothing
    df.join(ranked, Seq(valueCol), "left")
      .withColumn(out, when(col(out).isNull, raise_error(concat(
          lit(s"denseRankOfValues: value of '$valueCol' absent from valuesFrom " +
            "(null values are unsupported): "),
          coalesce(col(valueCol).cast("string"), lit("NULL")))))
        .otherwise(col(out)))
  }

  /** `percent_rank` from a unique-key rank column and a total-count
    * column: (rank - 1) / (n - 1), with the SQL convention of 0 when
    * n == 1 (the division is never evaluated then — CaseWhen branches are
    * lazy per row). */
  def percentRank(rankCol: Column, n: Column): Column =
    when(n <= 1L, lit(0.0))
      .otherwise((rankCol - lit(1L)).cast("double") / (n - lit(1L)).cast("double"))

  /** SQL `ntile(k)` from a unique-key rank column and a total-count
    * column: the first `n % k` tiles carry `n/k + 1` rows, the rest
    * `n/k`. Integer-exact (floor over doubles is exact below 2^53). When
    * n < k the otherwise-branch (and its division by base == 0) is never
    * evaluated: cutoff == n >= rank. */
  def ntileExpr(rankCol: Column, n: Column, k: Int): Column = {
    require(k > 0, s"ntile requires k > 0, got $k")
    val base = floor(n.cast("double") / k)
    val rem = n - base * k
    val cutoff = rem * (base + lit(1L))
    when(rankCol <= cutoff,
        floor((rankCol - 1).cast("double") / (base + lit(1L)).cast("double")) + lit(1L))
      .otherwise(
        rem + floor((rankCol - cutoff - 1).cast("double") / base.cast("double")) + lit(1L))
  }
}
