package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables

/** Time-series / streaming semantics in batch-checkable form
  * (SURVEY.md §2.9): tumbling and sliding windows, sessionization,
  * dedup, and watermark-style late-row filtering — the batch forms of
  * what a stream computes over a bounded input, and what the oracle
  * judges.
  */
object TimeSeries {

  /** #44 1-hour tumbling window per event_type (batch form of
    * groupBy(window(ts, "1 hour"))). One partial+final aggregate. */
  def streamTumbling(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      .groupBy(date_trunc("hour", col("ts")).cast("timestamp_ntz").as("wstart"),
        col("event_type"))
      .agg(count(lit(1)).as("c"), round(sum(col("value")), 2).as("s"))
      .orderBy(col("wstart"), col("event_type"))

  /** #45 60-minute windows sliding every 30 minutes. Instead of a
    * range-join of events against the window grid (O(|grid|·|events|)
    * nested-loop), each event is exploded into exactly the two 30-min-
    * aligned window starts that can contain it, then equi-joined against
    * the (broadcast, tiny) grid of valid starts — turning a theta join
    * into a shuffle-free broadcast hash join. This is the same trick
    * `window(ts, "60 minutes", "30 minutes")` uses internally and it is
    * the form that survives 100 TB.
    */
  def streamSliding(s: SparkSession, d: String): DataFrame = {
    val e = Tables.events(s, d)
    // Window-start grid as the oracle defines it: every distinct event
    // hour H contributes starts {H, H-30min}. Explode before the single
    // distinct — one shuffle instead of the naive distinct-union-distinct.
    val h = date_trunc("hour", col("ts"))
    val grid = e
      .select(explode(array(h, h - expr("interval 30 minutes"))).as("ws"))
      .distinct()
    // Candidate starts per event: trunc-to-30min(ts) and that minus 30min.
    val t30 = expr("timestamp_micros(unix_micros(ts) div 1800000000 * 1800000000)")
    val cand = e.select(t30.as("t30"))
      .select(explode(array(col("t30"), col("t30") - expr("interval 30 minutes"))).as("ws"))
    cand.join(broadcast(grid), "ws")
      .groupBy(col("ws"))
      .agg(count(lit(1)).as("c"))
      .select(col("ws").cast("timestamp_ntz").as("wstart"), col("c"))
      .orderBy(col("wstart"))
  }

  /** #46 30-minute-gap sessionization per user: gap flag via lag, session
    * id via running sum (graft.operators.Sessionize — shared with
    * [[tsSessionStats]]), then per-session aggregates. All steps are
    * partitioned by user_id — a single shuffle, then purely local work,
    * exactly the batch shape of `session_window(ts, "30 minutes")`. */
  def streamSession(s: SparkSession, d: String): DataFrame =
    Sessionize.withSessionIds(
        Tables.events(s, d).select(col("user_id"), col("ts"), col("event_id")),
        col("user_id"), col("ts"), col("event_id"), gapSeconds = 1800)
      .withColumnRenamed("session_id", "sid")
      .groupBy(col("user_id"), col("sid"))
      .agg(count(lit(1)).as("n"),
        min(col("ts")).cast("timestamp_ntz").as("st"),
        max(col("ts")).cast("timestamp_ntz").as("en"))
      .orderBy(col("user_id"), col("sid"))

  /** #46b the SAME sessionization through Spark's native
    * `session_window(ts, "30 minutes")` operator — the batch form of the
    * streaming session aggregation, judged against the identical lag-gap
    * oracle as [[streamSession]] (same rows, same hash), so the native
    * operator's gap semantics are pinned: Spark closes a session when
    * the next event is ≥ start+gap past the last one, the oracle when
    * the gap is strictly > 30 min — equivalent on any input without an
    * exact-30:00.000000 gap (none exist in this data at any SF, checked
    * at µs precision; the [[streamSession]] form is the one to use if
    * that knife-edge matters). The session ordinal the oracle carries is
    * recovered with a per-user row_number over session starts — a window
    * over SESSION rows (≤ sessions-per-user each), not events, and still
    * partitioned by user_id: one shuffle, then local work, at any scale. */
  def streamSessionNative(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      .groupBy(col("user_id"), session_window(col("ts"), "30 minutes").as("w"))
      .agg(count(lit(1)).as("n"),
        min(col("ts")).cast("timestamp_ntz").as("st"),
        max(col("ts")).cast("timestamp_ntz").as("en"))
      .withColumn("sid", row_number().over(
        Window.partitionBy(col("user_id")).orderBy(col("w.start"))).cast("long"))
      .select(col("user_id"), col("sid"), col("n"), col("st"), col("en"))
      .orderBy(col("user_id"), col("sid"))

  /** #47 distinct (user, event_type) — batch form of streaming dedup. */
  def streamDedup(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      .select(col("user_id"), col("event_type"))
      .distinct()
      .agg(count(lit(1)).as("c"))

  /** #48 watermark semantics: rows older than max(ts) − 1 day. The global
    * max is a one-row aggregate broadcast into the filter — no per-row
    * subquery re-execution. */
  def streamLateFilter(s: SparkSession, d: String): DataFrame = {
    val e = Tables.events(s, d)
    val mx = e.agg(max(col("ts")).as("mx"))
    e.crossJoin(broadcast(mx))
      .filter(col("ts") < col("mx") - expr("interval 1 day"))
      .agg(count(lit(1)).as("c"))
  }

  /** #153 per-user SESSION STATISTICS — the behavioral feature vector
    * sessionization exists to produce: number of 30-min-gap sessions,
    * total events, largest session (events), total engaged time (sum of
    * per-session spans), and longest session span. Reuses the judged
    * [[Sessionize.withSessionIds]] lag-gap recipe (#46's machinery),
    * then two stacked aggregates: per (user, session) first — map-side
    * combinable after the one user_id exchange the window already made
    * — then per user. EVERY judged number is an exact integer (counts
    * and µs sums), so the query carries zero float risk. */
  def tsSessionStats(s: SparkSession, d: String): DataFrame =
    Sessionize.withSessionIds(
        Tables.events(s, d).select(col("user_id"), col("ts"), col("event_id")),
        col("user_id"), col("ts"), col("event_id"), gapSeconds = 1800)
      .groupBy(col("user_id"), col("session_id"))
      .agg(count(lit(1)).as("n"),
        (unix_micros(max(col("ts"))) - unix_micros(min(col("ts")))).as("span_us"))
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_sessions"),
        sum(col("n")).as("n_events"),
        max(col("n")).as("max_session_events"),
        sum(col("span_us")).as("engaged_us"),
        max(col("span_us")).as("max_span_us"))
      .orderBy(col("user_id"))

  /** #92 exponential moving average of each user's DAILY total signal
    * (α = 1/3, the textbook s_i = α·x_i + (1−α)·s_{i−1}, s_0 = x_0).
    *
    * EWMA is inherently sequential, but it has an exact parallel-prefix
    * form: with i the 0-based day ordinal, s_i = (2/3)^i · Σ_{j≤i} u_j
    * where u_0 = x_0 and u_j = x_j/3 · (2/3)^(−j) — one window cumsum
    * after a per-row weight, no recursion. The growing (2/3)^(−j)
    * factor is the form's only hazard (overflow past j ≈ 1700);
    * collapsing to the per-user DAILY total first bounds the exponent
    * range by the CALENDAR, not by event volume — the same reducer
    * argument as win_gaps_islands — so the decomposition is safe at any
    * data scale. The day-collapse is a map-side-combinable aggregate;
    * everything after keys on user_id (one exchange reused by the
    * window).
    *
    * Float-determinism design (round-9 lesson): the 2-dp source data
    * puts daily MEANS and any decimal-α EWMA on exact decimal grids, so
    * rounded outputs can sit exactly ON a half-cent boundary and the two
    * engines' ±1e-15 summation noise flips them opposite ways. The
    * judged artifact therefore uses (a) the daily SUM — an exact
    * cent-multiple, never at a 2-dp half boundary — and (b) α = 1/3,
    * whose weights live on a 3-adic grid: s_i·200 = 2m/3^i can never be
    * odd, so an exact half-cent hit is IMPOSSIBLE by parity, and the
    * measured boundary distance is ≥1.4e-5 at every SF (vs ~1e-13
    * noise). α is spelled as the same double expression (1.0/3, 2.0/3)
    * on both engine sides. */
  def tsEwma(s: SparkSession, d: String): DataFrame = {
    val daily = Tables.events(s, d)
      .groupBy(col("user_id"), col("ts").cast("date").as("day"))
      .agg(sum(col("value")).as("x"))
    val w = Window.partitionBy(col("user_id")).orderBy(col("day"))
    val cum = w.rowsBetween(Window.unboundedPreceding, 0)
    daily
      .withColumn("i", (row_number().over(w) - 1).cast("double"))
      .withColumn("u",
        when(col("i") === 0, col("x"))
          .otherwise(col("x") * lit(1.0 / 3) * pow(lit(2.0 / 3), -col("i"))))
      .select(col("user_id"), col("day").cast("timestamp_ntz").as("day"),
        round(col("x"), 2).as("x_daily"),
        round(pow(lit(2.0 / 3), col("i")) * sum(col("u")).over(cum), 2).as("ewma"))
      .orderBy(col("user_id"), col("day"))
  }

  /** #99 inter-arrival gap statistics per user — the RR-interval
    * ingestion step itself: physiological series arrive as event
    * timestamps, and the signal IS the gap between consecutive ones.
    * Gaps are computed in EXACT integer microseconds (one lag window on
    * the user_id exchange), so count/min/max/sum are exact on both
    * engines; the median is Spark's exact interpolated `percentile` ↔
    * DuckDB `quantile_cont` (midpoints of integers are exact binary
    * halves — no float divergence). Map-side-combinable aggregate after
    * one window pass. */
  def tsInterArrival(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val um = unix_micros(col("ts"))
    Tables.events(s, d)
      .select(col("user_id"), (um - lag(um, 1).over(w)).as("gap_us"))
      .groupBy(col("user_id"))
      .agg(count(col("gap_us")).as("n_gaps"),
        min(col("gap_us")).as("min_gap_us"),
        max(col("gap_us")).as("max_gap_us"),
        sum(col("gap_us")).as("sum_gap_us"),
        percentile(col("gap_us"), lit(0.5)).as("p50_gap_us"))
      .orderBy(col("user_id"))
  }

  /** #100 lag-1 autocorrelation of each user's daily-total series — the
    * short-range dependence feature (does today's level predict
    * tomorrow's). Day-collapse first (calendar-bounded, the same
    * reducer as tsEwma), one lag window for the (x_t, x_{t−1}) pairs,
    * then a plain `corr` aggregate per user — Pearson sample
    * correlation, identically defined on both engines, rounded at 4 dp
    * (scale-free ratio: summation-order noise ~1e-15). */
  /** #161 CROSS-correlation of two per-user daily series — does spend
    * move with engagement? Per user and UTC day: purchase total (in
    * exact integer CENTS, per-row lattice snap then integer sum) and
    * click count, over ALL the user's active days (absent series
    * contribute exact 0 — both engines see the same day domain); then
    * Pearson r from EXACT integer moments (n, Σp, Σc, Σpc, Σp², Σc²) —
    * the `agg_corr` recipe: every moment is int64, the only float step
    * is one division over two sqrt's of operand-identical exact
    * integers (correctly-rounded IEEE ops → bit-identical on any
    * engine), rounded at 4 dp off-lattice (an irrational ratio never
    * sits on a round boundary), `+ 0` normalizing −0.0. Degenerate
    * users (either series constant) yield NULL on both engines.
    *
    * Scale shape: day-collapse first (shuffle on (user, day), map-side
    * combinable), then one (user) aggregate of six integer moments —
    * two shuffles total, state O(1) per group, the same plan at any
    * event volume. */
  def tsCrossCorr(s: SparkSession, d: String): DataFrame = {
    val cents = round(col("value") * 100).cast("long")
    val daily = Tables.events(s, d)
      .groupBy(col("user_id"), col("ts").cast("date").as("day"))
      .agg(
        sum(when(col("event_type") === "purchase", cents).otherwise(lit(0L))).as("pc"),
        count(when(col("event_type") === "click", lit(1))).as("cc"))
    val g = daily.groupBy(col("user_id")).agg(
      count(lit(1)).as("n"),
      sum(col("pc")).as("sp"), sum(col("cc")).as("sc"),
      sum(col("pc") * col("cc")).as("spc"),
      sum(col("pc") * col("pc")).as("spp"),
      sum(col("cc") * col("cc")).as("scc"))
    val varP = col("n") * col("spp") - col("sp") * col("sp")
    val varC = col("n") * col("scc") - col("sc") * col("sc")
    g.select(col("user_id"), col("n").as("n_days"),
        (when(varP > 0 && varC > 0,
          round((col("n") * col("spc") - col("sp") * col("sc")).cast("double")
            / (sqrt(varP.cast("double")) * sqrt(varC.cast("double"))), 4) + lit(0))
          ).as("xcorr"))
      .orderBy(col("user_id"))
  }

  def tsAutocorr(s: SparkSession, d: String): DataFrame = {
    val daily = Tables.events(s, d)
      .groupBy(col("user_id"), col("ts").cast("date").as("day"))
      .agg(sum(col("value")).as("x"))
    val w = Window.partitionBy(col("user_id")).orderBy(col("day"))
    daily
      .withColumn("xp", lag(col("x"), 1).over(w))
      .groupBy(col("user_id"))
      .agg(count(col("xp")).as("n_pairs"),
        round(corr(col("x"), col("xp")), 4).as("r1"))
      .orderBy(col("user_id"))
  }

  /** #101 time-weighted average per user under LOCF weighting: each
    * value counts for the microseconds until the NEXT sample, so
    * irregular sampling doesn't bias the mean toward burst periods —
    * the correct "average level" of an unevenly-sampled series (and the
    * reason plain avg() is wrong for RR-style data). One lead window on
    * the user_id exchange, then a map-side-combinable aggregate; the
    * weights are exact integer µs, the weighted sum is Σ(2-dp value ×
    * integer), and the final ratio is rounded at 4 dp. */
  def tsTimeWeightedAvg(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val um = unix_micros(col("ts"))
    // round-11: exact cent·µs weighted sum (the float Σ(value·Δ) was
    // summation-order-noisy, same class as the sf1 rmssd boundary
    // flip), and the 4-dp rounding happens in INTEGER space. twa·10⁴ =
    // 100·num/span with num = Σ(cents·Δµs); the divmod split
    // (100·q + halfUp(100·r/span), q = num div span) keeps every
    // intermediate below 2⁶³ where num·100 itself could overflow.
    // Overflow bound on num: Σ(cents·Δ) ≤ max|cents| · total span ≈
    // 5.6e4 · 2.6e12 ≈ 1.5e17 per user-month — three orders inside the
    // long range; a year-long 1e6-cent series would need the split
    // done in decimal instead.
    Tables.events(s, d)
      .select(col("user_id"), um.as("um"),
        round(col("value") * 100).cast("long").as("c"), col("value"),
        lead(um, 1).over(w).as("nxt"))
      .groupBy(col("user_id"))
      .agg(
        sum(col("c") * (col("nxt") - col("um"))).as("_num"),
        (max(col("um")) - min(col("um"))).as("_span"),
        // the unweighted comparison ships as the exact (sum, count)
        // pair, not a rounded mean: means of 2-dp data land exactly ON
        // 4-dp half boundaries (measured 0 distance at sf0.1), sums are
        // boundary-safe cent multiples
        round(sum(col("value")), 2).as("sum_v"),
        count(col("value")).as("n_v"))
      // twa·10⁴ = 100·num/span, rounded half-up in INTEGER space via
      // the divmod split 100·q + halfUp(100·r/span) — `div` is the
      // true integral divide (num reaches ~1.5e17, past the 2⁵³ range
      // where a float-division trick stays exact). The span-0 guard
      // (one-timestamp series) both defines the degenerate case as
      // NULL on both engines and short-circuits the division.
      .select(col("user_id"),
        when(col("_span") > 0,
          (expr("_num div _span") * 100L +
            expr("((_num % _span) * 200 + _span) div (_span * 2)"))
            .cast("double") / 10000.0).as("twa"),
        col("_span").as("span_us"), col("sum_v"), col("n_v"))
      .orderBy(col("user_id"))
  }

  /** #105 change-point detection per user: the day split that maximizes
    * the level shift |mean(before) − mean(after)| over the daily-total
    * series — single-change-point detection by exhaustive split search,
    * which the cumulative-sum trick makes O(days) per user: one cumsum
    * window gives every candidate split's both-side means at once
    * (versus the naive O(days²) re-aggregation per split). Day-collapse
    * first bounds the search by the calendar at any event volume.
    *
    * The judged shift column is the exact CENT-LATTICE numerator
    * |Σpre·(n−i) − Σpost·i| (shift × i × (n−i)) — the ratio itself is a
    * small-denominator rational that lands exactly ON 4-dp half
    * boundaries at sf0.1 (measured), while the numerator is a cent
    * multiple, never at a 2-dp half boundary. The winning split is
    * rank-picked on (shift desc, day desc); the top-2 shift gap is
    * ≥0.007 at every SF (measured) — far beyond float noise, so the
    * argmax row is stable. */
  def tsChangepoint(s: SparkSession, d: String): DataFrame = {
    val daily = Tables.events(s, d)
      .groupBy(col("user_id"), col("ts").cast("date").as("day"))
      .agg(sum(col("value")).as("x"))
    val wOrd = Window.partitionBy(col("user_id")).orderBy(col("day"))
    val wAll = Window.partitionBy(col("user_id"))
    val scored = daily
      .withColumn("cs", sum(col("x")).over(wOrd.rowsBetween(Window.unboundedPreceding, 0)))
      .withColumn("i", row_number().over(wOrd))
      .withColumn("tot", sum(col("x")).over(wAll))
      .withColumn("n", count(lit(1)).over(wAll))
      .filter(col("i") < col("n"))
      .withColumn("shift",
        abs(col("cs") / col("i") - (col("tot") - col("cs")) / (col("n") - col("i"))))
    scored
      .withColumn("rk", row_number().over(
        Window.partitionBy(col("user_id")).orderBy(col("shift").desc, col("day").desc)))
      .filter(col("rk") === 1)
      .select(col("user_id"), col("day").cast("timestamp_ntz").as("split_day"),
        col("i").cast("long").as("i_days"), col("n").as("n_days"),
        round(abs(col("cs") * (col("n") - col("i")) - (col("tot") - col("cs")) * col("i")), 2)
          .as("shift_num"))
      .orderBy(col("user_id"))
  }

  /** #93 rolling z-score anomaly detection: each event scored against
    * the mean/stddev of its user's previous 20 events (strictly
    * preceding frame — the score never sees the value it judges), kept
    * when |z| > 2 with at least 10 samples behind it. One window pass on
    * the user_id exchange; the frame is row-bounded so per-row state is
    * O(20) regardless of series length. The >2 cutoff sits on an exact
    * float comparison in both engines; the nearest |z| to the boundary
    * is ~1e-3 away at every SF (checked), far beyond the ~1e-15
    * summation-order noise, so the judged row SET is stable. */
  def tsAnomalyZscore(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id")).rowsBetween(-20, -1)
    Tables.events(s, d)
      .withColumn("mu", avg(col("value")).over(w))
      .withColumn("sd", stddev_samp(col("value")).over(w))
      .withColumn("nw", count(col("value")).over(w))
      .filter(col("nw") >= 10 && col("sd") > 1e-9)
      .withColumn("z", (col("value") - col("mu")) / col("sd"))
      .filter(abs(col("z")) > 2)
      .select(col("event_id"), col("user_id"),
        col("ts").cast("timestamp_ntz").as("ts"),
        round(col("value"), 2).as("value"), round(col("z"), 2).as("z"))
      .orderBy(col("event_id"))
  }

  /** #175 robust anomaly detection per user: flag samples deviating from
    * the series MEDIAN by more than 3.5× the median absolute deviation —
    * the robust sibling of the rolling z-score (#93), immune to the
    * outliers' own pull on the reference (a cluster of spikes inflates a
    * mean+stddev gate into missing them; it barely moves the median).
    *
    * Exact end to end on the doubled-integer lattice: m2 = 2·median(c)
    * and mad4 = 2·median(|2c − m2|) are integers (a median of integers
    * interpolates to a half-integer at worst), the 3.5× gate
    * cross-multiplies to the EXACT integer compare 4·dev2 > 7·mad4, and
    * the score dev/MAD = 2·dev2/mad4 is a rational half-upped on its
    * 4-dp grid in integer space. mad4 = 0 (at least half the series ON
    * the median) yields no flags by definition — not a division error.
    *
    * Scale: ONE shuffle on the series key feeding two stacked
    * whole-partition window passes (median, then MAD); cost is linear in
    * events with per-key sorted work, the same shape every hrv_* query
    * rides. */
  def tsMadAnomaly(s: SparkSession, d: String): DataFrame =
    madAnomaly(Tables.events(s, d))
      .orderBy(col("series_key"), col("event_id"))

  /** #179 SAX symbolization per user (Lin/Keogh 2003, with
    * QUARTILE-ADAPTIVE breakpoints instead of the Gaussian table — the
    * data-driven variant that needs no z-normalization): PAA over
    * 10-sample segments (partial tail segments dropped, the standard
    * truncation), then each segment's a/b/c/d symbol from the series'
    * OWN PAA quartiles. The discretized series feeds motif discovery /
    * cheap subsequence matching downstream.
    *
    * Exact end to end: a full segment's PAA is the exact int64 cent sum
    * (mean = sum/10, fixed denominator — kept AS the sum), quartiles of
    * integers interpolate at quarter positions (×4 → exact integers in
    * both engines), and symbol assignment is three integer compares.
    * Scale: one shuffle on the key (row-number window), a map-side
    * combinable segment aggregate reusing that partitioning, and one
    * whole-partition quartile window — linear in events. */
  def tsSax(s: SparkSession, d: String): DataFrame = {
    val wOrd = Window.partitionBy(col("series_key"))
      .orderBy(col("_ts"), col("_tb"))
    val wKey = Window.partitionBy(col("series_key"))
    val c = round(col("value").cast("double") * 100).cast("long")
    def q4(p: Double) =
      (percentile(col("paa"), lit(p)).over(wKey) * 4).cast("long")
    val p4 = col("paa") * 4
    Tables.events(s, d)
      .select(col("user_id").as("series_key"), col("ts").as("_ts"),
        col("event_id").as("_tb"), c.as("c"))
      .withColumn("_rn", (row_number().over(wOrd) - 1).cast("long"))
      .groupBy(col("series_key"), expr("_rn div 10").as("seg"))
      .agg(sum(col("c")).as("paa"), count(lit(1)).as("cnt"))
      .filter(col("cnt") === 10)
      .withColumn("q1", q4(0.25)).withColumn("q2", q4(0.5))
      .withColumn("q3", q4(0.75))
      .select(col("series_key"), col("seg"), col("paa"),
        when(p4 < col("q1"), "a").when(p4 < col("q2"), "b")
          .when(p4 < col("q3"), "c").otherwise("d").as("sym"))
      .orderBy(col("series_key"), col("seg"))
  }

  /** #184 day-of-week seasonal profile per user — the seasonal-index
    * step of classical decomposition (and the feature behind "is this
    * weekday unusually quiet?" detectors): each (user, dow) cell gets
    * its mean daily cent total as a share of the user's overall daily
    * mean, in basis points. Day-of-week is the PORTABLE epoch-day
    * arithmetic ((days_since_1970 + 4) mod 7, 0 = Sunday) rather than
    * either engine's locale-sensitive dow function. The index is a
    * rational of exact int64 sums — (10000·dow_sum·all_days) over
    * (dow_days·all_sum) — half-up-rounded in INTEGER space, so the
    * judged output never touches a float. Shape: two stacked map-side
    * combinable aggregates (events → days → dow cells) and one
    * |users|·7-row window pass — the shuffles are all on the user key,
    * and the final table is tiny at any corpus size. */
  def tsDowProfile(s: SparkSession, d: String): DataFrame = {
    val wUser = Window.partitionBy(col("user_id"))
    Tables.events(s, d)
      .select(col("user_id"),
        datediff(to_date(col("ts")), lit("1970-01-01").cast("date"))
          .cast("long").as("dayn"),
        round(col("value").cast("double") * 100).cast("long").as("c"))
      .groupBy(col("user_id"), col("dayn"))
      .agg(sum(col("c")).as("day_sum"))
      .groupBy(col("user_id"), ((col("dayn") + 4) % 7).as("dow"))
      .agg(sum(col("day_sum")).as("dow_sum_cents"),
        count(lit(1)).as("dow_days"))
      .withColumn("all_sum", sum(col("dow_sum_cents")).over(wUser))
      .withColumn("all_days", sum(col("dow_days")).over(wUser))
      .filter(col("all_sum") > 0)
      .select(col("user_id"), col("dow"), col("dow_days"),
        col("dow_sum_cents"),
        expr("(2 * 10000 * dow_sum_cents * all_days + dow_days * all_sum) " +
          "div (2 * dow_days * all_sum)").as("idx_bp"))
      .orderBy(col("user_id"), col("dow"))
  }

  /** #187 multi-resolution resample: per-user event count and cent
    * total at DAY, WEEK, and MONTH grain in ONE pass — the
    * feature-store rollup that naive pipelines run as three scans.
    * GROUPING SETS compiles to a single Expand over one scan (each row
    * fans to its three grain keys, partials combine map-side), so at
    * 100 TB the fact data is read once instead of three times and the
    * shuffle carries only the aggregated (user, grain, bucket) cells.
    * SQL-native via spark.sql like [[Relational.aggGroupingSets]] —
    * Catalyst's Expand is what's judged. Exact integer counts/cents;
    * both engines truncate weeks to Monday. */
  def tsMultires(s: SparkSession, d: String): DataFrame = {
    Tables.events(s, d).filter(col("user_id") < 5)
      .select(col("user_id"),
        date_trunc("day", col("ts")).cast("timestamp_ntz").as("day"),
        date_trunc("week", col("ts")).cast("timestamp_ntz").as("wk"),
        date_trunc("month", col("ts")).cast("timestamp_ntz").as("mo"),
        round(col("value").cast("double") * 100).cast("long").as("c"))
      .createOrReplaceTempView("multires_base")
    s.sql("""SELECT user_id,
                    CASE WHEN day IS NOT NULL THEN 'day'
                         WHEN wk IS NOT NULL THEN 'week'
                         ELSE 'month' END AS grain,
                    coalesce(day, wk, mo) AS bucket,
                    count(*) AS n, sum(c) AS sum_cents
             FROM multires_base
             GROUP BY GROUPING SETS ((user_id, day), (user_id, wk), (user_id, mo))
             ORDER BY user_id, grain, bucket""")
  }

  /** The median/MAD core of [[tsMadAnomaly]], factored over any
    * (user_id, event_id, value) frame for fixture-level spec checks.
    * No ordering — the judged wrapper adds it. */
  def madAnomaly(events: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
    val c = round(col("value").cast("double") * 100).cast("long")
    events
      .select(col("user_id"), col("event_id"), c.as("c"))
      .withColumn("m2", (percentile(col("c"), lit(0.5)).over(w) * 2).cast("long"))
      .withColumn("dev2", abs(col("c") * 2 - col("m2")))
      .withColumn("mad4", (percentile(col("dev2"), lit(0.5)).over(w) * 2).cast("long"))
      .filter(col("mad4") > 0 && col("dev2") * 4 > col("mad4") * 7)
      .select(col("user_id").as("series_key"), col("event_id"),
        (col("c").cast("double") / 100.0).as("value"),
        (Hrv.halfUp(col("dev2") * 20000L, col("mad4")).cast("double") / 10000.0)
          .as("score"))
  }
}
