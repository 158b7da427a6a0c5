package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.operators.{GlobalRank, Windows}

/** GlobalRank must (a) exactly reproduce the single-partition window
  * semantics it replaces, and (b) leave NO partition-less Window in the
  * judged plans (the round-3 verdict's scale-killer finding). */
class GlobalRankSpec extends SparkSpecBase {
  import spark.implicits._

  /** Whether a plan's row count is bounded independently of data volume,
    * reachable through row-non-increasing operators — such input makes a
    * global window safe (fixed row count regardless of data volume).
    * Two bounded shapes exist in the judged plans:
    *  - a LIMIT;
    *  - an Aggregate grouping ONLY on GlobalRank's bucket-id working
    *    columns (exactly `_b`, `_b1`, ... — the same rule as
    *    PlanShapeSpec.boundedAggRoot): its output is ≤ buckets rows by
    *    construction, which is what makes the offsets prefix-sum window
    *    inside rankBucketed/runningTotal a bounded one-task step, not a
    *    scale-killer. A looser name test would quietly void this audit. */
  @annotation.tailrec
  private def limitBounded(p: logical.LogicalPlan,
      latticeWaiver: Boolean = false): Boolean = p match {
    case _: logical.GlobalLimit => true
    case a: logical.Aggregate =>
      a.groupingExpressions.nonEmpty && a.groupingExpressions.forall {
        case ne: org.apache.spark.sql.catalyst.expressions.NamedExpression =>
          ne.name.matches("_b\\d*") ||
            // `_lat*` is the DATA-domain-bounded convention
            // (Windows.cumeDistByValue): boundedness rests on a value-
            // lattice contract, not on construction, so it is accepted
            // ONLY under an explicit per-query waiver AND because the
            // operator carries a runtime raise_error cardinality guard
            // (proven to fire by the "cardinality guard fires" test
            // below). Without the waiver it is a scale-killer.
            (latticeWaiver && ne.name.matches("_lat\\d*"))
        case _ => false
      }
    case u: logical.Project => limitBounded(u.child, latticeWaiver)
    case u: logical.Filter => limitBounded(u.child, latticeWaiver)
    case u: logical.Sort => limitBounded(u.child, latticeWaiver)
    case w: logical.Window => limitBounded(w.child, latticeWaiver)
    case _ => false
  }

  /** Every logical Window node in the optimized plan with an empty
    * partition spec over an UNBOUNDED input — the single-task global
    * window that dies at scale. */
  private def globalWindows(df: DataFrame,
      latticeWaiver: Boolean = false): Seq[logical.Window] =
    df.queryExecution.optimizedPlan.collect {
      case w: logical.Window
          if w.partitionSpec.isEmpty && !limitBounded(w.child, latticeWaiver) => w
    }

  test("withRank matches rank() on unique keys, asc and desc") {
    val df = (1 to 500).map(i => ((i * 37) % 500, i.toDouble % 97)).toDF("id", "v")
    for (desc <- Seq(true, false)) {
      val order = if (desc) Seq($"v".desc, $"id") else Seq($"v", $"id")
      val got = GlobalRank.withRank(df, "v", desc, order, "r", buckets = 7)
        .select($"id", $"r").collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
      val want = df.select($"id", rank().over(Window.orderBy(order: _*)).cast("long").as("r"))
        .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
      assert(got == want, s"desc=$desc")
    }
  }

  test("withRank handles ties exactly (rank semantics, non-unique order)") {
    // heavy ties: only 5 distinct values across 200 rows
    val df = (1 to 200).map(i => (i, (i % 5).toDouble)).toDF("id", "v")
    val got = GlobalRank.withRank(df, "v", desc = false, Seq($"v"), "r", buckets = 4)
      .groupBy($"v").agg(min($"r").as("mn"), max($"r").as("mx"), count(lit(1)).as("c"))
      .collect().map(r => (r.getDouble(0), (r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    val want = df.select($"v", rank().over(Window.orderBy($"v")).cast("long").as("r"))
      .groupBy($"v").agg(min($"r").as("mn"), max($"r").as("mx"), count(lit(1)).as("c"))
      .collect().map(r => (r.getDouble(0), (r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    assert(got == want)
  }

  test("withRank with caller-provided splits (dups and out-of-range ok)") {
    val df = (1 to 100).map(i => (i, (i % 17).toDouble)).toDF("id", "v")
    val want = df.select($"id", rank().over(Window.orderBy($"v", $"id")).cast("long").as("r"))
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    // any non-decreasing array is a correct bucketing, even with duplicate
    // and out-of-domain entries
    for (sp <- Seq(Array(4.0, 8.0, 12.0), Array(5.0, 5.0, 900.0), Array(-1.0))) {
      val got = GlobalRank.withRank(df, "v", desc = false, Seq($"v", $"id"), "r",
          buckets = 4, splits = Some(sp))
        .select($"id", $"r").collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
      assert(got == want, s"splits=${sp.mkString(",")}")
    }
  }

  test("withRank preserves caller columns named like its working columns") {
    // _b participates in the sort — it must survive untouched
    val df = (1 to 50).map(i => (i, i.toDouble % 7, i * 10)).toDF("id", "v", "_b")
    val got = GlobalRank.withRank(df, "v", desc = false, Seq($"v", $"_b"), "r", buckets = 3)
    assert(got.columns.toSeq == Seq("id", "v", "_b", "r"))
    val want = df.select($"id", $"_b",
        rank().over(Window.orderBy($"v", $"_b")).cast("long").as("r"))
      .collect().map(r => r.getInt(0) -> (r.getInt(1), r.getLong(2))).toMap
    val gotM = got.select($"id", $"_b", $"r")
      .collect().map(r => r.getInt(0) -> (r.getInt(1), r.getLong(2))).toMap
    assert(gotM == want)
  }

  test("withRank on empty input yields empty output with the rank column") {
    val df = Seq.empty[(Int, Double)].toDF("id", "v")
    val out = GlobalRank.withRank(df, "v", desc = false, Seq($"v", $"id"), "r")
    assert(out.columns.toSeq == Seq("id", "v", "r"))
    assert(out.count() == 0)
  }

  test("lazy-splits path evaluates the sampled splits once (exchange reuse)") {
    // rank correctness relies on the bucket-count branch and the rank
    // branch seeing the SAME percentile_approx splits; with exchange reuse
    // (on by default) the 1-row splits aggregate is computed once and its
    // broadcast is shared — pin that so a config/canonicalization
    // regression is caught instead of producing silently wrong ranks.
    // Asserted structurally (count the aggregate nodes actually computing
    // percentile_approx in the final adaptive plan — one partial+final
    // pair; reused stages are leaves in PlanNodes.all), not on the plan
    // rendering, which drifts across Spark versions
    val df = (1 to 400).map(i => (i, (i % 31).toDouble)).toDF("id", "v")
    val out = GlobalRank.withRank(df, "v", desc = false, Seq($"v", $"id"), "r", buckets = 4)
    out.collect() // finalize the adaptive plan so stage reuse is visible
    val aggs = PlanNodes.all(out.queryExecution.executedPlan).count {
      case a: org.apache.spark.sql.execution.aggregate.BaseAggregateExec =>
        a.aggregateExpressions.exists(_.toString.contains("percentile_approx"))
      case _ => false
    }
    assert(aggs >= 1 && aggs <= 2,
      s"splits aggregate computed $aggs times (expected one partial+final " +
        s"pair — exchange/stage reuse regressed):\n${out.queryExecution.executedPlan}")
  }

  test("withRankStringSampled (lazy splits) matches rank() on random string keys") {
    val rnd = new scala.util.Random(11)
    val vocab = Vector("kiwi", "Apple", "banana", "CHERRY", "date-9", "élan",
      "", "x", "xy", "zz top", "中文字", "0042", "fig#")
    for (trial <- 1 to 3) {
      val df = (1 to 250).map { i =>
        (i, vocab(rnd.nextInt(vocab.length)) + (if (rnd.nextBoolean()) "" else s"~${rnd.nextInt(7)}"))
      }.toDF("id", "k")
      for ((desc, buckets) <- Seq((false, 5), (true, 3), (false, 1))) {
        val order = if (desc) Seq($"k".desc, $"id") else Seq($"k", $"id")
        val got = GlobalRank.withRankStringSampled(df, "k", desc, order, "r",
            buckets = buckets, sampleSize = 64)
          .select($"id", $"r").collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
        val want = df.select($"id", rank().over(Window.orderBy(order: _*)).cast("long").as("r"))
          .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
        assert(got == want, s"trial=$trial desc=$desc buckets=$buckets")
      }
    }
  }

  test("string lazy-splits sample evaluates once (stage reuse, structural)") {
    // same contract as the numeric twin: the count branch and the rank
    // branch must see the SAME sampled splits — with exchange/stage
    // reuse the bottom-k sample aggregate is computed once (one
    // partial+final collect_list pair in the final adaptive plan)
    val df = (1 to 300).map(i => (i, s"k${(i * 7) % 40}")).toDF("id", "k")
    val out = GlobalRank.withRankStringSampled(df, "k", desc = false,
      Seq($"k", $"id"), "r", buckets = 4, sampleSize = 64)
    out.collect()
    val aggs = PlanNodes.all(out.queryExecution.executedPlan).count {
      case a: org.apache.spark.sql.execution.aggregate.BaseAggregateExec =>
        a.aggregateExpressions.exists(_.toString.contains("collect_list"))
      case _ => false
    }
    assert(aggs >= 1 && aggs <= 2,
      s"splits sample computed $aggs times (stage reuse regressed):\n" +
        out.queryExecution.executedPlan)
  }

  test("withRankStringSampled fails loudly on null keys too") {
    val df = Seq((1, "a"), (2, null), (3, "c")).toDF("id", "k")
    val e = intercept[Exception] {
      GlobalRank.withRankStringSampled(df, "k", desc = false,
        Seq($"k", $"id"), "r", buckets = 4).collect()
    }
    assert(e.getMessage.contains("null"), e.getMessage)
  }

  test("winRankStringGlobal matches its single-partition-window form on testdata") {
    val want = Tables.documents(spark, sf())
      .select($"doc_id", md5($"text").as("_k"))
      .withColumn("r", rank().over(Window.orderBy($"_k", $"doc_id")).cast("long"))
      .select($"doc_id", $"r")
      .orderBy($"doc_id").limit(300).collect().map(_.toSeq).toSeq
    val got = Windows.winRankStringGlobal(spark, sf()).collect().map(_.toSeq).toSeq
    assert(got == want)
  }

  test("rankOfValues matches rank() under a 50%-hot value, and its window never sees the hot mass") {
    import org.apache.spark.sql.execution.window.WindowExec
    import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
    // one value owns half the rows — the row-path's hot-bucket hazard
    val n = 20000
    val rows = (1 to n).map { i =>
      val v = if (i % 2 == 0) 42.0 else (i % 199).toDouble
      (i.toLong, v)
    }
    val df = rows.toDF("id", "v")
    for (desc <- Seq(false, true)) {
      val got = GlobalRank.rankOfValues(df, "v", desc, "r", buckets = 8)
      val order = if (desc) $"v".desc else $"v".asc
      val want = df.withColumn("r", rank().over(Window.orderBy(order)).cast("long"))
      assert(got.select($"id", $"r").except(want.select($"id", $"r")).count() == 0
        && got.count() == n, s"desc=$desc rank values diverge from the plain window")
      // the structural heavy-hitter claim: every Window in the plan runs
      // over the AGGREGATED value table, so its input is one row per
      // distinct value (~101 here), never the 10,000-row hot mass
      val executed = got.select($"id", $"r")
      executed.collect()
      val windows = PlanNodes.allThroughReuse(executed.queryExecution.executedPlan)
        .collect { case w: WindowExec => w }
      assert(windows.nonEmpty, "expected the bucketed window over the value table")
      windows.foreach { w =>
        val aggs = w.children.flatMap(c => PlanNodes.allThroughReuse(c)
          .collect { case a: BaseAggregateExec => a })
        assert(aggs.nonEmpty, s"window input must be the per-value aggregate:\n$w")
        val rowsIn = aggs.map(_.metrics("numOutputRows").value).min
        assert(rowsIn <= 200,
          s"window saw $rowsIn rows — the hot mass leaked into a window task")
      }
    }
  }

  test("rankOfValues on a hot STRING value matches rank() too") {
    val rows = (1 to 4000).map { i =>
      val v = if (i % 2 == 0) "dup" else s"k${i % 173}%03d"
      (i.toLong, v)
    }
    val df = rows.toDF("id", "v")
    val got = GlobalRank.rankOfValues(df, "v", desc = false, "r", buckets = 6)
    val want = df.withColumn("r", rank().over(Window.orderBy($"v")).cast("long"))
    assert(got.select($"id", $"r").except(want.select($"id", $"r")).count() == 0
      && got.count() == 4000)
  }

  test("rankOfValues fails loudly on null values") {
    val df = Seq((1L, Some(1.0)), (2L, None: Option[Double])).toDF("id", "v")
    val e = intercept[Exception] {
      GlobalRank.rankOfValues(df, "v", desc = false, "r", buckets = 4).collect()
    }
    assert(e.getMessage != null && e.getMessage.contains("rankOfValues"),
      s"expected the loud null guard, got: $e")
  }

  test("denseRankOfValues fails loudly when a value is absent from valuesFrom") {
    val df = Seq((1, 5.0), (2, 99.0)).toDF("id", "v")
    val from = Seq(Tuple1(5.0)).toDF("v")
    val ok = GlobalRank.denseRankOfValues(df.filter($"v" === 5.0), "v",
      desc = false, "dr", valuesFrom = Some(from))
    assert(ok.collect().map(_.getLong(2)).toSeq == Seq(1L))
    val e = intercept[Exception] {
      GlobalRank.denseRankOfValues(df, "v", desc = false, "dr",
        valuesFrom = Some(from)).collect()
    }
    assert(e.getMessage.contains("absent from valuesFrom"), e.getMessage)
  }

  test("denseRankOfValues matches dense_rank()") {
    val df = (1 to 300).map(i => (i, ((i * 13) % 23).toDouble)).toDF("id", "v")
    val got = GlobalRank.denseRankOfValues(df, "v", desc = true, "dr", buckets = 5)
      .select($"id", $"dr").collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    val want = df.select($"id", dense_rank().over(Window.orderBy($"v".desc)).cast("long").as("dr"))
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    assert(got == want)
  }

  test("ntileExpr and percentRank match the window builtins for many (n, k)") {
    for (n <- Seq(1, 2, 3, 4, 5, 7, 8, 40, 41); k <- Seq(1, 3, 4, 7)) {
      val df = (1 to n).map(i => (i.toLong, i)).toDF("rn", "id")
      val got = df.select($"id",
          GlobalRank.ntileExpr($"rn", lit(n.toLong), k).cast("long").as("q"),
          round(GlobalRank.percentRank($"rn", lit(n.toLong)), 9).as("pr"))
        .collect().map(r => (r.getInt(0), (r.getLong(1), r.getDouble(2)))).toMap
      val w = Window.orderBy($"id")
      val want = df.select($"id",
          ntile(k).over(w).cast("long").as("q"),
          round(percent_rank().over(w), 9).as("pr"))
        .collect().map(r => (r.getInt(0), (r.getLong(1), r.getDouble(2)))).toMap
      assert(got == want, s"n=$n k=$k")
    }
  }

  test("winRankDense matches its old single-partition-window form on testdata") {
    val want = {
      val w1 = Window.orderBy($"c_acctbal".desc, $"c_custkey")
      val w2 = Window.orderBy(round($"c_acctbal", 0).desc)
      Tables.customer(spark, sf()).select($"c_custkey", $"c_acctbal")
        .withColumn("r", rank().over(w1).cast("long"))
        .withColumn("dr", dense_rank().over(w2).cast("long"))
        .orderBy($"r").limit(100).collect().map(_.toSeq).toSeq
    }
    val got = Windows.winRankDense(spark, sf()).collect().map(_.toSeq).toSeq
    assert(got == want)
  }

  test("winNtilePctrank matches its old single-partition-window form on testdata") {
    val want = {
      val w = Window.orderBy($"c_acctbal", $"c_custkey")
      Tables.customer(spark, sf()).select($"c_custkey",
          ntile(4).over(w).cast("long").as("q"),
          round(percent_rank().over(w), 6).as("pr"))
        .orderBy($"c_custkey").limit(200).collect().map(_.toSeq).toSeq
    }
    val got = Windows.winNtilePctrank(spark, sf()).collect().map(_.toSeq).toSeq
    assert(got == want)
  }

  test("runningTotal equals the single-partition window cumsum") {
    val ev = Tables.events(spark, sf()).select($"event_id", $"value")
    val got = GlobalRank.runningTotal(
      ev.select($"event_id", lit(1L).as("one")), "event_id", "one", "cum")
    // constant weights: cum(event_id) must equal the 1-based position
    val ordered = got.orderBy($"event_id").collect()
    assert(ordered.length == 1000)
    val ids = ordered.map(r => r.getAs[Long]("event_id"))
    ordered.zipWithIndex.foreach { case (r, i) =>
      assert(r.getAs[Long]("cum") == i + 1L,
        s"event ${ids(i)} cum=${r.getAs[Long]("cum")} expected ${i + 1}") }
    // real weights: spot-check against a driver-side running sum
    val docs = Tables.documents(spark, sf())
      .select($"doc_id", length($"text").cast("long").as("w"))
    val rt = GlobalRank.runningTotal(docs, "doc_id", "w", "cum")
      .orderBy($"doc_id").collect()
    var acc = 0L
    rt.foreach { r =>
      acc += r.getAs[Long]("w")
      assert(r.getAs[Long]("cum") == acc, s"doc ${r.getAs[Long]("doc_id")}")
    }
  }

  test("runningTotal plans without a single-partition window and nulls fail loudly") {
    val docs = Tables.documents(spark, sf())
      .select($"doc_id", length($"text").cast("long").as("w"))
    val rt = GlobalRank.runningTotal(docs, "doc_id", "w", "cum")
    assert(globalWindows(rt).isEmpty,
      s"runningTotal planned a global window:\n${rt.queryExecution.optimizedPlan}")
    val withNull = docs.withColumn("doc_id",
      when($"doc_id" === 3L, lit(null)).otherwise($"doc_id"))
    val e = intercept[Exception] {
      GlobalRank.runningTotal(withNull, "doc_id", "w", "cum").collect()
    }
    assert(e.getMessage != null && e.getMessage.contains("runningTotal"))
    // the degenerate single-bucket branch must be just as loud
    val e1 = intercept[Exception] {
      GlobalRank.runningTotal(withNull, "doc_id", "w", "cum", buckets = 1).collect()
    }
    assert(e1.getMessage != null && e1.getMessage.contains("runningTotal"))
  }

  test("judged plans contain no unbounded partition-less Window (scale-killer regression)") {
    for (q <- Seq(Windows.winRankDense _, Windows.winNtilePctrank _,
        Windows.winDenseRankGlobal _, Windows.winRankStringGlobal _,
        graft.operators.TrainingData.llmPackSequences _)) {
      val df = q(spark, sf())
      val bad = globalWindows(df)
      assert(bad.isEmpty,
        s"single-partition global Window over unbounded input found:\n${bad.mkString("\n")}\n" +
          s"in plan:\n${df.queryExecution.optimizedPlan}")
    }
    // win_cume_dist: the count-table window is bounded by a DATA-domain
    // contract (the 2-dp value lattice), not by construction — waived
    // here explicitly because cumeDistByValue carries a runtime
    // raise_error cardinality guard (next test proves it fires). The
    // waiver must be LOAD-BEARING: without it the plan trips the audit,
    // so no future refactor can silently widen the `_b*` convention.
    val cd = Windows.winCumeDist(spark, sf())
    assert(globalWindows(cd, latticeWaiver = true).isEmpty,
      s"in plan:\n${cd.queryExecution.optimizedPlan}")
    assert(globalWindows(cd).nonEmpty,
      "the lattice waiver stopped being load-bearing — cumeDistByValue's " +
        "count-table window no longer groups on _lat*; re-point the audit")
    // the detector itself must not be vacuous: the old form MUST trip it
    val old = Tables.customer(spark, sf()).select($"c_custkey",
      rank().over(Window.orderBy($"c_acctbal")).as("r"))
    assert(globalWindows(old).nonEmpty)
    // and a LIMIT-bounded global window must NOT trip it
    val boundedW = Tables.customer(spark, sf()).orderBy($"c_acctbal").limit(10)
      .select($"c_custkey", rank().over(Window.orderBy($"c_acctbal")).as("r"))
    assert(globalWindows(boundedW).isEmpty)
  }

  test("cumeDistByValue: cardinality guard fires on an over-lattice domain") {
    val ev = (1 to 50).map(i => (i.toLong, i.toDouble)).toDF("event_id", "value")
    // 50 distinct values under a cap of 8 must raise at EXECUTION time
    val e = intercept[Exception] {
      Windows.cumeDistByValue(ev, maxDomain = 8).collect()
    }
    val msg = Option(e.getMessage).getOrElse("") +
      Option(e.getCause).flatMap(c => Option(c.getMessage)).getOrElse("")
    assert(msg.contains("cumeDistByValue"), s"wrong failure: $e")
    // within the cap: matches the plain cume_dist numerator/denominator
    val got = Windows.cumeDistByValue(ev, maxDomain = 64)
      .collect().map(r => (r.getDouble(0), r.getLong(1), r.getLong(2))).toSet
    val want = (1 to 50).map(i => (i.toDouble, i.toLong, 50L)).toSet
    assert(got == want)
  }
}
