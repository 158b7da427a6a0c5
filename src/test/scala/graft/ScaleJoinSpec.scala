package graft

import org.apache.spark.sql.functions._

import graft.operators.SkewJoin

/** Scale-mechanics evidence: salted joins match plain joins, and bucketed
  * tables join without an exchange on the probe side. */
class ScaleJoinSpec extends SparkSpecBase {
  import spark.implicits._

  test("salted join returns exactly the plain join's rows under heavy skew") {
    // 90% of left rows share one hot key
    val left = (1 to 1000).map(i => (if (i <= 900) 1L else i.toLong, i.toLong))
      .toDF("k", "id")
    val right = (1 to 1000).map(i => (i.toLong, s"v$i")).toDF("rk", "payload")
    val plain = left.join(right, $"k" === $"rk").select($"id", $"payload")
    val salted = SkewJoin.saltedInnerJoin(left, right, "k", "rk", "id", saltBuckets = 8)
      .select($"id", $"payload")
    assert(salted.count() == plain.count())
    assert(salted.except(plain).count() == 0 && plain.except(salted).count() == 0)
  }

  test("salting is deterministic across re-execution") {
    val left = (1 to 100).map(i => (1L, i.toLong)).toDF("k", "id")
    val right = Seq((1L, "x")).toDF("rk", "payload")
    val j = SkewJoin.saltedInnerJoin(left, right, "k", "rk", "id", saltBuckets = 4)
    assert(j.count() == j.count()) // re-executes the full plan
    assert(j.count() == 100)
  }

  test("judged join_skew_salted equals the plain-join formulation") {
    val plain = Tables.lineitem(spark, sf())
      .join(Tables.orders(spark, sf()), $"l_orderkey" === $"o_orderkey")
      .groupBy($"o_orderpriority")
      .agg(count(lit(1)).as("n"), round(sum($"l_extendedprice"), 2).as("rev"))
      .orderBy($"o_orderpriority")
      .collect().map(_.toSeq).toSeq
    val salted = graft.operators.Relational.joinSkewSalted(spark, sf())
      .collect().map(_.toSeq).toSeq
    assert(salted == plain)
  }

  test("salting balances task inputs on a pathological hot key") {
    // The 100 TB failure mode, demonstrated rather than asserted: one key
    // carries 50% of the fact side. A plain shuffled-hash join lands the
    // whole hot key on ONE task; the salted join spreads it across
    // saltBuckets tasks. Measured on the join's real output partitions
    // (spark_partition_id() before any further shuffle), with AQE's
    // partition coalescing off so small partitions are not merged back
    // together and the per-task distribution stays observable.
    val s = spark.newSession()
    s.conf.set("spark.sql.adaptive.enabled", "false")
    s.conf.set("spark.sql.shuffle.partitions", "32")
    s.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    import s.implicits._
    val n = 20000
    val hot = n / 2 // key 1 owns half of all rows
    val left = (1 to n)
      .map(i => (if (i <= hot) 1L else i.toLong, i.toLong))
      .toDF("k", "id")
    val right = (1 to n).map(i => (i.toLong, s"v$i")).toDF("rk", "payload")

    def partitionCounts(df: org.apache.spark.sql.DataFrame): Array[Long] =
      df.withColumn("_p", spark_partition_id())
        .groupBy($"_p").count().collect().map(_.getLong(1))

    val plain = left.join(right.hint("shuffle_hash"), $"k" === $"rk")
    val saltBuckets = 8
    val salted = SkewJoin.saltedInnerJoin(left, right, "k", "rk", "id", saltBuckets)
    assert(plain.count() == n.toLong && salted.count() == n.toLong)

    val maxPlain = partitionCounts(plain).max
    val saltedCounts = partitionCounts(salted)
    val maxSalted = saltedCounts.max
    // the plain join's worst task carries at least the whole hot key
    assert(maxPlain >= hot.toLong,
      s"fixture must actually straggle the plain join (maxPlain=$maxPlain)")
    // the salted join's worst task drops by ~the bucket factor. The
    // guaranteed bound is saltBuckets/2, not saltBuckets: the partitioner
    // hashes (k, _salt), so two of the hot key's salt cells can land in
    // the same shuffle partition (they do in this deterministic fixture:
    // worst task = two ~hot/8 cells + uniform background). Observed
    // maxPlain=10322 / maxSalted=2825 ≈ 3.7× at saltBuckets=8.
    assert(maxSalted.toDouble <= maxPlain.toDouble * 3.0 / saltBuckets,
      s"salting must split the hot key: maxPlain=$maxPlain maxSalted=$maxSalted " +
        s"counts=${saltedCounts.sorted.reverse.take(8).mkString(",")}")
    info(s"plain worst task $maxPlain rows; salted worst task $maxSalted rows " +
      s"(${saltedCounts.length} partitions: " +
      saltedCounts.sorted.reverse.take(10).mkString(",") + ")")
    // and the hot key's rows really spread over several tasks, not one
    assert(saltedCounts.count(_ > hot / (saltBuckets * 2)) >= saltBuckets / 2,
      s"expected >=${saltBuckets / 2} tasks carrying hot-key slices: " +
        saltedCounts.sorted.reverse.mkString(","))
  }

  test("AQE skew-join splits the hot partition without salting") {
    // the runtime alternative to SkewJoin.saltedInnerJoin: AQE detects the
    // oversized shuffle partition after the map stage and splits it, so
    // the hot key's probe rows land on several tasks. Demonstrated on the
    // same hot-key fixture as the salting test: after execution the join
    // output must show the hot key spread over >1 task and the adaptive
    // plan must carry the skew markers. (Salting remains the choice when
    // the engine must GUARANTEE balance — e.g. a build side too big to
    // replicate per split is not AQE-splittable — see SCALE_DEPLOYMENT.)
    val s = spark.newSession()
    s.conf.set("spark.sql.adaptive.enabled", "true")
    s.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
    s.conf.set("spark.sql.adaptive.skewJoin.enabled", "true")
    s.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "2")
    s.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "16KB")
    s.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "8KB")
    s.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    s.conf.set("spark.sql.shuffle.partitions", "8")
    import s.implicits._
    val n = 20000
    val hot = n / 2
    val left = (1 to n).map(i => (if (i <= hot) 1L else i.toLong, i.toLong))
      .toDF("k", "id")
    val right = (1 to n).map(i => (i.toLong, s"v$i")).toDF("rk", "payload")
    val joined = left.join(right, $"k" === $"rk")
      .withColumn("_p", spark_partition_id())
    // collect THIS dataframe so its own adaptive plan finalizes (a
    // count()/filter() would execute a different QueryExecution)
    val rows = joined.collect()
    assert(rows.length == n)
    val hotTasks = rows.filter(_.getLong(0) == 1L).map(_.getInt(4)).distinct.length
    val plan = joined.queryExecution.executedPlan.toString
    assert(plan.contains("skew=true") || plan.toLowerCase.contains("skewed"),
      s"AQE did not mark the join skewed:\n$plan")
    assert(hotTasks > 1,
      s"hot key still on one task ($hotTasks) despite AQE skew split:\n$plan")
    // the decision rule (SCALE_DEPLOYMENT.md "skew posture") is only a
    // CHOICE if both paths are interchangeable on results: the salted
    // join over the identical fixture must return exactly the same row
    // set the AQE-split plain join just produced, and its plan must
    // show the guarantee is structural (salt in the join keys, no
    // runtime-statistics dependence)
    val saltedDf = graft.operators.SkewJoin
      .saltedInnerJoin(left, right, "k", "rk", "id", saltBuckets = 8)
      .select($"k", $"id", $"rk", $"payload")
    val saltedPlan = saltedDf.queryExecution.executedPlan.toString
    assert(saltedPlan.contains("_salt"),
      s"salted path must key the join on the salt:\n$saltedPlan")
    val aqeRows = rows.map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
      r.getString(3))).toSet
    val saltedRows = saltedDf.collect().map(r => (r.getLong(0), r.getLong(1),
      r.getLong(2), r.getString(3))).toSet
    assert(saltedRows == aqeRows,
      s"paths diverge: aqe-only=${aqeRows -- saltedRows}, salted-only=${saltedRows -- aqeRows}")
  }

  test("bucketed+sorted table runs a per-key window with no exchange and no sort") {
    // the SCALE_DEPLOYMENT claim for 100 TB events: bucket by user_id,
    // sort by (user_id, ts) → win_*/sessionize plans lose BOTH the hash
    // exchange and the sort
    val s = spark.newSession()
    import s.implicits._
    // Spark ≥3 only propagates a bucketed scan's sort order under this
    // flag (it requires one file per bucket, which the aligned
    // repartition below guarantees); the exchange elimination needs no flag
    s.conf.set("spark.sql.legacy.bucketedTableScan.outputOrdering", "true")
    try {
      val ev = (1 to 5000).map(i => (i.toLong % 50, i.toLong, i.toDouble)).toDF("user_id", "ts", "v")
      // align writer tasks with buckets → one file per bucket, so the scan
      // reports its sort order and the window needs neither exchange nor sort
      ev.repartition(4, $"user_id").write.mode("overwrite")
        .bucketBy(4, "user_id").sortBy("user_id", "ts").saveAsTable("events_b")
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy($"user_id").orderBy($"ts")
      val q = s.table("events_b").select($"user_id", $"ts", sum($"v").over(w).as("c"))
      val plan = q.queryExecution.executedPlan.toString
      assert(!plan.toLowerCase.contains("exchange hashpartitioning"),
        s"window over bucketed input must not shuffle:\n$plan")
      assert(!plan.contains("Sort "),
        s"window over bucket-sorted input must not re-sort:\n$plan")
      assert(q.count() == 5000)
    } finally s.sql("DROP TABLE IF EXISTS events_b")
  }

  test("bucketed tables sort-merge join with no shuffle exchange") {
    val s = spark.newSession() // isolated conf; default warehouse (gitignored)
    s.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1") // force SMJ path
    import s.implicits._
    try {
      val facts = (1 to 10000).map(i => (i.toLong % 500, i.toDouble)).toDF("k", "v")
      val dims = (0L until 500L).map(k => (k, s"d$k")).toDF("k2", "name")
      facts.write.mode("overwrite").bucketBy(8, "k").sortBy("k").saveAsTable("facts_b")
      dims.write.mode("overwrite").bucketBy(8, "k2").sortBy("k2").saveAsTable("dims_b")
      val joined = s.table("facts_b").join(s.table("dims_b"), $"k" === $"k2")
      val plan = joined.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange"), s"expected bucketed join without shuffle:\n$plan")
      assert(joined.count() == 10000)
    } finally {
      s.sql("DROP TABLE IF EXISTS facts_b")
      s.sql("DROP TABLE IF EXISTS dims_b")
    }
  }

}
