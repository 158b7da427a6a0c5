package graft

import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.functions._

import graft.sources.Layout

/** The physical-layout levers actually shape what they claim to shape:
  * bucketed tables join and aggregate with zero Exchange, and
  * range-sorted files carry disjoint per-file ranges that row-group
  * skipping acts on.
  */
class LayoutSpec extends SparkSpecBase {

  private def executed(df: org.apache.spark.sql.DataFrame): String =
    df.queryExecution.executedPlan.toString

  test("bucketed tables equi-join and aggregate with zero exchange") {
    import spark.implicits._
    val left = (1 to 2000).map(i => (i.toLong % 97, i.toLong)).toDF("k", "v")
    val right = (1 to 900).map(i => (i.toLong % 97, i.toLong * 2)).toDF("k", "w")
    Layout.saveBucketed(left, "lay_left", Seq("k"), 8)
    Layout.saveBucketed(right, "lay_right", Seq("k"), 8)
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      // the join reads both bucketed scans in place: sort-merge with the
      // shuffle prepaid at write time
      val j = spark.table("lay_left").join(spark.table("lay_right"), "k")
      val p = executed(j)
      assert(p.contains("SortMergeJoin"), p)
      assert(!p.toLowerCase.contains("exchange hashpartitioning"),
        s"bucketed equi-join must not shuffle:\n$p")
      // same rows as the plain (shuffling) join
      assert(j.count() == left.join(right, "k").count())
      // aggregation on the bucket key rides the same layout
      val a = spark.table("lay_left").groupBy("k").agg(sum("v").as("s"))
      val pa = executed(a)
      assert(!pa.toLowerCase.contains("exchange hashpartitioning"),
        s"bucketed group-by must not shuffle:\n$pa")
      assert(a.count() == 97)
      // the writer aligned tasks with buckets: one file per bucket (the
      // precondition for bucket-sort propagation, and the difference
      // between 8 files and partitions x buckets files)
      val loc = spark.sessionState.catalog.getTableMetadata(
        spark.sessionState.sqlParser.parseTableIdentifier("lay_left")).location
      val bucketFiles = spark.read.parquet(loc.toString).inputFiles.length
      assert(bucketFiles == 8, s"expected one file per bucket, got $bucketFiles")
      // re-saving a table from its own files fails fast instead of
      // deleting the input mid-read
      val e = intercept[IllegalArgumentException] {
        Layout.saveBucketed(
          spark.read.parquet(loc.toString), "lay_left", Seq("k"), 8)
      }
      assert(e.getMessage.contains("bucketed-save input"), e.getMessage)
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
      spark.sql("DROP TABLE IF EXISTS lay_left")
      spark.sql("DROP TABLE IF EXISTS lay_right")
      ()
    }
  }

  test("saveBucketed reclaims an orphaned managed location from a dead JVM") {
    import spark.implicits._
    // the in-memory catalog dies with its JVM but the warehouse files do
    // not: simulate the survivor by planting files at the table's default
    // location with NO catalog entry — the exact state a second Verify run
    // finds, where a plain saveAsTable dies with LOCATION_ALREADY_EXISTS
    val ident = spark.sessionState.sqlParser.parseTableIdentifier("lay_orphan")
    val loc = new java.io.File(
      new java.net.URI(spark.sessionState.catalog.defaultTablePath(ident).toString))
    assert(!spark.catalog.tableExists("lay_orphan"))
    loc.mkdirs()
    val stale = new java.io.File(loc, "part-stale.parquet")
    java.nio.file.Files.write(stale.toPath, Array[Byte](1, 2, 3))
    try {
      val df = (1 to 100).map(i => (i.toLong % 7, i.toLong)).toDF("k", "v")
      Layout.saveBucketed(df, "lay_orphan", Seq("k"), 4)
      assert(spark.table("lay_orphan").count() == 100)
      assert(!stale.exists(), "orphaned files must be reclaimed, not merged into")
    } finally {
      spark.sql("DROP TABLE IF EXISTS lay_orphan")
      ()
    }
  }

  test("range-sorted files carry disjoint ranges and prune row groups") {
    import spark.implicits._
    val n = 10000
    val df = (1 to n).map(i => (i.toLong, s"payload_$i")).toDF("k", "payload")
    val dir = java.nio.file.Files.createTempDirectory("lay_range").toString + "/t"
    Layout.saveRangeSorted(df, dir, 8, Seq("k"))
    val read = spark.read.parquet(dir)
    // "re-layout in place" is refused, not silently destructive
    intercept[IllegalArgumentException] {
      Layout.saveRangeSorted(read, dir, 8, Seq("k"))
    }
    // every file covers a disjoint k-range — the property row-group
    // min/max skipping needs to zero out non-matching files
    val ranges = read.groupBy(input_file_name().as("f"))
      .agg(min("k").as("lo"), max("k").as("hi"), count(lit(1)).as("rows"))
      .collect().map(r => (r.getLong(1), r.getLong(2), r.getLong(3)))
      .sortBy(_._1)
    assert(ranges.length == 8, ranges.mkString(","))
    ranges.sliding(2).foreach {
      case Array((_, hi, _), (lo, _, _)) => assert(hi < lo, ranges.mkString(","))
      case _ =>
    }
    // a point filter is pushed to the scan and emits at most one file's
    // worth of rows (all other files' row groups skip on footer stats)
    val q = read.filter($"k" === 4242L)
    // collect() drives q's OWN QueryExecution — the one whose scan
    // metrics are inspected below (count() would execute a different one)
    assert(q.collect().map(_.getLong(0)).toSeq == Seq(4242L))
    val scan = (q.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case other => other
    }).collectLeaves().collectFirst { case s: FileSourceScanExec => s }.get
    assert(scan.metadata("PushedFilters").contains("EqualTo(k,4242)"),
      scan.metadata.toString)
    // every file but the one whose range holds 4242 contributes zero
    // rows (range-partition splits are sampled, so the matching file's
    // size — not n/8 — is the exact ceiling)
    val matchRows = ranges.collectFirst {
      case (lo, hi, rows) if lo <= 4242L && 4242L <= hi => rows
    }.get
    val scanned = scan.metrics("numOutputRows").value
    assert(scanned <= matchRows,
      s"scan emitted $scanned rows (matching file holds $matchRows) — " +
        "row-group skipping did not engage")
  }

}
