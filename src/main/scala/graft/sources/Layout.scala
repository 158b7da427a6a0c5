package graft.sources

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col

/** Physical table layout for the 100 TB tier — the writer-side half of
  * scan and join efficiency. Two levers, each exercised by LayoutSpec
  * against the plans/files it claims to shape (plus [[saveZOrdered]]'s
  * two-dimensional variant of lever 2, see its scaladoc):
  *
  *  1. '''Bucketing''' ([[saveBucketed]]): co-partition + co-sort two
  *     fact tables on their join keys ONCE at write time, and every
  *     later equi-join or aggregation on those keys reads both sides
  *     with ZERO Exchange — the shuffle is prepaid. At 100 TB a
  *     repeated fact-fact join is dominated by its shuffle; bucketing
  *     amortizes it across every downstream job.
  *  2. '''Range-sorted files''' ([[saveRangeSorted]]): globally
  *     range-partition and sort so each output file covers a DISJOINT
  *     key range; the pushed-down filter then skips whole row groups on
  *     parquet footer min/max, so a non-matching file contributes zero
  *     data-page reads (the skipping is row-group-granular — plain
  *     parquet has no planner-level file pruning on data columns; that
  *     is what table formats add on top).
  */
object Layout {

  /** Save `df` as a managed parquet table bucketed AND sorted on `keys`.
    *
    * Both sides of a later join must use the same `numBuckets` (Spark
    * only aligns equal bucket counts). The sort makes per-bucket files
    * merge-joinable without a re-sort when each bucket holds one file.
    * Size `numBuckets` like shuffle partitions: total table bytes /
    * target partition size (~128-256 MB compressed). */
  def saveBucketed(df: DataFrame, table: String, keys: Seq[String],
      numBuckets: Int): Unit = {
    require(keys.nonEmpty, "bucketing needs at least one key column")
    require(numBuckets > 0, s"numBuckets must be positive, got $numBuckets")
    val spark = df.sparkSession
    // overwriting a table whose files feed this very read would delete
    // them first (Spark's own check only catches catalog-level reads,
    // not a path read of the same location)
    if (spark.catalog.tableExists(table)) {
      val loc = spark.sessionState.catalog.getTableMetadata(
        spark.sessionState.sqlParser.parseTableIdentifier(table)).location
      graft.PathGuard.requireDisjoint(spark, df.inputFiles.toSeq,
        loc.toString, "bucketed-save input",
        hint = "Save to a different table, then swap names.")
    } else {
      // Orphaned managed location: with the default in-memory catalog a
      // previous JVM's table FILES survive under the warehouse dir while
      // its catalog entry does not, and saveAsTable refuses to create a
      // table over a non-empty location (LOCATION_ALREADY_EXISTS). The
      // orphan is unreachable by any query (no catalog entry) and sits in
      // the managed warehouse this very save targets, so reclaiming it is
      // the overwrite the caller asked for — guarded against the input
      // living inside it, exactly like the catalog-visible branch above.
      val ident = spark.sessionState.sqlParser.parseTableIdentifier(table)
      val loc = new org.apache.hadoop.fs.Path(
        spark.sessionState.catalog.defaultTablePath(ident))
      val fs = loc.getFileSystem(spark.sessionState.newHadoopConf())
      if (fs.exists(loc)) {
        graft.PathGuard.requireDisjoint(spark, df.inputFiles.toSeq,
          loc.toString, "bucketed-save input",
          hint = "Save to a different table, then swap names.")
        fs.delete(loc, true)
        ()
      }
    }
    // align writer tasks with buckets (same murmur3-mod partitioning
    // bucketBy uses): each task holds exactly one bucket → one file per
    // bucket. Without this, every input partition writes a file into
    // every bucket it touches (partitions × buckets files), and Spark
    // only exposes the bucket sort order to downstream plans when each
    // bucket is a single file.
    df.repartition(numBuckets, keys.map(col): _*)
      .write
      .bucketBy(numBuckets, keys.head, keys.tail: _*)
      .sortBy(keys.head, keys.tail: _*)
      .mode("overwrite")
      .format("parquet")
      .saveAsTable(table)
  }

  /** Write `dir` as `numFiles` parquet files, each covering a disjoint
    * `sortCols` range (repartitionByRange samples split points, then an
    * in-partition sort orders rows for row-group stats). Reads that
    * filter on a `sortCols` prefix skip all row groups outside the
    * matching range on footer min/max alone — LayoutSpec asserts the
    * per-file ranges really are disjoint and that a point-filter scan
    * emits at most one file's worth of rows. */
  def saveRangeSorted(df: DataFrame, dir: String, numFiles: Int,
      sortCols: Seq[String]): Unit = {
    require(sortCols.nonEmpty, "range layout needs at least one sort column")
    require(numFiles > 0, s"numFiles must be positive, got $numFiles")
    // "re-layout in place" (input under dir) would delete the input
    // before the job reads it — same guard as every overwrite writer here
    graft.PathGuard.requireDisjoint(df.sparkSession, df.inputFiles.toSeq,
      dir, "range-layout input",
      hint = "Write the new layout to a sibling directory, then swap it in.")
    df.repartitionByRange(numFiles, sortCols.map(col): _*)
      .sortWithinPartitions(sortCols.map(col): _*)
      .write.mode("overwrite").parquet(dir)
  }

  /** Write `dir` as `numFiles` parquet files clustered on the Z-order
    * (Morton) curve of TWO key columns ([[graft.functions.ZOrder]]):
    * each file covers a contiguous z-range, i.e. a compact rectangle in
    * (a, b) space, so parquet footer min/max prunes row groups on
    * filters over EITHER or BOTH columns — the multi-dimensional
    * counterpart of [[saveRangeSorted]], whose single sort column leaves
    * the second dimension at full range in every file. `zKeyA`/`zKeyB`
    * must be long-castable (dates: pass `unix_date(c)`); the z-value is
    * a transient clustering key, dropped before the write. */
  def saveZOrdered(df: DataFrame, dir: String, numFiles: Int,
      zKeyA: org.apache.spark.sql.Column,
      zKeyB: org.apache.spark.sql.Column): Unit = {
    require(numFiles > 0, s"numFiles must be positive, got $numFiles")
    graft.PathGuard.requireDisjoint(df.sparkSession, df.inputFiles.toSeq,
      dir, "z-order layout input",
      hint = "Write the new layout to a sibling directory, then swap it in.")
    df.withColumn("_graft_z", graft.functions.ZValueExpr.z_value(zKeyA, zKeyB))
      .repartitionByRange(numFiles, col("_graft_z"))
      .sortWithinPartitions(col("_graft_z"))
      .drop("_graft_z")
      .write.mode("overwrite").parquet(dir)
  }
}
