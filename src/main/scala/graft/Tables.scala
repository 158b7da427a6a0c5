package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Loader for the judged parquet star schema (TESTDATA.md, FIXTURES.md).
  *
  * Each table is a single parquet file per scale factor; `spark.read.parquet`
  * picks up the footer schema, and Spark's vectorized reader + Catalyst column
  * pruning / predicate pushdown make the scan cost proportional to the columns
  * and row groups a query actually touches. At 100 TB the same call reads a
  * partitioned directory instead of one file — nothing else changes for the
  * operators built on top.
  */
object Tables {
  /** Per-JVM memo of each parquet file's FOOTER SCHEMA (metadata only —
    * never rows). A bare `spark.read.parquet(path)` runs a footer-reading
    * Spark job at PLAN time, ~120 ms per call on this host; with the
    * schema supplied explicitly the same call plans in ~9 ms. Every query
    * re-reads its data from the files on every execution — only the
    * StructType is reused, the same class of session metadata Spark
    * itself caches (file listings). Keyed by (path, length, mtime) —
    * see [[statKey]] — so a file regenerated with a different schema
    * mid-JVM re-infers instead of reading stale columns. */
  private val schemaCache =
    new java.util.concurrent.ConcurrentHashMap[String, org.apache.spark.sql.types.StructType]()

  /** Cache key: path + file length + mtime (one driver-side stat, ~µs —
    * three orders of magnitude under the footer job it replaces), so a
    * file REGENERATED with a different schema mid-JVM re-infers instead
    * of being silently read with the stale columns (r17 advice: the
    * path-only key's staleness caveat traded silent wrong data for
    * 120 ms). Directories key on the dir's own status — appends that
    * add children bump its mtime and just cost one fresh inference. */
  private def statKey(spark: SparkSession, path: String): String = {
    val p = new org.apache.hadoop.fs.Path(path)
    val st = p.getFileSystem(spark.sessionState.newHadoopConf()).getFileStatus(p)
    s"$path@${st.getLen}@${st.getModificationTime}"
  }

  def apply(spark: SparkSession, sfDir: String, name: String): DataFrame = {
    val path = s"$sfDir/$name.parquet"
    parquetCached(spark, path)
  }

  /** The footer-schema memo applied to an ARBITRARY parquet path — for
    * the side trees the operators maintain themselves (IVF index
    * centroids/lists, bucketed-layout copies), whose per-query footer
    * job costs the same ~120 ms as a judged table's. Same contract and
    * caveat as the table memo above: metadata only, rows re-read every
    * execution, path assumed schema-stable within one JVM (the index
    * trees are written once per JVM behind a done-marker; appends add
    * rows/partitions, never columns). */
  def parquetCached(spark: SparkSession, path: String): DataFrame = {
    val sch = schemaCache.computeIfAbsent(statKey(spark, path),
      _ => spark.read.parquet(path).schema)
    spark.read.schema(sch).parquet(path)
  }

  def region(s: SparkSession, d: String): DataFrame   = apply(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame   = apply(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame = apply(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame = apply(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame     = apply(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame   = apply(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame = apply(s, d, "lineitem")
  /** `events.ts` has drifted across testdata generations — parquet
    * TIMESTAMP(NANOS) originally (which Spark's reader rejects outright,
    * PARQUET_TYPE_ILLEGAL, unless the session carries the legacy
    * nanos-as-long flag that [[GraftSession.builder]] sets), then
    * TIMESTAMP(MICROS) without tz (read as TIMESTAMP_NTZ) after the
    * 2026-08-13 regen. Branch on the schema the reader actually resolves so
    * one upstream writer change can't break every downstream query again:
    *   - LongType (nanosAsLong): truncate ns→µs, same as DuckDB's read.
    *   - TimestampNTZType: cast to session-tz timestamp; the pinned UTC
    *     session makes the values identical to DuckDB's naive read.
    *   - TimestampType: already what every operator expects.
    */
  def events(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.functions.{col, expr}
    import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}
    val df = apply(s, d, "events")
    df.schema("ts").dataType match {
      case LongType         => df.withColumn("ts", expr("timestamp_micros(ts div 1000)"))
      case TimestampNTZType => df.withColumn("ts", col("ts").cast(TimestampType))
      case TimestampType    => df
      case other => throw new IllegalStateException(
        s"events.ts: unsupported parquet-resolved type $other; expected " +
          "LongType (legacy nanos), TimestampNTZType, or TimestampType")
    }
  }
  def documents(s: SparkSession, d: String): DataFrame = apply(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = apply(s, d, "embeddings")
}
