package graft

import org.apache.spark.sql.SparkSession

import graft.functions.{Aggregates, Bloom, CountMin, Hll, Kmv, MisraGries, QuantileSketch}
import graft.plans.{AsofJoin, LatestPerKeyRule}

/** The one place a session is configured. Every main and the test base
  * build through [[builder]], which carries the judged configuration —
  * the one `Verify` and `Bench` are graded under — and add only
  * deployment settings (warehouse/local dirs, `spark.sql.extensions`):
  *
  * {{{
  *   val spark = GraftSession.builder().getOrCreate()   // SPARK_GRAFT_CPUS cores
  *   GraftSession.enrich(spark)                         // opt-in extensions
  * }}}
  *
  * The judged path is un-enriched: [[enrich]] (and `GraftExtensions`)
  * stay explicit opt-ins.
  */
object GraftSession {

  /** Core count of every main: `SPARK_GRAFT_CPUS`, default 4. */
  def cpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt).getOrElse(4)

  /** The judged configuration at `cores` local threads: as many shuffle
    * partitions as cores (the partition count fixes float summation
    * order, so it must never differ from the gate's), UTC session time,
    * µs parquet timestamps (the oracle materializes µs; INT96 would
    * hash-mismatch every timestamp column), parquet TIMESTAMP(NANOS)
    * read as raw longs (Spark's reader rejects that type otherwise;
    * `Tables.events` converts them) and no UI. */
  def builder(cores: Int = cpus): SparkSession.Builder =
    SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")

  /** Register the engine's session-level extensions on an existing session
    * (idempotent): custom aggregates + optimizer rules. */
  def enrich(spark: SparkSession): Unit = {
    Aggregates.register(spark)
    Hll.register(spark) // graft_hll / graft_hll_sketch / graft_hll_merge
    CountMin.register(spark) // graft_cms_sketch / graft_cms_merge / graft_cms_estimate
    QuantileSketch.register(spark) // graft_quantile_sketch / _merge / _estimate
    Bloom.register(spark) // graft_bloom_sketch / graft_bloom_merge / graft_bloom_contains
    Kmv.register(spark) // graft_kmv_sketch / _merge / _estimate / _jaccard
    MisraGries.register(spark) // graft_mg_sketch / _merge / _estimate / _error
    LatestPerKeyRule.install(spark)
    AsofJoin.install(spark)
  }
}
