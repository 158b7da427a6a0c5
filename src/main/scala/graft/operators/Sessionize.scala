package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The single source of truth for inactivity-gap sessionization: a break
  * flag per row (gap from the previous row exceeds the threshold) turned
  * into a per-key running session id. The judged session queries
  * (TimeSeries.streamSession and tsSessionStats) both call this, so the
  * gap rule — strict `>`, microsecond precision, (ts, tiebreak) ordering
  * — cannot silently diverge between them.
  */
object Sessionize {

  /** Appends `session_id` (1-based per key, in (ts, tiebreak) order). */
  def withSessionIds(df: DataFrame, key: Column, ts: Column, tiebreak: Column,
      gapSeconds: Long): DataFrame = {
    val wOrd = Window.partitionBy(key).orderBy(ts, tiebreak)
    val gapMicros = gapSeconds * 1000000L
    df.withColumn("_gap_brk",
        when(lag(ts, 1).over(wOrd).isNull
          || unix_micros(ts) - unix_micros(lag(ts, 1).over(wOrd)) > gapMicros, 1)
          .otherwise(0))
      .withColumn("session_id",
        sum(col("_gap_brk")).over(wOrd.rowsBetween(Window.unboundedPreceding, 0)))
      .drop("_gap_brk")
  }
}
