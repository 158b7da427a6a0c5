package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.{Window, WindowSpec}
import org.apache.spark.sql.functions._

/** Sliding-window feature creation over keyed event streams — the
  * reference's "features creator" surface as a reusable API: one call
  * appends a block of rolling statistics (count/mean/std/min/max, RMS of
  * successive differences, deltas) per key, over a row-count frame.
  *
  * Everything is window functions partitioned by the series key: a single
  * shuffle on the key, then per-partition sorted evaluation — at 100 TB
  * the work scales with the number of keys, and all features in a block
  * share one WindowExec pass because they share the frame.
  */
object Features {

  /** Ordering tiebreaker so feature values are deterministic when
    * timestamps collide (FIXTURES.md: ties are the #1 mismatch source). */
  private def ordered(w: WindowSpec, ts: Column, tiebreak: Column): WindowSpec =
    w.orderBy(ts, tiebreak)

  /** Rolling features over the last `n` rows (inclusive) per key:
    * <prefix>_cnt/mean/std/min/max plus the successive difference
    * <prefix>_delta and rolling RMSSD (the HRV signature feature). */
  def rollingByRows(df: DataFrame, key: Column, ts: Column, tiebreak: Column,
      value: Column, n: Int, prefix: String = "f"): DataFrame = {
    val base = ordered(Window.partitionBy(key), ts, tiebreak)
    val frame = base.rowsBetween(-(n - 1), 0)
    val delta = value - lag(value, 1).over(base)
    df.withColumn(s"${prefix}_delta", delta)
      .withColumn(s"${prefix}_cnt", count(value).over(frame))
      .withColumn(s"${prefix}_mean", avg(value).over(frame))
      .withColumn(s"${prefix}_std", stddev_samp(value).over(frame))
      .withColumn(s"${prefix}_min", min(value).over(frame))
      .withColumn(s"${prefix}_max", max(value).over(frame))
      // rolling RMSSD over the deltas inside the same frame
      .withColumn(s"${prefix}_rmssd",
        sqrt(avg(col(s"${prefix}_delta") * col(s"${prefix}_delta")).over(frame)))
  }

}
