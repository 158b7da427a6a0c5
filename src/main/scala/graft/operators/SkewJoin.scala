package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Salted equi-join for skewed keys.
  *
  * A hash join shuffles both sides on the key; one hot key then lands its
  * entire row set on a single task. Salting splits each hot left-side key
  * across `saltBuckets` tasks by appending a random bucket id, and
  * replicates the (small-per-key) right side once per bucket so every
  * salted partition can still find its match. AQE's skew-join splitting
  * handles moderate skew automatically; this is the explicit tool for the
  * pathological case (one key = 10% of 100 TB).
  *
  * The salt on the left is `pmod(hash(tiebreak), n)` — deterministic, no
  * RNG in the task, so retries and speculative tasks produce identical
  * results.
  */
object SkewJoin {

  def saltedInnerJoin(left: DataFrame, right: DataFrame, leftKey: String,
      rightKey: String, tiebreak: String, saltBuckets: Int): DataFrame = {
    require(saltBuckets > 0)
    val salted = left.withColumn("_salt",
      pmod(hash(col(tiebreak)), lit(saltBuckets)))
    // pin the shuffled-hash strategy: salting only exists for joins whose
    // right side CANNOT broadcast (a broadcast join has no per-key task
    // skew to fix, and auto-broadcasting the ×saltBuckets replicated side
    // would serialize the build on the driver)
    val replicated = right.withColumn("_salt",
      explode(sequence(lit(0), lit(saltBuckets - 1))))
      .hint("shuffle_hash")
    salted.join(replicated,
        salted(leftKey) === replicated(rightKey) && salted("_salt") === replicated("_salt"))
      .drop("_salt")
  }
}
