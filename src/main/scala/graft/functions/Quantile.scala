package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Cast, Expression}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.types.{BinaryType, DataType, DoubleType}
import org.apache.spark.sql.{Column, SparkSession}

/** Hand-built mergeable quantile sketch as a native
  * `TypedImperativeAggregate` — the order-statistics member of the §2.12
  * sketch family next to [[Hll]] (cardinality) and [[CountMin]]
  * (frequency).
  *
  * Algorithm: logarithmic bucketing with a relative-error guarantee, per
  * the public DDSketch design (Masson, Rim & Lee, "DDSketch: a fast and
  * fully-mergeable quantile sketch with relative-error guarantees",
  * PVLDB 12(12), 2019). A value x lands in bucket
  * ⌈log_γ |x|⌉ with γ = (1+α)/(1−α); the bucket's representative value
  * 2γ^i/(γ+1) is within relative error α of every value in the bucket.
  * With α = 1% the full double range this engine cares about
  * (|x| ∈ [~1e-9, ~1e9], plus a zero bucket and a mirrored negative
  * range) is 4,163 fixed counters = ~33 KB per sketch.
  *
  * The 100 TB shape it serves: per-partition/per-day latency or value
  * distributions persisted as binary columns, merged losslessly later
  * (bucket counters ADD, so merging per-partition sketches equals
  * sketching the union — exactly the property `percentile_approx`'s
  * in-query-only sketch cannot offer), then probed for any quantile
  * without rescanning data. Unlike sampling-based sketches (KLL/GK) the
  * bucket index is a PURE FUNCTION of the value — no randomness, no
  * compaction order — so sketches are deterministic and bit-identical
  * across runs, partitionings, and merge orders, like the rest of the
  * family.
  *
  * Contracts and edges:
  *  - values with |x| below the smallest bucket (< ~9e-10) count as
  *    zero (absolute error < 1e-9 there, where relative error is
  *    meaningless);
  *  - values above the largest bucket (> ~1.1e9) clamp to it —
  *    quantiles saturate at ~1.1e9 instead of failing (documented
  *    saturation; widen MIN_IDX/MAX_IDX for other domains);
  *  - nulls and NaNs are skipped on update, like every aggregate;
  *  - quantile uses nearest-rank semantics (rank ⌈q·n⌉), so the
  *    estimate is within α of an ACTUAL data value at that rank.
  */
object QuantileSketch {
  /** Relative-error target; γ and the index range derive from it. */
  val Alpha = 0.01
  val Gamma: Double = (1 + Alpha) / (1 - Alpha)
  val LogGamma: Double = math.log(Gamma)
  /** γ^±1040 ≈ 1.1e±9 — the engine's value domain with headroom. */
  val MinIdx: Int = -1040
  val MaxIdx: Int = 1040
  val BucketsPerSign: Int = MaxIdx - MinIdx + 1
  /** cell 0 = zeros; then positive buckets, then negative buckets. */
  val Cells: Int = 1 + 2 * BucketsPerSign
  val Bytes: Int = Cells * 8

  /** Bucket cell for a finite non-NaN value (pure function of x). */
  def cellOf(x: Double): Int = {
    val a = math.abs(x)
    val idx = math.ceil(math.log(a) / LogGamma)
    if (a == 0d || idx < MinIdx) 0
    else {
      val i = math.min(idx, MaxIdx).toInt - MinIdx
      if (x > 0) 1 + i else 1 + BucketsPerSign + i
    }
  }

  /** Representative value of bucket index i: within α of every value in
    * (γ^(i−1), γ^i]. */
  def representative(idx: Int): Double =
    2.0 * math.pow(Gamma, idx) / (1 + Gamma)

  def add(counts: Array[Long], x: Double): Unit =
    if (!x.isNaN) counts(cellOf(x)) += 1

  def mergeInPlace(a: Array[Long], b: Array[Long]): Array[Long] = {
    var i = 0
    while (i < Cells) { a(i) += b(i); i += 1 }
    a
  }

  /** Nearest-rank quantile estimate: walk cells in ascending VALUE order
    * (most-negative buckets first, then zeros, then positives). */
  def quantile(counts: Array[Long], q: Double): Any = {
    require(q >= 0d && q <= 1d, s"quantile must be in [0,1], got $q")
    var n = 0L
    var i = 0
    while (i < Cells) { n += counts(i); i += 1 }
    if (n == 0L) return null
    val rank = math.max(1L, math.ceil(q * n).toLong)
    var cum = 0L
    // negatives: largest magnitude (= smallest value) first
    var j = BucketsPerSign - 1
    while (j >= 0) {
      cum += counts(1 + BucketsPerSign + j)
      if (cum >= rank) return -representative(MinIdx + j)
      j -= 1
    }
    cum += counts(0)
    if (cum >= rank) return 0d
    j = 0
    while (j < BucketsPerSign) {
      cum += counts(1 + j)
      if (cum >= rank) return representative(MinIdx + j)
      j += 1
    }
    // unreachable: cum == n >= rank by the walk's end
    representative(MaxIdx)
  }

  def toBytes(counts: Array[Long]): Array[Byte] = {
    val bb = java.nio.ByteBuffer.allocate(Bytes)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    bb.asLongBuffer().put(counts)
    bb.array()
  }

  def fromBytes(bytes: Array[Byte]): Array[Long] = {
    require(bytes.length == Bytes,
      s"quantile sketch must be $Bytes bytes, got ${bytes.length}")
    val out = new Array[Long](Cells)
    java.nio.ByteBuffer.wrap(bytes)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN).asLongBuffer().get(out)
    out
  }

  /** Quantile from a serialized sketch — the one call target for both
    * the interpreted and codegen'd arms of [[QuantileEstimate]]. */
  def estimateBytes(bytes: Array[Byte], q: Double): Any =
    quantile(fromBytes(bytes), q)

  /** graft_quantile_sketch(x) → binary buckets (persist, merge later). */
  case class QSketchAgg(child: Expression,
      mutableAggBufferOffset: Int = 0, inputAggBufferOffset: Int = 0)
      extends TypedImperativeAggregate[Array[Long]] {
    override def children: Seq[Expression] = Seq(child)
    override def nullable: Boolean = false
    override def dataType: DataType = BinaryType
    override def createAggregationBuffer(): Array[Long] = new Array[Long](Cells)
    override def update(buf: Array[Long], input: InternalRow): Array[Long] = {
      val v = child.eval(input)
      if (v != null) add(buf, v.asInstanceOf[Double])
      buf
    }
    override def merge(buf: Array[Long], other: Array[Long]): Array[Long] =
      mergeInPlace(buf, other)
    override def eval(buf: Array[Long]): Any = toBytes(buf)
    override def serialize(buf: Array[Long]): Array[Byte] = toBytes(buf)
    override def deserialize(bytes: Array[Byte]): Array[Long] = fromBytes(bytes)
    override def prettyName: String = "graft_quantile_sketch"
    override def withNewMutableAggBufferOffset(o: Int): QSketchAgg = copy(mutableAggBufferOffset = o)
    override def withNewInputAggBufferOffset(o: Int): QSketchAgg = copy(inputAggBufferOffset = o)
    override protected def withNewChildrenInternal(c: IndexedSeq[Expression]): Expression = copy(child = c.head)
  }

  /** graft_quantile_merge(sketch) → binary union (bucket-counter add is
    * lossless: re-aggregation over persisted sketch columns equals one
    * sketch over the union of the underlying data). */
  case class QMergeAgg(child: Expression,
      mutableAggBufferOffset: Int = 0, inputAggBufferOffset: Int = 0)
      extends TypedImperativeAggregate[Array[Long]] {
    override def children: Seq[Expression] = Seq(child)
    override def nullable: Boolean = false
    override def dataType: DataType = BinaryType
    override def createAggregationBuffer(): Array[Long] = new Array[Long](Cells)
    override def update(buf: Array[Long], input: InternalRow): Array[Long] = {
      val v = child.eval(input)
      if (v != null) mergeInPlace(buf, fromBytes(v.asInstanceOf[Array[Byte]]))
      buf
    }
    override def merge(buf: Array[Long], other: Array[Long]): Array[Long] =
      mergeInPlace(buf, other)
    override def eval(buf: Array[Long]): Any = toBytes(buf)
    override def serialize(buf: Array[Long]): Array[Byte] = toBytes(buf)
    override def deserialize(bytes: Array[Byte]): Array[Long] = fromBytes(bytes)
    override def prettyName: String = "graft_quantile_merge"
    override def withNewMutableAggBufferOffset(o: Int): QMergeAgg = copy(mutableAggBufferOffset = o)
    override def withNewInputAggBufferOffset(o: Int): QMergeAgg = copy(inputAggBufferOffset = o)
    override protected def withNewChildrenInternal(c: IndexedSeq[Expression]): Expression = copy(child = c.head)
  }

  /** Native scalar probe `graft_quantile_estimate(sketch, q) → double`:
    * codegen'd like [[CountMin.CmsEstimate]] — null sketch → null, empty
    * sketch → null, wrong sketch width or q outside [0,1] fails loudly. */
  case class QuantileEstimate(left: Expression, right: Expression)
      extends BinaryExpression {
    override def checkInputDataTypes()
        : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
      (left.dataType, right.dataType) match {
        case (BinaryType, DoubleType) =>
          org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
        case (l, r) =>
          org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
            s"$prettyName requires (binary sketch, double quantile), got " +
              s"${l.catalogString} and ${r.catalogString}")
      }
    override def dataType: DataType = DoubleType
    override def nullable: Boolean = true
    override def nullIntolerant: Boolean = true
    override def prettyName: String = "graft_quantile_estimate"
    override def nullSafeEval(sketch: Any, q: Any): Any =
      estimateBytes(sketch.asInstanceOf[Array[Byte]], q.asInstanceOf[Double])
    override def doGenCode(
        ctx: org.apache.spark.sql.catalyst.expressions.codegen.CodegenContext,
        ev: org.apache.spark.sql.catalyst.expressions.codegen.ExprCode)
        : org.apache.spark.sql.catalyst.expressions.codegen.ExprCode = {
      // estimateBytes returns null for an EMPTY sketch, so the generated
      // code must re-check nullability after the call (defineCodeGen
      // assumes a non-null result; nullSafeCodeGen lets us set isNull).
      // The local needs a fresh name: two probes of the same sketch in
      // one projection share a codegen scope, and a fixed name collides.
      nullSafeCodeGen(ctx, ev, (b, q) => {
        val r = ctx.freshName("qEst")
        s"""
           |Object $r = graft.functions.QuantileSketch.estimateBytes($b, $q);
           |if ($r == null) { ${ev.isNull} = true; }
           |else { ${ev.value} = ((Double) $r).doubleValue(); }
         """.stripMargin
      })
    }
    override protected def withNewChildrenInternal(newLeft: Expression,
        newRight: Expression): Expression = copy(left = newLeft, right = newRight)
  }

  import org.apache.spark.sql.graftbridge.GraftBridge

  private def toDouble(e: Expression): Expression =
    if (e.dataType == DoubleType) e else Cast(e, DoubleType)

  /** Column API. */
  def quantileSketch(c: Column): Column =
    GraftBridge.column(
      QSketchAgg(toDouble(GraftBridge.expression(c))).toAggregateExpression())
  def quantileEstimate(sketch: Column, q: Column): Column =
    GraftBridge.column(QuantileEstimate(GraftBridge.expression(sketch),
      toDouble(GraftBridge.expression(q))))

  private def arity(fn: String, n: Int, args: Seq[Expression]): Unit =
    if (args.length != n) throw new org.apache.spark.sql.AnalysisException(
      errorClass = "WRONG_NUM_ARGS.WITHOUT_SUGGESTION",
      messageParameters = Map(
        "functionName" -> fn, "expectedNum" -> n.toString,
        "actualNum" -> args.length.toString, "docroot" -> "-"))

  /** SQL registration: graft_quantile_sketch, graft_quantile_merge,
    * graft_quantile_estimate. */
  def register(spark: SparkSession): Unit = {
    val reg = spark.sessionState.functionRegistry
    reg.createOrReplaceTempFunction("graft_quantile_sketch",
      (args: Seq[Expression]) => { arity("graft_quantile_sketch", 1, args)
        QSketchAgg(toDouble(args.head)) }, "built-in")
    reg.createOrReplaceTempFunction("graft_quantile_merge",
      (args: Seq[Expression]) => { arity("graft_quantile_merge", 1, args)
        QMergeAgg(args.head) }, "built-in")
    reg.createOrReplaceTempFunction("graft_quantile_estimate",
      (args: Seq[Expression]) => { arity("graft_quantile_estimate", 2, args)
        QuantileEstimate(args.head, toDouble(args(1))) }, "built-in")
  }
}
