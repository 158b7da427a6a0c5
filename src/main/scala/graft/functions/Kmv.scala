package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, If, IsNull, Literal, UnaryExpression, XxHash64}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.types.{BinaryType, DataType, DoubleType, LongType}
import org.apache.spark.sql.{Column, SparkSession}

/** K-Minimum-Values sketch as a native `TypedImperativeAggregate` — the
  * SET-OVERLAP member of the §2.12 sketch family. HLL answers "how many
  * distinct"; KMV additionally answers "how much do two key sets
  * OVERLAP" from the stored sketches alone, because it keeps actual
  * hash samples: the k smallest 64-bit hashes of the set (Bar-Yossef et
  * al., "Counting distinct elements in a data stream", RANDOM 2002; the
  * Jaccard use is the classic bottom-k MinHash estimate, Broder 1997).
  *
  * The 100 TB shape it serves: per-corpus/per-day key sketches persisted
  * as binary columns, then cross-corpus questions — "what fraction of
  * today's crawl did we already have", "how similar are these two
  * sources", "is this benchmark's id set disjoint from training" —
  * answered by comparing stored sketches, never joining the underlying
  * 100 TB key sets. Estimators:
  *  - distinct count: (k−1) / kthValue (unbiased for the kth-smallest
  *    of uniform hashes), exact when fewer than k distinct keys exist;
  *  - Jaccard(A, B): bottom-k MinHash — take the k smallest of
  *    union(sketchA, sketchB); the fraction of those present in BOTH
  *    sketches estimates |A∩B|/|A∪B| with standard error ~1/√k.
  *
  * Determinism: "the k smallest hashes of a set" is a PURE FUNCTION of
  * the set — no randomness, no insertion-order dependence — so sketches
  * are bit-identical across runs, partitionings, and merge orders
  * (merge = union, then keep the k smallest: exactly the sketch of the
  * union). k = 1024 → ~3% relative error, ≤ 8 KB per sketch.
  *
  * Buffer layout: sorted ascending array of distinct hashes (≤ k),
  * serialized as little-endian longs with NO padding — the length IS
  * the state (sets with < k distinct keys stay exact).
  */
object Kmv {
  val K = 1024
  val MaxBytes: Int = K * 8

  /** Sorted-distinct insert, capped at K (no-op for hashes above the
    * current kth minimum once full). */
  def add(buf: java.util.TreeSet[java.lang.Long], h: Long): Unit = {
    if (buf.size < K) { buf.add(h); () }
    else if (h < buf.last()) {
      if (buf.add(h)) { buf.remove(buf.last()); () }
    }
  }

  def mergeInPlace(a: java.util.TreeSet[java.lang.Long],
      b: java.util.TreeSet[java.lang.Long]): java.util.TreeSet[java.lang.Long] = {
    val it = b.iterator()
    while (it.hasNext) add(a, it.next())
    a
  }

  def toBytes(buf: java.util.TreeSet[java.lang.Long]): Array[Byte] = {
    val bb = java.nio.ByteBuffer.allocate(buf.size * 8)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    val it = buf.iterator()
    while (it.hasNext) bb.putLong(it.next())
    bb.array()
  }

  def fromBytes(bytes: Array[Byte]): java.util.TreeSet[java.lang.Long] = {
    require(bytes.length % 8 == 0 && bytes.length <= MaxBytes,
      s"KMV sketch must be <= $MaxBytes bytes of longs, got ${bytes.length}")
    val out = new java.util.TreeSet[java.lang.Long]()
    val bb = java.nio.ByteBuffer.wrap(bytes)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    while (bb.hasRemaining) out.add(bb.getLong)
    out
  }

  /** Distinct-count estimate: exact below k; (k−1)/kth above, mapping
    * signed hash order onto the unit interval. */
  def estimateBytes(bytes: Array[Byte]): Long = {
    require(bytes.length % 8 == 0 && bytes.length <= MaxBytes,
      s"KMV sketch must be <= $MaxBytes bytes of longs, got ${bytes.length}")
    val n = bytes.length / 8
    if (n < K) n.toLong
    else {
      val bb = java.nio.ByteBuffer.wrap(bytes)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      var kth = 0L
      var i = 0
      while (i < n) { kth = bb.getLong; i += 1 }
      // map signed long order to (0, 1]: u = (kth - MinValue + 1) / 2^64
      val u = (kth.toDouble - Long.MinValue.toDouble + 1.0) / math.pow(2.0, 64)
      math.max(n.toLong, math.round((K - 1).toDouble / u))
    }
  }

  /** Bottom-k MinHash Jaccard from two sketches: the fraction of
    * considered union hashes present in both inputs. A membership test
    * against a FULL sketch is only valid below that sketch's kth value
    * (above it, absence from the sample proves nothing), so the
    * considered range is capped at min over full sketches of their
    * maxima — the textbook bottom-k estimator. Exact for sets that fit
    * entirely in their sketches. */
  def jaccardBytes(a: Array[Byte], b: Array[Byte]): Double = {
    val sa = fromBytes(a)
    val sb = fromBytes(b)
    if (sa.isEmpty && sb.isEmpty) return 1.0
    var bound = Long.MaxValue
    if (sa.size == K && sa.last() < bound) bound = sa.last()
    if (sb.size == K && sb.last() < bound) bound = sb.last()
    val union = new java.util.TreeSet[java.lang.Long](sa)
    union.addAll(sb)
    var inBoth = 0
    var seen = 0
    val it = union.iterator()
    var done = false
    while (it.hasNext && seen < K && !done) {
      val h = it.next()
      if (h > bound) done = true
      else {
        if (sa.contains(h) && sb.contains(h)) inBoth += 1
        seen += 1
      }
    }
    if (seen == 0) 0.0 else inBoth.toDouble / seen
  }

  /** graft_kmv_sketch(x) → binary k-min hash sample (persist, merge,
    * compare later). `hashed` must be the family's 64-bit hash. */
  case class KmvSketchAgg(hashed: Expression,
      mutableAggBufferOffset: Int = 0, inputAggBufferOffset: Int = 0)
      extends TypedImperativeAggregate[java.util.TreeSet[java.lang.Long]] {
    override def children: Seq[Expression] = Seq(hashed)
    override def nullable: Boolean = false
    override def dataType: DataType = BinaryType
    override def createAggregationBuffer(): java.util.TreeSet[java.lang.Long] =
      new java.util.TreeSet[java.lang.Long]()
    override def update(buf: java.util.TreeSet[java.lang.Long],
        input: InternalRow): java.util.TreeSet[java.lang.Long] = {
      val v = hashed.eval(input)
      if (v != null) add(buf, v.asInstanceOf[Long])
      buf
    }
    override def merge(buf: java.util.TreeSet[java.lang.Long],
        other: java.util.TreeSet[java.lang.Long]): java.util.TreeSet[java.lang.Long] =
      mergeInPlace(buf, other)
    override def eval(buf: java.util.TreeSet[java.lang.Long]): Any = toBytes(buf)
    override def serialize(buf: java.util.TreeSet[java.lang.Long]): Array[Byte] = toBytes(buf)
    override def deserialize(bytes: Array[Byte]): java.util.TreeSet[java.lang.Long] = fromBytes(bytes)
    override def prettyName: String = "graft_kmv_sketch"
    override def withNewMutableAggBufferOffset(o: Int): KmvSketchAgg = copy(mutableAggBufferOffset = o)
    override def withNewInputAggBufferOffset(o: Int): KmvSketchAgg = copy(inputAggBufferOffset = o)
    override protected def withNewChildrenInternal(c: IndexedSeq[Expression]): Expression = copy(hashed = c.head)
  }

  /** graft_kmv_merge(sketch) → binary union (keep the k smallest of the
    * combined samples — exactly the sketch of the union, so
    * re-aggregation over persisted sketches is lossless). */
  case class KmvMergeAgg(child: Expression,
      mutableAggBufferOffset: Int = 0, inputAggBufferOffset: Int = 0)
      extends TypedImperativeAggregate[java.util.TreeSet[java.lang.Long]] {
    override def children: Seq[Expression] = Seq(child)
    override def nullable: Boolean = false
    override def dataType: DataType = BinaryType
    override def createAggregationBuffer(): java.util.TreeSet[java.lang.Long] =
      new java.util.TreeSet[java.lang.Long]()
    override def update(buf: java.util.TreeSet[java.lang.Long],
        input: InternalRow): java.util.TreeSet[java.lang.Long] = {
      val v = child.eval(input)
      if (v != null) mergeInPlace(buf, fromBytes(v.asInstanceOf[Array[Byte]]))
      buf
    }
    override def merge(buf: java.util.TreeSet[java.lang.Long],
        other: java.util.TreeSet[java.lang.Long]): java.util.TreeSet[java.lang.Long] =
      mergeInPlace(buf, other)
    override def eval(buf: java.util.TreeSet[java.lang.Long]): Any = toBytes(buf)
    override def serialize(buf: java.util.TreeSet[java.lang.Long]): Array[Byte] = toBytes(buf)
    override def deserialize(bytes: Array[Byte]): java.util.TreeSet[java.lang.Long] = fromBytes(bytes)
    override def prettyName: String = "graft_kmv_merge"
    override def withNewMutableAggBufferOffset(o: Int): KmvMergeAgg = copy(mutableAggBufferOffset = o)
    override def withNewInputAggBufferOffset(o: Int): KmvMergeAgg = copy(inputAggBufferOffset = o)
    override protected def withNewChildrenInternal(c: IndexedSeq[Expression]): Expression = copy(child = c.head)
  }

  /** graft_kmv_estimate(sketch) → bigint distinct-count estimate. */
  case class KmvEstimate(child: Expression) extends UnaryExpression {
    override def checkInputDataTypes()
        : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
      child.dataType match {
        case BinaryType =>
          org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
        case t =>
          org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
            s"$prettyName requires a binary sketch, got ${t.catalogString}")
      }
    override def dataType: DataType = LongType
    override def nullable: Boolean = true
    override def nullIntolerant: Boolean = true
    override def prettyName: String = "graft_kmv_estimate"
    override def nullSafeEval(sketch: Any): Any =
      estimateBytes(sketch.asInstanceOf[Array[Byte]])
    override def doGenCode(
        ctx: org.apache.spark.sql.catalyst.expressions.codegen.CodegenContext,
        ev: org.apache.spark.sql.catalyst.expressions.codegen.ExprCode)
        : org.apache.spark.sql.catalyst.expressions.codegen.ExprCode =
      defineCodeGen(ctx, ev, b => s"graft.functions.Kmv.estimateBytes($b)")
    override protected def withNewChildInternal(newChild: Expression): Expression =
      copy(child = newChild)
  }

  /** graft_kmv_jaccard(a, b) → double overlap estimate of the two
    * sketched key sets. */
  case class KmvJaccard(left: Expression, right: Expression)
      extends BinaryExpression {
    override def checkInputDataTypes()
        : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
      (left.dataType, right.dataType) match {
        case (BinaryType, BinaryType) =>
          org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
        case (l, r) =>
          org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
            s"$prettyName requires two binary sketches, got " +
              s"${l.catalogString} and ${r.catalogString}")
      }
    override def dataType: DataType = DoubleType
    override def nullable: Boolean = true
    override def nullIntolerant: Boolean = true
    override def prettyName: String = "graft_kmv_jaccard"
    override def nullSafeEval(a: Any, b: Any): Any =
      jaccardBytes(a.asInstanceOf[Array[Byte]], b.asInstanceOf[Array[Byte]])
    override def doGenCode(
        ctx: org.apache.spark.sql.catalyst.expressions.codegen.CodegenContext,
        ev: org.apache.spark.sql.catalyst.expressions.codegen.ExprCode)
        : org.apache.spark.sql.catalyst.expressions.codegen.ExprCode =
      defineCodeGen(ctx, ev,
        (a, b) => s"graft.functions.Kmv.jaccardBytes($a, $b)")
    override protected def withNewChildrenInternal(newLeft: Expression,
        newRight: Expression): Expression = copy(left = newLeft, right = newRight)
  }

  /** Null-safe 64-bit hash with the family's fixed seed. */
  private def hash64(e: Expression): Expression =
    If(IsNull(e), Literal.create(null, LongType), XxHash64(Seq(e), 42L))

  import org.apache.spark.sql.graftbridge.GraftBridge

  /** Column API. */
  def kmvSketch(c: Column): Column =
    GraftBridge.column(
      KmvSketchAgg(hash64(GraftBridge.expression(c))).toAggregateExpression())
  def kmvEstimate(c: Column): Column =
    GraftBridge.column(KmvEstimate(GraftBridge.expression(c)))

  private def arity(fn: String, n: Int, args: Seq[Expression]): Unit =
    if (args.length != n) throw new org.apache.spark.sql.AnalysisException(
      errorClass = "WRONG_NUM_ARGS.WITHOUT_SUGGESTION",
      messageParameters = Map(
        "functionName" -> fn, "expectedNum" -> n.toString,
        "actualNum" -> args.length.toString, "docroot" -> "-"))

  /** SQL registration: graft_kmv_sketch, graft_kmv_merge,
    * graft_kmv_estimate, graft_kmv_jaccard. */
  def register(spark: SparkSession): Unit = {
    val reg = spark.sessionState.functionRegistry
    reg.createOrReplaceTempFunction("graft_kmv_sketch",
      (args: Seq[Expression]) => { arity("graft_kmv_sketch", 1, args)
        KmvSketchAgg(hash64(args.head)) }, "built-in")
    reg.createOrReplaceTempFunction("graft_kmv_merge",
      (args: Seq[Expression]) => { arity("graft_kmv_merge", 1, args)
        KmvMergeAgg(args.head) }, "built-in")
    reg.createOrReplaceTempFunction("graft_kmv_estimate",
      (args: Seq[Expression]) => { arity("graft_kmv_estimate", 1, args)
        KmvEstimate(args.head) }, "built-in")
    reg.createOrReplaceTempFunction("graft_kmv_jaccard",
      (args: Seq[Expression]) => { arity("graft_kmv_jaccard", 2, args)
        KmvJaccard(args.head, args(1)) }, "built-in")
  }
}
