package graft

import org.apache.spark.unsafe.types.UTF8String

import graft.functions.Bpe

/** The pinned-merge-table BPE encoder (functions/Bpe.scala): worked
  * examples, the table-order vs lowest-rank-first equivalence property
  * on random strings, non-overlap semantics, the DuckDB replay's
  * placeholder discipline, and codegen/interpreted parity through a
  * real plan. */
class BpeSpec extends SparkSpecBase {

  private def count(s: String): Int = Bpe.tokenCount(UTF8String.fromString(s))

  /** Reference encoder: the lowest-rank-first loop common
    * implementations run — repeatedly find the present pair with the
    * smallest table index and merge its occurrences left to right.
    * For a well-formed table this must equal the one-pass-per-rule
    * kernel. */
  private def referenceCount(s: String): Int = {
    var syms: Vector[String] = s.map(_.toString).toVector
    val rank = Bpe.Merges.zipWithIndex.map { case ((l, r), i) => (l, r) -> i }.toMap
    var continue = true
    while (continue) {
      val present = syms.indices.dropRight(1)
        .flatMap(i => rank.get((syms(i), syms(i + 1))).map(r => (r, i)))
      if (present.isEmpty) continue = false
      else {
        val bestRank = present.map(_._1).min
        val (l, r) = Bpe.Merges(bestRank)
        // merge all occurrences of THIS pair, left to right
        val out = Vector.newBuilder[String]
        var i = 0
        while (i < syms.length) {
          if (i + 1 < syms.length && syms(i) == l && syms(i + 1) == r) {
            out += (l + r); i += 2
          } else { out += syms(i); i += 1 }
        }
        syms = out.result()
      }
    }
    syms.length
  }

  test("worked examples: compound merges collapse whole words") {
    assert(count("the") == 1) // t+h -> th, th+e -> the
    assert(count("thing") == 2) // th + ing
    assert(count("and") == 1)
    // s t a n d i n g: (i,n)->in, (in,g)->ing, (a,n)->an, (an,d)->and,
    // then (s,t)->st: [st, and, ing]
    assert(count("standing") == 3)
    assert(count("xyz") == 3) // no rules apply
    assert(count("") == 0)
    // the,' ',c,at — space blocks merges; (a,t) still fires inside cat
    assert(count("the cat") == 4)
  }

  test("non-overlap is leftmost: 'ththe' merges as th|th|e, not t|h|the") {
    // pass for rule (t,h): "ththe" -> th th e (3 symbols); rule (th,e)
    // then merges the SECOND th with e -> th,the (2)
    assert(count("ththe") == 2)
    // 'aaa' under a hypothetical (a,a) rule would be 2 not 1 — our
    // table has no such rule, but 'anand': an|an|d -> an,and
    assert(count("anand") == 2)
  }

  test("equivalence with the lowest-rank-first reference encoder (property)") {
    val rnd = new scala.util.Random(42)
    val alphabet = "theinganodrsucx "
    for (trial <- 0 until 500) {
      val len = rnd.nextInt(30)
      val s = (0 until len).map(_ => alphabet(rnd.nextInt(alphabet.length))).mkString
      assert(count(s) == referenceCount(s),
        s"trial $trial: '$s' kernel=${count(s)} reference=${referenceCount(s)}")
    }
  }

  test("the DuckDB replay chain names every placeholder exactly once") {
    val sql = Bpe.duckCountSql("lower(text)")
    // every rule contributes one replace() and one fresh placeholder
    assert("replace\\(".r.findAllIn(sql).size == Bpe.Merges.size)
    for (i <- Bpe.Merges.indices)
      assert(sql.contains(s"chr(${0xE000 + i})"), s"missing placeholder $i")
    // compound operands reference the EARLIER placeholder, not letters
    assert(sql.contains(s"chr(${0xE000}) || 'e'"), "the 'the' rule must consume th's placeholder")
  }

  /** Reference sequence hash: run the REPLACE-CHAIN form in plain Scala
    * (the literal oracle semantics — String.replace is the same
    * leftmost non-overlapping pass) and fold its chars. */
  private def referenceSeqHash(s: String): Long = {
    var enc = s
    val ph = scala.collection.mutable.Map[String, String]()
    Bpe.Merges.zipWithIndex.foreach { case ((l, r), i) =>
      val search = ph.getOrElse(l, l) + ph.getOrElse(r, r)
      val repl = (0xE000 + i).toChar.toString
      enc = enc.replace(search, repl)
      ph(l + r) = repl
    }
    enc.foldLeft(0L)((acc, c) => (acc * 31L + c.toInt) % 1000000007L)
  }

  test("sequence hash equals the replace-chain reference fold (property)") {
    import org.apache.spark.unsafe.types.UTF8String
    val rnd = new scala.util.Random(11)
    val alphabet = "theinganodrsucx "
    for (trial <- 0 until 300) {
      val len = rnd.nextInt(40)
      val s = (0 until len).map(_ => alphabet(rnd.nextInt(alphabet.length))).mkString
      assert(Bpe.sequenceHash(UTF8String.fromString(s)) == referenceSeqHash(s),
        s"trial $trial: '$s'")
    }
    // order sensitivity: same tokens, different order, different hash
    assert(Bpe.sequenceHash(UTF8String.fromString("the cat")) !=
      Bpe.sequenceHash(UTF8String.fromString("cat the")))
  }

  test("expression through a real plan: codegen equals interpreted equals kernel") {
    import spark.implicits._
    val docs = Seq("The thing stands", "und das andere", "", "a",
      "the quick brown fox jumps over the lazy dog").toDF("text")
    val got = docs.select(
      org.apache.spark.sql.functions.lower($"text").as("lt"))
      .select($"lt", Bpe.bpeTokenCount($"lt").as("n"))
      .collect().map(r => r.getString(0) -> r.getInt(1)).toMap
    got.foreach { case (s, n) =>
      assert(n == count(s), s"plan vs kernel mismatch on '$s'")
      assert(n == referenceCount(s), s"plan vs reference mismatch on '$s'")
    }
    // null stays null
    val withNull = Seq(Some("the"), None).toDF("text")
      .select(Bpe.bpeTokenCount($"text").as("n"))
      .collect().map(r => if (r.isNullAt(0)) None else Some(r.getInt(0)))
    assert(withNull.toSet == Set(Some(1), None))
  }

  test("ambiguous and ill-formed tables are rejected at build") {
    intercept[IllegalArgumentException] { // both spell "ab"
      Bpe.compile(Seq("a" -> "b", "a" -> "b"))
    }
    intercept[IllegalArgumentException] {
      Bpe.compile(Seq("th" -> "e"))
    }
  }
}
