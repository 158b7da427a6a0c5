package graft

import org.apache.spark.sql.functions._

import graft.functions.TextAnalysis
import graft.operators.TrainingData

class TrainingDataSpec extends SparkSpecBase {
  import spark.implicits._

  test("rolling fingerprint: deterministic, order-sensitive, bounded") {
    val df = Seq(
      (1L, "alpha beta gamma"), (2L, "alpha beta gamma"), (3L, "gamma beta alpha"))
      .toDF("id", "text")
      .select($"id", TextAnalysis.rollingFingerprint($"text").as("fp"))
    val m = df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(m(1L) == m(2L))        // same text, same fingerprint
    assert(m(1L) != m(3L))        // permutation changes it (order-sensitive)
    assert(m.values.forall(v => v >= 0L && v < 1000000007L))
  }

  test("md5 simhash32: exact dups identical, near-dups closer than unrelated") {
    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog again and again today"),
      (2L, "the quick brown fox jumps over the lazy dog again and again tonight"),
      (3L, "completely different words about query engines and shuffles here now"),
      (4L, "the quick brown fox jumps over the lazy dog again and again today"))
      .toDF("doc_id", "text")
      .withColumn("codes", TextAnalysis.md5TokenCodes(split($"text", " ")))
      .select($"doc_id", TextAnalysis.simhash32("codes").as("sig"))
    val sig = docs.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(sig(1L) == sig(4L))
    def ham(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    assert(ham(sig(1L), sig(2L)) < ham(sig(1L), sig(3L)))
    assert(sig.values.forall(v => v >= 0L && v < (1L << 32)))
  }

  test("langId: marker overlap wins, CJK forces zh, no overlap is und") {
    val got = Seq(
      (1, "the cat and the hat is on the mat"),
      (2, "der hund und die katze ist nicht da"),
      (3, "中文 文本 在 这里"),
      (4, "zzz qqq xxx"))
      .toDF("id", "text")
      .select($"id", TextAnalysis.langId($"text").as("p"))
      .collect().map(r => r.getInt(0) -> r.getString(1)).toMap
    assert(got == Map(1 -> "en", 2 -> "de", 3 -> "zh", 4 -> "und"))
  }

  test("judged hrv_rmssd: one row per user, n sums to event count, pnn in [0,1]") {
    // formula correctness is pinned by HrvSpec's hand-checked fixture and
    // the DuckDB oracle; this checks the judged wiring over real data
    val judged = TrainingData.hrvRmssd(spark, sf())
    val events = Tables.events(spark, sf())
    assert(judged.count() == events.select($"user_id").distinct.count())
    assert(judged.agg(sum($"n")).head.getLong(0) == events.count())
    assert(judged.filter($"pnn" < 0 || $"pnn" > 1).count() == 0)
  }

  test("agg_pivot cells sum to the total order count") {
    val p = TrainingData.aggPivot(spark, sf())
    val total = p.select((col("F") + col("O") + col("P")).as("t"))
      .agg(sum($"t")).head.getLong(0)
    assert(total == Tables.orders(spark, sf()).count())
  }

  test("agg_pivot_dynamic derives the domain and totals match a direct recompute") {
    val p = TrainingData.aggPivotDynamic(spark, sf())
    // domain discovered from data, sorted -> deterministic column order
    assert(p.columns.toSeq == Seq("yr", "F", "O", "P"))
    val total = p.select((col("F") + col("O") + col("P")).as("t"))
      .agg(round(sum($"t"), 0)).head.getDouble(0)
    val direct = Tables.orders(spark, sf())
      .agg(round(sum($"o_totalprice"), 0)).head.getDouble(0)
    // per-cell rounding to 2dp perturbs the grand total by < #cells cents
    assert(math.abs(total - direct) <= 1.0, s"pivot total $total vs $direct")
  }

  test("pivotDynamic fails loudly past the domain cap, pivots under it") {
    val wide = (1 to 100).map(i => (i % 4, s"k${i % 30}", i.toLong))
      .toDF("g", "k", "v")
    val e = intercept[IllegalArgumentException] {
      TrainingData.pivotDynamic(wide, col("g"), "k", sum(col("v")))
    }
    assert(e.getMessage.contains("exceeds 20"))
    // under the cap: domain is discovered sorted, cells aggregate
    val narrow = Seq((1, "b", 10L), (1, "a", 5L), (2, "a", 7L))
      .toDF("g", "k", "v")
    val (p, domain) = TrainingData.pivotDynamic(
      narrow, col("g"), "k", sum(col("v")))
    assert(domain == Seq("a", "b"))
    val rows = p.orderBy($"g").collect()
    assert(rows.map(_.getInt(0)).toSeq == Seq(1, 2))
    assert(rows(0).getLong(1) == 5L && rows(0).getLong(2) == 10L)
    assert(rows(1).getLong(1) == 7L && rows(1).isNullAt(2))
  }

  test("pivotDynamic rejects NULL and backtick domain values loudly") {
    // a null pivot value would become a column literally named "null"
    val withNull = Seq((1, Some("a"), 1L), (1, None, 2L))
      .toDF("g", "k", "v")
    val en = intercept[IllegalArgumentException] {
      TrainingData.pivotDynamic(withNull, col("g"), "k", sum(col("v")))
    }
    assert(en.getMessage.contains("NULL"))
    // a backtick breaks every quoted reference to the pivoted column
    val withTick = Seq((1, "a`b", 1L)).toDF("g", "k", "v")
    val et = intercept[IllegalArgumentException] {
      TrainingData.pivotDynamic(withTick, col("g"), "k", sum(col("v")))
    }
    assert(et.getMessage.contains("backtick"))
  }

  test("textUrlCanonical: every normalization step visibly fired") {
    val rows = TrainingData.textUrlCanonical(spark, sf())
      .collect().map(_.getString(1))
    assert(rows.nonEmpty)
    rows.foreach { c =>
      assert(c.startsWith("https://w"), c)            // scheme+host lowered
      assert(!c.contains(":443"), c)                   // default port gone
      assert(!c.contains("#"), c)                      // fragment gone
      assert(!c.contains("utm_"), c)                   // tracking params gone
      val params = c.split('?')(1).split('&').toSeq
      assert(params == params.sorted, c)               // params sorted
      assert(params.exists(_.startsWith("id=")) &&
        params.exists(_.startsWith("b=")), c)          // real params kept
    }
  }

  test("char-trigram jaccard pairs are ordered, thresholded and symmetric-free") {
    val rows = TrainingData.dedupNgramJaccard(spark, sf()).collect()
    assert(rows.forall(r => r.getLong(0) < r.getLong(1)))
    assert(rows.forall(r => r.getDouble(2) >= 0.5 && r.getDouble(2) <= 1.0))
  }

  test("containment is asymmetric: substring doc reads 1.0, superstring reads below") {
    // a's trigrams are a strict subset of b's -> C(a→b) = 1.0; C(b→a) < 1
    val docs = Seq((1L, "alpha beta"), (2L, "alpha beta gamma delta"))
      .toDF("doc_id", "text")
    val sh = graft.operators.Decontaminate.shingleSet("text", 3)
    val t = docs.select(col("doc_id"), sh.as("sh"))
    val a = t.select(col("doc_id").as("a_id"), col("sh").as("sa"))
    val b = t.select(col("doc_id").as("b_id"), col("sh").as("sb"))
    val got = a.join(b, col("a_id") =!= col("b_id"))
      .select(col("a_id"), col("b_id"),
        (size(array_intersect(col("sa"), col("sb"))).cast("double") /
          size(col("sa")).cast("double")).as("cont"))
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(got((1L, 2L)) == 1.0)
    assert(got((2L, 1L)) < 1.0)
    // judged query sanity on real data: both directions may appear
    val rows = TrainingData.dedupContainment(spark, sf()).collect()
    assert(rows.forall(r => r.getLong(0) != r.getLong(1)))
    assert(rows.forall(r => r.getDouble(4) >= 0.8 && r.getDouble(4) <= 1.0))
  }

  test("text_repetition: duplicate-bigram basis points, single-token doc dropped") {
    // "a b a b c": bigrams [a b, b a, a b, b c] → 4 total, 3 distinct,
    // dup_bp = round(10000·1/4) = 2500; "x x x x": [x x]×3 → dup_bp 6667
    // (half-up of 6666.67); "solo" has no bigram and must not appear
    val dir = java.nio.file.Files.createTempDirectory("rep").toString
    Seq((1L, "a b a b c"), (2L, "x x x x"), (3L, "solo"))
      .toDF("doc_id", "text").write.parquet(dir + "/documents.parquet")
    val got = operators.TrainingData.textRepetition(spark, dir).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4)))).toMap
    assert(got == Map(1L -> ((5L, 4L, 3L, 2500L)),
      2L -> ((4L, 3L, 1L, 6667L))))
  }

  test("dedup_prefix: 8-token prologue groups, keeper is min id, short docs excluded") {
    val pre = "a b c d e f g h"
    val rows = Seq((5L, pre + " tail one"), (9L, pre + " other tail"),
      (2L, "z " + pre), // different first-8 window — must NOT group
      (7L, "a b c d e f g")) // 7 tokens: below the prefix length
    val dir = java.nio.file.Files.createTempDirectory("pfx").toString
    rows.toDF("doc_id", "text").write.parquet(dir + "/documents.parquet")
    val got = operators.TrainingData.dedupPrefix(spark, dir).collect()
    assert(got.length == 1)
    assert(got(0).getLong(1) == 5L && got(0).getLong(2) == 2L)
  }
}
