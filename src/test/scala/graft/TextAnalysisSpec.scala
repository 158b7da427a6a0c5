package graft

import org.apache.spark.sql.functions._

import graft.functions.TextAnalysis

class TextAnalysisSpec extends SparkSpecBase {
  import spark.implicits._

  test("token counts: whitespace and bpe-ish") {
    val df = Seq("hello world, how are you?").toDF("text")
    val r = df.select(
      TextAnalysis.tokenCount($"text"),
      TextAnalysis.bpeishTokenCount($"text")).collect().head
    assert(r.getLong(0) == 5)
    assert(r.getLong(1) == 7) // "," and "?" tokenize separately
  }

  test("language id picks the dominant marker language, CJK wins outright") {
    val df = Seq(
      "the cat sat on the mat and that is that",
      "der hund ist nicht mit der katze",
      "el perro es de la casa con los gatos",
      "你好世界",
      "zzz qqq xxx").toDF("text")
    val langs = df.select(TextAnalysis.langId($"text")).collect().map(_.getString(0))
    assert(langs.toSeq == Seq("en", "de", "es", "zh", "und"))
  }

  test("quality score is in [0,1] and prefers prose over punctuation soup") {
    val df = Seq(
      "A reasonably long sentence with ordinary words that reads like text people write.",
      "!!! ??? ;;; ,,, ... !!!").toDF("text")
    val s = df.select(TextAnalysis.qualityScore($"text")).collect().map(_.getDouble(0))
    assert(s.forall(v => v >= 0.0 && v <= 1.0))
    assert(s(0) > s(1))
  }

  test("tfidf: rare terms outweigh common ones, values hand-check") {
    val df = Seq(
      (1L, "cat cat dog"),
      (2L, "cat fish"),
      (3L, "cat bird")).toDF("doc_id", "text")
    val w = TextAnalysis.tfidf(df, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getString(1)) ->
        ((r.getLong(2), r.getLong(3), r.getDouble(5)))).toMap
    // "cat" in every doc: df=3, idf = ln(4/4)+1 = 1
    assert(w((1L, "cat"))._1 == 2 && w((1L, "cat"))._2 == 3)
    assert(math.abs(w((1L, "cat"))._3 - 2.0) < 1e-12) // tf=2 × idf=1
    // "fish" df=1: idf = ln(4/2)+1
    val fish = w((2L, "fish"))._3
    assert(math.abs(fish - (math.log(2.0) + 1)) < 1e-12)
    assert(fish > w((2L, "cat"))._3) // rare beats common at equal tf
  }

  test("runs over the documents table") {
    val df = Tables.documents(spark, sf())
      .select(TextAnalysis.langId($"text").as("lid"),
        TextAnalysis.qualityScore($"text").as("q"),
        TextAnalysis.tokenCount($"text").as("n"))
    assert(df.count() == 500)
    assert(df.agg(min($"q"), max($"q")).collect().head.toSeq
      .map(_.asInstanceOf[Double]).forall(v => v >= 0 && v <= 1))
  }
}
