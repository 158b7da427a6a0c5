package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession

/** Development CLI over the judged session ([[GraftSession.builder]]):
  *
  * {{{
  *   runMain graft.Tool verify <sfDir> <outDir> <name>...
  *   runMain graft.Tool time <sfDir> <name>...
  *   runMain graft.Tool explain <sfDir> [outFile]
  *   runMain graft.Tool oracle <outDir>
  * }}}
  *
  *  - `verify` dumps only the named queries plus their oracle SQL in
  *    [[Verify]]'s exact format, so `tools/check.py` gates a handful of
  *    touched queries without a full run.
  *  - `time` runs each named query once untimed, then prints its
  *    best-of-3 `.count()` wall.
  *  - `explain` writes `explain("formatted")` of every registered query to
  *    `outFile` (default /tmp/plans.txt) and one line of structural plan
  *    metrics per query to `outFile.metrics.jsonl`, so a broadcast that
  *    became a shuffle shows up as a one-line diff.
  *  - `oracle` writes only `<outDir>/oracle_sql.json`, starting no
  *    session, so live DuckDB can be measured back-to-back with
  *    `graft.Bench` (`tools/compare_baseline.py --live`).
  */
object Tool {
  private val usage =
    "usage: graft.Tool verify <sfDir> <outDir> <name>... | time <sfDir> <name>... | " +
      "explain <sfDir> [outFile] | oracle <outDir>"

  def main(args: Array[String]): Unit = args.toList match {
    case "verify" :: sfDir :: outDir :: names if names.nonEmpty =>
      requireKnown(names)
      val chosen = names.toSet
      withSession("WARN") { spark =>
        Verify.run(spark, sfDir, outDir,
          SparkEntry.queries.view.filterKeys(chosen).toMap,
          SparkEntry.oracleSql.view.filterKeys(chosen).toMap)
      }
    case "time" :: sfDir :: names if names.nonEmpty =>
      requireKnown(names)
      withSession("WARN")(spark => names.foreach(time(spark, sfDir, _)))
    case "explain" :: sfDir :: rest if rest.length <= 1 =>
      val out = rest.headOption.getOrElse("/tmp/plans.txt")
      withSession("ERROR")(explain(_, sfDir, out))
    case "oracle" :: outDir :: Nil =>
      new java.io.File(outDir).mkdirs()
      Verify.writeOracleSql(outDir, SparkEntry.oracleSql)
      System.err.println(
        s"[oracle-dump] ${SparkEntry.oracleSql.size} entries -> $outDir/oracle_sql.json")
    case _ =>
      System.err.println(usage)
      sys.exit(2)
  }

  private def requireKnown(names: Seq[String]): Unit = {
    val unknown = names.filterNot(SparkEntry.queries.contains)
    require(unknown.isEmpty, s"unknown queries: ${unknown.mkString(", ")}")
  }

  private def withSession(logLevel: String)(body: SparkSession => Unit): Unit = {
    val spark = GraftSession.builder().getOrCreate()
    spark.sparkContext.setLogLevel(logLevel)
    try body(spark) finally spark.stop()
  }

  private def time(spark: SparkSession, sfDir: String, name: String): Unit = {
    val q = SparkEntry.queries(name)
    def once(): Double = {
      val t0 = System.nanoTime()
      q(spark, sfDir).count()
      (System.nanoTime() - t0) / 1e9
    }
    once() // warmup
    val best = Seq.fill(3)(once()).min
    println(f"[time-query] $name best-of-3: $best%.3f s")
  }

  private def explain(spark: SparkSession, sfDir: String, out: String): Unit = {
    val sb = new StringBuilder
    val metrics = new StringBuilder
    SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
      sb.append(s"\n========== $name ==========\n")
      try {
        val formatted = fn(spark, sfDir).queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode)
        sb.append(formatted)
        // (?![A-Za-z]) pins the node NAME: "Window" must not also count
        // WindowGroupLimit, nor "Sort" count SortMergeJoin/SortAggregate
        def n(re: String): Int = re.r.findAllIn(formatted).length
        metrics.append(
          s"""{"query":"$name","exchanges":${n("""\(\d+\) Exchange(?![A-Za-z])""")},""" +
            s""""broadcasts":${n("""\(\d+\) BroadcastExchange(?![A-Za-z])""")},""" +
            s""""windows":${n("""\(\d+\) Window(?![A-Za-z])""")},""" +
            s""""sorts":${n("""\(\d+\) Sort(?![A-Za-z])""")},""" +
            s""""bnlj":${n("BroadcastNestedLoopJoin")}}""" + "\n")
      } catch { case e: Throwable => sb.append(s"ERROR: ${e.getMessage}\n") }
    }
    Files.writeString(Paths.get(out), sb.toString)
    Files.writeString(Paths.get(out + ".metrics.jsonl"), metrics.toString)
    println(s"wrote $out and ${out}.metrics.jsonl")
  }
}
