package graft
import org.apache.spark.sql.{DataFrame, SparkSession}
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val spark = GraftSession.builder().getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    run(spark, sfDir, outDir, SparkEntry.queries, SparkEntry.oracleSql)
    spark.stop()
  }

  /** Dump every query's result + the oracle SQL + explicit error
    * artifacts. Factored out of main so the failure-visibility contract
    * is testable: a query that throws MUST leave `<out>/<name>._error`
    * and an `errors.json` row — round 7 proved that a silent skip lets
    * the correctness gate omit the row and a broken query read as
    * "not checked" instead of "failed". Returns the error map. */
  def run(spark: SparkSession, sfDir: String, outDir: String,
      queries: Map[String, (SparkSession, String) => DataFrame],
      oracleSql: Map[String, String]): Map[String, String] = {
    new java.io.File(outDir).mkdirs()
    val errors = scala.collection.mutable.LinkedHashMap[String, String]()
    queries.foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        val msg = Option(e.getMessage).getOrElse(e.getClass.getName)
        errors(name) = msg
        System.err.println(s"[verify] $name failed: $msg")
        Files.writeString(Paths.get(s"$outDir/$name._error"),
          msg.take(4000))
      }
    }
    writeOracleSql(outDir, oracleSql)
    Files.writeString(Paths.get(s"$outDir/errors.json"), jsonObject(errors))
    System.err.println(
      s"[verify] ${queries.size - errors.size}/${queries.size} dumped, ${errors.size} failed")
    errors.toMap
  }

  /** `<outDir>/oracle_sql.json`: the oracle SQL the DuckDB compare runs. */
  def writeOracleSql(outDir: String, oracleSql: Map[String, String]): Unit =
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), jsonObject(oracleSql))

  /** A flat JSON object of strings. Escapes backslash, quote, and ALL
    * control chars (<0x20) — a tab or CR in the oracle SQL would
    * otherwise make the checker's json.load fail and silently zero the
    * correctness gate. */
  private def jsonObject(entries: Iterable[(String, String)]): String = {
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    entries.map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
  }
}
