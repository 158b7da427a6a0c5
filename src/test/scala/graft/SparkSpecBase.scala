package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** One shared local SparkSession for all suites (getOrCreate reuses the
  * first one created in the test JVM), in the judged configuration and
  * never enriched, so what a spec sees cannot depend on suite order. */
trait SparkSpecBase extends AnyFunSuite {
  lazy val spark: SparkSession = GraftSession.builder(4)
    // managed tables (LayoutSpec's bucketed saves) land in a throwaway
    // warehouse, not ./spark-warehouse inside the repo
    .config("spark.sql.warehouse.dir", SparkSpecBase.warehouseDir)
    .getOrCreate()

  /** A session with the engine's extensions ([[GraftSession.enrich]]).
    * It shares `spark`'s SparkContext but has its own function registry
    * and experimental rules, so the shared session stays un-enriched. */
  def enrichedSession(): SparkSession = {
    val s = spark.newSession()
    GraftSession.enrich(s)
    s
  }

  def sf(dir: String = "sf0.001"): String = s"/root/testdata/$dir"
}

object SparkSpecBase {
  // one temp warehouse per JVM — getOrCreate only honors the config on
  // the first session anyway, so per-suite temp dirs would just strand
  // empty directories
  lazy val warehouseDir: String =
    java.nio.file.Files.createTempDirectory("graft_wh").toString
}
