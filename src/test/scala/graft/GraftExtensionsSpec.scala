package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.graftbridge.GraftBridge

/** The spark.sql.extensions entry point must register the engine's
  * optimizer rule and planner strategy. Session extensions only apply at
  * first session creation, so this inspects the registration directly
  * through the bridge and checks the class loads by name, as the config
  * loads it. That the registered rule rewrites plans and keeps results is
  * LatestPerKeyRuleSpec's job. */
class GraftExtensionsSpec extends SparkSpecBase {

  test("GraftExtensions registers LatestPerKeyRule") {
    val ext = new SparkSessionExtensions
    new GraftExtensions().apply(ext)
    val rules = GraftBridge.registeredOptimizerRules(ext, spark)
    assert(rules.contains(graft.plans.LatestPerKeyRule))
  }

  test("GraftExtensions registers the as-of join planner strategy") {
    val ext = new SparkSessionExtensions
    new GraftExtensions().apply(ext)
    val strategies = GraftBridge.registeredPlannerStrategies(ext, spark)
    assert(strategies.contains(graft.plans.AsofJoinStrategy))
  }

  test("the class is instantiable by name with a no-arg constructor (config contract)") {
    val cls = Class.forName("graft.GraftExtensions")
    val inst = cls.getDeclaredConstructor().newInstance()
    assert(inst.isInstanceOf[SparkSessionExtensions => Unit])
  }
}
