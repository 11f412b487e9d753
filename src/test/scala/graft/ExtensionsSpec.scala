package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier

/** GraftExtensions: the `spark.sql.extensions` packaging hook must inject
  * the planner strategy and SQL functions a config-only deployment needs.
  */
class ExtensionsSpec extends SparkSpec {

  test("extensions inject the anchored-session strategy and SQL functions") {
    val ext = new SparkSessionExtensions
    new GraftExtensions()(ext)
    // strategy present for a config-only session
    assert(org.apache.spark.sql.GraftBridge.plannerStrategies(ext, spark)
      .contains(graft.plans.AnchoredSession.AnchoredStrategy))
    assert(org.apache.spark.sql.GraftBridge.optimizerRules(ext, spark)
      .contains(graft.plans.AnchoredSession.MergeAnchoredFolds))
    // functions resolve through a registry the extensions populated
    val reg = org.apache.spark.sql.GraftBridge.cloneFunctionRegistry(spark)
    Seq("cosine_similarity", "common_count").foreach(f =>
      reg.dropFunction(FunctionIdentifier(f))) // prove injection, not inheritance
    org.apache.spark.sql.GraftBridge.applyExtensionFunctions(ext, reg)
    assert(reg.functionExists(FunctionIdentifier("cosine_similarity")))
    assert(reg.functionExists(FunctionIdentifier("common_count")))
  }

  test("registered SQL functions evaluate through spark.sql") {
    val cos = spark.sql(
      "SELECT cosine_similarity(array(1.0D, 0.0D), array(1.0D, 0.0D)) AS c")
      .head.getDouble(0)
    assert(cos == 1.0)
    val common = spark.sql(
      "SELECT common_count(array('a','b','c'), array('b','c','d')) AS n")
      .head.getInt(0)
    assert(common == 2)
  }
}
