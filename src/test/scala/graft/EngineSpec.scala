package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.graftbridge.SessionProbe

/** [[Engine.session]] and [[Engine.configure]] give the same engine:
  * the same confs, the same SQL functions, and one copy of the
  * MV-navigation rule.
  */
class EngineSpec extends SparkSpec {

  private val functions = Seq("vec_dot", "int_vec_dot", "sum_at_min",
    "kmin_values", "count_min", "hyper_log_log", "nfc_normalize",
    "reservoir_keys", "top_k_by_score")

  /** distinct AggregateRewriteRule instances, by reference */
  private def rewriteRules(s: SparkSession): Int = {
    val seen = java.util.Collections.newSetFromMap(
      new java.util.IdentityHashMap[AnyRef, java.lang.Boolean])
    SessionProbe.optimizerRules(s)
      .filter(_.isInstanceOf[graft.plans.AggregateRewriteRule])
      .foreach(seen.add)
    seen.size
  }

  /** `s` with every table conf set to something else */
  private def skewed(s: SparkSession): SparkSession = {
    val other = Map("true" -> "false", "false" -> "true", "UTC" -> "America/New_York")
    Engine.confs.foreach { case (k, v) => s.conf.set(k, other.getOrElse(v, "unset")) }
    s
  }

  test("every table conf reads the same in a built and a configured session") {
    val configured = Engine.configure(skewed(spark.newSession()))
    Engine.confs.foreach { case (k, v) =>
      assert(spark.conf.get(k) === v, k)
      assert(configured.conf.get(k) === v, k)
    }
  }

  test("all nine SQL functions resolve in a built and a configured session") {
    val sessions = Seq(spark, Engine.configure(spark.newSession()),
      Engine.configure(SessionProbe.bare(spark)))
    for (s <- sessions; f <- functions)
      assert(s.catalog.functionExists(f), f)
  }

  test("configure on a built session leaves exactly one MV-navigation rule") {
    assert(rewriteRules(spark) === 1)
    Engine.configure(spark)
    Engine.configure(spark)
    assert(rewriteRules(spark) === 1)
  }

  test("configure gives a session built without the extension one rule") {
    val bare = SessionProbe.bare(spark)
    assert(rewriteRules(bare) === 0)
    Engine.configure(bare)
    Engine.configure(bare)
    assert(rewriteRules(bare) === 1)
  }
}
