package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for the unit layer (SURVEY §5 item 1). */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession =
    Engine.session(master = "local[4]", shufflePartitions = 4, appName = "graft-test")

  /** Plan-shape assertions need AQE off (the AdaptiveSparkPlan
    * wrapper hides children from collect() until execution).
    * Restores the PRIOR value — not a hardcoded "true" — so
    * suite-level config survives whichever test runs first.
    */
  def withNoAqe[T](body: => T): T = {
    val key = "spark.sql.adaptive.enabled"
    val prior = spark.conf.get(key)
    spark.conf.set(key, "false")
    try body finally spark.conf.set(key, prior)
  }

  /** The RDD holding a [[graft.operators.SessionCache.cut]] frame's
    * blocks: the one under its `LogicalRDD` leaf.
    */
  def cutRdd(df: DataFrame): org.apache.spark.rdd.RDD[_] =
    df.queryExecution.analyzed.collectFirst {
      case l: org.apache.spark.sql.execution.LogicalRDD => l.rdd
    }.getOrElse(fail(s"not a cut: ${df.queryExecution.analyzed.nodeName}"))

  /** Drops every [[graft.operators.SessionCache.cut]] the test made,
    * as [[QueryLoop]] does after each query: the suite shares one
    * session, so an unreleased cut would be held until the JVM exits.
    */
  override def withFixture(test: NoArgTest): org.scalatest.Outcome =
    try super.withFixture(test)
    finally { graft.operators.SessionCache.release(); () }

  override def afterAll(): Unit = {
    // shared across suites in one JVM — do not stop
    super.afterAll()
  }
}
