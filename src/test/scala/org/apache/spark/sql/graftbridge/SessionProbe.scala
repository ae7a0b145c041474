package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.classic.{SparkSession => ClassicSession}

/** Test access to session internals `private[sql]` keeps from graft. */
object SessionProbe {

  /** A session on `spark`'s context with NO extensions: the shape of
    * a session some other code built.
    */
  def bare(spark: SparkSession): SparkSession =
    new ClassicSession(spark.sparkContext)

  /** Every rule instance in one snapshot of the logical optimizer's
    * batches, the user-provided `extraOptimizations` batch included.
    */
  def optimizerRules(spark: SparkSession): Seq[AnyRef] =
    spark.asInstanceOf[ClassicSession].sessionState.optimizer.batches
      .flatMap(_.rules)
}
