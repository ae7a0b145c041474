package org.apache.spark.sql.graftbridge

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.classic
import org.apache.spark.sql.execution.{LogicalRDD, SQLExecution}
import org.apache.spark.storage.StorageLevel

/** Bridge to the `private[sql]` pieces of `Dataset.checkpoint`
  * (`Dataset.ofRows`, `LogicalRDD.fromDataset`) for
  * [[graft.operators.SessionCache.cut]].
  */
object CutBridge {

  /** `df`'s rows as a persisted (MEMORY_AND_DISK), copied
    * `InternalRow` RDD under a `LogicalRDD` leaf: the plan Spark
    * 4.1's `Dataset.localCheckpoint` returns (same output
    * partitioning, ordering, stats and constraints), minus the
    * `rdd.localCheckpoint()` lineage truncation — a released or lost
    * block recomputes from lineage. Returns the frame and the RDD
    * that holds its blocks. Like the checkpoint, it builds the RDD
    * inside a SQL execution (`toRdd`, which runs the upstream shuffle
    * stages of an adaptive plan), and `eager` stores every partition
    * there in one job.
    */
  def persistedLeaf(df: DataFrame, eager: Boolean): (DataFrame, RDD[InternalRow]) = {
    val ds = df.asInstanceOf[classic.Dataset[Row]]
    val rdd = SQLExecution.withNewExecutionId(ds.queryExecution, Some("cut")) {
      val r = ds.queryExecution.toRdd.map(_.copy())
        .persist(StorageLevel.MEMORY_AND_DISK)
      if (eager) r.count()
      r
    }
    (classic.Dataset.ofRows(ds.sparkSession,
      LogicalRDD.fromDataset(rdd, ds, ds.isStreaming)), rdd)
  }
}
