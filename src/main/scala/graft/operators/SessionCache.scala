package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.storage.StorageLevel

/** The one way `src/main` materializes a frame, in two forms.
  *
  *  - [[cut]]: query-lifetime. A substrate that several downstream
  *    branches of ONE lazy plan consume (shingle frames, bucket
  *    projections, stage-boundary verdict sets, loop state). The
  *    operator cannot unpersist it — the caller's action runs after
  *    the operator returns — so the cut is registered, and a harness
  *    calls [[release]] after the query's action. Before round 17
  *    such frames stayed cached for the rest of the session; over a
  *    267-query Bench run they made late heavy queries 3-4x slower
  *    than their isolated cost (p93_curation_e2e 45.8 s mid-bench vs
  *    14.6 s isolated).
  *  - [[scoped]]: a plain persist around a body that runs every
  *    consuming action itself, unpersisted in a `finally`.
  *
  * Blocks of either form recompute from lineage when released or
  * lost, so a frame reused after [[release]] still answers. The
  * session-scoped mart cache ([[graft.queries.TestdataAdapter]]) does
  * NOT go through here — marts are the analog of the reference's
  * precomputed gold tables and must survive across serving queries.
  */
object SessionCache {

  private val held =
    new java.util.concurrent.ConcurrentLinkedQueue[org.apache.spark.rdd.RDD[_]]()

  /** `df`'s rows persisted (MEMORY_AND_DISK) under a `LogicalRDD` leaf
    * — the plan-level lineage cut of `Dataset.localCheckpoint`, which
    * keeps downstream planning flat: a plain persist leaves the whole
    * upstream tree in every consumer's plan, and AQE re-optimizes it
    * between query stages (p93: 9.0 s of inter-job driver gaps in a
    * 17 s query). Unlike a checkpoint, the RDD keeps its lineage, so
    * a block dropped by [[release]] or lost with an executor is
    * recomputed instead of failing the query. The RDD is registered
    * for [[release]]. The kept lineage costs driver and task time in
    * a loop that cuts a union of earlier cuts each round, because a
    * task then carries the narrow lineage of every earlier round; a
    * loop instead unions its per-round cuts and leaves the union
    * uncut (GraphAnn's two searches).
    *
    * When the upstream runs: building the cut calls `toRdd`, and for
    * an adaptive plan that runs the upstream shuffle stages here, at
    * the call — which is why a "plan" span around a cut holds jobs.
    * The rows after the last exchange are computed and stored by the
    * first action that reads them (`eager = false`) or by one job in
    * this call that stores every partition (`eager = true`).
    */
  def cut(df: DataFrame, eager: Boolean = false): DataFrame = {
    val (leaf, rdd) =
      org.apache.spark.sql.graftbridge.CutBridge.persistedLeaf(df, eager)
    held.add(rdd)
    leaf
  }

  /** `body` over `df` persisted at MEMORY_AND_DISK, unpersisted
    * (non-blocking) when `body` returns or throws. For frames whose
    * consumers all run inside `body`; the plans are a plain cached
    * relation, not a cut.
    */
  def scoped[T](df: DataFrame)(body: DataFrame => T): T = {
    val p = df.persist(StorageLevel.MEMORY_AND_DISK)
    try body(p) finally { p.unpersist(blocking = false); () }
  }

  /** Unpersist every [[cut]] made since the last release
    * (non-blocking — block removal proceeds async). Returns the
    * number released. A released cut stays usable: its next read
    * recomputes. Harnesses call it between queries.
    */
  def release(): Int = {
    var n = 0
    var rdd = held.poll()
    while (rdd != null) {
      rdd.unpersist(blocking = false)
      n += 1
      rdd = held.poll()
    }
    n
  }
}
