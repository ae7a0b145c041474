package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** The query loop Bench, Verify and PlanDump share: run each selected
  * query, record a failure instead of stopping, and release the
  * query's operator persists before the next one.
  */
object QueryLoop {

  type Query = (SparkSession, String) => DataFrame

  /** `queries` narrowed to the comma-separated `names` (all of them
    * when `names` is None — the driver sets no `SPARK_GRAFT_ONLY`, so
    * driver runs see every query). An unknown name is reported on
    * stderr, not silently dropped.
    */
  def select(
      names: Option[String],
      queries: Map[String, Query] = SparkEntry.queries): Map[String, Query] =
    names.map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet) match {
      case Some(wanted) =>
        (wanted -- queries.keySet).toSeq.sorted.foreach(n =>
          System.err.println(s"[select] unknown query $n"))
        queries.filter { case (n, _) => wanted(n) }
      case None => queries
    }

  /** Run `body` on each query in order and return the names that
    * threw, in order. A throw is logged as `[tag] name failed: msg`
    * and the loop goes on. Once `stop` reads true the remaining
    * queries are skipped. After each query [[graft.operators.SessionCache.release]]
    * drops its registered persists, outside any timing `body` takes
    * (round 17: persists leaked across a 267-query session slowed the
    * late queries 3-4x; the session mart cache never registers).
    */
  def run(tag: String, queries: Seq[(String, Query)], stop: => Boolean = false)(
      body: (String, Query) => Unit): Seq[String] = {
    val failed = Seq.newBuilder[String]
    queries.foreach { case (name, fn) =>
      if (!stop) {
        try body(name, fn)
        catch { case e: Throwable =>
          System.err.println(s"[$tag] $name failed: ${e.getMessage}")
          failed += name
        }
        graft.operators.SessionCache.release()
      }
    }
    failed.result()
  }
}
