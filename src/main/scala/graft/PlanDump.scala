package graft

import org.apache.spark.sql.execution.{ExplainMode, QueryExecution}
import org.apache.spark.sql.util.QueryExecutionListener

/** Plan evidence: dump `.explain("formatted")` for named SparkEntry
  * queries to files (the `plans/<round>/<query>_<suffix>.txt`
  * captures that plan claims are checked against).
  *
  * Usage: runMain graft.PlanDump <sfDir> <outDir> <suffix> <names,...>
  * Writes <outDir>/<name>_<suffix>.txt per query: the plan of every
  * query the gate fn executed while it ran (an MV build, the navigated
  * query a gate collects, a stream's micro-batches), in order, then
  * the returned frame's plan. For gates that collect or run a stream
  * (st*, the MV gates) the returned frame is a trivial parallelize, so
  * the executed plans are the evidence.
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir, suffix, namesCsv) = args.take(4)
    val spark = Engine.session(appName = "graft-plandump")
    val executed = new java.util.concurrent.ConcurrentLinkedQueue[QueryExecution]()
    spark.listenerManager.register(new QueryExecutionListener {
      def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = { executed.add(qe); () }
      def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = { executed.add(qe); () }
    })
    def explain(qe: QueryExecution): String =
      qe.explainString(ExplainMode.fromString("formatted"))
    new java.io.File(outDir).mkdirs()
    def drain(): Unit = org.apache.spark.sql.graftbridge.ColumnBridge.drainListeners(spark)
    val selected = QueryLoop.select(Some(namesCsv)).toSeq.sortBy(_._1)
    QueryLoop.run("plandump", selected) { (name, fn) =>
      drain(); executed.clear() // a failed predecessor's leftovers
      val df = fn(spark, sfDir)
      drain()
      val inner = Iterator.continually(executed.poll()).takeWhile(_ != null)
        .zipWithIndex.map { case (qe, i) => s"== executed query ${i + 1} ==\n${explain(qe)}" }
      val txt = (inner.toSeq :+ s"== returned frame ==\n${explain(df.queryExecution)}")
        .mkString("\n")
      val path = s"$outDir/${name}_$suffix.txt"
      java.nio.file.Files.writeString(java.nio.file.Paths.get(path), txt)
      println(s"[plandump] wrote $path")
    }
    spark.stop()
  }
}
