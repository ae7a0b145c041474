package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** One span: a timed call into a layer, made from the benchmark's own
  * code. `op` names the operation it belongs to (a day, a request, a
  * call, a file batch); `parent` is the index of the enclosing span on
  * the same thread, or -1.
  */
final case class Span(id: Int, name: String, op: String, parent: Int,
    startNs: Long, endNs: Long) {
  def durNs: Long = endNs - startNs
}

/** Spans kept in memory while tracing is on; a no-op otherwise. */
final class Tracer(val enabled: Boolean) {
  private val spans = mutable.ArrayBuffer[Span]()
  private val stack = new ThreadLocal[List[Int]] {
    override def initialValue(): List[Int] = Nil
  }

  def span[T](name: String, op: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = spans.synchronized { spans += null; spans.size - 1 }
      val parent = stack.get().headOption.getOrElse(-1)
      stack.set(id :: stack.get())
      val t0 = System.nanoTime()
      try body
      finally {
        val t1 = System.nanoTime()
        stack.set(stack.get().tail)
        spans.synchronized { spans(id) = Span(id, name, op, parent, t0, t1) }
      }
    }

  def all: IndexedSeq[Span] = spans.synchronized(spans.filter(_ != null).toIndexedSeq)

  def clear(): Unit = spans.synchronized(spans.clear())

  /** Seconds of each span name's own time: its duration minus the part
    * of it that its child spans cover.
    */
  def selfSeconds: Map[String, Double] = {
    val ss = all
    val children = ss.groupBy(_.parent)
    ss.groupBy(_.name).map { case (name, group) =>
      name -> group.map { s =>
        val covered = Stats.unionNs(children.getOrElse(s.id, Nil)
          .map(c => (c.startNs, c.endNs)))
        (s.durNs - covered).toDouble / 1e9
      }.sum
    }
  }

  def write(path: java.nio.file.Path): Unit = {
    val sb = new StringBuilder
    all.foreach { s =>
      sb.append(s"""{"id":${s.id},"name":"${s.name}","op":"${s.op}",""" +
        s""""parent":${s.parent},"start_ns":${s.startNs},"end_ns":${s.endNs}}""" + "\n")
    }
    java.nio.file.Files.createDirectories(path.getParent)
    java.nio.file.Files.writeString(path, sb.toString)
  }
}

object Stats {
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val pos = q * (s.size - 1)
      val lo = math.floor(pos).toInt
      val hi = math.ceil(pos).toInt
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Total length of the union of [start, end) intervals. */
  def unionNs(iv: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    iv.sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) {
        if (curE > curS) total += curE - curS
        curS = s; curE = e
      } else if (e > curE) curE = e
    }
    if (curE > curS) total += curE - curS
    total
  }
}

/** Spark-side per-layer counters: a SparkListener for jobs, stages and
  * task metrics, a QueryExecutionListener for driver planning phases,
  * and a StreamingQueryListener for micro-batch progress. Registered
  * only on traced runs.
  */
final class SparkLayers(spark: SparkSession) extends SparkListener {
  @volatile var jobs, stages, tasks = 0L
  @volatile var cpuNs, runMs, gcMs = 0L
  @volatile var shuffleWrite, shuffleRead, spill, input, output = 0L
  private val jobStart = mutable.HashMap[Int, Long]()
  val jobIntervals = mutable.ArrayBuffer[(Long, Long)]() // epoch ms
  @volatile var planMs = 0L
  val progress = mutable.ArrayBuffer[org.apache.spark.sql.streaming.StreamingQueryProgress]()

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    jobs += 1; jobStart(e.jobId) = e.time
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobStart.remove(e.jobId).foreach(s => jobIntervals += ((s, e.time)))
  }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    synchronized { stages += 1 }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    tasks += 1
    val m = e.taskMetrics
    if (m != null) {
      cpuNs += m.executorCpuTime
      runMs += m.executorRunTime
      gcMs += m.jvmGCTime
      shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      shuffleRead += m.shuffleReadMetrics.totalBytesRead
      spill += m.memoryBytesSpilled + m.diskBytesSpilled
      input += m.inputMetrics.bytesRead
      output += m.outputMetrics.bytesWritten
    }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      record(qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
      record(qe)
    private def record(qe: QueryExecution): Unit = SparkLayers.this.synchronized {
      planMs += qe.tracker.phases.values.map(_.durationMs).sum
    }
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      SparkLayers.this.synchronized { progress += e.progress }
  }

  def register(): this.type = {
    spark.sparkContext.addSparkListener(this)
    spark.listenerManager.register(qeListener)
    spark.streams.addListener(streamListener)
    this
  }

  /** Wait until every posted event has reached the listeners. */
  def drain(): Unit = org.apache.spark.PerfbenchBus.drain(spark.sparkContext)

  /** (jobs, input bytes) so far. */
  def counts(): (Long, Long) = { drain(); synchronized((jobs, input)) }

  /** Reset counters at the start of the timed region. */
  def reset(): Unit = { drain(); synchronized {
    jobs = 0; stages = 0; tasks = 0; cpuNs = 0; runMs = 0; gcMs = 0
    shuffleWrite = 0; shuffleRead = 0; spill = 0; input = 0; output = 0
    jobIntervals.clear(); planMs = 0; progress.clear()
  } }

  /** The spark.* metrics over a timed region of `wallS` seconds. */
  def metrics(wallS: Double, wallStartMs: Long, wallEndMs: Long,
      cores: Int): Seq[(String, Double, String)] = {
    drain()
    synchronized {
      val inWindow = jobIntervals.map { case (s, e) =>
        (math.max(s, wallStartMs), math.min(e, wallEndMs)) }.filter(x => x._2 > x._1)
      val busyS = Stats.unionNs(inWindow.toSeq).toDouble / 1e3
      Seq(
        ("spark.jobs", jobs.toDouble, "count"),
        ("spark.stages", stages.toDouble, "count"),
        ("spark.tasks", tasks.toDouble, "count"),
        ("spark.exec_cpu_s", cpuNs / 1e9, "s"),
        ("spark.exec_run_s", runMs / 1e3, "s"),
        ("spark.gc_s", gcMs / 1e3, "s"),
        ("spark.slot_busy_ratio", if (wallS > 0) runMs / 1e3 / (wallS * cores) else 0.0, "ratio"),
        ("spark.driver_plan_ms", planMs.toDouble, "ms"),
        ("spark.driver_gap_s", math.max(0.0, wallS - busyS), "s"),
        ("spark.shuffle_write_bytes", shuffleWrite.toDouble, "bytes"),
        ("spark.shuffle_read_bytes", shuffleRead.toDouble, "bytes"),
        ("spark.spill_bytes", spill.toDouble, "bytes"),
        ("spark.input_bytes", input.toDouble, "bytes"),
        ("spark.output_bytes", output.toDouble, "bytes"))
    }
  }
}
