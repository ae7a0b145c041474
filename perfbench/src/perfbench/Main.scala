package perfbench

import java.lang.management.{ManagementFactory, MemoryType}
import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

/** State shared by one workload run: the session, the seed, the
  * workload's parameters, failure accounting, output checks and the
  * metrics it reports.
  */
final class Ctx(val spark: SparkSession, val seed: Long,
    val seconds: Double, val trace: Boolean, val dir: Path, val cores: Int,
    params: Map[String, String]) {

  val tracer = new Tracer(trace)
  val layers: Option[SparkLayers] =
    if (trace) Some(new SparkLayers(spark).register()) else None

  private val attemptedN = new AtomicLong
  private val failedN = new AtomicLong
  def attempted: Long = attemptedN.get
  def failed: Long = failedN.get

  val endToEnd = mutable.LinkedHashMap[String, (Double, String)]()
  val named = mutable.LinkedHashMap[String, (Double, String)]()
  val perLayer = mutable.LinkedHashMap[String, (Double, String)]()
  val checks = mutable.ArrayBuffer[(String, Boolean, String)]()
  /** A digest of outputs that must repeat exactly for one seed. */
  var fingerprint: Option[String] = None

  def str(k: String): String =
    params.getOrElse(k, throw new IllegalArgumentException(s"missing parameter $k"))
  def int(k: String): Int = str(k).toInt
  def dbl(k: String): Double = str(k).toDouble

  /** Run one operation, counting it as attempted and, if it throws, as
    * failed. Every exception is printed.
    */
  def attempt[T](what: String)(body: => T): Option[T] = {
    attemptedN.incrementAndGet()
    try Some(body)
    catch {
      case NonFatal(e) =>
        failedN.incrementAndGet()
        System.err.println(s"[perfbench] FAILED $what: $e")
        e.printStackTrace()
        None
    }
  }

  def check(name: String, ok: Boolean, detail: => String = ""): Unit = {
    val d = if (ok) "" else detail
    checks += ((name, ok, d))
    println(s"check ${if (ok) "ok  " else "FAIL"} $name${if (d.nonEmpty) s": $d" else ""}")
  }

  /** Time `reps` fresh set-ups and keep the last one's state; setup_s is
    * their median.
    */
  def setup[T](reps: Int)(once: Int => T): T = {
    var last: Option[T] = None
    val times = (0 until reps).map { rep =>
      val t0 = System.nanoTime()
      last = Some(once(rep))
      (System.nanoTime() - t0) / 1e9
    }
    endToEnd("setup_s") = (Stats.median(times), "s")
    last.get
  }

  /** Bracket the timed region: resets the Spark counters before and
    * records the spark.* layer metrics right after.
    */
  def timed[T](body: => T): T = {
    layers.foreach(_.reset())
    tracer.clear()
    val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == MemoryType.HEAP).toSeq
    heapPools.foreach(_.resetPeakUsage())
    val w0 = System.currentTimeMillis()
    val t0 = System.nanoTime()
    val out = body
    val wallS = (System.nanoTime() - t0) / 1e9
    val w1 = System.currentTimeMillis()
    layers.foreach(_.metrics(wallS, w0, w1, cores).foreach { case (n, v, u) =>
      perLayer(n) = (v, u) })
    // heap growth, which the end-to-end RSS figure leaves out
    layer("jvm.heap_old_peak_mb", heapPools.filter(_.getName.contains("Old"))
      .map(_.getPeakUsage.getUsed).sum / 1048576.0, "MB")
    out
  }

  /** How many operations of nominal length `param` seconds fill the run:
    * a fixed count for a given --seconds, so every run does the same work.
    */
  def opsFor(param: String): Int = math.max(1, math.round(seconds / dbl(param)).toInt)

  def layer(name: String, value: Double, unit: String): Unit =
    if (trace) perLayer(name) = (value, unit)

  def spanSeconds(name: String): Double =
    tracer.all.filter(_.name == name).map(_.durNs).sum / 1e9
}

object Fs {
  def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.iterator().asScala.toSeq.reverse.foreach(Files.delete) finally s.close()
    }
}

object Main {

  private def usage(): Nothing = {
    System.err.println("usage: perfbench.Main --workload <name> --seed <n> " +
      "--seconds <s> --trace <0|1> --dir <run dir> --cores <n> [--param k=v ...]")
    sys.exit(2)
  }

  def main(args: Array[String]): Unit = {
    val opts = mutable.LinkedHashMap[String, String]()
    val params = mutable.LinkedHashMap[String, String]()
    args.grouped(2).foreach {
      case Array("--param", kv) if kv.contains("=") =>
        val (k, v) = kv.splitAt(kv.indexOf('=')); params(k) = v.drop(1)
      case Array(k, v) if k.startsWith("--") => opts(k.drop(2)) = v
      case _ => usage()
    }
    def opt(k: String) = opts.getOrElse(k, usage())
    val workload = opt("workload")
    val cores = opt("cores").toInt
    val dir = Paths.get(opt("dir")).toAbsolutePath
    Files.createDirectories(dir)

    val spark = graft.Engine.session(master = s"local[$cores]",
      shufflePartitions = cores, appName = s"perfbench-$workload")
    val ctx = new Ctx(spark, opt("seed").toLong, opt("seconds").toDouble,
      opt("trace") == "1", dir, cores, params.toMap)
    try {
      workload match {
        case "medallion_day" => MedallionDay.run(ctx)
        case "corpus_curation" => CorpusCuration.run(ctx)
        case "stream_ingest" => StreamIngest.run(ctx)
        case other => throw new IllegalArgumentException(s"unknown workload $other")
      }
    } catch {
      case NonFatal(e) =>
        // a workload that dies outside its per-operation accounting is a
        // failed run: report it and let the correctness flag say so
        System.err.println(s"[perfbench] workload $workload aborted: $e")
        e.printStackTrace()
        ctx.check("workload completed", ok = false, e.toString)
    }
    if (ctx.trace) {
      ctx.tracer.selfSeconds.toSeq.sortBy(_._1).foreach { case (n, s) =>
        ctx.perLayer(s"${n}_self_s") = (s, "s") }
      ctx.perLayer("trace.spans") = (ctx.tracer.all.size.toDouble, "count")
      ctx.tracer.write(dir.resolve("spans.jsonl"))
    }
    ctx.attempt("spark.stop")(spark.stop())
    println("RESULT " + resultJson(ctx))
  }

  private def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else java.lang.Double.toString(v)

  private def obj(m: collection.Map[String, (Double, String)]): String =
    m.map { case (k, (v, u)) => s""""$k":{"value":${num(v)},"unit":"$u"}""" }
      .mkString("{", ",", "}")

  def resultJson(c: Ctx): String = {
    val correct = c.checks.nonEmpty && c.checks.forall(_._2) && c.failed == 0
    val failedChecks = c.checks.filterNot(_._2).map(x =>
      "\"" + x._1.replace("\"", "'") + "\"").mkString("[", ",", "]")
    s"""{"correct":$correct,"attempted":${c.attempted},"failed":${c.failed},""" +
      s""""checks":${c.checks.size},"failed_checks":$failedChecks,""" +
      s""""fingerprint":${c.fingerprint.map(f => "\"" + f + "\"").getOrElse("null")},""" +
      s""""end_to_end":${obj(c.endToEnd)},"named":${obj(c.named)},""" +
      s""""per_layer":${obj(c.perLayer)}}"""
  }
}
