package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, StandardCopyOption}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import graft.streaming.StreamingSilver

/** Small hourly bronze files land a few at a time, and after each landing
  * one call runs the AvailableNow silver stream
  * (`writeSilver(firstSeenStream(silverStream(..)))`) over them. A file's
  * lag runs from its landing to the end of the writeSilver call that
  * processed it.
  */
object StreamIngest {

  final class Dirs(root: Path) {
    val bronze: Path = root.resolve("bronze")
    val staging: Path = root.resolve("staging")
    val sink: Path = root.resolve("sink")
    val ckpt: Path = root.resolve("checkpoint")
    Seq(bronze, staging).foreach(Files.createDirectories(_))
  }

  /** Land one file atomically: write outside the source glob, then move. */
  def land(d: Dirs, f: Gen.HourFile, json: String): Path = {
    val tmp = d.staging.resolve(f.name)
    Files.write(tmp, json.getBytes(StandardCharsets.UTF_8))
    val dayDir = Files.createDirectories(d.bronze.resolve(f.date.toString))
    Files.move(tmp, dayDir.resolve(f.name), StandardCopyOption.ATOMIC_MOVE)
  }

  /** Files the stream has committed to a batch so far, read from its
    * source log (plain and compacted entries alike).
    */
  def processedFiles(d: Dirs): Set[String] = {
    val log = d.ckpt.resolve("sources").resolve("0")
    if (!Files.exists(log)) Set.empty
    else {
      val s = Files.list(log)
      try s.iterator().asScala.filterNot(_.getFileName.toString.startsWith("."))
        .flatMap(p => Files.readAllLines(p).asScala)
        .flatMap(l => "\"path\":\"([^\"]+)\"".r.findFirstMatchIn(l).map(_.group(1)))
        .map(p => p.substring(p.lastIndexOf('/') + 1)).toSet
      finally s.close()
    }
  }

  def run(c: Ctx): Unit = {
    val warm = c.int("warm_files")
    val perCall = c.int("files_per_call")
    val calls = c.opsFor("call_s")
    val nFiles = warm + calls * perCall
    val maxFiles = c.int("max_files_per_trigger")
    val files = Gen.hourFiles(c.seed, nFiles, c.int("files_per_day"),
      c.int("listings_per_day"), c.dbl("carry_share"), c.int("items"),
      java.time.LocalDate.parse("2026-01-01"))
    val jsons = files.map(f => Gen.snapshotJson(f.listings))
    val cycleStart = mutable.ArrayBuffer[Double]()

    def cycle(d: Dirs, op: String): Unit = c.tracer.span("streaming.cycle", op) {
      val t0 = System.nanoTime()
      val q = c.tracer.span("streaming.start", op)(StreamingSilver.writeSilver(
        StreamingSilver.firstSeenStream(
          StreamingSilver.silverStream(c.spark, d.bronze.toString, maxFiles)),
        d.sink.toString, d.ckpt.toString))
      val t1 = System.nanoTime()
      c.tracer.span("streaming.run", op)(q.awaitTermination())
      q.exception.foreach(e => throw e)
      cycleStart += (t1 - t0) / 1e6
    }

    val dirs = c.setup(c.int("setup_reps")) { rep =>
      if (rep > 0) Fs.deleteTree(c.dir.resolve(s"stream${rep - 1}"))
      val d = new Dirs(c.dir.resolve(s"stream$rep"))
      (0 until warm).foreach(i => land(d, files(i), jsons(i)))
      cycle(d, s"setup$rep")
      d
    }
    cycleStart.clear()

    // Closed loop: land the next `files_per_call` hourly files, then run
    // one writeSilver call over them. Every run of a given --seconds makes
    // the same calls over the same number of files, so the call wall does
    // not depend on how many files happened to land while the previous
    // call ran.
    val lagMs = mutable.ArrayBuffer[Double]()
    val callMs = mutable.ArrayBuffer[Double]()
    var seen = processedFiles(dirs)
    c.timed {
      (0 until calls).foreach { k =>
        val landedAt = (warm + k * perCall until warm + (k + 1) * perCall).flatMap { i =>
          c.attempt(s"land ${files(i).name}")(land(dirs, files(i), jsons(i)))
            .map(_ => files(i).name -> System.nanoTime())
        }.toMap
        val s0 = System.nanoTime()
        c.attempt(s"writeSilver call $k")(cycle(dirs, s"call$k"))
        val end = System.nanoTime()
        callMs += (end - s0) / 1e6
        val now = processedFiles(dirs)
        (now -- seen).foreach(f => landedAt.get(f).foreach(l => lagMs += (end - l) / 1e6))
        seen = now
      }
    }

    // ---- output checks: each first-seen id exactly once in the sink
    c.check("every landed file was processed", seen.size == nFiles,
      s"${seen.size} of $nFiles")
    val firstDay = mutable.LinkedHashMap[Long, java.time.LocalDate]()
    files.foreach(f => f.listings.foreach(l => if (!firstDay.contains(l.id)) firstDay(l.id) = f.date))
    val sink = c.spark.read.parquet(dirs.sink.toString)
      .select("id", "snapshot_date").collect()
      .map(r => r.getLong(0) -> r.getDate(1).toLocalDate)
    val counts = sink.groupBy(_._1).map { case (id, rs) => id -> rs.length }
    val dup = counts.count(_._2 > 1)
    c.check("the sink holds each id at most once", dup == 0, s"$dup ids repeat")
    c.check("the sink holds every first-seen id", counts.keySet == firstDay.keySet,
      s"${counts.size} ids in sink, ${firstDay.size} expected")
    // Not a gate: within one micro-batch the duplicate that survives is
    // arbitrary, so when a batch spans a day boundary an id can keep its
    // later day. Reported so the divergence from batch silver stays visible.
    val laterDay = sink.count { case (id, d) => firstDay.get(id).exists(_ != d) }
    println(s"note: $laterDay of ${sink.length} sink rows carry a later day than the id's first file")

    val inputRows = files.map(_.listings.size.toLong).sum
    val timedRows = files.drop(warm).map(_.listings.size.toLong).sum
    // the mean over all calls: every run makes the same sequence of calls,
    // and the calls after the first day boundary are slower than the ones
    // before it, so a median would sit on that step
    c.endToEnd("op_ms") = (callMs.sum / callMs.size, "ms")
    c.endToEnd("ops_per_s") = (timedRows / (callMs.sum / 1e3), "1/s")
    c.named("stream_lag_p50_s") = (Stats.median(lagMs.toSeq) / 1e3, "s")
    c.named("stream_lag_p90_s") = (Stats.quantile(lagMs.toSeq, 0.9) / 1e3, "s")
    c.named("writeSilver_p50_ms") = (Stats.median(callMs.toSeq), "ms")
    c.named("files") = (lagMs.size.toDouble, "count")
    c.named("writeSilver_calls") = (callMs.size.toDouble, "count")

    c.layers.foreach { l =>
      l.drain()
      val ps = l.synchronized(l.progress.toSeq)
      def p50(k: String) = Stats.median(ps.flatMap(p =>
        Option(p.durationMs.get(k)).map(_.doubleValue)))
      val state = ps.flatMap(_.stateOperators.headOption)
      c.layer("streaming.start_ms_p50", Stats.median(cycleStart.toSeq), "ms")
      c.layer("streaming.trigger_ms_p50", p50("triggerExecution"), "ms")
      Seq("addBatch" -> "add_batch", "walCommit" -> "wal_commit",
        "commitOffsets" -> "commit_offsets", "queryPlanning" -> "query_planning",
        "latestOffset" -> "latest_offset", "getBatch" -> "get_batch").foreach {
        case (k, n) => c.layer(s"streaming.${n}_ms_p50", p50(k), "ms")
      }
      c.layer("streaming.state_rows", state.lastOption.map(_.numRowsTotal.toDouble).getOrElse(0.0), "count")
      c.layer("streaming.state_mem_bytes", state.lastOption.map(_.memoryUsedBytes.toDouble).getOrElse(0.0), "bytes")
      c.layer("streaming.state_commit_ms_p50", Stats.median(state.map(_.commitTimeMs.toDouble)), "ms")
      val batches = ps.count(_.numInputRows > 0)
      c.layer("streaming.files_per_batch", (nFiles - warm).toDouble / math.max(1, batches), "count")
      c.layer("streaming.dup_drop_ratio", 1.0 - sink.length.toDouble / inputRows, "ratio")
    }
    Fs.deleteTree(c.dir.resolve(s"stream${c.int("setup_reps") - 1}"))
  }
}
