package graft

/** Perf harness: runs every SparkEntry query on SPARK_GRAFT_SF_DIR and
  * prints per-query timings incrementally plus ONE final aggregate JSON
  * line for the driver's BENCH_r{N}.json.
  *
  * Each query is materialized through the `noop` sink — a full
  * computation of every output column. (`df.count()` would let Catalyst
  * prune all projections down to a row count, timing a different,
  * cheaper plan than the query's.)
  *
  * Survivability (round-6 lesson: an external kill mid-pass left zero
  * parseable timings because the single JSON line printed only at the
  * very end):
  *   - a `{"query":name,"pass":k,"sec":t}` line is printed AND flushed
  *     the moment each query finishes, so a killed run still leaves a
  *     full per-query record up to the kill point;
  *   - after every completed pass a partial aggregate goes to stderr
  *     (stdout carries exactly one `"metric"` line — the final one — so
  *     a driver that greps for it can never pick a stale partial);
  *   - SPARK_GRAFT_BENCH_PASSES (default 2) lets a constrained run do
  *     warmup + 1 pass;
  *   - SPARK_GRAFT_BENCH_DEADLINE_SEC (default 1500) is a soft wall
  *     budget: once exceeded, remaining queries/passes are skipped and
  *     the final aggregate is printed from what completed — the bench
  *     degrades to fewer samples instead of dying with no artifact.
  *
  * Failures are reported explicitly as -1 (never as elapsed-until-throw,
  * which would fake a fast timing for a broken query).
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val passes = sys.env.get("SPARK_GRAFT_BENCH_PASSES")
      .flatMap(s => scala.util.Try(s.trim.toInt).toOption).filter(_ >= 1).getOrElse(2)
    val deadlineSec = sys.env.get("SPARK_GRAFT_BENCH_DEADLINE_SEC")
      .flatMap(s => scala.util.Try(s.trim.toDouble).toOption).filter(_ > 0).getOrElse(1500.0)
    val start = System.nanoTime()
    def elapsedSec = (System.nanoTime() - start) / 1e9
    def overDeadline = elapsedSec > deadlineSec
    // Optional comma-separated name filter for isolating single queries
    // (perf triage); the driver never sets it, so driver runs time all.
    val selected = QueryLoop.select(sys.env.get("SPARK_GRAFT_ONLY"))
    val spark = Engine.session(appName = "graft-bench")
    def noop(df: org.apache.spark.sql.DataFrame): Unit =
      df.write.mode("overwrite").format("noop").save()
    // JIT/codegen warmup: run everything once at the smallest sf so the
    // timed loop measures steady-state plans, not first-query JVM
    // compilation. Skipped if the bench target IS the smallest sf
    // (warming there would pre-fill the session mart caches and make
    // the timed numbers serving-only), and cut short if the deadline is
    // already threatened (a cold timed pass beats no timed pass).
    // Warmup budget is HARD-capped at 150 s (round-16: the old
    // 25%-of-deadline allowance let a loaded host spend 375 s warming
    // and then truncate the timed passes — 40 gates had no round-15
    // driver timing; a partially-warm timed pass beats a truncated one).
    val warmBudget = math.min(deadlineSec * 0.25, 150.0)
    val warmDir = "/root/testdata/sf0.001"
    if (new java.io.File(warmDir).isDirectory && warmDir != sfDir) {
      QueryLoop.run("bench-warmup", selected.toSeq.sortBy(_._1),
          stop = elapsedSec >= warmBudget) { (_, fn) => noop(fn(spark, warmDir)) }
      // evict the warmup-scale materializations: the timed loop should
      // own the block manager
      graft.queries.TestdataAdapter.clearCache(spark, warmDir)
    }
    // Rig calibration: a fixed, data-independent CPU measure (codegen'd
    // range reduction — no I/O, no shuffle) timed min-of-2 so any
    // cross-round comparison can divide out host-speed differences.
    // Round-9 lesson: a container rebuild shifted EVERY query ~1.4x
    // while code was provably unchanged; without a calibration constant
    // in the artifact that reads as a regression.
    def calibOnce(): Double = {
      val t0 = System.nanoTime()
      spark.range(1L << 28).selectExpr("sum(id * (id + 3))").collect()
      (System.nanoTime() - t0) / 1e9
    }
    // Memory-bound sibling probe (round-17): the range-sum probe is
    // pure ALU and misses memory-bandwidth/shuffle rig shifts — the
    // round-17 p146 control showed a window where sort/window-heavy
    // queries ran 2× while the CPU calib read normal. This probe
    // hash-aggregates 16M rows into 4M groups (shuffle + hash-table
    // pressure), so the pair (calib_cs, calib_mem_cs) separates
    // "host is CPU-slow" from "host is bandwidth-starved".
    def calibMemOnce(): Double = {
      val t0 = System.nanoTime()
      spark.range(1L << 24)
        .selectExpr("(id * 2654435761) % 4194304 AS k")
        .groupBy("k").count()
        .selectExpr("sum(count)").collect()
      (System.nanoTime() - t0) / 1e9
    }
    val calibSec = {
      calibOnce(); math.min(calibOnce(), calibOnce()) // warm codegen, then min of 2
    }
    val calibMemSec = {
      calibMemOnce(); math.min(calibMemOnce(), calibMemOnce())
    }
    // Per-pass calib probes (round-17, verdict ask #1): the round-16
    // artifact's pass 1 ran in a ~1.6x-degraded window and the deadline
    // cut pass 2 at the alphabet's tail, leaving ~70 queries with
    // contaminated single-sample timings and NO marker saying so. A
    // one-shot probe at each pass's start is recorded per pass, so a
    // reader can tell which pass a suspicious sample came from and
    // whether that window's floor disagreed with the run's best.
    val passCalib = scala.collection.mutable.ArrayBuffer.empty[Double]
    val passCalibMem = scala.collection.mutable.ArrayBuffer.empty[Double]
    var failed = Set.empty[String]
    // Up to `passes` full timed passes with the mart cache cleared in
    // between (so EVERY pass recomputes marts exactly like a fresh run),
    // then per-query min across passes. A single sample is hostage to
    // transient host load / GC (observed 4-23 s swings on the heavy
    // marts); the min of equivalent passes is the steady-state cost of
    // the plan, which is what the 2x gate should judge.
    //
    // EVEN passes run in REVERSE name order: the deadline truncates a
    // pass at its tail, so two same-order passes starve the SAME
    // queries of their second sample (round 16: everything >= `p95` in
    // name order was pass-1-only). Alternating direction means
    // truncation starves opposite ends — min-of-2 then keeps at least
    // one sample per query from whichever pass reached it first, and
    // under a degraded pass 1 the tail's only sample comes from the
    // (clean) pass 2 instead of the contaminated window.
    def timedPass(pass: Int): Map[String, Double] = {
      val acc = scala.collection.mutable.LinkedHashMap.empty[String, Double]
      val order0 = selected.toSeq.sortBy(_._1)
      val order = if (pass % 2 == 0) order0.reverse else order0
      failed ++= QueryLoop.run("bench", order, stop = overDeadline) { (name, fn) =>
        val t0 = System.nanoTime()
        var ok = false
        try { noop(fn(spark, sfDir)); ok = true }
        finally {
          val t = (System.nanoTime() - t0) / 1e9
          acc(name) = if (ok) t else Double.MaxValue
          // Double.toString always uses '.', locale-proof.
          println(s"""{"query":"$name","pass":$pass,"sec":${if (ok) t else -1.0}}""")
          Console.out.flush()
        }
      }
      acc.toMap
    }
    def aggregate(byPass: Seq[Map[String, Double]]): (String, Double, Seq[String]) = {
      val names = byPass.flatMap(_.keys).distinct.sorted
      val best = names.map { n =>
        val ts = byPass.flatMap(_.get(n))
        n -> (if (ts.isEmpty || ts.min == Double.MaxValue) -1.0 else ts.min)
      }
      val qs = best.map { case (k, v) => "\"" + k + "\":" + v }.mkString("{", ",", "}")
      val total = best.collect { case (_, v) if v >= 0 => v }.sum
      val skipped = selected.keys.toSeq.filterNot(names.contains).sorted
      (qs, total, skipped)
    }
    val completed = scala.collection.mutable.ArrayBuffer.empty[Map[String, Double]]
    var pass = 1
    var maxPasses = passes
    var lastPassSec = 0.0
    while (pass <= maxPasses && !overDeadline) {
      if (pass > 1) graft.queries.TestdataAdapter.clearCache(spark, sfDir)
      passCalib += calibOnce()
      passCalibMem += calibMemOnce()
      val passT0 = elapsedSec
      completed += timedPass(pass)
      lastPassSec = elapsedSec - passT0
      val (qs, total, skipped) = aggregate(completed.toSeq)
      // Partial aggregates go to stderr so stdout has exactly one
      // "metric" line for the driver to parse.
      System.err.println(
        s"""[bench] partial after pass $pass: {"metric":"total","value":$total,"queries":$qs,"skipped":${skipped.size},"elapsed":$elapsedSec}""")
      pass += 1
      // Double-degraded-window reaction (round-18, verdict ask #9):
      // when EVERY timed pass started in a window whose CPU probe read
      // > 2x the run's own pre-pass floor, min-of-N cannot recover an
      // honest sample (round 17 ran both passes at calib 42/29 cs vs a
      // 6 cs floor). Grant ONE extra pass if the deadline leaves room
      // for a full repeat — the timed contract per pass is unchanged,
      // the artifact just gets a chance at a clean sample, and the
      // per-pass calib array records which pass that was.
      if (pass > maxPasses && maxPasses == passes && completed.size == passes &&
          passCalib.forall(_ > 2 * calibSec) &&
          elapsedSec + lastPassSec * 1.2 < deadlineSec) {
        System.err.println(
          s"[bench] all $passes pass windows degraded >2x vs floor " +
            f"(${passCalib.map(c => f"$c%.2f").mkString(",")} vs $calibSec%.2f); " +
            "granting one extra pass")
        maxPasses = passes + 1
      }
    }
    val (qs, total, skipped) = aggregate(completed.toSeq)
    failed = failed.filter { n =>
      completed.forall(p => !p.get(n).exists(_ != Double.MaxValue))
    }
    val failedJson = failed.toSeq.sorted.map("\"" + _ + "\"").mkString("[", ",", "]")
    val skippedJson = skipped.map("\"" + _ + "\"").mkString("[", ",", "]")
    val calibCs = math.round(calibSec * 100)
    // One calib probe per completed/attempted pass (centiseconds): the
    // provenance record that lets a reader spot a degraded window
    // per-pass instead of inferring it from the whole run's min.
    val passCalibCs = passCalib.map(c => math.round(c * 100)).mkString("[", ",", "]")
    val calibMemCs = math.round(calibMemSec * 100)
    val passCalibMemCs = passCalibMem.map(c => math.round(c * 100)).mkString("[", ",", "]")
    println(s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,"failed":$failedJson,"skipped":$skippedJson,"passes":${completed.size},"sf":"$sfDir","calib_cs":$calibCs,"calib_pass_cs":$passCalibCs,"calib_mem_cs":$calibMemCs,"calib_mem_pass_cs":$passCalibMemCs}""")
    // The driver captures only the LAST ~2000 chars of stdout; the full
    // per-query line above is ~4 KB at 127 queries, so for eight rounds
    // the driver's "parsed" field came back null (the tail started
    // mid-JSON). Print one final COMPACT line sized under that window.
    // Round-16 encoding: at 258 queries even short-token keys overflow
    // the 1900-char guard (the r15 artifact lost q_cs), so q_cs is now a
    // SINGLE STRING of base-36 centiseconds, comma-joined in SORTED
    // QUERY-NAME order ("q_enc" names the scheme). Round-17 fix
    // (ADVICE): positions are aligned to the FULL selected name list
    // (SparkEntry.queries.keys.toSeq.sorted == the CORRECTNESS
    // artifact's keys) — a deadline-skipped query emits "-1" instead of
    // silently vanishing and shifting every later position, which was
    // exactly the failure mode this encoding exists for.
    // ~4 chars/query keeps 260 queries near 1.1 KB — under the window
    // with the head included.
    val allNames = selected.keys.toSeq.sorted
    val compactQs = allNames.map { n =>
      val ts = completed.toSeq.flatMap(_.get(n))
      if (ts.isEmpty || ts.min == Double.MaxValue) "-1"
      else java.lang.Long.toString(math.round(ts.min * 100), 36)
    }.mkString(",")
    // Single-sample provenance mask (verdict ask #1): bit i (name index
    // in the same sorted full list) is set iff the recorded value for
    // that query came from EXACTLY ONE completed sample — i.e. min-of-2
    // degraded to a lone pass and the per-pass calib array is the only
    // way to judge that sample's window. Encoded hex, 4 names per
    // char: name i lives in char i/4, bit (8 >> (i%4)).
    val q1Mask = allNames.map { n =>
      val ok = completed.toSeq.flatMap(_.get(n)).count(_ != Double.MaxValue)
      if (ok == 1) 1 else 0
    }
    val q1Hex = q1Mask.grouped(4).map { g =>
      val nib = g.padTo(4, 0).zip(Seq(8, 4, 2, 1)).map { case (b, w) => b * w }.sum
      java.lang.Integer.toHexString(nib)
    }.mkString
    val totalR = math.round(total * 100) / 100.0
    val head =
      s"""{"metric":"total","value":$totalR,"unit":"sec","n":${allNames.size},"failed":$failedJson,"skipped":${skipped.size},"passes":${completed.size},"sf":"$sfDir","calib_cs":$calibCs,"calib_pass_cs":$passCalibCs,"calib_mem_cs":$calibMemCs,"calib_mem_pass_cs":$passCalibMemCs"""
    val compactFull = head + s""","q_enc":"b36cs,sorted-names","q_cs":"$compactQs","q_p1":"$q1Hex"}"""
    // Hard guard: never emit a final line that itself overflows the
    // tail window — drop the per-query map before dropping parseability.
    val compact = if (compactFull.length <= 1900) compactFull else head + "}"
    println(compact)
    Console.out.flush()
    spark.stop()
  }
}
