package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Measured evidence that the skew escape hatches WIN under a planted
  * hot key (VERDICT r6 item 5) — not just that they complete.
  *
  * Two scenarios, one JSON line each (min of `SPARK_GRAFT_BENCH_PASSES`
  * passes, default 2), plus an equivalence checksum so the timed plans
  * are provably computing the same answer:
  *
  *  1. `asof`: one user owns ~50% of a day of quotes AND trades.
  *     [[graft.operators.Asof.joinAsOf]] (carry-forward) serializes
  *     that user's whole day into ONE sort task;
  *     [[graft.operators.Asof.joinAsOfBinned]] shuffles on
  *     (user, time-bucket) and spreads it over the day's buckets.
  *  2. `agg`: events replicated to ~2M rows, remapped so one user owns
  *     ~50%, then pre-clustered by user (`repartition(user_id)` — the
  *     post-join shape) and cached. A groupBy with a per-row JSON
  *     extraction then runs the hot partition's ~1M extractions in one
  *     task; [[graft.operators.Skew.saltedAgg]] with `spread = true`
  *     physically redistributes the rows over (user, salt) first.
  *     (Without `spread`, HashPartitioning(user) satisfies the salted
  *     clustering and nothing moves — SkewEvidenceSpec pins that
  *     pitfall.)
  *
  * Results go to BASELINE.md's skew-evidence table. Run:
  *   sbt "runMain graft.SkewBench"   (env: SPARK_GRAFT_SF_DIR, _CPUS)
  */
object SkewBench {

  private val dayMicros = 86400L * 1000000L

  private def timeIt(body: => Unit): Double = {
    val t0 = System.nanoTime(); body; (System.nanoTime() - t0) / 1e9
  }

  private def materialize(df: DataFrame): Unit =
    df.write.mode("overwrite").format("noop").save()

  /** order-independent content checksum over every column */
  private def checksum(df: DataFrame): Long = {
    val h = xxhash64(df.columns.map(c => col(c).cast("string")): _*)
    df.select(sum(h)).collect()(0).getLong(0)
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val passes = sys.env.get("SPARK_GRAFT_BENCH_PASSES")
      .flatMap(s => scala.util.Try(s.trim.toInt).toOption).filter(_ >= 1).getOrElse(2)
    val spark = Engine.session(appName = "graft-skewbench")
    import spark.implicits._

    def report(name: String, secs: Seq[Double], extra: String = ""): Unit = {
      println(s"""{"case":"$name","sec":${secs.min},"passes":${secs.size}$extra}""")
      Console.out.flush()
    }

    // ---- scenario 1: as-of under a 50% hot key --------------------
    // hot user 0: 3M quotes + 750k trades in one day; 31 cold users
    // share the other half. Deterministic times from xxhash64(id).
    //
    // Tolerance choice is the binned plan's cost model in action: at
    // hot density ~46 quotes/sec, a 0.2 s tolerance keeps candidate
    // intervals per point at ~9 (so the pre-aggregation join grain
    // stays near the point count), while the carry-forward plan must
    // still sort the hot user's 5M rows in ONE task. A wide tolerance
    // (say 1 h => ~170k candidates/point) would invert the verdict —
    // documented on [[graft.operators.Asof.joinAsOfBinned]]: binning
    // is the HOT-KEY hatch, not a free replacement, and its win
    // window is bounded-tolerance lookups on a dense hot key.
    val nHotQ = 4000000L; val nColdQ = 4000000L
    val nHotT = 1000000L; val nColdT = 1000000L
    def userOf(id: org.apache.spark.sql.Column, hot: Long) =
      when(id < hot, 0L).otherwise(pmod(id, lit(31)) + 1)
    val quotes = spark.range(nHotQ + nColdQ).select(
      userOf($"id", nHotQ).as("user_id"),
      timestamp_micros(pmod(xxhash64($"id"), lit(dayMicros))).as("qts"),
      $"id".as("quote_id"),
      ($"id" % 10000).cast("double").as("px"))
    val trades = spark.range(nHotT + nColdT).select(
      userOf($"id", nHotT).as("user_id"),
      timestamp_micros(pmod(xxhash64($"id" + 7777777L), lit(dayMicros))).as("tts"),
      $"id".as("trade_id"))
    val tol = 200000L // 0.2s

    def asofPlain = graft.operators.Asof.joinAsOf(trades, quotes,
      Seq("user_id"), "tts", "qts", "quote_id", toleranceMicros = Some(tol))
    def asofBinned = graft.operators.Asof.joinAsOfBinned(trades, quotes,
      Seq("user_id"), "tts", "qts", "quote_id",
      toleranceMicros = tol, bucketMicros = tol)

    System.err.println("[skewbench] asof equivalence check")
    val ckPlain = checksum(asofPlain)
    val ckBinned = checksum(asofBinned)
    require(ckPlain == ckBinned,
      s"as-of plans disagree: $ckPlain vs $ckBinned")
    System.err.println("[skewbench] asof timed passes")
    report("asof_carry_forward",
      (1 to passes).map(_ => timeIt(materialize(asofPlain))))
    report("asof_binned",
      (1 to passes).map(_ => timeIt(materialize(asofBinned))),
      s""","checksum":$ckPlain""")

    // ---- scenario 2: pre-clustered aggregation with per-row work --
    // real events table replicated x60 (~6M rows at sf0.1), one user
    // remapped to own ~50%, pre-clustered by user and CACHED so both
    // timed plans start from identical concentrated partitions.
    val copies = 60
    System.err.println("[skewbench] building pre-clustered events cache")
    val ev = Tables.events(spark, sfDir)
      .withColumn("__c", explode(sequence(lit(0), lit(copies - 1))))
      .withColumn("event_id", $"event_id" * copies + $"__c")
      .withColumn("user_id",
        when(pmod(xxhash64($"event_id", lit("skew")), lit(2)) === 0, 0L)
          .otherwise(pmod(xxhash64($"event_id", lit("cold")), lit(63)) + 1))
      .select("event_id", "user_id", "value", "props")
    val pre = ev.repartition($"user_id").persist()
    val total = pre.count()

    val aggs = Map(
      "k_sum" -> (get_json_object($"props", "$.k").cast("long"), "sum"),
      "n" -> (lit(1L), "count"),
      "v_avg" -> ($"value", "avg"))
    def aggPlain = pre.groupBy("user_id").agg(
      sum(get_json_object($"props", "$.k").cast("long")).as("k_sum"),
      count(lit(1L)).as("n"), avg($"value").as("v_avg"))
    def aggSalted = graft.operators.Skew.saltedAgg(
      pre, Seq("user_id"), saltBuckets = 64, aggs, spread = true)

    // equivalence (exact on long sum/count; avg compared to 1e-9 rel)
    val p = aggPlain.collect().map(r => r.getLong(0) ->
      (r.getLong(1), r.getLong(2), r.getDouble(3))).toMap
    val s = aggSalted.collect().map(r => r.getAs[Long]("user_id") ->
      (r.getAs[Long]("k_sum"), r.getAs[Long]("n"), r.getAs[Double]("v_avg"))).toMap
    require(p.keySet == s.keySet && p.forall { case (k, (ks, n, va)) =>
      s(k)._1 == ks && s(k)._2 == n &&
        math.abs(s(k)._3 - va) <= math.abs(va) * 1e-9 },
      "salted aggregation disagrees with plain")
    report("agg_plain_preclustered",
      (1 to passes).map(_ => timeIt(materialize(aggPlain))),
      s""","rows":$total""")
    report("agg_salted_spread",
      (1 to passes).map(_ => timeIt(materialize(aggSalted))))

    spark.stop()
  }
}
