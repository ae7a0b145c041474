package perfbench

import java.nio.file.{Files, Path}
import java.util.concurrent.atomic.AtomicLong
import java.util.concurrent.locks.LockSupport

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions.col

import graft.Pipeline
import graft.silver.Dimensions

/** In-process stand-in for the Blizzard item API: a fixed per-lookup
  * delay and a fixed share of 404s (chosen by a hash of seed and id, so
  * an item's answer never changes).
  */
final class StubItemSource(seed: Long, delayMs: Double, share404: Double)
    extends Dimensions.ItemMetadataSource {
  val fetches = new AtomicLong
  val waitNs = new AtomicLong
  private val qualities = Array("Poor", "Common", "Uncommon", "Rare", "Epic")
  private val classes = Array("Trade Goods", "Armor", "Weapon", "Consumable")

  def is404(itemId: Long): Boolean =
    Gen.rng(seed ^ itemId, "dims").nextDouble() < share404

  override def fetch(itemId: Long): Option[Dimensions.ItemPayload] = {
    val t0 = System.nanoTime()
    val deadline = t0 + (delayMs * 1e6).toLong
    while (System.nanoTime() < deadline)
      LockSupport.parkNanos(deadline - System.nanoTime())
    fetches.incrementAndGet()
    waitNs.addAndGet(System.nanoTime() - t0)
    if (is404(itemId)) None
    else Some(Dimensions.ItemPayload(Some(s"Item $itemId"),
      Some(qualities((itemId % qualities.length).toInt)),
      Some(classes((itemId % classes.length).toInt)), None))
  }
}

/** Batch write path: `Pipeline.runDay` one day after another over a
  * warehouse that set-up bootstrapped, with retention dropping
  * partitions inside the run. Traced runs call the same steps runDay
  * composes, one span each; the run's fingerprint is a digest of the
  * warehouse state the days leave, so a traced run whose composition
  * drifts from runDay's fails against the untraced run of its seed.
  * After the timed days, the dashboard's read path is served over the
  * gold tables the run wrote.
  */
object MedallionDay {

  /** A digest of the warehouse state: silver, dims and every gold mart
    * but G2, whose bars key on processing time. Wall-clock columns are
    * left out and doubles are rounded as [[Serving.render]] does, so the
    * digest repeats for a seed, traced or not.
    */
  def stateDigest(p: Pipeline): String = {
    val wallClock = Set("created_at", "last_updated")
    val marts = Seq("g1_daily_market_summary", "g3_market_opportunities",
      "g4_item_demand", "g5_market_concentration", "g6_market_index",
      "g7_sector_trends")
    val md = java.security.MessageDigest.getInstance("SHA-256")
    (Seq("silver" -> p.silver, "dims" -> p.dims) ++ marts.map(n => n -> p.gold(n)))
      .foreach { case (name, df) =>
        val cols = df.columns.filterNot(wallClock).sorted
        md.update(s"$name(${cols.mkString(",")})\n".getBytes("UTF-8"))
        Serving.render(df.select(cols.map(col): _*).collect()).sorted
          .foreach(r => md.update((r + "\n").getBytes("UTF-8")))
      }
    md.digest().take(8).map(b => f"$b%02x").mkString
  }

  /** Parquet files under `root` modified at or after `sinceMs`. */
  def filesSince(root: Path, sinceMs: Long): (Long, Long) =
    if (!Files.exists(root)) (0L, 0L)
    else {
      val s = Files.walk(root)
      try {
        val fs = s.iterator().asScala.filter { p =>
          Files.isRegularFile(p) && p.getFileName.toString.endsWith(".parquet") &&
            Files.getLastModifiedTime(p).toMillis >= sinceMs
        }.toSeq
        (fs.size.toLong, fs.map(Files.size).sum)
      } finally s.close()
    }

  def run(c: Ctx): Unit = {
    val retention = c.int("retention_days")
    val stub = new StubItemSource(c.seed, c.dbl("dim_delay_ms"), c.dbl("dim_404_share"))
    def newDays() = new Gen.AuctionDays(c.seed, c.int("listings_per_day"),
      c.dbl("carry_share"), c.int("items"), c.int("malformed_per_day"),
      java.time.LocalDate.parse("2026-01-01"))

    val (p, days, truth, wh) = c.setup(c.int("setup_reps")) { rep =>
      val wh = c.dir.resolve(s"warehouse$rep")
      if (rep > 0) Fs.deleteTree(c.dir.resolve(s"warehouse${rep - 1}"))
      val days = newDays()
      val truth = new Gen.SilverTruth(retention)
      val p = new Pipeline(c.spark, wh.toString)
      // the oldest bootstrap days land in bronze and silver only (they exist
      // so that retention has partitions to drop); the last one is a full
      // runDay, which also warms the JVM up
      val boot = c.int("bootstrap_days")
      (0 until boot).foreach { i =>
        val (d, ls) = days.next()
        truth.day(d, ls)
        if (i < boot - 1) { p.ingest(d, Gen.snapshotJson(ls)); p.runSilver(d) }
        else p.runDay(d, Gen.snapshotJson(ls), stub, retention)
      }
      (p, days, truth, wh)
    }

    stub.fetches.set(0); stub.waitNs.set(0)
    val dayMs = mutable.ArrayBuffer[Double]()
    var listings = 0L
    var bronzeBytes = 0L
    var rowsNew = 0L
    var dropped = 0L
    var goldFiles, goldBytes = 0L
    val silverCounts = mutable.ArrayBuffer[(java.time.LocalDate, Long, Long)]()
    c.timed {
      while (dayMs.size < c.opsFor("day_s")) {
        val (d, ls) = days.next()
        val json = Gen.snapshotJson(ls)
        val expectNew = truth.day(d, ls)
        val op = d.toString
        val t0 = System.nanoTime()
        c.attempt(s"runDay $d") {
          if (!c.trace) p.runDay(d, json, stub, retention)
          else c.tracer.span("pipeline.day", op) {
            c.tracer.span("sources.ingest", op)(p.ingest(d, json))
            val n = c.tracer.span("silver.run", op)(p.runSilver(d))
            silverCounts += ((d, n, expectNew))
            rowsNew += n
            val (_, changed) = c.tracer.span("silver.dims", op)(p.runDimsTracked(stub))
            val goldStart = System.currentTimeMillis()
            c.tracer.span("gold.incr", op)(p.runGoldIncremental(d))
            c.tracer.span("gold.refresh", op)(p.refreshDimAffectedGold(changed))
            val (fs, bs) = filesSince(wh.resolve("gold"), goldStart)
            goldFiles += fs; goldBytes += bs
            val (_, n2) = c.tracer.span("pipeline.retention", op)(p.runRetention(d, retention))
            dropped += n2
          }
        }
        dayMs += (System.nanoTime() - t0) / 1e6
        listings += ls.size
        bronzeBytes += json.length
      }
    }

    // ---- output checks (outside the timed region)
    silverCounts.foreach { case (d, got, want) =>
      c.check(s"runSilver($d) inserts the first-seen truth", got == want, s"$got != $want")
    }
    val perDay = p.silver.groupBy("snapshot_date").count().collect()
      .map(r => r.getDate(0).toLocalDate -> r.getLong(1)).toMap
    c.check("silver partitions equal the retained first-seen truth",
      perDay == truth.newByDay.toMap, s"$perDay != ${truth.newByDay.toMap}")
    val silverRows = p.silver.count()
    c.check("silver row count equals the first-seen truth",
      silverRows == truth.retainedRows, s"$silverRows != ${truth.retainedRows}")
    val g1 = p.gold("g1_daily_market_summary").select(col("snapshot_date"), col("item_id"))
      .collect().groupBy(_.getDate(0).toLocalDate)
      .map { case (d, rs) => d -> rs.map(r => if (r.isNullAt(1)) None else Some(r.getLong(1))).toSeq }
    val g1Dup = g1.exists { case (_, ids) => ids.size != ids.distinct.size }
    c.check("G1 has one row per (item, day)", !g1Dup, "duplicate (item, day) rows")
    c.check("G1 holds the (item, day) rows the truth predicts",
      g1.map { case (d, ids) => d -> ids.toSet } == truth.g1Items.toMap,
      s"days ${g1.keys.toSeq.sorted} vs ${truth.g1Items.keys.toSeq.sorted}")

    c.fingerprint = Some(stateDigest(p))

    Serving.phase(c, p, days.items, c.int("serve_passes"))

    val totalS = dayMs.sum / 1e3
    c.endToEnd("op_ms") = (dayMs.sum / dayMs.size, "ms")
    c.endToEnd("ops_per_s") = (listings / totalS, "1/s")
    c.named("day_s_p50") = (Stats.median(dayMs.toSeq) / 1e3, "s")
    c.named("listings_per_s") = (listings / totalS, "1/s")
    c.named("days") = (dayMs.size.toDouble, "count")

    c.layer("sources.ingest_s", c.spanSeconds("sources.ingest"), "s")
    c.layer("sources.bronze_bytes", bronzeBytes.toDouble, "bytes")
    c.layer("silver.run_s", c.spanSeconds("silver.run"), "s")
    c.layer("silver.rows_in", listings.toDouble, "count")
    c.layer("silver.rows_new", rowsNew.toDouble, "count")
    c.layer("silver.new_ratio", rowsNew.toDouble / math.max(1L, listings), "ratio")
    c.layer("silver.dims_s", c.spanSeconds("silver.dims"), "s")
    c.layer("silver.dim_fetches", stub.fetches.get.toDouble, "count")
    c.layer("silver.dim_fetch_wait_s", stub.waitNs.get / 1e9, "s")
    c.layer("gold.incr_s", c.spanSeconds("gold.incr"), "s")
    c.layer("gold.refresh_s", c.spanSeconds("gold.refresh"), "s")
    c.layer("gold.files_written", goldFiles.toDouble, "count")
    c.layer("gold.bytes_written", goldBytes.toDouble, "bytes")
    c.layer("pipeline.retention_s", c.spanSeconds("pipeline.retention"), "s")
    c.layer("pipeline.partitions_dropped", dropped.toDouble, "count")
    Fs.deleteTree(wh)
  }

}
