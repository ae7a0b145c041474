package graft

import java.nio.file.{Files, Path, Paths}
import java.time.LocalDate
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

import graft.gold.Marts
import graft.operators.SessionCache
import graft.schema.Schemas
import graft.silver.{Dimensions, SilverTransform}
import graft.sources.Bronze

/** The materialized medallion pipeline (SURVEY §3 E1): the reference's
  * daily Dagster run `raw_auctions_data -> silver_auctions -> dim_items`
  * plus the gold layer, as one driver program over a warehouse of
  * date-partitioned parquet tables.
  *
  * Dependency = function composition (no scheduler needed for parity,
  * SURVEY §1.1); persistence = parquet dirs (Delta is not in the image;
  * where the reference does `ON CONFLICT` upserts we do anti-join +
  * atomic directory swap, the MERGE-less equivalent).
  *
  * Layout (all under one warehouse root):
  *   bronze/{date}/raw_auctions_{date}.json     (S2, raw objects)
  *   silver_auctions/snapshot_date=.../          (S5, first-seen facts)
  *   dim_items/                                  (S6, upserted dims)
  *   gold/<mart>/                                (G1-G7, recomputed)
  *
  * At 100 TB: same layout on object storage; silver writes stay
  * append-only per date partition (no rewrite of history), retention
  * is a metadata-only partition drop, and every gold job reads only
  * the partitions inside its window.
  */
final class Pipeline(spark: SparkSession, warehouse: String) {

  val bronze = new Bronze(s"$warehouse/bronze",
    spark.sparkContext.hadoopConfiguration)
  private val silverPath = s"$warehouse/silver_auctions"
  private val bronzeDailyPath = s"$warehouse/bronze_daily"
  private val dimsPath = s"$warehouse/dim_items"
  private def goldPath(name: String) = s"$warehouse/gold/$name"

  // ---- single-writer guard (round-6 verdict item 6). Parquet dirs +
  // rename swaps have no transaction layer — where the reference had
  // Postgres transactions (postgres_client.py:26-50), two concurrent
  // runDay/upsert writers here could interleave tmp/old swaps and
  // corrupt a table SILENTLY. Every mutating entry point takes a
  // warehouse-level lock (atomic directory create); a second writer
  // fails LOUDLY instead. The lock records its owner (pid + acquire
  // time); a crash-orphaned lock must be removed by the operator —
  // refusing to auto-break it is deliberate, the owner may be alive.
  // At scale this is exactly the slot Delta/Iceberg optimistic commits
  // replace. A Pipeline instance is single-threaded by contract
  // (matching the reference's one Dagster run); `lockDepth` makes
  // composite runs (runDay) reentrant over their own steps.
  private val writerLockPath = Paths.get(s"$warehouse/.graft_writer.lock")
  private var lockDepth = 0

  private def withWriterLock[T](body: => T): T =
    if (lockDepth > 0) { lockDepth += 1; try body finally lockDepth -= 1 }
    else {
      try Files.createDirectory(writerLockPath)
      catch {
        case _: java.nio.file.FileAlreadyExistsException =>
          val owner = scala.util.Try(
            Files.readString(writerLockPath.resolve("owner"))).getOrElse("unknown")
          throw new IllegalStateException(
            s"another writer holds $writerLockPath (owner: $owner). " +
              "Concurrent warehouse writers are unsupported: parquet " +
              "directory swaps have no transaction layer, so a second " +
              "writer could silently corrupt tables. If the owner " +
              "process is dead, remove the lock directory and re-run.")
      }
      scala.util.Try(Files.writeString(writerLockPath.resolve("owner"),
        s"pid=${ProcessHandle.current().pid()} acquired=${java.time.Instant.now()}"))
      lockDepth = 1
      try body finally { lockDepth = 0; deleteRecursively(writerLockPath) }
    }

  // ---- S8: DDL bootstrap — create-if-not-exists with explicit
  // schemas on every pipeline construction, like the reference's
  // Base.metadata.create_all on client init (database.py:24-27).
  // A crash between the two renames of an atomic swap leaves the live
  // dir missing with the data in `.old` — recover it BEFORE the
  // bootstrap would recreate the table empty.
  recoverInterruptedSwap(dimsPath)
  ensureTable(silverPath, Schemas.silverAuction, Seq("snapshot_date"))
  ensureTable(dimsPath, Schemas.itemDim, Nil)

  private def recoverInterruptedSwap(path: String): Unit = {
    val live = Paths.get(path)
    val old = Paths.get(path + ".old")
    if (!Files.exists(live) && Files.exists(old)) Files.move(old, live)
  }

  private def ensureTable(path: String,
      schema: org.apache.spark.sql.types.StructType,
      partitionCols: Seq[String]): Unit =
    if (!Files.exists(Paths.get(path))) {
      val empty = spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
      val w = empty.write.mode(SaveMode.Overwrite)
      (if (partitionCols.nonEmpty) w.partitionBy(partitionCols: _*) else w)
        .parquet(path)
    }

  def silver: DataFrame = spark.read.schema(Schemas.silverAuction).parquet(silverPath)
  def dims: DataFrame = spark.read.schema(Schemas.itemDim).parquet(dimsPath)
  def gold(name: String): DataFrame = spark.read.parquet(goldPath(name))

  // Typed views (case-class Encoders) for callers that want compile-
  // time row shapes; the modifiers array stays DataFrame-side (typed
  // ops drop columns absent from the case class).
  def silverDs: org.apache.spark.sql.Dataset[graft.schema.SilverAuction] = {
    import spark.implicits._
    silver.drop("modifiers").as[graft.schema.SilverAuction]
  }

  /** E1 step 1 — land a raw snapshot document into bronze (S2). The
    * document comes from the S1 REST edge or a fixture; ingestion is
    * injected so the pipeline is runnable offline.
    */
  def ingest(date: LocalDate, rawJson: String): String =
    withWriterLock { bronze.saveJson(date, rawJson) }

  /** E1 step 2 — bronze -> silver: normalize (T1-T10) then first-seen
    * append (§1.4): only never-seen auction ids land; the write is an
    * APPEND of new date partitions — existing partitions are never
    * rewritten (the scalable shape; `ON CONFLICT DO NOTHING` parity).
    * Returns inserted-row count like the reference
    * (postgres_client.py:26-50).
    */
  def runSilver(date: LocalDate): Long = withWriterLock {
    SessionCache.scoped(SilverTransform.fromJson(
        spark, bronze.objectPath(date).toString,
        java.sql.Date.valueOf(date))) { normalized =>
      // Columnar mirror of the RAW per-day listing set (pre-dedup) — the
      // G4 demand mart needs day-pair diffs over raw snapshots (§2.4),
      // and re-parsing a month of JSON documents per gold run would not
      // scale. Dynamic partition overwrite keeps re-runs idempotent
      // (the day's partition is replaced, not appended).
      normalized
        .select(col("id"), col("item_id"),
          col("quantity").cast("long").as("quantity"), col("snapshot_date"))
        .write.mode(SaveMode.Overwrite)
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("snapshot_date").parquet(bronzeDailyPath)
      // prune: only ids are needed from the existing side of the anti-join
      SessionCache.scoped(
          SilverTransform.firstSeenOnly(normalized, silver.select("id"))) { newRows =>
        val n = newRows.count()
        // sortWithinPartitions(partition col, created_at): each written
        // file is created_at-ordered, so its parquet row groups carry
        // TIGHT created_at min/max stats. That makes the G2 increment's
        // created_at range scan ([[Pipeline.createdAtRangeFilter]]) a
        // row-group skip STRUCTURALLY — even on a backfill where
        // created_at stops correlating with snapshot_date/write time —
        // instead of a statistics bet. (The writer keeps this order: its
        // required ordering, the partition column, is a satisfied prefix.)
        if (n > 0)
          newRows.sortWithinPartitions(col("snapshot_date"), col("created_at"))
            .write.mode(SaveMode.Append)
            .partitionBy("snapshot_date").parquet(silverPath)
        n
      }
    }
  }

  /** E1 step 3 — incremental dim enrichment: R2-extended candidate ids
    * (missing OR null-name retry, <=100/run), per-id fetch through the
    * injected source (S9 REST or fixture), upsert keyed by item_id
    * (S6). The upsert is an atomic directory swap — the MERGE-less
    * parquet equivalent of `ON CONFLICT DO UPDATE`.
    */
  def runDims(source: Dimensions.ItemMetadataSource, limit: Int = 100): Long =
    runDimsTracked(source, limit)._1

  /** [[runDims]] + change tracking: returns (upserted row count, the
    * item ids whose gold-visible attributes actually CHANGED — new
    * rows, or differing name/quality/class/subclass/icon). The
    * changed set drives [[refreshDimAffectedGold]]: historical G1/G7
    * partitions denormalize these attributes at write time, so a dim
    * change must re-enrich them (the reference recomputes gold from
    * retained silver every run and would re-enrich implicitly).
    */
  def runDimsTracked(source: Dimensions.ItemMetadataSource,
      limit: Int = 100): (Long, Seq[Long]) = withWriterLock {
    val ids = Dimensions.missingItemIds(silver, dims, limit)
      .collect().map(_.getLong(0)).toSeq // <=100 ids by contract — driver-safe
    if (ids.isEmpty) (0L, Nil)
    else {
      SessionCache.scoped(Dimensions.enrich(spark, ids, source)) { updates =>
        val attrs = Seq("name", "quality", "item_class", "item_subclass", "icon_url")
        // <= `limit` rows by construction — driver-safe
        val changed = updates.alias("u")
          .join(dims.select((Seq("item_id") ++ attrs).map(col): _*).alias("o"),
            Seq("item_id"), "left")
          .where(attrs.map(a => !(col(s"u.$a") <=> col(s"o.$a"))).reduce(_ || _))
          .select("item_id").collect().map(_.getLong(0)).toSeq
        val merged = Dimensions.upsert(dims, updates)
        overwriteAtomically(dimsPath, merged, Schemas.itemDim)
        (updates.count(), changed)
      }
    }
  }

  /** Rewrite the G1/G7 partitions that bake in now-stale dim
    * attributes: every snapshot_date where a changed item appears is
    * recomputed from silver (partition-pruned scan) and
    * partition-overwritten. Bounded work: <=100 changed items/run and
    * the retention window caps the date set at ~30 partitions.
    * No cascade: G3/G6 read only G1's `median_buyout` (a price, not a
    * dim attribute), and G2/G4/G5 are dim-free.
    */
  def refreshDimAffectedGold(changedItemIds: Seq[Long]): Unit = withWriterLock {
    val affectedDates =
      if (changedItemIds.isEmpty) Nil
      else silver
        .where(col("item_id").isin(changedItemIds: _*))
        .select("snapshot_date").distinct()
        .collect().map(_.getDate(0)).toSeq // <= retention-window dates
    if (affectedDates.nonEmpty) {
      val d = dims
      SessionCache.scoped(
          silver.where(col("snapshot_date").isin(affectedDates: _*))) { affected =>
        overwriteDatePartitions("g1_daily_market_summary",
          Marts.dailyMarketSummary(affected, d))
        overwriteDatePartitions("g7_sector_trends", Marts.sectorTrends(affected, d))
      }
    }
  }

  /** E1 step 4 — full recompute of the seven gold marts (the
    * reference serves pre-computed gold tables; main.py:36-79).
    * Bootstrap/backfill path; the daily path is
    * [[runGoldIncremental]]. Date-grained marts are written
    * PARTITIONED by their date so the incremental path can overwrite
    * single partitions (G2 partitions by bar date = date of
    * snapshot_hour; G4 stays unpartitioned — see runGoldIncremental).
    */
  def runGold(): Unit = withWriterLock {
    SessionCache.scoped(silver) { s =>
      val d = dims
      // G1 already carries the exact per-(item,date) median — reuse it
      // for G3/G6 instead of paying a second median pass over silver
      // (G1's groups include all-null-price item-days via its left
      // join, matching what a standalone median would emit as null)
      SessionCache.scoped(Marts.dailyMarketSummary(s, d)) { g1 =>
        writeDated("g1_daily_market_summary", g1)
        val dailyMedian = g1.select(
          col("item_id"), col("snapshot_date"), col("median_buyout"))
        writeDated("g2_price_history",
          Marts.priceHistory(s, ts = col("created_at"))
            .withColumn("snapshot_date", to_date(col("snapshot_hour"))))
        writeDated("g3_market_opportunities", Marts.marketOpportunities(dailyMedian))
        write("g4_item_demand", Marts.itemDemand(bronzeDaily))
        writeDated("g5_market_concentration", Marts.marketConcentration(s))
        writeDated("g6_market_index", Marts.marketIndex(dailyMedian))
        writeDated("g7_sector_trends", Marts.sectorTrends(s, d))
      }
    }
  }

  /** Incremental gold maintenance — the 100 TB daily path.
    *
    * Why it's sound: silver is FIRST-SEEN APPEND — a new row always
    * lands in the ingest day's `snapshot_date` partition, so past
    * partitions are immutable (retention only drops whole ones).
    * A date-grain mart row is therefore FINAL once every input date
    * it reads is in the past:
    *
    *  - G1/G5/G7 read exactly partition D       -> recompute D only
    *  - G3 reads G1's medians for D-6..D        -> recompute D only
    *    (older rows' trailing windows are unchanged); reads the
    *    GOLD g1 table partition-pruned, not silver
    *  - G6 reads G1's medians for D-1..D (lag)  -> recompute D only
    *  - G2 bars key on created_at (= processing time), not
    *    snapshot_date: a backfill stamps many partitions with one
    *    processing day. Affected bar dates = distinct
    *    date(created_at) in partition D; their bars are recomputed
    *    from a created_at RANGE scan ([[Pipeline.createdAtRangeFilter]]
    *    — plain comparisons that reach the parquet scan as
    *    PushedFilters, where `to_date(created_at) IN (...)` would
    *    not) and partition-overwritten. [[runSilver]] writes each
    *    partition created_at-sorted, so row groups carry tight
    *    min/max stats and the range scan skips cold data
    *    STRUCTURALLY — it does not rely on created_at correlating
    *    with write time, which a backfill breaks.
    *  - G4's avg_daily_stock couples every day of an item's history
    *    (window over all dates), so its rows are never final — but
    *    its input is the (id,item,qty,date) bronze mirror BOUNDED by
    *    the retention window (<= 30 day partitions), so the "full"
    *    recompute is itself incremental-sized. Recomputed whole.
    *
    * Every write is a dynamic partition overwrite: re-running a day
    * is idempotent, and no historical partition is ever rewritten.
    */
  def runGoldIncremental(date: LocalDate): Unit = withWriterLock {
    val d = dims
    SessionCache.scoped(
        silver.where(col("snapshot_date") === lit(java.sql.Date.valueOf(date)))) { day =>
      overwriteDatePartitions("g1_daily_market_summary",
        Marts.dailyMarketSummary(day, d))
      overwriteDatePartitions("g5_market_concentration",
        Marts.marketConcentration(day))
      overwriteDatePartitions("g7_sector_trends", Marts.sectorTrends(day, d))
      // G2: recompute the bar dates partition D touches, from all rows
      // sharing those created_at dates
      val affectedBarDates = day
        .select(to_date(col("created_at")).as("d")).distinct()
        .collect().map(_.getDate(0)) // <= backfill-days values; driver-safe
      if (affectedBarDates.nonEmpty) {
        val barRows = silver.where(
          Pipeline.createdAtRangeFilter(affectedBarDates.toSeq))
        overwriteDatePartitions("g2_price_history",
          Marts.priceHistory(barRows, ts = col("created_at"))
            .withColumn("snapshot_date", to_date(col("snapshot_hour"))))
      }
      // G3/G6: trailing windows over G1's already-maintained medians,
      // read partition-pruned from gold, output filtered to day D
      val dayCol = lit(java.sql.Date.valueOf(date))
      val g1Window = gold("g1_daily_market_summary")
        .where(col("snapshot_date").between(date_sub(dayCol, 6), dayCol))
        .select(col("item_id"), col("snapshot_date"), col("median_buyout"))
      overwriteDatePartitions("g3_market_opportunities",
        Marts.marketOpportunities(g1Window)
          .where(col("snapshot_date") === dayCol))
      // G6's lag must read the LATEST PRIOR G1 date actually present —
      // a full recompute's lag() skips over gap days (a failed/skipped
      // ingest), so hard-coding D-1 would diverge exactly then. The
      // prior date comes from the partition listing (metadata-only) and
      // may be older than the G3 window, so G6 reads its own pruned
      // two-partition slice.
      val prevG1Date = partitionDates(goldPath("g1_daily_market_summary"))
        .filter(_.isBefore(date))
        .reduceOption((a, b) => if (a.isAfter(b)) a else b)
      val g6Dates = (Seq(date) ++ prevG1Date).map(java.sql.Date.valueOf)
      val g6Input = gold("g1_daily_market_summary")
        .where(col("snapshot_date").isin(g6Dates: _*))
        .select(col("item_id"), col("snapshot_date"), col("median_buyout"))
      overwriteDatePartitions("g6_market_index",
        Marts.marketIndex(g6Input)
          .where(col("snapshot_date") === dayCol))
      write("g4_item_demand", Marts.itemDemand(bronzeDaily))
    }
  }

  private def writeDated(name: String, df: DataFrame): Unit =
    df.write.mode(SaveMode.Overwrite)
      .partitionBy("snapshot_date").parquet(goldPath(name))

  private def overwriteDatePartitions(name: String, df: DataFrame): Unit =
    df.write.mode(SaveMode.Overwrite)
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("snapshot_date").parquet(goldPath(name))

  /** G4 needs the RAW per-day listing sets (disappearance semantics,
    * §2.4), which first-seen silver no longer carries — served from
    * the columnar bronze_daily mirror maintained by [[runSilver]].
    * Bronze days missing from the mirror (warehouse written before
    * the mirror existed, or a partial failure) are BACKFILLED from
    * their JSON documents first, so the mart never reads an
    * incomplete raw-day set.
    */
  private def bronzeDaily: DataFrame = {
    val days = bronze.dates()
    require(days.nonEmpty, "no bronze snapshots landed")
    val mirrored = partitionDates(bronzeDailyPath)
    days.filterNot(mirrored.contains).foreach(writeBronzeDailyMirror)
    spark.read.parquet(bronzeDailyPath)
      .select(col("id"), col("item_id"), col("quantity"), col("snapshot_date"))
  }

  private def partitionDates(tablePath: String): Set[LocalDate] = {
    val root = Paths.get(tablePath)
    if (!Files.exists(root)) Set.empty
    else listDir(root)
      .filter(Files.isDirectory(_))
      .flatMap { p =>
        val s = p.getFileName.toString.stripPrefix("snapshot_date=")
        if (s != p.getFileName.toString) scala.util.Try(LocalDate.parse(s)).toOption
        else None
      }.toSet
  }

  private def writeBronzeDailyMirror(date: LocalDate): Unit =
    SilverTransform.normalize(
      SilverTransform.explodeAuctions(bronze.readJson(spark, date)),
      java.sql.Date.valueOf(date))
      .select(col("id"), col("item_id"),
        col("quantity").cast("long").as("quantity"), col("snapshot_date"))
      .write.mode(SaveMode.Overwrite)
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("snapshot_date").parquet(bronzeDailyPath)

  /** E1 step 5 — retention (S4/S7): drop bronze objects and silver
    * date partitions older than the window. Partition drop = directory
    * delete, no data read.
    *
    * Composition with maintained rollups (the round-13 p134
    * lifecycle, now ONE call): after the drop, every maintained
    * [[graft.plans.MaterializedAggregate.MvDef]] registered over a
    * pruned table is retracted with the same cutoff predicate
    * ([[graft.streaming.StreamingMvMaintenance.retract]]) and
    * re-registered, so navigation re-arms with post-delete answers
    * without a separate operator runbook step. A rollup whose
    * grouping keys don't include `snapshot_date` cannot commute with
    * the delete — retraction refuses, we log and leave it REFUSED at
    * navigation time (the delete guard keeps answers correct via the
    * base; a rebuild is the operator's explicit fix), never throw the
    * retention run itself.
    */
  def runRetention(asOf: LocalDate, retentionDays: Int = 30): (Seq[LocalDate], Long) = withWriterLock {
    val droppedBronze = bronze.retain(asOf, retentionDays)
    val cutoff = asOf.minusDays(retentionDays.toLong)
    // gold date partitions age out WITH silver: the incremental path
    // would otherwise accrete history forever while a full runGold
    // (and the reference, which recomputes from retained silver)
    // loses it — the two paths must describe the same table. G4 is
    // rebuilt from the retained mirror every run and needs no drop.
    val datedGold = Seq("g1_daily_market_summary", "g2_price_history",
      "g3_market_opportunities", "g5_market_concentration",
      "g6_market_index", "g7_sector_trends")
    val tables = Seq(silverPath, bronzeDailyPath) ++ datedGold.map(goldPath)
    val dropped = tables.map(t => dropOldPartitions(t, cutoff)).sum
    tables.foreach(t => retractMaintainedMvs(t, cutoff))
    (droppedBronze, dropped)
  }

  /** Retract + re-register every maintained rollup registered (in
    * THIS session) over `tablePath` after its partitions below
    * `cutoff` were dropped. Failure-isolated per rollup: a refusal
    * (e.g. grouping keys without `snapshot_date`) logs and moves on —
    * the delete guard already keeps that rollup from navigating, so
    * correctness never depends on this step succeeding.
    */
  private def retractMaintainedMvs(tablePath: String, cutoff: LocalDate): Unit = {
    // MvDef.basePath is stored scheme-stripped (scan-matching form)
    val norm = new org.apache.hadoop.fs.Path(tablePath).toUri.getPath
    graft.plans.MvCatalog.all(spark)
      .filter(d => d.maintained && d.basePath == norm)
      .foreach { d =>
        try {
          graft.streaming.StreamingMvMaintenance.retract(
            spark, d.mvPath, s"snapshot_date < DATE '$cutoff'", d.hllP)
          graft.plans.MaterializedAggregate.registerExisting(
            spark, d.fingerprintPath, d.mvPath, d.groupCols, d.measureCols,
            d.distinctCols, d.hllP, d.baseFilter, d.exprMeasures,
            maintained = true)
        } catch {
          case scala.util.control.NonFatal(e) =>
            org.slf4j.LoggerFactory.getLogger(classOf[Pipeline]).warn(
              s"retention: could not retract maintained rollup ${d.mvPath} " +
                s"over $tablePath (${e.getMessage}); its delete guard will " +
                "refuse navigation until it is rebuilt + re-registered")
        }
      }
  }

  /** Drop `snapshot_date=...` partition dirs before the cutoff —
    * metadata-only, no data files read.
    */
  private def dropOldPartitions(tablePath: String, cutoff: LocalDate): Long = {
    val root = Paths.get(tablePath)
    if (!Files.exists(root)) return 0L
    val old = listDir(root)
      .filter(Files.isDirectory(_))
      .filter { p =>
        p.getFileName.toString.stripPrefix("snapshot_date=") match {
          case s if s != p.getFileName.toString =>
            scala.util.Try(LocalDate.parse(s)).toOption.exists(_.isBefore(cutoff))
          case _ => false
        }
      }
    old.foreach(deleteRecursively)
    old.size.toLong
  }

  /** Files.list with the stream closed (a bare `.iterator` leaks the
    * directory handle for the JVM lifetime).
    */
  private def listDir(p: Path): Seq[Path] = {
    val s = Files.list(p)
    try s.iterator().asScala.toSeq finally s.close()
  }

  /** Full daily run (the Dagster DAG, composed): ingest -> silver ->
    * dims -> incremental gold -> retention. Gold is maintained
    * incrementally ([[runGoldIncremental]] — only day-D partitions
    * are written); [[runGold]] remains the bootstrap/backfill full
    * recompute, and PipelineSpec proves the two produce identical
    * tables.
    */
  def runDay(date: LocalDate, rawJson: String,
      source: Dimensions.ItemMetadataSource,
      retentionDays: Int = 30): Unit = withWriterLock {
    ingest(date, rawJson)
    runSilver(date)
    // day-D gold below sees the fresh dims; the refresh afterwards
    // re-enriches the HISTORICAL G1/G7 partitions the upsert staled
    val (_, changedDims) = runDimsTracked(source)
    runGoldIncremental(date)
    refreshDimAffectedGold(changedDims)
    runRetention(date, retentionDays)
  }

  /** Parquet has no MERGE: write the merged table next to the live one,
    * then swap directories. The swap is two renames — the table is
    * never half-written. (Delta/Iceberg MERGE replaces this at scale.)
    *
    * CONCURRENCY CONTRACT (single-writer, quiescent-reader):
    * `withWriterLock` serializes writers within THIS JVM only. A
    * reader in another session that planned its scan before the swap
    * holds the OLD directory's file list and will fail (file-not-
    * found) or read torn state if it scans across the swap — plan
    * lists files eagerly, execution reads them lazily. Run readers
    * and the writer in the same session (the serving layer does:
    * marts materialize behind the same lock), or schedule scans off
    * the write window. Lifting this to concurrent cross-session
    * readers needs snapshot isolation — a `v=N` versioned directory
    * plus a pointer file the reader resolves once at plan time, or a
    * table format (Delta/Iceberg) that owns exactly that metadata;
    * /opt/spark/jars ships neither, so the contract stands documented
    * instead (README "Concurrency").
    */
  private def overwriteAtomically(path: String, df: DataFrame,
      schema: org.apache.spark.sql.types.StructType): Unit = {
    val live = Paths.get(path)
    val tmp = Paths.get(path + ".tmp")
    val old = Paths.get(path + ".old")
    deleteRecursively(tmp); deleteRecursively(old)
    df.select(schema.fieldNames.map(col).toSeq: _*)
      .write.mode(SaveMode.Overwrite).parquet(tmp.toString)
    Files.move(live, old)
    Files.move(tmp, live)
    deleteRecursively(old)
  }

  private def deleteRecursively(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.iterator().asScala.toSeq.reverse.foreach(Files.delete)
      finally s.close()
    }

  private def write(name: String, df: DataFrame): Unit =
    df.write.mode(SaveMode.Overwrite).parquet(goldPath(name))
}

object Pipeline {

  /** `to_date(created_at) IN (dates)` as pushdown-friendly ranges:
    * `(created_at >= D AND created_at < D+1) OR ...`. A function call
    * on the column would block parquet predicate pushdown entirely;
    * these fold to timestamp-literal comparisons that land in the
    * scan's PushedFilters and prune row groups via min/max stats
    * (PlanSpec proves it on a backfill fixture). Semantics identical
    * under the UTC session timezone: to_date truncates to the same
    * day boundaries the casts produce.
    */
  private[graft] def createdAtRangeFilter(dates: Seq[java.sql.Date]): org.apache.spark.sql.Column = {
    require(dates.nonEmpty, "no bar dates to filter")
    dates.map { d =>
      val dl = lit(d)
      (col("created_at") >= dl.cast("timestamp")) &&
        (col("created_at") < date_add(dl, 1).cast("timestamp"))
    }.reduce(_ || _)
  }
}
