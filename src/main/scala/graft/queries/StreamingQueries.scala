package graft.queries

import java.nio.file.{Files, Path}
import java.util.{Comparator, UUID}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.Tables
import graft.streaming.{StreamingAsof, StreamingContamination, StreamingFunnel, StreamingSessions, StreamingSilver}

/** Driver-visible batch-parity gates for the streaming operators
  * (round-6 verdict item 8): replay the `events` table through the
  * Structured Streaming twins and hash-compare against the SAME DuckDB
  * oracle SQL as the batch gates (p33 / p37 / p32-no-tolerance). Until
  * round 7 the seven streaming operators were spec-gated only; these
  * put the stateful core (flatMapGroupsWithState sessionization,
  * funnel, and the as-of ring-state enrichment) under the driver's
  * rows/schema/hash check too.
  *
  * Replay harness shape — file source, not MemoryStream: the fixture is
  * STAGED to a scratch parquet dir and read back with `readStream`, so
  * no driver-side collect of the corpus ever happens (the only probe is
  * the 1-row max-timestamp lookup that positions the flush sentinel).
  * That is exactly how a production replay/backfill of the streaming
  * pipeline runs: point the stream at the historical directory and let
  * the source meter it out.
  *
  * Closing open state deterministically (a bounded replay ends, a real
  * stream doesn't):
  *  - sessions: one flush event per user, `max(ts) + gap + 1h`, closes
  *    every open session IN the fold (gap exceeded) — no reliance on
  *    timer firing order. The flush event's own never-closed session is
  *    excluded by its sentinel start time.
  *  - funnel: funnel attempts close by EVENT-TIME TIMEOUT, so the
  *    harness appends two watermark-advancing sentinel files and drains
  *    between each (timers set in batch N fire in batch N+1 once the
  *    watermark passed them — same two-step the StreamingFunnelSpec
  *    proves). Sentinel key -1 never matches a step, so it adds no
  *    state.
  *
  * Determinism: within a micro-batch both twins fold in (ts, event_id)
  * order (their documented parity contract), the flush sentinels sit
  * strictly after every real timestamp, and output values are integer
  * cents/micros — so the hash gate is exact, not approximate.
  */
object StreamingQueries {

  private val ThirtyMinUs = 30L * 60 * 1000000
  private val OneDayUs = 86400000000L
  private val OneHourUs = 3600000000L

  /** Scope `spark.sql.shuffle.partitions` to the STREAM START only
    * (round-17): streaming has no AQE, so every stateful exchange —
    * and with it the number of state-store instances opened, committed
    * and checkpointed per micro-batch — is pinned at query start from
    * the session conf. At `local[32]` that meant 32 state stores per
    * stateful operator per micro-batch for replays whose whole state
    * is a few thousand keys. The staging writes and readbacks around
    * the stream keep the session's setting — AQE right-sizes those;
    * foreachBatch bodies run under the stream's cloned conf, so the
    * scoping reaches them too (see [[StateScopedStart]]).
    * Production sizing note: state partitions should scale with state
    * volume, not core count; override with SPARK_GRAFT_STREAM_PARTS.
    */
  private[queries] def withStateParts[T](
      s: org.apache.spark.sql.SparkSession)(body: => T): T = {
    val n = sys.env.get("SPARK_GRAFT_STREAM_PARTS")
      .flatMap(v => scala.util.Try(v.trim.toInt).toOption)
      .filter(_ >= 1).getOrElse(8)
    val prev = s.conf.get("spark.sql.shuffle.partitions")
    s.conf.set("spark.sql.shuffle.partitions", n.toString)
    try body finally s.conf.set("spark.sql.shuffle.partitions", prev)
  }

  /** `start()` under [[withStateParts]]: streaming clones the session
    * conf at query start, so scoping only the start call pins the
    * stateful exchanges / state-store count without touching the
    * batch-side staging plans around the stream. EVERY stream start in
    * the gate surface uses this — memory-sink replays AND the
    * foreachBatch gates (round-17 Change #6): a foreachBatch body is a
    * batch plan, but it executes under the stream's cloned conf
    * captured at `start()`, and Spark disables AQE for the whole
    * micro-batch when the stream graph is stateful — so its shuffles
    * were also pinned at the session's width until scoped here.
    */
  private implicit class StateScopedStart[T](
      private val w: org.apache.spark.sql.streaming.DataStreamWriter[T]) {
    def startScoped(s: SparkSession): org.apache.spark.sql.streaming.StreamingQuery =
      withStateParts(s)(w.start())
  }

  /** Scratch dir for staged replay input + checkpoint; deleted once the
    * query has terminated (the memory sink owns the rows by then).
    */
  private def scratch(tag: String): Path =
    Files.createTempDirectory(s"graft-$tag-")

  private def deleteRecursively(p: Path): Unit =
    try {
      Files.walk(p).sorted(Comparator.reverseOrder[Path]())
        .forEach(f => { Files.deleteIfExists(f); () })
    } catch { case _: Throwable => () } // best-effort scratch cleanup

  /** Names of the data part files currently under `stage`. */
  private def partNames(s: SparkSession, stage: String): Set[String] = {
    val p = new org.apache.hadoop.fs.Path(stage)
    val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
    fs.listStatus(p).iterator.map(_.getPath.getName)
      .filterNot(n => n.startsWith("_") || n.startsWith(".")).toSet
  }

  /** Pin the staged files' modification times so FileStreamSource's
    * timestamp ordering matches WRITE order even on coarse-mtime
    * filesystems (two back-to-back writes can land in the same mtime
    * tick, leaving arrival order listing-dependent). Most streaming
    * gates commute across batch assignment (MV partials fold, ANN
    * serving is per-query); this matters exactly where the per-batch
    * operation does NOT commute — st41's seed-then-append index
    * build and st42's stateful forward fill.
    */
  private def pinArrivalOrder(s: SparkSession, stage: String,
      firstBatch: Set[String]): Unit = {
    val p = new org.apache.hadoop.fs.Path(stage)
    val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
    val now = System.currentTimeMillis()
    fs.listStatus(p).foreach { st0 =>
      val name = st0.getPath.getName
      if (!name.startsWith("_") && !name.startsWith(".")) {
        val t = if (firstBatch(name)) now - 120000L else now
        fs.setTimes(st0.getPath, t, -1)
      }
    }
  }

  /** events projected to the streaming twins' input shape. */
  private def eventStream(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir).select(
      col("event_id").cast("long"),
      col("user_id").cast("long"),
      col("ts"),
      col("event_type").cast("string"),
      col("value").cast("double"))

  /** 1-row probe: the corpus' max event time in micros (bounded by
    * contract — this is the only driver-side data access).
    */
  private def maxTsUs(ev: DataFrame): Option[Long] = {
    val row = ev.agg(max(unix_micros(col("ts")))).head()
    if (row.isNullAt(0)) None else Some(row.getLong(0))
  }

  /** st01: the events table replayed through
    * [[graft.streaming.StreamingSessions]] must equal batch
    * sessionization — same oracle as p33.
    */
  private def streamingSessions: QueryDef = QueryDef(
    "st01_streaming_sessions",
    (s, dir) => {
      import s.implicits._
      val ev = eventStream(s, dir)
      val schema = ev.schema
      maxTsUs(ev) match {
        case None => // empty corpus -> empty result, correct schema
          s.createDataFrame(s.sparkContext.emptyRDD[org.apache.spark.sql.Row],
            org.apache.spark.sql.Encoders.product[StreamingSessions.ClosedSession].schema)
        case Some(maxUs) =>
          val flushUs = maxUs + ThirtyMinUs + OneHourUs
          val flush = ev.select(col("user_id")).distinct().select(
            lit(-1L).as("event_id"), col("user_id"),
            timestamp_micros(lit(flushUs)).as("ts"),
            lit("flush").as("event_type"), lit(0.0).as("value"))
          val dirP = scratch("st01")
          val stage = dirP.resolve("input").toString
          val ckpt = dirP.resolve("ckpt").toString
          ev.unionByName(flush).write.parquet(stage)

          val qname = "st01_" + UUID.randomUUID().toString.replace("-", "")
          val q = StreamingSessions.sessions(
            s.readStream.schema(schema).parquet(stage)
              .as[StreamingSessions.SessionEvent]
              .withWatermark("ts", "0 seconds"),
            ThirtyMinUs)
            .writeStream.format("memory").queryName(qname)
            .outputMode("append").option("checkpointLocation", ckpt)
            .trigger(Trigger.AvailableNow()).startScoped(s)
          try q.awaitTermination() finally { q.stop(); deleteRecursively(dirP) }
          // the flush event's own session never closes (nothing after
          // it), so it is absent from the sink; the start_us bound is a
          // defensive invariant, not a filter doing semantic work
          s.table(qname).where(col("start_us") < flushUs)
      }
    },
    Some(s"""WITH ${EventQueries.sessionCtes}
            |SELECT * FROM sess""".stripMargin))

  /** st02: the events table replayed through
    * [[graft.streaming.StreamingFunnel]] (oncePerKey — strict batch
    * parity mode) must equal batch [[graft.operators.Funnel.analyze]] —
    * same oracle as p37.
    */
  private def streamingFunnel: QueryDef = QueryDef(
    "st02_streaming_funnel",
    (s, dir) => {
      import s.implicits._
      val ev = eventStream(s, dir)
        .select(col("event_id"), col("user_id").as("key"), col("ts"),
          col("event_type"))
      val schema = ev.schema
      maxTsUs(ev) match {
        case None =>
          s.createDataFrame(s.sparkContext.emptyRDD[org.apache.spark.sql.Row],
            org.apache.spark.sql.types.StructType(Seq(
              org.apache.spark.sql.types.StructField("user_id",
                org.apache.spark.sql.types.LongType),
              org.apache.spark.sql.types.StructField("t1_us",
                org.apache.spark.sql.types.LongType),
              org.apache.spark.sql.types.StructField("t2_us",
                org.apache.spark.sql.types.LongType),
              org.apache.spark.sql.types.StructField("t3_us",
                org.apache.spark.sql.types.LongType),
              org.apache.spark.sql.types.StructField("furthest_step",
                org.apache.spark.sql.types.LongType),
              org.apache.spark.sql.types.StructField("converted",
                org.apache.spark.sql.types.BooleanType))))
        case Some(maxUs) =>
          val dirP = scratch("st02")
          val stage = dirP.resolve("input").toString
          val ckpt = dirP.resolve("ckpt").toString
          ev.write.parquet(stage)

          def sentinel(tsUs: Long): DataFrame =
            s.range(1).select(lit(-1L).as("event_id"), lit(-1L).as("key"),
              timestamp_micros(lit(tsUs)).as("ts"),
              lit("flush").as("event_type"))

          val qname = "st02_" + UUID.randomUUID().toString.replace("-", "")
          val q = StreamingFunnel.analyze(
            s.readStream.schema(schema).parquet(stage)
              .as[StreamingFunnel.FunnelEvent]
              .withWatermark("ts", "0 seconds"),
            steps = Seq("view", "click", "purchase"),
            windowMicros = OneDayUs,
            oncePerKey = true)
            .writeStream.format("memory").queryName(qname)
            .outputMode("append").option("checkpointLocation", ckpt)
            .trigger(Trigger.ProcessingTime(50)).startScoped(s)
          try {
            q.processAllAvailable()
            // watermark two-step: sentinel 1 advances the watermark past
            // every attempt's t1 + window; sentinel 2 triggers the batch
            // in which those timers actually fire
            sentinel(maxUs + OneDayUs + OneHourUs).write.mode("append").parquet(stage)
            q.processAllAvailable()
            sentinel(maxUs + OneDayUs + 2 * OneHourUs).write.mode("append").parquet(stage)
            q.processAllAvailable()
          } finally { q.stop(); deleteRecursively(dirP) }
          s.table(qname).where(col("key") =!= -1L).select(
            col("key").as("user_id"),
            element_at(col("step_times_us"), 1).as("t1_us"),
            element_at(col("step_times_us"), 2).as("t2_us"),
            element_at(col("step_times_us"), 3).as("t3_us"),
            col("furthest_step"),
            col("converted"))
      }
    },
    Some(EventQueries.funnelSql))

  /** st03: purchases enriched with the latest view at-or-before their
    * time via [[graft.streaming.StreamingAsof]] (ring-state fold) must
    * equal the batch as-of attribution — same join+rank oracle as p32,
    * with no tolerance window (the streaming twin's semantics).
    *
    * Replay shape: both sides staged as ONE interleaved AsofInput
    * parquet (views `is_state = true`, purchases probes) and drained in
    * a single AvailableNow pass — in-order parity is the operator's
    * documented contract and a bounded replay delivers it. No flush
    * sentinel needed: enrichments emit in the batch that folds them
    * (append output, no timers).
    */
  private def streamingAsof: QueryDef = QueryDef(
    "st03_streaming_asof",
    (s, dir) => {
      import s.implicits._
      val ev = Tables.events(s, dir)
      val inputs = ev
        .where(col("event_type").isin("view", "purchase"))
        .select(
          col("event_id").cast("long").as("id"),
          col("user_id").cast("long").as("key"),
          col("ts"),
          (col("event_type") === "view").as("is_state"),
          coalesce(col("value").cast("double"), lit(0.0)).as("value"))
      val schema = inputs.schema
      if (inputs.isEmpty) {
        s.createDataFrame(s.sparkContext.emptyRDD[org.apache.spark.sql.Row],
          org.apache.spark.sql.types.StructType(Seq(
            org.apache.spark.sql.types.StructField("event_id",
              org.apache.spark.sql.types.LongType),
            org.apache.spark.sql.types.StructField("user_id",
              org.apache.spark.sql.types.LongType),
            org.apache.spark.sql.types.StructField("ts_us",
              org.apache.spark.sql.types.LongType),
            org.apache.spark.sql.types.StructField("view_event_id",
              org.apache.spark.sql.types.LongType),
            org.apache.spark.sql.types.StructField("view_ts_us",
              org.apache.spark.sql.types.LongType),
            org.apache.spark.sql.types.StructField("gap_us",
              org.apache.spark.sql.types.LongType),
            org.apache.spark.sql.types.StructField("view_value_cents",
              org.apache.spark.sql.types.LongType))))
      } else {
        val dirP = scratch("st03")
        val stage = dirP.resolve("input").toString
        val ckpt = dirP.resolve("ckpt").toString
        inputs.write.parquet(stage)

        val qname = "st03_" + UUID.randomUUID().toString.replace("-", "")
        val q = StreamingAsof.enrich(
          s.readStream.schema(schema).parquet(stage)
            .as[StreamingAsof.AsofInput]
            .withWatermark("ts", "0 seconds"))
          .writeStream.format("memory").queryName(qname)
          .outputMode("append").option("checkpointLocation", ckpt)
          .trigger(Trigger.AvailableNow()).startScoped(s)
        try q.awaitTermination() finally { q.stop(); deleteRecursively(dirP) }
        s.table(qname).select(
          col("id").as("event_id"),
          col("key").as("user_id"),
          col("ts_us"),
          col("state_id").as("view_event_id"),
          col("state_ts_us").as("view_ts_us"),
          (col("ts_us") - col("state_ts_us")).as("gap_us"),
          round(col("state_value") * 100).cast("long").as("view_value_cents"))
      }
    },
    Some(EventQueries.asofSql(None)))

  /** st04: the REAL streaming silver path — bronze file stream (date
    * derived from the landed path), the shared T1–T10 normalization,
    * and watermark-bounded first-seen dedup
    * ([[graft.streaming.StreamingSilver]]) — must produce exactly the
    * batch path's first-seen silver rows for the two fixture days
    * (same expected rows as t02 + s06: day 2's re-listed auction 1002
    * keeps its day-1 row).
    *
    * Replay shape: day dirs are landed through the real
    * [[graft.sources.Bronze]] sink, mtimes forced strictly increasing
    * and `maxFilesPerTrigger = 1` so the file source meters one day per
    * micro-batch in calendar order — the production backfill contract
    * (§1.4's first-seen semantics are day-ordered by definition).
    * Within a day auction ids are unique, so the replay is fully
    * deterministic.
    */
  private def streamingSilverGate: QueryDef = QueryDef(
    "st04_streaming_silver",
    (s, _) => {
      val dirP = scratch("st04")
      val root = dirP.resolve("bronze").toString
      val bronze = new graft.sources.Bronze(root)
      val p1 = bronze.saveJson(java.time.LocalDate.parse("2026-02-13"), Fixtures.day1Json)
      val p2 = bronze.saveJson(java.time.LocalDate.parse("2026-02-14"), Fixtures.day2Json)
      // force distinct, ordered mtimes: the file source orders pending
      // files by modification time, and same-millisecond writes would
      // leave day order to luck
      Files.setLastModifiedTime(java.nio.file.Paths.get(p1),
        java.nio.file.attribute.FileTime.fromMillis(1000000L))
      Files.setLastModifiedTime(java.nio.file.Paths.get(p2),
        java.nio.file.attribute.FileTime.fromMillis(2000000L))

      val qname = "st04_" + UUID.randomUUID().toString.replace("-", "")
      val q = StreamingSilver.firstSeenStream(
        StreamingSilver.silverStream(s, root, maxFilesPerTrigger = 1))
        .writeStream.format("memory").queryName(qname)
        .outputMode("append")
        .option("checkpointLocation", dirP.resolve("ckpt").toString)
        .trigger(Trigger.AvailableNow()).startScoped(s)
      try q.awaitTermination() finally { q.stop(); deleteRecursively(dirP) }
      SilverQueries.silverDeterministic(s.table(qname))
    },
    Some(SilverQueries.typedSilverValues(
      """  (1001, 190320, 1, 1250000, 1250000, 'VERY_LONG',
        |   '[{"type":9,"value":70}]', DATE '2026-02-13'),
        |  (1002, 2589, 200, 350, NULL, 'SHORT', NULL, DATE '2026-02-13'),
        |  (1003, 2589, 50, 375, NULL, 'LONG', NULL, DATE '2026-02-13'),
        |  (1004, NULL, 1, NULL, NULL, 'MEDIUM', NULL, DATE '2026-02-13'),
        |  (1005, 777, 0, NULL, 5000, 'SHORT', NULL, DATE '2026-02-13'),
        |  (1006, 888, 4, 249, 999, 'LONG', NULL, DATE '2026-02-13'),
        |  (2001, 2589, 10, 400, NULL, 'SHORT', NULL, DATE '2026-02-14'),
        |  (2002, 190320, 1, 90000, 90000, 'LONG', '[]', DATE '2026-02-14')""".stripMargin)))

  /** st05: the documents table replayed through
    * [[graft.streaming.StreamingCuration.nearDupKeepers]] (the
    * checker-legal transformWithState claimant chain) must equal the
    * batch LSH claimant simulation, recomputed from scratch in SQL
    * (shingles -> md5 MinHash signatures -> band buckets -> per-bucket
    * min-(ts, doc_id) winner -> keeper iff ALL bands won).
    *
    * Determinism: ingested_at = BASE + doc_id seconds is strictly
    * monotone in doc_id, so the stream's (event time, doc_id) claimant
    * is exactly the bucket's min doc_id in SQL. The whole fixture is
    * staged as ONE parquet file (one micro-batch — the claimant
    * contest happens against empty state, same as the oracle's global
    * min); the shingle-less flush doc ("flush" < n tokens) claims only
    * its own per-doc sentinel buckets and sits 1 day + 2 h after the
    * corpus, so the final watermark (flush - 1 day) closes every real
    * emit window while the flush doc's own window never closes — it is
    * structurally absent from the sink, the =!= -1 filter is a
    * defensive invariant.
    */
  private def streamingNearDup: QueryDef = QueryDef(
    "st05_streaming_neardup",
    (s, dir) => {
      import s.implicits._
      val baseUs = 1767225600000000L // 2026-01-01T00:00:00Z
      val ev = Tables.documents(s, dir)
        .select(col("doc_id").cast("long").as("doc_id"),
          col("text").cast("string").as("text"))
        .withColumn("ingested_at",
          timestamp_micros(lit(baseUs) + col("doc_id") * lit(1000000L)))
      val schema = ev.schema
      maxTsUs(ev.select(col("ingested_at").as("ts"))) match {
        case None =>
          s.createDataFrame(s.sparkContext.emptyRDD[org.apache.spark.sql.Row],
            org.apache.spark.sql.types.StructType(Seq(
              org.apache.spark.sql.types.StructField("doc_id",
                org.apache.spark.sql.types.LongType),
              org.apache.spark.sql.types.StructField("text",
                org.apache.spark.sql.types.StringType),
              org.apache.spark.sql.types.StructField("window_start",
                org.apache.spark.sql.types.TimestampType))))
        case Some(maxUs) =>
          val flushUs = maxUs + OneDayUs + 2 * OneHourUs
          val flush = s.range(1).select(lit(-1L).as("doc_id"),
            lit("flush").as("text"),
            timestamp_micros(lit(flushUs)).as("ingested_at"))
          val dirP = scratch("st05")
          val stage = dirP.resolve("input").toString
          val ckpt = dirP.resolve("ckpt").toString
          // ONE file -> one micro-batch: the claimant contest runs
          // against empty state exactly once, like the oracle's
          // global per-bucket min
          ev.unionByName(flush).coalesce(1).write.parquet(stage)

          val qname = "st05_" + UUID.randomUUID().toString.replace("-", "")
          // Pin the stateful-shuffle width for THIS query's fresh
          // checkpoint: a bounded replay's cost is dominated by
          // per-partition RocksDB store init (x 2 stateful stages
          // x micro-batches), not data volume. withStateParts is the
          // shared seam (8 locally, SPARK_GRAFT_STREAM_PARTS override).
          // The repartition right after the source: ONE staged file
          // means one scan partition, which would serialize the
          // in-scan shingle/MinHash projection; spreading rows
          // BEFORE that projection parallelizes it without touching
          // the claimant contest (per-batch min, not per-partition)
          val q = graft.streaming.StreamingCuration.nearDupKeepers(
              s.readStream.schema(schema).parquet(stage)
                .repartition(8, col("doc_id")))
              .writeStream.format("memory").queryName(qname)
              .outputMode("append").option("checkpointLocation", ckpt)
              .trigger(Trigger.AvailableNow()).startScoped(s)
          try q.awaitTermination() finally { q.stop(); deleteRecursively(dirP) }
          s.table(qname).where(col("doc_id") =!= -1L)
            .select(col("doc_id"), col("text"), col("window_start"))
      }
    },
    Some(s"""WITH ${PipelineQueries.shingleSql},
            |hv AS (SELECT doc_id,
            |              ('0x' || substr(md5(shingle), 1, 8))::BIGINT AS ha,
            |              ('0x' || substr(md5(shingle), 9, 8))::BIGINT AS hb
            |       FROM sh),
            |mh AS (SELECT doc_id, i, min(ha + i * hb) AS mv
            |       FROM hv CROSS JOIN (SELECT unnest(range(16)) AS i) idx
            |       GROUP BY doc_id, i),
            |bands AS (SELECT doc_id, i // 4 AS band,
            |                 md5(string_agg(CAST(mv AS VARCHAR), ',' ORDER BY i)) AS bucket
            |          FROM mh GROUP BY doc_id, i // 4),
            |nosh AS (SELECT d.doc_id, r.i AS band,
            |                md5('short:' || CAST(d.doc_id AS VARCHAR)) AS bucket
            |         FROM documents d
            |         CROSS JOIN (SELECT unnest(range(4)) AS i) r
            |         WHERE d.doc_id NOT IN (SELECT doc_id FROM sh)),
            |allb AS (SELECT * FROM bands UNION ALL SELECT * FROM nosh),
            |win AS (SELECT band, bucket, min(doc_id) AS winner
            |        FROM allb GROUP BY 1, 2),
            |keep AS (SELECT a.doc_id
            |         FROM allb a
            |         JOIN win w ON w.band = a.band AND w.bucket = a.bucket
            |         GROUP BY a.doc_id
            |         HAVING count(*) =
            |                sum(CASE WHEN w.winner = a.doc_id THEN 1 ELSE 0 END))
            |SELECT d.doc_id, d.text,
            |       time_bucket(INTERVAL '1 hour',
            |                   epoch_ms((1767225600 + d.doc_id) * 1000)) AS window_start
            |FROM keep JOIN documents d USING (doc_id)""".stripMargin))

  /** st06: the embeddings table replayed through
    * [[graft.streaming.StreamingCuration.embeddingNearDupKeepers]]
    * (single sign-LSH bucket claimant, one `flatMapGroupsWithState`)
    * must equal the SQL claimant simulation over the SAME md5-derived
    * hyperplanes as the batch p12 gate. Verdicts emit in the batch
    * that folds them (append, no window stage), so no flush sentinel
    * is needed; one staged file = one micro-batch = the claimant
    * contest runs against empty state once, like the oracle's global
    * per-bucket min (ingested_at = BASE + vec_id seconds keeps the
    * (event time, id) claimant equal to min vec_id). The flush-free
    * shape also means every verdict row — keepers AND drops — is
    * gate-checked, not just the survivors.
    */
  private def streamingEmbNearDup: QueryDef = QueryDef(
    "st06_streaming_emb_neardup",
    (s, dir) => {
      import s.implicits._
      val baseUs = 1767225600000000L
      val ev = Tables.embeddings(s, dir)
        .select(col("vec_id").cast("long").as("vec_id"), col("embedding"))
        .withColumn("ingested_at",
          timestamp_micros(lit(baseUs) + col("vec_id") * lit(1000000L)))
      val schema = ev.schema
      if (ev.isEmpty) {
        s.createDataFrame(s.sparkContext.emptyRDD[org.apache.spark.sql.Row],
          org.apache.spark.sql.types.StructType(Seq(
            org.apache.spark.sql.types.StructField("vec_id",
              org.apache.spark.sql.types.LongType),
            org.apache.spark.sql.types.StructField("keeper",
              org.apache.spark.sql.types.BooleanType),
            org.apache.spark.sql.types.StructField("quarantined",
              org.apache.spark.sql.types.BooleanType))))
      } else {
        val dirP = scratch("st06")
        val stage = dirP.resolve("input").toString
        val ckpt = dirP.resolve("ckpt").toString
        ev.coalesce(1).write.parquet(stage)

        val qname = "st06_" + UUID.randomUUID().toString.replace("-", "")
        val q = graft.streaming.StreamingCuration.embeddingNearDupKeepers(
            s.readStream.schema(schema).parquet(stage),
            bits = 2, dim = PipelineQueries.EmbeddingDim)
            .writeStream.format("memory").queryName(qname)
            .outputMode("append").option("checkpointLocation", ckpt)
            .trigger(Trigger.AvailableNow()).startScoped(s)
        try q.awaitTermination() finally { q.stop(); deleteRecursively(dirP) }
        s.table(qname).select(col("vec_id"), col("keeper"), col("quarantined"))
      }
    },
    Some(s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
            |           FROM embeddings
            |           WHERE len(embedding) = ${PipelineQueries.EmbeddingDim}),
            |b AS (SELECT vec_id, ${PipelineQueries.bucketSql("v", 2)} AS bucket
            |      FROM e),
            |win AS (SELECT bucket, min(vec_id) AS winner
            |        FROM b GROUP BY bucket)
            |SELECT em.vec_id,
            |       CASE WHEN b.vec_id IS NULL THEN true
            |            ELSE w.winner = em.vec_id END AS keeper,
            |       b.vec_id IS NULL AS quarantined
            |FROM embeddings em
            |LEFT JOIN b ON b.vec_id = em.vec_id
            |LEFT JOIN win w ON w.bucket = b.bucket""".stripMargin))

  /** st07: windowed per-language corpus stats over the scored stream
    * ([[graft.streaming.StreamingCuration.corpusStats]]) must equal
    * the batch grouping — quality featurization and lang-ID are
    * stateless projections, so the parity question is the windowed
    * append-mode aggregation itself (integral aggregates only, same
    * determinism discipline as the batch p15 gate). The scored
    * stream is fed UNFILTERED (no dedup stage — [[StreamingCuration
    * .curate]]'s `dropDuplicatesWithinWatermark` elects a
    * batch-order-dependent survivor among exact dups, which no
    * deterministic oracle can reproduce; that op stays spec-gated).
    * Flush doc 1 day + 2 h after the corpus closes every real
    * window; its own window never closes. Docs are spaced 60 s
    * apart so the corpus spans many emit windows (~9 at sf0.01) —
    * a 1 s spacing collapsed everything into one row.
    */
  private def streamingCorpusStats: QueryDef = QueryDef(
    "st07_streaming_corpus_stats",
    (s, dir) => {
      import s.implicits._
      val baseUs = 1767225600000000L
      val ev = Tables.documents(s, dir)
        .select(col("doc_id").cast("long").as("doc_id"),
          col("text").cast("string").as("text"))
        .withColumn("ingested_at",
          timestamp_micros(lit(baseUs) + col("doc_id") * lit(60000000L)))
      val schema = ev.schema
      maxTsUs(ev.select(col("ingested_at").as("ts"))) match {
        case None =>
          s.createDataFrame(s.sparkContext.emptyRDD[org.apache.spark.sql.Row],
            org.apache.spark.sql.types.StructType(Seq(
              org.apache.spark.sql.types.StructField("predicted_lang",
                org.apache.spark.sql.types.StringType),
              org.apache.spark.sql.types.StructField("window_start",
                org.apache.spark.sql.types.TimestampType),
              org.apache.spark.sql.types.StructField("n_docs",
                org.apache.spark.sql.types.LongType),
              org.apache.spark.sql.types.StructField("total_tokens",
                org.apache.spark.sql.types.LongType))))
        case Some(maxUs) =>
          val flushUs = maxUs + OneDayUs + 2 * OneHourUs
          val flush = s.range(1).select(lit(-1L).as("doc_id"),
            lit("flush").as("text"),
            timestamp_micros(lit(flushUs)).as("ingested_at"))
          val dirP = scratch("st07")
          val stage = dirP.resolve("input").toString
          val ckpt = dirP.resolve("ckpt").toString
          ev.unionByName(flush).coalesce(1).write.parquet(stage)

          val qname = "st07_" + UUID.randomUUID().toString.replace("-", "")
          val scored = graft.pipeline.TextAnalysis.langId(
            graft.pipeline.TextAnalysis.qualityFeatures(
              s.readStream.schema(schema).parquet(stage)))
            .withWatermark("ingested_at", "1 day")
          val q = graft.streaming.StreamingCuration.corpusStats(scored)
            .writeStream.format("memory").queryName(qname)
            .outputMode("append").option("checkpointLocation", ckpt)
            .trigger(Trigger.AvailableNow()).startScoped(s)
          try q.awaitTermination() finally { q.stop(); deleteRecursively(dirP) }
          s.table(qname)
            .select(col("predicted_lang"), col("window_start"),
              col("n_docs"), col("total_tokens"))
      }
    },
    Some(s"""WITH f AS (SELECT *, ${PipelineQueries.qualityColsSql} FROM documents),
            |langs AS (SELECT *, ${PipelineQueries.langHitsSql} FROM f),
            |pl AS (SELECT doc_id, n_tokens, ${PipelineQueries.langCaseSql}
            |       FROM langs)
            |SELECT predicted_lang,
            |       time_bucket(INTERVAL '1 hour',
            |                   epoch_ms((1767225600 + doc_id * 60) * 1000)) AS window_start,
            |       CAST(count(*) AS BIGINT) AS n_docs,
            |       CAST(sum(n_tokens) AS BIGINT) AS total_tokens
            |FROM pl GROUP BY 1, 2""".stripMargin))

  /** Streaming mergeable-sketch aggregation: per (source, 1 h window)
    * KMV distinct-token sketches through the STREAMING path — the
    * production shape for streaming cardinality (bounded O(k) state
    * per open group where exact distinct-counting state grows with
    * the distinct set; the same native [[graft.functions.SketchFunctions
    * .kminValues]] aggregate serves batch and stream). KMV content is
    * a pure function of the input SET (order-independent), so the
    * closed-window sketches — size, kth min, full-content md5, and
    * the estimator — hash-match a batch oracle exactly, p54-style.
    */
  private def streamingKmv: QueryDef = QueryDef(
    "st08_streaming_kmv",
    (s, dir) => {
      import graft.functions.SketchFunctions._
      val k = 64
      val baseUs = 1767225600000000L
      val ev = Tables.documents(s, dir)
        .select(col("doc_id").cast("long").as("doc_id"),
          col("source").cast("string").as("source"),
          col("text").cast("string").as("text"))
        .withColumn("ingested_at",
          timestamp_micros(lit(baseUs) + col("doc_id") * lit(60000000L)))
      val schema = ev.schema
      maxTsUs(ev.select(col("ingested_at").as("ts"))) match {
        case None =>
          s.createDataFrame(s.sparkContext.emptyRDD[org.apache.spark.sql.Row],
            org.apache.spark.sql.types.StructType(Seq(
              org.apache.spark.sql.types.StructField("source",
                org.apache.spark.sql.types.StringType),
              org.apache.spark.sql.types.StructField("window_start",
                org.apache.spark.sql.types.TimestampType),
              org.apache.spark.sql.types.StructField("sketch_size",
                org.apache.spark.sql.types.LongType),
              org.apache.spark.sql.types.StructField("kth_min",
                org.apache.spark.sql.types.LongType),
              org.apache.spark.sql.types.StructField("sketch_md5",
                org.apache.spark.sql.types.StringType),
              org.apache.spark.sql.types.StructField("est_distinct",
                org.apache.spark.sql.types.DoubleType))))
        case Some(maxUs) =>
          val flushUs = maxUs + OneDayUs + 2 * OneHourUs
          val flush = s.range(1).select(lit(-1L).as("doc_id"),
            lit("flush").as("source"), lit("flush").as("text"),
            timestamp_micros(lit(flushUs)).as("ingested_at"))
          val dirP = scratch("st08")
          val stage = dirP.resolve("input").toString
          val ckpt = dirP.resolve("ckpt").toString
          ev.unionByName(flush).coalesce(1).write.parquet(stage)

          val qname = "st08_" + UUID.randomUUID().toString.replace("-", "")
          // the flush row rides through: it advances the watermark past
          // every real window while its OWN window never closes, so it
          // is never emitted (the st07 convention)
          val hashed = s.readStream.schema(schema).parquet(stage)
            .withWatermark("ingested_at", "1 day")
            .select(col("source"), col("ingested_at"),
              explode(graft.pipeline.TextAnalysis.tokens(col("text"))).as("tok"))
            .select(col("source"), col("ingested_at"),
              graft.functions.Md5Hash.h60(col("tok")).as("h"))
          val q = hashed
            .groupBy(col("source"), window(col("ingested_at"), "1 hour"))
            .agg(kminValues(col("h"), k).as("sketch"))
            .writeStream.format("memory").queryName(qname)
            .outputMode("append").option("checkpointLocation", ckpt)
            .trigger(Trigger.AvailableNow()).startScoped(s)
          try q.awaitTermination() finally { q.stop(); deleteRecursively(dirP) }
          s.table(qname)
            .select(col("source"), col("window.start").as("window_start"),
              size(col("sketch")).cast("long").as("sketch_size"),
              when(size(col("sketch")) > 0,
                element_at(col("sketch"), size(col("sketch")))).as("kth_min"),
              md5(concat_ws(",", col("sketch"))).as("sketch_md5"),
              kmvEstimate(col("sketch"), k).as("est_distinct"))
      }
    },
    Some(s"""WITH toks AS (
            |  SELECT source,
            |         time_bucket(INTERVAL '1 hour',
            |                     epoch_ms((1767225600 + doc_id * 60) * 1000))
            |           AS window_start,
            |         unnest(list_filter(string_split_regex(trim(text), '\\s+'),
            |                            t -> t <> '')) AS tok
            |  FROM documents),
            |h AS (SELECT DISTINCT source, window_start,
            |             ('0x' || substr(md5(tok), 1, 15))::BIGINT AS h
            |      FROM toks),
            |r AS (SELECT source, window_start, h,
            |             row_number() OVER (PARTITION BY source, window_start
            |                                ORDER BY h) AS rn
            |      FROM h),
            |sk AS (SELECT source, window_start,
            |              CAST(count(*) AS BIGINT) AS sketch_size,
            |              max(h) AS kth_min,
            |              md5(string_agg(CAST(h AS VARCHAR), ',' ORDER BY h)) AS sketch_md5
            |       FROM r WHERE rn <= 64 GROUP BY source, window_start)
            |SELECT source, window_start, sketch_size, kth_min, sketch_md5,
            |       CASE WHEN sketch_size < 64
            |            THEN CAST(sketch_size AS DOUBLE)
            |            ELSE CAST(63 AS DOUBLE) * 1152921504606846976
            |                   / CAST(kth_min AS DOUBLE) END AS est_distinct
            |FROM sk""".stripMargin))

  /** Streaming Count-Min: the second native sketch through the
    * streaming path — per (source, 1 h window) term-frequency grids
    * with fixed O(depth x width) state per open group (elementwise-sum
    * merge is what makes the grid micro-batch-mergeable). The grid is
    * a pure function of the input MULTISET, so each closed window's
    * full 4x16 counter grid md5-matches the batch oracle cell by
    * cell, zeros included.
    */
  private def streamingCms: QueryDef = QueryDef(
    "st09_streaming_cms",
    (s, dir) => {
      import graft.functions.SketchFunctions._
      val depth = 4
      val width = 16
      val baseUs = 1767225600000000L
      val ev = Tables.documents(s, dir)
        .select(col("doc_id").cast("long").as("doc_id"),
          col("source").cast("string").as("source"),
          col("text").cast("string").as("text"))
        .withColumn("ingested_at",
          timestamp_micros(lit(baseUs) + col("doc_id") * lit(60000000L)))
      val schema = ev.schema
      maxTsUs(ev.select(col("ingested_at").as("ts"))) match {
        case None =>
          s.createDataFrame(s.sparkContext.emptyRDD[org.apache.spark.sql.Row],
            org.apache.spark.sql.types.StructType(Seq(
              org.apache.spark.sql.types.StructField("source",
                org.apache.spark.sql.types.StringType),
              org.apache.spark.sql.types.StructField("window_start",
                org.apache.spark.sql.types.TimestampType),
              org.apache.spark.sql.types.StructField("grid_md5",
                org.apache.spark.sql.types.StringType),
              org.apache.spark.sql.types.StructField("n_tokens",
                org.apache.spark.sql.types.LongType))))
        case Some(maxUs) =>
          val flushUs = maxUs + OneDayUs + 2 * OneHourUs
          val flush = s.range(1).select(lit(-1L).as("doc_id"),
            lit("flush").as("source"), lit("flush").as("text"),
            timestamp_micros(lit(flushUs)).as("ingested_at"))
          val dirP = scratch("st09")
          val stage = dirP.resolve("input").toString
          val ckpt = dirP.resolve("ckpt").toString
          ev.unionByName(flush).coalesce(1).write.parquet(stage)

          val qname = "st09_" + UUID.randomUUID().toString.replace("-", "")
          val hashed = s.readStream.schema(schema).parquet(stage)
            .withWatermark("ingested_at", "1 day")
            .select(col("source"), col("ingested_at"),
              explode(graft.pipeline.TextAnalysis.tokens(col("text"))).as("tok"))
            .select(col("source"), col("ingested_at"),
              graft.functions.Md5Hash.h60(col("tok")).as("h"))
          val q = hashed
            .groupBy(col("source"), window(col("ingested_at"), "1 hour"))
            .agg(countMin(col("h"), depth, width).as("grid"))
            .writeStream.format("memory").queryName(qname)
            .outputMode("append").option("checkpointLocation", ckpt)
            .trigger(Trigger.AvailableNow()).startScoped(s)
          try q.awaitTermination() finally { q.stop(); deleteRecursively(dirP) }
          s.table(qname)
            .select(col("source"), col("window.start").as("window_start"),
              md5(concat_ws(",", col("grid"))).as("grid_md5"),
              // every grid row sums to the window's token count; row 0
              // is a 16-element slice — an exact integral fold
              aggregate(slice(col("grid"), 1, width), lit(0L),
                (acc, x) => acc + x).as("n_tokens"))
      }
    },
    Some(s"""WITH toks AS (
            |  SELECT source,
            |         time_bucket(INTERVAL '1 hour',
            |                     epoch_ms((1767225600 + doc_id * 60) * 1000))
            |           AS window_start,
            |         unnest(list_filter(string_split_regex(trim(text), '\\s+'),
            |                            t -> t <> '')) AS tok
            |  FROM documents),
            |parts AS (SELECT source, window_start,
            |                 ('0x' || substr(md5(tok), 1, 15))::BIGINT & 1073741823 AS h1,
            |                 ('0x' || substr(md5(tok), 1, 15))::BIGINT >> 30 AS h2
            |          FROM toks),
            |pop AS (SELECT source, window_start, d.i,
            |               (h1 + d.i * h2) % 16 AS b,
            |               CAST(count(*) AS BIGINT) AS c
            |        FROM parts CROSS JOIN (SELECT unnest(range(4)) AS i) d
            |        GROUP BY 1, 2, 3, 4),
            |grp AS (SELECT DISTINCT source, window_start FROM parts),
            |cells AS (SELECT g.source, g.window_start, d.i, w.b
            |          FROM grp g
            |          CROSS JOIN (SELECT unnest(range(4)) AS i) d
            |          CROSS JOIN (SELECT unnest(range(16)) AS b) w),
            |grid AS (SELECT c.source, c.window_start, c.i, c.b,
            |                coalesce(p.c, 0) AS c
            |         FROM cells c LEFT JOIN pop p
            |           ON p.source = c.source AND p.window_start = c.window_start
            |          AND p.i = c.i AND p.b = c.b)
            |SELECT source, window_start,
            |       md5(string_agg(CAST(c AS VARCHAR), ',' ORDER BY i, b)) AS grid_md5,
            |       CAST(sum(CASE WHEN i = 0 THEN c END) AS BIGINT) AS n_tokens
            |FROM grid GROUP BY source, window_start""".stripMargin))

  /** st10: the documents table replayed through
    * [[graft.streaming.StreamingCuration.curateVerdicts]] (the
    * DETERMINISTIC fingerprint-dedup claimant — the variant that
    * closes `curate`'s batch-order-dependent survivor gap, round-8
    * verdict item 7) must equal the SQL claimant simulation:
    * quality-filter, md5 fingerprint, per-fp min-(ts, doc_id) winner.
    * ingested_at = BASE + doc_id seconds is strictly monotone, so the
    * stream's (event time, doc_id) claimant is exactly the
    * fingerprint's min doc_id; one staged file = one micro-batch =
    * the contest runs against empty state once, like the oracle's
    * global min. Flush-free (verdicts emit in the batch that folds
    * them), so every row — keepers AND drops — is gate-checked;
    * language-tagging the verdicts afterwards checks the composed
    * [[graft.streaming.StreamingCuration.curateDeterministic]]
    * projection on the same rows (langId is a stateless scan
    * expression, identical plan either side of the sink).
    */
  private def streamingCurateDeterministic: QueryDef = QueryDef(
    "st10_streaming_curate",
    (s, dir) => {
      val baseUs = 1767225600000000L
      val ev = Tables.documents(s, dir)
        .select(col("doc_id").cast("long").as("doc_id"),
          col("text").cast("string").as("text"),
          col("source").cast("string").as("source"))
        .withColumn("ingested_at",
          timestamp_micros(lit(baseUs) + col("doc_id") * lit(1000000L)))
      val schema = ev.schema
      if (ev.isEmpty) {
        s.createDataFrame(s.sparkContext.emptyRDD[org.apache.spark.sql.Row],
          org.apache.spark.sql.types.StructType(Seq(
            org.apache.spark.sql.types.StructField("doc_id",
              org.apache.spark.sql.types.LongType),
            org.apache.spark.sql.types.StructField("keeper",
              org.apache.spark.sql.types.BooleanType),
            org.apache.spark.sql.types.StructField("predicted_lang",
              org.apache.spark.sql.types.StringType))))
      } else {
        val dirP = scratch("st10")
        val stage = dirP.resolve("input").toString
        val ckpt = dirP.resolve("ckpt").toString
        ev.coalesce(1).write.parquet(stage)

        val qname = "st10_" + UUID.randomUUID().toString.replace("-", "")
        val q = graft.streaming.StreamingCuration.curateVerdicts(
            s.readStream.schema(schema).parquet(stage)
              .repartition(8, col("doc_id")))
            .writeStream.format("memory").queryName(qname)
            .outputMode("append").option("checkpointLocation", ckpt)
            .trigger(Trigger.AvailableNow()).startScoped(s)
        try q.awaitTermination() finally { q.stop(); deleteRecursively(dirP) }
        graft.pipeline.TextAnalysis.langId(s.table(qname))
          .select(col("doc_id"), col("keeper"), col("predicted_lang"))
      }
    },
    Some(s"""WITH f AS (SELECT *, ${PipelineQueries.qualityColsSql} FROM documents),
            |scored AS (SELECT *, ${PipelineQueries.qualityScoreSql} AS quality_score
            |           FROM f),
            |kept AS (SELECT doc_id, text,
            |                md5(lower(regexp_replace(trim(text), '\\s+', ' ', 'g'))) AS fp
            |         FROM scored WHERE quality_score >= 0.5),
            |win AS (SELECT fp, min(doc_id) AS winner FROM kept GROUP BY fp),
            |langs AS (SELECT k.doc_id, (k.doc_id = w.winner) AS keeper,
            |                 ${PipelineQueries.langHitsSql}
            |          FROM kept k JOIN win w USING (fp))
            |SELECT doc_id, keeper, ${PipelineQueries.langCaseSql}
            |FROM langs""".stripMargin))

  /** st11: Spark's NATIVE watermarked stream-stream interval join
    * ([[graft.streaming.StreamingIntervalJoin.within]]) — the one
    * streaming operator class the other gates don't exercise (they
    * are stateful maps and windowed aggs). Each view event joined to
    * the same user's purchase events within (view_ts, view_ts + 2 h].
    * Inner-join semantics make the output batch-deterministic (a
    * match emits in the micro-batch that completes the pair — no
    * claimant, no arrival-order sensitivity), so the oracle is the
    * plain batch SQL interval join. Flush-free: one staged file =
    * one micro-batch containing both sides of every pair.
    */
  private def streamingIntervalJoin: QueryDef = QueryDef(
    "st11_streaming_interval_join",
    (s, dir) => {
      val ev = Tables.events(s, dir)
      val schema = ev.schema
      if (ev.isEmpty) {
        s.createDataFrame(s.sparkContext.emptyRDD[org.apache.spark.sql.Row],
          org.apache.spark.sql.types.StructType(Seq(
            org.apache.spark.sql.types.StructField("view_id",
              org.apache.spark.sql.types.LongType),
            org.apache.spark.sql.types.StructField("purchase_id",
              org.apache.spark.sql.types.LongType),
            org.apache.spark.sql.types.StructField("amount",
              org.apache.spark.sql.types.DoubleType))))
      } else {
        val dirP = scratch("st11")
        val stage = dirP.resolve("input").toString
        val ckpt = dirP.resolve("ckpt").toString
        ev.coalesce(1).write.parquet(stage)

        val qname = "st11_" + UUID.randomUUID().toString.replace("-", "")
        val q = {
            val stream = s.readStream.schema(schema).parquet(stage)
            val views = stream.where(col("event_type") === "view")
              .select(col("event_id").as("view_id"),
                col("user_id").as("v_user"), col("ts").as("view_ts"))
            val purchases = stream.where(col("event_type") === "purchase")
              .select(col("event_id").as("purchase_id"),
                col("user_id").as("p_user"), col("ts").as("purchase_ts"),
                col("value").as("amount"))
            graft.streaming.StreamingIntervalJoin.within(
              views, purchases, ("v_user", "p_user"),
              ("view_ts", "purchase_ts"),
              watermarkDelay = "1 day", maxGap = "2 hours")
              .select(col("view_id"), col("purchase_id"), col("amount"))
              .writeStream.format("memory").queryName(qname)
              .outputMode("append").option("checkpointLocation", ckpt)
              .trigger(Trigger.AvailableNow()).startScoped(s)
          }
        try q.awaitTermination() finally { q.stop(); deleteRecursively(dirP) }
        s.table(qname).select(col("view_id"), col("purchase_id"), col("amount"))
      }
    },
    Some("""SELECT v.event_id AS view_id,
           |       p.event_id AS purchase_id,
           |       p.value AS amount
           |FROM events v JOIN events p
           |  ON v.event_type = 'view' AND p.event_type = 'purchase'
           | AND p.user_id = v.user_id
           | AND p.ts > v.ts AND p.ts <= v.ts + INTERVAL 2 HOUR""".stripMargin))

  /** st12: per-(source, 1 h window) HyperLogLog distinct-token
    * sketches through the STREAMING path — completing the streaming
    * sketch trio next to st08 (KMV) and st09 (Count-Min) with the
    * smallest-state member: 2^p BYTES per open group (16 at p=4)
    * where KMV holds k longs. The same native
    * [[graft.functions.HyperLogLog]] aggregate serves batch and
    * stream; register content is a pure function of the input SET
    * (max is order/batching-independent), so the closed windows —
    * register digest, zero count, exact-integer harmonic denominator
    * and the pinned-order estimate — hash-match the batch oracle
    * exactly, p70-style.
    */
  private def streamingHll: QueryDef = QueryDef(
    "st12_streaming_hll",
    (s, dir) => {
      import graft.functions.SketchFunctions._
      val p = 4
      val baseUs = 1767225600000000L
      val ev = Tables.documents(s, dir)
        .select(col("doc_id").cast("long").as("doc_id"),
          col("source").cast("string").as("source"),
          col("text").cast("string").as("text"))
        .withColumn("ingested_at",
          timestamp_micros(lit(baseUs) + col("doc_id") * lit(60000000L)))
      val schema = ev.schema
      maxTsUs(ev.select(col("ingested_at").as("ts"))) match {
        case None =>
          s.createDataFrame(s.sparkContext.emptyRDD[org.apache.spark.sql.Row],
            org.apache.spark.sql.types.StructType(Seq(
              org.apache.spark.sql.types.StructField("source",
                org.apache.spark.sql.types.StringType),
              org.apache.spark.sql.types.StructField("window_start",
                org.apache.spark.sql.types.TimestampType),
              org.apache.spark.sql.types.StructField("register_digest",
                org.apache.spark.sql.types.StringType),
              org.apache.spark.sql.types.StructField("n_zero_registers",
                org.apache.spark.sql.types.LongType),
              org.apache.spark.sql.types.StructField("harmonic_scaled",
                org.apache.spark.sql.types.DoubleType),
              org.apache.spark.sql.types.StructField("est_distinct",
                org.apache.spark.sql.types.DoubleType))))
        case Some(maxUs) =>
          val flushUs = maxUs + OneDayUs + 2 * OneHourUs
          val flush = s.range(1).select(lit(-1L).as("doc_id"),
            lit("flush").as("source"), lit("flush").as("text"),
            timestamp_micros(lit(flushUs)).as("ingested_at"))
          val dirP = scratch("st12")
          val stage = dirP.resolve("input").toString
          val ckpt = dirP.resolve("ckpt").toString
          ev.unionByName(flush).coalesce(1).write.parquet(stage)

          val qname = "st12_" + UUID.randomUUID().toString.replace("-", "")
          // flush row: advances the watermark past every real window,
          // its own window never closes (the st07 convention)
          val hashed = s.readStream.schema(schema).parquet(stage)
            .withWatermark("ingested_at", "1 day")
            .select(col("source"), col("ingested_at"),
              explode(graft.pipeline.TextAnalysis.tokens(col("text"))).as("tok"))
            .select(col("source"), col("ingested_at"),
              graft.functions.Md5Hash.h60(col("tok")).as("h"))
          val q = hashed
            .groupBy(col("source"), window(col("ingested_at"), "1 hour"))
            .agg(hyperLogLog(col("h"), p).as("regs"))
            .writeStream.format("memory").queryName(qname)
            .outputMode("append").option("checkpointLocation", ckpt)
            .trigger(Trigger.AvailableNow()).startScoped(s)
          try q.awaitTermination() finally { q.stop(); deleteRecursively(dirP) }
          s.table(qname)
            .select(col("source"), col("window.start").as("window_start"),
              md5(array_join(transform(col("regs"), _.cast("string")), ","))
                .as("register_digest"),
              hllZeroRegisters(col("regs")).as("n_zero_registers"),
              hllHarmonicScaled(col("regs")).as("harmonic_scaled"),
              hllEstimate(col("regs"), p).as("est_distinct"))
      }
    },
    Some(s"""WITH toks AS (
            |  SELECT source,
            |         time_bucket(INTERVAL '1 hour',
            |                     epoch_ms((1767225600 + doc_id * 60) * 1000))
            |           AS window_start,
            |         unnest(list_filter(string_split_regex(trim(text), '\\s+'),
            |                            t -> t <> '')) AS tok
            |  FROM documents),
            |h AS (SELECT DISTINCT source, window_start,
            |             ('0x' || substr(md5(tok), 1, 15))::BIGINT AS h
            |      FROM toks),
            |rho AS (SELECT source, window_start, h % 16 AS bucket,
            |               CASE WHEN h // 16 = 0 THEN 57
            |                    ELSE 56 - length(bin(h // 16)) + 1 END AS rho
            |        FROM h),
            |base AS (SELECT DISTINCT source, window_start FROM toks),
            |regs AS (SELECT base.source, base.window_start, b.bucket,
            |                COALESCE(mx.mr, 0) AS reg
            |         FROM base
            |         CROSS JOIN (SELECT unnest(range(16)) AS bucket) b
            |         LEFT JOIN (SELECT source, window_start, bucket, max(rho) AS mr
            |                    FROM rho GROUP BY source, window_start, bucket) mx
            |           ON mx.source = base.source
            |          AND mx.window_start = base.window_start
            |          AND mx.bucket = b.bucket)
            |SELECT source, window_start,
            |       md5(string_agg(CAST(reg AS VARCHAR), ',' ORDER BY bucket))
            |         AS register_digest,
            |       CAST(sum(CASE WHEN reg = 0 THEN 1 ELSE 0 END) AS BIGINT)
            |         AS n_zero_registers,
            |       CAST(sum(1::HUGEINT << (61 - CAST(reg AS INT))) AS DOUBLE)
            |         AS harmonic_scaled,
            |       (0.7213 / (1 + 1.079 / 16.0)) * 256.0 * 2305843009213693952.0
            |         / CAST(sum(1::HUGEINT << (61 - CAST(reg AS INT))) AS DOUBLE)
            |         AS est_distinct
            |FROM regs GROUP BY source, window_start""".stripMargin))

  /** st13: Spark's NATIVE `session_window` streaming aggregation —
    * the built-in counterpart of st01's custom
    * [[graft.streaming.StreamingSessions]] state machine. Sessions
    * merge while consecutive events are within the 30-min gap
    * (boundary INCLUSIVE: two events exactly gap apart share a
    * session — probed empirically, and exactly the batch CTE's
    * `gap > 30min` break), the watermark closes a session once no
    * mergeable event can still arrive, and state is one (start, end,
    * partial-aggs) tuple per OPEN session per user — bounded by
    * active users, self-cleaning. Same oracle recurrence as p33/st01
    * with the native window's `end = last event + gap` convention;
    * aggregates integral (counts + cents sums). A single sentinel
    * flush row (user -1) advances the watermark past every real
    * session; its own session never closes.
    */
  private def streamingSessionWindow: QueryDef = QueryDef(
    "st13_streaming_session_window",
    (s, dir) => {
      val ev = eventStream(s, dir)
      val schema = ev.schema
      maxTsUs(ev) match {
        case None =>
          s.createDataFrame(s.sparkContext.emptyRDD[org.apache.spark.sql.Row],
            org.apache.spark.sql.types.StructType(Seq(
              org.apache.spark.sql.types.StructField("user_id",
                org.apache.spark.sql.types.LongType),
              org.apache.spark.sql.types.StructField("start_us",
                org.apache.spark.sql.types.LongType),
              org.apache.spark.sql.types.StructField("end_us",
                org.apache.spark.sql.types.LongType),
              org.apache.spark.sql.types.StructField("n_events",
                org.apache.spark.sql.types.LongType),
              org.apache.spark.sql.types.StructField("n_purchases",
                org.apache.spark.sql.types.LongType),
              org.apache.spark.sql.types.StructField("value_cents",
                org.apache.spark.sql.types.LongType))))
        case Some(maxUs) =>
          val flushUs = maxUs + ThirtyMinUs + OneHourUs
          val flush = s.range(1).select(lit(-1L).as("event_id"),
            lit(-1L).as("user_id"), timestamp_micros(lit(flushUs)).as("ts"),
            lit("flush").as("event_type"), lit(0.0).as("value"))
          val dirP = scratch("st13")
          val stage = dirP.resolve("input").toString
          val ckpt = dirP.resolve("ckpt").toString
          ev.unionByName(flush).coalesce(1).write.parquet(stage)

          val qname = "st13_" + UUID.randomUUID().toString.replace("-", "")
          val q = s.readStream.schema(schema).parquet(stage)
            .withWatermark("ts", "0 seconds")
            .groupBy(col("user_id"), session_window(col("ts"), "30 minutes"))
            .agg(count(lit(1)).as("n_events"),
              sum(when(col("event_type") === "purchase", 1L).otherwise(0L))
                .as("n_purchases"),
              sum(round(col("value") * 100).cast("long")).as("value_cents"))
            .writeStream.format("memory").queryName(qname)
            .outputMode("append").option("checkpointLocation", ckpt)
            .trigger(Trigger.AvailableNow()).startScoped(s)
          try q.awaitTermination() finally { q.stop(); deleteRecursively(dirP) }
          s.table(qname).where(col("user_id") =!= -1L)
            .select(col("user_id"),
              unix_micros(col("session_window.start")).as("start_us"),
              unix_micros(col("session_window.end")).as("end_us"),
              col("n_events"), col("n_purchases"), col("value_cents"))
      }
    },
    Some(s"""WITH ${EventQueries.sessionCtes}
            |SELECT user_id, start_us, end_us + $ThirtyMinUs AS end_us,
            |       n_events, n_purchases, value_cents
            |FROM sess""".stripMargin))

  /** st14: HOPPING (sliding) windows — the third native windowing
    * mode next to the tumbling gates (st07-st09/st12) and the session
    * gate (st13): 1 h windows every 30 min, so each event contributes
    * to exactly TWO windows. State is one partial-agg tuple per open
    * (event_type, window) — window_count/slide_count times tumbling,
    * bounded and watermark-closed. Window starts leave as epoch-micros
    * BIGINTs (the events-family tz convention); the oracle derives
    * both covering windows per event with integer floor arithmetic.
    * Aggregates integral (counts + cents sums).
    */
  private def streamingHopping: QueryDef = QueryDef(
    "st14_streaming_hopping",
    (s, dir) => {
      val ev = eventStream(s, dir)
      val schema = ev.schema
      maxTsUs(ev) match {
        case None =>
          s.createDataFrame(s.sparkContext.emptyRDD[org.apache.spark.sql.Row],
            org.apache.spark.sql.types.StructType(Seq(
              org.apache.spark.sql.types.StructField("event_type",
                org.apache.spark.sql.types.StringType),
              org.apache.spark.sql.types.StructField("ws_us",
                org.apache.spark.sql.types.LongType),
              org.apache.spark.sql.types.StructField("n_events",
                org.apache.spark.sql.types.LongType),
              org.apache.spark.sql.types.StructField("value_cents",
                org.apache.spark.sql.types.LongType))))
        case Some(maxUs) =>
          val flushUs = maxUs + 2 * OneHourUs
          val flush = s.range(1).select(lit(-1L).as("event_id"),
            lit(-1L).as("user_id"), timestamp_micros(lit(flushUs)).as("ts"),
            lit("flush").as("event_type"), lit(0.0).as("value"))
          val dirP = scratch("st14")
          val stage = dirP.resolve("input").toString
          val ckpt = dirP.resolve("ckpt").toString
          ev.unionByName(flush).coalesce(1).write.parquet(stage)

          val qname = "st14_" + UUID.randomUUID().toString.replace("-", "")
          val q = s.readStream.schema(schema).parquet(stage)
            .withWatermark("ts", "0 seconds")
            .groupBy(col("event_type"),
              window(col("ts"), "1 hour", "30 minutes"))
            .agg(count(lit(1)).as("n_events"),
              sum(round(col("value") * 100).cast("long")).as("value_cents"))
            .writeStream.format("memory").queryName(qname)
            .outputMode("append").option("checkpointLocation", ckpt)
            .trigger(Trigger.AvailableNow()).startScoped(s)
          try q.awaitTermination() finally { q.stop(); deleteRecursively(dirP) }
          s.table(qname).where(col("event_type") =!= "flush")
            .select(col("event_type"),
              unix_micros(col("window.start")).as("ws_us"),
              col("n_events"), col("value_cents"))
      }
    },
    Some("""WITH e AS (SELECT event_type,
           |                 epoch_us(CAST(ts AS TIMESTAMP)) AS t, value
           |          FROM events),
           |x AS (SELECT event_type, value,
           |             unnest([(t // 1800000000) * 1800000000 - 1800000000,
           |                     (t // 1800000000) * 1800000000]) AS ws_us
           |      FROM e)
           |SELECT event_type, ws_us,
           |       CAST(count(*) AS BIGINT) AS n_events,
           |       CAST(sum(CAST(round(value * 100, 0) AS BIGINT)) AS BIGINT)
           |         AS value_cents
           |FROM x GROUP BY event_type, ws_us""".stripMargin))

  /** st15: STREAM-STATIC enrichment — the production shape where a
    * stream joins a slowly-changing dimension computed batch-side
    * (here a user->tier dim; statically BROADCAST, so each
    * micro-batch pays a map-side hash join, never a shuffle of the
    * stream). LEFT OUTER from the stream side: users deliberately
    * missing from the dim (user_id % 5 == 4) surface as 'unknown'
    * instead of silently dropping — the audit-friendly default for
    * enrichment. Downstream the enriched stream feeds a watermarked
    * tumbling per-(tier, 1 h) aggregation, proving watermark
    * propagation THROUGH the join. The flush sentinel advances the
    * watermark past every real window; its own (never-closed or
    * boundary-aligned) window is excluded by the ws_us <= max real
    * timestamp cut, which no real window violates.
    */
  private def streamingStreamStatic: QueryDef = QueryDef(
    "st15_stream_static_enrich",
    (s, dir) => {
      val ev = eventStream(s, dir)
      val schema = ev.schema
      maxTsUs(ev) match {
        case None =>
          s.createDataFrame(s.sparkContext.emptyRDD[org.apache.spark.sql.Row],
            org.apache.spark.sql.types.StructType(Seq(
              org.apache.spark.sql.types.StructField("tier",
                org.apache.spark.sql.types.StringType),
              org.apache.spark.sql.types.StructField("ws_us",
                org.apache.spark.sql.types.LongType),
              org.apache.spark.sql.types.StructField("n_events",
                org.apache.spark.sql.types.LongType),
              org.apache.spark.sql.types.StructField("value_cents",
                org.apache.spark.sql.types.LongType))))
        case Some(maxUs) =>
          // the static side: computed ONCE before the stream starts
          val dim = Tables.events(s, dir)
            .select(col("user_id").cast("long").as("user_id")).distinct()
            .where(pmod(col("user_id"), lit(5)) =!= 4)
            .withColumn("tier",
              concat(lit("tier_"), pmod(col("user_id"), lit(3))))
          val flushUs = maxUs + 2 * OneHourUs
          val flush = s.range(1).select(lit(-1L).as("event_id"),
            lit(-1L).as("user_id"), timestamp_micros(lit(flushUs)).as("ts"),
            lit("flush").as("event_type"), lit(0.0).as("value"))
          val dirP = scratch("st15")
          val stage = dirP.resolve("input").toString
          val ckpt = dirP.resolve("ckpt").toString
          ev.unionByName(flush).coalesce(1).write.parquet(stage)

          val qname = "st15_" + UUID.randomUUID().toString.replace("-", "")
          val q = s.readStream.schema(schema).parquet(stage)
            .withWatermark("ts", "0 seconds")
            .join(broadcast(dim), Seq("user_id"), "left_outer")
            .groupBy(coalesce(col("tier"), lit("unknown")).as("tier"),
              window(col("ts"), "1 hour"))
            .agg(count(lit(1)).as("n_events"),
              sum(round(col("value") * 100).cast("long")).as("value_cents"))
            .writeStream.format("memory").queryName(qname)
            .outputMode("append").option("checkpointLocation", ckpt)
            .trigger(Trigger.AvailableNow()).startScoped(s)
          try q.awaitTermination() finally { q.stop(); deleteRecursively(dirP) }
          s.table(qname)
            .select(col("tier"),
              unix_micros(col("window.start")).as("ws_us"),
              col("n_events"), col("value_cents"))
            .where(col("ws_us") <= maxUs)
      }
    },
    Some("""WITH dim AS (
           |  SELECT DISTINCT user_id,
           |         'tier_' || CAST(user_id % 3 AS VARCHAR) AS tier
           |  FROM events WHERE user_id % 5 <> 4),
           |e AS (SELECT user_id,
           |             epoch_us(CAST(ts AS TIMESTAMP)) AS t, value
           |      FROM events),
           |j AS (SELECT COALESCE(d.tier, 'unknown') AS tier,
           |             (e.t // 3600000000) * 3600000000 AS ws_us,
           |             e.value
           |      FROM e LEFT JOIN dim d USING (user_id))
           |SELECT tier, ws_us,
           |       CAST(count(*) AS BIGINT) AS n_events,
           |       CAST(sum(CAST(round(value * 100, 0) AS BIGINT)) AS BIGINT)
           |         AS value_cents
           |FROM j GROUP BY tier, ws_us""".stripMargin))

  /** st16: the LEFT OUTER side of the watermarked stream-stream
    * interval join ([[graft.streaming.StreamingIntervalJoin
    * .withinLeftOuter]]) — st11's shape, but every view emits exactly
    * once: converting views with their purchase, non-converting views
    * with NULLs once the watermark proves no purchase can still
    * arrive (eviction-time emission — deterministic, so the whole
    * output incl. the null rows hash-checks against the batch LEFT
    * JOIN). The online "did this view convert, including the no's"
    * feed. Replay: watermark two-step like st02 — sentinel 1 (one
    * flush row PER SIDE: the global watermark is the min over both)
    * pushes the watermark past every view's horizon, sentinel 2
    * triggers the eviction batch; flush rows filter out by id sign.
    */
  private def streamingIntervalJoinOuter: QueryDef = QueryDef(
    "st16_streaming_interval_left",
    (s, dir) => {
      val ev = Tables.events(s, dir)
      val schema = ev.schema
      maxTsUs(ev.select(col("ts"))) match {
        case None =>
          s.createDataFrame(s.sparkContext.emptyRDD[org.apache.spark.sql.Row],
            org.apache.spark.sql.types.StructType(Seq(
              org.apache.spark.sql.types.StructField("view_id",
                org.apache.spark.sql.types.LongType),
              org.apache.spark.sql.types.StructField("purchase_id",
                org.apache.spark.sql.types.LongType),
              org.apache.spark.sql.types.StructField("amount",
                org.apache.spark.sql.types.DoubleType))))
        case Some(maxUs) =>
          val dirP = scratch("st16")
          val stage = dirP.resolve("input").toString
          val ckpt = dirP.resolve("ckpt").toString
          ev.coalesce(1).write.parquet(stage)

          // one flush row per SIDE: each side's watermark tracks its
          // own filtered stream, and the join's effective watermark is
          // the min of the two
          def sentinel(tsUs: Long): DataFrame =
            s.range(1).select(explode(array(
              struct(lit(-1L).as("event_id"), timestamp_micros(lit(tsUs)).as("ts"),
                lit(-1L).as("user_id"), lit("view").as("event_type"),
                lit(0.0).as("value"), lit("{}").as("props")),
              struct(lit(-2L).as("event_id"), timestamp_micros(lit(tsUs)).as("ts"),
                lit(-2L).as("user_id"), lit("purchase").as("event_type"),
                lit(0.0).as("value"), lit("{}").as("props")))).as("e"))
              .select(col("e.*"))

          val qname = "st16_" + UUID.randomUUID().toString.replace("-", "")
          val q = {
              val stream = s.readStream.schema(schema).parquet(stage)
              val views = stream.where(col("event_type") === "view")
                .select(col("event_id").as("view_id"),
                  col("user_id").as("v_user"), col("ts").as("view_ts"))
              val purchases = stream.where(col("event_type") === "purchase")
                .select(col("event_id").as("purchase_id"),
                  col("user_id").as("p_user"), col("ts").as("purchase_ts"),
                  col("value").as("amount"))
              graft.streaming.StreamingIntervalJoin.withinLeftOuter(
                views, purchases, ("v_user", "p_user"),
                ("view_ts", "purchase_ts"),
                watermarkDelay = "0 seconds", maxGap = "2 hours")
                .select(col("view_id"), col("purchase_id"), col("amount"))
                .writeStream.format("memory").queryName(qname)
                .outputMode("append").option("checkpointLocation", ckpt)
                .trigger(Trigger.ProcessingTime(50)).startScoped(s)
            }
          try {
            q.processAllAvailable()
            val ordered = schema.fieldNames.map(col)
            sentinel(maxUs + 3 * OneHourUs).select(ordered: _*)
              .write.mode("append").parquet(stage)
            q.processAllAvailable()
            sentinel(maxUs + 4 * OneHourUs).select(ordered: _*)
              .write.mode("append").parquet(stage)
            q.processAllAvailable()
          } finally { q.stop(); deleteRecursively(dirP) }
          s.table(qname).where(col("view_id") >= 0L)
            .select(col("view_id"), col("purchase_id"), col("amount"))
      }
    },
    Some("""SELECT v.event_id AS view_id,
           |       p.event_id AS purchase_id,
           |       p.value AS amount
           |FROM events v LEFT JOIN events p
           |  ON p.event_type = 'purchase'
           | AND p.user_id = v.user_id
           | AND p.ts > v.ts AND p.ts <= v.ts + INTERVAL 2 HOUR
           |WHERE v.event_type = 'view'""".stripMargin))

  /** Gate side-artifact root — same per-run isolation contract as
    * [[PipelineQueries]]' (Verify pins `graft.artifact.dir` to a
    * sibling of the output dir before anything runs).
    */
  private def artifactRoot: String =
    sys.props.getOrElse("graft.artifact.dir", "/tmp/graft_artifacts")

  /** st17: ONLINE ingest dedup against the materialized LSH index —
    * the streaming face of the p19 loop
    * ([[graft.streaming.StreamingIndexDedup]]): even half indexed
    * offline, the odd half REPLAYED AS A MULTI-BATCH STREAM (two
    * staged files, maxFilesPerTrigger=1) with each micro-batch
    * judged via foreachBatch against the static band/shingle tables.
    * Index-wins + batch-blind verdicts are a pure per-row function
    * of (doc, index), so the appended union must hash-match p19's
    * one-shot oracle EXACTLY — micro-batching is output-invisible,
    * which is precisely the property that makes the online loop
    * trustworthy.
    */
  private def streamingIndexDedup: QueryDef = QueryDef(
    "st17_streaming_index_dedup",
    (s, dir) => {
      import org.apache.spark.sql.types.{DoubleType, LongType, StructField, StructType}
      val docs = Tables.documents(s, dir)
      val indexPath = s"$artifactRoot/lsh_index_st17"
      graft.pipeline.Dedup.writeLshIndex(
        docs.where(col("doc_id") % 2 === 0), indexPath)

      val odd = docs.where(col("doc_id") % 2 === 1)
        .select(col("doc_id").cast("long"), col("text").cast("string"))
      val schema = odd.schema
      val dirP = scratch("st17")
      val stage = dirP.resolve("input").toString
      val ckpt = dirP.resolve("ckpt").toString
      val out = dirP.resolve("out").toString
      // two files -> two genuine micro-batches under maxFilesPerTrigger
      odd.where(col("doc_id") % 4 === 1).coalesce(1).write.parquet(stage)
      odd.where(col("doc_id") % 4 === 3).coalesce(1)
        .write.mode("append").parquet(stage)

      val q = graft.streaming.StreamingIndexDedup.verdictWriter(
        s.readStream.schema(schema).option("maxFilesPerTrigger", 1)
          .parquet(stage),
        indexPath, out, threshold = 0.8)
        .option("checkpointLocation", ckpt).startScoped(s)
      try q.awaitTermination() finally q.stop()
      val result =
        try s.read.parquet(out).select("doc_new", "doc_old", "jaccard")
        catch { case _: Throwable =>
          s.createDataFrame(s.sparkContext.emptyRDD[org.apache.spark.sql.Row],
            StructType(Seq(StructField("doc_new", LongType),
              StructField("doc_old", LongType),
              StructField("jaccard", DoubleType))))
        }
      // materialize BEFORE the scratch dir disappears
      val rows = result.collect()
      deleteRecursively(dirP)
      s.createDataFrame(
        s.sparkContext.parallelize(rows.toIndexedSeq), result.schema)
    },
    Some(PipelineQueries.indexNeardupsOracleSql))

  /** st19: ONLINE ingest dedup against an index with PENDING
    * EVICTIONS — st17's shape after a retention pass: the even-id
    * half is indexed, every (id % 10 == 0) doc is then tombstoned
    * ([[graft.pipeline.Dedup.tombstoneLshIndex]] — the logical delete
    * p91 gates in batch), and the odd half streams in two genuine
    * micro-batches. Every batch's verdicts must come from the
    * SURVIVING index only: a dead doc claiming a verdict in the
    * online path would silently suppress re-crawled content exactly
    * as it would in batch, and the streaming reader must pick up the
    * tombstones without a restart (they are read inside
    * nearDupsAgainstIndex per micro-batch, not captured at stream
    * start). Oracle: st17's full SQL recomputation with the evicted
    * ids excluded from the index side.
    */
  private def streamingIndexDedupEvicted: QueryDef = QueryDef(
    "st19_streaming_evicted_dedup",
    (s, dir) => {
      import org.apache.spark.sql.types.{DoubleType, LongType, StructField, StructType}
      val docs = Tables.documents(s, dir)
      val indexPath = s"$artifactRoot/lsh_index_st19"
      graft.pipeline.Dedup.writeLshIndex(
        docs.where(col("doc_id") % 2 === 0), indexPath)
      graft.pipeline.Dedup.tombstoneLshIndex(
        docs.where(col("doc_id") % 10 === 0).select("doc_id"),
        indexPath, batchId = "ret1")

      val odd = docs.where(col("doc_id") % 2 === 1)
        .select(col("doc_id").cast("long"), col("text").cast("string"))
      val schema = odd.schema
      val dirP = scratch("st19")
      val stage = dirP.resolve("input").toString
      val ckpt = dirP.resolve("ckpt").toString
      val out = dirP.resolve("out").toString
      odd.where(col("doc_id") % 4 === 1).coalesce(1).write.parquet(stage)
      odd.where(col("doc_id") % 4 === 3).coalesce(1)
        .write.mode("append").parquet(stage)

      val q = graft.streaming.StreamingIndexDedup.verdictWriter(
        s.readStream.schema(schema).option("maxFilesPerTrigger", 1)
          .parquet(stage),
        indexPath, out, threshold = 0.8)
        .option("checkpointLocation", ckpt).startScoped(s)
      try q.awaitTermination() finally q.stop()
      val result =
        try s.read.parquet(out).select("doc_new", "doc_old", "jaccard")
        catch { case _: Throwable =>
          s.createDataFrame(s.sparkContext.emptyRDD[org.apache.spark.sql.Row],
            StructType(Seq(StructField("doc_new", LongType),
              StructField("doc_old", LongType),
              StructField("jaccard", DoubleType))))
        }
      val rows = result.collect()
      deleteRecursively(dirP)
      s.createDataFrame(
        s.sparkContext.parallelize(rows.toIndexedSeq), result.schema)
    },
    Some(PipelineQueries.indexNeardupsOracleSqlWhere("od.doc_id % 10 != 0")))

  /** st20: ONLINE quality scoring under a trained model — the
    * deployment shape of the p95 classifier: train once in batch
    * (identical construction to p95), then score the stream with
    * [[graft.pipeline.Classifier.scoreExpr]], the model inlined as a
    * bucket-indexed array literal in a PURE PROJECTION — no state, no
    * shuffle, no output-mode constraint; micro-batching cannot change
    * a single row, so the oracle is p95's full SQL (training unrolled
    * + final sigmoid scores) verbatim. Two genuine micro-batches
    * prove per-batch independence.
    */
  private def streamingQualityScore: QueryDef = QueryDef(
    "st20_streaming_quality_score",
    (s, dir) => {
      val docs = Tables.documents(s, dir)
      val model = graft.pipeline.Classifier.trainLogReg(docs,
        (col("source") === "src0").cast("double"),
        buckets = 256, iterations = 2, learningRate = 4.0)

      val in = docs.select(col("doc_id").cast("long"),
        col("text").cast("string"))
      val schema = in.schema
      val dirP = scratch("st20")
      val stage = dirP.resolve("input").toString
      val ckpt = dirP.resolve("ckpt").toString
      in.where(col("doc_id") % 2 === 0).coalesce(1).write.parquet(stage)
      in.where(col("doc_id") % 2 === 1).coalesce(1)
        .write.mode("append").parquet(stage)

      val qname = "st20_" + UUID.randomUUID().toString.replace("-", "")
      val q = s.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1).parquet(stage)
        .select(col("doc_id"),
          graft.pipeline.Classifier.scoreExpr(model, col("text")).as("score"))
        .writeStream.format("memory").queryName(qname)
        .outputMode("append").option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow()).startScoped(s)
      try q.awaitTermination() finally { q.stop(); deleteRecursively(dirP) }
      s.table(qname).select("doc_id", "score")
    },
    Some(PipelineQueries.qualityClassifierOracleSql))

  /** st21: ONLINE corpus-drift monitor
    * ([[graft.streaming.StreamingDrift]]) — the streaming face of
    * p97: the reference corpus's hashed-feature bucket totals are a
    * never-mutated artifact; the stream's accumulated totals advance
    * as versioned 256-row states (the st18 discipline); every
    * micro-batch reports drift(reference, accumulated). Stream =
    * the corpus in two genuine micro-batches (evens, then odds), so
    * batch 0's row measures the even half against the full reference
    * and batch 1's cumulative distribution IS the reference — its JS
    * and TV must come out EXACTLY 0.0 (p == q bucket-for-bucket ⇒
    * every ln(1) term is exactly zero in both engines), the
    * bit-sharp convergence signature a drifting accumulator or a
    * double-counted replay would break.
    */
  private def streamingDrift: QueryDef = QueryDef(
    "st21_streaming_drift",
    (s, dir) => {
      val docs = Tables.documents(s, dir)
        .select(col("doc_id").cast("long"), col("text").cast("string"))
      val dirP = scratch("st21")
      val refPath = dirP.resolve("ref").toString
      val statePath = dirP.resolve("state").toString
      val outPath = dirP.resolve("out").toString
      val stage = dirP.resolve("input").toString
      val ckpt = dirP.resolve("ckpt").toString
      graft.pipeline.Snapshots.bucketTotals(docs).write.parquet(refPath)
      docs.where(col("doc_id") % 2 === 0).coalesce(1).write.parquet(stage)
      docs.where(col("doc_id") % 2 === 1).coalesce(1)
        .write.mode("append").parquet(stage)

      val q = graft.streaming.StreamingDrift.driftWriter(
        s.readStream.schema(docs.schema).option("maxFilesPerTrigger", 1)
          .parquet(stage),
        refPath, statePath, outPath)
        .option("checkpointLocation", ckpt).startScoped(s)
      try q.awaitTermination() finally q.stop()
      val rows = s.read.parquet(outPath)
        .select(col("batch").cast("long").as("batch_id"),
          col("n_old_feats"), col("n_cur_feats"),
          col("js_divergence"), col("tv_distance"))
        .collect()
      deleteRecursively(dirP)
      s.createDataFrame(s.sparkContext.parallelize(rows.toIndexedSeq),
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("batch_id",
            org.apache.spark.sql.types.LongType),
          org.apache.spark.sql.types.StructField("n_old_feats",
            org.apache.spark.sql.types.LongType),
          org.apache.spark.sql.types.StructField("n_cur_feats",
            org.apache.spark.sql.types.LongType),
          org.apache.spark.sql.types.StructField("js_divergence",
            org.apache.spark.sql.types.DoubleType),
          org.apache.spark.sql.types.StructField("tv_distance",
            org.apache.spark.sql.types.DoubleType))))
    },
    Some("""WITH arr AS (
           |  SELECT doc_id, list_filter(string_split_regex(trim(text), '\s+'),
           |                             t -> t <> '') AS w
           |  FROM documents),
           |feats AS (
           |  SELECT doc_id, unnest(w) AS ft FROM arr
           |  UNION ALL
           |  SELECT doc_id, unnest(list_transform(range(1, len(w)),
           |         i -> w[i] || ' ' || w[i+1])) AS ft
           |  FROM arr),
           |dc AS (SELECT doc_id % 2 AS par,
           |              ('0x' || substr(md5(ft), 1, 15))::BIGINT % 256 AS b,
           |              CAST(count(*) AS BIGINT) AS c
           |       FROM feats GROUP BY 1, 2),
           |ref AS (SELECT b, CAST(sum(c) AS BIGINT) AS cnt FROM dc GROUP BY 1),
           |ev AS (SELECT b, CAST(sum(c) AS BIGINT) AS cnt
           |       FROM dc WHERE par = 0 GROUP BY 1),
           |j0 AS (SELECT ids.b, COALESCE(r.cnt, 0) AS co, COALESCE(e.cnt, 0) AS cc
           |       FROM (SELECT unnest(range(256)) AS b) ids
           |       LEFT JOIN ref r ON r.b = ids.b
           |       LEFT JOIN ev e ON e.b = ids.b),
           |t0 AS (SELECT CAST(sum(co) AS BIGINT) AS toto,
           |              CAST(sum(cc) AS BIGINT) AS totc FROM j0),
           |pq0 AS (SELECT co, cc,
           |               (co + 1)::DOUBLE / (toto + 256)::DOUBLE AS p,
           |               (cc + 1)::DOUBLE / (totc + 256)::DOUBLE AS q
           |        FROM j0 CROSS JOIN t0),
           |j1 AS (SELECT ids.b, COALESCE(r.cnt, 0) AS co, COALESCE(r2.cnt, 0) AS cc
           |       FROM (SELECT unnest(range(256)) AS b) ids
           |       LEFT JOIN ref r ON r.b = ids.b
           |       LEFT JOIN ref r2 ON r2.b = ids.b),
           |t1 AS (SELECT CAST(sum(co) AS BIGINT) AS toto,
           |              CAST(sum(cc) AS BIGINT) AS totc FROM j1),
           |pq1 AS (SELECT co, cc,
           |               (co + 1)::DOUBLE / (toto + 256)::DOUBLE AS p,
           |               (cc + 1)::DOUBLE / (totc + 256)::DOUBLE AS q
           |        FROM j1 CROSS JOIN t1)
           |SELECT CAST(0 AS BIGINT) AS batch_id,
           |       CAST(sum(co) AS BIGINT) AS n_old_feats,
           |       CAST(sum(cc) AS BIGINT) AS n_cur_feats,
           |       sum(p * ln(p / ((p + q) / 2.0))) / 2.0 +
           |         sum(q * ln(q / ((p + q) / 2.0))) / 2.0 AS js_divergence,
           |       sum(abs(p - q)) / 2.0 AS tv_distance
           |FROM pq0
           |UNION ALL
           |SELECT CAST(1 AS BIGINT),
           |       CAST(sum(co) AS BIGINT),
           |       CAST(sum(cc) AS BIGINT),
           |       sum(p * ln(p / ((p + q) / 2.0))) / 2.0 +
           |         sum(q * ln(q / ((p + q) / 2.0))) / 2.0,
           |       sum(abs(p - q)) / 2.0
           |FROM pq1""".stripMargin))

  /** st18: ONLINE corpus-novelty monitor
    * ([[graft.streaming.StreamingNovelty]]) — the streaming face of
    * p85 with BOUNDED state: the corpus-so-far is a persisted Bloom
    * filter (seeded offline from the even-id half's shingles,
    * OR-advanced after every batch), each micro-batch's docs scored
    * by the fraction of their shingles the filter hasn't seen. The
    * md5 double-hash family makes even the false-positive set
    * engine-reproducible, so the oracle rebuilds the filter BIT FOR
    * BIT in SQL — batch 1's verdicts against the base bits, batch 2's
    * against base ∪ batch 1 — and the streamed underestimates must
    * hash-match exactly.
    */
  private def streamingNovelty: QueryDef = QueryDef(
    "st18_streaming_novelty",
    (s, dir) => {
      val docs = Tables.documents(s, dir).select(
        col("doc_id").cast("long"), col("text").cast("string"))
      val dirP = scratch("st18")
      // bloom + its .v<batchId> version chain live in the per-run
      // scratch dir: batchIds restart at 0 with each fresh
      // checkpoint, so a version surviving from an earlier run would
      // wrongly claim "already advanced"
      val bloomPath = dirP.resolve("novelty_bloom").toString
      graft.functions.BloomFunctions.writeBloom(
        graft.pipeline.Dedup.wordShingles(docs.where(col("doc_id") % 2 === 0))
          .select(col("shingle")).distinct(),
        "shingle", bloomPath, mWords = 2048, k = 4)

      val odd = docs.where(col("doc_id") % 2 === 1)
      val schema = odd.schema
      val stage = dirP.resolve("input").toString
      val ckpt = dirP.resolve("ckpt").toString
      val out = dirP.resolve("out").toString
      odd.where(col("doc_id") % 4 === 1).coalesce(1).write.parquet(stage)

      val q = graft.streaming.StreamingNovelty.noveltyWriter(
        s.readStream.schema(schema).option("maxFilesPerTrigger", 1)
          .parquet(stage),
        bloomPath, out)
        .option("checkpointLocation", ckpt).startScoped(s)
      try {
        q.processAllAvailable()
        odd.where(col("doc_id") % 4 === 3).coalesce(1)
          .write.mode("append").parquet(stage)
        q.processAllAvailable()
      } finally q.stop()
      val result =
        try s.read.parquet(out)
          .select("doc_id", "n_shingles", "n_novel", "novelty")
        catch { case _: Throwable =>
          import org.apache.spark.sql.types._
          s.createDataFrame(s.sparkContext.emptyRDD[org.apache.spark.sql.Row],
            StructType(Seq(StructField("doc_id", LongType),
              StructField("n_shingles", LongType),
              StructField("n_novel", LongType),
              StructField("novelty", DoubleType))))
        }
      val rows = result.collect()
      deleteRecursively(dirP)
      s.createDataFrame(
        s.sparkContext.parallelize(rows.toIndexedSeq), result.schema)
    },
    Some(s"""WITH ${PipelineQueries.shingleSql},
            |hv AS (SELECT doc_id, shingle,
            |              ('0x' || substr(md5(shingle), 1, 8))::BIGINT AS ha,
            |              ('0x' || substr(md5(shingle), 9, 8))::BIGINT AS hb
            |       FROM sh),
            |bits0 AS (SELECT DISTINCT (ha + i * hb) % 131072 AS pos
            |          FROM (SELECT DISTINCT ha, hb FROM hv WHERE doc_id % 2 = 0)
            |          CROSS JOIN (SELECT unnest(range(4)) AS i) ix),
            |b1p AS (SELECT doc_id, shingle, (ha + i * hb) % 131072 AS pos
            |        FROM hv CROSS JOIN (SELECT unnest(range(4)) AS i) ix
            |        WHERE doc_id % 4 = 1),
            |b1s AS (SELECT doc_id, shingle, count(bits0.pos) = 4 AS seen
            |        FROM b1p LEFT JOIN bits0 ON b1p.pos = bits0.pos
            |        GROUP BY doc_id, shingle),
            |out1 AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_shingles,
            |                CAST(sum(CASE WHEN seen THEN 0 ELSE 1 END) AS BIGINT)
            |                  AS n_novel
            |         FROM b1s GROUP BY doc_id),
            |bits1 AS (SELECT pos FROM bits0
            |          UNION
            |          SELECT DISTINCT (ha + i * hb) % 131072 AS pos
            |          FROM (SELECT DISTINCT ha, hb FROM hv WHERE doc_id % 4 = 1)
            |          CROSS JOIN (SELECT unnest(range(4)) AS i) ix),
            |b2p AS (SELECT doc_id, shingle, (ha + i * hb) % 131072 AS pos
            |        FROM hv CROSS JOIN (SELECT unnest(range(4)) AS i) ix
            |        WHERE doc_id % 4 = 3),
            |b2s AS (SELECT doc_id, shingle, count(bits1.pos) = 4 AS seen
            |        FROM b2p LEFT JOIN bits1 ON b2p.pos = bits1.pos
            |        GROUP BY doc_id, shingle),
            |out2 AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_shingles,
            |                CAST(sum(CASE WHEN seen THEN 0 ELSE 1 END) AS BIGINT)
            |                  AS n_novel
            |         FROM b2s GROUP BY doc_id)
            |SELECT doc_id, n_shingles, n_novel,
            |       n_novel / n_shingles AS novelty
            |FROM (SELECT * FROM out1 UNION ALL SELECT * FROM out2)""".stripMargin))

  /** st22: ONLINE BM25 retrieval scoring
    * ([[graft.streaming.StreamingRetrieval]]) — the deployment shape
    * of the p98 batch retrieval: corpus statistics are frozen ONCE
    * from the indexed corpus (a bounded |terms|+1-row pull — the
    * "last published index epoch" contract), then every arriving doc
    * is scored against the standing query set as a PURE PROJECTION —
    * per-term tf inside the row's own token array, no state, no
    * shuffle, no watermark; micro-batching cannot change a single
    * row. Stream = the corpus in two genuine micro-batches, frozen
    * stats = that same corpus — so the oracle is p98's SQL verbatim.
    */
  private def streamingRetrieval: QueryDef = QueryDef(
    "st22_streaming_retrieval",
    (s, dir) => {
      val docs = Tables.documents(s, dir)
        .select(col("doc_id").cast("long"), col("text").cast("string"))
      val stats = graft.streaming.StreamingRetrieval.frozenStats(
        docs, PipelineQueries.RetrievalQueries.flatMap(_.terms))

      val schema = docs.schema
      val dirP = scratch("st22")
      val stage = dirP.resolve("input").toString
      val ckpt = dirP.resolve("ckpt").toString
      docs.where(col("doc_id") % 2 === 0).coalesce(1).write.parquet(stage)
      docs.where(col("doc_id") % 2 === 1).coalesce(1)
        .write.mode("append").parquet(stage)

      val qname = "st22_" + UUID.randomUUID().toString.replace("-", "")
      val q = graft.streaming.StreamingRetrieval.scoreStream(
        s.readStream.schema(schema)
          .option("maxFilesPerTrigger", 1).parquet(stage),
        PipelineQueries.RetrievalQueries, stats)
        .writeStream.format("memory").queryName(qname)
        .outputMode("append").option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow()).startScoped(s)
      try q.awaitTermination() finally { q.stop(); deleteRecursively(dirP) }
      s.table(qname).select("query_id", "doc_id", "n_hit_terms", "score")
    },
    Some(PipelineQueries.multiQueryBm25OracleSql))

  /** st23: ONLINE autoregressive example assembly
    * ([[graft.streaming.StreamingSequences]]) — the streaming twin of
    * p100: per-user (context, label) next-step rows emitted as events
    * arrive, state = the last 3 event types + a position counter per
    * user (O(window) per ever-seen key). Single staged replay batch,
    * so the intra-batch (ts, event_id) fold IS the batch window's
    * total order and the oracle is p100's SQL verbatim (the
    * cross-batch arrival-order stance is documented on the operator
    * and spec-pinned).
    */
  private def streamingSequences: QueryDef = QueryDef(
    "st23_streaming_sequences",
    (s, dir) => {
      import s.implicits._
      val ev = Tables.events(s, dir).select(
        col("event_id").cast("long"), col("user_id").cast("long"),
        col("ts"), col("event_type").cast("string"))
      val schema = ev.schema
      val dirP = scratch("st23")
      val stage = dirP.resolve("input").toString
      val ckpt = dirP.resolve("ckpt").toString
      ev.write.parquet(stage)

      val qname = "st23_" + UUID.randomUUID().toString.replace("-", "")
      val q = graft.streaming.StreamingSequences.examples(
        s.readStream.schema(schema).parquet(stage)
          .as[graft.streaming.StreamingSequences.SeqEvent]
          .withWatermark("ts", "0 seconds"),
        window = 3)
        .writeStream.format("memory").queryName(qname)
        .outputMode("append").option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow()).startScoped(s)
      try q.awaitTermination() finally { q.stop(); deleteRecursively(dirP) }
      s.table(qname).select("user_id", "event_id", "pos", "context", "label")
    },
    Some(PipelineQueries.sequenceExamplesOracleSql))

  /** st24: ONLINE per-source admission cap
    * ([[graft.streaming.StreamingAdmission]]) — ingestion quota
    * control: at most k docs per source, admitted in arrival order
    * under a persistent per-source counter (O(1) state per key).
    * Staged as TWO genuine micro-batches split at the doc_id midpoint
    * with EXPLICITLY ordered file mtimes (the file source meters by
    * modification time — two sub-second writes could otherwise tie),
    * so arrival order == doc_id order and the admitted set equals the
    * window form's `row_number() <= k` — while the quota counter
    * genuinely persists across the batch boundary (with k=15 < 25
    * docs/source, every source exhausts its quota mid-replay: batch 2
    * arrivals are rejected by STATE, not by in-batch arithmetic).
    */
  /** Stage `docs` as TWO genuine micro-batches split at the doc_id
    * midpoint, with EXPLICITLY ordered file mtimes (the file source
    * meters by modification time; two sub-second writes could
    * otherwise tie and replay out of order). Returns the stage dir.
    * Shared by every quota gate whose oracle depends on arrival
    * order == doc_id order across the batch boundary (st24, st26).
    */
  private def stageTwoBatchesByDocId(docs: DataFrame, dirP: Path): String = {
    import scala.jdk.CollectionConverters._
    val stage = dirP.resolve("input")
    val cut = docs.agg(max("doc_id")).head().getLong(0) / 2
    def partFiles(): Set[Path] = {
      val s = Files.list(stage)
      try s.iterator().asScala
        .filter(_.getFileName.toString.endsWith(".parquet")).toSet
      finally s.close()
    }
    docs.where(col("doc_id") <= cut).coalesce(1)
      .write.parquet(stage.toString)
    val firstBatch = partFiles()
    docs.where(col("doc_id") > cut).coalesce(1)
      .write.mode("append").parquet(stage.toString)
    val t0 = java.nio.file.attribute.FileTime.fromMillis(1000000000000L)
    val t1 = java.nio.file.attribute.FileTime.fromMillis(1000000060000L)
    partFiles().foreach(p =>
      Files.setLastModifiedTime(p, if (firstBatch(p)) t0 else t1))
    stage.toString
  }

  private def streamingAdmission: QueryDef = QueryDef(
    "st24_streaming_admission",
    (s, dir) => {
      val docs = Tables.documents(s, dir)
        .select(col("doc_id").cast("long"), col("source").cast("string"))
      val schema = docs.schema
      val dirP = scratch("st24")
      val ckpt = dirP.resolve("ckpt").toString
      val stage = stageTwoBatchesByDocId(docs, dirP)

      val qname = "st24_" + UUID.randomUUID().toString.replace("-", "")
      val q = graft.streaming.StreamingAdmission.admit(
        s.readStream.schema(schema)
          .option("maxFilesPerTrigger", 1).parquet(stage)
          .as[graft.streaming.StreamingAdmission.AdmitDoc](
            org.apache.spark.sql.Encoders.product[
              graft.streaming.StreamingAdmission.AdmitDoc]),
        k = 15)
        .writeStream.format("memory").queryName(qname)
        .outputMode("append").option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow()).startScoped(s)
      try q.awaitTermination() finally { q.stop(); deleteRecursively(dirP) }
      s.table(qname).select("source", "doc_id", "admit_seq")
    },
    Some("""WITH r AS (SELECT source, doc_id,
           |             row_number() OVER (
           |               PARTITION BY source ORDER BY doc_id) AS admit_seq
           |           FROM documents)
           |SELECT source, doc_id, admit_seq
           |FROM r WHERE admit_seq <= 15""".stripMargin))

  /** st25: ONLINE LM-perplexity scoring
    * ([[graft.streaming.StreamingPerplexity]]) — the deployment shape
    * of the p73 CCNet-style LM filter: the interpolated bigram model
    * trains ONCE batch-side, freezes, and rides a broadcast to the
    * executors (the shipped-KenLM-binary topology); every arriving doc
    * scores as a pure per-row function — no state, no shuffle, no
    * watermark; micro-batching cannot change a row. Stream = the
    * training corpus in two genuine micro-batches, so the oracle is
    * p73's SQL verbatim.
    */
  private def streamingPerplexity: QueryDef = QueryDef(
    "st25_streaming_perplexity",
    (s, dir) => {
      val docs = Tables.documents(s, dir)
        .select(col("doc_id").cast("long"), col("text").cast("string"))
      val model = graft.streaming.StreamingPerplexity.frozenLm(docs)

      val schema = docs.schema
      val dirP = scratch("st25")
      val stage = dirP.resolve("input").toString
      val ckpt = dirP.resolve("ckpt").toString
      docs.where(col("doc_id") % 2 === 0).coalesce(1).write.parquet(stage)
      docs.where(col("doc_id") % 2 === 1).coalesce(1)
        .write.mode("append").parquet(stage)

      val qname = "st25_" + UUID.randomUUID().toString.replace("-", "")
      val q = graft.streaming.StreamingPerplexity.scoreStream(
        s.readStream.schema(schema)
          .option("maxFilesPerTrigger", 1).parquet(stage)
          .as[graft.streaming.StreamingPerplexity.PplDoc](
            org.apache.spark.sql.Encoders.product[
              graft.streaming.StreamingPerplexity.PplDoc]),
        model)(s)
        .writeStream.format("memory").queryName(qname)
        .outputMode("append").option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow()).startScoped(s)
      try q.awaitTermination() finally { q.stop(); deleteRecursively(dirP) }
      s.table(qname).select("doc_id", "n_tokens", "avg_logprob")
    },
    Some(PipelineQueries.bigramLogProbOracleSql))

  /** st26: ONLINE per-source TOKEN budget
    * ([[graft.streaming.StreamingAdmission.admitTokens]]) — st24's
    * quota in the unit training budgets are written in: each source
    * contributes at most `budget` tokens, the quota CLOSING at the
    * first overflow so the admitted set is a prefix of arrival order
    * and the oracle is a plain running-sum window (`cumsum <= B` —
    * monotone, so prefix == predicate). Same two-genuine-micro-batch
    * staging as st24 (doc_id-midpoint split, explicitly ordered
    * mtimes); token counts are metered batch-side (the stream
    * carries (doc_id, source, n_tokens) metadata — the router's
    * view), and the counting formula is the p16 token-count gate's.
    */
  private def streamingTokenBudget: QueryDef = QueryDef(
    "st26_streaming_token_budget",
    (s, dir) => {
      val docs = Tables.documents(s, dir)
        .select(col("doc_id").cast("long"), col("source").cast("string"),
          graft.pipeline.TextAnalysis.tokenCount(col("text")).as("n_tokens"))
      val schema = docs.schema
      val dirP = scratch("st26")
      val ckpt = dirP.resolve("ckpt").toString
      val stage = stageTwoBatchesByDocId(docs, dirP)

      val qname = "st26_" + UUID.randomUUID().toString.replace("-", "")
      val q = graft.streaming.StreamingAdmission.admitTokens(
        s.readStream.schema(schema)
          .option("maxFilesPerTrigger", 1).parquet(stage)
          .as[graft.streaming.StreamingAdmission.TokenDoc](
            org.apache.spark.sql.Encoders.product[
              graft.streaming.StreamingAdmission.TokenDoc]),
        budget = 800L)
        .writeStream.format("memory").queryName(qname)
        .outputMode("append").option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow()).startScoped(s)
      try q.awaitTermination() finally { q.stop(); deleteRecursively(dirP) }
      s.table(qname).select("source", "doc_id", "n_tokens", "tokens_before")
    },
    Some("""WITH d AS (SELECT doc_id, source,
           |            CAST(len(list_filter(string_split_regex(trim(text), '\s+'),
           |                                 t -> t <> '')) AS BIGINT) AS n_tokens
           |           FROM documents),
           |c AS (SELECT source, doc_id, n_tokens,
           |        CAST(sum(n_tokens) OVER (
           |          PARTITION BY source ORDER BY doc_id
           |          ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum
           |      FROM d)
           |SELECT source, doc_id, n_tokens, cum - n_tokens AS tokens_before
           |FROM c WHERE cum <= 800""".stripMargin))

  /** st27: ONLINE length-bucketed batch formation
    * ([[graft.streaming.StreamingBatching]]) — the loader-side face
    * of p108: arriving docs are dealt (bucket, batch_id, slot)
    * coordinates in arrival order under a persistent per-bucket
    * counter (O(buckets) total state). Same doc_id-ordered
    * two-batch staging as st24/st26, so the dealt order is doc_id
    * order and the oracle is the plain per-bucket row_number window
    * (the batch operator's md5 shuffle is explicitly NOT offered
    * online — see the operator doc).
    */
  private def streamingBatching: QueryDef = QueryDef(
    "st27_streaming_batching",
    (s, dir) => {
      val docs = Tables.documents(s, dir)
        .select(col("doc_id").cast("long"),
          graft.pipeline.TextAnalysis.tokenCount(col("text")).as("n_tokens"))
      val schema = docs.schema
      val dirP = scratch("st27")
      val ckpt = dirP.resolve("ckpt").toString
      val stage = stageTwoBatchesByDocId(docs, dirP)

      val qname = "st27_" + UUID.randomUUID().toString.replace("-", "")
      val q = graft.streaming.StreamingBatching.assignSlots(
        s.readStream.schema(schema)
          .option("maxFilesPerTrigger", 1).parquet(stage)
          .as[graft.streaming.StreamingBatching.SlotDoc](
            org.apache.spark.sql.Encoders.product[
              graft.streaming.StreamingBatching.SlotDoc]),
        bucketWidth = 20, batchSize = 8)
        .writeStream.format("memory").queryName(qname)
        .outputMode("append").option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow()).startScoped(s)
      try q.awaitTermination() finally { q.stop(); deleteRecursively(dirP) }
      s.table(qname).select("bucket", "doc_id", "n_tokens", "batch_id", "slot")
    },
    Some("""WITH d AS (SELECT doc_id,
           |            CAST(len(list_filter(string_split_regex(trim(text), '\s+'),
           |                                 t -> t <> '')) AS BIGINT) AS n_tokens
           |           FROM documents),
           |b AS (SELECT doc_id, n_tokens, n_tokens // 20 AS bucket FROM d),
           |r AS (SELECT bucket, doc_id, n_tokens,
           |        row_number() OVER (
           |          PARTITION BY bucket ORDER BY doc_id) - 1 AS rr
           |      FROM b)
           |SELECT bucket, doc_id, n_tokens,
           |       rr // 8 AS batch_id, rr % 8 AS slot
           |FROM r""".stripMargin))

  /** st28: the COMPOSED online ingest pipeline
    * ([[graft.streaming.StreamingIngest]]) — the streaming twin of
    * the p109 batch recipe, every fragment gate's stage chained in
    * ONE checkpointed run: token-budget admission (st26) → LSH-index
    * dedup with a pending eviction (st17/st19) → frozen-LM +
    * classifier scoring (st25/st20) → quality band → length-bucketed
    * batch formation (st27). Corpus split: even ids are the offline
    * index (every %10==0 id then tombstoned — the retention pass),
    * odd ids replay as the arriving stream in two genuine
    * micro-batches. Models train batch-side on the FULL corpus
    * (the frozen-artifact topology of st20/st25), so the oracle
    * reuses the p73 LM cascade and p95 classifier cascade VERBATIM,
    * composed with the st19 verdict chain and the st26/st27 window
    * forms — the stage CTEs are single-sourced with the fragment
    * gates, so the composition can never drift from its parts.
    */
  private def streamingIngestE2e: QueryDef = {
    // calibrated so EVERY stage bites at sf0.01: sources carry
    // ~1.3-1.6k odd-half tokens (budget 1200 closes each quota),
    // the dedup drops the odd near-dups of the surviving index, and
    // the band thresholds sit at the observed score quartiles
    // (~25% cut each side) — a funnel, not a pass-through.
    val budget = 1200L
    val qMin = 0.10128
    val pplMin = -3.413
    val bucketWidth = 20
    val batchSize = 8
    QueryDef(
      "st28_streaming_ingest_e2e",
      (s, dir) => {
        val docs = Tables.documents(s, dir)
        val indexPath = s"$artifactRoot/lsh_index_st28"
        graft.pipeline.Dedup.writeLshIndex(
          docs.where(col("doc_id") % 2 === 0), indexPath)
        graft.pipeline.Dedup.tombstoneLshIndex(
          docs.where(col("doc_id") % 10 === 0).select("doc_id"),
          indexPath, batchId = "ret1")
        val lm = graft.streaming.StreamingPerplexity.frozenLm(
          docs.select(col("doc_id").cast("long"), col("text").cast("string")))
        val clf = graft.pipeline.Classifier.trainLogReg(docs,
          (col("source") === "src0").cast("double"),
          buckets = 256, iterations = 2, learningRate = 4.0)

        val in = docs.where(col("doc_id") % 2 === 1)
          .select(col("doc_id").cast("long"), col("source").cast("string"),
            col("text").cast("string"),
            graft.pipeline.TextAnalysis.tokenCount(col("text")).as("n_tokens"))
        val schema = in.schema
        val dirP = scratch("st28")
        val ckpt = dirP.resolve("ckpt").toString
        val out = dirP.resolve("out").toString
        val stage = stageTwoBatchesByDocId(in, dirP)

        val cfg = graft.streaming.StreamingIngest.Config(
          indexPath = indexPath, outPath = out, budget = budget,
          threshold = 0.8, qMin = qMin, pplMin = pplMin,
          bucketWidth = bucketWidth, batchSize = batchSize)
        val q = graft.streaming.StreamingIngest.pipeline(
          s.readStream.schema(schema).option("maxFilesPerTrigger", 1)
            .parquet(stage)
            .as[graft.streaming.StreamingIngest.IngestDoc](
              org.apache.spark.sql.Encoders.product[
                graft.streaming.StreamingIngest.IngestDoc]),
          cfg, lm, clf)
          .option("checkpointLocation", ckpt).startScoped(s)
        try q.awaitTermination() finally q.stop()
        val result =
          try s.read.parquet(out).select("source", "doc_id", "n_tokens",
            "tokens_before", "quality_score", "avg_logprob",
            "bucket", "batch_id", "slot")
          catch { case _: Throwable =>
            import org.apache.spark.sql.types._
            s.createDataFrame(
              s.sparkContext.emptyRDD[org.apache.spark.sql.Row],
              StructType(Seq(StructField("source", StringType),
                StructField("doc_id", LongType),
                StructField("n_tokens", LongType),
                StructField("tokens_before", LongType),
                StructField("quality_score", DoubleType),
                StructField("avg_logprob", DoubleType),
                StructField("bucket", LongType),
                StructField("batch_id", LongType),
                StructField("slot", LongType))))
          }
        val rows = result.collect()
        deleteRecursively(dirP)
        s.createDataFrame(
          s.sparkContext.parallelize(rows.toIndexedSeq), result.schema)
      },
      Some(s"""WITH ${PipelineQueries.indexNeardupCtesWhere("od.doc_id % 10 != 0")},
             |${PipelineQueries.bigramLmCtesSql},
             |${PipelineQueries.classifierCtesSql},
             |admtok AS (SELECT doc_id, source,
             |             CAST(len(list_filter(string_split_regex(trim(text), '\\s+'),
             |                                  t -> t <> '')) AS BIGINT) AS n_tokens
             |           FROM documents WHERE doc_id % 2 = 1),
             |admc AS (SELECT source, doc_id, n_tokens,
             |           CAST(sum(n_tokens) OVER (
             |             PARTITION BY source ORDER BY doc_id
             |             ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum
             |         FROM admtok),
             |adm AS (SELECT source, doc_id, n_tokens, cum - n_tokens AS tokens_before
             |        FROM admc WHERE cum <= $budget),
             |ingkeep AS (SELECT a.* FROM adm a
             |            WHERE NOT EXISTS (SELECT 1 FROM dups
             |                              WHERE dups.doc_new = a.doc_id)),
             |ingscored AS (SELECT k.source, k.doc_id, k.n_tokens,
             |                k.tokens_before, clf.score AS quality_score,
             |                lm.avg_logprob
             |              FROM ingkeep k
             |              JOIN clf ON clf.doc_id = k.doc_id
             |              JOIN lm ON lm.doc_id = k.doc_id),
             |ingband AS (SELECT * FROM ingscored
             |            WHERE quality_score >= $qMin
             |              AND avg_logprob >= $pplMin),
             |ingrk AS (SELECT *, n_tokens // $bucketWidth AS bucket,
             |            row_number() OVER (
             |              PARTITION BY n_tokens // $bucketWidth
             |              ORDER BY doc_id) - 1 AS rr
             |          FROM ingband)
             |SELECT source, doc_id, n_tokens, tokens_before, quality_score,
             |       avg_logprob, bucket, rr // $batchSize AS batch_id,
             |       rr % $batchSize AS slot
             |FROM ingrk""".stripMargin))
  }

  /** st29: the STREAMING hourly OHLC
    * ([[StreamingSilver.streamingPriceHistory]]) under the g02 mart
    * oracle VERBATIM — the reference's gold_price_history computed
    * online with watermarked tumbling windows instead of the batch
    * mart's groupBy. Replay: the g02 tick projection staged as two
    * doc-ordered files plus one flush sentinel 2 h past the last real
    * tick; watermark 0 s, so once the sentinel's batch lands every
    * real window is closed and AvailableNow's no-data flush batch
    * emits them (append mode emits once per window — the st13/st14
    * discipline). The sentinel's own window never closes and is
    * additionally filtered by item_id. Same min_by/max_by tie rules
    * as the mart, so the hash oracle is exact.
    */
  private def streamingOhlc: QueryDef = QueryDef(
    "st29_streaming_ohlc",
    (s, dir) => {
      val ticks = TestdataAdapter.ticksFromEvents(s, dir)
      val schema = ticks.schema
      val maxRow = ticks.agg(max(unix_micros(col("created_at")))).head()
      if (maxRow.isNullAt(0)) {
        import org.apache.spark.sql.types._
        s.createDataFrame(s.sparkContext.emptyRDD[org.apache.spark.sql.Row],
          StructType(Seq(StructField("item_id", StringType),
            StructField("snapshot_hour", LongType),
            StructField("open_price", DoubleType),
            StructField("high_price", LongType),
            StructField("low_price", LongType),
            StructField("close_price", DoubleType),
            StructField("avarage_price", DoubleType),
            StructField("volume", LongType))))
      } else {
        val flushUs = maxRow.getLong(0) + 2 * OneHourUs
        val flush = s.range(1).select(
          lit("\u0000flush").as("item_id"),
          lit(null).cast("long").as("unit_price"),
          lit(0L).as("quantity"),
          timestamp_micros(lit(flushUs)).as("created_at"))
        val dirP = scratch("st29")
        val ckpt = dirP.resolve("ckpt").toString
        val stage = dirP.resolve("input").toString
        ticks.coalesce(1).write.parquet(stage)
        flush.coalesce(1).write.mode("append").parquet(stage)

        val qname = "st29_" + UUID.randomUUID().toString.replace("-", "")
        val q = StreamingSilver.streamingPriceHistory(
          s.readStream.schema(schema).parquet(stage),
          watermarkDelay = "0 seconds")
          .writeStream.format("memory").queryName(qname)
          .outputMode("append").option("checkpointLocation", ckpt)
          .trigger(Trigger.AvailableNow()).startScoped(s)
        try q.awaitTermination() finally { q.stop(); deleteRecursively(dirP) }
        s.table(qname).where(col("item_id") =!= "\u0000flush")
          .withColumn("snapshot_hour", unix_timestamp(col("snapshot_hour")))
      }
    },
    Some(MartQueries.g2GateSql))

  /** st30: ONLINE benchmark decontamination
    * ([[graft.streaming.StreamingContamination]]) — the admission-time
    * twin of p24: the eval suite's distinct 4-grams extracted once
    * batch-side and broadcast frozen; each arriving corpus doc scores
    * statelessly (no shuffle, no watermark — micro-batching cannot
    * change a row). Corpus replayed as two doc-ordered files; the
    * emission contract (one row per doc with >= 1 shared gram, exact
    * integer-division contamination) is the batch operator's, so the
    * oracle is p24's SQL verbatim.
    */
  private def streamingDecontamination: QueryDef = QueryDef(
    "st30_streaming_decontamination",
    (s, dir) => {
      import s.implicits._
      val docs = Tables.documents(s, dir)
        .select(col("doc_id").cast("long"), col("text").cast("string"))
      val corpus = docs.where(col("doc_id") % 50 =!= 0)
      val bench = StreamingContamination.frozenBenchmark(
        docs.where(col("doc_id") % 50 === 0), n = 4)

      val schema = corpus.schema
      val dirP = scratch("st30")
      val stage = dirP.resolve("input").toString
      val ckpt = dirP.resolve("ckpt").toString
      corpus.where(col("doc_id") % 2 === 0).coalesce(1).write.parquet(stage)
      corpus.where(col("doc_id") % 2 === 1).coalesce(1)
        .write.mode("append").parquet(stage)

      val qname = "st30_" + UUID.randomUUID().toString.replace("-", "")
      val q = StreamingContamination.scoreStream(
        s.readStream.schema(schema)
          .option("maxFilesPerTrigger", 1).parquet(stage)
          .as[StreamingContamination.ContDoc],
        bench, n = 4)(s)
        .writeStream.format("memory").queryName(qname)
        .outputMode("append").option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow()).startScoped(s)
      try q.awaitTermination() finally { q.stop(); deleteRecursively(dirP) }
      s.table(qname)
    },
    Some(PipelineQueries.decontaminationOracleSql))

  /** st31: ONLINE content-level image dedup
    * ([[graft.streaming.StreamingPixelDedup]]) — the streaming twin
    * of mm09 over the same 50-class PNG/BMP cross-format fixture:
    * first decoded-content arrival wins, later transcodes drop.
    * Event time = base + media_id seconds, so the per-batch claimant
    * rule (min event time, then id) elects each class's minimal id;
    * the replay stages ids < 250 before the rest, putting every
    * class winner in batch 1 and exercising the cross-batch state
    * denial in batch 2. Oracle: keeper iff media_id < 50 (the class
    * minimum), nothing quarantined — derivable from doc_id alone.
    */
  private def streamingPixelDedup: QueryDef = QueryDef(
    "st31_streaming_pixel_dedup",
    (s, dir) => {
      val baseUs = 1767225600000000L
      val media = PipelineQueries.crossFormatMediaForStreaming(s, dir)
        .withColumn("ingested_at",
          timestamp_micros(lit(baseUs) + col("media_id") * lit(1000000L)))
      val schema = media.schema
      val dirP = scratch("st31")
      val stage = dirP.resolve("input").toString
      val ckpt = dirP.resolve("ckpt").toString
      media.where(col("media_id") < 250).coalesce(1).write.parquet(stage)
      media.where(col("media_id") >= 250).coalesce(1)
        .write.mode("append").parquet(stage)

      val qname = "st31_" + UUID.randomUUID().toString.replace("-", "")
      val q = graft.streaming.StreamingPixelDedup.keepers(
          s.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1).parquet(stage))
          .writeStream.format("memory").queryName(qname)
          .outputMode("append").option("checkpointLocation", ckpt)
          .trigger(Trigger.AvailableNow()).startScoped(s)
      try q.awaitTermination() finally { q.stop(); deleteRecursively(dirP) }
      s.table(qname).select(col("media_id"), col("keeper"),
        col("quarantined"))
    },
    Some("""SELECT doc_id AS media_id,
           |       (doc_id < 50) AS keeper,
           |       CAST(false AS BOOLEAN) AS quarantined
           |FROM documents""".stripMargin))

  /** st32: ONLINE surgical decontamination — the streaming twin of
    * p115 on the st30 topology: the eval suite's 4-grams frozen and
    * broadcast; each arriving doc masks exactly the covered token
    * windows as a pure per-row function (no state, no shuffle). One
    * row per doc (the cleaner's output IS the corpus), so the p115
    * oracle gates it verbatim.
    */
  private def streamingExcise: QueryDef = QueryDef(
    "st32_streaming_excise",
    (s, dir) => {
      import s.implicits._
      val docs = Tables.documents(s, dir)
        .select(col("doc_id").cast("long"), col("text").cast("string"))
      val corpus = docs.where(col("doc_id") % 50 =!= 0)
      val bench = StreamingContamination.frozenBenchmark(
        docs.where(col("doc_id") % 50 === 0), n = 4)

      val schema = corpus.schema
      val dirP = scratch("st32")
      val stage = dirP.resolve("input").toString
      val ckpt = dirP.resolve("ckpt").toString
      corpus.where(col("doc_id") % 2 === 0).coalesce(1).write.parquet(stage)
      corpus.where(col("doc_id") % 2 === 1).coalesce(1)
        .write.mode("append").parquet(stage)

      val qname = "st32_" + UUID.randomUUID().toString.replace("-", "")
      val q = StreamingContamination.exciseStream(
        s.readStream.schema(schema)
          .option("maxFilesPerTrigger", 1).parquet(stage)
          .as[StreamingContamination.ContDoc],
        bench, n = 4)(s)
        .writeStream.format("memory").queryName(qname)
        .outputMode("append").option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow()).startScoped(s)
      try q.awaitTermination() finally { q.stop(); deleteRecursively(dirP) }
      s.table(qname)
    },
    Some(PipelineQueries.decontaminationExciseOracleSql))

  /** st33: INCREMENTAL materialized-view maintenance + navigation —
    * the lineitem fact replayed as two micro-batches, each reduced
    * to per-group partials in its own `batch=` partition
    * ([[graft.streaming.StreamingMvMaintenance]]); the maintained
    * rollup is then REGISTERED and the p116 query runs through the
    * optimizer rule (the gate requires the rewrite to fire and the
    * fact scan to disappear). Oracle: p116's base-table SQL verbatim
    * — the partial fold across batches must reproduce the one-shot
    * arithmetic exactly.
    */
  private def streamingMvMaintenance: QueryDef = QueryDef(
    "st33_streaming_mv",
    (s, dir) => {
      val basePath = s"$dir/lineitem.parquet"
      val facts = s.read.parquet(basePath)
      val schema = facts.schema
      val dirP = scratch("st33")
      val stage = dirP.resolve("input").toString
      val ckpt = dirP.resolve("ckpt").toString
      val mvPath = dirP.resolve("mv.parquet").toString
      facts.where(col("l_orderkey") % 2 === 0).coalesce(1).write.parquet(stage)
      facts.where(col("l_orderkey") % 2 === 1).coalesce(1)
        .write.mode("append").parquet(stage)

      val q0 = graft.streaming.StreamingMvMaintenance.maintainer(
        s.readStream.schema(schema)
          .option("maxFilesPerTrigger", 1).parquet(stage),
        mvPath, Seq("l_returnflag", "l_linestatus"), Seq("l_quantity"))
        .option("checkpointLocation", ckpt).startScoped(s)
      try q0.awaitTermination() finally q0.stop()

      graft.plans.MaterializedAggregate.registerExisting(
        s, basePath, mvPath, Seq("l_returnflag", "l_linestatus"),
        Seq("l_quantity"), maintained = true)
      try {
        val q = s.read.parquet(basePath)
          .where(col("l_linestatus") === "F")
          .groupBy(col("l_returnflag"))
          .agg(sum("l_quantity").as("sum_qty"),
            count(lit(1)).as("n_rows"),
            min("l_quantity").as("min_qty"),
            max("l_quantity").as("max_qty"),
            avg("l_quantity").as("avg_qty"))
        val scanned = q.queryExecution.optimizedPlan.collect {
          case r: org.apache.spark.sql.execution.datasources.LogicalRelation =>
            r.relation match {
              case fs: org.apache.spark.sql.execution.datasources.HadoopFsRelation =>
                fs.location.rootPaths.map(_.toUri.getPath)
              case _ => Seq.empty[String]
            }
        }.flatten
        require(scanned.exists(_.contains("mv.parquet")),
          s"maintained MV not navigated; scans: $scanned")
        require(!scanned.exists(_.contains("lineitem.parquet")),
          s"fact table still scanned: $scanned")
        val rows = q.collect()
        s.createDataFrame(s.sparkContext.parallelize(rows.toSeq, 1), q.schema)
      } finally {
        graft.plans.MvCatalog.clear()
        deleteRecursively(dirP)
      }
    },
    Some(PipelineQueries.mvRewriteOracleSql))

  /** st38: rollup COMPACTION closes the IVM lifecycle — the fact
    * replayed as THREE micro-batches of per-group partials, then
    * [[graft.streaming.StreamingMvMaintenance.compact]] folds the
    * three `batch=` partial sets into ONE (schema-driven
    * re-aggregation behind [[graft.pipeline.IndexCompaction]]'s
    * write-aside + directory-swap discipline), the compacted rollup
    * re-registers, and the p116 query must still navigate — gate
    * requires exactly one batch directory to remain, the rewrite to
    * fire, and the fact scan to disappear. Oracle: p116's base-table
    * SQL verbatim — the fold across batches must reproduce the
    * one-shot arithmetic exactly.
    */
  private def streamingMvCompact: QueryDef = QueryDef(
    "st38_streaming_mv_compact",
    (s, dir) => {
      val basePath = s"$dir/lineitem.parquet"
      val facts = s.read.parquet(basePath)
      val schema = facts.schema
      val dirP = scratch("st38")
      val stage = dirP.resolve("input").toString
      val ckpt = dirP.resolve("ckpt").toString
      val mvPath = dirP.resolve("mv.parquet").toString
      facts.where(col("l_orderkey") % 3 === 0).coalesce(1).write.parquet(stage)
      facts.where(col("l_orderkey") % 3 === 1).coalesce(1)
        .write.mode("append").parquet(stage)
      facts.where(col("l_orderkey") % 3 === 2).coalesce(1)
        .write.mode("append").parquet(stage)

      val q0 = graft.streaming.StreamingMvMaintenance.maintainer(
        s.readStream.schema(schema)
          .option("maxFilesPerTrigger", 1).parquet(stage),
        mvPath, Seq("l_returnflag", "l_linestatus"), Seq("l_quantity"))
        .option("checkpointLocation", ckpt).startScoped(s)
      try q0.awaitTermination() finally q0.stop()

      val folded = graft.streaming.StreamingMvMaintenance.compact(s, mvPath)
      require(folded == 3, s"expected to fold 3 maintained batches, got $folded")
      val remaining = new org.apache.hadoop.fs.Path(mvPath)
      val fs = remaining.getFileSystem(s.sparkContext.hadoopConfiguration)
      val dirs = fs.listStatus(remaining).toSeq
        .filter(st => st.isDirectory && st.getPath.getName.startsWith("batch="))
      require(dirs.size == 1,
        s"compaction left ${dirs.size} batch dirs: ${dirs.map(_.getPath.getName)}")

      graft.plans.MaterializedAggregate.registerExisting(
        s, basePath, mvPath, Seq("l_returnflag", "l_linestatus"),
        Seq("l_quantity"), maintained = true)
      try {
        val q = s.read.parquet(basePath)
          .where(col("l_linestatus") === "F")
          .groupBy(col("l_returnflag"))
          .agg(sum("l_quantity").as("sum_qty"),
            count(lit(1)).as("n_rows"),
            min("l_quantity").as("min_qty"),
            max("l_quantity").as("max_qty"),
            avg("l_quantity").as("avg_qty"))
        val scanned = q.queryExecution.optimizedPlan.collect {
          case r: org.apache.spark.sql.execution.datasources.LogicalRelation =>
            r.relation match {
              case fs: org.apache.spark.sql.execution.datasources.HadoopFsRelation =>
                fs.location.rootPaths.map(_.toUri.getPath)
              case _ => Seq.empty[String]
            }
        }.flatten
        require(scanned.exists(_.contains("mv.parquet")),
          s"compacted MV not navigated; scans: $scanned")
        require(!scanned.exists(_.contains("lineitem.parquet")),
          s"fact table still scanned: $scanned")
        val rows = q.collect()
        s.createDataFrame(s.sparkContext.parallelize(rows.toSeq, 1), q.schema)
      } finally {
        graft.plans.MvCatalog.clear()
        deleteRecursively(dirP)
      }
    },
    Some(PipelineQueries.mvRewriteOracleSql))

  /** st36: the COMPOSED online image–TEXT pair ingest
    * ([[graft.streaming.StreamingPairIngest]]) — st34 with the
    * cross-modal stage in the chain: per-source quota → in-scan
    * decode → caption-vs-decoded-dims alignment + caption quality →
    * index-wins content dedup among SURVIVORS (a rejected pair never
    * claims a hash). Fixture: the mm15 caption formulas over the
    * cross-format media classes, source = id % 4, staged as ids
    * < 250 then the rest. Every verdict closed-form in doc_id:
    * admitted = per-source rank ≤ 50, aligned = id % 5 ≠ 0,
    * caption_ok = id % 7 ≠ 0, keeper = each class's minimal
    * ELIGIBLE id (classes ≡ 0 mod 5 have none — the empty-class
    * branch rides in the gate).
    */
  private def streamingPairIngest: QueryDef = QueryDef(
    "st36_streaming_pair_ingest",
    (s, dir) => {
      import s.implicits._
      val media = PipelineQueries.crossFormatMediaForStreaming(s, dir)
      val cls = col("media_id") % 50
      val w = (lit(8) + cls % 8).cast("int")
      val h = (lit(8) + cls % 5).cast("int")
      val claimW = when(col("media_id") % 5 === 0, w + 1).otherwise(w)
      val dims = concat(claimW.cast("string"), lit("x"), h.cast("string"))
      val pairs = media.select(col("media_id").as("pair_id"),
        concat(lit("s"), (col("media_id") % 4).cast("string")).as("source"),
        col("payload"),
        when(col("media_id") % 7 === 0, dims)
          .otherwise(concat(lit("a photo of class "),
            cls.cast("string"), lit(" size "), dims)).as("caption"))
      val schema = pairs.schema
      val dirP = scratch("st36")
      val stage = dirP.resolve("input").toString
      val ckpt = dirP.resolve("ckpt").toString
      val out = dirP.resolve("out").toString
      pairs.where(col("pair_id") < 250).coalesce(1).write.parquet(stage)
      pairs.where(col("pair_id") >= 250).coalesce(1)
        .write.mode("append").parquet(stage)

      val cfg = graft.streaming.StreamingPairIngest.Config(
        quotaPerSource = 50L, minCaptionTokens = 3, outPath = out)
      val q = graft.streaming.StreamingPairIngest.pipeline(
        s.readStream.schema(schema)
          .option("maxFilesPerTrigger", 1).parquet(stage)
          .as[graft.streaming.StreamingPairIngest.PairIn],
        cfg)
        .option("checkpointLocation", ckpt).startScoped(s)
      try q.awaitTermination() finally q.stop()

      val outDf = s.read.parquet(out).select(
        col("pair_id"), col("source"), col("admitted"), col("aligned"),
        col("caption_ok"), col("keeper"), col("quarantined"),
        col("width"), col("height"))
      val outSchema = outDf.schema
      val rows = outDf.collect()
      deleteRecursively(dirP)
      s.createDataFrame(s.sparkContext.parallelize(rows.toSeq, 1), outSchema)
    },
    Some("""WITH m AS (SELECT doc_id AS pair_id,
           |             's' || CAST(doc_id % 4 AS VARCHAR) AS source,
           |             doc_id % 50 AS cls
           |           FROM documents),
           |adm AS (SELECT pair_id, source, cls,
           |          (row_number() OVER (PARTITION BY source
           |             ORDER BY pair_id) <= 50) AS admitted,
           |          (pair_id % 5 <> 0) AS aligned,
           |          (pair_id % 7 <> 0) AS caption_ok
           |        FROM m),
           |k AS (SELECT cls, min(pair_id) AS rep FROM adm
           |      WHERE admitted AND aligned AND caption_ok GROUP BY cls)
           |SELECT a.pair_id, a.source, a.admitted, a.aligned, a.caption_ok,
           |       COALESCE(a.admitted AND a.aligned AND a.caption_ok
           |                AND a.pair_id = k.rep, false) AS keeper,
           |       CAST(false AS BOOLEAN) AS quarantined,
           |       CAST(8 + a.cls % 8 AS INTEGER) AS width,
           |       CAST(8 + a.cls % 5 AS INTEGER) AS height
           |FROM adm a LEFT JOIN k ON k.cls = a.cls""".stripMargin))

  /** st37: ONLINE SEARCH serving ([[graft.streaming.StreamingSearch]])
    * — arriving QUERIES against a frozen corpus index, the reverse
    * direction of st22: the corpus materializes once as a real
    * inverted index (postings / term dfs / stats), each query
    * micro-batch broadcasts onto the postings scan, and a
    * query-partitioned window cuts top-10. Per-epoch scores are
    * bit-equal to the batch multiQueryBm25, so the oracle is p98's
    * SQL with a rank cut. Fixture: the p98 query set staged as
    * query 0 then queries 1–2 (two micro-batches; query 2's
    * 'nosuchterm' exercises the absent-posting path).
    */
  private def streamingSearch: QueryDef = QueryDef(
    "st37_streaming_search",
    (s, dir) => {
      import s.implicits._
      val dirP = scratch("st37")
      val index = dirP.resolve("index").toString
      val stage = dirP.resolve("input").toString
      val ckpt = dirP.resolve("ckpt").toString
      val out = dirP.resolve("out").toString
      graft.streaming.StreamingSearch.buildIndex(
        Tables.documents(s, dir), index)
      val qdf = PipelineQueries.RetrievalQueries
        .map(q => (q.queryId, q.terms)).toDF("query_id", "terms")
      val schema = qdf.schema
      qdf.where(col("query_id") === 0).coalesce(1).write.parquet(stage)
      qdf.where(col("query_id") > 0).coalesce(1)
        .write.mode("append").parquet(stage)

      val cfg = graft.streaming.StreamingSearch.Config(
        indexPath = index, outPath = out, k = 10)
      val q = graft.streaming.StreamingSearch.pipeline(
        s.readStream.schema(schema)
          .option("maxFilesPerTrigger", 1).parquet(stage)
          .as[graft.streaming.StreamingSearch.QueryIn],
        cfg)
        .option("checkpointLocation", ckpt).startScoped(s)
      try q.awaitTermination() finally q.stop()

      val outDf = s.read.parquet(out).select(
        col("query_id"), col("doc_id"), col("n_hit_terms"),
        col("score"), col("rank"))
      val outSchema = outDf.schema
      val rows = outDf.collect()
      deleteRecursively(dirP)
      s.createDataFrame(s.sparkContext.parallelize(rows.toSeq, 1), outSchema)
    },
    Some(s"""SELECT query_id, doc_id, n_hit_terms, score,
           |       CAST(rn AS BIGINT) AS rank
           |FROM (SELECT *, row_number() OVER (PARTITION BY query_id
           |        ORDER BY score DESC, doc_id) AS rn
           |      FROM (${PipelineQueries.multiQueryBm25OracleSql}) base)
           |WHERE rn <= 10""".stripMargin))

  /** st35: sketch-bearing incremental MV maintenance — st33 with a
    * distinct column: each micro-batch commits HLL register partials
    * next to the sum/min/max/count partials, and the navigation rule
    * folds them with the elementwise-max aggregate. A replayed batch
    * overwrites its own partition (registers are a pure function of
    * the batch), and the fold is bit-identical to the one-shot
    * sketch, so the gate shares p119's base-table oracle verbatim —
    * digest and estimate included.
    */
  private def streamingMvDistinct: QueryDef = QueryDef(
    "st35_streaming_mv_distinct",
    (s, dir) => {
      import graft.functions.{SketchFunctions => SK, Md5Hash}
      val basePath = s"$dir/lineitem.parquet"
      val facts = s.read.parquet(basePath)
      val schema = facts.schema
      val dirP = scratch("st35")
      val stage = dirP.resolve("input").toString
      val ckpt = dirP.resolve("ckpt").toString
      val mvPath = dirP.resolve("mv.parquet").toString
      facts.where(col("l_orderkey") % 2 === 0).coalesce(1).write.parquet(stage)
      facts.where(col("l_orderkey") % 2 === 1).coalesce(1)
        .write.mode("append").parquet(stage)

      val q0 = graft.streaming.StreamingMvMaintenance.maintainer(
        s.readStream.schema(schema)
          .option("maxFilesPerTrigger", 1).parquet(stage),
        mvPath, Seq("l_returnflag", "l_linestatus"), Seq("l_quantity"),
        distinctCols = Seq("l_suppkey"), hllP = 4)
        .option("checkpointLocation", ckpt).startScoped(s)
      try q0.awaitTermination() finally q0.stop()

      graft.plans.MaterializedAggregate.registerExisting(
        s, basePath, mvPath, Seq("l_returnflag", "l_linestatus"),
        Seq("l_quantity"), distinctCols = Seq("l_suppkey"), hllP = 4,
        maintained = true)
      try {
        val q = s.read.parquet(basePath)
          .where(col("l_linestatus") === "F")
          .groupBy(col("l_returnflag"))
          .agg(sum("l_quantity").as("sum_qty"),
            SK.hyperLogLog(Md5Hash.h60String(col("l_suppkey")), 4)
              .as("__regs"))
          .select(col("l_returnflag"), col("sum_qty"),
            md5(array_join(transform(col("__regs"), _.cast("string")), ","))
              .as("register_digest"),
            SK.hllZeroRegisters(col("__regs")).as("n_zero_registers"),
            SK.hllHarmonicScaled(col("__regs")).as("harmonic_scaled"),
            SK.hllEstimate(col("__regs"), 4).as("est_distinct"))
        val scanned = q.queryExecution.optimizedPlan.collect {
          case r: org.apache.spark.sql.execution.datasources.LogicalRelation =>
            r.relation match {
              case fs: org.apache.spark.sql.execution.datasources.HadoopFsRelation =>
                fs.location.rootPaths.map(_.toUri.getPath)
              case _ => Seq.empty[String]
            }
        }.flatten
        require(scanned.exists(_.contains("mv.parquet")),
          s"maintained sketch MV not navigated; scans: $scanned")
        require(!scanned.exists(_.contains("lineitem.parquet")),
          s"fact table still scanned: $scanned")
        val rows = q.collect()
        s.createDataFrame(s.sparkContext.parallelize(rows.toSeq, 1), q.schema)
      } finally {
        graft.plans.MvCatalog.clear()
        deleteRecursively(dirP)
      }
    },
    Some(PipelineQueries.mvDistinctNavOracleSql))

  /** st34: the COMPOSED online MEDIA ingest chain
    * ([[graft.streaming.StreamingMediaIngest]]) — the multimodal
    * twin of st28: per-source admission quota → in-scan decode →
    * index-wins content dedup vs the persistent hash index →
    * features on keepers, one foreachBatch chain with versioned
    * per-batch state. Fixture: the mm09 cross-format classes with
    * source = id % 4, staged as ids < 250 then the rest — batch 1
    * fills every source's quota (50 of 62-63 candidates), so batch 2
    * exercises carried-counter rejection AND carried-index denial at
    * once. Every verdict column is closed-form in doc_id: admitted =
    * per-source rank ≤ 50, keepers = each class's minimal admitted
    * id (= the class index), sums from the generator formulas.
    */
  private def streamingMediaIngest: QueryDef = QueryDef(
    "st34_streaming_media_ingest",
    (s, dir) => {
      import s.implicits._
      val media = PipelineQueries.crossFormatMediaForStreaming(s, dir)
        .select(col("media_id"),
          concat(lit("s"), (col("media_id") % 4).cast("string")).as("source"),
          col("payload"))
      val schema = media.schema
      val dirP = scratch("st34")
      val stage = dirP.resolve("input").toString
      val ckpt = dirP.resolve("ckpt").toString
      val out = dirP.resolve("out").toString
      media.where(col("media_id") < 250).coalesce(1).write.parquet(stage)
      media.where(col("media_id") >= 250).coalesce(1)
        .write.mode("append").parquet(stage)

      val cfg = graft.streaming.StreamingMediaIngest.Config(
        quotaPerSource = 50L, outPath = out)
      val q = graft.streaming.StreamingMediaIngest.pipeline(
        s.readStream.schema(schema)
          .option("maxFilesPerTrigger", 1).parquet(stage)
          .as[graft.streaming.StreamingMediaIngest.MediaIn],
        cfg)
        .option("checkpointLocation", ckpt).startScoped(s)
      try q.awaitTermination() finally q.stop()

      val outDf = s.read.parquet(out).select(
        col("media_id"), col("source"), col("admitted"), col("keeper"),
        col("quarantined"), col("width"), col("height"), col("sum_rgb"))
      val outSchema = outDf.schema
      val rows = outDf.collect()
      deleteRecursively(dirP)
      s.createDataFrame(s.sparkContext.parallelize(rows.toSeq, 1), outSchema)
    },
    Some("""WITH m AS (SELECT doc_id AS media_id,
           |             's' || CAST(doc_id % 4 AS VARCHAR) AS source,
           |             doc_id % 50 AS cls
           |           FROM documents),
           |adm AS (SELECT media_id, source, cls,
           |          (row_number() OVER (PARTITION BY source
           |             ORDER BY media_id) <= 50) AS admitted
           |        FROM m),
           |k AS (SELECT media_id FROM (
           |        SELECT media_id,
           |               min(media_id) OVER (PARTITION BY cls) AS mn
           |        FROM adm WHERE admitted)
           |      WHERE media_id = mn),
           |dims AS (SELECT DISTINCT doc_id % 50 AS cls,
           |                8 + (doc_id % 50) % 8 AS w,
           |                8 + (doc_id % 50) % 5 AS h
           |         FROM documents),
           |px AS (SELECT cls, w, h,
           |         CAST(sum(((cls*7 + (i % w)*3 + (i // w)*5) % 256)
           |            + ((cls*11 + (i % w) + (i // w)*2) % 256)
           |            + ((cls*13 + (i % w)*2 + (i // w)) % 256)) AS BIGINT)
           |           AS s
           |       FROM (SELECT cls, w, h, unnest(range(w * h)) AS i
           |             FROM dims)
           |       GROUP BY cls, w, h)
           |SELECT a.media_id, a.source, a.admitted,
           |       (k.media_id IS NOT NULL) AS keeper,
           |       CAST(false AS BOOLEAN) AS quarantined,
           |       CAST(px.w AS INTEGER) AS width,
           |       CAST(px.h AS INTEGER) AS height,
           |       CASE WHEN k.media_id IS NOT NULL THEN px.s
           |            ELSE CAST(0 AS BIGINT) END AS sum_rgb
           |FROM adm a
           |LEFT JOIN k ON k.media_id = a.media_id
           |JOIN px ON px.cls = a.cls""".stripMargin))

  /** st39: incrementally-maintained rollup navigated THROUGH a star
    * join (round-13 verdict ask #8) — st33's two-micro-batch
    * maintenance discipline under p125's join navigation: the fact
    * replays as two `batch=` partial sets at (l_suppkey) grain, the
    * rollup registers `maintained`, and a query that filters the fact
    * on the grouping column, joins supplier on it and groups by the
    * DIM attribute must rewrite to Join(rollup, supplier) — partial
    * rows fold across batches exactly as they fold across join
    * multiplicity (the same associative re-aggregation). Gate refuses
    * if the fact scan survives or the supplier scan disappears;
    * oracle is p129's base-table SQL verbatim.
    */
  private def streamingMvStar: QueryDef = QueryDef(
    "st39_streaming_mv_star",
    (s, dir) => {
      val basePath = s"$dir/lineitem.parquet"
      val facts = s.read.parquet(basePath)
      val schema = facts.schema
      val dirP = scratch("st39")
      val stage = dirP.resolve("input").toString
      val ckpt = dirP.resolve("ckpt").toString
      val mvPath = dirP.resolve("mv.parquet").toString
      facts.where(col("l_orderkey") % 2 === 0).coalesce(1).write.parquet(stage)
      facts.where(col("l_orderkey") % 2 === 1).coalesce(1)
        .write.mode("append").parquet(stage)

      val q0 = graft.streaming.StreamingMvMaintenance.maintainer(
        s.readStream.schema(schema)
          .option("maxFilesPerTrigger", 1).parquet(stage),
        mvPath, Seq("l_suppkey"), Seq("l_quantity"))
        .option("checkpointLocation", ckpt).startScoped(s)
      try q0.awaitTermination() finally q0.stop()

      graft.plans.MaterializedAggregate.registerExisting(
        s, basePath, mvPath, Seq("l_suppkey"), Seq("l_quantity"),
        maintained = true)
      try {
        val fact = s.read.parquet(basePath)
        val dim = s.read.parquet(s"$dir/supplier.parquet")
        val q = fact.where(col("l_suppkey") <= 50)
          .join(dim, fact("l_suppkey") === dim("s_suppkey"))
          .groupBy(col("s_name"))
          .agg(sum("l_quantity").as("sum_qty"),
            count(lit(1)).as("n_rows"),
            min("l_quantity").as("min_qty"),
            max("l_quantity").as("max_qty"),
            avg("l_quantity").as("avg_qty"))
        val scanned = q.queryExecution.optimizedPlan.collect {
          case r: org.apache.spark.sql.execution.datasources.LogicalRelation =>
            r.relation match {
              case fs: org.apache.spark.sql.execution.datasources.HadoopFsRelation =>
                fs.location.rootPaths.map(_.toUri.getPath)
              case _ => Seq.empty[String]
            }
        }.flatten
        require(scanned.exists(_.contains("mv.parquet")),
          s"maintained star MV not navigated; scans: $scanned")
        require(!scanned.exists(_.contains("lineitem.parquet")),
          s"fact table still scanned: $scanned")
        require(scanned.exists(_.contains("supplier.parquet")),
          s"dim scan must survive: $scanned")
        val rows = q.collect()
        s.createDataFrame(s.sparkContext.parallelize(rows.toSeq, 1), q.schema)
      } finally {
        graft.plans.MvCatalog.clear()
        deleteRecursively(dirP)
      }
    },
    Some("""SELECT s_name,
           |       SUM(l_quantity) AS sum_qty,
           |       COUNT(*) AS n_rows,
           |       MIN(l_quantity) AS min_qty,
           |       MAX(l_quantity) AS max_qty,
           |       AVG(l_quantity) AS avg_qty
           |FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
           |WHERE l_suppkey <= 50
           |GROUP BY s_name""".stripMargin))

  /** st40: streaming ANN serving over the GRAPH index — arriving
    * query vectors against a frozen [[graft.pipeline.GraphAnn]] NSW
    * index, the graph-family twin of st37's inverted-index serving.
    * The index materializes once; each query micro-batch beam-searches
    * it (entry at the driver-held hubs, expansion over edges carrying
    * dst vectors inline — no corpus scan per batch) and lands its
    * top-10 under its own `batch=` dir (replay-idempotent). Per-query
    * results are batch-independent, so the two-batch replay must
    * hash-equal the batch gate — the oracle is p132's SQL verbatim.
    */
  private def streamingAnnServe: QueryDef = QueryDef(
    "st40_streaming_ann_serve",
    (s, dir) => {
      val dirP = scratch("st40")
      val stage = dirP.resolve("input").toString
      val ckpt = dirP.resolve("ckpt").toString
      val out = dirP.resolve("out").toString
      val emb = Tables.embeddings(s, dir)
      val hubs = graft.pipeline.Similarity.sampleCentroids(emb, nlist = 16)
      // frozen-index SERVING is the contract — the shared NSW index
      // (identical deterministic construction) is reused if a prior
      // gate in this session built it (round-16 bench-window ask)
      val index = PipelineQueries.ensureSharedNswIndex(s, dir, hubs)
      val queries = emb.where(col("vec_id") % 31 === 0)
        .select(col("vec_id").as("query_id"),
          col("embedding").as("query_vec"))
      val schema = queries.schema
      queries.where(col("query_id") % 2 === 0).coalesce(1).write.parquet(stage)
      queries.where(col("query_id") % 2 =!= 0).coalesce(1)
        .write.mode("append").parquet(stage)

      val q0 = s.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1).parquet(stage)
        .writeStream
        .foreachBatch { (batch: DataFrame, batchId: Long) =>
          graft.pipeline.GraphAnn.searchAll(
            graft.pipeline.GraphAnn.readEdges(batch.sparkSession, index),
            hubs, batch, k = 10)
            .write.mode("overwrite").parquet(s"$out/batch=$batchId")
        }
        .trigger(Trigger.AvailableNow())
        .option("checkpointLocation", ckpt).startScoped(s)
      try q0.awaitTermination() finally q0.stop()

      val outDf = s.read.parquet(out).select(
        col("query_id"), col("vec_id"), col("cosine"), col("rank"))
      val outSchema = outDf.schema
      val rows = outDf.collect()
      deleteRecursively(dirP)
      s.createDataFrame(s.sparkContext.parallelize(rows.toSeq, 1), outSchema)
    },
    Some(PipelineQueries.nswTopkOracleSql))

  /** st41: streaming graph-index MAINTENANCE — the lifecycle twin of
    * st40's frozen-index serving: embedding micro-batches arrive on a
    * stream and the NSW index is built and extended per batch via
    * `foreachBatch` (batch 0 seeds with [[graft.pipeline.GraphAnn
    * .writeIndex]], later batches link in with `appendToIndex` — the
    * HNSW insertion shape, cost ∝ batch, never a rebuild). After the
    * stream drains, the batch-side lifecycle tail runs unchanged:
    * tombstone eviction, physical compaction (degree re-cap), beam
    * search. The index this stream accretes is EDGE-IDENTICAL to
    * p135's two-phase batch build (same even/odd split, same hub
    * geometry, same bucket planes), so the oracle is p135's SQL
    * verbatim — streaming maintenance must change nothing but the
    * arrival mechanism. foreachBatch is replay-idempotent: writeIndex
    * clears its path, appendToIndex overwrites its own `batch=` dir.
    */
  private def streamingAnnMaintain: QueryDef = QueryDef(
    "st41_streaming_ann_maintain",
    (s, dir) => {
      val dirP = scratch("st41")
      val index = dirP.resolve("index").toString
      val stage = dirP.resolve("input").toString
      val ckpt = dirP.resolve("ckpt").toString
      val emb = Tables.embeddings(s, dir)
      val hubs = graft.pipeline.Similarity.sampleCentroids(emb, nlist = 16)
      val schema = emb.select(col("vec_id"), col("embedding")).schema
      // stage p135's exact split as two files, arrival-ordered:
      // batch 0 = even ids (the seed), batch 1 = odd ids (the append)
      emb.where(col("vec_id") % 2 === 0).select(col("vec_id"), col("embedding"))
        .coalesce(1).write.parquet(stage)
      val seedFiles = partNames(s, stage)
      emb.where(col("vec_id") % 2 =!= 0).select(col("vec_id"), col("embedding"))
        .coalesce(1).write.mode("append").parquet(stage)
      // seed-then-append does NOT commute: pin mtimes so batch 0 is
      // the seed even when both writes land in one mtime tick
      pinArrivalOrder(s, stage, seedFiles)

      val q0 = s.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1).parquet(stage)
        .writeStream
        .foreachBatch { (batch: DataFrame, batchId: Long) =>
          if (batchId == 0L)
            // splitBucket = None: the gate's oracle replays the
            // unsplit construction (production default is sub-bucketed)
            graft.pipeline.GraphAnn.writeIndex(batch, hubs, index,
              splitBucket = None)
          else
            // corpus = everything arrived so far (seed + this batch):
            // candidates are batch × bucket-mate, batch-proportional
            // splitBucket = None: oracle replays the coarse-bucket
            // candidate step (production default is corpus-density
            // sub-bucketed)
            graft.pipeline.GraphAnn.appendToIndex(
              batch, Tables.embeddings(batch.sparkSession, dir), hubs,
              index, batchId = s"b$batchId", splitBucket = None)
        }
        .trigger(Trigger.AvailableNow())
        .option("checkpointLocation", ckpt).startScoped(s)
      try q0.awaitTermination() finally q0.stop()

      graft.pipeline.GraphAnn.tombstoneIndex(
        emb.where(col("vec_id") % 50 === 7).select("vec_id"),
        index, batchId = "t1")
      val folded = graft.pipeline.GraphAnn.compactIndex(s, index)
      require(folded == 2, s"expected 2 batches folded, got $folded")
      val queries = emb.where(col("vec_id") % 31 === 0)
        .select(col("vec_id").as("query_id"),
          col("embedding").as("query_vec"))
      val res = graft.pipeline.GraphAnn.searchAll(
        graft.pipeline.GraphAnn.readEdges(s, index), hubs, queries, k = 10)
      val outSchema = res.schema
      val rows = res.collect()
      deleteRecursively(dirP)
      s.createDataFrame(s.sparkContext.parallelize(rows.toSeq, 1), outSchema)
    },
    Some(PipelineQueries.nswLifecycleOracleSql))

  /** st42: streaming gap-fill — the stateful locf twin of the batch
    * p142 operator. Sparse per-key daily observations arrive in two
    * date-ordered micro-batches; `flatMapGroupsWithState` keeps one
    * (date, value) pair per key and, at each observation, emits the
    * gap days since the previous one carried forward plus the
    * observation day. The accumulated emissions equal the batch
    * operator's dense grid exactly, so the oracle is p142's SQL
    * verbatim. State is O(live keys); emissions are retroactive at
    * the next observation — deterministic, no processing-time
    * dependence, replay-idempotent through the checkpoint.
    */
  private def streamingGapFill: QueryDef =
    gapFillTwin("st42_streaming_gapfill", "st42",
      graft.streaming.StreamingGapFill.locfFilled(_),
      PipelineQueries.gapfillLocfOracleSql)

  /** st43/st44 (round 15, verdict ask #3): the interpolation and
    * backward-fill twins of st42 — same two-batch date-ordered
    * replay, same `flatMapGroupsWithState` discipline, one
    * (date, value) pair of state per key. Both modes are emittable
    * retroactively at the next observation: interpolation's forward
    * anchor IS the arriving row (the batch window has to SEARCH for
    * it; the stream gets it for free), and bfill is the same event
    * with the arriving value instead of the slope. The accumulated
    * emissions equal the batch grids exactly, so the oracles are
    * p143/p144's SQL verbatim.
    */
  /** Shared two-batch staged-replay scaffolding for the gap-fill
    * twins (st42–st45): stage the sparse frame as two time-ordered
    * parquet batches (mtime-pinned arrival order), run the stateful
    * fill with maxFilesPerTrigger=1 through a checkpoint, read the
    * accumulated emissions back, and re-materialize on one
    * partition. Parameterized over the sparse frame, the early-batch
    * predicate, the fill (readStream DataFrame → emitted Dataset),
    * and the output projection — the ONLY things the four gates
    * differ in.
    */
  private def stagedGapFillReplay(s: org.apache.spark.sql.SparkSession,
      scratchKey: String, sparse: org.apache.spark.sql.DataFrame,
      earlyCond: org.apache.spark.sql.Column,
      fill: org.apache.spark.sql.DataFrame => org.apache.spark.sql.Dataset[_],
      project: org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    val dirP = scratch(scratchKey)
    val stage = dirP.resolve("input").toString
    val ckpt = dirP.resolve("ckpt").toString
    val out = dirP.resolve("out").toString
    val schema = sparse.schema
    sparse.where(earlyCond).coalesce(1).write.parquet(stage)
    val earlyFiles = partNames(s, stage)
    sparse.where(!earlyCond).coalesce(1).write.mode("append").parquet(stage)
    pinArrivalOrder(s, stage, earlyFiles)

    val q0 = withStateParts(s) {
      fill(
        s.readStream.schema(schema)
          .option("maxFilesPerTrigger", 1).parquet(stage))
        .writeStream.outputMode("append")
        .format("parquet").option("path", out)
        .trigger(Trigger.AvailableNow())
        .option("checkpointLocation", ckpt).start()
    }
    try q0.awaitTermination() finally q0.stop()

    val outDf = project(s.read.parquet(out))
    val outSchema = outDf.schema
    val rows = outDf.collect()
    deleteRecursively(dirP)
    s.createDataFrame(s.sparkContext.parallelize(rows.toSeq, 1), outSchema)
  }

  private def gapFillTwin(name: String, scratchKey: String,
      fill: org.apache.spark.sql.Dataset[graft.streaming.StreamingGapFill.SeriesObs] =>
        org.apache.spark.sql.Dataset[graft.streaming.StreamingGapFill.FilledDay],
      oracle: String): QueryDef = QueryDef(
    name,
    (s, dir) => {
      import s.implicits._
      stagedGapFillReplay(s, scratchKey,
        sparse = s.read.parquet(s"$dir/lineitem.parquet")
          .where(col("l_partkey") <= 20)
          .select(col("l_partkey").as("key"),
            to_date(col("l_shipdate")).as("day"),
            col("l_extendedprice"))
          .groupBy(col("key"), col("day"))
          .agg(avg("l_extendedprice").as("value")),
        earlyCond = col("day") < lit("1995-01-01").cast("date"),
        fill = df => fill(
          df.as[graft.streaming.StreamingGapFill.SeriesObs]),
        project = _.select(col("key").as("item_id"),
          col("day").as("snapshot_date"), col("value").as("price")))
    },
    Some(oracle))

  private def streamingGapFillInterp: QueryDef =
    gapFillTwin("st43_streaming_gapfill_interp", "st43",
      graft.streaming.StreamingGapFill.interpFilled(_),
      PipelineQueries.gapfillInterpOracleSql)

  private def streamingGapFillBfill: QueryDef =
    gapFillTwin("st44_streaming_gapfill_bfill", "st44",
      graft.streaming.StreamingGapFill.bfillFilled(_),
      PipelineQueries.gapfillBfillOracleSql)

  /** st45 (round 15): the HOUR-grain streaming locf twin — the
    * reference's actual price-history cadence. Sparse per-user
    * hourly event values arrive in two time-ordered batches;
    * `locfFilledAtGrain` (stepSeconds 3600) keeps one (epoch, value)
    * pair per key and closes each gap retroactively. Accumulated
    * emissions equal the batch hourly grid, so the oracle is the
    * p145 locf column restated standalone.
    */
  private def streamingGapFillHourly: QueryDef = QueryDef(
    "st45_streaming_gapfill_hourly",
    (s, dir) => {
      import s.implicits._
      stagedGapFillReplay(s, "st45",
        sparse = Tables.events(s, dir)
          .where(col("user_id") <= 50)
          .select(col("user_id").as("key"),
            // explicit cast: a driver-generation flip to
            // TIMESTAMP_NTZ would break the java.sql.Timestamp
            // encoder (session tz is UTC, so the instant is
            // unchanged either way)
            date_trunc("hour", col("ts")).cast("timestamp").as("ts"),
            col("value"))
          .groupBy(col("key"), col("ts"))
          .agg(avg("value").as("value"))
          .select(col("key"), col("ts"), col("value")),
        earlyCond = col("ts") < lit("2024-01-16").cast("timestamp"),
        fill = df => graft.streaming.StreamingGapFill.locfFilledAtGrain(
          df.as[graft.streaming.StreamingGapFill.SeriesObsTs]),
        project = _.select(col("key").as("user_id"),
          unix_timestamp(col("ts")).as("snapshot_hour"),
          col("value")))
    },
    Some("""WITH s AS (SELECT user_id, date_trunc('hour', ts) AS h,
           |                  AVG(value) AS v
           |           FROM events WHERE user_id <= 50
           |           GROUP BY 1, 2),
           |span AS (SELECT user_id, min(h) AS lo, max(h) AS hi
           |         FROM s GROUP BY 1),
           |grid AS (SELECT user_id,
           |                unnest(generate_series(lo, hi,
           |                  INTERVAL 1 HOUR)) AS h
           |         FROM span),
           |j AS (SELECT g.user_id, g.h, s.v
           |      FROM grid g LEFT JOIN s
           |        ON s.user_id = g.user_id AND s.h = g.h)
           |SELECT user_id, CAST(epoch(h) AS BIGINT) AS snapshot_hour,
           |       last_value(v IGNORE NULLS) OVER (
           |         PARTITION BY user_id ORDER BY h
           |         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           |         AS value
           |FROM j""".stripMargin))

  /** st46 (round 16, verdict ask #6): the CALENDAR month-grain
    * streaming twin — round 15's documented batch-only refusal
    * upgraded. Months have no fixed step, so `locfFilledAtGrain`
    * cannot express them; `filledAtMonth` walks the gap in month
    * ARITHMETIC (LocalDate.plusMonths over month-start dates, exact
    * on day 1), emitting the same grid as the batch
    * sequence(lo, hi, interval 1 month). The gate replays p150's
    * exact fixture (per-(supplier, month) average price, 1/7
    * sparsified) as two date-ordered micro-batches through BOTH the
    * locf and interp month twins, joins them on (supp_id, month) like
    * the batch gate, and must hash-equal p150's oracle verbatim —
    * interp's real-day linearity (Jan→Apr hits Feb 1 at 31/90)
    * included.
    */
  private def streamingGapFillMonthly: QueryDef = QueryDef(
    "st46_streaming_gapfill_monthly",
    (s, dir) => {
      import s.implicits._
      val sparse = s.read.parquet(s"$dir/lineitem.parquet")
        .where(col("l_suppkey") <= 40)
        .where(dayofmonth(to_date(col("l_shipdate"))) === 3)
        .select(col("l_suppkey").cast("long").as("key"),
          trunc(to_date(col("l_shipdate")), "month").as("day"),
          col("l_extendedprice"))
        .groupBy(col("key"), col("day"))
        .agg(avg("l_extendedprice").as("value"))
      val earlyCond = col("day") < lit("1995-01-01").cast("date")
      def replay(scratchKey: String,
          fill: org.apache.spark.sql.Dataset[graft.streaming.StreamingGapFill.SeriesObs] =>
            org.apache.spark.sql.Dataset[graft.streaming.StreamingGapFill.FilledDay],
          valueName: String) =
        stagedGapFillReplay(s, scratchKey, sparse, earlyCond,
          fill = df => fill(
            df.as[graft.streaming.StreamingGapFill.SeriesObs]),
          project = _.select(col("key").as("supp_id"),
            col("day").as("month_start"), col("value").as(valueName)))
      replay("st46a", graft.streaming.StreamingGapFill.locfFilledAtMonth(_),
        "v_locf")
        .join(replay("st46b",
          graft.streaming.StreamingGapFill.interpFilledAtMonth(_),
          "v_interp"), Seq("supp_id", "month_start"))
        .select(col("supp_id"), col("month_start"),
          col("v_locf"), col("v_interp"))
    },
    Some(PipelineQueries.gapfillMonthlyOracleSql))

  def defs: Seq[QueryDef] =
    Seq(streamingSessions, streamingFunnel, streamingAsof,
      streamingSilverGate, streamingNearDup, streamingEmbNearDup,
      streamingCorpusStats, streamingKmv, streamingCms,
      streamingCurateDeterministic, streamingIntervalJoin, streamingHll,
      streamingSessionWindow, streamingHopping, streamingStreamStatic,
      streamingIntervalJoinOuter, streamingIndexDedup, streamingNovelty,
      streamingIndexDedupEvicted, streamingQualityScore, streamingDrift,
      streamingRetrieval, streamingSequences, streamingAdmission,
      streamingPerplexity, streamingTokenBudget, streamingBatching,
      streamingIngestE2e, streamingOhlc, streamingDecontamination,
      streamingPixelDedup, streamingExcise, streamingMvMaintenance,
      streamingMediaIngest, streamingMvDistinct, streamingPairIngest,
      streamingSearch, streamingMvCompact, streamingMvStar,
      streamingAnnServe, streamingAnnMaintain, streamingGapFill,
      streamingGapFillInterp, streamingGapFillBfill,
      streamingGapFillHourly, streamingGapFillMonthly)
}
