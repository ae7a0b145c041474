package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.pipeline.{Dedup, TextAnalysis}

/** Streaming edition of the training-data curation pipeline
  * (batch version: `queries/PipelineQueries.scala` p15): documents
  * arrive as a stream, get quality-scored, content-deduped and
  * language-tagged continuously — the ingest-side shape of a corpus
  * that is crawled, not dumped.
  *
  * Scale/state story: the only stateful stage is the dedup, keyed by
  * content fingerprint with state bounded by the watermark horizon
  * (a fingerprint older than the delay can no longer recur-and-win,
  * so the store drops it — state is the fingerprint set within the
  * horizon, never the corpus). Quality scoring and language ID are
  * stateless scan expressions, identical codegen to the batch path.
  */
object StreamingCuration {

  /** quality-filter -> fingerprint-dedup -> language-tag a document
    * stream. `docs` needs `doc_id`, `text`, and an event-time column
    * (default `ingested_at`).
    *
    * Dedup semantics — ARRIVAL order: `dropDuplicatesWithinWatermark`
    * keeps the first-arriving row per fingerprint, which for two
    * same-fp docs in one micro-batch is partition-order-dependent
    * (their case/whitespace variants differ, so the surviving
    * predicted_lang/n_tokens can differ run-to-run). This is the
    * deliberate trade of the standard schema-preserving idiom: every
    * input column flows through untouched. [[nearDupKeepers]]'
    * claimant is deterministic by (event time, doc_id) WITHIN a
    * micro-batch (its keeper set cannot depend on partition order),
    * though across batches arrival still decides — fully
    * replay-stable keeper identity needs reproduced batch boundaries
    * or the batch path ([[graft.pipeline.Dedup.dropExactDuplicates]]
    * / [[graft.pipeline.Dedup.minHashNearDups]]).
    */
  def curate(docs: DataFrame,
      minQuality: Double = 0.5,
      eventTimeCol: String = "ingested_at",
      watermarkDelay: String = "1 day"): DataFrame = {
    val scored = TextAnalysis.qualityFeatures(docs)
      .where(col("quality_score") >= minQuality)
      .withColumn("fp", TextAnalysis.fingerprint(col("text")))
    TextAnalysis.langId(
      scored
        .withWatermark(eventTimeCol, watermarkDelay)
        .dropDuplicatesWithinWatermark("fp"))
  }

  /** One fingerprinted doc observation / its claim verdict for
    * [[curateVerdicts]].
    */
  case class DocObs(doc_id: Long, text: String,
      ingested_at: java.sql.Timestamp, fp: String)
  case class DocVerdict(doc_id: Long, text: String,
      ingested_at: java.sql.Timestamp, keeper: Boolean)

  /** [[curate]]'s quality-filter + fingerprint-dedup with a
    * DETERMINISTIC survivor: per fingerprint, the claimant is elected
    * by (event time, doc_id) — never partition/arrival order, which
    * is `dropDuplicatesWithinWatermark`'s documented trade (two
    * same-fp docs landing in one micro-batch keep whichever row the
    * shuffle surfaces first; their case/whitespace variants differ,
    * so the surviving predicted_lang/n_tokens differ run-to-run).
    * Here a replayed batch elects the SAME survivor every run, so the
    * whole curation output is oracle-checkable (the st10 gate).
    *
    * Every quality-passing row is emitted WITH its verdict (the
    * [[nearDupVerdictStream]] observability rule — drops stay
    * auditable); keeper-filtered and language-tagged
    * ([[TextAnalysis.langId]]) it has [[curate]]'s shape. State =
    * one boolean per in-horizon fingerprint with an event-time
    * timeout, the same bound as [[curate]]'s internal store; across
    * batches the first-claimed fingerprint wins exactly as there.
    */
  def curateVerdicts(docs: DataFrame,
      minQuality: Double = 0.5,
      eventTimeCol: String = "ingested_at",
      watermarkDelay: String = "1 day",
      stateHorizonHours: Int = 24): DataFrame = {
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    val spark = docs.sparkSession
    import spark.implicits._
    val horizonMs = stateHorizonHours.toLong * 3600 * 1000
    val scored = TextAnalysis.qualityFeatures(docs)
      .where(col("quality_score") >= minQuality)
      .select(col("doc_id"), col("text"), col(eventTimeCol).as("ingested_at"),
        TextAnalysis.fingerprint(col("text")).as("fp"))
      .withWatermark("ingested_at", watermarkDelay)
      .as[DocObs]
    scored
      .groupByKey(_.fp)
      .flatMapGroupsWithState(
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout)(
        (_: String, rows: Iterator[DocObs], state: GroupState[Boolean]) =>
          if (state.hasTimedOut) { state.remove(); Iterator.empty }
          else {
            val rs = rows.toSeq
            val winner =
              if (state.exists) None
              else Some(rs.minBy(r => (r.ingested_at.getTime, r.doc_id)).doc_id)
            state.update(true)
            state.setTimeoutTimestamp(
              rs.map(_.ingested_at.getTime).max + horizonMs)
            rs.iterator.map(r => DocVerdict(r.doc_id, r.text, r.ingested_at,
              keeper = winner.contains(r.doc_id)))
          })
      .toDF()
  }

  /** One exploded (doc, band) observation / its claim verdict. */
  case class BandObs(doc_id: Long, text: String,
      ingested_at: java.sql.Timestamp, band: Int, bucket: String)
  case class BandVerdict(doc_id: Long, text: String,
      ingested_at: java.sql.Timestamp, survived: Boolean)

  /** Per-(band, bucket) first-claimant state machine behind
    * [[nearDupVerdictStream]]. State = the bucket's current expiry
    * timestamp (presence == claimed); an event-time timer clears it
    * `horizonMs` after the bucket's latest observation, and a
    * re-observation extends the clock (delete + re-register, kept
    * monotonic so a late-but-in-watermark row can never SHORTEN a
    * bucket's life).
    *
    * Every row is emitted with its verdict (not just the winner): the
    * downstream window only advances from rows it sees, so a stretch
    * of batches with zero winners would otherwise freeze keeper
    * emission forever (liveness, not correctness). The claimant is
    * deterministic by (event time, doc_id), never iterator order.
    */
  private class BandClaimProcessor(horizonMs: Long)
      extends org.apache.spark.sql.streaming.StatefulProcessor[
        (Int, String), BandObs, BandVerdict] {
    import org.apache.spark.sql.streaming.{ExpiredTimerInfo, OutputMode, TTLConfig, TimeMode, TimerValues, ValueState}
    @transient private var expiresAt: ValueState[Long] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      expiresAt = getHandle.getValueState[Long]("expiresAt",
        org.apache.spark.sql.Encoders.scalaLong, TTLConfig.NONE)

    override def handleInputRows(key: (Int, String), rows: Iterator[BandObs],
        timerValues: TimerValues): Iterator[BandVerdict] = {
      val rs = rows.toSeq
      val winner =
        if (expiresAt.exists()) None
        else Some(rs.minBy(r => (r.ingested_at.getTime, r.doc_id)).doc_id)
      val newExpiry = rs.map(_.ingested_at.getTime).max + horizonMs
      if (expiresAt.exists()) {
        val old = expiresAt.get()
        if (newExpiry > old) {
          getHandle.deleteTimer(old)
          getHandle.registerTimer(newExpiry)
          expiresAt.update(newExpiry)
        }
      } else {
        getHandle.registerTimer(newExpiry)
        expiresAt.update(newExpiry)
      }
      rs.iterator.map(r => BandVerdict(r.doc_id, r.text, r.ingested_at,
        survived = winner.contains(r.doc_id)))
    }

    override def handleExpiredTimer(key: (Int, String),
        timerValues: TimerValues,
        expiredTimerInfo: ExpiredTimerInfo): Iterator[BandVerdict] = {
      // only the LATEST timer clears state: an extended bucket still
      // has its superseded timer deleted above, but guard anyway
      if (expiresAt.exists() && expiredTimerInfo.getExpiryTimeInMs >= expiresAt.get())
        expiresAt.clear()
      Iterator.empty
    }
  }

  /** Streaming MINHASH near-dup suppression — the batch
    * [[graft.pipeline.Dedup.minHashNearDups]] dedup class on a
    * stream, where [[curate]]'s fingerprint dedup only catches
    * canonical-exact duplicates.
    *
    * Shape: each document's LSH band buckets are computed in-scan
    * ([[Dedup.minHashBandBuckets]] — same hash family as batch, so
    * signatures are identical), the doc explodes into one row per
    * band, and a `flatMapGroupsWithState` keyed by (band, bucket)
    * lets each bucket's FIRST claimant through — where "first" is
    * decided by (event time, doc_id), NOT arrival/partition order: a
    * whole near-dup group landing in one micro-batch elects the SAME
    * winner in every contested bucket, so exactly one group member
    * survives. (A per-row first-wins dedup like
    * `dropDuplicatesWithinWatermark` can split a group's buckets
    * between two members — each loses a band, BOTH drop, and the
    * content vanishes.) A doc is a keeper iff ALL its bands
    * survived; the second stateful stage (windowed count) emits
    * keepers once their window closes.
    *
    * Semantics vs batch: candidate-level dedup — LSH banding WITHOUT
    * the exact-Jaccard verify join (verification would require
    * retaining every prior doc's shingle set in state; banding
    * parameters tune the FP rate exactly as in batch LSH). State =
    * one boolean per in-horizon band bucket, never the corpus — the
    * same bound as [[curate]]'s fingerprint store, x numBands;
    * buckets expire by EVENT-TIME timer `stateHorizonHours` after
    * their latest observation (a re-observed bucket's clock resets).
    *
    * The claimant stage is a `transformWithState` StatefulProcessor
    * that DECLARES its output event-time column
    * (`eventTimeColumnName = "ingested_at"`), so Spark admits the
    * downstream windowed aggregation without touching the
    * session-global `statefulOperator.checkCorrectness` flag — the
    * declared column carries the watermark through the stateful map
    * and the chain is checker-legal by construction. (The earlier
    * `flatMapGroupsWithState` build needed the checker disabled
    * session-wide; round-6 verdict item 3.) Requires the RocksDB
    * state store provider ([[graft.Engine]] sets it engine-wide).
    */
  def nearDupKeepers(docs: DataFrame, n: Int = 3, numHashes: Int = 16,
      rowsPerBand: Int = 4,
      eventTimeCol: String = "ingested_at",
      watermarkDelay: String = "1 day",
      emitWindow: String = "1 hour",
      stateHorizonHours: Int = 24): DataFrame =
    nearDupVerdictStream(docs, n, numHashes, rowsPerBand, eventTimeCol,
      watermarkDelay, emitWindow, stateHorizonHours)
      .where(col("keeper"))
      .select(col("doc_id"), col("text"), col("window_start"))

  /** The documents [[nearDupKeepers]] DROPPED, with how many of their
    * bands were claimed — the observability side output for banding
    * FALSE POSITIVES. Candidate-level streaming dedup deletes on
    * unverified band collisions (see class doc), so a banding FP is
    * silent data loss unless something reports it: sample this
    * stream, join drops back to their bucket claimants, and
    * spot-check true similarity offline; a drop rate far above the
    * banding curve's FP estimate means the parameters (or the
    * corpus) need a look. The
    * [[graft.pipeline.Similarity.overflowBuckets]] pattern, applied
    * to streaming dedup.
    *
    * NOTE: run EITHER this or [[nearDupKeepers]] as separate sinks
    * and each materializes its own copy of the stateful pipeline
    * (separate state stores, same verdicts). For one pass, run
    * [[nearDupVerdictStream]] once and fork keeper/drop sinks in
    * `foreachBatch`.
    */
  def nearDupDrops(docs: DataFrame, n: Int = 3, numHashes: Int = 16,
      rowsPerBand: Int = 4,
      eventTimeCol: String = "ingested_at",
      watermarkDelay: String = "1 day",
      emitWindow: String = "1 hour",
      stateHorizonHours: Int = 24): DataFrame =
    nearDupVerdictStream(docs, n, numHashes, rowsPerBand, eventTimeCol,
      watermarkDelay, emitWindow, stateHorizonHours)
      .where(!col("keeper"))
      .select(col("doc_id"), col("text"), col("window_start"),
        col("kept_bands"))

  /** Shared verdict stream behind [[nearDupKeepers]] /
    * [[nearDupDrops]]: one row per (window, doc) with `kept_bands`
    * (how many of its band claims survived) and `keeper` (all of
    * them). Public so a production job can run the stateful pipeline
    * ONCE and fork keepers to the corpus sink and drops to the audit
    * sink inside `foreachBatch`.
    */
  def nearDupVerdictStream(docs: DataFrame, n: Int = 3, numHashes: Int = 16,
      rowsPerBand: Int = 4,
      eventTimeCol: String = "ingested_at",
      watermarkDelay: String = "1 day",
      emitWindow: String = "1 hour",
      stateHorizonHours: Int = 24): DataFrame = {
    import org.apache.spark.sql.streaming.OutputMode
    val spark = docs.sparkSession
    import spark.implicits._
    val numBands = numHashes / rowsPerBand
    val horizonMs = stateHorizonHours.toLong * 3600 * 1000
    val exploded = docs
      .select(col("doc_id"), col("text"), col(eventTimeCol).as("ingested_at"),
        explode(Dedup.minHashBandBuckets(
          col("doc_id"), col("text"), n, numHashes, rowsPerBand)).as("__bb"))
      .select(col("doc_id"), col("text"), col("ingested_at"),
        col("__bb.band").as("band"), col("__bb.bucket").as("bucket"))
      .withWatermark("ingested_at", watermarkDelay)
      .as[BandObs]
    // eventTimeColumnName declares the verdicts' event-time column,
    // carrying the watermark through the stateful map — the chained
    // windowed aggregation below is admitted by Spark's correctness
    // checker with no flag (see class doc).
    val verdicts = exploded
      .groupByKey(o => (o.band, o.bucket))
      .transformWithState(new BandClaimProcessor(horizonMs),
        eventTimeColumnName = "ingested_at",
        outputMode = OutputMode.Append)
    verdicts.toDF()
      .groupBy(window(col("ingested_at"), emitWindow), col("doc_id"))
      .agg(sum(when(col("survived"), 1L).otherwise(0L)).as("__kept_bands"),
        first(col("text")).as("text"))
      // >= not ==: an exact re-delivery of one doc_id within a single
      // micro-batch doubles its surviving band rows (both copies are
      // the claimant) — the doc is still a keeper, once
      .select(col("doc_id"), col("text"),
        col("window.start").as("window_start"),
        col("__kept_bands").as("kept_bands"),
        (col("__kept_bands") >= numBands).as("keeper"))
  }

  /** One embedding observation / its claim verdict for
    * [[embeddingNearDupKeepers]]. `bucket` is boxed (None =
    * malformed-vector quarantine — a primitive Long would make
    * NULL buckets indistinguishable from bucket 0).
    */
  case class EmbObs(vec_id: Long, embedding: Array[Float],
      ingested_at: java.sql.Timestamp, bucket: Option[Long])
  case class EmbVerdict(vec_id: Long, embedding: Array[Float],
      ingested_at: java.sql.Timestamp, keeper: Boolean, quarantined: Boolean)

  /** Streaming EMBEDDING near-dup suppression — the batch
    * [[graft.pipeline.Similarity.embeddingNearDups]] dedup class on a
    * stream: an embedding whose sign-LSH bucket was already claimed
    * within the state horizon is dropped as a near-duplicate.
    *
    * Same claimant machinery as [[nearDupVerdictStream]], but an
    * embedding has exactly ONE bucket (its 2^bits sign code), so a
    * doc survives iff it wins its single claim — no band count, no
    * second stateful stage, and therefore NO
    * `statefulOperator.checkCorrectness` disable: one
    * `flatMapGroupsWithState` in append mode is exactly what the
    * static checker admits.
    *
    * Semantics vs batch: candidate-level — a bucket collision drops
    * without a cosine verify (verification would retain every prior
    * vector in state; `bits` tunes the FP rate, and the verdict
    * stream makes drops auditable). Malformed vectors (length !=
    * dim) are QUARANTINED like everywhere else: emitted as keepers
    * with `quarantined = true`, never claiming or contesting a
    * bucket — a broken encoder must not elect itself the claimant of
    * one hot bucket and silently drop every later well-formed
    * collision. State = one boolean per in-horizon bucket, bounded
    * exactly like the fingerprint store.
    *
    * Degenerate-but-well-formed vectors (e.g. all-zero: every
    * projection 0 -> bucket 0) contest their bucket like any other
    * row, so a flood of them collapses to one survivor per horizon —
    * the streaming counterpart of the batch `maxBucketSize` cap on
    * the same pathology, trading the batch path's "keep all, pair
    * none" for "keep first". Candidate-level semantics either way.
    */
  def embeddingNearDupKeepers(emb: DataFrame, bits: Int = 16, dim: Int = 64,
      eventTimeCol: String = "ingested_at",
      watermarkDelay: String = "1 day",
      stateHorizonHours: Int = 24): DataFrame = {
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    val spark = emb.sparkSession
    import spark.implicits._
    val horizonMs = stateHorizonHours.toLong * 3600 * 1000
    val observed = emb
      .select(col("vec_id"), col("embedding"),
        col(eventTimeCol).as("ingested_at"),
        graft.pipeline.Similarity.lshBucket(col("embedding"), bits, dim)
          .as("bucket"))
      .withWatermark("ingested_at", watermarkDelay)
      .as[EmbObs]
    observed
      // key = (quarantined?, bucket-or-id): quarantined rows get a
      // synthetic UNIQUE key (their own id) so they never share a
      // group; well-formed rows contest their bucket
      .groupByKey(o => o.bucket match {
        case Some(b) => (false, b)
        case None => (true, o.vec_id)
      })
      .flatMapGroupsWithState(
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout)(
        (key: (Boolean, Long), rows: Iterator[EmbObs], state: GroupState[Boolean]) =>
          if (state.hasTimedOut) { state.remove(); Iterator.empty }
          else {
            val rs = rows.toSeq
            if (key._1) // malformed: keeper, no claim, no state
              rs.iterator.map(r => EmbVerdict(r.vec_id, r.embedding,
                r.ingested_at, keeper = true, quarantined = true))
            else {
              // deterministic claimant — (event time, id), not
              // iterator order; every row emits its verdict so
              // drops stay observable downstream
              val winner =
                if (state.exists) None
                else Some(rs.minBy(r => (r.ingested_at.getTime, r.vec_id)).vec_id)
              state.update(true)
              state.setTimeoutTimestamp(
                rs.map(_.ingested_at.getTime).max + horizonMs)
              rs.iterator.map(r => EmbVerdict(r.vec_id, r.embedding,
                r.ingested_at, keeper = winner.contains(r.vec_id),
                quarantined = false))
            }
          })
      .toDF()
  }

  /** Per-(language, window) corpus stats over the curated stream —
    * the continuously-updated version of p15's corpus summary.
    * Append-mode windowed aggregation: closed windows emit exactly
    * once, integral aggregates only (same determinism discipline as
    * the batch gate).
    */
  def corpusStats(curated: DataFrame,
      eventTimeCol: String = "ingested_at",
      window: String = "1 hour"): DataFrame =
    curated
      .groupBy(
        col("predicted_lang"),
        org.apache.spark.sql.functions.window(col(eventTimeCol), window).as("w"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("n_tokens")).as("total_tokens"))
      .select(col("predicted_lang"), col("w.start").as("window_start"),
        col("n_docs"), col("total_tokens"))
}
