package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Encoders}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, GroupState, GroupStateTimeout, OutputMode, Trigger}

import graft.pipeline.{Classifier, Dedup}
import graft.sources.BatchTable

/** The COMPOSED online ingest pipeline — the streaming twin of the
  * p109 batch recipe, chaining the individually-gated streaming
  * stages in the order a production crawler runs them:
  *
  *   token-budget admission (st26)  →  LSH-index dedup with pending
  *   evictions (st17/st19)  →  frozen-LM perplexity + trained
  *   classifier scoring (st25/st20)  →  quality-band filter  →
  *   length-bucketed batch formation (st27)
  *
  * ONE checkpointed chain: the admission quota is the stream-graph
  * stateful operator (flatMapGroupsWithState, one (long, bool) per
  * source); everything after it runs inside `foreachBatch` because
  * the dedup stage joins the micro-batch against the STATIC on-disk
  * index (a per-batch static frame — no streaming output mode
  * expresses it) and the batch-formation counters advance as
  * VERSIONED per-batch state files (the st18/st21 discipline),
  * because a second flatMapGroupsWithState downstream of the first is
  * not a supported streaming topology.
  *
  * Replay idempotence (the round-9 defect class, closed): every
  * micro-batch `overwrite`s its OWN `batch=<id>` partition of the
  * output AND its own `state/batch=<id>` counter snapshot, and batch
  * N's coordinates depend only on batch N's rows plus the counters of
  * the latest state < N — so a crash-replayed batch rewrites exactly
  * the rows and state it wrote before, never double-deals a slot.
  *
  * Scale shape: admission state is O(sources); dedup cost per batch
  * is the batch's shingles against the band-bucketed index (never
  * C(n,2), evictions honored per batch via the tombstone read inside
  * [[Dedup.nearDupsAgainstIndex]]); scoring is a pure projection
  * (classifier = codegen'd scan expression; LM = broadcast model,
  * interpreted per row — the st20/st25 trade); batch formation moves
  * O(buckets) state per micro-batch. The corpus never shuffles inside
  * a micro-batch: the only exchanges carry shingles and id-grain
  * verdicts.
  *
  * Determinism (the st28 gate's contract): within a micro-batch the
  * admission fold and the slot dealing both order by doc_id, so a
  * staged replay whose batch boundaries respect doc_id order
  * reproduces the SQL-window oracle exactly; across batches the
  * admission counters and bucket counters persist.
  */
object StreamingIngest {

  /** Stream-side document: id, source, text, and its token count
    * (metered at the router like st26 — the p16 counting formula).
    */
  case class IngestDoc(doc_id: Long, source: String, text: String,
      n_tokens: Long)

  case class AdmittedDoc(doc_id: Long, source: String, text: String,
      n_tokens: Long, tokens_before: Long)

  /** Stage parameters. `pplMin`/`qMin` close the quality band from
    * below (keep docs the frozen LM finds likely AND the classifier
    * scores in-domain — the CCNet-style head+middle selection).
    */
  final case class Config(
      indexPath: String,
      outPath: String,
      budget: Long = 2000L,
      threshold: Double = 0.8,
      qMin: Double = 0.4,
      pplMin: Double = -8.0,
      bucketWidth: Int = 20,
      batchSize: Int = 8) {
    def statePath: String = outPath + "_state"
  }

  /** st26's prefix token quota, carrying the full document through
    * (the composed chain needs text downstream; the st26 operator's
    * metadata-only shape is the router's view). Same fold, same
    * state, same close-at-first-overflow contract.
    */
  def admitTokens(docs: Dataset[IngestDoc],
      budget: Long): Dataset[AdmittedDoc] = {
    require(budget > 0, s"budget=$budget must be positive")
    docs
      .groupByKey(_.source)(Encoders.STRING)
      .flatMapGroupsWithState(
        OutputMode.Append, GroupStateTimeout.NoTimeout)(
        (source: String, batch: Iterator[IngestDoc],
         state: GroupState[StreamingAdmission.TokenState]) =>
          MicroBatchFold(batch, state,
            StreamingAdmission.TokenState(0L, closed = false),
            (_: IngestDoc).doc_id) { (st, d) =>
            require(d.n_tokens >= 0,
              s"doc ${d.doc_id}: negative token count ${d.n_tokens}")
            if (st.closed) (st, None)
            else if (st.tokens + d.n_tokens <= budget)
              (st.copy(tokens = st.tokens + d.n_tokens),
                Some(AdmittedDoc(d.doc_id, source, d.text, d.n_tokens,
                  st.tokens)))
            else (st.copy(closed = true), None)
          })(Encoders.product[StreamingAdmission.TokenState],
            Encoders.product[AdmittedDoc])
  }

  /** One micro-batch of the post-admission chain, replay-idempotent.
    * Public so the replay property is directly spec-testable: calling
    * it twice with the same (batch, batchId) leaves the sink and
    * state byte-identical.
    */
  def processBatch(batch: DataFrame, batchId: Long, cfg: Config,
      lm: StreamingPerplexity.LmModel, clf: Classifier.LogRegModel): Unit = {
    // foreachBatch persist discipline: the incoming frame is the
    // PHYSICAL micro-batch plan — every action below (the dedup
    // verdict distinct, the output write, the counter write) would
    // otherwise re-execute the whole upstream chain INCLUDING the
    // admission flatMapGroupsWithState and its state-store shuffle,
    // once per action (measured: the two-batch st28 stream ran ~3×
    // the direct processBatch cost before this pin; ~2× after).
    graft.operators.SessionCache.scoped(batch)(
      processPinned(_, batchId, cfg, lm, clf))
  }

  private def processPinned(batch: DataFrame, batchId: Long, cfg: Config,
      lm: StreamingPerplexity.LmModel, clf: Classifier.LogRegModel): Unit = {
    val spark = batch.sparkSession

    // 2. dedup: the admitted micro-batch judged against the static
    // index (tombstones re-read inside, so evictions land without a
    // restart); keep = no verdict pair (index-wins, batch-blind).
    val verdicts = Dedup.nearDupsAgainstIndex(
      batch.select(col("doc_id"), col("text")), cfg.indexPath,
      cfg.threshold, persistShingles = false)
      .select(col("doc_new").as("doc_id")).distinct()
    val kept = batch.join(verdicts, Seq("doc_id"), "left_anti")

    // 3. scoring: classifier as the codegen'd scan expression (st20);
    // frozen-LM perplexity via the broadcast model (st25's per-row
    // function — interpreted, the documented shuffle-free trade).
    // Token-less docs emit no LM row in the batch operator, so they
    // leave the chain here (they carry no trainable content anyway).
    val bLm = spark.sparkContext.broadcast(lm)
    val pplUdf = udf { (docId: Long, text: String) =>
      StreamingPerplexity.scoreDoc(docId, text, bLm.value).avg_logprob
    }
    val scored = kept
      .withColumn("quality_score", Classifier.scoreExpr(clf, col("text")))
      .withColumn("avg_logprob", pplUdf(col("doc_id"), col("text")))
      .where(col("n_tokens") > 0)

    // 4. quality band.
    val band = scored.where(
      col("quality_score") >= cfg.qMin && col("avg_logprob") >= cfg.pplMin)

    // 5. batch formation: slots dealt in doc_id order per bucket on
    // top of the persisted counters (versioned state, latest < this
    // batch — so a replay recomputes from the same snapshot).
    val counters = latestState(spark, cfg.statePath, batchId)
    // pinned for the same reason as the incoming batch: the output
    // write and the counter write below each consume it, and the
    // chain above it (dedup join + two scoring projections) is the
    // expensive part of the micro-batch
    graft.operators.SessionCache.scoped(band.withColumn("bucket",
        expr(s"n_tokens div CAST(${cfg.bucketWidth} AS BIGINT)"))) { withBucket =>
      val ranked = withBucket.withColumn("__r",
        row_number().over(
          org.apache.spark.sql.expressions.Window
            .partitionBy(col("bucket")).orderBy(col("doc_id"))) - 1)
        .join(broadcast(counters), Seq("bucket"), "left")
        .withColumn("__dealt", coalesce(col("dealt"), lit(0L)) + col("__r"))
        .select(col("source"), col("doc_id"), col("n_tokens"),
          col("tokens_before"), col("quality_score"), col("avg_logprob"),
          col("bucket"),
          expr(s"__dealt div CAST(${cfg.batchSize} AS BIGINT)").as("batch_id"),
          (col("__dealt") % cfg.batchSize).as("slot"))

      // idempotent commits: this batch's own partitions, overwritten.
      BatchTable(cfg.outPath).write(ranked, batchId.toString)
      val newCounters = counters
        .unionByName(withBucket.groupBy(col("bucket"))
          .agg(count(lit(1)).as("dealt")))
        .groupBy(col("bucket")).agg(sum(col("dealt")).as("dealt"))
      BatchTable(cfg.statePath).write(newCounters, batchId.toString)
    }
  }

  /** The per-bucket dealt counters as of the latest committed state
    * strictly BEFORE `batchId` — O(buckets) rows. Missing (first
    * batch, or a fresh run) means empty counters.
    */
  private def latestState(spark: org.apache.spark.sql.SparkSession,
      statePath: String, batchId: Long): DataFrame = {
    import spark.implicits._
    BatchTable(statePath).latestBefore(spark, batchId)
      .fold(Seq.empty[(Long, Long)].toDF("bucket", "dealt"))(
        _.select(col("bucket").cast("long"), col("dealt").cast("long")))
  }

  /** The whole chain as one checkpointed writer: admission in the
    * stream graph, stages 2-5 per micro-batch. Caller sets the
    * checkpoint location and starts it.
    */
  def pipeline(docs: Dataset[IngestDoc], cfg: Config,
      lm: StreamingPerplexity.LmModel,
      clf: Classifier.LogRegModel): DataStreamWriter[AdmittedDoc] =
    admitTokens(docs, cfg.budget).writeStream
      .foreachBatch { (batch: Dataset[AdmittedDoc], batchId: Long) =>
        processBatch(batch.toDF(), batchId, cfg, lm, clf)
      }
      .trigger(Trigger.AvailableNow())
}
