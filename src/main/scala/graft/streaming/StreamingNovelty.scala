package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, Trigger}

import graft.functions.BloomFunctions
import graft.pipeline.Dedup

/** ONLINE corpus-novelty monitor — the streaming face of
  * [[Dedup.noveltyCurve]]: documents arrive as a stream and each
  * micro-batch's docs are scored by the fraction of their shingles
  * NOT yet in the corpus-so-far, where "so far" is a persisted Bloom
  * filter ([[BloomFunctions]]' artifact) seeded offline from the
  * base corpus and OR-advanced after every batch. The live ingest
  * dashboard signal: novelty trending toward zero means the crawl is
  * re-paying for data it already has.
  *
  * Exact-vs-approx trade, explicit: the batch noveltyCurve holds the
  * full (shingle → first owner) grain; a stream cannot (unbounded
  * state). The Bloom bounds state to mWords longs FOREVER, at the
  * cost of false positives — a novel shingle can be miscounted as
  * seen, so the streamed novelty is a deterministic UNDERestimate
  * with FP rate set by sizing (and the md5 double-hash family makes
  * even the FP set engine-reproducible — the st18 oracle rebuilds
  * the filter bit-for-bit in SQL).
  *
  * Determinism AND failure semantics: all docs in one micro-batch
  * are judged against the SAME pre-batch filter (batch-internal
  * order never matters), and the filter advances by WRITING A NEW
  * VERSION per batch (`<bloomPath>.v<batchId>`, the seed artifact at
  * `bloomPath` is never mutated) while the batch's rows
  * `mode("overwrite")` their own `batch=<id>` sink partition. So a
  * crash between the sink write / bloom advance and the checkpoint
  * commit is harmless: the replayed batch re-reads the SAME
  * pre-batch version (`.v<batchId-1>`, untouched by the crashed
  * attempt), recomputes the identical rows into the identical
  * partition, and skips the advance if its version already exists —
  * output uniqueness and per-batch determinism both survive replay.
  * A blind append + in-place [[BloomFunctions.appendToBloom]] would
  * give neither (the replayed batch would be judged against its own
  * post-batch filter and its rows would double-append).
  */
object StreamingNovelty {

  /** Bloom artifact path holding the filter state AFTER `batchId`'s
    * shingles were OR-ed in. The seed (pre-batch-0 state) lives at
    * `bloomPath` itself and is never mutated.
    */
  def versionPath(bloomPath: String, batchId: Long): String =
    s"$bloomPath.v$batchId"

  private def exists(path: String): Boolean =
    java.nio.file.Files.exists(java.nio.file.Paths.get(path))

  /** The filter `batchId` must be judged against: the newest
    * committed version BELOW it (batches can be empty or replayed,
    * so walk back), falling back to the seed.
    */
  def preBatchPath(bloomPath: String, batchId: Long): String =
    ((batchId - 1) to 0L by -1L).map(versionPath(bloomPath, _))
      .find(exists).getOrElse(bloomPath)

  /** One micro-batch, replay-idempotent: score `batch` against the
    * pre-batch filter version, overwrite this batch's sink
    * partition, then advance the filter into this batch's version
    * (skipped when a crashed prior attempt already wrote it). Public
    * so the replay property is directly spec-testable — calling it
    * twice with the same (batch, batchId) must leave both the sink
    * row set and the bloom version chain unchanged.
    */
  def processBatch(batch: DataFrame, batchId: Long, bloomPath: String,
      outPath: String, n: Int): Unit = {
    val spark = batch.sparkSession
    import spark.implicits._
    // STALE-CHAIN GUARD: our version can only pre-exist as a crashed
    // prior attempt of THIS batch, and every such attempt wrote the
    // sink partition BEFORE advancing — so version-committed with
    // sink-missing means the chain belongs to a PREVIOUS run (a fresh
    // checkpoint restarted batchIds over old artifacts). Proceeding
    // would skip this batch's advance and judge the next batch
    // against the old run's corpus — silently wrong rows, so refuse.
    if (exists(versionPath(bloomPath, batchId)) &&
        !exists(s"$outPath/batch=$batchId"))
      throw new IllegalStateException(
        s"stale bloom version chain: ${versionPath(bloomPath, batchId)} exists " +
          s"but $outPath/batch=$batchId does not — a fresh checkpoint must " +
          "start over fresh bloom/sink artifact paths")
    val prePath = preBatchPath(bloomPath, batchId)
    graft.operators.SessionCache.scoped(Dedup.wordShingles(batch, n)) { sh =>
      // judge against the PRE-batch filter version...
      val (words, k) = BloomFunctions.readBloom(spark, prePath)
      val filterDf = Seq(Tuple1(words.toSeq)).toDF("__bloom")
      val (ha, hb) = BloomFunctions.md5Halves(col("shingle"))
      sh.crossJoin(broadcast(filterDf))
        .withColumn("__seen",
          BloomFunctions.bloomContains(col("__bloom"), ha, hb, k))
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_shingles"),
          sum(when(col("__seen"), 0L).otherwise(1L)).as("n_novel"))
        .withColumn("novelty", col("n_novel") / col("n_shingles"))
        .write.mode("overwrite").parquet(s"$outPath/batch=$batchId")
      // ...then advance it AS A NEW VERSION for the next batch; a
      // replayed batch finds its version already committed and skips
      val verPath = versionPath(bloomPath, batchId)
      if (!exists(verPath))
        BloomFunctions.advanceBloom(
          sh.select(col("shingle")).distinct(), "shingle",
          prePath, verPath)
      // BOUND THE VERSION CHAIN: replay only ever needs the newest
      // version below the replayed batch, so once this batch's
      // version is committed everything at batchId-2 and older is
      // dead weight — prune it, walking back until the first gap
      // (older versions were pruned by earlier batches; amortized
      // O(1) per batch). Without this the "bounded state" promise is
      // a lie on disk: a 20-batch/sec stream accumulates a full
      // filter copy per batch forever.
      var v = batchId - 2
      while (v >= 0 && exists(versionPath(bloomPath, v))) {
        java.nio.file.Files.walk(java.nio.file.Paths.get(versionPath(bloomPath, v)))
          .sorted(java.util.Comparator.reverseOrder())
          .forEach(p => java.nio.file.Files.delete(p))
        v -= 1
      }
    }
  }

  /** Writer committing (doc_id, n_shingles, n_novel, novelty) rows
    * to `outPath/batch=<id>` per micro-batch; `bloomPath` must hold
    * a seeded bloom ([[BloomFunctions.writeBloom]] over the base
    * corpus's shingles) and versioned advances are written beside it.
    * Caller sets the checkpoint location and starts it.
    */
  def noveltyWriter(docs: DataFrame, bloomPath: String, outPath: String,
      n: Int = 3): DataStreamWriter[org.apache.spark.sql.Row] =
    docs.writeStream
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        processBatch(batch, batchId, bloomPath, outPath, n)
      }
      .trigger(Trigger.ProcessingTime(50))
}
