package graft.pipeline

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The COMPOSED training-data curation pipeline — the artifact a real
  * 100 TB user runs end-to-end, chaining the individually-gated
  * stages in their production order:
  *
  *   quality filter  →  canonical (NFC) exact dedup  →  MinHash
  *   near-dedup  →  benchmark decontamination  →  DSIR importance
  *   resampling  →  sequence packing
  *
  * (reference scope: the reference pipeline stops at warehouse marts,
  * `data_pipeline/` — this is the north-star extension family;
  * each stage's semantics are pinned by its own gate: p15 quality,
  * p90 canonical dedup, p06-p08 near-dup, p25/p84 decontamination,
  * p78 DSIR, p61 packing. p93 gates this composition.)
  *
  * Scale shape — the point of composing INSIDE one lazy plan: corpus
  * TEXT is never re-materialized between stages.
  *
  *   - Every dedup/filter stage reduces to an id-grain verdict set
  *     (canonical keepers, near-dup losers, contaminated ids) that is
  *     semi/anti-joined back onto the corpus — the corpus side
  *     streams through unshuffled, verdict sides carry ids + hashes
  *     only.
  *   - The near-dup and decontamination substrates (shingles,
  *     signatures) explode from text but collapse to ids before any
  *     join back; the benchmark side is DISTINCT shingles, broadcast.
  *   - DSIR selection happens on the NARROW weights frame
  *     (id, log_weight): the Gumbel-top-n sort never carries text,
  *     and the n selected ids come back as one more tiny semi-join.
  *   - Packing drops text in its projection (token counts only)
  *     before its shard-grain window shuffle.
  *
  * PlanSpec proves the claim structurally: no shuffle exchange in the
  * composed physical plan carries the text column.
  */
object Curation {

  /** Stage parameters, defaults matching the fragment gates. */
  final case class Config(
      minQuality: Double = 0.5,
      nearDupThreshold: Double = 0.8,
      shingleN: Int = 3,
      contaminationN: Int = 5,
      dsirTargetSource: String = "src0",
      dsirBuckets: Int = 256,
      sampleN: Int = 200,
      seqLen: Int = 512,
      nShards: Int = 4,
      /** Cache the narrow verdict frames (id / feature grain — never
        * text). Each is consumed by several downstream branches; an
        * uncached run recomputes the whole upstream chain per branch
        * (the DSIR stage alone fans `decIds` out ~8×, measured 10×
        * wall at sf0.1). Off only for plan inspection (PlanSpec needs
        * the full uncached tree to assert on every exchange).
        */
      cache: Boolean = true)

  /** A multiply-consumed stage frame, cut
    * ([[graft.operators.SessionCache.cut]], lazy) when `cfg.cache`.
    * A plain persist caches the rows, but every downstream plan still
    * carries the whole upstream logical tree, and AQE re-optimizes
    * that tree between every query stage — profiled at sf0.1: 67 jobs
    * with 9.0 s of inter-job driver gaps, over half the query's wall;
    * the cut took the gate from ~18 s to ~7.8 s at a flat control.
    * Each downstream plan reads a `LogicalRDD` leaf instead. The
    * adaptive upstream runs when the cut is built; the first
    * consumer's action stores its rows (same rows either way — a
    * materialization boundary cannot move any md5-variate verdict).
    * Blocks live until the harness calls `SessionCache.release()`,
    * and recompute if read after it.
    */
  private def stageBoundary(df: DataFrame, cfg: Config): DataFrame =
    if (cfg.cache) graft.operators.SessionCache.cut(df) else df

  /** The curated, resampled corpus: `(doc_id, text, source)` rows
    * that survive quality → canonical dedup → near-dedup →
    * decontamination and win the DSIR Gumbel-top-n. Deterministic
    * given (docs, benchmark, cfg) — every stage verdict is an
    * md5-family variate or an exact count, so retries and
    * repartitioning cannot move the selected set.
    */
  def curate(docs: DataFrame, benchmark: DataFrame,
      cfg: Config = Config()): DataFrame = {
    // 1. quality floor — stateless scan expressions (p15's scorer).
    // `kept` is a SCAN BRANCH: text is consumed only by projections
    // that immediately collapse it to a hash / shingle / feature
    // grain. The verdict algebra below runs entirely on those narrow
    // frames — joining a verdict set back onto a text-carrying frame
    // would let the planner satisfy a downstream requirement by
    // hash-repartitioning the CORPUS (observed: an
    // ENSURE_REQUIREMENTS exchange carrying text), which is exactly
    // the shuffle this composition exists to avoid at 100 TB.
    // Cut (cfg.cache): five substrate branches read it, and an
    // uncached plan re-scans the source and re-compiles the large
    // quality-predicate codegen unit per branch per action (measured
    // ~4x the whole pipeline's wall at sf0.1).
    val kept = stageBoundary(TextAnalysis.qualityFeatures(docs)
      .where(col("quality_score") >= cfg.minQuality)
      .select(col("doc_id"), col("text"), col("source")), cfg)

    // 2. canonical exact dedup: the dedup KEY is the fingerprint of
    // NFC-normalized, control-stripped, case/whitespace-folded text
    // (p90); canonicalization derives the IDENTITY, it does not
    // rewrite the corpus. Keeper = min doc_id per fingerprint —
    // (fp, id) grain, never text.
    val fps = kept.select(col("doc_id"),
      TextAnalysis.fingerprint(TextAnalysis.cleanText(col("text"))).as("__fp"))
    val canonIds = stageBoundary(fps.groupBy(col("__fp"))
      .agg(min(col("doc_id")).as("doc_id")).select("doc_id"), cfg)

    // 3. near-dedup: banded MinHash candidates verified by exact
    // Jaccard (p06-p08 chain) over the canonical survivors' shingle
    // substrate — shingles come straight off the scan (text collapses
    // in the projection) and the survivor restriction intersects at
    // the SHINGLE grain. Greedy deterministic policy: a doc is
    // dropped iff it near-dups a SMALLER id (every verified pair has
    // doc_a < doc_b — the smallest member of every cluster survives).
    val canonShingles = Dedup.wordShingles(kept, cfg.shingleN)
      .join(canonIds, Seq("doc_id"), "left_semi")
    val losers = Dedup.minHashNearDupsFromShingles(canonShingles,
      cfg.nearDupThreshold)
      .select(col("doc_b").as("doc_id")).distinct()
    val nearIds = stageBoundary(
      canonIds.join(losers, Seq("doc_id"), "left_anti"), cfg)

    // 4. decontamination: drop any doc sharing >= 1 word n-gram with
    // the benchmark ([[Contamination.decontaminate]]'s minOverlap = 1
    // standard, inlined at the id grain); benchmark side is distinct
    // shingles, broadcast — the corpus side is again the scan's
    // shingle substrate restricted by the live id set.
    val liveSh = Dedup.wordShingles(kept, cfg.contaminationN)
      .join(nearIds, Seq("doc_id"), "left_semi")
    val benchSh = Dedup.wordShingles(benchmark, cfg.contaminationN)
      .select("shingle").distinct()
    val contaminated = liveSh.join(broadcast(benchSh), Seq("shingle"))
      .select("doc_id").distinct()
    val decIds = stageBoundary(
      nearIds.join(contaminated, Seq("doc_id"), "left_anti"), cfg)

    // 5. DSIR: hashed-feature counts once off the scan, restricted to
    // the live ids at the (id, bucket) grain; importance weights
    // toward the target source's distribution; Gumbel-top-n on the
    // narrow (id, log_weight) frame (TakeOrderedAndProject — no
    // global sort, no text).
    val liveFeats = stageBoundary(
      Dsir.hashedFeatureCounts(kept, cfg.dsirBuckets)
        .join(decIds, Seq("doc_id"), "left_semi"), cfg)
    val targetIds = kept.select(col("doc_id"), col("source"))
      .where(col("source") === cfg.dsirTargetSource).select("doc_id")
      .join(decIds, Seq("doc_id"), "left_semi")
    val weights = Dsir.importanceWeightsFromCounts(decIds, liveFeats,
      liveFeats.join(targetIds, Seq("doc_id"), "left_semi"),
      cfg.dsirBuckets)
    val sampledIds = Dsir.resampleTopN(weights, cfg.sampleN)
      .select("doc_id")

    // The ONE text-carrying join of the whole pipeline: corpus scan
    // vs the sampled id set — bounded by sampleN rows (a LIMIT child,
    // so the planner broadcasts it), never an exchange of the corpus.
    kept.join(sampledIds, Seq("doc_id"), "left_semi")
  }

  /** [[curate]] packed into training sequences and rolled up to the
    * per-(shard, chunk) manifest (p61's export accounting) — the
    * single-plan end-to-end artifact the p93 gate hashes. Export the
    * corpus itself with [[Packing.writeShards]] over [[curate]]'s
    * output (one deliberate text shuffle to shard grain — the only
    * one in the whole pipeline).
    */
  def curateManifest(docs: DataFrame, benchmark: DataFrame,
      cfg: Config = Config()): DataFrame =
    Packing.chunkManifest(
      Packing.packSequences(curate(docs, benchmark, cfg),
        cfg.seqLen, cfg.nShards))
}
