package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Encoders, SparkSession}
import org.apache.spark.sql.functions._

/** Online LM-perplexity scoring — the deployment shape of
  * [[graft.pipeline.TextAnalysis.bigramLogProb]] (the CCNet-style LM
  * data filter): the interpolated bigram model is trained ONCE on the
  * indexed corpus, FROZEN, and shipped to the executors as a broadcast
  * (the exact production topology — CCNet ships its trained KenLM
  * binary to every worker the same way); each arriving document then
  * scores as a PURE PER-ROW FUNCTION of (text, model) — no state, no
  * shuffle, no watermark; micro-batching cannot change a single row.
  *
  * Model size is the TYPE grain (unigram + observed-bigram counts),
  * NOT the corpus grain — the standard LM-artifact trade; a 100 TB
  * corpus's token-level work happened once, batch-side, in
  * [[frozenLm]]'s single map-side-combinable aggregation. Bigram
  * types still grow with the corpus, so [[frozenLm]] takes
  * `minBigramCount` / `maxVocab` caps, filtered below the collect —
  * see its training-pull contract.
  *
  * OOV contract (the frozen model WILL meet unseen tokens online,
  * unlike the self-trained batch op): an unseen unigram scores with
  * count floored to 1 (Laplace floor — p >= (1-lambda)/n, never
  * ln(0)); an unseen PREVIOUS token means no context evidence, so the
  * token scores unigram-only (the first-token rule). On in-vocabulary
  * text the scores equal the batch operator's exactly (same pinned
  * mixture arithmetic, token-order summation inside the batch
  * oracle's 6-dp rounding discipline) — the st25 gate replays the
  * training corpus itself and hash-checks against the p73 oracle
  * VERBATIM.
  */
object StreamingPerplexity {

  /** Frozen model: Jelinek-Mercer interpolated bigram LM counts.
    * `bi` is keyed "prev term" — a single-space join, unambiguous
    * because tokens are whitespace-split and so cannot contain one.
    */
  case class LmModel(lambda: Double, n: Long,
      uni: Map[String, Long], bi: Map[String, Long])

  case class PplDoc(doc_id: Long, text: String)

  case class PplScore(doc_id: Long, n_tokens: Long, avg_logprob: Double)

  /** Mirror of [[graft.pipeline.TextAnalysis.tokens]] row-side:
    * Spark's `trim` strips ASCII spaces only, `split(_, "\\s+", -1)`
    * plus the non-empty filter equals Java split's behavior here.
    * Null text tokenizes empty — the batch operator emits no row for
    * it; the stream scores it 0 over 0 tokens rather than killing
    * the query on one bad row.
    */
  private[streaming] def tokenize(text: String): Array[String] =
    if (text == null) Array.empty
    else {
      var lo = 0
      var hi = text.length
      while (lo < hi && text.charAt(lo) == ' ') lo += 1
      while (hi > lo && text.charAt(hi - 1) == ' ') hi -= 1
      text.substring(lo, hi).split("\\s+").filter(_.nonEmpty)
    }

  /** Train the frozen model: ONE corpus pass — (prev, term) pairs come
    * narrow from each row's own token array (the batch operator's
    * plan) and reduce through a single (prev, term)-grain count that
    * keeps the null-prev (first-token) rows; the pair-grain table is
    * persisted (memory-and-disk) so the three derived jobs — token
    * total, unigram table, bigram table — re-read IT, not the corpus.
    *
    * TRAINING-PULL CONTRACT: the driver pull is NOT "vocabulary-sized
    * by construction" — unigram TYPES are, but bigram types grow
    * near-linearly with corpus size, which at 100 TB is a driver OOM.
    * The bounds are the two cap parameters, both pushed BELOW the
    * collect (the executors filter; the driver only ever sees the
    * capped tables):
    *   - `minBigramCount`: only bigrams seen >= this many times ship.
    *     At most totalTokens/minBigramCount types can clear a count
    *     threshold, so the pull is bounded by construction; in
    *     practice head bigrams carry the LM mass (Zipf).
    *   - `maxVocab`: top-k unigrams by frequency (distributed top-k;
    *     count-desc, term-asc tie-break).
    * Capped-model SEMANTICS stay inside the scorer's existing OOV
    * contract — nothing new to reason about: a dropped bigram scores
    * as unseen-bigram (cb = 0, the pure interpolation term), a
    * dropped unigram as OOV (Laplace floor, unseen-context rule), and
    * `n` remains the TRUE corpus token total either way, so every
    * surviving probability is bit-identical to the uncapped model's.
    * The defaults (1, MaxValue) cap nothing and reproduce the
    * uncapped model exactly. At 100 TB, set minBigramCount to the
    * corpus scale (KenLM-style pruning does the same) or pre-sample
    * the training corpus — the model is an artifact, not the corpus.
    */
  def frozenLm(docs: DataFrame, lambda: Double = 0.75,
      minBigramCount: Long = 1L, maxVocab: Int = Int.MaxValue): LmModel = {
    graft.operators.SessionCache.scoped(docs
        .select(graft.pipeline.TextAnalysis.tokens(col("text")).as("__w"))
        .select(col("__w"), posexplode(col("__w")).as(Seq("pos", "term")))
        .select(col("term"),
          when(col("pos") > 0, element_at(col("__w"), col("pos"))).as("prev"))
        .groupBy(col("prev"), col("term")).agg(count(lit(1)).as("c"))) { pairGrain =>
      val termGrain = pairGrain.groupBy(col("term"))
        .agg(sum(col("c")).as("tc"))
      // n = TRUE token total (pre-cap) — the mixture denominator must
      // not drift when the vocab is capped
      val nRow = termGrain.agg(sum(col("tc"))).collect()(0)
      val n = if (nRow.isNullAt(0)) 0L else nRow.getLong(0)
      val uniRows =
        if (maxVocab == Int.MaxValue) termGrain.collect()
        else termGrain.orderBy(col("tc").desc, col("term"))
          .limit(maxVocab).collect()
      val uni = uniRows.map(r => r.getString(0) -> r.getLong(1)).toMap
      val biRows = pairGrain
        .where(col("prev").isNotNull && col("c") >= minBigramCount)
        .collect()
      // a bigram whose PREV or TERM fell out of the capped vocabulary
      // must drop with it: a retained "the zebra" count with a
      // floored unigram "zebra" would score a hybrid probability that
      // is neither the uncapped value nor the documented OOV rule
      // (prev-dropped entries are merely dead weight — the scorer's
      // unseen-context branch never consults them — but they'd hold
      // driver memory for nothing)
      val biAll = biRows.map(r =>
        (r.getString(0), r.getString(1), r.getLong(2)))
      val bi =
        if (maxVocab == Int.MaxValue)
          biAll.map { case (p0, t, c) => (p0 + " " + t) -> c }.toMap
        else biAll.collect {
          case (p0, t, c) if uni.contains(p0) && uni.contains(t) =>
            (p0 + " " + t) -> c
        }.toMap
      LmModel(lambda, n, uni, bi)
    }
  }

  /** Score one document under the frozen model — the pinned mixture
    * arithmetic of the batch operator, summed in token order.
    */
  private[streaming] def scoreDoc(docId: Long, text: String,
      m: LmModel): PplScore = {
    val w = tokenize(text)
    val nD = m.n.toDouble
    var sum = 0.0
    var i = 0
    while (i < w.length) {
      val cu = m.uni.getOrElse(w(i), 0L) max 1L // Laplace floor for OOV
      val cuPrev = if (i == 0) 0L else m.uni.getOrElse(w(i - 1), 0L)
      val p =
        if (cuPrev == 0L) cu.toDouble / nD // first token or unseen context
        else {
          val cb = m.bi.getOrElse(w(i - 1) + " " + w(i), 0L)
          (m.lambda * cb.toDouble) / cuPrev.toDouble +
            ((1.0 - m.lambda) * cu.toDouble) / nD
        }
      sum += math.log(p)
      i += 1
    }
    PplScore(docId, w.length.toLong,
      if (w.length == 0) 0.0 else sum / w.length)
  }

  /** Stateless stream scorer: the model rides a Spark broadcast (one
    * copy per executor, not per task). Empty/null documents emit NO
    * row — the batch operator's contract (its tokens-explode produces
    * nothing to aggregate for them). Emitting (0, 0.0) instead would
    * hand empty docs the best possible score and a downstream
    * perplexity-band filter would keep exactly the docs it must drop.
    */
  def scoreStream(stream: Dataset[PplDoc], model: LmModel)(
      implicit spark: SparkSession): Dataset[PplScore] = {
    val b = spark.sparkContext.broadcast(model)
    stream.map(d => scoreDoc(d.doc_id, d.text, b.value))(
      Encoders.product[PplScore])
      .filter(_.n_tokens > 0L)
  }
}
