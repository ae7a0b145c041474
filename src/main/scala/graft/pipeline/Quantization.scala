package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Scalar (int8-range) embedding quantization: per-dimension min/max
  * over the corpus → each float component mapped to an integer code
  * in [0, 255]. Quantized vectors are 4× smaller than float32 (the
  * difference between an ANN index that fits executor memory at
  * 100 TB and one that doesn't), and scoring becomes an INTEGER dot
  * product — exact, associativity-free arithmetic, so ranking is
  * bit-reproducible across engines and partitionings (unlike float
  * sums, whose order matters).
  *
  * Quantization formula (per dim d with corpus range [lo_d, hi_d]):
  *   q = clamp(floor((v - lo_d) * 255.0 / (hi_d - lo_d) + 0.5), 0, 255)
  * (floor(x+0.5) spelled out rather than round() — round()'s
  * half-case convention varies across engines; floor doesn't. The
  * expression is a fixed chain of exact-input IEEE double ops, so any
  * engine computes the identical code.) Degenerate dims
  * (hi == lo) map to 0.
  *
  * Scale shape: the range pass is one explode → groupBy(dim) over 64
  * groups (map-side-combined to 64 rows per partition); ranges ride
  * along as a 1-row broadcast, so quantization itself is narrow.
  * Scoring the full corpus is a broadcast-1-row cross join + narrow
  * dot + TakeOrdered — same plan family as
  * [[Similarity.bruteForceTopK]], which this replaces when memory,
  * not compute, is the binding constraint. Compose with
  * [[Similarity.ivfTopKWith]] cells for the both-axes path.
  */
object Quantization {

  /** Per-dimension corpus ranges: (d, lo, hi), one row per dimension.
    * posexplode is 0-based, matching the oracle's range(dim) axis.
    */
  def dimRanges(emb: DataFrame, vecCol: String = "embedding"): DataFrame =
    emb.select(posexplode(col(vecCol)).as(Seq("d", "v")))
      .groupBy("d").agg(
        min(col("v").cast("double")).as("lo"),
        max(col("v").cast("double")).as("hi"))

  /** Per-dimension ROBUST location/scale profile: exact discrete
    * quartiles + IQR per dim. [[dimRanges]]' min/max calibration
    * breaks under a single corrupted vector (one 1e30 coordinate
    * collapses every real value into one int8 code); the
    * (median, IQR) pair is the outlier-resistant calibration a
    * production quantizer clips against, and the per-dim drift
    * profile an embedding-QA report diffs across corpus versions.
    *
    * Fully deterministic, unlike mean/std (corpus-order float sums —
    * engine-wide rule): float values group by BIT equality, the
    * quartiles are exact ranks over (dim, value) counts (the G9
    * counts plan — no per-group value buffer, a hot dim costs one
    * sort partition of its DISTINCT values), and IQR subtracts
    * through double — every output is rank-selected corpus data or
    * one exact IEEE op away from it.
    */
  def dimRobustProfile(emb: DataFrame, vecCol: String = "embedding"): DataFrame =
    graft.operators.Medians.exactQuantilesByCounts(
      emb.select(posexplode(col(vecCol)).as(Seq("d", "v"))),
      keys = Seq("d"), valueCol = "v",
      quantiles = Seq(("p25", 1, 4), ("p50", 1, 2), ("p75", 3, 4)))
      .withColumn("iqr",
        col("p75").cast("double") - col("p25").cast("double"))

  /** Robust standardization against a [[dimRobustProfile]]: each
    * coordinate becomes (v - p50) / iqr (zero-IQR dims pass 0 — a
    * constant-valued dim carries no information to scale). Spec-gated
    * (array-of-float transforms have no canonical hash form for the
    * driver compare); the PROFILE (p83) carries the oracle.
    */
  def robustScale(emb: DataFrame, profile: DataFrame,
      vecCol: String = "embedding"): DataFrame = {
    val packed = profile
      .groupBy().agg(
        sort_array(collect_list(struct(col("d"), col("p50")))).as("__m"),
        sort_array(collect_list(struct(col("d"), col("iqr")))).as("__i"))
      .select(transform(col("__m"), e => e("p50").cast("double")).as("meds"),
        transform(col("__i"), e => e("iqr")).as("iqrs"))
    emb.crossJoin(broadcast(packed))
      .withColumn(vecCol,
        zip_with(col(vecCol),
          zip_with(col("meds"), col("iqrs"),
            (m, i) => struct(m.as("m"), i.as("i"))),
          (v, mi) => when(mi("i") === 0.0, lit(0.0))
            .otherwise((v.cast("double") - mi("m")) / mi("i"))
            .cast("float")))
      .drop("meds", "iqrs")
  }

  /** The ranges packed into two ordered arrays as a single row
    * (`los`, `his`) — the broadcastable form.
    */
  private def rangeArrays(emb: DataFrame, vecCol: String): DataFrame =
    dimRanges(emb, vecCol)
      .groupBy().agg(
        sort_array(collect_list(struct(col("d"), col("lo")))).as("__l"),
        sort_array(collect_list(struct(col("d"), col("hi")))).as("__h"))
      .select(transform(col("__l"), e => e("lo")).as("los"),
        transform(col("__h"), e => e("hi")).as("his"))

  /** Quantization expression for one vector column against `los`/
    * `his` array columns (all same length). Interpreted HOF, but NOT
    * a per-query path: quantization runs once per corpus batch when
    * the qvec column is materialized (the index build); queries score
    * prebuilt codes through the native codegen'd [[intDot]].
    */
  private def quantizeExpr(vec: Column, los: Column, his: Column): Column =
    zip_with(vec, zip_with(los, his, (l, h) => struct(l.as("lo"), h.as("hi"))),
      (v, r) => when(r("hi") === r("lo"), lit(0))
        .otherwise(least(greatest(
          floor((v.cast("double") - r("lo")) * 255.0 / (r("hi") - r("lo")) + lit(0.5)),
          lit(0.0)), lit(255.0)).cast("int")))

  /** The corpus with a quantized `qvec: array<int>` column appended
    * (ranges computed from the corpus itself).
    */
  def quantized(emb: DataFrame, vecCol: String = "embedding"): DataFrame =
    emb.crossJoin(broadcast(rangeArrays(emb, vecCol)))
      .withColumn("qvec", quantizeExpr(col(vecCol), col("los"), col("his")))
      .drop("los", "his")

  /** Exact integer dot product of two int-array columns (long
    * accumulator) — the native codegen'd
    * [[graft.functions.IntVectorDot]] (a tight primitive loop inside
    * whole-stage codegen; the `aggregate(zip_with(...))` HOF
    * formulation it replaces is interpreted per element, which is the
    * wrong shape for the per-query corpus-scan scoring path).
    */
  def intDot(a: Column, b: Column): Column =
    graft.functions.VectorFunctions.intVecDot(a, b)

  /** Top-k nearest corpus vectors to `queryId` by quantized dot
    * product: (vec_id, qscore). Ties break by vec_id ascending;
    * qscore is an exact BIGINT, so the ordering (and any oracle
    * hash) is engine-independent.
    */
  def quantizedTopK(emb: DataFrame, queryId: Long, k: Int = 10,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val q = graft.operators.SessionCache.cut(quantized(emb, vecCol)
      .select(col(idCol).as("vec_id"), col("qvec")))
    val queryVec = q.where(col("vec_id") === queryId)
      .select(col("qvec").as("query_qvec"))
    q.crossJoin(broadcast(queryVec))
      .where(col("vec_id") =!= queryId)
      .select(col("vec_id"), intDot(col("qvec"), col("query_qvec")).as("qscore"))
      .orderBy(col("qscore").desc, col("vec_id").asc)
      .limit(k)
  }

  // ---- Product quantization (PQ): the other compression axis.
  // Scalar quantization above shrinks each COMPONENT to a byte (4x);
  // PQ shrinks each SUBVECTOR to a single codeword id — m bytes per
  // vector for m subspaces (dim*4/m x smaller, e.g. 32x at dim=64,
  // m=8), the compression that makes a 100 TB ANN index RAM-resident.
  // Scoring is asymmetric distance computation (ADC): the query stays
  // exact; a candidate's approximate score is the sum over subspaces
  // of dot(query_sub, codeword(code_sub)) — m table lookups per
  // candidate instead of a dim-length dot.
  //
  // Codebooks here are slices of the same md5-strided corpus sample
  // that seeds IVF ([[Similarity.sampleCentroids]]): deterministic,
  // model-free, re-derivable by any engine (k-means per subspace
  // would tighten them; the code/ADC machinery is identical). Codes
  // are the SAMPLE IDS, not dense indexes, mirroring the IVF cell
  // convention.

  /** Per-row PQ code assignment expression for subspace `s`:
    * argmin-L2 codeword over the broadcast literal codebook. With
    * the row's own |sub|^2 constant across codewords, argmin L2 =
    * argmax (2*dot(sub, cw) - |cw|^2) — one codegen'd dot per
    * codeword, |cw|^2 folded to a driver literal. array_max over
    * (score, cid) structs: lexicographic, equal scores prefer the
    * larger cid (duplicate codewords stay consistent with the
    * oracle's `ORDER BY score DESC, cid DESC`).
    */
  private def codeOf(vec: Column, s: Int, subDim: Int,
      codebook: Array[(Long, Array[Float])]): Column =
    array_max(array(codebook.map { case (cid, full) =>
      val cw = full.slice(s * subDim, (s + 1) * subDim)
      val cwLit = array(cw.toSeq.map(lit(_)): _*).cast("array<float>")
      val bb = {
        var acc = 0.0; var i = 0
        while (i < cw.length) { acc += cw(i).toDouble * cw(i); i += 1 }
        acc
      }
      val sub = slice(vec, s * subDim + 1, subDim)
      struct((lit(2.0) * graft.functions.VectorFunctions.vecDot(sub, cwLit)
        - lit(bb)).as("score"), lit(cid).as("cid"))
    }: _*)).getField("cid")

  /** The corpus with an m-entry `codes: array<bigint>` column — the
    * PQ index build (materialize next to the id, drop the vector,
    * and the index is m longs per row). One narrow codegen'd
    * projection: m × ksub dots per row, no shuffle.
    */
  def pqCodes(emb: DataFrame, codebook: Array[(Long, Array[Float])], m: Int,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val dim = codebook.headOption.map(_._2.length)
      .getOrElse(throw new IllegalArgumentException("empty PQ codebook"))
    require(m >= 1 && dim % m == 0, s"dim=$dim not divisible by m=$m subspaces")
    // the assignment is ONE literal projection of m x ksub argmin
    // structs; past ~512 terms janino rejects the generated method
    // (measured: 8 x 64 compiles, 8 x 128 does not). Fail loudly with
    // the remedy instead of a 200-line codegen stack trace.
    require(m * codebook.length <= 512,
      s"m=$m x ksub=${codebook.length} exceeds the literal-expression " +
        "code path's ~512-term codegen budget; shrink the codebook or " +
        "assign codes via an exploded codebook join")
    val subDim = dim / m
    emb.select(col(idCol),
      array((0 until m).map(s => codeOf(col(vecCol), s, subDim, codebook)): _*)
        .as("codes"))
  }

  /** The ADC score expression over a `codes` column: per subspace, a
    * literal map (code id -> driver-computed dot of the query's
    * subvector with that codeword, in ascending-index double
    * accumulation — the list_dot_product order), the m lookups summed
    * LEFT TO RIGHT (fixed association order, so the double is
    * reproducible engine-to-engine — the oracle parenthesizes
    * identically). No shuffle, no join: the tables ride in the
    * expression.
    */
  private def adcScore(qVec: Array[Float],
      codebook: Array[(Long, Array[Float])], m: Int, subDim: Int): Column = {
    def adc(s: Int, cw: Array[Float]): Double = {
      var acc = 0.0; var i = 0
      while (i < subDim) {
        acc += qVec(s * subDim + i).toDouble * cw(s * subDim + i); i += 1
      }
      acc
    }
    (0 until m).map { s =>
      val kv = codebook.flatMap { case (cid, full) =>
        Seq(lit(cid), lit(adc(s, full)))
      }
      element_at(map(kv.toSeq: _*), element_at(col("codes"), s + 1))
    }.reduce(_ + _)
  }

  /** PQ-ADC top-k for `queryId`: codes assigned, then each candidate
    * scored by [[adcScore]]'s m table lookups.
    */
  def pqTopK(emb: DataFrame, queryId: Long, k: Int = 10, m: Int = 8,
      ksub: Int = 16,
      idCol: String = "vec_id", vecCol: String = "embedding",
      knownCount: Option[Long] = None): DataFrame = {
    val codebook = Similarity.sampleCentroids(emb, ksub, idCol, vecCol,
      knownCount)
    val dim = codebook.head._2.length
    require(m >= 1 && dim % m == 0, s"dim=$dim not divisible by m=$m subspaces")
    val subDim = dim / m
    val qRow = emb.where(col(idCol) === queryId)
      .select(col(vecCol)).collect().headOption
    if (qRow.isEmpty)
      return emb.select(col(idCol), lit(null).cast("double").as("qscore"))
        .where(lit(false))
    val qVec = qRow.get.getSeq[Float](0).toArray
    pqCodes(emb, codebook, m, idCol, vecCol)
      .where(col(idCol) =!= queryId)
      .select(col(idCol), adcScore(qVec, codebook, m, subDim).as("qscore"))
      .orderBy(col("qscore").desc, col(idCol).asc)
      .limit(k)
  }

  /** IVF + scalar quantization — the OTHER compression composed with
    * cell probing (completing the {flat, PQ, int8} × IVF matrix next
    * to [[Similarity.ivfTopKWith]] and [[ivfPqTopK]]): probe
    * nprobe/nlist cells, score only those candidates by the exact
    * INTEGER dot of their int8 codes against the quantized query.
    * Corpus-range quantization runs once (the index-build pass — at
    * scale the qvec column is materialized next to the cell id and
    * the float vectors never load at query time); scoring is the
    * codegen'd [[intDot]], and the BIGINT scores make the ranking
    * engine-exact like [[quantizedTopK]]'s.
    */
  def ivfQuantizedTopK(emb: DataFrame, queryId: Long, k: Int = 10,
      nlist: Int = 16, nprobe: Int = 4,
      idCol: String = "vec_id", vecCol: String = "embedding",
      knownCount: Option[Long] = None): DataFrame = {
    val centroids = Similarity.sampleCentroids(emb, nlist, idCol, vecCol,
      knownCount)
    val qRow = emb.where(col(idCol) === queryId)
      .select(col(vecCol)).collect().headOption
    if (qRow.isEmpty)
      return emb.select(col(idCol), lit(null).cast("long").as("qscore"))
        .where(lit(false))
    val qVec = qRow.get.getSeq[Float](0).toArray
    val probeCells = Similarity.probeCellsFor(centroids, qVec, nprobe)
    // quantize over the WHOLE corpus ranges (the index-build contract:
    // codes are corpus-calibrated, not probe-set-calibrated), then
    // prune to the probed cells for scoring. Persisted (the
    // quantizedTopK discipline): the query-qvec broadcast below and
    // the scoring scan otherwise EACH re-run the corpus-wide min/max
    // range aggregation embedded in quantized() — a doubled full
    // corpus pass at scale.
    val q = graft.operators.SessionCache.cut(quantized(emb, vecCol)
      .select(col(idCol), col(vecCol), col("qvec")))
    val queryQvec = q.where(col(idCol) === queryId)
      .select(col("qvec").as("query_qvec"))
    Similarity.assignCells(q, centroids, vecCol)
      .where(col("__cell").isin(probeCells: _*) && col(idCol) =!= queryId)
      .drop("__cell")
      .crossJoin(broadcast(queryQvec))
      .select(col(idCol), intDot(col("qvec"), col("query_qvec")).as("qscore"))
      .orderBy(col("qscore").desc, col(idCol).asc)
      .limit(k)
  }

  /** IVF + PQ — the two scale axes composed, which is what a 100 TB
    * ANN deployment actually runs (FAISS's IVFPQ shape): IVF cell
    * probing cuts the CANDIDATE SET to nprobe/nlist of the corpus,
    * PQ-ADC cuts the PER-CANDIDATE cost to m table lookups. Cells and
    * codebooks both come from the same md5-strided deterministic
    * sample ([[Similarity.sampleCentroids]] — with nlist == ksub they
    * share one sample); candidates outside the probed cells are never
    * code-assigned or scored.
    *
    * Scoring and tie-breaks are exactly [[pqTopK]]'s; the only
    * difference is the probe filter in front. At nprobe == nlist the
    * result IS pqTopK's (spec-pinned).
    */
  def ivfPqTopK(emb: DataFrame, queryId: Long, k: Int = 10,
      nlist: Int = 16, nprobe: Int = 4, m: Int = 8, ksub: Int = 16,
      idCol: String = "vec_id", vecCol: String = "embedding",
      knownCount: Option[Long] = None): DataFrame = {
    // both samples stride off the same n — count at most once
    val n = knownCount.orElse(
      if (ksub == nlist) None else Some(emb.count()))
    val centroids = Similarity.sampleCentroids(emb, nlist, idCol, vecCol, n)
    val codebook =
      if (ksub == nlist) centroids
      else Similarity.sampleCentroids(emb, ksub, idCol, vecCol, n)
    val dim = codebook.head._2.length
    require(m >= 1 && dim % m == 0, s"dim=$dim not divisible by m=$m subspaces")
    val subDim = dim / m
    val qRow = emb.where(col(idCol) === queryId)
      .select(col(vecCol)).collect().headOption
    if (qRow.isEmpty)
      return emb.select(col(idCol), lit(null).cast("double").as("qscore"))
        .where(lit(false))
    val qVec = qRow.get.getSeq[Float](0).toArray
    val probeCells = Similarity.probeCellsFor(centroids, qVec, nprobe)
    val candidates = Similarity.assignCells(emb, centroids, vecCol)
      .where(col("__cell").isin(probeCells: _*) && col(idCol) =!= queryId)
      .drop("__cell")
    pqCodes(candidates, codebook, m, idCol, vecCol)
      .select(col(idCol), adcScore(qVec, codebook, m, subDim).as("qscore"))
      .orderBy(col("qscore").desc, col(idCol).asc)
      .limit(k)
  }

  /** ADC-shortlist → EXACT rerank — the standard PQ deployment
    * composition (and the honest answer to PQ's code-granularity
    * resolution limit, measured in the BASELINE round-11 recall
    * curves: recall@10 floors near k/cluster-size because whole
    * clusters tie on identical codes, while the top-`shortlist` ADC
    * candidates cover the true top-k at ~1.0): take the `shortlist`
    * best by ADC score (m table lookups per candidate — the cheap
    * pass over everything), then score ONLY those with the exact
    * float cosine and return the true top-k of the shortlist.
    * Same tie-breaks as [[pqTopK]] / the brute-force path, so the
    * p112 oracle replays both stages exactly.
    */
  def pqRerankTopK(emb: DataFrame, queryId: Long, k: Int = 10,
      shortlist: Int = 50, m: Int = 8, ksub: Int = 16,
      idCol: String = "vec_id", vecCol: String = "embedding",
      knownCount: Option[Long] = None): DataFrame = {
    val sl = pqTopK(emb, queryId, shortlist, m, ksub, idCol, vecCol,
      knownCount).select(col(idCol))
    val q = emb.where(col(idCol) === queryId)
      .select(col(vecCol).as("__q"))
    emb.join(broadcast(sl), Seq(idCol), "left_semi")
      .crossJoin(broadcast(q))
      .select(col(idCol),
        Similarity.rankCosine(col(vecCol), col("__q")).as("cosine"))
      .orderBy(col("cosine").desc, col(idCol).asc)
      .limit(k)
  }

  /** [[ivfPqTopK]] + exact rerank — the COMPLETE production ANN
    * serving shape (FAISS `IVFPQ + refine`): IVF probing cuts the
    * candidate set, PQ-ADC cuts per-candidate cost to m lookups, and
    * the exact-cosine rerank of the top-`shortlist` ADC candidates
    * restores full-precision ranking — the three-stage composition
    * the round-11 recall curves justify stage by stage (shortlist
    * coverage ~1.0 where recall@10 floors at code granularity).
    * Tie-breaks match [[pqRerankTopK]] / the brute-force path.
    */
  def ivfPqRerankTopK(emb: DataFrame, queryId: Long, k: Int = 10,
      shortlist: Int = 50, nlist: Int = 16, nprobe: Int = 4,
      m: Int = 8, ksub: Int = 16,
      idCol: String = "vec_id", vecCol: String = "embedding",
      knownCount: Option[Long] = None): DataFrame = {
    val sl = ivfPqTopK(emb, queryId, shortlist, nlist, nprobe, m, ksub,
      idCol, vecCol, knownCount).select(col(idCol))
    val q = emb.where(col(idCol) === queryId)
      .select(col(vecCol).as("__q"))
    emb.join(broadcast(sl), Seq(idCol), "left_semi")
      .crossJoin(broadcast(q))
      .select(col(idCol),
        Similarity.rankCosine(col(vecCol), col("__q")).as("cosine"))
      .orderBy(col("cosine").desc, col(idCol).asc)
      .limit(k)
  }

  /** L2-normalize an embedding column — the "normalize, then index"
    * step of a cosine-metric ANN deployment: after it, inner product
    * EQUALS cosine, so dot-approximating indexes (PQ-ADC) rank by the
    * intended metric. Zero vectors pass through unchanged (they can
    * win nothing under either metric). Cosine itself is norm-
    * invariant, so ground truth computed before or after agrees.
    */
  def l2Normalize(emb: DataFrame, vecCol: String = "embedding"): DataFrame = {
    val n = Similarity.norm(col(vecCol))
    emb.withColumn(vecCol,
      when(n > 0, expr(s"transform($vecCol, x -> CAST(x / " +
        s"sqrt(aggregate($vecCol, CAST(0.0 AS DOUBLE), " +
        s"(acc, y) -> acc + CAST(y AS DOUBLE) * CAST(y AS DOUBLE))) AS FLOAT))"))
        .otherwise(col(vecCol)))
  }

  /** Batched PQ-ADC search for a PINNED query set — the recall-curve
    * / eval harness shape (one corpus coding pass serves every
    * query; [[pqTopK]] is the single-query serving path). The m x
    * ksub x Q distance tables compute driver-side (tiny — the ADC
    * precompute) and ride a broadcast; scoring is one
    * posexplode-join-sum over the coded corpus with map-side partial
    * aggregation, so the exchange carries (query, id, partial-sum)
    * rows, never vectors. Returns (query_id, vec_id, qscore, rank)
    * rows for rank <= k, ties broken by vec_id ascending.
    */
  def pqSearchAll(emb: DataFrame, queries: DataFrame, k: Int = 10,
      m: Int = 8, ksub: Int = 16,
      idCol: String = "vec_id", vecCol: String = "embedding",
      qidCol: String = "query_id", qvecCol: String = "query_vec",
      knownCount: Option[Long] = None): DataFrame = {
    val spark = emb.sparkSession
    import spark.implicits._
    val codebook = Similarity.sampleCentroids(emb, ksub, idCol, vecCol,
      knownCount)
    val dim = codebook.head._2.length
    require(m >= 1 && dim % m == 0, s"dim=$dim not divisible by m=$m subspaces")
    val subDim = dim / m
    // bounded by contract: the pinned eval query batch
    val qRows = queries.select(col(qidCol), col(qvecCol)).collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray)
    val tables = qRows.flatMap { case (qid, qVec) =>
      codebook.flatMap { case (cid, cw) =>
        (0 until m).map { s =>
          var acc = 0.0; var i = 0
          while (i < subDim) {
            acc += qVec(s * subDim + i).toDouble * cw(s * subDim + i); i += 1
          }
          (qid, s, cid, acc)
        }
      }
    }.toSeq.toDF("query_id", "__s", "__cid", "__part")
    val wRank = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id"))
      .orderBy(col("qscore").desc, col(idCol).asc)
    pqCodes(emb, codebook, m, idCol, vecCol)
      .select(col(idCol), posexplode(col("codes")).as(Seq("__s", "__cid")))
      .join(broadcast(tables), Seq("__s", "__cid"))
      .groupBy(col("query_id"), col(idCol))
      .agg(sum(col("__part")).as("qscore"))
      .where(col(idCol) =!= col("query_id"))
      .withColumn("rank", row_number().over(wRank))
      .where(col("rank") <= k)
  }

  /** Batched int8 search for a pinned query set — the recall-eval
    * sibling of [[quantizedTopK]]: corpus-range quantization runs
    * ONCE, the queries' own int8 codes come from the same calibration
    * (the index-build contract), and every (query, corpus) pair
    * scores by QUANTIZED COSINE — integer dot over integer norms, the
    * metric-matched comparison against a cosine ground truth (raw
    * dot would conflate quantization error with the dot-vs-cosine
    * metric gap). All three dots are exact BIGINTs; only the final
    * ratio is floating. Brute force over codes — the int8 recall
    * baseline; compose with IVF ([[ivfQuantizedTopK]]) for the
    * probed deployment path.
    */
  def quantizedSearchAll(emb: DataFrame, queries: DataFrame, k: Int = 10,
      idCol: String = "vec_id", vecCol: String = "embedding",
      qidCol: String = "query_id", qvecCol: String = "query_vec"): DataFrame = {
    val ranges = rangeArrays(emb, vecCol)
    val q = emb.crossJoin(broadcast(ranges))
      .withColumn("qvec", quantizeExpr(col(vecCol), col("los"), col("his")))
      .select(col(idCol), col("qvec"))
    val queryQ = queries.crossJoin(broadcast(ranges))
      .withColumn("query_qvec",
        quantizeExpr(col(qvecCol), col("los"), col("his")))
      .select(col(qidCol), col("query_qvec"))
    val wRank = org.apache.spark.sql.expressions.Window
      .partitionBy(col(qidCol))
      .orderBy(col("qscore").desc, col(idCol).asc)
    val num = intDot(col("qvec"), col("query_qvec")).cast("double")
    val den = sqrt(intDot(col("qvec"), col("qvec")).cast("double")) *
      sqrt(intDot(col("query_qvec"), col("query_qvec")).cast("double"))
    q.crossJoin(broadcast(queryQ))
      .where(col(idCol) =!= col(qidCol))
      .select(col(qidCol), col(idCol),
        when(den > 0, num / den)
          .otherwise(lit(Double.NegativeInfinity)).as("qscore"))
      .withColumn("rank", row_number().over(wRank))
      .where(col("rank") <= k)
  }
}
