package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Similarity search over an embedding column (Array[Float]).
  *
  * Two paths:
  *  - brute-force cosine top-k: exact, one scan, no shuffle besides
  *    the final TakeOrdered — the correct baseline and the oracle.
  *  - sign-LSH (random hyperplanes): hash every vector to an n-bit
  *    bucket; queries only score their own bucket. Candidate cost
  *    drops ~2^bits-fold; recall is tunable by bits / multi-probe.
  *    Hyperplanes are pseudo-random Rademacher vectors derived from
  *    md5("plane:bit:dim-index") — fully deterministic, no state to
  *    ship, and derivable in any language/engine with an md5
  *    implementation (the gate oracles embed them as literal arrays).
  *
  * All dot products are computed in double precision by a native
  * Catalyst expression with codegen
  * ([[graft.functions.FloatVectorDot]]) — higher-order functions are
  * interpreted and too slow for the pair-scoring inner loop.
  */
object Similarity {

  /** Double-precision dot product of two float-array columns
    * (codegen'd native expression; sequential accumulation, matching
    * the DuckDB oracle's DOUBLE[] dot product).
    */
  def dot(a: Column, b: Column): Column =
    graft.functions.VectorFunctions.vecDot(a, b)

  def norm(a: Column): Column = sqrt(dot(a, a))

  def cosine(a: Column, b: Column): Column =
    dot(a, b) / (norm(a) * norm(b))

  /** Cosine for RANKING: NULL (instead of NaN) when either side has
    * zero norm. Spark orders NaN GREATEST, so a single all-zero
    * vector in the corpus would otherwise TOP every `orderBy(cosine
    * desc)` top-k with its 0/0 score; NULL sorts last under desc.
    * Used by every top-k scorer; [[cosine]] stays the raw definition
    * (the gate corpora are well-formed, so the oracles are
    * unaffected either way).
    */
  private[pipeline] def rankCosine(a: Column, b: Column): Column =
    when(norm(a) > 0 && norm(b) > 0, cosine(a, b))

  /** Exact top-k by cosine against the query vector (the row of
    * `queryId`). The query side is a 1-row broadcast; the scan side
    * never shuffles — TakeOrdered keeps only k rows per partition.
    */
  def bruteForceTopK(emb: DataFrame, queryId: Long, k: Int,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val q = emb.where(col(idCol) === queryId)
      .select(col(vecCol).as("__q"))
    emb.where(col(idCol) =!= queryId)
      .crossJoin(broadcast(q))
      .select(col(idCol),
        rankCosine(col(vecCol), col("__q")).as("cosine"))
      .orderBy(col("cosine").desc, col(idCol).asc)
      .limit(k)
  }

  /** Deterministic Rademacher hyperplane for bit `b` over `dim`
    * dimensions: component i is the low bit of the first byte of
    * md5("plane:b:i") folded to {-1f, +1f}, computed once on the
    * DRIVER — no model to store or ship, and any engine/language can
    * re-derive the exact planes from its own md5 (`private[graft]`
    * so the gate oracles embed the same values as SQL literals).
    */
  private[graft] def plane(b: Int, dim: Int): Array[Float] = {
    val digest = java.security.MessageDigest.getInstance("MD5")
    Array.tabulate(dim) { i =>
      val h = digest.digest(s"plane:$b:$i".getBytes("UTF-8"))
      if ((h(0) & 1) == 1) 1.0f else -1.0f
    }
  }

  /** n-bit sign-LSH bucket id for a vector column of dimension `dim`.
    *
    * Bucket assignment runs over the WHOLE corpus, so the projection
    * must be codegen'd: each hyperplane is a literal `array<float>`
    * built on the driver and dotted with the row vector by the native
    * [[graft.functions.FloatVectorDot]] (tight primitive loop inside
    * whole-stage codegen). The previous formulation — an interpreted
    * `aggregate(zip_with(...))` fold per row x bit — was the scan
    * bottleneck at scale. Plane components are ±1.0 (exact in float),
    * so the per-bit projection is bit-identical to the old fold:
    * same products, same sequential double accumulation.
    *
    * Vectors whose length differs from `dim` (malformed embeddings —
    * a broken encoder emitting truncated or empty vectors) get a NULL
    * bucket, i.e. they are QUARANTINED: every bucket join drops them
    * rather than piling them into a shared default bucket that would
    * become an all-pairs hot spot at corpus scale. (NULL vectors also
    * yield NULL — `size(NULL)` is NULL, never equal to `dim`.)
    */
  def lshBucket(vec: Column, bits: Int = 8, dim: Int = 64): Column = {
    val bitCols = (0 until bits).map { b =>
      val planeCol = array(plane(b, dim).toSeq.map(lit(_)): _*).cast("array<float>")
      val proj = dot(vec, planeCol)
      when(proj > 0, shiftleft(lit(1L), b)).otherwise(lit(0L))
    }
    when(size(vec) === dim, bitCols.reduce(_.bitwiseOR(_)))
  }

  /** Embedding dimensionality for plan-time plane construction: the
    * MODAL (most common) vector length — a deterministic aggregate
    * over at most a handful of distinct lengths. Max() would let ONE
    * over-length corrupt row quarantine the entire corpus, and an
    * unordered limit(1) probe would make every bucket
    * nondeterministic across runs (and NPE on a null first row); the
    * mode quarantines whichever lengths are the minority, long or
    * short. Ties break to the larger length, deterministically.
    * Empty / all-NULL corpus → 1 (nothing will be bucketed anyway).
    *
    * Discovery is a full-corpus aggregation, so every LSH entry point
    * takes an explicit `dim: Option[Int]` and only falls back to this
    * scan when the caller doesn't know the dimensionality — at 100 TB
    * an avoidable extra pass per operator call is real money, and
    * production embedding tables have a known, fixed dim.
    */
  private def dimOf(emb: DataFrame, vecCol: String): Int =
    emb.groupBy(size(col(vecCol)).as("d")).agg(count(lit(1)).as("n"))
      .where(col("d").isNotNull && col("d") >= 1)
      .orderBy(col("n").desc, col("d").desc).limit(1)
      .collect().headOption.map(_.getInt(0)).getOrElse(1)

  private def resolveDim(dim: Option[Int], emb: DataFrame, vecCol: String): Int = {
    dim.foreach(d => require(d >= 1, s"dim=$d must be >= 1"))
    dim.getOrElse(dimOf(emb, vecCol))
  }

  /** ANN top-k: score only vectors in the query's LSH bucket(s).
    * Exact within the probed set; recall < 1 by construction (the
    * scale path — at 100 TB the bucket column is a partition key and
    * a query touches probes/2^bits of the corpus).
    *
    * `probes` > 1 enables MULTI-PROBE: also score the buckets whose
    * code differs from the query's in one bit — the near-miss buckets
    * where a near-neighbor that straddles one hyperplane lands.
    * Standard recall lever: probing 1+bits buckets recovers most of
    * the loss of a larger `bits` without re-hashing the corpus. The
    * probe set is built on the BROADCAST side (explode of <= 1+bits
    * bucket ids per query); the corpus side is untouched — still one
    * scan, no shuffle.
    */
  def lshTopK(emb: DataFrame, queryId: Long, k: Int, bits: Int = 8,
      probes: Int = 1,
      idCol: String = "vec_id", vecCol: String = "embedding",
      dim: Option[Int] = None): DataFrame = {
    require(probes >= 1 && probes <= 1 + bits,
      s"probes=$probes outside [1, 1+bits=${1 + bits}]: single-bit " +
        "multi-probe offers the exact bucket plus one flip per bit")
    val bucketed = emb.withColumn("__bucket",
      lshBucket(col(vecCol), bits, resolveDim(dim, emb, vecCol)))
    // probe buckets: the query's own code, then one-bit flips (flip
    // order = bit order; a flip of bit i toggles 2^i in the code)
    val flips = lit(0L) +: (0 until (probes - 1)).map(b => shiftleft(lit(1L), b))
    val q = bucketed.where(col(idCol) === queryId)
      .select(col(vecCol).as("__q"),
        explode(array(flips.map(f => col("__bucket").bitwiseXOR(f)): _*))
          .as("__bucket"))
    bucketed.where(col(idCol) =!= queryId)
      .join(broadcast(q), Seq("__bucket"))
      .select(col(idCol),
        rankCosine(col(vecCol), col("__q")).as("cosine"))
      .orderBy(col("cosine").desc, col(idCol).asc)
      .limit(k)
  }

  /** IVF-Flat ANN: partition the corpus into `nlist` cells around
    * centroid vectors, probe only the `nprobe` cells nearest the
    * query, score those exactly. The other standard ANN scale path
    * next to sign-LSH: at 100 TB the cell id is a partition key and a
    * query reads nprobe/nlist of the corpus.
    *
    * Centroids here are `nlist` deterministic corpus samples (evenly
    * strided by id — k-means would tighten cells but adds an iterative
    * training job; the assignment/probe machinery is identical).
    * Assignment = argmax cosine over the broadcast centroid list,
    * computed with the codegen'd [[graft.functions.FloatVectorDot]].
    */
  private def centroidCol(c: Array[Float]): Column =
    array(c.toSeq.map(v => lit(v)): _*).cast("array<float>")

  /** Cell assignment: argmax cosine over the centroid list, as
    * array_max over (score, cid) structs — each centroid term appears
    * ONCE in the expression tree. (A when/otherwise reduce would
    * duplicate both branches at every level: 2^nlist expression
    * nodes, OOM at codegen.) The row-side norm |v| is constant across
    * centroids, so argmax cosine = argmax dot/|c| — |c| folds to a
    * driver-computed literal and the row cost is nlist codegen'd dots.
    *
    * A ZERO-NORM (all-zero) centroid scores -Infinity instead of
    * dot/0: division by a zero norm is NaN, and Spark's ordering
    * ranks NaN GREATEST — one degenerate sampled centroid would
    * swallow the whole corpus into its cell while the driver-side
    * probe ranked that same cell last. With -Inf (mirrored in
    * [[cosDriver]]) a degenerate centroid wins nothing unless every
    * centroid is degenerate, where the cid tie-break stays consistent
    * between assignment and probing.
    */
  private def bestOf(vec: Column, centroids: Array[(Long, Array[Float])]): Column =
    array_max(array(centroids.map { case (cid, c) =>
      val cNorm = math.sqrt(c.map(x => x.toDouble * x).sum)
      val score =
        if (cNorm == 0) lit(Double.NegativeInfinity)
        else dot(vec, centroidCol(c)) / lit(cNorm)
      struct(score.as("score"), lit(cid).as("cid"))
    }: _*))

  private[pipeline] def cellOf(vec: Column, centroids: Array[(Long, Array[Float])]): Column =
    bestOf(vec, centroids).getField("cid")

  /** Scalar budget for inlining centroids into the expression tree.
    * [[bestOf]] compiles nlist x dim Float literals plus one codegen'd
    * dot-loop per centroid into the generated method — unbeatable at
    * gate scale (no join, pure codegen), but past JIT/method-size
    * limits at a production nlist (1024-4096) x dim (768+), where
    * codegen degrades to interpreted over a megabyte constant pool.
    * Above this budget, assignment switches to [[withBestCentroid]]'s
    * broadcast shape: the centroids ride as DATA (a 1-row broadcast of
    * the packed centroid array), scored by an array_max over a
    * transform lambda. The lambda is interpreted (HOFs don't codegen),
    * but each term is still the native [[graft.functions.FloatVectorDot]]
    * eval — and there is no generated-code cliff at any nlist.
    * 16384 = the gate shapes (16x8, 16x64, 300x8-ish) stay inline;
    * 1024x768 goes broadcast.
    */
  private[pipeline] val InlineCentroidScalars = 16384L

  /** `df` + `outCol` = the winning `struct(score, cid)` over
    * `centroids` — inline-literal codegen below the
    * [[InlineCentroidScalars]] budget, broadcast-data above it. BOTH
    * paths compute the identical score (dot/|c|, zero-norm centroid =
    * -Infinity) with the identical array_max tie-break (equal scores
    * prefer the larger cid), so a threshold crossing can never change
    * an assignment — spec-pinned by forcing `inlineLimit` both ways.
    */
  private[pipeline] def withBestCentroid(df: DataFrame,
      centroids: Array[(Long, Array[Float])], vecCol: String,
      outCol: String,
      inlineLimit: Long = InlineCentroidScalars): DataFrame = {
    val scalars = centroids.length.toLong *
      centroids.headOption.map(_._2.length).getOrElse(0)
    if (scalars <= inlineLimit)
      df.withColumn(outCol, bestOf(col(vecCol), centroids))
    else {
      val s = df.sparkSession
      import s.implicits._
      val centDf = centroids.toSeq.toDF("__cid", "__c")
        .select(struct(col("__cid").as("cid"),
          col("__c").cast("array<float>").as("c")).as("__ce"))
        .agg(collect_list(col("__ce")).as("__cents"))
      df.crossJoin(broadcast(centDf))
        .withColumn(outCol, array_max(transform(col("__cents"), ce =>
          struct(
            // the norm(c) guard is bestOf's zero-norm rule; the
            // division by norm(c) instead of a driver literal is
            // bit-identical (FloatVectorDot accumulates in the same
            // index order as the driver-side sum)
            when(norm(ce("c")) > 0,
              dot(col(vecCol), ce("c")) / norm(ce("c")))
              .otherwise(lit(Double.NegativeInfinity)).as("score"),
            ce("cid").as("cid")))))
        .drop("__cents")
    }
  }

  /** `df` + `cellCol` = each row's assigned cell id — the scale-safe
    * front door for every assignment site (index build, k-means
    * iteration, batch search, IVF-filtered quantized scoring).
    */
  def assignCells(df: DataFrame,
      centroids: Array[(Long, Array[Float])], vecCol: String,
      cellCol: String = "__cell",
      inlineLimit: Long = InlineCentroidScalars): DataFrame = {
    val tmp = "__best_" + cellCol
    withBestCentroid(df, centroids, vecCol, tmp, inlineLimit)
      .withColumn(cellCol, col(tmp).getField("cid"))
      .drop(tmp)
  }

  /** Driver-side cosine for probe selection — sequential
    * accumulation, identical to the distributed FloatVectorDot path;
    * zero-norm inputs score -Infinity (the [[cellOf]] degenerate-
    * centroid rule). Shared by both IVF probe paths so the
    * tie-break-sensitive ordering has ONE definition.
    */
  private def cosDriver(a: Array[Float], b: Array[Float]): Double = {
    var d = 0.0; var na = 0.0; var nb = 0.0
    var i = 0
    while (i < math.min(a.length, b.length)) {
      d += a(i).toDouble * b(i); na += a(i).toDouble * a(i); nb += b(i).toDouble * b(i)
      i += 1
    }
    if (na == 0 || nb == 0) Double.NegativeInfinity
    else d / (math.sqrt(na) * math.sqrt(nb))
  }

  /** The nprobe cells nearest the query — tie-break MUST match cell
    * assignment's array_max (lexicographic (score, cid): equal scores
    * prefer the larger cid). Duplicate centroid vectors otherwise
    * send rows to one cell while the probe picks the other, silently
    * emptying the result.
    */
  private[pipeline] def probeCellsFor(centroids: Array[(Long, Array[Float])],
      queryVec: Array[Float], nprobe: Int): Array[Long] =
    centroids.sortBy { case (cid, c) => (-cosDriver(queryVec, c), -cid) }
      .take(nprobe).map(_._1)

  /** Deterministic hash-spread sample as initial centroids: filter to
    * ~1/nlist of ids by hash bucket, collect AT MOST nlist rows —
    * never the corpus id column (an O(corpus) driver collect would
    * OOM at scale). The spread variate is 32 md5 bits of the id
    * (`('0x'||substr(md5(id||'/ivf'),1,8))::BIGINT` in the oracle's
    * dialect), so another engine selects the exact same centroid set.
    *
    * `knownCount`: the stride needs the corpus size; without it this
    * pays ONE extra corpus pass (`emb.count()`) per index build — at
    * 100 TB a real cost. An index builder almost always already knows
    * n (it just wrote/counted the corpus, or a pipeline stage ahead
    * of it did); pass it and the count job disappears. The sampled
    * set is identical either way (the stride is a pure function of
    * n), so oracles don't move.
    */
  def sampleCentroids(emb: DataFrame, nlist: Int,
      idCol: String = "vec_id", vecCol: String = "embedding",
      knownCount: Option[Long] = None): Array[(Long, Array[Float])] = {
    val n = knownCount.getOrElse(emb.count())
    val bucket = math.max(1L, n / nlist)
    def centroidRows(df: DataFrame) = df
      .orderBy(col(idCol)).limit(nlist)
      .select(col(idCol), col(vecCol)).collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray)
    val spread = conv(substring(
      md5(concat(col(idCol).cast("string"), lit("/ivf"))), 1, 8), 16, 10).cast("long")
    val sampled = centroidRows(emb.where(pmod(spread, lit(bucket)) === 0))
    // hash variance on tiny corpora can select nothing — fall back to
    // the first nlist ids
    if (sampled.nonEmpty) sampled else centroidRows(emb)
  }

  /** Lloyd's k-means refinement of the IVF centroids — tightens cells
    * so nprobe probing recalls more at the same cost. Each iteration
    * is two distributed jobs: assign every vector to its nearest
    * centroid (nlist codegen'd dots per row against broadcast literal
    * centroids — the same [[cellOf]] the query path uses), then
    * recompute each centroid as the element-wise mean via
    * posexplode + groupBy (cell, dim). Driver traffic per iteration
    * is exactly nlist x dim aggregated rows — independent of corpus
    * size. Cells that lose all members keep their previous centroid
    * (the standard empty-cluster fallback).
    */
  def kmeansCentroids(emb: DataFrame, nlist: Int = 16, iters: Int = 3,
      idCol: String = "vec_id", vecCol: String = "embedding",
      knownCount: Option[Long] = None): Array[(Long, Array[Float])] = {
    var centroids = sampleCentroids(emb, nlist, idCol, vecCol, knownCount)
    for (_ <- 0 until iters) {
      val means = assignCells(emb, centroids, vecCol)
        .select(col("__cell"),
          posexplode(col(vecCol)).as(Seq("__d", "__x")))
        .groupBy(col("__cell"), col("__d"))
        .agg(avg(col("__x")).as("__m"))
        .collect()
        .groupBy(_.getLong(0))
        .map { case (cid, rows) =>
          val dim = rows.map(_.getInt(1)).max + 1
          val m = new Array[Float](dim)
          rows.foreach(r => m(r.getInt(1)) = r.getDouble(2).toFloat)
          cid -> m
        }
      centroids = centroids.map { case (cid, old) =>
        cid -> means.getOrElse(cid, old)
      }
    }
    centroids
  }

  /** IVF-Flat ANN top-k over precomputed centroids (from
    * [[sampleCentroids]] or [[kmeansCentroids]] — at 100 TB train
    * once, reuse across queries; the cell id becomes the partition
    * key of a materialized index table).
    */
  def ivfTopKWith(emb: DataFrame, centroids: Array[(Long, Array[Float])],
      queryId: Long, k: Int, nprobe: Int,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val celled = assignCells(emb, centroids, vecCol)
    val q = emb.where(col(idCol) === queryId).select(col(vecCol).as("__q"))
    // a missing query id returns an EMPTY result like
    // bruteForceTopK/lshTopK do, not a driver crash
    val qRow = q.collect().headOption
    if (qRow.isEmpty)
      return emb.select(col(idCol), lit(null).cast("double").as("cosine"))
        .where(lit(false))
    val qVec = qRow.get.getSeq[Float](0).toArray
    // probe cells: nprobe centroids nearest the query (driver-side —
    // the centroid list is tiny)
    val probeCells = probeCellsFor(centroids, qVec, nprobe)
    celled
      .where(col("__cell").isin(probeCells: _*) && col(idCol) =!= queryId)
      .crossJoin(broadcast(q))
      .select(col(idCol), rankCosine(col(vecCol), col("__q")).as("cosine"))
      .orderBy(col("cosine").desc, col(idCol).asc)
      .limit(k)
  }

  /** IVF-Flat ANN: partition the corpus into `nlist` cells around
    * centroid vectors, probe only the `nprobe` cells nearest the
    * query, score those exactly. The other standard ANN scale path
    * next to sign-LSH: at 100 TB the cell id is a partition key and a
    * query reads nprobe/nlist of the corpus. `refineIters` > 0 runs
    * that many Lloyd's k-means iterations over the sampled seeds
    * first ([[kmeansCentroids]]) — tighter cells, better recall per
    * probe.
    */
  def ivfTopK(emb: DataFrame, queryId: Long, k: Int, nlist: Int = 16,
      nprobe: Int = 4, refineIters: Int = 0,
      idCol: String = "vec_id", vecCol: String = "embedding",
      knownCount: Option[Long] = None): DataFrame = {
    val centroids =
      if (refineIters > 0)
        kmeansCentroids(emb, nlist, refineIters, idCol, vecCol, knownCount)
      else sampleCentroids(emb, nlist, idCol, vecCol, knownCount)
    ivfTopKWith(emb, centroids, queryId, k, nprobe, idCol, vecCol)
  }

  /** Materialize an IVF index: the corpus written as parquet
    * PARTITIONED BY its cell id. This is the claim "at 100 TB the
    * cell id is a partition key" as code — a probe query's
    * `__cell IN (...)` filter prunes at the directory level, so a
    * query READS nprobe/nlist of the corpus from storage (not just
    * scores that fraction after a full scan). Train centroids once
    * ([[sampleCentroids]] / [[kmeansCentroids]]), write once, serve
    * many queries against the same index + centroid list.
    *
    * The index is a [[graft.sources.BatchTable]] ([[ivfIndex]]), like
    * [[graft.pipeline.Dedup.writeLshIndex]]'s: every write lands under
    * a `batch=<batchId>` subdirectory so incremental ingest
    * ([[appendToIvfIndex]]) adds new embeddings without rewriting the
    * corpus, and a RETRIED write (at-least-once orchestration)
    * overwrites its own batch rather than doubling rows — doubled rows
    * would surface as duplicate ids in every top-k. A fresh index
    * CLEARS the whole index and its tombstones first: stale files from
    * a previous run would otherwise silently pollute every read, and a
    * rebuilt index re-admits every row it is built from.
    */
  def writeIvfIndex(emb: DataFrame, centroids: Array[(Long, Array[Float])],
      path: String, vecCol: String = "embedding",
      batchId: String = "base"): Unit = {
    ivfIndex(path).fresh(emb.sparkSession)
    writeIvfBatch(emb, centroids, path, vecCol, batchId)
  }

  /** Add a new embedding batch into an existing [[writeIvfIndex]]
    * index WITHOUT retraining or rewriting: assign the batch to the
    * EXISTING centroid list (the index's cell geometry must not move
    * under already-written rows — a centroid that shifts would strand
    * them in cells the probe no longer checks) and write it under its
    * own `batch=<batchId>` subdir. Re-running the same batchId is
    * idempotent (directory overwrite); the rest of the index is
    * untouched. Daily maintenance cost scales with the batch, not the
    * corpus.
    *
    * Appending does NOT retrain, so the cells fit the new data only
    * as well as the old centroids do — run [[ivfAssignmentQuality]]
    * on each batch and compare against the base corpus's quality row
    * (the drift guard): a falling mean assigned-cosine means the
    * embedding distribution has moved and the index wants a retrain
    * ([[kmeansCentroids]] + fresh [[writeIvfIndex]]).
    */
  def appendToIvfIndex(emb: DataFrame, centroids: Array[(Long, Array[Float])],
      path: String, batchId: String, vecCol: String = "embedding"): Unit =
    writeIvfBatch(emb, centroids, path, vecCol, batchId)

  /** The IVF index at `path` as a [[graft.sources.BatchTable]]
    * partitioned by `__cell`, with a tombstone set of evicted
    * `vec_id`s. Retention EVICTS vectors through it
    * (`tombstone(removed, batchId)`, the `removed` rows of
    * [[Snapshots.diff]]): without eviction, deleted vectors keep
    * surfacing in top-k results and keep claiming
    * [[semDedupAgainstIndex]] verdicts forever. Its `compact` folds the
    * appended batches into one and drops the evicted rows; rows keep
    * their STORED cell assignment, so probes answer identically.
    */
  def ivfIndex(path: String): graft.sources.BatchTable =
    graft.sources.BatchTable(path, IvfId, partitionCols = Seq("__cell"))

  private val IvfId = "vec_id"

  /** Write one `batch=` subdir of the index. MALFORMED vectors
    * (length != the centroid dimensionality) are QUARANTINED to a
    * NULL cell — the [[lshBucket]] rule: FloatVectorDot scores them
    * NULL against every centroid, and without the guard `array_max`
    * over (NULL, cid) structs degrades to max-cid, silently piling a
    * broken encoder's output into one ever-growing hot cell that
    * real probes then scan. NULL cells land in the default partition
    * directory, which no probe ever selects; they stay on disk for
    * audit (`WHERE __cell IS NULL` lists the quarantine).
    */
  private def writeIvfBatch(emb: DataFrame, centroids: Array[(Long, Array[Float])],
      path: String, vecCol: String, batchId: String): Unit = {
    require(centroids.nonEmpty, "empty centroid list")
    val dim = centroids.head._2.length
    ivfIndex(path).write(assignCells(emb, centroids, vecCol)
      .withColumn("__cell", when(size(col(vecCol)) === dim, col("__cell"))),
      batchId)
  }

  /** Drift guard for an IVF index: one summary row of how well
    * `centroids` fit `emb` — `n` rows scored, `avg_cos` / `min_cos`
    * of each vector's cosine to its ASSIGNED (nearest) centroid,
    * `frac_low` the fraction below `lowCosine`, and `degenerate`
    * rows that cosine can't rank (zero-norm vectors, or every
    * centroid zero-norm). One narrow pass over the batch — the same
    * nlist codegen'd dots the assignment itself pays, so it's cheap
    * to run on EVERY [[appendToIvfIndex]] batch. Compare the batch
    * row against the base corpus's row: a materially lower `avg_cos`
    * / higher `frac_low` means the embedding distribution has
    * drifted off the trained cells and recall at fixed nprobe is
    * decaying — retrain and rewrite.
    */
  def ivfAssignmentQuality(emb: DataFrame,
      centroids: Array[(Long, Array[Float])],
      lowCosine: Double = 0.5, vecCol: String = "embedding"): DataFrame = {
    // bestOf scores dot/|c| (the |v| factor is rank-invariant within a
    // row); divide it back out for a true cosine, guarding |v| = 0
    val best = col("__best").getField("score")
    val vNorm = norm(col(vecCol))
    val cos = when(vNorm > 0 && best =!= lit(Double.NegativeInfinity),
      best / vNorm)
    withBestCentroid(emb, centroids, vecCol, "__best")
      .select(cos.as("__cos"))
      .agg(count(lit(1)).as("n"),
        avg(col("__cos")).as("avg_cos"),
        min(col("__cos")).as("min_cos"),
        (sum(when(col("__cos") < lowCosine, 1L).otherwise(0L)) /
          greatest(count(col("__cos")), lit(1L))).as("frac_low"),
        sum(when(col("__cos").isNull, 1L).otherwise(0L)).as("degenerate"))
  }

  /** Outcome of [[maybeRetrain]]: whether the index was rebuilt, the
    * measured low-cosine fraction that drove the decision, and the
    * centroid list now in force (fresh when retrained, the input list
    * otherwise — callers must probe with exactly this list).
    */
  case class RetrainDecision(retrained: Boolean, fracLow: Double,
      centroids: Array[(Long, Array[Float])])

  /** Close the drift loop (the [[ivfAssignmentQuality]] guard,
    * ACTING): score how well the index's current `centroids` fit
    * `corpus`, and when the fraction of vectors sitting below
    * `lowCosine` of their assigned centroid exceeds `maxFracLow`,
    * retrain ([[kmeansCentroids]] over the CURRENT corpus) and rebuild
    * the index at `path` ([[writeIvfIndex]]) in one step.
    *
    * Cost when healthy: exactly the one narrow quality scan every
    * append already pays — no k-means, no write. Cost when drifted: a
    * k-means pass + full index rewrite, the same work the manual
    * runbook prescribed, now behind a threshold. `corpus` must be the
    * FULL corpus the index should serve (base + appended batches):
    * retraining moves the cell geometry, so every row must be
    * re-assigned — a partial rewrite would strand the missing rows in
    * cells the probe no longer checks.
    *
    * Under retention, "full" means the SURVIVING corpus: pass the
    * corpus with the [[ivfIndex]] tombstoned rows already excluded. The
    * rebuild clears the tombstone table along with the old index
    * (writeIvfIndex — stale evictions must not shadow re-added docs),
    * so the rebuilt index serves exactly what you pass, nothing else;
    * passing deleted rows silently re-admits them (IvfIndexSpec pins
    * the survivors-only contract).
    */
  def maybeRetrain(corpus: DataFrame,
      centroids: Array[(Long, Array[Float])], path: String,
      maxFracLow: Double = 0.2, lowCosine: Double = 0.5,
      nlist: Int = 16, iters: Int = 2,
      idCol: String = "vec_id", vecCol: String = "embedding",
      batchId: String = "base"): RetrainDecision = {
    val q = ivfAssignmentQuality(corpus, centroids, lowCosine, vecCol).head()
    val fracLow =
      if (q.isNullAt(q.fieldIndex("frac_low"))) 0.0
      else q.getAs[Double]("frac_low")
    if (fracLow > maxFracLow) {
      val fresh = kmeansCentroids(corpus, nlist, iters, idCol, vecCol)
      writeIvfIndex(corpus, fresh, path, vecCol, batchId)
      RetrainDecision(retrained = true, fracLow, fresh)
    } else RetrainDecision(retrained = false, fracLow, centroids)
  }

  /** ANN top-k against a materialized [[writeIvfIndex]] index —
    * the probed cells become PartitionFilters on the scan
    * (PlanSpec proves the pruning).
    */
  def ivfTopKIndexed(spark: org.apache.spark.sql.SparkSession, path: String,
      centroids: Array[(Long, Array[Float])], queryVec: Array[Float],
      k: Int, nprobe: Int, vecCol: String = "embedding",
      // FILTERED search: metadata predicate over the index rows,
      // applied to the probe scan itself — IVF's shortlist is exact
      // within probed cells, so pre-filtering candidates keeps that
      // exactness AND the predicate reaches the parquet scan as a
      // pushed filter (the graph family instead filters at rank time,
      // because its candidates come from a walk, not a scan). Raise
      // `nprobe` with predicate selectivity to hold recall.
      filter: Option[org.apache.spark.sql.Column] = None): DataFrame = {
    val probeCells = probeCellsFor(centroids, queryVec, nprobe)
    val qCol = array(queryVec.toSeq.map(lit(_)): _*).cast("array<float>")
    // subtract evicted ids AFTER the partition-pruned probe scan (the
    // anti-join sees only nprobe/nlist of the index) and BEFORE the
    // top-k, so a tombstoned vector can neither rank nor displace
    val probed = spark.read.parquet(path)
      .where(col("__cell").isin(probeCells: _*))
    ivfIndex(path).live(filter.foldLeft(probed)((df, f) => df.where(f)))
      .select(col(IvfId), rankCosine(col(vecCol), qCol).as("cosine"))
      .orderBy(col("cosine").desc, col(IvfId).asc)
      .limit(k)
  }

  /** Batched exact top-k: every query row's brute-force cosine top-k
    * in ONE corpus pass. The query set is a broadcast (Q rows — query
    * batches are small by contract; the corpus is the big side), the
    * corpus side never shuffles its vectors: score + per-query
    * row_number, keep rank <= k. Self-matches are excluded, matching
    * [[bruteForceTopK]].
    *
    * Output: `query_id`, `<idCol>`, `cosine`, `rank` (1-based, ties
    * broken by ascending id — the [[bruteForceTopK]] ordering).
    */
  def bruteSearchAll(emb: DataFrame, queries: DataFrame, k: Int,
      idCol: String = "vec_id", vecCol: String = "embedding",
      qidCol: String = "query_id", qvecCol: String = "query_vec"): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(qidCol))
      .orderBy(col("cosine").desc, col(idCol).asc)
    emb.crossJoin(broadcast(queries.select(col(qidCol), col(qvecCol))))
      .where(col(idCol) =!= col(qidCol))
      .select(col(qidCol), col(idCol),
        rankCosine(col(vecCol), col(qvecCol)).as("cosine"))
      .withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
  }

  /** Batched sign-LSH top-k: every query row's bucket-pruned top-k in
    * one corpus pass — the third member of the batched trio next to
    * [[bruteSearchAll]] and [[ivfSearchAll]]. The corpus is bucketed
    * once ([[lshBucket]] — bits codegen'd dots per row); each query's
    * probe set (own bucket + one-bit flips, the [[lshTopK]] multi-probe
    * lever) is built on the BROADCAST side; candidates join on the
    * bucket column and score exactly. Malformed vectors quarantine to
    * NULL buckets on both sides and never match.
    */
  def lshSearchAll(emb: DataFrame, queries: DataFrame, k: Int,
      bits: Int = 8, probes: Int = 1,
      idCol: String = "vec_id", vecCol: String = "embedding",
      qidCol: String = "query_id", qvecCol: String = "query_vec",
      dim: Option[Int] = None): DataFrame = {
    require(probes >= 1 && probes <= 1 + bits,
      s"probes=$probes outside [1, 1+bits=${1 + bits}]")
    val d = resolveDim(dim, emb, vecCol)
    val bucketed = emb.select(col(idCol), col(vecCol),
      lshBucket(col(vecCol), bits, d).as("__bucket"))
      .where(col("__bucket").isNotNull)
    val flips = lit(0L) +: (0 until (probes - 1)).map(b => shiftleft(lit(1L), b))
    val qs = queries.select(col(qidCol), col(qvecCol),
      lshBucket(col(qvecCol), bits, d).as("__qb"))
      .where(col("__qb").isNotNull)
      .select(col(qidCol), col(qvecCol),
        explode(array(flips.map(f => col("__qb").bitwiseXOR(f)): _*))
          .as("__bucket"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(qidCol))
      .orderBy(col("cosine").desc, col(idCol).asc)
    bucketed
      .join(broadcast(qs), Seq("__bucket"))
      .where(col(idCol) =!= col(qidCol))
      .select(col(qidCol), col(idCol),
        rankCosine(col(vecCol), col(qvecCol)).as("cosine"))
      .withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
  }

  /** Hard-negative mining for contrastive/embedding training: per
    * query, the k corpus vectors MOST similar to it whose label
    * DIFFERS — the negatives that actually move a contrastive loss
    * (random negatives are trivially separated; the hard ones sit at
    * the decision boundary). `maxCos` optionally excludes candidates
    * ABOVE a similarity ceiling: in real corpora a different-label
    * vector at cosine ~1 is usually a labeling error, and mining it
    * as a negative actively corrupts training (the "false negative"
    * guard from the hard-mining literature).
    *
    * Shapes: `bits = None` is the exact path — one corpus pass, the
    * query batch broadcast ([[bruteSearchAll]] with the label
    * predicate pushed BELOW the rank, so negatives never compete with
    * same-label rows for window slots). `bits = Some(b)` is the scale
    * path: corpus bucketed once by sign-LSH, candidates restricted to
    * each query's bucket + one-bit flips ([[lshSearchAll]]'s
    * multi-probe lever) — at 100 TB the label filter then applies to
    * ~corpus/2^b candidates per query instead of the corpus.
    *
    * Output: `query_id`, `<idCol>`, `<labelCol>`, `cosine`, `rank`
    * (1-based per query; ties broken by ascending id).
    */
  def hardNegatives(emb: DataFrame, queries: DataFrame, k: Int,
      maxCos: Double = 1.0, bits: Option[Int] = None, probes: Int = 1,
      idCol: String = "vec_id", vecCol: String = "embedding",
      labelCol: String = "label", qidCol: String = "query_id",
      qvecCol: String = "query_vec", qlabelCol: String = "query_label",
      dim: Option[Int] = None): DataFrame = {
    val candidates = bits match {
      case None =>
        emb.crossJoin(broadcast(
          queries.select(col(qidCol), col(qvecCol), col(qlabelCol))))
      case Some(b) =>
        val d = resolveDim(dim, emb, vecCol)
        val flips = lit(0L) +: (0 until (probes - 1)).map(i => shiftleft(lit(1L), i))
        val qs = queries
          .select(col(qidCol), col(qvecCol), col(qlabelCol),
            lshBucket(col(qvecCol), b, d).as("__qb"))
          .where(col("__qb").isNotNull)
          .select(col(qidCol), col(qvecCol), col(qlabelCol),
            explode(array(flips.map(f => col("__qb").bitwiseXOR(f)): _*))
              .as("__bucket"))
        emb.select(col(idCol), col(vecCol), col(labelCol),
          lshBucket(col(vecCol), b, d).as("__bucket"))
          .where(col("__bucket").isNotNull)
          .join(broadcast(qs), Seq("__bucket"))
    }
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(qidCol))
      .orderBy(col("cosine").desc, col(idCol).asc)
    candidates
      .where(col(idCol) =!= col(qidCol))
      .where(col(labelCol) =!= col(qlabelCol))
      .select(col(qidCol), col(idCol), col(labelCol),
        rankCosine(col(vecCol), col(qvecCol)).as("cosine"))
      .where(col("cosine") <= maxCos)
      // zero-norm vectors score the -Infinity sentinel, which passes
      // `<= maxCos`; the DESC rank buries them only when >= k finite
      // negatives exist — exclude them outright so a sparse query
      // never mines a malformed vector
      .where(col("cosine") =!= lit(Double.NegativeInfinity))
      .withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
  }

  /** Contrastive training-PAIR assembly — the export stage the miners
    * feed: per anchor query, its HARDEST POSITIVE (the least similar
    * same-label vector — the positive that actually stretches the
    * embedding space; trivially-close positives teach nothing) and
    * the [[hardNegatives]] top-k, flattened to one row per
    * (anchor, negative) with the positive carried alongside — the
    * (anchor, positive, negative) triplet a contrastive loader
    * consumes directly.
    *
    * One corpus pass scores BOTH roles: candidates are corpus ×
    * broadcast-anchors, each window's label predicate sits below its
    * rank (positives never compete with negatives for slots and vice
    * versa), and the same `maxCos` false-negative ceiling guards the
    * negative side. Anchors with NO qualifying positive (singleton
    * labels) or no qualifying negative drop — a pair row without both
    * sides is untrainable. Rank ties break by ascending id (the
    * engine-wide window contract).
    */
  def contrastivePairs(emb: DataFrame, queries: DataFrame, kNeg: Int,
      maxCos: Double = 1.0,
      idCol: String = "vec_id", vecCol: String = "embedding",
      labelCol: String = "label", qidCol: String = "query_id",
      qvecCol: String = "query_vec", qlabelCol: String = "query_label"): DataFrame = {
    val cands = graft.operators.SessionCache.cut(emb
      .crossJoin(broadcast(
        queries.select(col(qidCol), col(qvecCol), col(qlabelCol))))
      .where(col(idCol) =!= col(qidCol))
      .select(col(qidCol), col(idCol), col(labelCol), col(qlabelCol),
        rankCosine(col(vecCol), col(qvecCol)).as("cosine")))
    val wPos = org.apache.spark.sql.expressions.Window
      .partitionBy(col(qidCol))
      .orderBy(col("cosine").asc, col(idCol).asc)
    val pos = cands
      .where(col(labelCol) === col(qlabelCol))
      // the zero-norm guard scores malformed vectors -Infinity; under
      // the ASCENDING positive rank that would make a broken vector
      // the "hardest positive" — exclude it (the negative side's
      // DESCENDING rank already buries it)
      .where(col("cosine") =!= lit(Double.NegativeInfinity))
      .withColumn("__r", row_number().over(wPos))
      .where(col("__r") === 1)
      .select(col(qidCol), col(idCol).as("pos_id"),
        col("cosine").as("pos_cosine"))
    val wNeg = org.apache.spark.sql.expressions.Window
      .partitionBy(col(qidCol))
      .orderBy(col("cosine").desc, col(idCol).asc)
    val neg = cands
      .where(col(labelCol) =!= col(qlabelCol) && col("cosine") <= maxCos)
      // same zero-norm exclusion on the NEGATIVE side: the DESCENDING
      // rank buries -Infinity only when >= kNeg finite negatives
      // exist — a sparse query would otherwise export a malformed
      // vector as a training negative
      .where(col("cosine") =!= lit(Double.NegativeInfinity))
      .withColumn("neg_rank", row_number().over(wNeg))
      .where(col("neg_rank") <= kNeg)
      .select(col(qidCol), col(idCol).as("neg_id"),
        col(labelCol).as("neg_label"), col("cosine").as("neg_cosine"),
        col("neg_rank"))
    neg.join(pos, Seq(qidCol))
      .select(col(qidCol), col("pos_id"), col("pos_cosine"),
        col("neg_id"), col("neg_label"), col("neg_cosine"), col("neg_rank"))
  }

  /** Batched IVF top-k: every query row's IVF-probed top-k in one
    * pass, fully distributed — unlike [[ivfTopKWith]] (whose per-query
    * driver probe selection serves the point-lookup path), the probe
    * sets here are computed as a dataframe: queries × broadcast
    * centroid table → per-query rank by (cosine DESC, cid DESC), keep
    * nprobe — the exact [[probeCellsFor]] tie-break, so a duplicate
    * centroid vector still probes the same cell the assignment chose.
    * Candidates are then cell-joined (probe list broadcast: Q × nprobe
    * rows) and scored exactly.
    *
    * At 100 TB this is the batch-scoring path: one corpus assignment
    * pass (or a pre-materialized [[writeIvfIndex]] read) serves the
    * whole query batch, instead of Q point lookups re-scanning the
    * corpus.
    */
  def ivfSearchAll(emb: DataFrame, queries: DataFrame,
      centroids: Array[(Long, Array[Float])], k: Int, nprobe: Int,
      idCol: String = "vec_id", vecCol: String = "embedding",
      qidCol: String = "query_id", qvecCol: String = "query_vec"): DataFrame = {
    val qs = queries.select(col(qidCol), col(qvecCol))
    val centDf = {
      val s = emb.sparkSession
      import s.implicits._
      centroids.toSeq.toDF("__cid", "__c")
        .select(col("__cid"), col("__c").cast("array<float>"))
    }
    val wProbe = org.apache.spark.sql.expressions.Window
      .partitionBy(col(qidCol))
      .orderBy(col("__pcos").desc, col("__cid").desc)
    val probes = qs.crossJoin(broadcast(centDf))
      .select(col(qidCol), col("__cid"),
        // zero-norm guard mirroring bestOf/cosDriver: a degenerate
        // (all-zero) centroid or query must score -Inf, not NaN — NaN
        // orders GREATEST in Spark, which would silently divert the
        // probe set away from the cells cellOf assigned
        when(norm(col(qvecCol)) > 0 && norm(col("__c")) > 0,
          dot(col(qvecCol), col("__c")) /
            (norm(col(qvecCol)) * norm(col("__c"))))
          .otherwise(lit(Double.NegativeInfinity)).as("__pcos"))
      .withColumn("__pr", row_number().over(wProbe))
      .where(col("__pr") <= nprobe)
      .select(col(qidCol), col("__cid").as("__cell"))
    val celled = assignCells(emb, centroids, vecCol)
      .select(col(idCol), col(vecCol), col("__cell"))
    val wRank = org.apache.spark.sql.expressions.Window
      .partitionBy(col(qidCol))
      .orderBy(col("cosine").desc, col(idCol).asc)
    celled
      .join(broadcast(probes), Seq("__cell"))
      .join(broadcast(qs), Seq(qidCol))
      .where(col(idCol) =!= col(qidCol))
      .select(col(qidCol), col(idCol),
        rankCosine(col(vecCol), col(qvecCol)).as("cosine"))
      .withColumn("rank", row_number().over(wRank))
      .where(col("rank") <= k)
  }

  /** Recall@k of the IVF path against exact brute force, per query —
    * the evaluation harness that justifies an ANN deployment's
    * nlist/nprobe choice (and the batch twin of the
    * [[ivfAssignmentQuality]] drift probe: quality says "cells got
    * loose", recall says what that costs users). One corpus scan per
    * side; the per-query comparison joins two k-row-per-query frames
    * on (query, id).
    *
    * Output: `query_id`, `n_hits` (of the exact top-k, how many the
    * IVF probe surfaced), `recall` = n_hits / k.
    */
  def ivfRecallAtK(emb: DataFrame, queries: DataFrame,
      centroids: Array[(Long, Array[Float])], k: Int, nprobe: Int,
      idCol: String = "vec_id", vecCol: String = "embedding",
      qidCol: String = "query_id", qvecCol: String = "query_vec"): DataFrame = {
    val brute = bruteSearchAll(emb, queries, k, idCol, vecCol, qidCol, qvecCol)
      .select(col(qidCol), col(idCol))
    val approx = ivfSearchAll(emb, queries, centroids, k, nprobe,
      idCol, vecCol, qidCol, qvecCol)
      .select(col(qidCol), col(idCol), lit(1L).as("__hit"))
    brute.join(approx, Seq(qidCol, idCol), "left")
      .groupBy(col(qidCol))
      .agg(sum(coalesce(col("__hit"), lit(0L))).as("n_hits"))
      .select(col(qidCol), col("n_hits"),
        (col("n_hits").cast("double") / k).as("recall"))
  }

  /** Embedding-cosine near-duplicate pairs via LSH buckets: pairs
    * within the same bucket with cosine >= threshold. The in-bucket
    * self-join replaces the corpus-wide cross product.
    *
    * Two guards bound the in-bucket join, which is quadratic in
    * bucket population:
    *  - malformed vectors (length != corpus dim) quarantine to a NULL
    *    bucket ([[lshBucket]]) and never pair — without this, a broken
    *    encoder's degenerate vectors would all share one bucket;
    *  - buckets with more than `maxBucketSize` members are EXCLUDED
    *    from pairing (the [[Dedup.jaccardPairs]] `maxShingleDf`
    *    analog: an all-zero-embedding pathology makes one bucket an
    *    all-pairs join at corpus scale). [[overflowBuckets]] reports
    *    what was dropped — run it alongside for observability; the
    *    exclusion is deterministic, so the gate oracle mirrors it
    *    with a HAVING clause.
    */
  def embeddingNearDups(emb: DataFrame, threshold: Double, bits: Int = 8,
      maxBucketSize: Int = 100000,
      idCol: String = "vec_id", vecCol: String = "embedding",
      persistBuckets: Boolean = true, dim: Option[Int] = None): DataFrame = {
    // persist: the bucket projection (bits x dim codegen'd dots over
    // the whole corpus) feeds THREE consumers — the population count
    // and both sides of the self-join; unpersisted, Spark recomputes
    // the scan+projection subtree per consumer (the jaccardPairs
    // lesson). `persistBuckets=false` opts out for long-lived
    // sessions that manage caching themselves.
    val bucketedRaw = emb.select(col(idCol), col(vecCol),
      lshBucket(col(vecCol), bits, resolveDim(dim, emb, vecCol)).as("__bucket"))
      .where(col("__bucket").isNotNull)
    val bucketed =
      if (persistBuckets)
        graft.operators.SessionCache.cut(bucketedRaw)
      else bucketedRaw
    val keepable = bucketed.groupBy("__bucket")
      .agg(count(lit(1)).as("__n"))
      .where(col("__n") <= maxBucketSize)
      .select("__bucket")
    val capped = bucketed.join(keepable, Seq("__bucket"), "left_semi")
    val l = capped.select(col("__bucket"), col(idCol).as("id_a"),
      col(vecCol).as("vec_a"))
    val r = capped.select(col("__bucket"), col(idCol).as("id_b"),
      col(vecCol).as("vec_b"))
    l.join(r, Seq("__bucket"))
      .where(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        rankCosine(col("vec_a"), col("vec_b")).as("cosine"))
      .where(col("cosine") >= threshold)
  }

  /** SemDeDup (Abbas et al. 2023, arXiv:2303.09540) — semantic
    * deduplication with per-row keep/drop verdicts, the
    * embedding-space pruning operator a 100 TB curation run applies
    * after exact/MinHash dedup. Where [[embeddingNearDups]] reports
    * PAIRS (LSH-bucket-scoped), this elects one REPRESENTATIVE per
    * semantic-duplicate group and marks everyone else droppable:
    *
    *  1. centroids: md5-spread sample of `nlist` rows
    *     ([[sampleCentroids]] — deterministic, engine-reproducible;
    *     swap in [[kmeansCentroids]] for tighter cells, p22 proves
    *     that refinement separately);
    *  2. every well-formed vector is assigned to its argmax-cosine
    *     cell ([[assignCells]] — inline codegen below the
    *     [[InlineCentroidScalars]] budget, broadcast-data above);
    *  3. candidate pairs are scored ONLY within a cell (the paper's
    *     scalability trick: k cells cut the pair grain ~k-fold vs
    *     all-pairs), cells above `maxCellSize` are excluded from
    *     pairing (the [[embeddingNearDups]] hot-bucket analog — a
    *     degenerate encoder collapsing the corpus into one cell must
    *     not schedule an all-pairs join);
    *  4. duplicate groups = connected components over pairs with
    *     cosine >= `eps` ([[Clusters.connectedComponents]] — node-
    *     grain state, O(log diameter) rounds);
    *  5. per group the member with the LOWEST cosine to its centroid
    *     is kept (the paper's best-performing policy: the most
    *     "marginal" member preserves diversity), ties broken by
    *     smallest id. Singletons keep themselves.
    *
    * Malformed vectors (length != corpus dim) are quarantined as
    * flagged keepers with NULL cell/centroid_cos — a similarity we
    * cannot compute never silently DROPS data (the st06 streaming
    * policy).
    *
    * Scale shape: one persisted assignment pass feeds the cell-size
    * cap, both pair-join sides and the output projection; the pair
    * join shuffles by cell; components state is node-grain; the
    * keeper election is a cluster-grain min over (centroid_cos, id)
    * structs, co-partitioned with the final join. Nothing is
    * quadratic beyond the capped in-cell pairing.
    *
    * Output: (idCol, cell, cluster_id, centroid_cos, keeper).
    * Downstream: `.where(col("keeper"))` is the pruned corpus.
    */
  /** nlist for a corpus of `n` vectors at a target mean cell
    * population: in-cell pairing is quadratic in cell size, so cells
    * must MULTIPLY as the corpus grows (the gate's pinned nlist=16 is
    * a fixture choice, not a scale default). `semDedup(nlist = 0)`
    * derives this automatically.
    */
  def semDedupNlist(n: Long, targetCellSize: Long = 4096L): Int =
    math.max(1L, (n + targetCellSize - 1) / targetCellSize)
      .min(1 << 20).toInt

  def semDedup(emb: DataFrame, nlist: Int, eps: Double,
      maxCellSize: Int = 100000,
      idCol: String = "vec_id", vecCol: String = "embedding",
      dim: Option[Int] = None): DataFrame = {
    val d = resolveDim(dim, emb, vecCol)
    val valid = emb.where(size(col(vecCol)) === d)
    // nlist <= 0: scale cells with the corpus (one count job — the
    // same count sampleCentroids pays anyway); assignment switches to
    // the broadcast shape automatically past the inline budget
    val k = if (nlist > 0) nlist else semDedupNlist(valid.count())
    val centroids = sampleCentroids(valid, k, idCol, vecCol)
    val s = emb.sparkSession
    import s.implicits._
    val centDf = centroids.toSeq.toDF("cell", "__c")
      .select(col("cell"), col("__c").cast("array<float>").as("__c"))
    // centroid_cos recomputes cosine in the oracle's division order
    // (dot / (|v| * |c|)) via the tiny broadcast centroid join —
    // assignCells' dot/|c| ranking score is NOT emitted (same argmax,
    // different last-ulp rounding).
    val celled = assignCells(valid.select(col(idCol), col(vecCol)),
        centroids, vecCol, "cell")
      .join(broadcast(centDf), Seq("cell"))
      .select(col(idCol), col(vecCol), col("cell"),
        cosine(col(vecCol), col("__c")).as("centroid_cos"))
      .transform(graft.operators.SessionCache.cut(_))
    val keepable = celled.groupBy("cell")
      .agg(count(lit(1)).as("__n"))
      .where(col("__n") <= maxCellSize)
      .select("cell")
    val capped = celled.join(keepable, Seq("cell"), "left_semi")
    val pairs = capped.select(col("cell"), col(idCol).as("id_a"),
        col(vecCol).as("__va"))
      .join(capped.select(col("cell"), col(idCol).as("id_b"),
        col(vecCol).as("__vb")), Seq("cell"))
      .where(col("id_a") < col("id_b"))
      .where(rankCosine(col("__va"), col("__vb")) >= eps)
      .select(col("id_a"), col("id_b"))
    val cc = Clusters.connectedComponents(pairs, aCol = "id_a", bCol = "id_b")
      .withColumnRenamed("doc_id", idCol)
    val labeled = celled.join(cc, Seq(idCol), "left")
      .withColumn("cluster_id", coalesce(col("cluster_id"), col(idCol)))
    val reps = labeled.groupBy("cluster_id")
      .agg(min(struct(col("centroid_cos").as("c"), col(idCol).as("i")))
        .as("__rep"))
      .select(col("cluster_id"), col("__rep").getField("i").as("__keep_id"))
    val verdicts = labeled.join(reps, Seq("cluster_id"))
      .select(col(idCol), col("cell"), col("cluster_id"),
        col("centroid_cos"), (col(idCol) === col("__keep_id")).as("keeper"))
    val quarantined = emb.where(size(col(vecCol)) =!= d)
      .select(col(idCol), lit(null).cast("bigint").as("cell"),
        col(idCol).as("cluster_id"),
        lit(null).cast("double").as("centroid_cos"), lit(true).as("keeper"))
    verdicts.unionByName(quarantined)
  }

  /** Incremental SemDeDup: judge an arriving BATCH against a
    * materialized [[writeIvfIndex]] corpus index — the production
    * ingestion shape (the [[Dedup.nearDupsAgainstIndex]] analog in
    * embedding space). The corpus is assigned and written ONCE; each
    * day's batch pays only its own assignment plus a cell-scoped join
    * against the indexed members, so daily cost scales with the batch
    * and the touched cells, never the corpus.
    *
    * Semantics: a batch row is DROPPED (keeper = false) iff some
    * indexed vector in its assigned cell has cosine >= `eps` — the
    * index always wins (first-seen priority, st05/p19 ingestion
    * semantics). The claimant reported is the highest-cosine indexed
    * neighbor, ties to the smallest index id. Cells with more than
    * `maxCellSize` INDEXED members are excluded from claiming (the
    * [[semDedup]] cap on the corpus side; skipped batch rows
    * self-keep — under-dropping, never data loss) and malformed batch
    * vectors quarantine as flagged keepers.
    *
    * Batch-vs-batch duplicates are deliberately NOT judged here (two
    * near-identical rows arriving in the same batch both survive if
    * neither is near the index): run [[semDedup]] within the batch
    * first, or append survivors to the index so the next batch sees
    * them — the composition [[appendToIvfIndex]] exists for.
    *
    * Output: (vec_id, cell, claimed_by, claim_cosine, keeper).
    */
  def semDedupAgainstIndex(spark: org.apache.spark.sql.SparkSession,
      batch: DataFrame, indexPath: String,
      centroids: Array[(Long, Array[Float])], eps: Double,
      maxCellSize: Int = 100000, vecCol: String = "embedding",
      dim: Option[Int] = None): DataFrame = {
    val idCol = IvfId
    val d = resolveDim(dim, batch, vecCol)
    val valid = batch.where(size(col(vecCol)) === d)
    val celled = assignCells(valid.select(col(idCol), col(vecCol)),
      centroids, vecCol, "cell")
    val idx = ivfIndex(indexPath)
      .live(spark.read.parquet(indexPath).where(col("__cell").isNotNull))
      .select(col("__cell").as("cell"), col(idCol).as("__idx_id"),
        col(vecCol).as("__idx_vec"))
    val keepable = idx.groupBy("cell").agg(count(lit(1)).as("__n"))
      .where(col("__n") <= maxCellSize).select("cell")
    val capped = idx.join(keepable, Seq("cell"), "left_semi")
    // The eps filter applies AFTER the per-row aggregate, not on the
    // projected cosine: "dropped iff any indexed neighbor >= eps" ==
    // "max >= eps", and filtering the aggregated value keeps the
    // cosine tree evaluated ONCE. (Filtering the projected column
    // made Catalyst substitute the full guarded-cosine expression
    // into the pushed-down predicate — the duplicated tree blew the
    // whole-stage-codegen method budget and the join fell back to
    // interpreted evaluation: 16x slower at sf1, measured.)
    val scored = celled.join(capped, Seq("cell"))
      .select(col(idCol), col("__idx_id"),
        rankCosine(col(vecCol), col("__idx_vec")).as("__cos"))
    val claims = scored.groupBy(col(idCol))
      .agg(max(struct(col("__cos").as("c"), (-col("__idx_id")).as("ni")))
        .as("__cl"))
      .where(col("__cl").getField("c") >= eps)
      .select(col(idCol), col("__cl").getField("c").as("claim_cosine"),
        (-col("__cl").getField("ni")).as("claimed_by"))
    val verdicts = celled.join(claims, Seq(idCol), "left")
      .select(col(idCol), col("cell"), col("claimed_by"),
        col("claim_cosine"), col("claimed_by").isNull.as("keeper"))
    val quarantined = batch.where(size(col(vecCol)) =!= d)
      .select(col(idCol), lit(null).cast("bigint").as("cell"),
        lit(null).cast("bigint").as("claimed_by"),
        lit(null).cast("double").as("claim_cosine"), lit(true).as("keeper"))
    verdicts.unionByName(quarantined)
  }

  /** The buckets [[embeddingNearDups]] dropped under the same
    * parameters: (bucket, population) for populations >
    * maxBucketSize, plus the quarantine count of malformed vectors as
    * bucket NULL. Cheap (one pass + tiny aggregate) — log it next to
    * every near-dup run.
    */
  def overflowBuckets(emb: DataFrame, bits: Int = 8,
      maxBucketSize: Int = 100000,
      idCol: String = "vec_id", vecCol: String = "embedding",
      dim: Option[Int] = None): DataFrame = {
    val bucketed = emb.select(
      lshBucket(col(vecCol), bits, resolveDim(dim, emb, vecCol)).as("__bucket"))
    bucketed.groupBy("__bucket").agg(count(lit(1)).as("population"))
      .where(col("population") > maxBucketSize || col("__bucket").isNull)
      .withColumnRenamed("__bucket", "bucket")
  }

  /** Embedding-space outlier flags: each vector's cosine to its
    * NEAREST sampled centroid (`cell_cosine`), with `is_outlier` =
    * that cosine below a fixed threshold `tau` — "far from every
    * cluster center", the low-density/garbage detector a curation
    * pipeline runs before embeddings feed dedup or retrieval
    * (mislabeled modalities, truncated encodes, adversarial junk all
    * land in no cell's core). Joined with the assigned cell's
    * population (`cell_n`) so downstream triage sees "lone vector in
    * a dense cell" vs "member of a fringe micro-cell" at a glance.
    *
    * Deliberately a FIXED threshold, not per-cell mean/stddev: the
    * flag stays a pure per-row function of (vector, centroid set) —
    * engine-exact (no cross-row float aggregation anywhere), stable
    * under corpus growth, and comparable across daily snapshots.
    * Per-cell robust stats live in the profiling family
    * ([[graft.operators.Profiling]]); compose if a data-dependent
    * cut is wanted.
    *
    * Scale shape: centroid assignment is [[assignCells]] (inline
    * codegen'd dots below the scalar budget, broadcast-data above —
    * the corpus never shuffles for it); `cell_n` is a tiny
    * (nlist-row) aggregate broadcast back. Zero-norm vectors score
    * -Infinity against every centroid (the engine-wide degenerate
    * rule) and are therefore always flagged.
    */
  def embeddingOutliers(emb: DataFrame, nlist: Int, tau: Double,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val centroids = sampleCentroids(emb, nlist, idCol, vecCol)
    val assigned = withBestCentroid(
      emb.select(col(idCol), col(vecCol)), centroids, vecCol, "__best")
      // the winning struct's score is the assignment metric dot/|c|
      // (cosine x |v|, order-identical per row); the REPORTED value
      // normalizes to the true cosine — (dot/|c|)/|v|, the
      // parenthesization the oracle mirrors. |v| = 0 has no cosine:
      // score -Infinity by the engine-wide degenerate rule, so the
      // flag still fires.
      .select(col(idCol), col("__best").getField("cid").as("cell"),
        when(norm(col(vecCol)) > 0,
          col("__best").getField("score") / norm(col(vecCol)))
          .otherwise(lit(Double.NegativeInfinity)).as("cell_cosine"))
    val cellCounts = assigned.groupBy(col("cell"))
      .agg(count(lit(1)).as("cell_n"))
    assigned.join(broadcast(cellCounts), Seq("cell"))
      .select(col(idCol), col("cell"), col("cell_cosine"),
        (col("cell_cosine") < tau).as("is_outlier"), col("cell_n"))
  }
}
