package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.operators.SessionCache

/** Graph-index ANN — the navigable-small-world family (the HNSW
  * shape), closing the one ANN family the engine lacked next to
  * brute / sign-LSH / IVF / PQ (round-13 verdict ask #6 / #8 in
  * round 12). Same contract as [[Similarity]]: deterministic
  * construction (no RNG — every pseudo-random choice derives from
  * md5), double-precision cosine via the codegen'd
  * [[graft.functions.FloatVectorDot]], ascending-id tie-breaks, and
  * a DuckDB-expressible build/search so the gate can hash-pin it.
  *
  * WHY a graph index: IVF prunes by cell geometry — recall at fixed
  * nprobe decays when the query lands between cells. A neighbor
  * graph instead refines LOCALLY: beam search starts at entry points
  * and walks edges toward the query, so cost scales with beam x
  * degree x rounds, independent of corpus size once entered. HNSW's
  * hierarchy exists to find a good entry point in log time on a
  * single machine; here the HUB layer plays that role in one round
  * (a bounded, driver-held sample scored against each query), which
  * is the Spark-native substitute — a distributed beam can't afford
  * per-level sequential descent, but it can afford one broadcast
  * hub scoring.
  *
  * Construction (never all-pairs):
  *  - kNN edges: candidates are pairs sharing a sign-LSH bucket
  *    ([[Similarity.lshBucket]], the p08/p12 pair machinery); each
  *    node keeps its top-`m` bucket-mates by cosine, then edges are
  *    SYMMETRIZED (union with the reversed set, distinct) — the
  *    standard kNN-graph + reverse-link construction, so a node
  *    popular with others is reachable from them. Degree <= 2m.
  *    Buckets larger than `MaxBucket` (100 000) are DROPPED from the pair
  *    step: a degenerate embedding region would otherwise go
  *    quadratic; its nodes stay reachable through hub edges (audit
  *    the drop set with a bucket-count query over `lshBucket` — the
  *    build adds no counting job of its own).
  *  - hub edges: hubs are a deterministic md5-strided corpus sample
  *    ([[Similarity.sampleCentroids]] — same stride the IVF oracle
  *    replays); every node links to its argmax-cosine hub (same
  *    tie-break as IVF cell assignment: equal scores prefer the
  *    larger hub id) and each hub links back to its top-`hubDegree`
  *    assigned nodes. Hub edges make the graph navigable from the
  *    entry layer even across LSH bucket boundaries.
  *
  * Search ([[searchAll]]): per query, the beam enters at the top-B
  * hubs by cosine (driver-held hub list, broadcast scoring — no
  * corpus scan), then `rounds` expansions: join the frontier to the
  * edge table on `src` (edges carry `dst_vec` INLINE, so expansion
  * never joins back to the corpus — the storage-for-shuffle trade
  * HNSW adjacency lists make too), score, keep the per-query top-B
  * NEW nodes as the next frontier, accumulate everything visited,
  * answer top-k from the visited set. Per-round shuffle is
  * O(|queries| x beam x degree) — corpus-size-independent. A search
  * reads the caller's edge plan ONCE, through one lazy
  * [[SessionCache.cut]] made at entry: every round joins that cut,
  * so an un-materialized edge frame (a [[buildEdges]] plan, a
  * tombstone-filtered [[readEdges]]) costs one build per search, not
  * one per round, and callers need not pre-materialize it.
  *
  * Index lifecycle mirrors the IVF/LSH indexes: [[writeIndex]]
  * lands edges under `batch=<id>` (idempotent overwrite per batch),
  * [[appendToIndex]] links a new embedding batch in (new-node edges
  * + reverse links from existing nodes, cost ∝ batch),
  * [[tombstoneIndex]] evicts ids logically (readers drop edges
  * touching them), [[compactIndex]] folds batches, applies
  * tombstones physically and re-caps per-(src, kind) degree — the
  * append path accretes reverse links past `m`, and compaction is
  * where the degree invariant is restored.
  */
object GraphAnn {

  /** Per-node out-degree of the kNN layer (HNSW's M). */
  val DefaultM = 8

  /** Hub fan-out back into its assigned region. Sized for
    * connectivity, not quality: a semantic cluster that drew no hub
    * in the sample is reachable ONLY through its nodes' ranks in the
    * nearest hub's downlinks — those nodes score below the hub's own
    * neighborhood, so the fan-out must be a few times the expected
    * assigned-cell size or orphan clusters fall off the graph
    * (recall collapses to 0 for their queries, the failure mode
    * GraphAnnSpec's recall gate watches).
    */
  val DefaultHubDegree = 64

  /** Beam width of both searches, and the base beam of
    * [[acornAutoBeam]].
    */
  private val DefaultBeam = 8

  /** Coarse LSH width (2^4 buckets); also divides the hub downlink
    * budget into per-bucket quotas.
    */
  private val Bits = 4

  /** Coarse buckets larger than this are dropped from the pair step. */
  private val MaxBucket = 100000L

  /** Cap on a hot bucket's refinement depth (the [[Dedup]]
    * hot-bucket-cap discipline).
    */
  private val MaxExtraBits = 6

  // The split path draws planes up to index Bits + 2*MaxExtraBits - 1
  // (two independently-seeded refinements) and mixes a discriminator
  // at bit Bits + MaxExtraBits + 1; Spark's shiftleft wraps the shift
  // count mod 64, so a wider setting would silently alias plane bits
  // into low positions (corrupted sub-bucket ids, degraded recall).
  require(Bits + 2 * MaxExtraBits <= 61,
    s"Bits + 2*MaxExtraBits = ${Bits + 2 * MaxExtraBits} exceeds 61")

  private val IdCol = "vec_id"
  private val VecCol = "embedding"
  private val QidCol = "query_id"
  private val QvecCol = "query_vec"

  private def rankCosine(a: Column, b: Column) =
    when(Similarity.norm(a) > 0 && Similarity.norm(b) > 0,
      Similarity.cosine(a, b))

  /** Per-src edge order: cosine descending, ascending-dst tie-break. */
  private def bySrc =
    Window.partitionBy(col("src")).orderBy(col("cosine").desc, col("dst").asc)

  private def idVec(df: DataFrame) =
    df.select(col(IdCol).as("__id"), col(VecCol).as("__v"))

  /** The driver-held hub list as a (hub_id, hub_vec) frame. */
  private def hubFrame(spark: SparkSession,
      hubs: Array[(Long, Array[Float])]): DataFrame = {
    import spark.implicits._
    hubs.toSeq.toDF("hub_id", "hub_vec")
      .select(col("hub_id"), col("hub_vec").cast("array<float>").as("hub_vec"))
  }

  /** Sub-bucketed pair-candidate frame — the `splitBucket` machinery
    * of [[linkEdges]]. TWO
    * independently-seeded refinements: a sub-bucket split on one
    * plane set loses exactly the neighbor pairs the split planes
    * separate; a second refinement on DIFFERENT planes keeps a pair
    * together unless BOTH splits separate it (survival 1-(1-q)² vs
    * q). Each node in a hot bucket carries two refined bucket ids —
    * pair mass 2 × n × target, still linear — and the downstream
    * (src, dst) dedup folds pairs found by both refinements.
    * Refinement r uses planes [Bits + r·MaxExtraBits,
    * Bits + r·MaxExtraBits + e); the refined id gets the refinement
    * index mixed in ABOVE the mask so the two refinements' buckets
    * never alias each other.
    *
    * `countSource` is the frame whose DENSITY drives the per-bucket
    * refinement depth e = ceil(log2(n_bucket/target)): always the
    * CORPUS (a batch's own counts say nothing about how hot a bucket
    * is, and the two sides must agree on e per coarse bucket or
    * their refined ids never meet). Both frames are (__id, __v);
    * output (__id, __v, __b) with one or two refined ids per node,
    * eagerly cut ([[SessionCache.cut]]) — the refined frame is
    * consumed several times downstream (MaxBucket guard + pair sides)
    * and its plan embeds a join + aggregate; re-running it per
    * consumer measurably tripled the split build's cost.
    */
  private def refineBucketed(base: DataFrame, countSource: DataFrame,
      target: Long, d: Int): DataFrame = {
    require(target > 0, s"splitBucket target $target must be positive")
    // coarse-bucket density: lshBucket(Bits) IS the wide code's low
    // `Bits` bits (plane b is seeded by its index alone — the prefix
    // property), so counting on it matches the refined codes below
    val counts = countSource
      .withColumn("__b0", Similarity.lshBucket(col("__v"), Bits, d))
      .where(col("__b0").isNotNull)
      .groupBy(col("__b0")).agg(count(lit(1)).as("__n"))
    base
      .withColumn("__bf",
        Similarity.lshBucket(col("__v"), Bits + 2 * MaxExtraBits, d))
      .where(col("__bf").isNotNull)
      .withColumn("__b0", col("__bf").bitwiseAND(lit((1L << Bits) - 1)))
      .join(broadcast(counts), Seq("__b0"))
      .withColumn("__e",
        least(lit(MaxExtraBits), greatest(lit(0),
          ceil(log(2.0, col("__n").cast("double") / target))))
          .cast("int"))
      .select(col("__id"), col("__v"),
        explode(when(col("__e") > 0, array(
          expr(s"__b0 | (((__bf >> $Bits) & " +
            s"(shiftleft(CAST(1 AS BIGINT), __e) - 1)) << $Bits)"),
          expr(s"__b0 | (((__bf >> ${Bits + MaxExtraBits}) & " +
            s"(shiftleft(CAST(1 AS BIGINT), __e) - 1)) << $Bits) | " +
            s"(CAST(1 AS BIGINT) << ${Bits + MaxExtraBits + 1})")))
          // unsplit buckets carry ONE id — the second refinement
          // would just duplicate every pair
          .otherwise(array(col("__b0"))))
          .as("__b"))
      .transform(SessionCache.cut(_, eager = true))
  }

  /** The (corpus-side, batch-side) bucketed frames, (__id, __v, __b):
    * coarse when `split` is None, corpus-density dual-refined
    * otherwise. Shared by [[linkEdges]] and the [[appendCandidateMass]]
    * diagnostic, so the measured mass is the mass of the frames the
    * real append joins. A build passes one frame as both sides; it is
    * bucketed once.
    */
  private def bucketed(batch: DataFrame, corpus: DataFrame,
      split: Option[Long], d: Int): (DataFrame, DataFrame) = {
    def side(df: DataFrame) = split match {
      case None =>
        idVec(df).withColumn("__b", Similarity.lshBucket(col("__v"), Bits, d))
          .where(col("__b").isNotNull)
      case Some(target) => refineBucketed(idVec(df), idVec(corpus), target, d)
    }
    val all = side(corpus)
    (all, if (batch eq corpus) all else side(batch))
  }

  /** `splitBucket` with the [[AutoSplit]] sentinel resolved for `m`. */
  private def resolveSplit(splitBucket: Option[Long], m: Int): Option[Long] =
    splitBucket.flatMap(t => if (t == AutoSplit) productionSplit(m) else Some(t))

  /** The edges that link `batch` into `corpus` (`batch` ⊆ `corpus`;
    * a build passes the corpus as both). Returns (knn, hub), both
    * (src, dst, dst_vec, cosine, kind):
    *  - knn: candidates are (batch node) × (bucket-mate in `corpus`)
    *    after the hot-bucket guard; each batch node keeps its top-`m`,
    *    then the set is SYMMETRIZED (a reversed edge carries the src
    *    vector as its dst_vec), so corpus nodes gain links INTO the
    *    batch. Not degree-pruned — [[buildEdges]] prunes to 2m, the
    *    append path leaves that to [[compactIndex]].
    *  - hub: each batch node's up-link to its argmax hub, and each
    *    hub's downlinks among the batch. The downlink budget is spent
    *    PER (hub, coarse LSH bucket), not globally by cosine: a hub's
    *    nearest semantic cluster would otherwise monopolize all
    *    hubDegree slots and every other cluster assigned to that hub
    *    would be unreachable from the entry layer (measured: recall
    *    0.29 at 20k/200 clusters with global top-64 vs the
    *    bucket-quota's coverage — clusters concentrate in fine
    *    buckets, so a per-bucket quota gives each semantic region of
    *    the cell its own doors).
    */
  private def linkEdges(batch: DataFrame, corpus: DataFrame,
      hubs: Array[(Long, Array[Float])], m: Int, hubDegree: Int,
      splitBucket: Option[Long]): (DataFrame, DataFrame) = {
    require(hubs.nonEmpty, "empty hub list")
    val d = hubs.head._2.length
    val split = resolveSplit(splitBucket, m)
    val (all, batchBucketed) = bucketed(batch, corpus, split, d)
    // hot-bucket guard on the corpus side: a degenerate region must
    // not go quadratic. It depends only on __b, so guarding one side
    // of the __b join drops exactly the pairs guarding both would.
    val kept = all.join(
      all.groupBy(col("__b")).agg(count(lit(1)).as("__n"))
        .where(col("__n") <= MaxBucket).select(col("__b")),
      Seq("__b"))
    val rawPairs = batchBucketed
      .select(col("__b"), col("__id").as("src"), col("__v").as("src_vec"))
      .join(kept.select(col("__b"), col("__id").as("dst"),
        col("__v").as("dst_vec")), Seq("__b"))
      .where(col("src") =!= col("dst"))
      .select(col("src"), col("src_vec"), col("dst"), col("dst_vec"),
        rankCosine(col("src_vec"), col("dst_vec")).as("cosine"))
    // dual-refinement dedup (split mode only): a pair both refinements
    // kept together appears twice and would eat two of the m slots;
    // the unsplit path has no duplicates and keeps its pinned plan
    val pairs =
      if (split.isEmpty) rawPairs
      else rawPairs.groupBy(col("src"), col("dst"))
        .agg(first(col("src_vec")).as("src_vec"),
          first(col("dst_vec")).as("dst_vec"),
          max(col("cosine")).as("cosine"))
        .select(col("src"), col("src_vec"), col("dst"), col("dst_vec"),
          col("cosine"))
    val topM = pairs
      .withColumn("__r", row_number().over(bySrc))
      .where(col("__r") <= m)
    val knn = topM.select(col("src"), col("dst"), col("dst_vec"), col("cosine"))
      .unionByName(topM.select(col("dst").as("src"), col("src").as("dst"),
        col("src_vec").as("dst_vec"), col("cosine")))
      .groupBy(col("src"), col("dst"))
      .agg(first(col("dst_vec")).as("dst_vec"), max(col("cosine")).as("cosine"))
      .withColumn("kind", lit("knn"))
    val assigned = Similarity.assignCells(idVec(batch), hubs, "__v", "__hub")
      .join(broadcast(hubFrame(batch.sparkSession, hubs)),
        col("__hub") === col("hub_id"))
      .where(col("__id") =!= col("hub_id"))
      .select(col("__id"), col("__v"), col("hub_id"), col("hub_vec"),
        Similarity.lshBucket(col("__v"), Bits, d).as("__b"),
        rankCosine(col("__v"), col("hub_vec")).as("cosine"))
    val up = assigned
      .select(col("__id").as("src"), col("hub_id").as("dst"),
        col("hub_vec").as("dst_vec"), col("cosine"), lit("hub").as("kind"))
    val quota = math.max(1, hubDegree >> Bits)
    val wHubBucket = Window.partitionBy(col("hub_id"), col("__b"))
      .orderBy(col("cosine").desc, col("__id").asc)
    val wHub = Window.partitionBy(col("hub_id"))
      .orderBy(col("cosine").desc, col("__id").asc)
    val down = assigned
      .withColumn("__rq", row_number().over(wHubBucket))
      .where(col("__rq") <= quota)
      .withColumn("__r", row_number().over(wHub))
      .where(col("__r") <= hubDegree)
      .select(col("hub_id").as("src"), col("__id").as("dst"),
        col("__v").as("dst_vec"), col("cosine"), lit("hub").as("kind"))
    (knn, up.unionByName(down))
  }

  /** The edge table: (src, dst, dst_vec, cosine, kind) with
    * kind = 'knn' | 'hub'. `dst_vec` inline is what frees search
    * from re-joining the corpus every round. The symmetrized kNN
    * layer is PRUNED back to 2m per src (HNSW's M_max discipline): a
    * node popular with a whole region would otherwise reflect its
    * unbounded in-degree back as out-degree, and beam expansion cost
    * is beam x degree — the cap is what makes that bound real.
    *
    * `splitBucket` (round-16, verdict ask #5 — the build's one
    * superlinear edge): the kNN pair step is quadratic PER BUCKET, so
    * as a growing corpus densifies its LSH buckets the pair mass
    * grows ~n²/2^Bits (measured 4.3×/decade on the docs corpus).
    * With `splitBucket = Some(target)`, any coarse bucket larger than
    * `target` is SUB-BUCKETED on extra hash bits — `lshBucket`'s
    * prefix property (plane b is seeded by its index alone) means the
    * (Bits + e)-bit code's low `Bits` bits ARE the coarse bucket, so
    * refinement just widens the mask by
    * ceil(log2(n_bucket / target)) bits (capped at `MaxExtraBits`,
    * the [[Dedup]] hot-bucket-cap discipline). Pair mass per hot
    * bucket falls ~2^e, restoring LINEAR pair growth — measured
    * exactly on the docs decade (BASELINE.md round 16): 100×/decade
    * unsplit vs 11.8×/decade at target 64; wall clock at small
    * fixtures is overhead-dominated and understates the asymptotic
    * win. Recall cost on the clustered reference corpus is ≤ 0.011
    * at every measured target (the DUAL refinement is what
    * closes the plane-boundary loss; GraphAnnSpec pins ≥ 0.9 with an
    * aggressive split). Default None preserves the exact gate-pinned
    * construction; deployments at growing corpus sizes should SET it
    * (≈ 8×m — 64 for the default m).
    */
  def buildEdges(emb: DataFrame, hubs: Array[(Long, Array[Float])],
      m: Int = DefaultM, hubDegree: Int = DefaultHubDegree,
      splitBucket: Option[Long] = None): DataFrame = {
    val (knn, hub) = linkEdges(emb, emb, hubs, m, hubDegree, splitBucket)
    knn.withColumn("__r", row_number().over(bySrc))
      .where(col("__r") <= 2 * m).drop("__r")
      .unionByName(hub)
  }

  /** The search's one read of the caller's edge plan: a lazy cut of
    * (src, dst, dst_vec) that every round's joins read.
    */
  private def searchEdges(edges: DataFrame, rounds: Int): DataFrame = {
    require(rounds >= 1, s"rounds $rounds must be >= 1")
    SessionCache.cut(edges.select(col("src"), col("dst"), col("dst_vec")))
  }

  /** Per-query top-`beam` by cosine, ascending-node tie-break. */
  private def topBeam(df: DataFrame, beam: Int): DataFrame = df
    .withColumn("__r", row_number().over(Window.partitionBy(col("__qid"))
      .orderBy(col("cosine").desc, col("__node").asc)))
    .where(col("__r") <= beam).drop("__r")

  /** Every (query, hub) pair scored: (__qid, __qv, __node, cosine).
    * The hub list is tiny and the query batch rides as a broadcast —
    * no corpus scan happens anywhere in entry.
    */
  private def hubScores(spark: SparkSession,
      hubs: Array[(Long, Array[Float])], q: DataFrame): DataFrame =
    hubFrame(spark, hubs).crossJoin(broadcast(q))
      .select(col("__qid"), col("__qv"), col("hub_id").as("__node"),
        rankCosine(col("hub_vec"), col("__qv")).as("cosine"))

  /** The entry nodes the live edge table confirms: hubs are ROUTING
    * points first, and an entry hub may RANK only if it has an
    * out-edge (every live node has its up-link or knn edges; a
    * TOMBSTONED hub has none, because eviction strips every edge
    * touching it). The caller's hub list is driver-held geometry,
    * like IVF centroids — it cannot know about deletions, so the
    * index itself must arbitrate (GraphAnnPropertiesSpec pins the
    * law). `firstHop` is the round-1 expansion join: every entry
    * node is in the round-1 frontier, so a live hub necessarily
    * surfaces there as a src — never a corpus-scale
    * `edges.src.distinct()`.
    */
  private def liveEntry(entry: DataFrame, firstHop: DataFrame): DataFrame =
    entry.join(broadcast(firstHop.select(col("src")).distinct()),
      col("__node") === col("src"), "left_semi")

  /** (query_id, vec_id, cosine, rank) — the
    * [[Similarity.bruteSearchAll]] shape, rank 1-based with
    * ascending-id tie-break, self-matches excluded.
    */
  private def topK(ranked: DataFrame, k: Int): DataFrame =
    ranked.where(col("__node") =!= col("__qid"))
      .select(col("__qid").as(QidCol), col("__node").as(IdCol), col("cosine"))
      .withColumn("rank", row_number().over(
        Window.partitionBy(col(QidCol))
          .orderBy(col("cosine").desc, col(IdCol).asc)))
      .where(col("rank") <= k)

  /** Beam search over an edge table for a batch of queries
    * (query_id, query_vec). Output: (query_id, vec_id, cosine, rank)
    * — the [[Similarity.bruteSearchAll]] shape, rank 1-based with
    * ascending-id tie-break; self-matches excluded. The QUERY BATCH
    * rides as a broadcast (the batched-trio contract: queries are
    * small, the index is the big side) — a corpus-scale self-kNN
    * join wants [[Similarity]]'s bucketed pair machinery instead.
    * `rounds` must be at least 1.
    *
    * FILTERED search (`allowed`): the standard filtered-HNSW
    * semantics — the beam ROUTES through every node (restricting the
    * walk to the filtered subgraph would disconnect it and collapse
    * recall at selective predicates), but only ids present in
    * `allowed` may RANK. The filter applies to the accumulated
    * visited set BEFORE the final top-k, so matches are never
    * truncated away by non-matching neighbors; raise `beam`/`rounds`
    * with predicate selectivity to hold recall. `allowed` may be
    * corpus-scale: the visited set (|queries| × beam × degree ×
    * rounds) is the broadcast side and `allowed` streams in place.
    */
  def searchAll(edges: DataFrame, hubs: Array[(Long, Array[Float])],
      queries: DataFrame, k: Int, beam: Int = DefaultBeam, rounds: Int = 3,
      allowed: Option[DataFrame] = None): DataFrame = {
    val e = searchEdges(edges, rounds)
    val q = queries.select(col(QidCol).as("__qid"), col(QvecCol).as("__qv"))
    val entry = SessionCache.cut(
      topBeam(hubScores(edges.sparkSession, hubs, q), beam), eager = true)
    var visited = entry
    var ranked: DataFrame = null
    var frontier = entry
    for (r <- 0 until rounds) {
      // the frontier is |queries| x beam rows by construction — pin it
      // as the BROADCAST side so the edge cut streams in place (a cut
      // frontier has no stats, and a planner-chosen sort-merge join
      // would shuffle the whole edge table per round)
      val joined = broadcast(frontier).join(e, col("__node") === col("src"))
      if (r == 0)
        ranked = SessionCache.cut(liveEntry(entry, joined), eager = true)
      val expanded = joined
        .select(col("__qid"), col("__qv"), col("dst").as("__node"),
          rankCosine(col("dst_vec"), col("__qv")).as("cosine"))
        .groupBy(col("__qid"), col("__node"))
        .agg(first(col("__qv")).as("__qv"), max(col("cosine")).as("cosine"))
        .select(col("__qid"), col("__qv"), col("__node"), col("cosine"))
      val fresh = expanded
        .join(visited.select(col("__qid"), col("__node")),
          Seq("__qid", "__node"), "left_anti")
        .transform(SessionCache.cut(_, eager = true))
      // visited/ranked are UNIONS of already-cut rounds: a
      // depth-≤rounds union of cut legs scans cheaply and recomputes
      // nothing, where re-cutting it each round would re-materialize
      // the same blocks
      visited = visited.unionByName(fresh)
      ranked = ranked.unionByName(fresh)
      frontier = topBeam(fresh, beam)
    }
    // rank-time filter: visited stays unrestricted (routing), the
    // rankable set intersects `allowed`. The visited accumulation is
    // the SMALL side — broadcast it and stream the allowed table;
    // project the query vector away first (the final ranking needs
    // only id/node/cosine, and __qv is dim floats per visited row).
    topK(allowed match {
      case Some(a) =>
        a.select(col(IdCol).as("__ok")).distinct()
          .join(broadcast(ranked
            .select(col("__qid"), col("__node"), col("cosine"))),
            col("__ok") === col("__node"))
          .drop("__ok")
      case None => ranked
    }, k)
  }

  /** The recorded ACORN beam guidance AS CODE (round-16 verdict ask
    * #4): the clustered-corpus sweep (BASELINE.md rounds 15-16)
    * measures recall@10 at rounds 3 as ~0.74-0.77 at beam 8 and
    * ~0.85 at beam 16 for EVERY selectivity in 1/2-1/8, with only
    * beam 32 holding >= 0.9 (0.90/0.94/0.95 — flat in selectivity).
    * So the choice is a STEP, not a ramp: any genuinely selective
    * predicate (selectivity below 0.9) gets beam 32; a
    * near-pass-through filter keeps the base beam 8 (at selectivity
    * → 1 the walk degenerates to the unfiltered [[searchAll]], whose
    * defaults are the nsw-family sweep's). Beam widening is cheap
    * where it matters — per-round cost is |queries| × beam × degree²,
    * corpus-size-independent — which is why the step costs less than
    * the recall it buys.
    */
  def acornAutoBeam(selectivity: Double): Int = {
    require(selectivity > 0 && selectivity <= 1,
      s"selectivity $selectivity must be in (0, 1]")
    if (selectivity >= 0.9) DefaultBeam else 32
  }

  /** [[searchAllAcorn]] with the beam CHOSEN from the predicate's
    * measured selectivity — one count over the (id-only) `allowed`
    * scan against the corpus size. Pass `corpusSize` when the caller
    * already knows it (it almost always does — the embedding table's
    * count); otherwise it is derived from the distinct sources of the
    * search's one edge cut, which the search then reuses.
    */
  def searchAllAcornAuto(edges: DataFrame,
      hubs: Array[(Long, Array[Float])], queries: DataFrame,
      allowed: DataFrame, k: Int, rounds: Int = 3,
      corpusSize: Option[Long] = None): DataFrame = {
    val e = searchEdges(edges, rounds)
    val nAllowed = allowed.select(col(IdCol)).distinct().count()
    val nCorpus = corpusSize.getOrElse(e.select(col("src")).distinct().count())
    require(nCorpus > 0, "empty index")
    // An empty allowed set means no node may rank — the explicit
    // [[searchAllAcorn]] path returns an empty result for it, and the
    // auto wrapper must not be stricter than the API it wraps
    // (selectivity 0 would trip acornAutoBeam's (0, 1] guard).
    val beam =
      if (nAllowed == 0) DefaultBeam
      else acornAutoBeam(math.min(1.0, nAllowed.toDouble / nCorpus.toDouble))
    acorn(e, hubs, queries, allowed, k, beam, rounds)
  }

  /** ACORN-style FILTERED beam search — predicate-aware expansion
    * (ACORN-1's two-hop rule; Patel et al. 2024, "ACORN: Performant
    * and Predicate-Agnostic Search Over Vector Embeddings and
    * Structured Data"). [[searchAll]]'s route-all/rank-allowed
    * filtering wastes beam slots on non-matching nodes: at
    * selectivity 1/8 the recorded recall curve collapses to
    * 0.26–0.41 (BASELINE.md round-14 sweep). Here the traversal
    * stays on the FILTERED subgraph — every candidate and frontier
    * node passes the predicate, so every beam slot holds a rankable
    * match — and connectivity is restored by the two-hop rule: a
    * one-hop neighbor that FAILS the filter does not rank or join
    * the frontier, but its own neighbors that PASS become candidates
    * too. Effective filtered degree ≈ d·s + d²·(1−s)·s (s =
    * selectivity, d = capped degree), so the walk stays navigable
    * down to s ≈ 1/d while beam stays small.
    *
    * Cost bound per round: the one-hop join is |queries| × beam ×
    * degree rows and the two-hop join ≤ |queries| × beam × degree²
    * — degree is capped (2m knn / hubDegree hubs), so the bound is
    * corpus-size-independent like the unfiltered beam. The frontier
    * and candidate accumulations are always the BROADCAST side; the
    * edge cut and the (possibly corpus-scale) `allowed` id set
    * stream in place. `allowed` is scanned twice per round (the
    * pass-split of one-hop and two-hop candidates) — the price of
    * predicate-aware traversal; keep it a slim id column (it prunes
    * to an id-only columnar scan).
    *
    * Entry stays the unfiltered hub layer (hubs are routing
    * geometry); an entry hub may RANK only if live — confirmed by
    * the round-1 expansion, the [[searchAll]] discipline — AND
    * passing. Output shape and tie-breaks are [[searchAll]]'s.
    */
  def searchAllAcorn(edges: DataFrame, hubs: Array[(Long, Array[Float])],
      queries: DataFrame, allowed: DataFrame, k: Int, beam: Int = DefaultBeam,
      rounds: Int = 3): DataFrame =
    acorn(searchEdges(edges, rounds), hubs, queries, allowed, k, beam, rounds)

  /** [[searchAllAcorn]] over the search's edge cut `e`. */
  private def acorn(e: DataFrame, hubs: Array[(Long, Array[Float])],
      queries: DataFrame, allowed: DataFrame, k: Int, beam: Int,
      rounds: Int): DataFrame = {
    val q = queries.select(col(QidCol).as("__qid"), col(QvecCol).as("__qv"))
    val ok = allowed.select(col(IdCol).as("__node")).distinct()
    val entryAll = hubScores(e.sparkSession, hubs, q).drop("__qv")
    // TWO entry beams: the top hubs overall (routing geometry — the
    // unfiltered [[searchAll]] entry) UNION the top PASSING hubs.
    // The second beam is what makes predicate-CORRELATED filters
    // navigable: when the predicate selects whole semantic regions
    // (e.g. "source = web" and sources cluster), the query's own
    // region may contain no match at all — the nearest hubs route
    // inward, and a filtered traversal confined to the allowed
    // subgraph can never leave. Seeding the beam with the nearest
    // allowed-region hubs enters the right clusters directly
    // (ACORN's predicate-subgraph entry, hub-layer edition).
    val entry = topBeam(entryAll, beam)
      .unionByName(topBeam(ok.join(broadcast(entryAll), Seq("__node"))
        .select(col("__qid"), col("__node"), col("cosine")), beam))
      .groupBy(col("__qid"), col("__node"))
      .agg(first(col("cosine")).as("cosine"))
      .transform(SessionCache.cut(_, eager = true))
    // visited tracks (query, node) pairs only — scoring re-derives
    // cosine from dst_vec, so the accumulation stays 2 columns wide
    var visited = entry.select(col("__qid"), col("__node"))
    var ranked: DataFrame = null
    var frontier = visited
    // dedup (query, candidate) and keep ONE dst_vec before the
    // pass-split — a node reachable over several edges must not
    // multiply the allowed-scan or the scoring
    def dedup(cand: DataFrame): DataFrame = cand
      .select(col("__qid"), col("dst").as("__node"), col("dst_vec"))
      .groupBy(col("__qid"), col("__node"))
      .agg(first(col("dst_vec")).as("__vec"))
    // membership check broadcasts ONLY (query, node) ids — dim-float
    // vectors would inflate the broadcast ~64×; the vector re-attaches
    // from the (small) candidate frame afterwards, small × small
    def passing(cand: DataFrame): DataFrame = {
      val passIds = ok
        .join(broadcast(cand.select(col("__qid"), col("__node"))),
          Seq("__node"))
        .select(col("__qid"), col("__node"))
      cand.join(broadcast(passIds), Seq("__qid", "__node"))
        .select(col("__qid"), col("__node"), col("__vec"))
    }
    for (r <- 0 until rounds) {
      val oneHop = broadcast(frontier).join(e, col("__node") === col("src"))
      // live + passing entry hubs may rank
      if (r == 0)
        ranked = ok.join(broadcast(liveEntry(entry, oneHop)), Seq("__node"))
          .select(col("__qid"), col("__node"), col("cosine"))
          .transform(SessionCache.cut(_, eager = true))
      val cand1 = dedup(oneHop)
      val pass1 = passing(cand1)
      // the failing one-hop set bridges: ITS neighbors that pass are
      // candidates too (fail = cand1 minus pass1 — computed against
      // the small pass set, never an anti-join streaming `allowed`)
      val bridge = cand1
        .join(pass1.select(col("__qid"), col("__node")),
          Seq("__qid", "__node"), "left_anti")
        .select(col("__qid"), col("__node"))
      val twoHop = broadcast(bridge).join(e, col("__node") === col("src"))
      val pass2 = passing(dedup(twoHop))
      val scored = pass1.unionByName(pass2)
        .groupBy(col("__qid"), col("__node"))
        .agg(first(col("__vec")).as("__vec"))
        .join(broadcast(q), Seq("__qid"))
        .select(col("__qid"), col("__node"),
          rankCosine(col("__vec"), col("__qv")).as("cosine"))
      val fresh = scored
        .join(visited, Seq("__qid", "__node"), "left_anti")
        .transform(SessionCache.cut(_, eager = true))
      // unions of cut legs, as in [[searchAll]]
      visited = visited.unionByName(fresh.select(col("__qid"), col("__node")))
      ranked = ranked.unionByName(fresh)
      frontier = topBeam(fresh, beam).select(col("__qid"), col("__node"))
    }
    topK(ranked, k)
  }

  /** Diagnostic: the append candidate-pair VOLUME — Σ over shared
    * buckets of |batch ∩ b| × |corpus ∩ b| after the hot-bucket guard,
    * i.e. the row count the kNN candidate join shuffles before any
    * top-m pruning. Computed from per-bucket COUNTS (two aggregations
    * + a count-product sum — no pair join runs), so it is
    * load-independent: the cost-model number BASELINE.md's decade
    * rows track. `dim` is required here (no hub array to infer from).
    */
  def appendCandidateMass(batch: DataFrame, corpus: DataFrame, dim: Int,
      m: Int = DefaultM, splitBucket: Option[Long] = Some(AutoSplit)): Long = {
    val (all, batchBucketed) =
      bucketed(batch, corpus, resolveSplit(splitBucket, m), dim)
    val corpusCounts = all.groupBy(col("__b"))
      .agg(count(lit(1)).as("__nc"))
      .where(col("__nc") <= MaxBucket)
    val row = batchBucketed.groupBy(col("__b"))
      .agg(count(lit(1)).as("__nb"))
      .join(corpusCounts, Seq("__b"))
      .agg(sum(col("__nb") * col("__nc")))
      .head()
    if (row.isNullAt(0)) 0L else row.getLong(0) // no shared buckets
  }

  private def tombstonePath(path: String) = s"${path}_tombstones"

  /** The production sub-bucket target (round-17, verdict ask #2):
    * ~8×m keeps each refined bucket a few beam-widths deep — small
    * enough that per-bucket pair mass stays ~target×n (measured
    * 11.8×/decade vs 100×/decade unsplit on the docs corpus,
    * BASELINE.md round 16), large enough that a node's true top-m
    * neighbors rarely straddle a refinement boundary (recall cost
    * ≤ 0.011 at every measured target, and the dual-refinement
    * construction halves even that boundary loss).
    */
  def productionSplit(m: Int = DefaultM): Option[Long] = Some(8L * m)

  /** Sentinel target meaning "derive [[productionSplit]] from this
    * call's `m`" — a default parameter cannot reference a sibling
    * parameter, so the derivation happens in the body.
    */
  val AutoSplit: Long = -1L

  /** Materialize the graph index: edges under `batch=<batchId>`.
    * A fresh index clears the path and any stale tombstones first
    * (the [[Similarity.writeIvfIndex]] discipline).
    *
    * `splitBucket` DEFAULTS to the scale-safe [[productionSplit]]
    * (round-17, verdict ask #2): a production caller gets the
    * measured-linear pair construction without reading any scaladoc —
    * the 100×/decade unsplit shape is now strictly opt-OUT. The
    * oracle-pinned gate paths (p132 family) pass `splitBucket = None`
    * EXPLICITLY: their DuckDB oracles replay the unsplit construction
    * verbatim, and that pin is a per-call statement, not the API's
    * default posture. At sub-target bucket density the two
    * constructions are bit-identical (GraphAnnSpec's inactive-split
    * law), so small deployments lose nothing.
    */
  def writeIndex(emb: DataFrame, hubs: Array[(Long, Array[Float])],
      path: String, m: Int = DefaultM, hubDegree: Int = DefaultHubDegree,
      batchId: String = "base",
      splitBucket: Option[Long] = Some(AutoSplit)): Unit = {
    val hconf = emb.sparkSession.sparkContext.hadoopConfiguration
    Seq(path, tombstonePath(path)).foreach { dpath =>
      val p = new org.apache.hadoop.fs.Path(dpath)
      val fs = p.getFileSystem(hconf)
      if (fs.exists(p)) fs.delete(p, true)
    }
    buildEdges(emb, hubs, m, hubDegree, splitBucket)
      .write.mode("overwrite").parquet(s"$path/batch=$batchId")
  }

  /** Link a new embedding batch into an existing index WITHOUT
    * rebuilding — the HNSW insertion shape, batch-proportional:
    * candidates are (batch node) x (bucket-mate anywhere in
    * `corpus`), so the shuffled pair volume is |batch| x bucket
    * density, never corpus x corpus (the one full-corpus cost is the
    * bucketing scan itself — one pass, no shuffle). Each batch node
    * keeps its top-`m` candidates; the REVERSED set gives existing
    * nodes their links INTO the batch (bidirectional insertion);
    * batch nodes also get their hub up-link and compete for
    * per-(hub, bucket) downlink quota AMONG THE BATCH (old downlinks
    * stay in their own batch dirs). Hub geometry and bucket planes
    * are fixed (the IVF-centroid discipline). Existing nodes' stored
    * degree creeps past the caps across appends; [[compactIndex]]
    * re-caps. Idempotent per batchId.
    *
    * `splitBucket` (round 17): "batch-proportional" hides a growth
    * term — bucket DENSITY is ∝ corpus/2^Bits, so each append's pair
    * volume grows linearly with the corpus and the total over a
    * corpus's lifetime goes quadratic, the same superlinear edge the
    * build closed in round 16. The default is therefore the same
    * scale-safe sub-bucketed candidate step ([[productionSplit]] via
    * the [[AutoSplit]] sentinel): BOTH sides refine on CORPUS
    * density, capping per-append pair volume at
    * ~2 × |batch| × target. Gate paths (p135, st41) pin
    * `None` — their oracles replay the coarse-bucket candidates
    * verbatim; at sub-target density the two constructions are
    * bit-identical (GraphAnnSpec).
    */
  def appendToIndex(batch: DataFrame, corpus: DataFrame,
      hubs: Array[(Long, Array[Float])], path: String, batchId: String,
      m: Int = DefaultM, hubDegree: Int = DefaultHubDegree,
      splitBucket: Option[Long] = Some(AutoSplit)): Unit = {
    val (knn, hub) = linkEdges(batch, corpus, hubs, m, hubDegree, splitBucket)
    knn.unionByName(hub)
      .write.mode("overwrite").parquet(s"$path/batch=$batchId")
  }

  /** Logical eviction: ids written under the sibling tombstone table;
    * [[readEdges]] drops every edge touching them. Physical removal
    * happens at [[compactIndex]]. Idempotent per batchId.
    */
  def tombstoneIndex(removedIds: DataFrame, path: String, batchId: String): Unit =
    removedIds.select(col(IdCol)).distinct()
      .write.mode("overwrite").parquet(s"${tombstonePath(path)}/batch=$batchId")

  /** `edges` without the edges touching an id tombstoned under
    * `path`, on BOTH endpoints (an evicted vector must neither rank
    * nor route); `edges` itself when nothing is tombstoned.
    */
  private def dropTombstoned(spark: SparkSession, path: String,
      edges: DataFrame): DataFrame = {
    val tp = new org.apache.hadoop.fs.Path(tombstonePath(path))
    if (!tp.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(tp))
      edges
    else {
      val dead = spark.read.parquet(tombstonePath(path))
        .select(col(IdCol).as("__dead")).distinct()
      edges.join(broadcast(dead), col("src") === col("__dead"), "left_anti")
        .join(broadcast(dead), col("dst") === col("__dead"), "left_anti")
    }
  }

  /** The index's live edge set: batches unioned, tombstoned ids
    * excluded.
    */
  def readEdges(spark: SparkSession, path: String): DataFrame =
    dropTombstoned(spark, path, spark.read.parquet(path)
      .select(col("src"), col("dst"), col("dst_vec"), col("cosine"), col("kind")))

  /** Fold `batch=` dirs into one (`batch=compacted`), apply tombstones
    * physically, and restore the per-(src, kind) degree invariant
    * (top-2m knn / top-hubDegree hub by cosine, ascending-dst
    * tie-break) that appends let creep. Returns batches folded.
    */
  def compactIndex(spark: SparkSession, path: String,
      m: Int = DefaultM, hubDegree: Int = DefaultHubDegree): Int = {
    val w = Window.partitionBy(col("src"), col("kind"))
      .orderBy(col("cosine").desc, col("dst").asc)
    def recap(df: DataFrame): DataFrame =
      dropTombstoned(spark, path, df)
        .groupBy(col("src"), col("dst"), col("kind"))
        .agg(first(col("dst_vec")).as("dst_vec"), max(col("cosine")).as("cosine"))
        .withColumn("__r", row_number().over(w))
        .where(col("__r") <= when(col("kind") === "hub", hubDegree)
          .otherwise(lit(2 * m)))
        .select(col("src"), col("dst"), col("dst_vec"), col("cosine"), col("kind"))
    val merged = IndexCompaction.compact(spark, path, "compacted", Nil,
      None, recap)
    val tp = new org.apache.hadoop.fs.Path(tombstonePath(path))
    val fs = tp.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(tp)) fs.delete(tp, true)
    merged
  }
}
