package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}
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
  *    Buckets larger than `maxBucket` are DROPPED from the pair
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
  * O(|queries| x beam x degree) — corpus-size-independent.
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

  private def rankCosine(a: org.apache.spark.sql.Column,
      b: org.apache.spark.sql.Column) =
    when(Similarity.norm(a) > 0 && Similarity.norm(b) > 0,
      Similarity.cosine(a, b))

  /** Sub-bucketed pair-candidate frame — the `splitBucket` machinery
    * shared by [[buildEdges]] and [[appendToIndex]]. TWO
    * independently-seeded refinements: a sub-bucket split on one
    * plane set loses exactly the neighbor pairs the split planes
    * separate; a second refinement on DIFFERENT planes keeps a pair
    * together unless BOTH splits separate it (survival 1-(1-q)² vs
    * q). Each node in a hot bucket carries two refined bucket ids —
    * pair mass 2 × n × target, still linear — and the downstream
    * (src, dst) dedup folds pairs found by both refinements.
    * Refinement r uses planes [bits + r·maxExtraBits,
    * bits + r·maxExtraBits + e); the refined id gets the refinement
    * index mixed in ABOVE the mask so the two refinements' buckets
    * never alias each other.
    *
    * `countSource` is the frame whose DENSITY drives the per-bucket
    * refinement depth e = ceil(log2(n_bucket/target)): the build
    * refines on itself; the append path refines BOTH sides on the
    * CORPUS (a batch's own counts say nothing about how hot a bucket
    * is, and the two sides must agree on e per coarse bucket or
    * their refined ids never meet). Both frames are (__id, __v);
    * output (__id, __v, __b) with one or two refined ids per node,
    * eagerly cut ([[SessionCache.cut]]) — the refined frame is
    * consumed several times downstream (maxBucket guard + pair sides)
    * and its plan embeds a join + aggregate; re-running it per
    * consumer measurably tripled the split build's cost.
    */
  private def refineBucketed(base: DataFrame, countSource: DataFrame,
      target: Long, bits: Int, maxExtraBits: Int, d: Int): DataFrame = {
    require(target > 0, s"splitBucket target $target must be positive")
    // coarse-bucket density: lshBucket(bits) IS the wide code's low
    // `bits` bits (plane b is seeded by its index alone — the prefix
    // property), so counting on it matches the refined codes below
    val counts = countSource
      .withColumn("__b0", Similarity.lshBucket(col("__v"), bits, d))
      .where(col("__b0").isNotNull)
      .groupBy(col("__b0")).agg(count(lit(1)).as("__n"))
    base
      .withColumn("__bf",
        Similarity.lshBucket(col("__v"), bits + 2 * maxExtraBits, d))
      .where(col("__bf").isNotNull)
      .withColumn("__b0", col("__bf").bitwiseAND(lit((1L << bits) - 1)))
      .join(broadcast(counts), Seq("__b0"))
      .withColumn("__e",
        least(lit(maxExtraBits), greatest(lit(0),
          ceil(log(2.0, col("__n").cast("double") / target))))
          .cast("int"))
      .select(col("__id"), col("__v"),
        explode(when(col("__e") > 0, array(
          expr(s"__b0 | (((__bf >> $bits) & " +
            s"(shiftleft(CAST(1 AS BIGINT), __e) - 1)) << $bits)"),
          expr(s"__b0 | (((__bf >> ${bits + maxExtraBits}) & " +
            s"(shiftleft(CAST(1 AS BIGINT), __e) - 1)) << $bits) | " +
            s"(CAST(1 AS BIGINT) << ${bits + maxExtraBits + 1})")))
          // unsplit buckets carry ONE id — the second refinement
          // would just duplicate every pair
          .otherwise(array(col("__b0"))))
          .as("__b"))
      .transform(SessionCache.cut(_, eager = true))
  }

  /** The edge table: (src, dst, dst_vec, cosine, kind) with
    * kind = 'knn' | 'hub'. `dst_vec` inline is what frees search
    * from re-joining the corpus every round.
    *
    * `splitBucket` (round-16, verdict ask #5 — the build's one
    * superlinear edge): the kNN pair step is quadratic PER BUCKET, so
    * as a growing corpus densifies its LSH buckets the pair mass
    * grows ~n²/2^bits (measured 4.3×/decade on the docs corpus).
    * With `splitBucket = Some(target)`, any coarse bucket larger than
    * `target` is SUB-BUCKETED on extra hash bits — `lshBucket`'s
    * prefix property (plane b is seeded by its index alone) means the
    * (bits + e)-bit code's low `bits` bits ARE the coarse bucket, so
    * refinement just widens the mask by
    * ceil(log2(n_bucket / target)) bits (capped at `maxExtraBits`,
    * the [[Dedup]] hot-bucket-cap discipline). Pair mass per hot
    * bucket falls ~2^e, restoring LINEAR pair growth — measured
    * exactly on the docs decade (BASELINE.md round 16): 100×/decade
    * unsplit vs 11.8×/decade at target 64; wall clock at small
    * fixtures is overhead-dominated and understates the asymptotic
    * win. Recall cost on the clustered reference corpus is ≤ 0.011
    * at every measured target (the DUAL refinement below is what
    * closes the plane-boundary loss; GraphAnnSpec pins ≥ 0.9 with an
    * aggressive split). Default None preserves the exact gate-pinned
    * construction; deployments at growing corpus sizes should SET it
    * (≈ 8×m — 64 for the default m).
    */
  def buildEdges(emb: DataFrame, hubs: Array[(Long, Array[Float])],
      m: Int = DefaultM, bits: Int = 4, dim: Option[Int] = None,
      hubDegree: Int = DefaultHubDegree, maxBucket: Long = 100000L,
      splitBucket: Option[Long] = None, maxExtraBits: Int = 6,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    require(hubs.nonEmpty, "empty hub list")
    // The split path draws planes up to index bits + 2*maxExtraBits - 1
    // (two independently-seeded refinements) and mixes a discriminator
    // at bit bits + maxExtraBits + 1; Spark's shiftleft wraps the shift
    // count mod 64, so a looser guard would let accepted
    // parameterizations silently alias plane bits into low positions
    // (corrupted sub-bucket ids, degraded recall, no error).
    require(maxExtraBits >= 0 && bits + 2 * maxExtraBits <= 61,
      s"bits=$bits + 2*maxExtraBits=${2 * maxExtraBits} out of range " +
        "(need bits + 2*maxExtraBits <= 61)")
    val d = dim.getOrElse(hubs.head._2.length)
    val base = emb.select(col(idCol).as("__id"), col(vecCol).as("__v"))
    val bucketed = splitBucket match {
      case None =>
        base.withColumn("__b", Similarity.lshBucket(col("__v"), bits, d))
          .where(col("__b").isNotNull)
      case Some(target) =>
        refineBucketed(base, base, target, bits, maxExtraBits, d)
    }
    // hot-bucket guard: a degenerate region must not go quadratic
    val kept = bucketed.join(
      bucketed.groupBy(col("__b")).agg(count(lit(1)).as("__n"))
        .where(col("__n") <= maxBucket).select(col("__b")),
      Seq("__b"))
    val a = kept.select(col("__b"), col("__id").as("src"),
      col("__v").as("src_vec"))
    val b = kept.select(col("__b"), col("__id").as("dst"),
      col("__v").as("dst_vec"))
    val pairs0 = a.join(b, Seq("__b")).where(col("src") =!= col("dst"))
      .select(col("src"), col("src_vec"), col("dst"), col("dst_vec"),
        rankCosine(col("src_vec"), col("dst_vec")).as("cosine"))
    // dual-refinement dedup (split mode only): a pair both refinements
    // kept together appears twice and would eat two of the m slots;
    // the unsplit path has no duplicates and keeps its pinned plan
    val pairs =
      if (splitBucket.isEmpty) pairs0
      else pairs0.groupBy(col("src"), col("dst"))
        .agg(first(col("src_vec")).as("src_vec"),
          first(col("dst_vec")).as("dst_vec"),
          max(col("cosine")).as("cosine"))
        .select(col("src"), col("src_vec"), col("dst"), col("dst_vec"),
          col("cosine"))
    val wSrc = Window.partitionBy(col("src"))
      .orderBy(col("cosine").desc, col("dst").asc)
    val topM = pairs
      .withColumn("__r", row_number().over(wSrc))
      .where(col("__r") <= m)
    // symmetrize: reverse links make popular nodes reachable; a
    // reversed edge needs the SRC vector as its dst_vec. Then PRUNE
    // back to 2m per src (HNSW's M_max discipline): a node popular
    // with a whole region would otherwise reflect its unbounded
    // in-degree back as out-degree, and beam expansion cost is
    // beam x degree — the cap is what makes that bound real.
    val knn = topM.select(col("src"), col("dst"), col("dst_vec"), col("cosine"))
      .unionByName(topM.select(col("dst").as("src"), col("src").as("dst"),
        col("src_vec").as("dst_vec"), col("cosine")))
      .groupBy(col("src"), col("dst"))
      .agg(first(col("dst_vec")).as("dst_vec"), max(col("cosine")).as("cosine"))
      .withColumn("__r", row_number().over(wSrc))
      .where(col("__r") <= 2 * m).drop("__r")
      .withColumn("kind", lit("knn"))
    // hub layer: node -> assigned hub, hub -> assigned nodes. The
    // downlink budget is spent PER (hub, fine LSH bucket), not
    // globally by cosine: a hub's nearest semantic cluster would
    // otherwise monopolize all hubDegree slots and every other
    // cluster assigned to that hub would be unreachable from the
    // entry layer (measured: recall 0.29 at 20k/200 clusters with
    // global top-64 vs the bucket-quota's coverage — clusters
    // concentrate in fine buckets, so a per-bucket quota gives each
    // semantic region of the cell its own doors).
    val hubDf = {
      val s = emb.sparkSession
      import s.implicits._
      hubs.toSeq.toDF("hub_id", "hub_vec")
        .select(col("hub_id"), col("hub_vec").cast("array<float>").as("hub_vec"))
    }
    val assigned = Similarity.assignCells(
      emb.select(col(idCol).as("__id"), col(vecCol).as("__v")),
      hubs, "__v", "__hub")
      .join(broadcast(hubDf), col("__hub") === col("hub_id"))
      .select(col("__id"), col("__v"), col("hub_id"), col("hub_vec"),
        Similarity.lshBucket(col("__v"), bits, d).as("__b"),
        rankCosine(col("__v"), col("hub_vec")).as("cosine"))
    val up = assigned.where(col("__id") =!= col("hub_id"))
      .select(col("__id").as("src"), col("hub_id").as("dst"),
        col("hub_vec").as("dst_vec"), col("cosine"), lit("hub").as("kind"))
    val quota = math.max(1, hubDegree >> bits)
    val wHubBucket = Window.partitionBy(col("hub_id"), col("__b"))
      .orderBy(col("cosine").desc, col("__id").asc)
    val wHub = Window.partitionBy(col("hub_id"))
      .orderBy(col("cosine").desc, col("__id").asc)
    val down = assigned.where(col("__id") =!= col("hub_id"))
      .withColumn("__rq", row_number().over(wHubBucket))
      .where(col("__rq") <= quota)
      .withColumn("__r", row_number().over(wHub))
      .where(col("__r") <= hubDegree)
      .select(col("hub_id").as("src"), col("__id").as("dst"),
        col("__v").as("dst_vec"), col("cosine"), lit("hub").as("kind"))
    knn.unionByName(up).unionByName(down)
  }

  /** Beam search over an edge table for a batch of queries.
    * Output: (query_id, <idCol>, cosine, rank) — the
    * [[Similarity.bruteSearchAll]] shape, rank 1-based with
    * ascending-id tie-break; self-matches excluded. The QUERY BATCH
    * rides as a broadcast (the batched-trio contract: queries are
    * small, the index is the big side) — a corpus-scale self-kNN
    * join wants [[Similarity]]'s bucketed pair machinery instead.
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
      queries: DataFrame, k: Int, beam: Int = 8, rounds: Int = 3,
      idCol: String = "vec_id",
      qidCol: String = "query_id", qvecCol: String = "query_vec",
      allowed: Option[DataFrame] = None): DataFrame = {
    val spark = edges.sparkSession
    import spark.implicits._
    val q = queries.select(col(qidCol).as("__qid"), col(qvecCol).as("__qv"))
    val hubDf = hubs.toSeq.toDF("__hid", "__hv")
      .select(col("__hid"), col("__hv").cast("array<float>").as("__hv"))
    val wq = Window.partitionBy(col("__qid"))
      .orderBy(col("cosine").desc, col("__node").asc)
    // entry: top-beam hubs per query — the hub list is tiny and rides
    // as a broadcast; no corpus scan happens anywhere in the search
    val entry = hubDf.crossJoin(broadcast(q))
      .select(col("__qid"), col("__qv"), col("__hid").as("__node"),
        rankCosine(col("__hv"), col("__qv")).as("cosine"))
      .withColumn("__r", row_number().over(wq)).where(col("__r") <= beam)
      .drop("__r")
    // hubs are ROUTING points first: an entry hub may RANK only if
    // the live edge table confirms it (any out-edge — every live node
    // has its up-link or knn edges; a TOMBSTONED hub has none, because
    // eviction strips every edge touching it). The caller's hub list
    // is driver-held geometry, like IVF centroids — it cannot know
    // about deletions, so the index itself must arbitrate. Without
    // this, a deleted corpus row that happened to be a hub would keep
    // ranking forever (GraphAnnPropertiesSpec pins the law). The
    // confirmation rides the FIRST expansion join (every entry node
    // is in the round-1 frontier, so a live hub necessarily surfaces
    // there as a src) — never a corpus-scale `edges.src.distinct()`.
    var visited = SessionCache.cut(entry, eager = true)
    var ranked: DataFrame = null
    var frontier = visited
    for (r <- 0 until rounds) {
      // the frontier is |queries| x beam rows by construction — pin it
      // as the BROADCAST side so the edge table streams in place
      // (a cut frontier has no stats, and a planner-chosen
      // sort-merge join would shuffle the whole edge table per round)
      val joined = broadcast(frontier)
        .join(edges.select(col("src"), col("dst"), col("dst_vec")),
          col("__node") === col("src"))
      if (r == 0) {
        val liveSrc = joined.select(col("src")).distinct()
        ranked = entry.join(broadcast(liveSrc),
          col("__node") === col("src"), "left_semi")
          .transform(SessionCache.cut(_, eager = true))
      }
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
      // visited/ranked are UNIONS of already-cut rounds —
      // re-cutting the union each round just re-materializes
      // the same blocks (measured: 3 of the 9 eager materializations
      // per search were these re-pins); a depth-≤rounds union of
      // cut legs scans cheaply and recomputes nothing
      visited = visited.unionByName(fresh)
      ranked = ranked.unionByName(fresh)
      frontier = fresh
        .withColumn("__r", row_number().over(wq)).where(col("__r") <= beam)
        .drop("__r")
    }
    // rounds == 0 (degenerate): fall back to the direct confirmation
    if (ranked == null)
      ranked = entry.join(edges.select(col("src")).distinct(),
        col("__node") === col("src"), "left_semi")
    // rank-time filter: visited stays unrestricted (routing), the
    // rankable set intersects `allowed`. The visited accumulation is
    // the SMALL side — broadcast it and stream the allowed table;
    // project the query vector away first (the final ranking needs
    // only id/node/cosine, and __qv is dim floats per visited row).
    ranked = allowed match {
      case Some(a) =>
        a.select(col(idCol).as("__ok")).distinct()
          .join(broadcast(ranked
            .select(col("__qid"), col("__node"), col("cosine"))),
            col("__ok") === col("__node"))
          .drop("__ok")
      case None => ranked
    }
    ranked.where(col("__node") =!= col("__qid"))
      .select(col("__qid").as(qidCol), col("__node").as(idCol), col("cosine"))
      .withColumn("rank", row_number().over(
        Window.partitionBy(col(qidCol))
          .orderBy(col("cosine").desc, col(idCol).asc)))
      .where(col("rank") <= k)
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
    * edge table and the (possibly corpus-scale) `allowed` id set
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
  /** The recorded ACORN beam guidance AS CODE (round-16 verdict ask
    * #4): the clustered-corpus sweep (BASELINE.md rounds 15-16)
    * measures recall@10 at rounds 3 as ~0.74-0.77 at beam 8 and
    * ~0.85 at beam 16 for EVERY selectivity in 1/2-1/8, with only
    * beam 32 holding >= 0.9 (0.90/0.94/0.95 — flat in selectivity).
    * So the choice is a STEP, not a ramp: any genuinely selective
    * predicate gets the wide beam; a near-pass-through filter keeps
    * the base beam (at selectivity → 1 the walk degenerates to the
    * unfiltered [[searchAll]], whose defaults are the nsw-family
    * sweep's). Beam widening is cheap where it matters — per-round
    * cost is |queries| × beam × degree², corpus-size-independent —
    * which is why the step costs less than the recall it buys.
    */
  def acornAutoBeam(selectivity: Double, base: Int = 8, wide: Int = 32,
      cutoff: Double = 0.9): Int = {
    require(selectivity > 0 && selectivity <= 1,
      s"selectivity $selectivity must be in (0, 1]")
    if (selectivity >= cutoff) base else wide
  }

  /** [[searchAllAcorn]] with the beam CHOSEN from the predicate's
    * measured selectivity — one count over the (id-only) `allowed`
    * scan against the corpus size. Pass `corpusSize` when the caller
    * already knows it (it almost always does — the embedding table's
    * count); otherwise it is derived from the edge table's distinct
    * sources, one id-only columnar pass.
    */
  def searchAllAcornAuto(edges: DataFrame,
      hubs: Array[(Long, Array[Float])], queries: DataFrame,
      allowed: DataFrame, k: Int, rounds: Int = 3,
      corpusSize: Option[Long] = None, idCol: String = "vec_id",
      qidCol: String = "query_id", qvecCol: String = "query_vec"): DataFrame = {
    val nAllowed = allowed.select(col(idCol)).distinct().count()
    val nCorpus = corpusSize.getOrElse(
      edges.select(col("src")).distinct().count())
    require(nCorpus > 0, "empty index")
    // An empty allowed set means no node may rank — the explicit
    // [[searchAllAcorn]] path returns an empty result for it, and the
    // auto wrapper must not be stricter than the API it wraps
    // (selectivity 0 would trip acornAutoBeam's (0, 1] guard).
    if (nAllowed == 0)
      searchAllAcorn(edges, hubs, queries, allowed, k, rounds = rounds,
        idCol = idCol, qidCol = qidCol, qvecCol = qvecCol)
    else {
      val beam = acornAutoBeam(
        math.min(1.0, nAllowed.toDouble / nCorpus.toDouble))
      searchAllAcorn(edges, hubs, queries, allowed, k, beam = beam,
        rounds = rounds, idCol = idCol, qidCol = qidCol, qvecCol = qvecCol)
    }
  }

  def searchAllAcorn(edges: DataFrame, hubs: Array[(Long, Array[Float])],
      queries: DataFrame, allowed: DataFrame, k: Int, beam: Int = 8,
      rounds: Int = 3, idCol: String = "vec_id",
      qidCol: String = "query_id", qvecCol: String = "query_vec"): DataFrame = {
    val spark = edges.sparkSession
    import spark.implicits._
    val q = queries.select(col(qidCol).as("__qid"), col(qvecCol).as("__qv"))
    val ok = allowed.select(col(idCol).as("__node")).distinct()
    val hubDf = hubs.toSeq.toDF("__hid", "__hv")
      .select(col("__hid"), col("__hv").cast("array<float>").as("__hv"))
    val wq = Window.partitionBy(col("__qid"))
      .orderBy(col("cosine").desc, col("__node").asc)
    val entryAll = hubDf.crossJoin(broadcast(q))
      .select(col("__qid"), col("__hid").as("__node"),
        rankCosine(col("__hv"), col("__qv")).as("cosine"))
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
    val entry = entryAll
      .withColumn("__r", row_number().over(wq)).where(col("__r") <= beam)
      .drop("__r")
      .unionByName(
        ok.join(broadcast(entryAll), Seq("__node"))
          .select(col("__qid"), col("__node"), col("cosine"))
          .withColumn("__r", row_number().over(wq)).where(col("__r") <= beam)
          .drop("__r"))
      .groupBy(col("__qid"), col("__node"))
      .agg(first(col("cosine")).as("cosine"))
      .transform(SessionCache.cut(_, eager = true))
    // visited tracks (query, node) pairs only — scoring re-derives
    // cosine from dst_vec, so the accumulation stays 2 columns wide
    var visited = entry.select(col("__qid"), col("__node"))
      .transform(SessionCache.cut(_, eager = true))
    var ranked: DataFrame = null
    var frontier = entry.select(col("__qid"), col("__node"))
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
      val oneHop = broadcast(frontier)
        .join(edges.select(col("src"), col("dst"), col("dst_vec")),
          col("__node") === col("src"))
      if (r == 0) {
        // live + passing entry hubs may rank (tombstoned hubs have no
        // out-edges, so the first expansion's src set arbitrates)
        val liveSrc = oneHop.select(col("src")).distinct()
        val entryLive = entry.join(broadcast(liveSrc),
          col("__node") === col("src"), "left_semi")
        ranked = ok.join(broadcast(entryLive), Seq("__node"))
          .select(col("__qid"), col("__node"), col("cosine"))
          .transform(SessionCache.cut(_, eager = true))
      }
      val cand1 = dedup(oneHop)
      val pass1 = passing(cand1)
      // the failing one-hop set bridges: ITS neighbors that pass are
      // candidates too (fail = cand1 minus pass1 — computed against
      // the small pass set, never an anti-join streaming `allowed`)
      val bridge = cand1
        .join(pass1.select(col("__qid"), col("__node")),
          Seq("__qid", "__node"), "left_anti")
        .select(col("__qid"), col("__node"))
      val twoHop = broadcast(bridge)
        .join(edges.select(col("src"), col("dst"), col("dst_vec")),
          col("__node") === col("src"))
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
      // NOTE: unlike [[searchAll]], the union re-cuts here are NOT
      // removable — the two-hop candidate plans re-reference the
      // union's attributes across rounds and an uncut plan trips
      // Catalyst exprId aliasing ("key not found: __node#…"); the
      // cut's LogicalRDD leaf is the plan-level lineage cut, not just
      // a perf pin
      visited = visited
        .unionByName(fresh.select(col("__qid"), col("__node")))
        .transform(SessionCache.cut(_, eager = true))
      ranked = SessionCache.cut(ranked.unionByName(fresh), eager = true)
      frontier = fresh
        .withColumn("__r", row_number().over(wq)).where(col("__r") <= beam)
        .select(col("__qid"), col("__node"))
    }
    // rounds == 0 (degenerate): direct live + pass confirmation
    if (ranked == null)
      ranked = ok.join(broadcast(
        entry.join(edges.select(col("src")).distinct(),
          col("__node") === col("src"), "left_semi")), Seq("__node"))
        .select(col("__qid"), col("__node"), col("cosine"))
    ranked.where(col("__node") =!= col("__qid"))
      .select(col("__qid").as(qidCol), col("__node").as(idCol), col("cosine"))
      .withColumn("rank", row_number().over(
        Window.partitionBy(col(qidCol))
          .orderBy(col("cosine").desc, col(idCol).asc)))
      .where(col("rank") <= k)
  }

  /** The append path's (corpus-side, batch-side) bucketed frames —
    * coarse when `effectiveSplit` is None, corpus-density dual-refined
    * otherwise. Shared by [[appendToIndex]] and the
    * [[appendCandidateMass]] diagnostic so the measured mass is the
    * mass of the frames the real append joins.
    */
  private def appendBucketed(batch: DataFrame, corpus: DataFrame,
      effectiveSplit: Option[Long], bits: Int, maxExtraBits: Int, d: Int,
      idCol: String, vecCol: String): (DataFrame, DataFrame) = {
    def baseOf(df: DataFrame) =
      df.select(col(idCol).as("__id"), col(vecCol).as("__v"))
    def coarse(df: DataFrame) =
      baseOf(df)
        .withColumn("__b", Similarity.lshBucket(col("__v"), bits, d))
        .where(col("__b").isNotNull)
    effectiveSplit match {
      case None => (coarse(corpus), coarse(batch))
      case Some(target) =>
        (refineBucketed(baseOf(corpus), baseOf(corpus), target, bits,
          maxExtraBits, d),
          refineBucketed(baseOf(batch), baseOf(corpus), target, bits,
            maxExtraBits, d))
    }
  }

  /** Diagnostic: the append candidate-pair VOLUME — Σ over shared
    * buckets of |batch ∩ b| × |corpus ∩ b| after the maxBucket guard,
    * i.e. the row count the kNN candidate join shuffles before any
    * top-m pruning. Computed from per-bucket COUNTS (two aggregations
    * + a count-product sum — no pair join runs), so it is
    * load-independent: the cost-model number BASELINE.md's decade
    * rows track. `dim` is required here (no hub array to infer from).
    */
  def appendCandidateMass(batch: DataFrame, corpus: DataFrame, dim: Int,
      m: Int = DefaultM, bits: Int = 4, maxBucket: Long = 100000L,
      splitBucket: Option[Long] = Some(AutoSplit), maxExtraBits: Int = 6,
      idCol: String = "vec_id", vecCol: String = "embedding"): Long = {
    val effectiveSplit =
      splitBucket.map(t => if (t == AutoSplit) 8L * m else t)
    val (all, batchBucketed) = appendBucketed(batch, corpus,
      effectiveSplit, bits, maxExtraBits, dim, idCol, vecCol)
    val corpusCounts = all.groupBy(col("__b"))
      .agg(count(lit(1)).as("__nc"))
      .where(col("__nc") <= maxBucket)
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
    * parameter, so the derivation happens in [[writeIndex]]'s body.
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
      path: String, m: Int = DefaultM, bits: Int = 4,
      dim: Option[Int] = None, hubDegree: Int = DefaultHubDegree,
      batchId: String = "base",
      splitBucket: Option[Long] = Some(AutoSplit),
      idCol: String = "vec_id", vecCol: String = "embedding"): Unit = {
    val effectiveSplit =
      splitBucket.map(t => if (t == AutoSplit) 8L * m else t)
    val hconf = emb.sparkSession.sparkContext.hadoopConfiguration
    Seq(path, tombstonePath(path)).foreach { dpath =>
      val p = new org.apache.hadoop.fs.Path(dpath)
      val fs = p.getFileSystem(hconf)
      if (fs.exists(p)) fs.delete(p, true)
    }
    buildEdges(emb, hubs, m, bits, dim, hubDegree,
      splitBucket = effectiveSplit, idCol = idCol, vecCol = vecCol)
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
    * per-(hub, bucket) downlink quota AMONG THE BATCH. Hub geometry
    * and bucket planes are fixed (the IVF-centroid discipline).
    * Existing nodes' stored degree creeps past the caps across
    * appends; [[compactIndex]] re-caps. Idempotent per batchId.
    *
    * `splitBucket` (round 17): "batch-proportional" hides a growth
    * term — bucket DENSITY is ∝ corpus/2^bits, so each append's pair
    * volume grows linearly with the corpus and the total over a
    * corpus's lifetime goes quadratic, the same superlinear edge the
    * build closed in round 16. The default is therefore the same
    * scale-safe sub-bucketed candidate step ([[productionSplit]] via
    * the [[AutoSplit]] sentinel): BOTH sides refine on CORPUS
    * density (a batch's own counts say nothing about bucket heat,
    * and the sides must agree on refinement depth per coarse bucket
    * or their refined ids never meet), capping per-append pair
    * volume at ~2 × |batch| × target. Gate paths (p135, st41) pin
    * `None` — their oracles replay the coarse-bucket candidates
    * verbatim; at sub-target density the two constructions are
    * bit-identical (GraphAnnSpec).
    */
  def appendToIndex(batch: DataFrame, corpus: DataFrame,
      hubs: Array[(Long, Array[Float])], path: String, batchId: String,
      m: Int = DefaultM, bits: Int = 4, dim: Option[Int] = None,
      hubDegree: Int = DefaultHubDegree, maxBucket: Long = 100000L,
      splitBucket: Option[Long] = Some(AutoSplit), maxExtraBits: Int = 6,
      idCol: String = "vec_id", vecCol: String = "embedding"): Unit = {
    require(hubs.nonEmpty, "empty hub list")
    require(maxExtraBits >= 0 && bits + 2 * maxExtraBits <= 61,
      s"bits=$bits + 2*maxExtraBits=${2 * maxExtraBits} out of range " +
        "(need bits + 2*maxExtraBits <= 61)")
    val effectiveSplit =
      splitBucket.map(t => if (t == AutoSplit) 8L * m else t)
    val d = dim.getOrElse(hubs.head._2.length)
    val (all, batchBucketed) = appendBucketed(batch, corpus,
      effectiveSplit, bits, maxExtraBits, d, idCol, vecCol)
    val kept = all.join(
      all.groupBy(col("__b")).agg(count(lit(1)).as("__n"))
        .where(col("__n") <= maxBucket).select(col("__b")),
      Seq("__b"))
    val aNew = batchBucketed.select(col("__b"), col("__id").as("src"),
      col("__v").as("src_vec"))
    val bAll = kept.select(col("__b"), col("__id").as("dst"),
      col("__v").as("dst_vec"))
    val wSrc = Window.partitionBy(col("src"))
      .orderBy(col("cosine").desc, col("dst").asc)
    val rawPairs = aNew.join(bAll, Seq("__b")).where(col("src") =!= col("dst"))
      .select(col("src"), col("src_vec"), col("dst"), col("dst_vec"),
        rankCosine(col("src_vec"), col("dst_vec")).as("cosine"))
    // dual-refinement dedup (split mode only — the [[buildEdges]]
    // discipline): a candidate both refinements kept appears twice
    // and would eat two of the m slots
    val pairs =
      if (effectiveSplit.isEmpty) rawPairs
      else rawPairs.groupBy(col("src"), col("dst"))
        .agg(first(col("src_vec")).as("src_vec"),
          first(col("dst_vec")).as("dst_vec"),
          max(col("cosine")).as("cosine"))
        .select(col("src"), col("src_vec"), col("dst"), col("dst_vec"),
          col("cosine"))
    val topM = pairs
      .withColumn("__r", row_number().over(wSrc))
      .where(col("__r") <= m)
    val knn = topM.select(col("src"), col("dst"), col("dst_vec"), col("cosine"))
      .unionByName(topM.select(col("dst").as("src"), col("src").as("dst"),
        col("src_vec").as("dst_vec"), col("cosine")))
      .groupBy(col("src"), col("dst"))
      .agg(first(col("dst_vec")).as("dst_vec"), max(col("cosine")).as("cosine"))
      .withColumn("kind", lit("knn"))
    // hub edges for the batch only: up-link + per-(hub, bucket)
    // quota downlinks among the batch (old downlinks stay in their
    // own batch dirs; compaction merges and re-caps)
    val hubDf = {
      val s = batch.sparkSession
      import s.implicits._
      hubs.toSeq.toDF("hub_id", "hub_vec")
        .select(col("hub_id"), col("hub_vec").cast("array<float>").as("hub_vec"))
    }
    val assigned = Similarity.assignCells(
      batch.select(col(idCol).as("__id"), col(vecCol).as("__v")),
      hubs, "__v", "__hub")
      .join(broadcast(hubDf), col("__hub") === col("hub_id"))
      .select(col("__id"), col("__v"), col("hub_id"), col("hub_vec"),
        Similarity.lshBucket(col("__v"), bits, d).as("__b"),
        rankCosine(col("__v"), col("hub_vec")).as("cosine"))
    val up = assigned.where(col("__id") =!= col("hub_id"))
      .select(col("__id").as("src"), col("hub_id").as("dst"),
        col("hub_vec").as("dst_vec"), col("cosine"), lit("hub").as("kind"))
    val quota = math.max(1, hubDegree >> bits)
    val wHubBucket = Window.partitionBy(col("hub_id"), col("__b"))
      .orderBy(col("cosine").desc, col("__id").asc)
    val wHub = Window.partitionBy(col("hub_id"))
      .orderBy(col("cosine").desc, col("__id").asc)
    val down = assigned.where(col("__id") =!= col("hub_id"))
      .withColumn("__rq", row_number().over(wHubBucket))
      .where(col("__rq") <= quota)
      .withColumn("__r", row_number().over(wHub))
      .where(col("__r") <= hubDegree)
      .select(col("hub_id").as("src"), col("__id").as("dst"),
        col("__v").as("dst_vec"), col("cosine"), lit("hub").as("kind"))
    knn.unionByName(up).unionByName(down)
      .write.mode("overwrite").parquet(s"$path/batch=$batchId")
  }

  /** Logical eviction: ids written under the sibling tombstone table;
    * [[readEdges]] drops every edge touching them. Physical removal
    * happens at [[compactIndex]]. Idempotent per batchId.
    */
  def tombstoneIndex(removedIds: DataFrame, path: String, batchId: String,
      idCol: String = "vec_id"): Unit =
    removedIds.select(col(idCol)).distinct()
      .write.mode("overwrite").parquet(s"${tombstonePath(path)}/batch=$batchId")

  /** The index's live edge set: batches unioned, tombstoned ids
    * excluded on BOTH endpoints (an evicted vector must neither rank
    * nor route).
    */
  def readEdges(spark: SparkSession, path: String,
      idCol: String = "vec_id"): DataFrame = {
    val df = spark.read.parquet(path)
      .select(col("src"), col("dst"), col("dst_vec"), col("cosine"), col("kind"))
    val tp = new org.apache.hadoop.fs.Path(tombstonePath(path))
    val fs = tp.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(tp)) df
    else {
      val dead = spark.read.parquet(tombstonePath(path))
        .select(col(idCol).as("__dead")).distinct()
      df.join(broadcast(dead), col("src") === col("__dead"), "left_anti")
        .join(broadcast(dead), col("dst") === col("__dead"), "left_anti")
    }
  }

  /** Fold `batch=` dirs into one, apply tombstones physically, and
    * restore the per-(src, kind) degree invariant (top-m knn /
    * top-hubDegree hub by cosine, ascending-dst tie-break) that
    * appends let creep. Returns batches folded.
    */
  def compactIndex(spark: SparkSession, path: String,
      m: Int = DefaultM, hubDegree: Int = DefaultHubDegree,
      intoBatchId: String = "compacted",
      idCol: String = "vec_id"): Int = {
    val tp = new org.apache.hadoop.fs.Path(tombstonePath(path))
    val fs = tp.getFileSystem(spark.sparkContext.hadoopConfiguration)
    def recap(df: DataFrame): DataFrame = {
      val dropped =
        if (!fs.exists(tp)) df
        else {
          val dead = spark.read.parquet(tombstonePath(path))
            .select(col(idCol).as("__dead")).distinct()
          df.join(broadcast(dead), col("src") === col("__dead"), "left_anti")
            .join(broadcast(dead), col("dst") === col("__dead"), "left_anti")
        }
      val w = Window.partitionBy(col("src"), col("kind"))
        .orderBy(col("cosine").desc, col("dst").asc)
      dropped
        .groupBy(col("src"), col("dst"), col("kind"))
        .agg(first(col("dst_vec")).as("dst_vec"), max(col("cosine")).as("cosine"))
        .withColumn("__r", row_number().over(w))
        .where(col("__r") <= when(col("kind") === "hub", hubDegree)
          .otherwise(lit(2 * m)))
        .select(col("src"), col("dst"), col("dst_vec"), col("cosine"), col("kind"))
    }
    val merged = IndexCompaction.compact(spark, path, intoBatchId, Nil,
      None, recap)
    if (fs.exists(tp)) fs.delete(tp, true)
    merged
  }
}
