package graft.pipeline

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Duplicate-cluster formation: connected components over a verified
  * near-dup pair list, so "keep one document per duplicate CLUSTER"
  * replaces pairwise keeper policies (greedy first-wins can drop both
  * endpoints of a transitive chain a<->b<->c into different keepers;
  * components give every member the same canonical representative —
  * the semantics the dedup literature assumes when it reports
  * "cluster then keep one").
  *
  * Algorithm: distributed min-label propagation with pointer
  * shortcutting — the DataFrame formulation of the classic
  * MapReduce/Pregel connected-components loop. Each iteration:
  * (1) every node takes the min of its own label and its neighbors'
  * labels (one shuffle: edges join labels, map-side-combinable min);
  * (2) every node then takes its LABEL's label (one self-join) — the
  * path-compression step that turns O(diameter) convergence into
  * O(log diameter). Labels are node ids, monotonically non-increasing,
  * bounded below by the component's min id; at the fixed point
  * adjacent nodes satisfy lbl(u) <= lbl(v) and lbl(v) <= lbl(u), so
  * the label is constant per component and equal to its min id.
  *
  * Scale shape: state is one (node, label) row per node and the
  * symmetric edge list — never a component materialized on one
  * executor, never pairs^2. Near-dup graphs are locally dense
  * (LSH components are near-cliques), so propagation alone converges
  * in 2-3 rounds; the shortcut step bounds the adversarial
  * long-path case at log2(diameter) extra rounds. Each round's label
  * frame is cut ([[graft.operators.SessionCache.cut]]): labels appear
  * FOUR times in the next round's plan (twice in the propagation
  * step, twice in the shortcut self-join), so without the cut's
  * `LogicalRDD` leaf the logical plan grows 4^iter and analysis time
  * — not the data — becomes the bottleneck by round ~6. The cut
  * keeps its RDD lineage, so blocks lost with an executor recompute.
  */
object Clusters {

  /** (doc_id, cluster_id) for every node of `pairs`, where
    * cluster_id = min doc_id of the node's connected component.
    * Nodes appearing in no pair are absent (singletons are their own
    * cluster by definition; callers union them back if needed).
    *
    * @param maxIter hard stop for the propagation loop; with the
    *   shortcut step this bounds reachable diameter at ~2^maxIter,
    *   so the default 30 is structurally unreachable — hitting it
    *   means the convergence check itself is broken, so we throw
    *   rather than return a partial (wrong) clustering.
    */
  def connectedComponents(pairs: DataFrame, aCol: String = "doc_a",
      bCol: String = "doc_b", maxIter: Int = 30): DataFrame = {
    val spark = pairs.sparkSession
    // a cut, not a plain persist (round-18): `edges` embeds the
    // caller's whole pair-construction tree (for near-dup callers, the
    // full MinHash/LSH/verify plan), and EVERY round's convergence-
    // probe action would re-analyze it — the LogicalRDD leaf keeps
    // per-round planning flat. Blocks are harness-released like every
    // other cut (SessionCache.release).
    val edges = graft.operators.SessionCache.cut(
      pairs.select(col(aCol).as("src"), col(bCol).as("dst"))
        .union(pairs.select(col(bCol).as("src"), col(aCol).as("dst")))
        .distinct())
    var labels = graft.operators.SessionCache.cut(
      edges.select(col("src").as("node")).distinct()
        .select(col("node"), col("node").as("lbl")), eager = true)
    // Convergence via the label-sum invariant: both loop steps take a
    // pointwise `least`, so labels are monotone non-increasing and the
    // clustering changed this round IFF Σ lbl decreased. That turns
    // the convergence probe from a node-grain self-join (a whole extra
    // shuffle per round) into a map-side-combinable aggregate on the
    // frame the round materializes anyway. Decimal(38,0) keeps the sum
    // exact at any node count / id domain (1e11 63-bit ids would
    // overflow a long sum).
    def labelSum(df: DataFrame): java.math.BigDecimal = {
      val r = df.agg(sum(col("lbl").cast(
        org.apache.spark.sql.types.DecimalType(38, 0)))).head()
      if (r.isNullAt(0)) java.math.BigDecimal.ZERO else r.getDecimal(0)
    }
    var iter = 0
    var converged = labels.isEmpty // empty graph: nothing to do
    var prevSum = if (converged) java.math.BigDecimal.ZERO else labelSum(labels)
    while (!converged && iter < maxIter) {
      // (1) min over the closed neighborhood: neighbors' labels via
      // the edge join (min is partial-aggregated before the shuffle),
      // own label via the left join below (degree-0 can't occur —
      // every node came from an edge — but left keeps the invariant
      // "labels never lose rows" structural).
      val nbrMin = edges
        .join(labels.withColumnRenamed("node", "dst"), Seq("dst"))
        .groupBy("src").agg(min("lbl").as("nlbl"))
        .withColumnRenamed("src", "node")
      val stepped = labels.join(nbrMin, Seq("node"), "left")
        .select(col("node"),
          least(col("lbl"), coalesce(col("nlbl"), col("lbl"))).as("lbl"))
      // (2) pointer shortcut: lbl := lbl(lbl). Every label IS a node
      // (labels only ever hold node ids), so the lookup always hits;
      // left join + coalesce keeps that a safety, not an assumption.
      // LAZY cut, not persist: labels feed the next round's plan in
      // four places, so an uncut plan grows 4^iter (see the
      // scaladoc). Lazy so the convergence probe below is the action
      // that materializes it — one action per round, not a cut action
      // plus a probe action.
      val next = graft.operators.SessionCache.cut(stepped
        .join(stepped.select(col("node").as("lbl"), col("lbl").as("lbl2")),
          Seq("lbl"), "left")
        .select(col("node"), least(col("lbl"), coalesce(col("lbl2"), col("lbl"))).as("lbl")))
      val nextSum = labelSum(next)
      labels = next
      converged = nextSum.compareTo(prevSum) == 0
      prevSum = nextSum
      iter += 1
    }
    if (!converged)
      throw new IllegalStateException(
        s"connectedComponents did not converge in $maxIter iterations")
    labels.select(col("node").as("doc_id"), col("lbl").as("cluster_id"))
  }

  /** Near-dup clusters of a document corpus: MinHash+LSH verified
    * pairs ([[Dedup.minHashNearDups]]) -> connected components ->
    * (doc_id, cluster_id, n_members). Only docs in some near-dup
    * component appear.
    */
  def nearDupClusters(df: DataFrame, threshold: Double, n: Int = 3,
      numHashes: Int = 16, rowsPerBand: Int = 4): DataFrame = {
    val cc = connectedComponents(
      Dedup.minHashNearDups(df, threshold, n, numHashes, rowsPerBand))
    cc.join(cc.groupBy("cluster_id").agg(count(lit(1)).as("n_members")),
      Seq("cluster_id"))
      .select("doc_id", "cluster_id", "n_members")
  }

  /** Keep ONE document per near-dup cluster (the min-id member — the
    * cluster_id itself) plus every unclustered document. The corpus
    * text never shuffles: only the id-typed drop set moves, and the
    * final anti-join runs against it ([[Dedup.dropExactDuplicates]]'
    * keeper-semi-join shape, inverted).
    */
  def dropNearDups(df: DataFrame, threshold: Double, n: Int = 3,
      numHashes: Int = 16, rowsPerBand: Int = 4,
      idCol: String = "doc_id"): DataFrame = {
    val cc = connectedComponents(
      Dedup.minHashNearDups(df, threshold, n, numHashes, rowsPerBand))
    val drops = cc.where(col("doc_id") =!= col("cluster_id")).select("doc_id")
    df.join(drops.withColumnRenamed("doc_id", idCol),
      Seq(idCol), "left_anti")
  }

  /** Leakage-safe train/test split: near-duplicate documents NEVER
    * straddle the boundary. A per-document random split leaks — a
    * held-out document whose near-twin sits in train is effectively
    * memorized, and the eval overstates generalization (the standard
    * argument for dedup-aware splits in the training-data
    * literature). Here the split VARIATE is keyed by the near-dup
    * cluster id for clustered documents (so the whole cluster draws
    * ONE variate and moves atomically) and by the document's own id
    * otherwise; test = variate < testFraction, train = the exact
    * complement — disjoint, covering, and stable across runs,
    * partitionings and engines ([[Sampling.uniform]]'s md5 contract).
    *
    * Returns every row of `df` with `split_key` (the variate key) and
    * `split` ('train' | 'test') appended.
    *
    * Scale shape: the cluster map is the only added state (one id
    * pair per CLUSTERED doc — near-dup components are a small
    * fraction of a deduped corpus), joined on the id grain; the
    * corpus text never reshuffles. At 100 TB the same split can also
    * be derived from a MATERIALIZED cluster table (p19's index shape)
    * instead of re-clustering per split.
    */
  def leakageSafeSplit(df: DataFrame, threshold: Double,
      testFraction: Double, salt: String = "", n: Int = 3,
      numHashes: Int = 16, rowsPerBand: Int = 4): DataFrame = {
    require(testFraction >= 0.0 && testFraction <= 1.0,
      s"testFraction=$testFraction outside [0,1]")
    val cc = connectedComponents(
      Dedup.minHashNearDups(df, threshold, n, numHashes, rowsPerBand))
      .select(col("doc_id"), col("cluster_id"))
    df.join(cc, Seq("doc_id"), "left")
      .withColumn("split_key", coalesce(col("cluster_id"), col("doc_id")))
      .drop("cluster_id")
      .withColumn("split",
        when(Sampling.uniform(col("split_key"), salt) < testFraction,
          lit("test")).otherwise(lit("train")))
  }
}
