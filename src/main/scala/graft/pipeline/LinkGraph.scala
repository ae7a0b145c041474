package graft.pipeline

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Link-graph quality prior — integer-arithmetic PageRank.
  *
  * Web-scale curation pipelines use link-graph centrality as a
  * document quality prior (the original CommonCrawl ranking signal:
  * pages many quality pages link to are themselves likely quality;
  * harvest lists and spam farms sit in low-rank sinks). This is the
  * operator that computes it over an (src, dst) edge table.
  *
  * Why INTEGER arithmetic: the textbook formulation sums
  * `rank(u) / outdeg(u)` doubles over each vertex's in-edges — a
  * corpus-order float sum, nondeterministic across partitionings and
  * engines (the same reason the engine's quality fractions are exact
  * integer divisions). Here ranks live in integer "units"
  * (`scale` per vertex initially) and one iteration is
  *
  *   rank'(v) = (scale * (den-num)) div den
  *            + Σ_{u→v} (rank(u) * num) div (den * outdeg(u))
  *
  * with `num/den` the damping factor (85/100 by default). Every term
  * is a BIGINT floor division and the Σ is an integer sum —
  * order-independent, partition-independent, and restatable verbatim
  * in any SQL engine (`div` here, `//` in DuckDB). The floor loses
  * < 1 unit per in-edge per iteration: at the default million-unit
  * scale the result tracks float PageRank to ~1e-5 relative while
  * being bit-reproducible.
  *
  * Scale shape: one iteration = one broadcast-or-shuffle join of the
  * rank table (|V| rows, two longs) onto edges, one map-side-
  * combinable integer sum keyed by dst, and one left join back onto
  * the vertex set — never more than |E| rows in flight, no windows,
  * no driver-side state. Ranks are eagerly cut
  * ([[graft.operators.SessionCache.cut]]) each round (the
  * [[Clusters]] discipline: the rank frame feeds the next round's
  * plan twice, so an uncut plan doubles per iteration and ANALYSIS
  * time, not data, becomes the bottleneck; the cut keeps its RDD
  * lineage, so blocks lost with an executor recompute).
  *
  * Contract notes:
  *  - Dangling vertices (outdeg 0) contribute nothing — their mass
  *    evaporates, the standard simplification; vertices appearing
  *    only as destinations are still ranked (vertex set = src ∪ dst).
  *  - Duplicate edges are real edges: u→v twice contributes twice,
  *    and both count in outdeg(u). Callers wanting simple-graph
  *    semantics `.distinct()` first.
  *  - Overflow bound: rank(v) ≤ scale * (1 + in(v)) after any round,
  *    so with the default 10^6 scale a vertex would need ~10^12
  *    in-edges to overflow BIGINT — not a real graph.
  *
  * Reference anchor: the reference platform has no graph operator;
  * this extends the quality-signal family (its z-score opportunity
  * scan, `data_pipeline/assets/gold.py`) with the link-structure
  * prior a 100 TB crawl curation loop needs.
  */
object LinkGraph {

  /** PageRank in integer units over `edges`.
    *
    * @return one row per vertex: (vertex id under `srcCol`'s name,
    *         `rank_units` BIGINT). Σ rank_units ≤ |V| * scale (mass
    *         only evaporates, via flooring and dangling vertices).
    */
  /** @param checkpoint eagerly cut each round's ranks (the default
    *        — see the lineage note above). `false` keeps the whole
    *        loop one lazy plan: right for tiny graphs and for
    *        plan-shape audits (PlanSpec inspects the per-round
    *        aggregation, which a cut would hide).
    */
  def pageRankUnits(edges: DataFrame, srcCol: String = "src",
      dstCol: String = "dst", iterations: Int = 3,
      scale: Long = 1000000L, dampNum: Long = 85L,
      dampDen: Long = 100L, checkpoint: Boolean = true): DataFrame = {
    require(iterations >= 0, s"iterations=$iterations must be >= 0")
    require(scale > 0 && dampDen > 0 && dampNum >= 0 && dampNum <= dampDen,
      s"need scale>0 and 0 <= dampNum <= dampDen (got $scale, $dampNum/$dampDen)")
    val src = col(srcCol).cast("long").as("id")
    val dst = col(dstCol).cast("long").as("id")
    def bound(df: DataFrame): DataFrame =
      if (checkpoint) graft.operators.SessionCache.cut(df, eager = true) else df
    // vertices and out-degrees feed EVERY round's plan — materialize
    // them once (a distinct and a groupBy per iteration otherwise)
    val vertices = bound(
      edges.select(src).union(edges.select(dst)).distinct())
    val outdeg = bound(edges.groupBy(col(srcCol).cast("long").as("id"))
      .agg(count(lit(1)).as("__out")))
    val teleport = (scale * (dampDen - dampNum)) / dampDen

    var ranks = bound(vertices.withColumn("rank_units", lit(scale)))
    var i = 0
    while (i < iterations) {
      val contrib = edges
        .select(col(srcCol).cast("long").as("id"),
          col(dstCol).cast("long").as("__dst"))
        .join(ranks, "id")
        .join(outdeg, "id")
        .select(col("__dst").as("id"),
          expr(s"(rank_units * ${dampNum}L) div (${dampDen}L * __out)")
            .as("__c"))
        .groupBy(col("id"))
        .agg(sum(col("__c")).as("__c"))
      ranks = bound(vertices.join(contrib, Seq("id"), "left")
        .select(col("id"),
          (lit(teleport) + coalesce(col("__c"), lit(0L))).as("rank_units")))
      i += 1
    }
    ranks.select(col("id").as(srcCol), col("rank_units"))
  }
}
