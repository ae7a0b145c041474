package graft.pipeline

import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.ColumnBridge

import graft.SparkSpec
import graft.operators.SessionCache

/** [[GraphAnn]] — the navigable-small-world graph index: build
  * invariants (degree caps, symmetry, hub connectivity), beam-search
  * recall against brute force at production defaults, and the
  * batch=/tombstone/compaction lifecycle.
  */
class GraphAnnSpec extends SparkSpec {

  import spark.implicits._

  private val dim = 64

  // deterministic clustered corpus (no RNG): 20 tight clusters of 12
  // — the RecallGateSpec geometry, same md5-folded generator
  private def member(c: Int, m: Int): Array[Float] =
    EmbeddingFixture.member("ga", dim, 0.02f)(c, m)

  private def corpus = (for {
    c <- 0 until 20; m <- 0 until 12
  } yield (c * 12L + m, member(c, m)))
    .toDF("vec_id", "embedding")
    .withColumn("embedding", col("embedding").cast("array<float>"))

  private def hubsOf(df: org.apache.spark.sql.DataFrame, n: Int) =
    Similarity.sampleCentroids(df, n)

  private def meanRecall(truth: org.apache.spark.sql.DataFrame,
      approx: org.apache.spark.sql.DataFrame): Double =
    truth
      .join(approx.select(col("query_id"), col("vec_id"),
        lit(1L).as("__hit")), Seq("query_id", "vec_id"), "left")
      .groupBy(col("query_id"))
      .agg((sum(coalesce(col("__hit"), lit(0L))) / count(lit(1))).as("r"))
      .agg(avg(col("r"))).head().getDouble(0)

  test("edge table invariants: per-src knn degree <= 2m, hub degree <= hubDegree, no self-edges") {
    val emb = corpus
    val edges = GraphAnn.buildEdges(emb, hubsOf(emb, 8), m = 4,
      hubDegree = 16)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    assert(edges.where(col("src") === col("dst")).count() === 0L)
    val knnDeg = edges.where(col("kind") === "knn")
      .groupBy(col("src")).agg(count(lit(1)).as("d"))
      .agg(max(col("d"))).head().getLong(0)
    assert(knnDeg <= 8L, s"knn degree $knnDeg exceeds 2m") // M_max prune
    val downDeg = edges.where(col("kind") === "hub")
      .groupBy(col("src")).agg(count(lit(1)).as("d"))
      .agg(max(col("d"))).head().getLong(0)
    assert(downDeg <= 17L, s"hub degree $downDeg exceeds hubDegree+1")
    // the prune keeps the BEST 2m per src, so each src's own top-m
    // picks always survive (reverse links are what get sacrificed —
    // the HNSW M_max discipline); every node with a bucket-mate must
    // still have at least one knn edge
    val connected = edges.where(col("kind") === "knn")
      .select(col("src")).distinct().count()
    assert(connected === corpus.count(),
      s"only $connected of ${corpus.count()} nodes kept knn edges")
    edges.unpersist()
  }

  test("beam search recall@10 >= 0.9 vs brute force at production defaults") {
    val emb = corpus
    val queries = emb.where(col("vec_id") % 37 === 0)
      .select(col("vec_id").as("query_id"), col("embedding").as("query_vec"))
    val truth = Similarity.bruteSearchAll(emb, queries, 10)
      .select(col("query_id"), col("vec_id"))
    val hubs = hubsOf(emb, 16)
    val edges = GraphAnn.buildEdges(emb, hubs)
    val got = GraphAnn.searchAll(edges, hubs, queries, k = 10)
    val r = meanRecall(truth, got)
    assert(r >= 0.9, s"graph-ANN recall collapsed: $r")
  }

  test("filtered search: only allowed ids rank, routing intact, recall vs filtered brute force") {
    val emb = corpus
    val queries = emb.where(col("vec_id") % 37 === 0)
      .select(col("vec_id").as("query_id"), col("embedding").as("query_vec"))
    val allowed = emb.where(col("vec_id") % 2 === 0).select(col("vec_id"))
    // truth = brute force over the FILTERED corpus (what a second,
    // predicate-specific index would answer)
    val truth = Similarity.bruteSearchAll(
      emb.where(col("vec_id") % 2 === 0), queries, 5)
      .select(col("query_id"), col("vec_id"))
    val hubs = hubsOf(emb, 16)
    val edges = GraphAnn.buildEdges(emb, hubs)
    val got = GraphAnn.searchAll(edges, hubs, queries, k = 5, beam = 16,
      allowed = Some(allowed))
    assert(got.where(col("vec_id") % 2 =!= 0).count() === 0L,
      "a non-matching id ranked")
    // ranks are dense 1..k over the filtered set
    assert(got.groupBy(col("query_id")).agg(max(col("rank")).as("mx"))
      .where(col("mx") > 5).count() === 0L)
    val r = meanRecall(truth, got)
    assert(r >= 0.9, s"filtered graph-ANN recall collapsed: $r")
  }

  test("ACORN two-hop rule: a passing node reachable only through a failing bridge is found") {
    // hand-built geometry: query lands in cluster 0. The allowed set
    // is chosen so cluster 0's members are mostly NOT allowed
    // (failing bridges), while a few allowed members sit behind them.
    // Route-all search at tiny beam wastes slots on the failing
    // majority; the two-hop rule expands THROUGH them.
    val emb = corpus
    val queries = emb.where(col("vec_id") === 0)
      .select(col("vec_id").as("query_id"), col("embedding").as("query_vec"))
    // allow only ids ≡ 5 (mod 12): exactly one member per cluster —
    // selectivity 1/12, the worst recorded regime for route-all
    val allowed = emb.where(col("vec_id") % 12 === 5).select(col("vec_id"))
    val truth = Similarity.bruteSearchAll(
      emb.where(col("vec_id") % 12 === 5), queries, 3)
      .select(col("query_id"), col("vec_id"))
    val hubs = hubsOf(emb, 16)
    val edges = GraphAnn.buildEdges(emb, hubs)
    val got = GraphAnn.searchAllAcorn(edges, hubs, queries,
      allowed, k = 3, beam = 4, rounds = 3)
    assert(got.where(col("vec_id") % 12 =!= 5).count() === 0L,
      "a non-matching id ranked")
    val r = meanRecall(truth, got)
    assert(r >= 0.99, s"two-hop expansion failed to reach the allowed set: $r")
  }

  test("ACORN filtered recall >= 0.9 at selectivity 1/8 on the clustered corpus, bounded beam") {
    // the round-14 weak spot: route-all recall@10 was 0.26 at
    // selectivity 1/8 with beam 8 (recovering only to 0.41 at beam
    // 32). The predicate-aware walk must hold >= 0.9 at the SAME
    // bounded beam.
    val emb = graft.RecallCurve.clusteredCorpus(spark, n = 2000, dim = 64,
      clusters = 40)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val queries = emb.where(col("vec_id") % 311 === 0)
      .select(col("vec_id").as("query_id"), col("embedding").as("query_vec"))
    val allowed = emb.where(col("vec_id") % 8 === 0).select(col("vec_id"))
    val truth = Similarity.bruteSearchAll(
      emb.where(col("vec_id") % 8 === 0), queries, 10)
      .select(col("query_id"), col("vec_id"))
    val hubs = Similarity.sampleCentroids(emb, 64, knownCount = Some(2000L))
    val edges = GraphAnn.buildEdges(emb, hubs)
    val got = GraphAnn.searchAllAcorn(edges, hubs, queries,
      allowed, k = 10, beam = 8, rounds = 3)
    val r = meanRecall(truth, got)
    assert(r >= 0.9, s"ACORN filtered recall at selectivity 1/8 collapsed: $r")
    emb.unpersist()
  }

  test("ACORN auto-beam: the recorded sweep as code, and the auto path matches the explicit beam") {
    // the step rule (round-16): every measured selectivity <= 1/2
    // needs beam 32 for >= 0.9 (beam 16 plateaus at ~0.85); a
    // near-pass-through filter keeps the base beam
    assert(GraphAnn.acornAutoBeam(1.0) === 8)
    assert(GraphAnn.acornAutoBeam(0.95) === 8)
    assert(GraphAnn.acornAutoBeam(0.5) === 32)
    assert(GraphAnn.acornAutoBeam(0.25) === 32)
    assert(GraphAnn.acornAutoBeam(0.125) === 32)
    assert(GraphAnn.acornAutoBeam(0.01) === 32)
    intercept[IllegalArgumentException] { GraphAnn.acornAutoBeam(0.0) }
    intercept[IllegalArgumentException] { GraphAnn.acornAutoBeam(1.5) }

    // the auto entry measures selectivity (1/8 here → beam 32) and
    // must return exactly the explicit-beam search's answers
    val emb = corpus
    val queries = emb.where(col("vec_id") % 17 === 0)
      .select(col("vec_id").as("query_id"), col("embedding").as("query_vec"))
    val allowed = emb.where(col("vec_id") % 8 === 0).select(col("vec_id"))
    val hubs = hubsOf(emb, 16)
    val edges = GraphAnn.buildEdges(emb, hubs)
    val auto = GraphAnn.searchAllAcornAuto(edges, hubs, queries, allowed,
      k = 5, corpusSize = Some(emb.count()))
    val explicitBeam = GraphAnn.searchAllAcorn(edges, hubs, queries,
      allowed, k = 5, beam = 32, rounds = 3)
    assert(auto.collect().map(_.toSeq).toSet ===
      explicitBeam.collect().map(_.toSeq).toSet,
      "auto path must equal the explicit wide-beam search")
  }

  /** Stages run while `body` runs. */
  private def stagesDuring(body: => Unit): Int = {
    val n = new java.util.concurrent.atomic.AtomicInteger()
    val l = new SparkListener {
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
        n.incrementAndGet(); ()
      }
    }
    ColumnBridge.drainListeners(spark)
    spark.sparkContext.addSparkListener(l)
    try { body; ColumnBridge.drainListeners(spark) }
    finally spark.sparkContext.removeSparkListener(l)
    n.get
  }

  test("a search runs an uncut buildEdges frame's stages once, not once per round") {
    val emb = corpus
    val queries = emb.where(col("vec_id") % 37 === 0)
      .select(col("vec_id").as("query_id"), col("embedding").as("query_vec"))
    val allowed = emb.where(col("vec_id") % 2 === 0).select(col("vec_id"))
    val hubs = hubsOf(emb, 16)
    val uncut = GraphAnn.buildEdges(emb, hubs)
    val built = SessionCache.cut(uncut, eager = true)
    val searches: Seq[(String, (DataFrame, Int) => DataFrame)] = Seq(
      "route-all" -> ((e, r) =>
        GraphAnn.searchAll(e, hubs, queries, k = 5, rounds = r)),
      "ACORN" -> ((e, r) =>
        GraphAnn.searchAllAcorn(e, hubs, queries, allowed, k = 5, rounds = r)))
    for ((name, search) <- searches) {
      // the build's share of an r-round search: its stages over the
      // uncut frame minus the same search over the built edges
      def buildStages(r: Int): Int =
        stagesDuring { search(uncut, r).collect(); () } -
          stagesDuring { search(built, r).collect(); () }
      val once = buildStages(1)
      assert(once > 0, s"$name: the uncut search ran no build stages")
      assert(buildStages(3) === once,
        s"$name: extra rounds re-ran the edge build")
    }
    intercept[IllegalArgumentException] {
      GraphAnn.searchAll(uncut, hubs, queries, k = 5, rounds = 0)
    }
  }

  test("sub-bucketed build: identical edges when no bucket exceeds the target; recall holds when hot buckets split") {
    val emb = graft.RecallCurve.clusteredCorpus(spark, n = 2000, dim = 64,
      clusters = 40)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val hubs = Similarity.sampleCentroids(emb, 64, knownCount = Some(2000L))
    // a target no bucket reaches → the refined mask never widens and
    // the edge table is bit-identical to the unsplit construction
    val plain = GraphAnn.buildEdges(emb, hubs)
      .collect().map(_.toSeq).toSet
    val noop = GraphAnn.buildEdges(emb, hubs,
      splitBucket = Some(1000000L)).collect().map(_.toSeq).toSet
    assert(noop === plain, "inactive split must not perturb the build")

    // an aggressive target forces real sub-bucketing (2000 vectors /
    // 16 coarse buckets ≈ 125 per bucket >> 32) — the pair mass drops
    // but search recall at production defaults must hold
    val split = GraphAnn.buildEdges(emb, hubs,
      splitBucket = Some(32L))
    assert(split.count() < GraphAnn.buildEdges(emb, hubs)
      .count() * 1.01, "split build must not inflate the edge table")
    val queries = emb.where(col("vec_id") % 311 === 0)
      .select(col("vec_id").as("query_id"), col("embedding").as("query_vec"))
    val truth = Similarity.bruteSearchAll(emb, queries, 10)
      .select(col("query_id"), col("vec_id"))
    val got = GraphAnn.searchAll(split, hubs, queries, k = 10)
    val r = meanRecall(truth, got)
    assert(r >= 0.9, s"recall collapsed under sub-bucketing: $r")
    emb.unpersist()
  }

  test("writeIndex defaults to the scale-safe sub-bucketed construction (round-17 production default)") {
    // the gate paths pin splitBucket = None explicitly (their DuckDB
    // oracles replay the unsplit pair step); a caller who specifies
    // NOTHING must get the measured-linear build — this pins that
    // default at a density where the split is ACTIVE (2000 vectors /
    // 16 coarse buckets ≈ 125 per bucket > the 8×m = 64 target), so
    // the assertion cannot pass vacuously via the inactive-split law
    val emb = graft.RecallCurve.clusteredCorpus(spark, n = 2000, dim = 64,
      clusters = 40)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val hubs = Similarity.sampleCentroids(emb, 64, knownCount = Some(2000L))
    val path = java.nio.file.Files
      .createTempDirectory("graft-nsw-default").toString + "/idx"
    GraphAnn.writeIndex(emb, hubs, path) // defaults only
    val got = GraphAnn.readEdges(spark, path)
      .collect().map(_.toSeq).toSet
    val split = GraphAnn.buildEdges(emb, hubs,
      splitBucket = GraphAnn.productionSplit())
      .collect().map(_.toSeq).toSet
    assert(got === split,
      "default writeIndex must build the productionSplit construction")
    val unsplit = GraphAnn.buildEdges(emb, hubs)
      .collect().map(_.toSeq).toSet
    assert(got !== unsplit,
      "fixture too sparse to distinguish the default from the unsplit build")
    emb.unpersist()
  }

  test("appendToIndex defaults to the corpus-density sub-bucketed candidates (round-17)") {
    // same non-vacuity discipline as the writeIndex pin: at 2000
    // corpus vectors the coarse buckets (~125 nodes) exceed the 8×m
    // target, so the default append must MATCH the explicit
    // productionSplit construction and DIFFER from the unsplit one —
    // and refinement depth must come from CORPUS density (both sides
    // agree on e), proven by the appended nodes staying searchable
    val emb = graft.RecallCurve.clusteredCorpus(spark, n = 2000, dim = 64,
      clusters = 40)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val hubs = Similarity.sampleCentroids(emb, 64, knownCount = Some(2000L))
    val base = emb.where(col("vec_id") % 2 === 0)
    val batch = emb.where(col("vec_id") % 2 === 1)
    def appendWith(split: Option[Long], tag: String): Set[Seq[Any]] = {
      val path = java.nio.file.Files
        .createTempDirectory(s"graft-nsw-app-$tag").toString + "/idx"
      GraphAnn.writeIndex(base, hubs, path,
        splitBucket = None)
      split match {
        case Some(GraphAnn.AutoSplit) =>
          // defaults only — the pin under test
          GraphAnn.appendToIndex(batch, emb, hubs, path, batchId = "b1")
        case s =>
          GraphAnn.appendToIndex(batch, emb, hubs, path, batchId = "b1",
            splitBucket = s)
      }
      spark.read.parquet(s"$path/batch=b1").collect().map(_.toSeq).toSet
    }
    val default = appendWith(Some(GraphAnn.AutoSplit), "def")
    val explicitSplit = appendWith(GraphAnn.productionSplit(), "exp")
    assert(default === explicitSplit,
      "default append must build the productionSplit candidate step")
    val unsplit = appendWith(None, "none")
    assert(default !== unsplit,
      "fixture too sparse to distinguish the default from the unsplit append")
    // appended nodes remain findable through the default-built edges
    val path = java.nio.file.Files
      .createTempDirectory("graft-nsw-app-srch").toString + "/idx"
    GraphAnn.writeIndex(base, hubs, path, splitBucket = None)
    GraphAnn.appendToIndex(batch, emb, hubs, path, batchId = "b1")
    val queries = emb.where(col("vec_id") % 311 === 0)
      .select(col("vec_id").as("query_id"), col("embedding").as("query_vec"))
    val got = GraphAnn.searchAll(GraphAnn.readEdges(spark, path), hubs,
      queries, k = 10)
    assert(got.where(col("vec_id") % 2 === 1).count() > 0,
      "appended nodes never surface under the default split append")
    emb.unpersist()
  }

  test("production defaults hold on the clustered reference corpus (recall@10 >= 0.9)") {
    // the RecallGateSpec geometry the other ANN families are gated
    // on: 2000 vectors, 40 clusters — includes clusters that drew no
    // hub, exercising the hub-downlink connectivity path
    val emb = graft.RecallCurve.clusteredCorpus(spark, n = 2000, dim = 64,
      clusters = 40)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val queries = emb.where(col("vec_id") % 311 === 0)
      .select(col("vec_id").as("query_id"), col("embedding").as("query_vec"))
    val truth = Similarity.bruteSearchAll(emb, queries, 10)
      .select(col("query_id"), col("vec_id"))
    val hubs = Similarity.sampleCentroids(emb, 64, knownCount = Some(2000L))
    val edges = GraphAnn.buildEdges(emb, hubs)
    val got = GraphAnn.searchAll(edges, hubs, queries, k = 10)
    val r = meanRecall(truth, got)
    assert(r >= 0.9, s"graph-ANN recall at production defaults collapsed: $r")
    emb.unpersist()
  }

  test("index lifecycle: write == direct build; append links new nodes; tombstone evicts; compact folds + re-caps") {
    val emb = corpus.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val path = java.nio.file.Files
      .createTempDirectory("graft-nsw").toString + "/idx"
    val hubs = hubsOf(emb, 16)
    val queries = emb.where(col("vec_id") % 37 === 0)
      .select(col("vec_id").as("query_id"), col("embedding").as("query_vec"))

    // write: the indexed read answers exactly like the direct build
    GraphAnn.writeIndex(emb, hubs, path)
    val direct = GraphAnn.searchAll(
      GraphAnn.buildEdges(emb, hubs), hubs, queries, k = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(3))).toSet
    val indexed = GraphAnn.searchAll(
      GraphAnn.readEdges(spark, path), hubs, queries, k = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(3))).toSet
    assert(indexed === direct)

    // append: rebuild the index from the even half, link the odd half
    // in; odd nodes must be findable afterwards
    val even = emb.where(col("vec_id") % 2 === 0)
    val odd = emb.where(col("vec_id") % 2 === 1)
    GraphAnn.writeIndex(even, hubs, path)
    GraphAnn.appendToIndex(odd, emb, hubs, path, batchId = "b1")
    val afterAppend = GraphAnn.searchAll(
      GraphAnn.readEdges(spark, path), hubs, queries, k = 10)
    assert(afterAppend.where(col("vec_id") % 2 === 1).count() > 0,
      "appended nodes never surface in search")

    // tombstone: evicted ids must neither rank nor route
    val dead = Seq(1L, 3L).toDF("vec_id")
    GraphAnn.index(path).tombstone(dead, "t1")
    val afterEvict = GraphAnn.searchAll(
      GraphAnn.readEdges(spark, path), hubs, queries, k = 10)
    assert(afterEvict.where(col("vec_id").isin(1L, 3L)).count() === 0L,
      "tombstoned ids still rank")

    // compact: batches fold to one dir, tombstones applied physically
    // and cleared, per-(src, kind) degree re-capped, answers identical
    val before = afterEvict.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(3))).toSet
    val folded = GraphAnn.compactIndex(spark, path)
    assert(folded === 2, s"expected 2 batches folded, got $folded")
    val dirs = new java.io.File(path).listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("batch=")).toSeq
    assert(dirs.size === 1, s"compaction left ${dirs.map(_.getName)}")
    assert(!new java.io.File(path + "_tombstones").exists(),
      "tombstones not cleared after physical application")
    val compacted = spark.read.parquet(path)
    assert(compacted.where(col("src").isin(1L, 3L) ||
      col("dst").isin(1L, 3L)).count() === 0L,
      "tombstoned rows survived compaction")
    val after = GraphAnn.searchAll(
      GraphAnn.readEdges(spark, path), hubs, queries, k = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(3))).toSet
    assert(after === before, "compaction changed answers")
    emb.unpersist()
  }
}
