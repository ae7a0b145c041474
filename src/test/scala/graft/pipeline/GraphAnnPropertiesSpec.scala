package graft.pipeline

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Property layer for [[GraphAnn]] — laws that must hold for EVERY
  * corpus/parameter draw, not just the gate fixtures (deterministic
  * md5-derived draws, the Round11/12PropertiesSpec discipline):
  *
  *  - SCORE EXACTNESS: retrieval is approximate, scores are not — a
  *    returned (query, id, cosine) must carry the exact brute-force
  *    cosine for that pair. An ANN path that returns the right id
  *    with a stale/quantized score poisons every downstream threshold
  *    (semantic dedup, hard-negative mining) silently.
  *  - RANK DISCIPLINE: per query, ranks are dense 1..n, cosine
  *    non-increasing, ties broken by ascending id.
  *  - DEGREE INVARIANT: per-(src, kind) degree respects the caps
  *    after any write/append/compact sequence.
  *  - EVICTION: no tombstoned id is ever returned or kept as an edge
  *    endpoint after compaction, for varying dead sets and splits.
  */
class GraphAnnPropertiesSpec extends SparkSpec {

  import spark.implicits._

  private val dim = 16

  // deterministic corpus per draw id: md5-folded cluster members (no
  // java RNG — draws reproduce across JVMs)
  private def corpus(draw: Int, clusters: Int, members: Int) = {
    val rows = for { c <- 0 until clusters; m <- 0 until members }
      yield (c.toLong * members + m,
        EmbeddingFixture.member(s"gap$draw", dim, 0.05f)(c, m))
    rows.toDF("vec_id", "embedding")
      .withColumn("embedding", col("embedding").cast("array<float>"))
  }

  test("law: returned cosines are the EXACT pair cosines; ranks are dense and ordered") {
    for (draw <- 1 to 3) {
      val emb = corpus(draw, clusters = 6, members = 8)
      val hubs = Similarity.sampleCentroids(emb, 8, knownCount = Some(48L))
      val queries = emb.where(col("vec_id") % 11 === 0)
        .select(col("vec_id").as("query_id"), col("embedding").as("query_vec"))
      val got = GraphAnn.searchAll(
        GraphAnn.buildEdges(emb, hubs, m = 4, hubDegree = 16),
        hubs, queries, k = 5, beam = 4, rounds = 2)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3)))
      assert(got.nonEmpty, s"draw $draw returned nothing")
      // exactness: every returned score equals the brute pair cosine
      val truth = Similarity.bruteSearchAll(emb, queries, k = 48)
        .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
      got.foreach { case (q, id, cos, _) =>
        assert(truth.get((q, id)).contains(cos),
          s"draw $draw: approximate SCORE for ($q,$id): $cos vs ${truth.get((q, id))}")
      }
      // rank discipline per query
      got.groupBy(_._1).foreach { case (q, rows) =>
        val byRank = rows.sortBy(_._4)
        assert(byRank.map(_._4).toSeq == (1 to rows.length),
          s"draw $draw: ranks not dense for $q: ${byRank.map(_._4).toSeq}")
        byRank.toSeq.sliding(2).foreach {
          case Seq(a, b) =>
            assert(a._3 > b._3 || (a._3 == b._3 && a._2 < b._2),
              s"draw $draw: rank order violated for $q: $a then $b")
          case _ => ()
        }
      }
    }
  }

  test("law: degree caps survive write/append/compact; eviction removes ids from results AND edges") {
    for ((draw, mod) <- Seq((4, 2), (5, 3), (6, 4))) {
      val emb = corpus(draw, clusters = 5, members = 8)
      val hubs = Similarity.sampleCentroids(emb, 8, knownCount = Some(40L))
      val path = java.nio.file.Files
        .createTempDirectory(s"graft-gap-$draw").toString + "/idx"
      val base = emb.where(col("vec_id") % mod =!= 0)
      val batch = emb.where(col("vec_id") % mod === 0)
      GraphAnn.writeIndex(base, hubs, path, m = 4,
        hubDegree = 16)
      GraphAnn.appendToIndex(batch, emb, hubs, path, batchId = "b1",
        m = 4, hubDegree = 16)
      val dead = emb.where(col("vec_id") % 7 === 3).select("vec_id")
      val deadIds = dead.collect().map(_.getLong(0)).toSet
      GraphAnn.tombstoneIndex(dead, path, batchId = "t1")
      GraphAnn.compactIndex(spark, path, m = 4, hubDegree = 16)
      val edges = spark.read.parquet(path)
      // degree caps: knn <= 2m, hub <= hubDegree
      val over = edges.groupBy(col("src"), col("kind"))
        .agg(count(lit(1)).as("d"))
        .where((col("kind") === "knn" && col("d") > 8) ||
          (col("kind") === "hub" && col("d") > 16))
        .count()
      assert(over === 0L, s"draw $draw: degree caps violated after append+compact")
      // no dead endpoint survives physically
      assert(edges.where(col("src").isin(deadIds.toSeq: _*) ||
        col("dst").isin(deadIds.toSeq: _*)).count() === 0L,
        s"draw $draw: tombstoned rows survived compaction")
      // search never returns a dead id, and post-compaction scores
      // stay exact (the compaction rewrite must not perturb dst_vec)
      val queries = emb.where(col("vec_id") % 13 === 1)
        .select(col("vec_id").as("query_id"), col("embedding").as("query_vec"))
      val truth = Similarity.bruteSearchAll(emb, queries, k = 40)
        .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
      GraphAnn.searchAll(GraphAnn.readEdges(spark, path), hubs, queries,
        k = 5, beam = 4, rounds = 2).collect().foreach { r =>
        assert(!deadIds.contains(r.getLong(1)),
          s"draw $draw: tombstoned id ${r.getLong(1)} still ranks")
        assert(truth.get((r.getLong(0), r.getLong(1)))
          .contains(r.getDouble(2)),
          s"draw $draw: post-compaction score drifted")
      }
    }
  }
}
