package graft.pipeline

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Incremental IVF index maintenance: [[Similarity.appendToIvfIndex]]
  * must make a new batch visible to indexed queries WITHOUT a corpus
  * rewrite, with results identical to the in-memory
  * [[Similarity.ivfTopKWith]] over the union corpus under the SAME
  * centroid list; [[Similarity.ivfAssignmentQuality]] is the drift
  * guard that says when that centroid list has gone stale.
  *
  * Fixture: deterministic clustered embeddings (md5-driven, no RNG) —
  * tight clusters so assignment is unambiguous, plus a "drifted"
  * batch far from every trained centroid for the drift test.
  */
class IvfIndexSpec extends SparkSpec {

  import spark.implicits._

  private val dim = 16

  // deterministic md5-folded clustered corpus (no RNG) — shared
  // generator, spec-specific seed prefix/dim/jitter
  private def member(c: Int, m: Int): Array[Float] =
    EmbeddingFixture.member("ivf", dim, 0.05f)(c, m)

  // base corpus: 8 clusters x 8 members, ids = c*100 + m
  private def baseCorpus = (for {
    c <- 0 until 8; m <- 0 until 8
  } yield (c * 100L + m, member(c, m))).toDF("vec_id", "embedding")
    .withColumn("embedding", col("embedding").cast("array<float>"))

  // batch: 2 more members per cluster, ids = c*100 + 50 + m
  private def batchCorpus = (for {
    c <- 0 until 8; m <- 0 until 2
  } yield (c * 100L + 50 + m, member(c, 10 + m))).toDF("vec_id", "embedding")
    .withColumn("embedding", col("embedding").cast("array<float>"))

  // drifted batch: members of 4 NEW clusters none of the trained
  // centroids sit near (fresh md5 seeds => fresh directions)
  private def driftedBatch = (for {
    c <- 100 until 104; m <- 0 until 8
  } yield (c * 100L + m, member(c, m))).toDF("vec_id", "embedding")
    .withColumn("embedding", col("embedding").cast("array<float>"))

  private def topIds(df: org.apache.spark.sql.DataFrame): Seq[Long] =
    df.collect().map(_.getAs[Long]("vec_id")).toSeq

  test("appendToIvfIndex: indexed query == in-memory union query; idempotent re-append") {
    val base = baseCorpus
    val batch = batchCorpus
    val centroids = Similarity.kmeansCentroids(base, nlist = 8, iters = 2)
    val path = java.nio.file.Files.createTempDirectory("graft-ivf-idx").toString + "/idx"

    // a fresh index must clear stale files (previous run / flat layout)
    val staleDir = java.nio.file.Paths.get(path)
    java.nio.file.Files.createDirectories(staleDir)
    java.nio.file.Files.write(staleDir.resolve("stale.parquet"), Array[Byte](1, 2))
    Similarity.writeIvfIndex(base, centroids, path)
    assert(!java.nio.file.Files.exists(staleDir.resolve("stale.parquet")))

    Similarity.appendToIvfIndex(batch, centroids, path, batchId = "b1")
    // retried append of the SAME batch must overwrite, not double —
    // doubled rows would put duplicate ids in the top-k
    Similarity.appendToIvfIndex(batch, centroids, path, batchId = "b1")

    val union = base.unionByName(batch)
    val qVec = member(3, 10) // batch member of cluster 3
    val qId = 3L * 100 + 50
    val indexed = Similarity.ivfTopKIndexed(spark, path, centroids, qVec,
      k = 5, nprobe = 2)
    val inMemory = Similarity.ivfTopKWith(union, centroids, qId,
      k = 5, nprobe = 2)
    // indexed probes by the raw vector and so includes the query row
    // itself at cosine ~1; drop it for the comparison
    val indexedIds = topIds(indexed).filterNot(_ == qId)
    assert(indexedIds === topIds(inMemory).take(indexedIds.size),
      "indexed-vs-union mismatch")
    assert(indexedIds.nonEmpty && indexedIds.toSet.size == indexedIds.size,
      s"duplicate ids from a doubled batch: $indexedIds")
    // the append is VISIBLE: cluster 3's other batch member must rank
    assert(indexedIds.contains(3L * 100 + 51), s"appended row invisible: $indexedIds")
  }

  test("centroid-list mismatch between writer and prober collapses recall (gate sensitivity)") {
    val base = baseCorpus
    val centroids = Similarity.kmeansCentroids(base, nlist = 8, iters = 2)
    val path = java.nio.file.Files.createTempDirectory("graft-ivf-bad").toString + "/idx"
    Similarity.writeIvfIndex(base, centroids, path)

    val qVec = member(3, 0)
    val truth = topIds(Similarity.bruteForceTopK(base, 3L * 100, k = 5)).toSet
    val good = topIds(Similarity.ivfTopKIndexed(spark, path, centroids, qVec,
      k = 5, nprobe = 1)).filterNot(_ == 300L).toSet
    assert((good & truth).size >= 4, s"healthy recall broken: $good vs $truth")

    // the injected bug: probe with a ROTATED cid->vector mapping (a
    // stale/mismatched centroid artifact) — assignment used the real
    // list, probing uses the corrupt one, so the probed cells hold the
    // wrong vectors and recall collapses
    val corrupt = centroids.indices.map(i =>
      (centroids(i)._1, centroids((i + 1) % centroids.length)._2)).toArray
    val bad = topIds(Similarity.ivfTopKIndexed(spark, path, corrupt, qVec,
      k = 5, nprobe = 1)).filterNot(_ == 300L).toSet
    assert((bad & truth).size < 4,
      s"corrupt centroid list did not degrade recall — gate is vacuous: $bad")
  }

  test("malformed vectors quarantine to the NULL cell and are never probed") {
    val base = baseCorpus
    val centroids = Similarity.kmeansCentroids(base, nlist = 8, iters = 2)
    val path = java.nio.file.Files.createTempDirectory("graft-ivf-q").toString + "/idx"
    Similarity.writeIvfIndex(base, centroids, path)
    // a broken-encoder batch: truncated and empty vectors
    val bad = Seq((9000L, Array.fill(dim - 3)(0.5f)), (9001L, Array.empty[Float]))
      .toDF("vec_id", "embedding")
      .withColumn("embedding", col("embedding").cast("array<float>"))
    Similarity.appendToIvfIndex(bad, centroids, path, batchId = "bad")
    // quarantined: NULL cell on disk (auditable), not the max-cid cell
    val idx = spark.read.parquet(path)
    val quarantined = idx.where(col("__cell").isNull)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    assert(quarantined === Set(9000L, 9001L), s"quarantine wrong: $quarantined")
    // a probe-everything query still never surfaces them
    val got = Similarity.ivfTopKIndexed(spark, path, centroids,
      member(0, 0), k = 1000, nprobe = 8)
      .collect().map(_.getAs[Long]("vec_id")).toSet
    assert(!got.contains(9000L) && !got.contains(9001L),
      s"malformed row leaked into probe results")
    assert(got.nonEmpty)
  }

  test("maybeRetrain: injected drift triggers a retrain and recall recovers; healthy corpus is a no-op") {
    // the re-encoded-corpus scenario (embedding model v2): the index
    // was trained on the base distribution, then the corpus is
    // replaced by vectors from FRESH directions with LOOSE jitter —
    // loose, so each drifted cluster straddles several stale cells and
    // a low-nprobe probe genuinely loses recall until the retrain
    // moves the cell geometry (round-6 verdict item 7).
    val looseMember = EmbeddingFixture.member("ivf", dim, 0.5f) _
    val drifted = (for {
      c <- 200 until 204; m <- 0 until 8
    } yield (c * 100L + m, looseMember(c, m))).toDF("vec_id", "embedding")
      .withColumn("embedding", col("embedding").cast("array<float>"))

    val base = baseCorpus
    val oldCentroids = Similarity.kmeansCentroids(base, nlist = 8, iters = 2)
    val path = java.nio.file.Files.createTempDirectory("graft-ivf-rt").toString + "/idx"
    Similarity.writeIvfIndex(base, oldCentroids, path)

    // healthy path first: the base corpus under its own centroids must
    // NOT trigger (and must leave the index untouched)
    val healthy = Similarity.maybeRetrain(base, oldCentroids, path,
      maxFracLow = 0.2, nlist = 8)
    assert(!healthy.retrained, s"healthy corpus retrained: $healthy")
    assert(healthy.centroids eq oldCentroids)

    // corpus swap: serve the drifted corpus from the stale geometry
    Similarity.writeIvfIndex(drifted, oldCentroids, path)
    val qId = 200L * 100
    val qVec = looseMember(200, 0)
    val truth = topIds(Similarity.bruteForceTopK(drifted, qId, k = 5)).toSet
    val stale = topIds(Similarity.ivfTopKIndexed(spark, path, oldCentroids,
      qVec, k = 5, nprobe = 2)).filterNot(_ == qId).toSet
    assert((stale & truth).size < 4,
      s"drift did not hurt recall — retrain test is vacuous: $stale vs $truth")

    val decision = Similarity.maybeRetrain(drifted, oldCentroids, path,
      maxFracLow = 0.2, nlist = 8)
    assert(decision.retrained, s"drift not detected: $decision")
    assert(decision.fracLow > 0.2)
    val recovered = topIds(Similarity.ivfTopKIndexed(spark, path,
      decision.centroids, qVec, k = 5, nprobe = 2)).filterNot(_ == qId).toSet
    assert((recovered & truth).size >= 4,
      s"recall did not recover after retrain: $recovered vs $truth")
  }

  test("ivfAssignmentQuality flags a drifted batch (retrain signal)") {
    val base = baseCorpus
    val centroids = Similarity.kmeansCentroids(base, nlist = 8, iters = 2)
    val qBase = Similarity.ivfAssignmentQuality(base, centroids).head()
    val qDrift = Similarity.ivfAssignmentQuality(driftedBatch, centroids).head()
    val (avgBase, avgDrift) =
      (qBase.getAs[Double]("avg_cos"), qDrift.getAs[Double]("avg_cos"))
    // trained fit is tight for most clusters (the hash-spread seed can
    // leave one cluster with a borrowed centroid — hence 0.8, not
    // 0.99); drifted clusters point in fresh random directions, so
    // their best-centroid cosine is materially worse
    assert(avgBase > 0.8, s"base fit unexpectedly loose: $avgBase")
    assert(avgDrift < avgBase - 0.2,
      s"drift not visible: base=$avgBase drifted=$avgDrift")
    assert(qBase.getAs[Long]("degenerate") == 0L)
    // zero-norm vectors are counted, not crashed on
    val degen = Seq((1L, Array.fill(dim)(0.0f))).toDF("vec_id", "embedding")
      .withColumn("embedding", col("embedding").cast("array<float>"))
    val qDegen = Similarity.ivfAssignmentQuality(degen, centroids).head()
    assert(qDegen.getAs[Long]("degenerate") == 1L)
  }

  test("compactIvfIndex: batch subdirs fold to one, probes answer identically, idempotent") {
    val base = baseCorpus
    val centroids = Similarity.kmeansCentroids(base, nlist = 8, iters = 2)
    val path = java.nio.file.Files.createTempDirectory("graft-ivf-cmp").toString + "/idx"
    Similarity.writeIvfIndex(base, centroids, path, batchId = "base")
    Similarity.appendToIvfIndex(batchCorpus, centroids, path, batchId = "b1")
    Similarity.appendToIvfIndex(driftedBatch, centroids, path, batchId = "b2")
    val qVec = member(0, 20)
    def ids() = topIds(Similarity.ivfTopKIndexed(spark, path, centroids,
      qVec, k = 8, nprobe = 8))
    val before = ids()
    assert(before.nonEmpty)
    val total = spark.read.parquet(path).count()
    assert(Similarity.ivfIndex(path).compact(spark).head === 3)
    val dirs = new java.io.File(path).listFiles
      .filter(f => f.isDirectory && f.getName.startsWith("batch="))
      .map(_.getName).toSeq
    assert(dirs === Seq("batch=compacted"))
    // same rows, same stored cells, same probe answers
    assert(spark.read.parquet(path).count() === total)
    assert(ids() === before)
    // idempotent: the single compacted batch rewrites to itself
    assert(Similarity.ivfIndex(path).compact(spark).head === 1)
    assert(ids() === before)
  }

  test("retrain after eviction: rebuild from survivors clears tombstones and serves survivors only") {
    val base = baseCorpus
    val centroids = Similarity.kmeansCentroids(base, nlist = 8, iters = 2)
    val path = java.nio.file.Files.createTempDirectory("graft-ivf-retr-ev").toString + "/idx"
    Similarity.writeIvfIndex(base, centroids, path, batchId = "base")
    val removed = (0 until 8).map(m => 0L * 100 + m)
    Similarity.ivfIndex(path).tombstone(removed.toDF("vec_id"), "ret")
    // drift arrives (the drifted batch appended) -> retrain fires; the
    // corpus passed is the SURVIVING corpus, per the contract
    val survivors = base.where(!col("vec_id").isin(removed: _*))
      .unionByName(driftedBatch)
    Similarity.appendToIvfIndex(driftedBatch, centroids, path, batchId = "d")
    val decision = Similarity.maybeRetrain(survivors, centroids, path,
      maxFracLow = 0.2, nlist = 12, iters = 2)
    assert(decision.retrained, "drifted corpus must trigger the retrain")
    // stale tombstones are gone with the rebuild...
    assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(path + "_tombstones")))
    // ...and the rebuilt index holds exactly the survivors
    val served = spark.read.parquet(path).select("vec_id")
      .collect().map(_.getLong(0)).toSet
    val expected = survivors.select("vec_id").collect().map(_.getLong(0)).toSet
    assert(served === expected)
    // a probe for the evicted cluster finds none of its members
    val ids = topIds(Similarity.ivfTopKIndexed(spark, path,
      decision.centroids, member(0, 20), k = 8, nprobe = 12))
    assert(ids.toSet.intersect(removed.toSet).isEmpty)
  }

  test("tombstoneIvfIndex: (index - removed) answers exactly like an index rebuilt without them") {
    val base = baseCorpus
    val centroids = Similarity.kmeansCentroids(base, nlist = 8, iters = 2)
    val path = java.nio.file.Files.createTempDirectory("graft-ivf-evict").toString + "/idx"
    val rebuilt = java.nio.file.Files.createTempDirectory("graft-ivf-evict-ref").toString + "/idx"
    // remove ALL of cluster 0 — any surviving member would still own
    // the cluster-0 probe top AND still claim the semdedup verdict
    // below (intra-cluster cosines sit near 1)
    val removed = (0 until 8).map(m => 0L * 100 + m)
    Similarity.writeIvfIndex(base, centroids, path, batchId = "base")
    Similarity.writeIvfIndex(
      base.where(!col("vec_id").isin(removed: _*)), centroids, rebuilt,
      batchId = "base")
    Similarity.ivfIndex(path).tombstone(removed.toDF("vec_id"), "day1")
    val qVec = member(0, 20)
    def ids(p: String) = topIds(Similarity.ivfTopKIndexed(spark, p, centroids,
      qVec, k = 8, nprobe = 8))
    val evicted = ids(path)
    assert(evicted.intersect(removed).isEmpty)
    assert(evicted === ids(rebuilt))
    // semDedupAgainstIndex: an evicted vector no longer claims a
    // batch duplicate (the batch near-copies removed vec 0)
    val dupBatch = Seq((9001L, member(0, 0))).toDF("vec_id", "embedding")
      .withColumn("embedding", col("embedding").cast("array<float>"))
    val verdicts = Similarity.semDedupAgainstIndex(spark, dupBatch, path,
      centroids, eps = 0.95).collect()
    assert(verdicts.forall(_.getAs[Boolean]("keeper")))
    // compaction applies physically and clears the tombstones
    assert(Similarity.ivfIndex(path).compact(spark).head === 1)
    assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(path + "_tombstones")))
    assert(ids(path) === evicted)
    assert(spark.read.parquet(path)
      .where(col("vec_id").isin(removed: _*)).count() === 0L)
  }

  test("knownCount skips the centroid-sampling count job; identical centroids") {
    val base = baseCorpus.localCheckpoint() // pin lineage: job counts
                                            // measure sampling only
    val n = base.count()
    def jobsDuring(group: String)(body: => Unit): Int = {
      val sc = spark.sparkContext
      sc.setJobGroup(group, group)
      try body finally sc.clearJobGroup()
      // statusTracker is a synchronous API over the listener bus's
      // app status store; poll briefly for the async events to land
      def ids() = sc.statusTracker.getJobIdsForGroup(group).length
      val deadline = System.nanoTime() + 5_000_000_000L
      var last = ids()
      while (System.nanoTime() < deadline && { Thread.sleep(50); ids() != last })
        last = ids()
      ids()
    }
    var withCount: Array[(Long, Array[Float])] = null
    var withKnown: Array[(Long, Array[Float])] = null
    val jobsCounting = jobsDuring("ivf_sample_counting") {
      withCount = Similarity.sampleCentroids(base, nlist = 8)
    }
    val jobsKnown = jobsDuring("ivf_sample_known") {
      withKnown = Similarity.sampleCentroids(base, nlist = 8,
        knownCount = Some(n))
    }
    assert(jobsKnown === 1,
      s"knownCount build must be EXACTLY the one centroid-collect job, " +
        s"ran $jobsKnown")
    assert(jobsCounting > jobsKnown,
      s"counting path must pay extra jobs ($jobsCounting vs $jobsKnown)")
    assert(withKnown.map(_._1).toSeq === withCount.map(_._1).toSeq)
    assert(withKnown.zip(withCount).forall { case ((_, a), (_, b)) =>
      a.toSeq == b.toSeq
    }, "centroid vectors must be identical — the stride is a pure fn of n")
  }
}
