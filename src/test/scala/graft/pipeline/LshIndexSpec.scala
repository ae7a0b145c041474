package graft.pipeline

import org.apache.spark.sql.functions._

import graft.SparkSpec

class LshIndexSpec extends SparkSpec {

  import spark.implicits._

  private val base =
    "the quick brown fox jumps over the lazy dog while the cat naps " +
      "in the warm afternoon sun near the old garden wall"
  private val other =
    "completely different subject matter about distributed query engines " +
      "optimizing shuffle partitions and broadcast joins at petabyte scale"

  private def corpus = Seq(
    (10L, base),
    (12L, other),
    (14L, base.replace("quick", "swift"))) // near-dup of 10 inside the corpus
    .toDF("doc_id", "text")

  /** Append `docs` to the index as `batchId`: the bands and shingles
    * [[Dedup.writeLshIndex]] builds, written through the index seam.
    */
  private def append(docs: org.apache.spark.sql.DataFrame, path: String,
      batchId: String): Unit = {
    val shingled = Dedup.wordShingles(docs)
    val index = Dedup.lshIndex(path)
    index.write(Dedup.bandBuckets(Dedup.minHashSignatures(shingled)), batchId, "bands")
    index.write(shingled, batchId, "shingles")
  }

  private def batch = Seq(
    (21L, base.replace("lazy", "sleepy")), // near-dup of 10 and 14
    (23L, "entirely novel content with no overlap whatsoever to be found here"))
    .toDF("doc_id", "text")

  test("batch-vs-index equals one-shot minHashNearDups cross-side pairs") {
    val path = java.nio.file.Files.createTempDirectory("graft-lsh-idx").toString + "/idx"
    // a fresh index must CLEAR stale files from a previous run — a
    // leftover flat-layout file would pollute (or break) every read
    val staleDir = java.nio.file.Paths.get(path, "bands")
    java.nio.file.Files.createDirectories(staleDir)
    java.nio.file.Files.write(staleDir.resolve("stale.parquet"), Array[Byte](1, 2))
    Dedup.writeLshIndex(corpus, path)
    assert(!java.nio.file.Files.exists(staleDir.resolve("stale.parquet")))
    val incremental = Dedup.nearDupsAgainstIndex(batch, path, threshold = 0.7)
      .collect()
      .map(r => (r.getAs[Long]("doc_new"), r.getAs[Long]("doc_old"),
        r.getAs[Double]("jaccard"))).toSet
    // ground truth: one-shot near-dups over the union, cross-side only
    val oneShot = Dedup.minHashNearDups(corpus.unionByName(batch), threshold = 0.7)
      .collect()
      .flatMap { r =>
        val (a, b) = (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b"))
        val j = r.getAs[Double]("jaccard")
        // orient as (new, old): batch ids are odd, corpus ids even
        if (a % 2 == 1 && b % 2 == 0) Some((a, b, j))
        else if (b % 2 == 1 && a % 2 == 0) Some((b, a, j))
        else None
      }.toSet
    assert(incremental === oneShot)
    // 21 vs 10 differ by one word (jaccard ~0.87); 21 vs 14 differ by
    // TWO words (~0.57, below threshold) — only the one-word pair holds
    assert(incremental.map(p => (p._1, p._2)) === Set((21L, 10L)))
  }

  test("append maintenance: a later batch dedups against earlier batches too") {
    val path = java.nio.file.Files.createTempDirectory("graft-lsh-idx2").toString + "/idx"
    Dedup.writeLshIndex(corpus, path)
    append(batch, path, "b1")
    // retried append of the SAME batch is idempotent: shingle rows
    // must not double (a doubled set_size deflates every jaccard)
    append(batch, path, "b1")
    // batch 2 contains a near-dup of a BATCH-1 doc (21), invisible to
    // the original corpus index without the append
    val batch2 = Seq(
      (31L, base.replace("lazy", "sleepy").replace("cat", "kitten")))
      .toDF("doc_id", "text")
    val rows = Dedup.nearDupsAgainstIndex(batch2, path, threshold = 0.7).collect()
    val pairs = rows.map(r => (r.getAs[Long]("doc_new"), r.getAs[Long]("doc_old"))).toSet
    assert(pairs.contains((31L, 21L)), s"append not visible: $pairs")
    // jaccard computed against SINGLE-counted shingles despite the
    // double append (0.7 <= j <= 1; a doubled index would halve it)
    val j = rows.find(r => r.getAs[Long]("doc_old") == 21L).get.getAs[Double]("jaccard")
    assert(j >= 0.7 && j <= 1.0)
  }

  test("compactLshIndex: batch subdirs fold to one, dedup answers identically, idempotent") {
    val path = java.nio.file.Files.createTempDirectory("graft-lsh-idx3").toString + "/idx"
    Dedup.writeLshIndex(corpus, path)
    append(batch, path, "b1")
    val probe = Seq((41L, base.replace("lazy", "sleepy").replace("cat", "kitten")))
      .toDF("doc_id", "text")
    def dups() = Dedup.nearDupsAgainstIndex(probe, path, threshold = 0.7)
      .collect()
      .map(r => (r.getAs[Long]("doc_new"), r.getAs[Long]("doc_old"),
        r.getAs[Double]("jaccard"))).toSet
    val before = dups()
    assert(before.nonEmpty) // 41 near-dups doc 21 (batch) at least
    assert(Dedup.lshIndex(path).compact(spark) === Seq(2, 2))
    def batchDirs(sub: String) =
      new java.io.File(s"$path/$sub").listFiles
        .filter(f => f.isDirectory && f.getName.startsWith("batch="))
        .map(_.getName).toSeq
    assert(batchDirs("bands") === Seq("batch=compacted"))
    assert(batchDirs("shingles") === Seq("batch=compacted"))
    assert(dups() === before)
    // idempotent: the single compacted batch rewrites to itself
    assert(Dedup.lshIndex(path).compact(spark) === Seq(1, 1))
    assert(dups() === before)
  }

  test("tombstoneLshIndex: (index - removed) answers exactly like an index rebuilt without them") {
    val path = java.nio.file.Files.createTempDirectory("graft-lsh-evict").toString + "/idx"
    val rebuilt = java.nio.file.Files.createTempDirectory("graft-lsh-evict-ref").toString + "/idx"
    // corpus = survivors + removed; removed includes a doc (14) that
    // would otherwise claim a verdict against the probe
    val survivors = corpus.where(col("doc_id") =!= 14L)
    Dedup.writeLshIndex(corpus, path)
    Dedup.writeLshIndex(survivors, rebuilt)
    Dedup.lshIndex(path).tombstone(Seq(14L).toDF("doc_id"), "day1")
    // one edit from doc 14 (j ~ 0.74), two from doc 10 (j ~ 0.54):
    // at threshold 0.5 BOTH claim pre-eviction, only 10 after
    val probe = Seq((51L, base.replace("quick", "swift").replace("cat", "kitten")))
      .toDF("doc_id", "text")
    def dups(p: String) = Dedup.nearDupsAgainstIndex(probe, p, threshold = 0.5)
      .collect()
      .map(r => (r.getAs[Long]("doc_new"), r.getAs[Long]("doc_old"),
        r.getAs[Double]("jaccard"))).toSet
    val evicted = dups(path)
    // the evicted doc stops claiming; surviving verdicts identical to
    // a from-scratch rebuild over the surviving corpus
    assert(!evicted.exists(_._2 == 14L))
    assert(evicted === dups(rebuilt))
    assert(evicted.exists(_._2 == 10L)) // survivor still claims
    // idempotent re-tombstone of the same batch
    Dedup.lshIndex(path).tombstone(Seq(14L).toDF("doc_id"), "day1")
    assert(dups(path) === evicted)
    // compaction applies the eviction physically and clears tombstones
    assert(Dedup.lshIndex(path).compact(spark) === Seq(1, 1))
    assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(path + "_tombstones")))
    assert(dups(path) === evicted)
    // physically gone: the shingle table no longer holds doc 14
    assert(spark.read.parquet(s"$path/shingles")
      .where(col("doc_id") === 14L).count() === 0L)
    // a fresh rebuild clears stale tombstones (re-added docs count again)
    Dedup.lshIndex(path).tombstone(Seq(10L).toDF("doc_id"), "day2")
    Dedup.writeLshIndex(corpus, path)
    assert(dups(path).exists(_._2 == 10L))
  }
}
