package graft.pipeline

import org.scalacheck.Gen
import org.scalacheck.rng.Seed

import graft.SparkSpec

/** Property layer for the round-9 curation operators: randomized
  * corpora asserting the invariants that hold by construction —
  * conservation laws and reference equivalences a targeted fixture
  * can miss. Raw ScalaCheck `Gen` with fixed seeds (the
  * scalatest-plus bridge isn't in the offline cache).
  */
class CurationPropertiesSpec extends SparkSpec {
  import spark.implicits._

  // small-vocab corpora: heavy shingle/term collisions guaranteed
  private val corpusGen: Gen[List[(Long, String)]] =
    Gen.listOfN(40, Gen.listOfN(8,
      Gen.oneOf("a", "b", "c", "d", "e", "f")).map(_.mkString(" ")))
      .map(_.zipWithIndex.map { case (t, i) => (i.toLong, t) })

  private def samples[A](g: Gen[List[A]], n: Int): Seq[List[A]] =
    (1 to n).map(i => g.apply(Gen.Parameters.default, Seed(i.toLong)).get)

  test("noveltyCurve conservation: Σ n_novel == corpus-wide distinct shingles (8 random corpora)") {
    for (docs <- samples(corpusGen, 8)) {
      val df = docs.toDF("doc_id", "text")
      val shingled = Dedup.wordShingles(df)
      val curve = Dedup.noveltyCurve(shingled).collect()
      val totalNovel = curve.map(_.getAs[Long]("n_novel")).sum
      val distinctShingles =
        shingled.select("shingle").distinct().count()
      // every distinct shingle is novel for EXACTLY its first owner
      assert(totalNovel === distinctShingles,
        s"novelty not conserved: $totalNovel vs $distinctShingles")
      // and per-doc novel counts never exceed the doc's shingles
      assert(curve.forall(r =>
        r.getAs[Long]("n_novel") <= r.getAs[Long]("n_shingles")))
    }
  }

  test("bm25 reference equivalence on random corpora (8 samples)") {
    for (docs <- samples(corpusGen, 8)) {
      val df = docs.toDF("doc_id", "text")
      val terms = Seq("a", "b")
      val got = TextAnalysis.bm25Scores(df, terms).collect()
        .map(r => r.getLong(0) -> r.getDouble(2)).toMap
      // in-memory reference
      val toks = docs.map { case (id, t) =>
        id -> t.split("\\s+").filter(_.nonEmpty).toSeq }.toMap
      val n = toks.size
      val avgdl = toks.values.map(_.size).sum.toDouble / n
      val dfm = terms.map(t =>
        t -> toks.values.count(_.contains(t))).toMap
      def score(id: Long): Double = terms.map { t =>
        val tf = toks(id).count(_ == t)
        if (tf == 0 || dfm(t) == 0) 0.0
        else math.log(1.0 + (n - dfm(t) + 0.5) / (dfm(t) + 0.5)) *
          (tf * 2.2) / (tf + 1.2 * (0.25 + 0.75 * (toks(id).size / avgdl)))
      }.sum
      val want = toks.keys.filter(id =>
        terms.exists(toks(id).contains)).map(id => id -> score(id)).toMap
      assert(got.keySet === want.keySet)
      got.foreach { case (id, s) =>
        assert(math.abs(s - want(id)) < 1e-9, s"doc $id: $s vs ${want(id)}")
      }
    }
  }

  test("DSIR sign law: oversampled-in-target features raise weights (8 samples)") {
    // target = docs containing 'a'; raw = all. Docs made PURELY of
    // 'a' must outweigh docs with no 'a' at all (their features are
    // strictly overrepresented in the target distribution)
    for ((docs, i) <- samples(corpusGen, 8).zipWithIndex) {
      val withExtremes = docs ++ List(
        (1000L, "a a a a"), (1001L, "f f f f"))
      val df = withExtremes.toDF("doc_id", "text")
      val w = Dsir.importanceWeights(df,
        df.where(org.apache.spark.sql.functions.col("text").contains("a")),
        buckets = 64)
        .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
      assert(w(1000L) > w(1001L),
        s"sample $i: pure-target doc ${w(1000L)} should outweigh ${w(1001L)}")
    }
  }

  test("eviction ≡ rebuild on random corpora with random removal sets (6 samples)") {
    // the tombstone path must be semantically INVISIBLE: for any
    // corpus and any removed subset, dedup against (index − removed)
    // answers exactly like an index built from scratch without them —
    // the law the targeted LshIndexSpec fixture can only sample once
    for ((docs, i) <- samples(corpusGen, 6).zipWithIndex) {
      val df = docs.toDF("doc_id", "text")
      // removal set: every 3rd doc, shifted by sample index
      val removedIds = docs.map(_._1).filter(id => (id + i) % 3 == 0)
      val base = java.nio.file.Files.createTempDirectory(s"graft-prop-ev$i").toString
      val full = s"$base/full"; val ref = s"$base/ref"
      Dedup.writeLshIndex(df, full)
      Dedup.lshIndex(full).tombstone(removedIds.toDF("doc_id"), "b")
      Dedup.writeLshIndex(
        df.where(!org.apache.spark.sql.functions.col("doc_id")
          .isin(removedIds: _*)), ref)
      val probe = docs.take(5).map { case (id, t) => (id + 10000L, t) }
        .toDF("doc_id", "text")
      def dups(p: String) = Dedup.nearDupsAgainstIndex(probe, p, threshold = 0.5)
        .collect()
        .map(r => (r.getAs[Long]("doc_new"), r.getAs[Long]("doc_old"),
          BigDecimal(r.getAs[Double]("jaccard")).setScale(9,
            BigDecimal.RoundingMode.HALF_UP))).toSet
      assert(dups(full) === dups(ref), s"sample $i: eviction != rebuild")
      // physical apply preserves the law
      Dedup.lshIndex(full).compact(spark)
      assert(dups(full) === dups(ref), s"sample $i: post-compact drift")
    }
  }

  test("curate is a monotone filter chain: output ⊆ quality survivors, |output| ≤ sampleN, deterministic") {
    for ((docs, i) <- samples(corpusGen, 4).zipWithIndex) {
      val df = docs.map { case (id, t) => (id, t, s"src${id % 3}") }
        .toDF("doc_id", "text", "source")
      val bench = df.where(org.apache.spark.sql.functions.col("doc_id") % 11 === 0)
      val corpus = df.where(org.apache.spark.sql.functions.col("doc_id") % 11 =!= 0)
      val cfg = Curation.Config(minQuality = 0.1, nearDupThreshold = 0.9,
        contaminationN = 6, dsirTargetSource = "src0", sampleN = 10,
        cache = false)
      def run() = Curation.curate(corpus, bench, cfg)
        .select("doc_id").collect().map(_.getLong(0)).toSet
      val out = run()
      assert(out.size <= cfg.sampleN, s"sample $i: |out|=${out.size} > sampleN")
      val quality = TextAnalysis.qualityFeatures(corpus)
        .where(org.apache.spark.sql.functions.col("quality_score") >= cfg.minQuality)
        .select("doc_id").collect().map(_.getLong(0)).toSet
      assert(out.subsetOf(quality), s"sample $i: non-survivor selected")
      // determinism: a re-run (fresh plan) selects the identical set
      assert(run() === out, s"sample $i: nondeterministic selection")
    }
  }

  test("curate is identical cached and uncached") {
    val docs = samples(corpusGen, 1).head
    val df = docs.map { case (id, t) => (id, t, s"src${id % 3}") }
      .toDF("doc_id", "text", "source")
    val bench = df.where(org.apache.spark.sql.functions.col("doc_id") % 11 === 0)
    val corpus = df.where(org.apache.spark.sql.functions.col("doc_id") % 11 =!= 0)
    def run(cache: Boolean) = Curation.curate(corpus, bench,
        Curation.Config(minQuality = 0.1, nearDupThreshold = 0.9,
          contaminationN = 6, dsirTargetSource = "src0", sampleN = 10,
          cache = cache))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2)))
      .toSet
    val uncached = run(cache = false)
    try assert(run(cache = true) === uncached)
    finally { graft.operators.SessionCache.release(); () }
  }

  test("weightedCosinePairs symmetry sanity: cosine in [-1, 1+eps] on random corpora") {
    for (docs <- samples(corpusGen, 6)) {
      val pairs = Dedup.weightedCosinePairs(
        docs.toDF("doc_id", "text"), maxTermDf = 1000).collect()
      // all-positive weights -> cosine in (0, 1]; the capped dot can
      // only LOWER it (norms stay true), never push it above 1
      assert(pairs.forall { r =>
        val c = r.getAs[Double]("cosine"); c > 0.0 && c <= 1.0 + 1e-12
      }, "cosine left (0, 1]")
    }
  }
}
