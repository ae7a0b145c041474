package graft.pipeline

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Adversarial scale-stress for the two caps the 100 TB dedup story
  * leans on: [[Dedup.jaccardPairs]]'s `maxShingleDf` and
  * [[Similarity.embeddingNearDups]]'s `maxBucketSize`. The benign
  * fixtures elsewhere never trip them; these corpora are BUILT to —
  * every doc shares one boilerplate shingle set, and thousands of
  * embeddings collapse into one LSH bucket — and the specs assert the
  * capped plans finish with a PROVEN bound on materialized pair rows
  * while the observability surfaces report exactly what was excluded.
  *
  * Scale arithmetic being defended: an uncapped shingle shared by N
  * docs contributes C(N,2) candidate pairs — at N=2000 that is ~2M
  * pairs PER boilerplate shingle (~56M for a 28-shingle boilerplate
  * block); at corpus scale it is the job. The cap must turn that into
  * zero without touching honest rare-shingle pairs.
  */
class ScaleStressSpec extends SparkSpec {

  import spark.implicits._

  private val boilerplate =
    (0 until 30).map(i => s"bp$i").mkString(" ") // 28 word-3-shingles, df = N

  /** N docs, all sharing the boilerplate block, each with a unique
    * 6-token tail; docs 2k and 2k+1 for k < plantedPairs share their
    * tail (the honest rare-shingle near-dup pairs the cap must keep).
    */
  private def pathologicalDocs(n: Int, plantedPairs: Int) =
    (0 until n).map { d =>
      val tailSeed = if (d < 2 * plantedPairs) d / 2 else 1000 + d
      // planted pairs are NEAR-dups: the odd doc's last tail token is
      // mutated, so one shingle differs and the rare-shingle join has
      // real (non-identical) work to do
      val last = if (d < 2 * plantedPairs && d % 2 == 1) "m" else "5"
      val tail = (0 until 5).map(i => s"t${tailSeed}_$i")
        .mkString(" ") + s" t${tailSeed}_$last"
      (d.toLong, s"$boilerplate $tail")
    }.toDF("doc_id", "text")

  test("maxShingleDf bounds the pair join under an all-docs boilerplate block") {
    val n = 2000
    val planted = 10
    val shingled = Dedup.wordShingles(pathologicalDocs(n, planted), n = 3)

    // first, prove the fixture is genuinely pathological: UNCAPPED on
    // a 100-doc slice, the boilerplate alone pairs every doc with
    // every other — C(100,2) materialized pair rows at threshold 0
    val slice = Dedup.wordShingles(pathologicalDocs(100, 0), n = 3)
    val uncapped = Dedup.jaccardPairs(slice, threshold = 0.0,
      maxShingleDf = 1000000).count()
    assert(uncapped == 100L * 99 / 2,
      s"fixture not pathological: uncapped pairs = $uncapped")

    // capped at the default 100: every boilerplate shingle has
    // df = 2000 > 100 and is excluded, so the ONLY candidate pairs
    // are the planted shared-tail pairs — the materialized pair grain
    // is bounded by construction, not by luck. threshold=0 makes the
    // output exactly that grain (nothing filtered after the join).
    val capped = Dedup.jaccardPairs(shingled, threshold = 0.0,
      maxShingleDf = 100)
    val pairs = capped.collect()
    assert(pairs.length == planted,
      s"expected exactly the $planted planted pairs, got ${pairs.length}")
    assert(pairs.forall { r =>
      val (a, b) = (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b"))
      b == a + 1 && a % 2 == 0 && a < 2L * planted
    }, s"unexpected pair survived the cap: ${pairs.mkString(",")}")

    // capped-common semantics, pinned: `common` counts only CAPPED
    // shingles (the boilerplate no longer votes for similarity — the
    // point of the cap) while set sizes stay TRUE. Fixture shape: 36
    // tokens -> 34 shingles per doc; the pair shares 5 rare shingles
    // (6 tail-touching shingles, one mutated away), so
    // jaccard = 5 / (34 + 34 - 5) = 5/63.
    val j = pairs.head.getAs[Double]("jaccard")
    assert(math.abs(j - 5.0 / 63.0) < 1e-9, s"jaccard drifted: $j")
  }

  test("containmentPairs shares the same df cap (no second uncapped path)") {
    val shingled = Dedup.wordShingles(pathologicalDocs(500, 5), n = 3)
    val got = Dedup.containmentPairs(shingled, threshold = 0.0,
      maxShingleDf = 100).count()
    assert(got == 5, s"containment path leaked boilerplate pairs: $got")
  }

  test("weightedCosinePairs: the TERM df cap bounds the pair grain the same way") {
    // every doc shares the 30 boilerplate TOKENS (df = 2000 each); the
    // planted near-dup pairs share their 6 rare tail tokens. Capped at
    // 100, boilerplate cannot pair anyone — the weighted-cosine pair
    // grain is exactly the planted pairs, never C(2000, 2)
    val planted = 10
    val pairs = Dedup.weightedCosinePairs(
      pathologicalDocs(2000, planted), maxTermDf = 100).collect()
    assert(pairs.length == planted,
      s"expected the $planted planted pairs, got ${pairs.length}")
    assert(pairs.forall { r =>
      val (a, b) = (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b"))
      b == a + 1 && a % 2 == 0 && a < 2L * planted
    }, s"boilerplate leaked through the term cap: ${pairs.take(5).mkString(",")}")
    // shared-rare-mass semantics: the pair shares 5 of its 6 rare
    // tail tokens, dot counts ONLY those, norms stay true (include
    // the boilerplate weights) -> cosine well inside (0, 1)
    val c = pairs.head.getAs[Double]("cosine")
    assert(c > 0.0 && c < 1.0, s"degenerate cosine: $c")
  }

  test("lshCandidatePairs maxBucketSize: a degenerate band bucket never materializes C(n,2)") {
    // n docs with DISTINCT texts but the SAME distinct shingle set
    // (a 3-token cycle repeated a varying number of times): exact
    // dedup keeps all of them, yet their minhash signatures are
    // identical, so every band puts all n into ONE bucket — the
    // boilerplate-crawl pathology for the banded path.
    val n = 200
    val planted = 5
    val hot = (0 until n).map { i =>
      (i.toLong, Seq.fill(2 + i)("h0 h1 h2").mkString(" "))
    }
    // honest pairs, same cyclic trick per pair: identical shingle
    // sets => identical signatures => deterministic band collision
    // (no banding-recall luck in the assertion)
    val honest = (0 until planted).flatMap { k =>
      Seq((1000L + 2 * k, Seq.fill(2)(s"p${k}_0 p${k}_1 p${k}_2").mkString(" ")),
        (1000L + 2 * k + 1, Seq.fill(3)(s"p${k}_0 p${k}_1 p${k}_2").mkString(" ")))
    }
    val docs = (hot ++ honest).toDF("doc_id", "text")
    val sigs = Dedup.minHashSignatures(Dedup.wordShingles(docs, n = 3))

    // fixture IS pathological: at the default (effectively uncapped
    // here) size the hot bucket materializes all C(n,2) pairs
    val uncapped = Dedup.lshCandidatePairs(sigs).count()
    assert(uncapped == n.toLong * (n - 1) / 2 + planted,
      s"fixture not pathological: uncapped pairs = $uncapped")

    // capped: the hot bucket is excluded wholesale, the pair grain is
    // exactly the planted pairs
    val capped = Dedup.lshCandidatePairs(sigs, maxBucketSize = 50).collect()
    assert(capped.length == planted,
      s"expected the $planted planted pairs, got ${capped.length}")
    assert(capped.forall { r =>
      val (a, b) = (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b"))
      a >= 1000L && b == a + 1 && a % 2 == 0
    }, s"hot-bucket pair leaked through the cap: ${capped.take(5).mkString(",")}")

    // and the drop is OBSERVABLE: one overflow row per band (all 4
    // bands collapse to one bucket of n docs)
    val overflow = Dedup.lshOverflowBuckets(sigs, maxBucketSize = 50).collect()
    assert(overflow.length == 4, s"expected 4 overflowing bands: ${overflow.length}")
    assert(overflow.forall(_.getAs[Long]("population") == n.toLong),
      s"wrong reported population: ${overflow.mkString(",")}")
  }

  test("maxBucketSize excludes a degenerate all-zero-embedding bucket and reports it") {
    val dim = 8
    val zeros = (0 until 5000).map(i => (i.toLong, Array.fill(dim)(0.0f)))
    // an honest tight cluster IN A DIFFERENT BUCKET: all-positive unit
    // direction (projections > 0 on some planes -> nonzero bucket)
    val honest = (10000 until 10005).map(i =>
      (i.toLong, Array.tabulate(dim)(d => 1.0f + 0.001f * (i % 3) * d)))
    // malformed rows: wrong length -> NULL-bucket quarantine
    val malformed = (20000 until 20003).map(i =>
      (i.toLong, Array.fill(dim - 2)(0.5f)))
    val emb = (zeros ++ honest ++ malformed).toDF("vec_id", "embedding")
      .withColumn("embedding", col("embedding").cast("array<float>"))

    val pairs = Similarity.embeddingNearDups(emb, threshold = 0.9,
      bits = 4, maxBucketSize = 100, dim = Some(dim)).collect()
    // bounded: only the honest cluster may pair — C(5,2) rows max,
    // and not one zero-vector or malformed id appears
    assert(pairs.length <= 10, s"pair bound exceeded: ${pairs.length}")
    assert(pairs.nonEmpty, "honest cluster lost — cap over-applied")
    assert(pairs.forall { r =>
      val (a, b) = (r.getAs[Long]("id_a"), r.getAs[Long]("id_b"))
      a >= 10000 && a < 10005 && b >= 10000 && b < 10005
    }, s"capped/quarantined id leaked into pairs: ${pairs.mkString(",")}")

    // observability: the dropped bucket and the quarantine are REPORTED
    val overflow = Similarity.overflowBuckets(emb, bits = 4,
      maxBucketSize = 100, dim = Some(dim)).collect()
      .map(r => (if (r.isNullAt(0)) None else Some(r.getLong(0)),
        r.getAs[Long]("population"))).toMap
    val zeroBucketPop = overflow.collectFirst {
      case (Some(_), pop) if pop == 5000L => pop }
    assert(zeroBucketPop.contains(5000L),
      s"all-zero bucket not reported: $overflow")
    assert(overflow.get(None).contains(3L),
      s"malformed-vector quarantine not reported: $overflow")
  }

  test("semDedup maxCellSize: a 5000-row degenerate cell never schedules its C(n,2) pairing") {
    val dim = 8
    // 5000 identical vectors collapse into ONE cell: uncapped, the
    // in-cell join is C(5000,2) ~ 12.5M pairs; capped, the cell is
    // skipped (members all self-keep) and the honest cluster in some
    // other cell still dedups
    val hot = (0 until 5000).map(i =>
      (i.toLong, Array.tabulate(dim)(d => if (d == 0) 1.0f else 0.0f)))
    val honest = (10000 until 10005).map(i =>
      (i.toLong, Array.tabulate(dim)(d => if (d == 1) 1.0f else 0.001f * (i % 3))))
    val malformed = Seq((20000L, Array.fill(dim - 2)(0.5f)))
    val emb = (hot ++ honest ++ malformed).toDF("vec_id", "embedding")
      .withColumn("embedding", col("embedding").cast("array<float>"))

    val v = Similarity.semDedup(emb, nlist = 4, eps = 0.9,
      maxCellSize = 100, dim = Some(dim)).collect()
    assert(v.length === 5006)
    val hotRows = v.filter(_.getAs[Long]("vec_id") < 5000)
    assert(hotRows.forall(_.getAs[Boolean]("keeper")),
      "capped cell must self-keep, not drop")
    assert(hotRows.forall(r => r.getAs[Long]("cluster_id") == r.getAs[Long]("vec_id")),
      "capped cell must not cluster")
    // the honest cluster still dedups IF it landed in an uncapped cell
    // of its own; with 4 md5-sampled centroids over this frame that is
    // the common case but not guaranteed — assert only the invariant
    // that keepers exist per cluster
    v.groupBy(_.getAs[Long]("cluster_id")).foreach { case (_, rows) =>
      assert(rows.count(_.getAs[Boolean]("keeper")) === 1)
    }
  }

  test("GlobalOrder ranks 1M rows without a driver-side bottleneck") {
    import org.apache.spark.sql.functions._
    val n = 1000000L
    val df = spark.range(n).select(col("id"),
      pmod(col("id") * 2654435761L, lit(1000003L)).as("key"))
    val t0 = System.nanoTime()
    val ranked = graft.operators.GlobalOrder.withGlobalRank(
      df, "rank", Seq(col("key").asc, col("id").asc))
    // spot-probe the contract instead of collecting 1M rows: total
    // count preserved, rank range exact, global min/max keys sit at
    // the rank extremes
    val stats = ranked.agg(
      count(lit(1)).as("n"), min("rank").as("lo"), max("rank").as("hi"),
      min(struct(col("rank"), col("key"))).as("first"),
      max(struct(col("rank"), col("key"))).as("last")).head()
    val secs = (System.nanoTime() - t0) / 1e9
    assert(stats.getAs[Long]("n") === n)
    assert(stats.getAs[Long]("lo") === 1L && stats.getAs[Long]("hi") === n)
    val firstKey = stats.getStruct(3).getLong(1)
    val lastKey = stats.getStruct(4).getLong(1)
    val keyBounds = df.agg(min("key"), max("key")).head()
    assert(firstKey === keyBounds.getLong(0), "rank 1 not at the global min key")
    assert(lastKey === keyBounds.getLong(1), s"rank $n not at the global max key")
    assert(secs < 60.0, f"1M-row global rank took $secs%.1f s")
  }

  test("PQ duplicate codewords: assignment and ADC stay consistent (larger cid wins)") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    // codebook with two IDENTICAL codewords (cids 5 and 9): argmax
    // tie must resolve to cid 9 everywhere, and scoring must be
    // unaffected (same codeword content either way)
    val cw = Array.tabulate(4)(i => 1.0f + i)
    val codebook = Array(
      (2L, Array(9f, 9f, 9f, 9f)), (5L, cw), (9L, cw.clone()))
    val emb = Seq(
      (0L, Array(1.1f, 2.1f, 2.9f, 4.2f)), // nearest the duplicated codeword
      (1L, Array(9f, 9f, 9f, 9f)))
      .toDF("vec_id", "embedding")
    val codes = Quantization.pqCodes(emb, codebook, m = 1)
      .collect().map(r => r.getAs[Long]("vec_id") -> r.getSeq[Long](1)).toMap
    assert(codes(0L) === Seq(9L), s"duplicate-codeword tie leaked: ${codes(0L)}")
    assert(codes(1L) === Seq(2L))
  }
}
