package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deduplication operators for training-data pipelines, from exact to
  * near-dup, each shaped for 100 TB:
  *
  *  - exact: hash-groupBy — one shuffle on a 16-byte key, no text
  *    movement when pre-hashed.
  *  - n-gram Jaccard: shingle inverted index + frequency cap; the
  *    cap (drop shingles occurring in > maxShingleDf docs) bounds the
  *    quadratic candidate blow-up on boilerplate shingles — standard
  *    practice for suffix/shingle dedup at corpus scale.
  *  - MinHash + LSH banding: candidate generation is linear in corpus
  *    size (band-bucket groupBy), verification only touches candidate
  *    pairs.
  *  - SimHash: 64-bit signature per doc; near-dup = hamming <= k via
  *    bit_count(xor) — signature join is band-able the same way.
  *
  * Hash family: every signature hash is md5-derived, so MinHash
  * signatures, LSH band buckets and SimHash signatures are all
  * reproducible in ANY engine with an md5 function (the DuckDB
  * oracle recomputes them in SQL and the gates hash-match). The
  * i-th MinHash member uses Kirsch-Mitzenmacher double hashing
  * (h_i = a + i*b over two independent 32-bit md5 halves — the
  * standard Bloom-filter/minhash trick): ONE md5 per shingle buys
  * the whole family, so the swap from murmur3 costs one digest
  * where it used to cost numHashes murmur3 passes.
  */
object Dedup {

  /** Exact-duplicate groups by content hash (optionally normalize
    * first via [[TextAnalysis.fingerprint]]).
    */
  def exactDuplicateGroups(df: DataFrame, textCol: String = "text",
      idCol: String = "doc_id"): DataFrame =
    df.groupBy(md5(col(textCol)).as("content_hash"))
      .agg(
        count(lit(1)).as("dup_count"),
        min(col(idCol)).as("keeper_doc_id"))

  /** Keep one row per distinct content (first by id — deterministic,
    * unlike dropDuplicates which keeps an arbitrary row). Assumes ids
    * identify rows (a corpus invariant; duplicate ids would keep all
    * copies of the keeper id — SILENTLY retaining duplicates).
    * Callers fed by UNCURATED corpora where that invariant is not
    * certain should pass `assertUniqueIds = true`: an opt-in eager
    * guard job (one map-side-combinable aggregation, driver traffic
    * bounded by `limit(1)`) that fails fast with the offending id
    * instead of letting duplicates slip through.
    *
    * Shape: (hash, id) keepers + semi-join back — the hash
    * aggregation shuffles 24-byte rows, never text, with map-side
    * combine, so a million copies of one hot document reduce to one
    * row per map task. The previous `Window.partitionBy(md5(text))`
    * formulation shuffled the FULL TEXT by content hash — at corpus
    * scale that serializes every copy of a hot document through a
    * single task and fully sorts text within partitions. Here the
    * keeper side is hash+id only (broadcast at moderate scale —
    * PlanSpec asserts no shuffled exchange carries text; at extreme
    * scale the semi-join shuffles df by its UNIQUE id, which cannot
    * hot-spot).
    */
  def dropExactDuplicates(df: DataFrame, textCol: String = "text",
      idCol: String = "doc_id", assertUniqueIds: Boolean = false): DataFrame = {
    if (assertUniqueIds) {
      val dup = df.groupBy(col(idCol)).agg(count(lit(1)).as("__n"))
        .where(col("__n") > 1).limit(1).collect()
      require(dup.isEmpty,
        s"dropExactDuplicates: duplicate $idCol=${dup.head.get(0)} — " +
          "ids must identify rows, or every copy of a keeper id survives")
    }
    val keepers = df
      .select(md5(col(textCol)).as("__h"), col(idCol))
      .groupBy(col("__h")).agg(min(col(idCol)).as(idCol))
      .select(idCol)
    df.join(keepers, Seq(idCol), "left_semi")
  }

  /** Word n-gram shingles, one row per distinct (id, shingle). Docs
    * with fewer than n tokens yield zero shingles.
    *
    * Window generation is the native codegen'd
    * [[graft.functions.WordNGrams]] (one static call per doc) — the
    * HOF `transform(sequence(...), concat_ws(element_at...))`
    * formulation it replaces was interpreted per window and, being
    * CSE-blind, would even re-tokenize per element if `split` were
    * inlined (round-1 lesson). Join semantics are `concat_ws`, so
    * output is unchanged.
    */
  def wordShingles(df: DataFrame, n: Int = 3, textCol: String = "text",
      idCol: String = "doc_id"): DataFrame =
    df.select(
      col(idCol).as("doc_id"),
      explode(graft.functions.NGramFunctions.wordNGrams(
        TextAnalysis.tokens(col(textCol)), n)).as("shingle"))
      .distinct()

  /** Character n-gram shingles over the whitespace-normalized,
    * lower-cased text (same canonical form as
    * [[TextAnalysis.fingerprint]]) — the standard alternative to word
    * shingles for whitespace-poor scripts and OCR-noisy text. Output
    * shape matches [[wordShingles]], so [[jaccardPairs]] /
    * [[minHashSignatures]] compose unchanged.
    */
  def charShingles(df: DataFrame, n: Int = 5, textCol: String = "text",
      idCol: String = "doc_id"): DataFrame = {
    val canon = lower(regexp_replace(trim(col(textCol)), "\\s+", " "))
    // native window generation ([[graft.functions.CharNGrams]], code-
    // point `substringSQL` — identical to the Column.substr windows it
    // replaces, but one codegen'd call per doc instead of an
    // interpreted lambda per window)
    df.select(col(idCol).as("doc_id"),
      explode(graft.functions.NGramFunctions.charNGrams(canon, n)).as("shingle"))
      .distinct()
  }

  /** The shared capped-index overlap plan behind [[jaccardPairs]] and
    * [[containmentPairs]]: df-cap the shingle index, count common
    * shingles per candidate pair, join back the true set sizes, score
    * with `ratio(common, size_a, size_b)` and threshold. One
    * pair-join, one pair-grain aggregation; only the final ratio
    * differs between the metrics.
    *
    * `persistShingles=false` opts out of the internal cut
    * ([[graft.operators.SessionCache.cut]]) for callers that manage
    * caching themselves (its blocks otherwise live until the next
    * `SessionCache.release()`).
    */
  private def overlapPairs(shingledIn: DataFrame, threshold: Double,
      maxShingleDf: Int, persistShingles: Boolean, metric: String)(
      ratio: (Column, Column, Column) => Column): DataFrame = {
    // The shingle frame feeds FOUR consumers (set sizes, df cap, both
    // sides of the pair join) — persist it or the explode+distinct
    // upstream recomputes per consumer (measured 2-3x slower).
    val shingled =
      if (persistShingles)
        graft.operators.SessionCache.cut(shingledIn)
      else shingledIn
    // shingle sizes per doc (uncapped — the cap only limits which
    // shingles can PAIR docs, not the true set sizes)
    val sizes = shingled.groupBy("doc_id").agg(count(lit(1)).as("set_size"))
    val capped = shingled.join(
      shingled.groupBy("shingle").agg(count(lit(1)).as("df"))
        .where(col("df") <= maxShingleDf)
        .select("shingle"),
      Seq("shingle"), "left_semi")
    val a = capped.select(col("doc_id").as("doc_a"), col("shingle"))
    val b = capped.select(col("doc_id").as("doc_b"), col("shingle"))
    val common = a.join(b, Seq("shingle"))
      .where(col("doc_a") < col("doc_b"))
      .groupBy("doc_a", "doc_b")
      .agg(count(lit(1)).as("common"))
    common
      .join(sizes.withColumnRenamed("doc_id", "doc_a")
        .withColumnRenamed("set_size", "size_a"), Seq("doc_a"))
      .join(sizes.withColumnRenamed("doc_id", "doc_b")
        .withColumnRenamed("set_size", "size_b"), Seq("doc_b"))
      .withColumn(metric, ratio(col("common"), col("size_a"), col("size_b")))
      .where(col(metric) >= threshold)
      .select("doc_a", "doc_b", "common", "size_a", "size_b", metric)
  }

  /** Exact pairwise Jaccard over shingle sets, for all pairs sharing
    * at least one (frequency-capped) shingle. Returns
    * (doc_a < doc_b, jaccard >= threshold).
    */
  def jaccardPairs(shingledIn: DataFrame, threshold: Double,
      maxShingleDf: Int = 100, persistShingles: Boolean = true): DataFrame =
    overlapPairs(shingledIn, threshold, maxShingleDf, persistShingles,
      "jaccard")((common, sa, sb) => common / (sa + sb - common))

  /** Containment (overlap-coefficient) pairs: |A ∩ B| / min(|A|,|B|)
    * >= threshold over the same df-capped shingle index as
    * [[jaccardPairs]]. Catches the dup class Jaccard structurally
    * misses: a short document wholly quoted inside a long one has
    * containment ~1 but Jaccard ~|short|/|long| — the standard
    * companion metric for training-corpus quote/boilerplate
    * deduplication.
    */
  def containmentPairs(shingledIn: DataFrame, threshold: Double,
      maxShingleDf: Int = 100, persistShingles: Boolean = true): DataFrame =
    overlapPairs(shingledIn, threshold, maxShingleDf, persistShingles,
      "containment")((common, sa, sb) => common / least(sa, sb))

  /** Rarity-weighted sparse cosine pairs — the WEIGHTED companion to
    * [[jaccardPairs]]: token-grain vectors with w = tf/df (the
    * engine's rarity weight, [[TextAnalysis.topRarityTerms]] — tf-idf
    * flavor without the cross-engine `ln`), cosine over pairs sharing
    * at least one df-capped term. Jaccard treats "the the the spark"
    * and "spark" alike; the weighted metric scores shared RARE mass,
    * the signal for template-with-slots near-dups where the slots are
    * the rare part.
    *
    * Same scale shape as the Jaccard index: candidate generation is
    * the capped inverted index (a term pairs at most maxTermDf² docs
    * — never corpus², the ScaleStressSpec bound), and the pair set is
    * a pure integer predicate (df ≤ cap ∧ shared ≥ 1) — engine-exact.
    * The cap trade, documented: common terms contribute to NORMS
    * (true vector length) but cannot pair docs or add dot mass, so
    * reported cosine ≤ true cosine, equal when all shared terms are
    * index-eligible. Weights are single IEEE divisions (correctly
    * rounded — engine-exact); only the dot/norm SUMS ride the 6-dp
    * note.
    */
  def weightedCosinePairs(df: DataFrame, maxTermDf: Int = 100,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val tf = graft.operators.SessionCache.cut(df
      .select(col(idCol).as("doc_id"),
        explode(TextAnalysis.tokens(col(textCol))).as("term"))
      .groupBy(col("doc_id"), col("term"))
      .agg(count(lit(1)).as("tf")))
    val dfreq = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val w = tf.join(dfreq, Seq("term"))
      .select(col("doc_id"), col("term"), col("df"),
        (col("tf").cast("double") / col("df")).as("w"))
    val norms = w.groupBy(col("doc_id"))
      .agg(sqrt(sum(col("w") * col("w"))).as("nrm"))
    val capped = w.where(col("df") <= maxTermDf)
    val a = capped.select(col("doc_id").as("doc_a"), col("term"),
      col("w").as("wa"))
    val b = capped.select(col("doc_id").as("doc_b"), col("term"),
      col("w").as("wb"))
    a.join(b, Seq("term"))
      .where(col("doc_a") < col("doc_b"))
      .groupBy(col("doc_a"), col("doc_b"))
      .agg(count(lit(1)).as("n_shared"),
        sum(col("wa") * col("wb")).as("__dot"))
      .join(norms.select(col("doc_id").as("doc_a"), col("nrm").as("__na")),
        Seq("doc_a"))
      .join(norms.select(col("doc_id").as("doc_b"), col("nrm").as("__nb")),
        Seq("doc_b"))
      .select(col("doc_a"), col("doc_b"), col("n_shared"),
        (col("__dot") / (col("__na") * col("__nb"))).as("cosine"))
  }

  /** Marginal-novelty curve over ingestion order: per doc, the
    * fraction of its distinct shingles seen in NO earlier doc
    * (earlier = smaller `orderCol`, which must be unique per doc).
    * The diminishing-returns signal of a growing corpus — novelty
    * decaying toward 0 over a crawl means new data is re-paying for
    * old data, the curve data-curriculum and crawl-budget decisions
    * read. Deterministic: a shingle's first owner is the unique
    * min-order doc, counts are integers, novelty ONE exact division.
    *
    * Scale shape: first-seen is a map-side-combinable min over the
    * (shingle, order) grain — the same one-pass shape as
    * [[Lines.dedupLines]]' packed-min winners, never a window over
    * the corpus; text never shuffles (shingles do, once, as the
    * aggregation key).
    */
  def noveltyCurve(shingled: DataFrame, orderCol: String = "doc_id"): DataFrame = {
    val firstSeen = shingled
      .groupBy(col("shingle"))
      .agg(min(col(orderCol)).as("__first"))
    shingled
      .join(firstSeen, Seq("shingle"))
      .groupBy(col(orderCol))
      .agg(count(lit(1)).as("n_shingles"),
        sum(when(col(orderCol) === col("__first"), 1L).otherwise(0L))
          .as("n_novel"))
      .withColumn("novelty", col("n_novel") / col("n_shingles"))
  }

  /** MinHash signature: numHashes independent min-hashes of the
    * shingle set.
    *
    * Family: h_i(s) = a(s) + i * b(s), where a/b are the first/second
    * 32 bits of md5(s) — Kirsch-Mitzenmacher double hashing. One md5
    * per shingle row generates all members (values < 2^36, no
    * overflow), and the family is pure ANSI SQL, so a DuckDB oracle
    * reproduces the signatures bit-for-bit
    * (`('0x'||substr(md5(s),1,8))::BIGINT` — the p18 cross-engine
    * pattern). a/b land in one codegen'd projection; CSE shares the
    * md5 digest between the two substrings.
    */
  /** THE hash family, single-sourced (batch signatures, the LSH band
    * index, the streaming in-scan buckets and the p08 oracle all
    * derive from these three definitions — a change here must change
    * everywhere at once or the load-bearing batch==stream==oracle
    * identity breaks): a/b are the first/second 32 bits of md5,
    * members are a + i*b, a band bucket is md5 over the comma-joined
    * member values.
    */
  private[pipeline] def hashA(s: Column): Column =
    conv(substring(md5(s), 1, 8), 16, 10).cast("long")
  private[pipeline] def hashB(s: Column): Column =
    conv(substring(md5(s), 9, 8), 16, 10).cast("long")
  private[pipeline] def bandBucketOf(members: Seq[Column]): Column =
    md5(concat_ws(",", members.map(_.cast("string")): _*))

  def minHashSignatures(shingled: DataFrame, numHashes: Int = 16): DataFrame =
    shingled
      .select(col("doc_id"),
        hashA(col("shingle")).as("__ha"), hashB(col("shingle")).as("__hb"))
      .groupBy("doc_id").agg(
        array((0 until numHashes).map(i =>
          min(col("__ha") + lit(i.toLong) * col("__hb"))): _*).as("minhash"))

  /** LSH banding: split the signature into bands of `rowsPerBand`,
    * hash each band, docs sharing any (band, hash) bucket become
    * candidate pairs. Linear-cost candidate generation.
    *
    * The band bucket is md5 over the comma-joined member values —
    * a pure string function of the signature, so the oracle mirrors
    * it with `md5(string_agg(mv, ',' ORDER BY i))`.
    */
  /** (doc_id, band, bucket) rows from minhash signatures — the LSH
    * index itself; [[lshCandidatePairs]] self-joins it, the streaming
    * near-dup path keys state by it.
    */
  def bandBuckets(signatures: DataFrame, numHashes: Int = 16,
      rowsPerBand: Int = 4): DataFrame = {
    require(numHashes % rowsPerBand == 0,
      s"numHashes=$numHashes must be a multiple of rowsPerBand=$rowsPerBand")
    val bands = (0 until numHashes / rowsPerBand).map { b =>
      val bandCols = (0 until rowsPerBand)
        .map(r => element_at(col("minhash"), b * rowsPerBand + r + 1))
      struct(lit(b).as("band"), bandBucketOf(bandCols).as("bucket"))
    }
    signatures
      .select(col("doc_id"), explode(array(bands: _*)).as("bb"))
      .select(col("doc_id"), col("bb.band"), col("bb.bucket"))
  }

  /** Band buckets holding more than `maxBucketSize` docs are
    * EXCLUDED from the self-join (the [[graft.pipeline.Similarity]]
    * `embeddingNearDups` cap, same shape): a bucket of n docs yields
    * C(n,2) candidates, and while exact dedup (the documented
    * precondition) removes identical texts, a boilerplate-heavy
    * crawl still puts thousands of near-identical-but-not-identical
    * docs into one band bucket — millions of pairs from a single
    * key. The exclusion is deterministic (an oracle mirrors it with
    * a HAVING clause); [[lshOverflowBuckets]] reports what was
    * dropped — run it alongside for observability.
    */
  def lshCandidatePairs(signatures: DataFrame, numHashes: Int = 16,
      rowsPerBand: Int = 4, maxBucketSize: Int = 100000): DataFrame = {
    val buckets = bandBuckets(signatures, numHashes, rowsPerBand)
    // single-pass cap: per-(band, bucket) population as a whole-
    // partition window over the SAME hash partitioning the pair join
    // below needs — the planner reuses the exchange, so the cap adds
    // NO extra shuffle of the bucket frame (the aggregate + semi-join
    // form re-shuffled it twice; measured 1.3-1.5x on the LSH-heavy
    // gates). The window buffers one bucket's rows per group — by
    // construction at most the corpus's worst bucket, which is
    // exactly the population this cap exists to measure and drop.
    val w = org.apache.spark.sql.expressions.Window.partitionBy("band", "bucket")
    val capped = buckets
      .withColumn("__n", count(lit(1)).over(w))
      .where(col("__n") <= maxBucketSize)
    val l = capped.select(col("doc_id").as("doc_a"), col("band"), col("bucket"))
    val r = capped.select(col("doc_id").as("doc_b"), col("band"), col("bucket"))
    l.join(r, Seq("band", "bucket"))
      .where(col("doc_a") < col("doc_b"))
      .select("doc_a", "doc_b")
      .distinct()
  }

  /** The band buckets [[lshCandidatePairs]] dropped under the same
    * parameters: (band, bucket, population) for populations >
    * maxBucketSize. A non-empty result at default cap means the
    * corpus has a boilerplate pathology upstream dedup should be
    * handling. This overload recomputes the banding from signatures
    * (a second banding pass); when running it NEXT TO a dedup, hold
    * the [[bandBuckets]] frame yourself and use
    * [[overflowBucketsFrom]] — one aggregate over the shared
    * substrate, no second pass.
    */
  def lshOverflowBuckets(signatures: DataFrame, numHashes: Int = 16,
      rowsPerBand: Int = 4, maxBucketSize: Int = 100000): DataFrame =
    overflowBucketsFrom(bandBuckets(signatures, numHashes, rowsPerBand),
      maxBucketSize)

  /** [[lshOverflowBuckets]] over a PRE-BUILT bucket frame — the cheap
    * form: one aggregate, no re-banding.
    */
  def overflowBucketsFrom(buckets: DataFrame,
      maxBucketSize: Int = 100000): DataFrame =
    buckets
      .groupBy("band", "bucket").agg(count(lit(1)).as("population"))
      .where(col("population") > maxBucketSize)

  /** The LSH band buckets as a pure COLUMN expression over (id, text)
    * — array of (band, bucket) structs with NO per-doc aggregation,
    * so it evaluates in a single streaming scan. Same shingling and
    * hash family as [[minHashSignatures]] + [[bandBuckets]]: batch
    * and stream produce IDENTICAL buckets (StreamingNearDupSpec
    * asserts it row-for-row).
    *
    * Docs with fewer than `n` tokens have no shingles (batch: no
    * signature row, never a candidate); here they get a doc-unique
    * sentinel bucket md5('short:' ++ id) per band — they collide with
    * nothing and flow through the same dedup operator (an exact
    * re-delivery of the same id still dedups).
    *
    * Perf note: the min-hash folds are interpreted HOFs per document
    * (fine at stream ingest rates); the batch corpus path keeps its
    * exploded codegen'd aggregation shape.
    */
  def minHashBandBuckets(id: Column, text: Column, n: Int = 3,
      numHashes: Int = 16, rowsPerBand: Int = 4): Column = {
    require(numHashes % rowsPerBand == 0,
      s"numHashes=$numHashes must be a multiple of rowsPerBand=$rowsPerBand")
    // materialize the shingle + (a, b) hash arrays once; members are
    // zip_with folds over them (duplicate shingles cannot change a MIN)
    val sh = graft.functions.NGramFunctions.wordNGrams(TextAnalysis.tokens(text), n)
    val ha = transform(sh, s => hashA(s))
    val hb = transform(sh, s => hashB(s))
    def member(i: Int): Column =
      array_min(zip_with(ha, hb, (a, b) => a + lit(i.toLong) * b))
    val bands = (0 until numHashes / rowsPerBand).map { b =>
      val bandCols = (b * rowsPerBand until (b + 1) * rowsPerBand).map(member)
      struct(lit(b).as("band"), bandBucketOf(bandCols).as("bucket"))
    }
    val sentinel = (0 until numHashes / rowsPerBand).map(b =>
      struct(lit(b).as("band"),
        md5(concat(lit("short:"), id.cast("string"))).as("bucket")))
    when(size(sh) >= 1, array(bands: _*)).otherwise(array(sentinel: _*))
  }

  /** MinHash+LSH near-dup end-to-end: candidates from banding,
    * verified with exact Jaccard (so the output is a true near-dup
    * set, LSH only prunes the pair space).
    */
  /** `persistShingles=false` opts out of the internal cut like
    * [[overlapPairs]]' flag — for callers that manage caching
    * themselves (the blocks otherwise live until the next
    * `SessionCache.release()`).
    */
  def minHashNearDups(df: DataFrame, threshold: Double, n: Int = 3,
      numHashes: Int = 16, rowsPerBand: Int = 4,
      persistShingles: Boolean = true): DataFrame =
    minHashNearDupsFromShingles(wordShingles(df, n), threshold,
      numHashes, rowsPerBand, persistShingles)

  /** [[minHashNearDups]] over a PRE-SHINGLED frame — for callers that
    * already hold the shingle substrate (e.g. the p63 recall harness,
    * which feeds the SAME frame to [[jaccardPairs]] and here: one
    * shingle scan, one cache, two consumers).
    */
  def minHashNearDupsFromShingles(shingledIn: DataFrame, threshold: Double,
      numHashes: Int = 16, rowsPerBand: Int = 4,
      persistShingles: Boolean = true): DataFrame = {
    // MEMORY_AND_DISK: the exploded shingle corpus is reused by the
    // signature pass, the size pass and the verify join; partitions
    // that don't fit executor memory spill to local disk rather than
    // evicting (a bare MEMORY_ONLY cache of a corpus-sized frame would
    // thrash at 100 TB — there, shingles would be written once to a
    // bucketed table instead and each pass would read it back).
    val shingled =
      if (persistShingles)
        graft.operators.SessionCache.cut(shingledIn)
      else shingledIn
    val candidates = lshCandidatePairs(
      minHashSignatures(shingled, numHashes), numHashes, rowsPerBand)
    val sizes = shingled.groupBy("doc_id").agg(count(lit(1)).as("set_size"))
    val a = shingled.select(col("doc_id").as("doc_a"), col("shingle"))
    val b = shingled.select(col("doc_id").as("doc_b"), col("shingle"))
    // CANDIDATE-FIRST: expand candidate pairs by doc_a's shingles,
    // then match doc_b's on (doc_b, shingle). Work is
    // |candidates| x |shingles per doc| — linear in the LSH output.
    // (The tempting a⋈b-on-shingle-THEN-semi-filter shape
    // materializes every co-shingle pair BEFORE the filter: the
    // quadratic boilerplate-shingle blowup LSH exists to prune,
    // resurrected one operator later.)
    val common = candidates
      .join(a, Seq("doc_a"))
      .join(b, Seq("doc_b", "shingle"))
      .groupBy("doc_a", "doc_b").agg(count(lit(1)).as("common"))
    common
      .join(sizes.withColumnRenamed("doc_id", "doc_a")
        .withColumnRenamed("set_size", "size_a"), Seq("doc_a"))
      .join(sizes.withColumnRenamed("doc_id", "doc_b")
        .withColumnRenamed("set_size", "size_b"), Seq("doc_b"))
      .withColumn("jaccard",
        col("common") / (col("size_a") + col("size_b") - col("common")))
      .where(col("jaccard") >= threshold)
      .select("doc_a", "doc_b", "jaccard")
  }

  /** Effective SimHash width: token hashes are the first 15 hex
    * digits of md5 (60 bits — the widest value `conv` round-trips
    * exactly in both engines), so signature bits 60-63 are
    * structurally zero. The 4x16-bit chunk banding and hamming
    * arithmetic are unchanged; an oracle recomputes signatures with
    * `('0x'||substr(md5(t),1,15))::BIGINT`.
    */
  val SimHashBits = 60

  /** The 60-bit SimHash token hash (single-sourced for the agg and
    * expression paths; the p09 oracle mirrors it as
    * `('0x'||substr(md5(t),1,15))::BIGINT`).
    */
  private[pipeline] def simHash60(t: Column): Column =
    graft.functions.Md5Hash.h60(t)

  /** SimHash over whitespace tokens: per bit, sum +1/-1 votes of each
    * token's 60-bit md5-derived hash, sign becomes the bit.
    *
    * Shape: explode tokens, hash in a codegen'd projection (an md5
    * inside a `transform` lambda would be interpreted per element —
    * the HOF no-CSE trap), then ONE codegen'd hash aggregation with
    * [[SimHashBits]] conditional-sum columns assembled into the
    * signature. (The all-expression alternative — 64 interpreted
    * `aggregate` folds over the token array — re-walks the array per
    * bit with no codegen; measured ~6 s for 5 000 docs vs ~1 s for
    * this shape. The groupBy shuffles only (doc_id, the votes), not
    * the text.)
    */
  def simHashSignatures(df: DataFrame, textCol: String = "text",
      idCol: String = "doc_id"): DataFrame = {
    val hashes = df.select(
      col(idCol).as("doc_id"),
      explode(TextAnalysis.tokens(col(textCol))).as("__t"))
      .select(col("doc_id"), simHash60(col("__t")).as("__h"))
    val votes = (0 until SimHashBits).map(b =>
      sum(when(shiftright(col("__h"), b).bitwiseAND(1L) === 1L, 1L).otherwise(-1L))
        .as(s"__v$b"))
    val sig = (0 until SimHashBits).map(b =>
      when(col(s"__v$b") > 0, shiftleft(lit(1L), b)).otherwise(lit(0L)))
      .reduce(_.bitwiseOR(_))
    hashes.groupBy(col("doc_id"))
      .agg(votes.head, votes.tail: _*)
      .select(col("doc_id"), sig.as("simhash"))
  }

  /** Materialize an LSH dedup INDEX of a corpus: its band-bucket
    * table and its shingle table, written as parquet artifacts — the
    * MinHash analog of [[graft.pipeline.Similarity.writeIvfIndex]].
    * Incremental ingest then dedups each NEW batch against the index
    * ([[nearDupsAgainstIndex]]) and appends the batch's own bands and
    * shingles under a new `batchId` ([[lshIndex]]'s `write`) — the
    * corpus is shingled and signed exactly ONCE, ever; daily dedup
    * cost scales with the batch, not the corpus.
    *
    * The index is a [[graft.sources.BatchTable]] ([[lshIndex]]): every
    * write lands under a `batch=<batchId>` subdirectory, so a RETRIED
    * write (at-least-once orchestration, or a crash between the bands
    * and shingles writes) OVERWRITES its own batch rather than
    * doubling rows — a doubled shingle table would double set_size and
    * silently deflate every verified jaccard below threshold, admitting
    * duplicates. A fresh index first clears the whole index and its
    * tombstones: stale files from a previous run (or layout) would
    * otherwise pollute every read.
    *
    * Retention evicts documents through [[lshIndex]]'s tombstone set
    * (`tombstone(removed, batchId)`, the `removed` rows of
    * [[Snapshots.diff]]): a deleted doc must stop claiming near-dup
    * verdicts against new batches, or a doc deleted for policy reasons
    * would keep suppressing its re-crawled twin. Its `compact` folds
    * both tables' batches into one and drops the evicted rows.
    */
  def writeLshIndex(docs: DataFrame, path: String, n: Int = 3,
      numHashes: Int = 16, rowsPerBand: Int = 4,
      batchId: String = "base"): Unit = {
    val index = lshIndex(path)
    index.fresh(docs.sparkSession)
    graft.operators.SessionCache.scoped(wordShingles(docs, n)) { shingled =>
      index.write(bandBuckets(minHashSignatures(shingled, numHashes),
        numHashes, rowsPerBand), batchId, "bands")
      index.write(shingled, batchId, "shingles")
    }
  }

  /** The LSH index at `path` as a [[graft.sources.BatchTable]]: the
    * `bands` and `shingles` tables share one tombstone set of evicted
    * `doc_id`s.
    */
  def lshIndex(path: String): graft.sources.BatchTable =
    graft.sources.BatchTable(path, "doc_id", Seq("bands", "shingles"))

  /** Near-dup pairs (doc_new, doc_old, jaccard) of a NEW batch
    * against a materialized [[writeLshIndex]] index — incremental
    * corpus dedup. Work: shingle+sign the batch, candidate-join its
    * band buckets against the index's, then the candidate-first
    * exact-Jaccard verify against the index's shingle table (linear
    * in the candidate set — the r3 lesson). Same md5 hash family as
    * everything else, so batch-vs-index equals one-shot
    * [[minHashNearDups]] over the union, restricted to cross-side
    * pairs (LshIndexSpec proves it; the p19 oracle recomputes both
    * sides in SQL).
    */
  def nearDupsAgainstIndex(newDocs: DataFrame, indexPath: String,
      threshold: Double, n: Int = 3,
      numHashes: Int = 16, rowsPerBand: Int = 4,
      persistShingles: Boolean = true): DataFrame = {
    val spark = newDocs.sparkSession
    val newShingledRaw = wordShingles(newDocs, n)
    val newShingled =
      if (persistShingles)
        graft.operators.SessionCache.cut(newShingledRaw)
      else newShingledRaw
    val newBands = bandBuckets(
      minHashSignatures(newShingled, numHashes), numHashes, rowsPerBand)
    // tombstoned (evicted) docs must not claim verdicts: subtracting
    // them from the BANDS table alone is sufficient — candidates are
    // the only path to doc_old, and the verification/size joins below
    // are keyed by the already-filtered candidate pairs (an evicted
    // doc's shingle rows only ever feed its OWN size row, so they
    // cannot distort any surviving pair's jaccard). Filtering the
    // corpus-sized shingles table too would add a second anti-join on
    // the per-batch hot path for zero semantic effect.
    val idxBands = lshIndex(indexPath).live(
      spark.read.parquet(s"$indexPath/bands"))
    val candidates = newBands
      .select(col("doc_id").as("doc_new"), col("band"), col("bucket"))
      .join(idxBands.select(col("doc_id").as("doc_old"), col("band"), col("bucket")),
        Seq("band", "bucket"))
      .where(col("doc_new") =!= col("doc_old"))
      .select("doc_new", "doc_old")
      .distinct()
    val idxShingles = spark.read.parquet(s"$indexPath/shingles")
    val a = newShingled.select(col("doc_id").as("doc_new"), col("shingle"))
    val b = idxShingles.select(col("doc_id").as("doc_old"), col("shingle"))
    val common = candidates
      .join(a, Seq("doc_new"))
      .join(b, Seq("doc_old", "shingle"))
      .groupBy("doc_new", "doc_old").agg(count(lit(1)).as("common"))
    val newSizes = newShingled.groupBy("doc_id").agg(count(lit(1)).as("set_size"))
    val oldSizes = idxShingles.groupBy("doc_id").agg(count(lit(1)).as("set_size"))
    common
      .join(newSizes.withColumnRenamed("doc_id", "doc_new")
        .withColumnRenamed("set_size", "size_new"), Seq("doc_new"))
      .join(oldSizes.withColumnRenamed("doc_id", "doc_old")
        .withColumnRenamed("set_size", "size_old"), Seq("doc_old"))
      .withColumn("jaccard",
        col("common") / (col("size_new") + col("size_old") - col("common")))
      .where(col("jaccard") >= threshold)
      .select("doc_new", "doc_old", "jaccard")
  }

  /** Near-dup pairs by SimHash hamming distance <= maxHamming.
    * Candidate generation: band the 64-bit signature into four
    * 16-bit chunks — pairs within hamming <= 3 must share >= 1 exact
    * chunk (pigeonhole), so the join is on chunk equality, not a
    * cross product.
    */
  def simHashNearDups(df: DataFrame, maxHamming: Int = 3,
      textCol: String = "text", idCol: String = "doc_id"): DataFrame =
    hammingNearDups(simHashSignatures(df, textCol, idCol), maxHamming,
      sigCol = "simhash")

  /** Chunk-banded hamming near-dup join over ANY 64-bit-signature
    * frame — the SimHash candidate machinery factored out so other
    * fingerprint modalities ride it unchanged (e.g. perceptual image
    * dHash from [[Multimodal.pixelSignatures]]): pairs within
    * hamming <= 3 must share one exact 16-bit chunk (pigeonhole over
    * 4 chunks), so candidates come from chunk-equality joins — never
    * C(n,2) over the corpus.
    *
    * Input: (idCol, sigCol) one row per item. Output:
    * (id_a, id_b, hamming), id_a < id_b, hamming <= maxHamming.
    */
  def hammingNearDups(sigs: DataFrame, maxHamming: Int = 3,
      sigCol: String = "signature", idCol: String = "doc_id"): DataFrame = {
    // 4 chunks guarantee a shared chunk only for hamming <= 3
    // (pigeonhole); a larger maxHamming would silently lose recall.
    require(maxHamming >= 0 && maxHamming < 4,
      s"maxHamming=$maxHamming outside [0,3]: 4-chunk banding is only complete for hamming <= 3")
    val base = sigs.select(col(idCol).as("doc_id"), col(sigCol).as("__sig"))
    val chunks = (0 until 4).map(c =>
      struct(lit(c).as("chunk"),
        shiftright(col("__sig"), c * 16).bitwiseAND(0xFFFFL).as("val")))
    val keyed = base.select(col("doc_id"), col("__sig"),
      explode(array(chunks: _*)).as("ck"))
      .select(col("doc_id"), col("__sig"), col("ck.chunk"), col("ck.val"))
    val l = keyed.select(col("doc_id").as("doc_a"), col("__sig").as("sig_a"),
      col("chunk"), col("val"))
    val r = keyed.select(col("doc_id").as("doc_b"), col("__sig").as("sig_b"),
      col("chunk"), col("val"))
    // hamming filter BEFORE the distinct: hamming is a pure function of
    // the pair, so the result is identical, but far-pair chunk
    // collisions are discarded pre-exchange instead of being shuffled
    // through the dedup only to be dropped after
    l.join(r, Seq("chunk", "val"))
      .where(col("doc_a") < col("doc_b"))
      .select(col("doc_a"), col("doc_b"),
        bit_count(col("sig_a").bitwiseXOR(col("sig_b"))).as("hamming"))
      .where(col("hamming") <= maxHamming)
      .distinct()
  }
}
