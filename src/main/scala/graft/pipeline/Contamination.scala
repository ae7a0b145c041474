package graft.pipeline

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Benchmark decontamination: find training-corpus documents that
  * share verbatim word n-grams with an evaluation/benchmark set, so
  * they can be dropped (or the benchmark discounted) before
  * pretraining — the standard n-gram-overlap decontamination check
  * (GPT-2/3, PaLM use 8–13-gram variants; n is a parameter here).
  *
  * Scale shape: the benchmark side is small by construction (eval
  * suites are thousands of documents, the corpus is billions), so its
  * DISTINCT shingle set is explicitly `broadcast()` — the corpus-side
  * shingle stream joins map-side with NO shuffle of corpus data by
  * shingle. The only corpus-keyed aggregation is the per-doc overlap
  * count (doc_id grain). Corpus text itself never enters a join — only
  * (doc_id, shingle) rows.
  */
object Contamination {

  /** Per-corpus-doc overlap with the benchmark shingle set:
    * (doc_id, n_shingles, n_overlap, contamination) for docs with at
    * least one shared n-gram; `contamination` = n_overlap/n_shingles
    * (distinct-shingle grain on both sides — one exact integer
    * division, cross-engine safe).
    */
  def overlap(corpus: DataFrame, benchmark: DataFrame, n: Int = 5,
      textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    val corpusSh = graft.operators.SessionCache.cut(
      Dedup.wordShingles(corpus, n, textCol, idCol))
    val benchSh = Dedup.wordShingles(benchmark, n, textCol, idCol)
      .select("shingle").distinct()
    val perDoc = corpusSh.groupBy("doc_id")
      .agg(count(lit(1)).as("n_shingles"))
    val hits = corpusSh.join(broadcast(benchSh), Seq("shingle"))
      .groupBy("doc_id").agg(count(lit(1)).as("n_overlap"))
    hits.join(perDoc, Seq("doc_id"))
      .select(col("doc_id"), col("n_shingles"), col("n_overlap"),
        (col("n_overlap") / col("n_shingles")).as("contamination"))
  }

  /** [[overlap]] against a whole BENCHMARK SUITE in one corpus pass —
    * the fleet-scale shape (a pretraining build decontaminates
    * against dozens of eval sets; rescanning billions of docs per
    * benchmark would multiply the dominant cost by the suite size,
    * exactly the per-query rescan [[TextAnalysis.multiQueryBm25]]
    * eliminates for retrieval). Output: one row per (corpus doc,
    * benchmark) with >= 1 shared n-gram.
    *
    * Scale shape: corpus shingles compute once (persisted — two
    * consumers); every benchmark's DISTINCT (bench_id, shingle) set
    * unions into ONE broadcast, so the corpus-side join stays
    * map-side and a shingle shared by k benchmarks fans out to k
    * verdict rows AFTER the broadcast probe — corpus work is
    * per-shingle, never per-benchmark.
    */
  def multiOverlap(corpus: DataFrame,
      benchmarks: Seq[(String, DataFrame)], n: Int = 5,
      textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    require(benchmarks.nonEmpty, "multiOverlap needs at least one benchmark")
    require(benchmarks.map(_._1).distinct.size == benchmarks.size,
      "benchmark ids must be distinct")
    val corpusSh = graft.operators.SessionCache.cut(
      Dedup.wordShingles(corpus, n, textCol, idCol))
    val benchSh = benchmarks.map { case (bid, df) =>
      Dedup.wordShingles(df, n, textCol, idCol)
        .select(col("shingle")).distinct()
        .select(lit(bid).as("bench_id"), col("shingle"))
    }.reduce(_ unionByName _)
    val perDoc = corpusSh.groupBy("doc_id")
      .agg(count(lit(1)).as("n_shingles"))
    val hits = corpusSh.join(broadcast(benchSh), Seq("shingle"))
      .groupBy("doc_id", "bench_id").agg(count(lit(1)).as("n_overlap"))
    hits.join(perDoc, Seq("doc_id"))
      .select(col("doc_id"), col("bench_id"), col("n_shingles"),
        col("n_overlap"),
        (col("n_overlap") / col("n_shingles")).as("contamination"))
  }

  /** The corpus with contaminated docs removed: drops every doc whose
    * contamination is ≥ `threshold` (> 0 by default drops on ANY
    * shared n-gram, the conservative standard). Anti-join on doc_id —
    * corpus rows stream through unshuffled.
    */
  def decontaminate(corpus: DataFrame, benchmark: DataFrame, n: Int = 5,
      minOverlap: Long = 1L, textCol: String = "text",
      idCol: String = "doc_id"): DataFrame = {
    val bad = overlap(corpus, benchmark, n, textCol, idCol)
      .where(col("n_overlap") >= minOverlap).select(col("doc_id"))
    corpus.join(bad.withColumnRenamed("doc_id", "__bad_id"),
      col(idCol) === col("__bad_id"), "left_anti")
  }

  /** FUZZY decontamination at the substring grain (MOSS winnowing
    * shape): corpus docs scored by how many of their winnowed
    * rolling-hash fingerprints ([[TextAnalysis.winnowedFingerprints]])
    * appear anywhere in the benchmark. [[overlap]]'s word n-grams
    * need n EXACT consecutive words — retokenization, punctuation or
    * small edits around a quoted answer break the gram; character-
    * window fingerprints survive them, and winnowing guarantees a
    * shared run of ~window+band chars still collides on at least one
    * selected minimum. The standard second net behind exact-overlap
    * decontamination.
    *
    * Same scale shape as [[overlap]]: benchmark side is DISTINCT
    * fingerprints (the small curated side) broadcast into the corpus
    * join — corpus text never shuffles, per-doc counts are map-side
    * combinable, and output is integer counts + ONE exact division.
    * Like [[overlap]], only docs with >= 1 hit appear (the report is
    * the contaminated set, not the corpus).
    */
  def fingerprintOverlap(corpus: DataFrame, benchmark: DataFrame,
      window: Int = 8, band: Int = 4, textCol: String = "text",
      idCol: String = "doc_id"): DataFrame = {
    val corpusFp = graft.operators.SessionCache.cut(TextAnalysis
      .winnowedFingerprints(corpus, window, band, textCol, idCol))
    val benchFp = TextAnalysis
      .winnowedFingerprints(benchmark, window, band, textCol, idCol)
      .select("fp").distinct()
    val perDoc = corpusFp.groupBy("doc_id").agg(count(lit(1)).as("n_fps"))
    val hits = corpusFp.join(broadcast(benchFp), Seq("fp"))
      .groupBy("doc_id").agg(count(lit(1)).as("n_fp_hits"))
    hits.join(perDoc, Seq("doc_id"))
      .select(col("doc_id"), col("n_fps"), col("n_fp_hits"),
        (col("n_fp_hits") / col("n_fps")).as("fp_contamination"))
  }

  /** SURGICAL decontamination — mask, don't drop: excise exactly the
    * tokens covered by a benchmark-overlapping n-gram and keep the
    * rest of the document (the Llama-family alternative to
    * [[decontaminate]]'s whole-doc drop — dropping a 50k-token page
    * over one quoted benchmark sentence wastes the other 49k
    * tokens). A token survives iff NO contaminated n-gram's window
    * covers its position.
    *
    * Output: one row per input doc — (doc_id, n_tokens, n_removed,
    * clean_text), clean_text the surviving tokens joined by a single
    * space in original order ('' when everything was covered or the
    * doc was empty). Whitespace is NOT preserved byte-for-byte — the
    * operator is a token-grain cleaner, the same canonicalization
    * contract as [[TextAnalysis.cleanText]].
    *
    * Scale shape: benchmark grams ride the usual DISTINCT broadcast;
    * corpus work is (doc_id, pos, token-gram) grain with the covered
    * set derived by exploding each HIT's n positions (hits × n rows,
    * bounded by contamination volume, not corpus size); the one
    * text-carrying exchange is the per-doc reassembly (the
    * [[Lines]]/[[Spans]] reconstruction floor).
    */
  def exciseOverlaps(corpus: DataFrame, benchmark: DataFrame, n: Int = 5,
      textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    val toks = graft.operators.SessionCache.cut(
      corpus.select(col(idCol).as("doc_id"),
        posexplode(TextAnalysis.tokens(col(textCol))).as(Seq("pos", "tok"))))
    val benchSh = Dedup.wordShingles(benchmark, n, textCol, idCol)
      .select("shingle").distinct()
    // gram starting at pos covers pos..pos+n-1; WordNGrams emits
    // gram i from token position i, so posexplode of the gram array
    // IS the start position
    val gramStarts = corpus.select(col(idCol).as("doc_id"),
      posexplode(graft.functions.NGramFunctions.wordNGrams(
        TextAnalysis.tokens(col(textCol)), n)).as(Seq("pos", "shingle")))
    val covered = gramStarts
      .join(broadcast(benchSh), Seq("shingle"))
      .select(col("doc_id"),
        explode(sequence(col("pos"), col("pos") + (n - 1))).as("pos"))
      .distinct()
    val kept = toks.join(covered, Seq("doc_id", "pos"), "left_anti")
    val rebuilt = kept.groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_kept"),
        concat_ws(" ", transform(
          array_sort(collect_list(struct(col("pos"), col("tok")))),
          s => s.getField("tok"))).as("clean_text"))
    val counts = toks.groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_tokens"))
    val out = corpus.select(col(idCol).as("doc_id"))
      .join(counts, Seq("doc_id"), "left")
      .join(rebuilt, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_tokens"), lit(0L)).as("n_tokens"),
        (coalesce(col("n_tokens"), lit(0L)) -
          coalesce(col("n_kept"), lit(0L))).as("n_removed"),
        coalesce(col("clean_text"), lit("")).as("clean_text"))
    out
  }
}
