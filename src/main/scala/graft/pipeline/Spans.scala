package graft.pipeline

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Substring-level exact dedup: find the character spans that are
  * REPEATED (within a document or verbatim across documents), as
  * removable (doc_id, span_start, span_len) coordinates — the
  * span-granular complement to doc-level near-dup dedup, after the
  * "Deduplicating Training Data Makes Language Models Better"
  * exact-substring pass (suffix-array there; positioned fingerprint
  * windows here, the join-friendly formulation).
  *
  * Method: every k-char window (native codegen'd
  * [[graft.functions.CharNGrams]], posexplode gives the 0-based
  * offset), hashed to a 60-bit md5-derived key so the shuffled
  * payload is fixed-width instead of k chars; windows whose hash
  * occurs >= minOcc times corpus-wide are "duplicated"; consecutive
  * duplicated offsets per doc merge into maximal spans (windows at
  * p, p+1 overlap in k-1 chars — a repeated region of length L >= k
  * yields L-k+1 consecutive marked windows, which merge back into
  * one span of exactly L).
  *
  * Scale shape: NO pair materialization anywhere — the corpus-wide
  * occurrence count is a per-hash aggregation and each window gets a
  * per-occurrence verdict via semi-join, so a boilerplate string
  * shared by a million documents costs one counter row plus its own
  * occurrences, never C(n,2) pairs. Cost is linear in corpus
  * characters (one window row per char): real at 100 TB, so
  * production sparsifies the window stream first — e.g. keep only
  * [[TextAnalysis.winnowedFingerprints]]-selected windows (1/band of
  * the rows for band-length span resolution). The span-merge is one
  * per-doc sort (window function over doc_id).
  *
  * Determinism: offsets and counts are exact integers; the md5 hash
  * family is the engine-wide cross-engine standard. A 60-bit
  * collision would mark a unique window as duplicated — at ~2^30
  * windows the expected collision count is ~2^0; an oracle using the
  * same family agrees bit-for-bit either way.
  */
object Spans {

  def duplicatedWindowSpans(dfIn: DataFrame, k: Int = 20, minOcc: Long = 2,
      textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    // one window row per CHAR: the posexplode+md5 scan is the
    // operator's linear floor, and per-row cost is chars × md5 — far
    // above what byte-based split sizing assumes. Fan a small corpus
    // out before it (round-18, guide §6/§8; no-op at corpus scale,
    // where the scan is already split).
    val df = graft.operators.Spread.perRowHeavy(dfIn)
    val win = graft.operators.SessionCache.cut(
      df.select(col(idCol).as("doc_id"),
        posexplode(graft.functions.NGramFunctions.charNGrams(col(textCol), k))
          .as(Seq("pos", "gram")))
      .select(col("doc_id"), col("pos"),
        graft.functions.Md5Hash.h60(col("gram")).as("h")))
    val dup = win.groupBy("h").agg(count(lit(1)).as("nocc"))
      .where(col("nocc") >= minOcc).select("h")
    val marked = win.join(dup, Seq("h"), "left_semi")
    val w = Window.partitionBy("doc_id").orderBy("pos")
    marked
      .withColumn("prev", lag("pos", 1).over(w))
      .withColumn("new_span",
        when(col("prev").isNull || col("pos") - col("prev") > 1, 1).otherwise(0))
      .withColumn("span_id", sum("new_span").over(w))
      .groupBy("doc_id", "span_id")
      .agg(min("pos").as("span_start"),
        (max("pos") - min("pos") + k).as("span_len"),
        count(lit(1)).as("n_windows"))
  }

  /** MAXIMAL duplicated substrings (round 15 — the Lee et al. 2022
    * "Deduplicating Training Data Makes Language Models Better"
    * exact-substring operator, variable-length edition). Where
    * [[duplicatedWindowSpans]] marks positions whose k-window is
    * duplicated SOMEWHERE — adjacent positions may match *different*
    * partners, so a merged island is not certified to repeat
    * verbatim as a whole — this finds the maximal substrings that
    * appear at >= 2 distinct (doc, offset) locations, certified by
    * WINDOW-CHAIN EXTENSION: occurrences of the same window hash
    * pair up into aligned matches, and runs of consecutive window
    * positions on the same alignment DIAGONAL (pos_a − pos_b
    * constant, the MUMmer/minimap exact-chain trick) merge into one
    * match of length run + k − 1 + 1 = run_windows + k − 1 chars.
    *
    * Maximality is structural, not checked per char: if the char
    * left of a merged match also matched, the window at (pos_a − 1,
    * pos_b − 1) would share its hash and belong to the same
    * diagonal run — so a run that STOPS is a match that cannot
    * extend (modulo 60-bit collisions, shared with every hash family
    * oracle here, and modulo a df-capped window sitting exactly AT a
    * run end — interior capped windows are bridged, see the run
    * merge), and document boundaries are maximal by definition.
    * Output: one row per aligned maximal match pair with
    * `match_len >= minLen`, canonicalized (doc_a, pos_a) <
    * (doc_b, pos_b) lexicographically, plus both span coordinates —
    * the removable-span projection is `(doc, pos, match_len)` from
    * either side.
    *
    * Scale shape: the ONE pair step is per-hash occurrence pairing —
    * quadratic in a hash's occurrence count, NEVER corpus². Hashes
    * with more than `maxOcc` occurrences are EXCLUDED from pairing
    * (the df-cap discipline of the LSH inverted index): a
    * boilerplate window shared by a million docs would otherwise
    * cost 10^12 pairs. Audit the drop set with
    * [[overloadedWindowHashes]] — capped hashes sit inside
    * mega-duplicated regions that doc-level dedup (p01/p08) should
    * have removed first; this operator's job is the long tail.
    * Everything after the pair step is one (doc_a, doc_b, diag)
    * window sort — linear in surviving pairs.
    */
  def maximalDuplicateSubstrings(dfIn: DataFrame, k: Int = 20,
      minLen: Int = 40, maxOcc: Long = 1000,
      textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    // same linear per-char window floor as [[duplicatedWindowSpans]] —
    // spread a small corpus before the scan (no-op at corpus scale)
    val df = graft.operators.Spread.perRowHeavy(dfIn)
    val win = graft.operators.SessionCache.cut(
      df.select(col(idCol).as("doc_id"),
        posexplode(graft.functions.NGramFunctions.charNGrams(col(textCol), k))
          .as(Seq("pos", "gram")))
      .select(col("doc_id"), col("pos"),
        graft.functions.Md5Hash.h60(col("gram")).as("h")))
    // df-cap BEFORE pairing (count >= 2 keeps only duplicated hashes)
    val paired = win.join(
      win.groupBy("h").agg(count(lit(1)).as("nocc"))
        .where(col("nocc") >= 2 && col("nocc") <= maxOcc).select("h"),
      Seq("h"), "left_semi")
    val a = paired.select(col("h"), col("doc_id").as("doc_a"),
      col("pos").as("pos_a"))
    val b = paired.select(col("h"), col("doc_id").as("doc_b"),
      col("pos").as("pos_b"))
    // canonical occurrence pairs: (doc_a, pos_a) < (doc_b, pos_b) —
    // each unordered pair once, self-pairs (internal repetition)
    // kept when offsets differ
    val pairs = a.join(b, Seq("h"))
      .where(col("doc_a") < col("doc_b") ||
        (col("doc_a") === col("doc_b") && col("pos_a") < col("pos_b")))
      .withColumn("diag", col("pos_a") - col("pos_b"))
    val w = Window.partitionBy("doc_a", "doc_b", "diag").orderBy("pos_a")
    // Run merge tolerates gaps of up to k−1 missing positions: if
    // windows at p and p+g+1 (g <= k−1) both match on a diagonal,
    // their char intervals [p, p+k−1] and [p+g+1, p+g+k] UNION
    // covers every char in between — the gap content is PROVEN equal,
    // no pairing needed. Such gaps only arise from the df-cap (an
    // interior window whose hash is corpus-hot — e.g. a ubiquitous
    // URL inside an otherwise rare duplicate — is excluded from
    // pairing); a true content mismatch always breaks ALL k windows
    // covering the differing char, a gap of >= k positions. Without
    // this, one capped interior window would split a certified match
    // into understated fragments. Runs still cannot extend across
    // capped windows AT THEIR ENDS (no flanking match to prove the
    // content) — the residual, documented cap effect.
    val merged = pairs
      .withColumn("prev", lag("pos_a", 1).over(w))
      .withColumn("new_run",
        when(col("prev").isNull || col("pos_a") - col("prev") > k, 1)
          .otherwise(0))
      .withColumn("run_id", sum("new_run").over(w))
      .groupBy("doc_a", "doc_b", "diag", "run_id")
      .agg(min("pos_a").as("pos_a"),
        (max("pos_a") - min("pos_a") + k).as("match_len"))
      .withColumn("pos_b", col("pos_a") - col("diag"))
      .where(col("match_len") >= minLen)
      .select(col("doc_a"), col("pos_a"), col("doc_b"), col("pos_b"),
        col("match_len"))
    // Materialize the (small) merged-match set eagerly: the cut
    // above shares the posexplode+md5 scan across the df-cap count and
    // both pair sides within THIS call, and the harness releases its
    // corpus-scale blocks after the query's action (round-18 — the
    // explicit unpersist it replaced is now SessionCache.release's
    // job). This eager cut gives downstream excision a LogicalRDD leaf,
    // so it never re-derives the frame while the blocks are held.
    graft.operators.SessionCache.cut(merged, eager = true)
  }

  /** The corpus with every NON-FIRST occurrence of each maximal
    * duplicated substring excised — Lee et al. 2022's actual dedup
    * policy (they keep one copy; [[removeDuplicatedSpans]] is the
    * symmetric remove-all variant at window grain). Keep-first falls
    * out of the canonical pair order: an occurrence is excised iff
    * it is the doc_b side of SOME match — i.e. a strictly earlier
    * (doc, offset) occurrence of the same content exists — so the
    * globally first occurrence is never excised and transitive
    * duplicate groups keep exactly their earliest member.
    *
    * Reassembly walks each doc's sorted excision spans; unlike the
    * window-island spans, maximal-match spans can overlap
    * ARBITRARILY (different diagonals), including full containment,
    * so the walk clamps the resume offset monotonically
    * (greatest(prev, start+len)) as well as the kept gap at 0.
    */
  def removeMaximalDuplicates(df: DataFrame, k: Int = 20,
      minLen: Int = 40, maxOcc: Long = 1000,
      textCol: String = "text", idCol: String = "doc_id"): DataFrame =
    exciseSpans(df,
      maximalDuplicateSubstrings(df, k, minLen, maxOcc, textCol, idCol)
        .select(col("doc_b").as("__sid"), col("pos_b").as("span_start"),
          col("match_len").as("span_len"))
        .distinct(),
      textCol, idCol)

  /** Shared reassembly: each doc rebuilt from the characters outside
    * its (span_start, span_len) excision set. The walk carries
    * (next-unexcised offset, kept prefix) over the start-sorted
    * spans, clamping the kept gap at 0 AND the resume offset
    * monotonically (greatest(prev, start+len)) — so it is correct
    * for ARBITRARY overlap, including full containment (for the
    * monotone-end island spans the clamp is an identity).
    */
  private def exciseSpans(dfIn: DataFrame, spans: DataFrame,
      textCol: String, idCol: String): DataFrame = {
    // the reassembly walk (per-span substr+concat fold over each doc)
    // probes the span side from the corpus scan — spread a small
    // corpus so the walk isn't serialized behind a one-task scan
    val df = graft.operators.Spread.perRowHeavy(dfIn)
    val grouped = spans
      .groupBy("__sid")
      .agg(sort_array(collect_list(struct(col("span_start"), col("span_len"))))
        .as("__spans"))
    val t = col(textCol)
    val walked = aggregate(col("__spans"),
      struct(lit(0).as("from"), lit("").as("acc")),
      (st, sp) => struct(
        greatest(st("from"), sp("span_start") + sp("span_len")).as("from"),
        concat(st("acc"), t.substr(st("from") + lit(1),
          greatest(sp("span_start") - st("from"), lit(0)))).as("acc")),
      st => concat(st("acc"), t.substr(st("from") + lit(1), length(t))))
    df.join(grouped, col(idCol) === col("__sid"), "left")
      .withColumn("clean_text",
        when(col("__spans").isNull, t).otherwise(walked))
      .drop("__sid", "__spans")
  }

  /** The audit side-output for [[maximalDuplicateSubstrings]]'s
    * df-cap: window hashes excluded from pairing because they occur
    * more than `maxOcc` times, with their counts — the
    * overflowBuckets discipline (a silent cap reads as "covered
    * everything" when it didn't).
    */
  def overloadedWindowHashes(dfIn: DataFrame, k: Int = 20,
      maxOcc: Long = 1000,
      textCol: String = "text", idCol: String = "doc_id"): DataFrame =
    graft.operators.Spread.perRowHeavy(dfIn).select(
        posexplode(graft.functions.NGramFunctions.charNGrams(col(textCol), k))
          .as(Seq("pos", "gram")))
      .select(graft.functions.Md5Hash.h60(col("gram")).as("h"))
      .groupBy("h").agg(count(lit(1)).as("nocc"))
      .where(col("nocc") > maxOcc)

  /** The corpus with every duplicated span excised (first occurrence
    * NOT preserved — the symmetric "remove all copies" policy; span
    * coordinates come from [[duplicatedWindowSpans]], so callers
    * wanting keep-one semantics can filter the span set first).
    * Reassembles each doc from the characters outside its spans.
    * Adjacent window islands can produce char spans that OVERLAP
    * (islands are >= 2 window positions apart but each span extends
    * k chars past its last window), so the walk clamps each kept gap
    * at 0 and tracks the furthest excised end.
    */
  def removeDuplicatedSpans(df: DataFrame, k: Int = 20, minOcc: Long = 2,
      textCol: String = "text", idCol: String = "doc_id"): DataFrame =
    exciseSpans(df,
      duplicatedWindowSpans(df, k, minOcc, textCol, idCol)
        .select(col("doc_id").as("__sid"), col("span_start"),
          col("span_len")),
      textCol, idCol)
}
