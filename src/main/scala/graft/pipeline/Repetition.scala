package graft.pipeline

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Within-document repetition quality signals, following the shape of
  * the Gopher/MassiveText repetition filters (duplicate-line
  * fractions, most-frequent-n-gram character fractions,
  * duplicated-n-gram character fractions): highly repetitive
  * documents are boilerplate / spam / scraper artifacts and get
  * filtered or down-weighted before pretraining.
  *
  * Scale shape: every signal is explode → groupBy(doc_id, unit) →
  * groupBy(doc_id) — two keyed aggregations, map-side-combinable,
  * linear in corpus tokens, no joins wider than doc_id grain. The
  * final assembly joins per-doc aggregates that are already
  * hash-partitioned by doc_id, so AQE plans them as cheap
  * co-partitioned joins.
  *
  * Determinism (cross-engine hash contract): all numerators and
  * denominators are exact integer counts; every emitted fraction is a
  * SINGLE division of two exact integers (one IEEE double op —
  * bit-identical in any engine), never a sum of doubles.
  */
object Repetition {

  /** Per-doc duplicate-line stats. `lineSep` is a regex (usually
    * "\n"); empty lines are dropped (split emits them around
    * consecutive separators, and counting blank-vs-blank as
    * "duplication" would swamp the signal).
    *
    * Output: doc_id, n_lines, n_dup_lines (lines whose exact text
    * occurs ≥2 times in the doc — ALL occurrences count, matching
    * the Gopher "fraction of lines that are duplicates" reading),
    * line_chars, dup_line_chars.
    */
  def lineStats(df: DataFrame, lineSep: String = "\n",
      textCol: String = "text", idCol: String = "doc_id"): DataFrame =
    df.select(col(idCol).as("doc_id"),
        explode(array_remove(split(col(textCol), lineSep), "")).as("line"))
      .groupBy("doc_id", "line").agg(count(lit(1)).as("cnt"))
      .groupBy("doc_id").agg(
        sum("cnt").as("n_lines"),
        sum(when(col("cnt") >= 2, col("cnt")).otherwise(0L)).as("n_dup_lines"),
        sum(col("cnt") * length(col("line"))).as("line_chars"),
        sum(when(col("cnt") >= 2, col("cnt") * length(col("line")))
          .otherwise(0L)).as("dup_line_chars"))

  /** Per-doc most-frequent word n-gram: (doc_id, top_cnt, top_gram,
    * top_chars = top_cnt * length(top_gram)). Ties break to the
    * lexicographically SMALLEST gram (via `min(struct(-cnt, gram))` —
    * struct ordering gives highest count first, then smallest gram;
    * any oracle must use the same tie-break). Docs with < n tokens
    * produce no row (join back with a left join + coalesce 0).
    */
  def topNGram(df: DataFrame, n: Int, textCol: String = "text",
      idCol: String = "doc_id"): DataFrame =
    df.select(col(idCol).as("doc_id"),
        explode(graft.functions.NGramFunctions.wordNGrams(
          TextAnalysis.tokens(col(textCol)), n)).as("gram"))
      .groupBy("doc_id", "gram").agg(count(lit(1)).as("cnt"))
      .groupBy("doc_id").agg(
        min(struct((-col("cnt")).as("neg_cnt"), col("gram").as("gram"))).as("t"))
      .select(col("doc_id"), (-col("t.neg_cnt")).as("top_cnt"),
        col("t.gram").as("top_gram"),
        (-col("t.neg_cnt") * length(col("t.gram"))).as("top_chars"))

  /** The assembled per-doc repetition signal vector:
    *
    *  - dup_line_fraction       = n_dup_lines / n_lines
    *  - dup_line_char_fraction  = dup_line_chars / line_chars
    *  - top{n}gram_char_fraction = top_cnt·len(top_gram) / len(text),
    *    for n in `topNs`
    *  - dup{m}gram_char_fraction = min(1, Σ cnt·len(gram) / len(text))
    *    over grams with cnt ≥ 2, for m in `dupNs`
    *
    * Every fraction coalesces to 0.0 for docs where the unit doesn't
    * exist (empty text, fewer than n tokens).
    */
  def signals(df: DataFrame, lineSep: String = "\n",
      topNs: Seq[Int] = Seq(2, 3, 4), dupNs: Seq[Int] = Seq(5),
      textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    val base = df.select(col(idCol).as("doc_id"),
      length(col(textCol)).cast("long").as("n_chars"))
    val ns = (topNs ++ dupNs).distinct

    // ONE corpus scan for every signal family: lines ride the same
    // explode as the n-grams, tagged kind=0 (n-grams tag kind=n).
    // Tokens are materialized in their own projection so the n
    // wordNGrams calls share one tokenization. From there: one
    // (doc_id, kind, unit) count, one conditional aggregation per
    // doc — the Gopher one-pass shape, vs one scan+shuffle per
    // signal in the naive composition of the building blocks above.
    val kinds =
      struct(lit(0).as("kind"),
        array_remove(split(col(textCol), lineSep), "").as("units")) +:
      ns.map(n => struct(lit(n).as("kind"),
        graft.functions.NGramFunctions.wordNGrams(col("__toks"), n).as("units")))
    val counts = df
      .select(col(idCol).as("doc_id"), col(textCol).as(textCol),
        TextAnalysis.tokens(col(textCol)).as("__toks"))
      .select(col("doc_id"), explode(array(kinds: _*)).as("ku"))
      .select(col("doc_id"), col("ku.kind").as("kind"),
        explode(col("ku.units")).as("unit"))
      .groupBy("doc_id", "kind", "unit").agg(count(lit(1)).as("cnt"))

    val kind = col("kind"); val cnt = col("cnt")
    val unitChars = cnt * length(col("unit"))
    val lineAggs = Seq(
      sum(when(kind === 0, cnt)).as("n_lines"),
      sum(when(kind === 0 && cnt >= 2, cnt)).as("__dl"),
      sum(when(kind === 0, unitChars)).as("__lc"),
      sum(when(kind === 0 && cnt >= 2, unitChars)).as("__dlc"))
    val topAggs = topNs.map(n =>
      min(when(kind === n, struct((-cnt).as("neg_cnt"), col("unit").as("gram"))))
        .as(s"__t$n"))
    val dupAggs = dupNs.map(n =>
      sum(when(kind === n && cnt >= 2, unitChars)).as(s"__dc$n"))
    val aggs = lineAggs ++ topAggs ++ dupAggs
    val byDoc = counts.groupBy("doc_id").agg(aggs.head, aggs.tail: _*)

    val joined = base.join(byDoc, Seq("doc_id"), "left")
    val withLines = joined.select(Seq(
      col("doc_id"), col("n_chars"),
      coalesce(col("n_lines"), lit(0L)).as("n_lines"),
      coalesce(col("__dl") / when(col("n_lines") === 0, lit(null))
        .otherwise(col("n_lines")), lit(0.0)).as("dup_line_fraction"),
      coalesce(col("__dlc") / when(col("__lc") === 0, lit(null))
        .otherwise(col("__lc")), lit(0.0)).as("dup_line_char_fraction")) ++
      topNs.map(n => col(s"__t$n")) ++ dupNs.map(n => col(s"__dc$n")): _*)
    val withTops = topNs.foldLeft(withLines) { (acc, n) =>
      acc.withColumn(s"top${n}gram_char_fraction",
        coalesce((-col(s"__t$n.neg_cnt") * length(col(s"__t$n.gram"))) /
          when(col("n_chars") === 0, lit(null)).otherwise(col("n_chars")),
          lit(0.0)))
        .drop(s"__t$n")
    }
    dupNs.foldLeft(withTops) { (acc, n) =>
      acc.withColumn(s"dup${n}gram_char_fraction",
        least(coalesce(col(s"__dc$n") / when(col("n_chars") === 0, lit(null))
          .otherwise(col("n_chars")), lit(0.0)), lit(1.0)))
        .drop(s"__dc$n")
    }
  }
}
