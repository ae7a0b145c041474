package graft

import org.apache.spark.sql.functions._

/** Derive a larger scale factor from the biggest driver-provided one,
  * deterministically, for the BASELINE.md sf1-vs-sf0.1 scaling
  * evidence (VERDICT r6 item 4). The driver generates sf0.001/0.01/0.1
  * only; this produces an "sf1-shaped" corpus = `factor` independent
  * sf0.1-like corpora side by side:
  *
  *  - documents x factor: copy k keeps copy 0's text verbatim for k=0
  *    and suffixes EVERY token with `_c{k}` for k>0. Within a copy the
  *    shingle/near-dup structure is preserved exactly (a bijective
  *    token remap); across copies shingle overlap is zero. So true
  *    pair/cluster volume scales exactly linearly — the honest shape
  *    for judging the banded/capped algorithms, with none of the
  *    artificial C(factor,2) cross-copy dup blowup naive replication
  *    would plant.
  *  - embeddings x factor: copy k flips the sign of dimension d iff
  *    hash(k, d) is odd. A per-copy diagonal +-1 isometry preserves
  *    every within-copy norm, dot product and cosine EXACTLY, while
  *    cross-copy cosines become sign-scrambled (near-zero in
  *    expectation) — again linear growth of the true near-dup set.
  *  - all other tables are copied through unchanged (the heavy family
  *    this scale point exists for only reads documents/embeddings).
  *
  * Ids: doc_id' = doc_id * factor + k (dense, distinct, order-mixing).
  *
  * Run: sbt "runMain graft.ScaleData"
  *   env: SPARK_GRAFT_SRC (default /root/testdata/sf0.1),
  *        SPARK_GRAFT_DST (default /tmp/graft-sf1),
  *        SPARK_GRAFT_SCALE (default 10),
  *        SPARK_GRAFT_SCALE_MODE (default "docs"; "facts" | "chars")
  *
  * SPARK_GRAFT_SCALE_MODE=facts flips WHICH family scales: lineitem
  * and orders replicate (copy k shifts the order key — the fact
  * grain — and leaves every dim FK untouched: facts grow, dims
  * don't, the star-schema decade shape), while documents/embeddings
  * pass through unchanged. This is the corpus for the MV/warehouse
  * family's scaling rows — the default ("docs") corpus passes
  * lineitem through UNCHANGED, so a lineitem-reading gate measured
  * on it sees constant fact size (the round-11 MV rows' caveat,
  * corrected in BASELINE.md round 12).
  */
object ScaleData {
  def main(args: Array[String]): Unit = {
    val src = sys.env.getOrElse("SPARK_GRAFT_SRC", "/root/testdata/sf0.1")
    val dst = sys.env.getOrElse("SPARK_GRAFT_DST", "/tmp/graft-sf1")
    val factor = sys.env.get("SPARK_GRAFT_SCALE")
      .flatMap(s => scala.util.Try(s.trim.toInt).toOption).filter(_ > 1)
      .getOrElse(10)
    val spark = Engine.session(appName = "graft-scaledata")
    import spark.implicits._

    new java.io.File(dst).mkdirs()
    val copy = explode(sequence(lit(0), lit(factor - 1))).as("__k")
    val factsMode =
      sys.env.get("SPARK_GRAFT_SCALE_MODE").exists(_.trim == "facts")

    if (factsMode) {
      spark.read.parquet(s"$src/orders.parquet")
        .select(col("*"), copy)
        .withColumn("o_orderkey", $"o_orderkey" * factor + $"__k")
        .drop("__k").repartition(8)
        .write.mode("overwrite").parquet(s"$dst/orders.parquet")
      spark.read.parquet(s"$src/lineitem.parquet")
        .select(col("*"), copy)
        .withColumn("l_orderkey", $"l_orderkey" * factor + $"__k")
        .drop("__k").repartition(16)
        .write.mode("overwrite").parquet(s"$dst/lineitem.parquet")
      val pass = Seq("region", "nation", "customer", "supplier", "part",
        "events", "documents", "embeddings")
      // Hadoop recursive copy, not java.nio Files.copy: a pass-through
      // table may be a DIRECTORY-layout parquet (the normal Spark write
      // output), which Files.copy would "copy" as an empty directory
      // (silent data loss) and which re-runs into a non-empty
      // destination would abort with DirectoryNotEmptyException.
      // FileUtil.copy handles file-or-directory on any supported
      // filesystem and byte-copies (no decode/re-encode — preserves
      // the testdata's exact physical types, e.g. the events table's
      // INT64 TIMESTAMP(NANOS)).
      val hconf = spark.sparkContext.hadoopConfiguration
      pass.foreach { t =>
        val from = new org.apache.hadoop.fs.Path(s"$src/$t.parquet")
        val to = new org.apache.hadoop.fs.Path(s"$dst/$t.parquet")
        val ffs = from.getFileSystem(hconf)
        val tfs = to.getFileSystem(hconf)
        if (tfs.exists(to)) tfs.delete(to, true)
        org.apache.hadoop.fs.FileUtil.copy(ffs, from, tfs, to,
          false /* deleteSource */, true /* overwrite */, hconf)
      }
      println(s"""{"scaled":"$dst","factor":$factor,"mode":"facts","lineitem":${
        spark.read.parquet(s"$dst/lineitem.parquet").count()}}""")
      spark.stop()
      return
    }

    // chars mode: per-copy BIJECTIVE character permutation (letters
    // and digits rotated by k) instead of the token-suffix remap.
    // The suffix remap preserves WORD-shingle structure but floods
    // CHARACTER-window operators with new repeats (every token grows
    // a shared "_ck" bridge — measured 18× per-copy window-pair
    // inflation at sf1), so char-grain decades (p27/p146) need this
    // mode: a per-char bijection preserves window equality AND
    // inequality exactly within a copy, and any window containing a
    // letter or digit differs across copies.
    val charsMode =
      sys.env.get("SPARK_GRAFT_SCALE_MODE").exists(_.trim == "chars")
    // rot() is the identity when the alphabet length divides k, which
    // would silently break the zero-cross-copy-overlap invariant
    // (copy 10's digits == copy 0's digits) — refuse factors the
    // shortest alphabet (digits, 10) can't keep bijectively distinct
    require(!charsMode || factor <= 10,
      s"chars mode supports factor <= 10 (digit rotation cycles at 10); got $factor")
    val lower = "abcdefghijklmnopqrstuvwxyz"
    val upper = lower.toUpperCase
    val digits = "0123456789"
    def rot(s: String, k: Int) = s.drop(k % s.length) + s.take(k % s.length)
    def remapped(k: Int) = translate($"text",
      lower + upper + digits,
      rot(lower, k) + rot(upper, k) + rot(digits, k))
    val textExpr =
      if (charsMode)
        (1 until factor).foldLeft(when($"__k" === 0, $"text")) {
          (acc, k) => acc.when($"__k" === k, remapped(k))
        }.otherwise($"text")
      else
        when($"__k" === 0, $"text")
          .otherwise(regexp_replace($"text", lit("(\\S+)"),
            concat(lit("$1_c"), $"__k".cast("string"))))

    Tables.documents(spark, src)
      .select(col("*"), copy)
      .select(
        ($"doc_id" * factor + $"__k").as("doc_id"),
        // k=0 verbatim; k>0 bijective token remap (zero cross-copy
        // shingle overlap, within-copy structure untouched) — or the
        // chars-mode per-char bijection above
        textExpr.as("text"),
        $"lang", $"source")
      .withColumn("n_chars", length($"text"))
      .repartition(8)
      .write.mode("overwrite").parquet(s"$dst/documents.parquet")

    Tables.embeddings(spark, src)
      .select(col("*"), copy)
      .select(
        ($"vec_id" * factor + $"__k").as("vec_id"),
        transform($"embedding",
          (v, d) => when(pmod(hash($"__k", d), lit(2)) === 0, v).otherwise(-v))
          .as("embedding"),
        $"label")
      .repartition(8)
      .write.mode("overwrite").parquet(s"$dst/embeddings.parquet")

    // pass-through tables so any query surface resolves at the new dir
    // (recursive byte-copy — see the facts-mode note above)
    val pass = Seq("region", "nation", "customer", "supplier", "part",
      "orders", "lineitem", "events")
    val hconf = spark.sparkContext.hadoopConfiguration
    pass.foreach { t =>
      val from = new org.apache.hadoop.fs.Path(s"$src/$t.parquet")
      val to = new org.apache.hadoop.fs.Path(s"$dst/$t.parquet")
      val ffs = from.getFileSystem(hconf)
      val tfs = to.getFileSystem(hconf)
      if (tfs.exists(to)) tfs.delete(to, true)
      org.apache.hadoop.fs.FileUtil.copy(ffs, from, tfs, to,
        false /* deleteSource */, true /* overwrite */, hconf)
    }
    println(s"""{"scaled":"$dst","factor":$factor,"docs":${
      spark.read.parquet(s"$dst/documents.parquet").count()},"vecs":${
      spark.read.parquet(s"$dst/embeddings.parquet").count()}}""")
    spark.stop()
  }
}
