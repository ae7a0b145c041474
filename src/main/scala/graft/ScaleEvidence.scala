package graft

import org.apache.spark.sql.functions._

/** One-off scale-evidence harness for operators whose oracle-gate
  * fixtures are deliberately small — the decade rows in BASELINE.md
  * that the gates themselves can't honestly produce (e.g. the
  * gap-fill gates pin correctness on a 20-key slice; the scale claim
  * is about a realistic key population). Companion to
  * [[RecallCurve]] (recall evidence) and [[ScaleData]] (corpus
  * derivation).
  *
  * Run: SPARK_GRAFT_SF_DIR=<corpus> sbt "runMain graft.ScaleEvidence"
  * Prints one JSON line per measurement (min of 2 runs, the
  * BASELINE.md decade protocol):
  *   {"query":"gapfill_locf_2k","in_rows":59633,"out_rows":...,"sec":1.23}
  */
object ScaleEvidence {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Engine.session(appName = "graft-scaleevidence")

    def timeIt(body: => Long): (Double, Long) = {
      def once(): (Double, Long) = {
        val t0 = System.nanoTime()
        val n = body
        ((System.nanoTime() - t0) / 1e9, n)
      }
      val a = once(); val b = once()
      (math.min(a._1, b._1), b._2)
    }

    // realistic-keys gap-fill: ~2 000 keys × ~2 300-day spans — the
    // grid (output) is |keys| × span and does NOT grow with the fact
    // decade (facts-mode sf1 replicates orders over the same part
    // population), so the decade isolates the input-scan + keyed-agg
    // cost against a constant ~4.6 M-row grid.
    val sparse = spark.read.parquet(s"$sfDir/lineitem.parquet")
      .where(col("l_partkey") <= 2000)
      .select(col("l_partkey").as("item_id"),
        to_date(col("l_shipdate")).as("snapshot_date"),
        col("l_extendedprice"))
      .groupBy(col("item_id"), col("snapshot_date"))
      .agg(avg("l_extendedprice").as("price"))
    val inRows = spark.read.parquet(s"$sfDir/lineitem.parquet")
      .where(col("l_partkey") <= 2000).count()
    for ((name, mode) <- Seq(("gapfill_locf_2k", "locf"),
        ("gapfill_interp_2k", "interp"), ("gapfill_bfill_2k", "bfill"))) {
      val (sec, out) = timeIt(
        graft.operators.Resample.gapFill(sparse,
          Seq("item_id"), "snapshot_date", Seq("price"), mode).count())
      println(s"""{"query":"$name","sf_dir":"$sfDir","in_rows":$inRows,"out_rows":$out,"sec":$sec}""")
      Console.out.flush()
    }

    // NSW append candidate-pair mass (round 17): the cost-model
    // number for the append path's decade rows — Σ_b |batch∩b| ×
    // |corpus∩b| from COUNTS (load-independent, no pair join runs),
    // batch = every ~10th vector (md5-free: the decade corpora remap
    // ids, so a plain modulus keeps the batch fraction stable),
    // unsplit vs the production default (corpus-density dual-refined,
    // target 8×m = 64).
    graft.operators.SessionCache.scoped(graft.Tables.embeddings(spark, sfDir)) { emb =>
      val nEmb = emb.count()
      val embBatch = emb.where(col("vec_id") % 10 === 0)
      val dimLen = emb.select(col("embedding")).head()
        .getAs[scala.collection.Seq[Float]](0).length
      for ((name, split) <- Seq(
          ("nsw_append_mass_unsplit", None: Option[Long]),
          ("nsw_append_mass_default",
            Some(graft.pipeline.GraphAnn.AutoSplit)))) {
        val mass = graft.pipeline.GraphAnn.appendCandidateMass(
          embBatch, emb, dim = dimLen, splitBucket = split)
        println(s"""{"query":"$name","sf_dir":"$sfDir","corpus":$nEmb,"batch":${embBatch.count()},"pairs":$mass}""")
        Console.out.flush()
      }
    }
    spark.stop()
  }
}
