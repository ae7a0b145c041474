package perfbench

import scala.collection.mutable

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col

import graft.operators.SessionCache
import graft.pipeline.{Curation, Dedup, Dsir, Packing, TextAnalysis}

/** `Curation.curateManifest` over a seeded synthetic corpus, one call
  * after another, each followed by `SessionCache.release()` outside the
  * timed region. Set-up is the warm-up calls, each with its release();
  * the corpus itself is staged before set-up begins.
  */
object CorpusCuration {

  def run(c: Ctx): Unit = {
    val spark = c.spark
    import spark.implicits._
    val nDocs = c.int("docs")
    val cfg = Curation.Config(sampleN = c.int("sample_n"), nShards = c.int("shards"))

    val corpus = Gen.corpus(c.seed, nDocs, c.int("sources"), c.int("bench_docs"),
      c.dbl("dup_share"), c.dbl("near_share"), c.dbl("low_share"), c.dbl("contam_share"))
    val root = c.dir.resolve("corpus")
    corpus.docs.toDF("doc_id", "text", "source").repartition(c.cores)
      .write.parquet(root.resolve("docs").toString)
    corpus.bench.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("doc_id", "text").write.parquet(root.resolve("bench").toString)
    val docs = spark.read.parquet(root.resolve("docs").toString)
    val bench = spark.read.parquet(root.resolve("bench").toString)

    // set-up calls' manifests join the timed calls' in the checks below
    val manifests = mutable.ArrayBuffer[Array[org.apache.spark.sql.Row]]()
    c.setup(c.int("setup_reps")) { _ =>
      manifests += Curation.curateManifest(docs, bench, cfg).collect()
      SessionCache.release()
    }

    val callMs = mutable.ArrayBuffer[Double]()
    var releaseNs = 0L
    var released = 0L

    def release(): Unit = {
      val t0 = System.nanoTime()
      released += c.tracer.span("operators.release", s"call${callMs.size}")(SessionCache.release())
      releaseNs += System.nanoTime() - t0
    }

    c.timed {
      while (callMs.size < c.opsFor("call_s")) {
        val op = s"call${callMs.size}"
        val t0 = System.nanoTime()
        val rows = c.attempt(s"curateManifest $op") {
          c.tracer.span("curation.call", op) {
            val m = c.tracer.span("curation.plan", op) {
              val m = Curation.curateManifest(docs, bench, cfg); m.queryExecution.executedPlan; m
            }
            c.tracer.span("curation.exec", op)(m.collect())
          }
        }
        callMs += (System.nanoTime() - t0) / 1e6
        manifests ++= rows
        // outside the timed share of the loop: the call's wall is taken
        release()
      }
    }

    // ---- output checks on the manifests the timed calls returned: every
    // chunk's first document is a curated document, so none may be a
    // planted exact-duplicate loser, a contaminated or a low-quality doc
    val manifest = manifests.headOption.getOrElse(Array.empty[org.apache.spark.sql.Row])
    val firstIds = manifest.map(_.getAs[Long]("first_doc_id")).toSet
    val curated = manifest.map(_.getAs[Long]("n_docs")).sum
    c.check("curation keeps documents", curated > 0 && curated <= cfg.sampleN,
      s"$curated curated, sample_n ${cfg.sampleN}")
    Seq("exact-duplicate loser" -> corpus.exactDupLosers,
      "contaminated document" -> corpus.contaminated,
      "low-quality document" -> corpus.lowQuality).foreach { case (what, planted) =>
      val survivors = firstIds.intersect(planted)
      c.check(s"no planted $what survives (${firstIds.size} chunk heads)",
        survivors.isEmpty, s"${survivors.size} survive, e.g. ${survivors.take(5)}")
    }
    val checksums = manifests.map(rs =>
      rs.map(_.mkString("|")).sorted.mkString("\n").hashCode.toHexString).distinct
    c.check("manifest checksum is identical across calls", checksums.size == 1,
      checksums.mkString(","))
    c.fingerprint = checksums.headOption

    c.endToEnd("op_ms") = (callMs.sum / callMs.size, "ms")
    c.endToEnd("ops_per_s") = (nDocs * callMs.size / (callMs.sum / 1e3), "1/s")
    c.named("docs_per_s") = (nDocs * callMs.size / (callMs.sum / 1e3), "1/s")
    c.named("calls") = (callMs.size.toDouble, "count")

    if (c.trace) {
      c.layer("curation.plan_s", c.spanSeconds("curation.plan"), "s")
      c.layer("curation.exec_s", c.spanSeconds("curation.exec"), "s")
      c.layer("curation.kept_ratio", curated.toDouble / nDocs, "ratio")
      c.layer("operators.release_s", releaseNs / 1e9, "s")
      c.layer("operators.released_count", released.toDouble, "count")
      c.layer("operators.held_bytes_after_release", heldBytes(c).toDouble, "bytes")
      // standalone stage times through each stage's own public functions,
      // after the timed region
      def stage(name: String)(df: => DataFrame): Unit = {
        val t0 = System.nanoTime()
        c.attempt(name)(c.tracer.span(name, "stages")(
          df.write.format("noop").mode("overwrite").save()))
        c.layer(s"${name}_s", (System.nanoTime() - t0) / 1e9, "s")
        SessionCache.release()
      }
      stage("curation.quality")(TextAnalysis.qualityFeatures(docs)
        .where(col("quality_score") >= cfg.minQuality))
      stage("curation.neardup")(Dedup.minHashNearDupsFromShingles(
        Dedup.wordShingles(docs, cfg.shingleN), cfg.nearDupThreshold))
      stage("curation.dsir") {
        val ids = docs.select("doc_id")
        val feats = Dsir.hashedFeatureCounts(docs, cfg.dsirBuckets)
        val tgt = feats.join(docs.where(col("source") === cfg.dsirTargetSource)
          .select("doc_id"), Seq("doc_id"), "left_semi")
        Dsir.resampleTopN(Dsir.importanceWeightsFromCounts(ids, feats, tgt,
          cfg.dsirBuckets), cfg.sampleN)
      }
      stage("curation.pack")(Packing.chunkManifest(
        Packing.packSequences(docs, cfg.seqLen, cfg.nShards)))
    }
  }

  /** Block-manager storage (memory and disk) still held by persisted
    * RDDs once release() has had a moment to drop them.
    */
  def heldBytes(c: Ctx): Long = {
    val sc = c.spark.sparkContext
    def now = sc.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum
    val deadline = System.nanoTime() + 2000000000L
    var b = now
    while (b > 0 && System.nanoTime() < deadline) { Thread.sleep(50); b = now }
    b
  }
}
