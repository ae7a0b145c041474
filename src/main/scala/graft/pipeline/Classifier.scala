package graft.pipeline

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Classifier-based quality filtering — the logistic-regression
  * filter over hashed text features that every major LLM data
  * pipeline runs between heuristics and dedup (GPT-3's WebText-vs-
  * CommonCrawl classifier, LLaMA's Wikipedia-reference filter): train
  * on "reference corpus = positive, crawl = negative", score the
  * crawl, keep the high scorers. This is the learned counterpart of
  * [[TextAnalysis.qualityFeatures]]' fixed heuristics and the
  * classification sibling of [[Dsir]]'s importance weights (same
  * hashed uni+bigram feature space — [[Dsir.hashedFeatureCounts]]).
  *
  * Training is full-batch gradient descent driven from the driver
  * (a `numIterations`-step loop like [[Bpe.trainMerges]]' histogram
  * loop): per iteration, ONE broadcast-join pass computes every doc's
  * margin and ONE bucket-grain aggregation computes the gradient —
  * the corpus is touched twice per iteration at the narrow
  * (id, bucket, x) grain, text is consumed once up front by the
  * feature hash, and the model (buckets + 1 floats) always moves by
  * broadcast. At 100 TB this is the canonical distributed LR shape:
  * no per-doc state, no parameter server, gradient partials map-side
  * combinable.
  *
  * DETERMINISM (the oracle contract): every gradient component is a
  * distributed double sum ROUNDED THROUGH FLOAT before the weight
  * update — the [[Similarity.kmeansCentroids]] discipline — so
  * summation-order noise (~1e-13 relative) is absorbed and the
  * trained weights agree across partitionings, retries and engines
  * to the last float bit, except when a gradient sum lands exactly
  * on a float rounding boundary (one float-ulp flip, ~6e-8 relative
  * — ClassifierSpec pins the tolerance). Per-doc scores then differ
  * by at most ~1e-12, orders of magnitude inside the gate's 6-dp
  * rounding; DuckDB re-derives the whole training end-to-end (p95).
  */
object Classifier {

  /** Trained model: per-bucket weights (index = bucket) + bias. */
  final case class LogRegModel(weights: Array[Double], bias: Double,
      buckets: Int, learningRate: Double, iterations: Int)

  /** Train the filter. `labels` must assign every training doc a
    * 0.0/1.0 label (1 = reference quality). Features are L1-
    * normalized per doc (x_b = count_b / n_features) so document
    * length does not saturate the sigmoid; feature-less docs train
    * the bias only.
    */
  def trainLogReg(docs: DataFrame, label: org.apache.spark.sql.Column,
      buckets: Int = 256, iterations: Int = 2, learningRate: Double = 4.0,
      idCol: String = "doc_id", textCol: String = "text"): LogRegModel =
    trainLogRegOn(docs, label, buckets, iterations, learningRate, idCol,
      textCol) { (model, _) => model }

  /** [[trainLogReg]] + [[scoreLogReg]] sharing ONE feature substrate:
    * the (doc_id, bucket, x) frame is the only text-consuming pass of
    * either phase, and the separate calls each paid it (a full
    * tokenize+hash scan of the corpus — measured ~30% of the p95
    * gate). Scoring from the SAME frame the trainer used changes
    * nothing semantically: the per-doc dot is the identical
    * (c/nf)·w expression, so scores differ from the two-call path
    * only by double summation order (~1e-16, inside the oracle's 6-dp
    * rounding like any Spark re-partitioning).
    */
  def trainAndScoreLogReg(docs: DataFrame, label: org.apache.spark.sql.Column,
      buckets: Int = 256, iterations: Int = 2, learningRate: Double = 4.0,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame =
    trainLogRegOn(docs, label, buckets, iterations, learningRate, idCol,
      textCol) { (model, xfeats) =>
      val spark = docs.sparkSession
      import spark.implicits._
      val wTable = broadcast(
        model.weights.toIndexedSeq.zipWithIndex
          .map { case (wv, i) => (i.toLong, wv) }.toDF("bucket", "__w"))
      val dots = xfeats.join(wTable, Seq("bucket"))
        .groupBy("doc_id")
        .agg(sum(col("x") * col("__w")).as("__dot"))
      docs.select(col(idCol).as("doc_id"))
        .join(dots, Seq("doc_id"), "left")
        .select(col("doc_id"),
          (lit(1.0) / (lit(1.0) +
            exp(-(coalesce(col("__dot"), lit(0.0)) + model.bias))))
            .as("score"))
    }

  /** Shared trainer: runs the GD loop, then hands (model, xfeats) to
    * `finish`. The feature frame is a [[graft.operators.SessionCache]]
    * cut, held until the harness releases it, so a scoring tail can
    * build its (lazy) plan on it.
    */
  private def trainLogRegOn[T](docs: DataFrame,
      label: org.apache.spark.sql.Column, buckets: Int, iterations: Int,
      learningRate: Double, idCol: String, textCol: String)(
      finish: (LogRegModel, DataFrame) => T): T = {
    require(iterations >= 1, s"iterations=$iterations must be >= 1")
    val spark = docs.sparkSession
    import spark.implicits._

    // cuts (round-18): the GD loop runs ~3 actions per
    // iteration, and each re-analyzes every plan that embeds these
    // frames — the LogicalRDD leaf keeps per-action planning flat
    val labeled = graft.operators.SessionCache.cut(
      docs.select(col(idCol).as("doc_id"),
        label.cast("double").as("__y")))
    val n = labeled.count() // exact — the gradient divisor
    require(n > 0, "empty training corpus")

    // (doc_id, bucket, x) with x = c / n_feats — computed once, the
    // only text-consuming pass of the whole training loop
    val counts = Dsir.hashedFeatureCounts(
      docs.select(col(idCol).as("doc_id"), col(textCol)), buckets,
      "doc_id", textCol)
    val nf = counts.groupBy("doc_id").agg(sum(col("c")).as("__nf"))
    val xfeats = graft.operators.SessionCache.cut(
      counts.join(nf, Seq("doc_id"))
        .select(col("doc_id"), col("bucket"),
          (col("c").cast("double") / col("__nf")).as("x")))

    var w = Array.fill(buckets)(0.0)
    var b = 0.0
    var it = 0
    while (it < iterations) {
      val wTable = broadcast(
        w.toIndexedSeq.zipWithIndex.map { case (wv, i) => (i.toLong, wv) }
          .toDF("bucket", "__w"))
      val dots = xfeats.join(wTable, Seq("bucket"))
        .groupBy("doc_id").agg(sum(col("x") * col("__w")).as("__dot"))
      val errFrame = labeled.join(dots, Seq("doc_id"), "left")
        .select(col("doc_id"),
          (lit(1.0) / (lit(1.0) +
            exp(-(coalesce(col("__dot"), lit(0.0)) + b))) - col("__y"))
            .as("__err"))
      // gradients: double sums ROUNDED THROUGH FLOAT (the oracle
      // contract), then one exact double division by n
      val (gradB, gradW) = graft.operators.SessionCache.scoped(errFrame) { errs =>
        (errs.agg(sum(col("__err")).cast("float")).head().getFloat(0),
          errs.join(xfeats, Seq("doc_id"))
            .groupBy("bucket")
            .agg(sum(col("__err") * col("x")).cast("float").as("g"))
            .collect().map(r => r.getLong(0).toInt -> r.getFloat(1)).toMap)
      }
      val w2 = w.clone()
      gradW.foreach { case (bk, g) =>
        w2(bk) = w2(bk) - learningRate * g.toDouble / n
      }
      w = w2
      b = b - learningRate * gradB.toDouble / n
      it += 1
    }
    val model = LogRegModel(w, b, buckets, learningRate, iterations)
    // labeled/xfeats are cuts: the harness releases their
    // blocks after the consuming action — which keeps the scoring
    // tail's lazy plan over xfeats valid until then (the round-17
    // handoff, now uniform for both finish paths)
    finish(model, xfeats)
  }

  /** The trained model as a PURE COLUMN EXPRESSION: score =
    * sigmoid(bias + Σ_f w[h(f)] / n_features), the per-occurrence
    * reading of the same dot product [[scoreLogReg]] computes at the
    * bucket grain (equal up to double summation order, ~1e-16 —
    * ClassifierSpec pins it). The weights inline as a bucket-indexed
    * ARRAY literal, so scoring is a STATELESS SCAN — no explode, no
    * shuffle, no join: it composes into any projection, pushes
    * through whole-stage codegen, and scores a STREAM without state
    * or output-mode constraints (st20). This is the deployment shape
    * of a quality filter at 100 TB — the model rides the plan, the
    * corpus never re-partitions to be judged.
    */
  def scoreExpr(model: LogRegModel,
      text: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
    val toks = TextAnalysis.tokens(text)
    val bigrams = when(size(toks) >= 2,
      zip_with(slice(toks, lit(1), size(toks) - 1),
        slice(toks, lit(2), size(toks) - 1),
        (a, bg) => concat(a, lit(" "), bg)))
      .otherwise(array().cast("array<string>"))
    val fs = concat(toks, bigrams)
    // weights as an ARRAY literal indexed by bucket: element_at on an
    // array is O(1), where a map literal's lookup scans its keys
    // linearly — O(buckets) per FEATURE, measured 3.3x at sf1 (st20)
    val wArr = array(model.weights.toIndexedSeq.map(lit(_)): _*)
    // h60 is a non-negative 60-bit hash, so plain % matches the
    // bucket id Dsir.hashedFeatureCounts assigns; +1 for element_at's
    // 1-based array indexing
    val dot = aggregate(fs, lit(0.0), (acc, f) =>
      acc + element_at(wArr,
        (graft.functions.Md5Hash.h60(f) % model.buckets.toLong).cast("int") + 1)) /
      size(fs)
    lit(1.0) / (lit(1.0) + exp(-(coalesce(dot, lit(0.0)) + model.bias)))
  }

  /** Score docs under a trained model: (idCol, score) with score =
    * sigmoid(bias + w · x). One feature pass + one broadcast join —
    * the filter is then `score >= threshold`. For a stateless
    * scan-only scorer (and the streaming path), use [[scoreExpr]].
    */
  def scoreLogReg(docs: DataFrame, model: LogRegModel,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val counts = Dsir.hashedFeatureCounts(
      docs.select(col(idCol).as("doc_id"), col(textCol)), model.buckets,
      "doc_id", textCol)
    val nf = counts.groupBy("doc_id").agg(sum(col("c")).as("__nf"))
    val wTable = broadcast(
      model.weights.toIndexedSeq.zipWithIndex
        .map { case (wv, i) => (i.toLong, wv) }.toDF("bucket", "__w"))
    val dots = counts.join(nf, Seq("doc_id"))
      .join(wTable, Seq("bucket"))
      .groupBy("doc_id")
      .agg(sum(col("c").cast("double") / col("__nf") * col("__w")).as("__dot"))
    docs.select(col(idCol).as("doc_id"))
      .join(dots, Seq("doc_id"), "left")
      .select(col("doc_id"),
        (lit(1.0) / (lit(1.0) +
          exp(-(coalesce(col("__dot"), lit(0.0)) + model.bias))))
          .as("score"))
  }
}
