package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.queries.TestdataAdapter._

/** Physical-plan property guards: the shapes that make these queries
  * scale (pushdown into the scan, column pruning, broadcast dim joins,
  * one shuffle per mart, TakeOrdered instead of full sorts) asserted
  * against `.explain`, so a future refactor that silently degrades the
  * plan fails CI, not the cluster.
  */
class PlanSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  private def planOf(df: DataFrame): String =
    df.queryExecution.executedPlan.toString

  test("serving filter is pushed down to the parquet scan") {
    val plan = Tables.lineitem(spark, dir)
      .where(col("l_partkey") === 42L)
      .select("l_partkey", "l_quantity")
      .queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters: [IsNotNull(l_partkey), EqualTo(l_partkey,42)]"),
      s"no pushdown in:\n$plan")
  }

  test("projection prunes the scan to the selected columns") {
    val plan = planOf(Tables.lineitem(spark, dir)
      .select(col("l_orderkey"), col("l_quantity")))
    // ReadSchema must not include unprojected wide columns
    assert(plan.contains("ReadSchema"), plan)
    assert(!plan.contains("l_comment"), s"unpruned scan:\n$plan")
  }

  test("G1: three exchanges (agg + median counts plan), median join adds none") {
    val g1 = gold.Marts.dailyMarketSummary(
      silverFromLineitem(spark, dir), dimsFromPart(spark, dir))
    g1.write.mode("overwrite").format("noop").save() // materialize AQE final plan
    val plan = g1.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), s"dim join not broadcast:\n$plan")
    // 1: grain-key shuffle of the main agg; 2: (keys, price)-grain
    // pre-agg of the median counts plan; 3: its window repartition to
    // (keys). The exact-median counts plan trades the builtin
    // median's per-group distinct-value MAP (serialized through one
    // exchange, hot-group heap risk) for two extra exchanges of
    // PRE-AGGREGATED rows — measured 2.5x faster at sf0.1. The
    // agg-median join itself must stay exchange-free (both sides
    // (keys)-partitioned).
    val shuffles = "Exchange hashpartitioning".r.findAllIn(plan).size
    assert(shuffles == 3, s"expected 3 hash exchanges, got $shuffles:\n$plan")
    assert(!plan.contains("SortMergeJoin"),
      s"median join degraded to a sorting join:\n$plan")
  }

  test("G2: one exchange, partial aggregation, no window exec") {
    val plan = planOf(gold.Marts.priceHistory(ticksFromEvents(spark, dir)))
    // min_by(struct) aggregates sort-based (struct buffer), but the
    // shape that matters holds: map-side partial agg, a single
    // grain-key exchange, and no WindowExec (the old double
    // opposite-order window needed two FULL sorts plus an extra
    // exchange of the un-aggregated ticks).
    assert(!plan.contains("Window"), s"window crept back into G2:\n$plan")
    assert(plan.contains("partial_min_by"), s"no partial agg:\n$plan")
    val shuffles = "Exchange hashpartitioning".r.findAllIn(plan).size
    assert(shuffles == 1, s"expected 1 exchange, got $shuffles:\n$plan")
  }

  test("G5: two hash aggregations, no window, no sort") {
    val plan = planOf(gold.Marts.marketConcentration(
      silverFromLineitem(spark, dir)))
    // the old window-min formulation sorted the whole fact table in
    // WindowExec; the (item,date,price) pre-agg + min_by shape is
    // sort-free and gets map-side combine on the first aggregation
    assert(!plan.contains("Window"), s"window crept back into G5:\n$plan")
    assert(!plan.contains("Sort "), s"sort in G5:\n$plan")
    assert(plan.contains("partial_"), s"no map-side partial agg:\n$plan")
  }

  test("serving top-k plans as TakeOrderedAndProject, not a full sort") {
    val g1 = gold.Marts.dailyMarketSummary(
      silverFromLineitem(spark, dir), dimsFromPart(spark, dir))
    val plan = planOf(serving.ServingLayer.dailySummary(g1, itemId = None, limit = 100))
    assert(plan.contains("TakeOrderedAndProject"), s"full sort in serving query:\n$plan")
  }

  test("date filter on partitioned silver prunes partitions at the scan") {
    val wh = java.nio.file.Files.createTempDirectory("graft-prune").toString
    val p = new Pipeline(spark, wh)
    p.ingest(java.time.LocalDate.parse("2026-02-13"), queries.Fixtures.day1Json)
    p.runSilver(java.time.LocalDate.parse("2026-02-13"))
    p.ingest(java.time.LocalDate.parse("2026-02-14"), queries.Fixtures.day2Json)
    p.runSilver(java.time.LocalDate.parse("2026-02-14"))
    val q = p.silver.where(col("snapshot_date") === lit("2026-02-14").cast("date"))
    val plan = q.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters"), s"no partition filters:\n$plan")
    assert(
      "PartitionFilters: \\[[^\\]]*snapshot_date".r.findFirstIn(plan).isDefined,
      s"snapshot_date not in partition filters:\n$plan")
    assert(q.count() === 2) // only day-2's new listings, day-1 files unread
  }

  test("G2 increment: created_at ranges reach the scan as PushedFilters on a backfill") {
    // backfill fixture: created_at does NOT correlate with
    // snapshot_date (each partition holds three different created_at
    // dates) — the scenario where relying on write-time correlation
    // for row-group skipping breaks down
    val days = Seq("2026-03-01", "2026-03-02", "2026-03-03")
    val rows = for {
      (snap, si) <- days.zipWithIndex
      (created, ci) <- days.zipWithIndex
    } yield (si * 10L + ci, java.sql.Timestamp.valueOf(s"$created 0$ci:30:00"),
      java.sql.Date.valueOf(snap))
    import spark.implicits._
    val path = java.nio.file.Files.createTempDirectory("graft-backfill").toString + "/silver"
    rows.toDF("id", "created_at", "snapshot_date")
      .sortWithinPartitions(col("snapshot_date"), col("created_at"))
      .write.partitionBy("snapshot_date").parquet(path)
    val table = spark.read.parquet(path)
    val barDates = Seq(java.sql.Date.valueOf("2026-03-02"))
    val q = table.where(Pipeline.createdAtRangeFilter(barDates))
    val plan = q.queryExecution.executedPlan.toString
    // plain comparisons push down; the old to_date(created_at) IN (...)
    // formulation leaves PushedFilters empty
    assert("PushedFilters: \\[[^\\]]*created_at".r.findFirstIn(plan).isDefined,
      s"created_at ranges not pushed to the scan:\n$plan")
    val old = table.where(to_date(col("created_at"))
      .isin(barDates: _*)).collect().map(_.getLong(0)).toSet
    assert(q.collect().map(_.getLong(0)).toSet === old)
    assert(old === Set(1L, 11L, 21L)) // one created_at-day row per partition
  }

  test("first-seen anti-join stays a join, not a driver-side collect") {
    val bronze = bronzeDailyFromEvents(spark, dir)
    val plan = planOf(silver.SilverTransform.firstSeenOnly(
      bronze, bronze.limit(10)))
    assert(plan.contains("LeftAnti"), s"anti-join missing:\n$plan")
  }

  test("dedup exact groups: partial aggregation before the exchange") {
    val docs = Tables.documents(spark, dir)
    val plan = planOf(pipeline.Dedup.exactDuplicateGroups(docs))
    // partial_count / partial min markers before Exchange = map-side combine
    assert(plan.contains("partial_"), s"no map-side partial agg:\n$plan")
  }

  test("dropExactDuplicates: no shuffled exchange carries the text column") {
    // the old Window.partitionBy(md5(text)) shape shuffled FULL TEXT
    // by content hash (hot-document partition skew + text sort); the
    // keeper/semi-join shape shuffles only (hash, id)
    // AQE's wrapper hides children from collect() on an unexecuted
    // QueryExecution — the foreach was vacuous (round-6 fix). Assert
    // on the concrete no-AQE plan, and require exchanges were FOUND.
    val docs = Tables.documents(spark, dir)
    withNoAqe {
      val q = pipeline.Dedup.dropExactDuplicates(docs)
      val shuffled = q.queryExecution.executedPlan.collect {
        case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
      }
      assert(shuffled.nonEmpty, "expected at least one exchange")
      shuffled.foreach { e =>
        assert(!e.output.map(_.name).contains("text"),
          s"text flows through a shuffle:\n${e.treeString}")
      }
      assert(q.count() > 0)
    }
  }

  test("line dedup: verdict stages shuffle hashes, never line text; text moves at most once") {
    // the dedup DECISION runs entirely over (doc_id, pos, h) — a line
    // repeated across the corpus costs its 60-bit hash in the shuffle,
    // not its characters; only the final per-doc reconstruction join
    // may move the document text, and only once
    val docs = Tables.documents(spark, dir)
    withNoAqe {
      val q = pipeline.Lines.dedupLines(docs)
      val shuffled = q.queryExecution.executedPlan.collect {
        case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
      }
      assert(shuffled.nonEmpty, "expected at least one exchange")
      shuffled.foreach { e =>
        assert(!e.output.map(_.name).contains("line"),
          s"line text flows through a shuffle:\n${e.treeString}")
      }
      val textShuffles = shuffled.count(_.output.map(_.name).contains("text"))
      assert(textShuffles <= 1, s"document text shuffles $textShuffles times")
    }
  }

  test("brute-force top-k: corpus side never shuffles (broadcast + TakeOrdered)") {
    val plan = planOf(pipeline.Similarity.bruteForceTopK(
      Tables.embeddings(spark, dir), queryId = 0L, k = 5))
    assert(plan.contains("TakeOrderedAndProject"), plan)
    assert(plan.contains("BroadcastNestedLoopJoin") || plan.contains("BroadcastExchange"),
      s"query vector not broadcast:\n$plan")
  }

  test("shingle scans run the native window generators, not interpreted HOFs") {
    val docs = Tables.documents(spark, dir)
    val charPlan = planOf(pipeline.Dedup.charShingles(docs, n = 5))
    assert(charPlan.contains("char_ngrams"), s"native char windows missing:\n$charPlan")
    assert(!charPlan.toLowerCase.contains("lambdafunction"),
      s"interpreted HOF crept back into char shingles:\n$charPlan")
    val wordPlan = planOf(pipeline.Dedup.wordShingles(docs, n = 3))
    assert(wordPlan.contains("word_ngrams"), s"native word windows missing:\n$wordPlan")
    assert(!wordPlan.toLowerCase.contains("lambdafunction"),
      s"interpreted HOF crept back into word shingles:\n$wordPlan")
  }

  test("materialized IVF index: probe filter prunes PARTITIONS at the scan") {
    val emb = Tables.embeddings(spark, dir)
    val centroids = pipeline.Similarity.sampleCentroids(emb, nlist = 4)
    val path = java.nio.file.Files.createTempDirectory("graft-ivf").toString + "/idx"
    pipeline.Similarity.writeIvfIndex(emb, centroids, path)
    val q = emb.where(col("vec_id") === 0L).select("embedding")
      .head().getSeq[Float](0).toArray
    val topk = pipeline.Similarity.ivfTopKIndexed(
      spark, path, centroids, q, k = 5, nprobe = 1)
    val plan = topk.queryExecution.executedPlan.toString
    assert("PartitionFilters: \\[[^\\]]*__cell".r.findFirstIn(plan).isDefined,
      s"probe cells not pruning partitions:\n$plan")
    assert(topk.count() > 0)
    // exactness within the probed cells: every cosine matches brute force
    val brute = pipeline.Similarity.bruteForceTopK(emb, 0L, 100).collect()
      .map(r => r.getAs[Long]("vec_id") -> r.getAs[Double]("cosine")).toMap
    topk.collect().filter(_.getAs[Long]("vec_id") != 0L).foreach { r =>
      assert(math.abs(r.getAs[Double]("cosine") - brute(r.getAs[Long]("vec_id"))) < 1e-9)
    }
  }

  test("sequence packing: ONE shuffle (by shard), never a single-partition window") {
    val docs = Tables.documents(spark, dir)
    val packed = pipeline.Packing.packSequences(docs, seqLen = 512, nShards = 8)
    val plan = planOf(packed)
    assert("Exchange hashpartitioning\\(shard".r.findAllIn(plan).size == 1,
      s"expected exactly one shuffle, by shard:\n$plan")
    // a global-order window would show SinglePartition here and
    // serialize the corpus through one task
    assert(!plan.contains("SinglePartition"),
      s"single-partition stage in packing plan:\n$plan")
    assert(packed.count() > 0)
  }

  test("evicted index read: tombstone subtraction broadcasts, the probe scan stays partition-pruned") {
    // the daily eviction fast path is O(removed ids) ONLY if the
    // anti-join broadcasts the tombstone side — a plan that instead
    // hash-repartitions the index to meet the anti-join would pay a
    // corpus-sized shuffle per query and void the whole design
    val dir2 = java.nio.file.Files.createTempDirectory("graft-plan-evict").toString + "/idx"
    val emb = Tables.embeddings(spark, dir)
    val centroids = pipeline.Similarity.sampleCentroids(emb, nlist = 8)
    pipeline.Similarity.writeIvfIndex(emb, centroids, dir2)
    pipeline.Similarity.ivfIndex(dir2).tombstone(
      emb.where(col("vec_id") % 7 === 0).select("vec_id"), "r")
    val qVec = emb.where(col("vec_id") === 0L)
      .select("embedding").head().getSeq[Float](0).toArray
    val q = pipeline.Similarity.ivfTopKIndexed(spark, dir2, centroids, qVec,
      k = 5, nprobe = 2)
    val plan = planOf(q)
    assert(plan.contains("BroadcastHashJoin") && plan.contains("LeftAnti"),
      s"tombstone subtraction is not a broadcast anti-join:\n$plan")
    // the probe's cell filter must still prune index partitions at
    // the scan — eviction must not break directory pruning
    assert(plan.contains("PartitionFilters: [__cell"),
      s"probe lost partition pruning under eviction:\n$plan")
    assert(q.count() > 0)
  }

  test("curation e2e: no shuffle exchange in the composed plan carries corpus text") {
    // the whole point of composing the six stages inside one lazy
    // plan (Curation.curateManifest): every stage verdict is an
    // id/hash-grain side that joins back onto the streaming corpus —
    // quality is a scan filter, dedup keepers/losers and the
    // contaminated set are id sets, the DSIR Gumbel-top-n sorts the
    // NARROW weights frame, and packing drops text in its projection
    // before the shard window. A regression in any stage's wiring
    // (e.g. joining weights onto the corpus before the top-n) would
    // put text back into an exchange and fail here.
    val docs = Tables.documents(spark, dir)
    withNoAqe {
      val q = pipeline.Curation.curateManifest(
        docs.where(col("doc_id") % 50 =!= 0),
        docs.where(col("doc_id") % 50 === 0),
        // cache = false: a cached verdict frame would hide its
        // subtree's exchanges from this plan walk
        pipeline.Curation.Config(contaminationN = 4, sampleN = 20,
          cache = false))
      val shuffled = q.queryExecution.executedPlan.collect {
        case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
      }
      assert(shuffled.nonEmpty, "expected at least one exchange")
      shuffled.foreach { e =>
        assert(!e.output.map(_.name).contains("text"),
          s"text flows through a shuffle:\n${e.treeString}")
      }
      // the DSIR top-n must be a TakeOrdered over the narrow weights
      // frame, never a global sort
      val plan = q.queryExecution.executedPlan.toString
      assert(plan.contains("TakeOrderedAndProject"),
        s"expected TakeOrderedAndProject for the Gumbel top-n:\n$plan")
      assert(q.count() > 0)
    }
  }

  test("LSH bucket assignment is the codegen'd dot, not an interpreted fold") {
    val plan = planOf(pipeline.Similarity.lshTopK(
      Tables.embeddings(spark, dir), queryId = 0L, k = 5, bits = 4))
    assert(plan.contains("float_vector_dot"), s"native dot missing:\n$plan")
    assert(!plan.toLowerCase.contains("lambdafunction"),
      s"interpreted fold crept back into bucket assignment:\n$plan")
  }

  test("as-of join: ONE exchange, no join operator (union + carry-forward window)") {
    // the quadratic alternative (range-condition join + per-pair max)
    // would show a Join node and a pair blowup; the carry-forward
    // shape is exactly one hash exchange + one sort
    val ev = Tables.events(spark, dir)
    val purchases = ev.where(col("event_type") === "purchase")
      .select("event_id", "user_id", "ts")
    val views = ev.where(col("event_type") === "view")
      .select("event_id", "user_id", "ts", "value")
    // AQE's wrapper hides the tree from collect() until execution —
    // assert on the concrete plan instead
    withNoAqe {
      val q = operators.Asof.joinAsOf(purchases, views, Seq("user_id"),
        "ts", "ts", "event_id")
      val plan = q.queryExecution.executedPlan
      val exchanges = plan.collect {
        case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
      }
      val joins = plan.collect {
        case j: org.apache.spark.sql.execution.joins.BaseJoinExec => j
      }
      assert(exchanges.size === 1, s"expected 1 exchange:\n$plan")
      assert(joins.isEmpty, s"unexpected join operator:\n$plan")
      assert(q.count() > 0)
    }
  }

  test("rarity terms: no shuffled exchange carries the document text") {
    // tf/df/rank move (doc_id, term, counts) grains; the corpus text
    // itself is consumed in the scan projection and never shuffled
    withNoAqe {
      val q = pipeline.TextAnalysis.topRarityTerms(
        Tables.documents(spark, dir), n = 5)
      val shuffled = q.queryExecution.executedPlan.collect {
        case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
      }
      assert(shuffled.nonEmpty)
      shuffled.foreach { e =>
        assert(!e.output.map(_.name).contains("text"),
          s"text flows through a shuffle:\n${e.treeString}")
      }
    }
  }

  test("KMV sketch: partial aggregation before the exchange (bounded map-side state)") {
    // the native aggregate must plan as partial -> exchange -> final,
    // proving the <= k-longs-per-key partials cross the wire, not the
    // full distinct-hash stream of the declarative dedup+window plan
    val docs = Tables.documents(spark, dir)
    val q = docs.select(col("source"),
        explode(pipeline.TextAnalysis.tokens(col("text"))).as("tok"))
      .select(col("source"),
        conv(substring(md5(col("tok")), 1, 15), 16, 10).cast("long").as("h"))
      .groupBy("source")
      .agg(functions.SketchFunctions.kminValues(col("h"), 16).as("s"))
    q.write.mode("overwrite").format("noop").save()
    val plan = q.queryExecution.executedPlan.toString
    val partialIdx = plan.indexOf("partial_kmin_values")
    val exchangeIdx = plan.indexOf("Exchange hashpartitioning")
    assert(partialIdx >= 0, s"no partial aggregation:\n$plan")
    assert(exchangeIdx >= 0, s"no hash exchange:\n$plan")
    // tree prints top-down: final agg, then the exchange, then the
    // map-side partial — partial BELOW the exchange == before the wire
    assert(partialIdx > exchangeIdx,
      s"partial kmin_values should sit below the exchange:\n$plan")
  }

  test("Count-Min sketch: partial aggregation before the exchange (fixed-grid partials)") {
    // same contract as the KMV plan proof: the grid must build
    // map-side and cross the wire as one depth*width array per
    // (partition, key), never as the raw token stream
    val docs = Tables.documents(spark, dir)
    val q = docs.select(col("source"),
        explode(pipeline.TextAnalysis.tokens(col("text"))).as("tok"))
      .select(col("source"),
        conv(substring(md5(col("tok")), 1, 15), 16, 10).cast("long").as("h"))
      .groupBy("source")
      .agg(functions.SketchFunctions.countMin(col("h"), 4, 64).as("s"))
    q.write.mode("overwrite").format("noop").save()
    val plan = q.queryExecution.executedPlan.toString
    val partialIdx = plan.indexOf("partial_count_min")
    val exchangeIdx = plan.indexOf("Exchange hashpartitioning")
    assert(partialIdx >= 0, s"no partial aggregation:\n$plan")
    assert(exchangeIdx >= 0, s"no hash exchange:\n$plan")
    assert(partialIdx > exchangeIdx,
      s"partial count_min should sit below the exchange:\n$plan")
  }

  test("top-k by score: partial aggregation before the exchange (bounded k-pair partials)") {
    // the quality-cap selector must plan partial -> exchange -> final:
    // map-side partials hold <= k (score, key) pairs per stratum and
    // the wire moves O(strata x k) — never the full row stream the
    // window form shuffles and sorts
    val docs = Tables.documents(spark, dir)
    val scored = pipeline.TextAnalysis.qualityFeatures(docs)
      .select(col("source"), col("doc_id"), col("quality_score"))
    val q = pipeline.Sampling.topKByStratum(
      scored, "source", "quality_score", "doc_id", 5)
    q.write.mode("overwrite").format("noop").save()
    val plan = q.queryExecution.executedPlan.toString
    val partialIdx = plan.indexOf("partial_top_k_by_score")
    val exchangeIdx = plan.indexOf("Exchange hashpartitioning")
    assert(partialIdx >= 0, s"no partial aggregation:\n$plan")
    assert(exchangeIdx >= 0, s"no hash exchange:\n$plan")
    assert(partialIdx > exchangeIdx,
      s"partial top_k_by_score should sit below the exchange:\n$plan")
    assert(!plan.contains("WindowExec"), s"degraded to a window sort:\n$plan")
  }

  test("adaptive spread filter: bounds broadcast onto the scan, no sorting join") {
    // the groups-sized bounds frame must reach the corpus through a
    // BroadcastHashJoin — the corpus branch itself never shuffles for
    // the filter; only the narrow reservoir frames cross exchanges
    val docs = Tables.documents(spark, dir)
      .select(col("lang"), col("doc_id"), col("n_chars"))
    val q = pipeline.Sampling.adaptiveSpreadFilter(
      docs, "lang", "n_chars", "doc_id", k = 16, loQ = 0.1, hiQ = 0.9,
      salt = "plan")
    q.write.mode("overwrite").format("noop").save()
    val plan = q.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"),
      s"bounds join not broadcast:\n$plan")
    assert(!plan.contains("SortMergeJoin"),
      s"bounds join degraded to a sorting join:\n$plan")
    assert(plan.contains("partial_reservoir_keys"),
      s"reservoir not map-side partial:\n$plan")
  }

  test("p109 recipe pipeline: no exchange carries the text column") {
    // the composed assemble-the-training-set chain consumes text AT
    // THE SCAN (quality features) and every later stage — k-anon
    // combo join, top-k cap, length bounds, epoch rates, batch ranks
    // — is narrow-column algebra; a refactor that lets text reach a
    // shuffle (e.g. suppress-before-score) re-creates the corpus-
    // sized exchange this composition exists to avoid. The audit
    // DESCENDS INTO CACHED SUBTREES: InMemoryTableScanExec is a leaf,
    // so a plain collect would miss any exchange hidden in the cached
    // relation's build plan — exactly where a suppress-before-score
    // regression would put the text shuffle.
    def allShuffles(p: org.apache.spark.sql.execution.SparkPlan)
        : Seq[org.apache.spark.sql.execution.exchange.ShuffleExchangeExec] =
      p.collect {
        case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec =>
          Seq(e)
        case m: org.apache.spark.sql.execution.columnar.InMemoryTableScanExec =>
          allShuffles(m.relation.cachedPlan)
      }.flatten
    withNoAqe {
      val q = SparkEntry.queries("p109_recipe_e2e")(spark, dir)
      val shuffled = allShuffles(q.queryExecution.executedPlan)
      assert(shuffled.nonEmpty, "expected at least one exchange")
      shuffled.foreach { e =>
        assert(!e.output.map(_.name).contains("text"),
          s"text flows through a shuffle:\n${e.treeString}")
      }
      assert(q.count() > 0)
    }
  }

  test("HLL sketch: partial aggregation before the exchange (2^p-byte partials)") {
    // same contract as the KMV/Count-Min plan proofs: registers build
    // map-side and cross the wire as one 2^p-byte buffer per
    // (partition, key), never as the raw hash stream
    val docs = Tables.documents(spark, dir)
    val q = docs.select(col("source"),
        explode(pipeline.TextAnalysis.tokens(col("text"))).as("tok"))
      .select(col("source"),
        conv(substring(md5(col("tok")), 1, 15), 16, 10).cast("long").as("h"))
      .groupBy("source")
      .agg(functions.SketchFunctions.hyperLogLog(col("h"), 4).as("s"))
    q.write.mode("overwrite").format("noop").save()
    val plan = q.queryExecution.executedPlan.toString
    val partialIdx = plan.indexOf("partial_hyper_log_log")
    val exchangeIdx = plan.indexOf("Exchange hashpartitioning")
    assert(partialIdx >= 0, s"no partial aggregation:\n$plan")
    assert(exchangeIdx >= 0, s"no hash exchange:\n$plan")
    assert(partialIdx > exchangeIdx,
      s"partial hyper_log_log should sit below the exchange:\n$plan")
  }

  test("G8 rollup: ONE Expand + one exchange — grouping sets share a single scan") {
    withNoAqe {
      val q = gold.Marts.classQualityRollup(
        silverFromLineitem(spark, dir), dimsFromPart(spark, dir))
      val plan = q.queryExecution.executedPlan.toString
      val expands = plan.linesIterator.count(_.contains("Expand ["))
      val exchanges = plan.linesIterator.count(_.contains("Exchange hashpartitioning"))
      assert(expands === 1, s"expected one Expand:\n$plan")
      assert(exchanges === 1, s"expected one hash exchange:\n$plan")
      assert(plan.contains("partial_count") || plan.contains("partial"),
        s"no map-side partials:\n$plan")
    }
  }

  test("navigated ROLLUP: Expand replays over the rollup scan — one exchange, fact gone") {
    withNoAqe {
      // the MV rule's grouping-sets rewrite keeps the canonical
      // grouping-sets physical shape (Scan -> Expand -> partial agg
      // -> ONE exchange -> final agg), just over the rollup instead
      // of the fact: replication cost moves from |fact| x sets to
      // |groups| x sets
      graft.plans.MvCatalog.clear()
      val tmp = java.nio.file.Files.createTempDirectory("plan_rollnav")
      val mvPath = tmp.resolve("mv.parquet").toString
      val base = s"$dir/lineitem.parquet"
      graft.plans.MaterializedAggregate.buildAndRegister(spark, base,
        mvPath, Seq("l_returnflag", "l_linestatus"), Seq("l_quantity"))
      try {
        val q = spark.read.parquet(base)
          .rollup(col("l_returnflag"), col("l_linestatus"))
          .agg(sum("l_quantity").as("s"), count(lit(1)).as("n"))
        val plan = q.queryExecution.executedPlan.toString
        assert(plan.contains("mv.parquet") && !plan.contains("lineitem.parquet"),
          s"rollup not navigated:\n$plan")
        assert(plan.linesIterator.count(_.contains("Expand [")) === 1,
          s"expected the replayed Expand:\n$plan")
        assert(plan.linesIterator
          .count(_.contains("Exchange hashpartitioning")) === 1,
          s"expected one hash exchange:\n$plan")
        assert(plan.contains("partial_sum"),
          s"no map-side partials over the rollup:\n$plan")
      } finally graft.plans.MvCatalog.clear()
    }
  }

  test("filtered IVF: the metadata predicate reaches the index scan as a pushed filter") {
    // p140's mechanism — pre-filtering the probe scan keeps IVF's
    // within-cell exactness AND lets a pushable predicate prune at
    // the parquet reader, so a selective filtered search reads a
    // fraction of even the probed cells
    val emb = Tables.embeddings(spark, dir)
    val centroids = pipeline.Similarity.sampleCentroids(emb, nlist = 16)
    val path = java.nio.file.Files.createTempDirectory("graft-plan-fivf")
      .toString + "/ivf"
    pipeline.Similarity.writeIvfIndex(emb, centroids, path)
    val qVec = emb.where(col("vec_id") === 0L)
      .select("embedding").head().getSeq[Float](0).toArray
    val q = pipeline.Similarity.ivfTopKIndexed(spark, path, centroids,
      qVec, k = 10, nprobe = 4, filter = Some(col("vec_id") >= 100L))
    val scan = q.queryExecution.executedPlan.collect {
      case s: org.apache.spark.sql.execution.FileSourceScanExec => s
    }
    assert(scan.nonEmpty)
    val pushed = scan.map(_.metadata.getOrElse("PushedFilters", "")).mkString
    assert(pushed.contains("GreaterThanOrEqual(vec_id,100)"),
      s"predicate not pushed to the index scan: $pushed")
    assert(q.count() > 0)
  }

  test("shard-export manifest: read-back scan prunes to the aggregated columns") {
    val path = java.nio.file.Files.createTempDirectory("graft-plan-shards")
      .toString + "/export"
    val manifest = pipeline.Packing.writeShards(
      Tables.documents(spark, dir), nShards = 4, path = path)
    val plan = planOf(manifest)
    // the manifest aggregates counts/ids/hashes — the wide text column
    // must not be read back from the shard files
    assert(!plan.contains("text"), s"unpruned read-back scan:\n$plan")
    assert(manifest.count() > 0)
  }

  test("IVF assignment: production-scale centroid set broadcasts as data, never inlines") {
    val emb = Tables.embeddings(spark, dir)
    // 300 x 64 = 19200 scalars > the inline budget: the centroids must
    // ride as a broadcast relation, not expression-tree literals (the
    // literal shape blows past JIT/codegen method limits at real
    // nlist x dim and silently degrades to interpreted)
    val big = Array.tabulate(300)(i =>
      i.toLong -> Array.tabulate(64)(d => ((i * 31 + d) % 7 - 3).toFloat))
    val bigPlan = planOf(pipeline.Similarity.assignCells(emb, big, "embedding"))
    assert(bigPlan.contains("BroadcastExchange") ||
      bigPlan.contains("BroadcastNestedLoopJoin"),
      s"large centroid set not broadcast:\n$bigPlan")
    // ...and the gate-scale shape keeps the pure-codegen literal path
    // (no join at all in the assignment fragment)
    val smallPlan = planOf(
      pipeline.Similarity.assignCells(emb, big.take(16), "embedding"))
    assert(!smallPlan.contains("BroadcastExchange") &&
      !smallPlan.contains("Join"),
      s"small centroid set lost the literal codegen shape:\n$smallPlan")
  }

  test("PQ ADC scoring: codegen'd subspace dots, no join or shuffle for the lookups") {
    val q = pipeline.Quantization.pqTopK(
      Tables.embeddings(spark, dir), queryId = 0L, k = 5, m = 8, ksub = 16)
    val plan = planOf(q)
    assert(plan.contains("float_vector_dot"), s"native dot missing:\n$plan")
    // ADC tables ride in the expression as literal maps: scoring must
    // stay a scan + TakeOrdered, never join the codebook
    assert(!plan.contains("Join"), s"ADC lookup became a join:\n$plan")
    assert(plan.contains("TakeOrderedAndProject"), s"full sort for top-k:\n$plan")
  }

  test("batched LSH search: query probe side broadcast, bucket join never sort-merge") {
    val emb = Tables.embeddings(spark, dir)
    val qs = emb.where(col("vec_id") % 31 === 0)
      .select(col("vec_id").as("query_id"), col("embedding").as("query_vec"))
    val res = pipeline.Similarity.lshSearchAll(emb, qs, k = 5, bits = 4,
      dim = Some(64))
    res.write.mode("overwrite").format("noop").save()
    val plan = res.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastExchange"), s"probe side not broadcast:\n$plan")
    assert(!plan.contains("SortMergeJoin"),
      s"bucket join degraded to sort-merge:\n$plan")
    assert(plan.contains("float_vector_dot"), s"native dot missing:\n$plan")
  }

  test("batched IVF search: probe set and queries broadcast, corpus never re-scanned per query") {
    val emb = Tables.embeddings(spark, dir)
    val centroids = pipeline.Similarity.sampleCentroids(emb, nlist = 8)
    val qs = emb.where(col("vec_id") % 31 === 0)
      .select(col("vec_id").as("query_id"), col("embedding").as("query_vec"))
    val res = pipeline.Similarity.ivfSearchAll(emb, qs, centroids, k = 5, nprobe = 2)
    res.write.mode("overwrite").format("noop").save()
    val plan = res.queryExecution.executedPlan.toString
    val broadcasts = plan.linesIterator.count(_.contains("BroadcastExchange"))
    assert(broadcasts >= 2, s"probe/query sides not broadcast:\n$plan")
    assert(!plan.contains("SortMergeJoin"),
      s"candidate join degraded to sort-merge:\n$plan")
  }

  test("hard negatives: query batch broadcast, ONE corpus scan, native dot") {
    val emb = Tables.embeddings(spark, dir)
    val qs = emb.where(col("vec_id") % 50 === 0)
      .select(col("vec_id").as("query_id"),
        col("embedding").as("query_vec"), col("label").as("query_label"))
    val res = pipeline.Similarity.hardNegatives(emb, qs, k = 5)
    res.write.mode("overwrite").format("noop").save()
    val plan = res.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastExchange"), s"queries not broadcast:\n$plan")
    assert(!plan.contains("CartesianProduct"),
      s"query join degraded to a cartesian shuffle:\n$plan")
    assert(plan.contains("float_vector_dot"), s"native dot missing:\n$plan")
    // exactly two parquet scans: the corpus pass + the (filtered)
    // query-batch extraction — per-query work rides the broadcast,
    // never a per-query corpus re-scan
    val scans = plan.linesIterator
      .count(l => l.contains("FileScan parquet") && l.contains("embeddings"))
    assert(scans == 2, s"expected corpus + query scans, got $scans:\n$plan")
  }

  test("semDedup: centroid join broadcast, no cartesian anywhere") {
    val emb = Tables.embeddings(spark, dir)
    val res = pipeline.Similarity.semDedup(emb, nlist = 8, eps = 0.3,
      dim = Some(64))
    res.write.mode("overwrite").format("noop").save()
    val plan = res.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"),
      s"pairing degraded to a cartesian product:\n$plan")
    // the centroid join sits inside semDedup's lineage-cut `celled`
    // substrate (round-18 pinCut), so the output plan shows a
    // LogicalRDD leaf; assert the broadcast on the same fragment the
    // operator builds (assignCells + broadcast centroid attach)
    val centroids = pipeline.Similarity.sampleCentroids(emb, nlist = 8)
    val frag = pipeline.Similarity.assignCells(
      emb.select(col("vec_id"), col("embedding")), centroids,
      "embedding", "cell")
    val fragPlan = frag.queryExecution.executedPlan.toString
    assert(!fragPlan.contains("CartesianProduct"),
      s"cell assignment degraded to a cartesian product:\n$fragPlan")
    assert(plan.contains("ExistingRDD") || plan.contains("LogicalRDD") ||
      plan.contains("Scan ExistingRDD"),
      s"expected the lineage-cut celled substrate in:\n$plan")
  }

  test("fuzzy decontamination: benchmark fingerprints broadcast, text never shuffles") {
    val docs = Tables.documents(spark, dir)
    withNoAqe {
      val q = pipeline.Contamination.fingerprintOverlap(
        docs.where(col("doc_id") % 50 =!= 0),
        docs.where(col("doc_id") % 50 === 0))
      val shuffled = q.queryExecution.executedPlan.collect {
        case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
      }
      assert(shuffled.nonEmpty, "expected at least one exchange")
      shuffled.foreach { e =>
        assert(!e.output.map(_.name).contains("text"),
          s"text flows through a shuffle:\n${e.treeString}")
      }
      val plan = q.queryExecution.executedPlan.toString
      assert(plan.contains("BroadcastExchange"),
        s"benchmark fingerprint set not broadcast:\n$plan")
      assert(q.count() > 0)
    }
  }

  test("novelty curve: first-seen is an aggregation, never a corpus window; text stays out of shuffles") {
    val docs = Tables.documents(spark, dir)
    withNoAqe {
      val q = pipeline.Dedup.noveltyCurve(pipeline.Dedup.wordShingles(docs))
      val plan = q.queryExecution.executedPlan.toString
      assert(!plan.contains("Window"),
        s"a window crept into the first-seen plan:\n$plan")
      val shuffled = q.queryExecution.executedPlan.collect {
        case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
      }
      assert(shuffled.nonEmpty, "expected at least one exchange")
      shuffled.foreach { e =>
        assert(!e.output.map(_.name).contains("text"),
          s"text flows through a shuffle:\n${e.treeString}")
      }
      assert(q.count() > 0)
    }
  }

  test("reservoir sampler: partial aggregation before the exchange (O(k) partials)") {
    // the native reservoir must plan partial -> exchange -> final:
    // at most k (rank, key) pairs per stratum cross the wire, where
    // the window formulation ships and sorts the whole stratum
    val docs = Tables.documents(spark, dir)
    val q = pipeline.Sampling.fixedSizeStratifiedAgg(
      docs, stratumCol = "source", k = 5, keyCol = "doc_id")
    q.write.mode("overwrite").format("noop").save()
    val plan = q.queryExecution.executedPlan.toString
    val partialIdx = plan.indexOf("partial_reservoir_keys")
    val exchangeIdx = plan.indexOf("Exchange hashpartitioning")
    assert(partialIdx >= 0, s"no partial aggregation:\n$plan")
    assert(exchangeIdx >= 0, s"no hash exchange:\n$plan")
    assert(partialIdx > exchangeIdx,
      s"partial reservoir_keys should sit below the exchange:\n$plan")
    assert(!plan.contains("Window"), s"window crept back in:\n$plan")
  }

  test("DSIR weights: no shuffle carries text or feature strings; deltas broadcast") {
    // the first exchange must already be at the (doc_id, bucket) long
    // grain — feature strings live only inside the narrow explode→hash
    // projection, and the 256-row log-ratio table rides a broadcast
    val docs = Tables.documents(spark, dir)
    withNoAqe {
      val q = pipeline.Dsir.importanceWeights(docs,
        docs.where(col("source") === "src0"), buckets = 64)
      val shuffled = q.queryExecution.executedPlan.collect {
        case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
      }
      assert(shuffled.nonEmpty, "expected at least one exchange")
      shuffled.foreach { e =>
        val names = e.output.map(_.name)
        assert(!names.contains("text") && !names.contains("__f"),
          s"text/features flow through a shuffle:\n${e.treeString}")
      }
      val plan = q.queryExecution.executedPlan.toString
      assert(plan.contains("BroadcastExchange"),
        s"bucket-delta table not broadcast:\n$plan")
      assert(q.count() > 0)
    }
  }

  test("BM25: query-term filter lands before the first exchange; df and stats broadcast") {
    val docs = Tables.documents(spark, dir)
    withNoAqe {
      val q = pipeline.TextAnalysis.bm25Scores(docs, Seq("spark", "dup"))
      val shuffled = q.queryExecution.executedPlan.collect {
        case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
      }
      assert(shuffled.nonEmpty, "expected at least one exchange")
      shuffled.foreach { e =>
        val names = e.output.map(_.name)
        assert(!names.contains("text") && !names.contains("__w"),
          s"text/token arrays flow through a shuffle:\n${e.treeString}")
      }
      val plan = q.queryExecution.executedPlan.toString
      assert(plan.contains("BroadcastExchange"),
        s"df/stats tables not broadcast:\n$plan")
      assert(q.count() > 0)
    }
  }

  test("pixel dedup: payload bytes never shuffle — only (md5, id) crosses an exchange") {
    // the image-content dedup decision is made from 32-char hashes
    // computed in the scan task; a plan that shuffles the payload
    // column moves the entire image corpus over the wire
    import spark.implicits._
    val media = (0L until 64L).toDF("media_id")
      .as[Long]
      .mapPartitions(ids => ids.map(id =>
        (id, pipeline.Multimodal.syntheticPng(id % 8, 8, 8))))
      .toDF("media_id", "payload")
    withNoAqe {
      val q = pipeline.Multimodal.dedupByPixelHash(media)
      val shuffled = q.queryExecution.executedPlan.collect {
        case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
      }
      assert(shuffled.nonEmpty, "expected at least one exchange")
      shuffled.foreach { e =>
        assert(!e.output.map(_.name).contains("payload"),
          s"payload bytes flow through a shuffle:\n${e.treeString}")
      }
      assert(q.count() === 64L)
    }
  }

  test("PageRank iteration: keyed integer sums only — no window, no global sort") {
    // one round = join ranks onto edges + one map-side-combinable
    // integer sum keyed by dst; a window or global sort in the loop
    // body would serialize the whole vertex set per round at 100 TB
    import spark.implicits._
    val edges = (0L until 256L).map(i => (i, (i * 7 + 3) % 256)).toDF("src", "dst")
    withNoAqe {
      val q = pipeline.LinkGraph.pageRankUnits(edges, iterations = 2,
        scale = 1000L, checkpoint = false)
      val plan = q.queryExecution.executedPlan.toString
      assert(!plan.contains("Window"), s"window in the rank loop:\n$plan")
      // the only Sort allowed is inside SortMergeJoin; no global
      // (single-partition) ordering anywhere
      assert(!plan.contains("rangepartitioning"),
        s"global sort in the rank loop:\n$plan")
      val partials = q.queryExecution.executedPlan.collect {
        case h: org.apache.spark.sql.execution.aggregate.HashAggregateExec
            if h.toString.contains("partial_sum") => h
      }
      assert(partials.nonEmpty, "contribution sum has no map-side partials")
      assert(q.count() === 256L)
    }
  }

  test("pair curation: payload bytes never shuffle; caption branch prunes payload at the scan") {
    import spark.implicits._
    val pairs = (0L until 48L).toDF("pair_id")
      .as[Long]
      .mapPartitions(ids => ids.map(id =>
        (id, pipeline.Multimodal.syntheticPng(id % 6, 8, 8),
          s"a synthetic caption claiming 8x8 id $id")))
      .toDF("pair_id", "payload", "caption")
    // write to parquet so column pruning is observable at a real scan
    val pdir = java.nio.file.Files.createTempDirectory("plan_pairs")
      .resolve("pairs.parquet").toString
    pairs.write.mode("overwrite").parquet(pdir)
    withNoAqe {
      val q = pipeline.Multimodal.pairCuration(spark.read.parquet(pdir))
      val shuffled = q.queryExecution.executedPlan.collect {
        case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
      }
      assert(shuffled.nonEmpty, "expected at least one exchange")
      shuffled.foreach { e =>
        assert(!e.output.map(_.name).contains("payload"),
          s"payload bytes flow through a shuffle:\n${e.treeString}")
      }
      // the caption-side scan must not read the payload column
      val scans = q.queryExecution.executedPlan.collect {
        case s: org.apache.spark.sql.execution.FileSourceScanExec =>
          s.requiredSchema.fieldNames.toSeq
      }
      assert(scans.exists(!_.contains("payload")),
        s"caption branch reads payloads: $scans")
      assert(q.count() === 48L)
    }
  }

  test("excision: coverage join shuffles (doc, pos) pairs; text moves at most once") {
    val docs = Tables.documents(spark, dir)
    withNoAqe {
      val q = pipeline.Contamination.exciseOverlaps(
        docs.where(col("doc_id") % 50 =!= 0),
        docs.where(col("doc_id") % 50 === 0), n = 4)
      val shuffled = q.queryExecution.executedPlan.collect {
        case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
      }
      assert(shuffled.nonEmpty, "expected at least one exchange")
      // benchmark grams must ride a broadcast, not a shuffle join
      assert(q.queryExecution.executedPlan.toString
        .contains("BroadcastExchange"), "benchmark side not broadcast")
      val textShuffles = shuffled.count { e =>
        val n = e.output.map(_.name)
        n.contains("text") || n.contains("clean_text")
      }
      assert(textShuffles <= 1, s"text shuffles $textShuffles times")
      assert(q.count() > 0)
    }
  }
}
