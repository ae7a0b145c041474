package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, Trigger}

/** Incremental materialized-view maintenance — the streaming
  * companion of [[graft.plans.MaterializedAggregate]]: each
  * micro-batch reduces to ONE partial-aggregate row per grouping
  * combination it touches and commits them to the rollup's
  * `batch=<id>` partition. Append-only IVM for the derivable algebra
  * (SUM/COUNT partials are additive; MIN/MAX are monotone under
  * inserts — exactly the append-only crawl/tick workloads the engine
  * streams elsewhere). Updates stay out of contract; DELETES are
  * handled at the retention grain by [[retract]] (group-commuting
  * predicate → drop the matching partial rows), closing the
  * retention × maintained-MV composition.
  *
  * The maintained layout IS navigable by [[graft.plans.AggregateRewriteRule]]
  * with zero changes: the rule re-aggregates the rollup anyway
  * (SUM over sum_x, MIN over min_x, ...), so multiple partial rows
  * per group — one per batch that touched it — fold back to the
  * exact one-shot rollup. Maintenance cost per batch is
  * O(groups touched), not O(rollup); nothing ever rewrites history.
  *
  * Failure semantics: same replay-idempotent `batch=` discipline as
  * [[StreamingIndexDedup]] — a replayed micro-batch overwrites its
  * own partition with identical rows (partials are a pure function
  * of the batch), never double-counts.
  */
object StreamingMvMaintenance {

  /** One micro-batch, replay-idempotent. `distinctCols` adds the
    * per-batch HLL register partials (elementwise-max fold across
    * batches — the register arrays are as additive under the
    * navigation rule's re-aggregation as the sums are).
    */
  def processBatch(batch: DataFrame, batchId: Long, mvPath: String,
      groupCols: Seq[String], measureCols: Seq[String],
      distinctCols: Seq[String] = Nil, hllP: Int = 12,
      exprMeasures: Map[String, String] = Map.empty): Unit = {
    // same reserved-namespace guard as build/registration: a grouping
    // column named 'cnt' or sum_*/... would maintain fine and then be
    // silently sum-folded by compact()'s schema-driven classification
    graft.plans.MaterializedAggregate.validateReservedNames(
      groupCols, distinctCols)
    val aggs =
      measureCols.flatMap(c => Seq(
        sum(col(c)).as(s"sum_$c"),
        min(col(c)).as(s"min_$c"),
        max(col(c)).as(s"max_$c"),
        count(col(c)).as(s"nnz_$c"))) ++
      exprMeasures.toSeq.sortBy(_._1).flatMap { case (name, e) =>
        val x = expr(e)
        Seq(sum(x).as(s"sum_$name"), min(x).as(s"min_$name"),
          max(x).as(s"max_$name"), count(x).as(s"nnz_$name"))
      } ++
      distinctCols.map(d => graft.functions.SketchFunctions.hyperLogLog(
        graft.functions.Md5Hash.h60String(col(d)), hllP).as(s"hll_$d")) :+
      count(lit(1)).as("cnt")
    // the partial aggregate must never itself be NAVIGATED (a batch
    // whose lineage reaches a registered base would read the stale
    // rollup it is maintaining — circular); same guard as
    // MaterializedAggregate.build
    graft.plans.MvCatalog.withSuspended {
      graft.sources.BatchTable(mvPath).write(
        batch.groupBy(groupCols.map(col): _*).agg(aggs.head, aggs.tail: _*),
        batchId.toString)
    }
  }

  /** Fold the accumulated `batch=` partials into ONE batch —
    * periodic maintenance after many incremental days, closing the
    * IVM lifecycle: each maintained batch adds a partial-row set and
    * a directory, so an old rollup pays a listing + small-file tax
    * on every navigated read. Compaction re-aggregates the partials
    * (schema-driven: sum over the sum_, nnz_ and cnt columns, min
    * over min_, max over max_, elementwise-max register fold over
    * hll_) and
    * rewrites through [[graft.sources.BatchTable.compact]]'s write-aside
    * + directory-swap discipline (crash before the swap leaves the
    * live rollup untouched; between the renames, readers fail loudly
    * rather than serve half a rollup). Navigation answers
    * IDENTICALLY before and after — the rule re-aggregates partials
    * anyway, and every fold here is the same associative fold the
    * rule applies. Idempotent: re-running folds one batch to itself.
    *
    * `hllP` must match the registers' precision (the fold validates
    * array length and fails loudly on a mismatch). Registered
    * [[graft.plans.MaterializedAggregate.MvDef]]s captured BEFORE a
    * compaction hold the old file listing — re-register after
    * compacting (cheap: one schema read), same as after a rebuild.
    *
    * Returns the number of batch directories folded.
    */
  def compact(spark: org.apache.spark.sql.SparkSession, mvPath: String,
      hllP: Int = 12): Int =
    // suspended for the same reason as processBatch: the fold is an
    // aggregate over the rollup, which may itself be a registered
    // base in layered setups
    graft.plans.MvCatalog.withSuspended {
      graft.sources.BatchTable(mvPath).compact(spark, foldPartials(_, hllP)).head
    }

  /** RETRACTION — the delete half of the IVM lifecycle (round-12
    * verdict finding #1): after the base loses rows to a retention
    * delete ([[graft.Pipeline.runRetention]]'s partition drop), the
    * maintained rollup still aggregates them; this removes exactly
    * those partials so a subsequent re-registration re-arms
    * navigation with post-delete answers.
    *
    * Soundness rests on the same commutation the navigation rule
    * uses for filters: `predicateSql` may reference GROUPING columns
    * only. Every partial row of a group carries that group's single
    * tuple of grouping values, so "base rows deleted by P" maps
    * one-to-one onto "rollup groups where P holds" — dropping those
    * partial rows is EXACT for every registered aggregate (min/max
    * and the HLL registers included, because whole groups vanish —
    * the reason retraction is row-filtering rather than the negative
    * partials that couldn't retract min/max/sketches). A predicate
    * on a measure or on an aggregate column cannot commute and
    * REFUSES loudly.
    *
    * Retention deletes are partition-grained and rollup grouping
    * keys almost always include the partition column (snapshot_date
    * in the medallion) — the case where this applies directly. A
    * delete whose predicate is NOT expressible over the rollup's
    * grouping columns needs a full rebuild instead; the refusal
    * makes that explicit rather than approximate.
    *
    * Executed as a write-aside + directory-swap rewrite (the
    * [[graft.sources.BatchTable.compact]] discipline — crash-safe,
    * idempotent) that also compacts the surviving partials into one
    * `batch=compacted`. Returns the number of batch dirs folded.
    * Re-register the MvDef afterwards, same as after a compaction.
    */
  def retract(spark: org.apache.spark.sql.SparkSession, mvPath: String,
      predicateSql: String, hllP: Int = 12): Int = {
    val df = spark.read.parquet(mvPath)
    val analyzed = df.where(expr(predicateSql)).queryExecution.analyzed
    val cond = analyzed.collectFirst {
      case f: org.apache.spark.sql.catalyst.plans.logical.Filter => f.condition
    }.getOrElse(sys.error(s"could not resolve retraction predicate '$predicateSql'"))
    val names = df.schema.fieldNames.toSet
    def isAggCol(n: String): Boolean = n == "cnt" ||
      Seq("sum_", "min_", "max_", "nnz_", "hll_").exists(n.startsWith)
    val refs = cond.references.map(_.name).toSeq.distinct
    val bad = refs.filter(n => isAggCol(n) || n == "batch" || !names.contains(n))
    require(refs.nonEmpty && bad.isEmpty,
      s"retraction predicate '$predicateSql' must reference the rollup's " +
        s"GROUPING columns only (offending: ${bad.mkString(", ")}); a " +
        "predicate on measures or partials cannot commute with the " +
        "rollup — rebuild instead")
    graft.plans.MvCatalog.withSuspended {
      // keep rows where P is NOT TRUE — three-valued logic matters: a
      // NULL grouping value makes P NULL, and the base-side delete
      // ("remove rows WHERE P") keeps such rows, so the rollup must
      // keep their group too (bare `!P` would drop it)
      graft.sources.BatchTable(mvPath).compact(spark, d => foldPartials(
        d.where(!coalesce(expr(predicateSql), lit(false))), hllP)).head
    }
  }

  private[streaming] def foldPartials(df: DataFrame, hllP: Int): DataFrame = {
    val names = df.schema.fieldNames.toSeq
    def isAggCol(n: String): Boolean = n == "cnt" ||
      Seq("sum_", "min_", "max_", "nnz_", "hll_").exists(n.startsWith)
    val groupCols = names.filterNot(isAggCol)
    val aggs = names.filter(isAggCol).map {
      case n if n == "cnt" || n.startsWith("sum_") || n.startsWith("nnz_") =>
        sum(col(n)).as(n)
      case n if n.startsWith("min_") => min(col(n)).as(n)
      case n if n.startsWith("max_") => max(col(n)).as(n)
      case n => graft.functions.SketchFunctions.hllMergeAgg(col(n), hllP).as(n)
    }
    df.groupBy(groupCols.map(col): _*).agg(aggs.head, aggs.tail: _*)
      .select(names.map(col): _*)
  }

  /** Writer maintaining `mvPath` from a stream of fact rows. Caller
    * sets the checkpoint location and starts it.
    */
  def maintainer(facts: DataFrame, mvPath: String,
      groupCols: Seq[String], measureCols: Seq[String],
      distinctCols: Seq[String] = Nil, hllP: Int = 12,
      exprMeasures: Map[String, String] = Map.empty): DataStreamWriter[org.apache.spark.sql.Row] =
    facts.writeStream
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        processBatch(batch, batchId, mvPath, groupCols, measureCols,
          distinctCols, hllP, exprMeasures)
      }
      .trigger(Trigger.AvailableNow())
}
